"""Driver simulation: the real t2 gate, run locally.

Builds a PLAIN SparkSession (no repo conf — exactly what the driver
hands ``__spark_entry__``), applies ``session.tune`` the way the entry
module does, then runs ``tests.parity.check_query`` over every
CANONICAL registry slot at sf0.01 (the driver's correctness scale).

Run: python scripts/driver_sim.py [sf_dir [cores [k=v ...]]]
Trailing ``k=v`` pairs are runtime SQL conf overrides routed through
``SPARK_GRAFT_CONF_OVERRIDES`` so every internal ``tune()``
re-application keeps them (a bare ``conf.set`` after session build is
silently undone by register_tables' tune call). The plan-variance
gates (run_gates ``aqeoff`` / ``nobroadcast``) use this to re-run the
whole oracle sweep with AQE disabled / statistics-driven broadcasts
disabled: every canonical result must be invariant to the
physical-plan strategy Spark picks (at 100 TB, AQE re-plans and join
strategies differ run to run).
Exit 0 iff every canonical slot passes its value-hash oracle (or is
rows-only by design, which the canonical set no longer contains).
"""
from __future__ import annotations

import os
import sys
import time

# Anchor imports on the script location, not the cwd (ADVICE r3).
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)
sys.path.insert(0, os.path.join(REPO_ROOT, "tests"))

from pyspark.sql import SparkSession

from hive_plan_service_spark.session import tune
from hive_plan_service_spark.plans.registry import CANONICAL, all_queries
from parity import check_query

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
# second arg: core count (default 32 — the driver's likely local[*]).
# Running the same gate at a different parallelism certifies that every
# canonical result is reproduction-independent of cluster layout.
cores = sys.argv[2] if len(sys.argv) > 2 else "32"
# ``builder:k=v`` pairs are STATIC conf (serializer, off-heap memory)
# that must be set before the JVM-side SparkContext exists; plain
# ``k=v`` pairs stay runtime overrides routed through tune(). Each
# run_gates gate is its own subprocess, so builder conf genuinely
# applies (getOrCreate cannot hand back a pre-existing context here).
builder_conf: list[tuple[str, str]] = []
runtime_conf: list[str] = []
for arg in sys.argv[3:]:
    if arg.startswith("builder:"):
        k, _, v = arg[len("builder:"):].partition("=")
        builder_conf.append((k.strip(), v.strip()))
    else:
        runtime_conf.append(arg)
if runtime_conf:
    os.environ["SPARK_GRAFT_CONF_OVERRIDES"] = ";".join(runtime_conf)
    print(f"conf overrides (via tune): {runtime_conf}", flush=True)

builder = SparkSession.builder.master(f"local[{cores}]")
for k, v in builder_conf:
    print(f"builder conf: {k}={v}", flush=True)
    builder = builder.config(k, v)
spark = builder.getOrCreate()
for k, v in builder_conf:
    # getOrCreate silently ignores conf when it reuses a live context —
    # fail loudly rather than certify an axis that never engaged
    got = spark.conf.get(k, None)
    assert got == v, f"builder conf {k} did not take: {got!r} != {v!r}"
tune(spark, force=True)

qs = all_queries()
fail = 0
t_all = time.time()
for name in CANONICAL:
    t0 = time.time()
    try:
        check_query(spark, qs[name], sf_dir)
        print(f"{name}: OK ({time.time() - t0:.1f}s)", flush=True)
    except Exception as e:  # noqa: BLE001 — report every slot, then fail
        fail += 1
        print(f"{name}: FAIL {str(e)[:500]}", flush=True)
print(f"=== {len(CANONICAL) - fail}/{len(CANONICAL)} OK in {time.time() - t_all:.0f}s ===")

spark.stop()
sys.exit(1 if fail else 0)
