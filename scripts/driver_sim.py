"""Driver simulation: the real t2 gate, run locally.

Builds a PLAIN SparkSession (no repo conf — exactly what the driver
hands ``__spark_entry__``), applies ``session.tune`` the way the entry
module does, then runs ``tests.parity.check_query`` over every
CANONICAL registry slot at sf0.01 (the driver's correctness scale) —
``probekit.plain_session`` + ``probekit.canonical_sweep``.

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

import probekit

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
# second arg: core count (default 32 — the driver's likely local[*]).
# Running the same gate at a different parallelism certifies that every
# canonical result is reproduction-independent of cluster layout.
cores = sys.argv[2] if len(sys.argv) > 2 else "32"
# ``builder:k=v`` pairs are STATIC conf (serializer, off-heap memory)
# that must be set before the JVM-side SparkContext exists; plain
# ``k=v`` pairs stay runtime overrides routed through tune(). Each
# run_gates gate is its own subprocess, so builder conf genuinely
# applies (plain_session asserts that it did).
builder_conf: dict[str, str] = {}
runtime_conf: list[str] = []
for arg in sys.argv[3:]:
    if arg.startswith("builder:"):
        k, _, v = arg[len("builder:"):].partition("=")
        builder_conf[k.strip()] = v.strip()
    else:
        runtime_conf.append(arg)
if runtime_conf:
    os.environ["SPARK_GRAFT_CONF_OVERRIDES"] = ";".join(runtime_conf)
    print(f"conf overrides (via tune): {runtime_conf}", flush=True)

spark = probekit.plain_session(f"local[{cores}]", builder_conf)
sweep = probekit.canonical_sweep(spark, sf_dir)
spark.stop()
sys.exit(0 if sweep["ok"] == sweep["total"] else 1)
