"""Task-retry determinism certification (r6 VERDICT #2).

At 100 TB tasks FAIL — disk faults, preemption, speculative
re-execution — and Spark silently re-runs them. Every registered query
must therefore be retry-deterministic: a job in which some task
attempts crash and re-execute must produce bit-identical results to a
clean run. The classic violators are seeded samples whose draw depends
on attempt-local state, kernels that accumulate across a partition in
a fetch-order-dependent way, and Python stages holding driver-shipped
artifacts that mutate between attempts.

Mechanism: the session runs ``local[16,4]`` (4 task attempts — plain
``local[N]`` never retries), and a chaos identity ``mapInPandas`` stage
is spliced UNDER every fixture temp view. The stage raises on attempt 0
of every ``CHAOS_EVERY``-th partition (TaskContext attemptNumber /
partitionId — deterministic, not random), so every query run against
the views executes with real mid-stage task failures and retries.
``register_tables`` is idempotent per (session, sf_dir), so registered
queries' internal calls keep the chaos views (the bench_extended
override mechanism). An accumulator counts injected failures to prove
chaos actually fired. Derived views (plans / plan_groups /
counter_events) are re-derived OVER the chaos bases so reference-shape
queries get injected too.

Sweep: every CANONICAL slot — clean fingerprint vs chaos fingerprint
(``probekit.fingerprint``) — plus the np index-build twins (pq codebooks /
encode, kmeans centroids, ivf assign), whose closure-shipped artifacts
and per-partition numpy accumulation are the named risk spots.
Streaming slots read files directly (not views), so for them the sweep
degrades to a same-session repeat-determinism check — declared in the
output rather than silently counted as chaos coverage.

Usage: python scripts/retry_probe.py [--quick]
  --quick: seeded-sample + sketch + np-twin subset at sf0.001 (the
  pytest pin, tests/test_retry_determinism.py, runs this in a
  subprocess — the suite session is local[8] and cannot retry).
Exit 0 iff every fingerprint matches and chaos fired at least once.
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

import probekit
from probekit import fingerprint

#: local[16,4]: 16 cores, FOUR task attempts — the whole point (plain
#: ``local[N]`` never retries)
MASTER = "local[16,4]"
CHAOS_EVERY = 3  # attempt 0 of every 3rd partition raises

#: streaming slots read fixture files via readStream, not the chaos
#: views — the comparison still runs (repeat determinism) but is
#: reported separately, never counted as chaos coverage.
STREAMING_PREFIXES = ("b22_", "b23_", "b24_", "b25_")

QUICK_SLOTS = (
    "b13_global_topk",  # exercises TakeOrdered under retry
    "b27_dedup_minhash_lsh",  # sketch: explode + partial-agg + LSH join
    "b29_text_quality",
)


def chaos_wrap(df, acc):
    """Identity mapInPandas that raises once per selected partition.

    Deterministic injection: attempt 0 of every CHAOS_EVERY-th
    partition dies BEFORE yielding any batch, so the retry re-executes
    the whole task (the real failure mode — a partially-consumed
    upstream is never visible to downstream in Spark's model)."""
    schema = df.schema

    def gen(batches):
        from pyspark import TaskContext

        tc = TaskContext.get()
        if tc.partitionId() % CHAOS_EVERY == 0:
            if tc.attemptNumber() == 0:
                raise RuntimeError(
                    "chaos: injected failure "
                    f"(partition {tc.partitionId()}, attempt 0)"
                )
            # count on the SUCCESSFUL retry: Spark discards accumulator
            # updates from failed attempts, so adding before the raise
            # would always read zero on the driver
            acc.add(1)
        yield from batches

    return df.mapInPandas(gen, schema=schema)


def install_chaos_views(spark, acc) -> None:
    from hive_plan_service_spark.sources.catalog import (
        TABLES,
        _register_derived_views,
    )

    for name in TABLES:
        # wrap the REGISTERED view (events already has its ts
        # normalization applied) — the replacing view's plan captured
        # the old resolution, so this does not recurse
        chaos_wrap(spark.table(name), acc).createOrReplaceTempView(name)
    # re-derive plans/plan_groups/counter_events over the chaos bases
    _register_derived_views(spark)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--quick", action="store_true")
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    args = ap.parse_args()
    if args.quick:
        args.sf_dir = "/root/testdata/sf0.001"

    from hive_plan_service_spark.plans.registry import CANONICAL, all_queries
    from hive_plan_service_spark.sources.catalog import register_tables

    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    spark = probekit.plain_session(
        MASTER, {"spark.app.name": "hpss-retry-probe",
                 "spark.ui.enabled": "false"})
    acc = spark.sparkContext.accumulator(0)

    qs = all_queries()
    slots = QUICK_SLOTS if args.quick else CANONICAL

    register_tables(spark, args.sf_dir)
    emb = spark.read.parquet(f"{args.sf_dir}/embeddings.parquet")

    def np_twin_shapes(corpus):
        return {**probekit.pq_shapes(corpus, codes=8, max_iter=2),
                **probekit.ivf_shapes(corpus, k=4, iters=2)}

    # ---- clean pass -------------------------------------------------
    clean: dict = {}
    t0 = time.time()
    for name in slots:
        clean[name] = fingerprint(qs[name].fn(spark, args.sf_dir))
    clean_np = np_twin_shapes(emb)
    clean_wall = round(time.time() - t0, 1)
    assert acc.value == 0, "chaos fired during the clean pass"

    # ---- chaos pass -------------------------------------------------
    install_chaos_views(spark, acc)
    chaos: dict = {}
    errors: dict = {}
    t0 = time.time()
    for name in slots:
        try:
            chaos[name] = fingerprint(qs[name].fn(spark, args.sf_dir))
        except Exception as e:  # noqa: BLE001 — report every slot
            errors[name] = str(e)[:300]
            print(f"{name}: ERROR {str(e)[:300]}", flush=True)
    chaos_np = np_twin_shapes(chaos_wrap(emb, acc))
    chaos_wall = round(time.time() - t0, 1)

    mismatch = [
        n for n in slots
        if n in chaos and chaos[n] != clean[n]
    ]
    np_mismatch = [n for n in clean_np if chaos_np[n] != clean_np[n]]
    streaming = [n for n in slots if n.startswith(STREAMING_PREFIXES)]
    injected = acc.value

    summary = {
        "ok": not mismatch and not np_mismatch and not errors and injected > 0,
        "slots": len(slots),
        "mismatched": mismatch,
        "np_twin_mismatched": np_mismatch,
        "errors": errors,
        "injected_failures": injected,
        "streaming_repeat_only": streaming,
        "clean_wall_s": clean_wall,
        "chaos_wall_s": chaos_wall,
        "sf_dir": args.sf_dir,
        "task_max_failures": 4,
    }
    print(json.dumps(summary), flush=True)
    spark.stop()
    sys.exit(0 if summary["ok"] else 1)


if __name__ == "__main__":
    main()
