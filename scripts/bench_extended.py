"""Extended bench: the production 100 TB shapes, tracked per round.

The contract headline set (bench.py) is frozen at its r2 composition;
the shapes that actually model the 100 TB pipeline — the capped dedup
composition, the twin-built PQ/IVF index builds, the streaming dedup
ingest, the stateful counter replay — previously lived only in
round-notes tables where a regression would go unnoticed (VERDICT r5
item #2). This runner times them every round and emits a SECOND,
clearly non-contract JSON artifact with the same calibration /
normalization fields as bench.py, so round-over-round comparisons can
divide out box load identically.

Scale: corpora are replicated from the sf0.1 fixtures as DISTINCT
content (per-copy word suffix / vector jitter — invariant 23) and
materialized to scratch parquet BEFORE timing, so the timed region
reads from storage like production. The multipliers (DOCS_MULT,
EMB_MULT) keep the whole artifact under ~3 minutes on a quiet box.

Timing: min-of-2 full materializations per shape (run 1 doubles as the
codegen/JIT warm-up — these shapes are too heavy for bench.py's
warm-twice + adaptive-min protocol).

Usage: python scripts/bench_extended.py   (env SPARK_GRAFT_SF_DIR,
default /root/testdata/sf0.1) — prints ONE JSON line.
"""
from __future__ import annotations

import json
import os
import shutil
import time

import probekit  # first: puts the repo root on sys.path

from pyspark.sql import functions as F

import bench  # reuse calibrate() + the quiet reference
from hive_plan_service_spark.session import (
    default_parallelism,
    get_spark,
    process_scratch_dir,
)
from hive_plan_service_spark.sources.catalog import register_tables
from hive_plan_service_spark.sources.writers import write_parquet_heap_safe

DOCS_MULT = 8
EMB_MULT = 50


def _mult_docs(spark, mult: int) -> str:
    """mult× documents (``probekit.mult_docs``), written to scratch."""
    path = os.path.join(process_scratch_dir("bench_ext"), f"docs_{mult}")
    probekit.mult_docs(spark, mult).repartition(default_parallelism()).write.mode(
        "overwrite").parquet(path)
    return path


def _mult_embeddings(spark, mult: int) -> str:
    """mult× embeddings (``probekit.mult_embeddings``), written to scratch."""
    path = os.path.join(process_scratch_dir("bench_ext"), f"emb_{mult}")
    write_parquet_heap_safe(
        probekit.mult_embeddings(spark, mult).repartition(default_parallelism()),
        path)
    return path


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="hpss-bench-extended")
    register_tables(spark, sf_dir)

    # ratchet provenance (VERDICT r10 #6): one extra CPU draw at session
    # start widens the session-min observation window (see bench.run)
    cal_cpu_pre = bench.calibrate(spark)

    docs_path = _mult_docs(spark, DOCS_MULT)
    emb_path = _mult_embeddings(spark, EMB_MULT)
    docs_n = spark.read.parquet(docs_path).count()
    emb_n = spark.read.parquet(emb_path).count()

    from hive_plan_service_spark.operators import vectors as vx
    from hive_plan_service_spark.plans.llm_ops import dedup_clusters_production
    from hive_plan_service_spark.plans.registry import all_queries

    registry = all_queries()

    # view swap/restore live OUTSIDE the timed region (r6 ADVICE: the
    # finally-block register_tables ran inside the perf_counter bracket,
    # polluting the round-over-round numbers this artifact exists for)
    def dedup_setup():
        # override the documents view with the multiplied corpus
        # (register_tables is idempotent per (session, sf_dir): the
        # composition's internal call resolves this override)
        spark.read.parquet(docs_path).createOrReplaceTempView("documents")

    def dedup_teardown():
        register_tables(spark, sf_dir, force=True)

    def dedup_capped():
        return dedup_clusters_production(spark, sf_dir).count()

    def pq_index_build():
        corpus = spark.read.parquet(emb_path)
        books = vx.pq_train_codebooks_np(
            corpus, subspaces=4, codes=16, dim=64, max_iter=5
        )
        return vx.pq_encode_np(corpus, books, subspaces=4, dim=64).count()

    def ivf_index_build():
        from hive_plan_service_spark.operators.kmeans import kmeans_integer_np

        corpus = spark.read.parquet(emb_path)
        cents = kmeans_integer_np(
            corpus, k=16, dim=64, iters=5, vec="embedding", id_col="vec_id"
        ).select(
            F.col("code").cast("bigint").alias("centroid_id"),
            F.col("centroid").cast("array<float>").alias("embedding"),
        ).localCheckpoint(eager=True)
        return vx.ivf_assign_np(corpus, cents).count()

    def stream_ingest():
        return registry["b27_stream_dedup_ingest"].fn(spark, sf_dir).count()

    def stateful_counter():
        return registry["b24_stateful_counter_applyinpandas"].fn(
            spark, sf_dir
        ).count()

    shapes = {
        f"dedup_clusters_capped_{DOCS_MULT}x": (
            dedup_capped, dedup_setup, dedup_teardown
        ),
        f"pq_index_build_np_{EMB_MULT}x": (pq_index_build, None, None),
        f"ivf_index_build_np_{EMB_MULT}x": (ivf_index_build, None, None),
        "b27_stream_dedup_ingest": (stream_ingest, None, None),
        "b24_stateful_counter_applyinpandas": (stateful_counter, None, None),
    }

    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    for name, (fn, setup, teardown) in shapes.items():
        if setup is not None:
            setup()
        try:
            # discarded warm-up + min-of-2 timed (r8, mirroring bench.py's
            # min-of-2-full-passes rule): when run 1 doubled as the
            # warm-up, its cold codegen/page-cache cost could still be
            # the artifact value on a 2-run min — consecutive quiet runs
            # of the dedup shape measured 13.0 vs 18.1 s under that rule
            fn()
            runs = []
            for _ in range(2):
                t0 = time.perf_counter()
                rows[name] = fn()
                runs.append(time.perf_counter() - t0)
            timings[name] = round(min(runs), 4)
        finally:
            if teardown is not None:
                teardown()

    calibration = bench.calibrate(spark)
    pyarrow_cal = bench.calibrate_pyarrow(spark)
    pyarrow_cal_2 = bench.calibrate_pyarrow(spark)
    total = round(sum(timings.values()), 4)
    # Calibration v2 (VERDICT r8 #2): the extbench shapes are
    # Python/Arrow/tmpfs-heavy — the r8 drift (22.59→26.99 s with
    # near-equal CPU calibration; the unmodified r7 commit at 34.9 s on
    # the same box) proved pure-JVM normalization is blind to them.
    # Composite factor = capped geometric mean of both probe ratios;
    # the CPU-only factor is still emitted for continuity with ≤r8.
    f_cpu = (
        bench.CALIBRATION_QUIET_REF / calibration if calibration > 0 else 1.0
    )
    f_pa = (
        bench.PYARROW_QUIET_REF / pyarrow_cal if pyarrow_cal > 0 else 1.0
    )
    factor = min(1.0, (f_cpu * f_pa) ** 0.5)
    payload = {
        "metric": "production_shape_wall_clock_total",  # NON-CONTRACT
        "value": total,
        "unit": "sec",
        "queries": timings,
        "rows": rows,
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "docs_mult": DOCS_MULT,
        "docs_rows": docs_n,
        "emb_mult": EMB_MULT,
        "emb_rows": emb_n,
        "calibration_cpu_sec": calibration,
        "calibration_quiet_ref": bench.CALIBRATION_QUIET_REF,
        "calibration_pyarrow_sec": pyarrow_cal,
        "calibration_pyarrow_quiet_ref": bench.PYARROW_QUIET_REF,
        # quietest draws observed in THIS session (ratchet provenance,
        # VERDICT r10 #6); normalization keys on the post-timing draws
        "calibration_cpu_session_min": min(cal_cpu_pre, calibration),
        "calibration_pyarrow_session_min": min(pyarrow_cal, pyarrow_cal_2),
        "value_normalized": round(total * factor, 4),
        "value_normalized_cpu_only": round(total * min(1.0, f_cpu), 4),
    }
    print(json.dumps(payload), flush=True)
    spark.stop()
    for p in (docs_path, emb_path):
        shutil.rmtree(p, ignore_errors=True)


if __name__ == "__main__":
    main()
