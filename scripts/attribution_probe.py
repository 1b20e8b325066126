"""Per-stage task-time attribution for a registered query.

The r6 round found 43 s of a 58 s composition hiding in ONE two-task
stage by summing per-task executor time per stage from the event log
(ROUND6_NOTES §12) — a pathology invisible to wall-clock timing, which
charges idle cores to nobody. This makes that methodology a reusable
tool (r6 VERDICT #4 asks for exactly this pass over
``llm_corpus_clean_pipeline``).

For each stage of the LAST (warm) run it reports: summed executor run
time (the real cost — idle-core time shows up as wall >> task_time/NCPU),
CPU time, task count, the MAX single task (skew/serialization), and
input / shuffle-read / shuffle-write volumes. A stage whose
``task_time`` dominates the total is the optimization target; a stage
whose ``max_task ≈ wall`` while others idle is the serial-bottleneck
signature the dedup fix removed.

Usage:
  python scripts/attribution_probe.py [query] [--mult N] [--runs 2]
      [--sf-dir DIR]
query defaults to llm_corpus_clean_pipeline; --mult N replicates the
documents fixture N× as distinct content (invariant 23) to expose
scale-dependent stages at bench scale.
Prints one JSON line (stages sorted by task_time desc) after a
human-readable table.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

# parse_stages is part of this module's interface (perfbench's traced
# run imports it from here)
from scripts.probekit import mult_docs, parse_stages  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("query", nargs="?", default="llm_corpus_clean_pipeline")
    ap.add_argument("--mult", type=int, default=0,
                    help="replicate documents N x as distinct content")
    ap.add_argument(
        "--skew", action="store_true",
        help="make the multiplied corpus Zipfian (r8 VERDICT #1): 50%% "
             "of docs remapped to ONE source domain, every 25th doc's "
             "text replaced by shared boilerplate (one LSH bucket far "
             "past max_bucket), so hot-key shuffle partitions and the "
             "over-cap guard are exercised at scale")
    ap.add_argument(
        "--extbench", choices=["pq", "ivf"], default=None,
        help="attribute an extbench index-build shape instead of a "
             "registered query (--mult then multiplies EMBEDDINGS; "
             "default 50, matching bench_extended)")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from hive_plan_service_spark.session import default_parallelism, get_spark
    from hive_plan_service_spark.plans.registry import all_queries
    from hive_plan_service_spark.sources.catalog import register_tables

    log_dir = tempfile.mkdtemp(prefix="attrib_")
    spark = get_spark(
        app_name=f"hpss-attrib-{args.query}",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
        },
    )
    register_tables(spark, args.sf_dir)

    docs_path = None
    if args.mult > 1 and not args.extbench:
        out = mult_docs(spark, args.mult)
        if args.skew:
            hot_source = spark.table("documents").select("source").first()[0]
            boiler = " ".join(
                f"boilerplate{i} legal footer common all rights reserved"
                for i in range(12)
            )
            out = out.withColumn(
                "source",
                F.when(F.col("doc_id") % 2 == 0, F.lit(hot_source))
                .otherwise(F.col("source")),
            ).withColumn(
                "text",
                F.when(F.col("doc_id") % 25 == 0, F.lit(boiler))
                .otherwise(F.col("text")),
            )
        from hive_plan_service_spark.session import process_scratch_dir

        docs_path = os.path.join(
            process_scratch_dir("attrib"),
            f"docs_{args.mult}{'_skew' if args.skew else ''}",
        )
        out.repartition(default_parallelism()).write.mode(
            "overwrite"
        ).parquet(docs_path)
        spark.read.parquet(docs_path).createOrReplaceTempView("documents")

    if args.extbench:
        # The two extbench index-build shapes are compositions (train +
        # encode/assign) rather than registered queries; rebuild the same
        # bodies bench_extended times, over its distinct-jitter embedding
        # fixture, so the stage table attributes exactly what the
        # EXTBENCH_rNN artifact measures.
        from bench_extended import _mult_embeddings

        from hive_plan_service_spark.operators import vectors as vx
        from hive_plan_service_spark.operators.kmeans import kmeans_integer_np

        emb_path = _mult_embeddings(spark, args.mult or 50)
        label = f"extbench_{args.extbench}_index_build"

        def _q_fn(spark, _sf_dir):
            corpus = spark.read.parquet(emb_path)
            if args.extbench == "pq":
                books = vx.pq_train_codebooks_np(
                    corpus, subspaces=4, codes=16, dim=64, max_iter=5
                )
                return vx.pq_encode_np(corpus, books, subspaces=4, dim=64)
            cents = kmeans_integer_np(
                corpus, k=16, dim=64, iters=5, vec="embedding",
                id_col="vec_id",
            ).select(
                F.col("code").cast("bigint").alias("centroid_id"),
                F.col("centroid").cast("array<float>").alias("embedding"),
            ).localCheckpoint(eager=True)
            return vx.ivf_assign_np(corpus, cents)

        args.query = label
        q_fn = _q_fn
    else:
        q_fn = all_queries()[args.query].fn
    from bench import materialize

    # rows reported from ONE untimed count (also a warm run); the timed
    # runs materialize through the noop sink — .count() lets Catalyst
    # prune operators the count doesn't need (bench.materialize)
    rows = q_fn(spark, args.sf_dir).count()
    walls = []
    t_mark = 0
    for _ in range(args.runs):
        t_mark = int(time.time() * 1000)
        t0 = time.perf_counter()
        materialize(q_fn(spark, args.sf_dir))
        walls.append(round(time.perf_counter() - t0, 2))
    spark.stop()  # flush the event log

    stages = parse_stages(log_dir, t_mark)
    total_task = round(sum(s["task_time_s"] for s in stages), 2)
    print(f"\n{args.query} mult={args.mult} rows={rows} "
          f"walls={walls} (attributed: last run)")
    print(f"{'stage':>6} {'tasks':>5} {'wall':>7} {'tasktime':>9} "
          f"{'cpu':>7} {'maxtask':>8} {'p50':>6} {'mx/med':>6} "
          f"{'in MB':>8} {'shR MB':>8} {'shW MB':>8}  name")
    for s in stages:
        if s["task_time_s"] < 0.01 and s["wall_s"] < 0.05:
            continue
        print(f"{s['stage']:>6} {s['tasks']:>5} {s['wall_s']:>7} "
              f"{s['task_time_s']:>9} {s['cpu_s']:>7} {s['max_task_s']:>8} "
              f"{s['p50_task_s']:>6} {str(s['max_over_median']):>6} "
              f"{s['input_mb']:>8} {s['shuf_read_mb']:>8} "
              f"{s['shuf_write_mb']:>8}  {s['name']}")
    print(json.dumps({
        "query": args.query, "mult": args.mult, "skew": args.skew,
        "rows": rows,
        "walls_s": walls, "total_task_time_s": total_task,
        "stages": stages[:20],
    }), flush=True)
    shutil.rmtree(log_dir, ignore_errors=True)
    if docs_path:
        shutil.rmtree(docs_path, ignore_errors=True)


if __name__ == "__main__":
    main()
