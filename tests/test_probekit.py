"""The shared gate-script pieces in ``scripts/probekit.py``.

The event-log reader is checked against a log captured from one small
query (``tests/data/eventlog``: a 40k-row sort on ``local[2]`` with a
forced spill, trimmed to the task-end / stage-completed events plus a
torn last line). The expected values are what the two readers it
replaced returned on that log: ``spill_probe.parse_event_log`` and
``attribution_probe.parse_stages`` (``git show ad4964a:scripts/...``).
"""
from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from scripts import attribution_probe, probekit

EVENT_LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog")

SPILL_TOTALS = {"tasks": 6, "memory_spill_mb": 56.0, "disk_spill_mb": 0.2,
                "task_peak_exec_mb": 8.1}

STAGES = [
    {"stage": 2, "name": "WholeStageCodegen (2) | Exchange", "tasks": 2,
     "wall_s": 0.6, "task_time_s": 1.02, "cpu_s": 0.56, "max_task_s": 0.52,
     "input_mb": 0.0, "shuf_read_mb": 0.31, "shuf_write_mb": 0.0,
     "p50_task_s": 0.518, "max_over_median": 1.0},
    {"stage": 0, "name": "Exchange | WholeStageCodegen (1)", "tasks": 2,
     "wall_s": 0.67, "task_time_s": 0.33, "cpu_s": 0.23, "max_task_s": 0.16,
     "input_mb": 0.0, "shuf_read_mb": 0.0, "shuf_write_mb": 0.0,
     "p50_task_s": 0.163, "max_over_median": 1.0},
    {"stage": 1, "name": "Exchange | WholeStageCodegen (1)", "tasks": 2,
     "wall_s": 0.3, "task_time_s": 0.28, "cpu_s": 0.2, "max_task_s": 0.14,
     "input_mb": 0.0, "shuf_read_mb": 0.0, "shuf_write_mb": 0.31,
     "p50_task_s": 0.142, "max_over_median": 1.0},
]

#: submission time of stage 1 in the captured log
STAGE1_SUBMITTED_MS = 1792218435413


def test_event_log_reader_matches_the_readers_it_replaced(tmp_path):
    assert probekit.parse_event_log(EVENT_LOG) == SPILL_TOTALS
    assert probekit.parse_stages(EVENT_LOG, 0) == STAGES
    assert probekit.parse_stages(EVENT_LOG, STAGE1_SUBMITTED_MS) == [
        s for s in STAGES if s["stage"] != 0
    ]
    # perfbench's traced run imports the stage reader from here
    assert attribution_probe.parse_stages is probekit.parse_stages

    # the flat (non-rolling) layout reads the same; in-progress logs
    # are skipped
    (events,) = glob.glob(os.path.join(EVENT_LOG, "*", "events_*"))
    shutil.copy(events, tmp_path / "local-capture")
    shutil.copy(events, tmp_path / "local-other.inprogress")
    assert probekit.parse_event_log(str(tmp_path)) == SPILL_TOTALS
    assert probekit.parse_stages(str(tmp_path), 0) == STAGES


def test_fingerprint_ignores_row_and_column_order_not_values(spark):
    df = spark.createDataFrame(
        [(i, f"w{i}", i / 3) for i in range(50)], "id long, w string, x double"
    )
    fp = probekit.fingerprint(df)
    assert fp["n"] == 50
    shuffled = df.orderBy(F.desc("x")).repartition(3).select("x", "w", "id")
    assert probekit.fingerprint(shuffled) == fp
    one_changed = df.withColumn(
        "w", F.when(F.col("id") == 17, F.lit("w17x")).otherwise(F.col("w"))
    )
    assert probekit.fingerprint(one_changed) != fp


def test_replicas_have_unique_ids_and_copies_share_no_token(spark, sf_dir):
    from hive_plan_service_spark.sources.catalog import register_tables

    register_tables(spark, sf_dir)
    n_docs = spark.table("documents").count()
    rows = probekit.mult_docs(spark, 3).select("doc_id", "text").collect()
    ids = [r["doc_id"] for r in rows]
    assert len(ids) == 3 * n_docs == len(set(ids))
    tokens_by_copy: dict[str, set[str]] = {}
    for r in rows:
        toks = r["text"].split(" ")
        copies = {t.rsplit("_", 1)[1] for t in toks}
        assert len(copies) == 1, f"doc {r['doc_id']} mixes copies {copies}"
        tokens_by_copy.setdefault(copies.pop(), set()).update(toks)
    assert sorted(tokens_by_copy) == ["0", "1", "2"]
    a, b, c = tokens_by_copy.values()
    assert not (a & b or a & c or b & c)

    n_vec = spark.table("embeddings").count()
    emb = probekit.mult_embeddings(spark, 2)
    assert emb.count() == 2 * n_vec == emb.select("vec_id").distinct().count()
