"""Materialized entity tables — the reference's O2 optimization.

The reference's whole read path is a hand-built materialized view: the
processor denormalizes Postgres into Redis and readers never touch the
base tables (SURVEY.md §4 O2). Here the refresh job writes overwrite-
committed parquet (job-commit atomicity ↔ MULTI/EXEC, processor:31,41);
the service refresh, the streamed refresh (B25) and ``a05`` all run
:func:`refresh_entities`. :func:`read_or_empty` is the one first-boot
rule for reading a materialization no job has written yet.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from hive_plan_service_spark.operators.bitmask import expand_groups_nested


def refresh_entities(spark: SparkSession, out_dir: str) -> str:
    """The two-stage refresh job over the registered ``plans`` and
    ``plan_groups`` views; returns the group-entities path.

    Stage 1 writes ``<out_dir>/plan_entities`` (processor:29–42). Stage 2
    joins the plan groups against stage 1's *committed* output, not the
    source view (processor:58,79–80 — the reference's only
    inter-operator ordering constraint), and writes
    ``<out_dir>/plan_group_entities``.
    """
    plan_entities = os.path.join(out_dir, "plan_entities")
    group_entities = os.path.join(out_dir, "plan_group_entities")
    spark.table("plans").write.mode("overwrite").parquet(plan_entities)
    plans = spark.read.parquet(plan_entities)
    expand_groups_nested(spark.table("plan_groups"), plans).write.mode(
        "overwrite"
    ).parquet(group_entities)
    return group_entities


def has_parquet(path: str) -> bool:
    """True iff the directory exists and holds at least one parquet file."""
    return bool(
        glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


def read_or_empty(
    spark: SparkSession, path: str, schema: T.StructType | str
) -> DataFrame:
    """``spark.read.parquet(path)``, or a zero-row frame of ``schema``
    when no job has committed a parquet file there yet.

    Empty feed (first boot): a missing directory, or one that GC left
    file-less, would otherwise fail schema inference instead of reading
    as empty (empty-fixture sweep, ROUND5_NOTES §13). ``schema`` only
    shapes the empty frame; a present store is read as written.
    """
    if has_parquet(path):
        return spark.read.parquet(path)
    return spark.createDataFrame([], schema)
