"""Refresh-as-a-stream (SURVEY.md B25; reference A13/A14, §3.2).

The reference's refresh endpoint publishes a command packet to the
processor queue and awaits completion (plan-server.ts:85–90). Here the
command feed is a stream and each micro-batch runs the refresh pipeline
inside ``foreachBatch`` — an idempotent overwrite of the materialized
entity tables (job-commit atomicity ↔ the reference's MULTI/EXEC), with
the stage-1→stage-2 dependency preserved.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from hive_plan_service_spark.sources.materialize import refresh_entities
from hive_plan_service_spark.streaming.epoch_store import drain
from hive_plan_service_spark.streaming.source import events_stream


def streaming_refresh(
    spark: SparkSession, trigger_path: str, workdir: str
) -> DataFrame:
    """Run the refresh pipeline once per micro-batch of the trigger feed.

    Returns the materialized nested ``plan_group_entities`` table after
    the stream drains. The trigger batch *content* is irrelevant (the
    reference's CmdPacket carries no args) — its arrival is the command.
    """
    out = os.path.join(workdir, "materialized")
    drain(
        events_stream(spark, trigger_path),
        lambda batch_df, epoch_id: refresh_entities(spark, out),
        os.path.join(workdir, "ckpt_refresh"),
    )
    return spark.read.parquet(os.path.join(out, "plan_group_entities"))
