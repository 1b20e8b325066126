"""Streaming surface (SURVEY.md §2.B B22–B25) as registered queries.

Each query drives a real Structured Streaming query to completion over
the events parquet (availableNow + memory/foreachBatch sinks) and
returns the final batch result. Oracles verify stream/batch equivalence:
with complete output and a full replay the streamed answer must equal
the batch SQL over the same rows. Late-data drop behavior (append mode,
advancing watermark) is exercised in tests/test_streaming.py, where the
arrival order can be controlled.
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

from hive_plan_service_spark.plans.reference_ops import (
    COUNTER_CURRENT_VALUE_SQL,
    FLAT_EXPANSION_SQL,
    flatten_group_entities,
)
from hive_plan_service_spark.plans.registry import register
from hive_plan_service_spark.sources.catalog import register_tables, table_path
from hive_plan_service_spark.streaming.counter import streaming_counter_value
from hive_plan_service_spark.streaming.refresh_sink import streaming_refresh
from hive_plan_service_spark.streaming.source import events_stream
from hive_plan_service_spark.streaming.windows import (
    run_to_completion,
    session_windows,
    tumbling_window_agg,
)


def _workdir() -> str:
    from hive_plan_service_spark.session import scratch_root

    # Checkpoints + per-invocation demo stores are ephemeral: tmpfs-backed
    # scratch (cluster analog: fast local disk). Real deployments pass
    # explicit durable paths to the streaming maintainers instead.
    return tempfile.mkdtemp(
        prefix=f"hpss_stream_{uuid.uuid4().hex[:8]}_", dir=scratch_root()
    )


# --------------------------------------------------------------------------
# B22 — tumbling event-time window aggregate with watermark.
# --------------------------------------------------------------------------
@register(
    "b22_stream_tumbling_window",
    oracle="""
      SELECT CAST(((epoch_us(ts) - ((epoch_us(ts) % 3600000000 + 3600000000) % 3600000000)) // 3600000000) * 3600 AS BIGINT) AS window_start_epoch,
             event_type,
             COUNT(*) AS n,
             CAST(CAST(SUM((CASE WHEN abs(value) < 0.005 THEN CAST(0 AS DECIMAL(19,2)) ELSE CAST(CAST(value AS VARCHAR) AS DECIMAL(19,2)) END)) AS VARCHAR) AS DOUBLE) AS total_value
      FROM events
      GROUP BY 1, 2
    """,
    doc="Structured Streaming tumbling 1h windows == batch hour buckets on full replay.",
    tags=("B22",),
)
def b22_stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    stream = events_stream(spark, table_path(sf_dir, "events"))
    return run_to_completion(tumbling_window_agg(stream, "1 hour"))


# --------------------------------------------------------------------------
# B22 — sliding windows (1h window, 15m slide): every event belongs to 4
# overlapping windows. Oracle enumerates each event's aligned window
# starts with generate_series — window [s, s+3600) contains ts iff
# ts−3600 < s ≤ ts and s ≡ 0 (mod 900).
# --------------------------------------------------------------------------
@register(
    "b22_stream_sliding_window",
    oracle="""
      SELECT CAST(u.s AS BIGINT) AS window_start_epoch,
             e.event_type,
             COUNT(*) AS n,
             CAST(CAST(SUM((CASE WHEN abs(e.value) < 0.005 THEN CAST(0 AS DECIMAL(19,2)) ELSE CAST(CAST(e.value AS VARCHAR) AS DECIMAL(19,2)) END)) AS VARCHAR) AS DOUBLE) AS total_value
      FROM events e,
      UNNEST(generate_series(
        -- lower bound in exact epoch_us integer arithmetic too (r9,
        -- ADVICE: epoch() is DOUBLE and rounds at extreme magnitude):
        -- smallest 900-multiple s with s > ts - 3600 == floor((ts-3600)/900)+1.
        ((((epoch_us(e.ts) - 3600000000)
           - (((epoch_us(e.ts) - 3600000000) % 900000000 + 900000000) % 900000000))
          // 900000000) + 1) * 900,
        CAST(((epoch_us(e.ts) - ((epoch_us(e.ts) % 900000000 + 900000000) % 900000000)) // 900000000) AS BIGINT) * 900,
        900)) AS u(s)
      GROUP BY 1, 2
    """,
    doc="Structured Streaming sliding windows (1h/15m) == per-event window enumeration on full replay.",
    tags=("B22",),
)
def b22_stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_plan_service_spark.streaming.windows import sliding_window_agg

    register_tables(spark, sf_dir)
    stream = events_stream(spark, table_path(sf_dir, "events"))
    return run_to_completion(sliding_window_agg(stream, "1 hour", "15 minutes"))


# --------------------------------------------------------------------------
# B23 — session windows (30 min gap) per user.
# --------------------------------------------------------------------------
@register(
    "b23_stream_session_window",
    oracle="""
      WITH o AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      ), s AS (
        SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS sid
        FROM o
      )
      SELECT user_id,
             CAST(((epoch_us(MIN(ts)) - ((epoch_us(MIN(ts)) % 1000000 + 1000000) % 1000000)) // 1000000) AS BIGINT) AS session_start_epoch,
             COUNT(*) AS n_events
      FROM s GROUP BY user_id, sid
    """,
    doc="session_window(ts, 30m) == gap-split sessionization in SQL (split at diff >= gap).",
    tags=("B23",),
)
def b23_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    stream = events_stream(spark, table_path(sf_dir, "events"))
    return run_to_completion(session_windows(stream, "30 minutes"))


# --------------------------------------------------------------------------
# B24 — stateful running counter as a stream (order-dependent fold →
# foreachBatch log + replay; see streaming/counter.py).
# --------------------------------------------------------------------------
@register(
    "b24_stream_counter_value",
    oracle=COUNTER_CURRENT_VALUE_SQL,
    doc="Streamed counter events reach the same last-writer-wins value as batch (A11/A12).",
    tags=("B24",),
)
def b24_stream_counter_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return streaming_counter_value(
        spark, table_path(sf_dir, "events"), _workdir()
    )


# --------------------------------------------------------------------------
# B25 — refresh-as-a-stream: foreachBatch idempotent overwrite of the
# materialized entity tables, then read back (flattened for the oracle).
# --------------------------------------------------------------------------
@register(
    "b25_stream_refresh_sink",
    oracle=FLAT_EXPANSION_SQL,
    doc="foreachBatch upsert sink: streamed refresh materializes the same entities as batch.",
    tags=("A13", "B25"),
)
def b25_stream_refresh_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return flatten_group_entities(
        streaming_refresh(spark, table_path(sf_dir, "events"), _workdir())
    )


# --------------------------------------------------------------------------
# B24 (stateful-operator form) — applyInPandasWithState running counter.
# --------------------------------------------------------------------------
@register(
    "b24_stateful_counter_applyinpandas",
    oracle=COUNTER_CURRENT_VALUE_SQL,
    doc="Keyed stateful operator (applyInPandasWithState) folding the command stream in arrival order.",
    tags=("B24", "B26"),
)
def b24_stateful_counter_applyinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_plan_service_spark.streaming.counter import stateful_counter_stream

    register_tables(spark, sf_dir)
    return stateful_counter_stream(spark, table_path(sf_dir, "events"))


# --------------------------------------------------------------------------
# B22 — stream-stream interval join: each purchase joined to the same
# user's clicks in the preceding hour. Both sides watermarked so the
# join state is bounded; on a full single-batch replay the result equals
# the batch interval join.
# --------------------------------------------------------------------------
@register(
    "b22_stream_stream_join",
    oracle="""
      SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id
       AND c.ts >= p.ts - INTERVAL 1 HOUR
       AND c.ts <= p.ts
    """,
    doc="Watermarked stream-stream interval join == batch range join on full replay.",
    tags=("B22",),
)
def b22_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    register_tables(spark, sf_dir)
    ev = events_stream(spark, table_path(sf_dir, "events"))
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    ).select("purchase_id", "click_id", "user_id")
    return run_to_completion(joined, output_mode="append")


# --------------------------------------------------------------------------
# B22/B25 — continuous aggregate (hypertable-rollup analog): incrementally
# maintained hourly rollup must equal the full batch aggregation.
# --------------------------------------------------------------------------
@register(
    "b22_continuous_hourly_rollup",
    oracle="""
      SELECT CAST(((epoch_us(ts) - ((epoch_us(ts) % 3600000000 + 3600000000) % 3600000000)) // 3600000000) AS BIGINT) AS hour_bucket,
             event_type,
             COUNT(*) AS n,
             CAST(CAST(SUM((CASE WHEN abs(value) < 0.005 THEN CAST(0 AS DECIMAL(19,2)) ELSE CAST(CAST(value AS VARCHAR) AS DECIMAL(19,2)) END)) AS VARCHAR) AS DOUBLE) AS total_value
      FROM events
      GROUP BY 1, 2
    """,
    doc="Incrementally-maintained hourly rollup (per-bucket dynamic overwrite) == full recompute.",
    tags=("B22", "B25"),
)
def b22_continuous_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from hive_plan_service_spark.streaming.continuous_agg import (
        ContinuousHourlyRollup,
    )

    register_tables(spark, sf_dir)
    rollup = ContinuousHourlyRollup(
        spark, table_path(sf_dir, "events"), _workdir()
    ).run()
    return rollup.select(
        F.col("hour_bucket").cast("bigint").alias("hour_bucket"),
        "event_type",
        "n",
        "total_value",
    )


# --------------------------------------------------------------------------
# B15/B22 — streaming deduplication: dropDuplicates within the watermark
# (the exactly-once ingest pattern for at-least-once sources). On a full
# replay the deduped stream equals batch DISTINCT.
# --------------------------------------------------------------------------
@register(
    "b22_stream_dedup",
    oracle="""
      SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
      FROM events GROUP BY event_type
    """,
    doc="Watermarked streaming dropDuplicates(event_id) == batch DISTINCT on replay.",
    tags=("B15", "B22"),
)
def b22_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    register_tables(spark, sf_dir)
    stream = events_stream(spark, table_path(sf_dir, "events"))
    # duplicate the feed (union with itself) to make the dedup observable
    doubled = stream.unionByName(stream)
    deduped = (
        doubled.withWatermark("ts", "30 days")
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    return run_to_completion(deduped, output_mode="complete")


# --------------------------------------------------------------------------
# B22 — stream-static join: enrich the event stream with a batch
# dimension table. Spark re-plans the static side per micro-batch, so
# the dimension may be updated between batches without restarting the
# stream — the streaming analog of the reference's cache lookup (A4).
# --------------------------------------------------------------------------
@register(
    "b22_stream_static_join",
    oracle="""
      SELECT c.c_mktsegment,
             COUNT(*) AS n_purchases,
             CAST(CAST(SUM((CASE WHEN abs(e.value) < 0.005 THEN CAST(0 AS DECIMAL(19,2)) ELSE CAST(CAST(e.value AS VARCHAR) AS DECIMAL(19,2)) END)) AS VARCHAR) AS DOUBLE)
               AS total_value
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      WHERE e.event_type = 'purchase'
      GROUP BY 1
    """,
    doc="Stream-static enrichment join == batch join+aggregate on full replay.",
    tags=("B22", "B4"),
)
def b22_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from hive_plan_service_spark.functions.exact import money

    register_tables(spark, sf_dir)
    # static side: SF-proportional dimension — no broadcast hint (CLAUDE.md
    # invariant 9); each micro-batch plans the join from current stats
    dim = spark.table("customer").select("c_custkey", "c_mktsegment")
    stream = events_stream(spark, table_path(sf_dir, "events")).filter(
        F.col("event_type") == "purchase"
    )
    enriched = stream.join(dim, stream.user_id == dim.c_custkey, "inner")
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(money("value")).cast("double").alias("total_value"),
    )
    return run_to_completion(agg, output_mode="complete")


# --------------------------------------------------------------------------
# B22 × B27 — streaming near-dup ingest: each micro-batch's documents
# are LSH-probed against the signature store of everything ingested
# earlier; flags are invariant to how the feed is split into batches
# (pytest ties the multi-batch run to the single-batch run and to the
# batch operator's pair set). The registered query runs the PORTABLE
# hash family, so under id-monotone arrival the final flags equal the
# batch predicate "∃ smaller-id doc colliding on a full band with ≥ 8/16
# signature agreement" — plain SQL: the ORACLE value-hash-checks the
# streaming pipeline end-to-end (store reads, epoch overwrite, compaction
# included). est ≥ 0.5 over 16 hashes ⇔ agree ≥ 8, kept integer-exact.
# --------------------------------------------------------------------------
def _dedup_ingest_oracle() -> str:
    from hive_plan_service_spark.plans.llm_ops import _DUCK_MINHASH_BANDED

    return f"""
      WITH {_DUCK_MINHASH_BANDED},
      dups AS (
        SELECT DISTINCT b.doc_id
        FROM banded a
        JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        WHERE len(list_filter(generate_series(1, 16),
                              i -> a.sig[i] = b.sig[i])) >= 8
      )
      SELECT d.doc_id, (dups.doc_id IS NOT NULL) AS is_dup
      FROM documents d LEFT JOIN dups USING (doc_id)
    """


@register(
    "b27_stream_dedup_ingest",
    oracle=_dedup_ingest_oracle(),
    doc="Streaming LSH dedup against an incremental signature store; split-invariant flags (portable family, oracle-checked).",
    tags=("B22", "B27", "llm"),
)
def b27_stream_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from hive_plan_service_spark.streaming.dedup_ingest import (
        StreamingDedupIngest,
    )

    register_tables(spark, sf_dir)
    ingest = StreamingDedupIngest(
        spark, table_path(sf_dir, "documents"), _workdir()
    )
    return ingest.run().orderBy("doc_id").select(
        "doc_id", F.col("is_dup").cast("boolean").alias("is_dup")
    )
