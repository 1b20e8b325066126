"""Reference-surface operators (SURVEY.md §2.A, A1–A15).

Each query re-expresses one behavior of titan/hive-plan-service
(citations per query) over the derived ``plans``/``plan_groups``/
``counter_events`` views (FIXTURES.md §B), so the DuckDB oracle computes
the same shapes from identical parquet. The service-level composition
(A5–A8, A13–A15) lives in ``hive_plan_service_spark.api``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_plan_service_spark.operators.bitmask import (
    expand_groups_flat,
    expand_groups_nested,
)
from hive_plan_service_spark.operators.counter import current_counter_value
from hive_plan_service_spark.plans.registry import register
from hive_plan_service_spark.sources.catalog import (
    ORACLE_COUNTER_EVENTS_CTE,
    ORACLE_PLAN_GROUPS_CTE,
    ORACLE_PLANS_CTE,
    register_tables,
)
from hive_plan_service_spark.sources.materialize import refresh_entities

FLAT_EXPANSION_SQL = f"""
WITH {ORACLE_PLANS_CTE},
{ORACLE_PLAN_GROUPS_CTE}
SELECT g.id AS group_id, g.title AS group_title, g.mask,
       p.id AS plan_id, p.title AS plan_title, p.optional
FROM plan_groups_d g
JOIN plans_d p ON (g.mask & p.id) <> 0
"""


# --------------------------------------------------------------------------
# A3 — bitmask-expansion join (src/plan-processor.ts:55–66), flat form.
# The oracle exploits that plan ids are single bits: mask & id <> 0.
# --------------------------------------------------------------------------
@register(
    "a03_bitmask_expand_join",
    oracle=FLAT_EXPANSION_SQL,
    doc="Flagship reference op: mask → member plans, exploded (intended 64-bit semantics).",
    tags=("A3",),
)
def a03_bitmask_expand_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return expand_groups_flat(spark.table("plan_groups"), spark.table("plans"))


# --------------------------------------------------------------------------
# A3 invariant — re-aggregating member plan ids must reconstruct the mask
# exactly (proves each member appears exactly once, all 64 bits live).
# --------------------------------------------------------------------------
@register(
    "a03_mask_roundtrip",
    oracle=f"""
WITH {ORACLE_PLANS_CTE},
{ORACLE_PLAN_GROUPS_CTE}
SELECT g.id AS group_id, g.mask,
       BIT_OR(p.id) AS rebuilt_mask,
       COUNT(*) AS n_plans
FROM plan_groups_d g
JOIN plans_d p ON (g.mask & p.id) <> 0
GROUP BY g.id, g.mask
""",
    doc="Expansion inverse: bit_or(member ids) == mask, member count = popcount.",
    tags=("A3",),
)
def a03_mask_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    flat = expand_groups_flat(spark.table("plan_groups"), spark.table("plans"))
    return flat.groupBy("group_id", "mask").agg(
        F.bit_or("plan_id").alias("rebuilt_mask"),
        F.count(F.lit(1)).alias("n_plans"),
    )


# --------------------------------------------------------------------------
# A4 — keyed point lookup (src/plan-processor.ts:58 hget): broadcast probe.
# --------------------------------------------------------------------------
@register(
    "a04_point_lookup",
    oracle=f"""
WITH {ORACLE_PLANS_CTE}
SELECT id, title, optional FROM plans_d WHERE id IN (1, 4, 1024)
""",
    doc="hget-by-key as a broadcast-pruned scan (never a per-row driver probe).",
    tags=("A4",),
)
def a04_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.table("plans").filter(F.col("id").isin(1, 4, 1024)).select(
        "id", "title", "optional"
    )


# --------------------------------------------------------------------------
# A5/A6 + A14 — materialize / refresh pipeline: run the refresh job the
# service and the streamed refresh run (sources/materialize.py
# refresh_entities: stage 1 plans, stage 2 groups-joined-to-stage-1 —
# the reference's only inter-operator ordering constraint,
# processor:79–80), read it back, return the flattened result. Proves
# the parquet round-trip of the nested ARRAY<STRUCT> shape.
# --------------------------------------------------------------------------
@register(
    "a05_materialize_roundtrip",
    oracle=FLAT_EXPANSION_SQL,
    doc="Refresh job: overwrite-materialize entities (MULTI/EXEC ↔ job commit), read back, flatten.",
    tags=("A5", "A6", "A14"),
)
def a05_materialize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    from hive_plan_service_spark.session import process_scratch_dir

    # PID-keyed: scratch_root() is machine-shared and a fixed subdir
    # under overwrite mode races with concurrent suites (r7 transient).
    out = process_scratch_dir("hpss_materialized")
    return flatten_group_entities(spark.read.parquet(refresh_entities(spark, out)))


def flatten_group_entities(nested: DataFrame) -> DataFrame:
    """Nested group entities → one ``(group_id, group_title, mask,
    plan_id, plan_title, optional)`` row per member plan (the scalar-flat
    shape the ``FLAT_EXPANSION_SQL`` oracle checks)."""
    return nested.select(
        F.col("id").alias("group_id"),
        F.col("title").alias("group_title"),
        "mask",
        F.explode("plans").alias("p"),
    ).select(
        "group_id",
        "group_title",
        "mask",
        F.col("p.id").alias("plan_id"),
        F.col("p.title").alias("plan_title"),
        F.col("p.optional").alias("optional"),
    )


# --------------------------------------------------------------------------
# A7 — full entity scan (src/plan-server.ts:30–38 getPlans).
# --------------------------------------------------------------------------
@register(
    "a07_get_plans",
    oracle=f"WITH {ORACLE_PLANS_CTE} SELECT id, title, optional FROM plans_d",
    doc="getPlans: full scan of the plan entity view.",
    tags=("A7",),
)
def a07_get_plans(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.table("plans").select("id", "title", "optional")


# --------------------------------------------------------------------------
# A8 — full nested entity scan (getPlanGroups): the ARRAY<STRUCT> shape.
# Rows-only: nested values round-trip through different pandas encodings
# per engine, so the scalar-flat twins above carry the value check.
# --------------------------------------------------------------------------
@register(
    "a08_get_plan_groups_nested",
    oracle=None,
    doc="getPlanGroups: nested plans ARRAY<STRUCT> per group (value-checked via a03/a05 flat twins).",
    tags=("A8",),
)
def a08_get_plan_groups_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return expand_groups_nested(spark.table("plan_groups"), spark.table("plans"))


# --------------------------------------------------------------------------
# A8, JSON-serialized form (VERDICT r3 #5) — the nested ARRAY<STRUCT>
# canonically serialized per group, so the driver hash covers the FULL
# nested payload (ids, titles, optional flags, and bit order), not just
# the flat summaries. Spark's to_json writes compact JSON
# ({"id":1,"title":"X","optional":true}); the oracle rebuilds the same
# bytes with string_agg — handcrafted rather than DuckDB's json_object
# so the serialization contract is explicit on both sides. Titles get
# the same backslash/quote escaping Spark's to_json applies (fixtures
# regenerate every round; content is NOT contractual — invariant 3), and
# the Spark side raises loudly on control characters, which to_json
# would \\u-escape but the handcrafted oracle does not.
# --------------------------------------------------------------------------

#: DuckDB-side JSON string escape matching Spark's to_json for all
#: non-control characters: backslash first, then double-quote. (In a
#: DuckDB standard string literal a backslash is NOT an escape, so
#: '\' below is one literal backslash.)
ORACLE_JSON_ESCAPE = """replace(replace({col}, '\\', '\\\\'), '"', '\\"')"""


@register(
    "a08_get_plan_groups_json",
    oracle=f"""
WITH {ORACLE_PLANS_CTE},
{ORACLE_PLAN_GROUPS_CTE}
SELECT g.id AS group_id, g.title AS group_title, g.mask,
       '[' || string_agg(
           '{{"id":' || CAST(p.id AS VARCHAR)
             || ',"title":"' || {ORACLE_JSON_ESCAPE.format(col="p.title")}
             || '","optional":' || CAST(p.optional AS VARCHAR) || '}}',
           ',' ORDER BY (p.id < 0), p.id) || ']' AS plans_json
FROM plan_groups_d g
JOIN plans_d p ON (g.mask & p.id) <> 0
GROUP BY g.id, g.title, g.mask
""",
    doc="getPlanGroups nested payload serialized to canonical JSON: the full ARRAY<STRUCT> is value-hashed.",
    tags=("A8",),
)
def a08_get_plan_groups_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    nested = expand_groups_nested(spark.table("plan_groups"), spark.table("plans"))
    # to_json escapes control chars as \uXXXX; the handcrafted oracle
    # escapes only backslash/quote. Control chars in a title would be a
    # silent hash divergence — fail loudly here instead (per-group
    # check over a ≤64-element array; cost is nil).
    # a NULL title makes rlike → NULL → exists → NULL, which would fall
    # through to the control-char error with a misleading message (and
    # to_json's default ignoreNullFields would OMIT the field while the
    # oracle's NULL-propagating concat drops the whole element — a
    # silent divergence either way): check NULL separately and first.
    has_null = F.exists(F.col("plans"), lambda p: p["title"].isNull())
    has_ctl = F.coalesce(
        F.exists(F.col("plans"), lambda p: p["title"].rlike("[\\x00-\\x1F]")),
        F.lit(False),
    )
    return nested.select(
        F.col("id").alias("group_id"),
        F.col("title").alias("group_title"),
        "mask",
        F.when(has_null, F.raise_error(F.lit(
            "a08_get_plan_groups_json: NULL plan title — to_json would "
            "omit the field while the oracle's concat drops the element"
        ))).when(has_ctl, F.raise_error(F.lit(
            "a08_get_plan_groups_json: control character in a plan "
            "title — the handcrafted oracle serialization escapes "
            "only backslash/quote (see ORACLE_JSON_ESCAPE)"
        ))).otherwise(F.to_json(F.col("plans"))).alias("plans_json"),
    )


# --------------------------------------------------------------------------
# A8, driver-safe form — the same nested scan with the ARRAY<STRUCT>
# summarized to flat scalars (the driver's canonicalizer can't hash
# array cells; CLAUDE.md invariant 2). n_plans + the bit-ordered id list
# value-check the nested structure, including member order.
# --------------------------------------------------------------------------
@register(
    "a08_get_plan_groups_flat",
    oracle=f"""
WITH {ORACLE_PLANS_CTE},
{ORACLE_PLAN_GROUPS_CTE}
SELECT g.id AS group_id, g.title AS group_title, g.mask,
       CAST(COUNT(*) AS BIGINT) AS n_plans,
       string_agg(CAST(p.id AS VARCHAR), ',' ORDER BY (p.id < 0), p.id) AS plan_ids
FROM plan_groups_d g
JOIN plans_d p ON (g.mask & p.id) <> 0
GROUP BY g.id, g.title, g.mask
""",
    doc="getPlanGroups flattened: per-group member count + bit-ordered plan-id list.",
    tags=("A8",),
)
def a08_get_plan_groups_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    nested = expand_groups_nested(spark.table("plan_groups"), spark.table("plans"))
    return nested.select(
        F.col("id").alias("group_id"),
        F.col("title").alias("group_title"),
        "mask",
        F.size("plans").cast("bigint").alias("n_plans"),
        F.concat_ws(
            ",", F.transform(F.col("plans"), lambda p: p["id"].cast("string"))
        ).alias("plan_ids"),
    )


# --------------------------------------------------------------------------
# A9/A10 — INCR/DECR as an event-log aggregate.
# --------------------------------------------------------------------------
@register(
    "a09_counter_deltas",
    oracle=f"""
WITH {ORACLE_COUNTER_EVENTS_CTE}
SELECT op, COUNT(*) AS n_events, CAST(SUM(delta) AS BIGINT) AS net_delta
FROM counter_events_d
GROUP BY op
""",
    doc="increase/decreaseJoinedCount: per-op event counts and net delta.",
    tags=("A9", "A10"),
)
def a09_counter_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return (
        spark.table("counter_events")
        .groupBy("op")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("delta").cast("bigint").alias("net_delta"),
        )
    )


# --------------------------------------------------------------------------
# A11/A12 — SET override + GET with null-default: the current counter value.
# --------------------------------------------------------------------------
COUNTER_CURRENT_VALUE_SQL = f"""
WITH {ORACLE_COUNTER_EVENTS_CTE},
ls AS (
  SELECT ts, event_id, set_value FROM counter_events_d
  WHERE op = 'set' ORDER BY ts DESC, event_id DESC LIMIT 1
)
SELECT CAST(
  COALESCE((SELECT set_value FROM ls), 0)
  + COALESCE((SELECT SUM(d.delta) FROM counter_events_d d
              WHERE d.op <> 'set'
                AND ((SELECT COUNT(*) FROM ls) = 0
                     OR d.ts > (SELECT ts FROM ls)
                     OR (d.ts = (SELECT ts FROM ls)
                         AND d.event_id > (SELECT event_id FROM ls)))), 0)
  AS BIGINT) AS joined_count
"""


@register(
    "a11_counter_current_value",
    oracle=COUNTER_CURRENT_VALUE_SQL,
    doc="setJoinedCount last-writer-wins + getJoinedCount null→0 (server:62–83).",
    tags=("A11", "A12"),
)
def a11_counter_current_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return current_counter_value(spark.table("counter_events"))


# --------------------------------------------------------------------------
# A9–A12 scaled out: the counter sharded per user (the degenerate single
# global counter is the key-less case above).
# --------------------------------------------------------------------------
@register(
    "a11_counter_per_key",
    oracle=f"""
WITH ce AS (
  SELECT user_id, ts, event_id,
         CASE event_type WHEN 'signup' THEN 'incr'
                         WHEN 'error' THEN 'decr'
                         ELSE 'set' END AS op,
         CAST(CASE event_type WHEN 'signup' THEN 1
                              WHEN 'error' THEN -1
                              ELSE 0 END AS BIGINT) AS delta,
         CASE WHEN event_type = 'purchase'
              THEN CAST(FLOOR(value) AS BIGINT) END AS set_value
  FROM events
  WHERE event_type IN ('signup', 'error', 'purchase')
),
ls AS (
  -- last SET per key, tie-broken by (ts, event_id) exactly like the
  -- global-counter oracle: duplicate-ts sets must not be ambiguous
  SELECT user_id, ts AS ls_ts, event_id AS ls_event_id,
         set_value AS ls_value
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                ORDER BY ts DESC, event_id DESC) AS rn
    FROM ce WHERE op = 'set'
  ) WHERE rn = 1
)
SELECT c.user_id,
       CAST(COALESCE(l.ls_value, 0)
            + COALESCE(SUM(CASE WHEN c.op <> 'set'
                                 AND (l.ls_ts IS NULL OR c.ts > l.ls_ts
                                      OR (c.ts = l.ls_ts
                                          AND c.event_id > l.ls_event_id))
                            THEN c.delta ELSE 0 END), 0) AS BIGINT)
         AS joined_count
FROM ce c LEFT JOIN ls l USING (user_id)
GROUP BY c.user_id, l.ls_value, l.ls_ts, l.ls_event_id
""",
    doc="Per-key counters: last-SET-wins + trailing deltas sharded by user (A9-A12 at scale).",
    tags=("A9", "A10", "A11", "A12"),
)
def a11_counter_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_plan_service_spark.operators.counter import keyed_counter_values
    from hive_plan_service_spark.sources.catalog import counter_events_from

    register_tables(spark, sf_dir)
    ce = counter_events_from(spark.table("events")).join(
        spark.table("events").select("event_id", "user_id"), "event_id"
    )
    return keyed_counter_values(ce, "user_id")
