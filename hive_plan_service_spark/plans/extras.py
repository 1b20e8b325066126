"""Closure completions: the operator variants SURVEY.md §2.B names that
the first waves didn't cover — full outer join, GROUPING SETS, pivot,
deterministic variance/stddev, grouped-map pandas UDF, map functions,
interval arithmetic, seeded sampling, approximate percentiles.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_plan_service_spark.functions.exact import epoch_micros, epoch_seconds, floor_div, money
from hive_plan_service_spark.plans.registry import register
from hive_plan_service_spark.sources.catalog import register_tables


# --------------------------------------------------------------------------
# B5 — full outer join: suppliers vs customers per nation key.
# --------------------------------------------------------------------------
@register(
    "b05_join_full_outer",
    oracle="""
      SELECT COALESCE(c.k, s.k) AS nationkey,
             COALESCE(c.n_cust, 0) AS n_cust,
             COALESCE(s.n_supp, 0) AS n_supp
      FROM (SELECT CAST(c_nationkey AS BIGINT) AS k, COUNT(*) AS n_cust
            FROM customer GROUP BY 1) c
      FULL OUTER JOIN (SELECT CAST(s_nationkey AS BIGINT) AS k, COUNT(*) AS n_supp
            FROM supplier GROUP BY 1) s
        ON c.k = s.k
    """,
    doc="Full outer join with coalesced keys and zero-defaults on both sides.",
    tags=("B5",),
)
def b05_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    c = (
        spark.table("customer")
        .groupBy(F.col("c_nationkey").cast("bigint").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        spark.table("supplier")
        .groupBy(F.col("s_nationkey").cast("bigint").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return c.join(s, "k", "full").select(
        F.col("k").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


# --------------------------------------------------------------------------
# B10 — explicit GROUPING SETS (SQL form; rollup/cube are the shorthands).
# --------------------------------------------------------------------------
@register(
    "b10_grouping_sets",
    oracle="""
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      HAVING COUNT(*) > 0
    """,
    doc="GROUPING SETS with disjoint groupings in one pass (oracle "
        "HAVING: Spark emits 0 rows on empty input, DuckDB the () row — "
        "exact on non-empty).",
    tags=("B10",),
)
def b10_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# --------------------------------------------------------------------------
# B9 — pivot: wide per-status order counts (oracle spells the CASEs).
# --------------------------------------------------------------------------
@register(
    "b09_pivot",
    oracle="""
      SELECT o_orderpriority,
             COALESCE(COUNT(*) FILTER (WHERE o_orderstatus = 'F'), 0) AS F,
             COALESCE(COUNT(*) FILTER (WHERE o_orderstatus = 'O'), 0) AS O,
             COALESCE(COUNT(*) FILTER (WHERE o_orderstatus = 'P'), 0) AS P
      FROM orders GROUP BY o_orderpriority
    """,
    doc="pivot(status) -> one count column per status value.",
    tags=("B9",),
)
def b09_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return (
        spark.table("orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0, ["F", "O", "P"])
    )


# --------------------------------------------------------------------------
# B9 — variance / stddev, deterministically: the builtins accumulate
# doubles in shuffle order, so both sides compute from exact decimal sums
# (Σx, Σx²) with identical IEEE ops after the cast.
# --------------------------------------------------------------------------
@register(
    "b09_variance_stddev",
    oracle="""
      WITH s AS (
        SELECT c_nationkey,
               COUNT(*) AS n,
               CAST(CAST(SUM((CASE WHEN abs(c_acctbal) < 0.005 THEN CAST(0 AS DECIMAL(19,2)) ELSE CAST(CAST(c_acctbal AS VARCHAR) AS DECIMAL(19,2)) END)) AS VARCHAR) AS DOUBLE) AS sx,
               CAST(CAST(SUM((CASE WHEN abs(c_acctbal) < 0.005 THEN CAST(0 AS DECIMAL(19,2)) ELSE CAST(CAST(c_acctbal AS VARCHAR) AS DECIMAL(19,2)) END)
                             * (CASE WHEN abs(c_acctbal) < 0.005 THEN CAST(0 AS DECIMAL(19,2)) ELSE CAST(CAST(c_acctbal AS VARCHAR) AS DECIMAL(19,2)) END)) AS VARCHAR) AS DOUBLE) AS sxx
        FROM customer GROUP BY c_nationkey
      )
      SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
             (sxx - sx * sx / n) / (n - 1) AS var_samp_acctbal,
             sqrt((sxx - sx * sx / n) / (n - 1)) AS stddev_acctbal
      FROM s WHERE n > 1
    """,
    doc="Order-independent var_samp/stddev from exact Σx, Σx².",
    tags=("B9",),
)
def b09_variance_stddev(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    bal = money("c_acctbal")
    s = (
        spark.table("customer")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(bal).cast("double").alias("sx"),
            F.sum(bal * bal).cast("double").alias("sxx"),
        )
        .filter(F.col("n") > 1)
    )
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)
    return s.select(
        F.col("c_nationkey").cast("bigint").alias("nationkey"),
        var.alias("var_samp_acctbal"),
        F.sqrt(var).alias("stddev_acctbal"),
    )


# --------------------------------------------------------------------------
# B26 — grouped-map pandas UDF (applyInPandas): per-nation rank of
# customers. Integer output keeps the Arrow path value-checkable.
# --------------------------------------------------------------------------
@register(
    "b26_grouped_map_rank",
    oracle="""
      SELECT c_custkey,
             CAST(c_nationkey AS BIGINT) AS nationkey,
             CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey
                  ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS bal_rank
      FROM customer
    """,
    doc="applyInPandas per-group transform == window rank ground truth.",
    tags=("B26",),
)
def b26_grouped_map_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)

    def rank_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["c_acctbal", "c_custkey"], ascending=[False, True]
        ).reset_index(drop=True)
        pdf["bal_rank"] = pdf.index + 1
        return pdf[["c_custkey", "nationkey", "bal_rank"]]

    return (
        spark.table("customer")
        .select(
            "c_custkey",
            F.col("c_nationkey").cast("bigint").alias("nationkey"),
            "c_acctbal",
        )
        .groupBy("nationkey")
        .applyInPandas(
            rank_group, schema="c_custkey bigint, nationkey bigint, bal_rank bigint"
        )
    )


# --------------------------------------------------------------------------
# B19 — map functions: construct, extract, size.
# --------------------------------------------------------------------------
@register(
    "b19_map_functions",
    oracle="""
      SELECT p_partkey,
             CAST(p_size AS DOUBLE) AS size_val,
             p_retailprice AS price_val,
             CAST(2 AS BIGINT) AS map_n
      FROM part
    """,
    doc="create_map / element_at / map_size (oracle computes the extracted values directly).",
    tags=("B19",),
)
def b19_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    m = F.create_map(
        F.lit("size"), F.col("p_size").cast("double"),
        F.lit("price"), F.col("p_retailprice"),
    )
    return spark.table("part").select(
        "p_partkey",
        F.element_at(m, "size").alias("size_val"),
        F.element_at(m, "price").alias("price_val"),
        F.size(m).cast("bigint").alias("map_n"),
    )


# --------------------------------------------------------------------------
# B17 — interval arithmetic: add_months / date_add with month clamping.
# --------------------------------------------------------------------------
@register(
    "b17_interval_arithmetic",
    oracle="""
      SELECT o_orderkey,
             CAST(((epoch_us(o_orderdate + INTERVAL 3 MONTH) - ((epoch_us(o_orderdate + INTERVAL 3 MONTH) % 1000000 + 1000000) % 1000000)) // 1000000) AS BIGINT) AS plus_3mo_epoch,
             CAST(((epoch_us(CAST(o_orderdate AS DATE) + 10) - ((epoch_us(CAST(o_orderdate AS DATE) + 10) % 1000000 + 1000000) % 1000000)) // 1000000) AS BIGINT) AS plus_10d_epoch
      FROM orders
    """,
    doc="add_months (end-of-month clamped) and day arithmetic, epoch-compared.",
    tags=("B17",),
)
def b17_interval_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    o = spark.table("orders")
    return o.select(
        "o_orderkey",
        epoch_seconds(F.col("o_orderdate") + F.expr("INTERVAL 3 MONTH"))
        .alias("plus_3mo_epoch"),
        epoch_seconds(
            F.date_add(F.col("o_orderdate").cast("date"), 10).cast("timestamp")
        )
        .alias("plus_10d_epoch"),
    )


# --------------------------------------------------------------------------
# B13 — seeded sampling: engine-deterministic, cross-engine-free (rows-only).
# --------------------------------------------------------------------------
@register(
    "b13_sample_seeded",
    oracle=None,
    doc="Bernoulli sample(0.1, seed=42) — deterministic per engine, sampler-specific values.",
    tags=("B13",),
)
def b13_sample_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    # NB: the (fraction, seed=...) overload silently drops the seed in
    # PySpark 4.1 (fresh draw per invocation); only the explicit
    # (withReplacement, fraction, seed) form is reproducible.
    return spark.table("orders").sample(False, 0.1, 42).select("o_orderkey")


# --------------------------------------------------------------------------
# B11 — approximate percentiles (t-digest/GK sketches differ per engine).
# --------------------------------------------------------------------------
@register(
    "b11_approx_percentile",
    oracle=None,
    doc="approx_percentile p50/p95 as flat scalars — sketch-based, rows-only.",
    tags=("B11",),
)
def b11_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    # scalar columns, not percentile_approx(..., [0.5, 0.95])'s array —
    # array cells break the driver's rows-only canonicalizer (round-1 red)
    return (
        spark.table("orders")
        .groupBy("o_orderstatus")
        .agg(
            F.percentile_approx("o_totalprice", 0.5).alias("p50"),
            F.percentile_approx("o_totalprice", 0.95).alias("p95"),
        )
    )


# --------------------------------------------------------------------------
# B11 canonical — approximate aggregates via PORTABLE sketches, so the
# DuckDB oracle recomputes the estimate bit-for-bit (the same move that
# converted the MinHash/SimHash slots; engine HLL/GK sketches have no
# cross-engine twin and live on in b11_approx_aggregates_native):
#
# * distinct count — KMV (k-minimum-values): keep the K smallest distinct
#   avalanched 31-bit hashes per group (K=512 keeps the rank filter
#   under spark.sql.optimizer.windowGroupLimitThreshold, so the top-K
#   runs as a partial WindowGroupLimit before the shuffle); estimate =
#   (K−1)·M div kth-min,
#   exact when the group holds fewer than K distinct keys. Scale shape:
#   dedup shuffle on (group, h), then a WindowGroupLimit top-K whose
#   partial rank filter caps the final shuffle at K rows per input
#   partition per group.
# * p50/p95 — fixed-width histogram over exact cents (8192-cent bins):
#   map-side-combinable (group, bin) counts, cumulative window over the
#   tiny bin relation, threshold ceil(q·n) in pure integer arithmetic.
#   Estimate = bin midpoint in cents (≤ $40.96 off; BIGINT, no floats).
#
# All arithmetic is non-negative int64 (div == DuckDB //; squares bounded
# by the avalanche lift rule), so the value hash matches exactly.
# --------------------------------------------------------------------------
_KMV_K = 512
_HIST_BIN_CENTS = 8192

# DuckDB mirror of operators.dedup._AVALANCHE_SQL over a BIGINT key (the
# oracle's independent spelling; the Spark side uses dedup's template).
_AVALANCHE_SQL = (
    "((((({key} % 2147483647) + 700000001) * (({key} % 2147483647) + 700000001))"
    " % 2147483647 + 700000001)"
    " * (((({key} % 2147483647) + 700000001) * (({key} % 2147483647) + 700000001))"
    " % 2147483647 + 700000001)) % 2147483647"
)


@register(
    "b11_approx_aggregates",
    oracle=f"""
      WITH h AS (
        SELECT DISTINCT o_orderstatus,
               {_AVALANCHE_SQL.format(key="o_custkey")} AS h
        FROM orders
      ),
      r AS (
        SELECT o_orderstatus, h,
               row_number() OVER (PARTITION BY o_orderstatus ORDER BY h) AS rn
        FROM h
      ),
      kmv AS (
        SELECT o_orderstatus,
               CASE WHEN COUNT(*) < {_KMV_K} THEN COUNT(*)
                    ELSE {(_KMV_K - 1) * 2147483647} // MAX(h) END AS n_custs_est
        FROM r WHERE rn <= {_KMV_K} GROUP BY o_orderstatus
      ),
      bins AS (
        SELECT o_orderstatus,
               CAST((CASE WHEN abs(o_totalprice) < 0.005 THEN CAST(0 AS DECIMAL(19,2)) ELSE CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(19,2)) END) * 100 AS BIGINT)
                 // {_HIST_BIN_CENTS} AS bin,
               COUNT(*) AS n
        -- histogram over NON-NULL prices: a NULL bin sorts FIRST in
        -- Spark's window ORDER BY and LAST in DuckDB's (NULL-smallest
        -- vs NULL-greatest conventions), skewing both cumulative sums
        -- (r8 numeric-NULL sweep)
        FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1, 2
      ),
      cums AS (
        SELECT o_orderstatus, bin,
               SUM(n) OVER (PARTITION BY o_orderstatus ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(n) OVER (PARTITION BY o_orderstatus) AS total
        FROM bins
      ),
      quant AS (
        SELECT o_orderstatus,
               MIN(CASE WHEN cum >= (total + 1) // 2 THEN bin END)
                 * {_HIST_BIN_CENTS} + {_HIST_BIN_CENTS // 2} AS p50_est_cents,
               MIN(CASE WHEN cum >= (total * 95 + 99) // 100 THEN bin END)
                 * {_HIST_BIN_CENTS} + {_HIST_BIN_CENTS // 2} AS p95_est_cents
        FROM cums GROUP BY o_orderstatus
      )
      SELECT kmv.o_orderstatus, n_custs_est, p50_est_cents, p95_est_cents
      FROM kmv JOIN quant USING (o_orderstatus)
    """,
    doc="Portable approx aggregates: KMV distinct estimate + histogram p50/p95, oracle-exact.",
    tags=("B11",),
)
def b11_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from hive_plan_service_spark.operators.dedup import _AVALANCHE_SQL as ava

    register_tables(spark, sf_dir)
    orders = spark.table("orders")

    hashed = orders.select(
        "o_orderstatus",
        F.expr(ava.format(acc="(o_custkey % 2147483647)")).alias("h"),
    ).dropDuplicates(["o_orderstatus", "h"])
    w = Window.partitionBy("o_orderstatus").orderBy("h")
    kmv = (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("o_orderstatus")
        .agg(F.max("h").alias("kth"), F.count(F.lit(1)).alias("nk"))
        .select(
            "o_orderstatus",
            F.when(F.col("nk") < _KMV_K, F.col("nk"))
            .otherwise(F.expr(f"{(_KMV_K - 1) * 2147483647} div kth"))
            .alias("n_custs_est"),
        )
    )

    binned = (
        orders.filter(F.col("o_totalprice").isNotNull())
        .select(
            "o_orderstatus",
            (money("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("o_orderstatus", F.expr(f"cents div {_HIST_BIN_CENTS}").alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wcum = (
        Window.partitionBy("o_orderstatus")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("o_orderstatus")
    quant = (
        binned.select(
            "o_orderstatus",
            "bin",
            F.sum("n").over(wcum).alias("cum"),
            F.sum("n").over(wtot).alias("total"),
        )
        .groupBy("o_orderstatus")
        .agg(
            (
                F.min(F.when(F.expr("cum >= (total + 1) div 2"), F.col("bin")))
                * _HIST_BIN_CENTS
                + _HIST_BIN_CENTS // 2
            ).alias("p50_est_cents"),
            (
                F.min(F.when(F.expr("cum >= (total * 95 + 99) div 100"), F.col("bin")))
                * _HIST_BIN_CENTS
                + _HIST_BIN_CENTS // 2
            ).alias("p95_est_cents"),
        )
    )
    return kmv.join(quant, "o_orderstatus")


# --------------------------------------------------------------------------
# B11 native variant — the engine's own HLL + GK sketches (the throughput
# path, like the *_xx hash variants): estimates are engine-specific →
# rows-only; tests/test_canonical.py ties the values to exact twins.
# --------------------------------------------------------------------------
@register(
    "b11_approx_aggregates_native",
    oracle=None,
    doc="approx_count_distinct + approx p50/p95 per order status (engine sketches, rows-only).",
    tags=("B11",),
)
def b11_approx_aggregates_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return (
        spark.table("orders")
        .groupBy("o_orderstatus")
        .agg(
            F.approx_count_distinct("o_custkey").alias("n_custs_approx"),
            F.percentile_approx("o_totalprice", 0.5).alias("p50"),
            F.percentile_approx("o_totalprice", 0.95).alias("p95"),
        )
    )


# --------------------------------------------------------------------------
# A5/A6 (true-upsert form) — batch MERGE emulation: source rows replace
# same-key target rows. Here: re-price the first 50 parts by +10%.
# --------------------------------------------------------------------------
@register(
    "b25_batch_merge_upsert",
    oracle="""
      SELECT p_partkey,
             CAST(CASE WHEN p_partkey < 50
                  THEN (CASE WHEN abs(p_retailprice) < 0.005 THEN CAST(0 AS DECIMAL(19,2)) ELSE CAST(CAST(p_retailprice AS VARCHAR) AS DECIMAL(19,2)) END) * CAST(1.1 AS DECIMAL(3,1))
                  ELSE (CASE WHEN abs(p_retailprice) < 0.005 THEN CAST(0 AS DECIMAL(19,2)) ELSE CAST(CAST(p_retailprice AS VARCHAR) AS DECIMAL(19,2)) END) END AS DOUBLE) AS price,
             (p_partkey < 50) AS updated
      FROM part
    """,
    doc="MERGE-style keyed upsert (anti-join + union) — hset-by-key semantics.",
    tags=("A5", "A6", "B25"),
)
def b25_batch_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_plan_service_spark.operators.merge import merge_upsert

    register_tables(spark, sf_dir)
    target = spark.table("part").select(
        "p_partkey",
        money("p_retailprice").cast("double").alias("price"),
        F.lit(False).alias("updated"),
    )
    source = (
        spark.table("part")
        .filter(F.col("p_partkey") < 50)
        .select(
            "p_partkey",
            (money("p_retailprice") * F.lit(1.1).cast("decimal(3,1)"))
            .cast("double")
            .alias("price"),
            F.lit(True).alias("updated"),
        )
    )
    return merge_upsert(target, source, "p_partkey")


# --------------------------------------------------------------------------
# B1/B2 — partitioned layout + static partition pruning: write events
# partitioned by day, read back with a day filter. The filter must prune
# at the directory level (PartitionFilters, checked in tests/test_plans.py).
# --------------------------------------------------------------------------
@register(
    "b01_partitioned_prune",
    oracle="""
      SELECT event_id, event_type, CAST(((epoch_us(ts) - ((epoch_us(ts) % 86400000000 + 86400000000) % 86400000000)) // 86400000000) AS BIGINT) AS day_bucket
      FROM events
      WHERE CAST(((epoch_us(ts) - ((epoch_us(ts) % 86400000000 + 86400000000) % 86400000000)) // 86400000000) AS BIGINT)
            BETWEEN 19725 AND 19729
    """,
    doc="Hive-partitioned parquet write + partition-pruned read (day key).",
    tags=("B1", "B2"),
)
def b01_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    register_tables(spark, sf_dir)
    from hive_plan_service_spark.session import process_scratch_dir

    # PID-keyed: scratch_root() is machine-shared and a fixed subdir
    # under overwrite mode races with concurrent suites (r7 transient).
    out = process_scratch_dir(
        f"hpss_part_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    ev = spark.table("events").withColumn(
        "day_bucket", floor_div(epoch_micros("ts"), 86_400_000_000)
    )
    ev.select("event_id", "event_type", "day_bucket").write.mode(
        "overwrite"
    ).partitionBy("day_bucket").parquet(out)
    # explicit schema: a filtered-to-empty write leaves no files and
    # schema inference then fails (empty-fixture sweep, ROUND5_NOTES
    # §13); declaring it also pins day_bucket to bigint instead of
    # partition-value inference
    back = spark.read.schema(
        "event_id bigint, event_type string, day_bucket bigint"
    ).parquet(out)
    return back.filter(F.col("day_bucket").between(19725, 19729)).select(
        "event_id", "event_type", F.col("day_bucket").cast("bigint").alias("day_bucket")
    )


# --------------------------------------------------------------------------
# B6/B9 — correlated scalar subquery: Catalyst decorrelates it into an
# aggregate + join (RewriteCorrelatedScalarSubquery, SURVEY.md §4) — no
# per-row re-execution.
# --------------------------------------------------------------------------
@register(
    "b06_correlated_subquery",
    oracle="""
      SELECT c_custkey, c_nationkey
      FROM customer c
      WHERE c.c_acctbal > (
        SELECT AVG(c2.c_acctbal) FROM customer c2
        WHERE c2.c_nationkey = c.c_nationkey
      )
    """,
    doc="Correlated scalar subquery, decorrelated by Catalyst into agg+join.",
    tags=("B6", "B9"),
)
def b06_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_nationkey
        FROM customer c
        WHERE c.c_acctbal > (
          SELECT AVG(c2.c_acctbal) FROM customer c2
          WHERE c2.c_nationkey = c.c_nationkey
        )
        """
    )


# --------------------------------------------------------------------------
# B9/B18 — histogram via width_bucket: fixed-width binning in one pass.
# --------------------------------------------------------------------------
@register(
    "b09_histogram_width_bucket",
    oracle="""
      -- DuckDB 1.0 has no width_bucket: same semantics spelled manually
      -- (bucket 1..24 for [lo, hi), 0 below, 25 at/above hi)
      SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
                       WHEN o_totalprice >= 600000 THEN 25
                       ELSE FLOOR(o_totalprice / 25000) + 1 END AS BIGINT) AS bucket,
             COUNT(*) AS n
      FROM orders GROUP BY 1
    """,
    doc="Fixed-width histogram: width_bucket + count per bin.",
    tags=("B9", "B18"),
)
def b09_histogram_width_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return (
        spark.table("orders")
        .groupBy(
            F.width_bucket("o_totalprice", F.lit(0), F.lit(600000), F.lit(24))
            .cast("bigint")
            .alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# B14 — UNION ALL (bag semantics, no dedup shuffle).
# --------------------------------------------------------------------------
@register(
    "b14_union_all",
    oracle="""
      SELECT k FROM (
        SELECT CAST(c_nationkey AS BIGINT) AS k FROM customer
        UNION ALL
        SELECT CAST(s_nationkey AS BIGINT) FROM supplier
      )
    """,
    doc="Bag union — pure concatenation, no shuffle.",
    tags=("B14",),
)
def b14_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    c = spark.table("customer").select(F.col("c_nationkey").cast("bigint").alias("k"))
    s = spark.table("supplier").select(F.col("s_nationkey").cast("bigint").alias("k"))
    return c.unionAll(s)


# --------------------------------------------------------------------------
# B13 — LIMIT/OFFSET pagination under a deterministic total order.
# --------------------------------------------------------------------------
@register(
    "b13_limit_offset",
    oracle="""
      SELECT o_orderkey, o_totalprice
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 10 OFFSET 20
    """,
    doc="Keyset-free pagination: page 3 of the price ranking.",
    tags=("B13",),
)
def b13_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return (
        spark.table("orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .offset(20)
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


# --------------------------------------------------------------------------
# B25 — SCD2 dimension build: turn a change-event stream into
# validity-interval dimension rows (the warehouse upsert pattern the
# reference's cache refresh approximates with last-writer-wins).
# --------------------------------------------------------------------------
@register(
    "b25_scd2_dimension",
    oracle="""
      SELECT user_id,
             CAST(row_number() OVER w AS BIGINT) AS version,
             epoch_us(ts) AS valid_from_us,
             epoch_us(lead(ts) OVER w) AS valid_to_us,
             (lead(ts) OVER w IS NULL) AS is_current,
             CAST(FLOOR(value) AS BIGINT) AS tier_value
      FROM events
      WHERE event_type = 'purchase'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="SCD2 intervals from change events: lead() closes each version; open tail = current.",
    tags=("B25", "B12"),
)
def b25_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) build from the event log.

    Each purchase event opens a new version of the user's row;
    ``lead(ts)`` over (user, time) closes the previous one. One shuffle
    on the natural key, per-key windows only (invariant 12) — at 100 TB
    this is the standard dimension-maintenance shape: partition by
    entity, order by change time, no global coordination. Timestamps
    leave as epoch µs BIGINT (registry determinism rules); ``(ts,
    event_id)`` ordering pins duplicate-timestamp changes.
    """
    from pyspark.sql import Window

    register_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    return (
        spark.table("events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.row_number().over(w).cast("bigint").alias("version"),
            ts_us.alias("valid_from_us"),
            F.lead(ts_us).over(w).alias("valid_to_us"),
            F.lead("ts").over(w).isNull().alias("is_current"),
            F.floor("value").cast("bigint").alias("tier_value"),
        )
    )


# --------------------------------------------------------------------------
# B2/B4 — bloom pre-filtered join: fact rows that can't match are cut
# BEFORE the join shuffle; the final result stays exact (oracle-checked).
# --------------------------------------------------------------------------
@register(
    "b02_bloom_prefilter_join",
    oracle="""
      SELECT e.event_type,
             COUNT(*) AS n,
             CAST(CAST(SUM((CASE WHEN abs(e.value) < 0.005 THEN CAST(0 AS DECIMAL(19,2)) ELSE CAST(CAST(e.value AS VARCHAR) AS DECIMAL(19,2)) END)) AS VARCHAR) AS DOUBLE)
               AS total_value
      FROM events e
      JOIN customer c
        ON e.user_id = c.c_custkey AND c.c_mktsegment = 'BUILDING'
      GROUP BY 1
    """,
    doc="Explicit bloom runtime filter ahead of the join shuffle; exact result.",
    tags=("B2", "B4"),
)
def b02_bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join events to BUILDING-segment customers with a bloom pre-filter.

    The dim side builds a fixed-width position-set filter (1-row
    broadcast, size bounded by the filter width m — not by |dim|, so the
    hint is legal at any SF); the fact scan drops non-members before the
    exchange. At 100 TB this is the difference between shuffling every
    event and shuffling only the ~segment-fraction that can join. The
    subsequent equi-join re-verifies exactly, so bloom false positives
    never reach the output — which is why a DuckDB oracle (plain join)
    can check an approximate-structure plan.
    """
    from hive_plan_service_spark.operators.bloom import (
        bloom_build,
        bloom_prefilter,
    )

    register_tables(spark, sf_dir)
    dim = spark.table("customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    bits = bloom_build(dim, "c_custkey")
    fact = bloom_prefilter(spark.table("events"), "user_id", bits)
    # dim is SF-proportional: no broadcast hint on the join itself (AQE)
    joined = fact.join(dim, fact.user_id == dim.c_custkey, "inner")
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(money("value")).cast("double").alias("total_value"),
    )


# --------------------------------------------------------------------------
# B9 — table profiling (ANALYZE-style column statistics): the statistics
# collection pass that feeds optimizer estimates and data-quality
# monitoring. One scan, every stat map-side-combined.
# --------------------------------------------------------------------------
@register(
    "b09_table_profile",
    oracle="""
      SELECT 'l_quantity' AS col, COUNT(*) AS n,
             COUNT(*) - COUNT(l_quantity) AS n_null,
             COUNT(DISTINCT l_quantity) AS n_distinct,
             CAST((CASE WHEN abs(MIN(l_quantity)) < 0.0000005 THEN CAST(0 AS DECIMAL(28,6))
                   ELSE CAST(CAST(MIN(l_quantity) AS VARCHAR) AS DECIMAL(28,6)) END) AS VARCHAR) AS min_s,
             CAST((CASE WHEN abs(MAX(l_quantity)) < 0.0000005 THEN CAST(0 AS DECIMAL(28,6))
                   ELSE CAST(CAST(MAX(l_quantity) AS VARCHAR) AS DECIMAL(28,6)) END) AS VARCHAR) AS max_s
      FROM lineitem
      UNION ALL
      SELECT 'l_returnflag', COUNT(*), COUNT(*) - COUNT(l_returnflag),
             COUNT(DISTINCT l_returnflag),
             MIN(l_returnflag), MAX(l_returnflag)
      FROM lineitem
      UNION ALL
      SELECT 'l_shipdate', COUNT(*), COUNT(*) - COUNT(l_shipdate),
             COUNT(DISTINCT l_shipdate),
             CAST(MIN(l_shipdate) AS VARCHAR), CAST(MAX(l_shipdate) AS VARCHAR)
      FROM lineitem
    """,
    doc="ANALYZE-style per-column stats (count, nulls, distinct, min/max) in one scan.",
    tags=("B9",),
)
def b09_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column statistics for optimizer/data-quality use, single scan.

    All six stats per column are plain aggregates over ONE pass of the
    table (Spark plans the three-column profile as one HashAggregate —
    no per-column rescans), then a 3-row unpivot-by-union of the 1-row
    result. min/max surface as strings so heterogeneous column types
    share one schema — the profiler contract at any width. At 100 TB
    exact ``count(distinct)`` per column is the expensive stat: swap in
    ``approx_count_distinct`` per column where 2% error is acceptable
    (the oracle here pins the exact form at test scale).
    """
    register_tables(spark, sf_dir)
    li = spark.table("lineitem")
    agg = li.agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            x
            for c in ("l_quantity", "l_returnflag", "l_shipdate")
            for x in (
                F.count(c).alias(f"_nn_{c}"),
                F.countDistinct(c).alias(f"_nd_{c}"),
                # numeric min/max format through DECIMAL(28,6): Spark's
                # double->string is Java sci notation ('9.00...E15')
                # where DuckDB prints plain — µ-precision decimal is the
                # portable profiler contract (r8 numfuzz find)
                (F.min(c).cast("decimal(28,6)") if c == "l_quantity"
                 else F.min(c)).cast("string").alias(f"_min_{c}"),
                (F.max(c).cast("decimal(28,6)") if c == "l_quantity"
                 else F.max(c)).cast("string").alias(f"_max_{c}"),
            )
        ],
    )
    rows = [
        agg.select(
            F.lit(c).alias("col"),
            F.col("_n").alias("n"),
            (F.col("_n") - F.col(f"_nn_{c}")).alias("n_null"),
            F.col(f"_nd_{c}").alias("n_distinct"),
            F.col(f"_min_{c}").alias("min_s"),
            F.col(f"_max_{c}").alias("max_s"),
        )
        for c in ("l_quantity", "l_returnflag", "l_shipdate")
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out
