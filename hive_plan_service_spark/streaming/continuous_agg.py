"""Continuous aggregate — an incrementally-maintained time rollup.

The "hypertable rollup" pattern: a materialized hourly rollup of the
event stream kept fresh by ``foreachBatch``. Each micro-batch
re-aggregates ONLY the hour buckets it touches and overwrites exactly
those partitions (dynamic partition overwrite) — the incremental-refresh
analog of the reference's cache refresh (processor §3.2), but windowed:
work per batch is O(touched buckets), not O(history).

Store layout (two roots, two write frequencies):

* ``seen_raw/epoch=N`` — per-batch partial aggregates, FLAT epoch
  partitioning with ``day_bucket`` as a day-sorted data column. Written
  every batch, so the layout is optimized for write cost: one directory,
  one commit (a (day, epoch) directory tree cost ~1 s/batch in directory
  and commit overhead alone for a 30-day batch); day filtering on
  re-read comes from parquet row-group stats.
* ``seen_base/day_bucket=D/epoch=-C-1`` — compacted bases, day-
  partitioned for static pruning. Written only when more than
  ``compact_after`` raw epochs are live, so the expensive layout is paid
  rarely, and a years-long stream re-reads O(compact_after) raw files
  plus the touched days' bases instead of O(#batches).

Crash safety follows streaming/epoch_store.py: every write is an
epoch-keyed dynamic partition overwrite (replay-idempotent), bases
declare their coverage in the partition value, readers apply the
newest-base read rule, and GC is lazy space reclamation.

Invariants (tested):
* after any prefix of batches, the rollup table equals the full
  recompute over all events seen so far;
* replaying a batch under the same epoch id leaves the rollup
  bit-identical — including a replay of an epoch that compacted;
* per-refresh staged input stays bounded as batches accumulate on a hot
  day (``compact_after``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_plan_service_spark.functions.exact import (
    epoch_seconds,
    floor_div,
    money,
)
from hive_plan_service_spark.sources.materialize import read_or_empty
from hive_plan_service_spark.streaming import epoch_store
from hive_plan_service_spark.streaming.source import events_stream

_PARTIAL_COLS = ("hour_bucket", "event_type", "n", "sv", "day_bucket")


class ContinuousHourlyRollup:
    """Maintains ``<workdir>/rollup`` parquet, partitioned by day bucket,
    from a store of per-epoch PARTIAL aggregates.

    ``track_batch_input_rows`` (tests only) records how many staged
    partial rows each refresh actually re-aggregated — the O(touched
    buckets) invariant is asserted, not assumed.
    """

    def __init__(
        self,
        spark: SparkSession,
        events_path: str,
        workdir: str,
        *,
        track_batch_input_rows: bool = False,
        compact_after: int = 8,
    ):
        self.spark = spark
        self.events_path = events_path
        self.out = os.path.join(workdir, "rollup")
        self.ckpt = os.path.join(workdir, "ckpt_rollup")
        self.seen_raw = os.path.join(workdir, "seen_raw")
        self.seen_base = os.path.join(workdir, "seen_base")
        self.track = track_batch_input_rows
        self.compact_after = compact_after
        self.batch_input_rows: list[int] = []

    # -- write helpers ------------------------------------------------------

    def _write_day_partitioned(
        self,
        df: DataFrame,
        path: str,
        n_days: int,
        partition_cols: tuple[str, ...] = ("day_bucket",),
    ) -> None:
        """Day-partitioned dynamic-overwrite write with one task PER DAY.

        AQE would coalesce the tiny shuffle to a single task that then
        creates every day directory sequentially (measured 1.06 s vs
        0.58 s for the same 30-day write); partials are a few rows per
        day, so per-day tasks are pure parallel-commit win.
        """
        conf = self.spark.conf
        before = conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        try:
            epoch_store.write_partitions(
                df.repartition(max(n_days, 1), "day_bucket"),
                path,
                *partition_cols,
            )
        finally:
            conf.set("spark.sql.adaptive.coalescePartitions.enabled", before)

    # -- refresh ------------------------------------------------------------

    def _refresh_buckets(self, batch_df: DataFrame, epoch_id: int) -> None:
        # stage PARTIAL aggregates, not raw rows: count and exact DECIMAL
        # sum per (hour, type) are commutative monoids, so touched
        # buckets re-aggregate from per-epoch partials losslessly —
        # the store is O(buckets seen), not O(events seen). At 100 TB
        # this is the difference between re-reading a day of events and
        # re-reading ≤ 24 × #types partial rows per day.
        #
        # A one-file feed's micro-batch arrives as ONE partition; pay a
        # cheap shuffle of the raw rows so the partial aggregation uses
        # the whole cluster (the _spread rule, CLAUDE.md invariant 14 —
        # measured 2× on the sf0.1 batch).
        par = self.spark.sparkContext.defaultParallelism
        if batch_df.rdd.getNumPartitions() < par:
            batch_df = batch_df.repartition(par, "event_id")
        staged = (
            # FLOOR bucket emission (r9 lint, r8 numfuzz class):
            # unix_timestamp/div truncate toward zero — the wrong hour
            # for pre-1970 sub-second events. exact.py floors.
            batch_df.withColumn(
                "hour_bucket", floor_div(epoch_seconds("ts"), 3600)
            )
            .groupBy("hour_bucket", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(money("value")).alias("sv"),  # exact decimal partial
            )
            .withColumn("day_bucket", floor_div(F.col("hour_bucket"), 24))
        )
        # the staged aggregate feeds several consumers; persist the
        # O(buckets) rows so the raw batch is aggregated exactly once
        staged = staged.persist()
        try:
            if staged.limit(1).count() == 0:
                return
            # one flat directory, one commit; day-sorted single file so
            # later touched-day reads prune on row-group stats
            epoch_store.write_epoch(
                staged.coalesce(1)
                .sortWithinPartitions("day_bucket")
                .select(*_PARTIAL_COLS),
                self.seen_raw,
                epoch_id,
            )
            raw_epochs = epoch_store.scan_epoch_dirs(self.seen_raw)
            have_bases = os.path.isdir(self.seen_base) and any(
                os.listdir(self.seen_base)
            )
            if not have_bases and set(raw_epochs) == {epoch_id}:
                # FAST PATH — this epoch is the only live state (first
                # batch, or its crash-replay after the overwrite above):
                # the merged view IS the staged aggregate, no re-read.
                if self.track:
                    self.batch_input_rows.append(staged.count())
                self._write_day_partitioned(
                    self._public(staged), self.out, n_days=par
                )
                return
            # bounded control-flow collect — one BIGINT per touched day —
            # the literal IN static-prunes base day directories at scan
            # planning and row-group-prunes the raw files
            touched = [
                r["day_bucket"]
                for r in staged.select("day_bucket").distinct().collect()
            ]
            touched_seen = self._read_partials(touched)
            if self.track:
                self.batch_input_rows.append(touched_seen.count())
            # merge partials across epochs: sums of counts / exact decimal
            # sums — associative, so any epoch arrival order yields the
            # full recompute bit-for-bit
            merged = (
                touched_seen.groupBy("hour_bucket", "event_type")
                .agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))
                .withColumn("day_bucket", floor_div(F.col("hour_bucket"), 24))
            ).persist()
            self._write_day_partitioned(
                self._public(merged), self.out, n_days=len(touched)
            )
            if len(raw_epochs) > self.compact_after:
                self._compact(epoch_id)
            merged.unpersist()
        finally:
            staged.unpersist()

    @staticmethod
    def _public(partials: DataFrame) -> DataFrame:
        """Public rollup projection: exact decimal → double at the edge."""
        return partials.select(
            "hour_bucket",
            "event_type",
            "n",
            F.col("sv").cast("double").alias("total_value"),
            "day_bucket",
        )

    def _read_partials(self, touched: list[int]) -> DataFrame:
        """Live partial rows for the touched days: newest base per day
        plus raw epochs beyond its coverage (epoch_store read rule)."""
        day_filter = F.col("day_bucket").isin(touched)
        raw = (
            self.spark.read.parquet(self.seen_raw)
            .filter(day_filter)
            .select(*_PARTIAL_COLS, "epoch")
        )
        if not os.path.isdir(self.seen_base):
            return raw  # no bases anywhere: every raw epoch is live
        base = (
            self.spark.read.parquet(self.seen_base)
            .filter(day_filter)
            .select(*_PARTIAL_COLS, "epoch")
        )
        return epoch_store.valid_partials(
            raw.unionByName(base), group_cols=("day_bucket",)
        )

    def _compact(self, epoch_id: int) -> None:
        """Fold ALL live raw epochs (every day they touch, not just this
        batch's days) into per-day base partials, then GC the raw dirs.

        Compacting every day present in the raw files is what makes the
        raw-epoch GC sound: a raw directory may hold days this batch did
        not touch, and it can only be deleted once each of its days is
        covered by a base. Days with NO live raw rows keep their old
        bases untouched (per-day coverage is independent), so a
        compaction rewrites O(days recently touched), never the full
        history — on a years-long stream the base for a cold day is
        written once and never again. Cost is O(live raw partial rows) —
        bounded by ``compact_after`` batches — paid once per
        ``compact_after`` batches.
        """
        raw = self.spark.read.parquet(self.seen_raw).select(
            *_PARTIAL_COLS, "epoch"
        )
        # bounded control-flow collect: distinct days inside ≤
        # compact_after+1 epochs of partials
        raw_days = [
            r["day_bucket"]
            for r in raw.select("day_bucket").distinct().collect()
        ]
        raw = raw.filter(F.col("day_bucket").isin(raw_days))
        if os.path.isdir(self.seen_base):
            raw = raw.unionByName(
                self.spark.read.parquet(self.seen_base)
                .filter(F.col("day_bucket").isin(raw_days))
                .select(*_PARTIAL_COLS, "epoch")
            )
        live = epoch_store.valid_partials(raw, group_cols=("day_bucket",))
        merged_all = (
            live.groupBy("hour_bucket", "event_type")
            .agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))
            .withColumn("day_bucket", floor_div(F.col("hour_bucket"), 24))
            .withColumn("epoch", F.lit(epoch_store.base_epoch(epoch_id)))
        ).persist()
        try:
            self._write_day_partitioned(
                merged_all,
                self.seen_base,
                len(raw_days),
                partition_cols=("day_bucket", "epoch"),
            )
            # lazy GC — correctness never depends on these deletes
            base = epoch_store.base_epoch(epoch_id)
            for day in raw_days:
                epoch_store.gc_stale_epochs(
                    os.path.join(self.seen_base, f"day_bucket={day}"), base
                )
            epoch_store.gc_stale_epochs(self.seen_raw, keep_epoch=None)
        finally:
            merged_all.unpersist()

    def run(self, max_files_per_trigger: int | None = None) -> DataFrame:
        epoch_store.drain(
            events_stream(
                self.spark,
                self.events_path,
                max_files_per_trigger=max_files_per_trigger,
            ),
            self._refresh_buckets,
            self.ckpt,
        )
        # empty feed (first boot): no batch ever materialized the rollup
        # — a zero-row frame in the public projection's shape
        return read_or_empty(
            self.spark,
            self.out,
            "hour_bucket bigint, event_type string, n bigint, "
            "total_value double, day_bucket bigint",
        )
