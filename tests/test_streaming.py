"""Watermark semantics under controlled arrival order.

The oracle-checked streaming queries replay everything in one batch, so
watermark drops can't surface there. Here we split the events into two
files arriving out of order (recent first, old second) and stream with
maxFilesPerTrigger=1: the second batch is entirely behind the watermark
and must be dropped in append mode.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from hive_plan_service_spark.sources.catalog import register_tables, table_path
from hive_plan_service_spark.streaming.source import events_stream
from hive_plan_service_spark.streaming.windows import (
    run_to_completion,
    tumbling_window_agg,
)


def _events(spark, path):
    """Events parquet with ``ts`` normalized to a real timestamp.

    Handles both fixture generations: BIGINT nanos (TIMESTAMP(NANOS)
    under nanosAsLong) and native timestamp[µs].
    """
    ev = spark.read.parquet(str(path))
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # µs fixtures surface as TIMESTAMP_NTZ; session tz is UTC so the cast
    # is wall-clock-identical and unlocks unix_micros/unix_timestamp
    return ev.withColumn("ts", F.col("ts").cast("timestamp"))


def _median_us(ev):
    """Median event time as epoch microseconds (engine-side, tz-proof)."""
    return ev.agg(
        F.expr("CAST(percentile_approx(unix_micros(ts), 0.5) AS BIGINT)")
    ).collect()[0][0]


def test_append_mode_watermark_guarantees(spark, sf_dir, tmp_path):
    """Append-mode guarantees under out-of-order arrival.

    Spark's watermark contract is one-directional: rows within the delay
    are never dropped; rows beyond it MAY still be aggregated (observed:
    Spark 4.1 aggregates a whole late file). The deterministic
    guarantees we hold the engine to:

    1. no window with end > final watermark is emitted (open windows
       are withheld in append mode);
    2. every window fully covered by in-watermark data is emitted and
       its counts match the batch ground truth.
    """
    register_tables(spark, sf_dir)
    ev = _events(spark, table_path(sf_dir, "events"))
    mid_us = _median_us(ev)

    feed = tmp_path / "feed"
    os.makedirs(feed)
    # recent half arrives FIRST → watermark advances past the old half
    ev.filter(F.unix_micros(F.col("ts")) >= mid_us).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "recent"))
    ev.filter(F.unix_micros(F.col("ts")) < mid_us).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "old"))

    def _move(src: str, name: str) -> None:
        part = next(
            p for p in os.listdir(tmp_path / src) if p.endswith(".parquet")
        )
        os.rename(tmp_path / src / part, feed / name)

    _move("recent", "0_recent.parquet")
    time.sleep(1.1)  # file source orders by modification time
    _move("old", "1_old.parquet")

    stream = events_stream(spark, str(feed), max_files_per_trigger=1)
    appended = run_to_completion(
        tumbling_window_agg(stream, "1 hour", watermark="1 hour"),
        output_mode="append",
    )
    full_df = (
        _events(spark, feed)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("ws"),
            "event_type",
            "n",
        )
    )
    full = {
        (r["ws"], r["event_type"]): r["n"] for r in full_df.collect()
    }
    got = {
        (r["window_start_epoch"], r["event_type"]): r["n"]
        for r in appended.collect()
    }
    max_us = ev.agg(F.max(F.unix_micros(F.col("ts")))).collect()[0][0]
    final_wm = max_us // 1_000_000 - 3600  # max event time − delay

    # (1) open windows (end > final watermark) are withheld
    withheld = {k for k in got if k[0] + 3600 > final_wm}
    assert not withheld, f"open windows leaked into append output: {withheld}"
    # (2) emitted windows match the batch ground truth exactly
    for k, n in got.items():
        assert full[k] == n
    # (3) every closed recent-half window was emitted (never-drop direction)
    mid_epoch = mid_us // 1_000_000
    expected_recent = {
        k for k in full if k[0] >= mid_epoch + 3600 and k[0] + 3600 <= final_wm
    }
    assert expected_recent <= set(got)


def test_stream_batch_equivalence_multi_batch(spark, sf_dir, tmp_path):
    """In-order multi-batch replay with a generous watermark loses nothing."""
    register_tables(spark, sf_dir)
    ev = _events(spark, table_path(sf_dir, "events"))
    mid_us = _median_us(ev)

    feed = tmp_path / "feed2"
    os.makedirs(feed)
    ev.filter(F.unix_micros(F.col("ts")) < mid_us).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "b0"))
    ev.filter(F.unix_micros(F.col("ts")) >= mid_us).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "b1"))
    for i, src in enumerate(["b0", "b1"]):
        part = next(
            p for p in os.listdir(tmp_path / src) if p.endswith(".parquet")
        )
        os.rename(tmp_path / src / part, feed / f"{i}.parquet")
        time.sleep(1.1)

    stream = events_stream(spark, str(feed), max_files_per_trigger=1)
    streamed = run_to_completion(
        tumbling_window_agg(stream, "1 hour", watermark="30 days"),
        output_mode="complete",
    )
    batch = (
        _events(spark, feed)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("ws"),
            "event_type",
            "n",
        )
    )
    s = {
        (r["window_start_epoch"], r["event_type"]): r["n"]
        for r in streamed.collect()
    }
    b = {(r["ws"], r["event_type"]): r["n"] for r in batch.collect()}
    assert s == b


def test_continuous_rollup_incremental_equals_full(spark, sf_dir, tmp_path):
    """Multi-batch incremental maintenance == full recompute (per prefix)."""
    import os
    import time as _time

    from hive_plan_service_spark.streaming.continuous_agg import (
        ContinuousHourlyRollup,
    )

    register_tables(spark, sf_dir)
    ev = _events(spark, table_path(sf_dir, "events"))
    mid_us = _median_us(ev)
    feed = tmp_path / "feed_rollup"
    os.makedirs(feed)
    ts_us = F.unix_micros(F.col("ts"))
    for i, cond in enumerate([ts_us < mid_us, ts_us >= mid_us]):
        ev.filter(cond).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"half{i}")
        )
        part = next(
            p for p in os.listdir(tmp_path / f"half{i}") if p.endswith(".parquet")
        )
        os.rename(tmp_path / f"half{i}" / part, feed / f"{i}.parquet")
        _time.sleep(1.1)

    maintainer = ContinuousHourlyRollup(
        spark, str(feed), str(tmp_path / "work"), track_batch_input_rows=True
    )
    rollup = maintainer.run(max_files_per_trigger=1)
    got = {
        (r["hour_bucket"], r["event_type"]): (r["n"], r["total_value"])
        for r in rollup.collect()
    }
    full = (
        _events(spark, feed)
        .withColumn("hour_bucket", F.expr("unix_timestamp(ts) div 3600"))
        .groupBy("hour_bucket", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("tv"),
        )
    )
    want = {
        (r["hour_bucket"], r["event_type"]): (r["n"], r["tv"])
        for r in full.collect()
    }
    assert got == want

    # incremental means incremental: the store holds per-epoch PARTIAL
    # aggregates, so batch 2 re-reads only the (hour, type, epoch)
    # partials of ITS touched days (incl. batch-1 partials on the
    # boundary day) — never raw history
    evr = _events(spark, feed).withColumn(
        "hour_bucket", F.expr("unix_timestamp(ts) div 3600")
    ).withColumn("day_bucket", F.expr("unix_timestamp(ts) div 86400"))

    def _partials(df):
        return df.select("hour_bucket", "event_type").distinct().count()

    b1, b2 = evr.filter(ts_us < mid_us), evr.filter(ts_us >= mid_us)
    second_days = [
        r["day_bucket"] for r in b2.select("day_bucket").distinct().collect()
    ]
    expected_batch2 = _partials(
        b1.filter(F.col("day_bucket").isin(second_days))
    ) + _partials(b2)
    assert maintainer.batch_input_rows == [_partials(b1), expected_batch2]
    assert expected_batch2 < evr.count(), "partial store not smaller than raw"


def test_stream_dedup_ingest_is_batch_split_invariant(spark, sf_dir, tmp_path):
    """Near-dup flags must not depend on how the feed is batched: a
    3-batch replay equals the single-batch run, and both equal the flags
    derived from the batch operator's pair set."""
    import os

    import hive_plan_service_spark.operators.dedup as dd
    from hive_plan_service_spark.sources.catalog import table_path
    from hive_plan_service_spark.streaming.dedup_ingest import (
        StreamingDedupIngest,
    )

    register_tables(spark, sf_dir)
    docs = spark.read.parquet(table_path(sf_dir, "documents"))

    # batch truth: doc is dup iff some smaller-id doc is an LSH match
    pairs = dd.minhash_lsh_pairs(docs, est_threshold=0.5, hash_fn="portable")
    dup_truth = {r["doc_b"] for r in pairs.collect()}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}

    # single batch
    one = StreamingDedupIngest(
        spark, table_path(sf_dir, "documents"), str(tmp_path / "one")
    ).run()
    flags_one = {r["doc_id"]: r["is_dup"] for r in one.collect()}

    # three batches split by doc_id range, arriving in id order
    feed = tmp_path / "feed_docs"
    os.makedirs(feed)
    ids = sorted(all_ids)
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
    conds = [
        F.col("doc_id") < cuts[0],
        (F.col("doc_id") >= cuts[0]) & (F.col("doc_id") < cuts[1]),
        F.col("doc_id") >= cuts[1],
    ]
    import time as _time

    for i, cond in enumerate(conds):
        part_dir = tmp_path / f"dpart{i}"
        docs.filter(cond).coalesce(1).write.mode("overwrite").parquet(
            str(part_dir)
        )
        part = next(p for p in os.listdir(part_dir) if p.endswith(".parquet"))
        os.rename(part_dir / part, feed / f"{i}.parquet")
        _time.sleep(1.1)

    three = StreamingDedupIngest(
        spark, str(feed), str(tmp_path / "three")
    ).run(max_files_per_trigger=1)
    flags_three = {r["doc_id"]: r["is_dup"] for r in three.collect()}

    assert set(flags_one) == all_ids
    assert flags_one == flags_three, "flags changed with batch split"
    assert {d for d, f in flags_one.items() if f} == dup_truth


def test_continuous_rollup_compaction_bounds_refresh_input(spark, sf_dir, tmp_path):
    """A hot day replayed across many epochs must NOT make each refresh
    re-read O(#batches) partial files: once live epochs exceed
    ``compact_after`` they fold into a base partial, so per-refresh
    staged input stays bounded — and the rollup still equals the full
    recompute, including after a crash-replay of the compacting epoch."""
    from hive_plan_service_spark.streaming.continuous_agg import (
        ContinuousHourlyRollup,
    )

    register_tables(spark, sf_dir)
    ev = _events(spark, table_path(sf_dir, "events"))
    min_day = ev.select(
        F.expr("min(unix_timestamp(ts) div 86400)").alias("d")
    ).collect()[0]["d"]
    hot = ev.filter(F.expr(f"unix_timestamp(ts) div 86400 = {min_day}"))
    buckets_day = (
        hot.select(
            F.expr("unix_timestamp(ts) div 3600").alias("h"), "event_type"
        )
        .distinct()
        .count()
    )
    n_batches = 12
    maintainer = ContinuousHourlyRollup(
        spark,
        table_path(sf_dir, "events"),
        str(tmp_path / "work_hot"),
        track_batch_input_rows=True,
        compact_after=3,
    )
    for e in range(n_batches):
        maintainer._refresh_buckets(
            hot.filter(F.col("event_id") % n_batches == e), epoch_id=e
        )
    # bounded: at most compact_after epoch partials + one base partial
    # are ever live, each holding ≤ buckets_day rows
    bound = (maintainer.compact_after + 2) * buckets_day
    assert max(maintainer.batch_input_rows) <= bound, (
        maintainer.batch_input_rows,
        bound,
    )
    # without compaction the LAST refresh alone would have read all 12
    # epoch partials — prove the bound is actually doing something
    assert maintainer.batch_input_rows[-1] < n_batches * buckets_day / 2

    def _rollup_state():
        return {
            (r["hour_bucket"], r["event_type"]): (r["n"], r["total_value"])
            for r in spark.read.parquet(maintainer.out).collect()
        }

    want = {
        (r["hour_bucket"], r["event_type"]): (r["n"], r["tv"])
        for r in hot.withColumn(
            "hour_bucket", F.expr("unix_timestamp(ts) div 3600")
        )
        .groupBy("hour_bucket", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("tv"),
        )
        .collect()
    }
    assert _rollup_state() == want
    # crash-replay of the final epoch (which may have compacted): the
    # read rule must ignore the re-staged rows against the base
    maintainer._refresh_buckets(
        hot.filter(F.col("event_id") % n_batches == n_batches - 1),
        epoch_id=n_batches - 1,
    )
    assert _rollup_state() == want, "replay after compaction double-counted"


def test_continuous_rollup_compaction_leaves_cold_days_alone(spark, sf_dir, tmp_path):
    """A compaction triggered by recent batches must not rewrite the
    bases of days with no live raw rows — on a years-long stream a cold
    day's base is written once, ever (O(recent) compaction cost)."""
    import os

    from hive_plan_service_spark.streaming.continuous_agg import (
        ContinuousHourlyRollup,
    )
    from hive_plan_service_spark.streaming import epoch_store

    register_tables(spark, sf_dir)
    ev = _events(spark, table_path(sf_dir, "events"))
    days = sorted(
        r["d"]
        for r in ev.select(
            F.expr("unix_timestamp(ts) div 86400").alias("d")
        ).distinct().collect()
    )
    assert len(days) >= 2
    day_a, day_b = days[0], days[1]
    of_day = lambda d: ev.filter(F.expr(f"unix_timestamp(ts) div 86400 = {d}"))  # noqa: E731

    m = ContinuousHourlyRollup(
        spark, table_path(sf_dir, "events"), str(tmp_path / "cold"),
        compact_after=2,
    )
    # epochs 0-2 hammer day A; the 3rd exceeds compact_after=2 raw dirs
    # and compacts, GC-ing every day-A raw row
    for e in range(3):
        m._refresh_buckets(of_day(day_a), epoch_id=e)
    a_dir = os.path.join(m.seen_base, f"day_bucket={day_a}")
    a_base_before = epoch_store.scan_epoch_dirs(a_dir)
    assert a_base_before and all(v < 0 for v in a_base_before)
    # epochs 3-6 hammer day B → second compaction; day A has no live raw
    # rows anywhere, so its base must not move
    for e in range(3, 7):
        m._refresh_buckets(of_day(day_b), epoch_id=e)
    b_dir = os.path.join(m.seen_base, f"day_bucket={day_b}")
    assert epoch_store.scan_epoch_dirs(b_dir), "day B never compacted"
    assert epoch_store.scan_epoch_dirs(a_dir) == a_base_before, (
        "cold day A's base was rewritten by day B's compaction"
    )
    # and the rollup is still the full recompute: each hammer epoch
    # re-fed the whole day, so day A buckets count 3x, day B 4x
    got = {
        (r["hour_bucket"], r["event_type"]): r["n"]
        for r in spark.read.parquet(m.out).collect()
    }
    want = {
        (r["hour_bucket"], r["event_type"]): r["n"]
        * (3 if r["hour_bucket"] // 24 == day_a else 4)
        for r in ev.filter(
            F.expr(f"unix_timestamp(ts) div 86400 in ({day_a}, {day_b})")
        )
        .withColumn("hour_bucket", F.expr("unix_timestamp(ts) div 3600"))
        .groupBy("hour_bucket", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_stream_dedup_ingest_replay_and_compaction(spark, sf_dir, tmp_path):
    """(1) Replaying an ingest epoch leaves flags AND the signature store
    identical (epoch-partitioned dynamic overwrite, not blind append).
    (2) With aggressive store compaction the many-batch flags still equal
    the batch operator's truth."""
    import hive_plan_service_spark.operators.dedup as dd
    from hive_plan_service_spark.streaming.dedup_ingest import (
        StreamingDedupIngest,
    )

    register_tables(spark, sf_dir)
    docs = spark.read.parquet(table_path(sf_dir, "documents"))

    # (1) replay idempotence
    ing = StreamingDedupIngest(
        spark, table_path(sf_dir, "documents"), str(tmp_path / "replay")
    )
    ing._ingest(docs, epoch_id=0)

    def _state():
        flags = {
            (r["doc_id"], r["is_dup"])
            for r in spark.read.parquet(ing.flags).collect()
        }
        store = spark.read.parquet(ing.store).count()
        return flags, store

    before = _state()
    ing._ingest(docs, epoch_id=0)  # crash-replay, same epoch
    assert _state() == before, "replayed ingest epoch appended duplicates"

    # (2) compaction preserves flags across many batches
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    n_batches = 6
    cuts = [ids[len(ids) * k // n_batches] for k in range(1, n_batches)]
    ing2 = StreamingDedupIngest(
        spark,
        table_path(sf_dir, "documents"),
        str(tmp_path / "compact"),
        compact_after=2,
    )
    lo = None
    for e, hi in enumerate(cuts + [None]):
        cond = F.lit(True) if lo is None else (F.col("doc_id") >= lo)
        if hi is not None:
            cond = cond & (F.col("doc_id") < hi)
        ing2._ingest(docs.filter(cond), epoch_id=e)
        lo = hi
    import os as _os

    live_dirs = [
        d for d in _os.listdir(ing2.store) if d.startswith("epoch=")
    ]
    assert len(live_dirs) <= ing2.compact_after + 2, live_dirs
    flags = {
        r["doc_id"]
        for r in spark.read.parquet(ing2.flags).collect()
        if r["is_dup"]
    }
    truth = {
        r["doc_b"]
        for r in dd.minhash_lsh_pairs(
            docs, est_threshold=0.5, hash_fn="portable"
        ).collect()
    }
    assert flags == truth


def test_continuous_rollup_batch_replay_is_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: re-running a batch with the SAME
    epoch id must leave the rollup bit-identical (the (day, epoch)
    dynamic-overwrite layout is the idempotence mechanism)."""
    from hive_plan_service_spark.streaming.continuous_agg import (
        ContinuousHourlyRollup,
    )

    register_tables(spark, sf_dir)
    ev = _events(spark, table_path(sf_dir, "events"))
    maintainer = ContinuousHourlyRollup(
        spark, table_path(sf_dir, "events"), str(tmp_path / "work_idem")
    )
    maintainer._refresh_buckets(ev, epoch_id=0)
    before = {
        (r["hour_bucket"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.read.parquet(maintainer.out).collect()
    }
    # crash-replay: the identical batch arrives again under the same epoch
    maintainer._refresh_buckets(ev, epoch_id=0)
    after = {
        (r["hour_bucket"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.read.parquet(maintainer.out).collect()
    }
    assert before == after, "replayed batch double-counted"


def test_epoch_writer_replay_replaces_only_its_partition(spark, tmp_path):
    """Replaying an epoch with the epoch writer overwrites that epoch's
    partition and nothing else: a second epoch's files survive with
    their names, sizes and mtimes untouched."""
    from hive_plan_service_spark.streaming import epoch_store

    store = str(tmp_path / "store")
    epoch_store.write_epoch(spark.range(0, 5), store, 0)
    epoch_store.write_epoch(spark.range(100, 103), store, 1)
    e1 = os.path.join(store, "epoch=1")

    def census(d):
        paths = {n: os.path.join(d, n) for n in os.listdir(d)}
        return {
            n: (os.path.getsize(p), os.path.getmtime(p))
            for n, p in paths.items()
        }

    e1_before = census(e1)
    time.sleep(0.01)
    epoch_store.write_epoch(spark.range(10, 12), store, 0)  # replay, new rows

    assert census(e1) == e1_before
    got = {(r["id"], r["epoch"]) for r in spark.read.parquet(store).collect()}
    assert got == {(10, 0), (11, 0), (100, 1), (101, 1), (102, 1)}


def test_state_store_provider_decision():
    """The provider helper encodes the MEASURED crossover (ROUND5_NOTES
    §6): in-heap HDFS wins while per-partition state is a small heap
    fraction (3.99M rows / 32 partitions — the measured point where
    HDFS beat RocksDB 7.2 s vs 14.5 s); RocksDB only when per-partition
    state approaches executor heap. Monotone in state size."""
    from hive_plan_service_spark.streaming.windows import (
        HDFS_BACKED_PROVIDER,
        ROCKSDB_PROVIDER,
        choose_state_store_provider,
    )

    # the measured point: 3.99M rows, 32 partitions → HDFS (the winner)
    assert (
        choose_state_store_provider(3_990_000, partitions=32)
        == HDFS_BACKED_PROVIDER
    )
    # 100 TB-rate shape: 1B state rows over 256 partitions → ~2 GiB per
    # partition ≫ the heap budget → RocksDB
    assert (
        choose_state_store_provider(1_000_000_000, partitions=256)
        == ROCKSDB_PROVIDER
    )
    # monotone: once RocksDB, more state never flips back
    seen_rocks = False
    for rows in (10**5, 10**6, 10**7, 10**8, 10**9, 10**10):
        cls = choose_state_store_provider(rows, partitions=64)
        if cls == ROCKSDB_PROVIDER:
            seen_rocks = True
        else:
            assert not seen_rocks, "decision not monotone in state rows"
    assert seen_rocks


def test_apply_state_store_conf_sets_runtime_knob(spark):
    """apply_state_store_conf must set the runtime-settable providerClass
    on a live session and return the chosen class."""
    from hive_plan_service_spark.streaming.windows import (
        HDFS_BACKED_PROVIDER,
        apply_state_store_conf,
    )

    try:
        cls = apply_state_store_conf(spark, 100_000, partitions=32)
        assert cls == HDFS_BACKED_PROVIDER
        assert (
            spark.conf.get("spark.sql.streaming.stateStore.providerClass")
            == cls
        )
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
