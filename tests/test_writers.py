"""Heap-safe parquet writing (sources/writers.py) — found by the r6
spill certification: parquet row-group buffers live on unmanaged JVM
heap (they cannot spill), so concurrent wide-row write tasks must size
row groups from the heap actually available."""

from __future__ import annotations

import pytest

from hive_plan_service_spark.sources.writers import (
    parse_mem,
    safe_parquet_block_bytes,
    write_parquet_heap_safe,
)


def test_parse_mem_units():
    assert parse_mem("4g") == 4 << 30
    assert parse_mem("512m") == 512 << 20
    assert parse_mem("1024k") == 1 << 20
    assert parse_mem("2048") == 2048 << 20  # bare number = MiB (Spark rule)
    assert parse_mem("4G") == 4 << 30
    with pytest.raises(ValueError):
        parse_mem("lots")


def test_block_size_clamps(spark):
    from hive_plan_service_spark.sources.writers import jvm_heap_bytes

    default = safe_parquet_block_bytes(spark)
    assert (1 << 20) <= default <= (128 << 20)
    # a tiny budget fraction must hit the floor, never zero
    assert safe_parquet_block_bytes(spark, heap_budget_fraction=1e-9) == 1 << 20
    # a huge fraction caps at the parquet default (narrow rows keep the
    # scan-efficient 128 MiB row groups)
    assert safe_parquet_block_bytes(spark, heap_budget_fraction=1e9) == 128 << 20
    # budget arithmetic against the ACTUAL defaults (r6 ADVICE: the old
    # 0.25·heap bound would survive an 8× budget regression): all
    # concurrent writers' buffers fit the 0.03125 default fraction of
    # the REAL running-JVM heap, floored at 1 MiB per core
    heap = jvm_heap_bytes(spark)
    assert heap is not None and heap > (4 << 30)  # 16g test session
    cores = spark.sparkContext.defaultParallelism
    assert default * cores <= max(0.03125 * heap, cores * (1 << 20))


def test_block_size_uses_running_jvm_heap(spark, monkeypatch):
    """r6 VERDICT #5: on a plain-local session the block size must come
    from Runtime.maxMemory() (the real -Xmx), NOT the often-unset
    ``spark.driver.memory`` conf whose old "1g" default shrank row
    groups 16× on a roomy driver-provided session."""
    import hive_plan_service_spark.sources.writers as wr

    monkeypatch.setattr(wr, "jvm_heap_bytes", lambda s: 256 << 30)
    cores = spark.sparkContext.defaultParallelism
    expect = min(128 << 20, int((256 << 30) * 0.03125 / cores))
    assert wr.safe_parquet_block_bytes(spark) == expect
    # and the fallback only engages when the gateway read fails
    monkeypatch.setattr(wr, "jvm_heap_bytes", lambda s: None)
    heap = parse_mem(spark.conf.get("spark.driver.memory", "1g"))
    expect = max(1 << 20, min(128 << 20, int(heap * 0.03125 / cores)))
    assert wr.safe_parquet_block_bytes(spark) == expect


def test_write_heap_safe_roundtrip(spark, tmp_path):
    df = spark.range(1000).selectExpr(
        "id", "transform(sequence(1, 64), i -> cast(id * i as float)) AS vec"
    )
    path = str(tmp_path / "wide")
    block = write_parquet_heap_safe(df, path)
    assert (1 << 20) <= block <= (128 << 20)
    back = spark.read.parquet(path)
    assert back.count() == 1000
    assert back.agg({"id": "sum"}).collect()[0][0] == 499500


def test_apply_wide_row_conf_ratchets_down_only(spark):
    """The sticky session conf may only move DOWN toward the heap-safe
    value — a user's explicit lower setting is never raised, and on a
    roomy heap the computed value equals the defaults (no-op)."""
    from hive_plan_service_spark.session import apply_wide_row_conf

    keys = (
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        "spark.sql.inMemoryColumnarStorage.batchSize",
        "spark.sql.parquet.columnarReaderBatchSize",
    )
    before = {k: spark.conf.get(k) for k in keys}
    try:
        # explicit user setting below any computed value must survive
        for k in keys:
            spark.conf.set(k, "100")
        eff = apply_wide_row_conf(spark, 768 * 8)
        assert all(v == 100 for v in eff.values())
        assert all(spark.conf.get(k) == "100" for k in keys)
        # from the defaults, the conf can only shrink (or stay)
        for k in keys:
            spark.conf.set(k, "10000")
        eff = apply_wide_row_conf(spark, 1 << 30)  # absurdly wide
        assert all(v == 256 for v in eff.values())  # heap_scaled floor
        assert all(spark.conf.get(k) == "256" for k in keys)
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def test_arrow_batch_rows_scales_with_row_width(spark):
    """Wide rows shrink the Arrow batch (JNI-pinned, unmanaged — the
    same class as parquet writer buffers); narrow rows keep the 10k
    default; clamps hold at both ends."""
    from hive_plan_service_spark.session import heap_scaled_rows

    narrow = heap_scaled_rows(spark, 100)
    wide = heap_scaled_rows(spark, 768 * 8)
    assert narrow == 10_000
    assert 256 <= wide <= 10_000
    assert wide <= narrow
    # floor: an absurdly wide row still yields a workable batch
    assert heap_scaled_rows(spark, 1 << 30) == 256
    # cap: tiny rows never exceed the default
    assert heap_scaled_rows(spark, 1) == 10_000
