"""Materialization reads (read-or-empty) and engine-level edge checks."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from hive_plan_service_spark.sources.catalog import register_tables


def test_read_or_empty_on_missing_path(spark, tmp_path):
    from hive_plan_service_spark.sources.materialize import read_or_empty

    schema = "doc_id bigint, is_dup boolean"
    df = read_or_empty(spark, str(tmp_path / "never_written"), schema)
    assert df.schema.simpleString() == "struct<doc_id:bigint,is_dup:boolean>"
    assert df.count() == 0


def test_read_or_empty_after_gc_emptied_store(spark, tmp_path):
    """A store whose every epoch GC deleted is a directory with no
    parquet left (``_SUCCESS`` only): it reads as empty, not as a
    schema-inference failure."""
    from hive_plan_service_spark.sources.materialize import read_or_empty
    from hive_plan_service_spark.streaming import epoch_store

    store = str(tmp_path / "store")
    epoch_store.write_epoch(spark.range(3).withColumnRenamed("id", "k"), store, 0)
    epoch_store.gc_stale_epochs(store, keep_epoch=None)
    assert os.path.isdir(store)
    schema = T.StructType([T.StructField("k", T.LongType())])
    df = read_or_empty(spark, store, schema)
    assert df.schema == schema
    assert df.count() == 0


def test_skewed_join_correctness(spark, sf_dir):
    """90%-hot-key join: salted result == plain result (AQE or not)."""
    from hive_plan_service_spark.operators.joins import salted_join

    register_tables(spark, sf_dir)
    li = spark.table("lineitem").withColumn(
        "skew_key",
        F.when(F.col("l_linenumber") > 1, F.lit(0)).otherwise(F.col("l_orderkey")),
    ).select("skew_key", "l_quantity")
    dim = spark.table("orders").select(
        F.col("o_orderkey").alias("skew_key"), "o_totalprice"
    )
    plain = li.join(dim, "skew_key")
    salted = salted_join(li, dim, "skew_key", salt=16)
    assert plain.count() == salted.count()


def test_ansi_mode_overflow_raises(spark, sf_dir):
    """ANSI mode is on: arithmetic overflow errors instead of wrapping."""
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import ArithmeticException

    register_tables(spark, sf_dir)
    with _pytest.raises((ArithmeticException, Py4JJavaError, Exception)) as ei:
        spark.sql(
            "SELECT CAST(9223372036854775807 AS BIGINT) + CAST(1 AS BIGINT)"
        ).collect()
    assert "overflow" in str(ei.value).lower() or "ARITHMETIC" in str(ei.value)


def test_gated_connectors_fail_typed(spark):
    """Absent jars surface as ConnectorUnavailable with the fix named."""
    import pytest as _pytest

    from hive_plan_service_spark.sources.connectors import (
        ConnectorUnavailable,
        read_table_format,
    )

    with _pytest.raises(ConnectorUnavailable) as ei:
        read_table_format(spark, "delta", "/tmp/nonexistent_delta").collect()
    assert "delta" in str(ei.value)
