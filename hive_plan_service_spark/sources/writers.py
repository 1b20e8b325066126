"""Heap-safe parquet writing for wide rows (vector/array columns).

Found by the r6 spill certification (``git show
ad4964a:scripts/spill_probe.py``): writing a
1M × 768-dim float corpus under a 4 GiB heap killed the JVM with
``java.lang.OutOfMemoryError`` in the WRITE stage — not a shuffle or
aggregation. The parquet writer buffers a full row group PER TASK on
UNMANAGED JVM heap (it is not Spark execution memory, so it can never
spill); at the default ``parquet.block.size`` of 128 MiB, 32 concurrent
write tasks buffer 4 GiB of row groups before the first flush. The
same arithmetic bites a real cluster: an executor with many cores
writing wide embedding columns needs ``cores × block_size`` of heap
slack it was never promised.

The fix is to size the row group from the heap actually available:
``block_size = clamp(heap × fraction / concurrent_tasks, 1 MiB,
128 MiB)``. Narrow relational rows never hit the clamp (the default
128 MiB stays); wide vector writes shrink their row groups instead of
OOMing. Smaller row groups cost some scan efficiency — which is why
this is computed from the environment rather than hardcoded small.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def parse_mem(s: str) -> int:
    """'4g' / '512m' / '4096' (MiB default, as spark.driver.memory) → bytes."""
    m = re.fullmatch(r"(\d+)\s*([kmgt]?)b?", s.strip().lower())
    if not m:
        raise ValueError(f"unparseable memory size: {s!r}")
    return int(m.group(1)) * _UNITS.get(m.group(2), 1 << 20)


def is_plain_local(master: str) -> bool:
    """``local[...]`` where driver == executor (one JVM). NOT
    ``local-cluster[...]`` — that mode runs separate executor JVMs whose
    heap is ``spark.executor.memory``, never the driver's."""
    return master.startswith("local") and not master.startswith("local-cluster")


def jvm_heap_bytes(spark: SparkSession) -> int | None:
    """Actual ``-Xmx`` of the RUNNING driver JVM via
    ``Runtime.getRuntime().maxMemory()`` (r6 VERDICT #5): on a
    driver-provided plain session ``spark.driver.memory`` is often unset
    and the old "1g" default under-estimated a roomy heap, shrinking row
    groups/batches far more than needed. maxMemory() reads the launch
    ``-Xmx`` (minus one survivor space — slightly conservative, the safe
    direction). Only meaningful for the plain-local path where driver ==
    executor; returns None if the gateway call fails."""
    try:
        return int(spark.sparkContext._jvm.Runtime.getRuntime().maxMemory())
    except Exception:
        return None


def task_heap(spark: SparkSession) -> tuple[int, int]:
    """(JVM heap bytes, concurrent tasks sharing it) for sizing per-task
    UNMANAGED buffers.

    Local mode: the driver heap is the executor heap and every core may
    run a task at once. Cluster mode: per-executor heap / executor cores,
    read from the session conf.
    """
    conf = spark.conf
    try:
        heap = parse_mem(conf.get("spark.executor.memory"))
        cores = int(conf.get("spark.executor.cores", "1"))
    except Exception:
        heap, cores = None, None
    master = spark.sparkContext.master
    if is_plain_local(master) or heap is None:
        # plain local (driver == executor): the running JVM's real -Xmx,
        # not the often-unset driver conf (r6 VERDICT #5); non-local
        # with no executor conf keeps the conservative driver-conf
        # fallback. local-cluster and real clusters size from
        # spark.executor.memory above.
        heap = (jvm_heap_bytes(spark) if is_plain_local(master) else None) \
            or parse_mem(conf.get("spark.driver.memory", "1g"))
        cores = spark.sparkContext.defaultParallelism
    return heap, cores


def safe_parquet_block_bytes(
    spark: SparkSession,
    *,
    heap_budget_fraction: float = 0.03125,
    floor: int = 1 << 20,
    cap: int = 128 << 20,
) -> int:
    """Row-group size such that all concurrent write tasks' buffers fit
    in ``heap_budget_fraction`` of the JVM heap (:func:`task_heap`).

    The fraction budgets the READ side too, which is why it is small:
    a row group is also the atomic read unit — the parquet reader's
    vectored IO allocates the whole column-chunk range per in-flight
    task (the r6 certification observed the exact write-time block size
    reappear as a GCLocker-starved read allocation), and snappy JNI
    holds GC-critical sections while it decompresses. At 1/32 the 4 GiB
    certification heap gets ~4 MiB row groups; any heap ≥ 128 GiB
    keeps the scan-efficient 128 MiB default.
    """
    heap, cores = task_heap(spark)
    budget = int(heap * heap_budget_fraction / max(1, cores))
    return max(floor, min(cap, budget))


def write_parquet_heap_safe(
    df: DataFrame, path: str, *, mode: str = "overwrite"
) -> int:
    """``df.write.parquet`` with the heap-safe row-group size; returns
    the block size used (for probes/tests to assert on)."""
    block = safe_parquet_block_bytes(df.sparkSession)
    (
        df.write.mode(mode)
        .option("parquet.block.size", str(block))
        .parquet(path)
    )
    return block
