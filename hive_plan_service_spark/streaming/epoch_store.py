"""Epoch-partitioned monoid stores with crash-safe lazy compaction.

Both incremental streaming maintainers (the continuous rollup's partial-
aggregate store and the dedup ingest's signature store) persist one
partition directory per ``foreachBatch`` epoch. That makes every write
replay-idempotent (a re-run epoch dynamic-overwrites its own partition),
but a long-lived stream accumulates O(#batches) directories, and every
refresh re-reads (or at least re-lists) all of them.

Compaction merges old epochs into a BASE partition without needing an
atomic multi-partition replace (plain parquet directories don't have
one). The trick is to move correctness from the *writer* to the *reader*:

* A base written during epoch ``e`` gets partition value ``epoch = -e-1``
  and covers every epoch ``<= e`` (epoch ids are monotone, and the batch
  stages its own partition before compacting, so everything coverable
  exists at merge time).
* :func:`valid_partials` keeps, per group, only the NEWEST base plus raw
  epochs beyond its coverage. Stale raw epochs and older bases are
  ignored — deleting them is pure space reclamation (lazy GC), so a
  crash between base-write and delete changes nothing a reader sees,
  and a replayed epoch whose rows were already folded into the base is
  ignored rather than double-counted.

Requires only that the per-row payload is a commutative monoid under the
store's merge (counts, exact decimal sums, set union) — which is also
what makes the merge order irrelevant.

Concurrent-reader contract (certified live by scripts/
epoch_longevity_probe.py's racing reader, the `epochgc` gate): a reader
in ANOTHER thread/process that races a GC pass must treat a
vanished-file scan error as "re-list and retry", never enable
``ignoreMissingFiles``. GC deletes only rows a newer base covers, so a
retry's fresh listing always sees that base and converges; swallowing
the error instead is SILENTLY LOSSY — a reader whose listing predates
the base write but whose scan follows the raw deletes would drop the
covered epochs with no error raised. (The maintainers themselves never
race their own GC: refresh → compact → GC is serial within the
foreachBatch callback.)

Every streaming sink in the package writes through :func:`write_partitions`
and runs its micro-batches through :func:`drain` — the one place each
write-path rule lives.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_partitions(df: DataFrame, path: str, *partition_cols: str) -> None:
    """Dynamic-overwrite parquet write: replaces exactly the partitions
    ``df`` holds and leaves every other partition under ``path`` alone —
    a replayed epoch overwrites its own partition instead of appending."""
    (
        df.write.mode("overwrite")
        # "DYNAMIC" pre-uppercased: Spark's per-write option path
        # upper-cases with the JVM DEFAULT locale, so a lowercase
        # "dynamic" becomes "DYNAMİC" under tr_TR and the enum lookup
        # throws (found by the r7 locale gate)
        .option("partitionOverwriteMode", "DYNAMIC")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def write_epoch(df: DataFrame, path: str, epoch: int) -> None:
    """:func:`write_partitions` of ``df`` under partition ``epoch=<epoch>``."""
    write_partitions(df.withColumn("epoch", F.lit(epoch)), path, "epoch")


def drain(
    stream: DataFrame, fn: Callable[[DataFrame, int], None], checkpoint: str
) -> None:
    """Run ``fn(batch_df, epoch_id)`` over every pending micro-batch of
    ``stream`` (``availableNow``) and return once the stream is drained."""
    (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def base_epoch(epoch_id: int) -> int:
    """Partition value of a base written during ``epoch_id`` (covers <= it)."""
    return -int(epoch_id) - 1


def coverage(epoch_value: int) -> int:
    """Largest epoch id a base partition value covers (inverse of above)."""
    return -int(epoch_value) - 1


def valid_partials(df: DataFrame, *, group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Filter an epoch-partitioned store down to its live rows.

    Per group (or globally when ``group_cols`` is empty): the newest base
    (largest coverage) plus raw epochs strictly beyond that coverage.
    """
    ep = F.col("epoch")
    if group_cols:
        cov = (
            df.filter(ep < 0)
            .groupBy(*group_cols)
            .agg(F.max(-ep - 1).alias("_cov"))
        )
        joined = df.join(cov, list(group_cols), "left")
    else:
        cov = df.filter(ep < 0).agg(F.max(-ep - 1).alias("_cov"))
        joined = df.crossJoin(F.broadcast(cov))  # 1-row coverage scalar
    c = F.coalesce(F.col("_cov"), F.lit(-1).cast("bigint"))
    return joined.filter(
        ((ep >= 0) & (ep > c)) | ((ep < 0) & (-ep - 1 == c))
    ).drop("_cov")


def gc_stale_epochs(partition_dir: str, keep_epoch: int | None) -> None:
    """Delete ``epoch=*`` children of ``partition_dir`` other than
    ``keep_epoch`` (``None`` deletes them all — a fully-compacted raw
    store). Driver-side O(#directories) metadata work on a path this
    maintainer owns; at cluster scale this is the table-format's
    compaction/vacuum call. Safe to skip or crash mid-way: readers apply
    :func:`valid_partials` and never trust directory presence."""
    if not os.path.isdir(partition_dir):
        return
    for name in os.listdir(partition_dir):
        if not name.startswith("epoch="):
            continue
        try:
            value = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if value != keep_epoch:
            shutil.rmtree(os.path.join(partition_dir, name), ignore_errors=True)


def scan_epoch_dirs(partition_dir: str) -> list[int]:
    """Epoch partition values present under ``partition_dir`` (driver-side
    metadata listing — the same O(#directories) work the scan's file
    listing does anyway; at cluster scale this is one manifest read)."""
    if not os.path.isdir(partition_dir):
        return []
    out = []
    for name in os.listdir(partition_dir):
        if name.startswith("epoch="):
            try:
                out.append(int(name.split("=", 1)[1]))
            except ValueError:
                continue
    return out


def live_epochs(values: list[int]) -> tuple[int | None, list[int]]:
    """(base_partition_value | None, live raw epochs) for one group's
    epoch values — the listing-level mirror of :func:`valid_partials`.
    Lets callers decide compaction and skip the read-rule join entirely
    when no base exists (the common, never-compacted case)."""
    bases = [v for v in values if v < 0]
    if not bases:
        return None, sorted(v for v in values if v >= 0)
    best = min(bases)  # most negative = largest coverage
    cov = coverage(best)
    return best, sorted(v for v in values if v > cov)
