"""Streaming near-duplicate ingest: LSH dedup against an incremental
signature store (SURVEY.md B22 × B27).

The production shape for continuous corpus ingestion: documents arrive
as a stream; each micro-batch computes MinHash signatures for its new
documents, probes them against the banded signatures of everything
ingested BEFORE, and flags near-duplicates — the non-duplicates (and the
duplicates: they can themselves be the earliest match of later arrivals)
append to the store. Per-batch work is O(batch × colliding buckets),
never O(corpus²).

Batch-split invariance (pytest-pinned): a document is flagged iff some
*earlier* document (previous batch, or same batch with a smaller id)
collides on a full band with signature agreement ≥ the threshold. That
predicate does not mention batch boundaries, so any split of the feed
yields identical flags PROVIDED arrival order is id-monotone (each batch
holds ids larger than every previous batch's — the natural shape for
log-structured ingest where doc ids are assigned at arrival). If a
SMALLER id arrives after a larger near-duplicate, the ``doc_a < doc_b``
orientation means the earlier larger id keeps its not-dup flag — the
late arrival is flagged instead; flags then differ from the single-batch
run, which would have flagged the larger id. The invariance claim and
its pytest pin cover the id-monotone regime only.

Durability (mirrors streaming/epoch_store.py): both sinks are
epoch-partitioned with dynamic partition overwrite, so a crash-replayed
micro-batch (foreachBatch is at-least-once) overwrites its OWN epoch
partition instead of appending duplicate flag rows / dead store copies.
The signature store additionally compacts into a base partition once it
holds more than ``compact_after`` live epochs, bounding per-batch file
listing and read fan-in on long-lived streams.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hive_plan_service_spark.operators.dedup import (
    banded_signatures,
    minhash_signatures,
)
from hive_plan_service_spark.session import tune
from hive_plan_service_spark.sources.materialize import read_or_empty
from hive_plan_service_spark.streaming import epoch_store
from hive_plan_service_spark.streaming.source import file_stream

_STORE_COLS = ("doc_a", "sig_a", "band", "bucket")
# MinHash-LSH parameters: 16 hashes in 4 bands, est ≥ 0.5. The PORTABLE
# hash family (operators/dedup.py) makes the whole flag pipeline DuckDB-
# reproducible, so the registered query's oracle value-hash-checks the
# STREAMING ingest end-to-end.
_NUM_HASHES = 16
_BANDS = 4
_EST_THRESHOLD = 0.5
_HASH_FN = "portable"


class StreamingDedupIngest:
    """Maintains ``<workdir>/sig_store`` (banded signatures of every doc
    seen) and ``<workdir>/flags`` (doc_id, is_dup) parquet."""

    def __init__(
        self,
        spark: SparkSession,
        docs_path: str,
        workdir: str,
        *,
        compact_after: int = 8,
    ):
        self.spark = spark
        self.docs_path = docs_path
        self.store = os.path.join(workdir, "sig_store")
        self.flags = os.path.join(workdir, "flags")
        self.ckpt = os.path.join(workdir, "ckpt_ingest")
        self.compact_after = compact_after

    def _est(self) -> F.Column:
        agree = F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        return agree / F.lit(float(_NUM_HASHES))

    def _read_store(self) -> DataFrame | None:
        """Live signature rows (newest base + epochs beyond it), or None.

        The read rule resolves from the directory listing (driver-side
        metadata, no Spark job); the common never-compacted case skips
        the coverage join entirely.
        """
        if not os.path.isdir(self.store):
            return None
        base, _ = epoch_store.live_epochs(
            epoch_store.scan_epoch_dirs(self.store)
        )
        df = self.spark.read.parquet(self.store)
        if base is not None:
            df = epoch_store.valid_partials(df)
        return df.select(*_STORE_COLS)

    def _ingest(self, batch_df: DataFrame, epoch_id: int) -> None:
        banded = banded_signatures(
            minhash_signatures(
                batch_df, num_hashes=_NUM_HASHES, hash_fn=_HASH_FN
            ),
            num_hashes=_NUM_HASHES,
            bands=_BANDS,
            hash_fn=_HASH_FN,
        )
        # the same banded subtree feeds three joins — materialize once,
        # not three plan copies (each re-runs signature aggregation)
        banded = banded.localCheckpoint(eager=True)

        new = banded.select(
            F.col("doc_id_").alias("doc_b"),
            F.col("sig").alias("sig_b"),
            "band",
            "bucket",
        )
        # earlier docs: everything live in the store (previous batches;
        # on a crash-replay this may already include this very batch's
        # rows — harmless: they duplicate the same-batch side below and
        # dup_ids is distinct) …
        earlier = self._read_store()
        # … plus same-batch docs with a smaller id (the batch twin's
        # doc_a < doc_b orientation)
        same_batch = banded.select(
            F.col("doc_id_").alias("doc_a"),
            F.col("sig").alias("sig_a"),
            "band",
            "bucket",
        )
        earlier = (
            same_batch if earlier is None else earlier.unionByName(same_batch)
        )

        dup_ids = (
            new.join(earlier, ["band", "bucket"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .filter(self._est() >= _EST_THRESHOLD)
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
        )
        flags = (
            batch_df.select("doc_id")
            .join(dup_ids.withColumn("is_dup", F.lit(True)), "doc_id", "left")
            .select("doc_id", F.coalesce("is_dup", F.lit(False)).alias("is_dup"))
        )
        epoch_store.write_epoch(flags, self.flags, epoch_id)
        # duplicates append too: they are legitimate earliest-matches for
        # later arrivals (and this is what makes flags split-invariant)
        epoch_store.write_epoch(same_batch, self.store, epoch_id)
        self._compact_store(epoch_id)

    def _compact_store(self, epoch_id: int) -> None:
        """Rewrite the live store under a base epoch once the epoch count
        exceeds ``compact_after``. Signature rows are an append-only set
        (each doc ingested once), so "merge" is a plain rewrite — the
        simple full-rewrite policy; a tiered scheme would amortize better
        at extreme batch counts but the read rule is identical."""
        old_base, raw = epoch_store.live_epochs(
            epoch_store.scan_epoch_dirs(self.store)
        )
        if (1 if old_base is not None else 0) + len(raw) <= self.compact_after:
            return
        live = self.spark.read.parquet(self.store)
        if old_base is not None:
            live = epoch_store.valid_partials(live)
        base = epoch_store.base_epoch(epoch_id)
        epoch_store.write_partitions(
            live.select(*_STORE_COLS)
            .withColumn("epoch", F.lit(base))
            .repartition("bucket"),  # cluster the probe join key
            self.store,
            "epoch",
        )
        epoch_store.gc_stale_epochs(self.store, base)

    def run(self, max_files_per_trigger: int | None = None) -> DataFrame:
        """Ingest everything pending; return the (doc_id, is_dup) flags.

        The stream schema is SNIFFED from the parquet footers (one batch
        driver-side metadata read), never hardcoded — fixture physical
        types are not contractual (CLAUDE.md invariant 3).
        """
        tune(self.spark)
        observed = self.spark.read.parquet(self.docs_path).schema
        epoch_store.drain(
            file_stream(
                self.spark,
                self.docs_path,
                observed,
                max_files_per_trigger=max_files_per_trigger,
            ),
            self._ingest,
            self.ckpt,
        )
        # empty feed (first boot): doc_id's type follows the observed
        # feed schema
        empty = T.StructType(
            [observed["doc_id"], T.StructField("is_dup", T.BooleanType())]
        )
        return read_or_empty(self.spark, self.flags, empty).select(
            "doc_id", "is_dup"
        )
