"""Deduplication operators (north-star: exact, MinHash-LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup).

Scale shapes:

* **exact** — one hash-groupBy on the content key (see B15).
* **n-gram Jaccard** — explode distinct shingles, self-join on shingle,
  count per pair. Exact but O(pairs sharing a shingle); the ground truth
  for the approximate paths at test scale.
* **MinHash-LSH** — per-row signature (array algebra, no shuffle), band
  the signature, ONE shuffle on (band, band_hash) to bucket, pairs only
  within buckets. This is the 100 TB path: cost is #near-dup candidates,
  not #pairs.
* **SimHash** — per-row 64-bit sketch, bucket by 16-bit chunks (any
  chunk equal → candidate, Hamming ≤ threshold verify).
* **embedding cosine** — blocked pairwise (here by label) with exact
  sequential-fold cosine; LSH/IVF via operators.vectors for open-domain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hive_plan_service_spark.operators.textops import (
    FNV_MOD,
    rolling_fingerprint_sql,
    shingles_sql,
    sql_ident,
    sql_string,
    tokens_sql,
)

# Affine-rehash constants for the PORTABLE MinHash family: the i-th hash
# is (A_i·h + B_i) mod FNV_MOD over the 31-bit base string hash h.
# FNV_MOD is prime and A_i ≢ 0, so each map is a bijection on [0, FNV_MOD)
# — a valid min-wise hash family. Mirrored verbatim by the DuckDB oracles
# in plans/llm_ops.py.
_MINHASH_A = 1103515245
_MINHASH_B = 12345
_BUCKET_MULT = 1000003
#: Avalanche lift constant: (FNV_MOD + _AVA_C)² < 2^63, so the squares
#: below never overflow int64 (DuckDB *raises* on BIGINT overflow).
_AVA_C = 700000001


def _portable_rehash_sql(h: str, i: int) -> str:
    """i-th portable rehash of a base hash expression (exact in int64)."""
    return f"({h} * {_MINHASH_A + 2 * i} + {_MINHASH_B + 97 * i}) % {FNV_MOD}"


#: Two squaring rounds mod 2^31−1 — bit diffusion for SimHash — as a
#: lambda-body template over ``{acc}``.
#:
#: The raw polynomial hash of a short token is a SMALL number (31^5 ≈
#: 2^25 for a 5-char word), so its high bits are constantly zero and a
#: sketch built from it is degenerate (measured: 1.36M Hamming≤3 pairs
#: at sf0.1 vs 525 healthy). ``((h+C)²) mod M`` twice spreads any input
#: across the full 31 bits (measured within 2.5× of an ideal hash's
#: pair count); plain int64 arithmetic, so DuckDB reproduces it. In a
#: fold's finish lambda ``{acc}`` is the accumulator variable, so its
#: four references re-read a slot and never re-evaluate the fold.
_AVALANCHE_SQL = (
    f"(((({{acc}} + {_AVA_C}) * ({{acc}} + {_AVA_C})) % {FNV_MOD}"
    f" + {_AVA_C}) * (((({{acc}} + {_AVA_C}) * ({{acc}} + {_AVA_C}))"
    f" % {FNV_MOD}) + {_AVA_C})) % {FNV_MOD}"
)


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Hash-spread a relation before a CPU-bound per-row stage.

    Tokenize/shingle/hash stages are compute-bound, and a small parquet
    file arrives as one (unsplittable single-row-group) partition — at
    any scale the rule is the same: pay one cheap shuffle of the raw rows
    to use the whole cluster for the expensive stage. Never reduces an
    already-wide relation.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, key)


def shingle_table(docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """(id, shingle) rows — distinct word n-grams per document."""
    words = tokens_sql(sql_ident(text_col))
    return _spread(docs, id_col).selectExpr(
        sql_ident(id_col), f"explode({shingles_sql(words, n)}) AS shingle"
    )


def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (doc_a < doc_b, jac ≥ threshold)."""
    sh = shingle_table(docs, id_col=id_col, text_col=text_col, n=n)
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    ca = counts.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "common",
            (
                F.col("common")
                / (F.col("n_a") + F.col("n_b") - F.col("common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_verify_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    threshold: float = 0.5,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Exact Jaccard computed over CANDIDATE pairs only.

    The scale shape for exact-threshold dedup: a high-recall LSH pass
    proposes pairs, then this verifies each against the true shingle
    sets. The candidate relation is referenced twice (pairs + the
    exploded candidate-id semi-join side), both reading ONE shared
    exchange — the LSH pipeline ends in its dedup shuffle, so Spark's
    ReusedExchange serves every reference; the multi-stage candidate
    job still executes once. Shingle sets are built per candidate DOC
    below the pair join (see the inline invariant-13 note), and the
    per-pair work is JVM array algebra (``array_intersect`` over the
    distinct-shingle arrays ≡ the exact join's per-pair common count).
    Cost is O(candidate docs × shingles/doc + candidate pairs ×
    intersect), never the all-pairs shingle self-join.
    """
    from hive_plan_service_spark.session import default_parallelism

    pairs = candidates.select("doc_a", "doc_b")
    # Build each candidate DOC's shingle array ONCE, below a
    # join/exchange barrier — never as a lambda expression the jaccard
    # filter can inline (invariant 13, measured r6 on the 8× capped-
    # cluster shape): written as `join texts then project shingles`,
    # the filter collapses into the text join's CONDITION with the
    # whole shingle build inlined ~3× per side per pair, the now-
    # redundant width pin is optimizer-removed against the candidate
    # dedup's same-key exchange, and AQE (bytes-blind to per-row CPU)
    # coalesces that to ONE task — 43 s of the 58 s total. Here the
    # string-heavy shingle build runs per candidate DOC at scan width
    # and materializes at the join boundary (broadcast build or
    # shuffle write — both are expression barriers); only the cheap
    # array-intersect over materialized arrays can be inlined into the
    # join condition. The semi-join keeps the array build O(candidate
    # docs), not O(corpus) — at 100 TB candidates are the small side.
    # explode, not union-of-two-projections: the union form spelled the
    # whole candidate subtree TWICE more in the plan (three references
    # total with `pairs` below) — AQE's ReusedExchange dedups the
    # execution either way, but the optimizer/planner walks every
    # spelling (~0.2 s planning on the 150-node corpus-clean tree, r12
    # measurement), and the explode form reads the candidate exchange
    # once instead of twice. Same id set: explode(array(a, b)) ∪-dedups
    # to exactly union(a) ∪ union(b).
    cand_ids = (
        pairs.select(
            F.explode(F.array("doc_a", "doc_b")).alias(id_col)
        ).distinct()
    )
    sh = (
        docs.join(cand_ids, id_col, "left_semi")
        .repartition(default_parallelism(), id_col)
        .selectExpr(
            sql_ident(id_col),
            f"{shingles_sql(tokens_sql(sql_ident(text_col)), n)} AS _sh",
        )
    )
    # merge hints: BOTH relations here are SF-proportional (invariant
    # 9), and the static planner must not be allowed to broadcast
    # either — the semi-join above wrecks the optimizer's size estimate
    # for the array side, and a statically-planned BroadcastExchange
    # materializes BEFORE any runtime stats exist (AQE cannot save it:
    # the r6 scale probe died collecting ~1 GiB of shingle arrays to
    # the driver at 200k docs). A shuffle join is the only shape that
    # holds at every scale; at fixture scale it costs milliseconds.
    a = sh.select(
        F.col(id_col).alias("doc_a"), F.col("_sh").alias("_sa")
    ).hint("merge")
    b = sh.select(
        F.col(id_col).alias("doc_b"), F.col("_sh").alias("_sb")
    ).hint("merge")
    joined = pairs.join(a, "doc_a").join(b, "doc_b")
    # size/intersect re-evaluation after CollapseProject inlining is fine
    # here: it is per-CANDIDATE work, not per-corpus (invariant 4 guards
    # the per-shingle sketch stages, not this verify tail)
    common = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    return (
        joined.select(
            "doc_a",
            "doc_b",
            common.alias("common"),
            (
                common / (F.size("_sa") + F.size("_sb") - common)
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, sig) MinHash signatures via explode + partial-aggregated mins.

    Each shingle *string* is hashed exactly once; the ``num_hashes``
    hash functions are cheap integer rehashes of that base hash evaluated
    as ``min()`` aggregates. Because a document's shingle rows stay in
    the partition that exploded them, map-side combine reduces the
    shuffle to ~#docs × num_hashes longs — this is what keeps MinHash
    linear at corpus scale (the array-lambda formulation re-hashed every
    shingle string per hash function: 60× slower at sf0.1).

    ``hash_fn`` picks the hash family, not the plan shape:

    * ``"xxhash64"`` (default) — engine builtin, the throughput path.
    * ``"portable"`` — 31-bit polynomial base hash + affine rehashes,
      plain integer arithmetic an external engine reproduces bit-for-bit;
      the canonical driver query uses this so the WHOLE sketch (not just
      its recall) is oracle-checked against DuckDB.
    """
    # Assembled as SQL text, not F.* Columns (r12): the per-hash
    # expression family is the construction hot spot — every F.* call
    # is py4j round trips and the HOF lambdas cost several each; one
    # selectExpr/expr string parses JVM-side in a single trip to the
    # same Catalyst expressions (textops.py's SQL-text convention).
    sh = _spread(docs, id_col).selectExpr(
        f"{sql_ident(id_col)} AS doc_id_",
        f"explode({shingles_sql(tokens_sql(sql_ident(text_col)), n)}) AS sh",
    )
    if hash_fn == "portable":
        base_sql = rolling_fingerprint_sql("sh")
        rehash_sql = _portable_rehash_sql
    else:
        base_sql = "xxhash64(sh)"
        rehash_sql = lambda h, i: f"xxhash64({h}, {i})"  # noqa: E731
    hashed = sh.selectExpr("doc_id_", f"{base_sql} AS h")
    # ONE agg expression (r13): array(min(...), ...) parses in a single
    # py4j trip where the per-hash F.expr list paid ~2 trips per hash
    # (128 at num_hashes=64). Catalyst splits it identically: the mins
    # stay partial/final hash aggregates (map-side combine, invariant 4),
    # the array assembly lands in the post-agg result projection exactly
    # where the separate selectExpr used to put it.
    mins_arr = ", ".join(
        f"min({rehash_sql('h', i)})" for i in range(num_hashes)
    )
    return hashed.groupBy("doc_id_").agg(
        F.expr(f"array({mins_arr}) AS sig")
    )


def banded_signatures(
    sigs: DataFrame, *, num_hashes: int = 16, bands: int = 4, hash_fn: str = "xxhash64"
) -> DataFrame:
    """(doc_id_, sig, band, bucket) rows — one per (doc, band).

    Each band's bucket is a hash of its signature slice; docs colliding
    on any full band share a (band, bucket) key. Factored out of
    :func:`minhash_lsh_pairs` so incremental consumers (the streaming
    ingest store) band new documents with the identical hash. The
    ``"portable"`` bucket is a polynomial fold of the slice (exact in
    int64, DuckDB-reproducible); the default is xxhash64 of the slice.
    """
    rows = num_hashes // bands

    # SQL-text construction (r12, see minhash_signatures): the bucket
    # fold is a function of the `band` lambda variable — one transform
    # over sequence(0, bands−1), exactly as the Column form built it.
    if hash_fn == "portable":
        bucket_sql = (
            f"aggregate(slice(sig, band * {rows} + 1, {rows}),"
            " CAST(0 AS BIGINT),"
            f" (acc, m) -> (acc * {_BUCKET_MULT} + m) % {FNV_MOD})"
        )
    else:
        bucket_sql = (
            f"xxhash64(concat_ws(',', transform(slice(sig, band * {rows}"
            f" + 1, {rows}), v -> CAST(v AS STRING))))"
        )
    return sigs.selectExpr(
        "doc_id_",
        "sig",
        f"explode(transform(sequence(0, {bands - 1}),"
        f" band -> named_struct('band', band, 'bucket', {bucket_sql})))"
        " AS bb",
    ).select(
        "doc_id_",
        "sig",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    est_threshold: float = 0.5,
    max_bucket: int | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash-LSH candidate pairs with estimated Jaccard.

    ``num_hashes`` minima per doc, split into ``bands`` bands of
    ``num_hashes // bands`` rows; docs colliding on any full band are
    candidates; the signature-agreement fraction estimates Jaccard.

    Output schema: ``(doc_a, doc_b, est_jaccard)`` — except when
    ``est_threshold <= 0.0`` (the high-recall cluster setting), where
    the estimate is provably a no-op filter and is skipped entirely so
    the signature arrays never cross the banding exchange; the output
    is then ``(doc_a, doc_b)`` only (see the inline note).

    ``max_bucket`` is the 100 TB degenerate-bucket guard: a band
    signature shared by B documents (corpus-wide boilerplate, empty
    docs, common templates) yields B² candidate pairs from that bucket
    alone. When set, buckets larger than ``max_bucket`` are dropped
    before the self-join — their members are near-identical *common*
    content, better handled by the boilerplate/line-dedup operators than
    by pairwise comparison. Default None (off): the registered cluster
    queries tie to an EXACT connected-components oracle, and a dropped
    edge would split a component (CLAUDE.md invariant 11) — capping is a
    production knob, not a test-fixture one.
    """
    sigs = minhash_signatures(
        docs,
        id_col=id_col,
        text_col=text_col,
        n=n,
        num_hashes=num_hashes,
        hash_fn=hash_fn,
    )
    banded = banded_signatures(
        sigs, num_hashes=num_hashes, bands=bands, hash_fn=hash_fn
    )
    # est_jaccard = size(filter(zip_with(sig_a, sig_b, =)))/num_hashes is
    # a total function into [0, 1] (both sig arrays are non-null arrays
    # of non-null longs), so an est_threshold ≤ 0 filter passes EVERY
    # pair — the high-recall setting the cluster compositions use. Skip
    # the estimate there and do not carry the signature arrays past the
    # banding projection (guide §2.3, shuffle fewer bytes): with 64
    # hashes × 32 bands each doc otherwise ships bands×num_hashes = 2048
    # sig longs through the (band, bucket) exchange, the max_bucket
    # window sort, AND pays the 2×64-element zip_with per bucket
    # collision that Catalyst inlines into the join condition (the
    # ≥ 0.0 filter is not provably true to the optimizer, so it cannot
    # prune any of this itself). Result-identical: same (doc_a, doc_b)
    # set, minus the est_jaccard column no est_threshold ≤ 0 consumer
    # reads (the cluster compositions immediately project it away).
    keep_est = est_threshold > 0.0
    if not keep_est:
        banded = banded.select("doc_id_", "band", "bucket")
    if max_bucket is not None:
        # Bucket-size cap as a WINDOW count over the same (band, bucket)
        # key the pair join shuffles on: one pass, one exchange (reused
        # by the join). The previous aggregate + semi-join-back form
        # re-executed the whole signature pipeline for the size side —
        # measured 11 s → 69 s at 200k docs (r4 scale probe) because the
        # shingle/hash subtree appeared twice in the plan.
        from pyspark.sql import Window

        w = Window.partitionBy("band", "bucket")
        banded = (
            banded.withColumn("_bn", F.count(F.lit(1)).over(w))
            .filter(F.col("_bn") <= max_bucket)
            .drop("_bn")
        )
    # SQL text (r12): `D` suffix = DOUBLE literal, matching
    # F.lit(float(num_hashes)) — a bare SQL float would parse DECIMAL
    est = [
        F.expr(
            "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y),"
            f" eq -> eq)) / {float(num_hashes)}D"
        ).alias("est_jaccard")
    ] if keep_est else []

    def side(d: str) -> DataFrame:
        sig = [F.col("sig").alias(f"sig_{d}")] if keep_est else []
        return banded.select(
            F.col("doc_id_").alias(f"doc_{d}"), *sig, "band", "bucket"
        )

    pairs = (
        side("a").join(side("b"), ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", *est)
    )
    if keep_est:
        # estimate + threshold BEFORE the pair dedup: est is a pure
        # function of the pair (identical across its ≤``bands`` bucket
        # collisions), so filter-then-dedup ≡ dedup-then-filter — but the
        # dedup shuffle now carries only above-threshold pairs (Catalyst
        # can't push a filter on a non-key column below the aggregate)
        pairs = pairs.filter(F.col("est_jaccard") >= est_threshold)
    return pairs.dropDuplicates(["doc_a", "doc_b"])


def simhash_sketches(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, simhash) SimHash sketches via explode + bit-vote aggregates.

    Tokens explode to (id, hash(token)) rows — each token string hashed
    exactly once — then per-bit ``sum((h >> b) & 1)`` aggregates vote
    (map-side combined, one shuffle of ~#docs × bits+1 longs). The
    array-lambda formulation would re-hash every token per bit after
    Catalyst's CollapseProject inlines the projection into all the
    lambdas — the same 60× trap as MinHash.

    ``hash_fn="xxhash64"`` (default) gives a 64-bit sketch; ``"portable"``
    gives a 62-bit sketch from TWO independent 31-bit polynomial hashes
    (bases 31 and 131, avalanched — a single 31-bit hash is too narrow
    for a discriminative Hamming≤3 sketch) so the canonical driver query
    is hash-checked end-to-end against the DuckDB oracle.
    """
    # SQL-text construction (r12, see minhash_signatures): the per-bit
    # vote aggregates and the bit-recombine chain are the heaviest
    # expression families in the engine (62 aggregates + a 62-term sum).
    ex = _spread(docs, id_col).selectExpr(
        f"{sql_ident(id_col)} AS doc_id_",
        f"explode({tokens_sql(sql_ident(text_col))}) AS w",
    )
    if hash_fn == "portable":
        # one projection computes both halves; aggregates reference the
        # named columns (never inline the fold per bit — invariant 4),
        # and the avalanche runs in the fold's FINISH lambda so its 4
        # references re-read the accumulator variable, not the fold
        h = ex.selectExpr(
            "doc_id_",
            f"{rolling_fingerprint_sql('w', 31, _AVALANCHE_SQL)} AS ha",
            f"{rolling_fingerprint_sql('w', 131, _AVALANCHE_SQL)} AS hb",
        )
        halves = [("ha", 31, 0), ("hb", 31, 31)]
    else:
        h = ex.selectExpr("doc_id_", "xxhash64(w) AS ha")
        halves = [("ha", 64, 0)]
    # ONE agg expression (r13, same rationale as minhash_signatures):
    # the per-bit F.expr list paid ~2 py4j trips per vote aggregate
    # (63 aggregates at 62 bits + count). named_struct over the votes
    # parses in a single trip; the aggregates underneath stay partial/
    # final map-side-combined (invariant 4), and the struct assembly is
    # post-agg projection work CollapseProject fuses with the bit
    # recombine below.
    vote_fields = ", ".join(
        ["'n', count(1)"]
        + [
            f"{sql_string(f'o{off + b}')}, sum(shiftright({col}, {b}) & 1)"
            for col, nbits, off in halves
            for b in range(nbits)
        ]
    )
    votes = h.groupBy("doc_id_").agg(
        F.expr(f"named_struct({vote_fields}) AS v")
    )
    bits = " + ".join(
        f"(CASE WHEN 2 * v.o{off + b} > v.n"
        f" THEN shiftleft(CAST(1 AS BIGINT), {off + b})"
        " ELSE CAST(0 AS BIGINT) END)"
        for _, nbits, off in halves
        for b in range(nbits)
    )
    return votes.selectExpr("doc_id_", f"({bits}) AS simhash")


def simhash_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs: bucket by 16-bit chunks, verify Hamming.

    Hamming ≤ 3 over 4 chunks ⇒ at least one chunk is identical
    (pigeonhole), so chunk-bucketing is lossless for the verify filter —
    for the 64-bit and the 62-bit (portable) sketch alike: the 4 chunks
    partition every sketch bit either way.
    """
    sketched = simhash_sketches(
        docs, id_col=id_col, text_col=text_col, hash_fn=hash_fn
    )
    # chunk value extraction needs a column shift amount → SQL expr
    chunks = sketched.selectExpr(
        "doc_id_",
        "simhash",
        "explode(transform(sequence(0, 3), c -> struct(c AS chunk, "
        "(shiftright(simhash, c * 16) & 65535) AS val))) AS cc",
    ).select("doc_id_", "simhash", F.col("cc.chunk").alias("chunk"), F.col("cc.val").alias("val"))
    l = chunks.select(
        F.col("doc_id_").alias("doc_a"), F.col("simhash").alias("sim_a"), "chunk", "val"
    )
    r = chunks.select(
        F.col("doc_id_").alias("doc_b"), F.col("simhash").alias("sim_b"), "chunk", "val"
    )
    # Hamming verify BEFORE the pair dedup (pure function of the pair —
    # identical across its ≤4 chunk collisions): the dedup shuffle then
    # carries only pairs that already passed the distance filter
    return (
        l.join(r, ["chunk", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(
                F.col("sim_a").bitwiseXOR(F.col("sim_b"))
            ).cast("bigint").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def embedding_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
) -> DataFrame:
    """Embedding-cosine near-dup pairs within blocking-key groups.

    Norms are computed once per SIDE below the join (same sequential
    folds as ``vectors.cosine_topk``, so pair scores are bit-identical)
    — inside the pair expression each row of a B-row block would re-fold
    its norm B times (the r4 cosine_topk fix, applied family-wide).
    """
    from hive_plan_service_spark.operators.vectors import (
        _PAIR_COS_SQL,
        _norm_proj,
    )

    block = f"{sql_ident(block_col)} AS _block"
    a = embeddings.selectExpr(*_norm_proj(id_col, "vec_a", vec_col, "q"), block)
    b = embeddings.selectExpr(*_norm_proj(id_col, "vec_b", vec_col, "c"), block)
    return (
        a.join(b, "_block")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .selectExpr("vec_a", "vec_b", _PAIR_COS_SQL)
        .filter(F.col("cos") >= threshold)
    )


def centroid_blocked_dup_pairs(
    embeddings: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 2,
) -> DataFrame:
    """Embedding near-dup pairs blocked by nearest centroids (the
    SemDeDup shape — the open-domain scale path).

    ``embedding_dup_pairs`` is exact within blocks but needs a blocking
    key; labels don't exist on an open corpus, and a hot block is
    quadratic. Here each vector is assigned to its ``nprobe`` nearest
    centroids (broadcast rank, one map pass); a pair is a candidate when
    any probed bucket is shared, then exact cosine verifies. Candidate
    cost is ~nprobe·Σ n_b², tuned by K. Recall is regime-dependent:
    near-identical vectors (the ≥0.95 target regime) share a nearest
    centroid except at bucket boundaries — multi-probe covers those;
    for mid-similarity thresholds no geometric blocking is cheap, use
    the exact blocked form. tests/test_llm_ops.py pins recall = 1 on a
    synthetic near-identical corpus and the measured fixture floor.
    """
    from hive_plan_service_spark.operators.vectors import (
        _PAIR_COS_SQL,
        _norm_proj,
        _top_k,
    )

    idq = sql_ident(id_col)
    # per-side norms (bit-identical scores — see embedding_dup_pairs);
    # `_qn` rides along the assignment so the verify stage reuses it
    # instead of re-folding per pair
    c = centroids.selectExpr(*_norm_proj("centroid_id", "_cid", vec_col, "c"))
    scored = (
        embeddings.selectExpr(*_norm_proj(id_col, id_col, vec_col, "q"))
        .crossJoin(F.broadcast(c))
        .selectExpr(idq, "_qvec", "_qn", "_cid", _PAIR_COS_SQL)
    )
    assigned = _top_k(scored, nprobe, by=id_col, tie="_cid").selectExpr(
        idq, "_qvec", "_qn", "_cid AS centroid_id"
    )
    a = assigned.selectExpr(f"{idq} AS vec_a", "_qvec", "_qn", "centroid_id")
    b = assigned.selectExpr(
        f"{idq} AS vec_b", "_qvec AS _cvec", "_qn AS _cn", "centroid_id"
    )
    return (
        a.join(b, "centroid_id")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .selectExpr("vec_a", "vec_b", _PAIR_COS_SQL)
        .filter(F.col("cos") >= threshold)  # verify BEFORE pair dedup
        .dropDuplicates(["vec_a", "vec_b"])
    )
