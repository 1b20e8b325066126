"""Semantic tests for the sketch-based LLM ops (no SQL oracle possible):
the approximate paths must agree with their exact twins on the easy mass
(identical documents), and the ANN path must recall a reasonable share of
the brute-force neighbors.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hive_plan_service_spark.operators import dedup as dd
from hive_plan_service_spark.operators import vectors as vx
from hive_plan_service_spark.sources.catalog import register_tables


def _near_dup_truth(spark, threshold=0.9):
    """High-jaccard ground-truth pairs (the fixture has ~0.9–0.99 near-dups)."""
    return {
        (r["doc_a"], r["doc_b"])
        for r in dd.jaccard_pairs(spark.table("documents"), threshold).collect()
    }


def test_minhash_lsh_recalls_near_dups(spark, sf_dir):
    register_tables(spark, sf_dir)
    truth = _near_dup_truth(spark)
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dd.minhash_lsh_pairs(spark.table("documents")).collect()
    }
    assert truth, "fixture should contain >=0.9-jaccard near-dups"
    # 16 hashes / 4 bands: P(candidate | j=0.9) ≈ 0.99
    assert len(truth & lsh) / len(truth) >= 0.9


def test_lsh_verified_pairs_equal_exact_jaccard(spark, sf_dir):
    """The pipeline's scale path (high-recall LSH → exact verify) must
    reproduce the all-pairs exact join EXACTLY at test scale — this is
    what keeps llm_corpus_clean_pipeline's oracle green."""
    register_tables(spark, sf_dir)
    docs = spark.table("documents")
    truth = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.jaccard_pairs(docs, threshold=0.9).collect()
    }
    cands = dd.minhash_lsh_pairs(docs, num_hashes=16, bands=8, est_threshold=0.5)
    verified = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.jaccard_verify_pairs(docs, cands, threshold=0.9).collect()
    }
    assert truth, "fixture should contain >=0.9-jaccard near-dups"
    assert verified == truth


def test_centroid_blocked_dup_pairs_recall(spark, sf_dir):
    """SemDeDup-shaped centroid blocking: exact precision always; recall
    1.0 in the near-identical regime it targets (synthetic corpus), and
    a measured floor on the mid-similarity fixture."""
    from pyspark.sql import functions as F

    register_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    truth = {
        (r["vec_a"], r["vec_b"])
        for r in dd.embedding_dup_pairs(
            emb.withColumn("one", F.lit(1)), threshold=0.35, block_col="one"
        ).collect()
    }
    cents = emb.filter(F.col("vec_id") % 31 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    got = {
        (r["vec_a"], r["vec_b"])
        for r in dd.centroid_blocked_dup_pairs(
            emb, cents, threshold=0.35, nprobe=4
        ).collect()
    }
    assert got <= truth  # verify step makes precision exact
    assert len(truth & got) / len(truth) >= 0.85  # measured 0.92 at sf0.001

    # the target regime: every vector duplicated with a tiny scale nudge
    # (cos(v, 1.001*v) = 1) — blocking must not lose a single true pair
    base = emb.limit(100)
    dup = base.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.001).alias("embedding"),
        "label",
    )
    syn = base.unionByName(dup)
    syn_truth = {
        (r["vec_a"], r["vec_b"])
        for r in dd.embedding_dup_pairs(
            syn.withColumn("one", F.lit(1)), threshold=0.999, block_col="one"
        ).collect()
    }
    syn_cents = syn.filter(F.col("vec_id") % 13 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    syn_got = {
        (r["vec_a"], r["vec_b"])
        for r in dd.centroid_blocked_dup_pairs(
            syn, syn_cents, threshold=0.999, nprobe=2
        ).collect()
    }
    assert len(syn_truth) >= 100
    assert syn_got == syn_truth


def test_cluster_edge_generation_lsh_equals_exact_at_05(spark, sf_dir):
    """llm_dedup_clusters' edge input (LSH 64/32 + verify at 0.5) must
    equal the all-pairs truth — a missing edge would split a component
    and break the recursive-CTE oracle."""
    register_tables(spark, sf_dir)
    docs = spark.table("documents")
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in dd.jaccard_pairs(docs, threshold=0.5).collect()
    }
    cands = dd.minhash_lsh_pairs(docs, num_hashes=64, bands=32, est_threshold=0.0)
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dd.jaccard_verify_pairs(docs, cands, threshold=0.5).collect()
    }
    assert truth and got == truth


def test_sequence_packing_shard_equals_global_per_shard(spark, sf_dir):
    """Sharded packing ≡ the global cumsum algorithm applied per shard:
    within a shard, (local pack, offset) must match a single-partition
    cumsum over that shard's docs in doc_id order."""
    from hive_plan_service_spark.plans.llm_ops import llm_sequence_packing

    rows = llm_sequence_packing(spark, sf_dir).collect()
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    assert len(by_shard) > 1, "fixture should populate multiple shards"
    for shard, docs in by_shard.items():
        docs.sort(key=lambda r: r["doc_id"])
        before = 0
        for r in docs:
            assert r["pack_id"] == shard * (1 << 40) + before // 512
            assert r["pack_offset"] == before % 512
            before += r["n_words"]


def test_simhash_recalls_near_dups(spark, sf_dir):
    register_tables(spark, sf_dir)
    truth = _near_dup_truth(spark)
    sim = dd.simhash_pairs(spark.table("documents")).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in sim}
    assert all(r["hamming"] <= 3 for r in sim)
    assert truth, "fixture should contain >=0.9-jaccard near-dups"
    # hamming ≤ 3 over 4 chunks ⇒ bucketing is lossless (pigeonhole);
    # the recall bound is the sketch itself, empirically ~0.75 here
    assert len(truth & pairs) / len(truth) >= 0.5


def test_lsh_candidates_estimate_tracks_exact_jaccard(spark, sf_dir):
    register_tables(spark, sf_dir)
    docs = spark.table("documents")
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.jaccard_pairs(docs, threshold=0.8).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in dd.minhash_lsh_pairs(docs, est_threshold=0.5).collect()
    }
    # high-similarity truth should be recalled by the sketch
    recalled = sum(1 for p in exact if p in lsh)
    assert exact, "fixture should contain >0.8-jaccard pairs"
    assert recalled / len(exact) >= 0.8


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    register_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in vx.cosine_topk(queries, emb, k=5).collect()
    }
    centroids = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    assigned = vx.ivf_assign(emb, centroids)
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in vx.ivf_topk(queries, assigned, centroids, k=5, nprobe=2).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.2, f"IVF recall collapsed: {recall}"


def test_multimodal_decode_bytes(spark, sf_dir):
    from hive_plan_service_spark.operators import multimodal as mmod

    register_tables(spark, sf_dir)
    docs = spark.table("documents").limit(5)
    out = {
        r["doc_id"]: r
        for r in mmod.decode_features(mmod.attach_binary_payload(docs)).collect()
    }
    for row in docs.collect():
        payload = row["text"].encode("utf-8")
        got = out[row["doc_id"]]
        assert got["n_bytes"] == len(payload)
        assert got["byte_sum"] == sum(payload)
        assert got["mime"] == "image/png"


def test_approx_count_distinct_accuracy(spark, sf_dir):
    register_tables(spark, sf_dir)
    li = spark.table("lineitem")
    approx = li.agg(F.approx_count_distinct("l_orderkey")).collect()[0][0]
    exact = li.agg(F.countDistinct("l_orderkey")).collect()[0][0]
    # default rsd is 5% *expected*; a single draw can exceed it
    assert abs(approx - exact) / exact < 0.10


def test_ivf_kmeans_recall(spark, sf_dir):
    from hive_plan_service_spark.plans.registry import all_queries
    from hive_plan_service_spark.operators import vectors as vx2

    register_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in vx2.cosine_topk(emb.filter(F.col("vec_id") < 5), emb, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in all_queries()["b28_ann_ivf_kmeans"].fn(spark, sf_dir).collect()
    }
    assert len(truth & approx) / len(truth) >= 0.2


def test_vector_operators_quote_column_names(spark, sf_dir):
    """Caller column names reach the SQL text only through
    textops.sql_ident: with the vector and id columns renamed to names
    that need quoting, cosine_topk and ivf_assign return the same rows
    as under the default names."""
    register_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    odd = emb.withColumnRenamed("embedding", "emb vec").withColumnRenamed(
        "vec_id", "vec id"
    )
    queries = emb.filter(F.col("vec_id") < 5)
    odd_queries = odd.filter(F.col("vec id") < 5)
    assert sorted(vx.cosine_topk(queries, emb, k=5).collect()) == sorted(
        vx.cosine_topk(
            odd_queries, odd, k=5, query_id="vec id", corpus_id="vec id",
            vec="emb vec",
        ).collect()
    )
    centroids = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    odd_centroids = centroids.withColumnRenamed("embedding", "emb vec")
    assert sorted(
        (r["vec_id"], r["centroid_id"])
        for r in vx.ivf_assign(emb, centroids).collect()
    ) == sorted(
        (r["vec id"], r["centroid_id"])
        for r in vx.ivf_assign(
            odd, odd_centroids, vec="emb vec", id_col="vec id"
        ).collect()
    )


def test_lsh_hyperplane_recall(spark, sf_dir):
    register_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in vx.cosine_topk(queries, emb, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in vx.lsh_topk(queries, emb, k=5).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.2, f"hyperplane LSH recall collapsed: {recall}"


def test_lsh_max_bucket_caps_degenerate_buckets(spark):
    """A bucket shared by B docs yields ~B^2/2 pairs; the production
    max_bucket knob drops over-large buckets while pairs from normal
    buckets survive untouched."""
    import hive_plan_service_spark.operators.dedup as dd

    hot = [(i, "zz " * 40) for i in range(60)]  # identical -> one bucket/band
    near = [
        (100, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (101, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
    ]
    docs = spark.createDataFrame(hot + near, "doc_id bigint, text string")

    uncapped = dd.minhash_lsh_pairs(docs, est_threshold=0.5)
    capped = dd.minhash_lsh_pairs(docs, est_threshold=0.5, max_bucket=10)

    n_uncapped = uncapped.count()
    assert n_uncapped >= 60 * 59 // 2, "degenerate bucket should explode"

    capped_pairs = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert (100, 101) in capped_pairs, "normal near-dup pair lost to the cap"
    assert not any(a < 60 and b < 60 for a, b in capped_pairs), (
        "hot-bucket pairs should be dropped"
    )


def test_pq_adc_recall_vs_bruteforce(spark, sf_dir):
    """PQ-ADC top-5 must recall most exact cosine top-5 neighbors, and
    the code table must be S rows per vector with codes inside the book."""
    import hive_plan_service_spark.operators.vectors as vx
    from hive_plan_service_spark.sources.catalog import table_path

    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    nrm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda a, v: a + v,
        )
    )
    unit = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double") / nrm).alias(
            "embedding"
        ),
    )
    books = vx.pq_train_codebooks(unit, subspaces=8, codes=64)
    codes = vx.pq_encode(unit, books, subspaces=8)

    n_vec = emb.count()
    assert codes.count() == 8 * n_vec
    assert codes.agg(F.max("code")).collect()[0][0] <= 63

    queries = unit.filter(F.col("vec_id") < 5)
    approx = vx.pq_topk_refined(
        queries, codes, books, unit, k=5, subspaces=8
    )
    exact = vx.cosine_topk(queries, unit, k=5)

    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    recall = len(a & e) / len(e)
    assert recall >= 0.7, f"PQ refined recall@5 too low: {recall}"


def test_pq_wide_codes_equal_narrow(spark, sf_dir):
    """pq_topk must return identical (values included) results whether
    handed narrow (id, s, code) codes or the pivoted index artifact from
    pq_codes_wide — the ADC sum reads the same code per (vector,
    subspace) either way (r4: the pivot moved to index time)."""
    from hive_plan_service_spark.operators import vectors as vx
    from hive_plan_service_spark.sources.catalog import register_tables

    register_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    books = vx.pq_train_codebooks(emb, subspaces=4, codes=8)
    narrow = vx.pq_encode(emb, books, subspaces=4)
    wide = vx.pq_codes_wide(narrow)
    a = vx.pq_topk(queries, narrow, books, k=5, subspaces=4)
    b = vx.pq_topk(queries, wide, books, k=5, subspaces=4)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_pq_encode_np_matches_column_encode(spark, sf_dir):
    """The Arrow/numpy encode twin must produce the EXACT (id, s, code)
    set of the Column-algebra ``pq_encode`` — the fold order inside the
    numpy kernel is the same sequential left fold as ``_l2sq`` and
    np.argmin's first-minimum matches the min-struct smallest-code tie
    break, so equality is by construction, pinned here (invariant 1's
    non-SQL-expressible path: the twin is a Python stage, never
    registered; the oracle path stays ``pq_encode``)."""
    from hive_plan_service_spark.operators import vectors as vx
    from hive_plan_service_spark.sources.catalog import register_tables

    register_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    books = vx.pq_train_codebooks(emb, subspaces=8, codes=16)
    col = vx.pq_encode(emb, books, subspaces=8)
    np_ = vx.pq_encode_np(emb, books, subspaces=8)
    # mapInPandas output fields are always nullable — compare name+type
    assert [(f.name, f.dataType) for f in np_.schema] == [
        (f.name, f.dataType) for f in col.schema
    ]
    a = sorted(map(tuple, col.collect()))
    b = sorted(map(tuple, np_.collect()))
    assert a == b


def test_pq_encode_np_rejects_bad_codebooks(spark, sf_dir):
    """Same layout contract as pq_topk: ragged/gapped/duplicated books
    fail loudly (driver-side here — the collect sees the whole book)."""
    import pytest

    from hive_plan_service_spark.operators import vectors as vx
    from hive_plan_service_spark.sources.catalog import register_tables

    register_tables(spark, sf_dir)
    emb = spark.table("embeddings").limit(4)
    books = vx.pq_train_codebooks(emb, subspaces=4, codes=4)
    gapped = books.filter(~((F.col("s") == 1) & (F.col("code") == 2)))
    with pytest.raises(ValueError, match="contiguous 0-based"):
        vx.pq_encode_np(emb, gapped, subspaces=4)
    # fewer entries than subspaces: zero codes per subspace
    undersized = books.filter((F.col("s") == 0) & (F.col("code") == 0))
    with pytest.raises(ValueError, match="contiguous 0-based"):
        vx.pq_encode_np(emb, undersized, subspaces=4)


def test_cosine_topk_np_matches_column(spark, sf_dir):
    """The Arrow/numpy exact-search twin must produce the EXACT
    (query, neighbor, cos, rank) rows of the Column ``cosine_topk`` —
    same sequential folds, same score op order, same (cos DESC, id ASC)
    selection order — for both exclude_self settings. Zero-norm inputs
    score 0.0 on BOTH paths (cos_div / where-guarded numpy divide —
    r8 zero-vector semantics), so the twins stay identical even on
    degenerate corpora."""
    from hive_plan_service_spark.operators import vectors as vx
    from hive_plan_service_spark.sources.catalog import register_tables

    register_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") < 7)
    for excl in (True, False):
        col = vx.cosine_topk(queries, emb, k=5, exclude_self=excl)
        np_ = vx.cosine_topk_np(queries, emb, k=5, exclude_self=excl)
        assert col.exceptAll(np_).count() == 0, excl
        assert np_.exceptAll(col).count() == 0, excl

    zeroq = queries.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") == 0,
            F.transform("embedding", lambda _: F.lit(0.0).cast("float")),
        ).otherwise(F.col("embedding")),
    )
    # zero-norm query: both paths must agree, with every pair scored 0.0
    zero_corpus = emb.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") % 5 == 0,
            F.transform("embedding", lambda _: F.lit(0.0).cast("float")),
        ).otherwise(F.col("embedding")),
    )
    col_z = vx.cosine_topk(zeroq, zero_corpus, k=5)
    np_z = vx.cosine_topk_np(zeroq, zero_corpus, k=5)
    assert col_z.exceptAll(np_z).count() == 0
    assert np_z.exceptAll(col_z).count() == 0
    zrows = col_z.filter(F.col("query_id") == 0).collect()
    assert zrows and all(r["cos"] == 0.0 for r in zrows)

    # empty query batch mirrors the Column path (r5 ADVICE): an empty
    # typed frame with the identical output schema, not an error
    col_empty = vx.cosine_topk(queries.limit(0), emb, k=5)
    np_empty = vx.cosine_topk_np(queries.limit(0), emb, k=5)
    assert np_empty.count() == 0
    assert [(f.name, f.dataType) for f in np_empty.schema] == [
        (f.name, f.dataType) for f in col_empty.schema
    ]


def test_ivf_assign_np_matches_column(spark, sf_dir):
    """The Arrow/numpy assignment twin must produce the EXACT
    (vector → centroid) map of the Column ``ivf_assign``: same
    sequential element-order folds for dot and norm, same score op
    order, argmin over id-sorted centroids = the min-struct smallest-id
    tie break. A zero-norm centroid scores 0.0 against everything on
    BOTH paths (r8 zero-vector semantics), so assignment stays
    identical on degenerate inputs."""
    from hive_plan_service_spark.operators import vectors as vx
    from hive_plan_service_spark.sources.catalog import register_tables

    register_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    cents = emb.filter(F.col("vec_id") % 7 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    col = vx.ivf_assign(emb, cents).select("vec_id", "centroid_id")
    np_ = vx.ivf_assign_np(emb, cents).select("vec_id", "centroid_id")
    assert col.exceptAll(np_).count() == 0
    assert np_.exceptAll(col).count() == 0

    zero = cents.withColumn(
        "embedding",
        F.when(
            F.col("centroid_id") == 0,
            F.transform("embedding", lambda _: F.lit(0.0).cast("float")),
        ).otherwise(F.col("embedding")),
    )
    col_z = vx.ivf_assign(emb, zero).select("vec_id", "centroid_id")
    np_z = vx.ivf_assign_np(emb, zero).select("vec_id", "centroid_id")
    assert col_z.exceptAll(np_z).count() == 0
    assert np_z.exceptAll(col_z).count() == 0


def test_capped_cluster_composition_cap_safety(spark, sf_dir):
    """The production composition (strip → capped LSH → verify → CC)
    must cluster IDENTICALLY capped vs uncapped when every over-cap
    bucket is exclusively boilerplate — the strip removes the content
    that made the bucket degenerate before the cap can drop true edges
    (VERDICT r4 #4). A meaningfulness guard proves the corpus really
    exercises the over-cap path: WITHOUT the strip, the same cap drops
    the boilerplate group's pairs entirely."""
    from hive_plan_service_spark.operators import dedup as dd
    from hive_plan_service_spark.plans.llm_ops import dedup_clusters_production
    from hive_plan_service_spark.sources.catalog import register_tables

    boiler = " ".join(f"tpl{i}" for i in range(16))  # 2 full segments
    pair_a = " ".join(f"apple{i}" for i in range(16))
    pair_a2 = pair_a.rsplit(" ", 1)[0] + " apricot"  # 1-token delta
    pair_b = " ".join(f"berry{i}" for i in range(16))
    pair_b2 = pair_b.rsplit(" ", 1)[0] + " currant"
    rows = (
        [(i, boiler) for i in range(6)]  # over-cap bucket, all boilerplate
        + [(10, pair_a), (11, pair_a2), (20, pair_b), (21, pair_b2)]
        + [(30, " ".join(f"zebra{i}" for i in range(16)))]  # singleton
    )
    tiny = spark.createDataFrame(rows, "doc_id long, text string")

    register_tables(spark, sf_dir, force=True)
    tiny.createOrReplaceTempView("documents")
    try:
        # guard: on the RAW corpus the 6-doc boilerplate bucket exceeds
        # the cap — capped LSH drops all 15 of its pairs, uncapped keeps
        # them. The corpus genuinely exercises the over-cap path.
        raw_unc = dd.minhash_lsh_pairs(
            tiny, num_hashes=64, bands=32, est_threshold=0.0
        )
        raw_cap = dd.minhash_lsh_pairs(
            tiny, num_hashes=64, bands=32, est_threshold=0.0, max_bucket=4
        )
        assert raw_unc.filter(F.col("doc_a") < 6).count() == 15
        assert raw_cap.filter(F.col("doc_a") < 6).count() == 0

        capped = {
            (r["doc_id"], r["component"])
            for r in dedup_clusters_production(
                spark, sf_dir, max_bucket=4
            ).collect()
        }
        uncapped = {
            (r["doc_id"], r["component"])
            for r in dedup_clusters_production(
                spark, sf_dir, max_bucket=None
            ).collect()
        }
        assert capped == uncapped
        # post-strip: boilerplate docs vanish (empty text), both true
        # near-dup pairs survive as 2-doc clusters, singleton edge-free
        assert capped == {(10, 10), (11, 10), (20, 20), (21, 20)}
    finally:
        register_tables(spark, sf_dir, force=True)


def test_pq_topk_ragged_codebook_raises(spark):
    """pq_topk's flat distance-table lookup assumes equal contiguous
    0-based codes per subspace (the pq_train_codebooks shape); a ragged
    external codebook must fail LOUDLY, not return wrong distances
    (ADVICE r4)."""
    import pytest

    from hive_plan_service_spark.operators import vectors as vx

    queries = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    codes = spark.createDataFrame(
        [(1, 0, 0), (1, 1, 0)], "vec_id long, s int, code int"
    )
    # subspace 0 has 2 codes, subspace 1 has 3 → table size 5 % 2 ≠ 0
    ragged = spark.createDataFrame(
        [
            (0, 0, [0.0, 0.0]),
            (0, 1, [1.0, 1.0]),
            (1, 0, [0.0, 0.0]),
            (1, 1, [1.0, 1.0]),
            (1, 2, [2.0, 2.0]),
        ],
        "s int, code int, centroid array<double>",
    )
    with pytest.raises(Exception, match="pq_topk"):
        vx.pq_topk(queries, codes, ragged, k=1, subspaces=2, dim=4).collect()

    # ragged counts SUMMING to a multiple of subspaces (1 + 3 = 4) pass
    # a size-divisibility check but still corrupt the flat lookup — the
    # layout guard must catch them too (r5 review)
    ragged_divisible = spark.createDataFrame(
        [
            (0, 0, [0.0, 0.0]),
            (1, 0, [0.0, 0.0]),
            (1, 1, [1.0, 1.0]),
            (1, 2, [2.0, 2.0]),
        ],
        "s int, code int, centroid array<double>",
    )
    with pytest.raises(Exception, match="pq_topk"):
        vx.pq_topk(
            queries, codes, ragged_divisible, k=1, subspaces=2, dim=4
        ).collect()

    # gapped codes (0, 2 — count right, contiguity broken) likewise
    gapped = spark.createDataFrame(
        [
            (0, 0, [0.0, 0.0]),
            (0, 2, [1.0, 1.0]),
            (1, 0, [0.0, 0.0]),
            (1, 1, [1.0, 1.0]),
        ],
        "s int, code int, centroid array<double>",
    )
    with pytest.raises(Exception, match="pq_topk"):
        vx.pq_topk(queries, codes, gapped, k=1, subspaces=2, dim=4).collect()


def test_topk_operators_break_score_ties_by_neighbor_id(spark):
    """Every top-k operator shares one rank rule: equal scores rank by
    ascending neighbor id, and ``rank`` is a bigint running 1..k. The
    corpus is built so duplicate vectors score exactly equal: ids 3, 5, 7
    point along the query (cos 1, ADC distance 0), ids 4 and 8 sit at 45°
    (cos 0.707, ADC distance 1) and id 6 is orthogonal."""
    from pyspark.sql.types import LongType

    rows = [
        (7, [2.0, 0.0, 0.0, 0.0]),
        (4, [1.0, 1.0, 0.0, 0.0]),
        (3, [2.0, 0.0, 0.0, 0.0]),
        (8, [1.0, 1.0, 0.0, 0.0]),
        (6, [0.0, 1.0, 0.0, 0.0]),
        (5, [2.0, 0.0, 0.0, 0.0]),
        (0, [1.0, 0.0, 0.0, 0.0]),
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).repartition(3)
    queries = corpus.filter(F.col("vec_id") == 0)
    centroids = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "centroid_id int, embedding array<float>",
    )
    book = spark.createDataFrame(
        [
            (0, 0, [1.0, 0.0]), (0, 1, [1.0, 1.0]), (0, 2, [0.0, 1.0]),
            (1, 0, [0.0, 0.0]), (1, 1, [1.0, 0.0]), (1, 2, [0.0, 1.0]),
        ],
        "s int, code int, centroid array<double>",
    )
    codes = vx.pq_encode(corpus, book, subspaces=2, dim=4)
    assigned = vx.ivf_assign(corpus, centroids)
    ops = {
        "cosine_topk": lambda k: vx.cosine_topk(queries, corpus, k),
        "cosine_topk_np": lambda k: vx.cosine_topk_np(queries, corpus, k),
        "ivf_topk": lambda k: vx.ivf_topk(queries, assigned, centroids, k),
        "lsh_topk": lambda k: vx.lsh_topk(queries, corpus, k, dim=4),
        "pq_topk": lambda k: vx.pq_topk(
            queries, codes, book, k, subspaces=2, dim=4
        ),
    }
    # lsh candidates are only guaranteed for the vectors along the query
    want = {2: [3, 5], 4: [3, 5, 7, 4]}
    for name, run in ops.items():
        for k, ids in want.items():
            if name == "lsh_topk" and k == 4:
                continue
            out = run(k)
            assert out.schema["rank"].dataType == LongType(), name
            got = sorted(
                (r["rank"], r["neighbor_id"]) for r in out.collect()
            )
            assert got == list(enumerate(ids, 1)), (name, k, got)


def test_pagerank_matches_integer_model(spark, sf_dir):
    """The engine's integer PageRank must equal a driver-side Python
    replica of the same arithmetic, node for node — determinism is
    exact, not approximate."""
    from hive_plan_service_spark.operators.pagerank import (
        DAMP_DEN,
        DAMP_NUM,
        SCALE,
        pagerank,
    )
    from hive_plan_service_spark.sources.catalog import table_path

    li = spark.read.parquet(table_path(sf_dir, "lineitem"))
    edges = li.select(
        F.col("l_orderkey").alias("src"), (-F.col("l_partkey") - 1).alias("dst")
    )
    got = {r["node"]: r["rank"] for r in pagerank(edges, iterations=5).collect()}

    es = [(r["src"], r["dst"]) for r in edges.collect()]
    nodes = sorted({s for s, _ in es} | {d for _, d in es})
    n = len(nodes)
    deg: dict = {}
    for s, _ in es:
        deg[s] = deg.get(s, 0) + 1
    rank = {v: SCALE // n for v in nodes}
    for _ in range(5):
        contrib = {v: 0 for v in nodes}
        for s, d in es:
            contrib[d] += rank[s] // deg[s]
        dang = sum(rank[v] for v in nodes if v not in deg)
        rank = {
            v: (SCALE // n) * (DAMP_DEN - DAMP_NUM) // DAMP_DEN
            + DAMP_NUM * (contrib[v] + dang // n) // DAMP_DEN
            for v in nodes
        }
    assert got == rank


def test_lsh_banding_survives_adversarial_near_threshold_pairs(spark):
    """Fixture-regeneration canary (VERDICT r2 watch item): the oracle-
    green cluster/pipeline queries tie a PROBABILISTIC LSH candidate
    stage to an EXACT oracle. Construct pairs engineered to sit right at
    the thresholds — J ≈ 0.885/0.903 around the pipeline's 0.9 verify,
    J ≈ 0.496/0.508 around the clusters' 0.5 — and assert both banded
    shapes still recover the exact edge set. xxhash64 is deterministic,
    so this either holds for good or fails loudly now, never flakily.
    """
    rows = []
    doc_id = 0
    # each pair gets its own token namespace: no cross-pair shingles
    for pair, swap in enumerate([5, 6] * 15 + [32, 33] * 15):
        n = 100
        base = [f"p{pair}t{i}" for i in range(n)]
        rows.append((doc_id, " ".join(base)))
        mutated = base[: n - swap] + [f"p{pair}u{i}" for i in range(swap)]
        rows.append((doc_id + 1, " ".join(mutated)))
        doc_id += 2
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    def edges(df):
        return {(r["doc_a"], r["doc_b"]) for r in df.collect()}

    # pipeline shape: 16 hashes / 8 bands, est >= 0.5, verify 0.9
    cands = dd.minhash_lsh_pairs(docs, num_hashes=16, bands=8, est_threshold=0.5)
    verified = edges(dd.jaccard_verify_pairs(docs, cands, threshold=0.9))
    exact_09 = edges(dd.jaccard_pairs(docs, threshold=0.9))
    assert verified == exact_09, (
        len(verified), len(exact_09), "pipeline banding missed a J~0.9 pair"
    )
    assert len(exact_09) == 15, len(exact_09)  # the J=0.903 side only

    # clusters shape: 64 hashes / 32 bands, est >= 0.0, verify 0.5
    cands_w = dd.minhash_lsh_pairs(
        docs, num_hashes=64, bands=32, est_threshold=0.0
    )
    verified_05 = edges(dd.jaccard_verify_pairs(docs, cands_w, threshold=0.5))
    exact_05 = edges(dd.jaccard_pairs(docs, threshold=0.5))
    assert verified_05 == exact_05, (
        len(verified_05), len(exact_05), "cluster banding missed a J~0.5 pair"
    )
    # everything at or above 0.5: the 0.903, 0.885 and 0.508 sides
    assert len(exact_05) == 45, len(exact_05)


def test_registered_document_queries_survive_degenerate_corpus(spark, sf_dir):
    """Every documents-consuming registered query must RUN (not match an
    oracle — run) on a degenerate corpus: empty text, single word,
    sub-shingle-width docs, consecutive spaces, unicode, punctuation-
    only. Spark 4's ANSI mode turns latent out-of-range/division edges
    into runtime throws — round 5 found exactly one (element_at past
    the array end on a 2-word boilerplate-stripped doc, ROUND5_NOTES
    §4); this sweep pins the whole family against the next one.
    """
    from hive_plan_service_spark.plans.registry import all_queries
    from hive_plan_service_spark.sources.catalog import register_tables

    register_tables(spark, sf_dir)
    rows = [
        (0, "", "en", "web"),
        (1, "a", "en", "web"),
        (2, "a b", "de", "books"),
        (3, "x  y", "en", "web"),
        (4, "日本 テスト", "ja", "web"),
        (5, "...", "en", "code"),
        (6, " ", "de", "web"),
        (7, "w " * 200, "en", "web"),
    ]
    degen = spark.createDataFrame(
        [(i, t, lg, s, len(t)) for i, t, lg, s in rows],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    degen.createOrReplaceTempView("documents")
    try:
        failures = []
        for name, q in sorted(all_queries().items()):
            if not ({"B15", "B27", "B29", "llm"} & set(q.tags)):
                continue
            try:
                q.fn(spark, sf_dir).limit(3).collect()
            except Exception as ex:  # noqa: BLE001 — collecting all failures
                failures.append(f"{name}: {str(ex).splitlines()[0][:160]}")
        assert not failures, "\n".join(failures)
    finally:
        # the temp view shadows the parquet table for the whole session
        # fixture — restore it for later tests
        register_tables(spark, sf_dir, force=True)
