"""Vector similarity operators (SURVEY.md B28 + north-star ANN).

Embeddings are ``ArrayType(FloatType)`` columns; all math is done in
DOUBLE with *sequential left-fold* accumulation (``F.aggregate``), which
is bit-reproducible across runs and engines — the dot product of two
fixed arrays has one evaluation order, unlike a parallel float sum.

Scale design:
* brute-force top-k broadcasts the (small) query set against the corpus —
  one pass, no shuffle of the corpus, TakeOrdered per query;
* the IVF variant broadcasts K centroids, assigns each corpus vector to
  its nearest centroid (one map pass), and probes only ``nprobe``
  centroid buckets per query — the classic recall/throughput trade.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from hive_plan_service_spark.operators.textops import sql_ident
from hive_plan_service_spark.session import apply_wide_row_conf


def dot_sql(a: str, b: str) -> str:
    """Sequential-fold dot product of two float arrays, in DOUBLE."""
    return (
        f"aggregate(zip_with({a}, {b},"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0.0D, (acc, v) -> acc + v)"
    )


def norm_sql(a: str) -> str:
    return (
        f"sqrt(aggregate(transform({a},"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
        " 0.0D, (acc, v) -> acc + v))"
    )


def cos_div_sql(num: str, n1: str, n2: str) -> str:
    """Total cosine division: a ZERO-NORM operand yields 0.0.

    ANSI mode makes ``/`` throw on a zero divisor (r8 numfuzz: a
    zero/subnormal-underflow vector crashed every cosine consumer). A
    zero vector has no direction; scoring it 0.0 ("orthogonal") keeps
    every consumer total and deterministic — threshold filters drop
    it, top-k ranks it behind any positive match with the id
    tie-break. Oracles mirror with ``CASE WHEN n1*n2 = 0 THEN 0.0``;
    the np twins mirror with a where-guarded divide. The guarded
    branch is lazily evaluated (CASE WHEN), so no throw is reachable.
    """
    return (
        f"CASE WHEN ({n1} * {n2}) = 0.0D THEN 0.0D"
        f" ELSE {num} / ({n1} * {n2}) END"
    )


#: Exact per-pair score over the ``_qvec``/``_cvec`` vectors and their
#: ``_qn``/``_cn`` norms, the shape every top-k operator below projects.
_PAIR_COS_SQL = (
    cos_div_sql(dot_sql("_qvec", "_cvec"), "_qn", "_cn") + " AS cos"
)


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    *,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (self-matches excluded).

    Output: query_id, neighbor_id, cos, rank — rank tie-broken by
    neighbor id so results are totally deterministic.
    """
    # Norms precomputed BELOW the join (once per row / once per
    # broadcast query), not inside the pair expression: a cosine
    # written as one expression re-folds both norms per PAIR — 3 array
    # folds instead of 1 on the q×n hot path. The arithmetic is unchanged
    # (dot / (qn · cn), each factor the same sequential fold), so the
    # float results — and the value-hash oracle — are identical.
    v = sql_ident(vec)
    q = queries.selectExpr(
        f"{sql_ident(query_id)} AS query_id",
        f"{v} AS _qvec",
        f"{norm_sql(v)} AS _qn",
    )
    c = corpus.selectExpr(
        f"{sql_ident(corpus_id)} AS neighbor_id",
        f"{v} AS _cvec",
        f"{norm_sql(v)} AS _cn",
    )
    pairs = c.crossJoin(F.broadcast(q))
    if exclude_self:
        pairs = pairs.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = pairs.selectExpr("query_id", "neighbor_id", _PAIR_COS_SQL)
    w = W.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    vec: str = "embedding",
    id_col: str = "vec_id",
    centroid_id: str = "centroid_id",
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid (broadcast argmin).

    argmin is ``min(struct(-cos, centroid_id))`` — one aggregation, ties
    broken by centroid id, no window needed.

    K (centroid count) is a TUNING CONSTANT — fixed or ~√n, chosen for
    the recall/probe-cost target — never derived linearly from corpus
    size: assignment is O(n·K) cosines, so n-proportional seeding
    (fine for tiny fixtures) degrades to O(n²) — measured 115 s vs 12 s
    at 128k vectors (``git show ad4964a:scripts/ann_probe.py``).
    """
    # norms once per side below the join (same sequential-fold
    # arithmetic as cosine_topk, so scores are bit-identical) — as a pair
    # expression each of the O(n·K) assignment rows would re-fold the
    # row norm K× and the centroid norm n× (cosine_topk's r4 fix)
    v = sql_ident(vec)
    c = centroids.selectExpr(
        f"{sql_ident(centroid_id)} AS _cid",
        f"{v} AS _centroid",
        f"{norm_sql(v)} AS _kn",
    )
    scored = (
        corpus.selectExpr("*", f"{norm_sql(v)} AS _vn")
        .crossJoin(F.broadcast(c))
        .selectExpr(
            *map(sql_ident, corpus.columns),
            "_cid",
            f"{cos_div_sql(dot_sql(v, '_centroid'), '_vn', '_kn')} AS _cos",
        )
    )
    best = (
        scored.groupBy(id_col)
        .agg(F.min(F.struct(-F.col("_cos"), F.col("_cid"))).alias("_best"))
        .select(id_col, F.col("_best._cid").alias(centroid_id))
    )
    return corpus.join(best, id_col)


def cosine_topk_np(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    *,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Throughput twin of :func:`cosine_topk`: Arrow-batched numpy scan.

    The Column form pays q·n interpreted dot folds; this twin does the
    identical arithmetic in a ``mapInPandas`` kernel and keeps only the
    per-batch top-k per query (a total order on (cos DESC, neighbor
    ASC), so the global top-k is contained in the union of per-batch
    top-k's — the candidate relation crossing the final rank window is
    ≤ batches·q·k rows, not q·n).

    BIT-IDENTICAL by construction (the ``pq_encode_np`` argument): dot
    and norm accumulate in float64 in the SAME sequential element-order
    left fold as :func:`dot_sql`/:func:`norm_sql`, the score composes in
    the same op order (IEEE multiply is exactly commutative, so qn·cn ==
    cn·qn bitwise), and the selection order (cos desc, neighbor asc) is
    the exact rank order of the Column path — pinned by
    tests/test_llm_ops.py::test_cosine_topk_np_matches_column. A
    zero-norm vector scores 0.0 on both paths (``cos_div_sql`` /
    where-guarded numpy divide — r8 zero-vector semantics; NaN would
    sort FIRST in Spark's DESC and last in numpy, so totality is also
    what keeps the twins identical).

    Non-SQL-expressible (a Python stage) ⇒ NOT registered (invariant
    1); the oracle-checked canonical path stays :func:`cosine_topk`.
    The query batch is collected driver-side — the same fixed-size
    relation the Column path broadcasts (invariant 5's closure class).
    """
    import numpy as np

    from hive_plan_service_spark.operators.artifacts import bounded_collect

    q_rows = bounded_collect(
        queries.select(F.col(query_id).alias("_qid"), F.col(vec).alias("_qv")),
        "cosine_topk_np query batch",
    )
    if not q_rows:
        # Mirror the Column path (r5 ADVICE): cosine_topk on an empty
        # query batch yields an empty result, not an error — return a
        # typed empty frame with the identical output schema.
        qid_t = queries.schema[query_id].dataType.simpleString()
        cid_t = corpus.schema[corpus_id].dataType.simpleString()
        return queries.sparkSession.createDataFrame(
            [],
            schema=(
                f"query_id {qid_t}, neighbor_id {cid_t}, "
                "cos double, rank bigint"
            ),
        )
    q_rows.sort(key=lambda r: r["_qid"])
    qids = np.array([r["_qid"] for r in q_rows])
    qmat = np.array([r["_qv"] for r in q_rows], dtype=np.float64)
    nq, dim = qmat.shape
    # Arrow/cache batches sized for the corpus row width (invariant 27)
    apply_wide_row_conf(queries.sparkSession, dim * 8)
    qn_acc = np.zeros(nq, dtype=np.float64)
    for j in range(dim):  # sequential left fold, as norm_sql
        qn_acc += qmat[:, j] * qmat[:, j]
    qn = np.sqrt(qn_acc)

    src = corpus.select(F.col(corpus_id).alias("_cid"), F.col(vec).alias("_v"))
    cid_type = src.schema["_cid"].dataType.simpleString()
    qid_type = queries.schema[query_id].dataType.simpleString()

    def _scan(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            ids = pdf["_cid"].to_numpy()
            b = len(pdf)
            cn_acc = np.zeros(b, dtype=np.float64)
            dots = np.zeros((b, nq), dtype=np.float64)
            for j in range(dim):  # one fold order for norm AND dot
                xj = x[:, j]
                cn_acc += xj * xj
                dots += xj[:, None] * qmat[None, :, j]
            # where-guarded divide: zero-norm operand scores 0.0,
            # bit-matching cos_div_sql's CASE (r8 zero-vector semantics)
            den = np.sqrt(cn_acc)[:, None] * qn[None, :]
            cos = np.divide(
                dots, den, out=np.zeros_like(dots), where=den != 0
            )
            out_q, out_n, out_c = [], [], []
            for qi in range(nq):
                col = cos[:, qi]
                cand_ids, cand_cos = ids, col
                if exclude_self:
                    keep = ids != qids[qi]
                    cand_ids, cand_cos = ids[keep], col[keep]
                # exact rank order: cos DESC, neighbor id ASC
                order = np.lexsort((cand_ids, -cand_cos))[:k]
                out_q.extend([qids[qi]] * len(order))
                out_n.extend(cand_ids[order])
                out_c.extend(cand_cos[order])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cos": out_c}
            )

    cands = src.mapInPandas(
        _scan,
        schema=f"query_id {qid_type}, neighbor_id {cid_type}, cos double",
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        cands.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def ivf_assign_np(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    vec: str = "embedding",
    id_col: str = "vec_id",
    centroid_id: str = "centroid_id",
) -> DataFrame:
    """Throughput twin of :func:`ivf_assign`: Arrow-batched numpy argmin.

    The Column form pays n·K interpreted folds (dot + the row norm) —
    the corpus-proportional part of the IVF index build (ROUND5_NOTES
    §5: 265 s at 1M×768). This twin runs the identical float arithmetic
    inside ``mapInPandas`` and joins the (id, centroid) assignment back
    exactly as the Column path does.

    BIT-IDENTICAL by construction (the ``pq_encode_np`` argument):
    dot and norm accumulate in float64 in the SAME sequential
    element-order left fold as :func:`dot_sql`/:func:`norm_sql` (explicit
    loop over j — never ``np.sum``), the score is composed in the same op
    order (``dots / (vn · kn)``), and ``np.argmin`` over centroids
    sorted by id returns the first minimum = ``min(struct(-cos,
    cid))``'s smallest-id tie-break. An all-zero CORPUS row makes every
    score NaN on both paths and both fall back to the smallest centroid
    id (Spark: all struct keys equal; numpy: argmin returns the first
    NaN). An all-zero CENTROID would diverge (Spark sorts its NaN score
    last, numpy argmin would select it first), so it is rejected
    loudly. Pinned by tests/test_llm_ops.py::
    test_ivf_assign_np_matches_column.

    Non-SQL-expressible (a Python stage) ⇒ NOT registered (invariant
    1); the oracle-checked path stays :func:`ivf_assign`. The K·dim
    centroid table is a fixed-size tuning-constant artifact shipped in
    the closure (invariant 5's documented class).
    """
    import numpy as np

    from hive_plan_service_spark.operators.artifacts import bounded_collect

    cent_rows = bounded_collect(
        centroids.select(
            F.col(centroid_id).alias("_cid"), F.col(vec).alias("_cv")
        ),
        "ivf_assign_np centroid set",
    )
    if not cent_rows:
        raise ValueError("ivf_assign_np: empty centroid set")
    cent_rows.sort(key=lambda r: r["_cid"])
    cids = np.array([r["_cid"] for r in cent_rows])
    cmat = np.array([r["_cv"] for r in cent_rows], dtype=np.float64)
    kk, dim = cmat.shape
    # Arrow/cache batches sized for the corpus row width (invariant 27)
    apply_wide_row_conf(corpus.sparkSession, dim * 8)
    kn_acc = np.zeros(kk, dtype=np.float64)
    for j in range(dim):  # sequential left fold, as norm_sql
        kn_acc += cmat[:, j] * cmat[:, j]
    kn = np.sqrt(kn_acc)

    src = corpus.select(F.col(id_col).alias("_pid"), F.col(vec).alias("_v"))
    id_type = src.schema["_pid"].dataType.simpleString()
    cid_type = centroids.schema[centroid_id].dataType.simpleString()

    def _assign(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            b = len(pdf)
            vn_acc = np.zeros(b, dtype=np.float64)
            dots = np.zeros((b, kk), dtype=np.float64)
            for j in range(dim):  # one fold order for norm AND dot
                xj = x[:, j]
                vn_acc += xj * xj
                dots += xj[:, None] * cmat[None, :, j]
            # same op order as the Column score: (vn · kn) then a
            # where-guarded divide (zero-norm operand scores 0.0,
            # bit-matching cos_div_sql — r8 zero-vector semantics)
            den = np.sqrt(vn_acc)[:, None] * kn[None, :]
            neg = -np.divide(
                dots, den, out=np.zeros_like(dots), where=den != 0
            )
            best = np.argmin(neg, axis=1)
            yield pd.DataFrame(
                {"_pid": pdf["_pid"].to_numpy(), "_cid": cids[best]}
            )

    best = src.mapInPandas(
        _assign, schema=f"_pid {id_type}, _cid {cid_type}"
    ).select(F.col("_pid").alias(id_col), F.col("_cid").alias(centroid_id))
    return corpus.join(best, id_col)


def ivf_topk(
    queries: DataFrame,
    corpus_assigned: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    *,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN top-k: probe only the ``nprobe`` nearest centroid buckets.

    ``corpus_assigned`` must carry a ``centroid_id`` from :func:`ivf_assign`.
    """
    probe = (
        cosine_topk(
            queries,
            centroids,
            k=nprobe,
            query_id=id_col,
            corpus_id="centroid_id",
            vec=vec,
            exclude_self=False,
        )
        .select("query_id", F.col("neighbor_id").alias("centroid_id"))
    )
    v = sql_ident(vec)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec).alias("_qvec"),
        F.expr(norm_sql(v)).alias("_qn"),
    )
    candidates = (
        corpus_assigned.withColumn("_cn", F.expr(norm_sql(v)))
        .join(F.broadcast(probe), "centroid_id")
        .join(F.broadcast(q), "query_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .selectExpr(
            "query_id",
            f"{sql_ident(id_col)} AS neighbor_id",
            f"{cos_div_sql(dot_sql('_qvec', v), '_qn', '_cn')} AS cos",
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        candidates.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def _hyperplane_band_buckets(
    vec_col: str, planes: int, bands: int, dim: int
) -> Column:
    """Array of banded hyperplane-LSH bucket structs for one vector.

    Hyperplane components are pseudo-random but data-independent and
    ENGINE-PORTABLE — plain int64 arithmetic, no engine hash builtin:
    ``h_p[j] = (((p·dim + j + 1)·2654435761 mod (2^31−1)) mod 2001 − 1000)/1000``
    (Knuth multiplicative constant), so an external engine reproduces the
    planes, sign bits, buckets — and therefore the candidate set — bit-
    for-bit; the canonical ANN query is oracle-checked on exactly this.
    Sign bits are grouped into ``bands`` bands (MinHash-style banding:
    any band agreeing → candidate), each band's bit pattern summed into
    a bucket id. Unrolled in Python so every shift amount is a literal.
    """
    def _plane_fold(p: int):
        # closure factory: a default-arg lambda would look 3-ary to
        # PySpark's higher-order-function signature inspection
        def fold(acc: Column, j: Column) -> Column:
            v = (
                (j.cast("bigint") + F.lit(p * dim + 1)) * F.lit(2654435761)
            ) % F.lit(2147483647)
            component = (v % F.lit(2001) - 1000) / F.lit(1000.0)
            return acc + F.element_at(F.col(vec_col), j + 1).cast("double") * component

        return fold

    per_band = planes // bands
    band_structs = []
    for band in range(bands):
        bucket = F.lit(0).cast("bigint")
        for i in range(per_band):
            p = band * per_band + i
            dot_p = F.aggregate(
                F.sequence(F.lit(0), F.lit(dim - 1)), F.lit(0.0), _plane_fold(p)
            )
            bucket = bucket + F.when(dot_p > 0, F.lit(1 << i)).otherwise(F.lit(0))
        band_structs.append(
            F.struct(F.lit(band).alias("band"), bucket.cast("bigint").alias("bucket"))
        )
    return F.array(*band_structs)


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    planes: int = 16,
    bands: int = 4,
    *,
    id_col: str = "vec_id",
    vec: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """ANN top-k via banded random-hyperplane LSH.

    Vectors agreeing on any full band of sign bits become candidates;
    exact cosine ranks within candidates. One shuffle on (band, bucket) —
    at corpus scale the cost is bucket-local, the vector analog of the
    MinHash-LSH text path. Recall/cost is tuned by (planes, bands).
    """
    bb = _hyperplane_band_buckets(vec, planes, bands, dim)
    # norms computed once per input row, carried through the explode
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec).alias("_cvec"),
        F.expr(norm_sql(sql_ident(vec))).alias("_cn"),
        F.explode(bb).alias("_bb"),
    ).select(
        "neighbor_id", "_cvec", "_cn",
        F.col("_bb.band").alias("band"), F.col("_bb.bucket").alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec).alias("_qvec"),
        F.expr(norm_sql(sql_ident(vec))).alias("_qn"),
        F.explode(bb).alias("_bb"),
    ).select(
        "query_id", "_qvec", "_qn",
        F.col("_bb.band").alias("band"), F.col("_bb.bucket").alias("bucket"),
    )
    candidates = (
        c.join(F.broadcast(q), ["band", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "_qvec", "_qn", "_cvec", "_cn")
        .dropDuplicates(["query_id", "neighbor_id"])
        .selectExpr("query_id", "neighbor_id", _PAIR_COS_SQL)
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        candidates.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


# --------------------------------------------------------------------------
# Product quantization (PQ-ADC): the memory-bound ANN path. Vectors are
# split into S subspaces, each encoded as the id of its nearest
# per-subspace codebook centroid: D floats become S small ints, and
# query-time distance is S table lookups (asymmetric distance
# computation) instead of D multiplies. At corpus scale the codes table
# is ~D·4/S× smaller than the raw embeddings — the index that fits in
# memory when the vectors don't.
# --------------------------------------------------------------------------
def _subvectors(vec: Column, subspaces: int, dim: int) -> Column:
    """Array of S equal slices of ``vec`` (as double arrays)."""
    width = dim // subspaces
    return F.array(
        *[
            F.transform(
                F.slice(vec, s * width + 1, width), lambda x: x.cast("double")
            )
            for s in range(subspaces)
        ]
    )


def _l2sq(a: Column, b: Column) -> Column:
    """Sequential-fold squared L2 distance of two double arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_train_codebooks(
    corpus: DataFrame,
    *,
    vec: str = "embedding",
    id_col: str = "vec_id",
    subspaces: int = 4,
    codes: int = 16,
    dim: int = 64,
    max_iter: int = 5,
) -> DataFrame:
    """Per-subspace k-means codebooks → (s, code, centroid array<double>).

    Index-BUILD control flow: ALL subspaces train together in one
    deterministic integer-Lloyd run (operators/kmeans.py — ``s`` is the
    training group), one plan per iteration instead of S sequential
    MLlib fits. Centers are int64 micro-unit arithmetic: bit-identical
    at any parallelism/cluster layout AND reproducible in plain SQL, so
    the registered PQ query is value-hash oracle-checked. S and
    ``codes`` are tuning constants, never corpus-proportional.
    """
    from hive_plan_service_spark.operators.kmeans import kmeans_integer

    subs = corpus.select(
        F.col(id_col),
        F.posexplode(_subvectors(F.col(vec), subspaces, dim)).alias(
            "s", "subvec"
        ),
    )
    return kmeans_integer(
        subs,
        k=codes,
        dim=dim // subspaces,
        iters=max_iter,
        vec="subvec",
        id_col=id_col,
        group_cols=("s",),
    ).select("s", "code", "centroid")


def pq_train_codebooks_np(
    corpus: DataFrame,
    *,
    vec: str = "embedding",
    id_col: str = "vec_id",
    subspaces: int = 4,
    codes: int = 16,
    dim: int = 64,
    max_iter: int = 5,
) -> DataFrame:
    """Throughput twin of :func:`pq_train_codebooks` (numpy Lloyd).

    Same explode-to-subvectors front end, but training runs through
    ``kmeans_integer_np`` — bit-identical codebooks (integer sums
    commute; see its docstring), ~an order of magnitude faster on the
    interpreted-fold-bound scoring. NOT registered (Python stage,
    invariant 1): the oracle path stays :func:`pq_train_codebooks`;
    this is the index-build path, pairing with :func:`pq_encode_np`.
    """
    from hive_plan_service_spark.operators.kmeans import kmeans_integer_np

    # Size scan/cache/Arrow buffers for the FULL-width corpus rows the
    # subvector explode reads (kmeans will recompute from the narrower
    # subvec width, but the ratchet only ever moves down) — invariant 27
    apply_wide_row_conf(corpus.sparkSession, dim * 8)
    subs = corpus.select(
        F.col(id_col),
        F.posexplode(_subvectors(F.col(vec), subspaces, dim)).alias(
            "s", "subvec"
        ),
    )
    return kmeans_integer_np(
        subs,
        k=codes,
        dim=dim // subspaces,
        iters=max_iter,
        vec="subvec",
        id_col=id_col,
        group_cols=("s",),
    ).select("s", "code", "centroid")


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    *,
    vec: str = "embedding",
    id_col: str = "vec_id",
    subspaces: int = 4,
    dim: int = 64,
) -> DataFrame:
    """(id, s, code) PQ codes: broadcast-argmin per (vector, subspace).

    One map pass over the corpus (explode to S rows, broadcast the
    S·codes codebook, min-struct argmin) — the IVF assignment shape, S×.
    """
    sub = corpus.select(
        F.col(id_col),
        F.posexplode(_subvectors(F.col(vec), subspaces, dim)).alias(
            "s", "subvec"
        ),
    )
    scored = sub.join(F.broadcast(codebooks), "s").select(
        id_col,
        "s",
        F.col("code"),
        _l2sq(F.col("subvec"), F.col("centroid")).alias("_d"),
    )
    return (
        scored.groupBy(id_col, "s")
        .agg(F.min(F.struct(F.col("_d"), F.col("code"))).alias("_best"))
        .select(id_col, "s", F.col("_best.code").alias("code"))
    )


def pq_encode_np(
    corpus: DataFrame,
    codebooks: DataFrame,
    *,
    vec: str = "embedding",
    id_col: str = "vec_id",
    subspaces: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Throughput twin of ``pq_encode``: Arrow-batched numpy argmin.

    ``pq_encode``'s Column-algebra form explodes to n·S·codes scored
    rows, each paying an interpreted 0-fold per distance (higher-order
    functions never enter whole-stage codegen) — measured ~800 s for a
    1M×768 encode (ROUND5_NOTES §5). This twin does the identical
    arithmetic inside ``mapInPandas``: one Arrow batch in, a (B, codes)
    accumulator per subspace, no explode, no groupBy shuffle.

    BIT-IDENTICAL by construction, not by luck: distances accumulate in
    float64 with the SAME left-fold order as ``_l2sq`` (an explicit loop
    over elements — ``acc + (x−c)·(x−c)`` per step; numpy's pairwise
    ``sum`` would change the order), and ``np.argmin`` returns the FIRST
    minimum, matching ``min(struct(_d, code))``'s smallest-code
    tie-break. The tie is pinned by
    tests/test_llm_ops.py::test_pq_encode_np_matches_column_encode.

    Non-SQL-expressible (a Python stage), so per invariant 1 it is NOT
    registered — the oracle-checked path stays ``pq_encode``; this is
    the index-build throughput path, same role as the ``*_xx`` hash
    twins. Caller spreads a one-file scan first (invariant 14), as with
    ``pq_encode``.
    """
    import numpy as np

    width = dim // subspaces
    # Fixed-size index artifact: subspaces·codes rows of width doubles —
    # tuning constants, never corpus-proportional (a 16×256×48 book is
    # ~1.5 MB). Bounded control-flow collect, documented per invariant 5;
    # the closure ships it to executors like a broadcast.
    from hive_plan_service_spark.operators.artifacts import bounded_collect

    book_rows = bounded_collect(
        codebooks.select("s", "code", "centroid"), "pq_encode_np codebook"
    )
    n_codes = len(book_rows) // subspaces if subspaces else 0
    got = sorted((r["s"], r["code"]) for r in book_rows)
    want = [(i // n_codes, i % n_codes) for i in range(len(book_rows))]
    if not book_rows or len(book_rows) % subspaces or got != want:
        raise ValueError(
            "pq_encode_np: codebook codes must be contiguous 0-based "
            f"with one equal count per subspace; got {len(book_rows)} "
            f"entries for subspaces={subspaces} whose (s, code) layout "
            "is ragged, gapped, or duplicated"
        )
    cb = np.empty((subspaces, n_codes, width), dtype=np.float64)
    for r in book_rows:
        cb[r["s"], r["code"]] = r["centroid"]

    # Arrow/cache batches sized for the full-width corpus rows the
    # kernel consumes (invariant 27)
    apply_wide_row_conf(corpus.sparkSession, dim * 8)
    src = corpus.select(F.col(id_col).alias("_pid"), F.col(vec).alias("_v"))
    id_type = src.schema["_pid"].dataType.simpleString()

    def _encode(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            # array<float> arrives as object Series of float32 ndarrays;
            # per-element float→double cast is exact, matching the
            # Column path's cast("double")
            x = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            b = len(pdf)
            out_codes = np.empty((b, subspaces), dtype=np.int32)
            for s in range(subspaces):
                xs = x[:, s * width : (s + 1) * width]
                acc = np.zeros((b, n_codes), dtype=np.float64)
                for j in range(width):  # sequential left fold, as _l2sq
                    d = xs[:, j : j + 1] - cb[s, :, j][None, :]
                    acc += d * d
                out_codes[:, s] = np.argmin(acc, axis=1)
            yield pd.DataFrame(
                {
                    "_pid": np.repeat(pdf["_pid"].to_numpy(), subspaces),
                    "s": np.tile(np.arange(subspaces, dtype=np.int32), b),
                    "code": out_codes.reshape(-1),
                }
            )

    return src.mapInPandas(
        _encode, schema=f"_pid {id_type}, s int, code int"
    ).select(F.col("_pid").alias(id_col), "s", "code")


def pq_codes_wide(codes_df: DataFrame, *, id_col: str = "vec_id") -> DataFrame:
    """Pivot (id, s, code) PQ codes to one row per vector (id, _codes).

    This is an INDEX-time artifact: the pivot shuffles n·S rows, so do
    it once after encoding (and checkpoint it with the codes), not per
    query batch — ``pq_topk`` accepts either shape but pays the pivot
    on every call when handed the narrow form.
    """
    return codes_df.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("s", "code"))),
            lambda x: x["code"],
        ).alias("_codes")
    )


def pq_topk(
    queries: DataFrame,
    codes_df: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    *,
    vec: str = "embedding",
    id_col: str = "vec_id",
    subspaces: int = 4,
    dim: int = 64,
) -> DataFrame:
    """ADC top-k: broadcast distance tables + per-row code lookups.

    The distance table (queries × S × codes partial distances) is a
    fixed-size broadcast, pivoted to ONE flat array per query (index
    s·codes + code); the corpus codes pivot to ONE row per vector. A
    broadcast nested-loop join then scores every (vector, query) pair
    map-side — S array lookups per pair, summed in a fold — and the
    rank filter's partial WindowGroupLimit caps the only shuffle at k
    rows per query per partition. The corpus side never touches raw
    vectors, and no q×n relation is ever exchanged (the first-cut
    groupBy(query, neighbor) SUM shuffled q·n rows — measured 10×
    slower than brute force at 1M vectors before this shape, r4).
    Output: query_id, neighbor_id, adist, rank (ties broken by id).

    Codebook contract: every subspace must carry the SAME count of
    CONTIGUOUS 0-based codes (what ``pq_train_codebooks`` produces) —
    the flat-table lookup indexes ``s·n_codes + code`` and would return
    wrong distances, not an error, on a gapped or ragged external
    codebook. The guard below verifies the FULL contract on the sorted
    (s, code) entries (ragged, gapped, or duplicated layouts all raise
    at run time; one check per query row on the broadcast side).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.posexplode(_subvectors(F.col(vec), subspaces, dim)).alias(
            "s", "qsub"
        ),
    )
    # per-subspace partial distances are quantized to int64 micro-units
    # (FLOOR(d·2^40): power-of-two multiply is exact, the 2^-40 rounding
    # is far below ADC's own quantization error) so the SUM over
    # subspaces is an ORDER-FREE integer — the approximate ranking is
    # bit-identical at any parallelism and reproducible in the DuckDB
    # oracle, where a float partial-sum would depend on reduction order.
    table = q.join(F.broadcast(codebooks), "s").select(
        "query_id",
        "s",
        "code",
        F.floor(
            _l2sq(F.col("qsub"), F.col("centroid")) * F.lit(float(1 << 40))
        ).alias("pdist"),
    )
    # (s, code) is unique per query and (s) per vector, so the struct
    # sorts below give deterministic flat layouts.
    # codebook-layout guard (one row per query, broadcast side — zero
    # per-pair cost): the flat lookup s·n_codes + code assumes EVERY
    # subspace carries the same count of contiguous 0-based codes. The
    # sorted (s, code) entries make the full contract checkable, not
    # just size-divisibility (which a ragged book whose counts SUM to a
    # multiple of `subspaces`, or a gapped book, would slip past into
    # silently-wrong distances): entry i must sit at exactly
    # (s, code) = (i div n_codes, i mod n_codes).
    entries = table.groupBy("query_id").agg(
        F.array_sort(F.collect_list(F.struct("s", "code", "pdist"))).alias(
            "_entries"
        )
    )
    _n = (F.size("_entries") / F.lit(subspaces)).cast("int")
    layout_ok = (F.size("_entries") % F.lit(subspaces) == 0) & F.forall(
        F.transform(
            "_entries",
            lambda x, i: (x["s"] == F.floor(i / _n).cast("int"))
            & (x["code"] == i % _n),
        ),
        lambda ok: ok,
    )
    table_wide = entries.select(
        "query_id",
        F.when(
            layout_ok,
            F.transform("_entries", lambda x: x["pdist"]),
        ).otherwise(
            F.raise_error(F.concat(
                F.lit(
                    "pq_topk: codebook codes must be contiguous 0-based "
                    "with one equal count per subspace; got a distance "
                    "table of "
                ),
                F.size("_entries").cast("string"),
                F.lit(f" entries for subspaces={subspaces} whose (s, "
                      "code) layout is ragged, gapped, or duplicated"),
            ))
        ).alias("_tbl"),
    )
    codes_wide = (
        codes_df
        if "_codes" in codes_df.columns
        else pq_codes_wide(codes_df, id_col=id_col)
    )
    # static S-term sum (subspaces is a build-time constant): straight-
    # line codegen, no per-pair sequence allocation or lambda frames —
    # this inner expression runs q·n times per batch
    n_codes = (F.size(F.col("_tbl")) / F.lit(subspaces)).cast("int")
    adist_expr = sum(
        (
            F.element_at(
                F.col("_tbl"),
                (
                    F.lit(s) * n_codes
                    + F.element_at(F.col("_codes"), s + 1)
                ).cast("int")
                + F.lit(1),
            )
            for s in range(subspaces)
        ),
        start=F.lit(0).cast("bigint"),
    )
    adist = (
        codes_wide.crossJoin(F.broadcast(table_wide))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            adist_expr.alias("adist"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    return adist.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    ).filter(F.col("rank") <= k)


def pq_topk_refined(
    queries: DataFrame,
    codes_df: DataFrame,
    codebooks: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    *,
    shortlist: int = 50,
    vec: str = "embedding",
    id_col: str = "vec_id",
    subspaces: int = 8,
    dim: int = 64,
) -> DataFrame:
    """PQ-ADC shortlist + exact re-rank — the production PQ shape.

    ADC distance is a lossy total order: on corpora whose true top-k
    margins are thin (near-uniform embeddings), rank-k and rank-k+30
    swap freely under quantization noise (measured recall@5 = 0.2 at
    4×16 codes on the fixture). The fix is structural, not more codes:
    ADC selects a ``shortlist`` (cheap, code-table lookups over the
    whole corpus), then the exact metric re-ranks ONLY those rows
    (shortlist × queries raw-vector reads — 0.92 recall@5 at 8×64,
    shortlist 50). At 100 TB the expensive exact pass touches
    |queries|·shortlist vectors, not the corpus.

    Sizing (measured, ROUND5_NOTES §5): the ADC scan dominates the
    re-rank by orders of magnitude, so the shortlist knob is nearly
    free — at 1.02M×768 dims (16×64 codes) shortlist 400 → recall@5
    0.84 but 1000 → 1.00 at the same query cost. Production default:
    shortlist ≈ max(20·k, corpus_size / 1000), capped by
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (invariant 20:
    a rank filter with k past the threshold silently loses its partial
    WindowGroupLimit and the full ADC relation crosses the shuffle —
    ``session.tune()`` raises the threshold to 8192, plan-pinned in
    tests/test_plans.py; shortlists beyond that need the conf raised
    further, never a silent fallthrough).
    """
    short = pq_topk(
        queries,
        codes_df,
        codebooks,
        k=shortlist,
        vec=vec,
        id_col=id_col,
        subspaces=subspaces,
        dim=dim,
    ).select("query_id", "neighbor_id")
    v = sql_ident(vec)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec).alias("_qvec"),
        F.expr(norm_sql(v)).alias("_qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec).alias("_cvec"),
        F.expr(norm_sql(v)).alias("_cn"),
    )
    # shortlist is |queries|·shortlist rows — fixed-size; corpus side
    # joins by id (no broadcast hint on the SF-proportional corpus)
    rer = (
        short.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .selectExpr("query_id", "neighbor_id", _PAIR_COS_SQL)
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return rer.withColumn("rank", F.row_number().over(w).cast("bigint")).filter(
        F.col("rank") <= k
    )
