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
#: ``_qn``/``_cn`` norms, the shape :func:`_norm_proj` projects — the one
#: cosine of every similarity operator (vectors, kmeans-blocked dedup).
_PAIR_COS_SQL = (
    cos_div_sql(dot_sql("_qvec", "_cvec"), "_qn", "_cn") + " AS cos"
)


def _norm_proj(id_col: str, alias: str, vec: str, side: str) -> list[str]:
    """``<id> AS <alias>, <vec> AS _<side>vec, <norm> AS _<side>n``.

    Norms are folded once per input row BELOW the join, not inside the
    pair expression: a cosine written as one expression re-folds both
    norms per PAIR — 3 array folds instead of 1 on the q×n hot path (the
    r4 fix). The arithmetic is unchanged (dot / (qn · cn), each factor
    the same sequential fold), so the float results — and the value-hash
    oracles — are identical. Callers append the columns they keep.
    """
    v = sql_ident(vec)
    return [
        f"{sql_ident(id_col)} AS {sql_ident(alias)}",
        f"{v} AS _{side}vec",
        f"{norm_sql(v)} AS _{side}n",
    ]


def _top_k(
    df: DataFrame,
    k: int,
    score: str = "cos",
    *,
    asc: bool = False,
    by: str = "query_id",
    tie: str = "neighbor_id",
) -> DataFrame:
    """Add a bigint ``rank`` per ``by`` and keep ``rank <= k``.

    Ranked by ``score`` (descending unless ``asc``) with ties broken by
    ascending ``tie`` id, so results are totally deterministic.
    """
    order = F.col(score).asc() if asc else F.col(score).desc()
    w = W.partitionBy(by).orderBy(order, F.col(tie).asc())
    return df.withColumn("rank", F.row_number().over(w).cast("bigint")).filter(
        F.col("rank") <= k
    )


def _np_side(df: DataFrame, id_col: str, vec: str, what: str):
    """The small side of a ``*_np`` twin, collected to the driver.

    Returns ``(ids, matrix, norms)`` sorted by id — a float64 matrix and
    its norms in the same sequential left fold as :func:`norm_sql` — or
    None when ``df`` is empty. Arrow/cache batches are sized for the row
    width (invariant 27). The relation is the same fixed-size one the
    Column path broadcasts (invariant 5's closure class).
    """
    import numpy as np

    from hive_plan_service_spark.operators.artifacts import bounded_collect

    rows = bounded_collect(
        df.select(F.col(id_col).alias("_id"), F.col(vec).alias("_v")), what
    )
    if not rows:
        return None
    rows.sort(key=lambda r: r["_id"])
    mat = np.array([r["_v"] for r in rows], dtype=np.float64)
    apply_wide_row_conf(df.sparkSession, mat.shape[1] * 8)
    acc = np.zeros(len(mat), dtype=np.float64)
    for j in range(mat.shape[1]):
        acc += mat[:, j] * mat[:, j]
    return np.array([r["_id"] for r in rows]), mat, np.sqrt(acc)


def _np_kernels():
    """The batch arithmetic the ``*_np`` twins run inside ``mapInPandas``.

    Built inside a function so cloudpickle ships both kernels by value:
    a module-level function pickles by reference, and a python worker
    that cannot import this package (any driver cwd but the repo root in
    local mode) would then fail the stage.
    """

    def batch_matrix(vecs):
        """An Arrow batch's ``array<float>`` column (an object Series of
        float32 ndarrays) as a float64 matrix; the per-element
        float→double cast is exact, matching the Column paths' cast."""
        import numpy as np

        return np.stack(vecs.to_numpy()).astype(np.float64)

    def batch_cos(x, mat, norms):
        """Cosine of every ``x`` row against every ``mat`` row.

        Dot and norm accumulate in float64 in the SAME sequential
        element-order left fold as :func:`dot_sql`/:func:`norm_sql`
        (an explicit loop over j — never ``np.sum``), and the score
        composes in ``_PAIR_COS_SQL``'s op order. The divide is
        where-guarded: a zero-norm operand scores 0.0, bit-matching
        :func:`cos_div_sql`'s CASE (invariant 31).
        """
        import numpy as np

        xn = np.zeros(len(x), dtype=np.float64)
        dots = np.zeros((len(x), len(mat)), dtype=np.float64)
        for j in range(mat.shape[1]):  # one fold order for norm AND dot
            xj = x[:, j]
            xn += xj * xj
            dots += xj[:, None] * mat[None, :, j]
        den = np.sqrt(xn)[:, None] * norms[None, :]
        return np.divide(dots, den, out=np.zeros_like(dots), where=den != 0)

    return batch_matrix, batch_cos


_batch_matrix, _batch_cos = _np_kernels()


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
    q = queries.selectExpr(*_norm_proj(query_id, "query_id", vec, "q"))
    c = corpus.selectExpr(*_norm_proj(corpus_id, "neighbor_id", vec, "c"))
    pairs = c.crossJoin(F.broadcast(q))
    if exclude_self:
        pairs = pairs.filter(F.col("neighbor_id") != F.col("query_id"))
    return _top_k(pairs.selectExpr("query_id", "neighbor_id", _PAIR_COS_SQL), k)


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
    # an assignment row per (vector, centroid): the per-side norms of
    # _norm_proj keep the O(n·K) pair expression to one dot fold
    c = centroids.selectExpr(*_norm_proj(centroid_id, "_cid", vec, "c"))
    scored = (
        corpus.selectExpr(*_norm_proj(id_col, id_col, vec, "q"))
        .crossJoin(F.broadcast(c))
        .selectExpr(sql_ident(id_col), "_cid", _PAIR_COS_SQL)
    )
    best = (
        scored.groupBy(id_col)
        .agg(F.min(F.struct(-F.col("cos"), F.col("_cid"))).alias("_best"))
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

    BIT-IDENTICAL by construction (the ``pq_encode_np`` argument): the
    score is :func:`_batch_cos`, the numpy form of ``_PAIR_COS_SQL``
    (IEEE multiply is exactly commutative, so qn·cn == cn·qn bitwise),
    and the selection order (cos desc, neighbor asc) is the exact rank
    order of the Column path — pinned by
    tests/test_llm_ops.py::test_cosine_topk_np_matches_column. A
    zero-norm vector scores 0.0 on both paths (invariant 31; NaN would
    sort FIRST in Spark's DESC and last in numpy, so totality is also
    what keeps the twins identical).

    Non-SQL-expressible (a Python stage) ⇒ NOT registered (invariant
    1); the oracle-checked canonical path stays :func:`cosine_topk`.
    """
    import numpy as np

    side = _np_side(queries, query_id, vec, "cosine_topk_np query batch")
    if side is None:
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
    qids, qmat, qn = side
    src = corpus.select(F.col(corpus_id).alias("_cid"), F.col(vec).alias("_v"))
    cid_type = src.schema["_cid"].dataType.simpleString()
    qid_type = queries.schema[query_id].dataType.simpleString()

    def _scan(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            cos = _batch_cos(_batch_matrix(pdf["_v"]), qmat, qn)
            ids = pdf["_cid"].to_numpy()
            out_q, out_n, out_c = [], [], []
            for qi in range(len(qids)):
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
    return _top_k(cands, k)


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

    BIT-IDENTICAL by construction (the ``pq_encode_np`` argument): the
    score is :func:`_batch_cos`, the numpy form of ``_PAIR_COS_SQL``, and
    ``np.argmin`` over centroids sorted by id returns the first minimum =
    ``min(struct(-cos, cid))``'s smallest-id tie-break. A zero-norm row
    or centroid scores 0.0 on both paths (invariant 31). Pinned by
    tests/test_llm_ops.py::test_ivf_assign_np_matches_column.

    Non-SQL-expressible (a Python stage) ⇒ NOT registered (invariant
    1); the oracle-checked path stays :func:`ivf_assign`. The K·dim
    centroid table is a fixed-size tuning-constant artifact shipped in
    the closure (invariant 5's documented class).
    """
    import numpy as np

    side = _np_side(centroids, centroid_id, vec, "ivf_assign_np centroid set")
    if side is None:
        raise ValueError("ivf_assign_np: empty centroid set")
    cids, cmat, kn = side
    src = corpus.select(F.col(id_col).alias("_pid"), F.col(vec).alias("_v"))
    id_type = src.schema["_pid"].dataType.simpleString()
    cid_type = centroids.schema[centroid_id].dataType.simpleString()

    def _assign(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            cos = _batch_cos(_batch_matrix(pdf["_v"]), cmat, kn)
            best = cids[np.argmin(-cos, axis=1)]
            yield pd.DataFrame({"_pid": pdf["_pid"].to_numpy(), "_cid": best})

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
    q = queries.selectExpr(*_norm_proj(id_col, "query_id", vec, "q"))
    candidates = (
        corpus_assigned.selectExpr(
            *_norm_proj(id_col, "neighbor_id", vec, "c"), "centroid_id"
        )
        .join(F.broadcast(probe), "centroid_id")
        .join(F.broadcast(q), "query_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .selectExpr("query_id", "neighbor_id", _PAIR_COS_SQL)
    )
    return _top_k(candidates, k)


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

    # (the plan folds each norm above the Generate, once per band row)
    def banded(df: DataFrame, alias: str, side: str) -> DataFrame:
        return df.select(
            *map(F.expr, _norm_proj(id_col, alias, vec, side)),
            F.explode(bb).alias("_bb"),
        ).select(
            alias, f"_{side}vec", f"_{side}n",
            F.col("_bb.band").alias("band"), F.col("_bb.bucket").alias("bucket"),
        )

    candidates = (
        banded(corpus, "neighbor_id", "c")
        .join(F.broadcast(banded(queries, "query_id", "q")), ["band", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "_qvec", "_qn", "_cvec", "_cn")
        .dropDuplicates(["query_id", "neighbor_id"])
        .selectExpr("query_id", "neighbor_id", _PAIR_COS_SQL)
    )
    return _top_k(candidates, k)


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


def _subvector_rows(
    df: DataFrame, ident: Column, vec: str, subspaces: int, dim: int,
    sub: str = "subvec",
) -> DataFrame:
    """``(ident, s, <sub>)``: one row per subspace slice of ``vec``."""
    return df.select(
        ident,
        F.posexplode(_subvectors(F.col(vec), subspaces, dim)).alias("s", sub),
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

    subs = _subvector_rows(corpus, F.col(id_col), vec, subspaces, dim)
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
    subs = _subvector_rows(corpus, F.col(id_col), vec, subspaces, dim)
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
    sub = _subvector_rows(corpus, F.col(id_col), vec, subspaces, dim)
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
    # n_codes is 0 for an empty or undersized book: it fails before
    # the layout comparison divides by it
    if not n_codes or len(book_rows) % subspaces or got != [
        divmod(i, n_codes) for i in range(len(book_rows))
    ]:
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
            x = _batch_matrix(pdf["_v"])
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
    q = _subvector_rows(
        queries, F.col(id_col).alias("query_id"), vec, subspaces, dim, "qsub"
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
    return _top_k(adist, k, "adist", asc=True)


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
    q = queries.selectExpr(*_norm_proj(id_col, "query_id", vec, "q"))
    c = corpus.selectExpr(*_norm_proj(id_col, "neighbor_id", vec, "c"))
    # shortlist is |queries|·shortlist rows — fixed-size; corpus side
    # joins by id (no broadcast hint on the SF-proportional corpus)
    rer = (
        short.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .selectExpr("query_id", "neighbor_id", _PAIR_COS_SQL)
    )
    return _top_k(rer, k)
