"""Deterministic integer-arithmetic k-means (Lloyd, fixed iterations).

Replaces MLlib's float k-means for index-build training (IVF coarse
quantizers, PQ codebooks — reference parity: the capability closure's
ANN family, SURVEY.md B28). MLlib centers are float sums, so they depend
on the partition-reduction order; this trainer follows the PageRank
discipline (operators/pagerank.py) instead: every accumulated quantity
is an int64, so the result is bit-identical at ANY parallelism and any
cluster layout — and, like the portable sketch families, the whole
training loop is reproducible in plain SQL, which lets the registered
PQ/IVF queries carry full DuckDB value-hash oracles instead of
rows-only checks.

Scheme (mirrored bit-for-bit by plans/llm_ops._duck_kmeans_cte):

* quantize: ``q[j] = FLOOR((x[j] + 8.0) · 2^20)`` — one IEEE double add
  and an exact power-of-two multiply, then floor: deterministic and
  engine-portable. The +8 offset keeps every quantity NON-NEGATIVE for
  ``|x| < 8`` so Spark's truncating ``div`` and DuckDB's flooring ``//``
  agree.
* init: the ``k`` smallest-id points of each group are the seeds
  (code = row_number − 1) — no RNG to port.
* iterate (fixed count, unrolled in SQL): assign each point to the
  argmin-integer-L2 centroid (ties → smallest code), then recompute each
  centroid component as ``sum div count``; a cluster that loses every
  member keeps its previous centroid.
* publish: centroid doubles ``c/2^20 − 8.0`` (numerator ≤ 2^24 ⇒ both
  steps exact), ready for the existing double-cosine / L2 operators.

Bounds (documented, asserted nowhere hot): components must satisfy
``|x| < 8``; per-cluster member count must stay < 1e12 so component sums
fit int64. Distances are ≤ dim·(16·2^20)² ≈ 2^51·dim — safe for any
realistic dim, and under DuckDB's overflow-checked BIGINT multiply.

At 100 TB this is INDEX-BUILD control flow: k and iters are tuning
constants, training typically runs on a bounded sample (pass a sampled
DataFrame), and each iteration is one broadcast join (k·dim ints) plus
one map-side-combined aggregation — no collect of row data; the k-row
centroid frame is localCheckpoint'ed per iteration to cut lineage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from hive_plan_service_spark.operators.textops import sql_ident

#: quantization scale: 2^20 (exact power-of-two multiply on doubles)
SCALE = 1 << 20
#: offset making quantized components non-negative for |x| < 8
OFFSET = 8.0


def quantize(vec: Column) -> Column:
    """array<double> → array<bigint> micro-units: FLOOR((x+8)·2^20)."""
    return F.transform(
        vec,
        lambda x: F.floor((x.cast("double") + F.lit(OFFSET)) * F.lit(float(SCALE))),
    )


def dequantize(qvec: Column) -> Column:
    """Integer centroid → exact double array: c/2^20 − 8 (both steps exact)."""
    return F.transform(
        qvec,
        lambda c: c.cast("double") / F.lit(float(SCALE)) - F.lit(OFFSET),
    )


def _int_l2(a: Column, b: Column) -> Column:
    """Integer squared-L2 distance of two bigint arrays (sequential fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def _first_k(q: DataFrame, k: int) -> DataFrame:
    """The ungrouped seeds: the k smallest-``_pid`` rows, numbered ``_rn``.

    A rank window (also over a constant group column, which Catalyst
    folds to the same thing) would move EVERYTHING to one task with no
    partial limit; orderBy+limit is TakeOrderedAndProject (per-partition
    top-k, then k rows on the driver-side reduce), and the k-row
    numbering window after it is trivially cheap.
    """
    return (
        q.orderBy("_pid")
        .limit(k)
        .withColumn("_rn", F.row_number().over(W.orderBy("_pid")))
    )


def kmeans_integer(
    points: DataFrame,
    *,
    k: int,
    dim: int,
    iters: int = 5,
    vec: str = "vec",
    id_col: str = "vec_id",
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Train per-group integer k-means; return (group…, code, centroid).

    ``points`` carries one row per (group…, id, vec array<double>); all
    groups train TOGETHER in one plan per iteration (PQ trains all S
    subspaces in one pass — S separate MLlib fits before). ``centroid``
    is the exact-double dequantized center.
    """
    g = [F.col(c) for c in group_cols]
    q = points.select(
        *group_cols, F.col(id_col).alias("_pid"), quantize(F.col(vec)).alias("_q")
    )
    # the training set feeds every iteration's assignment join: persist
    # (spill-safe MEMORY_AND_DISK, the canonical iterative-training
    # shape) rather than recompute the scan+quantize per iteration;
    # unpersisted before return — the published centroids derive only
    # from the final checkpointed k-row frame. Spread by id first: a
    # one-file parquet scan is ONE partition (CLAUDE.md invariant 14),
    # which would serialize every iteration's k·dim distance evals onto
    # a single core; integer sums make the result identical either way.
    par = points.sparkSession.sparkContext.defaultParallelism
    q = q.repartition(par, *group_cols, "_pid").persist()

    # Seeds: the k smallest-id points per group (ungrouped: _first_k).
    # Grouped, the rank-filter window gets Spark's WindowGroupLimit
    # (per-map-task partial top-k), so the per-group sort task sees
    # #partitions·k rows, not the corpus (pinned by
    # tests/test_kmeans.py::test_seed_selection_plan_shape).
    if group_cols:
        w = W.partitionBy(*g).orderBy("_pid")
        cents = (
            q.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
        )
    else:
        cents = _first_k(q, k)
    cents = cents.select(
        *group_cols,
        (F.col("_rn") - 1).cast("int").alias("code"),
        F.col("_q").alias("_c"),
    ).localCheckpoint(eager=True)

    join_keys = list(group_cols)
    for _ in range(iters):
        scored = (
            q.join(F.broadcast(cents), join_keys)
            if join_keys
            else q.crossJoin(F.broadcast(cents))
        )
        assigned = (
            scored.select(
                *group_cols,
                "_pid",
                "_q",
                F.col("code"),
                _int_l2(F.col("_q"), F.col("_c")).alias("_d"),
            )
            .groupBy(*group_cols, "_pid")
            .agg(
                F.min(F.struct(F.col("_d"), F.col("code"))).alias("_best"),
                F.first("_q").alias("_q"),
            )
            .select(*group_cols, F.col("_best.code").alias("code"), "_q")
        )
        # per-component integer mean: dim parallel SUM aggregates (one
        # map-side-combined aggregation), then sum div count per slot
        sums = assigned.groupBy(*group_cols, "code").agg(
            F.count(F.lit(1)).alias("_n"),
            *[
                F.sum(F.element_at(F.col("_q"), j + 1)).alias(f"_s{j}")
                for j in range(dim)
            ],
        )
        means = sums.select(
            *group_cols,
            "code",
            F.array(
                *[F.expr(f"_s{j} div _n") for j in range(dim)]
            ).alias("_m"),
        )
        cents = (
            cents.join(means, join_keys + ["code"], "left")
            .select(
                *group_cols,
                "code",
                F.coalesce(F.col("_m"), F.col("_c")).alias("_c"),
            )
            .localCheckpoint(eager=True)
        )

    out = cents.select(
        *group_cols, "code", dequantize(F.col("_c")).alias("centroid")
    )
    q.unpersist()
    return out


def kmeans_integer_np(
    points: DataFrame,
    *,
    k: int,
    dim: int,
    iters: int = 5,
    vec: str = "vec",
    id_col: str = "vec_id",
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Throughput twin of :func:`kmeans_integer`: Arrow-batched numpy Lloyd.

    The Column-algebra trainer pays an interpreted zip-fold per scored
    (point, centroid) pair — n·k of them per iteration (higher-order
    array functions never enter whole-stage codegen); ROUND5_NOTES §5
    measured it as the dominant FIXED cost of a PQ index build (~140 s
    for 1M subvector rows × 5 iterations). This twin runs the identical
    arithmetic as one numpy kernel per iteration inside ``mapInPandas``
    — the ``pq_encode_np`` division of labor, applied to training.

    BIT-IDENTICAL by construction, and more robustly than the float
    encode twin: every accumulated quantity is an int64 (the whole point
    of the integer-Lloyd scheme), so partial sums commute and NO
    fold-order replication is needed — only the two float steps must
    match IEEE-exactly, and they do: quantize is the same
    ``floor((float64(x) + 8.0) · 2^20)`` op sequence as :func:`quantize`,
    dequantize the same exact ``c/2^20 − 8.0``. ``np.argmin`` returns
    the first minimum = ``min(struct(_d, code))``'s smallest-code
    tie-break; integer means use numpy's flooring ``//`` on non-negative
    operands = Spark's truncating ``div`` (the +8 offset exists exactly
    to make them agree). Equality with the Column trainer — including
    duplicate-seed ties and the empty-cluster keep-previous rule — is
    pinned by tests/test_kmeans.py::test_kmeans_np_twin_bit_identical.

    Non-SQL-expressible (a Python stage), so per invariant 1 it is NOT
    registered — the oracle-checked path stays :func:`kmeans_integer`;
    this is the index-build throughput path, same role as
    ``pq_encode_np`` / the ``*_xx`` hash twins.

    Driver-side data, all bounded (invariant 5's documented classes):
    the seed collect and per-iteration centroid state are k·dim ints per
    group (tuning constants shipped into the stage closure like a
    broadcast), and each iteration collects per-partition PARTIAL sums —
    ≤ partitions·groups·k rows of k·dim ints, the one-value-per-
    partition control-flow class (continuous rollup's touched-day
    lists), never corpus-proportional. The corpus itself only ever
    crosses as Arrow batches inside the stage.
    """
    import numpy as np

    from hive_plan_service_spark.session import apply_wide_row_conf

    spark = points.sparkSession
    # Size the two unmanaged per-task row buffers this function creates
    # — Arrow batches (the kernel feed) and the persist()'s columnar
    # cache builder — from heap and row width (invariant 27; the r6
    # spill certification OOM'd in ColumnBuilder.ensureFreeSpace here).
    apply_wide_row_conf(spark, dim * 8)
    g = [F.col(c) for c in group_cols]
    raw = points.select(
        *group_cols, F.col(id_col).alias("_pid"), F.col(vec).alias("_v")
    )
    # spread a one-file scan before the per-row CPU work (invariant 14)
    # and persist: the kernel passes over the input once per iteration
    par = spark.sparkContext.defaultParallelism
    raw = raw.repartition(par, *group_cols, "_pid").persist()
    # try/finally (r5 ADVICE): any exception in the seed collect
    # or an iteration must not leak the cached relation.
    try:
        # Materialize the cache in its OWN job before the seed window
        # reads it (the invariant-24 discipline, applied within one
        # operator): the grouped seed selection sorts the full corpus,
        # and on a tight heap the sorter's execution-memory requests
        # thrash against the cache build's storage unrolls when both
        # run in one stage — the r6 spill certification's fourth OOM.
        # Built first, the cache spills what storage can't hold and the
        # sort then evicts borrowed storage down to the protected floor.
        raw.count()

        from hive_plan_service_spark.operators.artifacts import (
            bounded_collect,
        )
        from hive_plan_service_spark.operators.vectors import _batch_matrix

        scale, offset = float(SCALE), OFFSET

        # Nested, so the kernel closures ship them by value (see
        # vectors._np_kernels).
        def _quantized(vecs):
            # quantize()'s exact IEEE op sequence; loud guard (r5
            # ADVICE): numpy's flooring // and Spark's truncating div
            # agree only on non-negative operands — a component outside
            # the |x| < 8 bound must fail, not silently break the
            # bit-identical contract with the Column trainer.
            x = _batch_matrix(vecs)
            qx = np.floor((x + offset) * scale).astype(np.int64)
            if (qx < 0).any():
                raise ValueError(
                    "kmeans_integer_np: quantized component < 0 "
                    "(input outside the documented |x| < 8 bound)"
                )
            return qx

        def _group_key(key):
            # pandas surfaces a Spark NULL key as NaN/NaT (numeric/
            # datetime dtypes) but the Arrow-cast collect and the Column
            # path both see None — normalize so the three agree (r6
            # ADVICE)
            import pandas as pd

            return tuple(None if pd.isna(v) else v for v in key)

        # Seeds: identical selection to the Column trainer (k smallest-id
        # points per group; TakeOrdered when ungrouped — same plan-shape
        # rules). The Column path keeps its window for the grouped case
        # (oracle-shaped); this twin must NOT sort the whole corpus to
        # pick k·groups rows — the r6 spill certification caught the
        # full-corpus window sort thrashing against the cache build on a
        # tight heap, and at 100 TB it is pure waste. Instead: one
        # streaming pass keeps the k smallest (pid, quantized vec) per
        # group per partition — the same ≤ partitions·groups·k bounded
        # driver class as the per-iteration partials — merged exactly on
        # the driver. The kernel quantize is the partials kernel's exact
        # IEEE op sequence (bit-identity pinned by test_kmeans).
        if group_cols:
            gtypes = ", ".join(
                f"{sql_ident(c)} {raw.schema[c].dataType.simpleString()}"
                for c in group_cols
            )
            pid_t = raw.schema["_pid"].dataType.simpleString()
            cand_schema = f"{gtypes}, _pid {pid_t}, _q array<bigint>"

            def _seed_candidates(batches):
                import pandas as pd

                best: dict = {}  # group key tuple -> (pids, qmat)
                for pdf in batches:
                    if not len(pdf):
                        continue
                    qx = _quantized(pdf["_v"])
                    pids = pdf["_pid"].to_numpy()
                    # dropna=False: a NULL group key is a real window
                    # partition on the Column path — dropping it here
                    # would silently diverge
                    gb = pdf.groupby(
                        list(group_cols), sort=False, dropna=False
                    ).indices
                    for key, idx in gb.items():
                        key_t = _group_key(
                            key if isinstance(key, tuple) else (key,)
                        )
                        cp = best.get(key_t)
                        np_pids, np_q = pids[idx], qx[idx]
                        if cp is not None:
                            np_pids = np.concatenate([cp[0], np_pids])
                            np_q = np.vstack([cp[1], np_q])
                        if len(np_pids) > k:
                            order = np.argsort(np_pids, kind="stable")[:k]
                            np_pids, np_q = np_pids[order], np_q[order]
                        best[key_t] = (np_pids, np_q)
                out = {c: [] for c in group_cols}
                out.update({"_pid": [], "_q": []})
                for key_t, (bp, bq) in best.items():
                    for c, v in zip(group_cols, key_t):
                        out[c].extend([v] * len(bp))
                    out["_pid"].extend(bp.tolist())
                    out["_q"].extend([row.tolist() for row in bq])
                if out["_pid"]:
                    yield pd.DataFrame(out)

            # ≤ partitions·groups·k rows — loudly capped: a
            # high-cardinality group column would silently turn the
            # seed artifact corpus-proportional
            cand_rows = bounded_collect(
                raw.mapInPandas(_seed_candidates, schema=cand_schema),
                "kmeans_integer_np seed candidates",
            )
            by_group: dict = {}
            for r in cand_rows:
                by_group.setdefault(
                    tuple(r[c] for c in group_cols), []
                ).append((r["_pid"], r["_q"]))
            seed_rows = []
            for key_t, lst in by_group.items():
                lst.sort(key=lambda t: t[0])
                for code, (_pid, qv) in enumerate(lst[:k]):
                    seed_rows.append(
                        dict(zip(group_cols, key_t), code=code, _q=qv)
                    )
        else:
            seeds = _first_k(
                raw.select("_pid", quantize(F.col("_v")).alias("_q")), k
            )
            # k rows — loudly capped like every driver-side artifact
            seed_rows = bounded_collect(
                seeds.select(
                    (F.col("_rn") - 1).cast("int").alias("code"), "_q"
                ),
                "kmeans_integer_np seed set",
            )

        # per-group centroid state: group key tuple -> (k_g, dim) int64
        cents: dict[tuple, "np.ndarray"] = {}
        for r in seed_rows:
            key = tuple(r[c] for c in group_cols)
            arr = cents.setdefault(key, np.zeros((0, dim), dtype=np.int64))
            if r["code"] >= arr.shape[0]:
                grown = np.zeros((r["code"] + 1, dim), dtype=np.int64)
                grown[: arr.shape[0]] = arr
                cents[key] = arr = grown
            arr[r["code"]] = r["_q"]
        # stable group index for the partial rows; None-safe key because
        # tuples containing a NULL group key are unorderable (r6 ADVICE)
        gkeys = sorted(
            cents, key=lambda t: tuple((v is not None, v) for v in t)
        )
        gindex = {key: i for i, key in enumerate(gkeys)}

        def _partials_stage(cb_list):
            # cb_list: per-group (k_g, dim) int64 centroid arrays, closed over
            def _partials(batches):
                import pandas as pd

                # one accumulator set per group, summed ACROSS the
                # partition's batches; one output row per (group, code)
                sums = [np.zeros_like(cb) for cb in cb_list]
                counts = [
                    np.zeros(cb.shape[0], dtype=np.int64) for cb in cb_list
                ]
                for pdf in batches:
                    if not len(pdf):
                        continue
                    qx = _quantized(pdf["_v"])
                    if group_cols:
                        keys = pd.MultiIndex.from_frame(pdf[list(group_cols)])
                        # gindex is keyed by the Arrow-cast driver rows,
                        # where a NULL key is None, never NaN
                        gi_rows = np.fromiter(
                            (gindex[_group_key(t)] for t in keys),
                            dtype=np.int64,
                            count=len(pdf),
                        )
                    else:
                        gi_rows = np.zeros(len(pdf), dtype=np.int64)
                    for gi in np.unique(gi_rows):
                        xs = qx[gi_rows == gi]
                        cb = cb_list[gi]
                        acc = np.zeros((len(xs), cb.shape[0]), dtype=np.int64)
                        for j in range(dim):
                            d = xs[:, j : j + 1] - cb[None, :, j]
                            acc += d * d
                        assigned = np.argmin(acc, axis=1)
                        counts[gi] += np.bincount(
                            assigned, minlength=cb.shape[0]
                        )
                        np.add.at(sums[gi], assigned, xs)
                rows = {"_g": [], "code": [], "_n": [], "_s": []}
                for gi, cb in enumerate(cb_list):
                    for code in range(cb.shape[0]):
                        if counts[gi][code]:
                            rows["_g"].append(gi)
                            rows["code"].append(code)
                            rows["_n"].append(int(counts[gi][code]))
                            rows["_s"].append(sums[gi][code].tolist())
                if rows["_g"]:  # empty partition: an empty frame's _s column
                    # would infer float64 and fail Arrow's list<int64> cast
                    yield pd.DataFrame(rows)

            return _partials

        feed = raw.select(*group_cols, "_v")
        for _ in range(iters):
            cb_list = [cents[key] for key in gkeys]
            part_rows = feed.mapInPandas(
                _partials_stage(cb_list),
                schema="_g int, code int, _n bigint, _s array<bigint>",
            ).collect()
            tot_n = [np.zeros(cb.shape[0], dtype=np.int64) for cb in cb_list]
            tot_s = [np.zeros_like(cb) for cb in cb_list]
            for r in part_rows:
                tot_n[r["_g"]][r["code"]] += r["_n"]
                tot_s[r["_g"]][r["code"]] += np.asarray(r["_s"], dtype=np.int64)
            for gi, key in enumerate(gkeys):
                nonempty = tot_n[gi] > 0
                new = cents[key].copy()
                new[nonempty] = tot_s[gi][nonempty] // tot_n[gi][nonempty, None]
                cents[key] = new  # empty cluster keeps its previous centroid

    finally:
        raw.unpersist()

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    schema = StructType(
        [points.schema[c] for c in group_cols]
        + [
            StructField("code", IntegerType(), False),
            StructField("centroid", ArrayType(DoubleType()), False),
        ]
    )
    out_rows = [
        tuple(key)
        + (code, (cents[key][code].astype(np.float64) / scale - offset).tolist())
        for key in gkeys
        for code in range(cents[key].shape[0])
    ]
    return spark.createDataFrame(out_rows, schema)
