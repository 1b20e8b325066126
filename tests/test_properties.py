"""Property-based tests (hypothesis): the distributed operators must agree
with trivially-correct single-threaded Python models on random inputs.
Few examples, batched into single Spark jobs — each example is a full
plan execution.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import given, settings
from hypothesis import strategies as st

from hive_plan_service_spark.operators.bitmask import expand_groups_flat
from hive_plan_service_spark.operators.counter import current_counter_value

_spark = None


def _get_spark():
    # hypothesis drives many examples through one function; reuse the
    # session fixture by grabbing the active session pytest created.
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    assert s is not None
    return s


PLAN_SCHEMA = "id bigint, title string, optional boolean"
GROUP_SCHEMA = "id bigint, title string, mask bigint"
CE_SCHEMA = "ts timestamp, event_id bigint, op string, delta bigint, set_value bigint"


def _signed64(mask: int) -> int:
    return mask - (1 << 64) if mask >= (1 << 63) else mask


@settings(max_examples=8, deadline=None)
@given(masks=st.lists(st.integers(0, (1 << 64) - 1), min_size=1, max_size=5))
def test_bitmask_expansion_matches_python_model(spark, masks):
    s = _get_spark()
    plans = s.createDataFrame(
        [(_signed64(1 << b), f"p{b}", True) for b in range(64)], PLAN_SCHEMA
    )
    groups = s.createDataFrame(
        [(i, f"g{i}", _signed64(m)) for i, m in enumerate(masks)], GROUP_SCHEMA
    )
    got = {
        (r["group_id"], r["plan_id"])
        for r in expand_groups_flat(groups, plans).collect()
    }
    want = {
        (i, _signed64(1 << b))
        for i, m in enumerate(masks)
        for b in range(64)
        if (m >> b) & 1
    }
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    lefts=st.lists(st.integers(0, 20), min_size=1, max_size=8),
    rights=st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 100)),
        min_size=0,
        max_size=12,
    ),
)
def test_asof_join_matches_python_model_with_dup_ts(spark, lefts, rights):
    """Backward inclusive as-of with right_seq: for each left ts, the
    right row with max (ts ≤ left_ts), ties by max seq — against a
    brute-force model, duplicate timestamps allowed on both sides."""
    from hive_plan_service_spark.operators.asof import asof_join

    s = _get_spark()
    t0 = datetime(2024, 1, 1)
    left = s.createDataFrame(
        [(i, 1, t0 + timedelta(minutes=ts)) for i, ts in enumerate(lefts)],
        "lid int, k int, ts timestamp",
    )
    right = s.createDataFrame(
        [(seq, 1, t0 + timedelta(minutes=ts), v) for seq, (ts, v) in enumerate(rights)],
        "seq int, k int, ts timestamp, v int",
    ) if rights else s.createDataFrame([], "seq int, k int, ts timestamp, v int")
    got = {
        r["lid"]: r["v"]
        for r in asof_join(
            left, right, "k", "ts", "ts", ["v"], right_seq="seq"
        ).collect()
    }
    for i, lts in enumerate(lefts):
        eligible = [
            (ts, seq, v)
            for seq, (ts, v) in enumerate(rights)
            if ts <= lts
        ]
        want = max(eligible)[2] if eligible else None
        assert got[i] == want, (i, lts, eligible)

    fwd = {
        r["lid"]: r["v"]
        for r in asof_join(
            left, right, "k", "ts", "ts", ["v"],
            direction="forward", right_seq="seq",
        ).collect()
    }
    for i, lts in enumerate(lefts):
        eligible = [
            (ts, seq, v)
            for seq, (ts, v) in enumerate(rights)
            if ts >= lts
        ]
        if eligible:
            first_ts = min(ts for ts, _, _ in eligible)
            want = max(t for t in eligible if t[0] == first_ts)[2]
        else:
            want = None
        assert fwd[i] == want, ("forward", i, lts, eligible)


@settings(max_examples=6, deadline=None)
@given(words=st.lists(st.integers(0, 600), min_size=1, max_size=40))
def test_sequence_packing_matches_python_model(spark, words):
    """Sharded packing vs a per-shard Python cumsum model."""
    s = _get_spark()
    from hive_plan_service_spark.plans.llm_ops import _pack_sharded

    docs = s.createDataFrame(
        [(i, " ".join(["w"] * n) if n else "") for i, n in enumerate(words)],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["shard"], r["pack_id"], r["pack_offset"], r["n_words"])
        for r in _pack_sharded(docs).collect()
    }
    by_shard: dict[int, list[int]] = {}
    for i in sorted(range(len(words))):
        by_shard.setdefault(i % 32, []).append(i)
    for shard, ids in by_shard.items():
        before = 0
        for i in ids:
            # split(" ") on "" yields [""] — 1 "word", same both engines
            n = words[i] if words[i] > 0 else 1
            assert got[i] == (shard, shard * (1 << 40) + before // 512, before % 512, n)
            before += n


_OPS = st.sampled_from(["incr", "decr", "set"])


@given(
    carried=st.integers(-(10**6), 10**6),
    seq=st.lists(
        st.tuples(_OPS, st.integers(-(10**9), 10**9)),
        min_size=0,
        max_size=60,
    ),
)
@settings(max_examples=200, deadline=None)
def test_vectorized_batch_fold_matches_per_row_model(carried, seq):
    """The vectorized B24 batch fold (streaming/counter.fold_counter_batch)
    must equal the reference's per-row arrival-order fold for EVERY
    command sequence and carried state — including empty batches,
    set-first/set-last/all-set sequences, and the NaN set_value slots
    non-set rows leave in the pandas column. Pure pandas (no Spark), so
    hypothesis can drive it hard."""
    import numpy as np
    import pandas as pd

    from hive_plan_service_spark.streaming.counter import fold_counter_batch

    batch = pd.DataFrame(
        {
            "op": [op for op, _ in seq],
            "delta": pd.array(
                [
                    (1 if op == "incr" else (-1 if op == "decr" else 0))
                    for op, _ in seq
                ],
                dtype="int64",
            ),
            "set_value": np.array(
                [float(v) if op == "set" else np.nan for op, v in seq],
                dtype=np.float64,
            ),
        }
    )
    got = fold_counter_batch(carried, batch)

    value = 0 + carried
    for op, v in seq:
        if op == "set":
            value = v
        elif op == "incr":
            value += 1
        else:
            value -= 1
    assert got == value


@settings(max_examples=8, deadline=None)
@given(
    seq=st.lists(
        st.tuples(_OPS, st.integers(0, 1000)), min_size=0, max_size=30
    )
)
def test_counter_fold_matches_python_model(spark, seq):
    s = _get_spark()
    t0 = datetime(2024, 1, 1)
    rows = []
    for i, (op, v) in enumerate(seq):
        delta = 1 if op == "incr" else (-1 if op == "decr" else 0)
        rows.append(
            (t0 + timedelta(seconds=i), i, op, delta, v if op == "set" else None)
        )
    df = s.createDataFrame(rows, CE_SCHEMA) if rows else s.createDataFrame([], CE_SCHEMA)
    got = current_counter_value(df).collect()[0]["joined_count"]
    # Python model: last-writer-wins + subsequent deltas
    value = 0
    for op, v in seq:
        if op == "set":
            value = v
        elif op == "incr":
            value += 1
        else:
            value -= 1
    assert got == value


@settings(max_examples=6, deadline=None)
@given(
    data=st.lists(
        st.lists(
            st.floats(min_value=-7.0, max_value=7.0,
                      allow_nan=False, allow_infinity=False),
            min_size=2, max_size=2,
        ),
        min_size=1, max_size=10,
    ),
    k=st.integers(1, 4),
    iters=st.integers(1, 3),
)
def test_integer_kmeans_matches_python_model(spark, data, k, iters):
    """operators/kmeans.kmeans_integer vs a single-threaded model of the
    same spec: floor-quantize (+8·2^20), k smallest-id seeds, argmin ties
    to the smallest code, integer trunc-div means, empty clusters keep
    their centroid. Exact float equality — dequantization is exact."""
    import math

    from hive_plan_service_spark.operators.kmeans import kmeans_integer

    SCALE = 1 << 20
    qpts = {i: [math.floor((x + 8.0) * SCALE) for x in vec]
            for i, vec in enumerate(data)}
    cents = {code: list(qpts[pid]) for code, pid in enumerate(sorted(qpts)[:k])}
    for _ in range(iters):
        assign: dict[int, list[list[int]]] = {}
        for pid in sorted(qpts):
            v = qpts[pid]
            best = min(
                (sum((a - b) ** 2 for a, b in zip(v, cents[c])), c)
                for c in cents
            )[1]
            assign.setdefault(best, []).append(v)
        for c, members in assign.items():
            n = len(members)
            cents[c] = [sum(col) // n for col in zip(*members)]
    want = {c: tuple(v / SCALE - 8.0 for v in cents[c]) for c in cents}

    s = _get_spark()
    pts = s.createDataFrame(
        [(i, vec) for i, vec in enumerate(data)],
        "vec_id bigint, vec array<double>",
    )
    out = kmeans_integer(pts, k=k, dim=2, iters=iters, vec="vec")
    got = {r.code: tuple(r.centroid) for r in out.collect()}
    assert got == want


# token alphabet for degenerate-doc fuzzing: empty token (consecutive
# spaces), 1-char, unicode, digit-ending (the scale-probe suffix
# ambiguity class), and a long word
_FUZZ_TOKENS = ["", "a", "b", "ab", "x1", "é", "日本", "word" * 8]


@settings(max_examples=10, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_FUZZ_TOKENS), min_size=0, max_size=6),
        min_size=1,
        max_size=6,
    ),
    n=st.sampled_from([2, 3, 8]),
)
def test_shingles_and_ngrams_match_python_model_on_degenerate_docs(
    spark, docs, n
):
    """shingles_sql / _ngrams_all vs the trivially-correct Python model of
    the DuckDB oracles' clamped list slice, on adversarial docs: empty
    texts, sub-n-word docs (the ANSI element_at crash class fixed in
    round 5), empty tokens from consecutive spaces, unicode.
    """
    from hive_plan_service_spark.operators.textops import (
        shingles_sql,
        tokens_sql,
    )
    from hive_plan_service_spark.plans.curation_ops import _ngrams_all

    from pyspark.sql import functions as F

    texts = [" ".join(toks) for toks in docs]

    def model_grams(text: str) -> list[str]:
        ws = text.split(" ")  # [""] for empty text, like F.split
        return [
            " ".join(ws[i : i + n])
            for i in range(max(len(ws) - n, 0) + 1)
        ]

    s = _get_spark()
    df = s.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    out = {
        r["doc_id"]: (r["sh"], r["gr"])
        for r in df.select(
            "doc_id",
            F.expr(shingles_sql(tokens_sql("text"), n)).alias("sh"),
            _ngrams_all(F.split("text", " "), n).alias("gr"),
        ).collect()
    }
    for i, t in enumerate(texts):
        grams = model_grams(t)
        dedup = list(dict.fromkeys(grams))  # array_distinct keeps order
        assert out[i] == (dedup, grams), (i, t)
