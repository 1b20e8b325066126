"""Per-operator edge cases (SURVEY.md §5.4) on tiny in-memory relations:
empty/full masks, 64-bit liveness, counter corner states, as-of tie
semantics, merge idempotence.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from hive_plan_service_spark.operators.asof import asof_join
from hive_plan_service_spark.operators.bitmask import (
    expand_groups_flat,
    expand_groups_nested,
)
from hive_plan_service_spark.operators.counter import current_counter_value
from hive_plan_service_spark.operators.merge import merge_upsert

PLAN_SCHEMA = "id bigint, title string, optional boolean"
GROUP_SCHEMA = "id bigint, title string, mask bigint"
CE_SCHEMA = "ts timestamp, event_id bigint, op string, delta bigint, set_value bigint"


def _bit(b: int) -> int:
    """1<<b as a signed 64-bit value (bit 63 is the sign bit)."""
    return (1 << b) - (1 << 64) if b == 63 else 1 << b


def _plans(spark, bits):
    return spark.createDataFrame(
        [(_bit(b), f"plan_{b}", b % 2 == 0) for b in bits], PLAN_SCHEMA
    )


def test_bitmask_empty_mask_yields_no_members(spark):
    groups = spark.createDataFrame([(1, "empty", 0)], GROUP_SCHEMA)
    out = expand_groups_flat(groups, _plans(spark, range(64)))
    assert out.count() == 0
    # and the nested form omits the group entirely (inner join semantics,
    # matching the reference's never-written empty plans array edge)
    assert expand_groups_nested(groups, _plans(spark, range(64))).count() == 0


def test_bitmask_all_64_bits_live(spark):
    # -1 = all 64 bits set; the reference's 32-bit loop could never do this
    groups = spark.createDataFrame([(1, "all", -1)], GROUP_SCHEMA)
    out = expand_groups_flat(groups, _plans(spark, range(64)))
    assert out.count() == 64
    ids = sorted(r["plan_id"] for r in out.collect())
    assert ids == sorted(_bit(b) for b in range(64))  # incl. negative 1<<63


def test_bitmask_nested_member_order_is_bit_order(spark):
    # bit 63's id is -2^63: signed ordering would put it FIRST; the
    # reference iterates bits 0..63, so it must come last
    groups = spark.createDataFrame([(1, "all", -1)], GROUP_SCHEMA)
    nested = expand_groups_nested(groups, _plans(spark, range(64))).collect()[0]
    assert [p["id"] for p in nested["plans"]] == [_bit(b) for b in range(64)]


def test_bitmask_high_bit_only(spark):
    groups = spark.createDataFrame([(1, "hi", 1 << 62)], GROUP_SCHEMA)
    out = expand_groups_flat(groups, _plans(spark, [62]))
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["plan_id"] == 1 << 62


def test_bitmask_missing_plan_is_skipped(spark):
    # bit set but no plan with that id → skipped (processor:59 `if (pkt)`)
    groups = spark.createDataFrame([(1, "g", 0b110)], GROUP_SCHEMA)
    out = expand_groups_flat(groups, _plans(spark, [1]))  # plan 2 only
    assert [r["plan_id"] for r in out.collect()] == [2]


def _ce(spark, rows):
    return spark.createDataFrame(
        [
            (datetime(2024, 1, 1, 0, 0, s), i, op, d, sv)
            for s, (i, op, d, sv) in enumerate(rows)
        ],
        CE_SCHEMA,
    )


def test_counter_empty_log_is_zero(spark):
    empty = spark.createDataFrame([], CE_SCHEMA)
    assert current_counter_value(empty).collect()[0]["joined_count"] == 0


def test_counter_deltas_only(spark):
    ce = _ce(spark, [(1, "incr", 1, None), (2, "incr", 1, None), (3, "decr", -1, None)])
    assert current_counter_value(ce).collect()[0]["joined_count"] == 1


def test_counter_set_overrides_prior_deltas(spark):
    ce = _ce(
        spark,
        [
            (1, "incr", 1, None),
            (2, "incr", 1, None),
            (3, "set", 0, 100),
            (4, "incr", 1, None),
            (5, "decr", -1, None),
            (6, "incr", 1, None),
        ],
    )
    assert current_counter_value(ce).collect()[0]["joined_count"] == 101


def test_counter_last_set_wins(spark):
    ce = _ce(spark, [(1, "set", 0, 5), (2, "set", 0, 7), (3, "incr", 1, None)])
    assert current_counter_value(ce).collect()[0]["joined_count"] == 8


def test_asof_inclusive_vs_strict_ties(spark):
    left = spark.createDataFrame([(1, datetime(2024, 1, 1, 12))], "k int, ts timestamp")
    right = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 12), 42)], "k int, ts timestamp, v int"
    )
    inc = asof_join(left, right, "k", "ts", "ts", ["v"], inclusive=True).collect()
    assert inc[0]["v"] == 42  # equal ts matches when inclusive
    strict = asof_join(left, right, "k", "ts", "ts", ["v"], inclusive=False).collect()
    assert strict[0]["v"] is None  # strictly-earlier required


def test_connected_components_converges_at_diameter_boundary(spark):
    """A path graph of diameter == max_iterations must converge (the
    final propagation round is followed by a confirmation round), and
    one past the boundary must raise instead of silently splitting."""
    import pytest as _pytest

    from hive_plan_service_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "src bigint, dst bigint"
    )
    got = {
        r["vertex"]: r["component"]
        for r in connected_components(edges, max_iterations=5).collect()
    }
    assert got == {i: 0 for i in range(6)}
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iterations=4)


def test_keyed_counter_dup_ts_set_matches_oracle_tiebreak(spark):
    """Duplicate-timestamp SETs per key: Spark's (ts, event_id) struct-max
    and the a11 oracle's row_number tie-break must agree — including a
    delta AT the winning SET's timestamp with a larger event_id (counts)
    and a smaller one (doesn't)."""
    import duckdb

    from hive_plan_service_spark.operators.counter import keyed_counter_values

    t0 = datetime(2024, 1, 1, 12)
    rows = [
        # user 1: two sets at the SAME ts (ids 2, 4 → id 4 wins, value 50),
        # an incr at the same ts with id 3 (< 4: ignored) and id 5 (counts)
        (1, t0, 1, "incr", 1, None),
        (2, t0, 1, "set", 0, 10),
        (3, t0, 1, "incr", 1, None),
        (4, t0, 1, "set", 0, 50),
        (5, t0, 1, "incr", 1, None),
        # user 2: never set — pure deltas
        (6, t0, 2, "incr", 1, None),
        (7, t0, 2, "decr", -1, None),
    ]
    ce = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, op string, "
        "delta bigint, set_value bigint",
    )
    got = {
        r["user_id"]: r["joined_count"]
        for r in keyed_counter_values(ce, "user_id").collect()
    }
    assert got == {1: 51, 2: 0}

    # the oracle's own tie-break logic on the same log
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ce (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        "op VARCHAR, delta BIGINT, set_value BIGINT)"
    )
    con.executemany("INSERT INTO ce VALUES (?, ?, ?, ?, ?, ?)", rows)
    oracle = {
        int(u): int(v)
        for u, v in con.execute("""
            WITH ls AS (
              SELECT user_id, ts AS ls_ts, event_id AS ls_event_id,
                     set_value AS ls_value
              FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
                FROM ce WHERE op = 'set'
              ) WHERE rn = 1
            )
            SELECT c.user_id,
                   COALESCE(l.ls_value, 0)
                   + COALESCE(SUM(CASE WHEN c.op <> 'set'
                                        AND (l.ls_ts IS NULL OR c.ts > l.ls_ts
                                             OR (c.ts = l.ls_ts
                                                 AND c.event_id > l.ls_event_id))
                                   THEN c.delta ELSE 0 END), 0)
            FROM ce c LEFT JOIN ls l USING (user_id)
            GROUP BY c.user_id, l.ls_value, l.ls_ts, l.ls_event_id
        """).fetchall()
    }
    con.close()
    assert oracle == got


def test_asof_equal_ts_right_rows_tiebreak_by_seq(spark):
    """Two right updates at the SAME (key, ts): the higher right_seq row
    must win deterministically, in both directions."""
    left = spark.createDataFrame([(1, datetime(2024, 1, 1, 12))], "k int, ts timestamp")
    right = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 12), 10, 41),
            (1, datetime(2024, 1, 1, 12), 20, 42),
            (1, datetime(2024, 1, 1, 12), 15, 43),
        ],
        "k int, ts timestamp, seq int, v int",
    )
    for direction in ("backward", "forward"):
        out = asof_join(
            left, right, "k", "ts", "ts", ["v"],
            direction=direction, right_seq="seq",
        ).collect()
        assert out[0]["v"] == 42, direction


def test_asof_no_earlier_right_row_is_null(spark):
    left = spark.createDataFrame([(1, datetime(2024, 1, 1, 10))], "k int, ts timestamp")
    right = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 11), 9)], "k int, ts timestamp, v int"
    )
    out = asof_join(left, right, "k", "ts", "ts", ["v"]).collect()
    assert out[0]["v"] is None


def test_merge_upsert_idempotent(spark):
    target = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    source = spark.createDataFrame([(2, "B"), (3, "C")], "k int, v string")
    once = merge_upsert(target, source, "k")
    twice = merge_upsert(once, source, "k")
    assert sorted(map(tuple, once.collect())) == [(1, "a"), (2, "B"), (3, "C")]
    assert sorted(map(tuple, twice.collect())) == sorted(map(tuple, once.collect()))


def test_asof_join_matches_pandas_merge_asof(spark, sf_dir):
    """Both directions vs pandas.merge_asof as an independent model."""
    import pandas as pd

    from hive_plan_service_spark.sources.catalog import register_tables

    register_tables(spark, sf_dir)
    ev = spark.table("events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    p_pd = purchases.toPandas().sort_values("ts")
    c_pd = clicks.toPandas().sort_values("ts")

    for direction in ("backward", "forward"):
        got = {
            r["event_id"]: r["click_id"]
            for r in asof_join(
                purchases,
                clicks,
                key="user_id",
                left_ts="ts",
                right_ts="ts",
                value_cols=["click_id"],
                direction=direction,
            ).collect()
        }
        want_df = pd.merge_asof(
            p_pd,
            c_pd,
            on="ts",
            by="user_id",
            direction=direction,
            allow_exact_matches=True,
        )
        want = {
            int(r.event_id): (None if pd.isna(r.click_id) else int(r.click_id))
            for r in want_df.itertuples()
        }
        assert got == want, f"direction={direction}"


def test_scd2_intervals_are_contiguous_and_single_current(spark, sf_dir):
    """Structural SCD2 invariants the oracle can't express directly:
    per key, versions tile the timeline (each valid_to equals the next
    valid_from), intervals never overlap, and exactly one row is open."""
    from hive_plan_service_spark.plans.registry import all_queries

    rows = (
        all_queries()["b25_scd2_dimension"]
        .fn(spark, sf_dir)
        .collect()
    )
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert by_user, "fixture produced no purchase events"
    for user, vs in by_user.items():
        vs.sort(key=lambda r: r["version"])
        assert [v["version"] for v in vs] == list(range(1, len(vs) + 1))
        assert sum(1 for v in vs if v["is_current"]) == 1
        assert vs[-1]["is_current"] and vs[-1]["valid_to_us"] is None
        for a, b in zip(vs, vs[1:]):
            assert a["valid_to_us"] == b["valid_from_us"], user
            assert a["valid_from_us"] < a["valid_to_us"], user


def test_shingles_and_ngrams_short_docs_yield_partial_gram(spark):
    """Docs shorter than n words produce ONE partial gram instead of an
    ANSI element_at crash (Spark 4 default ansi.enabled throws past the
    array end; the boilerplate-stripped corpus produced a 2-word
    clean_text at probe scale — ROUND5_NOTES §4). The partial gram must
    equal the DuckDB oracles' clamped list slice: the joined words that
    exist, no trailing separators.
    """
    from hive_plan_service_spark.operators.textops import (
        shingles_sql,
        tokens_sql,
    )
    from hive_plan_service_spark.plans.curation_ops import _ngrams_all

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "solo"), (3, "a b c d")],
        "doc_id bigint, text string",
    )
    rows = {
        r["doc_id"]: r["sh"]
        for r in docs.select(
            "doc_id", F.expr(shingles_sql(tokens_sql("text"), 3)).alias("sh")
        ).collect()
    }
    assert rows[1] == ["alpha beta"]
    assert rows[2] == ["solo"]
    assert rows[3] == ["a b c", "b c d"]

    grams = {
        r["doc_id"]: r["g"]
        for r in docs.select(
            "doc_id", _ngrams_all(F.split("text", " "), 3).alias("g")
        ).collect()
    }
    assert grams[1] == ["alpha beta"]
    assert grams[3] == ["a b c", "b c d"]


def test_bounded_collect_caps_driver_artifacts(spark, monkeypatch):
    """A corpus-proportional relation passed where a fixed-size driver
    artifact belongs must fail LOUDLY — after shipping at most cap+1
    rows, never the corpus (r5 VERDICT top item: broadcast/collect
    guards)."""
    import pytest

    from hive_plan_service_spark.operators import artifacts

    monkeypatch.setattr(artifacts, "MAX_DRIVER_ARTIFACT_ROWS", 100)
    ok = artifacts.bounded_collect(spark.range(100), "small artifact")
    assert len(ok) == 100
    with pytest.raises(ValueError, match="fixed-size cap"):
        artifacts.bounded_collect(spark.range(101), "too big")


def test_cosine_topk_np_rejects_corpus_sized_query_batch(spark, sf_dir, monkeypatch):
    """The numpy twin must refuse to collect a corpus-proportional
    'query batch' instead of silently pulling it onto the driver."""
    import pytest

    from hive_plan_service_spark.operators import artifacts
    from hive_plan_service_spark.operators import vectors as vx
    from hive_plan_service_spark.sources.catalog import register_tables

    monkeypatch.setattr(artifacts, "MAX_DRIVER_ARTIFACT_ROWS", 10)
    register_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    with pytest.raises(ValueError, match="fixed-size cap"):
        vx.cosine_topk_np(emb, emb, k=3)


def test_stopword_hits_sql_counts_quote_and_backslash_words(spark):
    """Stopword literals go through textops.sql_string: an apostrophe
    word and a backslash word count exactly as in plain Python. Spark's
    default literal mode reads a bare ``\\`` as an escape, so an
    unescaped ``'a\\b'`` would silently match the backspace string."""
    from hive_plan_service_spark.operators.textops import stopword_hits_sql

    stopwords = ("l'", "a\\b")
    words = ["l'", "a\\b", "ab", "a\\b", "l", "a\b", "l''"]
    df = spark.createDataFrame([(words,)], "ws array<string>")
    got = df.select(
        F.expr(stopword_hits_sql("ws", stopwords)).alias("n")
    ).first()["n"]
    assert got == sum(w in stopwords for w in words) == 3
