"""Event-time hostility for the streaming oracles (VERDICT r8 task 3).

numfuzz deliberately never mutates ``events.ts`` (its oracles' validity
rests on bounded event-time disorder); this probe attacks exactly that
axis, in three phases:

**Phase A1 — bounded disorder (the watermark-slack contract).** Events
are sorted by (ts, event_id), sliced into K ts-contiguous files, and
each file's rows are SHUFFLED (seed-pinned); documents likewise by
doc_id. With ``SPARK_GRAFT_STREAM_MAX_FILES=1`` every registered
streaming query replays this as K ordered micro-batches with in-batch
disorder only — the real-feed shape every streaming operator promises
to handle. ALL streaming oracled queries must match their unmodified
oracles bit-for-bit, including the order-DEPENDENT ones (counter folds
sort per batch by (ts, event_id); dedup-ingest batches arrive in
doc_id order, matching its smaller-id-is-earlier oracle).

**Phase A2 — arbitrary arrival order.** Events rows are permuted
globally and dealt into K files; only the content-deterministic queries
must still match (commutative window/rollup aggregates, set-semantics
dedup, stream-static join, content-irrelevant refresh trigger, and —
promoted from the r9 exclusion list once its invariance was proven
live — the foreachBatch counter LOG, whose replay totally orders the
log by (ts, event_id) and is therefore arrival-independent by
construction). The stateful counter (arrival order across batches IS
its fold contract — a log-structured fold, same as the reference's
Redis INCR stream), the stream-stream interval join (2 h join
watermark < feed span: arbitrary order may evict a partner before it
is matched), and dedup-ingest (earlier-arrival-wins flag orientation)
are excluded from A2 BY DOCUMENTED SEMANTICS, not by weakness — their
bounded-disorder guarantee is phase A1 and their arbitrary-order
POSITIVE contracts are phase A3.

**Phase A3 — positive contracts for the A2 exclusions (VERDICT r9
task 4).** Each excluded query's documented rationale is executed,
not argued:

- *stateful counter*: replayed over the A2 permuted feed and checked
  against an INDEPENDENT per-row arrival-order fold model (batches in
  file-mtime order, each sorted by (ts, event_id); SET overwrites,
  deltas accumulate — the reference's Redis loop transliterated). The
  result is DIFFERENT from the order-free oracle (ASSERTED, not
  reported: the A2 permutation is re-drawn from the seeded rng stream
  until the layout provably distinguishes the two folds, so the
  contract can never pass vacuously — VERDICT r10 #2) and must EQUAL
  the model: the fold contract, pinned under arbitrary order.
- *stream-stream interval join*: rebuilt with a join watermark ≥ the
  feed span over the A2 permuted feed — no partner can be evicted
  before it is matched, so the result must equal the registered batch
  oracle exactly (arrival-order invariance under sufficient slack,
  run rather than argued).
- *dedup-ingest*: replayed over an arbitrary-order documents split and
  checked against the arrival-PARAMETERIZED oracle — doc_b is flagged
  iff some colliding doc_a with doc_a < doc_b arrived in an earlier or
  the same batch (the exact predicate of the per-batch probe join,
  now with the actual batch assignment joined in on the DuckDB side).

**Phase B — beyond-watermark injection (exact drop model).** A feed of
K ts-sorted base files plus a LAST-arriving tail of rows shifted 90
days before the fixture minimum, driven through the engine's window
builders in APPEND mode with watermark = 1 h. Arrival is fully
controlled (ascending mtimes, one file per micro-batch), so Spark's
late-drop behavior is deterministic: when the tail arrives the
watermark has already advanced past it, and every tail row is dropped
at the stateful operator's input filter (verified: the per-row filter,
not best-effort state eviction, in this construction). The DuckDB twin
models the drop EXACTLY: aggregate over base rows only, emit only
windows/sessions whose END (ms) ≤ final watermark = max(base ts)(ms)
− delay. Covers tumbling, sliding, and session windows.

Usage: python scripts/latefuzz_probe.py [SEED]
Prints one JSON line {"seed":..,"phases":{..},"failures":[..]};
exit 0 iff all phases are clean.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import tempfile

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

import duckdb  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.compute as pc  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from hive_plan_service_spark.plans.registry import all_queries  # noqa: E402
from hive_plan_service_spark.session import get_spark, scratch_root  # noqa: E402
from tests.parity import TABLES, check_query, compare_frames  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
K_FILES = 5

#: every registered streaming query (reads a stream, has an oracle)
PHASE_A1 = (
    "b22_continuous_hourly_rollup",
    "b22_stream_dedup",
    "b22_stream_sliding_window",
    "b22_stream_static_join",
    "b22_stream_stream_join",
    "b22_stream_tumbling_window",
    "b23_stream_session_window",
    "b24_stateful_counter_applyinpandas",
    "b24_stream_counter_value",
    "b25_stream_refresh_sink",
    "b27_stream_dedup_ingest",
)
#: content-deterministic subset (see module docstring for exclusions)
PHASE_A2 = (
    "b22_continuous_hourly_rollup",
    "b22_stream_dedup",
    "b22_stream_sliding_window",
    "b22_stream_static_join",
    "b22_stream_tumbling_window",
    "b23_stream_session_window",
    # r10: the foreachBatch counter log replays via a (ts, event_id)
    # total order (operators/counter.py) — arrival-invariant by
    # construction; promoted from the exclusion list (VERDICT r9 #4)
    "b24_stream_counter_value",
    "b25_stream_refresh_sink",
)


def _sorted_table(path: str, keys: list[str]) -> pa.Table:
    t = pq.read_table(path)
    idx = pc.sort_indices(t, sort_keys=[(k, "ascending") for k in keys])
    return t.take(idx)


def _write_split(
    t: pa.Table,
    out_dir: str,
    rng: random.Random,
    *,
    contiguous: bool,
    prefix: str = "f",
    start_mtime: float | None = None,
) -> float:
    """Write ``t`` as K files under ``out_dir``; ascending mtimes pin the
    file-source arrival order. ``contiguous=True`` slices the (sorted)
    table and shuffles WITHIN each slice (bounded disorder);
    ``contiguous=False`` deals a global permutation across files
    (arbitrary order). Returns the last mtime used."""
    os.makedirs(out_dir, exist_ok=True)
    n = t.num_rows
    mtime = start_mtime if start_mtime is not None else 1_700_000_000.0
    if contiguous:
        bounds = [n * i // K_FILES for i in range(K_FILES + 1)]
        slices = [t.slice(a, b - a) for a, b in zip(bounds, bounds[1:])]
        slices = [
            s.take(pa.array(rng.sample(range(s.num_rows), s.num_rows)))
            for s in slices
        ]
    else:
        perm = list(range(n))
        rng.shuffle(perm)
        bounds = [n * i // K_FILES for i in range(K_FILES + 1)]
        slices = [
            t.take(pa.array(perm[a:b])) for a, b in zip(bounds, bounds[1:])
        ]
    for i, s in enumerate(slices):
        p = os.path.join(out_dir, f"{prefix}_{i:02d}.parquet")
        pq.write_table(s, p)
        mtime += 2.0
        os.utime(p, (mtime, mtime))
    return mtime


def _build_dir(
    work: str, name: str, rng: random.Random, *, contiguous: bool,
    split_documents: bool, documents_contiguous: bool = True,
) -> str:
    """One hostile sf_dir: events (and optionally documents) split into
    a K-file directory named ``<table>.parquet``; all other tables
    symlinked. Spark reads the directory; run_oracle globs it."""
    d = os.path.join(work, name)
    os.makedirs(d)
    for t in TABLES:
        src = os.path.join(SF_DIR, f"{t}.parquet")
        dst = os.path.join(d, f"{t}.parquet")
        if t == "events":
            _write_split(
                _sorted_table(src, ["ts", "event_id"]), dst, rng,
                contiguous=contiguous,
            )
        elif t == "documents" and split_documents:
            _write_split(
                _sorted_table(src, ["doc_id"]), dst, rng,
                contiguous=documents_contiguous,
            )
        else:
            os.symlink(src, dst)
    return d


# --------------------------------------------------------------------------
# Phase B: exact late-drop model.
# --------------------------------------------------------------------------
LATE_SHIFT_US = 90 * 86400 * 1_000_000  # 90 days ≫ every watermark delay
N_LATE = 64
WM_DELAY_MS = 3_600_000  # 1 h append-mode watermark for all three shapes


def _ts_is_int(t: pa.Table) -> bool:
    return pa.types.is_integer(t.schema.field("ts").type)


def _build_phase_b_dir(work: str, rng: random.Random) -> str:
    """events = K ts-sorted base files + one LAST-arriving late tail of
    rows shifted 90 days before the fixture minimum (fresh event_ids)."""
    d = os.path.join(work, "phase_b")
    os.makedirs(d)
    for t in TABLES:
        src = os.path.join(SF_DIR, f"{t}.parquet")
        dst = os.path.join(d, f"{t}.parquet")
        if t != "events":
            os.symlink(src, dst)
            continue
        tbl = _sorted_table(src, ["ts", "event_id"])
        os.makedirs(dst)
        last_mtime = _write_split(
            tbl, dst, rng, contiguous=True, prefix="base"
        )
        # late tail: a seeded sample, timestamps shifted back 90 days
        # (nanos vs µs physical handled by the same integer shift)
        idx = sorted(rng.sample(range(tbl.num_rows), N_LATE))
        tail = tbl.take(pa.array(idx))
        if _ts_is_int(tbl):
            # integer physical ts == nanos under the engine's sniff
            new_ts = pc.subtract(
                tail["ts"], pa.scalar(LATE_SHIFT_US * 1000, pa.int64())
            )
        else:
            unit = tail.schema.field("ts").type.unit
            mult = {"us": 1, "ns": 1000}[unit]
            new_ts = pc.subtract(
                tail["ts"].cast(pa.int64()),
                pa.scalar(LATE_SHIFT_US * mult, pa.int64()),
            ).cast(tail.schema.field("ts").type)
        max_id = pc.max(tbl["event_id"]).as_py()
        new_ids = pa.array(
            [max_id + 1 + i for i in range(tail.num_rows)], pa.int64()
        )
        tail = tail.set_column(
            tail.schema.get_field_index("ts"), "ts", new_ts
        ).set_column(
            tail.schema.get_field_index("event_id"), "event_id", new_ids
        )
        p = os.path.join(dst, "late_99.parquet")
        pq.write_table(tail, p)
        os.utime(p, (last_mtime + 2.0, last_mtime + 2.0))
    return d


def _phase_b_oracle(sql: str, events_dir: str) -> "pd.DataFrame":  # noqa: F821
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE OR REPLACE VIEW events AS SELECT * FROM "
            f"read_parquet('{events_dir}/events.parquet/base_*.parquet')"
        )
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def _phase_b_wm_ms(events_dir: str) -> int:
    con = duckdb.connect()
    try:
        # floor (not truncate) the µs→ms division so the watermark model
        # stays exact even for pre-1970 base events (invariant 7)
        max_ms = con.execute(
            "SELECT CAST((u - ((u % 1000 + 1000) % 1000)) // 1000 AS BIGINT)"
            " FROM (SELECT max(epoch_us(ts)) AS u FROM "
            f"read_parquet('{events_dir}/events.parquet/base_*.parquet'))"
        ).fetchone()[0]
    finally:
        con.close()
    return int(max_ms) - WM_DELAY_MS


def run_phase_b(spark, d: str) -> tuple[list[str], int]:
    """Append-mode window builders vs the exact base-only/closed-only
    DuckDB model. The registered oracles (full replay) are reused with
    the events view narrowed to base files and a closed-window filter."""
    from hive_plan_service_spark.streaming.source import events_stream
    from hive_plan_service_spark.streaming.windows import (
        run_to_completion,
        session_windows,
        sliding_window_agg,
        tumbling_window_agg,
    )

    qs = all_queries()
    wm_ms = _phase_b_wm_ms(d)
    failures: list[str] = []
    feed = os.path.join(d, "events.parquet")

    def dedup_append():
        return (
            events_stream(spark, feed)
            .withWatermark("ts", "1 hour")
            # the event-time column MUST be part of the dedup keys for
            # the watermark to drop late input rows — probe-verified:
            # dropDuplicates(["event_id"]) emitted all 1064 rows (the
            # 64-row late tail passed straight through; state lookups
            # don't consult the watermark), while ["event_id","ts"]
            # emits exactly the 1000 base rows. This is Spark's
            # documented dedup-with-watermark contract, now pinned.
            .dropDuplicates(["event_id", "ts"])
            .select("event_id", "event_type")
        )

    cases = {
        # stateful dropDuplicates drop path: append mode emits each
        # first-seen key immediately; a late row with ts < watermark is
        # filtered at the dedup operator's INPUT (the tail's fresh
        # event_ids never reach state), so the emitted set is exactly
        # the base rows.
        "dedup_append": (
            dedup_append,
            "SELECT event_id, event_type FROM events",
        ),
        "tumbling_append": (
            lambda: tumbling_window_agg(
                events_stream(spark, feed), "1 hour", watermark="1 hour"
            ),
            f"""SELECT * FROM ({qs['b22_stream_tumbling_window'].oracle})
                WHERE (window_start_epoch + 3600) * 1000 <= {wm_ms}""",
        ),
        "sliding_append": (
            lambda: sliding_window_agg(
                events_stream(spark, feed),
                "1 hour", "15 minutes", watermark="1 hour",
            ),
            f"""SELECT * FROM ({qs['b22_stream_sliding_window'].oracle})
                WHERE (window_start_epoch + 3600) * 1000 <= {wm_ms}""",
        ),
        "session_append": (
            lambda: session_windows(
                events_stream(spark, feed), "30 minutes", watermark="1 hour"
            ),
            # the registered b23 oracle keyed on session start; the drop
            # model additionally needs the session END (last ts + gap)
            f"""
            WITH o AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS new_s
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), s AS (
              SELECT user_id, ts,
                     SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS sid
              FROM o
            ), g AS (
              SELECT user_id, MIN(ts) AS first_ts, MAX(ts) AS last_ts,
                     COUNT(*) AS n_events
              FROM s GROUP BY user_id, sid
            )
            SELECT user_id,
                   CAST(((epoch_us(first_ts)
                          - ((epoch_us(first_ts) % 1000000 + 1000000) % 1000000))
                         // 1000000) AS BIGINT) AS session_start_epoch,
                   n_events
            FROM g
            WHERE CAST((epoch_us(last_ts)
                        - ((epoch_us(last_ts) % 1000 + 1000) % 1000))
                       // 1000 AS BIGINT)
                  + 1800000 <= {wm_ms}
            """,
        ),
    }
    for name, (build, sql) in cases.items():
        try:
            got = run_to_completion(build(), output_mode="append").toPandas()
            want = _phase_b_oracle(sql, d)
            compare_frames(got, want, name=f"latefuzz_b:{name}")
        except Exception as ex:  # noqa: BLE001 — collecting all failures
            failures.append(f"B:{name}: {str(ex).splitlines()[0][:220]}")
    return failures, len(cases)


# --------------------------------------------------------------------------
# Phase A3: positive contracts for the A2 exclusions (VERDICT r9 #4).
# --------------------------------------------------------------------------

def _counter_fold_model(events_dir: str) -> int:
    """Independent per-row arrival-order fold: files in mtime (== index)
    order, each file's rows sorted by (ts, event_id); signup → +1,
    error → −1, purchase → SET floor(value) (NULL → 0, the in-log NULL
    rule of sources/catalog.counter_events_from). Transliterates the
    reference's Redis command loop (src/plan-server.ts:50–83) —
    deliberately row-at-a-time, sharing no code with the engine's
    vectorized fold kernel, so agreement certifies the contract."""
    import glob as _glob
    import math

    import pandas as pd

    value = 0
    for p in sorted(_glob.glob(
        os.path.join(events_dir, "events.parquet", "f_*.parquet")
    )):
        b = pq.read_table(
            p, columns=["ts", "event_id", "event_type", "value"]
        ).to_pandas()
        b = b[b["event_type"].isin(["signup", "error", "purchase"])]
        b = b.sort_values(["ts", "event_id"])
        for r in b.itertuples(index=False):
            if r.event_type == "signup":
                value += 1
            elif r.event_type == "error":
                value -= 1
            else:
                value = 0 if pd.isna(r.value) else math.floor(r.value)
    return value


def _events_span_us(events_dir: str) -> int:
    """max(ts) − min(ts) of the split feed, in microseconds (physical
    INT64 == nanos under the engine's sniff, invariant 3)."""
    import glob as _glob

    tables = [
        pq.read_table(p, columns=["ts"])
        for p in sorted(_glob.glob(
            os.path.join(events_dir, "events.parquet", "f_*.parquet")
        ))
    ]
    t = pa.concat_tables(tables)
    col = t["ts"]
    if pa.types.is_integer(col.type):
        return (pc.max(col).as_py() - pc.min(col).as_py()) // 1000
    raw = pc.max(col).value - pc.min(col).value
    return {"us": raw, "ns": raw // 1000, "ms": raw * 1000,
            "s": raw * 1_000_000}[col.type.unit]


def _wide_wm_join(spark, sf_dir: str, wm_seconds: int):
    """The b22_stream_stream_join shape with the join watermark widened
    to ``wm_seconds`` (≥ feed span + interval): no partner can be
    evicted before it is matched, so the append-mode result must equal
    the batch interval join regardless of arrival order."""
    from pyspark.sql import functions as F

    from hive_plan_service_spark.streaming.source import events_stream
    from hive_plan_service_spark.streaming.windows import run_to_completion

    ev = events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    wm = f"{wm_seconds} seconds"
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"), "user_id",
                F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", wm)
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user_id"),
                F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", wm)
    )
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    ).select("purchase_id", "click_id", "user_id")
    return run_to_completion(joined, output_mode="append")


def _dedup_ingest_reorder_oracle(d: str) -> "pd.DataFrame":  # noqa: F821
    """Arrival-parameterized flags oracle: doc_b is a dup iff some
    colliding doc_a (full-band bucket match, ≥ 8/16 signature agreement)
    has doc_a < doc_b AND arrived in an earlier-or-same batch — the
    exact predicate of StreamingDedupIngest's per-batch probe join
    (store = previous batches ∪ same batch, then ``doc_a < doc_b``),
    with the ACTUAL batch assignment joined in."""
    import glob as _glob

    import pandas as pd

    from hive_plan_service_spark.plans.llm_ops import _DUCK_MINHASH_BANDED

    rows = []
    for i, p in enumerate(sorted(_glob.glob(
        os.path.join(d, "documents.parquet", "f_*.parquet")
    ))):
        for doc_id in pq.read_table(p, columns=["doc_id"])["doc_id"].to_pylist():
            rows.append((doc_id, i))
    arrival = pd.DataFrame(rows, columns=["doc_id", "batch"])
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE OR REPLACE VIEW documents AS SELECT * FROM "
            f"read_parquet('{d}/documents.parquet/*.parquet')"
        )
        con.register("arrival", arrival)
        sql = f"""
          WITH {_DUCK_MINHASH_BANDED},
          dups AS (
            SELECT DISTINCT b.doc_id
            FROM banded a
            JOIN banded b
              ON a.band = b.band AND a.bucket = b.bucket
             AND a.doc_id < b.doc_id
            JOIN arrival aa ON aa.doc_id = a.doc_id
            JOIN arrival ab ON ab.doc_id = b.doc_id
            WHERE len(list_filter(generate_series(1, 16),
                                  i -> a.sig[i] = b.sig[i])) >= 8
              AND aa.batch <= ab.batch
          )
          SELECT d.doc_id, (dups.doc_id IS NOT NULL) AS is_dup
          FROM documents d LEFT JOIN dups USING (doc_id)
        """
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def _build_a2_distinguishing(
    work: str, rng: random.Random, max_tries: int = 8
) -> tuple[str, int]:
    """Build the phase-A2 arbitrary-order dir, re-drawing the global
    permutation from the same seeded rng stream until the arrival-order
    counter fold PROVABLY differs from the order-free oracle on the
    resulting layout, so the A3a contract is asserted non-vacuous
    instead of reported (VERDICT r10 #2). A draw fails to distinguish
    only when the permutation happens to leave the value-determining
    SET suffix equivalent (~P 0.2 per seed, measured across the r9/r10
    stamps); 8 independent draws bound the all-coincide case at ~3e-6,
    and if every draw coincides the probe FAILS loudly — a rejected
    seed, never a vacuously-green assertion. Deterministic: the rng
    stream is seed-pinned, so the accepted layout (and the number of
    draws) is a pure function of the seed. Both the fold model and the
    order-free oracle are engine-independent (pandas loop / DuckDB), so
    selection never peeks at the system under test."""
    from tests.parity import run_oracle

    oracle_sql = all_queries()["b24_stateful_counter_applyinpandas"].oracle
    for i in range(max_tries):
        d = _build_dir(
            work, "a2" if i == 0 else f"a2_try{i}", rng,
            contiguous=False, split_documents=False,
        )
        if _counter_fold_model(d) != int(run_oracle(oracle_sql, d).iloc[0, 0]):
            return d, i + 1
    raise AssertionError(
        f"A3a seed rejected: {max_tries} independent permutation draws "
        "all left the arrival-order fold equal to the order-free oracle "
        "(probability ~3e-6 per seed) — the distinguishing contract "
        "cannot be certified on this seed"
    )


def run_phase_a3(
    spark, work: str, rng: random.Random, a2: str
) -> tuple[list[str], int, dict]:
    from tests.parity import run_oracle

    qs = all_queries()
    failures: list[str] = []
    extras: dict = {}

    # --- stateful counter: arrival-order fold contract ------------------
    try:
        got = qs["b24_stateful_counter_applyinpandas"].fn(spark, a2).toPandas()
        model = _counter_fold_model(a2)
        assert len(got) == 1, f"expected 1 row, got {len(got)}"
        engine = int(got["joined_count"].iloc[0])
        assert engine == model, (
            f"arrival-order fold mismatch: engine {engine} != model {model}"
        )
        unordered = int(run_oracle(
            qs["b24_stateful_counter_applyinpandas"].oracle, a2
        ).iloc[0, 0])
        # ASSERTED (VERDICT r10 #2): the A2 layout was selected by
        # _build_a2_distinguishing to make the fold model differ from
        # the order-free oracle, so a coincidence here means the engine
        # did not follow the fold contract — never a vacuous pass
        assert engine != unordered, (
            f"A3a vacuous: engine fold {engine} equals the order-free "
            "oracle on a layout selected to distinguish them"
        )
        extras["counter_reorder_differs_from_unordered"] = True
    except Exception as ex:  # noqa: BLE001 — collecting all failures
        failures.append(f"A3:counter_stateful: {str(ex).splitlines()[0][:220]}")

    # --- stream-stream join: wide watermark ⇒ arrival-order invariant ---
    try:
        wm_s = _events_span_us(a2) // 1_000_000 + 2 * 3600
        got = _wide_wm_join(spark, a2, wm_s).toPandas()
        want = run_oracle(qs["b22_stream_stream_join"].oracle, a2)
        compare_frames(got, want, name="latefuzz_a3:join_wide_wm")
    except Exception as ex:  # noqa: BLE001
        failures.append(f"A3:join_wide_wm: {str(ex).splitlines()[0][:220]}")

    # --- dedup-ingest: arrival-parameterized flags -----------------------
    try:
        a3d = _build_dir(
            work, "a3_docs", rng, contiguous=True,
            split_documents=True, documents_contiguous=False,
        )
        got = qs["b27_stream_dedup_ingest"].fn(spark, a3d).toPandas()
        want = _dedup_ingest_reorder_oracle(a3d)
        compare_frames(got, want, name="latefuzz_a3:dedup_ingest_reorder")
        # reported: the permutation genuinely moved at least one flag vs
        # the id-monotone oracle (else the axis tested nothing this seed)
        mono = run_oracle(qs["b27_stream_dedup_ingest"].oracle, a3d)
        g = got.sort_values("doc_id").reset_index(drop=True)
        m = mono.sort_values("doc_id").reset_index(drop=True)
        extras["ingest_reorder_moved_flags"] = int(
            (g["is_dup"].astype(bool) != m["is_dup"].astype(bool)).sum()
        )
    except Exception as ex:  # noqa: BLE001
        failures.append(
            f"A3:dedup_ingest_reorder: {str(ex).splitlines()[0][:220]}"
        )

    return failures, 3, extras


def main() -> int:
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 20260817
    rng = random.Random(seed)
    work = tempfile.mkdtemp(prefix="latefuzz_", dir=scratch_root())
    os.environ["SPARK_GRAFT_STREAM_MAX_FILES"] = "1"
    failures: list[str] = []
    counts: dict[str, int] = {}
    extras: dict = {}
    try:
        a1 = _build_dir(work, "a1", rng, contiguous=True, split_documents=True)
        a2, extras["a2_draws"] = _build_a2_distinguishing(work, rng)
        b = _build_phase_b_dir(work, rng)
        spark = get_spark(app_name="hpss-latefuzz")
        spark.sparkContext.setLogLevel("ERROR")
        qs = all_queries()
        for phase, names, d in (("A1", PHASE_A1, a1), ("A2", PHASE_A2, a2)):
            counts[phase] = len(names)
            for nm in names:
                try:
                    check_query(spark, qs[nm], d)
                except Exception as ex:  # noqa: BLE001
                    failures.append(
                        f"{phase}:{nm}: {str(ex).splitlines()[0][:220]}"
                    )
        a3_failures, counts["A3"], a3_extras = run_phase_a3(spark, work, rng, a2)
        extras.update(a3_extras)
        failures.extend(a3_failures)
        b_failures, counts["B"] = run_phase_b(spark, b)
        failures.extend(b_failures)
        spark.stop()
    finally:
        os.environ.pop("SPARK_GRAFT_STREAM_MAX_FILES", None)
        shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps({"seed": seed, "phases": counts, "failures": failures,
                    **extras}),
        flush=True,
    )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
