"""Epoch-store longevity probe (VERDICT r5 item #6).

The scale rows so far covered ~10 epochs; a long-lived continuous
rollup sees thousands, with many successive compactions, lazy-GC
states, and at-least-once replays mixed in. This probe drives ~200
foreachBatch epochs through ``ContinuousHourlyRollup._refresh_buckets``
(batch-mode delivery, exactly how the streaming engine calls it),
with:

* an advancing event-time clock (each epoch moves ~6h forward) plus a
  10% late-data tail landing 3 days back, so compactions keep touching
  both hot and cooling days;
* compaction every ``compact_after=8`` epochs → ~24 compactions, bases
  repeatedly superseding bases;
* mid-stream REPLAYS of an epoch long folded into a base (at epoch 60,
  replay 30) and of a recent raw epoch (at 130, replay 128) — the
  rollup must stay bit-identical both times;
* truth checks every 25 epochs: the public rollup must equal a full
  recompute over every event delivered so far (exactly-once despite
  replays);
* flat-cost check: mean non-compaction epoch wall over the first 20 vs
  the last 20 epochs, and the live raw-directory count staying bounded
  by compact_after+1.

r10 extensions (VERDICT r9 #3 — the `epochgc` gate):

* the census is ASSERTED, not reported: raw epoch dirs never exceed
  compact_after+1, a compaction leaves ZERO raw dirs and exactly ONE
  base epoch child per rewritten day (GC reclaims, not just supersedes);
* a RACING READER thread continuously resolves the live store through
  the epoch-store read rule while the maintainer refreshes, compacts,
  and GCs. Every per-day state it observes must be one the maintainer
  actually produced; vanished-file errors mid-scan are retried with a
  fresh listing (the documented concurrent-reader contract — see
  streaming/epoch_store.py; ignoreMissingFiles would be silently
  lossy), and the summary proves ≥1 read genuinely overlapped a
  compaction+GC window.

Usage: python scripts/epoch_longevity_probe.py [n_epochs]
Prints JSON progress rows and one final summary row; exit 1 on any
divergence.
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from pyspark.sql import functions as F  # noqa: E402

from hive_plan_service_spark.functions.exact import money  # noqa: E402
from hive_plan_service_spark.session import get_spark  # noqa: E402
from hive_plan_service_spark.streaming import epoch_store  # noqa: E402
from hive_plan_service_spark.streaming.continuous_agg import (  # noqa: E402
    ContinuousHourlyRollup,
)

BASE_TS = 1_700_000_000  # fixed epoch-seconds origin (no Date.now in probes)
ROWS_PER_EPOCH = 2_000


def make_batch(spark, epoch: int):
    """Deterministic per-epoch event batch (regenerable for replays)."""
    ts = (
        F.lit(BASE_TS + epoch * 6 * 3600)
        + F.when(F.col("id") % 10 == 0, F.lit(-3 * 86400)).otherwise(F.lit(0))
        + F.pmod(F.xxhash64("id", F.lit(epoch)), F.lit(6 * 3600))
    )
    types = F.array(F.lit("click"), F.lit("view"), F.lit("purchase"))
    return spark.range(ROWS_PER_EPOCH).select(
        (F.lit(epoch) * 1_000_000 + F.col("id")).alias("event_id"),
        F.timestamp_seconds(ts).alias("ts"),
        F.element_at(types, (F.col("id") % 3 + 1).cast("int")).alias(
            "event_type"
        ),
        (
            F.pmod(F.xxhash64(F.col("id") + F.lit(epoch)), F.lit(10_000))
            .cast("double")
            / F.lit(100.0)
        ).alias("value"),
    )


def rollup_snapshot(spark, out_path: str) -> dict:
    return {
        (r["hour_bucket"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.read.parquet(out_path).collect()
    }


def truth_snapshot(spark, events_dir: str) -> dict:
    ev = spark.read.parquet(events_dir)
    agg = (
        ev.withColumn("hour_bucket", F.expr("unix_timestamp(ts) div 3600"))
        .groupBy("hour_bucket", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(money("value")).cast("double").alias("total_value"),
        )
    )
    return {
        (r["hour_bucket"], r["event_type"]): (r["n"], r["total_value"])
        for r in agg.collect()
    }


def store_day_states(spark, m) -> dict[int, str]:
    """Canonical per-day MERGED store state: md5 of the sorted
    (hour, type, Σn, Σsv) totals the epoch-store read rule resolves
    for each day (exact Decimal sums — the store's monoid merge,
    folded in Python). The main loop records these after every epoch;
    the racing reader's observations must each land in some day's
    recorded set.

    Merged totals, NOT raw partial multisets: the read rule's output
    is only defined up to the monoid merge — a compaction replaces N
    per-epoch partial rows with one base row of identical totals, and
    a reader between the current epoch's raw commit and the same
    refresh's compaction legitimately sees partials the post-refresh
    snapshot never shows (first landing compared multisets and flagged
    exactly those valid intermediate states)."""
    import hashlib
    from decimal import Decimal

    live = _read_live(spark, m)
    if live is None:
        return {}
    rows = live.collect()
    per_day: dict[int, dict] = {}
    for r in rows:
        day = per_day.setdefault(r["day_bucket"], {})
        key = (r["hour_bucket"], r["event_type"])
        n, sv = day.get(key, (0, Decimal(0)))
        day[key] = (n + r["n"], sv + Decimal(str(r["sv"])))
    return {
        d: hashlib.md5(repr(sorted(
            (h, t, n, str(sv)) for (h, t), (n, sv) in day.items()
        )).encode()).hexdigest()
        for d, day in per_day.items()
    }


def _read_live(spark, m):
    """The epoch-store read rule over the WHOLE store (all days).

    Right after a compaction seen_raw legitimately holds ZERO files
    (keep_epoch=None GC) until the next epoch lands — a bare
    read.parquet on a file-less dir throws UNABLE_TO_INFER_SCHEMA
    (the invariant-7 write-then-read-back class), so each half is
    read only when it has parquet (a racing delete between the glob
    and the scan surfaces as the missing-file retry contract)."""
    from hive_plan_service_spark.sources.materialize import has_parquet

    cols = ["hour_bucket", "event_type", "n", "sv", "day_bucket", "epoch"]
    parts = [
        spark.read.parquet(p).select(*cols)
        for p in (m.seen_raw, m.seen_base)
        if has_parquet(p)
    ]
    if not parts:
        return None
    df = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    return epoch_store.valid_partials(df, group_cols=("day_bucket",))


class RacingReader:
    """Continuously resolves the live store through the read rule from a
    second thread while the maintainer refreshes/compacts/GCs.

    Contract being certified (invariant 16 + VERDICT r9 #3): a reader
    racing a GC pass resolves correctly PROVIDED it re-lists on a
    vanished-file error. GC deletes only rows a newer base covers, so a
    retry (fresh listing → sees that base) always converges; swallowing
    the error with ignoreMissingFiles instead would be SILENTLY WRONG —
    a reader that listed before the base landed but scanned after the
    raw deletes would lose the covered epochs with no error. Retries
    are counted, not failed; any non-missing-file error fails the probe.
    """

    # UNABLE_TO_INFER_SCHEMA is the same racing-delete contract surfacing
    # one step earlier (r13 stamp find, 1 in 645 reads): _read_live
    # guards each store half with has_parquet, but a GC pass that
    # empties the dir BETWEEN that glob and read.parquet's own schema
    # inference leaves a file-less dir, which throws at inference time
    # instead of scan time. The certified response is identical — re-run
    # the read rule from a fresh listing, which sees the covering base —
    # and distinct from the silently-wrong ignoreMissingFiles shortcut
    # (this retry re-LISTS; it never scans past a vanished file).
    _MISSING = ("FileNotFoundException", "FILE_NOT_EXIST",
                "does not exist", "FileDeletionException",
                "UNABLE_TO_INFER_SCHEMA")

    def __init__(self, spark, m):
        self.spark = spark
        self.m = m
        self.stop = False
        self.reads = 0
        self.retries = 0
        self.errors: list[str] = []
        self.observed: list[dict[int, str]] = []
        self.windows: list[tuple[float, float]] = []

    def run(self) -> None:
        while not self.stop:
            attempts = 0
            while True:
                t0 = time.perf_counter()
                try:
                    state = store_day_states(self.spark, self.m)
                    self.windows.append((t0, time.perf_counter()))
                    self.observed.append(state)
                    self.reads += 1
                    break
                except Exception as ex:  # noqa: BLE001
                    msg = str(ex)
                    if any(s in msg for s in self._MISSING) and attempts < 5:
                        attempts += 1
                        self.retries += 1
                        continue
                    self.errors.append(msg.splitlines()[0][:300])
                    break
            time.sleep(0.01)


def main() -> None:
    n_epochs = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    spark = get_spark(app_name="hpss-epoch-longevity")
    work = tempfile.mkdtemp(prefix="epoch_longevity_")
    events_log = os.path.join(work, "all_events")
    m = ContinuousHourlyRollup(
        spark, events_path="unused", workdir=work, compact_after=8
    )
    replays = {60: 30, 130: 128}  # at epoch k, replay epoch v
    walls: list[tuple[int, float, bool]] = []  # (epoch, sec, compacted?)
    max_raw_dirs = 0
    failures: list[str] = []
    day_states: dict[int, set] = {}
    compact_windows: list[tuple[float, float]] = []
    replay_windows: list[tuple[float, float]] = []

    import threading

    reader = RacingReader(spark, m)
    reader_thread = threading.Thread(target=reader.run, daemon=True)

    for e in range(n_epochs):
        batch = make_batch(spark, e)
        # keep the truth log: exactly-once ground truth for checkpoints
        batch.write.mode("append").parquet(events_log)
        raw_before = set(epoch_store.scan_epoch_dirs(m.seen_raw))
        t0 = time.perf_counter()
        m._refresh_buckets(batch, epoch_id=e)
        wall = time.perf_counter() - t0
        raw_after = set(epoch_store.scan_epoch_dirs(m.seen_raw))
        compacted = len(raw_after) < len(raw_before)
        walls.append((e, wall, compacted))
        max_raw_dirs = max(max_raw_dirs, len(raw_after))
        if compacted:
            compact_windows.append((t0, t0 + wall))

        if e == 1:
            reader_thread.start()  # store exists from here on

        # census assertions (VERDICT r9 #3) — the directory listing must
        # stay BOUNDED, live, not merely filtered-out:
        # (a) raw epoch dirs never exceed compact_after + 1;
        if len(raw_after) > m.compact_after + 1:
            failures.append(
                f"epoch {e}: {len(raw_after)} raw dirs > bound "
                f"{m.compact_after + 1}"
            )
        # (b) a compaction returns the census to O(1): zero raw dirs
        # (keep_epoch=None) and exactly ONE base epoch child per day
        # whose days it rewrote (stale bases GC'd, not just superseded).
        if compacted:
            if raw_after:
                failures.append(
                    f"epoch {e}: compaction left raw dirs {sorted(raw_after)}"
                )
            for day_dir in os.listdir(m.seen_base):
                if not day_dir.startswith("day_bucket="):
                    continue
                kids = epoch_store.scan_epoch_dirs(
                    os.path.join(m.seen_base, day_dir)
                )
                if len(kids) != 1:
                    failures.append(
                        f"epoch {e}: {day_dir} holds {len(kids)} base "
                        f"epochs after GC: {sorted(kids)}"
                    )
        # record the authoritative per-day state for reader validation
        for d, h in store_day_states(spark, m).items():
            day_states.setdefault(d, set()).add(h)

        if e in replays:
            old = replays[e]
            before = rollup_snapshot(spark, m.out)
            r0 = time.perf_counter()
            m._refresh_buckets(make_batch(spark, old), epoch_id=old)
            # a replay dynamic-OVERWRITES an existing epoch partition;
            # the commit's delete-then-move swap has a gap where that
            # epoch's rows are absent — a legitimate torn read no
            # recorded state matches. Reader observations overlapping a
            # replay window are excluded from state validation (counted
            # in the summary); missing-file retries there still count.
            replay_windows.append((r0, time.perf_counter()))
            after = rollup_snapshot(spark, m.out)
            if before != after:
                failures.append(
                    f"replay of epoch {old} at {e} changed the rollup"
                )
            print(
                json.dumps(
                    {
                        "event": "replay",
                        "at_epoch": e,
                        "replayed": old,
                        "identical": before == after,
                    }
                ),
                flush=True,
            )

        if (e + 1) % 25 == 0 or e == n_epochs - 1:
            got = rollup_snapshot(spark, m.out)
            want = truth_snapshot(spark, events_log)
            ok = got == want
            if not ok:
                failures.append(f"truth divergence after epoch {e}")
            recent = [w for (_, w, c) in walls[-20:] if not c]
            print(
                json.dumps(
                    {
                        "event": "checkpoint",
                        "epoch": e,
                        "rollup_rows": len(got),
                        "truth_match": ok,
                        "live_raw_dirs": len(raw_after),
                        "mean_epoch_sec_recent": round(
                            sum(recent) / max(1, len(recent)), 3
                        ),
                    }
                ),
                flush=True,
            )

    # stop the racing reader and validate every observation (invariant
    # 16 proven live): each per-day state the reader resolved — however
    # it interleaved with refresh/compaction/GC — must be one the
    # maintainer actually produced. Retries (vanished stale files
    # mid-scan) are the documented re-list contract, counted not failed.
    reader.stop = True
    if reader_thread.is_alive():
        reader_thread.join(timeout=60)
    failures.extend(f"reader: {e}" for e in reader.errors[:5])
    bad_obs = 0
    replay_skipped = 0
    for (r0, r1), obs in zip(reader.windows, reader.observed):
        if any(r0 < w1 and w0 < r1 for (w0, w1) in replay_windows):
            replay_skipped += 1
            continue
        for d, h in obs.items():
            if h not in day_states.get(d, set()):
                bad_obs += 1
                break
    if bad_obs:
        failures.append(
            f"reader observed {bad_obs}/{len(reader.observed)} snapshots "
            "with a per-day state the maintainer never produced"
        )
    gc_overlaps = sum(
        1 for (r0, r1) in reader.windows
        for (c0, c1) in compact_windows
        if r0 < c1 and c0 < r1
    )
    # the reader thread only starts at epoch 1 (the store must exist),
    # so a single-epoch invocation can never engage the race — don't
    # report a correct store as a divergence there (r10 ADVICE find)
    if n_epochs >= 2 and (
        reader.reads == 0 or (compact_windows and gc_overlaps == 0)
    ):
        failures.append(
            f"reader race never engaged: reads={reader.reads}, "
            f"gc_overlaps={gc_overlaps}"
        )

    first = [w for (_, w, c) in walls[:20] if not c]
    last = [w for (_, w, c) in walls[-20:] if not c]
    # flat-cost is an assertion now (VERDICT r9 #3): a store whose
    # listing/read grows with history shows up as per-epoch wall climbing
    # over the horizon. Loose 2.5× bound — box noise moves means ~30-50%
    # (bench.py's measured band), an unbounded census grows ~10× by
    # epoch 120 (the pre-compaction failure mode this gate exists for).
    if first and last:
        m_first = sum(first) / len(first)
        m_last = sum(last) / len(last)
        if m_last > 2.5 * m_first:
            failures.append(
                f"per-epoch wall climbed: first20 mean {m_first:.2f}s -> "
                f"last20 mean {m_last:.2f}s"
            )
    compactions = sum(1 for (_, _, c) in walls if c)
    # census bound is an assertion now, not just a report
    if max_raw_dirs > m.compact_after + 1:
        failures.append(
            f"max live raw dirs {max_raw_dirs} > bound {m.compact_after + 1}"
        )
    summary = {
        "event": "summary",
        "epochs": n_epochs,
        "compactions": compactions,
        "replays": sum(1 for k in replays if k < n_epochs),
        "failures": failures,
        "mean_epoch_sec_first20": round(sum(first) / max(1, len(first)), 3),
        "mean_epoch_sec_last20": round(sum(last) / max(1, len(last)), 3),
        "max_live_raw_dirs": max_raw_dirs,
        "bound_raw_dirs": m.compact_after + 1,
        "reader_reads": reader.reads,
        "reader_gc_overlap_reads": gc_overlaps,
        "reader_missing_file_retries": reader.retries,
        "reader_replay_window_skipped": replay_skipped,
    }
    print(json.dumps(summary), flush=True)
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
