"""One-command certification matrix (r5 verdict item #5).

The full round gate spans five invocations a future round (or judge)
must otherwise remember: pytest, the driver simulation, the bench, and
the three hostile oracle sweeps (content / NULL-injection / empty
fixtures — CLAUDE.md invariant 7). This runner executes all of them
sequentially, captures each gate's verdict line, and emits ONE summary
JSON line (plus an optional file via --out).

Usage:
    python scripts/run_gates.py [--out GATES.json] [--skip bench,...]

Gate names (usable with --skip / --only, comma-separated) and their
commands: the commented ``GATES`` dict below is the one map; ``GATE_ENV``
holds the per-gate environment.

Exit 0 iff every executed gate passed. Each gate runs in its own
subprocess (its own JVM) so a crashed session can't poison the rest.
"""
from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Wall budget for the full matrix (VERDICT r10 #3); a run over it
#: reports ``ok: false`` and exits non-zero. The stamp has
#: grown every round (r8 34 gates, r9 35 ≈ 4,900 s, r10 40 = 5,778 s);
#: per-gate walls are carried in the artifact (`wall_s`) so growth is
#: attributable, and the newest artifact's total is pinned under this
#: budget by tests/test_bench_contract.py — adding a gate that pushes
#: the matrix past 2 h requires consciously raising this constant (a
#: visible diff), never silent creep.
STAMP_WALL_BUDGET_S = 7200

GATES: dict[str, list[str]] = {
    # the suite (sf0.001); the driver's t2 gate, all 50 canonical slots
    # (sf0.01); the contract bench and the production-shape bench
    # (sf0.1 via GATE_ENV)
    "pytest": [sys.executable, "-m", "pytest", "tests/", "-q"],
    "driver": [sys.executable, "scripts/driver_sim.py"],
    "bench": [sys.executable, "bench.py"],
    "extbench": [sys.executable, "scripts/bench_extended.py"],
    # every oracled query on hostile string content, NULL-injected and
    # empty fixtures (CLAUDE.md invariant 7)
    "hostile": [sys.executable, "scripts/hostile_probe.py"],
    "nulls": [sys.executable, "scripts/hostile_probe.py", "--nulls"],
    "empty": [sys.executable, "scripts/hostile_probe.py", "--empty"],
    # operational (r6-r7): streaming crash/replay + state reload;
    # 2000-file layouts; 50 queries on 8 threads of one session;
    # separate executor JVMs (50 canonical + row-identical production
    # shapes); injected task failures x4 attempts (canonical + np twins
    # bit-identical)
    "restart": [sys.executable, "scripts/restart_probe.py"],
    # smallfiles needs the 32-core stamp host: on 4 cores its 2,081
    # one-file streaming tasks fail the 3x fragmented/monolithic wall
    # ratio (b22_stream_tumbling_window 3.43x-3.85x, b29 once 3.08x)
    # with results and task counts identical; the r13 stamp passed.
    "smallfiles": [sys.executable, "scripts/small_files_probe.py"],
    "concurrency": [sys.executable, "scripts/concurrency_probe.py"],
    "localcluster": [sys.executable, "scripts/localcluster_probe.py"],
    "retry": [sys.executable, "scripts/retry_probe.py"],
    # seed-pinned random hostile content over all oracled queries (r7)
    "fuzz": [sys.executable, "scripts/hostile_probe.py", "--fuzz"],
    # plan-variance (r7): the oracle targets are plan-independent, so
    # re-running the full canonical sweep under a different physical-
    # plan regime certifies result invariance to Spark's strategy
    # choices — AQE runtime re-planning off; statistics-driven
    # broadcasts off (explicit fixed-size hints stay, as they should).
    "aqeoff": [sys.executable, "scripts/driver_sim.py",
               "/root/testdata/sf0.01", "32",
               "spark.sql.adaptive.enabled=false"],
    "nobroadcast": [sys.executable, "scripts/driver_sim.py",
                    "/root/testdata/sf0.01", "32",
                    "spark.sql.autoBroadcastJoinThreshold=-1"],
    # host-timezone invariance (r7): a 100 TB cluster's hosts are often
    # non-UTC; TZ leaks through the JVM default zone AND the DuckDB
    # oracle process. tune() pins spark.sql.session.timeZone=UTC — this
    # certifies the pin actually makes the whole sweep TZ-independent.
    "tz": [sys.executable, "scripts/driver_sim.py", "/root/testdata/sf0.01"],
    # scale axis (r7): the same 50 oracles at sf0.1 — 10× the driver's
    # gate scale (~120 s; first divergence class that only appears with
    # content volume would surface here).
    "sf01": [sys.executable, "scripts/driver_sim.py", "/root/testdata/sf0.1"],
    # execution-engine variance (r7 cont.): whole-stage codegen OFF and
    # expression compilation forced interpreted — at 100 TB codegen
    # silently FALLS BACK per-stage (64KB bytecode / 100-field limits),
    # so every result must be identical under the interpreted path.
    "codegenoff": [sys.executable, "scripts/driver_sim.py",
                   "/root/testdata/sf0.01", "32",
                   "spark.sql.codegen.wholeStage=false",
                   "spark.sql.codegen.factoryMode=NO_CODEGEN"],
    # Arrow batch-boundary variance: every Pandas-UDF kernel must be
    # invariant to where Arrow splits its batches (a 10k default hides
    # partial/empty-batch bugs that a real cluster's memory pressure
    # exposes). 7 rows per batch forces hundreds of boundaries.
    "arrowbatch": [sys.executable, "scripts/driver_sim.py",
                   "/root/testdata/sf0.01", "32",
                   "spark.sql.execution.arrow.maxRecordsPerBatch=7"],
    # serializer variance: real clusters near-universally run Kryo for
    # closures/broadcast transport (static conf — builder-time).
    "kryo": [sys.executable, "scripts/driver_sim.py",
             "/root/testdata/sf0.01", "32",
             "builder:spark.serializer="
             "org.apache.spark.serializer.KryoSerializer"],
    # Tungsten off-heap mode: execution memory outside the GC heap — a
    # genuinely different allocation/comparison code path common on
    # large deployments (static conf — builder-time).
    "offheap": [sys.executable, "scripts/driver_sim.py",
                "/root/testdata/sf0.01", "32",
                "builder:spark.memory.offHeap.enabled=true",
                "builder:spark.memory.offHeap.size=2g"],
    # parquet decode variance: the vectorized ColumnarBatch reader vs
    # the parquet-mr record reader — Spark silently falls back to the
    # latter per-file (complex types, some encodings), so both decode
    # paths must yield identical bytes.
    "novectorized": [sys.executable, "scripts/driver_sim.py",
                     "/root/testdata/sf0.01", "32",
                     "spark.sql.parquet.enableVectorizedReader=false"],
    # JVM default-locale variance (env below): Turkish locale is the
    # canonical trap — any code path doing default-locale case mapping
    # turns 'I'→'ı' and breaks string equality; plus LC_ALL=C on the
    # Python/DuckDB side. All 50 oracles must not notice.
    "locale": [sys.executable, "scripts/driver_sim.py",
               "/root/testdata/sf0.01"],
    # the locale axis needs NON-ASCII content to bite: Spark's
    # upper/lower take an ASCII fast path and only hit the (default-
    # locale!) String.toUpperCase fallback on non-ASCII values, so the
    # canonical sweep alone can't see it. Full 122-query hostile-
    # content sweep under the Turkish JVM (this is what found the
    # 'COMBİNİNG' divergence that tune()'s Locale.ROOT pin now fixes).
    "localehostile": [sys.executable, "scripts/hostile_probe.py"],
    # scan-split variance: 1 MiB max partition bytes + zero file open
    # cost — every parquet file splits into many scan partitions at
    # different row boundaries than the 128 MiB default (and small
    # files pack differently). Row-group alignment, partial-file
    # scans, and scan-level parallelism must not leak into results.
    "splitvar": [sys.executable, "scripts/driver_sim.py",
                 "/root/testdata/sf0.01", "32",
                 "spark.sql.files.maxPartitionBytes=1048576",
                 "spark.sql.files.openCostInBytes=0"],
    # row-order invariance (r7 cont.): at 100 TB parquet row order is
    # not stable (compaction, ingest parallelism, rewrites) — every
    # canonical result must be a pure function of table CONTENT. Phase
    # A compares canonical row multisets original-vs-permuted fixtures
    # in one session (rules out Spark+DuckDB drifting together on a
    # scan-order tie); phase B re-runs the full driver oracle gate on
    # the permuted dir.
    "roworder": [sys.executable, "scripts/roworder_probe.py"],
    # parallelism axis (r7 cont.): local[7] — odd, non-power-of-two
    # cores; every stage distributes unevenly and partial-aggregate
    # merge orders differ from the 32-core gate. (Its historical
    # transient was the cross-process scratch race, fixed by
    # session.process_scratch_dir — tests/test_scratch_isolation.py.)
    "cores7": [sys.executable, "scripts/driver_sim.py",
               "/root/testdata/sf0.01", "7"],
    # cross-process concurrency (r7 cont.): two FULL canonical oracle
    # sweeps in separate concurrent processes sharing the machine (and
    # its scratch volumes) — the axis the in-process concurrency gate
    # can't see; live certification of the scratch-isolation fix.
    "multiproc": [sys.executable, "scripts/multiproc_probe.py"],
    # executor-loss determinism (r7 cont.): SIGKILL live executor JVMs
    # mid-query under local-cluster[3,4,2560] — lost shuffle files,
    # FetchFailed stage resubmission, master relaunch; all production-
    # shape fingerprints must match the clean run bit-for-bit.
    "execloss": [sys.executable, "scripts/executor_loss_probe.py"],
    # the same attrition against the driver's full t2 gate: all 50
    # canonical DuckDB oracle checks while an assassin kills one
    # executor every 15 s for the whole sweep (the oracle is the clean
    # reference — DuckDB runs outside Spark). Needs the 32-core stamp
    # host: on 4 cores the sweep takes 244-443 s (r13: 214 s) and
    # llm_dedup_clusters (once also llm_corpus_clean_pipeline) loses its
    # localCheckpoint blocks to the assassin on both attempts, 48-49/50;
    # with the assassin off the sweep passes 50/50 in ~150 s.
    "execlosscanon": [sys.executable, "scripts/executor_loss_probe.py",
                      "--canonical"],
    # data-distribution axis (r8, VERDICT #1): every other gate runs on
    # near-uniform fixtures; a real 100 TB corpus is Zipfian. The probe
    # builds a deterministic hot-key/hot-domain/hot-bucket copy of the
    # driver-scale fixtures and re-runs the full 50-slot oracle gate.
    "skew": [sys.executable, "scripts/skew_probe.py"],
    # numeric/temporal-domain axis (r8, VERDICT #5): the string fuzz
    # never touched numerics or timestamps. First run found 26 failures
    # in 6 real classes (3 of them previously-unknown DuckDB gaps, now
    # in CLAUDE.md invariant 7); all fixed and pooled.
    "numfuzz": [sys.executable, "scripts/hostile_probe.py", "--numfuzz"],
    # second seed per fuzz axis (r10, VERDICT r9 #5): one rotated seed
    # certifies one draw; two independent draws per round certify the
    # GENERATOR. Static defaults here keep the plain (non-stamp) matrix
    # self-contained; `--round N` replaces the trailing seed on both
    # members of each pair with never-used round-rotated values.
    "fuzz2": [sys.executable, "scripts/hostile_probe.py", "--fuzz",
              "777101"],
    "numfuzz2": [sys.executable, "scripts/hostile_probe.py", "--numfuzz",
                 "777102"],
    "latefuzz2": [sys.executable, "scripts/latefuzz_probe.py", "777103"],
    # large-state axis (r8, VERDICT #4): streaming dropDuplicates over
    # 10M distinct keys under BOTH state-store providers, each also
    # stopped after 2 committed batches and resumed from checkpoint —
    # fingerprints must be identical across all four runs. Measured
    # basis for streaming/windows.choose_state_store_provider.
    "largestate": [sys.executable, "scripts/largestate_probe.py"],
    # event-time axis (r8, VERDICT #3): the one data axis numfuzz
    # skipped. Bounded-disorder + arbitrary-order paced replays of all
    # streaming oracled queries, and beyond-watermark late injection
    # checked against an exact append-mode drop model.
    "latefuzz": [sys.executable, "scripts/latefuzz_probe.py"],
    # epoch-store GC longevity (r10, VERDICT r9 #3): 120 foreachBatch
    # epochs with compaction+GC every 8 — the directory census is
    # ASSERTED bounded (zero raw dirs + one base epoch per day after
    # each compaction), per-epoch wall flat, and a RACING READER thread
    # resolves the live store through the read rule throughout: every
    # observed per-day merged state must be one the maintainer
    # produced, vanished-file scans retry per the documented
    # concurrent-reader contract, and ≥1 read must genuinely overlap a
    # compaction+GC window.
    "epochgc": [sys.executable, "scripts/epoch_longevity_probe.py", "120"],
    # 10× driver-scale axis (r10, VERDICT r9 #2): manufacture a
    # deterministic sf1.0-equivalent fixture set (~6M lineitem; 10×
    # replication with per-copy key shifts / disjoint text / rotated
    # embeddings — invariant 23), run the FULL 50-slot canonical oracle
    # sweep on it, and time the bench headline set at sf0.1 and sf1.0
    # in one session (same-box linearity; knee = wall ratio > mult×2).
    "sf1": [sys.executable, "scripts/sf1_gate.py"],
    # cross-scale spot axis (r12, VERDICT r11 #2): mult=40 replicas of
    # ONLY the tables the two heaviest standing compositions read
    # (documents / lineitem, distinct content per invariant 23), both
    # queries timed at a layout-matched 1x and 40x in one session with
    # the sf1 knee assertion — 4x past the sf1 gate's linearity ceiling
    # without the cost of a full sweep.
    # (re-added at the r12 round-close stamp, whose GATES_r12.json
    # carries the gate — the define+stamp-in-one-session flow the
    # artifact pin expects; it was briefly commented out mid-r12 after
    # the build session was interrupted between defining the gate and
    # stamping it.)
    "scalespot": [sys.executable, "scripts/scale_spot_probe.py"],
    # stacked-regime axis (r8): every conf-hostility axis AT ONCE —
    # Kryo + off-heap Tungsten + codegen off/interpreted + Arrow
    # batch=7 + 1 MiB scan splits + 7 cores + broadcasts off, under
    # TZ=America/New_York and the Turkish JVM locale. Each axis is
    # individually certified above; this certifies their INTERACTIONS
    # (the regime combinations a real heterogeneous cluster mixes
    # freely).
    "maxhostile": [sys.executable, "scripts/driver_sim.py",
                   "/root/testdata/sf0.01", "7",
                   "builder:spark.serializer="
                   "org.apache.spark.serializer.KryoSerializer",
                   "builder:spark.memory.offHeap.enabled=true",
                   "builder:spark.memory.offHeap.size=2g",
                   "spark.sql.codegen.wholeStage=false",
                   "spark.sql.codegen.factoryMode=NO_CODEGEN",
                   "spark.sql.execution.arrow.maxRecordsPerBatch=7",
                   "spark.sql.files.maxPartitionBytes=1048576",
                   "spark.sql.files.openCostInBytes=0",
                   "spark.sql.parquet.enableVectorizedReader=false",
                   "spark.sql.autoBroadcastJoinThreshold=-1"],
}

#: gates whose full JSON line is persisted as a per-round artifact
#: under --round (the 400-char verdict field truncates them): extbench
#: since r6, the cross-scale spot probe since r12.
ARTIFACT_GATES: dict[str, str] = {
    "extbench": "EXTBENCH",
    "scalespot": "SCALESPOT",
}

#: per-gate env overrides (bench runs the contract scale)
GATE_ENV: dict[str, dict[str, str]] = {
    "bench": {"SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.1"},
    "extbench": {"SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.1"},
    # UTC−4/−5 with DST — maximally hostile to naive-timestamp slips
    "tz": {"TZ": "America/New_York"},
    # Turkish JVM locale (the i/İ/ı case-mapping trap) + C locale for
    # the Python/DuckDB half of every oracle comparison
    "locale": {"JAVA_TOOL_OPTIONS": "-Duser.language=tr -Duser.country=TR",
               "LC_ALL": "C", "LANG": "C"},
    "localehostile": {
        "JAVA_TOOL_OPTIONS": "-Duser.language=tr -Duser.country=TR",
        "LC_ALL": "C", "LANG": "C"},
    "maxhostile": {
        "TZ": "America/New_York",
        "JAVA_TOOL_OPTIONS": "-Duser.language=tr -Duser.country=TR",
        "LC_ALL": "C", "LANG": "C"},
}


def tail_line(out: str, limit: int | None = 400) -> str:
    """Last non-empty, non-progress-bar line of a gate's output."""
    for ln in reversed(out.splitlines()):
        s = ln.strip().replace("\r", "")
        if s and not s.startswith("[Stage"):
            return s[:limit] if limit else s
    return ""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None, help="write the summary JSON here")
    ap.add_argument("--skip", default="", help="comma-separated gate names")
    ap.add_argument("--only", default="", help="run only these gates")
    ap.add_argument(
        "--round", type=int, default=None,
        help="write the per-round artifacts GATES_r{N}.json and "
             "EXTBENCH_r{N}.json (full extbench JSON line) to the repo "
             "root — the artifact discipline of VERDICT r6 #3, automated "
             "so a future round cannot forget the extbench half",
    )
    args = ap.parse_args()
    if args.round is not None and not args.out:
        args.out = os.path.join(REPO_ROOT, f"GATES_r{args.round:02d}.json")
    if args.round is not None:
        # seed rotation (VERDICT r8 #1): every round's artifact stamp
        # runs the fuzz families on NEVER-USED seeds, so a green gate
        # certifies the generator, not one lucky draw. Deterministic
        # per round (reproducible), distinct per axis.
        base = 9_000_000 + args.round * 1_000
        GATES["fuzz"] = GATES["fuzz"] + [str(base + 1)]
        GATES["numfuzz"] = GATES["numfuzz"] + [str(base + 2)]
        GATES["latefuzz"] = GATES["latefuzz"] + [str(base + 3)]
        # second independent draw per axis (VERDICT r9 #5): replace the
        # static default seed with a round-rotated one
        GATES["fuzz2"] = GATES["fuzz2"][:-1] + [str(base + 4)]
        GATES["numfuzz2"] = GATES["numfuzz2"][:-1] + [str(base + 5)]
        GATES["latefuzz2"] = GATES["latefuzz2"][:-1] + [str(base + 6)]
        # the pytest gate runs DURING the stamp that produces the
        # artifact the gate-set completeness pin checks — exempt it
        # ONLY under --round (r9 review find: a static GATE_ENV entry
        # disarmed the pin for plain `run_gates --only pytest` too)
        # Value = the round being stamped, not "1": the pin only honors
        # the exemption when the value names a round >= the newest
        # artifact on disk, so a stale exported var in a dev shell can't
        # silently disarm the pin forever (r9 ADVICE find).
        GATE_ENV.setdefault("pytest", {})[
            "SPARK_GRAFT_GATES_STAMP"
        ] = str(args.round)

    skip = {s for s in args.skip.split(",") if s}
    only = {s for s in args.only.split(",") if s}
    unknown = (skip | only) - set(GATES)
    if unknown:
        ap.error(f"unknown gate(s): {sorted(unknown)}")

    results: dict[str, dict] = {}
    for name, cmd in GATES.items():
        if name in skip or (only and name not in only):
            continue
        env = {**os.environ, **GATE_ENV.get(name, {})}
        t0 = time.time()
        print(f"=== gate {name}: {' '.join(cmd[1:])}", flush=True)
        proc = subprocess.run(
            cmd, cwd=REPO_ROOT, env=env, text=True,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        )
        wall = round(time.time() - t0, 1)
        verdict = tail_line(proc.stdout)
        ok = proc.returncode == 0
        results[name] = {"ok": ok, "rc": proc.returncode,
                         "wall_s": wall, "verdict": verdict}
        print(f"    {'OK' if ok else 'FAIL'} in {wall}s — {verdict}",
              flush=True)
        if not ok:
            # keep the failing gate's full output readable in-band
            print(proc.stdout[-4000:], flush=True)
        if (name in ARTIFACT_GATES and ok and args.round is not None):
            # the 400-char verdict truncates these gates' JSON; persist
            # the full line as a per-round artifact
            path = os.path.join(
                REPO_ROOT, f"{ARTIFACT_GATES[name]}_r{args.round:02d}.json")
            with open(path, "w") as f:
                f.write(tail_line(proc.stdout, limit=None) + "\n")
            print(f"    wrote {path}", flush=True)

    total_wall = round(sum(r["wall_s"] for r in results.values()), 1)
    over_budget = total_wall > STAMP_WALL_BUDGET_S
    if over_budget:
        print(
            f"FAIL: matrix wall {total_wall}s exceeds the "
            f"{STAMP_WALL_BUDGET_S}s budget — trim gates, or raise "
            "STAMP_WALL_BUDGET_S with a written reason (VERDICT r10 #3)",
            flush=True,
        )
    summary = {
        "ok": not over_budget and all(r["ok"] for r in results.values()),
        "gates": results,
        "total_wall_s": total_wall,
        "wall_budget_s": STAMP_WALL_BUDGET_S,
    }
    line = json.dumps(summary)
    print(line, flush=True)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")
    sys.exit(0 if summary["ok"] else 1)


if __name__ == "__main__":
    main()
