"""The pieces the gate scripts share, written once.

Importing this module puts the repo root on ``sys.path``, so a script
run as ``python scripts/<name>.py`` can ``import probekit`` first and
then import the engine package and ``tests.parity``. Modules that are
also imported as ``scripts.<name>`` (from tests or ``perfbench/``)
import it as ``scripts.probekit`` instead.

- ``plain_session``: the session the driver hands ``__spark_entry__``
  (master + static builder conf, nothing else), each static key
  asserted, then ``tune(spark, force=True)`` once.
- ``canonical_sweep``: ``tests.parity.check_query`` over every
  ``registry.CANONICAL`` slot — the driver's t2 gate.
- ``run_phase`` / ``shape_mismatches`` / ``shape_walls`` / ``finish``:
  one phase per subprocess, fingerprint comparison across phases, and
  the one-JSON-line verdict.
- ``fingerprint``: an order-insensitive content fingerprint.
- ``mult_docs`` / ``mult_embeddings``: the invariant-23 replication
  rule (distinct content per copy) for documents and embeddings.
- ``pq_shapes`` / ``ivf_shapes``: the np-twin index builds, fingerprinted.
- ``parse_event_log`` / ``parse_stages``: task and stage totals from a
  plain-JSON Spark event log.
"""
from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time
from typing import NoReturn

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)


def plain_session(master: str, conf: dict[str, str] | None = None):
    """A PLAIN SparkSession: master and static builder ``conf`` only,
    then the engine's ``tune()`` retrofit, forced once so an
    out-of-band value cannot survive the memo."""
    from pyspark.sql import SparkSession

    from hive_plan_service_spark.session import tune

    conf = conf or {}
    builder = SparkSession.builder.master(master)
    for k, v in conf.items():
        print(f"builder conf: {k}={v}", flush=True)
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    for k, v in conf.items():
        # getOrCreate silently ignores conf when it reuses a live context —
        # fail loudly rather than certify an axis that never engaged
        got = spark.conf.get(k, None)
        assert got == v, f"builder conf {k} did not take: {got!r} != {v!r}"
    tune(spark, force=True)
    return spark


def canonical_sweep(spark, sf_dir: str, retries: int = 0) -> dict:
    """Every CANONICAL slot through the driver's DuckDB value-hash check.

    A slot that fails is re-run up to ``retries`` times (the job-level
    retry an orchestrator gives a loud failure); ``errors`` keeps every
    failed attempt's message. Prints one line per slot and a closing
    ``=== ok/total OK in Ns ===`` line."""
    from hive_plan_service_spark.plans.registry import CANONICAL, all_queries
    from tests.parity import check_query

    qs = all_queries()
    slots: dict[str, dict] = {}
    t_all = time.time()
    for name in CANONICAL:
        t0 = time.time()
        slot: dict = {"ok": False, "errors": []}
        for _ in range(retries + 1):
            try:
                check_query(spark, qs[name], sf_dir)
            except Exception as e:  # noqa: BLE001 — report every slot
                slot["errors"].append(str(e)[:300])
                print(f"{name}: FAIL {str(e)[:500]}", flush=True)
                continue
            slot.update(ok=True, wall_s=round(time.time() - t0, 1))
            print(f"{name}: OK ({time.time() - t0:.1f}s)", flush=True)
            break
        slots[name] = slot
    ok = sum(s["ok"] for s in slots.values())
    wall = time.time() - t_all
    print(f"=== {ok}/{len(CANONICAL)} OK in {wall:.0f}s ===", flush=True)
    return {"ok": ok, "total": len(CANONICAL), "wall_s": round(wall, 1),
            "slots": slots}


def run_phase(script: str, mode: str, out: str, *extra: str) -> dict:
    """Run ``script --collect mode --out out [extra...]`` in its own
    process (its own JVM) and load the JSON it wrote; a failed phase
    prints a failing verdict line and exits 1."""
    t0 = time.time()
    print(f"=== phase {mode}", flush=True)
    rc = subprocess.run(
        [sys.executable, os.path.abspath(script), "--collect", mode,
         "--out", out, *extra],
        cwd=REPO_ROOT,
    ).returncode
    print(f"    phase {mode}: rc={rc} in {time.time() - t0:.0f}s", flush=True)
    if rc != 0:
        finish({"ok": False, "failed_phase": mode})
    with open(out) as f:
        return json.load(f)


def shape_mismatches(ref: dict, got: dict, ref_name: str,
                     got_name: str) -> list[dict]:
    """Shapes whose fingerprint in ``got`` differs from ``ref``."""
    out = []
    for name, fp in ref.items():
        g = got.get(name, {})
        if any(fp.get(k) != g.get(k) for k in ("n", "m1", "m2")):
            out.append({"shape": name, ref_name: fp, got_name: g})
    return out


def shape_walls(shapes: dict) -> dict:
    return {k: v["wall_s"] for k, v in shapes.items() if "wall_s" in v}


def finish(summary: dict) -> NoReturn:
    """Print ``summary`` as the gate's one JSON verdict line; exit 0 iff
    it is ``ok``."""
    print(json.dumps(summary), flush=True)
    sys.exit(0 if summary["ok"] else 1)


def fingerprint(df) -> dict:
    """Order-insensitive content fingerprint: count + two modular
    moments of per-row xxhash64 over all columns (sorted by name).
    Sums are pre-reduced mod 2^31 so ANSI-mode BIGINT SUM can't
    overflow at any row count a probe reaches."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in sorted(df.columns)]
    h = df.select(F.xxhash64(*cols).alias("h"))
    row = h.agg(
        F.count("*").alias("n"),
        F.sum(F.pmod(F.col("h"), F.lit(1 << 31))).alias("m1"),
        F.sum(F.pmod(F.col("h"), F.lit(1_000_003))).alias("m2"),
    ).collect()[0]
    return {"n": row["n"], "m1": str(row["m1"]), "m2": str(row["m2"])}


def _replicate(spark, table: str, id_col: str, mult: int):
    """``mult`` copies of a registered view, plus a ``_rep`` copy index;
    copy r's ids shift by r × (row count)."""
    from pyspark.sql import functions as F

    base = spark.table(table)
    n = base.count()
    reps = spark.range(mult).select(F.col("id").alias("_rep"))
    return base.crossJoin(reps).withColumn(
        id_col, F.col(id_col) + F.col("_rep") * F.lit(n)
    )


def mult_docs(spark, mult: int):
    """mult× the ``documents`` view, textually disjoint per copy: every
    word gets a ``_<copy>`` suffix (a bare digit suffix would alias
    digit-ending tokens across copies)."""
    from pyspark.sql import functions as F

    return _replicate(spark, "documents", "doc_id", mult).withColumn(
        "text",
        F.concat_ws(
            " ",
            F.transform(
                F.split(F.col("text"), " "),
                lambda w: F.concat(w, F.lit("_"), F.col("_rep").cast("string")),
            ),
        ),
    ).drop("_rep")


def mult_embeddings(spark, mult: int):
    """mult× the ``embeddings`` view with a deterministic per-(vector,
    element) jitter in [-0.05, 0.05): copies are distinct but
    neighbourhood-preserving."""
    from pyspark.sql import functions as F

    return _replicate(spark, "embeddings", "vec_id", mult).withColumn(
        "embedding",
        F.transform(
            "embedding",
            lambda x, i: (
                x.cast("double")
                + F.pmod(F.xxhash64(F.col("vec_id"), i), F.lit(1000))
                .cast("double") / F.lit(10000.0)
                - F.lit(0.05)
            ).cast("float"),
        ),
    ).drop("_rep")


def pq_shapes(corpus, codes: int, max_iter: int) -> dict:
    """Fingerprints of the np-twin PQ codebook train and encode."""
    from hive_plan_service_spark.operators import vectors as vx

    books = vx.pq_train_codebooks_np(
        corpus, subspaces=4, codes=codes, dim=64, max_iter=max_iter
    ).localCheckpoint(eager=True)
    return {
        "pq_codebooks_np": fingerprint(books),
        "pq_encode_np": fingerprint(
            vx.pq_encode_np(corpus, books, subspaces=4, dim=64)
        ),
    }


def ivf_shapes(corpus, k: int, iters: int) -> dict:
    """Fingerprints of the np-twin k-means centroids and IVF assign."""
    from pyspark.sql import functions as F

    from hive_plan_service_spark.operators import vectors as vx
    from hive_plan_service_spark.operators.kmeans import kmeans_integer_np

    cents = (
        kmeans_integer_np(
            corpus, k=k, dim=64, iters=iters, vec="embedding", id_col="vec_id"
        )
        .select(
            F.col("code").cast("bigint").alias("centroid_id"),
            F.col("centroid").cast("array<float>").alias("embedding"),
        )
        .localCheckpoint(eager=True)
    )
    return {
        "kmeans_centroids_np": fingerprint(cents),
        "ivf_assign_np": fingerprint(vx.ivf_assign_np(corpus, cents)),
    }


def _events(log_dir: str, kinds: tuple[str, ...]):
    """Parsed events whose ``Event`` is one of ``kinds``, from every
    event log under ``log_dir``. Spark 4 writes a rolling-log DIRECTORY
    (eventlog_v2_<app>/events_*) per application; older layouts write a
    single file. Both are read; in-progress files are skipped."""
    files: list[str] = []
    for p in glob.glob(os.path.join(log_dir, "*")):
        if os.path.isdir(p):
            files.extend(glob.glob(os.path.join(p, "events_*")))
        elif not p.endswith(".inprogress"):
            files.append(p)
    tags = [f'"{k}"' for k in kinds]
    for path in sorted(files):
        with open(path, errors="replace") as f:
            for line in f:
                if not any(t in line for t in tags):
                    continue
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if ev.get("Event") in kinds:
                    yield ev


def parse_event_log(log_dir: str) -> dict:
    """Task count and spill / peak-execution-memory totals over every
    task in the log."""
    mem_spill = disk_spill = peak_exec = n_tasks = 0
    for ev in _events(log_dir, ("SparkListenerTaskEnd",)):
        tm = ev.get("Task Metrics") or {}
        if not tm:
            continue
        n_tasks += 1
        mem_spill += tm.get("Memory Bytes Spilled", 0)
        disk_spill += tm.get("Disk Bytes Spilled", 0)
        peak_exec = max(peak_exec, tm.get("Peak Execution Memory", 0))
    return {
        "tasks": n_tasks,
        "memory_spill_mb": round(mem_spill / 1024**2, 1),
        "disk_spill_mb": round(disk_spill / 1024**2, 1),
        "task_peak_exec_mb": round(peak_exec / 1024**2, 1),
    }


def _scope_label(si: dict) -> str:
    """Human-readable stage label from RDD scopes: the operator names
    (WholeStageCodegen / Exchange / MapInPandas / ...) beat the generic
    callsite in "Stage Name"."""
    names: list[str] = []
    for rdd in si.get("RDD Info", []):
        scope = rdd.get("Scope")
        if not scope:
            continue
        try:
            nm = json.loads(scope).get("name", "")
        except (json.JSONDecodeError, TypeError):
            continue
        if nm and nm not in names:
            names.append(nm)
    return " | ".join(names[:5]) or si.get("Stage Name", "")[:60]


def parse_stages(log_dir: str, t_min_ms: int) -> list[dict]:
    """Stage table from a (rolling or flat) plain-JSON event log,
    restricted to stages submitted at/after ``t_min_ms``, sorted by
    summed task time, largest first.

    TaskEnd events are logged BEFORE their stage's StageCompleted
    event, so task metrics accumulate keyed by stage id and join the
    stage rows at the end."""
    stages: dict[int, dict] = {}
    acc: dict[int, dict] = {}
    for ev in _events(log_dir, ("SparkListenerStageCompleted",
                                "SparkListenerTaskEnd")):
        if ev["Event"] == "SparkListenerStageCompleted":
            si = ev.get("Stage Info")
            if not si or si.get("Submission Time", 0) < t_min_ms:
                continue
            stages[si["Stage ID"]] = {
                "stage": si["Stage ID"],
                "name": _scope_label(si)[:80],
                "tasks": si.get("Number of Tasks", 0),
                "wall_s": round(
                    (si.get("Completion Time", 0)
                     - si.get("Submission Time", 0)) / 1e3, 2
                ),
            }
            continue
        tm = ev.get("Task Metrics") or {}
        if not tm:
            continue
        a = acc.setdefault(ev.get("Stage ID"), {
            "task_time_s": 0.0, "cpu_s": 0.0, "max_task_s": 0.0,
            "input_mb": 0.0, "shuf_read_mb": 0.0, "shuf_write_mb": 0.0,
            "_runs": [],
        })
        run_s = tm.get("Executor Run Time", 0) / 1e3
        a["task_time_s"] += run_s
        if len(a["_runs"]) < 100_000:  # bound memory
            a["_runs"].append(run_s)
        a["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        a["max_task_s"] = max(a["max_task_s"], run_s)
        a["input_mb"] += (
            (tm.get("Input Metrics") or {}).get("Bytes Read", 0) / 1024**2
        )
        srm = tm.get("Shuffle Read Metrics") or {}
        a["shuf_read_mb"] += (
            srm.get("Remote Bytes Read", 0) + srm.get("Local Bytes Read", 0)
        ) / 1024**2
        a["shuf_write_mb"] += (
            (tm.get("Shuffle Write Metrics") or {})
            .get("Shuffle Bytes Written", 0) / 1024**2
        )
    for sid, st in stages.items():
        a = acc.get(sid, {})
        for k in ("task_time_s", "cpu_s", "max_task_s", "input_mb",
                  "shuf_read_mb", "shuf_write_mb"):
            st[k] = round(a.get(k, 0.0), 2)
        # straggler evidence: a healthy stage keeps max/median under
        # ~5x; a hot shuffle key shows up here long before it shows up
        # in wall-clock
        runs = sorted(a.get("_runs", []))
        med = runs[len(runs) // 2] if runs else 0.0
        st["p50_task_s"] = round(med, 3)
        st["max_over_median"] = (
            round(st["max_task_s"] / med, 1) if med > 0.02 else None
        )
    return sorted(stages.values(), key=lambda s: -s["task_time_s"])
