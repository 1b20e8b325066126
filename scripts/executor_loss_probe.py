"""Executor-loss determinism: SIGKILL a live executor JVM mid-query.

The r7 retry probe injects PYTHON-level task failures (an exception on
the first attempt); real clusters also lose whole executors — OOM
kills, preemption, hardware. That is a different recovery path: the
dead executor's SHUFFLE FILES go with it (standalone serves shuffle
blocks from the executor itself; no external shuffle service), so
downstream reducers hit FetchFailed and the scheduler RESUBMITS the
finished map stage for the lost partitions, while the standalone
master relaunches a replacement executor. At 100 TB this happens
hourly; every registered result must be bit-identical through it.

Protocol (one subprocess per phase, like localcluster_probe):

1. clean phase — ``local-cluster[3,4,2560]``: build multiplied
   distinct-content fixtures (invariant 23), run the heavy production
   shapes (capped dedup composition, PQ codebook-train+encode, IVF
   kmeans+assign, streaming dedup ingest, stateful counter), record
   order-insensitive fingerprints + wall times.
2. chaos phase — same topology, same shapes; a killer thread SIGKILLs
   one executor JVM at ~40% of each heavy shape's clean wall time,
   verifying a Spark job was ACTIVE at kill time (else the kill is
   recorded as a miss, and the probe fails if every kill missed).
3. compare — every fingerprint must match the clean phase exactly.

The probe also records how many distinct executor PIDs appeared per
phase: > workers in the chaos phase proves the master genuinely
relaunched replacements after the kills.

Usage: python scripts/executor_loss_probe.py            (orchestrates)
       ... --collect {clean,chaos} --out F.json         (one phase)
Exit 0 iff all fingerprints match, ≥1 kill landed mid-job, and the
kills actually removed live executor JVMs.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import threading
import time

import localcluster_probe as lc  # session, fixtures and shapes
import probekit

#: 3 workers so one kill leaves 2 live executors and the relaunch is
#: observable; worker memory sized for the 2× shapes
MASTER = "local-cluster[3,4,2560]"
WORKERS = lc.cluster_shape(MASTER)[0]


def executor_pids() -> set[int]:
    """PIDs of live executor JVMs (children forked by the in-driver
    standalone workers)."""
    out = subprocess.run(
        ["pgrep", "-f", "CoarseGrainedExecutorBackend"],
        capture_output=True, text=True,
    ).stdout
    return {int(p) for p in out.split()}


class Killer:
    """Background executor assassin: waits ``delay_s``, requires an
    active Spark job, then SIGKILLs the lowest-PID executor."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.log: list[dict] = []
        self.seen_pids: set[int] = set()

    def observe(self) -> None:
        self.seen_pids |= executor_pids()

    def arm(self, delay_s: float, label: str) -> threading.Thread:
        def run() -> None:
            time.sleep(delay_s)
            self.observe()
            active = list(
                self.spark.sparkContext.statusTracker().getActiveJobsIds()
            )
            pids = executor_pids()
            entry = {
                "label": label, "delay_s": round(delay_s, 1),
                "active_jobs": active, "live_executors": len(pids),
            }
            if active and pids:
                victim = min(pids)
                os.kill(victim, signal.SIGKILL)
                entry["killed_pid"] = victim
                # verify the process is really gone (SIGKILL is async)
                for _ in range(50):
                    if victim not in executor_pids():
                        break
                    time.sleep(0.1)
                entry["confirmed_dead"] = victim not in executor_pids()
            else:
                entry["missed"] = True
            self.log.append(entry)
            print(f"    killer[{label}]: {entry}", flush=True)

        t = threading.Thread(target=run, daemon=True)
        t.start()
        return t


def collect_phase(mode: str, out_path: str, walls: dict[str, float]) -> None:
    from hive_plan_service_spark.sources.catalog import register_tables

    spark = lc.build_session("localcluster", MASTER)
    killer = Killer(spark)
    killer.observe()
    result: dict = {"mode": mode, "master": spark.sparkContext.master}
    if mode == "clean":
        docs_path, emb_path = lc.build_fixtures(spark)
    else:
        register_tables(spark, lc.SF_DIR)
        docs_path, emb_path = lc.fixture_paths()

    shapes: dict = {}
    job_retries: list[dict] = []
    # In chaos mode each shape gets a kill and ONE job-level retry.
    # localCheckpoint blocks (invariant 24) are deliberately
    # unrecoverable under executor loss — Spark fails the job LOUDLY
    # ("Checkpoint block not found"), never silently corrupts — and a
    # 100 TB orchestrator answers that with a job retry. The
    # certification is: transparent recovery OR loud failure +
    # bit-identical retry.
    for label, fn in lc.shape_runs(spark, docs_path, emb_path):
        t0 = time.time()
        if mode == "chaos":
            # 40% into the clean wall — mid-flight, past the scan stages
            killer.arm(max(1.0, 0.4 * walls.get(label, 10.0)), label)
        try:
            out = fn()
        except Exception as e:  # noqa: BLE001 — loud-failure path
            if mode != "chaos":
                raise
            job_retries.append({"shape": label, "err": str(e)[:300]})
            print(f"    {label}: loud failure after kill — job-level "
                  f"retry ({str(e)[:160]})", flush=True)
            out = fn()
        out[label]["wall_s"] = round(time.time() - t0, 1)
        shapes.update(out)
        killer.observe()

    result["shapes"] = shapes
    result["kills"] = killer.log
    result["job_retries"] = job_retries
    result["distinct_executor_pids"] = len(killer.seen_pids)
    spark.stop()
    with open(out_path, "w") as f:
        json.dump(result, f)


def canonical_chaos(kill_every_s: float) -> None:
    """The driver's full t2 gate under sustained executor attrition:
    every CANONICAL slot must pass its DuckDB value-hash oracle while
    an assassin thread SIGKILLs one executor JVM every ``kill_every_s``
    seconds for the whole sweep. The oracle IS the clean reference
    here (DuckDB runs outside Spark), so no clean Spark phase is
    needed; loud failures get one job-level retry (the orchestrator
    contract for unrecoverable checkpoint blocks, see collect_phase)."""
    spark = lc.build_session("localcluster", MASTER)
    stop = threading.Event()
    kills: list[dict] = []
    seen: set[int] = set(executor_pids())

    def assassin() -> None:
        while not stop.wait(kill_every_s):
            pids = executor_pids()
            seen.update(pids)
            if not pids:
                continue
            active = list(
                spark.sparkContext.statusTracker().getActiveJobsIds()
            )
            victim = min(pids)
            os.kill(victim, signal.SIGKILL)
            kills.append({"pid": victim, "active_jobs": active})
            print(f"    assassin: killed {victim} "
                  f"(active jobs {active})", flush=True)

    threading.Thread(target=assassin, daemon=True).start()

    sweep = probekit.canonical_sweep(spark, lc.CANON_SF_DIR, retries=1)
    stop.set()
    seen.update(executor_pids())
    spark.stop()
    slots = sweep["slots"]
    mid_job = [k for k in kills if k["active_jobs"]]
    fails = [{"slot": n, "err": s["errors"][-1]}
             for n, s in slots.items() if not s["ok"]]
    probekit.finish({
        "ok": not fails and len(mid_job) >= 2,
        "slots_ok": sweep["ok"],
        "slots_total": sweep["total"],
        "failures": fails,
        "job_retries": [{"slot": n, "err": s["errors"][0]}
                        for n, s in slots.items() if s["errors"]],
        "kills": len(kills),
        "kills_mid_job": len(mid_job),
        "kill_every_s": kill_every_s,
        "distinct_executor_pids": len(seen),
        "workers": WORKERS,
        "relaunch_observed": len(seen) > WORKERS,
        "wall_s": sweep["wall_s"],
    })


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--collect", choices=["clean", "chaos"])
    ap.add_argument("--out")
    ap.add_argument("--walls", default="{}")
    ap.add_argument("--canonical", action="store_true",
                    help="all 50 canonical oracle checks under a "
                         "periodic executor assassin")
    ap.add_argument("--kill-every", type=float, default=15.0)
    args = ap.parse_args()
    if args.canonical:
        canonical_chaos(args.kill_every)
        return
    if args.collect:
        collect_phase(args.collect, args.out, json.loads(args.walls))
        return

    root = lc._scratch()
    try:
        # clean first: builds the fixtures and sets the kill delays
        clean = probekit.run_phase(
            __file__, "clean", os.path.join(root, "execloss_clean.json"))
        chaos = probekit.run_phase(
            __file__, "chaos", os.path.join(root, "execloss_chaos.json"),
            "--walls", json.dumps(probekit.shape_walls(clean["shapes"])))
        mismatches = probekit.shape_mismatches(
            clean["shapes"], chaos["shapes"], "clean", "chaos")
        kills = chaos.get("kills", [])
        landed = [k for k in kills
                  if k.get("confirmed_dead") and k.get("active_jobs")]
        probekit.finish({
            "ok": not mismatches and len(landed) >= 1,
            "shape_fingerprints_match": not mismatches,
            "mismatches": mismatches,
            "kills_armed": len(kills),
            "kills_landed_mid_job": len(landed),
            "kills": kills,
            "job_retries": chaos.get("job_retries", []),
            "distinct_executor_pids_chaos": chaos["distinct_executor_pids"],
            "workers": WORKERS,
            "relaunch_observed": chaos["distinct_executor_pids"] > WORKERS,
            "shapes_clean_wall_s": probekit.shape_walls(clean["shapes"]),
            "shapes_chaos_wall_s": probekit.shape_walls(chaos["shapes"]),
        })
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
