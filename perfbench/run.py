"""The plan service's benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It generates its inputs from the seed
under ``.perfbench/`` in the checkout, runs the workload against the
package there, checks the outputs, deletes its scratch directory, and
prints as its last stdout line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The lines
before it give sample counts and the numbers that are not metrics. A
traced run also writes its spans to ``.perfbench/out/``.

See perfbench/README.md for the workloads and what each metric means.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: The headline queries that are streaming replays; they also report batches.
STREAM_QUERIES = ("b22_stream_tumbling_window", "b22_continuous_hourly_rollup")


def driver_memory() -> str:
    """A quarter of RAM, at most 3 GiB: the engine's 16g default does
    not fit a small box, and the machine is shared."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(3 * 1024, kb // 4096)}m"


def spark_cpus() -> int:
    """Half the cores for Spark's task threads. The driver JVM compiles
    hot code through every run (``driver.jit_ms_per_op``), and its JIT and
    GC threads and this process need cores too: with a task thread per
    core, ten runs of ``service_mix`` spread by 0.29 in ``ops_per_s``;
    with half of them, by 0.09-0.15 in two sets of ten."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def configure_env(run_dir: str) -> dict:
    """Pin the program's environment: half the cores, a driver heap that fits
    and all scratch (spill, warehouse, JVM and Python temp) inside
    ``run_dir``. Conf overrides from the caller's environment would make
    two runs measure different programs, so they are dropped."""
    for k in ("SPARK_GRAFT_CONF_OVERRIDES", "SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        os.environ.pop(k, None)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(spark_cpus()),
        "SPARK_DRIVER_MEMORY": driver_memory(),
        "SPARK_GRAFT_SCRATCH": run_dir,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = tmp
    return env


def peak_rss_mb() -> dict[str, float]:
    """Peak resident memory (VmHWM) of the driver JVM and of this process."""
    from pyspark import SparkContext

    out = {}
    for name, pid in (("python", "self"), ("jvm", str(SparkContext._gateway.proc.pid))):
        with open(f"/proc/{pid}/status") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        out[name] = kb / 1024
    return out


def host_ms() -> float:
    """Best of three timings of a fixed pure-Python loop: how fast the
    host ran this process near the end of the run, to tell a slow host
    from a slow program when runs disagree."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        sum(i * i for i in range(1_000_000))
        best = min(best, time.perf_counter() - t)
    return best * 1e3


def retained_mb(spark) -> float:
    """Memory the driver holds between calls: JVM heap in use after a
    full GC, JVM non-heap in use (metaspace, code cache), and this
    process's resident set."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    non_heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getNonHeapMemoryUsage()
    with open("/proc/self/status") as f:
        py_kb = next(int(line.split()[1]) for line in f if line.startswith("VmRSS:"))
    return (rt.totalMemory() - rt.freeMemory() + non_heap.getUsed()) / 1024**2 + py_kb / 1024


def stop_spark(b) -> None:
    """Stop the session, then the JVM the gateway started, and wait for it."""
    from pyspark import SparkContext

    if b.spark is not None:
        b.spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def end_to_end(b, res) -> dict:
    from stats import percentile, tail

    lat = res.latencies_ms
    # The tail is printed, not reported: the units a run can afford (25
    # calls, three passes) give the tail rule only p60 or the maximum,
    # whose spread between runs (0.21-0.33) leaves no margin to a bound.
    res.detail["op_tail_ms"] = tail(lat)
    return {
        "setup_s": b.setup_metrics()["setup_s"],
        "ops_per_s": len(lat) / (sum(lat) / 1e3),
        "op_p50_ms": percentile(lat, 50),
    }


def layer_names() -> list[str]:
    """Every per-layer metric, in BENCHMARK.json order."""
    import workloads as w

    names = ["session.get_spark_s", "sources.register_s", "sources.counter_log_files",
             "driver.py4j_per_op", "driver.jit_ms_per_op", "driver.gc_ms_per_op",
             "exec.stages_per_op", "exec.task_s_per_op",
             "exec.shuffle_mb_per_op", "exec.spill_mb", "trace.overhead_pct"]
    for op in w.SERVICE_OPS:
        names += [f"api.py4j.{op}", f"api.jobs.{op}"]
    for q in w.HEADLINE + ("dedup",):
        names += [f"plans.py4j.{q}", f"catalyst.exchanges.{q}", f"exec.shuffle_mb.{q}"]
    names += [f"streaming.batches.{q}" for q in STREAM_QUERIES]
    return names + ["plans.build_jobs.dedup", "exec.max_over_median.dedup",
                    "dedup.lsh_candidates", "dedup.verified_pairs", "dedup.verify_yield"]


def per_layer(b, res) -> dict:
    """Every per-layer metric; a layer the workload bypasses reads 0."""
    from tracing import stage_windows

    m = dict.fromkeys(layer_names(), 0)
    m.update((k, v) for k, v in b.setup_metrics().items() if k != "setup_s")
    m.update(res.layers)

    t0_ms, t1_ms, ops = res.loop_window
    tot = stage_windows(b.log_dir, [("loop", t0_ms)], t1_ms)["loop"]
    m.update({
        "exec.stages_per_op": tot["stages"] / ops,
        "exec.task_s_per_op": tot["task_s"] / ops,
        "exec.shuffle_mb_per_op": tot["shuffle_mb"] / ops,
        "exec.spill_mb": tot["spill_mb"],
    })
    per_query = res.detail.get("per_query", {})
    if res.query_windows:
        windows, end_ms = res.query_windows
        for q, st in stage_windows(b.log_dir, windows, end_ms).items():
            per_query[q].update(task_s=st["task_s"], shuffle_mb=st["shuffle_mb"],
                                stages=st["stages"], max_over_median=st["max_over_median"])
    lst = b.tracer.listener
    for q, rec in per_query.items():
        m[f"plans.py4j.{q}"] = rec["py4j"]
        m[f"catalyst.exchanges.{q}"] = rec["exchanges"]
        m[f"exec.shuffle_mb.{q}"] = rec["shuffle_mb"]
        if q in STREAM_QUERIES and lst is not None:
            m[f"streaming.batches.{q}"] = lst.batches.get(q, 0)
            rec["trigger_ms"] = lst.trigger_ms.get(q, 0.0)
    if "dedup" in per_query:
        m["plans.build_jobs.dedup"] = per_query["dedup"]["build_jobs"]
        m["exec.max_over_median.dedup"] = per_query["dedup"]["max_over_median"]
    return m


#: unit of each per-layer metric, by name prefix (first match wins)
LAYER_UNITS = (
    ("session.", "s"), ("sources.register_s", "s"), ("sources.", "count"),
    ("driver.py4j", "count/op"), ("driver.", "ms/op"), ("exec.stages", "count/op"),
    ("exec.task_s", "s/op"), ("exec.shuffle_mb_per_op", "MB/op"), ("exec.max", "ratio"),
    ("exec.", "MB"), ("trace.", "%"), ("dedup.verify_yield", "ratio"), ("", "count"),
)
E2E_UNITS = {"setup_s": "s", "retained_mb": "MB", "ops_per_s": "1/s", "op_p50_ms": "ms"}


def layer_unit(name: str) -> str:
    return next(u for p, u in LAYER_UNITS if name.startswith(p))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "hive_plan_service_spark", "__init__.py")):
        print(f"no hive_plan_service_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads as w

    if args.workload not in w.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(w.WORKLOADS)}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    env = configure_env(run_dir)
    b = w.Bench(run_dir, args.seed, args.seconds, bool(args.trace), T_PROCESS)
    try:
        res = w.WORKLOADS[args.workload](b)
        workload_end_s = time.perf_counter() - T_PROCESS
        rss = peak_rss_mb()
        host = host_ms()
        retained = None if args.trace else retained_mb(b.spark)
        if b.spark is not None:
            b.spark.stop()  # flushes and closes the event log
        if args.trace:
            metrics = per_layer(b, res)
            units = {k: layer_unit(k) for k in metrics}
            b.tracer.write(os.path.join(
                ROOT, ".perfbench", "out", f"spans-{args.workload}-seed{args.seed}.json"))
        else:
            metrics = end_to_end(b, res)
            metrics["retained_mb"] = retained
            units = E2E_UNITS
    finally:
        stop_spark(b)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"env": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY")},
                      "samples": res.samples, "failures": res.failures[:10],
                      "setup_reps": b.setup_reps, "peak_rss_mb": rss, "host_ms": host,
                      "workload_end_s": workload_end_s,
                      "run_s": time.perf_counter() - T_PROCESS,
                      "detail": res.detail}, default=str))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
