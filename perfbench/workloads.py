"""The two workloads. Each is a closed loop with one client.

A workload gets a ``Bench`` (session, inputs, tracer) and returns a
``Result``: the latency of every timed unit (a service call, a pass of
the timed queries), the checks made, and for a
traced run the per-layer numbers it can read while Spark is up. The
event-log numbers are read by ``run.py`` after the session stops.

In a traced run every other unit of work is traced (every other
occurrence of a service op, starting with the first, and each query in
every other pass, half of them starting with the first pass and half
with the second), so the untraced units of the same run give
``trace.overhead_pct``.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

import datagen
from stats import CounterModel
from tracing import Tracer, plan_census

#: Scale of the fixture tables per workload (sf 1 = 6M lineitems).
SERVICE_SF = 0.001
QUERY_SF = 0.01
#: set-ups per run; ``setup_s`` is their median
SETUP_REPS = 3
#: Seconds one unit of timed work takes on a 4-core host: a block of the
#: service trace, a pass of the timed queries. A run does a fixed number
#: of units, worked out from ``--seconds`` alone, so every run of every
#: seed does the same work in the same mix whatever the host's speed.
SERVICE_BLOCK_S = 12.0
QUERY_PASS_S = 5.0

GROUPS = {
    "relational": (
        "b09_agg_pricing_summary", "b04_join_q3_shipping_priority",
        "b04_join_q5_local_supplier", "a03_bitmask_expand_join",
        "b12_window_functions", "b08_asof_join_purchase_click", "b15_dedup_exact",
    ),
    "llm": (
        "b27_dedup_minhash_lsh", "b28_cosine_topk", "b29_text_token_stats",
        "llm_corpus_clean_pipeline",
    ),
    "stream": ("b22_stream_tumbling_window", "b22_continuous_hourly_rollup"),
}
HEADLINE = tuple(q for qs in GROUPS.values() for q in qs)
#: The queries of the timed loop: those that take under 1.5 s warm at
#: ``QUERY_SF`` on a 4-core host. The other four (MinHash, the corpus
#: pipeline and the two streaming replays) take 2-7 s warm and twice that
#: cold, more than a run can spend on them, so only the traced run runs
#: them, once each.
TIMED = GROUPS["relational"] + ("b28_cosine_topk", "b29_text_token_stats")
TRACED_ONLY = tuple(q for q in HEADLINE if q not in TIMED)
SERVICE_OPS = tuple(op for op, _ in datagen.BLOCK)


@dataclass
class Result:
    #: untraced units: service calls, or passes of the timed queries
    latencies_ms: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    samples: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    #: (start_ms, end_ms, ops) of the whole measured loop
    loop_window: tuple[int, int, int] | None = None
    #: traced run: (name, start_ms) of every query run, named for the first
    #: traced run of each query and blank otherwise, and the end of the last
    query_windows: tuple[list[tuple[str, int]], int] | None = None

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok


class Bench:
    """One run: its scratch directory, session, inputs and tracer."""

    def __init__(self, run_dir: str, seed: int, seconds: float, trace: bool,
                 t_process: float) -> None:
        self.run_dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer() if trace else None
        self.t_process = t_process
        self.spark = None
        self.setup_reps: list[dict] = []
        self.log_dir = os.path.join(run_dir, "eventlog")

    def _session(self):
        from hive_plan_service_spark.session import get_spark

        conf = {"spark.ui.showConsoleProgress": "false"}
        if self.tracer:
            os.makedirs(self.log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.log_dir}",
                "spark.eventLog.compress": "false",
            })
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        return self.spark

    def setup(self, write_inputs, register_dir: str, prepare=None):
        """Set up ``SETUP_REPS`` times: session, inputs, table registration
        and the workload's own preparation. The first set-up is timed from
        process start, so it includes interpreter and JVM start."""
        from hive_plan_service_spark.sources.catalog import register_tables

        prepared = None
        for rep in range(SETUP_REPS):
            t0 = self.t_process if rep == 0 else time.perf_counter()
            tg = time.perf_counter()
            spark = self._session()
            get_spark_s = time.perf_counter() - tg
            write_inputs()
            tr = time.perf_counter()
            register_tables(spark, register_dir, force=True)
            register_s = time.perf_counter() - tr
            prepared = prepare(spark, rep) if prepare else None
            self.setup_reps.append({
                "setup_s": time.perf_counter() - t0,
                "get_spark_s": get_spark_s,
                "register_s": register_s,
            })
        if self.tracer:
            self.tracer.attach(self.spark)
        return prepared

    def setup_metrics(self) -> dict:
        def med(k):
            return statistics.median(r[k] for r in self.setup_reps)

        return {"setup_s": med("setup_s"), "session.get_spark_s": med("get_spark_s"),
                "sources.register_s": med("register_s")}

    def units(self, unit_s: float, least: int = 1) -> int:
        """Units of timed work that fill ``seconds``, at least ``least``."""
        return max(least, round(self.seconds / unit_s))


def _now_ms() -> int:
    return int(time.time() * 1000)


def _jvm_ms(spark) -> dict[str, int]:
    """Driver JVM time spent so far in garbage collection and in JIT
    compilation."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return {"gc": sum(g.getCollectionTime() for g in mf.getGarbageCollectorMXBeans()),
            "jit": mf.getCompilationMXBean().getTotalCompilationTime()}


def _jvm_layers(res: Result, spark, before: dict[str, int], ops: int) -> None:
    """JIT compilation and GC time of the driver JVM per timed op."""
    after = _jvm_ms(spark)
    res.layers["driver.jit_ms_per_op"] = (after["jit"] - before["jit"]) / ops
    res.layers["driver.gc_ms_per_op"] = (after["gc"] - before["gc"]) / ops


def _driver_layers(res: Result, spans) -> None:
    res.layers["driver.py4j_per_op"] = statistics.mean(s.py4j for s in spans)


def _overhead_pct(untraced: dict[str, list[float]], traced: dict[str, list[float]]) -> float:
    """Traced vs untraced time of the same ops, weighted by how often
    each op ran untraced."""
    num = den = 0.0
    for op, u in untraced.items():
        t = traced.get(op)
        if not t:
            continue
        num += len(u) * statistics.median(t)
        den += len(u) * statistics.median(u)
    return 100.0 * (num / den - 1.0) if den else 0.0


# -- service_mix ---------------------------------------------------------------
def _entities_ok(op: str, data) -> bool:
    """25 plans with distinct power-of-two ids; 5 groups whose member
    ids OR to the group's mask."""
    if op == "get_plans":
        ids = [p["id"] for p in data]
        return len(set(ids)) == 25 == len(ids) and all(i > 0 and i & (i - 1) == 0 for i in ids)
    masks_ok = True
    for g in data:
        acc = 0
        for p in g["plans"]:
            acc |= p["id"]
        masks_ok = masks_ok and acc == g["mask"]
    return len(data) == 5 and masks_ok


def _parquet_files(path: str) -> int:
    try:
        return sum(1 for n in os.listdir(path) if n.endswith(".parquet"))
    except FileNotFoundError:
        return 0


def service_mix(b: Bench) -> Result:
    """A seeded trace of PlanService calls over tiny tables."""
    from hive_plan_service_spark.api import PlanService

    data_dir = os.path.join(b.run_dir, "data")

    def prepare(spark, rep):
        svc = PlanService(spark, data_dir, warehouse=os.path.join(b.run_dir, f"wh{rep}"))
        svc.refresh()
        return svc

    svc = b.setup(
        lambda: datagen.write_tables(data_dir, datagen.tables(b.seed, SERVICE_SF)),
        data_dir, prepare,
    )
    res = Result()
    model = CounterModel()
    counter_log = os.path.join(svc.warehouse, "counter_log")

    def call(c: datagen.Call) -> None:
        """One call, checked: entity shapes, and every counter response
        against the replay model."""
        r = svc.set_joined_count(c.arg) if c.op == "set_joined_count" else getattr(svc, c.op)()
        if c.op in ("get_plans", "get_plan_groups"):
            ok = r.get("code") == 200 and _entities_ok(c.op, r["data"])
        elif c.op == "refresh":
            ok = r == {"code": 200, "data": "okay"}
        else:
            ok = r == {"code": 200, "data": model.apply(c.op, c.arg)}
        res.check(ok, f"{c.op}({c.arg}): {str(r)[:200]}")

    # warm-up: the first block of the trace, untimed but checked; the
    # driver JVM is still compiling hot code through the first block,
    # which runs about a third slower than the blocks after it
    calls = datagen.service_trace(b.seed, blocks=1 + b.units(SERVICE_BLOCK_S))
    for c in calls[:datagen.BLOCK_SIZE]:
        call(c)
    calls = calls[datagen.BLOCK_SIZE:]
    tr = b.tracer
    seen: dict[str, int] = {}
    untraced: dict[str, list[float]] = {}
    traced: dict[str, list[float]] = {}
    spans = []
    files_at_reads: list[int] = []
    jvm0 = _jvm_ms(b.spark)
    t0, t0_ms = time.perf_counter(), _now_ms()
    for n, c in enumerate(calls):
        seen[c.op] = seen.get(c.op, 0) + 1
        if tr is not None and seen[c.op] % 2 == 1:
            if c.op == "get_joined_count" and n < datagen.BLOCK_SIZE:
                files_at_reads.append(_parquet_files(counter_log))
            with tr.span(f"api.{c.op}", request=n, jobs=True) as s:
                call(c)
            spans.append(s)
            traced.setdefault(c.op, []).append(s.ms)
        else:
            ts = time.perf_counter()
            call(c)
            ms = (time.perf_counter() - ts) * 1e3
            untraced.setdefault(c.op, []).append(ms)
            res.latencies_ms.append(ms)
    n = len(calls)
    res.loop_window = (t0_ms, _now_ms(), n)
    res.detail["loop_s"] = (t0 - b.t_process, time.perf_counter() - b.t_process)
    _jvm_layers(res, b.spark, jvm0, n)
    res.samples = {cls: 0 for cls in datagen.CLASS_OF.values()}
    for op, xs in untraced.items():
        res.samples[datagen.CLASS_OF[op]] += len(xs)
    res.detail["class_p50_ms"] = {
        cls: statistics.median([x for op, xs in untraced.items()
                                if datagen.CLASS_OF[op] == cls for x in xs])
        for cls in set(datagen.CLASS_OF.values()) if res.samples[cls]
    }
    if tr is None:
        return res
    for op in SERVICE_OPS:
        mine = [s for s in spans if s.name == f"api.{op}"]
        res.layers[f"api.py4j.{op}"] = statistics.median(s.py4j for s in mine) if mine else 0
        res.layers[f"api.jobs.{op}"] = statistics.median(s.jobs for s in mine) if mine else 0
    res.layers["sources.counter_log_files"] = (
        statistics.mean(files_at_reads) if files_at_reads else 0
    )
    res.layers["trace.overhead_pct"] = _overhead_pct(untraced, traced)
    _driver_layers(res, spans)
    res.detail["api_ms"] = {op: statistics.median(v) for op, v in traced.items()}
    return res


# -- query_batch ---------------------------------------------------------------
def _traced_query(tr: Tracer, name: str, request: int, build, sink, first: bool) -> dict:
    """Build, plan and sink one query under spans; its per-layer record.
    Jobs and streaming progress are attributed only on the ``first``
    traced run of a query, so their counts are per query run."""
    with tr.span(f"query.{name}", request=request) as s:
        tr.current_query = name if first else None
        with tr.span("plans.build", jobs=first) as sb:
            df = build()
        with tr.span("catalyst.plan") as sp, tr.py4j.pause():
            plan_ms, exchanges = plan_census(df)
        with tr.span("sink"):
            out = sink(df)
        tr.current_query = None
    return {"query_ms": s.ms - sp.ms, "build_ms": sb.ms, "py4j": sb.py4j,
            "build_jobs": sb.jobs, "plan_ms": plan_ms, "exchanges": exchanges,
            "_out": out}


def _oracle_check(res: Result, query, pdf, data_dir: str) -> None:
    """Compare a query's collected output with its DuckDB oracle, as
    ``tests/parity.check_query`` does."""
    from tests.parity import compare_frames, run_oracle

    try:
        if query.oracle is not None:
            compare_frames(pdf, run_oracle(query.oracle, data_dir), name=query.name)
        res.check(True, query.name)
    except AssertionError as e:
        res.check(False, f"{query.name}: {e}")


def query_batch(b: Bench) -> Result:
    """The timed headline queries at the noop sink, in a seeded order per
    pass; a traced run also runs the other headline queries and the dedup
    composition once each."""
    import bench as headline_bench
    from hive_plan_service_spark.plans.registry import all_queries

    data_dir = os.path.join(b.run_dir, "data")
    b.setup(lambda: datagen.write_tables(data_dir, datagen.tables(b.seed, QUERY_SF)), data_dir)
    spark = b.spark
    reg = all_queries()
    res = Result()
    # warm-up, untimed: every timed query once, a third of them (chosen
    # by the seed, all of them over three consecutive seeds) through the
    # oracle check; checking all in every run does not fit the run time
    for i, q in enumerate(TIMED):
        if i % 3 != b.seed % 3:
            headline_bench.materialize(reg[q].fn(spark, data_dir))
        else:
            _oracle_check(res, reg[q], reg[q].fn(spark, data_dir).toPandas(), data_dir)
    rng = np.random.default_rng(b.seed)
    tr = b.tracer
    if tr:
        tr.attach_listener()
    jvm0 = _jvm_ms(spark)
    untraced: dict[str, list[float]] = {}
    traced: dict[str, list[float]] = {}
    per_query: dict[str, dict] = {}
    windows: list[tuple[str, int]] = []  # (query traced first, or "", start)
    t0, t0_ms, ops = time.perf_counter(), _now_ms(), 0
    # at least three passes, so that the median pass is one pass's time
    # and a traced run traces each query in one pass and not in another
    passes = b.units(QUERY_PASS_S, least=3)
    for p in range(passes):
        pass_ms = 0.0
        for q in (TIMED[i] for i in rng.permutation(len(TIMED))):
            # a traced run traces each query in every other pass, half of
            # them from the first pass and half from the second, so the
            # warming of later passes does not bias trace.overhead_pct
            if tr is not None and (TIMED.index(q) + p) % 2 == 1:
                first = q not in per_query
                windows.append((q if first else "", _now_ms()))
                rec = _traced_query(tr, q, p, lambda: reg[q].fn(spark, data_dir),
                                    headline_bench.materialize, first=first)
                traced.setdefault(q, []).append(rec.pop("query_ms"))
                rec.pop("_out")
                if first:
                    per_query[q] = rec
            else:
                windows.append(("", _now_ms()))
                ts = time.perf_counter()
                headline_bench.materialize(reg[q].fn(spark, data_dir))
                ms = (time.perf_counter() - ts) * 1e3
                untraced.setdefault(q, []).append(ms)
                pass_ms += ms
            ops += 1
        if tr is None:
            res.latencies_ms.append(pass_ms)
    res.loop_window = (t0_ms, _now_ms(), ops)
    res.detail["loop_s"] = (t0 - b.t_process, time.perf_counter() - b.t_process)
    windows.append(("", res.loop_window[1]))
    _jvm_layers(res, spark, jvm0, ops)
    res.samples = {"queries": ops, "passes": passes}
    if tr is None:
        res.detail["query_ms"] = {q: statistics.median(v) for q, v in untraced.items()}
        res.detail["group_pass_s"] = {
            g: statistics.median(
                sum(untraced[q][i] for q in qs if q in TIMED) / 1e3 for i in range(passes))
            for g, qs in GROUPS.items() if set(qs) & set(TIMED)
        }
        return res
    res.layers["trace.overhead_pct"] = _overhead_pct(untraced, traced)
    _driver_layers(res, [s for s in tr.spans if s.name.startswith("query.")])
    # the other headline queries, traced once each after the loop,
    # collected rather than sent to the noop sink, and checked against
    # their oracles
    for q in TRACED_ONLY:
        windows.append((q, _now_ms()))
        rec = _traced_query(tr, q, passes, lambda: reg[q].fn(spark, data_dir),
                            lambda df: df.toPandas(), first=True)
        rec.pop("query_ms")
        per_query[q] = rec
        windows.append(("", _now_ms()))
        with tr.py4j.pause():
            _oracle_check(res, reg[q], rec.pop("_out"), data_dir)
    # the production dedup composition (ROADMAP direction 5), traced once
    # after the loop: its own layer record, and the LSH and verify counts
    # on the stripped corpus it uses
    from hive_plan_service_spark.plans.llm_ops import dedup_clusters_production

    windows.append(("dedup", _now_ms()))
    rec = _traced_query(tr, "dedup", passes, lambda: dedup_clusters_production(spark, data_dir),
                        lambda df: df.collect(), first=True)
    res.check(len(rec.pop("_out")) > 0, "dedup composition returned no rows")
    rec.pop("query_ms")
    per_query["dedup"] = rec
    res.query_windows = (windows, _now_ms())
    res.detail["per_query"] = per_query
    with tr.py4j.pause():
        res.layers.update(_dedup_counts(spark, data_dir))
    return res


def _dedup_counts(spark, corpus_dir: str) -> dict:
    """LSH candidates and verified pairs on the stripped corpus the
    composition uses, with the composition's own parameters."""
    from pyspark.sql import functions as F

    from hive_plan_service_spark.operators import dedup as dd
    from hive_plan_service_spark.plans.curation_ops import llm_boilerplate_strip

    stripped = (
        llm_boilerplate_strip(spark, corpus_dir)
        .filter(F.length("clean_text") > 0)
        .select("doc_id", F.col("clean_text").alias("text"))
        .localCheckpoint(eager=True)
    )
    cands = dd.minhash_lsh_pairs(
        stripped, num_hashes=64, bands=32, est_threshold=0.0, max_bucket=64
    ).localCheckpoint(eager=True)
    n_cands = cands.count()
    n_verified = dd.jaccard_verify_pairs(stripped, cands, threshold=0.5).count()
    return {
        "dedup.lsh_candidates": n_cands,
        "dedup.verified_pairs": n_verified,
        "dedup.verify_yield": n_verified / n_cands if n_cands else 0.0,
    }


WORKLOADS = {"service_mix": service_mix, "query_batch": query_batch}
