"""The traced run's instruments, all attached from outside the program.

* Spans (name, start, end, parent, request id) around each call the
  benchmark makes into a layer, kept in memory and written at the end.
* py4j commands, by wrapping the gateway client's ``send_command``.
* Spark jobs started, from ``statusTracker``.
* Streaming batches and ``durationMs.triggerExecution`` from a
  ``StreamingQueryListener``.
* Stage task time, shuffle and spill from the event log, parsed by
  ``scripts/attribution_probe.parse_stages``.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j import protocol
from pyspark.sql.streaming import StreamingQueryListener

_GC_COMMAND = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME


@dataclass
class Span:
    name: str
    start: float  # perf_counter seconds
    end: float = 0.0
    parent: int | None = None
    request: int | None = None
    t0_ms: int = 0  # wall-clock start, to window the event log
    t1_ms: int = 0
    py4j: int = 0
    jobs: int = 0
    extra: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Py4jCounter:
    """Counts commands sent over the py4j gateway.

    Installed once per process on the gateway client object that every
    JavaObject shares; the counter survives session restarts because the
    gateway does.
    """

    def __init__(self) -> None:
        self.commands = 0
        self.paused = False
        self._client = None

    def install(self, spark) -> None:
        client = spark.sparkContext._gateway._gateway_client
        if self._client is client:
            return
        send = client.send_command
        caller = threading.get_ident()

        def counted(command, *args, **kwargs):
            # Only the benchmark's own thread counts: listener callbacks
            # send commands from py4j's callback threads whenever their
            # events arrive. py4j also sends a command whenever Python
            # garbage-collects a JavaObject; when that happens is not
            # deterministic either, so those are not counted.
            if not (self.paused or command.startswith(_GC_COMMAND)
                    or threading.get_ident() != caller):
                self.commands += 1
            return send(command, *args, **kwargs)

        client.send_command = counted
        self._client = client

    @contextmanager
    def pause(self):
        self.paused = True
        try:
            yield
        finally:
            self.paused = False


class _StreamListener(StreamingQueryListener):
    """Progress per streaming query, attributed to the benchmark span
    that was open when the query started (``onQueryStarted`` runs
    synchronously inside ``start()``)."""

    def __init__(self, tracer: "Tracer") -> None:
        self._tracer = tracer
        self._owner: dict[str, str] = {}
        self._lock = threading.Lock()
        self.batches: dict[str, int] = {}
        self.trigger_ms: dict[str, float] = {}

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self._owner[str(event.id)] = self._tracer.current_query or "?"

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            q = self._owner.get(str(p.id), "?")
            self.batches[q] = self.batches.get(q, 0) + 1
            self.trigger_ms[q] = self.trigger_ms.get(q, 0.0) + float(
                p.durationMs.get("triggerExecution", 0)
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.py4j = Py4jCounter()
        self.current_query: str | None = None
        self.listener: _StreamListener | None = None
        self._spark = None

    def attach(self, spark) -> None:
        self._spark = spark
        self.py4j.install(spark)

    def attach_listener(self) -> None:
        with self.py4j.pause():
            self.listener = _StreamListener(self)
            self._spark.streams.addListener(self.listener)

    def _job_ids(self) -> set[int]:
        with self.py4j.pause():
            return set(self._spark.sparkContext.statusTracker().getJobIdsForGroup())

    @contextmanager
    def span(self, name: str, request: int | None = None, *, jobs: bool = False):
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent].request
        before = self._job_ids() if jobs else None
        s = Span(name, 0.0, parent=parent, request=request,
                 t0_ms=int(time.time() * 1000))
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        c0 = self.py4j.commands
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.t1_ms = int(time.time() * 1000) + 1
            s.py4j = self.py4j.commands - c0
            self._stack.pop()
            if before is not None:
                s.jobs = len(self._job_ids() - before)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        out = [
            {"id": i, "name": s.name, "start": round(s.start, 6), "end": round(s.end, 6),
             "parent": s.parent, "request": s.request, "py4j": s.py4j,
             "jobs": s.jobs, **s.extra}
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as f:
            json.dump(out, f)


def plan_census(df) -> tuple[float, int]:
    """(analysis + optimization + planning ms, exchange count) of ``df``.

    Forces the DataFrame's own physical plan (the sink re-plans its write
    command, so this is one planning of the same query) and reads the
    phase times from ``queryExecution().tracker()``. Exchanges are the
    shuffle and broadcast exchanges of the initial physical plan; reused
    exchanges are not counted.
    """
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    phases = qe.tracker().phases()
    ms = 0.0
    it = phases.keySet().iterator()
    while it.hasNext():
        ms += float(phases.apply(it.next()).durationMs())
    exchanges = sum(
        1 for line in plan.splitlines()
        if "Exchange" in line and "ReusedExchange" not in line
    )
    return ms, exchanges


def stage_windows(log_dir: str, windows: list[tuple[str, int]], end_ms: int) -> dict[str, dict]:
    """Stage totals per window from the event log.

    ``windows`` are (name, start_ms) in time order, the last one ending
    at ``end_ms``; a window with an empty name only bounds its
    neighbours. A stage belongs to the window its submission time falls
    in.
    """
    from scripts.attribution_probe import parse_stages

    submitted, spill = _scan_stages(log_dir)
    stages = parse_stages(log_dir, windows[0][1])
    ends = [t for _, t in windows[1:]] + [end_ms]
    out: dict[str, dict] = {}
    for (name, t0), t1 in zip(windows, ends):
        if not name:
            continue
        mine = [s for s in stages if t0 <= submitted[s["stage"]] < t1]
        ratios = [s["max_over_median"] for s in mine if s.get("max_over_median")]
        out[name] = {
            "stages": len(mine),
            "task_s": sum(s["task_time_s"] for s in mine),
            "shuffle_mb": sum(s["shuf_write_mb"] for s in mine),
            "spill_mb": sum(spill.get(s["stage"], 0.0) for s in mine),
            "max_over_median": max(ratios, default=0.0),
        }
    return out


def _scan_stages(log_dir: str) -> tuple[dict[int, int], dict[int, float]]:
    """Submission time (ms) of each completed stage, and the memory plus
    disk bytes each stage spilled, in MB; ``parse_stages`` reports
    neither."""
    submitted: dict[int, int] = {}
    spill: dict[int, float] = {}
    for root, _, files in os.walk(log_dir):
        for name in files:
            if name.endswith(".inprogress"):
                continue
            with open(os.path.join(root, name), errors="replace") as f:
                for line in f:
                    if '"SparkListenerStageCompleted"' in line:
                        si = json.loads(line)["Stage Info"]
                        submitted[si["Stage ID"]] = si.get("Submission Time", 0)
                    elif '"SparkListenerTaskEnd"' in line and "Spilled" in line:
                        ev = json.loads(line)
                        tm = ev.get("Task Metrics") or {}
                        b = tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                        sid = ev.get("Stage ID")
                        spill[sid] = spill.get(sid, 0.0) + b / 1024**2
    return submitted, spill
