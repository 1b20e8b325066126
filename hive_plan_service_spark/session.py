"""SparkSession construction and runtime tuning.

The engine targets a 1000-executor cluster at 100 TB; locally it runs in
``local[N]`` mode. Everything that must hold in both worlds (AQE, ANSI,
UTC timestamps, sane shuffle parallelism) is set here. ``tune`` applies
the runtime-settable subset to an *externally created* session (the
driver hands us one), so query results are environment-independent.
"""

from __future__ import annotations

import atexit
import os
import re
import weakref

from pyspark.sql import SparkSession

APP_NAME = "hive-plan-service-spark"

#: Conf that can be changed on a live session (spark.conf.set).
_RUNTIME_CONF: dict[str, str] = {
    # Timestamps must be session-TZ-independent: the DuckDB oracle treats
    # parquet timestamps as UTC-naive, so the engine pins UTC.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime partition coalescing, skew-join splitting, join-strategy
    # switching — the 100 TB insurance policy.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE can only COALESCE reduce partitions, never split them — a
    # static shuffle.partitions that is right for small stages is a
    # spill cliff for big ones (r7 measured knee, ROUND7_NOTES §20:
    # the 2M-doc dedup window sorted 43 GB through 32 partitions at
    # 2,627 docs/s; 128 partitions restored the 1M rate, 3,740).
    # Start every exchange high and let AQE coalesce down by bytes:
    # small stages land on the same few tasks as before (advisory
    # 64 MB), CPU/byte-heavy stages keep the width they need. Sort
    # shuffle writes one file per map task regardless, so the high
    # initial count costs only index entries.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "256",
    # Arrow for any pandas-UDF / toPandas edge.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Small dims (region/nation/supplier/plans) must broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    # The events fixture stores TIMESTAMP(NANOS) parquet, which Spark has
    # no native type for: read as LongType nanos, converted (losslessly —
    # the fixture is µs-aligned) to TimestampType in the catalog.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Rank-filter top-k LOSES its partial WindowGroupLimit when k exceeds
    # this threshold (invariant 20) — and pq_topk_refined's production
    # shortlist sizing (max(20·k, corpus/1000)) legitimately passes 1000
    # on multi-million-row corpora. Raising the threshold only ADDS
    # partial limits (per-task top-k buffers of ≤8192 rows per group —
    # trivial memory); it never removes one. Plan-pinned by
    # tests/test_plans.py::test_pq_topk_wide_shortlist_keeps_window_group_limit.
    "spark.sql.optimizer.windowGroupLimitThreshold": "8192",
    # PySpark 4's DataFrame debugging decorates EVERY Python DataFrame/
    # Column API call with call-site capture: ≥4 extra py4j round trips
    # per call (getattr PySparkCurrentOrigin + conf.get + set + clear).
    # Driver-side query CONSTRUCTION is a real per-invocation cost the
    # wide sketch plans pay heavily — measured r12 (interleaved A/B,
    # same session): b27_dedup_minhash_lsh builds in 0.513 s vs 0.817 s,
    # llm_corpus_clean_pipeline 0.746 vs 0.955 — for error messages
    # that merely gain a Python line number. Data-scale-independent
    # (pure driver latency), so it holds on any cluster; overridable
    # via SPARK_GRAFT_CONF_OVERRIDES like all runtime conf. tune()
    # below re-resolves PySpark's process-global cache of this flag.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


#: Minimum free bytes a tmpfs candidate must offer before we put shuffle
#: spill on it. tmpfs competes with executor memory for the same RAM: a
#: small /dev/shm (default = half RAM, but containers often shrink it)
#: filling up surfaces as mid-query "No space left on device". 8 GiB
#: covers sf0.1 spill many times over; larger local probes should set
#: SPARK_GRAFT_SCRATCH to a disk path explicitly.
_TMPFS_MIN_FREE_BYTES = 8 * 1024**3


def _free_bytes(path: str) -> int:
    try:
        st = os.statvfs(path)
        return st.f_bavail * st.f_frsize
    except OSError:
        return 0


def scratch_root() -> str:
    """Local scratch root for shuffle spill, streaming checkpoints and
    ephemeral demo stores. Prefers tmpfs (``/dev/shm``): all of this
    traffic is per-run ephemeral, and RAM-backed I/O keeps the virtio
    disk out of the measured path on the single-node harness. On a real
    cluster the same knob is ``spark.local.dir`` pointed at fast local
    NVMe — durable state (real sinks, long-lived stores) always takes an
    explicit path instead of this.

    Guard rails: an un-forced tmpfs candidate is skipped (with a
    warning) when its free space is under ``_TMPFS_MIN_FREE_BYTES`` —
    tmpfs shares the RAM budget with the executors and filling it kills
    queries mid-shuffle. The final fallback builds the same
    ``hpss_scratch/jvmtmp`` layout under the system tempdir, because
    ``get_spark`` points ``java.io.tmpdir`` at ``<root>/jvmtmp``
    unconditionally and the JVM never creates its own tmpdir.
    """
    import tempfile
    import warnings

    explicit = os.environ.get("SPARK_GRAFT_SCRATCH")
    for cand, forced in ((explicit, True), ("/dev/shm", False)):
        if not (cand and os.path.isdir(cand) and os.access(cand, os.W_OK)):
            continue
        if not forced and _free_bytes(cand) < _TMPFS_MIN_FREE_BYTES:
            warnings.warn(
                f"scratch candidate {cand} has < "
                f"{_TMPFS_MIN_FREE_BYTES >> 30} GiB free; falling back to "
                "the system tempdir (set SPARK_GRAFT_SCRATCH to override)",
                stacklevel=2,
            )
            continue
        d = os.path.join(cand, "hpss_scratch")
        try:
            os.makedirs(os.path.join(d, "jvmtmp"), exist_ok=True)
            return d
        except OSError:
            continue
    d = os.path.join(tempfile.gettempdir(), "hpss_scratch")
    os.makedirs(os.path.join(d, "jvmtmp"), exist_ok=True)
    return d


def process_scratch_dir(name: str) -> str:
    """A named scratch subdirectory that is STABLE within this process
    but ISOLATED across processes (``<scratch_root>/<name>_pid<pid>``).

    ``scratch_root()`` itself is machine-shared (``/dev/shm``): two
    suites running side by side see the same path. Any fixed-name
    subdir written with ``mode("overwrite")`` therefore races across
    processes — one run's committer deletes files (or the whole temp
    dir) while the other's read job has already listed them, yielding
    FAILED_READ_FILE.FILE_NOT_EXIST / UNABLE_TO_INFER_SCHEMA /
    TASK_WRITE_FAILED. This was the r7 "transient 49/50" class: a
    deliberate two-process repro hit 25 failures in 25 iterations on
    the fixed paths, zero after PID-keying. Within one process the
    name stays stable, so repeated calls still exercise true
    overwrite-in-place semantics; concurrent sessions in one JVM are
    serialized per query name by the registry's one-slot-per-name
    design. Ephemeral per-call dirs (streaming feeds, API stores)
    should keep using ``mkdtemp(dir=scratch_root())`` instead.

    Reclamation (r8, per ADVICE): scratch_root() is RAM-backed tmpfs
    shared with executor memory, so leaked dirs erode the heap budget
    across gate runs. Two mechanisms, both bounded: (a) every dir this
    process creates is registered for atexit rmtree; (b) the FIRST call
    per process sweeps sibling ``*_pid<N>`` dirs whose owning PID is no
    longer alive (covers SIGKILLed probes, where atexit never ran).
    The sweep only matches the exact pid-suffix pattern, never touches
    live-PID dirs, and ignores races (another sweeper may win).
    """
    root = scratch_root()
    _sweep_dead_pid_dirs(root)
    d = os.path.join(root, f"{name}_pid{os.getpid()}")
    os.makedirs(d, exist_ok=True)
    _PROCESS_SCRATCH_DIRS.add((os.getpid(), d))
    return d


_PROCESS_SCRATCH_DIRS: set = set()
_SWEPT_ROOTS: set = set()
_PID_DIR_RE = re.compile(r"_pid(\d+)$")


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else — leave it alone
    except OSError:
        return True  # unknown — err on the side of not deleting


def _sweep_dead_pid_dirs(root: str) -> None:
    """Remove sibling ``<name>_pid<N>`` dirs whose PID is dead. Runs at
    most once per root per process; rmtree races with a concurrent
    sweeper are benign (ignore_errors)."""
    if root in _SWEPT_ROOTS:
        return
    _SWEPT_ROOTS.add(root)
    import shutil

    try:
        entries = os.listdir(root)
    except OSError:
        return
    for entry in entries:
        m = _PID_DIR_RE.search(entry)
        if not m or _pid_alive(int(m.group(1))):
            continue
        shutil.rmtree(os.path.join(root, entry), ignore_errors=True)


@atexit.register
def _cleanup_process_scratch() -> None:
    """rmtree every process_scratch_dir this process created; tmpfs is
    a shared RAM budget (see process_scratch_dir docstring). PID-guarded
    (r9, ADVICE): the registry is inherited across fork(), and a forked
    child's atexit must not rmtree the still-live parent's dirs — only
    entries whose creating PID is this process are reclaimed."""
    import shutil

    me = os.getpid()
    for pid, d in _PROCESS_SCRATCH_DIRS:
        if pid == me:
            shutil.rmtree(d, ignore_errors=True)


def shuffle_partitions() -> int:
    """Shuffle partition count: ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` if
    set (a real cluster runs 200–2000; the r6 sweep certifies plans and
    oracles at 64/256/1024), else the local-core default."""
    explicit = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if explicit:
        return max(8, int(explicit))
    return max(8, default_parallelism())


def heap_scaled_rows(
    spark: SparkSession,
    row_bytes: int,
    *,
    budget_fraction: float = 0.05,
    floor: int = 256,
    cap: int = 10_000,
) -> int:
    """Rows-per-buffer such that all concurrent tasks' per-task buffers
    fit ``budget_fraction`` of the JVM heap (invariant 27's sizing rule
    for UNMANAGED buffers — they cannot spill). Used for Arrow batches
    and the columnar cache builder (:func:`apply_wide_row_conf`,
    operators/kmeans.py); parquet writer row groups use the byte-level
    twin ``sources/writers.safe_parquet_block_bytes``."""
    from hive_plan_service_spark.sources.writers import task_heap

    heap, cores = task_heap(spark)
    rows = int(heap * budget_fraction / max(1, cores) / max(1, row_bytes))
    # G1 humongous guard: a single buffer at or above half a G1 region
    # (region = clamp(heap/2048, 1 MiB, 32 MiB)) is a "humongous"
    # allocation, which needs contiguous regions and fails under
    # GCLocker pressure (snappy/Arrow JNI critical sections) long
    # before the heap is actually full — the r6 certification's OOMs
    # were all multi-MiB buffer allocations on a heap with free space.
    region = max(1 << 20, min(32 << 20, heap // 2048))
    rows = min(rows, (region // 2) // max(1, row_bytes))
    return max(floor, min(cap, rows))


def apply_wide_row_conf(spark: SparkSession, row_bytes: int) -> dict:
    """Ratchet the per-task UNMANAGED row-buffer sizes DOWN (never
    up) to the heap-safe value for ``row_bytes``-wide rows.

    Invariant 27: neither buffer is Spark execution memory, so neither
    can spill — they must be sized from heap and task concurrency.

    * ``spark.sql.execution.arrow.maxRecordsPerBatch`` — Arrow transfer
      batches for Pandas-UDF stages (JNI-pinned; the r6 spill
      certification's GCLocker OOM at 4 GiB: 32 tasks × ~30 MB batches
      of 768 floats).
    * ``spark.sql.inMemoryColumnarStorage.batchSize`` — the columnar
      cache builder behind ``persist()`` grows plain ByteBuffers per
      column per in-flight batch (``ColumnBuilder.ensureFreeSpace``,
      the r6 certification's second OOM, in the kmeans training cache).
    * ``spark.sql.parquet.columnarReaderBatchSize`` — the vectorized
      parquet reader materializes a ColumnarBatch per in-flight scan
      task (the certification's third OOM site, reading the wide
      corpus back under snappy's GC-critical JNI sections).

    Sticky on the session by design: lazy DataFrames returned by the
    wide operators read the conf at ACTION time, so a scoped
    set-and-restore would silently revert before execution. Ratcheting
    down only means a user's explicit lower setting is always honored,
    and on production-sized heaps the computed value is the default
    10,000 — a no-op. Returns the effective values for probes/tests.
    """
    out = {}
    for key, cap in (
        ("spark.sql.execution.arrow.maxRecordsPerBatch", 10_000),
        ("spark.sql.inMemoryColumnarStorage.batchSize", 10_000),
        # the vectorized parquet reader's ColumnarBatch is the same
        # unmanaged per-task class (default 4096 rows — ~12 MB per
        # in-flight task at 768 float dims)
        ("spark.sql.parquet.columnarReaderBatchSize", 4_096),
    ):
        safe = heap_scaled_rows(spark, row_bytes, cap=cap)
        cur = int(spark.conf.get(key))
        if safe < cur:
            spark.conf.set(key, str(safe))
        out[key] = min(safe, cur)
    return out


def conf_overrides() -> dict[str, str]:
    """Probe hook: ``SPARK_GRAFT_CONF_OVERRIDES="k=v;k=v"`` wins over
    ``_RUNTIME_CONF`` on EVERY full ``tune()`` application. The
    plan-variance gates (run_gates ``aqeoff`` / ``nobroadcast``) re-run
    the full canonical oracle sweep under a different physical-plan
    regime through this hook, which is part of the memo token: changing
    it re-tunes in full.

    A bare ``spark.conf.set`` of a tune-managed key is NOT reset by the
    internal ``tune()`` calls (register_tables, streaming sources): a
    session already tuned under the same token skips re-application, so
    the out-of-band value persists until ``tune(spark, force=True)``
    (pinned by tests/test_session_scratch.py). Entry points that must
    start from the engine conf force-tune once after building the
    session, as scripts/driver_sim.py does."""
    raw = os.environ.get("SPARK_GRAFT_CONF_OVERRIDES", "")
    out: dict[str, str] = {}
    for kv in raw.split(";"):
        if kv.strip():
            k, _, v = kv.partition("=")
            out[k.strip()] = v.strip()
    return out


#: tune() memo: session -> the override-env token its conf was applied
#: under. tune() runs on EVERY query construction (register_tables,
#: streaming sources, foreachBatch refreshes) and its ~12 conf.set round
#: trips cost ~40 ms per invocation at observed py4j latency (r13
#: cProfile: 75 ms of each b04 construction was tune+register_tables).
#: Re-applying identical values is a no-op semantically, so a session
#: already tuned under the SAME override token skips straight out; any
#: change to SPARK_GRAFT_CONF_OVERRIDES (or a new session) re-tunes in
#: full, preserving the invariance-gate contract that overrides win on
#: every application. WeakKeyDictionary: dropped sessions don't leak.
_TUNE_TOKENS: "weakref.WeakKeyDictionary[SparkSession, str]" = (
    weakref.WeakKeyDictionary()
)


def _tune_token() -> str:
    return os.environ.get("SPARK_GRAFT_CONF_OVERRIDES", "") + "\x00" + str(
        shuffle_partitions()
    )


def tune(spark: SparkSession, *, force: bool = False) -> SparkSession:
    """Apply runtime conf to a session we did not necessarily build."""
    # Always (memo or not): clear PySpark's process-global cache of the
    # dataFrameDebugging flag — pure Python, no round trip; a poisoned
    # cache (Columns built before the first tune) must never survive a
    # tune() call (tests/test_debugging_conf_pin.py).
    try:
        import pyspark.errors.utils as _eu

        _eu._enable_debugging_cache = None
    except Exception:
        pass
    token = _tune_token()
    if not force:
        try:
            if _TUNE_TOKENS.get(spark) == token:
                return spark
        except TypeError:
            pass  # unhashable/weakref-less session stub: tune in full
    # Pin the JVM default locale: Spark's upper/lower/initcap take an
    # ASCII fast path but fall back to String.toUpperCase(Locale
    # .getDefault()) the moment a value contains ANY non-ASCII char —
    # under a tr_TR JVM, upper('combining ȧ') = 'COMBİNİNG Ȧ' (dotted
    # capital İ; r7 locale gate find #2). Locale.setDefault is
    # process-global, so this covers the driver (where constant folding
    # evaluates expressions too) and every local-mode executor thread.
    # Real-cluster executor JVMs are separate processes py4j cannot
    # reach: deployments must mirror this with
    # spark.executor.extraJavaOptions=-Duser.language=en (static conf,
    # not retrofittable here) — certified by the run_gates `locale` row.
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.util.Locale.setDefault(jvm.java.util.Locale.ROOT)
    except Exception:
        pass  # Spark Connect: no gateway — executor-side pin is deploy conf
    for k, v in {**_RUNTIME_CONF, **conf_overrides()}.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime conf on some builds: keep going
    try:
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            conf_overrides().get(
                "spark.sql.shuffle.partitions", str(shuffle_partitions())
            ),
        )
    except Exception:
        pass
    # (the dataFrameDebugging cache reset happens unconditionally at the
    # top of tune() — see the memo note)
    try:
        _TUNE_TOKENS[spark] = token
    except TypeError:
        pass
    return spark


def get_spark(
    app_name: str = APP_NAME,
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build the engine session. ``extra_conf`` lets probes add
    build-time conf (event logging, memory limits) without duplicating
    the scratch/conf plumbing — applied LAST, so it can override."""
    n = cpus or default_parallelism()
    scratch = scratch_root()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions()))
        # shuffle/spill block files on tmpfs (cluster: local NVMe)
        .config("spark.local.dir", os.path.join(scratch, "local"))
        # temporary streaming checkpoints (memory-sink runs) come from
        # java.io.tmpdir — route them through the same scratch root
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={os.path.join(scratch, 'jvmtmp')}",
        )
        # keep saveAsTable (bucketing) artifacts out of the repo cwd
        .config("spark.sql.warehouse.dir", os.path.join(scratch, "warehouse"))
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
