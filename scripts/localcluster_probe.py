"""local-cluster certification: separate executor JVMs (r6 VERDICT #1).

Every gate before round 7 ran ``local[N]`` — driver == executor in ONE
JVM, so closure pickling crossed no process boundary, broadcasts never
hit the transport, and executor-side memory accounting read the
driver's heap. ``local-cluster[2,8,4096]`` is Spark's pseudo-cluster
test mode: a real standalone master + 2 workers in the driver JVM, but
EXECUTORS AS SEPARATE JVMs (3 GiB heap each here) with real
closure/broadcast serialization, remote python workers, and
executor-side Arrow/parquet buffer sizing — the cheapest available
proxy for the 1000-executor deployment.

What it certifies:

1. **All 50 canonical registry slots** pass the driver's DuckDB
   value-hash gate (``tests.parity.check_query``) at sf0.01 under
   local-cluster — the driver_sim gate, re-run across JVM boundaries.
2. **The production extbench shapes are ROW-IDENTICAL across modes**:
   the capped dedup composition, the np-twin PQ/IVF index builds
   (whose codebook/centroid artifacts ship inside stage closures — the
   named closure-capture risk), streaming dedup ingest, and the
   stateful counter are fingerprinted (order-insensitive xxhash64
   moments) under plain ``local[16]`` and under the pseudo-cluster,
   and the fingerprints must match exactly.

Layout quirks handled here (both verified empirically):
- ``sc.defaultParallelism`` in local-cluster counts only REGISTERED
  executor cores — 2 until the first executors come up. A warm-up
  barrier job runs before anything reads it.
- Standalone executors take ALL worker cores but ``spark.executor.cores``
  defaults unset; the heap ratchets (session.heap_scaled_rows,
  writers.safe_parquet_block_bytes) size per-task buffers from it, so
  the probe sets it explicitly — exactly what a real deployment does.

The session, sweep, fingerprint, replication and phase plumbing are
``probekit``'s; execloss (scripts/executor_loss_probe.py) reuses this
module's session, fixtures and shapes on its own topology.

Usage: python scripts/localcluster_probe.py            (orchestrates)
       ... --collect {local,localcluster} --out F.json (one phase)
Exit 0 iff 50/50 canonical OK under local-cluster AND every shape
fingerprint matches the plain-local run.
"""
from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import time

import probekit
from probekit import REPO_ROOT, fingerprint

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CANON_SF_DIR = "/root/testdata/sf0.01"
DOCS_MULT = 2
EMB_MULT = 10
LC_MASTER = "local-cluster[2,8,4096]"


def cluster_shape(master: str) -> tuple[int, int, int]:
    """(workers, cores per worker, MiB per worker) of a local-cluster master."""
    m = re.fullmatch(r"local-cluster\[(\d+),(\d+),(\d+)\]", master)
    assert m, f"master must be local-cluster[w,c,mb]: {master}"
    return tuple(int(g) for g in m.groups())


def _scratch() -> str:
    """Probe-run scratch SHARED between the driver process and its phase
    SUBPROCESSES (fixtures written by the local phase are read by the
    localcluster phase): the parent creates a mkdtemp and hands it down
    via LC_PROBE_SCRATCH; a bare PID-keyed dir would diverge per phase
    AND be atexit-reclaimed when the writing phase exits (the r8
    conversion regression this replaces — cross-process isolation still
    holds because the mkdtemp name is unique per probe run)."""
    d = os.environ.get("LC_PROBE_SCRATCH")
    if not d:
        import tempfile

        from hive_plan_service_spark.session import scratch_root

        d = tempfile.mkdtemp(prefix="lc_probe_", dir=scratch_root())
        os.environ["LC_PROBE_SCRATCH"] = d
    os.makedirs(d, exist_ok=True)
    return d


def build_session(mode: str, master: str = LC_MASTER):
    """``local[workers × cores]`` for the plain-local twin, else the
    pseudo-cluster ``master`` with its executors registered."""
    workers, cores, worker_mb = cluster_shape(master)
    total = workers * cores
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    conf = {"spark.app.name": f"hpss-lc-probe-{mode}",
            "spark.ui.enabled": "false"}
    if mode != "localcluster":
        return probekit.plain_session(f"local[{total}]", conf)
    spark = probekit.plain_session(master, {
        **conf,
        # worker memory minus 1 GiB daemon headroom, ≥1 GiB
        "spark.executor.memory": f"{max(1024, worker_mb - 1024)}m",
        # standalone executors take all worker cores; the heap ratchets
        # size per-task buffers from this conf
        "spark.executor.cores": str(cores),
        # remote python workers must import the engine package
        "spark.executorEnv.PYTHONPATH": REPO_ROOT,
    })
    # barrier: wait for every executor to register so nothing reads a
    # 2-core defaultParallelism (observed before registration)
    sc = spark.sparkContext
    deadline = time.time() + 60
    while time.time() < deadline:
        sc.parallelize(range(32), 32).count()
        if sc.defaultParallelism >= total:
            break
        time.sleep(1)
    assert sc.defaultParallelism >= total, (
        f"executors never registered: defaultParallelism="
        f"{sc.defaultParallelism}"
    )
    return spark


def fixture_paths() -> tuple[str, str]:
    root = _scratch()
    return (os.path.join(root, f"docs_{DOCS_MULT}x"),
            os.path.join(root, f"emb_{EMB_MULT}x"))


def build_fixtures(spark) -> tuple[str, str]:
    """Multiplied distinct-content corpora (invariant 23), materialized
    once by the first phase and read by both phases."""
    from hive_plan_service_spark.sources.catalog import register_tables
    from hive_plan_service_spark.sources.writers import write_parquet_heap_safe

    register_tables(spark, SF_DIR)
    docs_path, emb_path = fixture_paths()
    parts = spark.sparkContext.defaultParallelism
    probekit.mult_docs(spark, DOCS_MULT).repartition(parts).write.mode(
        "overwrite").parquet(docs_path)
    write_parquet_heap_safe(
        probekit.mult_embeddings(spark, EMB_MULT).repartition(parts), emb_path)
    return docs_path, emb_path


def shape_runs(spark, docs_path: str, emb_path: str) -> list:
    """The production shapes, as (label, fn) pairs: each fn returns
    ``{shape: fingerprint}`` and ``label`` is the entry that carries
    the fn's wall time."""
    from hive_plan_service_spark.plans.llm_ops import dedup_clusters_production
    from hive_plan_service_spark.plans.registry import all_queries
    from hive_plan_service_spark.sources.catalog import register_tables

    def dedup() -> dict:
        spark.read.parquet(docs_path).createOrReplaceTempView("documents")
        try:
            return {"dedup_clusters_capped": fingerprint(
                dedup_clusters_production(spark, SF_DIR))}
        finally:
            register_tables(spark, SF_DIR, force=True)

    qs = all_queries()

    def query(name: str, key: str):
        return lambda: {key: fingerprint(qs[name].fn(spark, SF_DIR))}

    return [
        ("dedup_clusters_capped", dedup),
        ("pq_encode_np", lambda: probekit.pq_shapes(
            spark.read.parquet(emb_path), codes=16, max_iter=3)),
        ("ivf_assign_np", lambda: probekit.ivf_shapes(
            spark.read.parquet(emb_path), k=16, iters=3)),
        ("stream_dedup_ingest",
         query("b27_stream_dedup_ingest", "stream_dedup_ingest")),
        ("stateful_counter",
         query("b24_stateful_counter_applyinpandas", "stateful_counter")),
    ]


def collect_phase(mode: str, out_path: str) -> None:
    from hive_plan_service_spark.sources.catalog import register_tables

    spark = build_session(mode)
    result: dict = {"mode": mode, "master": spark.sparkContext.master}
    if mode == "local":
        docs_path, emb_path = build_fixtures(spark)
    else:
        register_tables(spark, SF_DIR)
        docs_path, emb_path = fixture_paths()

    shapes: dict = {}
    for label, fn in shape_runs(spark, docs_path, emb_path):
        t0 = time.time()
        out = fn()
        out[label]["wall_s"] = round(time.time() - t0, 1)
        shapes.update(out)
    result["shapes"] = shapes
    if mode == "localcluster":
        # the driver's t2 gate, across JVM boundaries
        result["canonical"] = probekit.canonical_sweep(spark, CANON_SF_DIR)
    spark.stop()
    with open(out_path, "w") as f:
        json.dump(result, f)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--collect", choices=["local", "localcluster"])
    ap.add_argument("--out")
    args = ap.parse_args()
    if args.collect:
        collect_phase(args.collect, args.out)
        return

    root = _scratch()
    try:
        # local first: builds the fixtures
        local, lc = [
            probekit.run_phase(__file__, m, os.path.join(root, f"phase_{m}.json"))
            for m in ("local", "localcluster")
        ]
        mismatches = probekit.shape_mismatches(
            local["shapes"], lc["shapes"], "local", "localcluster")
        canon = lc["canonical"]
        probekit.finish({
            "ok": not mismatches and canon["ok"] == canon["total"],
            "canonical_ok": canon["ok"],
            "canonical_total": canon["total"],
            "canonical_wall_s": canon["wall_s"],
            "shape_fingerprints_match": not mismatches,
            "mismatches": mismatches,
            "shapes_local_wall_s": probekit.shape_walls(local["shapes"]),
            "shapes_lc_wall_s": probekit.shape_walls(lc["shapes"]),
            "docs_mult": DOCS_MULT,
            "emb_mult": EMB_MULT,
        })
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
