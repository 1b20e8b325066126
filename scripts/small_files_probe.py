"""Many-small-files ingest certification.

At 100 TB the corpus rarely arrives as neat 128 MiB parquet: streaming
ingest, per-hour partitions, and object-store writers produce millions
of KB-scale files. Spark's defense is file PACKING — the scan groups
files into splits of `spark.sql.files.maxPartitionBytes` using
`openCostInBytes` (4 MiB) as the per-file padding — so task count must
stay bounded by data volume, not file count, and results must be
byte-identical to the monolithic layout.

This probe fragments the sf0.1 `documents` and `events` fixtures into
~N tiny files each (default 2,000), builds a scratch sf-dir (fragmented
tables + symlinks for the rest), and re-runs representative registered
queries against both layouts in separate subprocesses (clean event logs
→ exact task counts):

* `b29_text_quality` — plain scan+aggregate over documents;
* `b27_dedup_minhash_lsh` — the shingle/LSH pipeline (its `_spread`
  repartition must erase the fragmented layout, not inherit it);
* `b22_stream_tumbling_window` — the STREAMING file source over the
  same fragmented directory (availableNow).

The fragmented events copy is round-tripped through a Spark write, so
its `ts` column degrades from TIMESTAMP(NANOS) to plain BIGINT — the
probe therefore also exercises invariant 3's dtype-sniffing readers on
a layout the driver never generates.

PASS criteria encode a MEASURED engine asymmetry (pyspark 4.1.2):

* BATCH scans pack files into splits — the fragmented batch run must
  stay well under one task per file (and did: +187 tasks for 4,000
  files) with identical hashes and < 3× wall.
* STREAMING file-source scans do NOT pack: each micro-batch runs ONE
  TASK PER FILE regardless of `spark.sql.files.maxPartitionBytes` /
  `openCostInBytes` (verified: confs set to 1 GiB/0 changed nothing).
  The probe PINS this characteristic (≥ one task per file) so a Spark
  version that starts packing flips the check and we notice. The
  operational rule at 100 TB: bound streaming batch task counts with
  `maxFilesPerTrigger` and compact small files upstream — no conf
  exists to pack them at scan time.

Usage: python scripts/small_files_probe.py [--files 2000]
"""
from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

import probekit
from probekit import REPO_ROOT

BATCH_QUERIES = ("b29_text_quality", "b27_dedup_minhash_lsh")
STREAM_QUERIES = ("b22_stream_tumbling_window",)


def result_hash(df) -> tuple[int, str]:
    rows = sorted(map(tuple, df.collect()))
    h = hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
    return len(rows), h


def _run_layout(sf_dir: str, queries: tuple) -> None:
    """Inner subprocess: run queries against sf_dir, print one JSON row."""
    log_dir = tempfile.mkdtemp(prefix="smallfiles_log_")
    from hive_plan_service_spark.session import get_spark
    from hive_plan_service_spark.sources.catalog import register_tables
    from hive_plan_service_spark.plans.registry import all_queries

    spark = get_spark(
        app_name="hpss-small-files",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
        },
    )
    register_tables(spark, sf_dir)
    reg = all_queries()
    out: dict = {"sf_dir": sf_dir, "queries": {}}
    for name in queries:
        t0 = time.perf_counter()
        n, h = result_hash(reg[name].fn(spark, sf_dir))
        out["queries"][name] = {
            "wall_sec": round(time.perf_counter() - t0, 2),
            "rows": n,
            "hash": h,
        }
    spark.stop()
    out.update(probekit.parse_event_log(log_dir))
    shutil.rmtree(log_dir, ignore_errors=True)
    print(json.dumps(out), flush=True)


def fragment(src_sf: str, n_files: int) -> str:
    """Scratch sf-dir: documents+events fragmented, rest symlinked."""
    from hive_plan_service_spark.session import get_spark
    from hive_plan_service_spark.sources.catalog import TABLES

    work = tempfile.mkdtemp(prefix="small_files_sf_")
    spark = get_spark(app_name="hpss-small-files-fragment")
    for name in TABLES:
        src = os.path.join(src_sf, f"{name}.parquet")
        dst = os.path.join(work, f"{name}.parquet")
        if name in ("documents", "events"):
            spark.read.parquet(src).repartition(n_files).write.parquet(dst)
            made = len(glob.glob(os.path.join(dst, "part-*")))
            print(
                json.dumps({"fragmented": name, "files": made}), flush=True
            )
        else:
            os.symlink(src, dst)
    spark.stop()
    return work


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--files", type=int, default=2000)
    ap.add_argument("--layout", help=argparse.SUPPRESS)  # inner mode
    ap.add_argument("--qset", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.layout:
        _run_layout(
            args.layout,
            BATCH_QUERIES if args.qset == "batch" else STREAM_QUERIES,
        )
        return

    src_sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    frag_sf = fragment(src_sf, args.files)

    def run(sf_dir: str, qset: str) -> dict:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--layout", sf_dir, "--qset", qset],
            cwd=REPO_ROOT, text=True,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        )
        line = next(
            (ln for ln in reversed(proc.stdout.splitlines())
             if ln.startswith('{"sf_dir"')), None)
        if proc.returncode != 0 or line is None:
            print(proc.stdout[-2000:])
            raise SystemExit(f"layout run failed for {sf_dir}/{qset}")
        return json.loads(line)

    failures: list[str] = []

    def compare(qset: str, names: tuple) -> tuple[dict, dict]:
        mono, frag = run(src_sf, qset), run(frag_sf, qset)
        for name in names:
            m, f = mono["queries"][name], frag["queries"][name]
            same = (m["rows"], m["hash"]) == (f["rows"], f["hash"])
            ratio = round(f["wall_sec"] / max(m["wall_sec"], 1e-9), 2)
            if not same:
                failures.append(f"{name}: result diverged on fragmented layout")
            if ratio > 3.0:
                failures.append(f"{name}: fragmented {ratio}x slower (> 3x)")
            print(json.dumps({
                "query": name, "identical": same,
                "wall_mono": m["wall_sec"], "wall_frag": f["wall_sec"],
                "ratio": ratio,
            }), flush=True)
        return mono, frag

    bm, bf = compare("batch", BATCH_QUERIES)
    # batch scans PACK: far under one task per fragment file
    if bf["tasks"] > bm["tasks"] + args.files // 4:
        failures.append(
            f"batch task explosion: {bf['tasks']} vs {bm['tasks']} tasks "
            f"for {args.files} files/table — file packing broke"
        )
    sm, sf_ = compare("stream", STREAM_QUERIES)
    # streaming scans DO NOT pack (measured, pyspark 4.1.2): pin the
    # characteristic so a version that starts packing flips this check
    # and the maxFilesPerTrigger guidance can be revisited
    if sf_["tasks"] < args.files:
        failures.append(
            f"streaming scan packed files ({sf_['tasks']} tasks < "
            f"{args.files} files) — pinned per-file behavior changed; "
            "revisit the maxFilesPerTrigger sizing rule"
        )
    shutil.rmtree(frag_sf, ignore_errors=True)
    print(json.dumps({
        "event": "summary",
        "batch_tasks_monolithic": bm["tasks"],
        "batch_tasks_fragmented": bf["tasks"],
        "stream_tasks_monolithic": sm["tasks"],
        "stream_tasks_fragmented": sf_["tasks"],
        "files_per_table": args.files,
        "failures": failures,
    }), flush=True)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
