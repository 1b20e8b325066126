"""Row-order invariance certification.

At 100 TB, parquet row order is NOT a stable property: compaction,
ingest parallelism, and rewrites permute rows freely while preserving
content. Every registered result must therefore be a pure function of
table CONTENT, never of physical row order — an assumption no other
gate tests (the splitvar gate varies split geometry but keeps order;
the fuzz sweeps vary content but keep the writer's order).

Two phases, one seeded permutation (numpy, seed pinned below):

1. **Fingerprint invariance** — one plain+tuned session runs every
   ``registry.CANONICAL`` query twice, against the original sf0.01
   fixtures and against a scratch copy whose rows were permuted with
   pyarrow ``Table.take``; the order-insensitive canonical row
   multisets (tests/parity.canonical_rows) must be IDENTICAL. This is
   strictly stronger than re-running the oracle on the permuted dir:
   it rules out the case where Spark and DuckDB drift together (e.g. a
   tie both engines break by scan order).
2. **Oracle on permuted data** — a driver_sim subprocess runs the full
   50-slot DuckDB value-hash gate against the permuted dir, so the
   physically-reordered fixtures also pass the driver's own contract.

The pyarrow rewrite may flip parquet physical types (an INT96 events.ts
becomes INT64/TIMESTAMP(NANOS)); that is in-contract — fixture readers
branch on the observed type (CLAUDE.md invariant 3) and this probe
exercises that sniff on a second physical layout for free.

Run: python scripts/roworder_probe.py [sf_dir]
Exit 0 iff both phases are green for all canonical slots.
"""
from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
import time

import numpy as np
import pyarrow.parquet as pq

import probekit
from probekit import REPO_ROOT

from hive_plan_service_spark.plans.registry import CANONICAL, all_queries
from tests.parity import TABLES, canonical_rows

SEED = 20260816


def build_permuted(sf_dir: str, scratch: str) -> str:
    """Write the permuted fixture copy under a per-run mkdtemp dir —
    never a fixed shared literal (CLAUDE.md invariant 30: concurrent
    runs on a fixed path would delete each other's fixtures mid-read).
    The caller removes *scratch* in a finally block."""
    out_dir = os.path.join(scratch, os.path.basename(sf_dir.rstrip("/")))
    os.makedirs(out_dir)
    rng = np.random.default_rng(SEED)
    for t in TABLES:
        tbl = pq.read_table(os.path.join(sf_dir, f"{t}.parquet"))
        perm = rng.permutation(tbl.num_rows)
        pq.write_table(tbl.take(perm), os.path.join(out_dir, f"{t}.parquet"))
        print(f"permuted {t}: {tbl.num_rows} rows", flush=True)
    return out_dir


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    scratch = tempfile.mkdtemp(prefix="spark_graft_roworder_")
    try:
        return _run(sf_dir, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _run(sf_dir: str, scratch: str) -> int:
    perm_dir = build_permuted(sf_dir, scratch)

    spark = probekit.plain_session("local[32]")
    qs = all_queries()

    fail = 0
    t_all = time.time()
    # Original-dir pass first, then permuted — registration re-keys once
    # per directory switch instead of per query. Per-slot try/except on
    # BOTH passes so one failing query can't hide the rest of the report.
    base: dict[str, list[tuple]] = {}
    for name in CANONICAL:
        try:
            base[name] = canonical_rows(qs[name].fn(spark, sf_dir).toPandas())
        except Exception as e:  # noqa: BLE001 — report every slot, then fail
            fail += 1
            print(f"{name}: FAIL (base pass) {str(e)[:500]}", flush=True)
    for name in CANONICAL:
        if name not in base:
            continue
        t0 = time.time()
        try:
            permuted = canonical_rows(qs[name].fn(spark, perm_dir).toPandas())
            assert permuted == base[name], (
                f"result depends on fixture row order "
                f"({len(permuted)} vs {len(base[name])} canonical rows; "
                f"first diff: "
                f"{next((a, b) for a, b in zip(permuted, base[name]) if a != b) if len(permuted) == len(base[name]) else 'row-count'}"
            )
            print(f"{name}: order-invariant ({time.time() - t0:.1f}s)", flush=True)
        except Exception as e:  # noqa: BLE001 — report every slot, then fail
            fail += 1
            print(f"{name}: FAIL {str(e)[:500]}", flush=True)
    print(
        f"=== phase A {len(CANONICAL) - fail}/{len(CANONICAL)} "
        f"order-invariant in {time.time() - t_all:.0f}s ===",
        flush=True,
    )
    spark.stop()

    print("=== phase B: driver_sim oracle gate on the permuted dir ===", flush=True)
    rc = subprocess.call(
        [sys.executable, os.path.join(REPO_ROOT, "scripts", "driver_sim.py"), perm_dir]
    )
    return 1 if (fail or rc) else 0


if __name__ == "__main__":
    sys.exit(main())
