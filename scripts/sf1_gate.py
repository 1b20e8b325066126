"""sf1.0 full-canonical gate (VERDICT r9 #2).

The checked-in one-command matrix previously topped out at the `sf01`
sweep (sf0.1, ~600k lineitem); scale evidence above that lived in
ad-hoc probes. This gate manufactures a seed-free DETERMINISTIC
sf1.0-equivalent fixture set (~6M lineitem) by 10× replication of the
driver's sf0.1 fixtures with distinct content per copy (invariant 23),
then:

  O. runs the full 50-slot canonical oracle sweep on it
     (scripts/driver_sim.py — Spark vs DuckDB value-hash parity), and
  L. times the bench headline set PLUS the capped-dedup production
     composition (`llm_dedup_clusters_capped`, VERDICT r10 #5) at BOTH
     sf0.1 and the sf1.0 dir in one session (same box window — the
     honest linearity measure, immune to the cross-round calibration
     caveat in BASELINE.md) and asserts no knee: wall ratio ≤
     mult × KNEE_SLACK per query.

The replicated fixture set is CACHED under a content-addressed scratch
dir (generator source + mult + input file identities; atomic-rename
publish per invariant 30), so repeat stamps on unchanged fixtures skip
phase G entirely (VERDICT r10 #3). A cache hit VERIFIES content, not
just the key: the builder writes per-table fingerprints (xor of
full-row xxhash64 + row count) into ``_sf1_meta.json`` and every hit
re-scans and asserts them before the sweep (VERDICT r11 #1; the
corrupted-cache injection test lives in
tests/test_sf1_cache_verify.py).

Replication semantics (all copy-index-keyed, no RNG — reruns are
bit-identical):
- customer/orders/lineitem/supplier/part: per-copy key shifts by
  copy × (max_key + 1) on every FK pair, so joins only match within a
  copy and per-copy group structure is preserved
  (``git show ad4964a:scripts/relational_scale_probe.py`` precedent,
  widened to all FKs).
- events: event_id/user_id shifted — 10× users over the same time
  span, the realistic stream scale-up (window/session/state ops get
  10× keys, not 10× span).
- documents: doc_id shifted, every word suffixed "_<copy>" (textually
  disjoint copies: near-dup pair structure preserved per copy,
  cross-copy collisions impossible — ``probekit.mult_docs``'s
  suffix); n_chars recomputed to stay consistent with the text.
- embeddings: vec_id shifted, vector cyclically rotated by
  copy % dim positions — a permutation is orthogonal, so ALL
  intra-copy dot products/norms are preserved exactly while
  cross-copy cosine decorrelates (identical copies would make
  cosine-dedup pair output grow ∝ mult², invariant 23).
- nation/region: symlinked (fixed-size dims; broadcast assumptions at
  scale stay honest).

Usage: python scripts/sf1_gate.py [mult]
Prints phase logs plus one summary JSON line; exit 0 iff the oracle
sweep is 50/50 and no headline query knees.
"""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from pyspark.sql import functions as F  # noqa: E402

from hive_plan_service_spark.session import (  # noqa: E402
    default_parallelism,
    get_spark,
    scratch_root,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: headline queries timed for the linearity check — the bench set PLUS
#: the extbench production composition (VERDICT r10 #5: the capped
#: dedup pipeline had 8×-multiplier evidence but no same-session
#: sf0.1-vs-sf1.0 ratio; the knee assertion now covers it too).
#: Streaming entries keep their ~1 s invocation floors, which only
#: makes their ratios SMALLER than mult; no special-casing needed.
from bench import HEADLINE, materialize  # noqa: E402

LINEARITY: tuple[str, ...] = HEADLINE + ("llm_dedup_clusters_capped",)

#: a query has "kneed" when its sf1 wall exceeds mult × slack × its
#: sf0.1 wall — superlinear growth beyond plan/shuffle noise. Slack 2
#: is deliberately loose: this is a cliff detector (the invariant
#: 17/28 class), not a throughput regression test (bench owns that).
KNEE_SLACK = 2.0

#: tables replicated with key shifts; the rest are symlinked.
SHIFTED = ("customer", "orders", "lineitem", "supplier", "part",
           "events", "documents", "embeddings")

#: cache meta format. v2 (VERDICT r11 #1): the meta carries per-table
#: content fingerprints computed at build time, and a HIT re-scans and
#: asserts them before any sweep runs — a hit VERIFIES content instead
#: of trusting the rename protocol. Bumping the version (it feeds the
#: cache key) orphans pre-fingerprint entries, which age out via
#: _reap_stale_cache.
CACHE_FORMAT = 2


def table_fingerprints(spark, fix_dir: str) -> dict:
    """Order-independent content fingerprint per fixture table: xor of
    full-row xxhash64 plus the row count (xor alone is blind to a
    duplicated+dropped row pair), one cheap scan per table. Used twice:
    at build time (written into ``_sf1_meta.json``) and on every cache
    hit (recomputed and asserted) — parquet row order across files is
    not contractual, hence the commutative fold."""
    from tests.parity import TABLES

    fps: dict[str, dict[str, int]] = {}
    for t in sorted(TABLES):
        df = spark.read.parquet(os.path.join(fix_dir, f"{t}.parquet"))
        row = (
            df.select(F.xxhash64(*df.columns).alias("h"))
            .agg(F.expr("bit_xor(h)").alias("x"),
                 F.count(F.lit(1)).alias("n"))
            .collect()[0]  # bounded: one row per table (invariant 5)
        )
        fps[t] = {"xor": int(row["x"]) if row["x"] is not None else 0,
                  "count": int(row["n"])}
    return fps


def verify_cached_fixtures(spark, fix_dir: str, meta: dict) -> None:
    """Assert the cached fixture set's content matches the fingerprints
    recorded at build time (VERDICT r11 #1: a hit must verify, not
    trust). Any divergence — a corrupted file, a truncated write that
    somehow survived the atomic-rename protocol, an unreadable table —
    fails LOUDLY so the operator deletes the entry; silent rebuild
    would mask whatever corrupted machine-shared scratch."""
    expected = meta.get("fingerprints")
    if not expected:
        raise SystemExit(
            f"sf1 fixture cache at {fix_dir} has no content fingerprints "
            "in _sf1_meta.json — pre-v2 or mangled entry; delete it"
        )
    try:
        got = table_fingerprints(spark, fix_dir)
    except Exception as exc:  # unreadable parquet IS a verify failure
        raise SystemExit(
            f"sf1 fixture cache at {fix_dir} failed content verification "
            f"(unreadable table): {exc}"
        ) from exc
    if got != expected:
        bad = sorted(t for t in set(got) | set(expected)
                     if got.get(t) != expected.get(t))
        raise SystemExit(
            f"sf1 fixture cache at {fix_dir} failed content verification: "
            f"fingerprint mismatch on {bad} — cached bytes differ from "
            "what the builder wrote; delete the entry and rerun"
        )


def build_sf1(spark, sf_dir: str, out_dir: str, mult: int) -> dict:
    """Materialize the replicated fixture set; returns row counts."""
    from tests.parity import TABLES

    base = {
        t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        for t in SHIFTED
    }
    # one bounded collect per key domain (control flow, invariant 5)
    maxes = {
        "ok": base["orders"].agg(F.max("o_orderkey")).collect()[0][0] + 1,
        "ck": base["customer"].agg(F.max("c_custkey")).collect()[0][0] + 1,
        "sk": base["supplier"].agg(F.max("s_suppkey")).collect()[0][0] + 1,
        "pk": base["part"].agg(F.max("p_partkey")).collect()[0][0] + 1,
        "ek": base["events"].agg(F.max("event_id")).collect()[0][0] + 1,
        "uk": base["events"].agg(F.max("user_id")).collect()[0][0] + 1,
        "dk": base["documents"].agg(F.max("doc_id")).collect()[0][0] + 1,
        "vk": base["embeddings"].agg(F.max("vec_id")).collect()[0][0] + 1,
    }
    dim = len(base["embeddings"].select("embedding").first()[0])
    # rotation by _rep % dim collides for copies whose indices differ by
    # a multiple of dim: identical cross-copy vectors (cosine 1.0) would
    # reintroduce the invariant-23 pair blowup this rotation prevents.
    # mult is a positional CLI arg, so refuse loudly instead of silently
    # producing identical-copy embeddings (r10 ADVICE find).
    if mult > dim:
        raise SystemExit(
            f"mult={mult} exceeds embedding dim={dim}: cyclic rotation "
            "would repeat and produce identical cross-copy vectors "
            "(invariant 23); pick mult <= dim"
        )
    reps = spark.range(mult).select(F.col("id").alias("_rep"))

    def shift(col: str, key: str):
        return F.col(col) + F.col("_rep") * F.lit(maxes[key])

    shifted = {
        "customer": base["customer"].crossJoin(reps).withColumn(
            "c_custkey", shift("c_custkey", "ck")),
        "supplier": base["supplier"].crossJoin(reps).withColumn(
            "s_suppkey", shift("s_suppkey", "sk")),
        "part": base["part"].crossJoin(reps).withColumn(
            "p_partkey", shift("p_partkey", "pk")),
        "orders": base["orders"].crossJoin(reps).withColumns({
            "o_orderkey": shift("o_orderkey", "ok"),
            "o_custkey": shift("o_custkey", "ck"),
        }),
        "lineitem": base["lineitem"].crossJoin(reps).withColumns({
            "l_orderkey": shift("l_orderkey", "ok"),
            "l_partkey": shift("l_partkey", "pk"),
            "l_suppkey": shift("l_suppkey", "sk"),
        }),
        "events": base["events"].crossJoin(reps).withColumns({
            "event_id": shift("event_id", "ek"),
            "user_id": shift("user_id", "uk"),
        }),
        "documents": base["documents"].crossJoin(reps).withColumns({
            "doc_id": shift("doc_id", "dk"),
            # "_<copy>" on every word (separator matters: a bare digit
            # suffix collides for digit-ending tokens past mult 10)
            "text": F.concat_ws(" ", F.transform(
                F.split(F.col("text"), " "),
                lambda w: F.concat(
                    w, F.lit("_"), F.col("_rep").cast("string")),
            )),
        }).withColumn("n_chars", F.length("text").cast("long")),
        "embeddings": base["embeddings"].crossJoin(reps).withColumns({
            "vec_id": shift("vec_id", "vk"),
            # cyclic rotation by copy%dim: orthogonal, intra-copy
            # geometry exact, cross-copy cosine decorrelated
            "embedding": F.when(F.col("_rep") % dim == 0, F.col("embedding"))
            .otherwise(F.concat(
                F.slice(F.col("embedding"),
                        (F.col("_rep") % dim + 1).cast("int"),
                        (F.lit(dim) - F.col("_rep") % dim).cast("int")),
                F.slice(F.col("embedding"), 1,
                        (F.col("_rep") % dim).cast("int")),
            )),
        }),
    }
    counts: dict[str, int] = {}
    for t in TABLES:
        dst = os.path.join(out_dir, f"{t}.parquet")
        if t in shifted:
            cols = list(base[t].columns)
            shifted[t].select(*cols).repartition(
                default_parallelism()
            ).write.mode("overwrite").parquet(dst)
            counts[t] = spark.read.parquet(dst).count()
        else:
            os.symlink(os.path.join(sf_dir, f"{t}.parquet"), dst)
    return counts


def _fixture_cache_key(mult: int) -> str:
    """Content address of the replicated fixture set: the generator's
    own source (auto-invalidates on any build_sf1 change — the safe
    direction), mult, and the identity of every input fixture file
    (name, size, mtime). The driver regenerates the sf0.1 parquet every
    round, so mtimes key the round's actual bits (invariant 3: physical
    types are not contractual, and neither is file identity)."""
    import hashlib
    import inspect

    from tests.parity import TABLES

    h = hashlib.sha256()
    h.update(inspect.getsource(build_sf1).encode())
    # the fingerprint algorithm is part of the format: changing it must
    # orphan entries whose stored fingerprints it could no longer match
    h.update(inspect.getsource(table_fingerprints).encode())
    h.update(f"|cachefmt={CACHE_FORMAT}|mult={mult}|".encode())
    for t in sorted(TABLES):
        st = os.stat(os.path.join(SF_DIR, f"{t}.parquet"))
        h.update(f"{t}:{st.st_size}:{st.st_mtime_ns}|".encode())
    return h.hexdigest()[:16]


def _reap_stale_cache(keep: str, max_age_s: float = 6 * 3600) -> None:
    """Best-effort removal of superseded cache entries and crashed
    build tmps. The age floor (≫ any full stamp's wall) guarantees a
    CONCURRENT suite's live entry — which necessarily started within
    the window — is never reaped mid-read."""
    now = time.time()
    for name in os.listdir(scratch_root()):
        if not (name.startswith("sf1_cache_") or name.startswith("sf1_build_")):
            continue
        # scratch-ok: reaping stale atomic-rename cache entries/tmps
        p = os.path.join(scratch_root(), name)
        if p == keep:
            continue
        try:
            if now - os.stat(p).st_mtime > max_age_s:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass


def cached_sf1_dir(mult: int, summary: dict) -> str:
    """Get-or-build the replicated fixtures under a content-addressed
    scratch dir (VERDICT r10 #3: the stamp rebuilt bit-identical
    fixtures every invocation, ~1 min each). Protocol per invariant 30
    (scratch_root is MACHINE-shared): build into a private mkdtemp,
    then ONE atomic os.rename onto the content-addressed name — a
    reader can only ever list a complete dir; a concurrent builder that
    loses the rename race discards its own tmp and reuses the winner's
    (identical content by construction, the benign race)."""
    key = _fixture_cache_key(mult)
    # scratch-ok: content-addressed atomic-rename publish (inv. 30)
    final = os.path.join(scratch_root(), f"sf1_cache_{key}")
    _reap_stale_cache(keep=final)
    meta_name = "_sf1_meta.json"
    hit = os.path.isdir(final)
    if hit:
        # r11 ADVICE: refresh the reap clock BEFORE any read — a
        # concurrent process's _reap_stale_cache could stat the stale
        # mtime and rmtree this entry while we read it. utime-first
        # closes the window; if we still lost the race (ENOENT, or the
        # dir vanished after the touch), fall through to a rebuild.
        try:
            os.utime(final)
            hit = os.path.isdir(final)
        except OSError:
            hit = False
    if hit:
        with open(os.path.join(final, meta_name)) as f:
            meta = json.load(f)
        counts = meta["counts"]
        # VERDICT r11 #1: a hit VERIFIES content against the build-time
        # fingerprints (one cheap scan per table) instead of trusting
        # the rename protocol; mismatch/unreadable = loud SystemExit.
        tv = time.time()
        spark = get_spark(app_name="hpss-sf1-verify")
        try:
            verify_cached_fixtures(spark, final, meta)
        finally:
            spark.stop()
        verify_s = round(time.time() - tv, 1)
        summary.update(
            {"gen_s": 0.0, "fixture_cache": "hit",
             "fixture_verify": "ok", "verify_s": verify_s,
             "lineitem_rows": counts["lineitem"]}
        )
        print(f"=== sf1 fixtures cached at {final} "
              f"(content verified in {verify_s}s): {counts}", flush=True)
        return final
    t0 = time.time()
    tmp = tempfile.mkdtemp(prefix="sf1_build_", dir=scratch_root())
    try:
        spark = get_spark(app_name="hpss-sf1-gen")
        try:
            counts = build_sf1(spark, SF_DIR, tmp, mult)
            # build-time fingerprints: what every future hit verifies
            fps = table_fingerprints(spark, tmp)
        finally:
            spark.stop()
        with open(os.path.join(tmp, meta_name), "w") as f:
            json.dump({"key": key, "mult": mult, "counts": counts,
                       "fingerprints": fps}, f)
        try:
            os.rename(tmp, final)
        except OSError:
            # a concurrent builder renamed first; its content is
            # identical by construction — use it, drop ours
            shutil.rmtree(tmp, ignore_errors=True)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    gen_s = round(time.time() - t0, 1)
    summary.update(
        {"gen_s": gen_s, "fixture_cache": "miss",
         "fixture_verify": "built",
         "lineitem_rows": counts["lineitem"]}
    )
    print(f"=== sf1 fixtures in {gen_s}s: {counts}", flush=True)
    return final


def time_headlines(spark, sf_dir: str) -> dict[str, float]:
    """Warm once, min-of-2 timed noop materializations per query."""
    from hive_plan_service_spark.plans.registry import all_queries

    registry = all_queries()
    walls: dict[str, float] = {}
    for name in LINEARITY:
        fn = registry[name].fn
        materialize(fn(spark, sf_dir))  # warm: codegen + JIT
        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            materialize(fn(spark, sf_dir))
            runs.append(time.perf_counter() - t0)
        walls[name] = round(min(runs), 3)
        print(f"    {name}: {walls[name]:.2f}s", flush=True)
    return walls


def main() -> int:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    ok = True
    summary: dict = {"mult": mult}
    # --- phase G: generate (content-addressed cache; the dir is a
    # plain machine-shared scratch path, so invariant 32's
    # pid-keyed-dir trap for the subprocess phases below does not
    # apply — subprocesses see the same atomic-renamed dir) -------
    out_dir = cached_sf1_dir(mult, summary)

    # --- phase O: full canonical oracle sweep -----------------------
    # Size the sweep JVM like a real executor: driver_sim's PLAIN
    # session defaults to a 1 GiB heap — ~30 MB per task thread at
    # local[32], below any real deployment — and at 10× scale the
    # uncapped llm_dedup_clusters (64-hash LSH + verify over 50k
    # docs, exact-oracle shape per invariant 11) OOMs its sort/join
    # stages there (found by this gate's first run; the capped
    # production composition is unaffected). 16g matches the
    # engine's own get_spark default (SPARK_DRIVER_MEMORY).
    t0 = time.time()
    mem = os.environ.get("SPARK_DRIVER_MEMORY", "16g")
    proc = subprocess.run(
        [sys.executable, "scripts/driver_sim.py", out_dir, "32",
         f"builder:spark.driver.memory={mem}"],
        cwd=REPO_ROOT, text=True,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
    )
    sweep_s = round(time.time() - t0, 1)
    tail = [ln for ln in proc.stdout.strip().splitlines() if ln][-8:]
    print("\n".join(tail), flush=True)
    summary["sweep_ok"] = proc.returncode == 0
    summary["sweep_s"] = sweep_s
    if proc.returncode != 0:
        ok = False
        fails = [ln for ln in proc.stdout.splitlines() if "FAIL" in ln]
        print("\n".join(fails[:20]), flush=True)

    # --- phase L: same-session linearity ----------------------------
    spark = get_spark(app_name="hpss-sf1-linearity")
    print(f"--- headline walls at sf0.1 ({SF_DIR})", flush=True)
    base_walls = time_headlines(spark, SF_DIR)
    print(f"--- headline walls at sf1.0 ({out_dir})", flush=True)
    big_walls = time_headlines(spark, out_dir)
    spark.stop()
    knees = {}
    ratios = {}
    for name, base_w in base_walls.items():
        ratio = round(big_walls[name] / max(base_w, 1e-6), 2)
        ratios[name] = ratio
        if big_walls[name] > mult * KNEE_SLACK * base_w:
            knees[name] = ratio
    summary["base_total_s"] = round(sum(base_walls.values()), 2)
    summary["sf1_total_s"] = round(sum(big_walls.values()), 2)
    summary["ratios"] = ratios
    summary["knees"] = knees
    if knees:
        ok = False
        print(f"KNEED (> {mult}x{KNEE_SLACK}): {knees}", flush=True)
    summary["ok"] = ok
    print(json.dumps(summary))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
