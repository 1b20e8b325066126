"""Hostile-content oracle parity sweep over the TPC-H string columns.

tests/test_oracle_parity.py pins full Spark↔DuckDB parity for the
document oracles on hostile content; this probe generalizes the net to
the WHOLE registry: it rewrites every string column of the relational
fixtures (region nation customer supplier part orders lineitem) with a
deterministic pool of hostile values — quotes, backslashes, JSON /
regex / LIKE metacharacters, unicode (CJK, emoji, accents), mixed and
trailing whitespace, literal null/NaN tokens — then runs EVERY oracled
registered query through the driver-grade parity check. Numeric/date
columns (all keys) are untouched, so joins and date logic still
exercise; events/documents/embeddings are symlinked (events' physical
ts type is sniff-contractual — invariant 3; documents has its own
committed pytest net).

Control characters and '/' are deliberately excluded from the pool:
plan titles derive from nation names and the a08 JSON oracle REJECTS
control characters by documented design (ROUND5_NOTES §2), and hostile
partition-column values must stay path-safe for the layout queries.
Quotes and backslashes DO flow through a08 — this probe is the
live-query proof of the §2 escape hardening.

Usage: python scripts/hostile_probe.py   (env SPARK_GRAFT_SF_DIR,
default /root/testdata/sf0.001)
Prints one JSON line: {"queries": N, "failures": [...]}.

``--fuzz [SEED]`` (r6 VERDICT #6): the static pool is hand-curated,
and its one known blind spot was found by review, not by the sweep
(the b21 TRY_CAST class). Fuzz mode replaces the pool with a
SEED-PINNED random composer mixing the classes review keeps finding:
bare/embedded numerals, scientific notation, unicode (Latin-1
accents, Greek, Cyrillic, CJK, emoji, COMBINING marks), zero-width /
word-joiner / BOM characters, huge tokens (200–2000 chars), mixed
separators (nbsp, multi-space), and the curated classics at random
positions. Same exclusions as the static pool, by documented design:
control characters (a08 rejects them), '/' (partition-path safety),
and lone surrogates (invalid UTF-8). The printed JSON carries the
seed and the full generated pool, so any divergence is exactly
reproducible — fix it, then add the value to the static POOL.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from hive_plan_service_spark.plans.registry import all_queries  # noqa: E402
from hive_plan_service_spark.session import get_spark  # noqa: E402
from tests.parity import TABLES, check_query  # noqa: E402

POOL = [
    'He said "hello there" and left',
    "back\\slash C:\\temp\\file paths",
    '{"json": [1, 2], "k": "v\\" q"}',
    "regex meta .* [set]? (group+) {2,3} alt|anchor ^s e$",
    "like meta 100% guaranteed _underscore_",
    "café naïve déjà vu façade",
    "日本語 テスト 🚀 emoji",
    "null NULL NaN None Infinity -0",
    "<b>tags</b> &amp; entities",
    "O'Brien's 'single' quotes; drop table t; --",
    "a,b;c:d-e_f|g",
    "0x1F 42.5e-3 1_000_000",
    # Bare decimal / scientific numerals landing at substr position 10
    # (9-char prefixes): DuckDB TRY_CAST rounds '42.5'→43 and parses
    # '1e3'→1000 where Spark try_cast yields NULL — pins the b21
    # integral-only oracle guard (r5 ADVICE).
    "decimalX 42.5",
    "sciNote#9 1e3",
    "MiXeD CaSe WORDS lower",
    "trailing space ",
    " leading space",
    "multi  space   words\u00a0nbsp",
    # r7 fuzz-sweep finds (seed 20260815), promoted per VERDICT #6:
    # bare hex \u2014 DuckDB TRY_CAST('0x1F')\u219231, Spark try_cast\u2192NULL
    "0x1F",
    # combining marks \u2014 DuckDB reverse() keeps grapheme clusters,
    # Spark reverses codepoints
    "combining a\u0307 marks o\u030b\u030c end",
    # nbsp-only separators: split(' ') yields ONE token, so array
    # slices/zips hit the NULL-padding path (DuckDB concat skips
    # NULLs where Spark's propagates)
    "nbsp\u00a0only\u00a0separated\u00a0words",
    # Java full/contextual case mappings vs utf8proc (r7 fuzz seed 7):
    # upper('ß')='SS' vs 'ẞ'; lower maps FINAL Σ→ς vs always σ
    "straße ÄΣΣ ΛΣ τέλοΣ",
    # Java upper/title of 'ΰ' (U+03B0) is the FULL mapping Υ+0308+0301
    # where utf8proc is 1:1 (r7 fuzz seed 13) — word-initial (title
    # path) and mid-word (upper path) occurrences
    "ΰβx xΰß ΰ",
]

#: Codepoint ranges for the fuzz composer — printable, non-control,
#: no '/', no surrogates. Combining marks (0x300–) are the interesting
#: class: they make codepoint-count vs grapheme-count disagreements
#: visible in length/substr logic if an oracle ever drifts.
_FUZZ_RANGES = (
    (0x41, 0x5A), (0x61, 0x7A), (0x30, 0x39),          # ASCII alnum
    (0xC0, 0xFF),                                       # Latin-1 accents
    (0x391, 0x3C9), (0x410, 0x44F),                     # Greek, Cyrillic
    (0x4E00, 0x4FFF), (0x3040, 0x309F),                 # CJK, hiragana
    (0x300, 0x30F),                                     # combining marks
    (0x1F600, 0x1F64F),                                 # emoji
)

_ZERO_WIDTH = (
    "\u200b",  # zero width space
    "\u200c",  # zero width non-joiner
    "\u200d",  # zero width joiner
    "\u2060",  # word joiner
    "\ufeff",  # BOM / zero width no-break space
)


def fuzz_pool(seed: int, n: int = 24) -> list[str]:
    """Deterministic hostile-content pool for ``--fuzz`` (values vary
    with the seed, never with the run)."""
    import random

    rng = random.Random(seed)

    def uni_token() -> str:
        lo, hi = rng.choice(_FUZZ_RANGES)
        return "".join(
            chr(rng.randint(lo, hi)) for _ in range(rng.randint(1, 6))
        )

    def token() -> str:
        r = rng.random()
        if r < 0.15:  # integral / huge integral
            return str(rng.choice([0, -1, 7, 42, 2**31, 2**63 - 1]))
        if r < 0.28:  # decimal numeral
            return f"{rng.uniform(-1e6, 1e6):.{rng.randint(0, 4)}f}"
        if r < 0.40:  # scientific notation
            return f"{rng.uniform(-1, 1):.{rng.randint(1, 3)}e}"
        if r < 0.48:  # numeric-looking tokens
            return rng.choice(
                ["NaN", "Inf", "-Infinity", "0x1F", "1_000", "-0", "1e", ".5"]
            )
        if r < 0.62:  # unicode run (possibly led by a combining mark)
            return uni_token()
        if r < 0.70:  # zero-width injected mid-word
            w = uni_token()
            zw = rng.choice(_ZERO_WIDTH)
            cut = rng.randint(0, len(w))
            return w[:cut] + zw + w[cut:]
        if r < 0.76:  # huge token
            return chr(rng.randint(0x61, 0x7A)) * rng.randint(200, 2000)
        return "".join(
            chr(rng.randint(0x61, 0x7A)) for _ in range(rng.randint(1, 8))
        )

    out = []
    for _ in range(n):
        if rng.random() < 0.2:  # a curated classic at a random position
            mid = rng.choice(POOL)
        else:
            mid = ""
        toks = [token() for _ in range(rng.randint(1, 6))]
        if mid:
            toks.insert(rng.randint(0, len(toks)), mid)
        sep = rng.choice([" ", " ", " ", "  ", " ", "  "])
        s = sep.join(toks)
        if rng.random() < 0.15:
            s = " " + s
        if rng.random() < 0.15:
            s = s + " "
        out.append(s)
    return out


MUTATED = ("region", "nation", "customer", "supplier", "part",
           "orders", "lineitem")

# --------------------------------------------------------------------------
# --numfuzz (r8, VERDICT #5): the string fuzz never touched numerics or
# timestamps — every numeric oracle had only seen fixture-shaped values.
# Pools are PER-DOMAIN: money columns are decimal(18,2)-accumulated by
# contract (functions/exact.py), so their pool stays inside that type's
# range (2^53 = 9.007e15 still fits 16+2 digits — the float-precision
# edge IS in-domain); rate columns are decimal(8,4) (|x| < 10^4 by the
# same contract); events.value is a plain double with no declared
# domain, so it additionally gets huge magnitudes and subnormals. NaN
# and ±Inf stay excluded this round: they are outside the money/rate
# domain by the decimal contract, and for plain doubles their grouping/
# comparison semantics are engine-defined rather than value-defined —
# a candidate future axis, not an oracle bug probe.

_SUBNORMAL_MIN = 5e-324
_NORMAL_MIN = 2.2250738585072014e-308

MONEY_POOL = [
    0.0, -0.0, _SUBNORMAL_MIN, -_SUBNORMAL_MIN, _NORMAL_MIN,
    0.1, 0.3, 1 / 3, 2.5, -2.5, 3.5, 0.005, -0.005,
    float(2**53 - 1), float(2**53), -float(2**53 - 1),
    1e15 + 0.5, 123456789.99, -1e-9,
]
RATE_POOL = [
    0.0, -0.0, _SUBNORMAL_MIN, 0.1, 0.0001, 0.00005, -0.00005,
    2.5, -2.5, 0.33333333, 9999.9999, -9999.9999, 1 / 3,
]
# events.value's documented domain is the strictest consumer's: the
# stateful-streaming counters quantize to int64 micro-units (invariant
# 19), so |v| ≤ 9e12 (9e12 × 1e6 < 2^63). A ±1e300 probe (first numfuzz
# run) correctly blew up BOTH engines' exact-sum paths — that is a
# domain violation, not a robustness gap: no fixed-precision exact sum
# can hold doubles near 1e300, and "exact deterministic aggregation"
# is only definable on a bounded domain. Values here sit at that
# domain's edges instead.
VALUE_POOL = [
    0.0, -0.0, _SUBNORMAL_MIN, -_SUBNORMAL_MIN, _NORMAL_MIN,
    0.1, 0.3, 1 / 3, 2.5, -2.5, 3.5, 0.005, -0.005, -1e-9, 1e-300,
    9e12, -9e12, 8.9e12 + 0.5, float(2**43) + 0.25, 123456789.99,
]
INT32_POOL = [0, -1, 1, 2**31 - 1, -(2**31)]
INT64_POOL = [0, -1, 1, 2**31, 2**53 + 1, 2**63 - 1, -(2**63)]

#: hostile timestamps (µs precision): negative epoch, epoch zero, the
#: US spring-forward/fall-back instants (the TZ gate zone), the 32-bit
#: rollover, year-9999 — plus 1900 for the pre-epoch-but-sane band.
#: Pre-Gregorian values are excluded (parquet rebase semantics are a
#: storage-format concern, not a query-semantics axis).
import datetime as _dt  # noqa: E402

TS_POOL = [
    _dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
    _dt.datetime(1970, 1, 1, 0, 0, 0),
    _dt.datetime(1900, 1, 1, 0, 0, 0),
    _dt.datetime(2021, 3, 14, 6, 59, 59, 999999),   # just before US DST
    _dt.datetime(2021, 3, 14, 7, 0, 0),              # spring-forward instant
    _dt.datetime(2021, 11, 7, 5, 30, 0),             # ambiguous under ET
    _dt.datetime(2038, 1, 19, 3, 14, 8),             # 32-bit rollover
    _dt.datetime(9999, 12, 31, 23, 59, 59, 999999),
]
#: nanosecond-physical columns cannot hold year 9999 (ns max ≈ 2262)
TS_POOL_NS = TS_POOL[:-1] + [_dt.datetime(2200, 1, 1, 0, 0, 0)]

#: (table, column) → pool. Keys/FKs and tie-breaking sort columns stay
#: untouched: duplicating (l_orderkey, l_linenumber) would make
#: window/as-of tie-breaks GENUINELY nondeterministic cross-engine —
#: that is a fixture-contract violation, not a robustness axis.
NUMFUZZ_COLUMNS: dict[str, dict[str, list]] = {
    "lineitem": {
        "l_quantity": MONEY_POOL, "l_extendedprice": MONEY_POOL,
        "l_discount": RATE_POOL, "l_tax": RATE_POOL,
        "l_shipdate": TS_POOL,
    },
    "orders": {"o_totalprice": MONEY_POOL, "o_orderdate": TS_POOL},
    "part": {"p_retailprice": MONEY_POOL, "p_size": INT32_POOL},
    "supplier": {"s_acctbal": MONEY_POOL},
    "customer": {"c_acctbal": MONEY_POOL},
    # events.ts is NOT mutated: the streaming oracles' validity rests on
    # the fixture generator's bounded event-time disorder (watermark
    # delay ≥ disorder); hostile timestamps would make the engine drop
    # late rows the batch oracle keeps — late-data SEMANTICS, pinned by
    # the dedicated streaming pytest nets, not an oracle-parity axis.
    # Hostile timestamp coverage lives on the batch tables above.
    "events": {"value": VALUE_POOL},
    "documents": {"n_chars": INT64_POOL},
}


def _hostile_vector(rng, base: list, dim: int) -> list:
    """One hostile embedding: the vector domain is unit-ish floats
    (|x| ≤ ~1e3 keeps every integer-quantization consumer exact — same
    bounded-domain reasoning as events.value), so the edges are
    DEGENERACY, not magnitude: the zero vector (norm-0 — division
    guards), subnormal-only elements (norms underflow), exact
    duplicates and exact negations of another vector (similarity ties
    at ±1), a one-hot spike, and ±0 mixtures."""
    kind = rng.randrange(6)
    if kind == 0:
        return [0.0] * dim  # zero vector: norm-0 degenerate
    if kind == 1:
        return [rng.choice([_SUBNORMAL_MIN, -_SUBNORMAL_MIN, 0.0])
                for _ in range(dim)]
    if kind == 2:
        return list(base)  # exact duplicate: cosine == 1 ties
    if kind == 3:
        return [-x for x in base]  # exact negation: cosine == -1
    if kind == 4:
        v = [0.0] * dim
        v[rng.randrange(dim)] = rng.choice([1000.0, -1000.0, 1e-3])
        return v  # one-hot spike
    return [rng.choice([0.0, -0.0, 1e-3, -1e-3, 0.5, -0.5])
            for _ in range(dim)]


def numfuzz_dir(sf_dir: str, seed: int) -> str:
    """Skewed-domain numeric/temporal mutation: every ~3rd value of the
    columns above replaced by a seed-pinned pool draw; strings and keys
    untouched so joins, grouping structure and titles still exercise.
    Embeddings get ~1-in-5 whole-vector degeneracy (see _hostile_vector)."""
    import random

    rng = random.Random(seed)
    out = tempfile.mkdtemp(prefix="hostile_sf_num_")
    for t in TABLES:
        src = f"{sf_dir}/{t}.parquet"
        dst = f"{out}/{t}.parquet"
        if t == "embeddings":
            tbl = pq.read_table(src)
            vecs = tbl.column("embedding").to_pylist()
            base = list(vecs[0])
            dim = len(base)
            for i in range(len(vecs)):
                if rng.random() < 0.2:
                    vecs[i] = _hostile_vector(rng, base, dim)
            vi = tbl.schema.get_field_index("embedding")
            tbl = tbl.set_column(
                vi, tbl.schema.field(vi),
                pa.array(vecs, tbl.schema.field(vi).type),
            )
            pq.write_table(tbl, dst)
            continue
        cols_spec = NUMFUZZ_COLUMNS.get(t)
        if not cols_spec:
            os.symlink(src, dst)
            continue
        tbl = pq.read_table(src)
        for name, pool in cols_spec.items():
            idx = tbl.schema.get_field_index(name)
            if idx < 0:
                continue
            field = tbl.schema.field(idx)
            use_pool = pool
            if pool is TS_POOL and pa.types.is_timestamp(field.type) and (
                field.type.unit == "ns"
            ):
                use_pool = TS_POOL_NS
            vals = tbl.column(idx).to_pylist()
            for i in range(len(vals)):
                if vals[i] is not None and rng.random() < 1 / 3:
                    # 1-in-8 of the mutated values is NULL: the --nulls
                    # mode NULLs only STRING columns, so numeric/
                    # temporal NULL handling (SUM/AVG skipping,
                    # LAG/LEAD gaps, percentile COUNT(col), counter
                    # deltas) was otherwise untested cross-engine (r8)
                    vals[i] = (
                        None if rng.random() < 1 / 8
                        else rng.choice(use_pool)
                    )
            tbl = tbl.set_column(idx, field, pa.array(vals, field.type))
        pq.write_table(tbl, dst)
    return out

#: --nulls mode: tables whose string columns get every-7th-value NULLed.
#: nation/region are excluded — their names feed the derived `plans`
#: titles, and a NULL title RAISES in a08 by documented design
#: (ROUND5_NOTES §2/§10), which would report an intended guard as a
#: sweep failure.
NULLABLE = ("customer", "supplier", "part", "orders", "lineitem",
            "documents")


def empty_dir(sf_dir: str) -> str:
    """Every table 0-row with its EXACT arrow schema preserved (events'
    physical ts type is sniff-contractual — slice(0,0) keeps it)."""
    out = tempfile.mkdtemp(prefix="hostile_sf_empty_")
    for t in TABLES:
        tbl = pq.read_table(f"{sf_dir}/{t}.parquet")
        pq.write_table(tbl.slice(0, 0), f"{out}/{t}.parquet")
    return out


def hostile_dir(
    sf_dir: str,
    *,
    nulls: bool = False,
    pool: list[str] | None = None,
    tables: tuple[str, ...] | None = None,
) -> str:
    out = tempfile.mkdtemp(prefix="hostile_sf_")
    mutated = tables if tables is not None else (
        NULLABLE if nulls else MUTATED
    )
    use_pool = pool if pool is not None else POOL
    for t in TABLES:
        src = f"{sf_dir}/{t}.parquet"
        dst = f"{out}/{t}.parquet"
        if t not in mutated:
            os.symlink(src, dst)
            continue
        tbl = pq.read_table(src)
        cols = []
        for ci, field in enumerate(tbl.schema):
            col = tbl.column(ci)
            if pa.types.is_string(field.type) or pa.types.is_large_string(
                field.type
            ):
                n = len(tbl)
                if nulls:
                    vals = col.to_pylist()
                    col = pa.array(
                        [
                            None if (i + ci) % 7 == 0 else v
                            for i, v in enumerate(vals)
                        ],
                        field.type,
                    )
                else:
                    col = pa.array(
                        [
                            use_pool[(i * 7 + ci) % len(use_pool)]
                            for i in range(n)
                        ],
                        field.type,
                    )
            cols.append(col)
        pq.write_table(
            pa.table(dict(zip(tbl.schema.names, cols))), dst
        )
    return out


def _seed_after(argv: list[str], flag: str, default: int) -> int | None:
    """The seed of a ``flag [SEED]`` mode: the integer after ``flag``,
    else ``default``; None when the flag is absent."""
    if flag not in argv:
        return None
    nxt = argv[argv.index(flag) + 1:][:1]
    return int(nxt[0]) if nxt and nxt[0].lstrip("-").isdigit() else default


def main() -> None:
    argv = sys.argv[1:]
    nulls = "--nulls" in argv
    empty = "--empty" in argv
    seed = _seed_after(argv, "--fuzz", 20260815)
    numfuzz_seed = _seed_after(argv, "--numfuzz", 20260816)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    pool = None
    if numfuzz_seed is not None:
        hostile = numfuzz_dir(sf_dir, numfuzz_seed)
    elif empty:
        hostile = empty_dir(sf_dir)
    elif seed is not None:
        pool = fuzz_pool(seed)
        # fuzz also mutates documents — the static content mode leaves
        # it to the committed pytest net, so this is NEW exposure for
        # the shingle/langid/fingerprint oracles
        hostile = hostile_dir(
            sf_dir, pool=pool, tables=MUTATED + ("documents",)
        )
    else:
        hostile = hostile_dir(sf_dir, nulls=nulls)
    spark = get_spark(app_name="hpss-hostile-probe")
    failures = []
    n = 0
    for name, q in sorted(all_queries().items()):
        if not q.oracle:
            continue
        n += 1
        try:
            check_query(spark, q, hostile)
        except Exception as ex:  # noqa: BLE001 — collecting all failures
            failures.append(f"{name}: {str(ex).splitlines()[0][:200]}")
    payload: dict = {"queries": n, "failures": failures}
    if numfuzz_seed is not None:
        payload["numfuzz_seed"] = numfuzz_seed
    if seed is not None:
        payload["fuzz_seed"] = seed
        if failures:  # full pool only when needed for reproduction
            payload["pool"] = pool
    print(json.dumps(payload), flush=True)
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
