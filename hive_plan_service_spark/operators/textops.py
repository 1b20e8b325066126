"""Text-analysis building blocks (SURVEY.md B29 + north-star text ops).

Everything here is built-in-function array algebra — JVM-side, codegen'd,
zero Python in the hot path — so it runs unchanged over 100 TB of
documents. Shingling, fingerprinting and hashing operate on the token
array *in place* (higher-order functions), deferring any explode until
an operator genuinely needs row form (e.g. the LSH bucket join).

SQL-text convention (every expression family in operators/): the SQL
text is the only Spark-side body; callers that need a Column wrap it in
``F.expr``. One ``F.expr``/``selectExpr`` string is ONE py4j round trip
at query construction, where each ``F.*`` call costs one or more and a
higher-order lambda several (b27_dedup_minhash_lsh paid 950 commands
per construction before the r12–r13 rewrite). In the text, write DOUBLE
literals with the ``D`` suffix (a bare float parses as DECIMAL); an
integer literal parses as INT. Builders take SQL expression strings;
column names and string literals enter the text only through
:func:`sql_ident` and :func:`sql_string`.
"""

from __future__ import annotations

#: Tiny per-language stopword lists for the language-ID heuristic.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "in", "to", "is"),
    "es": ("el", "la", "de", "que", "y", "los", "un"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu"),
}

#: Rolling-hash modulus (2^31 − 1, Mersenne prime) and base.
FNV_MOD = 2_147_483_647
FNV_BASE = 31


def sql_ident(name: str) -> str:
    """Column name as a SQL identifier: backtick-quoted, embedded
    backticks doubled."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(value: str) -> str:
    """String as a SQL literal. ``\\`` is escaped first (Spark's default
    literal mode reads it as an escape), then ``'`` is doubled."""
    return "'" + value.replace("\\", "\\\\").replace("'", "''") + "'"


def tokens_sql(text: str) -> str:
    """Whitespace tokenization — the cheap path for word-soup corpora."""
    return f"split({text}, ' ')"


def shingles_sql(words: str, n: int = 3) -> str:
    """Distinct word n-gram shingles of a token array (array-side, no
    explode).

    size ≥ n → indices 0..size−n; shorter docs get one partial shingle.
    try_element_at, NOT element_at: under ANSI mode (Spark 4 default)
    element_at THROWS past the array end — a <n-word doc (first seen in
    stripped clean_text at probe scale) must instead yield NULLs that
    concat_ws skips, matching the DuckDB oracles' clamped list slice.
    """
    parts = ", ".join(
        f"try_element_at({words}, i + {k + 1})" for k in range(n)
    )
    return (
        f"array_distinct(transform(sequence(0, greatest(size({words})"
        f" - {n}, 0)), i -> concat_ws(' ', {parts})))"
    )


def rolling_fingerprint_sql(
    text: str, base: int = FNV_BASE, finish: str | None = None
) -> str:
    """Polynomial rolling hash of the character stream, mod 2^31−1.

    Deliberately engine-portable (plain integer arithmetic, no engine
    hash builtin) so the DuckDB oracle can verify it bit-for-bit; the
    fast non-portable alternative is ``xxhash64``. ``base`` selects a
    hash-family member (31 default; 131 gives an independent second hash
    for the 62-bit portable SimHash).

    ``finish`` is a lambda-body template over the accumulator variable
    spelled ``{acc}`` (e.g. the avalanche in operators/dedup). It runs
    in the aggregate's finish lambda, where ``acc`` is a VARIABLE:
    referencing it many times re-reads a slot instead of re-evaluating
    the whole fold (pinned by tests/test_plans.py's fold-once plan
    assertion).
    """
    fold = (
        f"aggregate(transform(split({text}, ''),"
        " ch -> CAST(ascii(ch) AS BIGINT)), CAST(0 AS BIGINT),"
        f" (acc, code) -> (acc * {base} + code) % {FNV_MOD}"
    )
    if finish is not None:
        return fold + f", acc -> {finish.format(acc='acc')})"
    return fold + ")"


def stopword_hits_sql(words: str, stopwords: tuple[str, ...]) -> str:
    """Count of tokens that are in the given stopword list."""
    arr = ", ".join(sql_string(w) for w in stopwords)
    return (
        f"CAST(size(filter({words}, w -> array_contains(array({arr}), w)))"
        " AS BIGINT)"
    )
