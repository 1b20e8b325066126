"""Corpus-curation operators: the pre-training data-prep steps that sit
between raw crawl and tokenizer (C4/Gopher/decontamination lineage).

All four text ops are pure JVM array/string algebra over the
``documents`` fixture — no Python in any hot path — and each has a
bit-exact DuckDB oracle. Ratios divide two integers cast to DOUBLE (one
division, no float accumulation), so cross-engine hashes match exactly.

Scale notes per operator live on the builders; the common rule: every
join-back side here is corpus-size-proportional, so none carries a
broadcast hint (CLAUDE.md invariant 9 — AQE decides from runtime stats).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_plan_service_spark.plans.registry import register
from hive_plan_service_spark.sources.catalog import register_tables

#: Non-overlapping segment width (tokens) for boilerplate stripping —
#: the "line" unit of C4's line-level dedup, re-expressed for corpora
#: whose documents carry no newline structure.
SEGMENT_TOKENS = 8

#: A segment present in this many distinct documents (or more) is
#: treated as corpus boilerplate and removed from every document.
BOILERPLATE_DF = 3

#: n-gram width for train/eval decontamination (8-grams — the common
#: published choice for benchmark-overlap filtering).
DECONTAM_N = 8

def _segments(ws: Column) -> Column:
    """Non-overlapping SEGMENT_TOKENS-wide chunks of a token array.

    ``ceil(n/8)`` chunks; the last may be short. concat_ws skips
    out-of-range NULLs, mirroring the oracle's list-slice semantics.
    """
    n_chunks = (F.size(ws) + F.lit(SEGMENT_TOKENS - 1)) / F.lit(SEGMENT_TOKENS)
    return F.transform(
        F.sequence(F.lit(0), F.floor(n_chunks).cast("int") - 1),
        lambda i: F.concat_ws(
            " ",
            *[
                # try_: the tail chunk reads past the array end (ANSI
                # element_at throws); NULLs are skipped like the oracle's
                # out-of-range list slice.
                F.try_element_at(ws, i * SEGMENT_TOKENS + k + 1)
                for k in range(SEGMENT_TOKENS)
            ],
        ),
    )


def _ngrams_all(ws: Column, n: int) -> Column:
    """ALL word n-grams (duplicates kept — repetition ratio needs them).

    try_element_at: a <n-word doc yields one partial n-gram (concat_ws
    skips the out-of-range NULLs), matching the oracles' clamped list
    slice — ANSI element_at would throw instead (textops.shingles_sql has
    the same guard and the war story).
    """
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(ws) - n, F.lit(0))),
        lambda i: F.concat_ws(
            " ", *[F.try_element_at(ws, i + k + 1) for k in range(n)]
        ),
    )


# --------------------------------------------------------------------------
# Boilerplate stripping — corpus-frequent segment removal (C4 line dedup).
# --------------------------------------------------------------------------
#: DuckDB WITH-body computing the boilerplate strip (shared by the
#: llm_boilerplate_strip oracle and the capped-cluster composition's
#: oracle in plans/llm_ops.py, which runs dedup over the STRIPPED
#: corpus). Final per-doc shape: totals LEFT JOIN kept → (doc_id,
#: coalesce(clean_text, ''), n_removed).
DUCK_STRIP_CTES = f"""t AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      ),
      segs AS (
        SELECT doc_id, u.pos, u.seg
        FROM (
          SELECT doc_id,
                 unnest(list_transform(range(0, (len(ws)+{SEGMENT_TOKENS - 1})//{SEGMENT_TOKENS}),
                   i -> {{'pos': i,
                          'seg': array_to_string(ws[i*{SEGMENT_TOKENS}+1:i*{SEGMENT_TOKENS}+{SEGMENT_TOKENS}], ' ')}})) AS u
          FROM t
        )
      ),
      df AS (
        SELECT seg, count(DISTINCT doc_id) AS doc_freq FROM segs GROUP BY seg
      ),
      kept AS (
        SELECT s.doc_id,
               string_agg(s.seg, ' ' ORDER BY s.pos) AS clean_text,
               count(*) AS n_kept
        FROM segs s JOIN df USING (seg)
        WHERE df.doc_freq < {BOILERPLATE_DF}
        GROUP BY s.doc_id
      ),
      totals AS (
        SELECT doc_id, count(*) AS n_total FROM segs GROUP BY doc_id
      )"""


@register(
    "llm_boilerplate_strip",
    oracle=f"""
      WITH {DUCK_STRIP_CTES}
      SELECT t.doc_id,
             coalesce(k.clean_text, '') AS clean_text,
             CAST(t.n_total - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed
      FROM totals t LEFT JOIN kept k USING (doc_id)
    """,
    doc="C4-style boilerplate removal: segments appearing in ≥3 docs stripped.",
    tags=("B29", "llm"),
)
def llm_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remove corpus-frequent text segments from every document.

    Shape (the honest C4 line-dedup plan): posexplode segments →
    map-side-combined ``count(distinct doc)`` per segment → shuffle join
    back on segment → filter survivors → per-doc ordered re-assembly.
    Documents whose every segment is boilerplate survive with empty
    ``clean_text`` (left join + coalesce — the groupBy would drop them).
    At 100 TB the segment-frequency side is corpus-proportional: no
    broadcast hint; the join and both groupBys shuffle on their natural
    keys and AQE coalesces.
    """
    register_tables(spark, sf_dir)
    # spread the single-file scan before the CPU-bound segment stage
    d = (
        spark.table("documents")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", _segments(F.split("text", " ")).alias("segs"))
    )
    segs = d.select("doc_id", F.posexplode("segs").alias("pos", "seg"))
    # string key keeps the oracle engine-portable (DuckDB cannot
    # reproduce xxhash64)
    doc_freq = segs.select("seg", "doc_id").groupBy("seg").agg(
        F.countDistinct("doc_id").alias("doc_freq")
    )
    kept = (
        segs.join(doc_freq, "seg")
        .filter(F.col("doc_freq") < BOILERPLATE_DF)
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                    lambda x: x["seg"],
                ),
                " ",
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_kept"),
        )
    )
    totals = segs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_total"))
    return totals.join(kept, "doc_id", "left").select(
        "doc_id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        (F.col("n_total") - F.coalesce("n_kept", F.lit(0)))
        .cast("bigint")
        .alias("n_removed"),
    )


# --------------------------------------------------------------------------
# Train/eval decontamination — benchmark n-gram overlap filtering.
# --------------------------------------------------------------------------
@register(
    "llm_decontaminate_ngram",
    oracle=f"""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      ),
      s AS (
        -- COALESCE mirrors the engine's clamped gram of NULL text ([''],
        -- like every other shingle consumer): degenerate docs share the
        -- degenerate gram on BOTH sides — the composed pipeline's quality
        -- gate owns removing them upstream (NULL-docs sweep, §13)
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                 range(0, greatest(len(ws)-{DECONTAM_N}, 0)+1),
                 i -> COALESCE(array_to_string(ws[i+1:i+{DECONTAM_N}], ' '), '')))) AS sh
        FROM t
      )
      SELECT tr.doc_id, CAST(count(DISTINCT ev.doc_id) AS BIGINT) AS n_eval_docs
      FROM s tr JOIN s ev ON tr.sh = ev.sh
      WHERE tr.doc_id % 10 != 0 AND ev.doc_id % 10 = 0
      GROUP BY tr.doc_id
    """,
    doc="Training docs sharing any 8-gram with the eval split (doc_id%10=0).",
    tags=("B29", "llm"),
)
def llm_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag training documents contaminated by eval-set 8-grams.

    The published benchmark-decontamination recipe: any training doc
    sharing an 8-gram with an eval doc is flagged (with how many eval
    docs it hits). Shape: distinct-shingle explode on both splits, one
    equi-join on the shingle, map-side-combined count-distinct. At 100 TB
    the join key would be ``xxhash64(shingle)`` (8 bytes instead of ~50);
    the string key here keeps the oracle engine-portable — membership is
    identical, only shuffle width differs. Eval side is SF-proportional:
    no broadcast hint.
    """
    register_tables(spark, sf_dir)
    # spread the unsplittable single-file scan before the CPU-bound
    # shingle stage (the dedup operators' _spread rule): one cheap
    # shuffle of raw rows buys whole-cluster parallelism for the
    # explode + join
    d = (
        spark.table("documents")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(_ngrams_all(F.split("text", " "), DECONTAM_N))
            ).alias("sh"),
        )
    )
    train = d.filter(F.col("doc_id") % 10 != 0)
    ev = d.filter(F.col("doc_id") % 10 == 0).withColumnRenamed(
        "doc_id", "eval_doc_id"
    )
    return (
        train.join(ev, "sh")
        .groupBy("doc_id")
        .agg(F.countDistinct("eval_doc_id").cast("bigint").alias("n_eval_docs"))
    )


# --------------------------------------------------------------------------
# Text normalization — lowercase, digit masking, whitespace collapse.
# --------------------------------------------------------------------------
@register(
    "llm_text_normalize",
    oracle="""
      WITH t AS (
        -- ||, not concat: DuckDB's concat SKIPS NULL args where Spark's
        -- propagates (NULL-documents sweep, ROUND5_NOTES §13)
        SELECT doc_id, (text || ' ' || source) AS raw FROM documents
      )
      SELECT doc_id,
             -- final-sigma lower emulation (r7 fuzz sweep): Java's
             -- lower() maps Σ→ς at word end, utf8proc's never does
             trim(regexp_replace(regexp_replace(lower(regexp_replace(raw,
                  '(\\p{L})Σ(\\P{L}|$)', '\\1ς\\2', 'g')),
                  '[0-9]+', '<num>', 'g'),
                  ' +', ' ', 'g')) AS norm_text,
             CAST(len(regexp_extract_all(raw, '[0-9]+')) AS BIGINT) AS n_masked
      FROM t
    """,
    doc="Pre-tokenizer normalization: lowercase, digit-run masking, space collapse.",
    tags=("B29", "llm"),
)
def llm_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard pre-tokenizer text normalization, fully codegen'd.

    Applied to ``text || ' ' || source`` so the digit-masking branch does
    real work on this fixture (sources are ``srcN``). Three regex passes
    and a trim — all JVM ``regexp_replace``, one narrow projection, no
    shuffle at all: the plan is a single WholeStageCodegen over the scan.
    """
    register_tables(spark, sf_dir)
    raw = F.concat(F.col("text"), F.lit(" "), F.col("source"))
    return spark.table("documents").select(
        "doc_id",
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(raw), "[0-9]+", "<num>"), " +", " "
            )
        ).alias("norm_text"),
        F.regexp_count(raw, F.lit("[0-9]+")).cast("bigint").alias("n_masked"),
    )


# --------------------------------------------------------------------------
# Repetition ratio — Gopher-style within-doc duplicate n-gram fraction.
# --------------------------------------------------------------------------
@register(
    "llm_repetition_ratio",
    oracle="""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      ),
      g AS (
        -- COALESCE: on NULL text Spark's clamped gram builder yields
        -- [''] while a NULL gram would be DROPPED by list_distinct
        -- (NULL-documents sweep, ROUND5_NOTES §13)
        SELECT doc_id,
               list_transform(range(0, greatest(len(ws)-3, 0)+1),
                 i -> COALESCE(array_to_string(ws[i+1:i+3], ' '), '')) AS grams
        FROM t
      )
      SELECT doc_id,
             1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)
               AS rep_ratio,
             (1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)) > 0.2
               AS repetitive
      FROM g
    """,
    doc="Gopher repetition signal: fraction of duplicate 3-grams per doc.",
    tags=("B29", "llm"),
)
def llm_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition: 1 − distinct/total 3-grams.

    Pure array algebra on the token array in place (no explode — the
    grams never leave their row), one projection, no shuffle. The ratio
    is a single integer division cast to DOUBLE, bit-exact cross-engine.
    """
    register_tables(spark, sf_dir)
    grams = _ngrams_all(F.split("text", " "), 3)
    d = spark.table("documents").select("doc_id", grams.alias("grams"))
    ratio = 1.0 - F.size(F.array_distinct("grams")).cast("double") / F.size("grams")
    return d.select(
        "doc_id",
        ratio.alias("rep_ratio"),
        (ratio > 0.2).alias("repetitive"),
    )


# --------------------------------------------------------------------------
# B13 — deterministic per-group subsampling via hash rank.
# --------------------------------------------------------------------------
@register(
    "b13_hash_sample_per_group",
    oracle="""
      SELECT o_orderkey, o_orderpriority
      FROM (
        SELECT o_orderkey, o_orderpriority,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY md5(CAST(o_orderkey AS VARCHAR))) AS rk
        FROM orders
      ) WHERE rk <= 20
    """,
    doc="Deterministic k-per-group sample: md5-rank top-20 per order priority.",
    tags=("B13",),
)
def b13_hash_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seedless, engine-portable stratified subsample: rank rows inside
    each stratum by ``md5(key)`` and keep the first k.

    Unlike ``df.sample`` this is exactly reproducible across engines,
    partitionings and retries (the training-mix property you actually
    want), and the rank filter compiles to WindowGroupLimit — per-group
    top-k with partial pushdown, never a global sort. One shuffle on the
    stratum key.
    """
    register_tables(spark, sf_dir)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.md5(F.col("o_orderkey").cast("string"))
    )
    return (
        spark.table("orders")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 20)
        .drop("rk")
    )


# --------------------------------------------------------------------------
# PII scrubbing — regex redaction of emails / phone numbers.
# --------------------------------------------------------------------------
#: Same regex dialect subset (RE2 ∩ java.util.regex) on both engines.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b"


@register(
    "llm_pii_scrub",
    oracle=f"""
      WITH t AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@mail.example.com or call 555-'
                    || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                    || '-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
        FROM documents
      )
      SELECT doc_id,
             regexp_replace(regexp_replace(raw, '{EMAIL_RE}', '<email>', 'g'),
                            '{PHONE_RE}', '<phone>', 'g') AS scrubbed,
             CAST(len(regexp_extract_all(raw, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(raw, '{PHONE_RE}')) AS BIGINT) AS n_phones
      FROM t
    """,
    doc="Regex PII redaction (emails, phone numbers) with per-doc match counts.",
    tags=("B29", "llm"),
)
def llm_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact emails and phone numbers from document text.

    The fixture corpus carries no organic PII, so each doc gets a
    deterministic doc_id-derived email + phone appended before scrubbing
    — the redaction branch is exercised on every row, and the oracle
    builds the identical string. Two JVM ``regexp_replace`` passes and
    two ``regexp_count``s over one projection: no shuffle, whole plan in
    a single codegen stage — at 100 TB this runs at scan speed.
    """
    register_tables(spark, sf_dir)
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or call 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    return spark.table("documents").select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(raw, EMAIL_RE, "<email>"), PHONE_RE, "<phone>"
        ).alias("scrubbed"),
        F.regexp_count(raw, F.lit(EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(raw, F.lit(PHONE_RE)).cast("bigint").alias("n_phones"),
    )


# --------------------------------------------------------------------------
# Domain-mix reweighting — per-source token shares and balance weights.
# --------------------------------------------------------------------------
@register(
    "llm_domain_mix",
    oracle="""
      WITH per_src AS (
        SELECT source, COUNT(*) AS n_docs,
               SUM(len(string_split(text, ' '))) AS n_tokens
        FROM documents GROUP BY source
      ),
      tot AS (
        SELECT COUNT(*) AS n_sources, SUM(n_tokens) AS corpus_tokens
        FROM per_src
      )
      SELECT source,
             n_docs,
             CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(n_tokens AS DOUBLE) / corpus_tokens AS token_share,
             CAST(corpus_tokens AS DOUBLE) / (n_sources * n_tokens)
               AS balance_weight
      FROM per_src, tot
    """,
    doc="Training-mix accounting: per-source token share + uniform-target resample weight.",
    tags=("B29", "llm"),
)
def llm_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus accounting for training-mixture design.

    ``balance_weight`` is the per-doc sampling multiplier that equalizes
    the token mass across sources (uniform target). Shape: one
    map-side-combined aggregate per source, then the per-source rows
    cross-joined with a broadcast 1-row corpus total (same pattern that
    replaced tfidf's ``docs.count()`` action — zero driver-side jobs).
    Ratios are single BIGINT→DOUBLE divisions, bit-exact cross-engine.
    """
    register_tables(spark, sf_dir)
    per_src = (
        spark.table("documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
        )
    )
    totals = per_src.agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("n_tokens").alias("corpus_tokens"),
    )
    return per_src.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_docs",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        (F.col("n_tokens").cast("double") / F.col("corpus_tokens")).alias(
            "token_share"
        ),
        (
            F.col("corpus_tokens").cast("double")
            / (F.col("n_sources") * F.col("n_tokens"))
        ).alias("balance_weight"),
    )


# --------------------------------------------------------------------------
# First-occurrence line dedup — corpus-global "keep the first copy".
# --------------------------------------------------------------------------
@register(
    "llm_line_dedup_first",
    oracle=f"""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      ),
      segs AS (
        SELECT doc_id, u.pos, u.seg
        FROM (
          SELECT doc_id,
                 unnest(list_transform(range(0, (len(ws)+{SEGMENT_TOKENS - 1})//{SEGMENT_TOKENS}),
                   i -> {{'pos': i,
                          'seg': array_to_string(ws[i*{SEGMENT_TOKENS}+1:i*{SEGMENT_TOKENS}+{SEGMENT_TOKENS}], ' ')}})) AS u
          FROM t
        )
      ),
      ranked AS (
        SELECT doc_id, pos, seg,
               row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rk
        FROM segs
      ),
      kept AS (
        SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS clean_text,
               count(*) AS n_kept
        FROM ranked WHERE rk = 1 GROUP BY doc_id
      ),
      totals AS (
        SELECT doc_id, count(*) AS n_total FROM segs GROUP BY doc_id
      )
      SELECT t.doc_id,
             coalesce(k.clean_text, '') AS clean_text,
             CAST(t.n_total - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed
      FROM totals t LEFT JOIN kept k USING (doc_id)
    """,
    doc="C4 first-occurrence dedup: only the corpus-first copy of each segment survives.",
    tags=("B29", "llm"),
)
def llm_line_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global first-occurrence segment dedup (the exact C4 rule:
    later copies of a repeated line are removed, the first survives).

    Complements ``llm_boilerplate_strip`` (which drops ALL copies of
    high-frequency segments). Shape: posexplode → one shuffle on the
    segment (window, not self-join — rank inside each segment's
    occurrence list) → filter rank 1 → per-doc ordered re-assembly.
    (doc_id, pos) ordering makes "first" deterministic at any
    parallelism. Windows are per-segment (never global); docs whose
    every segment already appeared elsewhere survive with empty text.
    """
    register_tables(spark, sf_dir)
    # spread the single-file scan before the CPU-bound segment stage
    d = (
        spark.table("documents")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", _segments(F.split("text", " ")).alias("segs"))
    )
    segs = d.select("doc_id", F.posexplode("segs").alias("pos", "seg"))
    w = Window.partitionBy("seg").orderBy("doc_id", "pos")
    kept = (
        segs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                    lambda x: x["seg"],
                ),
                " ",
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_kept"),
        )
    )
    totals = segs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_total"))
    return totals.join(kept, "doc_id", "left").select(
        "doc_id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        (F.col("n_total") - F.coalesce("n_kept", F.lit(0)))
        .cast("bigint")
        .alias("n_removed"),
    )


# --------------------------------------------------------------------------
# Train/val/test split — hash-threshold assignment, engine-portable.
# --------------------------------------------------------------------------
#: Hex-string thresholds over md5's first two chars: uniform digest →
#: P(md5 < 'e6') = 230/256 ≈ 0.898, P(md5 < 'f3') = 243/256 ≈ 0.949.
SPLIT_TRAIN_LT = "e6"
SPLIT_VAL_LT = "f3"


@register(
    "llm_train_test_split",
    oracle=f"""
      SELECT doc_id, lang,
             CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '{SPLIT_TRAIN_LT}' THEN 'train'
                  WHEN md5(CAST(doc_id AS VARCHAR)) < '{SPLIT_VAL_LT}' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    """,
    doc="Deterministic ~90/5/5 split by md5 hex threshold on the doc key.",
    tags=("B13", "llm"),
)
def llm_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign each document to train/val/test by hashing its key.

    The property a training pipeline needs: the split is a pure function
    of the key — stable across runs, partitionings, engines, and corpus
    growth (a doc never migrates between splits when new data arrives).
    md5-hex thresholds sidestep engine-specific int hashing; the
    lexicographic compare on a uniform digest gives ~90/5/5. Pure
    projection, no shuffle.
    """
    register_tables(spark, sf_dir)
    h = F.md5(F.col("doc_id").cast("string"))
    return spark.table("documents").select(
        "doc_id",
        "lang",
        F.when(h < SPLIT_TRAIN_LT, "train")
        .when(h < SPLIT_VAL_LT, "val")
        .otherwise("test")
        .alias("split"),
    )


# --------------------------------------------------------------------------
# Vocabulary building — corpus-wide token frequencies, deterministic top-k.
# --------------------------------------------------------------------------
@register(
    "llm_vocab_top_tokens",
    oracle="""
      SELECT tok, n FROM (
        SELECT u.tok AS tok, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) u
        GROUP BY 1
      ) ORDER BY n DESC, tok LIMIT 200
    """,
    doc="Top-200 corpus tokens by frequency, (count desc, token asc) total order.",
    tags=("B29", "B13", "llm"),
)
def llm_vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token vocabulary: global top-200 by frequency.

    The tokenizer-training precursor. Shape: explode → map-side-combined
    count per token → global top-k compiled to TakeOrderedAndProject
    (per-partition heaps, never a full sort). The (count desc, token
    asc) total order makes the cutoff boundary deterministic —
    a top-k whose tail depends on partition order is not a vocabulary.
    """
    register_tables(spark, sf_dir)
    toks = spark.table("documents").select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    return counts.orderBy(F.desc("n"), F.asc("tok")).limit(200)


# --------------------------------------------------------------------------
# BPE merge statistics — adjacent-pair counts (one merge round's input).
# --------------------------------------------------------------------------
@register(
    "llm_bpe_pair_counts",
    oracle="""
      SELECT pair, n FROM (
        SELECT u.pair AS pair, CAST(count(*) AS BIGINT) AS n
        FROM (
          SELECT unnest(list_transform(range(1, len(ws)),
                   i -> ws[i] || ' ' || ws[i+1])) AS pair
          FROM (SELECT string_split(text, ' ') AS ws FROM documents)
        ) u
        GROUP BY 1
      ) ORDER BY n DESC, pair LIMIT 100
    """,
    doc="Adjacent-token pair frequencies (BPE merge-round statistics), top-100.",
    tags=("B29", "llm"),
)
def llm_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide adjacent-token pair counts — the statistic a BPE merge
    round maximizes.

    Pairs are materialized in-row (transform over an index sequence, no
    self-join), then one explode + map-side-combined count + global
    top-k heap. Documents shorter than two tokens contribute nothing on
    both engines (Spark needs the explicit guard: ``sequence(1, 0)``
    would generate a DESCENDING range, not an empty one).
    """
    register_tables(spark, sf_dir)
    ws = F.split("text", " ")
    d = spark.table("documents").select(ws.alias("ws")).filter(
        F.size("ws") >= 2
    )
    pairs = d.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws)-1),"
                " i -> concat(element_at(ws, i), ' ', element_at(ws, i+1)))"
            )
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    return counts.orderBy(F.desc("n"), F.asc("pair")).limit(100)


# --------------------------------------------------------------------------
# Composed pretraining-mix pipeline: normalize → quality gate →
# decontaminate → split assignment → per-(split, lang) token accounting.
# --------------------------------------------------------------------------
#: Quality gate bounds (tokens) for the composed pipeline.
MIX_MIN_TOKENS = 20
MIX_MAX_TOKENS = 2000
MIX_MAX_REP = 0.2


@register(
    "llm_pretrain_mix_report",
    oracle=f"""
      WITH norm AS (
        SELECT doc_id, lang,
               -- final-sigma lower emulation (r7 fuzz sweep; the
               -- llm_text_normalize rule)
               trim(regexp_replace(regexp_replace(lower(regexp_replace(text,
                    '(\\p{{L}})Σ(\\P{{L}}|$)', '\\1ς\\2', 'g')),
                    '[0-9]+', '<num>', 'g'),
                    ' +', ' ', 'g')) AS nt
        FROM documents
      ),
      tok AS (
        SELECT doc_id, lang, string_split(nt, ' ') AS ws FROM norm
      ),
      q AS (
        SELECT * FROM tok
        WHERE len(ws) BETWEEN {MIX_MIN_TOKENS} AND {MIX_MAX_TOKENS}
          AND (1.0 - CAST(len(list_distinct(list_transform(
                     range(0, greatest(len(ws)-3, 0)+1),
                     i -> array_to_string(ws[i+1:i+3], ' ')))) AS DOUBLE)
                   / (greatest(len(ws)-3, 0)+1)) <= {MIX_MAX_REP}
      ),
      ev AS (
        SELECT DISTINCT u.sh
        FROM (
          SELECT unnest(list_distinct(list_transform(
                   range(0, greatest(len(ws)-{DECONTAM_N}, 0)+1),
                   i -> array_to_string(ws[i+1:i+{DECONTAM_N}], ' ')))) AS sh
          FROM tok WHERE doc_id % 10 = 0
        ) u
      ),
      contam AS (
        SELECT DISTINCT t.doc_id
        FROM (
          SELECT doc_id,
                 unnest(list_distinct(list_transform(
                   range(0, greatest(len(ws)-{DECONTAM_N}, 0)+1),
                   i -> array_to_string(ws[i+1:i+{DECONTAM_N}], ' ')))) AS sh
          FROM q WHERE doc_id % 10 != 0
        ) t JOIN ev USING (sh)
      ),
      keep AS (
        SELECT * FROM q
        WHERE doc_id % 10 != 0
          AND doc_id NOT IN (SELECT doc_id FROM contam)
      )
      SELECT CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '{SPLIT_TRAIN_LT}' THEN 'train'
                  WHEN md5(CAST(doc_id AS VARCHAR)) < '{SPLIT_VAL_LT}' THEN 'val'
                  ELSE 'test' END AS split,
             lang,
             COUNT(*) AS n_docs,
             CAST(SUM(len(ws)) AS BIGINT) AS n_tokens
      FROM keep GROUP BY 1, 2
    """,
    doc="Composed curation pipeline: normalize, quality-gate, decontaminate, split, account.",
    tags=("B29", "llm"),
)
def llm_pretrain_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end pretraining-corpus preparation as ONE declarative plan.

    Stages: pre-tokenizer normalization → token-count + repetition
    quality gate → benchmark decontamination (kept docs sharing any
    normalized 8-gram with the eval split are dropped, via the
    distinct-shingle equi-join — never a self-cross) → md5-threshold
    split assignment → per-(split, lang) doc/token accounting.

    Shape (the invariant-4 lesson, measured here too): the quality gate
    and gram generation run as EXPLODE + AGGREGATE over the normalized
    token array, never as array lambdas inside a filter. A filter on
    ``1 − distinct/total`` pushes below the exchange, CollapseProject
    inlines the 3-regex normalization into every ``element_at`` of every
    gram lambda, and the pipeline re-normalizes each document ~160×
    (measured 15 s → 4.7 s for the gate, 15 s → 1.8 s for the
    decontamination join at sf0.1). Generators don't push through
    exchanges, so each document normalizes once per explode. Eval-split
    docs feed the contamination side from the RAW normalized corpus
    (quality-rejected eval docs still contaminate — benchmarks don't
    pass quality gates). At 100 TB the 8-gram join key would be
    ``xxhash64(sh)`` (8 bytes vs ~50); the string key keeps the oracle
    portable.
    """
    register_tables(spark, sf_dir)
    nt = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[0-9]+", "<num>"),
            " +",
            " ",
        )
    )
    par = spark.sparkContext.defaultParallelism
    # projection BELOW the exchange: ws is a shuffled column upstream of
    # every gram generator — the regexes run once per document
    tok = (
        spark.table("documents")
        .select("doc_id", "lang", F.split(nt, " ").alias("ws"))
        .repartition(par, "doc_id")
    )
    g3 = tok.select(
        "doc_id",
        "lang",
        F.size("ws").alias("n_tok"),
        F.explode(_ngrams_all(F.col("ws"), 3)).alias("g"),
    )
    stats = g3.groupBy("doc_id").agg(
        F.first("lang").alias("lang"),
        F.first("n_tok").alias("n_tok"),
        F.count(F.lit(1)).alias("n_g"),
        F.countDistinct("g").alias("n_d"),
    )
    rep = 1.0 - F.col("n_d").cast("double") / F.col("n_g")
    quality = stats.filter(
        F.col("n_tok").between(MIX_MIN_TOKENS, MIX_MAX_TOKENS)
        & (rep <= MIX_MAX_REP)
    )
    g8 = tok.select(
        "doc_id",
        F.explode(F.array_distinct(_ngrams_all(F.col("ws"), DECONTAM_N))).alias(
            "sh"
        ),
    )
    ev = g8.filter(F.col("doc_id") % 10 == 0).select("sh").distinct()
    contam = (
        g8.filter(F.col("doc_id") % 10 != 0)
        .join(quality.select("doc_id"), "doc_id")
        .join(ev, "sh")
        .select("doc_id")
        .distinct()
    )
    keep = quality.filter(F.col("doc_id") % 10 != 0).join(
        contam, "doc_id", "left_anti"
    )
    h = F.md5(F.col("doc_id").cast("string"))
    split = (
        F.when(h < SPLIT_TRAIN_LT, "train")
        .when(h < SPLIT_VAL_LT, "val")
        .otherwise("test")
    )
    return keep.groupBy(split.alias("split"), "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
    )


# --------------------------------------------------------------------------
# Balanced resampling — apply the domain-mix weights as a deterministic
# per-doc Bernoulli keep/drop.
# --------------------------------------------------------------------------
#: Global rate multiplier: sources at exactly uniform share keep ~half
#: their docs; under-represented sources saturate at keep-all.
BALANCE_RATE = 0.5


@register(
    "llm_balanced_sample",
    oracle=f"""
      WITH per_src AS (
        SELECT source, SUM(len(string_split(text, ' '))) AS n_tokens
        FROM documents GROUP BY source
      ),
      tot AS (
        SELECT COUNT(*) AS n_sources, SUM(n_tokens) AS corpus_tokens
        FROM per_src
      ),
      w AS (
        SELECT source,
               CAST(corpus_tokens AS DOUBLE) / (n_sources * n_tokens)
                 AS balance_weight
        FROM per_src, tot
      )
      SELECT d.doc_id, d.source,
             (CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                / 4294967296.0)
               < least(1.0, w.balance_weight * {BALANCE_RATE}) AS sampled
      FROM documents d JOIN w USING (source)
    """,
    doc="Deterministic Bernoulli resampling at the domain-mix balance weights.",
    tags=("B13", "B29", "llm"),
)
def llm_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keep/drop implementing the mixture weights.

    The uniform draw is ``md5(doc_id)``'s first 32 bits over 2^32 — a
    pure function of the key, so the SAME documents survive on any
    engine, partitioning, or retry (and membership is stable when the
    corpus grows — a kept doc is never re-dropped by a reshuffle). Keep
    probability = min(1, balance_weight × rate): over-represented
    sources thin out, under-represented ones saturate at keep-all.
    One aggregate + one dimension-sized join; the draw and threshold are
    a single codegen projection.
    """
    register_tables(spark, sf_dir)
    per_src = (
        spark.table("documents")
        .groupBy("source")
        .agg(F.sum(F.size(F.split("text", " "))).alias("n_tokens"))
    )
    totals = per_src.agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("n_tokens").alias("corpus_tokens"),
    )
    w = per_src.crossJoin(F.broadcast(totals)).select(
        "source",
        (
            F.col("corpus_tokens").cast("double")
            / (F.col("n_sources") * F.col("n_tokens"))
        ).alias("balance_weight"),
    )
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        / F.lit(4294967296.0)
    )
    return (
        spark.table("documents")
        .join(w, "source")
        .select(
            "doc_id",
            "source",
            (u < F.least(F.lit(1.0), F.col("balance_weight") * BALANCE_RATE)).alias(
                "sampled"
            ),
        )
    )
