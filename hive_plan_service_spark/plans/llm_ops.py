"""LLM-training-data pipeline operators (SURVEY.md §2.B B27–B30 +
north-star dedup / similarity / text-analysis / multimodal families).

The exact variants (n-gram Jaccard, brute-force cosine, rolling-hash
fingerprint) are oracle-checked, and since round 3 so are the canonical
sketch paths (MinHash-LSH, SimHash, hyperplane LSH, IVF): they run the
PORTABLE integer hash families of operators/dedup.py, which DuckDB
recomputes bit-for-bit (CLAUDE.md invariant 15). The xxhash64 `*_xx`
throughput twins stay rows-only; pytest ties every sketch to its exact
twin either way (tests/test_llm_ops.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_plan_service_spark.operators import dedup as dd
from hive_plan_service_spark.operators import multimodal as mm
from hive_plan_service_spark.operators import vectors as vx
from hive_plan_service_spark.operators.textops import (
    LANG_STOPWORDS,
    rolling_fingerprint_sql,
    stopword_hits_sql,
    tokens_sql,
)
from hive_plan_service_spark.plans.curation_ops import DUCK_STRIP_CTES
from hive_plan_service_spark.plans.registry import register
from hive_plan_service_spark.sources.catalog import register_tables

# Shared DuckDB fragments -----------------------------------------------------

_DUCK_SHINGLES = """
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT d.doc_id,
           concat_ws(' ', s.ws[t.i], s.ws[t.i+1], s.ws[t.i+2]) AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) s
    JOIN documents d USING (doc_id),
    UNNEST(generate_series(1, greatest(len(s.ws) - 3, 0) + 1)) AS t(i)
  )
)
"""

_DUCK_NORM_PROD = (
    "(sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, 64),"
    " i -> {a}.embedding[i]::DOUBLE * {a}.embedding[i]::DOUBLE)), (x, y) -> x + y))"
    " * sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, 64),"
    " i -> {b}.embedding[i]::DOUBLE * {b}.embedding[i]::DOUBLE)), (x, y) -> x + y)))"
)

#: total cosine, mirroring operators.vectors.cos_div_sql: a ZERO-NORM
#: operand scores 0.0 (DuckDB's double / 0 yields inf/nan silently,
#: Spark ANSI throws — both replaced by the same guarded 0.0; r8
#: zero-vector semantics)
_DUCK_COS = (
    "(CASE WHEN " + _DUCK_NORM_PROD + " = 0 THEN 0.0 ELSE "
    "list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, 64),"
    " i -> {a}.embedding[i]::DOUBLE * {b}.embedding[i]::DOUBLE)), (x, y) -> x + y)"
    " / " + _DUCK_NORM_PROD + " END)"
)


# --------------------------------------------------------------------------
# B29 — text analysis: token stats.
# --------------------------------------------------------------------------
@register(
    "b29_text_token_stats",
    oracle="""
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_regex_tokens,
             CAST(length(text) AS BIGINT) AS n_chars_actual,
             CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) AS chars_per_word
      FROM documents
    """,
    doc="Token counting: whitespace + regex tokenizer + char stats.",
    tags=("B29",),
)
def b29_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    d = spark.table("documents")
    w = F.expr(tokens_sql("text"))
    return d.select(
        "doc_id",
        F.size(w).cast("bigint").alias("n_words"),
        F.regexp_count(F.col("text"), F.lit("[a-z0-9]+"))
        .cast("bigint")
        .alias("n_regex_tokens"),
        F.length("text").cast("bigint").alias("n_chars_actual"),
        (F.length("text").cast("double") / F.size(w)).alias("chars_per_word"),
    )


# --------------------------------------------------------------------------
# B29 — text quality scoring (length / stopword / long-word ratios).
# --------------------------------------------------------------------------
@register(
    "b29_text_quality",
    oracle="""
      WITH t AS (
        SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents
      )
      SELECT doc_id,
             CAST(len(list_filter(ws, w -> list_contains(
               ['the','a','of','and','in','to','is'], w))) AS DOUBLE) / len(ws)
               AS stopword_ratio,
             CAST(len(list_filter(ws, w -> len(w) > 6)) AS DOUBLE) / len(ws)
               AS long_word_ratio,
             CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
               / NULLIF(length(text), 0) AS punct_ratio,
             (len(ws) BETWEEN 20 AND 400) AS length_ok
      FROM t
    """,
    doc="Quality signals: stopword ratio, long-word ratio, punctuation ratio, length gate.",
    tags=("B29",),
)
def b29_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    d = spark.table("documents").selectExpr(
        "doc_id", "text", f"{tokens_sql('text')} AS ws"
    )
    n = F.size("ws")
    hits = F.expr(stopword_hits_sql("ws", LANG_STOPWORDS["en"]))
    return d.select(
        "doc_id",
        (hits.cast("double") / n).alias("stopword_ratio"),
        (
            F.size(F.filter(F.col("ws"), lambda w: F.length(w) > 6)).cast("double")
            / n
        ).alias("long_word_ratio"),
        (
            F.length(F.regexp_replace("text", "[^.,;:!?]", "")).cast("double")
            / F.nullif(F.length("text"), F.lit(0))
        ).alias("punct_ratio"),
        n.between(20, 400).alias("length_ok"),
    )


# --------------------------------------------------------------------------
# B29 — language-ID heuristic: stopword-hit argmax with fixed tiebreak.
# --------------------------------------------------------------------------
@register(
    "b29_text_langid",
    oracle="""
      WITH t AS (
        SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents
      ), hits AS (
        SELECT doc_id, lang,
               len(list_filter(ws, w -> list_contains(['the','a','of','and','in','to','is'], w))) AS h_en,
               len(list_filter(ws, w -> list_contains(['el','la','de','que','y','los','un'], w))) AS h_es,
               len(list_filter(ws, w -> list_contains(['der','die','das','und','ist','ein','zu'], w))) AS h_de
        FROM t
      )
      SELECT doc_id, lang AS claimed_lang,
             CASE WHEN h_en >= h_es AND h_en >= h_de THEN 'en'
                  WHEN h_es >= h_de THEN 'es'
                  ELSE 'de' END AS predicted_lang,
             CAST(h_en AS BIGINT) AS h_en
      FROM hits
    """,
    doc="n-gram/stopword language-ID heuristic (deterministic argmax, en>es>de tiebreak).",
    tags=("B29",),
)
def b29_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    d = spark.table("documents").selectExpr(
        "doc_id", "lang", f"{tokens_sql('text')} AS ws"
    )
    h = {
        code: F.expr(stopword_hits_sql("ws", words))
        for code, words in LANG_STOPWORDS.items()
    }
    return d.select(
        "doc_id",
        F.col("lang").alias("claimed_lang"),
        F.when((h["en"] >= h["es"]) & (h["en"] >= h["de"]), "en")
        .when(h["es"] >= h["de"], "es")
        .otherwise("de")
        .alias("predicted_lang"),
        h["en"].alias("h_en"),
    )


# --------------------------------------------------------------------------
# B29 — document fingerprint: engine-portable polynomial rolling hash.
# --------------------------------------------------------------------------
@register(
    "b29_text_fingerprint",
    oracle="""
      SELECT doc_id,
             -- CASE: Spark's fold over a NULL array is NULL, DuckDB's
             -- list_prepend(0, NULL) folds to 0 (NULL-docs sweep, §13)
             CASE WHEN text IS NULL THEN NULL ELSE
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(text, ''),
                                c -> CAST(ascii(c) AS BIGINT))),
               (acc, c) -> (acc * 31 + c) % 2147483647) END AS fingerprint
      FROM documents
    """,
    doc="Rolling-hash fingerprint (mod 2^31-1), bit-identical cross-engine.",
    tags=("B29",),
)
def b29_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return spark.table("documents").selectExpr(
        "doc_id", f"{rolling_fingerprint_sql('text')} AS fingerprint"
    )


# --------------------------------------------------------------------------
# B27 — exact n-gram Jaccard near-dup pairs (ground truth for the sketches).
# --------------------------------------------------------------------------
@register(
    "b27_dedup_jaccard_exact",
    oracle=f"""
      WITH {_DUCK_SHINGLES},
      counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      )
      SELECT p.doc_a, p.doc_b, p.common,
             CAST(p.common AS DOUBLE) / (ca.n_sh + cb.n_sh - p.common) AS jaccard
      FROM pairs p
      JOIN counts ca ON ca.doc_id = p.doc_a
      JOIN counts cb ON cb.doc_id = p.doc_b
      WHERE CAST(p.common AS DOUBLE) / (ca.n_sh + cb.n_sh - p.common) >= 0.5
    """,
    doc="Exact word-3-gram Jaccard join, threshold 0.5.",
    tags=("B27",),
)
def b27_dedup_jaccard_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return dd.jaccard_pairs(spark.table("documents"), threshold=0.5)


# --------------------------------------------------------------------------
# B27 — MinHash-LSH (the 100 TB path). The canonical query runs the
# PORTABLE hash family (31-bit polynomial base hash + affine rehashes +
# polynomial band buckets — operators/dedup.py), so the oracle recomputes
# the ENTIRE sketch pipeline — signatures, banding, bucket join, estimate
# — bit-for-bit in DuckDB: a full hash check, not a recall argument.
# The xxhash64 family (engine-builtin, the throughput default) keeps the
# same plan shape and is registered below as a pytest-checked variant.
# --------------------------------------------------------------------------

# DuckDB mirror of the portable MinHash constants in operators/dedup.py.
_DUCK_STR_HASH = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform(string_split({s}, ''), c -> CAST(ascii(c) AS BIGINT))),"
    " (acc, c) -> (acc * 31 + c) % 2147483647)"
)

# Shared CTE chain: portable signatures → banded buckets. Reused by the
# canonical LSH-pairs oracle below AND the streaming-ingest flags oracle
# (plans/streaming_queries.py) — one mirror of the sketch, two checks.
_DUCK_MINHASH_BANDED = f"""{_DUCK_SHINGLES},
      hs AS (
        SELECT doc_id, {_DUCK_STR_HASH.format(s='shingle')} AS h FROM sh
      ),
      mins AS (
        SELECT doc_id, t.i AS i,
               MIN((h * (1103515245 + 2 * t.i) + (12345 + 97 * t.i))
                   % 2147483647) AS m
        FROM hs, UNNEST(generate_series(0, 15)) AS t(i)
        GROUP BY doc_id, t.i
      ),
      sig AS (
        SELECT doc_id, list(m ORDER BY i) AS sig FROM mins GROUP BY doc_id
      ),
      banded AS (
        SELECT doc_id, sig, tb.band AS band,
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                              sig[tb.band * 4 + 1 : tb.band * 4 + 4]),
                 (acc, m) -> (acc * 1000003 + m) % 2147483647) AS bucket
        FROM sig, UNNEST(generate_series(0, 3)) AS tb(band)
      )"""


@register(
    "b27_dedup_minhash_lsh",
    oracle=f"""
      WITH {_DUCK_MINHASH_BANDED}
      SELECT DISTINCT doc_a, doc_b, est_jaccard FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_filter(generate_series(1, 16),
                                    i -> a.sig[i] = b.sig[i])) AS DOUBLE)
                 / 16.0 AS est_jaccard
        FROM banded a
        JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      ) WHERE est_jaccard >= 0.5
    """,
    doc="MinHash(16, portable hash family) + 4-band LSH candidate pairs, est Jaccard ≥ 0.5.",
    tags=("B27",),
)
def b27_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return dd.minhash_lsh_pairs(spark.table("documents"), hash_fn="portable")


@register(
    "b27_dedup_minhash_lsh_xx",
    oracle=None,
    doc="MinHash-LSH, xxhash64 family (throughput default; same plan shape as canonical).",
    tags=("B27",),
)
def b27_dedup_minhash_lsh_xx(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return dd.minhash_lsh_pairs(spark.table("documents"))


def _duck_poly_hash(base: int) -> str:
    """Polynomial token hash with the given base (mirror of
    textops.rolling_fingerprint(w, base))."""
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT),"
        " list_transform(string_split(w, ''), c -> CAST(ascii(c) AS BIGINT))),"
        f" (acc, c) -> (acc * {base} + c) %% 2147483647)"
    ).replace("%%", "%")


def _duck_simhash_pairs() -> str:
    """DuckDB mirror of the portable 62-bit SimHash (operators/dedup.py):
    two independent 31-bit polynomial hashes (bases 31/131), double-square
    avalanche, bit votes, 16-bit chunk buckets, Hamming ≤ 3."""
    votes = ",\n               ".join(
        [f"SUM((ha >> {b}) & 1) AS o{b}" for b in range(31)]
        + [f"SUM((hb >> {b}) & 1) AS o{31 + b}" for b in range(31)]
    )
    sketch = "\n               + ".join(
        f"CASE WHEN 2 * o{b} > n THEN CAST(1 AS BIGINT) << {b} ELSE 0 END"
        for b in range(62)
    )
    return f"""
      WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
      ),
      th AS (
        SELECT doc_id, {_duck_poly_hash(31)} AS pa, {_duck_poly_hash(131)} AS pb
        FROM tok
      ),
      t1 AS (
        SELECT doc_id,
               ((pa + 700000001) * (pa + 700000001)) % 2147483647 AS a1,
               ((pb + 700000001) * (pb + 700000001)) % 2147483647 AS b1
        FROM th
      ),
      t2 AS (
        SELECT doc_id,
               ((a1 + 700000001) * (a1 + 700000001)) % 2147483647 AS ha,
               ((b1 + 700000001) * (b1 + 700000001)) % 2147483647 AS hb
        FROM t1
      ),
      votes AS (
        SELECT doc_id, COUNT(*) AS n,
               {votes}
        FROM t2 GROUP BY doc_id
      ),
      sk AS (
        SELECT doc_id,
               ({sketch}) AS simhash
        FROM votes
      ),
      chunks AS (
        SELECT doc_id, simhash, tc.c AS chunk,
               (simhash >> (tc.c * 16)) & 65535 AS val
        FROM sk, UNNEST(generate_series(0, 3)) AS tc(c)
      )
      SELECT DISTINCT doc_a, doc_b, hamming FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_filter(generate_series(0, 61),
                      bb -> ((xor(a.simhash, b.simhash) >> bb) & 1) = 1))
                    AS BIGINT) AS hamming
        FROM chunks a
        JOIN chunks b
          ON a.chunk = b.chunk AND a.val = b.val AND a.doc_id < b.doc_id
      ) WHERE hamming <= 3
    """


@register(
    "b27_dedup_simhash",
    oracle=_duck_simhash_pairs(),
    doc="SimHash62 (portable two-hash family) near-dup pairs: 16-bit chunk buckets, Hamming ≤ 3.",
    tags=("B27",),
)
def b27_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return dd.simhash_pairs(spark.table("documents"), hash_fn="portable")


@register(
    "b27_dedup_simhash_xx",
    oracle=None,
    doc="SimHash64, xxhash64 family (throughput default; same plan shape as canonical).",
    tags=("B27",),
)
def b27_dedup_simhash_xx(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return dd.simhash_pairs(spark.table("documents"))


# --------------------------------------------------------------------------
# B27 — embedding-cosine near-dup (blocked exact; oracle-checked).
# --------------------------------------------------------------------------
@register(
    "b27_dedup_embedding_cosine",
    oracle=f"""
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {_DUCK_COS.format(a='a', b='b')} AS cos
      FROM embeddings a
      JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE {_DUCK_COS.format(a='a', b='b')} >= 0.35
    """,
    doc="Near-dup embeddings: label-blocked pairwise cosine ≥ 0.35 (sequential-fold exact).",
    tags=("B27",),
)
def b27_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return dd.embedding_dup_pairs(spark.table("embeddings"), threshold=0.35)


# --------------------------------------------------------------------------
# B27 — embedding near-dup, open-domain scale path (SemDeDup shape):
# multi-probe nearest-centroid blocking + exact cosine verify. Fully
# deterministic (vec_id % 31 centroid seeds + sequential-fold cosine),
# so the whole blocking pipeline is SQL — oracle-hash-checked since r3;
# recall ties in tests/test_llm_ops.py cover the label-free regime.
# --------------------------------------------------------------------------
@register(
    "b27_dedup_embedding_centroid",
    oracle=f"""
      WITH cents AS (
        SELECT vec_id AS centroid_id, embedding FROM embeddings
        WHERE vec_id % 31 = 0
      ),
      assigned AS (
        SELECT vec_id, centroid_id FROM (
          SELECT e.vec_id, c.centroid_id,
                 ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {_DUCK_COS.format(a='e', b='c')} DESC, c.centroid_id) AS rn
          FROM embeddings e CROSS JOIN cents c
        ) WHERE rn <= 4
      ),
      cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM assigned a
        JOIN assigned b
          ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      )
      SELECT cand.vec_a, cand.vec_b,
             {_DUCK_COS.format(a='ea', b='eb')} AS cos
      FROM cand
      JOIN embeddings ea ON ea.vec_id = cand.vec_a
      JOIN embeddings eb ON eb.vec_id = cand.vec_b
      WHERE {_DUCK_COS.format(a='ea', b='eb')} >= 0.35
    """,
    doc="Centroid-blocked (nprobe=4) embedding near-dup pairs — label-free scale path.",
    tags=("B27", "B28"),
)
def b27_dedup_embedding_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    cents = emb.filter(F.col("vec_id") % 31 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return dd.centroid_blocked_dup_pairs(emb, cents, threshold=0.35, nprobe=4)


# --------------------------------------------------------------------------
# B28 — brute-force top-k cosine similarity search (oracle-checked).
# --------------------------------------------------------------------------
@register(
    "b28_cosine_topk",
    oracle=f"""
      WITH scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_DUCK_COS.format(a='q', b='c')} AS cos
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 5
      )
      SELECT query_id, neighbor_id, cos, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        FROM scored
      ) WHERE rank <= 5
    """,
    doc="Exact top-5 cosine neighbors for query vectors (broadcast scan, rank tie-broken).",
    tags=("B28",),
)
def b28_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    return vx.cosine_topk(emb.filter(F.col("vec_id") < 5), emb, k=5)


def _duck_kmeans_cte(*, k: int, dim: int, iters: int = 5) -> str:
    """CTE chain mirroring operators/kmeans.kmeans_integer bit-for-bit.

    Expects an existing CTE ``kpts(grp, pid, q)`` where ``q`` is the
    quantized list<BIGINT> (FLOOR((x+8)·2^20) — see kmeans.quantize);
    emits ``c0…c{iters}`` and a final ``kcents(grp, code, centroid)``
    with exact-double dequantized centers. All arithmetic is int64 (sums
    are order-free; `//` == Spark's `div` because operands are
    non-negative), so the fixed-iteration Lloyd loop unrolls into plain
    SQL the same way the PageRank oracle does.
    """
    dist = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT),"
        f" list_transform(generate_series(1, {dim}),"
        " j -> (p.q[j] - c.c[j]) * (p.q[j] - c.c[j]))),"
        " (acc, v) -> acc + v)"
    )
    parts = [
        f"""
      c0 AS (
        SELECT grp, CAST(rn - 1 AS INT) AS code, q AS c FROM (
          SELECT grp, q,
                 row_number() OVER (PARTITION BY grp ORDER BY pid) AS rn
          FROM kpts
        ) WHERE rn <= {k}
      )"""
    ]
    for i in range(1, iters + 1):
        parts.append(f"""
      a{i} AS (
        SELECT grp, pid, q, code FROM (
          SELECT p.grp, p.pid, p.q, c.code,
                 row_number() OVER (PARTITION BY p.grp, p.pid
                   ORDER BY {dist}, c.code) AS rn
          FROM kpts p JOIN c{i - 1} c ON p.grp = c.grp
        ) WHERE rn = 1
      ),
      m{i} AS (
        SELECT grp, code, t.j AS j,
               CAST(SUM(q[t.j]) AS BIGINT) AS sm, COUNT(*) AS n
        FROM a{i}, UNNEST(generate_series(1, {dim})) AS t(j)
        GROUP BY grp, code, t.j
      ),
      c{i} AS (
        SELECT prev.grp, prev.code, COALESCE(agg.c, prev.c) AS c
        FROM c{i - 1} prev LEFT JOIN (
          SELECT grp, code, list(sm // n ORDER BY j) AS c
          FROM m{i} GROUP BY grp, code
        ) agg ON agg.grp = prev.grp AND agg.code = prev.code
      )""")
    parts.append("""
      kcents AS (
        SELECT grp, code,
               list_transform(c, v -> CAST(v AS DOUBLE) / 1048576.0 - 8.0)
                 AS centroid
        FROM c%d
      )""" % iters)
    return ",".join(parts)


@register(
    "b28_ann_ivf",
    # Fully deterministic (fixed vec_id%97 centroid seeding + sequential-
    # fold cosine, the same fold b28_cosine_topk already hash-matches), so
    # the whole IVF pipeline — argmin assignment, nprobe probe, bucket-
    # local rank — is plain SQL over the same fixture.
    oracle=f"""
      WITH cents AS (
        SELECT vec_id AS centroid_id, embedding FROM embeddings
        WHERE vec_id % 97 = 0
      ),
      assign AS (
        SELECT vec_id, centroid_id FROM (
          SELECT e.vec_id, c.centroid_id,
                 ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {_DUCK_COS.format(a='e', b='c')} DESC, c.centroid_id) AS rn
          FROM embeddings e CROSS JOIN cents c
        ) WHERE rn = 1
      ),
      probe AS (
        SELECT query_id, centroid_id FROM (
          SELECT q.vec_id AS query_id, c.centroid_id,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY {_DUCK_COS.format(a='q', b='c')} DESC, c.centroid_id) AS rn
          FROM embeddings q CROSS JOIN cents c
          WHERE q.vec_id < 5
        ) WHERE rn <= 2
      ),
      cand AS (
        SELECT p.query_id, e.vec_id AS neighbor_id,
               {_DUCK_COS.format(a='q', b='e')} AS cos
        FROM probe p
        JOIN assign a ON a.centroid_id = p.centroid_id
        JOIN embeddings e ON e.vec_id = a.vec_id
        JOIN embeddings q ON q.vec_id = p.query_id
        WHERE e.vec_id <> p.query_id
      )
      SELECT query_id, neighbor_id, cos, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        FROM cand
      ) WHERE rank <= 5
    """,
    doc="IVF ANN: nearest-centroid buckets (vec_id %% 97 == 0 seeds), nprobe=2, top-5.",
    tags=("B28",),
)
def b28_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    # % 97 yields a fixture-appropriate K (~6 buckets on 500 vectors).
    # Production fixes K independent of n (assignment is O(n·K) — see
    # ivf_assign docstring); the k-means
    # variant below trains a fixed K the production way.
    centroids = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    assigned = vx.ivf_assign(emb, centroids)
    return vx.ivf_topk(
        emb.filter(F.col("vec_id") < 5), assigned, centroids, k=5, nprobe=2
    )


# --------------------------------------------------------------------------
# B30 — multimodal columns: binary payload + typed metadata.
# --------------------------------------------------------------------------
@register(
    "b30_multimodal_meta",
    oracle="""
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             'image/png' AS mime,
             CAST(((doc_id % 1024) + 1024) % 1024 + 16 AS INT) AS width
      FROM documents
    """,
    doc="Binary payload metadata: byte length + struct fields, parquet-typed.",
    tags=("B30",),
)
def b30_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    payload = mm.attach_binary_payload(spark.table("documents"))
    return payload.select(
        "doc_id",
        F.octet_length("payload").cast("bigint").alias("n_bytes"),
        F.col("meta.mime").alias("mime"),
        F.col("meta.width").alias("width"),
    )


@register(
    "b30_multimodal_decode",
    # The stub decode's byte_sum is the sum of the payload's UTF-8 bytes;
    # SQL reconstructs it from codepoints (a codepoint u encodes to bytes
    # summing to u; 320+(u>>6)+(u&63); 480+...; 624+... for 1/2/3/4-byte
    # forms), so even the Arrow mapInPandas stage is value-hash-checked.
    oracle="""
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             -- CASE: the kernel's NULL payload yields NULL byte_sum,
             -- DuckDB's list_prepend(0, NULL) folds to 0 (§13)
             CASE WHEN text IS NULL THEN NULL ELSE
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ''), c -> CAST(
                 CASE WHEN ascii(c) < 128 THEN ascii(c)
                      WHEN ascii(c) < 2048 THEN 320 + (ascii(c) >> 6) + (ascii(c) & 63)
                      WHEN ascii(c) < 65536 THEN 480 + (ascii(c) >> 12)
                           + ((ascii(c) >> 6) & 63) + (ascii(c) & 63)
                      ELSE 624 + (ascii(c) >> 18) + ((ascii(c) >> 12) & 63)
                           + ((ascii(c) >> 6) & 63) + (ascii(c) & 63)
                 END AS BIGINT))),
               (a, b) -> a + b) AS BIGINT) END AS byte_sum,
             CAST(((doc_id % 1024) + 1024) % 1024 + 16 AS INT) AS width,
             CAST((((doc_id * 7) % 768) + 768) % 768 + 16 AS INT) AS height,
             'image/png' AS mime
      FROM documents
    """,
    doc="mapInPandas decode stage over binary payloads (STUB codec, real plumbing).",
    tags=("B30", "B26"),
)
def b30_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return mm.decode_features(mm.attach_binary_payload(spark.table("documents")))


# --------------------------------------------------------------------------
# The composed training-data pipeline: quality gate → language ID →
# near-dup removal (greedy min-id winner) → fingerprinted clean corpus.
# One declarative plan end-to-end — Catalyst fuses the scalar stages.
#
# Dedup runs the SCALE path: high-recall MinHash-LSH candidates (16
# hashes in 8 bands of 2 rows → P(no band collides at J=0.9) ≈ 1.7e-6,
# and deterministic: xxhash64 seeds, no randomness), pruned by the
# signature-estimated Jaccard (est ≥ 0.5 ⇔ ≥8/16 minima agree;
# P(est < 0.5 | J=0.9) ≈ 1e-6 — binomial tail) so the exact-verify tail
# touches ~near-dups only, then verified by exact Jaccard per candidate
# pair. The oracle keeps the all-pairs shingle self-join as ground truth
# at sf ≤ 0.01; tests/test_llm_ops.py asserts the survivor sets are
# identical.
# --------------------------------------------------------------------------
@register(
    "llm_corpus_clean_pipeline",
    oracle=f"""
      WITH {_DUCK_SHINGLES},
      counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      dup_losers AS (
        SELECT DISTINCT b.doc_id AS doc_id
        FROM sh a
        JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        JOIN counts ca ON ca.doc_id = a.doc_id
        JOIN counts cb ON cb.doc_id = b.doc_id
        GROUP BY a.doc_id, b.doc_id, ca.n_sh, cb.n_sh
        HAVING CAST(COUNT(*) AS DOUBLE) / (ca.n_sh + cb.n_sh - COUNT(*)) >= 0.9
      ),
      quality AS (
        SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents
      )
      SELECT q.doc_id,
             CAST(len(q.ws) AS BIGINT) AS n_words,
             CASE WHEN len(list_filter(q.ws, w -> list_contains(['the','a','of','and','in','to','is'], w)))
                       >= len(list_filter(q.ws, w -> list_contains(['el','la','de','que','y','los','un'], w)))
                   AND len(list_filter(q.ws, w -> list_contains(['the','a','of','and','in','to','is'], w)))
                       >= len(list_filter(q.ws, w -> list_contains(['der','die','das','und','ist','ein','zu'], w)))
                  THEN 'en'
                  WHEN len(list_filter(q.ws, w -> list_contains(['el','la','de','que','y','los','un'], w)))
                       >= len(list_filter(q.ws, w -> list_contains(['der','die','das','und','ist','ein','zu'], w)))
                  THEN 'es' ELSE 'de' END AS predicted_lang,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(q.text, ''),
                                c -> CAST(ascii(c) AS BIGINT))),
               (acc, c) -> (acc * 31 + c) % 2147483647) AS fingerprint
      FROM quality q
      WHERE len(q.ws) BETWEEN 20 AND 400
        AND q.doc_id NOT IN (SELECT doc_id FROM dup_losers)
    """,
    doc="Composed pipeline: length gate + langid + jaccard-0.9 dedup (min-id wins) + fingerprint.",
    tags=("B15", "B27", "B29"),
)
def llm_corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    docs = spark.table("documents")
    # Eager checkpoint of the candidate pairs (invariant 24 trade — the
    # BUILDER runs the LSH job): candidates feed the verify pass twice
    # (pairs + the exploded id semi-join), and unmaterialized the
    # optimizer walks the whole LSH subtree per reference while the
    # verify/anti-join planning and AQE re-optimization chain sit on a
    # ~150-node tree (~0.2 s planning per invocation, r12 measurement).
    # Checkpointed, the downstream plan sees a tiny exact-sized leaf:
    # interleaved A/B 2.33 -> 1.49 s at sf0.1 (r13, comparable
    # calibrations). Failure semantics: lost checkpoint blocks fail
    # LOUDLY and the orchestrator retries the job (the execloss
    # certification's contract, scripts/executor_loss_probe.py).
    candidates = dd.minhash_lsh_pairs(
        docs, num_hashes=16, bands=8, est_threshold=0.5
    ).localCheckpoint(eager=True)
    losers = (
        dd.jaccard_verify_pairs(docs, candidates, threshold=0.9)
        .select(F.col("doc_b").alias("doc_id"))
        # no distinct(): LEFT ANTI dedups its build side by
        # construction, and the distinct was a whole extra
        # exchange + aggregate in the AQE chain (r7 attribution pass:
        # 2.67 → 2.47 s at sf0.1, one fewer shuffle at any scale;
        # doc_b multiplicity is pair-bounded, never corpus-squared)
    )
    # SQL-text construction (r12): this select was ~0.3 s of py4j
    # round trips per invocation (3 stopword-filter lambdas + the
    # per-char fingerprint fold built via F.* Columns) — selectExpr
    # parses the identical expressions JVM-side in one trip
    # (operators/textops.py's SQL-text convention).
    base = docs.selectExpr(
        "doc_id", "text", f"{tokens_sql('text')} AS ws"
    )
    gated = base.filter("size(ws) BETWEEN 20 AND 400")
    survivors = gated.join(losers, "doc_id", "left_anti")
    h = {
        code: stopword_hits_sql("ws", words)
        for code, words in LANG_STOPWORDS.items()
    }
    return survivors.selectExpr(
        "doc_id",
        "CAST(size(ws) AS BIGINT) AS n_words",
        f"CASE WHEN {h['en']} >= {h['es']} AND {h['en']} >= {h['de']}"
        f" THEN 'en' WHEN {h['es']} >= {h['de']} THEN 'es' ELSE 'de' END"
        " AS predicted_lang",
        f"{rolling_fingerprint_sql('text')} AS fingerprint",
    )


# --------------------------------------------------------------------------
# B29 — TF-IDF top terms per document. Log-free scoring (tf × N/df as an
# exact rational in doubles) keeps it oracle-checkable: ln() ulps differ
# across libm builds. One explode + two aggregates + a rank filter.
# --------------------------------------------------------------------------
@register(
    "b29_tfidf_top_terms",
    oracle="""
      WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
      ),
      tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
      n AS (SELECT COUNT(*) AS n_docs FROM documents),
      scored AS (
        SELECT tf.doc_id, tf.word,
               CAST(tf.tf AS DOUBLE) * (SELECT n_docs FROM n) / df.df AS score
        FROM tf JOIN df USING (word)
      )
      SELECT doc_id, word, score, rnk FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY score DESC, word) AS BIGINT) AS rnk
        FROM scored
      ) WHERE rnk <= 3
    """,
    doc="TF-IDF (log-free rational idf) top-3 terms per doc, rank tie-broken.",
    tags=("B29",),
)
def b29_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    register_tables(spark, sf_dir)
    docs = spark.table("documents")
    tok = docs.selectExpr("doc_id", f"explode({tokens_sql('text')}) AS word")
    tf = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    # df derived FROM tf (one row per (doc, word), so a plain count IS
    # countDistinct(doc_id)) — drops the expand-plan distinct
    # aggregation. The corpus still tokenizes twice (column pruning
    # gives the two tf subtrees different outputs, so ReuseExchange
    # can't unify them) and that is the SCALE-correct trade: df is
    # vocab-sized and broadcasts, so the big tf side never shuffles by
    # word — a single-pass window-count-over-word form would instead
    # shuffle every (doc, word) row onto hot stopword keys.
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    # corpus size as a broadcast 1-row aggregate INSIDE the plan — the
    # builder triggers no action and the count scan runs once per job,
    # fused by AQE, instead of once per build
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    scored = tf.join(df, "word").crossJoin(F.broadcast(n)).select(
        "doc_id",
        "word",
        (F.col("tf").cast("double") * F.col("_n_docs") / F.col("df")).alias(
            "score"
        ),
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("word"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "word", "score", "rnk")
    )


# --------------------------------------------------------------------------
# B28/B30 — int8 embedding quantization: per-vector symmetric scale,
# round-half-up via floor(x+0.5) (identical in both engines, unlike
# round()'s half-even/half-away split on doubles). Array-free outputs.
# --------------------------------------------------------------------------
@register(
    "b28_embedding_quantize_int8",
    oracle="""
      WITH s AS (
        -- scale 0.0 below max|x| = 1e-306: 127/max overflows DOUBLE
        -- under ~7e-307 (subnormal-noise vectors carry no quantizable
        -- signal), and the zero vector divides by zero outright —
        -- both quantize to all-zeros (r8 zero-vector semantics)
        SELECT vec_id,
               CASE WHEN list_max(list_transform(embedding, x -> abs(x::DOUBLE))) < 1e-306
                    THEN 0.0
                    ELSE 127.0 / list_max(list_transform(embedding, x -> abs(x::DOUBLE)))
               END AS scale
        FROM embeddings
      )
      SELECT e.vec_id,
             s.scale,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(e.embedding,
                      x -> CAST(FLOOR(x::DOUBLE * s.scale + 0.5) AS BIGINT))),
                  (a, b) -> a + b) AS BIGINT) AS q_sum,
             CAST(list_max(list_transform(e.embedding,
                    x -> abs(CAST(FLOOR(x::DOUBLE * s.scale + 0.5) AS BIGINT)))) AS BIGINT)
               AS q_max_abs
      FROM embeddings e JOIN s USING (vec_id)
    """,
    doc="Symmetric int8 quantization: scale, quantized sum, max |q| = 127.",
    tags=("B28", "B30"),
)
def b28_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    e = spark.table("embeddings")
    absd = F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    # scale 0.0 below max|x| = 1e-306 (127/max overflows DOUBLE under
    # ~7e-307; the zero vector divides by zero under ANSI) — such
    # vectors quantize to all-zeros; mirrored in the oracle (r8)
    max_abs = F.array_max(absd)
    scale = (
        F.when(max_abs < F.lit(1e-306), F.lit(0.0))
        .otherwise(F.lit(127.0) / max_abs)
        .alias("scale")
    )
    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * F.col("scale") + F.lit(0.5)).cast(
            "bigint"
        ),
    )
    return (
        e.select("vec_id", scale, "embedding")
        .select(
            "vec_id",
            "scale",
            F.aggregate(
                q, F.lit(0).cast("bigint"), lambda a, b: a + b
            ).alias("q_sum"),
            F.array_max(F.transform(q, lambda v: F.abs(v))).cast("bigint").alias(
                "q_max_abs"
            ),
        )
    )


# --------------------------------------------------------------------------
# B28 — IVF with *trained* centroids: deterministic integer-Lloyd
# k-means (operators/kmeans.py) learns the coarse quantizer; assignment
# and probing reuse the same broadcast-argmin operators as the
# hashed-seed variant. Oracle-green since r3: the unrolled training loop
# is int64 arithmetic (the PageRank discipline), the published centers
# are exact doubles, and the downstream cosine pipeline is the same fold
# b28_cosine_topk already hash-matches — so the ENTIRE train→assign→
# probe→rank pipeline is replayed by DuckDB bit-for-bit.
# --------------------------------------------------------------------------

# quantized-points CTE shared by the k-means-trained ANN oracles
_DUCK_KPTS_EMB = """
      kpts AS (
        SELECT 0 AS grp, vec_id AS pid,
               list_transform(embedding,
                 x -> CAST(FLOOR((CAST(x AS DOUBLE) + 8.0) * 1048576.0)
                           AS BIGINT)) AS q
        FROM embeddings
      )"""


@register(
    "b28_ann_ivf_kmeans",
    oracle=f"""
      WITH {_DUCK_KPTS_EMB},
      {_duck_kmeans_cte(k=8, dim=64, iters=5)},
      cents AS (
        SELECT CAST(code AS BIGINT) AS centroid_id, centroid AS embedding
        FROM kcents
      ),
      assign AS (
        SELECT vec_id, centroid_id FROM (
          SELECT e.vec_id, c.centroid_id,
                 ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {_DUCK_COS.format(a='e', b='c')} DESC, c.centroid_id) AS rn
          FROM embeddings e CROSS JOIN cents c
        ) WHERE rn = 1
      ),
      probe AS (
        SELECT query_id, centroid_id FROM (
          SELECT q.vec_id AS query_id, c.centroid_id,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY {_DUCK_COS.format(a='q', b='c')} DESC, c.centroid_id) AS rn
          FROM embeddings q CROSS JOIN cents c
          WHERE q.vec_id < 5
        ) WHERE rn <= 2
      ),
      cand AS (
        SELECT p.query_id, e.vec_id AS neighbor_id,
               {_DUCK_COS.format(a='q', b='e')} AS cos
        FROM probe p
        JOIN assign a ON a.centroid_id = p.centroid_id
        JOIN embeddings e ON e.vec_id = a.vec_id
        JOIN embeddings q ON q.vec_id = p.query_id
        WHERE e.vec_id <> p.query_id
      )
      SELECT query_id, neighbor_id, cos, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        FROM cand
      ) WHERE rank <= 5
    """,
    doc="IVF-ANN over k-means-trained centroids (deterministic integer Lloyd, k=8×5 iters), nprobe=2, top-5.",
    tags=("B28",),
)
def b28_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_plan_service_spark.operators.kmeans import kmeans_integer

    register_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    centroids = kmeans_integer(
        emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("vec")
        ),
        k=8,
        dim=64,
        iters=5,
        vec="vec",
        id_col="vec_id",
    ).select(F.col("code").cast("bigint").alias("centroid_id"),
             F.col("centroid").alias("embedding"))
    assigned = vx.ivf_assign(emb, centroids)
    return vx.ivf_topk(
        emb.filter(F.col("vec_id") < 5), assigned, centroids, k=5, nprobe=2
    )


# --------------------------------------------------------------------------
# B30 — frame sampling: 1→N mapInPandas over binary payloads. The frame
# count and first-frame hash are oracle-checkable because the stub
# "codec" is plain byte arithmetic the oracle can replicate on the text.
# --------------------------------------------------------------------------
@register(
    "b30_multimodal_frame_sample",
    oracle="""
      SELECT doc_id,
             CAST(CEIL(octet_length(encode(text)) / 64.0) AS BIGINT) AS n_frames
      FROM documents
    """,
    doc="Per-payload frame count from the mapInPandas frame sampler (stride 64).",
    tags=("B30", "B26"),
)
def b30_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    docs = spark.table("documents")
    frames = mm.sample_frames(mm.attach_binary_payload(docs))
    counts = frames.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_frames"))
    # empty payloads emit zero frames — restore those docs with n_frames=0
    # so the output covers every document (matches the oracle's CEIL(0)=0);
    # NULL text stays NULL (the oracle's CEIL(length(NULL)) — §13)
    return docs.select(
        "doc_id", F.col("text").isNull().alias("_tnull")
    ).join(counts, "doc_id", "left").select(
        "doc_id",
        F.when(F.col("_tnull"), F.lit(None).cast("bigint"))
        .otherwise(F.coalesce("n_frames", F.lit(0).cast("bigint")))
        .alias("n_frames"),
    )


# --------------------------------------------------------------------------
# B30 — resize-to-fit: the 1→1 multimodal transform. The stub codec's
# arithmetic (scale = min(1, 64/max(w,h)), floor'd dims, payload cut to
# floor(n·s·s)) is pure IEEE double math, so this mapInPandas stage is
# fully oracle-checked — the strongest verification of the Arrow
# plumbing contract among the B30 stages.
# --------------------------------------------------------------------------
@register(
    "b30_multimodal_resize",
    oracle="""
      WITH m AS (
        SELECT doc_id,
               CAST(doc_id % 1024 + 16 AS INT) AS width,
               CAST((doc_id * 7) % 768 + 16 AS INT) AS height,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        FROM documents
      )
      SELECT doc_id, width, height,
             CAST(FLOOR(width * LEAST(1.0, 64.0 / GREATEST(width, height)))
                  AS INT) AS new_width,
             CAST(FLOOR(height * LEAST(1.0, 64.0 / GREATEST(width, height)))
                  AS INT) AS new_height,
             n_bytes,
             CAST(FLOOR(n_bytes
                  * LEAST(1.0, 64.0 / GREATEST(width, height))
                  * LEAST(1.0, 64.0 / GREATEST(width, height)))
                  AS BIGINT) AS n_bytes_after
      FROM m
    """,
    doc="Resize-to-fit (max side 64) over mapInPandas — stub codec, oracle-exact arithmetic.",
    tags=("B30", "B26"),
)
def b30_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return mm.resize_payloads(mm.attach_binary_payload(spark.table("documents")))


# --------------------------------------------------------------------------
# Training-data prep: fixed-size document chunking with overlap. Chunks
# of 32 words, stride 24 (8-word overlap) — array-slice algebra, one
# explode, no Python.
# --------------------------------------------------------------------------
@register(
    "llm_doc_chunking",
    oracle="""
      WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      )
      SELECT doc_id,
             CAST(u.i - 1 AS BIGINT) AS chunk_idx,
             COALESCE(array_to_string(
               t.ws[(u.i - 1) * 24 + 1 : (u.i - 1) * 24 + 32], ' '), '')
               AS chunk_text,
             CAST(len(t.ws[(u.i - 1) * 24 + 1 : (u.i - 1) * 24 + 32]) AS BIGINT)
               AS chunk_words
      FROM t,
      UNNEST(generate_series(1,
        greatest(CAST(CEIL((len(t.ws) - 32) / 24.0) AS BIGINT) + 1, 1))) AS u(i)
    """,
    doc="Fixed-size chunking (32 words, stride 24): every word covered, tail kept.",
    tags=("B29", "B19"),
)
def llm_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    d = spark.table("documents").selectExpr(
        "doc_id", f"{tokens_sql('text')} AS ws"
    )
    n_chunks = F.greatest(
        F.ceil((F.size("ws") - F.lit(32)) / F.lit(24.0)).cast("bigint") + 1,
        F.lit(1).cast("bigint"),
    )
    chunked = d.select(
        "doc_id",
        "ws",
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)).alias(
            "chunk_idx"
        ),
    )
    piece = F.slice(
        F.col("ws"), (F.col("chunk_idx") * 24 + 1).cast("int"), 32
    )
    return chunked.select(
        "doc_id",
        "chunk_idx",
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).cast("bigint").alias("chunk_words"),
    )


# --------------------------------------------------------------------------
# Training-data prep: sequence packing — contiguous greedy packing of
# documents into fixed token budgets via a running-length cumsum (the
# deterministic, shuffle-once form of pretraining sample packing).
# --------------------------------------------------------------------------
@register(
    "llm_sequence_packing",
    oracle="""
      WITH t AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_words,
               doc_id % 32 AS shard
        FROM documents
      ),
      c AS (
        SELECT doc_id, n_words, shard,
               COALESCE(SUM(n_words) OVER (PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
        FROM t
      )
      SELECT doc_id,
             CAST(n_words AS BIGINT) AS n_words,
             CAST(shard AS BIGINT) AS shard,
             CAST(shard * 1099511627776 + before // 512 AS BIGINT) AS pack_id,
             CAST(before % 512 AS BIGINT) AS pack_offset
      FROM c
    """,
    doc="Sharded sequence packing: per-shard cumsum-of-lengths // budget, pack ids namespaced by shard.",
    tags=("B29", "B12"),
)
def llm_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    return _pack_sharded(spark.table("documents"))


def _pack_sharded(docs: DataFrame, shards: int = 32) -> DataFrame:
    # Sharded cumsum: the window partitions by a deterministic shard key
    # so the sort is per-shard (parallel, spill-safe) instead of a single
    # global task. Pack ids are namespaced by shard (shard · 2^40 +
    # local pack) — each shard packs independently, the production shape
    # for pretraining sample packing; size ``shards`` to the cluster
    # (the canonical query pins 32 to match its oracle).
    # tests/test_llm_ops.py ties each shard's packing to the global
    # algorithm run on that shard; tests/test_properties.py checks
    # random inputs against a Python model.
    from pyspark.sql import Window as W

    t = docs.select(
        "doc_id",
        F.size(F.expr(tokens_sql("text"))).alias("n_words"),
        (F.col("doc_id") % shards).alias("shard"),
    )
    w = (
        W.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    c = t.withColumn("before", F.coalesce(F.sum("n_words").over(w), F.lit(0)))
    return c.select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        F.col("shard").cast("bigint").alias("shard"),
        (
            F.col("shard").cast("bigint") * F.lit(1099511627776).cast("bigint")
            + F.expr("before div 512")
        ).alias("pack_id"),
        F.expr("before % 512").cast("bigint").alias("pack_offset"),
    )


# --------------------------------------------------------------------------
# B28 — banded random-hyperplane LSH ANN (the vector analog of the
# MinHash-LSH text path). The plane components are engine-portable int64
# arithmetic (operators/vectors.py:_hyperplane_band_buckets), so the
# oracle reproduces planes → sign bits → band buckets → candidate set →
# exact rerank bit-for-bit: the full ANN pipeline is hash-checked.
# --------------------------------------------------------------------------


def _duck_lsh_hyperplane() -> str:
    """DuckDB mirror of lsh_topk(planes=16, bands=4, dim=64, k=5)."""

    def plane_dot(p: int) -> str:
        # identical fold order + arithmetic as _plane_fold: left fold over
        # j = 0..63 of emb[j+1] * ((((j + p*64 + 1) * 2654435761)
        # % (2^31-1)) % 2001 - 1000) / 1000.0
        return (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            "list_transform(generate_series(0, 63), "
            f"j -> e.embedding[j + 1]::DOUBLE * (((((j + {p * 64 + 1}) * 2654435761) "
            "% 2147483647) % 2001 - 1000) / 1000.0))), (x, y) -> x + y)"
        )

    def bucket(band: int) -> str:
        return " + ".join(
            f"CASE WHEN {plane_dot(band * 4 + i)} > 0 THEN {1 << i} ELSE 0 END"
            for i in range(4)
        )

    bb = "\n        UNION ALL ".join(
        f"SELECT vec_id, {band} AS band, CAST({bucket(band)} AS BIGINT) AS bucket FROM embeddings e"
        for band in range(4)
    )
    return f"""
      WITH bb AS (
        {bb}
      ),
      cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM bb c JOIN bb q ON c.band = q.band AND c.bucket = q.bucket
        WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
      ),
      scored AS (
        SELECT cand.query_id, cand.neighbor_id,
               {_DUCK_COS.format(a='qe', b='ce')} AS cos
        FROM cand
        JOIN embeddings qe ON qe.vec_id = cand.query_id
        JOIN embeddings ce ON ce.vec_id = cand.neighbor_id
      )
      SELECT query_id, neighbor_id, cos, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        FROM scored
      ) WHERE rank <= 5
    """


@register(
    "b28_ann_lsh_hyperplane",
    oracle=_duck_lsh_hyperplane(),
    doc="Banded hyperplane-LSH ANN: 16 sign bits / 4 bands, bucket-local exact rerank.",
    tags=("B28",),
)
def b28_ann_lsh_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    return vx.lsh_topk(emb.filter(F.col("vec_id") < 5), emb, k=5)


# --------------------------------------------------------------------------
# Dedup clusters: connected components over the exact near-dup pair graph
# (iterative min-label propagation; see operators/components.py). The
# oracle computes the same components with a recursive CTE — one of the
# few genuinely iterative algorithms that still has a SQL ground truth.
# --------------------------------------------------------------------------
@register(
    "llm_dedup_clusters",
    oracle=f"""
      WITH RECURSIVE {_DUCK_SHINGLES},
      counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        JOIN counts ca ON ca.doc_id = a.doc_id
        JOIN counts cb ON cb.doc_id = b.doc_id
        GROUP BY a.doc_id, b.doc_id, ca.n_sh, cb.n_sh
        HAVING CAST(COUNT(*) AS DOUBLE) / (ca.n_sh + cb.n_sh - COUNT(*)) >= 0.5
      ),
      edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
      ),
      reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
      )
      SELECT a AS doc_id,
             LEAST(a, MIN(b)) AS component
      FROM reach GROUP BY a
    """,
    doc="Connected components of the jaccard-0.5 near-dup graph (min-id labels) vs recursive CTE.",
    tags=("B27", "B15"),
)
def llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Edge generation runs the scale path (MinHash-LSH candidates +
    # exact-Jaccard verify), like llm_corpus_clean_pipeline — never the
    # all-pairs shingle self-join. Because a missed edge can SPLIT a
    # component (and this query's oracle is the exact recursive CTE),
    # the banding is extra wide: 64 hashes / 32 bands of 2 rows →
    # P(miss) = (1 − J²)^32 ≈ 1e-4 at exactly J = 0.5, 4e-10 at J = 0.7.
    # On the fixtures recall is exactly 1 (deterministic xxhash64 seeds),
    # asserted as edge-set EQUALITY against the all-pairs truth in
    # tests/test_llm_ops.py — the strongest possible tie.
    from hive_plan_service_spark.operators.components import connected_components

    register_tables(spark, sf_dir)
    docs = spark.table("documents")
    # Eager checkpoint (invariant 24 trade, r13): verify references the
    # candidates twice — same plan-truncation win as the capped twin.
    cands = dd.minhash_lsh_pairs(
        docs, num_hashes=64, bands=32, est_threshold=0.0
    ).localCheckpoint(eager=True)
    pairs = dd.jaccard_verify_pairs(docs, cands, threshold=0.5)
    comps = connected_components(pairs, src="doc_a", dst="doc_b")
    return comps.select(F.col("vertex").alias("doc_id"), "component")


def dedup_clusters_production(
    spark: SparkSession, sf_dir: str, *, max_bucket: int | None = 64
) -> DataFrame:
    """The 100 TB dedup composition: strip → capped LSH → verify → CC.

    ``llm_dedup_clusters`` must run UNCAPPED banding to keep its exact
    recursive-CTE oracle (invariant 11) — but at 100 TB uncapped
    degenerate buckets are exactly the risk the ``max_bucket`` knob
    exists for. This composition is the production answer: corpus-wide
    boilerplate (the dominant source of degenerate band buckets — B
    docs sharing a template yield B² candidate pairs) is REMOVED first
    by the C4-style segment strip, after which a bucket-size cap is
    safe: over-cap buckets on the stripped corpus are near-identical
    residual content whose pairs the cap's docstring scopes out.
    Cap-safety is pytest-pinned (a corpus whose over-cap buckets are
    exclusively boilerplate clusters identically capped vs uncapped)
    and the oracle runs the EXACT all-pairs graph on the pre-stripped
    corpus — green iff the capped LSH loses no true edge at fixture
    scale.
    """
    from hive_plan_service_spark.operators.components import connected_components
    from hive_plan_service_spark.plans.curation_ops import llm_boilerplate_strip

    stripped = (
        llm_boilerplate_strip(spark, sf_dir)
        .filter(F.length("clean_text") > 0)
        .select("doc_id", F.col("clean_text").alias("text"))
    )
    # Materialize the stripped corpus (eager checkpoint — the builder
    # runs jobs, a deliberate trade per invariant 24): it feeds the LSH
    # signature pass AND both sides of the verify join AND the CC loop;
    # unmaterialized, the two-shuffle strip subtree would execute three
    # times in the edge plan and once more per propagation round.
    stripped = stripped.localCheckpoint(eager=True)
    cands = dd.minhash_lsh_pairs(
        stripped,
        num_hashes=64,
        bands=32,
        est_threshold=0.0,
        max_bucket=max_bucket,
    )
    # Eager checkpoint of the candidate pairs too (invariant 24 trade,
    # r13): the verify pass references them twice and the 64-hash LSH
    # subtree dominates the edge plan's optimizer work; checkpointed,
    # the verify join plans against a small exact-sized leaf (same
    # measurement story as llm_corpus_clean_pipeline's candidates).
    cands = cands.localCheckpoint(eager=True)
    pairs = dd.jaccard_verify_pairs(stripped, cands, threshold=0.5)
    comps = connected_components(pairs, src="doc_a", dst="doc_b")
    return comps.select(F.col("vertex").alias("doc_id"), "component")


@register(
    "llm_dedup_clusters_capped",
    oracle=f"""
      WITH RECURSIVE {DUCK_STRIP_CTES},
      stripped AS (
        SELECT t.doc_id, coalesce(k.clean_text, '') AS text
        FROM totals t LEFT JOIN kept k USING (doc_id)
        WHERE len(coalesce(k.clean_text, '')) > 0
      ),
      ssh AS (
        SELECT DISTINCT doc_id, shingle FROM (
          SELECT s.doc_id,
                 concat_ws(' ', s.ws[u.i], s.ws[u.i+1], s.ws[u.i+2]) AS shingle
          FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM stripped) s,
          UNNEST(generate_series(1, greatest(len(s.ws) - 3, 0) + 1)) AS u(i)
        )
      ),
      counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM ssh GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM ssh a JOIN ssh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        JOIN counts ca ON ca.doc_id = a.doc_id
        JOIN counts cb ON cb.doc_id = b.doc_id
        GROUP BY a.doc_id, b.doc_id, ca.n_sh, cb.n_sh
        HAVING CAST(COUNT(*) AS DOUBLE) / (ca.n_sh + cb.n_sh - COUNT(*)) >= 0.5
      ),
      edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
      ),
      reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
      )
      SELECT a AS doc_id,
             LEAST(a, MIN(b)) AS component
      FROM reach GROUP BY a
    """,
    doc="Production dedup composition: boilerplate strip → max_bucket-capped LSH → verify → clusters, vs the exact graph on the stripped corpus.",
    tags=("B27", "B15", "B29"),
)
def llm_dedup_clusters_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_clusters_production(spark, sf_dir, max_bucket=64)


# --------------------------------------------------------------------------
# B29 — language ID, char-n-gram profile variant: score = overlap of the
# document's char trigrams with small per-language profile sets.
# --------------------------------------------------------------------------
_LANG_TRIGRAMS = {
    "en": ("the", "ing", "and", " th", "he "),
    "es": ("de ", "la ", "os ", "ión", "el "),
    "de": ("der", "ie ", "ein", "sch", "und"),
}


@register(
    "b29_text_langid_ngram",
    oracle="""
      WITH grams AS (
        SELECT doc_id,
               list_distinct(list_transform(generate_series(1, length(text) - 2),
                 i -> text[i : i + 2])) AS tg
        FROM documents
      )
      SELECT doc_id,
             CASE WHEN len(list_filter(tg, g -> list_contains(['the','ing','and',' th','he '], g)))
                       >= len(list_filter(tg, g -> list_contains(['de ','la ','os ','ión','el '], g)))
                   AND len(list_filter(tg, g -> list_contains(['the','ing','and',' th','he '], g)))
                       >= len(list_filter(tg, g -> list_contains(['der','ie ','ein','sch','und'], g)))
                  THEN 'en'
                  WHEN len(list_filter(tg, g -> list_contains(['de ','la ','os ','ión','el '], g)))
                       >= len(list_filter(tg, g -> list_contains(['der','ie ','ein','sch','und'], g)))
                  THEN 'es' ELSE 'de' END AS predicted_lang,
             CAST(len(list_filter(tg, g -> list_contains(['the','ing','and',' th','he '], g))) AS BIGINT)
               AS en_hits
      FROM grams
    """,
    doc="Char-trigram-profile language ID (argmax over per-lang gram sets, en>es>de tiebreak).",
    tags=("B29",),
)
def b29_text_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    d = spark.table("documents")
    tg = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length("text") - 2),
            lambda i: F.col("text").substr(i, F.lit(3)),
        )
    )

    def _hit_counter(grams: tuple[str, ...]):
        # closure factory — a default-arg lambda reads as the 2-ary
        # (element, index) filter form and binds the index instead
        arr = F.array(*[F.lit(x) for x in grams])

        def pred(g):
            return F.array_contains(arr, g)

        return F.size(F.filter(tg, pred))

    hits = {code: _hit_counter(grams) for code, grams in _LANG_TRIGRAMS.items()}
    return d.select(
        "doc_id",
        F.when((hits["en"] >= hits["es"]) & (hits["en"] >= hits["de"]), "en")
        .when(hits["es"] >= hits["de"], "es")
        .otherwise("de")
        .alias("predicted_lang"),
        hits["en"].cast("bigint").alias("en_hits"),
    )


# --------------------------------------------------------------------------
# B28 — product quantization (PQ-ADC): 64 floats → 8 codes; query-time
# distance = 8 broadcast-table lookups per corpus row. Oracle-green since
# r3: codebooks come from the deterministic integer-Lloyd trainer
# (operators/kmeans.py), ADC partials are int64 micro-units (order-free
# sums), and the re-rank cosine is the proven sequential fold — DuckDB
# replays normalize → train → encode → ADC shortlist → exact re-rank.
# --------------------------------------------------------------------------

def _duck_pq_oracle(*, subspaces: int = 8, codes: int = 64, width: int = 8,
                    shortlist: int = 50, k: int = 5) -> str:
    """Full-SQL mirror of b28_ann_pq (see the register call below)."""
    def fold(expr: str, init: str = "CAST(0.0 AS DOUBLE)") -> str:
        return (
            f"list_reduce(list_prepend({init}, {expr}), (acc, v) -> acc + v)"
        )

    # sequential-fold squared L2 between two double lists (a[j], b[j])
    def l2sq(a: str, b: str) -> str:
        return fold(
            f"list_transform(generate_series(1, {width}),"
            f" j -> ({a}[j] - {b}[j]) * ({a}[j] - {b}[j]))"
        )

    # sequential-fold cosine between two double lists
    def cos(a: str, b: str) -> str:
        d = fold(f"list_transform(generate_series(1, 64), j -> {a}[j] * {b}[j])")
        na = fold(f"list_transform(generate_series(1, 64), j -> {a}[j] * {a}[j])")
        nb = fold(f"list_transform(generate_series(1, 64), j -> {b}[j] * {b}[j])")
        # total cosine: zero-norm operand scores 0.0 (cos_div mirror)
        den = f"(sqrt({na}) * sqrt({nb}))"
        return f"(CASE WHEN {den} = 0 THEN 0.0 ELSE {d} / {den} END)"

    sq_norm = fold(
        "list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))"
    )
    sub = "e[t.s * {w} + 1 : t.s * {w} + {w}]".format(w=width)
    return f"""
      WITH un AS (
        -- zero-norm vectors stay zero (sq_norm of a subnormal-only
        -- vector underflows to 0 too — the guard catches both; r8)
        SELECT vec_id,
               list_transform(embedding,
                 x -> CASE WHEN sqrt({sq_norm}) = 0 THEN 0.0
                           ELSE CAST(x AS DOUBLE) / sqrt({sq_norm}) END) AS e
        FROM embeddings
      ),
      kpts AS (
        SELECT t.s AS grp, vec_id AS pid,
               list_transform({sub},
                 x -> CAST(FLOOR((x + 8.0) * 1048576.0) AS BIGINT)) AS q
        FROM un, UNNEST(generate_series(0, {subspaces - 1})) AS t(s)
      ),
      {_duck_kmeans_cte(k=codes, dim=width, iters=5)},
      sv AS (
        SELECT t.s AS s, vec_id, {sub} AS sub
        FROM un, UNNEST(generate_series(0, {subspaces - 1})) AS t(s)
      ),
      enc AS (
        SELECT s, vec_id, code FROM (
          SELECT v.s, v.vec_id, b.code,
                 ROW_NUMBER() OVER (PARTITION BY v.s, v.vec_id
                   ORDER BY {l2sq('v.sub', 'b.centroid')}, b.code) AS rn
          FROM sv v JOIN kcents b ON b.grp = v.s
        ) WHERE rn = 1
      ),
      ptab AS (
        SELECT q.s, q.vec_id AS query_id, b.code,
               CAST(FLOOR({l2sq('q.sub', 'b.centroid')}
                          * 1099511627776.0) AS BIGINT) AS pdist
        FROM sv q JOIN kcents b ON b.grp = q.s
        WHERE q.vec_id < 5
      ),
      ad AS (
        SELECT p.query_id, e.vec_id AS neighbor_id,
               CAST(SUM(p.pdist) AS BIGINT) AS adist
        FROM enc e JOIN ptab p ON p.s = e.s AND p.code = e.code
        WHERE e.vec_id <> p.query_id
        GROUP BY p.query_id, e.vec_id
      ),
      short AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY adist, neighbor_id) AS rn
          FROM ad
        ) WHERE rn <= {shortlist}
      ),
      rer AS (
        SELECT s.query_id, s.neighbor_id, {cos('q.e', 'c.e')} AS cos
        FROM short s
        JOIN un q ON q.vec_id = s.query_id
        JOIN un c ON c.vec_id = s.neighbor_id
      )
      SELECT query_id, neighbor_id, cos, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
        FROM rer
      ) WHERE rank <= {k}
    """


@register(
    "b28_ann_pq",
    oracle=_duck_pq_oracle(),
    doc="PQ ANN: 8 subspaces x 64 codes (deterministic integer Lloyd), int64 ADC shortlist-50 + exact re-rank, top-5.",
    tags=("B28",),
)
def b28_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    emb = spark.table("embeddings")
    # unit-normalize so squared-L2 ordering matches cosine ordering (the
    # recall tie in tests compares against exact cosine top-k)
    nrm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda a, v: a + v,
        )
    )
    unit = emb.select(
        "vec_id",
        # zero-norm vectors stay zero (ANSI / throws on zero divisor;
        # mirrored in the oracle CTE — r8 zero-vector semantics)
        F.transform(
            "embedding",
            lambda x: F.when(nrm == F.lit(0.0), F.lit(0.0)).otherwise(
                x.cast("double") / nrm
            ),
        ).alias("embedding"),
    )
    books = vx.pq_train_codebooks(unit, subspaces=8, codes=64)
    codes = vx.pq_encode(unit, books, subspaces=8)
    return vx.pq_topk_refined(
        unit.filter(F.col("vec_id") < 5), codes, books, unit, k=5, subspaces=8
    )


# --------------------------------------------------------------------------
# Iterative graph op — PageRank authority over the order→part bipartite
# graph. Integer micro-unit arithmetic: bit-identical at any
# parallelism. Since r3 the 5 iterations are UNROLLED into chained CTEs
# (standard SQL forbids aggregates in a recursive member, but a fixed
# iteration count needs no recursion) — all integer div/multiply/sum,
# so even this "genuinely iterative" operator is oracle-hash-checked.
# --------------------------------------------------------------------------


def _duck_pagerank(iterations: int = 5) -> str:
    """DuckDB mirror of operators/pagerank.py (SCALE=1e12, damp 85/100).

    `//` (floor div) equals Spark's `div` (truncation) here because every
    operand is non-negative.
    """
    head = """
      WITH edges AS (
        SELECT l_orderkey AS src, -l_partkey - 1 AS dst FROM lineitem
      ),
      nodes AS (
        SELECT DISTINCT node FROM (
          SELECT src AS node FROM edges
          UNION ALL SELECT dst FROM edges
        )
      ),
      nn AS (SELECT COUNT(*) AS n FROM nodes),
      deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
      r0 AS (
        SELECT node, CAST(1000000000000 AS BIGINT) // (SELECT n FROM nn) AS rank
        FROM nodes
      )"""
    steps = []
    for k in range(1, iterations + 1):
        p = k - 1
        steps.append(f""",
      c{k} AS (
        SELECT e.dst AS node, SUM(r.rank // d.deg) AS contrib
        FROM r{p} r JOIN deg d USING (node) JOIN edges e ON e.src = r.node
        GROUP BY e.dst
      ),
      d{k} AS (
        SELECT COALESCE(SUM(r.rank), 0) AS dang
        FROM r{p} r LEFT JOIN deg d USING (node) WHERE d.deg IS NULL
      ),
      r{k} AS (
        SELECT n.node,
               (CAST(1000000000000 AS BIGINT) // (SELECT n FROM nn)) * 15 // 100
               + 85 * (COALESCE(c.contrib, 0)
                       + (SELECT dang FROM d{k}) // (SELECT n FROM nn)) // 100
                 AS rank
        FROM nodes n LEFT JOIN c{k} c USING (node)
      )""")
    tail = f"""
      SELECT node, rank FROM r{iterations}
      ORDER BY rank DESC, node LIMIT 20
    """
    return head + "".join(steps) + tail


@register(
    "llm_pagerank_authority",
    oracle=_duck_pagerank(5),
    doc="5-iteration integer PageRank over order->part edges; top-20 by (rank desc, node).",
    tags=("B19", "llm"),
)
def llm_pagerank_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hive_plan_service_spark.operators.pagerank import pagerank

    register_tables(spark, sf_dir)
    # parts namespaced into negative ids so the two node families can't
    # collide (order keys are non-negative)
    edges = spark.table("lineitem").select(
        F.col("l_orderkey").alias("src"),
        (-F.col("l_partkey") - 1).alias("dst"),
    )
    ranks = pagerank(edges, iterations=5)
    return ranks.orderBy(F.desc("rank"), F.asc("node")).limit(20)
