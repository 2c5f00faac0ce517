"""LLM-training-data pipeline operators (SURVEY §7.2 step 10 /
BASELINE.json north star) over the documents and embeddings tables:
deduplication (exact, MinHash+LSH, SimHash), text analysis
(token stats, quality score, language-ID heuristic, fingerprints) and
similarity search (brute-force cosine top-k; LSH-banded scale path in
operators/dedup.py shares the banding machinery).

Oracle notes: every hash is md5-derived (identical in Spark and
DuckDB); cross-row float reductions use decimal accumulation
(plans/_parity.py rationale) so even the cosine scores are
bit-identical to the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import (
    A,
    B,
    BAND_ROWS,
    GRAM_K,
    N_HASHES,
    P,
    SIMHASH_A,
    SIMHASH_B,
    SIMHASH_BANDS,
    SIMHASH_MAXBITS,
    SIMHASH_MINBITS,
    SIMHASH_W_MARGIN,
    banded_simhash_doc_frame,
    base_hash_sql,
    exact_duplicates,
    near_dup_pairs,
    simhash16_from_hashes,
    word_hashes_sql,
)
from ..operators.similarity_search import (
    N_PLANES,
    ann_topk,
    dot_cols,
    embedding_near_dup_pairs,
    norm_cols,
    rename_exprs,
    sql_dot,
    sql_l1,
    sql_plane_dot,
    sql_sign_agree,
    wide_base,
)
from ..sources.bronze import load_table
from .registry import register

# MEASURED NEGATIVE (round 12), recorded so it isn't re-tried: a
# "layout-adaptive scan spread" — repartition(defaultParallelism)
# after the documents scan whenever file metadata shows fewer scan
# splits than half the cores (the sf0.1 testdata is ONE parquet file,
# so the scan stage and everything codegen fuses into it runs as one
# task of 32) — was A/B'd same-session, alternating, min-of-6 at
# sf0.1 on the two heaviest single-task-profiled queries:
#   bigram_lm_quality          1.349s spread vs 1.369s without
#   corpus_curation_report     1.034s spread vs 1.030s without
# Washes both times: warm single-task explode/gram stages are already
# ~0.2s, and the extra round-robin exchange + stage costs exactly what
# the 32-way parallelism saves at this input size. The one-shot cold
# profiles (0.5-0.7s single-task walls) that motivated it were JIT
# warmup, not steady state. At 100 TB the layout has many splits and
# the spread would never trigger — so there is nothing to ship.

# ---------------------------------------------------------------------------
# Shared SQL fragments for the md5-based hash family (must mirror
# operators/dedup.py constants exactly).
# ---------------------------------------------------------------------------
_SQL_BASE_HASH = "(TRY_CAST('0x' || SUBSTRING(md5({x}), 1, 15) AS BIGINT) % {p})".format(
    x="{x}", p=P
)


def _sql_minhash(k: int) -> str:
    # signatures run over the PRE-COMPUTED gram-hash array `s`
    return (
        f"LIST_MIN(LIST_TRANSFORM(s, x -> ({A[k]} * x + {B[k]}) % {P})) AS mh{k}"
    )


_N_BANDS = N_HASHES // BAND_ROWS


def _sql_band(b: int) -> str:
    cols = ", ".join(f"mh{b * BAND_ROWS + r}" for r in range(BAND_ROWS))
    return f"CONCAT_WS('_', {cols}) AS band{b}"


@register(
    "exact_dedup_documents",
    oracle="""
    SELECT md5(text) AS text_hash,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
    tags=("dedup", "P9"),
)
def exact_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via full-text hash groupBy: shuffles a 32-char key,
    not the document bodies; representative = min(doc_id) keeps the
    choice deterministic (dropDuplicates would be partition-order
    dependent)."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_duplicates(docs)


# Shared CTE prefix: tokenize → word hashes → distinct gram hashes →
# minhash signature → band keys → exploded (doc_id, band_idx, key)
# rows. Reused by the self-join pair oracle (_MINHASH_ORACLE) and the
# asymmetric incremental-ingest oracle.
_MINHASH_CTES = f"""toks AS (
  SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
),
wh AS (
  SELECT doc_id, LIST_TRANSFORM(t, x -> {_SQL_BASE_HASH.format(x='x')}) AS w
  FROM toks WHERE LEN(t) >= 3
),
sh AS (
  SELECT doc_id,
         LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(w) - 2),
           i -> ((w[i] * {GRAM_K} + w[i+1]) % {P} * {GRAM_K} + w[i+2]) % {P})) AS s
  FROM wh
),
sig AS (
  SELECT doc_id, s, {", ".join(_sql_minhash(k) for k in range(N_HASHES))}
  FROM sh
),
banded AS (
  SELECT doc_id, {", ".join(_sql_band(b) for b in range(_N_BANDS))}
  FROM sig
),
bands AS (
  {" UNION ALL ".join(f"SELECT doc_id, {b} AS band_idx, band{b} AS key FROM banded" for b in range(_N_BANDS))}
)"""

_MINHASH_ORACLE = f"""
WITH {_MINHASH_CTES},
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT c.doc1, c.doc2,
       ROUND(CAST(LEN(LIST_INTERSECT(s1.s, s2.s)) AS DOUBLE)
             / (LEN(s1.s) + LEN(s2.s) - LEN(LIST_INTERSECT(s1.s, s2.s))), 9) AS jaccard
FROM cand c
JOIN sh s1 ON c.doc1 = s1.doc_id
JOIN sh s2 ON c.doc2 = s2.doc_id
WHERE CAST(LEN(LIST_INTERSECT(s1.s, s2.s)) AS DOUBLE)
      / (LEN(s1.s) + LEN(s2.s) - LEN(LIST_INTERSECT(s1.s, s2.s))) >= 0.6
"""


@register(
    "minhash_near_dup",
    oracle=_MINHASH_ORACLE,
    tags=("dedup", "lsh", "J2"),
)
def minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate detection: per-row signatures, band
    bucket equi-join (O(n²) → O(collisions)), then exact shingle
    Jaccard verification on candidates only."""
    from ..sources.bronze import table_num_rows

    docs = load_table(spark, sf_dir, "documents")
    return near_dup_pairs(
        docs, threshold=0.6, n_docs=table_num_rows(sf_dir, "documents")
    )


_CLUSTER_ORACLE = f"""
WITH RECURSIVE pairs AS (
  {_MINHASH_ORACLE}
),
edges AS (
  SELECT doc1 AS src, doc2 AS dst FROM pairs
  UNION
  SELECT doc2 AS src, doc1 AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node
),
comp AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node),
sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id)
SELECT c.node AS doc_id, c.cluster_id, s.cluster_size,
       c.node = c.cluster_id AS is_representative
FROM comp c JOIN sizes s USING (cluster_id)
"""


@register(
    "near_dup_clusters",
    oracle=_CLUSTER_ORACLE,
    tags=("dedup", "clustering", "connected-components", "beyond-reference"),
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup CLUSTERS from the MinHash pair output: hash-min label
    propagation (connected components) folds transitive near-dups into
    groups keyed by their min doc_id — the representative to keep.
    Each iteration shuffles only (id, label) pairs; the oracle is the
    same fixpoint via a recursive CTE."""
    from ..operators.dedup import dedup_clusters

    from ..sources.bronze import table_num_rows

    docs = load_table(spark, sf_dir, "documents")
    return dedup_clusters(
        near_dup_pairs(
            docs, threshold=0.6, n_docs=table_num_rows(sf_dir, "documents")
        )
    )


@register(
    "simhash_fingerprints",
    oracle=(
        """
    WITH h AS (
      SELECT doc_id,
             LIST_TRANSFORM(LIST_DISTINCT(STRING_SPLIT(text, ' ')),
               x -> """
        + _SQL_BASE_HASH.format(x="x")
        + """) AS hs
      FROM documents
    )
    SELECT doc_id, ("""
        + " + ".join(
            f"(CASE WHEN LIST_SUM(LIST_TRANSFORM(hs, x -> CASE WHEN (x >> {j}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(16)
        )
        + """) AS simhash
    FROM h
    """
    ),
    tags=("dedup", "simhash"),
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprints (per-bit weighted token-hash vote) —
    pure column expressions, so the fingerprint costs one projection."""
    docs = load_table(spark, sf_dir, "documents")
    n_parts = spark.sparkContext.defaultParallelism * 2
    hashed = docs.repartition(n_parts, F.col("doc_id")).selectExpr(
        "doc_id",
        f"transform(array_distinct(split(text, ' ')), x -> {base_hash_sql('x')})"
        " AS hs",
    )
    return hashed.select(
        "doc_id", simhash16_from_hashes(F.col("hs")).alias("simhash")
    )


def _pii_redaction_oracle() -> str:
    from ..functions.redaction import sql_pii_counts, sql_redact_pii

    planted = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com call 555-123-4567 ssn 123-45-6789 ip 10.0.0.'"
        " || CAST(doc_id % 250 + 1 AS VARCHAR)"
    )
    counts = ",\n       ".join(sql_pii_counts("raw"))
    return f"""
WITH base AS (
  SELECT doc_id, {planted} AS raw FROM documents
)
SELECT doc_id,
       {counts},
       md5({sql_redact_pii('raw')}) AS redacted_hash
FROM base
"""


@register(
    "pii_redaction",
    oracle=_pii_redaction_oracle(),
    tags=("text", "pii", "redaction", "beyond-reference"),
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass (functions/redaction.py): count and mask
    emails/SSNs/phones/IPv4s per document — the standard pre-training
    redaction step, entirely in codegen'd regexp column expressions.
    The synthetic corpus carries no organic PII, so the harness plants
    a deterministic contact line per doc (same expression in the
    oracle); the md5 of the fully REDACTED text is compared, so the
    oracle verifies every replacement byte-for-byte, not just the
    counts."""
    from ..functions.redaction import pii_counts, redact_pii

    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com call 555-123-4567 ssn 123-45-6789 ip 10.0.0."),
        (F.col("doc_id") % 250 + 1).cast("string"),
    )
    base = docs.select("doc_id", raw.alias("raw"))
    return base.select(
        "doc_id",
        *pii_counts(F.col("raw")),
        F.md5(redact_pii(F.col("raw"))).alias("redacted_hash"),
    )


_REPETITION_ORACLE = """
WITH scoped AS (
  SELECT doc_id, text FROM documents WHERE LEN(STRING_SPLIT(text, ' ')) >= 2
),
wrds AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS word FROM scoped
),
wc AS (
  SELECT doc_id, word, COUNT(*) AS c FROM wrds GROUP BY doc_id, word
),
ws AS (
  SELECT doc_id,
         CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_word_frac
  FROM wc GROUP BY doc_id
),
bgl AS (
  SELECT doc_id,
         LIST_TRANSFORM(RANGE(1, LEN(w)), i -> w[i] || ' ' || w[i+1]) AS bg
  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM scoped)
),
bgr AS (
  SELECT doc_id, UNNEST(bg) AS bgram FROM bgl
),
bc AS (
  SELECT doc_id, bgram, COUNT(*) AS c FROM bgr GROUP BY doc_id, bgram
),
bs AS (
  SELECT doc_id,
         CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_bigram_frac,
         1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(c) AS dup_bigram_frac
  FROM bc GROUP BY doc_id
)
SELECT ws.doc_id, top_word_frac, top_bigram_frac, dup_bigram_frac
FROM ws JOIN bs ON ws.doc_id = bs.doc_id
"""


@register(
    "doc_repetition_stats",
    oracle=_REPETITION_ORACLE,
    tags=("text", "quality", "repetition", "beyond-reference"),
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition/boilerplate signals per document — the second half
    of a training-data quality filter next to doc_text_stats'
    length/stopword/TTR pass: most-frequent-word fraction,
    most-frequent-bigram fraction, and duplicate-bigram fraction
    (1 − distinct/total). High values flag machine-generated or
    boilerplate text that length-based scores miss. All fractions are
    integer÷integer in double — bit-deterministic without rounding.

    Plan shape: one repartition by doc_id, then explode → two hash
    aggregations per signal family (term counts, then per-doc stats),
    every groupBy reusing the doc_id partitioning; the bigram strings
    come from a lead() window, not arrays (explode-first discipline,
    zero higher-order functions)."""
    docs = load_table(spark, sf_dir, "documents")
    n_parts = spark.sparkContext.defaultParallelism * 2
    scoped = docs.where(F.size(F.split(F.col("text"), " ")) >= 2)
    wnd = Window.partitionBy("doc_id").orderBy("pos")
    words = (
        scoped.repartition(n_parts, F.col("doc_id"))
        .select(
            "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "word")
        )
    )
    wstats = (
        words.groupBy("doc_id", "word")
        .count()
        .groupBy("doc_id")
        .agg(
            (F.max("count").cast("double") / F.sum("count")).alias("top_word_frac")
        )
    )
    bigrams = (
        words.withColumn("nxt", F.lead("word").over(wnd))
        .where(F.col("nxt").isNotNull())
        .select("doc_id", F.concat_ws(" ", "word", "nxt").alias("bgram"))
    )
    bstats = (
        bigrams.groupBy("doc_id", "bgram")
        .count()
        .groupBy("doc_id")
        .agg(
            (F.max("count").cast("double") / F.sum("count")).alias("top_bigram_frac"),
            (F.lit(1.0) - F.count("*").cast("double") / F.sum("count")).alias(
                "dup_bigram_frac"
            ),
        )
    )
    return wstats.join(bstats, "doc_id")


_STOPWORDS = ("the", "a", "of", "and", "to", "in")

_TEXT_STATS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, text, n_chars, STRING_SPLIT(text, ' ') AS t FROM documents
)
SELECT doc_id,
       CAST(LEN(t) AS INTEGER) AS n_tokens,
       CAST(LEN(LIST_DISTINCT(t)) AS INTEGER) AS n_distinct_tokens,
       CAST(LIST_SUM(LIST_TRANSFORM(t, x -> LENGTH(x))) AS DOUBLE) / LEN(t) AS avg_token_len,
       CAST(LEN(REGEXP_EXTRACT_ALL(text, '[^a-z0-9 ]')) AS DOUBLE) / n_chars AS punct_ratio,
       CAST(LEN(LIST_FILTER(t, x -> x IN {_STOPWORDS!r})) AS DOUBLE) / LEN(t) AS stopword_ratio,
       CAST(LEN(LIST_DISTINCT(t)) AS DOUBLE) / LEN(t) AS type_token_ratio,
       0.3 * LEAST(1.0, LEN(t) / 100.0)
         + 0.3 * (1.0 - CAST(LEN(LIST_FILTER(t, x -> x IN {_STOPWORDS!r})) AS DOUBLE) / LEN(t))
         + 0.4 * (CAST(LEN(LIST_DISTINCT(t)) AS DOUBLE) / LEN(t)) AS quality_score,
       md5(text) AS fingerprint
FROM toks
"""


@register(
    "doc_text_stats",
    oracle=_TEXT_STATS_ORACLE,
    tags=("text", "quality", "ML16"),
)
def doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text analysis: token counts, average token length,
    punctuation/stopword ratios, type-token ratio, a composite quality
    score, and an md5 fingerprint — the quality-scoring pass of a
    training-data pipeline, all in one projection."""
    docs = load_table(spark, sf_dir, "documents")
    n_parts = spark.sparkContext.defaultParallelism * 2
    # Materialize the token array once; it feeds 6 downstream stats and
    # would otherwise be re-split per expression (see the fingerprint
    # query below for the measured cost of inlining).
    toks = docs.repartition(n_parts, F.col("doc_id")).select(
        "doc_id",
        "text",
        "n_chars",
        F.split(F.col("text"), " ").alias("t"),
    )
    t = F.col("t")
    n_tokens = F.size(t)
    n_distinct = F.size(F.array_distinct(t))
    tok_len_sum = F.aggregate(
        F.transform(t, F.length), F.lit(0), lambda acc, v: acc + v
    )
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(t, lambda x: F.array_contains(stop_arr, x)))
    stop_ratio = n_stop.cast("double") / n_tokens
    ttr = n_distinct.cast("double") / n_tokens
    return toks.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        (tok_len_sum.cast("double") / n_tokens).alias("avg_token_len"),
        (
            F.regexp_count(F.col("text"), F.lit("[^a-z0-9 ]")).cast("double")
            / F.col("n_chars")
        ).alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        ttr.alias("type_token_ratio"),
        (
            0.3 * F.least(F.lit(1.0), n_tokens / F.lit(100.0))
            + 0.3 * (F.lit(1.0) - stop_ratio)
            + 0.4 * ttr
        ).alias("quality_score"),
        F.md5(F.col("text")).alias("fingerprint"),
    )


_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "les", "et", "est", "une"),
    "es": ("el", "los", "y", "es", "una"),
}


def _sql_lang_score(lang: str) -> str:
    return f"LEN(LIST_FILTER(t, x -> x IN {_LANG_MARKERS[lang]!r})) AS s_{lang}"


_LANGID_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS t FROM documents
),
scores AS (
  SELECT doc_id, lang, {", ".join(_sql_lang_score(lg) for lg in _LANG_MARKERS)}
  FROM toks
)
SELECT doc_id,
       CAST(s_en AS INTEGER) AS s_en, CAST(s_de AS INTEGER) AS s_de,
       CAST(s_fr AS INTEGER) AS s_fr, CAST(s_es AS INTEGER) AS s_es,
       CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
            WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
            WHEN s_fr >= s_es THEN 'fr'
            ELSE 'es' END AS predicted_lang,
       lang AS actual_lang,
       CAST(CASE WHEN (CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
            WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
            WHEN s_fr >= s_es THEN 'fr'
            ELSE 'es' END) = lang THEN 1 ELSE 0 END AS INTEGER) AS is_correct
FROM scores
"""


@register(
    "langid_heuristic",
    oracle=_LANGID_ORACLE,
    tags=("text", "langid"),
)
def langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic: per-language stopword hit
    counts → argmax with a fixed tie order. (The testdata's text is
    synthetic English-vocabulary salad, so this demonstrates the
    operator shape — score columns + argmax — rather than real
    classification accuracy; a char-n-gram NaiveBayes upgrade lives in
    the MLlib layer.)"""
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    def contains(arr):
        return lambda x: F.array_contains(arr, x)

    scores = {}
    for lang, markers in _LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        scores[lang] = F.size(F.filter(t, contains(arr)))
    pred = (
        F.when(
            (scores["en"] >= scores["de"])
            & (scores["en"] >= scores["fr"])
            & (scores["en"] >= scores["es"]),
            "en",
        )
        .when((scores["de"] >= scores["fr"]) & (scores["de"] >= scores["es"]), "de")
        .when(scores["fr"] >= scores["es"], "fr")
        .otherwise("es")
    )
    return docs.select(
        "doc_id",
        scores["en"].alias("s_en"),
        scores["de"].alias("s_de"),
        scores["fr"].alias("s_fr"),
        scores["es"].alias("s_es"),
        pred.alias("predicted_lang"),
        F.col("lang").alias("actual_lang"),
        (pred == F.col("lang")).cast("int").alias("is_correct"),
    )


# Positional plain-double dots (see operators/similarity_search.py's
# module docstring): both engines run the identical IEEE ops in the
# identical order, so no decimal accumulation is needed for parity —
# and the per-pair cost drops from BigDecimal folds to codegen scalar
# math (the earlier UNNEST+decimal-SUM oracle needed decimal exactly
# because SUM over unnested rows has no guaranteed order).
_COSINE_ORACLE = f"""
WITH base AS (
  SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
norms AS (
  SELECT vec_id, v, SQRT({sql_dot('v', 'v')}) AS norm FROM base
),
q AS (
  SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM norms WHERE vec_id % 100 = 0
),
scored AS (
  SELECT q.query_id, n.vec_id,
         ROUND({sql_dot('q.qv', 'n.v')} / (q.qnorm * n.norm), 9) AS cosine
  FROM q JOIN norms n ON n.vec_id <> q.query_id
)
SELECT query_id, vec_id, cosine, rk FROM (
  SELECT query_id, vec_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rk
  FROM scored
) WHERE rk <= 10
"""


@register(
    "cosine_topk_bruteforce",
    oracle=_COSINE_ORACLE,
    tags=("similarity", "ann", "multimodal"),
)
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the embeddings table: broadcast
    the (tiny) query set against all vectors, positional plain-double
    dot products (codegen; bit-identical to the oracle because both
    engines run the same IEEE ops in the same order), per-query
    top-10 window. This is the exactness baseline; the LSH-bucketed
    variant is the scale path."""
    e = load_table(spark, sf_dir, "embeddings")
    # Per-row norms BEFORE the join (one dot per pair instead of
    # three); wide_base unpacks vectors to scalar double columns —
    # the 8 KB JIT cliff fix (operators/similarity_search docstring):
    # the Q·N pair stage's 64-term dot must be scalar-column math or
    # HotSpot never JIT-compiles the fused method and the whole stage
    # runs in the bytecode interpreter (~130x, measured).
    from ..sources.bronze import table_num_rows

    base = wide_base(e, n_rows=table_num_rows(sf_dir, "embeddings"))
    q = base.where(F.col("vec_id") % 100 == 0).selectExpr(
        "vec_id AS query_id", *rename_exprs("v", "q")
    )

    pairs = F.broadcast(q).join(base, F.col("vec_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        "vec_id",
        F.expr(
            f"ROUND({dot_cols('q', 'v')}"
            f" / ({norm_cols('q')} * {norm_cols('v')}), 9)"
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .select("query_id", "vec_id", "cosine", "rk")
    )


@register(
    "ann_filtered_topk",
    oracle=f"""
WITH base AS (
  SELECT vec_id, label,
         LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
norms AS (
  SELECT vec_id, label, v, SQRT({sql_dot('v', 'v')}) AS norm FROM base
),
q AS (
  SELECT vec_id AS query_id, label AS qlabel, v AS qv, norm AS qnorm
  FROM norms WHERE vec_id % 100 = 0
),
scored AS (
  SELECT q.query_id, n.vec_id,
         ROUND({sql_dot('q.qv', 'n.v')} / (q.qnorm * n.norm), 9) AS cosine
  FROM q JOIN norms n ON n.label = q.qlabel AND n.vec_id <> q.query_id
)
SELECT query_id, vec_id, cosine, rk FROM (
  SELECT query_id, vec_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, vec_id) AS INTEGER)
           AS rk
  FROM scored
) WHERE rk <= 10
""",
    tags=("similarity", "ann", "filtered", "beyond-reference"),
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREDICATE-FILTERED exact top-k — the filtered-vector-search
    primitive (retrieval constrained to a metadata predicate: here
    "same label as the query", standing in for same-language /
    same-shard / same-license retrieval in a training-data pipeline).

    PRE-filter, not post-filter: the label equality is a JOIN KEY of
    the broadcast hash join, so the pair stream is
    Σ_label |Q_label|·|N_label| — candidates failing the predicate are
    never materialized, never scored, never ranked. The post-filter
    formulation (score all Q·N pairs, then drop) both over-pays
    compute by the selectivity factor AND under-fills top-k when the
    filter is applied after rank. At 100 TB with an IVF index the
    same predicate pushes into the cell scan (assign once, filter
    cells' postings by label before the distance kernel); the exact
    variant here is the recall-1.0 yardstick the indexed ones are
    measured against, like cosine_topk_bruteforce is for the
    unfiltered family.

    Same scalar-column dot discipline as the rest of the ANN family
    (8 KB JIT cliff; norms inline, never aliased)."""
    e = load_table(spark, sf_dir, "embeddings")
    from ..sources.bronze import table_num_rows

    base = wide_base(
        e,
        n_rows=table_num_rows(sf_dir, "embeddings"),
        extra_cols=("label",),
    )
    q = base.where(F.col("vec_id") % 100 == 0).selectExpr(
        "vec_id AS query_id",
        "label AS qlabel",
        *rename_exprs("v", "q"),
    )
    pairs = F.broadcast(q).join(
        base,
        (F.col("label") == F.col("qlabel"))
        & (F.col("vec_id") != F.col("query_id")),
    )
    scored = pairs.select(
        "query_id",
        "vec_id",
        F.expr(
            f"ROUND({dot_cols('q', 'v')}"
            f" / ({norm_cols('q')} * {norm_cols('v')}), 9)"
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .select("query_id", "vec_id", "cosine", "rk")
    )


def _ivf_filtered_oracle(nprobe: int = 2, k: int = 10) -> str:
    """DuckDB mirror of ann_ivf_filtered_topk: the _ivf_oracle CTE
    pipeline with the label carried through and the candidate join
    constrained to ``a.label = p.qlabel`` — the same pre-filter the
    Spark plan pushes into the (cell, label) composite join key."""
    dd = sql_dot
    return f"""
WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
cc AS (SELECT GREATEST(16, CAST(FLOOR(SQRT(n)) AS BIGINT)) AS c FROM nn),
base AS (
  SELECT vec_id, label, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
norms AS (
  SELECT vec_id, label, v, SQRT({dd('v', 'v')}) AS norm FROM base
),
cents AS (
  SELECT cent_id, cv, cnorm FROM (
    SELECT vec_id AS cent_id, v AS cv, norm AS cnorm,
           ROW_NUMBER() OVER (ORDER BY vec_id) AS crn
    FROM norms), cc
  WHERE crn <= cc.c
),
sims AS (
  SELECT n.vec_id, n.label, n.v, n.norm, c.cent_id,
         ROUND({dd('n.v', 'c.cv')} / (n.norm * c.cnorm), 9) AS cent_sim
  FROM norms n CROSS JOIN cents c
),
ranked AS (
  SELECT vec_id, label, v, norm, cent_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cent_sim DESC, cent_id) AS rn
  FROM sims
),
assigned AS (
  SELECT vec_id, label, v, norm, cent_id AS cell FROM ranked WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, label AS qlabel, v AS qv, norm AS qnorm,
         cent_id AS qcell
  FROM ranked WHERE rn <= {nprobe} AND vec_id % 100 = 0
),
cand AS (
  SELECT p.query_id, a.vec_id, p.qv, p.qnorm, a.v, a.norm
  FROM probes p JOIN assigned a
    ON a.cell = p.qcell AND a.label = p.qlabel AND a.vec_id <> p.query_id
),
scored AS (
  SELECT query_id, vec_id,
         ROUND({dd('qv', 'v')} / (qnorm * norm), 9) AS cosine
  FROM cand
)
SELECT query_id, vec_id, cosine, rk FROM (
  SELECT query_id, vec_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rk
  FROM scored
) WHERE rk <= {k}
"""


_IVF_FILTERED_NPROBE = 32


@register(
    "ann_ivf_filtered_topk",
    oracle=_ivf_filtered_oracle(nprobe=_IVF_FILTERED_NPROBE),
    tags=("similarity", "ann", "ivf", "filtered-search", "beyond-reference"),
)
def ann_ivf_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEXED predicate-filtered ANN (round-12 verdict item 5): the
    label predicate pushed into the IVF cell scan — assign once, then
    the candidate join's COMPOSITE equi-key (cell, label) drops
    failing postings before the distance kernel (operator docstring:
    operators/similarity_search.ivf_filtered_topk). The exact
    yardstick (ann_filtered_topk, this file) is the recall-1.0
    baseline; its pair stream is quadratic when queries ∝ n (the
    measured 57× decade factor) while this plan inherits ivf_topk's
    q·nprobe·n/(c·L) scaling (L = label cardinality).

    nprobe=32, NOT the unfiltered ivf_topk's 2: the label filter
    thins every probed cell's candidate pool to ~1/L (L = 10 here),
    so filtered search needs proportionally more probes for the same
    effective pool — the standard filtered-ANN amplification. The
    round-14 extended curve vs the exact yardstick (recall@10 at
    nprobe 16/24/32/48 = 0.535/0.705/0.835/1.0 at sf0.1, and
    16 vs 32 = 0.415/0.605 at 10×, 0.345/0.47 at 100×; walls FALL
    as nprobe rises at every scale — more candidates mean fewer
    empty per-query windows, the ann_ivf2_topk round-11 finding —
    100× 5.6s vs the yardstick's 36.2s, SCALE.md §Round 14) moves
    the registered point from 16 to 32: above the unfiltered
    family's recall-parity band (flat IVF nprobe=2 ≈ 0.295) at
    every measured scale, at equal-or-lower wall. Candidates stay
    q·32·(n/c)/L — tiny next to the yardstick's Σ|Q_l|·|N_l|.
    Same adaptive c = max(16, isqrt(n)) from the parquet footer;
    oracle mirrors it from COUNT(*)."""
    from ..operators.similarity_search import ivf_filtered_topk
    from ..sources.bronze import table_num_rows

    e = load_table(spark, sf_dir, "embeddings")
    n = table_num_rows(sf_dir, "embeddings")
    return ivf_filtered_topk(
        e,
        F.col("vec_id") % 100 == 0,
        label_col="label",
        k=10,
        n_centroids=None,
        nprobe=_IVF_FILTERED_NPROBE,
        n_vectors=n,
    )


def _ann_oracle() -> str:
    bucket_terms = " + ".join(
        f"(CASE WHEN {sql_plane_dot('v', k)} >= 0 THEN {1 << k} ELSE 0 END)"
        for k in range(N_PLANES)
    )
    return f"""
WITH base AS (
  SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
bucketed AS (
  SELECT vec_id, v, ({bucket_terms}) AS bucket FROM base
),
q AS (
  SELECT vec_id AS query_id, v AS qv, bucket AS qbucket
  FROM bucketed WHERE vec_id % 100 = 0
),
cand AS (
  SELECT q.query_id, b.vec_id, q.qv, b.v
  FROM q JOIN bucketed b ON b.bucket = q.qbucket AND b.vec_id <> q.query_id
),
scored AS (
  SELECT query_id, vec_id,
         ROUND({sql_dot('qv', 'v')}
               / (SQRT({sql_dot('qv', 'qv')}) * SQRT({sql_dot('v', 'v')})), 9) AS cosine
  FROM cand
)
SELECT query_id, vec_id, cosine, rk FROM (
  SELECT query_id, vec_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rk
  FROM scored
) WHERE rk <= 5
"""


@register(
    "ann_lsh_topk",
    oracle=_ann_oracle(),
    tags=("similarity", "ann", "lsh", "beyond-reference"),
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN: 8-bit bucket signatures from
    deterministic hyperplane literals, candidates restricted to the
    query's bucket, exact cosine re-rank of candidates only. This is
    the O(Q·bucket) scale path next to the O(Q·N) brute force — at
    100 TB the bucket join shuffles on an int key instead of
    broadcasting every vector everywhere."""
    from ..sources.bronze import table_num_rows

    e = load_table(spark, sf_dir, "embeddings")
    return ann_topk(
        e,
        F.col("vec_id") % 100 == 0,
        k=5,
        n_vectors=table_num_rows(sf_dir, "embeddings"),
    )


_MT_PLANES = 10
_MT_TABLES = 2


def _ann_multitable_oracle() -> str:
    def bucket_terms(t: int) -> str:
        return " + ".join(
            f"(CASE WHEN {sql_plane_dot('v', k, t)} >= 0 THEN {1 << k} ELSE 0 END)"
            for k in range(_MT_PLANES)
        )

    tables = ",\n".join(
        f"b{t} AS (SELECT vec_id, v, ({bucket_terms(t)}) AS bucket FROM base)"
        for t in range(_MT_TABLES)
    )
    # query probes its own bucket plus every Hamming-1 neighbor
    probe_cond = " OR ".join(
        ["b.bucket = q.bucket"]
        + [f"b.bucket = xor(q.bucket, {1 << i})" for i in range(_MT_PLANES)]
    )
    cand_union = "\n  UNION\n".join(
        f"  SELECT q.vec_id AS query_id, b.vec_id AS vec_id\n"
        f"  FROM b{t} q JOIN b{t} b ON ({probe_cond}) AND b.vec_id <> q.vec_id\n"
        f"  WHERE q.vec_id % 100 = 0"
        for t in range(_MT_TABLES)
    )
    return f"""
WITH base AS (
  SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
{tables},
cand AS (
{cand_union}
),
scored AS (
  SELECT c.query_id, c.vec_id,
         ROUND({sql_dot('qv.v', 'bv.v')}
               / (SQRT({sql_dot('qv.v', 'qv.v')}) * SQRT({sql_dot('bv.v', 'bv.v')})), 9) AS cosine
  FROM cand c
  JOIN base qv ON qv.vec_id = c.query_id
  JOIN base bv ON bv.vec_id = c.vec_id
)
SELECT query_id, vec_id, cosine, rk FROM (
  SELECT query_id, vec_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rk
  FROM scored
) WHERE rk <= 5
"""


@register(
    "ann_lsh_multitable",
    oracle=_ann_multitable_oracle(),
    tags=("similarity", "ann", "lsh", "or-amplification", "beyond-reference"),
)
def ann_lsh_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-amplified multi-probe LSH ANN: L=2 independent 10-bit
    hyperplane tables, and each query probes its own bucket plus the
    K Hamming-1 neighbor buckets per table. These are the two 100 TB
    recall levers named in SCALE.md — adaptive K keeps bucket
    occupancy (and thus cost) constant as the corpus grows; L tables
    and query-side probes buy back the recall the tighter buckets
    give away (measured curves: SCALE.md §ANN recall). Deterministic
    seeded hyperplanes keep the whole lever stack oracle-checkable."""
    from ..sources.bronze import table_num_rows

    e = load_table(spark, sf_dir, "embeddings")
    return ann_topk(
        e,
        F.col("vec_id") % 100 == 0,
        k=5,
        n_planes=_MT_PLANES,
        n_tables=_MT_TABLES,
        hamming_probes=1,
        n_vectors=table_num_rows(sf_dir, "embeddings"),
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard dedup (simhash-blocked), embedding near-dup, rolling-
# hash / winnowing fingerprints, token counting, mapInPandas summarizer.
# ---------------------------------------------------------------------------

def _sql_banded_ngram_oracle(n_bands: int = SIMHASH_BANDS) -> str:
    """DuckDB mirror of the banded-simhash blocking: same affine perms,
    same integer majority votes, same integer-exact adaptive width."""
    perms = ",\n         ".join(
        f"LIST_TRANSFORM(bg, g -> (g * {SIMHASH_A[j]} + {SIMHASH_B[j]}) % {P}) AS p{j}"
        for j in range(n_bands)
    )
    keys = []
    for j in range(n_bands):
        bits = " + ".join(
            f"(CASE WHEN 2 * LIST_SUM(LIST_TRANSFORM(p{j}, v -> (v >> {i}) & 1)) > nb"
            f" THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
            for i in range(SIMHASH_MAXBITS)
        )
        keys.append(f"({bits}) AS k{j}")
    key_exprs = ",\n       ".join(keys)
    unions = "\n  UNION ALL ".join(
        f"SELECT doc_id, {j} AS band, k{j} & ((CAST(1 AS BIGINT) << w) - 1) AS key, nb FROM s, ws"
        for j in range(n_bands)
    )
    return f"""
WITH t0 AS (
  SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
),
wh AS (
  SELECT doc_id, LIST_TRANSFORM(t, x -> {_SQL_BASE_HASH.format(x='x')}) AS w
  FROM t0 WHERE LEN(t) >= 2
),
h AS (
  SELECT doc_id,
         LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(w)), i -> (w[i] * {GRAM_K} + w[i+1]) % {P})) AS bg
  FROM wh
),
ws AS (
  SELECT LEAST({SIMHASH_MAXBITS},
               GREATEST({SIMHASH_MINBITS},
                        LENGTH(BIN(COUNT(*) - 1)) + {SIMHASH_W_MARGIN})) AS w
  FROM documents
),
p AS (
  SELECT doc_id, LEN(bg) AS nb,
         {perms}
  FROM h
),
s AS (
  SELECT doc_id, nb,
       {key_exprs}
  FROM p
),
bands AS (
  {unions}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
   AND LEAST(a.nb, b.nb) >= 0.5 * GREATEST(a.nb, b.nb)
),
v AS (
  SELECT cand.doc1, cand.doc2, ha.bg AS bg1, hb.bg AS bg2
  FROM cand
  JOIN h ha ON ha.doc_id = cand.doc1
  JOIN h hb ON hb.doc_id = cand.doc2
)
SELECT doc1, doc2,
       ROUND(CAST(LEN(LIST_INTERSECT(bg1, bg2)) AS DOUBLE)
             / (LEN(bg1) + LEN(bg2) - LEN(LIST_INTERSECT(bg1, bg2))), 9) AS jaccard
FROM v
WHERE CAST(LEN(LIST_INTERSECT(bg1, bg2)) AS DOUBLE)
      / (LEN(bg1) + LEN(bg2) - LEN(LIST_INTERSECT(bg1, bg2))) >= 0.5
"""


_NGRAM_JACCARD_ORACLE = _sql_banded_ngram_oracle()


def _ngram_jaccard_impl(
    spark: SparkSession,
    sf_dir: str,
    n_bands: int = SIMHASH_BANDS,
    weights: str | None = None,
) -> DataFrame:
    """Body of :func:`ngram_jaccard_dedup`, parameterized on the band
    count so tools/ngram_recall.py can measure the B=4/6/8 recall-cost
    curve against the exact inverted-index ground truth, and on
    ``weights`` ("idf") for the IDF-vote variant
    (:func:`ngram_jaccard_dedup_idf`)."""
    docs = load_table(spark, sf_dir, "documents")
    # One task wave (defaultParallelism, not 2x): this query's cost at
    # test scale is STAGE SCHEDULING, not compute (9 AQE jobs / 22
    # stages), so extra waves of sub-30k-row tasks only add launch
    # latency. At cluster scale the same expression tracks the
    # executor-core count, which is the right spread for the md5/
    # window stage there too.
    n_parts = spark.sparkContext.defaultParallelism
    # EXPLODE-FIRST gram pipeline: posexplode the words, ONE md5 per
    # (doc, position) row, bigram = Horner combine of the next word's
    # hash via lead() — no arrays, no higher-order functions, so the
    # whole pipeline is whole-stage codegen (the array-HOF formulation
    # re-evaluated its md5 pipeline per exploded element through
    # Generate, measured 65s vs 0.15s at sf0.1). The bigram STRINGS
    # never exist. One repartition spreads the single-file scan; the
    # lead() window, the gram dedup and the vote aggregate all reuse
    # that doc_id hash-partitioning — no further shuffle until the
    # band self-join.
    scoped = docs.where(F.size(F.split(F.col("text"), " ")) >= 2)
    wnd = Window.partitionBy("doc_id").orderBy("pos")
    grams = (
        scoped.repartition(n_parts, F.col("doc_id"))
        .select(
            "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "word")
        )
        .select("doc_id", "pos", F.expr(base_hash_sql("word")).alias("h"))
        .withColumn("h2", F.lead("h").over(wnd))
        .where(F.col("h2").isNotNull())
        .select(
            "doc_id", ((F.col("h") * F.lit(GRAM_K) + F.col("h2")) % F.lit(P)).alias("g")
        )
        .dropDuplicates(["doc_id", "g"])
        # Declare the join keys non-null BELOW the materialization
        # exchange: the verify joins infer isnotnull(doc_id)/
        # isnotnull(g) constraints and push them under the exchange,
        # which would make each consumer's exchange subplan
        # canonically DIFFERENT (no ReusedExchange, gram pipeline
        # re-run per consumer). With the filter already present, the
        # inferred constraints are subsumed and every consumer sees
        # the identical subplan.
        .where(F.col("doc_id").isNotNull() & F.col("g").isNotNull())
        # No materialization exchange here any more (round 7): the
        # composite doc-frame aggregate below is the gram rows' ONLY
        # consumer on the default path, so the pipeline runs scan →
        # window → dedup → composite agg in one stage chain and the
        # SINGLE materialization point moves to the per-doc frame
        # (one row per doc), which every downstream consumer shares.
    )
    # Corpus count for the adaptive band width: parquet FOOTER
    # metadata, driver-side, ZERO Spark jobs (round 12 — the previous
    # COUNT(*) was already metadata-answered but still paid a job
    # submit/schedule round plus a construction-time sync barrier).
    # Identical value: footer num_rows == COUNT(*) over the raw table.
    # Known driver-side, the banding computes ONLY the w live bits —
    # 57% less vote work at the w=16 floor and no count-subplan/
    # crossJoin/mask in the plan. The oracle recomputes the same
    # integer-exact w from the same COUNT(*) FROM documents, so both
    # sides always agree; w only sizes the band width, so the handful
    # of <2-word docs it includes merely nudges the adaptive clamp.
    from ..sources.bronze import table_num_rows

    n_docs = table_num_rows(sf_dir, "documents")
    if weights == "idf":
        # IDF-weighted votes: weight per gram = bit_length(n // df),
        # integer-exact in both engines (LENGTH(BIN(x)) — never float
        # log), so a corpus-wide bigram (df = n) votes with weight 1
        # and a near-unique one with ~log2(n). Discriminative grams
        # dominate the majority, unlocking bits that the shared
        # vocabulary would otherwise lock (the round-4 0.26-recall
        # mechanism). Costs one df aggregate + join (both shuffle on
        # g) and a repartition back to doc_id for the vote aggregate
        # — the blocking-recall lever for deployments where the
        # unweighted curve (SCALE.md) is not enough. nb and the exact
        # Jaccard verify remain UNWEIGHTED — weights shape only the
        # blocking keys.
        df_tbl = grams.groupBy("g").agg(F.count("*").alias("df"))
        wgrams = (
            grams.join(df_tbl, "g")
            .withColumn(
                "wt",
                F.length(
                    F.bin(F.expr(f"CAST({n_docs} AS BIGINT) div df"))
                ).cast("bigint"),
            )
            .repartition(max(2, n_parts // 2), F.col("doc_id"))
        )
        doc_frame = banded_simhash_doc_frame(
            wgrams,
            n_docs,
            n_bands=n_bands,
            weight_col="wt",
            extra_aggs=(F.collect_list("g").alias("arr"),),
        )
    else:
        # COMPOSITE per-doc aggregate (round 7): band vote counters
        # AND the exact-verify gram array come out of ONE hash
        # aggregate over the gram rows (banding still adds no
        # shuffle), where round 6 ran three aggregation passes over
        # the reused gram exchange — one for the votes, one per
        # broadcast side for collect_list (each broadcast subplan is
        # canonically distinct, so ReusedExchange couldn't merge
        # them). The doc-level output is then the ONLY thing
        # materialized: ~5k narrow rows + one ~300-long array each.
        doc_frame = banded_simhash_doc_frame(
            grams,
            n_docs,
            n_bands=n_bands,
            extra_aggs=(F.collect_list("g").alias("arr"),),
        )
    # Materialize the per-doc frame ONCE for every consumer (both band
    # self-join sides, both verify broadcasts) via a LAZY local
    # checkpoint. A plain repartition-exchange materialization does
    # NOT work here: column pruning specializes the shared subtree
    # per consumer (the verify broadcasts need only (doc_id, arr), so
    # Catalyst strips the vote counters out of their copy of the
    # aggregate), the canonical subplans diverge, ReusedExchange
    # never fires, and the gram pipeline re-runs per consumer —
    # observed directly in the executed plan. localCheckpoint pins
    # the frame at the RDD layer instead: the lazy form persists
    # (memory+disk) and truncates lineage on first computation, all
    # consumers read the same cached partitions, and — unlike
    # df.cache(), whose CacheManager matches by canonical PLAN — a
    # fresh RDD per call means repeated bench runs can never serve
    # each other's results; the ContextCleaner drops the blocks when
    # the frame is garbage-collected. Volume: one row per doc
    # (2 longs + B keys + the ~300-long gram array) — the same size
    # class as the gram rows, paid once, spilling to disk at scale.
    doc_frame = doc_frame.repartition(
        max(2, n_parts // 2), F.col("doc_id")
    ).localCheckpoint(eager=False)
    karr = ", ".join(f"k{j}" for j in range(n_bands))
    bands = doc_frame.selectExpr(
        "doc_id", "nb", f"posexplode(array({karr})) AS (band, key)"
    )
    # Length filter in the candidate join is LOSSLESS for threshold t:
    # jaccard <= min(|bg1|,|bg2|)/max(|bg1|,|bg2|), so pairs failing
    # min >= t*max can never verify (PPJoin-style size filter). Cuts
    # the verify fan-in before any array moves. shuffle_hash: both
    # sides are the identical banding subplan, so the exchange is
    # computed once and reused (a broadcast would recompute it).
    a, b = bands.alias("a").hint("shuffle_hash"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.least(F.col("a.nb"), F.col("b.nb"))
                >= 0.5 * F.greatest(F.col("a.nb"), F.col("b.nb"))
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
            F.col("a.nb").alias("nb1"),
            F.col("b.nb").alias("nb2"),
        )
        .dropDuplicates(["doc1", "doc2"])
    )
    # COMPACT-ARRAY verify: each doc's distinct-gram array came out of
    # the SAME composite aggregate as the band keys (extra_aggs, zero
    # additional passes); broadcast that 5k-row doc_id→array map to
    # both sides of the candidate stream, and take
    # |A∩B| = size(array_intersect(...)) per pair. Compared
    # to the round-5 relational verify (two 256k-row broadcast hash
    # relations + a (doc2, g) equi-join + a final count aggregate with
    # its own exchange), this builds two SMALL broadcast maps (one row
    # per doc, ~300 longs each) and finishes in the candidate
    # projection — two fewer stages, and the per-run broadcast build
    # cost no longer scales with the gram count. The round-3 "never
    # shuffle gram arrays" rule still holds: the arrays move only via
    # broadcast, never through an exchange, and array_intersect is a
    # codegen'd builtin (not an interpreted lambda HOF). Set sizes
    # ride along from the vote aggregate, so |A∪B| = nb1+nb2−ni is
    # arithmetic; candidates sharing zero grams yield ni=0 and fail
    # the threshold, exactly as the inner join did.
    a1 = doc_frame.select(F.col("doc_id").alias("doc1"), F.col("arr").alias("arr1"))
    a2 = doc_frame.select(F.col("doc_id").alias("doc2"), F.col("arr").alias("arr2"))
    inter = (
        cand.join(F.broadcast(a1), "doc1")
        .join(F.broadcast(a2), "doc2")
        .select(
            "doc1",
            "doc2",
            "nb1",
            "nb2",
            F.size(F.array_intersect("arr1", "arr2")).alias("ni"),
        )
    )
    jac = F.col("ni") / (F.col("nb1") + F.col("nb2") - F.col("ni")).cast("double")
    return (
        inter.select("doc1", "doc2", jac.alias("jac_raw"))
        .where(F.col("jac_raw") >= 0.5)
        .select("doc1", "doc2", F.round("jac_raw", 9).alias("jaccard"))
    )


def _sql_banded_ngram_idf_oracle(n_bands: int = SIMHASH_BANDS) -> str:
    """DuckDB mirror of the IDF-WEIGHTED banded blocking: same affine
    perms, weighted majority votes (2·Σ wt over set-bit grams > Σ wt),
    weight = LENGTH(BIN(n_docs // df)) — integer-exact end to end, so
    the two engines can never disagree on a vote."""
    perm_cols = ",\n         ".join(
        f"(g * {SIMHASH_A[j]} + {SIMHASH_B[j]}) % {P} AS p{j}"
        for j in range(n_bands)
    )
    sums = []
    for j in range(n_bands):
        for i in range(SIMHASH_MAXBITS):
            sums.append(
                f"SUM(CASE WHEN (p{j} >> {i}) & 1 = 1 THEN wt ELSE 0 END) AS c_{j}_{i}"
            )
    sum_exprs = ",\n       ".join(sums)
    keys = []
    for j in range(n_bands):
        bits = " + ".join(
            f"(CASE WHEN 2 * c_{j}_{i} > tw THEN CAST({1 << i} AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END)"
            for i in range(SIMHASH_MAXBITS)
        )
        keys.append(f"({bits}) AS k{j}")
    key_exprs = ",\n       ".join(keys)
    unions = "\n  UNION ALL ".join(
        f"SELECT doc_id, {j} AS band, k{j} & ((CAST(1 AS BIGINT) << w) - 1) AS key, nb"
        f" FROM sk JOIN sz USING (doc_id), ws"
        for j in range(n_bands)
    )
    return f"""
WITH t0 AS (
  SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
),
wh AS (
  SELECT doc_id, LIST_TRANSFORM(t, x -> {_SQL_BASE_HASH.format(x='x')}) AS w
  FROM t0 WHERE LEN(t) >= 2
),
h AS (
  SELECT doc_id,
         LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(w)), i -> (w[i] * {GRAM_K} + w[i+1]) % {P})) AS bg
  FROM wh
),
nd AS (SELECT COUNT(*) AS n FROM documents),
ws AS (
  SELECT LEAST({SIMHASH_MAXBITS},
               GREATEST({SIMHASH_MINBITS},
                        LENGTH(BIN(n - 1)) + {SIMHASH_W_MARGIN})) AS w
  FROM nd
),
gr AS (SELECT doc_id, UNNEST(bg) AS g FROM h),
dft AS (SELECT g, COUNT(*) AS df FROM gr GROUP BY g),
wg AS (
  SELECT gr.doc_id, gr.g, LENGTH(BIN(nd.n // dft.df)) AS wt
  FROM gr JOIN dft USING (g), nd
),
p AS (
  SELECT doc_id, wt,
         {perm_cols}
  FROM wg
),
s AS (
  SELECT doc_id, SUM(wt) AS tw,
       {sum_exprs}
  FROM p GROUP BY doc_id
),
sz AS (SELECT doc_id, LEN(bg) AS nb FROM h),
sk AS (
  SELECT doc_id,
       {key_exprs}
  FROM s
),
bands AS (
  {unions}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
   AND LEAST(a.nb, b.nb) >= 0.5 * GREATEST(a.nb, b.nb)
),
v AS (
  SELECT cand.doc1, cand.doc2, ha.bg AS bg1, hb.bg AS bg2
  FROM cand
  JOIN h ha ON ha.doc_id = cand.doc1
  JOIN h hb ON hb.doc_id = cand.doc2
)
SELECT doc1, doc2,
       ROUND(CAST(LEN(LIST_INTERSECT(bg1, bg2)) AS DOUBLE)
             / (LEN(bg1) + LEN(bg2) - LEN(LIST_INTERSECT(bg1, bg2))), 9) AS jaccard
FROM v
WHERE CAST(LEN(LIST_INTERSECT(bg1, bg2)) AS DOUBLE)
      / (LEN(bg1) + LEN(bg2) - LEN(LIST_INTERSECT(bg1, bg2))) >= 0.5
"""


def _make_ngram_query(n_bands: int):
    """Query callable for a non-default band count (tools only)."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _ngram_jaccard_impl(spark, sf_dir, n_bands=n_bands)

    return fn


@register(
    "ngram_jaccard_dedup",
    oracle=_NGRAM_JACCARD_ORACLE,
    tags=("dedup", "ngram", "simhash", "beyond-reference"),
)
def ngram_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup detection with BANDED SimHash blocking:
    docs colliding on any of B independent simhash sketches (computed
    over the bigram feature space, masked to an occupancy-adaptive
    width) are compared on exact bigram-set Jaccard. A third dedup
    family next to MinHash-LSH (probabilistic banding) and exact
    hashing. The round-4 single fixed 16-bit fingerprint had BOTH a
    2^16 bucket-space scale ceiling (candidates ∝ n²/2^16) and, worse,
    0.26 measured recall against exact ground truth — shared
    vocabulary locks most unbanded bits. The band count is a MEASURED
    choice (tools/ngram_recall.py, curve in SCALE.md §Banded recall):
    B OR-amplified bands over the verify features, each masked to the
    occupancy-adaptive width."""
    return _ngram_jaccard_impl(spark, sf_dir, n_bands=SIMHASH_BANDS)


@register(
    "ngram_jaccard_dedup_idf",
    oracle=_sql_banded_ngram_idf_oracle(),
    tags=("dedup", "ngram", "simhash", "idf", "beyond-reference"),
)
def ngram_jaccard_dedup_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-weighted banded-simhash n-gram dedup: identical contract to
    :func:`ngram_jaccard_dedup`, but each gram votes with weight
    bit_length(n/df) instead of 1 — the standard simhash refinement
    (discriminative grams dominate the majority). MEASURED RESULT on
    this corpus (tools/ngram_recall.py --weights=idf): recall DROPS
    0.941 → 0.699 at B=8 — here near-duplicate pairs overlap in the
    COMMON vocabulary while their differences are rare tokens, so IDF
    amplifies exactly the disagreeing grams and the sketches diverge.
    The lever pays off in the opposite regime (boilerplate-heavy
    corpora where shared grams are stopwords and the signal is in the
    rare tokens); it ships measured, documented and oracle-checked so
    a deployment can choose per corpus instead of assuming the
    textbook direction (SCALE.md §Banded recall has both curves).
    Costs one extra df aggregate + join (shuffles on the gram hash);
    the oracle mirrors the weighted votes integer-exactly
    (LENGTH(BIN(n // df)))."""
    return _ngram_jaccard_impl(spark, sf_dir, weights="idf")


def _embedding_near_dup_oracle() -> str:
    # Adaptive-K mirror: K from COUNT via the integer-exact formula
    # (adaptive_n_planes), all MAX_PLANES bit terms computed and
    # gated on k < K — the banded-simhash runtime-width technique.
    from ..operators.similarity_search import MAX_PLANES

    bucket_terms = " + ".join(
        f"(CASE WHEN {k} < kk.k AND {sql_plane_dot('v', k)} >= 0"
        f" THEN CAST({1 << k} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for k in range(MAX_PLANES)
    )
    return f"""
WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
kk AS (
  SELECT LEAST({MAX_PLANES},
               GREATEST({N_PLANES},
                        LENGTH(BIN((n + 7) // 8 - 1)))) AS k
  FROM nn
),
base AS (
  SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
bucketed AS (
  SELECT vec_id, v, ({bucket_terms}) AS bucket FROM base, kk
),
cand AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2, a.v AS v1, b.v AS v2
  FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id1, id2,
       ROUND({sql_dot('v1', 'v2')}
             / (SQRT({sql_dot('v1', 'v1')}) * SQRT({sql_dot('v2', 'v2')})), 9) AS cosine
FROM cand
WHERE ROUND({sql_dot('v1', 'v2')}
            / (SQRT({sql_dot('v1', 'v1')}) * SQRT({sql_dot('v2', 'v2')})), 9) >= 0.4
"""


@register(
    "embedding_near_dup",
    oracle=_embedding_near_dup_oracle(),
    tags=("dedup", "similarity", "embedding", "beyond-reference"),
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH-bucket blocking then
    exact cosine on same-bucket candidates — the vector-space member
    of the dedup family (exact hash / MinHash / SimHash / n-gram
    Jaccard / embedding cosine). The plane count ADAPTS with the
    corpus (K = ceil(log2(n/8)), integer-exact, mirrored from
    COUNT(*) in the oracle): round 7's 100x decade measured the
    pinned-K form at 326x wall for 100x data — the fixed-bucket-space
    defect class — while the adaptive form held ~11x. The oracle
    computes all MAX_PLANES bit terms gated on k < K, the
    banded-simhash runtime-width technique."""
    from ..sources.bronze import table_num_rows

    e = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        e, threshold=0.4, n_planes=None,
        n_vectors=table_num_rows(sf_dir, "embeddings"),
    )


_ROLL_R = 1_000_003
_WINNOW_W = 4

_ROLLING_ORACLE = f"""
WITH t0 AS (
  SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
),
h AS (
  SELECT doc_id, t,
         LIST_TRANSFORM(t, x -> {_SQL_BASE_HASH.format(x='x')}) AS th
  FROM t0
),
g AS (
  SELECT doc_id, th,
         CASE WHEN LEN(t) >= 3 THEN
           LIST_TRANSFORM(RANGE(1, LEN(t) - 1),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
         ELSE [] END AS grams
  FROM h
),
gh AS (
  SELECT doc_id, th,
         LIST_TRANSFORM(grams, x -> {_SQL_BASE_HASH.format(x='x')}) AS ghs
  FROM g
)
SELECT doc_id,
       LIST_REDUCE(th, (acc, x) -> (acc * {_ROLL_R} + x) % {P}) AS rolling_fp,
       CASE WHEN LEN(ghs) >= {_WINNOW_W} THEN
         ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(
           LIST_TRANSFORM(RANGE(0, LEN(ghs) - {_WINNOW_W - 1}),
                          i -> LIST_MIN(ghs[i+1:i+{_WINNOW_W}])))), ',')
       ELSE '' END AS winnow_fp
FROM gh
"""


@register(
    "rolling_hash_fingerprints",
    oracle=_ROLLING_ORACLE,
    tags=("text", "fingerprint", "beyond-reference"),
)
def rolling_hash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting two ways in one projection: a polynomial
    rolling hash over the token-hash sequence (order-sensitive, one
    BIGINT per doc) and a winnowing fingerprint (MOSS-style: minima of
    {w}-gram-hash windows, deduped and sorted) for local similarity.
    Both are pure column expressions — no shuffle, no Python."""
    docs = load_table(spark, sf_dir, "documents")
    n_parts = spark.sparkContext.defaultParallelism * 2
    t = "split(text, ' ')"
    grams = (
        f"CASE WHEN size({t}) >= 3 THEN transform(sequence(0, size({t}) - 3),"
        f" i -> array_join(slice({t}, i + 1, 3), ' '))"
        " ELSE CAST(array() AS array<string>) END"
    )
    # Two projections on purpose: th/ghs are referenced several times
    # downstream (window lambda + size guards). As bound columns they
    # are hashed once per row; inlined into the window lambda they
    # would be re-hashed per WINDOW (measured 80x slower). Catalyst's
    # CollapseProject keeps this split because the producer exprs are
    # expensive and multiply referenced.
    hashed = docs.repartition(n_parts, F.col("doc_id")).selectExpr(
        "doc_id",
        f"{word_hashes_sql('text')} AS th",
        f"transform({grams}, x -> {base_hash_sql('x')}) AS ghs",
    )
    rolling = F.aggregate(
        F.col("th"),
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * _ROLL_R + x) % P,
    )
    wins = F.transform(
        F.sequence(F.lit(0), F.size("ghs") - _WINNOW_W),
        lambda i: F.array_min(F.slice(F.col("ghs"), i + 1, _WINNOW_W)),
    )
    winnow = F.when(
        F.size("ghs") >= _WINNOW_W,
        F.array_join(
            F.transform(
                F.array_sort(F.array_distinct(wins)), lambda x: x.cast("string")
            ),
            ",",
        ),
    ).otherwise(F.lit(""))
    return hashed.select(
        "doc_id",
        rolling.alias("rolling_fp"),
        winnow.alias("winnow_fp"),
    )


_BPE_ISH = "[a-z]+|[0-9]|[^a-z0-9 ]"

_TOKEN_COUNT_ORACLE = f"""
SELECT doc_id,
       CAST(LEN(STRING_SPLIT(text, ' ')) AS INTEGER) AS ws_tokens,
       CAST(LEN(REGEXP_EXTRACT_ALL(text, '{_BPE_ISH}')) AS INTEGER) AS bpe_ish_tokens,
       CAST(CEIL(n_chars / 4.0) AS INTEGER) AS est_tokens_char4
FROM documents
"""


@register(
    "token_counting",
    oracle=_TOKEN_COUNT_ORACLE,
    tags=("text", "tokens", "beyond-reference"),
)
def token_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace tokens, a BPE-ish regex
    segmentation (letter runs / single digits / punctuation — the
    disjoint character classes make the split engine-independent), and
    the chars/4 estimate used for LLM budget planning."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("ws_tokens"),
        F.regexp_count(F.col("text"), F.lit(_BPE_ISH)).alias("bpe_ish_tokens"),
        F.ceil(F.col("n_chars") / 4.0).cast("int").alias("est_tokens_char4"),
    )


_SUMMARY_ORACLE = """
WITH s AS (
  SELECT doc_id, STRING_SPLIT(text, '. ') AS sents FROM documents
),
l AS (
  SELECT doc_id, sents,
         LIST_TRANSFORM(sents, x -> LEN(STRING_SPLIT(x, ' '))) AS lens
  FROM s
)
SELECT doc_id,
       sents[LIST_POSITION(lens, LIST_MAX(lens))] AS summary,
       CAST(LEN(sents) AS INTEGER) AS n_sentences,
       'extractive' AS method
FROM l
"""


@register(
    "extractive_summary",
    oracle=_SUMMARY_ORACLE,
    tags=("text", "ML16", "mapInPandas"),
)
def extractive_summary_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML16 (summarizer) as Arrow-batched mapInPandas: the
    deterministic extractive summarizer (operators/summarize.py)
    applied per column batch. Reference runs distilbart per row on the
    driver (src/ml/summarizer.py:19-33); here summarization rides the
    executors and scales with partitions."""
    from ..operators.summarize import summarize

    docs = load_table(spark, sf_dir, "documents")
    n_parts = spark.sparkContext.defaultParallelism * 2
    return summarize(docs.repartition(n_parts, F.col("doc_id")))


def _ivf_oracle() -> str:
    dd = sql_dot
    # Adaptive centroid count c = max(16, isqrt(n)) mirrored from
    # COUNT: FLOOR(SQRT(n)) is exact for n < 2^52 (IEEE sqrt is
    # correctly rounded, so perfect squares are hit exactly) — both
    # engines agree bit-for-bit.
    return f"""
WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
cc AS (SELECT GREATEST(16, CAST(FLOOR(SQRT(n)) AS BIGINT)) AS c FROM nn),
base AS (
  SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
norms AS (
  SELECT vec_id, v, SQRT({dd('v', 'v')}) AS norm FROM base
),
cents AS (
  SELECT cent_id, cv, cnorm FROM (
    SELECT vec_id AS cent_id, v AS cv, norm AS cnorm,
           ROW_NUMBER() OVER (ORDER BY vec_id) AS crn
    FROM norms), cc
  WHERE crn <= cc.c
),
sims AS (
  SELECT n.vec_id, n.v, n.norm, c.cent_id,
         ROUND({dd('n.v', 'c.cv')} / (n.norm * c.cnorm), 9) AS cent_sim
  FROM norms n CROSS JOIN cents c
),
ranked AS (
  SELECT vec_id, v, norm, cent_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cent_sim DESC, cent_id) AS rn
  FROM sims
),
assigned AS (
  SELECT vec_id, v, norm, cent_id AS cell FROM ranked WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, v AS qv, norm AS qnorm, cent_id AS qcell
  FROM ranked WHERE rn <= 2 AND vec_id % 100 = 0
),
cand AS (
  SELECT p.query_id, a.vec_id, p.qv, p.qnorm, a.v, a.norm
  FROM probes p JOIN assigned a ON a.cell = p.qcell AND a.vec_id <> p.query_id
),
scored AS (
  SELECT query_id, vec_id,
         ROUND({dd('qv', 'v')} / (qnorm * norm), 9) AS cosine
  FROM cand
)
SELECT query_id, vec_id, cosine, rk FROM (
  SELECT query_id, vec_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rk
  FROM scored
) WHERE rk <= 5
"""


@register(
    "ann_ivf_topk",
    oracle=_ivf_oracle(),
    tags=("similarity", "ann", "ivf", "beyond-reference"),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (nprobe=2): nearest-centroid cell assignment via a
    broadcast argmin join, then candidate search across each query's
    two nearest cells — probing past the Voronoi boundary recovers the
    neighbors a single-cell search misses. Deterministic lowest-id
    centroids keep the index oracle-reproducible (a trained KMeans
    codebook slots into the same plan shape). Centroid count ADAPTS
    as c = max(16, isqrt(n)) — with c pinned, per-cell occupancy
    grows ∝ n and the probe stage re-acquires the quadratic term the
    index exists to remove (measured ~100x wall at the 100x decade,
    SCALE.md); c ∝ sqrt(n) balances the n·c assignment cost against
    the q·nprobe·n/c probe cost. The oracle mirrors c from COUNT(*)
    (FLOOR(SQRT(n)) — IEEE-exact below 2^52)."""
    from ..operators.similarity_search import ivf_topk
    from ..sources.bronze import table_num_rows

    e = load_table(spark, sf_dir, "embeddings")
    n = table_num_rows(sf_dir, "embeddings")
    return ivf_topk(
        e, F.col("vec_id") % 100 == 0, k=5, n_centroids=None, nprobe=2,
        n_vectors=n,
    )


def _ivf2_oracle(p1: int = 2, p2: int = 2, k: int = 5) -> str:
    """DuckDB mirror of ann_ivf2_topk: the _ivf_oracle CTE style with
    one extra quantizer level — coarse codebook c1 = max(4, isqrt(c)),
    fine-centroid coarse labels, two-stage vector assignment, and the
    p1-coarse → p2-fine probe cascade. Every rank orders
    (ROUND(sim, 9) DESC, centroid id ASC), matching the Spark packed
    argmax / window tie semantics."""
    dd = sql_dot
    return f"""
WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
cc AS (SELECT GREATEST(16, CAST(FLOOR(SQRT(n)) AS BIGINT)) AS c FROM nn),
cc1 AS (
  SELECT GREATEST(4, CAST(FLOOR(SQRT(CAST(c AS DOUBLE))) AS BIGINT)) AS c1 FROM cc
),
base AS (
  SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
norms AS (
  SELECT vec_id, v, SQRT({dd('v', 'v')}) AS norm FROM base
),
fine AS (
  SELECT cent_id, cv, cnorm FROM (
    SELECT vec_id AS cent_id, v AS cv, norm AS cnorm,
           ROW_NUMBER() OVER (ORDER BY vec_id) AS crn
    FROM norms), cc
  WHERE crn <= cc.c
),
coarse AS (
  SELECT co_id, ov, onorm FROM (
    SELECT vec_id AS co_id, v AS ov, norm AS onorm,
           ROW_NUMBER() OVER (ORDER BY vec_id) AS orn
    FROM norms), cc1
  WHERE orn <= cc1.c1
),
flab AS (
  -- SELF-first tie-break: a coarse centroid always labels to itself,
  -- so no coarse cell is ever empty of fine centroids (mirrors the
  -- Spark packed argmax's self bit)
  SELECT cent_id, cv, cnorm, co_id AS fco FROM (
    SELECT f.cent_id, f.cv, f.cnorm, o.co_id,
           ROW_NUMBER() OVER (PARTITION BY f.cent_id
             ORDER BY ROUND({dd('f.cv', 'o.ov')} / (f.cnorm * o.onorm), 9) DESC,
                      CASE WHEN o.co_id = f.cent_id THEN 1 ELSE 0 END DESC,
                      o.co_id) AS rn
    FROM fine f CROSS JOIN coarse o) WHERE rn = 1
),
vcoarse AS (
  SELECT vec_id, v, norm, co_id AS vco, rn FROM (
    SELECT n.vec_id, n.v, n.norm, o.co_id,
           ROW_NUMBER() OVER (PARTITION BY n.vec_id
             ORDER BY ROUND({dd('n.v', 'o.ov')} / (n.norm * o.onorm), 9) DESC,
                      o.co_id) AS rn
    FROM norms n CROSS JOIN coarse o)
),
assigned AS (
  SELECT vec_id, v, norm, cent_id AS cell FROM (
    SELECT x.vec_id, x.v, x.norm, f.cent_id,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id
             ORDER BY ROUND({dd('x.v', 'f.cv')} / (x.norm * f.cnorm), 9) DESC,
                      f.cent_id) AS rn
    FROM (SELECT * FROM vcoarse WHERE rn = 1) x
    JOIN flab f ON f.fco = x.vco) WHERE rn = 1
),
qf AS (
  SELECT query_id, qv, qnorm, cent_id AS qcell FROM (
    SELECT q.vec_id AS query_id, q.v AS qv, q.norm AS qnorm, f.cent_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY ROUND({dd('q.v', 'f.cv')} / (q.norm * f.cnorm), 9) DESC,
                      f.cent_id) AS rn
    FROM (SELECT * FROM vcoarse WHERE rn <= {p1} AND vec_id % 100 = 0) q
    JOIN flab f ON f.fco = q.vco) WHERE rn <= {p2}
),
cand AS (
  SELECT p.query_id, a.vec_id, p.qv, p.qnorm, a.v, a.norm
  FROM qf p JOIN assigned a ON a.cell = p.qcell AND a.vec_id <> p.query_id
),
scored AS (
  SELECT query_id, vec_id,
         ROUND({dd('qv', 'v')} / (qnorm * norm), 9) AS cosine
  FROM cand
)
SELECT query_id, vec_id, cosine, rk FROM (
  SELECT query_id, vec_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INTEGER) AS rk
  FROM scored
) WHERE rk <= {k}
"""


@register(
    "ann_ivf2_topk",
    oracle=_ivf2_oracle(p1=4, p2=4),
    tags=("similarity", "ann", "ivf", "hierarchical", "beyond-reference"),
)
def ann_ivf2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical two-level IVF ANN (p1=4 coarse probes, p2=4 fine
    probes): the escape hatch past the flat index's centroid-closure
    ceiling documented in SCALE.md — per-task centroid state drops
    from c·dim·8B to √c·dim·8B and the assignment pair stream from
    n·c to ~2·n·√c, at a measured recall cost vs the flat index
    (SCALE.md §ANN recall). Probe defaults raised 2×2 → 4×4 in round
    11 for recall parity with the flat index's nprobe=2 row:
    recall@10 measured 0.205 (2×2) / 0.185 (4×2 — extra coarse cells
    without extra fine probes spread the budget thinner) / 0.265
    (4×4) in tools/recall_bench.py; 4×4 also times FASTER in-bench
    than 2×2 (fewer empty-candidate windows). Deterministic lowest-id
    centroids at both levels keep the whole cascade
    oracle-reproducible; the oracle mirrors c = max(16, isqrt(n)) and
    c1 = max(4, isqrt(c)) from COUNT(*) (FLOOR(SQRT) is IEEE-exact
    below 2^52)."""
    from ..operators.similarity_search import ivf2_topk
    from ..sources.bronze import table_num_rows

    e = load_table(spark, sf_dir, "embeddings")
    n = table_num_rows(sf_dir, "embeddings")
    return ivf2_topk(
        e, F.col("vec_id") % 100 == 0, k=5, p1=4, p2=4, n_vectors=n
    )


@register(
    "multimodal_features",
    # Codec parsing / md5-over-BLOB cannot be expressed in the oracle
    # dialect, but the pipeline's CONTRACT can (same upgrade as
    # approx_distinct_stats / ml_training_scores this round): each row
    # below is an invariant any correct decode must satisfy, emitted
    # as a boolean against a literal all-TRUE oracle — so a codec or
    # Arrow-boundary regression fails the driver's hash check instead
    # of hiding behind a row count. Detailed per-media values remain
    # pinned by tests/test_sinks_multimodal.py + hypothesis fuzzing.
    oracle="""
    SELECT 'all_media_rows_decoded' AS invariant, TRUE AS passed
    UNION ALL SELECT 'bytes_positive_all_kinds', TRUE
    UNION ALL SELECT 'features_deterministic_across_passes', TRUE
    UNION ALL SELECT 'luma_within_unit_range', TRUE
    UNION ALL SELECT 'three_kinds_present', TRUE
    UNION ALL SELECT 'video_frames_video_only', TRUE
    ORDER BY invariant
    """,
    tags=("multimodal", "mapInPandas", "invariant-oracle", "beyond-reference"),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline surface: deterministic synthetic media table
    with REAL encoded payloads (BMP images, PCM16 WAV audio, Y4M video
    — operators/multimodal.py stdlib codecs) → Arrow mapInPandas decode
    + per-modality signal features → per-frame luma samples for videos.
    Returns one (invariant, passed) row per pipeline contract:

    - ``all_media_rows_decoded``: every synthesized row survives the
      decode (non-null hash + features) — a codec parse failure or a
      dropped Arrow batch flips this.
    - ``features_deterministic_across_passes``: two INDEPENDENT
      mapInPandas passes produce identical content hashes and leading
      features — the decode is a pure function of the bytes.
    - ``video_frames_video_only``: frame sampling yields ≥1 frame for
      every video and nothing for images/audio.
    - ``luma_within_unit_range``: decoded per-frame mean luma stays
      in the normalized [0, 1] range the decoder promises.
    - ``bytes_positive_all_kinds`` / ``three_kinds_present``: the
      synthesizer emits all three modalities with non-empty payloads.
    """
    from ..operators.multimodal import extract_features, sample_frames, synth_media

    media = synth_media(spark, 64).repartition(8, F.col("media_id"))
    feats = extract_features(media)
    feats2 = extract_features(media)
    frames = sample_frames(media).groupBy("media_id").agg(
        F.count("*").alias("n_frames"),
        F.min("frame_mean_y").alias("min_luma"),
        F.max("frame_mean_y").alias("max_luma"),
    )
    joined = feats.join(frames, "media_id", "left")
    decode_stats = joined.agg(
        F.count("*").alias("n_rows"),
        F.sum(
            (F.col("content_hash").isNotNull() & F.col("features").isNotNull()).cast(
                "bigint"
            )
        ).alias("n_decoded"),
        F.sum((F.col("n_bytes") > 0).cast("bigint")).alias("n_nonempty"),
        F.countDistinct("kind").alias("n_kinds"),
        F.sum(
            ((F.col("kind") == "video") & (F.coalesce("n_frames", F.lit(0)) >= 1))
            .cast("bigint")
        ).alias("videos_with_frames"),
        F.sum((F.col("kind") == "video").cast("bigint")).alias("n_videos"),
        F.sum(
            ((F.col("kind") != "video") & F.col("n_frames").isNotNull()).cast("bigint")
        ).alias("nonvideo_with_frames"),
        F.min(F.coalesce("min_luma", F.lit(0.0))).alias("min_luma"),
        F.max(F.coalesce("max_luma", F.lit(0.0))).alias("max_luma"),
    )
    pass1 = feats.select(
        "media_id",
        F.col("content_hash").alias("h1"),
        F.round(F.element_at("features", 1), 6).alias("f1"),
    )
    pass2 = feats2.select(
        "media_id",
        F.col("content_hash").alias("h2"),
        F.round(F.element_at("features", 1), 6).alias("f2"),
    )
    det = (
        pass1.join(pass2, "media_id")
        .agg(
            F.sum(
                ((F.col("h1") == F.col("h2")) & (F.col("f1") == F.col("f2"))).cast(
                    "bigint"
                )
            ).alias("n_same"),
            F.count("*").alias("n_cmp"),
        )
    )
    inv = decode_stats.crossJoin(det)
    checks = [
        ("all_media_rows_decoded", F.col("n_decoded") == F.col("n_rows")),
        ("bytes_positive_all_kinds", F.col("n_nonempty") == F.col("n_rows")),
        (
            "features_deterministic_across_passes",
            (F.col("n_same") == F.col("n_cmp")) & (F.col("n_cmp") == F.col("n_rows")),
        ),
        (
            "luma_within_unit_range",
            (F.col("min_luma") >= 0.0) & (F.col("max_luma") <= 1.0),
        ),
        ("three_kinds_present", F.col("n_kinds") == 3),
        (
            "video_frames_video_only",
            (F.col("videos_with_frames") == F.col("n_videos"))
            & (F.col("nonvideo_with_frames") == 0),
        ),
    ]
    stack = ", ".join(f"'{name}', `__c{i}`" for i, (name, _) in enumerate(checks))
    return (
        inv.select(*[expr.alias(f"__c{i}") for i, (_, expr) in enumerate(checks)])
        .select(F.expr(f"stack({len(checks)}, {stack})").alias("invariant", "passed"))
        .orderBy("invariant")
    )


# ---------------------------------------------------------------------------
# Dataset curation: deterministic source balancing and split assignment
# — the two sampling primitives every large-scale training-data mix
# needs, built hash-deterministic so runs are reproducible and the
# oracle can replay them exactly (a seeded RNG sample would be
# engine-specific; md5 priorities are not).
# ---------------------------------------------------------------------------

_MIX_CAP = 120


@register(
    "dataset_mix_downsample",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source, lang,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    )
    SELECT doc_id, source, lang
    FROM ranked WHERE rn <= {_MIX_CAP}
    """,
    tags=("curation", "sampling", "stratified", "beyond-reference"),
)
def dataset_mix_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source balanced downsampling: cap every source at N docs,
    keeping each source's lowest-md5-priority rows — deterministic
    stratified sampling, the standard fix for over-represented sources
    in a training mix. The md5 priority makes the SAMPLE ITSELF stable
    across runs, partitionings and engines (rerunning the pipeline
    after adding one source re-selects byte-identical rows for the
    others — incremental mix updates don't churn the corpus).

    Scale shape: one shuffle on `source` for the rank window. Sources
    are few and can be huge (skew): at 100 TB either pre-aggregate a
    per-source md5-priority THRESHOLD (two scans, no window — keeps
    everything map-side) or let AQE skew-split the window partitions;
    the windowed form here is the exact-semantics anchor the
    threshold form must reproduce."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "source", "lang", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= _MIX_CAP)
        .select("doc_id", "source", "lang")
    )


@register(
    "dataset_split_assignments",
    oracle="""
    SELECT doc_id,
           CASE
             WHEN b < 90 THEN 'train'
             WHEN b < 95 THEN 'validation'
             ELSE 'test'
           END AS split
    FROM (
      SELECT doc_id,
             TRY_CAST('0x' || SUBSTRING(md5('split42_' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS b
      FROM documents
    )
    """,
    tags=("curation", "splitting", "beyond-reference"),
)
def dataset_split_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/validation/test assignment by salted
    md5 bucket — pure projection (no shuffle, no RNG state), so the
    split is identical on every engine, at every scale, under any
    partitioning, and a document NEVER migrates between splits when
    the corpus grows (the property randomSplit cannot give you: its
    assignment depends on partition layout). The salt pins the split
    family; changing it re-draws all assignments at once."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split42_"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    return docs.select(
        "doc_id",
        F.when(bucket < 90, F.lit("train"))
        .when(bucket < 95, F.lit("validation"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


_PACK_BUDGET = 2048


@register(
    "sequence_packing",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             LEN(STRING_SPLIT(text, ' ')) AS n_tok
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tok,
             SUM(n_tok) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM t
    )
    SELECT doc_id, source, n_tok,
           CAST((cum - n_tok) // {_PACK_BUDGET} AS BIGINT) AS seq_index,
           CAST((cum - n_tok) % {_PACK_BUDGET} AS BIGINT) AS token_offset
    FROM c
    """,
    tags=("curation", "packing", "beyond-reference"),
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: assign each document a
    training-sequence index and token offset from the running token
    total within its source shard — the standard way LLM pipelines
    fill fixed-length context windows without padding waste. The
    assignment is a pure function of (source, doc_id order, token
    counts), so it is reproducible across engines and runs, and a doc
    that straddles a boundary is detectable as
    token_offset + n_tok > budget (the consumer decides chunk vs
    drop; the MAP is what the engine owes).

    Scale shape: one shuffle on `source`, then a per-partition
    cumulative sum — the same per-shard discipline real packers use
    (a GLOBAL running sum would serialize the corpus through one
    partition; per-source packing is embarrassingly parallel and is
    what shard-local packing does on a 1000-executor cluster)."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " "))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = docs.select("doc_id", "source", n_tok.alias("n_tok"))
    c = t.withColumn("cum", F.sum("n_tok").over(w))
    start = F.col("cum") - F.col("n_tok")
    return c.select(
        "doc_id",
        "source",
        "n_tok",
        F.floor(start / F.lit(_PACK_BUDGET)).cast("bigint").alias("seq_index"),
        (start % F.lit(_PACK_BUDGET)).cast("bigint").alias("token_offset"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination, corpus-LM quality scoring, TF-IDF terms —
# the remaining three standard curation passes of a pre-training data
# pipeline (decontaminate against held-out evals, score fluency
# against a corpus LM, surface discriminative terms).
# ---------------------------------------------------------------------------

_DECON_N = 8  # word n-gram length for contamination (13 at real scale)
_DECON_MOD = 50  # doc_id % _DECON_MOD == 0 plays the held-out eval set


def decontamination_broadcast_payload(
    spark: SparkSession, sf_dir: str
) -> dict[str, int]:
    """Bytes that must reach EVERY executor for each decontamination
    candidate filter — the quantity the bloom variant optimizes. The
    bench emits this next to the wall times so the bloom's done-bar
    is a measured payload ratio, not a narrative claim: at 100 TB the
    exact variant broadcasts every distinct benchmark gram STRING,
    the bloom a fixed-size bitmap (m/8 bytes)."""
    from ..operators.bloom import bloom_m_bits

    docs = load_table(spark, sf_dir, "documents")
    grams = _word_gram_rows(docs, _DECON_N)
    bench = (
        grams.where(F.col("doc_id") % _DECON_MOD == 0).select("g").distinct()
    )
    row = bench.agg(
        F.sum(F.length("g")).alias("b"), F.count("*").alias("n")
    ).collect()[0]
    # Mirror the query's sizing rule (upper bound on occurrences, not
    # the distinct count) so the reported bitmap bytes are the bytes
    # the bloom variant actually broadcasts.
    n_upper = (
        docs.where(F.col("doc_id") % _DECON_MOD == 0)
        .agg(
            F.sum(
                F.greatest(
                    F.size(F.split(F.col("text"), " ")) - (_DECON_N - 1),
                    F.lit(0),
                )
            ).alias("n")
        )
        .collect()[0]
        .n
    )
    return {
        "exact_broadcast_bytes": int(row.b or 0),
        "bloom_broadcast_bytes": bloom_m_bits(int(n_upper or 1)) // 8,
    }


def _word_gram_rows(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, g) rows of word n-grams, EXPLODE-FIRST.

    The obvious `explode(transform(sequence, i -> concat_ws(slice)))`
    is the round-5 Generate pathology: Generate re-evaluates its child
    per OUTPUT element, so the O(tokens)-sized array of O(n)-word
    strings is rebuilt per gram — O(tokens² · n) character work per
    document (measured: the 10× corpus's gram pass alone took 28s).
    Explode the raw words instead, then assemble each gram per ROW
    from n-1 lead() calls over one (doc_id, pos) window — linear,
    whole-stage-codegen'd, one doc_id shuffle. The trailing
    (incomplete) positions are dropped by requiring the last lead to
    be non-null; concat_ws's null-skipping never produces a short
    gram because those rows are filtered before the gram is used."""
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w")
    )
    wnd = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("w")] + [F.lead("w", i).over(wnd) for i in range(1, n)]
    return (
        toks.select(
            "doc_id",
            F.concat_ws(" ", *parts).alias("g"),
            F.lead("w", n - 1).over(wnd).alias("_last"),
        )
        .where(F.col("_last").isNotNull())
        .select("doc_id", "g")
    )


_DECON_ORACLE = f"""
    WITH words AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents
    ),
    grams AS (
      SELECT doc_id,
             UNNEST(LIST_TRANSFORM(
               RANGE(1, LEN(ws) - {_DECON_N} + 2),
               i -> ARRAY_TO_STRING(ws[i:i + {_DECON_N} - 1], ' '))) AS g
      FROM words WHERE LEN(ws) >= {_DECON_N}
    ),
    bench AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % {_DECON_MOD} = 0
    ),
    hits AS (
      SELECT t.doc_id, COUNT(DISTINCT t.g) AS n_shared
      FROM grams t JOIN bench b USING (g)
      WHERE t.doc_id % {_DECON_MOD} != 0
      GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared_ngrams,
           COALESCE(h.n_shared, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id % {_DECON_MOD} != 0
    """


@register(
    "benchmark_decontamination",
    oracle=_DECON_ORACLE,
    tags=("curation", "decontamination", "ngram", "beyond-reference"),
)
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination by word n-gram overlap: a training
    document is contaminated if it shares any word n-gram (n =
    _DECON_N) with the
    held-out benchmark slice (here the doc_id % 50 == 0 rows play the
    eval set) — the standard pre-training hygiene pass (GPT-3 App. C /
    Llama style, 13-grams at production scale). Emits the full
    per-document report (shared-gram count + flag, zeros included) so
    the drop/keep decision stays with the consumer.

    Scale shape: the benchmark gram set is tiny and static relative to
    the corpus, so it BROADCASTS — the 100 TB side is one narrow
    gram-explode + broadcast hash join + per-doc partial-agg count,
    no corpus-sized shuffle anywhere (the only exchange carries one
    row per contaminated doc). At real scale the broadcast carries a
    bloom filter over gram hashes instead of strings — implemented as
    :func:`benchmark_decontamination_bloom`; this join is that plan's
    exact-semantics anchor (the two are equivalence-tested)."""
    docs = load_table(spark, sf_dir, "documents")
    grams = _word_gram_rows(docs, _DECON_N)
    bench = (
        grams.where(F.col("doc_id") % _DECON_MOD == 0).select("g").distinct()
    )
    hits = (
        grams.where(F.col("doc_id") % _DECON_MOD != 0)
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count_distinct("g").alias("n_shared"))
    )
    n_shared = F.coalesce(F.col("n_shared"), F.lit(0))
    return (
        docs.where(F.col("doc_id") % _DECON_MOD != 0)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            n_shared.cast("bigint").alias("n_shared_ngrams"),
            (n_shared > 0).alias("contaminated"),
        )
    )


@register(
    "benchmark_decontamination_bloom",
    # SAME oracle as the exact anchor: the bloom only PRUNES
    # candidates (no false negatives), and the exact verify join
    # removes its false positives, so the two queries are
    # row-for-row equivalent by construction — and the driver checks
    # that equivalence against DuckDB every round.
    oracle=_DECON_ORACLE,
    tags=("curation", "decontamination", "bloom", "beyond-reference"),
)
def benchmark_decontamination_bloom(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bloom-pruned decontamination — the 100 TB variant of
    :func:`benchmark_decontamination` its docstring names. Instead of
    broadcasting the benchmark gram STRINGS to every train-side task,
    broadcast a fixed-size bloom bitmap over seeded xxhash64 gram
    hashes (operators/bloom.py: distributed bit_or build, plan-literal
    embed, codegen element_at probe — no UDF):

    1. bench grams → distinct → bloom words (one bounded collect of
       ≤ m/64 bigints — never corpus-sized);
    2. train grams filter through bloom_maybe BEFORE any join: ~99.6%
       of non-shared grams drop at scan speed (k=3, 16 bits/element →
       theoretical FP ≈ 0.4%, measured in tests/test_curation_ops.py);
    3. the surviving sliver joins EXACTLY against the bench gram set
       (AQE picks broadcast here at test scale; at 100 TB the
       survivor stream is small enough for a plain shuffle join), so
       every false positive dies and the output is row-for-row the
       exact anchor's.

    At 100 TB the win is the broadcast payload (2 MB bitmap vs GBs of
    gram strings) and the join fan-in (survivors only); the bound on
    the plan-literal form and the sc.broadcast+pandas-UDF escape
    hatch above it are documented in operators/bloom.py."""
    from ..operators.bloom import bloom_prune_row, bloom_row

    docs = load_table(spark, sf_dir, "documents")
    grams = _word_gram_rows(docs, _DECON_N)
    # localCheckpoint rather than cache(): cache matches by canonical
    # plan and would serve CROSS-RUN hits inside the bench's min-of-n
    # loop, understating the real per-run wall.
    # ONE deduplicated, lazily-checkpointed bench gram set serves all
    # three consumers — bloom sizing, bloom build, and the exact
    # verify join (which needed the distinct anyway). coalesce(2)
    # before the checkpoint: the (tiny — ~2% of docs) distinct output
    # sits at the full 32 shuffle partitions, and a checkpoint PINS
    # that, so its materialization would run 32 near-empty tasks;
    # coalesce narrows the exchange's reduce side shuffle-free.
    # MEASURED (round 12): dropping this checkpoint to save its
    # materialization job is a NEGATIVE — same-session alternating
    # min-of-6 at sf0.1 read 1.269s (checkpointed) vs 1.330s (pure
    # declarative, recompute per consumer); the three consumers'
    # re-scans cost more than the one checkpoint job.
    bench = (
        grams.where(F.col("doc_id") % _DECON_MOD == 0)
        .select("g")
        .distinct()
        .coalesce(2)
        .localCheckpoint(eager=False)
    )
    # Round 11: the build is FULLY DECLARATIVE (operators/bloom.py
    # bloom_row) — sizing is a 1-row count aggregate of the distinct
    # bench set (EXACT n, the best possible FP rate for the size
    # rule), and the dense word array is assembled in-plan. The
    # previous form paid THREE driver sync barriers (sizing collect,
    # words collect, createDataFrame re-ship) that serialized the
    # query into separate scans, plus a separate raw-stream
    # checkpoint next to the verify join's distinct; now the whole
    # thing is ONE action whose stages AQE pipelines, and nothing
    # bloom-related ever touches the driver.
    # NEGATIVE RESULT (round 8, kept so it isn't re-tried): a one-job
    # "build at the 2^24 cap, fold words down to the fill-derived m"
    # variant removed the sizing pass but regressed at 10× (1.9→2.3s
    # A/B'd same-session): the build's groupBy then grows with the
    # CAP-space fill (~k·n_grams words) instead of the serving size
    # m/64 — the sizing aggregate is what keeps the bitmap-bounded
    # claim true. See commit 39971a0 / its revert.
    train = grams.where(F.col("doc_id") % _DECON_MOD != 0)
    survivors = bloom_prune_row(train, "g", bloom_row(bench, "g"))
    hits = (
        survivors.join(bench, "g")
        .groupBy("doc_id")
        .agg(F.count_distinct("g").alias("n_shared"))
    )
    n_shared = F.coalesce(F.col("n_shared"), F.lit(0))
    return (
        docs.where(F.col("doc_id") % _DECON_MOD != 0)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            n_shared.cast("bigint").alias("n_shared_ngrams"),
            (n_shared > 0).alias("contaminated"),
        )
    )


@register(
    "unigram_lm_quality",
    oracle="""
    WITH toks AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
    ),
    freq AS (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w),
    tot AS (SELECT SUM(cnt) AS n FROM freq),
    scored AS (
      SELECT t.doc_id,
             CAST(ROUND(LN(CAST(tot.n AS DOUBLE) / f.cnt) * 1e6) AS BIGINT)
               AS nll_micro
      FROM toks t JOIN freq f ON t.w = f.w CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(nll_micro) AS BIGINT) AS sum_nll_micro,
           ROUND(SUM(nll_micro) / (COUNT(*) * 1e6), 6) AS avg_nll,
           ROUND(EXP(SUM(nll_micro) / (COUNT(*) * 1e6)), 6) AS ppl
    FROM scored GROUP BY doc_id
    """,
    tags=("curation", "quality", "language-model", "beyond-reference"),
)
def unigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM fluency scoring: train a unigram LM on the corpus
    itself (token frequencies), then score every document by its
    average negative log-likelihood and pseudo-perplexity — the
    cheap stand-in for the KenLM-perplexity quality filter every
    pre-training pipeline runs (CCNet-style), expressible end-to-end
    in the engine because the "model" is an aggregate of the data.

    Parity discipline: the cross-row reduction is over INTEGER
    micro-nats (per-token nll rounded to 1e-6 before summing —
    plans/_parity.py rationale), so the per-doc sums are exact and
    engine-identical; only the final per-row avg/exp are floats,
    rounded at 6dp.

    Scale shape: the frequency table is vocabulary-sized (millions of
    rows at web scale — still broadcastable), so the plan is one
    narrow token explode, a map-side-combined vocab agg, a broadcast
    re-join of frequencies onto the token stream, and a per-doc
    partial agg whose shuffle carries one row per document. No
    token-level shuffle ever happens: both groupBys partial-combine
    map-side."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    freq = toks.groupBy("w").agg(F.count("*").alias("cnt"))
    tot = freq.agg(F.sum("cnt").alias("n"))
    scored = (
        toks.join(F.broadcast(freq), "w")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(
                F.log(F.col("n").cast("double") / F.col("cnt")) * 1e6
            )
            .cast("bigint")
            .alias("nll_micro"),
        )
    )
    avg = F.col("sum_nll_micro") / (F.col("n_tokens") * F.lit(1e6))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("nll_micro").alias("sum_nll_micro"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "sum_nll_micro",
            F.round(avg, 6).alias("avg_nll"),
            F.round(F.exp(avg), 6).alias("ppl"),
        )
    )


_TFIDF_K = 3


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
    ),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM toks GROUP BY doc_id, w),
    df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY w),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.w AS term,
             tf.tf * CAST(ROUND(LN(CAST(n.n_docs AS DOUBLE) / df.df) * 1e6)
                          AS BIGINT) AS tfidf_micro
      FROM tf JOIN df ON tf.w = df.w CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, tfidf_micro,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY tfidf_micro DESC, term
             ) AS rnk
      FROM scored
    )
    SELECT doc_id, term, tfidf_micro, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= {_TFIDF_K}
    """,
    tags=("curation", "tfidf", "keywords", "beyond-reference"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-k discriminative terms by TF-IDF — the
    document-fingerprinting/keyword pass used for clustering,
    topic balancing and near-dup triage in training-data curation.

    Parity discipline: the score is an INTEGER — tf × round(ln(N/df)
    · 1e6) — so ranking and values are engine-exact (no float
    comparison decides an ordering); ties break on the term string.

    Scale shape: tf partial-combines map-side before its (doc, term)
    shuffle; df is vocabulary-sized and BROADCASTS back onto tf; the
    corpus count rides a broadcast 1-row cross join (no driver
    action); the final top-k window shuffles one row per (doc, term)
    pair, rank-pruned to k per doc. The same plan holds at 100 TB
    with the df/vocab broadcast as the only sub-linear assumption —
    exactly the one TF-IDF itself makes."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    tf = toks.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    df = toks.groupBy("w").agg(F.count_distinct("doc_id").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    idf_micro = (
        F.round(F.log(F.col("n_docs").cast("double") / F.col("df")) * 1e6)
        .cast("bigint")
    )
    scored = (
        tf.join(F.broadcast(df), "w")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.col("w").alias("term"),
            (F.col("tf") * idf_micro).alias("tfidf_micro"),
        )
    )
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf_micro").desc(), F.col("term")
    )
    return (
        scored.select(
            "doc_id",
            "term",
            "tfidf_micro",
            F.row_number().over(w_rank).alias("rnk"),
        )
        .where(F.col("rnk") <= _TFIDF_K)
    )


_CURATION_QUALITY_MIN = 0.59


@register(
    "corpus_curation_report",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, text, STRING_SPLIT(text, ' ') AS ws FROM documents
    ),
    grams AS (
      SELECT doc_id,
             UNNEST(LIST_TRANSFORM(
               RANGE(1, LEN(ws) - {_DECON_N} + 2),
               i -> ARRAY_TO_STRING(ws[i:i + {_DECON_N} - 1], ' '))) AS g
      FROM words WHERE LEN(ws) >= {_DECON_N}
    ),
    bench AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % {_DECON_MOD} = 0
    ),
    contaminated AS (
      SELECT DISTINCT t.doc_id
      FROM grams t JOIN bench b USING (g)
      WHERE t.doc_id % {_DECON_MOD} != 0
    ),
    fp AS (
      SELECT doc_id,
             MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical
      FROM documents
    ),
    q AS (
      SELECT doc_id,
             0.3 * LEAST(1.0, LEN(ws) / 100.0)
               + 0.3 * (1.0 - CAST(LEN(LIST_FILTER(ws,
                   x -> x IN {_STOPWORDS!r})) AS DOUBLE) / LEN(ws))
               + 0.4 * (CAST(LEN(LIST_DISTINCT(ws)) AS DOUBLE) / LEN(ws))
               AS quality_score
      FROM words
    )
    SELECT d.doc_id,
           CASE
             WHEN d.doc_id % {_DECON_MOD} = 0 THEN 'eval_holdout'
             WHEN fp.canonical != d.doc_id THEN 'exact_dup'
             WHEN c.doc_id IS NOT NULL THEN 'contaminated'
             WHEN q.quality_score < {_CURATION_QUALITY_MIN} THEN 'low_quality'
             ELSE 'kept'
           END AS reason,
           (d.doc_id % {_DECON_MOD} != 0 AND fp.canonical = d.doc_id
            AND c.doc_id IS NULL
            AND q.quality_score >= {_CURATION_QUALITY_MIN}) AS kept
    FROM documents d
    JOIN fp ON d.doc_id = fp.doc_id
    JOIN q ON d.doc_id = q.doc_id
    LEFT JOIN contaminated c ON d.doc_id = c.doc_id
    """,
    tags=("curation", "pipeline", "composition", "beyond-reference"),
)
def corpus_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation decision, per document: the
    composition every training-data pipeline ships as its final pass.
    The drop ladder (first failing gate wins) is eval_holdout →
    exact_dup (non-canonical copy by md5 fingerprint) → contaminated
    (shares an n-gram with the holdout slice) → low_quality (composite
    score below the gate) → kept. Emitting the REPORT rather than the
    filtered corpus keeps every decision auditable — the kept corpus
    is one `WHERE kept` away.

    Parity note: the quality gate compares a float, but every term is
    rational arithmetic (+ × ÷ least) on integer-derived values —
    correctly-rounded IEEE ops, so the double is bit-identical across
    engines and the comparison is exact (no transcendentals on this
    path).

    Scale shape: three narrow per-doc pipelines (fingerprint window on
    md5(text) — one shuffle ∝ docs; broadcast-gram contamination join
    as in benchmark_decontamination; quality as pure projection)
    joined back on doc_id. At 100 TB the fingerprint window is the
    only corpus-sized shuffle, and it moves 16-byte hashes + ids, not
    text — VERIFIED against the physical plan in round 14: the
    pre-exchange projection already read (doc_id, quality_score,
    md5(text)) — Catalyst collapsed the md5/quality expressions below
    the window's exchange on its own, even though the source wrote
    quality above it. Round 14 makes that narrow shuffle STRUCTURAL
    (the explicit projection below; guide §2.3) so it no longer
    depends on an optimizer rule firing; plans before/after are
    node-identical (plans/r14/corpus_curation_report_*.txt — only
    alias names differ), so no wall change is claimed."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")

    # The gram rows feed two consumers with DIFFERENT, DISJOINT pushed
    # filters (% 50 == 0 vs != 0): each document's grams are exploded
    # exactly once ACROSS the two passes, so the only duplicated work
    # is the parquet scan evaluating the pushed predicate — exactly
    # benchmark_decontamination's shape. Round 11 removed the eager
    # localCheckpoint that used to sit here: it materialized the FULL
    # gram stream (~n-gram-width × the corpus text in bytes) to dodge
    # one extra 1×-column scan — a clear loss at 100 TB, and a wash at
    # sf0.1 (A/B min-of-6 same-session: 0.976s checkpointed vs 1.041s
    # pushdown).
    grams = _word_gram_rows(docs, _DECON_N)
    bench = grams.where(F.col("doc_id") % _DECON_MOD == 0).select("g").distinct()
    contaminated = (
        grams.where(F.col("doc_id") % _DECON_MOD != 0)
        .join(F.broadcast(bench), "g")
        .select("doc_id")
        .distinct()
        .withColumn("is_contaminated", F.lit(True))
    )

    t = words
    n_tokens = F.size(t)
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    stop_ratio = (
        F.size(F.filter(t, lambda x: F.array_contains(stop_arr, x))).cast(
            "double"
        )
        / n_tokens
    )
    ttr = F.size(F.array_distinct(t)).cast("double") / n_tokens
    quality = (
        0.3 * F.least(F.lit(1.0), n_tokens / F.lit(100.0))
        + 0.3 * (F.lit(1.0) - stop_ratio)
        + 0.4 * ttr
    )
    # Narrow projection BELOW the fingerprint window (round 14):
    # structural form of what the optimizer was already doing — the
    # executed plan's pre-exchange projection read (doc_id,
    # quality_score, md5(text)) even when the source computed quality
    # above the window. Writing the projection explicitly pins the
    # narrow shuffle instead of relying on CollapseProject/pruning;
    # plans are node-identical before/after (no wall claim).
    narrow = docs.select(
        "doc_id",
        F.md5(F.col("text")).alias("fp"),
        quality.alias("quality_score"),
    )
    w_fp = Window.partitionBy("fp")
    base = narrow.select(
        "doc_id",
        F.min("doc_id").over(w_fp).alias("canonical"),
        "quality_score",
    )
    holdout = F.col("doc_id") % _DECON_MOD == 0
    is_dup = F.col("canonical") != F.col("doc_id")
    is_cont = F.col("is_contaminated").isNotNull()
    low_q = F.col("quality_score") < _CURATION_QUALITY_MIN
    return base.join(contaminated, "doc_id", "left").select(
        "doc_id",
        F.when(holdout, F.lit("eval_holdout"))
        .when(is_dup, F.lit("exact_dup"))
        .when(is_cont, F.lit("contaminated"))
        .when(low_q, F.lit("low_quality"))
        .otherwise(F.lit("kept"))
        .alias("reason"),
        (~holdout & ~is_dup & ~is_cont & ~low_q).alias("kept"),
    )


_VOCAB_SIZE = 20  # top-V corpus words (specials sit below this)
_VOCAB_SPECIALS = ("<pad>", "<unk>", "<bos>", "<eos>")


@register(
    "vocab_construction",
    oracle=f"""
    WITH specials AS (
      SELECT * FROM (VALUES
        ('<pad>', 0, CAST(0 AS BIGINT)), ('<unk>', 1, CAST(0 AS BIGINT)),
        ('<bos>', 2, CAST(0 AS BIGINT)), ('<eos>', 3, CAST(0 AS BIGINT))
      ) AS t(token, token_id, freq)
    ),
    freq AS (
      SELECT w AS token, COUNT(*) AS freq
      FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents)
      GROUP BY w
    ),
    ranked AS (
      SELECT token, freq,
             ROW_NUMBER() OVER (ORDER BY freq DESC, token) + {len(_VOCAB_SPECIALS)} - 1
               AS token_id
      FROM freq
    )
    SELECT token, CAST(token_id AS INTEGER) AS token_id, freq FROM specials
    UNION ALL
    SELECT token, CAST(token_id AS INTEGER) AS token_id, freq
    FROM ranked WHERE token_id < {_VOCAB_SIZE} + {len(_VOCAB_SPECIALS)}
    """,
    tags=("curation", "vocabulary", "tokenizer", "beyond-reference"),
)
def vocab_construction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked vocabulary construction — the tokenizer-prep
    step of a training pipeline: reserved special tokens at fixed ids,
    then the top-V corpus words by count (ties broken on the token
    string so the id assignment is total and engine-independent).

    Scale shape: one map-side-combined token count (vocab-sized
    result), then a rank over the vocab table only — the corpus never
    shuffles token-level rows, and the top-V window runs on a table
    the size of the vocabulary, not the corpus. The global
    ROW_NUMBER's single-partition window is over ≤|vocab| rows by
    construction; at web scale pre-filter with an approximate
    count threshold before ranking to keep that window small.

    Round 14: the top-V cap is orderBy+limit (TakeOrderedAndProject —
    per-partition partial top-k merged on the driver) and the
    row_number window runs AFTER the cap, over ≤V rows; the previous
    form windowed the FULL frequency table, a corpus-vocabulary-sized
    single-partition sort. Same rows (the (freq DESC, token) order is
    total, so cap-then-rank equals rank-then-filter)."""
    docs = load_table(spark, sf_dir, "documents")
    n_special = len(_VOCAB_SPECIALS)
    specials = spark.createDataFrame(
        [(t, i, 0) for i, t in enumerate(_VOCAB_SPECIALS)],
        "token string, token_id int, freq long",
    )
    freq = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    top = freq.orderBy(F.desc("freq"), F.asc("token")).limit(_VOCAB_SIZE)
    w_rank = Window.orderBy(F.col("freq").desc(), F.col("token"))
    ranked = top.select(
        "token",
        (F.row_number().over(w_rank) + n_special - 1)
        .cast("int")
        .alias("token_id"),
        "freq",
    )
    return specials.unionByName(ranked)


@register(
    "document_token_ids",
    oracle=f"""
    WITH freq AS (
      SELECT w AS token, COUNT(*) AS freq
      FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents)
      GROUP BY w
    ),
    ranked AS (
      SELECT token,
             ROW_NUMBER() OVER (ORDER BY freq DESC, token)
               + {len(_VOCAB_SPECIALS)} - 1 AS token_id
      FROM freq
      QUALIFY token_id < {_VOCAB_SIZE} + {len(_VOCAB_SPECIALS)}
    ),
    words AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
    pos AS (
      SELECT doc_id, i, ws[i] AS token
      FROM words CROSS JOIN UNNEST(RANGE(1, LEN(ws) + 1)) AS t(i)
    ),
    ids AS (
      SELECT p.doc_id, p.i, COALESCE(r.token_id, 1) AS id
      FROM pos p LEFT JOIN ranked r ON p.token = r.token
    )
    SELECT doc_id,
           STRING_AGG(CAST(id AS VARCHAR), ' ' ORDER BY i) AS input_ids,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN id = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
    FROM ids GROUP BY doc_id
    """,
    tags=("curation", "tokenizer", "encoding", "beyond-reference"),
)
def document_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document → token-id encoding against the frequency-ranked
    vocabulary (vocab_construction's word table), out-of-vocabulary
    words mapped to <unk> (id 1) — the text-to-input_ids step that
    feeds sequence_packing. Ids are emitted as a space-joined string
    plus token/unk counts, so the result is exactly comparable across
    engines without array-hashing concerns.

    Scale shape (round-14 rewrite, the tokenizer-family job_profile
    cut): ONE corpus shuffle (the word count, whose top-V cap is
    TakeOrderedAndProject — per-partition partial top-k, never a
    corpus-wide single-partition sort the old row_number window paid)
    feeding a BOUNDED collect (≤_VOCAB_SIZE rows), then the encode is
    a single NARROW projection: the id mapping travels as a plan-tiny
    map literal probed per token, so the old explode → broadcast
    join → collect_list(struct)+array_sort re-aggregation (3 extra
    jobs and a corpus-sized doc_id shuffle) disappears entirely.
    Adjacent A/B min-of-4 at sf0.1: 0.92s → 0.48s, outputs
    exact-equal. The map literal grows with V — same documented
    bound as document_bpe_ids' vmap: swap back to the broadcast-join
    form beyond ~10k vocab entries. The `ids` array is bound in its
    OWN projection before its three references (round-3 HOF-CSE
    rule)."""
    docs = load_table(spark, sf_dir, "documents")
    n_special = len(_VOCAB_SPECIALS)
    freq = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    top = (
        freq.orderBy(F.desc("freq"), F.asc("token")).limit(_VOCAB_SIZE).collect()
    )
    def _q(s: str) -> str:
        return s.replace("\\", "\\\\").replace("'", "\\'")
    vmap = "map(" + ",".join(
        f"'{_q(r.token)}',{i + n_special}" for i, r in enumerate(top)
    ) + ")"
    ws = docs.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
    ids = ws.select(
        "doc_id",
        "ws",
        F.expr(f"transform(ws, w -> coalesce({vmap}[w], 1))").alias("ids"),
    )
    return ids.select(
        "doc_id",
        F.concat_ws(
            " ", F.expr("transform(ids, i -> cast(i as string))")
        ).alias("input_ids"),
        F.size("ws").cast("bigint").alias("n_tokens"),
        F.expr("size(filter(ids, i -> i = 1))").cast("bigint").alias("n_unk"),
    )


_CHUNK_TOKENS = 32
_CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks


@register(
    "document_chunks",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents
    ),
    starts AS (
      SELECT doc_id, ws, UNNEST(RANGE(0, LEN(ws), {_CHUNK_STRIDE})) AS s
      FROM words
    )
    SELECT doc_id,
           CAST(s // {_CHUNK_STRIDE} AS INTEGER) AS chunk_index,
           CAST(s AS INTEGER) AS start_token,
           CAST(LEAST({_CHUNK_TOKENS}, LEN(ws) - s) AS INTEGER)
             AS n_chunk_tokens,
           ARRAY_TO_STRING(ws[s + 1:LEAST(s + {_CHUNK_TOKENS}, LEN(ws))], ' ')
             AS chunk_text
    FROM starts
    """,
    tags=("curation", "chunking", "rag", "beyond-reference"),
)
def document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (32-token chunks every 24
    tokens, 8-token overlap) — the context-prep
    pass for retrieval / embedding pipelines: every token position is
    covered, boundaries overlap so no span is split without a witness
    chunk, and (doc_id, chunk_index, start_token) is a pure function
    of the text, reproducible across engines and runs.

    Scale shape: pure narrow explode — no shuffle at all; chunk count
    per doc is ceil(n_tokens / stride), so output size is a fixed
    multiple (~C/S ≈ 1.33× tokens) of the corpus, produced at scan
    speed. The overlap factor is the only storage lever and is
    explicit in the two constants."""
    docs = load_table(spark, sf_dir, "documents")
    # Bind the split in its OWN projection before the explode:
    # Generate re-evaluates its child per output element (round-5
    # lesson), so a sequence bound on size(split(text)) would re-split
    # the text once per chunk. With ws a bound column the per-element
    # child is a size() lookup.
    split_docs = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("ws")
    )
    exploded = split_docs.select(
        "doc_id",
        "ws",
        F.explode(
            F.sequence(F.lit(0), F.size(F.col("ws")) - 1, F.lit(_CHUNK_STRIDE))
        ).alias("s"),
    )
    n_ws = F.size(F.col("ws"))
    return exploded.select(
        "doc_id",
        (F.col("s") / _CHUNK_STRIDE).cast("int").alias("chunk_index"),
        F.col("s").cast("int").alias("start_token"),
        F.least(F.lit(_CHUNK_TOKENS), n_ws - F.col("s"))
        .cast("int")
        .alias("n_chunk_tokens"),
        F.concat_ws(
            " ", F.slice(F.col("ws"), F.col("s") + 1, _CHUNK_TOKENS)
        ).alias("chunk_text"),
    )


@register(
    "bigram_lm_quality",
    oracle="""
    WITH words AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
    toks AS (
      SELECT doc_id, i, ws[i] AS w,
             CASE WHEN i > 1 THEN ws[i - 1] END AS prev
      FROM words CROSS JOIN UNNEST(RANGE(1, LEN(ws) + 1)) AS t(i)
    ),
    uni AS (SELECT w, COUNT(*) AS c1 FROM toks GROUP BY w),
    v AS (SELECT COUNT(*) AS vsz FROM uni),
    bi AS (
      SELECT prev, w, COUNT(*) AS c2 FROM toks
      WHERE prev IS NOT NULL GROUP BY prev, w
    ),
    scored AS (
      SELECT t.doc_id,
             CAST(ROUND(LN(CAST(u.c1 + v.vsz AS DOUBLE)
                           / (COALESCE(b.c2, 0) + 1)) * 1e6) AS BIGINT)
               AS nll_micro
      FROM toks t
      JOIN uni u ON t.prev = u.w
      LEFT JOIN bi b ON t.prev = b.prev AND t.w = b.w
      CROSS JOIN v
      WHERE t.prev IS NOT NULL
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(nll_micro) AS BIGINT) AS sum_nll_micro,
           ROUND(SUM(nll_micro) / (COUNT(*) * 1e6), 6) AS avg_nll,
           ROUND(EXP(SUM(nll_micro) / (COUNT(*) * 1e6)), 6) AS ppl
    FROM scored GROUP BY doc_id
    """,
    tags=("curation", "quality", "language-model", "bigram", "beyond-reference"),
)
def bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency scoring with add-one smoothing: per-token
    -ln P(w | prev) where P = (c(prev,w) + 1) / (c(prev) + |V|) — the
    conditional-probability upgrade of unigram_lm_quality, scoring
    word ORDER, not just word choice (a shuffled document keeps its
    unigram score but its bigram perplexity rises). Same integer
    micro-nat parity discipline: the only floats are the final
    per-row avg/exp, rounded at 6dp.

    Scale shape (round-11 job-count rewrite, 10 → ~6 jobs): bigram
    pairs come from exploding arrays_zip(slice(ws, 1, n−1),
    slice(ws, 2, n−1)) — adjacent raw-column slices, codegen-safe
    under Generate (round-6 precision: only lambda-HOF children are
    pathological) — which deletes the lag() window and its doc_id
    shuffle entirely. The pair stream partial-combines map-side into
    per-(doc, prev, w) counts n (never shuffling raw positions), the
    observed-bigram count c2 attaches as a (prev, w)-window sum over
    that already-aggregated frame (no separate bigram aggregate, no
    second join), and the unigram broadcast carries |V| as a
    single-partition count window over the vocabulary-sized frame
    (the 1-row |V| aggregate and its extra broadcast job are gone).
    Positions collapse to weighted distinct bigrams, so the per-doc
    reduction sums n·nll — integer-identical to summing per position.
    At 100 TB: three exchanges total — (doc, prev, w) with partial
    aggregation, (prev, w) for the window (input bounded by distinct
    per-doc bigrams, not positions), one row per doc out — plus the
    vocab broadcast TF-IDF itself assumes."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    toks = docs.select("doc_id", F.explode(ws).alias("w"))
    # c(prev) counts every occurrence of the word anywhere (the
    # standard add-one denominator), not only occurrences with a
    # successor — the oracle aggregates over toks the same way. |V|
    # rides the same broadcast as a count window (the frame is
    # vocabulary-sized by the broadcast's own assumption, so a
    # single-partition window over it is free).
    uni_prev = (
        toks.groupBy("w")
        .agg(F.count("*").alias("c1"))
        .withColumn("vsz", F.count("*").over(Window.partitionBy()))
        .withColumnRenamed("w", "prev")
    )
    pairs = docs.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice(ws, 1, F.size(ws) - 1).alias("prev"),
                F.slice(ws, 2, F.size(ws) - 1).alias("w"),
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.prev").alias("prev"), F.col("bg.w").alias("w"))
    docbi = pairs.groupBy("doc_id", "prev", "w").agg(
        F.count("*").alias("n")
    )
    # every position IS an occurrence of its own bigram, so c2 >= 1
    # always — the add-one smoothing's unobserved branch is
    # unreachable when scoring the training corpus itself
    c2 = F.sum("n").over(Window.partitionBy("prev", "w"))
    scored = (
        docbi.withColumn("c2", c2)
        .join(F.broadcast(uni_prev), "prev")
        .select(
            "doc_id",
            "n",
            F.round(
                F.log(
                    (F.col("c1") + F.col("vsz")).cast("double")
                    / (F.col("c2") + 1)
                )
                * 1e6
            )
            .cast("bigint")
            .alias("nll_micro"),
        )
    )
    avg = F.col("sum_nll_micro") / (F.col("n_bigrams") * F.lit(1e6))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_bigrams"),
            F.sum(F.col("n") * F.col("nll_micro")).alias("sum_nll_micro"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "sum_nll_micro",
            F.round(avg, 6).alias("avg_nll"),
            F.round(F.exp(avg), 6).alias("ppl"),
        )
    )


@register(
    "embedding_int8_quantize",
    oracle="""
    WITH q AS (
      SELECT vec_id, embedding,
             LIST_MAX(LIST_TRANSFORM(embedding, x -> ABS(x))) AS maxabs
      FROM embeddings
    ),
    enc AS (
      SELECT vec_id, embedding, maxabs,
             LIST_TRANSFORM(embedding,
                            x -> CAST(ROUND(x * 127.0 / maxabs) AS BIGINT))
               AS qv
      FROM q WHERE maxabs > 0
    )
    SELECT vec_id,
           ROUND(maxabs, 9) AS scale,
           ARRAY_TO_STRING(qv, ' ') AS qvals,
           ROUND(LIST_MAX(LIST_TRANSFORM(
             RANGE(1, LEN(qv) + 1),
             i -> ABS(CAST(embedding[i] AS DOUBLE)
                      - qv[i] * CAST(maxabs AS DOUBLE) / 127.0))), 9)
             AS max_err
    FROM enc
    """,
    tags=("embeddings", "quantization", "int8", "beyond-reference"),
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column: per-vector
    absmax scale, q = round(x·127/scale), plus the measured max
    reconstruction error — the storage/bandwidth lever real ANN
    deployments pull (4× smaller vectors, SIMD int8 dot products)
    with the error bound surfaced as data instead of assumed.

    Parity notes: the scale is the float32 absmax (comparisons are
    exact), the quantized codes are integers from identical
    double-promoted arithmetic in both engines (round-half-away and
    round-HALF_UP agree away from exact .5, which float inputs never
    hit), and codes are emitted space-joined so the row hashes
    engine-stably. Per-element work rides codegen'd HOFs bound in
    their own projections (round-3 lesson: an alias referenced by
    multiple downstream lambdas must be materialized once).

    Scale shape: pure projection — zero shuffles, linear scan, the
    shape that matters when quantizing 10^11 vectors."""
    e = load_table(spark, sf_dir, "embeddings")
    # The maxabs > 0 guard, expressed on the INPUT side as "any
    # nonzero NON-NULL element" ⟺ array_min < 0 OR array_max > 0:
    # a where() on the maxabs alias would be pushed below the
    # projection with the whole transform tree inlined into the Filter
    # node, re-evaluating the lambda interpreted per row (plan_audit
    # W1) — and the previous array_compact(array_remove(...)) form was
    # no better, because ArrayCompact is RuntimeReplaceable sugar for
    # filter(x -> isnotnull(x)), which put a lambda HOF right back
    # inside the Filter (the one remaining round-12 plan_audit warn).
    # array_min/array_max skip NULLs and carry no lambda, so a row
    # like [0.0, NULL] (min 0.0, max 0.0) is excluded exactly as the
    # oracle's WHERE maxabs > 0 excludes it, and the predicate stays
    # codegen'd and pushdown-safe with zero HOFs anywhere in the plan.
    with_max = (
        e.where(
            (F.array_min("embedding") < 0) | (F.array_max("embedding") > 0)
        )
        .select(
            "vec_id",
            "embedding",
            F.array_max(F.transform("embedding", lambda x: F.abs(x))).alias(
                "maxabs"
            ),
        )
    )
    enc = with_max.select(
        "vec_id",
        "embedding",
        "maxabs",
        F.transform(
            "embedding",
            lambda x: F.round(x * 127.0 / F.col("maxabs")).cast("bigint"),
        ).alias("qv"),
    )
    # Explicit doubles: q (bigint) times a FLOAT maxabs would compute
    # the product in float32 and drift ~1e-7 relative off the oracle's
    # double path — every arithmetic step here is pinned to double
    # (float→double widening is exact, so both engines see identical
    # inputs).
    err = F.array_max(
        F.zip_with(
            "embedding",
            "qv",
            lambda x, q: F.abs(
                x.cast("double")
                - q.cast("double") * F.col("maxabs").cast("double") / 127.0
            ),
        )
    )
    return enc.select(
        "vec_id",
        F.round(F.col("maxabs"), 9).alias("scale"),
        F.array_join(
            F.transform("qv", lambda q: q.cast("string")), " "
        ).alias("qvals"),
        F.round(err, 9).alias("max_err"),
    )


_TEXTRANK_ITERS = 10
_TEXTRANK_TOPK = 20
_TEXTRANK_CKPT_EVERY = 5  # lazy-checkpoint cadence (see loop comment)


def _textrank_oracle() -> str:
    base = f"""
    WITH words AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
    toks AS (
      SELECT doc_id, i, ws[i] AS w,
             CASE WHEN i > 1 THEN ws[i - 1] END AS prev
      FROM words CROSS JOIN UNNEST(RANGE(1, LEN(ws) + 1)) AS t(i)
    ),
    bi AS (
      SELECT prev AS a, w AS b, COUNT(*) AS cnt FROM toks
      WHERE prev IS NOT NULL GROUP BY 1, 2
    ),
    sym AS (
      SELECT a AS src, b AS dst, cnt FROM bi
      UNION ALL SELECT b, a, cnt FROM bi
    ),
    edges0 AS (SELECT src, dst, SUM(cnt) AS cnt FROM sym GROUP BY 1, 2),
    wout AS (SELECT src, SUM(cnt) AS wout FROM edges0 GROUP BY 1),
    edges AS (
      SELECT e.src, e.dst, e.cnt, o.wout FROM edges0 e JOIN wout o USING (src)
    ),
    nodes AS (
      SELECT DISTINCT src AS node FROM edges0
      UNION SELECT DISTINCT dst FROM edges0
    ),
    pr0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS r FROM nodes)"""
    steps = ""
    for k in range(_TEXTRANK_ITERS):
        steps += f""",
    s{k} AS (
      SELECT e.dst AS node, SUM((p.r * e.cnt) // e.wout) AS acc
      FROM edges e JOIN pr{k} p ON p.node = e.src GROUP BY e.dst
    ),
    pr{k + 1} AS (
      SELECT n.node, 150000000 + (85 * COALESCE(s.acc, 0)) // 100 AS r
      FROM nodes n LEFT JOIN s{k} s USING (node)
    )"""
    return (
        base
        + steps
        + f"""
    SELECT node AS word, CAST(r AS BIGINT) AS rank_micro,
           CAST(ROW_NUMBER() OVER (ORDER BY r DESC, node) AS INTEGER) AS rnk
    FROM pr{_TEXTRANK_ITERS} QUALIFY rnk <= {_TEXTRANK_TOPK}
    """
    )


@register(
    "textrank_keywords",
    oracle=_textrank_oracle(),
    tags=("curation", "textrank", "pagerank", "iterative", "beyond-reference"),
)
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction: PageRank over the symmetrized word
    co-occurrence (bigram) graph, top-20 by final rank — the classic
    unsupervised keyword pass, and the engine's weighted-fixpoint
    iterative showcase alongside connected components.

    DETERMINISTIC FIXPOINT: float PageRank sums are partition-order-
    dependent, so instead every quantity is an integer — ranks in 1e9
    micro-units, per-edge contributions floor((r·w) div wout), damping
    as (85·S) div 100 — making all 10 iterations EXACTLY reproducible
    on any engine, any partitioning (integer sums are associative).
    Overflow bound, stated honestly: each r·cnt product must stay
    under 2^63. At test scale that is ~1e9-unit ranks times ~3e4
    edge counts — nine orders of headroom — but a web-scale graph
    where a hub word holds ~1e13 rank-units AND sits on a ~1e9-count
    edge WOULD cross it, silently in non-ANSI Spark while the DuckDB
    oracle errors. The guard is the long-units discipline's
    (plans/_parity.py): tests/test_parity_guard.py runs this query
    under spark.sql.ansi.enabled, where a crossing throws loudly;
    beyond the bound, rescale ranks to 1e6 micro-units (three orders
    of headroom at a precision cost the fixpoint tolerates).
    Nodes without out-edges absorb rank (the simplified no-dangling-
    redistribution variant); 10 fixed iterations rather than a float
    convergence test keep the stopping rule engine-independent too.

    Scale shape: per iteration, one broadcast-or-shuffle join of the
    rank vector (|V| rows) onto the edge list and one map-side-
    combined sum per dst — the standard distributed PageRank step.
    The rank vector is localCheckpoint'ed every fifth iteration so
    plan/lineage size stays bounded (the connected-components
    discipline); the edge list is checkpointed once and reused by all
    10 joins, and no-in-edge nodes re-attach by union, not join."""
    # CONSTRUCTION COST (round 12): this query's sf0.1 wall was
    # dominated by DRIVER-side plan building, not execution —
    # construct-only re-measured at 4.03s (vs ~4.1s total bench wall):
    # every PySpark transformation creates an eagerly-ANALYZED
    # Dataset, so the graph setup's ~20 Datasets and the loop's ~6
    # Datasets/iteration re-analyzed the growing tree dozens of times
    # (plus ~200 py4j round trips). The SETUP is now three
    # parameterized spark.sql statements (one analysis each over the
    # same logical plan; expressions are literal transliterations, so
    # the integer fixpoint is bit-identical); the LOOP stays on the
    # Column API — see the in-loop comment for why sql-formatter
    # frames cannot be iterated under the checkpoints. Net measured:
    # 4.03s -> 2.37s min-of-6 at sf0.1.
    docs = load_table(spark, sf_dir, "documents")
    edges0 = spark.sql(
        """
        WITH toks AS (
          SELECT doc_id, pos, w
          FROM {docs} LATERAL VIEW posexplode(split(text, ' ')) t AS pos, w
        ),
        bi AS (
          SELECT a, b, COUNT(*) AS cnt FROM (
            SELECT LAG(w) OVER (PARTITION BY doc_id ORDER BY pos) AS a,
                   w AS b
            FROM toks
          ) WHERE a IS NOT NULL GROUP BY a, b
        ),
        sym AS (
          SELECT a, b, cnt FROM bi
          UNION ALL
          SELECT b AS a, a AS b, cnt FROM bi
        )
        SELECT a AS src, b AS dst, SUM(cnt) AS cnt FROM sym GROUP BY a, b
        """,
        docs=docs,
    )
    edges = spark.sql(
        """
        SELECT e.src, e.dst, e.cnt, w.wout
        FROM {e} e JOIN (SELECT src, SUM(cnt) AS wout
                         FROM {e2} GROUP BY src) w
          ON e.src = w.src
        """,
        e=edges0,
        e2=edges0,
    ).localCheckpoint(eager=False)
    nodes = spark.sql(
        """
        SELECT DISTINCT node FROM (
          SELECT src AS node FROM {e}
          UNION ALL
          SELECT dst FROM {e2}
        )
        """,
        e=edges0,
        e2=edges0,
    ).localCheckpoint(eager=False)
    # Nodes with NO in-edges rank a constant 150M every iteration, so
    # they are split out ONCE (anti-join) and re-attached per
    # iteration with a shuffle-free UNION — the per-iteration
    # nodes-left-join the obvious formulation pays (10 joins on the
    # rank vector) disappears; contrib covers every node with an
    # in-edge, including acc=0 ones, so the union is exhaustive and
    # the fixpoint is bit-identical (measured 3.15s -> 2.47s at
    # sf0.1).
    # no_in stays on the Column API (not spark.sql): a formatter-built
    # frame here carries constraints referencing its temp-VIEW child's
    # attributes; checkpointing any UNION over the resulting
    # LogicalRDD then dies in UnionBase.rewriteConstraints with
    # "key not found: node#N" (measured, not theoretical — both the
    # in-sql union and the unionByName form hit it).
    no_in = (
        nodes.join(
            edges0.select(F.col("dst").alias("node")).distinct(),
            "node",
            "left_anti",
        )
        .select("node", F.lit(150_000_000).cast("bigint").alias("r"))
        .localCheckpoint(eager=False)
    )
    pr = nodes.select("node", F.lit(1_000_000_000).cast("bigint").alias("r"))
    # NEGATIVE RESULT (round 11, kept so it isn't re-tried):
    # broadcasting the vocabulary-sized rank vector into the edge
    # join each iteration (hint on the renamed pr side) measured
    # WORSE same-session at sf0.1 — min-of-6 4.68s vs 4.06s for this
    # shuffle shape: ten sequential broadcast-build barriers cost
    # more than the small hash exchanges they replace, and the edge
    # side still re-scans its checkpoint per iteration either way.
    # The loop body stays on the Column API: the sql-formatter wraps
    # every {df} argument in a temp-view plan, and iterating
    # view-wrapped unions of RDD-backed frames breaks the checkpoint's
    # attribute rewrite ("key not found: node#N") — measured, not
    # theoretical. Construction stays O(1) per iteration anyway
    # because of the per-iteration lazy checkpoint below.
    for it in range(_TEXTRANK_ITERS):
        contrib = (
            edges.join(pr.withColumnRenamed("node", "src"), "src")
            .selectExpr("dst AS node", "(r * cnt) div wout AS c")
            .groupBy("node")
            .agg(F.sum("c").alias("acc"))
        )
        pr = contrib.selectExpr(
            "node", "CAST(150000000 + 85 * acc div 100 AS BIGINT) AS r"
        ).unionByName(no_in)
        # LAZY checkpoint cadence (all checkpoints here are
        # eager=False — round 8's measured 3.68→3.30s — so none of
        # them submits a barrier job; they materialize inside the
        # main action). Round 12 re-measured the cadence after the
        # construction-cost finding: per-iteration checkpoints (which
        # keep each iteration's eager re-ANALYSIS O(1)) still LOSE —
        # 3.06s vs 2.37s every-5th, alternating min-of-6 at sf0.1 —
        # because each checkpoint pays a physical planning + RDD
        # conversion that outweighs the analysis it saves on these
        # shallow trees. Every FIFTH iteration stays the measured
        # optimum; the last iteration stays un-checkpointed so the
        # output action consumes it directly. Integer fixpoint, so
        # results are bit-identical however the iterations are
        # batched.
        if (
            it % _TEXTRANK_CKPT_EVERY == _TEXTRANK_CKPT_EVERY - 1
            and it < _TEXTRANK_ITERS - 1
        ):
            pr = pr.localCheckpoint(eager=False)
    return spark.sql(
        f"""
        SELECT word, rank_micro, rnk FROM (
          SELECT node AS word, r AS rank_micro,
                 ROW_NUMBER() OVER (ORDER BY r DESC, node) AS rnk
          FROM {{p}}
        ) WHERE rnk <= {_TEXTRANK_TOPK}
        """,
        p=pr,
    )


# ---------------------------------------------------------------------------
# Subword BPE tokenizer (operators/bpe.py): deterministic greedy
# merges as string/integer-exact SQL, oracle = the same algorithm
# unrolled as a generated DuckDB CTE chain (the textrank_keywords
# "make the iterative algorithm oracle-checkable" technique applied
# to tokenizer training).
# ---------------------------------------------------------------------------

_BPE_MERGES = 10
_BPE_TYPES = 1000  # learning cap: top types by (cnt DESC, word ASC)


def _sql_bpe_prefix(n_merges: int) -> str:
    """Shared DuckDB CTE chain: word types -> initial per-char state
    -> n_merges unrolled greedy steps (pairs from the seam-split
    token list, non-overlapping occurrence counts via REPLACE length
    arithmetic, best by (score DESC, left, right), merge applied by
    the same REPLACE). CHR(2)/CHR(3) are the token open/close wraps —
    matching operators/bpe.py exactly."""
    pat = "CHR(2)||{a}||CHR(3)||CHR(2)||{b}||CHR(3)"
    # AS MATERIALIZED on every step CTE: state{k-1} is referenced by
    # BOTH t{k} and state{k} (and best{k} by state{k}, wstate{k} and
    # the final rows), so plain inlining re-evaluates each level
    # twice -> 2^M blowup by depth. Measured: document_bpe_ids oracle
    # 255s -> ~2s at sf0.01 with materialization forced.
    parts = [
        f"""types AS MATERIALIZED (
      SELECT word, cnt FROM (
        SELECT w AS word, COUNT(*) AS cnt
        FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents)
        WHERE regexp_matches(w, '^[a-z]+$') AND LENGTH(w) <= 20
        GROUP BY w)
      ORDER BY cnt DESC, word LIMIT {_BPE_TYPES}
    ),
    alpha AS (
      SELECT COUNT(DISTINCT c) AS a FROM (
        SELECT UNNEST(LIST_TRANSFORM(RANGE(1, LENGTH(word) + 1),
                                     i -> SUBSTR(word, i, 1))) AS c
        FROM types)
    ),
    state0 AS MATERIALIZED (
      SELECT word, cnt,
             ARRAY_TO_STRING(LIST_TRANSFORM(RANGE(1, LENGTH(word) + 1),
               i -> CHR(2)||SUBSTR(word, i, 1)||CHR(3)), '') AS state
      FROM types
    )"""
    ]
    for k in range(1, n_merges + 1):
        p = pat.format(a="t1", b="t2")
        bp = pat.format(a="b.t1", b="b.t2")
        parts.append(
            f"""t{k} AS MATERIALIZED (
      SELECT word, cnt, state,
             STRING_SPLIT(SUBSTR(state, 2, LENGTH(state) - 2),
                          CHR(3)||CHR(2)) AS ts
      FROM state{k - 1}
    ),
    pr{k} AS (
      SELECT DISTINCT word, cnt, state, pr['t1'] AS t1, pr['t2'] AS t2
      FROM (SELECT word, cnt, state,
                   UNNEST(LIST_TRANSFORM(RANGE(LEN(ts) - 1),
                     i -> {{'t1': ts[i + 1], 't2': ts[i + 2]}})) AS pr
            FROM t{k} WHERE LEN(ts) >= 2)
    ),
    occ{k} AS (
      SELECT t1, t2,
             SUM(cnt * ((LENGTH(state) - LENGTH(REPLACE(state, {p}, '')))
                        // LENGTH({p}))) AS s
      FROM pr{k} GROUP BY t1, t2
    ),
    best{k} AS MATERIALIZED (SELECT t1, t2, s FROM occ{k} ORDER BY s DESC, t1, t2 LIMIT 1),
    state{k} AS MATERIALIZED (
      SELECT word, cnt,
             CASE WHEN b.t1 IS NULL THEN state
                  ELSE REPLACE(state, {bp}, CHR(2)||b.t1||b.t2||CHR(3)) END
               AS state
      FROM state{k - 1} LEFT JOIN best{k} b ON TRUE
    )"""
        )
    return ",\n    ".join(parts)


def _sql_bpe_vocab_oracle(n_merges: int = _BPE_MERGES) -> str:
    rows = "\n      UNION ALL ".join(
        f"SELECT CAST({k} AS INTEGER) AS step, t1 AS lhs, t2 AS rhs,"
        f" t1||t2 AS merged, CAST(s AS BIGINT) AS pair_count,"
        f" CAST(a + {k - 1} AS BIGINT) AS token_id"
        f" FROM best{k}, alpha"
        for k in range(1, n_merges + 1)
    )
    return f"""
    WITH {_sql_bpe_prefix(n_merges)}
    {rows}
    """


@register(
    "bpe_vocab",
    oracle=_sql_bpe_vocab_oracle(),
    tags=("tokenizer", "bpe", "curation", "beyond-reference"),
)
def bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword BPE merge-table learning (operators/bpe.py): greedy
    highest-score adjacent-pair merges over the word-TYPE table, every
    step integer/string-exact so the DuckDB oracle can replay the
    identical algorithm as an unrolled CTE chain — tie-breaks included
    ((score DESC, left ASC, right ASC) is a total order; the sf0.001
    corpus actually exercises a score tie and both engines pick the
    same pair). Emits (step, lhs, rhs, merged, pair_count, token_id)
    with ids continuing after the base-alphabet block.

    Scale shape: counting runs distributed over the CAPPED type table
    (top _BPE_TYPES by count — Heaps'-law bounded, never corpus-
    sized); the driver paces M iterations and collects exactly one
    best-pair row per step. The corpus contributes only one word-count
    shuffle. Production-M (32k merges) keeps the same split: the
    per-step job cost is type-table-sized, not corpus-sized."""
    from ..operators.bpe import (
        alphabet_from_counts,
        learn_bpe_from_counts,
        word_types,
    )

    docs = load_table(spark, sf_dir, "documents")
    # ONE corpus job: collect the capped type table, then both the
    # merge learning and the base alphabet run driver-local on it
    # (the previous alphabet(types) call re-ran the corpus word-count
    # shuffle a second time for a ≤26-row answer).
    type_counts = [
        (r.word, r.cnt) for r in word_types(docs, _BPE_TYPES).collect()
    ]
    merges = learn_bpe_from_counts(type_counts, _BPE_MERGES)
    base = len(alphabet_from_counts(type_counts))
    rows = [
        (k + 1, t1, t2, t1 + t2, score, base + k)
        for k, (t1, t2, score) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows,
        "step int, lhs string, rhs string, merged string,"
        " pair_count bigint, token_id bigint",
    )


def _sql_bpe_ids_oracle(n_merges: int = _BPE_MERGES) -> str:
    # apply chain over ALL distinct tokenizable corpus words
    # LEFT JOIN + CASE (not a comma join): if the corpus exhausts its
    # mergeable pairs before n_merges steps, best{k} is EMPTY for the
    # tail steps — a comma join would collapse every later state CTE
    # (and the whole result) to zero rows while the Spark side still
    # applies the merges it did learn. The fallback keeps state{k-1}
    # unchanged, exactly mirroring the learner's early break.
    apply_chain = "\n    ".join(
        f"""wstate{k} AS MATERIALIZED (
      SELECT word,
             CASE WHEN b.t1 IS NULL THEN state
                  ELSE REPLACE(state, CHR(2)||b.t1||CHR(3)||CHR(2)||b.t2||CHR(3),
                               CHR(2)||b.t1||b.t2||CHR(3)) END AS state
      FROM wstate{k - 1} LEFT JOIN best{k} b ON TRUE
    ),"""
        for k in range(1, n_merges + 1)
    )
    vocab_merge_rows = "\n        UNION ALL ".join(
        f"SELECT t1||t2 AS token, CAST(a + {k - 1} AS BIGINT) AS token_id"
        f" FROM best{k}, alpha"
        for k in range(1, n_merges + 1)
    )
    return f"""
    WITH {_sql_bpe_prefix(n_merges)},
    dw AS (
      SELECT doc_id, p['pos'] AS pos, p['w'] AS word
      FROM (
        SELECT doc_id,
               UNNEST(LIST_TRANSFORM(RANGE(LEN(ws)),
                 i -> {{'pos': i, 'w': ws[i + 1]}})) AS p
        FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents))
      WHERE regexp_matches(p['w'], '^[a-z]+$') AND LENGTH(p['w']) <= 20
    ),
    wstate0 AS MATERIALIZED (
      SELECT word,
             ARRAY_TO_STRING(LIST_TRANSFORM(RANGE(1, LENGTH(word) + 1),
               i -> CHR(2)||SUBSTR(word, i, 1)||CHR(3)), '') AS state
      FROM (SELECT DISTINCT word FROM dw)
    ),
    {apply_chain}
    vocab AS (
      SELECT c AS token,
             CAST(ROW_NUMBER() OVER (ORDER BY c) - 1 AS BIGINT) AS token_id
      FROM (SELECT DISTINCT UNNEST(LIST_TRANSFORM(RANGE(1, LENGTH(word) + 1),
                     i -> SUBSTR(word, i, 1))) AS c
            FROM types)
      UNION ALL
      {vocab_merge_rows}
    ),
    wtok AS (
      SELECT word,
             STRING_SPLIT(SUBSTR(state, 2, LENGTH(state) - 2),
                          CHR(3)||CHR(2)) AS ts
      FROM wstate{n_merges}
    ),
    wid AS (
      SELECT word, tpos, COALESCE(v.token_id, -1) AS tid
      FROM (SELECT word, q['tpos'] AS tpos, q['tok'] AS token
            FROM (SELECT word,
                         UNNEST(LIST_TRANSFORM(RANGE(LEN(ts)),
                           i -> {{'tpos': i, 'tok': ts[i + 1]}})) AS q
                  FROM wtok))
      LEFT JOIN vocab v USING (token)
    ),
    wstats AS (
      SELECT word,
             CAST(COUNT(*) AS BIGINT) AS wn,
             CAST(SUM(CASE WHEN tid = -1 THEN 1 ELSE 0 END) AS BIGINT) AS wunk,
             CAST(SUM(tid) AS BIGINT) AS wsum,
             MIN_BY(tid, tpos) AS wfirst,
             MAX_BY(tid, tpos) AS wlast
      FROM wid GROUP BY word
    ),
    agg AS (
      SELECT dw.doc_id,
             SUM(wn) AS n_tokens,
             SUM(wunk) AS n_unk,
             SUM(wsum) AS id_sum,
             MIN_BY(wfirst, pos) AS first_id,
             MAX_BY(wlast, pos) AS last_id
      FROM dw JOIN wstats USING (word)
      GROUP BY dw.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(a.n_unk, 0) AS BIGINT) AS n_unk,
           CAST(COALESCE(a.id_sum, 0) AS BIGINT) AS id_sum,
           CAST(COALESCE(a.first_id, -1) AS BIGINT) AS first_id,
           CAST(COALESCE(a.last_id, -1) AS BIGINT) AS last_id
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    """


@register(
    "document_bpe_ids",
    oracle=_sql_bpe_ids_oracle(),
    tags=("tokenizer", "bpe", "curation", "beyond-reference"),
)
def document_bpe_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merges to every document and emit
    exactly-checkable per-doc token statistics (count, unknown count,
    id sum, first/last token id — scalars instead of the raw id
    sequence so the driver hash stays array-free while still pinning
    order via first/last and position-weighted sums).

    Scale shape — the production tokenizer-apply pattern:
    1. merges learned on the capped type table (see bpe_vocab);
    2. the corpus's DISTINCT tokenizable words (vocabulary-sized, not
       corpus-sized) run the M merges as ONE chained-replace codegen
       projection — no loop jobs;
    3. per-WORD token stats are computed once on that small table, so
       the corpus-sized path is a broadcast join + plain columnar
       sums/min_by — zero interpreted HOFs touch per-(doc, word)
       rows;
    4. docs with no tokenizable words surface with zeros via the
       final left join (never silently dropped)."""
    from ..operators.bpe import (
        alphabet_from_counts,
        apply_merges,
        initial_state,
        learn_bpe_from_counts,
        tokenizable,
        tokens_of_state,
        top_types,
        word_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    # TWO corpus passes total (was four in round 7): one word-count
    # shuffle whose vocabulary-sized output is cached and serves the
    # learning cap (collected top-_BPE_TYPES; alphabet derived
    # driver-side from the same collected list) AND the distinct-word
    # apply table; and the final per-doc aggregation pass below. A
    # fully-fused single-pass variant (cache the (doc_id, word)
    # pre-aggregate, derive word counts from it) measured SLOWER at
    # sf0.1 (1.5s vs 1.2s): the wide cached table plus two extra
    # groupBy(word) shuffles over it cost more than one re-explode.
    wcounts = word_counts(docs).cache()
    type_counts = [
        (r.word, r.cnt) for r in top_types(wcounts, _BPE_TYPES).collect()
    ]
    merges = learn_bpe_from_counts(type_counts, _BPE_MERGES)
    base = alphabet_from_counts(type_counts)
    vocab_rows = [(c, i) for i, c in enumerate(base)] + [
        (t1 + t2, len(base) + k) for k, (t1, t2, _) in enumerate(merges)
    ]

    words = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "word")
    ).where(tokenizable(F.col("word")))
    dwords = wcounts.select("word")
    # Per-word token stats as a PROJECTION over the cached word
    # counts: the vocabulary (base alphabet + M merges) is plan-tiny,
    # so token-id lookup is a map literal instead of a broadcast
    # join, and the per-word aggregates run as array expressions over
    # the ≤(max_len)-element token list — no explode, no groupBy
    # shuffle, two fewer AQE stage rounds. The `tids` array is bound
    # in its OWN projection before being referenced four times
    # (CollapseProject will not re-inline a non-cheap alias — the
    # round-3 HOF-CSE rule). At production merge counts (32k) the
    # map literal grows with the vocab; swap back to the broadcast-
    # join variant beyond ~10k entries.
    vmap_sql = "map(" + ",".join(
        f"'{tok}',{tid}L" for tok, tid in vocab_rows
    ) + ")"
    wtok = dwords.select(
        "word",
        tokens_of_state(
            apply_merges(initial_state(F.col("word")), merges)
        ).alias("ts"),
    )
    wtids = wtok.select(
        "word",
        F.expr("size(ts)").alias("wn"),
        F.expr(f"transform(ts, t -> coalesce({vmap_sql}[t], -1L))").alias(
            "tids"
        ),
    )
    wstats = wtids.select(
        "word",
        "wn",
        F.expr("size(filter(tids, t -> t = -1L))").alias("wunk"),
        F.expr("aggregate(tids, 0L, (a, t) -> a + t)").alias("wsum"),
        F.expr("tids[0]").alias("wfirst"),
        F.expr("element_at(tids, -1)").alias("wlast"),
    )
    # The stats join probes the pre-aggregated (doc_id, word) table,
    # not the per-occurrence stream: the broadcast probe and the
    # min_by/max_by aggregation run on distinct-word-per-doc rows.
    # Measured at sf0.1: the per-occurrence join+agg was 1.7s of a
    # 2.4s query. first/last ids survive exactly: the word holding
    # the doc's min (max) occurrence position is by definition the
    # first (last) tokenizable word.
    pre = words.groupBy("doc_id", "word").agg(
        F.count("*").alias("cnt"),
        F.min("pos").alias("minpos"),
        F.max("pos").alias("maxpos"),
    )
    agg = (
        pre.join(F.broadcast(wstats), "word")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("cnt") * F.col("wn")).alias("n_tokens"),
            F.sum(F.col("cnt") * F.col("wunk")).alias("n_unk"),
            F.sum(F.col("cnt") * F.col("wsum")).alias("id_sum"),
            F.min_by("wfirst", "minpos").alias("first_id"),
            F.max_by("wlast", "maxpos").alias("last_id"),
        )
    )
    z = F.lit(0).cast("bigint")
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tokens"), z).alias("n_tokens"),
            F.coalesce(F.col("n_unk"), z).alias("n_unk"),
            F.coalesce(F.col("id_sum"), z).alias("id_sum"),
            F.coalesce(F.col("first_id"), F.lit(-1).cast("bigint")).alias(
                "first_id"
            ),
            F.coalesce(F.col("last_id"), F.lit(-1).cast("bigint")).alias(
                "last_id"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Round 8: two more dataset-mix primitives. dataset_mix_downsample is
# the fixed-CAP stratified sampler; these add the fraction-
# proportional sampler (per-stratum caps derived from per-stratum
# counts) and the temperature-weighting pass (the α-exponent source
# re-weighting every multilingual/multi-source pre-training mix uses,
# e.g. the mBERT/XLM-R exponent-smoothed sampling scheme — public
# method).
# ---------------------------------------------------------------------------

_STRAT_FRAC_PCT = 20  # keep 20% of every (source, lang) stratum
_MIX_ALPHA = 0.3  # temperature exponent (flattens the source skew)
_MIX_BUDGET = 10_000  # documents allocated by the expected-mix column


@register(
    "stratified_sample",
    oracle=f"""
    WITH counts AS (
      SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY 1, 2
    ),
    ranked AS (
      SELECT doc_id, source, lang,
             ROW_NUMBER() OVER (
               PARTITION BY source, lang
               ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    )
    SELECT r.doc_id, r.source, r.lang
    FROM ranked r JOIN counts c ON r.source = c.source AND r.lang = c.lang
    WHERE r.rn <= CAST(CEIL(c.n * {_STRAT_FRAC_PCT} / 100.0) AS BIGINT)
    """,
    tags=("curation", "sampling", "stratified", "beyond-reference"),
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction-proportional stratified sampling: keep ceil(frac·n)
    documents of EVERY (source, lang) stratum, chosen by md5 rank —
    deterministic across runs, partitionings and engines (the same
    stability argument as dataset_mix_downsample, which is the
    fixed-cap sibling; this one preserves the stratum PROPORTIONS
    instead of flattening them). The salt prefix decorrelates this
    sampler's choices from the downsampler's.

    Scale shape: one count aggregate (strata are low-cardinality by
    construction), broadcast back onto the rank window's output —
    same single source/lang shuffle as the window itself; the
    ceil(n·f) arithmetic is the identical IEEE expression on both
    engines, so the per-stratum cap is engine-identical even when
    n·f/100 is inexact."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "lang").agg(F.count("*").alias("n"))
    w = Window.partitionBy("source", "lang").orderBy(
        F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))),
        F.col("doc_id"),
    )
    ranked = docs.select(
        "doc_id", "source", "lang", F.row_number().over(w).alias("rn")
    )
    return (
        ranked.join(F.broadcast(counts), ["source", "lang"])
        .where(
            F.col("rn")
            <= F.expr(f"CAST(CEIL(n * {_STRAT_FRAC_PCT} / 100.0) AS BIGINT)")
        )
        .select("doc_id", "source", "lang")
    )


@register(
    "dataset_temperature_mix",
    oracle=f"""
    WITH per AS (
      SELECT source,
             COUNT(*) AS n_docs,
             SUM(LEN(STRING_SPLIT(text, ' '))) AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(n_docs) AS nd FROM per),
    wts AS (
      SELECT source, n_docs, n_tokens,
             CAST(ROUND(POWER(n_docs * 1.0 / nd, {_MIX_ALPHA}) * 1e9)
                  AS BIGINT) AS raw_micro
      FROM per CROSS JOIN tot
    ),
    norm AS (SELECT SUM(raw_micro) AS z FROM wts)
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(raw_micro * 1.0 / z, 9) AS weight,
           CAST(({_MIX_BUDGET} * raw_micro) // z AS BIGINT) AS alloc_docs
    FROM wts CROSS JOIN norm
    """,
    tags=("curation", "sampling", "temperature", "beyond-reference"),
)
def dataset_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed source weights: w_s ∝ (n_s/N)^α with
    α={_MIX_ALPHA}, plus the integer document allocation of a
    {_MIX_BUDGET}-doc budget under those weights — the standard
    exponent-smoothing that keeps head sources from drowning the tail
    in a pre-training mix.

    Float-parity discipline (plans/_parity.py applied to a
    NORMALIZED-weights pass): POWER is transcendental (≤1 ulp libm
    divergence), so each raw weight is immediately ROUND(·1e9)ed into
    an integer micro-weight; the normalizer z is then an INTEGER sum
    (associative — partial aggregation order cannot move it), the
    reported weight divides two engine-identical exact integers, and
    the budget allocation uses integer floor-division — no float
    boundary anywhere an engine could disagree on."""
    docs = load_table(spark, sf_dir, "documents")
    # per feeds the corpus total AND the weights projection (whose
    # normalizer consumes it a third time) — a lazy checkpoint keeps
    # the corpus-sized groupBy single-pass; the frame is one row per
    # source.
    per = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens"),
    ).localCheckpoint(eager=False)
    tot = per.agg(F.sum("n_docs").alias("nd"))
    wts = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr(
            f"CAST(ROUND(POWER(n_docs * 1.0 / nd, {_MIX_ALPHA}) * 1e9)"
            " AS BIGINT)"
        ).alias("raw_micro"),
    )
    norm = wts.agg(F.sum("raw_micro").alias("z"))
    return wts.crossJoin(F.broadcast(norm)).select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(F.col("raw_micro") * 1.0 / F.col("z"), 9).alias("weight"),
        F.expr(f"CAST(({_MIX_BUDGET} * raw_micro) DIV z AS BIGINT)").alias(
            "alloc_docs"
        ),
    )


_PPL_GATE_PCT = 90  # keep docs at or below the per-language p90 score


@register(
    "perplexity_filter_by_lang",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
    ),
    freq AS (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w),
    tot AS (SELECT SUM(cnt) AS n FROM freq),
    scored AS (
      SELECT t.doc_id,
             CAST(ROUND(LN(CAST(tot.n AS DOUBLE) / f.cnt) * 1e6) AS BIGINT)
               AS nll_micro
      FROM toks t JOIN freq f ON t.w = f.w CROSS JOIN tot
    ),
    per_doc AS (
      SELECT d.doc_id, d.lang,
             CAST(SUM(s.nll_micro) // COUNT(*) AS BIGINT) AS score_micro
      FROM documents d JOIN scored s ON d.doc_id = s.doc_id
      GROUP BY d.doc_id, d.lang
    ),
    ranked AS (
      SELECT doc_id, lang, score_micro,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY score_micro, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM per_doc
    ),
    thr AS (
      SELECT lang,
             (10 - ({_PPL_GATE_PCT} * (n - 1)) % 100 // 10)
               * MAX(CASE WHEN rn = ({_PPL_GATE_PCT} * (n - 1)) // 100 + 1
                          THEN score_micro END)
             + (({_PPL_GATE_PCT} * (n - 1)) % 100 // 10)
               * MAX(CASE WHEN rn = LEAST(({_PPL_GATE_PCT} * (n - 1)) // 100 + 2, n)
                          THEN score_micro END)
               AS thr10x
      FROM ranked GROUP BY lang, n
    )
    SELECT r.doc_id, r.lang, r.score_micro,
           CAST(t.thr10x AS BIGINT) AS lang_thr_micro_x10,
           (r.score_micro * 10 <= t.thr10x) AS kept
    FROM ranked r JOIN thr t ON r.lang = t.lang
    """,
    tags=("curation", "quality", "quantile", "stratified", "beyond-reference"),
)
def perplexity_filter_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-stratified perplexity gating: score every document by
    its unigram-LM average negative log-likelihood (integer micro-nats
    per token — the unigram_lm_quality scorer), then keep documents at
    or below their OWN language's p{_PPL_GATE_PCT} — the standard
    per-language quality gate (a flat global threshold would flush
    low-resource languages whose corpus-wide LM fit is worse).

    EXACT INTEGER PERCENTILE: quantile interpolation is a float
    boundary an engine pair can disagree on (lerp computed as
    (1-d)·a + d·b vs a + d·(b-a) differs in final ulps, and FLOOR/
    ROUND of the result can then flip a threshold integer). Instead
    the percentile_cont semantics are computed in pure integers:
    index i = p·(n-1)/100 has lo = i div 1, frac = i mod 1 with
    denominator 10, so thr·10 = (10-dd)·a[lo] + dd·a[lo+1] for
    integer dd — both engines derive the identical integer and the
    gate compares score·10 ≤ thr·10 with no float anywhere.

    Scale shape: the scorer is the unigram pass (broadcast vocab, one
    corpus shuffle); the per-language order statistics need a rank —
    languages are low-cardinality, so the window shuffles on lang and
    AQE skew-splits a dominant language; at extreme scale swap the
    window for a two-pass histogram threshold (the documented
    dataset_mix_downsample trade)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    freq = toks.groupBy("w").agg(F.count("*").alias("cnt"))
    tot = freq.agg(F.sum("cnt").alias("n"))
    scored = (
        toks.join(F.broadcast(freq), "w")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.expr(
                "CAST(ROUND(LN(CAST(n AS DOUBLE) / cnt) * 1e6) AS BIGINT)"
            ).alias("nll_micro"),
        )
    )
    per_doc = (
        docs.select("doc_id", "lang")
        .join(
            scored.groupBy("doc_id").agg(
                F.expr("CAST(SUM(nll_micro) DIV COUNT(*) AS BIGINT)").alias(
                    "score_micro"
                )
            ),
            "doc_id",
        )
    )
    w_rank = Window.partitionBy("lang").orderBy("score_micro", "doc_id")
    w_n = Window.partitionBy("lang")
    # ranked feeds the per-language threshold aggregate AND the final
    # gate join; without a lazy checkpoint each consumer re-ran the
    # whole scoring pipeline (column pruning specializes the copies —
    # the audited plan carried 8 document scans). One narrow row per
    # doc, so the persist is small.
    ranked = per_doc.select(
        "doc_id",
        "lang",
        "score_micro",
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(w_n).alias("n"),
    ).localCheckpoint(eager=False)
    p = _PPL_GATE_PCT
    thr = ranked.groupBy("lang", "n").agg(
        (
            (10 - F.expr(f"({p} * (n - 1)) % 100 DIV 10"))
            * F.max(
                F.expr(
                    f"CASE WHEN rn = ({p} * (n - 1)) DIV 100 + 1"
                    " THEN score_micro END"
                )
            )
            + F.expr(f"({p} * (n - 1)) % 100 DIV 10")
            * F.max(
                F.expr(
                    f"CASE WHEN rn = LEAST(({p} * (n - 1)) DIV 100 + 2, n)"
                    " THEN score_micro END"
                )
            )
        ).alias("thr10x")
    ).select("lang", "thr10x")
    return ranked.join(F.broadcast(thr), "lang").select(
        "doc_id",
        "lang",
        "score_micro",
        F.col("thr10x").cast("bigint").alias("lang_thr_micro_x10"),
        (F.col("score_micro") * 10 <= F.col("thr10x")).alias("kept"),
    )


_BATCH_SIZE = 32  # documents per training batch


@register(
    "length_bucketed_batches",
    oracle=f"""
    WITH lens AS (
      SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS n_tokens
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, n_tokens,
             ROW_NUMBER() OVER (ORDER BY n_tokens, doc_id) AS rn
      FROM lens
    )
    SELECT CAST((rn - 1) // {_BATCH_SIZE} AS BIGINT) AS batch_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_tokens) AS BIGINT) AS min_len,
           CAST(MAX(n_tokens) AS BIGINT) AS max_len,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT)
             AS pad_tokens
    FROM ranked GROUP BY 1
    """,
    tags=("curation", "batching", "padding", "beyond-reference"),
)
def length_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assembly: sort documents by token count,
    cut into fixed-size batches, and report each batch's padding
    waste (n·max_len − Σlen) — the sorted-batching trick that cuts
    pad-token compute versus random batching (near-equal lengths
    inside a batch ⇒ max≈mean). The report quantifies exactly the
    saving: Σ pad_tokens here versus what random batches would pay.

    Deterministic by construction: (n_tokens, doc_id) is a total
    order, batch boundaries are integer arithmetic on the rank.

    Scale shape: ONE global sort (rangepartition + local sort — the
    same shape as global_rank_topn) over (doc_id, n_tokens) narrow
    rows, then a map-side-combinable aggregate on the integer batch
    key. At 100 TB you would shard the sort by a coarse length bucket
    first (identical output for whole buckets) — documented, not
    needed at bench scale."""
    docs = load_table(spark, sf_dir, "documents")
    lens = docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    w = Window.orderBy("n_tokens", "doc_id")
    ranked = lens.select(
        "doc_id", "n_tokens", F.row_number().over(w).alias("rn")
    )
    return (
        ranked.groupBy(
            F.expr(f"CAST((rn - 1) DIV {_BATCH_SIZE} AS BIGINT)").alias(
                "batch_id"
            )
        )
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("n_tokens").cast("bigint").alias("min_len"),
            F.max("n_tokens").cast("bigint").alias("max_len"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
            F.expr(
                "CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT)"
            ).alias("pad_tokens"),
        )
    )


# τ calibrated to the synthetic embedding corpus: in-cell cosine sits
# in [-0.1, 0.6] with its 99th percentile ≈ 0.35 at every sf (no true
# duplicate vectors are planted), so 0.35 marks the top ~1% most
# semantically redundant pairs — non-degenerate at all test scales.
# A production corpus with planted dups would run τ ≈ 0.9+.
_SEMDEDUP_TAU = 0.35


def _semantic_dedup_oracle(tau: float = _SEMDEDUP_TAU) -> str:
    """DuckDB mirror of semantic_dedup: the SAME adaptive isqrt
    codebook + nearest-centroid assignment CTEs as _ivf_oracle, then
    a within-cell self-join keeps only pairs with a LOWER id on one
    side — the lowest id of each semantic-duplicate neighborhood is
    the representative, everything else is dropped."""
    dd = sql_dot
    return f"""
WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
cc AS (SELECT GREATEST(16, CAST(FLOOR(SQRT(n)) AS BIGINT)) AS c FROM nn),
base AS (
  SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
norms AS (
  SELECT vec_id, v, SQRT({dd('v', 'v')}) AS norm FROM base
),
cents AS (
  SELECT cent_id, cv, cnorm FROM (
    SELECT vec_id AS cent_id, v AS cv, norm AS cnorm,
           ROW_NUMBER() OVER (ORDER BY vec_id) AS crn
    FROM norms), cc
  WHERE crn <= cc.c
),
sims AS (
  SELECT n.vec_id, n.v, n.norm, c.cent_id,
         ROUND({dd('n.v', 'c.cv')} / (n.norm * c.cnorm), 9) AS cent_sim
  FROM norms n CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, v, norm, cent_id AS cell FROM (
    SELECT vec_id, v, norm, cent_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cent_sim DESC, cent_id) AS rn
    FROM sims) WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS hi,
         ROUND({dd('a.v', 'b.v')} / (a.norm * b.norm), 9) AS cosine
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND b.vec_id < a.vec_id
),
dup AS (
  SELECT hi, CAST(COUNT(*) AS BIGINT) AS n_dup_lower,
         MAX(cosine) AS max_sim_lower
  FROM pairs WHERE cosine >= {tau} GROUP BY hi
)
SELECT e.vec_id,
       CAST(COALESCE(d.n_dup_lower, 0) AS BIGINT) AS n_dup_lower,
       d.max_sim_lower,
       d.n_dup_lower IS NULL AS kept
FROM embeddings e LEFT JOIN dup d ON d.hi = e.vec_id
"""


@register(
    "semantic_dedup",
    oracle=_semantic_dedup_oracle(),
    tags=("dedup", "embedding", "semdedup", "beyond-reference"),
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540) — the sixth member of the dedup family (exact
    hash / MinHash / SimHash / n-gram Jaccard / embedding-LSH /
    semantic): cluster the embedding space with the SAME adaptive
    isqrt(n) deterministic codebook the IVF index uses
    (operators/similarity_search.ivf_assign), then compare pairs only
    WITHIN a cell and drop every vector with a lower-id in-cell
    neighbor at cosine ≥ τ. Where embedding_near_dup finds
    near-IDENTICAL vectors (LSH buckets, high-precision), this is the
    curation-grade SEMANTIC pass: the cell partition is a semantic
    clustering, so τ can sit far below the near-dup band and the
    candidate space stays Σ|cell|² ≈ n^1.5 instead of n² — exactly
    the trick the paper uses to run at web scale. Scale notes +
    skew/AQE story in the operator docstring."""
    from ..operators.similarity_search import semantic_dedup_frame
    from ..sources.bronze import table_num_rows

    e = load_table(spark, sf_dir, "embeddings")
    # n_rows from the parquet footer (round 14): the adaptive-c /
    # impl-crossover count comes for free — previously this was the
    # one registered embedding query still paying a count() JOB for
    # it (d4_selection and the ann_* family already ride the footer).
    return semantic_dedup_frame(
        e,
        threshold=_SEMDEDUP_TAU,
        n_centroids=None,
        n_rows=table_num_rows(sf_dir, "embeddings"),
    )


_DSIR_BUCKETS = 512
_DSIR_TARGET = "src0"


@register(
    "dsir_importance_weights",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
    ),
    buck AS (
      SELECT doc_id, {_SQL_BASE_HASH.format(x='w')} % {_DSIR_BUCKETS} AS b
      FROM toks
    ),
    tgt AS (
      SELECT b.b, COUNT(*) AS cnt
      FROM buck b JOIN documents d USING (doc_id)
      WHERE d.source = '{_DSIR_TARGET}' GROUP BY b.b
    ),
    raw AS (SELECT b, COUNT(*) AS cnt FROM buck GROUP BY b),
    nt AS (
      SELECT COUNT(*) AS n FROM buck b JOIN documents d USING (doc_id)
      WHERE d.source = '{_DSIR_TARGET}'
    ),
    nr AS (SELECT COUNT(*) AS n FROM buck),
    lr AS (
      SELECT r.b,
             CAST(ROUND((LN((COALESCE(t.cnt, 0) + 1.0) / (nt.n + {_DSIR_BUCKETS}))
                         - LN((r.cnt + 1.0) / (nr.n + {_DSIR_BUCKETS}))) * 1e6)
                  AS BIGINT) AS lr_micro
      FROM raw r LEFT JOIN tgt t ON t.b = r.b CROSS JOIN nt CROSS JOIN nr
    ),
    scored AS (
      SELECT buck.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(lr.lr_micro) AS BIGINT) AS dsir_micro,
             ROUND(SUM(lr.lr_micro) / (COUNT(*) * 1e6), 6) AS avg_logratio
      FROM buck JOIN lr ON lr.b = buck.b
      GROUP BY buck.doc_id
    )
    SELECT doc_id, n_tokens, dsir_micro, avg_logratio,
           ROW_NUMBER() OVER (ORDER BY dsir_micro DESC, doc_id)
             <= (COUNT(*) OVER () + 3) // 4 AS selected
    FROM scored
    """,
    tags=("curation", "sampling", "dsir", "beyond-reference"),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection via importance resampling (Xie et al.
    2023, arXiv:2302.03169): score every raw document by how much its
    hashed-unigram distribution looks like a TARGET domain (here the
    '{target}' source) versus the raw corpus. Features are hashed
    n-gram buckets (md5 → mod B, engine-identical); both bucket
    distributions get Laplace +1 smoothing; the per-doc importance
    weight is Σ_tokens log(p_target(b)/p_raw(b)) — documents with
    positive total log-ratio are the ones importance resampling keeps
    with high probability. This is the principled replacement for the
    per-source hard caps in dataset_mix_downsample when the target is
    a DISTRIBUTION, not a quota.

    Parity discipline: per-token log-ratios are INTEGER micro-nats
    (round before sum — plans/_parity.py rationale), so per-doc sums
    and the selected flag are engine-exact; only the final avg is a
    rounded float.

    Scale shape: identical to unigram_lm_quality — one narrow token
    explode, two FIXED-SIZE (B={buckets}) bucket aggregates that
    partial-combine map-side, a broadcast of the B-row log-ratio
    table back onto the token stream, and a per-doc partial agg whose
    shuffle carries one row per document. The model is B integers —
    smaller than the vocabularies unigram_lm_quality broadcasts — so
    the plan holds unchanged at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    buck = docs.select(
        "doc_id",
        "source",
        F.explode(F.split(F.col("text"), " ")).alias("w"),
    ).select(
        "doc_id",
        F.expr(f"{base_hash_sql('w')} % {_DSIR_BUCKETS}").alias("b"),
        (F.col("source") == _DSIR_TARGET).alias("is_t"),
    )
    # buck (explode + md5 per token) feeds the bucket statistics AND
    # the per-doc scoring join; a lazy localCheckpoint keeps the hash
    # pipeline single-pass (column pruning would otherwise specialize
    # the copies — round-7 lesson). Target/raw counts fold into ONE
    # fixed-B aggregate; the corpus totals nt/nr are derived from the
    # B-row frame, not re-scanned (was 4 token passes, now 1 —
    # measured 1.33s -> ~0.6s at sf0.1).
    buck = buck.localCheckpoint(eager=False)
    stats = buck.groupBy("b").agg(
        F.count("*").alias("r_cnt"),
        F.count(F.when(F.col("is_t"), 1)).alias("t_cnt"),
    )
    totals = stats.agg(
        F.sum("r_cnt").alias("n_r"), F.sum("t_cnt").alias("n_t")
    )
    lr = (
        stats.crossJoin(F.broadcast(totals))
        .select(
            "b",
            F.round(
                (
                    F.log(
                        (F.coalesce(F.col("t_cnt"), F.lit(0)) + F.lit(1.0))
                        / (F.col("n_t") + F.lit(_DSIR_BUCKETS))
                    )
                    - F.log(
                        (F.col("r_cnt") + F.lit(1.0))
                        / (F.col("n_r") + F.lit(_DSIR_BUCKETS))
                    )
                )
                * 1e6
            )
            .cast("bigint")
            .alias("lr_micro"),
        )
    )
    avg = F.col("dsir_micro") / (F.col("n_tokens") * F.lit(1e6))
    scored = (
        buck.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("lr_micro").cast("bigint").alias("dsir_micro"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "dsir_micro",
            F.round(avg, 6).alias("avg_logratio"),
        )
    )
    # Keep the top quartile by importance weight: rank and corpus size
    # are both integer-exact, so the selection boundary is
    # engine-identical (the "resample ∝ exp(weight)" step of DSIR is
    # sampling; the deterministic contract here is its top-k skeleton).
    # Global window over one narrow row per DOC — the
    # length_bucketed_batches shape.
    wsel = Window.orderBy(F.col("dsir_micro").desc(), F.col("doc_id"))
    return scored.select(
        "doc_id",
        "n_tokens",
        "dsir_micro",
        "avg_logratio",
        (
            F.row_number().over(wsel) * 4
            <= F.count("*").over(Window.partitionBy()) + 3
        ).alias("selected"),
    )


dsir_importance_weights.__doc__ = dsir_importance_weights.__doc__.format(
    target=_DSIR_TARGET, buckets=_DSIR_BUCKETS
)


@register(
    "dedup_keep_best",
    oracle=f"""
WITH RECURSIVE pairs AS (
  {_MINHASH_ORACLE}
),
edges AS (
  SELECT doc1 AS src, doc2 AS dst FROM pairs
  UNION
  SELECT doc2 AS src, doc1 AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node
),
comp AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node),
ranked AS (
  SELECT c.node AS doc_id, c.cluster_id, d.n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY c.cluster_id ORDER BY d.n_chars DESC, c.node
         ) AS rnk
  FROM comp c JOIN documents d ON d.doc_id = c.node
)
SELECT doc_id, cluster_id, CAST(n_chars AS BIGINT) AS n_chars,
       rnk = 1 AS kept
FROM ranked
""",
    tags=("dedup", "clustering", "representative", "beyond-reference"),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware duplicate-cluster resolution: fold the MinHash
    near-dup pairs into connected components (same fixpoint as
    near_dup_clusters), then keep the BEST member of each cluster —
    the longest document (n_chars, ties to the lowest doc_id) —
    instead of the arbitrary min-id representative. "Which duplicate
    survives" is a real curation decision: near-dup groups in web
    corpora are typically one full article plus truncated or
    boilerplate-wrapped copies, and keep-longest is the standard
    resolution.

    Scale shape: the pair generation and the label-propagation
    fixpoint are the near_dup_clusters plan unchanged (narrow
    (id, label) shuffles, checkpoint-bounded lineage); the new work
    is one join of the cluster table back to documents on doc_id and
    one per-cluster rank window over rows that are IN clusters only —
    a vanishing fraction of the corpus. The oracle reaches the same
    fixpoint via a recursive CTE."""
    from ..operators.dedup import dedup_clusters

    from ..sources.bronze import table_num_rows

    docs = load_table(spark, sf_dir, "documents")
    clusters = dedup_clusters(
        near_dup_pairs(
            docs, threshold=0.6, n_docs=table_num_rows(sf_dir, "documents")
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        clusters.select("doc_id", "cluster_id")
        .join(docs.select("doc_id", "n_chars"), "doc_id")
        .select(
            "doc_id",
            "cluster_id",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            (F.row_number().over(w) == 1).alias("kept"),
        )
    )


@register(
    "incremental_neardup_ingest",
    oracle=f"""
WITH {_MINHASH_CTES},
cand AS (
  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.key = b.key
   AND a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
),
ver AS (
  SELECT c.doc1, c.doc2,
         CAST(LEN(LIST_INTERSECT(s1.s, s2.s)) AS DOUBLE)
         / (LEN(s1.s) + LEN(s2.s) - LEN(LIST_INTERSECT(s1.s, s2.s))) AS jr
  FROM cand c
  JOIN sh s1 ON c.doc1 = s1.doc_id
  JOIN sh s2 ON c.doc2 = s2.doc_id
),
best AS (
  SELECT doc1, doc2, jr,
         ROW_NUMBER() OVER (PARTITION BY doc1 ORDER BY jr DESC, doc2) AS rn
  FROM ver WHERE jr >= 0.6
)
SELECT d.doc_id, b.doc2 AS matched_doc, ROUND(b.jr, 9) AS jaccard,
       b.doc2 IS NULL AS is_novel
FROM documents d
LEFT JOIN best b ON b.doc1 = d.doc_id AND b.rn = 1
WHERE d.doc_id % 10 = 0
""",
    tags=("dedup", "lsh", "incremental", "beyond-reference"),
)
def incremental_neardup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup ingestion (operators/dedup.py
    incremental_near_dup): an INCOMING batch (doc_id % 10 == 0 plays
    yesterday's crawl) probes the already-ingested corpus through the
    MinHash band index ASYMMETRICALLY — batch bands join corpus bands,
    never corpus-vs-corpus — so each ingestion cycle costs O(batch
    collisions), not O(corpus²). Per incoming doc: the best verified
    corpus match (Jaccard ≥ 0.6, ties to the lowest corpus id) or
    is_novel. At 100 TB the corpus band rows are a precomputed silver
    table and only the batch side is hashed fresh; here both derive
    from one scan materialized once behind a scale-adaptive lazy
    localCheckpoint (single-sided predicates get pushed below the
    join and would otherwise fork the signature pipeline — both
    shapes plan-asserted: at scale the NARROW band-key frame is
    checkpointed and no minhash expression survives into the main
    plan; below CHECKPOINT_MIN_CORPUS the gram-array frame is, saving
    a scheduling-floor job). 100× decade: 9.5s (the gram-array
    checkpoint at THAT scale measured 57.6s — RDD round-trips of wide
    arrays cost more than recomputing them). The corpus size feeding
    the gate is read from the parquet footer on the driver (zero
    Spark jobs — a count() job cost 0.4s of pure scheduling floor at
    sf0.1)."""
    from ..operators.dedup import incremental_near_dup
    from ..sources.bronze import table_num_rows

    docs = load_table(spark, sf_dir, "documents")
    n_docs = table_num_rows(sf_dir, "documents")
    return incremental_near_dup(
        docs, threshold=0.6, batch_mod=10, n_docs=n_docs
    )


@register(
    "leakage_safe_splits",
    oracle=f"""
WITH RECURSIVE pairs AS (
  {_MINHASH_ORACLE}
),
edges AS (
  SELECT doc1 AS src, doc2 AS dst FROM pairs
  UNION
  SELECT doc2 AS src, doc1 AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node
),
comp AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node),
g AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS group_id,
         c.cluster_id IS NOT NULL AS in_cluster
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
)
SELECT doc_id, group_id, in_cluster,
       CASE WHEN b < 90 THEN 'train'
            WHEN b < 95 THEN 'validation'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, group_id, in_cluster,
         TRY_CAST('0x' || SUBSTRING(md5('leak42_' || CAST(group_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS b
  FROM g
)
""",
    tags=("dedup", "splitting", "leakage", "beyond-reference"),
)
def leakage_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/validation/test assignment: the split key is
    the NEAR-DUP CLUSTER representative (min doc_id of the connected
    component; docs outside any cluster key on themselves), so
    near-duplicate documents can never straddle splits — the standard
    guard against test-set leakage that a per-document hash split
    (dataset_split_assignments) cannot give. Same 90/5/5 salted-md5
    bucket family as the per-doc split, salted differently
    ('leak42_') so the two split families are independent draws.

    Scale shape: the pair generation + label-propagation fixpoint are
    the near_dup_clusters plan unchanged; the new work is one LEFT
    join of the tiny cluster table onto documents and a pure md5
    projection — no extra shuffle beyond the join itself."""
    from ..operators.dedup import dedup_clusters, near_dup_pairs

    from ..sources.bronze import table_num_rows

    docs = load_table(spark, sf_dir, "documents")
    clusters = dedup_clusters(
        near_dup_pairs(
            docs, threshold=0.6, n_docs=table_num_rows(sf_dir, "documents")
        )
    )
    grouped = docs.select("doc_id").join(
        clusters.select("doc_id", "cluster_id"), "doc_id", "left"
    )
    group_id = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("leak42_"), group_id.cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    return grouped.select(
        "doc_id",
        group_id.alias("group_id"),
        F.col("cluster_id").isNotNull().alias("in_cluster"),
        F.when(bucket < 90, F.lit("train"))
        .when(bucket < 95, F.lit("validation"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


@register(
    "source_overlap_matrix",
    oracle=f"""
WITH pairs AS (
  {_MINHASH_ORACLE}
),
lab AS (
  SELECT p.jaccard, d1.source AS s1, d2.source AS s2
  FROM pairs p
  JOIN documents d1 ON d1.doc_id = p.doc1
  JOIN documents d2 ON d2.doc_id = p.doc2
)
SELECT LEAST(s1, s2) AS src_a, GREATEST(s1, s2) AS src_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CAST(FLOOR(jaccard * 1000000000 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_jaccard_nanos,
       MAX(jaccard) AS max_jaccard
FROM lab
GROUP BY LEAST(s1, s2), GREATEST(s1, s2)
""",
    tags=("dedup", "diagnostics", "beyond-reference"),
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplication matrix: every verified MinHash
    near-dup pair labeled with its two documents' sources, aggregated
    per unordered source pair — the standard "which ingestion sources
    duplicate each other (and themselves)" curation diagnostic that
    decides source-level dedup order and mix weights before any
    per-document work. Diagonal rows (src_a = src_b) read as a
    source's internal duplication rate.

    Parity: per-pair Jaccard is the exact round-9 double both engines
    already agree on; the cross-row SUM extracts integer nanos first
    (FLOOR(j·1e9 + 0.5), the _parity.py convention) so the aggregate
    is an associative integer sum — no float accumulation order in
    the output. MAX is order-free on identical doubles.

    Scale shape: the pair table is the banded near_dup_pairs output
    (tiny vs the corpus) and rides a lazy localCheckpoint before the
    lookups — it is the SMALL side of both source joins, and a
    broadcast side recomputes its whole subplan per join (the round-3
    lesson): without the materialization the executed plan carries
    THREE copies of the signature/verify pipeline (8 documents scans,
    48 array_min sites); with it, one (plan-pinned: zero array_min in
    the main plan). The two source lookups are then doc_id-keyed
    equi-joins of materialized narrow rows against a two-column
    projection of documents, and the final aggregate groups a handful
    of source-pair keys — map-side combine collapses it before the
    shuffle."""
    from ..operators.dedup import near_dup_pairs

    from ..sources.bronze import table_num_rows

    docs = load_table(spark, sf_dir, "documents")
    pairs = near_dup_pairs(
        docs, threshold=0.6, n_docs=table_num_rows(sf_dir, "documents")
    ).localCheckpoint(eager=False)
    src = docs.select("doc_id", "source")
    lab = (
        pairs.join(
            src.select(F.col("doc_id").alias("doc1"), F.col("source").alias("s1")),
            "doc1",
        )
        .join(
            src.select(F.col("doc_id").alias("doc2"), F.col("source").alias("s2")),
            "doc2",
        )
    )
    return (
        lab.groupBy(
            F.least("s1", "s2").alias("src_a"),
            F.greatest("s1", "s2").alias("src_b"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(
                F.floor(F.col("jaccard") * F.lit(1_000_000_000) + F.lit(0.5)).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("sum_jaccard_nanos"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


def _cluster_balanced_oracle() -> str:
    """DuckDB mirror of cluster_balanced_sample: the _ivf_oracle /
    _semantic_dedup_oracle adaptive-codebook assignment CTEs (same
    ROUND(sim, 9) ordering the packed-long / Arrow argmax reproduces
    bit-identically), then a per-cell vec_id rank against the integer
    cap."""
    dd = sql_dot
    return f"""
WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
cc AS (SELECT GREATEST(16, CAST(FLOOR(SQRT(n)) AS BIGINT)) AS c FROM nn),
base AS (
  SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
norms AS (
  SELECT vec_id, v, SQRT({dd('v', 'v')}) AS norm FROM base
),
cents AS (
  SELECT cent_id, cv, cnorm FROM (
    SELECT vec_id AS cent_id, v AS cv, norm AS cnorm,
           ROW_NUMBER() OVER (ORDER BY vec_id) AS crn
    FROM norms), cc
  WHERE crn <= cc.c
),
sims AS (
  SELECT n.vec_id, c.cent_id,
         ROUND({dd('n.v', 'c.cv')} / (n.norm * c.cnorm), 9) AS cent_sim
  FROM norms n CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, cent_id AS cell FROM (
    SELECT vec_id, cent_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cent_sim DESC, cent_id) AS rn
    FROM sims) WHERE rn = 1
),
caps AS (SELECT GREATEST(1, (n + 4 * c - 1) // (4 * c)) AS cap FROM nn, cc),
ranked AS (
  SELECT vec_id, cell,
         COUNT(*) OVER (PARTITION BY cell) AS cell_size,
         ROW_NUMBER() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
  FROM assigned
)
SELECT vec_id, CAST(cell AS BIGINT) AS cell,
       CAST(cell_size AS BIGINT) AS cell_size,
       rn <= cap AS kept
FROM ranked, caps
"""


@register(
    "cluster_balanced_sample",
    oracle=_cluster_balanced_oracle(),
    tags=("sampling", "embedding", "diversity", "beyond-reference"),
)
def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced (diversity-preserving) embedding sampling: the
    corpus is partitioned into the shared adaptive IVF cells
    (operators/similarity_search.ivf_assign — c = isqrt(n) codebook,
    Arrow packed-long argmax) and each cell keeps at most
    ceil(n / 4c) vectors (lowest vec_id first, deterministic), so the
    ~25% sample preserves every embedding-space REGION instead of
    echoing the densest clusters — the cluster-aware pruning step of
    SemDeDup-style curation pipelines, as a first-class sample
    operator.

    Scale shape: the parquet FOOTER row count sizes c and the cap
    (zero Spark jobs — the same table_num_rows gate its siblings
    use; round-9 verdict item); the assignment is the measured
    ivf_assign kernel (one Arrow pass); the rank is a window over
    (cell) — narrow rows, cells are isqrt-sized so no partition is
    ever more than ~sqrt(n) rows, and the cap bound means skew cannot
    concentrate output."""
    from ..operators.similarity_search import adaptive_codebook, ivf_assign
    from ..sources.bronze import table_num_rows

    emb = load_table(spark, sf_dir, "embeddings")
    n = table_num_rows(sf_dir, "embeddings")
    # Codebook size from the ONE shared formula (adaptive_codebook) so
    # this caller cannot drift from ivf_assign's own adaptive branch;
    # the oracle states the c formula independently in SQL, which
    # keeps checking both.
    c, _ = adaptive_codebook(n)
    cap = max(1, -(-n // (4 * c)))
    _, cents, assigned = ivf_assign(emb, n_centroids=c, n_rows=n)
    lut = cents.select("cent_ix", F.col("cent_id").alias("cell"))
    cells = assigned.select("vec_id", F.col("cell").alias("cent_ix")).join(
        F.broadcast(lut), "cent_ix"
    )
    w_rn = Window.partitionBy("cell").orderBy("vec_id")
    w_sz = Window.partitionBy("cell")
    return cells.select(
        "vec_id",
        F.col("cell").cast("bigint").alias("cell"),
        F.count("*").over(w_sz).cast("bigint").alias("cell_size"),
        (F.row_number().over(w_rn) <= cap).alias("kept"),
    )


def _prototypicality_oracle() -> str:
    """DuckDB mirror of prototypicality_pruning: the shared adaptive
    IVF assignment CTEs, the winner's cent_sim carried through, then a
    per-cell prototypicality rank against the floor(|cell|/4) prune
    count."""
    dd = sql_dot
    return f"""
WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
cc AS (SELECT GREATEST(16, CAST(FLOOR(SQRT(n)) AS BIGINT)) AS c FROM nn),
base AS (
  SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
norms AS (
  SELECT vec_id, v, SQRT({dd('v', 'v')}) AS norm FROM base
),
cents AS (
  SELECT cent_id, cv, cnorm FROM (
    SELECT vec_id AS cent_id, v AS cv, norm AS cnorm,
           ROW_NUMBER() OVER (ORDER BY vec_id) AS crn
    FROM norms), cc
  WHERE crn <= cc.c
),
sims AS (
  SELECT n.vec_id, c.cent_id,
         ROUND({dd('n.v', 'c.cv')} / (n.norm * c.cnorm), 9) AS cent_sim
  FROM norms n CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, cell, proto_sim FROM (
    SELECT vec_id, cent_id AS cell, cent_sim AS proto_sim,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cent_sim DESC, cent_id) AS rn
    FROM sims) WHERE rn = 1
),
ranked AS (
  SELECT vec_id, cell, proto_sim,
         COUNT(*) OVER (PARTITION BY cell) AS cell_size,
         ROW_NUMBER() OVER (
           PARTITION BY cell ORDER BY proto_sim DESC, vec_id
         ) AS rnk
  FROM assigned
)
SELECT vec_id, CAST(cell AS BIGINT) AS cell, proto_sim,
       CAST(rnk AS BIGINT) AS cell_rank,
       rnk > cell_size // 4 AS kept
FROM ranked
"""


@register(
    "prototypicality_pruning",
    oracle=_prototypicality_oracle(),
    tags=("pruning", "embedding", "curation", "beyond-reference"),
)
def prototypicality_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prototypicality-based data pruning (Sorscher et al. 2022,
    arXiv:2206.14486 "Beyond neural scaling laws"): cluster the
    embedding space (the shared adaptive IVF cells —
    operators/similarity_search.ivf_assign, c = isqrt(n) deterministic
    codebook), score every example by its cosine to the ASSIGNED
    centroid (the self-supervised prototypicality metric), and prune
    the floor(|cell|/4) MOST prototypical examples per cell — easy,
    redundant examples near cluster centers teach large models least,
    so keeping the hard quartile-complement beats random pruning at
    scale (the paper's abundant-data regime). The complement of
    cluster_balanced_sample's diversity cap: that keeps a bounded
    sample per REGION; this ranks by INFORMATIVENESS within a region.

    Scale shape: the assignment is the measured ivf_assign kernel
    (one Arrow pass); the winner's similarity is ONE
    positional scalar-column dot against the broadcast codebook; the
    rank is a window over (cell) — narrow rows, isqrt-sized
    partitions, same class as cluster_balanced_sample."""
    from ..operators.similarity_search import (
        adaptive_codebook,
        ivf_assign,
    )
    from ..sources.bronze import table_num_rows

    emb = load_table(spark, sf_dir, "embeddings")
    n = table_num_rows(sf_dir, "embeddings")
    c, _ = adaptive_codebook(n)
    # Winner similarity CARRIED through the argmax (with_sim): the
    # packed key already holds round(sim·1e9), so the kernel unpacks
    # it instead of a downstream broadcast-join + 64-term dot
    # recompute. Measured min-of-8 A/B at sf0.1 (round 10): recompute
    # 1.130s vs carry 0.914s, outputs identical — the round-9 comment
    # claiming recompute was cheaper is a recorded negative
    # (SCALE.md). with_vectors=False keeps the scored frame narrow:
    # this query never needs the 64 scalar columns after assignment.
    base, cents, assigned = ivf_assign(
        emb, n_centroids=c, n_rows=n, with_vectors=False, with_sim=True
    )
    scored = assigned.join(
        F.broadcast(cents.select("cent_ix", "cent_id")),
        assigned.cell == F.col("cent_ix"),
    ).select("vec_id", F.col("cent_id").alias("cell"), "proto_sim")
    w_rk = Window.partitionBy("cell").orderBy(
        F.desc("proto_sim"), F.asc("vec_id")
    )
    w_sz = Window.partitionBy("cell")
    ranked = scored.select(
        "vec_id",
        F.col("cell").cast("bigint").alias("cell"),
        "proto_sim",
        F.row_number().over(w_rk).cast("bigint").alias("cell_rank"),
        F.count("*").over(w_sz).alias("cell_size"),
    )
    return ranked.select(
        "vec_id",
        "cell",
        "proto_sim",
        "cell_rank",
        (F.col("cell_rank") > F.expr("cell_size DIV 4")).alias("kept"),
    )


def _d4_oracle(tau: float = _SEMDEDUP_TAU) -> str:
    """DuckDB mirror of d4_selection: the shared IVF assignment CTEs
    carrying the winner's cent_sim, the SemDeDup lower-id-neighbor
    drop at the SAME tau as semantic_dedup, then the prototype rank
    over the SURVIVORS of each cell against floor(survivors/4)."""
    dd = sql_dot
    return f"""
WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
cc AS (SELECT GREATEST(16, CAST(FLOOR(SQRT(n)) AS BIGINT)) AS c FROM nn),
base AS (
  SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
norms AS (
  SELECT vec_id, v, SQRT({dd('v', 'v')}) AS norm FROM base
),
cents AS (
  SELECT cent_id, cv, cnorm FROM (
    SELECT vec_id AS cent_id, v AS cv, norm AS cnorm,
           ROW_NUMBER() OVER (ORDER BY vec_id) AS crn
    FROM norms), cc
  WHERE crn <= cc.c
),
sims AS (
  SELECT n.vec_id, n.v, n.norm, c.cent_id,
         ROUND({dd('n.v', 'c.cv')} / (n.norm * c.cnorm), 9) AS cent_sim
  FROM norms n CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, v, norm, cell, proto_sim FROM (
    SELECT vec_id, v, norm, cent_id AS cell, cent_sim AS proto_sim,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cent_sim DESC, cent_id) AS rn
    FROM sims) WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT a.vec_id FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND b.vec_id < a.vec_id
  WHERE ROUND({dd('a.v', 'b.v')} / (a.norm * b.norm), 9) >= {tau}
),
survivors AS (
  SELECT s.vec_id, s.cell, s.proto_sim,
         ROW_NUMBER() OVER (
           PARTITION BY s.cell ORDER BY s.proto_sim DESC, s.vec_id
         ) AS rnk,
         COUNT(*) OVER (PARTITION BY s.cell) AS n_surv
  FROM assigned s ANTI JOIN dropped d ON s.vec_id = d.vec_id
)
SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell, a.proto_sim,
       CASE WHEN d.vec_id IS NOT NULL THEN 'semdedup_duplicate'
            WHEN s.rnk <= s.n_surv // 4 THEN 'prototype_pruned'
            ELSE 'kept' END AS decision,
       d.vec_id IS NULL AND s.rnk > s.n_surv // 4 AS kept
FROM assigned a
LEFT JOIN dropped d ON a.vec_id = d.vec_id
LEFT JOIN survivors s ON a.vec_id = s.vec_id
"""


@register(
    "d4_selection",
    oracle=_d4_oracle(),
    tags=("pruning", "dedup", "embedding", "curation", "beyond-reference"),
)
def d4_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 data selection (Tirumala et al. 2023, arXiv:2308.12284
    "D4: Improving LLM Pretraining via Document De-Duplication and
    Diversification"): SemDeDup first (drop every vector with a
    lower-id in-cell neighbor at cosine ≥ τ — Abbas et al. 2023),
    then SSL-prototype pruning over the SURVIVORS (drop the
    floor(survivors/4) most prototypical examples per cell —
    Sorscher et al. 2022), both stages over ONE shared adaptive IVF
    assignment. The paper's finding is that the two prunes COMPOSE:
    dedup removes redundancy, prototype pruning removes easiness,
    and the selection beats either alone at LLM pretraining scale.
    Per-vector decision: semdedup_duplicate / prototype_pruned /
    kept.

    Scale shape: ivf_assign runs ONCE (semantic_dedup_frame's
    ``preassigned`` hook); stage 1 is the measured SemDeDup pass
    (per-cell Arrow blocks ≥50k vectors, cell self-join below);
    stage 2 reads the winner similarity CARRIED out of the argmax
    (with_sim) and adds a per-cell window over survivor rows — the
    prototypicality_pruning shape on a filtered frame."""
    from ..operators.similarity_search import (
        adaptive_codebook,
        ivf_assign,
        semantic_dedup_frame,
    )
    from ..sources.bronze import table_num_rows

    emb = load_table(spark, sf_dir, "embeddings")
    n = table_num_rows(sf_dir, "embeddings")
    c, _ = adaptive_codebook(n)
    # ONE shared assignment feeds both stages (preassigned), and the
    # winner similarity rides the packed argmax key out (with_sim) —
    # the former broadcast-join + 64-term dot recompute measured
    # SLOWER (min-of-8 A/B at sf0.1, round 10: 2.273s recompute vs
    # 1.891s carry, outputs identical; negative result in SCALE.md).
    # impl="auto" + n_rows hands semantic_dedup_frame the SAME 50k
    # arrow/join crossover the operator owns — no inline restatement
    # of its constant, no count job (round-9 advisor finding).
    trio = ivf_assign(emb, n_centroids=c, n_rows=n, with_sim=True)
    base, cents, assigned = trio
    sem = semantic_dedup_frame(
        emb,
        threshold=_SEMDEDUP_TAU,
        n_centroids=c,
        impl="auto",
        preassigned=trio,
        n_rows=n,
    ).select("vec_id", "kept")
    scored = (
        assigned.select("vec_id", "cell", "proto_sim")
        .join(
            F.broadcast(cents.select("cent_ix", "cent_id")),
            F.col("cell") == F.col("cent_ix"),
        )
        .select("vec_id", F.col("cent_id").alias("cell"), "proto_sim")
        .join(sem, "vec_id")
    )
    w_rk = Window.partitionBy("cell").orderBy(
        F.desc("proto_sim"), F.asc("vec_id")
    )
    w_sz = Window.partitionBy("cell")
    surv = scored.where(F.col("kept")).select(
        "vec_id",
        F.row_number().over(w_rk).cast("bigint").alias("rnk"),
        F.count("*").over(w_sz).alias("n_surv"),
    )
    return (
        scored.join(surv, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cell").cast("bigint").alias("cell"),
            "proto_sim",
            F.when(~F.col("kept"), "semdedup_duplicate")
            .when(F.col("rnk") <= F.expr("n_surv DIV 4"), "prototype_pruned")
            .otherwise("kept")
            .alias("decision"),
            (F.col("kept") & (F.col("rnk") > F.expr("n_surv DIV 4"))).alias(
                "kept"
            ),
        )
    )


def _pq_oracle(n_sub: int = 8, ks: int = 16, k: int = 5) -> str:
    """DuckDB mirror of ann_pq_topk: the _ivf_oracle assignment CTEs
    for candidate pruning, plus the PQ codebook / encode / ADC stages
    generated positionally (same IEEE ops in the same order — the
    scalar-column parity discipline)."""
    dd = sql_dot
    dim = 64
    ds = dim // n_sub
    sub_rows = "\n  UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, "
        + ", ".join(f"v[{m * ds + j + 1}] AS s_{j}" for j in range(ds))
        + " FROM base"
        for m in range(n_sub)
    )
    cb_rows = "\n  UNION ALL ".join(
        f"SELECT {m} AS m, crn - 1 AS c, "
        + ", ".join(f"v[{m * ds + j + 1}] AS pc_{j}" for j in range(ds))
        + " FROM firstks"
        for m in range(n_sub)
    )
    dist = "(" + " + ".join(
        f"(s.s_{j} - c.pc_{j}) * (s.s_{j} - c.pc_{j})" for j in range(ds)
    ) + ")"
    return f"""
WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
cc AS (SELECT GREATEST(16, CAST(FLOOR(SQRT(n)) AS BIGINT)) AS c FROM nn),
base AS (
  SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
norms AS (
  SELECT vec_id, v, SQRT({dd('v', 'v')}) AS norm FROM base
),
cents AS (
  SELECT cent_id, cv, cnorm FROM (
    SELECT vec_id AS cent_id, v AS cv, norm AS cnorm,
           ROW_NUMBER() OVER (ORDER BY vec_id) AS crn
    FROM norms), cc
  WHERE crn <= cc.c
),
sims AS (
  SELECT n.vec_id, n.v, n.norm, c.cent_id,
         ROUND({dd('n.v', 'c.cv')} / (n.norm * c.cnorm), 9) AS cent_sim
  FROM norms n CROSS JOIN cents c
),
ranked AS (
  SELECT vec_id, cent_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cent_sim DESC, cent_id) AS rn
  FROM sims
),
assigned AS (
  SELECT vec_id, cent_id AS cell FROM ranked WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, cent_id AS qcell
  FROM ranked WHERE rn <= 2 AND vec_id % 100 = 0
),
firstks AS (
  SELECT v, crn FROM (
    SELECT v, ROW_NUMBER() OVER (ORDER BY vec_id) AS crn FROM base)
  WHERE crn <= {ks}
),
cb AS (
  {cb_rows}
),
subs AS (
  {sub_rows}
),
cdist AS (
  SELECT s.vec_id, s.m, c.c,
         CAST(ROUND({dist} * 1000000000) AS BIGINT) AS dn
  FROM subs s JOIN cb c ON c.m = s.m
),
codes AS (
  SELECT vec_id, m, c AS code FROM (
    SELECT vec_id, m, c,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dn, c) AS rn
    FROM cdist) WHERE rn = 1
),
qdist AS (
  SELECT vec_id AS query_id, m, c, dn FROM cdist
  WHERE vec_id % 100 = 0
),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM probes p JOIN assigned a
    ON a.cell = p.qcell AND a.vec_id <> p.query_id
),
scored AS (
  SELECT cand.query_id, cand.vec_id,
         CAST(SUM(qd.dn) AS BIGINT) AS adc_nanos
  FROM cand
  JOIN codes ON codes.vec_id = cand.vec_id
  JOIN qdist qd ON qd.query_id = cand.query_id
              AND qd.m = codes.m AND qd.c = codes.code
  GROUP BY cand.query_id, cand.vec_id
)
SELECT query_id, vec_id, adc_nanos, rk FROM (
  SELECT query_id, vec_id, adc_nanos,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY adc_nanos ASC, vec_id
         ) AS INTEGER) AS rk
  FROM scored
) WHERE rk <= {k}
"""


@register(
    "ann_pq_topk",
    oracle=_pq_oracle(),
    tags=("similarity", "ann", "pq", "beyond-reference"),
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN — the product-quantization member of the ANN family
    (LSH buckets / IVF cells / PQ codes, the FAISS IVFPQ composition):
    IVF cells prune candidates to O(nprobe·n/c) per query, PQ encodes
    every vector as ONE bigint of 8 four-bit subspace codes (32×
    smaller than the float32 vector — the 100 TB memory story), and
    candidates are scored by asymmetric distance computation: 8
    integer-nano table lookups per pair against the query's broadcast
    distance tables instead of a 64-term dot. Deterministic
    "first"-mode codebooks and round-before-sum integer distances
    make the whole index oracle-reproducible; recall vs exact brute
    force is MEASURED in tools/recall_bench.py (IVFPQ rows), not
    assumed."""
    from ..operators.similarity_search import pq_topk
    from ..sources.bronze import table_num_rows

    e = load_table(spark, sf_dir, "embeddings")
    n = table_num_rows(sf_dir, "embeddings")
    return pq_topk(
        e, F.col("vec_id") % 100 == 0, k=5, n_centroids=None, nprobe=2,
        n_vectors=n,
    )


def _rerank_oracle(k_retrieve: int = 20, k: int = 5) -> str:
    """DuckDB mirror of ann_rerank_crossencoder: the _ivf_oracle
    retrieval CTEs capped at k_retrieve, then the joint-feature
    rerank stated positionally (i-ascending L1, integer sign
    agreement — the exact IEEE/integer sequences the Arrow kernel
    replicates)."""
    dd = sql_dot
    return f"""
WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
cc AS (SELECT GREATEST(16, CAST(FLOOR(SQRT(n)) AS BIGINT)) AS c FROM nn),
base AS (
  SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
norms AS (
  SELECT vec_id, v, SQRT({dd('v', 'v')}) AS norm FROM base
),
cents AS (
  SELECT cent_id, cv, cnorm FROM (
    SELECT vec_id AS cent_id, v AS cv, norm AS cnorm,
           ROW_NUMBER() OVER (ORDER BY vec_id) AS crn
    FROM norms), cc
  WHERE crn <= cc.c
),
sims AS (
  SELECT n.vec_id, n.v, n.norm, c.cent_id,
         ROUND({dd('n.v', 'c.cv')} / (n.norm * c.cnorm), 9) AS cent_sim
  FROM norms n CROSS JOIN cents c
),
ranked AS (
  SELECT vec_id, v, norm, cent_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cent_sim DESC, cent_id) AS rn
  FROM sims
),
assigned AS (
  SELECT vec_id, v, norm, cent_id AS cell FROM ranked WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, v AS qv, norm AS qnorm, cent_id AS qcell
  FROM ranked WHERE rn <= 2 AND vec_id % 100 = 0
),
cand AS (
  SELECT p.query_id, a.vec_id, p.qv, p.qnorm, a.v, a.norm
  FROM probes p JOIN assigned a ON a.cell = p.qcell AND a.vec_id <> p.query_id
),
retrieved AS (
  SELECT query_id, vec_id, qv, v, cosine FROM (
    SELECT query_id, vec_id, qv, v,
           ROUND({dd('qv', 'v')} / (qnorm * norm), 9) AS cosine,
           ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY
             ROUND({dd('qv', 'v')} / (qnorm * norm), 9) DESC, vec_id
           ) AS rrk
    FROM cand
  ) WHERE rrk <= {k_retrieve}
),
rer AS (
  SELECT query_id, vec_id, cosine AS retrieval_cosine,
         ROUND(
           0.6 * cosine
           + 0.25 * (1.0 / (1.0 + {sql_l1('qv', 'v')} / 64.0))
           + 0.15 * ({sql_sign_agree('qv', 'v')} / 64.0),
         9) AS rerank_score
  FROM retrieved
)
SELECT query_id, vec_id, retrieval_cosine, rerank_score, rk FROM (
  SELECT query_id, vec_id, retrieval_cosine, rerank_score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY rerank_score DESC, vec_id
         ) AS INTEGER) AS rk
  FROM rer
) WHERE rk <= {k}
"""


@register(
    "ann_rerank_crossencoder",
    oracle=_rerank_oracle(),
    tags=("similarity", "ann", "rerank", "beyond-reference"),
)
def ann_rerank_crossencoder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieve-then-rerank, the serving-side sibling of the ann_*
    index family (operators/similarity_search.rerank_crossencoder):
    the IVF index retrieves 20 candidates per query (bi-encoder tier
    — per-vector state only), the candidate pairs join back to their
    raw vectors and an Arrow-batched pairwise kernel re-scores them
    with joint features (exact cosine + L1 proximity + sign
    agreement — computable only from BOTH vectors at once, the
    cross-encoder contract) to a final top-5. A production deployment
    swaps the kernel body for a batched model forward pass; the
    candidate generation, pair-payload joins, Arrow batch shape and
    top-k windows are exactly what it runs. Rerank cost is
    O(queries·k_retrieve) — independent of corpus size."""
    from ..operators.similarity_search import rerank_crossencoder
    from ..sources.bronze import table_num_rows

    e = load_table(spark, sf_dir, "embeddings")
    n = table_num_rows(sf_dir, "embeddings")
    return rerank_crossencoder(
        e, F.col("vec_id") % 100 == 0, k_retrieve=20, k=5, nprobe=2,
        n_vectors=n,
    )


_SPAN_K = 5  # anchor-gram width (words) for repeated-span detection
_SPAN_FLAG_WORDS = 20  # flag docs carrying a span at least this long


@register(
    "repeated_span_stats",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents
    ),
    grams AS (
      SELECT doc_id, i AS pos,
             ARRAY_TO_STRING(ws[i:i + {_SPAN_K} - 1], ' ') AS g
      FROM words, UNNEST(RANGE(1, LEN(ws) - {_SPAN_K} + 2)) AS t(i)
      WHERE LEN(ws) >= {_SPAN_K}
    ),
    dup AS (
      SELECT g FROM (
        SELECT g, COUNT(DISTINCT doc_id) AS nd FROM grams GROUP BY g
      ) WHERE nd >= 2
    ),
    hits AS (SELECT doc_id, pos FROM grams JOIN dup USING (g)),
    isl AS (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
               AS isl
      FROM hits
    ),
    spans AS (
      SELECT doc_id, isl, COUNT(*) AS n_pos FROM isl GROUP BY doc_id, isl
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(MAX(n_pos + {_SPAN_K} - 1) AS BIGINT) AS max_span_words,
             CAST(SUM(n_pos) AS BIGINT) AS n_dup_grams
      FROM spans GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
           CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(p.max_span_words, 0) AS BIGINT) AS max_span_words,
           COALESCE(p.max_span_words, 0) >= {_SPAN_FLAG_WORDS} AS flagged
    FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
    """,
    tags=("curation", "dedup", "exact-substring", "beyond-reference"),
)
def repeated_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-SPAN detection — the scalable skeleton
    of exact-substring deduplication (Lee et al. 2022,
    arXiv:2107.06499: repeated ≥50-token substrings are the single
    highest-yield dedup signal in web corpora). The suffix array is
    replaced by fixed-width ANCHOR GRAMS: a position is "repeated"
    when its {{k}}-word gram also appears in another document, and
    maximal runs of consecutive repeated positions are folded into
    SPANS via the gaps-and-islands rewrite (pos − row_number is
    constant exactly on a consecutive run). A span of g consecutive
    repeated grams certifies a shared substring of g+k−1 words, so
    ``max_span_words`` lower-bounds the longest cross-doc substring
    and ``flagged`` marks docs carrying one ≥ {{flag}} words.

    Scale shape: positional grams are EXPLODE-FIRST lead() windows
    (the _word_gram_rows discipline — no Generate-pathology); the
    cross-doc test is min/max-doc_id WINDOW functions over the gram
    partition, so the gram stream crosses the wire exactly once (the
    agg + join-back form paid a second g-exchange — round-8 A/B in
    the window rewrite comment below); islands + spans shuffle only
    (doc_id, pos) int pairs. Everything is linear in corpus size —
    the n² suffix-array sort the paper needs a custom sharded build
    for never appears."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w")
    )
    wnd = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("w")] + [
        F.lead("w", i).over(wnd) for i in range(1, _SPAN_K)
    ]
    grams = (
        toks.select(
            "doc_id",
            "pos",
            F.concat_ws(" ", *parts).alias("g"),
            F.lead("w", _SPAN_K - 1).over(wnd).alias("_last"),
        )
        .where(F.col("_last").isNotNull())
        .select("doc_id", "pos", "g")
    )
    # Cross-doc duplication is min(doc_id) != max(doc_id) over the
    # gram partition — COUNT(DISTINCT doc_id) >= 2 without the
    # two-phase distinct expand. As WINDOW functions (not agg + join
    # back) the gram stream crosses the wire ONCE: the round-8 A/B
    # measured agg+join (grams checkpointed, two g-exchanges) at
    # 1.22s vs 1.01s for the single windowed exchange at sf0.1, and
    # the single-consumer grams pipeline no longer needs its
    # localCheckpoint at all.
    wg = Window.partitionBy("g")
    hits = (
        grams.select(
            "doc_id",
            "pos",
            F.min("doc_id").over(wg).alias("_mn"),
            F.max("doc_id").over(wg).alias("_mx"),
        )
        .where(F.col("_mn") != F.col("_mx"))
        .select("doc_id", "pos")
    )
    isl = hits.select(
        "doc_id",
        "pos",
        (F.col("pos") - F.row_number().over(wnd)).alias("isl"),
    )
    spans = isl.groupBy("doc_id", "isl").agg(F.count("*").alias("n_pos"))
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_spans"),
        (F.max("n_pos") + F.lit(_SPAN_K - 1)).cast("bigint").alias(
            "max_span_words"
        ),
        F.sum("n_pos").cast("bigint").alias("n_dup_grams"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_dup_grams", F.lit(0)).cast("bigint").alias(
                "n_dup_grams"
            ),
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce("max_span_words", F.lit(0)).cast("bigint").alias(
                "max_span_words"
            ),
            (F.coalesce("max_span_words", F.lit(0)) >= _SPAN_FLAG_WORDS).alias(
                "flagged"
            ),
        )
    )


repeated_span_stats.__doc__ = repeated_span_stats.__doc__.format(
    k=_SPAN_K, flag=_SPAN_FLAG_WORDS
)


_EXACT_REPEAT_CAP = 32  # >= _SPAN_FLAG_WORDS: capped stats stay exact


def _exact_repeat_oracle() -> str:
    from ..operators.suffix import exact_repeat_oracle_sql

    return exact_repeat_oracle_sql(
        _EXACT_REPEAT_CAP, mark_k=_SPAN_K, flag_words=_SPAN_FLAG_WORDS
    )


def _exact_repeat_removal_oracle() -> str:
    from ..operators.suffix import exact_repeat_removal_oracle_sql

    return exact_repeat_removal_oracle_sql(
        _EXACT_REPEAT_CAP, flag_words=_SPAN_FLAG_WORDS
    )


def _exact_contamination_oracle() -> str:
    from ..operators.suffix import exact_contamination_oracle_sql

    return exact_contamination_oracle_sql(
        _EXACT_REPEAT_CAP,
        flag_words=_DECON_N,
        holdout_sql=f"doc_id % {_DECON_MOD} = 0",
    )


@register(
    "exact_repeat_stats",
    oracle=_exact_repeat_oracle(),
    tags=("dedup", "suffix-array", "exact", "beyond-reference"),
)
def exact_repeat_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-array-EXACT cross-document repeat statistics — the
    no-slack upgrade of repeated_span_stats (Lee et al. 2022's exact
    form, operators/suffix.py). Per doc: longest_repeat =
    min(true longest cross-doc shared substring, {cap}) tokens
    exactly; n_repeat_starts = positions whose {k}-gram is cross-doc
    shared (identical to the anchor family's n_dup_grams by
    construction); n_covered_words = the EXACT removal footprint of
    the "drop repeated spans >= {flag} words" policy (cap >= flag
    keeps it exact — proof in exact_repeat_doc_stats); flagged =
    longest >= {flag}.

    Registered in round 11 (staged round 10; the newcomer slot then
    went to ann_ivf2_topk per the growth cap). The oracle pair
    (operators.suffix.exact_repeat_oracle_sql(cap, k, flag)) is TOTAL
    (exact on any corpus — capped Spark side vs k_max=cap chained
    marks), tested in tests/test_suffix_ranks.py and against this
    very plan in test_exact_repeat_stats_plan_matches_oracle. Kept
    OUT of the bench headline — its cost is a ~90-job scheduling
    floor (SCALE.md round-10 suffix section), not data."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w")
    )
    from ..operators.suffix import cross_doc_repeat, exact_repeat_doc_stats

    rep = cross_doc_repeat(toks, cap=_EXACT_REPEAT_CAP)
    stats = exact_repeat_doc_stats(
        rep, mark_k=_SPAN_K, flag_words=_SPAN_FLAG_WORDS,
        cap=_EXACT_REPEAT_CAP,
    )
    # docs with no row in the stats frame cannot exist (every doc has
    # >= 1 token, hence >= 1 suffix), so no left-join fill is needed;
    # still project through documents for a pinned output order
    # contract matching the oracle's FROM documents frame.
    return stats.select(
        "doc_id", "longest_repeat", "n_repeat_starts", "n_covered_words",
        "flagged",
    )


@register(
    "exact_repeat_removal",
    oracle=_exact_repeat_removal_oracle(),
    tags=("dedup", "suffix-array", "exact", "removal", "beyond-reference"),
)
def exact_repeat_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-decontamination removal on the suffix-array-exact marks:
    every position covered by a >= {flag}-word cross-document repeat
    is cut from EVERY occurrence (symmetric — contrast
    repeated_span_removal's keep-canonical-first policy; both are
    real curation modes: keep-first dedups, cut-all decontaminates
    shared boilerplate). Cleaned text reassembles in-row via the
    spans-array positional filter (_span_removal_tail discipline).

    Registered in round 11, same terms as exact_repeat_stats: the
    oracle pair (exact_repeat_removal_oracle_sql(cap, flag)) is total
    for cap >= flag (covered-union cap-invariance proof in
    exact_repeat_doc_stats)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w")
    )
    from ..operators.suffix import cross_doc_repeat, exact_repeat_removal_frame

    rep = cross_doc_repeat(toks, cap=_EXACT_REPEAT_CAP)
    return exact_repeat_removal_frame(
        docs, rep, flag_words=_SPAN_FLAG_WORDS, cap=_EXACT_REPEAT_CAP
    )


exact_repeat_removal.__doc__ = exact_repeat_removal.__doc__.format(
    flag=_SPAN_FLAG_WORDS
)


@register(
    "exact_contamination_spans",
    oracle=_exact_contamination_oracle(),
    tags=(
        "decontamination", "suffix-array", "exact", "beyond-reference",
    ),
)
def exact_contamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-array-exact eval-set contamination: per TRAINING doc
    (doc_id % {mod} != 0 — the same holdout split as
    benchmark_decontamination), the EXACT longest token span shared
    with the holdout group (capped at {cap}), the count of positions
    starting a >= {n}-token shared span, and the contaminated flag.
    The flag is provably identical to the n-gram family's (a cross-
    group rep >= {n} ⟺ the position's {n}-gram occurs in the
    holdout — the parity test pins it); the spans add what the n-gram
    test cannot say: HOW MUCH is shared, exactly, per doc — the
    severity signal surgical decontamination triages by.

    Registered in round 11, same terms as exact_repeat_stats;
    oracle: exact_contamination_oracle_sql (total pair at cap)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w")
    )
    from ..operators.suffix import cross_doc_repeat

    rep = cross_doc_repeat(
        toks,
        cap=_EXACT_REPEAT_CAP,
        group_expr=lambda d: (d % _DECON_MOD == 0).cast("int"),
    )
    train = rep.where(F.col("doc_id") % _DECON_MOD != 0)
    per_doc = train.groupBy("doc_id").agg(
        F.max("rep").cast("bigint").alias("longest_shared_span"),
        F.sum((F.col("rep") >= _DECON_N).cast("bigint"))
        .cast("bigint")
        .alias("n_contaminated_positions"),
    )
    return (
        docs.where(F.col("doc_id") % _DECON_MOD != 0)
        .select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("longest_shared_span", F.lit(0))
            .cast("bigint")
            .alias("longest_shared_span"),
            F.coalesce("n_contaminated_positions", F.lit(0))
            .cast("bigint")
            .alias("n_contaminated_positions"),
            (F.coalesce("longest_shared_span", F.lit(0)) >= _DECON_N).alias(
                "contaminated"
            ),
        )
    )


exact_contamination_spans.__doc__ = exact_contamination_spans.__doc__.format(
    mod=_DECON_MOD, cap=_EXACT_REPEAT_CAP, n=_DECON_N
)


exact_repeat_stats.__doc__ = exact_repeat_stats.__doc__.format(
    cap=_EXACT_REPEAT_CAP, k=_SPAN_K, flag=_SPAN_FLAG_WORDS
)


@register(
    "repeated_span_removal",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents
    ),
    toks AS (
      SELECT doc_id, i AS pos, ws[i] AS w
      FROM words, UNNEST(RANGE(1, LEN(ws) + 1)) AS t(i)
    ),
    grams AS (
      SELECT doc_id, i AS pos,
             ARRAY_TO_STRING(ws[i:i + {_SPAN_K} - 1], ' ') AS g
      FROM words, UNNEST(RANGE(1, LEN(ws) - {_SPAN_K} + 2)) AS t(i)
      WHERE LEN(ws) >= {_SPAN_K}
    ),
    marks AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos)
                 AS rn,
               COUNT(*) OVER (PARTITION BY g) AS cnt
        FROM grams
      ) WHERE cnt >= 2 AND rn > 1
    ),
    isl AS (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
               AS isl
      FROM marks
    ),
    spans AS (
      SELECT doc_id, MIN(pos) AS s, MAX(pos) AS e
      FROM isl GROUP BY doc_id, isl
    ),
    cover AS (
      SELECT DISTINCT doc_id, pos FROM (
        SELECT doc_id, UNNEST(RANGE(s, e + {_SPAN_K})) AS pos FROM spans
      )
    ),
    kept AS (
      SELECT t.doc_id, t.pos, t.w FROM toks t
      ANTI JOIN cover c ON c.doc_id = t.doc_id AND c.pos = t.pos
    ),
    agg AS (
      SELECT doc_id,
             STRING_AGG(w, ' ' ORDER BY pos) AS clean_text,
             CAST(COUNT(*) AS BIGINT) AS n_kept_words
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(a.clean_text, '') AS clean_text,
           CAST(COALESCE(a.n_kept_words, 0) AS BIGINT) AS n_kept_words,
           CAST(LEN(STRING_SPLIT(d.text, ' '))
                - COALESCE(a.n_kept_words, 0) AS BIGINT)
             AS n_removed_words
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
    tags=("curation", "dedup", "exact-substring", "beyond-reference"),
)
def repeated_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring deduplication with SPAN REMOVAL — the output
    half of Lee et al. 2022 (arXiv:2107.06499) that
    :func:`repeated_span_stats` only reports on: every duplicated
    {k}-word anchor gram keeps its CANONICAL first occurrence
    (lowest doc_id, then lowest position) and all other occurrences
    mark their covered words for removal; maximal runs of marked
    positions fold into spans (gaps-and-islands) and the cleaned text
    is reassembled from the surviving words. Unlike doc-level dedup,
    this removes boilerplate shared by otherwise-distinct documents
    (the paper's motivating case) while every span's first occurrence
    survives somewhere in the corpus.

    Determinism: the canonical occurrence is an integer-ordered
    row_number over (doc_id, pos) — no float, no tie — so the kept
    word set and the reassembled strings are engine-exact.

    Scale shape: one gram window pass (the _word_gram_rows
    discipline), ONE exchange on the gram string for the
    rank/multiplicity window (the same cost class as the dedup
    family's gram groupBys — rn and cnt share the exchange and sort),
    then the _span_removal_tail: islands shuffle narrow (doc_id, pos)
    int pairs and the cleaned text is re-assembled by a higher-order
    filter over the document's own words array (per-doc spans array
    joined back — no token anti-join, no collect_list re-agg; the
    tail docstring carries the measured rationale). Linear in corpus
    size; no suffix array, no all-pairs stage."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w")
    )
    wnd = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("w")] + [F.lead("w", i).over(wnd) for i in range(1, _SPAN_K)]
    grams = (
        toks.select(
            "doc_id",
            "pos",
            F.concat_ws(" ", *parts).alias("g"),
            F.lead("w", _SPAN_K - 1).over(wnd).alias("_last"),
        )
        .where(F.col("_last").isNotNull())
        .select("doc_id", "pos", "g")
    )
    # rn (canonical-first rank) and cnt (occurrence multiplicity)
    # share one exchange+sort on g: the count's unbounded frame is
    # order-insensitive, so Catalyst plans both window functions over
    # the same sorted partition.
    wg = Window.partitionBy("g").orderBy("doc_id", "pos")
    marks = (
        grams.select(
            "doc_id",
            "pos",
            F.row_number().over(wg).alias("rn"),
            F.count("*").over(Window.partitionBy("g")).alias("cnt"),
        )
        .where((F.col("cnt") >= 2) & (F.col("rn") > 1))
        .select("doc_id", "pos")
    )
    return _span_removal_tail(docs, marks, _SPAN_K)


repeated_span_removal.__doc__ = repeated_span_removal.__doc__.format(
    k=_SPAN_K
)


def _span_removal_tail(
    docs: DataFrame, marks: DataFrame, k: int
) -> DataFrame:
    """Shared removal tail: marked anchor positions → maximal spans
    (gaps-and-islands) → per-doc SPANS ARRAY → higher-order filter
    over the document's own words array. ``docs`` must cover the SAME
    document subset the output should report on.

    The round-8 rewrite: the original tail expanded spans to a
    covered-position set (explode + distinct), anti-joined the token
    stream and re-assembled text via collect_list(struct(pos, w)) +
    array_sort — a second evaluation of the scan+explode plus three
    exchanges of (doc_id, pos) pairs. But a document's words never
    left its row: joining the (few, short) spans back as an array and
    dropping covered words with a positional `filter` lambda keeps
    the re-assembly inside one codegen projection. Exchanges after
    the marks drop from 3 + a token re-scan to 1 (the docs-side join;
    isl/spans/span_arr all reuse the doc_id partitioning the island
    window installs). Measured 1.47s → 1.10s (repeated) and 1.45s →
    1.04s (decontamination) at sf0.1, exact-parity. Per-word span
    probing is O(words · spans_per_doc) inside the row — spans per
    doc is small by construction (maximal islands of a flagged
    minority), and at 100 TB the narrow span frame joins against the
    full-width docs scan exactly once."""
    wnd = Window.partitionBy("doc_id").orderBy("pos")
    isl = marks.select(
        "doc_id",
        "pos",
        (F.col("pos") - F.row_number().over(wnd)).alias("isl"),
    )
    spans = isl.groupBy("doc_id", "isl").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + F.lit(k - 1)).alias("e"),
    )
    span_arr = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("s", "e")).alias("_spans")
    )
    ws = F.split(F.col("text"), " ")
    kept = F.filter(
        ws,
        lambda w, i: ~F.exists(
            F.col("_spans"), lambda sp: (i >= sp["s"]) & (i <= sp["e"])
        ),
    )
    return (
        docs.select("doc_id", "text")
        .join(span_arr, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_spans").isNull(), F.col("text"))
            .otherwise(F.array_join(kept, " "))
            .alias("clean_text"),
            F.when(F.col("_spans").isNull(), F.size(ws))
            .otherwise(F.size(kept))
            .cast("bigint")
            .alias("n_kept_words"),
            F.when(F.col("_spans").isNull(), F.lit(0))
            .otherwise(F.size(ws) - F.size(kept))
            .cast("bigint")
            .alias("n_removed_words"),
        )
    )


@register(
    "decontamination_span_removal",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents
    ),
    train AS (
      SELECT doc_id, ws FROM words WHERE doc_id % {_DECON_MOD} != 0
    ),
    toks AS (
      SELECT doc_id, i AS pos, ws[i] AS w
      FROM train, UNNEST(RANGE(1, LEN(ws) + 1)) AS t(i)
    ),
    grams AS (
      SELECT doc_id, i AS pos,
             ARRAY_TO_STRING(ws[i:i + {_DECON_N} - 1], ' ') AS g
      FROM train, UNNEST(RANGE(1, LEN(ws) - {_DECON_N} + 2)) AS t(i)
      WHERE LEN(ws) >= {_DECON_N}
    ),
    bench AS (
      SELECT DISTINCT ARRAY_TO_STRING(ws[i:i + {_DECON_N} - 1], ' ') AS g
      FROM words, UNNEST(RANGE(1, LEN(ws) - {_DECON_N} + 2)) AS t(i)
      WHERE doc_id % {_DECON_MOD} = 0 AND LEN(ws) >= {_DECON_N}
    ),
    marks AS (SELECT doc_id, pos FROM grams JOIN bench USING (g)),
    isl AS (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
               AS isl
      FROM marks
    ),
    spans AS (
      SELECT doc_id, MIN(pos) AS s, MAX(pos) AS e
      FROM isl GROUP BY doc_id, isl
    ),
    cover AS (
      SELECT DISTINCT doc_id, pos FROM (
        SELECT doc_id, UNNEST(RANGE(s, e + {_DECON_N})) AS pos FROM spans
      )
    ),
    kept AS (
      SELECT t.doc_id, t.pos, t.w FROM toks t
      ANTI JOIN cover c ON c.doc_id = t.doc_id AND c.pos = t.pos
    ),
    agg AS (
      SELECT doc_id,
             STRING_AGG(w, ' ' ORDER BY pos) AS clean_text,
             CAST(COUNT(*) AS BIGINT) AS n_kept_words
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(a.clean_text, '') AS clean_text,
           CAST(COALESCE(a.n_kept_words, 0) AS BIGINT) AS n_kept_words,
           CAST(LEN(STRING_SPLIT(d.text, ' '))
                - COALESCE(a.n_kept_words, 0) AS BIGINT)
             AS n_removed_words
    FROM documents d LEFT JOIN agg a USING (doc_id)
    WHERE d.doc_id % {_DECON_MOD} != 0
    """,
    tags=("curation", "decontamination", "exact-substring", "beyond-reference"),
)
def decontamination_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURGICAL eval-set decontamination: instead of dropping every
    document that shares an n-gram with the held-out slice (what
    benchmark_decontamination's flag implies), cut ONLY the
    contaminated spans — every training-side position whose
    {n}-word gram appears in the benchmark gram set marks its covered
    words, maximal marked runs fold into spans, and the document is
    reassembled without them. This keeps the ~uncontaminated majority
    of a flagged document in the corpus, the standard refinement when
    contamination is boilerplate (a quoted benchmark question inside
    an otherwise-useful page). No canonical-first exception: a bench
    gram is contaminated wherever it appears.

    Scale shape: the bench gram set BROADCASTS (exactly the
    benchmark_decontamination join — at real scale the bloom bitmap
    pre-filter composes in front of it unchanged), so the marks keep
    the gram window's doc_id partitioning and the island window adds
    NO exchange; the text re-assembly is the _span_removal_tail's
    higher-order filter over the words array. Linear in corpus
    size."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % _DECON_MOD != 0)
    toks = train.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w")
    )
    wnd = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("w")] + [
        F.lead("w", i).over(wnd) for i in range(1, _DECON_N)
    ]
    grams = (
        toks.select(
            "doc_id",
            "pos",
            F.concat_ws(" ", *parts).alias("g"),
            F.lead("w", _DECON_N - 1).over(wnd).alias("_last"),
        )
        .where(F.col("_last").isNotNull())
        .select("doc_id", "pos", "g")
    )
    bench = (
        _word_gram_rows(docs, _DECON_N)
        .where(F.col("doc_id") % _DECON_MOD == 0)
        .select("g")
        .distinct()
    )
    marks = grams.join(F.broadcast(bench), "g").select("doc_id", "pos")
    return _span_removal_tail(train, marks, _DECON_N)


decontamination_span_removal.__doc__ = (
    decontamination_span_removal.__doc__.format(n=_DECON_N)
)
