"""Text and LLM data preparation: tokens, language models, curation.

Tokenization and vocabulary statistics, n-gram language models and
smoothing, contamination and decontamination, packing and sharding,
mixture weighting, retrieval scoring (BM25, query likelihood, VSM),
keyword extraction and the end-to-end curation pipeline.

Registry conventions apply (plans/registry.py): exact decimal sums,
ROUND 6 on transcendental/division outputs, atomic columns,
BIGINT/DOUBLE/VARCHAR oracle casts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ucl_data_pipeline_spark.functions import text as TX
from ucl_data_pipeline_spark.functions.scalar import knuth_bucket
from ucl_data_pipeline_spark.functions.text import _let, tokens
from ucl_data_pipeline_spark.plans.registry import (
    bucketed_row_number,
    register,
    sql_knuth_bucket,
)
from ucl_data_pipeline_spark.plans.similarity import (
    CC_EDGES_SQL_CTES,
    _rep_frames,
    cc_edge_set,
    dedup_connected_components,
    dedup_minhash_lsh,
)
from ucl_data_pipeline_spark.plans.stats import (
    _QUALITY_ORACLE,
    _SQL_SHINGLES,
    _SQL_STOPLIST,
    _SQL_TOKS,
    _STOPWORDS,
    quality_scores,
)
from ucl_data_pipeline_spark.sources.io import fan_out, read_table, stats_barrier


# simhash_signatures is registered further down, next to dedup_simhash:
# both share the md5-nibble bit source (oracle-expressible) and its
# packed-vote aggregation helper.


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_TOKEN_STATS_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
)
SELECT
  doc_id,
  CAST(len(toks) AS INTEGER) AS n_tokens,
  CAST(len(list_distinct(toks)) AS INTEGER) AS n_uniq_tokens,
  CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)
    / CAST(len(toks) AS DOUBLE) AS avg_token_len,
  CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
    AS type_token_ratio
FROM tok
"""


@register("text_token_stats", oracle=_TOKEN_STATS_ORACLE, tags=("text", "llm"))
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting & lexical-diversity stats per document — all
    higher-order array expressions, no tokenizer UDF.
    """
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.token_count("text").alias("n_tokens"),
        F.size(TX.distinct_tokens("text")).alias("n_uniq_tokens"),
        TX.avg_token_len("text").alias("avg_token_len"),
        TX.type_token_ratio("text").alias("type_token_ratio"),
    )


# BPE-ish pre-tokenizer regex (GPT-2-style word/number/punct pieces
# with leading-space absorption), restricted to syntax Java regex and
# DuckDB's RE2 interpret identically.
_BPE_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"

_BPE_COUNT_ORACLE = rf"""
SELECT
  doc_id,
  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
  CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS INTEGER) AS n_bpe_tokens,
  CAST(n_chars AS DOUBLE)
    / CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS DOUBLE)
    AS chars_per_bpe_token
FROM documents
"""


@register("bpe_token_count", oracle=_BPE_COUNT_ORACLE, tags=("text", "llm"))
def bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish
    pre-tokenizer regex (the cheap proxy for real tokenizer counts when
    budgeting LLM training data). chars-per-token is the usual
    compression-ratio quality signal. Pure regexp_extract_all — JVM
    regex, codegen'd, no tokenizer UDF; a real BPE vocab would run as a
    pandas_udf over Arrow batches.
    """
    d = read_table(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all("text", F.lit(_BPE_PATTERN), F.lit(0))
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.size(bpe).alias("n_bpe_tokens"),
        (F.col("n_chars").cast("double") / F.size(bpe).cast("double")).alias(
            "chars_per_bpe_token"
        ),
    )


@register("text_quality_score", oracle=_QUALITY_ORACLE, tags=("text", "llm"))
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: length, lexical diversity, stopword
    density, punctuation ratio — the standard pre-training filter
    signals, combined into one [0,1] score.
    """
    return quality_scores(spark, sf_dir)


_LANG_SETS = {
    "en": ["the", "a", "and", "of", "is", "to"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "y", "es"],
}


def _sql_hits(lang: str) -> str:
    lst = "[" + ", ".join(f"'{w}'" for w in _LANG_SETS[lang]) + "]"
    return f"len(list_filter(toks, t -> list_contains({lst}, t)))"


_LANG_ID_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, lang, {_SQL_TOKS} AS toks FROM documents
), hits AS (
  SELECT doc_id, lang,
    {_sql_hits('en')} AS h_en,
    {_sql_hits('de')} AS h_de,
    {_sql_hits('fr')} AS h_fr,
    {_sql_hits('es')} AS h_es
  FROM tok
)
SELECT
  doc_id,
  lang AS labeled_lang,
  CASE
    WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es AND h_en > 0 THEN 'en'
    WHEN h_de >= h_fr AND h_de >= h_es AND h_de > 0 THEN 'de'
    WHEN h_fr >= h_es AND h_fr > 0 THEN 'fr'
    WHEN h_es > 0 THEN 'es'
    ELSE 'und'
  END AS detected_lang
FROM hits
"""


@register("lang_id_heuristic", oracle=_LANG_ID_ORACLE, tags=("text", "llm"))
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-list language ID (argmax over per-language hit counts,
    fixed priority tie-break, 'und' when no list hits). The standard
    cheap LID gate before an expensive model-based one.
    """
    d = read_table(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    h = {k: TX.stopword_hits(toks, v) for k, v in _LANG_SETS.items()}
    detected = (
        F.when(
            (h["en"] >= h["de"]) & (h["en"] >= h["fr"]) & (h["en"] >= h["es"])
            & (h["en"] > 0),
            F.lit("en"),
        )
        .when((h["de"] >= h["fr"]) & (h["de"] >= h["es"]) & (h["de"] > 0), F.lit("de"))
        .when((h["fr"] >= h["es"]) & (h["fr"] > 0), F.lit("fr"))
        .when(h["es"] > 0, F.lit("es"))
        .otherwise(F.lit("und"))
    )
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        detected.alias("detected_lang"),
    )


_TEXT_CLEAN_ORACLE = r"""
SELECT
  doc_id,
  regexp_replace(regexp_replace(lower(trim(text)), '[^a-z0-9 ]', '', 'g'),
                 ' +', ' ', 'g') AS clean_text,
  CAST(length(text) - length(
    regexp_replace(regexp_replace(lower(trim(text)), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g')
  ) AS INTEGER) AS n_chars_removed
FROM documents
"""


@register("text_clean", oracle=_TEXT_CLEAN_ORACLE, tags=("text", "llm"))
def text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text-cleaning stage: lowercase, trim, strip
    non-alphanumerics, collapse whitespace — plus a removed-volume
    audit column (cleaning that silently deletes most of a document is
    a quality signal in itself). Pure codegen'd regexp_replace chain.
    """
    d = read_table(spark, sf_dir, "documents")
    clean = F.regexp_replace(
        F.regexp_replace(F.lower(F.trim("text")), "[^a-z0-9 ]", ""),
        " +",
        " ",
    )
    return d.select(
        "doc_id",
        clean.alias("clean_text"),
        (F.length("text") - F.length(clean)).cast("int").alias("n_chars_removed"),
    )


_PII_ORACLE = r"""
WITH seeded AS (
  SELECT
    doc_id,
    text || ' contact user' || CAST(doc_id AS VARCHAR)
         || '@example.com or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      AS raw_text
  FROM documents
)
SELECT
  doc_id,
  regexp_replace(
    regexp_replace(raw_text, '[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+', '<EMAIL>', 'g'),
    '\+?[0-9]+(-[0-9]+)+', '<PHONE>', 'g') AS redacted,
  CAST(len(regexp_extract_all(raw_text, '[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+'))
    AS INTEGER) AS n_emails,
  CAST(len(regexp_extract_all(raw_text, '\+?[0-9]+(-[0-9]+)+'))
    AS INTEGER) AS n_phones
FROM seeded
"""


@register("pii_redaction", oracle=_PII_ORACLE, tags=("text", "llm"))
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: regex detection and masking of email/phone
    patterns plus per-document detection counts (the audit trail a
    redaction stage must emit). The corpus contains no natural PII, so
    deterministic synthetic contacts are appended first; the operator
    must mask exactly those. Regexes restricted to syntax Java regex
    and RE2 share. At scale this runs as a scan-side projection —
    no shuffle, no Python.
    """
    d = read_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    email_re = "[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+"
    phone_re = r"\+?[0-9]+(-[0-9]+)+"
    seeded = d.select("doc_id", raw.alias("raw_text"))
    redacted = F.regexp_replace(
        F.regexp_replace("raw_text", email_re, "<EMAIL>"),
        phone_re,
        "<PHONE>",
    )
    return seeded.select(
        "doc_id",
        redacted.alias("redacted"),
        F.size(F.regexp_extract_all("raw_text", F.lit(email_re), F.lit(0)))
        .alias("n_emails"),
        F.size(F.regexp_extract_all("raw_text", F.lit(phone_re), F.lit(0)))
        .alias("n_phones"),
    )


_TFIDF_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, UNNEST({_SQL_TOKS}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
),
df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT
    tf.doc_id, tf.term,
    ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
)
SELECT doc_id, term, tfidf FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term
  ) AS rn FROM scored
) WHERE rn <= 3
"""


@register("tfidf_top_terms", oracle=_TFIDF_ORACLE, tags=("text", "llm", "agg"))
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: top-3 terms per document. Term and
    document frequencies are two aggregations over one exploded token
    stream; the df side arrives at the tf⋈df join already hashed on
    term from its groupBy. The document-frequency side grows with
    corpus vocabulary (Heaps' law), so no broadcast hint — AQE
    decides at runtime.
    ln() is transcendental → 6dp rounding per the registry convention.
    """
    ev = read_table(spark, sf_dir, "documents")
    tok = ev.select("doc_id", F.explode(TX.tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = ev.count()
    scored = tf.join(df_, "term").select(
        "doc_id",
        "term",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


def _sql_kgrams(k: int, t: str = "toks") -> str:
    """DuckDB spelling of TX.shingles(toks, k) (space-joined k-gram runs)."""
    gram = " || ' ' || ".join(f"{t}[i+{j + 1}]" for j in range(k))
    return (
        f"CASE WHEN len({t}) >= {k} THEN "
        f"list_transform(generate_series(0, len({t})-{k}), i -> {gram})"
        f" ELSE [] END"
    )


# ---------------------------------------------------------------------------
# Benchmark contamination: n-gram overlap against a held-out set
# ---------------------------------------------------------------------------

# The "benchmark" is a deterministic pseudo-split of the corpus
# (doc_id % 97 == 0) standing in for an external eval set; in production
# the benchmark n-gram table is a separate (small) input. 5-grams are
# the standard contamination unit (long enough to be distinctive).
_CONTAMINATION_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
), gram AS (
  SELECT doc_id, unnest(list_distinct({_sql_kgrams(5)})) AS g FROM tok
), bench AS (
  SELECT DISTINCT g FROM gram WHERE doc_id % 97 = 0
), eval_grams AS (
  SELECT doc_id, g FROM gram WHERE doc_id % 97 <> 0
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_grams FROM eval_grams GROUP BY doc_id
), hits AS (
  SELECT e.doc_id, COUNT(*) AS n_contaminated
  FROM eval_grams e JOIN bench b ON e.g = b.g
  GROUP BY e.doc_id
)
SELECT
  p.doc_id,
  p.n_grams,
  COALESCE(h.n_contaminated, 0) AS n_contaminated,
  CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE) / CAST(p.n_grams AS DOUBLE)
    AS contamination_frac
FROM per_doc p LEFT JOIN hits h ON p.doc_id = h.doc_id
"""


@register(
    "contamination_ngram_overlap",
    oracle=_CONTAMINATION_ORACLE,
    tags=("llm", "text", "join"),
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: per evaluation-corpus document,
    the fraction of its distinct 5-grams that appear anywhere in the
    benchmark split — the decontamination gate every pretraining corpus
    runs before training (n-gram overlap a la GPT-3 appendix C).

    Scale shape: benchmark grams are DISTINCT (set semantics), so the
    gram-key equi-join emits at most one row per eval gram — bounded by
    the eval side, no amplification; per-doc ratios are one hash-agg.
    The benchmark side is small in practice and broadcast by AQE.
    """

    d = fan_out(read_table(spark, sf_dir, "documents").select("doc_id", "text"))
    # 5-grams are equality keys only (bench-set semi-join + counts) —
    # shuffle xxhash64 digests, not ~40-byte strings (collision-safe
    # at 64 bits; the string-keyed oracle is the collision check).
    gram = d.select(
        "doc_id",
        F.explode(F.array_distinct(TX.shingles(TX.tokens("text"), 5))).alias("g"),
    ).select("doc_id", F.xxhash64("g").alias("g"))
    bench = gram.filter(F.col("doc_id") % 97 == 0).select("g").distinct()
    eval_grams = gram.filter(F.col("doc_id") % 97 != 0)
    per_doc = eval_grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    hits = (
        eval_grams.join(bench, "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated"))
    )
    return (
        per_doc.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            (
                F.coalesce("n_contaminated", F.lit(0)).cast("double")
                / F.col("n_grams").cast("double")
            ).alias("contamination_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Training-sequence packing
# ---------------------------------------------------------------------------

_PACK_BUDGET = 512

_PACK_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, source, len({_SQL_TOKS}) AS n_tokens FROM documents
), cum AS (
  SELECT doc_id, source, n_tokens,
    SUM(n_tokens) OVER (
      PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS cum_tokens
  FROM tok
)
SELECT
  doc_id, source, CAST(n_tokens AS INTEGER) AS n_tokens,
  CAST(FLOOR((cum_tokens - n_tokens) / {_PACK_BUDGET}.0) AS INTEGER) AS pack_id,
  CAST(ROW_NUMBER() OVER (
    PARTITION BY source, FLOOR((cum_tokens - n_tokens) / {_PACK_BUDGET}.0)
    ORDER BY doc_id
  ) AS INTEGER) AS pack_pos
FROM cum
"""


@register("pack_sequences_greedy", oracle=_PACK_ORACLE, tags=("llm", "window"))
def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming contiguous packing of documents into fixed token-budget
    training sequences: within each shard (``source``), documents are
    laid end-to-end in doc_id order and a document belongs to the pack
    in which it STARTS (cumulative-sum window ÷ budget) — the
    deterministic, windowed equivalent of concat-and-split packing used
    to build pretraining batches.

    Scale shape: the window partitions by shard, so no global sort —
    each shard packs independently (exactly how a distributed tokenizer
    shards work); one shuffle on ``source``.
    """
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", TX.token_count("text").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = d.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    pack_id = F.floor(
        (F.col("cum_tokens") - F.col("n_tokens")) / float(_PACK_BUDGET)
    ).cast("int")
    with_pack = cum.withColumn("pack_id", pack_id)
    w_pos = Window.partitionBy("source", "pack_id").orderBy("doc_id")
    return with_pack.select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "pack_id",
        F.row_number().over(w_pos).cast("int").alias("pack_pos"),
    )


# ---------------------------------------------------------------------------
# Repetition scoring
# ---------------------------------------------------------------------------

_REPETITION_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
), tri AS (
  SELECT doc_id, {_sql_kgrams(3)} AS grams FROM tok
)
SELECT
  doc_id,
  CAST(len(grams) AS INTEGER) AS n_trigrams,
  CAST(len(list_distinct(grams)) AS INTEGER) AS n_unique,
  CASE WHEN len(grams) > 0
       THEN CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE)
            / CAST(len(grams) AS DOUBLE)
       ELSE 0.0 END AS dup_frac
FROM tri
"""


@register("repetition_score", oracle=_REPETITION_ORACLE, tags=("llm", "text"))
def repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition: fraction of trigram instances that
    are repeats of an earlier trigram — the standard boilerplate /
    degenerate-text filter signal (repeated n-gram ratios, Rae et al.
    Gopher §A.1.1). Pure array expressions; fan_out because shingling
    is CPU-bound and the testdata scan arrives as one split (A/B: 2.9 s
    → 0.6 s at sf0.01).
    """

    d = fan_out(read_table(spark, sf_dir, "documents").select("doc_id", "text"))
    grams = TX.shingles(TX.tokens("text"), 3)
    n = F.size(grams)
    nu = F.size(F.array_distinct(grams))
    return d.select(
        "doc_id",
        n.cast("int").alias("n_trigrams"),
        nu.cast("int").alias("n_unique"),
        F.when(n > 0, (n - nu).cast("double") / n.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    )


# ---------------------------------------------------------------------------
# Unigram entropy (perplexity proxy)
# ---------------------------------------------------------------------------

_ENTROPY_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
), cnt AS (
  SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok
), agg AS (
  SELECT
    doc_id,
    CAST(SUM(c) AS BIGINT) AS n_tokens,
    CAST(SUM(CAST(ROUND(c * log2(c), 6) AS DECIMAL(18,6))) AS DOUBLE) AS s
  FROM cnt GROUP BY doc_id
)
SELECT
  doc_id,
  n_tokens,
  ROUND(log2(n_tokens) - s / n_tokens, 6) AS unigram_entropy
FROM agg
"""


@register("unigram_entropy", oracle=_ENTROPY_ORACLE, tags=("llm", "text"))
def unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram entropy H = log2(n) − (Σ c·log2 c)/n — a
    cheap perplexity proxy: near-zero for degenerate repetition, high
    for diverse text. Quality-filter companion to repetition_score.

    Determinism: the transcendental per-term values are rounded to 6 dp
    and summed EXACTLY in decimal (sum order differs across engines;
    decimal addition is associative), final output rounded to 6 dp —
    the registry's cross-engine convention. Shape: one explode + two
    hash-aggs keyed by doc_id.
    """

    d = fan_out(read_table(spark, sf_dir, "documents").select("doc_id", "text"))
    tok = d.select("doc_id", F.explode(TX.tokens("text")).alias("tok"))
    cnt = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    agg = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.sum(
            F.round(F.col("c") * F.log2("c"), 6).cast("decimal(18,6)")
        )
        .cast("double")
        .alias("s"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        F.round(F.log2("n_tokens") - F.col("s") / F.col("n_tokens"), 6).alias(
            "unigram_entropy"
        ),
    )


# ---------------------------------------------------------------------------
# n-gram language-model statistics
# ---------------------------------------------------------------------------

_BIGRAM_LM_STATS_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
), bg AS (
  SELECT unnest({_sql_kgrams(2)}) AS bigram FROM tok
), cnt AS (
  SELECT bigram, COUNT(*) AS n FROM bg GROUP BY bigram
), w1 AS (
  SELECT split_part(bigram, ' ', 1) AS head, bigram, n,
         SUM(n) OVER (PARTITION BY split_part(bigram, ' ', 1)) AS head_n
  FROM cnt
)
SELECT bigram, n, CAST(n AS DOUBLE) / CAST(head_n AS DOUBLE) AS cond_p
FROM w1
ORDER BY n DESC, bigram
LIMIT 20
"""


@register("bigram_lm_stats", oracle=_BIGRAM_LM_STATS_ORACLE, tags=("llm", "text", "agg"))
def bigram_lm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram statistics: top-20 bigrams by count with the
    conditional probability P(w₂|w₁) = c(w₁w₂)/c(w₁·) — the building
    block of n-gram LM scoring / KenLM-style filtering. Integer counts
    divide exactly in double, so no rounding is needed.

    Shape: one explode + hash-agg keyed by bigram, a window keyed by
    the head token (both partial-aggregated map-side), top-20 via
    TakeOrderedAndProject — no global sort materialization.
    """

    d = fan_out(read_table(spark, sf_dir, "documents").select("text"))
    bg = d.select(F.explode(TX.shingles(TX.tokens("text"), 2)).alias("bigram"))
    cnt = bg.groupBy("bigram").agg(F.count("*").alias("n"))
    head = F.split(F.col("bigram"), " ").getItem(0)
    w = Window.partitionBy(head)
    return (
        cnt.withColumn("head_n", F.sum("n").over(w))
        .select(
            "bigram",
            "n",
            (F.col("n").cast("double") / F.col("head_n").cast("double")).alias(
                "cond_p"
            ),
        )
        .orderBy(F.col("n").desc(), "bigram")
        .limit(20)
    )


_VOCAB_ORACLE = rf"""
WITH tok AS (
  SELECT unnest({_SQL_TOKS}) AS tok FROM documents
), cnt AS (
  SELECT tok, COUNT(*) AS n FROM tok GROUP BY tok
), tot AS (
  SELECT SUM(n) AS total FROM cnt
)
SELECT tok, n,
  CAST(n AS DOUBLE) / CAST(t.total AS DOUBLE) AS share,
  CAST(SUM(n) OVER (ORDER BY n DESC, tok
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       AS DOUBLE) / CAST(t.total AS DOUBLE) AS cum_coverage
FROM cnt CROSS JOIN tot t
ORDER BY n DESC, tok
LIMIT 100
"""


@register("vocab_coverage", oracle=_VOCAB_ORACLE, tags=("llm", "text", "agg"))
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: top-100 tokens by frequency with
    corpus share and CUMULATIVE coverage — the curve that decides
    tokenizer vocab size ("how many types cover 95% of tokens").
    Cumulative sums run over exact integers (cumsum of counts, one
    division at the end), so cross-engine values are bit-identical.

    Shape: one explode + hash-agg keyed by token, a 1-row broadcast
    total, one ranked window — at 100 TB the window only ever sees the
    aggregated vocabulary, not the corpus.
    """


    d = fan_out(read_table(spark, sf_dir, "documents").select("text"))
    cnt = d.select(F.explode(TX.tokens("text")).alias("tok")).groupBy("tok").agg(
        F.count("*").alias("n")
    )
    tot = cnt.agg(F.sum("n").alias("total"))
    w = (
        Window.orderBy(F.col("n").desc(), "tok")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cnt.join(F.broadcast(tot))
        .select(
            "tok",
            "n",
            (F.col("n").cast("double") / F.col("total").cast("double")).alias(
                "share"
            ),
            (
                F.sum("n").over(w).cast("double")
                / F.col("total").cast("double")
            ).alias("cum_coverage"),
        )
        .orderBy(F.col("n").desc(), "tok")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# URL normalization / domain aggregation
# ---------------------------------------------------------------------------

# The synthetic corpus has no URL column, so one is synthesized
# deterministically from keys (the OPERATOR — normalization — is what's
# under test; precedent: fractional_odds synthesizes its odds strings).
_URL_ORACLE = """
WITH raw AS (
  SELECT doc_id,
    'HTTPS://WWW.' || source || '.Example.COM/Docs/' || CAST(doc_id AS VARCHAR)
      || '/?utm_source=feed&ref=' || CAST(doc_id % 7 AS VARCHAR)
      || CASE WHEN doc_id % 3 = 0 THEN '&page=2' ELSE '' END AS url
  FROM documents
), norm AS (
  SELECT doc_id, url,
    lower(regexp_extract(url, '^[A-Za-z]+://(?:[Ww][Ww][Ww]\\.)?([^/?#]+)', 1))
      AS host,
    regexp_replace(regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
                   '/$', '') AS path,
    CASE WHEN doc_id % 3 = 0 THEN 'page=2' ELSE '' END AS kept_query
  FROM raw
)
SELECT doc_id,
       host,
       host || path
         || CASE WHEN kept_query <> '' THEN '?' || kept_query ELSE '' END
         AS canonical_url
FROM norm
"""


@register("url_normalize", oracle=_URL_ORACLE, tags=("text", "llm", "scalar"))
def url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization — the dedup key for crawl corpora: scheme
    and www stripped, host lower-cased, trailing slash removed,
    tracking parameters (utm_*, ref) dropped while real query params
    are kept. Pure regexp projections, scan-side, no shuffle.
    """
    d = read_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://WWW."),
        F.col("source"),
        F.lit(".Example.COM/Docs/"),
        F.col("doc_id").cast("string"),
        F.lit("/?utm_source=feed&ref="),
        (F.col("doc_id") % 7).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("&page=2")).otherwise(F.lit("")),
    )
    host = F.lower(
        F.regexp_extract(url, r"^[A-Za-z]+://(?:[Ww][Ww][Ww]\.)?([^/?#]+)", 1)
    )
    path = F.regexp_replace(
        F.regexp_extract(url, r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1), r"/$", ""
    )
    kept_query = F.when(F.col("doc_id") % 3 == 0, F.lit("page=2")).otherwise(
        F.lit("")
    )
    canonical = F.concat(
        host,
        path,
        F.when(kept_query != "", F.concat(F.lit("?"), kept_query)).otherwise(
            F.lit("")
        ),
    )
    return d.select(
        "doc_id", host.alias("host"), canonical.alias("canonical_url")
    )


# ---------------------------------------------------------------------------
# Data-mixture weighting
# ---------------------------------------------------------------------------

_MIXTURE_ORACLE = rf"""
WITH per_source AS (
  SELECT source, CAST(SUM(len({_SQL_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT SUM(n_tokens) AS total FROM per_source
), scored AS (
  SELECT s.source, s.n_tokens,
         CAST(s.n_tokens AS DOUBLE) / CAST(t.total AS DOUBLE) AS p,
         ROUND(sqrt(CAST(s.n_tokens AS DOUBLE) / CAST(t.total AS DOUBLE)), 6)
           AS p_alpha
  FROM per_source s CROSS JOIN tot t
), denom AS (
  SELECT CAST(SUM(CAST(p_alpha AS DECIMAL(18,6))) AS DOUBLE) AS z FROM scored
)
SELECT s.source, s.n_tokens, s.p,
       ROUND(s.p_alpha / d.z, 6) AS mixture_weight
FROM scored s CROSS JOIN denom d
"""


@register("domain_mixture_weights", oracle=_MIXTURE_ORACLE, tags=("llm", "agg"))
def domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled data-mixture weights per source domain:
    w_i ∝ p_i^α with α=0.5 (square-root upsampling of small domains —
    the standard multilingual/multi-domain rebalancing rule). Token
    shares are exact integer ratios; the transcendental sqrt terms are
    rounded to 6 dp and normalized by their exact decimal sum
    (registry's cross-engine convention).

    Shape: one hash-agg per source + two 1-row broadcasts; scan-side
    token counting.
    """
    d = read_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.sum(TX.token_count("text")).alias("n_tokens")
    )
    tot = per_source.agg(F.sum("n_tokens").alias("total"))
    scored = per_source.join(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("total").cast("double")).alias(
            "p"
        ),
        F.round(
            F.sqrt(
                F.col("n_tokens").cast("double") / F.col("total").cast("double")
            ),
            6,
        ).alias("p_alpha"),
    )
    denom = scored.agg(
        F.sum(F.col("p_alpha").cast("decimal(18,6)")).cast("double").alias("z")
    )
    return scored.join(F.broadcast(denom)).select(
        "source",
        "n_tokens",
        "p",
        F.round(F.col("p_alpha") / F.col("z"), 6).alias("mixture_weight"),
    )


# ---------------------------------------------------------------------------
# Composite curation gate
# ---------------------------------------------------------------------------

_QUALITY_GATE_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
), feat AS (
  SELECT doc_id,
    len(toks) AS n_tokens,
    CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
      AS ttr,
    CASE WHEN len(toks) >= 3 THEN
      CAST(len(toks) - 2 - len(list_distinct(list_transform(
        generate_series(0, len(toks)-3),
        i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS DOUBLE)
      / CAST(len(toks) - 2 AS DOUBLE)
    ELSE 0.0 END AS dup_frac
  FROM tok
)
SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
  CASE
    WHEN n_tokens < 30 THEN 'too_short'
    WHEN dup_frac > 0.3 THEN 'too_repetitive'
    WHEN ttr < 0.3 THEN 'low_diversity'
    ELSE 'keep'
  END AS verdict
FROM feat
"""


@register("quality_filter_pipeline", oracle=_QUALITY_GATE_ORACLE, tags=("llm", "text"))
def quality_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite curation gate — the keep/drop-with-reason decision a
    pretraining pipeline applies per document, composed from the
    engine's quality signals with FIRST-FAILING-RULE semantics (so
    rejection reasons are auditable): minimum length, trigram
    repetition cap, lexical-diversity floor. All scan-side array
    expressions, one projection, no shuffle — the cheapest possible
    full-corpus pass.
    """

    d = fan_out(read_table(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = TX.tokens("text")
    n = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n.cast("double")
    grams = TX.shingles(toks, 3)
    dup_frac = F.when(
        n >= 3,
        (F.size(grams) - F.size(F.array_distinct(grams))).cast("double")
        / F.size(grams).cast("double"),
    ).otherwise(F.lit(0.0))
    verdict = (
        F.when(n < 30, F.lit("too_short"))
        .when(dup_frac > 0.3, F.lit("too_repetitive"))
        .when(ttr < 0.3, F.lit("low_diversity"))
        .otherwise(F.lit("keep"))
    )
    return d.select(
        "doc_id", n.cast("int").alias("n_tokens"), verdict.alias("verdict")
    )


# ---------------------------------------------------------------------------
# Context-window chunking (training-sequence windowing with overlap)
# ---------------------------------------------------------------------------

_CHUNK_W = 32  # window size (tokens)

_CHUNK_S = 24  # stride (8-token overlap)

_CHUNK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
)
SELECT
  t.doc_id,
  CAST(s // {_CHUNK_S} AS INTEGER) AS chunk_id,
  CAST(s AS INTEGER) AS chunk_start,
  CAST(LEAST({_CHUNK_W}, len(t.toks) - s) AS INTEGER) AS n_chunk_tokens,
  array_to_string(
    list_slice(t.toks, s + 1, LEAST(s + {_CHUNK_W}, len(t.toks))), ' ')
    AS chunk_text
FROM t, unnest(generate_series(0, len(t.toks) - 1, {_CHUNK_S})) AS g(s)
"""


@register("doc_chunk_windows", oracle=_CHUNK_ORACLE, tags=("text", "llm"))
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: each document split into overlapping
    {W}-token windows on a {S}-token stride (the training-sequence /
    RAG-passage windowing step). Pure scan-side: tokens → start-offset
    array → one explode; no shuffle, no Python — the chunk fan-out is
    the only row growth, so cost is linear in emitted-token volume at
    any scale. Chunk ids and boundaries are pure arithmetic, so the
    same chunking is reproducible engine-wide.
    """
    d = read_table(spark, sf_dir, "documents")

    # Let-bind the token array (TX._let): referenced inside the
    # per-chunk transform lambda, an inline tokens("text") would be
    # re-split once per emitted chunk — O(len × chunks) per doc.
    def chunks_of(t):
        starts = F.sequence(F.lit(0), F.size(t) - 1, F.lit(_CHUNK_S))
        return F.transform(
            starts,
            lambda s: F.struct(
                s.cast("int").alias("chunk_start"),
                F.least(F.lit(_CHUNK_W), F.size(t) - s).cast("int").alias(
                    "n_chunk_tokens"
                ),
                F.concat_ws(" ", F.slice(t, s + 1, _CHUNK_W)).alias(
                    "chunk_text"
                ),
            ),
        )

    chunk = TX._let(TX.tokens("text"), chunks_of)
    return d.select("doc_id", F.posexplode(chunk).alias("chunk_id", "c")).select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.col("c.chunk_start").alias("chunk_start"),
        F.col("c.n_chunk_tokens").alias("n_chunk_tokens"),
        F.col("c.chunk_text").alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# Deterministic stratified train/val/test split
# ---------------------------------------------------------------------------

_SPLIT_ORACLE = f"""
WITH t AS (
  SELECT
    doc_id,
    source,
    len({_SQL_TOKS}) AS n_toks,
    CASE WHEN {sql_knuth_bucket('doc_id', 100)} < 80 THEN 'train'
         WHEN {sql_knuth_bucket('doc_id', 100)} < 90 THEN 'val'
         ELSE 'test' END AS split
  FROM documents
)
SELECT source, split, COUNT(*) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS n_tokens
FROM t
GROUP BY source, split
"""


@register("train_val_test_split", oracle=_SPLIT_ORACLE, tags=("llm", "agg"))
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split keyed on the
    width-safe Knuth hash of doc_id, reported as per-(source, split)
    document and token counts — the stratification audit a training
    pipeline runs before sharding. The assignment is a pure projection
    (no RNG state, no stored split table): any job at any scale
    re-derives the same membership from the key alone, which is what
    makes held-out contamination checks reproducible across reruns.
    """
    d = read_table(spark, sf_dir, "documents")
    u = knuth_bucket("doc_id", 100)
    split = (
        F.when(u < 80, "train").when(u < 90, "val").otherwise("test")
    )
    return (
        d.select(
            "source",
            split.alias("split"),
            F.size(TX.tokens("text")).cast("long").alias("n_toks"),
        )
        .groupBy("source", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Temperature-based mixture resampling
# ---------------------------------------------------------------------------

_TAU_SQL = "sqrt(CAST(n_s AS DOUBLE))"  # n_s^tau at tau = 0.5

_RESAMPLE_ORACLE = f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source
), weighted AS (
  SELECT source, n_s, ROUND({_TAU_SQL}, 6) AS w_s FROM counts
), totals AS (
  SELECT CAST(SUM(n_s) AS DOUBLE) AS total,
         CAST(SUM(CAST(w_s AS DECIMAL(18,6))) AS DOUBLE) AS w_total
  FROM weighted
), rates AS (
  SELECT w.source,
         LEAST(1.0, w.w_s / t.w_total * (0.5 * t.total) / CAST(w.n_s AS DOUBLE))
           AS a_s
  FROM weighted w CROSS JOIN totals t
)
SELECT d.doc_id, d.source
FROM documents d JOIN rates r ON d.source = r.source
WHERE ({sql_knuth_bucket('d.doc_id', 1000000)} + 0.5) / 1000000.0 < r.a_s
"""


@register("mixture_resample", oracle=_RESAMPLE_ORACLE, tags=("llm",))
def mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture resampling (tau = 0.5, target half the
    corpus): per-source acceptance rate ``min(1, p_s·N/n_s)`` with
    ``p_s ∝ n_s^tau`` — the up/down-weighting step that rebalances
    domain mixtures before training. Acceptance is a hash-derived
    uniform per doc (no RNG state), so the sample is reproducible and
    consistent across engines and reruns.

    Determinism of the rates: per-source weights are rounded to 6 dp
    then summed as exact decimals (a double sum over sources would be
    accumulation-order-dependent), and the rate expression evaluates in
    the identical left-to-right IEEE order on both engines.

    Scale shape: one tiny per-source aggregate broadcast back over the
    scan; acceptance is then a scan-side predicate — the corpus itself
    never shuffles.
    """
    d = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    weighted = d.groupBy("source").agg(F.count("*").alias("n_s")).select(
        "source",
        "n_s",
        F.round(F.sqrt(F.col("n_s").cast("double")), 6).alias("w_s"),
    )
    totals = weighted.agg(
        F.sum("n_s").cast("double").alias("total"),
        F.sum(F.col("w_s").cast("decimal(18,6)")).cast("double").alias("w_total"),
    )
    rates = weighted.crossJoin(F.broadcast(totals)).select(
        "source",
        F.least(
            F.lit(1.0),
            F.col("w_s")
            / F.col("w_total")
            * (0.5 * F.col("total"))
            / F.col("n_s").cast("double"),
        ).alias("a_s"),
    )
    u = (knuth_bucket("doc_id", 1_000_000) + 0.5) / 1_000_000.0
    return (
        d.join(F.broadcast(rates), "source")
        .filter(u < F.col("a_s"))
        .select("doc_id", "source")
    )


# ---------------------------------------------------------------------------
# Decontamination removal step (anti-join companion to the overlap stats)
# ---------------------------------------------------------------------------

_DECON_ORACLE = """
WITH gram AS (
  SELECT doc_id, UNNEST(list_distinct(g5)) AS g FROM (
    SELECT doc_id,
           list_transform(
             generate_series(1, GREATEST(0, len(toks) - 4)),
             i -> array_to_string(list_slice(toks, i, i + 4), ' ')) AS g5,
           toks
    FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
          FROM documents)
  )
), bench AS (
  SELECT DISTINCT g FROM gram WHERE doc_id % 97 = 0
), dirty AS (
  SELECT DISTINCT gram.doc_id
  FROM gram JOIN bench ON gram.g = bench.g
  WHERE gram.doc_id % 97 <> 0
)
SELECT d.doc_id, d.source
FROM documents d
WHERE d.doc_id % 97 <> 0
  AND NOT EXISTS (SELECT 1 FROM dirty WHERE dirty.doc_id = d.doc_id)
"""


@register("decontaminate_docs", oracle=_DECON_ORACLE, tags=("text", "llm", "join"))
def decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL step of benchmark decontamination (companion to
    contamination_ngram_overlap's statistics): training docs that share
    even one distinct 5-gram with the benchmark split (doc_id % 97 = 0)
    are dropped via LEFT ANTI join; survivors pass through. Scale
    shape: benchmark grams are distinct (set semantics, broadcastable
    in practice); the gram equi-join bounds work by eval-gram volume;
    the anti join keys on doc_id only — no text moves through the
    shuffle.
    """

    d = read_table(spark, sf_dir, "documents")
    # 5-grams are equality keys only (bench semi-join) — shuffle
    # xxhash64 digests, not ~40-byte strings (collision-safe at 64
    # bits; the string-keyed oracle is the collision check).
    gram = fan_out(d.select("doc_id", "text")).select(
        "doc_id",
        F.explode(F.array_distinct(TX.shingles(TX.tokens("text"), 5))).alias("g"),
    ).select("doc_id", F.xxhash64("g").alias("g"))
    bench = gram.filter(F.col("doc_id") % 97 == 0).select("g").distinct()
    dirty = (
        gram.filter(F.col("doc_id") % 97 != 0)
        .join(bench, "g")
        .select("doc_id")
        .distinct()
    )
    return (
        d.filter(F.col("doc_id") % 97 != 0)
        .join(dirty, "doc_id", "left_anti")
        .select("doc_id", "source")
    )


# ---------------------------------------------------------------------------
# Character-level near-dup pairs (edit distance within blocks)
# ---------------------------------------------------------------------------

_FUZZY_PREFIX = 16

_FUZZY_HEAD = 120

_FUZZY_MAXDIST = 8

_FUZZY_ORACLE = f"""
WITH n AS (
  SELECT doc_id,
         regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
  FROM documents
), rep AS (  -- collapse byte-identical texts first (round-1 lesson:
             -- near-dup candidate cost must track DISTINCT content)
  SELECT MIN(doc_id) AS doc_id, norm FROM n GROUP BY norm
), b AS (
  SELECT doc_id, norm,
         substr(norm, 1, {_FUZZY_PREFIX}) AS blk_prefix,
         len(norm) // 20 AS blk_len
  FROM rep
)
SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
       CAST(levenshtein(substr(a.norm, 1, {_FUZZY_HEAD}),
                        substr(c.norm, 1, {_FUZZY_HEAD})) AS INTEGER) AS edit_dist
FROM b a
JOIN b c ON a.blk_prefix = c.blk_prefix AND a.blk_len = c.blk_len
        AND a.doc_id < c.doc_id
WHERE levenshtein(substr(a.norm, 1, {_FUZZY_HEAD}),
                  substr(c.norm, 1, {_FUZZY_HEAD})) <= {_FUZZY_MAXDIST}
"""


@register("dedup_fuzzy_edit_distance", oracle=_FUZZY_ORACLE, tags=("text", "llm", "join"))
def dedup_fuzzy_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup mining: byte-identical texts collapse
    to one representative FIRST (exact dedup's job — candidate cost
    must track distinct content, the round-1 near-dup lesson), then
    candidate pairs are blocked on (16-char normalized prefix,
    length/20 bucket) — an equi-join, never all-pairs — and Levenshtein
    distance on the 120-char head filters to pairs within 8 edits. The
    character-level complement to the token-level families
    (MinHash/SimHash/Jaccard): catches small typo edits that leave
    whole tokens intact. Scale: rep-collapse bounds replicated-text
    blowup (measured 2.84x at 10x before, 1.0x after); block keys bound
    the candidate set like LSH bands; the distance (quadratic in string
    length) runs on fixed-length heads only.
    """
    d = read_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    rep = (
        d.select("doc_id", norm.alias("norm"))
        .groupBy("norm")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    b = rep.select(
        "doc_id",
        F.substring(F.col("norm"), 1, _FUZZY_HEAD).alias("head"),
        F.substring(F.col("norm"), 1, _FUZZY_PREFIX).alias("blk_prefix"),
        F.floor(F.length(F.col("norm")) / 20).alias("blk_len"),
    )
    a = b.select(
        F.col("doc_id").alias("doc_a"),
        F.col("head").alias("head_a"),
        "blk_prefix",
        "blk_len",
    )
    c = b.select(
        F.col("doc_id").alias("doc_b"),
        F.col("head").alias("head_b"),
        F.col("blk_prefix").alias("bp2"),
        F.col("blk_len").alias("bl2"),
    )
    dist = F.levenshtein("head_a", "head_b")
    return (
        a.join(
            c,
            (F.col("blk_prefix") == F.col("bp2"))
            & (F.col("blk_len") == F.col("bl2"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .filter(dist <= _FUZZY_MAXDIST)
        .select("doc_a", "doc_b", dist.cast("int").alias("edit_dist"))
    )


# ---------------------------------------------------------------------------
# Inverted-index postings
# ---------------------------------------------------------------------------

_POSTINGS_MIN_DF = 25

_POSTINGS_CAP = 10

_POSTINGS_ORACLE = f"""
WITH tok AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
    FROM documents
  )
)
SELECT token,
       COUNT(*) AS df,
       array_to_string(list_slice(list_sort(list(doc_id)), 1, {_POSTINGS_CAP}),
                       ',') AS postings_head
FROM tok
GROUP BY token
HAVING COUNT(*) >= {_POSTINGS_MIN_DF}
"""


@register("inverted_index_postings", oracle=_POSTINGS_ORACLE, tags=("llm", "text"))
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction over the corpus: token → document
    frequency + the first 10 doc ids of the sorted posting
    list (serialized; registry's atomic-output convention), for tokens
    with df ≥ 25. The core retrieval/contamination-
    lookup structure a text pipeline materializes beside the corpus.

    Scale: scan-side tokenize + explode, ONE hash-agg keyed by token
    (distinct (doc, token) pairs collapse map-side), posting lists
    capped with ``slice`` AFTER ``array_sort`` so the serialized head
    is deterministic under any partitioning. The df floor keeps output
    bounded by vocabulary, and the explicit cap means no unbounded
    collect_list state for stop-word-frequency tokens at 100 TB —
    at real scale the cap would move into a windowed top-n per token
    before the collect; the df≥25 floor plus 10-head keeps this single-agg form honest here.
    """
    d = read_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(TX.distinct_tokens("text")).alias("token")
    )
    return (
        tok.groupBy("token")
        .agg(
            F.count("*").alias("df"),
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(
                        F.array_sort(F.collect_list("doc_id")), 1, _POSTINGS_CAP
                    ),
                    lambda x: x.cast("string"),
                ),
            ).alias("postings_head"),
        )
        .filter(F.col("df") >= _POSTINGS_MIN_DF)
    )


_N_SHARDS = 8

# Per-(doc, shard) weight: the width-safe Knuth hash of a key derived
# from both ids; argmax over shards with lowest-shard tie-break.
_RDV_W = sql_knuth_bucket("d.doc_id * 31 + s.shard", 1_000_000)


def rendezvous_pick(d: DataFrame, n_shards: int) -> DataFrame:
    """(doc_id, shard) assignment by highest-random-weight hashing —
    factored out so the minimal-relocation property (dropping a shard
    moves ONLY the docs that lived on it) is unit-testable across
    shard counts (tests/test_round4.py)."""
    spark = d.sparkSession
    shards = spark.range(n_shards).select(F.col("id").cast("int").alias("shard"))
    w = d.crossJoin(F.broadcast(shards)).select(
        "doc_id",
        "shard",
        knuth_bucket(
            F.col("doc_id") * 31 + F.col("shard"), 1_000_000
        ).alias("wt"),
    )

    win = Window.partitionBy("doc_id").orderBy(F.desc("wt"), "shard")
    return (
        w.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select("doc_id", "shard")
    )


_RDV_ORACLE = f"""
WITH s AS (
  SELECT unnest(generate_series(0, {_N_SHARDS - 1})) AS shard
), w AS (
  SELECT d.doc_id, s.shard, {_RDV_W} AS wt
  FROM documents d CROSS JOIN s
), pick AS (
  SELECT doc_id, shard
  FROM w
  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY wt DESC, shard) = 1
)
SELECT shard,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM pick
GROUP BY shard
"""


@register("shard_assignment_rendezvous", oracle=_RDV_ORACLE, tags=("llm", "agg"))
def shard_assignment_rendezvous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) shard placement: each doc
    goes to the shard maximizing a per-(doc, shard) hash weight —
    per-shard counts + id ranges as the placement audit. The property
    that matters at 100 TB: adding/removing ONE shard relocates only
    ~1/N of keys (each doc moves only if the new shard wins its
    argmax), versus mod-N hashing which relocates almost everything —
    this is how an engine re-shards a corpus, a feature store, or an
    ANN index incrementally.

    Shape: the weight table is a narrow projection of doc_id over a
    {_N_SHARDS}-row broadcast grid (no data shuffle to score), the
    argmax is a window keyed by doc_id, and the audit is one hash-agg.
    Deterministic: hash-derived weights (no RNG), lowest-shard
    tie-break, same width-safe arithmetic on both engines.
    """
    d = read_table(spark, sf_dir, "documents").select("doc_id")
    pick = rendezvous_pick(d, _N_SHARDS)
    return pick.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


# ---------------------------------------------------------------------------
# Pointwise mutual information of co-occurring token pairs
# ---------------------------------------------------------------------------

_PMI_MIN_DF = 25

_PMI_MAX_DF = 450

_PMI_MIN_CO = 50

_PMI_ORACLE = f"""
WITH tok AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
    FROM documents
  )
), df AS (
  SELECT token, COUNT(*) AS df FROM tok GROUP BY token
  HAVING COUNT(*) BETWEEN {_PMI_MIN_DF} AND {_PMI_MAX_DF}
), keep AS (
  SELECT t.doc_id, t.token FROM tok t JOIN df USING (token)
), pairs AS (
  SELECT a.token AS tok_a, b.token AS tok_b, COUNT(*) AS co
  FROM keep a JOIN keep b
    ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_PMI_MIN_CO}
), n AS (
  SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tok
)
SELECT p.tok_a, p.tok_b, p.co,
       ROUND(log2(CAST(p.co AS DOUBLE) * n.n_docs
                  / (CAST(da.df AS DOUBLE) * db.df)), 6) AS pmi
FROM pairs p
JOIN df da ON da.token = p.tok_a
JOIN df db ON db.token = p.tok_b
CROSS JOIN n
"""


@register("token_pmi_pairs", oracle=_PMI_ORACLE, tags=("llm", "text", "agg"))
def token_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of document-level token
    co-occurrence: PMI(a,b) = log2(co·N / (df_a·df_b)) for mid-df
    tokens (df in [_PMI_MIN_DF, _PMI_MAX_DF] = [25, 450] — stop words
    excluded by the ceiling, noise by the floor) with co-occurrence
    ≥ _PMI_MIN_CO = 50. The classical collocation /
    phrase-mining signal a text pipeline feeds into tokenizer-merge or
    feature engineering decisions.

    Scale: the df window is the quadratic-blowup guard — pairing runs
    only over informative tokens (same principle as
    jaccard_shingle_pairs' stop-shingle cap), keyed by doc_id in ONE
    co-partitioned self-join; counts are exact integers so the single
    log2 expression is cross-engine deterministic at 6 dp. df and N
    are broadcast-sized side tables.
    """
    d = read_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(TX.distinct_tokens("text")).alias("token")
    )
    df_t = (
        tok.groupBy("token")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df").between(_PMI_MIN_DF, _PMI_MAX_DF))
    )
    keep = tok.join(F.broadcast(df_t.select("token")), "token")
    a = keep.select(F.col("doc_id").alias("k"), F.col("token").alias("tok_a"))
    b = keep.select(F.col("doc_id").alias("k"), F.col("token").alias("tok_b"))
    pairs = (
        a.join(b, "k")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count("*").alias("co"))
        .filter(F.col("co") >= _PMI_MIN_CO)
    )
    n_docs = tok.select("doc_id").distinct().count()
    da = df_t.select(F.col("token").alias("tok_a"), F.col("df").alias("df_a"))
    db = df_t.select(F.col("token").alias("tok_b"), F.col("df").alias("df_b"))
    return (
        pairs.join(F.broadcast(da), "tok_a")
        .join(F.broadcast(db), "tok_b")
        .select(
            "tok_a",
            "tok_b",
            "co",
            F.round(
                F.log2(
                    F.col("co").cast("double")
                    * F.lit(n_docs)
                    / (F.col("df_a").cast("double") * F.col("df_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus bigram LM scoring (add-one smoothing, avg bigram probability)
# ---------------------------------------------------------------------------

_DOC_BIGRAM_LIKELIHOOD_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
), bg AS (
  SELECT doc_id,
         toks[i] AS w1, toks[i + 1] AS w2
  FROM tok, UNNEST(range(1, len(toks))) AS t(i)
  WHERE len(toks) >= 2
), c2 AS (
  SELECT w1, w2, COUNT(*) AS n2 FROM bg GROUP BY w1, w2
), c1 AS (
  SELECT w1, COUNT(*) AS n1 FROM bg GROUP BY w1
), v AS (
  SELECT COUNT(DISTINCT w1) AS vocab FROM (
    SELECT w1 FROM bg UNION ALL SELECT w2 FROM bg
  )
)
SELECT bg.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(CAST(SUM(CAST(
           CAST(c2.n2 + 1 AS DOUBLE) / CAST(c1.n1 + v.vocab AS DOUBLE)
           AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*), 6)
         AS avg_bigram_prob
FROM bg
JOIN c2 ON c2.w1 = bg.w1 AND c2.w2 = bg.w2
JOIN c1 ON c1.w1 = bg.w1
CROSS JOIN v
GROUP BY bg.doc_id
"""


@register("doc_bigram_likelihood", oracle=_DOC_BIGRAM_LIKELIHOOD_ORACLE, tags=("llm", "text"))
def doc_bigram_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document under a corpus bigram language model with
    add-one smoothing: p(w₂|w₁) = (c(w₁,w₂)+1)/(c(w₁)+V), reported as
    the per-document mean bigram probability — the fluency/typicality
    signal a training-data pipeline uses to rank text quality (the
    arithmetic-mean form keeps the statistic oracle-exact; perplexity
    is a monotone transform of the same joins).

    Determinism: each p is one double division of exact integers
    (bit-identical both engines); the per-doc sum accumulates in
    DECIMAL(18,12) so partition order can't perturb it; final mean
    ROUND 6.

    Scale: bigram instances are scan-side (one explode); the model
    tables c2/c1 are hash-aggs keyed by the bigram/unigram; scoring is
    two equi-joins keyed the same way — the c2 join reuses the bigram
    shuffle partitioning. V is a 1-row broadcast. Hot-token skew in the
    c1 join is the AQE skew-join case. State is O(model), not O(corpus).
    """
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select("doc_id", TX.tokens("text").alias("toks")).filter(
        F.size("toks") >= 2
    )
    # One scan-side explode of zipped adjacent-token pairs — no join in
    # the bigram-construction path.
    bg = toks.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("toks", 1, F.size("toks") - 1),
                F.expr("slice(toks, 2, size(toks) - 1)"),
            )
        ).alias("z"),
    ).select(
        "doc_id", F.col("z.0").alias("w1"), F.col("z.1").alias("w2")
    )
    bg = bg.persist()
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("n2"))
    c1 = bg.groupBy("w1").agg(F.count("*").alias("n1"))
    v = (
        bg.select(F.col("w1").alias("w"))
        .unionAll(bg.select(F.col("w2").alias("w")))
        .agg(F.countDistinct("w").alias("vocab"))
    )
    p = (F.col("n2") + 1).cast("double") / (F.col("n1") + F.col("vocab")).cast(
        "double"
    )
    return (
        bg.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.sum(p.cast("decimal(18,12)")).cast("double") / F.count("*"),
                6,
            ).alias("avg_bigram_prob"),
        )
    )


# ---------------------------------------------------------------------------
# Classifier evaluation: language-ID confusion counts + per-class F1
# ---------------------------------------------------------------------------

_LANGID_F1_ORACLE = f"""
WITH preds AS ({_LANG_ID_ORACLE}),
pairs AS (
  SELECT labeled_lang, detected_lang, COUNT(*) AS n
  FROM preds GROUP BY 1, 2
),
classes AS (
  SELECT DISTINCT labeled_lang AS cls FROM pairs
  UNION
  SELECT DISTINCT detected_lang FROM pairs
)
SELECT c.cls,
  CAST(COALESCE(SUM(CASE WHEN p.labeled_lang = c.cls
                          AND p.detected_lang = c.cls THEN p.n END), 0)
       AS BIGINT) AS tp,
  CAST(COALESCE(SUM(CASE WHEN p.detected_lang = c.cls
                          AND p.labeled_lang <> c.cls THEN p.n END), 0)
       AS BIGINT) AS fp,
  CAST(COALESCE(SUM(CASE WHEN p.labeled_lang = c.cls
                          AND p.detected_lang <> c.cls THEN p.n END), 0)
       AS BIGINT) AS fn,
  ROUND(CAST(COALESCE(SUM(CASE WHEN p.labeled_lang = c.cls
                       AND p.detected_lang = c.cls THEN p.n END), 0) AS DOUBLE)
        / NULLIF(SUM(CASE WHEN p.detected_lang = c.cls THEN p.n END), 0), 6)
    AS precision_,
  ROUND(CAST(COALESCE(SUM(CASE WHEN p.labeled_lang = c.cls
                       AND p.detected_lang = c.cls THEN p.n END), 0) AS DOUBLE)
        / NULLIF(SUM(CASE WHEN p.labeled_lang = c.cls THEN p.n END), 0), 6)
    AS recall_,
  ROUND(2.0 * CAST(COALESCE(SUM(CASE WHEN p.labeled_lang = c.cls
                             AND p.detected_lang = c.cls THEN p.n END), 0) AS DOUBLE)
        / NULLIF(SUM(CASE WHEN p.detected_lang = c.cls THEN p.n END)
                 + SUM(CASE WHEN p.labeled_lang = c.cls THEN p.n END), 0), 6)
    AS f1
FROM classes c CROSS JOIN pairs p
GROUP BY c.cls
"""


@register("langid_confusion_f1", oracle=_LANGID_F1_ORACLE, tags=("llm", "stats", "gate"))
def langid_confusion_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluate the language-ID heuristic against the labeled lang
    column: per-class true/false positives, false negatives, precision,
    recall, and F1 (computed as 2·TP/(pred_pos+actual_pos) — the
    division-order-free spelling). The quality gate for the engine's
    own classifier, same philosophy as the ANN-recall and MinHash-error
    gates: model QUALITY is a registered, driver-hashable query.
    Classes with no predictions get NULL precision (both engines).

    Scale: the predictions query is one scan-side pass (see
    lang_id_heuristic); the confusion matrix collapses it to ≤
    |classes|² rows before any join; per-class rollup is a broadcast
    cross of ≤6 classes × the tiny pair table.
    """
    preds = lang_id_heuristic(spark, sf_dir)
    pairs = preds.groupBy("labeled_lang", "detected_lang").agg(
        F.count("*").alias("n")
    )
    classes = (
        pairs.select(F.col("labeled_lang").alias("cls"))
        .union(pairs.select("detected_lang"))
        .distinct()
    )
    # classes derives from pairs; rename the pair columns so the cross
    # join below isn't an ambiguous self-join on shared attributes.
    pr = pairs.select(
        F.col("labeled_lang").alias("pl"),
        F.col("detected_lang").alias("pd"),
        "n",
    )
    pl, pd_ = F.col("pl"), F.col("pd")
    tp = F.sum(
        F.when((pl == F.col("cls")) & (pd_ == F.col("cls")), F.col("n"))
    )
    pred_pos = F.sum(F.when(pd_ == F.col("cls"), F.col("n")))
    actual_pos = F.sum(F.when(pl == F.col("cls"), F.col("n")))
    fp = F.sum(
        F.when((pd_ == F.col("cls")) & (pl != F.col("cls")), F.col("n"))
    )
    fn = F.sum(
        F.when((pl == F.col("cls")) & (pd_ != F.col("cls")), F.col("n"))
    )
    return (
        classes.crossJoin(F.broadcast(pr))
        .groupBy("cls")
        .agg(
            F.coalesce(tp, F.lit(0)).cast("long").alias("tp"),
            F.coalesce(fp, F.lit(0)).cast("long").alias("fp"),
            F.coalesce(fn, F.lit(0)).cast("long").alias("fn"),
            F.round(
                F.coalesce(tp, F.lit(0)).cast("double")
                / F.nullif(pred_pos, F.lit(0)),
                6,
            ).alias("precision_"),
            F.round(
                F.coalesce(tp, F.lit(0)).cast("double")
                / F.nullif(actual_pos, F.lit(0)),
                6,
            ).alias("recall_"),
            F.round(
                2.0
                * F.coalesce(tp, F.lit(0)).cast("double")
                / F.nullif(pred_pos + actual_pos, F.lit(0)),
                6,
            ).alias("f1"),
        )
    )


# ---------------------------------------------------------------------------
# Largest-remainder (Hamilton) apportionment of a sampling budget
# ---------------------------------------------------------------------------

_APPORTION_BUDGET = 10_000

_APPORTION_ORACLE = f"""
WITH cnt AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
),
tot AS (SELECT SUM(n_docs) AS total FROM cnt),
shares AS (
  SELECT source, n_docs,
         (n_docs * {_APPORTION_BUDGET}) // total AS floor_seats,
         (n_docs * {_APPORTION_BUDGET}) % total AS remainder
  FROM cnt, tot
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY remainder DESC, source) AS rem_rank,
         SUM(floor_seats) OVER () AS floor_total
  FROM shares
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(floor_seats
            + CASE WHEN rem_rank <= {_APPORTION_BUDGET} - floor_total
                   THEN 1 ELSE 0 END AS BIGINT) AS quota
FROM ranked
"""


@register(
    "largest_remainder_apportion", oracle=_APPORTION_ORACLE, tags=("llm", "sampling")
)
def largest_remainder_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment: split a fixed
    sampling budget across document sources proportionally to corpus
    counts, with the integer leftovers going to the largest fractional
    remainders (tie-broken by source name). This is the deterministic
    integer allocator a training-data mixer needs BEFORE
    mixture_resample can draw per-source quotas: quotas sum to the
    budget exactly, no float drift, reproducible across engines.

    All arithmetic is integer (scaled products, `div`/`pmod`) — no
    floating shares anywhere. The windows are keyless but run on the
    per-source aggregate (domain-bounded: one row per source, ~20),
    after the only fact-table pass (the count). At 100 TB the count is
    a map-side-combined hash-agg; everything after is driver-trivial.
    """
    d = read_table(spark, sf_dir, "documents")
    cnt = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    tot = cnt.agg(F.sum("n_docs").alias("total"))
    scaled = F.col("n_docs") * F.lit(_APPORTION_BUDGET)
    shares = cnt.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.expr(f"(n_docs * {_APPORTION_BUDGET}) div total").alias("floor_seats"),
        F.pmod(scaled, F.col("total")).alias("remainder"),
    )
    w_all = Window.partitionBy(F.lit(1))
    ranked = shares.select(
        "source",
        "n_docs",
        "floor_seats",
        F.row_number()
        .over(w_all.orderBy(F.col("remainder").desc(), "source"))
        .alias("rem_rank"),
        F.sum("floor_seats").over(w_all).alias("floor_total"),
    )
    return ranked.select(
        "source",
        "n_docs",
        (
            F.col("floor_seats")
            + F.when(
                F.col("rem_rank")
                <= F.lit(_APPORTION_BUDGET) - F.col("floor_total"),
                1,
            ).otherwise(0)
        ).alias("quota"),
    )


# ---------------------------------------------------------------------------
# Flesch-style readability scores
# ---------------------------------------------------------------------------

_READABILITY_ORACLE = r"""
WITH counts AS (
  SELECT doc_id,
         len(string_split_regex(lower(trim(text)), '\s+')) AS n_words,
         GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
  FROM documents
)
SELECT doc_id,
       CAST(n_words AS INTEGER) AS n_words,
       CAST(n_sentences AS INTEGER) AS n_sentences,
       CAST(n_syllables AS INTEGER) AS n_syllables,
       ROUND(206.835
             - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
             - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 6)
         AS flesch_ease
FROM counts
"""


@register("readability_scores", oracle=_READABILITY_ORACLE, tags=("text", "llm"))
def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document from surface counts: words
    (whitespace tokens), sentences (terminal-punctuation runs, floored
    at 1), and syllables approximated as vowel-group runs — the
    standard dictionary-free estimator. Joins text_quality_score in
    the quality-filter family: readability is the classic cheap prior
    for "is this prose or junk" in a training-data pipeline.

    Determinism: the formula is a fixed expression tree over integer
    counts and literal constants — both engines evaluate the identical
    double operations; ROUND 6 caps printing drift. Scale: pure
    scan-side regexp counting, no shuffle at all.
    """
    d = read_table(spark, sf_dir, "documents")
    n_words = F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), 0)), F.lit(1)
    )
    n_syll = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[aeiouy]+"), 0)
    )
    return d.select(
        "doc_id",
        n_words.cast("int").alias("n_words"),
        n_sent.cast("int").alias("n_sentences"),
        n_syll.cast("int").alias("n_syllables"),
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * (n_words.cast("double") / n_sent)
            - F.lit(84.6) * (n_syll.cast("double") / n_words),
            6,
        ).alias("flesch_ease"),
    )


# ---------------------------------------------------------------------------
# Deterministic per-epoch shuffle sharding
# ---------------------------------------------------------------------------

_SHUFFLE_EPOCHS = 3

_SHUFFLE_SHARDS = 8

_EPOCH_SHUFFLE_ORACLE = f"""
WITH assign AS (
  SELECT e.epoch, d.doc_id,
         CAST(('0x' || substr(md5(e.epoch || ':' || d.doc_id), 1, 8))::BIGINT
              % {_SHUFFLE_SHARDS} AS INTEGER) AS shard
  FROM documents d,
       (SELECT unnest(generate_series(0, {_SHUFFLE_EPOCHS - 1})) AS epoch) e
)
SELECT CAST(epoch AS INTEGER) AS epoch, shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_ids
FROM assign GROUP BY epoch, shard
"""


@register(
    "epoch_shuffle_shards", oracle=_EPOCH_SHUFFLE_ORACLE, tags=("llm", "sampling")
)
def epoch_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch shuffle sharding for training-data
    loading: shard(doc, epoch) = md5(epoch ‖ ':' ‖ doc_id) mod S —
    every epoch re-deals the corpus into different shards (breaking
    order correlations between epochs) while staying fully
    reproducible from (doc_id, epoch) alone: any worker can recompute
    its shard membership without a stored permutation, which is the
    property that matters when the permutation itself would be a
    100 TB table. The per-(epoch, shard) count and id-sum fingerprint
    the deal so drift in the hash path is driver-visible.

    Scale: a scan-side hash projection and one hash-agg; the ×E epoch
    fan-out multiplies rows by a small constant (here 3). The md5
    prefix is decoded as 8 hex chars → 32-bit int, identical integer
    arithmetic in both engines.
    """
    d = read_table(spark, sf_dir, "documents")
    epochs = F.explode(
        F.array(*[F.lit(i) for i in range(_SHUFFLE_EPOCHS)])
    ).alias("epoch")
    assign = d.select("doc_id", epochs).select(
        "epoch",
        "doc_id",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.col("epoch"), F.col("doc_id"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint"),
            F.lit(_SHUFFLE_SHARDS),
        )
        .cast("int")
        .alias("shard"),
    )
    return assign.groupBy(
        F.col("epoch").cast("int").alias("epoch"), "shard"
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").alias("sum_doc_ids"),
    )


# ---------------------------------------------------------------------------
# Language mix per source (+ per-source language entropy)
# ---------------------------------------------------------------------------

_LANG_MIX_ORACLE = """
WITH counts AS (
  SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY source, lang
),
totals AS (
  SELECT source, SUM(n) AS total FROM counts GROUP BY source
),
ent AS (
  SELECT c.source,
         CAST(SUM(CAST(
           ROUND(-(CAST(c.n AS DOUBLE) / t.total)
                 * LN(CAST(c.n AS DOUBLE) / t.total), 6)
           AS DECIMAL(18,6))) AS DOUBLE) AS lang_entropy
  FROM counts c JOIN totals t USING (source)
  GROUP BY c.source
)
SELECT c.source, c.lang, CAST(c.n AS BIGINT) AS n_docs,
       ROUND(CAST(c.n AS DOUBLE) / t.total, 6) AS share,
       e.lang_entropy
FROM counts c
JOIN totals t USING (source)
JOIN ent e ON e.source = c.source
"""


@register("doc_language_mix", oracle=_LANG_MIX_ORACLE, tags=("llm", "text", "agg"))
def doc_language_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus language-mix profile: per (source, language) the doc
    count and share, each row carrying its source's language ENTROPY
    (nats) — the one-glance diagnostic for multilingual curation
    (entropy ≈ 0 → monolingual source; high → mixed, needs per-lang
    quotas before domain_mixture_weights runs). Shares are divisions
    of exact integers; entropy terms take LN on those identical
    ratios, ROUND-6 per term, decimal-summed. Two hash-aggs on
    collapsing grains + broadcast-sized joins keyed by source —
    output is (source × lang)-bounded, constant at any corpus scale.
    """
    d = read_table(spark, sf_dir, "documents")
    counts = d.groupBy("source", "lang").agg(F.count("*").alias("n"))
    totals = counts.groupBy("source").agg(F.sum("n").alias("total"))
    joined = counts.join(F.broadcast(totals), "source")
    p = F.col("n").cast("double") / F.col("total")
    ent = (
        joined.groupBy("source")
        .agg(
            F.sum(F.round(-p * F.log(p), 6).cast("decimal(18,6)"))
            .cast("double")
            .alias("lang_entropy")
        )
    )
    return joined.join(F.broadcast(ent), "source").select(
        "source",
        "lang",
        F.col("n").alias("n_docs"),
        F.round(p, 6).alias("share"),
        "lang_entropy",
    )


# ---------------------------------------------------------------------------
# Token-budget histogram (training-batch planning)
# ---------------------------------------------------------------------------

_TOKEN_BUDGET_ORACLE = r"""
WITH tc AS (
  SELECT len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens
  FROM documents
)
SELECT CAST(LEAST(n_tokens // 25, 8) AS INTEGER) AS bucket_25,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM tc GROUP BY 1
"""


@register("token_budget_histogram", oracle=_TOKEN_BUDGET_ORACLE, tags=("llm", "text"))
def token_budget_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count histogram in 25-token buckets (capped at 200+) with
    the total token mass per bucket — the two numbers that size a
    training run: where the documents are versus where the TOKENS are
    (a corpus can be 80% short docs yet 80% long-doc tokens, which
    decides pack_sequences_greedy's context length). Scan-side token
    count + one hash-agg on a 9-value domain; all integer.
    """
    d = read_table(spark, sf_dir, "documents")
    n = F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    return (
        d.select(n.alias("n_tokens"))
        .groupBy(
            F.least(F.expr("n_tokens div 25"), F.lit(8))
            .cast("int")
            .alias("bucket_25")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-corpus duplicated-span fraction (ExactSubstr dedup diagnostic)
# ---------------------------------------------------------------------------

_DUP_SPAN_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
spans AS (
  SELECT doc_id,
         array_to_string(t[(i*10+1):(i*10+10)], ' ') AS span
  FROM toks, UNNEST(range(0, len(t) // 10)) AS u(i)
),
df AS (
  SELECT span, COUNT(DISTINCT doc_id) AS span_df FROM spans GROUP BY 1
),
per_doc AS (
  SELECT s.doc_id,
         COUNT(*) AS n_spans,
         SUM(CASE WHEN f.span_df > 1 THEN 1 ELSE 0 END) AS dup_spans
  FROM spans s JOIN df f USING (span)
  GROUP BY 1
)
SELECT doc_id,
       CAST(n_spans AS BIGINT) AS n_spans,
       CAST(dup_spans AS BIGINT) AS dup_spans,
       ROUND(dup_spans * 1.0 / n_spans, 6) AS dup_ratio
FROM per_doc
"""


@register("dup_span_fraction", oracle=_DUP_SPAN_ORACLE, tags=("llm", "dedup"))
def dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span fraction — for each doc, the share
    of its non-overlapping 10-token spans that also occur in at least
    one OTHER document. This is the corpus diagnostic behind
    exact-substring deduplication (Lee et al., "Deduplicating Training
    Data Makes Language Models Better"): docs with a high cross-corpus
    span fraction are boilerplate/mirror candidates that near-dup
    MinHash misses when the shared text is a sub-span rather than the
    whole doc. Pipeline: scan-side span construction (transform over a
    0..n/10 index sequence + array slice — no Python), one hash-agg
    computing span document-frequency, one join back. Cross-doc
    distinct-count (not raw occurrences) so a doc repeating its own
    span doesn't self-flag. Spans are shuffled as 8-byte
    xxhash64 digests (they are pure equality keys; the string-keyed
    oracle is the collision check) and the span-df agg is map-side
    combinable; there is no pairwise
    stage at all — this profile costs two shuffles regardless of the
    duplicate rate, unlike pair-enumerating dedup.
    """
    d = read_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    # Docs with <10 tokens must yield ZERO spans. An unguarded
    # sequence(0, floor(size/10)-1) becomes sequence(0, -1), which
    # Spark evaluates as the DESCENDING list [0, -1] (not empty!) and
    # the i=-1 branch would slice from the array's end — while the
    # oracle's range(0, 0) is empty. Guard the index list explicitly.
    idx = F.when(
        F.size("t") >= 10,
        F.sequence(F.lit(0), F.floor(F.size("t") / 10) - 1),
    ).otherwise(F.array().cast("array<bigint>"))
    spans = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ", F.slice("t", i * 10 + 1, F.lit(10))
                ),
            )
        ).alias("span"),
    ).select("doc_id", F.xxhash64("span").alias("span"))
    span_df = spans.groupBy("span").agg(
        F.count_distinct("doc_id").alias("span_df")
    )
    per_doc = (
        spans.join(span_df, "span")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.when(F.col("span_df") > 1, 1).otherwise(0)).alias(
                "dup_spans"
            ),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_spans").cast("bigint").alias("n_spans"),
        F.col("dup_spans").cast("bigint").alias("dup_spans"),
        F.round(F.col("dup_spans") * 1.0 / F.col("n_spans"), 6).alias(
            "dup_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# Temperature-scaled mixture weights (alpha-sampling, order-pinned fold)
# ---------------------------------------------------------------------------

_TEMP_ORACLE = """
WITH per_source AS (
  SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source
),
denom AS (
  SELECT list_reduce(
           list_prepend(CAST(0 AS DOUBLE), list(SQRT(n_s) ORDER BY source)),
           (a, b) -> a + b) AS z
  FROM per_source
)
SELECT source,
       CAST(n_s AS BIGINT) AS n_docs,
       ROUND(SQRT(n_s) / z, 6) AS weight,
       ROUND(SQRT(n_s) / z - n_s * 1.0 /
             (SELECT SUM(n_s) FROM per_source), 6) AS shift_vs_proportional
FROM per_source, denom
"""


@register(
    "mixture_temperature_weights", oracle=_TEMP_ORACLE, tags=("llm", "agg")
)
def mixture_temperature_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-scaled source sampling weights w_s ∝ n_s^α with
    α = 0.5 — the multilingual/multi-source rebalancing rule (upsample
    rare sources, damp dominant ones) used by mBERT/XLM-R-style
    pipelines; α=0.5 keeps the power a single IEEE-exact SQRT.
    shift_vs_proportional shows each source's gain/loss vs plain
    proportional sampling. The normalizer Σ√n_s is a sum of ARBITRARY
    doubles, where the engine's decimal-cast trick is unsafe — instead
    the per-source terms are collected into a source-SORTED list and
    folded sequentially on both engines (order-pinned fold): the identical addition chain is bit-identical. S is
    source-cardinality-sized, so the fold is a driver-free scalar
    regardless of corpus size.
    """
    d = read_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(F.count("*").alias("n_s"))
    denom = per_source.agg(
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("source", F.sqrt("n_s").alias("sq")))
                ),
                lambda s: s["sq"],
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("z"),
        F.sum("n_s").alias("n_total"),
    )
    return (
        per_source.crossJoin(F.broadcast(denom))
        .select(
            "source",
            F.col("n_s").cast("bigint").alias("n_docs"),
            F.round(F.sqrt("n_s") / F.col("z"), 6).alias("weight"),
            F.round(
                F.sqrt("n_s") / F.col("z")
                - F.col("n_s") * 1.0 / F.col("n_total"),
                6,
            ).alias("shift_vs_proportional"),
        )
    )


# ---------------------------------------------------------------------------
# Stratified k-fold assignment (deterministic CV folds, balance audit)
# ---------------------------------------------------------------------------

_KFOLD_K = 5

_KFOLD_ORACLE = f"""
WITH assigned AS (
  SELECT o_orderpriority AS stratum,
         {sql_knuth_bucket('o_orderkey', _KFOLD_K)} AS fold
  FROM orders
),
tot AS (
  SELECT stratum, COUNT(*) AS n_stratum FROM assigned GROUP BY stratum
)
SELECT a.stratum,
       CAST(a.fold AS INTEGER) AS fold,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(COUNT(*) * 1.0 / t.n_stratum, 6) AS share_of_stratum
FROM assigned a JOIN tot t USING (stratum)
GROUP BY a.stratum, a.fold, t.n_stratum
"""


@register(
    "stratified_kfold_assign", oracle=_KFOLD_ORACLE, tags=("llm", "sampling")
)
def stratified_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified {K}-fold cross-validation assignment:
    fold = overflow-safe Knuth multiplicative hash of the row key mod
    K (``knuth_bucket`` — reproducible on any engine, no RNG state),
    audited per (stratum, fold) with each fold's share of its stratum
    — the balance table that justifies using hash folds instead of
    shuffled splits. Pure projection + two hash-aggs; at 100 TB the
    assignment is a scan-side column (no shuffle at all) and only the
    audit aggregates.
    """
    o = read_table(spark, sf_dir, "orders")
    assigned = o.select(
        F.col("o_orderpriority").alias("stratum"),
        knuth_bucket("o_orderkey", _KFOLD_K).alias("fold"),
    )
    tot = assigned.groupBy("stratum").agg(F.count("*").alias("n_stratum"))
    return (
        assigned.groupBy("stratum", "fold")
        .agg(F.count("*").alias("n"))
        .join(F.broadcast(tot), "stratum")
        .select(
            "stratum",
            F.col("fold").cast("int").alias("fold"),
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("n") * 1.0 / F.col("n_stratum"), 6).alias(
                "share_of_stratum"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Duplicated-span PAIRS (actionable ExactSubstr dedup candidates)
# ---------------------------------------------------------------------------

_SPAN_DF_CAP = 20

_SPAN_MIN_SHARED = 2

_DUP_SPAN_PAIRS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
spans AS (
  SELECT DISTINCT doc_id,
         array_to_string(t[(i*10+1):(i*10+10)], ' ') AS span
  FROM toks, UNNEST(range(0, len(t) // 10)) AS u(i)
),
df AS (
  SELECT span, COUNT(*) AS span_df FROM spans GROUP BY span
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_spans
  FROM spans a
  JOIN df f ON f.span = a.span AND f.span_df BETWEEN 2 AND {_SPAN_DF_CAP}
  JOIN spans b ON b.span = a.span AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, CAST(n_shared_spans AS BIGINT) AS n_shared_spans
FROM pairs WHERE n_shared_spans >= {_SPAN_MIN_SHARED}
"""


@register(
    "dup_span_pairs", oracle=_DUP_SPAN_PAIRS_ORACLE, tags=("llm", "dedup")
)
def dup_span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document PAIRS sharing ≥{M} non-overlapping 10-token spans —
    the actionable output behind ``dup_span_fraction``'s per-doc
    diagnostic: these are the ExactSubstr dedup candidates (Lee et
    al.) where the shared text is a sub-span rather than the whole
    doc, which whole-doc MinHash misses. Pair generation is an
    inverted-index self-join on the span key, BOUNDED the same way
    ``jaccard_shingle_pairs`` bounds shingles: spans with document
    frequency > {C} are boilerplate (stop-spans) and are excluded
    from pairing, so no hot span can form a quadratic bucket — the
    100 TB guard, inert at bench SF. Distinct (doc, span) first so a
    doc repeating its own span can't inflate the pair count; spans
    shuffle as 8-byte xxhash64 digests (pure equality keys — the
    string-keyed oracle is the collision check).
    """
    d = read_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    idx = F.when(
        F.size("t") >= 10,
        F.sequence(F.lit(0), F.floor(F.size("t") / 10) - 1),
    ).otherwise(F.array().cast("array<bigint>"))
    spans = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ", F.slice("t", i * 10 + 1, F.lit(10))
                ),
            )
        ).alias("span"),
    ).select("doc_id", F.xxhash64("span").alias("span")).distinct()
    df = (
        spans.groupBy("span")
        .agg(F.count("*").alias("span_df"))
        .filter(
            (F.col("span_df") >= 2) & (F.col("span_df") <= _SPAN_DF_CAP)
        )
        .select("span")
    )
    keyed = spans.join(df, "span")
    a = keyed.select("span", F.col("doc_id").alias("doc_a"))
    b = keyed.select("span", F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "span")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("n_shared_spans"))
        .filter(F.col("n_shared_spans") >= _SPAN_MIN_SHARED)
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency slope (vocabulary power-law fit)
# ---------------------------------------------------------------------------

_ZIPF_TOP = 500

_ZIPF_ORACLE = rf"""
WITH tok AS (
  SELECT unnest({_SQL_TOKS}) AS tok FROM documents
),
cnt AS (
  SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok
),
ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rnk
  FROM cnt
  QUALIFY rnk <= {_ZIPF_TOP}
),
pts AS (
  SELECT CAST(ROUND(LN(rnk), 6) AS DECIMAL(18,6)) AS lx,
         CAST(ROUND(LN(c), 6) AS DECIMAL(18,6)) AS ly
  FROM ranked
),
m AS (
  SELECT COUNT(*) AS n, SUM(lx) AS sx, SUM(ly) AS sy,
         SUM(lx * ly) AS sxy, SUM(lx * lx) AS sxx
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_tokens,
       ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / NULLIF(n * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0), 6)
         AS zipf_slope,
       ROUND((CAST(sy AS DOUBLE)
              - (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / NULLIF(n * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0)
                * CAST(sx AS DOUBLE)) / n, 6) AS zipf_intercept
FROM m
"""


@register("zipf_vocab_slope", oracle=_ZIPF_ORACLE, tags=("llm", "text", "stats"))
def zipf_vocab_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit of the corpus vocabulary: OLS slope of
    ln(frequency) on ln(rank) over the top {N} tokens — natural text
    sits near −1; synthetic/templated corpora (like this fixture) and
    boilerplate-heavy crawls deviate sharply, making the slope a cheap
    corpus-health indicator alongside `unigram_entropy`. Ranking is a
    deterministic ROW_NUMBER over (freq DESC, token); the log points
    use the ROUND-6-then-decimal convention, and the 6dp-decimal
    moment products are exact at scale 12, so the OLS sums are
    bit-identical. The rank window runs over the top-{N} VOCABULARY
    slice, never rows — at 100 TB the token-count agg is the only
    fact-sized stage.
    """
    d = read_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(TX.tokens("text")).alias("tok"))
    cnt = tok.groupBy("tok").agg(F.count("*").alias("c"))
    ranked = (
        cnt.select(
            "c",
            F.row_number()
            .over(Window.orderBy(F.col("c").desc(), F.col("tok")))
            .alias("rnk"),
        )
        .filter(F.col("rnk") <= _ZIPF_TOP)
    )
    pts = ranked.select(
        F.round(F.log("rnk"), 6).cast("decimal(18,6)").alias("lx"),
        F.round(F.log("c"), 6).cast("decimal(18,6)").alias("ly"),
    )
    m = pts.agg(
        F.count("*").alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    slope = (n * sxy - sx * sy) / F.nullif(
        n * sxx - sx * sx, F.lit(0.0)
    )
    return m.select(
        n.cast("bigint").alias("n_tokens"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - slope * sx) / n, 6).alias("zipf_intercept"),
    )


# ---------------------------------------------------------------------------
# Per-document n-gram novelty (unique-content fraction)
# ---------------------------------------------------------------------------

_NOVELTY_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
), feat AS (
  SELECT doc_id, {_SQL_SHINGLES.format(t='toks')} AS feats FROM tok
), gram AS (
  SELECT DISTINCT doc_id, unnest(feats) AS g FROM feat
), df AS (
  SELECT g, COUNT(*) AS gdf FROM gram GROUP BY g
)
SELECT gram.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN df.gdf = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       ROUND(SUM(CASE WHEN df.gdf = 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*),
             6) AS novelty_rate
FROM gram JOIN df USING (g)
GROUP BY gram.doc_id
"""


@register(
    "ngram_novelty_rate", oracle=_NOVELTY_ORACLE, tags=("llm", "text", "dedup")
)
def ngram_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct 3-gram
    shingles that occur in NO other document (corpus document
    frequency = 1) — the inverse view of `dup_span_fraction`: near-0
    novelty means the doc is assembled from corpus-common text
    (boilerplate/mirror), near-1 means unique content worth keeping
    at dedup time. Shape: scan-side shingling, one shingle-DF
    hash-agg, one join back, one per-doc agg — the same
    two-shuffle-regardless-of-dup-rate profile as dup_span_fraction,
    no pairwise stage. Both shuffles (the distinct and the DF
    hash-agg + join-back) are keyed on the 64-bit xxhash64 digest of
    the shingle, computed scan-side BEFORE the explode's output ever
    hits a shuffle — a raw 3-gram string averages ~20-30 bytes vs 8
    for the digest, so digest keys cut shuffle bytes ~3-5× and make
    the sort/agg comparisons fixed-width. The digest only renames the
    grouping key (the output is per-doc counts, never the shingles
    themselves), so results differ from the string spelling only on a
    64-bit collision — probability ~n²/2⁶⁵, negligible at any SF the
    oracle runs at; the DuckDB oracle keeps raw strings on the bounded
    fixture, which is exactly the collision check.
    """
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    gram = (
        d.select(
            "doc_id",
            F.explode(TX.shingles(TX.tokens("text"))).alias("g"),
        )
        .select("doc_id", F.xxhash64("g").alias("g"))
        .distinct()
    )
    df = gram.groupBy("g").agg(F.count("*").alias("gdf"))
    return (
        gram.join(df, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum(F.when(F.col("gdf") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
            F.round(
                F.sum(F.when(F.col("gdf") == 1, 1).otherwise(0))
                * 1.0
                / F.count("*"),
                6,
            ).alias("novelty_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Packing fill-rate frontier (efficiency vs token budget)
# ---------------------------------------------------------------------------

_PACK_BUDGETS = (256, 512, 1024)

_PACK_FRONTIER_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, source, len({_SQL_TOKS}) AS n_tokens FROM documents
), cum AS (
  SELECT doc_id, source, n_tokens,
    SUM(n_tokens) OVER (
      PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS cum_tokens
  FROM tok
), budgets AS (
  SELECT unnest([{', '.join(str(b) for b in _PACK_BUDGETS)}]) AS budget
), packed AS (
  SELECT b.budget, c.source, c.n_tokens,
    FLOOR((c.cum_tokens - c.n_tokens) / (b.budget * 1.0)) AS pack_id
  FROM cum c CROSS JOIN budgets b
)
SELECT CAST(budget AS INTEGER) AS budget,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(DISTINCT source || '#' || CAST(pack_id AS VARCHAR)) AS BIGINT)
    AS n_packs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  ROUND(CAST(SUM(n_tokens) AS DOUBLE)
        / (COUNT(DISTINCT source || '#' || CAST(pack_id AS VARCHAR))
           * budget), 6) AS fill_rate
FROM packed
GROUP BY budget
"""


@register(
    "pack_budget_frontier",
    oracle=_PACK_FRONTIER_ORACLE,
    tags=("llm", "window"),
)
def pack_budget_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy-packer efficiency vs token budget, as one result set:
    for B ∈ {256, 512, 1024}, the pack count and fill rate
    (total tokens ÷ pack capacity) under ``pack_sequences_greedy``'s
    start-pack assignment — the sequence-length knob when building
    pretraining batches: small budgets waste capacity on boundary
    fragmentation, large budgets amortize it (fill rate rises toward
    1 as B grows past the doc-length scale).

    Cost shape: the per-shard cumulative-token window runs ONCE
    (budget-independent — pack membership is pure arithmetic on the
    shared running sum), then the 3-row budget table fans out
    scan-side into one hash-agg per budget grain. One shuffle on
    ``source`` total, same as the single-budget packer.
    """
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", TX.token_count("text").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = d.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    budgets = spark.range(1).select(
        F.explode(F.array(*[F.lit(b) for b in _PACK_BUDGETS])).alias("budget")
    )
    packed = cum.crossJoin(F.broadcast(budgets)).select(
        "budget",
        "source",
        "n_tokens",
        F.floor(
            (F.col("cum_tokens") - F.col("n_tokens"))
            / (F.col("budget") * 1.0)
        ).alias("pack_id"),
    )
    pack_key = F.concat_ws("#", "source", F.col("pack_id").cast("string"))
    return packed.groupBy("budget").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct(pack_key).cast("bigint").alias("n_packs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.round(
            F.sum("n_tokens").cast("double")
            / (F.countDistinct(pack_key) * F.col("budget")),
            6,
        ).alias("fill_rate"),
    ).select(
        F.col("budget").cast("int").alias("budget"),
        "n_docs",
        "n_packs",
        "total_tokens",
        "fill_rate",
    )


# ---------------------------------------------------------------------------
# Contamination rate vs n-gram length frontier
# ---------------------------------------------------------------------------

_CONTAM_NS = (3, 5, 8)


def _contam_branch_sql(n: int) -> str:
    return (
        f"SELECT doc_id, {n} AS gram_len, "
        f"unnest(list_distinct({_sql_kgrams(n)})) AS g FROM tok"
    )


_CONTAM_FRONTIER_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
), gram AS (
  {' UNION ALL '.join(_contam_branch_sql(n) for n in _CONTAM_NS)}
), bench AS (
  SELECT DISTINCT gram_len, g FROM gram WHERE doc_id % 97 = 0
), ev AS (
  SELECT gram_len, doc_id, g FROM gram WHERE doc_id % 97 <> 0
), tot AS (
  SELECT gram_len, COUNT(*) AS n_grams, COUNT(DISTINCT doc_id) AS n_docs
  FROM ev GROUP BY 1
), hit AS (
  SELECT e.gram_len, COUNT(*) AS n_hit, COUNT(DISTINCT e.doc_id) AS docs_hit
  FROM ev e JOIN bench b ON e.gram_len = b.gram_len AND e.g = b.g
  GROUP BY 1
)
SELECT CAST(t.gram_len AS INTEGER) AS gram_len,
  CAST(t.n_docs AS BIGINT) AS n_eval_docs,
  CAST(COALESCE(h.docs_hit, 0) AS BIGINT) AS n_docs_hit,
  CAST(t.n_grams AS BIGINT) AS n_eval_grams,
  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_contaminated_grams,
  ROUND(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / t.n_grams, 6)
    AS contamination_rate
FROM tot t LEFT JOIN hit h ON t.gram_len = h.gram_len
"""


@register(
    "contamination_gram_frontier",
    oracle=_CONTAM_FRONTIER_ORACLE,
    tags=("llm", "text", "join"),
)
def contamination_gram_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination rate vs n-gram length, as one result
    set: for n ∈ {3, 5, 8}, the fraction of eval-side distinct n-gram
    instances (and of eval docs) that collide with the benchmark
    split — THE knob in decontamination policy: 3-grams flag
    coincidental phrase overlap, 8-grams only near-verbatim leakage,
    so the rate must fall monotonically with n and the gap quantifies
    how aggressive a given gram length is
    (``contamination_ngram_overlap`` is the per-doc view at n=5).

    Cost shape: the token array materializes once per row; the three
    gram lengths are scan-side shingle passes over it unioned into ONE
    (gram_len, digest)-keyed flow — the bench build, semi-join, and
    both aggs all key on (gram_len, g), so AQE reuses one partitioning.
    Grams shuffle as 8-byte xxhash64 digests (equality keys only; the
    string-keyed oracle is the collision check).
    """
    tok = read_table(spark, sf_dir, "documents").select(
        "doc_id", TX.tokens("text").alias("toks")
    )
    gram = None
    for n in _CONTAM_NS:
        br = tok.select(
            "doc_id",
            F.lit(n).alias("gram_len"),
            F.explode(
                F.array_distinct(TX.shingles(F.col("toks"), n))
            ).alias("g"),
        )
        gram = br if gram is None else gram.unionByName(br)
    gram = gram.select(
        "doc_id", "gram_len", F.xxhash64("g").alias("g")
    )
    bench = (
        gram.filter(F.col("doc_id") % 97 == 0)
        .select("gram_len", "g")
        .distinct()
    )
    ev = gram.filter(F.col("doc_id") % 97 != 0)
    tot = ev.groupBy("gram_len").agg(
        F.count("*").alias("n_grams"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    hit = (
        ev.join(bench, ["gram_len", "g"])
        .groupBy("gram_len")
        .agg(
            F.count("*").alias("n_hit"),
            F.countDistinct("doc_id").alias("docs_hit"),
        )
    )
    return (
        tot.join(hit, "gram_len", "left")
        .select(
            F.col("gram_len").cast("int").alias("gram_len"),
            F.col("n_docs").cast("bigint").alias("n_eval_docs"),
            F.coalesce("docs_hit", F.lit(0))
            .cast("bigint")
            .alias("n_docs_hit"),
            F.col("n_grams").cast("bigint").alias("n_eval_grams"),
            F.coalesce("n_hit", F.lit(0))
            .cast("bigint")
            .alias("n_contaminated_grams"),
            F.round(
                F.coalesce("n_hit", F.lit(0)).cast("double")
                / F.col("n_grams"),
                6,
            ).alias("contamination_rate"),
        )
    )


# ---------------------------------------------------------------------------
# End-to-end curation pipeline (the engine's use case as ONE DAG)
# ---------------------------------------------------------------------------

_CUR_Q_THRESH = 0.48   # ≈ corpus p25 — drops the worst quality quartile

_CUR_PACK_B = 512      # pack budget for kept docs

# Quality formula: EXACTLY text_quality_score's spelling.
_CUR_QSCORE_SQL = """
    0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
    + 0.3 * ttr
    + 0.2 * least(1.0, stopword_ratio * 5.0)
    + 0.1 * (1.0 - least(1.0, CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE)))
"""

_CURATION_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, source, text, n_chars, {{toks}} AS toks FROM documents
), q AS (
  SELECT doc_id, source, n_chars, toks,
    CAST(len(toks) AS INTEGER) AS n_tokens,
    len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
    CAST(len(list_filter(toks, t -> list_contains({{stoplist}}, t))) AS DOUBLE)
      / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
    CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS ttr,
    md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
  FROM tok
), scored AS (
  SELECT doc_id, source, n_tokens, toks, fp,
    ({_CUR_QSCORE_SQL}) AS qscore,
    (doc_id % 97 = 0) AS is_bench
  FROM q
), bench_grams AS (
  SELECT DISTINCT unnest(list_distinct({{kgrams5}})) AS g
  FROM scored WHERE is_bench
), ev_gram AS (
  SELECT doc_id, unnest(list_distinct({{kgrams5}})) AS g
  FROM scored WHERE NOT is_bench
), dirty AS (
  SELECT DISTINCT e.doc_id FROM ev_gram e JOIN bench_grams b ON e.g = b.g
), s2 AS (  -- survivors past benchmark + contamination
  SELECT s.* FROM scored s
  LEFT JOIN dirty d ON s.doc_id = d.doc_id
  WHERE NOT s.is_bench AND d.doc_id IS NULL
), s3 AS (  -- survivors past the quality gate
  SELECT * FROM s2 WHERE qscore >= {_CUR_Q_THRESH}
), rep AS (
  SELECT fp, MIN(doc_id) AS rep_id FROM s3 GROUP BY fp
), kept AS (
  SELECT s.doc_id, s.source, s.n_tokens FROM s3 s
  JOIN rep r ON s.fp = r.fp AND s.doc_id = r.rep_id
), packed AS (
  SELECT doc_id, source, n_tokens,
    CASE WHEN {{knuth}} < 80 THEN 'train'
         WHEN {{knuth}} < 90 THEN 'val'
         ELSE 'test' END AS split,
    CAST(FLOOR((SUM(n_tokens) OVER (
        PARTITION BY source ORDER BY doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) - n_tokens) / {_CUR_PACK_B}.0) AS INTEGER) AS pack_id
  FROM kept
)
SELECT s.doc_id, s.source,
  CAST(s.n_tokens AS INTEGER) AS n_tokens,
  CASE WHEN s.is_bench THEN 'benchmark'
       WHEN d.doc_id IS NOT NULL THEN 'contaminated'
       WHEN s.qscore < {_CUR_Q_THRESH} THEN 'low_quality'
       WHEN p.doc_id IS NULL THEN 'near_dup'
       ELSE 'kept' END AS disposition,
  p.split,
  p.pack_id
FROM scored s
LEFT JOIN dirty d ON s.doc_id = d.doc_id
LEFT JOIN packed p ON s.doc_id = p.doc_id
"""


def _curation_oracle() -> str:

    return _CURATION_ORACLE.format(
        toks=_SQL_TOKS,
        stoplist=_SQL_STOPLIST,
        kgrams5=_sql_kgrams(5),
        knuth=sql_knuth_bucket("doc_id", 100),
    )


def curation_doc_signals(d: DataFrame) -> DataFrame:
    """Scan-side curation signals shared by the batch pipeline and the
    streaming gate (streaming/windows.py ``curation_gate_stream``):
    from (doc_id, source, text, n_chars) compute n_tokens, the exact
    text_quality_score formula, the distinct 5-gram array, the
    order-insensitive token fingerprint, and the benchmark flag — one
    projection, works identically on a bounded or unbounded DataFrame
    (no shuffle, no state). ONE implementation so stream ≡ batch holds
    by construction for every stateless gate.
    """

    base = d.select(
        "doc_id",
        "source",
        "text",
        "n_chars",
        TX.tokens("text").alias("toks"),
    )
    n_tokens = F.size("toks")
    stop_ratio = TX.stopword_hits(F.col("toks"), _STOPWORDS).cast(
        "double"
    ) / n_tokens.cast("double")
    ttr = F.size(F.array_distinct("toks")).cast("double") / n_tokens.cast(
        "double"
    )
    qscore = (
        0.4 * F.least(F.lit(1.0), n_tokens.cast("double") / 100.0)
        + 0.3 * ttr
        + 0.2 * F.least(F.lit(1.0), stop_ratio * 5.0)
        + 0.1
        * (
            F.lit(1.0)
            - F.least(
                F.lit(1.0),
                TX.punct_count("text").cast("double")
                / F.col("n_chars").cast("double"),
            )
        )
    )
    return base.select(
        "doc_id",
        "source",
        "text",
        n_tokens.cast("int").alias("n_tokens"),
        F.array_distinct(TX.shingles(F.col("toks"), 5)).alias("g5"),
        F.md5(
            F.array_join(F.array_sort(F.array_distinct("toks")), " ")
        ).alias("fp"),
        qscore.alias("qscore"),
        (F.col("doc_id") % 97 == 0).alias("is_bench"),
    )


@register(
    "curation_pipeline",
    oracle=_curation_oracle(),
    tags=("llm", "text", "join", "flagship"),
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's whole use case as ONE lazy DAG: every document
    enters and leaves with a disposition —

      benchmark    → held out (doc_id % 97), its 5-grams become the
                     contamination reference,
      contaminated → shares ≥1 distinct 5-gram with the benchmark
                     (checked FIRST so leakage can't hide behind a
                     later gate — policy order, explicit by design),
      low_quality  → text_quality_score's exact formula < {t},
      near_dup     → not the lowest-doc_id representative of its
                     order-insensitive token fingerprint (catches the
                     shuffled near-copies byte-dedup misses),
      kept         → assigned its deterministic 80/10/10 split (Knuth
                     hash) and greedy 512-token pack id.

    Each stage sees only the previous stage's survivors, exactly like
    the production pipeline it models — and the whole ladder is one
    Catalyst plan: the scan-side pass computes tokens, quality terms
    and the fingerprint together; contamination is a digest semi-join
    bounded by the (tiny) benchmark side; dedup is a fingerprint-grain
    hash-agg + self-equi-join; the pack window runs only over kept
    docs. Composes the registered single-stage operators
    (text_quality_score, doc_fingerprint, decontaminate_docs,
    train_val_test_split, pack_sequences_greedy) with their exact
    spellings, so the composite can't drift from the pieces the
    driver already checks.
    """

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text", "n_chars"
    )
    scored = curation_doc_signals(d).persist()
    gram = scored.select(
        "doc_id", "is_bench", F.explode("g5").alias("g")
    ).select("doc_id", "is_bench", F.xxhash64("g").alias("g"))
    bench_grams = gram.filter("is_bench").select("g").distinct()
    dirty = (
        gram.filter(~F.col("is_bench"))
        .join(bench_grams, "g")
        .select("doc_id")
        .distinct()
        .withColumn("is_dirty", F.lit(True))
    )
    flagged = scored.join(dirty, "doc_id", "left")
    s3 = flagged.filter(
        ~F.col("is_bench")
        & F.col("is_dirty").isNull()
        & (F.col("qscore") >= _CUR_Q_THRESH)
    )
    rep = s3.groupBy("fp").agg(F.min("doc_id").alias("rep_id"))
    kept = s3.join(
        rep, (s3["fp"] == rep["fp"]) & (s3["doc_id"] == rep["rep_id"])
    ).select(s3["doc_id"], s3["source"], s3["n_tokens"])
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = knuth_bucket("doc_id", 100)
    packed = kept.select(
        "doc_id",
        F.when(u < 80, "train").when(u < 90, "val").otherwise("test").alias(
            "split"
        ),
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens"))
            / float(_CUR_PACK_B)
        )
        .cast("int")
        .alias("pack_id"),
        F.lit(True).alias("is_kept"),
    )
    return (
        flagged.join(packed, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.when(F.col("is_bench"), "benchmark")
            .when(F.col("is_dirty"), "contaminated")
            .when(F.col("qscore") < _CUR_Q_THRESH, "low_quality")
            .when(F.col("is_kept").isNull(), "near_dup")
            .otherwise("kept")
            .alias("disposition"),
            "split",
            "pack_id",
        )
    )


curation_pipeline.__doc__ = curation_pipeline.__doc__.format(t=_CUR_Q_THRESH)


# ---------------------------------------------------------------------------
# Pairwise Jensen-Shannon divergence between source unigram mixtures
# ---------------------------------------------------------------------------

_JSD_ORACLE = rf"""
WITH tok AS (
  SELECT source, unnest({_SQL_TOKS}) AS tok FROM documents
),
cnt AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
),
tot AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY 1
),
j AS (
  SELECT a.source AS source_a, b.source AS source_b,
         a.c AS ca, b.c AS cb, ta.n AS na, tb.n AS nb
  FROM cnt a
  JOIN cnt b ON a.tok = b.tok AND a.source < b.source
  JOIN tot ta ON ta.source = a.source
  JOIN tot tb ON tb.source = b.source
),
terms AS (
  SELECT source_a, source_b, ca, cb, na, nb,
    CAST(ROUND(
      (CAST(ca AS DOUBLE) / na)
        * log2(2 * (CAST(ca AS DOUBLE) / na)
               / (CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb))
      + (CAST(cb AS DOUBLE) / nb)
        * log2(2 * (CAST(cb AS DOUBLE) / nb)
               / (CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb)),
      12) AS DECIMAL(38,12)) AS t12
  FROM j
),
g AS (
  SELECT source_a, source_b,
    CAST(COUNT(*) AS BIGINT) AS n_common_terms,
    CAST(SUM(t12) AS DOUBLE) AS s,
    CAST(SUM(ca) AS BIGINT) AS sca,
    CAST(SUM(cb) AS BIGINT) AS scb,
    MAX(na) AS na, MAX(nb) AS nb
  FROM terms GROUP BY 1, 2
)
SELECT source_a, source_b, n_common_terms,
  ROUND((s + (1 - CAST(sca AS DOUBLE) / na)
           + (1 - CAST(scb AS DOUBLE) / nb)) / 2, 6) AS jsd
FROM g
"""


@register("source_jsd_matrix", oracle=_JSD_ORACLE, tags=("llm", "stats", "agg"))
def source_jsd_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between per-source unigram
    distributions — the mixture diagnostic behind data-mixing
    decisions (DoReMi-style reweighting, dedup-across-sources
    triage): JSD(P,Q) = ½Σ[p·log₂(2p/(p+q)) + q·log₂(2q/(p+q))],
    symmetric and bounded [0,1] in base 2.

    The union-support sum decomposes so NO full-outer join is needed:
    tokens exclusive to one source contribute p·log₂2 = p, so
    JSD = ½[Σ_inter terms + (1−P_inter) + (1−Q_inter)] where P_inter
    is the probability mass each source puts on the SHARED vocabulary
    — exact BIGINT count sums divided once. Only the intersection is
    ever joined.

    Determinism: per-term transcendental values are rounded to 12 dp
    and summed exactly in decimal (the pagerank discipline); the
    exclusive-mass corrections are exact integer ratios; final ROUND 6.

    Scale: token counts hash-agg to the (source, term) grain with
    map-side combine; the pair join is keyed on an 8-byte xxhash64
    term digest (the round-7 shuffle convention — the string-keyed
    oracle doubles as the collision check) and fans out only 190
    source pairs per shared term. Source count is the bounded axis;
    vocabulary is the long tail, and it flows through ONE shuffle.
    """
    d = fan_out(
        read_table(spark, sf_dir, "documents").select("source", "text")
    )
    cnt = (
        d.select("source", F.explode(TX.tokens("text")).alias("tok"))
        .groupBy("source", F.xxhash64("tok").alias("g"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    tot = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    a = (
        cnt.join(F.broadcast(tot), "source")
        .select(
            F.col("source").alias("source_a"),
            "g",
            F.col("c").alias("ca"),
            F.col("n").alias("na"),
        )
    )
    b = (
        cnt.join(F.broadcast(tot), "source")
        .select(
            F.col("source").alias("source_b"),
            F.col("g").alias("gb"),
            F.col("c").alias("cb"),
            F.col("n").alias("nb"),
        )
    )
    pa = F.col("ca").cast("double") / F.col("na")
    pb = F.col("cb").cast("double") / F.col("nb")
    term = pa * F.log2(2 * pa / (pa + pb)) + pb * F.log2(2 * pb / (pa + pb))
    pairs = a.join(
        b,
        (F.col("g") == F.col("gb")) & (F.col("source_a") < F.col("source_b")),
    ).select(
        "source_a",
        "source_b",
        "ca",
        "cb",
        "na",
        "nb",
        F.round(term, 12).cast("decimal(38,12)").alias("t12"),
    )
    g = pairs.groupBy("source_a", "source_b").agg(
        F.count("*").cast("long").alias("n_common_terms"),
        F.sum("t12").cast("double").alias("s"),
        F.sum("ca").cast("long").alias("sca"),
        F.sum("cb").cast("long").alias("scb"),
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
    )
    return g.select(
        "source_a",
        "source_b",
        "n_common_terms",
        F.round(
            (
                F.col("s")
                + (1 - F.col("sca").cast("double") / F.col("na"))
                + (1 - F.col("scb").cast("double") / F.col("nb"))
            )
            / 2,
            6,
        ).alias("jsd"),
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility by language
# ---------------------------------------------------------------------------

_FERTILITY_ORACLE = rf"""
WITH t AS (
  SELECT lang, n_chars,
         CAST(len({_SQL_TOKS}) AS BIGINT) AS n_toks
  FROM documents
)
SELECT lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  ROUND(CAST(SUM(n_toks) * 100 AS DOUBLE) / SUM(n_chars), 6)
    AS tokens_per_100_chars
FROM t GROUP BY lang
"""


@register("tokenizer_fertility", oracle=_FERTILITY_ORACLE, tags=("llm", "text", "agg"))
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: tokens produced per 100
    characters of input — the economics number behind multilingual
    budget decisions (a language whose tokenizer emits 2× the tokens
    per byte consumes 2× the training FLOPs and 2× the context window
    for the same content). Whitespace tokens here; swapping in the BPE
    proxy (``bpe_token_count``'s spelling) changes one expression.

    Determinism: token and char counts are exact BIGINTs; one final
    ratio ROUND 6.

    Scale: one scan-side map (the let-bound tokenizer — no per-element
    re-split) + one hash-agg on the language grain with map-side
    combine. Nothing else.
    """
    d = fan_out(
        read_table(spark, sf_dir, "documents").select("lang", "n_chars", "text")
    )
    t = d.select(
        "lang", "n_chars", F.size(TX.tokens("text")).cast("long").alias("n_toks")
    )
    return t.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.round(
            (F.sum("n_toks") * 100).cast("double") / F.sum("n_chars"), 6
        ).alias("tokens_per_100_chars"),
    )


# ---------------------------------------------------------------------------
# Okapi BM25 document ranking for a fixed keyword query
# ---------------------------------------------------------------------------

_BM25_TERMS = ("vector", "hash", "filter")

_BM25_K1 = 1.2

_BM25_B = 0.75

_BM25_TOPN = 20

_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)

_BM25_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
),
dl AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tok
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(dl) AS BIGINT) AS total_dl
  FROM dl
),
tf AS (
  SELECT doc_id, t AS term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(toks) AS t FROM tok)
  WHERE t IN ({_BM25_TERMS_SQL})
  GROUP BY doc_id, t
),
df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
    CAST(ROUND(
      LN(1 + ((SELECT n FROM stats) - df.df + 0.5) / (df.df + 0.5))
      * (tf.tf * ({_BM25_K1} + 1))
      / (tf.tf + {_BM25_K1}
         * (1 - {_BM25_B} + {_BM25_B} * dl.dl
            / (CAST((SELECT total_dl FROM stats) AS DOUBLE)
               / (SELECT n FROM stats)))),
      12) AS DECIMAL(38,12)) AS term_score
  FROM tf JOIN df ON df.term = tf.term JOIN dl ON dl.doc_id = tf.doc_id
),
agg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
         ROUND(CAST(SUM(term_score) AS DOUBLE), 6) AS bm25_score
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_terms_matched, bm25_score,
       CAST(rnk AS BIGINT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY bm25_score DESC, doc_id) AS rnk
  FROM agg
)
WHERE rnk <= {_BM25_TOPN}
"""


@register("bm25_doc_ranking", oracle=_BM25_ORACLE, tags=("llm", "text", "window"))
def bm25_doc_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 (k1=1.2, b=0.75) top-20 document ranking for the
    fixed keyword query {vector, hash, filter} — lexical retrieval
    with tf saturation and length normalization, the sparse ranker a
    hybrid search stack pairs with the ANN family (fuse via the
    ``ann_rrf_fusion`` pattern). idf = ln(1 + (N−df+0.5)/(df+0.5)),
    the standard non-negative variant.

    Determinism: tf/df/dl are exact BIGINTs; avgdl is one exact-int
    division; each per-(doc, term) score is an identical double
    expression rounded to 12 dp and decimal-summed per doc (≤3 terms,
    but a 3-term double sum already differs in order across engines);
    ranking on the 6 dp-rounded score with doc_id tie-break.

    Scale: the fact-sized stage is the tokenize + query-term filter
    (the IN-list prunes before the tf hash-agg, so shuffle volume is
    per-query-term postings, not the corpus vocabulary); df and the
    corpus stats are broadcast scalars; top-N is a distributed
    TakeOrdered over matched docs, with the ranking window applied
    only to the bounded k rows. This is the inverted-index query plan
    spelled relationally — at 100 TB the tf table IS the posting list.
    """
    d = fan_out(read_table(spark, sf_dir, "documents").select("doc_id", "text"))
    tok = d.select("doc_id", TX.tokens("text").alias("toks"))
    dl = tok.select("doc_id", F.size("toks").cast("long").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("dl").cast("long").alias("total_dl"),
    )
    tf = (
        tok.select("doc_id", F.explode("toks").alias("t"))
        .filter(F.col("t").isin(*_BM25_TERMS))
        .groupBy("doc_id", F.col("t").alias("term"))
        .agg(F.count("*").cast("long").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    avgdl = F.col("total_dl").cast("double") / F.col("n")
    idf = F.log(
        1 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    term_score = idf * (F.col("tf") * (_BM25_K1 + 1)) / (
        F.col("tf")
        + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / avgdl)
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(term_score, 12).cast("decimal(38,12)").alias("term_score"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_terms_matched"),
        F.round(F.sum("term_score").cast("double"), 6).alias("bm25_score"),
    )
    # Distributed top-k: orderBy().limit() compiles to
    # TakeOrderedAndProject (per-partition heaps + driver merge), then
    # the ranking window runs over the bounded k rows only — never a
    # single-partition sort of the full matched-doc set (the
    # query_likelihood_dirichlet spelling).
    ranked = agg.orderBy(F.col("bm25_score").desc(), F.col("doc_id")).limit(
        _BM25_TOPN
    )
    w = Window.orderBy(F.col("bm25_score").desc(), F.col("doc_id"))
    return ranked.withColumn("rank", F.row_number().over(w).cast("long"))


_XENT_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
), cnt AS (
  SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok
), vocab AS (
  SELECT tok, CAST(SUM(c) AS BIGINT) AS cw FROM cnt GROUP BY tok
), tot AS (
  SELECT CAST(SUM(cw) AS BIGINT) AS n FROM vocab
), agg AS (
  SELECT
    c.doc_id,
    CAST(SUM(c.c) AS BIGINT) AS n_tokens,
    CAST(SUM(CAST(ROUND(
      c.c * log2(CAST(t.n AS DOUBLE) / CAST(v.cw AS DOUBLE)), 6
    ) AS DECIMAL(18,6))) AS DOUBLE) AS s
  FROM cnt c JOIN vocab v USING (tok) CROSS JOIN tot t
  GROUP BY c.doc_id
)
SELECT
  doc_id,
  n_tokens,
  ROUND(s / n_tokens, 6) AS cross_entropy_bits,
  ROUND(POWER(2.0, ROUND(s / n_tokens, 6)), 6) AS perplexity
FROM agg
"""


@register(
    "doc_lm_cross_entropy",
    oracle=_XENT_ORACLE,
    tags=("llm", "text", "stats"),
)
def doc_lm_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy H(doc ‖ corpus) =
    (Σ_tok c_doc · log2(N / c_corpus)) / n_doc bits per token, plus
    perplexity 2^H — low = stereotyped/boilerplate relative to the
    corpus, high = out-of-distribution (the CCNet filter bands).

    Plan shape (the 100 TB contract): ONE explode pass builds the
    (doc, token)-grain count table; the corpus LM (token → count) is
    a RE-aggregation of that same grain table — never a second corpus
    scan — and N is one broadcast singleton. The scoring join runs at
    doc-token-type grain keyed by the token, with map-side
    partial_count combines bounding every shuffle at grain
    cardinality, not raw token instances. The grain table is
    persisted because two branches (scoring side, vocab side) consume
    it: without the persist Spark re-runs the corpus explode for the
    vocab branch (source_minhash_overlap precedent — persist pins the second read
    at grain size; at 100 TB the grain spills columnar, still far
    under re-reading raw text). At web scale the vocab join is a
    plain shuffle join on the token; swapping the string key for the
    dedup family's xxhash64 digest spelling applies if profile shows
    the key bytes dominating (SCALE_NOTES digest-applicability rule).

    Determinism: per-term ROUND(c·log2(N/cw), 6) → decimal sum
    (associative) → final ROUND 6; perplexity exponentiates the
    ROUNDED entropy so both engines see identical inputs.

    Zero-token documents have no grain rows and are absent — same
    contract as ``unigram_entropy``.
    """
    d = fan_out(read_table(spark, sf_dir, "documents").select("doc_id", "text"))
    tok = d.select("doc_id", F.explode(TX.tokens("text")).alias("tok"))
    cnt = (
        tok.groupBy("doc_id", "tok").agg(F.count("*").alias("c")).persist()
    )
    vocab = cnt.groupBy("tok").agg(F.sum("c").cast("bigint").alias("cw"))
    tot = vocab.agg(F.sum("cw").cast("bigint").alias("n"))
    term = F.round(
        F.col("c")
        * F.log2(F.col("n").cast("double") / F.col("cw").cast("double")),
        6,
    )
    agg = (
        cnt.join(vocab, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.sum(term.cast("decimal(18,6)")).cast("double").alias("s"),
        )
    )
    h = F.round(F.col("s") / F.col("n_tokens"), 6)
    return agg.select(
        "doc_id",
        "n_tokens",
        h.alias("cross_entropy_bits"),
        F.round(F.pow(F.lit(2.0), h), 6).alias("perplexity"),
    )


# ---------------------------------------------------------------------------
# Four-fifths-rule disparity audit of the quality gate
# ---------------------------------------------------------------------------

_DISP_STRICT = 0.6

_FOUR_FIFTHS = 0.8

_DISPARITY_ORACLE = f"""
WITH q AS (
  SELECT doc_id, quality_score FROM ({_QUALITY_ORACLE})
  WHERE quality_score IS NOT NULL
), labeled AS (
  SELECT d.lang, q.quality_score
  FROM q JOIN documents d USING (doc_id)
), thresholds(threshold) AS (
  -- CAST: DuckDB types bare VALUES literals DECIMAL; Spark's frame
  -- carries DOUBLE and the driver hashes the column's bits
  VALUES (CAST({_CUR_Q_THRESH} AS DOUBLE)), (CAST({_DISP_STRICT} AS DOUBLE))
), rates AS (
  SELECT t.threshold, l.lang,
         COUNT(*) AS n_docs,
         SUM(CASE WHEN l.quality_score >= t.threshold THEN 1 ELSE 0 END)
           AS n_pass
  FROM labeled l CROSS JOIN thresholds t
  GROUP BY t.threshold, l.lang
), mx AS (
  SELECT threshold,
         MAX(CAST(n_pass AS DOUBLE) / n_docs) AS max_rate
  FROM rates GROUP BY threshold
)
SELECT r.threshold, r.lang,
       CAST(r.n_docs AS BIGINT) AS n_docs,
       CAST(r.n_pass AS BIGINT) AS n_pass,
       ROUND(CAST(r.n_pass AS DOUBLE) / r.n_docs, 6) AS pass_rate,
       ROUND(CAST(r.n_pass AS DOUBLE) / r.n_docs / m.max_rate, 6)
         AS impact_ratio,
       (CAST(r.n_pass AS DOUBLE) / r.n_docs / m.max_rate)
         < {_FOUR_FIFTHS} AS below_four_fifths
FROM rates r JOIN mx m USING (threshold)
"""


@register(
    "quality_gate_disparity",
    oracle=_DISPARITY_ORACLE,
    tags=("llm", "validate", "stats"),
)
def quality_gate_disparity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four-fifths-rule disparate-impact audit of the quality gate by
    language, at the REGISTERED curation threshold (curation_pipeline's
    _CUR_Q_THRESH=0.48, IMPORTED so the audit can never drift from
    the gate it audits) and at a stricter candidate 0.6: per (threshold,
    lang) — docs, passes, pass rate, impact ratio vs the
    highest-passing language, and the <0.8 flag. At 0.48 the corpus
    passes the rule; at 0.6 the de rate collapses (≈4% vs ≈19% for
    fr) — the audit shows the PROPOSED tightening, not the current
    gate, is what would turn the quality filter into a language
    filter (the decision-level companion to auc_quality_langid's
    score-level AUC).

    Determinism: rates and ratios are divisions of exact counts in
    fixed order; the max rate over the bounded language domain
    compares identical doubles on both engines.

    Scale: one doc-grain scan crossed with the 2-row threshold frame
    (broadcast), one hash-agg at (threshold × lang) grain — bounded —
    and a broadcast max-rate join. Constant-size output.
    """
    q = (
        quality_scores(spark, sf_dir)
        .select("doc_id", "quality_score")
        .filter(F.col("quality_score").isNotNull())
    )
    d = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    labeled = q.join(d, "doc_id")
    thresholds = F.broadcast(
        labeled.sparkSession.createDataFrame(
            [(float(_CUR_Q_THRESH),), (float(_DISP_STRICT),)], ["threshold"]
        )
    )
    rates = (
        labeled.crossJoin(thresholds)
        .groupBy("threshold", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                (F.col("quality_score") >= F.col("threshold")).cast("int")
            ).alias("n_pass"),
        )
    )
    rate = F.col("n_pass").cast("double") / F.col("n_docs")
    mx = rates.groupBy("threshold").agg(F.max(rate).alias("max_rate"))
    return rates.join(F.broadcast(mx), "threshold").select(
        "threshold",
        "lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_pass").cast("bigint").alias("n_pass"),
        F.round(rate, 6).alias("pass_rate"),
        F.round(rate / F.col("max_rate"), 6).alias("impact_ratio"),
        (rate / F.col("max_rate") < _FOUR_FIFTHS).alias("below_four_fifths"),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprint selection (MOSS)
# ---------------------------------------------------------------------------

_WIN_K = 4  # tokens per gram

_WIN_W = 4  # grams per winnowing window; expected density 2/(w+1) = 0.4

_WINNOW_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKS} AS t FROM documents
), gr AS (
  SELECT doc_id,
         CASE WHEN len(t) >= {_WIN_K} THEN
           list_transform(generate_series(0, len(t) - {_WIN_K}),
             i -> md5(t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]))
         ELSE [] END AS g
  FROM tok
), sel AS (
  SELECT doc_id, len(g) AS n_grams,
         CASE WHEN len(g) >= {_WIN_W} THEN
           list_transform(generate_series(0, len(g) - {_WIN_W}), i ->
             lpad(CAST(i + list_max(list_filter(generate_series(1, {_WIN_W}),
                          j -> g[i+j] = list_min(g[i+1:i+{_WIN_W}]))) AS VARCHAR),
                  6, '0')
             || ':' || list_min(g[i+1:i+{_WIN_W}]))
         ELSE [] END AS s
  FROM gr
)
SELECT doc_id,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(CASE WHEN n_grams >= {_WIN_W} THEN n_grams - {_WIN_W} + 1
                 ELSE 0 END AS BIGINT) AS n_windows,
       CAST(len(list_distinct(s)) AS BIGINT) AS n_fps,
       CAST(len(list_distinct(list_transform(s, x -> x[8:39]))) AS BIGINT)
         AS n_fp_hashes,
       ROUND(CAST(len(list_distinct(s)) AS DOUBLE)
             / NULLIF(CAST(CASE WHEN n_grams >= {_WIN_W}
                                THEN n_grams - {_WIN_W} + 1
                                ELSE 0 END AS DOUBLE), 0.0), 6) AS fp_density
FROM sel
"""


def _gram_hashes(t: Column) -> Column:
    """md5 hashes of the k-gram sequence of a (let-bound) token array.
    Positional — NOT distinct: winnowing selects by position."""
    idx = F.sequence(F.lit(0), F.size(t) - _WIN_K)
    gram = lambda i: F.md5(  # noqa: E731
        F.concat_ws(" ", *[F.element_at(t, i + j + 1) for j in range(_WIN_K)])
    )
    return F.when(F.size(t) >= _WIN_K, F.transform(idx, gram)).otherwise(
        F.array().cast("array<string>")
    )


def _winnow_select(g: Column) -> Column:
    """Per window [i, i+w): encode the selected fingerprint as
    'pos:hash' where pos is the RIGHTMOST position of the window's
    minimum hash (the robust-winnowing tie rule — rightmost keeps the
    selection stable as the window slides)."""

    def pick(i: Column) -> Column:
        return _let(
            F.slice(g, i + 1, _WIN_W),
            lambda s: _let(
                F.array_min(s),
                lambda m: F.concat(
                    F.lpad(
                        (
                            i
                            + F.array_max(
                                F.filter(
                                    F.sequence(F.lit(1), F.lit(_WIN_W)),
                                    lambda j: F.element_at(s, j) == m,
                                )
                            )
                        ).cast("string"),
                        6,
                        "0",
                    ),
                    F.lit(":"),
                    m,
                ),
            ),
        )

    idx = F.sequence(F.lit(0), F.size(g) - _WIN_W)
    return F.when(F.size(g) >= _WIN_W, F.transform(idx, pick)).otherwise(
        F.array().cast("array<string>")
    )


@register(
    "winnowing_fingerprints",
    oracle=_WINNOW_ORACLE,
    tags=("llm", "text", "dedup"),
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection per document: hash every
    {k}-token gram, slide a {w}-gram window, select each window's
    minimum hash (rightmost on ties), and report the selected-set
    sizes and density. The guarantee (Schleimer et al., SIGMOD'03):
    every substring match of ≥ w+k-1 tokens shares at least one
    selected fingerprint, and expected density is 2/(w+1) — so the
    fingerprint index is a CONSTANT-FACTOR sample of the gram stream
    with a recall contract, the storage story that makes
    fingerprint-based near-dup indexes affordable at corpus scale.

    Determinism: grams hash with md5 (identical hex cross-engine);
    the window argmin is a total order (hash string, then RIGHTMOST
    position); selections are encoded 'pos:hash' with zero-padded
    fixed-width positions so distinct-counting is string equality.

    Scale: one narrow projection — everything happens inside
    per-row higher-order expressions (no explode, no shuffle at all:
    the plan is scan → project). Token and gram arrays are let-bound
    (_let) per the lambda-CSE rule; the O(w²) inner argmin runs on
    w=4 elements. Fingerprint-index CONSTRUCTION (explode selected
    fps → invert) would add one hash-shuffle of 0.4×grams rows —
    the density column is exactly the sizing input for that step.
    """
    d = read_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", _let(TX.tokens("text"), _gram_hashes).alias("g")
    )
    sel = base.select(
        "doc_id",
        F.size("g").alias("n_grams"),
        _let(F.col("g"), _winnow_select).alias("s"),
    )
    n_windows = F.when(
        F.col("n_grams") >= _WIN_W, F.col("n_grams") - _WIN_W + 1
    ).otherwise(F.lit(0))
    n_fps = F.size(F.array_distinct("s"))
    return sel.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        n_windows.cast("long").alias("n_windows"),
        n_fps.cast("long").alias("n_fps"),
        F.size(
            F.array_distinct(
                F.transform(F.col("s"), lambda x: F.substring(x, 8, 32))
            )
        )
        .cast("long")
        .alias("n_fp_hashes"),
        F.round(
            n_fps.cast("double")
            / F.nullif(n_windows.cast("double"), F.lit(0.0)),
            6,
        ).alias("fp_density"),
    )


# ---------------------------------------------------------------------------
# BPE pair-merge training (3 unrolled steps at vocabulary grain)
# ---------------------------------------------------------------------------

_BPE_STEPS = 3

# Greedy left-to-right merge of one (l, r) pair in a symbol sequence,
# as a list fold: DuckDB's reduce() has no init accumulator, so the
# init (an empty VARCHAR[]) is PREPENDED as the first element and every
# symbol is lifted to a one-element list — acc and element then share
# the VARCHAR[] type the lambda needs.
_SQL_MERGE_FOLD = (
    "reduce(list_concat([CAST([] AS VARCHAR[])],"
    " list_transform(syms, s -> [s])),"
    " (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = {b}.l AND x[1] = {b}.r"
    " THEN list_concat(acc[1:len(acc)-1], [{b}.l || {b}.r])"
    " ELSE list_concat(acc, x) END)"
)


def _sql_bpe_step(s: int, prev: str) -> str:
    """One unrolled BPE training step: pair counts over vocab `prev`,
    argmax CTE b{s}, merged vocab v{s}."""
    return f"""p{s} AS (
  SELECT s.l AS l, s.r AS r, CAST(SUM(wfreq) AS BIGINT) AS pair_count
  FROM (
    SELECT wfreq,
           unnest(CASE WHEN len(syms) >= 2 THEN
                    list_transform(generate_series(1, len(syms) - 1),
                      i -> {{'l': syms[i], 'r': syms[i+1]}})
                  ELSE [] END) AS s
    FROM {prev})
  GROUP BY s.l, s.r
), b{s} AS (
  SELECT l, r, pair_count FROM p{s}
  ORDER BY pair_count DESC, l, r LIMIT 1
), v{s} AS (
  SELECT word, wfreq, {_SQL_MERGE_FOLD.format(b=f'b{s}')} AS syms
  FROM {prev}, b{s}
)"""


_BPE_ORACLE = (
    f"""WITH words AS (
  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS wfreq
  FROM (SELECT unnest({_SQL_TOKS}) AS w FROM documents)
  GROUP BY w
), v0 AS (
  SELECT word, wfreq,
         list_transform(generate_series(1, len(word)), i -> word[i:i]) AS syms
  FROM words
), """
    + ",\n".join(
        _sql_bpe_step(s, f"v{s - 1}") for s in range(1, _BPE_STEPS + 1)
    )
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT CAST({s} AS INTEGER) AS step, l AS left_sym, r AS right_sym,"
        f" l || r AS merged_sym, pair_count FROM b{s}"
        for s in range(1, _BPE_STEPS + 1)
    )
)


def _merge_fold(syms: Column, pa: Column, pb: Column) -> Column:
    """Greedy left-to-right merge of adjacent (pa, pb) into pa||pb —
    the exact merge rule BPE training applies per step. try_element_at
    (ANSI-neutral) for the peek at acc's last element; the when()
    branches both stay index-safe on the empty accumulator."""

    def step(acc: Column, s: Column) -> Column:
        last = F.try_element_at(acc, F.lit(-1))
        return F.when(
            (F.size(acc) > 0) & (last == pa) & (s == pb),
            F.concat(
                F.slice(acc, 1, F.greatest(F.size(acc) - 1, F.lit(0))),
                F.array(F.concat(last, s)),
            ),
        ).otherwise(F.concat(acc, F.array(s)))

    return F.aggregate(syms, F.array().cast("array<string>"), step)


@register(
    "bpe_merge_training", oracle=_BPE_ORACLE, tags=("llm", "text", "agg")
)
def bpe_merge_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding TRAINING: starting from character symbols,
    three unrolled merge steps — each counts adjacent symbol pairs
    over the frequency-weighted vocabulary, takes the most frequent
    pair (count DESC, then lexicographic — a total order), and merges
    it greedily left-to-right in every word. Output: one row per
    learned merge (step, pair, merged symbol, weighted count) — the
    merge table that the apply-side ``bpe_token_count`` consumes.

    Scale: this is the shape real BPE trainers (SentencePiece et al.)
    exploit — after ONE corpus-grain hash-agg (token → frequency),
    every step runs at VOCABULARY grain: pair counting explodes
    |V|·avg_len rows, the argmax is a TakeOrdered of the pair-stat
    frame, and the merge applies via a broadcast of the 1-ROW winner
    crossed into the vocab frame — no driver loop, no collect; the
    whole 3-step training is one Catalyst DAG. At 100 TB the corpus
    agg dominates and is embarrassingly partial-aggregable; vocab
    work is constant in corpus size.

    Fold semantics pinned cross-engine: greedy left-to-right ('a a a'
    with merge (a,a) → ['aa','a'], never ['a','aa']) — the Spark
    F.aggregate fold and the DuckDB reduce() (init prepended, symbols
    lifted to singleton lists) walk the same chain.
    """
    d = read_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(TX.tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("wfreq"))
        .select(
            "word",
            "wfreq",
            F.transform(
                F.sequence(F.lit(1), F.length("word")),
                lambda i: F.substring(F.col("word"), i, F.lit(1)),
            ).alias("syms"),
        )
        # vocab-grain frames are consumed by BOTH the step's pair-stat
        # agg and the next step's merge lineage; a lazy superstep chain
        # would re-execute the corpus scan once per branch (1+2+4
        # TakeOrdered for 3 steps — the iterative-chain re-execution
        # trap). localCheckpoint (the CC-loop convention) materializes
        # the |V|-row frame AND truncates the plan so the per-step
        # lineage stays constant-size.
        .localCheckpoint()
    )

    step_rows: list[DataFrame] = []
    cur = vocab
    for s in range(1, _BPE_STEPS + 1):
        sy = F.col("syms")
        pair_arr = F.when(
            F.size(sy) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(sy) - 1),
                lambda i: F.struct(
                    F.element_at(sy, i).alias("l"),
                    F.element_at(sy, i + 1).alias("r"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
        stats = (
            cur.select("wfreq", F.explode(pair_arr).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("wfreq").cast("long").alias("pair_count"))
        )
        # consumed twice (output row + next step's merge):
        # localCheckpoint the 1-row argmax so each step's stats agg
        # runs exactly once and the unrolled plan doesn't nest
        best = (
            stats.orderBy(F.desc("pair_count"), "l", "r")
            .limit(1)
            .localCheckpoint()
        )
        step_rows.append(
            best.select(
                F.lit(s).cast("int").alias("step"),
                F.col("l").alias("left_sym"),
                F.col("r").alias("right_sym"),
                F.concat("l", "r").alias("merged_sym"),
                "pair_count",
            )
        )
        if s < _BPE_STEPS:
            b = F.broadcast(
                best.select(
                    F.col("l").alias("_pa"), F.col("r").alias("_pb")
                )
            )
            cur = (
                cur.crossJoin(b)
                .select(
                    "word",
                    "wfreq",
                    _merge_fold(
                        F.col("syms"), F.col("_pa"), F.col("_pb")
                    ).alias("syms"),
                )
                .localCheckpoint()
            )

    out = step_rows[0]
    for extra in step_rows[1:]:
        out = out.unionAll(extra)
    return out


# ---------------------------------------------------------------------------
# RAKE keyword extraction
# ---------------------------------------------------------------------------

_RAKE_TOPN = 15

_SQL_RAKE_STOPS = ", ".join(f"'{w}'" for w in _STOPWORDS)

_RAKE_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKS} AS t FROM documents
), tk AS (
  SELECT doc_id, s.pos AS pos, s.tok AS tok,
         CASE WHEN s.tok IN ({_SQL_RAKE_STOPS}) THEN 1 ELSE 0 END AS is_stop
  FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(t)),
                                 i -> {{'pos': i, 'tok': t[i]}})) AS s
    FROM tok)
), ph AS (
  SELECT doc_id, pos, tok,
         SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS phrase_id
  FROM tk
  QUALIFY is_stop = 0
), mem AS (
  SELECT doc_id, phrase_id, pos, tok,
         COUNT(*) OVER (PARTITION BY doc_id, phrase_id) AS plen
  FROM ph
), ws AS (
  SELECT tok,
         ROUND(CAST(SUM(plen) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
           AS wscore
  FROM mem GROUP BY tok
), phrases AS (
  SELECT doc_id, phrase_id, string_agg(tok, ' ' ORDER BY pos) AS phrase
  FROM mem GROUP BY doc_id, phrase_id
), pc AS (
  SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occ FROM phrases GROUP BY phrase
), scored AS (
  SELECT pc.phrase, pc.n_occ,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(CAST(ws.wscore AS DECIMAL(18,6))) AS DOUBLE) AS score
  FROM (SELECT phrase, n_occ, unnest(string_split(phrase, ' ')) AS w
        FROM pc) pc
  JOIN ws ON ws.tok = pc.w
  GROUP BY pc.phrase, pc.n_occ
)
SELECT phrase, n_words, n_occ, score
FROM scored
ORDER BY score DESC, phrase
LIMIT {_RAKE_TOPN}
"""


@register("rake_keywords", oracle=_RAKE_ORACLE, tags=("llm", "text"))
def rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction over the corpus: documents split into
    candidate phrases at stopword boundaries (gaps-and-islands via a
    per-doc prefix sum of the stopword indicator), each word scored
    degree/frequency (degree = Σ phrase length over its phrase
    occurrences — co-occurrence including self), each distinct phrase
    scored as the sum of member-word scores, top-{n} emitted with
    corpus occurrence counts.

    Determinism: word scores are ROUND-6 divisions of exact BIGINTs;
    the phrase score sums those 6-dp terms in DECIMAL(18,6) — exact
    and member-order-free — then casts to DOUBLE; the top-{n} order
    (score DESC, phrase ASC) is total because phrases are distinct.

    Scale: one posexplode (corpus-token grain) feeds a doc-partitioned
    prefix-sum window — the per-doc sort is Spark's standard
    window-exec path, bounded by document length; word stats are one
    vocabulary-grain hash-agg; phrase scoring re-joins members to the
    vocabulary-sized score table via BROADCAST; the final top-15 is a
    TakeOrderedAndProject, never a global sort.
    """
    d = read_table(spark, sf_dir, "documents")
    tk = d.select(
        "doc_id", F.posexplode(TX.tokens("text")).alias("pos", "tok")
    ).withColumn(
        "is_stop", F.when(F.col("tok").isin(_STOPWORDS), 1).otherwise(0)
    )
    w_prefix = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    mem = (
        tk.withColumn("phrase_id", F.sum("is_stop").over(w_prefix))
        .filter(F.col("is_stop") == 0)
        .select("doc_id", "phrase_id", "pos", "tok")
        .withColumn(
            "plen",
            F.count("*").over(Window.partitionBy("doc_id", "phrase_id")),
        )
    )
    ws = mem.groupBy("tok").agg(
        F.round(
            F.sum("plen").cast("double") / F.count("*").cast("double"), 6
        ).alias("wscore")
    )
    phrases = mem.groupBy("doc_id", "phrase_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("phrase")
    )
    pc = phrases.groupBy("phrase").agg(
        F.count("*").cast("long").alias("n_occ")
    )
    scored = (
        pc.select(
            "phrase", "n_occ", F.explode(F.split("phrase", " ")).alias("w")
        )
        .join(F.broadcast(ws), F.col("w") == F.col("tok"))
        .groupBy("phrase", "n_occ")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum(F.col("wscore").cast("decimal(18,6)"))
            .cast("double")
            .alias("score"),
        )
    )
    return scored.select("phrase", "n_words", "n_occ", "score").orderBy(
        F.desc("score"), "phrase"
    ).limit(_RAKE_TOPN)


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram LM, scored per source
# ---------------------------------------------------------------------------

_KN_D = 0.75

# Bigram extraction as a SQL fragment (grain columns prepended by the
# caller): s.v / s.w from the per-doc adjacent-pair list. Shared with
# perplexity_outlier_gate, the doc-grain gate.
_KN_PAIR_SQL = (
    "unnest(CASE WHEN len(t) >= 2 THEN"
    " list_transform(generate_series(1, len(t) - 1),"
    " i -> {'v': t[i], 'w': t[i+1]})"
    " ELSE [] END) AS s"
)

# The KN model CTE chain given an existing cvw(v, w, c_vw) CTE —
# shared verbatim by kneser_ney_bigram_lm (per source) and
# perplexity_outlier_gate (per doc) so the probability spelling can never fork.
_KN_MODEL_FROM_CVW_CTES = f"""ctx AS (
  SELECT v, CAST(SUM(c_vw) AS BIGINT) AS c_v,
         CAST(COUNT(*) AS BIGINT) AS n1p_v
  FROM cvw GROUP BY v
), cont AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS n1p_w FROM cvw GROUP BY w
), tt AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS t_types FROM cvw
), model AS (
  SELECT m.v, m.w,
         ((CAST(m.c_vw AS DOUBLE) - {_KN_D}) / CAST(x.c_v AS DOUBLE))
         + ((({_KN_D} * CAST(x.n1p_v AS DOUBLE)) / CAST(x.c_v AS DOUBLE))
            * (CAST(co.n1p_w AS DOUBLE) / CAST(t.t_types AS DOUBLE))) AS p
  FROM cvw m
  JOIN ctx x ON m.v = x.v
  JOIN cont co ON m.w = co.w
  CROSS JOIN tt t
)"""

_KN_ORACLE = rf"""
WITH tok AS (
  SELECT source, {_SQL_TOKS} AS t FROM documents
), bg AS (
  SELECT source, s.v AS v, s.w AS w
  FROM (SELECT source, {_KN_PAIR_SQL} FROM tok)
), cs AS (
  SELECT source, v, w, CAST(COUNT(*) AS BIGINT) AS c_s
  FROM bg GROUP BY source, v, w
), cvw AS (
  SELECT v, w, CAST(SUM(c_s) AS BIGINT) AS c_vw FROM cs GROUP BY v, w
), {_KN_MODEL_FROM_CVW_CTES}, ev AS (
  SELECT cs.source,
         CAST(SUM(cs.c_s) AS BIGINT) AS n_bigrams,
         CAST(SUM(CAST(ROUND(CAST(cs.c_s AS DOUBLE) * log2(md.p), 6)
                       AS DECIMAL(18,6))) AS DOUBLE) AS s
  FROM cs JOIN model md ON cs.v = md.v AND cs.w = md.w
  GROUP BY cs.source
)
SELECT source, n_bigrams,
       ROUND(-(s) / CAST(n_bigrams AS DOUBLE), 6) AS cross_entropy_bits,
       ROUND(POWER(2.0, ROUND(-(s) / CAST(n_bigrams AS DOUBLE), 6)), 6)
         AS perplexity
FROM ev
"""


def kn_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, v, w) — one row per within-doc adjacent token
    pair. The let-bound pair extraction shared by the per-source LM
    here and perplexity_outlier_gate's per-doc gate (SQL twin:
    ``_KN_PAIR_SQL``)."""
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", TX.tokens("text").alias("t")
    )

    def pair_arr(t: Column) -> Column:
        return F.when(
            F.size(t) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.struct(
                    F.element_at(t, i).alias("v"),
                    F.element_at(t, i + 1).alias("w"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<v:string,w:string>>"))

    return d.select(
        "doc_id", "source", F.explode(TX._let(F.col("t"), pair_arr)).alias("p")
    ).select(
        "doc_id", "source", F.col("p.v").alias("v"), F.col("p.w").alias("w")
    )


def kn_model_from_cvw(cvw: DataFrame) -> DataFrame:
    """(v, w, p) interpolated-KN probabilities from a bigram-type count
    frame cvw(v, w, c_vw) — the ONE place the probability expression
    lives engine-side (SQL twin: ``_KN_MODEL_FROM_CVW_CTES``). The
    parenthesization is pinned to the oracle's; both engines walk the
    identical IEEE expression tree over exact-integer ratios."""
    ctx = cvw.groupBy("v").agg(
        F.sum("c_vw").cast("long").alias("c_v"),
        F.count("*").cast("long").alias("n1p_v"),
    )
    cont = cvw.groupBy("w").agg(F.count("*").cast("long").alias("n1p_w"))
    tt = cvw.agg(F.count("*").cast("long").alias("t_types"))
    p = (
        (F.col("c_vw").cast("double") - F.lit(_KN_D))
        / F.col("c_v").cast("double")
    ) + (
        (
            (F.lit(_KN_D) * F.col("n1p_v").cast("double"))
            / F.col("c_v").cast("double")
        )
        * (F.col("n1p_w").cast("double") / F.col("t_types").cast("double"))
    )
    return (
        cvw.join(ctx, "v")
        .join(cont, "w")
        .crossJoin(F.broadcast(tt))
        .select("v", "w", p.alias("p"))
    )


@register(
    "kneser_ney_bigram_lm", oracle=_KN_ORACLE, tags=("llm", "text", "stats")
)
def kneser_ney_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM trained on the whole corpus,
    evaluated per source: P(w|v) = (c(v,w) − D)/c(v) +
    (D·N1+(v,·)/c(v)) · N1+(·,w)/|bigram types|, D = {d}. Since every
    evaluated bigram is in the training counts, c(v,w) ≥ 1 > D and the
    discount max(·,0) is vacuous — noted so the oracle can share the
    unguarded spelling. Per-source cross-entropy (bits/bigram) and
    perplexity localize which source a corpus-level LM fits worst —
    the source-quality triage signal next to ``source_jsd_matrix``'s
    distributional distances and ``doc_lm_cross_entropy``'s
    unigram-MLE self-entropy.

    Determinism: every model probability is an IEEE expression over
    exact-integer ratios with the SAME parenthesization in both
    engines; log₂ terms are weighted (c_s·log₂ p), ROUND 6, summed in
    DECIMAL(18,6); the final −S/M division and 2^H are single ops on
    already-rounded values.

    Scale: the classic distributed n-gram estimation shape — ONE
    corpus-grain explode feeds a (source, v, w) hash-agg; everything
    after runs at BIGRAM-TYPE grain (c(v,w) by summing source cells,
    context totals/type counts by two more hash-aggs, the |T|
    singleton broadcast). The eval join is type-grain × #sources.
    The (source,v,w) frame is localCheckpoint-materialized: it feeds
    both the model chain and the eval join, and the model lineage
    must not re-run the corpus explode per consumer.
    """
    bg = kn_bigrams(spark, sf_dir).select("source", "v", "w")
    cs = (
        bg.groupBy("source", "v", "w")
        .agg(F.count("*").cast("long").alias("c_s"))
        .localCheckpoint()
    )
    cvw = cs.groupBy("v", "w").agg(F.sum("c_s").cast("long").alias("c_vw"))
    model = kn_model_from_cvw(cvw)
    ev = (
        cs.join(model, ["v", "w"])
        .groupBy("source")
        .agg(
            F.sum("c_s").cast("long").alias("n_bigrams"),
            F.sum(
                F.round(
                    F.col("c_s").cast("double") * F.log2("p"), 6
                ).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("s"),
        )
    )
    h = F.round(-F.col("s") / F.col("n_bigrams").cast("double"), 6)
    return ev.select(
        "source",
        "n_bigrams",
        h.alias("cross_entropy_bits"),
        F.round(F.pow(F.lit(2.0), h), 6).alias("perplexity"),
    )


# ---------------------------------------------------------------------------
# Train/val/test near-dup leakage audit
# ---------------------------------------------------------------------------

_LEAK_ORACLE = rf"""
WITH {CC_EDGES_SQL_CTES}, all_pairs AS (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL
  SELECT doc_a, doc_b FROM exact_pairs
), sp AS (
  SELECT doc_id,
         CASE WHEN {sql_knuth_bucket('doc_id', 100)} < 80 THEN 0
              WHEN {sql_knuth_bucket('doc_id', 100)} < 90 THEN 1
              ELSE 2 END AS r
  FROM documents
), j AS (
  SELECT LEAST(sa.r, sb.r) AS lo, GREATEST(sa.r, sb.r) AS hi
  FROM all_pairs p
  JOIN sp sa ON p.doc_a = sa.doc_id
  JOIN sp sb ON p.doc_b = sb.doc_id
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM j
)
SELECT
  CASE lo WHEN 0 THEN 'train' WHEN 1 THEN 'val' ELSE 'test' END AS split_a,
  CASE hi WHEN 0 THEN 'train' WHEN 1 THEN 'val' ELSE 'test' END AS split_b,
  CAST(COUNT(*) AS BIGINT) AS n_dup_pairs,
  CAST(CASE WHEN lo <> hi THEN 1 ELSE 0 END AS INTEGER) AS is_leak,
  ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(t.n AS DOUBLE), 6) AS share
FROM j CROSS JOIN tot t
GROUP BY lo, hi, t.n
"""


@register(
    "split_leakage_audit", oracle=_LEAK_ORACLE, tags=("llm", "dedup", "sample")
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate leakage across the registered 80/10/10 Knuth
    split: the engine's full duplicate-pair set — LSH-verified
    J ≥ ½ pairs among exact-collapsed representatives PLUS
    (representative, copy) pairs for byte-identical duplicates (the
    same edge set dedup_connected_components closes over) — is
    crossed with each endpoint's split assignment, and pair counts
    are reported per unordered split pair with the leak flag and
    share. Any (train, val)/(train, test)/(val, test) row with
    n_dup_pairs > 0 is memorization leakage the per-split token
    stats cannot see; the fix (dedup BEFORE splitting, or split by
    near-dup COMPONENT rather than doc) is exactly what
    ``cc_canonical_selection`` implements.

    Determinism: split membership is the width-safe Knuth bucket
    (pure integer algebra); pair normalization LEAST/GREATEST on the
    integer split rank; counts exact; one ROUND-6 share division.

    Scale: the pair set is band-bucketed LSH output (never O(n²));
    split assignment is a pure projection joined at pair grain; the
    final agg is a ≤6-row frame with a singleton total broadcast.
    """
    # r13 (verdict task 3): the near and exact lineages share ONE
    # exact-dup collapse via _rep_frames — the old spelling re-scanned
    # documents and re-ran the text-grain groupBy that _rep_features
    # had already computed inside dedup_minhash_lsh (a duplicated
    # scan+aggregate subtree in this query's plan, bench top-3).
    rep, feats, exact = _rep_frames(spark, sf_dir)
    feats = feats.persist()
    near = dedup_minhash_lsh(spark, sf_dir, feats=feats).select(
        "doc_a", "doc_b"
    )
    all_pairs = near.unionByName(exact)
    sp = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(knuth_bucket("doc_id", 100) < 80, 0)
        .when(knuth_bucket("doc_id", 100) < 90, 1)
        .otherwise(2)
        .alias("r"),
    )
    sa = sp.select(F.col("doc_id").alias("doc_a"), F.col("r").alias("ra"))
    sb = sp.select(F.col("doc_id").alias("doc_b"), F.col("r").alias("rb"))
    j = (
        all_pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("ra", "rb").alias("lo"), F.greatest("ra", "rb").alias("hi")
        )
    )
    grouped = j.groupBy("lo", "hi").agg(
        F.count("*").cast("long").alias("n_dup_pairs")
    )
    tot = grouped.agg(F.sum("n_dup_pairs").cast("long").alias("n"))
    name = lambda c: (  # noqa: E731
        F.when(F.col(c) == 0, "train").when(F.col(c) == 1, "val").otherwise("test")
    )
    return (
        grouped.crossJoin(F.broadcast(tot))
        .select(
            name("lo").alias("split_a"),
            name("hi").alias("split_b"),
            "n_dup_pairs",
            F.when(F.col("lo") != F.col("hi"), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_leak"),
            F.round(
                F.col("n_dup_pairs").cast("double") / F.col("n").cast("double"),
                6,
            ).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# Component-keyed (leakage-free) split assignment
# ---------------------------------------------------------------------------

_CSPLIT_ORACLE = rf"""
WITH RECURSIVE {CC_EDGES_SQL_CTES}, reach(doc_id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.doc_id = e.dst
), comp AS (
  SELECT doc_id, MIN(r) AS component_id FROM reach GROUP BY doc_id
), asg AS (
  SELECT c.doc_id, c.component_id,
         CASE WHEN {sql_knuth_bucket('c.component_id', 100)} < 80 THEN 0
              WHEN {sql_knuth_bucket('c.component_id', 100)} < 90 THEN 1
              ELSE 2 END AS r
  FROM comp c
), all_pairs AS (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL
  SELECT doc_a, doc_b FROM exact_pairs
), leak AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_leak
  FROM all_pairs p
  JOIN asg sa ON p.doc_a = sa.doc_id
  JOIN asg sb ON p.doc_b = sb.doc_id
  WHERE sa.r <> sb.r
), stats AS (
  SELECT a.r,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT a.component_id) AS BIGINT) AS n_components,
         CAST(SUM(len({_SQL_TOKS})) AS BIGINT) AS n_tokens
  FROM asg a JOIN documents USING (doc_id)
  GROUP BY a.r
)
SELECT CASE s.r WHEN 0 THEN 'train' WHEN 1 THEN 'val' ELSE 'test' END AS split,
       s.n_docs, s.n_components, s.n_tokens, l.n_leak AS n_leak_pairs
FROM stats s CROSS JOIN leak l
"""


@register(
    "component_split_assign",
    oracle=_CSPLIT_ORACLE,
    tags=("llm", "dedup", "sample", "iterative"),
)
def component_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free 80/10/10 split: hash the near-dup COMPONENT id
    (dedup_connected_components — smallest reachable doc_id over the
    registered LSH + exact-dup edge set) through the width-safe Knuth
    bucket, so a duplicate cluster can never straddle splits. Output:
    per-split documents / components / tokens, plus the re-run leak
    count over the full duplicate-pair set — structurally ZERO
    (both endpoints of every pair share a component, hence a split),
    the closing half of the audit→fix pair with
    ``split_leakage_audit`` (which measures the doc-keyed split's
    actual leakage on the same pair set).

    Scale: component labels are the CC output (edge-bounded label
    propagation); assignment is a pure projection on the label;
    per-split stats are one hash-agg over the doc-grain join of
    assignment × documents; the leak re-check joins the sparse pair
    set against the node-sized assignment twice. The pair set and
    assignment are the ONLY shuffled frames; no corpus self-join.
    """
    edges = cc_edge_set(spark, sf_dir)
    comp = dedup_connected_components(
        spark, sf_dir, edges=edges
    ).localCheckpoint()
    asg = comp.select(
        "doc_id",
        "component_id",
        F.when(knuth_bucket("component_id", 100) < 80, 0)
        .when(knuth_bucket("component_id", 100) < 90, 1)
        .otherwise(2)
        .alias("r"),
    )
    # near pairs have doc_a < doc_b and exact pairs rep < copy, so the
    # src < dst half of the symmetric edge set IS the undirected pair
    # union — one filter of the already-checkpointed frame instead of
    # a second LSH verify pass. localCheckpoint the sparse pair half
    # so the caller-owned edges cache can be released NOW (comp is
    # already checkpointed): without the unpersist the entry leaked
    # for the whole session (cc_superstep_convergence
    # releases the same frame — round-8 advisor finding).
    all_pairs = (
        edges.filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("doc_a"), F.col("dst").alias("doc_b"))
        .localCheckpoint()
    )
    edges.unpersist()
    sa = asg.select(F.col("doc_id").alias("doc_a"), F.col("r").alias("ra"))
    sb = asg.select(F.col("doc_id").alias("doc_b"), F.col("r").alias("rb"))
    leak = (
        all_pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("ra") != F.col("rb"))
        .agg(F.count("*").cast("long").alias("n_leak"))
    )
    stats = (
        asg.join(
            read_table(spark, sf_dir, "documents").select(
                "doc_id", F.size(tokens("text")).alias("n_toks")
            ),
            "doc_id",
        )
        .groupBy("r")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("component_id").cast("long").alias("n_components"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
        )
    )
    name = (
        F.when(F.col("r") == 0, "train")
        .when(F.col("r") == 1, "val")
        .otherwise("test")
    )
    return stats.crossJoin(F.broadcast(leak)).select(
        name.alias("split"),
        "n_docs",
        "n_components",
        "n_tokens",
        F.col("n_leak").alias("n_leak_pairs"),
    )


# ---------------------------------------------------------------------------
# DSIR hashed-unigram importance weights
# ---------------------------------------------------------------------------

_DSIR_B = 64  # hash buckets

_DSIR_TARGET_LANG = "en"

_SQL_DSIR_BUCKET = (
    f"CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % {_DSIR_B}"
)

_DSIR_ORACLE = rf"""
WITH tk AS (
  SELECT doc_id, source, lang, unnest({_SQL_TOKS}) AS tok FROM documents
), bk AS (
  SELECT doc_id, source, lang, {_SQL_DSIR_BUCKET} AS b FROM tk
), raw AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM bk GROUP BY b
), tgt AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS ct
  FROM bk WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY b
), tot AS (
  SELECT CAST(SUM(cr) AS BIGINT) AS nr,
         (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) FROM tgt) AS nt
  FROM raw
), bw AS (
  SELECT r.b,
         ROUND(log2((CAST(COALESCE(t.ct, 0) AS DOUBLE) + 1.0)
                    / (CAST(o.nt AS DOUBLE) + {_DSIR_B}.0))
               - log2((CAST(r.cr AS DOUBLE) + 1.0)
                      / (CAST(o.nr AS DOUBLE) + {_DSIR_B}.0)), 6) AS lw
  FROM raw r LEFT JOIN tgt t ON r.b = t.b CROSS JOIN tot o
), docw AS (
  SELECT bk.doc_id, bk.source,
         CAST(SUM(CAST(bw.lw AS DECIMAL(18,6))) AS DOUBLE) AS logw
  FROM bk JOIN bw ON bk.b = bw.b
  GROUP BY bk.doc_id, bk.source
), thr AS (
  SELECT percentile_disc(0.75) WITHIN GROUP (ORDER BY logw) AS q75 FROM docw
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN d.logw >= t.q75 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_selected,
       ROUND(CAST(SUM(CASE WHEN d.logw >= t.q75 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS sel_rate,
       CAST(SUM(CAST(ROUND(d.logw, 6) AS DECIMAL(18,6))) AS DOUBLE)
         AS sum_logw
FROM docw d CROSS JOIN thr t
GROUP BY d.source
"""


@register(
    "dsir_importance_weights",
    oracle=_DSIR_ORACLE,
    tags=("llm", "sample", "stats"),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights: every document scores
    log₂ p_target(x)/p_raw(x) under hashed-unigram bag-of-words
    models — tokens hash into {B} md5 buckets, bucket distributions
    are Laplace-smoothed counts over the TARGET slice (lang='{t}')
    and the RAW corpus, and a doc's weight is the sum of its tokens'
    per-bucket log-ratios. Reported per source with the top-quartile
    (logw ≥ P75) selection rate — the "resample the corpus toward
    the target domain" knob, next to the quality gate (absolute
    quality) and contamination gate (benchmark overlap).

    Determinism: buckets via the engine-portable conv/md5-prefix
    integer hash; bucket probabilities are Laplace integer ratios;
    the per-bucket log-ratio is ROUND 6 ONCE (each token occurrence
    then contributes an exact DECIMAL term); doc weights sum those
    decimals; the P75 threshold is percentile_disc — an actual data
    value, compared exactly.

    Scale: the DSIR shape is why it runs at pretraining scale — two
    hash-aggs to a {B}-row bucket table, a BROADCAST of those {B}
    rows back onto the token stream, and one doc-grain agg. No
    per-doc model, no pairwise anything. The P75 selection threshold
    is one corpus-wide percentile buffer (the documented
    approx-percentile substitution applies at 100 TB).
    """
    d = read_table(spark, sf_dir, "documents")
    bk = d.select(
        "doc_id",
        "source",
        "lang",
        F.explode(tokens("text")).alias("tok"),
    ).select(
        "doc_id",
        "source",
        "lang",
        (
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
            % _DSIR_B
        ).alias("b"),
    )
    raw = bk.groupBy("b").agg(F.count("*").cast("long").alias("cr"))
    tgt = (
        bk.filter(F.col("lang") == _DSIR_TARGET_LANG)
        .groupBy("b")
        .agg(F.count("*").cast("long").alias("ct"))
    )
    nr = raw.agg(F.sum("cr").cast("long").alias("nr"))
    nt = tgt.agg(F.coalesce(F.sum("ct"), F.lit(0)).cast("long").alias("nt"))
    lw = F.round(
        F.log2(
            (F.coalesce(F.col("ct"), F.lit(0)).cast("double") + F.lit(1.0))
            / (F.col("nt").cast("double") + F.lit(float(_DSIR_B)))
        )
        - F.log2(
            (F.col("cr").cast("double") + F.lit(1.0))
            / (F.col("nr").cast("double") + F.lit(float(_DSIR_B)))
        ),
        6,
    )
    bw = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nt))
        .select("b", lw.alias("lw"))
    )
    docw = (
        bk.join(F.broadcast(bw), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.sum(F.col("lw").cast("decimal(18,6)"))
            .cast("double")
            .alias("logw")
        )
    )
    thr = docw.agg(
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY logw)").alias(
            "q75"
        )
    )
    sel = F.when(F.col("logw") >= F.col("q75"), 1).otherwise(0)
    return (
        docw.crossJoin(F.broadcast(thr))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(sel).cast("long").alias("n_selected"),
            F.round(
                F.sum(sel).cast("double") / F.count("*").cast("double"), 6
            ).alias("sel_rate"),
            F.sum(F.round("logw", 6).cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_logw"),
        )
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity outlier gate
# ---------------------------------------------------------------------------

_PPL_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, source, {_SQL_TOKS} AS t FROM documents
), bg AS (
  SELECT doc_id, source, s.v AS v, s.w AS w
  FROM (SELECT doc_id, source, {_KN_PAIR_SQL} FROM tok)
), cd AS (
  SELECT doc_id, source, v, w, CAST(COUNT(*) AS BIGINT) AS c_d
  FROM bg GROUP BY doc_id, source, v, w
), cvw AS (
  SELECT v, w, CAST(SUM(c_d) AS BIGINT) AS c_vw FROM cd GROUP BY v, w
), {_KN_MODEL_FROM_CVW_CTES}, doch AS (
  SELECT cd.doc_id, cd.source,
         -(CAST(SUM(CAST(ROUND(CAST(cd.c_d AS DOUBLE) * log2(md.p), 6)
                         AS DECIMAL(18,6))) AS DOUBLE))
           / CAST(SUM(cd.c_d) AS DOUBLE) AS h
  FROM cd JOIN model md ON cd.v = md.v AND cd.w = md.w
  GROUP BY cd.doc_id, cd.source
), fen AS (
  SELECT percentile_disc(0.25) WITHIN GROUP (ORDER BY h) AS q1,
         percentile_disc(0.75) WITHIN GROUP (ORDER BY h) AS q3
  FROM doch
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN d.h > f.q3 + 1.5 * (f.q3 - f.q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       ROUND(CAST(SUM(CASE WHEN d.h > f.q3 + 1.5 * (f.q3 - f.q1)
                           THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS flag_rate,
       ROUND(f.q1, 6) AS h_q1,
       ROUND(f.q3, 6) AS h_q3,
       ROUND(f.q3 + 1.5 * (f.q3 - f.q1), 6) AS fence_hi
FROM doch d CROSS JOIN fen f
GROUP BY d.source, f.q1, f.q3
"""


@register(
    "perplexity_outlier_gate",
    oracle=_PPL_ORACLE,
    tags=("llm", "text", "stats", "gate"),
)
def perplexity_outlier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity gate: per-document cross-entropy (bits
    per bigram) under the corpus-trained interpolated Kneser-Ney
    bigram model — the SAME probability expression
    ``kneser_ney_bigram_lm`` registers, via the shared
    ``kn_model_from_cvw`` — Tukey-fenced at q3 + 1.5·IQR over the
    per-doc distribution; per-source flag counts with the global
    fences. Perplexity filtering catches gibberish and boilerplate
    the surface-heuristic quality score misses (both directions:
    CCNet keeps the LOW-perplexity head; the high fence here flags
    the un-language-like tail the curation gate should drop). Docs
    with < 2 tokens have no bigrams and are out of the gate's domain
    (none exist in the corpus fixture).

    Determinism: per-doc H = −(Σ ROUND-6 decimal terms)/M is exact
    up to one IEEE division (identical cross-engine since the
    decimal sum and BIGINT M are bit-equal); fences are
    percentile_disc data values combined in one pinned expression;
    the flag compares those exact doubles. ROUND 6 at output only.

    Scale: model estimation is the KN shape (type-grain hash-aggs +
    a singleton broadcast); per-doc eval joins the doc-grain count
    frame to the type-grain model and re-aggregates to docs; fences
    are one two-cut percentile buffer over the doc-grain H column
    (single buffer via the array form if it ever matters; the
    approx substitution is documented for 100 TB). The doc-grain
    count frame is localCheckpoint-materialized — it feeds the model
    chain AND the eval join.
    """
    cd = (
        kn_bigrams(spark, sf_dir)
        .groupBy("doc_id", "source", "v", "w")
        .agg(F.count("*").cast("long").alias("c_d"))
        .localCheckpoint()
    )
    cvw = cd.groupBy("v", "w").agg(F.sum("c_d").cast("long").alias("c_vw"))
    model = kn_model_from_cvw(cvw)
    doch = (
        cd.join(model, ["v", "w"])
        .groupBy("doc_id", "source")
        .agg(
            (
                -F.sum(
                    F.round(
                        F.col("c_d").cast("double") * F.log2("p"), 6
                    ).cast("decimal(18,6)")
                ).cast("double")
                / F.sum("c_d").cast("double")
            ).alias("h")
        )
    )
    fen = doch.agg(
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY h)").alias("q1"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY h)").alias("q3"),
    )
    fence_hi = F.col("q3") + F.lit(1.5) * (F.col("q3") - F.col("q1"))
    flag = F.when(F.col("h") > fence_hi, 1).otherwise(0)
    return (
        doch.crossJoin(F.broadcast(fen))
        .groupBy("source", "q1", "q3")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(flag).cast("long").alias("n_flagged"),
            F.round(
                F.sum(flag).cast("double") / F.count("*").cast("double"), 6
            ).alias("flag_rate"),
        )
        .select(
            "source",
            "n_docs",
            "n_flagged",
            "flag_rate",
            F.round("q1", 6).alias("h_q1"),
            F.round("q3", 6).alias("h_q3"),
            F.round(fence_hi, 6).alias("fence_hi"),
        )
    )


# ---------------------------------------------------------------------------
# Query-likelihood ranking with Dirichlet smoothing
# ---------------------------------------------------------------------------

_QL_TERMS = ("vector", "hash", "filter")

_QL_MU = 100.0

_QL_TOPN = 20

_QL_TERMS_SQL = ", ".join(f"'{t}'" for t in _QL_TERMS)

_QL_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
), dl AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tok
), allt AS (
  SELECT doc_id, unnest(toks) AS t FROM tok
), coll AS (
  SELECT t AS term, CAST(COUNT(*) AS BIGINT) AS cf
  FROM allt WHERE t IN ({_QL_TERMS_SQL}) GROUP BY t
), ctot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS csize FROM allt
), tf AS (
  SELECT doc_id, t AS term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM allt WHERE t IN ({_QL_TERMS_SQL}) GROUP BY doc_id, t
), matched AS (
  SELECT DISTINCT doc_id FROM tf
), grid AS (
  SELECT m.doc_id, c.term, c.cf, t.csize, d.dl,
         COALESCE(f.tf, 0) AS tf
  FROM matched m
  CROSS JOIN coll c
  CROSS JOIN ctot t
  JOIN dl d ON d.doc_id = m.doc_id
  LEFT JOIN tf f ON f.doc_id = m.doc_id AND f.term = c.term
), scored AS (
  SELECT doc_id,
         CAST(SUM(CAST(ROUND(log2(
           (CAST(tf AS DOUBLE)
            + {_QL_MU} * (CAST(cf AS DOUBLE) / CAST(csize AS DOUBLE)))
           / (CAST(dl AS DOUBLE) + {_QL_MU})), 12) AS DECIMAL(38,12)))
           AS DOUBLE) AS s,
         CAST(SUM(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_terms_matched
  FROM grid GROUP BY doc_id
)
SELECT doc_id, n_terms_matched, ROUND(s, 6) AS ql_score,
       CAST(rnk AS BIGINT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY ROUND(s, 6) DESC, doc_id) AS rnk
  FROM scored
)
WHERE rnk <= {_QL_TOPN}
"""


@register(
    "query_likelihood_dirichlet",
    oracle=_QL_ORACLE,
    tags=("llm", "text", "window"),
)
def query_likelihood_dirichlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood ranking with Dirichlet smoothing (Zhai &
    Lafferty 2001) for the BM25 fixture query {{vector, hash,
    filter}}: score(d) = Σ_t log₂((tf(t,d) + μ·cf(t)/|C|) /
    (|d| + μ)), μ = {m} — the language-modeling ranker next to
    ``bm25_doc_ranking``'s probabilistic-relevance one. Candidates
    are docs matching ≥1 term (the inverted-index candidate set);
    each candidate is then scored over ALL query terms — absent
    terms contribute their smoothed collection probability, which is
    where QL and BM25 genuinely diverge (BM25 ignores absent terms;
    QL penalizes long documents for them smoothly).

    Determinism: tf/cf/|C|/|d| exact BIGINTs; each per-(doc, term)
    score is one pinned double expression ROUND 12 → DECIMAL(38,12)
    sum (the BM25 pattern — 3 doubles already sum order-sensitively);
    ranking on the ROUND-6 score with doc_id tie-break.

    Scale: identical inverted-index plan shape to BM25 — the IN-list
    prunes the token stream before the tf hash-agg; collection stats
    are broadcast scalars; the all-terms grid is |candidates| × 3
    rows via a 3-row broadcast cross; top-N is TakeOrdered.
    """
    d = fan_out(read_table(spark, sf_dir, "documents").select("doc_id", "text"))
    tok = d.select("doc_id", TX.tokens("text").alias("toks"))
    dl = tok.select("doc_id", F.size("toks").cast("long").alias("dl"))
    allt = tok.select("doc_id", F.explode("toks").alias("t"))
    coll = (
        allt.filter(F.col("t").isin(*_QL_TERMS))
        .groupBy(F.col("t").alias("term"))
        .agg(F.count("*").cast("long").alias("cf"))
    )
    ctot = allt.agg(F.count("*").cast("long").alias("csize"))
    tf = (
        allt.filter(F.col("t").isin(*_QL_TERMS))
        .groupBy("doc_id", F.col("t").alias("term"))
        .agg(F.count("*").cast("long").alias("tf"))
    )
    matched = tf.select("doc_id").distinct()
    grid = (
        matched.crossJoin(F.broadcast(coll))
        .crossJoin(F.broadcast(ctot))
        .join(dl, "doc_id")
        .join(tf.withColumnRenamed("tf", "tf_raw"), ["doc_id", "term"], "left")
        .select(
            "doc_id",
            "term",
            "cf",
            "csize",
            "dl",
            F.coalesce("tf_raw", F.lit(0)).alias("tf"),
        )
    )
    term_score = F.log2(
        (
            F.col("tf").cast("double")
            + F.lit(_QL_MU)
            * (F.col("cf").cast("double") / F.col("csize").cast("double"))
        )
        / (F.col("dl").cast("double") + F.lit(_QL_MU))
    )
    scored = grid.groupBy("doc_id").agg(
        F.sum(F.round(term_score, 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("s"),
        F.sum(F.when(F.col("tf") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_terms_matched"),
    )
    ranked = scored.orderBy(F.round("s", 6).desc(), "doc_id").limit(_QL_TOPN)
    w = Window.orderBy(F.round("s", 6).desc(), "doc_id")
    return ranked.select(
        "doc_id",
        "n_terms_matched",
        F.round("s", 6).alias("ql_score"),
        F.row_number().over(w).cast("long").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Chao1 unseen-vocabulary estimate + Good-Turing coverage per source
# ---------------------------------------------------------------------------

_CHAO_ORACLE = rf"""
WITH tk AS (
  SELECT source, unnest({_SQL_TOKS}) AS tok FROM documents
), tc AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM tk GROUP BY source, tok
), ff AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS vocab,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM tc GROUP BY source
)
SELECT source, n_tokens, vocab, f1, f2,
       ROUND(CAST(vocab AS DOUBLE)
             + CAST(f1 * (f1 - 1) AS DOUBLE)
               / (2.0 * CAST(f2 + 1 AS DOUBLE)), 6) AS chao1_vocab,
       ROUND(1.0 - CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
         AS gt_coverage
FROM ff
"""


@register(
    "chao1_vocab_estimate",
    oracle=_CHAO_ORACLE,
    tags=("llm", "text", "stats", "sketch"),
)
def chao1_vocab_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unseen-species estimation per source: from the frequency-of-
    frequency profile (f1 = singleton tokens, f2 = doubletons), the
    bias-corrected Chao1 vocabulary estimate V + f1(f1−1)/(2(f2+1))
    and the Good-Turing coverage 1 − f1/N (the probability that the
    NEXT token drawn is already in the vocabulary). The corpus-growth
    decision number — a source with low coverage still yields new
    vocabulary per crawl; one with coverage ≈ 1 is lexically
    exhausted — and the same f1/f2 statistics smoothing theory
    (Good-Turing, Kneser-Ney discounts) estimates from.

    Determinism: the whole computation is exact integers until two
    final ROUND-6 expressions (one division each).

    Scale: one (source, token) hash-agg — map-side combinable — then
    a source-grain conditional aggregation of the count column. The
    frequency-of-frequency profile never materializes token rows
    twice; at 100 TB this is the vocabulary profiling pass with two
    extra conditional sums.
    """
    tc = (
        read_table(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(TX.tokens("text")).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count("*").cast("long").alias("c"))
    )
    ff = tc.groupBy("source").agg(
        F.count("*").cast("long").alias("vocab"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long").alias("f2"),
    )
    return ff.select(
        "source",
        "n_tokens",
        "vocab",
        "f1",
        "f2",
        F.round(
            F.col("vocab").cast("double")
            + (F.col("f1") * (F.col("f1") - 1)).cast("double")
            / (F.lit(2.0) * (F.col("f2") + 1).cast("double")),
            6,
        ).alias("chao1_vocab"),
        F.round(
            F.lit(1.0)
            - F.col("f1").cast("double") / F.col("n_tokens").cast("double"),
            6,
        ).alias("gt_coverage"),
    )


# ---------------------------------------------------------------------------
# Jelinek-Mercer smoothing frontier
# ---------------------------------------------------------------------------

_JM_LAMBDAS = (0.25, 0.5, 0.75)

_JM_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKS} AS t FROM documents
), bg AS (
  SELECT s.v AS v, s.w AS w
  FROM (SELECT {_KN_PAIR_SQL} FROM tok)
), cvw AS (
  SELECT v, w, CAST(COUNT(*) AS BIGINT) AS c_vw FROM bg GROUP BY v, w
), ctx AS (
  SELECT v, CAST(SUM(c_vw) AS BIGINT) AS c_v FROM cvw GROUP BY v
), uni AS (
  SELECT w, CAST(SUM(c_vw) AS BIGINT) AS c_w FROM cvw GROUP BY w
), tot AS (
  SELECT CAST(SUM(c_vw) AS BIGINT) AS m FROM cvw
), terms AS (
  SELECT m.c_vw,
{",".join(f'''         ROUND(CAST(m.c_vw AS DOUBLE) * log2(
           {lam} * (CAST(m.c_vw AS DOUBLE) / CAST(x.c_v AS DOUBLE))
           + {1 - lam} * (CAST(u.c_w AS DOUBLE) / CAST(t.m AS DOUBLE))), 6)
           AS term_{i}''' for i, lam in enumerate(_JM_LAMBDAS))}
  FROM cvw m
  JOIN ctx x ON m.v = x.v
  JOIN uni u ON m.w = u.w
  CROSS JOIN tot t
), sums AS (
  SELECT CAST(SUM(c_vw) AS BIGINT) AS n_bigrams,
{",".join(f'''         CAST(SUM(CAST(term_{i} AS DECIMAL(18,6))) AS DOUBLE) AS s_{i}'''
          for i in range(len(_JM_LAMBDAS)))}
  FROM terms
)
{" UNION ALL ".join(f'''
SELECT {lam} AS lam, n_bigrams,
       ROUND(-(s_{i}) / CAST(n_bigrams AS DOUBLE), 6) AS cross_entropy_bits,
       ROUND(POWER(2.0, ROUND(-(s_{i}) / CAST(n_bigrams AS DOUBLE), 6)), 6)
         AS perplexity
FROM sums''' for i, lam in enumerate(_JM_LAMBDAS))}
"""


@register(
    "jm_smoothing_frontier",
    oracle=_JM_ORACLE,
    tags=("llm", "text", "stats", "frontier"),
)
def jm_smoothing_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer smoothing frontier: corpus bigram cross-entropy
    under p_λ(w|v) = λ·p_ML(w|v) + (1−λ)·p_ML(w) for λ ∈ {{0.25,
    0.5, 0.75}} — all three λ readings from ONE bigram-count pass
    (every per-type term computes the three λ-scores side by side in
    one projection; the frontier discipline of ann_recall_frontier /
    minhash_size_frontier applied to the smoothing knob). Read next
    to ``kneser_ney_bigram_lm``: JM interpolates with the unigram,
    KN discounts absolutely and backs off to continuation counts —
    the λ-curve's argmin says how much interpolation THIS corpus
    wants. (Self-evaluation on training counts, like the KN query —
    the number is a fit diagnostic, not held-out perplexity.)

    Determinism: probabilities are pinned IEEE expressions over
    exact-integer ratios; weighted log₂ terms ROUND 6 →
    DECIMAL(18,6) sums, one per λ, in one aggregation; the final
    −S/M and 2^H are single ops on rounded values.

    Scale: one corpus explode → bigram-TYPE-grain hash-aggs (the KN
    shape); the three λ columns add zero passes — they share every
    join and the one aggregation. The UNION pivot at the end runs on
    a single 1-row frame.
    """
    bg = kn_bigrams(spark, sf_dir).select("v", "w")
    cvw = (
        bg.groupBy("v", "w")
        .agg(F.count("*").cast("long").alias("c_vw"))
        .localCheckpoint()
    )
    ctx = cvw.groupBy("v").agg(F.sum("c_vw").cast("long").alias("c_v"))
    uni = cvw.groupBy("w").agg(F.sum("c_vw").cast("long").alias("c_w"))
    tot = cvw.agg(F.sum("c_vw").cast("long").alias("m"))
    joined = (
        cvw.join(ctx, "v").join(uni, "w").crossJoin(F.broadcast(tot))
    )
    term_cols = []
    for i, lam in enumerate(_JM_LAMBDAS):
        p = F.lit(lam) * (
            F.col("c_vw").cast("double") / F.col("c_v").cast("double")
        ) + F.lit(1 - lam) * (
            F.col("c_w").cast("double") / F.col("m").cast("double")
        )
        term_cols.append(
            F.round(F.col("c_vw").cast("double") * F.log2(p), 6).alias(
                f"term_{i}"
            )
        )
    terms = joined.select("c_vw", *term_cols)
    sums = terms.agg(
        F.sum("c_vw").cast("long").alias("n_bigrams"),
        *[
            F.sum(F.col(f"term_{i}").cast("decimal(18,6)"))
            .cast("double")
            .alias(f"s_{i}")
            for i in range(len(_JM_LAMBDAS))
        ],
        # the 1-row stats frame feeds three UNION branches — pin it so
        # the type-grain agg runs once (iterative-chain rule)
    ).localCheckpoint()
    out = None
    for i, lam in enumerate(_JM_LAMBDAS):
        h = F.round(
            -F.col(f"s_{i}") / F.col("n_bigrams").cast("double"), 6
        )
        row = sums.select(
            F.lit(lam).alias("lam"),
            "n_bigrams",
            h.alias("cross_entropy_bits"),
            F.round(F.pow(F.lit(2.0), h), 6).alias("perplexity"),
        )
        out = row if out is None else out.unionAll(row)
    return out


# ---------------------------------------------------------------------------
# TextTiling topic boundaries
# ---------------------------------------------------------------------------

_TT_BLOCK = 10  # tokens per pseudo-sentence block

_TT_RADIUS = 2  # fixed peak radius

_TT_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKS} AS t FROM documents
), pos AS (
  SELECT doc_id, s.i - 1 AS p, s.tok AS tok
  FROM (SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t)),
                                     i -> {{'i': i, 'tok': t[i]}})) AS s
        FROM tok)
), blk AS (
  SELECT doc_id, CAST(p // {_TT_BLOCK} AS INTEGER) AS b, tok,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM pos GROUP BY doc_id, p // {_TT_BLOCK}, tok
), norms AS (
  SELECT doc_id, b, CAST(SUM(c * c) AS BIGINT) AS nrm
  FROM blk GROUP BY doc_id, b
), gaps AS (
  SELECT a.doc_id, a.b AS g,
         ROUND(CAST(SUM(a.c * bb.c) AS DOUBLE)
               / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))),
               6) AS sim
  FROM blk a
  JOIN blk bb ON a.doc_id = bb.doc_id AND bb.b = a.b + 1 AND a.tok = bb.tok
  JOIN norms na ON na.doc_id = a.doc_id AND na.b = a.b
  JOIN norms nb ON nb.doc_id = a.doc_id AND nb.b = a.b + 1
  GROUP BY a.doc_id, a.b, na.nrm, nb.nrm
), allgaps AS (
  SELECT n.doc_id, n.b AS g, COALESCE(gp.sim, 0.0) AS sim
  FROM norms n
  LEFT JOIN gaps gp ON gp.doc_id = n.doc_id AND gp.g = n.b
  WHERE EXISTS (SELECT 1 FROM norms n2
                WHERE n2.doc_id = n.doc_id AND n2.b = n.b + 1)
), simd AS (
  SELECT doc_id, g, sim, CAST(sim AS DECIMAL(18,6)) AS sd FROM allgaps
), peaks AS (
  SELECT doc_id, g, sim, sd,
         COALESCE(MAX(sd) OVER (PARTITION BY doc_id ORDER BY g
                    ROWS BETWEEN {_TT_RADIUS} PRECEDING AND 1 PRECEDING),
                  sd) AS pl,
         COALESCE(MAX(sd) OVER (PARTITION BY doc_id ORDER BY g
                    ROWS BETWEEN 1 FOLLOWING AND {_TT_RADIUS} FOLLOWING),
                  sd) AS pr
  FROM simd
), depth AS (
  -- CASE, not GREATEST: DuckDB's GREATEST promotes DECIMAL args to
  -- DOUBLE, which would re-float the exact depth algebra
  SELECT doc_id, g, sim,
         (CASE WHEN pl >= sd THEN pl ELSE sd END)
         + (CASE WHEN pr >= sd THEN pr ELSE sd END)
         - 2 * sd AS d
  FROM peaks
), stats AS (
  SELECT CAST(SUM(d) AS DOUBLE) AS sd,
         CAST(SUM(d * d) AS DOUBLE) AS sdd,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM depth
), thr AS (
  SELECT sd / n + sqrt((sdd - sd * sd / n) / n) / 2 AS cut FROM stats
)
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(SUM(CASE WHEN CAST(d.d AS DOUBLE) > t.cut THEN 1 ELSE 0 END)
            AS BIGINT) AS n_boundaries,
       CAST(SUM(CAST(d.sim AS DECIMAL(18,6))) AS DOUBLE) AS sum_sim,
       CAST(MAX(d.d) AS DOUBLE) AS max_depth
FROM depth d CROSS JOIN thr t
GROUP BY d.doc_id
"""


@register(
    "texttiling_boundaries",
    oracle=_TT_ORACLE,
    tags=("llm", "text", "window"),
)
def texttiling_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextTiling per document: split into {b}-token pseudo-sentence
    blocks, score every adjacent-block gap by exact-tf cosine
    (integer dot products and norms — zero-overlap gaps score 0),
    compute depth = (left peak − sim) + (right peak − sim) with
    fixed-radius-{r} peaks, and flag boundaries where depth exceeds
    the corpus μ + σ/2 cut (the paper's threshold rule on the
    engine's exact-decimal moment spelling). Per doc: gap count,
    boundary count, summed gap similarity (exact decimal — the mean
    sum/n_gaps hit a ROUND-6 midpoint fork at sf0.001; the SUM of
    6-dp decimals is exact and the reader divides), max depth — the
    topic-coherence chunking signal a RAG pipeline uses instead of
    fixed windows.

    Determinism: block tf vectors are exact integers, so each gap
    cosine is one sqrt-and-divide on exact ints, ROUND 6; depth
    combines the ROUND-6 sims IN DECIMAL(18,6) (MAX is selection and
    l + r − 2s is exact decimal algebra — the double spelling forked
    a half-ulp rounding boundary at sf0.001); μ and σ come from
    DECIMAL-exact Σd, Σd²; the cut compare runs on bit-identical
    doubles.

    Scale: one posexplode → (doc, block, token) hash-agg; gap
    cosines are a self-join keyed on (doc, adjacent block) at
    block-token grain; depth windows partition by doc with ≤{r}+1
    fan-in; the global moment agg and broadcast cut close it. No
    corpus-sized window, no pairwise blocks beyond adjacency.
    """
    d = read_table(spark, sf_dir, "documents")
    pos = d.select(
        "doc_id", F.posexplode(TX.tokens("text")).alias("p", "tok")
    )
    blk = (
        pos.select(
            "doc_id", (F.col("p") / _TT_BLOCK).cast("int").alias("b"), "tok"
        )
        .groupBy("doc_id", "b", "tok")
        .agg(F.count("*").cast("long").alias("c"))
        # feeds the left side, right side, and norm agg of the gap join
        .localCheckpoint()
    )
    norms = blk.groupBy("doc_id", "b").agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("nrm")
    ).localCheckpoint()
    # stats-barriered (r13, replacing the r12 merge hints): every side
    # here is block- or block-token grain (corpus-growing), but a
    # localCheckpoint CARRIES its origin plan's Generate-blind size
    # estimates, and the static planner broadcast all four builds —
    # the ×100 perturbed smoke blew the driver on this query
    # (SCALE_NOTES r12). The barrier keeps the static plan SMJ while
    # AQE's size-measured runtime BHJ conversion stays free. The
    # 1-row threshold crossJoin below stays an explicit broadcast
    # (scalar, bounded).
    blkb = stats_barrier(blk)
    normsb = stats_barrier(norms)
    a = blkb.select("doc_id", "b", "tok", F.col("c").alias("ca"))
    bb = blkb.select(
        "doc_id", (F.col("b") - 1).alias("b"), "tok", F.col("c").alias("cb")
    )
    na = normsb.select("doc_id", "b", F.col("nrm").alias("na"))
    nb = normsb.select(
        "doc_id", (F.col("b") - 1).alias("b"), F.col("nrm").alias("nb")
    )
    gaps = (
        a.join(bb, ["doc_id", "b", "tok"])
        .groupBy("doc_id", "b")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("long").alias("dot"))
        .join(na, ["doc_id", "b"])
        .join(nb, ["doc_id", "b"])
        .select(
            "doc_id",
            F.col("b").alias("g"),
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na").cast("double"))
                    * F.sqrt(F.col("nb").cast("double"))
                ),
                6,
            ).alias("sim"),
        )
    )
    has_next = normsb.alias("n").join(
        normsb.alias("n2"),
        (F.col("n.doc_id") == F.col("n2.doc_id"))
        & (F.col("n2.b") == F.col("n.b") + 1),
        "left_semi",
    )
    allgaps = (
        has_next.select("doc_id", F.col("b").alias("g"))
        .join(gaps, ["doc_id", "g"], "left")
        .select("doc_id", "g", F.coalesce("sim", F.lit(0.0)).alias("sim"))
    )
    w_l = (
        Window.partitionBy("doc_id")
        .orderBy("g")
        .rowsBetween(-_TT_RADIUS, -1)
    )
    w_r = (
        Window.partitionBy("doc_id").orderBy("g").rowsBetween(1, _TT_RADIUS)
    )
    # depth algebra runs in DECIMAL(18,6) over the ROUND-6 sims:
    # l + r − 2s of 6-dp values is itself a 6-dp decimal, but the
    # equivalent double expression can land a half-ulp off a rounding
    # boundary and fork the engines' last digit (hit at sf0.001)
    simd = allgaps.withColumn("sd_", F.col("sim").cast("decimal(18,6)"))
    sdc = F.col("sd_")
    depth_col = (
        F.greatest(F.coalesce(F.max("sd_").over(w_l), sdc), sdc)
        + F.greatest(F.coalesce(F.max("sd_").over(w_r), sdc), sdc)
        - 2 * sdc
    )
    depth = simd.select("doc_id", "g", "sim", depth_col.alias("d"))
    stats = depth.agg(
        F.sum("d").cast("double").alias("sd"),
        F.sum(F.col("d") * F.col("d")).cast("double").alias("sdd"),
        F.count("*").cast("long").alias("n"),
    )
    cut = (
        F.col("sd") / F.col("n")
        + F.sqrt(
            (F.col("sdd") - F.col("sd") * F.col("sd") / F.col("n"))
            / F.col("n")
        )
        / 2
    )
    thr = stats.select(cut.alias("cut"))
    return (
        depth.crossJoin(F.broadcast(thr))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_gaps"),
            F.sum(
                F.when(F.col("d").cast("double") > F.col("cut"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_boundaries"),
            F.sum(F.col("sim").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_sim"),
            F.max("d").cast("double").alias("max_depth"),
        )
    )


# ---------------------------------------------------------------------------
# Rank-biased overlap between the two lexical rankers
# ---------------------------------------------------------------------------

_RBO_P = 0.9

_RBO_DEPTH = 20

_RBO_WEIGHTS = [(1 - _RBO_P) * _RBO_P ** (d - 1) for d in range(1, _RBO_DEPTH + 1)]

_SQL_RBO_WEIGHTS = "[" + ", ".join(repr(w) for w in _RBO_WEIGHTS) + "]"

# Composes both rankers' full oracle statements as nested-CTE
# subqueries, so the agreement numbers are cross-checked end-to-end
# (ranking included), not just the overlap algebra.
_RBO_ORACLE = f"""
WITH ra AS (
  SELECT doc_id, rank AS r_a FROM ({_BM25_ORACLE})
), rb AS (
  SELECT doc_id, rank AS r_b FROM ({_QL_ORACLE})
), bothr AS (
  SELECT GREATEST(ra.r_a, rb.r_b) AS d_min
  FROM ra JOIN rb ON ra.doc_id = rb.doc_id
), depths AS (
  SELECT unnest(generate_series(1, {_RBO_DEPTH})) AS d
), xd AS (
  SELECT d.d, CAST(COUNT(b.d_min) AS BIGINT) AS x_d
  FROM depths d LEFT JOIN bothr b ON b.d_min <= d.d
  GROUP BY d.d
), curve AS (
  SELECT d, x_d,
         ROUND(CAST(x_d AS DOUBLE) / d, 6) AS agreement,
         CAST(ROUND(({_SQL_RBO_WEIGHTS})[d]
                    * (CAST(x_d AS DOUBLE) / d), 6) AS DECIMAL(18,6)) AS t
  FROM xd
)
SELECT CAST(d AS INTEGER) AS d, x_d, agreement,
       ROUND(CAST(SUM(t) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                  AS DOUBLE), 6) AS rbo_prefix
FROM curve
"""


@register(
    "rbo_ranker_agreement",
    oracle=_RBO_ORACLE,
    tags=("llm", "text", "stats", "window"),
)
def rbo_ranker_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (p = {p}, truncated at depth {d}) between
    ``bm25_doc_ranking`` and ``query_likelihood_dirichlet`` for the
    shared fixed query: per depth d, the prefix intersection size X_d,
    the agreement X_d/d, and the truncated-RBO prefix sum
    (1−p)·Σ_{{i≤d}} p^(i−1)·X_i/i — the top-weighted ranker-agreement
    curve (Webber et al. 2010). Low agreement at shallow depths with
    convergence deeper is the signature of the length-normalization
    disagreement the QL docstring predicts.

    Determinism: both rankings are registered oracle-exact queries
    with total tie-break orders; X_d counts are exact (a doc ranked
    r_a by BM25 and r_b by QL joins both prefixes from depth
    max(r_a, r_b)); agreements ROUND 6; the geometric weights enter
    both engines as module literals; the RBO prefix sum adds ROUND-6
    per-depth terms in DECIMAL(18,6) via a bounded 20-row window.

    Scale: two TakeOrdered top-20 frames joined on doc_id (≤20 rows),
    exploded to the 20-row depth grain via a broadcast sequence —
    everything after the rankers is constant-size.
    """
    a = bm25_doc_ranking(spark, sf_dir).select(
        "doc_id", F.col("rank").alias("ra")
    )
    b = query_likelihood_dirichlet(spark, sf_dir).select(
        "doc_id", F.col("rank").alias("rb")
    )
    both = a.join(b, "doc_id").select(
        F.greatest("ra", "rb").alias("d_min")
    )
    depths = read_table(spark, sf_dir, "documents").sparkSession.range(
        1, _RBO_DEPTH + 1
    ).select(F.col("id").cast("int").alias("d"))
    xd = (
        depths.join(
            F.broadcast(both), F.col("d_min") <= F.col("d"), "left"
        )
        .groupBy("d")
        .agg(F.count("d_min").cast("long").alias("x_d"))
    )
    weights = F.array(*[F.lit(w) for w in _RBO_WEIGHTS])
    term = F.round(
        F.element_at(weights, F.col("d"))
        * (F.col("x_d").cast("double") / F.col("d")),
        6,
    ).cast("decimal(18,6)")
    w_pre = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (
        xd.select(
            "d",
            "x_d",
            F.round(F.col("x_d").cast("double") / F.col("d"), 6).alias(
                "agreement"
            ),
            term.alias("t"),
        )
        .select(
            "d",
            "x_d",
            "agreement",
            F.sum("t").over(w_pre).cast("double").alias("rbo_prefix"),
        )
        .select(
            F.col("d").cast("int").alias("d"),
            "x_d",
            "agreement",
            F.round("rbo_prefix", 6).alias("rbo_prefix"),
        )
    )


# ---------------------------------------------------------------------------
# word2vec negative-sampling table (count^{3/4}, Hamilton slots)
# ---------------------------------------------------------------------------

_NEG_SLOTS = 65536  # 2^16

_NEG_ORACLE = rf"""
WITH tc AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest({_SQL_TOKS}) AS tok FROM documents)
  GROUP BY tok
), wgt AS (
  SELECT tok, c,
         CAST(ROUND(POWER(CAST(c AS DOUBLE), 0.75), 6) AS DECIMAL(28,6)) AS w
  FROM tc
), tot AS (
  SELECT CAST(SUM(w) AS DOUBLE) AS wt FROM wgt
), shares AS (
  SELECT w.tok, w.c, CAST(w.w AS DOUBLE) AS wd,
         FLOOR({_NEG_SLOTS} * CAST(w.w AS DOUBLE) / t.wt) AS fl,
         {_NEG_SLOTS} * CAST(w.w AS DOUBLE) / t.wt
           - FLOOR({_NEG_SLOTS} * CAST(w.w AS DOUBLE) / t.wt) AS rem
  FROM wgt w CROSS JOIN tot t
), ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY rem DESC, tok) AS rk,
         SUM(fl) OVER () AS fl_tot
  FROM shares
), alloc AS (
  SELECT tok, c, ROUND(wd, 6) AS weight,
         CAST(fl + CASE WHEN rk <= {_NEG_SLOTS} - fl_tot THEN 1 ELSE 0 END
              AS BIGINT) AS n_slots
  FROM ranked
)
SELECT tok AS token, c AS n_occurrences, weight, n_slots,
       CAST(COALESCE(SUM(n_slots) OVER (ORDER BY tok
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS slot_lo,
       CAST(SUM(n_slots) OVER (ORDER BY tok ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS slot_hi
FROM alloc
"""


@register(
    "unigram_neg_sampling_table",
    oracle=_NEG_ORACLE,
    tags=("llm", "text", "sample"),
)
def unigram_neg_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The word2vec negative-sampling table: {s} integer slots
    allocated across the vocabulary ∝ count^{{3/4}} (the Mikolov
    smoothing that up-weights rare words), integerized by the
    largest-remainder rule and emitted as [slot_lo, slot_hi) ranges
    in token order. Because slots are an EXACT integer partition of
    {s}, any worker mapping uniform draws u ∈ [0, {s}) through the
    ranges samples the identical distribution — no float
    renormalization, no per-worker drift; this is the shipped
    artifact, not a description of one.

    Determinism: the ¾-power weights are ROUND-6 doubles re-entered
    as DECIMAL(28,6) for the order-free total; shares/floors/
    remainders are pinned IEEE expressions; the remainder ranking
    and the cumulative range windows use total orders (tok).

    Scale: one corpus hash-agg to vocabulary grain; everything after
    (weights, Hamilton allocation, range prefix sums) runs on the
    vocabulary — the keyless windows ride the bounded derived grain
    exactly like largest_remainder_apportion.
    """
    tc = (
        read_table(spark, sf_dir, "documents")
        .select(F.explode(TX.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("c"))
    )
    wgt = tc.select(
        "tok",
        "c",
        F.round(F.pow(F.col("c").cast("double"), F.lit(0.75)), 6)
        .cast("decimal(28,6)")
        .alias("w"),
    )
    tot = wgt.agg(F.sum("w").cast("double").alias("wt"))
    share = F.lit(_NEG_SLOTS) * F.col("w").cast("double") / F.col("wt")
    shares = wgt.crossJoin(F.broadcast(tot)).select(
        "tok",
        "c",
        F.col("w").cast("double").alias("wd"),
        F.floor(share).alias("fl"),
        (share - F.floor(share)).alias("rem"),
    )
    w_all = Window.partitionBy(F.lit(1))
    ranked = shares.select(
        "tok",
        "c",
        "wd",
        "fl",
        F.row_number()
        .over(w_all.orderBy(F.col("rem").desc(), "tok"))
        .alias("rk"),
        F.sum("fl").over(w_all).alias("fl_tot"),
    )
    n_slots = (
        F.col("fl")
        + F.when(F.col("rk") <= F.lit(_NEG_SLOTS) - F.col("fl_tot"), 1)
        .otherwise(0)
    ).cast("long")
    alloc = ranked.select(
        "tok",
        "c",
        F.round("wd", 6).alias("weight"),
        n_slots.alias("n_slots"),
    )
    w_cum = Window.orderBy("tok")
    return alloc.select(
        F.col("tok").alias("token"),
        F.col("c").alias("n_occurrences"),
        "weight",
        "n_slots",
        F.coalesce(
            F.sum("n_slots").over(w_cum.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        )
        .cast("long")
        .alias("slot_lo"),
        F.sum("n_slots")
        .over(w_cum.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("slot_hi"),
    )


# ---------------------------------------------------------------------------
# TextRank keyword extraction (PageRank over word co-occurrence)
# ---------------------------------------------------------------------------

_TR_DAMP = 0.85

_TR_ITER = 4

_TR_TOPN = 20

_TR_TOKS = r"string_split_regex(lower(trim(text)), '\s+')"


def _tr_iter(prev: str, cur: str) -> str:
    """One damped PageRank superstep over the co-occurrence graph
    (single reference to ``prev`` — the CTE-inlining discipline from
    hits_hub_authority's oracle)."""
    return f"""{cur} AS (
  SELECT n.tok,
    ROUND((1 - {_TR_DAMP}) / (SELECT COUNT(*) FROM nodes)
          + {_TR_DAMP} * COALESCE(c.contrib, 0.0), 12) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS tok,
      CAST(SUM(CAST(ROUND(r.rank * e.w / o.ow, 12) AS DECIMAL(38,12)))
           AS DOUBLE) AS contrib
    FROM {prev} r
    JOIN edges e ON e.src = r.tok
    JOIN outw o ON o.src = e.src
    GROUP BY e.dst
  ) c ON c.tok = n.tok
)"""


_TEXTRANK_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, {_TR_TOKS} AS toks FROM documents
),
big AS (
  SELECT toks[i] AS w1, toks[i+1] AS w2
  FROM tok, UNNEST(generate_series(1, len(toks) - 1)) AS g(i)
),
edges AS MATERIALIZED (
  SELECT src, dst, CAST(SUM(c) AS DOUBLE) AS w FROM (
    SELECT w1 AS src, w2 AS dst, COUNT(*) AS c FROM big GROUP BY 1, 2
    UNION ALL
    SELECT w2 AS src, w1 AS dst, COUNT(*) AS c FROM big GROUP BY 1, 2
  ) GROUP BY src, dst
),
nodes AS MATERIALIZED (SELECT DISTINCT src AS tok FROM edges),
outw AS MATERIALIZED (
  SELECT src, SUM(w) AS ow FROM edges GROUP BY src
),
r0 AS (
  SELECT tok, CAST(1.0 / (SELECT COUNT(*) FROM nodes) AS DOUBLE) AS rank
  FROM nodes
),
{",".join(_tr_iter(f"r{i}", f"r{i + 1}") for i in range(_TR_ITER))}
SELECT tok AS token, ROUND(rank, 6) AS textrank
FROM r{_TR_ITER}
ORDER BY rank DESC, tok
LIMIT {_TR_TOPN}
"""


@register(
    "textrank_keywords",
    oracle=_TEXTRANK_ORACLE,
    tags=("text", "llm", "graph", "iterative"),
)
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keywords: damped PageRank ({k} unrolled supersteps,
    d = {d}) over the corpus word co-occurrence graph — adjacent
    tokens co-occur, edges are symmetric and weighted by count — and
    the top-{n} tokens by converged rank. Degree-one-but-well-
    connected words outrank raw frequency; this is the standard
    unsupervised keyword extractor (Mihalcea & Tarau 2004), and the
    engine's third fixed-iteration graph witness after
    ``pagerank_trade_network`` (25-node dimension graph) and
    ``hits_hub_authority`` (two-vector recursion) — here the node set
    is DATA-derived (the vocabulary), so rank frames are vocab-sized.

    Determinism: bigram/edge weights are exact counts; per-superstep
    contributions are ROUND-12 then DECIMAL(38,12)-summed keyed by
    destination token (order-free); the symmetric graph has no
    dangling nodes (every node has out-edges by construction);
    top-{n} uses the (rank DESC, token) total order, ROUND 6 output.

    Scale: the bigram pass is the posexplode+lead codegen pattern
    (_doc_feats — no higher-order-lambda re-evaluation);
    edges/out-weights build once (persisted); each superstep is one
    rank⋈edges join + dst-keyed hash-agg. Rank frames are VOCAB-sized
    — joined, not broadcast (a real corpus vocabulary outgrows the
    driver; AQE may still choose broadcast when it fits, as at this
    fixture's 31 types).
    """
    d = read_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(TX.tokens("text")).alias("pos", "tok")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        toks.select(
            F.col("tok").alias("w1"),
            F.lead("tok", 1).over(w_doc).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c"))
    )
    edges = (
        big.select(F.col("w1").alias("src"), F.col("w2").alias("dst"), "c")
        .unionAll(
            big.select(F.col("w2").alias("src"), F.col("w1").alias("dst"), "c")
        )
        .groupBy("src", "dst")
        .agg(F.sum("c").cast("double").alias("w"))
        .persist()
    )
    nodes = edges.select(F.col("src").alias("tok")).distinct().persist()
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    ew = edges.join(outw, "src").select("src", "dst", "w", "ow").persist()
    ncnt = nodes.agg(F.count("*").cast("long").alias("nn"))

    ranks = nodes.crossJoin(F.broadcast(ncnt)).select(
        "tok", (F.lit(1.0) / F.col("nn")).alias("rank")
    )
    for _ in range(_TR_ITER):
        contrib = (
            ew.join(ranks, ranks["tok"] == ew["src"])
            .select(
                F.col("dst").alias("ctok"),
                F.round(
                    F.col("rank") * F.col("w") / F.col("ow"), 12
                ).alias("term"),
            )
            .groupBy("ctok")
            .agg(
                F.sum(F.col("term").cast("decimal(38,12)"))
                .cast("double")
                .alias("contrib")
            )
        )
        ranks = (
            nodes.join(contrib, nodes["tok"] == contrib["ctok"], "left")
            .crossJoin(F.broadcast(ncnt))
            .select(
                "tok",
                F.round(
                    F.lit(1 - _TR_DAMP) / F.col("nn")
                    + F.lit(_TR_DAMP) * F.coalesce("contrib", F.lit(0.0)),
                    12,
                ).alias("rank"),
            )
        )
    return (
        ranks.orderBy(F.desc("rank"), "tok")
        .limit(_TR_TOPN)
        .select(F.col("tok").alias("token"), F.round("rank", 6).alias("textrank"))
    )


textrank_keywords.__doc__ = textrank_keywords.__doc__.format(
    k=_TR_ITER, d=_TR_DAMP, n=_TR_TOPN
)


# ---------------------------------------------------------------------------
# Heaps' law exponent over 3-gram shingle types
# ---------------------------------------------------------------------------

_HEAPS_STEP = 50  # checkpoint every 50 docs (10 checkpoints at 500 docs)

_HEAPS_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, {_TR_TOKS} AS toks FROM documents
),
ranked AS (
  SELECT doc_id, toks,
         ROW_NUMBER() OVER (ORDER BY doc_id) AS rk,
         GREATEST(len(toks) - 2, 0) AS n_inst
  FROM tok
),
grams AS (
  SELECT r.rk, g.s
  FROM ranked r,
       UNNEST(CASE WHEN len(r.toks) >= 3 THEN list_distinct(list_transform(
         generate_series(0, len(r.toks)-3),
         i -> r.toks[i+1] || ' ' || r.toks[i+2] || ' ' || r.toks[i+3]))
         ELSE [] END) AS g(s)
),
first_seen AS (
  SELECT s, MIN(rk) AS first_rk FROM grams GROUP BY s
),
cks AS (
  SELECT UNNEST(generate_series({_HEAPS_STEP},
           (SELECT MAX(rk) FROM ranked), {_HEAPS_STEP})) AS c
),
pts AS (
  SELECT c.c,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM first_seen f
          WHERE f.first_rk <= c.c) AS v,
         (SELECT CAST(SUM(n_inst) AS BIGINT) FROM ranked r
          WHERE r.rk <= c.c) AS t
  FROM cks c
),
fit AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(CAST(ROUND(LN(t), 6) AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(ROUND(LN(v), 6) AS DECIMAL(28,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(ROUND(LN(t) * LN(v), 6) AS DECIMAL(28,6)))
              AS DOUBLE) AS sxy,
         CAST(SUM(CAST(ROUND(LN(t) * LN(t), 6) AS DECIMAL(28,6)))
              AS DOUBLE) AS sxx,
         MAX(v) AS v_final, MAX(t) AS t_final
  FROM pts
)
SELECT k AS n_checkpoints,
       v_final AS total_types,
       t_final AS total_instances,
       ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS heaps_beta,
       ROUND(EXP((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k),
             6) AS heaps_k
FROM fit
"""


@register("heaps_law_exponent", oracle=_HEAPS_ORACLE, tags=("text", "llm", "stats"))
def heaps_law_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps/Herdan law fit V(T) ≈ K·T^β over 3-gram shingle TYPES:
    cumulative distinct types V vs cumulative shingle instances T at
    doc-order checkpoints (every {step} docs), β and K by log-log
    OLS. β predicts how the near-dup feature space grows with the
    corpus — the capacity plan for every shingle/minhash table in
    this engine (token vocabulary saturates at this fixture's 31
    words; the shingle space keeps growing, which is exactly why
    shingles are the dedup feature). Companion reads:
    ``zipf_vocab_slope`` (frequency decay), ``chao1_vocab_estimate``
    (asymptotic richness), ``ngram_novelty_rate`` (per-doc novelty).

    Determinism: the checkpoint curve needs only each type's FIRST
    occurrence rank (a type-grain MIN — the cumulative_distinct_users
    machinery) and per-doc instance counts (size arithmetic, no
    explosion); both are exact integers, so V/T are exact BIGINTs;
    the ≤10 OLS moment terms are ROUND-6 then decimal-summed; β/K are
    pinned expressions ROUND 6.

    Scale: one shingling pass (posexplode+lead codegen shape) to the
    type-grain MIN agg — the same shuffle every dedup query pays (at
    100 TB the type key is the xxhash64 digest, as in lsh_candidate_pairs). The
    ingestion rank is the range-bucketed exact row_number
    (registry.bucketed_row_number — per-bucket sorts + bounded
    offsets, no single-partition window), and the saturation curve is
    checkpoint-grain accumulation (each type/doc feeds its OWN
    ⌈rk/step⌉ bucket once; cumulative sums run on the bounded
    checkpoint spine) — O(types + docs + checkpoints) total, no
    types×checkpoints fan-out, no window at gram or doc grain.
    """
    d = read_table(spark, sf_dir, "documents")
    # Ingestion rank WITHOUT a global window: range-bucketed exact
    # row_number (registry.bucketed_row_number) — each task sorts only
    # its doc_id range bucket; offsets come from the bounded bucket
    # grain.
    ranked = bucketed_row_number(
        d.select(
            "doc_id",
            F.greatest(F.size(TX.tokens("text")) - 2, F.lit(0)).alias(
                "n_inst"
            ),
        ),
        "doc_id",
    )
    toks = d.select(
        "doc_id", F.posexplode(TX.tokens("text")).alias("pos", "tok")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    lead2 = F.lead("tok", 2).over(w_doc)
    # stats-barriered (r13, replacing the r12 merge hint): BOTH sides
    # are corpus-growing with Generate/Window-blind static estimates —
    # ranked is doc-grain behind a window lineage (its broadcast blew
    # the driver in the ×100 perturbed smoke, SCALE_NOTES r12) and the
    # distinct gram table is token-grain behind the posexplode. The
    # barrier keeps the static plan SMJ (the shuffle is on doc_id,
    # which the distinct already partitioned one side for) while AQE's
    # size-measured runtime BHJ conversion stays free.
    grams = stats_barrier(
        toks.select(
            "doc_id",
            F.concat_ws(
                " ", "tok", F.lead("tok", 1).over(w_doc), lead2
            ).alias("s"),
            lead2.isNotNull().alias("full"),
        )
        .filter(F.col("full"))
        .select("doc_id", "s")
        .distinct()
    ).join(stats_barrier(ranked.select("doc_id", "rk")), "doc_id")
    first_seen = grams.groupBy("s").agg(F.min("rk").alias("first_rk"))
    # Checkpoint-grain accumulation, NOT a (types × checkpoints)
    # crossJoin fan-out: every type/doc contributes ONE row to its
    # owning checkpoint bucket j = ⌈rk/step⌉ (pure integer DIV — no
    # float rounding), and the ≤ c predicates become cumulative sums
    # over the bounded checkpoint spine. Work is O(types + docs +
    # checkpoints), flat in the checkpoint count instead of linear.
    ck_of = f"CAST((first_rk + {_HEAPS_STEP - 1}) DIV {_HEAPS_STEP} AS BIGINT)"
    v_inc = first_seen.groupBy(F.expr(ck_of).alias("j")).agg(
        F.count("*").cast("long").alias("dv")
    )
    t_inc = ranked.groupBy(
        F.expr(
            f"CAST((rk + {_HEAPS_STEP - 1}) DIV {_HEAPS_STEP} AS BIGINT)"
        ).alias("j")
    ).agg(F.sum("n_inst").cast("long").alias("dt"))
    n_docs_row = ranked.agg(F.max("rk").alias("max_rk"))
    # The sequence end is clamped to >=1 and the spine re-filtered to
    # j*step <= max_rk: two-arg sequence(1, 0) would default to step
    # -1 and yield [1, 0] (phantom checkpoints with ln(0) terms) when
    # the corpus holds fewer docs than one step, while the oracle's
    # generate_series(step, max_rk, step) is empty — the documented
    # sequence-start>stop trap. The filter keeps both engines at zero
    # checkpoints on an undersized corpus (and drops nothing when
    # max_rk >= step: j <= max_rk DIV step == j*step <= max_rk).
    spine = (
        n_docs_row.select(
            "max_rk",
            F.explode(
                F.sequence(
                    F.lit(1).cast("long"),
                    F.greatest(
                        F.expr(
                            f"CAST(max_rk DIV {_HEAPS_STEP} AS BIGINT)"
                        ),
                        F.lit(1).cast("long"),
                    ),
                )
            ).alias("j"),
        )
        .filter(F.col("j") * _HEAPS_STEP <= F.col("max_rk"))
        .select("j")
    )
    w_ck = Window.orderBy("j").rowsBetween(Window.unboundedPreceding, 0)
    pts = (
        spine.join(v_inc, "j", "left")
        .join(t_inc, "j", "left")
        .select(
            "j",
            F.sum(F.coalesce("dv", F.lit(0))).over(w_ck).alias("v"),
            F.sum(F.coalesce("dt", F.lit(0))).over(w_ck).alias("t"),
        )
    )

    def _dsum(term: Column) -> Column:
        return F.sum(F.round(term, 6).cast("decimal(28,6)")).cast("double")

    lx, ly = F.log(F.col("t")), F.log(F.col("v"))
    fit = pts.agg(
        F.count("*").cast("long").alias("k"),
        _dsum(lx).alias("sx"),
        _dsum(ly).alias("sy"),
        _dsum(lx * ly).alias("sxy"),
        _dsum(lx * lx).alias("sxx"),
        F.max("v").alias("v_final"),
        F.max("t").alias("t_final"),
    )
    k = F.col("k")
    slope = (k * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        k * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return fit.select(
        k.alias("n_checkpoints"),
        F.col("v_final").alias("total_types"),
        F.col("t_final").alias("total_instances"),
        F.round(slope, 6).alias("heaps_beta"),
        F.round(
            F.exp((F.col("sy") - slope * F.col("sx")) / k), 6
        ).alias("heaps_k"),
    )


heaps_law_exponent.__doc__ = heaps_law_exponent.__doc__.format(
    step=_HEAPS_STEP
)


# ---------------------------------------------------------------------------
# Hill-number diversity profile of the source mix
# ---------------------------------------------------------------------------

_HILL_ORACLE = """
WITH per AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS c FROM documents GROUP BY source
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS d0
  FROM per
), terms AS (
  SELECT t.n, t.d0,
         ROUND((CAST(c AS DOUBLE) / t.n) * LN(CAST(c AS DOUBLE) / t.n), 6)
           AS hterm,
         ROUND((CAST(c AS DOUBLE) / t.n) * (CAST(c AS DOUBLE) / t.n), 12)
           AS sterm
  FROM per CROSS JOIN tot t
), st AS (
  SELECT MAX(n) AS n, MAX(d0) AS d0,
         CAST(SUM(CAST(hterm AS DECIMAL(18,6))) AS DOUBLE) AS neg_h,
         CAST(SUM(CAST(sterm AS DECIMAL(18,12))) AS DOUBLE) AS simpson
  FROM terms
)
SELECT n AS n_docs,
       d0 AS hill_d0,
       ROUND(EXP(-neg_h), 6) AS hill_d1,
       ROUND(1.0 / simpson, 6) AS hill_d2,
       ROUND(EXP(-neg_h) / d0, 6) AS evenness
FROM st
"""


@register("hill_diversity_profile", oracle=_HILL_ORACLE, tags=("llm", "agg", "stats"))
def hill_diversity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Hill-number diversity profile of the corpus source mix:
    D₀ = source richness, D₁ = exp(Shannon entropy) ("effective
    number of equally-common sources"), D₂ = 1/Simpson (dominance-
    weighted effective number), and evenness D₁/D₀. D₀ ≫ D₂ means a
    few sources dominate — the one-row read that decides whether
    source-stratified machinery (``stratified_kfold_assign``,
    ``domain_mixture_weights``) has anything real to stratify over.
    D₀ ≥ D₁ ≥ D₂ always (Hill numbers are monotone in q); asserted
    in pytest.

    Determinism: source counts are exact BIGINTs; the ≤|sources|
    entropy terms are ROUND-6-then-decimal-summed (unigram_entropy
    pattern) and the Simpson terms ROUND-12 (p² values are tiny);
    EXP/division over identical doubles, ROUND 6.

    Scale: one corpus hash-agg to source grain; profile math on one
    row of bounded sums.
    """
    d = read_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(F.count("*").cast("long").alias("c"))
    tot = per.agg(
        F.sum("c").cast("long").alias("n"),
        F.count("*").cast("long").alias("d0"),
    )
    p = F.col("c").cast("double") / F.col("n")
    st = per.crossJoin(F.broadcast(tot)).agg(
        F.max("n").alias("n"),
        F.max("d0").alias("d0"),
        F.sum(F.round(p * F.log(p), 6).cast("decimal(18,6)"))
        .cast("double")
        .alias("neg_h"),
        F.sum(F.round(p * p, 12).cast("decimal(18,12)"))
        .cast("double")
        .alias("simpson"),
    )
    return st.select(
        F.col("n").alias("n_docs"),
        F.col("d0").alias("hill_d0"),
        F.round(F.exp(-F.col("neg_h")), 6).alias("hill_d1"),
        F.round(F.lit(1.0) / F.col("simpson"), 6).alias("hill_d2"),
        F.round(F.exp(-F.col("neg_h")) / F.col("d0"), 6).alias("evenness"),
    )


# ---------------------------------------------------------------------------
# SMART ltc.ltc vector-space ranking (same query as BM25 / QL)
# ---------------------------------------------------------------------------

_VSM_TERMS = ("vector", "hash", "filter")  # = _BM25_TERMS / _QL_TERMS

_VSM_TOPN = 20

_VSM_TERMS_SQL = ", ".join(f"'{t}'" for t in _VSM_TERMS)

_VSM_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
),
tf AS (
  SELECT doc_id, t AS term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(toks) AS t FROM tok)
  GROUP BY doc_id, t
),
df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok),
wd AS (
  SELECT tf.doc_id, tf.term,
         ROUND((1 + LN(tf.tf)) * LN(CAST(n.n AS DOUBLE) / df.df), 12) AS w
  FROM tf JOIN df ON df.term = tf.term CROSS JOIN n
),
dnorm AS (
  SELECT doc_id,
         SQRT(CAST(SUM(CAST(ROUND(w * w, 12) AS DECIMAL(38,12)))
                   AS DOUBLE)) AS nrm
  FROM wd GROUP BY doc_id
),
qw AS (
  SELECT df.term, ROUND(LN(CAST(n.n AS DOUBLE) / df.df), 12) AS w
  FROM df CROSS JOIN n
  WHERE df.term IN ({_VSM_TERMS_SQL})
),
qnorm AS (
  SELECT SQRT(CAST(SUM(CAST(ROUND(w * w, 12) AS DECIMAL(38,12)))
                   AS DOUBLE)) AS qn
  FROM qw
),
dot AS (
  SELECT wd.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
         CAST(SUM(CAST(ROUND(wd.w * qw.w, 12) AS DECIMAL(38,12)))
              AS DOUBLE) AS dp
  FROM wd JOIN qw ON qw.term = wd.term
  GROUP BY wd.doc_id
),
scored AS (
  SELECT d.doc_id, d.n_terms_matched,
         ROUND(d.dp / (dn.nrm * q.qn), 6) AS vsm_score
  FROM dot d JOIN dnorm dn ON dn.doc_id = d.doc_id CROSS JOIN qnorm q
)
SELECT doc_id, n_terms_matched, vsm_score, CAST(rnk AS BIGINT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY vsm_score DESC, doc_id) AS rnk
  FROM scored
)
WHERE rnk <= {_VSM_TOPN}
"""


@register("vsm_tfidf_ranking", oracle=_VSM_ORACLE, tags=("llm", "text", "window"))
def vsm_tfidf_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMART ltc·ltc vector-space ranking for the fixed query
    {terms}: document term weights (1+ln tf)·ln(N/df), query weights
    ln(N/df), score = cosine of the two ltc vectors — the document
    norm runs over the doc's FULL term vector (the normalization that
    separates real VSM from bag-of-tf-idf scoring; long docs stop
    winning by length alone). Third member of the classical ranking
    trio over this corpus: ``bm25_doc_ranking`` (probabilistic),
    ``query_likelihood_dirichlet`` (language-model), and now the
    vector-space model — top-{k} with (score DESC, doc_id) ties.

    Determinism: tf/df/N are exact BIGINTs; every transcendental
    weight, weight-square, and weight-product is ROUND-12 then
    DECIMAL(38,12)-summed (order-free); the final cosine is one
    division of identical doubles, ROUND 6.

    Scale: one tokenization pass to (doc, term) grain — the SAME
    hash-agg BM25 pays — plus a doc-grain norm agg; the query side is
    |terms| rows broadcast. TakeOrdered top-{k}. (At 100 TB the term
    key is the xxhash64 digest, as in lsh_candidate_pairs.)
    """
    d = read_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(TX.tokens("text")).alias("t"))
    tf = tok.groupBy("doc_id", F.col("t").alias("term")).agg(
        F.count("*").cast("long").alias("tf")
    )
    df = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    n = d.agg(F.count("*").cast("long").alias("n"))
    wd = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                (1 + F.log("tf")) * F.log(F.col("n").cast("double") / F.col("df")),
                12,
            ).alias("w"),
        )
    )

    def _d12(term) -> F.Column:
        return F.sum(F.round(term, 12).cast("decimal(38,12)")).cast("double")

    dnorm = wd.groupBy("doc_id").agg(
        F.sqrt(_d12(F.col("w") * F.col("w"))).alias("nrm")
    )
    qw = (
        df.crossJoin(F.broadcast(n))
        .filter(F.col("term").isin(*_VSM_TERMS))
        .select(
            "term",
            F.round(F.log(F.col("n").cast("double") / F.col("df")), 12).alias(
                "qwt"
            ),
        )
    )
    qnorm = qw.agg(F.sqrt(_d12(F.col("qwt") * F.col("qwt"))).alias("qn"))
    dot = (
        wd.join(F.broadcast(qw), "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_terms_matched"),
            _d12(F.col("w") * F.col("qwt")).alias("dp"),
        )
    )
    scored = (
        dot.join(dnorm, "doc_id")
        .crossJoin(F.broadcast(qnorm))
        .select(
            "doc_id",
            "n_terms_matched",
            F.round(F.col("dp") / (F.col("nrm") * F.col("qn")), 6).alias(
                "vsm_score"
            ),
        )
    )
    # Distributed top-k (query_likelihood_dirichlet
    # spelling): orderBy().limit() is TakeOrderedAndProject, so the
    # ranking window only ever sees the bounded k rows — no
    # single-partition sort of the full matched-doc set.
    ranked = scored.orderBy(F.desc("vsm_score"), "doc_id").limit(_VSM_TOPN)
    w_rank = Window.orderBy(F.desc("vsm_score"), "doc_id")
    return ranked.select(
        "doc_id",
        "n_terms_matched",
        "vsm_score",
        F.row_number().over(w_rank).cast("long").alias("rank"),
    ).orderBy("rank")


vsm_tfidf_ranking.__doc__ = vsm_tfidf_ranking.__doc__.format(
    terms=_VSM_TERMS, k=_VSM_TOPN
)
