"""Statistics: tests, estimators, sampling, sketches, privacy, quality.

Hypothesis tests (rank, permutation-free, survival), estimators and
their error gates (KMV, HLL, count-min, quantile sketches), sampling
designs, A/B-test and causal adjustments, and the per-document text
quality score several other domains join (``quality_scores``).

Registry conventions apply (plans/registry.py): exact decimal sums,
ROUND 6 on transcendental/division outputs, atomic columns,
BIGINT/DOUBLE/VARCHAR oracle casts.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ucl_data_pipeline_spark.functions import text as TX
from ucl_data_pipeline_spark.functions.scalar import epoch_us, knuth_bucket
from ucl_data_pipeline_spark.plans.registry import (
    bucketed_running_sum,
    pdisc_rank,
    rank_select,
    register,
    sql_knuth_bucket,
)
from ucl_data_pipeline_spark.sources.io import read_table


# Shared SQL fragments (duplicated verbatim into each oracle so every
# oracle stays a self-contained statement).
_SQL_TOKS = r"string_split_regex(lower(trim(text)), '\s+')"

_SQL_SHINGLES = (
    r"CASE WHEN len({t}) >= 3 THEN list_distinct(list_transform("
    r"generate_series(0, len({t})-3), i -> {t}[i+1] || ' ' || {t}[i+2] || ' ' || {t}[i+3]))"
    r" ELSE [] END"
)


_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]

_SQL_STOPLIST = "[" + ", ".join(f"'{w}'" for w in _STOPWORDS) + "]"

_QUALITY_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, n_chars, text, {_SQL_TOKS} AS toks FROM documents
), m AS (
  SELECT
    doc_id,
    n_chars,
    CAST(len(toks) AS INTEGER) AS n_tokens,
    CAST(len(regexp_extract_all(text, '[^\w\s]')) AS INTEGER) AS n_punct,
    CAST(len(list_filter(toks, t -> list_contains({_SQL_STOPLIST}, t))) AS DOUBLE)
      / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
    CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS ttr
  FROM tok
)
SELECT
  doc_id, n_tokens, n_punct, stopword_ratio, ttr,
  0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
    + 0.3 * ttr
    + 0.2 * least(1.0, stopword_ratio * 5.0)
    + 0.1 * (1.0 - least(1.0, CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE)))
    AS quality_score
FROM m
"""


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals and their [0,1] ``quality_score``:
    the frame ``text_quality_score`` registers. It lives here, below
    similarity and text, because stats and similarity queries join it
    and ``text`` already imports ``similarity``."""
    d = read_table(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    n_tokens = F.size(toks)
    n_punct = TX.punct_count("text")
    stop_ratio = TX.stopword_hits(toks, _STOPWORDS).cast("double") / n_tokens.cast(
        "double"
    )
    ttr = TX.type_token_ratio("text")
    quality = (
        0.4 * F.least(F.lit(1.0), n_tokens.cast("double") / 100.0)
        + 0.3 * ttr
        + 0.2 * F.least(F.lit(1.0), stop_ratio * 5.0)
        + 0.1
        * (
            F.lit(1.0)
            - F.least(
                F.lit(1.0), n_punct.cast("double") / F.col("n_chars").cast("double")
            )
        )
    )
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_punct.alias("n_punct"),
        stop_ratio.alias("stopword_ratio"),
        ttr.alias("ttr"),
        quality.alias("quality_score"),
    )


_SAMPLE_ORACLE = f"""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE {sql_knuth_bucket('o_orderkey', 20)} = 0
"""


@register("deterministic_sample", oracle=_SAMPLE_ORACLE, tags=("sample",))
def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~5% sample via a multiplicative key hash (Knuth
    constant, mod 2^32, width-safe split multiply — see
    functions.scalar.knuth_bucket) — the pattern for stable train/eval
    splits: membership is a pure function of the key, so re-runs,
    backfills, and different engines agree row-for-row for every
    64-bit key. ``df.sample()`` is partition-layout-dependent and
    ``F.xxhash64`` engine-specific; neither can be cross-checked.
    Scale: embarrassingly parallel filter, pushed to the scan, no
    shuffle.
    """
    o = read_table(spark, sf_dir, "orders")
    return o.filter(knuth_bucket("o_orderkey", 20) == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


_STRAT_SAMPLE_ORACLE = f"""
SELECT doc_id, lang, source
FROM documents
WHERE {sql_knuth_bucket('doc_id', 100)} <
  CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 20 ELSE 10 END
"""


@register("stratified_sample", oracle=_STRAT_SAMPLE_ORACLE, tags=("sample", "llm"))
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-language sampling rates
    (en 50%, de 20%, rest 10%) applied via the multiplicative key hash
    — how training mixtures are rebalanced reproducibly (downsample
    over-represented languages, keep membership a pure function of the
    key). Unlike ``sampleBy``, re-runs and engines agree row-for-row.
    Pure scan-side filter: no shuffle, prunes to three columns.
    """
    d = read_table(spark, sf_dir, "documents")
    h = knuth_bucket("doc_id", 100)
    rate = (
        F.when(F.col("lang") == "en", 50)
        .when(F.col("lang") == "de", 20)
        .otherwise(10)
    )
    return d.filter(h < rate).select("doc_id", "lang", "source")


# ---------------------------------------------------------------------------
# Deterministic weighted sampling (A-ES / exponential-race, md5-seeded)
# ---------------------------------------------------------------------------

_ARES_K = 50

# u ∈ (0,1) from the first 6 md5 nibbles of the key — both engines
# compute the identical 24-bit integer, so u (and every score derived
# from it) is bit-identical cross-engine.
_SQL_U24 = """
  ((STRPOS('0123456789abcdef', SUBSTR(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) * 1048576.0
 + (STRPOS('0123456789abcdef', SUBSTR(md5(CAST(o_orderkey AS VARCHAR)), 2, 1)) - 1) * 65536.0
 + (STRPOS('0123456789abcdef', SUBSTR(md5(CAST(o_orderkey AS VARCHAR)), 3, 1)) - 1) * 4096.0
 + (STRPOS('0123456789abcdef', SUBSTR(md5(CAST(o_orderkey AS VARCHAR)), 4, 1)) - 1) * 256.0
 + (STRPOS('0123456789abcdef', SUBSTR(md5(CAST(o_orderkey AS VARCHAR)), 5, 1)) - 1) * 16.0
 + (STRPOS('0123456789abcdef', SUBSTR(md5(CAST(o_orderkey AS VARCHAR)), 6, 1)) - 1)
 + 0.5) / 16777216.0
"""

_ARES_ORACLE = f"""
WITH scored AS (
  SELECT o_orderkey, o_totalprice,
         {_SQL_U24} AS u,
         -LN({_SQL_U24}) / o_totalprice AS score
  FROM orders
)
SELECT o_orderkey, o_totalprice, ROUND(u, 9) AS u_hash,
       CAST(ROW_NUMBER() OVER (ORDER BY score, o_orderkey) AS BIGINT)
         AS sample_rank
FROM scored
ORDER BY score, o_orderkey
LIMIT {_ARES_K}
"""


@register("weighted_sample_ares", oracle=_ARES_ORACLE, tags=("sample",))
def weighted_sample_ares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis
    A-ES / exponential race): each row gets an exponential arrival time
    −ln(u)/w with u a pure hash of its key and w its weight
    (o_totalprice); the k smallest arrivals are the sample. Unlike
    rand()-based sampling this is reproducible row-for-row across
    re-runs, engines, and partitionings — the property a training-data
    pipeline needs for auditable weighted corpus subsampling.

    Determinism: u is built from the first 6 md5 nibbles (24-bit
    integer, exact in both engines), so scores are bit-identical; the
    top-k boundary is decided by continuous exponentials whose order
    statistics are ~1/n apart — astronomically far from the 1-ulp libm
    divergence of LN. Tie-break (score, orderkey).

    Scale: embarrassingly parallel scoring at the scan, then a TakeOrdered
    top-k (per-partition heaps → k-row merge at the driver stage), never
    a global sort. The md5 is computed once per row via a shared subexpr.
    """
    o = read_table(spark, sf_dir, "orders")
    hexes = F.lit("0123456789abcdef")
    md5c = F.md5(F.col("o_orderkey").cast("string"))
    v = None
    for i in range(6):
        nib = (F.instr(hexes, F.substring(md5c, i + 1, 1)) - 1).cast("double")
        piece = nib * float(16 ** (5 - i))
        v = piece if v is None else v + piece
    u = (v + 0.5) / float(1 << 24)
    scored = o.select(
        "o_orderkey",
        "o_totalprice",
        u.alias("u"),
        (-F.log(u) / F.col("o_totalprice")).alias("score"),
    )
    w = Window.orderBy("score", "o_orderkey")
    return (
        scored.orderBy("score", "o_orderkey")
        .limit(_ARES_K)
        .select(
            "o_orderkey",
            "o_totalprice",
            F.round("u", 9).alias("u_hash"),
            F.row_number().over(w).alias("sample_rank"),
        )
    )


# ---------------------------------------------------------------------------
# Count-min sketch: SQL-expressed CMS + overestimate gate vs exact counts
# ---------------------------------------------------------------------------

# Four public odd 32-bit multipliers (Knuth 2654435761 + xxHash primes)
# drive the d=4 hash rows; w=64 buckets per row.
_CMS_MULTIPLIERS = (2654435761, 2246822519, 3266489917, 668265263)

_CMS_W = 64

_CMS_TRACKED = 20


def _cms_hash(key: Column, c: int, w: int) -> Column:
    """Overflow-safe ``(key·c mod 2³²) mod w`` — the split-multiply
    scheme of functions.scalar.knuth_bucket generalized to any odd
    multiplier (see its docstring for the 2⁴⁹-bound argument)."""
    m32 = 4294967296
    k = F.pmod(key, F.lit(m32))
    k_hi = F.shiftright(k, 16)
    k_lo = k.bitwiseAND(F.lit(65535))
    h = F.pmod(
        F.pmod(k_hi * F.lit(c), F.lit(m32)) * F.lit(65536) + k_lo * F.lit(c),
        F.lit(m32),
    )
    return F.pmod(h, F.lit(w))


def _sql_cms_hash(key: str, c: int, w: int) -> str:
    return (
        f"(((({key} % 4294967296) >> 16) * {c} % 4294967296) * 65536"
        f" + (({key} % 4294967296) & 65535) * {c}) % 4294967296 % {w}"
    )


_CMS_ORACLE = f"""
WITH kc AS (
  SELECT l_partkey AS key, COUNT(*) AS exact_cnt FROM lineitem GROUP BY 1
),
cells AS (
  SELECT j, h, SUM(exact_cnt) AS cell FROM (
    {" UNION ALL ".join(
        f"SELECT {j} AS j, {_sql_cms_hash('key', c, _CMS_W)} AS h, exact_cnt FROM kc"
        for j, c in enumerate(_CMS_MULTIPLIERS)
    )}
  ) GROUP BY j, h
),
tracked AS (
  SELECT key, exact_cnt,
         ROW_NUMBER() OVER (ORDER BY exact_cnt DESC, key) AS rnk
  FROM kc QUALIFY rnk <= {_CMS_TRACKED}
),
est AS (
  SELECT t.key, t.exact_cnt, MIN(cells.cell) AS cms_est
  FROM tracked t JOIN cells ON (
    {" OR ".join(
        f"(cells.j = {j} AND cells.h = {_sql_cms_hash('t.key', c, _CMS_W)})"
        for j, c in enumerate(_CMS_MULTIPLIERS)
    )}
  )
  GROUP BY t.key, t.exact_cnt
)
SELECT key AS l_partkey, CAST(exact_cnt AS BIGINT) AS exact_cnt,
       CAST(cms_est AS BIGINT) AS cms_est,
       CAST(cms_est - exact_cnt AS BIGINT) AS overestimate
FROM est
"""


@register("count_min_estimate_error", oracle=_CMS_ORACLE, tags=("sketch", "gate"))
def count_min_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch expressed as pure relational algebra — d=4 hash
    rows × w=64 buckets over part-key frequencies — plus the quality
    gate: for the 20 hottest keys, the CMS point estimate (min over
    the d cells) against the exact count. CMS never underestimates, so
    ``overestimate`` ≥ 0 row-wise is the sketch's correctness
    invariant, and its magnitude is the collision error a heavy-hitter
    monitor would pay at this (d, w).

    Scale: the sketch is built from the per-key AGGREGATE (one
    map-side-combined pass over the fact table), then exploded ×d over
    the distinct-key table only; the sketch itself is d·w = 256 cells
    — mergeable across partitions/days by cell-wise addition, which is
    the whole point of CMS at 100 TB. Everything is integer arithmetic
    on shared public constants, so both engines agree bit-for-bit.
    """
    li = read_table(spark, sf_dir, "lineitem")
    kc = li.groupBy(F.col("l_partkey").alias("key")).agg(
        F.count("*").alias("exact_cnt")
    )
    hashes = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"), _cms_hash(F.col("key"), c, _CMS_W).alias("h")
            )
            for j, c in enumerate(_CMS_MULTIPLIERS)
        ]
    )
    exploded = kc.select("key", "exact_cnt", F.explode(hashes).alias("jh"))
    cells = exploded.groupBy(
        F.col("jh.j").alias("j"), F.col("jh.h").alias("h")
    ).agg(F.sum("exact_cnt").alias("cell"))
    tracked = (
        kc.orderBy(F.col("exact_cnt").desc(), "key")
        .limit(_CMS_TRACKED)
        .select("key", "exact_cnt", F.explode(hashes).alias("jh"))
        .select(
            "key",
            "exact_cnt",
            F.col("jh.j").alias("tj"),
            F.col("jh.h").alias("th"),
        )
    )
    return (
        tracked.join(
            F.broadcast(cells),
            (tracked["tj"] == cells["j"]) & (tracked["th"] == cells["h"]),
        )
        .groupBy("key", "exact_cnt")
        .agg(F.min("cell").alias("cms_est"))
        .select(
            F.col("key").alias("l_partkey"),
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("exact_cnt")).alias("overestimate"),
        )
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count error gate
# ---------------------------------------------------------------------------

_HLL_TOL = 0.10

_HLL_GATE_ORACLE = f"""
SELECT c_nationkey,
       CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS exact_cnt,
       ABS(approx_count_distinct(c_custkey) - COUNT(DISTINCT c_custkey))
         <= {_HLL_TOL} * COUNT(DISTINCT c_custkey) AS within_10pct
FROM customer GROUP BY c_nationkey
"""


@register("hll_distinct_error_gate", oracle=_HLL_GATE_ORACLE, tags=("sketch", "gate"))
def hll_distinct_error_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog accuracy gate: per nation, the exact distinct
    customer count next to a boolean asserting the engine's HLL
    estimate lands within 10%. Companions minhash_jaccard_error /
    ann_recall gates — every sketch the engine leans on at 100 TB
    (where exact COUNT DISTINCT is a full shuffle but HLL merges
    map-side in O(registers)) gets a driver-visible quality row.
    Each engine gates its OWN sketch (Spark HLL++ vs DuckDB's HLL
    — different registers, same guarantee class); only the exact
    count and the pass boolean are compared, which is the point:
    the gate is engine-portable, the sketch is not.
    """
    c = read_table(spark, sf_dir, "customer")
    exact = F.count_distinct("c_custkey")
    approx = F.approx_count_distinct("c_custkey", 0.02)
    return c.groupBy("c_nationkey").agg(
        exact.alias("exact_cnt"),
        (F.abs(approx - exact) <= F.lit(_HLL_TOL) * exact).alias("within_10pct"),
    )


# ---------------------------------------------------------------------------
# Cross-field / referential constraint audit
# ---------------------------------------------------------------------------

_CONSTRAINT_ORACLE = """
WITH li AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS bad_qty,
         SUM(CASE WHEN l_discount < 0 OR l_discount > 0.5 THEN 1 ELSE 0 END)
           AS bad_disc,
         SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS bad_price
  FROM lineitem
),
orph AS (
  SELECT COUNT(*) AS n_orphans FROM lineitem l
  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
),
ship AS (
  SELECT COUNT(*) AS n_joined,
         SUM(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END)
           AS ship_before_order
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT * FROM (
  SELECT 'quantity_positive' AS constraint_name,
         CAST(li.n AS BIGINT) AS n_checked,
         CAST(li.bad_qty AS BIGINT) AS n_violations FROM li
  UNION ALL
  SELECT 'discount_in_range', CAST(li.n AS BIGINT),
         CAST(li.bad_disc AS BIGINT) FROM li
  UNION ALL
  SELECT 'price_positive', CAST(li.n AS BIGINT),
         CAST(li.bad_price AS BIGINT) FROM li
  UNION ALL
  SELECT 'lineitem_order_fk', CAST(li.n AS BIGINT),
         CAST(orph.n_orphans AS BIGINT) FROM li, orph
  UNION ALL
  SELECT 'ship_after_order', CAST(ship.n_joined AS BIGINT),
         CAST(ship.ship_before_order AS BIGINT) FROM ship
)
"""


@register(
    "constraint_violation_audit", oracle=_CONSTRAINT_ORACLE, tags=("quality", "agg")
)
def constraint_violation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-field and referential constraint audit — the warehouse
    contract checks data_quality_profile (per-column stats) cannot
    see: domain ranges (quantity > 0, discount ∈ [0, 0.5], price >
    0), the lineitem→orders foreign key (anti-join orphan count), and
    the cross-TABLE temporal invariant shipdate ≥ orderdate. One
    conditional-sum pass covers all single-table rules; the two
    join-based rules share the o_orderkey join key. Output is one row
    per named constraint — the shape a data-contract monitor alerts
    on.
    """
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    one = li.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)).alias("bad_qty"),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.5), 1)
            .otherwise(0)
        ).alias("bad_disc"),
        F.sum(F.when(F.col("l_extendedprice") <= 0, 1).otherwise(0)).alias(
            "bad_price"
        ),
    )
    orphans = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"], "left_anti")
        .agg(F.count("*").alias("n_orphans"))
    )
    ship = li.join(o, li["l_orderkey"] == o["o_orderkey"]).agg(
        F.count("*").alias("n_joined"),
        F.sum(
            F.when(F.col("l_shipdate") < F.col("o_orderdate"), 1).otherwise(0)
        ).alias("ship_before_order"),
    )
    base = one.crossJoin(F.broadcast(orphans)).crossJoin(F.broadcast(ship))

    def row(name: str, checked: str, viol: str) -> DataFrame:
        return base.select(
            F.lit(name).alias("constraint_name"),
            F.col(checked).cast("bigint").alias("n_checked"),
            F.col(viol).cast("bigint").alias("n_violations"),
        )

    return (
        row("quantity_positive", "n", "bad_qty")
        .unionByName(row("discount_in_range", "n", "bad_disc"))
        .unionByName(row("price_positive", "n", "bad_price"))
        .unionByName(row("lineitem_order_fk", "n", "n_orphans"))
        .unionByName(row("ship_after_order", "n_joined", "ship_before_order"))
    )


# ---------------------------------------------------------------------------
# Chi-square independence test + Cramér's V (returnflag × linestatus)
# ---------------------------------------------------------------------------

# (O−E)²/E per cell is ROUND-6 then decimal-summed (the house rule for
# order-independent float totals); E = row·col/n is a division of exact
# integers, identical in both engines.
_CHI2_ORACLE = """
WITH obs AS (
  SELECT l_returnflag AS rf, l_linestatus AS ls, COUNT(*) AS o
  FROM lineitem GROUP BY 1, 2
),
margins AS (
  SELECT rf, ls, o,
         SUM(o) OVER (PARTITION BY rf) AS r_tot,
         SUM(o) OVER (PARTITION BY ls) AS c_tot,
         SUM(o) OVER () AS n
  FROM obs
),
dims AS (
  SELECT COUNT(DISTINCT rf) AS n_r, COUNT(DISTINCT ls) AS n_c FROM obs
),
terms AS (
  SELECT n,
         ROUND(POWER(o - CAST(r_tot AS DOUBLE) * c_tot / n, 2)
               / (CAST(r_tot AS DOUBLE) * c_tot / n), 6) AS term
  FROM margins
)
SELECT CAST(MAX(n) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE) AS chi2,
       CAST((MAX(dims.n_r) - 1) * (MAX(dims.n_c) - 1) AS INTEGER) AS dof,
       ROUND(SQRT(CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE)
                  / (MAX(n) * LEAST(MAX(dims.n_r) - 1, MAX(dims.n_c) - 1))),
             6) AS cramers_v
FROM terms, dims
"""


@register("chi_square_independence", oracle=_CHI2_ORACLE, tags=("stats", "agg"))
def chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test of returnflag ×
    linestatus, with Cramér's V as the normalized effect size — the
    categorical counterpart of corr_matrix_lineitem (is this pair of
    dimensions worth crossing in a report, or statistically
    independent?). All inputs are one contingency hash-agg (cell,
    row, column and grand totals are INTEGER); expected counts are
    divisions of exact integers; each (O−E)²/E term is ROUND-6 +
    decimal-summed so the 6-cell total is order-independent; the
    final SQRT runs on identical doubles.

    Scale: one map-combined fact pass to the contingency table; all
    test math runs on |rf|×|ls| = 6 rows.
    """
    li = read_table(spark, sf_dir, "lineitem")
    obs = li.groupBy(
        F.col("l_returnflag").alias("rf"), F.col("l_linestatus").alias("ls")
    ).agg(F.count("*").alias("o"))
    w_all = Window.partitionBy(F.lit(1))
    margins = obs.select(
        "rf",
        "ls",
        "o",
        F.sum("o").over(Window.partitionBy("rf")).alias("r_tot"),
        F.sum("o").over(Window.partitionBy("ls")).alias("c_tot"),
        F.sum("o").over(w_all).alias("n"),
    )
    e = F.col("r_tot").cast("double") * F.col("c_tot") / F.col("n")
    terms = margins.select(
        "n",
        F.round(F.pow(F.col("o") - e, 2) / e, 6).alias("term"),
        F.size(F.collect_set("rf").over(w_all)).alias("n_r"),
        F.size(F.collect_set("ls").over(w_all)).alias("n_c"),
    )
    chi2 = F.sum(F.col("term").cast("decimal(18,6)")).cast("double")
    return terms.agg(
        F.max("n").cast("bigint").alias("n_rows"),
        chi2.alias("chi2"),
        ((F.max("n_r") - 1) * (F.max("n_c") - 1)).cast("int").alias("dof"),
        F.round(
            F.sqrt(
                chi2
                / (F.max("n") * F.least(F.max("n_r") - 1, F.max("n_c") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# Mutual information between the two status dimensions
# ---------------------------------------------------------------------------

_MI_ORACLE = """
WITH obs AS (
  SELECT l_returnflag AS rf, l_linestatus AS ls, COUNT(*) AS o
  FROM lineitem GROUP BY 1, 2
),
margins AS (
  SELECT o,
         SUM(o) OVER (PARTITION BY rf) AS r_tot,
         SUM(o) OVER (PARTITION BY ls) AS c_tot,
         SUM(o) OVER () AS n
  FROM obs
)
SELECT CAST(SUM(CAST(
         ROUND((CAST(o AS DOUBLE) / n)
               * LN(CAST(o AS DOUBLE) * n
                    / (CAST(r_tot AS DOUBLE) * c_tot)), 6)
         AS DECIMAL(18,6))) AS DOUBLE) AS mutual_info_nats
FROM margins
"""


@register("mutual_information_flags", oracle=_MI_ORACLE, tags=("stats", "agg"))
def mutual_information_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(returnflag; linestatus) in nats — the
    information-theoretic dependence measure (0 ⟺ independent) that
    feature-selection pipelines rank candidate columns by, companion
    to the chi-square test (same contingency pass, different
    statistic). Each cell term (p_xy · ln(p_xy / p_x p_y)) takes its
    LN on a ratio of exact integers (identical doubles both engines),
    is ROUND-6 against last-ulp libm drift, and decimal-sums
    order-independently. One map-combined fact pass; math on 6 rows.
    """
    li = read_table(spark, sf_dir, "lineitem")
    obs = li.groupBy(
        F.col("l_returnflag").alias("rf"), F.col("l_linestatus").alias("ls")
    ).agg(F.count("*").alias("o"))
    w_all = Window.partitionBy(F.lit(1))
    margins = obs.select(
        "o",
        F.sum("o").over(Window.partitionBy("rf")).alias("r_tot"),
        F.sum("o").over(Window.partitionBy("ls")).alias("c_tot"),
        F.sum("o").over(w_all).alias("n"),
    )
    term = F.round(
        (F.col("o").cast("double") / F.col("n"))
        * F.log(
            F.col("o").cast("double")
            * F.col("n")
            / (F.col("r_tot").cast("double") * F.col("c_tot"))
        ),
        6,
    )
    return margins.agg(
        F.sum(term.cast("decimal(18,6)")).cast("double").alias("mutual_info_nats")
    )


# ---------------------------------------------------------------------------
# Kaplan–Meier survival estimator over user lifetimes
# ---------------------------------------------------------------------------

_KM_ORACLE = """
WITH users AS (
  SELECT user_id,
         MIN(ts) AS first_ts,
         MAX(ts) AS last_ts,
         MIN(CASE WHEN value > 200 THEN ts END) AS hit_ts
  FROM events GROUP BY user_id
),
durs AS (
  SELECT user_id,
         epoch_us(COALESCE(hit_ts, last_ts)) // 3600000000
           - epoch_us(first_ts) // 3600000000 AS dur,
         CASE WHEN hit_ts IS NOT NULL THEN 1 ELSE 0 END AS observed
  FROM users
),
by_dur AS (
  SELECT dur,
         SUM(observed) AS d,
         COUNT(*) - SUM(observed) AS c
  FROM durs GROUP BY dur
),
risk AS (
  SELECT dur, d, c,
         (SELECT COUNT(*) FROM durs)
           - (SUM(d + c) OVER (ORDER BY dur) - (d + c)) AS n_risk
  FROM by_dur
),
km AS (
  SELECT dur, d, c, n_risk,
         EXP(SUM(LN((n_risk - d) * 1.0 / n_risk)) OVER (ORDER BY dur))
           AS surv
  FROM risk
  WHERE n_risk > d
)
SELECT CAST(dur AS BIGINT) AS duration_hours,
       CAST(n_risk AS BIGINT) AS n_at_risk,
       CAST(d AS BIGINT) AS n_events,
       CAST(c AS BIGINT) AS n_censored,
       ROUND(surv, 6) AS survival
FROM km
WHERE d > 0
"""


@register("kaplan_meier_survival", oracle=_KM_ORACLE, tags=("stats", "window"))
def kaplan_meier_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for time-to-first-high-value-event —
    hours from a user's first event until their first event with
    value > 200, right-CENSORED at the user's last observed event for
    users who never cross the threshold. The censoring-aware estimate
    a naive "mean hours to conversion over converters" biases low
    (it silently drops exactly the users with the longest times).
    S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ) with the standard
    censored-after-death tie convention. Durations are hour-bucket
    diffs (floor(epoch_us/3.6e9) deltas — boundary-crossing
    semantics, identical integer arithmetic on both engines; Spark's
    timestampdiff counts COMPLETE hours and DuckDB's date_diff counts
    boundaries, so neither raw builtin is used). Three bounded
    stages: per-user agg (fact-grain, one shuffle), duration-grain
    agg (≤ observation-window hours — tiny, single-partition window
    is safe at any corpus scale), ordered cumulative product via
    exp∘Σln (ROUND 6; ln is last-ulp libm-dependent). Rows are the
    event times (d > 0), the curve's support.
    """

    e = read_table(spark, sf_dir, "events")
    hour = lambda c: F.floor(epoch_us(c) / F.lit(3_600_000_000))  # noqa: E731
    users = e.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.min(F.when(F.col("value") > 200, F.col("ts"))).alias("hit_ts"),
    )
    durs = users.select(
        (
            hour(F.coalesce("hit_ts", "last_ts")) - hour("first_ts")
        ).alias("dur"),
        F.when(F.col("hit_ts").isNotNull(), 1).otherwise(0).alias("observed"),
    )
    by_dur = durs.groupBy("dur").agg(
        F.sum("observed").alias("d"),
        (F.count("*") - F.sum("observed")).alias("c"),
    )
    total = durs.agg(F.count("*").alias("n_total"))
    w = Window.orderBy("dur")
    risk = by_dur.crossJoin(F.broadcast(total)).select(
        "dur",
        "d",
        "c",
        (
            F.col("n_total")
            - (
                F.sum(F.col("d") + F.col("c")).over(w)
                - (F.col("d") + F.col("c"))
            )
        ).alias("n_risk"),
    )
    km = risk.filter(F.col("n_risk") > F.col("d")).select(
        "dur",
        "d",
        "c",
        "n_risk",
        F.exp(
            F.sum(
                F.log((F.col("n_risk") - F.col("d")) * 1.0 / F.col("n_risk"))
            ).over(w)
        ).alias("surv"),
    )
    return km.filter(F.col("d") > 0).select(
        F.col("dur").cast("bigint").alias("duration_hours"),
        F.col("n_risk").cast("bigint").alias("n_at_risk"),
        F.col("d").cast("bigint").alias("n_events"),
        F.col("c").cast("bigint").alias("n_censored"),
        F.round("surv", 6).alias("survival"),
    )


# ---------------------------------------------------------------------------
# Mann–Whitney U rank-sum test (tie-corrected normal approximation)
# ---------------------------------------------------------------------------

_MWU_ORACLE = """
WITH sample AS (
  SELECT o_totalprice AS v,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS grp_a
  FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
),
ranked AS (
  SELECT v, grp_a,
         RANK() OVER (ORDER BY v)
           + (COUNT(*) OVER (PARTITION BY v) - 1) / 2.0 AS avg_rank
  FROM sample
),
ties AS (
  SELECT SUM(t * t * t - t) AS tie_term
  FROM (SELECT COUNT(*) AS t FROM sample GROUP BY v)
),
stats AS (
  SELECT SUM(CASE WHEN grp_a = 1
                  THEN CAST(avg_rank AS DECIMAL(18,1))
                  ELSE CAST(0 AS DECIMAL(18,1)) END) AS ra,
         SUM(grp_a) AS na,
         COUNT(*) - SUM(grp_a) AS nb
  FROM ranked
)
SELECT CAST(na AS BIGINT) AS n_a,
       CAST(nb AS BIGINT) AS n_b,
       CAST(ra - CAST(na * (na + 1) AS DECIMAL(18,1)) / 2 AS DOUBLE) AS u_a,
       ROUND(
         (CAST(ra AS DOUBLE) - na * (na + 1) / 2.0 - na * nb / 2.0)
         / NULLIF(SQRT(na * 1.0 * nb / 12.0
                * ((na + nb + 1)
                   - tie_term * 1.0
                     / NULLIF((na + nb) * (na + nb - 1), 0))), 0),
         6) AS z_score
FROM stats, ties
"""


@register(
    "mann_whitney_u", oracle=_MWU_ORACLE, tags=("stats", "window", "baseline")
)
def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum test — do URGENT orders carry different
    totals than LOW-priority ones? — the nonparametric complement to
    `welch_ttest_promo` that makes no normality assumption (rank-based,
    robust to the heavy right tail money columns always have).
    Value-grain midranks (the ``kruskal_wallis_h`` spelling): sample
    rows collapse to (value, group) cells first, midrank(v) =
    (#rows below v) + (t_v + 1)/2 comes from ONE cumulative window
    over DISTINCT values (value grain ≪ row grain; at 100 TB bucket
    values first — the cells agg is the hook), and the group-A rank
    sum is Σ cnt·midrank in exact DECIMAL (ranks are half-integers,
    so decimal sums are exact and order-independent) — no ranking
    window ever touches sample-row grain. The oracle's row-grain
    RANK() spelling computes the identical exact scalars, which is
    the cross-engine check that the cell collapse is lossless.
    Finally the tie-corrected normal approximation
    z = (U − n_a·n_b/2) / σ_ties. U is emitted exactly; z is ROUND 6
    (sqrt is IEEE-correctly-rounded, but the division chain warrants
    the engine's standard transcendental guard).
    """
    o = read_table(spark, sf_dir, "orders")
    cells = (
        o.filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .groupBy(
            F.col("o_totalprice").alias("v"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("grp_a"),
        )
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    vals = cells.groupBy("v").agg(F.sum("cnt").cast("long").alias("t"))
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    mid = vals.select("v", "t", F.sum("t").over(w_cum).alias("below"))
    midrank = (
        F.coalesce(F.col("below"), F.lit(0)) + (F.col("t") + 1) / 2.0
    ).cast("decimal(18,1)")
    ties = vals.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias(
            "tie_term"
        )
    )
    stats = (
        cells.join(mid, "v")
        .agg(
            F.sum(
                F.when(
                    F.col("grp_a") == 1,
                    F.col("cnt").cast("decimal(28,1)") * midrank,
                ).otherwise(F.lit(0).cast("decimal(28,1)"))
            ).alias("ra"),
            F.sum(
                F.when(F.col("grp_a") == 1, F.col("cnt")).otherwise(0)
            ).alias("na"),
            F.sum(
                F.when(F.col("grp_a") == 0, F.col("cnt")).otherwise(0)
            ).alias("nb"),
        )
    )
    joined = stats.crossJoin(F.broadcast(ties))
    na, nb, ra = F.col("na"), F.col("nb"), F.col("ra")
    # The tie-correction divisor is 0 when only one row survives the
    # priority filter (na+nb=1): ANSI-on Spark would raise
    # DIVIDE_BY_ZERO there while DuckDB yields NULL — NULLIF on both
    # sides keeps the engines agreeing (NULL z) on the degenerate
    # input, matching the sigma=0 guard below.
    sigma = F.sqrt(
        na * 1.0 * nb / 12.0
        * (
            (na + nb + 1)
            - F.col("tie_term")
            * 1.0
            / F.nullif((na + nb) * (na + nb - 1), F.lit(0))
        )
    )
    return joined.select(
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        (ra - (na * (na + 1)).cast("decimal(18,1)") / 2)
        .cast("double")
        .alias("u_a"),
        # sigma is 0 when every sampled value is identical (full tie
        # correction): an ANSI-on Spark session raises DIVIDE_BY_ZERO
        # where DuckDB/non-ANSI Spark yield NULL, so both sides null
        # the degenerate case explicitly (NULLIF in the oracle).
        F.round(
            (ra.cast("double") - na * (na + 1) / 2.0 - na * nb / 2.0)
            / F.nullif(sigma, F.lit(0.0)),
            6,
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Kolmogorov–Smirnov two-sample drift statistic
# ---------------------------------------------------------------------------

_KS_ORACLE = """
WITH sample AS (
  SELECT l_extendedprice AS v,
         CASE WHEN l_shipdate < TIMESTAMP '1998-07-01' THEN 1 ELSE 0 END
           AS grp_a
  FROM lineitem
),
counts AS (
  SELECT v, SUM(grp_a) AS ca, COUNT(*) - SUM(grp_a) AS cb
  FROM sample GROUP BY v
),
totals AS (
  SELECT SUM(ca) AS na, SUM(cb) AS nb FROM counts
),
ecdf AS (
  SELECT SUM(ca) OVER (ORDER BY v) * 1.0 / NULLIF(totals.na, 0) AS fa,
         SUM(cb) OVER (ORDER BY v) * 1.0 / NULLIF(totals.nb, 0) AS fb
  FROM counts, totals
)
SELECT CAST(totals.na AS BIGINT) AS n_a,
       CAST(totals.nb AS BIGINT) AS n_b,
       ROUND(MAX(ABS(fa - fb)), 6) AS ks_d,
       ROUND(1.358 * SQRT((totals.na + totals.nb) * 1.0
                          / NULLIF(totals.na * totals.nb, 0)), 6) AS crit_05,
       MAX(ABS(fa - fb))
         > 1.358 * SQRT((totals.na + totals.nb) * 1.0
                        / NULLIF(totals.na * totals.nb, 0)) AS drifted
FROM ecdf, totals
GROUP BY totals.na, totals.nb
"""


@register(
    "ks_two_sample_drift",
    oracle=_KS_ORACLE,
    tags=("stats", "window", "baseline"),
)
def ks_two_sample_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic — the max vertical gap
    between the price ECDFs of early (pre-1998H2) vs late shipments —
    the distribution-drift test that, unlike `psi_price_drift`'s
    binned PSI, is binning-free and sensitive to shifts anywhere in
    the distribution. Pre-aggregates to value-grain counts FIRST (one
    map-combinable hash-agg), so the ordered ECDF window runs over
    distinct values, not raw rows — the standard trick that makes a
    global-ordering statistic tractable at fact scale (distinct prices
    ≪ rows; at 100 TB you'd quantize values to fix the grain). All
    arithmetic is rational (integer cumsums, one division) plus one
    IEEE-exact sqrt for the 5%-level critical value D_crit =
    1.358·√((n_a+n_b)/(n_a·n_b)); the drifted flag compares UNROUNDED
    values so it cannot disagree across engines with the displayed
    ROUND-6 pair.
    """
    li = read_table(spark, sf_dir, "lineitem")
    sample = li.select(
        F.col("l_extendedprice").alias("v"),
        F.when(F.col("l_shipdate") < F.lit("1998-07-01").cast("timestamp"), 1)
        .otherwise(0)
        .alias("grp_a"),
    )
    counts = sample.groupBy("v").agg(
        F.sum("grp_a").alias("ca"),
        (F.count("*") - F.sum("grp_a")).alias("cb"),
    )
    totals = counts.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    # One empty shipdate group makes na (or nb, or na*nb) zero: Spark
    # x/0 is NULL while DuckDB raises / yields inf — NULLIF-guard every
    # division on both sides so degenerate inputs agree (both NULL).
    w = Window.orderBy("v")
    ecdf = counts.crossJoin(F.broadcast(totals)).select(
        "na",
        "nb",
        (F.sum("ca").over(w) * 1.0 / F.nullif(F.col("na"), F.lit(0)))
        .alias("fa"),
        (F.sum("cb").over(w) * 1.0 / F.nullif(F.col("nb"), F.lit(0)))
        .alias("fb"),
    )
    gap = F.max(F.abs(F.col("fa") - F.col("fb")))
    crit = 1.358 * F.sqrt(
        (F.col("na") + F.col("nb"))
        * 1.0
        / F.nullif(F.col("na") * F.col("nb"), F.lit(0))
    )
    return ecdf.groupBy("na", "nb").agg(gap.alias("_d")).select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.round(F.col("_d"), 6).alias("ks_d"),
        F.round(crit, 6).alias("crit_05"),
        (F.col("_d") > crit).alias("drifted"),
    )


# ---------------------------------------------------------------------------
# Bucket-first KS twin: the 100 TB spelling, self-auditing vs exact
# ---------------------------------------------------------------------------

_KSB_WIDTH_CENTS = 10_000  # $100-wide buckets: price span / 100 ≈ 1.1k buckets

_KSB_ORACLE = f"""
WITH sample AS (
  SELECT l_extendedprice AS v,
         CASE WHEN l_shipdate < TIMESTAMP '1998-07-01' THEN 1 ELSE 0 END
           AS grp_a
  FROM lineitem
),
counts AS (
  SELECT v, SUM(grp_a) AS ca, COUNT(*) - SUM(grp_a) AS cb
  FROM sample GROUP BY v
),
totals AS (
  SELECT SUM(ca) AS na, SUM(cb) AS nb FROM counts
),
ecdf AS (
  SELECT SUM(ca) OVER (ORDER BY v) * 1.0 / NULLIF(totals.na, 0) AS fa,
         SUM(cb) OVER (ORDER BY v) * 1.0 / NULLIF(totals.nb, 0) AS fb
  FROM counts, totals
),
dex AS (SELECT MAX(ABS(fa - fb)) AS d_exact FROM ecdf),
bcounts AS (
  SELECT CAST(v * 100 AS BIGINT) // {_KSB_WIDTH_CENTS} AS b,
         SUM(ca) AS ba, SUM(cb) AS bb
  FROM counts GROUP BY 1
),
becdf AS (
  SELECT SUM(ba) OVER (ORDER BY b) * 1.0 / NULLIF(totals.na, 0) AS fa,
         SUM(bb) OVER (ORDER BY b) * 1.0 / NULLIF(totals.nb, 0) AS fb,
         ba * 1.0 / NULLIF(totals.na, 0)
           + bb * 1.0 / NULLIF(totals.nb, 0) AS mass
  FROM bcounts, totals
),
bagg AS (
  SELECT MAX(ABS(fa - fb)) AS d_hat, MAX(mass) AS bound,
         CAST(COUNT(*) AS BIGINT) AS nbk
  FROM becdf
)
SELECT CAST(t.na AS BIGINT) AS n_a,
       CAST(t.nb AS BIGINT) AS n_b,
       b.nbk AS n_buckets,
       ROUND(d.d_exact, 6) AS ks_d_exact,
       ROUND(b.d_hat, 6) AS ks_d_bucketed,
       ROUND(b.bound, 6) AS gap_bound,
       (d.d_exact >= b.d_hat AND d.d_exact <= b.d_hat + b.bound)
         AS within_bound,
       ((d.d_exact > 1.358 * SQRT((t.na + t.nb) * 1.0
                                  / NULLIF(t.na * t.nb, 0)))
        = (b.d_hat > 1.358 * SQRT((t.na + t.nb) * 1.0
                                  / NULLIF(t.na * t.nb, 0))))
         AS decision_agrees
FROM totals t, dex d, bagg b
"""


@register("ks_bucketed_drift", oracle=_KSB_ORACLE, tags=("stats", "audit"))
def ks_bucketed_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-first KS drift twin with its own substitution audit —
    the executable version of ``ks_two_sample_drift``'s "at 100 TB
    you'd quantize values first" docstring promise (the
    percentile_sketch_error pattern applied to a rank statistic).

    The exact two-sample D runs at value grain (distinct prices ≈ row
    grain for a continuous money column — fine at test SF, the thing
    being replaced at 100 TB). The production spelling buckets prices
    into fixed $100 cells FIRST (pure integer cents DIV — the bucket
    count is bounded by the price RANGE, not the corpus), computes D̂
    over the ~1.1k bucket boundaries, and carries its analytic error
    bound: evaluating the ECDF gap only at bucket edges misses at
    most one bucket's combined probability mass, so
    D̂ ≤ D ≤ D̂ + max_b(ca_b/n_a + cb_b/n_b). Both the bound
    (within_bound) and the downstream DECISION (drifted at the 5%
    critical value — a sketch inside tolerance can still flip a
    threshold decision, so the decision is audited separately) are
    emitted as booleans the driver hashes.

    Determinism: integer cumsums over exact counts; every ECDF value
    is one division of exact integers (identical IEEE doubles both
    engines); D̂'s candidate gaps are a SUBSET of the exact D's (the
    bucket-edge ECDF equals the value-grain ECDF at the last value in
    the bucket — same integer sum, same division), so d_hat ≤ d_exact
    holds bitwise, not just analytically; comparisons use UNROUNDED
    doubles; displayed stats ROUND 6.

    Scale: one map-combinable hash-agg to value grain (shared with
    the exact side), one to the bounded bucket grain; the bucket-
    grain cumulative window is ~1.1k rows regardless of corpus size.
    At 100 TB only the bucketed side ships; the exact side is the
    audit harness.
    """
    li = read_table(spark, sf_dir, "lineitem")
    sample = li.select(
        F.col("l_extendedprice").alias("v"),
        F.when(F.col("l_shipdate") < F.lit("1998-07-01").cast("timestamp"), 1)
        .otherwise(0)
        .alias("grp_a"),
    )
    counts = sample.groupBy("v").agg(
        F.sum("grp_a").alias("ca"),
        (F.count("*") - F.sum("grp_a")).alias("cb"),
    )
    totals = counts.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    w_v = Window.orderBy("v")
    ecdf = counts.crossJoin(F.broadcast(totals)).select(
        (F.sum("ca").over(w_v) * 1.0 / F.nullif(F.col("na"), F.lit(0)))
        .alias("fa"),
        (F.sum("cb").over(w_v) * 1.0 / F.nullif(F.col("nb"), F.lit(0)))
        .alias("fb"),
    )
    dex = ecdf.agg(F.max(F.abs(F.col("fa") - F.col("fb"))).alias("d_exact"))
    bcounts = counts.groupBy(
        F.expr(f"CAST(v * 100 AS BIGINT) DIV {_KSB_WIDTH_CENTS}").alias("b")
    ).agg(F.sum("ca").alias("ba"), F.sum("cb").alias("bb"))
    w_b = Window.orderBy("b")
    becdf = bcounts.crossJoin(F.broadcast(totals)).select(
        (F.sum("ba").over(w_b) * 1.0 / F.nullif(F.col("na"), F.lit(0)))
        .alias("fa"),
        (F.sum("bb").over(w_b) * 1.0 / F.nullif(F.col("nb"), F.lit(0)))
        .alias("fb"),
        (
            F.col("ba") * 1.0 / F.nullif(F.col("na"), F.lit(0))
            + F.col("bb") * 1.0 / F.nullif(F.col("nb"), F.lit(0))
        ).alias("mass"),
    )
    bagg = becdf.agg(
        F.max(F.abs(F.col("fa") - F.col("fb"))).alias("d_hat"),
        F.max("mass").alias("bound"),
        F.count("*").cast("long").alias("nbk"),
    )
    crit = 1.358 * F.sqrt(
        (F.col("na") + F.col("nb"))
        * 1.0
        / F.nullif(F.col("na") * F.col("nb"), F.lit(0))
    )
    return (
        totals.crossJoin(F.broadcast(dex))
        .crossJoin(F.broadcast(bagg))
        .select(
            F.col("na").cast("bigint").alias("n_a"),
            F.col("nb").cast("bigint").alias("n_b"),
            F.col("nbk").alias("n_buckets"),
            F.round("d_exact", 6).alias("ks_d_exact"),
            F.round("d_hat", 6).alias("ks_d_bucketed"),
            F.round("bound", 6).alias("gap_bound"),
            (
                (F.col("d_exact") >= F.col("d_hat"))
                & (F.col("d_exact") <= F.col("d_hat") + F.col("bound"))
            ).alias("within_bound"),
            (
                (F.col("d_exact") > crit) == (F.col("d_hat") > crit)
            ).alias("decision_agrees"),
        )
    )


# ---------------------------------------------------------------------------
# Bucket-first Mann–Whitney U twin: the 100 TB spelling, self-auditing
# ---------------------------------------------------------------------------

_MWUB_WIDTH_CENTS = 10_000  # $100-wide cells: price span / 100 ≈ 5k buckets

_MWUB_ORACLE = f"""
WITH sample AS (
  SELECT o_totalprice AS v,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS grp_a
  FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
),
cells AS (
  SELECT v, SUM(grp_a) AS ca, COUNT(*) - SUM(grp_a) AS cb
  FROM sample GROUP BY v
),
mid AS (
  SELECT ca, ca + cb AS t,
         SUM(ca + cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS below
  FROM cells
),
ex AS (
  SELECT SUM(CAST(ca AS DECIMAL(28,1))
             * CAST(COALESCE(below, 0) + (t + 1) / 2.0
                    AS DECIMAL(18,1))) AS ra,
         CAST(SUM(ca) AS BIGINT) AS na,
         CAST(SUM(t - ca) AS BIGINT) AS nb,
         CAST(SUM(t * t * t - t) AS BIGINT) AS tie_ex
  FROM mid
),
bcells AS (
  SELECT CAST(v * 100 AS BIGINT) // {_MWUB_WIDTH_CENTS} AS b,
         SUM(ca) AS ca, SUM(cb) AS cb
  FROM cells GROUP BY 1
),
bmid AS (
  SELECT ca, cb, ca + cb AS t,
         SUM(ca + cb) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS below
  FROM bcells
),
bx AS (
  SELECT SUM(CAST(ca AS DECIMAL(28,1))
             * CAST(COALESCE(below, 0) + (t + 1) / 2.0
                    AS DECIMAL(18,1))) AS ra_hat,
         CAST(SUM(t * t * t - t) AS BIGINT) AS tie_hat,
         SUM(CAST(ca AS DECIMAL(28,1)) * cb) AS cross_pairs,
         CAST(COUNT(*) AS BIGINT) AS nbk
  FROM bmid
)
SELECT na AS n_a,
       nb AS n_b,
       nbk AS n_buckets,
       CAST(ra - CAST(na * (na + 1) AS DECIMAL(18,1)) / 2 AS DOUBLE)
         AS u_exact,
       CAST(ra_hat - CAST(na * (na + 1) AS DECIMAL(18,1)) / 2 AS DOUBLE)
         AS u_bucketed,
       CAST(cross_pairs AS DOUBLE) / 2 AS u_bound,
       (ABS(CAST(ra - ra_hat AS DOUBLE)) * 2
          <= CAST(cross_pairs AS DOUBLE)) AS within_bound,
       ROUND((CAST(ra AS DOUBLE) - na * (na + 1) / 2.0 - na * nb / 2.0)
             / NULLIF(SQRT(na * 1.0 * nb / 12.0
                    * ((na + nb + 1)
                       - tie_ex * 1.0
                         / NULLIF((na + nb) * (na + nb - 1), 0))), 0),
             6) AS z_exact,
       ROUND((CAST(ra_hat AS DOUBLE) - na * (na + 1) / 2.0 - na * nb / 2.0)
             / NULLIF(SQRT(na * 1.0 * nb / 12.0
                    * ((na + nb + 1)
                       - tie_hat * 1.0
                         / NULLIF((na + nb) * (na + nb - 1), 0))), 0),
             6) AS z_bucketed,
       ((ABS((CAST(ra AS DOUBLE) - na * (na + 1) / 2.0 - na * nb / 2.0)
             / NULLIF(SQRT(na * 1.0 * nb / 12.0
                    * ((na + nb + 1)
                       - tie_ex * 1.0
                         / NULLIF((na + nb) * (na + nb - 1), 0))), 0)) > 1.96)
        = (ABS((CAST(ra_hat AS DOUBLE) - na * (na + 1) / 2.0
                - na * nb / 2.0)
             / NULLIF(SQRT(na * 1.0 * nb / 12.0
                    * ((na + nb + 1)
                       - tie_hat * 1.0
                         / NULLIF((na + nb) * (na + nb - 1), 0))), 0)) > 1.96))
         AS decision_agrees
FROM ex CROSS JOIN bx
"""


@register(
    "mann_whitney_u_bucketed", oracle=_MWUB_ORACLE, tags=("stats", "audit")
)
def mann_whitney_u_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-first Mann–Whitney U twin with its own substitution audit
    — the ``ks_bucketed_drift`` pattern (bound + decision agreement)
    ported to the rank-sum test, executing the bucket hook that
    ``mann_whitney_u``'s docstring promises in prose.

    The exact U runs at value grain (distinct prices ≈ row grain for a
    continuous money column — the thing being replaced at 100 TB).
    The production spelling quantizes prices into fixed $100 cells
    FIRST (pure integer cents DIV — bucket count bounded by the price
    RANGE, not the corpus), computes midranks over the ~5k bucket
    boundaries, and carries an analytic error bound derived from the
    pair formulation U = Σ_pairs [1(a>b) + ½·1(a=b)]: quantization can
    only move SAME-bucket cross-group pairs, each by at most ½, so
    |U − Û| ≤ ½·Σ_b ca_b·cb_b — computable from the BUCKET side alone
    (at 100 TB only the bucketed side ships; the exact side here is
    the audit harness). Both the bound (within_bound) and the
    downstream DECISION (|z| > 1.96 at the 5% level — a sketch inside
    tolerance can still flip a threshold decision, so the decision is
    audited separately, the engine's sampling-audit convention) are
    emitted as booleans the driver hashes.

    Determinism: midranks are exact .5-step decimals on both grains
    (rank sums order-free in DECIMAL); U values and the bound are
    half-integers compared UNROUNDED via exact doubles; tie terms are
    exact BIGINTs; z's division chain is NULLIF-guarded like the
    exact query (degenerate inputs agree as NULL) and displayed
    ROUND 6.

    Scale: one map-combinable hash-agg to value grain (shared with
    the exact side), one to the bounded bucket grain; the bucket-
    grain cumulative window is ~5k rows regardless of corpus size.
    """
    o = read_table(spark, sf_dir, "orders")
    cells = (
        o.filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .groupBy(F.col("o_totalprice").alias("v"))
        .agg(
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            )
            .cast("long")
            .alias("ca"),
            F.sum(
                F.when(F.col("o_orderpriority") == "5-LOW", 1).otherwise(0)
            )
            .cast("long")
            .alias("cb"),
        )
    )

    def _ranksum(grain: DataFrame, order_col: str):
        # (ca, cb, order) -> one row: decimal rank-sum of group A,
        # exact tie term, plus pass-through count sums. The midrank
        # machinery shared by both grains — value and bucket.
        w_cum = Window.orderBy(order_col).rowsBetween(
            Window.unboundedPreceding, -1
        )
        mid = grain.select(
            "ca",
            "cb",
            (F.col("ca") + F.col("cb")).alias("t"),
            F.sum(F.col("ca") + F.col("cb")).over(w_cum).alias("below"),
        )
        midrank = (
            F.coalesce(F.col("below"), F.lit(0)) + (F.col("t") + 1) / 2.0
        ).cast("decimal(18,1)")
        return mid, midrank

    mid, midrank = _ranksum(cells, "v")
    ex = mid.agg(
        F.sum(F.col("ca").cast("decimal(28,1)") * midrank).alias("ra"),
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("tie_ex"),
    )
    bcells = cells.groupBy(
        F.expr(f"CAST(v * 100 AS BIGINT) DIV {_MWUB_WIDTH_CENTS}").alias("b")
    ).agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
    bmid, bmidrank = _ranksum(bcells, "b")
    bx = bmid.agg(
        F.sum(F.col("ca").cast("decimal(28,1)") * bmidrank).alias("ra_hat"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("tie_hat"),
        F.sum(F.col("ca").cast("decimal(28,1)") * F.col("cb")).alias(
            "cross_pairs"
        ),
        F.count("*").cast("long").alias("nbk"),
    )
    na, nb = F.col("na"), F.col("nb")

    def _z(r_col: str, tie_col: str):
        sigma = F.sqrt(
            na * 1.0 * nb / 12.0
            * (
                (na + nb + 1)
                - F.col(tie_col)
                * 1.0
                / F.nullif((na + nb) * (na + nb - 1), F.lit(0))
            )
        )
        return (
            F.col(r_col).cast("double") - na * (na + 1) / 2.0 - na * nb / 2.0
        ) / F.nullif(sigma, F.lit(0.0))

    half_na = F.col("na") * (F.col("na") + 1)
    u_of = lambda r: (  # noqa: E731
        F.col(r) - half_na.cast("decimal(18,1)") / 2
    ).cast("double")
    return ex.crossJoin(F.broadcast(bx)).select(
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        F.col("nbk").alias("n_buckets"),
        u_of("ra").alias("u_exact"),
        u_of("ra_hat").alias("u_bucketed"),
        (F.col("cross_pairs").cast("double") / 2).alias("u_bound"),
        (
            F.abs((F.col("ra") - F.col("ra_hat")).cast("double")) * 2
            <= F.col("cross_pairs").cast("double")
        ).alias("within_bound"),
        F.round(_z("ra", "tie_ex"), 6).alias("z_exact"),
        F.round(_z("ra_hat", "tie_hat"), 6).alias("z_bucketed"),
        (
            (F.abs(_z("ra", "tie_ex")) > 1.96)
            == (F.abs(_z("ra_hat", "tie_hat")) > 1.96)
        ).alias("decision_agrees"),
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation (midranks, exact-decimal moment sums)
# ---------------------------------------------------------------------------

_SPEARMAN_ORACLE = """
WITH r AS (
  SELECT l_returnflag AS flag,
         RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
           + (COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1)
             / 2.0 AS rx,
         RANK() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
           + (COUNT(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1)
             / 2.0 AS ry
  FROM lineitem
),
m AS (
  SELECT flag,
         COUNT(*) AS n,
         SUM(CAST(rx AS DECIMAL(38,2))) AS sx,
         SUM(CAST(ry AS DECIMAL(38,2))) AS sy,
         SUM(CAST(rx AS DECIMAL(38,2)) * CAST(ry AS DECIMAL(38,2))) AS sxy,
         SUM(CAST(rx AS DECIMAL(38,2)) * CAST(rx AS DECIMAL(38,2))) AS sxx,
         SUM(CAST(ry AS DECIMAL(38,2)) * CAST(ry AS DECIMAL(38,2))) AS syy
  FROM r GROUP BY flag
)
SELECT flag,
       CAST(n AS BIGINT) AS n,
       ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / NULLIF(SQRT((n * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           * (n * CAST(syy AS DOUBLE)
                              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                      0), 6) AS spearman_rho
FROM m
"""


@register(
    "spearman_price_qty", oracle=_SPEARMAN_ORACLE, tags=("stats", "window")
)
def spearman_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and price per return
    flag — the rank-based complement to ``corr_matrix_lineitem``'s
    Pearson: invariant to monotone transforms and robust to the heavy
    tails money columns carry. Midranks (RANK + (peers−1)/2, the same
    tie convention as ``mann_whitney_u``) are half-integers, so every
    moment sum is EXACT in DECIMAL(38,2) — order-independent and
    bit-identical across engines; the final Pearson-on-ranks is a
    fixed double expression over those exact sums, ROUND 6 for its
    sqrt. Per-group windows shuffle once on the flag; the tie-count
    window rides the same exchange. At fact scale you'd pre-aggregate
    to value-grain (value, count) first and rank the grain — same
    midrank math, the ``ks_two_sample_drift`` trick.
    """
    li = read_table(spark, sf_dir, "lineitem")
    flag = F.col("l_returnflag")
    rx = (
        F.rank().over(Window.partitionBy(flag).orderBy("l_quantity"))
        + (
            F.count("*").over(
                Window.partitionBy(flag, F.col("l_quantity"))
            )
            - 1
        )
        / 2.0
    )
    ry = (
        F.rank().over(Window.partitionBy(flag).orderBy("l_extendedprice"))
        + (
            F.count("*").over(
                Window.partitionBy(flag, F.col("l_extendedprice"))
            )
            - 1
        )
        / 2.0
    )
    r = li.select(
        flag.alias("flag"),
        rx.cast("decimal(38,2)").alias("rx"),
        ry.cast("decimal(38,2)").alias("ry"),
    )
    m = r.groupBy("flag").agg(
        F.count("*").alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    return m.select(
        "flag",
        n.cast("bigint").alias("n"),
        F.round(
            (n * sxy - sx * sy)
            / F.nullif(
                F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
                F.lit(0.0),
            ),
            6,
        ).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# Calibration curve + Brier score for a deterministic scoring rule
# ---------------------------------------------------------------------------

_CALIB_ORACLE = """
WITH scored AS (
  SELECT LEAST(GREATEST(CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000,
                        0), 1200000) AS num,
         CASE WHEN EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey)
              THEN 1 ELSE 0 END AS y
  FROM customer c
)
SELECT CAST(LEAST(num * 10 // 1200000, 9) AS INTEGER) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(num) AS DOUBLE) / 1200000.0 / COUNT(*) AS mean_p,
       CAST(SUM(y) AS BIGINT) * 1.0 / COUNT(*) AS frac_pos,
       CAST(SUM(CAST((num - y * 1200000) * (num - y * 1200000)
                     AS DECIMAL(38,0))) AS DOUBLE)
         / (1200000.0 * 1200000.0) / COUNT(*) AS brier_bin
FROM scored
GROUP BY 1
"""


@register(
    "brier_calibration_bins", oracle=_CALIB_ORACLE, tags=("stats", "agg")
)
def brier_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration curve + per-bin Brier score for a scoring rule —
    the model-eval table every training pipeline ships: does predicted
    probability p match observed frequency in each decile bin? The
    score here is a DETERMINISTIC linear ramp of account balance,
    clamped — and computed entirely in INTEGER CENTS (num/1200000 is
    the probability), because a first attempt that decimal-cast an
    arbitrary double p hit the engines' different decimal rounding at
    the half-ulp boundary (the decimal-cast convention is only exact
    for values that ARE low-scale decimals, like money columns). With
    integer num, the bin, Σnum, Σy, and Σ(num−y·1200000)² are all
    exact integers/DECIMAL(38,0) — order-independent and bit-identical
    — and the displayed ratios are fixed double expressions over them.
    Outcome y is has-any-order (one broadcast semi-style join of the
    DISTINCT probe keys). One hash-agg on a 10-value key.
    """
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").select("o_custkey").distinct()
    num = F.least(
        F.greatest(
            F.round(F.col("c_acctbal") * 100, 0).cast("bigint")
            + 100000,
            F.lit(0).cast("bigint"),
        ),
        F.lit(1200000).cast("bigint"),
    )
    scored = (
        c.join(
            F.broadcast(o.withColumn("has_order", F.lit(1))),
            c.c_custkey == o.o_custkey,
            "left",
        )
        .select(
            num.alias("num"),
            F.coalesce("has_order", F.lit(0)).alias("y"),
        )
    )
    d2 = (F.col("num") - F.col("y") * 1200000) * (
        F.col("num") - F.col("y") * 1200000
    )
    return (
        scored.groupBy(
            F.least(
                (F.col("num") * 10 / 1200000).cast("bigint"), F.lit(9)
            )
            .cast("int")
            .alias("bin")
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            (
                F.sum("num").cast("double") / 1200000.0 / F.count("*")
            ).alias("mean_p"),
            (F.sum("y").cast("bigint") * 1.0 / F.count("*")).alias(
                "frac_pos"
            ),
            (
                F.sum(d2.cast("decimal(38,0)")).cast("double")
                / (1200000.0 * 1200000.0)
                / F.count("*")
            ).alias("brier_bin"),
        )
    )


# ---------------------------------------------------------------------------
# Cohen's kappa — inter-rater agreement of two deterministic raters
# ---------------------------------------------------------------------------

_KAPPA_ORACLE = """
WITH rated AS (
  SELECT CASE WHEN n_chars >= 128 THEN 1 ELSE 0 END AS a,
         CASE WHEN len(string_split(text, ' ')) >= 24 THEN 1 ELSE 0 END AS b
  FROM documents
),
counts AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS n11,
         SUM(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS n00,
         SUM(a) AS na1,
         SUM(b) AS nb1
  FROM rated
)
SELECT CAST(n AS BIGINT) AS n_docs,
       CAST(n11 AS BIGINT) AS n_both_pos,
       CAST(n00 AS BIGINT) AS n_both_neg,
       ROUND((n11 + n00) * 1.0 / n, 6) AS p_agree,
       ROUND(((n11 + n00) * 1.0 / n
              - (na1 * 1.0 / n * (nb1 * 1.0 / n)
                 + (n - na1) * 1.0 / n * ((n - nb1) * 1.0 / n)))
             / NULLIF(1.0 - (na1 * 1.0 / n * (nb1 * 1.0 / n)
                             + (n - na1) * 1.0 / n
                               * ((n - nb1) * 1.0 / n)), 0), 6) AS kappa
FROM counts
"""


@register("cohens_kappa_quality", oracle=_KAPPA_ORACLE, tags=("stats", "text"))
def cohens_kappa_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two document-quality raters — the
    inter-annotator-agreement statistic a labeling pipeline reports
    before trusting any single heuristic filter. Raters here are two
    deterministic engine heuristics (char-length ≥ 128 vs token-count
    ≥ 24); kappa corrects raw agreement for the agreement expected by
    chance from each rater's marginal rate. Everything reduces to one
    2×2 contingency count (a single map-combinable hash-agg over the
    corpus — no shuffle wider than 4 cells at any scale); kappa itself
    is a fixed double expression over those integers, NULLIF-guarded
    for the all-one-class degenerate case.
    """
    d = read_table(spark, sf_dir, "documents")
    rated = d.select(
        F.when(F.col("n_chars") >= 128, 1).otherwise(0).alias("a"),
        F.when(F.size(F.split("text", " ")) >= 24, 1)
        .otherwise(0)
        .alias("b"),
    )
    counts = rated.agg(
        F.count("*").alias("n"),
        F.sum(
            F.when((F.col("a") == 1) & (F.col("b") == 1), 1).otherwise(0)
        ).alias("n11"),
        F.sum(
            F.when((F.col("a") == 0) & (F.col("b") == 0), 1).otherwise(0)
        ).alias("n00"),
        F.sum("a").alias("na1"),
        F.sum("b").alias("nb1"),
    )
    n = F.col("n")
    po = (F.col("n11") + F.col("n00")) * 1.0 / n
    pe = (F.col("na1") * 1.0 / n) * (F.col("nb1") * 1.0 / n) + (
        (n - F.col("na1")) * 1.0 / n
    ) * ((n - F.col("nb1")) * 1.0 / n)
    return counts.select(
        n.cast("bigint").alias("n_docs"),
        F.col("n11").cast("bigint").alias("n_both_pos"),
        F.col("n00").cast("bigint").alias("n_both_neg"),
        F.round(po, 6).alias("p_agree"),
        F.round((po - pe) / F.nullif(1.0 - pe, F.lit(0.0)), 6).alias(
            "kappa"
        ),
    )


# ---------------------------------------------------------------------------
# Importance-weight effective sample size (resample-to-uniform diagnostic)
# ---------------------------------------------------------------------------

_ESS_ORACLE = """
WITH per_source AS (
  SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source
),
agg AS (
  SELECT CAST(SUM(n_s) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_sources,
         SUM(CAST(1.0 / n_s AS DECIMAL(18,12))) AS inv_sum
  FROM per_source
)
SELECT n_docs,
       n_sources,
       ROUND(n_sources * n_sources / CAST(inv_sum AS DOUBLE), 6) AS ess,
       ROUND(n_sources * n_sources / CAST(inv_sum AS DOUBLE) / n_docs, 6)
         AS ess_fraction
FROM agg
"""


@register("importance_weight_ess", oracle=_ESS_ORACLE, tags=("stats", "llm"))
def importance_weight_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective sample size of the importance weights that
    reweight the corpus's empirical source mix to UNIFORM — the
    diagnostic that tells a data-mixing pipeline whether
    ``mixture_resample``-style reweighting is statistically safe (ESS
    ≈ N: balanced corpus; ESS ≪ N: a few rare sources dominate the
    weights and the resampled set behaves like far fewer documents).
    With per-source weight w_s = N/(S·n_s), the row-level Kish formula
    (Σw)²/Σw² collapses algebraically to S²/Σ_s(1/n_s) — so the whole
    diagnostic is one tiny per-source count agg and S-term fold, no
    row-level weight materialization at all; the fold is made
    order-independent by summing the (identical-per-row) doubles as
    DECIMAL(18,12) on both engines.
    """
    d = read_table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(F.count("*").alias("n_s"))
    agg = per_source.agg(
        F.sum("n_s").cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("n_sources"),
        F.sum((1.0 / F.col("n_s")).cast("decimal(18,12)")).alias(
            "inv_sum"
        ),
    )
    ess = (
        F.col("n_sources")
        * F.col("n_sources")
        / F.col("inv_sum").cast("double")
    )
    return agg.select(
        "n_docs",
        "n_sources",
        F.round(ess, 6).alias("ess"),
        F.round(ess / F.col("n_docs"), 6).alias("ess_fraction"),
    )


# ---------------------------------------------------------------------------
# Spearman via value-grain midrank reconstruction (the scale path)
# ---------------------------------------------------------------------------


@register(
    "spearman_rank_via_grain",
    oracle=_SPEARMAN_ORACLE,
    tags=("stats", "agg", "scale"),
)
def spearman_rank_via_grain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation computed the way a 100 TB engine
    would: midranks are RECONSTRUCTED from value-grain counts instead
    of ranking raw rows. For value v in a group, midrank =
    (#rows < v) + (cnt_v + 1)/2 — algebraically identical to
    RANK + (peers−1)/2 over raw rows (RANK = #rows<v + 1), so this
    registers against the SAME oracle as the window spelling
    ``spearman_price_qty`` and must hash-match it exactly. The two
    ordered windows now run over the (flag, value) GRAIN (≈50 distinct
    quantities; distinct prices ≪ rows), raw rows are only touched by
    two equi-joins and one moment hash-agg — no global row sort
    anywhere, which is what removed the raw-sort ×10 hotspot the
    window spelling shows in SCALE_NOTES (5.66 ratio → grain-bound).
    Moment sums stay exact in DECIMAL(38,2) (midranks are
    half-integers).
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").alias("x"),
        F.col("l_extendedprice").alias("y"),
    )

    def grain_ranks(col: str) -> DataFrame:
        g = li.groupBy("flag", col).agg(F.count("*").alias("cnt"))
        w = (
            Window.partitionBy("flag")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return g.select(
            "flag",
            col,
            (
                F.sum("cnt").over(w)
                - F.col("cnt")
                + (F.col("cnt") + 1) / 2.0
            )
            .cast("decimal(38,2)")
            .alias(f"r{col}"),
        )

    r = (
        li.join(grain_ranks("x"), ["flag", "x"])
        .join(grain_ranks("y"), ["flag", "y"])
        .select("flag", F.col("rx"), F.col("ry"))
    )
    m = r.groupBy("flag").agg(
        F.count("*").alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    return m.select(
        "flag",
        n.cast("bigint").alias("n"),
        F.round(
            (n * sxy - sx * sy)
            / F.nullif(
                F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
                F.lit(0.0),
            ),
            6,
        ).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# Wilcoxon signed-rank test (paired, tie-corrected normal approximation)
# ---------------------------------------------------------------------------

_WILCOXON_ORACLE = """
WITH pairs AS (
  SELECT n.n_name,
         CAST(SUM(CASE WHEN l.l_shipdate < TIMESTAMP '1997-07-01'
               THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END)
              AS DOUBLE)
           - CAST(SUM(CASE WHEN l.l_shipdate >= TIMESTAMP '1997-07-01'
                 THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END)
                  AS DOUBLE) AS d
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
    AND l.l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY n.n_name
),
nz AS (SELECT d FROM pairs WHERE d <> 0),
ranked AS (
  SELECT d,
         RANK() OVER (ORDER BY ABS(d))
           + (COUNT(*) OVER (PARTITION BY ABS(d)) - 1) / 2.0 AS r
  FROM nz
),
ties AS (
  SELECT SUM(t * t * t - t) AS tie_term
  FROM (SELECT COUNT(*) AS t FROM nz GROUP BY ABS(d))
),
stats AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN d > 0 THEN CAST(r AS DECIMAL(18,1))
                  ELSE CAST(0 AS DECIMAL(18,1)) END) AS wp
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_pairs,
       CAST(wp AS DOUBLE) AS w_plus,
       ROUND((CAST(wp AS DOUBLE) - n * (n + 1) / 4.0)
             / NULLIF(SQRT(n * (n + 1.0) * (2 * n + 1) / 24.0
                           - tie_term / 48.0), 0), 6) AS z_score
FROM stats, ties
"""


@register(
    "wilcoxon_signed_rank",
    oracle=_WILCOXON_ORACLE,
    tags=("stats", "window", "baseline"),
)
def wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on PAIRED observations — did per-
    nation supplier revenue shift between 1997H1 and 1997H2? — the
    paired complement to ``mann_whitney_u`` (which compares two
    independent samples): each nation contributes one signed
    difference, zero differences drop (standard Pratt-less handling),
    |d| gets midranks, and W⁺ sums the ranks of positive shifts, with
    the tie-corrected normal approximation. Per-pair differences come
    from exact-decimal revenue sums (bit-identical doubles), rank sums
    are exact DECIMAL(18,1) half-integers; the ranking window runs
    over ONE ROW PER NATION — pair-grain, never fact-grain, so the
    global window is 25 rows at any corpus size and the fact table
    only feeds one map-combinable conditional agg.
    """
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    zero = F.lit(0).cast("decimal(18,6)")
    mid = F.lit("1997-07-01").cast("timestamp")
    pairs = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(
            (
                F.sum(F.when(F.col("l_shipdate") < mid, rev).otherwise(zero))
                .cast("double")
                - F.sum(
                    F.when(F.col("l_shipdate") >= mid, rev).otherwise(zero)
                ).cast("double")
            ).alias("d")
        )
    )
    nz = pairs.filter(F.col("d") != 0).select("d")
    r = (
        F.rank().over(Window.orderBy(F.abs("d")))
        + (F.count("*").over(Window.partitionBy(F.abs("d"))) - 1) / 2.0
    )
    ranked = nz.select("d", r.alias("r"))
    ties = (
        nz.groupBy(F.abs("d").alias("ad"))
        .agg(F.count("*").alias("t"))
        .agg(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias(
                "tie_term"
            )
        )
    )
    stats = ranked.agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("d") > 0, F.col("r").cast("decimal(18,1)")).otherwise(
                F.lit(0).cast("decimal(18,1)")
            )
        ).alias("wp"),
    )
    nn = F.col("n")
    return stats.crossJoin(F.broadcast(ties)).select(
        nn.cast("bigint").alias("n_pairs"),
        F.col("wp").cast("double").alias("w_plus"),
        F.round(
            (F.col("wp").cast("double") - nn * (nn + 1) / 4.0)
            / F.nullif(
                F.sqrt(
                    nn * (nn + 1.0) * (2 * nn + 1) / 24.0
                    - F.col("tie_term") / 48.0
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Winsorized robust means (order-statistic clamp per group)
# ---------------------------------------------------------------------------

_WINSOR_ORACLE = """
WITH cuts AS (
  SELECT l_returnflag AS flag,
         percentile_disc(0.05) WITHIN GROUP (ORDER BY l_extendedprice) AS p05,
         percentile_disc(0.95) WITHIN GROUP (ORDER BY l_extendedprice) AS p95
  FROM lineitem GROUP BY l_returnflag
)
SELECT c.flag,
       c.p05, c.p95,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
         / COUNT(*) AS mean_raw,
       CAST(SUM(CAST(LEAST(GREATEST(l.l_extendedprice, c.p05), c.p95)
                     AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
         AS mean_winsorized
FROM lineitem l JOIN cuts c ON l.l_returnflag = c.flag
GROUP BY c.flag, c.p05, c.p95
"""


@register("winsorize_prices", oracle=_WINSOR_ORACLE, tags=("stats", "agg"))
def winsorize_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per return flag: clamp prices into their
    group's [p05, p95] order-statistic band, then average — the
    robust-mean treatment for heavy-tailed money columns (cheaper and
    more interpretable than trimming, keeps n constant). Cut points
    are percentile_disc ORDER STATISTICS (actual data values at rank
    ⌈q·n⌉, spelled identically in both engines — never interpolated),
    so the clamped values are still ≤2-decimal money values and the
    decimal-exact mean convention applies unchanged. Two passes: one
    per-group rank pass for the cuts (a 2-value broadcast per group),
    one map-combinable clamped agg — at 100 TB the cuts come from a
    sampled sketch and the clamp stays scan-side.
    """
    li = read_table(spark, sf_dir, "lineitem")
    # one percentile_disc buffer per group for BOTH cuts (array form —
    # scalar percentile_disc aggs each keep their own full value
    # buffer; quantile_sample_error precedent)
    cuts = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.expr(
            "percentile_disc(array(0.05D, 0.95D)) WITHIN GROUP "
            "(ORDER BY l_extendedprice)"
        ).alias("pp")
    ).select(
        "flag",
        F.col("pp").getItem(0).alias("p05"),
        F.col("pp").getItem(1).alias("p95"),
    )
    clamped = F.least(
        F.greatest(F.col("l_extendedprice"), F.col("p05")), F.col("p95")
    )
    return (
        li.join(F.broadcast(cuts), li.l_returnflag == cuts.flag)
        .groupBy("flag", "p05", "p95")
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast(
                    "double"
                )
                / F.count("*")
            ).alias("mean_raw"),
            (
                F.sum(clamped.cast("decimal(18,6)")).cast("double")
                / F.count("*")
            ).alias("mean_winsorized"),
        )
    )


# ---------------------------------------------------------------------------
# Difference-in-differences estimator (promo parts, pre/post 1995)
# ---------------------------------------------------------------------------

_DID_ORACLE = """
WITH cells AS (
  SELECT CASE WHEN p.p_type LIKE 'PROMO%' THEN 1 ELSE 0 END AS treated,
         CASE WHEN l.l_shipdate >= TIMESTAMP '1995-01-01' THEN 1 ELSE 0 END
           AS post,
         CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                       AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean_rev
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2
)
SELECT
  MAX(CASE WHEN treated = 1 AND post = 0 THEN mean_rev END) AS treated_pre,
  MAX(CASE WHEN treated = 1 AND post = 1 THEN mean_rev END) AS treated_post,
  MAX(CASE WHEN treated = 0 AND post = 0 THEN mean_rev END) AS control_pre,
  MAX(CASE WHEN treated = 0 AND post = 1 THEN mean_rev END) AS control_post,
  (MAX(CASE WHEN treated = 1 AND post = 1 THEN mean_rev END)
   - MAX(CASE WHEN treated = 1 AND post = 0 THEN mean_rev END))
  - (MAX(CASE WHEN treated = 0 AND post = 1 THEN mean_rev END)
     - MAX(CASE WHEN treated = 0 AND post = 0 THEN mean_rev END)) AS did
FROM cells
"""


@register("diff_in_diff_promo", oracle=_DID_ORACLE, tags=("stats", "agg"))
def diff_in_diff_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimate of the PROMO effect on
    per-lineitem revenue: (treated_post − treated_pre) −
    (control_post − control_pre), with treatment = PROMO part types
    and the 1995-01-01 shipdate cut as the event — the standard
    quasi-experimental readout when randomization isn't available,
    differencing out both the group baseline and the common time
    trend. All four cell means use the exact-decimal convention, so
    the estimator is a fixed double expression over bit-identical
    inputs. One broadcast dim join + one 4-cell hash-agg — nothing
    here grows with the fact table beyond the scan.
    """
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    cells = (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(
            F.when(F.col("p_type").like("PROMO%"), 1)
            .otherwise(0)
            .alias("treated"),
            F.when(
                F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"),
                1,
            )
            .otherwise(0)
            .alias("post"),
        )
        .agg((F.sum(rev).cast("double") / F.count("*")).alias("mean_rev"))
    )

    def cell(t: int, post: int):
        return F.max(
            F.when(
                (F.col("treated") == t) & (F.col("post") == post),
                F.col("mean_rev"),
            )
        )

    return cells.agg(
        cell(1, 0).alias("treated_pre"),
        cell(1, 1).alias("treated_post"),
        cell(0, 0).alias("control_pre"),
        cell(0, 1).alias("control_post"),
        (
            (cell(1, 1) - cell(1, 0)) - (cell(0, 1) - cell(0, 0))
        ).alias("did"),
    )


# ---------------------------------------------------------------------------
# Bucket-first Wilcoxon signed-rank twin: self-auditing quantization
# ---------------------------------------------------------------------------

_WXB_WIDTH = 10_000.0  # $10k-wide |d| cells: bounded by the diff RANGE

_WXB_ORACLE = f"""
WITH pairs AS (
  SELECT n.n_name,
         CAST(SUM(CASE WHEN l.l_shipdate < TIMESTAMP '1997-07-01'
               THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END)
              AS DOUBLE)
           - CAST(SUM(CASE WHEN l.l_shipdate >= TIMESTAMP '1997-07-01'
                 THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END)
                  AS DOUBLE) AS d
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
    AND l.l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY n.n_name
),
cells AS (
  SELECT ABS(d) AS v, CAST(COUNT(*) AS BIGINT) AS t,
         CAST(COUNT(*) FILTER (WHERE d > 0) AS BIGINT) AS cp
  FROM pairs WHERE d <> 0 GROUP BY ABS(d)
),
mid AS (
  SELECT v, t, cp,
         SUM(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING) AS below
  FROM cells
),
ex AS (
  SELECT SUM(CAST(cp AS DECIMAL(28,1))
             * CAST(COALESCE(below, 0) + (t + 1) / 2.0
                    AS DECIMAL(18,1))) AS wp,
         CAST(SUM(t) AS BIGINT) AS n,
         CAST(SUM(t * t * t - t) AS BIGINT) AS tie_ex
  FROM mid
),
bcells AS (
  SELECT CAST(FLOOR(v / {_WXB_WIDTH}) AS BIGINT) AS b,
         SUM(t) AS t, SUM(cp) AS cp
  FROM cells GROUP BY 1
),
bmid AS (
  SELECT b, t, cp,
         SUM(t) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING) AS below
  FROM bcells
),
bx AS (
  SELECT SUM(CAST(cp AS DECIMAL(28,1))
             * CAST(COALESCE(below, 0) + (t + 1) / 2.0
                    AS DECIMAL(18,1))) AS wp_hat,
         CAST(SUM(cp * (t - 1)) AS BIGINT) AS bound2,
         CAST(SUM(t * t * t - t) AS BIGINT) AS tie_hat,
         CAST(COUNT(*) AS BIGINT) AS nbk
  FROM bmid
),
z AS (
  SELECT n, nbk,
         CAST(wp AS DOUBLE) AS wpd, CAST(wp_hat AS DOUBLE) AS wphd,
         CAST(bound2 AS DOUBLE) / 2 AS bound,
         (ABS(CAST(wp - wp_hat AS DOUBLE)) * 2 <= CAST(bound2 AS DOUBLE))
           AS ok,
         (CAST(wp AS DOUBLE) - n * (n + 1) / 4.0)
           / NULLIF(SQRT(n * (n + 1.0) * (2 * n + 1) / 24.0
                         - tie_ex / 48.0), 0) AS z_ex,
         (CAST(wp_hat AS DOUBLE) - n * (n + 1) / 4.0)
           / NULLIF(SQRT(n * (n + 1.0) * (2 * n + 1) / 24.0
                         - tie_hat / 48.0), 0) AS z_hat
  FROM ex CROSS JOIN bx
)
SELECT n AS n_pairs,
       nbk AS n_buckets,
       wpd AS w_plus_exact,
       wphd AS w_plus_bucketed,
       bound AS w_bound,
       ok AS within_bound,
       ROUND(z_ex, 6) AS z_exact,
       ROUND(z_hat, 6) AS z_bucketed,
       ((ABS(z_ex) > 1.96) = (ABS(z_hat) > 1.96)) AS decision_agrees
FROM z
"""


@register(
    "wilcoxon_signed_rank_bucketed",
    oracle=_WXB_ORACLE,
    tags=("stats", "audit"),
)
def wilcoxon_signed_rank_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-first Wilcoxon signed-rank twin with its own
    substitution audit — the ``ks_bucketed_drift`` pattern ported to
    the paired rank test. The pair grain here is nations (bounded at
    25), so unlike the MWU/KW twins the exact side is already cheap —
    the twin exists because the |d| DOMAIN is continuous money: at a
    finer pair grain (customer, part, document) exact |d| midranks
    revert to corpus grain, and THIS spelling — quantize |d| into
    fixed $10k cells (bucket count bounded by the diff RANGE), midrank
    the bounded cell grain, carry the analytic bound — is what ships.

    Bound: within a cell of t_b pooled diffs the exact midranks span
    at most (t_b−1)/2 around the cell midrank and only positive diffs
    contribute to W⁺, so |W⁺ − Ŵ⁺| ≤ Σ_b cp_b·(t_b−1)/2 — computable
    from the bucket side alone. The decision (|z| > 1.96, tie-
    corrected normal approximation) is audited separately from the
    bound, per the engine's sampling-audit convention.

    Determinism: per-pair diffs are differences of exact decimal sums
    (bit-identical doubles both engines); FLOOR(|d|/10000) is exact
    IEEE (floor, never a halfway fork); midranks exact .5-step
    decimals; the bound check compares exact integers
    (2·|ΔW| ≤ Σ cp·(t−1)); z NULLIF-guarded, ROUND 6.

    Scale: the fact table feeds ONE map-combinable conditional agg to
    pair grain (shared with the exact side); both midrank windows run
    on bounded grains (pairs / $-range cells).
    """
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    zero = F.lit(0).cast("decimal(18,6)")
    mid_ts = F.lit("1997-07-01").cast("timestamp")
    pairs = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(
            (
                F.sum(
                    F.when(F.col("l_shipdate") < mid_ts, rev).otherwise(zero)
                ).cast("double")
                - F.sum(
                    F.when(F.col("l_shipdate") >= mid_ts, rev).otherwise(zero)
                ).cast("double")
            ).alias("d")
        )
    )
    cells = (
        pairs.filter(F.col("d") != 0)
        .groupBy(F.abs("d").alias("v"))
        .agg(
            F.count("*").cast("long").alias("t"),
            F.sum(F.when(F.col("d") > 0, 1).otherwise(0))
            .cast("long")
            .alias("cp"),
        )
    )

    def _wsum(grain: DataFrame, order_col: str) -> DataFrame:
        w_cum = Window.orderBy(order_col).rowsBetween(
            Window.unboundedPreceding, -1
        )
        mid = grain.select(
            "t",
            "cp",
            F.sum("t").over(w_cum).alias("below"),
        )
        midrank = (
            F.coalesce(F.col("below"), F.lit(0)) + (F.col("t") + 1) / 2.0
        ).cast("decimal(18,1)")
        return mid.agg(
            F.sum(F.col("cp").cast("decimal(28,1)") * midrank).alias("wp"),
            F.sum("t").cast("long").alias("n"),
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
            .cast("long")
            .alias("tie"),
            F.sum(F.col("cp") * (F.col("t") - 1)).cast("long").alias(
                "bound2"
            ),
            F.count("*").cast("long").alias("nbk"),
        )

    ex = _wsum(cells, "v").select(
        F.col("wp"), F.col("n"), F.col("tie").alias("tie_ex")
    )
    bcells = cells.groupBy(
        F.floor(F.col("v") / _WXB_WIDTH).cast("long").alias("b")
    ).agg(F.sum("t").alias("t"), F.sum("cp").alias("cp"))
    bx = _wsum(bcells, "b").select(
        F.col("wp").alias("wp_hat"),
        F.col("tie").alias("tie_hat"),
        F.col("bound2"),
        F.col("nbk"),
    )
    nn = F.col("n")

    def _z(wp_col: str, tie_col: str):
        return (
            F.col(wp_col).cast("double") - nn * (nn + 1) / 4.0
        ) / F.nullif(
            F.sqrt(
                nn * (nn + 1.0) * (2 * nn + 1) / 24.0
                - F.col(tie_col) / 48.0
            ),
            F.lit(0.0),
        )

    return ex.crossJoin(F.broadcast(bx)).select(
        nn.cast("bigint").alias("n_pairs"),
        F.col("nbk").alias("n_buckets"),
        F.col("wp").cast("double").alias("w_plus_exact"),
        F.col("wp_hat").cast("double").alias("w_plus_bucketed"),
        (F.col("bound2").cast("double") / 2).alias("w_bound"),
        (
            F.abs((F.col("wp") - F.col("wp_hat")).cast("double")) * 2
            <= F.col("bound2").cast("double")
        ).alias("within_bound"),
        F.round(_z("wp", "tie_ex"), 6).alias("z_exact"),
        F.round(_z("wp_hat", "tie_hat"), 6).alias("z_bucketed"),
        (
            (F.abs(_z("wp", "tie_ex")) > 1.96)
            == (F.abs(_z("wp_hat", "tie_hat")) > 1.96)
        ).alias("decision_agrees"),
    )


# ---------------------------------------------------------------------------
# Decision-tree feature-split finder (weighted Gini over decile cuts)
# ---------------------------------------------------------------------------

_GINI_SPLIT_ORACLE = """
WITH labeled AS (
  SELECT o_totalprice AS v,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
  FROM orders
),
cuts AS (
  SELECT unnest(quantile_disc(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]))
    AS thr
  FROM labeled
),
cells AS (
  SELECT c.thr,
         SUM(CASE WHEN l.v <= c.thr THEN 1 ELSE 0 END) AS nl,
         SUM(CASE WHEN l.v <= c.thr AND l.y = 1 THEN 1 ELSE 0 END) AS pl,
         COUNT(*) AS n,
         SUM(l.y) AS p
  FROM labeled l CROSS JOIN cuts c
  GROUP BY c.thr
),
scored AS (
  SELECT thr, nl, n - nl AS nr,
         (nl * 1.0 / n) * (1.0 - (pl * 1.0 / NULLIF(nl, 0))
                               * (pl * 1.0 / NULLIF(nl, 0))
                         - (1.0 - pl * 1.0 / NULLIF(nl, 0))
                           * (1.0 - pl * 1.0 / NULLIF(nl, 0)))
         + ((n - nl) * 1.0 / n)
           * (1.0 - ((p - pl) * 1.0 / NULLIF(n - nl, 0))
                    * ((p - pl) * 1.0 / NULLIF(n - nl, 0))
              - (1.0 - (p - pl) * 1.0 / NULLIF(n - nl, 0))
                * (1.0 - (p - pl) * 1.0 / NULLIF(n - nl, 0))) AS g
  FROM cells
)
SELECT thr AS threshold,
       CAST(nl AS BIGINT) AS n_left,
       CAST(nr AS BIGINT) AS n_right,
       ROUND(g, 6) AS gini_weighted,
       g = MIN(g) OVER () AS is_best
FROM scored
"""


def _decile_cuts_one_buffer(labeled: DataFrame, col: str) -> DataFrame:
    """The nine decile order statistics of ``col`` as a 1-column
    ``thr`` frame, from ONE percentile buffer instead of nine scalar
    percentile_disc aggregates — each scalar agg buffers and sorts the
    full column independently (the engine's documented
    percentile-buffer trap, registry.range_bucket docstring). The
    ARRAY form of percentile_disc shares one buffer across all nine
    fractions — the quality_filter_pipeline idiom — with
    native discrete-percentile semantics; measured 2.44 s → 0.59 s at
    sf0.1 for identical outputs (and ~2× faster than a hand-rolled
    array_sort∘collect_list + rank-pick spelling).
    tests/test_round11.py pins the equivalence against the nine-agg
    spelling on adversarial row counts (1, 2, 3, 7, and 10-multiples)
    and the empty input (NULL cuts are filtered → empty cut table,
    matching the old spelling's empty crossJoin).

    Scale note: one task holds one sorted column buffer — the same
    single-buffer class as EACH scalar agg, 9× less of it. The query
    docstring documents the 100 TB path (value-grain histogram +
    cumulative cells).
    """
    fr = ",".join(f"{k / 10}D" for k in range(1, 10))
    return (
        labeled.agg(
            F.expr(
                f"percentile_disc(array({fr})) WITHIN GROUP (ORDER BY {col})"
            ).alias("__cuts")
        )
        .select(F.explode("__cuts").alias("thr"))
        .filter(F.col("thr").isNotNull())
    )


@register(
    "gini_impurity_feature_split",
    oracle=_GINI_SPLIT_ORACLE,
    tags=("stats", "agg"),
)
def gini_impurity_feature_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Decision-tree split finder: weighted Gini impurity of the
    binary label (URGENT order or not) for each candidate threshold on
    the price feature — the inner loop of tree/GBDT training, here as
    a declarative plan. Candidates are the nine decile ORDER
    STATISTICS (percentile_disc — actual values, identical on both
    engines); every impurity is a fixed double expression over integer
    cell counts, NULLIF-guarded for empty sides; is_best compares
    UNROUNDED values so the winner can't disagree across engines. The
    fact table is scanned once against a 9-row broadcast cut table;
    at 100 TB the counts come from a (value-grain, label) histogram
    and each threshold reads cumulative cells — same math, no 9×
    fan-out.

    The nine cuts come from ONE shared percentile buffer (the ARRAY
    form of percentile_disc, ``_decile_cuts_one_buffer``), not nine
    scalar percentile_disc aggregates — each of those buffers and
    sorts the FULL column independently (the engine's documented
    percentile-buffer trap, registry.range_bucket docstring);
    measured 2.44 s → 0.59 s for the cut stage at sf0.1 for identical
    outputs (query 5.35 s → 1.10 s).
    """
    o = read_table(spark, sf_dir, "orders")
    labeled = o.select(
        F.col("o_totalprice").alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("y"),
    )
    cuts = _decile_cuts_one_buffer(labeled, "v")
    cells = (
        labeled.crossJoin(F.broadcast(cuts))
        .groupBy("thr")
        .agg(
            F.sum(F.when(F.col("v") <= F.col("thr"), 1).otherwise(0)).alias(
                "nl"
            ),
            F.sum(
                F.when(
                    (F.col("v") <= F.col("thr")) & (F.col("y") == 1), 1
                ).otherwise(0)
            ).alias("pl"),
            F.count("*").alias("n"),
            F.sum("y").alias("p"),
        )
    )
    nl, pl = F.col("nl"), F.col("pl")
    n, p = F.col("n"), F.col("p")
    nr, pr_ = n - nl, p - pl
    pl_rate = pl * 1.0 / F.nullif(nl, F.lit(0))
    pr_rate = pr_ * 1.0 / F.nullif(nr, F.lit(0))
    g = (nl * 1.0 / n) * (
        1.0 - pl_rate * pl_rate - (1.0 - pl_rate) * (1.0 - pl_rate)
    ) + (nr * 1.0 / n) * (
        1.0 - pr_rate * pr_rate - (1.0 - pr_rate) * (1.0 - pr_rate)
    )
    scored = cells.select(
        F.col("thr").alias("threshold"),
        nl.cast("bigint").alias("n_left"),
        nr.cast("bigint").alias("n_right"),
        g.alias("_g"),
    )
    return scored.select(
        "threshold",
        "n_left",
        "n_right",
        F.round(F.col("_g"), 6).alias("gini_weighted"),
        (F.col("_g") == F.min("_g").over(Window.partitionBy())).alias(
            "is_best"
        ),
    )


# ---------------------------------------------------------------------------
# Mix-shift vs within-segment drift decomposition (Oaxaca-style)
# ---------------------------------------------------------------------------

_DRIFT_DECOMP_ORACLE = """
WITH seg AS (
  SELECT c.c_mktsegment AS segment,
         CASE WHEN o.o_orderdate >= TIMESTAMP '1995-01-01' THEN 1 ELSE 0 END
           AS post,
         COUNT(*) AS n,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
           / COUNT(*) AS mean_v
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
),
tot AS (
  SELECT post, SUM(n) AS np FROM seg GROUP BY post
),
wide AS (
  SELECT s.segment,
         MAX(CASE WHEN s.post = 0 THEN s.n * 1.0 / t.np END) AS share_pre,
         MAX(CASE WHEN s.post = 1 THEN s.n * 1.0 / t.np END) AS share_post,
         MAX(CASE WHEN s.post = 0 THEN s.mean_v END) AS mean_pre,
         MAX(CASE WHEN s.post = 1 THEN s.mean_v END) AS mean_post
  FROM seg s JOIN tot t USING (post)
  GROUP BY s.segment
)
SELECT segment,
       ROUND(share_pre, 6) AS share_pre,
       ROUND(share_post, 6) AS share_post,
       ROUND(mean_pre, 6) AS mean_pre,
       ROUND(mean_post, 6) AS mean_post,
       ROUND((share_post - share_pre) * mean_pre, 6) AS mix_contrib,
       ROUND(share_post * (mean_post - mean_pre), 6) AS within_contrib
FROM wide
"""


@register(
    "segment_drift_decomposition",
    oracle=_DRIFT_DECOMP_ORACLE,
    tags=("stats", "agg"),
)
def segment_drift_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Oaxaca-style decomposition of the period-over-period change in
    mean order value into per-segment MIX SHIFT (composition moved:
    (share_post − share_pre)·mean_pre) and WITHIN-SEGMENT change
    (share_post·(mean_post − mean_pre)) — the drift report that tells
    you whether the metric moved because segments changed size or
    because behavior changed inside them; the two contribution columns
    sum exactly to the overall Δmean. Segment-period means use the
    exact-decimal convention and shares are integer ratios, so every
    output is a deterministic double. One broadcast dim join + two
    segment-grain aggs.
    """
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    seg = (
        o.join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.when(
                F.col("o_orderdate")
                >= F.lit("1995-01-01").cast("timestamp"),
                1,
            )
            .otherwise(0)
            .alias("post"),
        )
        .agg(
            F.count("*").alias("n"),
            (
                F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast(
                    "double"
                )
                / F.count("*")
            ).alias("mean_v"),
        )
    )
    tot = seg.groupBy("post").agg(F.sum("n").alias("np"))
    joined = seg.join(F.broadcast(tot), "post")

    def side(post: int, expr):
        return F.max(F.when(F.col("post") == post, expr))

    wide = joined.groupBy("segment").agg(
        side(0, F.col("n") * 1.0 / F.col("np")).alias("share_pre"),
        side(1, F.col("n") * 1.0 / F.col("np")).alias("share_post"),
        side(0, F.col("mean_v")).alias("mean_pre"),
        side(1, F.col("mean_v")).alias("mean_post"),
    )
    return wide.select(
        "segment",
        F.round("share_pre", 6).alias("share_pre"),
        F.round("share_post", 6).alias("share_post"),
        F.round("mean_pre", 6).alias("mean_pre"),
        F.round("mean_post", 6).alias("mean_post"),
        F.round(
            (F.col("share_post") - F.col("share_pre")) * F.col("mean_pre"),
            6,
        ).alias("mix_contrib"),
        F.round(
            F.col("share_post") * (F.col("mean_post") - F.col("mean_pre")),
            6,
        ).alias("within_contrib"),
    )


# ---------------------------------------------------------------------------
# Wald–Wolfowitz runs test on daily revenue (randomness about the median)
# ---------------------------------------------------------------------------

_RUNS_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS v
  FROM orders GROUP BY 1
),
med AS (
  SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS m FROM daily
),
signed AS (
  SELECT d, CASE WHEN v > m THEN 1 ELSE 0 END AS s
  FROM daily, med WHERE v <> m
),
runs AS (
  SELECT s,
         CASE WHEN LAG(s) OVER (ORDER BY d) IS NULL
                OR LAG(s) OVER (ORDER BY d) <> s THEN 1 ELSE 0 END AS brk
  FROM signed
),
agg AS (
  SELECT COUNT(*) AS n, SUM(s) AS n1, COUNT(*) - SUM(s) AS n2,
         SUM(brk) AS r
  FROM runs
)
SELECT CAST(n1 AS BIGINT) AS n_above,
       CAST(n2 AS BIGINT) AS n_below,
       CAST(r AS BIGINT) AS n_runs,
       ROUND(2.0 * n1 * n2 / n + 1, 6) AS expected_runs,
       ROUND((r - (2.0 * n1 * n2 / n + 1))
             / NULLIF(SQRT(2.0 * n1 * n2 * (2.0 * n1 * n2 - n)
                           / (1.0 * n * n * (n - 1))), 0), 6) AS z_score
FROM agg
"""


@register(
    "runs_test_daily_revenue", oracle=_RUNS_ORACLE, tags=("stats", "temporal")
)
def runs_test_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test: is the daily-revenue series random
    about its median, or does it cluster (trend/regimes → few long
    runs; oscillation → many short runs)? The cheap nonparametric
    sanity check before fitting any forecaster. Days equal to the
    median drop (standard treatment); the run counter is a lag window
    over the DAY grain (≈2.4k rows at any corpus size — the fact
    table only feeds one date-grain hash-agg); μ_R = 2n₁n₂/n + 1 and
    σ_R come from integer counts, NULLIF-guarded for one-sided
    degenerate series.
    """
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("v")
    )
    med = daily.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)").alias("m")
    )
    signed = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("v") != F.col("m"))
        .select("d", F.when(F.col("v") > F.col("m"), 1).otherwise(0).alias("s"))
    )
    lag_s = F.lag("s").over(Window.orderBy("d"))
    runs = signed.select(
        "s",
        F.when(lag_s.isNull() | (lag_s != F.col("s")), 1)
        .otherwise(0)
        .alias("brk"),
    )
    agg = runs.agg(
        F.count("*").alias("n"),
        F.sum("s").alias("n1"),
        (F.count("*") - F.sum("s")).alias("n2"),
        F.sum("brk").alias("r"),
    )
    n, n1, n2, r = F.col("n"), F.col("n1"), F.col("n2"), F.col("r")
    mu = 2.0 * n1 * n2 / n + 1
    sig = F.sqrt(
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n) / (1.0 * n * n * (n - 1))
    )
    return agg.select(
        n1.cast("bigint").alias("n_above"),
        n2.cast("bigint").alias("n_below"),
        r.cast("bigint").alias("n_runs"),
        F.round(mu, 6).alias("expected_runs"),
        F.round((r - mu) / F.nullif(sig, F.lit(0.0)), 6).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Mann–Kendall trend test on monthly revenue
# ---------------------------------------------------------------------------

_MK_ORACLE = """
WITH monthly AS (
  SELECT date_trunc('month', o_orderdate) AS m,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS v
  FROM orders GROUP BY 1
),
pairs AS (
  SELECT CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END AS sg
  FROM monthly a JOIN monthly b ON a.m < b.m
),
agg AS (
  SELECT (SELECT COUNT(*) FROM monthly) AS n,
         CAST(SUM(sg) AS BIGINT) AS s
  FROM pairs
)
SELECT CAST(n AS BIGINT) AS n_periods,
       s AS mk_s,
       ROUND((s - CASE WHEN s > 0 THEN 1 WHEN s < 0 THEN -1 ELSE 0 END)
             / NULLIF(SQRT(n * (n - 1.0) * (2 * n + 5) / 18.0), 0), 6)
         AS z_score
FROM agg
"""


@register(
    "mann_kendall_trend", oracle=_MK_ORACLE, tags=("stats", "temporal")
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotonic-trend test on monthly revenue — the
    nonparametric trend detector (no linearity or normality assumed)
    that complements `ols_slope_per_nation`'s parametric slope:
    S = Σ_{i<j} sign(v_j − v_i) over period pairs, z from the
    no-ties variance n(n−1)(2n+5)/18 with continuity correction. The
    quadratic pair join runs on the MONTH grain — bounded by the
    calendar domain (≈84 months → 3.5k pairs), never by data volume,
    the same grain-collapse trick as the engine's other global
    statistics. Exact-decimal monthly sums make each sign
    deterministic.
    """
    o = read_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("m")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("v")
    )
    a = monthly.select(F.col("m").alias("ma"), F.col("v").alias("va"))
    b = monthly.select(F.col("m").alias("mb"), F.col("v").alias("vb"))
    pairs = a.join(F.broadcast(b), F.col("ma") < F.col("mb")).select(
        F.when(F.col("vb") > F.col("va"), 1)
        .when(F.col("vb") < F.col("va"), -1)
        .otherwise(0)
        .alias("sg")
    )
    s_agg = pairs.agg(F.sum("sg").cast("bigint").alias("s"))
    n_agg = monthly.agg(F.count("*").alias("n"))
    joined = s_agg.crossJoin(F.broadcast(n_agg))
    n, s = F.col("n"), F.col("s")
    cc = F.when(s > 0, 1).when(s < 0, -1).otherwise(0)
    return joined.select(
        n.cast("bigint").alias("n_periods"),
        s.alias("mk_s"),
        F.round(
            (s - cc)
            / F.nullif(
                F.sqrt(n * (n - 1.0) * (2 * n + 5) / 18.0), F.lit(0.0)
            ),
            6,
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Single-changepoint detection (binary segmentation, prefix-sum SSE)
# ---------------------------------------------------------------------------

_CHANGEPOINT_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS v
  FROM orders GROUP BY 1
),
pre AS (
  SELECT d,
         ROW_NUMBER() OVER (ORDER BY d) AS i,
         COUNT(*) OVER () AS n,
         CAST(SUM(v) OVER (ORDER BY d) AS DOUBLE) AS cs,
         CAST(SUM(v * v) OVER (ORDER BY d) AS DOUBLE) AS cs2,
         CAST(SUM(v) OVER () AS DOUBLE) AS ts,
         CAST(SUM(v * v) OVER () AS DOUBLE) AS ts2
  FROM daily
),
scored AS (
  SELECT d, i, n, cs, ts, ts2,
         (cs2 - cs * cs / i)
         + ((ts2 - cs2) - (ts - cs) * (ts - cs) / (n - i)) AS sse
  FROM pre WHERE i < n
),
best AS (
  SELECT * FROM scored
  QUALIFY ROW_NUMBER() OVER (ORDER BY sse, d) = 1
)
SELECT d AS split_after,
       CAST(i AS BIGINT) AS n_left,
       CAST(n - i AS BIGINT) AS n_right,
       ROUND(cs / i, 6) AS mean_left,
       ROUND((ts - cs) / (n - i), 6) AS mean_right,
       ROUND(1.0 - sse / NULLIF(ts2 - ts * ts / n, 0), 6)
         AS variance_reduction
FROM best
"""


def changepoint_over_daily(daily: DataFrame) -> DataFrame:
    """Day-grain single-changepoint math shared by the batch query and
    the streaming rollup (streaming/windows.py ``rollup_changepoint``):
    input is (d, v) with ``v`` an exact DECIMAL daily sum; output is
    the one best-split row. ONE implementation so the stream≡batch
    parity test pins the streaming twin against exactly the arithmetic
    the driver oracle-checks.
    """
    w_cum = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pre = daily.select(
        "d",
        F.row_number().over(Window.orderBy("d")).alias("i"),
        F.count("*").over(w_all).alias("n"),
        F.sum("v").over(w_cum).cast("double").alias("cs"),
        F.sum(F.col("v") * F.col("v")).over(w_cum).cast("double").alias("cs2"),
        F.sum("v").over(w_all).cast("double").alias("ts"),
        F.sum(F.col("v") * F.col("v")).over(w_all).cast("double").alias("ts2"),
    )
    i, n = F.col("i"), F.col("n")
    cs, cs2 = F.col("cs"), F.col("cs2")
    ts, ts2 = F.col("ts"), F.col("ts2")
    sse = (cs2 - cs * cs / i) + (
        (ts2 - cs2) - (ts - cs) * (ts - cs) / (n - i)
    )
    scored = pre.filter(i < n).select(
        "d", "i", "n", "cs", "ts", "ts2", sse.alias("sse")
    )
    best = (
        scored.withColumn(
            "rn",
            F.row_number().over(Window.orderBy(F.col("sse"), F.col("d"))),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    # Raw SSE magnitudes reach ~1e15, where the engines' decimal→
    # double conversions differ by a few ulp (~1e0 absolute) and
    # ROUND(x, 6) cannot mask it at ANY fixed unit as SF grows. The
    # output therefore reports only SCALE-ROBUST quantities: the two
    # segment means (divisions shrink the conversion noise by the
    # segment length) and the RELATIVE variance reduction (ulp-level
    # relative error regardless of magnitude).
    return best.select(
        F.col("d").alias("split_after"),
        F.col("i").cast("bigint").alias("n_left"),
        (F.col("n") - F.col("i")).cast("bigint").alias("n_right"),
        F.round(F.col("cs") / F.col("i"), 6).alias("mean_left"),
        F.round(
            (F.col("ts") - F.col("cs")) / (F.col("n") - F.col("i")), 6
        ).alias("mean_right"),
        F.round(
            1.0 - F.col("sse") / F.nullif(ts2 - ts * ts / n, F.lit(0.0)),
            6,
        ).alias("variance_reduction"),
    )


@register(
    "changepoint_single_split",
    oracle=_CHANGEPOINT_ORACLE,
    tags=("stats", "temporal"),
)
def changepoint_single_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point detector (the first step of binary
    segmentation): the split of the daily-revenue series that
    minimizes total within-segment SSE, with the variance reduction it
    buys — the standard level-shift detector for metric monitoring.
    Every candidate split is scored from PREFIX SUMS of v and v² over
    the day grain (one cumulative window; per-candidate SSE is O(1)
    from the sufficient statistics, so all ≈2.4k candidates cost one
    pass — never a per-candidate re-scan). v and v² accumulate as
    EXACT decimals (v is a decimal(18,6) daily sum; v·v is exact at
    scale 12) and only the final SSE arithmetic runs in doubles; the
    argmin orders by (sse, date) so the winner is deterministic.

    The day-grain scoring lives in :func:`changepoint_over_daily`,
    shared with the incremental streaming twin (streaming/windows.py
    ``daily_revenue_stream`` + ``rollup_changepoint``).
    """
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("v")
    )
    return changepoint_over_daily(daily)


# ---------------------------------------------------------------------------
# Hash-deterministic subsample confidence interval for the mean
# ---------------------------------------------------------------------------

_SUBSAMPLE_B = 20

_SUBSAMPLE_CI_ORACLE = f"""
WITH reps AS (
  SELECT o_totalprice AS v, b
  FROM orders, (SELECT unnest(generate_series(0, {_SUBSAMPLE_B - 1})) AS b)
  WHERE {sql_knuth_bucket('o_orderkey + b * 1000003', 2)} = 0
),
means AS (
  SELECT b,
         CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mv
  FROM reps GROUP BY b
),
point AS (
  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
    AS pm
  FROM orders
)
SELECT CAST({_SUBSAMPLE_B} AS BIGINT) AS n_replicates,
       ROUND(point.pm, 6) AS point_mean,
       ROUND((SELECT percentile_disc(0.025) WITHIN GROUP (ORDER BY mv)
              FROM means), 6) AS ci_lo,
       ROUND((SELECT percentile_disc(0.975) WITHIN GROUP (ORDER BY mv)
              FROM means), 6) AS ci_hi
FROM point
"""


@register(
    "subsample_mean_ci_hash",
    oracle=_SUBSAMPLE_CI_ORACLE,
    tags=("stats", "sampling"),
)
def subsample_mean_ci_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confidence interval for mean order value via {B} DETERMINISTIC
    half-subsample replicates — resampling inference with no RNG
    state: replicate b keeps a row iff the overflow-safe Knuth hash of
    (key + b·1000003) is even, so every engine, run, and executor
    agrees on membership (the property that makes resampling usable in
    a distributed pipeline at all; RNG-based bootstrap is
    irreproducible across retries/speculative tasks). The CI is the
    2.5/97.5 percentile_disc of the replicate means (half-sampling —
    a subsampling estimator, deliberately not with-replacement
    bootstrap, which hashing cannot express). Plan: one {B}-way
    scan-side fan-out into a {B}-group decimal-exact mean agg — one
    pass over the fact table regardless of B.
    """

    o = read_table(spark, sf_dir, "orders")
    reps = (
        o.select("o_totalprice", "o_orderkey")
        .withColumn(
            "b", F.explode(F.array(*[F.lit(i) for i in range(_SUBSAMPLE_B)]))
        )
        .filter(
            knuth_bucket(
                F.col("o_orderkey") + F.col("b") * 1000003, 2
            )
            == 0
        )
    )
    means = reps.groupBy("b").agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("mv")
    )
    ci = means.agg(
        F.expr("percentile_disc(0.025) WITHIN GROUP (ORDER BY mv)").alias(
            "lo"
        ),
        F.expr("percentile_disc(0.975) WITHIN GROUP (ORDER BY mv)").alias(
            "hi"
        ),
    )
    point = o.agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("pm")
    )
    return point.crossJoin(F.broadcast(ci)).select(
        F.lit(_SUBSAMPLE_B).cast("bigint").alias("n_replicates"),
        F.round(F.col("pm"), 6).alias("point_mean"),
        F.round(F.col("lo"), 6).alias("ci_lo"),
        F.round(F.col("hi"), 6).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# Power-law tail fit of user activity (discrete MLE)
# ---------------------------------------------------------------------------

_POWERLAW_XMIN = 5

_POWERLAW_ORACLE = f"""
WITH deg AS (
  SELECT user_id, COUNT(*) AS k FROM events GROUP BY user_id
),
tail AS (
  SELECT CAST(ROUND(LN(k / ({_POWERLAW_XMIN} - 0.5)), 6) AS DECIMAL(18,6))
    AS lk
  FROM deg WHERE k >= {_POWERLAW_XMIN}
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_tail,
       CAST({_POWERLAW_XMIN} AS BIGINT) AS xmin,
       ROUND(1.0 + COUNT(*) / NULLIF(CAST(SUM(lk) AS DOUBLE), 0), 6)
         AS alpha
FROM tail
"""


@register(
    "powerlaw_alpha_user_activity",
    oracle=_POWERLAW_ORACLE,
    tags=("stats", "events"),
)
def powerlaw_alpha_user_activity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Discrete power-law exponent of the per-user activity
    distribution (events per user), via the Clauset-Shalizi-Newman
    MLE α ≈ 1 + n / Σ ln(k_i / (x_min − ½)) over the tail
    k ≥ x_min — the skew summary that predicts hot-key behavior:
    α ≤ 2 means the heaviest users dominate totals and per-key state
    (watermarks, session stores, salting decisions) must plan for
    them. Per-term logs follow the ROUND-6-then-decimal-sum
    convention; everything else is integer counts. One user-grain agg
    feeds a one-row reduction.
    """
    e = read_table(spark, sf_dir, "events")
    deg = e.groupBy("user_id").agg(F.count("*").alias("k"))
    tail = deg.filter(F.col("k") >= _POWERLAW_XMIN).select(
        F.round(F.log(F.col("k") / (_POWERLAW_XMIN - 0.5)), 6)
        .cast("decimal(18,6)")
        .alias("lk")
    )
    return tail.agg(
        F.count("*").cast("bigint").alias("n_tail"),
        F.lit(_POWERLAW_XMIN).cast("bigint").alias("xmin"),
        F.round(
            1.0
            + F.count("*")
            / F.nullif(F.sum("lk").cast("double"), F.lit(0.0)),
            6,
        ).alias("alpha"),
    )


# ---------------------------------------------------------------------------
# Kendall tau-b from value-grain cell counts
# ---------------------------------------------------------------------------

_KENDALL_ORACLE = """
WITH cells AS (
  SELECT l_returnflag AS flag, l_discount AS x, l_tax AS y,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1, 2, 3
),
cd AS (
  SELECT a.flag,
    CAST(SUM(CASE WHEN a.y < b.y THEN a.cnt * b.cnt ELSE 0 END) AS BIGINT)
      AS concordant,
    CAST(SUM(CASE WHEN a.y > b.y THEN a.cnt * b.cnt ELSE 0 END) AS BIGINT)
      AS discordant
  FROM cells a JOIN cells b ON a.flag = b.flag AND a.x < b.x
  GROUP BY a.flag
),
mx AS (
  SELECT flag, CAST(SUM(t * (t - 1) / 2) AS BIGINT) AS tie_x,
         CAST(SUM(t) AS BIGINT) AS n
  FROM (SELECT flag, x, SUM(cnt) AS t FROM cells GROUP BY 1, 2)
  GROUP BY flag
),
my AS (
  SELECT flag, CAST(SUM(t * (t - 1) / 2) AS BIGINT) AS tie_y
  FROM (SELECT flag, y, SUM(cnt) AS t FROM cells GROUP BY 1, 2)
  GROUP BY flag
)
SELECT cd.flag, mx.n AS n_rows, cd.concordant, cd.discordant,
  ROUND((cd.concordant - cd.discordant)
        / (SQRT(CAST(mx.n AS DOUBLE) * (mx.n - 1) / 2 - tie_x)
           * SQRT(CAST(mx.n AS DOUBLE) * (mx.n - 1) / 2 - tie_y)), 6)
    AS tau_b
FROM cd JOIN mx ON cd.flag = mx.flag JOIN my ON cd.flag = my.flag
"""


@register(
    "kendall_tau_via_grain",
    oracle=_KENDALL_ORACLE,
    tags=("stats", "agg", "scale"),
)
def kendall_tau_via_grain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation of discount vs tax per return
    flag, computed ENTIRELY from value-grain cell counts — the
    ``spearman_rank_via_grain`` discipline applied to the other classic
    rank statistic. Concordant/discordant pair counts come from a
    cell×cell join over the (x, y) contingency grain (≤ 11×9 cells per
    flag), never from row pairs: C = Σ n₁n₂ over cells with x₁<x₂,
    y₁<y₂, and tau-b's tie corrections come from the x- and y-marginal
    counts. Raw rows are touched by exactly one hash-agg.

    Determinism: every quantity up to the final division is an exact
    BIGINT (cell counts and their products); the one double step is
    (C−D)/(√(n₀−T_x)·√(n₀−T_y)) — the √ split keeps the intermediate
    below BIGINT overflow AND in identical IEEE order both engines —
    rounded to 6 dp.

    Scale: cells are the bounded grain of two low-cardinality columns;
    at 100 TB the cell join is identical while the single fact-sized
    hash-agg partial-aggregates map-side. This is how a columnar
    engine should compute tau over billions of rows.
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_discount").alias("x"),
        F.col("l_tax").alias("y"),
    )
    cells = li.groupBy("flag", "x", "y").agg(
        F.count("*").cast("long").alias("cnt")
    )
    a = cells.select(
        F.col("flag"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.col("cnt").alias("ca"),
    )
    b = cells.select(
        F.col("flag").alias("flag_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.col("cnt").alias("cb"),
    )
    cd = (
        F.broadcast(a)
        .join(b, (F.col("flag") == F.col("flag_b")) & (F.col("xa") < F.col("xb")))
        .groupBy("flag")
        .agg(
            F.sum(
                F.when(F.col("ya") < F.col("yb"), F.col("ca") * F.col("cb"))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("concordant"),
            F.sum(
                F.when(F.col("ya") > F.col("yb"), F.col("ca") * F.col("cb"))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("discordant"),
        )
    )
    mx = (
        cells.groupBy("flag", "x")
        .agg(F.sum("cnt").alias("t"))
        .groupBy("flag")
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) / 2).cast("long").alias("tie_x"),
            F.sum("t").cast("long").alias("n_rows"),
        )
    )
    my = (
        cells.groupBy("flag", "y")
        .agg(F.sum("cnt").alias("t"))
        .groupBy("flag")
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) / 2).cast("long").alias("tie_y")
        )
    )
    n0 = F.col("n_rows").cast("double") * (F.col("n_rows") - 1) / 2
    return (
        cd.join(mx, "flag")
        .join(my, "flag")
        .select(
            "flag",
            "n_rows",
            "concordant",
            "discordant",
            F.round(
                (F.col("concordant") - F.col("discordant"))
                / (
                    F.sqrt(n0 - F.col("tie_x"))
                    * F.sqrt(n0 - F.col("tie_y"))
                ),
                6,
            ).alias("tau_b"),
        )
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR over per-brand promo z-tests
# ---------------------------------------------------------------------------

# Abramowitz & Stegun 7.1.26 erfc approximation (|eps| < 1.5e-7): the
# SAME Horner-ordered polynomial is spelled on both engines so the only
# cross-engine divergence is exp()'s last ulp, absorbed by ROUND 6.
_BH_ALPHA = 0.05


def _erfc_col(x: Column) -> Column:
    t = 1.0 / (1.0 + 0.3275911 * x)
    poly = t * (
        0.254829592
        + t
        * (
            -0.284496736
            + t * (1.421413741 + t * (-1.453152027 + t * 1.061405429))
        )
    )
    return poly * F.exp(-x * x)


def _sql_erfc(x: str) -> str:
    return (
        f"((1.0 / (1.0 + 0.3275911 * {x})) * (0.254829592 + "
        f"(1.0 / (1.0 + 0.3275911 * {x})) * (-0.284496736 + "
        f"(1.0 / (1.0 + 0.3275911 * {x})) * (1.421413741 + "
        f"(1.0 / (1.0 + 0.3275911 * {x})) * (-1.453152027 + "
        f"(1.0 / (1.0 + 0.3275911 * {x})) * 1.061405429)))) "
        f"* EXP(-({x}) * ({x})))"
    )


_BH_ORACLE = f"""
WITH j AS (
  SELECT p.p_brand AS container,
         (p.p_type LIKE 'PROMO%') AS promo,
         CAST(l.l_extendedprice AS DECIMAL(18,2)) AS price
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
g AS (
  SELECT container,
    CAST(COUNT(*) FILTER (WHERE promo) AS BIGINT) AS n1,
    CAST(SUM(price) FILTER (WHERE promo) AS DOUBLE) AS s1,
    CAST(SUM(CAST(price * price AS DECIMAL(38,4))) FILTER (WHERE promo)
         AS DOUBLE) AS ss1,
    CAST(COUNT(*) FILTER (WHERE NOT promo) AS BIGINT) AS n0,
    CAST(SUM(price) FILTER (WHERE NOT promo) AS DOUBLE) AS s0,
    CAST(SUM(CAST(price * price AS DECIMAL(38,4))) FILTER (WHERE NOT promo)
         AS DOUBLE) AS ss0
  FROM j GROUP BY container
  HAVING COUNT(*) FILTER (WHERE promo) >= 2
     AND COUNT(*) FILTER (WHERE NOT promo) >= 2
),
z AS (
  SELECT container, n1, n0,
    (s1 / n1 - s0 / n0)
      / SQRT((ss1 - s1 * s1 / n1) / (n1 - 1) / n1
           + (ss0 - s0 * s0 / n0) / (n0 - 1) / n0) AS zval
  FROM g
),
p AS (
  SELECT container, n1, n0, ROUND(zval, 6) AS z_stat,
    ROUND({_sql_erfc("ABS(zval) / SQRT(2.0)")}, 6) AS p_value
  FROM z
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY p_value, container) AS i,
         COUNT(*) OVER () AS m
  FROM p
)
SELECT container, n1 AS n_promo, n0 AS n_other, z_stat, p_value,
  ROUND(LEAST(MIN(p_value * m / i) OVER
          (ORDER BY p_value DESC, container DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0), 6)
    AS q_value,
  CAST(CASE WHEN LEAST(MIN(p_value * m / i) OVER
          (ORDER BY p_value DESC, container DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0)
          <= {_BH_ALPHA} THEN 1 ELSE 0 END AS BIGINT) AS reject
FROM ranked
"""


@register(
    "benjamini_hochberg_promo", oracle=_BH_ORACLE, tags=("stats", "agg")
)
def benjamini_hochberg_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over ~40 simultaneous tests: per
    part brand, a Welch z-test of promo vs non-promo line-item
    price, then the BH step-up — adjusted q-value qᵢ = min_{j≥i} pⱼ·m/j
    (a running min from the largest p) and a reject flag at FDR 5%.
    This is what separates a metrics platform from a t-test loop: forty
    tests at α=.05 expect two false positives; BH bounds the false
    discovery RATE.

    Determinism: per-arm sufficient statistics (n, Σx, Σx²) are exact
    decimal sums; z is identical double arithmetic; the normal-tail
    p-value uses the Abramowitz-Stegun 7.1.26 erfc polynomial spelled
    in the SAME Horner order both engines (only exp()'s last ulp
    differs, absorbed by ROUND 6); the BH pass then runs on 6
    dp-identical doubles with (p, container) total order.

    Scale: ONE conditional-agg pass over the fact join produces the
    per-test moments (map-side partial agg); the z/p/BH math runs on
    the m-row test grain. m grows with the hypothesis set, never the
    data.
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", F.col("l_extendedprice").cast("decimal(18,2)").alias("price")
    )
    p = read_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_brand").alias("container"),
        F.col("p_type").startswith("PROMO").alias("promo"),
    )
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])

    def arm(flag: Column, name: str) -> list[Column]:
        price = F.when(flag, F.col("price"))
        return [
            F.count(F.when(flag, F.lit(1))).cast("long").alias(f"n{name}"),
            F.sum(price).cast("double").alias(f"s{name}"),
            F.sum((price * price).cast("decimal(38,4)"))
            .cast("double")
            .alias(f"ss{name}"),
        ]

    g = (
        j.groupBy("container")
        .agg(*arm(F.col("promo"), "1"), *arm(~F.col("promo"), "0"))
        .filter((F.col("n1") >= 2) & (F.col("n0") >= 2))
    )
    var1 = (F.col("ss1") - F.col("s1") * F.col("s1") / F.col("n1")) / (
        F.col("n1") - 1
    )
    var0 = (F.col("ss0") - F.col("s0") * F.col("s0") / F.col("n0")) / (
        F.col("n0") - 1
    )
    zval = (F.col("s1") / F.col("n1") - F.col("s0") / F.col("n0")) / F.sqrt(
        var1 / F.col("n1") + var0 / F.col("n0")
    )
    pdf = g.select(
        "container",
        F.col("n1").alias("n_promo"),
        F.col("n0").alias("n_other"),
        F.round(zval, 6).alias("z_stat"),
        F.round(_erfc_col(F.abs(zval) / F.sqrt(F.lit(2.0))), 6).alias("p_value"),
    )
    w_rank = Window.orderBy("p_value", "container")
    w_all = Window.partitionBy()
    ranked = pdf.withColumn("i", F.row_number().over(w_rank)).withColumn(
        "m", F.count("*").over(w_all)
    )
    w_step = (
        Window.orderBy(F.col("p_value").desc(), F.col("container").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    q = F.least(
        F.min(F.col("p_value") * F.col("m") / F.col("i")).over(w_step),
        F.lit(1.0),
    )
    return ranked.select(
        "container",
        "n_promo",
        "n_other",
        "z_stat",
        "p_value",
        F.round(q, 6).alias("q_value"),
        F.when(q <= F.lit(_BH_ALPHA), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("reject"),
    )


# ---------------------------------------------------------------------------
# Brown-Forsythe variance-homogeneity test across order priorities
# ---------------------------------------------------------------------------

_BROWN_FORSYTHE_ORACLE = """
WITH o AS (
  SELECT o_orderpriority AS grp, CAST(o_totalprice AS DECIMAL(18,2)) AS x
  FROM orders
),
cnt AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n FROM o GROUP BY grp),
ranked AS (
  SELECT grp, x, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY x) AS rn
  FROM o
),
med AS (
  SELECT r.grp, r.x AS med
  FROM ranked r JOIN cnt c ON c.grp = r.grp
  WHERE r.rn = (c.n + 1) // 2
),
z AS (
  SELECT o.grp, ABS(o.x - m.med) AS z
  FROM o JOIN med m ON m.grp = o.grp
),
g AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(z) AS DOUBLE) AS s,
         CAST(SUM(CAST(z * z AS DECIMAL(38,4))) AS DOUBLE) AS q
  FROM z GROUP BY grp
),
terms AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS n_total,
         CAST(SUM(CAST(ROUND(s * s / n, 6) AS DECIMAL(38,6))) AS DOUBLE)
           AS sum_sq_over_n,
         CAST(SUM(CAST(s AS DECIMAL(38,6))) AS DOUBLE) AS s_all,
         CAST(SUM(CAST(ROUND(q - s * s / n, 6) AS DECIMAL(38,6))) AS DOUBLE)
           AS ssw
  FROM g
)
SELECT k AS n_groups, n_total,
  ROUND((CAST(n_total - k AS DOUBLE) / (k - 1))
        * (sum_sq_over_n - s_all * s_all / n_total) / ssw, 6) AS f_stat
FROM terms
"""


@register(
    "brown_forsythe_priority", oracle=_BROWN_FORSYTHE_ORACLE, tags=("stats", "agg", "window")
)
def brown_forsythe_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (Levene with MEDIAN centers): are order-value
    variances equal across the five order priorities? Computes
    z = |x − median_g| per row, then the one-way ANOVA F on z — the
    robust guard every pooled-variance comparison should run first.

    Determinism: group medians are DISCRETE lower medians of exact
    decimals (rank (n+1)//2 — value deterministic under ties because
    tied rows hold equal values); z and its square stay exact decimal;
    the 5 per-group double terms (S²_g/n_g and SSW_g) are rounded to
    6 dp and summed exactly in decimal, because a 5-term double sum
    already differs in order across engines. Final F rounded 6 dp.

    Scale: the exact median costs one ranking window per group — the
    honest exact spelling at bench scale; at 100 TB swap the median
    stage for approx_percentile(0.5) (the ``robust_zscore_outliers`` /
    ``_approx`` pair documents exactly this swap). Everything after the
    |x−med| map is a single hash-agg on the 5-group grain.
    """
    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("x"),
    )
    cnt = o.groupBy("grp").agg(F.count("*").cast("long").alias("n"))
    ranked = o.withColumn(
        "rn", F.row_number().over(Window.partitionBy("grp").orderBy("x"))
    )
    med = (
        ranked.join(F.broadcast(cnt), "grp")
        .filter(F.col("rn") == ((F.col("n") + 1) / 2).cast("long"))
        .select("grp", F.col("x").alias("med"))
    )
    z = o.join(F.broadcast(med), "grp").select(
        "grp", F.abs(F.col("x") - F.col("med")).alias("z")
    )
    g = z.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("z").cast("double").alias("s"),
        F.sum((F.col("z") * F.col("z")).cast("decimal(38,4)"))
        .cast("double")
        .alias("q"),
    )
    terms = g.agg(
        F.count("*").cast("long").alias("n_groups"),
        F.sum("n").cast("long").alias("n_total"),
        F.sum(
            F.round(F.col("s") * F.col("s") / F.col("n"), 6).cast(
                "decimal(38,6)"
            )
        )
        .cast("double")
        .alias("sum_sq_over_n"),
        F.sum(F.col("s").cast("decimal(38,6)")).cast("double").alias("s_all"),
        F.sum(
            F.round(
                F.col("q") - F.col("s") * F.col("s") / F.col("n"), 6
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("ssw"),
    )
    return terms.select(
        "n_groups",
        "n_total",
        F.round(
            ((F.col("n_total") - F.col("n_groups")).cast("double")
             / (F.col("n_groups") - 1))
            * (
                F.col("sum_sq_over_n")
                - F.col("s_all") * F.col("s_all") / F.col("n_total")
            )
            / F.col("ssw"),
            6,
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# Log-rank test between two user cohorts
# ---------------------------------------------------------------------------

_LOGRANK_ORACLE = """
WITH users AS (
  SELECT user_id,
         user_id % 2 AS grp,
         MIN(ts) AS first_ts,
         MAX(ts) AS last_ts,
         MIN(CASE WHEN value > 200 THEN ts END) AS hit_ts
  FROM events GROUP BY user_id
),
durs AS (
  SELECT grp,
         epoch_us(COALESCE(hit_ts, last_ts)) // 3600000000
           - epoch_us(first_ts) // 3600000000 AS dur,
         CASE WHEN hit_ts IS NOT NULL THEN 1 ELSE 0 END AS observed
  FROM users
),
tot AS (
  SELECT CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nb
  FROM durs
),
cells AS (
  SELECT dur,
    CAST(SUM(CASE WHEN grp = 1 THEN observed ELSE 0 END) AS BIGINT) AS d1,
    CAST(SUM(CASE WHEN grp = 1 AND observed = 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS c1,
    CAST(SUM(CASE WHEN grp = 0 THEN observed ELSE 0 END) AS BIGINT) AS d0,
    CAST(SUM(CASE WHEN grp = 0 AND observed = 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS c0
  FROM durs GROUP BY dur
),
risk AS (
  SELECT dur, d1, d0,
    (SELECT na FROM tot)
      - (SUM(d1 + c1) OVER (ORDER BY dur) - (d1 + c1)) AS n1r,
    (SELECT nb FROM tot)
      - (SUM(d0 + c0) OVER (ORDER BY dur) - (d0 + c0)) AS n0r
  FROM cells
),
terms AS (
  SELECT d1,
    CAST(ROUND(CAST((d1 + d0) * n1r AS DOUBLE) / (n1r + n0r), 12)
         AS DECIMAL(38,12)) AS e1_t,
    CAST(ROUND(CASE WHEN n1r + n0r > 1 THEN
           CAST((d1 + d0) * n1r AS DOUBLE) / (n1r + n0r) * n0r
             / (n1r + n0r) * (n1r + n0r - (d1 + d0)) / (n1r + n0r - 1)
         ELSE 0.0 END, 12) AS DECIMAL(38,12)) AS v_t
  FROM risk
  WHERE d1 + d0 > 0
)
SELECT (SELECT na FROM tot) AS n_users_a,
       (SELECT nb FROM tot) AS n_users_b,
       CAST(SUM(d1) AS BIGINT) AS observed_a,
       ROUND(CAST(SUM(e1_t) AS DOUBLE), 6) AS expected_a,
       ROUND((SUM(d1) - CAST(SUM(e1_t) AS DOUBLE))
             * (SUM(d1) - CAST(SUM(e1_t) AS DOUBLE))
             / NULLIF(CAST(SUM(v_t) AS DOUBLE), 0.0), 6) AS logrank_chi2
FROM terms
"""


@register("logrank_survival_ab", oracle=_LOGRANK_ORACLE, tags=("stats", "window"))
def logrank_survival_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test: do the two user cohorts (user_id parity — the
    deterministic A/B split) differ in time-to-first-high-value-event
    survival? Reuses ``kaplan_meier_survival``'s duration/censoring
    definitions verbatim (hour-bucket diffs, right-censored at last
    event). At each event time t: E₁(t) = d(t)·n₁(t)/n(t) under H₀ and
    hypergeometric variance V(t); χ² = (O₁−E₁)²/ΣV — the test that
    weights every event time by its at-risk set instead of dropping
    censored users.

    Determinism: cohort sizes, deaths and at-risk counts are exact
    BIGINTs from one duration-grain window per cohort; the per-event-
    time E/V doubles are spelled in identical left-associative order,
    rounded to 12 dp and summed exactly in decimal; final ROUND 6.

    Scale: identical profile to the KM query — one fact-grain user
    agg, then everything runs on the bounded duration grain (≤
    observation-window hours). The two cohorts ride ONE scan as
    conditional aggregates, not two passes.
    """
    e = read_table(spark, sf_dir, "events")
    hour = lambda c: F.floor(epoch_us(c) / F.lit(3_600_000_000))  # noqa: E731
    users = e.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.min(F.when(F.col("value") > 200, F.col("ts"))).alias("hit_ts"),
    )
    durs = users.select(
        (F.col("user_id") % 2).alias("grp"),
        (hour(F.coalesce("hit_ts", "last_ts")) - hour("first_ts")).alias("dur"),
        F.when(F.col("hit_ts").isNotNull(), 1).otherwise(0).alias("observed"),
    )
    tot = durs.agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("long")
        .alias("na"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("long")
        .alias("nb"),
    )
    cells = durs.groupBy("dur").agg(
        F.sum(F.when(F.col("grp") == 1, F.col("observed")).otherwise(0))
        .cast("long")
        .alias("d1"),
        F.sum(F.when((F.col("grp") == 1) & (F.col("observed") == 0), 1).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("grp") == 0, F.col("observed")).otherwise(0))
        .cast("long")
        .alias("d0"),
        F.sum(F.when((F.col("grp") == 0) & (F.col("observed") == 0), 1).otherwise(0))
        .cast("long")
        .alias("c0"),
    )
    w = Window.orderBy("dur")
    risk = cells.crossJoin(F.broadcast(tot)).select(
        "dur",
        "d1",
        "d0",
        "na",
        "nb",
        (
            F.col("na")
            - (F.sum(F.col("d1") + F.col("c1")).over(w) - (F.col("d1") + F.col("c1")))
        ).alias("n1r"),
        (
            F.col("nb")
            - (F.sum(F.col("d0") + F.col("c0")).over(w) - (F.col("d0") + F.col("c0")))
        ).alias("n0r"),
    )
    d = F.col("d1") + F.col("d0")
    nr = F.col("n1r") + F.col("n0r")
    e1 = (d * F.col("n1r")).cast("double") / nr
    v = (
        (d * F.col("n1r")).cast("double")
        / nr
        * F.col("n0r")
        / nr
        * (nr - d)
        / (nr - 1)
    )
    terms = risk.filter(d > 0).select(
        "na",
        "nb",
        "d1",
        F.round(e1, 12).cast("decimal(38,12)").alias("e1_t"),
        F.round(F.when(nr > 1, v).otherwise(F.lit(0.0)), 12)
        .cast("decimal(38,12)")
        .alias("v_t"),
    )
    o1 = F.sum("d1").cast("long")
    se = F.sum("e1_t").cast("double")
    sv = F.sum("v_t").cast("double")
    return terms.groupBy("na", "nb").agg(
        o1.alias("observed_a"),
        F.round(se, 6).alias("expected_a"),
        F.round(
            (o1 - se) * (o1 - se) / F.nullif(sv, F.lit(0.0)), 6
        ).alias("logrank_chi2"),
    ).select(
        F.col("na").alias("n_users_a"),
        F.col("nb").alias("n_users_b"),
        "observed_a",
        "expected_a",
        "logrank_chi2",
    )


# ---------------------------------------------------------------------------
# Sample-ratio-mismatch gate over the registered splitter
# ---------------------------------------------------------------------------

_SRM_CRIT = 5.991  # chi2 95th percentile, 2 df

_SRM_ORACLE = f"""
WITH assign AS (
  SELECT CASE WHEN {sql_knuth_bucket('doc_id', 100)} < 80 THEN 'train'
              WHEN {sql_knuth_bucket('doc_id', 100)} < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
obs AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
      AS n_train,
    CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
    CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
  FROM assign
),
chi AS (
  SELECT n, n_train, n_val, n_test,
    CAST(CAST(ROUND((n_train - n * 0.8) * (n_train - n * 0.8) / (n * 0.8), 12)
         AS DECIMAL(38,12))
       + CAST(ROUND((n_val - n * 0.1) * (n_val - n * 0.1) / (n * 0.1), 12)
         AS DECIMAL(38,12))
       + CAST(ROUND((n_test - n * 0.1) * (n_test - n * 0.1) / (n * 0.1), 12)
         AS DECIMAL(38,12)) AS DOUBLE) AS chi2
  FROM obs
)
SELECT n AS n_docs, n_train, n_val, n_test,
       ROUND(chi2, 6) AS srm_chi2,
       CAST(CASE WHEN chi2 > {_SRM_CRIT} THEN 1 ELSE 0 END AS BIGINT)
         AS srm_flag
FROM chi
"""


@register("srm_check_split", oracle=_SRM_ORACLE, tags=("stats", "llm", "gate"))
def srm_check_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check of the engine's own 80/10/10
    splitter (``train_val_test_split``'s exact Knuth-hash assignment,
    re-derived here from the same ``knuth_bucket`` helper so the gate
    and the splitter can never drift): multinomial χ² of realized
    counts vs declared ratios, flagged at the 2-df 95% critical value.
    A splitter whose hash is biased (or whose key space is truncated)
    silently corrupts every downstream eval — this is the gate that
    catches it, the same way ``bloom_semi_join_fpr`` audits the Bloom
    pushdown and ``ann_recall_*`` audit the ANN indexes.

    Determinism: counts are exact BIGINTs; the three χ² cell terms are
    rounded to 12 dp and added as decimals (a 3-term double sum
    already differs in order across engines); final ROUND 6.

    Scale: one projection + one count-agg over the corpus. The gate is
    free relative to anything it protects.
    """
    d = read_table(spark, sf_dir, "documents")
    u = knuth_bucket("doc_id", 100)
    split = F.when(u < 80, "train").when(u < 90, "val").otherwise("test")
    obs = d.select(split.alias("split")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("long")
        .alias("n_train"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
        .cast("long")
        .alias("n_val"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
        .cast("long")
        .alias("n_test"),
    )

    def cell(count: str, p: float):
        exp = F.col("n") * p
        return F.round(
            (F.col(count) - exp) * (F.col(count) - exp) / exp, 12
        ).cast("decimal(38,12)")

    chi2 = (
        cell("n_train", 0.8) + cell("n_val", 0.1) + cell("n_test", 0.1)
    ).cast("double")
    return obs.select(
        F.col("n").alias("n_docs"),
        "n_train",
        "n_val",
        "n_test",
        F.round(chi2, 6).alias("srm_chi2"),
        F.when(chi2 > _SRM_CRIT, F.lit(1)).otherwise(F.lit(0))
        .cast("long")
        .alias("srm_flag"),
    )


# Audited joins: (join_name, left table, left key, right table,
# right key). The first five are the schema's FK edges — there the
# PK side is unique and FK integrity holds, so the NDV estimate is
# provably exact (est = n_right = actual, q_error = 1): the audit
# doubles as an FK-integrity check (any q_error != 1 on these rows
# means orphaned or duplicated keys). The last edge is the
# interesting one — a genuine many-to-many (customer x supplier on
# nationkey) where the uniform-frequency assumption meets real key
# skew and the q-error measures how badly.
_FK_JOINS: tuple[tuple[str, str, str, str, str], ...] = (
    ("customer_orders", "customer", "c_custkey", "orders", "o_custkey"),
    ("orders_lineitem", "orders", "o_orderkey", "lineitem", "l_orderkey"),
    ("part_lineitem", "part", "p_partkey", "lineitem", "l_partkey"),
    ("supplier_lineitem", "supplier", "s_suppkey", "lineitem", "l_suppkey"),
    ("nation_customer", "nation", "n_nationkey", "customer", "c_nationkey"),
    ("cust_supp_nation_m2m", "customer", "c_nationkey", "supplier", "s_nationkey"),
)

_JOIN_CTE = """
gl_{i} AS (
  SELECT {lk} AS k, COUNT(*) AS cl FROM {lt} GROUP BY {lk}
), gr_{i} AS (
  SELECT {rk} AS k, COUNT(*) AS cr FROM {rt} GROUP BY {rk}
), stats_{i} AS (
  SELECT
    '{name}' AS join_name,
    (SELECT CAST(SUM(cl) AS BIGINT) FROM gl_{i}) AS n_left,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM gl_{i}) AS ndv_left,
    (SELECT CAST(SUM(cr) AS BIGINT) FROM gr_{i}) AS n_right,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM gr_{i}) AS ndv_right,
    (SELECT CAST(COALESCE(SUM(cl * cr), 0) AS BIGINT)
       FROM gl_{i} JOIN gr_{i} USING (k)) AS actual_rows
)"""

_AUDIT_ORACLE = (
    "WITH "
    + ", ".join(
        _JOIN_CTE.format(i=i, name=name, lt=lt, lk=lk, rt=rt, rk=rk)
        for i, (name, lt, lk, rt, rk) in enumerate(_FK_JOINS)
    )
    + ", unioned AS ("
    + " UNION ALL ".join(
        f"SELECT * FROM stats_{i}" for i in range(len(_FK_JOINS))
    )
    + """
), est AS (
  SELECT *,
    (CAST(n_left AS DOUBLE) * CAST(n_right AS DOUBLE))
      / NULLIF(CAST(GREATEST(ndv_left, ndv_right) AS DOUBLE), 0.0)
      AS est_raw,
    CAST(actual_rows AS DOUBLE) AS act_raw
  FROM unioned
)
SELECT
  join_name, n_left, n_right, ndv_left, ndv_right, actual_rows,
  ROUND(est_raw, 6) AS est_rows,
  ROUND(GREATEST(est_raw / NULLIF(act_raw, 0.0),
                 act_raw / NULLIF(est_raw, 0.0)), 6) AS q_error
FROM est
"""
)


def _audit_one(
    spark: SparkSession, sf_dir: str, name: str, lt: str, lk: str, rt: str, rk: str
) -> DataFrame:
    """One FK edge's audit row. Two hash-aggs collapse each side to
    key grain (map-side combine: shuffle bytes are NDV-bounded, not
    row-bounded); the 'actual' is SUM(cl*cr) over the key-grain
    equi-join — algebraically the exact join cardinality, at NDV-join
    cost instead of row-join cost. The three singleton aggregates
    combine via broadcast cross-joins (registry precedent: every
    stats-vs-stats composition, e.g. runs_test_daily_revenue)."""
    gl = (
        read_table(spark, sf_dir, lt)
        .groupBy(F.col(lk).alias("k"))
        .agg(F.count("*").alias("cl"))
    )
    gr = (
        read_table(spark, sf_dir, rt)
        .groupBy(F.col(rk).alias("k"))
        .agg(F.count("*").alias("cr"))
    )
    stats_l = gl.agg(
        F.sum("cl").cast("bigint").alias("n_left"),
        F.count("*").cast("bigint").alias("ndv_left"),
    )
    stats_r = gr.agg(
        F.sum("cr").cast("bigint").alias("n_right"),
        F.count("*").cast("bigint").alias("ndv_right"),
    )
    act = gl.join(gr, "k").agg(
        F.coalesce(F.sum(F.col("cl") * F.col("cr")), F.lit(0))
        .cast("bigint")
        .alias("actual_rows")
    )
    est_raw = (
        F.col("n_left").cast("double") * F.col("n_right").cast("double")
    ) / F.nullif(
        F.greatest("ndv_left", "ndv_right").cast("double"), F.lit(0.0)
    )
    act_raw = F.col("actual_rows").cast("double")
    return (
        stats_l.crossJoin(F.broadcast(stats_r))
        .crossJoin(F.broadcast(act))
        .select(
            F.lit(name).alias("join_name"),
            "n_left",
            "n_right",
            "ndv_left",
            "ndv_right",
            "actual_rows",
            F.round(est_raw, 6).alias("est_rows"),
            F.round(
                F.greatest(
                    est_raw / F.nullif(act_raw, F.lit(0.0)),
                    act_raw / F.nullif(est_raw, F.lit(0.0)),
                ),
                6,
            ).alias("q_error"),
        )
    )


@register(
    "join_cardinality_audit",
    oracle=_AUDIT_ORACLE,
    tags=("stats", "plan"),
)
def join_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """System-R NDV join-cardinality estimate vs exact truth for six
    audited joins — the schema's five FK edges plus one genuine
    many-to-many (customer x supplier on nationkey) — one row per
    join with the q-error.

    Plan shape (the 100 TB contract): per edge, two key-grain
    hash-aggs (map-side combine; shuffle at NDV grain) feed (a) two
    singleton stat rows and (b) a key-grain equi-join whose
    SUM(cl*cr) IS the exact join cardinality — the row-level join is
    never built, so 'truth' costs NDV-join, not row-join. The six
    audit rows union. At 1000 executors each edge is an independent
    stage pipeline; the dominant cost is the two grain shuffles per
    edge, each bounded by the key NDV (<= row count, typically far
    below it).

    Determinism: counts and NDVs are exact BIGINTs; ``est_rows`` and
    ``q_error`` are single IEEE divisions of exact integers (identical
    across engines), ROUND 6. Divisions NULLIF-guarded per the
    registry's x/0 convention (Spark NULL vs DuckDB inf).
    """
    rows = [
        _audit_one(spark, sf_dir, name, lt, lk, rt, rk)
        for name, lt, lk, rt, rk in _FK_JOINS
    ]
    return functools.reduce(lambda a, b: a.unionByName(b), rows)


# Fact-side join keys — where shuffle skew lives. (column label,
# table, key column.)
_SKEW_KEYS: tuple[tuple[str, str, str], ...] = (
    ("orders.o_custkey", "orders", "o_custkey"),
    ("lineitem.l_orderkey", "lineitem", "l_orderkey"),
    ("lineitem.l_partkey", "lineitem", "l_partkey"),
    ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
    ("customer.c_nationkey", "customer", "c_nationkey"),
    ("events.user_id", "events", "user_id"),
)

# Salting target: rows of one key a single task should carry. The
# prescription column is ceil(max_cnt / target) in exact integers.
_SALT_TARGET = 100_000

_KEY_CTE = """
g_{i} AS (
  SELECT CAST({key} AS BIGINT) AS k, COUNT(*) AS cnt
  FROM {table} GROUP BY CAST({key} AS BIGINT)
), s_{i} AS (
  SELECT
    '{label}' AS key_col,
    (SELECT CAST(SUM(cnt) AS BIGINT) FROM g_{i}) AS n_rows,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM g_{i}) AS ndv,
    (SELECT CAST(MAX(cnt) AS BIGINT) FROM g_{i}) AS max_cnt,
    (SELECT MIN(k) FROM g_{i}
       WHERE cnt = (SELECT MAX(cnt) FROM g_{i})) AS top_key
)"""

_SKEW_ADVISOR_ORACLE = (
    "WITH "
    + ", ".join(
        _KEY_CTE.format(i=i, label=label, table=table, key=key)
        for i, (label, table, key) in enumerate(_SKEW_KEYS)
    )
    + ", unioned AS ("
    + " UNION ALL ".join(f"SELECT * FROM s_{i}" for i in range(len(_SKEW_KEYS)))
    + f"""
)
SELECT
  key_col, n_rows, ndv, max_cnt, top_key,
  ROUND(CAST(n_rows AS DOUBLE) / NULLIF(CAST(ndv AS DOUBLE), 0.0), 6)
    AS mean_cnt,
  ROUND((CAST(max_cnt AS DOUBLE) * CAST(ndv AS DOUBLE))
        / NULLIF(CAST(n_rows AS DOUBLE), 0.0), 6) AS skew_factor,
  ROUND(CAST(max_cnt AS DOUBLE) / NULLIF(CAST(n_rows AS DOUBLE), 0.0), 6)
    AS top_share,
  CAST((max_cnt + {_SALT_TARGET - 1}) // {_SALT_TARGET} AS BIGINT)
    AS salt_buckets
FROM unioned
"""
)


def _skew_one(
    spark: SparkSession, sf_dir: str, label: str, table: str, key: str
) -> DataFrame:
    """One key column's profile. The grain hash-agg is the only pass
    over the rows (map-side partial_count combine: shuffle at NDV
    grain); the stats and the argmax run over the NDV-sized grain
    table. ``top_key`` joins the grain back on cnt == max via a
    broadcast singleton and takes MIN(k) — deterministic under ties,
    which arg_max/max_by is not guaranteed to be cross-engine."""
    g = (
        read_table(spark, sf_dir, table)
        .groupBy(F.col(key).cast("bigint").alias("k"))
        .agg(F.count("*").alias("cnt"))
    )
    stats = g.agg(
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.count("*").cast("bigint").alias("ndv"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
    )
    top = (
        g.join(F.broadcast(stats.select("max_cnt")), g.cnt == F.col("max_cnt"))
        .agg(F.min("k").alias("top_key"))
    )
    n_d = F.col("n_rows").cast("double")
    ndv_d = F.col("ndv").cast("double")
    max_d = F.col("max_cnt").cast("double")
    return (
        stats.crossJoin(F.broadcast(top))
        .select(
            F.lit(label).alias("key_col"),
            "n_rows",
            "ndv",
            "max_cnt",
            "top_key",
            F.round(n_d / F.nullif(ndv_d, F.lit(0.0)), 6).alias("mean_cnt"),
            F.round(
                (max_d * ndv_d) / F.nullif(n_d, F.lit(0.0)), 6
            ).alias("skew_factor"),
            F.round(max_d / F.nullif(n_d, F.lit(0.0)), 6).alias("top_share"),
            F.expr(
                f"(max_cnt + {_SALT_TARGET - 1}) div {_SALT_TARGET}"
            ).cast("bigint").alias("salt_buckets"),
        )
    )


@register(
    "join_skew_advisor",
    oracle=_SKEW_ADVISOR_ORACLE,
    tags=("stats", "plan"),
)
def join_skew_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact key-frequency skew profile for every fact-side join key:
    one row per key column with (n_rows, ndv, max_cnt, top_key,
    mean_cnt, skew_factor, top_share, salt_buckets).

    Plan shape (the 100 TB contract): per key, ONE pass over the fact
    rows — a grain hash-agg whose map-side partial_count collapses
    each input partition to its local key set before the shuffle, so
    shuffle bytes are NDV-bounded. Everything downstream (sum/count/
    max, the cnt==max argmax join, the advisory arithmetic) runs on
    the NDV-sized grain table with broadcast singletons. At 1000
    executors the six profiles are independent stage pipelines over
    their fact scans; no row-level join, no sort, no collect.

    ``skew_factor`` is the quantity AQE's skew-join machinery
    thresholds on (skewedPartitionFactor); ``salt_buckets`` is the
    exact fan-out ``salted_skew_join`` would need at a 100k-rows-per-
    task target, in pure integer ceil-division so both engines agree
    bit-for-bit even on the boundary.

    Determinism: counts exact; ``top_key`` = MIN key among maximal
    counts (ties broken identically cross-engine); doubles are final
    divisions of exact integers, ROUND 6, NULLIF-guarded.
    """
    rows = [
        _skew_one(spark, sf_dir, label, table, key)
        for label, table, key in _SKEW_KEYS
    ]
    return functools.reduce(lambda a, b: a.unionByName(b), rows)


_K = 64

# (k-1) * 2^48 — the estimator numerator, one exactly-representable
# double literal (< 2^54) so neither engine performs the multiply.
_EST_NUM = (_K - 1) * (1 << 48)
assert _EST_NUM == 17732923532771328

_AUDIT_COLS: tuple[tuple[str, str, str], ...] = (
    ("lineitem.l_orderkey", "lineitem", "l_orderkey"),
    ("lineitem.l_partkey", "lineitem", "l_partkey"),
    ("orders.o_custkey", "orders", "o_custkey"),
    ("events.user_id", "events", "user_id"),
    ("documents.text", "documents", "text"),
)


def _h48(col: Column | str, tag: int) -> Column:
    """48-bit hash: first 12 hex chars of md5('{tag}:' || value) as a
    BIGINT — the epoch_shuffle_shards cross-engine digest spelling widened from 32
    to 48 bits so birthday collisions are negligible at any NDV this
    audit will see (collisions would only merge identically on both
    engines anyway — the sketch stays bit-identical). Accepts a column
    name or any string-typed Column expression (quantile_sample_error hashes
    a composite row key); the ONE Spark-side spelling of this digest —
    keep it in lockstep with ``_sql_h48``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{tag}:"), c.cast("string"))), 1, 12
        ),
        16,
        10,
    ).cast("bigint")


def _sql_h48(col: str, tag: int) -> str:
    return (
        f"CAST(('0x' || substr(md5('{tag}:' || CAST({col} AS VARCHAR)), 1, 12))"
        "::BIGINT AS BIGINT)"
    )


_COL_CTE = """
g_{i} AS (
  SELECT DISTINCT {h} AS h FROM {table} WHERE {col} IS NOT NULL
), k_{i} AS (
  SELECT
    '{label}' AS col_name,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM g_{i}) AS exact_ndv,
    (SELECT CAST(MAX(h) AS BIGINT) FROM
       (SELECT h FROM g_{i} ORDER BY h LIMIT {k}) t) AS kth_min_hash,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM
       (SELECT h FROM g_{i} ORDER BY h LIMIT {k}) t) AS n_sketch
)"""

_KMV_ORACLE = (
    "WITH "
    + ", ".join(
        _COL_CTE.format(
            i=i,
            label=label,
            table=table,
            col=col,
            h=_sql_h48(col, i),
            k=_K,
        )
        for i, (label, table, col) in enumerate(_AUDIT_COLS)
    )
    + ", unioned AS ("
    + " UNION ALL ".join(f"SELECT * FROM k_{i}" for i in range(len(_AUDIT_COLS)))
    + f"""
), est AS (
  SELECT *,
    CASE WHEN n_sketch < {_K} THEN CAST(n_sketch AS DOUBLE)
         ELSE {_EST_NUM}.0 / CAST(kth_min_hash AS DOUBLE)
    END AS est_raw
  FROM unioned
)
SELECT
  col_name, exact_ndv, kth_min_hash,
  ROUND(est_raw, 6) AS ndv_est,
  ROUND((est_raw - CAST(exact_ndv AS DOUBLE))
        / NULLIF(CAST(exact_ndv AS DOUBLE), 0.0), 6) AS rel_error
FROM est
"""
)


def _kmv_one(
    spark: SparkSession, sf_dir: str, i: int, label: str, table: str, col: str
) -> DataFrame:
    """One column's sketch + audit. The distinct-hash set is an
    NDV-grain hash-agg (map-side combine); the bottom-k is a
    TakeOrderedAndProject over that grain — per-partition top-k then
    a k*p-row merge, never a full sort shuffle. In production the
    exact_ndv column is the thing you DROP (it is the expensive
    side); it exists here because the audit's whole point is
    measuring the sketch against it."""
    g = (
        read_table(spark, sf_dir, table)
        .where(F.col(col).isNotNull())
        .select(_h48(col, i).alias("h"))
        .distinct()
    )
    exact = g.agg(F.count("*").cast("bigint").alias("exact_ndv"))
    sketch = (
        g.orderBy("h")
        .limit(_K)
        .agg(
            F.max("h").cast("bigint").alias("kth_min_hash"),
            F.count("*").cast("bigint").alias("n_sketch"),
        )
    )
    est_raw = F.when(
        F.col("n_sketch") < _K, F.col("n_sketch").cast("double")
    ).otherwise(
        F.lit(float(_EST_NUM)) / F.col("kth_min_hash").cast("double")
    )
    return (
        exact.crossJoin(F.broadcast(sketch))
        .select(
            F.lit(label).alias("col_name"),
            "exact_ndv",
            "kth_min_hash",
            F.round(est_raw, 6).alias("ndv_est"),
            F.round(
                (est_raw - F.col("exact_ndv").cast("double"))
                / F.nullif(F.col("exact_ndv").cast("double"), F.lit(0.0)),
                6,
            ).alias("rel_error"),
        )
    )


@register(
    "ndv_kmv_sketch_error",
    oracle=_KMV_ORACLE,
    tags=("stats", "sketch"),
)
def ndv_kmv_sketch_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-64) distinct-count sketch vs exact NDV for five
    schema columns spanning key ints and long text values: one row
    per column with the k-th minimum hash (the sketch's entire
    state boundary), the estimate (k-1)·2^48 / h_(k), and the signed
    relative error.

    Plan shape (the 100 TB contract): per column, one scan →
    distinct-hash hash-agg (shuffle NDV-bounded by the map-side
    partial) → TakeOrderedAndProject for the bottom-k (per-partition
    top-k, merge of k rows per partition — no global sort). The
    sketch side is exactly what a distributed NDV service would run;
    the exact side exists only to be audited against. Five columns =
    five independent stage pipelines unioned.

    Determinism: the hash is the shared md5-hex digest spelling, so
    BOTH engines materialize identical 48-bit hash sets, identical
    bottom-k, identical k-th minimum — the driver verifies the sketch
    itself, not just summary shapes. The estimator is one IEEE
    division of exact integers ((k-1)·2^48 is a single
    exactly-representable double literal), ROUND 6. Columns with
    fewer than k distinct hashes take the exact-count branch.
    """
    rows = [
        _kmv_one(spark, sf_dir, i, label, table, col)
        for i, (label, table, col) in enumerate(_AUDIT_COLS)
    ]
    return functools.reduce(lambda a, b: a.unionByName(b), rows)


_KMV_MERGE_TAG = 1000

_SQL_EST = (
    f"CASE WHEN n_sketch < {_K} THEN CAST(n_sketch AS DOUBLE) "
    f"ELSE {_EST_NUM}.0 / CAST(kth_min_hash AS DOUBLE) END"
)

_MERGE_ORACLE = f"""
WITH g AS (
  SELECT DISTINCT source, {_sql_h48('text', _KMV_MERGE_TAG)} AS h
  FROM documents WHERE text IS NOT NULL
), ranked AS (
  SELECT source, h,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
  FROM g
), per_source AS (
  SELECT source AS scope,
         CAST(MAX(h) AS BIGINT) AS kth_min_hash,
         CAST(COUNT(*) AS BIGINT) AS n_sketch
  FROM ranked WHERE rn <= {_K} GROUP BY source
), merged_pool AS (
  SELECT DISTINCT h FROM ranked WHERE rn <= {_K}
), merged AS (
  SELECT '__merged__' AS scope,
         CAST(MAX(h) AS BIGINT) AS kth_min_hash,
         CAST(COUNT(*) AS BIGINT) AS n_sketch
  FROM (SELECT h FROM merged_pool ORDER BY h LIMIT {_K}) t
), direct AS (
  SELECT '__direct__' AS scope,
         CAST(MAX(h) AS BIGINT) AS kth_min_hash,
         CAST(COUNT(*) AS BIGINT) AS n_sketch
  FROM (SELECT DISTINCT h FROM g ORDER BY h LIMIT {_K}) t
), unioned AS (
  SELECT * FROM per_source
  UNION ALL SELECT * FROM merged
  UNION ALL SELECT * FROM direct
)
SELECT
  scope, kth_min_hash, n_sketch,
  ROUND({_SQL_EST}, 6) AS ndv_est,
  CASE WHEN scope = '__merged__'
       THEN kth_min_hash = (SELECT kth_min_hash FROM direct)
            AND n_sketch = (SELECT n_sketch FROM direct)
       ELSE NULL END AS est_matches_direct
FROM unioned
"""


@register(
    "kmv_merge_parity",
    oracle=_MERGE_ORACLE,
    tags=("stats", "sketch"),
)
def kmv_merge_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KMV sketches of document-text hashes, their
    union-merge, and the direct global sketch — with a driver-checked
    gate that merge ≡ direct (identical k-th minimum AND sketch
    size).

    Plan shape (the 100 TB contract): the (source, hash) grain is one
    hash-agg over the scan; per-source bottom-k is a row_number
    window PARTITIONED BY source (sort only within each source's
    NDV-grain slice — no global sort); the merge pool is at most
    k·|sources| rows, so the merged bottom-k is a
    TakeOrderedAndProject over a sketch-sized input, exactly the
    reduce-tree step a cluster would run. The __direct__ row is the
    expensive path the merge REPLACES — present only to be audited
    against, like exact_ndv in ndv_kmv_sketch_error.

    Determinism: same shared md5-hex digest spelling as
    ndv_kmv_sketch_error (tag 1000 keeps the hash space independent);
    all comparisons on exact BIGINTs; the boolean gate is engine-independent because
    both engines materialize identical sketches.
    """
    g = (
        read_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("source", _h48("text", _KMV_MERGE_TAG).alias("h"))
        .distinct()
    )
    ranked = g.withColumn(
        "rn", F.row_number().over(Window.partitionBy("source").orderBy("h"))
    ).where(F.col("rn") <= _K)
    # per-source sketch rows — also the ONLY input to the merge path
    per_source = ranked.groupBy(F.col("source").alias("scope")).agg(
        F.max("h").cast("bigint").alias("kth_min_hash"),
        F.count("*").cast("bigint").alias("n_sketch"),
    )
    merged = (
        ranked.select("h")
        .distinct()
        .orderBy("h")
        .limit(_K)
        .agg(
            F.max("h").cast("bigint").alias("kth_min_hash"),
            F.count("*").cast("bigint").alias("n_sketch"),
        )
        .select(F.lit("__merged__").alias("scope"), "kth_min_hash", "n_sketch")
    )
    direct = (
        g.select("h")
        .distinct()
        .orderBy("h")
        .limit(_K)
        .agg(
            F.max("h").cast("bigint").alias("kth_min_hash"),
            F.count("*").cast("bigint").alias("n_sketch"),
        )
        .select(F.lit("__direct__").alias("scope"), "kth_min_hash", "n_sketch")
    )
    unioned = per_source.unionByName(merged).unionByName(direct)
    est = F.when(
        F.col("n_sketch") < _K, F.col("n_sketch").cast("double")
    ).otherwise(F.lit(float(_EST_NUM)) / F.col("kth_min_hash").cast("double"))
    dkth = direct.select(
        F.col("kth_min_hash").alias("d_kth"), F.col("n_sketch").alias("d_n")
    )
    return (
        unioned.crossJoin(F.broadcast(dkth))
        .select(
            "scope",
            "kth_min_hash",
            "n_sketch",
            F.round(est, 6).alias("ndv_est"),
            F.when(
                F.col("scope") == "__merged__",
                (F.col("kth_min_hash") == F.col("d_kth"))
                & (F.col("n_sketch") == F.col("d_n")),
            ).alias("est_matches_direct"),
        )
    )


_SAMPLE_K = 1024

_QS = ("0.25", "0.5", "0.75", "0.9", "0.99")

_QSAMPLE_TAG = 2000


def _pdisc(q: str, col: str) -> str:
    return f"percentile_disc({q}) WITHIN GROUP (ORDER BY {col})"


_QUANTILE_ORACLE = (
    f"""
WITH keyed AS (
  SELECT l_extendedprice AS v,
         {_sql_h48("l_orderkey || ':' || l_linenumber", _QSAMPLE_TAG)} AS h
  FROM lineitem
), sample AS (
  SELECT v FROM keyed ORDER BY h LIMIT {_SAMPLE_K}
), s AS (
  SELECT
"""
    + ",\n".join(
        f"    CAST({_pdisc(q, 'v')} AS DOUBLE) AS s_{i}"
        for i, q in enumerate(_QS)
    )
    + """
  FROM sample
), e AS (
  SELECT
"""
    + ",\n".join(
        f"    CAST({_pdisc(q, 'l_extendedprice')} AS DOUBLE) AS e_{i}"
        for i, q in enumerate(_QS)
    )
    + """
  FROM lineitem
)
"""
    + " UNION ALL ".join(
        f"""
SELECT CAST({q} AS DOUBLE) AS quantile,
       e_{i} AS exact_value,
       s_{i} AS sample_value,
       ROUND((s_{i} - e_{i}) / NULLIF(e_{i}, 0.0), 6) AS rel_error
FROM s CROSS JOIN e"""
        for i, q in enumerate(_QS)
    )
)


@register(
    "quantile_sample_error",
    oracle=_QUANTILE_ORACLE,
    tags=("stats", "sketch", "sample"),
)
def quantile_sample_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five quantiles of l_extendedprice estimated from the 1024 rows
    with the smallest row-key hash, vs the exact order statistics —
    one row per quantile with the signed relative error.

    Plan shape (the 100 TB contract): the sample side is a scan-side
    hash projection + TakeOrderedAndProject — per-partition bottom-k
    then a k·partitions merge, NO shuffle of the sampled data, k rows
    on the driver side of the agg regardless of table size. That is
    the entire cost a RangePartitioner-style bounds-picker pays. The
    exact side is the full sort-based percentile aggregate the sample
    REPLACES — present to be audited against, like exact_ndv in the
    KMV audit. Sample error at k=1024 concentrates at
    ~1/(2·sqrt(k)) ≈ 1.6% per quantile.

    Determinism: both engines draw the IDENTICAL sample (shared
    md5-hex 48-bit digest of the unique (orderkey, linenumber) row
    key, tag 2000), and percentile_disc returns actual data values —
    so sampled and exact quantiles are bit-identical cross-engine and
    the driver hash-verifies the estimator itself. The error division
    is IEEE on exact money values, ROUND 6, NULLIF-guarded.
    """
    li = read_table(spark, sf_dir, "lineitem")
    keyed = li.select(
        F.col("l_extendedprice").alias("v"),
        _h48(
            F.concat_ws(
                ":",
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
            ),
            _QSAMPLE_TAG,
        ).alias("h"),
    )
    # SAMPLE side: one percentile_disc buffer via the array form is
    # fine — the buffer is exactly the k=1024 sampled rows.
    qs_arr = "array(" + ", ".join(f"{q}D" for q in _QS) + ")"
    sample = keyed.orderBy("h").limit(_SAMPLE_K)
    s = sample.agg(
        F.expr(
            f"percentile_disc({qs_arr}) WITHIN GROUP (ORDER BY v)"
        ).alias("sq")
    ).select(
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(float(q)) for q in _QS]).alias("quantile"),
                F.col("sq").cast("array<double>").alias("sample_value"),
            )
        ).alias("z")
    ).select("z.quantile", "z.sample_value")
    # EXACT side: the distributed rank walk (registry.rank_select) —
    # no full-table value buffer in one task, per-task state ≤ one
    # bucket of value-grain cells — under percentile_disc's own rank
    # rule (registry.pdisc_rank), so the value is bit-identical to the
    # aggregate's.
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(float(q)) for q in _QS])).alias("quantile")
    )
    e = rank_select(
        li.select(F.col("l_extendedprice").alias("ev")),
        "ev",
        qs,
        pdisc_rank(F.col("quantile")),
    ).select("quantile", F.col("ev").cast("double").alias("exact_value"))
    return (
        e.join(F.broadcast(s), "quantile")
        .select(
            "quantile",
            "exact_value",
            "sample_value",
            F.round(
                (F.col("sample_value") - F.col("exact_value"))
                / F.nullif(F.col("exact_value"), F.lit(0.0)),
                6,
            ).alias("rel_error"),
        )
    )


# ---------------------------------------------------------------------------
# Percentile sketch twin at robust_zscore's cuts (median + MAD)
# ---------------------------------------------------------------------------

_PS_K = 256  # sample rows per group: rank error concentrates ~1/(2*sqrt(k)) ~ 3%

_PS_TAG = 2100


_PS_ORACLE = f"""
WITH keyed AS (
  SELECT event_type, event_id, value AS v,
         {_sql_h48("event_id", _PS_TAG)} AS h
  FROM events
), samp AS (
  SELECT event_type, v
  FROM keyed
  QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h, event_id)
          <= {_PS_K}
), smed AS (
  SELECT event_type, CAST({_pdisc("0.5", "v")} AS DOUBLE) AS med_s
  FROM samp GROUP BY event_type
), smad AS (
  SELECT s.event_type,
         CAST({_pdisc("0.5", "abs(s.v - m.med_s)")} AS DOUBLE) AS mad_s
  FROM samp s JOIN smed m USING (event_type)
  GROUP BY s.event_type
), emed AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST({_pdisc("0.5", "value")} AS DOUBLE) AS med_e
  FROM events GROUP BY event_type
), emad AS (
  SELECT e.event_type,
         CAST({_pdisc("0.5", "abs(e.value - m.med_e)")} AS DOUBLE) AS mad_e
  FROM events e JOIN emed m USING (event_type)
  GROUP BY e.event_type
)
SELECT e.event_type, e.n_rows,
       e.med_e AS exact_median,
       sm.med_s AS sample_median,
       ROUND((sm.med_s - e.med_e) / NULLIF(e.med_e, 0.0), 6)
         AS median_rel_error,
       d.mad_e AS exact_mad,
       sd.mad_s AS sample_mad,
       ROUND((sd.mad_s - d.mad_e) / NULLIF(d.mad_e, 0.0), 6)
         AS mad_rel_error
FROM emed e
JOIN emad d USING (event_type)
JOIN smed sm USING (event_type)
JOIN smad sd USING (event_type)
"""


@register(
    "percentile_sketch_error",
    oracle=_PS_ORACLE,
    tags=("stats", "sketch", "sample"),
)
def percentile_sketch_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled median and MAD per event_type vs the exact two-buffer
    spelling ``robust_zscore_outliers`` pays for — one row per group
    with both signed relative errors.

    This is the class-level mitigation for the percentile-buffer
    bandwidth drift the bench kept re-adjudicating (SCALE_NOTES r7):
    robust_zscore's two buffers are inherently sequential (MAD needs
    the median first), so the array-form collapse cannot help it; the
    scale substitution is to run BOTH cuts over one deterministic
    per-group sample. The sample is the k=256 rows with the smallest
    48-bit row-key digest per group — uniform, mergeable (bottom-k of
    a union = bottom-k of merged bottom-k's), engine-independent, and
    the MAD pass then touches k rows instead of the full group.

    Plan shape (the 100 TB contract): the sample selection is one
    window rank over (event_type, digest) — a sort at group grain the
    exact percentile buffer pays anyway — after which every
    percentile buffer in the sampled path is k-bounded regardless of
    group size; the exact side (present to be audited against, like
    exact_ndv in the KMV audit) is the cost being replaced. Rank
    error at k=256 concentrates at ~1/(2·sqrt(k)) ≈ 3%; the pytest
    asserts the observed errors inside a 4-sigma band.

    Determinism: both engines draw the IDENTICAL sample (shared
    md5-hex 48-bit digest of the unique event_id, tag 2100, ties
    broken by event_id), and percentile_disc returns actual data
    values — sampled and exact cuts are bit-identical cross-engine;
    error divisions are IEEE on those values, ROUND 6,
    NULLIF-guarded.
    """
    e = read_table(spark, sf_dir, "events")
    keyed = e.select(
        "event_type",
        "event_id",
        F.col("value").alias("v"),
        _h48(F.col("event_id").cast("string"), _PS_TAG).alias("h"),
    )
    w = Window.partitionBy("event_type").orderBy("h", "event_id")
    samp = (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _PS_K)
        .select("event_type", "v")
    )
    smed = samp.groupBy("event_type").agg(
        F.expr(_pdisc("0.5", "v")).cast("double").alias("med_s")
    )
    smad = (
        samp.join(F.broadcast(smed), "event_type")
        .groupBy("event_type")
        .agg(
            F.expr(_pdisc("0.5", "abs(v - med_s)"))
            .cast("double")
            .alias("mad_s")
        )
    )
    emed = e.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.expr(_pdisc("0.5", "value")).cast("double").alias("med_e"),
    )
    emad = (
        e.join(F.broadcast(emed.select("event_type", "med_e")), "event_type")
        .groupBy("event_type")
        .agg(
            F.expr(_pdisc("0.5", "abs(value - med_e)"))
            .cast("double")
            .alias("mad_e")
        )
    )
    return (
        emed.join(emad, "event_type")
        .join(F.broadcast(smed), "event_type")
        .join(F.broadcast(smad), "event_type")
        .select(
            "event_type",
            "n_rows",
            F.col("med_e").alias("exact_median"),
            F.col("med_s").alias("sample_median"),
            F.round(
                (F.col("med_s") - F.col("med_e"))
                / F.nullif(F.col("med_e"), F.lit(0.0)),
                6,
            ).alias("median_rel_error"),
            F.col("mad_e").alias("exact_mad"),
            F.col("mad_s").alias("sample_mad"),
            F.round(
                (F.col("mad_s") - F.col("mad_e"))
                / F.nullif(F.col("mad_e"), F.lit(0.0)),
                6,
            ).alias("mad_rel_error"),
        )
    )


# ---------------------------------------------------------------------------
# Decision-level parity of the sampled robust-zscore, vs sample size
# ---------------------------------------------------------------------------

_RZ_CUT = "2.5"

_RZ_SCALE = "1.4826"

_RZ_KS = (256, 1024)  # sample sizes; max is the one window cut


def _rz_cut_ctes(k: int) -> str:
    """Sampled median+MAD CTEs for one sample size (suffix _{k})."""
    return f"""s{k} AS (
  SELECT event_type, v FROM ranked WHERE rn <= {k}
), smed{k} AS (
  SELECT event_type, CAST({_pdisc("0.5", "v")} AS DOUBLE) AS med_s
  FROM s{k} GROUP BY event_type
), smad{k} AS (
  SELECT s.event_type,
         CAST({_pdisc("0.5", "abs(s.v - m.med_s)")} AS DOUBLE) AS mad_s
  FROM s{k} s JOIN smed{k} m USING (event_type)
  GROUP BY s.event_type
)"""


def _rz_branch(k: int) -> str:
    return f"""
SELECT event_type, CAST({k} AS BIGINT) AS sample_k,
       CAST(SUM(CASE WHEN f_exact THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact,
       CAST(SUM(CASE WHEN f_sketch THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sketch,
       CAST(SUM(CASE WHEN f_exact AND f_sketch THEN 1 ELSE 0 END) AS BIGINT)
         AS n_both,
       ROUND(CAST(SUM(CASE WHEN f_exact AND f_sketch THEN 1 ELSE 0 END)
                  AS DOUBLE)
             / NULLIF(CAST(SUM(CASE WHEN f_sketch THEN 1 ELSE 0 END)
                           AS DOUBLE), 0.0), 6) AS precision_vs_exact,
       ROUND(CAST(SUM(CASE WHEN f_exact AND f_sketch THEN 1 ELSE 0 END)
                  AS DOUBLE)
             / NULLIF(CAST(SUM(CASE WHEN f_exact THEN 1 ELSE 0 END)
                           AS DOUBLE), 0.0), 6) AS recall_vs_exact
FROM (
  SELECT e.event_type,
         (d.mad_e > 0 AND
          abs((e.value - m.med_e) / ({_RZ_SCALE} * d.mad_e)) > {_RZ_CUT})
           AS f_exact,
         (sd.mad_s > 0 AND
          abs((e.value - sm.med_s) / ({_RZ_SCALE} * sd.mad_s)) > {_RZ_CUT})
           AS f_sketch
  FROM events e
  JOIN emed m USING (event_type)
  JOIN emad d USING (event_type)
  JOIN smed{k} sm USING (event_type)
  JOIN smad{k} sd USING (event_type)
)
GROUP BY event_type"""


_RZ_PARITY_ORACLE = (
    f"""
WITH keyed AS (
  SELECT event_type, event_id, value AS v,
         {_sql_h48("event_id", _PS_TAG)} AS h
  FROM events
), ranked AS (
  SELECT event_type, v,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h, event_id)
           AS rn
  FROM keyed
), """
    + ", ".join(_rz_cut_ctes(k) for k in _RZ_KS)
    + f""", emed AS (
  SELECT event_type, CAST({_pdisc("0.5", "value")} AS DOUBLE) AS med_e
  FROM events GROUP BY event_type
), emad AS (
  SELECT e.event_type,
         CAST({_pdisc("0.5", "abs(e.value - m.med_e)")} AS DOUBLE) AS mad_e
  FROM events e JOIN emed m USING (event_type)
  GROUP BY e.event_type
)
"""
    + " UNION ALL ".join(_rz_branch(k) for k in _RZ_KS)
)


@register(
    "robust_zscore_sketch_parity",
    oracle=_RZ_PARITY_ORACLE,
    tags=("stats", "sketch", "sample", "frontier"),
)
def robust_zscore_sketch_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECISION-level frontier for the percentile-sketch substitution:
    run robust_zscore_outliers' exact |x-med|/(1.4826*MAD) > 2.5 gate
    with cuts from per-group samples of k in {256, 1024} (both cut
    from ONE window-rank pass, the frontier discipline) and report,
    per (event_type, sample_k), outlier counts, overlap, and
    precision/recall of the sketched decision against the exact one.

    Why a frontier and not a single k: the first measurement at
    k=256 was the honest negative result this audit exists to catch —
    the signup group's sample median drifted 18.8% (within its 4-sigma
    rank band!), which moved the 2.5-MAD threshold enough to cut
    recall to 0.59. A cut-level error inside tolerance can still be a
    decision-level failure, because the outlier density concentrates
    just past the threshold — on this heavy-tail fixture even k=1024
    (HALF the sf0.01 group) only lifts the worst-group recall to
    0.78 while precision holds >= 0.97 everywhere. That asymmetry is
    the finding: sampled cuts under-flag (high precision, recall
    tracking threshold drift), so the substitution is safe for
    alerting precision but needs k sized from the local outlier
    density — not the rank tolerance — when recall is the contract.
    The pytest asserts precision >= 0.97 on every row and that worst-
    group recall improves monotonically in k. (The cut-level view of
    the same sample is percentile_sketch_error.)

    Plan shape: one window rank over (event_type, digest) bounds both
    samples; four k-bounded percentile buffers + two full-group exact
    buffers (the audited-against cost); the gate is one broadcast of
    the <=|event_type|x|ks| cut rows onto a single fact scan, then
    boolean-count hash-aggs. Fact scanned once per k-branch, never
    re-sorted.

    Determinism: identical samples cross-engine (shared 48-bit digest,
    tag 2100, event_id tie-break); order-statistic cuts; the gate
    compares IEEE expressions of identical doubles to exact literals;
    counts are integers, ratios exact-integer divisions ROUND 6 with
    NULLIF guards.
    """
    e = read_table(spark, sf_dir, "events")
    keyed = e.select(
        "event_type",
        "event_id",
        F.col("value").alias("v"),
        _h48(F.col("event_id").cast("string"), _PS_TAG).alias("h"),
    )
    w = Window.partitionBy("event_type").orderBy("h", "event_id")
    ranked = (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max(_RZ_KS))
        .select("event_type", "v", "rn")
        .persist()
    )
    emed = e.groupBy("event_type").agg(
        F.expr(_pdisc("0.5", "value")).cast("double").alias("med_e")
    )
    emad = (
        e.join(F.broadcast(emed), "event_type")
        .groupBy("event_type")
        .agg(
            F.expr(_pdisc("0.5", "abs(value - med_e)"))
            .cast("double")
            .alias("mad_e")
        )
    )
    exact_cuts = emed.join(emad, "event_type")
    scale = F.lit(float(_RZ_SCALE))
    cut = F.lit(float(_RZ_CUT))
    out: DataFrame | None = None
    for k in _RZ_KS:
        samp = ranked.filter(F.col("rn") <= k).select("event_type", "v")
        smed = samp.groupBy("event_type").agg(
            F.expr(_pdisc("0.5", "v")).cast("double").alias("med_s")
        )
        smad = (
            samp.join(F.broadcast(smed), "event_type")
            .groupBy("event_type")
            .agg(
                F.expr(_pdisc("0.5", "abs(v - med_s)"))
                .cast("double")
                .alias("mad_s")
            )
        )
        cuts = exact_cuts.join(smed, "event_type").join(smad, "event_type")
        f_exact = (F.col("mad_e") > 0) & (
            F.abs(
                (F.col("value") - F.col("med_e")) / (scale * F.col("mad_e"))
            )
            > cut
        )
        f_sketch = (F.col("mad_s") > 0) & (
            F.abs(
                (F.col("value") - F.col("med_s")) / (scale * F.col("mad_s"))
            )
            > cut
        )
        flagged = e.join(F.broadcast(cuts), "event_type").select(
            "event_type",
            f_exact.alias("f_exact"),
            f_sketch.alias("f_sketch"),
        )
        branch = (
            flagged.groupBy("event_type")
            .agg(
                F.sum(F.when(F.col("f_exact"), 1).otherwise(0))
                .cast("bigint")
                .alias("n_exact"),
                F.sum(F.when(F.col("f_sketch"), 1).otherwise(0))
                .cast("bigint")
                .alias("n_sketch"),
                F.sum(
                    F.when(F.col("f_exact") & F.col("f_sketch"), 1).otherwise(
                        0
                    )
                )
                .cast("bigint")
                .alias("n_both"),
            )
            .select(
                "event_type",
                F.lit(k).cast("bigint").alias("sample_k"),
                "n_exact",
                "n_sketch",
                "n_both",
                F.round(
                    F.col("n_both").cast("double")
                    / F.nullif(F.col("n_sketch").cast("double"), F.lit(0.0)),
                    6,
                ).alias("precision_vs_exact"),
                F.round(
                    F.col("n_both").cast("double")
                    / F.nullif(F.col("n_exact").cast("double"), F.lit(0.0)),
                    6,
                ).alias("recall_vs_exact"),
            )
        )
        out = branch if out is None else out.unionByName(branch)
    return out


_NDV_INTERSECT_TAG = 3000

_U = 1 << 48  # hash universe size (48-bit digests)

_NDV_INTERSECT_ORACLE = rf"""
WITH tok AS (
  SELECT source, {_SQL_TOKS} AS toks
  FROM documents WHERE text IS NOT NULL
), shingle AS (
  SELECT DISTINCT source, unnest({_SQL_SHINGLES.format(t="toks")}) AS t
  FROM tok
), g AS (
  SELECT DISTINCT source, {_sql_h48('t', _NDV_INTERSECT_TAG)} AS h FROM shingle
), ranked AS (
  SELECT source, h,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
  FROM g
), sk AS (
  SELECT source, h FROM ranked WHERE rn <= {_K}
), st AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_sketch,
         CAST(CASE WHEN COUNT(*) < {_K} THEN {_U}
                   ELSE MAX(h) END AS BIGINT) AS theta
  FROM sk GROUP BY source
), pair AS (
  SELECT a.source AS source_a, b.source AS source_b,
         LEAST(a.theta, b.theta) AS theta
  FROM st a JOIN st b ON a.source < b.source
), common AS (
  SELECT p.source_a, p.source_b, p.theta,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM pair p
  JOIN sk a ON a.source = p.source_a
  JOIN sk b ON b.source = p.source_b AND b.h = a.h
  WHERE a.h < p.theta
  GROUP BY 1, 2, 3
), truth AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS exact_intersection
  FROM g a JOIN g b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
)
SELECT p.source_a, p.source_b,
       COALESCE(c.n_common, 0) AS n_common,
       p.theta,
       ROUND(CAST(COALESCE(c.n_common, 0) AS DOUBLE) * {_U}.0
             / CAST(p.theta AS DOUBLE), 6) AS est_intersection,
       t.exact_intersection,
       ROUND((CAST(COALESCE(c.n_common, 0) AS DOUBLE) * {_U}.0
              / CAST(p.theta AS DOUBLE) - t.exact_intersection)
             / NULLIF(CAST(t.exact_intersection AS DOUBLE), 0.0), 6)
         AS rel_error
FROM pair p
LEFT JOIN common c
  ON c.source_a = p.source_a AND c.source_b = p.source_b
JOIN truth t
  ON t.source_a = p.source_a AND t.source_b = p.source_b
"""


# Theta-sketch SET-OPERATION estimation:
#
# - ``ndv_intersection_sketch_error``: intersection-cardinality
#   estimates between per-source SHINGLE vocabularies from their KMV
#   bottom-k sketches, audited against exact truth — the THETA-SKETCH
#   intersection rule (Dasgupta/Lang/Rhodes): with per-source sketches
#   S_A, S_B and theta = min(kth-min_A, kth-min_B), the estimator is
#   |{h ∈ S_A ∩ S_B : h < theta}| · U / theta over hash universe U.
#   This completes the engine's mergeable-sketch algebra: ndv_kmv_sketch_error
#   and kmv_merge_parity proved the KMV sketch and its UNION-merge (bottom-k of unions);
#   intersection is the composition unions can't give you — the
#   "shared vocabulary between feeds" question answered from 64 hashes
#   per source instead of a vocabulary join, the same way a theta-
#   sketch service answers audience-overlap queries at 100 TB.
#
# Registry conventions (plans/registry.py): the shared md5-hex 48-bit
# digest (the ndv_kmv_sketch_error spelling, fresh tag 3000 so this hash
# space is independent of that audit and of kmv_merge_parity); "exact" truth is exact at
# digest grain — a 48-bit collision would merge identically on both
# engines AND in the estimator's own universe, the ndv_kmv_sketch_error
# convention. All counts exact BIGINTs; the estimate is one IEEE
# division of exact integers (cnt·2^48 ≤ 2^54 — no overflow), ROUND 6.
#
# Scale: ONE pass to (source, token-digest) distinct grain (map-side
# combinable), per-source bottom-k via window rank WITHIN source
# partitions (the kmv_merge_parity spelling), then all pairwise work
# runs on k·|sources| sketch rows — source-pair statistics never touch
# the vocabulary again, let alone documents.
@register(
    "ndv_intersection_sketch_error",
    oracle=_NDV_INTERSECT_ORACLE,
    tags=("stats", "sketch", "llm"),
)
def ndv_intersection_sketch_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Theta-sketch intersection-NDV estimate vs exact truth for every
    unordered source pair's token vocabularies — one row per pair
    with the sketch evidence (common hashes below theta, theta), the
    estimate, the exact digest-grain intersection, and the signed
    relative error. See the notes above the function for the estimator and
    its place in the mergeable-sketch family.

    Determinism: both engines build IDENTICAL sketches (shared 48-bit
    md5 digest, tag 3000; bottom-k per source is rank-by-hash with a
    collision-free-in-practice total order), apply the identical
    open-interval h < theta rule, and divide the same exact integers
    — estimate and error are bit-identical cross-engine, so the
    driver verifies the ESTIMATOR, not a tolerance band.

    Honest error profile (measured at sf0.01: 20 sources × ~1,400
    shingles, theta ≈ 4% of the universe): the intersection estimate's
    relative error scales with 1/sqrt(n_common-below-theta), NOT
    1/sqrt(k) — with only 1-5 shared hashes below theta per pair, the
    median |rel_error| is ~0.34 and individual pairs swing past ±1.
    That is the textbook weakness of theta intersection on
    small-overlap pairs, and exactly why this audit exists: it tells
    you the k you need for the overlap regime you care about. The
    estimator is near-unbiased in aggregate (mean signed rel_error
    −0.08 over 190 pairs); the pytest asserts that aggregate
    unbiasedness, the median error band, and that the sketch branch
    (theta < U) is actually exercised.

    Plan shape: distinct (source, digest) grain once; per-source
    bottom-64 via window rank inside source partitions; everything
    pairwise — thetas, common counts, truth — is joins over the
    k·|sources| sketch pool and the NDV-grain digest table keyed on
    8-byte longs. No document-sized or pair-expanded data moves.
    """
    d = read_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    g = (
        d.select(
            "source",
            F.explode(TX.shingles(TX.tokens("text"))).alias("t"),
        )
        .select("source", _h48(F.col("t"), _NDV_INTERSECT_TAG).alias("h"))
        .distinct()
        .persist()
    )
    w = Window.partitionBy("source").orderBy("h")
    sk = (
        g.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _K)
        .select("source", "h")
        .persist()
    )
    st = sk.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_sketch"),
        F.when(F.count("*") < _K, F.lit(_U))
        .otherwise(F.max("h"))
        .cast("bigint")
        .alias("theta"),
    )
    a = st.select(
        F.col("source").alias("source_a"), F.col("theta").alias("th_a")
    )
    b = st.select(
        F.col("source").alias("source_b"), F.col("theta").alias("th_b")
    )
    pair = a.join(b, F.col("source_a") < F.col("source_b")).select(
        "source_a", "source_b", F.least("th_a", "th_b").alias("theta")
    )
    ska = sk.select(F.col("source").alias("source_a"), "h")
    skb = sk.select(
        F.col("source").alias("sb2"), F.col("h").alias("hb")
    )
    common = (
        F.broadcast(pair)
        .join(ska, "source_a")
        .join(
            skb,
            (F.col("hb") == F.col("h")) & (F.col("sb2") == F.col("source_b")),
        )
        .filter(F.col("h") < F.col("theta"))
        .groupBy("source_a", "source_b", "theta")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    ga = g.select(F.col("source").alias("source_a"), "h")
    gb = g.select(F.col("source").alias("source_b"), F.col("h").alias("hb"))
    truth = (
        ga.join(gb, F.col("h") == F.col("hb"))
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("exact_intersection"))
    )
    est = (
        F.coalesce(F.col("n_common"), F.lit(0)).cast("double")
        * F.lit(float(_U))
        / F.col("theta").cast("double")
    )
    return (
        pair.join(
            common.drop("theta"), ["source_a", "source_b"], "left"
        )
        .join(F.broadcast(truth), ["source_a", "source_b"])
        .select(
            "source_a",
            "source_b",
            F.coalesce(F.col("n_common"), F.lit(0))
            .cast("bigint")
            .alias("n_common"),
            "theta",
            F.round(est, 6).alias("est_intersection"),
            "exact_intersection",
            F.round(
                (est - F.col("exact_intersection"))
                / F.nullif(
                    F.col("exact_intersection").cast("double"), F.lit(0.0)
                ),
                6,
            ).alias("rel_error"),
        )
    )


# ---------------------------------------------------------------------------
# One-vs-rest ROC-AUC of the quality score as a language discriminator
# ---------------------------------------------------------------------------

_AUC_BUCKETS = 4096

_AUC_ORACLE = f"""
WITH q AS (
  SELECT doc_id, quality_score FROM ({_QUALITY_ORACLE})
  WHERE quality_score IS NOT NULL
), base AS (
  SELECT d.lang,
         CAST(FLOOR(q.quality_score * {_AUC_BUCKETS}) AS INTEGER) AS b
  FROM q JOIN documents d USING (doc_id)
), cell AS (
  SELECT b, lang, COUNT(*) AS cnt FROM base GROUP BY b, lang
), tot AS (
  SELECT b, SUM(cnt) AS tot_b,
         COALESCE(SUM(SUM(cnt)) OVER (ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cumtot_lt
  FROM cell GROUP BY b
), cl AS (
  SELECT c.b, c.lang, c.cnt, t.tot_b, t.cumtot_lt,
         COALESCE(SUM(c.cnt) OVER (PARTITION BY c.lang ORDER BY c.b
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cuml_lt
  FROM cell c JOIN tot t USING (b)
), per_lang AS (
  SELECT lang,
         SUM(cnt) AS n_pos,
         SUM(cnt * (cumtot_lt - cuml_lt)) AS conc,
         SUM(cnt * (tot_b - cnt)) AS ties
  FROM cl GROUP BY lang
), n AS (
  SELECT SUM(cnt) AS n_all FROM cell
)
SELECT lang,
       CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n_all - n_pos AS BIGINT) AS n_neg,
       ROUND((2.0 * conc + ties) / (2.0 * n_pos * (n_all - n_pos)), 6)
         AS auc,
       ROUND((2.0 * conc + ties) / (n_pos * (n_all - n_pos)) - 1.0, 6)
         AS gini
FROM per_lang CROSS JOIN n
"""


@register(
    "auc_quality_langid",
    oracle=_AUC_ORACLE,
    tags=("stats", "llm", "text"),
)
def auc_quality_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language one-vs-rest ROC-AUC (and Gini = 2·AUC−1) of the
    registered text quality score as a language-id discriminator —
    the pre-sampling audit that catches a "quality" filter that is
    secretly a language filter (AUC far from 0.5 for some language
    means quality-weighted sampling will shift the language mix).

    The Mann-Whitney rank-sum AUC restated in exact integers over a
    BOUNDED grain: scores quantize to 4096 buckets (FLOOR(q·4096) —
    identical IEEE multiply+floor on both engines since the quality
    doubles are hash-proven identical), per-(bucket, lang) counts
    give concordant = Σ_b cnt_L(b)·(#rest below b) and tie mass
    Σ_b cnt_L(b)·(tot_b − cnt_L(b)), and
    AUC = (2·conc + ties) / (2·n_pos·n_neg) is a single division of
    exact BIGINTs. Quantization ties are scored ½ exactly as the
    midrank formula does, so this is the binned AUC, identically
    defined on both engines.

    Scale: one doc-grain scan + hash-agg to the (≤4097 × #langs)
    grain; the two cumulative windows run over that bounded derived
    grain (the adjudicated bounded-grain window pattern — histograms,
    day-grain series), never over rows; the final per-lang agg is
    #langs rows joined to a broadcast singleton total.
    """
    q = (
        quality_scores(spark, sf_dir)
        .select("doc_id", "quality_score")
        .filter(F.col("quality_score").isNotNull())
    )
    d = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    base = q.join(d, "doc_id").select(
        "lang",
        F.floor(F.col("quality_score") * _AUC_BUCKETS).cast("int").alias("b"),
    )
    cell = base.groupBy("b", "lang").agg(F.count("*").alias("cnt"))
    w_tot = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    tot = (
        cell.groupBy("b")
        .agg(F.sum("cnt").alias("tot_b"))
        .select(
            "b",
            "tot_b",
            F.coalesce(F.sum("tot_b").over(w_tot), F.lit(0)).alias("cumtot_lt"),
        )
    )
    w_lang = (
        Window.partitionBy("lang")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cl = (
        cell.withColumn(
            "cuml_lt", F.coalesce(F.sum("cnt").over(w_lang), F.lit(0))
        )
        .join(tot, "b")
    )
    per_lang = cl.groupBy("lang").agg(
        F.sum("cnt").alias("n_pos"),
        F.sum(F.col("cnt") * (F.col("cumtot_lt") - F.col("cuml_lt"))).alias("conc"),
        F.sum(F.col("cnt") * (F.col("tot_b") - F.col("cnt"))).alias("ties"),
    )
    n = cell.agg(F.sum("cnt").alias("n_all"))
    auc = (2.0 * F.col("conc") + F.col("ties")) / (
        2.0 * F.col("n_pos") * (F.col("n_all") - F.col("n_pos"))
    )
    return per_lang.crossJoin(F.broadcast(n)).select(
        "lang",
        F.col("n_pos").cast("bigint").alias("n_pos"),
        (F.col("n_all") - F.col("n_pos")).cast("bigint").alias("n_neg"),
        F.round(auc, 6).alias("auc"),
        F.round(
            (2.0 * F.col("conc") + F.col("ties"))
            / (F.col("n_pos") * (F.col("n_all") - F.col("n_pos")))
            - 1.0,
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Isotonic calibration over bounded score bins (minimax form)
# ---------------------------------------------------------------------------

_ISO_BINS = 16

_ISO_ORACLE = f"""
WITH q AS ({_QUALITY_ORACLE}),
base AS (
  SELECT CAST(FLOOR(q.quality_score * {_ISO_BINS}) AS INTEGER) AS b,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
  FROM q JOIN documents d ON q.doc_id = d.doc_id
  WHERE q.quality_score IS NOT NULL
), bins AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS sum_y
  FROM base GROUP BY b
), pre AS (
  SELECT b, n, sum_y,
         SUM(n) OVER w AS cn, SUM(sum_y) OVER w AS cy
  FROM bins
  WINDOW w AS (ORDER BY b ROWS UNBOUNDED PRECEDING)
), pairs AS (
  SELECT j.b AS bj, k.b AS bk,
         CAST(k.cy - (j.cy - j.sum_y) AS DOUBLE)
           / CAST(k.cn - (j.cn - j.n) AS DOUBLE) AS m
  FROM pre j JOIN pre k ON j.b <= k.b
), inner_min AS (
  SELECT i.b AS b, p.bj AS bj, MIN(p.m) AS g
  FROM bins i JOIN pairs p ON p.bj <= i.b AND p.bk >= i.b
  GROUP BY i.b, p.bj
), iso AS (
  SELECT b, MAX(g) AS fit FROM inner_min GROUP BY b
)
SELECT bins.b, bins.n, bins.sum_y,
       ROUND(CAST(bins.sum_y AS DOUBLE) / CAST(bins.n AS DOUBLE), 6)
         AS raw_rate,
       ROUND(iso.fit, 6) AS iso_rate
FROM bins JOIN iso ON bins.b = iso.b
"""


@register(
    "isotonic_calibration_bins",
    oracle=_ISO_ORACLE,
    tags=("stats", "llm", "agg"),
)
def isotonic_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration curve of the 'is English' rate against the
    text quality score, over {B} bounded score bins: the L2 isotonic
    fit via its MINIMAX closed form fit(i) = max_{{j≤i}} min_{{k≥i}}
    mean(y | bins j..k) — provably equal to what the
    pool-adjacent-violators loop computes, but expressed as pure
    relational algebra: per-bin counts, prefix sums, a (j,k) pair
    frame of range means, and a bounded triple join for the min/max.
    The monotone-calibration step every score-gated sampler needs
    before treating 'quality 0.7' as a probability.

    Determinism: bin means are single divisions of exact BIGINT range
    sums (prefix-sum differences); min/max comparisons run on those
    exact-ratio doubles (IEEE-identical in both engines); ROUND 6 at
    output only.

    Scale: ONE corpus-grain hash-agg quantizes docs to ≤{B}+1 bins;
    everything after runs on the bounded derived grain — the pair
    frame is ≤B², the triple join ≤B³ rows, constants independent of
    corpus size (the adjudicated bounded-grain pattern: histogram
    walks, day-grain series). The unbounded-alternative PAV loop
    would be a driver iteration; the minimax form needs none.
    """
    q = (
        quality_scores(spark, sf_dir)
        .select("doc_id", "quality_score")
        .filter(F.col("quality_score").isNotNull())
    )
    d = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    base = q.join(d, "doc_id").select(
        F.floor(F.col("quality_score") * _ISO_BINS).cast("int").alias("b"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    bins = base.groupBy("b").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("sum_y"),
    )
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    pre = bins.select(
        "b",
        "n",
        "sum_y",
        F.sum("n").over(w).alias("cn"),
        F.sum("sum_y").over(w).alias("cy"),
    )
    j = pre.select(
        F.col("b").alias("bj"),
        (F.col("cy") - F.col("sum_y")).alias("cy_lt"),
        (F.col("cn") - F.col("n")).alias("cn_lt"),
    )
    k = pre.select(
        F.col("b").alias("bk"), F.col("cy").alias("cy_le"), F.col("cn").alias("cn_le")
    )
    pairs = (
        j.join(F.broadcast(k), F.col("bj") <= F.col("bk"))
        .select(
            "bj",
            "bk",
            (
                (F.col("cy_le") - F.col("cy_lt")).cast("double")
                / (F.col("cn_le") - F.col("cn_lt")).cast("double")
            ).alias("m"),
        )
    )
    i_frame = bins.select(F.col("b").alias("bi"))
    iso = (
        pairs.join(
            F.broadcast(i_frame),
            (F.col("bj") <= F.col("bi")) & (F.col("bk") >= F.col("bi")),
        )
        .groupBy("bi", "bj")
        .agg(F.min("m").alias("g"))
        .groupBy("bi")
        .agg(F.max("g").alias("fit"))
    )
    return (
        bins.join(F.broadcast(iso), bins.b == iso.bi)
        .select(
            "b",
            "n",
            "sum_y",
            F.round(
                F.col("sum_y").cast("double") / F.col("n").cast("double"), 6
            ).alias("raw_rate"),
            F.round("fit", 6).alias("iso_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Mondrian split-conformal coverage audit
# ---------------------------------------------------------------------------

_CONF_ALPHA = 0.2  # 80% target coverage

_CONF_M = 10  # knuth buckets: 0-3 train, 4-6 cal, 7-9 test

_CONF_ORACLE = f"""
WITH q AS ({_QUALITY_ORACLE}),
keyed AS (
  SELECT q.doc_id, d.lang, q.quality_score AS score,
         {sql_knuth_bucket("q.doc_id", _CONF_M)} AS bkt
  FROM q JOIN documents d ON q.doc_id = d.doc_id
  WHERE q.quality_score IS NOT NULL
), mu AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_train,
         percentile_disc(0.5) WITHIN GROUP (ORDER BY score) AS mu
  FROM keyed WHERE bkt <= 3 GROUP BY lang
), cal AS (
  SELECT k.lang, ABS(k.score - mu.mu) AS r, k.doc_id
  FROM keyed k JOIN mu ON k.lang = mu.lang
  WHERE k.bkt BETWEEN 4 AND 6
), calstat AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_cal,
         LEAST(CAST(CEIL((COUNT(*) + 1) * {1 - _CONF_ALPHA}) AS BIGINT),
               COUNT(*)) AS k_rank
  FROM cal GROUP BY lang
), qhat AS (
  SELECT c.lang, s.n_cal, s.k_rank, c.r AS qhat
  FROM (SELECT lang, r,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY r, doc_id) AS rn
        FROM cal) c
  JOIN calstat s ON c.lang = s.lang AND c.rn = s.k_rank
), test AS (
  SELECT k.lang,
         CAST(COUNT(*) AS BIGINT) AS n_test,
         CAST(SUM(CASE WHEN ABS(k.score - mu.mu) <= qh.qhat
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
  FROM keyed k
  JOIN mu ON k.lang = mu.lang
  JOIN qhat qh ON k.lang = qh.lang
  WHERE k.bkt >= 7
  GROUP BY k.lang
)
SELECT mu.lang, mu.n_train, qh.n_cal, qh.k_rank,
       ROUND(qh.qhat, 6) AS qhat_r,
       t.n_test, t.n_covered,
       ROUND(CAST(t.n_covered AS DOUBLE) / CAST(t.n_test AS DOUBLE), 6)
         AS coverage
FROM mu JOIN qhat qh ON mu.lang = qh.lang
JOIN test t ON mu.lang = t.lang
"""


@register(
    "conformal_split_coverage",
    oracle=_CONF_ORACLE,
    tags=("stats", "llm", "sample"),
)
def conformal_split_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mondrian (group-conditional) split-conformal prediction audit
    on the text quality score, per language: TRAIN buckets fit a
    median predictor μ(lang); CALIBRATION buckets' absolute residuals
    give q̂ = the ⌈(n_cal+1)·(1−α)⌉-th smallest (α={a}); TEST buckets
    report empirical coverage of the interval μ ± q̂. Exchangeability
    gives the distribution-free guarantee P(cover) ≥ 1−α; this query
    turns that guarantee into a driver-checkable number — the audit a
    quality-score-based curation gate needs before its thresholds are
    trusted as probabilistic bounds.

    Determinism: the split is the width-safe Knuth hash bucket (exact
    integer algebra both engines); μ is percentile_disc — an ACTUAL
    data value selected by rank, no interpolation or summation; q̂ is
    a rank-selected residual (row_number over (r, doc_id), the k-th
    ORDER STATISTIC — same value cross-engine regardless of tie
    layout); residual comparisons are IEEE-identical doubles; the
    tiny-group guard clamps k to n_cal (degrades to max-residual,
    the practical convention). ROUND 6 at output only.

    Scale: three disjoint hash-bucket scans of one doc-grain frame;
    per-lang aggregates; μ/q̂ frames are #langs-sized BROADCASTs back
    onto the test scan. The percentile buffer runs per (lang) on the
    TRAIN subset only — bounded by the documented approx-percentile
    substitution if a group ever outgrows memory.
    """
    q = (
        quality_scores(spark, sf_dir)
        .select("doc_id", "quality_score")
        .filter(F.col("quality_score").isNotNull())
    )
    d = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    keyed = q.join(d, "doc_id").select(
        "doc_id",
        "lang",
        F.col("quality_score").alias("score"),
        knuth_bucket("doc_id", _CONF_M).alias("bkt"),
    )
    mu = (
        keyed.filter(F.col("bkt") <= 3)
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_train"),
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY score)"
            ).alias("mu"),
        )
    )
    cal = (
        keyed.filter(F.col("bkt").between(4, 6))
        .join(F.broadcast(mu.select("lang", "mu")), "lang")
        .select("lang", F.abs(F.col("score") - F.col("mu")).alias("r"), "doc_id")
    )
    calstat = cal.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_cal"),
        F.least(
            F.ceil((F.count("*") + 1) * (1 - _CONF_ALPHA)).cast("long"),
            F.count("*"),
        ).alias("k_rank"),
    )
    w = Window.partitionBy("lang").orderBy("r", "doc_id")
    qhat = (
        cal.withColumn("rn", F.row_number().over(w))
        .join(F.broadcast(calstat), "lang")
        .filter(F.col("rn") == F.col("k_rank"))
        .select("lang", "n_cal", "k_rank", F.col("r").alias("qhat"))
    )
    test = (
        keyed.filter(F.col("bkt") >= 7)
        .join(F.broadcast(mu.select("lang", "mu")), "lang")
        .join(F.broadcast(qhat.select("lang", "qhat")), "lang")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.sum(
                F.when(
                    F.abs(F.col("score") - F.col("mu")) <= F.col("qhat"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_covered"),
        )
    )
    return (
        mu.select("lang", "n_train")
        .join(qhat, "lang")
        .join(test, "lang")
        .select(
            "lang",
            "n_train",
            "n_cal",
            "k_rank",
            F.round("qhat", 6).alias("qhat_r"),
            "n_test",
            "n_covered",
            F.round(
                F.col("n_covered").cast("double")
                / F.col("n_test").cast("double"),
                6,
            ).alias("coverage"),
        )
    )


# ---------------------------------------------------------------------------
# Neyman allocation over order-priority strata
# ---------------------------------------------------------------------------

_NEYMAN_BUDGET = 500

_NEYMAN_ORACLE = f"""
WITH st AS (
  SELECT o_orderpriority AS stratum,
         CAST(COUNT(*) AS BIGINT) AS n_h,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s_x,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))
                  * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s_xx
  FROM orders GROUP BY o_orderpriority
), wgt AS (
  SELECT stratum, n_h,
         ROUND(s_x / n_h, 6) AS mean_price,
         ROUND(sqrt((s_xx - s_x * s_x / n_h) / (n_h - 1)), 6) AS sd_price,
         CAST(ROUND(n_h * ROUND(sqrt((s_xx - s_x * s_x / n_h) / (n_h - 1)), 6),
                    6) AS DECIMAL(28,6)) AS w_h
  FROM st
), tot AS (
  SELECT CAST(SUM(w_h) AS DOUBLE) AS w_tot FROM wgt
), shares AS (
  SELECT w.stratum, w.n_h, w.mean_price, w.sd_price,
         FLOOR({_NEYMAN_BUDGET} * CAST(w.w_h AS DOUBLE) / t.w_tot) AS fl,
         {_NEYMAN_BUDGET} * CAST(w.w_h AS DOUBLE) / t.w_tot
           - FLOOR({_NEYMAN_BUDGET} * CAST(w.w_h AS DOUBLE) / t.w_tot) AS rem
  FROM wgt w CROSS JOIN tot t
), ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY rem DESC, stratum) AS rk,
         SUM(fl) OVER () AS fl_tot
  FROM shares
)
SELECT stratum, n_h AS n_rows, mean_price, sd_price,
       CAST(fl + CASE WHEN rk <= {_NEYMAN_BUDGET} - fl_tot THEN 1 ELSE 0 END
            AS BIGINT) AS alloc_n,
       ROUND(CAST(fl + CASE WHEN rk <= {_NEYMAN_BUDGET} - fl_tot
                            THEN 1 ELSE 0 END AS DOUBLE)
             / CAST(n_h AS DOUBLE), 6) AS samp_rate
FROM ranked
"""


@register(
    "neyman_allocation_sample",
    oracle=_NEYMAN_ORACLE,
    tags=("sample", "stats", "agg"),
)
def neyman_allocation_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman (variance-optimal) stratified-sample allocation of a
    {B}-row budget across order-priority strata: n_h ∝ N_h·S_h, which
    minimizes the variance of the stratified mean estimator for a
    fixed total sample size — the survey-sampling optimum a metrics
    platform should use instead of proportional allocation whenever
    stratum variances differ. Integerization by the largest-remainder
    rule (floors + top-up by fractional remainder, tie-broken by
    stratum), so allocations sum to the budget exactly.

    Determinism: per-stratum (n, Σx, Σx²) accumulate in DECIMAL
    (exact, order-free) and cast to double ONCE; S_h is the standard
    sufficient-stats variance (the welch_ttest spelling) with sqrt
    ROUND 6; weights N_h·S_h re-enter exact DECIMAL(28,6) for the
    order-free total; shares/floors/remainders are then pure IEEE
    doubles on bit-identical inputs, ranked by a total order.

    Scale: ONE map-side-combinable hash-agg over the fact table to 5
    stratum rows; everything after is bounded-grain (the keyless
    ranking window runs on ≤5 rows — the adjudicated pattern). This
    is the sufficient-statistics shape: no second pass, no per-row
    variance updates.
    """
    o = read_table(spark, sf_dir, "orders")
    x = F.col("o_totalprice").cast("decimal(18,2)")
    st = o.groupBy(F.col("o_orderpriority").alias("stratum")).agg(
        F.count("*").cast("long").alias("n_h"),
        F.sum(x).cast("double").alias("s_x"),
        F.sum(x * x).cast("double").alias("s_xx"),
    )
    n_h, s_x, s_xx = F.col("n_h"), F.col("s_x"), F.col("s_xx")
    sd = F.round(F.sqrt((s_xx - s_x * s_x / n_h) / (n_h - 1)), 6)
    wgt = st.select(
        "stratum",
        "n_h",
        F.round(s_x / n_h, 6).alias("mean_price"),
        sd.alias("sd_price"),
        F.round(n_h * sd, 6).cast("decimal(28,6)").alias("w_h"),
    )
    tot = wgt.agg(F.sum("w_h").cast("double").alias("w_tot"))
    share = (
        F.lit(_NEYMAN_BUDGET) * F.col("w_h").cast("double") / F.col("w_tot")
    )
    shares = wgt.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "n_h",
        "mean_price",
        "sd_price",
        F.floor(share).alias("fl"),
        (share - F.floor(share)).alias("rem"),
    )
    w_all = Window.partitionBy(F.lit(1))
    ranked = shares.select(
        "stratum",
        "n_h",
        "mean_price",
        "sd_price",
        "fl",
        F.row_number()
        .over(w_all.orderBy(F.col("rem").desc(), "stratum"))
        .alias("rk"),
        F.sum("fl").over(w_all).alias("fl_tot"),
    )
    alloc = F.col("fl") + F.when(
        F.col("rk") <= F.lit(_NEYMAN_BUDGET) - F.col("fl_tot"), 1
    ).otherwise(0)
    return ranked.select(
        "stratum",
        F.col("n_h").alias("n_rows"),
        "mean_price",
        "sd_price",
        alloc.cast("long").alias("alloc_n"),
        F.round(alloc.cast("double") / F.col("n_h").cast("double"), 6).alias(
            "samp_rate"
        ),
    )


# ---------------------------------------------------------------------------
# Differential-privacy sensitivity audit
# ---------------------------------------------------------------------------

_DP_ORACLE = """
WITH contrib AS (
  SELECT event_type, user_id,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         SUM(CAST(value AS DECIMAL(18,2))) AS v_sum
  FROM events GROUP BY event_type, user_id
), cuts AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_users,
         MAX(n_events) AS max_count,
         percentile_disc(0.99) WITHIN GROUP (ORDER BY n_events) AS p99_count,
         CAST(MAX(v_sum) AS DOUBLE) AS max_value,
         CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY v_sum) AS DOUBLE)
           AS p99_value
  FROM contrib GROUP BY event_type
)
SELECT c.event_type, k.n_users,
       CAST(k.max_count AS BIGINT) AS max_count,
       CAST(k.p99_count AS BIGINT) AS p99_count,
       ROUND(CAST(SUM(LEAST(c.n_events, k.p99_count)) AS DOUBLE)
             / CAST(SUM(c.n_events) AS DOUBLE), 6) AS count_kept_frac,
       ROUND(k.max_value, 2) AS max_value,
       ROUND(k.p99_value, 2) AS p99_value,
       ROUND(CAST(SUM(LEAST(c.v_sum, CAST(k.p99_value AS DECIMAL(18,2))))
                  AS DOUBLE)
             / CAST(SUM(c.v_sum) AS DOUBLE), 6) AS value_kept_frac
FROM contrib c JOIN cuts k ON c.event_type = k.event_type
GROUP BY c.event_type, k.n_users, k.max_count, k.p99_count, k.max_value,
         k.p99_value
"""


@register(
    "dp_sensitivity_audit", oracle=_DP_ORACLE, tags=("privacy", "stats", "agg")
)
def dp_sensitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy sensitivity audit per event type: the
    per-user contribution distribution (event count and decimal value
    mass), its maximum (= the L1 sensitivity an UNCLIPPED count/sum
    release would have to noise against), the P99 contribution as the
    candidate clipping bound, and the exact fraction of mass a P99
    clip keeps. DP aggregation pipelines clip per-user contributions
    BEFORE adding calibrated noise — sensitivity then equals the clip
    bound, and this audit quantifies the bias that buys. The DP-side
    completion of the privacy family (k_anonymity_check,
    l_diversity_check, t_closeness_check cover the syntactic side).

    Determinism: contributions are exact (BIGINT counts, DECIMAL
    value sums); clip bounds are percentile_disc data values; LEAST
    against the decimal-cast bound stays exact; the kept-fractions
    are single divisions of exact decimal sums, ROUND 6.

    Scale: one (event_type, user) hash-agg over the fact stream —
    map-side combinable — then per-type percentile buffers over USER
    grain (bounded by the user population, not events; the approx
    substitution documented for 100 TB), then one re-aggregation of
    the same user-grain frame against broadcast bounds.
    """
    ev = read_table(spark, sf_dir, "events")
    contrib = ev.groupBy("event_type", "user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("v_sum"),
    )
    cuts = contrib.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_users"),
        F.max("n_events").alias("max_count"),
        F.expr(
            "percentile_disc(0.99) WITHIN GROUP (ORDER BY n_events)"
        ).alias("p99_count"),
        F.max("v_sum").cast("double").alias("max_value"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY v_sum)")
        .cast("double")
        .alias("p99_value"),
    )
    return (
        contrib.join(F.broadcast(cuts), "event_type")
        .groupBy(
            "event_type", "n_users", "max_count", "p99_count", "max_value",
            "p99_value",
        )
        .agg(
            F.round(
                F.sum(F.least("n_events", "p99_count")).cast("double")
                / F.sum("n_events").cast("double"),
                6,
            ).alias("count_kept_frac"),
            F.round(
                F.sum(
                    F.least(
                        F.col("v_sum"),
                        F.col("p99_value").cast("decimal(18,2)"),
                    )
                ).cast("double")
                / F.sum("v_sum").cast("double"),
                6,
            ).alias("value_kept_frac"),
        )
        .select(
            "event_type",
            "n_users",
            F.col("max_count").cast("long").alias("max_count"),
            F.col("p99_count").cast("long").alias("p99_count"),
            "count_kept_frac",
            F.round("max_value", 2).alias("max_value"),
            F.round("p99_value", 2).alias("p99_value"),
            "value_kept_frac",
        )
    )


# ---------------------------------------------------------------------------
# Stratified (standardized) average treatment effect
# ---------------------------------------------------------------------------

_ATE_ORACLE = """
WITH base AS (
  SELECT l.l_returnflag AS stratum,
         CASE WHEN p.p_type LIKE 'PROMO%' THEN 1 ELSE 0 END AS treat,
         CAST(l.l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS y
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
), cell AS (
  SELECT stratum,
         CAST(SUM(treat) AS BIGINT) AS n_t,
         CAST(SUM(1 - treat) AS BIGINT) AS n_c,
         CAST(SUM(CASE WHEN treat = 1 THEN y END) AS DOUBLE) AS s_t,
         CAST(SUM(CASE WHEN treat = 0 THEN y END) AS DOUBLE) AS s_c
  FROM base GROUP BY stratum
), gstats AS (
  SELECT CAST(SUM(n_t) AS BIGINT) AS nt_all,
         CAST(SUM(n_c) AS BIGINT) AS nc_all,
         CAST(SUM(CAST(s_t AS DECIMAL(28,6))) AS DOUBLE) AS st_all,
         CAST(SUM(CAST(s_c AS DECIMAL(28,6))) AS DOUBLE) AS sc_all,
         CAST(SUM(CAST(ROUND((CAST(n_t + n_c AS DOUBLE))
                             * (s_t / n_t - s_c / n_c), 6)
                       AS DECIMAL(28,6))) AS DOUBLE) AS wsum
  FROM cell WHERE n_t > 0 AND n_c > 0
)
SELECT c.stratum, c.n_t, c.n_c,
       ROUND(c.s_t / c.n_t, 6) AS mean_treat,
       ROUND(c.s_c / c.n_c, 6) AS mean_ctrl,
       ROUND(c.s_t / c.n_t - c.s_c / c.n_c, 6) AS stratum_diff,
       ROUND(g.st_all / g.nt_all - g.sc_all / g.nc_all, 6) AS naive_ate,
       ROUND(g.wsum / (g.nt_all + g.nc_all), 6) AS adjusted_ate
FROM cell c CROSS JOIN gstats g
WHERE c.n_t > 0 AND c.n_c > 0
"""


@register(
    "stratified_ate_adjustment",
    oracle=_ATE_ORACLE,
    tags=("stats", "agg", "causal"),
)
def stratified_ate_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariate-adjusted treatment effect by stratification
    (standardization / non-parametric g-computation): the
    promo-vs-other net-revenue gap per return-flag stratum, and the
    population-weighted average of those within-stratum gaps
    (adjusted ATE) next to the naive pooled gap — the pair of numbers
    whose disagreement IS Simpson's paradox. The observational-causal
    adjustment every experiment-less metrics readout needs when
    treatment assignment correlates with a covariate;
    ``diff_in_diff_promo`` handles time confounding, this handles
    composition confounding.

    Determinism: cell sufficient statistics (n, Σy) accumulate in
    DECIMAL; within-stratum means/diffs are IEEE ops on bit-identical
    doubles; the adjusted ATE re-enters DECIMAL via ROUND-6 weighted
    terms (the unigram_entropy pattern) so stratum order cannot
    perturb the weighted sum. Strata lacking either arm are excluded
    from adjustment (standard positivity requirement) and from the
    output.

    Scale: one fact-scan hash-agg to (stratum × arm) sufficient
    statistics after a broadcast dim join — the welch_ttest shape
    with a 3-value group key; the standardization runs on ≤3 rows
    with a singleton broadcast.
    """
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    base = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        F.col("l_returnflag").alias("stratum"),
        F.when(F.col("p_type").startswith("PROMO"), 1).otherwise(0).alias("treat"),
        (
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
        ).alias("y"),
    )
    cell = base.groupBy("stratum").agg(
        F.sum("treat").cast("long").alias("n_t"),
        F.sum(1 - F.col("treat")).cast("long").alias("n_c"),
        F.sum(F.when(F.col("treat") == 1, F.col("y"))).cast("double").alias("s_t"),
        F.sum(F.when(F.col("treat") == 0, F.col("y"))).cast("double").alias("s_c"),
    )
    ok = cell.filter((F.col("n_t") > 0) & (F.col("n_c") > 0))
    wterm = F.round(
        (F.col("n_t") + F.col("n_c")).cast("double")
        * (F.col("s_t") / F.col("n_t") - F.col("s_c") / F.col("n_c")),
        6,
    ).cast("decimal(28,6)")
    glob = ok.agg(
        F.sum("n_t").cast("long").alias("nt_all"),
        F.sum("n_c").cast("long").alias("nc_all"),
        F.sum(F.col("s_t").cast("decimal(28,6)")).cast("double").alias("st_all"),
        F.sum(F.col("s_c").cast("decimal(28,6)")).cast("double").alias("sc_all"),
        F.sum(wterm).cast("double").alias("wsum"),
    )
    return ok.crossJoin(F.broadcast(glob)).select(
        "stratum",
        "n_t",
        "n_c",
        F.round(F.col("s_t") / F.col("n_t"), 6).alias("mean_treat"),
        F.round(F.col("s_c") / F.col("n_c"), 6).alias("mean_ctrl"),
        F.round(
            F.col("s_t") / F.col("n_t") - F.col("s_c") / F.col("n_c"), 6
        ).alias("stratum_diff"),
        F.round(
            F.col("st_all") / F.col("nt_all")
            - F.col("sc_all") / F.col("nc_all"),
            6,
        ).alias("naive_ate"),
        F.round(
            F.col("wsum") / (F.col("nt_all") + F.col("nc_all")), 6
        ).alias("adjusted_ate"),
    )


# ---------------------------------------------------------------------------
# Otsu threshold selection on the quality-score histogram
# ---------------------------------------------------------------------------

_OTSU_B = 32

_OTSU_ORACLE = f"""
WITH q AS ({_QUALITY_ORACLE}),
h AS (
  SELECT CAST(FLOOR(quality_score * {_OTSU_B}) AS INTEGER) AS b,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM q WHERE quality_score IS NOT NULL GROUP BY b
), pre AS (
  SELECT b, c,
         SUM(c) OVER w AS cw,
         SUM(b * c) OVER w AS sw
  FROM h WINDOW w AS (ORDER BY b ROWS UNBOUNDED PRECEDING)
), tot AS (
  SELECT MAX(cw) AS n, MAX(sw) AS s FROM pre
), curve AS (
  SELECT p.b + 1 AS t,
         CAST((p.b + 1) AS DOUBLE) / {_OTSU_B} AS thr_value,
         p.cw AS w0, t.n - p.cw AS w1,
         CASE WHEN p.cw > 0 AND t.n - p.cw > 0 THEN
           (CAST(p.cw AS DOUBLE) / t.n) * (CAST(t.n - p.cw AS DOUBLE) / t.n)
           * (CAST(p.sw AS DOUBLE) / p.cw
              - CAST(t.s - p.sw AS DOUBLE) / (t.n - p.cw))
           * (CAST(p.sw AS DOUBLE) / p.cw
              - CAST(t.s - p.sw AS DOUBLE) / (t.n - p.cw))
         ELSE 0.0 END AS sigma_b
  FROM pre p CROSS JOIN tot t
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY sigma_b DESC, t) AS rk FROM curve
)
SELECT CAST(t AS INTEGER) AS t, thr_value,
       CAST(w0 AS BIGINT) AS w0, CAST(w1 AS BIGINT) AS w1,
       ROUND(sigma_b, 6) AS sigma_b,
       CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS INTEGER) AS is_best
FROM ranked
"""


@register(
    "otsu_quality_threshold",
    oracle=_OTSU_ORACLE,
    tags=("stats", "llm", "gate"),
)
def otsu_quality_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Otsu threshold selection on the text quality score: quantize
    to {B} bins, and for every candidate cut t emit the class sizes
    and the between-class variance σ²_b(t) = ω₀ω₁(μ₀−μ₁)², with the
    argmax flagged — the histogram-shape-derived split that a
    curation pipeline should prefer to a hand-picked constant when
    the score is bimodal (and that DEGRADES gracefully to "no strong
    split" when it isn't — σ²_b stays flat, which the curve shows).
    Class means use bin indices as class values (exact integer
    sums), the standard discrete-Otsu formulation.

    Determinism: bin counts and index-weighted sums are exact
    BIGINTs via prefix windows over the ≤{B}-bin grain; each σ²_b is
    one pinned IEEE expression over exact ratios; the argmax order
    (σ²_b DESC, t ASC) is total.

    Scale: ONE corpus-grain hash-agg to ≤{B} bins; the cumulative
    window, candidate curve, and argmax all run on the bounded
    derived grain (the adjudicated pattern). Otsu at 100 TB is free:
    it rides the histogram every profiling pass already computes.
    """
    q = (
        quality_scores(spark, sf_dir)
        .select("quality_score")
        .filter(F.col("quality_score").isNotNull())
    )
    h = q.select(
        F.floor(F.col("quality_score") * _OTSU_B).cast("int").alias("b")
    ).groupBy("b").agg(F.count("*").cast("long").alias("c"))
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    pre = h.select(
        "b",
        "c",
        F.sum("c").over(w).alias("cw"),
        F.sum(F.col("b") * F.col("c")).over(w).alias("sw"),
    )
    tot = pre.agg(F.max("cw").alias("n"), F.max("sw").alias("s"))
    n, s = F.col("n"), F.col("s")
    cw, sw = F.col("cw"), F.col("sw")
    mu_diff = sw.cast("double") / cw - (s - sw).cast("double") / (n - cw)
    sigma_b = F.when(
        (cw > 0) & (n - cw > 0),
        (cw.cast("double") / n) * ((n - cw).cast("double") / n)
        * mu_diff
        * mu_diff,
    ).otherwise(F.lit(0.0))
    curve = pre.crossJoin(F.broadcast(tot)).select(
        (F.col("b") + 1).alias("t"),
        ((F.col("b") + 1).cast("double") / _OTSU_B).alias("thr_value"),
        cw.alias("w0"),
        (n - cw).alias("w1"),
        sigma_b.alias("sigma_b"),
    )
    w_all = Window.orderBy(F.col("sigma_b").desc(), "t")
    return curve.withColumn("rk", F.row_number().over(w_all)).select(
        F.col("t").cast("int").alias("t"),
        "thr_value",
        F.col("w0").cast("long").alias("w0"),
        F.col("w1").cast("long").alias("w1"),
        F.round("sigma_b", 6).alias("sigma_b"),
        F.when(F.col("rk") == 1, 1).otherwise(0).cast("int").alias("is_best"),
    )


# ---------------------------------------------------------------------------
# One-way ANOVA F across order priorities
# ---------------------------------------------------------------------------

_ANOVA_ORACLE = """
WITH g AS (
  SELECT o_orderpriority AS grp,
         CAST(COUNT(*) AS BIGINT) AS n_g,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s_g,
         -- VARCHAR round-trip: DuckDB's wide-DECIMAL -> DOUBLE cast is
         -- not correctly rounded once the unscaled value exceeds 2^53
         -- (Spark's is); string -> double parsing IS correctly rounded
         -- in both engines, so the round-trip pins the identical double.
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))
                       * CAST(o_totalprice AS DECIMAL(18,2)))
                   AS VARCHAR) AS DOUBLE) AS q_g
  FROM orders GROUP BY o_orderpriority
), tot AS (
  SELECT CAST(SUM(n_g) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(s_g) AS DOUBLE) AS s
  FROM g
), terms AS (
  SELECT t.n, t.k, grp,
         n_g * (CAST(s_g AS DOUBLE) / n_g - s / t.n)
             * (CAST(s_g AS DOUBLE) / n_g - s / t.n) AS bt,
         q_g - CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / n_g AS wt
  FROM g CROSS JOIN tot t
), ss AS (
  SELECT MAX(n) AS n, MAX(k) AS k,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                  list(bt ORDER BY grp)),
                     (a, b) -> a + b) AS ssb,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                  list(wt ORDER BY grp)),
                     (a, b) -> a + b) AS ssw
  FROM terms
)
SELECT CAST(n AS BIGINT) AS n_rows,
       CAST(k AS BIGINT) AS n_groups,
       ssb AS ss_between,
       ssw AS ss_within,
       ROUND((ssb / (k - 1)) / (ssw / (n - k)), 6) AS f_stat,
       ROUND(ssb / (ssb + ssw), 6) AS eta_sq
FROM ss
"""


@register("oneway_anova_f", oracle=_ANOVA_ORACLE, tags=("stats", "agg"))
def oneway_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F test of order totals across the five order
    priorities — does the grouping explain any of the money variance?
    F = MS_between / MS_within from exact per-group sufficient
    statistics, plus η² = SSB/(SSB+SSW), the variance-explained
    effect size. The k-group generalization of ``welch_ttest_promo``
    (same sufficient-stats discipline; equal-variance pooled form, as
    classic ANOVA specifies).

    Determinism: prices are exact 2-decimal values, so n/Σx/Σx² per
    group are exact DECIMAL aggregates in both engines. Two traps hit
    and fixed here: (1) Σx² ≈ 2.5e14 at scale 4 exceeds 2^53 unscaled
    units, where DuckDB's DECIMAL→DOUBLE cast is NOT correctly rounded
    (Spark's is) — the oracle round-trips through VARCHAR, whose
    string→double parse is correctly rounded in both engines; (2) the
    SSB/SSW terms are ~1e10–1e13 doubles where ROUND-6-then-decimal
    is meaningless, so the 5 group terms are summed by the ORDER-
    PINNED FOLD (grp-sorted list, sequential fold — the
    mixture_temperature_weights pattern), giving a bit-identical addition chain. F and η² are
    pinned IEEE expressions over identical doubles, ROUND 6.

    Scale: one map-combined fact pass to the |priorities|=5 group
    grain; the grand totals are an aggregate OF that grain (broadcast
    back); all test math runs on 5 rows. Nothing touches fact rows
    twice.
    """
    o = read_table(spark, sf_dir, "orders")
    x = F.col("o_totalprice").cast("decimal(18,2)")
    g = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum(x).alias("s_g"),
        F.sum(x * x).alias("q_g"),
    )
    tot = g.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
        F.sum("s_g").cast("double").alias("s"),
    )
    dev = F.col("s_g").cast("double") / F.col("n_g") - F.col("s") / F.col("n")
    terms = g.crossJoin(F.broadcast(tot)).select(
        "n",
        "k",
        "grp",
        (F.col("n_g") * dev * dev).alias("bt"),
        (
            F.col("q_g").cast("double")
            - F.col("s_g").cast("double")
            * F.col("s_g").cast("double")
            / F.col("n_g")
        ).alias("wt"),
    )

    def _fold(col: str) -> Column:
        return F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("grp", F.col(col).alias("v")))),
                lambda s: s["v"],
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        )

    ssb, ssw = _fold("bt"), _fold("wt")
    n, k = F.max("n"), F.max("k")
    return terms.agg(
        n.cast("bigint").alias("n_rows"),
        k.cast("bigint").alias("n_groups"),
        ssb.alias("ss_between"),
        ssw.alias("ss_within"),
        F.round((ssb / (k - 1)) / (ssw / (n - k)), 6).alias("f_stat"),
        F.round(ssb / (ssb + ssw), 6).alias("eta_sq"),
    )


# ---------------------------------------------------------------------------
# Kruskal–Wallis H (value-grain midranks, tie-corrected)
# ---------------------------------------------------------------------------

_KW_ORACLE = """
WITH cells AS (
  SELECT o_totalprice AS v, o_orderpriority AS grp,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1, 2
), vals AS (
  SELECT v, CAST(SUM(cnt) AS BIGINT) AS t FROM cells GROUP BY v
), mid AS (
  SELECT v, t,
         SUM(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING) AS below
  FROM vals
), ranksum AS (
  SELECT c.grp,
         CAST(SUM(c.cnt) AS BIGINT) AS n_g,
         SUM(CAST(c.cnt AS DECIMAL(28,1))
             * CAST(COALESCE(m.below, 0) + (m.t + 1) / 2.0
                    AS DECIMAL(18,1))) AS r_g
  FROM cells c JOIN mid m ON m.v = c.v
  GROUP BY c.grp
), tot AS (
  SELECT CAST(SUM(n_g) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k
  FROM ranksum
), ties AS (
  SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tie_term FROM vals
), hterm AS (
  SELECT t.n, t.k, grp,
         CAST(r_g AS DOUBLE) * CAST(r_g AS DOUBLE) / n_g AS rterm
  FROM ranksum CROSS JOIN tot t
), h AS (
  SELECT MAX(n) AS n, MAX(k) AS k,
         12.0 / (MAX(n) * (MAX(n) + 1.0))
           * list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                      list(rterm ORDER BY grp)),
                         (a, b) -> a + b)
           - 3.0 * (MAX(n) + 1) AS h_raw
  FROM hterm
)
SELECT CAST(h.n AS BIGINT) AS n_rows,
       CAST(h.k AS BIGINT) AS n_groups,
       ROUND(h_raw, 6) AS h_stat,
       ROUND(h_raw / (1.0 - CAST(tie_term AS DOUBLE)
                            / (CAST(h.n AS DOUBLE) * h.n * h.n - h.n)), 6)
         AS h_tie_corrected,
       ROUND((h_raw - h.k + 1) / (h.n - h.k), 6) AS epsilon_sq
FROM h CROSS JOIN ties
"""


@register(
    "kruskal_wallis_h", oracle=_KW_ORACLE, tags=("stats", "window", "baseline")
)
def kruskal_wallis_h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H across the five order priorities on order
    totals — the rank-based k-group test (``mann_whitney_u``'s
    generalization), tie-corrected, with the ε² effect size. H is the
    nonparametric cross-check on ``oneway_anova_f``: agreement means
    the ANOVA read isn't an artifact of the money column's heavy tail.

    Value-grain midranks: instead of ranking fact rows (MWU's global
    sort window over the sample), counts collapse to (value, group)
    cells, midrank(v) = (#rows below v) + (t_v + 1)/2 from ONE
    cumulative window over DISTINCT values, and per-group rank sums
    are Σ cnt·midrank — exact half-integer arithmetic in
    DECIMAL(28,1), so rank sums are order-free in both engines.

    Determinism: midranks are exact .5-step decimals; the R_g²/n_g
    terms are ~1e12 doubles (decimal-cast unsafe), so the 5 group
    terms are summed by the order-pinned fold (grp-sorted list,
    sequential fold); the tie term Σ(t³−t) is exact BIGINT; H /
    correction / ε² are pinned IEEE expressions, ROUND 6.

    Scale: one map-combined pass to (value, group) cells, one
    value-grain cumulative window (distinct values ≪ fact rows; at
    100 TB bucket values first — the cells CTE is already the hook),
    one 5-row group agg. The fact table is scanned once.
    """
    o = read_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_totalprice").alias("v"),
        F.col("o_orderpriority").alias("grp"),
    ).agg(F.count("*").cast("long").alias("cnt"))
    vals = cells.groupBy("v").agg(F.sum("cnt").cast("long").alias("t"))
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    mid = vals.select(
        "v", "t", F.sum("t").over(w_cum).alias("below")
    )
    midrank = (
        F.coalesce(F.col("below"), F.lit(0)) + (F.col("t") + 1) / 2.0
    ).cast("decimal(18,1)")
    ranksum = (
        cells.join(mid, "v")
        .groupBy("grp")
        .agg(
            F.sum("cnt").cast("long").alias("n_g"),
            F.sum(F.col("cnt").cast("decimal(28,1)") * midrank).alias("r_g"),
        )
    )
    tot = ranksum.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
    )
    ties = vals.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("tie_term")
    )
    hterm = ranksum.crossJoin(F.broadcast(tot)).select(
        "n",
        "k",
        "grp",
        (
            F.col("r_g").cast("double")
            * F.col("r_g").cast("double")
            / F.col("n_g")
        ).alias("rterm"),
    )
    n, k = F.max("n"), F.max("k")
    rsum = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("grp", F.col("rterm").alias("v")))),
            lambda s: s["v"],
        ),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    h_raw = (
        F.lit(12.0) / (n * (n + F.lit(1.0))) * rsum - F.lit(3.0) * (n + 1)
    )
    h = hterm.agg(
        n.cast("bigint").alias("n_rows"),
        k.cast("bigint").alias("n_groups"),
        F.round(h_raw, 6).alias("h_stat"),
        h_raw.alias("_h"),
        n.alias("_n"),
        k.alias("_k"),
    )
    nn = F.col("_n").cast("double")
    return h.crossJoin(F.broadcast(ties)).select(
        "n_rows",
        "n_groups",
        "h_stat",
        F.round(
            F.col("_h")
            / (
                F.lit(1.0)
                - F.col("tie_term").cast("double")
                / (nn * F.col("_n") * F.col("_n") - F.col("_n"))
            ),
            6,
        ).alias("h_tie_corrected"),
        F.round(
            (F.col("_h") - F.col("_k") + 1) / (F.col("_n") - F.col("_k")), 6
        ).alias("epsilon_sq"),
    )


# ---------------------------------------------------------------------------
# Cochran–Armitage trend test (fulfilled-rate vs ordinal priority)
# ---------------------------------------------------------------------------

_CA_ORACLE = """
WITH g AS (
  SELECT CAST(SUBSTR(o_orderpriority, 1, 1) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS r_g
  FROM orders GROUP BY 1
), st AS (
  SELECT CAST(SUM(n_g) AS BIGINT) AS n,
         CAST(SUM(r_g) AS BIGINT) AS r,
         CAST(SUM(s * r_g) AS BIGINT) AS sr,
         CAST(SUM(s * n_g) AS BIGINT) AS sn,
         CAST(SUM(s * s * n_g) AS BIGINT) AS ssn
  FROM g
)
SELECT CAST(n AS BIGINT) AS n_rows,
       CAST(r AS BIGINT) AS n_success,
       ROUND(CAST(r AS DOUBLE) / n, 6) AS pooled_rate,
       ROUND((CAST(sr AS DOUBLE) - CAST(r AS DOUBLE) * sn / n)
             / SQRT(CAST(r AS DOUBLE) / n * (1.0 - CAST(r AS DOUBLE) / n)
                    * (CAST(ssn AS DOUBLE) - CAST(sn AS DOUBLE) * sn / n)),
             6) AS z_trend
FROM st
"""


@register("cochran_armitage_trend", oracle=_CA_ORACLE, tags=("stats", "agg"))
def cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Armitage test for trend in the fulfilled-order rate
    across ORDERED priorities (scores 1..5 parsed from the priority
    label). Chi-square burns k−1 degrees of freedom on ANY deviation;
    Cochran–Armitage spends one df on the monotone alternative —
    the correct test when the factor is ordinal (dose-response,
    severity tiers, priority ladders). z = Σs(r_g − n_g·p̄) /
    √(p̄(1−p̄)(Σn_g s² − (Σn_g s)²/N)).

    Determinism: every sufficient statistic (N, R, Σs·r, Σs·n,
    Σs²·n) is an exact BIGINT from one group-grain agg; z is a single
    pinned IEEE expression over them, ROUND 6. Nothing floats until
    the final formula.

    Scale: one map-combined fact pass to the 5-row score grain; the
    test statistic is an aggregate of 5 integer rows.
    """
    o = read_table(spark, sf_dir, "orders")
    g = o.groupBy(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("s")
    ).agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long")
        .alias("r_g"),
    )
    st = g.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("r_g").cast("long").alias("r"),
        F.sum(F.col("s") * F.col("r_g")).cast("long").alias("sr"),
        F.sum(F.col("s") * F.col("n_g")).cast("long").alias("sn"),
        F.sum(F.col("s") * F.col("s") * F.col("n_g"))
        .cast("long")
        .alias("ssn"),
    )
    n, r = F.col("n"), F.col("r")
    p = r.cast("double") / n
    return st.select(
        n.cast("bigint").alias("n_rows"),
        r.cast("bigint").alias("n_success"),
        F.round(p, 6).alias("pooled_rate"),
        F.round(
            (F.col("sr").cast("double") - r.cast("double") * F.col("sn") / n)
            / F.sqrt(
                p
                * (F.lit(1.0) - p)
                * (
                    F.col("ssn").cast("double")
                    - F.col("sn").cast("double") * F.col("sn") / n
                )
            ),
            6,
        ).alias("z_trend"),
    )


# ---------------------------------------------------------------------------
# Bucket-first Kruskal–Wallis twin: the 100 TB spelling, self-auditing
# ---------------------------------------------------------------------------

_KWB_WIDTH_CENTS = 10_000  # $100-wide cells: price span / 100 ≈ 5k buckets

_KWB_CHI2_CRIT = 9.487729  # chi-square 0.95 quantile at df = k-1 = 4

_KWB_ORACLE = f"""
WITH cells AS (
  SELECT o_totalprice AS v, o_orderpriority AS grp,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1, 2
), vals AS (
  SELECT v, CAST(SUM(cnt) AS BIGINT) AS t FROM cells GROUP BY v
), mid AS (
  SELECT v, t,
         SUM(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING) AS below
  FROM vals
), rs_ex AS (
  SELECT c.grp,
         CAST(SUM(c.cnt) AS BIGINT) AS n_g,
         SUM(CAST(c.cnt AS DECIMAL(28,1))
             * CAST(COALESCE(m.below, 0) + (m.t + 1) / 2.0
                    AS DECIMAL(18,1))) AS r_g
  FROM cells c JOIN mid m ON m.v = c.v
  GROUP BY c.grp
), tie_ex AS (
  SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tie FROM vals
), bcells AS (
  SELECT CAST(v * 100 AS BIGINT) // {_KWB_WIDTH_CENTS} AS b, grp,
         CAST(SUM(cnt) AS BIGINT) AS cnt
  FROM cells GROUP BY 1, 2
), bvals AS (
  SELECT b, CAST(SUM(cnt) AS BIGINT) AS t FROM bcells GROUP BY b
), bmid AS (
  SELECT b, t,
         SUM(t) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING) AS below
  FROM bvals
), rs_hat AS (
  SELECT c.grp,
         SUM(CAST(c.cnt AS DECIMAL(28,1))
             * CAST(COALESCE(m.below, 0) + (m.t + 1) / 2.0
                    AS DECIMAL(18,1))) AS r_g_hat,
         CAST(SUM(c.cnt * (m.t - 1)) AS BIGINT) AS bound2
  FROM bcells c JOIN bmid m ON m.b = c.b
  GROUP BY c.grp
), tie_hat AS (
  SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tie,
         CAST(COUNT(*) AS BIGINT) AS nbk
  FROM bvals
), per AS (
  SELECT e.grp, e.n_g, e.r_g, h.r_g_hat, h.bound2
  FROM rs_ex e JOIN rs_hat h ON h.grp = e.grp
), agg AS (
  SELECT CAST(SUM(n_g) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS k,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list(CAST(r_g AS DOUBLE) * CAST(r_g AS DOUBLE) / n_g
                  ORDER BY grp)), (a, b) -> a + b) AS rsum_ex,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list(CAST(r_g_hat AS DOUBLE) * CAST(r_g_hat AS DOUBLE) / n_g
                  ORDER BY grp)), (a, b) -> a + b) AS rsum_hat,
         MIN(CASE WHEN ABS(CAST(r_g - r_g_hat AS DOUBLE)) * 2
                       <= CAST(bound2 AS DOUBLE) THEN 1 ELSE 0 END)
           AS all_ok,
         MAX(CAST(bound2 AS DOUBLE)) / 2 AS bound_max
  FROM per
), h2 AS (
  SELECT n, k, all_ok, bound_max, tie_hat.nbk,
         (12.0 / (n * (n + 1.0)) * rsum_ex - 3.0 * (n + 1))
           / (1.0 - CAST(tie_ex.tie AS DOUBLE)
                    / (CAST(n AS DOUBLE) * n * n - n)) AS h_ex,
         (12.0 / (n * (n + 1.0)) * rsum_hat - 3.0 * (n + 1))
           / (1.0 - CAST(tie_hat.tie AS DOUBLE)
                    / (CAST(n AS DOUBLE) * n * n - n)) AS h_hat
  FROM agg CROSS JOIN tie_ex CROSS JOIN tie_hat
)
SELECT n AS n_rows,
       k AS n_groups,
       nbk AS n_buckets,
       ROUND(h_ex, 6) AS h_exact,
       ROUND(h_hat, 6) AS h_bucketed,
       ROUND(bound_max, 6) AS ranksum_bound_max,
       (all_ok = 1) AS within_bound,
       ((h_ex > {_KWB_CHI2_CRIT}) = (h_hat > {_KWB_CHI2_CRIT}))
         AS decision_agrees
FROM h2
"""


@register(
    "kruskal_wallis_h_bucketed", oracle=_KWB_ORACLE, tags=("stats", "audit")
)
def kruskal_wallis_h_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-first Kruskal–Wallis twin with its own substitution audit
    — the ``ks_bucketed_drift`` pattern ported to the k-group rank
    test, executing the bucket hook ``kruskal_wallis_h``'s docstring
    promises in prose ("at 100 TB bucket values first").

    The exact H runs at value grain (distinct prices ≈ row grain for a
    continuous money column). The production spelling quantizes prices
    into fixed $100 cells FIRST (integer cents DIV — bucket count
    bounded by the price RANGE, not the corpus), computes midranks
    over the bounded bucket grain, and carries an analytic PER-GROUP
    rank-sum bound derived from midrank geometry: within a bucket of
    t_b pooled rows the exact midranks span at most (t_b−1)/2 around
    the bucket midrank, so |R_g − R̂_g| ≤ Σ_b cnt_gb·(t_b−1)/2 —
    computable from the BUCKET side alone (at 100 TB only the
    bucketed side ships; the exact side here is the audit harness).
    The audit emits both the bound check (within_bound, ANDed over
    all k groups) and the downstream DECISION agreement (tie-corrected
    H against the chi-square df=4 5% critical value 9.487729 — a
    sketch inside rank tolerance can still flip a threshold decision,
    so the decision is audited separately).

    Determinism: midranks are exact .5-step decimals on both grains;
    per-group rank sums are order-free DECIMAL; the k R²/n terms are
    ~1e12 doubles summed by the order-pinned fold on BOTH sides (grp-
    sorted list, sequential fold — the exact query's convention); tie
    terms exact BIGINT; H ROUND 6; the bound check compares exact
    integers (2·|ΔR| ≤ Σ cnt·(t−1)).

    Scale: one map-combined pass to (value, group) cells shared with
    the exact side, one to the bounded (bucket, group) grain; the
    bucket-grain cumulative window is ~5k rows at any corpus size.
    """
    o = read_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_totalprice").alias("v"),
        F.col("o_orderpriority").alias("grp"),
    ).agg(F.count("*").cast("long").alias("cnt"))

    def _midrank_frame(grain: DataFrame, order_col: str):
        vals = grain.groupBy(order_col).agg(
            F.sum("cnt").cast("long").alias("t")
        )
        w_cum = Window.orderBy(order_col).rowsBetween(
            Window.unboundedPreceding, -1
        )
        mid = vals.select(
            order_col, "t", F.sum("t").over(w_cum).alias("below")
        )
        midrank = (
            F.coalesce(F.col("below"), F.lit(0)) + (F.col("t") + 1) / 2.0
        ).cast("decimal(18,1)")
        tie = vals.agg(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
            .cast("long")
            .alias("tie"),
            F.count("*").cast("long").alias("nbk"),
        )
        return mid, midrank, tie

    mid, midrank, ties_ex = _midrank_frame(cells, "v")
    rs_ex = (
        cells.join(mid, "v")
        .groupBy("grp")
        .agg(
            F.sum("cnt").cast("long").alias("n_g"),
            F.sum(F.col("cnt").cast("decimal(28,1)") * midrank).alias("r_g"),
        )
    )
    bcells = cells.groupBy(
        F.expr(f"CAST(v * 100 AS BIGINT) DIV {_KWB_WIDTH_CENTS}").alias("b"),
        "grp",
    ).agg(F.sum("cnt").cast("long").alias("cnt"))
    bmid, bmidrank, ties_hat = _midrank_frame(bcells, "b")
    rs_hat = (
        bcells.join(bmid, "b")
        .groupBy("grp")
        .agg(
            F.sum(F.col("cnt").cast("decimal(28,1)") * bmidrank).alias(
                "r_g_hat"
            ),
            F.sum(F.col("cnt") * (F.col("t") - 1))
            .cast("long")
            .alias("bound2"),
        )
    )
    per = rs_ex.join(rs_hat, "grp")

    def _fold(r_col: str) -> Column:
        return F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "grp",
                            (
                                F.col(r_col).cast("double")
                                * F.col(r_col).cast("double")
                                / F.col("n_g")
                            ).alias("v"),
                        )
                    )
                ),
                lambda s: s["v"],
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        )

    agg = per.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
        _fold("r_g").alias("rsum_ex"),
        _fold("r_g_hat").alias("rsum_hat"),
        F.min(
            F.when(
                F.abs((F.col("r_g") - F.col("r_g_hat")).cast("double")) * 2
                <= F.col("bound2").cast("double"),
                1,
            ).otherwise(0)
        ).alias("all_ok"),
        (F.max(F.col("bound2").cast("double")) / 2).alias("bound_max"),
    )
    n = F.col("n")

    def _h(rsum_col: str, tie_col: Column) -> Column:
        h_raw = (
            F.lit(12.0) / (n * (n + F.lit(1.0))) * F.col(rsum_col)
            - F.lit(3.0) * (n + 1)
        )
        return h_raw / (
            F.lit(1.0)
            - tie_col.cast("double")
            / (n.cast("double") * n * n - n)
        )

    h_ex = _h("rsum_ex", F.col("tie_ex"))
    h_hat = _h("rsum_hat", F.col("tie_hat"))
    return (
        agg.crossJoin(
            F.broadcast(
                ties_ex.select(F.col("tie").alias("tie_ex"))
            )
        )
        .crossJoin(
            F.broadcast(
                ties_hat.select(
                    F.col("tie").alias("tie_hat"), F.col("nbk")
                )
            )
        )
        .select(
            n.alias("n_rows"),
            F.col("k").alias("n_groups"),
            F.col("nbk").alias("n_buckets"),
            F.round(h_ex, 6).alias("h_exact"),
            F.round(h_hat, 6).alias("h_bucketed"),
            F.round("bound_max", 6).alias("ranksum_bound_max"),
            (F.col("all_ok") == 1).alias("within_bound"),
            (
                (h_ex > F.lit(_KWB_CHI2_CRIT))
                == (h_hat > F.lit(_KWB_CHI2_CRIT))
            ).alias("decision_agrees"),
        )
    )


# ---------------------------------------------------------------------------
# Decile lift & gains table (score: acctbal; response: any return)
# ---------------------------------------------------------------------------

_LIFT_ORACLE = """
WITH resp AS (
  SELECT DISTINCT o.o_custkey AS custkey
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE l.l_returnflag = 'R'
), scored AS (
  SELECT c.c_custkey,
         CASE WHEN r.custkey IS NULL THEN 0 ELSE 1 END AS y,
         NTILE(10) OVER (ORDER BY c.c_acctbal DESC, c.c_custkey) AS decile
  FROM customer c LEFT JOIN resp r ON r.custkey = c.c_custkey
), per AS (
  SELECT decile,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(y) AS BIGINT) AS n_responders
  FROM scored GROUP BY decile
), tot AS (
  SELECT CAST(SUM(n_customers) AS BIGINT) AS n,
         CAST(SUM(n_responders) AS BIGINT) AS r
  FROM per
)
SELECT CAST(decile AS INTEGER) AS decile,
       n_customers,
       n_responders,
       ROUND(CAST(n_responders AS DOUBLE) / n_customers, 6) AS resp_rate,
       ROUND((CAST(n_responders AS DOUBLE) / n_customers)
             / (CAST(t.r AS DOUBLE) / t.n), 6) AS lift,
       ROUND(CAST(SUM(n_responders) OVER (ORDER BY decile
               ROWS UNBOUNDED PRECEDING) AS DOUBLE) / t.r, 6)
         AS cum_capture
FROM per CROSS JOIN tot t
ORDER BY decile
"""


@register("decile_lift_table", oracle=_LIFT_ORACLE, tags=("stats", "window"))
def decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lift & gains table: customers scored by account balance
    (descending — the "model score"), cut into NTILE(10) deciles, and
    read against a behavioral response (placed ≥1 order with a
    returned lineitem). Per decile: response rate, lift vs the base
    rate, and cumulative responder capture — the table behind every
    "top-2-deciles capture X% of responders" targeting decision. A
    flat lift column ≈ 1 means the score carries no signal (the
    expected read on this synthetic fixture — the value is the
    machinery, witnessed end-to-end).

    Determinism: NTILE over the (acctbal DESC, custkey) TOTAL order
    assigns identical deciles in both engines (both split N rows into
    ⌈N/10⌉-then-⌊N/10⌋ runs in order); all counts exact BIGINT; the
    three ratios are single divisions ROUND 6; cumulative capture
    rides the 10-row decile grain.

    Scale: the response set is a semi-join-shaped DISTINCT on the
    fact table (map-combinable); the decile cut is the range-bucketed
    exact global rank (registry.bucketed_running_sum —
    per-bucket sorts + bounded offsets, never a single-partition sort
    of the customer table) folded through the SQL-standard NTILE
    formula; all lift math runs on 10 rows.
    """
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    resp = (
        li.filter(F.col("l_returnflag") == "R")
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    # Exact NTILE(10) over (acctbal DESC, custkey) WITHOUT a global
    # sort window: range-bucket the NEGATED score (equal scores share
    # a bucket, so bucket id is monotone in the DESC order), running
    # count within each bucket plus bounded bucket offsets for the
    # exact global rank, then the SQL-standard NTILE formula (first
    # N%10 tiles get ⌈N/10⌉ rows) in pure integer arithmetic —
    # identical tile assignment to both engines' NTILE over the same
    # total order.
    cust = c.select(
        F.col("c_custkey").alias("ck"), (-F.col("c_acctbal")).alias("neg")
    )
    # A running COUNT over the (neg, ck) total order IS the global
    # row_number (registry.bucketed_running_sum with val=1).
    walked, _subs = bucketed_running_sum(
        cust, "neg", ["neg", "ck"], F.lit(1), out="__rk"
    )
    ranked = walked.select("ck", F.col("__rk").cast("long").alias("rk"))
    ntot = cust.agg(F.count("*").cast("long").alias("n"))
    dec = (
        ranked.crossJoin(F.broadcast(ntot))
        .select(
            "ck",
            F.expr(
                "CASE WHEN rk <= (n % 10) * (n DIV 10 + 1)"
                " THEN (rk + n DIV 10) DIV (n DIV 10 + 1)"
                " ELSE n % 10"
                "  + (rk - (n % 10) * (n DIV 10 + 1) + n DIV 10 - 1)"
                "    DIV (n DIV 10) END"
            ).alias("decile"),
        )
    )
    scored = dec.join(resp, dec["ck"] == resp["custkey"], "left").select(
        "decile",
        F.when(F.col("custkey").isNull(), 0).otherwise(1).alias("y"),
    )
    per = scored.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("y").cast("long").alias("n_responders"),
    )
    tot = per.agg(
        F.sum("n_customers").cast("long").alias("n"),
        F.sum("n_responders").cast("long").alias("r"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("int").alias("decile"),
            "n_customers",
            "n_responders",
            F.round(
                F.col("n_responders").cast("double") / F.col("n_customers"), 6
            ).alias("resp_rate"),
            F.round(
                (F.col("n_responders").cast("double") / F.col("n_customers"))
                / (F.col("r").cast("double") / F.col("n")),
                6,
            ).alias("lift"),
            F.round(
                F.sum("n_responders").over(w_cum).cast("double") / F.col("r"),
                6,
            ).alias("cum_capture"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# McNemar's test on the two paired quality gates
# ---------------------------------------------------------------------------

_MCNEMAR_ORACLE = """
WITH rated AS (
  SELECT CASE WHEN n_chars >= 128 THEN 1 ELSE 0 END AS a,
         CASE WHEN len(string_split(text, ' ')) >= 24 THEN 1 ELSE 0 END AS b
  FROM documents
), counts AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(*) FILTER (WHERE a = 1 AND b = 0) AS BIGINT) AS n10,
         CAST(COUNT(*) FILTER (WHERE a = 0 AND b = 1) AS BIGINT) AS n01
  FROM rated
)
SELECT n AS n_docs,
       n10 AS a_only,
       n01 AS b_only,
       ROUND(CAST((n10 - n01) * (n10 - n01) AS DOUBLE)
             / NULLIF(n10 + n01, 0), 6) AS chi2,
       ROUND(POWER(ABS(CAST(n10 AS DOUBLE) - n01) - 1, 2)
             / NULLIF(n10 + n01, 0), 6) AS chi2_cc
FROM counts
"""


@register("mcnemar_paired_gates", oracle=_MCNEMAR_ORACLE, tags=("stats", "text"))
def mcnemar_paired_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test between the engine's two document-quality
    raters — the SAME paired gates ``cohens_kappa_quality`` scores
    (char-length ≥ 128 vs token-count ≥ 24), asking the OTHER
    question: not "do they agree" but "is one gate systematically
    stricter than the other". Only the discordant cells matter:
    χ² = (b−c)²/(b+c), plus Edwards' continuity-corrected variant —
    the standard paired-classifier comparison (Dietterich 1998) for
    two models evaluated on one test set.

    Determinism: the 2×2 paired table is one map-combinable hash-agg
    of exact BIGINTs; both statistics are single pinned expressions
    over two integers, ROUND 6, NULLIF-guarded for the no-discordance
    degenerate case on both engines.

    Scale: one corpus pass to four cells; test math on one row.
    """
    d = read_table(spark, sf_dir, "documents")
    rated = d.select(
        F.when(F.col("n_chars") >= 128, 1).otherwise(0).alias("a"),
        F.when(F.size(F.split("text", " ")) >= 24, 1).otherwise(0).alias("b"),
    )
    counts = rated.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n10"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n01"),
    )
    b, c = F.col("n10"), F.col("n01")
    denom = F.nullif((b + c).cast("double"), F.lit(0.0))
    return counts.select(
        F.col("n").alias("n_docs"),
        b.alias("a_only"),
        c.alias("b_only"),
        F.round(((b - c) * (b - c)).cast("double") / denom, 6).alias("chi2"),
        F.round(
            F.pow(F.abs(b.cast("double") - c) - 1, 2) / denom, 6
        ).alias("chi2_cc"),
    )


# ---------------------------------------------------------------------------
# Cliff's delta (exact, value-grain dominance counts)
# ---------------------------------------------------------------------------

_CLIFFS_ORACLE = """
WITH cells AS (
  SELECT o_totalprice AS v,
         CAST(COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT')
              AS BIGINT) AS ca,
         CAST(COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW')
              AS BIGINT) AS cb
  FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
  GROUP BY o_totalprice
), cum AS (
  SELECT v, ca, cb,
         COALESCE(SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                                PRECEDING AND 1 PRECEDING), 0) AS cb_below
  FROM cells
), st AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS na,
         CAST(SUM(cb) AS BIGINT) AS nb,
         CAST(SUM(ca * cb_below) AS BIGINT) AS n_gt,
         CAST(SUM(ca * cb) AS BIGINT) AS n_eq
  FROM cum
)
SELECT na AS n_urgent,
       nb AS n_low,
       n_gt AS n_urgent_gt,
       CAST(na * nb - n_gt - n_eq AS BIGINT) AS n_urgent_lt,
       n_eq AS n_ties,
       ROUND((CAST(n_gt AS DOUBLE) - (na * nb - n_gt - n_eq))
             / (CAST(na AS DOUBLE) * nb), 6) AS cliffs_delta,
       CASE
         WHEN ABS((CAST(n_gt AS DOUBLE) - (na * nb - n_gt - n_eq))
                  / (CAST(na AS DOUBLE) * nb)) < 0.147 THEN 'negligible'
         WHEN ABS((CAST(n_gt AS DOUBLE) - (na * nb - n_gt - n_eq))
                  / (CAST(na AS DOUBLE) * nb)) < 0.33 THEN 'small'
         WHEN ABS((CAST(n_gt AS DOUBLE) - (na * nb - n_gt - n_eq))
                  / (CAST(na AS DOUBLE) * nb)) < 0.474 THEN 'medium'
         ELSE 'large'
       END AS magnitude
FROM st
"""


@register(
    "cliffs_delta_priority",
    oracle=_CLIFFS_ORACLE,
    tags=("stats", "window", "baseline"),
)
def cliffs_delta_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's δ between URGENT and LOW order totals — the
    nonparametric effect size for ``mann_whitney_u``'s two samples:
    δ = P(X > Y) − P(X < Y), read with the Romano bands (negligible /
    small / medium / large). MWU's z answers "detectable?"; δ answers
    "does it matter?" — the pair every A/B readout should report.

    Spelled EXACTLY, with no midranks and no doubles until the final
    division: collapse to (value, per-group count) cells, one
    cumulative window over distinct values gives #B-below-v, and the
    dominance counts n_gt = Σ ca·cb_below, n_eq = Σ ca·cb, n_lt =
    n_a·n_b − n_gt − n_eq are exact BIGINTs. δ is one division ROUND
    6; the band is a CASE over the same expression.

    Scale: one map-combined pass to value cells, one value-grain
    cumulative window (distinct values ≪ fact rows), one scalar agg.
    Identical shuffle shape to kruskal_wallis_h; O(V) not O(n²) —
    the naive dominance definition is a quadratic pair count.
    """
    o = read_table(spark, sf_dir, "orders")
    cells = (
        o.filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .groupBy(F.col("o_totalprice").alias("v"))
        .agg(
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            )
            .cast("long")
            .alias("ca"),
            F.sum(
                F.when(F.col("o_orderpriority") == "5-LOW", 1).otherwise(0)
            )
            .cast("long")
            .alias("cb"),
        )
    )
    w_below = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = cells.select(
        "ca",
        "cb",
        F.coalesce(F.sum("cb").over(w_below), F.lit(0)).alias("cb_below"),
    )
    st = cum.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
        F.sum(F.col("ca") * F.col("cb_below")).cast("long").alias("n_gt"),
        F.sum(F.col("ca") * F.col("cb")).cast("long").alias("n_eq"),
    )
    na, nb = F.col("na"), F.col("nb")
    n_lt = na * nb - F.col("n_gt") - F.col("n_eq")
    delta = (F.col("n_gt").cast("double") - n_lt) / (na.cast("double") * nb)
    return st.select(
        na.alias("n_urgent"),
        nb.alias("n_low"),
        F.col("n_gt").alias("n_urgent_gt"),
        n_lt.cast("long").alias("n_urgent_lt"),
        F.col("n_eq").alias("n_ties"),
        F.round(delta, 6).alias("cliffs_delta"),
        F.when(F.abs(delta) < 0.147, "negligible")
        .when(F.abs(delta) < 0.33, "small")
        .when(F.abs(delta) < 0.474, "medium")
        .otherwise("large")
        .alias("magnitude"),
    )


# ---------------------------------------------------------------------------
# Bucket-first Cliff's delta twin: self-auditing quantized dominance
# ---------------------------------------------------------------------------

_CDB_WIDTH_CENTS = 10_000  # $100-wide cells: price span / 100 ≈ 5k buckets

_CDB_BAND = """CASE
         WHEN ABS({d}) < 0.147 THEN 'negligible'
         WHEN ABS({d}) < 0.33 THEN 'small'
         WHEN ABS({d}) < 0.474 THEN 'medium'
         ELSE 'large' END"""

_CDB_ORACLE = f"""
WITH cells AS (
  SELECT o_totalprice AS v,
         CAST(COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT')
              AS BIGINT) AS ca,
         CAST(COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW')
              AS BIGINT) AS cb
  FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
  GROUP BY o_totalprice
),
cum AS (
  SELECT ca, cb,
         COALESCE(SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                                PRECEDING AND 1 PRECEDING), 0) AS cb_below
  FROM cells
),
ex AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS na,
         CAST(SUM(cb) AS BIGINT) AS nb,
         CAST(SUM(ca * cb_below) AS BIGINT) AS n_gt,
         CAST(SUM(ca * cb) AS BIGINT) AS n_eq
  FROM cum
),
bcells AS (
  SELECT CAST(v * 100 AS BIGINT) // {_CDB_WIDTH_CENTS} AS b,
         SUM(ca) AS ca, SUM(cb) AS cb
  FROM cells GROUP BY 1
),
bcum AS (
  SELECT ca, cb,
         COALESCE(SUM(cb) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
                                PRECEDING AND 1 PRECEDING), 0) AS cb_below
  FROM bcells
),
bx AS (
  SELECT CAST(SUM(ca * cb_below) AS BIGINT) AS n_gt_hat,
         CAST(SUM(ca * cb) AS BIGINT) AS n_eq_hat,
         CAST(COUNT(*) AS BIGINT) AS nbk
  FROM bcum
),
d AS (
  SELECT na, nb, nbk,
         (CAST(n_gt AS DOUBLE) - (na * nb - n_gt - n_eq))
           / (CAST(na AS DOUBLE) * nb) AS d_ex,
         (CAST(n_gt_hat AS DOUBLE) - (na * nb - n_gt_hat - n_eq_hat))
           / (CAST(na AS DOUBLE) * nb) AS d_hat,
         CAST(n_eq_hat AS DOUBLE) / (CAST(na AS DOUBLE) * nb) AS bound,
         -- exact-integer audit: |δ−δ̂|·na·nb = |2Δn_gt + Δn_eq|,
         -- compared against n_eq_hat BEFORE any division (the other
         -- three twins' convention — no post-division ulp can flip
         -- the driver-hashed boolean on a tight bound)
         (ABS(2 * (n_gt - n_gt_hat) + (n_eq - n_eq_hat))
            <= n_eq_hat) AS wb
  FROM ex CROSS JOIN bx
)
SELECT na AS n_urgent,
       nb AS n_low,
       nbk AS n_buckets,
       ROUND(d_ex, 6) AS delta_exact,
       ROUND(d_hat, 6) AS delta_bucketed,
       ROUND(bound, 6) AS delta_bound,
       wb AS within_bound,
       {_CDB_BAND.format(d="d_ex")} AS magnitude_exact,
       {_CDB_BAND.format(d="d_hat")} AS magnitude_bucketed,
       ({_CDB_BAND.format(d="d_ex")} = {_CDB_BAND.format(d="d_hat")})
         AS decision_agrees
FROM d
"""


@register(
    "cliffs_delta_bucketed", oracle=_CDB_ORACLE, tags=("stats", "audit")
)
def cliffs_delta_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-first Cliff's δ twin with its own substitution audit —
    the ``ks_bucketed_drift`` pattern ported to the dominance effect
    size, executing the bucket hook ``cliffs_delta_priority``'s
    allowlist entry documents in prose.

    The exact δ runs at value grain. The production spelling quantizes
    prices into fixed $100 cells FIRST (integer cents DIV — bucket
    count bounded by the price RANGE, not the corpus) and counts
    dominance over cell boundaries. Quantization only moves SAME-CELL
    cross-group pairs (each flips its ±1/0 contribution to a bucket
    tie), and the bucket side counts exactly those pairs as its own
    tie count, so |δ − δ̂| ≤ n_eq_hat/(n_a·n_b) — the bound is
    computable from the BUCKET side alone (at 100 TB only the
    bucketed side ships; the exact side here is the audit harness).
    The downstream DECISION is the Romano magnitude band (negligible /
    small / medium / large) — band agreement is audited separately
    from the bound, per the engine's sampling-audit convention.

    Determinism: dominance counts are exact BIGINTs on both grains
    (one cumulative window each, value grain vs bounded cell grain);
    δ, δ̂ and the bound are single divisions of exact integers
    (identical IEEE doubles both engines), displayed ROUND 6; bands
    are CASE over the same doubles. The within_bound audit compares
    the EXACT INTEGERS (|2Δn_gt + Δn_eq| ≤ n_eq_hat) before any
    division — a bound met with equality cannot flip by one ulp of
    the divided doubles (the other three twins' convention).

    Scale: one map-combined pass to value cells shared with the exact
    side, one to the bounded cell grain; the cell-grain cumulative
    window is ~5k rows at any corpus size. O(V) + O(cells), never the
    O(n²) naive pair count.
    """
    o = read_table(spark, sf_dir, "orders")
    cells = (
        o.filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .groupBy(F.col("o_totalprice").alias("v"))
        .agg(
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            )
            .cast("long")
            .alias("ca"),
            F.sum(
                F.when(F.col("o_orderpriority") == "5-LOW", 1).otherwise(0)
            )
            .cast("long")
            .alias("cb"),
        )
    )

    def _dominance(grain: DataFrame, order_col: str) -> DataFrame:
        w_below = Window.orderBy(order_col).rowsBetween(
            Window.unboundedPreceding, -1
        )
        cum = grain.select(
            "ca",
            "cb",
            F.coalesce(F.sum("cb").over(w_below), F.lit(0)).alias(
                "cb_below"
            ),
        )
        return cum.agg(
            F.sum("ca").cast("long").alias("na"),
            F.sum("cb").cast("long").alias("nb"),
            F.sum(F.col("ca") * F.col("cb_below")).cast("long").alias("n_gt"),
            F.sum(F.col("ca") * F.col("cb")).cast("long").alias("n_eq"),
            F.count("*").cast("long").alias("nbk"),
        )

    ex = _dominance(cells, "v").select("na", "nb", "n_gt", "n_eq")
    # Exact-integer substitution audit (matches the oracle's `wb`):
    # |δ−δ̂|·na·nb == |2·(n_gt−n_gt_hat) + (n_eq−n_eq_hat)| — compare
    # BIGINTs before any division, so a bound met with equality can
    # never read false by one ulp of the divided doubles.
    wb = (
        F.abs(
            2 * (F.col("n_gt") - F.col("n_gt_hat"))
            + (F.col("n_eq") - F.col("n_eq_hat"))
        )
        <= F.col("n_eq_hat")
    )
    bcells = cells.groupBy(
        F.expr(f"CAST(v * 100 AS BIGINT) DIV {_CDB_WIDTH_CENTS}").alias("b")
    ).agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
    bx = _dominance(bcells, "b").select(
        F.col("n_gt").alias("n_gt_hat"),
        F.col("n_eq").alias("n_eq_hat"),
        F.col("nbk"),
    )
    na, nb = F.col("na"), F.col("nb")

    def _delta(gt_col: str, eq_col: str):
        n_lt = na * nb - F.col(gt_col) - F.col(eq_col)
        return (F.col(gt_col).cast("double") - n_lt) / (
            na.cast("double") * nb
        )

    def _band(d):
        return (
            F.when(F.abs(d) < 0.147, "negligible")
            .when(F.abs(d) < 0.33, "small")
            .when(F.abs(d) < 0.474, "medium")
            .otherwise("large")
        )

    d_ex = _delta("n_gt", "n_eq")
    d_hat = _delta("n_gt_hat", "n_eq_hat")
    bound = F.col("n_eq_hat").cast("double") / (na.cast("double") * nb)
    return ex.crossJoin(F.broadcast(bx)).select(
        na.alias("n_urgent"),
        nb.alias("n_low"),
        F.col("nbk").alias("n_buckets"),
        F.round(d_ex, 6).alias("delta_exact"),
        F.round(d_hat, 6).alias("delta_bucketed"),
        F.round(bound, 6).alias("delta_bound"),
        wb.alias("within_bound"),
        _band(d_ex).alias("magnitude_exact"),
        _band(d_hat).alias("magnitude_bucketed"),
        (_band(d_ex) == _band(d_hat)).alias("decision_agrees"),
    )


# ---------------------------------------------------------------------------
# Theil T inequality index, decomposed by nation
# ---------------------------------------------------------------------------

_THEIL_ORACLE = """
WITH cust AS (
  SELECT c.c_nationkey AS g,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY o.o_custkey, c.c_nationkey
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(CAST(x AS DECIMAL(18,2)))
         AS DOUBLE) AS s
  FROM cust
), within_terms AS (
  SELECT c.g,
         ROUND((c.x / gs.sg) * LN(c.x / gs.sg * gs.ng), 6) AS wt
  FROM cust c JOIN (
    SELECT g, CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sg,
           CAST(COUNT(*) AS BIGINT) AS ng
    FROM cust GROUP BY g
  ) gs ON gs.g = c.g
), grp AS (
  SELECT g, CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sg,
         CAST(COUNT(*) AS BIGINT) AS ng
  FROM cust GROUP BY g
), t_within AS (
  SELECT CAST(SUM(CAST(t_g AS DECIMAL(28,6))) AS DOUBLE) AS tw
  FROM (
    SELECT w.g,
           ROUND((g2.sg / t.s)
                 * CAST(SUM(CAST(w.wt AS DECIMAL(28,6))) AS DOUBLE), 6)
             AS t_g
    FROM within_terms w
    JOIN grp g2 ON g2.g = w.g CROSS JOIN tot t
    GROUP BY w.g, g2.sg, t.s
  )
), t_between AS (
  SELECT CAST(SUM(CAST(
           ROUND((g.sg / t.s) * LN((g.sg / t.s) * t.n / g.ng), 6)
           AS DECIMAL(28,6))) AS DOUBLE) AS tb
  FROM grp g CROSS JOIN tot t
), t_total AS (
  SELECT CAST(SUM(CAST(
           ROUND((c.x / t.s) * LN(c.x / t.s * t.n), 6)
           AS DECIMAL(28,6))) AS DOUBLE) AS tt
  FROM cust c CROSS JOIN tot t
)
SELECT (SELECT n FROM tot) AS n_customers,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM grp) AS n_groups,
       ROUND((SELECT tt FROM t_total), 6) AS theil_total,
       ROUND((SELECT tw FROM t_within), 6) AS theil_within,
       ROUND((SELECT tb FROM t_between), 6) AS theil_between,
       ROUND((SELECT tt FROM t_total) - (SELECT tw FROM t_within)
             - (SELECT tb FROM t_between), 6) AS decomp_gap
"""


@register(
    "theil_index_decomposition", oracle=_THEIL_ORACLE, tags=("stats", "agg")
)
def theil_index_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T index of customer-revenue inequality with its EXACT
    additive decomposition by nation: T = T_between + Σ_g s_g·T_g —
    the property that makes Theil (not Gini) the per-segment
    inequality report: "how much inequality lives BETWEEN nations vs
    WITHIN them". T_total is also computed directly from customer
    grain, and the decomposition gap is emitted as a built-in audit
    column (≈ 0 up to the 6-dp term rounding; the identity is exact
    in real arithmetic).

    Determinism: customer revenues and all group sums are exact
    decimals cast to exact-range doubles; every transcendental term
    (x/s)·ln(·) is ROUND-6 then decimal-summed at its grain (customer
    for totals/within, nation for between); outputs ROUND 6.

    Scale: one fact pass to customer grain (the only fact-sized
    stage), nation-grain second-level aggs, broadcast grand totals.
    Same shuffle shape as gini_revenue_concentration, plus the
    decomposition audit Gini cannot offer.
    """
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    cust = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("o_custkey", F.col("c_nationkey").alias("g"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("x")
        )
        .select("g", "x")
    )
    tot = cust.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(18,2)")).cast("double").alias("s"),
    )
    grp = cust.groupBy("g").agg(
        F.sum(F.col("x").cast("decimal(18,2)")).cast("double").alias("sg"),
        F.count("*").cast("long").alias("ng"),
    )
    # T_total directly from customer grain
    ct = cust.crossJoin(F.broadcast(tot))
    tt = ct.agg(
        F.sum(
            F.round(
                (F.col("x") / F.col("s"))
                * F.log(F.col("x") / F.col("s") * F.col("n")),
                6,
            ).cast("decimal(28,6)")
        )
        .cast("double")
        .alias("tt")
    )
    # Within: per-group Theil over x/sg, weighted by sg/s
    wterm = cust.join(F.broadcast(grp), "g").select(
        "g",
        F.round(
            (F.col("x") / F.col("sg"))
            * F.log(F.col("x") / F.col("sg") * F.col("ng")),
            6,
        ).alias("wt"),
    )
    tg = (
        wterm.groupBy("g")
        .agg(
            F.sum(F.col("wt").cast("decimal(28,6)")).cast("double").alias("tg_raw")
        )
        .join(F.broadcast(grp), "g")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round((F.col("sg") / F.col("s")) * F.col("tg_raw"), 6).alias(
                "t_g"
            )
        )
    )
    tw = tg.agg(
        F.sum(F.col("t_g").cast("decimal(28,6)")).cast("double").alias("tw")
    )
    # Between: nation-grain
    tb = (
        grp.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.round(
                    (F.col("sg") / F.col("s"))
                    * F.log(
                        (F.col("sg") / F.col("s")) * F.col("n") / F.col("ng")
                    ),
                    6,
                ).cast("decimal(28,6)")
            )
            .cast("double")
            .alias("tb")
        )
    )
    ngroups = grp.agg(F.count("*").cast("long").alias("n_groups"))
    return (
        tot.crossJoin(F.broadcast(ngroups))
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(tw))
        .crossJoin(F.broadcast(tb))
        .select(
            F.col("n").alias("n_customers"),
            "n_groups",
            F.round("tt", 6).alias("theil_total"),
            F.round("tw", 6).alias("theil_within"),
            F.round("tb", 6).alias("theil_between"),
            F.round(
                F.col("tt") - F.col("tw") - F.col("tb"), 6
            ).alias("decomp_gap"),
        )
    )


# ---------------------------------------------------------------------------
# CUPED variance reduction (1996 pre-period -> 1997 outcome)
# ---------------------------------------------------------------------------

_PRE_YEAR, _EXP_YEAR = 1996, 1997

_CUPED_ORACLE = f"""
WITH cy AS (
  SELECT o_custkey AS cust, year(o_orderdate) AS y,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS r
  FROM orders
  WHERE year(o_orderdate) IN ({_PRE_YEAR}, {_EXP_YEAR})
  GROUP BY 1, 2
), panel AS (
  SELECT p.cust,
         CAST(p.r AS DECIMAL(18,2)) AS x,
         CAST(e.r AS DECIMAL(18,2)) AS y
  FROM cy p JOIN cy e ON e.cust = p.cust
  WHERE p.y = {_PRE_YEAR} AND e.y = {_EXP_YEAR}
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx,
         CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(CAST(SUM(x * x) AS VARCHAR) AS DOUBLE) AS sxx,
         CAST(CAST(SUM(y * y) AS VARCHAR) AS DOUBLE) AS syy,
         CAST(CAST(SUM(x * y) AS VARCHAR) AS DOUBLE) AS sxy
  FROM panel
), st AS (
  SELECT n,
         (sxy - sx * sy / n) / (n - 1) AS cov_xy,
         (sxx - sx * sx / n) / (n - 1) AS var_x,
         (syy - sy * sy / n) / (n - 1) AS var_y
  FROM mom
)
SELECT n AS n_customers,
       ROUND(cov_xy / var_x, 6) AS theta,
       ROUND(cov_xy / SQRT(var_x * var_y), 6) AS corr_pre_post,
       ROUND(var_y, 6) AS var_outcome,
       ROUND(var_y - cov_xy * cov_xy / var_x, 6) AS var_cuped,
       ROUND(100.0 * (cov_xy * cov_xy / var_x) / var_y, 6)
         AS var_reduction_pct
FROM st
"""


@register("cuped_variance_reduction", oracle=_CUPED_ORACLE, tags=("stats", "agg"))
def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED over the {p}→{e} customer revenue panel: the adjustment
    coefficient θ = cov(x,y)/var(x), the pre/post correlation, and
    the variance identity var(y − θ(x−x̄)) = var(y)(1−ρ²) — emitted
    as var_reduction_pct, the fraction of outcome variance the
    pre-period covariate removes before an experiment is even read.
    ρ² is the whole story: at this fixture's weak year-to-year
    correlation the reduction is honest-small; on a real panel it is
    routinely 30-50%, halving required sample sizes. Pairs with
    ``diff_in_diff_promo`` (bias correction) and ``welch_ttest_promo``
    (the read CUPED sharpens).

    Determinism: the panel is customers with revenue in BOTH years
    (matched-model rule); all five moments are exact decimal sums —
    the three second-order moments exceed 2^53 unscaled units, so the
    oracle VARCHAR-round-trips their casts (oneway_anova_f trap);
    covariance/variances/θ/ρ are pinned IEEE expressions, ROUND 6.

    Scale: one year-filtered fact pass to (customer, year) grain, a
    customer-keyed self-join (co-partitioned), one scalar moment agg.
    Nothing quadratic, nothing collected.
    """
    o = read_table(spark, sf_dir, "orders")
    cy = (
        o.filter(F.year("o_orderdate").isin(_PRE_YEAR, _EXP_YEAR))
        .groupBy(
            F.col("o_custkey").alias("cust"),
            F.year("o_orderdate").alias("y"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("r"))
    )
    pre = cy.filter(F.col("y") == _PRE_YEAR).select(
        "cust", F.col("r").alias("x")
    )
    post = cy.filter(F.col("y") == _EXP_YEAR).select(
        "cust", F.col("r").alias("y2")
    )
    panel = pre.join(post, "cust")
    x, y = F.col("x"), F.col("y2")
    mom = panel.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    n = F.col("n")
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (n - 1)
    vx = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - 1)
    vy = (F.col("syy") - F.col("sy") * F.col("sy") / n) / (n - 1)
    return mom.select(
        n.alias("n_customers"),
        F.round(cov / vx, 6).alias("theta"),
        F.round(cov / F.sqrt(vx * vy), 6).alias("corr_pre_post"),
        F.round(vy, 6).alias("var_outcome"),
        F.round(vy - cov * cov / vx, 6).alias("var_cuped"),
        F.round(F.lit(100.0) * (cov * cov / vx) / vy, 6).alias(
            "var_reduction_pct"
        ),
    )


# ---------------------------------------------------------------------------
# Odds ratio / relative risk with Woolf CI (lang=en vs length gate)
# ---------------------------------------------------------------------------

_OR_ORACLE = """
WITH flags AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS x,
         CASE WHEN n_chars >= 128 THEN 1 ELSE 0 END AS y
  FROM documents
), cells AS (
  SELECT CAST(COUNT(*) FILTER (WHERE x = 1 AND y = 1) AS BIGINT) AS a,
         CAST(COUNT(*) FILTER (WHERE x = 1 AND y = 0) AS BIGINT) AS b,
         CAST(COUNT(*) FILTER (WHERE x = 0 AND y = 1) AS BIGINT) AS c,
         CAST(COUNT(*) FILTER (WHERE x = 0 AND y = 0) AS BIGINT) AS d
  FROM flags
)
SELECT a AS n_en_pass, b AS n_en_fail, c AS n_other_pass, d AS n_other_fail,
       ROUND(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c), 6)
         AS odds_ratio,
       ROUND((CAST(a AS DOUBLE) / (a + b)) / (CAST(c AS DOUBLE) / (c + d)),
             6) AS relative_risk,
       ROUND(EXP(LN(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
                 - 1.959964 * SQRT(1.0/a + 1.0/b + 1.0/c + 1.0/d)), 6)
         AS or_ci_lo,
       ROUND(EXP(LN(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
                 + 1.959964 * SQRT(1.0/a + 1.0/b + 1.0/c + 1.0/d)), 6)
         AS or_ci_hi
FROM cells
"""


@register("odds_ratio_gates", oracle=_OR_ORACLE, tags=("stats", "text"))
def odds_ratio_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio and relative risk of passing the char-length
    quality gate for English vs non-English documents, with the
    Woolf (log-OR) 95% CI — the standard 2×2 effect REPORT behind the
    engine's fairness reads: ``chi_square_independence`` tests
    association, ``quality_gate_disparity`` lists per-group rates;
    this row says "en docs have OR× the odds of passing, CI [lo,hi]"
    — significant iff the CI excludes 1. A CI spanning 1 on this
    fixture is the expected null read; the machinery is the witness.

    Determinism: four exact BIGINT cells from one map-combined pass;
    OR/RR are pinned ratios; the CI uses the literal 1.959964
    (z_{{0.975}} to 6 dp, same constant both sides) over LN/SQRT/EXP
    of identical doubles, ROUND 6. Degenerate zero cells would NULL
    the CI identically in both engines (LN/division of zero →
    NULL-guarded by the data's non-empty cells; asserted in pytest).

    Scale: one corpus pass to 4 cells; all math on one row.
    """
    d = read_table(spark, sf_dir, "documents")
    flags = d.select(
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("x"),
        F.when(F.col("n_chars") >= 128, 1).otherwise(0).alias("y"),
    )
    cells = flags.agg(
        F.sum(F.when((F.col("x") == 1) & (F.col("y") == 1), 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when((F.col("x") == 1) & (F.col("y") == 0), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when((F.col("x") == 0) & (F.col("y") == 1), 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when((F.col("x") == 0) & (F.col("y") == 0), 1).otherwise(0))
        .cast("long")
        .alias("d"),
    )
    a, b, c, dd = (F.col(k).cast("double") for k in ("a", "b", "c", "d"))
    orr = a * dd / (b * c)
    se = F.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / dd)
    z = F.lit(1.959964)
    return cells.select(
        F.col("a").alias("n_en_pass"),
        F.col("b").alias("n_en_fail"),
        F.col("c").alias("n_other_pass"),
        F.col("d").alias("n_other_fail"),
        F.round(orr, 6).alias("odds_ratio"),
        F.round((a / (a + b)) / (c / (c + dd)), 6).alias("relative_risk"),
        F.round(F.exp(F.log(orr) - z * se), 6).alias("or_ci_lo"),
        F.round(F.exp(F.log(orr) + z * se), 6).alias("or_ci_hi"),
    )


# ---------------------------------------------------------------------------
# Huber M-estimator of location, 3 unrolled IRLS supersteps
# ---------------------------------------------------------------------------

_HUBER_K = 1.345

_HUBER_ITER = 3


def _huber_iter(prev: str, cur: str) -> str:
    """One IRLS step (single reference to ``prev``): w = min(1,
    c/|x−μ|), μ ← Σwx/Σw, weighted sums ROUND-6-decimal."""
    return f"""{cur} AS (
  SELECT CAST(SUM(CAST(ROUND(LEAST(1.0, p.c / NULLIF(ABS(b.x - p.mu), 0))
                              * b.x, 6) AS DECIMAL(28,6))) AS DOUBLE)
         / CAST(SUM(CAST(ROUND(LEAST(1.0, p.c / NULLIF(ABS(b.x - p.mu), 0)),
                               12) AS DECIMAL(28,12))) AS DOUBLE) AS mu,
         MAX(p.c) AS c
  FROM base b CROSS JOIN {prev} p
)"""


_HUBER_ORACLE = f"""
WITH base AS MATERIALIZED (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS x
  FROM orders
), m0 AS (
  SELECT CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mu,
         {_HUBER_K} * SQRT((CAST(CAST(SUM(CAST(x AS DECIMAL(18,2))
                                          * CAST(x AS DECIMAL(18,2)))
                                      AS VARCHAR) AS DOUBLE)
                            - CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)
                              * CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)
                              / COUNT(*))
                           / (COUNT(*) - 1)) AS c
  FROM base
),
{",".join(_huber_iter(f"m{i}", f"m{i + 1}") for i in range(_HUBER_ITER))},
final AS (
  SELECT m.mu, m.c,
         (SELECT CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
          FROM base) AS plain_mean,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM base b
          WHERE ABS(b.x - m.mu) > m.c) AS n_downweighted,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM base) AS n
  FROM m{_HUBER_ITER} m
)
SELECT n AS n_orders,
       ROUND(mu, 6) AS huber_location,
       ROUND(plain_mean, 6) AS plain_mean,
       ROUND(mu - plain_mean, 6) AS robust_shift,
       n_downweighted
FROM final
"""


@register("huber_location_irls", oracle=_HUBER_ORACLE, tags=("stats", "iterative"))
def huber_location_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber M-estimator of the order-total location by {k} unrolled
    IRLS supersteps: weights w = min(1, c/|x−μ|) with the classic
    tuning c = {c}·σ (95% normal efficiency), μ ← Σwx/Σw from the
    sample mean. Orders inside ±c keep weight 1; the heavy right tail
    is capped at influence c — the robust location every ops
    dashboard should quote instead of the mean. Emits the robust
    shift (μ_huber − mean; negative under right skew) and how many
    orders were downweighted. The third unrolled-fixed-point family
    in the engine, over a SCALAR state (PageRank/HITS: vectors;
    Lloyd: centroid matrices).

    Determinism: the scale c uses exact decimal moments (Σx² exceeds
    2^53 unscaled → VARCHAR round-trip, oneway_anova_f trap); each
    superstep's Σwx is ROUND-6 and Σw ROUND-12 decimal sums
    (order-free); w's |x−μ| = 0 case is NULLIF-guarded to weight 1
    on both engines via LEAST(1, c/NULL→NULL) → the term drops…
    rather, NULLIF makes w NULL and the ROUND/CAST keeps NULL out of
    the decimal sums identically on both sides (an exact-center order
    contributes nothing to either sum — documented asymmetry, same on
    both engines; at 2-decimal prices an exact tie with a 6-dp μ is
    essentially impossible anyway).

    Scale: the base projection scans once per superstep ({k}+1 fact
    passes of one narrow column — at 100 TB you'd persist the
    single-column frame; the 1-row state broadcasts). No window, no
    sort.
    """
    o = read_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("x")
    ).persist()
    xd = F.col("x").cast("decimal(18,2)")
    m = base.agg(
        (F.sum(xd).cast("double") / F.count("*")).alias("mu"),
        (
            F.lit(_HUBER_K)
            * F.sqrt(
                (
                    F.sum(xd * xd).cast("double")
                    - F.sum(xd).cast("double")
                    * F.sum(xd).cast("double")
                    / F.count("*")
                )
                / (F.count("*") - 1)
            )
        ).alias("c"),
    )
    for _ in range(_HUBER_ITER):
        w = F.least(
            F.lit(1.0),
            F.col("c") / F.nullif(F.abs(F.col("x") - F.col("mu")), F.lit(0.0)),
        )
        m = base.crossJoin(F.broadcast(m)).agg(
            (
                F.sum(F.round(w * F.col("x"), 6).cast("decimal(28,6)"))
                .cast("double")
                / F.sum(F.round(w, 12).cast("decimal(28,12)")).cast("double")
            ).alias("mu"),
            F.max("c").alias("c"),
        )
    plain = base.agg(
        (F.sum(xd).cast("double") / F.count("*")).alias("plain_mean"),
        F.count("*").cast("long").alias("n"),
    )
    down = base.crossJoin(F.broadcast(m)).agg(
        F.sum(
            F.when(F.abs(F.col("x") - F.col("mu")) > F.col("c"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_downweighted")
    )
    return (
        m.crossJoin(F.broadcast(plain))
        .crossJoin(F.broadcast(down))
        .select(
            F.col("n").alias("n_orders"),
            F.round("mu", 6).alias("huber_location"),
            F.round("plain_mean", 6).alias("plain_mean"),
            F.round(F.col("mu") - F.col("plain_mean"), 6).alias("robust_shift"),
            "n_downweighted",
        )
    )


huber_location_irls.__doc__ = huber_location_irls.__doc__.format(
    k=_HUBER_ITER, c=_HUBER_K
)


# ---------------------------------------------------------------------------
# Monetary-unit (systematic PPS) sampling of orders
# ---------------------------------------------------------------------------

_MUS_N = 40  # target sample size

_MUS_ORACLE = f"""
WITH ordered AS (
  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS x,
         SUM(CAST(o_totalprice AS DECIMAL(18,2)))
           OVER (ORDER BY o_orderkey ROWS UNBOUNDED PRECEDING) AS cum
  FROM orders
), tot AS (
  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS t
  FROM orders
), sel AS (
  SELECT o.o_orderkey, CAST(o.x AS DOUBLE) AS price,
         FLOOR(CAST(o.cum AS DOUBLE) / (t.t / {_MUS_N}))
           - FLOOR(CAST(o.cum - o.x AS DOUBLE) / (t.t / {_MUS_N}))
           AS n_hits
  FROM ordered o CROSS JOIN tot t
)
SELECT o_orderkey, price,
       CAST(n_hits AS BIGINT) AS n_sampling_hits
FROM sel
WHERE n_hits > 0
ORDER BY o_orderkey
"""


@register("monetary_unit_sample", oracle=_MUS_ORACLE, tags=("sample", "window"))
def monetary_unit_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic PPS / monetary-unit sampling: with interval
    I = total/{n}, select every order whose cumulative-money range
    straddles a multiple of I — selection probability proportional to
    value, orders above I selected with certainty (n_sampling_hits
    counts multiple straddles for jumbo orders). The audit-sampling
    classic (and the dollar-weighted complement of the engine's
    uniform ``deterministic_sample`` and weighted-without-replacement
    ``weighted_sample_ares``).

    Determinism: the cumulative walk runs in exact DECIMAL over the
    o_orderkey total order; hit counts are floor-divisions of
    identical doubles (exact decimal casts; the interval is one
    pooled ratio) — no randomness anywhere, rerunnable bit-identical.

    Scale: the cumulative walk is range-partitioned
    (registry.bucketed_running_sum): per-bucket cumulative
    sums with exclusive bucket-subtotal offsets computed on the
    bounded bucket grain — exact decimal addition makes the bucketed
    walk bit-identical to a global window, with no single-partition
    sort; selection itself is a stateless filter.
    """
    o = read_table(spark, sf_dir, "orders")
    xd = F.col("o_totalprice").cast("decimal(18,2)")
    # Global cumulative walk WITHOUT a single-partition window
    # (registry.bucketed_running_sum): per-bucket cumulative sums —
    # each task scans only its o_orderkey range — plus each bucket's
    # exclusive prefix subtotal from the bounded bucket grain.
    # Decimal addition is exact and associative, so the bucketed walk
    # is bit-identical to the global one.
    # Offsets AND the grand total both come from the same per-bucket
    # subtotal frame (bucketed_running_sum's second return): the total
    # is the sum of the bucket subtotals — exact decimal addition,
    # identical to a direct SUM over orders — so the walk needs one
    # fewer full fact scan (r10: the ×100 smoke's residual cost was
    # pure pass count).
    walked, subs = bucketed_running_sum(
        o.select("o_orderkey", xd.alias("x")),
        "o_orderkey",
        ["o_orderkey"],
        F.col("x"),
        out="cum",
    )
    ordered = walked.select("o_orderkey", "x", "cum")
    tot = subs.agg(F.sum("__sub").cast("double").alias("t"))
    interval = F.col("t") / _MUS_N
    hits = F.floor(F.col("cum").cast("double") / interval) - F.floor(
        (F.col("cum") - F.col("x")).cast("double") / interval
    )
    return (
        ordered.crossJoin(F.broadcast(tot))
        .select(
            "o_orderkey",
            F.col("x").cast("double").alias("price"),
            hits.cast("long").alias("n_sampling_hits"),
        )
        .filter(F.col("n_sampling_hits") > 0)
        .orderBy("o_orderkey")
    )


monetary_unit_sample.__doc__ = monetary_unit_sample.__doc__.format(n=_MUS_N)


# ---------------------------------------------------------------------------
# Grouped jackknife: leave-one-nation-out influence on the mean
# ---------------------------------------------------------------------------

_JACK_ORACLE = """
WITH cust AS (
  SELECT c.c_nationkey AS g,
         SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS x
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY o.o_custkey, c.c_nationkey
), grp AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_g,
         SUM(CAST(x AS DECIMAL(18,2))) AS s_g
  FROM cust GROUP BY g
), tot AS (
  SELECT CAST(SUM(n_g) AS BIGINT) AS n,
         CAST(SUM(s_g) AS DOUBLE) AS s,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM grp
), loo AS (
  SELECT g.g, g.n_g,
         t.s / t.n AS mean_full,
         (t.s - CAST(g.s_g AS DOUBLE)) / (t.n - g.n_g) AS mean_loo,
         t.k
  FROM grp g CROSS JOIN tot t
), mbar AS (
  SELECT CAST(SUM(CAST(ROUND(mean_loo, 6) AS DECIMAL(28,6))) AS DOUBLE)
           / MAX(k) AS mb,
         MAX(k) AS k
  FROM loo
), se AS (
  SELECT SQRT((m.k - 1.0) / m.k
              * CAST(SUM(CAST(ROUND((l.mean_loo - m.mb)
                                    * (l.mean_loo - m.mb), 6)
                             AS DECIMAL(28,6))) AS DOUBLE)) AS jse
  FROM loo l CROSS JOIN mbar m
  GROUP BY m.k
)
SELECT l.g AS nationkey,
       l.n_g AS n_customers,
       ROUND(l.mean_loo, 6) AS mean_without_group,
       ROUND(l.mean_loo - l.mean_full, 6) AS influence_on_mean,
       ROUND((SELECT jse FROM se), 6) AS jackknife_se
FROM loo l
ORDER BY nationkey
"""


@register(
    "jackknife_group_influence", oracle=_JACK_ORACLE, tags=("stats", "agg")
)
def jackknife_group_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped (delete-one-nation) jackknife over mean customer
    revenue: for each nation, the global mean WITHOUT that nation's
    customers, its influence Δmean, and the grouped-jackknife
    standard error √((k−1)/k · Σ(θ₋g − θ̄₋)²). The cheap data-
    valuation read — "which source is moving my metric, and is the
    metric stable under source deletion" — entirely from per-group
    sufficient statistics (no refits, no resampling).

    Determinism: per-group counts and sums are exact decimals; every
    leave-one-out mean is a pinned division of identical doubles; the
    SE's squared deviations are ROUND-6-then-decimal-summed over the
    bounded group grain; outputs ROUND 6.

    Scale: one fact pass to customer grain, one to nation grain; the
    jackknife itself is O(k) arithmetic on a broadcast total.
    """
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    cust = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("o_custkey", F.col("c_nationkey").alias("g"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x"))
    )
    grp = cust.groupBy("g").agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum(F.col("x").cast("decimal(18,2)")).alias("s_g"),
    )
    tot = grp.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("double").alias("s"),
        F.count("*").cast("long").alias("k"),
    )
    loo = grp.crossJoin(F.broadcast(tot)).select(
        "g",
        "n_g",
        (F.col("s") / F.col("n")).alias("mean_full"),
        (
            (F.col("s") - F.col("s_g").cast("double"))
            / (F.col("n") - F.col("n_g"))
        ).alias("mean_loo"),
        "k",
    )
    mbar = loo.agg(
        (
            F.sum(F.round(F.col("mean_loo"), 6).cast("decimal(28,6)"))
            .cast("double")
            / F.max("k")
        ).alias("mb"),
        F.max("k").alias("kk"),
    )
    dev = F.col("mean_loo") - F.col("mb")
    se = (
        loo.crossJoin(F.broadcast(mbar))
        .agg(
            F.sqrt(
                (F.max("kk") - 1.0)
                / F.max("kk")
                * F.sum(F.round(dev * dev, 6).cast("decimal(28,6)")).cast(
                    "double"
                )
            ).alias("jse")
        )
    )
    return (
        loo.crossJoin(F.broadcast(se))
        .select(
            F.col("g").alias("nationkey"),
            F.col("n_g").alias("n_customers"),
            F.round("mean_loo", 6).alias("mean_without_group"),
            F.round(F.col("mean_loo") - F.col("mean_full"), 6).alias(
                "influence_on_mean"
            ),
            F.round("jse", 6).alias("jackknife_se"),
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# Capture-recapture (Lincoln-Petersen / Chapman) NDV estimate
# ---------------------------------------------------------------------------

# Each sample captures keys whose seeded md5 prefix is below '33'
# (= 51/256 ≈ 19.9%). Two DIFFERENT md5 seeds give independent
# samples — a single linear hash (knuth_bucket) with shifted keys
# does NOT: multiplicative hashing is linear, so bucket(k+c) is a
# deterministic function of bucket(k) and the overlap collapses
# (measured: 28 recaptured vs 59 expected → a 2.1x overestimate).
_CR_THRESH = "33"

_CR_ORACLE = f"""
WITH seen AS (
  SELECT DISTINCT o_custkey AS ck FROM orders
), marks AS (
  SELECT ck,
         CASE WHEN substr(md5('cr1:' || CAST(ck AS VARCHAR)), 1, 2)
                   < '{_CR_THRESH}' THEN 1 ELSE 0 END AS s1,
         CASE WHEN substr(md5('cr2:' || CAST(ck AS VARCHAR)), 1, 2)
                   < '{_CR_THRESH}' THEN 1 ELSE 0 END AS s2
  FROM seen
), st AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS true_ndv,
         CAST(SUM(s1) AS BIGINT) AS n1,
         CAST(SUM(s2) AS BIGINT) AS n2,
         CAST(SUM(s1 * s2) AS BIGINT) AS m_both
  FROM marks
)
SELECT true_ndv, n1 AS n_sample1, n2 AS n_sample2, m_both AS n_recaptured,
       ROUND(CAST(n1 AS DOUBLE) * n2 / NULLIF(m_both, 0), 6)
         AS lincoln_petersen,
       ROUND((CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m_both + 1) - 1, 6)
         AS chapman,
       ROUND(((CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m_both + 1) - 1
              - true_ndv) / true_ndv, 6) AS chapman_rel_error
FROM st
"""


@register(
    "capture_recapture_ndv", oracle=_CR_ORACLE, tags=("sample", "stats", "gate")
)
def capture_recapture_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lincoln–Petersen capture-recapture estimate of the number of
    distinct ordering customers, from two INDEPENDENT deterministic
    hash-samples (two md5 seeds, each capturing ≈19.9% of keys —
    NOT one linear hash with shifted keys, which stays correlated;
    see the module constant's note): N̂ = n₁n₂/m, plus the Chapman
    bias-corrected variant and its relative error against the exact
    NDV computed alongside — the survey-statistics member of the NDV
    audit family (``ndv_kmv_sketch_error``: order statistics;
    ``hll_distinct_error_gate``: stochastic averaging; here: marked
    samples). In a pipeline this estimates a join's distinct-key
    cardinality from two cheap samples before paying for the full
    distinct.

    Determinism: sample membership compares a seeded md5 hex prefix
    against a literal (md5 is identical in every engine — the minhash
    convention, functions/text.py:115); all capture counts are exact
    BIGINTs; the estimators are pinned expressions ROUND 6,
    NULLIF-guarded for the zero-recapture degenerate case.

    Scale: one DISTINCT collapse (map-combinable) and one scan of the
    key set with two hash predicates — both samples come from the
    SAME pass; nothing is materialized per sample.
    """
    o = read_table(spark, sf_dir, "orders")
    seen = o.select(F.col("o_custkey").alias("ck")).distinct()

    def _mark(seed: str):
        h = F.substring(
            F.md5(F.concat(F.lit(seed), F.col("ck").cast("string"))), 1, 2
        )
        return F.when(h < _CR_THRESH, 1).otherwise(0)

    s1, s2 = _mark("cr1:"), _mark("cr2:")
    st = seen.agg(
        F.count("*").cast("long").alias("true_ndv"),
        F.sum(s1).cast("long").alias("n1"),
        F.sum(s2).cast("long").alias("n2"),
        F.sum(s1 * s2).cast("long").alias("m_both"),
    )
    n1, n2, m = (
        F.col("n1").cast("double"),
        F.col("n2").cast("double"),
        F.col("m_both"),
    )
    chapman = ((n1 + 1) * (n2 + 1)) / (m + 1) - 1
    return st.select(
        "true_ndv",
        F.col("n1").alias("n_sample1"),
        F.col("n2").alias("n_sample2"),
        F.col("m_both").alias("n_recaptured"),
        F.round(n1 * n2 / F.nullif(m.cast("double"), F.lit(0.0)), 6).alias(
            "lincoln_petersen"
        ),
        F.round(chapman, 6).alias("chapman"),
        F.round(
            (chapman - F.col("true_ndv")) / F.col("true_ndv"), 6
        ).alias("chapman_rel_error"),
    )


# ---------------------------------------------------------------------------
# Minimum detectable effect, raw and CUPED-adjusted
# ---------------------------------------------------------------------------

# (z_{alpha/2}, z_beta) pinned to 6 dp: alpha = 0.05 two-sided with
# power 80 / 90 / 95%.
_MDE_POINTS = (
    (80, 1.959964, 0.841621),
    (90, 1.959964, 1.281552),
    (95, 1.959964, 1.644854),
)

_MDE_ROWS_SQL = ", ".join(
    f"({p}, {za}, {zb})" for p, za, zb in _MDE_POINTS
)

_MDE_ORACLE = f"""
WITH cy AS (
  SELECT o_custkey AS cust, year(o_orderdate) AS y,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS r
  FROM orders
  WHERE year(o_orderdate) IN ({_PRE_YEAR}, {_EXP_YEAR})
  GROUP BY 1, 2
), panel AS (
  SELECT CAST(p.r AS DECIMAL(18,2)) AS x, CAST(e.r AS DECIMAL(18,2)) AS y
  FROM cy p JOIN cy e ON e.cust = p.cust
  WHERE p.y = {_PRE_YEAR} AND e.y = {_EXP_YEAR}
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(CAST(SUM(x * x) AS VARCHAR) AS DOUBLE) AS sxx,
         CAST(CAST(SUM(y * y) AS VARCHAR) AS DOUBLE) AS syy,
         CAST(CAST(SUM(x * y) AS VARCHAR) AS DOUBLE) AS sxy
  FROM panel
), st AS (
  SELECT n,
         (syy - sy * sy / n) / (n - 1) AS var_y,
         (syy - sy * sy / n) / (n - 1)
           - POWER((sxy - sx * sy / n) / (n - 1), 2)
             / ((sxx - sx * sx / n) / (n - 1)) AS var_cuped,
         sy / n AS mean_y
  FROM mom
), pts AS (
  SELECT * FROM (VALUES {_MDE_ROWS_SQL}) AS t(power_pct, za, zb)
)
SELECT CAST(p.power_pct AS INTEGER) AS power_pct,
       s.n AS n_per_arm,
       ROUND((p.za + p.zb) * SQRT(s.var_y) * SQRT(2.0 / s.n), 6) AS mde_raw,
       ROUND((p.za + p.zb) * SQRT(s.var_cuped) * SQRT(2.0 / s.n), 6)
         AS mde_cuped,
       ROUND((p.za + p.zb) * SQRT(s.var_y) * SQRT(2.0 / s.n)
             / s.mean_y * 100, 6) AS mde_raw_pct_of_mean
FROM pts p CROSS JOIN st s
ORDER BY power_pct
"""


@register("mde_power_analysis", oracle=_MDE_ORACLE, tags=("stats", "agg"))
def mde_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect for a two-arm test on yearly customer
    revenue at 80/90/95% power (α = 0.05 two-sided): MDE =
    (z_{{α/2}}+z_β)·σ·√(2/n), with n = the matched-panel size per arm
    and σ from BOTH the raw outcome variance and the CUPED-adjusted
    variance (var·(1−ρ²), ``cuped_variance_reduction``'s identity) —
    one table that says what the experiment can see today and what it
    could see after covariate adjustment, plus the raw MDE as % of
    mean (the number PMs actually discuss). This is the sizing step
    run BEFORE ``welch_ttest_promo``-style reads.

    Determinism: moments are exact decimal sums (second-order via the
    VARCHAR round-trip, oneway_anova_f trap); the z constants are 6-dp
    literals pinned on both sides; every MDE is a pinned expression
    ROUND 6 over a 3-row broadcast knob table.

    Scale: one year-filtered fact pass to (customer, year) grain, one
    panel self-join, one scalar moment agg × 3 knob rows.
    """
    o = read_table(spark, sf_dir, "orders")
    cy = (
        o.filter(F.year("o_orderdate").isin(_PRE_YEAR, _EXP_YEAR))
        .groupBy(
            F.col("o_custkey").alias("cust"),
            F.year("o_orderdate").alias("y"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("r"))
    )
    pre = cy.filter(F.col("y") == _PRE_YEAR).select(
        "cust", F.col("r").alias("x")
    )
    post = cy.filter(F.col("y") == _EXP_YEAR).select(
        "cust", F.col("r").alias("yy")
    )
    x, y = F.col("x"), F.col("yy")
    mom = pre.join(post, "cust").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    n = F.col("n")
    var_y = (F.col("syy") - F.col("sy") * F.col("sy") / n) / (n - 1)
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (n - 1)
    var_x = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - 1)
    st = mom.select(
        "n",
        var_y.alias("var_y"),
        (var_y - cov * cov / var_x).alias("var_cuped"),
        (F.col("sy") / n).alias("mean_y"),
    )
    pts = spark.createDataFrame(
        list(_MDE_POINTS), "power_pct int, za double, zb double"
    )
    mde = lambda v: (F.col("za") + F.col("zb")) * F.sqrt(v) * F.sqrt(  # noqa: E731
        2.0 / F.col("n")
    )
    return (
        pts.crossJoin(F.broadcast(st))
        .select(
            F.col("power_pct").cast("int").alias("power_pct"),
            F.col("n").alias("n_per_arm"),
            F.round(mde(F.col("var_y")), 6).alias("mde_raw"),
            F.round(mde(F.col("var_cuped")), 6).alias("mde_cuped"),
            F.round(
                mde(F.col("var_y")) / F.col("mean_y") * 100, 6
            ).alias("mde_raw_pct_of_mean"),
        )
        .orderBy("power_pct")
    )


# ---------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard (same censored setup as KM)
# ---------------------------------------------------------------------------

_NA_ORACLE = """
WITH users AS (
  SELECT user_id,
         MIN(ts) AS first_ts,
         MAX(ts) AS last_ts,
         MIN(CASE WHEN value > 200 THEN ts END) AS hit_ts
  FROM events GROUP BY user_id
),
durs AS (
  SELECT epoch_us(COALESCE(hit_ts, last_ts)) // 3600000000
           - epoch_us(first_ts) // 3600000000 AS dur,
         CASE WHEN hit_ts IS NOT NULL THEN 1 ELSE 0 END AS observed
  FROM users
),
by_dur AS (
  SELECT dur, CAST(SUM(observed) AS BIGINT) AS d,
         CAST(COUNT(*) - SUM(observed) AS BIGINT) AS c
  FROM durs GROUP BY dur
),
risk AS (
  SELECT dur, d, c,
         (SELECT COUNT(*) FROM durs)
           - (SUM(d + c) OVER (ORDER BY dur) - (d + c)) AS n_risk
  FROM by_dur
),
na AS (
  SELECT dur, d, CAST(n_risk AS BIGINT) AS n_risk,
         CAST(SUM(CAST(ROUND(d * 1.0 / n_risk, 9) AS DECIMAL(18,9)))
              OVER (ORDER BY dur) AS DOUBLE) AS h,
         CAST(SUM(CAST(ROUND(d * 1.0 / (CAST(n_risk AS DOUBLE) * n_risk), 9)
                       AS DECIMAL(18,9))) OVER (ORDER BY dur) AS DOUBLE)
           AS h_var
  FROM risk
)
SELECT CAST(dur AS BIGINT) AS duration_hours,
       n_risk AS n_at_risk,
       d AS n_events,
       ROUND(h, 6) AS cum_hazard,
       ROUND(SQRT(h_var), 6) AS hazard_se,
       ROUND(EXP(-h), 6) AS breslow_survival
FROM na
WHERE d > 0
ORDER BY duration_hours
"""


@register("nelson_aalen_hazard", oracle=_NA_ORACLE, tags=("stats", "window"))
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative hazard H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ with its
    standard error √(Σ dᵢ/nᵢ²) and the Breslow survival exp(−H), on
    the SAME censored time-to-first-high-value-event data as
    ``kaplan_meier_survival`` — the hazard-scale estimate (additive,
    better small-sample behavior) whose Breslow transform should
    track KM's product-limit S(t) from above; the pair is the
    standard cross-estimator audit (asserted in pytest).

    Determinism: durations and event/censor counts are exact
    integers; the risk-set walk is an exact cumulative window over
    the duration total order; each hazard increment d/n (and d/n²)
    is a pinned division ROUND-9 then DECIMAL(18,9) cumulative-summed;
    outputs ROUND 6.

    Scale: one user-grain agg, one duration-grain rollup (bounded by
    the observation span in hours), cumulative windows on that
    bounded grain — identical shape to KM.
    """
    ev = read_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.min(F.when(F.col("value") > 200, F.col("ts"))).alias("hit_ts"),
    )
    hours = lambda c: F.floor(epoch_us(c) / 3600000000)  # noqa: E731
    durs = users.select(
        (hours(F.coalesce("hit_ts", "last_ts")) - hours("first_ts")).alias(
            "dur"
        ),
        F.when(F.col("hit_ts").isNotNull(), 1).otherwise(0).alias("observed"),
    )
    by_dur = durs.groupBy("dur").agg(
        F.sum("observed").cast("long").alias("d"),
        (F.count("*") - F.sum("observed")).cast("long").alias("c"),
    )
    w_cum = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy(F.lit(1))
    risk = by_dur.select(
        "dur",
        "d",
        (
            F.sum(F.col("d") + F.col("c")).over(w_all)
            - (F.sum(F.col("d") + F.col("c")).over(w_cum) - (F.col("d") + F.col("c")))
        ).alias("n_risk"),
    )
    inc = F.round(F.col("d") * 1.0 / F.col("n_risk"), 9)
    inc_var = F.round(
        F.col("d") * 1.0 / (F.col("n_risk").cast("double") * F.col("n_risk")),
        9,
    )
    na = risk.select(
        "dur",
        "d",
        F.col("n_risk").cast("long").alias("n_risk"),
        F.sum(inc.cast("decimal(18,9)")).over(w_cum).cast("double").alias("h"),
        F.sum(inc_var.cast("decimal(18,9)"))
        .over(w_cum)
        .cast("double")
        .alias("h_var"),
    )
    return (
        na.filter(F.col("d") > 0)
        .select(
            F.col("dur").cast("long").alias("duration_hours"),
            F.col("n_risk").alias("n_at_risk"),
            F.col("d").alias("n_events"),
            F.round("h", 6).alias("cum_hazard"),
            F.round(F.sqrt("h_var"), 6).alias("hazard_se"),
            F.round(F.exp(-F.col("h")), 6).alias("breslow_survival"),
        )
        .orderBy("duration_hours")
    )
