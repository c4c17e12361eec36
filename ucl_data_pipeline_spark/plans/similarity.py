"""Similarity: dedup, near-duplicate detection, vectors, multimodal.

Exact and fuzzy dedup (MinHash/LSH, SimHash, shingles, connected
components), embedding search (exact cosine, LSH, IVF, SQ8, PQ) and
its recall/ranking audits, k-means clustering, and the Arrow-backed
multimodal operators.

Registry conventions apply (plans/registry.py): exact decimal sums,
ROUND 6 on transcendental/division outputs, atomic columns,
BIGINT/DOUBLE/VARCHAR oracle casts.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ucl_data_pipeline_spark.functions import text as TX
from ucl_data_pipeline_spark.functions import vector as VX
from ucl_data_pipeline_spark.operators.multimodal import (
    attach_fake_media,
    extract_features,
    sample_frames,
)
from ucl_data_pipeline_spark.plans.registry import bucketed_row_number, register
from ucl_data_pipeline_spark.plans.stats import (
    _QUALITY_ORACLE,
    _SQL_SHINGLES,
    _SQL_TOKS,
    quality_scores,
)
from ucl_data_pipeline_spark.sources.io import fan_out, read_table, stats_barrier


# ---------------------------------------------------------------------------
# Distinct-by-key, first wins (A1)
# ---------------------------------------------------------------------------

_DEDUP_FIRST_ORACLE = """
SELECT o_custkey, o_orderkey, o_orderdate
FROM orders
QUALIFY row_number() OVER (
  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) = 1
"""


@register("dedup_first_wins", oracle=_DEDUP_FIRST_ORACLE, tags=("dedup", "window"))
def dedup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: deterministic distinct-by-key, first-wins (reference:
    drop_duplicates("team") scripts/bootstrap_team_priors.py:35 — made
    deterministic via an explicit ordering, SURVEY.md §2.4). One shuffle
    on the key; window instead of self-join.
    """
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
    )


def _sql_minhash(seed: int, feats: str = "feats") -> str:
    return f"list_min(list_transform({feats}, t -> md5('{seed}:' || t)))"


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

_DEDUP_EXACT_ORACLE = """
SELECT
  md5(text) AS text_hash,
  MIN(doc_id) AS keeper_id,
  COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


@register("dedup_exact", oracle=_DEDUP_EXACT_ORACLE, tags=("dedup", "llm"))
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: one row per distinct text, keeper =
    lowest doc_id. Hash-groupBy — a single shuffle keyed on the digest,
    the canonical 100 TB exact-dedup plan (hash first so the shuffle
    key is 32 bytes, not the document).
    """
    d = read_table(spark, sf_dir, "documents")
    return (
        d.select(F.md5("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies"))
    )


_DEDUP_NORM_ORACLE = r"""
SELECT
  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS norm_hash,
  MIN(doc_id) AS keeper_id,
  COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


@register("dedup_exact_normalized", oracle=_DEDUP_NORM_ORACLE, tags=("dedup", "llm"))
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after canonicalization (lower/trim/collapse-ws) —
    catches whitespace-variant copies a raw hash misses.
    """
    d = read_table(spark, sf_dir, "documents")
    return (
        d.select(F.md5(TX.normalized_text("text")).alias("norm_hash"), "doc_id")
        .groupBy("norm_hash")
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies"))
    )


_FINGERPRINT_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
)
SELECT
  doc_id,
  md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fingerprint,
  CAST(len(list_distinct(toks)) AS INTEGER) AS n_uniq_tokens
FROM tok
"""


@register("doc_fingerprint", oracle=_FINGERPRINT_ORACLE, tags=("dedup", "text", "llm"))
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive document fingerprint (md5 of the sorted
    distinct-token set) — catches shuffled/reordered near-copies; the
    corpus contains token-set-identical pairs that raw hashing misses.
    """
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.fingerprint("text").alias("fingerprint"),
        F.size(TX.distinct_tokens("text")).alias("n_uniq_tokens"),
    )


# ---------------------------------------------------------------------------
# Near dedup: MinHash signatures + banded LSH
# ---------------------------------------------------------------------------

_MINHASH_SIG_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
), feat AS (
  SELECT doc_id, {_SQL_SHINGLES.format(t='toks')} AS feats FROM tok
)
SELECT
  doc_id,
  {_sql_minhash(0)} AS mh_0,
  {_sql_minhash(1)} AS mh_1,
  {_sql_minhash(2)} AS mh_2,
  {_sql_minhash(3)} AS mh_3,
  {_sql_minhash(4)} AS mh_4,
  {_sql_minhash(5)} AS mh_5
FROM feat
"""


def _gram_features(d: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, feats: distinct 3-gram shingles).

    Built with posexplode + window-lead + collect_set instead of the
    obvious ``array_distinct(TX.shingles(TX.tokens(text)))`` one-liner,
    for a measured ~9× on the feats/explode path: higher-order lambdas
    (transform) run INTERPRETED (outside whole-stage codegen) and do
    not CSE across the lambda boundary, so the inlined tokenize
    expression was re-evaluated per gram element — the full
    ``split(lower(trim(text)))`` ran hundreds of times per document.
    Here every step (posexplode, two leads over one per-doc window,
    concat_ws, hash-agg collect_set) is codegen-able and each token is
    materialized exactly once. collect_set's arbitrary array order is
    fine: every consumer (min-over-md5 minhash, explode, intersection
    counts) is order-insensitive.

    Docs with <3 tokens keep an empty feats array WITHOUT a join back
    to the doc list (r12): the old left-join's build side was this
    very doc-keyed feature aggregate — corpus-sized arrays whose
    static size estimate Catalyst derives through a Generate it cannot
    see through, so the planner broadcast it (fine at bench SFs, a
    guaranteed driver kill at corpus scale — the ×100 smoke hit
    exactly this on the sibling df join, SCALE_NOTES r12). Instead,
    posexplode_outer keeps every doc in the exploded frame (NULL
    token row for empty/NULL text), partial grams enter collect_set
    as NULLs (ignored), and a doc whose grams are all NULL aggregates
    to the empty set — same contract, one hash-agg, zero joins for
    the planner to misplan at any scale.
    """
    toks = d.select(
        "doc_id", F.posexplode_outer(TX.tokens("text")).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    lead2 = F.lead("tok", 2).over(w)
    return (
        toks.select(
            "doc_id",
            F.concat_ws(" ", "tok", F.lead("tok", 1).over(w), lead2).alias("gram"),
            lead2.isNotNull().alias("full_gram"),
        )
        .groupBy("doc_id")
        .agg(
            F.collect_set(
                F.when(F.col("full_gram"), F.col("gram"))
            ).alias("feats")
        )
    )


def _doc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id + distinct 3-gram shingle set (the near-dup feature).

    fan_out: shingling + md5 minhashing is the CPU-bound stage of every
    near-dup operator — spread it across all cores before computing
    (the testdata parquet is a single row group → single input split).
    """

    d = fan_out(read_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return _gram_features(d)


def _rep_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Like _doc_features but exact-duplicate-collapsed: one
    representative (lowest doc_id) per distinct text. Near-dup stages
    run on representatives — byte-identical copies are the exact-dedup
    stage's job, and they are what makes LSH band buckets quadratic
    (the 10x scale smoke measured 6-39x runtime growth without the
    collapse; with it, near-dup cost tracks DISTINCT content volume,
    not corpus volume).
    """

    d = fan_out(read_table(spark, sf_dir, "documents").select("doc_id", "text"))
    rep = d.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    return _gram_features(rep)


@register("minhash_signatures", oracle=_MINHASH_SIG_ORACLE, tags=("dedup", "llm"))
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature (6 hashes over 3-gram shingles) per document.
    md5-based so every engine agrees; empty-shingle docs yield NULLs.
    """
    feats = _doc_features(spark, sf_dir)
    return feats.select(
        "doc_id", *[TX.minhash(F.col("feats"), s) for s in range(6)]
    ).toDF("doc_id", *[f"mh_{s}" for s in range(6)])


def lsh_candidate_pairs(feats: DataFrame) -> DataFrame:
    """(doc_a, doc_b) candidate pairs from the engine's 3-band × 2-row
    MinHash banding over a (doc_id, feats) frame — the ONE place the
    band parameters live engine-side (oracle twin:
    ``_SQL_BAND_CAND_CTES``); ``dedup_minhash_lsh`` generates with it
    and ``dedup_minhash_pr`` grades exactly the same
    generator because both call this.

    One pass over sig → (doc_id, band_idx, band_key): posexplode
    instead of a 3-way union (a union would recompute the whole
    minhash lineage once per band); candidates come from the
    (band_idx, band_key) equi-join — never O(n²). The join shuffles
    the 8-byte xxhash64 of the 32-char md5 band hex (band keys are
    pure equality keys that never reach the output — 4× fewer shuffle
    bytes per band row; the md5-keyed oracle is the collision check).
    """
    mh = [TX.minhash(F.col("feats"), s) for s in range(6)]
    sig = feats.select(
        "doc_id",
        F.md5(F.concat(mh[0], mh[1])).alias("band_0"),
        F.md5(F.concat(mh[2], mh[3])).alias("band_1"),
        F.md5(F.concat(mh[4], mh[5])).alias("band_2"),
    )
    bucket = (
        sig.select(
            "doc_id",
            F.posexplode(F.array("band_0", "band_1", "band_2")).alias(
                "band_idx", "band_key"
            ),
        )
        .filter(F.col("band_key").isNotNull())
        .select("doc_id", "band_idx", F.xxhash64("band_key").alias("band_key"))
    )
    # stats-barriered (r13, replacing the r12 merge hint): BOTH sides
    # of the band-bucket self-join are the corpus-sized (doc_id,
    # band_idx, band_key) frame whose static size estimate rides
    # through the banding lineage's Generate — the static planner
    # would broadcast it (the ×100-smoke class, SCALE_NOTES r12). The
    # barrier makes the static estimate conservatively unknown, so the
    # static plan is SMJ (spills gracefully, AQE still splits skewed
    # buckets) while AQE's runtime SMJ→BHJ conversion — decided from
    # MEASURED shuffle sizes — stays free, which the r12 hint blocked.
    bucket = stats_barrier(bucket)
    a = bucket.alias("a")
    b = bucket.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


# Shared 3-band × 2-row MinHash banding: `sig` + `bucket` + `cand`
# CTEs over a prior CTE named `feat` (doc_id, feats). Interpolated
# VERBATIM by every oracle that bands (dedup_minhash_lsh,
# dedup_connected_components, and the dedup_minhash_pr quality gate),
# so the band parameters can never drift between the
# candidate generator and the gate that grades it.
_SQL_BAND_CAND_CTES = f"""sig AS (
  SELECT doc_id, feats,
    md5({_sql_minhash(0)} || {_sql_minhash(1)}) AS band_0,
    md5({_sql_minhash(2)} || {_sql_minhash(3)}) AS band_1,
    md5({_sql_minhash(4)} || {_sql_minhash(5)}) AS band_2
  FROM feat
), bucket AS (
  SELECT doc_id, 0 AS band_idx, band_0 AS band_key FROM sig WHERE band_0 IS NOT NULL
  UNION ALL
  SELECT doc_id, 1, band_1 FROM sig WHERE band_1 IS NOT NULL
  UNION ALL
  SELECT doc_id, 2, band_2 FROM sig WHERE band_2 IS NOT NULL
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bucket a
  JOIN bucket b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
)"""

_MINHASH_LSH_ORACLE = rf"""
WITH rep AS (
  SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text
), tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM rep
), feat AS (
  SELECT doc_id, {_SQL_SHINGLES.format(t='toks')} AS feats FROM tok
), {_SQL_BAND_CAND_CTES}, verified AS (
  SELECT
    c.doc_a, c.doc_b,
    CAST(len(list_filter(fa.feats, x -> list_contains(fb.feats, x))) AS DOUBLE)
      / CAST(len(fa.feats) + len(fb.feats)
             - len(list_filter(fa.feats, x -> list_contains(fb.feats, x))) AS DOUBLE)
      AS jaccard
  FROM cand c
  JOIN feat fa ON c.doc_a = fa.doc_id
  JOIN feat fb ON c.doc_b = fb.doc_id
)
SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= 0.5
"""


def _rep_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(rep, feats, exact) off ONE documents scan + ONE text-grain
    groupBy (r13, verdict task 3): ``rep`` is the exact-dup collapse
    (lowest doc_id per distinct text, PERSISTED — the caller owns the
    unpersist), ``feats`` the rep shingle sets (_gram_features over the
    cached rep), and ``exact`` the (representative, copy) pair mapping.
    Before this, cc_edge_set and split_leakage_audit re-derived rep
    with a second scan + groupBy to build the exact pairs that
    _rep_features had already computed and discarded — one duplicated
    scan+aggregate subtree per consumer (bench top-3 cost in
    split_leakage_audit). The rep cache keeps both lineages (gram
    features AND the copy join) on one materialization.
    """

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    # fan_out feeds ONLY the collapse/gram path (the CPU-bound stage,
    # _doc_features rationale); the exact-pair join reads the plain
    # scan — routing it through the round-robin exchange (plus its
    # sort-before-repartition safety sort over full text) measured a
    # ~1.5 s regression at sf0.1.
    rep = (
        fan_out(docs)
        .groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
        .persist()
    )
    feats = _gram_features(rep)
    exact = (
        docs.join(
            rep.select(F.col("doc_id").alias("rep_id"), "text"), "text"
        )
        .filter(F.col("doc_id") != F.col("rep_id"))
        .select(F.col("rep_id").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    return rep, feats, exact


@register("dedup_minhash_lsh", oracle=_MINHASH_LSH_ORACLE, tags=("dedup", "llm"))
def dedup_minhash_lsh(
    spark: SparkSession, sf_dir: str, feats: DataFrame | None = None
) -> DataFrame:
    """Near-dup pairs via banded MinHash-LSH (3 bands × 2 rows) over
    exact-duplicate-collapsed representatives (see _rep_features), then
    exact shingle-Jaccard verification ≥ 0.5 within candidate buckets.

    ``feats`` lets a composing query (cc_edge_set, split_leakage_audit)
    pass an already-built (doc_id, feats) representative frame so the
    exact-dup collapse underneath runs once (r13, _rep_frames);
    ownership follows the argument — a caller-provided frame must be
    persisted by the caller and is not unpersisted here.

    Scale shape: shuffle on (band_idx, band_key) — never O(n²). The
    verify join re-fetches only candidate docs' features. (For very
    skewed buckets, AQE skew-join splits the hot keys.)
    """
    if feats is None:
        feats = _rep_features(spark, sf_dir).persist()
    cand = lsh_candidate_pairs(feats)
    # stats-barriered verification joins (r13, replacing the r12 merge
    # hints): fa/fb carry CORPUS-sized feature arrays whose static
    # size estimate rides through a Generate Catalyst cannot see into
    # — unbarriered, the static planner broadcast them and the ×100
    # perturbed smoke blew the driver on exactly this site
    # (SCALE_NOTES r12). The barrier keeps the static plan SMJ (no
    # hash relation, spills gracefully) while AQE converts to
    # broadcast at runtime from measured sizes — the conversion the
    # hint blocked. cand needs no barrier: it joins two barriered
    # sides, so its own static estimate is already conservative.
    fsrc = stats_barrier(feats)
    fa = fsrc.select(F.col("doc_id").alias("doc_a"), F.col("feats").alias("fa"))
    fb = fsrc.select(F.col("doc_id").alias("doc_b"), F.col("feats").alias("fb"))
    # hash-based O(n+m) intersection — a filter/array_contains lambda
    # is O(n·m) interpreted per candidate pair
    inter = F.size(F.array_intersect("fa", "fb"))
    union = F.size("fa") + F.size("fb") - inter
    return (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


# Shingle document-frequency cap for the inverted-index self-join: a
# single boilerplate trigram shared by 1M docs would otherwise generate
# ~5·10^11 candidate pairs. Shingles this common carry no near-dup
# signal (classic stop-shingle removal); Jaccard is computed over the
# informative (df ≤ cap) shingle sets on both engines. At sf0.01 the
# corpus max df is 7, so the cap is inert locally — it exists for the
# 100 TB shape.
_JACCARD_MAX_DF = 50

_JACCARD_PAIRS_ORACLE = rf"""
WITH rep AS (
  SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text
), tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM rep
), feat AS (
  SELECT doc_id, {_SQL_SHINGLES.format(t='toks')} AS feats FROM tok
), ex AS (
  SELECT doc_id, unnest(feats) AS f FROM feat
), ex_inf AS (
  SELECT doc_id, f FROM ex
  QUALIFY COUNT(*) OVER (PARTITION BY f) <= {_JACCARD_MAX_DF}
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM ex_inf GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM ex_inf a JOIN ex_inf b ON a.f = b.f AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT
  s.doc_a, s.doc_b,
  CAST(s.n_shared AS DOUBLE)
    / CAST(sa.n + sb.n - s.n_shared AS DOUBLE) AS jaccard
FROM shared s
JOIN sizes sa ON s.doc_a = sa.doc_id
JOIN sizes sb ON s.doc_b = sb.doc_id
WHERE s.n_shared >= 5
"""


@register("jaccard_shingle_pairs", oracle=_JACCARD_PAIRS_ORACLE, tags=("dedup", "llm"))
def jaccard_shingle_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exhaustive n-gram-Jaccard similar-pair mining via inverted
    index over exact-duplicate-collapsed representatives: explode
    shingles, drop stop-shingles (document frequency > cap — the
    all-pairs blowup guard), equi-self-join on the shingle, count
    shared per pair (one shuffle keyed by shingle — candidate
    generation is proportional to real overlap, not n²), then exact
    Jaccard over the informative shingle sets. Ground truth for LSH
    recall.
    """
    feats = _rep_features(spark, sf_dir)
    # Every downstream stage (df cap, inverted-index self-join, pair
    # counting) uses the shingle only as an EQUALITY key — it never
    # reaches the output — so shuffle the 8-byte xxhash64 digest
    # instead of the raw ~20-30-byte 3-gram string (results differ
    # only on a 64-bit collision; the DuckDB oracle keeps raw strings
    # on the bounded fixture, which is exactly the collision check).
    ex = (
        feats.select("doc_id", F.explode("feats").alias("f"))
        .select("doc_id", F.xxhash64("f").alias("f"))
        .persist()
    )
    # df-cap and doc sizes as WINDOWS, not groupBy+join (r12): the old
    # spelling had THREE joins whose build sides grow with the corpus
    # (the vocab-sized `informative` list and two doc-sized size
    # tables) — all three rode Generate-blind static size estimates
    # into BroadcastHashJoin (the ×100-smoke class, SCALE_NOTES r12).
    # The df window pays the same f-shuffle the cap join did; the
    # post-cap doc size rides a doc_id window; na/nb then travel
    # through the self-join sides and become group keys (determined by
    # doc_a/doc_b, so they add no group cardinality). One join left —
    # the inverted-index self-join — stats-barriered for the same
    # reason (r13: the barrier replaces the r12 merge hint; static
    # plan stays SMJ, AQE's runtime size-measured BHJ conversion is
    # free again — see sources/io.stats_barrier).
    w_f = Window.partitionBy("f")
    w_doc = Window.partitionBy("doc_id")
    ex_inf = stats_barrier(
        ex.withColumn("df", F.count("*").over(w_f))
        .filter(F.col("df") <= _JACCARD_MAX_DF)
        .withColumn("n", F.count("*").over(w_doc))
        .select("doc_id", "f", "n")
        .persist()
    )
    a = ex_inf.alias("a")
    b = ex_inf.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.f") == F.col("b.f"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 5)
    )
    return shared.select(
        "doc_a",
        "doc_b",
        (
            F.col("n_shared").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_shared")).cast("double")
        ).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

_SQL_COS = (
    "list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))"
    " / nullif(sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),"
    " CAST(q.embedding AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),"
    " CAST(c.embedding AS DOUBLE[]))), 0.0)"
)

# Hard structural cap on the brute-force baseline's query side: the
# all-pairs scan is the EXACTNESS BASELINE (ann_recall_* gates measure
# every index against it), never the production path — so it must be
# impossible to invoke unbounded. Cost is O(_TOPK_MAX_QUERIES · n) — a
# bounded number of broadcast rows against one candidate scan — no
# matter how large the corpus grows.
_TOPK_MAX_QUERIES = 64

_TOPK_ORACLE = f"""
SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_SQL_COS} AS cos_sim
FROM embeddings q
JOIN embeddings c
  ON q.vec_id % 100 = 0 AND q.vec_id < {100 * _TOPK_MAX_QUERIES}
 AND c.vec_id <> q.vec_id
QUALIFY row_number() OVER (
  PARTITION BY q.vec_id ORDER BY {_SQL_COS} DESC, c.vec_id) <= 5
"""


def brute_force_topk(
    e: DataFrame, queries: DataFrame, k: int, max_queries: int
) -> DataFrame:
    """Exact cosine top-k of ``queries`` (query_id, q_emb) against the
    corpus ``e`` (vec_id, embedding). ``max_queries`` is REQUIRED: the
    query side is truncated to deterministically-lowest ``max_queries``
    ids before the broadcast, so the O(q·n) product is bounded by
    construction — there is no unbounded all-pairs spelling of this
    operator. Candidates stream (broadcast join, no shuffle); per-query
    top-k via a ranking window keyed by query_id.
    """

    q = queries.orderBy("query_id").limit(max_queries)
    c = fan_out(
        e.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("c_emb"),
        )
    )
    sim = VX.cosine("q_emb", "c_emb")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


@register(
    "embedding_topk_cosine", oracle=_TOPK_ORACLE, tags=("vector", "llm", "baseline")
)
def embedding_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (k=5) for a BOUNDED query sample — the
    exact baseline every ANN variant is measured against (see
    ann_recall_*). The query side is structurally capped at
    ``_TOPK_MAX_QUERIES`` (sampling predicate + id ceiling, mirrored in
    the oracle, plus ``brute_force_topk``'s required ``max_queries``
    truncation), so the plan is O(cap·n) — one candidate scan against a
    fixed-size broadcast — at any corpus size; it cannot be invoked as
    an unbounded all-pairs join. Tagged ``baseline`` so bench surfaces
    it as a baseline-only entry.
    """
    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(
        (F.col("vec_id") % 100 == 0)
        & (F.col("vec_id") < 100 * _TOPK_MAX_QUERIES)
    ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    return brute_force_topk(e, q, k=5, max_queries=_TOPK_MAX_QUERIES)


_SQL_BUCKET = (
    "CAST(" + " + ".join(
        f"CASE WHEN CAST({{side}}.embedding[{i + 1}] AS DOUBLE) > 0 THEN {2**i} ELSE 0 END"
        for i in range(8)
    ) + " AS INTEGER)"
)

_LSH_TOPK_ORACLE = f"""
SELECT
  q.vec_id AS query_id,
  c.vec_id AS neighbor_id,
  {_SQL_BUCKET.format(side='q')} AS bucket,
  {_SQL_COS} AS cos_sim
FROM embeddings q
JOIN embeddings c
  ON q.vec_id % 100 = 0 AND c.vec_id <> q.vec_id
 AND {_SQL_BUCKET.format(side='q')} = {_SQL_BUCKET.format(side='c')}
QUALIFY row_number() OVER (
  PARTITION BY q.vec_id ORDER BY {_SQL_COS} DESC, c.vec_id) <= 3
"""


@register("embedding_lsh_topk", oracle=_LSH_TOPK_ORACLE, tags=("vector", "llm"))
def embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via sign-bit LSH bucketing: candidates restricted to
    the query's hyperplane-sign bucket (equi-join on bucket id), exact
    cosine re-rank within the bucket. The scale path: shuffle keys are
    bucket ids; candidate work drops ~2^bits-fold vs brute force.
    """
    e = read_table(spark, sf_dir, "embeddings")
    with_bucket = e.select(
        "vec_id", "embedding", VX.sign_bucket("embedding", 8).alias("bucket")
    )
    q = with_bucket.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("bucket").alias("bucket"),
    )
    c = with_bucket.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("bucket").alias("c_bucket"),
    )
    sim = VX.cosine("q_emb", "c_emb")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        c.join(
            F.broadcast(q),
            (F.col("c_bucket") == F.col("bucket"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select("query_id", "neighbor_id", "bucket", sim.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


_IVF_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
),
cent AS (
  SELECT label,
         list(centroid_val ORDER BY pos) AS cvec
  FROM (
    SELECT e.label, i AS pos,
           CAST(SUM(CAST(e.embedding[i] AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)
             AS centroid_val
    FROM e, unnest(generate_series(1, len(e.embedding))) AS t(i)
    GROUP BY e.label, i
  )
  GROUP BY label
),
probe AS (
  SELECT q.vec_id AS query_id, q.embedding AS q_emb, c.label AS probe_label
  FROM e q CROSS JOIN cent c
  WHERE q.vec_id % 100 = 0
  QUALIFY row_number() OVER (
    PARTITION BY q.vec_id
    ORDER BY list_dot_product(q.embedding, c.cvec)
               / nullif(sqrt(list_dot_product(q.embedding, q.embedding))
                        * sqrt(list_dot_product(c.cvec, c.cvec)), 0.0) DESC,
             c.label
  ) = 1
)
SELECT p.query_id, p.probe_label, c.vec_id AS neighbor_id,
       list_dot_product(p.q_emb, c.embedding)
         / nullif(sqrt(list_dot_product(p.q_emb, p.q_emb))
                  * sqrt(list_dot_product(c.embedding, c.embedding)), 0.0)
         AS cos_sim
FROM probe p
JOIN e c ON c.label = p.probe_label AND c.vec_id <> p.query_id
QUALIFY row_number() OVER (
  PARTITION BY p.query_id
  ORDER BY cos_sim DESC, c.vec_id
) <= 3
"""


@register("embedding_ivf_topk", oracle=_IVF_ORACLE, tags=("vector", "llm"))
def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: a coarse quantizer (per-label centroids — the
    inverted-list structure; a k-means codebook at scale) assigns each
    query to its nearest list (nprobe=1), then exact cosine top-3 runs
    only within that list's vectors.

    Scale shape: centroids are one tiny aggregated table (broadcast);
    the candidate join key is the list id, so per-query work is
    |list| not n — and lists can be PARTITION KEYS of the embedding
    table, making each probe a partition-pruned scan. Exact-decimal
    centroid means keep the quantizer cross-engine deterministic.
    """
    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", VX.as_double("embedding").alias("embedding")
    )
    # Inverted-list codebook: element-wise exact-decimal mean per label.
    cent = (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            (F.sum(F.col("val").cast("decimal(18,9)")).cast("double") / F.count("*"))
            .alias("centroid_val")
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "centroid_val"))),
                lambda s: s["centroid_val"],
            ).alias("cvec")
        )
    )
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        VX.cosine("q_emb", "cvec").desc(), F.col("label")
    )
    probe = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("rn", F.row_number().over(probe_w))
        .filter(F.col("rn") == 1)
        .select("query_id", "q_emb", F.col("label").alias("probe_label"))
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("c_emb"),
    )
    topk_w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        c.join(
            F.broadcast(probe),
            (F.col("c_label") == F.col("probe_label"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "probe_label",
            "neighbor_id",
            VX.cosine("q_emb", "c_emb").alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(topk_w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


_CENTROIDS_ORACLE = """
SELECT
  e.label,
  CAST(i - 1 AS INTEGER) AS pos,
  ROUND(CAST(SUM(CAST(CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE)
    / COUNT(*), 6) AS centroid_val
FROM embeddings e, unnest(generate_series(1, len(e.embedding))) AS t(i)
GROUP BY e.label, i
"""


@register("label_centroids", oracle=_CENTROIDS_ORACLE, tags=("vector", "llm", "agg"))
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, long format (label, pos, centroid_val):
    posexplode + hash-agg on (label, pos) — element-wise vector mean as
    a pure shuffle-once aggregation; exact-decimal sums for
    cross-engine equality.
    """
    e = read_table(spark, sf_dir, "embeddings")
    exploded = e.select(
        "label", F.posexplode(VX.as_double("embedding")).alias("pos", "val")
    )
    return (
        exploded.groupBy("label", "pos")
        .agg(
            F.round(
                F.sum(F.col("val").cast("decimal(18,9)")).cast("double")
                / F.count("*"),
                6,
            ).alias("centroid_val")
        )
    )


_EMB_DEDUP_ORACLE = f"""
WITH universe AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding, label FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(CAST(embedding AS DOUBLE[]), x -> x * 0.5),
         label
  FROM embeddings WHERE vec_id % 10 = 0
),
nbu AS (
  SELECT {VX.sql_nbits_for_count('COUNT(*)')} AS nbits FROM universe
),
b AS (
  SELECT vec_id, label, embedding,
         {VX.sql_adaptive_sign_bucket('embedding')} AS bucket
  FROM universe, nbu
),
dup AS (
  SELECT DISTINCT c.vec_id
  FROM b q JOIN b c
    ON q.bucket = c.bucket AND q.vec_id < c.vec_id
  WHERE {_SQL_COS} > 0.9
)
SELECT u.vec_id, u.label
FROM universe u ANTI JOIN dup d ON u.vec_id = d.vec_id
"""


@register("dedup_embedding_cosine", oracle=_EMB_DEDUP_ORACLE, tags=("dedup", "vector", "llm"))
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate removal: candidate pairs from
    the sign-bit LSH bucket equi-join, exact cosine refine (> 0.9),
    keep-lowest-id policy (a row is dropped iff a smaller-id near-dup
    exists — the standard greedy dedup; full connected components
    would need an iterative union-find pass, out of SQL's reach).

    The synthetic corpus has no natural near-dups (max pairwise cosine
    ≈ 0.51), so the universe is seeded with scaled copies of every
    10th vector (scaling preserves cosine ≈ 1.0 and, being a power of
    two, is float-exact in both engines); the operator must drop
    exactly those copies.

    Scale: the self-join key is the bucket id, so candidate volume is
    sum over buckets of |bucket|² rather than n² — the same reason
    MinHash-LSH banding works for text. Anti-join back is a broadcast
    of the (small) duplicate-id set.
    """
    base = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", VX.as_double("embedding").alias("embedding"), "label"
    )
    copies = base.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 0.5).alias("embedding"),
        "label",
    )
    e = base.unionByName(copies)
    # Corpus-sized bucket width (functions/vector.py ladder; resolves
    # to 8 bits at driver-fixture sizes — results unchanged there, and
    # the candidate join no longer saturates at 100× corpus).
    nb = e.agg(VX.nbits_for_count(F.count("*")).alias("nbits"))
    with_bucket = e.crossJoin(F.broadcast(nb)).select(
        "vec_id",
        "embedding",
        VX.adaptive_sign_bucket("embedding", F.col("nbits")).alias("bucket"),
    )
    q = with_bucket.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        "bucket",
    )
    c = with_bucket.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_emb"),
        F.col("bucket").alias("c_bucket"),
    )
    dup_ids = (
        q.join(c, (F.col("bucket") == F.col("c_bucket")) & (F.col("q_id") < F.col("c_id")))
        .filter(VX.cosine("q_emb", "c_emb") > 0.9)
        .select(F.col("c_id").alias("vec_id"))
        .distinct()
    )
    return e.join(dup_ids, "vec_id", "left_anti").select("vec_id", "label")


# ---------------------------------------------------------------------------
# Multimodal columns (binary payloads + typed metadata)
# ---------------------------------------------------------------------------

_MM_META_ORACLE = """
SELECT
  doc_id AS media_id,
  CASE WHEN doc_id % 3 = 0 THEN 'image'
       WHEN doc_id % 3 = 1 THEN 'audio'
       ELSE 'video' END AS media_type,
  CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
  md5(text) AS content_hash
FROM documents
"""


@register("multimodal_binary_meta", oracle=_MM_META_ORACLE, tags=("multimodal", "llm"))
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over opaque binary media columns (byte length,
    content hash, modality tag) — the metadata-predicate layer that
    must be pushed down BEFORE any decode at 100 TB (operators.
    multimodal holds the decode stage).
    """
    media = attach_fake_media(read_table(spark, sf_dir, "documents"))
    return media.select(
        "media_id",
        "media_type",
        F.octet_length("payload").alias("n_bytes"),
        F.md5("payload").alias("content_hash"),
    )


# The stub decoder's byte-level features are themselves deterministic
# functions of the payload, and the fake payload is the utf-8 bytes of
# `text` — so the Python mapInPandas stage CAN be oracle-checked in
# SQL. DuckDB has no blob md5/byte-indexing, so the oracle works on
# characters via ord(); that equals byte semantics only for ASCII
# corpora, which the driver testdata is (verified: 0 non-ascii docs in
# all sf dirs). If non-ascii data ever appears the row goes visibly
# red rather than silently weak — the right failure mode.
_MM_MEDIA_SQL = """
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         text
  FROM documents
"""

_MM_FEAT_ORACLE = f"""
WITH m AS ({_MM_MEDIA_SQL}
), b AS (
  SELECT media_id, ord(substr(text, i, 1)) AS bv
  FROM m, unnest(generate_series(1, length(text))) AS t(i)
), s AS (
  SELECT media_id, SUM(bv) AS sum_b, COUNT(DISTINCT bv) AS n_distinct
  FROM b GROUP BY media_id
)
SELECT m.media_id, m.media_type,
       CAST(length(m.text) AS INTEGER) AS n_bytes,
       CASE WHEN length(m.text) = 0 THEN 0.0
            ELSE CAST(s.sum_b AS DOUBLE) / length(m.text) END AS byte_mean,
       CASE WHEN length(m.text) = 0 THEN 0.0
            ELSE CAST(s.n_distinct AS DOUBLE) / 256.0 END
         AS byte_entropy_proxy,
       md5(substr(m.text, 1, 64)) AS head_hash
FROM m LEFT JOIN s USING (media_id)
"""


@register(
    "multimodal_feature_extract", oracle=_MM_FEAT_ORACLE, tags=("multimodal", "llm")
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode/featurize via mapInPandas (stub codec —
    deterministic byte-level features; see operators.multimodal).
    Oracle-checked since round 4: the stub's features (byte mean,
    distinct-byte entropy proxy, head md5) are re-derived in pure SQL
    over the same text-derived payload, so the PYTHON STAGE ITSELF —
    Arrow batching, schema, partitioning and all — is hash-verified
    against DuckDB, not just row-counted.
    """
    media = attach_fake_media(read_table(spark, sf_dir, "documents"))
    return extract_features(media, decoder="stub")


_MM_FRAME_ORACLE = f"""
WITH m AS ({_MM_MEDIA_SQL}
)
SELECT media_id,
       CAST(k AS INTEGER) AS frame_idx,
       hex(encode(substr(text, k * 64 + 1, 64))) AS frame_hex
FROM m, unnest(generate_series(0, CAST(floor((length(text) - 1) / 64.0)
                                       AS BIGINT), 2)) AS t(k)
WHERE media_type = 'video' AND length(text) > 0
"""


@register(
    "multimodal_frame_sample", oracle=_MM_FRAME_ORACLE, tags=("multimodal", "llm")
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over "video" payloads: chunk each blob into
    64-byte frames and keep every 2nd one (bounded fan-out explode in
    an Arrow-batched stage; a codec replaces the chunker on a real
    cluster). Driver-visible output serializes each frame as hex —
    raw binary cells are unhashable in a pandas canonicalizer
    (registry atomic-output convention); the operator itself
    (operators.multimodal.sample_frames) still returns real bytes.
    Oracle-checked since round 4 (same ASCII note as
    multimodal_feature_extract).
    """
    media = attach_fake_media(read_table(spark, sf_dir, "documents"))
    frames = sample_frames(media, frame_size=64, stride=2)
    return frames.select(
        "media_id", "frame_idx", F.hex("frame_bytes").alias("frame_hex")
    )


# Shared edge-construction CTE chain (rep → tok → feat → LSH bands →
# verified pairs → exact-dup pairs → symmetric edges) — also consumed
# by cc_superstep_convergence, which unrolls label
# propagation over the same edge set instead of the recursive closure.
CC_EDGES_SQL_CTES = rf"""rep AS (
  SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text
), tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM rep
), feat AS (
  SELECT doc_id, {_SQL_SHINGLES.format(t='toks')} AS feats FROM tok
), {_SQL_BAND_CAND_CTES}, pairs AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN feat fa ON c.doc_a = fa.doc_id
  JOIN feat fb ON c.doc_b = fb.doc_id
  WHERE CAST(len(list_filter(fa.feats, x -> list_contains(fb.feats, x))) AS DOUBLE)
      / CAST(len(fa.feats) + len(fb.feats)
             - len(list_filter(fa.feats, x -> list_contains(fb.feats, x))) AS DOUBLE)
      >= 0.5
), exact_pairs AS (
  SELECT r.doc_id AS doc_a, d.doc_id AS doc_b
  FROM documents d JOIN rep r ON d.text = r.text
  WHERE d.doc_id <> r.doc_id
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
  UNION ALL
  SELECT doc_a, doc_b FROM exact_pairs
  UNION ALL
  SELECT doc_b, doc_a FROM exact_pairs
)"""


def cc_edge_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric near-dup edge set: LSH-verified pairs among
    exact-collapsed representatives (dedup_minhash_lsh) PLUS
    (representative, copy) edges for exact duplicates, so
    byte-identical copies land in their representative's component.
    Materialized once (localCheckpoint + persist) — without this the
    union would execute the whole LSH lineage twice, once per
    direction. Shared by ``dedup_connected_components`` and
    ``cc_superstep_convergence``.

    r13 (guide §2.2, partition right-sizing): the symmetric union is
    coalesced to a ROWS-SIZED partition count before the persist. A
    union's partition count is the SUM of its children's (not a
    shuffle, so AQE coalescing never applies): at sf0.1 the cached
    edge frame carried 66 partitions for 498 rows, and every
    per-superstep broadcast rebuild in the CC loop scanned all 66 as
    separate tasks — pure scheduling overhead, and the cause of the
    r12 scaling block's 8-core-beats-32 inversion on this family. The
    pair count rides the checkpoint job as an ``Observation`` metric
    (no separate count job); the partition target scales with
    the dup-graph size (~64k pair rows ≈ 1.5 MB per partition),
    capped at default parallelism, so a corpus-scale dup graph keeps
    full parallelism while a bench-scale one collapses to 1.

    r13 (verdict task 3): the near and exact lineages now share ONE
    exact-dup collapse via ``_rep_frames`` — previously the exact
    pairs re-scanned documents and re-ran the text-grain groupBy that
    ``_rep_features`` had already computed for the LSH side. Both
    caches are released as soon as the pair set is checkpointed
    (lineage truncated), so the CC queries built on this edge set
    leave no cache entries behind. ``split_leakage_audit`` shares
    ``_rep_frames`` without this checkpoint and still leaves its
    persisted ``feats`` frame cached."""
    rep, feats, exact = _rep_frames(spark, sf_dir)
    feats = feats.persist()
    near = dedup_minhash_lsh(spark, sf_dir, feats=feats).select(
        "doc_a", "doc_b"
    )
    size = Observation()
    pairs = (
        near.unionByName(exact)
        .observe(size, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    feats.unpersist()
    rep.unpersist()
    n_pairs = size.get["n"]
    n_parts = max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            (2 * n_pairs) // 65536 + 1,
        ),
    )
    return (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .coalesce(n_parts)
        .persist()
    )


def cc_superstep(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label superstep over a symmetric edge set: each node takes
    the min of its own label and its neighbours' labels. Returns the
    un-checkpointed (doc_id, component_id, __old) aggregate, where
    ``__old`` is the node's label before the step (the own-label-flagged
    union folds it into the same min-aggregate, so a changed-label count
    is a filter over this frame, not a join).
    """
    nbr = (
        F.broadcast(edges)
        .join(labels, F.col("dst") == F.col("doc_id"))
        .select(F.col("src").alias("doc_id"), "component_id")
    )
    return (
        labels.withColumn("__own", F.lit(1))
        .unionByName(nbr.withColumn("__own", F.lit(0)))
        .groupBy("doc_id")
        .agg(
            F.min("component_id").alias("component_id"),
            F.min(
                F.when(F.col("__own") == 1, F.col("component_id"))
            ).alias("__old"),
        )
    )


_CC_ORACLE = rf"""
WITH RECURSIVE {CC_EDGES_SQL_CTES}, reach(doc_id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.doc_id = e.dst
)
SELECT doc_id, MIN(r) AS component_id FROM reach GROUP BY doc_id
"""


@register("dedup_connected_components", oracle=_CC_ORACLE, tags=("dedup", "llm", "iterative"))
def dedup_connected_components(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> DataFrame:
    """Full duplicate-GROUP resolution: connected components over the
    MinHash-LSH near-dup pair graph (component id = smallest doc_id
    reachable), via iterative min-label propagation to fixpoint — the
    union-find completion that pairwise keep-lowest-id dedup
    approximates. Oracle: the same components from a recursive CTE.

    ``edges`` lets a composing query
    (``component_split_assign``) pass an already-built ``cc_edge_set``
    frame so the LSH verify lineage runs once; ownership follows the
    argument — a caller-provided frame is not unpersisted here. The
    frame must be SYMMETRIC (every (src, dst) has its (dst, src)
    mirror, as ``cc_edge_set`` guarantees): labels seed from the
    distinct ``src`` endpoints, so a directed edge set would silently
    drop dst-only nodes into self-components.

    Scale shape: each round is one broadcast join (edges are sparse —
    near-dup graphs are tiny relative to the corpus) + a min-aggregate;
    rounds = component diameter (near-dup clusters are shallow, a
    handful of rounds). localCheckpoint truncates the growing loop
    lineage — the standard Spark iterative-algorithm pattern
    (GraphFrames/GraphX do the same under the hood).

    r12 (optimization round): the propagation runs on the EDGE-NODE
    SUBGRAPH only, not the corpus. A document with no near-dup edge
    can never change label (its component is itself), so iterating
    corpus-sized label frames shuffled corpus bytes every superstep
    for rows that were constant by construction. Labels now start as
    the distinct edge endpoints (the symmetric edge set makes src the
    full endpoint set); isolated docs re-enter once at the END via a
    left join + coalesce(label, doc_id) — per-superstep work is
    dup-graph-sized (477 nodes vs 5,000 docs at sf0.1; the gap WIDENS
    with corpus size, which is the 100 TB argument). The convergence
    check also rides the label aggregate itself (min over the
    own-label-flagged union gives both the new label and the old one),
    and the changed-label count is an ``Observation`` metric on that
    aggregate, filled by its localCheckpoint job — so each round is ONE
    materializing job, with no separate join or count job to decide
    termination. Results are bit-identical: same min-label fixpoint,
    same early-exit round (isolated docs never contributed to either).
    """
    owns_edges = edges is None
    if owns_edges:
        edges = cc_edge_set(spark, sf_dir)
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component_id", F.col("doc_id"))
        .localCheckpoint()
    )
    for _ in range(20):  # cap ≫ any real near-dup cluster diameter
        moved = Observation()
        merged = (
            cc_superstep(edges, labels)
            .observe(
                moved,
                F.count_if(F.col("component_id") != F.col("__old")).alias("n"),
            )
            .localCheckpoint()
        )
        labels = merged.select("doc_id", "component_id")
        if moved.get["n"] == 0:
            break
    if owns_edges:
        edges.unpersist()
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    return docs.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component_id", F.col("doc_id")).alias("component_id"),
    )


# Oracle-checkable SimHash (md5-nibble bit source — the engine-native
# xxhash64 variant above is the production fast path). Both engines
# compute: per-token 32 bits from the first 8 md5 hex nibbles → per-bit
# majority vote → 32-bit signature → four 8-bit bands for LSH →
# hamming-verified pairs.
_HEXES = "0123456789abcdef"


def _sql_simhash_votes() -> str:
    cols = []
    for b in range(32):
        i, k = b // 4 + 1, b % 4
        nib = f"(strpos('{_HEXES}', substr(md5(tok), {i}, 1)) - 1)"
        cols.append(
            f"SUM(CASE WHEN (({nib} >> {k}) & 1) = 1 THEN 1 ELSE -1 END) AS v{b}"
        )
    return ",\n    ".join(cols)


def _sql_pack(bits: range, var: str = "v") -> str:
    return " + ".join(
        f"(CASE WHEN {var}{b} > 0 THEN {2 ** (b - bits.start)} ELSE 0 END)"
        for b in bits
    )


def _simhash_md5_sig(docs: DataFrame, n_bands: int = 0) -> DataFrame:
    """(doc_id, text) → (doc_id, simhash[, band_0..band_{n_bands-1}]).

    32-bit SimHash from md5-nibble token bits (cross-engine: DuckDB
    computes the identical signature, see _sql_simhash_votes). One
    explode + one hash-agg keyed by doc_id — a single shuffle whose
    state is 11 packed vote sums + a count per group (3 bit-counts per
    64-bit SUM at 21-bit spacing; majority of ±1 votes over n tokens is
    2·ones > n). Safe to 2^21 distinct tokens per doc.
    """
    tok = docs.select("doc_id", F.explode(TX.distinct_tokens("text")).alias("tok"))
    # Materialize the digest nibbles ONCE per token row: aggregate
    # expressions don't share subexpressions, so referencing md5(tok)
    # inside all 32 votes would hash every token 32 times (measured
    # ~7x slower).
    hexes = F.lit(_HEXES)
    md5c = F.md5("tok")
    nibbled = tok.select(
        "doc_id",
        *[
            (F.instr(hexes, F.substring(md5c, i + 1, 1)) - 1).alias(f"nib{i}")
            for i in range(8)
        ],
    )

    def bit(b: int) -> F.Column:
        i, k = b // 4, b % 4
        return F.shiftright(F.col(f"nib{i}"), k).bitwiseAND(F.lit(1)).cast("long")

    sums = []
    for j in range(11):
        packed = None
        for p, b in enumerate(range(3 * j, min(3 * j + 3, 32))):
            piece = F.shiftleft(bit(b), 21 * p)
            packed = piece if packed is None else packed + piece
        sums.append(F.sum(packed).alias(f"s{j}"))
    agg = nibbled.groupBy("doc_id").agg(F.count("*").alias("n"), *sums)

    def vote(b: int) -> F.Column:
        j, p = b // 3, b % 3
        ones = F.shiftright(F.col(f"s{j}"), 21 * p).bitwiseAND(F.lit((1 << 21) - 1))
        return (ones * 2) > F.col("n")

    def pack(bits: range, offset: int) -> F.Column:
        total = None
        for b in bits:
            piece = F.when(vote(b), F.lit(2 ** (b - offset))).otherwise(F.lit(0))
            total = piece if total is None else total + piece
        return total

    band_width = 32 // n_bands if n_bands else 0
    return agg.select(
        "doc_id",
        pack(range(32), 0).cast("long").alias("simhash"),
        *[
            pack(range(band_width * k, band_width * (k + 1)), band_width * k)
            .cast("int")
            .alias(f"band_{k}")
            for k in range(n_bands)
        ],
    )


_SIMHASH_SIG_ORACLE = rf"""
WITH tok AS (
  SELECT DISTINCT doc_id, UNNEST({_SQL_TOKS}) AS tok FROM documents
), votes AS (
  SELECT doc_id,
    {_sql_simhash_votes()}
  FROM tok GROUP BY doc_id
)
SELECT doc_id,
  CAST({" + ".join(f"(CASE WHEN v{b} > 0 THEN {2 ** b} ELSE 0 END)" for b in range(32))} AS BIGINT) AS simhash
FROM votes
"""


@register("simhash_signatures", oracle=_SIMHASH_SIG_ORACLE, tags=("dedup", "llm"))
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document from md5-nibble token bits —
    cross-engine deterministic, so fully oracle-checked (round 1 ran
    this with engine-native xxhash64 and only got a rows-only check;
    the md5 bit source its twin dedup_simhash proved oracle-expressible
    now anchors the values too). One explode + one packed-vote hash-agg
    keyed by doc_id.
    """

    d = fan_out(read_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return _simhash_md5_sig(d, n_bands=0)


_SIMHASH_DEDUP_ORACLE = rf"""
WITH rep AS (
  SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text
), tok AS (
  SELECT DISTINCT doc_id, UNNEST({_SQL_TOKS}) AS tok FROM rep
), votes AS (
  SELECT doc_id,
    {_sql_simhash_votes()}
  FROM tok GROUP BY doc_id
), sig AS (
  SELECT doc_id,
    CAST({" + ".join(f"(CASE WHEN v{b} > 0 THEN {2 ** b} ELSE 0 END)" for b in range(32))} AS BIGINT) AS simhash,
    {", ".join(f"CAST({_sql_pack(range(16 * k, 16 * k + 16))} AS INTEGER) AS band_{k}" for k in range(2))}
  FROM votes
), bucket AS (
  {" UNION ALL ".join(f"SELECT doc_id, simhash, {k} AS band_idx, band_{k} AS band_val FROM sig" for k in range(2))}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sim_a, b.simhash AS sim_b
  FROM bucket a
  JOIN bucket b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
              AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(sim_a, sim_b)) <= 1
"""


@register("dedup_simhash", oracle=_SIMHASH_DEDUP_ORACLE, tags=("dedup", "llm"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, fully oracle-checked: exact-duplicate
    collapse to per-text representatives (the standard exact→near
    dedup composition), then md5-nibble bits (cross-engine), per-bit
    majority vote, 2×16-bit LSH bands
    for candidates (wider bands = fewer, cleaner candidates at some
    recall cost — the recall/cost dial of production SimHash dedup; on
    this clustered-vocab corpus 8-bit bands generate ~10M candidate
    combinations, 16-bit ~1.7M), hamming ≤ 1 verification via
    bit_count(xor). Threshold note: this synthetic corpus draws from a
    ~30-word vocabulary, so 32-bit bag-of-words simhashes barely
    discriminate (tens of thousands of pairs collide outright); the
    tight threshold keeps the output the truly-nearest band. Real
    corpora use 64-bit hashes, 4×16 bands, hamming ≤ 3.

    Scale: same shuffle shape as MinHash-LSH — band-key equi-join,
    never O(n²); the signature is 8 bytes so the verify join carries
    almost nothing.
    """

    # Exact-duplicate collapse FIRST (one representative per distinct
    # text, lowest doc_id): byte-identical copies are the exact-dedup
    # stage's job, and they are precisely what makes near-dup candidate
    # buckets quadratic — the 10x scale smoke showed 39x runtime growth
    # without this collapse because replicated texts multiplied every
    # band bucket.
    d = fan_out(read_table(spark, sf_dir, "documents").select("doc_id", "text"))
    rep = d.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    # Signature via the shared md5-nibble packed-vote helper (11 packed
    # vote sums instead of 32 signed sums — a third of the hash-agg
    # state per group; verified pair-for-pair identical and ~10% faster
    # end-to-end at sf0.1). Two 16-bit LSH bands.
    sig = _simhash_md5_sig(rep, n_bands=2)
    bucket = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(F.array(*[f"band_{k}" for k in range(2)])).alias(
            "band_idx", "band_val"
        ),
    )
    a = bucket.alias("a")
    b_ = bucket.alias("b")
    # The hamming predicate goes INSIDE the join: hot bands on a
    # clustered corpus generate millions of candidate combinations, and
    # evaluating xor/bit_count inline streams them through the join
    # (distinct only ever sees true near-dups) instead of materializing
    # and deduplicating the full candidate set (~6x faster at sf0.1).
    hamming_join = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(
            b_,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (hamming_join <= 1),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming_join.cast("int").alias("hamming"),
        )
        .distinct()
    )


K = 8

ITERATIONS = 5

INIT_ROUNDS = 2

OVERSAMPLE = 2 * K  # the "l" of k-means||


def _sq_dist(a: str, b: str) -> Column:
    diffs = F.zip_with(F.col(a), F.col(b), lambda x, y: (x - y) * (x - y))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def _centers_lit(centers: list[list[float]]) -> Column:
    # The k x dim center matrix enters the plan as ONE parsed SQL
    # expression. Building it element-wise (F.array of F.lit, or even
    # F.lit on a nested list) issues one py4j round-trip PER ELEMENT —
    # ~6k JVM calls per iteration at k=8, dim=64, which profiling
    # showed was over half of kmeans' total runtime. repr(float) is
    # shortest-round-trip and Double.parseDouble is correctly rounded,
    # so the values survive bit-exactly.
    inner = ",".join(
        "array(" + ",".join(f"{float(v)!r}D" for v in c) + ")" for c in centers
    )
    return F.expr(f"array({inner})")


def _dists(centers: list[list[float]]) -> Column:
    """array of squared distances from `embedding` to each center."""
    return F.transform(
        _centers_lit(centers),
        lambda c: F.aggregate(
            F.zip_with(F.col("embedding"), c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def _exact_total(df: DataFrame, col: str) -> float:
    """Order-independent sum of a double column (decimal accumulate)."""
    row = df.agg(
        F.sum(F.col(col).cast("decimal(28,12)")).cast("double").alias("t")
    ).collect()[0]
    return float(row.t or 0.0)


def _kmeans_parallel_init(pts: DataFrame, k: int) -> list[list[float]]:
    """Deterministic k-means|| seeding. `pts` has (vec_id, embedding)."""
    seed = pts.orderBy("vec_id").limit(1).collect()[0]
    centers: list[list[float]] = [list(seed.embedding)]
    for r in range(INIT_ROUNDS):
        d2 = pts.select(
            "vec_id", "embedding", F.array_min(_dists(centers)).alias("d2")
        )
        total = _exact_total(d2, "d2")
        if total <= 0.0:  # all points coincide with a center
            break
        u = (
            F.pmod(F.xxhash64("vec_id", F.lit(r)), F.lit(1_000_000)) + 0.5
        ) / 1_000_000.0
        cand = (
            d2.filter(u * F.lit(total) < F.lit(float(OVERSAMPLE)) * F.col("d2"))
            .select("vec_id", "embedding")
            .collect()
        )
        centers.extend(list(c.embedding) for c in sorted(cand, key=lambda c: c.vec_id))
    # Weight candidates by how many points they own, then reduce to k on
    # the driver (candidate set is ~INIT_ROUNDS * OVERSAMPLE rows).
    idx = F.array_position(
        (d := _dists(centers)), F.array_min(d)
    ).alias("center_idx")
    weights = {
        row.center_idx: row.w
        for row in pts.select(idx).groupBy("center_idx").agg(F.count("*").alias("w")).collect()
    }
    chosen = [0]  # the seed stays
    while len(chosen) < k and len(chosen) < len(centers):

        def gain(i: int) -> tuple[float, int]:
            d_min = min(
                sum((a - b) * (a - b) for a, b in zip(centers[i], centers[j]))
                for j in chosen
            )
            # negative index as the tie-break so ties pick the LOWEST i
            return (weights.get(i + 1, 0) * d_min, -i)

        best = max((i for i in range(len(centers)) if i not in chosen), key=gain)
        chosen.append(best)
    picked = [centers[i] for i in chosen]
    if len(picked) < k:  # degenerate corpus: pad with first distinct points
        pad = pts.orderBy("vec_id").limit(k).collect()
        for row in pad:
            if len(picked) >= k:
                break
            emb = list(row.embedding)
            if emb not in picked:
                picked.append(emb)
    return picked


def _seed_centers(pts: DataFrame) -> list[list[float]]:
    """Literal seed centers = embeddings of vec_id 0..K-1, with the id
    contract asserted: the oracles use ``cid = vec_id`` while the engine
    uses LIST POSITION as the cluster id, so if any vec_id in 0..K-1
    were absent the positional ids would silently shift off the
    oracle's. The testdata generator guarantees dense ids; this guard
    turns a would-be hash mismatch into an immediate error.
    """
    rows = pts.filter(F.col("vec_id") < K).orderBy("vec_id").collect()
    ids = [r.vec_id for r in rows]
    if ids != list(range(K)):
        raise ValueError(
            f"seed centers need vec_id exactly 0..{K - 1}, got {ids}"
        )
    return [list(r.embedding) for r in rows]


_ASSIGN_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
), cent AS (
  SELECT vec_id AS cid, emb AS cvec FROM e WHERE vec_id < {K}
), dist AS (
  SELECT e.vec_id, e.emb, c.cid,
         list_reduce(
           list_prepend(0.0,
             list_transform(generate_series(1, len(e.emb)),
               i -> (e.emb[i] - c.cvec[i]) * (e.emb[i] - c.cvec[i]))),
           (a, b) -> a + b) AS d2
  FROM e CROSS JOIN cent c
), assigned AS (
  SELECT vec_id, emb, cid
  FROM dist
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1
)
SELECT
  CAST(a.cid AS INTEGER) AS cluster_id,
  CAST(i - 1 AS INTEGER) AS pos,
  COUNT(*) AS n_points,
  ROUND(CAST(SUM(CAST(a.emb[i] AS DECIMAL(18,9))) AS DOUBLE)
    / COUNT(*), 6) AS mean_val
FROM assigned a, unnest(generate_series(1, len(a.emb))) AS t(i)
GROUP BY a.cid, i
"""


@register("kmeans_assign", oracle=_ASSIGN_ORACLE, tags=("vector", "llm", "agg"))
def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One oracle-checked Lloyd step: fixed deterministic centers (the
    embeddings of vec_id 0..K-1) → argmin assignment → per-cluster
    per-dimension exact-decimal means. ``kmeans_clusters`` itself stays
    rows-only (driver-coordinated iteration), but this hash-matches the
    step every iteration is made of — the same treatment pagerank gives
    its supersteps via unrolled CTEs.

    Cross-engine determinism of the argmin: d2 is a left fold from 0.0
    over per-dimension squared diffs — bit-identical IEEE operation
    order on both engines (DuckDB ``list_reduce(list_prepend(0.0, …))``
    mirrors ``F.aggregate(…, lit(0.0), +)``) — and ties break toward
    the lowest center id on both sides.

    Scale shape: identical to the production Lloyd iteration — centers
    are k×dim literals in a NARROW projection (no crossJoin of points
    with centers, no shuffle for assignment), then ONE hash-agg keyed by
    (cluster, dimension); the k-row center collect is the same tiny
    driver pull kmeans_clusters performs per iteration.
    """
    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", VX.as_double("embedding").alias("embedding")
    )
    centers = _seed_centers(e)
    d = _dists(centers)
    assigned = e.select(
        (F.array_position(d, F.array_min(d)) - 1).cast("int").alias("cluster_id"),
        "embedding",
    )
    return (
        assigned.select("cluster_id", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("cluster_id", "pos")
        .agg(
            F.count("*").alias("n_points"),
            F.round(
                F.sum(F.col("val").cast("decimal(18,9)")).cast("double")
                / F.count("*"),
                6,
            ).alias("mean_val"),
        )
    )


_LLOYD2_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
), cent0 AS (
  SELECT vec_id AS cid, emb AS cvec FROM e WHERE vec_id < {K}
), dist1 AS (
  SELECT e.vec_id, e.emb, c.cid,
         list_reduce(
           list_prepend(0.0,
             list_transform(generate_series(1, len(e.emb)),
               i -> (e.emb[i] - c.cvec[i]) * (e.emb[i] - c.cvec[i]))),
           (a, b) -> a + b) AS d2
  FROM e CROSS JOIN cent0 c
), assigned1 AS (
  SELECT vec_id, emb, cid
  FROM dist1
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1
), newc AS (
  SELECT cid, list(mean_val ORDER BY pos) AS cvec
  FROM (
    SELECT a.cid, i AS pos,
           CAST(SUM(CAST(a.emb[i] AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)
             AS mean_val
    FROM assigned1 a, unnest(generate_series(1, len(a.emb))) AS t(i)
    GROUP BY a.cid, i
  ) GROUP BY cid
), cent1 AS (  -- empty clusters keep their previous center
  SELECT c0.cid, COALESCE(n.cvec, c0.cvec) AS cvec
  FROM cent0 c0 LEFT JOIN newc n ON c0.cid = n.cid
), dist2 AS (
  SELECT e.vec_id, e.emb, c.cid,
         list_reduce(
           list_prepend(0.0,
             list_transform(generate_series(1, len(e.emb)),
               i -> (e.emb[i] - c.cvec[i]) * (e.emb[i] - c.cvec[i]))),
           (a, b) -> a + b) AS d2
  FROM e CROSS JOIN cent1 c
), assigned2 AS (
  SELECT vec_id, emb, cid
  FROM dist2
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1
)
SELECT
  CAST(a.cid AS INTEGER) AS cluster_id,
  CAST(i - 1 AS INTEGER) AS pos,
  COUNT(*) AS n_points,
  ROUND(CAST(SUM(CAST(a.emb[i] AS DECIMAL(18,9))) AS DOUBLE)
    / COUNT(*), 6) AS mean_val
FROM assigned2 a, unnest(generate_series(1, len(a.emb))) AS t(i)
GROUP BY a.cid, i
"""


@register("kmeans_lloyd2", oracle=_LLOYD2_ORACLE, tags=("vector", "llm", "agg"))
def kmeans_lloyd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO oracle-checked Lloyd iterations unrolled from literal seed
    centers (embeddings of vec_id 0..K-1): assign → recompute centers →
    reassign → per-cluster per-dimension means. Extends
    ``kmeans_assign`` (one step) the way pagerank's unrolled-CTE oracle
    covers its supersteps, closing the verification gap on the full
    iterative loop: ``kmeans_clusters`` is exactly this step composed n
    times, so a hash-match here checks the loop body INCLUDING the
    center-feedback path that a single step can't see.

    Cross-engine determinism: iteration-1 centers are exact-decimal
    sums divided by counts — one IEEE double division with identical
    operands on both engines, so the fed-back centers are bit-identical
    without rounding; d2 folds from 0.0 in identical order; argmin ties
    break toward the lowest center id; empty clusters carry their
    previous center forward on both sides.

    Scale shape: per iteration, one narrow literal-centers projection
    (no point-center shuffle) + one (cluster, dim)-keyed hash-agg with
    map-side partials; between iterations only k×dim doubles cross the
    driver. Identical to the production ``kmeans_clusters`` loop body.
    """
    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", VX.as_double("embedding").alias("embedding")
    )
    # Two narrow passes over the points (assign@seed → means; final
    # plan) — worth one in-memory persist even at this scale; the
    # production loop (kmeans_clusters) does the same.
    pts = e.persist()
    seeds = _seed_centers(pts)

    def lloyd_means(centers: list[list[float]]) -> DataFrame:
        d = _dists(centers)
        assigned = pts.select(
            (F.array_position(d, F.array_min(d)) - 1)
            .cast("int")
            .alias("cluster_id"),
            "embedding",
        )
        return (
            assigned.select(
                "cluster_id", F.posexplode("embedding").alias("pos", "val")
            )
            .groupBy("cluster_id", "pos")
            .agg(
                F.count("*").alias("n_points"),
                (
                    F.sum(F.col("val").cast("decimal(18,9)")).cast("double")
                    / F.count("*")
                ).alias("mean_val"),
            )
        )

    # iteration 1: collect the k×dim new centers (tiny driver pull)
    new = {}
    for row in lloyd_means(seeds).collect():
        new.setdefault(row.cluster_id, {})[row.pos] = row.mean_val
    cent1 = [
        [new[cid][p] for p in sorted(new[cid])] if cid in new else seeds[cid]
        for cid in range(len(seeds))
    ]
    # iteration 2: same step from the fed-back centers, rounded output
    out = lloyd_means(cent1)
    pts.unpersist()
    return out.select(
        "cluster_id",
        "pos",
        "n_points",
        F.round("mean_val", 6).alias("mean_val"),
    )


def _lloyd_unrolled_oracle(n_iters: int) -> str:
    """Oracle for n_iters Lloyd iterations from the vec_id<K seed
    centers, fully unrolled as a CTE chain (dist_i → assigned_i →
    newc_i → cent_i, feeding cent_i into dist_{i+1}) — the pagerank
    unrolled-CTE trick applied to k-means. Centers between iterations
    are exact-decimal means cast to double (identical operands on both
    engines, no rounding), so the fed-back values are bit-identical.
    """
    d2 = (
        "list_reduce(\n"
        "           list_prepend(0.0,\n"
        "             list_transform(generate_series(1, len(e.emb)),\n"
        "               i -> (e.emb[i] - c.cvec[i]) * (e.emb[i] - c.cvec[i]))),\n"
        "           (a, b) -> a + b)"
    )
    parts = [
        "WITH e AS (",
        "  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings",
        "), cent0 AS (",
        f"  SELECT vec_id AS cid, emb AS cvec FROM e WHERE vec_id < {K}",
        ")",
    ]
    for i in range(1, n_iters + 1):
        parts.append(
            f", dist{i} AS (\n"
            f"  SELECT e.vec_id, e.emb, c.cid, {d2} AS d2\n"
            f"  FROM e CROSS JOIN cent{i - 1} c\n"
            f"), assigned{i} AS (\n"
            f"  SELECT vec_id, emb, cid FROM dist{i}\n"
            f"  QUALIFY row_number() OVER"
            f" (PARTITION BY vec_id ORDER BY d2, cid) = 1\n"
            f")"
        )
        if i < n_iters:  # last assignment feeds the output, not a center
            parts.append(
                f", newc{i} AS (\n"
                f"  SELECT cid, list(mean_val ORDER BY pos) AS cvec FROM (\n"
                f"    SELECT a.cid, i AS pos,\n"
                f"           CAST(SUM(CAST(a.emb[i] AS DECIMAL(18,9)))"
                f" AS DOUBLE) / COUNT(*) AS mean_val\n"
                f"    FROM assigned{i} a,"
                f" unnest(generate_series(1, len(a.emb))) AS t(i)\n"
                f"    GROUP BY a.cid, i\n"
                f"  ) GROUP BY cid\n"
                f"), cent{i} AS (\n"
                f"  SELECT c0.cid, COALESCE(n.cvec, c0.cvec) AS cvec\n"
                f"  FROM cent{i - 1} c0 LEFT JOIN newc{i} n ON c0.cid = n.cid\n"
                f")"
            )
    parts.append(
        f"""
SELECT
  CAST(a.cid AS INTEGER) AS cluster_id,
  CAST(i - 1 AS INTEGER) AS pos,
  COUNT(*) AS n_points,
  ROUND(CAST(SUM(CAST(a.emb[i] AS DECIMAL(18,9))) AS DOUBLE)
    / COUNT(*), 6) AS mean_val
FROM assigned{n_iters} a, unnest(generate_series(1, len(a.emb))) AS t(i)
GROUP BY a.cid, i"""
    )
    return "\n".join(parts)


@register(
    "kmeans_lloyd5",
    oracle=_lloyd_unrolled_oracle(ITERATIONS),
    tags=("vector", "llm", "agg"),
)
def kmeans_lloyd5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIVE oracle-checked Lloyd iterations unrolled from the literal
    seed centers — the full ``ITERATIONS`` count ``kmeans_clusters``
    runs, so the production loop body is now hash-verified at its
    actual depth (``kmeans_assign`` = 1 step, ``kmeans_lloyd2`` = 2;
    this closes the ladder: ``kmeans_clusters`` differs only in its
    k-means|| seeding). The oracle is generated by
    ``_lloyd_unrolled_oracle`` — a dist/assign/recenter CTE block per
    iteration, empty clusters carrying their center forward.

    Cross-engine determinism: identical to kmeans_lloyd2 — exact-
    decimal center means (one IEEE division, identical operands), d2
    folded from 0.0 in identical order, argmin ties to the lowest cid,
    output means rounded at 6 dp only at the end.

    Scale shape: per iteration one narrow literal-centers projection
    plus one (cluster, dim)-keyed map-side-combinable hash-agg; only
    k×dim doubles cross the driver between iterations; the point set
    is persisted once across all five passes.
    """
    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", VX.as_double("embedding").alias("embedding")
    )
    pts = e.persist()
    centers = _seed_centers(pts)

    def lloyd_means(cs: list[list[float]]) -> DataFrame:
        d = _dists(cs)
        return (
            pts.select(
                (F.array_position(d, F.array_min(d)) - 1)
                .cast("int")
                .alias("cluster_id"),
                "embedding",
            )
            .select("cluster_id", F.posexplode("embedding").alias("pos", "val"))
            .groupBy("cluster_id", "pos")
            .agg(
                F.count("*").alias("n_points"),
                (
                    F.sum(F.col("val").cast("decimal(18,9)")).cast("double")
                    / F.count("*")
                ).alias("mean_val"),
            )
        )

    for _ in range(ITERATIONS - 1):
        new: dict[int, dict[int, float]] = {}
        for row in lloyd_means(centers).collect():
            new.setdefault(row.cluster_id, {})[row.pos] = row.mean_val
        centers = [
            [new[cid][p] for p in sorted(new[cid])]
            if cid in new
            else centers[cid]
            for cid in range(len(centers))
        ]
    out = lloyd_means(centers)
    pts.unpersist()
    return out.select(
        "cluster_id",
        "pos",
        "n_points",
        F.round("mean_val", 6).alias("mean_val"),
    )


# Iterative clustering over the embeddings table: distributed k-means
# as a driver-coordinated Spark loop, with deterministic k-means||
# (scalable k-means++) initialization.
#
# SQL can't express the fixed-point iteration (the oracle harness
# records a rows-only check; pytest asserts determinism, inertia
# monotonicity and cluster integrity instead), but every step inside an
# iteration is declarative DataFrame algebra, so the loop scales the way
# MLlib's own implementation does:
#
# - centers live on the driver and enter the plan as LITERAL arrays
#   (k x dim doubles — tiny), so assignment is a NARROW projection:
#   ``array_min(transform(centers, c -> sq_dist(x, c)))`` — no
#   crossJoin, no per-point shuffle, no window;
# - the update is one partial+final aggregation keyed by
#   (cluster, dimension) — n*dim rows combine map-side down to k*dim;
# - each Lloyd iteration is exactly ONE Spark job (collect the k*dim
#   new centroid values), not a checkpoint cascade.
#
# Initialization is k-means|| (Bahmani et al., VLDB 2012) made
# deterministic: per-round oversampling keeps point x iff
# ``u(x, round) < L * d2(x) / total``, where u is a hash-derived uniform
# (xxhash64 — no RNG state), d2 the squared distance to the nearest
# current center, and total an EXACT decimal sum (double-sum order
# jitter could flip a boundary point between runs). The candidate set
# (~L per round) is weighted by cluster population and reduced to K on
# the driver with a greedy farthest-point pass — no randomness anywhere,
# so results are bit-identical across runs and partitionings.
#
# Determinism: hash-thresholded sampling, exact-decimal totals and
# centroid means, argmin ties broken toward the lowest cluster id
# (array_position returns the FIRST index attaining the min).
@register("kmeans_clusters", oracle=None, tags=("vector", "llm", "iterative"))
def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (k=8, k-means|| init, 5 Lloyd iterations) over the
    embeddings table; returns (vec_id, cluster_id, sq_dist rounded to
    6dp). See the notes above for the scale shape; no SQL oracle
    (iterative), the driver records rows-only and
    tests/test_clustering.py asserts the semantics.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    # Row-aware parallelism: ~15 tiny driver-coordinated jobs run over
    # the cached points, so scheduling cost scales with partition count
    # — blanket fan_out(32) at sf0.1 (2000 rows) spent more time
    # scheduling 32 tasks x 15 jobs than computing (A/B: 32 parts
    # 9.6 s, 4 parts 3.5 s). n comes from parquet row-group metadata
    # (count of an unprojected scan — no data read); at 100 TB
    # n/4096 >> cores, so this caps at full cluster parallelism.
    n_rows = emb.count()
    parallelism = spark.sparkContext.defaultParallelism
    n_parts = max(1, min(parallelism, n_rows // 4096))
    pts = (
        emb.select("vec_id", VX.as_double("embedding").alias("embedding"))
        # Persist across init + Lloyd iterations: every round re-reads
        # the full point set (~9 passes total), so without this each
        # pass re-scans parquet and re-runs the double conversion; at
        # 100 TB an uncached iterative re-scan is the dominant cost.
        # MEMORY_AND_DISK: partitions that don't fit spill instead of
        # being recomputed.
        .repartition(n_parts)
        .persist()
    )
    centers = _kmeans_parallel_init(pts, K)
    for _ in range(ITERATIONS):
        d = _dists(centers)
        assigned = pts.select(
            "vec_id",
            "embedding",
            (F.array_position(d, F.array_min(d)) - 1).cast("int").alias("cluster_id"),
        )
        rows = (
            assigned.select("cluster_id", F.posexplode("embedding").alias("pos", "val"))
            .groupBy("cluster_id", "pos")
            .agg(
                (
                    F.sum(F.col("val").cast("decimal(18,9)")).cast("double")
                    / F.count("*")
                ).alias("cval")
            )
            .collect()
        )
        new_centers = [list(c) for c in centers]  # empty cluster keeps its center
        by_cluster: dict[int, dict[int, float]] = {}
        for row in rows:
            by_cluster.setdefault(row.cluster_id, {})[row.pos] = row.cval
        for cid, dims in by_cluster.items():
            new_centers[cid] = [dims[p] for p in sorted(dims)]
        centers = new_centers
    d = _dists(centers)
    return pts.select(
        "vec_id",
        (F.array_position(d, F.array_min(d)) - 1).cast("int").alias("cluster_id"),
        F.round(F.array_min(d), 6).alias("sq_dist"),
    )


# ---------------------------------------------------------------------------
# SQ8 scalar-quantized ANN: quantized first pass, exact re-rank
# ---------------------------------------------------------------------------

# Quantization grid: per-dimension global [min, max] split into 256
# bins; a vector is stored as one uint8 code per dimension (4x smaller
# than float32, 8x smaller than float64). The first-pass score uses the
# bin-center reconstruction; the final top-k is re-ranked with exact
# cosine. Both engines evaluate the SAME IEEE expression order:
#   code   = least(255, greatest(0, floor((x - mn) * 256.0 / width)))
#   approx = mn + (code + 0.5) * width / 256.0

_SQ8_ORACLE = """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
), cent AS (
  SELECT label, list(centroid_val ORDER BY pos) AS cvec
  FROM (
    SELECT e.label, i AS pos,
           CAST(SUM(CAST(e.emb[i] AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)
             AS centroid_val
    FROM e, unnest(generate_series(1, len(e.emb))) AS t(i)
    GROUP BY e.label, i
  )
  GROUP BY label
), stats AS (
  SELECT i AS pos, MIN(emb[i]) AS mn, MAX(emb[i]) AS mx
  FROM e, unnest(generate_series(1, len(emb))) AS t(i)
  GROUP BY i
), grid AS (
  SELECT list(mn ORDER BY pos) AS mn_arr, list(mx ORDER BY pos) AS mx_arr
  FROM stats
), deq AS (
  SELECT e.vec_id, e.label, e.emb,
    list_transform(generate_series(1, len(e.emb)), i ->
      CASE WHEN g.mx_arr[i] - g.mn_arr[i] = 0 THEN g.mn_arr[i]
           ELSE g.mn_arr[i]
                + (LEAST(255, GREATEST(0,
                     FLOOR((e.emb[i] - g.mn_arr[i]) * 256.0
                           / (g.mx_arr[i] - g.mn_arr[i])))) + 0.5)
                  * (g.mx_arr[i] - g.mn_arr[i]) / 256.0
      END) AS deq
  FROM e CROSS JOIN grid g
), probe AS (
  SELECT q.vec_id AS query_id, q.emb AS q_emb, c.label AS probe_label
  FROM e q CROSS JOIN cent c
  WHERE q.vec_id % 100 = 0
  QUALIFY row_number() OVER (
    PARTITION BY q.vec_id
    ORDER BY list_dot_product(q.emb, c.cvec)
               / nullif(sqrt(list_dot_product(q.emb, q.emb))
                        * sqrt(list_dot_product(c.cvec, c.cvec)), 0.0) DESC,
             c.label
  ) = 1
), approx AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         p.q_emb, c.emb AS c_emb,
         list_dot_product(p.q_emb, c.deq)
           / nullif(sqrt(list_dot_product(p.q_emb, p.q_emb))
                    * sqrt(list_dot_product(c.deq, c.deq)), 0.0) AS approx_sim
  FROM probe p
  JOIN deq c ON c.label = p.probe_label AND c.vec_id <> p.query_id
  QUALIFY row_number() OVER (
    PARTITION BY p.query_id ORDER BY approx_sim DESC, c.vec_id) <= 10
)
SELECT query_id, neighbor_id,
       list_dot_product(q_emb, c_emb)
         / nullif(sqrt(list_dot_product(q_emb, q_emb))
                  * sqrt(list_dot_product(c_emb, c_emb)), 0.0) AS cos_sim
FROM approx
QUALIFY row_number() OVER (
  PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) <= 3
"""


@register("embedding_sq8_topk", oracle=_SQ8_ORACLE, tags=("vector", "llm"))
def embedding_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + SQ8 ANN: the coarse quantizer (per-label centroids, as in
    ``embedding_ivf_topk``) assigns each query to its nearest inverted
    list (nprobe=1); inside the probed list the first-pass similarity
    scans bin-center reconstructions of uint8 codes — 4-8x less memory
    bandwidth than raw floats — keeps top-10, then re-ranks with exact
    cosine to top-3. This is the standard composition: IVF prunes the
    candidate set to |list|, SQ8 compresses the within-list scan.

    (The previous standalone form SQ8-scored every (query, corpus) pair
    — O(n·queries) regardless of compression; the round-2 scale smoke
    measured 5.7x wall at 10x data. Composed with IVF pruning the
    per-query work is |list|, not n.)

    Scale shape: centroids and the quantization grid are tiny broadcast
    aggregates (one pass each); codes are computed scan-side; the probed
    list id is the candidate-join key, so lists can be partition keys of
    the embedding table at 100 TB. Cross-engine: identical IEEE
    expression order both sides, so ranking and values hash-match.
    """

    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", VX.as_double("embedding").alias("emb")
    )
    # Coarse quantizer: element-wise exact-decimal centroid per label.
    cent = (
        e.select("label", F.posexplode("emb").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            (F.sum(F.col("val").cast("decimal(18,9)")).cast("double") / F.count("*"))
            .alias("centroid_val")
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "centroid_val"))),
                lambda s: s["centroid_val"],
            ).alias("cvec")
        )
    )
    # SQ8 grid: per-dimension global [min, max], one agg pass.
    stats = (
        e.select(F.posexplode("emb").alias("pos0", "val"))
        .groupBy("pos0")
        .agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
    )
    grid = stats.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos0", "mn"))), lambda s: s["mn"]
        ).alias("mn_arr"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos0", "mx"))), lambda s: s["mx"]
        ).alias("mx_arr"),
    )

    def dequant(emb: F.Column) -> F.Column:
        # zip (x, mn) then (partial, mx): two zip_withs stand in for a
        # 3-ary zip; the arithmetic mirrors the oracle token-for-token.
        x_mn = F.zip_with(emb, F.col("mn_arr"), lambda x, mn: F.struct(
            x.alias("x"), mn.alias("mn")
        ))
        return F.zip_with(
            x_mn,
            F.col("mx_arr"),
            lambda s, mx: F.when(mx - s["mn"] == 0, s["mn"]).otherwise(
                s["mn"]
                + (
                    F.least(
                        F.lit(255.0),
                        F.greatest(
                            F.lit(0.0),
                            F.floor(
                                (s["x"] - s["mn"]) * 256.0 / (mx - s["mn"])
                            ),
                        ),
                    )
                    + 0.5
                )
                * (mx - s["mn"])
                / 256.0
            ),
        )

    deq = fan_out(e).crossJoin(F.broadcast(grid)).select(
        "vec_id", "label", "emb", dequant(F.col("emb")).alias("deq")
    )
    # nprobe=1 list assignment per query against the broadcast codebook.
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        VX.cosine("q_emb", "cvec").desc(), F.col("label")
    )
    probe = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("rn", F.row_number().over(probe_w))
        .filter(F.col("rn") == 1)
        .select("query_id", "q_emb", F.col("label").alias("probe_label"))
    )
    c = deq.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("c_label"),
        F.col("emb").alias("c_emb"),
        F.col("deq").alias("c_deq"),
    )
    approx_sim = VX.dot("q_emb", "c_deq") / F.nullif(
        F.sqrt(VX.dot("q_emb", "q_emb")) * F.sqrt(VX.dot("c_deq", "c_deq")),
        F.lit(0.0),
    )
    w10 = Window.partitionBy("query_id").orderBy(
        F.col("approx_sim").desc(), F.col("neighbor_id")
    )
    shortlist = (
        c.join(
            F.broadcast(probe),
            (F.col("c_label") == F.col("probe_label"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select("query_id", "neighbor_id", "q_emb", "c_emb", approx_sim.alias("approx_sim"))
        .withColumn("rn", F.row_number().over(w10))
        .filter(F.col("rn") <= 10)
    )
    w3 = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        shortlist.select(
            "query_id",
            "neighbor_id",
            VX.cosine("q_emb", "c_emb").alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w3))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Asymmetric containment (sub-document duplication)
# ---------------------------------------------------------------------------

_CONTAINMENT_MAX_DF = 50

_CONTAINMENT_ORACLE = rf"""
WITH rep AS (
  SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text
), tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM rep
), feat AS (
  SELECT doc_id,
    CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(
      generate_series(0, len(toks)-3), i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
    ELSE [] END AS feats
  FROM tok
), ex AS (
  SELECT doc_id, unnest(feats) AS f FROM feat
), ex_inf AS (
  SELECT doc_id, f FROM ex
  QUALIFY COUNT(*) OVER (PARTITION BY f) <= {_CONTAINMENT_MAX_DF}
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM ex_inf GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM ex_inf a JOIN ex_inf b ON a.f = b.f AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT
  s.doc_a, s.doc_b,
  CAST(s.n_shared AS DOUBLE) / CAST(sa.n AS DOUBLE) AS containment_a,
  CAST(s.n_shared AS DOUBLE) / CAST(sb.n AS DOUBLE) AS containment_b
FROM shared s
JOIN sizes sa ON s.doc_a = sa.doc_id
JOIN sizes sb ON s.doc_b = sb.doc_id
WHERE s.n_shared >= 5
"""


@register(
    "shingle_containment_pairs", oracle=_CONTAINMENT_ORACLE, tags=("dedup", "llm")
)
def shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment mining: |A∩B|/|A| and |A∩B|/|B| over
    informative trigram shingles — catches SUB-document duplication
    (a page quoting another wholesale) that symmetric Jaccard
    underweights: a small doc fully contained in a big one has high
    containment_a but low Jaccard. Same inverted-index shape, rep
    collapse and stop-shingle df cap as jaccard_shingle_pairs.
    """

    feats = _rep_features(spark, sf_dir)
    # Shingles are pure EQUALITY keys downstream (df cap, self-join,
    # pair count) and never reach the output — shuffle 8-byte xxhash64
    # digests instead of raw trigram strings (collision-safe at 64
    # bits; the string-keyed oracle is the collision check).
    ex = (
        feats.select("doc_id", F.explode("feats").alias("f"))
        .select("doc_id", F.xxhash64("f").alias("f"))
        .persist()
    )
    # df-cap and doc sizes as WINDOWS, not groupBy+join — and na/nb as
    # group keys determined by doc_a/doc_b (same r12 restructure and
    # rationale as jaccard_shingle_pairs: the old
    # spelling's three join build sides all grow with the corpus and
    # rode Generate-blind static estimates into broadcasts).
    w_f = Window.partitionBy("f")
    w_doc = Window.partitionBy("doc_id")
    # stats-barriered self-join (r13, replacing the r12 merge hint):
    # static stays SMJ, AQE's size-measured runtime BHJ conversion is
    # free again (see sources/io.stats_barrier).
    ex_inf = stats_barrier(
        ex.withColumn("df", F.count("*").over(w_f))
        .filter(F.col("df") <= _CONTAINMENT_MAX_DF)
        .withColumn("n", F.count("*").over(w_doc))
        .select("doc_id", "f", "n")
        .persist()
    )
    a = ex_inf.alias("a")
    b = ex_inf.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.f") == F.col("b.f"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 5)
    )
    return shared.select(
        "doc_a",
        "doc_b",
        (F.col("n_shared").cast("double") / F.col("na").cast("double")).alias(
            "containment_a"
        ),
        (F.col("n_shared").cast("double") / F.col("nb").cast("double")).alias(
            "containment_b"
        ),
    )


# ---------------------------------------------------------------------------
# Boilerplate chunk removal (line-level dedup)
# ---------------------------------------------------------------------------

# CCNet/RefinedWeb-style line-level dedup: a segment whose exact content
# recurs across >= _BOILER_DF distinct documents is boilerplate (nav
# bars, cookie banners, license headers) and is dropped from every
# document. This corpus is single-line, so segmentation falls back to
# fixed 10-token windows; with real multi-line text the segmenter is
# split(text, '\n') and everything downstream is unchanged.
_BOILER_DF = 3

_CHUNK = 10

_BOILER_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
), ch AS (
  SELECT doc_id, i AS idx,
         array_to_string(toks[i*{_CHUNK}+1:i*{_CHUNK}+{_CHUNK}], ' ') AS chunk
  FROM tok,
       unnest(generate_series(0,
         CAST(ceil(len(toks)/{_CHUNK}.0) AS INT)-1)) AS t(i)
), dfc AS (
  SELECT chunk, COUNT(DISTINCT doc_id) AS d FROM ch GROUP BY chunk
), fl AS (
  SELECT c.doc_id, c.idx, c.chunk, dfc.d >= {_BOILER_DF} AS boiler
  FROM ch c JOIN dfc USING (chunk)
)
SELECT doc_id,
  CAST(COUNT(*) AS INTEGER) AS n_chunks,
  CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS INTEGER) AS n_boilerplate,
  -- COALESCE: when EVERY chunk is boilerplate the filtered list() agg
  -- is NULL in DuckDB while Spark's array_join over an empty
  -- collect_list is '' — a doc fully made of boilerplate first occurs
  -- at sf0.1 (r9 full-registry sf0.1 sweep finding).
  COALESCE(array_to_string(list(chunk ORDER BY idx) FILTER (NOT boiler), ' '),
           '') AS clean_text
FROM fl GROUP BY doc_id
"""


@register(
    "boilerplate_chunk_removal", oracle=_BOILER_ORACLE, tags=("dedup", "llm", "text")
)
def boilerplate_chunk_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level (chunk-level) boilerplate removal: segments recurring
    verbatim in >= 3 distinct documents are dropped from every document
    and the cleaned text reassembled in original order — the CCNet-style
    dedup stage that removes nav bars / banners / license headers
    without discarding whole documents.

    Scale shape: one explode + one hash-agg keyed by chunk content
    (df count), one join back on the chunk key (both sides partitioned
    by it), one per-doc agg. Chunk df is bounded by corpus size, never
    quadratic; the rebuild is collect_list + array_sort per doc —
    bounded by document length.
    """

    d = fan_out(read_table(spark, sf_dir, "documents").select("doc_id", "text"))

    # Let-bind the token array (TX._let): referenced inside the
    # per-chunk transform lambda, an inline tokens("text") would be
    # re-split once per emitted chunk — O(len × chunks) per doc.
    def chunks_of(toks):
        n_chunks = F.ceil(F.size(toks) / F.lit(float(_CHUNK))).cast("int")
        body = F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(
                F.slice(toks, i * _CHUNK + 1, _CHUNK), " "
            ),
        )
        # guard: sequence(0, -1) counts DOWN in Spark; zero-token docs
        # cannot occur (split always yields >= 1 token) but stay safe
        return F.when(n_chunks > 0, body).otherwise(
            F.array().cast("array<string>")
        )

    chunks = TX._let(TX.tokens("text"), chunks_of)
    ex = d.select("doc_id", F.posexplode(chunks).alias("idx", "chunk"))
    dfc = ex.groupBy("chunk").agg(
        F.countDistinct("doc_id").alias("d")
    )
    fl = ex.join(dfc, "chunk").withColumn("boiler", F.col("d") >= _BOILER_DF)
    return fl.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_chunks"),
        F.sum(F.col("boiler").cast("int")).cast("int").alias("n_boilerplate"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~F.col("boiler"), F.struct("idx", "chunk"))
                    )
                ),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# IVF + PQ (product quantization) ANN
# ---------------------------------------------------------------------------

_PQ_M = 8  # subspaces

_PQ_SUB = 8  # dims per subspace (8 x 8 = 64)

_PQ_K = 16  # codewords per subspace (codebook: embeddings of vec_id < 16)


def _sql_pq_dists(m: str) -> str:
    """DuckDB: per-codeword squared distance of e.emb's m-th subvector
    to each codeword — a left fold from 0.0 (identical IEEE order to
    the Spark ``aggregate`` spelling)."""
    term = f"(e.emb[{m}*{_PQ_SUB}+j] - cb.cbm[{m}+1][k][j])"
    return (
        f"list_transform(generate_series(1, {_PQ_K}), k -> "
        f"list_reduce(list_prepend(0.0, "
        f"list_transform(generate_series(1, {_PQ_SUB}), j -> {term} * {term})), "
        f"(a, b) -> a + b))"
    )


_PQ_DEQ_SQL = (
    f"flatten(list_transform(generate_series(0, {_PQ_M - 1}), m -> "
    f"cb.cbm[m+1][list_position({_sql_pq_dists('m')}, "
    f"list_min({_sql_pq_dists('m')}))]))"
)

_PQ_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
), cbrows AS (
  SELECT m, e.vec_id AS k,
         list_transform(generate_series(1, {_PQ_SUB}), j -> e.emb[m*{_PQ_SUB}+j])
           AS sub
  FROM e, unnest(generate_series(0, {_PQ_M - 1})) AS t(m)
  WHERE e.vec_id < {_PQ_K}
), cb AS (
  SELECT list(subs ORDER BY m) AS cbm FROM (
    SELECT m, list(sub ORDER BY k) AS subs FROM cbrows GROUP BY m
  )
), cent AS (
  SELECT label, list(centroid_val ORDER BY pos) AS cvec
  FROM (
    SELECT e.label, i AS pos,
           CAST(SUM(CAST(e.emb[i] AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)
             AS centroid_val
    FROM e, unnest(generate_series(1, len(e.emb))) AS t(i)
    GROUP BY e.label, i
  )
  GROUP BY label
), deq AS (
  SELECT e.vec_id, e.label, e.emb, {_PQ_DEQ_SQL} AS deq
  FROM e CROSS JOIN cb
), probe AS (
  SELECT q.vec_id AS query_id, q.emb AS q_emb, c.label AS probe_label
  FROM e q CROSS JOIN cent c
  WHERE q.vec_id % 100 = 0
  QUALIFY row_number() OVER (
    PARTITION BY q.vec_id
    ORDER BY list_dot_product(q.emb, c.cvec)
               / nullif(sqrt(list_dot_product(q.emb, q.emb))
                        * sqrt(list_dot_product(c.cvec, c.cvec)), 0.0) DESC,
             c.label
  ) = 1
), approx AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         p.q_emb, c.emb AS c_emb,
         list_dot_product(p.q_emb, c.deq)
           / nullif(sqrt(list_dot_product(p.q_emb, p.q_emb))
                    * sqrt(list_dot_product(c.deq, c.deq)), 0.0) AS approx_sim
  FROM probe p
  JOIN deq c ON c.label = p.probe_label AND c.vec_id <> p.query_id
  QUALIFY row_number() OVER (
    PARTITION BY p.query_id ORDER BY approx_sim DESC, c.vec_id) <= 10
)
SELECT query_id, neighbor_id,
       list_dot_product(q_emb, c_emb)
         / nullif(sqrt(list_dot_product(q_emb, q_emb))
                  * sqrt(list_dot_product(c_emb, c_emb)), 0.0) AS cos_sim
FROM approx
QUALIFY row_number() OVER (
  PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) <= 3
"""


def _spark_pq_dists(m: str) -> str:
    """Spark-SQL twin of _sql_pq_dists (element_at is 1-based, matching
    DuckDB list indexing; the fold starts at 0.0D)."""
    cw = f"element_at(element_at(element_at(cbm, {m}+1), k), j)"
    term = f"(element_at(emb, {m}*{_PQ_SUB}+j) - {cw})"
    return (
        f"transform(sequence(1, {_PQ_K}), k -> "
        f"aggregate(sequence(1, {_PQ_SUB}), 0.0D, (acc, j) -> "
        f"acc + {term} * {term}))"
    )


# The per-subspace distance array is let-bound (functions/text.py
# _let, spelled in SQL text: transform(array(e), d -> body)[0]) so the
# K x SUB fold runs ONCE per (row, m) instead of twice — Catalyst has
# no common-subexpression elimination inside higher-order-function
# lambdas, and array_position(dists, array_min(dists)) mentions the
# fold twice. Values, argmin, and first-index tie-break are
# bit-identical to the unbound spelling (same fold, same IEEE order).
# Measured on a 100k-row replicated embeddings frame: 7.1-7.4 s ->
# 3.7-4.5 s (~1.9x) — the per-row win that dominates at scale. The
# sf0.1 COLD number barely moves (2.43 -> 2.29 best-of-3) because at
# 2k rows the query is driver-overhead-bound: codegen + the
# 1024-literal codebook parse + 5 distinct job compilations (~1.5-2 s
# of the cold total), which is also why its calibration-normalized
# bench drifts with single-core host speed while scan-bound queries
# don't (round-11 pq_topk drift adjudication, SCALE_NOTES).
_PQ_DEQ_SPARK = (
    f"flatten(transform(sequence(0, {_PQ_M - 1}), m -> "
    f"transform(array({_spark_pq_dists('m')}), d -> "
    f"element_at(element_at(cbm, m+1), "
    f"cast(array_position(d, array_min(d)) as int)))[0]))"
)


@register("embedding_pq_topk", oracle=_PQ_ORACLE, tags=("vector", "llm"))
def embedding_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ (product quantization) ANN: each vector is encoded as
    {M} uint4-scale codes — one per {SUB}-dim subspace, the nearest of
    {K} codewords (here the subvectors of the first {K} embeddings; a
    trained codebook at scale) — and the first-pass similarity scans
    codeword reconstructions, 8-64x smaller than raw floats. The coarse
    quantizer (per-label centroids, nprobe=1) prunes candidates to the
    probed inverted list first; exact cosine re-ranks top-10 → top-3.
    Completes the ANN family: brute (exactness baseline), sign-LSH,
    IVF, IVF+SQ8 (per-dim grid), IVF+PQ (subspace codebooks).

    Cross-engine determinism: codeword assignment is an argmin over
    left-fold-from-0.0 squared distances with first-index tie-break —
    bit-identical on both engines (the kmeans_assign pattern, per
    subspace); the codebook enters the Spark plan as ONE parsed SQL
    literal (k-means' py4j lesson) while the oracle rebuilds it from
    the same rows.

    Scale shape: codebook and centroids are tiny broadcast aggregates;
    encoding is scan-side; the candidate join key is the probed list
    id, so lists partition the corpus at 100 TB and the PQ codes (M
    bytes/vector) are what the scan actually reads.
    """

    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", VX.as_double("embedding").alias("emb")
    )
    # Codebook: subvectors of the first K embeddings, as ONE SQL literal
    # (nested per-element lit() calls would be ~1k py4j round-trips).
    cb = [
        list(r.emb)
        for r in e.filter(F.col("vec_id") < _PQ_K).orderBy("vec_id").collect()
    ]
    cb_lit = (
        "array("
        + ",".join(
            "array("
            + ",".join(
                "array("
                + ",".join(
                    f"{float(cb[k][m * _PQ_SUB + j])!r}D" for j in range(_PQ_SUB)
                )
                + ")"
                for k in range(_PQ_K)
            )
            + ")"
            for m in range(_PQ_M)
        )
        + ")"
    )
    cent = (
        e.select("label", F.posexplode("emb").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            (F.sum(F.col("val").cast("decimal(18,9)")).cast("double") / F.count("*"))
            .alias("centroid_val")
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "centroid_val"))),
                lambda s: s["centroid_val"],
            ).alias("cvec")
        )
    )
    deq = (
        fan_out(e)
        .withColumn("cbm", F.expr(cb_lit))
        .select("vec_id", "label", "emb", F.expr(_PQ_DEQ_SPARK).alias("deq"))
    )
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )

    probe_w = Window.partitionBy("query_id").orderBy(
        VX.cosine("q_emb", "cvec").desc(), F.col("label")
    )
    probe = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("rn", F.row_number().over(probe_w))
        .filter(F.col("rn") == 1)
        .select("query_id", "q_emb", F.col("label").alias("probe_label"))
    )
    c = deq.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("c_label"),
        F.col("emb").alias("c_emb"),
        F.col("deq").alias("c_deq"),
    )
    approx_sim = VX.dot("q_emb", "c_deq") / F.nullif(
        F.sqrt(VX.dot("q_emb", "q_emb")) * F.sqrt(VX.dot("c_deq", "c_deq")),
        F.lit(0.0),
    )
    w10 = Window.partitionBy("query_id").orderBy(
        F.col("approx_sim").desc(), F.col("neighbor_id")
    )
    shortlist = (
        c.join(
            F.broadcast(probe),
            (F.col("c_label") == F.col("probe_label"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select(
            "query_id", "neighbor_id", "q_emb", "c_emb",
            approx_sim.alias("approx_sim"),
        )
        .withColumn("rn", F.row_number().over(w10))
        .filter(F.col("rn") <= 10)
    )
    w3 = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        shortlist.select(
            "query_id",
            "neighbor_id",
            VX.cosine("q_emb", "c_emb").alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w3))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


_RECALL_ORACLE = f"""
WITH exact3 AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM embeddings q
  JOIN embeddings c
    ON q.vec_id % 100 = 0 AND q.vec_id < {100 * _TOPK_MAX_QUERIES}
   AND c.vec_id <> q.vec_id
  QUALIFY row_number() OVER (
    PARTITION BY q.vec_id ORDER BY {_SQL_COS} DESC, c.vec_id) <= 3
), approx3 AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM embeddings q
  JOIN embeddings c
    ON q.vec_id % 100 = 0 AND c.vec_id <> q.vec_id
   AND {_SQL_BUCKET.format(side='q')} = {_SQL_BUCKET.format(side='c')}
  QUALIFY row_number() OVER (
    PARTITION BY q.vec_id ORDER BY {_SQL_COS} DESC, c.vec_id) <= 3
)
SELECT e.query_id,
       CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
       ROUND(COUNT(a.neighbor_id) / 3.0, 6) AS recall_at_3
FROM exact3 e
LEFT JOIN approx3 a
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY e.query_id
"""


@register("ann_recall_at_3", oracle=_RECALL_ORACLE, tags=("vector", "llm", "agg"))
def ann_recall_at_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the sign-bit-LSH ANN index against the exact
    brute-force baseline, per query — the quality gate a pipeline runs
    BEFORE switching its retrieval path to an approximate index, and
    re-runs whenever the index is rebuilt. Composes the two registered
    queries (embedding_lsh_topk vs embedding_topk_cosine) so the
    measurement can never drift from what it grades.

    Scale: the exact side is the expensive part, but recall is always
    measured on a bounded QUERY SAMPLE (here vec_id % 100), so the
    brute-force cost is O(sample·n) once per index build, not a
    production path. The overlap join is per-(query, neighbor) on two
    ≤3-row-per-query tables — negligible.
    """


    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    exact3 = (
        embedding_topk_cosine(spark, sf_dir)  # registered exact top-5
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id")
    )
    approx3 = embedding_lsh_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        exact3.join(approx3, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").alias("n_hits"),
            F.round(F.count("hit") / 3.0, 6).alias("recall_at_3"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-snapshot incremental dedup (corpus ingestion gate)
# ---------------------------------------------------------------------------

_XSNAP_ORACLE = r"""
WITH corpus AS (
  SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
    AS norm_hash
  FROM documents WHERE doc_id % 4 <> 0
), incoming AS (
  SELECT doc_id, source,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS norm_hash
  FROM documents WHERE doc_id % 4 = 0
), novel AS (
  SELECT i.* FROM incoming i ANTI JOIN corpus c USING (norm_hash)
)
SELECT doc_id, source, norm_hash
FROM novel
QUALIFY row_number() OVER (PARTITION BY norm_hash ORDER BY doc_id) = 1
"""


@register("dedup_cross_snapshot", oracle=_XSNAP_ORACLE, tags=("dedup", "llm"))
def dedup_cross_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion dedup: an incoming batch (doc_id % 4 = 0
    stands in for today's crawl) is admitted only where its normalized
    content hash (a) does not already exist in the standing corpus
    (LEFT ANTI join on the digest) and (b) is unique within the batch
    (first doc_id wins). This is THE shape of continuous corpus
    building at 100 TB — history is never rescanned per ingest; the
    corpus side reduces to its distinct 16-byte digests (at scale: a
    digest index table maintained incrementally, exactly what
    incremental_agg_merge does for aggregates), the anti join shuffles
    32-byte keys rather than documents, and the within-batch dedup
    windows over the BATCH only.
    """
    d = read_table(spark, sf_dir, "documents")
    h = F.md5(TX.normalized_text("text")).alias("norm_hash")
    corpus = (
        d.filter(F.col("doc_id") % 4 != 0).select(h).distinct()
    )
    incoming = d.filter(F.col("doc_id") % 4 == 0).select("doc_id", "source", h)
    novel = incoming.join(corpus, "norm_hash", "left_anti")

    w = Window.partitionBy("norm_hash").orderBy("doc_id")
    return (
        novel.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source", "norm_hash")
    )


# Exact-top-3 spelling, literally in sync with the bounded brute-force
# baseline (same sampling predicate + id ceiling).
_EXACT3_SQL = f"""
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM embeddings q
  JOIN embeddings c
    ON q.vec_id % 100 = 0 AND q.vec_id < {100 * _TOPK_MAX_QUERIES}
   AND c.vec_id <> q.vec_id
  QUALIFY row_number() OVER (
    PARTITION BY q.vec_id ORDER BY {_SQL_COS} DESC, c.vec_id) <= 3
"""


def _recall_oracle(approx_sql: str) -> str:
    """Recall@3 oracle template: the graded index's OWN registered
    oracle is nested verbatim as the approx side (nested WITH — DuckDB
    scopes it to the CTE), so the gate can never drift from the query
    it grades.
    """
    return f"""
WITH exact3 AS ({_EXACT3_SQL}
), approx_full AS (
  {approx_sql}
), approx3 AS (
  SELECT query_id, neighbor_id FROM approx_full
)
SELECT e.query_id,
       CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
       ROUND(COUNT(a.neighbor_id) / 3.0, 6) AS recall_at_3
FROM exact3 e
LEFT JOIN approx3 a
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY e.query_id
"""


def _recall_vs_exact(
    spark: SparkSession, sf_dir: str, approx: DataFrame
) -> DataFrame:
    """Engine-side recall@3: exact top-3 (sliced from the registered
    bounded brute-force top-5) left-joined against the index's top-3.
    Both sides are ≤3 rows per query over a bounded query sample, so
    the gate costs one exact pass per index build — never a production
    path. COUNT over the preserved left side makes recall 0 (not a
    dropped row) for queries the index misses entirely.
    """

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    exact3 = (
        embedding_topk_cosine(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id")
    )
    approx3 = approx.select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        exact3.join(approx3, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").alias("n_hits"),
            F.round(F.count("hit") / 3.0, 6).alias("recall_at_3"),
        )
    )


@register(
    "ann_recall_ivf_at_3",
    oracle=_recall_oracle(_IVF_ORACLE),
    tags=("vector", "llm", "agg"),
)
def ann_recall_ivf_at_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the IVF (nprobe=1) index vs the exact baseline —
    the quality gate for ``embedding_ivf_topk``, composing the two
    registered queries so the measurement can't drift from what it
    grades. With ann_recall_at_3 (LSH) and the SQ8/PQ gates, every
    ANN index variant's quality is driver-visible, not just its speed.
    """

    return _recall_vs_exact(spark, sf_dir, embedding_ivf_topk(spark, sf_dir))


@register(
    "ann_recall_sq8_at_3",
    oracle=_recall_oracle(_SQ8_ORACLE),
    tags=("vector", "llm", "agg"),
)
def ann_recall_sq8_at_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the IVF+SQ8 index (quantized first pass, exact
    re-rank) vs the exact baseline — quality gate for
    ``embedding_sq8_topk``."""

    return _recall_vs_exact(spark, sf_dir, embedding_sq8_topk(spark, sf_dir))


@register(
    "ann_recall_pq_at_3",
    oracle=_recall_oracle(_PQ_ORACLE),
    tags=("vector", "llm", "agg"),
)
def ann_recall_pq_at_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the IVF+PQ index (product-quantized first pass,
    exact re-rank) vs the exact baseline — quality gate for
    ``embedding_pq_topk``."""

    return _recall_vs_exact(spark, sf_dir, embedding_pq_topk(spark, sf_dir))


# ---------------------------------------------------------------------------
# MinHash estimator-error gate (dedup-side analogue of ann_recall_at_3)
# ---------------------------------------------------------------------------

_MH_ERR_ORACLE = rf"""
WITH rep AS (
  SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text
), tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM rep
), feat AS (
  SELECT doc_id, {_SQL_SHINGLES.format(t='toks')} AS feats FROM tok
), sig AS (
  SELECT doc_id, feats,
    {_sql_minhash(0)} AS mh_0, {_sql_minhash(1)} AS mh_1,
    {_sql_minhash(2)} AS mh_2, {_sql_minhash(3)} AS mh_3,
    {_sql_minhash(4)} AS mh_4, {_sql_minhash(5)} AS mh_5
  FROM feat
), banded AS (
  SELECT *,
    md5(mh_0 || mh_1) AS band_0,
    md5(mh_2 || mh_3) AS band_1,
    md5(mh_4 || mh_5) AS band_2
  FROM sig
), bucket AS (
  SELECT doc_id, 0 AS band_idx, band_0 AS band_key FROM banded WHERE band_0 IS NOT NULL
  UNION ALL
  SELECT doc_id, 1, band_1 FROM banded WHERE band_1 IS NOT NULL
  UNION ALL
  SELECT doc_id, 2, band_2 FROM banded WHERE band_2 IS NOT NULL
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bucket a
  JOIN bucket b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
)
SELECT
  c.doc_a, c.doc_b,
  ROUND((
      CASE WHEN sa.mh_0 = sb.mh_0 THEN 1 ELSE 0 END
    + CASE WHEN sa.mh_1 = sb.mh_1 THEN 1 ELSE 0 END
    + CASE WHEN sa.mh_2 = sb.mh_2 THEN 1 ELSE 0 END
    + CASE WHEN sa.mh_3 = sb.mh_3 THEN 1 ELSE 0 END
    + CASE WHEN sa.mh_4 = sb.mh_4 THEN 1 ELSE 0 END
    + CASE WHEN sa.mh_5 = sb.mh_5 THEN 1 ELSE 0 END) / 6.0, 6)
    AS est_jaccard,
  ROUND(CAST(len(list_filter(sa.feats, x -> list_contains(sb.feats, x))) AS DOUBLE)
    / CAST(len(sa.feats) + len(sb.feats)
           - len(list_filter(sa.feats, x -> list_contains(sb.feats, x))) AS DOUBLE), 6)
    AS exact_jaccard,
  ROUND(ABS(
    (CASE WHEN sa.mh_0 = sb.mh_0 THEN 1 ELSE 0 END
    + CASE WHEN sa.mh_1 = sb.mh_1 THEN 1 ELSE 0 END
    + CASE WHEN sa.mh_2 = sb.mh_2 THEN 1 ELSE 0 END
    + CASE WHEN sa.mh_3 = sb.mh_3 THEN 1 ELSE 0 END
    + CASE WHEN sa.mh_4 = sb.mh_4 THEN 1 ELSE 0 END
    + CASE WHEN sa.mh_5 = sb.mh_5 THEN 1 ELSE 0 END) / 6.0
    - CAST(len(list_filter(sa.feats, x -> list_contains(sb.feats, x))) AS DOUBLE)
      / CAST(len(sa.feats) + len(sb.feats)
             - len(list_filter(sa.feats, x -> list_contains(sb.feats, x))) AS DOUBLE)
  ), 6) AS abs_err
FROM cand c
JOIN banded sa ON c.doc_a = sa.doc_id
JOIN banded sb ON c.doc_b = sb.doc_id
"""


@register("minhash_jaccard_error", oracle=_MH_ERR_ORACLE, tags=("dedup", "llm", "gate"))
def minhash_jaccard_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator-quality gate: for every LSH candidate pair,
    the signature-based Jaccard estimate (fraction of the 6 minhashes
    that agree) next to the exact shingle-set Jaccard and their
    absolute error — the dedup-pipeline sibling of the ANN recall
    gates (ann_recall_at_3): it makes the QUALITY of the sketch driver-
    visible, not just the speed of the dedup that uses it. A corpus
    whose mean abs_err drifts up (shorter docs, shingle distribution
    shift) needs more hashes per signature; this query is the
    monitoring hook that says so.

    Scale: candidate pairs come from the banded-LSH bucket join (same
    plan as dedup_minhash_lsh — shuffle keyed (band_idx, band_key),
    never all-pairs); the per-pair exact Jaccard touches only candidate
    docs' feature arrays. Signatures and bands are computed once per
    representative document in one scan-side pass.
    """
    feats = _rep_features(spark, sf_dir).persist()
    mh = [TX.minhash(F.col("feats"), s) for s in range(6)]
    sig = feats.select(
        "doc_id",
        "feats",
        *[mh[s].alias(f"mh_{s}") for s in range(6)],
    ).select(
        "*",
        F.md5(F.concat("mh_0", "mh_1")).alias("band_0"),
        F.md5(F.concat("mh_2", "mh_3")).alias("band_1"),
        F.md5(F.concat("mh_4", "mh_5")).alias("band_2"),
    ).persist()
    bucket = sig.select(
        "doc_id",
        F.posexplode(F.array("band_0", "band_1", "band_2")).alias(
            "band_idx", "band_key"
        ),
    ).filter(F.col("band_key").isNotNull())
    # stats-barriered (r13, replacing the r12 merge hint): both sides
    # of the band self-join are corpus-sized with a Generate-blind
    # static estimate (the ×100-smoke broadcast class — see
    # lsh_candidate_pairs); static stays SMJ, AQE's runtime
    # size-measured BHJ conversion is free again.
    bucket = stats_barrier(bucket)
    a = bucket.alias("a")
    b = bucket.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ssrc = stats_barrier(sig)
    sa = ssrc.select(
        F.col("doc_id").alias("doc_a"),
        F.col("feats").alias("fa"),
        *[F.col(f"mh_{s}").alias(f"a_mh_{s}") for s in range(6)],
    )
    sb = ssrc.select(
        F.col("doc_id").alias("doc_b"),
        F.col("feats").alias("fb"),
        *[F.col(f"mh_{s}").alias(f"b_mh_{s}") for s in range(6)],
    )
    matches = None
    for s in range(6):
        m = F.when(F.col(f"a_mh_{s}") == F.col(f"b_mh_{s}"), 1).otherwise(0)
        matches = m if matches is None else matches + m
    est = matches / F.lit(6.0)
    inter = F.size(F.array_intersect("fa", "fb"))
    exact = inter.cast("double") / (
        F.size("fa") + F.size("fb") - inter
    ).cast("double")
    return (
        # stats-barriered above: sa/sb carry corpus-sized feature
        # arrays the static planner would broadcast on a Generate-
        # blind estimate (the r12 ×100-smoke class).
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(est, 6).alias("est_jaccard"),
            F.round(exact, 6).alias("exact_jaccard"),
            F.round(F.abs(est - exact), 6).alias("abs_err"),
        )
    )


# ---------------------------------------------------------------------------
# ANN/embedding ranking quality: label-relevance NDCG@10
# ---------------------------------------------------------------------------

_NDCG_K = 10

_NDCG_QUERIES = 5

# Rank discounts 1/log2(rank+1) and ideal-DCG prefix sums as shared
# LITERALS: both engines pick from the same constants, so the only
# engine-computed float work is the bounded summation (ROUND 6).
_DISCOUNTS = [1.0 / math.log2(r + 1) for r in range(1, _NDCG_K + 1)]

_IDCG = [0.0]
for _d in _DISCOUNTS:
    _IDCG.append(_IDCG[-1] + _d)

_SQL_DISCOUNTS = "[" + ", ".join(repr(d) for d in _DISCOUNTS) + "]"

_SQL_IDCG = "[" + ", ".join(repr(v) for v in _IDCG) + "]"

_NDCG_ORACLE = f"""
WITH topk AS (
  SELECT q.vec_id AS query_id, q.label AS q_label,
         c.vec_id AS neighbor_id, c.label AS c_label,
         row_number() OVER (
           PARTITION BY q.vec_id ORDER BY {_SQL_COS} DESC, c.vec_id) AS rnk
  FROM embeddings q
  JOIN embeddings c
    ON q.vec_id % 100 = 0 AND q.vec_id < {100 * _NDCG_QUERIES}
   AND c.vec_id <> q.vec_id
  QUALIFY rnk <= {_NDCG_K}
),
scored AS (
  SELECT query_id,
         CAST(SUM(CASE WHEN c_label = q_label THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rel,
         SUM(CASE WHEN c_label = q_label
                  THEN ({_SQL_DISCOUNTS})[rnk] ELSE 0.0 END) AS dcg
  FROM topk GROUP BY query_id
)
SELECT query_id, n_rel,
       ROUND(dcg / NULLIF(({_SQL_IDCG})[n_rel + 1], 0.0), 6) AS ndcg_at_10
FROM scored
"""


@register("ann_ndcg_at_10", oracle=_NDCG_ORACLE, tags=("vector", "llm", "gate"))
def ann_ndcg_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality gate: NDCG@10 of exact cosine retrieval judged
    by label agreement — "when I retrieve 10 nearest neighbors, how
    early do the same-label ones appear?". Complements the recall gates
    (ann_recall_at_3): recall measures the INDEX against exact retrieval;
    NDCG measures the EMBEDDING SPACE itself against ground-truth
    labels — the number that says whether nearest-neighbor dedup/search
    can work on this representation at all.

    Determinism: rank discounts 1/log₂(r+1) and the ideal-DCG prefix
    table enter BOTH engines as shared literals (module constants), so
    no transcendental is evaluated per-engine; the bounded 10-term sum
    is ROUND 6.

    Scale: same bounded brute-force shape as the recall gates — the
    query side is structurally capped (5 broadcast rows) against one
    corpus scan; NDCG math runs on ≤ k rows per query.
    """
    e = read_table(spark, sf_dir, "embeddings")
    queries = (
        e.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 100 * _NDCG_QUERIES))
        .select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
        )
    )
    topk = brute_force_topk(
        e.select("vec_id", "embedding"), queries, _NDCG_K, _NDCG_QUERIES
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    ranked = topk.withColumn("rnk", F.row_number().over(w))
    qlab = e.select(F.col("vec_id").alias("query_id"), F.col("label").alias("q_label"))
    clab = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("c_label")
    )
    disc = F.array(*[F.lit(d) for d in _DISCOUNTS])
    idcg = F.array(*[F.lit(v) for v in _IDCG])
    scored = (
        ranked.join(F.broadcast(qlab), "query_id")
        .join(clab, "neighbor_id")
        .groupBy("query_id")
        .agg(
            F.sum(
                F.when(F.col("c_label") == F.col("q_label"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_rel"),
            F.sum(
                F.when(
                    F.col("c_label") == F.col("q_label"),
                    F.element_at(disc, F.col("rnk")),
                ).otherwise(0.0)
            ).alias("dcg"),
        )
    )
    return scored.select(
        "query_id",
        "n_rel",
        F.round(
            F.col("dcg")
            / F.nullif(
                F.element_at(idcg, (F.col("n_rel") + 1).cast("int")), F.lit(0.0)
            ),
            6,
        ).alias("ndcg_at_10"),
    )


# ---------------------------------------------------------------------------
# Embedding-centroid drift between two corpus halves
# ---------------------------------------------------------------------------

_CENTROID_SHIFT_ORACLE = """
WITH comp AS (
  SELECT e.label,
         CAST(i AS INTEGER) AS pos,
         e.vec_id % 2 AS half,
         CAST(CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(18,9)) AS v
  FROM embeddings e, unnest(generate_series(1, len(e.embedding))) AS t(i)
),
cent AS (
  SELECT label, pos, half,
         CAST(SUM(v) AS DOUBLE) / COUNT(*) AS c
  FROM comp GROUP BY label, pos, half
),
delta AS (
  SELECT a.label, a.pos,
         CAST(CAST((a.c - b.c) * (a.c - b.c) AS DECIMAL(18,12))
              AS DECIMAL(18,12)) AS d2
  FROM cent a JOIN cent b
    ON a.label = b.label AND a.pos = b.pos AND a.half = 0 AND b.half = 1
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_dims,
       ROUND(SQRT(CAST(SUM(d2) AS DOUBLE)), 6) AS l2_shift
FROM delta
GROUP BY label
"""


@register("embedding_centroid_shift", oracle=_CENTROID_SHIFT_ORACLE, tags=("vector", "llm", "stats"))
def embedding_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: split the corpus into two halves (even
    / odd vec_id — in production, two time windows), compute per-label
    centroids for each half, and report the L2 distance between them —
    the representation-drift number that tells a training pipeline its
    embedding space moved before downstream ANN recall quietly decays.
    (The even/odd split makes the expected shift ≈ sampling noise — a
    useful baseline to alarm against.)

    Determinism: float components are cast to DECIMAL(18,9) before
    summing (label_centroids' convention), so half-centroids are
    identical doubles; squared deltas re-enter DECIMAL(18,12) so the
    64-dim sum is order-free; only √ is rounded.

    Scale: one scan-side posexplode, one (label, pos, half)-keyed
    hash-agg (map-side combinable, bounded by labels × dims × 2), then
    arithmetic on the bounded centroid table. No windows, no driver
    collects.
    """
    e = read_table(spark, sf_dir, "embeddings")
    comp = e.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("pos0", "ev"),
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),
        "half",
        F.col("ev").cast("double").cast("decimal(18,9)").alias("v"),
    )
    cent = comp.groupBy("label", "pos", "half").agg(
        (F.sum("v").cast("double") / F.count("*")).alias("c")
    )
    a = cent.filter(F.col("half") == 0).select(
        "label", "pos", F.col("c").alias("ca")
    )
    b = cent.filter(F.col("half") == 1).select(
        "label", "pos", F.col("c").alias("cb")
    )
    delta = a.join(b, ["label", "pos"]).select(
        "label",
        ((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb")))
        .cast("decimal(18,12)")
        .alias("d2"),
    )
    return delta.groupBy("label").agg(
        F.count("*").cast("long").alias("n_dims"),
        F.round(F.sqrt(F.sum("d2").cast("double")), 6).alias("l2_shift"),
    )


# ---------------------------------------------------------------------------
# Prefix-filtering set-similarity self-join (ppjoin-style)
# ---------------------------------------------------------------------------

_PF_THETA_NUM, _PF_THETA_DEN = 1, 2  # Jaccard threshold 0.5 as a rational

_PREFIX_FILTER_ORACLE = f"""
WITH rep AS (
  SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text
),
tok0 AS (
  SELECT doc_id, {_SQL_TOKS} AS t FROM rep
),
tok AS (
  SELECT doc_id, {_SQL_SHINGLES.format(t="t")} AS toks FROM tok0
),
ex AS (
  SELECT doc_id, unnest(toks) AS tok FROM tok
),
df AS (
  SELECT tok, COUNT(*) AS df FROM ex GROUP BY tok
),
sized AS (
  SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id
),
pfx AS (
  SELECT e.doc_id, e.tok
  FROM ex e JOIN df USING (tok) JOIN sized s USING (doc_id)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY e.doc_id ORDER BY df.df, e.tok)
          <= s.n - (s.n + 1) // 2 + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pfx a JOIN pfx b ON a.tok = b.tok AND a.doc_id < b.doc_id
),
shared AS (
  SELECT ea.doc_id AS doc_a, eb.doc_id AS doc_b, COUNT(*) AS inter
  FROM ex ea JOIN ex eb ON ea.tok = eb.tok
  JOIN cand ON cand.doc_a = ea.doc_id AND cand.doc_b = eb.doc_id
  GROUP BY 1, 2
)
SELECT s.doc_a, s.doc_b,
       CAST(s.inter AS DOUBLE) / CAST(sa.n + sb.n - s.inter AS DOUBLE)
         AS jaccard
FROM shared s
JOIN sized sa ON s.doc_a = sa.doc_id
JOIN sized sb ON s.doc_b = sb.doc_id
WHERE s.inter * {_PF_THETA_DEN}
      >= (sa.n + sb.n - s.inter) * {_PF_THETA_NUM}
"""


@register(
    "jaccard_prefix_filter_pairs",
    oracle=_PREFIX_FILTER_ORACLE,
    tags=("dedup", "llm"),
)
def jaccard_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-level set-similarity self-join via PREFIX FILTERING
    (the ppjoin family): documents pair as candidates only if they
    share a shingle in their rarest-first PREFIX of n - ⌈θ·n⌉ + 1 — any
    pair with Jaccard ≥ θ provably shares one, so the candidate set is
    exact, then full-set verification computes true Jaccard. This is
    the alternative scale path to the df-capped inverted index
    (jaccard_shingle_pairs): instead of dropping stop-shingles, EVERY
    document indexes only its globally-rarest few tokens, so hot
    tokens never form join buckets at all — the candidate count is
    bounded by rare-token collisions, the right trade when the corpus
    has no clean stop-token frontier.

    Exact-dup collapse first (rep), integer threshold algebra
    (inter·2 ≥ union·1 for θ=1/2 — no float compare), and the final
    jaccard is a same-integers division, bit-identical cross-engine.

    Scale: df ranking is one hash-agg over the exploded token table;
    the prefix cut drops each doc to ~n/2 rarest tokens; the self-join
    key distribution is the RARE tail of the vocabulary by
    construction. Verification joins run only on surviving candidates.

    Shuffle keys are 8-byte xxhash64 DIGESTS of the shingles, not the
    raw strings (same re-keying as the LSH band keys, lsh_candidate_pairs) —
    the df hash-agg, the doc_id-window sort, and the prefix self-join
    all move fixed-width longs. The prefix set chosen under the
    (df, digest) total order can differ from the oracle's (df, string)
    order on equal-df ties, but prefix filtering is COMPLETE under any
    consistent global order (every pair with J ≥ θ shares a prefix
    token), and full-set verification computes exact Jaccard — so the
    final output is order-invariant and the string-keyed DuckDB oracle
    remains the digest-collision check.
    """

    toks = _rep_features(spark, sf_dir).withColumnRenamed("feats", "toks").persist()
    ex = (
        toks.select("doc_id", F.explode("toks").alias("tok_s"))
        .select("doc_id", F.xxhash64("tok_s").alias("tok"))
        .persist()
    )
    # df = token document frequency as a WINDOW over the tok
    # partitioning, not groupBy+join (r12): the join spelling's build
    # side is an explode-fed VOCABULARY-sized aggregate, and Catalyst's
    # static size estimate cannot see through Generate — at ×100 data
    # the static planner still chose BroadcastHashJoin for a ~20M-row
    # vocab and the broadcast build blew the driver (the ×100 smoke's
    # one real find this round; SCALE_NOTES). The window needs exactly
    # the one tok-shuffle any scale-safe join spelling would pay, with
    # no join operator left for the planner to misplan at any scale.
    # rn and n ride the SAME doc_id shuffle (two window specs, one
    # partitioning) — no doc-level side table to join or broadcast,
    # which would be corpus-sized at 100 TB.
    w_tok = Window.partitionBy("tok")
    w_part = Window.partitionBy("doc_id")
    w_doc = w_part.orderBy("df", "tok")
    pfx = (
        ex.withColumn("df", F.count("*").over(w_tok))
        .withColumn("rn", F.row_number().over(w_doc))
        .withColumn("n", F.count("*").over(w_part))
        .filter(
            F.col("rn")
            <= F.col("n") - F.expr("(n + 1) div 2") + F.lit(1)
        )
        .select("doc_id", "tok", "rn", "n")
    )
    # ppjoin candidate pruning — both filters only discard pairs that
    # provably CANNOT reach θ, so the verified output (and the oracle)
    # is unchanged: (1) length filter — J ≥ 1/2 forces 2·min(na,nb) ≥
    # max(na,nb); (2) positional filter — a match at prefix ranks
    # (ra, rb) caps the total overlap at min(na-ra, nb-rb)+1, which
    # must reach the θ-equivalent overlap ⌈(na+nb)/3⌉ (3x ≥ y is the
    # integer spelling of x ≥ ⌈y/3⌉).
    # stats-barrier the prefix self-join (r13, replacing the r12 merge
    # hint): BOTH sides are the corpus-sized prefix index, but its
    # window-only lineage gives Catalyst a Generate-blind size estimate
    # small enough to broadcast statically (driver kill at scale). The
    # barrier keeps the static plan SMJ — fixed-width (tok, ids) rows
    # sort and spill gracefully, the classic ppjoin physical shape —
    # while AQE's runtime conversion (decided from measured shuffle
    # sizes) may broadcast exactly when the prefix index really fits.
    pfx = stats_barrier(pfx)
    a, b = pfx.alias("a"), pfx.alias("b")
    an, bn = F.col("a.n"), F.col("b.n")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.least(an, bn) * 2 >= F.greatest(an, bn))
            & (
                (F.least(an - F.col("a.rn"), bn - F.col("b.rn")) + 1) * 3
                >= an + bn
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    fa = toks.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
    fb = toks.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    union = F.size("ta") + F.size("tb") - inter
    # Verification joins carry the CORPUS-sized feature arrays on the
    # fa/fb side — statically the planner broadcast them (the same
    # Generate-blind estimate as the df join above; at ×100 the fa
    # broadcast alone is ~0.5 GB of arrays). These STAY merge-pinned
    # in r13 while the prefix self-join above moved to the stats
    # barrier: the 4-variant interleaved A/B (pin/barrier × self/
    # verify, 3 cold-cache reps each) measured the verify joins'
    # runtime BHJ conversion a ~1.9× REGRESSION here (6.0 s vs 3.2 s
    # min) — broadcasting this query's larger candidate×array working
    # set loses to SMJ even at sf0.1, unlike dedup_minhash_lsh's
    # smaller banded candidate set where the same barrier wins 1.25×
    # (OPTIMIZATION_r13.md). SMJ also keeps the ×100 memory argument:
    # no hash relation, sorts spill (a shuffle_hash spelling blew
    # per-task memory at ×100 in r12). The hint is consumed per-join,
    # so the intermediate is re-hinted.
    return (
        cand.hint("merge")
        .join(fa, "doc_a")
        .hint("merge")
        .join(fb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.alias("inter_n"),
            union.alias("union_n"),
        )
        .filter(
            F.col("inter_n") * _PF_THETA_DEN >= F.col("union_n") * _PF_THETA_NUM
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter_n").cast("double") / F.col("union_n").cast("double")
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding L2-norm quantiles per label
# ---------------------------------------------------------------------------

_NORM_FRACS = [0.25, 0.5, 0.75]

_NORM_QUANT_ORACLE = f"""
WITH norms AS (
  SELECT label,
         ROUND(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))), 6) AS nrm
  FROM embeddings
),
ordered AS (
  SELECT label, nrm,
         ROW_NUMBER() OVER (PARTITION BY label ORDER BY nrm) AS rn,
         COUNT(*) OVER (PARTITION BY label) AS n
  FROM norms
),
fr AS (SELECT unnest([{", ".join(repr(q) for q in _NORM_FRACS)}]) AS q),
picked AS (
  SELECT label, q, MIN(nrm) AS v
  FROM ordered, fr
  WHERE rn = CAST(CEIL(q * n) AS BIGINT)
  GROUP BY label, q
)
SELECT label,
       MAX(CASE WHEN q = 0.25 THEN v END) AS norm_p25,
       MAX(CASE WHEN q = 0.5 THEN v END) AS norm_p50,
       MAX(CASE WHEN q = 0.75 THEN v END) AS norm_p75
FROM picked GROUP BY label
"""


@register(
    "embedding_norm_quantiles", oracle=_NORM_QUANT_ORACLE, tags=("vector", "llm")
)
def embedding_norm_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding L2-norm distribution per label (p25/p50/p75) — the
    representation-health gate next to embedding_centroid_shift: a
    label whose norm quartiles drift signals a degenerate or
    collapsing embedding region before ANN recall visibly degrades.
    Norms are scan-side array folds over float32→float64 exact casts,
    ROUND-6 (the one transcendental); quantiles are ORDER STATISTICS
    via the rank-⌈q·n⌉ spelling (Spark percentile_disc's definition,
    spelled identically in the oracle — quantile_disc's index formula
    provably diverges from it for some (n mod 8, q) pairs, see
    range_partition_boundaries). One window shuffle keyed by label.
    """

    e = read_table(spark, sf_dir, "embeddings")
    norms = e.select(
        "label", F.round(VX.norm("embedding"), 6).alias("nrm")
    )
    return norms.groupBy("label").agg(
        *[
            F.expr(
                f"percentile_disc({q!r}) WITHIN GROUP (ORDER BY nrm)"
            ).alias(f"norm_p{int(q * 100)}")
            for q in _NORM_FRACS
        ]
    )


# ---------------------------------------------------------------------------
# Per-source dedup-rate profile
# ---------------------------------------------------------------------------

_DEDUP_RATE_ORACLE = """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
       ROUND(1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*), 6)
         AS dup_rate
FROM documents GROUP BY source
"""


@register("doc_dedup_rate_by_source", oracle=_DEDUP_RATE_ORACLE, tags=("dedup", "llm"))
def doc_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate rate: docs vs distinct content
    hashes, the first column of every corpus intake report (a source
    whose dup_rate spikes is a crawler re-fetching or a mirror — cut
    it BEFORE the expensive near-dup stages run). COUNT(DISTINCT) runs
    on the 32-byte digest, not the document, so the shuffle carries
    hashes; the ratio is a division of exact integers, ROUND 6.
    """
    d = read_table(spark, sf_dir, "documents")
    uniq = F.count_distinct(F.md5("text"))
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        uniq.alias("n_unique_texts"),
        F.round(
            F.lit(1.0) - uniq.cast("double") / F.count("*"), 6
        ).alias("dup_rate"),
    )


# ---------------------------------------------------------------------------
# IVF ANN, nprobe=2 — probe the TWO nearest inverted lists
# ---------------------------------------------------------------------------

_IVF2_ORACLE = """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
),
cent AS (
  SELECT label,
         list(centroid_val ORDER BY pos) AS cvec
  FROM (
    SELECT e.label, i AS pos,
           CAST(SUM(CAST(e.embedding[i] AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)
             AS centroid_val
    FROM e, unnest(generate_series(1, len(e.embedding))) AS t(i)
    GROUP BY e.label, i
  )
  GROUP BY label
),
probe AS (
  SELECT q.vec_id AS query_id, q.embedding AS q_emb, c.label AS probe_label
  FROM e q CROSS JOIN cent c
  WHERE q.vec_id % 100 = 0
  QUALIFY row_number() OVER (
    PARTITION BY q.vec_id
    ORDER BY list_dot_product(q.embedding, c.cvec)
               / nullif(sqrt(list_dot_product(q.embedding, q.embedding))
                        * sqrt(list_dot_product(c.cvec, c.cvec)), 0.0) DESC,
             c.label
  ) <= 2
)
SELECT p.query_id, p.probe_label, c.vec_id AS neighbor_id,
       list_dot_product(p.q_emb, c.embedding)
         / nullif(sqrt(list_dot_product(p.q_emb, p.q_emb))
                  * sqrt(list_dot_product(c.embedding, c.embedding)), 0.0)
         AS cos_sim
FROM probe p
JOIN e c ON c.label = p.probe_label AND c.vec_id <> p.query_id
QUALIFY row_number() OVER (
  PARTITION BY p.query_id
  ORDER BY cos_sim DESC, c.vec_id
) <= 3
"""


def _ivf_centroids(e: DataFrame) -> DataFrame:
    """Per-label coarse-quantizer centroids (label, cvec) with
    exact-decimal component means — shared by the nprobe=2 index and
    the recall frontier so the codebook can never drift between the
    index and its measurement."""
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            (
                F.sum(F.col("val").cast("decimal(18,9)")).cast("double")
                / F.count("*")
            ).alias("centroid_val")
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "centroid_val"))),
                lambda s: s["centroid_val"],
            ).alias("cvec")
        )
    )


@register("embedding_ivf2_topk", oracle=_IVF2_ORACLE, tags=("vector", "llm"))
def embedding_ivf2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe=2: each query probes its TWO nearest
    inverted lists (vs ``embedding_ivf_topk``'s nprobe=1), then exact
    cosine top-3 runs over the union of both lists' vectors. This is
    the knob a production IVF index tunes — recall rises monotonically
    with nprobe (recall gate: ``ann_recall_ivf2_at_3``, asserted ≥ the
    nprobe=1 gate's in tests) at linearly more candidate work.

    Scale shape is unchanged from nprobe=1: the centroid codebook is
    one tiny broadcast table; the probe step emits nprobe rows per
    query; candidates join on the list id (a partition key of the
    embedding table at scale → nprobe partition-pruned scans per
    query). Every candidate vector lives in exactly ONE list, so the
    two probed lists are disjoint — no dedup stage is needed before
    the re-rank window. Exact-decimal centroid means keep the coarse
    quantizer cross-engine deterministic.
    """
    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", VX.as_double("embedding").alias("embedding")
    )
    cent = _ivf_centroids(e)
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        VX.cosine("q_emb", "cvec").desc(), F.col("label")
    )
    probe = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("rn", F.row_number().over(probe_w))
        .filter(F.col("rn") <= 2)
        .select("query_id", "q_emb", F.col("label").alias("probe_label"))
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("c_emb"),
    )
    topk_w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        c.join(
            F.broadcast(probe),
            (F.col("c_label") == F.col("probe_label"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "probe_label",
            "neighbor_id",
            VX.cosine("q_emb", "c_emb").alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(topk_w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


@register(
    "ann_recall_ivf2_at_3",
    oracle=_recall_oracle(_IVF2_ORACLE),
    tags=("vector", "llm", "agg"),
)
def ann_recall_ivf2_at_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the IVF nprobe=2 index vs the exact baseline —
    quality gate for ``embedding_ivf2_topk``. Probing a second list
    can only ADD candidates, so per-query recall dominates the
    nprobe=1 gate's row-for-row (tests/test_round6.py pins the
    engine-wide monotonicity); the gap between the two gates is the
    measured payoff of doubling candidate work.
    """
    return _recall_vs_exact(
        spark, sf_dir, embedding_ivf2_topk(spark, sf_dir)
    )


# ---------------------------------------------------------------------------
# IVF recall/latency frontier: recall@3 and candidate work per nprobe
# ---------------------------------------------------------------------------

_FRONTIER_NPROBES = (1, 2, 3)

_QUERY_ID_CEIL = 100 * _TOPK_MAX_QUERIES

_CENT_SQL = """
  SELECT label,
         list(centroid_val ORDER BY pos) AS cvec
  FROM (
    SELECT e.label, i AS pos,
           CAST(SUM(CAST(e.embedding[i] AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)
             AS centroid_val
    FROM e, unnest(generate_series(1, len(e.embedding))) AS t(i)
    GROUP BY e.label, i
  )
  GROUP BY label
"""

_FRONTIER_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
),
cent AS ({_CENT_SQL}),
q AS (
  SELECT vec_id AS query_id, embedding AS q_emb FROM e
  WHERE vec_id % 100 = 0 AND vec_id < {_QUERY_ID_CEIL}
),
ranked AS (
  SELECT q.query_id, q.q_emb, c.label,
         row_number() OVER (
           PARTITION BY q.query_id
           ORDER BY list_dot_product(q.q_emb, c.cvec)
                      / nullif(sqrt(list_dot_product(q.q_emb, q.q_emb))
                               * sqrt(list_dot_product(c.cvec, c.cvec)), 0.0)
                    DESC,
                    c.label
         ) AS rn
  FROM q CROSS JOIN cent c
),
np AS (SELECT unnest([{', '.join(str(n) for n in _FRONTIER_NPROBES)}]) AS nprobe),
probe AS (
  SELECT np.nprobe, r.query_id, r.q_emb, r.label
  FROM ranked r CROSS JOIN np WHERE r.rn <= np.nprobe
),
cand AS (
  SELECT p.nprobe, p.query_id, c.vec_id AS neighbor_id,
         list_dot_product(p.q_emb, c.embedding)
           / nullif(sqrt(list_dot_product(p.q_emb, p.q_emb))
                    * sqrt(list_dot_product(c.embedding, c.embedding)), 0.0)
           AS cos_sim
  FROM probe p
  JOIN e c ON c.label = p.label AND c.vec_id <> p.query_id
),
ncand AS (
  SELECT nprobe, query_id, COUNT(*) AS n_cand FROM cand GROUP BY 1, 2
),
top3 AS (
  SELECT nprobe, query_id, neighbor_id FROM cand
  QUALIFY row_number() OVER (
    PARTITION BY nprobe, query_id ORDER BY cos_sim DESC, neighbor_id) <= 3
),
exact3 AS ({_EXACT3_SQL}),
hits AS (
  SELECT np.nprobe, e3.query_id, COUNT(t.neighbor_id) AS n_hits
  FROM exact3 e3
  CROSS JOIN np
  LEFT JOIN top3 t
    ON t.nprobe = np.nprobe AND t.query_id = e3.query_id
   AND t.neighbor_id = e3.neighbor_id
  GROUP BY 1, 2
)
SELECT CAST(h.nprobe AS INTEGER) AS nprobe,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(COALESCE(nc.n_cand, 0)) AS BIGINT) AS n_candidates,
       ROUND(SUM(h.n_hits) / (3.0 * COUNT(*)), 6) AS mean_recall_at_3
FROM hits h
LEFT JOIN ncand nc ON nc.nprobe = h.nprobe AND nc.query_id = h.query_id
GROUP BY h.nprobe
"""


@register(
    "ann_recall_frontier",
    oracle=_FRONTIER_ORACLE,
    tags=("vector", "llm", "agg", "gate"),
)
def ann_recall_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF recall/latency frontier as a driver-verifiable artifact:
    one row per nprobe ∈ {1, 2, 3} with the mean recall@3 over the
    graded query sample and the TOTAL candidate vectors scored — the
    exact tradeoff curve a production index tunes (recall is monotone
    non-decreasing in nprobe because probing another list only ADDS
    candidates; candidate work grows ≈linearly in nprobe but stays
    sub-linear in corpus size: nprobe/k of the vectors per query).

    One centroid build (shared helper `_ivf_centroids` — the same
    codebook as ``embedding_ivf2_topk``), one ranked probe pass up to
    max(nprobe), then the per-nprobe variants are FILTERS of that one
    ranking — the whole curve costs one scan more than the single
    widest index, never |nprobes| independent builds. The candidate
    join is label-equi (partition-pruned at scale) against the
    broadcast probe set; the exact baseline is the registry's bounded
    brute-force top-3, so this gate composes the same pieces the
    driver already checks.
    """
    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", VX.as_double("embedding").alias("embedding")
    )
    cent = _ivf_centroids(e)
    q = e.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < _QUERY_ID_CEIL)
    ).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    rank_w = Window.partitionBy("query_id").orderBy(
        VX.cosine("q_emb", "cvec").desc(), F.col("label")
    )
    max_np = max(_FRONTIER_NPROBES)
    ranked = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("rn", F.row_number().over(rank_w))
        .filter(F.col("rn") <= max_np)
        .select("query_id", "q_emb", "label", "rn")
    )
    nps = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(n) for n in _FRONTIER_NPROBES])
        ).alias("nprobe")
    )
    probe = ranked.crossJoin(F.broadcast(nps)).filter(
        F.col("rn") <= F.col("nprobe")
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("c_emb"),
    )
    cand = c.join(
        F.broadcast(probe),
        (F.col("c_label") == F.col("label"))
        & (F.col("neighbor_id") != F.col("query_id")),
    ).select(
        "nprobe",
        "query_id",
        "neighbor_id",
        VX.cosine("q_emb", "c_emb").alias("cos_sim"),
    # twice-consumed (ncand agg + top3 window) and expensive to build
    # (the cosine-scored probe join): without the persist the whole
    # candidate subtree — embeddings scan, probe ranking, candidate
    # join, per-candidate cosines — executed once per consumer (the
    # r12 plan dump showed 8 embeddings scans / 14 Windows in one
    # query; persist cuts it to one build, measured 3.5 → 2.9 s at
    # sf0.1). The theil_sen multi-pass persist precedent.
    ).persist()
    ncand = cand.groupBy("nprobe", "query_id").agg(
        F.count("*").alias("n_cand")
    )
    top3_w = Window.partitionBy("nprobe", "query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    top3 = (
        cand.withColumn("rn3", F.row_number().over(top3_w))
        .filter(F.col("rn3") <= 3)
        .select("nprobe", "query_id", "neighbor_id", F.lit(1).alias("hit"))
    )

    exact_w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    exact3 = (
        embedding_topk_cosine(spark, sf_dir)
        .withColumn("rn", F.row_number().over(exact_w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id")
    )
    hits = (
        exact3.crossJoin(F.broadcast(nps))
        .join(top3, ["nprobe", "query_id", "neighbor_id"], "left")
        .groupBy("nprobe", "query_id")
        .agg(F.count("hit").alias("n_hits"))
    )
    return (
        hits.join(ncand, ["nprobe", "query_id"], "left")
        .groupBy("nprobe")
        .agg(
            F.count("*").cast("bigint").alias("n_queries"),
            F.sum(F.coalesce(F.col("n_cand"), F.lit(0)))
            .cast("bigint")
            .alias("n_candidates"),
            F.round(F.sum("n_hits") / (3.0 * F.count("*")), 6).alias(
                "mean_recall_at_3"
            ),
        )
        .select(
            F.col("nprobe").cast("int").alias("nprobe"),
            "n_queries",
            "n_candidates",
            "mean_recall_at_3",
        )
    )


# ---------------------------------------------------------------------------
# ANN hard-negative mining (top cross-label neighbor per query)
# ---------------------------------------------------------------------------

_HARDNEG_ORACLE = f"""
SELECT q.vec_id AS query_id,
       q.label AS q_label,
       c.vec_id AS hard_negative_id,
       c.label AS neg_label,
       {_SQL_COS} AS cos_sim
FROM embeddings q
JOIN embeddings c
  ON q.vec_id % 100 = 0 AND q.vec_id < {100 * _TOPK_MAX_QUERIES}
 AND c.vec_id <> q.vec_id AND c.label <> q.label
QUALIFY row_number() OVER (
  PARTITION BY q.vec_id ORDER BY {_SQL_COS} DESC, c.vec_id) = 1
"""


@register(
    "hard_negative_mining", oracle=_HARDNEG_ORACLE, tags=("vector", "llm")
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the single most-similar vector with a DIFFERENT label —
    the near-miss that contrastive/embedding losses learn the most
    from (easy negatives are already far away). Query side is
    structurally bounded exactly like the brute-force baseline
    (sampling predicate + id ceiling — embedding_topk_cosine's cap rationale
    applies verbatim); in production the candidate scan is replaced by
    the IVF/LSH index probes, with the label-inequality as a cheap
    post-filter on the probed lists. One broadcast of ≤64 queries
    against a candidate scan, top-1 window per query.
    """
    e = read_table(spark, sf_dir, "embeddings")
    q = (
        e.filter(
            (F.col("vec_id") % 100 == 0)
            & (F.col("vec_id") < 100 * _TOPK_MAX_QUERIES)
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("q_label"),
            F.col("embedding").alias("q_emb"),
        )
    )

    c = fan_out(
        e.select(
            F.col("vec_id").alias("hard_negative_id"),
            F.col("label").alias("neg_label"),
            F.col("embedding").alias("c_emb"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("hard_negative_id")
    )
    return (
        c.join(
            F.broadcast(q),
            (F.col("hard_negative_id") != F.col("query_id"))
            & (F.col("neg_label") != F.col("q_label")),
        )
        .select(
            "query_id",
            "q_label",
            "hard_negative_id",
            "neg_label",
            VX.cosine("q_emb", "c_emb").alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# MinHash-LSH precision/recall gate vs bounded exact ground truth
# ---------------------------------------------------------------------------

_PR_SUBSET = 500  # doc_id ceiling: bounds the exact-truth computation

_PR_JACCARD = 0.5

_MINHASH_PR_ORACLE = rf"""
WITH sub AS (
  SELECT doc_id, text FROM documents WHERE doc_id < {_PR_SUBSET}
), tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM sub
), feat AS (
  SELECT doc_id, {_SQL_SHINGLES.format(t='toks')} AS feats FROM tok
), gram AS (
  SELECT DISTINCT doc_id, unnest(feats) AS g FROM feat
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM gram GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM gram a JOIN gram b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), truth AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE i.i * 1.0 / (sa.sz + sb.sz - i.i) >= {_PR_JACCARD}
), {_SQL_BAND_CAND_CTES}, joined AS (
  SELECT COALESCE(c.doc_a, t.doc_a) AS doc_a,
         c.doc_a IS NOT NULL AS in_cand,
         t.doc_a IS NOT NULL AS in_truth
  FROM cand c
  FULL OUTER JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
)
SELECT CAST(SUM(CASE WHEN in_cand THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
       CAST(SUM(CASE WHEN in_truth THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
       CAST(SUM(CASE WHEN in_cand AND in_truth THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hit,
       ROUND(SUM(CASE WHEN in_cand AND in_truth THEN 1 ELSE 0 END) * 1.0
             / NULLIF(SUM(CASE WHEN in_cand THEN 1 ELSE 0 END), 0), 6)
         AS precision,
       ROUND(SUM(CASE WHEN in_cand AND in_truth THEN 1 ELSE 0 END) * 1.0
             / NULLIF(SUM(CASE WHEN in_truth THEN 1 ELSE 0 END), 0), 6)
         AS recall
FROM joined
"""


@register(
    "dedup_minhash_pr", oracle=_MINHASH_PR_ORACLE, tags=("dedup", "llm", "gate")
)
def dedup_minhash_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall gate for the MinHash-LSH candidate generator
    against EXACT ground truth (shingle-Jaccard ≥ {J}) on a bounded
    doc_id < {S} subset — the quality number that justifies banding
    parameters (3 bands × 2 rows here): recall is the probability a
    true near-dup pair lands in ≥1 shared bucket, precision is the
    verification workload's hit rate. The truth side never does an
    unbounded all-pairs pass: it is an inverted-index self-join WITHIN
    the literal subset (any pair at Jaccard ≥ {J} shares a shingle, so
    the index join loses no truth pairs), mirroring the bounded-audit
    pattern of `minhash_jaccard_error`. Complements that error audit:
    this grades the CANDIDATE SET itself, not the estimator values.
    """
    d = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _PR_SUBSET)
        .select("doc_id", "text")
    )
    feats = d.select(
        "doc_id", TX.shingles(TX.tokens("text")).alias("feats")
    ).persist()
    gram = feats.select(
        "doc_id", F.explode("feats").alias("g")
    ).distinct()
    sizes = gram.groupBy("doc_id").agg(F.count("*").alias("sz"))
    ga = gram.select(F.col("doc_id").alias("doc_a"), "g")
    gb = gram.select(F.col("doc_id").alias("doc_b"), "g")
    inter = (
        ga.join(gb, "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sa"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sb"))
    truth = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.col("i") * 1.0 / (F.col("sa") + F.col("sb") - F.col("i"))
            >= _PR_JACCARD
        )
        .select("doc_a", "doc_b")
    )
    cand = lsh_candidate_pairs(feats)
    joined = cand.withColumn("in_cand", F.lit(True)).join(
        truth.withColumn("in_truth", F.lit(True)),
        ["doc_a", "doc_b"],
        "full_outer",
    )
    hit = F.sum(
        F.when(
            F.col("in_cand").isNotNull() & F.col("in_truth").isNotNull(), 1
        ).otherwise(0)
    )
    nc = F.sum(F.when(F.col("in_cand").isNotNull(), 1).otherwise(0))
    nt = F.sum(F.when(F.col("in_truth").isNotNull(), 1).otherwise(0))
    return joined.agg(
        nc.cast("bigint").alias("n_candidates"),
        nt.cast("bigint").alias("n_truth"),
        hit.cast("bigint").alias("n_hit"),
        F.round(hit * 1.0 / F.nullif(nc, F.lit(0)), 6).alias("precision"),
        F.round(hit * 1.0 / F.nullif(nt, F.lit(0)), 6).alias("recall"),
    )


# ---------------------------------------------------------------------------
# MinHash signature-size frontier (estimator error vs hash count)
# ---------------------------------------------------------------------------

_MH_SIZES = (2, 4, 6)

_MH_SIZE_ORACLE = rf"""
WITH rep AS (
  SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text
), tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM rep
), feat AS (
  SELECT doc_id, {_SQL_SHINGLES.format(t='toks')} AS feats FROM tok
), sig AS (
  SELECT doc_id, feats,
    {_sql_minhash(0)} AS mh_0, {_sql_minhash(1)} AS mh_1,
    {_sql_minhash(2)} AS mh_2, {_sql_minhash(3)} AS mh_3,
    {_sql_minhash(4)} AS mh_4, {_sql_minhash(5)} AS mh_5
  FROM feat
), banded AS (
  SELECT *,
    md5(mh_0 || mh_1) AS band_0,
    md5(mh_2 || mh_3) AS band_1,
    md5(mh_4 || mh_5) AS band_2
  FROM sig
), bucket AS (
  SELECT doc_id, 0 AS band_idx, band_0 AS band_key FROM banded WHERE band_0 IS NOT NULL
  UNION ALL
  SELECT doc_id, 1, band_1 FROM banded WHERE band_1 IS NOT NULL
  UNION ALL
  SELECT doc_id, 2, band_2 FROM banded WHERE band_2 IS NOT NULL
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bucket a
  JOIN bucket b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
), err AS (
  SELECT
    (CASE WHEN sa.mh_0 = sb.mh_0 THEN 1 ELSE 0 END
     + CASE WHEN sa.mh_1 = sb.mh_1 THEN 1 ELSE 0 END) AS m2,
    (CASE WHEN sa.mh_0 = sb.mh_0 THEN 1 ELSE 0 END
     + CASE WHEN sa.mh_1 = sb.mh_1 THEN 1 ELSE 0 END
     + CASE WHEN sa.mh_2 = sb.mh_2 THEN 1 ELSE 0 END
     + CASE WHEN sa.mh_3 = sb.mh_3 THEN 1 ELSE 0 END) AS m4,
    (CASE WHEN sa.mh_0 = sb.mh_0 THEN 1 ELSE 0 END
     + CASE WHEN sa.mh_1 = sb.mh_1 THEN 1 ELSE 0 END
     + CASE WHEN sa.mh_2 = sb.mh_2 THEN 1 ELSE 0 END
     + CASE WHEN sa.mh_3 = sb.mh_3 THEN 1 ELSE 0 END
     + CASE WHEN sa.mh_4 = sb.mh_4 THEN 1 ELSE 0 END
     + CASE WHEN sa.mh_5 = sb.mh_5 THEN 1 ELSE 0 END) AS m6,
    CAST(len(list_filter(sa.feats, x -> list_contains(sb.feats, x))) AS DOUBLE)
      / CAST(len(sa.feats) + len(sb.feats)
             - len(list_filter(sa.feats, x -> list_contains(sb.feats, x)))
        AS DOUBLE) AS exact_j
  FROM cand c
  JOIN banded sa ON c.doc_a = sa.doc_id
  JOIN banded sb ON c.doc_b = sb.doc_id
), ks AS (
  SELECT unnest([{', '.join(str(k) for k in _MH_SIZES)}]) AS n_hashes
), per AS (
  SELECT ks.n_hashes,
    ROUND(ABS(
      CASE ks.n_hashes WHEN 2 THEN m2 / 2.0
                       WHEN 4 THEN m4 / 4.0
                       ELSE m6 / 6.0 END - exact_j), 6) AS abs_err
  FROM err CROSS JOIN ks
)
SELECT CAST(n_hashes AS INTEGER) AS n_hashes,
  CAST(COUNT(*) AS BIGINT) AS n_pairs,
  ROUND(CAST(SUM(CAST(abs_err AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
    AS mean_abs_err,
  ROUND(MAX(abs_err), 6) AS max_abs_err
FROM per
GROUP BY n_hashes
"""


@register(
    "minhash_size_frontier",
    oracle=_MH_SIZE_ORACLE,
    tags=("dedup", "llm", "gate"),
)
def minhash_size_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator error vs signature size, as one result set:
    for k ∈ {2, 4, 6} hashes, the mean and max |estimate − exact
    Jaccard| over the SAME LSH candidate pairs — the sketch-budget
    curve that says how many hashes a signature needs (expected error
    scales ~1/√k; the mean column is that law made driver-visible,
    the companion of ``minhash_jaccard_error``'s per-pair view).

    Cost shape: signatures and bands are ONE scan-side pass (prefixes
    of the same 6-hash signature — a k-hash estimate is the first k
    minhashes, so no extra hashing per frontier point); candidates
    come from the same banded bucket join as ``dedup_minhash_lsh``
    (never all-pairs); the per-k variants are arithmetic over the one
    joined pair set, exploded by a 3-row literal. Mean abs-err
    accumulates via 6dp-decimal sums so partition order can't perturb
    the reported mean.
    """
    feats = _rep_features(spark, sf_dir).persist()
    mh = [TX.minhash(F.col("feats"), s) for s in range(6)]
    sig = (
        feats.select(
            "doc_id", "feats", *[mh[s].alias(f"mh_{s}") for s in range(6)]
        )
        .select(
            "*",
            F.md5(F.concat("mh_0", "mh_1")).alias("band_0"),
            F.md5(F.concat("mh_2", "mh_3")).alias("band_1"),
            F.md5(F.concat("mh_4", "mh_5")).alias("band_2"),
        )
        .persist()
    )
    bucket = sig.select(
        "doc_id",
        F.posexplode(F.array("band_0", "band_1", "band_2")).alias(
            "band_idx", "band_key"
        ),
    ).filter(F.col("band_key").isNotNull())
    # stats-barriered (r13, replacing the r12 merge hint): both sides
    # of the band self-join are corpus-sized with a Generate-blind
    # static estimate (the ×100-smoke broadcast class — see
    # lsh_candidate_pairs); the barrier keeps the static plan
    # SMJ while AQE's size-measured runtime BHJ conversion stays free.
    bucket = stats_barrier(bucket)
    a = bucket.alias("a")
    b = bucket.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    ssrc = stats_barrier(sig)
    sa = ssrc.select(
        F.col("doc_id").alias("doc_a"),
        F.col("feats").alias("fa"),
        *[F.col(f"mh_{s}").alias(f"a_mh_{s}") for s in range(6)],
    )
    sb = ssrc.select(
        F.col("doc_id").alias("doc_b"),
        F.col("feats").alias("fb"),
        *[F.col(f"mh_{s}").alias(f"b_mh_{s}") for s in range(6)],
    )
    m = [
        F.when(F.col(f"a_mh_{s}") == F.col(f"b_mh_{s}"), 1).otherwise(0)
        for s in range(6)
    ]
    inter = F.size(F.array_intersect("fa", "fb"))
    exact = inter.cast("double") / (
        F.size("fa") + F.size("fb") - inter
    ).cast("double")
    err = (
        # stats-barriered above: sa/sb carry corpus-sized feature
        # arrays the static planner would broadcast on a Generate-
        # blind estimate (the r12 ×100-smoke class — see
        # dedup_minhash_lsh); the barrier replaces the r12
        # merge hints and re-enables AQE's runtime conversion.
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            (m[0] + m[1]).alias("m2"),
            (m[0] + m[1] + m[2] + m[3]).alias("m4"),
            (m[0] + m[1] + m[2] + m[3] + m[4] + m[5]).alias("m6"),
            exact.alias("exact_j"),
        )
    )
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in _MH_SIZES])).alias("n_hashes")
    )
    est = (
        F.when(F.col("n_hashes") == 2, F.col("m2") / 2.0)
        .when(F.col("n_hashes") == 4, F.col("m4") / 4.0)
        .otherwise(F.col("m6") / 6.0)
    )
    per = err.crossJoin(F.broadcast(ks)).select(
        "n_hashes",
        F.round(F.abs(est - F.col("exact_j")), 6).alias("abs_err"),
    )
    return per.groupBy("n_hashes").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.round(
            F.sum(F.col("abs_err").cast("decimal(18,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("mean_abs_err"),
        F.round(F.max("abs_err"), 6).alias("max_abs_err"),
    ).select(
        F.col("n_hashes").cast("int").alias("n_hashes"),
        "n_pairs",
        "mean_abs_err",
        "max_abs_err",
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion of the LSH and IVF ANN rankings
# ---------------------------------------------------------------------------

_RRF_K = 60


def _rrf_oracle() -> str:
    # Compose the two registered ANN oracles verbatim as CTE bodies —
    # the same no-drift discipline the Spark side gets by calling the
    # registered query functions directly.

    return f"""
WITH lsh_q AS ({_LSH_TOPK_ORACLE}),
ivf_q AS ({_IVF_ORACLE}),
lr AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS r
  FROM lsh_q
),
ir AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS r
  FROM ivf_q
),
u AS (
  SELECT query_id, neighbor_id, 1.0 / ({_RRF_K} + r) AS contrib FROM lr
  UNION ALL
  SELECT query_id, neighbor_id, 1.0 / ({_RRF_K} + r) AS contrib FROM ir
),
s AS (
  SELECT query_id, neighbor_id,
         CAST(COUNT(*) AS BIGINT) AS n_lists,
         CAST(SUM(contrib) AS DOUBLE) AS score
  FROM u GROUP BY 1, 2
)
SELECT query_id, neighbor_id, n_lists,
       ROUND(score, 6) AS rrf_score,
       CAST(rank AS BIGINT) AS fused_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id) AS rank
  FROM s
)
WHERE rank <= 5
"""


@register("ann_rrf_fusion", oracle=_rrf_oracle(), tags=("vector", "llm"))
def ann_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (k=60) of the two registered ANN
    rankings — sign-bit LSH (``embedding_lsh_topk``) and IVF nprobe=1
    (``embedding_ivf_topk``): score(n) = Σ_rankers 1/(60+rankᵣ(n)),
    fused top-5 per query. RRF is how hybrid retrieval combines
    rankers whose scores are not calibrated against each other
    (Cormack et al. 2009) — rank positions, not raw similarities, so a
    cosine ranker and a BM25 ranker fuse identically.

    No-drift discipline: the Spark side CALLS the two registered query
    functions and the oracle inlines their oracle SQL verbatim as
    CTEs, so the fusion's candidate sets are definitionally the ones
    the driver already checks (the ``lsh_candidate_pairs`` shared-
    generator precedent).

    Determinism: both input rankings order by bit-identical cosine
    doubles with neighbor_id tie-breaks; each fused score is a sum of
    ≤2 identical doubles (two-term IEEE addition is order-exact);
    final ROUND 6 on output only.

    Scale: each ranker is already bucket/list-bounded; fusion itself
    is one hash-agg + one per-query top-5 window over ≤ 2·k·|queries|
    rows — negligible at any corpus size. Adding a third ranker is a
    UNION ALL branch.
    """

    def ranked(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col("neighbor_id")
        )
        return df.select(
            "query_id",
            "neighbor_id",
            (1.0 / (_RRF_K + F.row_number().over(w))).alias("contrib"),
        )

    u = ranked(embedding_lsh_topk(spark, sf_dir)).unionAll(
        ranked(embedding_ivf_topk(spark, sf_dir))
    )
    s = u.groupBy("query_id", "neighbor_id").agg(
        F.count("*").cast("long").alias("n_lists"),
        F.sum("contrib").cast("double").alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        s.withColumn("fused_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("fused_rank") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            "n_lists",
            F.round("score", 6).alias("rrf_score"),
            "fused_rank",
        )
    )


# ---------------------------------------------------------------------------
# Near-dup rate vs cosine threshold
# ---------------------------------------------------------------------------

_DEDUP_THRESHOLDS = (0.80, 0.90, 0.95)

# Deterministic near-dup injection: class α mixes each vector with a
# circular shift of itself — cos(x, x+α·shift(x)) ≈ 1/√(1+α²) for
# near-orthogonal shifts, so α = 0.2/0.45/0.8 lands ≈0.98/0.91/0.78 —
# one class per threshold band, making every knob setting bite
# differently (the dedup_embedding_cosine universe precedent).
_MIX = (
    "list_transform(range(1, len({e}) + 1), "
    "i -> {e}[i] + {a} * {e}[(i % len({e})) + 1])"
)

# Corpus-sized LSH (helpers shared in functions/vector.py — see the
# SCALE_NOTES "corpus-sized LSH fix" entry): bucket width grows with
# the corpus so the candidate join never saturates; at driver-fixture
# sizes the ladder resolves to 8 bits, bit-identical to sign_bucket.

_DEDUP_FRONTIER_ORACLE = f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
),
e AS (
  SELECT vec_id, embedding FROM base
  UNION ALL
  SELECT vec_id + 1000000, {_MIX.format(e='embedding', a='0.2')}
  FROM base WHERE vec_id % 10 = 0
  UNION ALL
  SELECT vec_id + 2000000, {_MIX.format(e='embedding', a='0.45')}
  FROM base WHERE vec_id % 10 = 3
  UNION ALL
  SELECT vec_id + 3000000, {_MIX.format(e='embedding', a='0.8')}
  FROM base WHERE vec_id % 10 = 6
),
nb AS (
  SELECT {VX.sql_nbits_for_count('COUNT(*)')} AS nbits FROM e
),
b AS (
  SELECT vec_id, embedding,
         {VX.sql_adaptive_sign_bucket('embedding')} AS bucket
  FROM e, nb
),
cand AS (
  SELECT q.vec_id AS qid, c.vec_id AS cid, {_SQL_COS} AS cos_sim
  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id < c.vec_id
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM e),
lat AS (
  SELECT t.threshold, c.qid, c.cid, c.cos_sim
  FROM cand c
  CROSS JOIN (SELECT unnest([0.80, 0.90, 0.95]::DOUBLE[]) AS threshold) t
)
SELECT threshold,
  CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
  CAST(SUM(CASE WHEN cos_sim > threshold THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dup_pairs,
  CAST(COUNT(DISTINCT CASE WHEN cos_sim > threshold THEN cid END) AS BIGINT)
    AS n_dropped,
  ROUND(CAST(COUNT(DISTINCT CASE WHEN cos_sim > threshold THEN cid END)
             AS DOUBLE) / (SELECT n_docs FROM n), 6) AS drop_rate
FROM lat
GROUP BY threshold
"""


@register(
    "dedup_threshold_frontier",
    oracle=_DEDUP_FRONTIER_ORACLE,
    tags=("dedup", "vector", "llm", "frontier"),
)
def dedup_threshold_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate dedup aggressiveness curve: candidate pairs come
    from ONE sign-bit-LSH bucket join with CORPUS-SIZED bucket width
    (smallest b ∈ [8, 20] with 2^b ≥ n/16, by exact integer ladder —
    see the module comment; a FIXED 8-bit bucket space saturates
    quadratically at ×100 corpus, measured 191 s → 18 s with this
    fix, ratio 174 → 12.7) and cosine computed ONCE per pair;
    each threshold ∈ {0.80, 0.90, 0.95} is then a FILTER over that
    shared pair set. The universe injects three deterministic near-dup
    classes (self-mix α = 0.2/0.45/0.8 → cos ≈ 0.98/0.91/0.78, one per
    threshold band — the ``dedup_embedding_cosine`` universe
    precedent), so every knob setting catches a different slice and
    the curve actually curves on the fixture. Emits dup-pair counts, docs dropped under the
    keep-lowest-id rule (a doc drops when ANY lower-id candidate
    exceeds the threshold), and the drop rate — the curve a curation
    team reads before picking the knob that decides what fraction of
    the corpus dies.

    Determinism: cosine doubles are bit-identical across engines
    (float32→double element arithmetic in index order); thresholds are
    exact literals; all counts integer; one final ratio ROUND 6.

    Scale: the candidate pass is the whole cost and it is shared by
    all settings — re-running dedup per threshold at 100 TB is exactly
    what this query exists to avoid. The threshold fan-out (×3) rides
    the candidate set, never the corpus.
    """
    base = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", VX.as_double("embedding").alias("embedding")
    )

    def mix(alpha: float):
        emb = F.col("embedding")
        return F.transform(
            F.sequence(F.lit(1), F.size(emb)),
            lambda i: F.element_at(emb, i)
            + alpha * F.element_at(emb, (i % F.size(emb)) + 1),
        )

    def dup_class(mod: int, offset: int, alpha: float) -> DataFrame:
        return base.filter(F.col("vec_id") % 10 == mod).select(
            (F.col("vec_id") + offset).alias("vec_id"),
            mix(alpha).alias("embedding"),
        )

    e = (
        base.unionAll(dup_class(0, 1_000_000, 0.2))
        .unionAll(dup_class(3, 2_000_000, 0.45))
        .unionAll(dup_class(6, 3_000_000, 0.8))
    )
    nb = e.agg(VX.nbits_for_count(F.count("*")).alias("nbits"))
    b = e.crossJoin(F.broadcast(nb)).select(
        "vec_id",
        "embedding",
        VX.adaptive_sign_bucket("embedding", F.col("nbits")).alias("bucket"),
    )
    q = b.select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("q_emb"),
        "bucket",
    )
    c = b.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("c_emb"),
        F.col("bucket").alias("c_bucket"),
    )
    cand = q.join(
        c, (F.col("bucket") == F.col("c_bucket")) & (F.col("qid") < F.col("cid"))
    ).select("qid", "cid", VX.cosine("q_emb", "c_emb").alias("cos_sim"))
    n = e.agg(F.count("*").cast("long").alias("n_docs"))
    lat = cand.select(
        "qid",
        "cid",
        "cos_sim",
        F.explode(
            F.array(*[F.lit(t) for t in _DEDUP_THRESHOLDS])
        ).alias("threshold"),
    )
    hit = F.col("cos_sim") > F.col("threshold")
    g = lat.groupBy("threshold").agg(
        F.count("*").cast("long").alias("n_candidate_pairs"),
        F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("n_dup_pairs"),
        F.count_distinct(F.when(hit, F.col("cid"))).cast("long").alias(
            "n_dropped"
        ),
    )
    return g.crossJoin(F.broadcast(n)).select(
        "threshold",
        "n_candidate_pairs",
        "n_dup_pairs",
        "n_dropped",
        F.round(
            F.col("n_dropped").cast("double") / F.col("n_docs"), 6
        ).alias("drop_rate"),
    )


# 16 permutations: agreement granularity 1/16 — enough to rank source
# pairs (the decision is "audit this pair or not", not a tight
# estimate); the std error of the estimate is sqrt(J(1-J)/16) <= 0.125.
_N_PERM = 16

_SIG_COLS_SQL = ",\n  ".join(
    f"MIN({_sql_minhash(s)}) AS sig_{s}" for s in range(_N_PERM)
)

_AGREE_SQL = " + ".join(
    f"(CASE WHEN a.sig_{s} IS NOT DISTINCT FROM b.sig_{s} "
    "THEN 1 ELSE 0 END)"
    for s in range(_N_PERM)
)

_SOURCE_OVERLAP_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, source, {_SQL_TOKS} AS toks FROM documents
), feat AS (
  SELECT doc_id, source, {_SQL_SHINGLES.format(t='toks')} AS feats FROM tok
), sig AS (
  SELECT source,
  COUNT(*) AS n_docs,
  {_SIG_COLS_SQL}
  FROM feat GROUP BY source
)
SELECT
  a.source AS source_a,
  b.source AS source_b,
  a.n_docs AS n_docs_a,
  b.n_docs AS n_docs_b,
  CAST({_AGREE_SQL} AS BIGINT) AS n_agree,
  ROUND(CAST({_AGREE_SQL} AS DOUBLE) / {_N_PERM}, 6) AS jaccard_est
FROM sig a JOIN sig b ON a.source < b.source
"""


@register(
    "source_minhash_overlap",
    oracle=_SOURCE_OVERLAP_ORACLE,
    tags=("dedup", "llm", "stats"),
)
def source_minhash_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix from source-union MinHash
    signatures: for each unordered source pair, the fraction of the
    16 permutations whose signatures agree — an unbiased estimate of
    the Jaccard similarity of the two sources' full shingle-set
    unions.

    Plan shape (the 100 TB contract):
    1. One linear scan-side pass: shingle + 16 md5 minhashes per doc
       (the same ``_doc_features`` stage every near-dup operator
       shares, fanned out across cores).
    2. One hash-agg doc→source: ``min`` per permutation. Map-side
       combine collapses each partition to |sources| rows before the
       shuffle, so shuffle bytes are |sources| x 16 digests per
       partition — independent of corpus size.
    3. Pairwise stage on the AGGREGATED table only: |sources|^2/2
       comparisons of 16-value signatures. Sources number in the
       dozens-to-thousands; at web scale (millions of domains) the
       same signatures would be LSH-banded exactly like
       ``lsh_candidate_pairs`` bands doc signatures — the plan
       degrades to the already-registered banding, never to doc-pair
       cost.

    NULL convention: a source whose every doc is shorter than one
    shingle has NULL signatures; agreement uses null-safe equality
    (``eqNullSafe`` / ``IS NOT DISTINCT FROM``) so the row is still
    produced and two such degenerate sources count as agreeing.
    """
    d = read_table(spark, sf_dir, "documents")
    # stats-barriered (r13, replacing the r12 merge hint): BOTH sides
    # are doc-grain (corpus-growing) — the static planner broadcast the
    # FEATURES side because its Generate-blind estimate undercut the
    # honest scan estimate of the (doc_id, source) projection (the
    # ×100-smoke class). The barrier keeps the static plan SMJ while
    # AQE's size-measured runtime BHJ conversion stays free.
    feats = stats_barrier(_doc_features(spark, sf_dir)).join(
        d.select("doc_id", "source"), "doc_id"
    )
    doc_sigs = feats.select(
        "source", *[TX.minhash(F.col("feats"), s) for s in range(_N_PERM)]
    ).toDF("source", *[f"sig_{s}" for s in range(_N_PERM)])
    # persist: the self-join below references this table twice; without
    # it Spark re-executes the whole shingle + 16-way md5 scan for BOTH
    # sides (observed: two identical partial_min aggregates in the
    # plan). The persisted table is |sources| x 17 values. Measured
    # honestly at sf0.1 the persist is a slight LOSS (1.68 s vs 1.43 s
    # cold — materialization breaks the codegen pipeline and the tiny
    # corpus re-scan is cheaper than the cache round-trip), but the
    # no-persist plan re-reads the ENTIRE corpus for the second join
    # side, which at 100 TB doubles the dominant cost; the persist
    # keeps the second read at sketch size. Registry-standard
    # .persist() precedent: minhash_size_frontier,
    # jaccard_prefix_filter_pairs. (localCheckpoint was
    # measured strictly worse on both counts — extra RDD stages.)
    src = doc_sigs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        *[F.min(f"sig_{s}").alias(f"sig_{s}") for s in range(_N_PERM)],
    ).persist()
    a = src.alias("a")
    b = src.alias("b")
    agree = sum(
        F.when(
            F.col(f"a.sig_{s}").eqNullSafe(F.col(f"b.sig_{s}")), 1
        ).otherwise(0)
        for s in range(_N_PERM)
    )
    return (
        a.join(F.broadcast(b), F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            F.col("a.n_docs").alias("n_docs_a"),
            F.col("b.n_docs").alias("n_docs_b"),
            agree.cast("bigint").alias("n_agree"),
            F.round(agree.cast("double") / _N_PERM, 6).alias("jaccard_est"),
        )
    )


# ---------------------------------------------------------------------------
# Connected-components superstep convergence
# ---------------------------------------------------------------------------

_CC_STEPS = 3


def _sql_cc_step(prev: str, cur: str) -> str:
    """One unrolled min-label-propagation step (mirrors the Spark loop
    body in dedup_connected_components expression-for-expression)."""
    return f"""{cur} AS (
  SELECT x.doc_id, MIN(x.component_id) AS component_id FROM (
    SELECT doc_id, component_id FROM {prev}
    UNION ALL
    SELECT e.src AS doc_id, p.component_id
    FROM edges e JOIN {prev} p ON p.doc_id = e.dst
  ) x GROUP BY x.doc_id
)"""


_CC_CONV_ORACLE = (
    rf"""
WITH {CC_EDGES_SQL_CTES}, l0 AS (
  SELECT doc_id, doc_id AS component_id FROM documents
),
"""
    + ",\n".join(_sql_cc_step(f"l{k}", f"l{k + 1}") for k in range(_CC_STEPS))
    + "\n"
    + " UNION ALL ".join(
        f"""
SELECT CAST({k + 1} AS INTEGER) AS superstep,
       (SELECT CAST(COUNT(*) AS BIGINT)
        FROM l{k + 1} n JOIN l{k} o USING (doc_id)
        WHERE n.component_id <> o.component_id) AS n_changed"""
        for k in range(_CC_STEPS)
    )
)


@register(
    "cc_superstep_convergence",
    oracle=_CC_CONV_ORACLE,
    tags=("dedup", "llm", "iterative", "stats"),
)
def cc_superstep_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labels changed per superstep for min-label propagation over the
    EXACT connected-components edge set (shared cc_edge_set — not a
    re-derivation): one row per unrolled superstep (1..3) with the
    count of documents whose component label changed in that step.

    dedup_connected_components runs the same propagation with a
    driver-side early exit capped at 20 rounds; this audit makes its
    termination claim ("near-dup clusters are shallow — a handful of
    rounds") driver-verifiable: n_changed must hit 0 within the
    unrolled depth, and the step-over-step decay profile is the
    cluster-diameter distribution made visible. The pytest asserts
    the final step's count is 0 (propagation fully converged at depth
    3 on this corpus).

    Plan shape (r12): each superstep is one broadcast join (edges are
    sparse near-dup pairs, tiny vs the corpus) + a min hash-agg at
    EDGE-NODE grain — identical per-step cost to the CC query itself;
    the changed-count rides the same aggregate (the own-label fold),
    so it is a filter over the checkpointed step frame, not a join.
    Labels are localCheckpointed per step (the CC loop's own lineage
    policy), so the three counts don't re-execute shared superstep
    lineage.

    Determinism: labels are exact MIN aggregates of doc_ids (total
    order, no floats anywhere) — counts are bit-identical
    cross-engine by construction.
    """
    edges = cc_edge_set(spark, sf_dir)
    # Propagate on the EDGE-NODE subgraph with the superstep
    # dedup_connected_components runs (cc_superstep): isolated docs
    # never change label, so every per-step n_changed is bit-identical
    # while each superstep shuffles dup-graph-sized frames (477 nodes
    # vs 5,000 docs at sf0.1), and the changed count is a filter over
    # the checkpointed step frame, not a join.
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component_id", F.col("doc_id"))
        .localCheckpoint()
    )
    out: DataFrame | None = None
    for step in range(1, _CC_STEPS + 1):
        merged = cc_superstep(edges, labels).localCheckpoint()
        changed = (
            merged.filter(F.col("component_id") != F.col("__old"))
            .agg(F.count("*").cast("bigint").alias("n_changed"))
            .select(
                F.lit(step).cast("int").alias("superstep"), "n_changed"
            )
        )
        out = changed if out is None else out.unionByName(changed)
        labels = merged.select("doc_id", "component_id")
    edges.unpersist()
    return out


_CANON_ORACLE = rf"""
WITH RECURSIVE {CC_EDGES_SQL_CTES}, reach(doc_id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.doc_id = e.dst
), comp AS (
  SELECT doc_id, MIN(r) AS component_id FROM reach GROUP BY doc_id
), q AS (
  SELECT doc_id, quality_score FROM ({_QUALITY_ORACLE})
), ranked AS (
  SELECT c.component_id, c.doc_id, q.quality_score,
         ROW_NUMBER() OVER (PARTITION BY c.component_id
                            ORDER BY q.quality_score DESC, c.doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY c.component_id) AS n_members
  FROM comp c JOIN q USING (doc_id)
)
SELECT component_id,
       CAST(n_members AS BIGINT) AS n_members,
       doc_id AS kept_doc,
       ROUND(quality_score, 6) AS kept_quality,
       CAST(n_members - 1 AS BIGINT) AS n_dropped
FROM ranked
WHERE rn = 1 AND n_members >= 2
"""


# Duplicate-cluster canonicalization:
#
# - ``cc_canonical_selection``: for every multi-member near-duplicate
#   component (the connected components of the LSH near-dup graph,
#   shared edge set with ``dedup_connected_components``), choose the
#   ONE document to keep by quality-argmax — highest
#   ``text_quality_score``, ties broken by smallest doc_id — and report
#   the component's size, the kept doc, its quality, and how many
#   copies drop. This is the curation decision the dedup family was
#   building toward: CC tells you WHICH documents are the same content;
#   this operator decides WHICH COPY survives, by the same quality
#   signals the pre-training filter uses, instead of the min-doc_id
#   proxy pairwise dedup defaults to. Composes two registered
#   operators' exact spellings (CC's recursive closure, the quality
#   score's length/diversity/stopword/punct mix) on BOTH engines, so
#   the composition cannot drift from its inputs — the
#   curation_pipeline / ann_rrf_fusion composition discipline.
#
# Registry conventions (plans/registry.py): the quality score is an
# IEEE expression of exact integer counts — bit-identical cross-engine
# (hash-proven since r1 for text_quality_score) — so ORDER BY
# (quality DESC, doc_id) is a deterministic total order; byte-identical
# copies tie on quality and fall to the doc_id tie-break identically.
# Output quality is ROUND 6; counts exact BIGINTs.
#
# Scale: component labels are the CC output (edge-bounded iterative
# join); quality is one document scan; the argmax is a window over
# COMPONENT-sized partitions (near-dup clusters are tiny by
# construction — the corpus-sized "component" does not exist after
# dedup gating) followed by a component-grain agg.
@register(
    "cc_canonical_selection",
    oracle=_CANON_ORACLE,
    tags=("dedup", "llm", "iterative"),
)
def cc_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-argmax canonical document per multi-member near-dup
    component: one row per component with ≥2 members — its size, the
    kept doc (highest quality, then smallest doc_id), the kept doc's
    quality, and the number of copies dropped. See the notes
    above the function for why this replaces min-doc_id keeper selection and
    how determinism is earned.

    The Spark side composes the registered operators directly:
    component labels from dedup_connected_components (shared edge
    set, same propagation), quality from text_quality_score — then
    one window argmax inside component partitions and the rn=1
    projection. No re-derivation of either input.
    """
    comp = dedup_connected_components(spark, sf_dir)
    q = quality_scores(spark, sf_dir).select("doc_id", "quality_score")
    joined = comp.join(q, "doc_id")
    w = Window.partitionBy("component_id")
    ranked = (
        joined.withColumn(
            "rn",
            F.row_number().over(
                w.orderBy(F.col("quality_score").desc(), "doc_id")
            ),
        )
        .withColumn("n_members", F.count("*").over(w))
    )
    return ranked.filter(
        (F.col("rn") == 1) & (F.col("n_members") >= 2)
    ).select(
        "component_id",
        F.col("n_members").cast("bigint").alias("n_members"),
        F.col("doc_id").alias("kept_doc"),
        F.round("quality_score", 6).alias("kept_quality"),
        (F.col("n_members") - 1).cast("bigint").alias("n_dropped"),
    )


# ---------------------------------------------------------------------------
# Reciprocal best match (mutual-NN link pruning)
# ---------------------------------------------------------------------------

_RBM_ORACLE = rf"""
WITH rep AS (
  SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text
), tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM rep
), feat AS (
  SELECT doc_id, {_SQL_SHINGLES.format(t='toks')} AS feats FROM tok
), {_SQL_BAND_CAND_CTES}, scored AS (
  SELECT
    c.doc_a, c.doc_b,
    CAST(len(list_filter(fa.feats, x -> list_contains(fb.feats, x))) AS DOUBLE)
      / CAST(len(fa.feats) + len(fb.feats)
             - len(list_filter(fa.feats, x -> list_contains(fb.feats, x)))
             AS DOUBLE) AS jaccard
  FROM cand c
  JOIN feat fa ON c.doc_a = fa.doc_id
  JOIN feat fb ON c.doc_b = fb.doc_id
), sym AS (
  SELECT doc_a AS doc, doc_b AS partner, jaccard FROM scored
  UNION ALL
  SELECT doc_b, doc_a, jaccard FROM scored
), best AS (
  SELECT doc, partner, jaccard FROM sym
  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc
                             ORDER BY jaccard DESC, partner) = 1
)
SELECT x.doc AS doc_a, x.partner AS doc_b, ROUND(x.jaccard, 6) AS jaccard
FROM best x JOIN best y ON y.doc = x.partner AND y.partner = x.doc
WHERE x.doc < x.partner
"""


@register("reciprocal_best_match", oracle=_RBM_ORACLE, tags=("dedup", "llm"))
def reciprocal_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-best-match pairs over the engine's shared LSH
    candidate generator (lsh_candidate_pairs — same banding as
    dedup_minhash_lsh / dedup_minhash_pr): score every candidate by
    exact shingle Jaccard, take each document's best partner
    (jaccard DESC, partner id ASC — a deterministic total order since
    Jaccards are exact-integer ratios), and keep pairs where the
    choice is MUTUAL. This is the 1:1 link-decision step of entity
    resolution: it prunes asymmetric hub attractions (a boilerplate
    doc that is everyone's best match but reciprocates only one).

    Scale: candidates are band-bucketed (never O(n²)); scoring
    re-fetches only candidate docs' features (hash array_intersect —
    O(|A|+|B|) codegen, not an interpreted lambda); the argmax windows
    partition by doc_id with bucket-bounded fan-in; the mutuality
    check is a self-equi-join of the (doc → best partner) frame on the
    reversed key — node-sized, not pair-sized.
    """
    feats = _rep_features(spark, sf_dir).persist()
    cand = lsh_candidate_pairs(feats)
    # stats-barriered (r13, replacing the r12 merge hints): fa/fb carry
    # corpus-sized feature arrays the static planner would broadcast on
    # a Generate-blind estimate (the ×100-smoke class — see
    # dedup_minhash_lsh); the barrier keeps the static plan SMJ
    # and re-enables AQE's size-measured runtime BHJ conversion.
    fsrc = stats_barrier(feats)
    fa = fsrc.select(F.col("doc_id").alias("doc_a"), F.col("feats").alias("fa"))
    fb = fsrc.select(F.col("doc_id").alias("doc_b"), F.col("feats").alias("fb"))
    inter = F.size(F.array_intersect("fa", "fb"))
    union = F.size("fa") + F.size("fb") - inter
    scored = (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        # consumed twice (once per direction of sym): persist so the
        # banding + scoring lineage runs once, not once per branch
        .persist()
    )
    sym = scored.select(
        F.col("doc_a").alias("doc"), F.col("doc_b").alias("partner"), "jaccard"
    ).unionAll(
        scored.select(
            F.col("doc_b").alias("doc"), F.col("doc_a").alias("partner"), "jaccard"
        )
    )
    w = Window.partitionBy("doc").orderBy(F.desc("jaccard"), "partner")
    best = (
        sym.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc", "partner", "jaccard")
        # consumed twice (forward + reversed side of the mutuality
        # join): persist the node-sized frame
        .persist()
    )
    bsrc = stats_barrier(best)
    rev = bsrc.select(
        F.col("doc").alias("partner"), F.col("partner").alias("doc")
    )
    return (
        # stats-barriered: both sides are the node-sized best-partner
        # frame (corpus-growing; same Generate-blind estimate class).
        bsrc.join(rev, ["doc", "partner"])
        .filter(F.col("doc") < F.col("partner"))
        .select(
            F.col("doc").alias("doc_a"),
            F.col("partner").alias("doc_b"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Bag (multiset) Jaccard next to set Jaccard for LSH candidates
# ---------------------------------------------------------------------------

_BAG_JACCARD_ORACLE = rf"""
WITH rep AS (
  SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text
), tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM rep
), feat AS (
  SELECT doc_id, {_SQL_SHINGLES.format(t='toks')} AS feats FROM tok
), {_SQL_BAND_CAND_CTES}, tc AS (
  SELECT doc_id, t AS tok, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(toks) AS t FROM tok)
  GROUP BY doc_id, t
), sizes AS (
  SELECT doc_id, SUM(c) AS n_bag, COUNT(*) AS n_set FROM tc GROUP BY doc_id
), shared AS (
  SELECT c.doc_a, c.doc_b,
         SUM(LEAST(ta.c, tb.c)) AS s_min,
         COUNT(*) AS inter_set
  FROM cand c
  JOIN tc ta ON ta.doc_id = c.doc_a
  JOIN tc tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
  GROUP BY c.doc_a, c.doc_b
)
SELECT s.doc_a, s.doc_b,
       ROUND(CAST(s.s_min AS DOUBLE)
             / CAST(sa.n_bag + sb.n_bag - s.s_min AS DOUBLE), 6)
         AS bag_jaccard,
       ROUND(CAST(s.inter_set AS DOUBLE)
             / CAST(sa.n_set + sb.n_set - s.inter_set AS DOUBLE), 6)
         AS set_jaccard
FROM shared s
JOIN sizes sa ON sa.doc_id = s.doc_a
JOIN sizes sb ON sb.doc_id = s.doc_b
"""


@register("bag_jaccard_pairs", oracle=_BAG_JACCARD_ORACLE, tags=("dedup", "llm"))
def bag_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (bag) token Jaccard Σmin/Σmax next to plain set
    Jaccard for the shared LSH candidate pairs — repetition-aware
    similarity (Σmax = |A|+|B|−Σmin over token COUNTS), the overlap
    measure that separates 'same content' from 'same content repeated
    10×', which set semantics cannot see. Pairs with bag ≪ set are
    exactly the internally-repetitive docs the repetition_score
    operator flags doc-wise.

    Scale: candidates from the band-bucketed generator (never O(n²));
    per-doc token counts are one hash-agg; the pair scoring joins
    candidate×token-count frames keyed on (doc, 8-byte xxhash64 token
    digest) — equality keys only, never output, so they shuffle as
    digests (lsh_candidate_pairs band-key discipline); the raw-string-keyed
    DuckDB oracle is the collision check. Bag/set sizes are doc-grain
    broadcast-able side frames.
    """
    d = fan_out(read_table(spark, sf_dir, "documents").select("doc_id", "text"))
    rep = d.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    feats = _rep_features(spark, sf_dir).persist()
    cand = lsh_candidate_pairs(feats)
    tc = (
        rep.select("doc_id", F.explode(TX.tokens("text")).alias("tok"))
        .groupBy("doc_id", F.xxhash64("tok").alias("tokd"))
        .agg(F.count("*").alias("c"))
    ).persist()
    sizes = tc.groupBy("doc_id").agg(
        F.sum("c").alias("n_bag"), F.count("*").alias("n_set")
    )
    # stats-barriered (r13, replacing the r12 merge hints): ta/tb are
    # corpus-sized exploded token-count frames the static planner would
    # broadcast on Generate-blind estimates (the ×100-smoke class — see
    # lsh_candidate_pairs); static stays SMJ, AQE runtime conversion free.
    tsrc = stats_barrier(tc)
    ta = tsrc.select(
        F.col("doc_id").alias("doc_a"), "tokd", F.col("c").alias("ca")
    )
    tb = tsrc.select(
        F.col("doc_id").alias("doc_b"), "tokd", F.col("c").alias("cb")
    )
    shared = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "tokd"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.least("ca", "cb")).alias("s_min"),
            F.count("*").alias("inter_set"),
        )
    )
    # stats-barriered: sa/sb are doc-grain (corpus-growing) size
    # tables — same class as above.
    zsrc = stats_barrier(sizes)
    sa = zsrc.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n_bag").alias("na_bag"),
        F.col("n_set").alias("na_set"),
    )
    sb = zsrc.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n_bag").alias("nb_bag"),
        F.col("n_set").alias("nb_set"),
    )
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("s_min").cast("double")
                / (F.col("na_bag") + F.col("nb_bag") - F.col("s_min")).cast(
                    "double"
                ),
                6,
            ).alias("bag_jaccard"),
            F.round(
                F.col("inter_set").cast("double")
                / (
                    F.col("na_set") + F.col("nb_set") - F.col("inter_set")
                ).cast("double"),
                6,
            ).alias("set_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Retrieval evaluation: MAP@10 / MRR@10 by label relevance
# ---------------------------------------------------------------------------

_MAP_K = 10

_MAP_ORACLE = f"""
WITH topk AS (
  SELECT q.vec_id AS query_id, q.label AS q_label,
         c.vec_id AS neighbor_id, c.label AS c_label,
         row_number() OVER (
           PARTITION BY q.vec_id ORDER BY {_SQL_COS} DESC, c.vec_id) AS rnk
  FROM embeddings q
  JOIN embeddings c
    ON q.vec_id % 100 = 0 AND q.vec_id < {100 * _NDCG_QUERIES}
   AND c.vec_id <> q.vec_id
  QUALIFY rnk <= {_MAP_K}
), lab AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_label FROM embeddings GROUP BY label
), hits AS (
  SELECT query_id, rnk,
         CASE WHEN c_label = q_label THEN 1 ELSE 0 END AS rel,
         SUM(CASE WHEN c_label = q_label THEN 1 ELSE 0 END)
           OVER (PARTITION BY query_id ORDER BY rnk
                 ROWS UNBOUNDED PRECEDING) AS n_hits
  FROM topk
), perq AS (
  SELECT h.query_id,
         CAST(SUM(h.rel) AS BIGINT) AS n_rel10,
         CAST(SUM(CASE WHEN h.rel = 1
                       THEN CAST(ROUND(CAST(h.n_hits AS DOUBLE) / h.rnk, 6)
                                 AS DECIMAL(18,6))
                       ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS ap_num,
         MIN(CASE WHEN h.rel = 1 THEN h.rnk END) AS first_hit
  FROM hits h GROUP BY h.query_id
)
SELECT p.query_id,
       l.n_label - 1 AS r_total,
       p.n_rel10,
       ROUND(p.ap_num / LEAST(CAST(l.n_label - 1 AS DOUBLE), {_MAP_K}.0), 6)
         AS ap_at_10,
       ROUND(COALESCE(1.0 / p.first_hit, 0.0), 6) AS rr_at_10
FROM perq p
JOIN embeddings e ON e.vec_id = p.query_id
JOIN lab l ON l.label = e.label
"""


@register(
    "retrieval_map_mrr", oracle=_MAP_ORACLE, tags=("vector", "llm", "gate")
)
def retrieval_map_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP@10 and MRR@10 of exact cosine retrieval judged by label
    agreement — the rank-position-sensitive retrieval metrics next to
    ``ann_ndcg_at_10``: AP@10 = Σ_(relevant hits) P@rank / min(R, 10)
    integrates precision at every relevant position (R = the query's
    corpus-wide relevant count), MRR scores only the first hit. NDCG
    rewards graded position via log discounts; AP/MRR are the binary-
    relevance numbers retrieval papers and embedding leaderboards
    report — together the three give the full ranking-quality story
    for the embedding space the dedup/ANN family runs on.

    Determinism: precision terms n_hits/rank are ROUND-6 divisions of
    exact integers, summed in DECIMAL(18,6) (order-free, the
    unigram_entropy pattern); the final AP division and the 1/rank
    MRR are single IEEE ops ROUND 6; ranking ties break on
    neighbor_id (total order).

    Scale: identical bounded shape to the NDCG/recall gates — 5
    structurally-capped broadcast query rows against one corpus scan
    (brute_force_topk), per-query windows over ≤ k rows, label
    totals from one hash-agg joined back at #queries grain.
    """
    e = read_table(spark, sf_dir, "embeddings")
    queries = e.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 100 * _NDCG_QUERIES)
    ).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    topk = brute_force_topk(
        e.select("vec_id", "embedding"), queries, _MAP_K, _NDCG_QUERIES
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    qlab = e.select(F.col("vec_id").alias("query_id"), F.col("label").alias("q_label"))
    clab = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("c_label")
    )
    ranked = (
        topk.withColumn("rnk", F.row_number().over(w_rank))
        .join(F.broadcast(qlab), "query_id")
        .join(clab, "neighbor_id")
        .withColumn(
            "rel",
            F.when(F.col("c_label") == F.col("q_label"), 1).otherwise(0),
        )
    )
    w_hits = (
        Window.partitionBy("query_id")
        .orderBy("rnk")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hits = ranked.withColumn("n_hits", F.sum("rel").over(w_hits))
    perq = hits.groupBy("query_id").agg(
        F.sum("rel").cast("long").alias("n_rel10"),
        F.sum(
            F.when(
                F.col("rel") == 1,
                F.round(
                    F.col("n_hits").cast("double") / F.col("rnk"), 6
                ).cast("decimal(18,6)"),
            ).otherwise(F.lit(0).cast("decimal(18,6)"))
        )
        .cast("double")
        .alias("ap_num"),
        F.min(F.when(F.col("rel") == 1, F.col("rnk"))).alias("first_hit"),
    )
    lab = e.groupBy("label").agg(F.count("*").cast("long").alias("n_label"))
    qside = e.select(F.col("vec_id").alias("query_id"), "label")
    return (
        perq.join(F.broadcast(qside), "query_id")
        .join(F.broadcast(lab), "label")
        .select(
            "query_id",
            (F.col("n_label") - 1).alias("r_total"),
            "n_rel10",
            F.round(
                F.col("ap_num")
                / F.least(
                    (F.col("n_label") - 1).cast("double"), F.lit(float(_MAP_K))
                ),
                6,
            ).alias("ap_at_10"),
            F.round(
                F.coalesce(
                    F.lit(1.0) / F.col("first_hit"), F.lit(0.0)
                ),
                6,
            ).alias("rr_at_10"),
        )
    )


# ---------------------------------------------------------------------------
# Fellegi-Sunter agreement-pattern weight table
# ---------------------------------------------------------------------------

_FS_ORACLE = rf"""
WITH rep AS (
  SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text
), tok AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM rep
), feat AS (
  SELECT doc_id, {_SQL_SHINGLES.format(t='toks')} AS feats FROM tok
), {_SQL_BAND_CAND_CTES}, scored AS (
  SELECT c.doc_a, c.doc_b,
         len(list_filter(fa.feats, x -> list_contains(fb.feats, x))) AS i_n,
         len(fa.feats) + len(fb.feats)
           - len(list_filter(fa.feats, x -> list_contains(fb.feats, x))) AS u_n
  FROM cand c
  JOIN feat fa ON c.doc_a = fa.doc_id
  JOIN feat fb ON c.doc_b = fb.doc_id
), pr AS (
  SELECT CASE WHEN s.i_n * 2 >= s.u_n THEN 1 ELSE 0 END AS mt,
         CASE WHEN da.lang = db.lang THEN 1 ELSE 0 END AS ag_lang,
         CASE WHEN da.source = db.source THEN 1 ELSE 0 END AS ag_src,
         CASE WHEN da.n_chars // 100 = db.n_chars // 100 THEN 1 ELSE 0 END
           AS ag_len
  FROM scored s
  JOIN documents da ON s.doc_a = da.doc_id
  JOIN documents db ON s.doc_b = db.doc_id
), st AS (
  SELECT CAST(SUM(mt) AS BIGINT) AS n_m,
         CAST(SUM(1 - mt) AS BIGINT) AS n_u,
         CAST(SUM(mt * ag_lang) AS BIGINT) AS am_lang,
         CAST(SUM((1 - mt) * ag_lang) AS BIGINT) AS au_lang,
         CAST(SUM(mt * ag_src) AS BIGINT) AS am_src,
         CAST(SUM((1 - mt) * ag_src) AS BIGINT) AS au_src,
         CAST(SUM(mt * ag_len) AS BIGINT) AS am_len,
         CAST(SUM((1 - mt) * ag_len) AS BIGINT) AS au_len
  FROM pr
), pat AS (
  SELECT ag_lang, ag_src, ag_len,
         CAST(SUM(mt) AS BIGINT) AS n_match,
         CAST(SUM(1 - mt) AS BIGINT) AS n_nonmatch
  FROM pr GROUP BY ag_lang, ag_src, ag_len
)
SELECT
  (CASE WHEN p.ag_lang = 1 THEN 'A' ELSE 'D' END
   || CASE WHEN p.ag_src = 1 THEN 'A' ELSE 'D' END
   || CASE WHEN p.ag_len = 1 THEN 'A' ELSE 'D' END) AS pattern,
  p.ag_lang, p.ag_src, p.ag_len, p.n_match, p.n_nonmatch,
  CAST(
    CAST(ROUND(log2(
      (CASE WHEN p.ag_lang = 1
            THEN (CAST(s.am_lang AS DOUBLE) + 1.0) / (CAST(s.n_m AS DOUBLE) + 2.0)
            ELSE 1.0 - (CAST(s.am_lang AS DOUBLE) + 1.0) / (CAST(s.n_m AS DOUBLE) + 2.0) END)
      / (CASE WHEN p.ag_lang = 1
              THEN (CAST(s.au_lang AS DOUBLE) + 1.0) / (CAST(s.n_u AS DOUBLE) + 2.0)
              ELSE 1.0 - (CAST(s.au_lang AS DOUBLE) + 1.0) / (CAST(s.n_u AS DOUBLE) + 2.0) END)
    ), 6) AS DECIMAL(18,6))
    + CAST(ROUND(log2(
      (CASE WHEN p.ag_src = 1
            THEN (CAST(s.am_src AS DOUBLE) + 1.0) / (CAST(s.n_m AS DOUBLE) + 2.0)
            ELSE 1.0 - (CAST(s.am_src AS DOUBLE) + 1.0) / (CAST(s.n_m AS DOUBLE) + 2.0) END)
      / (CASE WHEN p.ag_src = 1
              THEN (CAST(s.au_src AS DOUBLE) + 1.0) / (CAST(s.n_u AS DOUBLE) + 2.0)
              ELSE 1.0 - (CAST(s.au_src AS DOUBLE) + 1.0) / (CAST(s.n_u AS DOUBLE) + 2.0) END)
    ), 6) AS DECIMAL(18,6))
    + CAST(ROUND(log2(
      (CASE WHEN p.ag_len = 1
            THEN (CAST(s.am_len AS DOUBLE) + 1.0) / (CAST(s.n_m AS DOUBLE) + 2.0)
            ELSE 1.0 - (CAST(s.am_len AS DOUBLE) + 1.0) / (CAST(s.n_m AS DOUBLE) + 2.0) END)
      / (CASE WHEN p.ag_len = 1
              THEN (CAST(s.au_len AS DOUBLE) + 1.0) / (CAST(s.n_u AS DOUBLE) + 2.0)
              ELSE 1.0 - (CAST(s.au_len AS DOUBLE) + 1.0) / (CAST(s.n_u AS DOUBLE) + 2.0) END)
    ), 6) AS DECIMAL(18,6))
  AS DOUBLE) AS fs_weight
FROM pat p CROSS JOIN st s
"""


def _fs_field_weight(ag: Column, am: Column, au: Column, n_m: Column, n_u: Column) -> Column:
    """One field's ROUND-6 log₂ weight as DECIMAL(18,6): log₂(m/u) on
    agreement, log₂((1−m)/(1−u)) on disagreement, with Laplace
    (+1)/(+2) smoothing pinning every probability inside (0,1)."""
    m = (am.cast("double") + F.lit(1.0)) / (n_m.cast("double") + F.lit(2.0))
    u = (au.cast("double") + F.lit(1.0)) / (n_u.cast("double") + F.lit(2.0))
    num = F.when(ag == 1, m).otherwise(F.lit(1.0) - m)
    den = F.when(ag == 1, u).otherwise(F.lit(1.0) - u)
    return F.round(F.log2(num / den), 6).cast("decimal(18,6)")


@register(
    "fellegi_sunter_patterns", oracle=_FS_ORACLE, tags=("dedup", "llm", "stats")
)
def fellegi_sunter_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage over the engine's
    shared LSH candidate generator: every candidate pair is labeled
    matched/unmatched by the exact-Jaccard ≥ ½ truth (integer algebra,
    the dedup family's threshold), agreement indicators are computed
    on three fields (lang, source, n_chars÷100 length band), and the
    classical weight table is emitted per agreement PATTERN:
    w = Σ_f log₂(m_f/u_f) on agreement, log₂((1−m_f)/(1−u_f)) on
    disagreement, with m/u estimated from the matched/unmatched
    partitions under Laplace (+1)/(+2) smoothing (which also pins
    every log argument strictly inside (0,1) — no ±∞ branch exists).
    The decision-theoretic scoring that generalizes the dedup
    family's single-threshold rule to multi-evidence linkage.

    Scale: candidates are band-bucketed (never O(n²)); attribute
    joins re-fetch only candidate docs' three small fields; m/u live
    in ONE singleton stats row broadcast into the ≤2³-row pattern
    frame. The pair frame is persisted — it feeds both the singleton
    stats agg and the pattern agg (twice-consumed rule).
    """
    feats = _rep_features(spark, sf_dir).persist()
    cand = lsh_candidate_pairs(feats)
    # stats-barriered (r13, replacing the r12 merge hints): fa/fb carry
    # corpus-sized feature arrays the static planner would broadcast on
    # a Generate-blind estimate (the ×100-smoke class — see
    # dedup_minhash_lsh); static stays SMJ, AQE runtime
    # conversion free again.
    fsrc = stats_barrier(feats)
    fa = fsrc.select(F.col("doc_id").alias("doc_a"), F.col("feats").alias("fa"))
    fb = fsrc.select(F.col("doc_id").alias("doc_b"), F.col("feats").alias("fb"))
    inter = F.size(F.array_intersect("fa", "fb"))
    union = F.size("fa") + F.size("fb") - inter
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", (F.col("n_chars") / 100).cast("int").alias("lb")
    )
    da = docs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        F.col("source").alias("src_a"),
        F.col("lb").alias("lb_a"),
    )
    db = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("src_b"),
        F.col("lb").alias("lb_b"),
    )
    pr = (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .select("doc_a", "doc_b", inter.alias("i_n"), union.alias("u_n"))
        .join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            F.when(F.col("i_n") * 2 >= F.col("u_n"), 1).otherwise(0).alias("mt"),
            F.when(F.col("lang_a") == F.col("lang_b"), 1).otherwise(0).alias("ag_lang"),
            F.when(F.col("src_a") == F.col("src_b"), 1).otherwise(0).alias("ag_src"),
            F.when(F.col("lb_a") == F.col("lb_b"), 1).otherwise(0).alias("ag_len"),
        )
        # twice-consumed (singleton m/u stats + pattern agg) AND the
        # upstream LSH lineage is heavy: localCheckpoint materializes
        # the candidate-grain indicator frame and truncates the plan
        .localCheckpoint()
    )
    st = pr.agg(
        F.sum("mt").cast("long").alias("n_m"),
        F.sum(1 - F.col("mt")).cast("long").alias("n_u"),
        F.sum(F.col("mt") * F.col("ag_lang")).cast("long").alias("am_lang"),
        F.sum((1 - F.col("mt")) * F.col("ag_lang")).cast("long").alias("au_lang"),
        F.sum(F.col("mt") * F.col("ag_src")).cast("long").alias("am_src"),
        F.sum((1 - F.col("mt")) * F.col("ag_src")).cast("long").alias("au_src"),
        F.sum(F.col("mt") * F.col("ag_len")).cast("long").alias("am_len"),
        F.sum((1 - F.col("mt")) * F.col("ag_len")).cast("long").alias("au_len"),
    )
    pat = pr.groupBy("ag_lang", "ag_src", "ag_len").agg(
        F.sum("mt").cast("long").alias("n_match"),
        F.sum(1 - F.col("mt")).cast("long").alias("n_nonmatch"),
    )
    joined = pat.crossJoin(F.broadcast(st))
    weight = (
        _fs_field_weight(
            F.col("ag_lang"), F.col("am_lang"), F.col("au_lang"),
            F.col("n_m"), F.col("n_u"),
        )
        + _fs_field_weight(
            F.col("ag_src"), F.col("am_src"), F.col("au_src"),
            F.col("n_m"), F.col("n_u"),
        )
        + _fs_field_weight(
            F.col("ag_len"), F.col("am_len"), F.col("au_len"),
            F.col("n_m"), F.col("n_u"),
        )
    ).cast("double")
    pattern = F.concat(
        F.when(F.col("ag_lang") == 1, "A").otherwise("D"),
        F.when(F.col("ag_src") == 1, "A").otherwise("D"),
        F.when(F.col("ag_len") == 1, "A").otherwise("D"),
    )
    return joined.select(
        pattern.alias("pattern"),
        "ag_lang",
        "ag_src",
        "ag_len",
        "n_match",
        "n_nonmatch",
        weight.alias("fs_weight"),
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss projection distortion audit
# ---------------------------------------------------------------------------

_JL_D = 64

_JL_K = 16

_JL_PAIR_K = 10


def _jl_sign(i: int, j: int) -> float:
    """Deterministic ±1 from md5 — computed ONCE here in Python; both
    engines consume the resulting literals."""
    h = int(hashlib.md5(f"jl:{i}:{j}".encode()).hexdigest()[:8], 16)
    return 1.0 if h % 2 == 0 else -1.0


_JL_ROWS = [[_jl_sign(i, j) for i in range(_JL_D)] for j in range(_JL_K)]

_SQL_JL_ROWS = [
    "[" + ", ".join(repr(v) for v in row) + "]" for row in _JL_ROWS
]

_SQL_JL_D2P = " + ".join(
    f"(list_dot_product(diff, {_SQL_JL_ROWS[j]}) / 4.0)"
    f" * (list_dot_product(diff, {_SQL_JL_ROWS[j]}) / 4.0)"
    for j in range(_JL_K)
)

_JL_ORACLE = f"""
WITH topk AS (
  SELECT q.vec_id AS query_id, q.embedding AS qe,
         c.vec_id AS neighbor_id, c.embedding AS ce,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                     CAST(c.embedding AS DOUBLE[]))
             / nullif(sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                            CAST(q.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                              CAST(c.embedding AS DOUBLE[]))),
                      0.0) DESC,
             c.vec_id) AS rnk
  FROM embeddings q
  JOIN embeddings c
    ON q.vec_id % 100 = 0 AND q.vec_id < {100 * _NDCG_QUERIES}
   AND c.vec_id <> q.vec_id
  QUALIFY rnk <= {_JL_PAIR_K}
), diffd AS (
  SELECT query_id, neighbor_id,
         list_transform(generate_series(1, {_JL_D}),
                        i -> CAST(qe[i] AS DOUBLE) - CAST(ce[i] AS DOUBLE))
           AS diff
  FROM topk
), ratio AS (
  SELECT query_id,
         ROUND(({_SQL_JL_D2P})
               / NULLIF(list_dot_product(diff, diff), 0.0), 6) AS r
  FROM diffd
)
SELECT query_id,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CAST(r AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean_ratio,
       MIN(r) AS min_ratio,
       MAX(r) AS max_ratio
FROM ratio GROUP BY query_id
"""


@register(
    "jl_projection_distortion",
    oracle=_JL_ORACLE,
    tags=("vector", "sketch", "gate"),
)
def jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss distortion audit: squared distances of
    the 5 probe queries' exact top-{k} neighbor pairs, before vs after
    projecting 64-dim embeddings to {p} dims through a fixed ±1 sign
    matrix scaled by 1/√{p} (the database-friendly JL construction —
    Achlioptas 2003: ±1 entries preserve the lemma's guarantees while
    the projection is pure dot products). Per query: mean/min/max of
    the distance-squared ratio. The JL lemma predicts concentration
    near 1 at ε ≈ √(ln n / k); this artifact measures what the {p}-dim
    ANN index would actually do to THESE vectors' geometry — run it
    before trading 4× bandwidth for recall.

    Determinism: the sign matrix is a module literal (md5-derived in
    Python once — neither engine hashes anything); all distances are
    the engine's sequential-fold dot products (bit-compatible with
    list_dot_product); the 16-term projected distance sums in pinned
    written order; per-pair ratios ROUND 6 then decimal-mean.

    Scale: the bounded probe shape (brute_force_topk's structurally
    capped 5-query broadcast) — the audit touches ≤50 pairs no matter
    the corpus; the projection matrix is 1 KB of literals in the
    plan. Auditing a full corpus sample instead would be one
    hash-bucketed sample scan; the shape stays scan → project.
    """
    e = read_table(spark, sf_dir, "embeddings")
    queries = e.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 100 * _NDCG_QUERIES)
    ).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    topk = brute_force_topk(
        e.select("vec_id", "embedding"), queries, _JL_PAIR_K, _NDCG_QUERIES
    )
    qe = e.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    ce = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce")
    )
    diffd = (
        topk.join(F.broadcast(qe), "query_id")
        .join(ce, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.zip_with(
                VX.as_double("qe"), VX.as_double("ce"), lambda a, b: a - b
            ).alias("diff"),
        )
    )
    jl_rows = [
        F.array(*[F.lit(v) for v in row]) for row in _JL_ROWS
    ]
    proj_terms = None
    for row in jl_rows:
        t = VX.dot(F.col("diff"), row) / F.lit(4.0)
        sq = t * t
        proj_terms = sq if proj_terms is None else proj_terms + sq
    ratio = F.round(
        proj_terms / F.nullif(VX.dot("diff", "diff"), F.lit(0.0)), 6
    )
    return (
        diffd.select("query_id", ratio.alias("r"))
        .groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            (
                F.sum(F.col("r").cast("decimal(18,6)")).cast("double")
                / F.count("*")
            ).alias("mean_ratio"),
            F.min("r").alias("min_ratio"),
            F.max("r").alias("max_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# SemDeDup: cluster, find near-dups, prune the centroid-closest member
# ---------------------------------------------------------------------------

_SEM_THETA = 0.9

_SEMDEDUP_ORACLE = f"""
WITH universe AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(CAST(embedding AS DOUBLE[]), x -> x * 0.5)
  FROM embeddings WHERE vec_id % 10 = 0
), cent AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
  FROM embeddings WHERE vec_id < {K}
), dist AS (
  SELECT u.vec_id, u.embedding, c.cid,
         list_reduce(
           list_prepend(0.0,
             list_transform(generate_series(1, len(u.embedding)),
               i -> (u.embedding[i] - c.cvec[i]) * (u.embedding[i] - c.cvec[i]))),
           (a, b) -> a + b) AS d2
  FROM universe u CROSS JOIN cent c
), assigned AS (
  SELECT vec_id, embedding, cid
  FROM dist
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1
), nbu AS (
  SELECT {VX.sql_nbits_for_count('COUNT(*)')} AS nbits FROM universe
), withsim AS (
  SELECT a.vec_id, a.embedding, a.cid,
         {VX.sql_adaptive_sign_bucket('a.embedding')} AS bucket,
         list_dot_product(a.embedding, c.cvec)
           / nullif(sqrt(list_dot_product(a.embedding, a.embedding))
                    * sqrt(list_dot_product(c.cvec, c.cvec)), 0.0) AS csim
  FROM assigned a JOIN cent c ON a.cid = c.cid, nbu
), pairs AS (
  SELECT q.cid,
         CASE WHEN q.csim > c.csim THEN q.vec_id
              WHEN q.csim < c.csim THEN c.vec_id
              ELSE GREATEST(q.vec_id, c.vec_id) END AS pruned_id
  FROM withsim q
  JOIN withsim c
    ON q.cid = c.cid AND q.bucket = c.bucket AND q.vec_id < c.vec_id
  WHERE {_SQL_COS} > {_SEM_THETA}
), per_cluster AS (
  SELECT cid,
         CAST(COUNT(*) AS BIGINT) AS n_dup_pairs,
         CAST(COUNT(DISTINCT pruned_id) AS BIGINT) AS n_pruned
  FROM pairs GROUP BY cid
), sizes AS (
  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_points FROM assigned GROUP BY cid
)
SELECT CAST(s.cid AS INTEGER) AS cluster_id, s.n_points,
       COALESCE(p.n_dup_pairs, 0) AS n_dup_pairs,
       COALESCE(p.n_pruned, 0) AS n_pruned,
       ROUND(CAST(COALESCE(p.n_pruned, 0) AS DOUBLE)
             / CAST(s.n_points AS DOUBLE), 6) AS prune_rate
FROM sizes s LEFT JOIN per_cluster p ON s.cid = p.cid
"""


@register(
    "semdedup_cluster_prune",
    oracle=_SEMDEDUP_ORACLE,
    tags=("dedup", "vector", "llm"),
)
def semdedup_cluster_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the seeded near-dup universe (the
    dedup_embedding_cosine fixture — scaled copies of every 10th
    vector, cosine ≈ 1 to their originals): assign every vector to
    its nearest kmeans seed center (the registered literal-center
    argmin), generate intra-cluster candidates through the adaptive
    sign-bucket LSH, verify exact cosine > {t}, and prune each
    verified pair's member with the HIGHER cosine to its cluster
    centroid (keep-farthest — the diversity-preserving rule that
    distinguishes SemDeDup from keep-lowest-id; ties prune the larger
    id). Per cluster: size, dup pairs, pruned count, prune rate.

    Determinism: assignment argmin is the kmeans fold (sequential
    IEEE, ties to lowest center id); centroid similarities are exact
    doubles against LITERAL centers; the prune decision compares two
    such doubles with an id tie-break; counts exact.

    Scale: the SemDeDup paper's pipeline shape exactly — cluster
    assignment is a narrow projection against k×dim literal centers
    (no shuffle), candidates are (cluster, sign-bucket) equi-join
    buckets (never O(n²) — same candidate discipline as the dedup
    family), verification touches only candidates, and the prune
    aggregation is cluster-grain.
    """
    base = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", VX.as_double("embedding").alias("embedding")
    )
    copies = base.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 0.5).alias("embedding"),
    )
    e = base.unionByName(copies)
    centers = _seed_centers(
        read_table(spark, sf_dir, "embeddings").select(
            "vec_id", VX.as_double("embedding").alias("embedding")
        )
    )
    d = _dists(centers)
    assigned = e.select(
        "vec_id",
        "embedding",
        (F.array_position(d, F.array_min(d)) - 1).cast("int").alias("cid"),
    )
    nb = e.agg(VX.nbits_for_count(F.count("*")).alias("nbits"))
    cvec = F.element_at(_centers_lit(centers), F.col("cid") + 1)
    withsim = (
        assigned.crossJoin(F.broadcast(nb))
        .select(
            "vec_id",
            "embedding",
            "cid",
            VX.adaptive_sign_bucket("embedding", F.col("nbits")).alias("bucket"),
            VX.cosine(F.col("embedding"), cvec).alias("csim"),
        )
        # consumed by both sides of the candidate self-join
        .localCheckpoint()
    )
    q = withsim.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("cid").alias("q_cid"),
        F.col("bucket").alias("q_bucket"),
        F.col("csim").alias("q_csim"),
    )
    c = withsim.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_emb"),
        F.col("cid").alias("c_cid"),
        F.col("bucket").alias("c_bucket"),
        F.col("csim").alias("c_csim"),
    )
    pruned_id = (
        F.when(F.col("q_csim") > F.col("c_csim"), F.col("q_id"))
        .when(F.col("q_csim") < F.col("c_csim"), F.col("c_id"))
        .otherwise(F.greatest("q_id", "c_id"))
    )
    pairs = (
        q.join(
            c,
            (F.col("q_cid") == F.col("c_cid"))
            & (F.col("q_bucket") == F.col("c_bucket"))
            & (F.col("q_id") < F.col("c_id")),
        )
        .filter(VX.cosine("q_emb", "c_emb") > _SEM_THETA)
        .select(F.col("q_cid").alias("cid"), pruned_id.alias("pruned_id"))
    )
    per_cluster = pairs.groupBy("cid").agg(
        F.count("*").cast("long").alias("n_dup_pairs"),
        F.countDistinct("pruned_id").cast("long").alias("n_pruned"),
    )
    sizes = assigned.groupBy("cid").agg(
        F.count("*").cast("long").alias("n_points")
    )
    return (
        sizes.join(F.broadcast(per_cluster), "cid", "left")
        .select(
            F.col("cid").cast("int").alias("cluster_id"),
            "n_points",
            F.coalesce("n_dup_pairs", F.lit(0)).cast("long").alias("n_dup_pairs"),
            F.coalesce("n_pruned", F.lit(0)).cast("long").alias("n_pruned"),
            F.round(
                F.coalesce("n_pruned", F.lit(0)).cast("double")
                / F.col("n_points").cast("double"),
                6,
            ).alias("prune_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation recall
# ---------------------------------------------------------------------------

_MRL_DIMS = (8, 16, 32)

_MRL_K = 3


def _sql_trunc_cos(d: int) -> str:
    return (
        f"list_dot_product(CAST(q.embedding AS DOUBLE[])[1:{d}],"
        f" CAST(c.embedding AS DOUBLE[])[1:{d}])"
        f" / nullif(sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[])[1:{d}],"
        f" CAST(q.embedding AS DOUBLE[])[1:{d}]))"
        f" * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[])[1:{d}],"
        f" CAST(c.embedding AS DOUBLE[])[1:{d}])), 0.0)"
    )


_MRL_ORACLE = f"""
WITH sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_SQL_COS} AS s_full,
         {", ".join(f"{_sql_trunc_cos(d)} AS s_{d}" for d in _MRL_DIMS)}
  FROM embeddings q
  JOIN embeddings c
    ON q.vec_id % 100 = 0 AND q.vec_id < {100 * _NDCG_QUERIES}
   AND c.vec_id <> q.vec_id
), truth AS (
  SELECT query_id, neighbor_id
  FROM sims
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY s_full DESC, neighbor_id) <= {_MRL_K}
)
{" UNION ALL ".join(
    f'''
SELECT CAST({d} AS INTEGER) AS trunc_dim,
       CAST(COUNT(DISTINCT hit.query_id) AS BIGINT) AS n_queries,
       CAST(COUNT(hit.neighbor_id) AS BIGINT) AS n_hits,
       ROUND(CAST(COUNT(hit.neighbor_id) AS DOUBLE)
             / ({_MRL_K}.0 * {_NDCG_QUERIES}), 6) AS recall_at_3
FROM (
  SELECT t.query_id, t.neighbor_id
  FROM (SELECT query_id, neighbor_id FROM sims
        QUALIFY row_number() OVER (PARTITION BY query_id
                                   ORDER BY s_{d} DESC, neighbor_id)
                <= {_MRL_K}) a
  JOIN truth t ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
) hit'''
    for d in _MRL_DIMS
)}
"""


@register(
    "matryoshka_truncation_recall",
    oracle=_MRL_ORACLE,
    tags=("vector", "gate", "frontier"),
)
def matryoshka_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation frontier: recall@{k} of cosine retrieval
    on the FIRST 8/16/32 dimensions against full-64-dim exact
    retrieval, for the 5 standard probe queries — every similarity
    (full + all three truncations) computed in ONE pass over the same
    bounded candidate frame, each truncation then just re-ranks (the
    ann_recall_frontier one-generation discipline). If prefix
    truncation holds recall, the vector index shrinks 2-8× with no
    reindex — the audit to run before adopting MRL-style storage.

    Determinism: truncated similarities are the engine's
    sequential-fold dot products over array slices (list slicing ≡
    F.slice); rankings break ties on neighbor_id; recalls are exact
    hit-count ratios over the fixed {q}×{k} denominator.

    Scale: one structurally-capped broadcast of 5 query rows against
    a corpus scan; the four rankings are windows over ≤(corpus)
    per-query rows with bucket-bounded fan-in — and at real scale the
    truncated rankings would run against the IVF/PQ candidate lists,
    same as the recall gates.
    """
    e = read_table(spark, sf_dir, "embeddings")
    q = (
        e.filter(
            (F.col("vec_id") % 100 == 0)
            & (F.col("vec_id") < 100 * _NDCG_QUERIES)
        )
        .select(
            F.col("vec_id").alias("query_id"),
            VX.as_double("embedding").alias("q_emb"),
        )
        .orderBy("query_id")
        .limit(_NDCG_QUERIES)
    )
    c = fan_out(
        e.select(
            F.col("vec_id").alias("neighbor_id"),
            VX.as_double("embedding").alias("c_emb"),
        )
    )
    sims_cols = [VX.cosine("q_emb", "c_emb").alias("s_full")] + [
        VX.cosine(
            F.slice("q_emb", 1, d), F.slice("c_emb", 1, d)
        ).alias(f"s_{d}")
        for d in _MRL_DIMS
    ]
    sims = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", *sims_cols)
        # four rankings consume the same similarity frame
        .localCheckpoint()
    )
    w_full = Window.partitionBy("query_id").orderBy(
        F.col("s_full").desc(), "neighbor_id"
    )
    truth = (
        sims.withColumn("rn", F.row_number().over(w_full))
        .filter(F.col("rn") <= _MRL_K)
        .select("query_id", "neighbor_id")
    )
    out = None
    for d in _MRL_DIMS:
        w_d = Window.partitionBy("query_id").orderBy(
            F.col(f"s_{d}").desc(), "neighbor_id"
        )
        approx = (
            sims.withColumn("rn", F.row_number().over(w_d))
            .filter(F.col("rn") <= _MRL_K)
            .select("query_id", "neighbor_id")
        )
        # ONE scalar agg (no groupBy): a dim with zero hits still emits
        # its row (n_queries/n_hits = 0) — the nested per-query agg
        # used to drop empty dims from the SQL side at sf0.001
        hits = (
            approx.join(truth, ["query_id", "neighbor_id"])
            .agg(
                F.countDistinct("query_id").cast("long").alias("n_queries"),
                F.count("*").cast("long").alias("n_hits"),
            )
            .select(
                F.lit(d).cast("int").alias("trunc_dim"),
                "n_queries",
                "n_hits",
                F.round(
                    F.col("n_hits").cast("double")
                    / F.lit(float(_MRL_K * _NDCG_QUERIES)),
                    6,
                ).alias("recall_at_3"),
            )
        )
        out = hits if out is None else out.unionAll(hits)
    return out


# ---------------------------------------------------------------------------
# External clustering evaluation: purity + NMI
# ---------------------------------------------------------------------------

_NMI_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label FROM embeddings
), cent AS (
  SELECT vec_id AS cid, emb AS cvec FROM e WHERE vec_id < {K}
), dist AS (
  SELECT e.vec_id, e.label, c.cid,
         list_reduce(
           list_prepend(0.0,
             list_transform(generate_series(1, len(e.emb)),
               i -> (e.emb[i] - c.cvec[i]) * (e.emb[i] - c.cvec[i]))),
           (a, b) -> a + b) AS d2
  FROM e CROSS JOIN cent c
), assigned AS (
  SELECT vec_id, label, cid FROM dist
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1
), cell AS (
  SELECT cid, label, CAST(COUNT(*) AS BIGINT) AS n_cl
  FROM assigned GROUP BY cid, label
), marg_c AS (
  SELECT cid, CAST(SUM(n_cl) AS BIGINT) AS n_c FROM cell GROUP BY cid
), marg_l AS (
  SELECT label, CAST(SUM(n_cl) AS BIGINT) AS n_l FROM cell GROUP BY label
), tot AS (
  SELECT CAST(SUM(n_cl) AS BIGINT) AS n FROM cell
), pur AS (
  SELECT CAST(SUM(mx) AS BIGINT) AS pure_n
  FROM (SELECT cid, MAX(n_cl) AS mx FROM cell GROUP BY cid)
), mi AS (
  SELECT CAST(SUM(CAST(ROUND(
           (CAST(c.n_cl AS DOUBLE) / t.n)
           * log2(CAST(t.n AS DOUBLE) * c.n_cl
                  / (CAST(mc.n_c AS DOUBLE) * ml.n_l)), 6)
         AS DECIMAL(18,6))) AS DOUBLE) AS mi
  FROM cell c
  JOIN marg_c mc ON c.cid = mc.cid
  JOIN marg_l ml ON c.label = ml.label
  CROSS JOIN tot t
), hc AS (
  SELECT CAST(SUM(CAST(ROUND(
           -(CAST(n_c AS DOUBLE) / t.n) * log2(CAST(n_c AS DOUBLE) / t.n), 6)
         AS DECIMAL(18,6))) AS DOUBLE) AS h_c
  FROM marg_c CROSS JOIN tot t
), hl AS (
  SELECT CAST(SUM(CAST(ROUND(
           -(CAST(n_l AS DOUBLE) / t.n) * log2(CAST(n_l AS DOUBLE) / t.n), 6)
         AS DECIMAL(18,6))) AS DOUBLE) AS h_l
  FROM marg_l CROSS JOIN tot t
)
SELECT t.n AS n_points,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM marg_c) AS n_clusters,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM marg_l) AS n_labels,
       ROUND(CAST(p.pure_n AS DOUBLE) / t.n, 6) AS purity,
       ROUND(m.mi, 6) AS mi_bits,
       ROUND(h.h_c, 6) AS h_cluster,
       ROUND(l.h_l, 6) AS h_label,
       ROUND(2.0 * m.mi / NULLIF(h.h_c + l.h_l, 0.0), 6) AS nmi
FROM tot t CROSS JOIN pur p CROSS JOIN mi m CROSS JOIN hc h CROSS JOIN hl l
"""


@register(
    "cluster_nmi_purity",
    oracle=_NMI_ORACLE,
    tags=("vector", "stats", "gate"),
)
def cluster_nmi_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External clustering evaluation of the kmeans seed-center
    assignment against ground-truth labels: purity (majority-label
    mass per cluster) and normalized mutual information
    2·I(C;L)/(H(C)+H(L)) from one contingency table — the standard
    pair of external validity numbers, closing the evaluation loop
    the kmeans family (assignment, Lloyd steps, inertia) reports only
    internal measures for.

    Determinism: the contingency table and marginals are exact
    BIGINTs; every MI/entropy term is ROUND 6 → DECIMAL(18,6) sum
    (unigram_entropy pattern); the final NMI ratio and purity are
    single IEEE ops, NULLIF-guarded.

    Scale: assignment is the literal-center narrow projection (no
    shuffle); ONE hash-agg to the ≤K×|labels| contingency grain;
    marginals, entropies, and MI all run on that bounded grain with
    singleton broadcasts.
    """
    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
        "label",
    )
    centers = _seed_centers(e.select("vec_id", "embedding"))
    dist = _dists(centers)
    assigned = e.select(
        "label",
        (F.array_position(dist, F.array_min(dist)) - 1)
        .cast("int")
        .alias("cid"),
    )
    cell = assigned.groupBy("cid", "label").agg(
        F.count("*").cast("long").alias("n_cl")
    ).localCheckpoint()
    marg_c = cell.groupBy("cid").agg(F.sum("n_cl").cast("long").alias("n_c"))
    marg_l = cell.groupBy("label").agg(
        F.sum("n_cl").cast("long").alias("n_l")
    )
    tot = cell.agg(F.sum("n_cl").cast("long").alias("n"))
    pur = (
        cell.groupBy("cid")
        .agg(F.max("n_cl").alias("mx"))
        .agg(F.sum("mx").cast("long").alias("pure_n"))
    )
    n = F.col("n")
    mi_term = F.round(
        (F.col("n_cl").cast("double") / n)
        * F.log2(
            n.cast("double")
            * F.col("n_cl")
            / (F.col("n_c").cast("double") * F.col("n_l"))
        ),
        6,
    ).cast("decimal(18,6)")
    mi = (
        cell.join(F.broadcast(marg_c), "cid")
        .join(F.broadcast(marg_l), "label")
        .crossJoin(F.broadcast(tot))
        .agg(F.sum(mi_term).cast("double").alias("mi"))
    )
    hc_term = F.round(
        -(F.col("n_c").cast("double") / n)
        * F.log2(F.col("n_c").cast("double") / n),
        6,
    ).cast("decimal(18,6)")
    hc = (
        marg_c.crossJoin(F.broadcast(tot))
        .agg(F.sum(hc_term).cast("double").alias("h_c"))
    )
    hl_term = F.round(
        -(F.col("n_l").cast("double") / n)
        * F.log2(F.col("n_l").cast("double") / n),
        6,
    ).cast("decimal(18,6)")
    hl = (
        marg_l.crossJoin(F.broadcast(tot))
        .agg(F.sum(hl_term).cast("double").alias("h_l"))
    )
    nc = marg_c.agg(F.count("*").cast("long").alias("n_clusters"))
    nl = marg_l.agg(F.count("*").cast("long").alias("n_labels"))
    return (
        tot.crossJoin(F.broadcast(pur))
        .crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hc))
        .crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nl))
        .select(
            F.col("n").alias("n_points"),
            "n_clusters",
            "n_labels",
            F.round(F.col("pure_n").cast("double") / F.col("n"), 6).alias(
                "purity"
            ),
            F.round("mi", 6).alias("mi_bits"),
            F.round("h_c", 6).alias("h_cluster"),
            F.round("h_l", 6).alias("h_label"),
            F.round(
                F.lit(2.0)
                * F.col("mi")
                / F.nullif(F.col("h_c") + F.col("h_l"), F.lit(0.0)),
                6,
            ).alias("nmi"),
        )
    )


# ---------------------------------------------------------------------------
# Centroid-distance outliers (top-20 farthest from any prototype)
# ---------------------------------------------------------------------------

_OUT_TOPN = 20

_DIST_CTE = f"""
e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
), cent AS MATERIALIZED (
  SELECT vec_id AS cid, emb AS cvec FROM e WHERE vec_id < {K}
), dist AS (
  SELECT e.vec_id, c.cid,
         list_reduce(
           list_prepend(0.0,
             list_transform(generate_series(1, len(e.emb)),
               i -> (e.emb[i] - c.cvec[i]) * (e.emb[i] - c.cvec[i]))),
           (a, b) -> a + b) AS d2
  FROM e CROSS JOIN cent c
)"""

_OUTLIER_ORACLE = f"""
WITH {_DIST_CTE},
nearest AS (
  SELECT vec_id, cid, d2
  FROM dist
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1
)
SELECT vec_id,
       CAST(cid AS INTEGER) AS cluster_id,
       ROUND(SQRT(d2), 6) AS centroid_dist
FROM nearest
ORDER BY d2 DESC, vec_id
LIMIT {_OUT_TOPN}
"""


@register(
    "centroid_distance_outliers",
    oracle=_OUTLIER_ORACLE,
    tags=("vector", "llm", "agg"),
)
def centroid_distance_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means-based embedding outliers: each vector's euclidean
    distance to its NEAREST of the {k} fixed seed centers (the
    ``kmeans_assign`` argmin, verbatim), top-{n} by distance — the
    "far from every prototype" anomaly shortlist an embedding
    pipeline reviews before shipping a corpus. Complements
    ``dedup_embedding_cosine`` (too close to something) with the
    opposite tail (close to nothing).

    Determinism: d² is the engine's bit-identical left fold from 0.0
    (list_reduce ≡ F.aggregate); argmin ties break toward the lowest
    center id; the top-{n} boundary orders by (d² DESC, vec_id) — a
    total order over exact comparisons; SQRT of identical doubles,
    ROUND 6.

    Scale: centers are k×dim literals inside a narrow projection (no
    join, no shuffle for scoring); the only ordered stage is the
    TakeOrdered top-{n} (per-partition heaps). One scan.
    """
    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", VX.as_double("embedding").alias("embedding")
    )
    centers = _seed_centers(e)
    d = _dists(centers)
    scored = e.select(
        "vec_id",
        F.array_min(d).alias("d2"),
        (F.array_position(d, F.array_min(d)) - 1).cast("int").alias(
            "cluster_id"
        ),
    )
    return (
        scored.orderBy(F.desc("d2"), "vec_id")
        .limit(_OUT_TOPN)
        .select(
            "vec_id",
            "cluster_id",
            F.round(F.sqrt("d2"), 6).alias("centroid_dist"),
        )
    )


centroid_distance_outliers.__doc__ = centroid_distance_outliers.__doc__.format(
    k=K, n=_OUT_TOPN
)


# ---------------------------------------------------------------------------
# Simplified (centroid-based) silhouette per cluster
# ---------------------------------------------------------------------------

_SIL_ORACLE = f"""
WITH {_DIST_CTE},
nearest AS (
  SELECT vec_id, cid
  FROM dist
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) = 1
),
two AS (
  SELECT vec_id, MIN(d2) AS a2, list_sort(list(d2))[2] AS b2
  FROM dist GROUP BY vec_id
),
s AS (
  SELECT n.cid,
         ROUND((SQRT(t.b2) - SQRT(t.a2))
               / NULLIF(GREATEST(SQRT(t.a2), SQRT(t.b2)), 0), 6) AS sil
  FROM two t JOIN nearest n ON n.vec_id = t.vec_id
)
SELECT CAST(cid AS INTEGER) AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       ROUND(CAST(SUM(CAST(sil AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
         AS mean_silhouette
FROM s
GROUP BY cid
ORDER BY cluster_id
"""


@register(
    "simplified_silhouette", oracle=_SIL_ORACLE, tags=("vector", "llm", "stats")
)
def simplified_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette per cluster: for each embedding, a =
    distance to its own (nearest) centroid, b = distance to the
    runner-up centroid, s = (b−a)/max(a,b) ∈ [0, 1] here (b ≥ a by
    construction in the centroid variant); per-cluster mean s. High
    means tight, well-separated clusters; near 0 means the point sits
    on a boundary. The internal-quality companion of
    ``cluster_nmi_purity`` (which needs external labels), in the
    O(n·k) form that scales — the classic pairwise silhouette is
    O(n²) and exists only as a small-sample audit.

    Determinism: all K distances come from the bit-identical fold;
    a/b are the two smallest of K exact doubles; the owning cluster
    uses the same (d², cid) QUALIFY argmin as ``kmeans_assign``; s is
    a pinned expression ROUND 6; per-cluster means are ROUND-6 terms
    decimal-summed over exact counts.

    Scale: one narrow-projection scan scores every vector against
    k×dim literal centers (no join); one hash-agg to K rows.
    """
    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", VX.as_double("embedding").alias("embedding")
    )
    centers = _seed_centers(e)
    d = _dists(centers)
    sorted_d = F.array_sort(d)
    a2 = F.element_at(sorted_d, 1)
    b2 = F.element_at(sorted_d, 2)
    sil = F.round(
        (F.sqrt(b2) - F.sqrt(a2))
        / F.nullif(F.greatest(F.sqrt(a2), F.sqrt(b2)), F.lit(0.0)),
        6,
    )
    per_vec = e.select(
        (F.array_position(d, F.array_min(d)) - 1).cast("int").alias("cid"),
        sil.alias("sil"),
    )
    return (
        per_vec.groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count("*").cast("long").alias("n_points"),
            F.round(
                F.sum(F.col("sil").cast("decimal(18,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("mean_silhouette"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# Rocchio pseudo-relevance feedback re-ranking (dense embeddings)
# ---------------------------------------------------------------------------

_PRF_QUERY_ID = 0

_PRF_FB = 5

_PRF_TOPN = 10

_PRF_ORACLE = f"""
WITH q AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id = {_PRF_QUERY_ID}
),
base AS (
  SELECT c.vec_id, c.label, c.embedding,
         ROW_NUMBER() OVER (ORDER BY {_SQL_COS} DESC, c.vec_id) AS rank_before
  FROM embeddings c CROSS JOIN q
  WHERE c.vec_id <> {_PRF_QUERY_ID}
),
fb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
  FROM base WHERE rank_before <= {_PRF_FB}
),
centroid AS MATERIALIZED (
  SELECT list(mv ORDER BY pos) AS emb FROM (
    SELECT i AS pos,
           ROUND(CAST(SUM(CAST(emb[i] AS DECIMAL(18,9))) AS DOUBLE)
                 / {_PRF_FB}, 6) AS mv
    FROM fb, unnest(generate_series(1, len(emb))) AS t(i)
    GROUP BY i
  )
),
rer AS (
  SELECT b.vec_id, b.label, b.rank_before,
         ROW_NUMBER() OVER (ORDER BY
           list_dot_product(CAST(b.embedding AS DOUBLE[]), ct.emb)
           / nullif(sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(ct.emb, ct.emb)), 0.0)
           DESC, b.vec_id) AS rank_after
  FROM base b CROSS JOIN centroid ct
)
SELECT CAST(rank_after AS BIGINT) AS rank_after,
       vec_id, label,
       CAST(rank_before AS BIGINT) AS rank_before
FROM rer
WHERE rank_after <= {_PRF_TOPN}
ORDER BY rank_after
"""


@register(
    "rocchio_prf_rerank", oracle=_PRF_ORACLE, tags=("vector", "llm", "window")
)
def rocchio_prf_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio pseudo-relevance feedback over the embedding corpus:
    rank by cosine to query vec {q}, average the top-{fb} neighbors
    into a feedback centroid (α=0, β=1 — pure feedback, the PRF
    limit), re-rank the corpus by the centroid, and emit the new
    top-{k} with each doc's ORIGINAL rank alongside — the
    before/after movement IS the result (docs pulled in by the
    feedback neighborhood, lexical one-off neighbors pushed out).
    The query-expansion step dense-retrieval stacks A/B against raw
    similarity (``embedding_topk_cosine``).

    Determinism: both rankings order by (cosine DESC, vec_id) — the
    established total-order convention of the ANN family; the
    centroid's per-dimension means are exact DECIMAL(18,9) sums
    divided by the literal {fb} then ROUND 6, so the re-rank query
    vector is identical across engines.

    Scale: ONE bounded query row broadcast against the corpus scan,
    twice (base rank, re-rank); the centroid is a {fb}-row
    per-dimension agg. Both top-k selections are distributed
    TakeOrdered, and rank_before is recovered by a rows-ahead COUNT
    against a bounded broadcast candidate list — no global ranking
    window ever touches the corpus grain. No all-pairs path — the
    same structural cap as the brute-force ANN baseline
    (_TOPK_MAX_QUERIES).
    """
    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == _PRF_QUERY_ID).select(
        F.col("embedding").alias("qemb")
    )
    # Corpus-grain cosine-to-query frame. NO global ranking window is
    # ever applied to it: the feedback set and the re-ranked top-k are
    # both distributed TakeOrdered (orderBy().limit()), and the
    # original rank of each surviving doc is recovered by COUNTING the
    # corpus rows strictly ahead of it in the same (cos0 DESC, vec_id)
    # total order — a hash-agg over corpus × |top-k| broadcast rows,
    # exactly row_number semantics without a single-partition sort.
    # persist(): `base` is consumed by THREE lazy branches (feedback
    # top-k, the re-rank scan, the rows-ahead count), so without it
    # the full corpus cosine computes three times per run — the
    # engine's documented branch-re-execution convention (source_minhash_overlap's
    # measured precedent). Materializing also makes the
    # cos0 == t_cos0 equality in the rows-ahead filter compare STORED
    # values instead of relying on bit-identical recomputation across
    # branches (deterministic today, fragile if the cosine helper
    # ever gains a non-deterministic reduction order).
    base = (
        e.filter(F.col("vec_id") != _PRF_QUERY_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            "embedding",
            VX.cosine("embedding", "qemb").alias("cos0"),
        )
        .persist()
    )
    fb = (
        base.orderBy(F.desc("cos0"), "vec_id")
        .limit(_PRF_FB)
        .select(F.posexplode(VX.as_double("embedding")).alias("pos", "val"))
    )
    centroid = (
        fb.groupBy("pos")
        .agg(
            F.round(
                F.sum(F.col("val").cast("decimal(18,9)")).cast("double")
                / _PRF_FB,
                6,
            ).alias("mv")
        )
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mv"))),
                lambda s: s["mv"],
            ).alias("cemb")
        )
    )
    rer = base.crossJoin(F.broadcast(centroid)).select(
        "vec_id",
        "label",
        "cos0",
        VX.cosine("embedding", "cemb").alias("cos1"),
    )
    top_after = rer.orderBy(F.desc("cos1"), "vec_id").limit(_PRF_TOPN)
    w_after = Window.orderBy(F.desc("cos1"), "vec_id")
    ranked = top_after.select(
        F.row_number().over(w_after).cast("long").alias("rank_after"),
        "vec_id",
        "label",
        "cos0",
    )
    # rank_before of each top-k doc = 1 + #corpus rows strictly ahead
    # of it in (cos0 DESC, vec_id): one corpus scan against a bounded
    # broadcast candidate list, hash-agg on the candidate key.
    cand = ranked.select(
        F.col("vec_id").alias("t_vid"), F.col("cos0").alias("t_cos0")
    )
    ahead = (
        base.select("vec_id", "cos0")
        .crossJoin(F.broadcast(cand))
        .filter(
            (F.col("cos0") > F.col("t_cos0"))
            | (
                (F.col("cos0") == F.col("t_cos0"))
                & (F.col("vec_id") < F.col("t_vid"))
            )
        )
        .groupBy("t_vid")
        .agg(F.count("*").alias("n_ahead"))
    )
    return (
        ranked.join(
            F.broadcast(ahead), ranked["vec_id"] == ahead["t_vid"], "left"
        )
        .select(
            "rank_after",
            "vec_id",
            "label",
            (F.coalesce(F.col("n_ahead"), F.lit(0)) + 1)
            .cast("long")
            .alias("rank_before"),
        )
        .orderBy("rank_after")
    )


rocchio_prf_rerank.__doc__ = rocchio_prf_rerank.__doc__.format(
    q=_PRF_QUERY_ID, fb=_PRF_FB, k=_PRF_TOPN
)


# ---------------------------------------------------------------------------
# Expected Reciprocal Rank @10 (cascade user model, binary relevance)
# ---------------------------------------------------------------------------

_ERR_K = 10

_ERR_QUERIES = 5

_ERR_ORACLE = f"""
WITH topk AS (
  SELECT q.vec_id AS query_id, q.label AS q_label,
         c.vec_id AS neighbor_id, c.label AS c_label,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id ORDER BY {_SQL_COS} DESC, c.vec_id) AS rnk
  FROM embeddings q
  JOIN embeddings c
    ON q.vec_id % 100 = 0 AND q.vec_id < {100 * _ERR_QUERIES}
   AND c.vec_id <> q.vec_id
  QUALIFY rnk <= {_ERR_K}
),
hits AS (
  SELECT query_id, rnk,
         CASE WHEN c_label = q_label THEN 1 ELSE 0 END AS rel,
         COALESCE(SUM(CASE WHEN c_label = q_label THEN 1 ELSE 0 END)
           OVER (PARTITION BY query_id ORDER BY rnk
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS hits_before
  FROM topk
)
SELECT query_id,
       CAST(SUM(rel) AS BIGINT) AS n_rel10,
       ROUND(CAST(SUM(CASE WHEN rel = 1
         THEN CAST(ROUND(POWER(0.5, hits_before + 1) / rnk, 9)
                   AS DECIMAL(18,9))
         ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE), 6) AS err_at_10
FROM hits
GROUP BY query_id
ORDER BY query_id
"""


@register("err_cascade_metric", oracle=_ERR_ORACLE, tags=("vector", "llm", "gate"))
def err_cascade_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Reciprocal Rank @{k} under the cascade user model
    (Chapelle et al. 2009) for the standard {q}-query label-relevance
    retrieval setup: the user scans down, stops at a satisfying doc
    with probability R, so rank r's payoff is discounted by
    Π_{{i<r}}(1−R_i) — a metric that, unlike MAP/NDCG, punishes
    putting the second relevant doc right below the first. With
    binary relevance R = 1/2, each term is (1/2)^(hits_before+1)/r —
    an exact dyadic rational. Completes the engine's ranking-metric
    set: position-averaged (``retrieval_map_mrr``), log-discounted
    (``ann_ndcg_at_10``), and now user-model-discounted.

    Determinism: ranking is the established (cosine DESC, vec_id)
    total order; hits_before is an exact integer window; each ERR
    term (1/2)^(h+1)/r is a pinned IEEE expression over exact dyadics
    and integers — identical doubles both engines — ROUND-9 and
    DECIMAL(18,9)-summed (order-free); output ROUND 6.

    Scale: {q} bounded query rows broadcast against one corpus scan,
    per-query top-{k} heaps; all metric math on ≤{q}·{k} rows.
    """
    e = read_table(spark, sf_dir, "embeddings")
    q = (
        e.filter(
            (F.col("vec_id") % 100 == 0)
            & (F.col("vec_id") < 100 * _ERR_QUERIES)
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("q_label"),
            F.col("embedding").alias("qemb"),
        )
    )
    w_q = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    topk = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "q_label",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("c_label"),
            VX.cosine("embedding", "qemb").alias("cos"),
        )
        .select(
            "query_id",
            "q_label",
            "neighbor_id",
            "c_label",
            F.row_number().over(w_q).alias("rnk"),
        )
        .filter(F.col("rnk") <= _ERR_K)
    )
    rel = F.when(F.col("c_label") == F.col("q_label"), 1).otherwise(0)
    w_before = (
        Window.partitionBy("query_id")
        .orderBy("rnk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hits = topk.select(
        "query_id",
        "rnk",
        rel.alias("rel"),
        F.coalesce(F.sum(rel).over(w_before), F.lit(0)).alias("hits_before"),
    )
    term = F.round(
        F.pow(F.lit(0.5), F.col("hits_before") + 1) / F.col("rnk"), 9
    )
    return (
        hits.groupBy("query_id")
        .agg(
            F.sum("rel").cast("long").alias("n_rel10"),
            F.round(
                F.sum(
                    F.when(F.col("rel") == 1, term.cast("decimal(18,9)"))
                    .otherwise(F.lit(0).cast("decimal(18,9)"))
                ).cast("double"),
                6,
            ).alias("err_at_10"),
        )
        .orderBy("query_id")
    )


err_cascade_metric.__doc__ = err_cascade_metric.__doc__.format(
    k=_ERR_K, q=_ERR_QUERIES
)


# ---------------------------------------------------------------------------
# Exact-duplicate saturation curve over ingestion order
# ---------------------------------------------------------------------------

_SAT_STEP = 50

_SAT_ORACLE = f"""
WITH ranked AS (
  SELECT doc_id, md5(text) AS h,
         ROW_NUMBER() OVER (ORDER BY doc_id) AS rk
  FROM documents
), first_seen AS (
  SELECT h, MIN(rk) AS first_rk FROM ranked GROUP BY h
), cks AS (
  SELECT UNNEST(generate_series({_SAT_STEP},
           (SELECT MAX(rk) FROM ranked), {_SAT_STEP})) AS c
)
SELECT CAST(c.c AS BIGINT) AS n_docs,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM first_seen f
        WHERE f.first_rk <= c.c) AS n_unique,
       ROUND(1.0 - (SELECT CAST(COUNT(*) AS DOUBLE) FROM first_seen f
                    WHERE f.first_rk <= c.c) / c.c, 6) AS dup_rate
FROM cks c
ORDER BY n_docs
"""


@register("dedup_saturation_curve", oracle=_SAT_ORACLE, tags=("dedup", "llm"))
def dedup_saturation_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate saturation: cumulative unique text-hashes and
    the duplicate rate at every {step}-doc checkpoint of ingestion
    order. A RISING curve means sources are converging on the same
    content (dedup gets more valuable per ingested byte — and the
    dedup index stops growing linearly); flat means fresh supply.
    The corpus-growth companion of ``heaps_law_exponent`` (type
    growth) and ``dedup_exact`` (the endpoint), and the curve that
    sizes incremental-dedup state (``dedup_cross_snapshot``) over
    time.

    Determinism: first occurrence of each md5 text-hash is a
    type-grain MIN over the doc_id ingestion order (exact integers
    throughout — the cumulative_distinct_users machinery); checkpoint
    counts are exact BIGINTs; the rate is one division ROUND 6.

    Scale: one hash pass to text-hash grain with a MIN agg — the
    exact shuffle ``dedup_exact`` already pays. The ingestion rank is
    the range-bucketed exact row_number (registry.bucketed_row_number
    — per-bucket sorts + bounded bucket offsets, never a
    single-partition sort of the corpus), and the curve is
    checkpoint-grain accumulation: each first-seen hash feeds its own
    ⌈rk/step⌉ bucket once, the cumulative sum runs on the bounded
    checkpoint spine — O(hashes + checkpoints), no hashes×checkpoints
    fan-out, no window at doc grain.
    """
    d = read_table(spark, sf_dir, "documents")
    # Ingestion rank via the range-bucketed exact row_number
    # (registry.bucketed_row_number): per-bucket sorts + bounded
    # offsets — no single-partition window at doc grain.
    ranked = bucketed_row_number(
        d.select("doc_id", F.md5("text").alias("h")), "doc_id"
    ).select("h", "rk")
    first_seen = ranked.groupBy("h").agg(F.min("rk").alias("first_rk"))
    # Checkpoint-grain accumulation, NOT a (hashes × checkpoints)
    # crossJoin fan-out: each first-seen hash feeds its ⌈rk/step⌉
    # bucket once; "unique ≤ c" becomes a cumulative sum on the
    # bounded checkpoint spine — O(hashes + checkpoints), flat in the
    # checkpoint count.
    v_inc = first_seen.groupBy(
        F.expr(
            f"CAST((first_rk + {_SAT_STEP - 1}) DIV {_SAT_STEP} AS BIGINT)"
        ).alias("j")
    ).agg(F.count("*").cast("long").alias("dv"))
    n_docs = ranked.agg(F.max("rk").alias("max_rk"))
    # Clamp-and-refilter spine guard (heaps_law_exponent
    # has the full rationale): sequence(1, 0) defaults to step -1 and
    # yields phantom checkpoints [1, 0] when the corpus is smaller
    # than one step, while the oracle's generate_series is empty; the
    # j*step <= max_rk filter keeps both engines at zero checkpoints
    # there and is a no-op otherwise.
    spine = (
        n_docs.select(
            "max_rk",
            F.explode(
                F.sequence(
                    F.lit(1).cast("long"),
                    F.greatest(
                        F.expr(f"CAST(max_rk DIV {_SAT_STEP} AS BIGINT)"),
                        F.lit(1).cast("long"),
                    ),
                )
            ).alias("j"),
        )
        .filter(F.col("j") * _SAT_STEP <= F.col("max_rk"))
        .select("j")
    )
    w_ck = Window.orderBy("j").rowsBetween(Window.unboundedPreceding, 0)
    return (
        spine.join(v_inc, "j", "left")
        .select(
            (F.col("j") * _SAT_STEP).cast("long").alias("n_docs"),
            F.sum(F.coalesce("dv", F.lit(0)))
            .over(w_ck)
            .cast("long")
            .alias("n_unique"),
        )
        .select(
            "n_docs",
            "n_unique",
            F.round(
                1.0 - F.col("n_unique").cast("double") / F.col("n_docs"), 6
            ).alias("dup_rate"),
        )
        .orderBy("n_docs")
    )


dedup_saturation_curve.__doc__ = dedup_saturation_curve.__doc__.format(
    step=_SAT_STEP
)
