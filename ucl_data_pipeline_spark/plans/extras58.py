"""Round-8 batch 25: cluster-quality internals and funnel absorption —

- ``centroid_distance_outliers``: k-means-based outlier detection —
  every embedding's distance to its NEAREST of the K fixed seed
  centers (the exact argmin machinery of ``kmeans_assign``), top-20
  most-distant vectors. The standard "far from every prototype"
  anomaly read over an embedding column; candidates for manual review
  before the corpus ships.
- ``simplified_silhouette``: the centroid-based (simplified)
  silhouette — a = distance to own centroid, b = distance to the
  runner-up centroid, s = (b−a)/max(a,b) — averaged per cluster. The
  INTERNAL clustering-quality read (no labels needed) that pairs with
  ``cluster_nmi_purity``'s external one; the O(n·k) variant is the
  only silhouette that survives scale (the classic pairwise form is
  O(n²)).
- ``markov_absorption_funnel``: k-step absorption probabilities into
  the 'purchase' state from each event type, from the user-stream
  transition matrix — the funnel-completion read ("starting from a
  view, what's the chance of purchasing within 2/4/8 steps?") that
  ``markov_stationary_events`` (long-run occupancy) cannot answer.
  Eight unrolled vector-matrix supersteps over the ≤5×5 bounded
  transition matrix.

Registry conventions (plans/registry.py): the bit-identical distance
fold (list_reduce ≡ F.aggregate from 0.0); round-12-decimal sums per
superstep; ROUND 6 outputs; total-order tie-breaks; MATERIALIZED CTEs
where the oracle references a frame per unrolled step.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ucl_data_pipeline_spark.functions import vector as VX
from ucl_data_pipeline_spark.plans.clustering import (
    K,
    _dists,
    _seed_centers,
)
from ucl_data_pipeline_spark.plans.registry import (
    array_dsum,
    edge_terms,
    fold_steps,
    gather_graph,
    register,
)
from ucl_data_pipeline_spark.sources.io import read_table

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
# Markov absorption probabilities into 'purchase' (funnel completion)
# ---------------------------------------------------------------------------

_ABS_STEPS = 8
_ABS_TARGET = "purchase"


def _abs_iter(prev: str, cur: str) -> str:
    """One absorption superstep: a(s) = 1 for the target, else
    Σ_s' P(s→s')·a(s') — single reference to ``prev``."""
    return f"""{cur} AS (
  SELECT n.s,
    CASE WHEN n.s = '{_ABS_TARGET}' THEN 1.0
         ELSE ROUND(COALESCE(c.v, 0.0), 12) END AS a
  FROM states n LEFT JOIN (
    SELECT t.src AS s,
      CAST(SUM(CAST(ROUND(t.p * r.a, 12) AS DECIMAL(38,12)))
           AS DOUBLE) AS v
    FROM trans t JOIN {prev} r ON r.s = t.dst
    GROUP BY t.src
  ) c ON c.s = n.s
)"""


_ABS_ORACLE = f"""
WITH seq AS (
  SELECT event_type AS src,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS dst
  FROM events
),
cnt AS (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c
  FROM seq WHERE dst IS NOT NULL GROUP BY src, dst
),
trans AS MATERIALIZED (
  SELECT src, dst,
         CAST(c AS DOUBLE) / SUM(c) OVER (PARTITION BY src) AS p
  FROM cnt
),
states AS MATERIALIZED (SELECT DISTINCT src AS s FROM trans),
a0 AS (
  SELECT s, CASE WHEN s = '{_ABS_TARGET}' THEN 1.0 ELSE 0.0 END AS a
  FROM states
),
{",".join(_abs_iter(f"a{i}", f"a{i + 1}") for i in range(_ABS_STEPS))}
SELECT s2.s AS start_state,
       ROUND(s2.a, 6) AS p_absorb_2,
       ROUND(s4.a, 6) AS p_absorb_4,
       ROUND(s8.a, 6) AS p_absorb_8
FROM a2 s2
JOIN a4 s4 ON s4.s = s2.s
JOIN a8 s8 ON s8.s = s2.s
ORDER BY start_state
"""


def absorption_history(trans: DataFrame, target: str, k: int) -> DataFrame:
    """One row (ns, h): the sorted from-states of the transition matrix
    ``trans`` (src, dst, p) and the iterates h[i][j] = P(state ns[j]
    reaches ``target`` within i steps), i = 0..k. ``target`` is held
    absorbing; a state with no out-edge into ns stays at 0."""

    def step(a: Column, es: Column) -> Column:
        return F.transform("ns", lambda s, i: F.when(s == target, 1.0).otherwise(
            F.round(F.coalesce(array_dsum(edge_terms(es, i, "s", lambda e: F.round(
                e["p"] * F.element_at(a, e["d"]), 12))).cast("double"), F.lit(0.0)), 12)
        ))

    a0 = F.transform("ns", lambda s: F.when(s == target, 1.0).otherwise(0.0))
    return gather_graph(trans).select("ns", fold_steps(a0, step, k).alias("h"))


@register(
    "markov_absorption_funnel",
    oracle=_ABS_ORACLE,
    tags=("events", "graph", "iterative"),
)
def markov_absorption_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel completion as Markov absorption: from the user-stream
    transition matrix (LEAD over the (ts, event_id) total order per
    user — the ``event_transition_matrix`` kernel), the probability
    of reaching '{target}' within 2 / 4 / 8 steps from each starting
    event type, by {k} unrolled vector-matrix supersteps with
    '{target}' held absorbing. ``markov_stationary_events`` gives the
    long-run occupancy; this gives the finite-horizon "will this
    session convert" numbers a funnel designer actually tunes against.

    Determinism: transition probabilities are exact-count ratios
    (identical IEEE divisions); each superstep's per-state sum is
    ROUND-12 then exactly decimal-summed over ≤|types| terms
    (``array_dsum``); the absorbing state is pinned to 1.0 each step;
    outputs ROUND 6.

    Scale: the fact-sized stage is the one sessionization window +
    (src, dst) hash-agg. Gather contract: the transition matrix is
    gathered into one row (``gather_graph``), bounded by the number of
    event types squared, never by row count; all {k} supersteps run in
    that row as one ``fold_steps`` column — no per-step join, shuffle,
    checkpoint or Spark job, nothing persisted. Oracle unrolls
    identical CTEs (MATERIALIZED matrix — single-reference-per-step
    discipline, extras53).
    """
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    cnt = seq.groupBy("src", "dst").agg(F.count("*").alias("c"))
    w_src = Window.partitionBy("src")
    trans = cnt.select(
        "src",
        "dst",
        (F.col("c").cast("double") / F.sum("c").over(w_src)).alias("p"),
    )

    h = absorption_history(trans, _ABS_TARGET, _ABS_STEPS)
    return (
        h.select(F.posexplode("ns").alias("i", "start_state"), "h")
        .select("start_state", *(
            F.round(F.element_at(F.element_at("h", k + 1), F.col("i") + 1), 6)
            .alias(f"p_absorb_{k}") for k in (2, 4, 8)
        ))
        .orderBy("start_state")
    )


markov_absorption_funnel.__doc__ = markov_absorption_funnel.__doc__.format(
    target=_ABS_TARGET, k=_ABS_STEPS
)
