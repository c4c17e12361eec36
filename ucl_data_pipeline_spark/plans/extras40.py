"""Round-8 batch 7: graph community structure at fact-derived scale,
and Markov chain steady-state —

- ``clustering_coeff_copurchase``: per-node local clustering
  coefficient (2·triangles / deg·(deg−1)) on the support≥2 part
  copurchase graph — the community-structure signal
  triangle_count_trade computes for the 25-node nation graph, now on
  the thousands-of-nodes fact-derived graph that kcore_copurchase
  peels, with the same degree-ordered compact-forward triangle
  enumeration (work bounded O(E^1.5), hub wedges formed only at the
  lowest-degree corner).
- ``markov_stationary_events``: the stationary distribution of the
  registered first-order event transition matrix by fixed-iteration
  power method (8 unrolled steps, pagerank's round-then-decimal-sum
  per step), reported next to the EMPIRICAL from-state frequencies
  and the last-step L1 residual — the steady-state-vs-observed drift
  check behavioral models run before trusting a transition matrix,
  and a second fixed-superstep iterative algorithm proven exactly
  oracle-checkable (the pagerank/kmeans_lloyd discipline; residual
  column witnesses convergence the way pagerank_residual_audit
  does).

Registry conventions: triangle/degree counts exact BIGINTs with one
final float division (CASE-guarded for deg<2 — Spark x/0 is NULL,
DuckDB is not); power-method steps sum ROUND(·,12) products in
DECIMAL(28,12) so every iterate is order-independent and
bit-identical; the transition matrix is composed from
event_transition_matrix's registered spelling on BOTH engines
(the cc_canonical composition discipline — the composite cannot
drift from its input).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ucl_data_pipeline_spark.plans.extras3 import (
    _TRANSITION_ORACLE,
    event_transition_matrix,
)
from ucl_data_pipeline_spark.plans.extras39 import _KCORE_EDGES_SQL
from ucl_data_pipeline_spark.plans.registry import (
    array_dsum,
    edge_terms,
    fold_steps,
    gather_graph,
    register,
)
from ucl_data_pipeline_spark.sources.io import read_table

# ---------------------------------------------------------------------------
# Local clustering coefficient on the copurchase graph
# ---------------------------------------------------------------------------

_CLUSTER_ORACLE = f"""
WITH {_KCORE_EDGES_SQL},
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e0 e1
  JOIN e0 e2 ON e2.a = e1.b
  JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b
), per_node_tri AS (
  SELECT node, COUNT(*) AS n_triangles FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  ) GROUP BY node
), deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0
  ) GROUP BY node
)
SELECT d.node AS part,
       CAST(d.deg AS BIGINT) AS degree,
       CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d.deg >= 2 THEN
         ROUND(2.0 * COALESCE(t.n_triangles, 0) / (d.deg * (d.deg - 1)), 6)
       ELSE 0.0 END AS clustering_coeff
FROM deg d LEFT JOIN per_node_tri t USING (node)
"""


@register(
    "clustering_coeff_copurchase",
    oracle=_CLUSTER_ORACLE,
    tags=("graph", "join"),
)
def clustering_coeff_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per part on the support≥2
    copurchase graph (same edge set as kcore_copurchase): degree,
    triangle count, and 2·T/(deg·(deg−1)) — how much of each node's
    neighborhood is itself connected, THE community-vs-hub
    discriminator (high coefficient = cohesive basket cluster, low =
    promiscuous staple part).

    Triangle enumeration is the degree-ordered compact-forward plan
    proven on the nation graph (extras3.py triangle_count_trade —
    wedges form only at each triangle's lowest-degree corner in the
    (degree, node) total order, each wedge probes the directed edge
    set once, work O(E^1.5) by Chiba–Nishizeki instead of Σdeg²),
    here exercised on a fact-derived graph with thousands of nodes.
    The oracle enumerates triangles id-canonically (a<b edges, three
    self-joins) — enumeration-order invariant per-node counts grade
    both plans identically. Division is CASE-guarded: Spark yields
    NULL for x/0 where DuckDB does not (registry convention), and
    degree-1 nodes define coefficient 0.

    Scale: edge generation is the scan-side array-pair spelling
    (per-order baskets, no self-join); degrees are edge-grain
    hash-aggs; the directed edge set and wedge joins run on the
    support-thresholded edge table (3.4k–3.6k edges at sf0.01→0.1 —
    grows with DISTINCT co-occurring pairs, far sublinear in rows).
    """
    baskets = (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    )
    parts = F.col("parts")
    pair_arr = F.flatten(
        F.transform(
            parts,
            lambda x, i: F.transform(
                F.slice(parts, i + F.lit(2), F.size(parts)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    und = (
        baskets.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= 2)
        .select("a", "b")
        .localCheckpoint()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    with_deg = und.join(
        F.broadcast(
            deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
        ),
        "a",
    ).join(
        F.broadcast(
            deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
        ),
        "b",
    )
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    dir_e = with_deg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
    )
    w1 = dir_e.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    w2 = dir_e.select(F.col("src").alias("x"), F.col("dst").alias("z"))
    e3 = dir_e.select(F.col("src").alias("y"), F.col("dst").alias("z"))
    tri = w1.join(w2, "x").filter(F.col("y") != F.col("z")).join(e3, ["y", "z"])
    corners = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    per_node = corners.groupBy("node").agg(F.count("*").alias("n_triangles"))
    t = F.coalesce("n_triangles", F.lit(0))
    d = F.col("deg")
    return deg.join(per_node, "node", "left").select(
        F.col("node").alias("part"),
        d.cast("bigint").alias("degree"),
        t.cast("bigint").alias("n_triangles"),
        F.when(
            d >= 2, F.round(2.0 * t / (d * (d - 1)), 6)
        )
        .otherwise(F.lit(0.0))
        .alias("clustering_coeff"),
    )


# ---------------------------------------------------------------------------
# Stationary distribution of the event transition matrix (power method)
# ---------------------------------------------------------------------------

_MARKOV_ITERS = 8


def _sql_power_step(i: int) -> str:
    """One unrolled power-method step π_{i+1} = π_i · P, with the
    pagerank round-then-decimal-sum so every iterate is
    order-independent. MATERIALIZED for the same reason as the k-core
    peel chain (each iterate is referenced by the next step and, for
    the last two, by the residual projection)."""
    return f"""pi{i + 1} AS MATERIALIZED (
  SELECT tm.to_type AS state,
         CAST(SUM(CAST(ROUND(p.p * tm.p_transition, 12)
                       AS DECIMAL(28,12))) AS DOUBLE) AS p
  FROM pi{i} p JOIN tm ON tm.from_type = p.state
  GROUP BY tm.to_type
)"""


_MARKOV_ORACLE = f"""
WITH tm AS MATERIALIZED (
  SELECT from_type, to_type, n, p_transition FROM ({_TRANSITION_ORACLE})
), states AS MATERIALIZED (
  SELECT from_type AS state, SUM(n) AS n_from FROM tm GROUP BY from_type
), pi0 AS MATERIALIZED (
  SELECT state, 1.0 / (SELECT COUNT(*) FROM states) AS p FROM states
),
{",".join(_sql_power_step(i) for i in range(_MARKOV_ITERS))}
SELECT s.state AS event_type,
       ROUND(cur.p, 6) AS stationary_p,
       ROUND(CAST(s.n_from AS DOUBLE)
             / (SELECT SUM(n_from) FROM states), 6) AS empirical_p,
       ROUND(ABS(cur.p - prev.p), 12) AS abs_delta
FROM states s
JOIN pi{_MARKOV_ITERS} cur ON cur.state = s.state
JOIN pi{_MARKOV_ITERS - 1} prev ON prev.state = s.state
"""


@register(
    "markov_stationary_events",
    oracle=_MARKOV_ORACLE,
    tags=("temporal", "stats", "iterative"),
)
def markov_stationary_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the first-order event-type Markov
    chain by 8 unrolled power-method steps from the uniform vector,
    composed from event_transition_matrix's registered spelling on
    both engines — per state: the steady-state probability, the
    EMPIRICAL from-state frequency, and the last-step L1 residual
    component (convergence witness; tests assert it ≪ 1e-9 — a dense
    5-state chain has a large spectral gap). Steady-state far from
    empirical would mean the observed window is not yet mixed — the
    behavioral-model sanity check next to the transition matrix
    itself.

    Determinism: each step sums ROUND(π·P, 12) products in
    DECIMAL(28,12) (the pagerank contrib spelling) so all 8 iterates
    are order-independent exact decimals; P itself carries
    event_transition_matrix's ROUND(·,6) row-normalization,
    identically on both engines.

    Scale: the ONLY row-count-bound work is the transition matrix's
    single user-keyed window shuffle. Gather contract: the matrix is
    gathered into one row (``gather_graph``), bounded by event-type
    cardinality squared, never by row count; all 8 iterations run in
    that row as one ``fold_steps`` column — no per-step join, shuffle,
    checkpoint or Spark job, nothing persisted.
    """
    tm = event_transition_matrix(spark, sf_dir).select(
        F.col("from_type").alias("src"), F.col("to_type").alias("dst"),
        "n", "p_transition",
    )
    # Nodes are the from-types with their transition counts, summed
    # over every edge: a to-only type never feeds a from-type's iterate
    # (gather_graph drops its edges), but its transitions still count.
    states = tm.groupBy(F.col("src").alias("s")).agg(F.sum("n").alias("nf"))
    tot = F.aggregate("nf", F.lit(0).cast("bigint"), lambda a, n: a + n)
    pi0 = F.transform("ns", lambda _: F.lit(1.0) / F.size("ns"))

    def step(pi: Column, es: Column) -> Column:
        # NULL = no iterate row for the type (the join + group-by spelling)
        return F.transform("ns", lambda _, i: array_dsum(edge_terms(
            es, i, "d", lambda e: F.round(F.element_at(pi, e["s"]) * e["p_transition"], 12)
        )).cast("double"))

    h = gather_graph(tm, states).select(
        "ns", "nf", tot.alias("tot"),
        fold_steps(pi0, step, _MARKOV_ITERS).alias("h"),
    ).select(F.posexplode("ns").alias("i", "event_type"), "nf", "tot", "h")
    p_cur = F.element_at(F.element_at("h", -1), F.col("i") + 1)
    p_prev = F.element_at(F.element_at("h", -2), F.col("i") + 1)
    n_from = F.element_at("nf", F.col("i") + 1)
    return h.filter(p_cur.isNotNull() & p_prev.isNotNull()).select(
        "event_type",
        F.round(p_cur, 6).alias("stationary_p"),
        F.round(n_from.cast("double") / F.col("tot"), 6).alias("empirical_p"),
        F.round(F.abs(p_cur - p_prev), 12).alias("abs_delta"),
    )
