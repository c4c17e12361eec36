"""Graph analytics over the star schema: PageRank on the trade
network. Unlike k-means (driver-coordinated argmin/init → rows-only),
FIXED-ITERATION PageRank is fully oracle-checkable: the DuckDB oracle
unrolls the five steps as chained CTEs, with every per-iteration sum
made order-independent by the registry's round-then-decimal-sum
convention — so an ITERATIVE algorithm gets an exact cross-engine
value hash.

Scale shape: the edge aggregation over the fact join is the only
row-count-bound stage. Its result is bounded by the nation dimension
(≤25² edges), so the Spark side gathers it into ONE row
(``registry.gather_graph``) and runs every superstep inside that row
as one ``registry.fold_steps`` column: the Pregel superstep (edge
terms, exact sum per dst, update per node) with no per-step join,
shuffle, checkpoint or Spark job, and no lineage that grows with the
step count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ucl_data_pipeline_spark.plans.registry import (
    array_dsum,
    edge_terms,
    fold_steps,
    gather_graph,
    register,
)
from ucl_data_pipeline_spark.sources.io import read_table

_DAMP = 0.85
_N_ITER = 5
_N_NODES = 25  # nation is a fixed-size dimension


def _sql_iter(prev: str, cur: str) -> str:
    """One unrolled PageRank step in DuckDB SQL (mirrors the Spark
    iteration expression-for-expression)."""
    return f"""{cur} AS (
  SELECT n.node,
    ROUND({1 - _DAMP} / {_N_NODES} + {_DAMP} * COALESCE(c.contrib, 0.0), 12)
      AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node,
      CAST(SUM(CAST(ROUND(r.rank * e.w / o.ow, 12) AS DECIMAL(28,12)))
           AS DOUBLE) AS contrib
    FROM {prev} r
    JOIN edges e ON e.src = r.node
    JOIN outw o ON o.src = e.src
    GROUP BY e.dst
  ) c ON c.node = n.node
)"""


# Shared CTE prefix (nodes/edges/outw/r0 + the unrolled iterations) —
# also consumed by extras34's pagerank_residual_audit, which SELECTs
# from the intermediate r{k} frames instead of the last one.
PAGERANK_CTE_PREFIX = f"""
WITH nodes AS (
  SELECT n_nationkey AS node FROM nation
), edges AS (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
         CAST(COUNT(*) AS DOUBLE) AS w
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY s.s_nationkey, c.c_nationkey
), outw AS (
  SELECT src, SUM(w) AS ow FROM edges GROUP BY src
), r0 AS (
  SELECT node, CAST(1.0 / {_N_NODES} AS DOUBLE) AS rank FROM nodes
),
{",".join(_sql_iter(f"r{i}", f"r{i + 1}") for i in range(_N_ITER))}
"""

_PAGERANK_ORACLE = f"""{PAGERANK_CTE_PREFIX}
SELECT node, rank FROM r{_N_ITER}
ORDER BY rank DESC, node
"""


def trade_lines(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """lineitem ⋈ orders ⋈ customer ⋈ supplier: one row per line with
    its supplier nation ``s_nationkey``, customer nation ``c_nationkey``
    and the lineitem columns ``cols`` — the fact side of the nation trade
    graph."""
    l = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", *cols)
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
    )


def pagerank_history(
    spark: SparkSession, sf_dir: str, n_iter: int = _N_ITER
) -> DataFrame:
    """(node, ranks): each node's rank iterates [r0, r1, ..., r_n_iter],
    shared by ``pagerank_trade_network`` (the last iterate) and
    extras34's ``pagerank_residual_audit`` (the last three).

    The weighted edge table is the one fact-sized stage. It is gathered
    into one row with the sorted node keys (``gather_graph``: ≤25² edges,
    bounded by the nation dimension, never by row count), and all
    supersteps run inside that row as one ``fold_steps`` column — no
    per-step join, shuffle, checkpoint or Spark job. Each step is the
    Pregel superstep expression for expression: per-edge contributions
    ROUND-12, then summed exactly per dst (``array_dsum``)."""
    edges = (
        trade_lines(spark, sf_dir)
        .groupBy(F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst"))
        .agg(F.count("*").cast("double").alias("w"))
        # out-weights: integral doubles, so the sum is exact in any order
        .withColumn("ow", F.sum("w").over(Window.partitionBy("src")))
    )

    def step(r: Column, es: Column) -> Column:
        return F.transform("ns", lambda _, i: F.round(
            F.lit((1 - _DAMP) / _N_NODES) + F.lit(_DAMP) * F.coalesce(
                array_dsum(edge_terms(es, i, "d", lambda e: F.round(
                    F.element_at(r, e["s"]) * e["w"] / e["ow"], 12))).cast("double"),
                F.lit(0.0)),
            12,
        ))

    r0 = F.transform("ns", lambda _: F.lit(1.0 / _N_NODES))
    return (
        gather_graph(edges, read_table(spark, sf_dir, "nation").select("n_nationkey"))
        .select("ns", fold_steps(r0, step, n_iter).alias("h"))
        .select(F.posexplode("ns").alias("i", "node"), "h")
        .select(
            "node", F.transform("h", lambda r: F.element_at(r, F.col("i") + 1)).alias("ranks")
        )
    )


@register("pagerank_trade_network", oracle=_PAGERANK_ORACLE, tags=("graph", "iterative", "join"))
def pagerank_trade_network(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (d=0.85, 5 fixed iterations) over the nation trade
    network: an edge supplier-nation → customer-nation per
    (lineitem ⋈ orders) flow, weighted by flow count. The five
    supersteps are one ``fold_steps`` column over the gathered edge
    matrix (``pagerank_history``): one Catalyst plan, no Spark action
    per step (contrast kmeans, whose centroid argmin forces
    per-iteration collects), nothing persisted.

    Gather contract: the gathered matrix is bounded by the nation
    dimension (25 nodes, ≤625 edges), never by row count.

    Cross-engine determinism: per-edge contributions are rounded to
    12 dp and summed exactly in decimal each iteration, so both
    engines produce bit-identical ranks after every step.
    """
    return (
        pagerank_history(spark, sf_dir)
        .select("node", F.element_at("ranks", -1).alias("rank"))
        .orderBy(F.col("rank").desc(), "node")
    )


# ---------------------------------------------------------------------------
# Fixed-superstep BFS (multi-source shortest hops)
# ---------------------------------------------------------------------------

_BFS_ITER = 4


def _sql_bfs_iter(prev: str, cur: str) -> str:
    """One unrolled BFS relaxation step in DuckDB SQL (mirrors the
    Spark iteration): hops_{i+1}(n) = min(hops_i(n), 1 + min over
    in-edges of hops_i(src)). All-integer arithmetic — exact on any
    engine by construction."""
    return f"""{cur} AS (
  SELECT d.node,
    CASE WHEN d.hops IS NULL THEN c.cand
         WHEN c.cand IS NULL THEN d.hops
         ELSE LEAST(d.hops, c.cand) END AS hops
  FROM {prev} d LEFT JOIN (
    SELECT e.dst AS cnode, MIN(p.hops) + 1 AS cand
    FROM {prev} p
    JOIN bedges e ON e.src = p.node
    WHERE p.hops IS NOT NULL
    GROUP BY e.dst
  ) c ON c.cnode = d.node
)"""


_BFS_ORACLE = f"""
WITH bedges AS (
  SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
), d0 AS (
  SELECT n_nationkey AS node,
         CASE WHEN n_regionkey = 0 THEN 0 END AS hops
  FROM nation
),
{",".join(_sql_bfs_iter(f"d{i}", f"d{i + 1}") for i in range(_BFS_ITER))}
SELECT node, CAST(hops AS INTEGER) AS hops FROM d{_BFS_ITER}
"""


@register("bfs_reach_hops", oracle=_BFS_ORACLE, tags=("graph", "iterative", "join"))
def bfs_reach_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS ({N} fixed supersteps) over the distinct trade
    edges: minimum hop count from the region-0 nations to every nation;
    NULL hops = unreached within {N}. Like pagerank_trade_network the
    supersteps are one ``fold_steps`` column over the gathered edge list
    (no Spark action per step, nothing persisted) and the oracle unrolls
    the identical supersteps as chained CTEs — but here the state is
    integral, so cross-engine exactness needs no float conventions.

    Scale shape: the distinct (src, dst) nation pairs over the fact
    join are the one row-count-bound stage. Gather contract: the
    gathered edge list is bounded by the nation dimension (≤625 pairs),
    never by row count. Each superstep relaxes every node against its
    in-edges inside that one row.
    """
    edges = trade_lines(spark, sf_dir).select(
        F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
    ).distinct()
    nodes = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node"),
        F.when(F.col("n_regionkey") == 0, F.lit(0)).alias("d0"),
    )

    def step(d: Column, es: Column) -> Column:
        # least() skips NULLs: unreached stays NULL, a new path relaxes
        return F.transform(d, lambda h, i: F.least(
            h, F.array_min(edge_terms(es, i, "d", lambda e: F.element_at(d, e["s"]) + 1))
        ))

    return (
        gather_graph(edges, nodes)
        .select("ns", F.element_at(fold_steps("d0", step, _BFS_ITER), -1).alias("d"))
        .select(F.posexplode("ns").alias("i", "node"), "d")
        .select("node", F.element_at("d", F.col("i") + 1).cast("int").alias("hops"))
    )
