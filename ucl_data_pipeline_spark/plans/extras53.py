"""Round-8 batch 20: graph-analytics completion on the trade network —

- ``hits_hub_authority``: Kleinberg's HITS as a FIXED-ITERATION
  power method (the ``pagerank_trade_network`` discipline applied to
  the two-vector mutual recursion): authorities score nations other
  nations SELL INTO, hubs score nations that BUY from strong
  authorities. Four unrolled superstep pairs, L1-normalized per step
  (sum normalization keeps every value a round-12 decimal-summable
  double ≤ 1 — no sqrt in the loop).
- ``adamic_adar_linkpred``: the three classical common-neighbor link
  -prediction scores on the undirected trade graph — Adamic–Adar
  Σ 1/ln(d_z), Resource-Allocation Σ 1/d_z, Preferential-Attachment
  d_u·d_v — for every non-adjacent node pair with ≥1 common
  neighbor, i.e. the ranked "which trade lane opens next" table.
  Completes ``neighbor_jaccard_nodes`` (similarity of EXISTING
  neighborhoods) with the MISSING-edge ranking.
- ``dyad_census_trade``: the Holland–Leinhardt dyad census of the
  DIRECTED trade network — mutual / asymmetric / null dyad counts,
  edge density, and reciprocity (fraction of directed edges whose
  reverse exists). The one-page "what does this graph even look
  like" profile that precedes any model fit.

Registry conventions (plans/registry.py): round-12-then-decimal-sum
for per-iteration totals (the pagerank pattern), ROUND 6 outputs,
exact BIGINT counts, atomic columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ucl_data_pipeline_spark.functions.text import _let
from ucl_data_pipeline_spark.plans.graph import trade_lines
from ucl_data_pipeline_spark.plans.registry import (
    array_dsum,
    edge_terms,
    fold_steps,
    gather_graph,
    register,
)
from ucl_data_pipeline_spark.sources.io import read_table

_HITS_ITER = 4
_N_NODES = 25  # nation is a fixed-size dimension (graph.py convention)

# Directed nation->nation trade edges (supplier nation sells to
# customer nation), weighted by lineitem count — same fact join as
# pagerank_trade_network (graph.py), self-loops excluded so hub and
# authority mass cannot feed back through a single node.
_EDGES_SQL = """
edges AS MATERIALIZED (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
         CAST(COUNT(*) AS DOUBLE) AS w
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  WHERE s.s_nationkey <> c.c_nationkey
  GROUP BY s.s_nationkey, c.c_nationkey
), nodes AS (
  SELECT n_nationkey AS node FROM nation
)"""


def _hits_step(prev: str, cur: str, key_in: str, key_out: str) -> str:
    """One propagate + L1-normalize step. The normalizer is a WINDOW
    sum (exact DECIMAL, so order-free), NOT a scalar subquery: DuckDB
    inlines CTEs per reference, so a subquery normalizer would make
    each step reference its _raw frame twice and the 8-step chain
    re-execute exponentially (the oracle-side twin of the Spark side's
    let-bound normalizer)."""
    return f"""{cur} AS (
  SELECT node,
    ROUND(raw / CAST(SUM(CAST(raw AS DECIMAL(38,12))) OVER ()
                     AS DOUBLE), 12) AS score
  FROM (
    SELECT n.node, CAST(COALESCE(s.v, 0) AS DOUBLE) AS raw
    FROM nodes n LEFT JOIN (
      SELECT e.{key_out} AS node,
        CAST(SUM(CAST(ROUND(p.score * e.w, 12) AS DECIMAL(38,12)))
             AS DOUBLE) AS v
      FROM {prev} p JOIN edges e ON e.{key_in} = p.node
      GROUP BY e.{key_out}
    ) s ON s.node = n.node
  )
)"""


def _auth_step(h_prev: str, a_cur: str) -> str:
    """authority(v) = Σ_{u→v} hub(u)·w, then L1-normalize."""
    return _hits_step(h_prev, a_cur, "src", "dst")


def _hub_step(a_cur: str, h_cur: str) -> str:
    """hub(u) = Σ_{u→v} authority(v)·w, then L1-normalize."""
    return _hits_step(a_cur, h_cur, "dst", "src")


_HITS_STEPS = ",\n".join(
    _auth_step(f"h{i}", f"a{i + 1}") + ",\n" + _hub_step(f"a{i + 1}", f"h{i + 1}")
    for i in range(_HITS_ITER)
)

_HITS_ORACLE = f"""
WITH {_EDGES_SQL},
h0 AS (
  SELECT node, CAST(1.0 / (SELECT COUNT(*) FROM nodes) AS DOUBLE) AS score
  FROM nodes
),
{_HITS_STEPS}
SELECT a.node,
       ROUND(a.score, 6) AS authority,
       ROUND(h.score, 6) AS hub
FROM a{_HITS_ITER} a JOIN h{_HITS_ITER} h ON h.node = a.node
ORDER BY authority DESC, a.node
"""


@register(
    "hits_hub_authority",
    oracle=_HITS_ORACLE,
    tags=("graph", "iterative", "join"),
)
def hits_hub_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg HITS on the directed nation trade network: {k}
    unrolled hub/authority superstep pairs, each an edge propagation +
    L1 normalization — the two-vector sibling of
    ``pagerank_trade_network`` (same gathered fold: no Spark action
    per step; the oracle unrolls identical CTEs). L1 rather than
    L2 normalization keeps the per-step math inside the engine's
    round-12-decimal-sum convention (no sqrt inside the loop; the
    fixed point's RANKING is identical, only the scale convention
    differs — documented deviation from the classical L2 spelling).

    Determinism: every per-node sum and every normalizer is a
    round-12-then-exact-decimal sum (``array_dsum``, order-free); scores
    stay ≤ 1 by normalization, so decimal casts are exact-range; outputs
    ROUND 6.

    Scale: the edge weights build once from one fact scan. Gather
    contract: the weighted edge list is gathered into one row
    (``gather_graph``), bounded by the nation dimension (≤600 directed
    lanes), never by row count. The state is a struct of two node-sized
    arrays (authority, hub); the {k} superstep pairs run in that row as
    one ``fold_steps`` column — no per-step join, shuffle, checkpoint or
    Spark job, nothing persisted. Each step's raw vector and its
    normalizer are let-bound once (``_let``), so no fold is re-evaluated
    per element.
    """
    edges = (
        trade_lines(spark, sf_dir)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count("*").cast("double").alias("w"))
    )

    def propagate(x: Column, es: Column, key_in: str, key_out: str) -> Column:
        """Scores x pushed along the edges from key_in to key_out, then
        L1-normalized; raw and its normalizer are let-bound once."""
        raw = F.transform("ns", lambda _, i: F.coalesce(array_dsum(edge_terms(
            es, i, key_out, lambda e: F.round(F.element_at(x, e[key_in]) * e["w"], 12)
        )).cast("double"), F.lit(0.0)))
        return _let(raw, lambda r: _let(
            array_dsum(r).cast("double"),
            lambda z: F.transform(r, lambda v: F.round(v / z, 12)),
        ))

    def step(st: Column, es: Column) -> Column:
        return _let(
            propagate(st["hub"], es, "s", "d"),
            lambda a: F.struct(a.alias("auth"), propagate(a, es, "d", "s").alias("hub")),
        )

    h0 = F.transform("ns", lambda _: F.lit(1.0 / _N_NODES))
    st0 = F.struct(h0.alias("auth"), h0.alias("hub"))
    return (
        gather_graph(edges, read_table(spark, sf_dir, "nation").select("n_nationkey"))
        .select("ns", F.element_at(fold_steps(st0, step, _HITS_ITER), -1).alias("st"))
        .select(F.posexplode("ns").alias("i", "node"), "st")
        .select(
            "node",
            F.round(F.element_at("st.auth", F.col("i") + 1), 6).alias("authority"),
            F.round(F.element_at("st.hub", F.col("i") + 1), 6).alias("hub"),
        )
        .orderBy(F.desc("authority"), "node")
    )


hits_hub_authority.__doc__ = hits_hub_authority.__doc__.format(k=_HITS_ITER)


# ---------------------------------------------------------------------------
# Link prediction: Adamic–Adar / Resource-Allocation / Pref-Attachment
# ---------------------------------------------------------------------------

_TOP_LANES = 5

# The raw nation trade graph is COMPLETE even at sf0.01 (every nation
# trades with every other), which leaves link prediction and dyad
# structure nothing to see. Both structural queries therefore run on
# the MAJOR-LANE graph: each nation's top-{k} export lanes by lineitem
# volume (rank-based sparsification — scale-invariant, unlike an
# absolute volume threshold, and deterministic via the (w DESC, dst)
# total order).
_LANES_SQL = f"""
lanes AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           ROW_NUMBER() OVER (PARTITION BY src
                              ORDER BY w DESC, dst) AS rk
    FROM (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      WHERE s.s_nationkey <> c.c_nationkey
      GROUP BY s.s_nationkey, c.c_nationkey
    )
  ) WHERE rk <= {_TOP_LANES}
)"""

_AA_ORACLE = f"""
WITH {_LANES_SQL}, und AS (
  SELECT DISTINCT
         LEAST(src, dst) AS a,
         GREATEST(src, dst) AS b
  FROM lanes
), adj AS (
  SELECT a AS node, b AS nbr FROM und
  UNION ALL
  SELECT b AS node, a AS nbr FROM und
), deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY node
), cand AS (
  SELECT x.node AS u, y.node AS v, x.nbr AS z
  FROM adj x JOIN adj y ON x.nbr = y.nbr AND x.node < y.node
), missing AS (
  SELECT cd.u, cd.v, cd.z FROM cand cd
  LEFT JOIN und e ON e.a = cd.u AND e.b = cd.v
  WHERE e.a IS NULL
), scored AS (
  SELECT m.u, m.v,
         CAST(COUNT(*) AS BIGINT) AS n_common,
         CAST(SUM(CAST(ROUND(1.0 / LN(dz.d), 12) AS DECIMAL(18,12)))
              AS DOUBLE) AS aa,
         CAST(SUM(CAST(ROUND(1.0 / dz.d, 12) AS DECIMAL(18,12)))
              AS DOUBLE) AS ra
  FROM missing m JOIN deg dz ON dz.node = m.z
  GROUP BY m.u, m.v
)
SELECT sc.u, sc.v, sc.n_common,
       ROUND(sc.aa, 6) AS adamic_adar,
       ROUND(sc.ra, 6) AS resource_alloc,
       CAST(du.d * dv.d AS BIGINT) AS pref_attach
FROM scored sc
JOIN deg du ON du.node = sc.u
JOIN deg dv ON dv.node = sc.v
ORDER BY adamic_adar DESC, sc.u, sc.v
"""


def _major_lanes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed major-lane graph: each nation's top-{k} export lanes
    by lineitem volume (see _LANES_SQL — rank-based sparsification of
    the otherwise-complete trade graph, deterministic via the
    (w DESC, dst) total order)."""
    from pyspark.sql import Window

    l = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    w = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count("*").cast("long").alias("w"))
    )
    rk = F.row_number().over(
        Window.partitionBy("src").orderBy(F.desc("w"), "dst")
    )
    return w.select("src", "dst", rk.alias("rk")).filter(
        F.col("rk") <= _TOP_LANES
    ).select("src", "dst")


@register("adamic_adar_linkpred", oracle=_AA_ORACLE, tags=("graph", "join"))
def adamic_adar_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical link prediction on the undirected MAJOR-LANE trade
    graph (each nation's top-5 export lanes by volume — the raw trade
    graph is complete, so sparsification is rank-based and therefore
    scale-invariant): for every NON-adjacent nation pair with at
    least one common trading partner, the three standard scores — Adamic–Adar Σ_z 1/ln(d_z)
    (rare shared partners count more), Resource-Allocation Σ_z 1/d_z
    (the stingier variant that wins on dense graphs), and
    Preferential-Attachment d_u·d_v (the null model). Ranked by AA:
    the "which trade lane opens next" shortlist. Complements
    ``neighbor_jaccard_nodes``, which scores EXISTING-edge
    similarity; this scores the MISSING edges.

    Determinism: degrees and common-neighbor counts are exact
    BIGINTs; each z term 1/ln(d) and 1/d is ROUND-12 then
    DECIMAL(18,12)-summed (order-free; d ≥ 2 for any shared
    neighbor's hub, and d ≥ 1 generally — ln(1) = 0 cannot appear in
    a denominator because a degree-1 node's only neighbor pair is
    itself); PA is an exact integer product; outputs ROUND 6.

    Scale: the adjacency is node-grain (≤ V² rows after the DISTINCT
    edge collapse — the fact scan reduces first); candidate
    generation is the standard common-neighbor self-join keyed on the
    shared neighbor (fan-in bounded by max degree); the anti-join
    onto existing edges prunes known lanes before scoring. On a big
    graph the z-key join IS the LSH-style bucketing — no all-pairs.
    """
    lanes = _major_lanes(spark, sf_dir)
    und = (
        lanes.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        .persist()
    )
    adj = und.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionAll(
        und.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count("*").cast("long").alias("d"))
    x = adj.select(F.col("node").alias("u"), F.col("nbr").alias("z"))
    y = adj.select(F.col("node").alias("v"), F.col("nbr").alias("z"))
    cand = x.join(y, "z").filter(F.col("u") < F.col("v"))
    missing = cand.join(
        und,
        (und["a"] == cand["u"]) & (und["b"] == cand["v"]),
        "left_anti",
    )
    dz = deg.select(F.col("node").alias("z"), F.col("d").alias("dz"))
    scored = (
        missing.join(F.broadcast(dz), "z")
        .groupBy("u", "v")
        .agg(
            F.count("*").cast("long").alias("n_common"),
            F.sum(
                F.round(F.lit(1.0) / F.log(F.col("dz")), 12).cast(
                    "decimal(18,12)"
                )
            )
            .cast("double")
            .alias("aa"),
            F.sum(
                F.round(F.lit(1.0) / F.col("dz"), 12).cast("decimal(18,12)")
            )
            .cast("double")
            .alias("ra"),
        )
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    return (
        scored.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            "u",
            "v",
            "n_common",
            F.round("aa", 6).alias("adamic_adar"),
            F.round("ra", 6).alias("resource_alloc"),
            (F.col("du") * F.col("dv")).cast("long").alias("pref_attach"),
        )
        .orderBy(F.desc("adamic_adar"), "u", "v")
    )


# ---------------------------------------------------------------------------
# Dyad census: mutual / asymmetric / null, density, reciprocity
# ---------------------------------------------------------------------------

_DYAD_ORACLE = f"""
WITH {_LANES_SQL}, und AS (
  SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
         CAST(COUNT(*) AS BIGINT) AS links
  FROM lanes GROUP BY 1, 2
), n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS v FROM nation
), st AS (
  SELECT CAST(COUNT(*) FILTER (WHERE links = 2) AS BIGINT) AS mutual,
         CAST(COUNT(*) FILTER (WHERE links = 1) AS BIGINT) AS asym,
         CAST((SELECT SUM(links) FROM und) AS BIGINT) AS n_edges
  FROM und
)
SELECT mutual AS mutual_dyads,
       asym AS asym_dyads,
       CAST(n.v * (n.v - 1) / 2 - mutual - asym AS BIGINT) AS null_dyads,
       n_edges AS directed_edges,
       ROUND(CAST(n_edges AS DOUBLE) / (n.v * (n.v - 1)), 6) AS density,
       ROUND(2.0 * mutual / n_edges, 6) AS reciprocity
FROM st CROSS JOIN n
"""


@register("dyad_census_trade", oracle=_DYAD_ORACLE, tags=("graph", "agg"))
def dyad_census_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holland–Leinhardt dyad census of the directed MAJOR-LANE trade
    network (top-5 export lanes per nation; the raw graph is complete
    and so census-trivial): counts of mutual (A⇄B), asymmetric (A→B
    only), and null nation dyads, plus edge density and reciprocity
    2M/E (the probability that a major export lane is reciprocated).
    The one-row structural profile read before fitting any graph
    model — reciprocity ≫ density is the signature of bilateral trade
    agreements; reciprocity ≈ density means lanes are independent.

    Determinism: everything is an exact BIGINT count from one
    DISTINCT-edge collapse and one dyad-grain agg (a dyad's link
    count is 2 = mutual, 1 = asymmetric; null dyads are V(V−1)/2
    minus the observed); the two ratios are single divisions ROUND 6.

    Scale: the fact scan collapses to DISTINCT directed edges first
    (map-side combinable), dyad grain is ≤ V²; all census math runs
    on one row of sufficient statistics.
    """
    e = _major_lanes(spark, sf_dir)
    und = e.groupBy(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).agg(F.count("*").cast("long").alias("links"))
    nv = read_table(spark, sf_dir, "nation").agg(
        F.count("*").cast("long").alias("v")
    )
    st = und.agg(
        F.sum(F.when(F.col("links") == 2, 1).otherwise(0))
        .cast("long")
        .alias("mutual"),
        F.sum(F.when(F.col("links") == 1, 1).otherwise(0))
        .cast("long")
        .alias("asym"),
        F.sum("links").cast("long").alias("n_edges"),
    )
    v = F.col("v")
    return st.crossJoin(F.broadcast(nv)).select(
        F.col("mutual").alias("mutual_dyads"),
        F.col("asym").alias("asym_dyads"),
        (v * (v - 1) / 2 - F.col("mutual") - F.col("asym"))
        .cast("long")
        .alias("null_dyads"),
        F.col("n_edges").alias("directed_edges"),
        F.round(F.col("n_edges").cast("double") / (v * (v - 1)), 6).alias(
            "density"
        ),
        F.round(F.lit(2.0) * F.col("mutual") / F.col("n_edges"), 6).alias(
            "reciprocity"
        ),
    )
