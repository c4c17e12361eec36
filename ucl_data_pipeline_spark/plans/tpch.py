"""Relational queries: TPC-H shapes, joins, SQL surface, set ops, sorts.

Projection and null handling, every join strategy (broadcast, hybrid,
semi/anti, salted skew, as-of SCD2, null-safe), the TPC-H Q2-Q22
shapes, set and bag operations, correlated/scalar subqueries and the
SQL-only surfaces (recursive CTE, VARIANT, LATERAL).

Registry conventions apply (plans/registry.py): exact decimal sums,
ROUND 6 on transcendental/division outputs, atomic columns,
BIGINT/DOUBLE/VARCHAR oracle casts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ucl_data_pipeline_spark.functions import scalar as SC
from ucl_data_pipeline_spark.functions.scalar import (
    clamp_with_midpoint,
    weighted_hybrid,
)
from ucl_data_pipeline_spark.plans.registry import (
    davg,
    dsum,
    register,
    sql_davg,
    sql_dsum,
)
from ucl_data_pipeline_spark.sources.io import conform, read_table


# ---------------------------------------------------------------------------
# Projections & filters (P3/P4/P7)
# ---------------------------------------------------------------------------

_FILTER_PROJECT_ORACLE = """
SELECT
  o_orderkey AS order_id,
  o_orderstatus AS status,
  o_totalprice AS total_price,
  CAST(year(o_orderdate) AS INTEGER) AS order_year
FROM orders
WHERE o_custkey IS NOT NULL AND o_totalprice > 100000.0
"""


@register("filter_project", oracle=_FILTER_PROJECT_ORACLE, tags=("project",))
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 null-key drop + predicate, P3 rename-project, derived column.
    Both the filter and the 4-column ReadSchema reach the parquet scan.
    """
    return (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey").isNotNull() & (F.col("o_totalprice") > 100000.0))
        .select(
            F.col("o_orderkey").alias("order_id"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("total_price"),
            F.year("o_orderdate").cast("int").alias("order_year"),
        )
    )


_COALESCE_ORACLE = """
SELECT
  o_orderkey,
  COALESCE(
    CASE WHEN o_orderstatus = 'O' THEN o_totalprice END,
    CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 0.5 END,
    0.0) AS chosen_price
FROM orders
"""


@register("coalesce_candidates", oracle=_COALESCE_ORACLE, tags=("project",))
def coalesce_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/F9: first-non-null candidate-column selection with a constant
    fallback (reference: odds column candidates,
    scripts/fetch_football_data.py:33-35; coalesce family,
    scripts/enrich_features.py:26-34).
    """
    o = read_table(spark, sf_dir, "orders")
    cand1 = F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice"))
    cand2 = F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice") * 0.5)
    return o.select(
        "o_orderkey",
        F.coalesce(cand1, cand2, F.lit(0.0)).alias("chosen_price"),
    )


_CONFORM_ORACLE = """
SELECT
  s_suppkey,
  s_name,
  s_acctbal,
  'EU' AS region_code,
  0 AS priority_flag,
  CAST(NULL AS DOUBLE) AS discount_rate
FROM supplier
"""


@register("conform_defaults", oracle=_CONFORM_ORACLE, tags=("project",))
def conform_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/P6/S7: conform a table onto a declared schema — missing
    columns default-stamped or NULL-typed, canonical order (reference:
    ensure_cols scripts/enrich_features.py:20-24, default stamping
    scripts/fetch_football_data.py:48-52).
    """


    target = T.StructType([
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_acctbal", T.DoubleType()),
        T.StructField("region_code", T.StringType()),
        T.StructField("priority_flag", T.IntegerType()),
        T.StructField("discount_rate", T.DoubleType()),
    ])
    return conform(
        read_table(spark, sf_dir, "supplier"),
        target,
        defaults={"region_code": "EU", "priority_flag": 0},
    )


# ---------------------------------------------------------------------------
# Joins (J1-J8)
# ---------------------------------------------------------------------------

_ENRICH_JOIN_ORACLE = """
SELECT
  o.o_orderkey,
  c.c_name,
  n.n_name,
  r.r_name,
  COALESCE(c.c_mktsegment, 'UNKNOWN') AS mktsegment,
  o.o_totalprice
FROM orders o
LEFT JOIN customer c ON o.o_custkey = c.c_custkey
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
"""


@register("enrich_broadcast_join", oracle=_ENRICH_JOIN_ORACLE, tags=("join",))
def enrich_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1-J6 pattern: fact spine left-joined through a chain of
    broadcast dimensions with default fill (reference enrich chain,
    scripts/enrich_features.py:171-176). All dims broadcast → zero
    shuffles; the fact table never moves.
    """
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .select(
            "o_orderkey",
            "c_name",
            "n_name",
            "r_name",
            F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("mktsegment"),
            "o_totalprice",
        )
    )


_DICT_LOOKUP_ORACLE = """
WITH name_map AS (
  SELECT n_name AS raw, n_name || '_CANON' AS canonical
  FROM nation WHERE n_nationkey % 3 = 0
)
SELECT
  COALESCE(m.canonical, n.n_name) AS canonical_nation,
  COUNT(*) AS n_customers
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
LEFT JOIN name_map m ON n.n_name = m.raw
GROUP BY 1
"""


@register("dict_lookup_join", oracle=_DICT_LOOKUP_ORACLE, tags=("join",))
def dict_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: dictionary-lookup normalization join with identity fallback
    (reference name map, scripts/enrich_features.py:37-43 — a broadcast
    join + coalesce, never a per-row dict UDF).
    """
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    name_map = (
        n.filter(F.col("n_nationkey") % 3 == 0)
        .select(
            F.col("n_name").alias("raw"),
            F.concat(F.col("n_name"), F.lit("_CANON")).alias("canonical"),
        )
    )
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(name_map), F.col("n_name") == F.col("raw"), "left")
        .select(F.coalesce("canonical", "n_name").alias("canonical_nation"))
        .groupBy("canonical_nation")
        .agg(F.count("*").alias("n_customers"))
    )


_OUTER_HYBRID_ORACLE = f"""
WITH cust AS (
  SELECT c_nationkey AS nationkey, {sql_davg('c_acctbal')} AS cust_avg_bal
  FROM customer GROUP BY 1
), supp AS (
  SELECT s_nationkey AS nationkey, {sql_davg('s_acctbal')} AS supp_avg_bal
  FROM supplier GROUP BY 1
)
SELECT
  COALESCE(cust.nationkey, supp.nationkey) AS nationkey,
  cust.cust_avg_bal,
  supp.supp_avg_bal,
  CASE WHEN cust.cust_avg_bal IS NOT NULL AND supp.supp_avg_bal IS NOT NULL
       THEN 0.6 * cust.cust_avg_bal + 0.4 * supp.supp_avg_bal
       ELSE COALESCE(cust.cust_avg_bal, supp.supp_avg_bal)
  END AS hybrid_bal
FROM cust FULL OUTER JOIN supp ON cust.nationkey = supp.nationkey
"""


@register("outer_join_hybrid", oracle=_OUTER_HYBRID_ORACLE, tags=("join", "agg"))
def outer_join_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 + A2: full-outer join of two aggregates + weighted-hybrid
    combine degrading to the non-null side (reference: cur-vs-last
    season outer join scripts/fetch_fbr_team_xg.py:104-106 and 0.6/0.4
    hybrid weighting :113-123).
    """

    c = (
        read_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(davg("c_acctbal").alias("cust_avg_bal"))
    )
    s = (
        read_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(davg("s_acctbal").alias("supp_avg_bal"))
    )
    joined = c.join(s, "nationkey", "full_outer")
    return joined.select(
        "nationkey",
        "cust_avg_bal",
        "supp_avg_bal",
        weighted_hybrid("cust_avg_bal", "supp_avg_bal", 0.60).alias("hybrid_bal"),
    )


_SEMI_ORACLE = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0)
"""


@register("semi_join_big_spenders", oracle=_SEMI_ORACLE, tags=("join",))
def semi_join_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (inventory beyond the reference, SURVEY.md §7
    Phase 3): customers having at least one large order.
    """
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000.0)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


_ANTI_ORACLE = """
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


@register("anti_join_no_orders", oracle=_ANTI_ORACLE, tags=("join",))
def anti_join_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no orders at all."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


_SORT_LIMIT_ORACLE = """
SELECT o_orderkey, o_totalprice, o_orderdate
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 50
"""


@register("sort_limit_topn", oracle=_SORT_LIMIT_ORACLE, tags=("sort",))
def sort_limit_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O3: global top-N. Spark executes ORDER BY + LIMIT as
    TakeOrderedAndProject — per-partition heaps, no total sort/shuffle —
    exactly the scale-safe plan (SURVEY.md §4.2).
    """
    return (
        read_table(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(50)
        .select("o_orderkey", "o_totalprice", "o_orderdate")
    )


# ---------------------------------------------------------------------------
# Set operations (U1 + inventory)
# ---------------------------------------------------------------------------

_UNION_ORACLE = """
SELECT c_custkey AS entity_id, c_name AS entity_name, 'customer' AS kind, c_acctbal AS acctbal
FROM customer
UNION ALL
SELECT s_suppkey AS entity_id, s_name AS entity_name, 'supplier' AS kind, s_acctbal AS acctbal
FROM supplier
"""


@register("union_all_entities", oracle=_UNION_ORACLE, tags=("set",))
def union_all_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: schema-aligned union-all (reference: pd.concat of per-league
    frames, scripts/fetch_football_data.py:56-69 → unionByName).
    """
    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_id"),
        F.col("c_name").alias("entity_name"),
        F.lit("customer").alias("kind"),
        F.col("c_acctbal").alias("acctbal"),
    )
    s = read_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("entity_id"),
        F.col("s_name").alias("entity_name"),
        F.lit("supplier").alias("kind"),
        F.col("s_acctbal").alias("acctbal"),
    )
    return c.unionByName(s)


_INTERSECT_NATIONS_ORACLE = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
"""


@register("intersect_nations", oracle=_INTERSECT_NATIONS_ORACLE, tags=("set",))
def intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct): nations having both customers and suppliers."""
    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = read_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersect(s)


_EXCEPT_ORACLE = """
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey AS nationkey FROM supplier
"""


@register("except_nations", oracle=_EXCEPT_ORACLE, tags=("set",))
def except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): nations with customers but no suppliers."""
    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = read_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.subtract(s)  # subtract == EXCEPT DISTINCT


# ---------------------------------------------------------------------------
# The reference's relational core: the enrich-join chain as one lazy DAG
# ---------------------------------------------------------------------------

_ENRICH_PIPELINE_ORACLE = """
WITH fact AS (
  SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice, o_orderstatus
  FROM orders
  WHERE o_custkey IS NOT NULL
), prev AS (
  SELECT
    fact.*,
    date_diff('day',
      lag(CAST(o_orderdate AS DATE))
        OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      CAST(o_orderdate AS DATE)) AS rest_days_raw
  FROM fact
)
SELECT
  p.o_orderkey,
  p.o_orderdate,
  p.o_totalprice,
  COALESCE(c.c_name, 'UNKNOWN') AS customer_name,
  COALESCE(n.n_name, 'UNKNOWN') AS nation_name,
  COALESCE(p.rest_days_raw, 4) AS rest_days,
  COALESCE(c.c_acctbal, 0.0) AS acct_bal,
  greatest(0.55, least(0.90, COALESCE(c.c_acctbal / 10000.0, 0.725)))
    AS customer_prior
FROM prev p
LEFT JOIN customer c ON p.o_custkey = c.c_custkey
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
"""


@register("enrich_pipeline", oracle=_ENRICH_PIPELINE_ORACLE, tags=("join", "pipeline"))
def enrich_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry-point-2 analog (SURVEY.md §3): the reference's
    read→filter→window→broadcast-enrich→default-fill chain
    (scripts/enrich_features.py:151-179) as ONE lazy DataFrame DAG —
    Catalyst sees the whole lineage; no per-stage materialization.
    Defaults fill last, existing values win (enrich-don't-clobber).
    """
    fact = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey").isNotNull())
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice",
                "o_orderstatus")
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    d = F.col("o_orderdate").cast("date")
    fact = fact.withColumn("rest_days_raw", F.datediff(d, F.lag(d).over(w)))
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    return (
        fact.join(F.broadcast(c), fact.o_custkey == c.c_custkey, "left")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .select(
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.coalesce("c_name", F.lit("UNKNOWN")).alias("customer_name"),
            F.coalesce("n_name", F.lit("UNKNOWN")).alias("nation_name"),
            F.coalesce("rest_days_raw", F.lit(4)).alias("rest_days"),
            F.coalesce("c_acctbal", F.lit(0.0)).alias("acct_bal"),
            clamp_with_midpoint(F.col("c_acctbal") / 10000.0, 0.55, 0.90).alias(
                "customer_prior"
            ),
        )
    )


_EXISTS_ORACLE = """
SELECT c.c_custkey, c.c_name, c.c_acctbal
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0
)
AND c.c_acctbal > 1000.0
"""


@register("correlated_exists", oracle=_EXISTS_ORACLE, tags=("join", "sql"))
def correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS through the SQL surface — Catalyst decorrelates
    to a left-semi hash join (no per-row subquery execution); asserted
    in tests/test_plans.py.
    """
    read_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_sq")
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_sq")
    return spark.sql("""
        SELECT c.c_custkey, c.c_name, c.c_acctbal
        FROM customer_sq c
        WHERE EXISTS (
          SELECT 1 FROM orders_sq o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0
        )
        AND c.c_acctbal > 1000.0
    """)


_SCALAR_SUBQ_ORACLE = f"""
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > 1.5 * (SELECT {sql_davg('o_totalprice')} FROM orders)
"""


@register("scalar_subquery_filter", oracle=_SCALAR_SUBQ_ORACLE, tags=("sql", "agg"))
def scalar_subquery_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery in a predicate (orders above 1.5× the global
    mean): Catalyst executes the subquery once and broadcasts the
    scalar; exact-decimal mean for cross-engine equality.
    """
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_ssq")
    return spark.sql(f"""
        SELECT o_orderkey, o_totalprice
        FROM orders_ssq
        WHERE o_totalprice > 1.5 * (SELECT {sql_davg('o_totalprice')} FROM orders_ssq)
    """)


_SALTED_ORACLE = f"""
SELECT
  s.s_suppkey,
  s.s_name,
  COUNT(*) AS n_items,
  {sql_dsum('l.l_extendedprice')} AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY s.s_suppkey, s.s_name
"""


@register("salted_skew_join", oracle=_SALTED_ORACLE, tags=("join", "skew", "agg"))
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated shuffle join: the fact side is salted
    (key → (key, salt)) and the dimension side replicated ×SALT, so one
    hot key spreads over SALT reducers instead of straggling on one.
    Results are identical to the plain join (oracle is the plain SQL).

    Demonstrated with a deterministic salt and a forced sort-merge join
    (a broadcast would hide the shuffle this technique exists to fix).
    In production AQE's skewedJoin handles moderate skew; explicit
    salting is for the pathological keys AQE can't split (single-key
    hot partitions in the map output).
    """

    n_salt = 8
    li = read_table(spark, sf_dir, "lineitem").withColumn(
        "salt", F.pmod(F.col("l_orderkey"), F.lit(n_salt)).cast("int")
    )
    sup = (
        read_table(spark, sf_dir, "supplier")
        .crossJoin(
            spark.range(n_salt).select(F.col("id").cast("int").alias("salt"))
        )
    )
    joined = li.hint("merge").join(
        sup,
        (li["l_suppkey"] == sup["s_suppkey"]) & (li["salt"] == sup["salt"]),
    )
    return joined.groupBy("s_suppkey", "s_name").agg(
        F.count("*").alias("n_items"),
        dsum("l_extendedprice").alias("revenue"),
    )


_UNPIVOT_ORACLE = """
SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS metric_value
FROM part
UNION ALL
SELECT p_partkey, 'retailprice', p_retailprice FROM part
"""


@register("unpivot_metrics", oracle=_UNPIVOT_ORACLE, tags=("project", "reshape"))
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide metric columns → long (key, metric, value)
    rows via the native ``unpivot`` operator — the reshape between
    feature matrices and long-format stores. Columnar expansion, no
    shuffle; the inverse of pivot_status_counts.
    """
    p = read_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").alias("retailprice"),
    )
    return p.unpivot("p_partkey", ["size", "retailprice"], "metric", "metric_value")


_REV_SQL = (
    "CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))"
    " * CAST(1 - l.l_discount AS DECIMAL(4,2))) AS DOUBLE)"
)


def _revenue() -> F.Column:
    return (
        F.sum(
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount")).cast("decimal(4,2)")
        )
    ).cast("double")


_Q3_ORACLE = f"""
SELECT
  o.o_orderkey,
  {_REV_SQL} AS revenue,
  o.o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1999-01-01 00:00:00'
GROUP BY o.o_orderkey, o.o_orderdate
ORDER BY revenue DESC, o.o_orderkey
LIMIT 10
"""


@register("shipping_priority_top10", oracle=_Q3_ORACLE, tags=("tpch", "join", "agg", "sort"))
def shipping_priority_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape: segment-filtered customer ⨝ orders ⨝ lineitem, revenue
    per unshipped order, top-10. The customer side collapses to a
    broadcast after its filter; the orderkey join is the only shuffle;
    the final top-10 is TakeOrderedAndProject (no global sort).
    Deterministic: orderkey tie-break in the ordering.
    """
    c = read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1999-01-01"
    )
    l = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1999-01-01"
    )
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("o_orderkey", "o_orderdate")
        .agg(_revenue().alias("revenue"))
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
        .select("o_orderkey", "revenue", "o_orderdate")
    )


_Q5_ORACLE = f"""
SELECT
  n.n_name,
  {_REV_SQL} AS revenue
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
WHERE r.r_name = 'EUROPE'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n.n_name
"""


@register("local_supplier_volume", oracle=_Q5_ORACLE, tags=("tpch", "join", "agg"))
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: six-table join — revenue by nation where supplier and
    customer share the nation. region/nation/customer/supplier all
    broadcast; lineitem⨝orders is the single shuffle; the
    supplier-nation equality is just one more conjunct on a broadcast
    join, not an extra exchange.
    """
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n = read_table(spark, sf_dir, "nation")
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    l = read_table(spark, sf_dir, "lineitem")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(
            s,
            (s["s_suppkey"] == l["l_suppkey"])
            & (s["s_nationkey"] == c["c_nationkey"]),
        )
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(_revenue().alias("revenue"))
    )


_Q10_ORACLE = f"""
SELECT
  c.c_custkey,
  c.c_name,
  {_REV_SQL} AS revenue,
  n.n_name,
  c.c_acctbal
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
"""


@register("returned_items_top20", oracle=_Q10_ORACLE, tags=("tpch", "join", "agg", "sort"))
def returned_items_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: customers ranked by revenue of returned items over a
    quarter-equivalent window. Same physical skeleton as Q3/Q5 —
    broadcast dims, one fact shuffle, top-N without a global sort.
    """
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    l = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(_revenue().alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "n_name", "c_acctbal")
    )


_Q18_ORACLE = """
SELECT
  c.c_name,
  c.c_custkey,
  o.o_orderkey,
  o.o_orderdate,
  o.o_totalprice,
  CAST(SUM(CAST(l.l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS total_qty
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(8,2))) > 150
)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 100
"""


@register("large_volume_customers", oracle=_Q18_ORACLE, tags=("tpch", "join", "agg", "sql"))
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: customers holding orders whose total quantity exceeds
    a threshold — an aggregated HAVING subquery feeding a semi join
    back onto the fact spine; top-100 via TakeOrderedAndProject.

    Plan: the textbook formulation re-joins lineitem after the semi
    filter and re-aggregates per order — but the inner HAVING aggregate
    ALREADY IS the per-order quantity sum the output needs (the final
    GROUP BY keys are functionally dependent on o_orderkey). So
    lineitem is scanned and aggregated exactly once, and the filtered
    per-order totals (tiny after HAVING > 150) join up the
    orders→customer spine — no lineitem-side fact-fact shuffle at all.
    Round-1 audit flagged the old two-scan form as the slowest TPC-H
    shape (1.88 s at sf0.1).
    """
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    l = read_table(spark, sf_dir, "lineitem")
    # Decimal sum, not cast('long'): a long cast truncates fractional
    # quantities toward zero, silently shifting HAVING>150 membership.
    # DECIMAL(8,2), not the default (18,6): quantity is a ≤2-dp value
    # below 10^6 (guarded by test_q18_quantity_fits_decimal_8_2), and
    # the narrower input keeps the sum type (8+10,2) long-backed —
    # (18,6)'s sum (28,6) falls off the fast path (A/B: 1.19 s vs
    # 0.75 s vs 0.59 s for the truncating long cast at sf0.1).
    big_orders = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(8,2)")).alias("qty"))
        .filter(F.col("qty") > 150)
    )
    return (
        big_orders.join(o, big_orders["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("qty").cast("double").alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


_Q7_ORACLE = f"""
SELECT
  n1.n_name AS supp_nation,
  n2.n_name AS cust_nation,
  CAST(YEAR(l.l_shipdate) AS INTEGER) AS l_year,
  {_REV_SQL} AS revenue
FROM supplier s
JOIN lineitem l ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n1.n_name, n2.n_name, YEAR(l.l_shipdate)
"""


@register("nation_trade_volume", oracle=_Q7_ORACLE, tags=("tpch", "join", "agg"))
def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: bilateral trade volume by year between two nations —
    a disjunctive cross-dimension predicate over two aliases of the
    same dimension. Both nation aliases broadcast; the OR predicate
    evaluates inside the join, not as a union of two plans.
    """
    s = read_table(spark, sf_dir, "supplier")
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    l = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    n = read_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair_ok = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, s["s_suppkey"] == l["l_suppkey"])
        .join(F.broadcast(n1), s["s_nationkey"] == F.col("n1_key"))
        .join(F.broadcast(n2), c["c_nationkey"] == F.col("n2_key"))
        .filter(pair_ok)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(_revenue().alias("revenue"))
    )


_Q8_ORACLE = """
WITH base AS (
  SELECT
    CAST(YEAR(o.o_orderdate) AS INTEGER) AS o_year,
    CAST(l.l_extendedprice AS DECIMAL(12,2))
      * CAST(1 - l.l_discount AS DECIMAL(4,2)) AS volume,
    n1.n_name AS supp_nation
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n2.n_regionkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
  WHERE r.r_name = 'EUROPE'
    AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
)
SELECT
  o_year,
  CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN volume END) AS DOUBLE)
    / CAST(SUM(volume) AS DOUBLE) AS mkt_share
FROM base
GROUP BY o_year
"""


@register("nation_market_share", oracle=_Q8_ORACLE, tags=("tpch", "join", "agg"))
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: one nation's share of a region's purchase volume by
    year — a conditional aggregate (numerator) over the same pass as
    the total (denominator); exact-decimal sums make the final division
    bit-identical across engines. Same one-fact-shuffle skeleton as
    Q5/Q7.
    """
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n = read_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region")
    )
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    l = read_table(spark, sf_dir, "lineitem")
    volume = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(4,2)")
    base = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n2), c["c_nationkey"] == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_region") == r["r_regionkey"])
        .join(s, s["s_suppkey"] == l["l_suppkey"])
        .join(F.broadcast(n1), s["s_nationkey"] == F.col("n1_key"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            volume.alias("volume"),
            "supp_nation",
        )
    )
    return base.groupBy("o_year").agg(
        (
            F.sum(F.when(F.col("supp_nation") == "NATION_1", F.col("volume")))
            .cast("double")
            / F.sum("volume").cast("double")
        ).alias("mkt_share")
    )


_Q21_ORACLE = """
WITH l1 AS (
  SELECT l.l_orderkey, l.l_suppkey,
         l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY AS late
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderstatus = 'F'
)
SELECT s.s_name, COUNT(*) AS numwait
FROM l1 a
JOIN supplier s ON s.s_suppkey = a.l_suppkey
WHERE a.late
  AND EXISTS (
    SELECT 1 FROM l1 b
    WHERE b.l_orderkey = a.l_orderkey AND b.l_suppkey <> a.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM l1 c
    WHERE c.l_orderkey = a.l_orderkey AND c.l_suppkey <> a.l_suppkey
      AND c.late
  )
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 100
"""


@register(
    "suppliers_who_kept_waiting",
    oracle=_Q21_ORACLE,
    tags=("tpch", "join", "agg", "subquery"),
)
def suppliers_who_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: suppliers who were the SOLE late supplier on a
    multi-supplier finished order ("late" = shipped >60 days after the
    order date, since the synthetic lineitem has no receipt/commit
    dates). The textbook form is two correlated self-joins
    (EXISTS + NOT EXISTS against lineitem); that is what the oracle
    runs. The Spark plan instead folds both existentials into a
    TWO-LEVEL aggregation: first (l_orderkey, l_suppkey) — map-side
    partial agg collapses the fact to distinct order/supplier pairs
    before the shuffle — then l_orderkey, where

      n_supp      = count(*)                 -> EXISTS other supp
      n_late_supp = sum(supp_late)           -> NOT EXISTS other late
      late_suppkey, n_late_rows carried from the late pair

    This beats the single-level double-countDistinct form (which
    Catalyst plans as a 3x Expand of the fact) by ~25% measured at
    sf0.1, and the per-supplier total is a cheap re-agg of ~|orders|
    rows. Supplier scales with SF -> no broadcast hint (AQE decides).
    Reference has no subqueries at all (SURVEY §2.3); shape kept for
    inventory parity with classic OLAP suites.
    """
    o = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    l = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    flagged = l.join(o, l["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .alias("late"),
    )
    per_pair = flagged.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("late").alias("supp_late"),
        F.sum(F.col("late").cast("long")).alias("n_late_rows"),
    )
    per_order = per_pair.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.sum(F.col("supp_late").cast("long")).alias("n_late_supp"),
        F.max(F.when(F.col("supp_late"), F.col("l_suppkey"))).alias("late_suppkey"),
        F.sum(F.when(F.col("supp_late"), F.col("n_late_rows"))).alias("n_late_rows"),
    )
    qual = per_order.filter(
        (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
    )
    per_supp = qual.groupBy("late_suppkey").agg(
        F.sum("n_late_rows").alias("numwait")
    )
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_supp.join(s, per_supp["late_suppkey"] == s["s_suppkey"])
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q2 shape — min-cost supplier per part
# ---------------------------------------------------------------------------

_Q2_ORACLE = """
WITH cost AS (
  SELECT l_partkey, l_suppkey,
         MIN(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
), best AS (
  SELECT l_partkey, l_suppkey, unit_cost,
         MIN(unit_cost) OVER (PARTITION BY l_partkey) AS best_cost
  FROM cost
)
SELECT
  p.p_partkey, p.p_name, s.s_name, n.n_name AS nation,
  b.unit_cost, s.s_acctbal
FROM best b
JOIN part p ON p.p_partkey = b.l_partkey
JOIN supplier s ON s.s_suppkey = b.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE b.unit_cost = b.best_cost AND p.p_size = 7
ORDER BY s.s_acctbal DESC, p.p_partkey, s.s_suppkey
LIMIT 100
"""


@register("min_cost_supplier", oracle=_Q2_ORACLE, tags=("tpch", "join", "window"))
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: for each part (of one size class), the supplier(s)
    offering the minimum unit cost — per-group argmin via a window min
    over a pre-aggregated part↔supplier cost table (derived from
    lineitem; the testdata has no partsupp), then dimension joins.

    Unit cost is a single IEEE division per row — deterministic
    cross-engine without rounding. Scale: the cost agg shuffles once on
    (partkey, suppkey); the window re-shuffles on partkey only; the
    part filter prunes BEFORE the dimension joins via the semi-join on
    the filtered part side.
    """
    l = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").filter(F.col("p_size") == 7)
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    cost = l.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    w = Window.partitionBy("l_partkey")
    best = cost.withColumn("best_cost", F.min("unit_cost").over(w)).filter(
        F.col("unit_cost") == F.col("best_cost")
    )
    return (
        best.join(p, best["l_partkey"] == p["p_partkey"])
        .join(s, best["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            F.col("n_name").alias("nation"),
            "unit_cost",
            "s_acctbal",
        )
        .orderBy(F.col("s_acctbal").desc(), "p_partkey", "s_suppkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q4 shape — order priority with correlated EXISTS
# ---------------------------------------------------------------------------

_Q4_ORACLE = """
SELECT o.o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


@register("order_priority_check", oracle=_Q4_ORACLE, tags=("tpch", "join", "agg"))
def order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: orders per priority having at least one slow line
    (shipped > 60 days after order date — the testdata's stand-in for
    commit<receipt). The correlated EXISTS is a LEFT SEMI join on the
    orderkey spine with the correlated date predicate evaluated inside
    the join condition; the year filter prunes orders at the scan.
    """
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = read_table(spark, sf_dir, "lineitem")
    slow = o.join(
        l,
        (o["o_orderkey"] == l["l_orderkey"])
        # interval add, not date_add: date_add truncates to DATE
        # (midnight), which only matches the oracle's
        # o_orderdate + INTERVAL 60 DAY because testdata orderdates
        # happen to be midnight — the interval form is exact always.
        & (l["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        slow.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Q11 shape — important stock: HAVING vs scalar aggregate
# ---------------------------------------------------------------------------

_Q11_ORACLE = """
WITH scoped AS (
  SELECT l.l_partkey,
         CAST(l.l_extendedprice AS DECIMAL(18,6)) AS val
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name = 'NATION_3'
)
SELECT l_partkey, CAST(SUM(val) AS DOUBLE) AS part_value
FROM scoped
GROUP BY l_partkey
HAVING SUM(val) > (SELECT SUM(val) * 0.001 FROM scoped)
ORDER BY part_value DESC, l_partkey
"""


@register("important_part_value", oracle=_Q11_ORACLE, tags=("tpch", "agg", "subquery"))
def important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: parts representing a significant share of one
    nation's traded value — a grouped aggregate filtered against a
    scalar aggregate of the SAME relation (HAVING > total·fraction).

    The scoped relation is computed once and reused for both the
    per-part agg and the grand total; Spark evaluates the scalar as a
    subquery-broadcast, no driver round-trip. Decimal-exact sums both
    sides (registry convention).
    """
    l = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    scoped = (
        l.join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select(
            "l_partkey", F.col("l_extendedprice").cast("decimal(18,6)").alias("val")
        )
    )
    per_part = scoped.groupBy("l_partkey").agg(F.sum("val").alias("val_dec"))
    total = scoped.agg((F.sum("val") * F.lit(0.001)).alias("threshold"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("val_dec") > F.col("threshold"))
        .select(
            "l_partkey", F.col("val_dec").cast("double").alias("part_value")
        )
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


# ---------------------------------------------------------------------------
# Q14 shape — promo revenue share
# ---------------------------------------------------------------------------

_Q14_ORACLE = """
SELECT
  CAST(100.0 * CAST(SUM(CASE WHEN p.p_type = 'ECONOMY'
        THEN CAST(l.l_extendedprice AS DECIMAL(12,2))
             * CAST(1 - l.l_discount AS DECIMAL(4,2))
        ELSE CAST(0 AS DECIMAL(14,4)) END) AS DOUBLE)
    / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
             * CAST(1 - l.l_discount AS DECIMAL(4,2))) AS DOUBLE)
    AS DOUBLE) AS promo_revenue_pct
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
"""


@register("promo_revenue_share", oracle=_Q14_ORACLE, tags=("tpch", "agg", "join"))
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: one month's revenue share of a promoted part class —
    conditional aggregation over a fact↔dim join, both sums
    decimal-exact and divided once in double (a single IEEE op, so no
    rounding needed). The month filter prunes the lineitem scan; part
    is left to AQE (row-scaling side, no hard-coded broadcast).
    """
    l = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    p = read_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(4,2)")
    promo = F.when(F.col("p_type") == "ECONOMY", rev).otherwise(
        F.lit(0).cast("decimal(14,4)")
    )
    return (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(rev).cast("double")
            )
            .cast("double")
            .alias("promo_revenue_pct")
        )
    )


# ---------------------------------------------------------------------------
# Q16 shape — supplier count by part attributes with exclusions
# ---------------------------------------------------------------------------

_Q16_ORACLE = """
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#13'
  AND p.p_type NOT LIKE 'SMALL%'
  AND p.p_size IN (1, 4, 7)
  AND l.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
"""


@register("supplier_count_by_part", oracle=_Q16_ORACLE, tags=("tpch", "agg", "join"))
def supplier_count_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: distinct suppliers per part attribute group, with a
    brand/type/size exclusion on the dim side and a NOT IN supplier
    blacklist (testdata stand-in: negative account balance) as a LEFT
    ANTI join. The part-side predicates push to the part scan; the
    anti join's build side (blacklisted suppliers) is small and
    broadcast by AQE.
    """
    l = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & (~F.col("p_type").startswith("SMALL"))
        & (F.col("p_size").isin(1, 4, 7))
    )
    bad = (
        read_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        l.join(bad, l["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(p, l["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


# ---------------------------------------------------------------------------
# Q20 shape — suppliers with excess share of a part's volume
# ---------------------------------------------------------------------------

_Q20_ORACLE = """
WITH per_supp AS (
  SELECT l_partkey, l_suppkey,
         SUM(CAST(l_quantity AS DECIMAL(18,6))) AS qty
  FROM lineitem GROUP BY l_partkey, l_suppkey
), per_part AS (
  SELECT l_partkey, SUM(qty) AS total_qty FROM per_supp GROUP BY l_partkey
), heavy AS (
  SELECT DISTINCT ps.l_suppkey
  FROM per_supp ps
  JOIN per_part pp ON pp.l_partkey = ps.l_partkey
  JOIN part p ON p.p_partkey = ps.l_partkey AND p.p_name LIKE 'small%'
  WHERE ps.qty > pp.total_qty * 0.2
)
SELECT s.s_name, n.n_name AS nation
FROM supplier s
JOIN heavy h ON h.l_suppkey = s.s_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
ORDER BY s.s_name
"""


@register("excess_share_suppliers", oracle=_Q20_ORACLE, tags=("tpch", "join", "agg"))
def excess_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: suppliers that dominate (>20% of shipped volume of)
    some part in a name class — nested aggregate reduction (per
    part×supplier, then per part) feeding a semi-join chain up to the
    supplier dimension. Both aggs reuse the same shuffle key prefix
    (partkey), decimal-exact quantities; the name-class filter prunes
    parts before the share check.
    """
    l = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").filter(F.col("p_name").startswith("small"))
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    per_supp = l.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("qty")
    )
    per_part = per_supp.groupBy("l_partkey").agg(F.sum("qty").alias("total_qty"))
    heavy = (
        per_supp.join(per_part, "l_partkey")
        .join(p, per_supp["l_partkey"] == p["p_partkey"], "left_semi")
        .filter(F.col("qty") > F.col("total_qty") * 0.2)
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(heavy, s["s_suppkey"] == heavy["l_suppkey"], "left_semi")
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select("s_name", F.col("n_name").alias("nation"))
        .orderBy("s_name")
    )


# ---------------------------------------------------------------------------
# Q9 shape — product-class profit by nation and year
# ---------------------------------------------------------------------------

_Q9_ORACLE = """
SELECT
  n.n_name AS nation,
  CAST(YEAR(l.l_shipdate) AS INTEGER) AS o_year,
  CAST(SUM(
    CAST(l.l_extendedprice AS DECIMAL(12,2))
      * CAST(1 - l.l_discount AS DECIMAL(4,2))
    - CAST(p.p_retailprice * 0.05 AS DECIMAL(12,2))
      * CAST(l.l_quantity AS DECIMAL(12,2))
  ) AS DOUBLE) AS sum_profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%widget%'
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
GROUP BY n.n_name, YEAR(l.l_shipdate)
ORDER BY nation, o_year DESC
"""


@register("product_profit_by_nation", oracle=_Q9_ORACLE, tags=("tpch", "join", "agg"))
def product_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: profit on a part-name class rolled up by supplier
    nation and ship year. Supply cost is synthesized as 5% of the
    part's retail price (the schema has no partsupp); the name filter
    prunes part before the fact join. Decimal-exact profit terms.
    """
    l = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(4,2)") - (F.col("p_retailprice") * 0.05).cast(
        "decimal(12,2)"
    ) * F.col("l_quantity").cast("decimal(12,2)")
    return (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


# ---------------------------------------------------------------------------
# Q13 shape — customer order-count distribution
# ---------------------------------------------------------------------------

_Q13_ORACLE = """
WITH c_orders AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON o.o_custkey = c.c_custkey AND o.o_orderstatus <> 'P'
  GROUP BY c.c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@register("order_count_distribution", oracle=_Q13_ORACLE, tags=("tpch", "join", "agg"))
def order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: histogram of per-customer order counts INCLUDING
    zero-order customers — a left outer join whose preserved side
    feeds a second aggregation (COUNT of a nullable key counts only
    matches; the join predicate carries the status exclusion so the
    outer rows survive it).
    """
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "P")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy(c["c_custkey"])
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# ---------------------------------------------------------------------------
# Q17 shape — small-quantity revenue (window-average correlated filter)
# ---------------------------------------------------------------------------

_Q17_ORACLE = """
WITH flagged AS (
  SELECT l.l_extendedprice,
         AVG(l.l_quantity) OVER (PARTITION BY l.l_partkey) AS avg_qty,
         l.l_quantity
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#21'
)
SELECT
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
       AS DOUBLE) AS avg_yearly
FROM flagged
WHERE l_quantity < 0.5 * avg_qty
"""


@register("small_quantity_revenue", oracle=_Q17_ORACLE, tags=("tpch", "window", "agg"))
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: revenue from lineitems whose quantity is below half
    the part's average — the correlated per-part AVG subquery expressed
    as ONE window over the partkey partition (the textbook form
    re-scans lineitem for the inner aggregate; the window computes it
    in the same shuffle that the filter consumes). avg is an exact
    integer-sum / count division, deterministic cross-engine.
    """
    l = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#21")
    w = Window.partitionBy("l_partkey")
    flagged = (
        l.join(p, l["l_partkey"] == p["p_partkey"], "left_semi")
        .withColumn("avg_qty", F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
    )
    return flagged.agg(
        (
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast("double")
            / 7.0
        )
        .cast("double")
        .alias("avg_yearly")
    )


# ---------------------------------------------------------------------------
# Q19 shape — disjunctive multi-column join predicates
# ---------------------------------------------------------------------------

_Q19_ORACLE = """
SELECT
  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
           * CAST(1 - l.l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE
  (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
     AND l.l_quantity BETWEEN 1 AND 11)
  OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
     AND l.l_quantity BETWEEN 10 AND 20)
  OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
     AND l.l_quantity BETWEEN 20 AND 30)
"""


@register("disjunctive_predicate_revenue", oracle=_Q19_ORACLE, tags=("tpch", "join"))
def disjunctive_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: revenue under three OR'd brand/size/quantity
    predicate combinations — the disjunction references BOTH join
    sides, so it evaluates inside the join (one pass); Catalyst still
    derives the common single-side conjuncts (brand IN set, size >= 1)
    and pushes them to the part scan.
    """
    l = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    joined = l.join(p, l["l_partkey"] == p["p_partkey"])
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(4,2)")
    return joined.filter(cond).agg(
        F.sum(rev).cast("double").alias("revenue")
    )


# ---------------------------------------------------------------------------
# Q22 shape — dormant high-balance customers by code
# ---------------------------------------------------------------------------

_Q22_ORACLE = """
WITH avg_bal AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS a
  FROM customer WHERE c_acctbal > 0.0
)
SELECT
  CAST(c.c_custkey % 7 AS INTEGER) AS cntrycode,
  COUNT(*) AS numcust,
  CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
FROM customer c, avg_bal
WHERE c.c_custkey % 7 IN (1, 3, 5)
  AND c.c_acctbal > avg_bal.a
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0
  )
GROUP BY c.c_custkey % 7
ORDER BY cntrycode
"""


@register("dormant_rich_customers", oracle=_Q22_ORACLE, tags=("tpch", "join", "agg"))
def dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: customers in selected code groups (synthesized as
    custkey mod 7 — the schema has no phone column) with above-average
    positive balances and NO orders — scalar-aggregate threshold
    (broadcast, computed once) + LEFT ANTI join against the fact,
    grouped into a code histogram.

    The threshold mean is decimal-exact (registry convention), so the
    gated row set is bit-identical across engines; aggregated outputs
    are decimal-exact too.
    """
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 400000.0
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("a")
    )
    code = (F.col("c_custkey") % 7).cast("int")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .join(F.broadcast(avg_bal))
        .filter(code.isin(1, 3, 5) & (F.col("c_acctbal") > F.col("a")))
        .groupBy(code.alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(12,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


# ---------------------------------------------------------------------------
# Market-basket co-occurrence (self-join pair mining)
# ---------------------------------------------------------------------------

_COPURCHASE_TOPK = 25

_COPURCHASE_ORACLE = f"""
WITH basket AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM basket a JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT part_a, part_b, COUNT(*) AS n_orders
FROM pairs
GROUP BY part_a, part_b
ORDER BY n_orders DESC, part_a, part_b
LIMIT {_COPURCHASE_TOPK}
"""


@register("copurchase_pairs", oracle=_COPURCHASE_ORACLE, tags=("join", "agg"))
def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top co-purchased part pairs: distinct (order, part) baskets
    self-joined on the order key with ``part_a < part_b`` (each pair
    once), counted, top-25 with a deterministic
    (count desc, part_a, part_b) tie-break. The canonical market-basket
    co-occurrence shape — also how a data pipeline mines co-occurring
    n-grams/entities for association features.

    Scale: NO join at all. Each order's distinct parts collapse to
    one sorted array in a single hash-agg (map-side partial
    collect_set, shuffle at order grain); the a<b pairs are generated
    SCAN-SIDE from that array with index-aware ``transform`` +
    ``slice`` — per-order cost is basket-size², bounded by the
    per-order line count (TPC-H ≤ 7; at 100 TB a ``slice`` cap on the
    sorted array is the standard basket-size guard, one expression
    away). Pair counting is a map-side-combinable hash-agg and the
    final top-k is a TakeOrdered over aggregated pairs, never a
    global sort of raw pairs. This replaced a basket self-join whose
    build side was fact-sized (~600k rows at sf0.1): AQE dutifully
    broadcast it under the 32 MB threshold — the kind of plan that
    dies at 100 TB when the build side is 100 GB. The array spelling
    has no join operator to mis-size (measured 1.43 s → ~0.6 s at
    sf0.1). Lambda-CSE note: ``parts`` is a post-aggregate attribute,
    not an inlined expression, so referencing it inside the lambdas
    is per-element cheap (tests/test_plans.py lambda gate still
    applies engine-wide).
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
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    return (
        baskets.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.part_a").alias("part_a"), F.col("p.part_b").alias("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(_COPURCHASE_TOPK)
    )


# ---------------------------------------------------------------------------
# Q6 shape — forecast revenue change (pure filter-aggregate)
# ---------------------------------------------------------------------------

_Q6_ORACLE = """
SELECT
  CAST(SUM(
    CAST(l_extendedprice AS DECIMAL(12,2))
      * CAST(l_discount AS DECIMAL(4,2))
  ) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24.0
"""


@register("forecast_revenue_change", oracle=_Q6_ORACLE, tags=("tpch", "agg", "scan"))
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape: revenue that would be gained by eliminating discounts
    in a band — a single-table filter-aggregate where EVERY predicate
    (ship-year range, discount band, quantity cap) is pushable to the
    parquet scan and the sum is decimal-exact (registry convention).

    The discount band bounds are the exact float64 values 0.05/0.07 on
    both engines, so the comparison set is bit-identical; the product
    is computed in DECIMAL so partial-aggregation order cannot perturb
    the result.

    Reference parity: the classic TPC-H Q6 filter-agg shape
    (reference scripts express equivalent single-frame filtered sums,
    e.g. scripts/build_feature_table.py aggregate steps).
    """
    l = read_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * F.col(
        "l_discount"
    ).cast("decimal(4,2)")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24.0)
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Q12 shape — shipping groups and order priority (two-way conditional agg)
# ---------------------------------------------------------------------------

_Q12_ORACLE = """
SELECT
  l.l_returnflag AS ship_group,
  CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY
  AND l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l.l_returnflag
ORDER BY ship_group
"""


@register("late_shipment_priority", oracle=_Q12_ORACLE, tags=("tpch", "join", "agg"))
def late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: per-group counts of high- vs low-priority orders
    among late shipments — a fact-fact join whose aggregate is a pair
    of conditional sums (the two-way CASE pivot).

    Schema adaptation: the synthetic lineitem has no l_shipmode /
    l_commitdate / l_receiptdate, so the mode group is synthesized as
    l_returnflag and "late" as shipped ≥ 60 days after the order date
    (the same shape: a row-level date predicate spanning both join
    sides, evaluated post-join, plus a scan-side ship-year window).

    The ship-year range prunes lineitem at the scan; only the
    cross-table lateness predicate waits for the join. Counts are
    integers — no float determinism concern.
    """
    o = read_table(spark, sf_dir, "orders")
    l = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, l["l_orderkey"] == o["o_orderkey"])
        .filter(
            F.col("l_shipdate")
            >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .groupBy(F.col("l_returnflag").alias("ship_group"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("ship_group")
    )


# ---------------------------------------------------------------------------
# Q15 shape — top supplier by quarterly revenue (view + scalar max)
# ---------------------------------------------------------------------------

_Q15_ORACLE = """
WITH revenue0 AS (
  SELECT
    l_suppkey AS supplier_no,
    SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        * CAST(1 - l_discount AS DECIMAL(4,2))) AS rev_dec
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT
  s.s_suppkey,
  s.s_name,
  CAST(r.rev_dec AS DOUBLE) AS total_revenue
FROM supplier s
JOIN revenue0 r ON s.s_suppkey = r.supplier_no
WHERE r.rev_dec = (SELECT MAX(rev_dec) FROM revenue0)
ORDER BY s.s_suppkey
"""


@register("top_supplier_revenue", oracle=_Q15_ORACLE, tags=("tpch", "agg", "join"))
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: the supplier(s) achieving maximum revenue in a
    quarter — the CREATE VIEW + scalar-max-subquery pattern. The view
    is ONE hash-aggregate over the quarter's lineitems; the global max
    is a 1-row aggregate of that (small) view, broadcast back as a
    filter — no global window (which would single-partition the view)
    and no second fact scan.

    The max-equality filter compares DECIMAL sums (exact on both
    engines), so ties and the winner are bit-deterministic; the output
    revenue is cast to double only at the end.
    """
    l = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(4,2)")
    revenue0 = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(rev).alias("rev_dec"))
    )
    mx = revenue0.agg(F.max("rev_dec").alias("mx"))
    return (
        s.join(
            revenue0.join(F.broadcast(mx)).filter(
                F.col("rev_dec") == F.col("mx")
            ),
            s["s_suppkey"] == F.col("supplier_no"),
        )
        .select(
            "s_suppkey",
            "s_name",
            F.col("rev_dec").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Association rules: support / confidence / lift on co-purchased parts
# ---------------------------------------------------------------------------

_RULES_TOPK = 25

_RULES_ORACLE = f"""
WITH basket AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM basket),
item AS (
  SELECT l_partkey, COUNT(*) AS n_item FROM basket GROUP BY 1
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_ab
  FROM basket a JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
top_pairs AS (
  SELECT * FROM pairs
  ORDER BY n_ab DESC, part_a, part_b
  LIMIT {_RULES_TOPK}
)
SELECT p.part_a, p.part_b,
       CAST(p.n_ab AS BIGINT) AS n_ab,
       ROUND(CAST(p.n_ab AS DOUBLE) / t.n, 6) AS support,
       ROUND(CAST(p.n_ab AS DOUBLE) / ia.n_item, 6) AS conf_a_to_b,
       ROUND(CAST(p.n_ab AS DOUBLE) * t.n
             / (CAST(ia.n_item AS DOUBLE) * ib.n_item), 6) AS lift
FROM top_pairs p
JOIN item ia ON ia.l_partkey = p.part_a
JOIN item ib ON ib.l_partkey = p.part_b
CROSS JOIN n_orders t
"""


@register("assoc_rules_lift", oracle=_RULES_ORACLE, tags=("join", "agg"))
def assoc_rules_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule metrics for the top co-purchased part pairs:
    support (pair share of baskets), confidence (P(b|a)) and lift
    (observed co-occurrence over the independence expectation) — the
    classic market-basket read on top of copurchase_pairs' mining
    plan. Lift > 1 flags genuinely associated items; confidence alone
    is inflated by popular items, which is exactly what lift corrects.

    Determinism: all three metrics are single double divisions of
    exact integer counts, ROUND 6; the top-k cut is
    (count desc, part_a, part_b).

    Scale: identical candidate shape to copurchase_pairs (dedup'd
    baskets self-joined on the order key, per-key blow-up bounded by
    basket size); item frequencies are a map-side-combinable hash-agg;
    the metric joins touch only the k surviving pairs, with the basket
    count as a 1-row broadcast.
    """
    li = read_table(spark, sf_dir, "lineitem")
    basket = li.select("l_orderkey", "l_partkey").distinct().persist()
    n_orders = basket.agg(
        F.countDistinct("l_orderkey").alias("n")
    )
    item = basket.groupBy("l_partkey").agg(F.count("*").alias("n_item"))
    a = basket.alias("a")
    b = basket.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n_ab"))
        .orderBy(F.col("n_ab").desc(), "part_a", "part_b")
        .limit(_RULES_TOPK)
    )
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("n_item").alias("na"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("n_item").alias("nb"))
    return (
        pairs.join(ia, "part_a")
        .join(ib, "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.round(F.col("n_ab").cast("double") / F.col("n"), 6).alias(
                "support"
            ),
            F.round(F.col("n_ab").cast("double") / F.col("na"), 6).alias(
                "conf_a_to_b"
            ),
            F.round(
                F.col("n_ab").cast("double")
                * F.col("n")
                / (F.col("na").cast("double") * F.col("nb")),
                6,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# SCD2 point-in-time join (time-travel dimension lookup)
# ---------------------------------------------------------------------------

_SCD2_PIT_ORACLE = """
WITH v1 AS (
  SELECT c_custkey, c_acctbal, 1 AS version FROM customer
),
v2 AS (
  SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal, 2 AS version
  FROM customer WHERE c_custkey % 3 = 0
),
scd AS (
  SELECT c_custkey, c_acctbal, version AS valid_from,
         COALESCE(
           LEAD(version) OVER (PARTITION BY c_custkey ORDER BY version) - 1,
           2147483647) AS valid_to
  FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
)
SELECT o.o_orderkey, o.o_custkey,
       CAST(1 + o.o_orderkey % 2 AS INTEGER) AS as_of_version,
       s.c_acctbal AS acctbal_as_of
FROM orders o
JOIN scd s
  ON s.c_custkey = o.o_custkey
 AND 1 + o.o_orderkey % 2 BETWEEN s.valid_from AND s.valid_to
"""


@register("scd2_point_in_time_join", oracle=_SCD2_PIT_ORACLE, tags=("join", "pipeline"))
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (time-travel) fact→dimension lookup against an
    SCD2 history: every order reads the customer attribute that was
    VALID AT its as-of version — the query shape that makes SCD2
    worth building (scd2_history constructs the intervals; this
    consumes them). Interval containment is resolved as an EQUI-join
    on the customer key followed by the validity predicate: each key
    has at most a handful of versions, so the bounded post-join filter
    beats a range-join plan (which Spark would nested-loop). At 100 TB
    both sides bucket on the key and the join is exchange-free.
    """
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    v1 = c.select("c_custkey", "c_acctbal", F.lit(1).alias("version"))
    v2 = c.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
        F.lit(2).alias("version"),
    )
    w = Window.partitionBy("c_custkey").orderBy("version")
    scd = (
        v1.unionByName(v2)
        .select(
            "c_custkey",
            "c_acctbal",
            F.col("version").alias("valid_from"),
            F.coalesce(
                F.lead("version").over(w) - 1, F.lit(2147483647)
            ).alias("valid_to"),
        )
    )
    fact = o.select(
        "o_orderkey",
        "o_custkey",
        (1 + F.pmod("o_orderkey", F.lit(2))).cast("int").alias("as_of_version"),
    )
    return (
        fact.join(scd, fact["o_custkey"] == scd["c_custkey"])
        .filter(
            F.col("as_of_version").between(
                F.col("valid_from"), F.col("valid_to")
            )
        )
        .select(
            "o_orderkey",
            "o_custkey",
            "as_of_version",
            F.col("c_acctbal").alias("acctbal_as_of"),
        )
    )


# ---------------------------------------------------------------------------
# Null-safe equality join surface (<=> / IS NOT DISTINCT FROM)
# ---------------------------------------------------------------------------

_NULL_SAFE_ORACLE = """
WITH cg AS (
  SELECT NULLIF(c_nationkey % 5, 4) AS grp, COUNT(*) AS cust_cnt
  FROM customer GROUP BY 1
),
sg AS (
  SELECT NULLIF(s_nationkey % 5, 4) AS grp, COUNT(*) AS supp_cnt
  FROM supplier GROUP BY 1
)
SELECT CAST(cg.grp AS INTEGER) AS grp,
       CAST(cg.cust_cnt AS BIGINT) AS cust_cnt,
       CAST(sg.supp_cnt AS BIGINT) AS supp_cnt
FROM cg JOIN sg ON cg.grp IS NOT DISTINCT FROM sg.grp
"""


@register("null_safe_join_surface", oracle=_NULL_SAFE_ORACLE, tags=("join", "sql"))
def null_safe_join_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): the
    NULL group on both sides MATCHES (one output row pairs the two
    NULL-key aggregates), where a plain `=` join would silently drop
    it — the semantic every dimension-conformance pipeline needs when
    'unknown' is a legitimate key. Joining the two pre-aggregated
    grain tables (≤5 rows each) keeps the null-safe comparison off
    the fact path; Spark plans `<=>` as a regular hash join key, so
    no nested-loop penalty.
    """
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    cg = c.groupBy(
        F.nullif(F.pmod("c_nationkey", F.lit(5)), F.lit(4)).alias("grp")
    ).agg(F.count("*").alias("cust_cnt"))
    sg = s.groupBy(
        F.nullif(F.pmod("s_nationkey", F.lit(5)), F.lit(4)).alias("sgrp")
    ).agg(F.count("*").alias("supp_cnt"))
    return (
        cg.join(sg, cg["grp"].eqNullSafe(sg["sgrp"]))
        .select(
            F.col("grp").cast("int").alias("grp"), "cust_cnt", "supp_cnt"
        )
    )


# ---------------------------------------------------------------------------
# NOT IN vs NOT EXISTS under NULLs (three-valued logic surface)
# ---------------------------------------------------------------------------

_NOT_IN_ORACLE = """
WITH sub AS (
  SELECT CASE WHEN o_orderkey % 1000 = 0 THEN NULL ELSE o_custkey END AS k
  FROM orders WHERE o_custkey % 7 <> 0
)
SELECT
  CAST((SELECT COUNT(*) FROM customer
        WHERE c_custkey NOT IN (SELECT k FROM sub)) AS BIGINT) AS n_not_in,
  CAST((SELECT COUNT(*) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM sub WHERE sub.k = c.c_custkey))
       AS BIGINT) AS n_not_exists
"""


@register("not_in_null_semantics", oracle=_NOT_IN_ORACLE, tags=("sql",))
def not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN null trap as a checked surface: against a subquery
    containing one NULL, `NOT IN` can never be TRUE (x <> NULL is
    UNKNOWN, and one UNKNOWN conjunct poisons the whole predicate), so
    n_not_in = 0, while `NOT EXISTS` — an anti-join on equality, where
    NULL simply never matches — returns the real orphan count. Both
    engines must implement identical three-valued logic for this row
    to hash-match; Catalyst plans NOT IN as a null-aware anti join
    (visible in PLANS.md) rather than a per-row subquery.
    """
    read_table(spark, sf_dir, "customer").createOrReplaceTempView("nin_customer")
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("nin_orders")
    return spark.sql(
        """
        WITH sub AS (
          SELECT CASE WHEN o_orderkey % 1000 = 0 THEN NULL ELSE o_custkey END AS k
          FROM nin_orders WHERE o_custkey % 7 <> 0
        )
        SELECT
          CAST((SELECT COUNT(*) FROM nin_customer
                WHERE c_custkey NOT IN (SELECT k FROM sub)) AS BIGINT)
            AS n_not_in,
          CAST((SELECT COUNT(*) FROM nin_customer c
                WHERE NOT EXISTS (SELECT 1 FROM sub WHERE sub.k = c.c_custkey))
               AS BIGINT) AS n_not_exists
        """
    )


# ---------------------------------------------------------------------------
# Recursive CTE reachability (WITH RECURSIVE surface)
# ---------------------------------------------------------------------------

_REC_DEPTH = 3

_REC_SOURCE = 0

_RECURSIVE_SQL = """
WITH RECURSIVE reach(node, depth) AS (
  SELECT {src} AS node, 0 AS depth
  UNION ALL
  SELECT e.dst, r.depth + 1
  FROM reach r JOIN {edges} e ON e.src = r.node
  WHERE r.depth < {maxd}
)
SELECT node, CAST(MIN(depth) AS INTEGER) AS min_depth
FROM reach GROUP BY node
"""

_RECURSIVE_ORACLE = f"""
WITH edge_base AS (
  SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE s.s_nationkey <> c.c_nationkey
),
result AS (
  {_RECURSIVE_SQL.format(src=_REC_SOURCE, edges="edge_base", maxd=_REC_DEPTH)}
)
SELECT * FROM result
"""


@register(
    "recursive_reachability_sql", oracle=_RECURSIVE_ORACLE, tags=("sql", "graph")
)
def recursive_reachability_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure through the WITH RECURSIVE surface (new in
    Spark 4): minimum hop depth from nation {SRC} over the distinct
    trade edges, depth-bounded at {D}. Same semantics as
    bfs_reach_hops' unrolled Pregel loop, but expressed as the
    STANDARD SQL recursion both engines execute natively — the
    capability row proving hierarchical/graph queries need no manual
    unrolling on this engine anymore. The depth guard bounds the
    UNION ALL frontier (path-counting, not node-counting, so an
    unguarded recursion on a cyclic graph never terminates).

    Scale: the recursive member is a repeated equi-join of the
    frontier against the node-bounded edge relation; for fact-scale
    edge tables the iterative DataFrame loop (graph.py) with persisted
    edges remains the tuned path — this registers the SQL surface and
    pins its semantics against DuckDB's reference implementation.
    """
    l = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .distinct()
    )
    edges.createOrReplaceTempView("rec_trade_edges")
    return spark.sql(
        _RECURSIVE_SQL.format(
            src=_REC_SOURCE, edges="rec_trade_edges", maxd=_REC_DEPTH
        )
    )


# ---------------------------------------------------------------------------
# VARIANT semi-structured extraction (Spark 4 open variant type)
# ---------------------------------------------------------------------------

_VARIANT_ORACLE = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k,
       CAST(json_extract_string(props, '$.missing') AS INTEGER) AS prop_missing
FROM events
WHERE props IS NOT NULL
"""


@register("variant_extract_surface", oracle=_VARIANT_ORACLE, tags=("sql", "json"))
def variant_extract_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through Spark 4's VARIANT type:
    ``parse_json`` once into the binary variant encoding, then typed
    ``variant_get`` path extraction — the schema-on-read path that
    replaces per-query ``from_json`` schema declarations and keeps
    shredded-column pushdown available at the storage layer (the
    open-variant design Parquet/Iceberg/Delta share). Missing paths
    yield NULL, pinned by the second column; DuckDB's JSON type is the
    reference semantics. Scan-side only — parse once, extract many.
    """
    e = read_table(spark, sf_dir, "events")
    e.filter(F.col("props").isNotNull()).createOrReplaceTempView("variant_events")
    return spark.sql(
        """
        SELECT event_id,
               variant_get(parse_json(props), '$.k', 'int') AS prop_k,
               variant_get(parse_json(props), '$.missing', 'int') AS prop_missing
        FROM variant_events
        """
    )


# ---------------------------------------------------------------------------
# Bag-semantics set operations (EXCEPT ALL / INTERSECT ALL)
# ---------------------------------------------------------------------------

_BAG_OPS_ORACLE = """
WITH a AS (
  SELECT o_orderpriority AS pri FROM orders WHERE o_orderkey % 2 = 0
),
b AS (
  SELECT o_orderpriority AS pri FROM orders WHERE o_orderkey % 2 = 1
)
SELECT 'except_all' AS op, pri FROM (SELECT pri FROM a EXCEPT ALL SELECT pri FROM b)
UNION ALL
SELECT 'intersect_all' AS op, pri
FROM (SELECT pri FROM a INTERSECT ALL SELECT pri FROM b)
"""


@register("bag_set_ops_surface", oracle=_BAG_OPS_ORACLE, tags=("sql",))
def bag_set_ops_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL / INTERSECT ALL — BAG semantics set operations
    (multiplicity max(m−n, 0) and min(m, n) per value), the variant
    the DISTINCT-semantics rows (except_nations / intersect_nations)
    cannot express and the one reconciliation jobs actually need
    ("how many of each priority does snapshot A have beyond B?").
    Catalyst plans both as aggregate-count + generate replication —
    one shuffle per side on the value, never a join. The multiset
    output is compared whole (order-insensitive driver hash =
    multiset equality).
    """
    o = read_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderpriority").alias("pri")
    )
    b = o.filter(F.col("o_orderkey") % 2 == 1).select(
        F.col("o_orderpriority").alias("pri")
    )
    return (
        a.exceptAll(b)
        .select(F.lit("except_all").alias("op"), "pri")
        .unionByName(
            a.intersectAll(b).select(F.lit("intersect_all").alias("op"), "pri")
        )
    )


# ---------------------------------------------------------------------------
# Correlated LATERAL subquery top-n (SQL surface)
# ---------------------------------------------------------------------------

_LATERAL_SQL = """
SELECT n.c_nationkey, t.c_custkey, t.c_acctbal
FROM (SELECT DISTINCT c_nationkey FROM {customer}) n,
LATERAL (SELECT c_custkey, c_acctbal FROM {customer} c
         WHERE c.c_nationkey = n.c_nationkey
         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
"""


@register(
    "lateral_topn_surface",
    oracle=_LATERAL_SQL.format(customer="customer"),
    tags=("sql", "join"),
)
def lateral_topn_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery — the SQL-standard spelling of
    per-group top-n (top-2 customers by balance per nation), new as a
    SQL surface in Spark 3.2+ and the idiom migrating users reach for
    before they learn window functions. Catalyst decorrelates the
    LATERAL into a ranked window under the hood (DomainJoin rewrite),
    so the physical plan is the same single-shuffle rank-filter as
    `window_top2_per_key` — this row pins that the surface agrees with
    the window spelling's semantics AND with DuckDB's LATERAL. Ties
    broken by custkey so the LIMIT is deterministic. At 100 TB the
    decorrelation matters: a naive nested-loop LATERAL would rescan
    the fact table per outer row; Catalyst's rewrite keeps it one scan.
    """
    c = read_table(spark, sf_dir, "customer")
    c.createOrReplaceTempView("lateral_customer")
    return spark.sql(_LATERAL_SQL.format(customer="lateral_customer"))


# ---------------------------------------------------------------------------
# Advisor-prescribed salted join execution
# ---------------------------------------------------------------------------

# Demo-scaled rows-per-task target (the production advisor,
# join_skew_advisor, uses 100k): at test SFs the o_custkey max frequency is tens of rows,
# so a 100k target would prescribe fan-out 1 and exercise nothing; 8
# rows/task makes the prescription a real >1 fan-out at sf0.01+ while
# keeping the formula identical.
_EXEC_TARGET = 8

_SALT_EXEC_ORACLE = f"""
WITH adv AS (
  SELECT CAST((MAX(cnt) + {_EXEC_TARGET - 1}) // {_EXEC_TARGET} AS BIGINT)
           AS salt_buckets
  FROM (SELECT COUNT(*) AS cnt FROM orders GROUP BY o_custkey)
)
SELECT c.c_custkey, c.c_name,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS spend,
       adv.salt_buckets
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
CROSS JOIN adv
GROUP BY c.c_custkey, c.c_name, adv.salt_buckets
"""


@register(
    "join_skew_salted_exec",
    oracle=_SALT_EXEC_ORACLE,
    tags=("join", "skew", "agg", "plan"),
)
def join_skew_salted_exec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Advisor → execution round trip for skew salting: derive the
    salt fan-out the way ``join_skew_advisor`` prescribes
    it — ceil(max key frequency / rows-per-task target), in exact
    integer arithmetic — then EXECUTE the salted sort-merge join with
    that fan-out and return the per-customer aggregate, which must
    hash-match the plain unsalted join (the oracle). The prescribed
    ``salt_buckets`` is emitted as a column, so the driver artifact
    records both that the prescription was followed and that it
    preserved the result.

    Unlike ``salted_skew_join`` (fixed fan-out 8), the
    fan-out here is DATA-DERIVED inside the same Catalyst DAG: the
    one-row advisor aggregate broadcasts onto both sides; the fact
    side salts with pmod(xxhash64(row key), salt_buckets); the
    dimension side replicates via explode(sequence(0, salt_buckets-1))
    — a COLUMN fan-out, so no driver collect and no literal to go
    stale when the data changes. salt_buckets ≥ 1 always (max_cnt ≥ 1
    and ceil-division), so the sequence is never empty (the
    sequence(0,-1) trap).

    Scale: the advisor agg is one key-grain hash-agg (NDV-bounded
    shuffle); the salted join's hot-key rows spread over salt_buckets
    reducers — the whole point — and the final agg re-groups by the
    unsalted key. The salt column never leaves the plan, so
    engine-specific xxhash64 cannot affect the output.

    Cites the reference's skew-blind pandas merges
    (scripts/enrich_features.py:151-179) as the surface this
    replaces at cluster scale.
    """

    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    adv = (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("cnt"))
        .agg(F.max("cnt").alias("max_cnt"))
        .select(
            F.expr(
                f"(max_cnt + {_EXEC_TARGET - 1}) div {_EXEC_TARGET}"
            )
            .cast("bigint")
            .alias("salt_buckets")
        )
    )
    fact = (
        o.crossJoin(F.broadcast(adv))
        .select(
            "o_custkey",
            "o_totalprice",
            F.pmod(F.xxhash64("o_orderkey"), F.col("salt_buckets"))
            .cast("int")
            .alias("salt"),
        )
    )
    cust = (
        read_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name")
        .crossJoin(F.broadcast(adv))
        .select(
            "c_custkey",
            "c_name",
            "salt_buckets",
            F.explode(
                F.sequence(
                    F.lit(0), (F.col("salt_buckets") - 1).cast("int")
                )
            ).alias("salt"),
        )
    )
    joined = fact.hint("merge").join(
        cust,
        (fact["o_custkey"] == cust["c_custkey"])
        & (fact["salt"] == cust["salt"]),
    )
    return joined.groupBy("c_custkey", "c_name", "salt_buckets").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        dsum("o_totalprice").alias("spend"),
    ).select("c_custkey", "c_name", "n_orders", "spend", "salt_buckets")


# ---------------------------------------------------------------------------
# Multi-touch conversion attribution
# ---------------------------------------------------------------------------

_ATTR_LOOKBACK_DAYS = 3

_ATTR_HALFLIFE_US = 86_400_000_000.0  # 24 h in microseconds

_TOUCH_TYPES = ("view", "click", "signup")

_ATTR_ORACLE = f"""
WITH conv AS (
  SELECT user_id, event_id AS conv_id, ts AS conv_ts, value
  FROM events WHERE event_type = 'purchase'
), touch AS (
  SELECT user_id AS t_user, event_id AS touch_id,
         event_type AS channel, ts AS touch_ts
  FROM events WHERE event_type IN {_TOUCH_TYPES!r}
), p AS (
  SELECT c.conv_id, c.value, t.touch_id, t.channel, t.touch_ts,
         ROUND(POWER(0.5,
           (epoch_us(c.conv_ts) - epoch_us(t.touch_ts))
             / {_ATTR_HALFLIFE_US}), 6) AS w
  FROM conv c LEFT JOIN touch t
    ON t.t_user = c.user_id
   AND t.touch_ts <= c.conv_ts
   AND t.touch_ts >= c.conv_ts - INTERVAL {_ATTR_LOOKBACK_DAYS} DAY
), win AS (
  SELECT *,
    CAST(SUM(CAST(w AS DECIMAL(18,6))) OVER (PARTITION BY conv_id)
         AS DOUBLE) AS sum_w,
    COUNT(touch_id) OVER (PARTITION BY conv_id) AS n_t,
    ROW_NUMBER() OVER (PARTITION BY conv_id
                       ORDER BY touch_ts, touch_id) AS rn_first,
    ROW_NUMBER() OVER (PARTITION BY conv_id
                       ORDER BY touch_ts DESC, touch_id DESC) AS rn_last
  FROM p
), contrib AS (
  SELECT COALESCE(channel, '(unattributed)') AS channel, touch_id,
    CASE WHEN touch_id IS NULL THEN value
         ELSE ROUND(value * w / sum_w, 12) END AS td_c,
    CASE WHEN touch_id IS NULL THEN value
         ELSE ROUND(value / n_t, 12) END AS lin_c,
    CASE WHEN touch_id IS NULL OR rn_first = 1 THEN value
         ELSE 0.0 END AS first_c,
    CASE WHEN touch_id IS NULL OR rn_last = 1 THEN value
         ELSE 0.0 END AS last_c
  FROM win
)
SELECT channel, COUNT(*) AS n_rows,
  ROUND(CAST(SUM(CAST(td_c AS DECIMAL(28,12))) AS DOUBLE), 6) AS td_value,
  ROUND(CAST(SUM(CAST(lin_c AS DECIMAL(28,12))) AS DOUBLE), 6)
    AS linear_value,
  ROUND(CAST(SUM(CAST(first_c AS DECIMAL(18,6))) AS DOUBLE), 6)
    AS first_value,
  ROUND(CAST(SUM(CAST(last_c AS DECIMAL(18,6))) AS DOUBLE), 6)
    AS last_value
FROM contrib GROUP BY channel
"""


@register(
    "attribution_multi_touch",
    oracle=_ATTR_ORACLE,
    tags=("join", "window", "events"),
)
def attribution_multi_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution: each purchase's value allocated over
    the same user's view/click/signup touches in the preceding 3 days,
    under four models at once — time-decay (24 h half-life, weights
    normalized per conversion), linear (1/n), first-touch, last-touch
    — aggregated per channel, with conversions that had NO touch in
    the window reported as '(unattributed)' so every model column
    sums to total conversion value (asserted in
    tests/test_round8b.py).

    Determinism: the decay weight is ROUND(pow(½, Δt_us/86400e6), 6)
    per-term (exact integer Δt in microseconds; transcendental
    rounded per the r6 convention), the per-conversion weight sum is
    an exact DECIMAL(18,6) window sum, each attributed value is
    ROUND(...,12) then DECIMAL(28,12)-summed (the pagerank contrib
    spelling), and first/last/unattributed sums are dsum-exact
    (event values are 2-decimal money). First/last tie-breaks pin
    (touch_ts, touch_id) totally.

    Scale: the conversion⋈touch join is equi-keyed on user_id with
    the 3-day band evaluated inside the join (the
    view_click_interval_join shape — no per-user cross product beyond
    the band); the four windows all partition by conv_id, whose
    fan-in is bounded by a user's touch rate × lookback. One shuffle
    to user, one to conv_id, one bounded-width final agg.
    """
    ev = read_table(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("conv_id"),
        F.col("ts").alias("conv_ts"),
        "value",
    )
    touch = ev.filter(F.col("event_type").isin(*_TOUCH_TYPES)).select(
        F.col("user_id").alias("t_user"),
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("channel"),
        F.col("ts").alias("touch_ts"),
    )
    p = conv.join(
        touch,
        (F.col("t_user") == F.col("user_id"))
        & (F.col("touch_ts") <= F.col("conv_ts"))
        & (
            F.col("touch_ts")
            >= F.col("conv_ts") - F.expr(f"INTERVAL {_ATTR_LOOKBACK_DAYS} DAYS")
        ),
        "left",
    ).select(
        "conv_id",
        "value",
        "touch_id",
        "channel",
        "touch_ts",
        F.round(
            F.pow(
                F.lit(0.5),
                (SC.epoch_us("conv_ts") - SC.epoch_us("touch_ts"))
                / F.lit(_ATTR_HALFLIFE_US),
            ),
            6,
        ).alias("w"),
    )
    wc = Window.partitionBy("conv_id")
    win = p.select(
        "conv_id",
        "value",
        "touch_id",
        "channel",
        "w",
        F.sum(F.col("w").cast("decimal(18,6)")).over(wc).cast("double").alias("sum_w"),
        F.count("touch_id").over(wc).alias("n_t"),
        F.row_number().over(wc.orderBy("touch_ts", "touch_id")).alias("rn_first"),
        F.row_number()
        .over(wc.orderBy(F.desc("touch_ts"), F.desc("touch_id")))
        .alias("rn_last"),
    )
    no_touch = F.col("touch_id").isNull()
    v = F.col("value")
    contrib = win.select(
        F.coalesce(F.col("channel"), F.lit("(unattributed)")).alias("channel"),
        "touch_id",
        F.when(no_touch, v)
        .otherwise(F.round(v * F.col("w") / F.col("sum_w"), 12))
        .alias("td_c"),
        F.when(no_touch, v)
        .otherwise(F.round(v / F.col("n_t"), 12))
        .alias("lin_c"),
        F.when(no_touch | (F.col("rn_first") == 1), v).otherwise(F.lit(0.0)).alias(
            "first_c"
        ),
        F.when(no_touch | (F.col("rn_last") == 1), v).otherwise(F.lit(0.0)).alias(
            "last_c"
        ),
    )
    return contrib.groupBy("channel").agg(
        F.count("*").alias("n_rows"),
        F.round(
            F.sum(F.col("td_c").cast("decimal(28,12)")).cast("double"), 6
        ).alias("td_value"),
        F.round(
            F.sum(F.col("lin_c").cast("decimal(28,12)")).cast("double"), 6
        ).alias("linear_value"),
        F.round(
            F.sum(F.col("first_c").cast("decimal(18,6)")).cast("double"), 6
        ).alias("first_value"),
        F.round(
            F.sum(F.col("last_c").cast("decimal(18,6)")).cast("double"), 6
        ).alias("last_value"),
    )
