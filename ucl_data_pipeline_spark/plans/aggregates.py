"""Aggregates: group-by, windows, arrays, quantiles, data layout, scale.

GROUP BY / ROLLUP / CUBE / GROUPING SETS, window frames and ranks,
array and collection functions, exact and sketch quantiles,
histograms and bucketing, privacy checks over group sizes
(k-anonymity, l-diversity, t-closeness), and the storage-layout and
planning shapes (Z-order, range partitioning, Bloom and dictionary
planners, skew profiles, incremental/Merkle parity).

Registry conventions apply (plans/registry.py): exact decimal sums,
ROUND 6 on transcendental/division outputs, atomic columns,
BIGINT/DOUBLE/VARCHAR oracle casts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ucl_data_pipeline_spark.functions.scalar import knuth_bucket, weighted_hybrid
from ucl_data_pipeline_spark.plans.registry import (
    bucketed_running_sum,
    davg,
    dsum,
    pdisc_rank,
    rank_select,
    register,
    sql_davg,
    sql_dsum,
    sql_knuth_bucket,
)
from ucl_data_pipeline_spark.sources.io import fan_out, read_table


# ---------------------------------------------------------------------------
# Flagship: pricing summary (TPC-H Q1 shape)
# ---------------------------------------------------------------------------

_PRICING_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {sql_dsum('l_quantity')} AS sum_qty,
  {sql_dsum('l_extendedprice')} AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) * CAST(1 + l_tax AS DECIMAL(4,2))) AS DOUBLE) AS sum_charge,
  {sql_davg('l_quantity')} AS avg_qty,
  {sql_davg('l_extendedprice')} AS avg_price,
  {sql_davg('l_discount')} AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("pricing_summary", oracle=_PRICING_ORACLE, tags=("agg", "flagship"))
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship scan→filter→hash-aggregate. Exercises S2 parquet scan
    with predicate pushdown, P4 filter, and partial+final hash agg
    (map-side combine — one shuffle of 4 groups, not 6M rows).
    """

    # fan_out: the driver testdata is a single row group → one scan
    # split; decimal partial-aggregation is the CPU cost here, so
    # spread it. On a real multi-split 100 TB table this exchange is
    # dropped — partial agg before any shuffle is strictly better.
    li = fan_out(read_table(spark, sf_dir, "lineitem"))
    disc_price = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(4,2)")
    charge = disc_price * (F.lit(1) + F.col("l_tax")).cast("decimal(4,2)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


_TOP2_ORACLE = """
SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
FROM orders
QUALIFY row_number() OVER (
  PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey) <= 2
"""


@register("window_top2_per_key", oracle=_TOP2_ORACLE, tags=("window",))
def window_top2_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: latest-2-per-group via ranking window (reference: top-2
    seasons by sort + positional pick, scripts/fetch_fbr_team_xg.py:
    32-34,83-88 → Window.row_number ≤ 2, SURVEY.md §2.5).
    """
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# A2 applied as in the reference: hybrid xG analog over two "seasons"
# ---------------------------------------------------------------------------

_HYBRID_SEASONS_ORACLE = """
WITH seasons AS (
  SELECT
    o_custkey,
    CAST(year(o_orderdate) AS INTEGER) AS season,
    COUNT(*) AS n_orders
  FROM orders
  GROUP BY 1, 2
), ranked AS (
  SELECT
    *,
    row_number() OVER (PARTITION BY o_custkey ORDER BY season DESC) AS rn
  FROM seasons
), cur AS (
  SELECT o_custkey, CAST(n_orders AS DOUBLE) AS cur_orders
  FROM ranked WHERE rn = 1
), last AS (
  SELECT o_custkey, CAST(n_orders AS DOUBLE) AS last_orders
  FROM ranked WHERE rn = 2
)
SELECT
  cur.o_custkey,
  cur.cur_orders,
  last.last_orders,
  CASE WHEN cur.cur_orders IS NOT NULL AND last.last_orders IS NOT NULL
       THEN 0.6 * cur.cur_orders + 0.4 * last.last_orders
       ELSE COALESCE(cur.cur_orders, last.last_orders)
  END AS hybrid_orders
FROM cur LEFT JOIN last ON cur.o_custkey = last.o_custkey
"""


@register("hybrid_two_seasons", oracle=_HYBRID_SEASONS_ORACLE, tags=("window", "agg"))
def hybrid_two_seasons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2+A2 composition exactly as the reference uses them: pick the
    latest two seasons per key via ranking window (scripts/
    fetch_fbr_team_xg.py:32-34,83-88), then 0.6/0.4 hybrid-weight with
    null degradation (:113-123).
    """
    seasons = (
        read_table(spark, sf_dir, "orders")
        .groupBy(
            "o_custkey",
            F.year("o_orderdate").cast("int").alias("season"),
        )
        .agg(F.count("*").alias("n_orders"))
    )
    w = Window.partitionBy("o_custkey").orderBy(F.col("season").desc())
    ranked = seasons.withColumn("rn", F.row_number().over(w))
    cur = ranked.filter(F.col("rn") == 1).select(
        "o_custkey", F.col("n_orders").cast("double").alias("cur_orders")
    )
    last = ranked.filter(F.col("rn") == 2).select(
        "o_custkey", F.col("n_orders").cast("double").alias("last_orders")
    )
    joined = cur.join(last, "o_custkey", "left")
    return joined.select(
        "o_custkey",
        "cur_orders",
        "last_orders",
        weighted_hybrid("cur_orders", "last_orders", 0.60).alias("hybrid_orders"),
    )


_GROUP_AGG_ORACLE = f"""
SELECT
  o_orderpriority,
  COUNT(*) AS n_orders,
  {sql_dsum('o_totalprice')} AS sum_price,
  MIN(o_totalprice) AS min_price,
  MAX(o_totalprice) AS max_price,
  {sql_davg('o_totalprice')} AS avg_price,
  MIN(o_orderdate) AS first_order,
  MAX(o_orderdate) AS last_order
FROM orders
GROUP BY o_orderpriority
"""


@register("group_agg_basic", oracle=_GROUP_AGG_ORACLE, tags=("agg",))
def group_agg_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash aggregate with count/sum/min/max/avg over one key.
    Partial aggregation (map-side combine) means the shuffle carries
    one row per (partition, key) — safe at any scale.
    """
    return (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("sum_price"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            davg("o_totalprice").alias("avg_price"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )
    )


_COUNT_DISTINCT_ORACLE = """
SELECT
  l_returnflag,
  COUNT(DISTINCT l_suppkey) AS n_suppliers,
  COUNT(DISTINCT l_partkey) AS n_parts,
  COUNT(*) AS n_lines
FROM lineitem
GROUP BY l_returnflag
"""


@register("count_distinct_agg", oracle=_COUNT_DISTINCT_ORACLE, tags=("agg",))
def count_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column COUNT(DISTINCT) (expand + two-phase agg under
    the hood). For 100 TB cardinality estimation the engine also exposes
    approx_count_distinct (see approx_distinct_suppliers, rows-only
    check — HLL sketches differ across engines by design).
    """
    return (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.count("*").alias("n_lines"),
        )
    )


_APPROX_DISTINCT_ORACLE = """
SELECT
  l_returnflag,
  COUNT(DISTINCT l_suppkey) AS exact_suppliers,
  COUNT(DISTINCT l_partkey) AS exact_parts,
  TRUE AS approx_within_5pct
FROM lineitem
GROUP BY l_returnflag
"""


@register(
    "approx_distinct_suppliers", oracle=_APPROX_DISTINCT_ORACLE, tags=("agg", "approx")
)
def approx_distinct_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++, rsd=1%) — the scale path
    for cardinality at 100 TB. The raw sketch estimate is
    engine-specific, so the oracle-anchored surface is the exact
    distinct counts plus the HLL's bounded-error CLAIM
    (|approx−exact|/exact ≤ 5% for both columns — deterministic for a
    fixed dataset, and the property a user of the approx path actually
    relies on). Round 1 recorded this rows-only; this form gets a full
    schema+rows+value hash.
    """
    # Plan shape: one groupBy with two exact DISTINCTs + two HLLs
    # compiles to a 4x Expand of the fact — measured ~7 s at sf0.1.
    # Instead each key deduplicates to (flag, key) pairs first (the
    # partial agg collapses map-side), and both the exact count and the
    # HLL run over the distinct pairs in one pass — HLL estimates
    # depend only on the value SET, so the estimate is identical.
    l = read_table(spark, sf_dir, "lineitem")

    def per_key(key: str, exact_alias: str, approx_alias: str) -> DataFrame:
        return (
            l.select("l_returnflag", key)
            .distinct()
            .groupBy("l_returnflag")
            .agg(
                F.count("*").alias(exact_alias),
                F.approx_count_distinct(key, 0.01).alias(approx_alias),
            )
        )

    sup = per_key("l_suppkey", "exact_suppliers", "approx_suppliers")
    par = per_key("l_partkey", "exact_parts", "approx_parts")
    within = (
        (
            F.abs(F.col("approx_suppliers") - F.col("exact_suppliers"))
            / F.col("exact_suppliers")
            <= 0.05
        )
        & (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            / F.col("exact_parts")
            <= 0.05
        )
    )
    return sup.join(par, "l_returnflag").select(
        "l_returnflag",
        "exact_suppliers",
        "exact_parts",
        within.alias("approx_within_5pct"),
    )


_ROLLUP_ORACLE = f"""
SELECT
  r.r_name,
  n.n_name,
  COUNT(*) AS n_customers,
  {sql_dsum('c.c_acctbal')} AS sum_bal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r.r_name, n.n_name)
"""


@register("rollup_region_nation", oracle=_ROLLUP_ORACLE, tags=("agg",))
def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (region → nation → grand total)."""
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count("*").alias("n_customers"),
        dsum("c_acctbal").alias("sum_bal"),
    )


_CUBE_ORACLE = """
SELECT
  o_orderstatus,
  o_orderpriority,
  COUNT(*) AS n_orders
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@register("cube_status_priority", oracle=_CUBE_ORACLE, tags=("agg",))
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all grouping-set combinations of two dimensions."""
    return (
        read_table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


_GROUPING_SETS_ORACLE = f"""
SELECT
  o_orderstatus,
  o_orderpriority,
  COUNT(*) AS n_orders,
  {sql_dsum('o_totalprice')} AS sum_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
"""


@register("grouping_sets_status_priority", oracle=_GROUPING_SETS_ORACLE, tags=("agg",))
def grouping_sets_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL surface (the engine exposes
    both DataFrame and SQL entry points; Catalyst plans them
    identically).
    """
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(f"""
        SELECT
          o_orderstatus,
          o_orderpriority,
          COUNT(*) AS n_orders,
          {sql_dsum('o_totalprice')} AS sum_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """)


# ---------------------------------------------------------------------------
# Window functions (§2.5)
# ---------------------------------------------------------------------------

_REST_DAYS_ORACLE = """
SELECT
  o_custkey,
  o_orderkey,
  o_orderdate,
  date_diff('day',
    lag(CAST(o_orderdate AS DATE)) OVER w,
    CAST(o_orderdate AS DATE)) AS rest_days
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@register("rest_days_lag", oracle=_REST_DAYS_ORACLE, tags=("window",))
def rest_days_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() analytic: days since the previous order per customer — the
    principled version of the reference's hard-coded rest_days=4 default
    (scripts/fetch_football_data.py:48; SURVEY.md §2.5 showcase).
    """
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.datediff(d, F.lag(d).over(w)).alias("rest_days"),
    )


_MOVING_AVG_ORACLE = """
SELECT
  o_custkey,
  o_orderkey,
  o_orderdate,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
    / COUNT(o_totalprice)
       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS moving_avg_price
FROM orders
"""


@register("moving_avg_frame", oracle=_MOVING_AVG_ORACLE, tags=("window",))
def moving_avg_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-spec aggregate: 3-row trailing mean per customer
    (rowsBetween −2..0), exact-decimal sum for cross-engine equality.
    """
    o = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    price_dec = F.col("o_totalprice").cast("decimal(18,6)")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        (
            F.sum(price_dec).over(w).cast("double")
            / F.count("o_totalprice").over(w)
        ).alias("moving_avg_price"),
    )


_RANKS_ORACLE = """
SELECT
  c_custkey,
  c_nationkey,
  c_acctbal,
  rank() OVER w AS bal_rank,
  dense_rank() OVER w AS bal_dense_rank,
  row_number() OVER (PARTITION BY c_nationkey
                     ORDER BY c_acctbal DESC, c_custkey) AS bal_row_number
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC)
"""


@register("rank_customers_by_balance", oracle=_RANKS_ORACLE, tags=("window",))
def rank_customers_by_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / row_number per nation by balance."""
    c = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc())
    wrn = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.rank().over(w).alias("bal_rank"),
        F.dense_rank().over(w).alias("bal_dense_rank"),
        F.row_number().over(wrn).alias("bal_row_number"),
    )


_LEAD_SHARE_ORACLE = f"""
WITH nation_bal AS (
  SELECT c_nationkey, {sql_dsum('c_acctbal')} AS nation_bal
  FROM customer GROUP BY c_nationkey
)
SELECT
  c.c_custkey,
  c.c_nationkey,
  c.c_acctbal,
  lead(c.c_acctbal) OVER (PARTITION BY c.c_nationkey
                          ORDER BY c.c_acctbal DESC, c.c_custkey) AS next_bal,
  c.c_acctbal / nb.nation_bal AS bal_share
FROM customer c
JOIN nation_bal nb ON c.c_nationkey = nb.c_nationkey
WHERE nb.nation_bal <> 0
"""


@register("lead_and_share_of_total", oracle=_LEAD_SHARE_ORACLE, tags=("window", "agg"))
def lead_and_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead() + share-of-group-total (window/agg composition)."""
    c = read_table(spark, sf_dir, "customer")
    nb = c.groupBy("c_nationkey").agg(dsum("c_acctbal").alias("nation_bal"))
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        c.join(F.broadcast(nb.filter(F.col("nation_bal") != 0)), "c_nationkey")
        .select(
            "c_custkey",
            "c_nationkey",
            "c_acctbal",
            F.lead("c_acctbal").over(w).alias("next_bal"),
            (F.col("c_acctbal") / F.col("nation_bal")).alias("bal_share"),
        )
    )


_COND_AGG_ORACLE = """
SELECT
  l_returnflag,
  COUNT(CASE WHEN l_quantity > 25 THEN 1 END) AS n_big_qty,
  COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_heavy_disc,
  CAST(SUM(CASE WHEN l_discount > 0.05
       THEN CAST(l_extendedprice AS DECIMAL(18,6)) END) AS DOUBLE)
    AS heavy_disc_revenue,
  CAST(SUM(CASE WHEN l_tax = 0.0
       THEN CAST(l_extendedprice AS DECIMAL(18,6)) END) AS DOUBLE)
    AS taxfree_revenue,
  CAST(COUNT(CASE WHEN l_quantity > 25 THEN 1 END) AS DOUBLE)
    / COUNT(*) AS big_qty_share
FROM lineitem
GROUP BY l_returnflag
"""


@register("conditional_agg", oracle=_COND_AGG_ORACLE, tags=("agg",))
def conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional / filtered aggregation (count-if, sum-where,
    conditional share) — one pass over the fact, every predicate a
    branch inside the same partial aggregate; never N scans or a
    self-join per condition.
    """
    li = read_table(spark, sf_dir, "lineitem")
    big = F.when(F.col("l_quantity") > 25, 1)
    heavy = F.col("l_discount") > 0.05
    dec = lambda c: F.col(c).cast("decimal(18,6)")  # noqa: E731
    return li.groupBy("l_returnflag").agg(
        F.count(big).alias("n_big_qty"),
        F.count(F.when(heavy, 1)).alias("n_heavy_disc"),
        F.sum(F.when(heavy, dec("l_extendedprice"))).cast("double").alias(
            "heavy_disc_revenue"
        ),
        F.sum(F.when(F.col("l_tax") == 0.0, dec("l_extendedprice")))
        .cast("double")
        .alias("taxfree_revenue"),
        (F.count(big).cast("double") / F.count("*")).alias("big_qty_share"),
    )


_ZSCORE_ORACLE = """
WITH s AS (
  SELECT
    o_orderpriority,
    COUNT(*) AS n,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))
             * CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sxx
  FROM orders
  GROUP BY o_orderpriority
)
SELECT
  o.o_orderkey,
  o.o_orderpriority,
  o.o_totalprice,
  ROUND((o.o_totalprice - s.sx / s.n)
    / sqrt((s.sxx - s.sx * s.sx / s.n) / (s.n - 1)), 6) AS price_z
FROM orders o JOIN s USING (o_orderpriority)
"""


@register("zscore_by_group", oracle=_ZSCORE_ORACLE, tags=("agg", "feature"))
def zscore_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score normalization (the feature-scaling pass of a
    training pipeline): tiny exact-sum stats aggregate, broadcast back
    onto the fact — two scan passes and zero wide shuffles, instead of
    the window-function formulation that would sort every partition.
    Exact-sum moments keep both engines bit-identical.
    """
    o = read_table(spark, sf_dir, "orders")
    xd = F.col("o_totalprice").cast("decimal(12,2)")
    s = o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(xd * xd).cast("double").alias("sxx"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    stats = s.select(
        "o_orderpriority",
        (sx / n).alias("mean_price"),
        F.sqrt((sxx - sx * sx / n) / (n - 1)).alias("std_price"),
    )
    return o.join(F.broadcast(stats), "o_orderpriority").select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.round(
            (F.col("o_totalprice") - F.col("mean_price")) / F.col("std_price"), 6
        ).alias("price_z"),
    )


_RANK_FNS_ORACLE = """
SELECT
  c_custkey,
  c_nationkey,
  c_acctbal,
  CAST(dense_rank() OVER w AS INTEGER) AS bal_dense_rank,
  CASE WHEN (count(*) OVER p) = 1 THEN 0.0
       ELSE CAST(((rank() OVER w - 1) * 2000000 + (count(*) OVER p - 1))
                 // (2 * (count(*) OVER p - 1)) AS DOUBLE) / 1000000
  END AS bal_pct_rank,
  CAST((row_number() OVER w * 2000000 + count(*) OVER p)
       // (2 * count(*) OVER p) AS DOUBLE) / 1000000 AS bal_cume_dist,
  first_value(c_custkey) OVER w AS richest_in_nation,
  nth_value(c_custkey, 2) OVER (
    PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
  ) AS runner_up
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey),
       p AS (PARTITION BY c_nationkey)
"""


@register("rank_function_surface", oracle=_RANK_FNS_ORACLE, tags=("window",))
def rank_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining ranking/distribution window functions in one
    shuffle: dense_rank, percent_rank, cume_dist (6dp-rounded),
    first_value, and nth_value with an explicit full-partition frame.
    Deterministic via the unique-key tiebreak.

    percent_rank/cume_dist are NOT rounded as doubles: ROUND((rk-1)/
    (n-1), 6) hits halfway cases at sf0.1 (e.g. 41/640 = .0640625)
    where Spark rounds the shortest decimal representation HALF_UP
    (.064063) while DuckDB rounds the true binary value (.064062) —
    found by the r9 full-registry sf0.1 sweep. Both engines instead
    compute round-half-up exactly in INTEGER arithmetic:
    ((a·2·10⁶ + b) DIV (2b)) / 10⁶ — bit-identical at any SF. With the
    unique tiebreak, rank = row_number, so cume_dist = rk/n exactly.
    """
    c = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), "c_custkey"
    )
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    wp = Window.partitionBy("c_nationkey")
    base = c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.dense_rank().over(w).alias("bal_dense_rank"),
        F.rank().over(w).alias("_rk"),
        F.count("*").over(wp).alias("_nn"),
        F.first("c_custkey").over(w).alias("richest_in_nation"),
        F.nth_value("c_custkey", 2).over(wfull).alias("runner_up"),
    )
    return base.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        "bal_dense_rank",
        # CAST to BIGINT first: Spark's rank() is IntegerType and
        # rk * 2e6 overflows int32 already at sf0.1 partition sizes.
        F.when(F.col("_nn") == 1, F.lit(0.0))
        .otherwise(
            F.expr(
                "CAST(((CAST(_rk AS BIGINT) - 1) * 2000000 + (_nn - 1))"
                " DIV (2 * (_nn - 1)) AS DOUBLE) / 1000000"
            )
        )
        .alias("bal_pct_rank"),
        F.expr(
            "CAST((CAST(_rk AS BIGINT) * 2000000 + _nn) DIV (2 * _nn)"
            " AS DOUBLE) / 1000000"
        ).alias("bal_cume_dist"),
        "richest_in_nation",
        "runner_up",
    )


_ARRAY_FN_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
)
SELECT
  doc_id,
  CAST(len(toks) AS INTEGER) AS n_tokens,
  CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct_tokens,
  array_to_string(list_slice(toks, 1, 3), ' ') AS first3,
  CAST(list_contains(toks, 'spark') AS INTEGER) AS has_spark,
  CAST(COALESCE(list_position(toks, 'spark'), 0) AS INTEGER) AS spark_pos,
  CAST(len(list_filter(toks, x -> length(x) > 4)) AS INTEGER) AS n_long_tokens,
  array_to_string(list_sort(list_distinct(toks)), '-') AS vocab_key
FROM t
"""


@register("array_functions", oracle=_ARRAY_FN_ORACLE, tags=("array", "text", "llm"))
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The array-column surface over tokenized text: size / distinct /
    slice / contains / position / lambda filter / sort — all Catalyst
    higher-order functions, zero Python. This is the substrate the
    dedup shingling and token statistics are built from; arrays stay
    columnar (no explode) so there's no row-count blowup at scale.
    """
    d = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.concat_ws(" ", F.slice(toks, 1, 3)).alias("first3"),
        F.array_contains(toks, "spark").cast("int").alias("has_spark"),
        F.array_position(toks, "spark").cast("int").alias("spark_pos"),
        F.size(F.filter(toks, lambda t: F.length(t) > 4)).alias("n_long_tokens"),
        F.concat_ws("-", F.array_sort(F.array_distinct(toks))).alias("vocab_key"),
    )


_PERCENTILE_ORACLE = """
SELECT
  o_orderpriority,
  quantile_cont(o_totalprice, 0.5) AS median_price,
  quantile_cont(o_totalprice, 0.9) AS p90_price,
  MIN(o_totalprice) AS min_price,
  MAX(o_totalprice) AS max_price
FROM orders
GROUP BY o_orderpriority
"""


@register("percentile_prices", oracle=_PERCENTILE_ORACLE, tags=("agg",))
def percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact order statistics (median / p90, linear interpolation) per
    group. At 100 TB the approx_percentile sketch replaces this
    (exact percentile needs a per-group sort); both are exposed.
    """
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", 0.5).alias("median_price"),
        F.percentile("o_totalprice", 0.9).alias("p90_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


# Moment statistics from EXACT decimal sums: variance/stddev/corr
# computed by explicit formula over Σx, Σx², Σxy so both engines do the
# identical double arithmetic at the end (built-in stddev/corr use
# engine-specific streaming algorithms whose results differ in the last
# bits — same reason we avoid avg() directly).
_MOMENTS_ORACLE = """
WITH s AS (
  SELECT
    l_returnflag,
    COUNT(*) AS n,
    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy,
    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy
  FROM lineitem
  GROUP BY l_returnflag
)
SELECT
  l_returnflag,
  n,
  ROUND((sxx - sx * sx / n) / (n - 1), 6) AS var_qty,
  ROUND(sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS stddev_qty,
  ROUND((sxy - sx * sy / n)
    / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)), 6)
    AS corr_qty_price
FROM s
"""


@register("stats_moments", oracle=_MOMENTS_ORACLE, tags=("agg",))
def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance / stddev / correlation per group via exact-sum
    formulation — bit-identical across engines, and at scale a single
    shuffle carrying five partial sums per group (the same shape the
    built-in streaming moments use).
    """

    li = fan_out(
        read_table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_quantity", "l_extendedprice"
        )
    )
    qd = F.col("l_quantity").cast("decimal(12,2)")
    pd_ = F.col("l_extendedprice").cast("decimal(12,2)")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(qd).cast("double").alias("sx"),
        F.sum(qd * qd).cast("double").alias("sxx"),
        F.sum(pd_).cast("double").alias("sy"),
        F.sum(pd_ * pd_).cast("double").alias("syy"),
        F.sum(qd * pd_).cast("double").alias("sxy"),
    )
    n, sx, sxx, sy, syy, sxy = (F.col(c) for c in ("n", "sx", "sxx", "sy", "syy", "sxy"))
    var_q = (sxx - sx * sx / n) / (n - 1)
    return s.select(
        "l_returnflag",
        "n",
        F.round(var_q, 6).alias("var_qty"),
        F.round(F.sqrt(var_q), 6).alias("stddev_qty"),
        F.round(
            (sxy - sx * sy / n)
            / (F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n)),
            6,
        ).alias("corr_qty_price"),
    )


_PIVOT_ORACLE = """
SELECT
  o_orderpriority,
  COALESCE(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS status_f,
  COALESCE(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS status_o,
  COALESCE(COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS status_p
FROM orders
GROUP BY o_orderpriority
"""


@register("pivot_status_counts", oracle=_PIVOT_ORACLE, tags=("agg",))
def pivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide aggregation) with an explicit value list — the
    explicit list matters at scale: it avoids the extra
    distinct-values job and bounds output width.
    """
    o = read_table(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return p.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("status_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("status_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("status_p"),
    )


_COLLECT_ORACLE = """
SELECT
  s_nationkey,
  COUNT(*) AS n_suppliers,
  array_to_string(list_sort(list(s_name)), '|') AS supplier_names
FROM supplier
GROUP BY s_nationkey
"""


@register("collect_sorted_list", oracle=_COLLECT_ORACLE, tags=("agg", "array"))
def collect_sorted_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped list aggregation (collect_list → sorted, then joined to
    one delimited string: registered outputs must be atomic columns).
    The explicit ``sort_array`` matters: distributed collect order is
    partition-dependent, so any downstream hash/compare needs the
    canonical ordering imposed here. Scale: list size is bounded by
    group fan-in — for unbounded groups prefer top-N-per-group
    (window) or a sketch, never an unbounded collect.
    """
    s = read_table(spark, sf_dir, "supplier")
    return s.groupBy("s_nationkey").agg(
        F.count("*").alias("n_suppliers"),
        F.concat_ws("|", F.sort_array(F.collect_list("s_name"))).alias("supplier_names"),
    )


_GLOBAL_QB_ORACLE = """
WITH cut AS (
  SELECT
    ROUND(quantile_cont(o_totalprice, 0.25), 2) AS q1,
    ROUND(quantile_cont(o_totalprice, 0.50), 2) AS q2,
    ROUND(quantile_cont(o_totalprice, 0.75), 2) AS q3
  FROM orders
)
SELECT
  o.o_orderkey,
  o.o_totalprice,
  CASE WHEN o.o_totalprice < c.q1 THEN 1
       WHEN o.o_totalprice < c.q2 THEN 2
       WHEN o.o_totalprice < c.q3 THEN 3
       ELSE 4 END AS bucket
FROM orders o CROSS JOIN cut c
"""


@register("global_quantile_buckets", oracle=_GLOBAL_QB_ORACLE, tags=("agg", "feature"))
def global_quantile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL quantile bucketing without a global sort: exact quartile
    cutpoints from one aggregate (3 doubles), broadcast back, each row
    classified by comparison — the scale path the per-group ntile
    docstring promises (a window over one partition would funnel the
    whole table through a single task). Cutpoints rounded to 2dp on
    both engines to absorb interpolation-arithmetic ulps.
    """
    o = read_table(spark, sf_dir, "orders")
    cut = o.agg(
        F.round(F.percentile("o_totalprice", 0.25), 2).alias("q1"),
        F.round(F.percentile("o_totalprice", 0.50), 2).alias("q2"),
        F.round(F.percentile("o_totalprice", 0.75), 2).alias("q3"),
    )
    bucket = (
        F.when(F.col("o_totalprice") < F.col("q1"), 1)
        .when(F.col("o_totalprice") < F.col("q2"), 2)
        .when(F.col("o_totalprice") < F.col("q3"), 3)
        .otherwise(4)
    )
    return o.crossJoin(F.broadcast(cut)).select(
        "o_orderkey", "o_totalprice", bucket.alias("bucket")
    )


_APPROX_PERCENTILE_ORACLE = """
SELECT
  o_orderpriority,
  quantile_cont(o_totalprice, 0.5) AS exact_p50,
  quantile_cont(o_totalprice, 0.9) AS exact_p90,
  TRUE AS approx_within_2pct
FROM orders
GROUP BY o_orderpriority
"""


@register(
    "approx_percentile_bounded",
    oracle=_APPROX_PERCENTILE_ORACLE,
    tags=("agg", "approx"),
)
def approx_percentile_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna sketch, accuracy=10000 →
    rank error <= 0.01%) — the 100 TB quantile path (exact percentile
    sorts every group; the sketch is one mergeable pass). Raw sketch
    output is engine-specific, so the oracle-anchored surface is the
    exact quantiles plus the sketch's bounded-error CLAIM
    (|approx - exact| / exact <= 2% at p50/p90 — deterministic for a
    fixed dataset; the property the approx path's user relies on).
    Mirrors approx_distinct_suppliers' treatment of HLL.
    """
    o = read_table(spark, sf_dir, "orders")
    exact50 = F.percentile("o_totalprice", 0.5)
    exact90 = F.percentile("o_totalprice", 0.9)
    approx = F.percentile_approx(
        "o_totalprice", F.array(F.lit(0.5), F.lit(0.9)), 10000
    )
    within = (
        (F.abs(approx.getItem(0) - exact50) / exact50 <= 0.02)
        & (F.abs(approx.getItem(1) - exact90) / exact90 <= 0.02)
    )
    return o.groupBy("o_orderpriority").agg(
        exact50.alias("exact_p50"),
        exact90.alias("exact_p90"),
        within.alias("approx_within_2pct"),
    )


# ---------------------------------------------------------------------------
# Fixed-width histogram
# ---------------------------------------------------------------------------

_HIST_BINS = 20

_HIST_WIDTH = 25_000.0  # o_totalprice bins: [0, 500k) in 25k steps

_HIST_ORACLE = f"""
SELECT
  CAST(LEAST({_HIST_BINS - 1},
             GREATEST(0, FLOOR(o_totalprice / {_HIST_WIDTH}))) AS INTEGER)
    AS bin,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
FROM orders
GROUP BY 1
"""


@register("histogram_fixed_bins", oracle=_HIST_ORACLE, tags=("agg",))
def histogram_fixed_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals (20 bins of 25k, edges
    clamped): the equi-WIDTH companion to global_quantile_buckets'
    equi-DEPTH buckets. Binning is a scan-side projection (floor of a
    division — identical IEEE op both engines); one hash-agg with
    map-side partial aggregation, output bounded by bin count — the
    histogram shape that costs one scan regardless of data volume.
    """
    o = read_table(spark, sf_dir, "orders")
    bin_ = F.least(
        F.lit(_HIST_BINS - 1),
        F.greatest(F.lit(0), F.floor(F.col("o_totalprice") / _HIST_WIDTH)),
    ).cast("int")
    return (
        o.groupBy(bin_.alias("bin"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# Explicit window-frame function surface
# ---------------------------------------------------------------------------

_FRAME_ORACLE = """
SELECT
  event_id,
  user_id,
  first_value(value) OVER w5 AS first_in_frame,
  last_value(value) OVER w5 AS last_in_frame,
  nth_value(value, 2) OVER w5 AS second_in_frame,
  CAST(COUNT(value) OVER w5 AS BIGINT) AS n_in_frame,
  first_value(value) OVER wrun AS first_so_far
FROM events
WINDOW
  w5 AS (PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING),
  wrun AS (PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING)
"""


@register("window_frame_surface", oracle=_FRAME_ORACLE, tags=("window",))
def window_frame_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value / count over an explicit
    centered ROWS frame plus a running frame — the frame-boundary
    corner of the window surface (rank/lag/lead/ntile and frame
    aggregates are covered by the §2.5 queries; this pins the
    value-positional functions, whose defaults differ subtly across
    engines: both sides state frames explicitly so semantics are
    unambiguous). Deterministic: total order (ts, event_id) within
    every frame.
    """
    ev = read_table(spark, sf_dir, "events")
    w5 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, 2)
    )
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.first("value").over(w5).alias("first_in_frame"),
        F.last("value").over(w5).alias("last_in_frame"),
        F.nth_value("value", 2).over(w5).alias("second_in_frame"),
        F.count("value").over(w5).alias("n_in_frame"),
        F.first("value").over(wrun).alias("first_so_far"),
    )


# ---------------------------------------------------------------------------
# Order-independent table checksum
# ---------------------------------------------------------------------------

_CK_COLS_SQL = (
    "concat_ws('|', l_orderkey, l_partkey, l_suppkey, l_returnflag, "
    "l_linestatus, CAST(CAST(l_shipdate AS DATE) AS VARCHAR))"
)

_CHECKSUM_ORACLE = f"""
WITH h AS (
  SELECT md5({_CK_COLS_SQL}) AS hx FROM lineitem
), v AS (
  SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
    list_transform(generate_series(1, 15),
      i -> CAST(strpos('0123456789abcdef', substr(hx, i, 1)) - 1 AS BIGINT))),
    (a, b) -> a * 16 + b) AS rowv
  FROM h
)
SELECT COUNT(*) AS n_rows,
       CAST(CAST(SUM(CAST(rowv AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR)
         AS checksum
FROM v
"""


@register("checksum_table", oracle=_CHECKSUM_ORACLE, tags=("agg", "validate"))
def checksum_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table fingerprint: md5 of a canonical per-row
    string (int/string/date columns only — float formatting is not
    canonical across engines), folded to a 60-bit integer (15 hex
    nibbles, left fold acc·16+nibble — the overflow-free width), summed
    exactly in DECIMAL(38,0). Two tables match iff (n_rows, checksum)
    match, regardless of row order or partitioning — the cheap
    cross-system integrity check a 100 TB migration runs after every
    copy: one scan, map-side partial sums, a single-row result, no
    shuffle of data.
    """

    # fan_out: the driver parquet is one row group, and the md5 fold is
    # the rare CPU-bound projection where a single partition is the
    # bottleneck (A/B at sf0.1: 24.3 s single-partition, 4.7 s fanned;
    # conv() below instead of a 15-step nibble fold: 1.2 s).
    l = fan_out(read_table(spark, sf_dir, "lineitem"))
    canon = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_partkey").cast("string"),
        F.col("l_suppkey").cast("string"),
        F.col("l_returnflag"),
        F.col("l_linestatus"),
        F.col("l_shipdate").cast("date").cast("string"),
    )
    hx = F.md5(canon)
    # conv(hex, 16, 10) is the JVM fast path for the same 60-bit value
    # the oracle derives with its nibble fold (DuckDB has no conv).
    rowv = F.conv(F.substring(hx, 1, 15), 16, 10).cast("long")
    # String-typed on BOTH sides: a 23-digit DECIMAL(38,0) exceeds
    # float64's 15-16 significant digits, so any pandas/float transport
    # of the numeric form silently loses precision. The exact decimal
    # rendered as a string survives every canonicalizer.
    return l.select(rowv.alias("rowv")).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("rowv").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("checksum"),
    )


# ---------------------------------------------------------------------------
# Exact per-group mode
# ---------------------------------------------------------------------------

_MODE_ORACLE = """
SELECT p_brand, p_type AS mode_type, n
FROM (
  SELECT p_brand, p_type, COUNT(*) AS n,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY COUNT(*) DESC, p_type) AS rn
  FROM part
  GROUP BY p_brand, p_type
)
WHERE rn = 1
"""


@register("mode_per_group", oracle=_MODE_ORACLE, tags=("agg", "window"))
def mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group mode (most frequent p_type per brand,
    lowest-value tie-break): count agg + one row_number window over the
    counts. Deterministic by construction (explicit tie-break — an
    engine-native ``mode()`` would be free to pick either). Scale: the
    window runs over the AGGREGATED (brand, type) table, never the base
    rows, so its input is bounded by group-domain cardinality.
    """
    p = read_table(spark, sf_dir, "part")
    counts = p.groupBy("p_brand", "p_type").agg(F.count("*").alias("n"))
    w = Window.partitionBy("p_brand").orderBy(F.col("n").desc(), "p_type")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_brand", F.col("p_type").alias("mode_type"), "n")
    )


# ---------------------------------------------------------------------------
# 2-D Pareto frontier (skyline) per brand
# ---------------------------------------------------------------------------

_PARETO_ORACLE = """
SELECT p.p_partkey, p.p_brand, p.p_retailprice, p.p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_brand = p.p_brand
    AND q.p_retailprice <= p.p_retailprice
    AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
)
"""


@register("pareto_frontier_parts", oracle=_PARETO_ORACLE, tags=("window", "join"))
def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand 2-D Pareto frontier (cheaper price, larger size): the
    parts no same-brand part dominates. The ORACLE states the semantics
    as the quadratic NOT EXISTS; the engine computes it as the
    O(n log n) sorted sweep — per (brand, price) level take the max
    size, running-max those levels by ascending price, and a part is
    dominated iff a STRICTLY cheaper level reaches its size (prefix
    running max shifted by one level) or a same-price part is strictly
    larger. Scale: two hash-aggs + two windows partitioned by brand —
    no self-join, no quadratic pair blowup; compare the oracle's
    EXISTS, which is the textbook formulation and the scale trap.
    """
    p = read_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_retailprice", "p_size"
    )
    # Max size at each exact price level, per brand.
    levels = p.groupBy("p_brand", "p_retailprice").agg(
        F.max("p_size").alias("level_max")
    )
    lvl_w = Window.partitionBy("p_brand").orderBy("p_retailprice")
    run = levels.select(
        "p_brand",
        "p_retailprice",
        "level_max",
        # running max over levels up to and including this price, then
        # shifted one level back -> max size among STRICTLY cheaper rows
        F.lag(
            F.max("level_max").over(
                lvl_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
        )
        .over(lvl_w)
        .alias("cheaper_max"),
    )
    return (
        p.join(run, ["p_brand", "p_retailprice"])
        .filter(
            (F.col("cheaper_max").isNull() | (F.col("cheaper_max") < F.col("p_size")))
            & (F.col("level_max") <= F.col("p_size"))
        )
        .select("p_partkey", "p_brand", "p_retailprice", "p_size")
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (partial-state merge)
# ---------------------------------------------------------------------------

_INC_SPLIT = "2024-01-21 00:00:00"

_INC_ORACLE = f"""
WITH state AS (  -- yesterday's materialized partial aggregate
  SELECT user_id, COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(18,6))) AS s
  FROM events WHERE ts < TIMESTAMP '{_INC_SPLIT}'
  GROUP BY user_id
), delta AS (    -- today's increment, aggregated alone
  SELECT user_id, COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(18,6))) AS s
  FROM events WHERE ts >= TIMESTAMP '{_INC_SPLIT}'
  GROUP BY user_id
)
SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(SUM(s) AS DOUBLE) AS sum_value
FROM (SELECT * FROM state UNION ALL SELECT * FROM delta)
GROUP BY user_id
"""


@register("incremental_agg_merge", oracle=_INC_ORACLE, tags=("agg",))
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: yesterday's materialized
    partial state (count + exact-decimal sum per user) merged with
    today's delta by RE-AGGREGATING THE PARTIALS — counts add, decimal
    sums add — never by rescanning history. This is the algebraic
    property (commutative-monoid aggregation state) that makes daily
    100 TB rollups O(delta) instead of O(history); the decimal-exact
    convention doubles as the merge-correctness guarantee, since
    partial sums are order- and grouping-independent. Avg/stddev merge
    the same way from (n, sum, sum-of-squares) partials.
    """
    ev = read_table(spark, sf_dir, "events")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("s"),
        )

    state = partial(ev.filter(F.col("ts") < F.lit(_INC_SPLIT).cast("timestamp")))
    delta = partial(ev.filter(F.col("ts") >= F.lit(_INC_SPLIT).cast("timestamp")))
    return (
        state.unionByName(delta)
        .groupBy("user_id")
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("s").cast("double").alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# GROUPING / GROUPING_ID surface over CUBE
# ---------------------------------------------------------------------------

_GROUPING_ORACLE = """
SELECT
  o_orderstatus,
  o_orderpriority,
  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
  CAST(GROUPING_ID(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
  COUNT(*) AS n
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@register("grouping_id_surface", oracle=_GROUPING_ORACLE, tags=("agg",))
def grouping_id_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() / GROUPING_ID() over a CUBE: the flags that let a
    consumer of a multi-level aggregate distinguish "NULL because
    subtotal row" from "NULL because the data is NULL" — without them
    cube/rollup outputs are ambiguous. One Expand + one hash-agg,
    same physical shape as the plain cube query.
    """
    o = read_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.grouping_id().alias("gid"),
        F.count("*").alias("n"),
    ).select(
        "o_orderstatus", "o_orderpriority", "g_status", "g_priority", "gid", "n"
    )


# ---------------------------------------------------------------------------
# Discrete percentiles (order statistics without interpolation)
# ---------------------------------------------------------------------------

_PDISC_ORACLE = """
SELECT o_orderpriority,
       quantile_disc(o_totalprice, 0.5) AS p50_price,
       quantile_disc(o_totalprice, 0.9) AS p90_price
FROM orders
GROUP BY o_orderpriority
"""


@register("percentile_disc_surface", oracle=_PDISC_ORACLE, tags=("agg",))
def percentile_disc_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_disc: the DISCRETE order statistic — an actual data
    value, never an interpolated midpoint (percentile_prices covers the
    continuous form). The distinction matters whenever the percentile
    must be join-able back to a real row (a real order, a real
    latency). Exact disc percentiles sort within each group; at 100 TB
    the approx_percentile sketch replaces this, same as the cont form.
    """
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)"
        ).alias("p50_price"),
        F.expr(
            "percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)"
        ).alias("p90_price"),
    )


# ---------------------------------------------------------------------------
# k-anonymity audit over quasi-identifiers
# ---------------------------------------------------------------------------

_K_ANON = 5

_K_ANON_ORACLE = f"""
SELECT c_nationkey, c_mktsegment,
       COUNT(*) AS group_size,
       COUNT(*) >= {_K_ANON} AS k_anonymous
FROM customer
GROUP BY c_nationkey, c_mktsegment
"""


@register("k_anonymity_check", oracle=_K_ANON_ORACLE, tags=("agg", "validate"))
def k_anonymity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit before releasing/training on user-linked data:
    group sizes over the quasi-identifier tuple (nation, market
    segment) with a k≥5 anonymity flag. Groups below k are the
    re-identifiable cells a release pipeline must suppress or
    generalize; the same shape audits PII-adjacent slices of a
    training corpus (pii_redaction's companion gate).

    Scale: one map-side-combinable hash-agg keyed by the
    quasi-identifiers; output cardinality is the QI domain, not the
    row count — constant-size result at any data scale.
    """
    return (
        read_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count("*").alias("group_size"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "group_size",
            (F.col("group_size") >= _K_ANON).alias("k_anonymous"),
        )
    )


# ---------------------------------------------------------------------------
# Per-group OLS regression surface (exact-sum formulation)
# ---------------------------------------------------------------------------

_REGR_ORACLE = """
WITH s AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(24,4)))
           AS DOUBLE) AS sxy,
         CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,2)))
           AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,4)))
           AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_rows,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         AS intercept,
       ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM s
"""


@register("regr_ols_surface", oracle=_REGR_ORACLE, tags=("agg", "stats"))
def regr_ols_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares regression (slope / intercept /
    r² of extendedprice on quantity per return flag) from the five
    classical sufficient statistics — the distributed formulation:
    Σx, Σy, Σxy, Σx², Σy² are map-side-combinable partial sums, so the
    whole regression is ONE hash-agg pass at any scale, never a
    centered two-pass algorithm. Engine-native ``regr_slope`` et al.
    accumulate doubles in partition order (non-deterministic across
    engines AND runs); here every sum is EXACT decimal (inputs are
    2-dp decimals, so the products have bounded scale), and the final
    arithmetic is an identical double expression on both engines,
    rounded to 6 dp.
    """
    l = read_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    p = F.col("l_extendedprice")
    s = l.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(q.cast("decimal(18,2)")).cast("double").alias("sx"),
        F.sum(p.cast("decimal(18,2)")).cast("double").alias("sy"),
        F.sum((q * p).cast("decimal(24,4)")).cast("double").alias("sxy"),
        F.sum((q * q).cast("decimal(18,2)")).cast("double").alias("sxx"),
        F.sum((p * p).cast("decimal(28,4)")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        "l_returnflag",
        n.cast("long").alias("n_rows"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Continuous (interpolated) percentile surface
# ---------------------------------------------------------------------------

_PCONT_ORACLE = """
SELECT o_orderpriority,
       ROUND(percentile_cont(0.25) WITHIN GROUP (ORDER BY o_totalprice), 6)
         AS p25,
       ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 6)
         AS p50,
       ROUND(percentile_cont(0.95) WITHIN GROUP (ORDER BY o_totalprice), 6)
         AS p95
FROM orders
GROUP BY o_orderpriority
"""


@register("percentile_cont_surface", oracle=_PCONT_ORACLE, tags=("agg", "stats"))
def percentile_cont_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_cont: the INTERPOLATED order statistic (linear
    between the two straddling values at rank p·(n−1)), complementing
    percentile_disc_surface's exact-data-value variant. Spark's exact
    ``percentile`` implements the same definition as SQL
    percentile_cont; outputs rounded to 6 dp (one interpolation
    division in double — last-ulp safety).

    Scale: exact percentiles need the per-group sorted values — fine
    keyed by a 5-value priority column, but the 100 TB path for
    high-cardinality keys is approx_percentile_bounded (registered),
    which trades a 1e-4 rank error for a mergeable sketch. Both are
    registered so the trade-off is explicit in the inventory.
    """
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        *[
            F.round(
                F.expr(f"percentile(o_totalprice, {pq})"), 6
            ).alias(name)
            for pq, name in ((0.25, "p25"), (0.5, "p50"), (0.95, "p95"))
        ]
    )


# ---------------------------------------------------------------------------
# Robust z-score outliers (median / MAD)
# ---------------------------------------------------------------------------

_ROBUST_ORACLE = """
WITH med AS (
  SELECT event_type,
         percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS med
  FROM events GROUP BY event_type
), mad AS (
  SELECT e.event_type,
         percentile_disc(0.5) WITHIN GROUP (ORDER BY abs(e.value - m.med))
           AS mad
  FROM events e JOIN med m USING (event_type)
  GROUP BY e.event_type
)
SELECT e.event_id, e.event_type,
       ROUND((e.value - m.med) / (1.4826 * d.mad), 6) AS robust_z
FROM events e
JOIN med m USING (event_type)
JOIN mad d USING (event_type)
WHERE d.mad > 0
  AND abs((e.value - m.med) / (1.4826 * d.mad)) > 2.5
"""


@register("robust_zscore_outliers", oracle=_ROBUST_ORACLE, tags=("agg", "stats"))
def robust_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier detection with MEDIAN/MAD instead of mean/stddev
    (zscore_by_group's robust sibling): |x − median| > 2.5·(1.4826·MAD)
    flags heavy-tail anomalies without the masking problem — a single
    extreme value inflates a stddev enough to hide itself, but cannot
    move a median. The workhorse quality gate for skewed quantities
    (the events value column has real tails; uniform columns like
    o_totalprice max out at |z|≈1.4 by construction).

    Determinism: percentile_disc picks ACTUAL data values (no
    interpolation arithmetic to diverge), so median and MAD are
    bit-identical across engines; the final score is one identical
    double expression rounded to 6 dp.

    Scale: two grouped exact medians over a bounded key domain + two
    broadcast-sized joins back to the facts; for high-cardinality keys
    the medians swap to approx_percentile sketches (registered
    separately) without changing the score expression.
    """
    e = read_table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY value)"
        ).alias("med")
    )
    with_med = e.join(F.broadcast(med), "event_type")
    mad = with_med.groupBy("event_type").agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP "
            "(ORDER BY abs(value - med))"
        ).alias("mad")
    )
    z = (F.col("value") - F.col("med")) / (1.4826 * F.col("mad"))
    # MAD = 0 (a group where >50% of values are identical) would make z
    # divide by zero — non-ANSI Spark NULL-drops such rows, ANSI throws,
    # DuckDB yields inf; excluding the degenerate groups explicitly (and
    # identically in the oracle) keeps all three deterministic.
    return (
        with_med.join(F.broadcast(mad), "event_type")
        .filter((F.col("mad") > 0) & (F.abs(z) > 2.5))
        .select(
            "event_id",
            "event_type",
            F.round(z, 6).alias("robust_z"),
        )
    )


# ---------------------------------------------------------------------------
# Robust z-score outliers, high-cardinality sketch variant
# ---------------------------------------------------------------------------

_ROBUST_APPROX_ORACLE = """
WITH med AS (
  SELECT user_id,
         percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS med
  FROM events GROUP BY user_id
), mad AS (
  SELECT e.user_id,
         percentile_disc(0.5) WITHIN GROUP (ORDER BY abs(e.value - m.med))
           AS mad
  FROM events e JOIN med m USING (user_id)
  GROUP BY e.user_id
)
SELECT e.event_id, e.user_id,
       ROUND((e.value - m.med) / (1.4826 * d.mad), 6) AS robust_z
FROM events e
JOIN med m USING (user_id)
JOIN mad d USING (user_id)
WHERE d.mad > 0
  AND abs((e.value - m.med) / (1.4826 * d.mad)) > 2.5
"""


@register(
    "robust_zscore_outliers_approx",
    oracle=_ROBUST_APPROX_ORACLE,
    tags=("agg", "stats", "sketch"),
)
def robust_zscore_outliers_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``robust_zscore_outliers``'s promised high-cardinality sibling:
    the same median/MAD outlier score keyed by user_id (an unbounded
    key domain at production scale, vs event_type's 5 values), with the
    exact per-key medians swapped for ``approx_percentile``
    Greenwald-Khanna sketches. An exact grouped median must hold each
    group's full value multiset through the aggregation; the GK sketch
    is a bounded-size, MERGEABLE buffer (map-side partials combine),
    so memory per key is O(accuracy), not O(group size) — the 100 TB
    shape. The med/mad joins are keyed by user_id (co-partitioned
    shuffle joins, not broadcasts — the side tables scale with the key
    domain).

    Oracle exactness: GK at accuracy 1e6 returns the true discrete
    percentile whenever a group's distinct-value count is below the
    accuracy bound — verified equal to DuckDB ``percentile_disc`` per
    user at every test SF — so the driver's hash check is exact here
    while the SAME plan degrades gracefully (1e-6 rank error) at scale.
    MAD-degenerate groups (mad = 0) are excluded on both sides, as in
    the exact variant.
    """
    e = read_table(spark, sf_dir, "events")
    med = e.groupBy("user_id").agg(
        F.expr("approx_percentile(value, 0.5, 1000000)").alias("med")
    )
    with_med = e.join(med, "user_id")
    mad = with_med.groupBy("user_id").agg(
        F.expr(
            "approx_percentile(abs(value - med), 0.5, 1000000)"
        ).alias("mad")
    )
    z = (F.col("value") - F.col("med")) / (1.4826 * F.col("mad"))
    return (
        with_med.join(mad, "user_id")
        .filter((F.col("mad") > 0) & (F.abs(z) > 2.5))
        .select("event_id", "user_id", F.round(z, 6).alias("robust_z"))
    )


# ---------------------------------------------------------------------------
# Gini coefficient of customer revenue per nation (inequality audit)
# ---------------------------------------------------------------------------

_GINI_ORACLE = """
WITH rev AS (
  SELECT c.c_nationkey AS nationkey, o.o_custkey,
         SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS r
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT nationkey, r,
         ROW_NUMBER() OVER (PARTITION BY nationkey ORDER BY r, o_custkey)
           AS i
  FROM rev
)
SELECT nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(r) AS DOUBLE) AS total_revenue,
       ROUND(
         (2.0 * CAST(SUM(i * r) AS DOUBLE)
            - (COUNT(*) + 1) * CAST(SUM(r) AS DOUBLE))
         / (COUNT(*) * CAST(SUM(r) AS DOUBLE)), 6) AS gini
FROM ranked
GROUP BY nationkey
"""


@register("gini_revenue_concentration", oracle=_GINI_ORACLE, tags=("agg", "window"))
def gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue within each nation —
    the canonical concentration/inequality audit (is 80% of revenue
    coming from 2% of customers?), identical math to what a training-
    data pipeline runs on per-domain token counts to detect source
    imbalance. Uses the rank formula
    G = (2·Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i) with x ascending.

    Determinism: revenues are exact DECIMAL sums; the rank tie-break is
    (revenue, custkey); i·x_i stays in decimal until the final cast, so
    both engines divide bit-identical doubles (ROUND 6 on the ratio).

    Scale: one fact-sized hash-agg (orders→per-customer revenue), one
    within-nation sort for ROW_NUMBER (Spark shuffles by nationkey —
    the partition is per-nation customer counts, not fact rows), one
    tiny final agg. No driver collects, no cross joins.
    """
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"), "o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("r"))
    )
    w = Window.partitionBy("nationkey").orderBy("r", "o_custkey")
    ranked = rev.select("nationkey", "r", F.row_number().over(w).alias("i"))
    n = F.count("*")
    s0 = F.sum("r").cast("double")
    s1 = F.sum(F.col("i") * F.col("r")).cast("double")
    return ranked.groupBy("nationkey").agg(
        n.cast("long").alias("n_customers"),
        s0.alias("total_revenue"),
        F.round((F.lit(2.0) * s1 - (n + 1) * s0) / (n * s0), 6).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Welch two-sample t-test (A/B read) — promo vs non-promo parts
# ---------------------------------------------------------------------------

_WELCH_ORACLE = """
WITH flagged AS (
  SELECT CASE WHEN p.p_type LIKE 'PROMO%' THEN 1 ELSE 0 END AS grp,
         CAST(l.l_extendedprice AS DECIMAL(18,2)) AS x
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
),
stats AS (
  SELECT
    COUNT(*) FILTER (WHERE grp = 1) AS n1,
    COUNT(*) FILTER (WHERE grp = 0) AS n0,
    CAST(SUM(x) FILTER (WHERE grp = 1) AS DOUBLE) AS s1,
    CAST(SUM(x) FILTER (WHERE grp = 0) AS DOUBLE) AS s0,
    CAST(SUM(x * x) FILTER (WHERE grp = 1) AS DOUBLE) AS q1,
    CAST(SUM(x * x) FILTER (WHERE grp = 0) AS DOUBLE) AS q0
  FROM flagged
)
SELECT
  CAST(n1 AS BIGINT) AS n_promo,
  CAST(n0 AS BIGINT) AS n_other,
  ROUND(s1 / n1, 6) AS mean_promo,
  ROUND(s0 / n0, 6) AS mean_other,
  ROUND(
    (s1 / n1 - s0 / n0)
    / SQRT(((q1 - s1 * s1 / n1) / (n1 - 1)) / n1
         + ((q0 - s0 * s0 / n0) / (n0 - 1)) / n0), 6) AS t_stat,
  ROUND(
    POWER(((q1 - s1 * s1 / n1) / (n1 - 1)) / n1
        + ((q0 - s0 * s0 / n0) / (n0 - 1)) / n0, 2)
    / (POWER(((q1 - s1 * s1 / n1) / (n1 - 1)) / n1, 2) / (n1 - 1)
     + POWER(((q0 - s0 * s0 / n0) / (n0 - 1)) / n0, 2) / (n0 - 1)), 6)
    AS welch_df
FROM stats
"""


@register("welch_ttest_promo", oracle=_WELCH_ORACLE, tags=("agg", "stats"))
def welch_ttest_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test: line-item price of
    PROMO-type parts vs everything else — the A/B-experiment read
    computed the distributed way, from one conditional-aggregation pass
    over the fact table (n, Σx, Σx² per arm), exactly how a metrics
    platform computes experiment stats at scale.

    Determinism: Σx and Σx² accumulate in DECIMAL (exact, order-free);
    the t statistic and Welch–Satterthwaite df are then pure double
    arithmetic on bit-identical inputs, ROUND 6.

    Scale: part is the dim side of the join (broadcast); the stats pass
    is a single map-side-combinable hash-agg with six buffers and NO
    group key — partial aggregation reduces each partition to one row
    before the 1-row exchange. This is the sufficient-statistics
    pattern: no second pass, no variance-via-subtraction per row.
    """
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    flagged = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        F.when(F.col("p_type").startswith("PROMO"), 1).otherwise(0).alias("grp"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("x"),
    )
    g1 = F.col("grp") == 1
    g0 = F.col("grp") == 0
    stats = flagged.agg(
        F.count(F.when(g1, 1)).alias("n1"),
        F.count(F.when(g0, 1)).alias("n0"),
        F.sum(F.when(g1, F.col("x"))).cast("double").alias("s1"),
        F.sum(F.when(g0, F.col("x"))).cast("double").alias("s0"),
        F.sum(F.when(g1, F.col("x") * F.col("x"))).cast("double").alias("q1"),
        F.sum(F.when(g0, F.col("x") * F.col("x"))).cast("double").alias("q0"),
    )
    n1, n0 = F.col("n1"), F.col("n0")
    s1, s0 = F.col("s1"), F.col("s0")
    q1, q0 = F.col("q1"), F.col("q0")
    v1 = ((q1 - s1 * s1 / n1) / (n1 - 1)) / n1  # s1²/n1 (variance of mean)
    v0 = ((q0 - s0 * s0 / n0) / (n0 - 1)) / n0
    return stats.select(
        n1.cast("long").alias("n_promo"),
        n0.cast("long").alias("n_other"),
        F.round(s1 / n1, 6).alias("mean_promo"),
        F.round(s0 / n0, 6).alias("mean_other"),
        F.round((s1 / n1 - s0 / n0) / F.sqrt(v1 + v0), 6).alias("t_stat"),
        F.round(
            F.pow(v1 + v0, 2)
            / (F.pow(v1, 2) / (n1 - 1) + F.pow(v0, 2) / (n0 - 1)),
            6,
        ).alias("welch_df"),
    )


# ---------------------------------------------------------------------------
# Rolling exact median (order-statistic window frame)
# ---------------------------------------------------------------------------

_ROLL_MEDIAN_ORACLE = """
SELECT event_id, user_id,
       ROUND(MEDIAN(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 6) AS roll_median
FROM events
"""


@register("rolling_median_frame", oracle=_ROLL_MEDIAN_ORACLE, tags=("window", "stats"))
def rolling_median_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling exact median of event value over the trailing 10 rows
    per user — the robust-smoothing counterpart of moving_avg_frame
    (outlier-resistant trend line; medians don't chase spikes the way
    means do). Spark evaluates the exact `percentile` aggregate over
    the sliding row frame; DuckDB's windowed MEDIAN is the oracle
    spelling. Even-count frames interpolate the two middle values on
    both engines; ROUND 6 absorbs the one-ulp interpolation-order
    difference.

    Scale: one shuffle on user_id then a per-user sort — the frame
    state is 10 values per row, O(frame) memory, streaming-evaluated.
    For frames of thousands of rows the production swap is an
    approx_percentile sketch (same plan shape, bounded state) — the
    exact form is the oracle-checkable witness.
    """
    ev = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.percentile(F.col("value"), F.lit(0.5)).over(w), 6).alias(
            "roll_median"
        ),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------------

_BENFORD_ORACLE = """
WITH digits AS (
  SELECT CAST(SUBSTR(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1)
              AS INTEGER) AS digit
  FROM orders
  WHERE o_totalprice > 0
)
SELECT digit,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(COUNT(*) AS DOUBLE)
             / (SELECT COUNT(*) FROM digits), 6) AS observed_pct,
       ROUND(LOG10(1.0 + 1.0 / digit), 6) AS benford_pct
FROM digits
GROUP BY digit
"""


@register("benford_first_digit", oracle=_BENFORD_ORACLE, tags=("agg", "stats"))
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals: observed
    leading-digit frequencies vs the log10(1+1/d) expectation — the
    standard fraud / synthetic-data / upstream-corruption screen a
    pipeline runs on money columns.

    Determinism: the leading digit is taken from the DECIMAL(18,2)
    string rendering (exact and identical in both engines — extracting
    it via log10/pow would put a transcendental at an exact-power-of-10
    boundary, where one-ulp divergence flips the digit).

    Scale: a single map-side-combinable hash-agg to ≤9 groups; the
    total for the share is the 1-row scalar joined back by Catalyst as
    a broadcast — two passes over digit counts, zero over the fact.
    """
    o = read_table(spark, sf_dir, "orders")
    digits = o.filter(F.col("o_totalprice") > 0).select(
        F.substring(
            F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").alias("tot"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.round(F.col("n").cast("double") / F.col("tot"), 6).alias(
                "observed_pct"
            ),
            F.round(F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")), 6).alias(
                "benford_pct"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Rank-based quantile normalization (per-source feature transform)
# ---------------------------------------------------------------------------

_QNORM_ORACLE = """
SELECT doc_id, source,
       CAST(n_chars AS BIGINT) AS n_chars,
       ROUND(
         (ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
          - 0.5)
         / COUNT(*) OVER (PARTITION BY source), 6) AS quantile_norm
FROM documents
"""


@register("quantile_normalize_feature", oracle=_QNORM_ORACLE, tags=("window", "stats"))
def quantile_normalize_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based quantile normalization of a numeric feature within
    each group: value → (rank − ½)/n over its source's empirical
    distribution — the distribution-free rescaling used before
    cross-source comparisons or as a model-input transform (maps any
    distribution onto uniform(0,1); a Φ⁻¹ on top would give normal
    scores). Tie-break (n_chars, doc_id) makes ranks total.

    Scale: one shuffle on the group key, one per-group sort serving
    both window functions (Catalyst computes ROW_NUMBER and the
    partition COUNT in a single window stage over the same ordering).
    No joins, no collects; output is row-for-row with the input.
    """
    d = read_table(spark, sf_dir, "documents")
    wr = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("source")
    return d.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.round(
            (F.row_number().over(wr) - 0.5) / F.count("*").over(wn), 6
        ).alias("quantile_norm"),
    )


# ---------------------------------------------------------------------------
# Daily conversion rate with Wilson 95% confidence interval
# ---------------------------------------------------------------------------

_WILSON_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         COUNT(*) AS n,
         COUNT(*) FILTER (WHERE event_type = 'purchase') AS s
  FROM events GROUP BY 1
)
SELECT day,
       CAST(n AS BIGINT) AS n_events,
       CAST(s AS BIGINT) AS n_purchases,
       ROUND(CAST(s AS DOUBLE) / n, 6) AS p_hat,
       ROUND((CAST(s AS DOUBLE) / n + 1.96 * 1.96 / (2 * n)
              - 1.96 * SQRT((CAST(s AS DOUBLE) / n) * (1 - CAST(s AS DOUBLE) / n) / n
                            + 1.96 * 1.96 / (4.0 * n * n)))
             / (1 + 1.96 * 1.96 / n), 6) AS ci_lo,
       ROUND((CAST(s AS DOUBLE) / n + 1.96 * 1.96 / (2 * n)
              + 1.96 * SQRT((CAST(s AS DOUBLE) / n) * (1 - CAST(s AS DOUBLE) / n) / n
                            + 1.96 * 1.96 / (4.0 * n * n)))
             / (1 + 1.96 * 1.96 / n), 6) AS ci_hi
FROM daily
"""


@register("conversion_wilson_ci", oracle=_WILSON_ORACLE, tags=("agg", "stats"))
def conversion_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily purchase-conversion rate with a Wilson-score 95%
    confidence interval — the statistically honest way to report a
    proportion (the naive ±1.96·√(p̂(1−p̂)/n) Wald interval collapses
    to zero width at p̂∈{0,1} and escapes [0,1]; Wilson does neither).
    The shape every experiment dashboard needs per-metric, per-day.

    Determinism: counts are exact; every term is the same double
    arithmetic on both engines (z = 1.96 parses to the same double);
    only √ output is rounded.

    Scale: one map-side-combinable conditional hash-agg keyed by day;
    the interval math runs on one row per day.
    """
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("s"),
    )
    n, s = F.col("n"), F.col("s")
    p = s.cast("double") / n
    z2 = F.lit(1.96) * F.lit(1.96)
    center = p + z2 / (2 * n)
    halfw = F.lit(1.96) * F.sqrt(p * (1 - p) / n + z2 / (4.0 * n * n))
    denom = 1 + z2 / n
    return daily.select(
        "day",
        n.cast("long").alias("n_events"),
        s.cast("long").alias("n_purchases"),
        F.round(p, 6).alias("p_hat"),
        F.round((center - halfw) / denom, 6).alias("ci_lo"),
        F.round((center + halfw) / denom, 6).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# Pairwise Pearson correlation matrix (single-pass sufficient stats)
# ---------------------------------------------------------------------------

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

_CORR_PAIRS = [
    (a, b)
    for i, a in enumerate(_CORR_COLS)
    for b in _CORR_COLS[i + 1 :]
]


def _corr_sql() -> str:
    # DECIMAL(28,6) in DuckDB so the product runs in int128 (an 18,6
    # multiply overflows its int64 fast path); Spark keeps (18,6),
    # where (37,12) products are exact — values are identical.
    sums = ["COUNT(*) AS n"]
    for c in _CORR_COLS:
        sums.append(f"CAST(SUM(CAST({c} AS DECIMAL(28,6))) AS DOUBLE) AS s_{c}")
        sums.append(
            f"CAST(SUM(CAST({c} AS DECIMAL(28,6)) * CAST({c} AS DECIMAL(28,6)))"
            f" AS DOUBLE) AS q_{c}"
        )
    for a, b in _CORR_PAIRS:
        sums.append(
            f"CAST(SUM(CAST({a} AS DECIMAL(28,6)) * CAST({b} AS DECIMAL(28,6)))"
            f" AS DOUBLE) AS x_{a}_{b}"
        )
    rows = []
    for a, b in _CORR_PAIRS:
        corr = (
            f"(n * x_{a}_{b} - s_{a} * s_{b}) / "
            f"SQRT((n * q_{a} - s_{a} * s_{a}) * (n * q_{b} - s_{b} * s_{b}))"
        )
        rows.append(
            f"SELECT '{a}' AS col_a, '{b}' AS col_b, ROUND({corr}, 6) AS corr"
            " FROM stats"
        )
    return (
        "WITH stats AS (SELECT " + ", ".join(sums) + " FROM lineitem)\n"
        + "\nUNION ALL\n".join(rows)
    )


@register("corr_matrix_lineitem", oracle=_corr_sql(), tags=("agg", "stats"))
def corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the four lineitem
    measures, computed from ONE sufficient-statistics pass (n, Σx, Σx²
    per column, Σxy per pair — 15 agg buffers) and unpivoted to
    (col_a, col_b, corr) rows — the feature-screening primitive of any
    model pipeline, in its distributed form: never per-pair passes.

    Determinism: every sum accumulates in DECIMAL (exact); the Pearson
    formula then runs identical double arithmetic, ROUND 6.

    Scale: a single map-side-combinable hash-agg with no group key —
    each partition reduces to one 15-number row before a 1-row
    exchange. The unpivot (stack) is driver-side literal wiring over
    that single row. O(k²) buffers for k columns is the only growth
    axis; at k ~ hundreds, switch to the array-typed block form.
    """
    li = read_table(spark, sf_dir, "lineitem")
    aggs = [F.count("*").alias("n")]
    for c in _CORR_COLS:
        d = F.col(c).cast("decimal(18,6)")
        aggs.append(F.sum(d).cast("double").alias(f"s_{c}"))
        aggs.append(F.sum(d * d).cast("double").alias(f"q_{c}"))
    for a, b in _CORR_PAIRS:
        da = F.col(a).cast("decimal(18,6)")
        db = F.col(b).cast("decimal(18,6)")
        aggs.append(F.sum(da * db).cast("double").alias(f"x_{a}_{b}"))
    stats = li.agg(*aggs)
    pieces = []
    for a, b in _CORR_PAIRS:
        pieces.append(
            f"'{a}', '{b}', ROUND((n * x_{a}_{b} - s_{a} * s_{b}) / "
            f"SQRT((n * q_{a} - s_{a} * s_{a}) * (n * q_{b} - s_{b} * s_{b})), 6)"
        )
    return stats.selectExpr(
        f"stack({len(_CORR_PAIRS)}, "
        + ", ".join(pieces)
        + ") AS (col_a, col_b, corr)"
    )


# ---------------------------------------------------------------------------
# Grouped OLS: revenue-vs-time slope per customer nation
# ---------------------------------------------------------------------------

_SLOPE_ORACLE = """
WITH pts AS (
  SELECT c.c_nationkey AS nationkey,
         CAST(CAST(o.o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
         CAST(o.o_totalprice AS DECIMAL(18,2)) AS y
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
stats AS (
  SELECT nationkey,
         COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(18,0)) * y) AS DOUBLE) AS sxy
  FROM pts GROUP BY nationkey
)
SELECT nationkey,
       CAST(n AS BIGINT) AS n_orders,
       ROUND((n * sxy - sx * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
         AS slope_per_day,
       ROUND((sy - (n * sxy - sx * sy)
                   / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * sx)
             / n, 6) AS intercept
FROM stats
"""


@register("ols_slope_per_nation", oracle=_SLOPE_ORACLE, tags=("agg", "stats"))
def ols_slope_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group simple linear regression: order value vs order date
    (days since epoch) for every customer nation, from one grouped
    sufficient-statistics pass — the distributed form of "fit a trend
    line per segment" (regr_ols_surface's grouped sibling; same
    pattern as SQL's REGR_SLOPE/REGR_INTERCEPT family).

    Determinism: Σx/Σx² are exact BIGINTs, Σy/Σxy exact decimals; the
    slope/intercept formulas are then double arithmetic on identical
    inputs, ROUND 6. (Σxy ≈ 10¹⁵ at sf1 stays under double's exact-
    integer range after the cast; beyond that, widen to DECIMAL(38,2)
    and cast once.)

    Scale: the join's dim side (customer) shuffles once; the stats pass
    is a map-side-combinable hash-agg keyed by nation — five buffers
    per group, one exchange of 25 rows. No second pass, no windows.
    """
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    pts = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_nationkey").alias("nationkey"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("x"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("y"),
    )
    stats = pts.groupBy("nationkey").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x").cast("decimal(18,0)") * F.col("y"))
        .cast("double")
        .alias("sxy"),
    )
    n = F.col("n")
    sx, sxx = F.col("sx"), F.col("sxx")
    sy, sxy = F.col("sy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (
        n.cast("double") * sxx - sx.cast("double") * sx
    )
    return stats.select(
        "nationkey",
        n.cast("long").alias("n_orders"),
        F.round(slope, 6).alias("slope_per_day"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Population Stability Index (distribution drift) on order totals
# ---------------------------------------------------------------------------

_PSI_ORACLE = """
WITH bucketed AS (
  SELECT LEAST(9, CAST(FLOOR(o_totalprice / 50000.0) AS INTEGER)) AS bucket,
         CASE WHEN EXTRACT(YEAR FROM o_orderdate) <= 1997 THEN 1 ELSE 0 END
           AS is_ref
  FROM orders
),
counts AS (
  SELECT bucket,
         COUNT(*) FILTER (WHERE is_ref = 1) AS c_ref,
         COUNT(*) FILTER (WHERE is_ref = 0) AS c_cur
  FROM bucketed GROUP BY bucket
),
tot AS (
  SELECT CAST(SUM(c_ref) AS DOUBLE) AS n_ref,
         CAST(SUM(c_cur) AS DOUBLE) AS n_cur,
         COUNT(*) AS k
  FROM counts
)
SELECT c.bucket,
       CAST(c.c_ref AS BIGINT) AS n_ref,
       CAST(c.c_cur AS BIGINT) AS n_cur,
       ROUND((c.c_ref + 0.5) / (t.n_ref + 0.5 * t.k), 6) AS p_ref,
       ROUND((c.c_cur + 0.5) / (t.n_cur + 0.5 * t.k), 6) AS p_cur,
       ROUND(((c.c_ref + 0.5) / (t.n_ref + 0.5 * t.k)
              - (c.c_cur + 0.5) / (t.n_cur + 0.5 * t.k))
             * LN(((c.c_ref + 0.5) / (t.n_ref + 0.5 * t.k))
                  / ((c.c_cur + 0.5) / (t.n_cur + 0.5 * t.k))), 6)
         AS psi_contrib
FROM counts c CROSS JOIN tot t
"""


@register("psi_price_drift", oracle=_PSI_ORACLE, tags=("agg", "stats"))
def psi_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the reference period
    (order years ≤ 1997) and the current period over 10 fixed-width
    price buckets: per-bucket shares with add-half smoothing and the
    (p−q)·ln(p/q) contribution — THE standard model-input drift
    monitor; Σ psi_contrib > 0.2 is the conventional "investigate"
    threshold. Per-bucket rows keep the whole diagnostic
    driver-hashable, not just the total.

    Determinism: bucket = floor of a double division by a power-of-two-
    friendly constant on identical doubles; counts exact; smoothing
    makes every share strictly positive so LN never sees 0. LN output
    ROUND 6.

    Scale: one conditional hash-agg keyed by bucket (≤10 groups,
    map-side combinable) — the two period distributions come from a
    single fact pass, not one scan per period. Totals are a 1-row
    broadcast.
    """
    o = read_table(spark, sf_dir, "orders")
    bucketed = o.select(
        F.least(
            F.lit(9), F.floor(F.col("o_totalprice") / 50000.0).cast("int")
        ).alias("bucket"),
        F.when(F.year("o_orderdate") <= 1997, 1).otherwise(0).alias("is_ref"),
    )
    counts = bucketed.groupBy("bucket").agg(
        F.count(F.when(F.col("is_ref") == 1, 1)).alias("c_ref"),
        F.count(F.when(F.col("is_ref") == 0, 1)).alias("c_cur"),
    )
    tot = counts.agg(
        F.sum("c_ref").cast("double").alias("n_ref"),
        F.sum("c_cur").cast("double").alias("n_cur"),
        F.count("*").alias("k"),
    )
    p_ref = (F.col("c_ref") + 0.5) / (F.col("n_ref") + 0.5 * F.col("k"))
    p_cur = (F.col("c_cur") + 0.5) / (F.col("n_cur") + 0.5 * F.col("k"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.col("c_ref").cast("long").alias("n_ref"),
        F.col("c_cur").cast("long").alias("n_cur"),
        F.round(p_ref, 6).alias("p_ref"),
        F.round(p_cur, 6).alias("p_cur"),
        F.round((p_ref - p_cur) * F.log(p_ref / p_cur), 6).alias("psi_contrib"),
    )


# ---------------------------------------------------------------------------
# Weighted median (quantity-weighted price per return flag)
# ---------------------------------------------------------------------------

_WMEDIAN_ORACLE = """
WITH perprice AS (
  SELECT l_returnflag AS flag,
         l_extendedprice AS price,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS wt
  FROM lineitem
  GROUP BY 1, 2
),
w AS (
  SELECT flag, price,
         SUM(wt) OVER (
           PARTITION BY flag ORDER BY price
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
         SUM(wt) OVER (PARTITION BY flag) AS totw
  FROM perprice
)
SELECT flag,
       CAST(MIN(totw) AS DOUBLE) AS total_weight,
       CAST(MIN(CASE WHEN 2 * cumw >= totw THEN price END) AS DOUBLE)
         AS weighted_median
FROM w
GROUP BY flag
"""


@register("weighted_median_price", oracle=_WMEDIAN_ORACLE, tags=("window", "stats"))
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median: the smallest price at which cumulative quantity
    weight reaches half the group's total — "the price of the median
    UNIT SOLD", which an unweighted median (price of the median line
    item) gets wrong whenever cheap items ship in bulk. The canonical
    order-statistic-with-weights shape (also how weighted quantile
    feature binning is built).

    Determinism: weights accumulate in exact DECIMAL; the crossing test
    2·cumw ≥ totw is exact decimal comparison — no doubles until the
    output cast.

    Scale — the few-heavy-groups trap, solved: a row-level cumulative
    window partitioned by 3 flags would sort a third of the fact table
    in ONE task (measured 7.7× at 10× data). Instead, weights are first
    hash-aggregated per (flag, price) — massively parallel, map-side
    combinable — and the cumulative window runs over DISTINCT PRICES
    only, whose count is bounded by the price domain, not the row
    count. The crossing price is provably identical: cumulative weight
    at price p equals the row-level cumulative at p's last row.
    """
    li = read_table(spark, sf_dir, "lineitem")
    perprice = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("price"),
    ).agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("wt"))
    wcum = (
        Window.partitionBy("flag")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("flag")
    w = perprice.select(
        "flag",
        "price",
        F.sum("wt").over(wcum).alias("cumw"),
        F.sum("wt").over(wtot).alias("totw"),
    )
    return w.groupBy("flag").agg(
        F.min("totw").cast("double").alias("total_weight"),
        F.min(F.when(2 * F.col("cumw") >= F.col("totw"), F.col("price")))
        .cast("double")
        .alias("weighted_median"),
    )


# ---------------------------------------------------------------------------
# IQR outlier fences (Tukey) per event type
# ---------------------------------------------------------------------------

_IQR_ORACLE = """
WITH q AS (
  SELECT event_type,
         ROUND(quantile_cont(value, 0.25), 6) AS q1,
         ROUND(quantile_cont(value, 0.75), 6) AS q3
  FROM events GROUP BY event_type
),
fences AS (
  SELECT event_type, q1, q3,
         ROUND(q1 - 1.5 * (q3 - q1), 6) AS lo,
         ROUND(q3 + 1.5 * (q3 - q1), 6) AS hi
  FROM q
)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       f.q1, f.q3, f.lo AS fence_lo, f.hi AS fence_hi,
       CAST(COUNT(*) FILTER (WHERE e.value < f.lo OR e.value > f.hi)
            AS BIGINT) AS n_outliers
FROM events e JOIN fences f ON f.event_type = e.event_type
GROUP BY e.event_type, f.q1, f.q3, f.lo, f.hi
"""


@register("iqr_outlier_fences", oracle=_IQR_ORACLE, tags=("agg", "stats"))
def iqr_outlier_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR outlier fences per event type: Q1/Q3, the 1.5·IQR
    fences, and the count of points outside them — the box-plot
    outlier rule, the quantile-based sibling of robust_zscore_outliers
    (which uses median/MAD). Reported as fences + counts so the whole
    screen is one bounded row per group.

    Determinism: both engines interpolate exact quantiles over
    identical doubles; fences are ROUNDED to 6dp BEFORE the comparison
    — ulp differences in the engines' interpolation arithmetic would
    otherwise flip the outlier test for points sitting exactly on a
    fence (same hardening rule as the seasonal/CUSUM boundary fix).

    Scale: quantiles per group need a per-group sort (Spark's
    percentile agg buffers the group — for unbounded groups swap to
    approx_percentile, same plan otherwise, as robust_zscore's approx
    twin does); the outlier count joins the tiny fence table back
    broadcast, one more fact pass. Two passes total, both
    shuffle-light.
    """
    ev = read_table(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.round(F.percentile(F.col("value"), F.lit(0.25)), 6).alias("q1"),
        F.round(F.percentile(F.col("value"), F.lit(0.75)), 6).alias("q3"),
    )
    fences = q.select(
        "event_type",
        "q1",
        "q3",
        F.round(F.col("q1") - 1.5 * (F.col("q3") - F.col("q1")), 6).alias("lo"),
        F.round(F.col("q3") + 1.5 * (F.col("q3") - F.col("q1")), 6).alias("hi"),
    )
    return (
        ev.join(F.broadcast(fences), "event_type")
        .groupBy("event_type", "q1", "q3", "lo", "hi")
        .agg(
            F.count("*").alias("n_events"),
            F.count(
                F.when(
                    (F.col("value") < F.col("lo"))
                    | (F.col("value") > F.col("hi")),
                    1,
                )
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .select(
            "event_type",
            "n_events",
            "q1",
            "q3",
            F.col("lo").alias("fence_lo"),
            F.col("hi").alias("fence_hi"),
            "n_outliers",
        )
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation (threshold scoring, no global ntile)
# ---------------------------------------------------------------------------

_RFM_ORACLE = f"""
WITH rfm AS (
  SELECT o_custkey,
         CAST(MAX(CAST(o_orderdate AS DATE)) AS DATE) AS last_order,
         COUNT(*) AS f,
         {sql_dsum('o_totalprice')} AS m
  FROM orders GROUP BY 1
),
anchored AS (
  SELECT o_custkey,
         CAST((SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders)
              - last_order AS BIGINT) AS r,
         CAST(f AS BIGINT) AS f, m
  FROM rfm
),
th AS (
  SELECT
    ROUND(quantile_cont(r, 0.25), 6) AS r1,
    ROUND(quantile_cont(r, 0.50), 6) AS r2,
    ROUND(quantile_cont(r, 0.75), 6) AS r3,
    ROUND(quantile_cont(f, 0.25), 6) AS f1,
    ROUND(quantile_cont(f, 0.50), 6) AS f2,
    ROUND(quantile_cont(f, 0.75), 6) AS f3,
    ROUND(quantile_cont(m, 0.25), 6) AS m1,
    ROUND(quantile_cont(m, 0.50), 6) AS m2,
    ROUND(quantile_cont(m, 0.75), 6) AS m3
  FROM anchored
)
SELECT a.o_custkey,
       a.r AS recency_days, a.f AS frequency, a.m AS monetary,
       CAST(4 - ((a.r > t.r1)::INT + (a.r > t.r2)::INT + (a.r > t.r3)::INT)
            AS INTEGER) AS r_score,
       CAST(1 + ((a.f > t.f1)::INT + (a.f > t.f2)::INT + (a.f > t.f3)::INT)
            AS INTEGER) AS f_score,
       CAST(1 + ((a.m > t.m1)::INT + (a.m > t.m2)::INT + (a.m > t.m3)::INT)
            AS INTEGER) AS m_score
FROM anchored a CROSS JOIN th t
"""


@register("rfm_segmentation", oracle=_RFM_ORACLE, tags=("agg", "stats"))
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer Recency (days since last order,
    anchored to the corpus max date), Frequency, Monetary (exact
    decimal), each scored 1-4 by quartile — the workhorse customer-
    value segmentation. Recency scores INVERT (recent = high).

    Scale note — scored WITHOUT a global ntile: ranking windows with no
    partition key single-thread the whole customer table. Instead the
    three quartile boundaries are computed once (one aggregate),
    broadcast, and each customer is scored by threshold comparisons —
    embarrassingly parallel, same plan at any cardinality. Thresholds
    are ROUNDED to 6dp before comparison (interpolation-ulp hardening;
    with integer-valued metrics the quantile often lands exactly ON a
    data value, where raw ulp noise would flip scores).

    Determinism: quartiles interpolate identical doubles (decimal-exact
    monetary cast once); scores are integer comparisons against the
    rounded thresholds.
    """

    o = read_table(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_order"),
        F.count("*").cast("long").alias("f"),
        dsum("o_totalprice").alias("m"),
    )
    anchor = o.agg(F.max(F.to_date("o_orderdate")).alias("maxd"))
    anchored = rfm.crossJoin(F.broadcast(anchor)).select(
        "o_custkey",
        F.datediff("maxd", "last_order").cast("long").alias("r"),
        "f",
        "m",
    )
    th = anchored.agg(
        *[
            F.round(F.percentile(F.col(c), F.lit(p)), 6).alias(f"{c}{i}")
            for c in ("r", "f", "m")
            for i, p in ((1, 0.25), (2, 0.50), (3, 0.75))
        ]
    )

    def score(c: str, invert: bool) -> F.Column:
        hits = sum(
            (F.col(c) > F.col(f"{c}{i}")).cast("int") for i in (1, 2, 3)
        )
        return (4 - hits if invert else 1 + hits).cast("int")

    return anchored.crossJoin(F.broadcast(th)).select(
        "o_custkey",
        F.col("r").alias("recency_days"),
        F.col("f").alias("frequency"),
        F.col("m").alias("monetary"),
        score("r", invert=True).alias("r_score"),
        score("f", invert=False).alias("f_score"),
        score("m", invert=False).alias("m_score"),
    )


# ---------------------------------------------------------------------------
# Shipping-latency SLO quantiles per order priority
# ---------------------------------------------------------------------------

_LATENCY_ORACLE = """
WITH lat AS (
  SELECT o.o_orderpriority AS priority,
         CAST(CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE)
              AS BIGINT) AS days
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT priority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       ROUND(quantile_cont(days, 0.50), 6) AS p50,
       ROUND(quantile_cont(days, 0.90), 6) AS p90,
       ROUND(quantile_cont(days, 0.99), 6) AS p99,
       CAST(MAX(days) AS BIGINT) AS p100
FROM lat GROUP BY priority
"""


@register("ship_latency_quantiles", oracle=_LATENCY_ORACLE, tags=("agg", "stats"))
def ship_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-latency SLO quantiles: p50/p90/p99/max of
    order-to-ship days per order priority — the tail-latency report
    shape (does HIGH priority actually ship faster at the p99?).

    Determinism: latencies are exact integer day differences; quantile
    interpolation runs on identical inputs, outputs ROUND 6.

    Scale: the orders join is fact-to-fact on the order key (one
    co-partitioned shuffle — at 100 TB, bucketing both tables on
    orderkey makes it exchange-free); exact per-group quantiles buffer
    each group — the bounded-cardinality priority domain makes that
    safe here, and the approx_percentile sketch is the drop-in for
    unbounded groups.
    """
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    lat = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
        .cast("long")
        .alias("days"),
    )
    return lat.groupBy("priority").agg(
        F.count("*").alias("n_lines"),
        F.round(F.percentile(F.col("days"), F.lit(0.50)), 6).alias("p50"),
        F.round(F.percentile(F.col("days"), F.lit(0.90)), 6).alias("p90"),
        F.round(F.percentile(F.col("days"), F.lit(0.99)), 6).alias("p99"),
        F.max("days").cast("long").alias("p100"),
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) layout: interleaved-bit clustering key + file stats
# ---------------------------------------------------------------------------

_Z_BITS = 4  # 16 buckets per dimension → 8-bit z-key → 16 files of 16 keys


def _morton(px: Column, sx: Column) -> Column:
    z = F.lit(0)
    for i in range(_Z_BITS):
        z = (
            z
            + F.shiftright(px, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i + 1))
            + F.shiftright(sx, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i))
        )
    return z


_SQL_MORTON = " + ".join(
    f"((px >> {i}) & 1) * {1 << (2 * i + 1)} + ((sx >> {i}) & 1) * {1 << (2 * i)}"
    for i in range(_Z_BITS)
)

_ZORDER_LAYOUT_ORACLE = f"""
WITH b AS (
  SELECT l_partkey % 16 AS px, l_suppkey % 16 AS sx FROM lineitem
),
z AS (
  SELECT px, sx, ({_SQL_MORTON}) // 16 AS file_id FROM b
)
SELECT CAST(file_id AS INTEGER) AS file_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(px) AS INTEGER) AS px_min, CAST(MAX(px) AS INTEGER) AS px_max,
       CAST(MIN(sx) AS INTEGER) AS sx_min, CAST(MAX(sx) AS INTEGER) AS sx_max,
       CAST((MAX(px) - MIN(px) + 1) * (MAX(sx) - MIN(sx) + 1) AS INTEGER)
         AS bbox_area
FROM z GROUP BY file_id
"""


@register("zorder_layout_stats", oracle=_ZORDER_LAYOUT_ORACLE, tags=("layout", "scale"))
def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key + the per-file min/max stats it
    yields — the multi-dimensional data-layout trick behind Delta/
    Iceberg `OPTIMIZE ZORDER BY`. Interleaving the bits of two bucket
    keys and range-splitting the result gives every file a TIGHT
    bounding box in BOTH dimensions (bbox_area ≤ 16 per 16-key file
    here vs 16×16 for files split on either single key), so min/max
    file statistics prune point/range scans on either predicate column
    — the property this query's output makes checkable.

    Scale: the z-key is a pure bitwise projection (no shuffle); the
    stats roll up with one hash-agg, exactly the manifest-building
    pass a 100 TB table write performs. Bit arithmetic is identical
    integer math in both engines.
    """
    li = read_table(spark, sf_dir, "lineitem")
    b = li.select(
        F.pmod("l_partkey", F.lit(16)).alias("px"),
        F.pmod("l_suppkey", F.lit(16)).alias("sx"),
    )
    z = b.select("px", "sx", F.shiftright(_morton(F.col("px"), F.col("sx")), 4).alias("file_id"))
    return z.groupBy(F.col("file_id").cast("int").alias("file_id")).agg(
        F.count("*").alias("n_rows"),
        F.min("px").cast("int").alias("px_min"),
        F.max("px").cast("int").alias("px_max"),
        F.min("sx").cast("int").alias("sx_min"),
        F.max("sx").cast("int").alias("sx_max"),
        ((F.max("px") - F.min("px") + 1) * (F.max("sx") - F.min("sx") + 1))
        .cast("int")
        .alias("bbox_area"),
    )


# ---------------------------------------------------------------------------
# Range-partition boundary planning (write-layout split points)
# ---------------------------------------------------------------------------

_RANGE_PARTS = 8

_RANGE_FRACS = [i / _RANGE_PARTS for i in range(1, _RANGE_PARTS)]

_RANGE_BOUNDS_ORACLE = f"""
WITH ordered AS (
  SELECT o_totalprice AS v,
         ROW_NUMBER() OVER (ORDER BY o_totalprice) AS rn,
         COUNT(*) OVER () AS n
  FROM orders
),
fr AS (SELECT unnest([{", ".join(repr(q) for q in _RANGE_FRACS)}]) AS q),
bnd AS (
  SELECT q, MIN(v) AS bv
  FROM ordered, fr
  WHERE rn = CAST(CEIL(q * n) AS BIGINT)
  GROUP BY q
),
assigned AS (
  SELECT v, len(list_filter(b.bounds, x -> v > x)) AS p
  FROM (SELECT o_totalprice AS v FROM orders), (SELECT LIST(bv ORDER BY q) AS bounds FROM bnd) b
)
SELECT CAST(p AS INTEGER) AS partition_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(v) AS price_lo, MAX(v) AS price_hi
FROM assigned GROUP BY p
"""


@register(
    "range_partition_boundaries",
    oracle=_RANGE_BOUNDS_ORACLE,
    tags=("layout", "scale"),
)
def range_partition_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioning planner: compute the {P}-way split points of
    the sort key (discrete ⅛-quantiles — actual data values, the same
    statistic Spark's RangePartitioner samples for) and prove the
    layout balanced by assigning every row to its partition and
    reporting per-partition counts and key ranges — the planning pass
    behind a sorted 100 TB table write (global sort, Z-less case).

    Cross-engine exactness: boundaries are ORDER STATISTICS (chosen
    values, never interpolated) spelled identically in both engines as
    the value at rank ⌈q·n⌉ — Spark's percentile_disc definition —
    with q ∈ {{i/8}} all exactly representable doubles. Assignment is
    a broadcast of 7 boundary values folded per row; counts are
    integers.

    Scale: one pass to rank (sample-based in production — the exact
    rank here doubles as the oracle), one broadcast-fold pass to
    assign; no shuffle larger than the final 8-group agg.
    """
    o = read_table(spark, sf_dir, "orders")
    # All seven order statistics come from one distributed rank walk
    # (registry.rank_select) under percentile_disc's own rank rule
    # (registry.pdisc_rank), so the boundary VALUES are bit-identical
    # to seven scalar percentile_disc aggregates — without their seven
    # single-task full-column buffers.
    fr = spark.range(1).select(
        F.explode(F.array(*[F.lit(float(q)) for q in _RANGE_FRACS])).alias("q")
    )
    bnd = rank_select(
        o.select(F.col("o_totalprice").alias("bv")),
        "bv",
        fr,
        pdisc_rank(F.col("q")),
    )
    # bounds array ordered by q (7 rows → one struct-sorted array)
    bounds_row = bnd.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("q", "bv"))),
            lambda s: s["bv"],
        ).alias("bounds")
    )
    assigned = (
        o.select(F.col("o_totalprice").alias("v"))
        .crossJoin(F.broadcast(bounds_row))
        .select(
            "v",
            F.aggregate(
                "bounds",
                F.lit(0),
                lambda acc, x: acc + F.when(F.col("v") > x, 1).otherwise(0),
            ).alias("p"),
        )
    )
    return assigned.groupBy(F.col("p").cast("int").alias("partition_id")).agg(
        F.count("*").alias("n_rows"),
        F.min("v").alias("price_lo"),
        F.max("v").alias("price_hi"),
    )


# ---------------------------------------------------------------------------
# Join-key skew profile
# ---------------------------------------------------------------------------

_SKEW_TOP = 10

_SKEW_PROFILE_ORACLE = f"""
WITH kc AS (
  SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1
),
tot AS (
  SELECT SUM(cnt) AS total, COUNT(*) AS n_keys FROM kc
)
SELECT l_partkey, CAST(cnt AS BIGINT) AS cnt,
       ROUND(CAST(cnt AS DOUBLE) / total, 6) AS pct_of_rows,
       ROUND(CAST(cnt AS DOUBLE) * n_keys / total, 6) AS skew_factor
FROM kc, tot
ORDER BY cnt DESC, l_partkey
LIMIT {_SKEW_TOP}
"""


@register("skew_key_profile", oracle=_SKEW_PROFILE_ORACLE, tags=("scale", "agg"))
def skew_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic: the {K} heaviest part keys with their
    row share and skew factor (count ÷ mean-per-key) — the planning
    input for every skew mitigation this engine documents (AQE skew
    split, salting, broadcast thresholds). A skew_factor ≫ 1 key is
    the one that turns a shuffle join into a straggler at 100 TB; a
    monitor alerting on this profile catches it before the job does.
    One map-combined hash-agg + a 2-value broadcast total; top-k via
    TakeOrderedAndProject (never a global sort).
    """
    li = read_table(spark, sf_dir, "lineitem")
    kc = li.groupBy("l_partkey").agg(F.count("*").alias("cnt"))
    tot = kc.agg(
        F.sum("cnt").alias("total"), F.count("*").alias("n_keys")
    )
    return (
        kc.crossJoin(F.broadcast(tot))
        .select(
            "l_partkey",
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("total"), 6).alias(
                "pct_of_rows"
            ),
            F.round(
                F.col("cnt").cast("double") * F.col("n_keys") / F.col("total"), 6
            ).alias("skew_factor"),
        )
        .orderBy(F.col("cnt").desc(), "l_partkey")
        .limit(_SKEW_TOP)
    )


# ---------------------------------------------------------------------------
# max_by / min_by (argmax) aggregate surface
# ---------------------------------------------------------------------------

# Composite integer ordering key: cents * 10^7 + custkey is strictly
# monotone in (acctbal, custkey) while custkey < 10^7, making the
# argmax UNIQUE — max_by/arg_max tie-breaking is engine-defined, so
# determinism must come from the ordering key, not the engine.
_ARGMAX_ORD = "CAST(ROUND(c_acctbal * 100) AS BIGINT) * 10000000 + c_custkey"

_ARGMAX_ORACLE = f"""
SELECT c_nationkey,
       arg_max(c_name, {_ARGMAX_ORD}) AS richest_customer,
       arg_min(c_name, {_ARGMAX_ORD}) AS poorest_customer,
       MAX(c_acctbal) AS max_bal,
       MIN(c_acctbal) AS min_bal
FROM customer GROUP BY c_nationkey
"""


@register("argmax_surface", oracle=_ARGMAX_ORACLE, tags=("agg",))
def argmax_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax/argmin) aggregate surface: per nation,
    WHICH customer holds the extreme balance — the "value at the
    extremum" aggregate that otherwise costs a window-rank pass or a
    self-join back to the max. One hash-agg, map-side combinable.
    Both engines leave argmax ties engine-defined, so the ordering
    key is a composite integer (cents·10⁷ + custkey, strictly monotone
    in (balance, key)) that makes the winner unique by construction.
    """
    c = read_table(spark, sf_dir, "customer")
    ordk = (
        F.round(F.col("c_acctbal") * 100).cast("bigint") * F.lit(10000000)
        + F.col("c_custkey")
    )
    return c.groupBy("c_nationkey").agg(
        F.max_by("c_name", ordk).alias("richest_customer"),
        F.min_by("c_name", ordk).alias("poorest_customer"),
        F.max("c_acctbal").alias("max_bal"),
        F.min("c_acctbal").alias("min_bal"),
    )


# ---------------------------------------------------------------------------
# Bayesian-smoothed (IMDB-style) brand price leaderboard
# ---------------------------------------------------------------------------

_BAYES_M = 25

_BAYES_ORACLE = f"""
WITH prior AS (
  SELECT {sql_davg("p_retailprice")} AS c FROM part
),
per_brand AS (
  SELECT p_brand, COUNT(*) AS n,
         {sql_dsum("p_retailprice")} AS s
  FROM part GROUP BY p_brand
)
SELECT p_brand, CAST(n AS BIGINT) AS n_parts,
       ROUND(s / n, 6) AS raw_mean,
       ROUND((s + {_BAYES_M} * prior.c) / (n + {_BAYES_M}), 6)
         AS smoothed_mean
FROM per_brand, prior
"""


@register("bayesian_smoothed_rating", oracle=_BAYES_ORACLE, tags=("agg", "stats"))
def bayesian_smoothed_rating(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian-smoothed group means (the IMDB top-250 formula):
    per-brand average retail price shrunk toward the global prior by
    pseudo-count m={M} — the leaderboard correction that stops a
    2-item group from topping the chart. smoothed = (Σx + m·prior) /
    (n + m), algebraically identical to the weighted form but
    computed from the exact-decimal sufficient statistics (sums and
    counts), so both engines evaluate identical doubles; divisions
    ROUND 6. One hash-agg pass + a 1-row broadcast prior.
    """
    p = read_table(spark, sf_dir, "part")
    dec = F.col("p_retailprice").cast("decimal(18,6)")
    prior = p.agg(
        (F.sum(dec).cast("double") / F.count("p_retailprice")).alias("c")
    )
    per_brand = p.groupBy("p_brand").agg(
        F.count("*").alias("n"), F.sum(dec).cast("double").alias("s")
    )
    return per_brand.crossJoin(F.broadcast(prior)).select(
        "p_brand",
        F.col("n").alias("n_parts"),
        F.round(F.col("s") / F.col("n"), 6).alias("raw_mean"),
        F.round(
            (F.col("s") + F.lit(_BAYES_M) * F.col("c"))
            / (F.col("n") + F.lit(_BAYES_M)),
            6,
        ).alias("smoothed_mean"),
    )


# ---------------------------------------------------------------------------
# l-diversity privacy audit
# ---------------------------------------------------------------------------

_L_DIVERSITY = 3

_L_DIV_ORACLE = f"""
SELECT c_nationkey,
       CAST(FLOOR(c_acctbal / 2000) AS INTEGER) AS bal_band,
       CAST(COUNT(*) AS BIGINT) AS group_size,
       CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_sensitive,
       COUNT(DISTINCT c_mktsegment) >= {_L_DIVERSITY} AS l_diverse
FROM customer
GROUP BY 1, 2
"""


@register("l_diversity_check", oracle=_L_DIV_ORACLE, tags=("agg", "validate"))
def l_diversity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — k_anonymity_check's stronger sibling: a
    quasi-identifier group (nation × balance band) can be large yet
    still leak if every member shares the SENSITIVE attribute, so the
    gate is distinct-sensitive-values ≥ l (market segment, l={L}),
    not group size. Groups failing it need suppression or
    generalization before release/training. Same scale shape as
    k-anonymity: one hash-agg keyed by the QI tuple with a
    COUNT(DISTINCT) over the bounded sensitive domain; output is QI-
    domain-sized, constant in row count.
    """
    c = read_table(spark, sf_dir, "customer")
    return (
        c.groupBy(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 2000).cast("int").alias("bal_band"),
        )
        .agg(
            F.count("*").alias("group_size"),
            F.count_distinct("c_mktsegment").alias("n_sensitive"),
        )
        .select(
            "c_nationkey",
            "bal_band",
            "group_size",
            "n_sensitive",
            (F.col("n_sensitive") >= _L_DIVERSITY).alias("l_diverse"),
        )
    )


# ---------------------------------------------------------------------------
# Join cardinality from per-key histograms (planner-statistics surface)
# ---------------------------------------------------------------------------

_JOINSIZE_ORACLE = """
WITH ha AS (
  SELECT o_custkey AS k, COUNT(*) AS ca FROM orders GROUP BY 1
),
hb AS (
  SELECT c_custkey AS k, COUNT(*) AS cb FROM customer GROUP BY 1
),
pred AS (
  SELECT SUM(ca * cb) AS predicted FROM ha JOIN hb USING (k)
),
act AS (
  SELECT COUNT(*) AS actual
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT CAST(pred.predicted AS BIGINT) AS predicted_rows,
       CAST(act.actual AS BIGINT) AS actual_rows,
       pred.predicted = act.actual AS histogram_exact
FROM pred, act
"""


@register(
    "join_size_from_histograms", oracle=_JOINSIZE_ORACLE, tags=("scale", "stats")
)
def join_size_from_histograms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join cardinality predicted from per-key frequency
    histograms — Σₖ count_A(k)·count_B(k), the exact formula a
    cost-based planner approximates with bucketized histograms — next
    to the executed join's actual count. On full (unbucketized)
    histograms the prediction is exact, which the boolean asserts;
    production planners trade that exactness for O(buckets) stats,
    and this query is the shape that calibrates how much a given
    bucketization gives up. The prediction path never executes the
    join: two map-combined per-key aggs and a key-grain product-sum —
    at 100 TB that is the difference between estimating a blowup and
    suffering one.
    """
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    ha = o.groupBy(F.col("o_custkey").alias("k")).agg(F.count("*").alias("ca"))
    hb = c.groupBy(F.col("c_custkey").alias("k")).agg(F.count("*").alias("cb"))
    pred = ha.join(hb, "k").agg(
        F.sum(F.col("ca") * F.col("cb")).alias("predicted")
    )
    act = o.join(c, o["o_custkey"] == c["c_custkey"]).agg(
        F.count("*").alias("actual")
    )
    return pred.crossJoin(F.broadcast(act)).select(
        F.col("predicted").cast("bigint").alias("predicted_rows"),
        F.col("actual").cast("bigint").alias("actual_rows"),
        (F.col("predicted") == F.col("actual")).alias("histogram_exact"),
    )


# ---------------------------------------------------------------------------
# Market concentration: HHI + CR4 of supplier revenue
# ---------------------------------------------------------------------------

_HHI_ORACLE = f"""
WITH rev AS (
  SELECT l_suppkey, {sql_dsum("l_extendedprice")} AS r FROM lineitem GROUP BY 1
),
tot AS (SELECT {sql_dsum("l_extendedprice")} AS t FROM lineitem),
shares AS (
  SELECT ROUND(r / tot.t, 6) AS s,
         ROW_NUMBER() OVER (ORDER BY r DESC, l_suppkey) AS rnk
  FROM rev, tot
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(SUM(CAST(ROUND(s * s, 6) AS DECIMAL(18,6))) AS DOUBLE) AS hhi,
       CAST(SUM(CASE WHEN rnk <= 4 THEN CAST(s AS DECIMAL(18,6))
                     ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS cr4
FROM shares
"""


@register("market_concentration_hhi", oracle=_HHI_ORACLE, tags=("agg", "stats"))
def market_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration indices over supplier revenue: the
    Herfindahl–Hirschman index (Σ share², the antitrust-standard
    0→1/n..1 scale) and CR4 (top-4 concentration ratio) — the
    dependency-risk numbers a supply-chain dashboard tracks. Shares
    are exact-decimal revenue ratios ROUND-6 BEFORE squaring/summing
    (shared 6dp inputs → identical products), per-term decimal sums
    for order independence. One fact-grain hash-agg + a supplier-grain
    rank window; everything after runs on |suppliers| rows.
    """
    li = read_table(spark, sf_dir, "lineitem")
    dec = F.col("l_extendedprice").cast("decimal(18,6)")
    rev = li.groupBy("l_suppkey").agg(F.sum(dec).cast("double").alias("r"))
    tot = li.agg(F.sum(dec).cast("double").alias("t"))
    w = Window.partitionBy(F.lit(1)).orderBy(F.col("r").desc(), "l_suppkey")
    shares = rev.crossJoin(F.broadcast(tot)).select(
        F.round(F.col("r") / F.col("t"), 6).alias("s"),
        F.row_number().over(w).alias("rnk"),
    )
    return shares.agg(
        F.count("*").alias("n_suppliers"),
        F.sum(F.round(F.col("s") * F.col("s"), 6).cast("decimal(18,6)"))
        .cast("double")
        .alias("hhi"),
        F.sum(
            F.when(F.col("rnk") <= 4, F.col("s").cast("decimal(18,6)")).otherwise(
                F.lit(0).cast("decimal(18,6)")
            )
        )
        .cast("double")
        .alias("cr4"),
    )


# ---------------------------------------------------------------------------
# Hierarchical share-of-parent rollup
# ---------------------------------------------------------------------------

_SHARE_PARENT_ORACLE = """
WITH nrev AS (
  SELECT n.n_regionkey AS region, s.s_nationkey AS nation,
         SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS rev_dec
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  GROUP BY 1, 2
)
SELECT region, nation, CAST(rev_dec AS DOUBLE) AS revenue,
       ROUND(CAST(rev_dec AS DOUBLE)
             / CAST(SUM(rev_dec) OVER (PARTITION BY region) AS DOUBLE), 6)
         AS pct_of_region,
       ROUND(CAST(rev_dec AS DOUBLE)
             / CAST(SUM(rev_dec) OVER () AS DOUBLE), 6) AS pct_of_total
FROM nrev
"""


@register("share_of_parent_rollup", oracle=_SHARE_PARENT_ORACLE, tags=("agg", "window"))
def share_of_parent_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical percent-of-parent: each nation's supplier revenue
    as a share of its region and of the world — the two-level drill
    ratio every hierarchy report renders (and the windowed alternative
    to joining three separately-aggregated grains). Revenue is the
    exact decimal sum (identical cross-engine), so the two window
    totals sum the SAME doubles in decimal on both sides; shares are
    ROUND 6. Both windows run on the nation-grain aggregate (≤25
    rows), after the single fact-side hash-agg.
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice"
    )
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    dec = F.col("l_extendedprice").cast("decimal(18,6)")
    nrev = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .groupBy(
            F.col("n_regionkey").alias("region"),
            F.col("s_nationkey").alias("nation"),
        )
        .agg(F.sum(dec).alias("rev_dec"))
    )
    w_region = Window.partitionBy("region")
    w_all = Window.partitionBy(F.lit(1))
    return nrev.select(
        "region",
        "nation",
        F.col("rev_dec").cast("double").alias("revenue"),
        F.round(
            F.col("rev_dec").cast("double")
            / F.sum("rev_dec").over(w_region).cast("double"),
            6,
        ).alias("pct_of_region"),
        F.round(
            F.col("rev_dec").cast("double")
            / F.sum("rev_dec").over(w_all).cast("double"),
            6,
        ).alias("pct_of_total"),
    )


# ---------------------------------------------------------------------------
# LISTAGG (SQL:2016 ordered string aggregation)
# ---------------------------------------------------------------------------

_LISTAGG_ORACLE = """
WITH agg AS (
  SELECT c_nationkey,
         string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment)
           AS segments_csv
  FROM customer GROUP BY c_nationkey
)
SELECT c_nationkey, segments_csv,
       CAST(len(string_split(segments_csv, ',')) AS BIGINT) AS n_segments
FROM agg
"""


@register("listagg_surface", oracle=_LISTAGG_ORACLE, tags=("agg", "sql"))
def listagg_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG — the SQL:2016 ordered string aggregation, new in
    Spark 4 — distinct market segments per nation as one
    deterministic CSV cell (DISTINCT + WITHIN GROUP ORDER BY make the
    cell reproducible; an unordered listagg is a flaky-test factory).
    The engine's previous spelling of this shape
    (``concat_ws(array_sort(collect_set(...)))``, collect_sorted_list)
    stays registered; this row pins that the standard surface agrees
    with it and with DuckDB's string_agg. One hash-agg; the cell size
    is bounded by the segment domain, not row count.
    """
    c = read_table(spark, sf_dir, "customer")
    c.createOrReplaceTempView("listagg_customer")
    # n_segments is derived from the cell in an OUTER select (both
    # engines): mixing listagg(DISTINCT) with COUNT(DISTINCT) in one
    # aggregate trips a Spark 4.1 ListAgg.withNewChildrenInternal
    # ClassCastException when RewriteDistinctAggregates transforms the
    # plan — worked around, not worked on, since the derived count is
    # equivalent.
    return spark.sql(
        """
        WITH agg AS (
          SELECT c_nationkey,
                 listagg(DISTINCT c_mktsegment, ',')
                   WITHIN GROUP (ORDER BY c_mktsegment) AS segments_csv
          FROM listagg_customer GROUP BY c_nationkey
        )
        SELECT c_nationkey, segments_csv,
               CAST(size(split(segments_csv, ',')) AS BIGINT) AS n_segments
        FROM agg
        """
    )


# ---------------------------------------------------------------------------
# GROUP BY ALL / ORDER BY ALL (analyst-ergonomics surface)
# ---------------------------------------------------------------------------

_GROUP_BY_ALL_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ALL
ORDER BY ALL
"""


@register("group_by_all_surface", oracle=_GROUP_BY_ALL_ORACLE, tags=("agg", "sql"))
def group_by_all_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL + ORDER BY ALL — the analyst-ergonomics syntax
    (group on every non-aggregate select item) DuckDB popularized and
    Spark 4 adopted; this row pins that both engines infer the SAME
    grouping keys for a mixed select list. Semantically identical to
    the explicit pricing_summary-style aggregate: one map-combined
    hash-agg, exact decimal sum convention.
    """
    li = read_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("gba_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
        FROM gba_lineitem
        GROUP BY ALL
        ORDER BY ALL
        """
    )


# ---------------------------------------------------------------------------
# Bitmap-aggregate distinct counting (Spark 4 bitmap functions)
# ---------------------------------------------------------------------------

_BITMAP_ORACLE = """
SELECT c_nationkey,
       CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_distinct_bitmap,
       CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_distinct_exact,
       TRUE AS bitmap_exact
FROM customer GROUP BY c_nationkey
"""


@register("bitmap_distinct_counts", oracle=_BITMAP_ORACLE, tags=("agg", "sketch"))
def bitmap_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via Spark 4's bitmap aggregates:
    bucket keys with bitmap_bucket_number, OR the per-bucket position
    bitmaps with bitmap_construct_agg, sum bitmap_count over buckets —
    the roaring-bitmap pattern warehouses use to make COUNT DISTINCT
    cheap AND mergeable (pre-aggregated per day/segment, bitmaps OR
    together losslessly — HLL's mergeability with none of its error;
    the cost is bitmap storage bounded by the key domain). The result
    must EQUAL plain COUNT(DISTINCT), asserted row-wise; the oracle
    (no bitmap functions in DuckDB) states exactly that identity.
    Two-level hash-agg, both map-combinable.
    """
    c = read_table(spark, sf_dir, "customer")
    c.createOrReplaceTempView("bitmap_customer")
    return spark.sql(
        """
        WITH buckets AS (
          SELECT c_nationkey,
                 bitmap_bucket_number(c_custkey) AS bucket,
                 bitmap_construct_agg(bitmap_bit_position(c_custkey)) AS bm
          FROM bitmap_customer
          GROUP BY c_nationkey, bitmap_bucket_number(c_custkey)
        ),
        summed AS (
          SELECT c_nationkey,
                 CAST(SUM(bitmap_count(bm)) AS BIGINT) AS n_distinct_bitmap
          FROM buckets GROUP BY c_nationkey
        ),
        exact AS (
          SELECT c_nationkey,
                 CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_distinct_exact
          FROM bitmap_customer GROUP BY c_nationkey
        )
        SELECT s.c_nationkey, s.n_distinct_bitmap, e.n_distinct_exact,
               s.n_distinct_bitmap = e.n_distinct_exact AS bitmap_exact
        FROM summed s JOIN exact e ON s.c_nationkey = e.c_nationkey
        """
    )


# ---------------------------------------------------------------------------
# Time-interval RANGE window frame (SQL surface)
# ---------------------------------------------------------------------------

_RANGE_FRAME_SQL = """
SELECT o_custkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER
         (PARTITION BY o_custkey ORDER BY o_orderdate
          RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)
         AS DOUBLE) AS rev_7d,
       CAST(COUNT(*) OVER
         (PARTITION BY o_custkey ORDER BY o_orderdate
          RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)
         AS BIGINT) AS n_7d
FROM {orders}
"""


@register(
    "range_interval_frame",
    oracle=_RANGE_FRAME_SQL.format(orders="orders"),
    tags=("window", "sql"),
)
def range_interval_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame bounded by a calendar INTERVAL — trailing
    7-day revenue and order count per customer, anchored on the ORDER
    BY timestamp's VALUE rather than a row offset. This is the frame
    `rows_between` cannot express when events are irregularly spaced
    (a 3-rows-preceding frame is 3 orders, not 7 days), and the SQL
    surface the DataFrame API lacks (rangeBetween takes longs, not
    intervals — the engine's other spelling casts to epoch seconds).
    RANGE frames include value-peers, so duplicate timestamps
    aggregate identically regardless of physical row order —
    deterministic by construction. Decimal window sums keep the money
    column exact. One shuffle on the partition key; the frame itself
    is evaluated with a sliding two-pointer over each sorted
    partition, O(rows) not O(rows × frame).
    """
    o = read_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("range_frame_orders")
    return spark.sql(_RANGE_FRAME_SQL.format(orders="range_frame_orders"))


# ---------------------------------------------------------------------------
# Bloom-filter runtime pruning (build + false-positive-rate audit)
# ---------------------------------------------------------------------------

_BLOOM_BITS = 4096        # m: filter size in bits

_BLOOM_BAL = 9000         # member predicate: c_acctbal > threshold


def _hexfold_sql(hx: str, start: int, n: int) -> str:
    """DuckDB spelling of Spark ``conv(substring(hx, start, n), 16, 10)``
    (DuckDB has no conv): left fold acc·16+nibble over n hex digits —
    the same overflow-free pattern as checksum_table."""
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(generate_series({start}, {start + n - 1}), "
        f"i -> CAST(strpos('0123456789abcdef', substr({hx}, i, 1)) - 1 "
        "AS BIGINT))), (a, b) -> a * 16 + b)"
    )


_BLOOM_BUILD_SQL = f"""
  SELECT word_idx, CAST(bit_or(CAST(1 AS BIGINT) << bit_pos) AS BIGINT) AS bits
  FROM (
    SELECT p // 8 AS word_idx, p % 8 AS bit_pos
    FROM (
      SELECT unnest([
        {_hexfold_sql('hx', 1, 8)} % {_BLOOM_BITS},
        {_hexfold_sql('hx', 9, 8)} % {_BLOOM_BITS}
      ]) AS p
      FROM (
        SELECT md5(CAST(c_custkey AS VARCHAR)) AS hx
        FROM customer WHERE c_acctbal > {_BLOOM_BAL}
      )
    )
  )
  GROUP BY word_idx
"""

_BLOOM_WORDS_ORACLE = f"""
SELECT CAST(word_idx AS INTEGER) AS word_idx, bits
FROM ({_BLOOM_BUILD_SQL})
"""


def _bloom_positions(key):
    """Two bloom bit positions for a key column: independent 32-bit
    slices of one md5, reduced mod m — Spark side of _hexfold_sql."""
    hx = F.md5(key.cast("string"))
    p1 = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long") % _BLOOM_BITS
    p2 = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long") % _BLOOM_BITS
    return p1, p2


def _bloom_words_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal") > _BLOOM_BAL
    )
    p1, p2 = _bloom_positions(F.col("c_custkey"))
    pos = c.select(F.explode(F.array(p1, p2)).alias("p"))
    return (
        pos.select(
            (F.col("p") / 8).cast("long").alias("word_idx"),
            (F.col("p") % 8).alias("bit_pos"),
        )
        .groupBy("word_idx")
        .agg(
            # F.shiftleft takes a python-int bit count; a column-valued
            # shift needs the SQL spelling.
            F.bit_or(
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), CAST(bit_pos AS INT))"
                )
            )
            .cast("bigint")
            .alias("bits")
        )
    )


@register(
    "bloom_filter_words", oracle=_BLOOM_WORDS_ORACLE, tags=("agg", "scale")
)
def bloom_filter_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter BUILD over the high-balance customer keys (k=2
    hash functions = two independent 32-bit slices of one md5, m=4096
    bits stored as 8-bit words via bit_or — 8-bit words keep every
    shift far from BIGINT sign overflow on both engines). This is the
    runtime-filter structure a 100 TB engine ships to the fact-table
    scan to prune a semi join BEFORE the shuffle (Spark's own
    spark.sql.optimizer.runtimeFilter.* does exactly this internally);
    building it as one hash-agg over the dim side costs one tiny scan,
    and the result is a ≤512-row broadcast. Audit companion:
    ``bloom_semi_join_fpr`` measures its false-positive rate against
    ground truth. m is sized for the bench SF; production sizes m from
    the dim NDV (bits ≈ 1.44·k·ndv for a target FPR).
    """
    return _bloom_words_df(spark, sf_dir).select(
        F.col("word_idx").cast("int").alias("word_idx"), "bits"
    )


_BLOOM_FPR_ORACLE = f"""
WITH words AS ({_BLOOM_BUILD_SQL}),
members AS (
  SELECT DISTINCT c_custkey FROM customer WHERE c_acctbal > {_BLOOM_BAL}
),
probes AS (
  SELECT DISTINCT o_custkey AS k FROM orders
),
probed AS (
  SELECT p.k,
         EXISTS (SELECT 1 FROM members m WHERE m.c_custkey = p.k)
           AS is_member,
         COALESCE(w1.bits >> (p1 % 8) & 1, 0) = 1
           AND COALESCE(w2.bits >> (p2 % 8) & 1, 0) = 1 AS bloom_pass
  FROM (
    SELECT k,
           {_hexfold_sql('hx', 1, 8)} % {_BLOOM_BITS} AS p1,
           {_hexfold_sql('hx', 9, 8)} % {_BLOOM_BITS} AS p2
    FROM (SELECT k, md5(CAST(k AS VARCHAR)) AS hx FROM probes)
  ) p
  LEFT JOIN words w1 ON w1.word_idx = p.p1 // 8
  LEFT JOIN words w2 ON w2.word_idx = p.p2 // 8
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
       CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
         AS n_members,
       CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pass,
       CAST(SUM(CASE WHEN bloom_pass AND NOT is_member THEN 1 ELSE 0 END)
         AS BIGINT) AS n_false_pos,
       ROUND(SUM(CASE WHEN bloom_pass AND NOT is_member THEN 1 ELSE 0 END)
             * 1.0
             / NULLIF(COUNT(*) - SUM(CASE WHEN is_member THEN 1 ELSE 0 END),
                      0), 6) AS fpr
FROM probed
"""


@register(
    "bloom_semi_join_fpr", oracle=_BLOOM_FPR_ORACLE, tags=("agg", "scale")
)
def bloom_semi_join_fpr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join PRUNING AUDIT: probe every distinct
    orders.o_custkey against the ``bloom_filter_words`` filter and
    grade the pass set against true membership — n_pass is the rows a
    bloom-pruned scan would keep, n_false_pos / (non-members) is the
    measured FPR. True members can never fail (both their bits are
    set by construction), so the filter is provably safe to push below
    the join; the FPR is pure wasted-shuffle overhead, the number that
    decides whether shipping the filter pays at 100 TB. Probe-side
    cost: one md5 + two broadcast word lookups per DISTINCT key —
    scan-side, no shuffle of the fact table.
    """
    words = _bloom_words_df(spark, sf_dir)
    members = (
        read_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > _BLOOM_BAL)
        .select(F.col("c_custkey").alias("k"))
        .distinct()
        .withColumn("is_member", F.lit(True))
    )
    probes = (
        read_table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    p1, p2 = _bloom_positions(F.col("k"))
    probed = probes.select("k", p1.alias("p1"), p2.alias("p2"))
    w1 = words.select(
        F.col("word_idx").alias("w1_idx"), F.col("bits").alias("bits1")
    )
    w2 = words.select(
        F.col("word_idx").alias("w2_idx"), F.col("bits").alias("bits2")
    )
    joined = (
        probed.join(
            F.broadcast(w1),
            (F.col("p1") / 8).cast("long") == F.col("w1_idx"),
            "left",
        )
        .join(
            F.broadcast(w2),
            (F.col("p2") / 8).cast("long") == F.col("w2_idx"),
            "left",
        )
        .join(F.broadcast(members), "k", "left")
        .select(
            F.coalesce("is_member", F.lit(False)).alias("is_member"),
            (
                F.expr(
                    "shiftright(coalesce(bits1, CAST(0 AS BIGINT)), "
                    "CAST(p1 % 8 AS INT)) & 1 = 1"
                )
                & F.expr(
                    "shiftright(coalesce(bits2, CAST(0 AS BIGINT)), "
                    "CAST(p2 % 8 AS INT)) & 1 = 1"
                )
            ).alias("bloom_pass"),
        )
    )
    n_nonmember = F.count("*") - F.sum(
        F.when(F.col("is_member"), 1).otherwise(0)
    )
    fp = F.sum(
        F.when(F.col("bloom_pass") & ~F.col("is_member"), 1).otherwise(0)
    )
    return joined.agg(
        F.count("*").cast("bigint").alias("n_probes"),
        F.sum(F.when(F.col("is_member"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_members"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_pass"),
        fp.cast("bigint").alias("n_false_pos"),
        F.round(
            fp * 1.0 / F.nullif(n_nonmember, F.lit(0)), 6
        ).alias("fpr"),
    )


# ---------------------------------------------------------------------------
# Dictionary-encoding layout planner (per-column NDV/size audit)
# ---------------------------------------------------------------------------

_DICT_PLAN_ORACLE = """
WITH unp AS (
  SELECT 'p_brand' AS col, p_brand AS v FROM part
  UNION ALL SELECT 'p_type', p_type FROM part
  UNION ALL SELECT 'p_name', p_name FROM part
),
per_val AS (
  SELECT col, v, COUNT(*) AS c, LENGTH(v) AS len FROM unp GROUP BY col, v
)
SELECT col,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS ndv,
       ROUND(MAX(c) * 1.0 / SUM(c), 6) AS top_share,
       CAST(SUM(c * len) AS BIGINT) AS plain_bytes,
       CAST(SUM(len) + 2 * SUM(c) AS BIGINT) AS dict_bytes,
       SUM(len) + 2 * SUM(c) < SUM(c * len) AS dict_recommended
FROM per_val
GROUP BY col
"""


@register(
    "dictionary_encoding_planner",
    oracle=_DICT_PLAN_ORACLE,
    tags=("layout", "scale"),
)
def dictionary_encoding_planner(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dictionary-encoding planner for string columns: per column, the
    NDV, the heaviest value's share, and the estimated plain vs
    dictionary-encoded byte footprint (distinct-value bytes + 2-byte
    codes) — the decision input a columnar writer uses to pick
    encodings (parquet falls back to plain when the dictionary page
    overflows; knowing NDV up front avoids the mid-write fallback).
    p_brand (25 values) recommends dict, p_name (near-unique) does
    not — the planner demonstrably discriminates. One stack unpivot
    into a (col, value)-grain hash-agg, then a column-grain rollup:
    both map-side combinable, cost independent of which columns win.
    """
    p = read_table(spark, sf_dir, "part")
    unp = p.select(
        F.expr(
            "stack(3, 'p_brand', p_brand, 'p_type', p_type, "
            "'p_name', p_name) AS (col, v)"
        )
    )
    per_val = unp.groupBy("col", "v").agg(F.count("*").alias("c")).select(
        "col", "v", "c", F.length("v").alias("len")
    )
    return per_val.groupBy("col").agg(
        F.sum("c").cast("bigint").alias("n_rows"),
        F.count("*").cast("bigint").alias("ndv"),
        F.round(F.max("c") * 1.0 / F.sum("c"), 6).alias("top_share"),
        F.sum(F.col("c") * F.col("len")).cast("bigint").alias("plain_bytes"),
        (F.sum("len") + 2 * F.sum("c")).cast("bigint").alias("dict_bytes"),
        ((F.sum("len") + 2 * F.sum("c")) < F.sum(F.col("c") * F.col("len")))
        .alias("dict_recommended"),
    )


# ---------------------------------------------------------------------------
# Histogram strategy comparison (equi-width vs equi-depth)
# ---------------------------------------------------------------------------

_HIST_CMP_ORACLE = """
WITH v AS (SELECT o_totalprice AS x FROM orders),
stats AS (
  SELECT MIN(x) AS lo, MAX(x) AS hi, COUNT(*) AS n FROM v
),
cuts AS (
  SELECT list(q ORDER BY q) AS qs
  FROM (SELECT unnest(quantile_disc(x,
         [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9])) AS q FROM v)
),
binned AS (
  SELECT 'equi_width' AS strategy,
         LEAST(CAST(FLOOR((x - s.lo) * 10.0 / NULLIF(s.hi - s.lo, 0))
                    AS INTEGER), 9) AS bin
  FROM v, stats s
  UNION ALL
  SELECT 'equi_depth',
         CAST(len(list_filter(c.qs, q -> x > q)) AS INTEGER)
  FROM v, cuts c
),
per_bin AS (
  SELECT strategy, bin, COUNT(*) AS c FROM binned GROUP BY strategy, bin
),
with_tot AS (
  SELECT strategy, c,
         SUM(c) OVER (PARTITION BY strategy) AS tot
  FROM per_bin
)
SELECT strategy,
       CAST(COUNT(*) AS BIGINT) AS nonempty_bins,
       ROUND(MAX(c) * 1.0 / MAX(tot), 6) AS max_bin_share,
       ROUND(CAST(SUM((10 * c - tot) * (10 * c - tot)) AS DOUBLE)
             / 100.0 / NULLIF(MAX(tot), 0), 6) AS uniformity_chi2_over_n
FROM with_tot
GROUP BY strategy
"""


@register(
    "histogram_strategy_compare",
    oracle=_HIST_CMP_ORACLE,
    tags=("layout", "agg"),
)
def histogram_strategy_compare(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Equi-width vs equi-depth 10-bin histograms of order value, side
    by side — the statistics-collection decision every optimizer and
    range-layout planner faces: equi-width is one scan but skew packs
    most rows into few bins (high max_bin_share / chi²); equi-depth
    costs a rank pass but flattens shares by construction (its chi²
    deviations come only from duplicate boundary values). Width bins
    use (x−lo)·10/(hi−lo) on engine-identical doubles; depth bins fold
    the broadcast decile ORDER STATISTICS per row, the
    `range_partition_boundaries` pattern. Output is two summary rows —
    the grain is (strategy, bin) throughout.
    """
    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("x")
    )
    stats = o.agg(
        F.min("x").alias("lo"), F.max("x").alias("hi")
    )
    # ONE percentile_disc buffer for all nine deciles (the array form):
    # nine scalar percentile_disc aggs each materialize their own full
    # value buffer — same fix as quantile_sample_error,
    # measured 2.94 s → 0.94 s cold at sf0.1 for this query.
    qs_lit = "array(" + ", ".join(f"{q / 10}D" for q in range(1, 10)) + ")"
    cuts = o.agg(
        F.expr(
            f"percentile_disc({qs_lit}) WITHIN GROUP (ORDER BY x)"
        ).alias("qs")
    )
    width = o.crossJoin(F.broadcast(stats)).select(
        F.lit("equi_width").alias("strategy"),
        F.least(
            F.floor(
                (F.col("x") - F.col("lo"))
                * 10.0
                / F.nullif(F.col("hi") - F.col("lo"), F.lit(0.0))
            ).cast("int"),
            F.lit(9),
        ).alias("bin"),
    )
    depth = o.crossJoin(F.broadcast(cuts)).select(
        F.lit("equi_depth").alias("strategy"),
        F.aggregate(
            "qs",
            F.lit(0),
            lambda acc, q: acc + F.when(F.col("x") > q, 1).otherwise(0),
        )
        .cast("int")
        .alias("bin"),
    )
    per_bin = (
        width.unionByName(depth)
        .groupBy("strategy", "bin")
        .agg(F.count("*").alias("c"))
    )
    # chi²/n restated in EXACT integers: Σ(c − tot/10)² = Σ(10c−tot)²
    # /100 — a float sum of ≤10 arbitrary doubles would be
    # order-dependent across engines; the integer form is not.
    with_tot = per_bin.withColumn(
        "tot", F.sum("c").over(Window.partitionBy("strategy"))
    )
    dev = (10 * F.col("c") - F.col("tot")) * (
        10 * F.col("c") - F.col("tot")
    )
    return with_tot.groupBy("strategy").agg(
        F.count("*").cast("bigint").alias("nonempty_bins"),
        F.round(F.max("c") * 1.0 / F.max("tot"), 6).alias("max_bin_share"),
        F.round(
            F.sum(dev).cast("double")
            / 100.0
            / F.nullif(F.max("tot"), F.lit(0)),
            6,
        ).alias("uniformity_chi2_over_n"),
    )


_NB = 256  # buckets per dimension (8 bits)

_NFILES = 64  # files per layout (6 bits)

_EPOCH = "1990-01-01"

# Probe windows in bucket coordinates: (name, x_lo, x_hi, y_lo, y_hi),
# both 32×32 = 1/64 of the grid. "aligned" sits on a 32-multiple (one
# contiguous Morton segment); "unaligned" straddles boundaries.
_PROBES = (
    ("aligned_32x32", 96, 127, 96, 127),
    ("unaligned_32x32", 100, 131, 90, 121),
)


def _sql_morton(qx: str, qy: str) -> str:
    terms = []
    for i in range(8):
        terms.append(f"(({qx} // {2 ** i}) % 2) * {2 ** (2 * i + 1)}")
        terms.append(f"(({qy} // {2 ** i}) % 2) * {2 ** (2 * i)}")
    return "(" + " + ".join(terms) + ")"


_PROBES_SQL = " UNION ALL ".join(
    f"SELECT '{n}' AS probe, {xl} AS x_lo, {xh} AS x_hi,"
    f" {yl} AS y_lo, {yh} AS y_hi"
    for n, xl, xh, yl, yh in _PROBES
)

_ZORDER_SKIP_ORACLE = f"""
WITH src AS (
  SELECT o_totalprice AS x,
         CAST(datediff('day', DATE '{_EPOCH}', o_orderdate) AS DOUBLE) AS y
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
), stats AS (
  SELECT MIN(x) AS xlo, MAX(x) AS xhi, MIN(y) AS ylo, MAX(y) AS yhi
  FROM src
), cells AS (
  SELECT
    CAST(LEAST(FLOOR((x - xlo) * {_NB} / (xhi - xlo)), {_NB - 1}) AS BIGINT)
      AS qx,
    CAST(LEAST(FLOOR((y - ylo) * {_NB} / (yhi - ylo)), {_NB - 1}) AS BIGINT)
      AS qy,
    COUNT(*) AS n
  FROM src CROSS JOIN stats
  GROUP BY 1, 2
), filed AS (
  SELECT qx, qy, n,
         qx // {_NB // _NFILES} AS file_lin,
         {_sql_morton("qx", "qy")} // {_NB * _NB // _NFILES} AS file_z
  FROM cells
), long AS (
  SELECT 'linear' AS layout, file_lin AS file_id, qx, qy, n FROM filed
  UNION ALL
  SELECT 'zorder' AS layout, file_z AS file_id, qx, qy, n FROM filed
), files AS (
  SELECT layout, file_id,
         MIN(qx) AS fx_lo, MAX(qx) AS fx_hi,
         MIN(qy) AS fy_lo, MAX(qy) AS fy_hi,
         SUM(n) AS rows_in_file
  FROM long GROUP BY layout, file_id
), probes AS ({_PROBES_SQL}
), hit AS (
  SELECT f.layout, p.probe,
         CAST(COUNT(*) AS BIGINT) AS n_files_hit,
         CAST(SUM(f.rows_in_file) AS BIGINT) AS rows_scanned
  FROM files f JOIN probes p
    ON f.fx_lo <= p.x_hi AND f.fx_hi >= p.x_lo
   AND f.fy_lo <= p.y_hi AND f.fy_hi >= p.y_lo
  GROUP BY f.layout, p.probe
), matched AS (
  SELECT p.probe, CAST(SUM(c.n) AS BIGINT) AS rows_matched
  FROM cells c JOIN probes p
    ON c.qx BETWEEN p.x_lo AND p.x_hi
   AND c.qy BETWEEN p.y_lo AND p.y_hi
  GROUP BY p.probe
)
SELECT h.layout, h.probe, h.n_files_hit, h.rows_scanned, m.rows_matched,
       ROUND(CAST(h.rows_scanned AS DOUBLE)
             / NULLIF(CAST(m.rows_matched AS DOUBLE), 0.0), 6)
         AS scan_amplification
FROM hit h JOIN matched m USING (probe)
"""


def _morton_col(qx, qy):
    z = F.lit(0).cast("bigint")
    for i in range(8):
        z = (
            z
            + ((qx / F.lit(2 ** i)).cast("bigint") % 2)
            * F.lit(2 ** (2 * i + 1))
            + ((qy / F.lit(2 ** i)).cast("bigint") % 2) * F.lit(2 ** (2 * i))
        )
    return z


# Physical-layout planning — the Z-order audit.
#
# ``zorder_layout_audit`` quantifies the file-skipping power of a
# Z-ORDERED table layout against a linear single-key sort — the
# decision behind ``OPTIMIZE ZORDER BY`` in lakehouse table formats and
# the third member of the engine's write-layout planning family
# (``range_partition_boundaries``: sorted-write split points;
# ``dictionary_encoding_planner``: per-column encoding choice). At
# 100 TB the scan cost of a 2-D selective query is decided before the
# query runs, by how the writer clustered the data; this operator
# measures that decision as min/max-pruning numbers, per layout and
# per probe predicate.
#
# Method: bucket both sort keys (o_totalprice, o_orderdate-days) into
# 256 equi-width buckets from broadcast min/max stats; interleave the
# two 8-bit bucket ids into a 16-bit Morton code (pure integer
# div/mod/multiply — no bit builtins, so the spelling is identical in
# Spark and DuckDB); assign each cell to one of 64 files under each
# layout (linear: top 6 bits of qx; zorder: top 6 bits of z); then for
# each probe window count the files whose min/max box intersects it,
# the rows those files hold (what a min-max-pruned scan must read),
# and the rows that actually match (what the query wanted).
# scan_amplification = scanned/matched is the layout's quality.
#
# The two probes are a 32×32 bucket window (1/64 of the grid) in an
# ALIGNED position (Morton-ideal: the window is one contiguous
# Z-segment → 1 file) and an UNALIGNED position (the honest case: the
# Z-curve fragments across files). Expected shape: linear prunes to
# ~1/8 of files (perfect on its sort key, blind on the other); zorder
# lands 1 file aligned and a handful unaligned, with far lower row
# amplification — the multi-dimensional-clustering trade measured.
#
# Registry conventions (plans/registry.py): bucketing is the broadcast
# min/max floor-divide idiom (identical
# IEEE arithmetic both engines, least-capped at the top edge); Morton
# and file ids are exact integer arithmetic; all outputs are BIGINT
# counts except the final ROUND-6 division of exact integers.
#
# Scale: ONE fact scan → one hash-agg at (qx, qy) cell grain (≤65,536
# cells regardless of table size, map-side combinable); every layout /
# file / probe statistic derives from that bounded cell table. The
# probe tables are broadcast literals. Nothing downstream of the first
# aggregation touches fact-sized data.
@register(
    "zorder_layout_audit",
    oracle=_ZORDER_SKIP_ORACLE,
    tags=("layout", "scale", "plan"),
)
def zorder_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order vs linear-sort file-skipping audit over
    (o_totalprice, o_orderdate): per layout × probe window, the files
    a min/max-pruned scan must read, the rows inside them, the rows
    that actually match, and the resulting scan amplification. See
    the notes above the function for the method and the expected shape.

    Everything derives from ONE cell-grain aggregate (≤256×256 cells
    for any table size): file boxes, hit counts, and exact matched
    rows — the fact table is scanned once and nothing fact-sized is
    ever shuffled. Morton interleave is spelled as integer
    div/mod/multiply identically in both engines; bucketing is the
    broadcast-min/max floor idiom; the only double op is the final
    ROUND-6 division of exact integer counts.
    """
    o = read_table(spark, sf_dir, "orders")
    src = o.filter(
        F.col("o_totalprice").isNotNull() & F.col("o_orderdate").isNotNull()
    ).select(
        F.col("o_totalprice").alias("x"),
        F.datediff(F.col("o_orderdate"), F.lit(_EPOCH).cast("date"))
        .cast("double")
        .alias("y"),
    )
    stats = src.agg(
        F.min("x").alias("xlo"),
        F.max("x").alias("xhi"),
        F.min("y").alias("ylo"),
        F.max("y").alias("yhi"),
    )
    qx = F.least(
        F.floor((F.col("x") - F.col("xlo")) * _NB / (F.col("xhi") - F.col("xlo"))),
        F.lit(_NB - 1),
    ).cast("bigint")
    qy = F.least(
        F.floor((F.col("y") - F.col("ylo")) * _NB / (F.col("yhi") - F.col("ylo"))),
        F.lit(_NB - 1),
    ).cast("bigint")
    cells = (
        src.crossJoin(F.broadcast(stats))
        .select(qx.alias("qx"), qy.alias("qy"))
        .groupBy("qx", "qy")
        .agg(F.count("*").alias("n"))
        .persist()
    )
    filed = cells.select(
        "qx",
        "qy",
        "n",
        (F.col("qx") / F.lit(_NB // _NFILES)).cast("bigint").alias("file_lin"),
        (_morton_col(F.col("qx"), F.col("qy")) / F.lit(_NB * _NB // _NFILES))
        .cast("bigint")
        .alias("file_z"),
    )
    long = filed.select(
        F.expr(
            "stack(2, 'linear', file_lin, 'zorder', file_z) "
            "AS (layout, file_id)"
        ),
        "qx",
        "qy",
        "n",
    )
    files = long.groupBy("layout", "file_id").agg(
        F.min("qx").alias("fx_lo"),
        F.max("qx").alias("fx_hi"),
        F.min("qy").alias("fy_lo"),
        F.max("qy").alias("fy_hi"),
        F.sum("n").alias("rows_in_file"),
    )
    probes = None
    for name, xl, xh, yl, yh in _PROBES:
        row = spark.range(1).select(
            F.lit(name).alias("probe"),
            F.lit(xl).cast("bigint").alias("x_lo"),
            F.lit(xh).cast("bigint").alias("x_hi"),
            F.lit(yl).cast("bigint").alias("y_lo"),
            F.lit(yh).cast("bigint").alias("y_hi"),
        )
        probes = row if probes is None else probes.unionByName(row)
    hit = (
        files.join(
            F.broadcast(probes),
            (F.col("fx_lo") <= F.col("x_hi"))
            & (F.col("fx_hi") >= F.col("x_lo"))
            & (F.col("fy_lo") <= F.col("y_hi"))
            & (F.col("fy_hi") >= F.col("y_lo")),
        )
        .groupBy("layout", "probe")
        .agg(
            F.count("*").cast("bigint").alias("n_files_hit"),
            F.sum("rows_in_file").cast("bigint").alias("rows_scanned"),
        )
    )
    matched = (
        cells.join(
            F.broadcast(probes),
            F.col("qx").between(F.col("x_lo"), F.col("x_hi"))
            & F.col("qy").between(F.col("y_lo"), F.col("y_hi")),
        )
        .groupBy("probe")
        .agg(F.sum("n").cast("bigint").alias("rows_matched"))
    )
    return hit.join(F.broadcast(matched), "probe").select(
        "layout",
        "probe",
        "n_files_hit",
        "rows_scanned",
        "rows_matched",
        F.round(
            F.col("rows_scanned").cast("double")
            / F.nullif(F.col("rows_matched").cast("double"), F.lit(0.0)),
            6,
        ).alias("scan_amplification"),
    )


_DEC = "decimal(18,6)"

_MV_ORACLE = """
WITH base AS (
  SELECT * FROM orders WHERE o_orderkey % 7 <> 0
), inserts AS (
  SELECT * FROM orders WHERE o_orderkey % 7 = 0
), deletes AS (
  SELECT * FROM base WHERE o_orderkey % 5 = 0
), effective AS (
  SELECT * FROM base WHERE o_orderkey % 5 <> 0
  UNION ALL
  SELECT * FROM inserts
)
SELECT o_custkey AS custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS spend
FROM effective
GROUP BY o_custkey
"""


# Incremental materialized-view maintenance:
#
# - ``mv_incremental_agg_parity``: maintain a per-customer aggregate MV
#   (order count + spend) from a BASE snapshot plus a CDC batch of
#   inserts AND deletes using retractable-aggregate algebra — each
#   change row contributes op·value with op ∈ {+1, −1}, the base MV and
#   the delta MV merge by full-outer coalesce-addition, and groups
#   whose maintained count reaches 0 drop out — then return the
#   maintained MV, which the oracle proves equal to recomputing the
#   aggregate from scratch over (base − deletes + inserts). This is the
#   correctness contract of incremental view maintenance in lakehouse
#   pipelines (Delta CDF / Materialized View refresh): at 100 TB you
#   cannot re-aggregate the world per batch; you fold the change stream
#   into the MV and the ONLY acceptable semantics is bit-equality with
#   recomputation. Complements ``snapshot_upsert_latest`` (row-grain
#   keep-latest) with the AGGREGATE-grain retraction algebra, and the
#   streaming family's stream≡batch parity discipline applied to the
#   batch-CDC path.
#
# The CDC batch is synthesized deterministically from orders: rows with
# o_orderkey % 7 == 0 are "new" inserts (excluded from the base), and
# base rows with o_orderkey % 5 == 0 are deleted by the batch — so the
# batch exercises inserts, partial deletes, AND at least the
# possibility of full-group retraction, with every branch identical in
# both engines.
#
# Registry conventions (plans/registry.py): counts are exact BIGINTs
# (sum of ±1); spend sums run in DECIMAL(18,6) on BOTH the base and
# delta paths BEFORE the final double cast, so maintained and
# recomputed results are bit-identical regardless of the order the
# retractions fold in (the dsum order-independence convention).
#
# Scale: the base MV is the standing state (key-grain); the delta agg
# shuffles only the CHANGE BATCH at key grain (map-side combinable);
# the merge is a key-grain outer join of two aggregates. Nothing
# re-touches base fact rows — that is the entire point.
@register(
    "mv_incremental_agg_parity",
    oracle=_MV_ORACLE,
    tags=("agg", "incremental", "scale"),
)
def mv_incremental_agg_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained per-customer MV after folding a CDC batch (inserts +
    deletes) into the base aggregate via retraction algebra — the
    ORACLE recomputes the aggregate from scratch over the effective
    row set, so the driver's hash match IS the proof that incremental
    maintenance ≡ recomputation, group-for-group and bit-for-bit.
    See the notes above the function for the CDC synthesis and the 100 TB
    contract.

    The Spark side deliberately takes the INCREMENTAL path end to
    end: base MV (one key-grain agg over the snapshot), delta MV (one
    key-grain agg over op-signed change rows only), full-outer
    coalesce-merge, zero-count retraction drop. No expression ever
    re-aggregates the effective row set directly — equality with the
    recomputing oracle is earned, not restated.

    Determinism: counts are sums of exact ±1; money folds in
    DECIMAL(18,6) on both paths before the final double cast, so the
    merged sum equals the recomputed sum exactly regardless of fold
    order; a fully-retracted group's zero count drops it on the
    incremental side exactly where recomputation never produces it.
    """
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    base = o.filter(F.col("o_orderkey") % 7 != 0)
    inserts = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_custkey", "o_totalprice", F.lit(1).alias("op")
    )
    deletes = base.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_custkey", "o_totalprice", F.lit(-1).alias("op")
    )
    cdc = inserts.unionByName(deletes)

    mv_base = base.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count("*").cast("bigint").alias("n_b"),
        F.sum(F.col("o_totalprice").cast(_DEC)).alias("s_b"),
    )
    mv_delta = cdc.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum("op").cast("bigint").alias("n_d"),
        F.sum(
            (F.col("op").cast(_DEC) * F.col("o_totalprice").cast(_DEC)).cast(
                _DEC
            )
        ).alias("s_d"),
    )
    zero_dec = F.lit(0).cast(_DEC)
    merged = mv_base.join(mv_delta, "custkey", "full_outer").select(
        "custkey",
        (
            F.coalesce(F.col("n_b"), F.lit(0))
            + F.coalesce(F.col("n_d"), F.lit(0))
        )
        .cast("bigint")
        .alias("n_orders"),
        (
            F.coalesce(F.col("s_b"), zero_dec)
            + F.coalesce(F.col("s_d"), zero_dec)
        )
        .cast(_DEC)
        .alias("spend_dec"),
    )
    return merged.filter(F.col("n_orders") > 0).select(
        "custkey", "n_orders", F.col("spend_dec").cast("double").alias("spend")
    )


# ---------------------------------------------------------------------------
# t-closeness (privacy triad completion)
# ---------------------------------------------------------------------------

_T_CLOSE = 0.2  # standard textbook release threshold

_T_CLOSE_ORACLE = f"""
WITH g AS (
  SELECT c_nationkey,
         CAST(FLOOR(c_acctbal / 2000) AS INTEGER) AS bal_band,
         c_mktsegment, COUNT(*) AS cnt
  FROM customer GROUP BY 1, 2, 3
), gs AS (
  SELECT c_nationkey, bal_band, SUM(cnt) AS n_g FROM g GROUP BY 1, 2
), s AS (
  SELECT c_mktsegment, SUM(cnt) AS cnt_s FROM g GROUP BY 1
), tot AS (
  SELECT SUM(cnt) AS n FROM g
), cell AS (
  SELECT gs.c_nationkey, gs.bal_band, gs.n_g, s.cnt_s, tot.n,
         COALESCE(gg.cnt, 0) AS cnt_gs
  FROM gs CROSS JOIN s CROSS JOIN tot
  LEFT JOIN g gg
    ON gg.c_nationkey = gs.c_nationkey AND gg.bal_band = gs.bal_band
   AND gg.c_mktsegment = s.c_mktsegment
)
SELECT c_nationkey, bal_band,
       CAST(n_g AS BIGINT) AS group_size,
       ROUND(CAST(SUM(ABS(cnt_gs * n - cnt_s * n_g)) AS DOUBLE)
             / (2.0 * n_g * n), 6) AS tvd,
       (CAST(SUM(ABS(cnt_gs * n - cnt_s * n_g)) AS DOUBLE)
        / (2.0 * n_g * n)) <= {_T_CLOSE} AS t_close
FROM cell
GROUP BY c_nationkey, bal_band, n_g, n
"""


@register("t_closeness_check", oracle=_T_CLOSE_ORACLE, tags=("agg", "validate"))
def t_closeness_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit over the same QI groups as k_anonymity_check /
    l_diversity_check (nation × 2000-wide balance band; sensitive =
    market segment): per group, the total-variation distance
    TVD = ½ Σ_s |p_s(group) − p_s(global)| and the gate TVD ≤ t=0.2.

    Determinism is earned by restating the TVD in exact integers:
    |cnt_gs·N − cnt_s·n_g| is an exact BIGINT per cell (zero cells
    included via the group × segment-domain cross join), its sum is an
    exact BIGINT, and the single final division by 2·n_g·N is the only
    float op — bit-identical cross-engine by IEEE, no float summation
    order anywhere. (At extreme row counts the BIGINT product needs a
    DECIMAL(38,0) widening — counts up to ~3e9 are safe as-is.)

    Scale: one hash-agg at (QI, sensitive) grain, then everything runs
    at QI-domain × sensitive-domain grain (bounded, constant in row
    count); the segment-domain and total frames are broadcast.
    """
    c = read_table(spark, sf_dir, "customer")
    g = c.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 2000).cast("int").alias("bal_band"),
        "c_mktsegment",
    ).agg(F.count("*").alias("cnt"))
    gs = g.groupBy("c_nationkey", "bal_band").agg(F.sum("cnt").alias("n_g"))
    s = g.groupBy("c_mktsegment").agg(F.sum("cnt").alias("cnt_s"))
    tot = g.agg(F.sum("cnt").alias("n"))
    cell = (
        gs.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(tot))
        .join(g, ["c_nationkey", "bal_band", "c_mktsegment"], "left")
        .select(
            "c_nationkey",
            "bal_band",
            "n_g",
            "cnt_s",
            "n",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt_gs"),
        )
    )
    num = F.sum(F.abs(F.col("cnt_gs") * F.col("n") - F.col("cnt_s") * F.col("n_g")))
    agg = cell.groupBy("c_nationkey", "bal_band", "n_g", "n").agg(num.alias("num"))
    tvd = F.col("num").cast("double") / (2.0 * F.col("n_g") * F.col("n"))
    return agg.select(
        "c_nationkey",
        "bal_band",
        F.col("n_g").cast("bigint").alias("group_size"),
        F.round(tvd, 6).alias("tvd"),
        (tvd <= _T_CLOSE).alias("t_close"),
    )


# ---------------------------------------------------------------------------
# Two-level Merkle-style snapshot bucket diff
# ---------------------------------------------------------------------------

_MERKLE_B = 64

_SQL_ROW_DIGEST = (
    "CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':' ||"
    " CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
    " AS VARCHAR)), 1, 15)) AS BIGINT)"
)

_MERKLE_ORACLE = f"""
WITH snap_a AS (
  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice
  FROM orders
), snap_b AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 11 = 0
              THEN CAST(o_totalprice AS DECIMAL(18,2)) + 1.00
              ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS o_totalprice
  FROM orders WHERE o_orderkey % 7 <> 0
), da AS (
  SELECT {sql_knuth_bucket('o_orderkey', _MERKLE_B)} AS bkt, o_orderkey,
         {_SQL_ROW_DIGEST} AS dg
  FROM snap_a
), db AS (
  SELECT {sql_knuth_bucket('o_orderkey', _MERKLE_B)} AS bkt, o_orderkey,
         {_SQL_ROW_DIGEST} AS dg
  FROM snap_b
), la AS (
  SELECT bkt, CAST(COUNT(*) AS BIGINT) AS n_a,
         CAST(SUM(CAST(dg AS DECIMAL(38,0))) AS VARCHAR) AS ck_a
  FROM da GROUP BY bkt
), lb AS (
  SELECT bkt, CAST(COUNT(*) AS BIGINT) AS n_b,
         CAST(SUM(CAST(dg AS DECIMAL(38,0))) AS VARCHAR) AS ck_b
  FROM db GROUP BY bkt
), lvl1 AS (
  SELECT COALESCE(la.bkt, lb.bkt) AS bkt,
         COALESCE(la.n_a, 0) AS n_a, COALESCE(lb.n_b, 0) AS n_b,
         CASE WHEN la.ck_a IS NOT DISTINCT FROM lb.ck_b THEN 1 ELSE 0 END
           AS checksum_match
  FROM la FULL JOIN lb ON la.bkt = lb.bkt
), drill AS (
  SELECT v.bkt, CAST(COUNT(*) AS BIGINT) AS n_diff_rows
  FROM (
    SELECT COALESCE(da.bkt, db.bkt) AS bkt
    FROM da FULL JOIN db
      ON da.o_orderkey = db.o_orderkey
    WHERE da.dg IS DISTINCT FROM db.dg
  ) v
  JOIN lvl1 ON lvl1.bkt = v.bkt AND lvl1.checksum_match = 0
  GROUP BY v.bkt
)
SELECT l.bkt AS bucket, l.n_a, l.n_b,
       CAST(l.checksum_match AS INTEGER) AS checksum_match,
       COALESCE(d.n_diff_rows, 0) AS n_diff_rows
FROM lvl1 l LEFT JOIN drill d ON l.bkt = d.bkt
WHERE l.checksum_match = 0
"""


@register(
    "merkle_bucket_diff",
    oracle=_MERKLE_ORACLE,
    tags=("layout", "scale", "cdc"),
)
def merkle_bucket_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level Merkle-style snapshot diff between the orders table
    and a deterministically mutated snapshot (keys %7 deleted, keys
    %11 repriced +1.00 — the mv_incremental_agg_parity CDC convention): level 1
    compares {b} per-bucket checksums (order-free DECIMAL(38,0) sums
    of 60-bit row digests over the width-safe Knuth bucket), level 2
    drills into CHANGED buckets only and counts differing keys via a
    key-grain full-outer digest comparison. Emits one row per changed
    bucket. This is how replication/backfill validation works at
    100 TB: {b} checksum rows decide WHERE to look; the expensive
    key-grain comparison is partition-pruned to changed buckets —
    unchanged buckets are never rescanned at row grain.

    Determinism: digests are the conv/md5-prefix 60-bit integers over
    canonical integer-cents renderings (no decimal-to-string
    formatting dependence); checksums are exact decimal sums emitted
    as strings (38-digit values exceed float64 transport); the diff
    predicate is null-safe digest inequality.

    Scale: two scans → two (bucket)-grain hash-aggs (map-side
    combinable; the checksum IS a commutative monoid, so this is also
    the incremental-maintenance spelling — a CDC batch updates bucket
    checksums without rescanning) → a {b}-row comparison; the drill
    join shuffles only rows of changed buckets (semi-join pruning on
    the changed-bucket set).
    """
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(18,2)").alias("price")
    )
    snap_a = o
    snap_b = o.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 11 == 0,
            F.col("price") + F.lit(1.00).cast("decimal(18,2)"),
        )
        .otherwise(F.col("price"))
        .alias("price"),
    )

    def digested(df: DataFrame) -> DataFrame:
        dg = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("o_orderkey").cast("string"),
                        F.lit(":"),
                        (F.col("price") * 100).cast("long").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        return df.select(
            knuth_bucket("o_orderkey", _MERKLE_B).alias("bkt"),
            "o_orderkey",
            dg.alias("dg"),
        )

    da = digested(snap_a)
    db = digested(snap_b)
    la = da.groupBy("bkt").agg(
        F.count("*").cast("long").alias("n_a"),
        F.sum(F.col("dg").cast("decimal(38,0)")).cast("string").alias("ck_a"),
    )
    lb = db.groupBy("bkt").agg(
        F.count("*").cast("long").alias("n_b"),
        F.sum(F.col("dg").cast("decimal(38,0)")).cast("string").alias("ck_b"),
    )
    lvl1 = (
        la.join(lb, "bkt", "full")
        .select(
            "bkt",
            F.coalesce("n_a", F.lit(0)).cast("long").alias("n_a"),
            F.coalesce("n_b", F.lit(0)).cast("long").alias("n_b"),
            F.when(F.col("ck_a").eqNullSafe(F.col("ck_b")), 1)
            .otherwise(0)
            .alias("checksum_match"),
        )
        .filter(F.col("checksum_match") == 0)
        # consumed by the output AND the drill-down semi-join
        .localCheckpoint()
    )
    changed = lvl1.select("bkt")
    drill = (
        da.join(F.broadcast(changed), "bkt")
        .join(
            db.join(F.broadcast(changed), "bkt").withColumnRenamed("dg", "dg_b"),
            ["bkt", "o_orderkey"],
            "full",
        )
        .filter(~F.col("dg").eqNullSafe(F.col("dg_b")))
        .groupBy("bkt")
        .agg(F.count("*").cast("long").alias("n_diff_rows"))
    )
    return lvl1.join(drill, "bkt", "left").select(
        F.col("bkt").alias("bucket"),
        "n_a",
        "n_b",
        F.col("checksum_match").cast("int").alias("checksum_match"),
        F.coalesce("n_diff_rows", F.lit(0)).cast("long").alias("n_diff_rows"),
    )


# ---------------------------------------------------------------------------
# Laspeyres / Paasche / Fisher price indices (1996 -> 1997)
# ---------------------------------------------------------------------------

_BASE_YEAR, _CUR_YEAR = 1996, 1997

_FISHER_ORACLE = f"""
WITH py AS (
  SELECT l_partkey AS part, year(l_shipdate) AS y,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS ext,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
  FROM lineitem
  WHERE year(l_shipdate) IN ({_BASE_YEAR}, {_CUR_YEAR})
  GROUP BY 1, 2
), matched AS (
  SELECT b.part,
         b.ext / b.qty AS p0, b.qty AS q0,
         c.ext / c.qty AS p1, c.qty AS q1
  FROM py b JOIN py c ON c.part = b.part
  WHERE b.y = {_BASE_YEAR} AND c.y = {_CUR_YEAR}
), terms AS (
  SELECT part,
         ROUND(p1 * q0, 6) AS l_num, ROUND(p0 * q0, 6) AS l_den,
         ROUND(p1 * q1, 6) AS p_num, ROUND(p0 * q1, 6) AS p_den
  FROM matched
), st AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
         CAST(SUM(CAST(l_num AS DECIMAL(28,6))) AS DOUBLE)
           / CAST(SUM(CAST(l_den AS DECIMAL(28,6))) AS DOUBLE) AS lasp,
         CAST(SUM(CAST(p_num AS DECIMAL(28,6))) AS DOUBLE)
           / CAST(SUM(CAST(p_den AS DECIMAL(28,6))) AS DOUBLE) AS paas
  FROM terms
)
SELECT n_parts,
       ROUND(lasp, 6) AS laspeyres,
       ROUND(paas, 6) AS paasche,
       ROUND(SQRT(lasp * paas), 6) AS fisher
FROM st
"""


@register("price_index_fisher", oracle=_FISHER_ORACLE, tags=("agg", "stats"))
def price_index_fisher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilateral price indices {b} → {c}: Laspeyres Σp₁q₀/Σp₀q₀
    (what the OLD basket costs now), Paasche Σp₁q₁/Σp₀q₁ (what the
    NEW basket would have cost then), and Fisher's ideal √(L·P) —
    the superlative index that bounds both biases. Prices are
    per-part UNIT VALUES (Σ extendedprice / Σ quantity per
    part-year); only matched parts (traded both years) enter — the
    matched-model rule every statistical office applies to
    transaction data.

    Determinism: per-(part, year) sums are exact decimals cast to
    exact-range doubles; unit values are identical IEEE divisions;
    each basket term p·q is ROUND-6 (of identical doubles) then
    decimal-summed, so the four basket totals are order-free; the
    three indices are pinned expressions ROUND 6.

    Scale: one year-filtered fact pass to (part, year) grain
    (map-combinable), one part-grain self-join (co-partitioned on
    part — at 100 TB this is the bucketed-join case), one scalar agg.
    """
    li = read_table(spark, sf_dir, "lineitem")
    py = (
        li.filter(F.year("l_shipdate").isin(_BASE_YEAR, _CUR_YEAR))
        .groupBy(
            F.col("l_partkey").alias("part"), F.year("l_shipdate").alias("y")
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("ext"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("qty"),
        )
    )
    b = py.filter(F.col("y") == _BASE_YEAR).select(
        "part",
        (F.col("ext") / F.col("qty")).alias("p0"),
        F.col("qty").alias("q0"),
    )
    c = py.filter(F.col("y") == _CUR_YEAR).select(
        "part",
        (F.col("ext") / F.col("qty")).alias("p1"),
        F.col("qty").alias("q1"),
    )
    terms = b.join(c, "part").select(
        F.round(F.col("p1") * F.col("q0"), 6).alias("l_num"),
        F.round(F.col("p0") * F.col("q0"), 6).alias("l_den"),
        F.round(F.col("p1") * F.col("q1"), 6).alias("p_num"),
        F.round(F.col("p0") * F.col("q1"), 6).alias("p_den"),
    )

    def _dsum(col: str) -> F.Column:
        return F.sum(F.col(col).cast("decimal(28,6)")).cast("double")

    st = terms.agg(
        F.count("*").cast("long").alias("n_parts"),
        (_dsum("l_num") / _dsum("l_den")).alias("lasp"),
        (_dsum("p_num") / _dsum("p_den")).alias("paas"),
    )
    return st.select(
        "n_parts",
        F.round("lasp", 6).alias("laspeyres"),
        F.round("paas", 6).alias("paasche"),
        F.round(F.sqrt(F.col("lasp") * F.col("paas")), 6).alias("fisher"),
    )


# ---------------------------------------------------------------------------
# ABC classification (80 / 95 cumulative-revenue cuts)
# ---------------------------------------------------------------------------

_ABC_ORACLE = """
WITH per_part AS (
  SELECT l_partkey AS part,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
  FROM lineitem GROUP BY 1
), ranked AS (
  SELECT part, rev,
         SUM(rev) OVER (ORDER BY rev DESC, part
                        ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(rev) OVER () AS tot
  FROM per_part
), classed AS (
  SELECT part, rev,
         CASE WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.80
                THEN 'A'
              WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.95
                THEN 'B'
              ELSE 'C' END AS abc
  FROM ranked
)
SELECT abc AS abc_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(rev) AS DOUBLE) AS class_revenue,
       ROUND(CAST(SUM(rev) AS DOUBLE)
             / (SELECT CAST(SUM(rev) AS DOUBLE) FROM per_part), 6)
         AS revenue_share,
       ROUND(CAST(COUNT(*) AS DOUBLE)
             / (SELECT COUNT(*) FROM per_part), 6) AS part_share
FROM classed
GROUP BY abc
ORDER BY abc
"""


@register("abc_classification", oracle=_ABC_ORACLE, tags=("window", "agg"))
def abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory analysis: parts ranked by lifetime revenue and
    classified at the classic cumulative cuts — A-parts carry the
    first 80% of revenue, B the next 15%, C the tail — reported per
    class with part counts, revenue, and both shares. The expected
    Pareto read: a small part_share for A and a long C tail. The
    single-axis cumulative partition behind stocking policies
    (``pareto_frontier_parts`` handles multi-criteria dominance).

    Determinism: per-part revenue and the running total stay exact
    DECIMAL; the cumulative walk rides the (rev DESC, part) total
    order; class cuts compare exact-range doubles (cum/tot unscaled
    < 2^53); shares are single divisions ROUND 6.

    Scale: one fact pass to part grain, then the range-partitioned
    cumulative walk (registry.bucketed_running_sum — the shared
    spelling): bucket the NEGATED revenue (equal
    revenues share a bucket, so bucket id is monotone in the DESC
    order), per-bucket cumulative revenue sums with (neg, part)
    tie-break, plus each bucket's exclusive prefix subtotal from the
    bounded bucket grain. Decimal addition is exact and associative,
    so the bucketed walk is bit-identical to a global window — no
    single-partition sort ever touches the part grain (the docstring's
    long-promised "usual range-partition refinement", now the plan).
    Totals come from one scalar agg broadcast back, then a 3-row
    class agg.
    """
    li = read_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev")
    )
    tot = per_part.agg(
        F.sum("rev").alias("tot"),
        F.count("*").cast("long").alias("n_all"),
    )
    walked, _subs = bucketed_running_sum(
        per_part.withColumn("neg", -F.col("rev")),
        "neg",
        ["neg", "part"],
        F.col("rev"),
        out="cum",
    )
    ranked = walked.select("rev", "cum")
    share = F.col("cum").cast("double") / F.col("tot").cast("double")
    classed = ranked.crossJoin(F.broadcast(tot)).select(
        "rev",
        "tot",
        "n_all",
        F.when(share <= 0.80, "A")
        .when(share <= 0.95, "B")
        .otherwise("C")
        .alias("abc"),
    )
    return (
        classed.groupBy(F.col("abc").alias("abc_class"))
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum("rev").cast("double").alias("class_revenue"),
            F.round(
                F.sum("rev").cast("double") / F.max(F.col("tot").cast("double")),
                6,
            ).alias("revenue_share"),
            F.round(
                F.count("*").cast("double") / F.max("n_all"), 6
            ).alias("part_share"),
        )
        .orderBy("abc_class")
    )
