"""Reference-parity queries: the reference pipeline's scalar functions,
its pipeline steps and its data-quality validation (SURVEY.md §2.8, §3),
exercised over the driver's synthetic tables so every one is
oracle-checked.

Synthetic inputs are derived deterministically from table keys with
identical expressions on the Spark and DuckDB sides (the testdata has no
lat/lon or odds strings; the reference's domain columns are synthesized
from keys — the OPERATORS are what is under test).

Registry conventions apply (plans/registry.py): exact decimal sums,
ROUND 6 on transcendental/division outputs, atomic columns,
BIGINT/DOUBLE/VARCHAR oracle casts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ucl_data_pipeline_spark.functions.scalar import (
    clamp_with_midpoint,
    fractional_to_decimal_odds,
    haversine_km,
    parse_date_multi,
    ratio_with_floor,
    sign_score,
)
from ucl_data_pipeline_spark.plans.registry import davg, r6, register, sql_davg
from ucl_data_pipeline_spark.sources.io import conform_column_names, fan_out, read_table


# ---------------------------------------------------------------------------
# F10 — haversine travel distance (pure column expression, no UDF)
# ---------------------------------------------------------------------------

_HAVERSINE_ORACLE = """
WITH pts AS (
  SELECT
    c_custkey,
    (c_custkey % 17000) / 100.0 - 85.0 AS lat1,
    ((c_custkey * 7) % 36000) / 100.0 - 180.0 AS lon1,
    (c_nationkey * 651) % 17000 / 100.0 - 85.0 AS lat2,
    ((c_nationkey * 4517) % 36000) / 100.0 - 180.0 AS lon2
  FROM customer
)
SELECT
  c_custkey,
  ROUND(2.0 * 6371.0 * asin(sqrt(
    pow(sin(radians(lat2 - lat1) / 2.0), 2)
    + cos(radians(lat1)) * cos(radians(lat2))
      * pow(sin(radians(lon2 - lon1) / 2.0), 2))), 6) AS travel_km
FROM pts
"""


@register("haversine_travel", oracle=_HAVERSINE_ORACLE, tags=("scalar",))
def haversine_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: great-circle distance as a native column expression
    (reference: row-wise ``df.apply(haversine, axis=1)``
    scripts/enrich_features.py:8-15,114-119 — here fully codegen'd;
    output rounded to 6 dp for cross-libm determinism).
    """
    c = read_table(spark, sf_dir, "customer")
    lat1 = (F.col("c_custkey") % 17000) / 100.0 - 85.0
    lon1 = ((F.col("c_custkey") * 7) % 36000) / 100.0 - 180.0
    lat2 = (F.col("c_nationkey") * 651) % 17000 / 100.0 - 85.0
    lon2 = ((F.col("c_nationkey") * 4517) % 36000) / 100.0 - 180.0
    return c.select(
        "c_custkey",
        r6(haversine_km(lat1, lon1, lat2, lon2)).alias("travel_km"),
    )


# ---------------------------------------------------------------------------
# F4 — fractional odds conversion
# ---------------------------------------------------------------------------

_ODDS_ORACLE = """
WITH odds AS (
  SELECT
    l_orderkey,
    l_linenumber,
    CASE l_linenumber % 4
      WHEN 0 THEN CAST(l_suppkey % 9 + 1 AS VARCHAR) || '/' || CAST(l_partkey % 4 + 1 AS VARCHAR)
      WHEN 1 THEN CAST(l_quantity AS VARCHAR)
      WHEN 2 THEN 'evens'
      ELSE CAST(l_suppkey % 5 AS VARCHAR) || '/' || CAST(l_partkey % 3 AS VARCHAR)
    END AS odds_str
  FROM lineitem
)
SELECT
  l_orderkey,
  l_linenumber,
  odds_str,
  CASE WHEN contains(odds_str, '/')
       THEN CASE WHEN len(string_split(odds_str, '/')) = 2
            THEN 1.0 + TRY_CAST(string_split(odds_str, '/')[1] AS DOUBLE)
                 / nullif(TRY_CAST(string_split(odds_str, '/')[2] AS DOUBLE), 0.0)
            END
       ELSE TRY_CAST(odds_str AS DOUBLE)
  END AS odds_dec
FROM odds
"""


@register("fractional_odds", oracle=_ODDS_ORACLE, tags=("scalar",))
def fractional_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: fractional→decimal odds ("5/2"→3.5), numeric passthrough,
    garbage→NULL, zero denominator→NULL (reference:
    scripts/utils.py:10-17).
    """
    li = read_table(spark, sf_dir, "lineitem")
    odds_str = (
        F.when(
            F.col("l_linenumber") % 4 == 0,
            F.concat(
                (F.col("l_suppkey") % 9 + 1).cast("string"),
                F.lit("/"),
                (F.col("l_partkey") % 4 + 1).cast("string"),
            ),
        )
        .when(F.col("l_linenumber") % 4 == 1, F.col("l_quantity").cast("string"))
        .when(F.col("l_linenumber") % 4 == 2, F.lit("evens"))
        .otherwise(
            F.concat(
                (F.col("l_suppkey") % 5).cast("string"),
                F.lit("/"),
                (F.col("l_partkey") % 3).cast("string"),
            )
        )
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        odds_str.alias("odds_str"),
        fractional_to_decimal_odds(odds_str).alias("odds_dec"),
    )


# ---------------------------------------------------------------------------
# F11/F13/F14 — bootstrap team priors (clamp, sign score, ratio floor)
# ---------------------------------------------------------------------------

_PRIORS_ORACLE = """
SELECT
  s_suppkey,
  greatest(0.55, least(0.90, COALESCE(s_acctbal / 10000.0, 0.725)))
    AS gk_rating,
  0.55 + 0.10 * CAST(sign(COALESCE(s_acctbal - 5000.0, 0.0)) AS DOUBLE)
    AS setpiece_rating,
  0.80 - 0.15 * greatest(0.0, COALESCE(s_acctbal / 34000.0, 0.0)) AS gk_floor,
  CAST(0.70 AS DOUBLE) AS crowd_index
FROM supplier
"""


@register("bootstrap_priors", oracle=_PRIORS_ORACLE, tags=("scalar",))
def bootstrap_priors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11+F13+F14: the reference's priors bootstrap row-loop
    (scripts/bootstrap_team_priors.py:24-34) as pure column expressions:
    clamp-with-midpoint, sign-based score, ratio-with-floor, constant
    crowd index.
    """
    s = read_table(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        clamp_with_midpoint(F.col("s_acctbal") / 10000.0, 0.55, 0.90).alias(
            "gk_rating"
        ),
        sign_score(F.col("s_acctbal") - 5000.0).alias("setpiece_rating"),
        ratio_with_floor("s_acctbal", base=0.80, step=0.15, denom=34000.0).alias(
            "gk_floor"
        ),
        F.lit(0.70).alias("crowd_index"),
    )


# ---------------------------------------------------------------------------
# P1 — column-NAME case conformance
# ---------------------------------------------------------------------------

_CONFORM_NAMES_ORACLE = """
SELECT
  n_nationkey AS N_NATIONKEY,
  n_name AS N_NAME,
  n_regionkey AS N_REGIONKEY
FROM nation
"""


@register("conform_column_names_upper", oracle=_CONFORM_NAMES_ORACLE, tags=("scalar",))
def conform_column_names_upper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: uppercase every column NAME (values untouched) — the
    reference's header normalization ``df.columns = [c.upper() ...]``
    (scripts/fetch_football_data.py:31-32). Metadata-only rename: free
    at any scale.
    """

    n = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    return conform_column_names(n, case="upper")


# ---------------------------------------------------------------------------
# F1/F3 — trim + regex strip of trailing parenthetical
# ---------------------------------------------------------------------------

_REGEX_STRIP_ORACLE = r"""
SELECT
  c_custkey,
  trim(regexp_replace(c_name || ' (' || c_mktsegment || ')', '\s+\(.*\)$', ''))
    AS clean_name,
  upper(c_mktsegment) AS segment_upper
FROM customer
"""


@register("name_regex_strip", oracle=_REGEX_STRIP_ORACLE, tags=("scalar", "text"))
def name_regex_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2/F3: trim + strip trailing " (…)" suffix + upper (reference:
    scripts/fetch_fbr_team_xg.py:46,61 — team names carry a strippable
    parenthetical).
    """
    c = read_table(spark, sf_dir, "customer")
    noisy = F.concat(F.col("c_name"), F.lit(" ("), F.col("c_mktsegment"), F.lit(")"))
    return c.select(
        "c_custkey",
        F.trim(F.regexp_replace(noisy, r"\s+\(.*\)$", "")).alias("clean_name"),
        F.upper("c_mktsegment").alias("segment_upper"),
    )


# ---------------------------------------------------------------------------
# F5 — multi-format dayfirst date parsing
# ---------------------------------------------------------------------------

_DATE_PARSE_ORACLE = """
WITH raw AS (
  SELECT
    o_orderkey,
    CASE o_orderkey % 3
      WHEN 0 THEN strftime(o_orderdate, '%-d/%-m/%Y')
      WHEN 1 THEN strftime(o_orderdate, '%Y-%m-%d')
      ELSE 'not-a-date'
    END AS date_str
  FROM orders
)
SELECT
  o_orderkey,
  date_str,
  CAST(COALESCE(try_strptime(date_str, '%d/%m/%Y'),
                try_strptime(date_str, '%Y-%m-%d')) AS DATE) AS parsed_date
FROM raw
"""


@register("date_parse_multi", oracle=_DATE_PARSE_ORACLE, tags=("scalar",))
def date_parse_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: UK dayfirst date parsing over candidate formats, unparseable
    → NULL (reference: pd.to_datetime(dayfirst=True),
    scripts/fetch_football_data.py:45).
    """

    o = fan_out(
        read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    )
    date_str = (
        F.when(
            F.col("o_orderkey") % 3 == 0,
            F.date_format("o_orderdate", "d/M/yyyy"),
        )
        .when(
            F.col("o_orderkey") % 3 == 1,
            F.date_format("o_orderdate", "yyyy-MM-dd"),
        )
        .otherwise(F.lit("not-a-date"))
    )
    return o.select(
        "o_orderkey",
        date_str.alias("date_str"),
        parse_date_multi(date_str, formats=("d/M/yyyy", "yyyy-MM-dd")).alias(
            "parsed_date"
        ),
    )


_STRINGS_ORACLE = """
SELECT
  p_partkey,
  concat_ws('|', p_brand, p_type) AS brand_type,
  substring(p_name, 1, 8) AS name_head,
  lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
  replace(p_type, ' ', '_') AS type_snake,
  split_part(p_type, ' ', 1) AS type_first_word,
  strpos(p_type, 'BRUSHED') AS brushed_pos,
  reverse(p_brand) AS brand_rev,
  translate(p_brand, '#', '-') AS brand_dashed,
  CAST(length(p_name) AS INTEGER) AS name_len,
  CASE WHEN p_type LIKE '%STEEL%' THEN 1 ELSE 0 END AS is_steel
FROM part
"""


_JSON_RT_ORACLE = """
WITH j AS (
  SELECT
    o_orderkey,
    to_json(struct_pack(
      o_orderkey := o_orderkey,
      o_orderstatus := o_orderstatus,
      o_totalprice := o_totalprice
    )) AS js
  FROM orders
)
SELECT
  o_orderkey,
  json_extract_string(js, '$.o_orderstatus') AS status_rt,
  CAST(json_extract(js, '$.o_totalprice') AS DOUBLE) AS price_rt
FROM j
"""


@register("json_roundtrip", oracle=_JSON_RT_ORACLE, tags=("scalar", "json"))
def json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serialize row structs to JSON strings and parse them back
    (``to_json`` / ``from_json`` with an explicit schema) — the
    columnar JSON codec path used at ingest/egress boundaries (S3/F12
    in SURVEY.md §2). Doubles survive exactly: both engines print
    shortest round-trippable representations. All JVM-side, codegen'd.
    """

    o = fan_out(
        read_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
    )
    js = F.to_json(F.struct("o_orderkey", "o_orderstatus", "o_totalprice"))
    parsed = F.from_json(
        js, "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    )
    return o.select(
        "o_orderkey",
        parsed["o_orderstatus"].alias("status_rt"),
        parsed["o_totalprice"].alias("price_rt"),
    )


@register("string_functions", oracle=_STRINGS_ORACLE, tags=("scalar", "text"))
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar string surface: concat_ws / substring / pad / replace
    / split_part / strpos / reverse / translate / length / LIKE — all
    codegen'd JVM expressions.
    """
    p = read_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.substring("p_name", 1, 8).alias("name_head"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_first_word"),
        F.instr(F.col("p_type"), "BRUSHED").alias("brushed_pos"),
        F.reverse(F.col("p_brand")).alias("brand_rev"),
        F.translate(F.col("p_brand"), "#", "-").alias("brand_dashed"),
        F.length("p_name").alias("name_len"),
        F.when(F.col("p_type").like("%STEEL%"), 1).otherwise(0).alias("is_steel"),
    )


_DQ_ORACLE = f"""
SELECT
  COUNT(*) AS n_rows,
  COUNT(DISTINCT o_orderkey) AS n_distinct_keys,
  COUNT(*) - COUNT(o_custkey) AS null_custkeys,
  COUNT(*) - COUNT(o_totalprice) AS null_prices,
  MIN(o_totalprice) AS min_price,
  MAX(o_totalprice) AS max_price,
  {sql_davg('o_totalprice')} AS mean_price,
  MIN(o_orderdate) AS min_date,
  MAX(o_orderdate) AS max_date,
  COUNT(CASE WHEN o_totalprice <= 0 THEN 1 END) AS nonpositive_prices
FROM orders
"""


@register("data_quality_profile", oracle=_DQ_ORACLE, tags=("validate", "agg"))
def data_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass data-quality profile (row/key counts, null counts,
    ranges, violation counts) — the expectation-check aggregate every
    pipeline stage gates on (V1/V2 generalized from warn-only prints to
    a queryable contract). One scan, partial-aggregated; at 100 TB this
    is the cheap pre-flight before expensive stages.
    """
    o = read_table(spark, sf_dir, "orders")
    return o.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("o_orderkey").alias("n_distinct_keys"),
        (F.count("*") - F.count("o_custkey")).alias("null_custkeys"),
        (F.count("*") - F.count("o_totalprice")).alias("null_prices"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        davg("o_totalprice").alias("mean_price"),
        F.min("o_orderdate").alias("min_date"),
        F.max("o_orderdate").alias("max_date"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("nonpositive_prices"),
    )


_UPSERT_ORACLE = """
WITH v1 AS (
  SELECT c_custkey, c_name, c_acctbal, 1 AS version FROM customer
),
v2 AS (
  SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal, 2 AS version
  FROM customer WHERE c_custkey % 3 = 0
),
unioned AS (
  SELECT * FROM v1 UNION ALL SELECT * FROM v2
)
SELECT c_custkey, c_name, c_acctbal, version FROM (
  SELECT *, row_number() OVER (
    PARTITION BY c_custkey ORDER BY version DESC
  ) AS rn FROM unioned
) WHERE rn = 1
"""


@register("snapshot_upsert_latest", oracle=_UPSERT_ORACLE, tags=("pipeline", "window"))
def snapshot_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert/merge without a table format: union the base snapshot
    with a (deterministically derived) delta carrying a higher version,
    keep the latest row per key via a ranking window — the
    keep-latest-wins merge every incremental pipeline needs. At scale
    this is one shuffle on the key; with Delta/Iceberg it becomes MERGE
    INTO, but the logical semantics are exactly this window.
    """
    c = read_table(spark, sf_dir, "customer")
    v1 = c.select("c_custkey", "c_name", "c_acctbal", F.lit(1).alias("version"))
    v2 = (
        c.filter(F.col("c_custkey") % 3 == 0)
        .select(
            "c_custkey",
            "c_name",
            (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
            F.lit(2).alias("version"),
        )
    )

    w = Window.partitionBy("c_custkey").orderBy(F.col("version").desc())
    return (
        v1.unionByName(v2)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_custkey", "c_name", "c_acctbal", "version")
    )


_SCD2_ORACLE = """
WITH v1 AS (
  SELECT c_custkey, c_name, c_acctbal, 1 AS version FROM customer
),
v2 AS (
  SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal, 2 AS version
  FROM customer WHERE c_custkey % 3 = 0
),
unioned AS (
  SELECT * FROM v1 UNION ALL SELECT * FROM v2
)
SELECT
  c_custkey, c_name, c_acctbal, version AS valid_from_version,
  COALESCE(
    LEAD(version) OVER (PARTITION BY c_custkey ORDER BY version) - 1,
    2147483647
  ) AS valid_to_version,
  LEAD(version) OVER (PARTITION BY c_custkey ORDER BY version) IS NULL
    AS is_current
FROM unioned
"""


@register("scd2_history", oracle=_SCD2_ORACLE, tags=("pipeline", "window"))
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2: every key keeps its FULL
    version history with [valid_from, valid_to) validity ranges and an
    is_current flag — the warehouse-standard dimension history build
    (contrast snapshot_upsert_latest, which is SCD-1 keep-latest).
    One LEAD window over the same (key, version) shuffle; open-ended
    current rows carry a sentinel high version.
    """

    c = read_table(spark, sf_dir, "customer")
    v1 = c.select("c_custkey", "c_name", "c_acctbal", F.lit(1).alias("version"))
    v2 = c.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey",
        "c_name",
        (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
        F.lit(2).alias("version"),
    )
    w = Window.partitionBy("c_custkey").orderBy("version")
    nxt = F.lead("version").over(w)
    return v1.unionByName(v2).select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        F.col("version").alias("valid_from_version"),
        F.coalesce(nxt - 1, F.lit(2147483647)).alias("valid_to_version"),
        nxt.isNull().alias("is_current"),
    )


_CDC_DIFF_ORACLE = """
WITH old AS (
  SELECT c_custkey, c_acctbal FROM customer
),
new AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 100.0
              ELSE c_acctbal END AS c_acctbal
  FROM customer WHERE c_custkey % 7 <> 0
)
SELECT
  COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
  o.c_acctbal AS old_bal,
  n.c_acctbal AS new_bal,
  CASE
    WHEN o.c_custkey IS NULL THEN 'inserted'
    WHEN n.c_custkey IS NULL THEN 'deleted'
    WHEN o.c_acctbal <> n.c_acctbal THEN 'updated'
    ELSE 'unchanged'
  END AS change_type
FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
"""


@register("snapshot_diff_cdc", oracle=_CDC_DIFF_ORACLE, tags=("pipeline", "join"))
def snapshot_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture diff of two snapshot versions: one full
    outer join on the key classifying every row inserted / deleted /
    updated / unchanged — how a pipeline without database change
    streams derives its delta feed (the input to SCD builds and
    incremental downstream refreshes). One shuffle on the key; at
    scale both snapshots are bucketed on it and the join is
    exchange-free.
    """
    c = read_table(spark, sf_dir, "customer")
    old = c.select("c_custkey", "c_acctbal")
    new = c.filter(F.col("c_custkey") % 7 != 0).select(
        "c_custkey",
        # +100.0 in pure IEEE double, NOT round(bal*1.1, 2): the
        # rounded product hits 6dp/2dp halfway cases at sf0.1 where
        # Spark (shortest-repr HALF_UP) and DuckDB (true-binary round)
        # disagree by one cent — found by the r9 full-registry sf0.1
        # sweep. Addition is bit-identical across engines.
        F.when(F.col("c_custkey") % 3 == 0, F.col("c_acctbal") + 100.0)
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
    )
    o = old.alias("o")
    n = new.alias("n")
    joined = o.join(n, F.col("o.c_custkey") == F.col("n.c_custkey"), "full_outer")
    change = (
        F.when(F.col("o.c_custkey").isNull(), F.lit("inserted"))
        .when(F.col("n.c_custkey").isNull(), F.lit("deleted"))
        .when(F.col("o.c_acctbal") != F.col("n.c_acctbal"), F.lit("updated"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(
        F.coalesce(F.col("o.c_custkey"), F.col("n.c_custkey")).alias("c_custkey"),
        F.col("o.c_acctbal").alias("old_bal"),
        F.col("n.c_acctbal").alias("new_bal"),
        change.alias("change_type"),
    )
