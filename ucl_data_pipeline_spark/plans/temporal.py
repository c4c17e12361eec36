"""Temporal and event-stream queries: windows, sessions, series, drift.

Tumbling/sliding/session windows, funnels and cohorts, as-of and
interval joins, gap filling and interpolation, time-series models
(EWMA, Holt, autocorrelation, periodogram), change-point and drift
detectors, and Markov chains over event sequences.

Registry conventions apply (plans/registry.py): exact decimal sums,
ROUND 6 on transcendental/division outputs, atomic columns,
BIGINT/DOUBLE/VARCHAR oracle casts.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ucl_data_pipeline_spark.functions import scalar as SC
from ucl_data_pipeline_spark.functions.scalar import epoch_us
from ucl_data_pipeline_spark.plans.registry import (
    array_dsum,
    dsum,
    edge_terms,
    fold_steps,
    gather_graph,
    rank_select,
    register,
    sql_dsum,
)
from ucl_data_pipeline_spark.sources.io import read_table


_TUMBLING_ORACLE = f"""
SELECT
  time_bucket(INTERVAL '1 hour', ts) AS window_start,
  event_type,
  COUNT(*) AS n_events,
  {sql_dsum('value')} AS sum_value
FROM events
GROUP BY 1, 2
"""


@register("tumbling_window_agg", oracle=_TUMBLING_ORACLE, tags=("events", "window"))
def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation via ``F.window`` — the exact
    construct the streaming path uses with a watermark; epoch-aligned
    so it equals time_bucket/date_trunc in the oracle.
    """
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


_SLIDING_ORACLE = f"""
WITH slid AS (
  SELECT
    e.*,
    CAST(to_timestamp(floor(epoch(e.ts) / 300) * 300 - off.o) AS TIMESTAMP)
      AS window_start
  FROM events e, (VALUES (0), (300)) AS off(o)
)
SELECT
  window_start,
  COUNT(*) AS n_events,
  {sql_dsum('value')} AS sum_value
FROM slid
GROUP BY 1
"""


@register("sliding_window_agg", oracle=_SLIDING_ORACLE, tags=("events", "window"))
def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (10 min length, 5 min slide): every event lands
    in exactly two windows. ``F.window(ts, '10 minutes', '5 minutes')``
    — the oracle mirrors Spark's window-assignment arithmetic
    (floor to slide grid, minus each slide offset).
    """
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


_SESSION_ORACLE = f"""
WITH marked AS (
  SELECT
    event_id, user_id, ts, value,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              < INTERVAL '5 minutes'
         THEN 0 ELSE 1 END AS new_session
  FROM events
), numbered AS (
  SELECT
    user_id, ts, value,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_no
  FROM marked
)
SELECT
  user_id,
  MIN(ts) AS session_start,
  MAX(ts) + INTERVAL '5 minutes' AS session_end,
  COUNT(*) AS n_events,
  {sql_dsum('value')} AS sum_value
FROM numbered
GROUP BY user_id, session_no
"""


@register("session_window_agg", oracle=_SESSION_ORACLE, tags=("events", "window"))
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (5-minute inactivity gap) per user via
    ``F.session_window`` — Spark's native gap-merge; the oracle builds
    the same sessions with gaps-and-islands SQL (lag + running sum).
    Session end = last event + gap, matching Spark's definition.
    """
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


_JSON_PROPS_ORACLE = """
SELECT
  event_id,
  event_type,
  CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k
FROM events
"""


@register("json_props_extract", oracle=_JSON_PROPS_ORACLE, tags=("events", "scalar"))
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 analog: typed extraction from a JSON string column
    (reference: nested odds-JSON flatten,
    scripts/fetch_the_odds_api.py:118-143; here get_json_object /
    from_json — JVM-side JSON path, no UDF).
    """
    e = read_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
    )


_EVENTS_DEDUP_ORACLE = """
SELECT user_id, event_type, event_id, ts, value
FROM events
QUALIFY row_number() OVER (
  PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1
"""


@register("dedup_events_first", oracle=_EVENTS_DEDUP_ORACLE, tags=("events", "dedup"))
def dedup_events_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch equivalent of dropDuplicatesWithinWatermark: keep the
    earliest event per (user_id, event_type), deterministic tie-break.
    The streaming twin (withWatermark + dropDuplicates) is tested in
    tests/test_streaming.py.
    """
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts", "value")
    )


_HYPERTABLE_ORACLE = """
SELECT
  CASE WHEN GROUPING(h) = 0 THEN 'hour' ELSE 'day' END AS resolution,
  COALESCE(h, d) AS bucket_ts,
  event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM (
  SELECT date_trunc('hour', ts) AS h, date_trunc('day', ts) AS d,
         event_type, value
  FROM events
)
GROUP BY GROUPING SETS ((d, event_type), (h, event_type))
"""


@register("hypertable_rollup", oracle=_HYPERTABLE_ORACLE, tags=("events", "agg", "temporal"))
def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution time-bucket rollup (hour + day continuous
    aggregates) in ONE pass via GROUPING SETS — the hypertable /
    continuous-aggregate pattern: every resolution shares the same
    partial aggregation, instead of one scan per resolution. At scale
    the output is itself partitioned by resolution and serves
    dashboards without touching raw events.
    """
    read_table(spark, sf_dir, "events").createOrReplaceTempView("events_ht")
    return spark.sql("""
        SELECT
          CASE WHEN grouping(h) = 0 THEN 'hour' ELSE 'day' END AS resolution,
          COALESCE(h, d) AS bucket_ts,
          event_type,
          COUNT(*) AS n_events,
          CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM (
          SELECT date_trunc('hour', ts) AS h, date_trunc('day', ts) AS d,
                 event_type, value
          FROM events_ht
        )
        GROUP BY GROUPING SETS ((d, event_type), (h, event_type))
    """)


_MAP_FN_ORACLE = """
SELECT
  event_id,
  CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
  CAST(len(json_keys(props)) AS INTEGER) AS n_keys,
  array_to_string(list_sort(json_keys(props)), ',') AS keys_sorted,
  CAST(2 * CAST(json_extract(props, '$.k') AS BIGINT) AS BIGINT) AS k_doubled
FROM events
"""


@register("map_functions", oracle=_MAP_FN_ORACLE, tags=("events", "scalar", "map"))
def map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The map-column surface: JSON properties parsed to
    ``map<string,bigint>`` once, then element_at / map_keys /
    transform_values — the typed path for semi-structured event
    properties (vs re-parsing JSON per field). Map outputs are
    projected to atomic columns only (sorted keys joined to one
    string) so results stay hash-comparable across engines — the
    driver's pandas canonicalizer cannot hash list cells.
    """
    ev = read_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    doubled = F.transform_values(m, lambda _, v: v * 2)
    return ev.select(
        "event_id",
        F.element_at(m, "k").alias("k_val"),
        F.size(F.map_keys(m)).alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_sorted"),
        F.element_at(doubled, "k").alias("k_doubled"),
    )


_FUNNEL_ORACLE = """
WITH steps AS (
  SELECT
    user_id,
    MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
    MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events
  GROUP BY user_id
)
SELECT
  user_id,
  CAST(t_view IS NOT NULL AS INTEGER) AS did_view,
  CAST(t_view IS NOT NULL AND t_click > t_view AS INTEGER) AS did_click_after_view,
  CAST(t_view IS NOT NULL AND t_click > t_view AND t_purchase > t_click
       AS INTEGER) AS did_full_funnel
FROM steps
"""


@register("funnel_analysis", oracle=_FUNNEL_ORACLE, tags=("events", "agg"))
def funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase) per user: first
    occurrence of each step via conditional MIN in ONE aggregation
    pass, then ordering predicates — never a per-step self-join (the
    N-step funnel as N fact scans is the classic analytics
    anti-pattern; this is one scan, one shuffle).
    """
    ev = read_table(spark, sf_dir, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    steps = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return steps.select(
        "user_id",
        viewed.cast("int").alias("did_view"),
        clicked.cast("int").alias("did_click_after_view"),
        purchased.cast("int").alias("did_full_funnel"),
    )


_COHORT_ORACLE = """
WITH firsts AS (
  SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id, CAST(e.ts AS DATE) AS active_day
  FROM events e
)
SELECT
  f.cohort_day,
  CAST(datediff('day', f.cohort_day, a.active_day) AS INTEGER) AS day_offset,
  COUNT(DISTINCT a.user_id) AS n_active_users
FROM firsts f
JOIN activity a ON a.user_id = f.user_id
GROUP BY f.cohort_day, datediff('day', f.cohort_day, a.active_day)
"""


@register("cohort_retention", oracle=_COHORT_ORACLE, tags=("events", "agg", "temporal"))
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, activity
    counted per day-offset from that cohort day. The cohort table is
    per-user (small) → broadcast back onto the distinct-activity set;
    two aggregations, both map-side combinable.
    """
    ev = read_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    activity = ev.select(
        "user_id", F.to_date("ts").alias("active_day")
    ).distinct()
    return (
        activity.join(F.broadcast(firsts), "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("active_day", "cohort_day").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active_users"))
    )


_ANOMALY_ORACLE = """
WITH stats AS (
  SELECT
    event_id, user_id, event_type, ts, value,
    COUNT(value) OVER w AS n,
    CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sx,
    CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) OVER w
      AS DOUBLE) AS sxx
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id
               ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
)
SELECT
  event_id, user_id, event_type, ts, value,
  CASE WHEN n >= 3 AND sxx - sx * sx / n > 0
       THEN ROUND((value - sx / n)
                  / sqrt((sxx - sx * sx / n) / (n - 1)), 6)
       END AS trailing_z
FROM stats
"""


@register("rolling_anomaly_score", oracle=_ANOMALY_ORACLE, tags=("events", "window", "temporal"))
def rolling_anomaly_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly score: each reading z-scored against the
    PRECEDING 10 readings of the same (user, type) — strictly past rows
    only, so the operator is causally valid (the batch twin of a
    streaming outlier detector). Exact-decimal rolling sums keep both
    engines bit-identical; insufficient history (<3) → NULL.
    """
    ev = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-10, -1)
    )
    vd = F.col("value").cast("decimal(18,6)")
    n = F.count("value").over(w)
    sx = F.sum(vd).over(w).cast("double")
    sxx = F.sum(vd * vd).over(w).cast("double")
    var = (sxx - sx * sx / n) / (n - 1)
    z = F.when(
        (n >= 3) & (sxx - sx * sx / n > 0),
        F.round((F.col("value") - sx / n) / F.sqrt(var), 6),
    )
    return ev.select(
        "event_id", "user_id", "event_type", "ts", "value",
        z.alias("trailing_z"),
    )


_INTERVAL_JOIN_ORACLE = """
SELECT
  v.user_id,
  v.event_id AS view_id,
  c.event_id AS click_id,
  CAST(date_diff('second', v.ts, c.ts) AS BIGINT) AS lag_s
FROM events v
JOIN events c
  ON v.user_id = c.user_id
 AND v.event_type = 'view' AND c.event_type = 'click'
 AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
"""


@register(
    "view_click_interval_join",
    oracle=_INTERVAL_JOIN_ORACLE,
    tags=("events", "join", "temporal"),
)
def view_click_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (time-bounded) self-join: every click within 30 minutes
    after a view by the same user — the batch twin of the stream-stream
    join in streaming.windows.interval_join_stream (identical join
    condition; there each side carries a watermark so the state store
    can expire rows older than the bound).

    Scale: equi-key on user_id carries the shuffle; the time bound is
    evaluated inside the join so no per-user cross product ever
    materializes beyond the 30-minute band.
    """
    ev = read_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("v_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    joined = v.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    return joined.select(
        "user_id",
        "view_id",
        "click_id",
        (SC.epoch_s("c_ts") - SC.epoch_s("v_ts")).alias("lag_s"),
    )


# ---------------------------------------------------------------------------
# As-of join (point-in-time lookup)
# ---------------------------------------------------------------------------

_ASOF_ORACLE = """
SELECT event_id, user_id, ts, last_error_value FROM (
  SELECT
    event_id, user_id, ts, event_type,
    LAST_VALUE(CASE WHEN event_type = 'error' THEN value END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS last_error_value
  FROM events
) WHERE event_type = 'click'
"""


@register("as_of_join", oracle=_ASOF_ORACLE, tags=("temporal", "window", "join"))
def as_of_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-of) join: each 'click' event picks up the most
    recent 'error' value for the same user at-or-before its timestamp.

    Implemented the scalable way: union-and-carry-forward — one shuffle
    on user_id, ordered window, ``last(..., ignorenulls)`` — instead of
    the naive inequality self-join (``e2.ts <= e1.ts``), which Spark
    would execute as a per-user range intersection growing
    quadratically with events-per-user. The window form is linear and
    streaming-friendly (same shape as applyInPandasWithState carry-over
    state).
    """
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = ev.withColumn(
        "last_error_value",
        F.last(
            F.when(F.col("event_type") == "error", F.col("value")),
            ignorenulls=True,
        ).over(w),
    )
    return carried.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "last_error_value"
    )


# ---------------------------------------------------------------------------
# Range (band) join
# ---------------------------------------------------------------------------

_BANDS = [
    ("low", 0.0, 100000.0),
    ("mid", 100000.0, 300000.0),
    ("high", 300000.0, 1000000000.0),
]

_RANGE_ORACLE = f"""
SELECT b.band, COUNT(*) AS n_orders, {sql_dsum('o.o_totalprice')} AS sum_price
FROM orders o
JOIN (VALUES {", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in _BANDS)})
  AS b(band, lo, hi)
  ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
GROUP BY b.band
"""


@register("range_join_bands", oracle=_RANGE_ORACLE, tags=("temporal", "join", "agg"))
def range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range/band) join: orders matched to a price-band
    dimension on lo <= price < hi, then aggregated per band.

    The band table is tiny and broadcast, so the non-equi predicate
    runs as BroadcastNestedLoopJoin — the *correct* physical plan here:
    each fact row tests 3 bands with zero shuffle. The anti-pattern at
    scale is a non-equi join between two LARGE sides (a real cartesian);
    when both sides are big, bucketize the range into equi-join keys
    first (as lsh_candidate_pairs does).
    """

    o = read_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(_BANDS, "band string, lo double, hi double")
    return (
        o.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo"))
            & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# Calendar gap-filling (dense time grid)
# ---------------------------------------------------------------------------

_GAPFILL_ORACLE = """
WITH bounds AS (
  SELECT CAST(MIN(ts) AS DATE) AS lo, CAST(MAX(ts) AS DATE) AS hi FROM events
),
days AS (
  SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
),
types AS (SELECT DISTINCT event_type FROM events),
daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT d.day, t.event_type, COALESCE(daily.n, 0) AS n_events
FROM days d
CROSS JOIN types t
LEFT JOIN daily ON daily.day = d.day AND daily.event_type = t.event_type
"""


@register("gap_fill_daily", oracle=_GAPFILL_ORACLE, tags=("temporal", "agg"))
def gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily counts per event type — missing (day, type) cells
    filled with 0 by joining aggregates against a generated calendar
    (``F.sequence`` + ``explode``).

    Scale shape: the expensive side (raw events) is reduced to
    per-(day, type) counts FIRST (map-side combinable agg), and only
    then joined to the tiny generated grid — never the other way
    around. The grid side is O(days × types), broadcastable for any
    realistic horizon.
    """
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count("*").alias("n"))
    days = (
        ev.agg(
            F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
        )
        .select(F.explode(F.sequence("lo", "hi")).alias("day"))
    )
    types = ev.select("event_type").distinct()
    grid = days.crossJoin(types)
    return grid.join(F.broadcast(daily), ["day", "event_type"], "left").select(
        "day", "event_type", F.coalesce(F.col("n"), F.lit(0)).alias("n_events")
    )


# ---------------------------------------------------------------------------
# Quantile bucketing (ntile)
# ---------------------------------------------------------------------------

_NTILE_ORACLE = """
SELECT
  o_orderkey,
  o_orderpriority,
  o_totalprice,
  CAST(ntile(4) OVER (
    PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
  ) AS INTEGER) AS quartile
FROM orders
"""


@register("ntile_quartiles", oracle=_NTILE_ORACLE, tags=("temporal", "window"))
def ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group quantile bucketing via ``ntile(4)`` — the windowed
    equal-frequency binning used for stratifying training data. Fully
    deterministic: ties broken by the unique key in the ORDER BY.

    Scale: one shuffle on the partition key; within-partition sort.
    For GLOBAL quantiles over 100 TB use approx_percentile cutpoints +
    a broadcast range join instead of a single-partition window.
    """
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.ntile(4).over(w).alias("quartile"),
    )


_FFILL_ORACLE = """
WITH masked AS (
  SELECT event_id, user_id, ts,
         CASE WHEN event_id % 5 <> 0 THEN value END AS reading
  FROM events
)
SELECT event_id, user_id, ts, reading,
  LAST_VALUE(reading IGNORE NULLS) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS reading_ffill
FROM masked
"""


@register("forward_fill", oracle=_FFILL_ORACLE, tags=("temporal", "window"))
def forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill (last-observation-carried-forward) of a sparse
    sensor column — the standard time-series repair before feature
    extraction. The corpus has no natural nulls, so every 5th reading
    is deterministically masked first. Same linear carry-forward
    window shape as the as-of join: one shuffle on the entity key,
    never a self-join.
    """
    ev = read_table(spark, sf_dir, "events")
    masked = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_id") % 5 != 0, F.col("value")).alias("reading"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return masked.withColumn(
        "reading_ffill", F.last("reading", ignorenulls=True).over(w)
    )


_USER_SEQ_ORACLE = """
SELECT
  user_id,
  COUNT(*) AS n_events,
  array_to_string(list(event_type ORDER BY ts, event_id), ',') AS event_seq,
  array_to_string(
    list_transform(list(event_id ORDER BY ts, event_id)[1:5],
                   x -> CAST(x AS VARCHAR)), ',') AS first5_ids
FROM events
GROUP BY user_id
"""


@register("user_event_sequences", oracle=_USER_SEQ_ORACLE, tags=("temporal", "agg", "llm"))
def user_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity ordered event sequences (the behavioral-sequence
    construction step of a training pipeline): collect structs, sort
    once by (ts, id), project the ordered fields out joined to
    delimited strings (atomic output columns only) — explicit
    ordering because distributed collect order is partition-dependent.
    Scale: one shuffle on the entity key; sequences bounded by per-user
    fan-in (cap with a window top-N first when heavy-hitter users
    exist).
    """
    ev = read_table(spark, sf_dir, "events")
    seq = F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type")))
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.concat_ws(",", F.transform(seq, lambda s: s["event_type"])).alias("event_seq"),
        F.concat_ws(
            ",",
            F.slice(F.transform(seq, lambda s: s["event_id"].cast("string")), 1, 5),
        ).alias("first5_ids"),
    )


_LERP_ORACLE = """
WITH masked AS (
  SELECT event_id, user_id, ts,
         CASE WHEN event_id % 5 <> 0 THEN value END AS reading
  FROM events
), nb AS (
  SELECT event_id, user_id, ts, reading,
    LAST_VALUE(reading IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
    LAST_VALUE(CASE WHEN reading IS NOT NULL THEN epoch_us(ts) END
               IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_t,
    FIRST_VALUE(reading IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
    FIRST_VALUE(CASE WHEN reading IS NOT NULL THEN epoch_us(ts) END
                IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_t
  FROM masked
)
SELECT event_id, user_id, ts, reading,
  ROUND(CASE
    WHEN reading IS NOT NULL THEN reading
    WHEN prev_v IS NOT NULL AND next_v IS NOT NULL AND next_t <> prev_t
      THEN prev_v + (next_v - prev_v)
           * (CAST(epoch_us(ts) - prev_t AS DOUBLE)
              / CAST(next_t - prev_t AS DOUBLE))
    ELSE COALESCE(prev_v, next_v)
  END, 6) AS reading_lerp
FROM nb
"""


@register("linear_interpolate", oracle=_LERP_ORACLE, tags=("temporal", "window"))
def linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted linear interpolation of a sparse sensor column:
    missing readings take prev + (next-prev)·Δt/Δtotal between their
    bracketing known values (boundary gaps degrade to nearest-known —
    pandas ``interpolate(method='time')``, the hypertable
    gap-repair primitive). Every 5th reading is deterministically
    masked since the corpus has no natural nulls.

    Shape: four IGNORE-NULLS window functions over ONE (user, time)
    sort — a single shuffle, no self-join; timestamps lerp in exact
    integer microseconds and the one division is rounded to 6 dp
    (registry convention).
    """
    ev = read_table(spark, sf_dir, "events")
    masked = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_id") % 5 != 0, F.col("value")).alias("reading"),
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    t_us = epoch_us("ts")
    known_t = F.when(F.col("reading").isNotNull(), t_us)
    nb = masked.select(
        "event_id",
        "user_id",
        "ts",
        "reading",
        F.last("reading", ignorenulls=True).over(wb).alias("prev_v"),
        F.last(known_t, ignorenulls=True).over(wb).alias("prev_t"),
        F.first("reading", ignorenulls=True).over(wf).alias("next_v"),
        F.first(known_t, ignorenulls=True).over(wf).alias("next_t"),
    )
    lerp = F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * (
        (t_us - F.col("prev_t")).cast("double")
        / (F.col("next_t") - F.col("prev_t")).cast("double")
    )
    out = (
        F.when(F.col("reading").isNotNull(), F.col("reading"))
        .when(
            F.col("prev_v").isNotNull()
            & F.col("next_v").isNotNull()
            & (F.col("next_t") != F.col("prev_t")),
            lerp,
        )
        .otherwise(F.coalesce("prev_v", "next_v"))
    )
    return nb.select(
        "event_id",
        "user_id",
        "ts",
        "reading",
        F.round(out, 6).alias("reading_lerp"),
    )


# ---------------------------------------------------------------------------
# Nearest as-of join (bidirectional)
# ---------------------------------------------------------------------------

_ASOF_NEAREST_ORACLE = """
WITH carried AS (
  SELECT event_id, user_id, ts, event_type,
    last_value(CASE WHEN event_type = 'error' AND value IS NOT NULL
                    THEN value END IGNORE NULLS) OVER wb AS back_v,
    last_value(CASE WHEN event_type = 'error' AND value IS NOT NULL
                    THEN ts END IGNORE NULLS) OVER wb AS back_ts,
    last_value(CASE WHEN event_type = 'error' AND value IS NOT NULL
                    THEN value END IGNORE NULLS) OVER wf AS fwd_v,
    last_value(CASE WHEN event_type = 'error' AND value IS NOT NULL
                    THEN ts END IGNORE NULLS) OVER wf AS fwd_ts
  FROM events
  WINDOW
    wb AS (PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING),
    wf AS (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
           ROWS UNBOUNDED PRECEDING)
)
SELECT event_id, user_id, ts,
  CASE WHEN back_ts IS NULL THEN fwd_v
       WHEN fwd_ts IS NULL THEN back_v
       WHEN epoch_us(ts) - epoch_us(back_ts)
              <= epoch_us(fwd_ts) - epoch_us(ts) THEN back_v
       ELSE fwd_v END AS nearest_error_value,
  CASE WHEN back_ts IS NULL THEN epoch_us(fwd_ts) - epoch_us(ts)
       WHEN fwd_ts IS NULL THEN epoch_us(ts) - epoch_us(back_ts)
       ELSE LEAST(epoch_us(ts) - epoch_us(back_ts),
                  epoch_us(fwd_ts) - epoch_us(ts)) END AS dist_us
FROM carried
WHERE event_type = 'click'
"""


@register("as_of_join_nearest", oracle=_ASOF_NEAREST_ORACLE, tags=("temporal", "window", "join"))
def as_of_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional as-of join: each 'click' picks the NEAREST 'error'
    value in time — before or after — with ties going to the earlier
    one. Same union-and-carry shape as as_of_join, run in both
    directions (backward last + forward last over the reversed order),
    then a pure-arithmetic nearest pick; still one shuffle on user_id,
    still linear — the naive formulation is an inequality self-join
    both ways. Distances are integral microseconds (no float
    conventions); errors carrying NULL values are ignored so the
    (ts, value) pair always comes from one row.
    """
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    err_v = F.when(
        (F.col("event_type") == "error") & F.col("value").isNotNull(),
        F.col("value"),
    )
    err_ts = F.when(
        (F.col("event_type") == "error") & F.col("value").isNotNull(),
        F.col("ts"),
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(err_v, ignorenulls=True).over(wb).alias("back_v"),
        F.last(err_ts, ignorenulls=True).over(wb).alias("back_ts"),
        F.last(err_v, ignorenulls=True).over(wf).alias("fwd_v"),
        F.last(err_ts, ignorenulls=True).over(wf).alias("fwd_ts"),
    )
    d_back = epoch_us("ts") - epoch_us("back_ts")
    d_fwd = epoch_us("fwd_ts") - epoch_us("ts")
    return carried.filter(F.col("event_type") == "click").select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("back_ts").isNull(), F.col("fwd_v"))
        .when(F.col("fwd_ts").isNull(), F.col("back_v"))
        .when(d_back <= d_fwd, F.col("back_v"))
        .otherwise(F.col("fwd_v"))
        .alias("nearest_error_value"),
        F.when(F.col("back_ts").isNull(), d_fwd)
        .when(F.col("fwd_ts").isNull(), d_back)
        .otherwise(F.least(d_back, d_fwd))
        .alias("dist_us"),
    )


# ---------------------------------------------------------------------------
# Bounded-window EWMA
# ---------------------------------------------------------------------------

_EWMA_SPAN = 16

_EWMA_ORACLE = f"""
SELECT event_id, user_id, ts,
  list_reduce(
    list(ROUND(value * 100, 0))
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN {_EWMA_SPAN - 1} PRECEDING AND CURRENT ROW),
    (acc, x) -> (x + 3.0 * acc) / 4.0) / 100.0 AS ewma
FROM events
"""


@register("ewma_bounded", oracle=_EWMA_ORACLE, tags=("temporal", "window"))
def ewma_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average over a BOUNDED trailing
    window (last {SPAN} events per user, alpha=1/4): collect the frame
    into an array, left-fold the recursive update ``s = (x + 3s)/4``
    seeded with the oldest frame value. The bounded frame is what makes
    EWMA expressible as pure window algebra (unbounded EWMA is
    inherently sequential state — applyInPandasWithState territory)
    and keeps per-row cost constant.

    Determinism is by EXACT arithmetic, not rounding: inputs are
    integer-scaled (×100, 2-dp domain) so with a power-of-two alpha
    every fold intermediate is a dyadic rational within 53 mantissa
    bits (≤14 bits of value + 2 bits per step) — bit-identical on any
    engine. A ROUND(·, 6) of the double fold was NOT enough: EWMA of
    2-dp inputs lands on exact 5-at-the-7th-digit halves, where Spark
    and DuckDB round opposite ways.
    """
    ev = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_EWMA_SPAN - 1), Window.currentRow)
    )
    frame = F.collect_list(F.round(F.col("value") * 100, 0)).over(w)
    ewma = F.aggregate(
        F.slice(frame, 2, _EWMA_SPAN),
        F.element_at(frame, 1),
        lambda acc, x: (x + F.lit(3.0) * acc) / F.lit(4.0),
    )
    return ev.select(
        "event_id", "user_id", "ts", (ewma / F.lit(100.0)).alias("ewma")
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands sessionization (window algebra, not session_window)
# ---------------------------------------------------------------------------

_GAP_US = 1_800 * 1_000_000  # 30-minute inactivity gap, microseconds

_SESSIONIZE_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_GAP_US}
         THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, event_id, ts,
    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM flagged
)
SELECT user_id, CAST(session_idx AS INTEGER) AS session_idx,
       COUNT(*) AS n_events,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
FROM numbered
GROUP BY user_id, session_idx
"""


@register("sessionize_gaps_islands", oracle=_SESSIONIZE_ORACLE, tags=("temporal", "window", "agg"))
def sessionize_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization as pure window algebra (the gaps-and-islands
    idiom): flag rows whose gap from the previous event exceeds 30 min,
    running-sum the flags into a session index, aggregate per (user,
    session). The same semantics as the session_window operator, built
    from lag + cumulative sum instead — the form that composes with
    arbitrary extra window columns. Gap arithmetic is integral
    microseconds (epoch_us both sides), so no float conventions needed.

    Scale: one shuffle on user_id shared by both windows and the final
    aggregation (same partitioning — Catalyst reuses the exchange).
    """
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = epoch_us("ts") - epoch_us(F.lag("ts").over(w))
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(gap.isNull() | (gap > _GAP_US), 1).otherwise(0).alias("new_sess"),
    )
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    numbered = flagged.select(
        "user_id", "ts", F.sum("new_sess").over(cum).alias("session_idx")
    )
    return (
        numbered.groupBy("user_id", F.col("session_idx").cast("int").alias("session_idx"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            (epoch_us(F.max("ts")) - epoch_us(F.min("ts"))).alias(
                "duration_us"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Higher-order map-function surface
# ---------------------------------------------------------------------------

_MAP_HO_ORACLE = """
SELECT
  event_id,
  COALESCE(array_to_string(list_sort(list_transform(json_keys(props),
    k -> upper(k) || '=' || CAST(json_extract(props, '$.' || k) AS BIGINT))),
    ','), '') AS upper_entries,
  -- COALESCE: DuckDB array_to_string([]) is NULL, Spark concat_ws is ''
  COALESCE(array_to_string(list_sort(list_transform(
    list_filter(json_keys(props),
      k -> CAST(json_extract(props, '$.' || k) AS BIGINT) % 2 = 0),
    k -> k || '=' || CAST(json_extract(props, '$.' || k) AS BIGINT))),
    ','), '') AS even_entries
FROM events
"""


@register("map_ho_functions", oracle=_MAP_HO_ORACLE, tags=("events", "map"))
def map_ho_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The higher-order MAP function surface (transform_keys /
    map_filter / map_entries), complementing map_functions' element
    access: keys uppercased, entries filtered by a value predicate.
    Map results are serialized to sorted ``k=v`` strings (atomic
    output columns rule; ASCII keys sort identically on both engines).
    All scan-side Catalyst expressions — the typed map path beats
    re-parsing JSON per derived column.
    """
    ev = read_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")

    def ser(mp) -> F.Column:
        return F.concat_ws(
            ",",
            F.array_sort(
                F.transform(
                    F.map_entries(mp),
                    lambda e: F.concat(
                        e["key"], F.lit("="), e["value"].cast("string")
                    ),
                )
            ),
        )

    upper_m = F.transform_keys(m, lambda k, v: F.upper(k))
    even_m = F.map_filter(m, lambda k, v: v % 2 == 0)
    return ev.select(
        "event_id",
        ser(upper_m).alias("upper_entries"),
        ser(even_m).alias("even_entries"),
    )


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP)
# ---------------------------------------------------------------------------

_TWAP_ORACLE = """
WITH seq AS (
  SELECT user_id, value, epoch_us(ts) AS t,
         lead(epoch_us(ts)) OVER w AS t_next
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), seg AS (
  SELECT user_id,
         t_next - t AS dt_us,
         CAST(ROUND(value * (CAST(t_next - t AS DOUBLE) / 1000000.0), 6)
              AS DECIMAL(28,6)) AS wv
  FROM seq WHERE t_next IS NOT NULL
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       ROUND(CAST(SUM(wv) AS DOUBLE)
             / (CAST(SUM(dt_us) AS DOUBLE) / 1000000.0), 6) AS twap
FROM seg
GROUP BY user_id
"""


@register("time_weighted_avg", oracle=_TWAP_ORACLE, tags=("temporal", "agg"))
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user: each reading weighted by how
    long it was current (interval to the next event), the correct mean
    for irregularly sampled series — an arithmetic mean over-weights
    bursts; TWAP is what metering, pricing (TWAP in trading), and
    sensor rollups actually need.

    Determinism: durations are exact integer microseconds; each
    value·dt product is one identical double op rounded to 6 dp, then
    summed EXACTLY in decimal; the final divide uses identical double
    operands on both engines. Ordering ties break on event_id.

    Scale: one window (single hash exchange on user_id) + one hash-agg
    on the same key — AQE reuses the partitioning, so the whole TWAP
    is ONE shuffle of the events table.
    """


    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = epoch_us("ts")
    seq = ev.select(
        "user_id",
        "value",
        t.alias("t"),
        F.lead(t).over(w).alias("t_next"),
    ).filter(F.col("t_next").isNotNull())
    dt_us = F.col("t_next") - F.col("t")
    wv = F.round(
        F.col("value") * (dt_us.cast("double") / 1_000_000.0), 6
    ).cast("decimal(28,6)")
    return (
        seq.select("user_id", dt_us.alias("dt_us"), wv.alias("wv"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_intervals"),
            F.round(
                F.sum("wv").cast("double")
                / (F.sum("dt_us").cast("double") / 1_000_000.0),
                6,
            ).alias("twap"),
        )
    )


# ---------------------------------------------------------------------------
# Event-transition matrix (first-order Markov counts)
# ---------------------------------------------------------------------------

_TRANSITION_ORACLE = """
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events
), pairs AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM seq WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
), tot AS (
  SELECT from_type, SUM(n) AS n_from FROM pairs GROUP BY from_type
)
SELECT p.from_type, p.to_type,
       CAST(p.n AS BIGINT) AS n,
       ROUND(CAST(p.n AS DOUBLE) / t.n_from, 6) AS p_transition
FROM pairs p JOIN tot t USING (from_type)
"""


@register(
    "event_transition_matrix", oracle=_TRANSITION_ORACLE, tags=("temporal", "agg")
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next=to | current=from) with exact pair counts — the
    behavioral-modeling primitive behind session prediction, funnel
    drop-off analysis, and (on token streams) the bigram LM this
    engine registers for text. Ties in the event ordering break on
    event_id so the sequence is deterministic.

    Scale: ONE window shuffle keyed by user_id produces every
    adjacent pair; the count and row-normalization aggregates run on
    the (from, to) domain — bounded by event-type cardinality squared,
    not by row count.
    """

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    pairs = seq.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    tot = pairs.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return pairs.join(F.broadcast(tot), "from_type").select(
        "from_type",
        "to_type",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n").cast("double") / F.col("n_from"), 6).alias(
            "p_transition"
        ),
    )


# ---------------------------------------------------------------------------
# Cumulative distinct users (growth accounting)
# ---------------------------------------------------------------------------

_CUM_USERS_ORACLE = """
WITH firstseen AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id
),
newby AS (
  SELECT day, COUNT(*) AS new_users FROM firstseen GROUP BY day
),
days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
SELECT d.day,
       CAST(COALESCE(n.new_users, 0) AS BIGINT) AS new_users,
       CAST(SUM(COALESCE(n.new_users, 0)) OVER (ORDER BY d.day) AS BIGINT)
         AS cum_users
FROM days d LEFT JOIN newby n ON n.day = d.day
"""


@register("cumulative_distinct_users", oracle=_CUM_USERS_ORACLE, tags=("temporal", "agg"))
def cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily running count of distinct users ever seen — the growth
    curve every product dashboard starts with. COUNT(DISTINCT) over an
    expanding window is quadratic; the linear-state form used here is
    the standard rewrite: distinct-user first-seen dates (one user-keyed
    hash-agg), new-users-per-day (tiny agg), then a running sum over the
    calendar.

    Scale: the only fact-sized shuffle is the per-user MIN hash-agg
    (map-side combinable). The running-sum window runs over one row per
    DAY — bounded by the calendar, so the single-partition window is
    safe at any data size (this is the same bounded-window argument as
    gap_fill_daily).
    """
    ev = read_table(spark, sf_dir, "events")
    firstseen = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("day")
    )
    newby = firstseen.groupBy("day").agg(F.count("*").alias("new_users"))
    days = ev.select(F.to_date("ts").alias("day")).distinct()
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    joined = days.join(F.broadcast(newby), "day", "left").select(
        "day", F.coalesce("new_users", F.lit(0)).alias("new_users")
    )
    return joined.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).alias("cum_users"),
    )


# ---------------------------------------------------------------------------
# OHLC bar resampling (hourly, per event type)
# ---------------------------------------------------------------------------

_OHLC_ORACLE = """
WITH ranked AS (
  SELECT event_type,
         date_trunc('hour', ts) AS hour,
         value, ts, event_id,
         ROW_NUMBER() OVER (
           PARTITION BY event_type, date_trunc('hour', ts)
           ORDER BY ts, event_id) AS rn_a,
         ROW_NUMBER() OVER (
           PARTITION BY event_type, date_trunc('hour', ts)
           ORDER BY ts DESC, event_id DESC) AS rn_z
  FROM events
)
SELECT event_type, hour,
       CAST(MAX(CASE WHEN rn_a = 1 THEN value END) AS DOUBLE) AS open,
       CAST(MAX(value) AS DOUBLE) AS high,
       CAST(MIN(value) AS DOUBLE) AS low,
       CAST(MAX(CASE WHEN rn_z = 1 THEN value END) AS DOUBLE) AS close,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {vsum} AS sum_value
FROM ranked
GROUP BY event_type, hour
""".format(vsum=sql_dsum("value"))


@register("ohlc_resample_hourly", oracle=_OHLC_ORACLE, tags=("temporal", "window", "agg"))
def ohlc_resample_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar resampling: per event type and hour, the opening value
    (earliest row), high, low, closing value (latest row), count, and
    exact-decimal sum — the canonical time-series downsampling shape
    (market bars, sensor rollups, metric pre-aggregation).

    Determinism: open/close are picked by ROW_NUMBER over the total
    order (ts, event_id) — unique, so both engines select the same row
    even with duplicate timestamps.

    Scale: one shuffle keyed (event_type, hour) serves both the window
    (Spark co-partitions the window by the same keys) and the final
    hash-agg — Catalyst reuses the exchange. At 100 TB this is the
    pre-aggregation that makes everything downstream cheap: output
    cardinality is types × hours, independent of input row count.
    """
    ev = read_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    base = ev.select("event_type", hour.alias("hour"), "value", "ts", "event_id")
    wa = Window.partitionBy("event_type", "hour").orderBy("ts", "event_id")
    wz = Window.partitionBy("event_type", "hour").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = base.select(
        "event_type",
        "hour",
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wz).alias("rn_z"),
    )
    return ranked.groupBy("event_type", "hour").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_z") == 1, F.col("value"))).alias("close"),
        F.count("*").alias("n_events"),
        dsum("value").alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# CUSUM drift detection over the daily revenue series
# ---------------------------------------------------------------------------

_CUSUM_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(rev) AS DOUBLE) / COUNT(*) AS mu FROM daily
)
SELECT day,
       CAST(rev AS DOUBLE) AS revenue,
       ROUND(CAST(SUM(rev) OVER (ORDER BY day) AS DOUBLE)
             - ROW_NUMBER() OVER (ORDER BY day)
               * ROUND((SELECT mu FROM tot), 6), 6)
         AS cusum
FROM daily
"""


def cusum_over_daily(daily: DataFrame) -> DataFrame:
    """Day-grain CUSUM math shared by the batch query and the
    streaming rollup (streaming/windows.py ``rollup_cusum``): input is
    (day, rev) with ``rev`` an exact DECIMAL daily sum; output is
    (day, revenue, cusum). ONE implementation so the stream≡batch
    parity test pins the streaming twin against exactly the arithmetic
    the driver oracle-checks — same discipline as the shared LSH
    candidate generator (lsh_candidate_pairs).
    """
    mu = daily.agg(
        (F.sum("rev").cast("double") / F.count("*")).alias("mu")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    wr = Window.orderBy("day")
    return (
        daily.crossJoin(F.broadcast(mu))
        .select(
            "day",
            F.col("rev").cast("double").alias("revenue"),
            # i·μ uses the 6dp-ROUNDED mean: the raw division could put
            # exact_running_sum − i·μ exactly on a 6dp half-boundary
            # where the engines' ROUND disagree; i × (6dp decimal)
            # keeps the result within 1 ulp of an exact 6dp value.
            F.round(
                F.sum("rev").over(w).cast("double")
                - F.row_number().over(wr) * F.round(F.col("mu"), 6),
                6,
            ).alias("cusum"),
        )
    )


@register("cusum_drift_daily", oracle=_CUSUM_ORACLE, tags=("temporal", "stats"))
def cusum_drift_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift statistic over daily revenue: running Σ(xᵢ − μ) —
    the classic change-point / regime-shift detector (a sustained
    level shift makes the cusum ramp; the max-|cusum| day estimates the
    break). The same statistic a data pipeline runs over daily ingest
    volumes or quality scores to catch silent upstream changes.

    Determinism: per-day revenue and its running sum stay in exact
    DECIMAL; μ is one double; cusum = exact_double − i·μ is identical
    arithmetic both sides, ROUND 6.

    Scale: the fact-sized stage is the per-day hash-agg; everything
    after runs on one row per day (bounded window, broadcast scalar μ).
    The day-grain math lives in :func:`cusum_over_daily`, shared with
    the incremental streaming twin (streaming/windows.py
    ``daily_revenue_stream`` + ``rollup_cusum``).
    """
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    return cusum_over_daily(daily)


# ---------------------------------------------------------------------------
# Lag-1 autocorrelation of the daily revenue series
# ---------------------------------------------------------------------------

_AUTOCORR_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
),
lagged AS (
  SELECT CAST(rev AS DOUBLE) AS x,
         CAST(LAG(rev) OVER (ORDER BY day) AS DOUBLE) AS y
  FROM daily
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_pairs,
  ROUND(
    (COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))
    / SQRT((COUNT(*) * SUM(x * x) - SUM(x) * SUM(x))
         * (COUNT(*) * SUM(y * y) - SUM(y) * SUM(y))), 6)
    AS lag1_autocorr
FROM lagged
WHERE y IS NOT NULL
"""


@register("autocorr_daily_revenue", oracle=_AUTOCORR_ORACLE, tags=("temporal", "stats"))
def autocorr_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of daily revenue — Pearson correlation of
    the series with its own previous day, the first diagnostic of any
    forecasting workflow (near 0 ⇒ white noise, near 1 ⇒ momentum).
    Computed from sufficient statistics over the (x_t, x_{t-1}) pairs.

    Determinism: daily revenues are exact decimal sums cast to double
    (bit-identical both engines); the Pearson sufficient stats are then
    double sums over ONE ROW PER DAY — a bounded series, so summation
    order is the single-partition window order on both engines; ROUND 6
    absorbs ulp noise.

    Scale: fact-sized work is the per-day agg; the LAG window and the
    correlation run on the bounded daily series. For an unbounded key
    (per-product autocorrelation) the same plan partitions the window
    by the key — nothing about the shape changes.
    """
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        F.col("rev").cast("double").alias("x"),
        F.lag("rev").over(w).cast("double").alias("y"),
    ).filter(F.col("y").isNotNull())
    n = F.count("*")
    sx, sy = F.sum("x"), F.sum("y")
    sxy = F.sum(F.col("x") * F.col("y"))
    sxx = F.sum(F.col("x") * F.col("x"))
    syy = F.sum(F.col("y") * F.col("y"))
    return lagged.agg(
        n.cast("long").alias("n_pairs"),
        F.round(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("lag1_autocorr"),
    )


# ---------------------------------------------------------------------------
# Interval-union coverage (merge overlapping activity windows)
# ---------------------------------------------------------------------------

_COVERAGE_ORACLE = """
WITH iv AS (
  SELECT user_id,
         CAST(ts AS TIMESTAMP) - INTERVAL 5 MINUTE AS s,
         CAST(ts AS TIMESTAMP) + INTERVAL 5 MINUTE AS e
  FROM events
),
flagged AS (
  SELECT user_id, s, e,
         CASE WHEN s > MAX(e) OVER (
                PARTITION BY user_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM iv
),
islands AS (
  SELECT user_id, s, e,
         SUM(new_island) OVER (
           PARTITION BY user_id ORDER BY s, e
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
),
merged AS (
  SELECT user_id, island,
         MIN(s) AS lo, MAX(e) AS hi
  FROM islands GROUP BY user_id, island
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(SUM(epoch_us(hi) - epoch_us(lo)) AS DOUBLE) / 1000000.0
         AS covered_seconds
FROM merged
GROUP BY user_id
"""


@register("interval_union_coverage", oracle=_COVERAGE_ORACLE, tags=("temporal", "window"))
def interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage: expand each event to a ±5-minute
    activity window, merge overlapping windows per user (gaps-and-
    islands: a window starts a new island iff its start exceeds the
    running max end of everything before it), and report per-user
    island count and total covered seconds. The dedup-aware "time
    actually active" metric — naive SUM(duration) double-counts
    overlaps; this is the canonical fix (same shape as merging IP-block
    ranges or sensor uptime windows).

    Determinism: timestamps are exact microseconds; EPOCH differences
    are exact doubles; island assignment uses the total order (s, e).

    Scale: one shuffle on user_id; both windows and the final aggs run
    inside that partitioning (running-max and running-sum are O(1)
    state per row). No joins — this beats the common self-join interval
    merge, which is quadratic per user.
    """
    ev = read_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 5 MINUTES")).alias("s"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("e"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = iv.select(
        "user_id",
        "s",
        "e",
        F.when(F.col("s") > F.max("e").over(w_prev), 1)
        .otherwise(0)
        .alias("new_island"),
    )
    islands = flagged.select(
        "user_id", "s", "e", F.sum("new_island").over(w_run).alias("island")
    )
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("lo"), F.max("e").alias("hi")
    )
    # Durations summed as exact integer microseconds (order-free),
    # converted to seconds once at the end — a double-seconds sum would
    # be partition-order-sensitive and break cross-engine equality.
    return merged.groupBy("user_id").agg(
        F.count("*").alias("n_islands"),
        (
            F.sum(F.expr("timestampdiff(MICROSECOND, lo, hi)")).cast("double")
            / F.lit(1000000.0)
        ).alias("covered_seconds"),
    )


# ---------------------------------------------------------------------------
# Day-of-week seasonal decomposition of daily revenue
# ---------------------------------------------------------------------------

# Portable day-of-week: days since Monday 1970-01-05 mod 7 (0=Mon..6=Sun).
# Spark's dayofweek() (1=Sun) and DuckDB's dayofweek (0=Sun) disagree;
# pure integer date arithmetic is identical everywhere.

_DOW_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
),
keyed AS (
  SELECT day, rev,
         (CAST(day - DATE '1970-01-05' AS INTEGER) % 7 + 7) % 7 AS dow
  FROM daily
),
seasonal AS (
  SELECT dow,
         CAST(SUM(rev) AS DOUBLE) / COUNT(*) AS dow_mean
  FROM keyed GROUP BY dow
)
SELECT k.day,
       CAST(k.rev AS DOUBLE) AS revenue,
       CAST(k.dow AS INTEGER) AS dow,
       ROUND(s.dow_mean, 6) AS dow_mean,
       ROUND(CAST(k.rev AS DOUBLE) - ROUND(s.dow_mean, 6), 6) AS residual
FROM keyed k JOIN seasonal s ON s.dow = k.dow
"""


@register("seasonal_dow_decompose", oracle=_DOW_ORACLE, tags=("temporal", "stats"))
def seasonal_dow_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal decomposition of daily revenue: each day's
    value split into its weekday mean (the seasonal component) and the
    residual — the first pass of every ops/forecasting dashboard
    ("is Monday always low, or is THIS Monday anomalous?"). Residuals
    are what anomaly detectors should score; raw values conflate
    seasonality with incidents.

    Determinism: day-of-week is pure integer date arithmetic (days
    since a known Monday mod 7) — Spark's and DuckDB's dayofweek
    functions number weekdays differently, so neither is used. Daily
    revenue and the weekday means come from exact decimal sums.

    Scale: the fact-sized stage is the per-day hash-agg; the seasonal
    table is 7 rows (broadcast join back), and the output is one row
    per day — bounded by the calendar.
    """
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    keyed = daily.select(
        "day",
        "rev",
        (
            (F.datediff("day", F.lit("1970-01-05").cast("date")) % 7 + 7) % 7
        ).alias("dow"),
    )
    seasonal = keyed.groupBy("dow").agg(
        (F.sum("rev").cast("double") / F.count("*")).alias("dow_mean")
    )
    return keyed.join(F.broadcast(seasonal), "dow").select(
        "day",
        F.col("rev").cast("double").alias("revenue"),
        F.col("dow").cast("int").alias("dow"),
        F.round("dow_mean", 6).alias("dow_mean"),
        # residual subtracts the ROUNDED mean: rev − raw mean can land
        # exactly on a 6dp half-boundary (a 2dp value minus a /n
        # rational), where Spark's and DuckDB's ROUND disagree; rev −
        # round6(mean) stays within 1 ulp of an exact 6dp decimal,
        # where both engines agree.
        F.round(
            F.col("rev").cast("double") - F.round(F.col("dow_mean"), 6), 6
        ).alias("residual"),
    )


# ---------------------------------------------------------------------------
# Week-over-week revenue growth
# ---------------------------------------------------------------------------

_WOW_ORACLE = """
WITH weekly AS (
  SELECT date_trunc('week', CAST(o_orderdate AS DATE)) AS week,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
)
SELECT CAST(week AS DATE) AS week,
       CAST(rev AS DOUBLE) AS revenue,
       ROUND((CAST(rev AS DOUBLE) - CAST(LAG(rev) OVER (ORDER BY week) AS DOUBLE))
             / CAST(LAG(rev) OVER (ORDER BY week) AS DOUBLE), 6) AS wow_growth
FROM weekly
"""


@register("weekly_revenue_growth", oracle=_WOW_ORACLE, tags=("temporal", "window"))
def weekly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue growth rate: weekly exact-decimal revenue
    with LAG-based percent change — the growth-accounting number every
    business review opens with. First week's growth is NULL (no prior),
    identically in both engines. ISO-Monday week truncation on both
    sides.

    Scale: one fact-sized hash-agg to weeks, then a LAG window over one
    row per week — bounded by the calendar; the single-partition window
    is safe at any data size.
    """
    o = read_table(spark, sf_dir, "orders")
    weekly = o.groupBy(
        F.date_trunc("week", F.col("o_orderdate")).cast("date").alias("week")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    w = Window.orderBy("week")
    prev = F.lag(F.col("rev")).over(w).cast("double")
    return weekly.select(
        "week",
        F.col("rev").cast("double").alias("revenue"),
        F.round((F.col("rev").cast("double") - prev) / prev, 6).alias(
            "wow_growth"
        ),
    )


# ---------------------------------------------------------------------------
# Trailing 7-day distinct users (sliding COUNT DISTINCT)
# ---------------------------------------------------------------------------

_SLIDE_DAYS = 7

_SLIDING_DAU_ORACLE = f"""
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
),
days AS (SELECT DISTINCT day FROM du),
contrib AS (
  SELECT d.day AS obs_day, du.user_id
  FROM du JOIN days d ON d.day BETWEEN du.day AND du.day + {_SLIDE_DAYS - 1}
)
SELECT obs_day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users_7d
FROM contrib GROUP BY obs_day
"""


@register(
    "sliding_distinct_users_7d", oracle=_SLIDING_DAU_ORACLE, tags=("temporal", "agg")
)
def sliding_distinct_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct active users per day (the canonical
    WAU-by-day metric). COUNT DISTINCT over a sliding window cannot be
    computed with a window frame (distinct state is not subtractable),
    so the classic rewrite applies: collapse the fact table to the
    (day, user) grain first, then let each active day CONTRIBUTE to the
    7 observation days it falls in and re-aggregate.

    Scale: the expansion is a constant ×7 of the already-collapsed
    (day, user) table — NOT of the raw fact table — expressed as an
    `explode(sequence(...))` so the contribution join is a pure
    equi-shuffle on the day key (never an inequality/range join, which
    Spark would plan as a nested-loop). Semi-join against observed
    days prunes partial windows that precede the data.
    """
    e = read_table(spark, sf_dir, "events")
    du = e.select(F.to_date("ts").alias("day"), "user_id").distinct()
    days = du.select(F.col("day").alias("obs_day")).distinct()
    contrib = du.select(
        F.explode(
            F.expr(f"sequence(day, date_add(day, {_SLIDE_DAYS - 1}), interval 1 day)")
        ).alias("obs_day"),
        "user_id",
    )
    return (
        contrib.join(days, "obs_day")
        .groupBy("obs_day")
        .agg(F.count_distinct("user_id").alias("users_7d"))
    )


# ---------------------------------------------------------------------------
# Holt linear-trend forecast (double exponential smoothing, literal weights)
# ---------------------------------------------------------------------------

_HOLT_ALPHA = 0.3

_HOLT_BETA = 0.2

_HOLT_N = 14


def _holt_coeffs(n: int, a: float, b: float) -> list[float]:
    """Unroll Holt's recursion symbolically: coefficients c_i such that
    (level_n + trend_n) = Σ c_i · y_i for the oldest-first series
    y_1..y_n with l1=y1, b1=y2-y1. Pure float arithmetic on module
    constants — both engines receive the IDENTICAL literal weights."""
    lvl = [0.0] * n
    trd = [0.0] * n
    lvl[0] = 1.0
    trd[0], trd[1] = -1.0, 1.0
    for t in range(1, n):
        prev_l, prev_t = lvl[:], trd[:]
        lvl = [(1 - a) * (pl + pt) for pl, pt in zip(prev_l, prev_t)]
        lvl[t] += a
        trd = [b * (nl - pl) + (1 - b) * pt
               for nl, pl, pt in zip(lvl, prev_l, prev_t)]
    return [l + t for l, t in zip(lvl, trd)]


_HOLT_C = _holt_coeffs(_HOLT_N, _HOLT_ALPHA, _HOLT_BETA)

_SQL_HOLT_C = "[" + ", ".join(repr(c) for c in _HOLT_C) + "]"

_HOLT_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS rev
  FROM orders GROUP BY 1
),
lastn AS (
  SELECT day, rev, ROW_NUMBER() OVER (ORDER BY day DESC) AS rd
  FROM daily QUALIFY rd <= {_HOLT_N}
),
ranked AS (
  SELECT day, rev, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM lastn
)
SELECT MAX(day) AS last_day,
       CAST(SUM(CAST(ROUND(({_SQL_HOLT_C})[rn] * rev, 6) AS DECIMAL(18,6)))
            AS DOUBLE) AS forecast_next_revenue
FROM ranked
"""


@register("holt_linear_forecast", oracle=_HOLT_ORACLE, tags=("temporal", "forecast"))
def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential (level + trend) one-step revenue
    forecast over the last 14 days — the forecasting step up from the
    flat EWMA (ewma_bounded): a linear trend component keeps the
    prediction from lagging a drifting series. The inherently
    sequential recursion is made engine-neutral by unrolling it
    SYMBOLICALLY at import time: over a fixed 14-day horizon, Holt is
    a linear filter, so level₁₄+trend₁₄ = Σ cᵢ·yᵢ with weights cᵢ
    depending only on (α, β) — computed once in Python and fed to
    BOTH engines as shared literals. Per-term products are ROUND-6 +
    decimal-summed, the house rule for order-independent float totals.

    Scale: one map-combined hash-agg over orders builds the daily
    series; everything after runs on 14 rows. The bounded-horizon
    linear-filter trick generalizes to any fixed-window recursive
    smoother (Brown, damped-trend Holt).
    """
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("rev")
    )
    lastn = daily.orderBy(F.col("day").desc()).limit(_HOLT_N)
    w = Window.partitionBy(F.lit(1)).orderBy("day")
    ranked = lastn.select("day", "rev", F.row_number().over(w).alias("rn"))
    coeffs = F.array(*[F.lit(c) for c in _HOLT_C])
    term = F.round(F.element_at(coeffs, F.col("rn")) * F.col("rev"), 6)
    return ranked.agg(
        F.max("day").alias("last_day"),
        F.sum(term.cast("decimal(18,6)"))
        .cast("double")
        .alias("forecast_next_revenue"),
    )


# ---------------------------------------------------------------------------
# Lagged cross-correlation of two daily event series
# ---------------------------------------------------------------------------

_XCORR_LAGS = list(range(-3, 4))

_XCORR_ORACLE = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
           AS x,
         {sql_dsum("CASE WHEN event_type = 'purchase' THEN value ELSE 0 END")}
           AS y
  FROM events GROUP BY 1
),
lagged AS (
  SELECT lag, a.x AS x, b.y AS y
  FROM daily a,
       (SELECT unnest([{", ".join(str(v) for v in _XCORR_LAGS)}]) AS lag) lags
  JOIN daily b ON b.day = a.day + lag
),
stats AS (
  SELECT lag, COUNT(*) AS n,
         CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(28,6)) * CAST(x AS DECIMAL(28,6)))
              AS DOUBLE) AS qx,
         CAST(SUM(CAST(y AS DECIMAL(28,6)) * CAST(y AS DECIMAL(28,6)))
              AS DOUBLE) AS qy,
         CAST(SUM(CAST(x AS DECIMAL(28,6)) * CAST(y AS DECIMAL(28,6)))
              AS DOUBLE) AS xy
  FROM lagged GROUP BY lag
)
SELECT CAST(lag AS INTEGER) AS lag, CAST(n AS BIGINT) AS n_days,
       ROUND((n * xy - sx * sy)
             / SQRT((n * qx - sx * sx) * (n * qy - sy * sy)), 6) AS r
FROM stats
"""


@register("crosscorr_event_series", oracle=_XCORR_ORACLE, tags=("temporal", "stats"))
def crosscorr_event_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged Pearson cross-correlation between two daily series —
    view COUNT vs purchase REVENUE — at lags −3..+3 days: the lead-lag
    diagnostic behind "do views predict purchases, and how far ahead?"
    (the argmax-|r| lag is the candidate lead time). Per lag, the five
    sufficient statistics are computed as exact DECIMAL(28,6) sums
    (corr_matrix_lineitem's convention) so both engines feed identical
    doubles into the one SQRT, ROUND 6.

    Scale: ONE fact pass builds the daily aggregate (map-combined);
    the lag fan-out (×7 literal lags) and the self-join run on the
    DAY-grain table — thousands of rows per decade of data.
    """
    e = read_table(spark, sf_dir, "events")
    dec = "decimal(28,6)"
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value"))
            .otherwise(0.0)
            .cast("decimal(18,6)")
        )
        .cast("double")
        .alias("y"),
    )
    a = daily.select(
        "day", "x", F.explode(F.array(*[F.lit(v) for v in _XCORR_LAGS])).alias("lag")
    )
    b = daily.select(F.col("day").alias("bday"), F.col("y").alias("by"))
    lagged = a.join(b, F.expr("bday = date_add(day, lag)")).select(
        "lag", "x", F.col("by").alias("y")
    )
    xd, yd = F.col("x").cast(dec), F.col("y").cast(dec)
    stats = lagged.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(xd * xd).cast("double").alias("qx"),
        F.sum(yd * yd).cast("double").alias("qy"),
        F.sum(xd * yd).cast("double").alias("xy"),
    )
    r = (F.col("n") * F.col("xy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("qx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("qy") - F.col("sy") * F.col("sy"))
    )
    return stats.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n").alias("n_days"),
        F.round(r, 6).alias("r"),
    )


# ---------------------------------------------------------------------------
# Hourly trending event types (rank + delta vs previous hour)
# ---------------------------------------------------------------------------

_TRENDING_ORACLE = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hr, event_type, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT hr, event_type, cnt,
         ROW_NUMBER() OVER (PARTITION BY hr ORDER BY cnt DESC, event_type)
           AS rnk,
         cnt - LAG(cnt) OVER (PARTITION BY event_type ORDER BY hr) AS delta
  FROM hourly
)
SELECT hr, event_type, CAST(cnt AS BIGINT) AS cnt,
       CAST(rnk AS INTEGER) AS rnk, CAST(delta AS BIGINT) AS delta_vs_prev
FROM ranked WHERE rnk <= 3
"""


@register("trending_event_types_hourly", oracle=_TRENDING_ORACLE, tags=("temporal", "window"))
def trending_event_types_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly trending leaderboard: top-3 event types per hour by
    count, each carrying its delta against the SAME type's previous
    hour — rank-within-period composed with lag-across-periods, the
    two window partitionings a trending feed needs (and they cannot
    share a shuffle: one keys by hour, one by type; both run on the
    hour×type AGGREGATE, which is domain-bounded — 5 types × hours —
    so neither window ever sees fact-table volume).
    """
    e = read_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hr"), "event_type"
    ).agg(F.count("*").alias("cnt"))
    w_rank = Window.partitionBy("hr").orderBy(F.col("cnt").desc(), "event_type")
    w_lag = Window.partitionBy("event_type").orderBy("hr")
    return (
        hourly.withColumn("rnk", F.row_number().over(w_rank))
        .withColumn("delta_vs_prev", F.col("cnt") - F.lag("cnt").over(w_lag))
        .filter(F.col("rnk") <= 3)
        .select(
            "hr",
            "event_type",
            "cnt",
            F.col("rnk").cast("int").alias("rnk"),
            F.col("delta_vs_prev").cast("bigint").alias("delta_vs_prev"),
        )
    )


# ---------------------------------------------------------------------------
# Consecutive event-pattern match (view → view → purchase)
# ---------------------------------------------------------------------------

_PATTERN_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type, 1) OVER w AS e1,
         LEAD(event_type, 2) OVER w AS e2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_matches
FROM seq
WHERE event_type = 'view' AND e1 = 'view' AND e2 = 'purchase'
GROUP BY user_id
"""


@register("event_pattern_vvp", oracle=_PATTERN_ORACLE, tags=("events", "window"))
def event_pattern_vvp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONSECUTIVE event-pattern matching (MATCH_RECOGNIZE-lite): per
    user, occurrences of the strict sequence view → view → purchase
    with NO intervening event — lead(1)/lead(2) over the per-user
    time order turns the pattern into a row predicate. Complements
    funnel_analysis (first-occurrence ordering, gaps allowed): strict
    adjacency is the shape for intent detection and bot fingerprints,
    where what matters is the uninterrupted run. One window shuffle
    keyed by user; the pattern check is scan-side on the windowed
    rows; k-step patterns cost k-1 leads on the SAME window spec (one
    sort).
    """
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("e1"),
        F.lead("event_type", 2).over(w).alias("e2"),
    )
    return (
        seq.filter(
            (F.col("event_type") == "view")
            & (F.col("e1") == "view")
            & (F.col("e2") == "purchase")
        )
        .groupBy("user_id")
        .agg(F.count("*").alias("n_matches"))
    )


# ---------------------------------------------------------------------------
# Session-length histogram (gaps-and-islands sessionization rollup)
# ---------------------------------------------------------------------------

_SESSION_GAP_MIN = 30

_SESSION_HIST_ORACLE = f"""
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)
                   > INTERVAL {_SESSION_GAP_MIN} MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_start
  FROM events
),
sess AS (
  SELECT user_id,
         SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
),
lens AS (
  SELECT user_id, session_id, COUNT(*) AS len
  FROM sess GROUP BY user_id, session_id
)
SELECT CAST(LEAST(len, 10) AS INTEGER) AS session_len_capped,
       CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM lens GROUP BY 1
"""


@register(
    "session_length_histogram", oracle=_SESSION_HIST_ORACLE, tags=("events", "window")
)
def session_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-length distribution: gaps-and-islands sessionization
    ({G}-minute inactivity cut) rolled up to a capped histogram of
    events-per-session — the engagement-depth curve (and the
    downstream of sessionize_gaps_islands, which emits the sessions
    themselves). The session id is a running SUM of start markers
    over the SAME per-user shuffle the lag marker used — one exchange
    powers both windows; the two rollups after it are hash-aggs on
    collapsing grains (sessions, then lengths).
    """

    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    gap_s = (epoch_us("ts") - epoch_us(prev_ts)) / F.lit(1_000_000)
    marked = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            prev_ts.isNull() | (gap_s > _SESSION_GAP_MIN * 60), 1
        )
        .otherwise(0)
        .alias("is_start"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = marked.select(
        "user_id", F.sum("is_start").over(w_run).alias("session_id")
    )
    lens = sess.groupBy("user_id", "session_id").agg(F.count("*").alias("len"))
    return lens.groupBy(
        F.least(F.col("len"), F.lit(10)).cast("int").alias("session_len_capped")
    ).agg(F.count("*").alias("n_sessions"))


# ---------------------------------------------------------------------------
# Churn & resurrection lifecycle stats
# ---------------------------------------------------------------------------

_CHURN_DAYS = 14

_RESURRECT_DAYS = 7

_CHURN_ORACLE = f"""
WITH gaps AS (
  SELECT user_id, ts,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
per_user AS (
  SELECT user_id,
         COUNT(*) AS n_events,
         MAX(ts) AS last_seen,
         SUM(CASE WHEN prev_ts IS NOT NULL
                  AND ts - prev_ts > INTERVAL {_RESURRECT_DAYS} DAY
                  THEN 1 ELSE 0 END) AS n_resurrections
  FROM gaps GROUP BY user_id
),
horizon AS (SELECT MAX(ts) AS max_ts FROM events)
SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
       CAST(n_resurrections AS BIGINT) AS n_resurrections,
       last_seen < max_ts - INTERVAL {_CHURN_DAYS} DAY AS churned
FROM per_user, horizon
"""


@register("churn_resurrection_stats", oracle=_CHURN_ORACLE, tags=("events", "window"))
def churn_resurrection_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User lifecycle states from the event stream: per user, activity
    volume, RESURRECTION count (activity gaps > {R} days — the user
    left and came back), and a CHURNED flag (silent for the last {C}
    days of the observation window) — the growth-accounting trio
    behind every retention dashboard. One per-user window pass
    computes the gaps; the churn horizon is a 1-row broadcast MAX;
    all comparisons are integer microsecond arithmetic.
    """
    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gaps = e.select(
        "user_id",
        "ts",
        F.when(
            prev.isNotNull()
            & (
                epoch_us("ts") - epoch_us(prev)
                > _RESURRECT_DAYS * 86_400 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("is_resurrection"),
    )
    per_user = gaps.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.max("ts").alias("last_seen"),
        F.sum("is_resurrection").cast("bigint").alias("n_resurrections"),
    )
    horizon = e.agg(F.max("ts").alias("max_ts"))
    return per_user.crossJoin(F.broadcast(horizon)).select(
        "user_id",
        "n_events",
        "n_resurrections",
        (
            epoch_us("last_seen")
            < epoch_us("max_ts") - _CHURN_DAYS * 86_400 * 1_000_000
        ).alias("churned"),
    )


# ---------------------------------------------------------------------------
# Out-of-order lateness audit (watermark sizing input)
# ---------------------------------------------------------------------------

_OOO_ORACLE = """
WITH arr AS (
  SELECT event_type, ts,
         MAX(ts) OVER (PARTITION BY user_id ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS high_water
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN ts < high_water THEN 1 ELSE 0 END) AS BIGINT)
         AS n_late,
       CAST(COALESCE(MAX(CASE WHEN ts < high_water
                 THEN (epoch_us(high_water) - epoch_us(ts)) // 1000000 END),
                 0) AS BIGINT)
         AS max_late_seconds
FROM arr GROUP BY event_type
"""


@register("out_of_order_stats", oracle=_OOO_ORACLE, tags=("events", "streaming"))
def out_of_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness audit: treating event_id as ARRIVAL order,
    how often does an event's timestamp fall behind its user's
    running high-water mark, and by how much — exactly the statistic
    that sizes a Structured Streaming WATERMARK (streaming/windows.py
    ops): the watermark must exceed max_late_seconds or late rows are
    dropped. The running max rides a per-USER window (never a
    per-type one — 5 type partitions would single-thread the fact
    table; user keys scale), then rolls up per type. All integer
    microsecond arithmetic.
    """
    e = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    arr = e.select(
        "event_type",
        "ts",
        F.max("ts").over(w).alias("high_water"),
    )
    late = F.col("ts") < F.col("high_water")
    late_s = (
        (epoch_us("high_water") - epoch_us("ts")) / F.lit(1_000_000)
    ).cast("bigint")
    return arr.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(late, 1).otherwise(0)).cast("bigint").alias("n_late"),
        F.coalesce(F.max(F.when(late, late_s)), F.lit(0))
        .cast("bigint")
        .alias("max_late_seconds"),
    )


# ---------------------------------------------------------------------------
# Generated calendar dimension + coverage audit
# ---------------------------------------------------------------------------

_CALENDAR_ORACLE = """
WITH span AS (
  SELECT CAST(MIN(o_orderdate) AS DATE) AS d0,
         CAST(MAX(o_orderdate) AS DATE) AS d1
  FROM orders
),
cal AS (
  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM span
),
od AS (
  SELECT DISTINCT CAST(o_orderdate AS DATE) AS day FROM orders
)
SELECT CAST(date_part('year', cal.day) AS INTEGER) AS year,
       CAST(date_part('month', cal.day) AS INTEGER) AS month,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(CASE WHEN date_part('isodow', cal.day) >= 6
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_weekend_days,
       CAST(COUNT(od.day) AS BIGINT) AS n_days_with_orders
FROM cal LEFT JOIN od ON od.day = cal.day
GROUP BY 1, 2
"""


@register("calendar_dim_coverage", oracle=_CALENDAR_ORACLE, tags=("temporal", "agg"))
def calendar_dim_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated calendar dimension + coverage audit: synthesize the
    full day spine over the fact table's date span (the warehouse
    date-dimension build — `sequence` explode from a 1-row span
    aggregate, no source table needed), stamp weekday/weekend
    attributes, and left-join the observed order days to report
    per-month coverage — the gap detector that catches silently
    missing ingest days (gap_fill_daily's reporting-side companion).
    The spine is generated from a broadcast 1-row span; the only
    fact-scale work is one distinct-days projection.
    """
    o = read_table(spark, sf_dir, "orders")
    span = o.agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    )
    cal = span.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day")
    )
    od = o.select(F.to_date("o_orderdate").alias("oday")).distinct()
    return (
        cal.join(od, cal["day"] == od["oday"], "left")
        .groupBy(
            F.year("day").alias("year"), F.month("day").alias("month")
        )
        .agg(
            F.count("*").alias("n_days"),
            F.sum(
                F.when(F.dayofweek("day").isin(1, 7), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_weekend_days"),
            F.count("oday").alias("n_days_with_orders"),
        )
    )


_DAILY_CTE = """
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, rev) with rev an exact decimal daily sum — the shared
    fact-sized stage of every daily-series query in this module (same
    spelling as cusum_drift_daily's input)."""
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust slope of the daily revenue series
# ---------------------------------------------------------------------------

_THEIL_SEN_ORACLE = f"""
WITH daily AS ({_DAILY_CTE}),
pairs AS (
  SELECT ROUND((CAST(b.rev AS DOUBLE) - CAST(a.rev AS DOUBLE))
               / datediff('day', a.day, b.day), 6) AS slope6
  FROM daily a JOIN daily b ON a.day < b.day
),
k AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST((COUNT(*) + 1) // 2 AS BIGINT) AS kk
  FROM pairs
),
r AS (
  SELECT slope6, ROW_NUMBER() OVER (ORDER BY slope6) AS rn FROM pairs
)
SELECT (SELECT n FROM k) AS n_pairs, slope6 AS theil_sen_slope
FROM r WHERE rn = (SELECT kk FROM k)
"""


@register(
    "theil_sen_slope_daily", oracle=_THEIL_SEN_ORACLE, tags=("temporal", "stats")
)
def theil_sen_slope_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen estimator: the median of all pairwise slopes
    (revⱼ−revᵢ)/(dayⱼ−dayᵢ) of the daily revenue series — the robust
    trend line (breakdown point 29%) where OLS is dragged by a single
    outlier day. Median = lower median (element ⌈n/2⌉ of the sorted
    slopes), deterministic on both engines because equal-rounded slopes
    are exact ties.

    Determinism: daily revenues are exact decimal sums; each pairwise
    slope is one double subtraction + division (identical IEEE ops both
    engines) rounded to 6 dp BEFORE ranking, so the rank-k value
    depends only on the rounded-slope multiset, never on tie order.

    Scale: the pair set is DAY-GRAIN — calendar-bounded (~2.4k days →
    ~3M pairs) and CONSTANT in data size; only the per-day hash-agg
    underneath scales with the fact table. The small side is broadcast,
    making the pair generator shuffle-free. The rank-k element is found
    by DISTRIBUTED SELECTION, never a global sort: registry.rank_select
    collapses the slopes to the value grain and walks a range-bucketed
    running count to the cell holding rank k — the oracle pins the
    result with the naive ROW_NUMBER spelling, proving the
    selection path exact.
    """
    daily = _daily(spark, sf_dir)
    a = daily.select(F.col("day").alias("day_a"), F.col("rev").alias("rev_a"))
    b = daily.select(F.col("day").alias("day_b"), F.col("rev").alias("rev_b"))
    pairs = (
        F.broadcast(a)
        .join(b, F.col("day_a") < F.col("day_b"))
        .select(
            F.round(
                (F.col("rev_b").cast("double") - F.col("rev_a").cast("double"))
                / F.datediff("day_b", "day_a"),
                6,
            ).alias("slope6")
        )
    )
    # kk = ⌈n/2⌉, the lower median. The value grain's grouping turns
    # -0.0 into 0.0, which loses nothing: Spark's ROUND already returns
    # 0.0, never -0.0, for a slope that rounds to zero.
    sel = rank_select(
        pairs, "slope6", spark.range(1), ((F.col("__n") + 1) / 2).cast("long")
    )
    return sel.select(
        F.col("__n").alias("n_pairs"),
        F.col("slope6").alias("theil_sen_slope"),
    )


# ---------------------------------------------------------------------------
# Page-Hinkley sequential drift statistic over daily revenue
# ---------------------------------------------------------------------------

_PH_ORACLE = f"""
WITH daily AS ({_DAILY_CTE}),
seq AS (
  SELECT day, CAST(rev AS DOUBLE) AS x,
         ROW_NUMBER() OVER (ORDER BY day) AS i,
         CAST(SUM(rev) OVER (ORDER BY day) AS DOUBLE) AS s
  FROM daily
),
term AS (
  SELECT day, x, CAST(ROUND(x - s / i, 6) AS DECIMAL(28,6)) AS t6 FROM seq
),
m AS (
  SELECT day, x, CAST(SUM(t6) OVER (ORDER BY day) AS DOUBLE) AS mt FROM term
)
SELECT day, x AS revenue,
       ROUND(mt - MIN(mt) OVER (ORDER BY day), 6) AS ph_stat
FROM m
"""


def page_hinkley_over_daily(daily: DataFrame) -> DataFrame:
    """Day-grain Page-Hinkley math shared by the batch query and the
    streaming rollup (streaming/windows.py ``rollup_page_hinkley``):
    input is (day, rev) with ``rev`` an exact decimal daily sum; output
    is (day, revenue, ph_stat). ONE implementation, the
    ``cusum_over_daily`` discipline, so the stream≡batch parity test
    pins the streaming twin against exactly the arithmetic the driver
    oracle checks."""
    w = Window.orderBy("day")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    seq = daily.select(
        "day",
        F.col("rev").cast("double").alias("x"),
        F.row_number().over(w).alias("i"),
        F.sum("rev").over(wc).cast("double").alias("s"),
    )
    term = seq.select(
        "day",
        "x",
        F.round(F.col("x") - F.col("s") / F.col("i"), 6)
        .cast("decimal(28,6)")
        .alias("t6"),
    )
    m = term.select(
        "day", "x", F.sum("t6").over(wc).cast("double").alias("mt")
    )
    return m.select(
        "day",
        F.col("x").alias("revenue"),
        F.round(F.col("mt") - F.min("mt").over(wc), 6).alias("ph_stat"),
    )


@register(
    "page_hinkley_drift_daily", oracle=_PH_ORACLE, tags=("temporal", "stats")
)
def page_hinkley_drift_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley sequential change-point statistic over daily
    revenue: mₜ = Σᵢ≤ₜ (xᵢ − x̄ᵢ) with x̄ᵢ the RUNNING mean (δ=0
    variant), reported as PHₜ = mₜ − minᵢ≤ₜ mᵢ — the one-pass upward
    drift detector streaming systems run (an alarm fires when PH
    exceeds λ). Sibling of ``cusum_drift_daily``, which uses the fixed
    global mean; PH needs no second pass, which is why it streams.

    Determinism: the running revenue sum stays in exact decimal; each
    deviation term xᵢ − Sᵢ/i is one identical double op rounded to 6 dp
    and CUMULATIVELY SUMMED IN DECIMAL (window sum implementations
    accumulate doubles in different orders — segment trees vs running —
    so the prefix sum must be exact to be cross-engine stable); the
    prefix min is order-safe. Final ROUND 6.

    Scale: identical to the cusum family — fact-sized work is the
    per-day hash-agg; every window runs on the calendar-bounded day
    grain. The streaming twin is a transformWithState/applyInPandas
    running (count, sum, min) per key — see streaming/windows.py
    rollup_cusum for the registered precedent; ``rollup_page_hinkley``
    delegates to the same :func:`page_hinkley_over_daily` this uses.
    """
    return page_hinkley_over_daily(_daily(spark, sf_dir))


# ---------------------------------------------------------------------------
# Dropped-event fraction vs watermark horizon
# ---------------------------------------------------------------------------

_WM_HORIZONS = (60, 3600, 86400)

# The fixture's events arrive perfectly in event_id order (zero
# natural lateness — verified, and why out_of_order_stats reads 0), so
# the arrival model injects DETERMINISTIC transport delay: every 7th
# event arrives ((event_id % 4) + 1) × 30 min late. Arrival order =
# (event-time + delay); lateness is then event-time vs the per-user
# event-time high-water in ARRIVAL order — the exact quantity a
# watermark compares against.
_WM_DELAY = (
    "CASE WHEN event_id % 7 = 3 THEN ((event_id % 4) + 1) * 1800 "
    "ELSE 0 END"
)

_WM_FRONTIER_ORACLE = f"""
WITH arrival AS (
  SELECT user_id, event_id, ts,
         ts + to_seconds({_WM_DELAY}) AS arrival_ts
  FROM events
),
arr AS (
  SELECT ts,
         MAX(ts) OVER (PARTITION BY user_id ORDER BY arrival_ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS high_water
  FROM arrival
),
lateness AS (
  SELECT CASE WHEN ts < high_water
              THEN (epoch_us(high_water) - epoch_us(ts)) // 1000000
         END AS late_secs
  FROM arr
)
SELECT horizon_seconds,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CASE WHEN late_secs > horizon_seconds THEN 1 ELSE 0 END)
       AS BIGINT) AS n_dropped,
  ROUND(CAST(SUM(CASE WHEN late_secs > horizon_seconds THEN 1 ELSE 0 END)
             AS DOUBLE) / COUNT(*), 6) AS drop_rate
FROM lateness
CROSS JOIN (VALUES (60), (3600), (86400)) AS h(horizon_seconds)
GROUP BY horizon_seconds
"""


@register(
    "watermark_lateness_frontier",
    oracle=_WM_FRONTIER_ORACLE,
    tags=("events", "streaming", "frontier"),
)
def watermark_lateness_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark sizing curve: for horizon ∈ {60 s, 1 h, 1 d}, the
    fraction of events a Structured Streaming job with that watermark
    would DROP (their event-time lateness vs the per-user high-water
    mark in ARRIVAL order exceeds the horizon) — the completeness side
    of the completeness-vs-state-size tradeoff, measured instead of
    guessed. The fixture's events arrive perfectly ordered (zero
    natural lateness — why ``out_of_order_stats`` reads 0), so the
    arrival model injects deterministic transport delay (every 7th
    event arrives 30/60/90/120 min late by event_id class — the
    injection discipline ``dedup_threshold_frontier`` uses); the
    streaming ops in streaming/windows.py consume the chosen horizon.

    Determinism: all integer microsecond arithmetic; one final ratio
    ROUND 6.

    Scale: ONE per-user ordered window over the fact table (user keys
    scale out; arrival order is the within-partition sort), then the
    3-horizon fan-out rides the scan output. The lateness scan is
    shared — the alternative, one streaming backfill per candidate
    horizon, is the 100 TB mistake this query replaces.
    """
    e = read_table(spark, sf_dir, "events")
    delay_secs = F.when(
        F.col("event_id") % 7 == 3, ((F.col("event_id") % 4) + 1) * 1800
    ).otherwise(F.lit(0))
    arrival = e.select(
        "user_id",
        "event_id",
        "ts",
        (F.col("ts") + F.make_dt_interval(secs=delay_secs)).alias("arrival_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("arrival_ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    arr = arrival.select("ts", F.max("ts").over(w).alias("high_water"))
    lateness = arr.select(
        F.when(
            F.col("ts") < F.col("high_water"),
            ((epoch_us("high_water") - epoch_us("ts")) / F.lit(1_000_000))
            .cast("bigint"),
        ).alias("late_secs")
    )
    lat = lateness.select(
        "late_secs",
        F.explode(
            F.array(*[F.lit(h) for h in _WM_HORIZONS])
        ).alias("horizon_seconds"),
    )
    dropped = F.when(F.col("late_secs") > F.col("horizon_seconds"), 1).otherwise(0)
    return lat.groupBy("horizon_seconds").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(dropped).cast("long").alias("n_dropped"),
        F.round(
            F.sum(dropped).cast("double") / F.count("*"), 6
        ).alias("drop_rate"),
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


# ---------------------------------------------------------------------------
# MASE forecast evaluation on the daily revenue series
# ---------------------------------------------------------------------------

_MASE_ORACLE = """
WITH daily AS (
  SELECT o_orderdate AS d,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY o_orderdate
), lagged AS (
  SELECT d, rev,
         LAG(rev, 1) OVER (ORDER BY d) AS l1,
         LAG(rev, 7) OVER (ORDER BY d) AS l7
  FROM daily
), ev AS (
  SELECT ABS(rev - l1) AS e1, ABS(rev - l7) AS e7
  FROM lagged WHERE l7 IS NOT NULL
)
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
  CAST(COUNT(*) AS BIGINT) AS n_eval,
  ROUND(CAST(SUM(e1) AS DOUBLE) / COUNT(*), 6) AS mae_naive,
  ROUND(CAST(SUM(e7) AS DOUBLE) / COUNT(*), 6) AS mae_seasonal,
  ROUND((CAST(SUM(e7) AS DOUBLE) / COUNT(*))
        / (CAST(SUM(e1) AS DOUBLE) / COUNT(*)), 6) AS mase_seasonal
FROM ev
"""


@register(
    "forecast_mase_seasonal",
    oracle=_MASE_ORACLE,
    tags=("temporal", "stats", "window"),
)
def forecast_mase_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE-style forecast evaluation on daily revenue: the
    seasonal-naive forecast (value 7 observed days back) scored as
    mean absolute error relative to the naive baseline (previous
    observed day) over the same evaluation span — the scale-free
    forecast-accuracy read (Hyndman & Koehler 2006) that tells a
    monitoring pipeline whether weekly seasonality is real signal
    (MASE < 1) or noise (≥ 1). Lags run over OBSERVED days — the
    series' native grain; calendar gaps would need a generate-series
    spine, which this fixture's dense dates don't.

    Determinism: revenue and both error columns stay in exact
    DECIMAL end-to-end (money in, |difference| out — no float until
    the final MAE divisions); the two MAEs and their ratio are three
    IEEE ops on bit-identical inputs, ROUND 6.

    Scale: one fact-table hash-agg to the ≤2.4k-row day grain, one
    bounded-grain ordered window for both lags (the adjudicated
    single-partition-on-derived-grain pattern), one singleton agg.
    """
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        "d",
        "rev",
        F.lag("rev", 1).over(w).alias("l1"),
        F.lag("rev", 7).over(w).alias("l7"),
    )
    ev = lagged.filter(F.col("l7").isNotNull()).select(
        F.abs(F.col("rev") - F.col("l1")).alias("e1"),
        F.abs(F.col("rev") - F.col("l7")).alias("e7"),
    )
    n_days = daily.agg(F.count("*").cast("long").alias("n_days"))
    mae1 = F.sum("e1").cast("double") / F.count("*")
    mae7 = F.sum("e7").cast("double") / F.count("*")
    return (
        ev.agg(
            F.count("*").cast("long").alias("n_eval"),
            F.round(mae1, 6).alias("mae_naive"),
            F.round(mae7, 6).alias("mae_seasonal"),
            F.round(mae7 / mae1, 6).alias("mase_seasonal"),
        )
        .crossJoin(F.broadcast(n_days))
        .select(
            "n_days", "n_eval", "mae_naive", "mae_seasonal", "mase_seasonal"
        )
    )


# ---------------------------------------------------------------------------
# Sequential pattern support (user-grain, adjacent pairs)
# ---------------------------------------------------------------------------

_SEQ_TOPN = 20

_SEQ_PATTERN_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt
  FROM events
), pat AS (
  SELECT event_type AS a, nxt AS b,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_pattern
  FROM ordered WHERE nxt IS NOT NULL
  GROUP BY event_type, nxt
), singles AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS su
  FROM events GROUP BY event_type
), tot AS (
  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n FROM events
), scored AS (
  SELECT p.a, p.b, p.n_users_pattern,
         ROUND(CAST(p.n_users_pattern AS DOUBLE) / t.n, 6) AS support_frac,
         ROUND(CAST(p.n_users_pattern AS DOUBLE) * t.n
               / (CAST(sa.su AS DOUBLE) * sb.su), 6) AS lift
  FROM pat p
  JOIN singles sa ON sa.event_type = p.a
  JOIN singles sb ON sb.event_type = p.b
  CROSS JOIN tot t
)
SELECT a, b, n_users_pattern, support_frac, lift
FROM scored
ORDER BY n_users_pattern DESC, a, b
LIMIT {_SEQ_TOPN}
"""


@register(
    "sequential_pattern_support",
    oracle=_SEQ_PATTERN_ORACLE,
    tags=("events", "temporal", "stats"),
)
def sequential_pattern_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-pair sequential-pattern support over user event
    streams: for each (a THEN b) pattern, the number of DISTINCT
    users exhibiting it (mining support — occurrence counts reward
    one hyperactive user; user counts don't), the support fraction,
    and lift vs the independence baseline supp(a)·supp(b)/n. Top-{k}
    patterns by support with a total tie-break. This is the support-
    counting kernel every sequential-pattern miner (GSP, PrefixSpan)
    iterates; longer patterns extend the same user-grain join shape.

    Determinism: adjacency comes from a LEAD over (ts, event_id) — a
    total order; all supports are exact distinct counts; the two
    ratios are single divisions ROUND 6.

    Scale: one user-partitioned window (the standard sessionization
    shuffle), one (a, b) hash-agg with distinct-user rollup, a
    #types-sized broadcast of single supports, TakeOrdered top-{k}.
    """
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    pat = ordered.groupBy(
        F.col("event_type").alias("a"), F.col("nxt").alias("b")
    ).agg(F.countDistinct("user_id").cast("long").alias("n_users_pattern"))
    singles = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("su")
    )
    tot = ev.agg(F.countDistinct("user_id").cast("long").alias("n"))
    sa = singles.select(F.col("event_type").alias("a"), F.col("su").alias("sa"))
    sb = singles.select(F.col("event_type").alias("b"), F.col("su").alias("sb"))
    return (
        pat.join(F.broadcast(sa), "a")
        .join(F.broadcast(sb), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "a",
            "b",
            "n_users_pattern",
            F.round(
                F.col("n_users_pattern").cast("double") / F.col("n"), 6
            ).alias("support_frac"),
            F.round(
                F.col("n_users_pattern").cast("double")
                * F.col("n")
                / (F.col("sa").cast("double") * F.col("sb")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("n_users_pattern"), "a", "b")
        .limit(_SEQ_TOPN)
    )


# ---------------------------------------------------------------------------
# Index of dispersion (Fano factor) of hourly event counts
# ---------------------------------------------------------------------------

_DISP_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, date_trunc('hour', ts)
), st AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_hours,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS ss
  FROM hourly GROUP BY event_type
)
SELECT event_type, n_hours,
       ROUND(CAST(s AS DOUBLE) / n_hours, 6) AS mean_per_hour,
       ROUND((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n_hours)
             / (n_hours - 1), 6) AS var_per_hour,
       ROUND(((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n_hours)
              / (n_hours - 1)) / (CAST(s AS DOUBLE) / n_hours), 6)
         AS dispersion,
       CAST(CASE WHEN ((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n_hours)
                       / (n_hours - 1)) / (CAST(s AS DOUBLE) / n_hours) > 1.5
                 THEN 1 ELSE 0 END AS INTEGER) AS overdispersed
FROM st
"""


@register(
    "event_dispersion_index",
    oracle=_DISP_ORACLE,
    tags=("events", "temporal", "stats"),
)
def event_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index of dispersion (Fano factor) of hourly event counts per
    type: sample variance / mean over the OBSERVED-hour series. D ≈ 1
    is Poisson arrival noise; D ≫ 1 (flagged at 1.5) is bursty
    overdispersion, which breaks every alert threshold derived under
    Poisson assumptions — the diagnostic to run BEFORE trusting
    rate-based monitors (CUSUM/Page-Hinkley tune differently on
    overdispersed streams). Observed-hour grain: silent hours are
    absent (the fixture's streams are dense); a calendar spine would
    only lower D.

    Determinism: hourly counts and both sufficient statistics are
    exact BIGINTs; mean/variance/D are pinned IEEE expressions over
    them, ROUND 6; the flag compares the exact double against a
    literal.

    Scale: one (type, hour) hash-agg over the fact stream — map-side
    combinable — then a #types-grain conditional aggregation. The
    classic two-level rollup; nothing touches event grain twice.
    """
    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").cast("long").alias("c"))
    st = hourly.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_hours"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
    )
    n, s, ss = F.col("n_hours"), F.col("s"), F.col("ss")
    var = (ss.cast("double") - s.cast("double") * s / n) / (n - 1)
    mean = s.cast("double") / n
    return st.select(
        "event_type",
        "n_hours",
        F.round(mean, 6).alias("mean_per_hour"),
        F.round(var, 6).alias("var_per_hour"),
        F.round(var / mean, 6).alias("dispersion"),
        F.when(var / mean > 1.5, 1).otherwise(0).cast("int").alias(
            "overdispersed"
        ),
    )


# ---------------------------------------------------------------------------
# Periodogram at fixed calendar frequencies (residue-grain Goertzel)
# ---------------------------------------------------------------------------

_PERIODS = (7, 30, 91, 365)

_PERIODS_SQL = ", ".join(str(p) for p in _PERIODS)

_PERIODOGRAM_ORACLE = f"""
WITH daily AS ({_DAILY_CTE}),
idx AS (
  SELECT day, rev,
         datediff('day', (SELECT MIN(day) FROM daily), day) AS t
  FROM daily
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS tn,
         CAST(SUM(rev) AS DOUBLE) AS s,
         CAST(CAST(SUM(rev * rev) AS VARCHAR) AS DOUBLE) AS q
  FROM idx
),
res AS (
  SELECT p.p, i.t % p.p AS m,
         CAST(SUM(i.rev) AS DOUBLE) AS sm,
         CAST(COUNT(*) AS BIGINT) AS cm
  FROM idx i CROSS JOIN (SELECT UNNEST([{_PERIODS_SQL}]) AS p) p
  GROUP BY p.p, i.t % p.p
),
ab AS (
  SELECT r.p,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list((r.sm - r.cm * t.s / t.tn) * COS(2 * PI() * r.m / r.p)
                ORDER BY r.m)), (a, b) -> a + b) AS a_p,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list((r.sm - r.cm * t.s / t.tn) * SIN(2 * PI() * r.m / r.p)
                ORDER BY r.m)), (a, b) -> a + b) AS b_p,
         MAX(t.tn) AS tn,
         MAX(t.q - t.s * t.s / t.tn) AS sst
  FROM res r CROSS JOIN tot t
  GROUP BY r.p
)
SELECT CAST(p AS INTEGER) AS period_days,
       ROUND(2.0 * (a_p * a_p + b_p * b_p) / (tn * sst), 6)
         AS spectral_frac,
       CAST(CASE WHEN 2.0 * (a_p * a_p + b_p * b_p) / (tn * sst)
                  = MAX(2.0 * (a_p * a_p + b_p * b_p) / (tn * sst))
                    OVER () THEN 1 ELSE 0 END AS INTEGER) AS is_dominant
FROM ab
ORDER BY period_days
"""


@register(
    "periodogram_fixed_freqs",
    oracle=_PERIODOGRAM_ORACLE,
    tags=("temporal", "stats"),
)
def periodogram_fixed_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-frequency DFT power (Goertzel read) of daily revenue at
    the calendar periods {p} days: spectral_frac = 2(A²+B²)/(T·SST),
    ≈ 1 when the series is a pure tone at that period, ≈ 0 under
    white noise — "does revenue have a weekly/monthly/quarterly/
    annual cycle" as one table, with the dominant period flagged.
    Completes the engine's time-domain reads (autocorr, seasonal
    decompose) with the frequency-domain one.

    The residue-grain trick: cos(2πt/p) depends on t only through
    t mod p, so the day series collapses FIRST to ≤p exact-decimal
    residue sums per period, and each A/B is an order-pinned fold of
    ≤p transcendental products (bounded, engine-identical chain).
    SST comes from exact Σx/Σx² (the Σx² decimal exceeds 2^53
    unscaled units → VARCHAR round-trip in the oracle, the oneway_anova_f
    trap). Outputs are O(1)-magnitude fractions ROUND 6 — the cos/sin
    last-ulp engine divergence is ~1e-15 relative, far inside the
    rounding guard.

    Scale: one fact pass to day grain, one day pass to Σp residue
    rows; everything after is bounded. No global sort, no window over
    raw days.
    """
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    d0 = daily.agg(F.min("day").alias("d0"))
    idx = daily.crossJoin(F.broadcast(d0)).select(
        F.datediff("day", "d0").alias("t"), "rev"
    )
    tot = idx.agg(
        F.count("*").cast("long").alias("tn"),
        F.sum("rev").cast("double").alias("s"),
        F.sum(F.col("rev") * F.col("rev")).cast("double").alias("q"),
    )
    periods = spark.createDataFrame(
        [(p,) for p in _PERIODS], "p int"
    )
    res = (
        idx.crossJoin(F.broadcast(periods))
        .groupBy("p", (F.col("t") % F.col("p")).alias("m"))
        .agg(
            F.sum("rev").cast("double").alias("sm"),
            F.count("*").cast("long").alias("cm"),
        )
    )

    def _fold(term: Column) -> Column:
        return F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", term.alias("v")))),
                lambda s: s["v"],
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        )

    centered = F.col("sm") - F.col("cm") * F.col("s") / F.col("tn")
    ang = F.lit(2.0) * F.lit(math.pi) * F.col("m") / F.col("p")
    ab = (
        res.crossJoin(F.broadcast(tot))
        .groupBy("p")
        .agg(
            _fold(centered * F.cos(ang)).alias("a_p"),
            _fold(centered * F.sin(ang)).alias("b_p"),
            F.max("tn").alias("tn"),
            F.max(
                F.col("q") - F.col("s") * F.col("s") / F.col("tn")
            ).alias("sst"),
        )
    )
    frac = (
        F.lit(2.0)
        * (F.col("a_p") * F.col("a_p") + F.col("b_p") * F.col("b_p"))
        / (F.col("tn") * F.col("sst"))
    )
    w_all = Window.partitionBy(F.lit(1))
    return (
        ab.select(
            F.col("p").cast("int").alias("period_days"),
            frac.alias("_frac"),
        )
        .select(
            "period_days",
            F.round("_frac", 6).alias("spectral_frac"),
            F.when(F.col("_frac") == F.max("_frac").over(w_all), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_dominant"),
        )
        .orderBy("period_days")
    )


periodogram_fixed_freqs.__doc__ = periodogram_fixed_freqs.__doc__.format(
    p=_PERIODS
)


# ---------------------------------------------------------------------------
# Permutation entropy (Bandt–Pompe, d = 3) of the daily series
# ---------------------------------------------------------------------------

_PERM_ORACLE = f"""
WITH daily AS ({_DAILY_CTE}),
tri AS (
  SELECT rev AS x1,
         LEAD(rev, 1) OVER (ORDER BY day) AS x2,
         LEAD(rev, 2) OVER (ORDER BY day) AS x3
  FROM daily
),
coded AS (
  SELECT (CASE WHEN x1 > x2 THEN 4 ELSE 0 END
        + CASE WHEN x1 > x3 THEN 2 ELSE 0 END
        + CASE WHEN x2 > x3 THEN 1 ELSE 0 END) AS code
  FROM tri WHERE x3 IS NOT NULL
),
pat AS (
  SELECT code, CAST(COUNT(*) AS BIGINT) AS c FROM coded GROUP BY code
),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM pat),
ent AS (
  SELECT CAST(SUM(CAST(ROUND((CAST(c AS DOUBLE) / t.n)
                * LN(CAST(c AS DOUBLE) / t.n), 6) AS DECIMAL(18,6)))
              AS DOUBLE) AS neg_h,
         CAST(COUNT(*) AS BIGINT) AS n_patterns,
         MAX(t.n) AS n
  FROM pat CROSS JOIN tot t
),
top AS (
  SELECT code, c FROM pat ORDER BY c DESC, code LIMIT 1
)
SELECT e.n AS n_triples,
       e.n_patterns,
       ROUND(-e.neg_h / LN(6), 6) AS perm_entropy_norm,
       CAST(tp.code AS INTEGER) AS top_pattern_code,
       ROUND(CAST(tp.c AS DOUBLE) / e.n, 6) AS top_pattern_share
FROM ent e CROSS JOIN top tp
"""


@register(
    "permutation_entropy_daily", oracle=_PERM_ORACLE, tags=("temporal", "stats")
)
def permutation_entropy_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bandt–Pompe permutation entropy (embedding dimension 3) of
    daily revenue: each consecutive triple maps to its ordinal
    pattern via three strict comparisons (the 3-bit code 4·[x1>x2] +
    2·[x1>x3] + [x2>x3]; codes 2 and 5 are transitivity-impossible,
    so ≤6 patterns appear; ties fall to the ≤ branch = positional
    order, the standard convention). Normalized entropy H/ln6 ≈ 1 ⇒
    ordinally random; ≪ 1 ⇒ exploitable temporal structure. Robust to
    any monotone transform of the series — the model-free complexity
    read that complements ``autocorr_daily_revenue`` (linear only).

    Determinism: revenues are exact decimals so every comparison is
    exact; pattern counts are BIGINTs; the ≤6 entropy terms are
    ROUND-6 then decimal-summed (the unigram_entropy pattern); the
    top pattern uses a (count DESC, code) total order.

    Scale: day-grain LEAD window (bounded series), hash-agg onto ≤6
    pattern rows, scalar entropy. The fact-sized stage is the daily
    rollup alone.
    """
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    w = Window.orderBy("day")
    tri = daily.select(
        F.col("rev").alias("x1"),
        F.lead("rev", 1).over(w).alias("x2"),
        F.lead("rev", 2).over(w).alias("x3"),
    ).filter(F.col("x3").isNotNull())
    code = (
        F.when(F.col("x1") > F.col("x2"), 4).otherwise(0)
        + F.when(F.col("x1") > F.col("x3"), 2).otherwise(0)
        + F.when(F.col("x2") > F.col("x3"), 1).otherwise(0)
    )
    pat = tri.select(code.alias("code")).groupBy("code").agg(
        F.count("*").cast("long").alias("c")
    )
    tot = pat.agg(F.sum("c").cast("long").alias("n"))
    share = F.col("c").cast("double") / F.col("n")
    ent = pat.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.round(share * F.log(share), 6).cast("decimal(18,6)"))
        .cast("double")
        .alias("neg_h"),
        F.count("*").cast("long").alias("n_patterns"),
        F.max("n").alias("n"),
    )
    top = (
        pat.orderBy(F.desc("c"), "code")
        .limit(1)
        .select(F.col("code").alias("top_code"), F.col("c").alias("top_c"))
    )
    return ent.crossJoin(F.broadcast(top)).select(
        F.col("n").alias("n_triples"),
        "n_patterns",
        F.round(-F.col("neg_h") / F.lit(math.log(6.0)), 6).alias(
            "perm_entropy_norm"
        ),
        F.col("top_code").cast("int").alias("top_pattern_code"),
        F.round(F.col("top_c").cast("double") / F.col("n"), 6).alias(
            "top_pattern_share"
        ),
    )


# ---------------------------------------------------------------------------
# Goh–Barabási burstiness of inter-event times per type
# ---------------------------------------------------------------------------

_BURST_ORACLE = """
WITH gaps AS (
  SELECT event_type,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER (
           PARTITION BY event_type ORDER BY ts, event_id) AS d
  FROM events
), st AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(d) AS DOUBLE) AS s,
         CAST(CAST(SUM(CAST(d AS DECIMAL(38,0)) * CAST(d AS DECIMAL(38,0)))
                   AS VARCHAR) AS DOUBLE) AS q
  FROM gaps WHERE d IS NOT NULL
  GROUP BY event_type
)
SELECT event_type,
       n AS n_gaps,
       ROUND(s / n / 1e6, 6) AS mean_gap_s,
       ROUND(SQRT((q - s * s / n) / (n - 1)) / (s / n), 6) AS cv,
       ROUND((SQRT((q - s * s / n) / (n - 1)) - s / n)
             / (SQRT((q - s * s / n) / (n - 1)) + s / n), 6) AS burstiness
FROM st
"""


@register(
    "burstiness_interevent", oracle=_BURST_ORACLE, tags=("events", "temporal", "stats")
)
def burstiness_interevent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh–Barabási burstiness B = (σ−μ)/(σ+μ) and CV = σ/μ of
    inter-event gaps per event type. B ≈ 0 ⇒ Poisson arrivals
    (exponential gaps, CV ≈ 1); B → 1 ⇒ heavy-tailed bursts; B < 0 ⇒
    pacemaker regularity. The inter-ARRIVAL companion of
    ``event_dispersion_index`` (binned counts): a stream can pass the
    hourly Fano check while bursting violently inside the hour — rate
    monitors need both reads before trusting their thresholds.

    Determinism: gaps are exact BIGINT microseconds (epoch_us; LAG
    over the (ts, event_id) total order); Σd is an exact integer sum
    cast to double; Σd² runs in DECIMAL(38,0) — unscaled units exceed
    2^53, so the oracle VARCHAR-round-trips the cast (oneway_anova_f trap);
    σ/μ/CV/B are pinned IEEE expressions over identical doubles,
    ROUND 6.

    Scale: the lag window shuffles by event_type (the standard
    sessionization partition; within-type order is the window sort),
    then one map-combined agg to the #types grain. At 100 TB the
    partition key would be (type, user) or (type, day-bucket) with
    boundary gap stitching — the sessionize_gaps_islands machinery.
    """
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    us = epoch_us("ts")
    gaps = ev.select(
        "event_type", (us - F.lag(us).over(w)).alias("d")
    ).filter(F.col("d").isNotNull())
    st = gaps.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("d").cast("double").alias("s"),
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("d").cast("decimal(38,0)"))
        .cast("double")
        .alias("q"),
    )
    n, s, q = F.col("n"), F.col("s"), F.col("q")
    mu = s / n
    sd = F.sqrt((q - s * s / n) / (n - 1))
    return st.select(
        "event_type",
        n.alias("n_gaps"),
        F.round(mu / F.lit(1e6), 6).alias("mean_gap_s"),
        F.round(sd / mu, 6).alias("cv"),
        F.round((sd - mu) / (sd + mu), 6).alias("burstiness"),
    )


# ---------------------------------------------------------------------------
# Hurst exponent via rescaled-range analysis of daily revenue
# ---------------------------------------------------------------------------

_HURST_SIZES = (8, 16, 32, 64)

_HURST_SIZES_SQL = ", ".join(str(m) for m in _HURST_SIZES)

_HURST_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
),
seq AS (
  SELECT rev, ROW_NUMBER() OVER (ORDER BY day) - 1 AS t FROM daily
),
blocked AS (
  SELECT m.m, s.t // m.m AS blk, s.rev,
         ROW_NUMBER() OVER (PARTITION BY m.m, s.t // m.m
                            ORDER BY s.t) AS j,
         SUM(s.rev) OVER (PARTITION BY m.m, s.t // m.m
                          ORDER BY s.t ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(s.rev) OVER (PARTITION BY m.m, s.t // m.m) AS btot,
         COUNT(*) OVER (PARTITION BY m.m, s.t // m.m) AS bn
  FROM seq s CROSS JOIN (SELECT UNNEST([{_HURST_SIZES_SQL}]) AS m) m
),
dev AS (
  SELECT m, blk, bn, rev,
         CAST(cum AS DOUBLE) - j * (CAST(btot AS DOUBLE) / m) AS z
  FROM blocked
),
per_block AS (
  SELECT m, blk,
         MAX(z) - MIN(z) AS r,
         SQRT((CAST(CAST(SUM(CAST(rev AS DECIMAL(19,2))
                              * CAST(rev AS DECIMAL(19,2))) AS VARCHAR)
                    AS DOUBLE)
               - CAST(SUM(CAST(rev AS DECIMAL(18,2))) AS DOUBLE)
                 * CAST(SUM(CAST(rev AS DECIMAL(18,2))) AS DOUBLE) / m)
              / m) AS s
  FROM dev
  WHERE bn = m
  GROUP BY m, blk
),
per_m AS (
  SELECT m,
         CAST(COUNT(*) AS BIGINT) AS n_blocks,
         CAST(SUM(CAST(ROUND(r / NULLIF(s, 0), 6) AS DECIMAL(28,6)))
              AS DOUBLE) / COUNT(*) AS avg_rs
  FROM per_block
  WHERE r / NULLIF(s, 0) IS NOT NULL
  GROUP BY m
),
fit AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(CAST(ROUND(LN(m), 6) AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(ROUND(LN(avg_rs), 6) AS DECIMAL(28,6)))
              AS DOUBLE) AS sy,
         CAST(SUM(CAST(ROUND(LN(m) * LN(avg_rs), 6) AS DECIMAL(28,6)))
              AS DOUBLE) AS sxy,
         CAST(SUM(CAST(ROUND(LN(m) * LN(m), 6) AS DECIMAL(28,6)))
              AS DOUBLE) AS sxx
  FROM per_m
)
SELECT k AS n_block_sizes,
       (SELECT CAST(SUM(n_blocks) AS BIGINT) FROM per_m) AS n_blocks_total,
       ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 6)
         AS hurst_exponent,
       ROUND((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k, 6)
         AS log_c_intercept
FROM fit
"""


@register("hurst_rs_exponent", oracle=_HURST_ORACLE, tags=("temporal", "stats"))
def hurst_rs_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of daily revenue by classical rescaled-range
    analysis: for block sizes m ∈ {sizes}, split the day-indexed
    series into complete blocks, compute each block's range of
    mean-adjusted cumulative deviations R and population std S, and
    fit ln(avg R/S) = ln c + H·ln m by OLS. H ≈ 0.5 ⇒ random walk /
    short memory; H > 0.5 ⇒ long-range persistence; H < 0.5 ⇒
    mean-reversion — the long-memory read that lag-1 autocorrelation
    cannot see.

    Determinism: per-block running sums stay exact DECIMAL (Z = exact
    cum − j·mean is identical IEEE); Σx² per block exceeds 2^53
    unscaled units → the oracle VARCHAR-round-trips the cast
    (oneway_anova_f trap); each block's R/S is ROUND-6 then decimal-summed
    into the per-m average; the 4-point OLS moments are ROUND-6
    decimal sums; H is one pinned expression ROUND 6. Degenerate
    zero-variance blocks are NULLIF-dropped on both sides.

    Scale: the fact-sized stage is the daily rollup; the day series
    replicates ×|sizes| (bounded calendar grain), block windows are
    ≤64-row partitions, and everything after runs on blocks → 4 rows.
    """
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    seq = daily.select(
        "rev", (F.row_number().over(Window.orderBy("day")) - 1).alias("t")
    )
    sizes = spark.createDataFrame([(m,) for m in _HURST_SIZES], "m int")
    blk = (F.col("t") / F.col("m")).cast("int")
    w_blk = Window.partitionBy("m", "blk").orderBy("t")
    w_all = Window.partitionBy("m", "blk")
    blocked = (
        seq.crossJoin(F.broadcast(sizes))
        .select("m", "t", "rev", blk.alias("blk"))
        .select(
            "m",
            "blk",
            "rev",
            F.row_number().over(w_blk).alias("j"),
            F.sum("rev").over(
                w_blk.rowsBetween(Window.unboundedPreceding, 0)
            ).alias("cum"),
            F.sum("rev").over(w_all).alias("btot"),
            F.count("*").over(w_all).alias("bn"),
        )
    )
    z = F.col("cum").cast("double") - F.col("j") * (
        F.col("btot").cast("double") / F.col("m")
    )
    xd = F.col("rev").cast("decimal(18,2)")
    per_block = (
        blocked.filter(F.col("bn") == F.col("m"))
        .select("m", "blk", "rev", z.alias("z"))
        .groupBy("m", "blk")
        .agg(
            (F.max("z") - F.min("z")).alias("r"),
            F.sqrt(
                (
                    F.sum(xd * xd).cast("double")
                    - F.sum(xd).cast("double")
                    * F.sum(xd).cast("double")
                    / F.col("m")
                )
                / F.col("m")
            ).alias("s"),
        )
    )
    rs = F.col("r") / F.nullif(F.col("s"), F.lit(0.0))
    per_m = (
        per_block.filter(rs.isNotNull())
        .groupBy("m")
        .agg(
            F.count("*").cast("long").alias("n_blocks"),
            (
                F.sum(F.round(rs, 6).cast("decimal(28,6)")).cast("double")
                / F.count("*")
            ).alias("avg_rs"),
        )
    )

    def _dsum(term: Column) -> Column:
        return F.sum(F.round(term, 6).cast("decimal(28,6)")).cast("double")

    lx, ly = F.log(F.col("m")), F.log(F.col("avg_rs"))
    fit = per_m.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n_blocks").cast("long").alias("nb"),
        _dsum(lx).alias("sx"),
        _dsum(ly).alias("sy"),
        _dsum(lx * ly).alias("sxy"),
        _dsum(lx * lx).alias("sxx"),
    )
    k = F.col("k")
    slope = (k * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        k * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return fit.select(
        k.alias("n_block_sizes"),
        F.col("nb").alias("n_blocks_total"),
        F.round(slope, 6).alias("hurst_exponent"),
        F.round((F.col("sy") - slope * F.col("sx")) / k, 6).alias(
            "log_c_intercept"
        ),
    )


hurst_rs_exponent.__doc__ = hurst_rs_exponent.__doc__.format(
    sizes=_HURST_SIZES
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
    discipline, hits_hub_authority).
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


# ---------------------------------------------------------------------------
# Wald SPRT over the daily fulfilled-rate stream
# ---------------------------------------------------------------------------

_SPRT_LIFT = 1.1  # H1: p1 = 1.1 * pooled rate

_SPRT_LN_A = "LN(19.0)"  # alpha = beta = 0.05

_SPRT_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS x
  FROM orders GROUP BY 1
), rate AS (
  SELECT CAST(SUM(x) AS DOUBLE) / SUM(n) AS p0,
         {_SPRT_LIFT} * CAST(SUM(x) AS DOUBLE) / SUM(n) AS p1
  FROM daily
), llr AS (
  SELECT day, n, x,
         SUM(CAST(ROUND(x * LN(r.p1 / r.p0)
                        + (n - x) * LN((1 - r.p1) / (1 - r.p0)), 12)
                  AS DECIMAL(38,12)))
           OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum
  FROM daily CROSS JOIN rate r
), crossing AS (
  SELECT MIN(day) AS cross_day FROM llr
  WHERE CAST(cum AS DOUBLE) >= {_SPRT_LN_A}
     OR CAST(cum AS DOUBLE) <= -{_SPRT_LN_A}
), final AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(MAX_BY(cum, day) AS DOUBLE) AS final_llr
  FROM llr
)
SELECT f.n_days,
       ROUND(f.final_llr, 6) AS final_llr,
       CASE WHEN c.cross_day IS NULL THEN 'continue'
            WHEN (SELECT CAST(cum AS DOUBLE) FROM llr
                  WHERE day = c.cross_day) >= {_SPRT_LN_A}
              THEN 'accept_h1'
            ELSE 'accept_h0' END AS decision,
       CAST(c.cross_day AS VARCHAR) AS crossing_day
FROM final f CROSS JOIN crossing c
"""


@register("sprt_sequential_test", oracle=_SPRT_ORACLE, tags=("temporal", "stats"))
def sprt_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT trace over daily fulfilled-order rates: cumulative
    LLR of H₁ (p = {lift}·p̄) vs H₀ (p = p̄), boundaries ±ln 19
    (α = β = 0.05), first crossing day and verdict. Sequential tests
    are how monitoring pipelines test WITHOUT a fixed horizon —
    the trace may be read every day with guarantees intact, unlike a
    repeatedly-peeked t-test. H₀ is the pooled rate of the same
    stream, so 'continue' (or a late, marginal crossing) is the
    honest expected verdict; the plumbing — per-day binomial LLR
    terms, exact cumulative, boundary logic — is the artifact.

    Determinism: per-day (n, x) are exact BIGINTs; the four LLR
    constants derive from one pooled ratio (identical IEEE in both
    engines); day terms are ROUND-12 then DECIMAL(38,12) cumulative
    sums over the day total order; the crossing day is a MIN over an
    exact comparison; output ROUND 6.

    Scale: one fact pass to day grain; one calendar-bounded
    cumulative window; constant-size decision logic.
    """
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long")
        .alias("x"),
    )
    rate = daily.agg(
        (F.sum("x").cast("double") / F.sum("n")).alias("p0"),
        (F.lit(_SPRT_LIFT) * F.sum("x").cast("double") / F.sum("n")).alias(
            "p1"
        ),
    )
    term = F.round(
        F.col("x") * F.log(F.col("p1") / F.col("p0"))
        + (F.col("n") - F.col("x"))
        * F.log((1 - F.col("p1")) / (1 - F.col("p0"))),
        12,
    )
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    llr = daily.crossJoin(F.broadcast(rate)).select(
        "day",
        F.sum(term.cast("decimal(38,12)")).over(w_cum).alias("cum"),
    )
    ln_a = F.log(F.lit(19.0))
    crossed = llr.filter(
        (F.col("cum").cast("double") >= ln_a)
        | (F.col("cum").cast("double") <= -ln_a)
    )
    crossing = crossed.agg(F.min("day").alias("cross_day"))
    cross_sign = (
        crossed.orderBy("day")
        .limit(1)
        .select(
            F.when(F.col("cum").cast("double") >= ln_a, "accept_h1")
            .otherwise("accept_h0")
            .alias("verdict")
        )
    )
    final = llr.agg(
        F.count("*").cast("long").alias("n_days"),
        F.max_by("cum", "day").cast("double").alias("final_llr"),
    )
    return (
        final.crossJoin(F.broadcast(crossing))
        # cross_sign is EMPTY when no day crosses — a left join on a
        # TRUE condition keeps the single result row either way
        # (a crossJoin would wipe it).
        .join(F.broadcast(cross_sign), F.lit(True), "left")
        .select(
            "n_days",
            F.round("final_llr", 6).alias("final_llr"),
            F.coalesce("verdict", F.lit("continue")).alias("decision"),
            F.col("cross_day").cast("string").alias("crossing_day"),
        )
    )


sprt_sequential_test.__doc__ = sprt_sequential_test.__doc__.format(
    lift=_SPRT_LIFT
)


# ---------------------------------------------------------------------------
# Grubbs' extreme-value test on the daily revenue series
# ---------------------------------------------------------------------------

_GRUBBS_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
), st AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(rev) AS DOUBLE) AS s,
         CAST(CAST(SUM(rev * rev) AS VARCHAR) AS DOUBLE) AS q
  FROM daily
), scored AS (
  SELECT d.day, CAST(d.rev AS DOUBLE) AS rev, t.n,
         ABS(CAST(d.rev AS DOUBLE) - t.s / t.n)
           / SQRT((t.q - t.s * t.s / t.n) / (t.n - 1)) AS g
  FROM daily d CROSS JOIN st t
), top AS (
  SELECT * FROM scored ORDER BY g DESC, day LIMIT 1
)
SELECT n AS n_days,
       CAST(day AS VARCHAR) AS extreme_day,
       ROUND(rev, 6) AS extreme_revenue,
       ROUND(g, 6) AS grubbs_g,
       CAST(CASE WHEN rev > (SELECT s / n FROM st) THEN 1 ELSE 0 END
            AS INTEGER) AS is_high_side
FROM top
"""


@register("grubbs_extreme_day", oracle=_GRUBBS_ORACLE, tags=("temporal", "stats"))
def grubbs_extreme_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' test statistic for the single most extreme day of the
    daily revenue series: G = max|x − x̄|/s, with the offending day,
    its revenue, and the direction. ``robust_zscore_outliers`` flags
    every candidate; Grubbs is the formal single-outlier adjudication
    an incident review runs on the worst one (compare G against the
    t-based critical value for the day count — left to the reader, as
    the critical value is a lookup, not data).

    Determinism: day sums are exact decimals; the moments use the
    VARCHAR round-trip for Σx² (oneway_anova_f trap); G is a pinned IEEE
    expression; the argmax day uses the (G DESC, day) total order;
    ROUND 6.

    Scale: one fact pass to day grain, one scalar moment agg
    broadcast back, a 1-row TakeOrdered.
    """
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    rd = F.col("rev").cast("decimal(18,2)")
    st = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(rd).cast("double").alias("s"),
        F.sum(rd * rd).cast("double").alias("q"),
    )
    mean = F.col("s") / F.col("n")
    sd = F.sqrt(
        (F.col("q") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)
    )
    scored = daily.crossJoin(F.broadcast(st)).select(
        "day",
        F.col("rev").cast("double").alias("revd"),
        "n",
        (F.abs(F.col("rev").cast("double") - mean) / sd).alias("g"),
        (F.col("rev").cast("double") > mean).cast("int").alias("is_high_side"),
    )
    return (
        scored.orderBy(F.desc("g"), "day")
        .limit(1)
        .select(
            F.col("n").alias("n_days"),
            F.col("day").cast("string").alias("extreme_day"),
            F.round("revd", 6).alias("extreme_revenue"),
            F.round("g", 6).alias("grubbs_g"),
            "is_high_side",
        )
    )


# ---------------------------------------------------------------------------
# Generalized ESD (Rosner) outlier sequence, 3 unrolled steps
# ---------------------------------------------------------------------------

_ESD_STEPS = 3

_DAILY_SQL = """
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(19,2))
           AS rev
  FROM orders GROUP BY 1
"""


# rev is DECIMAL(19,2), not (18,2): the ESD steps square it, and DuckDB
# multiplies DECIMAL(18)s on the int64 path — daily revenue's unscaled
# value passes sqrt(int64 max) already at sf0.1 (observed overflow);
# a 19-digit operand forces the exact int128 path. Spark's side is
# width-agnostic (same exact values), so hashes are unchanged.


def _esd_step(rem_prev: str, k: int) -> str:
    """One Rosner elimination: stats over the remaining set, flag the
    (R DESC, day) argmax, subtract it. Each frame is MATERIALIZED —
    rem{k} is referenced by the next step AND the final union."""
    return f"""st{k} AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(rev) AS DOUBLE) AS s,
         CAST(CAST(SUM(rev * rev) AS VARCHAR) AS DOUBLE) AS q
  FROM {rem_prev}
), f{k} AS MATERIALIZED (
  SELECT day, CAST(rev AS DOUBLE) AS revd,
         ABS(CAST(rev AS DOUBLE) - t.s / t.n)
           / SQRT((t.q - t.s * t.s / t.n) / (t.n - 1)) AS r
  FROM {rem_prev} CROSS JOIN st{k} t
  ORDER BY r DESC, day LIMIT 1
), rem{k} AS MATERIALIZED (
  SELECT p.* FROM {rem_prev} p
  WHERE p.day <> (SELECT day FROM f{k})
)"""


_ESD_ORACLE = f"""
WITH rem0 AS MATERIALIZED ({_DAILY_SQL}),
{",".join(_esd_step(f"rem{i}", i + 1) for i in range(_ESD_STEPS))}
SELECT * FROM (
  {" UNION ALL ".join(
      f"SELECT {k} AS step, CAST(day AS VARCHAR) AS day,"
      f" ROUND(revd, 6) AS revenue, ROUND(r, 6) AS esd_r FROM f{k}"
      for k in range(1, _ESD_STEPS + 1)
  )}
) ORDER BY step
"""


@register("esd_outlier_sequence", oracle=_ESD_ORACLE, tags=("temporal", "stats", "iterative"))
def esd_outlier_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized ESD (Rosner) outlier sequence over daily revenue:
    {k} unrolled elimination steps — flag the most extreme remaining
    day by R = |x−x̄|/s, remove it, recompute. A single Grubbs test
    (``grubbs_extreme_day``) is masked when a second outlier inflates
    s; the ESD sequence is the standard multi-outlier protocol (each
    step's R would be compared to its own critical value λ_k — a
    lookup, not data). Step 1 reproduces Grubbs exactly; the next
    steps are the unmasked follow-ups an incident review walks.

    Determinism: each step's moments are exact decimal sums (Σx² via
    the VARCHAR round-trip, oneway_anova_f trap); R is a pinned expression;
    each argmax uses the (R DESC, day) total order; the elimination
    chain is MATERIALIZED per step in the oracle (single-reference
    discipline) and localCheckpointed on the Spark side (day-grain
    frames; the iterative-chain discipline).

    Scale: ONE fact pass to day grain; each elimination step is one
    scalar agg + 1-row TakeOrdered + anti-filter on the calendar-
    bounded day frame.
    """
    o = read_table(spark, sf_dir, "orders")
    rem = (
        o.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("rev")
        )
        .localCheckpoint()
    )
    out = []
    for k in range(1, _ESD_STEPS + 1):
        rd = F.col("rev").cast("decimal(18,2)")
        st = rem.agg(
            F.count("*").cast("long").alias("n"),
            F.sum(rd).cast("double").alias("s"),
            F.sum(rd * rd).cast("double").alias("q"),
        )
        r = F.abs(F.col("rev").cast("double") - F.col("s") / F.col("n")) / F.sqrt(
            (F.col("q") - F.col("s") * F.col("s") / F.col("n"))
            / (F.col("n") - 1)
        )
        flagged = (
            rem.crossJoin(F.broadcast(st))
            .select("day", F.col("rev").cast("double").alias("revd"), r.alias("r"))
            .orderBy(F.desc("r"), "day")
            .limit(1)
            .localCheckpoint()
        )
        out.append(
            flagged.select(
                F.lit(k).alias("step"),
                F.col("day").cast("string").alias("day"),
                F.round("revd", 6).alias("revenue"),
                F.round("r", 6).alias("esd_r"),
            )
        )
        rem = (
            rem.join(
                flagged.select(F.col("day").alias("fday")),
                rem["day"] == F.col("fday"),
                "left_anti",
            )
            .localCheckpoint()
        )
    res = out[0]
    for f in out[1:]:
        res = res.unionByName(f)
    return res.orderBy("step")


esd_outlier_sequence.__doc__ = esd_outlier_sequence.__doc__.format(
    k=_ESD_STEPS
)


# ---------------------------------------------------------------------------
# Allen interval-relation census (view span vs purchase span per user)
# ---------------------------------------------------------------------------

_ALLEN_ORACLE = """
WITH spans AS (
  SELECT user_id,
         MIN(ts) FILTER (WHERE event_type = 'view') AS a1,
         MAX(ts) FILTER (WHERE event_type = 'view') AS a2,
         MIN(ts) FILTER (WHERE event_type = 'purchase') AS b1,
         MAX(ts) FILTER (WHERE event_type = 'purchase') AS b2
  FROM events GROUP BY user_id
), rel AS (
  SELECT CASE
    WHEN a1 = b1 AND a2 = b2 THEN 'equals'
    WHEN a2 < b1 THEN 'before'
    WHEN b2 < a1 THEN 'after'
    WHEN a2 = b1 THEN 'meets'
    WHEN b2 = a1 THEN 'met_by'
    WHEN a1 = b1 AND a2 < b2 THEN 'starts'
    WHEN a1 = b1 AND a2 > b2 THEN 'started_by'
    WHEN a2 = b2 AND a1 > b1 THEN 'finishes'
    WHEN a2 = b2 AND a1 < b1 THEN 'finished_by'
    WHEN a1 > b1 AND a2 < b2 THEN 'during'
    WHEN a1 < b1 AND a2 > b2 THEN 'contains'
    WHEN a1 < b1 AND a2 > b1 AND a2 < b2 THEN 'overlaps'
    ELSE 'overlapped_by' END AS relation
  FROM spans
  WHERE a1 IS NOT NULL AND b1 IS NOT NULL
), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rel)
SELECT relation,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       ROUND(CAST(COUNT(*) AS DOUBLE) / t.n, 6) AS share
FROM rel CROSS JOIN tot t
GROUP BY relation, t.n
ORDER BY relation
"""


@register("allen_interval_census", oracle=_ALLEN_ORACLE, tags=("events", "temporal"))
def allen_interval_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen's interval-algebra census between each user's VIEW
    activity span [first view, last view] and PURCHASE span [first
    purchase, last purchase]: every user with both event types falls
    into exactly one of the 13 relations (equals / before / after /
    meets / met_by / starts / started_by / finishes / finished_by /
    during / contains / overlaps / overlapped_by); the census reports
    counts and shares. 'contains' dominating means purchases happen
    inside ongoing browsing; a fat 'before' means browse-then-buy
    sessions — the formal temporal-logic read behind funnel
    assumptions (``funnel_analysis`` counts orderings; this
    classifies span TOPOLOGY).

    Determinism: spans are exact MIN/MAX timestamps; the CASE ladder
    is a sequence of exact comparisons ordered so each user matches
    exactly one branch (degenerate point-intervals fall into the
    equality branches first — the standard convention); counts exact
    BIGINTs, shares ROUND 6.

    Scale: one map-combined pass to user-grain spans, a stateless
    classification, a ≤13-row census agg.
    """
    ev = read_table(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("a1"),
        F.max(F.when(F.col("event_type") == "view", F.col("ts"))).alias("a2"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("b1"),
        F.max(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("b2"),
    )
    a1, a2, b1, b2 = (F.col(c) for c in ("a1", "a2", "b1", "b2"))
    relation = (
        F.when((a1 == b1) & (a2 == b2), "equals")
        .when(a2 < b1, "before")
        .when(b2 < a1, "after")
        .when(a2 == b1, "meets")
        .when(b2 == a1, "met_by")
        .when((a1 == b1) & (a2 < b2), "starts")
        .when((a1 == b1) & (a2 > b2), "started_by")
        .when((a2 == b2) & (a1 > b1), "finishes")
        .when((a2 == b2) & (a1 < b1), "finished_by")
        .when((a1 > b1) & (a2 < b2), "during")
        .when((a1 < b1) & (a2 > b2), "contains")
        .when((a1 < b1) & (a2 > b1) & (a2 < b2), "overlaps")
        .otherwise("overlapped_by")
    )
    rel = spans.filter(a1.isNotNull() & b1.isNotNull()).select(
        relation.alias("relation")
    )
    tot = rel.agg(F.count("*").cast("long").alias("n"))
    return (
        rel.groupBy("relation")
        .agg(F.count("*").cast("long").alias("n_users"))
        .crossJoin(F.broadcast(tot))
        .select(
            "relation",
            "n_users",
            F.round(F.col("n_users").cast("double") / F.col("n"), 6).alias(
                "share"
            ),
        )
        .orderBy("relation")
    )


# ---------------------------------------------------------------------------
# ACF table (lags 1..14) with Bartlett significance bands
# ---------------------------------------------------------------------------

_ACF_MAX_LAG = 14

_ACF_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
idx AS (
  SELECT ROW_NUMBER() OVER (ORDER BY day) AS t, CAST(rev AS DOUBLE) AS x
  FROM daily
),
lags AS (SELECT UNNEST(generate_series(1, {_ACF_MAX_LAG})) AS k),
pairs AS (
  SELECT l.k, a.x AS x, b.x AS y
  FROM idx a CROSS JOIN lags l
  JOIN idx b ON b.t = a.t - l.k
),
st AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(x, 2) AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(ROUND(y, 2) AS DECIMAL(18,2))) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(ROUND(x, 2) AS DECIMAL(19,2))
                       * CAST(ROUND(y, 2) AS DECIMAL(19,2))) AS VARCHAR)
              AS DOUBLE) AS sxy,
         CAST(CAST(SUM(CAST(ROUND(x, 2) AS DECIMAL(19,2))
                       * CAST(ROUND(x, 2) AS DECIMAL(19,2))) AS VARCHAR)
              AS DOUBLE) AS sxx,
         CAST(CAST(SUM(CAST(ROUND(y, 2) AS DECIMAL(19,2))
                       * CAST(ROUND(y, 2) AS DECIMAL(19,2))) AS VARCHAR)
              AS DOUBLE) AS syy
  FROM pairs GROUP BY k
)
SELECT CAST(k AS INTEGER) AS lag,
       n AS n_pairs,
       ROUND((n * sxy - sx * sy)
             / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS acf,
       ROUND(1.959964 / SQRT(n), 6) AS bartlett_band,
       CAST(CASE WHEN ABS((n * sxy - sx * sy)
                  / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)))
                  > 1.959964 / SQRT(n) THEN 1 ELSE 0 END AS INTEGER)
         AS significant
FROM st
ORDER BY lag
"""


@register("acf_table_daily", oracle=_ACF_ORACLE, tags=("temporal", "stats"))
def acf_table_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The autocorrelation function table of daily revenue at lags
    1..{m}, each with the Bartlett ±1.96/√n band and a significance
    flag — the model-identification table behind every ARIMA/seasonal
    decision (``autocorr_daily_revenue`` is its lag-1 scalar; a spike
    at lag 7 inside an otherwise-flat table is the weekly signature).
    Pearson-on-lagged-pairs convention (each lag's own moments), the
    same spelling as the lag-1 query.

    Determinism: lagged pairs come from an exact day-index equi-join;
    per-lag moments are exact decimal sums of the 2-dp day revenues
    (second-order moments exceed 2^53 unscaled → VARCHAR round-trip,
    oneway_anova_f trap); r and the band are pinned expressions ROUND 6
    with the literal z = 1.959964.

    Scale: one fact pass to the calendar-bounded day grain; the
    day×lag join is bounded (|days|·{m} rows); per-lag hash-aggs.
    No per-lag windows, no repeated scans.
    """
    o = read_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("rev")
    )
    idx = daily.select(
        F.row_number().over(Window.orderBy("day")).alias("t"),
        F.col("rev").cast("double").alias("x"),
    )
    lags = spark.createDataFrame(
        [(k,) for k in range(1, _ACF_MAX_LAG + 1)], "k int"
    )
    a = idx.crossJoin(F.broadcast(lags)).select(
        "k", (F.col("t") - F.col("k")).alias("bt"), F.col("x")
    )
    b = idx.select(F.col("t").alias("bt"), F.col("x").alias("y"))
    pairs = a.join(b, "bt")
    xd = F.round(F.col("x"), 2).cast("decimal(18,2)")
    yd = F.round(F.col("y"), 2).cast("decimal(18,2)")
    st = pairs.groupBy("k").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(xd * yd).cast("double").alias("sxy"),
        F.sum(xd * xd).cast("double").alias("sxx"),
        F.sum(yd * yd).cast("double").alias("syy"),
    )
    n = F.col("n")
    r = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    band = F.lit(1.959964) / F.sqrt(n)
    return st.select(
        F.col("k").cast("int").alias("lag"),
        n.alias("n_pairs"),
        F.round(r, 6).alias("acf"),
        F.round(band, 6).alias("bartlett_band"),
        (F.abs(r) > band).cast("int").alias("significant"),
    ).orderBy("lag")


acf_table_daily.__doc__ = acf_table_daily.__doc__.format(m=_ACF_MAX_LAG)
