"""AQE skew-join demonstration at 10× events scale (VERDICT r3 item 7).

Builds a deliberately skewed join: events replicated 10× (~1M rows)
with 90% of rows collapsed onto ONE hot user_id, sort-merge-joined
(broadcast disabled — at 100 TB the dim side wouldn't broadcast either)
against a per-user dimension. Times the join three ways in one session:

  a) AQE skew-join OFF  — the hot key's entire reduce partition lands
     on one task; wall time is bounded by that single straggler;
  b) AQE skew-join ON   — the runtime splits the hot partition along
     mapper-output boundaries (skew=true in the final plan) and the
     straggler parallelizes, no code change;
  c) manual salting     — the engine's static alternative
     (plans/tpch.py salted_skew_join pattern), for reference.

Prints one JSON line; results recorded in SCALE_NOTES.md. The point at
100 TB: AQE turns the #1 production skew hazard (one hot key in a
trillion-row join) from a rewrite into a conf default — the engine
keeps `spark.sql.adaptive.skewJoin.enabled=true` (session.py) and
reserves salting for aggregations, where AQE cannot help.

Usage: python tools/skew_demo.py 2>/dev/null
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from ucl_data_pipeline_spark import get_spark
from ucl_data_pipeline_spark.sources.io import read_table

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
COPIES = 10
HOT_SHARE = 10  # user_id % 10 < 9 → hot key: 90% of rows


def build_skewed(spark) -> tuple[DataFrame, DataFrame]:
    ev = read_table(spark, SRC, "events").select("event_id", "user_id", "value")
    parts = []
    for c in range(COPIES):
        parts.append(
            ev.select(
                (F.col("event_id") + F.lit(c * 10_000_000)).alias("event_id"),
                (F.col("user_id") + F.lit(c * 10_000_000)).alias("user_id"),
                "value",
            )
        )
    import functools

    big = functools.reduce(lambda a, b: a.unionByName(b), parts)
    skewed = big.withColumn(
        "skew_key",
        F.when(F.col("user_id") % HOT_SHARE < HOT_SHARE - 1, F.lit(1)).otherwise(
            F.col("user_id")
        ),
    )
    dim = (
        skewed.select("skew_key")
        .distinct()
        .select("skew_key", (F.col("skew_key") * 2).alias("payload"))
    )
    return skewed, dim


def main() -> None:
    spark = get_spark("skew-demo")
    spark.sparkContext.setLogLevel("ERROR")
    import tempfile

    out = tempfile.mkdtemp(prefix="skew_demo_")
    skewed, dim = build_skewed(spark)
    # Materialize both sides as multi-split parquet so the join reads
    # them the way a real table arrives (and AQE sees real map output).
    skewed.repartition(32).write.mode("overwrite").parquet(f"{out}/fact.parquet")
    dim.repartition(8).write.mode("overwrite").parquet(f"{out}/dim.parquet")
    fact = spark.read.parquet(f"{out}/fact.parquet")
    dimr = spark.read.parquet(f"{out}/dim.parquet")

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # thresholds scaled to the ~1M-row demo (defaults target 256MB
        # production partitions); factor/advisory ratios match defaults
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1048576",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "524288",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)

    def timed(df: DataFrame, runs: int = 3) -> float:
        best = float("inf")
        for _ in range(runs):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    results: dict[str, object] = {"rows": fact.count()}
    try:
        join = fact.hint("merge").join(dimr, "skew_key").select(
            "skew_key", "event_id", "payload"
        )

        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        results["aqe_off_sec"] = timed(join)

        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        results["aqe_on_sec"] = timed(join)
        # Plan inspection must use the DataFrame's OWN QueryExecution
        # (a write creates a separate one): count via agg keeps the
        # collect tiny, then read the finalized adaptive plan.
        # NOTE: the probe collects the join itself — putting an agg on
        # top suppresses the skew split (AQE won't split a join whose
        # output feeds a distribution-requiring operator), and a write
        # runs a separate QueryExecution whose final plan we can't read.
        join.collect()
        plan = join._jdf.queryExecution().executedPlan().toString()
        results["skew_split_in_plan"] = "skew=true" in plan

        # manual salting reference: explode dim over 32 salts, salt fact
        n_salt = 32
        salted_fact = fact.withColumn(
            "salt", F.pmod(F.xxhash64("event_id"), F.lit(n_salt))
        )
        salted_dim = dimr.withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
        )
        salted = salted_fact.hint("merge").join(
            salted_dim, ["skew_key", "salt"]
        ).select("skew_key", "event_id", "payload")
        results["salted_sec"] = timed(salted)
        results["speedup_aqe"] = round(
            results["aqe_off_sec"] / results["aqe_on_sec"], 2
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        import shutil

        shutil.rmtree(out, ignore_errors=True)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
