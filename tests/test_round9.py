"""Round-9 consolidation tests: the bounded-grain global-rank
machinery (registry.range_bucket / bucket_offsets /
bucketed_row_number / rank_select) against the single-partition
spellings it replaces, and the bucket-first KS twin's substitution
audit. A test pins an exact bucket count by setting the auto-size's
floor and cap (_BUCKET_MIN / _BUCKET_MAX) to it.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ucl_data_pipeline_spark.plans import REGISTRY
from ucl_data_pipeline_spark.plans import registry as reg
from ucl_data_pipeline_spark.plans.registry import (
    bucket_offsets,
    bucketed_row_number,
    pdisc_rank,
    range_bucket,
    rank_select,
)
from ucl_data_pipeline_spark.sources.io import read_table


def _pin_buckets(monkeypatch, n: int) -> None:
    monkeypatch.setattr(reg, "_BUCKET_MIN", n)
    monkeypatch.setattr(reg, "_BUCKET_MAX", n)


def test_bucketed_row_number_matches_global_window(spark, sf_dir, monkeypatch):
    # The bucketed spelling must be BIT-identical to the global-window
    # row_number it replaces, for any bucket count (including buckets
    # that end up empty at tiny SF).
    o = read_table(spark, sf_dir, "orders").select("o_orderkey")
    want = {
        r["o_orderkey"]: r["rk"]
        for r in o.select(
            "o_orderkey",
            F.row_number().over(Window.orderBy("o_orderkey")).alias("rk"),
        ).collect()
    }
    # None = the round-10 auto-size path (max-resolution sketch +
    # count in one agg, subsampled split points).
    for n_buckets in (1, 4, 16, None):
        with monkeypatch.context() as m:
            if n_buckets is not None:
                _pin_buckets(m, n_buckets)
            got = {
                r["o_orderkey"]: r["rk"]
                for r in bucketed_row_number(o, "o_orderkey").collect()
            }
        assert got == want, f"n_buckets={n_buckets}"


def test_range_bucket_autosize_matches_fixed16_below_target(spark, sf_dir):
    # Below the 250k-row target the auto-size resolves to 16 buckets
    # AND its subsampled split points land on exactly the i/16
    # quantiles the fixed knob used — identical bucket assignment, so
    # bench plans at test SFs are unchanged by the auto-size. The fixed
    # assignment is the count of i/16 split points below the key.
    o = read_table(spark, sf_dir, "orders").select("o_orderkey")
    fracs = ", ".join(repr(i / 16) for i in range(1, 16))
    bounds = o.agg(
        F.expr(f"approx_percentile(o_orderkey, array({fracs}), 1000)")
    ).collect()[0][0]
    fixed = {
        r["o_orderkey"]: sum(r["o_orderkey"] > b for b in bounds)
        for r in o.collect()
    }
    auto = {
        r["o_orderkey"]: r["__bkt"]
        for r in range_bucket(o, "o_orderkey").collect()
    }
    assert auto == fixed


def test_range_bucket_is_monotone_in_key(spark, sf_dir, monkeypatch):
    c = read_table(spark, sf_dir, "customer").select(
        (-F.col("c_acctbal")).alias("neg")
    )
    _pin_buckets(monkeypatch, 16)
    rows = range_bucket(c, "neg").orderBy("neg").collect()
    bks = [r["__bkt"] for r in rows]
    assert bks == sorted(bks)
    # equal keys always share a bucket
    seen: dict = {}
    for r in rows:
        if r["neg"] in seen:
            assert seen[r["neg"]] == r["__bkt"]
        seen[r["neg"]] = r["__bkt"]


def test_bucket_offsets_exclusive_prefix(spark, sf_dir, monkeypatch):
    o = read_table(spark, sf_dir, "orders").select("o_orderkey")
    _pin_buckets(monkeypatch, 8)
    bucketed = range_bucket(o, "o_orderkey")
    per = {
        r["__bkt"]: r["cnt"]
        for r in bucketed.groupBy("__bkt")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    offs = {
        r["__bkt"]: r["__off"]
        for r in bucket_offsets(bucketed, F.lit(1)).collect()
    }
    for bkt, off in offs.items():
        assert off == sum(c for b, c in per.items() if b < bkt), bkt


def test_rank_select_matches_percentile_disc_on_adversarial_shapes(spark):
    # NULLs (which percentile_disc skips), one 1e18 outlier (which an
    # equi-width histogram would stretch over every other value) and
    # one hot value holding ~55% of the non-NULL rows. rank_select must
    # return Spark's own percentile_disc for every q — also on an empty
    # and an all-NULL input, where percentile_disc is NULL and no rank
    # is selected — and no range bucket the walk sorts may hold more
    # than twice its share of value-grain cells.
    ids = spark.range(2000)
    adv = ids.select(
        F.when(F.col("id") % 10 == 0, F.lit(None).cast("double"))
        .when(F.col("id") % 2 == 1, F.lit(7.0))
        .otherwise(F.col("id").cast("double"))
        .alias("v")
    ).unionByName(spark.range(1).select(F.lit(1e18).alias("v")))
    qs = (0.1, 0.5, 0.9)
    ranks = spark.createDataFrame([(q,) for q in qs], "q double")

    def check(frame):
        want = frame.agg(
            *[
                F.expr(f"percentile_disc({q}) WITHIN GROUP (ORDER BY v)")
                for q in qs
            ]
        ).collect()[0]
        got = {
            r["q"]: r["v"]
            for r in rank_select(frame, "v", ranks, pdisc_rank(F.col("q"))).collect()
        }
        assert [got.get(q) for q in qs] == list(want), (got, want)

    check(adv)
    check(adv.limit(0))
    check(ids.select(F.lit(None).cast("double").alias("v")))

    cells = adv.filter(F.col("v").isNotNull()).groupBy("v").count()
    n_cells = cells.count()
    per_bucket = [
        r["count"]
        for r in range_bucket(cells, "v").groupBy("__bkt").count().collect()
    ]
    assert max(per_bucket) <= 2 * -(-n_cells // 16), (n_cells, per_bucket)


def test_decile_formula_matches_spark_ntile(spark, sf_dir):
    # The integer NTILE formula inside decile_lift_table vs Spark's own
    # F.ntile over the same total order — pins the SQL-standard
    # first-r-tiles-get-one-extra assignment.
    c = read_table(spark, sf_dir, "customer")
    want = {
        r["c_custkey"]: r["d"]
        for r in c.select(
            "c_custkey",
            F.ntile(10)
            .over(Window.orderBy(F.desc("c_acctbal"), "c_custkey"))
            .alias("d"),
        ).collect()
    }
    ranked = bucketed_row_number(
        c.select("c_custkey", (-F.col("c_acctbal")).alias("neg")).withColumn(
            "ck", F.col("c_custkey")
        ),
        "neg",
        out="g_rk",
    )
    n = c.count()
    got_rows = (
        ranked.select(
            "c_custkey",
            F.expr(
                f"CASE WHEN g_rk <= ({n} % 10) * ({n} DIV 10 + 1)"
                f" THEN (g_rk + {n} DIV 10) DIV ({n} DIV 10 + 1)"
                f" ELSE {n} % 10 + (g_rk - ({n} % 10) * ({n} DIV 10 + 1)"
                f" + {n} DIV 10 - 1) DIV ({n} DIV 10) END"
            ).alias("d"),
        )
        .collect()
    )
    # bucketed_row_number requires a UNIQUE key; negated balance is
    # not unique, so compare the decile SIZES (the formula's output
    # distribution) instead of per-row assignment here — per-row
    # equality is covered end-to-end by the decile_lift_table oracle.
    from collections import Counter

    assert Counter(r["d"] for r in got_rows) == Counter(want.values())


def test_ks_bucketed_twin_audits_exact(spark, sf_dir):
    row = REGISTRY["ks_bucketed_drift"].fn(spark, sf_dir).collect()[0]
    assert row["within_bound"] is True
    assert row["decision_agrees"] is True
    assert row["ks_d_bucketed"] <= row["ks_d_exact"]
    assert (
        row["ks_d_exact"] - row["ks_d_bucketed"] <= row["gap_bound"] + 1e-12
    )
    # $100 buckets on this price distribution: the bound must be tight
    # enough that the twin is USEFUL, not just valid.
    assert row["gap_bound"] <= 0.05
    assert row["n_buckets"] >= 100
