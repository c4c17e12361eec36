"""Round-6 regression pins.

Pins the three ADVICE-round-5 degenerate-input fixes in
plans/extras16.py on synthetic fixtures the driver testdata cannot
reach (its minimum doc length is exactly 10 tokens; its orders/
lineitem samples are never fully tied / one-sided):

1. ``dup_span_fraction``: a <10-token doc must emit ZERO spans.
   Unguarded, ``sequence(0, floor(size/10)-1)`` becomes
   ``sequence(0, -1)`` which Spark evaluates as the DESCENDING list
   ``[0, -1]`` — 2 spurious spans per short doc, one sliced from the
   array's end — while the DuckDB oracle's ``range(0, 0)`` is empty.
2. ``mann_whitney_u``: sigma = 0 when every sampled value is identical
   (full tie correction); z_score must be NULL on both engines, not
   Spark-NULL-vs-DuckDB-error.
3. ``ks_two_sample_drift``: one empty shipdate group makes na (and
   na*nb) zero; the ECDF and critical-value divisions must be
   NULLIF-guarded to NULL, not inf/error.
"""

from __future__ import annotations

import datetime
import os

from ucl_data_pipeline_spark.plans.stats import ks_two_sample_drift, mann_whitney_u
from ucl_data_pipeline_spark.plans.text import dup_span_fraction
from ucl_data_pipeline_spark.plans.similarity import ann_recall_ivf_at_3
from ucl_data_pipeline_spark.plans.similarity import ann_recall_ivf2_at_3


def _words(n: int, tag: str) -> str:
    return " ".join(f"{tag}{i}" for i in range(n))


def test_dup_span_fraction_short_doc_emits_no_spans(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            # 7 tokens: below the 10-token span width → zero spans.
            ("d_short", _words(7, "s")),
            # 25 tokens: exactly 2 non-overlapping 10-token spans.
            ("d_a", _words(25, "w")),
            # Same first 20 tokens → both spans duplicated cross-doc.
            ("d_b", _words(20, "w")),
        ],
        "doc_id string, text string",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r["doc_id"]: r
        for r in dup_span_fraction(spark, str(tmp_path)).collect()
    }
    # The short doc yields no spans at all, so it is absent — matching
    # the oracle's empty range(0, 0), not present with phantom spans.
    assert "d_short" not in out
    assert out["d_a"]["n_spans"] == 2 and out["d_a"]["dup_spans"] == 2
    assert out["d_b"]["n_spans"] == 2 and out["d_b"]["dup_spans"] == 2


def test_mann_whitney_u_all_tied_values_nulls_z(spark, tmp_path):
    orders = spark.createDataFrame(
        [
            ("1-URGENT", 100.0),
            ("1-URGENT", 100.0),
            ("5-LOW", 100.0),
            ("5-LOW", 100.0),
        ],
        "o_orderpriority string, o_totalprice double",
    )
    orders.write.parquet(str(tmp_path / "orders.parquet"))
    row = mann_whitney_u(spark, str(tmp_path)).collect()[0]
    assert row["n_a"] == 2 and row["n_b"] == 2
    # All values identical → full tie correction → sigma == 0 → NULL,
    # never a division-by-zero discrepancy between engines.
    assert row["z_score"] is None


def test_ks_two_sample_drift_one_empty_group_nulls_stats(spark, tmp_path):
    early = datetime.datetime(1997, 1, 1)
    li = spark.createDataFrame(
        [(10.0, early), (20.0, early), (30.0, early)],
        "l_extendedprice double, l_shipdate timestamp",
    )
    li.write.parquet(str(tmp_path / "lineitem.parquet"))
    row = ks_two_sample_drift(spark, str(tmp_path)).collect()[0]
    assert row["n_a"] == 3 and row["n_b"] == 0
    # nb == 0 → ECDF fb and crit divisions NULLIF-guard to NULL.
    assert row["ks_d"] is None
    assert row["crit_05"] is None
    assert row["drifted"] is None


def test_export_first_is_valid_driver_prefix():
    """EXPORT_FIRST is the driver's 50-slot checked prefix: every name
    must resolve (a typo silently burns a verification slot — the
    names are strings, nothing else would catch it) and the tuple must
    not exceed the driver's budget."""
    from ucl_data_pipeline_spark.plans import REGISTRY
    from ucl_data_pipeline_spark.plans.registry import EXPORT_FIRST

    missing = [n for n in EXPORT_FIRST if n not in REGISTRY]
    assert not missing, f"EXPORT_FIRST names not in registry: {missing}"
    assert len(EXPORT_FIRST) <= 50
    assert len(set(EXPORT_FIRST)) == len(EXPORT_FIRST)


def test_operators_doc_matches_registry():
    """OPERATORS.md went stale twice (said 241 while the registry held
    247): the generated inventory header must always carry the live
    registry count — regenerate with ``python tools/operators_dump.py``
    when this fails."""
    import re

    from ucl_data_pipeline_spark.plans import REGISTRY

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "OPERATORS.md")) as f:
        head = f.read(500)
    m = re.search(r"(\d+) registered queries", head)
    assert m, "OPERATORS.md header lost its query count"
    assert int(m.group(1)) == len(REGISTRY), (
        f"OPERATORS.md says {m.group(1)} queries but the registry has "
        f"{len(REGISTRY)} — run: python tools/operators_dump.py"
    )


def test_spearman_grain_equals_window_spelling(spark, sf_dir):
    """The value-grain midrank reconstruction must reproduce the
    window spelling EXACTLY (midrank = #rows<v + (cnt+1)/2 is an
    identity, not an approximation) — this equality is what licenses
    swapping in the grain plan at scale."""
    from ucl_data_pipeline_spark.plans.stats import spearman_price_qty
    from ucl_data_pipeline_spark.plans.stats import spearman_rank_via_grain

    a = {
        r["flag"]: (r["n"], r["spearman_rho"])
        for r in spearman_price_qty(spark, sf_dir).collect()
    }
    b = {
        r["flag"]: (r["n"], r["spearman_rho"])
        for r in spearman_rank_via_grain(spark, sf_dir).collect()
    }
    assert a == b and a


def test_ivf_nprobe2_recall_dominates_nprobe1(spark, sf_dir):
    """Probing a second inverted list can only ADD candidates, so the
    nprobe=2 recall gate must dominate nprobe=1 per-query — the
    monotonicity that makes nprobe a meaningful recall/latency knob."""
    r1 = {
        r["query_id"]: r["n_hits"]
        for r in ann_recall_ivf_at_3(spark, sf_dir).collect()
    }
    r2 = {
        r["query_id"]: r["n_hits"]
        for r in ann_recall_ivf2_at_3(spark, sf_dir).collect()
    }
    assert set(r1) == set(r2) and r1
    for qid in r1:
        assert r2[qid] >= r1[qid], qid
