"""Round-12 additions (round-11 verdict task 3): bench measurement
hardening — median-of-3 calibration and the fresh-JVM recheck for
suppressed-by-plan entries that archives best-of-2 raw seconds."""

from __future__ import annotations

import json


class _FakeCatalog:
    def clearCache(self):
        pass


class _FakeSpark:
    catalog = _FakeCatalog()


class _FakeGrouped:
    def agg(self, *cols):
        return object()


class _FakeFrame:
    def groupBy(self, *cols):
        return _FakeGrouped()


def test_calibration_is_median_not_best(monkeypatch, spark):
    """The r11 judge measured a 1.8× swing between two best-of-3
    calibrations while query raws moved <15% — every stored norm
    divides by that one number. The yardstick must be the MEDIAN of
    the three samples (robust to one lucky outlier), not the min.
    Driven with a deterministic fake timer: samples 1.0, 0.2, 0.5 —
    best-of-3 would return 0.2, median-of-3 returns 0.5."""
    import bench

    monkeypatch.setattr(
        "ucl_data_pipeline_spark.sources.io.read_table",
        lambda s, d, t: _FakeFrame(),
    )
    monkeypatch.setattr(bench, "_execute", lambda df: None)
    # perf_counter is read twice per sample (t0, then the delta read);
    # deltas: 1.0, 0.2, 0.5.
    ticks = iter([0.0, 1.0, 10.0, 10.2, 20.0, 20.5])
    monkeypatch.setattr(bench.time, "perf_counter", lambda: next(ticks))
    assert bench._calibrate(_FakeSpark(), "/nowhere") == 0.5


def test_epoch_bumped_for_median_calibration():
    """Median-of-3 norms divide by a systematically larger yardstick
    than best-of-3 norms — mixing the two in one rolling history would
    mis-scale every ratio, so the yardstick change must have re-seeded
    the epoch."""
    import bench

    assert bench.EPOCH == "r12-median-calib-v3"


def test_recheck_suppressed_archives_best_of_two(tmp_path, monkeypatch):
    """BENCH_r11 archived jaccard_prefix_filter_pairs at 49.64 s (9.5×
    its level) in the driver artifact even though the tracker had
    adjudicated the drift environment. The suppressed-entry recheck
    must re-measure in a fresh JVM, archive min(in-suite, recheck) in
    the raw-seconds map, annotate the entry with both numbers, and
    append the recheck norm to the rolling history."""
    import bench

    monkeypatch.setattr(bench, "HISTORY_PATH", str(tmp_path / "hist.json"))
    # Seed a history so the append is observable.
    bench._flag_and_update_history({"jac": 2.0}, 0.1, raw={"jac": 5.0})
    fake_payload = {"queries": {"jac": 5.7}, "calib_sec": 0.5}
    monkeypatch.setattr(
        bench, "_subset_remeasure", lambda names, sf: fake_payload
    )
    suppressed = [{"query": "jac", "norm": 99.2, "median_norm": 11.3}]
    timings = {"jac": 49.64, "other": 1.0}
    bench._recheck_suppressed(suppressed, "/nowhere", timings)

    assert timings["jac"] == 5.7, "archived raw must be best-of-2"
    assert timings["other"] == 1.0
    assert suppressed[0]["suite_sec"] == 49.64
    assert suppressed[0]["recheck_sec"] == 5.7
    assert suppressed[0]["recheck_norm"] == round(5.7 / 0.5, 3)
    hist = json.load(open(tmp_path / "hist.json"))
    assert hist["norms"]["jac"][-1] == round(5.7 / 0.5, 4), (
        "recheck norm must be appended to the rolling history"
    )


def test_recheck_suppressed_never_inflates(tmp_path, monkeypatch):
    """A recheck that lands SLOWER than the suite number (contention
    struck the recheck instead) must leave the archived raw at the
    in-suite value — best-of-2 is a one-way correction."""
    import bench

    monkeypatch.setattr(bench, "HISTORY_PATH", str(tmp_path / "hist.json"))
    monkeypatch.setattr(
        bench,
        "_subset_remeasure",
        lambda names, sf: {"queries": {"q": 9.0}, "calib_sec": 0.5},
    )
    suppressed = [{"query": "q", "norm": 4.0, "median_norm": 2.0}]
    timings = {"q": 3.0}
    bench._recheck_suppressed(suppressed, "/nowhere", timings)
    assert timings["q"] == 3.0
    assert suppressed[0]["recheck_sec"] == 9.0


def test_recheck_suppressed_survives_failed_subprocess(monkeypatch):
    """Recheck unavailable (subprocess died): archived raws stay as
    measured and the entries are left unannotated — never raise."""
    import bench

    monkeypatch.setattr(bench, "_subset_remeasure", lambda names, sf: None)
    suppressed = [{"query": "q", "norm": 4.0, "median_norm": 2.0}]
    timings = {"q": 3.0}
    bench._recheck_suppressed(suppressed, "/nowhere", timings)
    assert timings["q"] == 3.0
    assert "recheck_sec" not in suppressed[0]


def test_confirm_regressions_archives_best_of_two(tmp_path, monkeypatch):
    """The regression-confirm recheck already re-measures in a fresh
    JVM; with the archived map passed in it must apply the same
    best-of-2 correction (a flagged-then-unconfirmed contention number
    is exactly as polluting as a suppressed one)."""
    import bench

    monkeypatch.setattr(bench, "HISTORY_PATH", str(tmp_path / "hist.json"))
    for _ in range(4):
        bench._flag_and_update_history({"q": 2.0}, 0.1, raw={"q": 2.0})
    regs, _sup, _ = bench._flag_and_update_history(
        {"q": 8.0}, 0.1, raw={"q": 8.0}
    )
    assert [r["query"] for r in regs] == ["q"]
    monkeypatch.setattr(
        bench,
        "_subset_remeasure",
        lambda names, sf: {"queries": {"q": 2.1}, "calib_sec": 1.0},
    )
    timings = {"q": 8.0}
    confirmed = bench._confirm_regressions(regs, "/nowhere", timings)
    assert confirmed == [], "recheck at baseline level must clear the flag"
    assert timings["q"] == 2.1, "archived raw must be best-of-2"


def test_cc_subgraph_propagation_identical_to_corpus_walk(spark, sf_dir):
    """r12 optimization gate: dedup_connected_components now iterates
    label propagation over the EDGE-NODE subgraph only and re-attaches
    isolated documents at the end (left join + coalesce). The invariant
    that makes this result-identical — a document with no edge can
    never change label — is asserted here against an independent
    Python union-find over a synthetic edge set that includes a
    diameter-2 chain (multi-round propagation) and isolated docs."""
    from pyspark.sql import functions as F

    from ucl_data_pipeline_spark.plans.similarity import dedup_connected_components
    from ucl_data_pipeline_spark.sources.io import read_table

    pairs = [(7, 1), (1, 2), (410, 411), (2, 350)]  # chain + pair
    edges = spark.createDataFrame(
        [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs],
        "src long, dst long",
    ).persist()
    got = {
        r["doc_id"]: r["component_id"]
        for r in dedup_connected_components(
            spark, sf_dir, edges=edges
        ).collect()
    }
    docs = [
        r["doc_id"]
        for r in read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
    ]
    # independent reference: union-find over the full doc list
    parent = {d: d for d in docs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {d: find(d) for d in docs}
    assert got == expected
    assert len(got) == len(docs), "every document keeps a label row"
    edges.unpersist()
