"""Streaming ≡ batch equivalence: the Structured Streaming pipelines
(Trigger.AvailableNow) must produce the same results as the registered
batch queries that the driver oracle-checks (SURVEY.md §2.9).
"""

from __future__ import annotations

from collections import Counter

import pytest

from ucl_data_pipeline_spark.plans.temporal import (
    dedup_events_first,
    session_window_agg,
    sliding_window_agg,
    tumbling_window_agg,
)
from ucl_data_pipeline_spark.sources.io import read_table
from ucl_data_pipeline_spark.streaming import (
    dedup_within_watermark,
    read_events_stream,
    run_available_now,
    session_window_stream,
    tumbling_window_stream,
    user_running_totals_stream,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    # Stage events as a micros-timestamp parquet directory (the
    # streaming file source needs a directory; testdata is read-only
    # single-file NANOS parquet).
    d = tmp_path_factory.mktemp("events_stream")
    # repartition (not coalesce — which can collapse to one file at
    # this size) guarantees TWO parquet files, so maxFilesPerTrigger=1
    # genuinely produces two micro-batches in the stateful tests.
    read_table(spark, sf_dir, "events").repartition(2).write.mode(
        "overwrite"
    ).parquet(str(d / "data"))
    return str(d / "data")


def _multiset(df):
    cols = sorted(df.columns)
    return Counter(
        tuple(str(row[c]) for c in cols) for row in df.collect()
    )


def test_tumbling_stream_equals_batch(spark, sf_dir, events_dir, tmp_path):
    # complete mode so windows still inside the watermark horizon at
    # end-of-input are emitted too (append withholds them by design).
    stream = tumbling_window_stream(read_events_stream(spark, events_dir))
    got = run_available_now(stream, str(tmp_path / "ckpt"), output_mode="complete")
    want = tumbling_window_agg(spark, sf_dir)
    assert _multiset(got) == _multiset(want)


def test_sliding_stream_equals_batch(spark, sf_dir, events_dir, tmp_path):
    from ucl_data_pipeline_spark.streaming import sliding_window_stream

    stream = sliding_window_stream(read_events_stream(spark, events_dir))
    got = run_available_now(stream, str(tmp_path / "ckpt"), output_mode="complete")
    want = sliding_window_agg(spark, sf_dir)
    assert _multiset(got) == _multiset(want)


def test_session_stream_equals_batch(spark, sf_dir, events_dir, tmp_path):
    stream = session_window_stream(read_events_stream(spark, events_dir))
    got = run_available_now(stream, str(tmp_path / "ckpt"), output_mode="complete")
    want = session_window_agg(spark, sf_dir)
    assert _multiset(got) == _multiset(want)


def test_stateful_running_totals_match_batch(spark, sf_dir, events_dir, tmp_path):
    # One file per trigger forces TWO micro-batches, so state genuinely
    # carries across batches (the fixture writes 2 parquet files); the
    # LAST emitted row per user must equal the batch aggregate.
    from pyspark.sql import functions as F

    stream = user_running_totals_stream(
        read_events_stream(spark, events_dir, max_files_per_trigger=1)
    )
    got = run_available_now(stream, str(tmp_path / "ckpt"), output_mode="update")
    finals = {}
    for r in got.collect():  # memory sink preserves batch emission order
        finals[r.user_id] = (r.n_events, r.sum_value)
    want = (
        read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum(F.coalesce("value", F.lit(0.0))).alias("s"))
        .collect()
    )
    assert len(finals) == len(want)
    for r in want:
        n, s = finals[r.user_id]
        assert n == r.n
        assert abs(s - r.s) < 1e-6


def test_csv_stream_source_equals_batch(spark, sf_dir, tmp_path):
    # CSV landing directory as the stream source: same windowed result
    # as the batch query over the parquet original.
    csv_dir = str(tmp_path / "csv_events")
    read_table(spark, sf_dir, "events").repartition(2).write.mode(
        "overwrite"
    ).option("header", True).csv(csv_dir)
    stream = tumbling_window_stream(
        read_events_stream(spark, csv_dir, fmt="csv")
    )
    got = run_available_now(stream, str(tmp_path / "ckpt"), output_mode="complete")
    want = tumbling_window_agg(spark, sf_dir)
    assert _multiset(got) == _multiset(want)


def test_foreachbatch_incremental_parquet_sink(spark, sf_dir, events_dir, tmp_path):
    # The production sink pattern: foreachBatch gives each micro-batch
    # to ordinary batch code (partitioned parquet append here; MERGE
    # INTO / JDBC upserts in real deployments). All events must land
    # exactly once in the partitioned layout.
    from pyspark.sql import functions as F

    out = str(tmp_path / "sink")

    def write_batch(batch_df, batch_id):
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .partitionBy("event_type")
            .parquet(out)
        )

    q = (
        read_events_stream(spark, events_dir, max_files_per_trigger=1)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    want = read_table(spark, sf_dir, "events")
    assert got.count() == want.count()
    assert got.select("batch_id").distinct().count() == 2  # two micro-batches
    # partition pruning works on the sink layout
    one_type = got.filter(F.col("event_type") == "click")
    plan = one_type._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_type" in plan


def test_dedup_within_watermark_keeps_one_per_key(
    spark, sf_dir, events_dir, tmp_path
):
    stream = dedup_within_watermark(
        read_events_stream(spark, events_dir), ["user_id", "event_type"]
    )
    got = run_available_now(stream, str(tmp_path / "ckpt"))
    want = dedup_events_first(spark, sf_dir)
    # Streaming dedup keeps the first *arrival* (file order), batch
    # keeps the first *timestamp*: key sets must agree exactly.
    got_keys = {(r.user_id, r.event_type) for r in got.collect()}
    want_keys = {(r.user_id, r.event_type) for r in want.collect()}
    assert got_keys == want_keys
    assert got.count() == len(got_keys)


def test_interval_join_stream_equals_batch(spark, sf_dir, events_dir, tmp_path):
    from ucl_data_pipeline_spark.plans.temporal import view_click_interval_join
    from ucl_data_pipeline_spark.streaming import interval_join_stream

    v = read_events_stream(spark, events_dir)
    c = read_events_stream(spark, events_dir)
    stream = interval_join_stream(v, c)
    got = run_available_now(stream, str(tmp_path / "ckpt"))
    want = view_click_interval_join(spark, sf_dir)
    assert _multiset(got) == _multiset(want)


def test_stream_static_broadcast_enrich(spark, sf_dir, events_dir, tmp_path):
    # Stream-static join: an unbounded stream enriched by a bounded
    # dimension (broadcast — no state store involved); every stream row
    # must survive with its dimension value attached.
    from pyspark.sql import functions as F

    from ucl_data_pipeline_spark.sources.io import read_table

    dim = (
        read_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .withColumn("tier", (F.col("user_id") % 3).cast("int"))
    )
    stream = read_events_stream(spark, events_dir).join(
        F.broadcast(dim), "user_id"
    )
    got = run_available_now(stream, str(tmp_path / "ckpt"))
    want = read_table(spark, sf_dir, "events")
    assert got.count() == want.count()
    assert all(r.tier == r.user_id % 3 for r in got.limit(50).collect())


def test_ohlc_stream_equals_batch(spark, sf_dir, events_dir, tmp_path):
    from ucl_data_pipeline_spark.plans.temporal import ohlc_resample_hourly
    from ucl_data_pipeline_spark.streaming import ohlc_stream

    stream = ohlc_stream(read_events_stream(spark, events_dir))
    got = run_available_now(stream, str(tmp_path / "ckpt"), output_mode="complete")
    want = ohlc_resample_hourly(spark, sf_dir)
    assert _multiset(got) == _multiset(want)


def test_transform_with_state_api_gated():
    # Spark 4's arbitrary-state successor API (transformWithState /
    # transformWithStateInPandas, StatefulProcessor) is present in this
    # PySpark build, but its driver worker requires the python
    # `protobuf` package (pyspark/sql/streaming/proto/StateMessage_pb2),
    # which is absent/broken in this sandbox (no pip installs) — a live
    # query crashes with STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE
    # / "cannot import name 'descriptor' from 'google.protobuf'".
    # The engine's working arbitrary-state path remains
    # applyInPandasWithState (user_running_totals_stream, verified
    # against its batch twin above); swap to the new API when the
    # environment ships protobuf.
    import pytest

    from pyspark.sql.streaming.stateful_processor import (  # noqa: F401
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    try:
        import google.protobuf.descriptor  # noqa: F401
    except ImportError:
        # xfail, not skip: this is a KNOWN environment defect with a
        # recorded probe (SCALE_NOTES.md "transformWithState probe";
        # the live-query attempt fails with
        # STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE). pip installs
        # are not possible here, so the expected-failure is
        # load-bearing documentation: the moment the environment ships
        # a working protobuf this XPASSes and tells us to wire
        # transformWithState for real.
        pytest.xfail(
            "protobuf unavailable: transformWithState runtime-gated "
            "(see SCALE_NOTES.md 'transformWithState probe')"
        )


def test_session_length_stream_equals_batch_histogram(
    spark, sf_dir, events_dir, tmp_path
):
    # The streaming sessionizer (session_window with the +1µs gap that
    # aligns Spark's strictly-within merge rule with the batch query's
    # strictly-greater cut) must reproduce the registered
    # session_length_histogram exactly once its closed sessions are
    # rolled up.
    from ucl_data_pipeline_spark.plans.temporal import session_length_histogram
    from ucl_data_pipeline_spark.streaming import (
        rollup_session_histogram,
        session_length_stream,
    )

    stream = session_length_stream(read_events_stream(spark, events_dir))
    sessions = run_available_now(
        stream, str(tmp_path / "ckpt"), output_mode="complete"
    )
    got = rollup_session_histogram(sessions)
    want = session_length_histogram(spark, sf_dir)
    assert _multiset(got) == _multiset(want)


def test_late_events_stream_equals_batch_single_batch(
    spark, sf_dir, events_dir, tmp_path
):
    # One micro-batch (no maxFilesPerTrigger): the stateful function's
    # within-batch event_id sort IS the batch query's arrival order, so
    # the rolled-up partials must match out_of_order_stats exactly.
    from ucl_data_pipeline_spark.plans.temporal import out_of_order_stats
    from ucl_data_pipeline_spark.streaming import (
        late_events_stream,
        rollup_late_stats,
    )

    stream = late_events_stream(read_events_stream(spark, events_dir))
    partials = run_available_now(
        stream, str(tmp_path / "ckpt"), output_mode="update"
    )
    got = rollup_late_stats(partials)
    want = out_of_order_stats(spark, sf_dir)
    assert _multiset(got) == _multiset(want)


def test_late_events_stream_state_across_ordered_batches(
    spark, sf_dir, tmp_path
):
    # TWO micro-batches in event_id-range order: the per-user high
    # water must carry through the state store across batches. Files
    # are range-partitioned on event_id and given strictly increasing
    # mtimes (the file source processes oldest-first), so arrival
    # order == event_id order == the batch query's definition.
    import glob
    import os
    import time

    import pyarrow.parquet as pq

    from ucl_data_pipeline_spark.plans.temporal import out_of_order_stats
    from ucl_data_pipeline_spark.streaming import (
        late_events_stream,
        rollup_late_stats,
    )

    d = str(tmp_path / "ordered_events")
    read_table(spark, sf_dir, "events").repartitionByRange(
        2, "event_id"
    ).write.parquet(d)
    files = sorted(glob.glob(os.path.join(d, "part-*.parquet")))
    assert len(files) == 2
    by_min = sorted(
        files,
        key=lambda f: min(
            pq.read_table(f, columns=["event_id"])
            .column("event_id")
            .to_pylist()
        ),
    )
    now = time.time()
    for i, f in enumerate(by_min):
        os.utime(f, (now - 120 + i * 60, now - 120 + i * 60))

    stream = late_events_stream(
        read_events_stream(spark, d, max_files_per_trigger=1)
    )
    partials = run_available_now(
        stream, str(tmp_path / "ckpt2"), output_mode="update"
    )
    # Update-mode partials are per-batch DELTAS (additive), so two
    # batches ⇒ up to two rows per (user, type); the rollup sums them.
    got = rollup_late_stats(partials)
    want = out_of_order_stats(spark, sf_dir)
    assert _multiset(got) == _multiset(want)


@pytest.fixture(scope="module")
def orders_dir(spark, sf_dir, tmp_path_factory):
    # Stage orders as a TWO-file parquet directory so
    # maxFilesPerTrigger=1 yields genuine multi-micro-batch runs for
    # the day-grain drift-monitor streams.
    d = tmp_path_factory.mktemp("orders_stream")
    read_table(spark, sf_dir, "orders").repartition(2).write.mode(
        "overwrite"
    ).parquet(str(d / "data"))
    return str(d / "data")


def test_cusum_stream_equals_batch(spark, sf_dir, orders_dir, tmp_path):
    # The streaming day-grain pre-agg + shared day-grain CUSUM math
    # must reproduce the driver-oracle-checked batch query exactly.
    # complete mode: at AvailableNow end-of-input the newest days are
    # still inside the watermark horizon and append would hold them.
    from ucl_data_pipeline_spark.plans.temporal import cusum_drift_daily
    from ucl_data_pipeline_spark.streaming import (
        daily_revenue_stream,
        read_orders_stream,
        rollup_cusum,
    )

    stream = daily_revenue_stream(read_orders_stream(spark, orders_dir))
    daily = run_available_now(
        stream, str(tmp_path / "ckpt"), output_mode="complete"
    )
    got = rollup_cusum(daily)
    want = cusum_drift_daily(spark, sf_dir)
    assert _multiset(got) == _multiset(want)


def test_changepoint_stream_equals_batch(spark, sf_dir, orders_dir, tmp_path):
    from ucl_data_pipeline_spark.plans.stats import changepoint_single_split
    from ucl_data_pipeline_spark.streaming import (
        daily_revenue_stream,
        read_orders_stream,
        rollup_changepoint,
    )

    stream = daily_revenue_stream(read_orders_stream(spark, orders_dir))
    daily = run_available_now(
        stream, str(tmp_path / "ckpt"), output_mode="complete"
    )
    got = rollup_changepoint(daily)
    want = changepoint_single_split(spark, sf_dir)
    assert _multiset(got) == _multiset(want)


def test_daily_revenue_stream_multi_batch_state(spark, sf_dir, orders_dir, tmp_path):
    # TWO micro-batches (maxFilesPerTrigger=1): a day whose orders
    # straddle both files must still aggregate to ONE exact row via the
    # window state store — the incremental path a daily-ingest pipeline
    # actually runs.
    from ucl_data_pipeline_spark.plans.temporal import cusum_drift_daily
    from ucl_data_pipeline_spark.streaming import (
        daily_revenue_stream,
        read_orders_stream,
        rollup_cusum,
    )

    stream = daily_revenue_stream(
        read_orders_stream(spark, orders_dir, max_files_per_trigger=1)
    )
    daily = run_available_now(
        stream, str(tmp_path / "ckpt"), output_mode="complete"
    )
    # day grain must be exact: no duplicate day rows out of complete mode
    days = [r["day"] for r in daily.select("day").collect()]
    assert len(days) == len(set(days))
    got = rollup_cusum(daily)
    want = cusum_drift_daily(spark, sf_dir)
    assert _multiset(got) == _multiset(want)


def test_curation_gate_stream_equals_batch(spark, sf_dir, tmp_path):
    # The streaming curation gate (stateless: benchmark flag +
    # static-broadcast contamination digests + quality threshold) must
    # agree row-for-row with the batch curation_pipeline's ladder,
    # with the cross-doc stages (near-dedup, packing) collapsed into
    # 'candidate' — they are downstream batch steps by design.
    from pyspark.sql import functions as F

    from ucl_data_pipeline_spark.plans.text import curation_pipeline
    from ucl_data_pipeline_spark.streaming import (
        bench_gram_digests_static,
        curation_gate_stream,
        read_docs_stream,
    )

    d = str(tmp_path / "docs_stream")
    docs = read_table(spark, sf_dir, "documents")
    docs.repartition(2).write.parquet(d)
    bench = bench_gram_digests_static(docs)
    stream = curation_gate_stream(read_docs_stream(spark, d), bench)
    got = run_available_now(stream, str(tmp_path / "ckpt"))
    want = curation_pipeline(spark, sf_dir).select(
        "doc_id",
        "source",
        "n_tokens",
        F.when(
            F.col("disposition").isin("near_dup", "kept"), "candidate"
        )
        .otherwise(F.col("disposition"))
        .alias("gate"),
    )
    assert _multiset(got) == _multiset(want)


def test_page_hinkley_stream_equals_batch(spark, sf_dir, orders_dir, tmp_path):
    # Same discipline as the CUSUM/changepoint twins: the streaming
    # day-grain pre-agg + the SHARED page_hinkley_over_daily math must
    # reproduce the driver-oracle-checked batch query exactly.
    from ucl_data_pipeline_spark.plans.temporal import page_hinkley_drift_daily
    from ucl_data_pipeline_spark.streaming import (
        daily_revenue_stream,
        read_orders_stream,
        rollup_page_hinkley,
    )

    stream = daily_revenue_stream(read_orders_stream(spark, orders_dir))
    daily = run_available_now(
        stream, str(tmp_path / "ckpt"), output_mode="complete"
    )
    got = rollup_page_hinkley(daily)
    want = page_hinkley_drift_daily(spark, sf_dir)
    assert _multiset(got) == _multiset(want)
