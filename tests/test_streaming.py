"""Streaming events analytics: the stream result must equal the batch result."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafusion_dft_spark.catalog import load_tables
from datafusion_dft_spark.streaming.events import (
    _events_ts_unit,
    dedup_stream,
    read_events_stream,
    run_to_memory,
    session_windows,
    sink_to_parquet,
    view_purchase_join,
    windowed_counts,
)


def test_streaming_dedup(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    q = (
        dedup_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_dedup")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n_stream = spark.sql("SELECT count(DISTINCT event_id) AS n FROM stream_dedup").collect()[0].n
    n_rows = spark.sql("SELECT count(*) AS n FROM stream_dedup").collect()[0].n
    n_batch = load_tables(spark, sf_dir)["events"].select("event_id").distinct().count()
    assert n_stream == n_rows == n_batch  # no dup survived, none lost


def test_parquet_sink_durable(spark, sf_dir, tmp_path):
    """Streamed dedup sinks to parquet exactly-once; the files read back
    equal to the batch distinct."""
    stream = read_events_stream(spark, sf_dir)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    sink_to_parquet(dedup_stream(stream), out, ckpt)
    back = spark.read.parquet(out)
    n_batch = load_tables(spark, sf_dir)["events"].select("event_id").distinct().count()
    assert back.select("event_id").distinct().count() == n_batch
    assert back.count() == n_batch
    # re-running against the same checkpoint adds nothing (offsets committed)
    sink_to_parquet(dedup_stream(read_events_stream(spark, sf_dir)), out, ckpt)
    assert spark.read.parquet(out).count() == n_batch


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """StreamingSymmetricHashJoin (view->purchase within 1h) == the
    identical batch join — the SymmetricHashJoinExec analog (§2.3)."""
    views = read_events_stream(spark, sf_dir).filter(F.col("event_type") == "view")
    purchases = read_events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    q = (
        view_purchase_join(views, purchases)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_vp_join")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql(
        "SELECT count(*) AS n, sum(purchase_value) AS v FROM stream_vp_join"
    ).collect()[0]
    ev = load_tables(spark, sf_dir)["events"]
    bv = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts"), "event_id"
    )
    bp = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"), F.col("value").alias("purchase_value")
    )
    want = (
        bv.join(
            bp,
            F.expr(
                "v_user = p_user AND purchase_ts >= view_ts "
                "AND purchase_ts <= view_ts + INTERVAL 1 hour"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("purchase_value").alias("v"))
        .collect()[0]
    )
    assert got.n == want.n and got.n > 0
    assert abs(got.v - want.v) < 1e-6


def test_windowed_counts_match_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    run_to_memory(windowed_counts(stream), "stream_hourly")
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM stream_hourly").collect()
    }
    ev = load_tables(spark, sf_dir)["events"]
    want = {
        (r.hour_start, r.event_type): (r.n_events, r.total_value)
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour_start"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .collect()
    }
    assert got == want


def test_stateful_user_profiles_match_batch(spark, sf_dir):
    from datafusion_dft_spark.streaming.stateful import user_profiles

    stream = read_events_stream(spark, sf_dir)
    q = (
        user_profiles(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("stream_profiles")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # Update mode emits one row per user per micro-batch; the final state
    # per user must equal the batch aggregate.
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in spark.sql(
            """
            SELECT user_id, n_events, total_value FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id
                                           ORDER BY n_events DESC) AS rn
              FROM stream_profiles) WHERE rn = 1
            """
        ).collect()
    }
    ev = load_tables(spark, sf_dir)["events"]
    want = {
        r.user_id: (r.n, r.v)
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("v"))
        .collect()
    }
    assert got == want


def test_session_windows_run(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    run_to_memory(session_windows(stream), "stream_sessions")
    rows = spark.sql("SELECT * FROM stream_sessions").collect()
    assert rows, "session windows produced no rows"
    assert all(r.session_end >= r.session_start and r.n_events > 0 for r in rows)


def test_stateful_funnel_matches_batch(spark, sf_dir):
    """Streaming twin of the batch ordered funnel: per-user final stage
    from managed first-touch state must equal the batch 'seq' prefix
    rule — min-timestamps make the operator arrival-order insensitive."""
    from datafusion_dft_spark.streaming.stateful import funnel_stages

    stream = read_events_stream(spark, sf_dir)
    q = (
        funnel_stages(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("stream_funnel")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.user_id: r.stage
        for r in spark.sql(
            """
            SELECT user_id, stage FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id
                                           ORDER BY n_seen DESC) AS rn
              FROM stream_funnel) WHERE rn = 1
            """
        ).collect()
    }
    ev = load_tables(spark, sf_dir)["events"]
    first = ev.groupBy("user_id").agg(
        *[
            F.min(
                F.when(F.col("event_type") == t, F.unix_micros("ts"))
            ).alias(f"t_{t}")
            for t in ("signup", "view", "click", "purchase")
        ]
    )
    want = {}
    for r in first.collect():
        stage = 0
        if r.t_signup is not None:
            stage = 1
            if r.t_view is not None and r.t_signup <= r.t_view:
                stage = 2
                if r.t_click is not None and r.t_view <= r.t_click:
                    stage = 3
                    if r.t_purchase is not None and r.t_click <= r.t_purchase:
                        stage = 4
        want[r.user_id] = stage
    assert got == want
    assert set(got.values()) != {0}  # non-vacuous: someone advanced


def test_events_ts_unit_missing_footer_raises(tmp_path):
    """No events.parquet: the footer read raises instead of guessing a unit."""
    with pytest.raises(FileNotFoundError):
        _events_ts_unit(str(tmp_path))
