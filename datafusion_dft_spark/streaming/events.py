"""Streaming events analytics (Structured Streaming).

The reference has no streaming surface (SURVEY.md §2.9 — its only
"streaming" is incremental batch result delivery), so this module is
beyond-reference: the ``events`` batch analytics re-expressed as
incremental streaming queries, the way the same pipeline would run
against Kafka at 100 TB/day.

- tumbling/sliding window aggregation with watermarked late-data
  handling (``F.window`` + ``withWatermark``);
- gap-based session windows (``F.session_window`` — the streaming
  twin of the batch lag+cumsum sessionization in queries/events.py);
- file-source micro-batching over the driver's parquet as the local
  stand-in for a message bus; ``foreachBatch``/memory sinks.

State scales with (key x open windows); watermarks bound it — the
same query runs unmodified on a real cluster+bus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # TIMESTAMP(NANOS) read as long
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _events_ts_unit(sf_dir: str) -> str:
    """Physical time unit of the events ``ts`` column ('ns' or 'us').

    The corpus has been written both ways across driver versions
    (TIMESTAMP(NANOS), which Spark can only read as long under the
    legacy flag, and plain TIMESTAMP(MICROS)); sniff the footer so the
    stream decodes whichever is on disk.
    """
    import os

    import pyarrow.parquet as pq

    field = pq.read_schema(os.path.join(sf_dir, "events.parquet")).field("ts")
    return getattr(field.type, "unit", "us") or "us"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (one file = one micro-batch)."""
    if _events_ts_unit(sf_dir) == "ns":
        # The nanos-as-long legacy flag must stay ON for the lifetime of
        # the streaming query (micro-batches read parquet under the
        # session conf), so unlike the batch reader it cannot be
        # set-and-restored here.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Micros encoding: declare ts as TIMESTAMP outright. The explicit
    # schema (not inference) keeps the column TimestampType even when
    # the engine would infer TIMESTAMP_NTZ; session TZ is pinned UTC so
    # values are identical either way.
    schema = T.StructType(
        [
            f if f.name != "ts" else T.StructField("ts", T.TimestampType())
            for f in EVENTS_SCHEMA.fields
        ]
    )
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def windowed_counts(
    events: DataFrame, window: str = "1 hour", slide: str | None = None, watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling/sliding window counts per event type."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_windows(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Gap-based session aggregation (streaming twin of events_sessionization)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup on event_id within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    watermark passes — bounded state, the streaming twin of the batch
    hash-dedup operator.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def view_purchase_join(
    views: DataFrame, purchases: DataFrame, horizon: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream inner join: purchases matched to a prior view.

    Spark's StreamingSymmetricHashJoin — the engine analog of
    DataFusion's SymmetricHashJoinExec (unbounded two-sided hash join,
    which the reference compiles in but never schedules for its finite
    sources; SURVEY §2.3). Both sides buffer keyed state; the
    watermark + time-range predicate (view <= purchase <= view +
    horizon) lets Spark evict state older than the horizon, so memory
    is bounded by (keys x horizon) not the stream length. Scale: state
    is partitioned by user_id — horizontal scale is adding executors.
    """
    v = (
        views.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
    )
    p = (
        purchases.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    return v.join(
        p,
        F.expr(
            f"""
            v_user = p_user AND
            purchase_ts >= view_ts AND
            purchase_ts <= view_ts + INTERVAL {horizon}
            """
        ),
        "inner",
    ).select("v_user", "view_id", "view_ts", "purchase_ts", "purchase_value")


def sink_to_parquet(stream_df: DataFrame, path: str, checkpoint: str) -> None:
    """Durable append sink: exactly-once parquet with checkpointed offsets.

    The production shape for streaming results (SCALE.md): Spark's file
    sink commits each micro-batch atomically through its own
    transaction log under ``path/_spark_metadata`` and resumes from the
    checkpoint on restart — the same query moves to a Kafka source or a
    Delta sink by swapping format strings. Runs with the available-now
    trigger: drain everything currently readable, then stop.
    """
    q = (
        stream_df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_to_memory(stream_df: DataFrame, name: str) -> None:
    """Drive a streaming query over all available input synchronously
    (memory sink, complete mode) — the local test harness."""
    q = (
        stream_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
