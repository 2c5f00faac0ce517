"""Structured Streaming surface (SURVEY §2.9 ST1-ST5).

The reference approximates streaming with cron micro-batches
(/root/reference/src/orchestrator.py:471-495) and high-watermark
incremental SOQL (src/utils/data_contracts.py:235-275). Here the same
dataflows are true Structured Streaming plans; the batch queries in
plans/events.py are the oracle-checkable faces of these exact plans
(Spark incrementalizes the identical logical plan).

Late data: the reference silently re-reads anything past the
watermark; we make lateness explicit via withWatermark — rows older
than the watermark are dropped from open aggregates, which is the
well-defined version of the same contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .trigger import available_now


def stream_source(spark: SparkSession, path: str, schema: StructType, fmt: str = "parquet",
                  max_files_per_trigger: int | None = None) -> DataFrame:
    """File-based stream source (the landed-extract bronze dir as a
    stream). maxFilesPerTrigger is the reference's rate-limit analogue
    (salesforce.py:480-508)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.format(fmt).load(path)


def tumbling_agg(events: DataFrame, ts_col: str = "ts", window: str = "1 hour",
                 watermark: str = "2 hours") -> DataFrame:
    """ST5: tumbling window counts/sums with late-data watermark —
    identical shape to plans/events.event_tumbling_windows."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def sliding_agg(events: DataFrame, ts_col: str = "ts", window: str = "1 hour",
                slide: str = "15 minutes", watermark: str = "2 hours") -> DataFrame:
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def session_agg(events: DataFrame, ts_col: str = "ts", gap: str = "30 minutes",
                watermark: str = "2 hours") -> DataFrame:
    """Native session windows (session_window) — the streaming form of
    plans/events.event_sessionization's gaps-and-islands."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("session_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def run_available_now(stream_df: DataFrame, checkpoint: str, sink_path: str,
                      output_mode: str = "append", fmt: str = "parquet"):
    """ST1: Trigger.AvailableNow batch-over-stream — process everything
    pending, then stop (the cron micro-batch done right: checkpointed,
    exactly-once sink)."""
    writer = (
        stream_df.writeStream.format(fmt)
        .outputMode(output_mode)
        .option("path", sink_path)
    )
    return available_now(stream_df.sparkSession, writer, checkpoint)
