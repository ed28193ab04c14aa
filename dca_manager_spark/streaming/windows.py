"""Structured Streaming operators (SURVEY §2B streaming table).

The reference's queue stage reframed as Structured Streaming: micro-batch
consume with checkpoint-as-ack, watermarked windowed aggregations for late
data (SQS 14-day retention analog, aws_sqs.tf:4), stateful dedup, and the
foreachBatch -> keyed-merge sink that replaces the per-file Glue trigger.

All functions take/return DataFrames so they compose with any readStream
source (FileQueue.as_stream, Kafka, rate source...).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dca_manager_spark.io.manifest import ManifestTable


def tumbling_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "10 minutes",
    group_cols: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Watermarked tumbling-window aggregation. The watermark bounds state:
    windows older than (max event time - watermark) are finalized and
    evicted — without it, state grows forever at 100 TB/day rates."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), *group_cols)
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *group_cols,
            "n_events",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Sliding windows: each event lands in window/slide overlapping panes."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), F.col("w.end").alias("window_end"), "n_events")
    )


def session_counts(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    group_cols: tuple[str, ...] = ("user_id",),
) -> DataFrame:
    """Session windows: dynamic extent, closed after ``gap`` of silence."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"), *group_cols)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            *group_cols,
            "n_events",
        )
    )


def dedup_stream(
    df: DataFrame, keys: list[str], ts_col: str, watermark: str = "10 minutes"
) -> DataFrame:
    """Stateful streaming dedup: first occurrence per key wins; state for a
    key is dropped once the watermark passes it (bounded memory)."""
    return df.withWatermark(ts_col, watermark).dropDuplicates(keys + [ts_col])


def merge_sink(
    table: ManifestTable, write_operation: str = "upsert"
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: each micro-batch MERGEs into the keyed table —
    the streaming replacement for the reference's one-Glue-run-per-file
    trigger (SURVEY A15). Checkpoint commit == ack; a replayed batch
    re-upserts the same keys, so the sink is effectively idempotent
    (at-least-once delivery -> exactly-once table state for upserts)."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        table.write(batch_df, write_operation)

    return _sink
