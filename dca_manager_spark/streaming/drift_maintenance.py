"""Streaming corpus-drift maintenance: per-micro-batch token counts
upserted into a keyed, event-time-bucketed store, so "did this week's
ingest drift against last week's?" is answered from O(buckets x vocab)
state without re-reading any document — the drift sibling of
streaming/sketch_maintenance (and the streaming payoff of counts being
trivially mergeable: they ADD).

Exactly-once story (same shape as the sketch store):
- foreachBatch is AT-LEAST-ONCE; the store keys rows by
  (bucket_ts, token, batch_id) and the sink is a keyed UPSERT, so a
  replayed batch REWRITES its own rows with identical counts instead of
  double-adding — idempotent;
- aggregation ACROSS batches happens at read time (SUM over the batch
  rows of a bucket — counts are associative), merge-on-read: replays
  can never corrupt totals.

Reading composes with operators/drift: the per-bucket summed counts ARE
a (__slice, __tok, __cnt) frame, so read_bucket_drift /
read_bucket_top_divergent reuse drift_from_counts /
top_divergent_from_counts verbatim — identical statistics (same
quantized-term exactness) whether the counts came from a batch scan or
a month of micro-batches.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dca_manager_spark.operators.drift import (
    drift_from_counts,
    top_divergent_from_counts,
)
from dca_manager_spark.operators.text import tokens


def batch_token_counts(
    df: DataFrame,
    text_col: str,
    ts_col: str,
    bucket_duration: str = "1 hour",
    lowercase: bool = True,
) -> DataFrame:
    """One batch's (bucket_ts, token, cnt) rows — the exact counting
    plan the streaming sink writes per micro-batch, exposed so batch
    backfills (and the catalog query) build the SAME store the stream
    maintains: explode tokens under their event-time bucket, one
    map-side-combined count."""
    src = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    return (
        df.select(
            F.window(F.col(ts_col), bucket_duration)["start"].alias(
                "bucket_ts"
            ),
            F.explode(tokens(src)).alias("token"),
        )
        .groupBy("bucket_ts", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def stream_token_counts(
    stream_df: DataFrame,
    table: Any,
    checkpoint_dir: str,
    text_col: str,
    ts_col: str,
    bucket_duration: str = "1 hour",
    lowercase: bool = True,
    available_now: bool = True,
) -> StreamingQuery:
    """Maintain per-(event-time bucket, token) counts over a document
    stream. ``table`` is a keyed store with keys (bucket_ts, token,
    batch_id) accepting upsert (a ManifestTable); each
    micro-batch writes one row per (bucket, token) seen in the batch.
    State is O(buckets x vocabulary) — Heaps' law keeps the vocabulary
    far below the corpus; expired buckets sweep with the same DELETE
    pattern as sweep_sketch_ttl."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        counts = batch_token_counts(
            batch_df, text_col, ts_col, bucket_duration, lowercase
        )
        table.write(
            counts.withColumn("batch_id", F.lit(int(batch_id)).cast("long")),
            "upsert",
        )

    writer = stream_df.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _bucket_counts(table: Any, bucket_a, bucket_b) -> DataFrame:
    """Merge-on-read: SUM each requested bucket's per-batch count rows
    into the (__slice, __tok, __cnt) frame operators/drift consumes.
    Buckets are matched by comparing ``bucket_ts`` DIRECTLY against the
    timestamp values and aliased to the fixed labels 'a'/'b' — never by
    string rendering: str(datetime) and Spark's timestamp-to-string cast
    disagree on sub-second buckets ('…00.123000' vs '…00.123'), and a
    label containing '.' would break drift's pivot column references
    (ADVICE r11 — the old rendering-based match yielded empty slices,
    which now raise loudly in drift._aligned either way)."""
    if bucket_a == bucket_b:
        raise ValueError(f"bucket_a and bucket_b are the same bucket: {bucket_a!r}")
    return (
        table.read()
        .filter(F.col("bucket_ts").isin([bucket_a, bucket_b]))
        .groupBy(
            F.when(F.col("bucket_ts") == F.lit(bucket_a), F.lit("a"))
            .otherwise(F.lit("b"))
            .alias("__slice"),
            F.col("token").alias("__tok"),
        )
        .agg(F.sum("cnt").alias("__cnt"))
    )


def read_bucket_drift(table: Any, bucket_a, bucket_b) -> DataFrame:
    """Distribution drift between two stored buckets — identical
    statistics (tvd/chisq/totals/overlap, same quantized exactness) to
    operators/drift.distribution_drift over the same documents."""
    return drift_from_counts(
        _bucket_counts(table, bucket_a, bucket_b), "a", "b"
    )


def read_bucket_top_divergent(
    table: Any, bucket_a, bucket_b, k: int = 20
) -> DataFrame:
    """Top divergent tokens between two stored buckets (exact integer
    ranking — see operators/drift.top_divergent_tokens)."""
    return top_divergent_from_counts(
        _bucket_counts(table, bucket_a, bucket_b),
        "a",
        "b",
        k=k,
    )


def compact_count_store(
    table: Any,
    group_cols: list[str] | None = None,
    assume_quiesced: bool = False,
) -> None:
    """Compact the per-batch count rows to ONE summed row per group
    (default grouping: (bucket_ts, token) — the drift-store key minus
    batch_id), the count twin of sketch_maintenance.compact_sketch_store.

    This is ONE atomic multi-op commit (``write_txn``: delete the
    folded rows + upsert the sums in a single publish), so a reader
    never observes a half-compacted store. Compaction preserves bucket
    keys, so it commutes with sweep_sketch_ttl(bucket_col="bucket_ts")
    and with later appends (count addition is associative).

    REPLAY SAFETY (ADVICE r11): the store's idempotence contract is
    that a replayed micro-batch rewrites ITS OWN (group, batch_id) rows
    with identical values — which folding would break if it touched a
    replayable batch (the replay would either overwrite the folded sum
    or re-add counts already folded into it). Structured Streaming's
    foreachBatch only ever replays the LATEST uncommitted batch (batch
    N+1 does not start until N's checkpoint commit lands), so rows at
    the store's maximum batch_id are EXCLUDED from compaction — the
    fold only ever consumes batches whose checkpoint commit is already
    durable. (The store assumes one writing stream, which the keyed
    batch_id scheme already requires.) ``assume_quiesced=True`` folds
    the frontier too — valid ONLY while the writing stream is stopped
    at a committed checkpoint (e.g. between availableNow runs)."""
    if group_cols is None:
        group_cols = [k for k in table.keys if k != "batch_id"]
    # Pin the resolved store ONCE: everything below (frontier agg,
    # emptiness probe, the commit's upsert and delete sides) otherwise
    # re-runs the merge-on-read resolve per consumer — 4 resolves of a
    # store whose whole point is to be small (O(buckets x vocab)).
    all_rows = (
        table.read()
        .select(*group_cols, "batch_id", "cnt")
        .localCheckpoint(eager=True)
    )
    if assume_quiesced:
        current = all_rows
    else:
        frontier = all_rows.agg(F.max("batch_id").alias("m")).first()["m"]
        if frontier is None:
            return
        current = all_rows.filter(F.col("batch_id") < frontier)
    summed = current.groupBy(*group_cols).agg(
        F.sum("cnt").alias("cnt"), F.min("batch_id").alias("batch_id")
    )
    # Fold every consumed (group, batch_id) row away and land the summed
    # row in ONE publish. Keys overlapping the summed rows' (group, min
    # batch_id) net to the upsert (write_txn is delete-then-upsert).
    if not summed.take(1):
        return
    table.write_txn(
        upserts=summed.select(*group_cols, "batch_id", "cnt"),
        deletes=current.select(*group_cols, "batch_id"),
    )
