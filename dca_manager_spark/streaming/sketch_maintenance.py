"""Streaming quantile-sketch maintenance: per-micro-batch DDSketches
merged into a persisted sketch store — the streaming payoff of LOSSLESS
mergeability (operators/sketches.py). The store answers "p99 of value
per group, over everything ever ingested" at any moment WITHOUT
re-reading history: state is O(groups x log-bins), not O(rows).

Exactly-once story (mirrors streaming/ingest.stream_upsert):
- foreachBatch is AT-LEAST-ONCE (a crash between sink write and
  checkpoint commit replays the batch);
- the store keys rows by (group, batch_id) and the sink is a keyed
  UPSERT, so a replayed batch REWRITES its own rows with identical
  content instead of double-merging — idempotent;
- merge happens at READ time (ddsketch_merge over the per-batch rows),
  the merge-on-read shape: replays can never corrupt totals because
  nothing is ever merged destructively at write time.

The read-time merge cost is O(groups x batches) rows; compaction =
rewriting the store with one pre-merged row per group under a single
batch_id (sketch merging is associative, so compaction commutes with
later appends) — same lifecycle as the MOR table type.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dca_manager_spark.operators.sketches import (
    ddsketch_build,
    ddsketch_merge,
    ddsketch_quantile,
)


def stream_sketch_maintenance(
    stream_df: DataFrame,
    table: Any,
    checkpoint_dir: str,
    value_col: str,
    group_cols: list[str],
    gamma: float = 1.02,
    available_now: bool = True,
    ts_col: str | None = None,
    bucket_duration: str = "1 hour",
) -> StreamingQuery:
    """Maintain per-group DDSketches over a stream. ``table`` is a
    keyed store with keys (group_cols..., batch_id) accepting upsert
    (a ManifestTable); each micro-batch writes one row per
    group seen in the batch: (groups..., batch_id, sketch map,
    zero_count, n).

    ``ts_col`` (time-bounded quantiles, VERDICT r10 #10): when set, each
    micro-batch builds one sketch per (group, EVENT-TIME bucket of
    ``bucket_duration``) instead of per group — the store key grows a
    ``bucket_ts`` column (window start; include it in the table's keys)
    and the time dimension becomes queryable: read_sketch_quantiles can
    bound by bucket range, sweep_sketch_ttl can expire old buckets, and
    compaction composes by treating bucket_ts as part of the grouping.
    State stays O(groups x buckets x log-bins) — the standard streaming-
    quantiles layout."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # Probe the RAW batch for emptiness (cheap), not the built
        # sketch — probing the aggregate would run the groupBy twice
        # (once for the probe, once for the write).
        if batch_df.isEmpty():
            return
        if ts_col is None:
            sk = ddsketch_build(batch_df, value_col, group_cols, gamma=gamma)
        else:
            bucketed = batch_df.withColumn(
                "bucket_ts",
                F.window(F.col(ts_col), bucket_duration)["start"],
            )
            sk = ddsketch_build(
                bucketed, value_col, [*group_cols, "bucket_ts"], gamma=gamma
            )
        table.write(
            sk.withColumn("batch_id", F.lit(int(batch_id)).cast("long")),
            "upsert",
        )

    writer = stream_df.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    # trigger() with all-None params raises in PySpark — only attach a
    # trigger when one is actually requested (continuous maintenance
    # uses the default micro-batch trigger).
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def quantile_label(q: float) -> str:
    """Collision-free column label for a quantile: the FULL value of q
    determines the name (``0.5 -> p50``, ``0.99 -> p99``,
    ``0.999 -> p99_9``, ``1.0 -> p100``) — the old ``round(q*100)``
    scheme silently mapped q=0.999 and q=1.0 both to ``p100``."""
    pct = f"{q * 100:.6f}".rstrip("0").rstrip(".")
    ip, _, frac = pct.partition(".")
    return "p" + ip.zfill(2) + (f"_{frac}" if frac else "")


def read_sketch_quantiles(
    table: Any,
    group_cols: list[str],
    qs: list[float],
    gamma: float = 1.02,
    min_bucket_ts: Any = None,
    max_bucket_ts: Any = None,
    last_batches: int | None = None,
) -> DataFrame:
    """Current quantiles from the sketch store: merge the per-batch
    rows upward (lossless) and walk each requested quantile. Also
    returns ``n`` (exact total rows ingested per group). Column labels
    come from :func:`quantile_label`; a duplicate q raises instead of
    silently emitting duplicate column names.

    Time-bounded reads (the windowed-quantiles payoff of the bucketed
    store): ``min_bucket_ts``/``max_bucket_ts`` keep only buckets in
    [min, max] — inclusive, in bucket-START timestamps; requires the
    store to have been maintained with ``ts_col`` — and
    ``last_batches=N`` keeps only the N most recent DISTINCT batch ids
    actually present (ids are sparse — empty micro-batches write
    nothing). Bounds compose. Sketch merge is lossless, so a bounded
    read equals a sketch built directly over exactly the rows in
    bounds. Compaction folds each group's history under its smallest
    batch id, so trailing-batch reads window the UNCOMPACTED tail —
    bound by bucket_ts to window compacted history."""
    labels = [quantile_label(q) for q in qs]
    if len(set(labels)) != len(labels):
        raise ValueError(f"duplicate quantiles requested: {qs} -> {labels}")
    rows = table.read()
    if (min_bucket_ts is not None or max_bucket_ts is not None) and (
        "bucket_ts" not in rows.columns
    ):
        raise ValueError(
            "bucket bounds need a bucket_ts column — maintain the store "
            "with stream_sketch_maintenance(ts_col=...)"
        )
    if min_bucket_ts is not None:
        rows = rows.filter(F.col("bucket_ts") >= F.lit(min_bucket_ts))
    if max_bucket_ts is not None:
        rows = rows.filter(F.col("bucket_ts") <= F.lit(max_bucket_ts))
    if last_batches is not None:
        if last_batches < 1:
            raise ValueError(f"last_batches must be >= 1, got {last_batches}")
        # N most recent DISTINCT batch ids actually present — ids are
        # sparse (empty micro-batches write nothing), so a numeric
        # max-N range would silently under-fill the window.
        recent = [
            r["batch_id"]
            for r in rows.select("batch_id")
            .distinct()
            .orderBy(F.col("batch_id").desc())
            .limit(last_batches)
            .collect()
        ]
        if recent:
            rows = rows.filter(F.col("batch_id").isin(recent))
    merged = ddsketch_merge(rows, group_cols)
    cols = [
        ddsketch_quantile(
            F.col("sketch"), F.col("zero_count"), F.col("n"), q, gamma
        ).alias(label)
        for q, label in zip(qs, labels)
    ]
    return merged.select(*group_cols, F.col("n"), *cols)


def sweep_sketch_ttl(
    table: Any,
    cutoff_ts: Any,
    bucket_col: str = "bucket_ts",
) -> int:
    """Expire sketch buckets older than ``cutoff_ts`` (bucket start <
    cutoff): ONE idempotent DELETE commit keyed on the store's key
    columns — a crash before the commit leaves the store intact, a
    replay deletes nothing new, and the sweep commutes with both
    appends and compaction (compaction never moves a row across
    buckets when bucket_col is part of its grouping). Returns the
    number of expired rows."""
    current = table.read()
    if bucket_col not in current.columns:
        raise ValueError(
            f"store has no {bucket_col!r} column — TTL needs the bucketed "
            "layout (stream_sketch_maintenance ts_col=...)"
        )
    expired = current.filter(F.col(bucket_col) < F.lit(cutoff_ts)).select(
        *table.keys
    )
    # Pin the (tiny — key columns only) expired frame so the count and
    # the delete commit share ONE scan of the store instead of two.
    expired = expired.localCheckpoint(eager=True)
    n = expired.count()
    if n:
        table.write(expired, "delete")
    return n


def compact_sketch_store(
    table: Any,
    group_cols: list[str],
    assume_quiesced: bool = False,
) -> None:
    """Compact the per-batch sketch rows to ONE merged row per group —
    the read-time merge then touches O(groups) rows instead of
    O(groups x batches) — without ever making a read wrong mid-way.
    This is ONE atomic multi-op commit (``write_txn``: delete the
    consumed rows + upsert the merged sketches in a single publish), so
    a reader never observes a half-compacted store. Compaction commutes
    with later appends (sketch merge is associative), so maintenance
    never needs to pause.

    REPLAY SAFETY (ADVICE r11): a replayed micro-batch rewrites its own
    (group, batch_id) rows — which folding would break if it touched a
    replayable batch (the replay would overwrite the merged sketch, or
    re-add a sketch already merged into it). foreachBatch only ever
    replays the LATEST uncommitted batch, so rows at the store's
    maximum batch_id are EXCLUDED from compaction — the merge consumes
    only batches whose checkpoint commit is already durable.
    ``assume_quiesced=True`` folds the frontier too — valid ONLY while
    the writing stream is stopped at a committed checkpoint (e.g.
    between availableNow runs)."""
    # Pin the resolved store once — same rationale as
    # compact_count_store: 4 downstream consumers, O(groups x batches)
    # rows, one materialization instead of four MOR resolves.
    all_rows = table.read().select(
        *group_cols, "batch_id", "sketch", "zero_count", "n"
    ).localCheckpoint(eager=True)
    if assume_quiesced:
        current = all_rows
    else:
        frontier = all_rows.agg(F.max("batch_id").alias("m")).first()["m"]
        if frontier is None:
            return
        current = all_rows.filter(F.col("batch_id") < frontier)
    merged = ddsketch_merge(current, group_cols)
    keep_key = current.groupBy(*group_cols).agg(
        F.min("batch_id").alias("batch_id")
    )
    merged_rows = merged.join(keep_key, group_cols).select(
        *group_cols, "batch_id", "sketch", "zero_count", "n"
    )
    if not merged_rows.take(1):
        return
    table.write_txn(
        upserts=merged_rows,
        deletes=current.select(*group_cols, "batch_id"),
    )
