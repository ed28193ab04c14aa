"""Streaming ingest into keyed lake tables: readStream -> keyed upsert.

The reference's lake table is continuously fed by a job that merges each
arriving batch by key (glue/scripts/load_transactions.py:117-122 relies
on Hudi's upsert + timeline); the engine analogue is a foreachBatch sink
that applies each micro-batch to a ``ManifestTable`` with the table's
write operation.

Exactly-once story (the part worth reading):
- foreachBatch gives AT-LEAST-ONCE batch delivery (a crash between sink
  write and checkpoint commit replays the batch);
- the sink is a KEYED upsert with a precombine tie-break, so replaying a
  batch rewrites the same keys to the same values — IDEMPOTENT;
- at-least-once delivery + idempotent sink = exactly-once table state,
  the same argument Hudi/Delta streaming sinks make.
- ``insert``/``bulk_insert`` operations are NOT idempotent under replay
  (duplicates by design); the guard below forces an explicit opt-in.

Scale notes: each micro-batch merge is partition-pruned COW — only the
partitions the batch touches are rewritten (io/manifest.py) — so
steady-state cost tracks batch size, not table size. Backpressure comes
from the source (maxFilesPerTrigger / maxOffsetsPerTrigger), not from
the sink.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def stream_upsert(
    stream_df: DataFrame,
    table: Any,
    checkpoint_dir: str,
    operation: str = "upsert",
    available_now: bool = True,
    allow_non_idempotent: bool = False,
    query_name: str = "stream-upsert",
    trigger_interval: str | None = None,
) -> StreamingQuery:
    """Continuously merge a streaming DataFrame into a keyed table.

    ``table``: any object with ``write(df, operation)`` — a
    ManifestTable. ``available_now=True`` drains the backlog and stops
    (Trigger.AvailableNow — the batch-like deployment mode); ``False``
    runs micro-batch triggers until stopped. ``trigger_interval``
    (continuous mode only, e.g. "2 seconds") paces micro-batches: on a
    MULTI-WRITER table, an as-fast-as-possible ingest loop commits at
    the table's own commit latency and can starve a concurrent
    maintenance writer's optimistic rebase loop — pace the ingest at or
    above the maintenance writer's per-op latency (measured in
    scripts/stress_manifest.py section 5)."""
    if operation in ("insert", "bulk_insert") and not allow_non_idempotent:
        raise ValueError(
            f"operation {operation!r} duplicates rows if a micro-batch "
            "replays after a crash; use 'upsert', or pass "
            "allow_non_idempotent=True if duplicates are acceptable"
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        table.write(batch_df, operation)

    writer = (
        stream_df.writeStream.queryName(query_name)
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_interval:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()
