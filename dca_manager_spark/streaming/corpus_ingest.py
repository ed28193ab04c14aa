"""Steady-state streaming corpus ingest: stream -> near-dup gate ->
keyed lake append + index growth, per micro-batch.

This composes the round-7 pieces into the loop a 100 TB training-data
pipeline actually runs: documents arrive continuously; each micro-batch
is near-dup-filtered against the PERSISTED corpus MinHash index (the
corpus itself is never read or re-shingled — operators/dedup.CorpusIndex),
survivors are upserted into a keyed ManifestTable and appended to the
index, so the next batch dedups against them too.

Crash/replay semantics (foreachBatch is at-least-once):

1. the near-dup filter runs FIRST. A replayed batch whose index append
   COMPLETED is fully self-suppressed: every doc is now a Jaccard-1.0
   near-dup of itself in the index, so nothing is re-upserted and —
   crucially — nothing is re-appended to the index (no gram
   duplication). The loop is idempotent across the common
   crash-after-work-before-checkpoint window.
2. a crash BETWEEN the table write and the index append replays the
   batch as not-yet-indexed: the upsert re-applies idempotently (keyed
   write), then the index append completes. Converges.
3. a crash DURING the index append itself leaves a partially-indexed
   batch — the one non-atomic window, inherited from
   ``CorpusIndex.append``'s documented contract: rebuild the index (or
   restore its three frame dirs) before resuming. For a fully atomic
   loop, store the index frames in ManifestTables.

The table write goes BEFORE the index append on purpose: the reverse
order would let a crash strand documents as indexed-but-never-written —
replay would then suppress them forever (silent data loss). With this
order every failure mode converges to corpus == table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from dca_manager_spark.operators.dedup import CorpusIndex, minhash_incremental_filter


def stream_corpus_ingest(
    stream_df: DataFrame,
    table,
    index_path: str,
    checkpoint_dir: str,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    available_now: bool = True,
    query_name: str = "corpus-ingest",
) -> StreamingQuery:
    """Run the ingest loop over a streaming DataFrame of documents.

    ``table``: a keyed writer (ManifestTable) whose key
    includes ``id_col`` — the upsert is what makes replay idempotent.
    ``index_path``: a persisted ``CorpusIndex`` (build_corpus_index +
    save) covering exactly the documents already in ``table``.
    Within-batch near-duplicates are NOT collapsed here (both are new to
    the corpus); exact id duplicates collapse under the table's
    precombine. Ids must be unique across corpus + all admitted batches.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        index = CorpusIndex.load(spark, index_path)
        survivors = minhash_incremental_filter(
            batch_df,
            None,
            id_col,
            text_col,
            threshold=threshold,
            corpus_index=index,
            **{k: index.params[k] for k in CorpusIndex.PARAM_KEYS},
        )
        # Pin: consumed by the table write AND the index append — one
        # materialization for both (and it bounds the replay windows
        # described in the module doc to whole frames, not re-evals).
        survivors = survivors.localCheckpoint(eager=True)
        if survivors.isEmpty():
            return
        table.write(survivors, "upsert")
        CorpusIndex.append(spark, index_path, survivors, id_col, text_col)

    writer = (
        stream_df.writeStream.queryName(query_name)
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_embedding_ingest(
    stream_df: DataFrame,
    table,
    index_path: str,
    checkpoint_dir: str,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    probe_bits: int = 1,
    available_now: bool = True,
    query_name: str = "embedding-ingest",
) -> StreamingQuery:
    """The vector twin of :func:`stream_corpus_ingest`: per micro-batch,
    near-dup-gate arriving embeddings against the PERSISTED sign-LSH
    index (operators/embedding_index.EmbeddingIndex — the corpus is
    never re-signed), upsert survivors into the keyed lake table, then
    grow the on-disk index O(batch) so the next batch dedups against
    them too.

    The crash/replay argument is inherited verbatim from the text loop
    (module doc above): filter-first makes a fully-indexed replay
    self-suppressing (every vector is a cosine-1.0 duplicate of itself);
    table-write-before-index-append means no failure mode strands
    admitted vectors as indexed-but-never-written; the one non-atomic
    window is EmbeddingIndex.append's own two-parquet append, with the
    same rebuild-on-mid-append-crash contract.
    """
    from dca_manager_spark.operators.embedding_index import (
        EmbeddingIndex,
        embedding_incremental_filter,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        index = EmbeddingIndex.load(spark, index_path)
        survivors = embedding_incremental_filter(
            batch_df, id_col, vec_col, index,
            threshold=threshold, probe_bits=probe_bits,
        )
        survivors = survivors.localCheckpoint(eager=True)
        if survivors.isEmpty():
            return
        table.write(survivors, "upsert")
        EmbeddingIndex.append(spark, index_path, survivors, id_col, vec_col)

    writer = (
        stream_df.writeStream.queryName(query_name)
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
