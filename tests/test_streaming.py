"""Structured Streaming tests: queue-as-stream with checkpoint-ack,
windowed aggregations with watermarks, stateful dedup, foreachBatch merge.

Streams read from the FileQueue directory and run with
``trigger(availableNow=True)`` so each test is a bounded drain."""

from __future__ import annotations

import datetime
import json

import pytest
from pyspark.sql import functions as F

from dca_manager_spark.io.manifest import ManifestTable
from dca_manager_spark.streaming.queue_source import FileQueue
from dca_manager_spark.streaming.windows import (
    dedup_stream,
    merge_sink,
    session_counts,
    tumbling_counts,
)


def drain(q, checkpoint, sink_fn):
    query = (
        q.writeStream.foreachBatch(sink_fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    assert not query.isActive


def test_queue_stream_checkpoint_is_ack(spark, tmp_path):
    """Messages drain through the stream exactly once across restarts:
    offsets live in the checkpoint (ack = commit, SURVEY A12)."""
    queue = FileQueue(str(tmp_path / "q"))
    for i in range(5):
        queue.publish(f"T{i}", "b", f"k{i}", exchange="kraken", real=True)

    seen: list[str] = []

    def collect_sink(df, _):
        seen.extend(r.transaction_id for r in df.collect())

    ckpt = str(tmp_path / "ckpt")
    drain(queue.as_stream(spark), ckpt, collect_sink)
    assert sorted(seen) == [f"T{i}" for i in range(5)]

    # restart with the same checkpoint: nothing redelivered
    drain(queue.as_stream(spark), ckpt, collect_sink)
    assert len(seen) == 5

    # new messages flow on the next run
    queue.publish("T9", "b", "k9", exchange="kraken", real=True)
    drain(queue.as_stream(spark), ckpt, collect_sink)
    assert sorted(seen)[-1] == "T9" and len(seen) == 6


def test_stream_filter_real_and_merge_sink(spark, tmp_path):
    """Streaming EP2: filter Real=='false' elements (A6), upsert the rest
    into the keyed table via foreachBatch (A13/A15). Replaying the same
    batch must not duplicate rows (idempotent upsert)."""
    queue = FileQueue(str(tmp_path / "q"))
    queue.publish("TX1", "b", "k1", exchange="kraken", real=True)
    queue.publish("TX2", "b", "k2", exchange="kraken", real=False)  # dropped

    table = ManifestTable(
        spark,
        str(tmp_path / "table"),
        keys=("transaction_id",),
        precombine="transaction_id",
        partition_by=("exchange",),
    )
    stream = queue.as_stream(spark).filter(F.col("real") == "true").drop("real")
    drain(stream, str(tmp_path / "ckpt"), merge_sink(table, "upsert"))

    rows = table.read().collect()
    assert [r.transaction_id for r in rows] == ["TX1"]

    # replay from scratch (new checkpoint) — same table state, no dupes
    drain(stream, str(tmp_path / "ckpt2"), merge_sink(table, "upsert"))
    assert table.read().count() == 1


def _event_files(tmp_path, rows):
    d = tmp_path / "events_in"
    d.mkdir()
    for i, r in enumerate(rows):
        (d / f"{i}.json").write_text("\n".join(json.dumps(x) for x in r))
    return str(d)


def test_tumbling_window_with_watermark(spark, tmp_path):
    base = datetime.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        [
            {"ts": (base + datetime.timedelta(minutes=m)).isoformat(), "event_type": "click", "value": 1.0}
            for m in (0, 10, 50, 70)
        ]
    ]
    src = _event_files(tmp_path, rows)

    def stream():
        return spark.readStream.schema(
            "ts timestamp, event_type string, value double"
        ).json(src)

    out: list = []
    sink = lambda df, _: out.extend(df.collect())  # noqa: E731
    ckpt = str(tmp_path / "ckpt")
    drain(tumbling_counts(stream(), window="1 hour"), ckpt, sink)
    # append mode: only windows fully below the watermark (11:10 - 10m =
    # 11:00) are finalized — the open 11:00 window stays in state.
    assert {(r.window_start.hour, r.n_events) for r in out} == {(10, 3)}

    # a later event advances the watermark past 12:00 -> window 11 closes
    import datetime as _dt, json as _json, pathlib as _pl

    late = {"ts": "2024-01-01T13:00:00", "event_type": "click", "value": 1.0}
    _pl.Path(src, "late.json").write_text(_json.dumps(late))
    drain(tumbling_counts(stream(), window="1 hour"), ckpt, sink)
    got = {(r.window_start.hour, r.n_events) for r in out}
    assert got == {(10, 3), (11, 1)}


def test_session_window(spark, tmp_path):
    base = datetime.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        [
            {"ts": (base + datetime.timedelta(minutes=m)).isoformat(), "user_id": 1, "value": 1.0}
            for m in (0, 5, 10, 120, 125)  # two sessions: gap > 30m
        ]
    ]
    src = _event_files(tmp_path, rows)

    def stream():
        return spark.readStream.schema("ts timestamp, user_id long, value double").json(src)

    out: list = []
    sink = lambda df, _: out.extend(df.collect())  # noqa: E731
    ckpt = str(tmp_path / "ckpt")
    drain(session_counts(stream(), gap="30 minutes"), ckpt, sink)
    # only the first session is sealed below the watermark (12:05 - 10m)
    assert sorted(r.n_events for r in out) == [3]

    import json as _json, pathlib as _pl

    late = {"ts": "2024-01-01T14:00:00", "user_id": 2, "value": 1.0}
    _pl.Path(src, "late.json").write_text(_json.dumps(late))
    drain(session_counts(stream(), gap="30 minutes"), ckpt, sink)
    assert sorted(r.n_events for r in out) == [2, 3]


def test_streaming_dedup(spark, tmp_path):
    base = datetime.datetime(2024, 1, 1, 10, 0, 0)
    dup_rows = [
        [
            {"ts": base.isoformat(), "transaction_id": "T1"},
            {"ts": base.isoformat(), "transaction_id": "T1"},  # dup, same ts
            {"ts": base.isoformat(), "transaction_id": "T2"},
        ]
    ]
    src = _event_files(tmp_path, dup_rows)
    stream = spark.readStream.schema("ts timestamp, transaction_id string").json(src)
    out: list = []
    drain(
        dedup_stream(stream, ["transaction_id"], "ts"),
        str(tmp_path / "ckpt"),
        lambda df, _: out.extend(df.collect()),
    )
    assert sorted(r.transaction_id for r in out) == ["T1", "T2"]


def test_stateful_lifecycle_across_batches(spark, tmp_path):
    """pending in micro-batch 1, complete in micro-batch 2: the state must
    survive between batches and the settlement row must carry the cross-
    batch latency (SURVEY §2B arbitrary-state row)."""
    from dca_manager_spark.streaming.stateful import track_order_lifecycle

    src = tmp_path / "lifecycle_in"
    src.mkdir()
    base = datetime.datetime(2024, 1, 1, 10, 0, 0)
    # file names control arrival order; maxFilesPerTrigger=1 => one file
    # per micro-batch
    (src / "a_batch1.json").write_text(
        json.dumps({"transaction_id": "T1", "status": "pending", "ts": base.isoformat()})
        + "\n"
        + json.dumps({"transaction_id": "T2", "status": "pending", "ts": base.isoformat()})
    )
    (src / "b_batch2.json").write_text(
        json.dumps(
            {
                "transaction_id": "T1",
                "status": "complete",
                "ts": (base + datetime.timedelta(seconds=90)).isoformat(),
            }
        )
    )
    # FileStreamSource orders micro-batches by modification time — pin
    # mtimes so batch1 is guaranteed to precede batch2.
    import os

    now = 1_700_000_000
    os.utime(src / "a_batch1.json", (now, now))
    os.utime(src / "b_batch2.json", (now + 10, now + 10))

    stream = (
        spark.readStream.schema("transaction_id string, status string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    out: list = []
    drain(
        track_order_lifecycle(stream),
        str(tmp_path / "ckpt"),
        lambda df, _: out.extend(df.collect()),
    )
    settled = {r.transaction_id: r for r in out}
    assert set(settled) == {"T1"}  # T2 still pending, no emission
    assert settled["T1"].latency_s == 90.0
    assert settled["T1"].outcome == "completed"
    assert settled["T1"].pending_ts == base


def test_sliding_window(spark, tmp_path):
    from dca_manager_spark.streaming.windows import sliding_counts

    base = datetime.datetime(2024, 1, 1, 10, 0, 0)
    rows = [[{"ts": (base + datetime.timedelta(minutes=m)).isoformat(), "value": 1.0}
             for m in (0, 20, 40)]]
    src = _event_files(tmp_path, rows)

    def stream():
        return spark.readStream.schema("ts timestamp, value double").json(src)

    out: list = []
    ckpt = str(tmp_path / "ckpt")
    drain(sliding_counts(stream(), window="1 hour", slide="30 minutes"), ckpt,
          lambda df, _: out.extend(df.collect()))
    # advance watermark so all panes close
    import json as _json, pathlib as _pl
    _pl.Path(src, "late.json").write_text(
        _json.dumps({"ts": "2024-01-01T13:00:00", "value": 1.0}))
    drain(sliding_counts(stream(), window="1 hour", slide="30 minutes"), ckpt,
          lambda df, _: out.extend(df.collect()))
    got = {(r.window_start.strftime("%H:%M"), r.n_events) for r in out}
    # events at 10:00,10:20,10:40 -> pane [09:30,10:30) holds 2, [10:00,11:00) holds 3,
    # [10:30,11:30) holds 1
    assert ("09:30", 2) in got and ("10:00", 3) in got and ("10:30", 1) in got


def test_streaming_pipeline_end_to_end(spark, tmp_path):
    """SURVEY §7 step 5: the whole EP2 as one streaming query — publish
    pending messages, drain, table holds normalized completed orders;
    re-drain with same checkpoint is a no-op."""
    from dca_manager_spark.streaming.pipeline import run_streaming_pipeline

    queue = FileQueue(str(tmp_path / "q"))
    queue.publish("TXA", "b", "ka", exchange="kraken", real=True)
    queue.publish("TXB", "b", "kb", exchange="kraken", real=False)  # filtered

    q = run_streaming_pipeline(
        spark, queue,
        data_dir=str(tmp_path / "data"),
        table_path=str(tmp_path / "table"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    table = spark.read.parquet(str(tmp_path / "table"))
    rows = table.collect()
    assert [r.transaction_id for r in rows] == ["TXA"]
    assert rows[0].exchange == "kraken" and rows[0].pair == "ADAGBP"
    assert (tmp_path / "data/transactions/status=complete/exchange=kraken/TXA.json").exists()

    # idempotent re-drain on the same checkpoint
    q2 = run_streaming_pipeline(
        spark, queue,
        data_dir=str(tmp_path / "data"),
        table_path=str(tmp_path / "table"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "table")).count() == 1


def test_stream_stream_join_bounded(spark, tmp_path):
    """Stream-stream join with watermarks + time-range state bound:
    purchase joined to its preceding clicks."""
    from dca_manager_spark.streaming.joins import stream_stream_join

    base = datetime.datetime(2024, 1, 1, 10, 0, 0)
    clicks_dir, purch_dir = tmp_path / "clicks", tmp_path / "purch"
    clicks_dir.mkdir(), purch_dir.mkdir()
    (clicks_dir / "c.json").write_text(
        "\n".join(
            json.dumps({"user_id": 1, "cts": (base + datetime.timedelta(minutes=m)).isoformat()})
            for m in (0, 30, 200)  # the 200-min click is outside the 1h lookback
        )
    )
    (purch_dir / "p.json").write_text(
        json.dumps({"user_id": 1, "pts": (base + datetime.timedelta(minutes=45)).isoformat()})
    )
    clicks = spark.readStream.schema("user_id long, cts timestamp").json(str(clicks_dir))
    purch = spark.readStream.schema("user_id long, pts timestamp").json(str(purch_dir))
    joined = stream_stream_join(
        purch, clicks, on=["user_id"], left_ts="pts", right_ts="cts", lookback="1 hour"
    )
    out: list = []
    drain(
        joined.select("pts", "cts"),
        str(tmp_path / "ckpt"),
        lambda df, _: out.extend(df.collect()),
    )
    assert sorted(r.cts.minute for r in out) == [0, 30]




def test_stream_stream_left_outer_emits_on_eviction(spark, tmp_path):
    """Left-outer stream-stream join: an unmatched left row is emitted
    with right-side nulls ONLY once the watermark proves no match can
    still arrive. Run 1 ingests everything (the matched pair emits; the
    unmatched row is held in state); run 2 on the same checkpoint sees
    the advanced watermark evict it and emit the null-padded row —
    exactly the consumer contract the docstring warns about."""
    from dca_manager_spark.streaming.joins import stream_stream_join

    base = datetime.datetime(2024, 1, 1, 10, 0, 0)
    clicks_dir, purch_dir = tmp_path / "clicks", tmp_path / "purch"
    clicks_dir.mkdir(), purch_dir.mkdir()
    (clicks_dir / "c.json").write_text(
        "\n".join([
            json.dumps({"user_id": 1, "cts": base.isoformat()}),
            # far-future sentinel: advances the right watermark way past
            # every real row's eviction horizon
            json.dumps({"user_id": 9, "cts": (base + datetime.timedelta(hours=20)).isoformat()}),
        ])
    )
    (purch_dir / "p.json").write_text(
        "\n".join([
            json.dumps({"user_id": 1, "pts": (base + datetime.timedelta(minutes=45)).isoformat()}),
            json.dumps({"user_id": 2, "pts": (base + datetime.timedelta(minutes=45)).isoformat()}),
            json.dumps({"user_id": 8, "pts": (base + datetime.timedelta(hours=20)).isoformat()}),
        ])
    )

    def build():
        clicks = spark.readStream.schema("user_id long, cts timestamp").json(str(clicks_dir))
        purch = spark.readStream.schema("user_id long, pts timestamp").json(str(purch_dir))
        return stream_stream_join(
            purch, clicks, on=["user_id"], left_ts="pts", right_ts="cts",
            lookback="1 hour", how="left_outer",
        ).select(purch.user_id.alias("uid"), "pts", "cts")

    out: list = []
    drain(build(), str(tmp_path / "ckpt"), lambda df, _: out.extend(df.collect()))
    matched = {r.uid: r.cts for r in out if r.cts is not None}
    assert matched == {1: base}
    # the unmatched row must NOT have been emitted as a non-match yet
    # unless the watermark already evicted it in run 1; either way, by
    # the end of run 2 it is present exactly once with a null right side
    drain(build(), str(tmp_path / "ckpt"), lambda df, _: out.extend(df.collect()))
    nulls = [r for r in out if r.cts is None]
    assert [(r.uid, r.cts) for r in nulls].count((2, None)) == 1
    assert {r.uid for r in out if r.cts is not None} == {1}


def test_sessionize_stream_gap_and_timeout_with_batch_parity(spark, tmp_path):
    """Streaming sessionization twin: a session closes by GAP when a
    later event arrives past the gap, and by event-time TIMEOUT when the
    watermark passes its last event + gap with no successor. The closed
    (start, end, n) triples must equal the batch sessionize_gaps
    aggregate over the same events — the batch/streaming parity
    contract."""
    from dca_manager_spark.operators.relational import sessionize_gaps
    from dca_manager_spark.streaming.stateful import sessionize_stream

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    src = tmp_path / "ev"
    src.mkdir()

    def write(name, rows):
        (src / name).write_text(
            "\n".join(
                json.dumps({"user_id": u, "ts": (base + datetime.timedelta(seconds=s)).isoformat()})
                for u, s in rows
            )
        )

    def run():
        stream = spark.readStream.schema("user_id long, ts timestamp").json(str(src))
        out: list = []
        drain(
            sessionize_stream(stream, gap_seconds=1800.0),
            str(tmp_path / "ckpt"),
            lambda df, _: out.extend(df.collect()),
        )
        return out

    closed: list = []
    # run 1: user 1 opens a session (2 events, 10 min apart) — nothing closes
    write("f1.json", [(1, 0), (1, 600)])
    closed += run()
    assert closed == []
    # run 2: user 1 reappears 2h later (gap-closes session 1);
    # user 2 far ahead pushes the watermark for the next run
    write("f2.json", [(1, 7200), (2, 72000)])
    closed += run()
    got = {(r.user_id, r.session_start, r.session_end, r.n_events, r.closed_by)
           for r in closed}
    assert (1, base, base + datetime.timedelta(seconds=600), 2, "gap") in got
    # availableNow runs a final no-data batch after the watermark
    # advances (72000s - 10min), so user 1's second session (7200s) times
    # out within the SAME run — both closures land here
    assert len(closed) == 2
    # run 3: another user-2 event 1h later gap-closes user 2's first
    # session (user 1 has no state left)
    write("f3.json", [(2, 75600)])
    closed += run()
    got = {(r.user_id, int((r.session_start - base).total_seconds()),
            int((r.session_end - base).total_seconds()), r.n_events, r.closed_by)
           for r in closed}
    assert (1, 0, 600, 2, "gap") in got
    assert (1, 7200, 7200, 1, "timeout") in got
    assert (2, 72000, 72000, 1, "gap") in got
    assert len(closed) == 3
    # batch parity: every stream-closed session equals the batch
    # aggregate of the same events
    all_events = [(1, 0), (1, 600), (1, 7200), (2, 72000), (2, 75600)]
    bdf = spark.createDataFrame(
        [(u, base + datetime.timedelta(seconds=s), u * 100000 + s)
         for u, s in all_events],
        "user_id long, ts timestamp, event_id long",
    )
    batch = (
        sessionize_gaps(bdf, "user_id", "ts", 1800.0, "event_id")
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"), F.count("*").alias("n"))
        .collect()
    )
    batch_set = {(r.user_id, int((r.s - base).total_seconds()),
                  int((r.e - base).total_seconds()), r.n) for r in batch}
    stream_set = {(u, s, e, n) for (u, s, e, n, _) in got}
    # stream has closed every session except user 2's last (still open)
    assert stream_set <= batch_set
    assert batch_set - stream_set == {(2, 75600, 75600, 1)}


def test_stream_static_enrich(spark, tmp_path):
    from dca_manager_spark.streaming.joins import stream_static_enrich

    queue = FileQueue(str(tmp_path / "q"))
    queue.publish("T1", "b", "k", exchange="kraken", real=True)
    dim = spark.createDataFrame([("kraken", "EU")], "exchange string, region string")
    out: list = []
    drain(
        stream_static_enrich(queue.as_stream(spark), dim, ["exchange"]),
        str(tmp_path / "ckpt"),
        lambda df, _: out.extend(df.collect()),
    )
    assert out[0].region == "EU"


def test_streaming_pipeline_no_row_collect(spark, tmp_path, monkeypatch):
    """EP2's micro-batch hot path is distributed (mapInPandas enrichment):
    the driver only ever collects bounded METADATA frames (distinct
    exchange values, merge partition values — all single-column), never
    row data. The r1/r2 formulation collected every message row."""
    # Patch the CONCRETE DataFrame class (pyspark 4: pyspark.sql.DataFrame
    # is an ABC whose subclass overrides collect).
    from pyspark.sql.classic.dataframe import DataFrame

    from dca_manager_spark.streaming.pipeline import run_streaming_pipeline

    collected = []
    orig = DataFrame.collect

    def spying(self):
        collected.append(list(self.columns))
        return orig(self)

    monkeypatch.setattr(DataFrame, "collect", spying)

    queue = FileQueue(str(tmp_path / "q"))
    for i in range(5):
        queue.publish(f"TX{i}", "b", f"k{i}", exchange="kraken", real=True)
    q = run_streaming_pipeline(
        spark,
        queue,
        data_dir=str(tmp_path / "data"),
        table_path=str(tmp_path / "table"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    assert collected, "expected bounded metadata collects"
    for cols in collected:
        assert len(cols) == 1, f"row-data collect on the hot path: {cols}"
    # the work itself happened, distributed
    assert spark.read.parquet(str(tmp_path / "table")).count() == 5
    for i in range(5):
        assert (
            tmp_path / f"data/transactions/status=complete/exchange=kraken/TX{i}.json"
        ).exists()


def test_streaming_pipeline_dead_letter(spark, tmp_path):
    """Non-real messages are acked+skipped like the reference, and with
    dead_letter_dir set they are also quarantined as JSON for audit."""
    from dca_manager_spark.streaming.pipeline import run_streaming_pipeline

    queue = FileQueue(str(tmp_path / "q"))
    queue.publish("TXR", "b", "kr", exchange="kraken", real=True)
    queue.publish("TXF", "b", "kf", exchange="kraken", real=False)
    q = run_streaming_pipeline(
        spark,
        queue,
        data_dir=str(tmp_path / "data"),
        table_path=str(tmp_path / "table"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        dead_letter_dir=str(tmp_path / "dlq"),
    )
    q.awaitTermination(120)

    assert [r.transaction_id for r in spark.read.parquet(str(tmp_path / "table")).collect()] == ["TXR"]
    dlq = spark.read.json(str(tmp_path / "dlq"))
    assert [r.transaction_id for r in dlq.collect()] == ["TXF"]


def test_stream_upsert_into_manifest_table(spark, tmp_path):
    """readStream -> stream_upsert -> ManifestTable: two micro-batches
    merge by key (precombine on replay-identical data), the second batch
    UPDATES the first's key, and a drained re-run with the same checkpoint
    writes nothing new (exactly-once table state)."""
    import os

    from dca_manager_spark.io.manifest import ManifestTable
    from dca_manager_spark.streaming.ingest import stream_upsert

    src = tmp_path / "src"
    src.mkdir()
    ts = "2024-01-01T12:00:00"
    (src / "a_b1.json").write_text(
        json.dumps({"transaction_id": "T1", "close_time": ts, "pair": "ADAGBP", "price": 1.0})
        + "\n"
        + json.dumps({"transaction_id": "T2", "close_time": ts, "pair": "BTCGBP", "price": 2.0})
    )
    (src / "b_b2.json").write_text(
        json.dumps({"transaction_id": "T1", "close_time": ts, "pair": "ADAGBP", "price": 9.0})
    )
    now = 1_700_000_000
    os.utime(src / "a_b1.json", (now, now))
    os.utime(src / "b_b2.json", (now + 10, now + 10))

    table = ManifestTable(
        spark,
        str(tmp_path / "tbl"),
        keys=("transaction_id", "close_time"),
        precombine="transaction_id",
        partition_by=("pair",),
    )
    stream = (
        spark.readStream.schema(
            "transaction_id string, close_time timestamp, pair string, price double"
        )
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    stream_upsert(stream, table, str(tmp_path / "ckpt")).awaitTermination()

    out = {r.transaction_id: r.price for r in table.read().collect()}
    assert out == {"T1": 9.0, "T2": 2.0}  # batch 2 updated T1
    commits_after_drain = table.commits()

    # Re-run over the SAME checkpoint: backlog already consumed -> no new
    # commits, table state unchanged.
    stream_upsert(stream, table, str(tmp_path / "ckpt")).awaitTermination()
    assert table.commits() == commits_after_drain
    assert {r.transaction_id: r.price for r in table.read().collect()} == out

    # insert-mode replay hazard is guarded.
    with pytest.raises(ValueError, match="replays"):
        stream_upsert(stream, table, str(tmp_path / "ckpt2"), operation="insert")


def test_stream_upsert_feeds_incremental_consumers(spark, tmp_path):
    """The full streaming -> lake -> incremental-consumer loop: every
    micro-batch lands as one manifest commit WITH change capture, so a
    downstream consumer sees exactly the streamed changes per commit
    (CDC feed) or the collapsed latest state (records incremental) —
    never a re-read of untouched table content."""
    import os

    from dca_manager_spark.io.manifest import ManifestTable
    from dca_manager_spark.streaming.ingest import stream_upsert

    src = tmp_path / "src"
    src.mkdir()
    ts = "2024-01-01T12:00:00"
    (src / "a_b1.json").write_text(
        json.dumps({"transaction_id": "T1", "close_time": ts, "pair": "ADAGBP", "price": 1.0})
        + "\n"
        + json.dumps({"transaction_id": "T2", "close_time": ts, "pair": "BTCGBP", "price": 2.0})
    )
    (src / "b_b2.json").write_text(
        json.dumps({"transaction_id": "T1", "close_time": ts, "pair": "ADAGBP", "price": 9.0})
    )
    now = 1_700_000_000
    os.utime(src / "a_b1.json", (now, now))
    os.utime(src / "b_b2.json", (now + 10, now + 10))

    table = ManifestTable(
        spark,
        str(tmp_path / "tbl"),
        keys=("transaction_id", "close_time"),
        precombine="transaction_id",
        partition_by=("pair",),
    )
    stream = (
        spark.readStream.schema(
            "transaction_id string, close_time timestamp, pair string, price double"
        )
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    stream_upsert(stream, table, str(tmp_path / "ckpt")).awaitTermination()

    ids = table.commits()
    assert len(ids) == 2  # one commit per micro-batch
    feed = sorted(
        (r._commit, r.transaction_id, r.price, r._change_type)
        for r in table.read_cdc(-1).collect()
    )
    assert feed == [
        (ids[0], "T1", 1.0, "upsert"),
        (ids[0], "T2", 2.0, "upsert"),
        (ids[1], "T1", 1.0, "update_preimage"),
        (ids[1], "T1", 9.0, "upsert"),
    ]
    inc = table.read_incremental(ids[0], records=True).collect()
    assert [(r.transaction_id, r.price) for r in inc] == [("T1", 9.0)]


def test_stream_corpus_ingest_loop(spark, tmp_path):
    """The steady-state ingest composition: per micro-batch, near-dup
    gate vs the PERSISTED corpus index -> keyed lake upsert -> index
    append — batch 2 must dedup against batch 1's admissions, and a
    full replay (fresh checkpoint) must be self-suppressed by the grown
    index."""
    import os

    from dca_manager_spark.io.manifest import ManifestTable
    from dca_manager_spark.operators.dedup import build_corpus_index
    from dca_manager_spark.streaming.corpus_ingest import stream_corpus_ingest

    corpus_rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "one two three four five six seven eight nine ten"),
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    table = ManifestTable(
        spark,
        str(tmp_path / "corpus_tbl"),
        keys=("doc_id",),
        precombine="doc_id",
        partition_by=(),
    )
    table.write(corpus, "upsert")
    idx_path = str(tmp_path / "corpus_idx")
    build_corpus_index(corpus, "doc_id", "text", num_hashes=16, bands=8).save(
        idx_path
    )

    # batch 1: near-dup of corpus doc 1 (one word changed) + a new doc;
    # batch 2: near-dup of batch 1's ADMITTED doc + a new doc — only the
    # grown index can catch it.
    src = tmp_path / "docs_in"
    src.mkdir()
    b1 = [
        {"doc_id": 10, "text": "alpha beta gamma delta epsilon zeta eta theta iota mu"},
        {"doc_id": 11, "text": "red green blue yellow purple orange pink brown black white"},
    ]
    b2 = [
        {"doc_id": 20, "text": "red green blue yellow purple orange pink brown black grey"},
        {"doc_id": 21, "text": "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"},
    ]
    import json as _json

    (src / "a_b1.json").write_text("\n".join(_json.dumps(r) for r in b1))
    (src / "b_b2.json").write_text("\n".join(_json.dumps(r) for r in b2))
    now = 1_700_000_000
    os.utime(src / "a_b1.json", (now, now))
    os.utime(src / "b_b2.json", (now + 10, now + 10))

    def stream():
        return (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .json(str(src))
        )

    q = stream_corpus_ingest(
        stream(), table, idx_path, str(tmp_path / "ck"), "doc_id", "text",
        threshold=0.4,
    )
    q.awaitTermination(120)
    kept = sorted(r.doc_id for r in table.read().collect())
    # 10 rejected (near-dup of corpus 1), 11 admitted; 20 rejected
    # (near-dup of 11 — caught ONLY because the index grew), 21 admitted
    assert kept == [1, 2, 11, 21]

    # full replay with a FRESH checkpoint: everything is now a 1.0
    # near-dup of itself in the index -> nothing admitted, nothing
    # re-appended (the idempotency story in the module doc)
    q2 = stream_corpus_ingest(
        stream(), table, idx_path, str(tmp_path / "ck2"), "doc_id", "text",
        threshold=0.4,
    )
    q2.awaitTermination(120)
    assert sorted(r.doc_id for r in table.read().collect()) == [1, 2, 11, 21]
    # index gram rows for an admitted doc did not duplicate across replay
    grams = spark.read.parquet(os.path.join(idx_path, "grams"))
    per_doc = {
        r["__id"]: r["n"]
        for r in grams.groupBy("__id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # doc 11 and 21 indexed exactly once: 10 words -> 8 distinct 3-shingles
    assert per_doc[11] == 8 and per_doc[21] == 8


def test_stream_embedding_ingest_loop(spark, tmp_path):
    """Vector twin of the corpus-ingest loop: batch 2's near-dup of
    batch 1's ADMITTED vector is caught only by the grown on-disk index,
    and a full fresh-checkpoint replay is self-suppressed with no
    signature-row duplication."""
    import os

    import numpy as np

    from dca_manager_spark.io.manifest import ManifestTable
    from dca_manager_spark.operators.embedding_index import build_embedding_index
    from dca_manager_spark.streaming.corpus_ingest import stream_embedding_ingest

    rng = np.random.default_rng(31)
    base = rng.normal(size=(4, 16)).astype("float32")
    corpus = spark.createDataFrame(
        [(1, base[0].tolist()), (2, base[1].tolist())],
        "vec_id long, embedding array<float>",
    )
    table = ManifestTable(
        spark, str(tmp_path / "emb_tbl"), keys=("vec_id",),
        precombine="vec_id", partition_by=(),
    )
    table.write(corpus, "upsert")
    idx_path = str(tmp_path / "emb_idx")
    build_embedding_index(corpus, "vec_id", "embedding").save(idx_path)

    src = tmp_path / "vecs_in"
    src.mkdir()
    novel_a, novel_b = base[2], base[3]
    b1 = [
        {"vec_id": 10, "embedding": base[0].tolist()},  # dup of corpus 1
        {"vec_id": 11, "embedding": novel_a.tolist()},  # admitted
    ]
    b2 = [
        {"vec_id": 20, "embedding": novel_a.tolist()},  # dup of ADMITTED 11
        {"vec_id": 21, "embedding": novel_b.tolist()},  # admitted
    ]
    (src / "a_b1.json").write_text("\n".join(json.dumps(r) for r in b1))
    (src / "b_b2.json").write_text("\n".join(json.dumps(r) for r in b2))
    now = 1_700_000_000
    os.utime(src / "a_b1.json", (now, now))
    os.utime(src / "b_b2.json", (now + 10, now + 10))

    def stream():
        return (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", "1")
            .json(str(src))
        )

    q = stream_embedding_ingest(
        stream(), table, idx_path, str(tmp_path / "ck"), "vec_id", "embedding",
        threshold=0.9,
    )
    q.awaitTermination(120)
    assert sorted(r.vec_id for r in table.read().collect()) == [1, 2, 11, 21]

    q2 = stream_embedding_ingest(
        stream(), table, idx_path, str(tmp_path / "ck2"), "vec_id", "embedding",
        threshold=0.9,
    )
    q2.awaitTermination(120)
    assert sorted(r.vec_id for r in table.read().collect()) == [1, 2, 11, 21]
    sigs = spark.read.parquet(os.path.join(idx_path, "sigs"))
    per_vec = {
        r["__id"]: r["n"]
        for r in sigs.groupBy("__id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # 4 tables -> exactly 4 signature rows per indexed vector, no replay dups
    assert per_vec[11] == 4 and per_vec[21] == 4


@pytest.mark.slow
def test_sessionize_stream_late_event_does_not_regress_span(spark, tmp_path):
    """A late-but-within-watermark event landing INSIDE the open session
    is absorbed without moving last_ts backward: a follower that is
    within the gap of the TRUE session end must stay in the same session
    (the r8 review finding — a regressed last_ts closed sessions the
    batch twin keeps open)."""
    from dca_manager_spark.streaming.stateful import sessionize_stream

    base = datetime.datetime(2024, 1, 1)
    src = tmp_path / "ev"
    src.mkdir()

    def write(name, secs):
        (src / name).write_text(
            "\n".join(
                json.dumps({"user_id": 1, "ts": (base + datetime.timedelta(seconds=s)).isoformat()})
                for s in secs
            )
        )

    def run():
        stream = spark.readStream.schema("user_id long, ts timestamp").json(str(src))
        out: list = []
        drain(
            sessionize_stream(stream, gap_seconds=1800.0),
            str(tmp_path / "ckpt"),
            lambda df, _: out.extend(df.collect()),
        )
        return out

    closed: list = []
    write("f1.json", [1000, 1800])          # open session, lt = 1800
    closed += run()
    write("f2.json", [1500])                # LATE (watermark = 1200): absorb
    closed += run()
    # 3350 - 1800 = 1550 <= gap: same session. (With a regressed
    # lt = 1500 the gap would read 1850 and wrongly close.)
    write("f3.json", [3350])
    closed += run()
    write("f4.json", [100000])              # watermark push -> timeout flush
    closed += run()
    sessions = {
        (int((r.session_start - base).total_seconds()),
         int((r.session_end - base).total_seconds()), r.n_events)
        for r in closed
    }
    assert (1000, 3350, 4) in sessions


def test_wall_to_epoch_ms_dst_folds():
    """ADVICE r8: in a non-UTC session zone, DST-ambiguous (fall-back) and
    nonexistent (spring-forward) wall times must resolve to the LATER
    candidate instant, so the event-time timeout is never set at/behind
    the watermark's true instant. Unambiguous times are unaffected."""
    import datetime
    from zoneinfo import ZoneInfo

    from dca_manager_spark.streaming.stateful import _wall_to_epoch_ms

    ny = ZoneInfo("America/New_York")
    utc = ZoneInfo("UTC")

    # unambiguous: identical to the plain localization
    plain = datetime.datetime(2025, 6, 1, 12, 0, 0)
    assert _wall_to_epoch_ms(plain, ny) == int(
        plain.replace(tzinfo=ny).timestamp() * 1000
    )
    assert _wall_to_epoch_ms(plain, utc) == int(
        plain.replace(tzinfo=utc).timestamp() * 1000
    )

    # ambiguous (2025-11-02 01:30 happens twice in New York): both fold
    # resolutions are valid instants one hour apart; we must pick the later
    amb = datetime.datetime(2025, 11, 2, 1, 30, 0)
    e0 = amb.replace(tzinfo=ny, fold=0).timestamp()
    e1 = amb.replace(tzinfo=ny, fold=1).timestamp()
    assert abs(e1 - e0) == 3600.0
    assert _wall_to_epoch_ms(amb, ny) == int(max(e0, e1) * 1000)

    # nonexistent (2025-03-09 02:30 is skipped): resolves >= both folds
    gap = datetime.datetime(2025, 3, 9, 2, 30, 0)
    assert _wall_to_epoch_ms(gap, ny) >= int(
        gap.replace(tzinfo=ny, fold=0).timestamp() * 1000
    )


def test_stream_stream_right_outer_emits_on_eviction(spark, tmp_path):
    """Right-outer mirror of the left_outer eviction test: an unmatched
    RIGHT row (a click with no purchase in the following hour) emits
    null-padded exactly once, after the watermark evicts its state."""
    from dca_manager_spark.streaming.joins import stream_stream_join

    base = datetime.datetime(2024, 1, 1, 10, 0, 0)
    clicks_dir, purch_dir = tmp_path / "clicks", tmp_path / "purch"
    clicks_dir.mkdir(), purch_dir.mkdir()
    (clicks_dir / "c.json").write_text(
        "\n".join([
            json.dumps({"user_id": 1, "cts": base.isoformat()}),   # matched
            json.dumps({"user_id": 3, "cts": base.isoformat()}),   # never matched
            json.dumps({"user_id": 9, "cts": (base + datetime.timedelta(hours=20)).isoformat()}),
        ])
    )
    (purch_dir / "p.json").write_text(
        "\n".join([
            json.dumps({"user_id": 1, "pts": (base + datetime.timedelta(minutes=45)).isoformat()}),
            json.dumps({"user_id": 8, "pts": (base + datetime.timedelta(hours=20)).isoformat()}),
        ])
    )

    def build():
        clicks = spark.readStream.schema("user_id long, cts timestamp").json(str(clicks_dir))
        purch = spark.readStream.schema("user_id long, pts timestamp").json(str(purch_dir))
        return stream_stream_join(
            purch, clicks, on=["user_id"], left_ts="pts", right_ts="cts",
            lookback="1 hour", how="right_outer",
        ).select(clicks.user_id.alias("uid"), "pts", "cts")

    out: list = []
    drain(build(), str(tmp_path / "ckpt"), lambda df, _: out.extend(df.collect()))
    drain(build(), str(tmp_path / "ckpt"), lambda df, _: out.extend(df.collect()))
    matched = {r.uid for r in out if r.pts is not None}
    assert 1 in matched
    nulls = [(r.uid, r.pts) for r in out if r.pts is None]
    assert nulls.count((3, None)) == 1
    # the matched click must never ALSO emit as a non-match
    assert (1, None) not in nulls


def test_stream_stream_full_outer_emits_both_sides(spark, tmp_path):
    """Full-outer: unmatched LEFT and unmatched RIGHT rows each emit
    null-padded exactly once after eviction; the matched pair emits
    exactly once with both sides present."""
    from dca_manager_spark.streaming.joins import stream_stream_join

    base = datetime.datetime(2024, 1, 1, 10, 0, 0)
    clicks_dir, purch_dir = tmp_path / "clicks", tmp_path / "purch"
    clicks_dir.mkdir(), purch_dir.mkdir()
    (clicks_dir / "c.json").write_text(
        "\n".join([
            json.dumps({"user_id": 1, "cts": base.isoformat()}),   # matched
            json.dumps({"user_id": 3, "cts": base.isoformat()}),   # right-only
            json.dumps({"user_id": 9, "cts": (base + datetime.timedelta(hours=20)).isoformat()}),
        ])
    )
    (purch_dir / "p.json").write_text(
        "\n".join([
            json.dumps({"user_id": 1, "pts": (base + datetime.timedelta(minutes=45)).isoformat()}),
            json.dumps({"user_id": 2, "pts": (base + datetime.timedelta(minutes=45)).isoformat()}),  # left-only
            json.dumps({"user_id": 8, "pts": (base + datetime.timedelta(hours=20)).isoformat()}),
        ])
    )

    def build():
        clicks = spark.readStream.schema("user_id long, cts timestamp").json(str(clicks_dir))
        purch = spark.readStream.schema("user_id long, pts timestamp").json(str(purch_dir))
        return stream_stream_join(
            purch, clicks, on=["user_id"], left_ts="pts", right_ts="cts",
            lookback="1 hour", how="full_outer",
        ).select(
            F.coalesce(purch.user_id, clicks.user_id).alias("uid"),
            "pts", "cts",
        )

    out: list = []
    drain(build(), str(tmp_path / "ckpt"), lambda df, _: out.extend(df.collect()))
    drain(build(), str(tmp_path / "ckpt"), lambda df, _: out.extend(df.collect()))
    both = [(r.uid) for r in out if r.pts is not None and r.cts is not None]
    assert both == [1]
    left_only = [(r.uid, r.cts) for r in out if r.cts is None and r.pts is not None]
    right_only = [(r.uid, r.pts) for r in out if r.pts is None and r.cts is not None]
    assert left_only.count((2, None)) == 1
    assert right_only.count((3, None)) == 1
    with pytest.raises(ValueError, match="how must be"):
        stream_stream_join(
            spark.readStream.schema("user_id long, pts timestamp").json(str(purch_dir)),
            spark.readStream.schema("user_id long, cts timestamp").json(str(clicks_dir)),
            on=["user_id"], left_ts="pts", right_ts="cts", how="left_semi_bad",
        )


def test_stream_sketch_maintenance_matches_batch_and_is_idempotent(spark, tmp_path):
    """Per-batch DDSketches upserted under (group, batch_id) answer the
    same quantiles as a single batch-built sketch over ALL data
    (lossless merge across micro-batches and runs), and re-writing a
    batch's rows (foreachBatch replay) changes nothing — the keyed
    upsert makes maintenance idempotent."""
    from dca_manager_spark.io.manifest import ManifestTable
    from dca_manager_spark.operators.sketches import (
        ddsketch_build,
        ddsketch_quantile,
    )
    from dca_manager_spark.streaming.sketch_maintenance import (
        read_sketch_quantiles,
        stream_sketch_maintenance,
    )

    src = tmp_path / "vals"
    src.mkdir()
    rows1 = [("a", float(v)) for v in range(1, 200)] + [("b", 50.0)] * 40
    rows2 = [("a", float(v) * 3.5) for v in range(1, 150)] + [("b", 0.0)] * 10

    def write(name, rows):
        (src / name).write_text(
            "\n".join(json.dumps({"g": g, "v": v}) for g, v in rows)
        )

    table = ManifestTable(
        spark,
        str(tmp_path / "sketches"),
        keys=("g", "batch_id"),
        precombine="batch_id",
        partition_by=(),
    )

    def run():
        stream = spark.readStream.schema("g string, v double").json(str(src))
        q = stream_sketch_maintenance(
            stream, table, str(tmp_path / "ckpt"), "v", ["g"]
        )
        q.awaitTermination(120)
        assert not q.isActive

    write("f1.json", rows1)
    run()
    write("f2.json", rows2)
    run()

    got = {
        r["g"]: (r["n"], r["p50"], r["p99"])
        for r in read_sketch_quantiles(table, ["g"], [0.5, 0.99]).collect()
    }
    # ground truth: one sketch over all rows at once
    all_df = spark.createDataFrame(rows1 + rows2, "g string, v double")
    direct = ddsketch_build(all_df, "v", ["g"])
    expect = {
        r["g"]: (r["n"], r["p50"], r["p99"])
        for r in direct.select(
            "g",
            F.col("n"),
            ddsketch_quantile(F.col("sketch"), F.col("zero_count"), F.col("n"), 0.5).alias("p50"),
            ddsketch_quantile(F.col("sketch"), F.col("zero_count"), F.col("n"), 0.99).alias("p99"),
        ).collect()
    }
    assert got == expect
    # replay idempotence: re-upsert batch 0's sketch rows verbatim
    batch0 = table.read().filter(F.col("batch_id") == 0)
    table.write(batch0, "upsert")
    again = {
        r["g"]: (r["n"], r["p50"], r["p99"])
        for r in read_sketch_quantiles(table, ["g"], [0.5, 0.99]).collect()
    }
    assert again == expect


def test_compact_sketch_store_preserves_quantiles(spark, tmp_path):
    """Compaction collapses the per-batch rows to one merged row per
    group in two crash-convergent commits; quantiles are identical
    before, between (phase-1-only state is simulated by re-reading
    after the upsert), and after — and later appends keep merging."""
    from dca_manager_spark.io.manifest import ManifestTable
    from dca_manager_spark.operators.sketches import ddsketch_build
    from dca_manager_spark.streaming.sketch_maintenance import (
        compact_sketch_store,
        read_sketch_quantiles,
    )

    table = ManifestTable(
        spark,
        str(tmp_path / "skstore"),
        keys=("g", "batch_id"),
        precombine="batch_id",
        partition_by=(),
    )
    batches = [
        [("a", float(v)) for v in range(1, 100)],
        [("a", float(v) * 2.5) for v in range(1, 80)] + [("b", 7.0)] * 30,
        [("b", 70.0)] * 15,
    ]
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "g string, v double")
        table.write(
            ddsketch_build(df, "v", ["g"]).withColumn(
                "batch_id", F.lit(i).cast("long")
            ),
            "upsert",
        )
    before = sorted(
        tuple(r) for r in read_sketch_quantiles(table, ["g"], [0.5, 0.99]).collect()
    )
    n_rows_before = table.read().count()
    assert n_rows_before == 4  # a in batches {0,1}; b in batches {1,2}

    compact_sketch_store(table, ["g"])
    after = sorted(
        tuple(r) for r in read_sketch_quantiles(table, ["g"], [0.5, 0.99]).collect()
    )
    assert after == before
    # Default compaction EXCLUDES the frontier (max batch_id = 2 — the
    # only batch a replay could rewrite): a folds to one row, b keeps
    # its frontier row next to the folded one.
    remaining = table.read().groupBy("g").count().collect()
    assert {r["g"]: r["count"] for r in remaining} == {"a": 1, "b": 2}
    # With the stream quiesced at a committed checkpoint the caller may
    # fold everything: exactly one row per group remains.
    compact_sketch_store(table, ["g"], assume_quiesced=True)
    assert sorted(
        tuple(r) for r in read_sketch_quantiles(table, ["g"], [0.5, 0.99]).collect()
    ) == before
    remaining = table.read().groupBy("g").count().collect()
    assert {r["g"]: r["count"] for r in remaining} == {"a": 1, "b": 1}
    # compaction commutes with later appends
    df = spark.createDataFrame([("a", 1000.0)] * 50, "g string, v double")
    table.write(
        ddsketch_build(df, "v", ["g"]).withColumn("batch_id", F.lit(9).cast("long")),
        "upsert",
    )
    grown = {r["g"]: r["n"] for r in read_sketch_quantiles(table, ["g"], [0.5]).collect()}
    assert grown["a"] == 99 + 79 + 50


def test_stream_sketch_maintenance_continuous_trigger_starts(spark, tmp_path):
    """Review finding (r9): available_now=False must start a continuous
    micro-batch query instead of crashing on an all-None trigger()."""
    from dca_manager_spark.io.manifest import ManifestTable
    from dca_manager_spark.streaming.sketch_maintenance import (
        stream_sketch_maintenance,
    )

    src = tmp_path / "vals"
    src.mkdir()
    (src / "f.json").write_text(json.dumps({"g": "a", "v": 1.0}))
    table = ManifestTable(
        spark, str(tmp_path / "skc"),
        keys=("g", "batch_id"), precombine="batch_id", partition_by=(),
    )
    stream = spark.readStream.schema("g string, v double").json(str(src))
    q = stream_sketch_maintenance(
        stream, table, str(tmp_path / "ck"), "v", ["g"], available_now=False
    )
    try:
        assert q.isActive
        q.processAllAvailable()
        assert table.read().count() == 1
    finally:
        q.stop()


def test_quantile_labels_are_collision_free(spark, tmp_path):
    """ADVICE (r9): q=0.999 and q=1.0 must not both label as p100 —
    labels derive from the FULL q value, and duplicate qs raise."""
    import pytest

    from dca_manager_spark.io.manifest import ManifestTable
    from dca_manager_spark.streaming.sketch_maintenance import (
        quantile_label,
        read_sketch_quantiles,
    )

    assert quantile_label(0.5) == "p50"
    assert quantile_label(0.99) == "p99"
    assert quantile_label(0.999) == "p99_9"
    assert quantile_label(1.0) == "p100"
    assert quantile_label(0.05) == "p05"
    assert quantile_label(0.25) == "p25"

    table = ManifestTable(
        spark,
        str(tmp_path / "store"),
        keys=("g", "batch_id"),
        precombine="batch_id",
        partition_by=(),
    )
    from pyspark.sql import functions as F
    from dca_manager_spark.operators.sketches import ddsketch_build

    vals = spark.createDataFrame(
        [("a", float(v)) for v in range(1, 101)], "g string, v double"
    )
    table.write(
        ddsketch_build(vals, "v", ["g"]).withColumn("batch_id", F.lit(0).cast("long")),
        "upsert",
    )
    out = read_sketch_quantiles(table, ["g"], [0.999, 1.0])
    assert sorted(out.columns) == ["g", "n", "p100", "p99_9"]
    row = out.collect()[0]
    assert row["p99_9"] <= row["p100"]

    with pytest.raises(ValueError, match="duplicate quantiles"):
        read_sketch_quantiles(table, ["g"], [0.5, 0.5])


def test_windowed_sketch_quantiles_in_bounds_oracle(spark, tmp_path):
    """VERDICT r10 #10: time-bounded quantile reads. The store is
    maintained with event-time buckets; a bounded read (bucket range or
    trailing batches) must equal a sketch built DIRECTLY over exactly
    the in-bounds rows — sketch merge is lossless, so equality is exact,
    not approximate."""
    import json

    from pyspark.sql import functions as F

    from dca_manager_spark.io.manifest import ManifestTable
    from dca_manager_spark.operators.sketches import (
        ddsketch_build,
        ddsketch_quantile,
    )
    from dca_manager_spark.streaming.sketch_maintenance import (
        read_sketch_quantiles,
        stream_sketch_maintenance,
    )

    src = tmp_path / "vals"
    src.mkdir()
    # two files -> two batches; event times span 3 hour-buckets
    rows1 = [("a", f"2024-01-01T0{h}:{m:02d}:00", float(h * 100 + m))
             for h in (0, 1) for m in range(0, 50, 5)]
    rows2 = [("a", f"2024-01-01T02:{m:02d}:00", float(900 + m))
             for m in range(0, 50, 5)]
    rows2 += [("b", "2024-01-01T01:30:00", 7.0)]

    def write(name, rows):
        (src / name).write_text(
            "\n".join(json.dumps({"g": g, "ts": ts, "v": v}) for g, ts, v in rows)
        )

    table = ManifestTable(
        spark,
        str(tmp_path / "store"),
        keys=("g", "bucket_ts", "batch_id"),
        precombine="batch_id",
        partition_by=(),
    )

    def run():
        stream = spark.readStream.schema("g string, ts timestamp, v double").json(str(src))
        q = stream_sketch_maintenance(
            stream, table, str(tmp_path / "ckpt"), "v", ["g"],
            ts_col="ts", bucket_duration="1 hour",
        )
        q.awaitTermination(120)
        assert not q.isActive

    write("f1.json", rows1)
    run()
    write("f2.json", rows2)
    run()

    all_rows = rows1 + rows2
    both = spark.createDataFrame(
        [(g, v) for g, ts, v in all_rows], "g string, v double"
    )

    def direct(rows):
        df = spark.createDataFrame(
            [(g, v) for g, ts, v in rows], "g string, v double"
        )
        return {
            r["g"]: (r["n"], r["p50"], r["p99"])
            for r in ddsketch_build(df, "v", ["g"]).select(
                "g",
                ddsketch_quantile(F.col("sketch"), F.col("zero_count"), F.col("n"), 0.5).alias("p50"),
                ddsketch_quantile(F.col("sketch"), F.col("zero_count"), F.col("n"), 0.99).alias("p99"),
                "n",
            ).collect()
        }

    def bounded(**kw):
        return {
            r["g"]: (r["n"], r["p50"], r["p99"])
            for r in read_sketch_quantiles(table, ["g"], [0.5, 0.99], **kw).collect()
        }

    import datetime

    h1 = datetime.datetime(2024, 1, 1, 1)
    h2 = datetime.datetime(2024, 1, 1, 2)
    # bucket range [01:00, 02:00] == rows with hour in {1, 2}
    in_bounds = [r for r in all_rows if r[1][11:13] in ("01", "02")]
    assert bounded(min_bucket_ts=h1, max_bucket_ts=h2) == direct(in_bounds)
    # unbounded == everything
    assert bounded() == direct(all_rows)
    # trailing 1 batch == batch 2's rows only
    assert bounded(last_batches=1) == direct(rows2)
    # bounds compose: last batch AND bucket <= 02:00 start
    assert bounded(last_batches=1, max_bucket_ts=h2) == direct(rows2)


def test_sketch_ttl_composes_with_compaction(spark, tmp_path):
    """TTL sweep + compaction interaction: compacting per (group,
    bucket) preserves bucket keys, so a later TTL sweep removes exactly
    the expired buckets and bounded reads stay correct through any
    interleaving; a replayed sweep deletes nothing new."""
    import datetime
    import json

    from dca_manager_spark.io.manifest import ManifestTable
    from dca_manager_spark.streaming.sketch_maintenance import (
        compact_sketch_store,
        read_sketch_quantiles,
        stream_sketch_maintenance,
        sweep_sketch_ttl,
    )

    src = tmp_path / "vals"
    src.mkdir()
    mk = lambda h, vs: [("a", f"2024-01-01T{h:02d}:10:00", float(v)) for v in vs]
    rows1 = mk(0, range(10)) + mk(1, range(100, 120))
    rows2 = mk(1, range(200, 230)) + mk(2, range(300, 310))

    def write(name, rows):
        (src / name).write_text(
            "\n".join(json.dumps({"g": g, "ts": ts, "v": v}) for g, ts, v in rows)
        )

    table = ManifestTable(
        spark,
        str(tmp_path / "store"),
        keys=("g", "bucket_ts", "batch_id"),
        precombine="batch_id",
        partition_by=(),
    )

    def run():
        stream = spark.readStream.schema("g string, ts timestamp, v double").json(str(src))
        q = stream_sketch_maintenance(
            stream, table, str(tmp_path / "ckpt"), "v", ["g"],
            ts_col="ts", bucket_duration="1 hour",
        )
        q.awaitTermination(120)

    write("f1.json", rows1)
    run()
    write("f2.json", rows2)
    run()

    h1 = datetime.datetime(2024, 1, 1, 1)
    snap = lambda **kw: sorted(
        tuple(r) for r in read_sketch_quantiles(table, ["g"], [0.5], **kw).collect()
    )
    before_h1_up = snap(min_bucket_ts=h1)

    # compact per (group, bucket): bucket keys survive (the stream is
    # stopped at a committed availableNow checkpoint, so the frontier
    # batch may fold too)
    compact_sketch_store(table, ["g", "bucket_ts"], assume_quiesced=True)
    assert snap(min_bucket_ts=h1) == before_h1_up
    # hour-1 bucket collapsed to ONE row across its two batches
    h1_rows = table.read().filter(F.col("bucket_ts") == h1).collect()
    assert len(h1_rows) == 1

    # TTL: expire buckets before 01:00
    n = sweep_sketch_ttl(table, h1)
    assert n == 1  # the single compacted hour-0 row
    assert sweep_sketch_ttl(table, h1) == 0  # idempotent replay
    assert snap() == before_h1_up  # full read now == the surviving range
    # compaction after the sweep is a no-op that changes nothing
    compact_sketch_store(table, ["g", "bucket_ts"])
    assert snap() == before_h1_up


def test_last_batches_counts_distinct_sparse_ids(spark, tmp_path):
    """Review finding (r11): batch ids are sparse (empty micro-batches
    write nothing), so last_batches=N must take the N most recent
    DISTINCT ids present, not a numeric max-N range."""
    from pyspark.sql import functions as F

    from dca_manager_spark.io.manifest import ManifestTable
    from dca_manager_spark.operators.sketches import ddsketch_build
    from dca_manager_spark.streaming.sketch_maintenance import (
        read_sketch_quantiles,
    )

    table = ManifestTable(
        spark,
        str(tmp_path / "store"),
        keys=("g", "batch_id"),
        precombine="batch_id",
        partition_by=(),
    )
    for bid, vals in ((0, range(1, 51)), (5, range(100, 151))):
        df = spark.createDataFrame(
            [("a", float(v)) for v in vals], "g string, v double"
        )
        table.write(
            ddsketch_build(df, "v", ["g"]).withColumn(
                "batch_id", F.lit(bid).cast("long")
            ),
            "upsert",
        )
    # the old max-N range (batch_id > 5-2=3) would return only batch 5
    got = read_sketch_quantiles(table, ["g"], [0.5], last_batches=2).collect()
    assert got[0]["n"] == 101  # both batches' rows
    only5 = read_sketch_quantiles(table, ["g"], [0.5], last_batches=1).collect()
    assert only5[0]["n"] == 51
