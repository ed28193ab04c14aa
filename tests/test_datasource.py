"""Spark 4 Python Data Sources: dca_config (batch, partition-per-file)
and dca_queue (streaming, ack-on-commit)."""

from __future__ import annotations

import json
import time

import pytest

from dca_manager_spark.io.datasource import register_python_sources
from dca_manager_spark.streaming.queue_source import FileQueue


@pytest.fixture
def registered(spark):
    register_python_sources(spark)
    return spark


def write_config(path, orders):
    path.write_text(json.dumps({"orders": orders}))


ORDER = {
    "exchange": "kraken",
    "pair": "XBTGBP",
    "order_type": "market",
    "type": "buy",
    "volume": "0.001",
    "price": None,
    "enabled": True,
}


def test_config_source_reads_a_fleet_of_configs(registered, tmp_path):
    write_config(tmp_path / "a.json", [ORDER, {**ORDER, "pair": "ETHGBP"}])
    write_config(tmp_path / "b.json", [{**ORDER, "enabled": False}])
    df = registered.read.format("dca_config").option("path", str(tmp_path)).load()
    rows = df.orderBy("config_file", "pair").collect()
    assert [r.pair for r in rows] == ["ETHGBP", "XBTGBP", "XBTGBP"]
    assert rows[0].config_file.endswith("a.json")
    assert rows[2].enabled is False
    # one input partition per config FILE (fleet parses in parallel)
    assert df.rdd.getNumPartitions() == 2


def test_config_source_matches_driver_side_reader(registered, tmp_path):
    from dca_manager_spark.io.readers import read_dca_config

    write_config(tmp_path / "c.json", [ORDER, {**ORDER, "type": "sell"}])
    via_source = (
        registered.read.format("dca_config")
        .option("path", str(tmp_path / "c.json"))
        .load()
        .drop("config_file")
    )
    via_driver = read_dca_config(registered, str(tmp_path / "c.json"))
    assert via_source.exceptAll(via_driver).isEmpty()
    assert via_driver.exceptAll(via_source).isEmpty()


def test_config_source_is_loud_on_bad_input(registered, tmp_path):
    # reader construction is lazy — errors surface at the first action
    with pytest.raises(Exception, match="path"):
        registered.read.format("dca_config").load().collect()
    (tmp_path / "bad.json").write_text(json.dumps({"not_orders": []}))
    with pytest.raises(Exception, match="orders"):
        registered.read.format("dca_config").option(
            "path", str(tmp_path / "bad.json")
        ).load().collect()


def _drain(spark, queue_dir, ckpt, out_dir):
    # parquet sink (the memory sink cannot recover from a checkpoint,
    # which the resume test needs)
    q = (
        spark.readStream.format("dca_queue")
        .option("path", str(queue_dir))
        .load()
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    try:
        return spark.read.parquet(str(out_dir)).collect()
    except Exception:
        return []  # zero batches -> sink dir never materialized


def test_queue_stream_delivers_then_acks_on_next_progress(registered, tmp_path):
    fq = FileQueue(str(tmp_path / "q"))
    ids = [fq.publish(f"T{i}", "bkt", f"k{i}", "kraken", True) for i in range(3)]
    rows = _drain(registered, tmp_path / "q", tmp_path / "ck", tmp_path / "out")
    assert sorted(r.transaction_id for r in rows) == ["T0", "T1", "T2"]
    assert sorted(r["__msg_id"] for r in rows) == sorted(ids)
    # The ack (DeleteMessage) is DEFERRED: Spark calls source.commit for
    # batch N when batch N+1 is constructed (standard lazy source
    # commit), so the delivered messages are still on disk here — but
    # the checkpoint guarantees this consumer never redelivers them.
    assert fq.size() == 3

    # next batch (same checkpoint): T3 delivered, batch 0's messages acked
    fq.publish("T3", "bkt", "k3", "kraken", True)
    rows2 = _drain(registered, tmp_path / "q", tmp_path / "ck", tmp_path / "out")
    assert sorted(r.transaction_id for r in rows2) == ["T0", "T1", "T2", "T3"]
    remaining = {f.stem for f in (tmp_path / "q").glob("*.json")}
    assert not (set(ids) & remaining), "batch-0 messages must be acked by now"


def test_queue_stream_resumes_from_checkpoint(registered, tmp_path):
    fq = FileQueue(str(tmp_path / "q"))
    fq.publish("T0", "bkt", "k0", "kraken", True)
    ck, out = tmp_path / "ck", tmp_path / "out"
    assert len(_drain(registered, tmp_path / "q", ck, out)) == 1
    fq.publish("T1", "bkt", "k1", "kraken", False)
    fq.publish("T2", "bkt", "k2", "kraken", True)
    # same checkpoint + sink: the two new messages APPEND to the output
    rows = _drain(registered, tmp_path / "q", ck, out)
    assert sorted(r.transaction_id for r in rows) == ["T0", "T1", "T2"]


def test_queue_stream_empty_queue_is_a_clean_noop(registered, tmp_path):
    FileQueue(str(tmp_path / "q"))
    assert _drain(registered, tmp_path / "q", tmp_path / "ck", tmp_path / "o") == []


def test_queue_commit_acks_only_planned_messages(tmp_path):
    """ADVICE r7 (medium): commit() used to range-delete EVERY file with
    name <= end — a message whose time-based name fell inside a committed
    range but became visible only after planning was silently destroyed.
    Now commit acks exactly the planned files, and the late-visible one
    is delivered by a later batch (seq-bumped offset)."""
    from pathlib import Path

    from dca_manager_spark.io.datasource import FileQueueStreamReader

    qdir = tmp_path / "q"
    fq = FileQueue(str(qdir))
    fq.publish("T0", "b", "k0", "kraken", True)
    fq.publish("T1", "b", "k1", "kraken", True)

    r = FileQueueStreamReader({"path": str(qdir)})
    start = r.initialOffset()
    end = r.latestOffset()
    planned = [
        Path(f).name for p in r.partitions(start, end) for f in p.files
    ]
    assert len(planned) == 2

    # Late-visible message: its name sorts BELOW the committed head (the
    # publisher drew the name before our listing; the file appeared after
    # planning). Write it directly with a tiny name.
    late = qdir / f"{0:020d}-{'a' * 32}.json"
    late.write_text(
        json.dumps(
            {
                "transaction_id": "TLATE",
                "s3_bucket": "b",
                "s3_key": "kL",
                "exchange": "kraken",
                "real": "true",
            }
        )
    )
    assert late.name < end["last"]

    r.commit(end)
    remaining = {f.name for f in qdir.glob("*.json")}
    assert remaining == {late.name}, "only PLANNED messages may be acked"

    # The backlog below the head must still produce a new offset (seq
    # bump) and be planned into the next batch, then acked by its commit.
    end2 = r.latestOffset()
    assert end2 != end
    planned2 = [
        Path(f).name for p in r.partitions(end, end2) for f in p.files
    ]
    assert planned2 == [late.name]
    r.commit(end2)
    assert list(qdir.glob("*.json")) == []


def test_queue_replanning_same_batch_is_deterministic(tmp_path):
    from pathlib import Path

    from dca_manager_spark.io.datasource import FileQueueStreamReader

    qdir = tmp_path / "q"
    fq = FileQueue(str(qdir))
    fq.publish("T0", "b", "k0", "kraken", True)
    r = FileQueueStreamReader({"path": str(qdir)})
    start, end = r.initialOffset(), r.latestOffset()
    first = [Path(f).name for p in r.partitions(start, end) for f in p.files]
    again = [Path(f).name for p in r.partitions(start, end) for f in p.files]
    assert first == again, "same-batch replan must return the recorded plan"


def test_queue_publish_names_monotonic_under_clock_stepback(tmp_path, monkeypatch):
    """ADVICE r7: msg-id monotonicity must not rest on raw wall clock —
    an NTP step-back used to mint a name below the stream's committed
    watermark (skipped, then deleted). The persisted counter floors every
    new name above all prior ones, across FileQueue instances."""
    import dca_manager_spark.streaming.queue_source as qs

    fq = FileQueue(str(tmp_path / "q"))
    clock = iter([2_000_000_000_000_000_000, 1_000_000_000_000_000_000,
                  1_000_000_000_000_000_000])
    monkeypatch.setattr(qs.time, "time_ns", lambda: next(clock))
    a = fq.publish("T0", "b", "k0", "kraken", True)
    b = fq.publish("T1", "b", "k1", "kraken", True)  # clock stepped BACK
    assert b > a, "names must stay monotonic across a clock step-back"
    # a fresh instance (process restart) keeps the floor via the counter file
    c = FileQueue(str(tmp_path / "q")).publish("T2", "b", "k2", "kraken", True)
    assert c > b


def test_queue_restart_replays_unacked_then_acks(tmp_path):
    """Restart semantics: a fresh reader (empty ledger) asked to replay
    a checkpointed range re-plans the files still on disk (unacked ->
    redelivered, at-least-once) and its commit acks exactly those."""
    from pathlib import Path

    from dca_manager_spark.io.datasource import FileQueueStreamReader

    qdir = tmp_path / "q"
    fq = FileQueue(str(qdir))
    fq.publish("T0", "b", "k0", "kraken", True)
    fq.publish("T1", "b", "k1", "kraken", True)

    r1 = FileQueueStreamReader({"path": str(qdir)})
    start, end = r1.initialOffset(), r1.latestOffset()
    planned = [Path(f).name for p in r1.partitions(start, end) for f in p.files]
    assert len(planned) == 2
    # crash before commit: new reader instance, same checkpointed offsets
    r2 = FileQueueStreamReader({"path": str(qdir)})
    replanned = [Path(f).name for p in r2.partitions(start, end) for f in p.files]
    assert sorted(replanned) == sorted(planned), "unacked files must redeliver"
    r2.commit(end)
    assert list(qdir.glob("*.json")) == []


def test_queue_counter_monotonic_under_concurrent_publishers(tmp_path, monkeypatch):
    """Two publishers racing the counter (with one clock stepped back)
    must still mint strictly increasing names — the flock critical
    section prevents a last-writer-wins counter regression."""
    import itertools
    import threading

    import dca_manager_spark.streaming.queue_source as qs

    clock = itertools.cycle(
        [3_000_000_000_000_000_000, 1_000_000_000_000_000_000]
    )
    monkeypatch.setattr(qs.time, "time_ns", lambda: next(clock))
    q1 = FileQueue(str(tmp_path / "q"))
    q2 = FileQueue(str(tmp_path / "q"))
    names = []
    lock = __import__("threading").Lock()

    def pub(fq, n):
        for i in range(n):
            m = fq.publish(f"T{i}", "b", "k", "kraken", True)
            with lock:
                names.append(m)

    ts = [threading.Thread(target=pub, args=(q, 25)) for q in (q1, q2)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    prefixes = sorted(int(n.split("-", 1)[0]) for n in names)
    assert len(set(prefixes)) == 50, "nanos prefixes must be unique"
    # no leaked uuid tmp files
    leftovers = [f.name for f in (tmp_path / "q").iterdir() if f.name.endswith(".tmp")]
    assert leftovers in ([], [".last_published.tmp"])


# -- dca_table_changes: streaming CDC over a ManifestTable --------------


def _table(spark, path):
    import datetime

    from dca_manager_spark.io.manifest import ManifestTable

    TS = datetime.datetime(2024, 1, 1, 12, 0, 0)
    SCHEMA = "transaction_id string, close_time timestamp, pair string, price double"

    def rows(items):
        return spark.createDataFrame([(k, TS, p, v) for k, p, v in items], SCHEMA)

    t = ManifestTable(
        spark, str(path),
        keys=("transaction_id",), precombine="price", partition_by=("pair",),
    )
    return t, rows


def _drain_changes(spark, table_path, ckpt, starting=None):
    reader = spark.readStream.format("dca_table_changes").option(
        "path", str(table_path)
    )
    if starting is not None:
        reader = reader.option("startingCommit", str(starting))
    rows = []
    q = (
        reader.load()
        .writeStream.foreachBatch(lambda df, _: rows.extend(df.collect()))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return rows


def test_table_changes_stream_delivers_cdc_and_resumes(registered, tmp_path):
    """The streaming change feed is read_cdc, continuously: upserts,
    overwrite preimages and delete before-images arrive tagged with
    their commit; a resumed stream (same checkpoint) delivers ONLY the
    commits that landed while it was down."""
    t, rows = _table(registered, tmp_path / "t")
    t.write(rows([("T1", "BTCGBP", 1.0), ("T2", "ETHGBP", 2.0)]), "upsert")
    t.write(rows([("T1", "BTCGBP", 9.0)]), "upsert")       # preimage for T1
    t.write(rows([("T2", "ETHGBP", 0.0)]), "delete")       # before-image

    got = _drain_changes(registered, tmp_path / "t", tmp_path / "ck")
    ev = sorted((r._commit, r._change_type, r.transaction_id, r.price) for r in got)
    assert ev == [
        (0, "upsert", "T1", 1.0),
        (0, "upsert", "T2", 2.0),
        (1, "update_preimage", "T1", 1.0),
        (1, "upsert", "T1", 9.0),
        (2, "delete", "T2", 2.0),
    ]
    # equivalence with the batch CDC feed
    batch = sorted(
        (r._commit, r._change_type, r.transaction_id, r.price)
        for r in t.read_cdc(-1).collect()
    )
    assert ev == batch

    # nothing new -> clean empty batch
    assert _drain_changes(registered, tmp_path / "t", tmp_path / "ck") == []
    # two commits while the stream is down -> exactly those on resume
    t.write(rows([("T3", "BTCGBP", 3.0)]), "upsert")
    t.write(rows([("T3", "BTCGBP", 4.0)]), "upsert")
    got2 = _drain_changes(registered, tmp_path / "t", tmp_path / "ck")
    ev2 = sorted((r._commit, r._change_type, r.transaction_id, r.price) for r in got2)
    assert ev2 == [
        (3, "upsert", "T3", 3.0),
        (4, "update_preimage", "T3", 3.0),
        (4, "upsert", "T3", 4.0),
    ]


def test_table_changes_starting_commit_and_vacuum_gap_is_loud(registered, tmp_path):
    t, rows = _table(registered, tmp_path / "t")
    t.write(rows([("T1", "BTCGBP", 1.0)]), "upsert")   # commit 0
    t.write(rows([("T2", "BTCGBP", 2.0)]), "upsert")   # commit 1
    t.write(rows([("T3", "BTCGBP", 3.0)]), "upsert")   # commit 2
    got = _drain_changes(registered, tmp_path / "t", tmp_path / "ck1", starting=1)
    assert [(r._commit, r.transaction_id) for r in got] == [(2, "T3")]

    # vacuum away history under a fresh full-history stream -> loud gap
    t.vacuum(keep_last=1, orphan_grace_seconds=0)
    import pyspark.errors

    with pytest.raises(Exception, match="vacuumed away|gap"):
        _drain_changes(registered, tmp_path / "t", tmp_path / "ck2")


# -- dca_manifest: the lakehouse table as a Spark-native WRITE sink -------


def _mtable(spark, path, partition_by=("pair",)):
    import datetime

    from dca_manager_spark.io.manifest import ManifestTable

    return ManifestTable(
        spark, str(path),
        keys=("transaction_id",), precombine="price",
        partition_by=partition_by,
    )


def test_manifest_sink_batch_append(registered, tmp_path):
    """df.write.format('dca_manifest') commits an append through Spark's
    writer lifecycle: executor-written files, one atomic manifest
    publish, readable by the normal table handle with partition pruning
    intact."""
    spark = registered
    df = spark.createDataFrame(
        [("T1", "BTCGBP", 1.0), ("T2", "ETHGBP", 2.0), ("T3", "BTCGBP", 3.0)],
        "transaction_id string, pair string, price double",
    )
    (df.repartition(3).write.format("dca_manifest")
       .option("path", str(tmp_path / "t"))
       .option("partition_by", "pair").mode("append").save())
    t = _mtable(spark, tmp_path / "t")
    assert t.commits() == [0]
    got = {(r.transaction_id, r.price) for r in t.read().collect()}
    assert got == {("T1", 1.0), ("T2", 2.0), ("T3", 3.0)}
    # manifest-level partition pruning works on sink-written entries
    btc = t.read(partition_filter={"pair": "BTCGBP"})
    assert {r.transaction_id for r in btc.collect()} == {"T1", "T3"}
    # second append via the sink + one via the handle: same table
    df2 = spark.createDataFrame(
        [("T4", "BTCGBP", 4.0)], "transaction_id string, pair string, price double"
    )
    df2.write.format("dca_manifest").option("path", str(tmp_path / "t")) \
       .option("partition_by", "pair").mode("append").save()
    from pyspark.sql import functions as F

    t.write(df2.withColumn("transaction_id", F.lit("T5")), "insert")
    assert t.read().count() == 5
    assert t.commits() == [0, 1, 2]


def test_manifest_sink_schema_evolution_and_conflict(registered, tmp_path):
    spark = registered
    p = str(tmp_path / "t")
    spark.createDataFrame(
        [("T1", "BTCGBP", 1.0)], "transaction_id string, pair string, price double"
    ).write.format("dca_manifest").option("path", p) \
     .option("partition_by", "pair").mode("append").save()
    # new column appends nullable (union evolution)
    spark.createDataFrame(
        [("T2", "ETHGBP", 2.0, "kraken")],
        "transaction_id string, pair string, price double, venue string",
    ).write.format("dca_manifest").option("path", p) \
     .option("partition_by", "pair").mode("append").save()
    t = _mtable(spark, tmp_path / "t")
    got = {(r.transaction_id, r.venue) for r in t.read().collect()}
    assert got == {("T1", None), ("T2", "kraken")}
    # physical type conflict fails LOUDLY at commit, nothing published
    before = t.commits()
    with pytest.raises(Exception, match="schema conflict"):
        spark.createDataFrame(
            [("T3", "BTCGBP", 3)],  # price long, table has double
            "transaction_id string, pair string, price long",
        ).write.format("dca_manifest").option("path", p) \
         .option("partition_by", "pair").mode("append").save()
    assert t.commits() == before


def test_manifest_sink_guards(registered, tmp_path):
    spark = registered
    df = spark.createDataFrame([("T1", 1.0)], "transaction_id string, price double")
    with pytest.raises(Exception, match="APPEND sink"):
        df.write.format("dca_manifest").option("path", str(tmp_path / "t")) \
          .mode("overwrite").save()
    with pytest.raises(Exception, match="absent from the write"):
        df.write.format("dca_manifest").option("path", str(tmp_path / "t")) \
          .option("partition_by", "nope").mode("append").save()
    with pytest.raises(Exception, match="partition column"):
        df.write.format("dca_manifest").option("path", str(tmp_path / "t")) \
          .option("partition_by", "price").mode("append").save()  # double


def test_manifest_sink_streaming_exactly_once(registered, tmp_path):
    """writeStream.format('dca_manifest'): micro-batches append with the
    batch id recorded in the manifest; a REPLAYED commit (same batch id,
    same sink id) is skipped, so restart duplication cannot happen."""
    spark = registered
    p = str(tmp_path / "t")
    src = str(tmp_path / "src")
    schema = "transaction_id string, pair string, price double"
    spark.createDataFrame([("T1", "BTCGBP", 1.0)], schema).write.json(src)

    def drain():
        q = (
            spark.readStream.schema(schema).json(src)
            .writeStream.format("dca_manifest")
            .option("path", p)
            .option("partition_by", "pair")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    t = _mtable(spark, tmp_path / "t")
    assert t.read().count() == 1
    doc = t._load_manifest(t.commits()[-1])
    assert list(doc["stream_marks"].values()) == [0] and doc["op"] == "append"

    # simulate the crash-after-publish replay: re-commit batch 0 under the
    # SAME query identity (same checkpointLocation -> same derived sink_id)
    from dca_manager_spark.io.datasource import ManifestStreamWriter

    w = ManifestStreamWriter(
        {"path": p, "partition_by": "pair",
         "checkpointLocation": str(tmp_path / "ck")},
        t.read().schema, False,
    )
    w.commit([], batchId=0)  # replay -> must detect and skip
    assert t.commits() == [0]
    assert t.read().count() == 1

    # new data while the stream is down -> exactly the new rows land
    spark.createDataFrame([("T2", "ETHGBP", 2.0)], schema) \
        .write.mode("append").json(src)
    drain()
    assert t.read().count() == 2
    assert t._load_manifest(t.commits()[-1])["stream_marks"] == {w.sink_id: 1}


def test_manifest_sink_append_to_mor_table_stacks_not_hides(registered, tmp_path):
    """Regression (r15 self-review): sink entries into a table with MOR
    files must land as INSERT DELTAS at their true commit — a plain
    base entry resolves at commit -1, and an OLDER delta upsert of the
    same key would silently hide the sink-appended row."""
    import datetime

    from dca_manager_spark.io.manifest import ManifestTable

    spark = registered
    TS = datetime.datetime(2024, 1, 1, 12, 0, 0)
    schema = "transaction_id string, close_time timestamp, pair string, price double"
    t = ManifestTable(
        spark, str(tmp_path / "t"),
        keys=("transaction_id",), precombine="price",
        partition_by=("pair",), table_type="mor",
    )
    t.write(spark.createDataFrame([("T1", TS, "BTCGBP", 1.0)], schema), "upsert")
    t.write(spark.createDataFrame([("T1", TS, "BTCGBP", 9.0)], schema), "upsert")
    # sink-append a duplicate of T1 AFTER the upserts: must STACK
    # (insert-duplicate semantics), never vanish under the older delta
    spark.createDataFrame([("T1", TS, "BTCGBP", 5.0)], schema) \
        .write.format("dca_manifest").option("path", str(tmp_path / "t")) \
        .option("partition_by", "pair").mode("append").save()
    prices = sorted(r.price for r in t.read().collect())
    assert prices == [5.0, 9.0]
    # and a LATER upsert still supersedes everything for the key
    t.write(spark.createDataFrame([("T1", TS, "BTCGBP", 2.0)], schema), "upsert")
    assert [r.price for r in t.read().collect()] == [2.0]
    # compaction folds it all and the answer is unchanged
    t.compact()
    assert [r.price for r in t.read().collect()] == [2.0]


def test_manifest_sink_sink_identity_required(registered, tmp_path):
    """ADVICE r15: no shared-default sink identity. Without sink_id OR a
    checkpointLocation the stream writer fails loudly instead of
    adopting an identity that would collide across queries."""
    import pytest

    from dca_manager_spark.io.datasource import ManifestStreamWriter

    schema = registered.createDataFrame(
        [("T1", "BTCGBP", 1.0)], "transaction_id string, pair string, price double"
    ).schema
    with pytest.raises(ValueError, match="sink_id"):
        ManifestStreamWriter({"path": str(tmp_path / "t")}, schema, False)
    # explicit sink_id wins over the checkpoint derivation
    w = ManifestStreamWriter(
        {"path": str(tmp_path / "t"), "sink_id": "mine",
         "checkpointLocation": str(tmp_path / "ck")}, schema, False)
    assert w.sink_id == "mine"
    # distinct checkpoints -> distinct derived identities
    a = ManifestStreamWriter(
        {"path": str(tmp_path / "t"),
         "checkpointLocation": str(tmp_path / "ck_a")}, schema, False)
    b = ManifestStreamWriter(
        {"path": str(tmp_path / "t"),
         "checkpointLocation": str(tmp_path / "ck_b")}, schema, False)
    assert a.sink_id != b.sink_id


def test_manifest_sink_two_queries_same_table_no_collision(registered, tmp_path):
    """Two independent streaming queries (distinct checkpoints, no
    explicit sink_id) appending the same table: batch 0 of the SECOND
    query must not be suppressed as a 'replay' of the first's batch 0 —
    the r15 shared-'default' bug."""
    from dca_manager_spark.io.datasource import ManifestStreamWriter

    spark = registered
    p = str(tmp_path / "t")
    schema = "transaction_id string, pair string, price double"
    _mtable(spark, tmp_path / "t").write(
        spark.createDataFrame([("T0", "BTCGBP", 0.5)], schema), "insert")
    t = _mtable(spark, tmp_path / "t")
    sch = t.read().schema

    def writer(ck):
        return ManifestStreamWriter(
            {"path": p, "partition_by": "pair",
             "checkpointLocation": str(tmp_path / ck)}, sch, False)

    wa, wb = writer("ck_a"), writer("ck_b")
    wa.commit([], batchId=0)
    before = t.read().count()
    wb.commit([], batchId=0)  # same batch id, DIFFERENT query: must land
    doc = t._load_manifest(t.commits()[-1])
    assert doc["stream_marks"] == {wa.sink_id: 0, wb.sink_id: 0}
    assert len(t.commits()) == 3  # insert + wa batch 0 + wb batch 0
    # and each query's own replay is still suppressed
    wa.commit([], batchId=0)
    wb.commit([], batchId=0)
    assert len(t.commits()) == 3
    assert t.read().count() == before


def test_manifest_sink_replay_survives_vacuum(registered, tmp_path):
    """ADVICE r15: the high-water mark {sink: max batch} rides in EVERY
    manifest, carried forward by handle commits too, so a replay arriving
    after vacuum() pruned the manifest that originally published the
    batch is STILL suppressed (the legacy per-manifest scan double-
    appended here)."""
    from dca_manager_spark.io.datasource import ManifestStreamWriter

    spark = registered
    schema = "transaction_id string, pair string, price double"
    t = _mtable(spark, tmp_path / "t")
    sch = spark.createDataFrame([("T1", "BTCGBP", 1.0)], schema).schema
    w = ManifestStreamWriter(
        {"path": str(tmp_path / "t"), "partition_by": "pair",
         "checkpointLocation": str(tmp_path / "ck")}, sch, False)
    w.commit(
        [type("M", (), {"entries": []})()], batchId=0)  # publish batch 0
    # interleave ordinary handle commits: the mark must carry forward
    t = _mtable(spark, tmp_path / "t")
    t.write(spark.createDataFrame([("T2", "ETHGBP", 2.0)], schema), "upsert")
    t.write(spark.createDataFrame([("T3", "ETHGBP", 3.0)], schema), "upsert")
    head = t._load_manifest(t.commits()[-1])
    assert head["stream_marks"] == {w.sink_id: 0}
    # vacuum away everything but the head -> the batch-0 manifest is gone
    t.vacuum(keep_last=1, orphan_grace_seconds=0)
    assert len(t._manifest_ids()) == 1
    n = t.read().count()
    w.commit([], batchId=0)  # crash-recovery replay AFTER vacuum
    assert t.read().count() == n  # no double append
    assert len(t._manifest_ids()) == 1
    # a genuinely new batch still lands and advances the mark
    w.commit([], batchId=1)
    assert t._load_manifest(t.commits()[-1])["stream_marks"] == {w.sink_id: 1}


def test_manifest_sink_keyed_upsert_mode(registered, tmp_path):
    """VERDICT r15 #5: keys+precombine options switch the streaming sink
    to keyed upsert ingest — later micro-batches supersede earlier rows
    per key, within-batch duplicates resolve by precombine, and a
    replayed micro-batch is still suppressed (exactly-once keyed ingest
    without foreachBatch)."""
    import datetime

    from dca_manager_spark.io.manifest import ManifestTable

    spark = registered
    TS = datetime.datetime(2024, 1, 1)
    schema = "transaction_id string, close_time timestamp, pair string, price double"
    p = str(tmp_path / "t")
    src = str(tmp_path / "src")

    def drain(batch_rows):
        spark.createDataFrame(batch_rows, schema) \
            .write.mode("append").json(src)
        q = (
            spark.readStream.schema(schema).json(src)
            .writeStream.format("dca_manifest")
            .option("path", p)
            .option("partition_by", "pair")
            .option("keys", "transaction_id")
            .option("precombine", "price")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 0: T1 twice in ONE batch (within-batch duplicate: max
    # precombine wins at read) + T2
    drain([("T1", TS, "BTCGBP", 1.0), ("T1", TS, "BTCGBP", 5.0),
           ("T2", TS, "ETHGBP", 2.0)])
    t = ManifestTable(spark, p, keys=("transaction_id",),
                      precombine="price", partition_by=("pair",))
    got = {r.transaction_id: r.price for r in t.read().collect()}
    assert got == {"T1": 5.0, "T2": 2.0}
    assert t._load_manifest(t.commits()[-1])["op"] == "upsert"

    # batch 1: T1 superseded by a LOWER precombine in a NEWER batch —
    # commit order wins across batches (the stream is the log)
    drain([("T1", TS, "BTCGBP", 3.0)])
    got = {r.transaction_id: r.price for r in t.read().collect()}
    assert got == {"T1": 3.0, "T2": 2.0}

    # replay of batch 1 under the same identity: suppressed
    from dca_manager_spark.io.datasource import ManifestStreamWriter

    w = ManifestStreamWriter(
        {"path": p, "partition_by": "pair", "keys": "transaction_id",
         "precombine": "price",
         "checkpointLocation": str(tmp_path / "ck")},
        t.read().schema, False)
    n_commits = len(t.commits())
    w.commit([], batchId=1)
    assert len(t.commits()) == n_commits

    # the registered SQL view resolves identically (within-commit
    # precombine now rides in the view text too)
    t.register("keyed_sink_view")
    try:
        via_sql = {
            r.transaction_id: r.price
            for r in spark.sql(
                "SELECT transaction_id, price FROM keyed_sink_view"
            ).collect()
        }
        assert via_sql == got
    finally:
        t.unregister("keyed_sink_view")
    # handle upsert AFTER sink batches still supersedes (shared commit order)
    t.write(spark.createDataFrame([("T2", TS, "ETHGBP", 9.0)], schema), "upsert")
    got = {r.transaction_id: r.price for r in t.read().collect()}
    assert got == {"T1": 3.0, "T2": 9.0}
    # compaction folds deltas, answer unchanged
    t.compact()
    assert {r.transaction_id: r.price for r in t.read().collect()} == got


def test_manifest_sink_keyed_mode_converges_with_stream_upsert(registered, tmp_path):
    """The keyed sink and the foreachBatch stream_upsert path converge to
    the SAME table state over the same input stream (checkpoint replay
    included): the sink can replace the detour."""
    import datetime

    from dca_manager_spark.io.manifest import ManifestTable
    from dca_manager_spark.streaming.ingest import stream_upsert

    spark = registered
    TS = datetime.datetime(2024, 1, 1)
    schema = "transaction_id string, close_time timestamp, pair string, price double"
    src = str(tmp_path / "src")
    batches = [
        [("T1", TS, "BTCGBP", 1.0), ("T2", TS, "ETHGBP", 2.0)],
        [("T1", TS, "BTCGBP", 7.0), ("T3", TS, "BTCGBP", 3.0)],
        [("T2", TS, "ETHGBP", 4.0)],
    ]

    def feed(i):
        spark.createDataFrame(batches[i], schema) \
            .write.mode("append").json(src + f"/b{i}")

    via_sink = ManifestTable(
        spark, str(tmp_path / "sink_t"), keys=("transaction_id",),
        precombine="price", partition_by=("pair",))
    via_febatch = ManifestTable(
        spark, str(tmp_path / "feb_t"), keys=("transaction_id",),
        precombine="price", partition_by=("pair",))

    for i in range(len(batches)):
        feed(i)
        q = (
            spark.readStream.schema(schema).json(src + "/*")
            .writeStream.format("dca_manifest")
            .option("path", via_sink.path)
            .option("partition_by", "pair")
            .option("keys", "transaction_id")
            .option("precombine", "price")
            .option("checkpointLocation", str(tmp_path / "ck_sink"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q2 = stream_upsert(
            spark.readStream.schema(schema).json(src + "/*"),
            via_febatch, str(tmp_path / "ck_feb"))
        q2.awaitTermination(120)

    a = {(r.transaction_id, r.price) for r in via_sink.read().collect()}
    b = {(r.transaction_id, r.price) for r in via_febatch.read().collect()}
    assert a == b == {("T1", 7.0), ("T2", 4.0), ("T3", 3.0)}


def test_manifest_sink_keyed_mode_option_validation(registered, tmp_path):
    import pytest

    from dca_manager_spark.io.datasource import ManifestStreamWriter

    schema = registered.createDataFrame(
        [("T1", 1.0)], "transaction_id string, price double").schema
    with pytest.raises(ValueError, match="precombine"):
        ManifestStreamWriter(
            {"path": str(tmp_path / "t"), "keys": "transaction_id",
             "sink_id": "s"}, schema, False)
    with pytest.raises(ValueError, match="absent from the write schema"):
        ManifestStreamWriter(
            {"path": str(tmp_path / "t"), "keys": "nope",
             "precombine": "price", "sink_id": "s"}, schema, False)
    with pytest.raises(ValueError, match="meaningless without keys"):
        ManifestStreamWriter(
            {"path": str(tmp_path / "t"), "precombine": "price",
             "sink_id": "s"}, schema, False)


def test_manifest_sink_delete_markers(registered, tmp_path):
    """r16: the keyed sink's delete_column option (Hudi _hoodie_is_deleted
    contract) — marker-true rows land as tombstones in the same
    exactly-once commit as the batch's upserts; the marker column never
    enters the table schema; within one batch the highest precombine
    wins and a delete wins precombine ties."""
    import datetime

    from dca_manager_spark.io.manifest import ManifestTable

    spark = registered
    TS = datetime.datetime(2024, 1, 1)
    schema = ("transaction_id string, close_time timestamp, pair string, "
              "price double, deleted boolean")
    p = str(tmp_path / "t")
    src = str(tmp_path / "src")

    def drain(batch_rows):
        spark.createDataFrame(batch_rows, schema) \
            .write.mode("append").json(src)
        q = (
            spark.readStream.schema(schema).json(src)
            .writeStream.format("dca_manifest")
            .option("path", p)
            .option("partition_by", "pair")
            .option("keys", "transaction_id")
            .option("precombine", "price")
            .option("delete_column", "deleted")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 0: inserts T1..T3
    drain([("T1", TS, "BTCGBP", 1.0, False),
           ("T2", TS, "ETHGBP", 2.0, False),
           ("T3", TS, "BTCGBP", 3.0, False)])
    t = ManifestTable(spark, p, keys=("transaction_id",),
                      precombine="price", partition_by=("pair",))
    assert "deleted" not in t.read().columns  # marker stripped
    assert t.read().count() == 3
    c0 = t.commits()[-1]

    def incremental(since):
        return sorted((r.transaction_id, r.price) for r in
                      t.read_incremental(since, records=True).collect())

    # batch 1: a CDC slice — update T1 twice (7.0 wins), DELETE T2,
    # mixed-op same key T3: upsert at price 9 AND delete at price 5 ->
    # upsert wins (higher pc)
    drain([("T1", TS, "BTCGBP", 7.0, False),
           ("T1", TS, "BTCGBP", 6.0, False),
           ("T2", TS, "ETHGBP", 2.5, True),
           ("T3", TS, "BTCGBP", 9.0, False),
           ("T3", TS, "BTCGBP", 5.0, True)])
    got = {r.transaction_id: r.price for r in t.read().collect()}
    assert got == {"T1": 7.0, "T3": 9.0}
    # the records-incremental read resolves the batch as read() does
    assert incremental(c0) == sorted(got.items())
    doc = t._load_manifest(t.commits()[-1])
    assert doc["changes"]["deletes"], "tombstone files must be change-captured"
    # a replica fed from the change feed resolves the mixed-op key the
    # same way, one replica commit per sink batch
    replica = ManifestTable(spark, str(tmp_path / "replica"),
                            keys=("transaction_id",), precombine="price",
                            partition_by=("pair",))
    replica.apply_cdc(t.read_cdc(-1))
    assert len(replica.commits()) == len(t.commits())
    assert {r.transaction_id: r.price for r in replica.read().collect()} == got
    synced = t.commits()[-1]

    # batch 2: delete wins a precombine TIE (CDC-conservative)
    drain([("T3", TS, "BTCGBP", 9.0, True),
           ("T3", TS, "BTCGBP", 9.0, False)])
    assert {r.transaction_id for r in t.read().collect()} == {"T1"}
    assert incremental(synced) == []  # T3, the one changed key, is gone
    replica.apply_cdc(t.read_cdc(synced))
    assert {r.transaction_id for r in replica.read().collect()} == {"T1"}

    # the registered view resolves identically
    t.register("cdc_sink_view")
    try:
        assert {r.transaction_id for r in registered.sql(
            "SELECT transaction_id FROM cdc_sink_view").collect()} == {"T1"}
    finally:
        t.unregister("cdc_sink_view")
    # a COW handle upsert into the partition the sink left superseded
    # versions and tombstones in rewrites only its live rows; in a range
    # holding a sink commit its preimage (T1 at 7.0, the larger
    # precombine) never outranks the upsert
    t.write(spark.createDataFrame(
        [("T1", TS, "BTCGBP", 4.0)],
        "transaction_id string, close_time timestamp, pair string, "
        "price double"), "upsert")
    assert {r.transaction_id: r.price for r in t.read().collect()} == {
        "T1": 4.0}
    assert incremental(synced) == [("T1", 4.0)]
    # compaction folds everything; answer unchanged
    t.compact()
    assert {r.transaction_id for r in t.read().collect()} == {"T1"}


def test_manifest_sink_delete_marker_validation(registered, tmp_path):
    import pytest

    from dca_manager_spark.io.datasource import ManifestStreamWriter

    schema = registered.createDataFrame(
        [("T1", 1.0, True)],
        "transaction_id string, price double, deleted boolean").schema
    with pytest.raises(ValueError, match="meaningless without keys"):
        ManifestStreamWriter(
            {"path": str(tmp_path / "t"), "delete_column": "deleted",
             "sink_id": "s"}, schema, False)
    with pytest.raises(ValueError, match="must be boolean"):
        ManifestStreamWriter(
            {"path": str(tmp_path / "t"), "keys": "transaction_id",
             "precombine": "price", "delete_column": "price",
             "sink_id": "s"}, schema, False)
    with pytest.raises(ValueError, match="absent from the write schema"):
        ManifestStreamWriter(
            {"path": str(tmp_path / "t"), "keys": "transaction_id",
             "precombine": "price", "delete_column": "nope",
             "sink_id": "s"}, schema, False)
