"""Merge-on-read ManifestTable: O(batch) writes, latest-per-key read
resolution, tombstones, compaction, and COW-equivalence."""

from __future__ import annotations

import datetime
import random

import pytest
from pyspark.sql import functions as F

from dca_manager_spark.io.manifest import ManifestTable

TS1 = datetime.datetime(2024, 1, 1, 12, 0, 0)


def make_df(spark, rows):
    return spark.createDataFrame(
        rows, "transaction_id string, close_time timestamp, pair string, price double"
    )


def mk(spark, path, table_type):
    return ManifestTable(
        spark,
        str(path),
        keys=("transaction_id", "close_time"),
        precombine="transaction_id",
        partition_by=("pair",),
        table_type=table_type,
    )


def content(table):
    return sorted(
        (r.transaction_id, r.pair, r.price) for r in table.read().collect()
    )


def test_mor_upsert_never_rewrites_base(spark, tmp_path):
    t = mk(spark, tmp_path / "mor", "mor")
    t.write(make_df(spark, [(f"T{i}", TS1, "BTCGBP", float(i)) for i in range(100)]),
            "bulk_insert")
    base_paths = {f["path"] for f in t._latest_manifest()[1]["files"]}
    t.write(make_df(spark, [("T1", TS1, "BTCGBP", 99.0)]), "upsert")
    files = t._latest_manifest()[1]["files"]
    # every base file is still referenced untouched; only delta files added
    assert base_paths <= {f["path"] for f in files}
    new = [f for f in files if f.get("commit") == 1]
    assert new and all(f["kind"] == "delta" and f["op"] == "upsert" for f in new)
    # read resolves the delta over the base
    rows = {r.transaction_id: r.price for r in t.read().collect()}
    assert rows["T1"] == 99.0 and rows["T2"] == 2.0


def test_mor_tombstone_and_phantom_delete(spark, tmp_path):
    t = mk(spark, tmp_path / "mor", "mor")
    t.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0),
                            ("T2", TS1, "BTCGBP", 2.0)]), "upsert")
    t.write(make_df(spark, [("T1", TS1, "BTCGBP", 0.0),
                            ("TX", TS1, "BTCGBP", 0.0)]), "delete")  # TX phantom
    assert content(t) == [("T2", "BTCGBP", 2.0)]
    # re-insert after tombstone resurrects the key (newer commit wins)
    t.write(make_df(spark, [("T1", TS1, "BTCGBP", 7.0)]), "upsert")
    assert content(t) == [("T1", "BTCGBP", 7.0), ("T2", "BTCGBP", 2.0)]


def test_mor_insert_duplicates_and_superseding_upsert(spark, tmp_path):
    t = mk(spark, tmp_path / "mor", "mor")
    df = make_df(spark, [("T1", TS1, "BTCGBP", 1.0), ("T1", TS1, "BTCGBP", 2.0)])
    t.write(df, "bulk_insert")
    t.write(df, "insert")
    assert t.read().count() == 4  # duplicates stack across insert commits
    t.write(make_df(spark, [("T1", TS1, "BTCGBP", 9.0)]), "upsert")
    assert content(t) == [("T1", "BTCGBP", 9.0)]  # upsert hides ALL older dups
    t.write(df, "insert")  # additive rows newer than the upsert stack again
    assert t.read().count() == 3


def test_mor_compact_folds_deltas_into_base(spark, tmp_path):
    t = mk(spark, tmp_path / "mor", "mor")
    for i in range(4):
        t.write(make_df(spark, [("T1", TS1, "BTCGBP", float(i)),
                                (f"N{i}", TS1, "ETHGBP", float(i))]), "upsert")
    before = content(t)
    assert any(f.get("kind") for f in t._latest_manifest()[1]["files"])
    t.compact()
    files = t._latest_manifest()[1]["files"]
    assert not any(f.get("kind") for f in files), "compaction must clear deltas"
    assert content(t) == before
    # post-compact upserts still resolve against the new base
    t.write(make_df(spark, [("T1", TS1, "BTCGBP", 42.0)]), "upsert")
    assert ("T1", "BTCGBP", 42.0) in content(t)


@pytest.mark.slow
def test_mor_matches_cow_under_random_op_sequences(spark, tmp_path):
    """Equivalence oracle: the SAME operation sequence applied to a COW
    and a MOR table yields identical content — before and after
    compaction, and for time travel at every commit."""
    rng = random.Random(7)
    cow = mk(spark, tmp_path / "cow", "cow")
    mor = mk(spark, tmp_path / "mor", "mor")
    keys = [f"K{i}" for i in range(6)]
    pairs = ["BTCGBP", "ETHGBP"]
    for step in range(10):
        op = rng.choice(["upsert", "upsert", "insert", "delete"])
        # distinct keys per batch, each key pinned to ONE partition:
        # same-key-two-partitions batches hit an arbitrary precombine
        # tie, and cross-partition key moves expose COW's quirk of
        # dropping the key from OTHER partitions the same batch touches
        # (MOR resolves strictly per key+partition — see the resolver
        # docstring). Both are documented caveats, not COW/MOR parity.
        rows = [
            (k, TS1, pairs[hash(k) % 2], float(rng.randint(0, 50)))
            for k in rng.sample(keys, rng.randint(1, 4))
        ]
        df = make_df(spark, rows)
        cow.write(df, op)
        mor.write(df, op)
        assert content(cow) == content(mor), f"diverged at step {step} ({op})"
    for v_cow, v_mor in zip(cow.commits(), mor.commits()):
        assert sorted(
            (r.transaction_id, r.pair, r.price)
            for r in cow.read(as_of=v_cow).collect()
        ) == sorted(
            (r.transaction_id, r.pair, r.price)
            for r in mor.read(as_of=v_mor).collect()
        )
    mor.compact()
    assert content(cow) == content(mor)


def test_mor_partition_pruning_and_incremental(spark, tmp_path):
    t = mk(spark, tmp_path / "mor", "mor")
    t.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0),
                            ("T2", TS1, "ETHGBP", 2.0)]), "upsert")
    v = t.commits()[-1]
    t.write(make_df(spark, [("T1", TS1, "BTCGBP", 5.0)]), "upsert")
    pruned = t.read(partition_filter={"pair": "ETHGBP"})
    assert {r.transaction_id for r in pruned.collect()} == {"T2"}
    inc = t.read_incremental(v, records=True)
    assert [(r.transaction_id, r.price) for r in inc.collect()] == [("T1", 5.0)]
    feed = t.read_cdc(v)
    # MOR upserts emit no update_preimage (documented trade)
    assert {r._change_type for r in feed.collect()} == {"upsert"}


def test_mor_range_filter_never_prunes_deltas(spark, tmp_path):
    t = ManifestTable(
        spark,
        str(tmp_path / "morz"),
        keys=("transaction_id", "close_time"),
        precombine="transaction_id",
        partition_by=(),
        cluster_by=("price",),
        cluster_files=4,
        table_type="mor",
    )
    rows = [(f"t{i}", TS1, "ADAGBP", float((i * 37) % 1000)) for i in range(2000)]
    t.write(make_df(spark, rows), "bulk_insert")
    t.compact()  # base files with stats
    # move t0 (price 0, inside the range) OUT of range via a delta
    t.write(make_df(spark, [("t0", TS1, "ADAGBP", 900.0)]), "upsert")
    got = {r.transaction_id for r in
           t.read(range_filter={"price": (0.0, 10.0)}).collect()}
    # t0's live version (900) fails the filter; the stale base row (0.0)
    # must NOT resurface even though its base file passes the prune
    assert "t0" not in got
    expect = {f"t{i}" for i in range(2000)
              if 0.0 <= float((i * 37) % 1000) <= 10.0 and i != 0}
    assert got == expect


def test_table_type_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="table_type"):
        mk(spark, tmp_path / "x", "mow")


def test_mor_upsert_replay_is_idempotent(spark, tmp_path):
    """The streaming-ingest exactly-once argument (streaming/ingest.py)
    holds for MOR too: replaying an upsert batch lands a second delta
    commit with identical content, and resolution converges to the same
    state — at-least-once delivery + idempotent-in-effect sink."""
    t = mk(spark, tmp_path / "mor", "mor")
    batch = make_df(spark, [("T1", TS1, "BTCGBP", 1.0),
                            ("T2", TS1, "ETHGBP", 2.0)])
    t.write(batch, "upsert")
    before = content(t)
    t.write(batch, "upsert")  # replay
    assert content(t) == before


def test_mor_file_level_incremental_guards_tombstones(spark, tmp_path):
    t = mk(spark, tmp_path / "mor", "mor")
    t.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "upsert")
    v = t.commits()[-1]
    t.write(make_df(spark, [("T2", TS1, "BTCGBP", 2.0)]), "upsert")
    # delta-only range: file-level read is the raw change rows
    assert t.read_incremental(v).count() == 1
    t.write(make_df(spark, [("T1", TS1, "BTCGBP", 0.0)]), "delete")
    # a tombstone in range would surface deletions as data — loud error
    with pytest.raises(ValueError, match="tombstone"):
        t.read_incremental(v)
    # records mode resolves correctly
    inc = t.read_incremental(v, records=True)
    assert [(r.transaction_id, r.price) for r in inc.collect()] == [("T2", 2.0)]


def test_stream_upsert_into_mor_table(spark, tmp_path):
    """readStream -> stream_upsert -> MOR table: each micro-batch is one
    O(batch) delta commit (no partition rewrite), resolution merges by
    key across batches, and a drained re-run over the same checkpoint
    adds no commits — the write-optimized streaming-ingest path."""
    import json as _json
    import os

    from dca_manager_spark.streaming.ingest import stream_upsert

    src = tmp_path / "src"
    src.mkdir()
    ts = "2024-01-01T12:00:00"
    (src / "a_b1.json").write_text(
        _json.dumps({"transaction_id": "T1", "close_time": ts,
                     "pair": "ADAGBP", "price": 1.0})
        + "\n"
        + _json.dumps({"transaction_id": "T2", "close_time": ts,
                       "pair": "BTCGBP", "price": 2.0})
    )
    (src / "b_b2.json").write_text(
        _json.dumps({"transaction_id": "T1", "close_time": ts,
                     "pair": "ADAGBP", "price": 9.0})
    )
    now = 1_700_000_000
    os.utime(src / "a_b1.json", (now, now))
    os.utime(src / "b_b2.json", (now + 10, now + 10))

    table = mk(spark, tmp_path / "tbl", "mor")
    stream = (
        spark.readStream.schema(
            "transaction_id string, close_time timestamp, pair string, price double"
        )
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    stream_upsert(stream, table, str(tmp_path / "ckpt")).awaitTermination()

    assert {r.transaction_id: r.price for r in table.read().collect()} == {
        "T1": 9.0, "T2": 2.0,
    }
    files = table._latest_manifest()[1]["files"]
    assert all(f.get("kind") == "delta" for f in files), "no rewrite ever"
    commits_after_drain = table.commits()
    # same checkpoint, already-drained source: no new commits
    stream2 = (
        spark.readStream.schema(
            "transaction_id string, close_time timestamp, pair string, price double"
        )
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    stream_upsert(stream2, table, str(tmp_path / "ckpt")).awaitTermination()
    assert table.commits() == commits_after_drain


def test_mor_vacuum_reclaims_compacted_deltas(spark, tmp_path):
    from pathlib import Path

    t = mk(spark, tmp_path / "mor", "mor")
    for i in range(3):
        t.write(make_df(spark, [("T1", TS1, "BTCGBP", float(i))]), "upsert")
    before = content(t)
    t.compact()
    removed = t.vacuum(keep_last=1)
    assert removed > 0, "superseded delta files must be reclaimed"
    # only the compacted base remains on disk, content intact
    live = {f["path"] for f in t._latest_manifest()[1]["files"]}
    on_disk = {
        p.relative_to(Path(t.path)).as_posix()
        for p in (Path(t.path) / "data").rglob("*.parquet")
    }
    assert on_disk == live
    assert content(t) == before


def test_mor_history_records_delta_ops(spark, tmp_path):
    t = mk(spark, tmp_path / "mor", "mor")
    t.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "insert")
    t.write(make_df(spark, [("T1", TS1, "BTCGBP", 2.0)]), "upsert")
    t.write(make_df(spark, [("T1", TS1, "BTCGBP", 0.0)]), "delete")
    t.compact()
    h = t.history().orderBy("commit_id").collect()
    assert [r.op for r in h] == ["insert", "upsert", "delete", "compact"]
    # delta commits capture their own files; compact captures nothing
    assert h[1].n_upsert_files > 0 and h[2].n_delete_files > 0
    assert h[3].n_upsert_files == h[3].n_delete_files == 0


def test_mor_resolution_skips_row_number_without_sink_upserts(spark, tmp_path):
    """r16 gating: the within-commit precombine row_number exists ONLY
    when the manifest holds un-precombined sink upsert entries
    (pc=False). Handle-only MOR tables must keep the cheap plan — the
    extra sort was measured at ~+2x on compact+drift-read when applied
    unconditionally."""
    import datetime

    from dca_manager_spark.io.manifest import ManifestTable

    TS = datetime.datetime(2024, 1, 1)
    schema = "transaction_id string, close_time timestamp, pair string, price double"
    t = ManifestTable(
        spark, str(tmp_path / "t"), keys=("transaction_id",),
        precombine="price", partition_by=("pair",), table_type="mor")
    t.write(spark.createDataFrame([("T1", TS, "BTCGBP", 1.0)], schema), "insert")
    t.write(spark.createDataFrame([("T1", TS, "BTCGBP", 2.0)], schema), "upsert")
    plan = t.read()._jdf.queryExecution().optimizedPlan().toString()
    assert "row_number" not in plan
    # base + delta commits resolve over ONE scan, however many commits
    for price in (3.0, 4.0):
        t.write(spark.createDataFrame(
            [("T1", TS, "BTCGBP", price)], schema), "upsert")
    scans = t.read()._jdf.queryExecution().executedPlan().toString()
    assert scans.count("FileScan") == 1
    assert [r.price for r in t.read().collect()] == [4.0]

    def view_text():
        t.register("mt_rn_gate")
        try:
            return spark.sql("SHOW CREATE TABLE mt_rn_gate").first()[0]
        finally:
            t.unregister("mt_rn_gate")

    assert "ROW_NUMBER" not in view_text()
    # plant a sink-style un-precombined upsert entry -> rn appears
    from dca_manager_spark.io.datasource import ManifestStreamWriter

    w = ManifestStreamWriter(
        {"path": str(tmp_path / "t"), "partition_by": "pair",
         "keys": "transaction_id", "precombine": "price", "sink_id": "s"},
        t.read().schema, False)
    msg = w.write(iter([("T2", TS, "ETHGBP", 3.0)]))  # executor-side half
    w.commit([msg], batchId=0)
    plan = t.read()._jdf.queryExecution().optimizedPlan().toString()
    assert "row_number" in plan
    assert "ROW_NUMBER" in view_text()
    # compaction folds the sink deltas away -> cheap plan returns
    t.compact()
    plan = t.read()._jdf.queryExecution().optimizedPlan().toString()
    assert "row_number" not in plan
