"""ManifestTable: the object-store-safe commit protocol — atomic publish,
crash invisibility, manifest-level pruning, vacuum. The keyed-write
semantics of the four operations are in test_merge.py."""

from __future__ import annotations

import datetime
import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from dca_manager_spark.io.manifest import ManifestTable

TS1 = datetime.datetime(2024, 1, 1, 12, 0, 0)


def make_df(spark, rows):
    return spark.createDataFrame(
        rows, "transaction_id string, close_time timestamp, pair string, price double"
    )


@pytest.fixture
def table(spark, tmp_path):
    return ManifestTable(
        spark,
        str(tmp_path / "mtbl"),
        keys=("transaction_id", "close_time"),
        precombine="transaction_id",
        partition_by=("pair",),
    )


def test_bulk_insert_preserves_duplicates(spark, table):
    df = make_df(spark, [("T1", TS1, "BTCGBP", 1.0), ("T1", TS1, "BTCGBP", 2.0)])
    table.write(df, "bulk_insert")
    table.write(df, "insert")
    assert table.read().count() == 4


def test_upsert_precombine_and_update(spark, table):
    table.write(
        make_df(spark, [("T1", TS1, "BTCGBP", 1.0), ("T2", TS1, "ETHGBP", 5.0)]),
        "upsert",
    )
    # same-key rows collapse (larger precombine wins), existing key updates
    table.write(
        make_df(spark, [("T1", TS1, "BTCGBP", 9.0), ("T3", TS1, "BTCGBP", 3.0)]),
        "upsert",
    )
    rows = {r.transaction_id: r.price for r in table.read().collect()}
    assert rows == {"T1": 9.0, "T2": 5.0, "T3": 3.0}


def test_upsert_is_idempotent(spark, table):
    df = make_df(spark, [("T1", TS1, "BTCGBP", 1.0)])
    table.write(df, "upsert")
    table.write(df, "upsert")
    assert table.read().count() == 1


def test_delete_and_empty_table_stays_readable(spark, table):
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "upsert")
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 0.0)]), "delete")
    empty = table.read()
    assert empty.count() == 0
    assert "price" in empty.columns  # schema survives via the manifest
    # and the table accepts new writes afterwards
    table.write(make_df(spark, [("T2", TS1, "ETHGBP", 2.0)]), "upsert")
    assert table.read().count() == 1


def test_cow_touches_only_affected_partitions(spark, table):
    table.write(
        make_df(spark, [("T1", TS1, "BTCGBP", 1.0), ("T2", TS1, "ETHGBP", 2.0)]),
        "upsert",
    )
    first = {f["path"] for f in table._latest_manifest()[1]["files"]}
    table.write(make_df(spark, [("T3", TS1, "BTCGBP", 3.0)]), "upsert")
    second = table._latest_manifest()[1]["files"]
    eth = [f["path"] for f in second if f["partition"] == {"pair": "ETHGBP"}]
    # the untouched ETH partition's files are carried over verbatim
    assert eth and set(eth) <= first
    btc = [f["path"] for f in second if f["partition"] == {"pair": "BTCGBP"}]
    assert btc and not (set(btc) & first)  # BTC rewritten


def test_manifest_level_partition_pruning(spark, table):
    table.write(
        make_df(spark, [("T1", TS1, "BTCGBP", 1.0), ("T2", TS1, "ETHGBP", 2.0)]),
        "upsert",
    )
    out = table.read(partition_filter={"pair": "ETHGBP"})
    assert [r.transaction_id for r in out.collect()] == ["T2"]
    assert table.read(partition_filter={"pair": "NOPE"}).count() == 0


def test_crash_before_publish_is_invisible_and_vacuumable(spark, table):
    df1 = make_df(spark, [("T1", TS1, "BTCGBP", 1.0)])
    table.write(df1, "upsert")
    # Simulate a writer crashing AFTER writing data files but BEFORE
    # publishing the manifest: the files exist, no manifest references them.
    table._write_commit_files(make_df(spark, [("TX", TS1, "BTCGBP", 99.0)]))
    rows = table.read().collect()
    assert [r.transaction_id for r in rows] == ["T1"]  # reader sees old state
    # Default vacuum KEEPS fresh never-referenced files — they are
    # indistinguishable from a concurrent writer's in-flight commit
    # (r13 multi-writer grace window)...
    assert table.vacuum() == 0
    # ...a quiesced vacuum (grace 0) reclaims the crash orphans.
    removed = table.vacuum(orphan_grace_seconds=0)
    assert removed >= 1
    assert [r.transaction_id for r in table.read().collect()] == ["T1"]


def test_vacuum_removes_replaced_cow_files(spark, table):
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "upsert")
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 2.0)]), "upsert")
    assert table.vacuum() >= 1  # the superseded BTC files
    assert {r.price for r in table.read().collect()} == {2.0}


def test_publish_is_put_if_absent(spark, table):
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "upsert")
    latest_id, doc = table._latest_manifest()
    with pytest.raises(FileExistsError):
        table._publish(latest_id - 1, doc["files"], doc["schema"])


def test_manifest_documents_are_json(spark, table):
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "upsert")
    mdir = Path(table.path) / "_manifests"
    docs = sorted(mdir.glob("*.json"))
    assert docs
    doc = json.loads(docs[-1].read_text())
    assert set(doc) == {"id", "files", "schema", "changes", "op", "stream_marks"}
    assert all(set(f) == {"path", "partition"} for f in doc["files"])
    assert set(doc["changes"]) == {"upserts", "deletes"}


def test_time_travel_reads(spark, table):
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "upsert")
    v0 = table.commits()[-1]
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 2.0)]), "upsert")
    assert {r.price for r in table.read().collect()} == {2.0}
    assert {r.price for r in table.read(as_of=v0).collect()} == {1.0}
    # vacuum reclaims replaced files AND invalidates superseded manifests
    table.vacuum()
    assert table.commits() == [table.commits()[-1]]
    with pytest.raises(FileNotFoundError):
        table.read(as_of=v0)
    assert {r.price for r in table.read().collect()} == {2.0}


def test_incremental_read(spark, table):
    """Hudi incremental-query analogue: rows from commits after a given
    manifest id; untouched partitions are not re-emitted."""
    table.write(
        make_df(spark, [("T1", TS1, "BTCGBP", 1.0), ("T2", TS1, "ETHGBP", 2.0)]),
        "upsert",
    )
    v0 = table.commits()[-1]
    assert table.read_incremental(v0).count() == 0  # nothing new yet
    table.write(make_df(spark, [("T3", TS1, "BTCGBP", 3.0)]), "upsert")
    inc = table.read_incremental(v0)
    # COW: the touched BTC partition is re-emitted in full, ETH is not
    assert {r.transaction_id for r in inc.collect()} == {"T1", "T3"}
    with pytest.raises(FileNotFoundError):
        table.read_incremental(999)


def test_incremental_records_one_row_not_the_partition(spark, table):
    """Record-level incremental pull (VERDICT r6 #4): a 1-row upsert into
    a 10k-row partition yields exactly that 1 row at its new version —
    the file-level read re-emits the whole COW-rewritten partition."""
    big = spark.range(10_000).select(
        F.concat(F.lit("T"), F.col("id")).alias("transaction_id"),
        F.lit(TS1).alias("close_time"),
        F.lit("BTCGBP").alias("pair"),
        F.col("id").cast("double").alias("price"),
    )
    table.write(big, "bulk_insert")
    v0 = table.commits()[-1]
    table.write(make_df(spark, [("T42", TS1, "BTCGBP", 99.0)]), "upsert")

    assert table.read_incremental(v0).count() == 10_000  # file-level: COW
    rows = table.read_incremental(v0, records=True).collect()
    assert len(rows) == 1
    assert rows[0].transaction_id == "T42" and rows[0].price == 99.0
    # And the resume point returns nothing new.
    assert table.read_incremental(table.commits()[-1], records=True).count() == 0


def test_incremental_records_latest_version_and_deletes(spark, table):
    """Across several commits a key surfaces once at its LATEST version;
    keys whose newest change is a delete are excluded; a delete of a key
    that never existed is not a change; delete-then-reinsert resurfaces."""
    table.write(
        make_df(spark, [("T1", TS1, "BTCGBP", 1.0), ("T2", TS1, "ETHGBP", 2.0)]),
        "upsert",
    )
    v0 = table.commits()[-1]
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 5.0)]), "upsert")
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 7.0)]), "upsert")
    got = {(r.transaction_id, r.price)
           for r in table.read_incremental(v0, records=True).collect()}
    assert got == {("T1", 7.0)}

    # Delete T1 and a phantom key: only T1 was a real change; its latest
    # state is 'gone', so the records read now returns nothing.
    table.write(
        make_df(spark, [("T1", TS1, "BTCGBP", 0.0), ("TX", TS1, "BTCGBP", 0.0)]),
        "delete",
    )
    assert table.read_incremental(v0, records=True).count() == 0
    ch = json.loads(
        sorted((Path(table.path) / "_manifests").glob("*.json"))[-1].read_text()
    )["changes"]
    assert ch["deletes"] and not ch["upserts"]

    # Re-insert after delete: the key resurfaces at the new version.
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 11.0)]), "upsert")
    got = {(r.transaction_id, r.price)
           for r in table.read_incremental(v0, records=True).collect()}
    assert got == {("T1", 11.0)}


def test_read_cdc_feed_ordering_and_before_images(spark, table):
    """The raw change feed exposes every commit's change rows with
    _change_type/_commit — per-commit replication order, delete rows as
    before-images — where records=True collapses to latest state."""
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "upsert")
    v0 = table.commits()[-1]
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 2.0)]), "upsert")
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 0.0)]), "delete")
    feed = sorted(
        ((r._commit, r._change_type, r.price)
         for r in table.read_cdc(v0).collect())
    )
    # Commit-ordered; the overwrite emits postimage AND update_preimage
    # (Delta CDF parity), the delete carries the row it removed (price
    # 2.0 — the live version), not the delete batch's payload.
    assert feed == [
        (v0 + 1, "update_preimage", 1.0),
        (v0 + 1, "upsert", 2.0),
        (v0 + 2, "delete", 2.0),
    ]
    assert table.read_cdc(table.commits()[-1]).count() == 0
    assert set(table.read_cdc(v0).columns) == {
        "transaction_id", "close_time", "pair", "price",
        "_change_type", "_commit",
    }


def test_apply_cdc_replicates_source_table(spark, table, tmp_path):
    """CDC replication loop: a replica fed from read_cdc converges to the
    source's live content — updates, deletes and late re-inserts included
    — and incremental syncs resume from the last applied source commit."""
    replica = ManifestTable(
        spark,
        str(tmp_path / "replica"),
        keys=("transaction_id", "close_time"),
        precombine="transaction_id",
        partition_by=("pair",),
    )
    table.write(
        make_df(spark, [("T1", TS1, "BTCGBP", 1.0), ("T2", TS1, "ETHGBP", 2.0)]),
        "upsert",
    )
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 5.0)]), "upsert")
    table.write(make_df(spark, [("T2", TS1, "ETHGBP", 0.0)]), "delete")
    v_synced = table.commits()[-1]
    # Bootstrap from the beginning of history (since=-1).
    replica.apply_cdc(table.read_cdc(-1))
    assert {(r.transaction_id, r.price) for r in replica.read().collect()} == {
        (r.transaction_id, r.price) for r in table.read().collect()
    } == {("T1", 5.0)}
    # More source commits; incremental catch-up applies only the delta.
    table.write(make_df(spark, [("T3", TS1, "BTCGBP", 7.0)]), "upsert")
    replica.apply_cdc(table.read_cdc(v_synced))
    assert {(r.transaction_id, r.price) for r in replica.read().collect()} == {
        ("T1", 5.0), ("T3", 7.0)
    }
    # A source write_txn (T3 moves to ETHGBP, T1 goes) replays as ONE
    # replica commit: no reader of the replica sees half of it.
    v_synced = table.commits()[-1]
    before = len(replica.commits())
    table.write_txn(
        make_df(spark, [("T3", TS1, "ETHGBP", 8.0)]),
        make_df(spark, [("T3", TS1, "BTCGBP", 0.0), ("T1", TS1, "BTCGBP", 0.0)]),
    )
    replica.apply_cdc(table.read_cdc(v_synced))
    assert len(replica.commits()) == before + 1
    assert {
        (r.transaction_id, r.pair, r.price) for r in replica.read().collect()
    } == {
        (r.transaction_id, r.pair, r.price) for r in table.read().collect()
    } == {("T3", "ETHGBP", 8.0)}


def test_apply_cdc_collapses_insert_duplicates_as_documented(spark, table, tmp_path):
    """apply_cdc replays everything as keyed upserts, so legal same-key
    duplicates from source INSERT commits collapse under the replica's
    precombine — the documented caveat (replicate with bulk_insert loads
    if duplicate preservation matters). Pin it so a behavior change is a
    deliberate decision, not an accident."""
    replica = ManifestTable(
        spark,
        str(tmp_path / "replica2"),
        keys=("transaction_id", "close_time"),
        precombine="price",
        partition_by=("pair",),
    )
    dup = make_df(spark, [("T1", TS1, "BTCGBP", 1.0), ("T1", TS1, "BTCGBP", 2.0)])
    table.write(dup, "insert")
    assert table.read().count() == 2  # source keeps the duplicates
    replica.apply_cdc(table.read_cdc(-1))
    rows = replica.read().collect()
    assert [(r.transaction_id, r.price) for r in rows] == [("T1", 2.0)]


def test_incremental_records_insert_duplicates_and_compaction(spark, table):
    """Legal duplicate keys from insert commits survive the records read
    (max-commit resolution, not row_number); compaction is content-neutral
    and contributes no record changes."""
    table.write(make_df(spark, [("T0", TS1, "BTCGBP", 1.0)]), "bulk_insert")
    v0 = table.commits()[-1]
    dup = make_df(spark, [("T1", TS1, "BTCGBP", 1.0), ("T1", TS1, "BTCGBP", 2.0)])
    table.write(dup, "insert")
    got = sorted(
        r.price for r in table.read_incremental(v0, records=True).collect()
    )
    assert got == [1.0, 2.0]
    table.compact()
    # Compaction rewrote files (file-level sees them) but changed no rows.
    assert table.read_incremental(v0).count() == 3
    got = sorted(
        r.price for r in table.read_incremental(v0, records=True).collect()
    )
    assert got == [1.0, 2.0]


def test_partition_filter_unknown_column_is_loud(spark, table):
    """A filter on a non-partition column would silently match nothing
    (manifest entries carry no such key) — it must raise instead."""
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "bulk_insert")
    with pytest.raises(ValueError, match="non-partition"):
        table.read(partition_filter={"price": 1.0})
    with pytest.raises(ValueError, match="non-partition"):
        table.compact(partition_filter={"nope": "x"})
    assert table.read(partition_filter={"pair": "BTCGBP"}).count() == 1


def test_incremental_records_across_schema_evolution(spark, table):
    """A later commit adds a column: the records read and the CDC feed
    surface every change under the LATEST schema — older commits'
    captured rows (including append commits, whose changes are data-file
    references) null-fill the new column."""
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "bulk_insert")
    v0 = table.commits()[0]
    wide = spark.createDataFrame(
        [("T2", TS1, "BTCGBP", 2.0, 0.1)],
        "transaction_id string, close_time timestamp, pair string, "
        "price double, fee double",
    )
    table.write(wide, "upsert")

    inc = table.read_incremental(v0, records=True).collect()
    assert [(r.transaction_id, r.fee) for r in inc] == [("T2", 0.1)]
    feed = {r.transaction_id: (r.fee, r._change_type)
            for r in table.read_cdc(-1).collect()}
    # The pre-evolution append's captured row null-fills fee.
    assert feed == {"T1": (None, "upsert"), "T2": (0.1, "upsert")}


def test_restore_rolls_back_without_rewriting_data(spark, table):
    """RESTORE publishes a new manifest referencing the target version's
    files (no data rewrite), readers see the old content, and the change
    capture is record-exact: only rows that actually differ surface to
    incremental/CDC consumers — unchanged rows are not re-emitted."""
    table.write(
        make_df(spark, [("T1", TS1, "BTCGBP", 1.0), ("T2", TS1, "ETHGBP", 2.0)]),
        "upsert",
    )
    v0 = table.commits()[-1]
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 5.0)]), "upsert")
    table.write(make_df(spark, [("T3", TS1, "BTCGBP", 7.0)]), "upsert")
    v2 = table.commits()[-1]
    n_files_before = table.file_count()

    new_id = table.restore(v0)
    assert new_id == v2 + 1 and table.commits()[-1] == new_id
    assert {(r.transaction_id, r.price) for r in table.read().collect()} == {
        ("T1", 1.0), ("T2", 2.0)
    }
    assert table.file_count() <= n_files_before  # references, no new data

    # Record-exact changes: T1 back to 1.0 (differs; its rewritten 5.0
    # version emits as update_preimage), T3 deleted, T2 untouched and
    # NOT re-emitted.
    ch = {(r.transaction_id, r._change_type, r.price)
          for r in table.read_cdc(v2).collect()}
    assert ch == {
        ("T1", "upsert", 1.0),
        ("T1", "update_preimage", 5.0),
        ("T3", "delete", 7.0),
    }
    inc = {(r.transaction_id, r.price)
           for r in table.read_incremental(v2, records=True).collect()}
    assert inc == {("T1", 1.0)}
    # A consumer synced to v0 now converges back to the v0 state.
    assert {(r.transaction_id, r.price)
            for r in table.read_incremental(v0, records=True).collect()} == {
        ("T1", 1.0)
    }
    # Rolled-back history remains time-travelable; restore to HEAD no-ops.
    assert {r.price for r in table.read(as_of=v2).collect()} == {5.0, 2.0, 7.0}
    assert table.restore(new_id) == new_id
    # Vacuum keeps the restored content readable.
    table.vacuum()
    assert {(r.transaction_id, r.price) for r in table.read().collect()} == {
        ("T1", 1.0), ("T2", 2.0)
    }


def test_vacuum_retention_window(spark, table):
    """vacuum(keep_last=N) retains N manifests: time travel, records
    incremental reads and CDC stay valid inside the window and fail
    loudly outside it; only files unreachable from every retained
    manifest are deleted."""
    for i, price in enumerate([1.0, 2.0, 3.0, 4.0]):
        table.write(make_df(spark, [("T1", TS1, "BTCGBP", price)]), "upsert")
    ids = table.commits()
    assert len(ids) == 4
    table.vacuum(keep_last=2)
    assert table.commits() == ids[-2:]
    # Inside the window: time travel + records incremental + CDC work.
    assert {r.price for r in table.read(as_of=ids[-2]).collect()} == {3.0}
    inc = table.read_incremental(ids[-2], records=True).collect()
    assert [(r.transaction_id, r.price) for r in inc] == [("T1", 4.0)]
    # overwrite commit: postimage + update_preimage
    assert {
        (r._change_type, r.price) for r in table.read_cdc(ids[-2]).collect()
    } == {("upsert", 4.0), ("update_preimage", 3.0)}
    # Outside: loud failure, including the since=-1 bootstrap.
    with pytest.raises(FileNotFoundError):
        table.read_incremental(ids[0], records=True)
    with pytest.raises(FileNotFoundError):
        table.read_cdc(-1)
    # Full vacuum drops history to the newest manifest only.
    table.vacuum()
    assert table.commits() == ids[-1:]
    assert {r.price for r in table.read().collect()} == {4.0}


def test_manifest_at_testdata_volume(spark, tmp_path):
    """Protocol behavior on a real table (sf0.001 lineitem, 6k rows, 3
    partitions): bulk load parity, manifest-level pruned reads, and a
    full-partition delete that leaves the partition empty but the table
    consistent."""
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    t = ManifestTable(
        spark,
        str(tmp_path / "li"),
        keys=("l_orderkey", "l_linenumber"),
        precombine="l_orderkey",
        partition_by=("l_returnflag",),
    )
    t.write(li, "bulk_insert")
    n = li.count()
    assert t.read().count() == n

    n_r = li.filter("l_returnflag = 'R'").count()
    assert t.read(partition_filter={"l_returnflag": "R"}).count() == n_r

    # full-partition delete: every distinct R key
    t.write(li.filter("l_returnflag = 'R'"), "delete")
    assert t.read(partition_filter={"l_returnflag": "R"}).count() == 0
    assert t.read().count() == n - n_r


def test_partition_values_escaped_and_null_round_trip(spark, table):
    """Hive-escaped characters (/ = % space) and NULL partition values
    must round-trip: manifest pruning matches the TRUE value and upsert
    replaces the right partition instead of duplicating it (the escaped
    directory name must never leak into manifest matching)."""
    weird = ["a/b", "k=v", "50%", "two words", None, "plain"]
    rows = [(f"t{i}", TS1, p, 1.0) for i, p in enumerate(weird)]
    table.write(make_df(spark, rows), "bulk_insert")

    # Pruning by true value (and by null) returns exactly that partition.
    for p in weird:
        got = table.read(partition_filter={"pair": p}).collect()
        assert len(got) == 1 and got[0].pair == p, f"pruning broke for {p!r}"

    # Manifest JSON stores the unescaped value / null, never %XX.
    import json as _json
    mdir = Path(table.path) / "_manifests"
    doc = _json.loads(sorted(mdir.glob("*.json"))[-1].read_text())
    stored = {f["partition"]["pair"] for f in doc["files"]}
    assert stored == {"a/b", "k=v", "50%", "two words", None, "plain"}

    # Upsert into the escaped and null partitions REPLACES them
    # (same key -> one row, new price), no phantom duplicates.
    table.write(
        make_df(spark, [("t0", TS1, "a/b", 9.0), ("t4", TS1, None, 9.0)]),
        "upsert",
    )
    out = {r.pair: r.price for r in table.read().collect()}
    assert len(table.read().collect()) == 6
    assert out["a/b"] == 9.0 and out[None] == 9.0


def test_boolean_partition_values_prune_and_replace(spark, tmp_path):
    """Spark renders boolean partition directories as 'true'/'false';
    Python str() says 'True'/'False'. _partition_key must normalize to the
    hive rendering or pruning and upsert partition-replacement silently
    miss (ADVICE r6)."""
    t = ManifestTable(
        spark,
        str(tmp_path / "btbl"),
        keys=("transaction_id", "close_time"),
        precombine="transaction_id",
        partition_by=("is_real",),
    )
    df = spark.createDataFrame(
        [("T1", TS1, True, 1.0), ("T2", TS1, False, 2.0)],
        "transaction_id string, close_time timestamp, is_real boolean, price double",
    )
    t.write(df, "bulk_insert")
    got = t.read(partition_filter={"is_real": True}).collect()
    assert len(got) == 1 and got[0].transaction_id == "T1"

    # Upsert into the True partition REPLACES it (no phantom duplicate
    # from a missed partition match).
    t.write(
        spark.createDataFrame(
            [("T1", TS1, True, 9.0)],
            "transaction_id string, close_time timestamp, is_real boolean, price double",
        ),
        "upsert",
    )
    rows = {r.transaction_id: r.price for r in t.read().collect()}
    assert rows == {"T1": 9.0, "T2": 2.0}


def test_schema_evolution_add_column(spark, table):
    """A later commit may carry a NEW column: reads use the committed
    manifest schema (not parquet footers), so old files null-fill the new
    column, and time travel reads each commit under its own schema."""
    table.write(make_df(spark, [("t1", TS1, "ADAGBP", 1.0)]), "bulk_insert")
    first_commit = table.commits()[-1]

    evolved = spark.createDataFrame(
        [("t2", TS1, "BTCGBP", 2.0, "kraken")],
        "transaction_id string, close_time timestamp, pair string, "
        "price double, exchange string",
    )
    table.write(evolved, "upsert")

    out = {r.transaction_id: r for r in table.read().collect()}
    assert set(out) == {"t1", "t2"}
    assert out["t2"].exchange == "kraken"
    assert out["t1"].exchange is None  # old file null-fills the new column

    # Time travel: the pre-evolution commit has no 'exchange' column.
    old = table.read(as_of=first_commit)
    assert "exchange" not in old.columns


def test_compaction_is_a_commit_and_preserves_content(spark, table):
    """Compaction rewrites many small files into one per partition as an
    ordinary manifest commit: content identical, untouched partitions'
    files untouched, old files reclaimed only by vacuum."""
    for i in range(4):  # 4 commits -> 4 files in ADAGBP, 1 in BTCGBP
        table.write(make_df(spark, [(f"a{i}", TS1, "ADAGBP", float(i))]), "insert")
    table.write(make_df(spark, [("b0", TS1, "BTCGBP", 9.0)]), "insert")

    before = {r.transaction_id: r.price for r in table.read().collect()}
    latest = table._latest_manifest()[1]
    btc_paths_before = {
        f["path"] for f in latest["files"] if f["partition"]["pair"] == "BTCGBP"
    }
    assert table.file_count() >= 5

    replaced = table.compact(partition_filter={"pair": "ADAGBP"})
    assert replaced == 4
    after_doc = table._latest_manifest()[1]
    ada_files = [f for f in after_doc["files"] if f["partition"]["pair"] == "ADAGBP"]
    btc_files = {
        f["path"] for f in after_doc["files"] if f["partition"]["pair"] == "BTCGBP"
    }
    assert len(ada_files) == 1  # compacted to one file
    assert btc_files == btc_paths_before  # untouched partition: same files
    assert {r.transaction_id: r.price for r in table.read().collect()} == before

    # Old files survive for in-flight readers until vacuum.
    assert table.vacuum() >= 4
    assert {r.transaction_id: r.price for r in table.read().collect()} == before


def test_cluster_by_yields_disjoint_file_ranges(spark, tmp_path):
    """cluster_by range-partitions each commit on the cluster column:
    per-file parquet min/max stats must form (near-)disjoint bands —
    the property file/row-group skipping needs — with logical content
    unchanged."""
    import pyarrow.parquet as pq

    table = ManifestTable(
        spark,
        str(tmp_path / "ctbl"),
        keys=("transaction_id", "close_time"),
        precombine="transaction_id",
        partition_by=(),
        cluster_by=("price",),
        cluster_files=4,  # pinned: AQE would coalesce this tiny commit to 1
    )
    rows = [(f"t{i}", TS1, "ADAGBP", float((i * 37) % 1000)) for i in range(2000)]
    table.write(make_df(spark, rows), "bulk_insert")

    doc = table._latest_manifest()[1]
    bands = []
    for f in doc["files"]:
        meta = pq.read_metadata(str(Path(table.path) / f["path"]))
        mins, maxs = [], []
        for rg in range(meta.num_row_groups):
            col = next(
                meta.row_group(rg).column(i)
                for i in range(meta.num_columns)
                if meta.row_group(rg).column(i).path_in_schema == "price"
            )
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        bands.append((min(mins), max(maxs)))
    assert len(bands) > 1, "expected multiple range-clustered files"
    bands.sort()
    # Disjoint up to the range-partitioner's boundary duplicates.
    for (lo1, hi1), (lo2, hi2) in zip(bands, bands[1:]):
        assert hi1 <= lo2, f"overlapping file bands: ({lo1},{hi1}) vs ({lo2},{hi2})"

    # Logical content unchanged.
    assert table.read().count() == 2000
    assert table.read().filter("price < 100").count() == sum(
        1 for _, _, _, p in rows if p < 100
    )


def _file_bands(table, col):
    """Per-data-file (min, max) parquet stats for ``col`` in the latest
    manifest."""
    import pyarrow.parquet as pq

    bands = []
    for f in table._latest_manifest()[1]["files"]:
        meta = pq.read_metadata(str(Path(table.path) / f["path"]))
        mins, maxs = [], []
        for rg in range(meta.num_row_groups):
            c = next(
                meta.row_group(rg).column(i)
                for i in range(meta.num_columns)
                if meta.row_group(rg).column(i).path_in_schema == col
            )
            mins.append(c.statistics.min)
            maxs.append(c.statistics.max)
        bands.append((min(mins), max(maxs)))
    return bands


def test_zorder_skips_on_every_cluster_column(spark, tmp_path):
    """Z-order vs linear clustering on two independent columns: a filter
    on the NON-leading column must overlap strictly fewer files under
    zorder (linear gives the trailing column full-range stats in every
    file)."""

    def xy_df():
        rows = [
            ("t%d" % i, TS1, "ADAGBP", float((i * 37) % 1000), float((i * 61) % 1000))
            for i in range(4096)
        ]
        return spark.createDataFrame(
            rows,
            "transaction_id string, close_time timestamp, pair string, "
            "x double, y double",
        )

    tables = {}
    for method in ("linear", "zorder"):
        t = ManifestTable(
            spark,
            str(tmp_path / method),
            keys=("transaction_id", "close_time"),
            precombine="transaction_id",
            partition_by=(),
            cluster_by=("x", "y"),
            cluster_files=16,
            cluster_method=method,
        )
        t.write(xy_df(), "bulk_insert")
        tables[method] = t

    def overlapping(table, lo, hi):
        return sum(1 for mn, mx in _file_bands(table, "y") if mx >= lo and mn <= hi)

    lin = overlapping(tables["linear"], 0.0, 50.0)
    zor = overlapping(tables["zorder"], 0.0, 50.0)
    # x and y are weakly correlated (both linear in i), so a couple of
    # linear files can be narrow on y by accident — "most files" is the
    # stable property, exact counts are not.
    assert lin >= 12, f"linear should leave y mostly unclustered, got {lin}/16"
    assert zor < lin / 2, f"zorder should skip most files on y, got {zor}/16 vs {lin}/16"

    # logical content identical between methods
    assert (
        tables["zorder"].read().exceptAll(tables["linear"].read()).isEmpty()
        and tables["linear"].read().exceptAll(tables["zorder"].read()).isEmpty()
    )
    expect = sum(1 for i in range(4096) if (i * 61) % 1000 < 50)
    assert tables["zorder"].read().filter("y < 50").count() == expect


def test_zorder_rejects_unsupported_types_and_bad_bits(spark, tmp_path):
    from dca_manager_spark.io.manifest import zorder_key

    df = make_df(spark, [("T1", TS1, "BTCGBP", 1.0)])
    with pytest.raises(ValueError, match="unsupported type"):
        zorder_key(df, ["pair"])
    with pytest.raises(ValueError, match="bits"):
        zorder_key(df, ["price"], bits=0)
    with pytest.raises(ValueError, match="cluster_method"):
        ManifestTable(spark, str(tmp_path / "t"), cluster_method="hilbert")


def test_zorder_handles_nulls_and_upserts(spark, tmp_path):
    t = ManifestTable(
        spark,
        str(tmp_path / "znul"),
        keys=("transaction_id", "close_time"),
        precombine="transaction_id",
        partition_by=(),
        cluster_by=("price", "close_time"),
        cluster_files=2,
        cluster_method="zorder",
    )
    df = spark.createDataFrame(
        [("T1", TS1, "BTCGBP", None), ("T2", TS1, "BTCGBP", 2.0)],
        "transaction_id string, close_time timestamp, pair string, price double",
    )
    t.write(df, "upsert")
    t.write(make_df(spark, [("T2", TS1, "BTCGBP", 9.0)]), "upsert")
    rows = {r.transaction_id: r.price for r in t.read().collect()}
    assert rows == {"T1": None, "T2": 9.0}
    assert "__zorder" not in t.read().columns


def test_cdc_update_preimages(spark, table):
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0),
                                ("T2", TS1, "BTCGBP", 5.0)]), "upsert")
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 2.0),
                                ("T3", TS1, "BTCGBP", 7.0)]), "upsert")
    feed = table.read_cdc(since=table.commits()[0])
    got = sorted(
        (r.transaction_id, r.price, r._change_type) for r in feed.collect()
    )
    # T1 overwrite: postimage 2.0 + preimage 1.0; T3 is new: no preimage
    assert got == [
        ("T1", 1.0, "update_preimage"),
        ("T1", 2.0, "upsert"),
        ("T3", 7.0, "upsert"),
    ]
    # records-incremental ignores preimages: latest versions only
    inc = table.read_incremental(since=table.commits()[0], records=True)
    assert {(r.transaction_id, r.price) for r in inc.collect()} == {
        ("T1", 2.0), ("T3", 7.0),
    }


def test_incremental_aggregate_maintenance_via_deltas(spark, table):
    from dca_manager_spark.streaming.cdc import feed_deltas

    def agg_state(df):
        return {
            (r.pair): (round(r.total, 6), r.n)
            for r in df.groupBy("pair")
            .agg(F.sum("price").alias("total"), F.count(F.lit(1)).alias("n"))
            .collect()
        }

    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0),
                                ("T2", TS1, "ETHGBP", 5.0)]), "upsert")
    base = table.commits()[-1]
    materialized = agg_state(table.read())

    # a mix of change types: overwrite, new key, delete, insert, restore
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 3.0)]), "upsert")
    table.write(make_df(spark, [("T4", TS1, "ETHGBP", 2.0)]), "insert")
    table.write(make_df(spark, [("T2", TS1, "ETHGBP", 5.0)]), "delete")
    table.restore(base + 1)  # roll back the insert + delete

    deltas = feed_deltas(table.read_cdc(since=base))
    moves = {
        r.pair: (round(r.dt, 6), r.dn)
        for r in deltas.groupBy("pair")
        .agg(
            F.sum(F.col("price") * F.col("_delta")).alias("dt"),
            F.sum("_delta").alias("dn"),
        )
        .collect()
    }
    maintained = dict(materialized)
    for pair, (dt, dn) in moves.items():
        t0, n0 = maintained.get(pair, (0.0, 0))
        maintained[pair] = (round(t0 + dt, 6), n0 + dn)
    maintained = {k: v for k, v in maintained.items() if v[1] > 0}
    assert maintained == agg_state(table.read())


def test_history_describes_the_timeline(spark, tmp_path):
    """The timeline every write path leaves, pinned per table type: the
    op label of each commit and which change-capture lists it fills.
    Every list expected to be filled holds real change rows, and a side a
    commit does not have lists no file at all."""
    for table_type in ("cow", "mor"):
        table = ManifestTable(
            spark, str(tmp_path / table_type), partition_by=("pair",),
            table_type=table_type,
        )
        table.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0),
                                    ("T2", TS1, "ETHGBP", 4.0),
                                    ("T4", TS1, "BTCGBP", 6.0),
                                    ("T5", TS1, "BTCGBP", 5.0)]), "insert")
        table.write(make_df(spark, [("T3", TS1, "BTCGBP", 3.0)]), "bulk_insert")
        table.write(make_df(spark, [("T1", TS1, "BTCGBP", 2.0)]), "upsert")
        table.write(make_df(spark, [("T1", TS1, "BTCGBP", 0.0)]), "delete")
        table.write_txn(make_df(spark, [("T2", TS1, "ETHGBP", 5.0)]),
                        make_df(spark, [("T5", TS1, "BTCGBP", 0.0)]))
        table.update_where("pair = 'ETHGBP'", {"price": "price + 1"})
        table.delete_where("transaction_id = 'T4'")
        table.compact()
        # back to {T1, T2, T4, T5} from {T2 (rewritten), T3 (removed)}
        base = table.commits()[0]
        table.restore(base)
        h = table.history().orderBy("commit_id").collect()
        cow = table_type == "cow"
        assert [r.op for r in h] == [
            "append" if cow else "insert", "append", "upsert", "delete", "txn",
            "upsert", "delete", "compact", "restore",
        ]
        assert [r.commit_id for r in h] == table.commits()
        # (upserts, preimages, deletes) lists filled per commit: compact
        # fills none, a COW upsert that overwrites rows lists their
        # preimages, MOR lists preimages only on restore
        expected = [
            (True, False, False),
            (True, False, False),
            (True, cow, False),
            (False, False, True),
            (True, cow, True),
            (True, cow, False),
            (False, False, True),
            (False, False, False),
            (True, True, True),
        ]
        assert [
            (r.n_upsert_files > 0, r.n_preimage_files > 0, r.n_delete_files > 0)
            for r in h
        ] == expected
        # a commit with no preimage side carries no preimages key at all
        assert [
            "preimages" in table._load_manifest(c)["changes"]
            for c in table.commits()
        ] == [p for _, p, _ in expected]
        # metadata-only: history of a vacuumed table shrinks with retention
        table.vacuum(keep_last=2)
        assert table.history().count() == 2


def test_range_filter_skips_files_on_manifest_stats(spark, tmp_path):
    table = ManifestTable(
        spark,
        str(tmp_path / "skiptbl"),
        keys=("transaction_id", "close_time"),
        precombine="transaction_id",
        partition_by=(),
        cluster_by=("price",),
        cluster_files=4,
    )
    rows = [(f"t{i}", TS1, "ADAGBP", float((i * 37) % 1000)) for i in range(2000)]
    table.write(make_df(spark, rows), "bulk_insert")

    pruned = table.read(range_filter={"price": (0.0, 100.0)})
    full = table.read().filter("price >= 0 and price <= 100")
    # fewer files scanned than the table holds (clustered bands skip)
    assert len(pruned.inputFiles()) < table.file_count()
    # results exact: residual filter applied on top of the prune
    assert pruned.exceptAll(full).isEmpty() and full.exceptAll(pruned).isEmpty()

    # open-ended bounds work; non-cluster columns are a loud error
    assert table.read(range_filter={"price": (900.0, None)}).count() == (
        sum(1 for _, _, _, p in rows if p >= 900.0)
    )
    with pytest.raises(ValueError, match="not a cluster column"):
        table.read(range_filter={"close_time": (None, None)})


def test_compact_preserves_clustering_bands(spark, tmp_path):
    table = ManifestTable(
        spark,
        str(tmp_path / "ctbl2"),
        keys=("transaction_id", "close_time"),
        precombine="transaction_id",
        partition_by=(),
        cluster_by=("price",),
        cluster_files=4,
    )
    for chunk in range(3):  # several commits -> many small files
        rows = [
            (f"t{chunk}_{i}", TS1, "ADAGBP", float((i * 37 + chunk) % 1000))
            for i in range(500)
        ]
        table.write(make_df(spark, rows), "bulk_insert")
    assert table.file_count() > 4
    table.compact()
    bands = sorted(_file_bands(table, "price"))
    assert len(bands) > 1
    for (lo1, hi1), (lo2, hi2) in zip(bands, bands[1:]):
        assert hi1 <= lo2, "compaction must re-cluster, not interleave"
    assert table.read().count() == 1500


def test_check_constraints_gate_every_write(spark, tmp_path):
    t = ManifestTable(
        spark,
        str(tmp_path / "ck"),
        keys=("transaction_id", "close_time"),
        precombine="transaction_id",
        partition_by=("pair",),
        constraints={"price_nonneg": "price >= 0",
                     "pair_set": "pair IN ('BTCGBP', 'ETHGBP')"},
    )
    t.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "upsert")
    with pytest.raises(ValueError, match="price_nonneg"):
        t.write(make_df(spark, [("T2", TS1, "BTCGBP", -1.0)]), "insert")
    with pytest.raises(ValueError, match="pair_set"):
        t.write(make_df(spark, [("T3", TS1, "DOGEGBP", 1.0)]), "upsert")
    # failed writes committed NOTHING
    assert t.commits() == [0]
    assert {r.transaction_id for r in t.read().collect()} == {"T1"}
    # deletes are exempt (payload only names keys)
    t.write(make_df(spark, [("T1", TS1, "BTCGBP", -999.0)]), "delete")
    assert t.read().count() == 0


def test_partition_evolution(spark, tmp_path):
    """Iceberg-style partition evolution: a table loaded UNPARTITIONED
    keeps working when later writes use a partition spec — legacy files
    prune conservatively with an exact residual filter, and the first
    merge that touches them migrates their rows to the current layout
    without key duplication."""
    path = str(tmp_path / "evo")
    flat = ManifestTable(
        spark, path,
        keys=("transaction_id", "close_time"),
        precombine="transaction_id",
        partition_by=(),
    )
    flat.write(
        make_df(spark, [("T1", TS1, "BTCGBP", 1.0), ("T2", TS1, "ETHGBP", 2.0),
                        ("T3", TS1, "BTCGBP", 3.0)]),
        "bulk_insert",
    )

    evolved = ManifestTable(
        spark, path,
        keys=("transaction_id", "close_time"),
        precombine="transaction_id",
        partition_by=("pair",),
    )
    # pruned read across mixed layouts is exact (residual over legacy files)
    got = {r.transaction_id for r in
           evolved.read(partition_filter={"pair": "BTCGBP"}).collect()}
    assert got == {"T1", "T3"}

    # a merge under the new spec must NOT duplicate keys living in
    # legacy-layout files: conservative replacement migrates them
    evolved.write(make_df(spark, [("T1", TS1, "BTCGBP", 9.0)]), "upsert")
    rows = {r.transaction_id: r.price for r in evolved.read().collect()}
    assert rows == {"T1": 9.0, "T2": 2.0, "T3": 3.0}
    # every file now carries the current spec
    assert all(
        set(f["partition"]) == {"pair"}
        for f in evolved._latest_manifest()[1]["files"]
    )
    # pruning after migration is back to manifest-level exactness
    assert {r.transaction_id for r in
            evolved.read(partition_filter={"pair": "ETHGBP"}).collect()} == {"T2"}


def test_incremental_records_keeps_cross_commit_insert_duplicates(spark, table):
    """Legal same-key duplicates inserted in DIFFERENT commits must all
    appear in the records-incremental feed (additive commits stack; only
    upsert/delete/restore supersede)."""
    df = make_df(spark, [("T1", TS1, "BTCGBP", 1.0)])
    table.write(make_df(spark, [("T0", TS1, "BTCGBP", 0.0)]), "bulk_insert")
    v0 = table.commits()[-1]
    table.write(df, "insert")
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 2.0)]), "insert")
    inc = table.read_incremental(v0, records=True)
    assert sorted((r.transaction_id, r.price) for r in inc.collect()) == [
        ("T1", 1.0), ("T1", 2.0),
    ]
    # an upsert supersedes BOTH insert duplicates
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 9.0)]), "upsert")
    inc2 = table.read_incremental(v0, records=True)
    assert sorted((r.transaction_id, r.price) for r in inc2.collect()) == [
        ("T1", 9.0),
    ]


def test_restore_across_schema_evolution(spark, table):
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "upsert")
    v0 = table.commits()[-1]
    wide = make_df(spark, [("T1", TS1, "BTCGBP", 5.0)]).withColumn(
        "fee", F.lit(0.1)
    )
    table.write(wide, "upsert")
    assert "fee" in table.read().columns
    # rolling back the schema-adding commit must work and drop the column
    table.restore(v0)
    out = table.read()
    assert "fee" not in out.columns
    assert {(r.transaction_id, r.price) for r in out.collect()} == {("T1", 1.0)}


def test_append_preserves_committed_schema(spark, table):
    wide = make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]).withColumn(
        "fee", F.lit(0.5)
    )
    table.write(wide, "bulk_insert")
    # an insert missing `fee` must not hide the column table-wide
    table.write(make_df(spark, [("T2", TS1, "BTCGBP", 2.0)]), "insert")
    out = table.read()
    assert "fee" in out.columns
    fees = {r.transaction_id: r.fee for r in out.collect()}
    assert fees == {"T1": 0.5, "T2": None}


def test_merge_reads_replaced_files_under_committed_schema(spark, table):
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "bulk_insert")
    wide = make_df(spark, [("T2", TS1, "BTCGBP", 2.0)]).withColumn(
        "fee", F.lit(0.5)
    )
    table.write(wide, "insert")  # same partition, heterogeneous files
    # the merge must not lose T2's fee when rewriting the partition
    table.write(make_df(spark, [("T3", TS1, "BTCGBP", 3.0)]), "upsert")
    fees = {r.transaction_id: r.fee for r in table.read().collect()}
    assert fees == {"T1": None, "T2": 0.5, "T3": None}


def test_compact_filter_rejects_legacy_layout_files(spark, tmp_path):
    path = str(tmp_path / "evo2")
    flat = ManifestTable(
        spark, path,
        keys=("transaction_id", "close_time"),
        precombine="transaction_id",
        partition_by=(),
    )
    flat.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0),
                               ("T2", TS1, "ETHGBP", 2.0)]), "bulk_insert")
    evolved = ManifestTable(
        spark, path,
        keys=("transaction_id", "close_time"),
        precombine="transaction_id",
        partition_by=("pair",),
    )
    # a filtered compact over a mixed-layout table would lose or
    # duplicate legacy rows — loud error directing to a full compact
    with pytest.raises(ValueError, match="partition spec"):
        evolved.compact(partition_filter={"pair": "BTCGBP"})
    evolved.compact()  # full compact migrates...
    assert evolved.compact(partition_filter={"pair": "BTCGBP"}) >= 0  # ...then ok
    assert {r.transaction_id for r in evolved.read().collect()} == {"T1", "T2"}


def test_partition_column_type_guard(spark, tmp_path):
    """float/timestamp partition columns are rejected loudly: Python's
    str() and Spark's directory rendering diverge on them, which would
    silently break pruning and partition replacement."""
    t = ManifestTable(
        spark,
        str(tmp_path / "ptype"),
        keys=("transaction_id", "close_time"),
        precombine="transaction_id",
        partition_by=("price",),
    )
    with pytest.raises(ValueError, match="partition column"):
        t.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "upsert")
    t2 = ManifestTable(
        spark,
        str(tmp_path / "ptype2"),
        keys=("transaction_id", "close_time"),
        precombine="transaction_id",
        partition_by=("close_time",),
    )
    with pytest.raises(ValueError, match="partition column"):
        t2.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "bulk_insert")


def test_constraint_validation_sees_the_written_materialization(spark, tmp_path):
    """ADVICE r7: the batch must be PINNED before the constraint gate —
    otherwise validation and the write are different materializations of
    a possibly-nondeterministic source. Evaluation-count proof: a Python
    UDF bumps an accumulator per call; with the pin the source evaluates
    exactly once (at the localCheckpoint), so the validation job and the
    write job both read pinned rows instead of re-running the source."""
    from pyspark.sql.functions import udf

    acc = spark.sparkContext.accumulator(0)

    def bump(x):
        acc.add(1)
        return float(x)

    bump_udf = udf(bump, "double")
    src = spark.range(8).select(
        F.concat(F.lit("T"), F.col("id")).alias("transaction_id"),
        F.lit(TS1).alias("close_time"),
        F.lit("BTCGBP").alias("pair"),
        bump_udf("id").alias("price"),
    )
    t = ManifestTable(
        spark,
        str(tmp_path / "pin"),
        keys=("transaction_id", "close_time"),
        precombine="transaction_id",
        partition_by=("pair",),
        constraints={"nonneg": "price >= 0"},
    )
    t.write(src, "insert")
    assert acc.value == 8, (
        "source must be evaluated exactly once (pinned) — "
        f"{acc.value} evaluations means validation and write saw "
        "different materializations"
    )
    assert t.read().count() == 8


def test_type_conflict_is_loud_before_publish(spark, table):
    """ADVICE r7: a batch column whose dataType conflicts with the
    committed schema used to commit fine and make the table unreadable
    at scan time. Now the write raises BEFORE publish."""
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "upsert")
    bad = spark.createDataFrame(
        [("T2", TS1, "BTCGBP", "oops")],
        "transaction_id string, close_time timestamp, pair string, price string",
    )
    with pytest.raises(ValueError, match="schema conflict"):
        table.write(bad, "insert")
    with pytest.raises(ValueError, match="schema conflict"):
        table.write(bad, "upsert")
    # nothing committed, table still fully readable
    assert table.commits() == [0]
    assert [r.price for r in table.read().collect()] == [1.0]


def test_type_conflict_is_loud_on_mor_writes(spark, tmp_path):
    t = ManifestTable(
        spark,
        str(tmp_path / "morconf"),
        keys=("transaction_id", "close_time"),
        precombine="transaction_id",
        partition_by=("pair",),
        table_type="mor",
    )
    t.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "upsert")
    bad = spark.createDataFrame(
        [("T2", TS1, "BTCGBP", "oops")],
        "transaction_id string, close_time timestamp, pair string, price string",
    )
    with pytest.raises(ValueError, match="schema conflict"):
        t.write(bad, "upsert")
    assert [r.price for r in t.read().collect()] == [1.0]


def test_nullability_only_difference_is_not_a_conflict(spark, tmp_path):
    """ADVICE r8: nested nullability-only differences (array containsNull,
    struct-field nullable flips from a slightly different upstream plan)
    are NOT physical conflicts — the parquet bytes are identical — so the
    batch must union-evolve and write, not be rejected. The committed
    schema widens the flag to nullable so later null-bearing batches read
    fine."""
    from pyspark.sql.types import (
        ArrayType, FloatType, StringType, StructField, StructType,
        TimestampType,
    )

    t = ManifestTable(
        spark,
        str(tmp_path / "nultbl"),
        keys=("transaction_id", "close_time"),
        precombine="transaction_id",
        partition_by=(),
    )
    non_null_arr = StructType([
        StructField("transaction_id", StringType(), False),
        StructField("close_time", TimestampType(), False),
        StructField("vec", ArrayType(FloatType(), containsNull=False), True),
    ])
    nullable_arr = StructType([
        StructField("transaction_id", StringType(), False),
        StructField("close_time", TimestampType(), False),
        StructField("vec", ArrayType(FloatType(), containsNull=True), True),
    ])
    t.write(
        spark.createDataFrame([("T1", TS1, [1.0, 2.0])], non_null_arr), "insert"
    )
    # containsNull flip only: must NOT raise
    t.write(
        spark.createDataFrame([("T2", TS1, [3.0, None])], nullable_arr), "insert"
    )
    got = t.read()
    assert got.count() == 2
    # committed schema widened to containsNull=True: null-element rows read
    vec_field = [f for f in got.schema.fields if f.name == "vec"][0]
    assert vec_field.dataType.containsNull is True
    # a genuine physical conflict still fails loudly
    bad = spark.createDataFrame(
        [("T3", TS1, ["x"])],
        StructType([
            StructField("transaction_id", StringType(), False),
            StructField("close_time", TimestampType(), False),
            StructField("vec", ArrayType(StringType(), True), True),
        ]),
    )
    with pytest.raises(ValueError, match="schema conflict"):
        t.write(bad, "insert")


def test_top_level_nullable_flip_widens_committed_schema(spark, tmp_path):
    """Review finding (r9): a batch whose column flips ONLY the
    top-level StructField.nullable (same dataType) must union-evolve
    AND widen the committed schema to nullable — a committed
    nullable=False over null-bearing files would let Catalyst fold
    isNull() to false at read time."""
    from pyspark.sql.types import (
        DoubleType, StringType, StructField, StructType, TimestampType,
    )

    t = ManifestTable(
        spark,
        str(tmp_path / "nulltop"),
        keys=("transaction_id", "close_time"),
        precombine="transaction_id",
        partition_by=(),
    )
    strict = StructType([
        StructField("transaction_id", StringType(), False),
        StructField("close_time", TimestampType(), False),
        StructField("price", DoubleType(), False),
    ])
    loose = StructType([
        StructField("transaction_id", StringType(), False),
        StructField("close_time", TimestampType(), False),
        StructField("price", DoubleType(), True),
    ])
    t.write(spark.createDataFrame([("T1", TS1, 1.0)], strict), "insert")
    t.write(spark.createDataFrame([("T2", TS1, None)], loose), "insert")
    got = t.read()
    price_field = [f for f in got.schema.fields if f.name == "price"][0]
    assert price_field.nullable is True
    # the null row is visible through the committed schema
    assert got.filter(F.col("price").isNull()).count() == 1


def test_shallow_clone_content_independence_and_vacuum_safety(spark, tmp_path):
    """r14 SHALLOW CLONE: zero-copy snapshot at a new root; clone and
    source then evolve independently; the clone's vacuum can never
    touch source files; time-travel clones pin historical versions."""
    import datetime

    TS = datetime.datetime(2024, 1, 1, 12, 0, 0)
    SCHEMA = "transaction_id string, close_time timestamp, pair string, price double"

    def rows(items):
        return spark.createDataFrame(
            [(k, TS, p, v) for k, p, v in items], SCHEMA
        )

    src = ManifestTable(
        spark, str(tmp_path / "src"),
        keys=("transaction_id",), precombine="price",
        partition_by=("pair",),
    )
    src.write(rows([("T1", "BTCGBP", 1.0), ("T2", "ETHGBP", 2.0)]), "upsert")
    src.write(rows([("T3", "BTCGBP", 3.0)]), "upsert")

    # time-travel clone of v0 and a head clone
    c0 = src.clone(tmp_path / "c0", version=0)
    c1 = src.clone(tmp_path / "c1")
    assert {r.transaction_id for r in c0.read().collect()} == {"T1", "T2"}
    assert {r.transaction_id for r in c1.read().collect()} == {"T1", "T2", "T3"}
    # zero data copied: the clone root holds only the manifest
    assert not (tmp_path / "c1" / "data").exists()

    # independent evolution: clone writes never touch the source
    c1.write(rows([("T4", "ETHGBP", 4.0), ("T1", "BTCGBP", 10.0)]), "upsert")
    assert {r.transaction_id: r.price for r in c1.read().collect()} == {
        "T1": 10.0, "T2": 2.0, "T3": 3.0, "T4": 4.0
    }
    assert {r.transaction_id: r.price for r in src.read().collect()} == {
        "T1": 1.0, "T2": 2.0, "T3": 3.0
    }
    # ...and source writes never show in the clone
    src.write(rows([("T9", "BTCGBP", 9.0)]), "upsert")
    assert "T9" not in {r.transaction_id for r in c1.read().collect()}
    # the clone registers: its snapshot mixes borrowed absolute paths
    # with its own relative ones
    c1.register("clone_reg_cow")
    try:
        assert (
            spark.sql("SELECT count(*) FROM clone_reg_cow").first()[0]
            == c1.read().count()
        )
    finally:
        c1.unregister("clone_reg_cow")

    # the clone's vacuum reclaims only under its own root
    import pathlib

    src_files_before = sorted(
        p.as_posix() for p in pathlib.Path(src.path).rglob("*.parquet")
    )
    c1.vacuum(keep_last=1, orphan_grace_seconds=0)
    src_files_after = sorted(
        p.as_posix() for p in pathlib.Path(src.path).rglob("*.parquet")
    )
    assert src_files_before == src_files_after
    assert {r.transaction_id for r in c1.read().collect()} == {
        "T1", "T2", "T3", "T4"
    }
    # fresh-path guard
    with pytest.raises(FileExistsError, match="fresh"):
        src.clone(tmp_path / "c1")
    with pytest.raises(FileNotFoundError, match="no manifest 7"):
        src.clone(tmp_path / "c9", version=7)


def test_shallow_clone_mor_and_bloom_config_carry(spark, tmp_path):
    """Clone of a MOR table resolves identically; the committed bloom
    config carries so clone commits keep writing blooms."""
    import datetime

    TS = datetime.datetime(2024, 1, 1, 12, 0, 0)
    SCHEMA = "transaction_id string, close_time timestamp, pair string, price double"

    def rows(items):
        return spark.createDataFrame(
            [(k, TS, p, v) for k, p, v in items], SCHEMA
        )

    src = ManifestTable(
        spark, str(tmp_path / "m"),
        keys=("transaction_id",), precombine="price",
        partition_by=(), table_type="mor",
        bloom_by=("transaction_id",), bloom_bits=2048,
    )
    src.write(rows([("T1", "A", 1.0), ("T2", "B", 2.0)]), "bulk_insert")
    src.write(rows([("T1", "A", 5.0)]), "upsert")   # delta
    src.write(rows([("T2", "B", 0.0)]), "delete")   # tombstone

    c = src.clone(tmp_path / "mc")
    assert {r.transaction_id: r.price for r in c.read().collect()} == {"T1": 5.0}
    c.register("clone_reg_mor")
    try:
        got = spark.sql("SELECT transaction_id, price FROM clone_reg_mor")
        assert {r.transaction_id: r.price for r in got.collect()} == {"T1": 5.0}
    finally:
        c.unregister("clone_reg_mor")
    assert (c.bloom_by, c.bloom_bits) == (["transaction_id"], 2048)
    # clone commit writes blooms under the inherited config
    c.write(rows([("T7", "C", 7.0)]), "upsert")
    doc = c._latest_manifest()[1]
    new_entries = [f for f in doc["files"] if not f["path"].startswith("/")
                   or f["path"].startswith(str(tmp_path / "mc"))]
    assert any(
        f.get("bloom", {}).get("bits") == 2048 for f in new_entries
    )
    assert c.read(point_filter={"transaction_id": "T7"}).count() == 1
    assert c.read(point_filter={"transaction_id": "NOPE"}).count() == 0


def test_shallow_clone_mor_writes_supersede_cloned_deltas(spark, tmp_path):
    """Review regression (r14): cloned MOR delta/tombstone entries keep
    their SOURCE commit ids and the MOR rule resolves purely by that
    field — so the clone's first manifest must take the source's id,
    or a cloned tombstone (commit 2) shadows the clone's own later
    upsert (which would have restarted at commit 1), silently
    swallowing the write."""
    import datetime

    TS = datetime.datetime(2024, 1, 1, 12, 0, 0)
    SCHEMA = "transaction_id string, close_time timestamp, pair string, price double"

    def rows(items):
        return spark.createDataFrame(
            [(k, TS, p, v) for k, p, v in items], SCHEMA
        )

    src = ManifestTable(
        spark, str(tmp_path / "m"),
        keys=("transaction_id",), precombine="price",
        partition_by=(), table_type="mor",
    )
    src.write(rows([("T1", "A", 1.0), ("T2", "B", 2.0)]), "bulk_insert")  # c0
    src.write(rows([("T1", "A", 5.0)]), "upsert")                          # c1
    src.write(rows([("T2", "B", 0.0)]), "delete")                          # c2

    c = src.clone(tmp_path / "mc")
    # resurrect the deleted key on the CLONE: must win over the cloned
    # tombstone (the exact shadowing scenario)
    c.write(rows([("T2", "B", 22.0)]), "upsert")
    # and overwrite the cloned delta's key: exactly ONE version survives
    c.write(rows([("T1", "A", 11.0)]), "upsert")
    got = {r.transaction_id: r.price for r in c.read().collect()}
    assert got == {"T1": 11.0, "T2": 22.0}, got
    # source untouched
    assert {r.transaction_id: r.price for r in src.read().collect()} == {
        "T1": 5.0
    }


def _distinct_touched(df, cols):
    """The touched-partition set as a separate distinct() collect
    computes it — what the pin's observation must equal."""
    from dca_manager_spark.io.manifest import _partition_key

    return {
        tuple(_partition_key(r[c]) for c in cols)
        for r in df.select(*cols).distinct().collect()
    }


@pytest.mark.parametrize(
    "shape", ["null_partition", "empty", "zero_partitions", "local_relation",
              "boolean_and_date"])
def test_pin_observes_rows_and_touched_partitions(spark, shape, count_jobs):
    """One pin job yields the row count and the touched-partition set,
    equal to a count() and a distinct().collect() of the same rows, for
    every frame shape a commit can pin."""
    import pyarrow as pa

    from dca_manager_spark.io.manifest import _pin

    cols = ["pair"]
    if shape == "null_partition":
        frame = make_df(spark, [("T1", TS1, "BTCGBP", 1.0),
                                ("T2", TS1, None, 2.0),
                                ("T3", TS1, "BTCGBP", 3.0)])
    elif shape == "empty":
        frame = make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]).filter("price > 9")
    elif shape == "zero_partitions":
        frame = spark.createDataFrame(
            spark.sparkContext.emptyRDD(), make_df(spark, []).schema)
    elif shape == "local_relation":
        frame = spark.createDataFrame(pa.table({
            "transaction_id": ["T1", "T2"], "pair": ["ETHGBP", None]}))
    else:
        cols = ["flag", "day"]
        frame = spark.createDataFrame(
            [(True, datetime.date(2024, 1, 1)), (False, None),
             (True, datetime.date(2024, 1, 1))], "flag boolean, day date")
    pinned, jobs = count_jobs(lambda: _pin(frame, cols))
    assert jobs <= 1
    assert pinned.rows == frame.count()
    assert pinned.parts == _distinct_touched(frame, cols)
    assert pinned.df.count() == pinned.rows
    assert _pin(frame).parts == frozenset()


def test_rebase_retry_reuses_the_pinned_partition_set(
    spark, table, monkeypatch, count_jobs
):
    """A COW upsert pins its batch once, before the rebase loop: a retry
    after a lost race splits the files by the SAME observed partition
    set, and the split itself runs no Spark job."""
    from dca_manager_spark.io import manifest as M

    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0),
                                ("T2", TS1, "ETHGBP", 2.0)]), "upsert")
    rival = ManifestTable(spark, table.path, keys=table.keys,
                          precombine=table.precombine,
                          partition_by=table.partition_by)
    pins, splits = [], []
    orig_pin, orig_split = M._pin, ManifestTable._split_by_touch
    orig_publish = ManifestTable._publish

    def pin(df, *args):
        pins.append(orig_pin(df, *args))
        return pins[-1]

    def split(self, touched, prev_doc):
        out, jobs = count_jobs(lambda: orig_split(self, touched, prev_doc))
        splits.append((touched, jobs))
        return out

    def raced_once(self, *args, **kw):
        if self is table and table.rebase_count == 0 and len(splits) == 1:
            # the rival's append pins nothing and splits nothing
            rival.write(make_df(spark, [("T9", TS1, "ETHGBP", 9.0)]), "insert")
        return orig_publish(self, *args, **kw)

    monkeypatch.setattr(M, "_pin", pin)
    monkeypatch.setattr(ManifestTable, "_split_by_touch", split)
    monkeypatch.setattr(ManifestTable, "_publish", raced_once)
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 5.0)]), "upsert")
    monkeypatch.undo()
    assert table.rebase_count == 1
    assert len(pins) == 1 and pins[0].parts == {("BTCGBP",)}
    assert [s[0] for s in splits] == [pins[0].parts] * 2
    assert [s[1] for s in splits] == [0, 0]
    rows = {r.transaction_id: r.price for r in table.read().collect()}
    assert rows == {"T1": 5.0, "T2": 2.0, "T9": 9.0}


def test_cow_upsert_emits_no_user_warning(spark, table):
    """The COW commit's pool threads inherit the caller's properties
    and tags through the session, so the commit warns nothing."""
    import warnings

    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "upsert")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        table.write(make_df(spark, [("T1", TS1, "BTCGBP", 2.0),
                                    ("T2", TS1, "ETHGBP", 3.0)]), "upsert")
    assert [str(w.message) for w in caught
            if issubclass(w.category, UserWarning)] == []
    assert {r.transaction_id: r.price for r in table.read().collect()} == {
        "T1": 2.0, "T2": 3.0}


def test_cow_commit_jobs_carry_the_callers_tag(spark, table):
    """Every job of a partitioned COW upsert, the commit's concurrent
    write threads included, runs under the caller's job group and
    carries its ``spark.addTag`` tag, so cancelJobGroup and interruptTag
    reach all of them: each write thread applies its own copy of the
    caller's local properties, which no sibling's execution restores."""
    import uuid

    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0),
                                ("T2", TS1, "ETHGBP", 1.0)]), "upsert")
    sc = spark.sparkContext
    tag, group = f"tag_{uuid.uuid4().hex}", f"group_{uuid.uuid4().hex}"
    spark.addTag(tag)
    sc.setJobGroup(group, "tagged commit")
    try:
        table.write(make_df(spark, [("T1", TS1, "BTCGBP", 2.0),
                                    ("T3", TS1, "XRPGBP", 3.0)]), "upsert")
    finally:
        sc.setJobGroup(None, None)
        spark.removeTag(tag)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    to_java = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    session_tag = spark._jsparkSession.sessionJobTag()
    jobs = sorted(sc.statusTracker().getJobIdsForGroup(group))
    untagged = []
    for j in jobs:
        tags = list(to_java(jsc.statusStore().job(j).jobTags()))
        if session_tag not in tags or not any(
                t.endswith(f"-{tag}") for t in tags):
            untagged.append(j)
    assert jobs and untagged == []


def test_empty_reads_are_local_relations(spark, table, count_jobs):
    """An empty change feed or an emptied table reads as a local
    relation: collecting it runs no Spark job, under the committed
    schema."""
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "upsert")
    head = table.commits()[-1]
    schema = table.read().schema
    for frame in (table.read_incremental(head),
                  table.read_incremental(head, records=True)):
        assert frame.schema == schema
        assert count_jobs(frame.collect) == ([], 0)
    cdc = table.read_cdc(head)
    assert cdc.columns[-2:] == ["_change_type", "_commit"]
    assert count_jobs(cdc.collect) == ([], 0)
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 0.0)]), "delete")
    empty = table.read()
    assert empty.schema == schema
    assert count_jobs(empty.collect) == ([], 0)


def test_empty_read_of_a_type_arrow_cannot_hold(spark, tmp_path):
    """A committed column Arrow cannot carry (a year-month interval,
    which parquet stores) still reads empty under its committed type."""
    t = ManifestTable(spark, str(tmp_path / "ym"), keys=("id",),
                      precombine="id", partition_by=())
    t.write(spark.sql(
        "SELECT 1 AS id, INTERVAL '1-2' YEAR TO MONTH AS span"), "upsert")
    t.write(spark.sql("SELECT 1 AS id"), "delete")
    empty = t.read()
    assert empty.schema["span"].dataType.simpleString() == (
        "interval year to month")
    assert empty.collect() == []
