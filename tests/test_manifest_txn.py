"""ManifestTable.write_txn: atomic delete+upsert in one commit, on both
table types, with record-exact change capture — the primitive that
collapses the count/sketch stores' two-phase compaction (r13)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from dca_manager_spark.io.manifest import ManifestTable

TS1 = datetime.datetime(2024, 1, 1, 12, 0, 0)
SCHEMA = "transaction_id string, close_time timestamp, pair string, price double"


def make_df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture(params=["cow", "mor"])
def table(request, spark, tmp_path):
    return ManifestTable(
        spark,
        str(tmp_path / "t"),
        keys=("transaction_id", "close_time"),
        precombine="transaction_id",
        partition_by=("pair",),
        table_type=request.param,
    )


def seed(spark, table):
    table.write(
        make_df(
            spark,
            [
                ("T1", TS1, "BTCGBP", 1.0),
                ("T2", TS1, "BTCGBP", 2.0),
                ("T3", TS1, "ETHGBP", 3.0),
            ],
        ),
        "upsert",
    )


def test_txn_is_one_commit_delete_then_upsert(spark, table):
    seed(spark, table)
    before = len(table.commits())
    table.write_txn(
        upserts=make_df(spark, [("T4", TS1, "BTCGBP", 4.0)]),
        deletes=make_df(spark, [("T1", TS1, "BTCGBP", 0.0)]),
    )
    assert len(table.commits()) == before + 1
    rows = {r.transaction_id: r.price for r in table.read().collect()}
    assert rows == {"T2": 2.0, "T3": 3.0, "T4": 4.0}
    assert table.history().orderBy("commit_id").collect()[-1].op == "txn"


def test_txn_overlapping_key_upsert_wins(spark, table):
    seed(spark, table)
    # T2 is deleted AND upserted in the same txn: nets to the upsert row.
    # T3's delete in ETHGBP still applies next to its upsert in BTCGBP:
    # the txn moves T3 between partitions.
    table.write_txn(
        upserts=make_df(
            spark, [("T2", TS1, "BTCGBP", 20.0), ("T3", TS1, "BTCGBP", 30.0)]
        ),
        deletes=make_df(
            spark, [("T2", TS1, "BTCGBP", 0.0), ("T3", TS1, "ETHGBP", 0.0)]
        ),
    )
    rows = {(r.transaction_id, r.pair, r.price) for r in table.read().collect()}
    assert rows == {
        ("T1", "BTCGBP", 1.0), ("T2", "BTCGBP", 20.0), ("T3", "BTCGBP", 30.0)
    }


def test_txn_change_capture_record_exact(spark, table):
    seed(spark, table)
    since = table.commits()[-1]
    table.write_txn(
        upserts=make_df(
            spark, [("T2", TS1, "BTCGBP", 20.0), ("T9", TS1, "BTCGBP", 9.0)]
        ),
        deletes=make_df(spark, [("T1", TS1, "BTCGBP", 0.0)]),
    )
    # Collapsed incremental: the txn's net effect, exactly.
    inc = table.read_incremental(since, records=True)
    got = {r.transaction_id: r.price for r in inc.collect()}
    assert got == {"T2": 20.0, "T9": 9.0}
    # Raw CDC feed carries upserts and the delete in the SAME commit.
    cdc = table.read_cdc(since)
    by_type = {}
    for r in cdc.collect():
        by_type.setdefault(r._change_type, set()).add(r.transaction_id)
    assert by_type["upsert"] == {"T2", "T9"}
    assert "T1" in by_type["delete"]
    assert cdc.select("_commit").distinct().count() == 1
    # A txn that MOVES T3 from ETHGBP to BTCGBP records the old row once,
    # as a delete — never also as the upsert's preimage.
    since = table.commits()[-1]
    table.write_txn(
        upserts=make_df(spark, [("T3", TS1, "BTCGBP", 30.0)]),
        deletes=make_df(spark, [("T3", TS1, "ETHGBP", 0.0)]),
    )
    got = sorted(
        (r._change_type, r.pair, r.price)
        for r in table.read_cdc(since).filter("transaction_id = 'T3'").collect()
    )
    deleted = 0.0 if table.table_type == "mor" else 3.0  # tombstone vs row
    assert got == [("delete", "ETHGBP", deleted), ("upsert", "BTCGBP", 30.0)]


def test_txn_degenerate_halves_delegate(spark, table):
    seed(spark, table)
    table.write_txn(upserts=make_df(spark, [("T4", TS1, "BTCGBP", 4.0)]))
    table.write_txn(deletes=make_df(spark, [("T3", TS1, "ETHGBP", 0.0)]))
    table.write_txn()  # no-op
    rows = {r.transaction_id: r.price for r in table.read().collect()}
    assert rows == {"T1": 1.0, "T2": 2.0, "T4": 4.0}


def test_txn_absent_delete_key_is_noop(spark, table):
    seed(spark, table)
    table.write_txn(
        upserts=make_df(spark, [("T4", TS1, "ETHGBP", 4.0)]),
        deletes=make_df(spark, [("ZZ", TS1, "BTCGBP", 0.0)]),
    )
    assert table.read().count() == 4
    # COW change capture must NOT report the phantom key as removed.
    if table.table_type == "cow":
        cdc = table.read_cdc(table.commits()[-2])
        assert cdc.filter(F.col("_change_type") == "delete").count() == 0


def test_txn_on_empty_table(spark, table):
    table.write_txn(
        upserts=make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]),
        deletes=make_df(spark, [("T1", TS1, "BTCGBP", 0.0)]),
    )
    # Upsert-wins even when the delete can't match anything yet.
    rows = {r.transaction_id: r.price for r in table.read().collect()}
    assert rows == {"T1": 1.0}


def test_txn_time_travel_sees_pre_txn_state(spark, table):
    seed(spark, table)
    v = table.commits()[-1]
    table.write_txn(
        upserts=make_df(spark, [("T9", TS1, "BTCGBP", 9.0)]),
        deletes=make_df(spark, [("T1", TS1, "BTCGBP", 0.0)]),
    )
    old = {r.transaction_id for r in table.read(as_of=v).collect()}
    assert old == {"T1", "T2", "T3"}


# -- predicate DML sugar (r13): delete_where / update_where ----------------


def test_delete_where(spark, table):
    seed(spark, table)
    n = table.delete_where("price < 2.5")  # T1 (1.0), T2 (2.0)
    assert n == 2
    rows = {r.transaction_id for r in table.read().collect()}
    assert rows == {"T3"}
    assert table.delete_where("price > 100") == 0  # no match, no commit


def test_update_where(spark, table):
    seed(spark, table)
    since = table.commits()[-1]
    n = table.update_where("pair = 'BTCGBP'", {"price": "price * 10"})
    assert n == 2
    rows = {r.transaction_id: r.price for r in table.read().collect()}
    assert rows == {"T1": 10.0, "T2": 20.0, "T3": 3.0}
    # CDC sees the update as preimage + new version (COW only records
    # preimages; MOR documents their absence)
    if table.table_type == "cow":
        cdc = table.read_cdc(since)
        pre = {r.transaction_id: r.price for r in cdc.collect()
               if r._change_type == "update_preimage"}
        assert pre == {"T1": 1.0, "T2": 2.0}


def test_update_where_rejects_key_assignment(spark, table):
    seed(spark, table)
    with pytest.raises(ValueError, match="key/partition"):
        table.update_where("price > 0", {"pair": "'X'"})
    with pytest.raises(ValueError, match="key/partition"):
        table.update_where("price > 0", {"transaction_id": "'Z'"})
