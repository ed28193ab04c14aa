"""Keyed-write semantics of ManifestTable: the four write operations with
Hudi parity (SURVEY §1.5) — precombine winner, duplicate-preserving
bulk_insert, keyed delete, partition-scoped index, idempotent re-upsert,
compaction, schema evolution and durable catalog registration."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from dca_manager_spark.io.manifest import (
    ManifestTable,
    WriteOperation,
    precombine_dedup,
)

TS1 = datetime.datetime(2024, 1, 1, 12, 0, 0)
TS2 = datetime.datetime(2024, 2, 2, 12, 0, 0)


def make_df(spark, rows):
    return spark.createDataFrame(
        rows, "transaction_id string, close_time timestamp, pair string, price double"
    )


@pytest.fixture
def table(spark, tmp_path):
    return ManifestTable(
        spark,
        str(tmp_path / "transactions"),
        keys=("transaction_id", "close_time"),
        precombine="transaction_id",
        partition_by=("pair",),
    )


def partition_files(table, pair):
    return {
        f["path"]
        for f in table._latest_manifest()[1]["files"]
        if f["partition"] == {"pair": pair}
    }


def test_operation_validation(spark, table):
    with pytest.raises(ValueError, match="write_operation"):
        WriteOperation.parse("replace")
    assert WriteOperation.parse("bulk_insert") is WriteOperation.BULK_INSERT
    # the table refuses an unknown operation like the reference job does
    # (load_transactions.py:48-51)
    with pytest.raises(ValueError, match="write_operation"):
        table.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "replace")


def test_bulk_insert_preserves_duplicates(spark, table):
    """Hudi bulk_insert/insert do NOT combine (SURVEY §7 hard part #2):
    duplicate keys are a legal table state."""
    df = make_df(spark, [("T1", TS1, "BTCGBP", 1.0), ("T1", TS1, "BTCGBP", 2.0)])
    table.write(df, "bulk_insert")
    table.write(df, "insert")
    assert table.read().count() == 4


def test_upsert_precombine_winner(spark, table):
    """Within a batch, same-key rows collapse to one survivor (the
    precombine field is transaction_id itself, load_transactions.py:58)."""
    df = make_df(
        spark,
        [
            ("T1", TS1, "BTCGBP", 1.0),
            ("T1", TS1, "BTCGBP", 9.0),  # same key: one survivor
            ("T2", TS1, "ETHGBP", 5.0),
        ],
    )
    table.write(df, "upsert")
    got = table.read().orderBy("transaction_id").collect()
    assert len(got) == 2
    assert {r.transaction_id for r in got} == {"T1", "T2"}


def test_upsert_updates_existing_and_inserts_new(spark, table):
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "upsert")
    table.write(
        make_df(spark, [("T1", TS1, "BTCGBP", 42.0), ("T3", TS2, "BTCGBP", 7.0)]),
        "upsert",
    )
    got = {r.transaction_id: r.price for r in table.read().collect()}
    assert got == {"T1": 42.0, "T3": 7.0}


def test_upsert_is_idempotent(spark, table):
    df = make_df(spark, [("T1", TS1, "BTCGBP", 1.0), ("T2", TS2, "ETHGBP", 2.0)])
    table.write(df, "upsert")
    table.write(df, "upsert")
    table.write(df, "upsert")
    assert table.read().count() == 2


def test_composite_key_distinguishes_close_time(spark, table):
    """(transaction_id, close_time) is the record key — same txid at a
    different close_time is a DIFFERENT record (ComplexKeyGenerator)."""
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "upsert")
    table.write(make_df(spark, [("T1", TS2, "BTCGBP", 2.0)]), "upsert")
    assert table.read().count() == 2


def test_delete_removes_matched_keys(spark, table):
    table.write(
        make_df(
            spark,
            [("T1", TS1, "BTCGBP", 1.0), ("T2", TS1, "ETHGBP", 2.0), ("T3", TS2, "BTCGBP", 3.0)],
        ),
        "bulk_insert",
    )
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 0.0)]), "delete")
    got = {r.transaction_id for r in table.read().collect()}
    assert got == {"T2", "T3"}


def test_upsert_rewrites_only_touched_partitions(spark, table):
    """COPY_ON_WRITE discipline: an upsert touching only ETHGBP must leave
    the BTCGBP partition's files untouched."""
    table.write(
        make_df(spark, [("T1", TS1, "BTCGBP", 1.0), ("T2", TS1, "ETHGBP", 2.0)]),
        "bulk_insert",
    )
    btc_before = partition_files(table, "BTCGBP")
    eth_before = partition_files(table, "ETHGBP")
    table.write(make_df(spark, [("T2", TS1, "ETHGBP", 99.0)]), "upsert")
    assert partition_files(table, "BTCGBP") == btc_before, "untouched partition was rewritten"
    assert not partition_files(table, "ETHGBP") & eth_before
    got = {r.transaction_id: r.price for r in table.read().collect()}
    assert got == {"T1": 1.0, "T2": 99.0}


def test_precombine_dedup_tiebreak(spark):
    df = spark.createDataFrame(
        [("K", 1, "a"), ("K", 2, "b"), ("K", 2, "c")], "k string, pc int, v string"
    )
    out = precombine_dedup(df, ["k"], "pc", tiebreaks=["v"]).collect()
    assert len(out) == 1 and out[0].v == "c"  # max pc, then max tiebreak


def test_compact_reduces_files(spark, table):
    for i in range(4):  # four appends -> many small files
        table.write(make_df(spark, [(f"T{i}", TS1, "BTCGBP", float(i))]), "bulk_insert")
    before = table.file_count()
    table.compact(target_files_per_partition=1)
    after = table.file_count()
    assert after < before
    assert table.read().count() == 4  # content unchanged


def test_schema_evolution_on_upsert(spark, table):
    """A later batch may carry a NEW column: old rows surface it as null,
    the merge does not fail (Hudi-style schema evolution)."""
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "upsert")
    evolved = spark.createDataFrame(
        [("T2", TS2, "ETHGBP", 2.0, "limit")],
        "transaction_id string, close_time timestamp, pair string, "
        "price double, order_type string",
    )
    table.write(evolved, "upsert")
    got = {r.transaction_id: r.asDict() for r in table.read().collect()}
    assert got["T2"]["order_type"] == "limit"
    assert got["T1"]["order_type"] is None


def test_partition_scoped_index_keeps_moved_key(spark, tmp_path):
    """Hudi-default (partition-scoped index) parity: a key arriving with a
    NEW partition value becomes a second row; the old partition's row
    survives (SURVEY §1.5 / Hudi BLOOM index semantics)."""
    table = ManifestTable(
        spark, str(tmp_path / "t"), keys=("transaction_id",),
        precombine="price", partition_by=("pair",),
    )
    table.write(make_df(spark, [("T1", TS1, "ETHGBP", 1.0)]), "upsert")
    table.write(make_df(spark, [("T1", TS1, "BTCGBP", 2.0)]), "upsert")
    got = sorted((r.pair, r.price) for r in table.read().collect())
    assert got == [("BTCGBP", 2.0), ("ETHGBP", 1.0)]  # both rows live


def test_delete_can_empty_a_partition(spark, table):
    """Deleting every row of a partition must clear it."""
    table.write(
        make_df(spark, [("T1", TS1, "BTCGBP", 1.0), ("T2", TS1, "ETHGBP", 2.0)]),
        "bulk_insert",
    )
    table.write(make_df(spark, [("T2", TS1, "ETHGBP", 0.0)]), "delete")
    assert {r.transaction_id for r in table.read().collect()} == {"T1"}
    assert table.read().filter("pair='ETHGBP'").count() == 0


def test_register_durable_survives_new_session(spark, table):
    """A14 catalog sync: durable registration is visible from a NEW
    session over the same catalog (temp views are not — negative control),
    keeps partition filters pushed into the scans, re-syncs after
    partition-adding writes, and dropping it does not delete data."""
    table.write(
        make_df(spark, [("T1", TS1, "BTCGBP", 1.0), ("T2", TS1, "ETHGBP", 2.0)]),
        "bulk_insert",
    )
    table.register("dca_reg_test.transactions")
    try:
        ns = spark.newSession()
        rows = ns.sql(
            "SELECT pair, count(*) AS n FROM dca_reg_test.transactions "
            "GROUP BY pair ORDER BY pair"
        ).collect()
        assert [(r.pair, r.n) for r in rows] == [("BTCGBP", 1), ("ETHGBP", 1)]

        # The partition filter reaches the scans through the catalog entry.
        plan = ns.sql(
            "SELECT * FROM dca_reg_test.transactions WHERE pair = 'BTCGBP'"
        )._jdf.queryExecution().executedPlan().toString()
        assert "EqualTo(pair,BTCGBP)" in plan

        # Temp-view registration stays session-scoped.
        table.register("reg_temp_view", durable=False)
        assert "reg_temp_view" in [t.name for t in spark.catalog.listTables()]
        assert "reg_temp_view" not in [t.name for t in ns.catalog.listTables()]

        # A partition-adding write through the handle re-syncs the entry.
        table.write(make_df(spark, [("T3", TS1, "SOLGBP", 3.0)]), "upsert")
        assert ns.sql("SELECT count(*) FROM dca_reg_test.transactions").collect()[0][0] == 3
    finally:
        table.unregister("dca_reg_test.transactions")
        table.unregister("reg_temp_view")

    # Dropping the catalog entry must not delete table data.
    assert not spark.catalog.tableExists("dca_reg_test.transactions")
    assert table.read().count() == 3


def test_upsert_pins_nondeterministic_batch(spark, table):
    """The merge path consumes the batch frame several times; a
    NONDETERMINISTIC batch (here: random per-evaluation sampling in a
    mapInPandas) must still merge consistently — the batch is pinned
    (materialized once) before use. Without pinning, the key-set and the
    union would see different samples: rows lost and/or duplicated."""
    base = make_df(spark, [(f"T{i:02d}", TS1, "BTCGBP", float(i)) for i in range(20)])
    table.write(base, "bulk_insert")

    def jitter(batches):
        import numpy as np

        for pdf in batches:
            yield pdf[np.random.rand(len(pdf)) < 0.5]

    nondet = base.mapInPandas(jitter, schema=base.schema).withColumn(
        "price", F.lit(0.0)
    )
    table.write(nondet, "upsert")
    rows = table.read().collect()
    assert len(rows) == 20
    assert {r.transaction_id for r in rows} == {f"T{i:02d}" for i in range(20)}
