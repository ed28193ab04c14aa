"""ManifestTable SQL-catalog surface: register()/unregister() — the
hive-sync analogue (reference: glue/scripts/load_transactions.py:73-79
syncs the Hudi table into Glue so Athena queries it by name;
README.md:203-204 "Query Glue Tables"). The registered view must encode
the RESOLVED snapshot: MOR latest-per-key merge, schema-evolved
null-fills, tombstones gone — a plain external-parquet registration over
the directory would resurrect superseded rows and read uncommitted
files."""

from __future__ import annotations

import datetime
import uuid

import pytest
from pyspark.sql import functions as F

from dca_manager_spark.io.manifest import ManifestTable

TS1 = datetime.datetime(2024, 1, 1, 12, 0, 0)
TS2 = datetime.datetime(2024, 2, 1, 12, 0, 0)


def make_df(spark, rows):
    return spark.createDataFrame(
        rows, "transaction_id string, close_time timestamp, pair string, price double"
    )


def view_props(spark, name):
    return {
        r.key: r.value
        for r in spark.sql(f"SHOW TBLPROPERTIES {name}").collect()
    }


def snapshot_tables(spark, name):
    return [
        r.tableName
        for r in spark.sql(f"SHOW TABLES LIKE '{name}__snap_*'").collect()
    ]


def sql_rows(spark, name):
    return {
        (r.transaction_id, r.pair, r.price)
        for r in spark.sql(
            f"SELECT transaction_id, pair, price FROM {name}"
        ).collect()
    }


@pytest.fixture
def cow(spark, tmp_path):
    return ManifestTable(
        spark,
        str(tmp_path / "cow"),
        keys=("transaction_id", "close_time"),
        precombine="price",
        partition_by=("pair",),
    )


@pytest.fixture
def mor(spark, tmp_path):
    return ManifestTable(
        spark,
        str(tmp_path / "mor"),
        keys=("transaction_id", "close_time"),
        precombine="price",
        partition_by=("pair",),
        table_type="mor",
    )


def test_register_durable_matches_read(spark, cow):
    cow.write(
        make_df(spark, [("T1", TS1, "BTCGBP", 1.0), ("T2", TS1, "ETHGBP", 5.0)]),
        "bulk_insert",
    )
    cow.register("mt_cow_basic")
    try:
        assert sql_rows(spark, "mt_cow_basic") == {
            ("T1", "BTCGBP", 1.0),
            ("T2", "ETHGBP", 5.0),
        }
    finally:
        cow.unregister("mt_cow_basic")


def test_refresh_on_commit_upsert_delete_visible(spark, cow):
    cow.write(
        make_df(spark, [("T1", TS1, "BTCGBP", 1.0), ("T2", TS1, "ETHGBP", 5.0)]),
        "bulk_insert",
    )
    cow.register("mt_cow_sync")
    try:
        # upsert through the SAME handle refreshes the view (sync-on-write)
        cow.write(make_df(spark, [("T1", TS1, "BTCGBP", 9.0)]), "upsert")
        assert sql_rows(spark, "mt_cow_sync") == {
            ("T1", "BTCGBP", 9.0),
            ("T2", "ETHGBP", 5.0),
        }
        cow.write(make_df(spark, [("T2", TS1, "ETHGBP", 5.0)]), "delete")
        assert sql_rows(spark, "mt_cow_sync") == {("T1", "BTCGBP", 9.0)}
    finally:
        cow.unregister("mt_cow_sync")


def test_mor_view_resolves_and_drops_tombstones(spark, mor):
    mor.write(
        make_df(spark, [("T1", TS1, "BTCGBP", 1.0), ("T2", TS1, "ETHGBP", 5.0)]),
        "bulk_insert",
    )
    mor.write(make_df(spark, [("T1", TS1, "BTCGBP", 9.0)]), "upsert")
    mor.write(make_df(spark, [("T2", TS1, "ETHGBP", 5.0)]), "delete")
    mor.register("mt_mor_resolved")
    try:
        # superseded base row for T1 hidden, T2 tombstoned away — the
        # plain-parquet failure mode this surface exists to avoid
        assert sql_rows(spark, "mt_mor_resolved") == {("T1", "BTCGBP", 9.0)}
        # view result == Python read path, row for row
        via_read = {
            (r.transaction_id, r.pair, r.price)
            for r in mor.read().select(
                "transaction_id", "pair", "price"
            ).collect()
        }
        assert sql_rows(spark, "mt_mor_resolved") == via_read
    finally:
        mor.unregister("mt_mor_resolved")


def test_schema_evolution_null_fills_in_view(spark, cow):
    cow.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "bulk_insert")
    evolved = make_df(spark, [("T2", TS2, "ETHGBP", 5.0)]).withColumn(
        "venue", F.lit("kraken")
    )
    cow.write(evolved, "insert")
    cow.register("mt_cow_evolved")
    try:
        rows = {
            (r.transaction_id, r.venue)
            for r in spark.sql(
                "SELECT transaction_id, venue FROM mt_cow_evolved"
            ).collect()
        }
        # T1's file predates `venue`: the snapshot table's declared
        # schema null-fills it (parquet.`path` alone would fail to
        # resolve it)
        assert rows == {("T1", None), ("T2", "kraken")}
    finally:
        cow.unregister("mt_cow_evolved")


def test_cross_session_visibility(spark, cow):
    cow.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "bulk_insert")
    cow.register("mt_cow_xsession")
    try:
        ns = spark.newSession()
        got = ns.sql(
            "SELECT transaction_id, price FROM mt_cow_xsession"
        ).collect()
        assert [(r.transaction_id, r.price) for r in got] == [("T1", 1.0)]
        # ns now holds a cached relation for the snapshot it read; a
        # commit through the handle must still reach ns's next read
        cow.write(make_df(spark, [("T2", TS1, "ETHGBP", 12.0)]), "insert")
        got = ns.sql(
            "SELECT transaction_id, price FROM mt_cow_xsession"
        ).collect()
        assert sorted((r.transaction_id, r.price) for r in got) == [
            ("T1", 1.0), ("T2", 12.0),
        ]
        # a temp view must NOT cross sessions (contrast case)
        cow.register("mt_cow_temp", durable=False)
        from pyspark.errors.exceptions.captured import AnalysisException

        with pytest.raises(AnalysisException):
            ns.sql("SELECT * FROM mt_cow_temp").collect()
    finally:
        cow.unregister("mt_cow_xsession")
        cow.unregister("mt_cow_temp")


def test_as_of_pinned_snapshot_does_not_refresh(spark, cow):
    cow.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "bulk_insert")
    cow.write(make_df(spark, [("T1", TS1, "BTCGBP", 9.0)]), "upsert")
    cow.register("mt_cow_v0", as_of=0)
    cow.register("mt_cow_live")
    try:
        assert sql_rows(spark, "mt_cow_v0") == {("T1", "BTCGBP", 1.0)}
        cow.write(make_df(spark, [("T2", TS1, "ETHGBP", 5.0)]), "insert")
        # live view refreshed, pinned view untouched
        assert sql_rows(spark, "mt_cow_live") == {
            ("T1", "BTCGBP", 9.0),
            ("T2", "ETHGBP", 5.0),
        }
        assert sql_rows(spark, "mt_cow_v0") == {("T1", "BTCGBP", 1.0)}
    finally:
        cow.unregister("mt_cow_v0")
        cow.unregister("mt_cow_live")


def test_sync_prunes_snapshot_tables_and_never_goes_back(spark, cow):
    """Each sync creates a snapshot table and drops the one the view
    named two syncs ago; a late sync of an older manifest leaves the
    view alone, while an explicit pinned registration may go back;
    unregister drops every snapshot table."""
    cow.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "bulk_insert")
    cow.register("mt_snaps")
    try:
        for i in range(3):
            cow.write(make_df(spark, [(f"T{i + 2}", TS1, "ETHGBP", 2.0)]), "insert")
        props = view_props(spark, "mt_snaps")
        assert sorted(snapshot_tables(spark, "mt_snaps")) == sorted(
            [props["dca.snapshot"].lower(), props["dca.previous"].lower()]
        )
        cow._register_once("mt_snaps", durable=True, doc=cow._load_manifest(1))
        assert view_props(spark, "mt_snaps") == props
        assert len(sql_rows(spark, "mt_snaps")) == 4
        cow.register("mt_snaps", as_of=1)
        assert len(sql_rows(spark, "mt_snaps")) == 2
    finally:
        cow.unregister("mt_snaps")
    assert snapshot_tables(spark, "mt_snaps") == []


def test_view_survives_compaction_and_vacuum(spark, mor):
    mor.write(
        make_df(spark, [("T1", TS1, "BTCGBP", 1.0), ("T2", TS1, "ETHGBP", 5.0)]),
        "bulk_insert",
    )
    mor.write(make_df(spark, [("T1", TS1, "BTCGBP", 9.0)]), "upsert")
    mor.register("mt_mor_maint")
    try:
        expected = {("T1", "BTCGBP", 9.0), ("T2", "ETHGBP", 5.0)}
        assert sql_rows(spark, "mt_mor_maint") == expected
        mor.compact()  # publishes -> auto-refresh onto compacted files
        assert sql_rows(spark, "mt_mor_maint") == expected
        mor.vacuum(keep_last=1, orphan_grace_seconds=0.0)
        # vacuum keeps every latest-snapshot file; the refreshed view
        # references exactly those
        assert sql_rows(spark, "mt_mor_maint") == expected
    finally:
        mor.unregister("mt_mor_maint")


def test_empty_table_view_is_typed_empty(spark, cow):
    cow.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "bulk_insert")
    cow.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "delete")
    cow.register("mt_cow_empty")
    try:
        out = spark.sql("SELECT * FROM mt_cow_empty")
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == [
            "transaction_id", "close_time", "pair", "price",
        ]
        assert out.schema["price"].dataType.simpleString() == "double"
    finally:
        cow.unregister("mt_cow_empty")


def test_snapshot_table_globs_batch_files(spark, cow):
    # three commits -> >=3 files, named by ONE brace-glob location
    for i, op in enumerate(["bulk_insert", "insert", "insert"]):
        cow.write(make_df(spark, [(f"T{i}", TS1, "BTCGBP", float(i))]), op)
    cow.register("mt_glob")
    try:
        snap = view_props(spark, "mt_glob")["dca.snapshot"]
        loc = (
            spark.sql(f"DESCRIBE TABLE EXTENDED {snap}")
            .filter("col_name = 'Location'").first().data_type
        )
        assert "{" in loc
        got = spark.sql("SELECT * FROM mt_glob")
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan") == 1  # batched, not one scan per file
        assert got.count() == 3
    finally:
        cow.unregister("mt_glob")


def test_mor_meta_column_clash_is_loud(spark, tmp_path):
    t = ManifestTable(
        spark,
        str(tmp_path / "clash"),
        keys=("k",),
        precombine="k",
        partition_by=(),
        table_type="mor",
    )
    t.write(spark.createDataFrame([(1, 2)], "k int, _sup int"), "upsert")
    with pytest.raises(ValueError, match="_sup"):
        t.register("mt_clash")
    # refused before any catalog entry was made
    assert not spark.catalog.tableExists("mt_clash")
    assert snapshot_tables(spark, "mt_clash") == []
    # read() resolves with the same columns: it refuses too, rather than
    # overwriting the data column
    with pytest.raises(ValueError, match="_sup"):
        t.read()
    t2 = ManifestTable(spark, str(tmp_path / "clash2"), keys=("k",),
                       precombine="k", partition_by=(), table_type="mor")
    t2.write(spark.createDataFrame([(1, 2)], "k int, _commit int"), "upsert")
    with pytest.raises(ValueError, match="_commit"):
        t2.read()


def test_view_plan_pushdown_and_pruning(spark, cow):
    """The registered view must be TRANSPARENT to Catalyst: a predicate
    over the view reaches the parquet scan (PushedFilters), the scan
    reads only referenced columns (ReadSchema pruning), and a same-
    schema COW snapshot collapses into ONE multi-file scan (the
    brace-glob group), not one scan per file."""
    for i in range(3):
        cow.write(
            make_df(spark, [(f"T{i}", TS1, "BTCGBP", float(i))]),
            "bulk_insert" if i == 0 else "insert",
        )
    cow.register("mt_plan")
    try:
        plan = (
            spark.sql(
                "SELECT transaction_id, price FROM mt_plan WHERE price > 1.0"
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("FileScan") == 1  # one glob scan, not per-file
        assert "PushedFilters: [IsNotNull(price), GreaterThan(price,1.0)" in plan
        scan_line = next(l for l in plan.splitlines() if "FileScan" in l)
        assert "close_time" not in scan_line and "pair" not in scan_line
    finally:
        cow.unregister("mt_plan")


def test_mor_view_plan_keeps_window_and_pushes_partition_filter(spark, mor):
    """MOR views resolve latest-per-key via a window; a filter on a
    window PARTITION column (here the table's partition col) still
    pushes below it into the scans — the pruning a partition-targeted
    query needs at scale."""
    mor.write(
        make_df(spark, [("T1", TS1, "BTCGBP", 1.0), ("T2", TS1, "ETHGBP", 2.0)]),
        "bulk_insert",
    )
    mor.write(make_df(spark, [("T1", TS1, "BTCGBP", 9.0)]), "upsert")
    mor.register("mt_mor_plan")
    try:
        plan = (
            spark.sql("SELECT price FROM mt_mor_plan WHERE pair = 'BTCGBP'")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Window" in plan  # resolution survives into the plan
        assert "EqualTo(pair,BTCGBP)" in plan  # pushed into the scans
    finally:
        mor.unregister("mt_mor_plan")


def test_register_replaces_prior_entry_of_either_kind(spark, cow, tmp_path):
    """Hive-sync owns the name whatever the prior entity kind: a catalog
    TABLE left under the name (an external parquet table from an earlier
    deployment) is replaced by the resolved VIEW, and re-registering
    after the name went back to a TABLE replaces it again."""
    legacy = tmp_path / "legacy"
    make_df(spark, [("M1", TS1, "BTCGBP", 7.0)]).write.parquet(str(legacy))

    def create_legacy_table():
        spark.sql("DROP VIEW IF EXISTS mt_kind_swap")
        spark.sql(
            f"CREATE TABLE mt_kind_swap USING PARQUET LOCATION '{legacy}'"
        )
        assert sql_rows(spark, "mt_kind_swap") == {("M1", "BTCGBP", 7.0)}

    create_legacy_table()
    cow.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "bulk_insert")
    try:
        cow.register("mt_kind_swap")  # TABLE -> VIEW
        assert sql_rows(spark, "mt_kind_swap") == {("T1", "BTCGBP", 1.0)}
        create_legacy_table()          # VIEW -> TABLE
        cow.register("mt_kind_swap")  # and back
        assert sql_rows(spark, "mt_kind_swap") == {("T1", "BTCGBP", 1.0)}
    finally:
        cow.unregister("mt_kind_swap")
        spark.sql("DROP TABLE IF EXISTS mt_kind_swap")


@pytest.mark.slow
def test_register_durable_cross_process(tmp_path):
    """The reference's hive-sync contract end-to-end: one process writes
    the table, registers `dca_manager.transactions` and commits twice
    more; a brand-new SparkSession in a SEPARATE process (hive metastore
    in the same cwd) queries the registered view by name and sees the
    last commit (glue/scripts/load_transactions.py:73-79). The metastore
    creates nothing under the table root, and each sync drops the
    snapshot table two syncs old."""
    import os
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": repo}
    hive = '.config("spark.sql.catalogImplementation", "hive")'
    writer = textwrap.dedent(
        f"""
        from pyspark.sql import SparkSession
        from dca_manager_spark.io.manifest import ManifestTable
        spark = (SparkSession.builder.master("local[2]").appName("w"){hive}
                 .config("spark.ui.enabled", "false").getOrCreate())
        df = spark.createDataFrame(
            [("T1", "BTCGBP", 1.0), ("T2", "ETHGBP", 2.0)],
            "transaction_id string, pair string, price double")
        t = ManifestTable(spark, "{tmp_path}/tbl", keys=("transaction_id",),
                          precombine="transaction_id", partition_by=("pair",))
        t.write(df, "upsert")
        t.register("dca_manager.transactions")
        t.write(spark.createDataFrame(
            [("T3", "BTCGBP", 3.0)], df.schema), "upsert")
        t.write(spark.createDataFrame(
            [("T1", "BTCGBP", 7.0)], df.schema), "upsert")
        spark.stop()
        """
    )
    reader = textwrap.dedent(
        f"""
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[2]").appName("r"){hive}
                 .config("spark.ui.enabled", "false").getOrCreate())
        n = spark.sql("SELECT count(*) FROM dca_manager.transactions").collect()[0][0]
        print("CATALOG_ROWS=" + str(n))
        p = spark.sql("SELECT price FROM dca_manager.transactions "
                      "WHERE transaction_id = 'T1'").collect()[0][0]
        print("T1_PRICE=" + str(p))
        snaps = spark.sql("SHOW TABLES IN dca_manager "
                          "LIKE 'transactions__snap_*'").collect()
        print("SNAPSHOT_TABLES=" + str(len(snaps)))
        spark.stop()
        """
    )
    subprocess.run(
        [sys.executable, "-c", writer], cwd=tmp_path, env=env, check=True, timeout=300
    )
    out = subprocess.run(
        [sys.executable, "-c", reader], cwd=tmp_path, env=env, check=True,
        timeout=300, capture_output=True, text=True,
    )
    assert "CATALOG_ROWS=3" in out.stdout
    assert "T1_PRICE=7.0" in out.stdout
    n_snaps = int(out.stdout.split("SNAPSHOT_TABLES=")[1].split()[0])
    assert 1 <= n_snaps <= 2
    assert sorted(os.listdir(tmp_path / "tbl")) == ["_changes", "_manifests", "data"]


def test_register_rejects_glob_metachar_root(spark, tmp_path):
    """ADVICE r15: the table ROOT is embedded unescaped in the snapshot
    table's glob location; glob metacharacters in it would silently
    corrupt all scans, so register must refuse such roots loudly."""
    import pytest

    from dca_manager_spark.io.manifest import ManifestTable

    root = tmp_path / "odd{dir}[1]"
    root.mkdir()
    t = ManifestTable(
        spark, str(root), keys=("transaction_id",), precombine="price",
        partition_by=())
    with pytest.raises(ValueError, match="glob metacharacters"):
        t.register("odd_root_view")


def test_register_rejects_unsafe_data_path(spark, tmp_path):
    """A data file outside the glob-safe alphabet — here one a shallow
    clone borrows from a source whose root holds a space — cannot be
    named in the snapshot location: register refuses, naming the path,
    and leaves no catalog entry behind."""
    src = ManifestTable(
        spark, str(tmp_path / "src dir"), keys=("transaction_id",),
        precombine="price", partition_by=())
    src.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "bulk_insert")
    cl = src.clone(str(tmp_path / "cl"))
    with pytest.raises(ValueError, match="src dir"):
        cl.register("mt_odd_path")
    assert not spark.catalog.tableExists("mt_odd_path")
    assert snapshot_tables(spark, "mt_odd_path") == []


@pytest.mark.parametrize("kind", ["cow", "mor"])
def test_registered_name_analysis_runs_no_job(spark, request, kind, count_jobs):
    """The snapshot table declares its schema, so analysing a query on a
    registered name infers nothing from parquet footers: no Spark job
    runs until an action."""
    t = request.getfixturevalue(kind)
    t.write(
        make_df(spark, [("T1", TS1, "BTCGBP", 1.0), ("T2", TS1, "ETHGBP", 5.0)]),
        "bulk_insert",
    )
    t.write(make_df(spark, [("T1", TS1, "BTCGBP", 9.0)]), "upsert")
    name = f"mt_nojob_{kind}"
    t.register(name)
    try:
        df, jobs = count_jobs(lambda: spark.sql(
            f"SELECT price FROM {name} WHERE transaction_id = 'T1'"))
        assert jobs == 0
    finally:
        t.unregister(name)
    assert [r.price for r in df.collect()] == [9.0]


# -- SQL DML over registered names (manifest_sql, VERDICT r15 #4) ---------


@pytest.fixture
def dml(spark, tmp_path):
    from dca_manager_spark.io.manifest import ManifestTable

    t = ManifestTable(
        spark, str(tmp_path / "t"), keys=("id",), precombine="v",
        partition_by=())
    t.write(spark.createDataFrame(
        [(1, 1.0, "a"), (2, 2.0, "b")], "id int, v double, s string"),
        "bulk_insert")
    t.register("dml_t")
    yield t
    t.unregister("dml_t")
    spark.sql("DROP VIEW IF EXISTS dml_t")


def test_manifest_sql_insert_values_and_select(spark, dml):
    """INSERT INTO a registered name lands as a transactional append and
    is immediately visible through the registered view (sync-on-write) —
    the Athena-ETL write-by-name parity (glue/scripts/
    load_transactions.py:117-122 writes the path, syncs the name)."""
    from dca_manager_spark.io.manifest import manifest_sql

    r = manifest_sql(spark, "INSERT INTO dml_t VALUES (3, 3.0, 'c')")
    assert r.collect()[0].num_affected_rows == 1
    r = manifest_sql(
        spark, "INSERT INTO dml_t SELECT 10 + id, v * 10, upper(s) "
               "FROM dml_t WHERE id <= 2")
    assert r.collect()[0].num_affected_rows == 2
    got = sorted((x.id, x.v, x.s)
                 for x in spark.sql("SELECT * FROM dml_t").collect())
    assert got == [(1, 1.0, "a"), (2, 2.0, "b"), (3, 3.0, "c"),
                   (11, 10.0, "A"), (12, 20.0, "B")]
    # values are CAST to the table's types (INSERT semantics)
    assert dml.read().schema["v"].dataType.simpleString() == "double"


def test_manifest_sql_insert_column_list_null_fills(spark, dml):
    from dca_manager_spark.io.manifest import manifest_sql

    manifest_sql(spark, "INSERT INTO dml_t (s, id) VALUES ('e', 5)")
    row = spark.sql("SELECT * FROM dml_t WHERE id = 5").collect()[0]
    assert (row.id, row.v, row.s) == (5, None, "e")
    with pytest.raises(ValueError, match="not in table schema"):
        manifest_sql(spark, "INSERT INTO dml_t (nope) VALUES (1)")
    with pytest.raises(ValueError, match="by position needs"):
        manifest_sql(spark, "INSERT INTO dml_t VALUES (9)")


def test_manifest_sql_update_delete_merge(spark, dml):
    from dca_manager_spark.io.manifest import manifest_sql

    assert manifest_sql(
        spark, "UPDATE dml_t SET v = v * 100 WHERE id = 1"
    ).collect()[0].num_affected_rows == 1
    assert manifest_sql(
        spark, "DELETE FROM dml_t WHERE id = 2"
    ).collect()[0].num_affected_rows == 1
    spark.createDataFrame(
        [(1, 7.0, "a1"), (6, 6.0, "f")], "id int, v double, s string"
    ).createOrReplaceTempView("merge_src")
    manifest_sql(
        spark,
        "MERGE INTO dml_t AS t USING merge_src AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *")
    got = sorted((x.id, x.v, x.s)
                 for x in spark.sql("SELECT * FROM dml_t").collect())
    assert got == [(1, 7.0, "a1"), (6, 6.0, "f")]
    # CDC captured the SQL-driven changes like any handle write
    assert dml.read_incremental(0).count() > 0


def test_manifest_sql_is_loud_on_bad_dml(spark, dml):
    from dca_manager_spark.io.manifest import manifest_sql

    with pytest.raises(ValueError, match="not a registered ManifestTable"):
        manifest_sql(spark, "INSERT INTO nowhere VALUES (1)")
    # MERGE cannot SET a record key (an update is a same-key upsert)
    spark.createDataFrame(
        [(1, 1.0, "x")], "id int, v double, s string"
    ).createOrReplaceTempView("msrc")
    with pytest.raises(ValueError, match="record key"):
        manifest_sql(
            spark,
            "MERGE INTO dml_t t USING msrc s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET id = s.id + 100")
    with pytest.raises(ValueError, match="INSERT must supply"):
        manifest_sql(
            spark,
            "MERGE INTO dml_t t USING msrc s ON t.id = s.id "
            "WHEN NOT MATCHED THEN INSERT (v) VALUES (s.v)")
    with pytest.raises(ValueError, match="at least one WHEN"):
        manifest_sql(
            spark, "MERGE INTO dml_t t USING msrc s ON t.id = s.id")
    # non-DML text passes through untouched
    assert manifest_sql(spark, "SELECT 1 AS one").collect()[0].one == 1


def test_manifest_sql_insert_conflicts_with_handle_writer(spark, dml, tmp_path):
    """VERDICT r15 #4's conflict case: a SQL INSERT racing a concurrent
    HANDLE writer — the OCC rebase loop absorbs the lost race and both
    commits land (no lost update, serialized history)."""
    from dca_manager_spark.io.manifest import ManifestTable, manifest_sql

    other = ManifestTable(
        spark, str(tmp_path / "t"), keys=("id",), precombine="v",
        partition_by=())

    # interleave: the handle writer publishes BETWEEN the SQL front-end's
    # batch pin and its publish attempt, forcing a rebase
    real_publish = type(dml)._publish
    hits = {"n": 0}

    def racing_publish(self, prev_id, *a, **k):
        if hits["n"] == 0 and self is dml:
            hits["n"] = 1
            other.write(
                spark.createDataFrame([(50, 50.0, "race")],
                                      "id int, v double, s string"),
                "insert")
            # dml's first attempt now targets a stale prev_id -> rebase
        return real_publish(self, prev_id, *a, **k)

    type(dml)._publish = racing_publish
    try:
        manifest_sql(spark, "INSERT INTO dml_t VALUES (60, 60.0, 'sql')")
    finally:
        type(dml)._publish = real_publish
    ids = {r.id for r in dml.read().collect()}
    assert {50, 60} <= ids, "both the racing handle write and the SQL insert must land"
    assert dml.rebase_count >= 1 or hits["n"] == 1


def test_manifest_sql_insert_overwrite(spark, dml):
    """INSERT OVERWRITE replaces the whole table content in ONE commit
    with real delete capture — CDC consumers see the overwrite as
    ordinary deletes + inserts, and time travel still reads the old
    content."""
    from dca_manager_spark.io.manifest import manifest_sql

    v0 = dml.commits()[-1]
    r = manifest_sql(
        spark, "INSERT OVERWRITE dml_t VALUES (10, 10.0, 'x'), (11, 11.0, 'y')")
    assert r.collect()[0].num_affected_rows == 2
    got = sorted((x.id, x.s) for x in spark.sql("SELECT * FROM dml_t").collect())
    assert got == [(10, "x"), (11, "y")]
    assert len(dml.commits()) == dml.commits()[-1] + 1  # one commit added
    # old snapshot intact (never a directory swap)
    assert {r.id for r in dml.read(as_of=v0).collect()} == {1, 2}
    # the overwrite's change capture records the removals
    ch = dml._load_manifest(dml.commits()[-1])["changes"]
    assert ch["deletes"] and ch["upserts"]


def test_manifest_sql_merge_conditional_clauses(spark, dml):
    """Full Delta-parity MERGE: conditional WHEN MATCHED UPDATE with
    explicit assignments, a second WHEN MATCHED DELETE clause, and a
    conditional WHEN NOT MATCHED INSERT (cols) VALUES — first applicable
    clause wins per row, everything lands as ONE commit."""
    from dca_manager_spark.io.manifest import manifest_sql

    # dml_t = {(1,1.0,a),(2,2.0,b)}
    spark.createDataFrame(
        [(1, 100.0, "upd"), (2, -1.0, "kill"),
         (7, 7.0, "new"), (8, -8.0, "skip")],
        "id int, nv double, tag string",
    ).createOrReplaceTempView("cond_src")
    before = len(dml.commits())
    r = manifest_sql(spark, """
        MERGE INTO dml_t AS t USING cond_src AS s ON t.id = s.id
        WHEN MATCHED AND s.nv < 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = s.nv, s = concat(t.s, '+', s.tag)
        WHEN NOT MATCHED AND s.nv > 0 THEN INSERT (id, v, s)
            VALUES (s.id, s.nv, s.tag)
    """)
    # 1 update + 1 delete + 1 insert (id=8 fails the insert condition)
    assert r.collect()[0].num_affected_rows == 3
    got = sorted((x.id, x.v, x.s)
                 for x in spark.sql("SELECT * FROM dml_t").collect())
    assert got == [(1, 100.0, "a+upd"), (7, 7.0, "new")]
    assert len(dml.commits()) == before + 1, "one atomic commit"


def test_manifest_sql_merge_not_matched_by_source(spark, dml):
    """WHEN NOT MATCHED BY SOURCE — the replicate-table MERGE: target
    rows absent from the source are deleted (or updated), making MERGE a
    full sync primitive."""
    from dca_manager_spark.io.manifest import manifest_sql

    spark.createDataFrame(
        [(2, 22.0, "b2"), (9, 9.0, "i")], "id int, v double, s string"
    ).createOrReplaceTempView("sync_src")
    r = manifest_sql(spark, """
        MERGE INTO dml_t t USING sync_src s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE THEN DELETE
    """)
    assert r.collect()[0].num_affected_rows == 3  # upd 2, ins 9, del 1
    got = sorted((x.id, x.v, x.s)
                 for x in spark.sql("SELECT * FROM dml_t").collect())
    assert got == [(2, 22.0, "b2"), (9, 9.0, "i")]


def test_manifest_sql_merge_not_matched_by_source_update(spark, dml):
    from dca_manager_spark.io.manifest import manifest_sql

    spark.createDataFrame([(1,)], "id int").createOrReplaceTempView(
        "mark_src")
    r = manifest_sql(spark, """
        MERGE INTO dml_t t USING mark_src s ON t.id = s.id
        WHEN NOT MATCHED BY SOURCE AND t.v < 10 THEN
            UPDATE SET s = 'orphan'
    """)
    assert r.collect()[0].num_affected_rows == 1
    got = sorted((x.id, x.s)
                 for x in spark.sql("SELECT * FROM dml_t").collect())
    assert got == [(1, "a"), (2, "orphan")]


def test_manifest_sql_merge_multi_match_raises(spark, dml):
    """A target row matched by multiple actionable source rows is
    nondeterministic — raised loudly (Delta's multipleSourceRowMatching
    error), and the table is untouched."""
    from dca_manager_spark.io.manifest import manifest_sql

    spark.createDataFrame(
        [(1, 10.0, "x"), (1, 11.0, "y")], "id int, v double, s string"
    ).createOrReplaceTempView("dup_src")
    before = len(dml.commits())
    with pytest.raises(ValueError, match="MULTIPLE source rows"):
        manifest_sql(spark, """
            MERGE INTO dml_t t USING dup_src s ON t.id = s.id
            WHEN MATCHED THEN UPDATE SET *
        """)
    assert len(dml.commits()) == before, "failed MERGE committed nothing"


def test_manifest_sql_merge_non_key_on_and_case_when(spark, dml):
    """The general executor takes ANY ON condition (not just key
    equality) and clause conditions containing CASE WHEN — the clause
    splitter must not break on a nested WHEN keyword. Star updates keep
    the TARGET's key (an update is a same-key upsert)."""
    from dca_manager_spark.io.manifest import manifest_sql

    spark.createDataFrame(
        [("a", 500.0), ("zz", 1.0)], "tag string, bonus double"
    ).createOrReplaceTempView("tag_src")
    r = manifest_sql(spark, """
        MERGE INTO dml_t t USING tag_src s ON t.s = s.tag
        WHEN MATCHED AND (CASE WHEN s.bonus > 100 THEN true
                          ELSE false END) THEN
            UPDATE SET v = t.v + s.bonus
    """)
    assert r.collect()[0].num_affected_rows == 1
    got = sorted((x.id, x.v, x.s)
                 for x in spark.sql("SELECT * FROM dml_t").collect())
    assert got == [(1, 501.0, "a"), (2, 2.0, "b")]


def test_manifest_sql_merge_subquery_source_and_cdc(spark, dml):
    """MERGE USING (subquery) + CDC: the atomic write_txn records the
    update preimage, the insert, and the delete in ONE change capture."""
    from dca_manager_spark.io.manifest import manifest_sql

    base = dml.commits()[-1]
    manifest_sql(spark, """
        MERGE INTO dml_t t
        USING (SELECT 1 AS id, 9.0 AS v UNION ALL SELECT 3, 3.0) s
        ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)
    """)
    ch = dml._load_manifest(dml.commits()[-1])["changes"]
    assert ch["upserts"], "change capture present"
    feed = dml.read_incremental(base)
    ids = {r.id for r in feed.collect()}
    assert {1, 3} <= ids
    row3 = spark.sql("SELECT * FROM dml_t WHERE id = 3").collect()[0]
    assert (row3.v, row3.s) == (3.0, None)


def test_manifest_sql_describe_history(spark, dml):
    from dca_manager_spark.io.manifest import manifest_sql

    manifest_sql(spark, "INSERT INTO dml_t VALUES (4, 4.0, 'd')")
    h = manifest_sql(spark, "DESCRIBE HISTORY dml_t")
    rows = sorted((r.commit_id, r.op) for r in h.collect())
    assert [c for c, _ in rows] == [0, 1]
    assert all(isinstance(op, str) and op for _, op in rows)
    assert h.columns[:3] == ["commit_id", "op", "n_files"]


def test_manifest_sql_optimize_and_vacuum(spark, dml):
    """OPTIMIZE compacts without changing content; VACUUM RETAIN n
    COMMITS maps to keep_last and reclaims replaced files."""
    from dca_manager_spark.io.manifest import manifest_sql

    for i in range(3):
        manifest_sql(
            spark, f"INSERT INTO dml_t VALUES ({10 + i}, {float(i)}, 'x')")
    before = sorted((x.id, x.v, x.s)
                    for x in spark.sql("SELECT * FROM dml_t").collect())
    r = manifest_sql(spark, "OPTIMIZE dml_t")
    assert r.collect()[0].num_files_replaced > 0
    after = sorted((x.id, x.v, x.s)
                   for x in spark.sql("SELECT * FROM dml_t").collect())
    assert before == after, "OPTIMIZE is content-neutral"
    rv = manifest_sql(spark, "VACUUM dml_t RETAIN 1 COMMITS")
    assert rv.collect()[0].num_files_removed > 0
    assert sorted((x.id, x.v, x.s)
                  for x in spark.sql("SELECT * FROM dml_t").collect()) == after


def test_manifest_sql_optimize_zorder_restores_config(spark, dml):
    from dca_manager_spark.io.manifest import manifest_sql

    saved = (dml.cluster_by, dml.cluster_method)
    r = manifest_sql(spark, "OPTIMIZE dml_t ZORDER BY (id, v)")
    assert r.collect()[0].num_files_replaced >= 0
    assert (dml.cluster_by, dml.cluster_method) == saved
    # the rewrite REALLY clustered: the compacted files carry min/max
    # stats for the ZORDER columns (the data-skipping payoff)
    files = dml._load_manifest(dml.commits()[-1])["files"]
    assert any("id" in f.get("stats", {}) and "v" in f.get("stats", {})
               for f in files)
    got = sorted((x.id, x.v, x.s)
                 for x in spark.sql("SELECT * FROM dml_t").collect())
    assert got == [(1, 1.0, "a"), (2, 2.0, "b")]


def test_manifest_sql_version_as_of(spark, dml):
    """SELECT ... FROM name VERSION AS OF n through manifest_sql reads
    the pinned snapshot; the live view stays on latest; temp pin views
    are dropped after analysis."""
    from dca_manager_spark.io.manifest import manifest_sql

    manifest_sql(spark, "UPDATE dml_t SET v = 99.0 WHERE id = 1")
    cur = manifest_sql(
        spark, "SELECT v FROM dml_t WHERE id = 1").collect()[0].v
    old = manifest_sql(
        spark, "SELECT v FROM dml_t VERSION AS OF 0 WHERE id = 1"
    ).collect()[0].v
    assert (cur, old) == (99.0, 1.0)
    # join the two versions in one statement
    d = manifest_sql(spark, """
        SELECT a.id, a.v - b.v AS dv
        FROM dml_t a JOIN dml_t VERSION AS OF 0 b ON a.id = b.id
        WHERE a.id = 1
    """).collect()[0]
    assert d.dv == 98.0
    leftover = [v.name for v in spark.catalog.listTables()
                if "__asof_" in v.name]
    assert leftover == [], "pin views dropped after analysis"


def test_manifest_sql_timestamp_as_of(spark, dml):
    import datetime
    import os
    import time

    from dca_manager_spark.io.manifest import manifest_sql

    # pin commit 0's publish instant, then a later commit
    m0 = dml._manifest_dir() / "000000000000.json"
    t0 = m0.stat().st_mtime
    time.sleep(0.05)
    manifest_sql(spark, "INSERT INTO dml_t VALUES (5, 5.0, 'e')")
    mid_ts = datetime.datetime.fromtimestamp(t0 + 0.01)
    got = manifest_sql(
        spark,
        f"SELECT count(*) AS n FROM dml_t TIMESTAMP AS OF "
        f"'{mid_ts.isoformat(sep=' ')}'"
    ).collect()[0].n
    assert got == 2, "timestamp between commit 0 and 1 resolves to v0"
    with pytest.raises(ValueError, match="no commit at or before"):
        manifest_sql(
            spark,
            "SELECT * FROM dml_t TIMESTAMP AS OF '1999-01-01 00:00:00'")


def test_manifest_sql_create_table_as_select(spark, tmp_path):
    """CTAS: the whole lifecycle through SQL text only — CREATE TABLE
    USING dca_manifest AS SELECT, then DML, maintenance and reads by
    name."""
    from dca_manager_spark.io.manifest import manifest_sql

    loc = str(tmp_path / "ctas")
    r = manifest_sql(spark, f"""
        CREATE TABLE ctas_t USING dca_manifest
        OPTIONS (keys='id', precombine='v')
        LOCATION '{loc}'
        AS SELECT * FROM VALUES (1, 1.0, 'a'), (2, 2.0, 'b')
           AS src(id, v, s)
    """)
    try:
        assert r.collect()[0].num_affected_rows == 2
        manifest_sql(spark, "INSERT INTO ctas_t VALUES (3, 3.0, 'c')")
        got = sorted((x.id, x.s) for x in spark.sql(
            "SELECT * FROM ctas_t").collect())
        assert got == [(1, "a"), (2, "b"), (3, "c")]
        # IF NOT EXISTS no-ops; bare CREATE on a live name is loud
        assert manifest_sql(spark, f"""
            CREATE TABLE IF NOT EXISTS ctas_t USING dca_manifest
            OPTIONS (keys='id') LOCATION '{loc}' AS SELECT 1 AS id
        """).collect()[0].num_affected_rows == 0
        with pytest.raises(ValueError, match="already registered"):
            manifest_sql(spark, f"""
                CREATE TABLE ctas_t USING dca_manifest
                OPTIONS (keys='id') LOCATION '{loc}' AS SELECT 1 AS id
            """)
        hist = manifest_sql(spark, "DESCRIBE HISTORY ctas_t").collect()
        assert [h.commit_id for h in hist] == [0, 1]
    finally:
        from dca_manager_spark.io.manifest import _dml_table
        t = _dml_table("ctas_t")
        t.unregister("ctas_t")
        spark.sql("DROP VIEW IF EXISTS ctas_t")


def test_manifest_sql_create_table_validation(spark, tmp_path):
    from dca_manager_spark.io.manifest import manifest_sql

    with pytest.raises(ValueError, match="keys="):
        manifest_sql(spark, f"""
            CREATE TABLE no_keys_t USING dca_manifest
            LOCATION '{tmp_path / "nk"}' AS SELECT 1 AS id
        """)
    with pytest.raises(ValueError, match="requires AS"):
        manifest_sql(spark, f"""
            CREATE TABLE no_query_t USING dca_manifest
            OPTIONS (keys='id') LOCATION '{tmp_path / "nq"}'
        """)
    with pytest.raises(ValueError, match="unknown OPTIONS"):
        manifest_sql(spark, f"""
            CREATE TABLE bad_opt_t USING dca_manifest
            OPTIONS (keys='id', nope='x')
            LOCATION '{tmp_path / "bo"}' AS SELECT 1 AS id
        """)
    # attaching an existing table directory via CREATE is refused
    from dca_manager_spark.io.manifest import ManifestTable
    exist = ManifestTable(
        spark, str(tmp_path / "ex"), keys=("id",), precombine="id",
        partition_by=())
    exist.write(spark.createDataFrame([(1,)], "id int"), "bulk_insert")
    with pytest.raises(ValueError, match="already contains"):
        manifest_sql(spark, f"""
            CREATE TABLE attach_t USING dca_manifest
            OPTIONS (keys='id')
            LOCATION '{tmp_path / "ex"}' AS SELECT 1 AS id
        """)


def test_manifest_sql_create_table_managed_location(spark):
    """LOCATION omitted -> managed directory under the warehouse dir."""
    from dca_manager_spark.io.manifest import _dml_table, manifest_sql

    name = "managed_ctas_t"
    spark.sql(f"DROP VIEW IF EXISTS {name}")
    r = manifest_sql(spark, f"""
        CREATE TABLE {name} USING dca_manifest
        OPTIONS (keys='id', table_type='mor')
        AS SELECT 7 AS id, 'x' AS s
    """)
    try:
        assert r.collect()[0].num_affected_rows == 1
        t = _dml_table(name)
        import re as _re
        wh = _re.sub(r"^file:/{0,2}(?=/)", "",
                     spark.conf.get("spark.sql.warehouse.dir"))
        assert t.path.startswith(wh)
        assert t.table_type == "mor"
        manifest_sql(
            spark, f"UPDATE {name} SET s = 'y' WHERE id = 7")
        assert spark.sql(
            f"SELECT s FROM {name}").collect()[0].s == "y"
    finally:
        t = _dml_table(name)
        t.unregister(name)
        spark.sql(f"DROP VIEW IF EXISTS {name}")
        import shutil
        shutil.rmtree(t.path, ignore_errors=True)


def test_manifest_sql_merge_plan_broadcasts_small_source(spark, dml):
    """100-TB shape: the general MERGE's matched-side join must be free
    to broadcast a small source (no shuffle of the big target for the
    match), and the canonical upsert MERGE must do NO target join at
    all."""
    from dca_manager_spark.io import manifest as M

    spark.createDataFrame(
        [(1, 50.0, "u")], "id int, v double, s string"
    ).createOrReplaceTempView("bplan_src")

    captured = {}
    orig = M._pin

    def spy(df, *args):
        # the flat projection is the only multi-column _pin in the
        # general path whose plan contains the join
        captured.setdefault("plans", []).append(
            df._jdf.queryExecution().executedPlan().toString()
            if hasattr(df, "_jdf") else "")
        return orig(df, *args)

    M._pin = spy
    try:
        M.manifest_sql(spark, """
            MERGE INTO dml_t t USING bplan_src s ON t.id = s.id
            WHEN MATCHED AND s.v > 0 THEN UPDATE SET v = s.v
        """)
    finally:
        M._pin = orig
    joined = [p for p in captured["plans"] if "Join" in p]
    assert joined, "general path built a join"
    assert any("BroadcastHashJoin" in p for p in joined), (
        "small MERGE source should broadcast-hash-join against the "
        "target scan")


def test_manifest_sql_alter_constraint(spark, dml, tmp_path):
    """ALTER TABLE ADD/DROP CONSTRAINT persists CHECK constraints at the
    TABLE (sidecar), so every handle — not just the one that added it —
    enforces them on its next write; ADD validates existing rows."""
    from dca_manager_spark.io.manifest import ManifestTable, manifest_sql

    manifest_sql(
        spark, "ALTER TABLE dml_t ADD CONSTRAINT v_pos CHECK (v > 0)")
    # the adding handle enforces it
    with pytest.raises(ValueError, match="v_pos"):
        manifest_sql(spark, "INSERT INTO dml_t VALUES (9, -9.0, 'bad')")
    # ...and so does a COMPLETELY separate handle on the same path
    other = ManifestTable(
        spark, dml.path, keys=("id",), precombine="v", partition_by=())
    with pytest.raises(ValueError, match="v_pos"):
        other.write(
            spark.createDataFrame([(9, -9.0, "bad")],
                                  "id int, v double, s string"),
            "insert")
    other.write(
        spark.createDataFrame([(9, 9.0, "ok")],
                              "id int, v double, s string"), "insert")
    # ADD validates EXISTING rows (ANSI: only FALSE violates)
    with pytest.raises(ValueError, match="existing row"):
        manifest_sql(
            spark, "ALTER TABLE dml_t ADD CONSTRAINT v_big CHECK (v > 5)")
    # duplicate name is loud; DROP re-opens the gate
    with pytest.raises(ValueError, match="already exists"):
        manifest_sql(
            spark, "ALTER TABLE dml_t ADD CONSTRAINT v_pos CHECK (v > 1)")
    manifest_sql(spark, "ALTER TABLE dml_t DROP CONSTRAINT v_pos")
    manifest_sql(spark, "INSERT INTO dml_t VALUES (10, -1.0, 'now ok')")
    with pytest.raises(ValueError, match="no persisted constraint"):
        manifest_sql(spark, "ALTER TABLE dml_t DROP CONSTRAINT nope")
    r = manifest_sql(
        spark, "ALTER TABLE dml_t DROP CONSTRAINT IF EXISTS nope")
    assert r.collect()[0].num_affected_rows == 0


def test_manifest_sql_results_collect_without_a_job(spark, dml, count_jobs):
    """Every statement result is a local relation: collecting it runs no
    Spark job, and its column keeps the ``<name> bigint`` nullable
    schema."""
    from pyspark.sql.types import LongType, StructField, StructType

    from dca_manager_spark.io.manifest import manifest_sql

    spark.createDataFrame(
        [(2, 20.0, "m"), (5, 5.0, "n")], "id int, v double, s string"
    ).createOrReplaceTempView("jobs_src")
    statements = [
        ("INSERT INTO dml_t VALUES (3, 3.0, 'c')", "num_affected_rows", 1),
        ("UPDATE dml_t SET s = 'u' WHERE id = 1", "num_affected_rows", 1),
        ("DELETE FROM dml_t WHERE id = 3", "num_affected_rows", 1),
        ("MERGE INTO dml_t t USING jobs_src s ON t.id = s.id "
         "WHEN MATCHED THEN UPDATE SET v = s.v "
         "WHEN NOT MATCHED THEN INSERT *", "num_affected_rows", 2),
        ("MERGE INTO dml_t t USING jobs_src s ON t.id = s.id "
         "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
         "num_affected_rows", 2),
        ("OPTIMIZE dml_t", "num_files_replaced", None),
        ("VACUUM dml_t RETAIN 1 COMMITS", "num_files_removed", None),
        ("ALTER TABLE dml_t ADD CONSTRAINT v_pos CHECK (v > 0)",
         "num_affected_rows", 0),
    ]
    for text, name, want in statements:
        result = manifest_sql(spark, text)
        rows, jobs = count_jobs(result.collect)
        assert jobs == 0, text
        assert result.schema == StructType(
            [StructField(name, LongType(), True)]), text
        assert len(rows) == 1, text
        if want is not None:
            assert rows[0][name] == want, text
        else:
            assert rows[0][name] > 0, text


def test_cow_statement_job_counts(spark, cow, count_jobs):
    """On a partitioned COW table each statement's pin job also yields its
    row count and touched partitions, and its result is a local
    relation: an upsert, an UPDATE and a DELETE run exactly these many
    jobs, result collect included. The rest are the commit's own pins,
    adaptive map stages and writes (data files, change files)."""
    from dca_manager_spark.io.manifest import manifest_sql

    cow.write(make_df(spark, [
        ("T1", TS1, "BTCGBP", 1.0), ("T2", TS1, "ETHGBP", 5.0),
        ("T3", TS1, "BTCGBP", 2.0)]), "bulk_insert")
    name = f"mt_jobs_{uuid.uuid4().hex[:8]}"
    cow.register(name)
    try:
        up = make_df(spark, [("T1", TS1, "BTCGBP", 9.0), ("T4", TS1, "BTCGBP", 4.0)])
        _, jobs = count_jobs(lambda: cow.write(up, "upsert"))
        assert jobs == 10
        rows, jobs = count_jobs(lambda: manifest_sql(
            spark, f"UPDATE {name} SET price = 7.0 WHERE transaction_id = 'T2'"
        ).collect())
        assert (rows[0].num_affected_rows, jobs) == (1, 11)
        rows, jobs = count_jobs(lambda: manifest_sql(
            spark, f"DELETE FROM {name} WHERE transaction_id = 'T3'"
        ).collect())
        assert (rows[0].num_affected_rows, jobs) == (1, 9)
        assert sql_rows(spark, name) == {
            ("T1", "BTCGBP", 9.0), ("T2", "ETHGBP", 7.0), ("T4", "BTCGBP", 4.0)}
    finally:
        cow.unregister(name)
