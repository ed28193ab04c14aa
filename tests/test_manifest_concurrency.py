"""ManifestTable optimistic concurrency: two writers (or a writer and a
compactor) racing on the same table must converge to the SERIALIZED
result via put-if-absent + rebase, or abort loudly — never publish over.

The deterministic races here monkeypatch one handle's ``_publish`` to let
the rival commit in the window between "read newest manifest" and
"publish next manifest" — the exact interleaving a multi-writer
deployment hits (VERDICT r12 gap #2; the reference sidesteps it with
max_concurrent_runs=1, terraform/glue.tf:88)."""

from __future__ import annotations

import datetime
import shutil
import threading

import pytest

from dca_manager_spark.io.manifest import ConcurrentCommitError, ManifestTable

TS1 = datetime.datetime(2024, 1, 1, 12, 0, 0)
SCHEMA = "transaction_id string, close_time timestamp, pair string, price double"


def make_df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def make_table(spark, path, **kw):
    kw.setdefault("keys", ("transaction_id", "close_time"))
    kw.setdefault("precombine", "transaction_id")
    kw.setdefault("partition_by", ("pair",))
    return ManifestTable(spark, str(path), **kw)


def inject_race(loser: ManifestTable, fire_once) -> None:
    """Make the rival's commit land between ``loser``'s manifest read and
    its publish — exactly once (the rebase attempt then runs clean)."""
    orig = loser._publish
    state = {"fired": False}

    def racy(prev_id, files, schema_json, changes=None, op="unknown"):
        if not state["fired"]:
            state["fired"] = True
            fire_once()
        return orig(prev_id, files, schema_json, changes, op=op)

    loser._publish = racy


def test_upsert_vs_upsert_rebases_to_serialized_result(spark, tmp_path):
    path = tmp_path / "t"
    t1 = make_table(spark, path)
    t2 = make_table(spark, path)
    t1.write(
        make_df(spark, [("T1", TS1, "BTCGBP", 1.0), ("T2", TS1, "ETHGBP", 2.0)]),
        "upsert",
    )

    # t2 wins the race mid-flight; t1 must rebase onto t2's commit.
    inject_race(
        t1,
        lambda: t2.write(
            make_df(spark, [("T2", TS1, "ETHGBP", 20.0), ("T4", TS1, "ETHGBP", 4.0)]),
            "upsert",
        ),
    )
    t1.write(
        make_df(spark, [("T1", TS1, "BTCGBP", 10.0), ("T3", TS1, "BTCGBP", 3.0)]),
        "upsert",
    )

    # Serialized (t2 then t1): every key's last writer wins, nothing lost.
    rows = {r.transaction_id: r.price for r in t1.read().collect()}
    assert rows == {"T1": 10.0, "T2": 20.0, "T3": 3.0, "T4": 4.0}
    # Three commits total: seed, t2's winner, t1's rebased commit.
    assert t1.commits() == [0, 1, 2]
    ops = [r.op for r in t1.history().orderBy("commit_id").collect()]
    # first upsert on an empty table lands via the append path
    assert ops == ["append", "upsert", "upsert"]


def test_writer_vs_compactor_interleave(spark, tmp_path):
    path = tmp_path / "t"
    writer = make_table(spark, path)
    compactor = make_table(spark, path)
    for tid, price in [("T1", 1.0), ("T2", 2.0)]:
        writer.write(make_df(spark, [(tid, TS1, "BTCGBP", price)]), "upsert")

    # Compaction commits while the writer's upsert is in flight.
    inject_race(writer, lambda: compactor.compact())
    writer.write(make_df(spark, [("T2", TS1, "BTCGBP", 20.0)]), "upsert")

    rows = {r.transaction_id: r.price for r in writer.read().collect()}
    assert rows == {"T1": 1.0, "T2": 20.0}
    ops = [r.op for r in writer.history().orderBy("commit_id").collect()]
    assert ops == ["append", "upsert", "compact", "upsert"]

    # And the mirror image: a writer beats the compactor, which must
    # re-select files against the NEW manifest (stale file set would
    # resurrect the old T2 or drop the new one).
    inject_race(
        compactor,
        lambda: writer.write(make_df(spark, [("T3", TS1, "BTCGBP", 3.0)]), "upsert"),
    )
    compactor.compact()
    rows = {r.transaction_id: r.price for r in compactor.read().collect()}
    assert rows == {"T1": 1.0, "T2": 20.0, "T3": 3.0}


def test_mor_writer_vs_writer(spark, tmp_path):
    path = tmp_path / "t"
    t1 = make_table(spark, path, table_type="mor")
    t2 = make_table(spark, path, table_type="mor")
    t1.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "upsert")

    inject_race(
        t1,
        lambda: t2.write(make_df(spark, [("T1", TS1, "BTCGBP", 5.0)]), "upsert"),
    )
    t1.write(make_df(spark, [("T1", TS1, "BTCGBP", 9.0)]), "upsert")

    # MOR resolves latest-per-key by commit id: the rebased t1 commit has
    # the higher id, so its value wins — serialized t2-then-t1 order.
    rows = {r.transaction_id: r.price for r in t1.read().collect()}
    assert rows == {"T1": 9.0}
    assert t1.commits() == [0, 1, 2]


def test_delete_rebases_over_concurrent_upsert(spark, tmp_path):
    path = tmp_path / "t"
    t1 = make_table(spark, path)
    t2 = make_table(spark, path)
    t1.write(
        make_df(spark, [("T1", TS1, "BTCGBP", 1.0), ("T2", TS1, "BTCGBP", 2.0)]),
        "upsert",
    )
    inject_race(
        t1,
        lambda: t2.write(make_df(spark, [("T3", TS1, "BTCGBP", 3.0)]), "upsert"),
    )
    t1.write(make_df(spark, [("T1", TS1, "BTCGBP", 0.0)]), "delete")
    rows = {r.transaction_id: r.price for r in t1.read().collect()}
    # T3 (the winner's insert) survives the rebased delete of T1.
    assert rows == {"T2": 2.0, "T3": 3.0}


def test_retries_exhausted_aborts_loudly_and_table_intact(spark, tmp_path):
    path = tmp_path / "t"
    t1 = make_table(spark, path, commit_retries=0)
    t2 = make_table(spark, path)
    t1.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "upsert")

    orig = t1._publish

    def always_raced(prev_id, files, schema_json, changes=None, op="unknown"):
        # Rival commits EVERY attempt — with commit_retries=0 the single
        # attempt loses and the writer must abort, never publish over.
        t2.write(make_df(spark, [("T2", TS1, "BTCGBP", 2.0)]), "upsert")
        return orig(prev_id, files, schema_json, changes, op=op)

    t1._publish = always_raced
    with pytest.raises(ConcurrentCommitError):
        t1.write(make_df(spark, [("T9", TS1, "BTCGBP", 9.0)]), "upsert")

    # Loser published NOTHING: content is the winner's serialized state.
    rows = {r.transaction_id: r.price for r in t1.read().collect()}
    assert rows == {"T1": 1.0, "T2": 2.0}
    # The lost attempt's data files are orphans. A DEFAULT vacuum keeps
    # them (fresh never-referenced files look exactly like an in-flight
    # writer's commit — the r13 grace window) while still reclaiming
    # superseded PUBLISHED files; a quiesced vacuum (grace 0) then
    # reclaims the orphans too. Either way the table reads identically.
    t1.vacuum(keep_last=1)
    removed = t1.vacuum(keep_last=1, orphan_grace_seconds=0)
    assert removed >= 1  # the never-referenced lost-attempt files
    rows = {r.transaction_id: r.price for r in t1.read().collect()}
    assert rows == {"T1": 1.0, "T2": 2.0}


def test_schema_conflict_detected_on_rebase(spark, tmp_path):
    path = tmp_path / "t"
    t1 = make_table(spark, path)
    t2 = make_table(spark, path)
    t1.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "upsert")

    # The winner evolves `price` is impossible (type change rejected), so
    # it ADDS a typed column instead; loser's rebase must re-merge the
    # schema against the winner's and keep the new column readable.
    evolved = spark.createDataFrame(
        [("T2", TS1, "BTCGBP", 2.0, 7)],
        SCHEMA + ", lot int",
    )
    inject_race(t1, lambda: t2.write(evolved, "upsert"))
    t1.write(make_df(spark, [("T3", TS1, "BTCGBP", 3.0)]), "upsert")

    out = t1.read()
    assert "lot" in out.columns
    rows = {r.transaction_id: (r.price, r.lot) for r in out.collect()}
    assert rows == {"T1": (1.0, None), "T2": (2.0, 7), "T3": (3.0, None)}


def test_threaded_writers_all_commits_land(spark, tmp_path):
    """Real-thread stress: two writers interleave freely; with rebase
    retries every commit lands and the final content is the union of
    both writers' last values per key."""
    path = tmp_path / "t"
    t1 = make_table(spark, path, commit_retries=10)
    t2 = make_table(spark, path, commit_retries=10)
    t1.write(make_df(spark, [("SEED", TS1, "BTCGBP", 0.0)]), "upsert")

    errs = []
    barrier = threading.Barrier(2)

    def run(table, prefix):
        try:
            barrier.wait(timeout=60)
            for i in range(4):
                table.write(
                    make_df(spark, [(f"{prefix}{i}", TS1, "BTCGBP", float(i))]),
                    "upsert",
                )
        except Exception as exc:  # pragma: no cover - failure detail
            errs.append(exc)

    th1 = threading.Thread(target=run, args=(t1, "A"))
    th2 = threading.Thread(target=run, args=(t2, "B"))
    th1.start(); th2.start(); th1.join(120); th2.join(120)
    assert not errs, errs

    rows = {r.transaction_id: r.price for r in t1.read().collect()}
    expect = {"SEED": 0.0}
    expect.update({f"A{i}": float(i) for i in range(4)})
    expect.update({f"B{i}": float(i) for i in range(4)})
    assert rows == expect
    # 9 commits, strictly sequential ids — no publish was ever clobbered.
    assert t1.commits() == list(range(9))


def test_delete_where_reevaluates_predicate_after_race(spark, tmp_path):
    """Regression (ADVICE r13, medium): delete_where must re-run its
    predicate per rebase attempt — a lost race may not re-apply the
    STALE key set against the winner's manifest, or it deletes rows a
    concurrent commit changed so they no longer match (lost update;
    Delta DELETE detects the conflict instead)."""
    path = tmp_path / "t"
    t1 = make_table(spark, path)
    t2 = make_table(spark, path)
    t1.write(
        make_df(spark, [("T1", TS1, "BTCGBP", 5.0), ("T2", TS1, "BTCGBP", 50.0)]),
        "upsert",
    )
    # rival moves T1 OUT of the predicate in the race window
    inject_race(
        t1,
        lambda: t2.write(make_df(spark, [("T1", TS1, "BTCGBP", 100.0)]), "upsert"),
    )
    n = t1.delete_where("price < 10")
    # after the rebase, nothing matches: zero deletes, T1 survives with
    # the winner's value
    assert n == 0
    rows = {r.transaction_id: r.price for r in t1.read().collect()}
    assert rows == {"T1": 100.0, "T2": 50.0}


def test_delete_where_rebased_still_deletes_matching_rows(spark, tmp_path):
    """The race-window rebase keeps deleting what STILL matches (and
    picks up rows the winner moved INTO the predicate)."""
    path = tmp_path / "t"
    t1 = make_table(spark, path)
    t2 = make_table(spark, path)
    t1.write(
        make_df(spark, [("T1", TS1, "BTCGBP", 5.0), ("T2", TS1, "BTCGBP", 50.0)]),
        "upsert",
    )
    inject_race(
        t1,
        lambda: t2.write(make_df(spark, [("T2", TS1, "BTCGBP", 2.0)]), "upsert"),
    )
    n = t1.delete_where("price < 10")
    assert n == 2  # T1 still matches; T2 moved INTO the predicate
    assert t1.read().count() == 0
    assert t1.rebase_count == 1


def test_update_where_reevaluates_predicate_after_race(spark, tmp_path):
    """update_where twin of the delete_where regression: the rebased
    attempt must not clobber a row the winner moved out of the
    predicate with a stale transformed version."""
    path = tmp_path / "t"
    t1 = make_table(spark, path)
    t2 = make_table(spark, path)
    t1.write(
        make_df(spark, [("T1", TS1, "BTCGBP", 5.0), ("T2", TS1, "BTCGBP", 50.0)]),
        "upsert",
    )
    inject_race(
        t1,
        lambda: t2.write(make_df(spark, [("T1", TS1, "BTCGBP", 100.0)]), "upsert"),
    )
    n = t1.update_where("price < 10", {"price": "price * 0"})
    assert n == 0  # nothing matches after the rebase
    rows = {r.transaction_id: r.price for r in t1.read().collect()}
    assert rows == {"T1": 100.0, "T2": 50.0}


def test_restore_rebases_and_aborts_loudly(spark, tmp_path):
    """Regression (ADVICE r13, low): restore runs under the same
    rebase/retry contract as write()/compact() — a concurrent commit
    mid-restore is absorbed by a retry (content = the restored
    version, serialized AFTER the winner), and retry exhaustion
    surfaces as ConcurrentCommitError, never a raw FileExistsError."""
    path = tmp_path / "t"
    t1 = make_table(spark, path)
    t2 = make_table(spark, path)
    t1.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "upsert")  # v0
    t1.write(make_df(spark, [("T2", TS1, "BTCGBP", 2.0)]), "upsert")  # v1
    inject_race(
        t1,
        lambda: t2.write(make_df(spark, [("T3", TS1, "BTCGBP", 3.0)]), "upsert"),
    )
    t1.restore(0)
    assert t1.rebase_count == 1
    rows = {r.transaction_id: r.price for r in t1.read().collect()}
    assert rows == {"T1": 1.0}  # the restored snapshot, serialized last

    # exhaustion path: rival lands a commit on EVERY attempt
    strict = make_table(spark, path, commit_retries=0)
    orig = strict._publish

    def always_raced(prev_id, files, schema_json, changes=None, op="unknown"):
        t2.write(make_df(spark, [("TX", TS1, "BTCGBP", 9.0)]), "upsert")
        return orig(prev_id, files, schema_json, changes, op=op)

    strict._publish = always_raced
    with pytest.raises(ConcurrentCommitError):
        strict.restore(0)


def test_vacuum_spares_young_empty_commit_dirs(spark, tmp_path):
    """Regression (ADVICE r13, low): a concurrent writer between mkdir
    and its first committed task file owns a commit-* dir containing
    no *.parquet yet — vacuum's empty-dir sweep must honor the same
    orphan grace window as the file path, or it rmdirs the dir under
    the in-flight job."""
    path = tmp_path / "t"
    t = make_table(spark, path)
    t.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "upsert")
    inflight = path / "data" / "commit-racing" / "_temporary"
    inflight.mkdir(parents=True)
    (inflight / "task-0.tmp").write_text("in flight")
    t.vacuum(keep_last=1)  # default grace: young dir survives
    assert inflight.is_dir()
    t.vacuum(keep_last=1, orphan_grace_seconds=0)  # quiesced: reclaimed
    assert not (path / "data" / "commit-racing").exists()
    assert {r.transaction_id for r in t.read().collect()} == {"T1"}


def _sink_batch(path, rows, ddl="transaction_id string, pair string, price double",
                **options):
    """The streaming/batch sink's driver-side commit, in-process: the
    executor half writes the files, then commit() publishes them."""
    from pyspark.sql.types import StructType

    from dca_manager_spark.io.datasource import ManifestBatchWriter

    options = {"path": str(path), "partition_by": "pair", "retries": "0", **options}
    writer = ManifestBatchWriter(options, StructType.fromDDL(ddl), False)
    writer.commit([writer.write(iter(rows))])


# Every commit entry point, as (name, loser call) against the seed table.
EXHAUSTION_CASES = {
    "write": lambda t, spark: t.write(
        make_df(spark, [("T9", TS1, "BTCGBP", 9.0)]), "upsert"),
    "write_txn": lambda t, spark: t.write_txn(
        make_df(spark, [("T9", TS1, "BTCGBP", 9.0)]),
        make_df(spark, [("T1", TS1, "BTCGBP", 0.0)])),
    "delete_where": lambda t, spark: t.delete_where("price < 10"),
    "update_where": lambda t, spark: t.update_where(
        "price < 10", {"price": "price * 0"}),
    "restore": lambda t, spark: t.restore(0),
    "compact": lambda t, spark: t.compact(),
    "sink": lambda t, spark: _sink_batch(t.path, [("S1", "BTCGBP", 7.0)]),
}


@pytest.fixture(scope="module")
def seed_table(spark, tmp_path_factory):
    """A two-commit table (T1 in v0, T3 added in v1); each case copies
    it (manifest paths are relative to the table root)."""
    path = tmp_path_factory.mktemp("seed") / "t"
    t = make_table(spark, path)
    t.write(make_df(spark, [("T1", TS1, "BTCGBP", 1.0)]), "insert")
    t.write(make_df(spark, [("T3", TS1, "BTCGBP", 5.0)]), "insert")
    return path


@pytest.mark.parametrize("entry", list(EXHAUSTION_CASES))
def test_every_commit_path_aborts_loudly_when_retries_run_out(
    spark, tmp_path, monkeypatch, seed_table, entry
):
    """Each entry point shares one rebase contract: a rival that commits
    inside EVERY attempt exhausts the budget (commit_retries=0 on the
    handle, retries=0 on the sink) and the loser raises
    ConcurrentCommitError — never a raw FileExistsError, never a publish
    over the winner — with every loss counted in rebase_count."""
    path = tmp_path / "t"
    shutil.copytree(seed_table, path)
    loser = make_table(spark, path, commit_retries=0)
    rival = make_table(spark, path)
    orig = ManifestTable._publish

    def always_raced(self, prev_id, files, schema_json, changes=None, **kw):
        # patched on the CLASS: the sink commits through a throwaway
        # handle of its own; the rival's publishes pass straight through
        if self is not rival:
            rival.write(make_df(spark, [("T2", TS1, "BTCGBP", 2.0)]), "insert")
        return orig(self, prev_id, files, schema_json, changes, **kw)

    monkeypatch.setattr(ManifestTable, "_publish", always_raced)
    with pytest.raises(ConcurrentCommitError, match="lost the commit race"):
        EXHAUSTION_CASES[entry](loser, spark)
    monkeypatch.undo()

    # the loser published nothing: content is the winner's
    rows = {r.transaction_id: r.price for r in loser.read().collect()}
    assert rows == {"T1": 1.0, "T2": 2.0, "T3": 5.0}
    if entry != "sink":  # the sink's throwaway handle is not observable
        assert loser.rebase_count == loser.commit_retries + 1


def test_sink_rebase_keeps_delete_markers(spark, tmp_path, monkeypatch):
    """A keyed sink batch that loses a race re-tags its files from the
    executor's originals on the rebased attempt, so a delete-marked row
    stays a tombstone instead of landing as an upsert of the deleted
    key."""
    path = tmp_path / "t"
    spec = dict(keys=("transaction_id",), precombine="price", table_type="mor")
    table = make_table(spark, path, **spec)
    rival = make_table(spark, path, **spec)
    ddl = "transaction_id string, pair string, price double"
    table.write(spark.createDataFrame(
        [("K1", "BTCGBP", 1.0), ("K2", "BTCGBP", 2.0)], ddl), "upsert")
    orig = ManifestTable._publish
    fired = []

    def raced_once(self, *args, **kw):
        if self is not rival and not fired:
            fired.append(True)
            rival.write(spark.createDataFrame([("K3", "BTCGBP", 3.0)], ddl), "upsert")
        return orig(self, *args, **kw)

    monkeypatch.setattr(ManifestTable, "_publish", raced_once)
    _sink_batch(
        path, [("K1", "BTCGBP", 9.0, True)], ddl + ", gone boolean",
        keys="transaction_id", precombine="price", delete_column="gone",
        retries="1",
    )
    monkeypatch.undo()
    assert fired
    rows = {r.transaction_id: r.price for r in table.read().collect()}
    assert rows == {"K2": 2.0, "K3": 3.0}
