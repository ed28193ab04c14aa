"""Phase-level timing of the manifest-family entries.

Default mode wraps ManifestTable write/read phases with wall-clock marks
to show where a multi-commit catalog entry spends its time (job launches
vs fsync'd publishes).

``--statements`` replays the ``dca_lakehouse`` benchmark's write traffic
on one keyed table (keys ``(transaction_id, close_time)``, partitioned by
``pair``, a one-file history back-fill) and prints, per operation, the
Spark jobs it ran and its wall time: one pass is OPTIMIZE then three
rounds of a one-transaction load and one DML statement (MERGE, UPDATE,
DELETE in turn). Each operation's mean per statement is printed over
five passes after one warm-up pass, with the feed seeded 601. Jobs are
counted from the DAG scheduler's job-id counter, so every job a
statement started is seen, whichever thread started it.

Usage:
    python scripts/profile_manifest_phases.py
    python scripts/profile_manifest_phases.py --statements
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


STATEMENT_SEED = 601
STATEMENT_PASSES = 5


def statements() -> None:
    """Jobs and wall time per manifest statement, dca_lakehouse shape."""
    from dca_manager_spark.io.manifest import manifest_sql
    from dca_manager_spark.pipeline.load_transactions import load_transactions
    from dca_manager_spark.session import get_session
    from perfbench import checks, datagen

    root = tempfile.mkdtemp(prefix="dca-statements-")
    # the durable registration's catalog lives under the run's own dir
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(root, 'warehouse')} "
        "pyspark-shell")
    spark = get_session(app_name="profile-statements",
                        shuffle_partitions=os.cpu_count() or 4)
    spark.sparkContext.setLogLevel("ERROR")
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    feed = datagen.TransactionFeed(STATEMENT_SEED, os.path.join(root, "feed"))
    table_path = os.path.join(root, "table", "transactions")

    def load(history: bool = False) -> None:
        path, _ = feed.history() if history else feed.load()
        load_transactions(spark, path, table_path, "upsert",
                          table_name="transactions", database=None)

    def sql(text: str) -> None:
        manifest_sql(spark, text).collect()

    def merge() -> None:
        spark.createDataFrame(
            checks.normalized(feed.merge_rows())
        ).createOrReplaceTempView("merge_src")
        sql("MERGE INTO transactions t USING merge_src s "
            "ON t.transaction_id = s.transaction_id "
            "AND t.close_time = s.close_time "
            "WHEN MATCHED THEN UPDATE SET exchange_status = s.exchange_status, "
            "fee = s.fee WHEN NOT MATCHED THEN INSERT *")

    def update() -> None:
        sql("UPDATE transactions SET exchange_status = 'reconciled' "
            f"WHERE transaction_id = '{feed.pick_key()}'")

    def delete() -> None:
        key = feed.pick_key()
        feed.forget(key)
        sql(f"DELETE FROM transactions WHERE transaction_id = '{key}'")

    one_pass = [("OPTIMIZE", lambda: sql("OPTIMIZE transactions"))]
    for name, dml in (("MERGE", merge), ("UPDATE", update), ("DELETE", delete)):
        one_pass += [("load", load), (name, dml)]
    order = ["load", "MERGE", "UPDATE", "DELETE", "OPTIMIZE"]
    totals = {op: [0, 0, 0.0] for op in order}  # runs, jobs, seconds
    try:
        load(history=True)
        for i in range(STATEMENT_PASSES + 1):  # pass 0 warms up, uncounted
            for op, run in one_pass:
                j0, t0 = dag.nextJobId(), time.perf_counter()
                run()
                if i:
                    totals[op][0] += 1
                    totals[op][1] += dag.nextJobId() - j0
                    totals[op][2] += time.perf_counter() - t0
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)
    print(f"{'operation':>10} {'jobs':>6} {'ms':>8}   "
          f"(per statement, mean over {STATEMENT_PASSES} passes)")
    for op in order:
        runs, jobs, secs = totals[op]
        print(f"{op:>10} {jobs / runs:6.1f} {1000 * secs / runs:8.0f}")


def main() -> None:
    from dca_manager_spark.io.manifest import ManifestTable
    from dca_manager_spark.io.readers import load_table
    from dca_manager_spark.session import get_bench_session
    from dca_manager_spark.streaming.cdc import feed_deltas

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_bench_session()
    spark.sparkContext.setLogLevel("ERROR")

    marks: list[tuple[str, float]] = []

    def mark(label: str, t0: float) -> None:
        marks.append((label, time.perf_counter() - t0))

    # warm-up (codegen etc.)
    base_w = (
        load_table(spark, "/root/testdata/sf0.001", "lineitem")
        .filter((F.col("l_returnflag") == "R") & (F.col("l_orderkey") < 2000))
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.max("l_extendedprice").alias("l_extendedprice"))
    )
    tw = ManifestTable(
        spark, tempfile.mkdtemp(prefix="dca-phase-warm-"),
        keys=("l_orderkey", "l_linenumber"), precombine="l_extendedprice",
        partition_by=(),
    )
    tw.write(base_w, "bulk_insert")
    tw.write(base_w.filter(F.col("l_orderkey") < 100), "upsert")
    tw.write(base_w.filter(F.col("l_orderkey") < 25), "delete")

    # timed run — manifest_cdc_aggregate's exact write sequence at sf0.1
    base = (
        load_table(spark, sf_dir, "lineitem")
        .filter((F.col("l_returnflag") == "R") & (F.col("l_orderkey") < 2000))
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.max("l_extendedprice").alias("l_extendedprice"))
    )
    table = ManifestTable(
        spark, tempfile.mkdtemp(prefix="dca-phase-"),
        keys=("l_orderkey", "l_linenumber"), precombine="l_extendedprice",
        partition_by=(),
    )
    t0 = time.perf_counter()
    table.write(base, "bulk_insert")
    mark("bulk_insert", t0)
    t0 = time.perf_counter()
    v0 = table.commits()[-1]
    mark("commits()", t0)
    t0 = time.perf_counter()
    table.write(
        base.filter(F.col("l_orderkey") < 100).withColumn(
            "l_extendedprice", F.col("l_extendedprice") + 1), "upsert")
    mark("upsert1", t0)
    t0 = time.perf_counter()
    table.write(
        base.filter((F.col("l_orderkey") >= 50) & (F.col("l_orderkey") < 150))
        .withColumn("l_extendedprice", F.col("l_extendedprice") + 2), "upsert")
    mark("upsert2", t0)
    t0 = time.perf_counter()
    table.write(base.filter(F.col("l_orderkey") < 25), "delete")
    mark("delete", t0)
    t0 = time.perf_counter()
    bucket = (F.col("l_orderkey") % 10).alias("bucket")
    from dca_manager_spark.plans.queries import cents
    base_leg = (
        table.read(as_of=v0).groupBy(bucket)
        .agg(F.sum(cents(F.col("l_extendedprice"))).alias("__cents"),
             F.count(F.lit(1)).alias("__n")))
    move_leg = (
        feed_deltas(table.read_cdc(since=v0)).groupBy(bucket)
        .agg(F.sum(cents(F.col("l_extendedprice")) * F.col("_delta")).alias("__cents"),
             F.sum("_delta").cast("long").alias("__n")))
    out = (base_leg.unionByName(move_leg).groupBy("bucket")
           .agg((F.sum("__cents").cast("double") / 100).alias("total_price"),
                F.sum("__n").alias("n_rows"))
           .filter(F.col("n_rows") > 0).orderBy("bucket"))
    out.write.format("noop").mode("overwrite").save()
    mark("read+agg(noop)", t0)

    total = sum(d for _, d in marks)
    for label, d in marks:
        print(f"{label:>16}: {d:6.3f}s")
    print(f"{'TOTAL':>16}: {total:6.3f}s")
    spark.stop()


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--statements", action="store_true",
                    help="jobs and wall time per dca_lakehouse statement")
    args = ap.parse_args()
    if args.statements:
        statements()
    else:
        main()
