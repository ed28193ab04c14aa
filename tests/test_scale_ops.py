"""Scale-technique tests: bucketed co-located joins (no Exchange), skew
salting (exact results, spread keys) and the partition-width rule."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dca_manager_spark.io.bucketed import bucketed_join, write_bucketed_table
from dca_manager_spark.operators.skew import salted_join, salted_sum
from dca_manager_spark.partitioning import keyed_width, spread
from dca_manager_spark.plans.inspect import physical_plan
from tests.conftest import SF_SMOKE


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderstatus"
    ).withColumnRenamed("o_orderkey", "l_orderkey")
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed_table(li, "b_lineitem", ["l_orderkey"], 8, ["l_orderkey"])
        write_bucketed_table(orders, "b_orders", ["l_orderkey"], 8, ["l_orderkey"])
        # disable broadcast so the planner actually uses the bucketed SMJ
        # (at real scale neither side broadcasts — that's the scenario
        # bucketing exists for)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join(spark, "b_lineitem", "b_orders", ["l_orderkey"])
        plan = physical_plan(joined)
        assert "Exchange hashpartitioning" not in plan, (
            f"bucketed join still shuffles:\n{plan[:800]}"
        )
        assert "SortMergeJoin" in plan
        # and it's the same row count as the shuffled join
        expect = li.join(orders, "l_orderkey").count()
        assert joined.count() == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_salted_sum_exact(spark):
    df = spark.createDataFrame(
        [("hot", float(i)) for i in range(1000)] + [("cold", 1.0)] * 5,
        "k string, v double",
    )
    out = {
        r.k: (r.total, r.n_rows)
        for r in salted_sum(df, ["k"], {"v": "total"}, salt_buckets=8).collect()
    }
    assert out["hot"] == (sum(float(i) for i in range(1000)), 1000)
    assert out["cold"] == (5.0, 5)


def test_salted_join_matches_plain_join(spark):
    skewed = spark.createDataFrame(
        [("hot", i) for i in range(500)] + [("k2", i) for i in range(10)],
        "k string, payload int",
    )
    small = spark.createDataFrame(
        [("hot", "H"), ("k2", "2"), ("absent", "x")], "k string, tag string"
    )
    plain = skewed.join(small, "k").select("k", "payload", "tag")
    salted = salted_join(skewed, small, ["k"], salt_buckets=4).select(
        "k", "payload", "tag"
    )
    key = lambda r: (r.k, r.payload, r.tag)  # noqa: E731
    assert sorted(map(key, salted.collect())) == sorted(map(key, plain.collect()))


def test_salted_join_spreads_hot_key(spark):
    """The salted key space must actually split the hot key across salts."""
    skewed = spark.createDataFrame([("hot", i) for i in range(200)], "k string, payload int")
    from dca_manager_spark.operators.skew import F as _  # noqa: F401
    from pyspark.sql import functions as FF

    salted = skewed.withColumn(
        "__salt", FF.pmod(FF.xxhash64(FF.monotonically_increasing_id()), FF.lit(8))
    )
    n_salts = salted.select("__salt").distinct().count()
    assert n_salts >= 6  # hot key spread over most of the 8 buckets


def _rdd_frame(spark, tmp_path):
    # RDD-backed: the optimizer's size estimate is Long.MaxValue (unknown)
    return spark.createDataFrame(spark.sparkContext.parallelize([(1,)]), "a long")


def _multi_file_scan(spark, tmp_path):
    # dp files of random doubles, 1.25 x dp x openCostInBytes in all:
    # Spark's split formula plans >= dp splits for it, while it is far
    # below dp x maxPartitionBytes (128MB)
    dp = spark.sparkContext.defaultParallelism
    open_cost = spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()
    rows = 5 * dp * open_cost // 4 // 8
    spark.range(0, rows, 1, dp).select(F.rand(1).alias("x")).write.parquet(
        str(tmp_path / "scan")
    )
    return spark.read.parquet(str(tmp_path / "scan"))


# name -> (frame builder, spread adds one round-robin exchange)
WIDTH_CASES = {
    "range_8e9_bytes": (lambda spark, tmp_path: spark.range(10**9), False),
    "rdd_unknown_size": (_rdd_frame, True),
    # unknown x known: the root estimate overflows past Long.MaxValue
    "checkpoint_x_rdd": (
        lambda spark, tmp_path: spark.range(10).localCheckpoint().crossJoin(
            _rdd_frame(spark, tmp_path)
        ),
        True,
    ),
    # one file, one row group, a few KB: scans as one split
    "parquet_one_split": (
        lambda spark, tmp_path: spark.read.schema("doc_id long, text string").parquet(
            f"{SF_SMOKE}/documents.parquet"
        ),
        True,
    ),
    # 100 KB x 10 KB on one partition: the root estimate (the product,
    # ~1e9 B) is no width; the leaves' 110 KB is
    "join_one_partition": (
        lambda spark, tmp_path: spark.range(0, 12_500, 1, 1).join(
            spark.range(0, 1_250, 1, 1), "id"
        ),
        True,
    ),
    "parquet_multi_file": (_multi_file_scan, False),
}


@pytest.mark.parametrize("name", list(WIDTH_CASES))
def test_partition_width_from_plan_size(spark, tmp_path, name):
    """spread decides from the optimized plan's leaf sizes alone: leaves
    that scan as >= defaultParallelism splits make it a no-op; small or
    unknown leaves give one round-robin exchange to defaultParallelism.
    keyed_width is defaultParallelism. Neither runs a Spark job."""
    build, spreads = WIDTH_CASES[name]
    df = build(spark, tmp_path)
    sc = spark.sparkContext
    dp = sc.defaultParallelism
    group = f"width-rule-{name}"
    sc.setJobGroup(group, "partition-width rule")
    try:
        width = keyed_width(df)
        rr = f"RoundRobinPartitioning({dp})"
        added = physical_plan(spread(df)).count(rr) - physical_plan(df).count(rr)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert width == dp
    assert added == int(spreads)
