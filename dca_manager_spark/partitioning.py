"""Partition-width helpers shared by the CPU-heavy operators.

The guide's §2.5 "input skew" case in its smallest form: a corpus read
from FEW parquet files plans few scan partitions, and every narrow
projection above the scan inherits that width — so an expensive
per-row stage (shingle explode, quantized-cosine folds, codec
encode/decode in Python) runs on a handful of cores no matter how wide
the cluster is.

Neither helper plans the query physically or runs a job:

- :func:`spread` reads ONE number, the bytes of the optimized plan's
  leaf relations (:func:`_scan_bytes`), and round-robins to
  defaultParallelism (dp) unless those bytes are known and at least
  ``dp x spark.sql.files.openCostInBytes`` — the size from which
  Spark's file-split formula plans at least dp splits.
- :func:`keyed_width` is dp. A byte-proportional width above dp is
  open until a workload's keyed input reaches ``dp x 64MB``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Long.MaxValue: the optimizer's "size unknown" (RDD-backed leaves).
_UNKNOWN_BYTES = (1 << 63) - 1


def _scan_bytes(df: DataFrame) -> int | None:
    """Bytes held by the optimized plan's leaf relations; None when a
    leaf's size is unknown.

    Leaf statistics, not the root's: without CBO a join's estimate is
    the product of its children's, so a 100 KB x 10 KB join reads 1e9
    B at the root, while its leaves read what a scan of them splits
    (the file bytes, for a file relation). py4j returns each Scala
    BigInt as a Python int."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    total = 0
    for i in range(leaves.size()):
        size = int(leaves.apply(i).stats().sizeInBytes())
        if size >= _UNKNOWN_BYTES:
            return None
        total += size
    return total


def spread(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` to defaultParallelism (dp) partitions before a
    CPU-heavy per-row stage, unless its leaves already scan as at least
    dp splits.

    Spark sizes a file split as ``min(maxPartitionBytes,
    max(openCostInBytes, bytes / dp))``, so a scan of ``bytes >= dp x
    openCostInBytes`` plans at least dp splits: ``df`` is returned as is.
    A split count counts byte ranges, not row groups, so a single-file
    input whose one row group is split into dp ranges still reads on
    one core; a partition-count probe has the same blindness. Below the
    threshold, or when a leaf's size is unknown (an RDD-backed frame,
    whose width only a probe of its RDD tells), one exchange of the raw
    rows puts work on every core; an unknown-size frame wider than dp is
    narrowed to dp by it. Round-robin balances rows regardless of how
    skewed the file layout is, and Spark's sort-before-repartition keeps
    the row-to-partition assignment deterministic under task retry
    (SPARK-23207), so downstream results are stable.
    """
    spark = df.sparkSession
    dp = spark.sparkContext.defaultParallelism
    size = _scan_bytes(df)
    open_cost = spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()
    if size is not None and size >= dp * open_cost:
        return df
    return df.repartition(dp)


def keyed_width(df: DataFrame) -> int:
    """Partition count for an explicit ``repartition(n, key)`` feeding a
    CPU-heavy stage: defaultParallelism.

    WHY an explicit count at all: a bare ``repartition(key)`` is
    REPARTITION_BY_COL, which AQE's coalescer folds down purely by
    SHUFFLED BYTES — for stages whose cost is CPU per row (shingle
    assembly, per-gram hashing, codec work) that collapses the whole
    chain onto 1-2 cores whenever the bytes are small. An explicit
    count (REPARTITION_BY_NUM) is exempt from coalescing, so every core
    gets work. No keyed input of the catalog or the benchmark reaches
    ``dp x 64MB`` (the largest is under 1 MB), so a byte-proportional
    count above dp would be unmeasured.
    """
    return df.sparkSession.sparkContext.defaultParallelism
