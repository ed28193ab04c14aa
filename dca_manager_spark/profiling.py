"""Measurement helpers shared by ``bench.py`` and the profiling scripts
(``scripts/profile_entry.py``, ``scripts/scale_curve.py``).

- :func:`persistent_ids` / :func:`release_storage`: free the
  ``localCheckpoint`` blocks a workload left behind. Leaked checkpoint
  storage from earlier workloads inflates later ones through executor GC
  pressure (measured: canonicalize_url@3M at 19.5s in a dirty session vs
  2.2s clean), and ``Dataset.unpersist()`` does NOT free a
  localCheckpoint's RDD, so this goes through ``getPersistentRDDs``.
- :func:`jvm_cpu_seconds`: the driver JVM's user+system CPU time. In
  local mode all executor work runs in that one process, so CPU over
  wall separates external contention (wall inflates, CPU stays flat)
  from a real regression. py4j cannot dispatch ``com.sun.management``
  methods on the platform MX bean, so this reads ``/proc/<pid>/stat``.
"""

from __future__ import annotations

import gc
import os

from pyspark.sql import SparkSession


def persistent_ids(spark: SparkSession) -> frozenset[int]:
    """Ids of the RDDs currently persisted (checkpoint blocks included)."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return frozenset(int(k) for k in m.keySet().toArray())


def release_storage(
    spark: SparkSession, protected: frozenset[int] = frozenset()
) -> None:
    """Unpersist every persisted RDD except ``protected`` (the ids taken
    by :func:`persistent_ids` before the workload started: pinned
    indexes a workload reuses across samples must survive). Call it once
    per workload, never per sample."""
    gc.collect()
    m = spark.sparkContext._jsc.getPersistentRDDs()
    for k in m.keySet().toArray():
        if int(k) not in protected:
            m.get(k).unpersist(True)


def jvm_cpu_seconds(spark: SparkSession) -> float | None:
    """utime + stime of the session's JVM in seconds; None where the pid
    or ``/proc`` is unavailable."""
    try:
        pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        with open(f"/proc/{pid}/stat") as fh:
            parts = fh.read().rsplit(")", 1)[1].split()
        # fields after comm: utime is index 11, stime 12 (0-based)
        return (int(parts[11]) + int(parts[12])) / os.sysconf("SC_CLK_TCK")
    except Exception:
        return None
