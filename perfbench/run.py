"""Benchmark for the dca_manager_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads (closed loop, one client, against
``local[nproc]``; BENCHMARK.json lists the first two):

- ``corpus_jobs``   training-data operator entries through the noop sink
- ``dca_lakehouse`` upsert loads, SQL DML, reads and OPTIMIZE on one keyed
  manifest table
- ``olap_queries``  catalog analytics entries through the noop sink

One run generates the seeded inputs, starts the session and warms up with
one pass of the workload's own mix. In that pass a catalog workload
evaluates every entry through the noop sink as the timed passes do, then
collects it and compares it with its DuckDB oracle. The timed phase then
repeats whole passes until ``--seconds`` have elapsed (at least one pass).
Last, the lakehouse is checked against a DuckDB replay of its operation
log.

End-to-end metrics: ``setup_s`` is process start to end of warm-up,
``wall_s`` the timed-phase wall time per pass, ``query_p50_s`` the median
latency of the queries (catalog entries, or lakehouse reads; every median
latency is the Harrell-Davis estimate). The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 1``
the metrics are the per-layer ones of a traced repeat of the timed phase;
the untraced phase runs first, and their difference per pass is
``trace.overhead_s``. The line before holds the detail: environment,
sample counts, tail percentiles, last-versus-first latency drift, and the
share of the machine's CPU time stolen by its hypervisor during the timed
phase. Traced spans go to ``.perfbench_out/``.

Every run works in its own directory under ``.perfbench_tmp/`` (TMPDIR,
Spark local dirs, warehouse, generated data), which is deleted at exit.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "3g"


def _percentile_tail(samples: list[float]) -> tuple[float, float] | None:
    """(value, percentile) of the highest percentile with at least ten
    samples above it; None with fewer than 21 samples, where that
    percentile would fall below the median."""
    s = sorted(samples)
    n = len(s)
    i = n - 11
    return (s[i], 100.0 * (i + 1) / n) if i >= n // 2 else None


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def _hd_median(xs: list[float]) -> float:
    """Harrell-Davis estimate of the median: the order statistics weighted
    by a Beta((n+1)/2, (n+1)/2) density. On a few samples from a few
    distinct operations it moves less from run to run than the middle
    sample, which is one operation's single latency."""
    s = sorted(xs)
    n = len(s)
    if n < 3:  # Harrell-Davis equals the sample median here
        return _median(s)
    a, per = (n + 1) / 2, 64  # density points per order statistic
    pts = [k / (n * per) for k in range(n * per + 1)]
    dens = [(t * (1 - t)) ** (a - 1) for t in pts]
    cdf = [0.0]
    for lo, hi in zip(dens, dens[1:]):  # trapezoid rule
        cdf.append(cdf[-1] + (lo + hi) / 2)
    weights = [cdf[(i + 1) * per] - cdf[i * per] for i in range(n)]
    return sum(w * x for w, x in zip(weights, s)) / cdf[-1]


def _environment(args) -> dict:
    def git_sha():
        try:
            return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                  capture_output=True, text=True,
                                  timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            return None

    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {"nproc": os.cpu_count(), "ram_gb": round(mem_kb / 2**20, 1),
            "pyspark": pyspark.__version__, "seed": args.seed,
            "workload": args.workload, "git_sha": git_sha()}


def _isolate(run_dir: str) -> None:
    """Per-run scratch space, worker import path and session sizing, all
    set before the JVM starts."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        f"--conf spark.local.dir={os.path.join(run_dir, 'local')}",
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        "pyspark-shell",
    ])


class Harness:
    def __init__(self, spark, workload, tracer, cores: int):
        self.spark = spark
        self.w = workload
        self.tracer = tracer
        self.cores = cores
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        sc = spark.sparkContext
        self._dag = sc._jsc.sc().dagScheduler()
        self._jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())

    def persistent_ids(self) -> frozenset:
        m = self.spark.sparkContext._jsc.getPersistentRDDs()
        return frozenset(int(k) for k in m.keySet().toArray())

    def release(self, protected: frozenset = frozenset()) -> None:
        """Free localCheckpoint blocks left by the last operation (a
        Dataset.unpersist does not release a localCheckpoint's RDD)."""
        gc.collect()
        m = self.spark.sparkContext._jsc.getPersistentRDDs()
        for k in m.keySet().toArray():
            if int(k) not in protected:
                m.get(k).unpersist(True)

    def jvm_cpu_s(self) -> float:
        with open(f"/proc/{self._jvm_pid}/stat") as fh:
            parts = fh.read().rsplit(")", 1)[1].split()
        return (int(parts[11]) + int(parts[12])) / os.sysconf("SC_CLK_TCK")

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self._jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0

    def run_pass(self, samples: dict[str, list[float]], first: bool = False) -> float:
        """One pass of the mix; appends latency samples under the op kind,
        "ops" and "kind:name", and returns the pass wall time."""
        tracer = self.tracer
        protected = self.persistent_ids()
        start = time.perf_counter()
        for op in self.w.pass_ops(first=first):
            self.attempted += 1
            j0 = int(self._dag.nextJobId()) if tracer.enabled else 0
            df = None
            t0 = time.perf_counter()
            try:
                with tracer.span("op", op.kind, op.name):
                    df = op.run()
                dt = time.perf_counter() - t0
                for key in (op.kind, "ops", f"{op.kind}:{op.name}"):
                    samples.setdefault(key, []).append(dt)
            except Exception as exc:  # counted and reported; the run goes on
                self.failed += 1
                self.errors.append(f"{op.name}: {type(exc).__name__}: {str(exc)[:300]}")
            if tracer.enabled:
                tracer.collect_stages(j0, int(self._dag.nextJobId()))
                if op.kind == "query" and df is not None:
                    tracer.collect_catalyst(df)
            if hasattr(self.w, "after_op"):
                self.w.after_op()
            self.release(protected)
        return time.perf_counter() - start

    def timed(self, seconds: float) -> dict:
        """Whole passes until ``seconds`` have elapsed (at least one)."""
        samples: dict[str, list[float]] = {}
        walls: list[float] = []
        start = time.perf_counter()
        cpu0 = self.jvm_cpu_s()
        steal0 = _cpu_ticks()
        while not walls or time.perf_counter() - start < seconds:
            walls.append(self.run_pass(samples))
        return {"samples": samples, "walls": walls,
                "wall": time.perf_counter() - start,
                "jvm_cpu_s": self.jvm_cpu_s() - cpu0,
                "steal": _steal_share(steal0, _cpu_ticks())}


def _cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the machine's CPU time that its hypervisor gave to other
    guests in between. Timings taken while it is high read slow."""
    total = after[1] - before[1]
    return round((after[0] - before[0]) / total, 4) if total else 0.0


def _latency(samples: list[float]) -> dict:
    """Median and tail; with too few samples for a tail the tail is the
    median."""
    p50 = _hd_median(samples) if samples else 0.0
    tail, pct = (_percentile_tail(samples) if samples else None) or (p50, 50.0)
    return {"p50": p50, "tail": tail, "tail_pct": round(pct, 1), "n": len(samples)}


def _drift(samples: dict[str, list[float]]) -> float | None:
    """Median over operations that ran more than once in a phase of
    (last latency / first latency): 1.0 means the timed phase is flat."""
    ratios = [v[-1] / v[0] for k, v in samples.items() if ":" in k and len(v) > 1]
    return round(_median(ratios), 3) if ratios else None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "dca_manager_spark")):
        print(f"dca_manager_spark not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # import as a package, never as loose modules
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    _isolate(run_dir)
    try:
        return _run(args, run_dir)
    finally:
        _stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass


def _stop_spark() -> None:
    """Stop the session and wait for the JVM (and its Python workers) to end."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _run(args, run_dir: str) -> int:
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    tracer = Tracer()
    workload = WORKLOADS[args.workload](run_dir, args.seed, tracer)
    workload.prepare()
    if args.trace:
        tracer.install()
        tracer.enabled = True

    from dca_manager_spark.session import get_bench_session

    t_session = time.perf_counter()
    spark = get_bench_session(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t_session
    tracer.enabled = False
    if args.trace:
        tracer.bind(spark)
    h = Harness(spark, workload, tracer, os.cpu_count())

    # Warm-up: one pass of the workload's own mix (it checks the catalog
    # entries against their oracles, or runs each lakehouse operation
    # once). A run cannot afford to wait until latency stops falling (see
    # CHANGES.md).
    t_warm = time.perf_counter()
    workload.start(spark)
    warm_walls = [h.run_pass({}, first=True)]
    warmup_s = time.perf_counter() - t_warm
    setup_s = time.perf_counter() - _T0

    plain = h.timed(args.seconds)
    traced = None
    if args.trace:
        tracer.enabled = True
        traced = h.timed(args.seconds)
        tracer.enabled = False

    fin = workload.finish()
    n_checks, mismatches = fin.pop("checks"), fin.pop("mismatches")
    correct = not mismatches

    s = plain["samples"]
    queries = _latency(s.get("query", []))
    wall_per_pass = plain["wall"] / len(plain["walls"])
    e2e = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall_per_pass, "s"),
        "query_p50_s": (queries["p50"], "s"),
    }
    detail = {
        "environment": _environment(args),
        "passes": {"warmup": [round(w, 3) for w in warm_walls],
                   "timed": [round(w, 3) for w in plain["walls"]]},
        "latency": {k: _latency(v) for k, v in s.items()},
        "drift_last_over_first": _drift(s),
        "steal_share": plain["steal"],
        "checks": n_checks,
        "mismatches": mismatches[:20],
        "errors": h.errors[:20],
        "lakehouse": fin,
    }
    if args.trace:
        metrics = _layer_metrics(h, plain, traced, fin, session_start_s, warmup_s)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
    else:
        metrics = e2e
    detail["end_to_end"] = {k: round(v, 6) for k, (v, _) in e2e.items()}
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.stdout.flush()
    return 0 if correct else 1


def _layer_metrics(h: Harness, plain: dict, traced: dict, fin: dict,
                   session_start_s: float, warmup_s: float) -> dict:
    tracer = h.tracer
    passes = len(traced["walls"])
    per = 1.0 / passes
    st = tracer.stage_totals
    sums = tracer.self_times()

    def span(layer, kind=None, key="self_s"):
        return sum(v[key] for (lay, k), v in sums.items()
                   if lay == layer and (kind is None or k == kind)) * per

    op_wall = span("op", key="incl_s") / per if passes else 0.0
    s = plain["samples"]
    loads, dmls = _latency(s.get("load", [])), _latency(s.get("dml", []))
    wall_traced = traced["wall"] / passes
    wall_plain = plain["wall"] / len(plain["walls"])
    build_s = span("plans", "build", "incl_s")
    m = {
        "session.start_s": (session_start_s, "s"),
        "session.warmup_s": (warmup_s, "s"),
        "plans.build_s": (build_s, "s"),
        "plans.build_jobs": (span("plans", "build", "jobs"), "count"),
        "plans.py4j_calls": (span("plans", "build", "py4j"), "count"),
        "plans.build_share": (build_s / wall_traced, "ratio"),
        "operators.dedup_s": (span("operators.dedup"), "s"),
        "operators.similarity_s": (span("operators.similarity"), "s"),
        "operators.text_s": (span("operators.text"), "s"),
        "operators.multimodal_s": (span("operators.multimodal"), "s"),
        "partitioning.spread_s": (span("partitioning", "spread", "incl_s"), "s"),
        "partitioning.spread_calls": (span("partitioning", "spread", "calls"), "count"),
        "catalyst.analysis_s": (tracer.catalyst["analysis"] * per, "s"),
        "catalyst.optimization_s": (tracer.catalyst["optimization"] * per, "s"),
        "catalyst.planning_s": (tracer.catalyst["planning"] * per, "s"),
        "exec.action_s": (span("exec", "action", "incl_s"), "s"),
        "exec.jobs": (st.get("jobs", 0) * per, "count"),
        "exec.stages": (st.get("stages", 0) * per, "count"),
        "exec.tasks": (st.get("tasks", 0) * per, "count"),
        "exec.task_run_s": (st.get("task_run_s", 0) * per, "s"),
        "exec.task_cpu_s": (st.get("task_cpu_s", 0) * per, "s"),
        "exec.gc_s": (st.get("gc_s", 0) * per, "s"),
        "exec.shuffle_read_bytes": (st.get("shuffle_read_bytes", 0) * per, "bytes"),
        "exec.shuffle_write_bytes": (st.get("shuffle_write_bytes", 0) * per, "bytes"),
        "exec.spill_bytes": (st.get("spill_bytes", 0) * per, "bytes"),
        "exec.slot_util": (st.get("task_run_s", 0) / (op_wall * h.cores)
                           if op_wall else 0.0, "ratio"),
        "exec.jvm_cpu_s": (traced["jvm_cpu_s"] * per, "s"),
        "exec.jvm_peak_rss_mb": (h.jvm_peak_rss_mb(), "MB"),
        "io.readers.input_bytes": (st.get("input_bytes", 0) * per, "bytes"),
        "io.readers.input_rows": (st.get("input_rows", 0) * per, "count"),
        "pipeline.load_self_s": (span("pipeline", "load"), "s"),
        "pipeline.load_p50_s": (loads["p50"], "s"),
        "pipeline.load_tail_s": (loads["tail"], "s"),
        "io.manifest.write_s": (span("io.manifest", "write"), "s"),
        "io.manifest.write_jobs": (span("io.manifest", "write", "self_jobs"), "count"),
        "io.manifest.register_s": (span("io.manifest", "register"), "s"),
        "io.manifest.read_s": (span("io.manifest", "read"), "s"),
        "io.manifest.sql_s": (span("io.manifest", "sql"), "s"),
        "io.manifest.sql_jobs": (span("io.manifest", "sql", "self_jobs"), "count"),
        "io.manifest.compact_s": (span("io.manifest", "compact"), "s"),
        "io.manifest.dml_p50_s": (dmls["p50"], "s"),
        "io.manifest.dml_tail_s": (dmls["tail"], "s"),
        "io.manifest.files_written": (fin.get("files_written", 0), "count"),
        "io.manifest.bytes_written": (fin.get("bytes_written", 0), "bytes"),
        "io.manifest.live_files": (fin.get("live_files", 0), "count"),
        "io.manifest.manifest_bytes": (fin.get("manifest_bytes", 0), "bytes"),
        "io.manifest.write_amp": (fin.get("write_amp", 0.0), "ratio"),
        "io.manifest.space_amp": (fin.get("space_amp", 0.0), "ratio"),
        "error_rate": (h.failed / h.attempted if h.attempted else 0.0, "ratio"),
        "trace.overhead_s": (wall_traced - wall_plain, "s"),
    }
    return m


if __name__ == "__main__":
    sys.exit(main())
