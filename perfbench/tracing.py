"""In-memory spans and counters around the engine's layer boundaries.

Tracing wraps public functions from the outside (module attributes and
``ManifestTable`` methods are swapped for timing wrappers) so the engine
itself is untouched. Each span records wall time, the number of Spark jobs
submitted (the DAG scheduler's job counter) and the number of py4j calls
made while it was open; a layer's self time is its spans' durations minus
the part covered by their direct child spans. Nothing is written until
``Tracer.summary``.

Per-operation executor metrics come from the status store with the UI
disabled: the operation's job ids -> ``getJobInfo(j).stageIds`` ->
``statusStore().lastStageAttempt(stage)``.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import os
import sys
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JError, Py4JJavaError

# (module, attribute or "Class.method", layer, span kind)
WRAPPED: list[tuple[str, str, str, str]] = [
    ("dca_manager_spark.session", "get_bench_session", "session", "start"),
    ("dca_manager_spark.io.readers", "load_table", "io.readers", "load_table"),
    ("dca_manager_spark.io.readers", "read_json_canonical", "io.readers", "read_json"),
    ("dca_manager_spark.pipeline.load_transactions", "load_transactions", "pipeline", "load"),
    ("dca_manager_spark.io.manifest", "ManifestTable.write", "io.manifest", "write"),
    ("dca_manager_spark.io.manifest", "ManifestTable.register", "io.manifest", "register"),
    ("dca_manager_spark.io.manifest", "ManifestTable.compact", "io.manifest", "compact"),
    ("dca_manager_spark.io.manifest", "ManifestTable.read", "io.manifest", "read"),
    ("dca_manager_spark.io.manifest", "manifest_sql", "io.manifest", "sql"),
    ("dca_manager_spark.partitioning", "spread", "partitioning", "spread"),
]
# Operator modules whose public functions get spans, by operator family.
OPERATOR_MODULES = {
    "dedup": ["dca_manager_spark.operators.dedup"],
    "similarity": ["dca_manager_spark.operators.similarity",
                   "dca_manager_spark.operators.embedding_index"],
    "text": ["dca_manager_spark.operators.text", "dca_manager_spark.operators.langid",
             "dca_manager_spark.operators.bpe", "dca_manager_spark.operators.corpus"],
    "multimodal": ["dca_manager_spark.operators.multimodal",
                   "dca_manager_spark.operators.jpeg", "dca_manager_spark.operators.flac"],
}


@dataclass
class Span:
    layer: str
    kind: str
    name: str
    parent: int
    t0: float
    j0: int
    p0: int
    t1: float = 0.0
    j1: int = 0
    p1: int = 0
    children: list[int] = field(default_factory=list)


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.py4j_calls = 0
        self._quiet = 0  # >0 while the tracer itself talks to the JVM
        self._next_job = lambda: 0
        self.stage_totals: dict[str, float] = {}
        self.catalyst: dict[str, float] = {"analysis": 0.0, "optimization": 0.0,
                                           "planning": 0.0}

    # -- wiring ------------------------------------------------------------
    def install(self) -> None:
        """Swap the wrappers in, once per process. Must run before the
        session starts so the session span and every later call are seen."""
        self._count_py4j()
        for mod_name, attr, layer, kind in WRAPPED:
            self._wrap(importlib.import_module(mod_name), attr, layer, kind)
        for family, mods in OPERATOR_MODULES.items():
            for mod_name in mods:
                mod = importlib.import_module(mod_name)
                for attr, obj in list(vars(mod).items()):
                    if (callable(obj) and not attr.startswith("_")
                            and getattr(obj, "__module__", None) == mod_name
                            and not isinstance(obj, type)):
                        self._wrap(mod, attr, f"operators.{family}", attr)

    def bind(self, spark) -> None:
        sc = spark.sparkContext
        dag = sc._jsc.sc().dagScheduler()
        self._next_job = lambda: int(dag.nextJobId())
        self._sc = sc

    def _count_py4j(self) -> None:
        from py4j.clientserver import JavaClient
        from py4j.java_gateway import GatewayClient

        tracer = self
        for cls in (JavaClient, GatewayClient):
            def send_command(self, *a, _orig=cls.send_command, **kw):
                if tracer.enabled and not tracer._quiet:
                    tracer.py4j_calls += 1
                return _orig(self, *a, **kw)

            cls.send_command = send_command

    def _wrap(self, mod, attr: str, layer: str, kind: str) -> None:
        owner, name = mod, attr
        if "." in attr:
            cls_name, name = attr.split(".")
            owner = getattr(mod, cls_name)
        orig = getattr(owner, name)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with tracer.span(layer, kind, attr):
                return orig(*a, **kw)

        setattr(owner, name, wrapper)
        if owner is mod:
            # names imported at module level elsewhere point at the original
            for other in list(sys.modules.values()):
                if (getattr(other, "__name__", "").startswith("dca_manager_spark")
                        and vars(other).get(attr) is orig):
                    setattr(other, attr, wrapper)

    # -- spans -------------------------------------------------------------
    def _jobs(self) -> int:
        self._quiet += 1
        try:
            return self._next_job()
        finally:
            self._quiet -= 1

    @contextlib.contextmanager
    def span(self, layer: str, kind: str, name: str):
        """A span around the block while tracing is on; nothing otherwise."""
        if not self.enabled:
            yield
            return
        idx = self.open(layer, kind, name)
        try:
            yield
        finally:
            self.close(idx)

    def open(self, layer: str, kind: str, name: str) -> int:
        parent = self.stack[-1] if self.stack else -1
        span = Span(layer, kind, name, parent, time.perf_counter(), self._jobs(),
                    self.py4j_calls)
        self.spans.append(span)
        idx = len(self.spans) - 1
        if parent >= 0:
            self.spans[parent].children.append(idx)
        self.stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        span = self.spans[idx]
        span.t1, span.j1, span.p1 = time.perf_counter(), self._jobs(), self.py4j_calls
        self.stack.pop()

    # -- executor metrics --------------------------------------------------
    def collect_stages(self, first_job: int, last_job: int) -> None:
        """Add the executor metrics of jobs [first_job, last_job)."""
        self._quiet += 1
        try:
            tracker = self._sc.statusTracker()
            store = self._sc._jsc.sc().statusStore()
            tot = self.stage_totals
            for j in range(first_job, last_job):
                info = tracker.getJobInfo(j)
                tot["jobs"] = tot.get("jobs", 0) + 1
                for sid in (info.stageIds if info else []):
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # stage no longer in the store
                        continue
                    if sd.status().toString() == "SKIPPED":
                        continue
                    for key, val in (
                        ("stages", 1),
                        ("tasks", sd.numCompleteTasks()),
                        ("task_run_s", sd.executorRunTime() / 1e3),
                        ("task_cpu_s", sd.executorCpuTime() / 1e9),
                        ("gc_s", sd.jvmGcTime() / 1e3),
                        ("input_bytes", sd.inputBytes()),
                        ("input_rows", sd.inputRecords()),
                        ("shuffle_read_bytes", sd.shuffleReadBytes()),
                        ("shuffle_write_bytes", sd.shuffleWriteBytes()),
                        ("spill_bytes", sd.memoryBytesSpilled() + sd.diskBytesSpilled()),
                    ):
                        tot[key] = tot.get(key, 0) + val
        finally:
            self._quiet -= 1

    def collect_catalyst(self, df) -> None:
        """Planning-phase times of a query frame's QueryExecution. The frame
        was evaluated through a sink that plans its own copy, so optimization
        and planning are forced here on the frame's execution (same logical
        plan) to read them."""
        self._quiet += 1
        try:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            for k in self.catalyst:
                if phases.contains(k):
                    p = phases.get(k).get()
                    self.catalyst[k] += (p.endTimeMs() - p.startTimeMs()) / 1e3
        except Py4JError:  # a plan without a tracker phase: report nothing
            pass
        finally:
            self._quiet -= 1

    # -- summary -----------------------------------------------------------
    def self_times(self) -> dict[tuple[str, str], dict[str, float]]:
        """(layer, kind) -> {"incl_s", "self_s", "jobs", "self_jobs",
        "py4j", "calls"} summed over spans."""
        out: dict[tuple[str, str], dict[str, float]] = {}
        for s in self.spans:
            if not s.t1:
                continue
            kids = [self.spans[c] for c in s.children]
            dur, jobs = s.t1 - s.t0, s.j1 - s.j0
            rec = out.setdefault((s.layer, s.kind), dict.fromkeys(
                ("incl_s", "self_s", "jobs", "self_jobs", "py4j", "calls"), 0.0))
            rec["incl_s"] += dur
            rec["self_s"] += dur - sum(k.t1 - k.t0 for k in kids)
            rec["jobs"] += jobs
            rec["self_jobs"] += jobs - sum(k.j1 - k.j0 for k in kids)
            rec["py4j"] += s.p1 - s.p0
            rec["calls"] += 1
        return out

    def dump(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([{"layer": s.layer, "kind": s.kind, "name": s.name,
                        "parent": s.parent, "start": s.t0, "end": s.t1,
                        "jobs": s.j1 - s.j0, "py4j_calls": s.p1 - s.p0}
                       for s in self.spans], fh)

