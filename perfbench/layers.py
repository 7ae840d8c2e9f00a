"""Per-layer measurement from outside the engine.

Nothing here changes ``hadoop_prototype_spark``. A layer is measured by
timing and counting the calls the benchmark makes into its public entry
points, and by reading what Spark itself records about those calls:

- every traced call runs inside a :class:`Tracer` span, and each span sets
  its own Spark job group, so the status store's job, stage and task
  counters attach to the span that fired them;
- Catalyst phase times come from ``queryExecution().tracker().phases()``;
- the Python/Arrow boundary comes from the SQL metrics (``pythonBootTime``,
  ``pythonInitTime``, ``pythonTotalTime``, ``pythonDataSent``,
  ``pythonDataReceived``) of the Python exec nodes in each result's plan;
- snapshot-table verbs are wrapped where they live, in the
  ``sources.snapshots`` module, so attempts made by the engine's own retry
  loop are counted too.

Spans stay in memory and are written out once, at exit.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

PYTHON_METRICS = {
    "pythonBootTime": "functions.py_boot_s",
    "pythonInitTime": "functions.py_init_s",
    "pythonTotalTime": "functions.py_run_s",
    "pythonDataSent": "functions.py_bytes_sent",
    "pythonDataReceived": "functions.py_bytes_received",
}
PHASES = ("analysis", "optimization", "planning")

# snapshot verbs wrapped in a traced run: module attribute -> span name
SNAPSHOT_VERBS = {
    "create_table": "snapshots.create",
    "merge_into": "snapshots.merge",
    "delete_from": "snapshots.delete",
    "append_table": "snapshots.append",
    "read_table_pruned": "snapshots.lookup",
    "optimize": "snapshots.optimize",
    "vacuum": "snapshots.vacuum",
}
# verbs that commit a version when they return
COMMITTING = {"create_table", "merge_into", "delete_from", "append_table", "optimize"}


@dataclass
class Span:
    id: str
    name: str
    layer: str
    run_id: str
    parent: str | None
    start: float
    end: float = 0.0
    thread: int = 0


class Tracer:
    """Nested spans, one Spark job group per span.

    ``enabled`` is checked on every call, so a process can alternate
    traced and untraced passes with the wrappers installed.
    """

    def __init__(self, spark, out_path: str | None = None):
        self.spark = spark
        self.out_path = out_path
        self.enabled = False
        self.run_id = ""
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._n = 0
        self.verb_calls: dict[str, int] = {}
        self.conflicts = 0
        self.commits = 0

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span.id, span.name)

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else getattr(self._local, "root", None)
        with self._lock:
            self._n += 1
            sid = f"pb{self._n}"
        sp = Span(
            id=sid,
            name=name,
            layer=layer,
            run_id=self.run_id,
            parent=parent.id if parent else None,
            start=time.perf_counter(),
            thread=threading.get_ident(),
        )
        stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self._set_group(stack[-1] if stack else parent)
            with self._lock:
                self.spans.append(sp)

    def adopt(self, parent: Span | None) -> None:
        """Make ``parent`` the enclosing span of the calling worker thread."""
        self._local.root = parent

    def write(self) -> None:
        if not self.out_path or not self.spans:
            return
        os.makedirs(os.path.dirname(self.out_path), exist_ok=True)
        with open(self.out_path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(sp)) + "\n")

    # -- snapshot verb wrappers -------------------------------------------

    def wrap_snapshots(self) -> None:
        """Route the snapshot verbs through this tracer (wrapping them once
        per process)."""
        from hadoop_prototype_spark.sources import snapshots as sn

        if _VERB_TRACER[0] is None:
            for attr, span_name in SNAPSHOT_VERBS.items():
                setattr(sn, attr, _wrap_verb(getattr(sn, attr), attr, span_name))
        _VERB_TRACER[0] = self

    def record_verb(self, attr: str, event: str) -> None:
        """Count one call, lost commit race or commit of a snapshot verb."""
        with self._lock:
            if event == "call":
                self.verb_calls[attr] = self.verb_calls.get(attr, 0) + 1
            elif event == "conflict":
                self.conflicts += 1
            elif attr in COMMITTING:
                self.commits += 1


# the tracer the wrapped snapshot verbs report to
_VERB_TRACER: list[Tracer | None] = [None]


def _wrap_verb(fn, attr: str, span_name: str):
    from hadoop_prototype_spark.sources.snapshots import ConflictError

    @functools.wraps(fn)
    def wrapper(*a, **kw):
        tr = _VERB_TRACER[0]
        if tr is None or not tr.enabled:
            return fn(*a, **kw)
        tr.record_verb(attr, "call")
        with tr.span(span_name, "snapshots"):
            try:
                out = fn(*a, **kw)
            except ConflictError:
                tr.record_verb(attr, "conflict")
                raise
        tr.record_verb(attr, "commit")
        return out

    return wrapper


# -- reading Spark's own records --------------------------------------------


def catalyst_phases(df) -> dict[str, float]:
    """Seconds per Catalyst phase of ``df``'s query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for p in PHASES:
        opt = phases.get(p)
        out[p] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out


def python_metrics(df) -> dict[str, float]:
    """Summed SQL metrics of the Python exec nodes in ``df``'s final plan."""
    totals = {v: 0.0 for v in PYTHON_METRICS.values()}

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key = PYTHON_METRICS.get(kv._1())
            if key:
                metric = kv._2()
                scale = {"timing": 1e-3, "nsTiming": 1e-9}.get(metric.metricType(), 1.0)
                totals[key] += metric.value() * scale
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            walk(node.plan())
        elif cls == "ReusedExchangeExec":
            return
        ch = node.children().iterator()
        while ch.hasNext():
            walk(ch.next())

    walk(df._jdf.queryExecution().executedPlan())
    return totals


class StatusReader:
    """Job, stage and task counters of a job group, from the status store."""

    NOT_SUMMED = ("exec.task_skew", "longest_stage_ms")

    STAGE_FIELDS = {
        "exec.run_s": ("executorRunTime", 1e-3),
        "exec.cpu_s": ("executorCpuTime", 1e-9),
        "exec.gc_s": ("jvmGcTime", 1e-3),
        "io.input_bytes": ("inputBytes", 1),
        "io.output_bytes": ("outputBytes", 1),
        "shuffle.read_bytes": ("shuffleReadBytes", 1),
        "shuffle.write_bytes": ("shuffleWriteBytes", 1),
        "spill.disk_bytes": ("diskBytesSpilled", 1),
        "spill.memory_bytes": ("memoryBytesSpilled", 1),
    }

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_q = gw.new_array(gw.jvm.double, 0)
        self._q = gw.new_array(gw.jvm.double, 2)
        self._q[0] = 0.5
        self._q[1] = 1.0

    def group(self, group_id: str) -> dict:
        """Totals over every job of ``group_id`` plus the task skew of its
        longest stage (max over median task run time)."""
        out = {k: 0.0 for k in self.STAGE_FIELDS}
        out.update({"spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0})
        longest = (-1.0, None)
        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(group_id):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out["spark.jobs"] += 1
            for sid in info.stageIds:
                seq = self.store.stageData(sid, False, self._no_status, False, self._no_q)
                for i in range(seq.size()):
                    st = seq.apply(i)
                    out["spark.stages"] += 1
                    out["spark.tasks"] += st.numTasks()
                    for key, (getter, scale) in self.STAGE_FIELDS.items():
                        out[key] += getattr(st, getter)() * scale
                    if st.executorRunTime() > longest[0]:
                        longest = (float(st.executorRunTime()), (sid, st.attemptId()))
        out["exec.task_skew"] = self._skew(*longest[1]) if longest[1] else 0.0
        out["longest_stage_ms"] = max(longest[0], 0.0)
        return out

    def _skew(self, stage_id: int, attempt: int) -> float:
        summary = self.store.taskSummary(stage_id, attempt, self._q)
        if not summary.isDefined():
            return 0.0
        run = summary.get().executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        return mx / med if med > 0 else 1.0


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per layer: each span's duration minus the part of it that
    its child spans cover, summed per layer (over threads, so concurrent
    spans add up)."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent:
            kids.setdefault(sp.parent, []).append((sp.start, sp.end))
    out: dict[str, float] = {}
    for sp in spans:
        covered, reach = 0.0, sp.start
        for lo, hi in sorted(kids.get(sp.id, [])):
            lo, hi = max(lo, reach), min(hi, sp.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[sp.layer] = out.get(sp.layer, 0.0) + (sp.end - sp.start) - covered
    return out
