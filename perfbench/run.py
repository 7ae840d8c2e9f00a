#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_jobs --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

One run sets the workload up several times (session start, the inputs
generated from ``--seed``, the workload's own preparation), computes the
expected results, runs warm-up passes, then runs the workload's operation
list in a closed loop for ``--seconds`` and checks every output.
``--trace 1`` then runs traced passes for ``--seconds`` more and reports
the per-layer metrics instead of the end-to-end ones.

Standard output: one ``{"report": ...}`` line with everything measured
(host, probes, every metric, failures), then, last, the result line
``{"correct", "attempted", "failed", "metrics"}``. ``--smoke`` runs every
workload once at sf0.001 and prints one report line per workload.

Everything the run writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

SF = 0.01
SMOKE_SF = 0.001
SETUP_REPS = 5
# at least three passes, so each operation's median rejects one disturbed sample
MIN_PASSES = 3
JVM_INITIAL_HEAP = "3g"

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "op_p90_s": "s",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name and its unit, for all workloads."""
    from workloads import TABLE_VERBS, all_ops

    units = {
        "session.start_s": "s",
        "session.warmup_s": "s",
        "plans.build_s": "s",
        "plans.eager_jobs": "count",
        "catalyst.analysis_s": "s",
        "catalyst.optimization_s": "s",
        "catalyst.planning_s": "s",
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "exec.run_s": "s",
        "exec.cpu_s": "s",
        "exec.gc_s": "s",
        "exec.busy_share": "ratio",
        "exec.task_skew": "ratio",
        "io.input_bytes": "bytes",
        "io.output_bytes": "bytes",
        "shuffle.read_bytes": "bytes",
        "shuffle.write_bytes": "bytes",
        "spill.disk_bytes": "bytes",
        "spill.memory_bytes": "bytes",
        "functions.py_boot_s": "s",
        "functions.py_init_s": "s",
        "functions.py_run_s": "s",
        "functions.py_bytes_sent": "bytes",
        "functions.py_bytes_received": "bytes",
    }
    for w, ops in all_ops().items():
        if w != "table_writes":
            units.update({f"query.{op}_s": "s" for op in ops})
    units.update({f"snapshots.{v}_s": "s" for v in TABLE_VERBS})
    units.update(
        {
            "snapshots.jobs_per_verb": "count",
            "snapshots.attempts": "count",
            "snapshots.conflicts": "count",
            "snapshots.commit_share": "ratio",
            "snapshots.versions": "count",
            "snapshots.bytes_written": "bytes",
            "snapshots.log_bytes": "bytes",
            "snapshots.files_live": "count",
            "snapshots.write_amp": "ratio",
            "snapshots.space_amp": "ratio",
            "streaming.batches": "count",
            "streaming.trigger_s": "s",
            "streaming.add_batch_s": "s",
            "streaming.wal_commit_s": "s",
            "streaming.state_rows": "count",
            "streaming.state_bytes": "bytes",
            "failed_share": "ratio",
            "trace.overhead_s": "s",
        }
    )
    return units


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", default=None, help="default: batch_jobs (all with --smoke)")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="every workload once at sf0.001")
    return p.parse_args(argv)


def prepare_env(tag: str) -> str:
    """Keep every file the run writes inside the checkout."""
    work = os.path.join(WORK_ROOT, tag)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # gettempdir() caches the first TMPDIR it sees
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_STATS_CACHE"] = os.path.join(work, "stats_cache")
    # half the cores: the driver JVM's compiler and GC threads, the Python
    # driver and the Python workers then run beside the task threads instead
    # of taking turns with them (on a 4-core VM a table_writes pass took
    # about 8 s on local[4] and 6 s on local[2])
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, (os.cpu_count() or 4) // 2)))
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    return work


def session_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        # keep every job and stage of a run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.local.dir": tmp,
        # a pre-touched initial heap: peak RSS then moves with the memory a
        # run needs beyond it, not with when G1 happened to grow the heap
        "spark.driver.extraJavaOptions": (
            f"-Xms{JVM_INITIAL_HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp}"
        ),
    }


def host_info() -> dict:
    import pyarrow
    import pyspark

    cpu = ""
    try:
        with open("/proc/cpuinfo") as f:
            cpu = next((ln.split(":", 1)[1].strip() for ln in f if ln.startswith("model name")), "")
    except OSError:
        pass
    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "cpu_model": cpu,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


def probe(spark) -> float | None:
    """bench.py's fixed 50M-row calibration probe (recorded, never applied)."""
    try:
        from bench import _probe_once
    except ImportError:
        return None
    return _probe_once(spark)


def peak_rss_mb(spark) -> float:
    jvm_kb = 0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for ln in f:
            if ln.startswith("VmHWM:"):
                jvm_kb = int(ln.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def cpu_counters(spark) -> dict[str, float]:
    """CPU seconds of the driver JVM (and of its JIT compiler threads) and
    of this process, and the machine's stolen and total CPU seconds
    (``/proc/stat``), for the report."""
    tick = os.sysconf("SC_CLK_TCK")
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    def cpu_of(stat_path: str) -> tuple[str, float]:
        with open(stat_path) as f:
            text = f.read()
        name = text[text.index("(") + 1:text.rindex(")")]
        fields = text.rsplit(")", 1)[1].split()
        return name, (int(fields[11]) + int(fields[12])) / tick

    jvm = cpu_of(f"/proc/{pid}/stat")[1]
    jit = 0.0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            name, secs = cpu_of(f"/proc/{pid}/task/{tid}/stat")
        except OSError:  # the thread ended
            continue
        if "CompilerThre" in name:
            jit += secs
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    t = os.times()
    return {
        "wall_s": time.perf_counter(),
        "jvm_cpu_s": jvm,
        "jit_cpu_s": jit,
        "py_cpu_s": t.user + t.system,
        "host_steal_s": cpu[7] / tick if len(cpu) > 7 else 0.0,
        "host_total_s": sum(cpu[:8]) / tick,
    }


def pctl(values: list[float], q: float) -> float:
    values = sorted(values)
    if len(values) == 1:
        return values[0]
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[round(q * 100) - 1]


class Runner:
    def __init__(self, workload: str, seed: int, sf: float, work: str):
        import workloads

        self.wl = workloads.make(workload)
        self.seed = seed
        self.sf = sf
        self.work = work
        self.spark = None
        self.ctx = None
        self.session_s: list[float] = []
        self.gen_s: list[float] = []
        self.setup_s: list[float] = []

    # set-up -------------------------------------------------------------------

    def setup(self, reps: int) -> None:
        from datagen import write_tables
        from layers import Tracer
        from workloads import Ctx

        from hadoop_prototype_spark.session import default_parallelism, get_spark

        for k in range(reps):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark(app_name="perfbench", extra_conf=session_conf(self.work))
            self.session_s.append(time.perf_counter() - t0)
            sf_dir = os.path.join(self.work, "inputs")
            shutil.rmtree(sf_dir, ignore_errors=True)
            write_tables(sf_dir, self.seed, self.sf)
            self.gen_s.append(time.perf_counter() - t0 - self.session_s[-1])
            tracer = Tracer(
                self.spark,
                os.path.join(WORK_ROOT, "traces", f"{self.wl.name}-seed{self.seed}.jsonl"),
            )
            self.ctx = Ctx(
                self.spark, sf_dir, self.work, self.seed, self.sf,
                default_parallelism(), tracer,
            )
            self.wl.prepare(self.ctx)
            self.setup_s.append(time.perf_counter() - t0)
        self.wl.expect(self.ctx)

    def warm_up(self) -> None:
        """One untimed pass: the first pass in a JVM runs 3-4x slower than
        the steady state. The next passes are within about 10% of it, and
        the operations' medians over the timed passes absorb the rest."""
        t0 = time.perf_counter()
        self.wl.run_pass(self.ctx, -1)
        self.warmup_s = time.perf_counter() - t0

    # passes -------------------------------------------------------------------

    def one_pass(self, pass_no: int):
        t0 = time.perf_counter()
        samples = self.wl.run_pass(self.ctx, pass_no)
        pass_s = time.perf_counter() - t0 - self.wl.check_s
        self.wl.check(self.ctx, samples)
        return pass_s, samples

    def loop(self, seconds: float, first_pass: int, traced: bool, min_passes: int):
        tracer = self.ctx.tracer
        if traced:
            tracer.wrap_snapshots()
        passes = []
        t_end = time.perf_counter() + seconds
        n = first_pass
        while len(passes) < min_passes or time.perf_counter() < t_end:
            tracer.enabled = traced
            tracer.run_id = f"{self.wl.name}-{self.seed}-{n}"
            before = (dict(tracer.verb_calls), tracer.conflicts, tracer.commits)
            pass_s, samples = self.one_pass(n)
            tracer.enabled = False
            layers = self.layers(pass_s, samples, before) if traced else None
            passes.append((pass_s, samples, layers))
            n += 1
        return passes

    # per-layer ----------------------------------------------------------------

    def layers(self, pass_s: float, samples, before) -> dict[str, float]:
        from layers import COMMITTING, StatusReader, catalyst_phases, python_metrics

        tr = self.ctx.tracer
        reader = StatusReader(self.spark)
        spans = [s for s in tr.spans if s.run_id == tr.run_id]
        kids: dict[str, list] = {}
        for s in spans:
            kids.setdefault(s.parent, []).append(s)

        def subtree(sp):
            out, todo = [], [sp]
            while todo:
                cur = todo.pop()
                out.append(cur)
                todo.extend(kids.get(cur.id, []))
            return out

        m: dict[str, float] = {}

        def add(key, v):
            m[key] = m.get(key, 0.0) + v

        skews = []
        verb_jobs = 0
        for s in samples:
            if s.span is None:
                continue
            spans_op = [sp for sp in subtree(s.span) if sp.layer != "check"]
            groups = [reader.group(sp.id) for sp in spans_op]
            for sp, g in zip(spans_op, groups):
                if sp.name == "plans.build":
                    add("plans.build_s", sp.end - sp.start)
                    add("plans.eager_jobs", g["spark.jobs"])
                if sp.layer == "snapshots":
                    verb_jobs += g["spark.jobs"]
            if s.op == "stream" and not s.errors:
                groups.append(reader.group(str(self.wl.stream_query.runId)))
                self.stream_layers(m, self.wl.stream_query)
            for g in groups:
                for k, v in g.items():
                    if k not in StatusReader.NOT_SUMMED:
                        add(k, v)
            longest = max(groups, key=lambda g: g["longest_stage_ms"], default=None)
            skews.append(longest["exec.task_skew"] if longest else 0.0)
            if s.frame is not None:
                for ph, v in catalyst_phases(s.frame).items():
                    add(f"catalyst.{ph}_s", v)
                for k, v in python_metrics(s.frame).items():
                    add(k, v)
        m["exec.task_skew"] = max(skews) if skews else 0.0
        m["exec.busy_share"] = m.get("exec.run_s", 0.0) / (pass_s * self.ctx.cores)
        if self.wl.name == "table_writes":
            calls0, conf0, com0 = before
            attempts = sum(
                n - calls0.get(v, 0) for v, n in tr.verb_calls.items() if v in COMMITTING
            )
            n_verbs = sum(n - calls0.get(v, 0) for v, n in tr.verb_calls.items())
            m["snapshots.attempts"] = float(attempts)
            m["snapshots.conflicts"] = float(tr.conflicts - conf0)
            m["snapshots.commit_share"] = (tr.commits - com0) / max(attempts, 1)
            m["snapshots.jobs_per_verb"] = verb_jobs / max(n_verbs, 1)
            m.update(self.wl.table_stats())
            by_verb: dict[str, list[float]] = {}
            for s in samples:
                by_verb.setdefault(s.op, []).append(s.seconds)
            for v, xs in by_verb.items():
                m[f"snapshots.{v}_s"] = statistics.median(xs)
        else:
            for s in samples:
                m[f"query.{s.op}_s"] = s.seconds
        return m

    @staticmethod
    def stream_layers(m: dict, q) -> None:
        prog = q.recentProgress
        m["streaming.batches"] = float(len(prog))

        def dur(p, key):
            return (p.durationMs or {}).get(key, 0) / 1000.0

        m["streaming.trigger_s"] = sum(dur(p, "triggerExecution") for p in prog)
        m["streaming.add_batch_s"] = sum(dur(p, "addBatch") for p in prog)
        m["streaming.wal_commit_s"] = sum(dur(p, "walCommit") for p in prog)
        last = prog[-1].stateOperators if prog else []
        m["streaming.state_rows"] = float(sum(op.numRowsTotal for op in last))
        m["streaming.state_bytes"] = float(sum(op.memoryUsedBytes for op in last))

    # teardown -----------------------------------------------------------------

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.ctx.tracer.write()
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def summarize(runner: Runner, timed, traced) -> tuple[dict, dict, dict]:
    """End-to-end metrics, per-layer metrics (traced only) and the tally.

    ``run_s`` is one pass of the operation list built from each operation's
    median over the timed passes, and ``op_p90_s`` the 90th percentile of
    those medians: a disturbance that hits one operation in one pass drops
    out, and, unlike a percentile over pooled samples, the operations it
    lands between do not depend on how many passes fitted in the run.
    """
    pass_s = [p[0] for p in timed]
    op_s = [s.seconds for p in timed for s in p[1]]
    op_median = {
        op: statistics.median(s.seconds for p in timed for s in p[1] if s.op == op)
        for op in dict.fromkeys(s.op for s in timed[0][1])
    }
    every = [s for p in timed + (traced or []) for s in p[1]]
    failed = [s for s in every if s.errors]
    e2e = {
        "setup_s": statistics.median(runner.setup_s),
        "run_s": sum(op_median.values()),
        "op_p90_s": pctl(list(op_median.values()), 0.9),
        "peak_rss_mb": peak_rss_mb(runner.spark),
    }
    tally = {
        "attempted": len(every),
        "failed": len(failed),
        "op_samples": len(op_s),
        "passes": len(timed),
        "pass_s": pass_s,
        "pass_median_s": statistics.median(pass_s),
        "op_median_s": op_median,
        "errors": sorted({e for s in failed for e in s.errors})[:20],
    }
    # end-to-end figures that are not result metrics: a share that is 0 on
    # a correct tree; the median operation, which is one of the sub-0.3 s
    # operations and wanders with them; and two ratios only table_writes has
    extra = {
        "failed_share": (len(failed) / len(every), "ratio"),
        "op_p50_s": (pctl(list(op_median.values()), 0.5), "s"),
    }
    if runner.wl.name == "table_writes":
        stats = runner.wl.table_stats()
        extra["write_amp"] = (stats["snapshots.write_amp"], "ratio")
        extra["space_amp"] = (stats["snapshots.space_amp"], "ratio")
    tally["workload_metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in extra.items()}
    layer = {}
    if traced:
        keys = per_layer_units()
        for k in keys:
            layer[k] = statistics.median([p[2].get(k, 0.0) for p in traced])
        layer["session.start_s"] = statistics.median(runner.session_s)
        layer["session.warmup_s"] = runner.warmup_s
        layer["failed_share"] = extra["failed_share"][0]
        layer["trace.overhead_s"] = (
            statistics.median(p[0] for p in traced) - tally["pass_median_s"]
        )
    return e2e, layer, tally


def run_workload(name: str, seed: int, seconds: float, trace: bool, sf: float,
                 setup_reps: int, min_passes: int, tag: str) -> dict:
    t_start = time.perf_counter()
    work = prepare_env(tag)
    # fails here, with a non-zero exit, where the engine is absent
    import hadoop_prototype_spark  # noqa: F401

    runner = Runner(name, seed, sf, work)
    stages = {}

    def mark(stage: str) -> None:
        stages[stage] = time.perf_counter() - t_start - sum(stages.values())

    try:
        mark("import")
        runner.setup(setup_reps)
        mark("setup")
        runner.warm_up()
        mark("warm_up")
        probe_before = probe(runner.spark)
        c0 = cpu_counters(runner.spark)
        timed = runner.loop(seconds, 0, False, min_passes)
        c1 = cpu_counters(runner.spark)
        mark("timed")
        traced = runner.loop(seconds, len(timed), True, min_passes) if trace else None
        mark("traced")
        probe_after = probe(runner.spark)
        e2e, layer, tally = summarize(runner, timed, traced)
        self_s = None
        if trace:
            from layers import self_times

            spans = [sp for sp in runner.ctx.tracer.spans if sp.layer != "check"]
            self_s = {k: v / len(traced) for k, v in self_times(spans).items()}
    finally:
        runner.close()
        shutil.rmtree(work, ignore_errors=True)
    mark("close")
    return {
        "stage_s": stages,
        "workload": name,
        "seed": seed,
        "sf": sf,
        "seconds": seconds,
        "host": host_info(),
        "probe_50m_s": {"before": probe_before, "after": probe_after},
        # where the timed passes' wall time went: CPU of the two processes
        # (Python workers not counted), the JVM's JIT compiler threads' part
        # of it, and the share of the machine's CPU time stolen by the
        # hypervisor
        "timed_cpu": {
            "wall_s": c1["wall_s"] - c0["wall_s"],
            "jvm_cpu_s": c1["jvm_cpu_s"] - c0["jvm_cpu_s"],
            "jit_cpu_s": c1["jit_cpu_s"] - c0["jit_cpu_s"],
            "py_cpu_s": c1["py_cpu_s"] - c0["py_cpu_s"],
            "host_steal_share": (c1["host_steal_s"] - c0["host_steal_s"])
            / max(c1["host_total_s"] - c0["host_total_s"], 1e-9),
        },
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
        "per_layer": (
            {k: {"value": v, "unit": per_layer_units()[k]} for k, v in layer.items()}
            if trace else None
        ),
        "layer_self_s_per_pass": self_s,
        "setup_runs_s": runner.setup_s,
        "setup_session_s": runner.session_s,
        "setup_inputs_s": runner.gen_s,
        "warmup_s": runner.warmup_s,
        **tally,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    if args.smoke:
        from workloads import WORKLOADS

        ok = True
        for name in [args.workload] if args.workload else WORKLOADS:
            rep = run_workload(
                name, args.seed, 0.0, True, SMOKE_SF, 1, 1, f"smoke-{name}"
            )
            print(json.dumps({"report": rep}), flush=True)
            ok = ok and rep["failed"] == 0
        return 0 if ok else 1
    rep = run_workload(
        args.workload or "batch_jobs", args.seed, args.seconds, bool(args.trace), SF,
        SETUP_REPS, MIN_PASSES, f"{args.workload or 'batch_jobs'}-{args.seed}-{os.getpid()}",
    )
    print(json.dumps({"report": rep}), flush=True)
    metrics = rep["per_layer"] if args.trace else rep["end_to_end"]
    print(
        json.dumps(
            {
                "correct": rep["failed"] == 0,
                "attempted": rep["attempted"],
                "failed": rep["failed"],
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
