"""Run machinery shared by the workloads: Spark set-up and teardown,
operation timing, per-operation Spark job statistics, state probes
and the metric summary."""

from __future__ import annotations

import math
import os
import resource
import shutil
import statistics
import subprocess
import time
from dataclasses import dataclass, field

# End-to-end metrics (name -> unit). An "op" is the workload's
# closed-loop operation: one ad-hoc query on adhoc_tpch, one commit
# until every dependent view has been read back on mv_churn_small. Ops
# rotate over keys (the 8 queries, the 7 committed tables) whose costs
# differ several-fold, and each key's cost shifts between runs on its
# own (JIT and plan state of the process), so a pooled median lands on
# whichever key sits in the middle; op_p50_geomean_s is instead the
# geometric mean over keys of each key's median latency. The tail is a
# fixed percentile, p75: the highest one with ten samples beyond it
# moves with the sample count (p50 to p80 on adhoc_tpch, the maximum on
# mv_churn_small's 7 to 13 commits), so runs of different speed would
# compare different percentiles. The record gives the count beyond it.
# ops_per_s is the rate of a rotation made of each key's median loop
# iteration (op plus the peeks and poll that follow it), so a single
# stalled iteration does not move it.
E2E_UNITS = {
    "setup_s": "s",
    "hydrate_s": "s",
    "op_p50_geomean_s": "s",
    "op_p75_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}

# The JVM compiles with C1 only. Under C2, each JVM settles after
# warm-up into a compiled state of its own that leaves single queries
# 2-3x apart between runs on an idle 4-vCPU host (tpch_q1 0.15-0.59 s,
# tpch_q6 0.08-0.25 s), and the spread of op_p50_geomean_s over ten
# adhoc_tpch runs was 0.15 of the median; with C1 only it was 0.06, at
# ~20% more time per query. Spark puts these options before the
# engine's own JVM options (spark.driver.extraJavaOptions), which stand.
JVM_OPTS = "-XX:TieredStopAtLevel=1"

# Per-layer metrics of a traced run (name -> unit).
LAYER_UNITS = {
    "parser.calls": "count",
    "parser.self_s": "s",
    "dialect.calls": "count",
    "dialect.self_s": "s",
    "sqlfront.self_s": "s",
    "sqlfront.commit_execute_s": "s",
    "sqlfront.read_s": "s",
    "sqlfront.peek_s": "s",
    "py4j.sends_per_query": "count",
    "py4j.sends_per_commit": "count",
    "ckpt.breaks_per_commit": "count",
    "ckpt.break_s": "s",
    "catalyst.plan_s": "s",
    "spark.jobs": "count",
    "spark.stages_run": "count",
    "spark.stages_skipped": "count",
    "spark.tasks": "count",
    "spark.tasks_per_stage": "count",
    "state.persisted_rdds_end": "count",
    "state.persisted_rdds_per_commit": "count",
    "state.storage_mem_mb_end": "MB",
    "state.commit_last_over_first": "ratio",
    "catalog.init_s": "s",
    "subscribe.poll_s": "s",
    "subscribe.rows_per_commit": "count",
    "trace.spans_per_op": "count",
    "trace.overhead.setup_s": "s",
    "trace.overhead.op_p50_geomean_s": "s",
    "trace.overhead.op_p75_s": "s",
    "trace.overhead.ops_per_s": "1/s",
}

# Which end-to-end metric, on which workload, each per-layer metric
# should move (the prediction a change to that layer is judged by).
_ADHOC, _CHURN = "adhoc_tpch", "mv_churn_small"
_P50 = "op_p50_geomean_s"
_MOVES = {  # metric name or its prefix -> (layer, e2e metric, workloads)
    "parser": ("plans.parser", _P50, [_ADHOC]),
    "dialect": ("plans.dialect", _P50, [_ADHOC]),
    "sqlfront.self_s": ("plans.sqlfront", _P50, [_ADHOC, _CHURN]),
    "sqlfront.commit_execute_s": ("plans.sqlfront", _P50, [_CHURN]),
    "sqlfront.read_s": ("plans.sqlfront", _P50, [_CHURN]),
    "sqlfront.peek_s": ("plans.sqlfront", "ops_per_s", [_CHURN]),
    "py4j.sends_per_commit": ("py4j plan construction", _P50, [_CHURN]),
    "py4j.sends_per_query": ("py4j plan construction",
                             "none: stays flat (control)", [_ADHOC]),
    "ckpt": ("ckpt", _P50, [_CHURN]),
    "catalyst": ("Catalyst", _P50, [_ADHOC]),
    "spark": ("Spark execution", _P50, [_CHURN]),
    "state": ("maintained state", "peak_rss_mb, op_p75_s", [_CHURN]),
    "catalog": ("catalog", "setup_s", [_ADHOC, _CHURN]),
    "subscribe": ("SUBSCRIBE fan-out", "ops_per_s", [_CHURN]),
    "trace": ("the tracer itself", "none: measurement overhead",
              [_ADHOC, _CHURN]),
}
LAYER_MAP = {m: _MOVES.get(m) or _MOVES[m.split(".")[0]] for m in LAYER_UNITS}


def p75(samples: list[float]) -> tuple[float, int]:
    """(nearest-rank 75th percentile, number of samples above it)."""
    xs = sorted(samples)
    rank = math.ceil(0.75 * len(xs))
    return xs[rank - 1], len(xs) - rank


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _by_key(ops, attr: str) -> dict[str, list[float]]:
    by_key: dict[str, list[float]] = {}
    for o in ops:
        by_key.setdefault(o.key, []).append(getattr(o, attr))
    return by_key


def p50_geomean(ops) -> float:
    """Geometric mean over keys of each key's median op latency."""
    by_key = _by_key(ops, "latency")
    return statistics.geometric_mean(
        [median(v) for v in by_key.values()]) if by_key else 0.0


def keyed_rate(ops, attr: str = "iter_s") -> float:
    """Ops per second of one rotation made of each key's median op: the
    number of keys over the sum of their median times. Unlike total ops
    over total time, one stalled op does not move it."""
    by_key = _by_key(ops, attr)
    total = sum(median(v) for v in by_key.values())
    return len(by_key) / total if total else 0.0


@dataclass
class Op:
    kind: str
    key: str  # the query name, or the table a commit writes
    latency: float
    traced: bool
    parts: dict = field(default_factory=dict)
    iter_s: float = 0.0  # the loop iteration this op began


class Bench:
    """One run of one workload: owns the Spark session and its JVM."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float,
                 trace: bool, t_proc: float) -> None:
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.t_proc = t_proc
        base = os.path.join(root, ".perfbench_work")
        _remove_orphans(base)
        self.work = os.path.join(base, f"{workload}-{seed}-{os.getpid()}")
        self.results = os.path.join(base, "results")
        os.makedirs(self.work, exist_ok=True)
        os.makedirs(self.results, exist_ok=True)
        self.tracer = None
        if trace:
            from tracing import Tracer
            self.tracer = Tracer()
        self.spark = None
        self.ops: list[Op] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.setup_s = 0.0
        self.setup_op: int | None = None  # the traced set-up's op id
        self.harness_s = 0.0  # input generation, not the program's set-up
        self.hydrate_s = 0.0
        self.probes: dict = {}
        self._next_op = 0
        self.spark_group: str | None = None
        self.load_before = _load_per_cpu()
        self.cpu_ticks_before = cpu_ticks()

    # -- spark lifecycle ---------------------------------------------------
    def set_up(self, make_session):
        """Start Spark and set the program up. Set-up time runs from
        process start (imports and JVM launch included, input generation
        excluded). A traced run traces the set-up; its overhead is the
        time the tracer spent on its own bookkeeping meanwhile, as the
        run has no untraced set-up to compare with."""
        rec = None
        if self.tracer is not None:
            t = time.perf_counter()
            rec = self._trace_begin("setup")
            cost = time.perf_counter() - t
        from materialize_spark.session import get_spark
        self.spark = get_spark("perfbench", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.defaultJavaOptions": JVM_OPTS,
        })
        self.spark.sparkContext.setLogLevel("ERROR")
        session = make_session(self.spark)
        if rec is not None:
            t = time.perf_counter()
            self._trace_end(rec)
            self.setup_op = rec[2]
            self.probes["trace_setup_cost_s"] = \
                cost + time.perf_counter() - t + self.tracer.cost_s
        self.setup_s = time.perf_counter() - self.t_proc - self.harness_s
        self.probes["master"] = self.spark.sparkContext.master
        self.probes["shuffle_partitions"] = int(
            self.spark.conf.get("spark.sql.shuffle.partitions"))
        return session

    def tear_down(self) -> None:
        from pyspark import SparkContext
        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the JVM exits on EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()

    def peak_rss_mb(self) -> float:
        """Peak resident set of this process plus the Spark JVM. Input
        generation and the DuckDB checks run in a child process or after
        the last probe, so this process's peak is the engine's."""
        kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        from pyspark import SparkContext
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            try:
                with open(f"/proc/{proc.pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb += int(line.split()[1])
            except OSError:
                pass
        return kb / 1024.0

    # -- the measured loop -------------------------------------------------
    def done(self, i: int, t0: float, cycle: int) -> bool:
        """The loop measures for the run's seconds, and for at least one
        full rotation of ``cycle`` ops, so every key has a sample (two
        when traced, so every key has a traced and an untraced one)."""
        rotations = 1 if self.tracer is None else 2
        return i >= rotations * cycle \
            and time.perf_counter() - t0 >= self.seconds

    def traced_op(self, i: int, cycle: int) -> bool:
        """A traced run traces every other operation, swapping parity
        each ``cycle`` operations (the length of the workload's
        rotation), so every query or table has traced and untraced
        samples and the two halves give the tracing overhead."""
        return self.tracer is not None and (i % cycle + i // cycle) % 2 == 1

    def _trace_begin(self, kind: str):
        self._next_op += 1
        self.tracer.install()
        rec = self.tracer.begin("op:" + kind, op=self._next_op)
        rec.append(self.tracer.sends)
        self.spark_group = f"perfbench-{self._next_op}" \
            if self.spark is not None else None
        if self.spark_group:
            self.spark.sparkContext.setJobGroup(self.spark_group, kind)
        return rec

    def _trace_end(self, rec) -> dict:
        sends = self.tracer.sends - rec.pop()
        self.tracer.end(rec)
        self.tracer.uninstall()
        parts = {"op_id": rec[2], "sends": sends}
        if self.spark_group:
            sc = self.spark.sparkContext
            sc.setLocalProperty("spark.jobGroup.id", None)
            parts.update(spark_stats(sc, self.spark_group))
        return parts

    def run_op(self, kind: str, key: str, traced: bool, fn) -> Op | None:
        """Time ``fn`` as one operation; an exception counts as failed."""
        self.attempted += 1
        rec = self._trace_begin(kind) if traced else None
        t0 = time.perf_counter()
        try:
            parts = fn() or {}
        except Exception as ex:  # keep measuring; the failure is reported
            if rec is not None:
                self._trace_end(rec)
            self.fail(f"{kind}: {type(ex).__name__}: {str(ex)[:300]}")
            return None
        latency = time.perf_counter() - t0
        if rec is not None:
            parts.update(self._trace_end(rec))
        op = Op(kind, key, latency, traced, parts)
        self.ops.append(op)
        return op

    def check(self, ok: bool, what: str) -> None:
        """Count one output check; a mismatch is a failed operation."""
        self.attempted += 1
        if not ok:
            self.fail(f"wrong result: {what}")

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.failures.append(msg)

    def probe_state(self, when: str) -> None:
        """Persisted RDDs, the memory their blocks hold, and the peak
        resident set so far."""
        self.probes[when + "_peak_rss_mb"] = self.peak_rss_mb()
        sc = self.spark.sparkContext
        self.probes[when + "_rdds"] = int(sc._jsc.getPersistentRDDs().size())
        mem = sum(r.memSize() for r in sc._jsc.sc().getRDDStorageInfo())
        self.probes[when + "_storage_mem_mb"] = mem / 2 ** 20

    # -- summary -----------------------------------------------------------
    def summary(self) -> dict:
        """The result line: the end-to-end metrics, or the per-layer
        metrics of a traced run, each with its unit."""
        if self.tracer is None:
            values, units = self.e2e()[0], E2E_UNITS
        else:
            values, units = self.layers(), LAYER_UNITS
        return {
            "correct": self.failed == 0 and self.attempted > 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(values[k]), "unit": u}
                        for k, u in units.items()},
        }

    def e2e(self) -> tuple[dict, dict]:
        lat = [o.latency for o in self.ops]
        t, beyond = p75(lat) if lat else (0.0, 0)
        metrics = {
            "setup_s": self.setup_s,
            "hydrate_s": self.hydrate_s,
            "op_p50_geomean_s": p50_geomean(self.ops),
            "op_p75_s": t,
            "ops_per_s": keyed_rate(self.ops),
            "peak_rss_mb": self.probes.get("end_peak_rss_mb", 0.0),
        }
        return metrics, {
            "op_samples": len(lat), "op_samples_above_p75": beyond,
            "ops": [[o.key, round(o.latency, 4), round(o.iter_s, 4),
                     o.traced] for o in self.ops]}

    def layers(self) -> dict:
        tr = self.tracer
        traced = [o for o in self.ops if o.traced]
        plain = [o for o in self.ops if not o.traced]
        ids = {o.parts["op_id"] for o in traced}
        tot = tr.layer_totals(ids)
        n = max(len(traced), 1)
        commits = [o for o in traced if o.kind == "commit"]
        queries = [o for o in traced if o.kind == "query"]

        def per(ops, key):
            return median([o.parts.get(key, 0) for o in ops])

        def per_commit(x):
            return x / len(commits) if commits else 0.0

        stages_run = sum(o.parts.get("stages_run", 0) for o in traced)
        tasks = sum(o.parts.get("tasks", 0) for o in traced)
        lat_all = [o.latency for o in self.ops]
        q = max(len(lat_all) // 4, 1)
        first, last = median(lat_all[:q]), median(lat_all[-q:])
        n_commits = len([o for o in self.ops if o.kind == "commit"])
        setup_tot = tr.layer_totals({self.setup_op})

        def overhead(f):
            """f(traced ops) - f(untraced ops), over operation keys
            (query name or committed table) that have both."""
            both = {o.key for o in traced} & {o.key for o in plain}
            a = [o for o in traced if o.key in both]
            b = [o for o in plain if o.key in both]
            return f(a) - f(b) if a and b else 0.0

        def op_p75(ops):
            return p75([o.latency for o in ops])[0]

        out = {
            "parser.calls": tot["parser"]["calls"] / n,
            "parser.self_s": tot["parser"]["self_s"] / n,
            "dialect.calls": tot["dialect"]["calls"] / n,
            "dialect.self_s": tot["dialect"]["self_s"] / n,
            "sqlfront.self_s": tot["sqlfront"]["self_s"] / n,
            "sqlfront.commit_execute_s": per(commits, "execute_s"),
            "sqlfront.read_s": per(commits, "read_s"),
            "sqlfront.peek_s": median(self.probes.get("peeks", [])),
            "py4j.sends_per_query": per(queries, "sends"),
            "py4j.sends_per_commit": per(commits, "sends"),
            "ckpt.breaks_per_commit": per_commit(tot["ckpt"]["calls"]),
            "ckpt.break_s": per_commit(tot["ckpt"]["total_s"]),
            "catalyst.plan_s": per(queries, "plan_s"),
            "spark.jobs": per(traced, "jobs"),
            "spark.stages_run": per(traced, "stages_run"),
            "spark.stages_skipped": per(traced, "stages_skipped"),
            "spark.tasks": per(traced, "tasks"),
            "spark.tasks_per_stage": tasks / stages_run if stages_run else 0.0,
            "state.persisted_rdds_end": self.probes.get("end_rdds", 0),
            "state.persisted_rdds_per_commit":
                (self.probes.get("end_rdds", 0)
                 - self.probes.get("start_rdds", 0)) / n_commits
                if n_commits else 0.0,
            "state.storage_mem_mb_end": self.probes.get("end_storage_mem_mb",
                                                        0.0),
            "state.commit_last_over_first":
                last / first if n_commits and first else 0.0,
            "catalog.init_s": setup_tot["catalog"]["total_s"],
            "subscribe.poll_s": per(commits, "poll_s"),
            "subscribe.rows_per_commit": per_commit(
                sum(o.parts.get("poll_rows", 0) for o in commits)),
            "trace.spans_per_op": len([s for s in tr.spans
                                       if s[2] in ids]) / n,
            "trace.overhead.setup_s":
                self.probes.get("trace_setup_cost_s", 0.0),
            "trace.overhead.op_p50_geomean_s": overhead(p50_geomean),
            "trace.overhead.op_p75_s": overhead(op_p75),
            "trace.overhead.ops_per_s":
                overhead(lambda ops: keyed_rate(ops, "latency")),
        }
        return out


def spark_stats(sc, group: str) -> dict:
    """Jobs, stages run, stages skipped and tasks of one job group.

    The status store is filled from the listener bus, asynchronously,
    so the bus is drained first: a stage whose events were still queued
    would read as never submitted. A listed stage that was never
    submitted was skipped (its shuffle output already existed)."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jt = sc._jsc.statusTracker()
    jobs = list(jt.getJobIdsForGroup(group))
    stages = set()
    for j in jobs:
        info = jt.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds())
    run = skipped = tasks = 0
    for s in stages:
        info = jt.getStageInfo(s)
        if info is not None and (info.submissionTime() > 0
                                 or info.numCompletedTasks() > 0):
            run += 1
            tasks += info.numCompletedTasks()
        else:
            skipped += 1
    return {"jobs": len(jobs), "stages_run": run, "stages_skipped": skipped,
            "tasks": tasks}


def _remove_orphans(base: str) -> None:
    """Delete work directories (named ``<workload>-<seed>-<pid>``) that
    a killed run left behind."""
    if not os.path.isdir(base):
        return
    for name in os.listdir(base):
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)


def _load_per_cpu() -> float | None:
    try:
        return os.getloadavg()[0] / (os.cpu_count() or 1)
    except OSError:
        return None


def cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) CPU ticks of the machine so far: on a virtual
    machine, steal is the time the hypervisor gave to other guests."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (ticks[7], sum(ticks[:8])) if len(ticks) >= 8 else None


def steal_frac(before, after) -> float | None:
    """Share of the machine's CPU time stolen between two cpu_ticks()."""
    if before is None or after is None or after[1] == before[1]:
        return None
    return (after[0] - before[0]) / (after[1] - before[1])
