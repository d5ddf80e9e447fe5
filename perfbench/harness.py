"""Measurement plumbing shared by the perfbench workloads.

- :func:`start_spark` / :func:`stop_spark`: one pinned ``local[nproc]``
  session whose scratch files stay in the benchmark's work directory, and a
  stop that waits until the JVM (and with it every Python worker) has exited.
- :class:`Calls`: every call into a layer goes through ``Calls.call``. The
  untraced form only reads the DAG scheduler's next job id around the call
  (no Spark job, no listener wait), so a run can prove that every job it
  submitted belongs to a layer call. :class:`Tracer` adds the per-layer
  harvest from the two status stores after each call.
- :func:`run_workload`: set up several times, warm up, run operations until
  the deadline, check every output outside the timed region.
- :func:`tail`: the latency tail rule.

Jobs are attributed to a call by job id, not by job tag: jobs launched from
the engine's thread pools (sweep, knn_approx, partition) carry no
thread-local tags.
"""

from __future__ import annotations

import math
import os
import resource
import statistics
import subprocess
import time
import traceback
from collections import defaultdict

SETUP_REPS = 3
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

# (suffix, unit, better) recorded for every traced layer
BASE_SUFFIXES = (
    ("wall_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("executor_s", "s", "lower"),
    ("driver_gap_s", "s", "lower"),
    ("shuffle_write_bytes", "bytes", "lower"),
)
EXTRA_SUFFIXES = {
    "python_s": ("s", "lower"),
    "python_bytes": ("bytes", "lower"),
    "spill_bytes": ("bytes", "lower"),
}
# Python plan-node metrics, by their display name in the SQL status store
_PY_TIME = "time to run Python workers"
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


# ------------------------------------------------------------------ session
def start_spark(work_dir: str, nproc: int):
    """``local[nproc]`` with nproc shuffle partitions; Spark's local dirs,
    warehouse and JVM temp dir inside ``work_dir``. The driver heap comes
    from ``SPARK_GRAFT_DRIVER_MEM`` (read by ``get_spark``)."""
    from gp_ann_spark.session import get_spark

    tmp = os.path.join(work_dir, "jvm_tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        "perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.local.dir": os.path.join(work_dir, "spark_local"),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            # no hsperfdata file in the system temp dir: every file stays in work_dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
        },
    )


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, shut the py4j gateway and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout_s)


def peak_rss_mb() -> float:
    """Peak resident set of this (driver) Python process, in MB."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


# ---------------------------------------------------------------- statistics
def tail(samples: list[float]) -> tuple[float, float, int]:
    """(percentile, value, samples beyond it): the highest percentile of
    ``TAIL_LADDER`` with at least ten samples beyond it (nearest rank).
    With fewer than 20 samples no percentile qualifies and the maximum is
    reported as percentile 100 with 0 samples beyond."""
    s = sorted(samples)
    n = len(s)
    for p in TAIL_LADDER:
        rank = math.ceil(p / 100.0 * n)
        if n - rank >= 10:
            return p, s[rank - 1], n - rank
    return 100.0, s[-1], 0


def _parse_metric(text: str, units: dict[str, float]) -> float:
    """'1.8 s' / '318.8 KiB', or the last line of a 'total (min, med, max)'
    block, → seconds / bytes."""
    head = text.strip().splitlines()[-1].split("(")[0].split()
    return float(head[0]) * units[head[1]] if len(head) >= 2 and head[1] in units else 0.0


# -------------------------------------------------------------- layer calls
class Calls:
    """Untraced layer calls: run ``fn`` and record which job ids it used."""

    traced = False

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._app = jsc.statusStore()
        self.call_jobs = 0

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())  # py4j unboxes the AtomicInteger

    def failed_jobs(self, j0: int, j1: int) -> int:
        """Jobs in [j0, j1) the status store marks FAILED (read after the
        timed region; jobs already evicted from the store are not seen)."""
        from py4j.protocol import Py4JJavaError

        self._bus.waitUntilEmpty()
        failed = 0
        for jid in range(j0, j1):
            try:
                failed += self._app.job(jid).status().toString() == "FAILED"
            except Py4JJavaError:
                pass
        return failed

    def call(self, layer: str, fn):
        j0 = self.next_job_id()
        out = fn()
        self.call_jobs += self.next_job_id() - j0
        return out

    def split(self, df):
        """Materialize an intermediate output only when tracing, so the next
        layer's cost is its own; untraced runs keep the plan lazy."""
        return df

    def note(self, name: str, value: float) -> None:
        pass


class Tracer(Calls):
    """Traced layer calls: after each call wait for the listener bus and
    harvest the call's jobs, stages and SQL executions."""

    traced = True

    def __init__(self, spark):
        super().__init__(spark)
        sc = spark.sparkContext
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self.records: dict[str, list[dict]] = defaultdict(list)
        self.notes: dict[str, list[float]] = defaultdict(list)
        self.failed_tasks = 0
        self.evicted_jobs = 0

    def call(self, layer: str, fn):
        self._bus.waitUntilEmpty()
        exec_mark = self._last_execution_id()
        j0 = self.next_job_id()
        t0 = time.time()
        out = fn()
        t1 = time.time()
        j1 = self.next_job_id()
        self.call_jobs += j1 - j0
        self._bus.waitUntilEmpty()
        rec = self._harvest_jobs(j0, j1, t0, t1)
        rec.update(self._harvest_python(exec_mark))
        self.records[layer].append(rec)
        return out

    def split(self, df):
        return df.localCheckpoint(eager=True)

    def note(self, name: str, value: float) -> None:
        self.notes[name].append(value)

    def _harvest_jobs(self, j0: int, j1: int, t0: float, t1: float) -> dict:
        from py4j.protocol import Py4JJavaError

        intervals = []
        stage_ids: set[int] = set()
        jobs = 0
        for jid in range(j0, j1):
            try:
                job = self._app.job(jid)
            except Py4JJavaError:  # evicted past spark.ui.retainedJobs
                self.evicted_jobs += 1
                continue
            jobs += 1
            sub, comp = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                start = sub.get().getTime() / 1000.0
                end = comp.get().getTime() / 1000.0 if comp.isDefined() else t1
                intervals.append((max(start, t0), min(end, t1)))
            ids = job.stageIds().mkString(",")
            stage_ids.update(int(s) for s in ids.split(",") if s)
        tasks = failed = run_ms = shuffle_w = spill = 0
        for sid in stage_ids:
            attempts = self._app.stageData(sid, False, None, False, self._no_quantiles)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                done, bad = st.numCompleteTasks(), st.numFailedTasks()
                tasks += done + bad + st.numKilledTasks()
                failed += bad
                run_ms += st.executorRunTime()
                shuffle_w += st.shuffleWriteBytes()
                spill += st.diskBytesSpilled()
        self.failed_tasks += failed
        return {
            "wall_s": t1 - t0,
            "jobs": jobs,
            "tasks": tasks,
            "executor_s": run_ms / 1000.0,
            "driver_gap_s": max(0.0, (t1 - t0) - _covered(intervals)),
            "shuffle_write_bytes": shuffle_w,
            "spill_bytes": spill,
        }

    def _last_execution_id(self) -> int:
        n = int(self._sql.executionsCount())
        if n == 0:
            return -1
        return int(self._sql.executionsList(n - 1, 1).apply(0).executionId())

    def _harvest_python(self, exec_mark: int) -> dict:
        """pythonTotalTime and pythonDataSent+Received over the Python plan
        nodes of every SQL execution that started during the call."""
        py_s = py_bytes = 0.0
        n = int(self._sql.executionsCount())
        lo = n
        done = False
        while lo > 0 and not done:
            start = max(0, lo - 64)
            chunk = self._sql.executionsList(start, lo - start)
            for i in range(chunk.size() - 1, -1, -1):
                ex = chunk.apply(i)
                eid = int(ex.executionId())
                if eid <= exec_mark:
                    done = True
                    break
                wanted = {}
                for m in ex.metrics().mkString("\u0001").split("\u0001"):
                    # SQLPlanMetric(name,accumulatorId,metricType)
                    name, acc, _ = m[len("SQLPlanMetric(") : -1].rsplit(",", 2)
                    if name == _PY_TIME or name in _PY_BYTES:
                        wanted[acc] = name
                if not wanted:
                    continue
                values = self._sql.executionMetrics(eid).mkString("\u0001")
                for kv in values.split("\u0001"):
                    acc, _, text = kv.partition(" -> ")
                    name = wanted.pop(acc, None)  # a node's metric counts once
                    if name == _PY_TIME:
                        py_s += _parse_metric(text, _TIME_UNITS)
                    elif name is not None:
                        py_bytes += _parse_metric(text, _SIZE_UNITS)
            lo = start
        return {"python_s": py_s, "python_bytes": py_bytes}


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_metrics(tracer: Tracer, layers: dict[str, tuple[str, ...]], notes: tuple[str, ...]) -> dict:
    """Per-layer metrics: the median over the layer's calls of each suffix.
    A layer this workload never called reads 0."""
    out = {}
    for layer, extras in layers.items():
        recs = tracer.records.get(layer, [])
        for suffix in [s for s, _, _ in BASE_SUFFIXES] + list(extras):
            vals = [r[suffix] for r in recs]
            out[f"{layer}.{suffix}"] = statistics.median(vals) if vals else 0
    for name in notes:
        vals = tracer.notes.get(name, [])
        out[name] = statistics.median(vals) if vals else 0
    return out


# ------------------------------------------------------------------- runner
def run_workload(wl, calls: Calls, seconds: float, log) -> dict:
    """Prepare the inputs, set up ``SETUP_REPS`` times (median = setup_s),
    warm up untimed, run operations until ``seconds`` have passed (at least
    one), check each output outside the timed region.

    Returns latencies, failure counts and the job accounting: ``op_jobs`` is
    every job submitted inside the timed operations, ``call_jobs`` the part
    submitted inside layer calls."""
    t0 = time.perf_counter()
    wl.prepare()
    log(f"prepare: {time.perf_counter() - t0:.3f} s")
    setup_times = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.setup(rep, calls)
        setup_times.append(time.perf_counter() - t0)
        log(f"setup rep {rep}: {setup_times[-1]:.3f} s")
    t0 = time.perf_counter()
    wl.warmup()
    log(f"warmup: {time.perf_counter() - t0:.3f} s")

    latencies, failures, errors = [], 0, []
    op_jobs = 0
    calls_before = calls.call_jobs
    deadline = time.perf_counter() + seconds
    while not latencies or time.perf_counter() < deadline:
        wl.before_op()
        j0 = calls.next_job_id()
        t0 = time.perf_counter()
        try:
            out = wl.op(calls)
        except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
            out = None
            errors.append(traceback.format_exc())
        dt = time.perf_counter() - t0
        j1 = calls.next_job_id()
        op_jobs += j1 - j0
        latencies.append(dt)
        try:
            problems = ["raised"] if out is None else wl.check(out)
        except Exception:  # noqa: BLE001 — an output the check cannot read fails it
            problems = ["check raised"]
            errors.append(traceback.format_exc())
        if calls.failed_jobs(j0, j1):
            problems.append("a Spark job of this operation failed")
        if problems:
            failures += 1
            errors.extend(problems)
        log(f"op {len(latencies)}: {dt:.3f} s{'  FAILED ' + '; '.join(problems) if problems else ''}")
    final = wl.final_check()
    if final:
        failures = max(failures, 1)
        errors.extend(final)
    return {
        "setup_s": statistics.median(setup_times),
        "latencies": latencies,
        "attempted": len(latencies),
        "failed": min(failures, len(latencies)),
        "errors": errors,
        "op_jobs": op_jobs,
        "call_jobs": calls.call_jobs - calls_before,
    }
