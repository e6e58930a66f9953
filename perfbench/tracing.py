"""Per-layer tracing for the benchmark, from outside the program.

Three sources, all read after an op has finished so that nothing is added
to the op's own Spark work:

- spans: wrappers installed around the program's public layer functions
  (module attributes are swapped for timing wrappers; the wrapped function
  is called unchanged). Spans live in memory until the run ends;
- Spark's status store: jobs, stages and SQL executions whose submission
  falls inside the op's interval (one client, so nothing else runs then),
  plus the JVM's garbage-collector beans;
- a ``QueryExecutionListener`` registered through the py4j callback server,
  which hands over each finished query's Catalyst phase times.
"""

from __future__ import annotations

import contextlib
import os
import re
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_PYTHON_IO = {
    "data sent to Python workers": "operators.arrow_bytes_to_python",
    "data returned from Python workers": "operators.arrow_bytes_from_python",
}


def metric_value(text: str) -> float:
    """Total of a formatted SQL metric: ``"1,234"``, ``"2.5 KiB"``, or the
    multi-task form ``"total (min, med, max ...)\\n2.5 KiB (...)"``."""
    line = text.strip().splitlines()[-1] if text.strip() else "0"
    m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _SIZE_UNITS.get(m.group(2) or "", 1)


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds(jvm_pid: int) -> dict[str, float]:
    """CPU seconds (user + system) used so far by this process
    (``driver_python``), the driver JVM (``jvm``), and the JVM's descendants,
    the Python workers, together with every child the JVM or they have
    reaped (``python_workers``). Read from ``/proc``: time the host gives to
    other tenants (steal) is in none of them, which is what makes these
    steadier than wall time on a shared host."""
    stats: dict[int, tuple[int, list[int]]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                text = f.read()
        except OSError:  # exited while listing
            continue
        fields = text[text.rindex(")") + 2:].split()
        # fields[1] is the parent pid; [11:15] are utime, stime, cutime, cstime
        stats[int(name)] = (int(fields[1]), [int(x) for x in fields[11:15]])
    children: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _) in stats.items():
        children[ppid].append(pid)
    workers = 0
    todo = list(children[jvm_pid])
    while todo:
        pid = todo.pop()
        workers += sum(stats[pid][1])
        todo.extend(children[pid])
    jvm = stats.get(jvm_pid, (0, [0, 0, 0, 0]))[1]
    driver = stats[os.getpid()][1]
    return {
        "driver_python": (driver[0] + driver[1]) / _TICK,
        "jvm": (jvm[0] + jvm[1]) / _TICK,
        "python_workers": (workers + jvm[2] + jvm[3]) / _TICK,
    }


# Span metric → the metric that counts the Spark jobs submitted inside it.
JOB_COUNTED = {
    "plans.etl.build_s": "plans.etl.build_jobs",
    "plans.etl.write_parquet_s": "plans.etl.write_jobs",
    "plans.etl.write_csv_s": "plans.etl.write_jobs",
    "quality.checks.report_s": "quality.checks.report_jobs",
    "analytics.interaction_s": "analytics.jobs_per_interaction",
    "corpus.build_s": "corpus.build_jobs",
}


class _PhaseListener:
    """Java ``QueryExecutionListener`` implemented in Python via py4j."""

    def __init__(self):
        self.events: list[dict[str, float]] = []
        self._lock = threading.Lock()

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        phases = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = kv._2().durationMs() / 1000.0
        with self._lock:
            self.events.append(phases)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        pass

    def drain(self) -> list[dict[str, float]]:
        with self._lock:
            out, self.events = self.events, []
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Collects spans and status-store readings per op (``enabled=False``:
    every method is a no-op, so the untraced path runs the program alone)."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        # (op, metric name, start, end) in wall-clock seconds, so spans and
        # the status store's job submission times share one clock
        self.spans: list[tuple[int, str, float, float]] = []
        self.counts: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.op = -1
        self._patches: list[tuple[object, str, object]] = []
        if not enabled:
            return
        from pyspark.java_gateway import ensure_callback_server_started

        sc = spark.sparkContext
        ensure_callback_server_started(sc._gateway)
        self._listener = _PhaseListener()
        spark._jsparkSession.listenerManager().register(self._listener)
        self._app = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._gc_beans = list(
            sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        self._hi_job = -1
        self._last_job = self._max_job_id()
        self._last_exec = self._max_exec_id()

    # -- spans -----------------------------------------------------------
    def span(self, layer: str, t0: float, t1: float) -> None:
        self.spans.append((self.op, layer, t0, t1))

    def count(self, name: str, value: float) -> None:
        self.counts[self.op][name] += value

    @contextlib.contextmanager
    def timed(self, name: str):
        """Span around a block of benchmark code (no-op when untraced)."""
        if not self.enabled:
            yield
            return
        t0 = time.time()
        try:
            yield
        finally:
            self.span(name, t0, time.time())

    def wrap(self, module, attr: str, layer: str, after=None) -> None:
        """Swap ``module.attr`` for a wrapper that records a ``layer`` span;
        ``after(tracer, args, kwargs)`` adds counts at the boundary."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        def wrapper(*args, **kwargs):
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                name = layer(args, kwargs) if callable(layer) else layer
                self.span(name, t0, time.time())
                if after is not None:
                    after(self, args, kwargs)

        self._patches.append((module, attr, fn))
        setattr(module, attr, wrapper)

    def unwrap_all(self) -> None:
        for module, attr, fn in reversed(self._patches):
            setattr(module, attr, fn)
        self._patches.clear()

    # -- status store ----------------------------------------------------
    def _max_job_id(self) -> int:
        """Highest job id in the status store, across every job group
        (streaming jobs run under their query's own group)."""
        hi = self._hi_job
        while True:
            try:
                self._app.job(hi + 1)
            except Py4JJavaError:  # NoSuchElementException: not submitted yet
                self._hi_job = hi
                return hi
            hi += 1

    def _max_exec_id(self) -> int:
        execs = self._sql.executionsList()
        n = execs.size()
        return execs.apply(n - 1).executionId() if n else -1

    def gc_seconds(self) -> float:
        if not self.enabled:
            return 0.0
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1000.0

    def _settle(self) -> None:
        """Wait until the async listener bus has caught up: the job count
        and the phase-event count are unchanged across two polls."""
        prev = None
        for _ in range(50):
            cur = (self._max_job_id(), len(self._listener.events), self._max_exec_id())
            if cur == prev:
                return
            prev = cur
            time.sleep(0.03)

    def mark(self) -> None:
        """Start a fresh op baseline: whatever ran since the last op (output
        checks, cache release) is not attributed to the next op."""
        if not self.enabled:
            return
        self._settle()
        self._last_job = self._max_job_id()
        self._last_exec = self._max_exec_id()
        self._listener.drain()

    def finish_op(self, t0: float, t1: float, cores: int, gc0: float) -> dict[str, float]:
        """Read everything the op left in the status store; ``t0``/``t1``
        are the op's wall-clock bounds (``time.time()``)."""
        self._settle()
        out: dict[str, float] = defaultdict(float)
        out["exec.gc_s"] = self.gc_seconds() - gc0
        hi = self._max_job_id()
        intervals = []
        submitted = []
        stages = set()
        for jid in range(self._last_job + 1, hi + 1):
            job = self._app.job(jid)
            out["spark.jobs_per_op"] += 1
            sub = job.submissionTime()
            done = job.completionTime()
            if sub.isDefined():
                submitted.append(sub.get().getTime() / 1000.0)
                if done.isDefined():
                    intervals.append((submitted[-1], done.get().getTime() / 1000.0))
            it = job.stageIds().iterator()
            while it.hasNext():
                stages.add(it.next())
        self._last_job = hi
        for sid in stages:
            st = self._app.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue
            out["spark.stages_per_op"] += 1
            out["spark.tasks_per_op"] += st.numTasks()
            out["exec.task_run_s"] += st.executorRunTime() / 1000.0
            out["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["exec.shuffle_read_bytes"] += st.shuffleReadBytes()
            out["exec.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        busy = 0.0
        end = float("-inf")
        for a, b in sorted(intervals):
            a = max(a, end)
            if b > a:
                busy += b - a
            end = max(end, b)
        wall = t1 - t0
        out["spark.job_busy_s"] = busy
        out["spark.driver_gap_s"] = max(0.0, wall - busy)
        out["exec.cpu_busy_frac"] = out["exec.task_run_s"] / (wall * cores)
        self._read_executions(out)
        for phases in self._listener.drain():
            out["catalyst.analysis_s"] += phases.get("analysis", 0.0)
            out["catalyst.optimization_s"] += phases.get("optimization", 0.0)
            out["catalyst.planning_s"] += phases.get("planning", 0.0)
        for op, name, a, b in self.spans:
            if op != self.op:
                continue
            out[name] += b - a
            if name in JOB_COUNTED:
                # the status store stamps submission in whole milliseconds
                out[JOB_COUNTED[name]] += sum(a - 0.001 <= s <= b + 0.001 for s in submitted)
        out.update(self.counts.pop(self.op, {}))
        return out

    def _read_executions(self, out) -> None:
        execs = self._sql.executionsList()
        fresh = []
        for i in range(execs.size() - 1, -1, -1):
            e = execs.apply(i)
            if e.executionId() <= self._last_exec:
                break
            fresh.append(e)
        if fresh:
            self._last_exec = max(e.executionId() for e in fresh)
        for e in fresh:
            plan = e.physicalPlanDescription()
            if "temp_max_f" in plan and "energy_demand_gwh" in plan and "Join" in plan:
                out["plans.etl.fact_executions"] += 1
            wanted = {}
            nodes = self._sql.planGraph(e.executionId()).allNodes()
            for n in range(nodes.size()):
                metrics = nodes.apply(n).metrics()
                names = [metrics.apply(k).name() for k in range(metrics.size())]
                python_node = "data sent to Python workers" in names
                for k, name in enumerate(names):
                    if name == "number of files read":
                        wanted[metrics.apply(k).accumulatorId()] = "exec.files_read"
                    elif python_node and name in _PYTHON_IO:
                        wanted[metrics.apply(k).accumulatorId()] = _PYTHON_IO[name]
                    elif python_node and name == "number of output rows":
                        wanted[metrics.apply(k).accumulatorId()] = "operators.arrow_rows"
            if not wanted:
                continue
            it = self._sql.executionMetrics(e.executionId()).iterator()
            while it.hasNext():
                kv = it.next()
                key = wanted.get(kv._1())
                if key:
                    out[key] += metric_value(kv._2())

    def span_summary(self) -> dict[str, list[float]]:
        """Every span recorded, as ``{name: [count, total seconds]}``."""
        out: dict[str, list[float]] = {}
        for _, name, a, b in self.spans:
            n, total = out.get(name, (0, 0.0))
            out[name] = [n + 1, round(total + b - a, 4)]
        return out

    def cached_bytes(self) -> float:
        """Bytes held by persisted RDDs/DataFrames right now."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return float(sum(i.memSize() + i.diskSize() for i in infos))

    def close(self) -> None:
        self.unwrap_all()
        if self.enabled:
            self.spark._jsparkSession.listenerManager().unregister(self._listener)

