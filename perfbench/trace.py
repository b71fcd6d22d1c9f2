"""Measurement plumbing: spans, self time, Spark status-store reads and
process-tree memory.

Spans are recorded by the benchmark around its calls into each layer.
They stay in memory and are written once, at the end of a traced run.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    trace: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - covered(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and
    costs one attribute test per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.cost = 0.0  # seconds spent in span bookkeeping
        self._ids = itertools.count()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, trace: str | None = None):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        s = Span(
            next(self._ids), name,
            trace or (parent.trace if parent else name),
            parent.id if parent else None,
            0.0,
        )
        stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self.spans.append(s)
            self.cost += (s.start - t_in) + (time.perf_counter() - s.end)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a version that runs inside a span."""
        fn = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def select(self, name: str, trace_prefix: str = "") -> list[Span]:
        return [
            s for s in self.spans
            if s.name == name and s.trace.startswith(trace_prefix)
        ]

    def write(self, path: str) -> None:
        st = self_times(self.spans)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps({**asdict(s), "self": st[s.id]}) + "\n")


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}

#: Python-node SQL metric name -> per-layer metric suffix
PYTHON_METRICS = {
    "time to run Python workers": "run_s",
    "time to start Python workers": "start_s",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_returned",
}


def metric_total(text: str) -> float:
    """Total of a formatted SQL metric ('43', '1.2 s', '163.0 KiB', or
    'total (min, med, max ...)\\n<total> (...)')."""
    tok = text.split("\n")[-1].split(" (")[0].strip().split(" ")
    try:
        scale = _UNITS[tok[1]] if len(tok) == 2 else 1.0
        return float(tok[0].replace(",", "")) * scale
    except (ValueError, KeyError):
        return 0.0


#: stage-data sums ``SparkProbe.stages`` returns, reported as ``spark.<key>``
STAGE_SUMS = (
    "tasks", "task_run_s", "task_cpu_s", "gc_s", "scan_rows", "shuffle_bytes",
    "shuffle_fetch_wait_s", "spill_bytes",
)


class _PlanningTimes:
    """A ``QueryExecutionListener``, implemented over the Py4J callback
    server, that keeps the planning time of each query the session
    executes: the analysis, optimization and planning phases of the
    query's own ``QueryPlanningTracker``."""

    def __init__(self):
        self.seconds: list[float] = []

    def _record(self, qe) -> None:
        phases = qe.tracker().phases().values().iterator()
        ms = 0
        while phases.hasNext():
            ms += phases.next().durationMs()
        self.seconds.append(ms / 1e3)

    def onSuccess(self, func_name, qe, duration_ns):
        self._record(qe)

    def onFailure(self, func_name, qe, exception):
        self._record(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class SparkProbe:
    """Reads what the engine runtime did from its status stores. Only the
    traced run creates one."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.session = spark._jsparkSession
        self.sql = self.session.sharedState().statusStore()
        gw = self.sc._gateway
        self._q = gw.new_array(gw.jvm.double, 2)
        self._q[0], self._q[1] = 0.5, 1.0

    def drain(self) -> None:
        """Wait until the async listener bus has fed the status stores."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    @contextlib.contextmanager
    def planning(self):
        """Yield a list that, once the block has ended, holds the planning
        seconds of every query the block executed."""
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.sc._gateway)
        self.drain()  # earlier queries' events must not reach the listener
        listener = _PlanningTimes()
        manager = self.session.listenerManager()
        manager.register(listener)
        try:
            yield listener.seconds
        finally:
            self.drain()
            manager.unregister(listener)

    def job_count(self) -> int:
        """Jobs submitted so far; the ids of the jobs a call starts are
        ``range(count_before, count_after)``."""
        return self.sc._jsc.sc().dagScheduler().numTotalJobs()

    def stages(self, job_ids) -> dict:
        """Sums over the completed stages of ``job_ids`` plus the task skew
        (max over median task run time) of every stage that ran at least
        two tasks and 200 ms of task time."""
        out: dict = {k: 0 for k in STAGE_SUMS}
        out["skews"] = []
        seen = set()
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    s = self.store.lastStageAttempt(sid)
                except Exception:  # stage evicted or never submitted
                    continue
                if str(s.status()) != "COMPLETE":
                    continue
                out["tasks"] += s.numTasks()
                out["task_run_s"] += s.executorRunTime() / 1e3
                out["task_cpu_s"] += s.executorCpuTime() / 1e9
                out["gc_s"] += s.jvmGcTime() / 1e3
                out["scan_rows"] += s.inputRecords()
                out["shuffle_bytes"] += s.shuffleWriteBytes()
                out["shuffle_fetch_wait_s"] += s.shuffleFetchWaitTime() / 1e3
                out["spill_bytes"] += s.diskBytesSpilled()
                if s.numTasks() >= 2 and s.executorRunTime() >= 200:
                    q = self.store.taskSummary(sid, s.attemptId(), self._q)
                    if q.isDefined():
                        run = q.get().executorRunTime()
                        out["skews"].append(run.apply(1) / max(run.apply(0), 1.0))
        return out

    def last_execution(self) -> int:
        n = self.sql.executionsCount()
        if n == 0:
            return -1
        return self.sql.executionsList(n - 1, 1).apply(0).executionId()

    def python_workers(self, after_execution: int) -> dict:
        """Python-node SQL metrics summed over executions newer than
        ``after_execution``."""
        out = {v: 0.0 for v in PYTHON_METRICS.values()}
        n = self.sql.executionsCount()
        k = 32
        while True:  # read the list tail back to the first new execution
            lst = self.sql.executionsList(max(0, n - k), min(k, n))
            if lst.size() == 0 or lst.apply(0).executionId() <= after_execution or k >= n:
                break
            k *= 4
        for i in range(lst.size()):
            eid = lst.apply(i).executionId()
            if eid <= after_execution:
                continue
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for a in range(nodes.size()):
                node = nodes.apply(a)
                name = node.name()
                if "Python" not in name and "Pandas" not in name and "Arrow" not in name:
                    continue
                ms = node.metrics()
                for b in range(ms.size()):
                    m = ms.apply(b)
                    key = PYTHON_METRICS.get(m.name())
                    v = values.get(m.accumulatorId()) if key else None
                    if v is not None and v.isDefined():
                        out[key] += metric_total(v.get())
        return out


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------


def _tree(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the resident set size of this process and all of its
    descendants (driver Python, the JVM, Python workers) and keeps the
    peak. ``window()`` restarts the peak for a new measurement window."""

    PERIOD_S = 0.5

    def __init__(self):
        self.peak_mb = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        mb = sum(_rss_kb(p) for p in _tree(os.getpid())) / 1024.0
        with self._lock:
            self.peak_mb = max(self.peak_mb, mb)

    def _loop(self) -> None:
        while not self._stop.wait(self.PERIOD_S):
            self.sample()

    def window(self) -> float:
        """Peak since the last call; starts the next window."""
        self.sample()
        with self._lock:
            peak, self.peak_mb = self.peak_mb, 0.0
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> float:
    """The highest quantile with at least ten samples beyond it (the max
    when there are fewer than eleven samples)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[max(0, len(xs) - 11)] if len(xs) > 10 else xs[-1]
