"""Tracing, Spark status-store reads and host state.

Spans are recorded from the benchmark's side of each layer call
(set-up, pass, operation, construct, action, pipeline step) and kept in
memory until the run ends. Per-operation Spark counts come from the
status stores: every operation runs under its own job group, and after
it returns the job ids of that group lead to their stages
(``statusTracker().getJobInfo(j).stageIds``, then
``statusStore().lastStageAttempt(sid)``) and to the SQL executions that
ran them.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# SQL metric names of the Python evaluation nodes (ArrowEvalPython,
# MapInArrow, FlatMapGroupsInPandas, ...): bytes crossing the Arrow
# boundary in each direction.
PYTHON_BYTES_METRICS = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    span_id: int = 0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. Disabled, ``span`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        s = Span(name, time.time(), parent=parent, op=op, span_id=len(self.spans), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.span_id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def dump(self, path: str, ops: list[dict]) -> None:
        """Write the spans and the per-operation records as JSON."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": [s.__dict__ for s in self.spans], "ops": ops}, f)


def _option_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _parse_size_total(text: str) -> float:
    """Total of a formatted size metric ('total (min, med, max ...)\\n
    12.5 KiB (...)' or a bare '12.5 KiB')."""
    m = re.search(r"([\d.]+) (B|KiB|MiB|GiB|TiB)", text.split("\n")[-1])
    return float(m.group(1)) * _SIZE_UNITS[m.group(2)] if m else 0.0


class SparkProbe:
    """Reads one operation's counts from Spark's status stores."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._acc = self.sc._jvm.org.apache.spark.util.AccumulatorContext

    def executions_seen(self) -> int:
        return int(self._sql.executionsCount())

    def read(self, group: str, action_window: tuple[float, float], first_execution: int) -> dict:
        """Counts for every job run under ``group``; ``action_window`` is
        the action's (start, end) in epoch seconds."""
        self._bus.waitUntilEmpty(30_000)
        tracker = self.sc.statusTracker()
        jobs = sorted(tracker.getJobIdsForGroup(group))
        out = dict.fromkeys(
            (
                "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                "input_bytes", "python_bytes",
            ),
            0.0,
        )
        out["jobs"] = float(len(jobs))
        a0, a1 = action_window
        busy = []
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else []:
                st = self._store.lastStageAttempt(sid)
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["input_bytes"] += st.inputBytes()
                s0, s1 = _option_ms(st.submissionTime()), _option_ms(st.completionTime())
                if s0 is not None and s1 is not None:
                    lo, hi = max(s0 / 1e3, a0), min(s1 / 1e3, a1)
                    if hi > lo:
                        busy.append((lo, hi))
        out["driver_gap_s"] = max(0.0, (a1 - a0) - _union_s(busy))
        out["python_bytes"] = self._python_bytes(set(jobs), first_execution)
        return out

    def _python_bytes(self, jobs: set, first_execution: int) -> float:
        total = 0.0
        execs = self._sql.executionsList(first_execution, 1 << 20)
        it = execs.iterator()
        while it.hasNext():
            e = it.next()
            ids = e.jobs().keySet().iterator()
            exec_jobs = set()
            while ids.hasNext():
                exec_jobs.add(int(ids.next()))
            if not exec_jobs & jobs:
                continue
            values = None
            nodes = self._sql.planGraph(e.executionId()).allNodes().iterator()
            while nodes.hasNext():
                ms = nodes.next().metrics().iterator()
                while ms.hasNext():
                    m = ms.next()
                    if m.name() not in PYTHON_BYTES_METRICS:
                        continue
                    acc = self._acc.get(m.accumulatorId())
                    if acc.isDefined():
                        total += float(acc.get().value())
                        continue
                    if values is None:
                        values = self._sql.executionMetrics(e.executionId())
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        total += _parse_size_total(v.get())
        return total


def plan_ms(df) -> float:
    """Catalyst phase time (analysis + optimization + planning) of the
    DataFrame's own query execution."""
    total = 0.0
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        total += float(it.next()._2().durationMs())
    return total


def vm_hwm_mb(pid: int) -> float:
    """High-water resident set of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_probe_s() -> float:
    """Fixed single-thread spin; its wall time grows with CPU contention."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return time.perf_counter() - t0


def host_state() -> dict:
    return {"loadavg_1m": os.getloadavg()[0], "cpu_probe_s": cpu_probe_s()}


def harness_sha256(root: str) -> str:
    """sha256 over BENCHMARK.json and every file under perfbench/, in
    path order (bytecode caches excluded)."""
    paths = [os.path.join(root, "BENCHMARK.json")]
    for base, dirs, files in os.walk(os.path.join(root, "perfbench")):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        paths += [os.path.join(base, f) for f in sorted(files)]
    h = hashlib.sha256()
    for p in paths:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def git_commit(root: str) -> str | None:
    try:
        r = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    if r.returncode != 0:
        return None
    return r.stdout.strip() or None

