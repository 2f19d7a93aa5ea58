"""Measurement plumbing: process-tree CPU/RSS from ``/proc``, in-memory
spans with Spark job groups, and the Spark event-log reducer.

Spans are recorded around the calls into each layer, from the
benchmark's own files; the program is not instrumented."""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces: fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children[int(fields[1])].append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """utime+stime of the tree, plus the children each member reaped."""
    total = 0
    for pid in process_tree(root):
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def _pss_bytes(pid: int) -> int:
    """Proportional set size: each shared page split among its sharers."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(root: int) -> dict[str, int]:
    """Summed RSS of the tree by process kind, ``jvm`` or ``python``, and
    ``python_pss``, the Python processes' summed PSS.  Python workers are
    forked from one daemon and share most of their pages with it, which a
    sum of RSS counts once per worker and a sum of PSS counts once."""
    out = {"jvm": 0, "python": 0, "python_pss": 0}
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * _PAGE
            with open(f"/proc/{pid}/comm") as f:
                kind = "jvm" if f.read().strip() == "java" else "python"
            pss = _pss_bytes(pid) if kind == "python" else 0
        except OSError:
            continue
        out[kind] += rss
        out["python_pss"] += pss
    return out


class RssSampler:
    """Background sampler of the tree's memory; ``peak`` is the max of
    the summed RSS, ``peak_by_kind`` the max of each kind's sum."""

    def __init__(self, root: int, interval_s: float = 0.25):
        self.root, self.interval_s, self.peak = root, interval_s, 0
        self.peak_by_kind = {"jvm": 0, "python": 0, "python_pss": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        by_kind = tree_rss_bytes(self.root)
        self.peak = max(self.peak, by_kind["jvm"] + by_kind["python"])
        for k, v in by_kind.items():
            self.peak_by_kind[k] = max(self.peak_by_kind[k], v)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    @property
    def running(self) -> bool:
        return self._thread.is_alive()

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int


class Tracer:
    """Records spans in memory.  When ``spark_context`` is given (the
    traced run) each span also tags the Spark jobs it launches with a job
    group ``op<id>/<span>`` and the op's job/stage/task counts are read
    from ``statusTracker()`` right after the op.  Without it, spans cost
    two clock reads and nothing reaches Spark."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[Span] = []
        self.op_counts: dict[int, dict] = {}
        self.group_of_op: dict[str, int] = {}
        self.bookkeeping_s = 0.0
        self._stack: list[int] = []
        self._op_id = -1
        self._groups: list[str] = []

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self._op_id))
        self._stack.append(idx)
        if self.sc is not None:
            t = time.perf_counter()
            group = f"op{self._op_id}/{name}"
            self._groups.append(group)
            self.group_of_op[group] = self._op_id
            self.sc.setJobGroup(group, name)
            self.bookkeeping_s += time.perf_counter() - t
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                t = time.perf_counter()
                outer = self._stack[-1] if self._stack else None
                if outer is not None:
                    s = self.spans[outer]
                    self.sc.setJobGroup(f"op{s.op_id}/{s.name}", s.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.bookkeeping_s += time.perf_counter() - t

    @contextmanager
    def op(self, op_id: int, kind: str):
        """Root span of one op; on exit (traced run) counts its jobs."""
        self._op_id = op_id
        self._groups = []
        with self.span(f"op.{kind}"):
            yield
        if self.sc is not None:
            t = time.perf_counter()
            self.op_counts[op_id] = self._count(self._groups)
            self.bookkeeping_s += time.perf_counter() - t

    def _count(self, groups: list[str]) -> dict:
        tracker = self.sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "jobs_by_span": {}}
        for group in dict.fromkeys(groups):
            jobs = tracker.getJobIdsForGroup(group)
            out["jobs_by_span"][group.split("/", 1)[1]] = len(jobs)
            out["jobs"] += len(jobs)
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                for sid in info.stageIds:
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        out["stages"] += 1
                        out["tasks"] += st.numTasks
        return out

    def self_times(self) -> dict[tuple[int, str], float]:
        """(op_id, span name) → self seconds: duration minus the part of
        it covered by child spans (children never overlap here: the
        driver is one thread)."""
        child_s = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_s[s.parent] += s.end - s.start
        out = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[(s.op_id, s.name)] += (s.end - s.start) - child_s[i]
        return out


#: event-log task metrics summed per job group
TASK_METRICS = ("task_run_ms", "task_cpu_ms", "task_noncpu_ms", "input_bytes",
                "shuffle_write_bytes", "spill_bytes")


def reduce_event_log(log_dir: Path) -> dict[str, dict[str, float]]:
    """Job group → sums over its ``SparkListenerTaskEnd`` records.
    ``task_noncpu_ms`` is executor run time minus JVM CPU time: Python
    worker time plus waiting."""
    files = sorted(Path(log_dir).rglob("events_*"))  # Spark's rolling layout
    stage_group: dict[int, str] = {}
    sums: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(TASK_METRICS, 0.0))
    for path in files:
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", ()):
                            stage_group.setdefault(sid, group)
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    s = sums[group]
                    run_ms = m.get("Executor Run Time", 0)
                    cpu_ms = m.get("Executor CPU Time", 0) / 1e6
                    s["task_run_ms"] += run_ms
                    s["task_cpu_ms"] += cpu_ms
                    s["task_noncpu_ms"] += max(run_ms - cpu_ms, 0.0)
                    s["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    s["shuffle_write_bytes"] += (
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
                    s["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
    return dict(sums)
