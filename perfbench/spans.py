"""Spans, self time and process-level probes.

The benchmark wraps each call it makes into a layer of the engine in a
span (name, start, end, parent, run id). Spans stay in memory and are
written out once, when the run ends. With tracing off ``span`` records
nothing, so untraced runs pay only a generator enter/exit per call.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: str
    start: float
    end: float = float("nan")
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self.cost_s = 0.0  # time spent recording spans
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        entered = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = Span(len(self.spans), name, parent, self.run_id, 0.0, attrs=attrs)
        self.spans.append(rec)
        self._stack.append(rec.id)
        rec.start = time.perf_counter()
        self.cost_s += rec.start - entered
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            self.cost_s += time.perf_counter() - rec.end

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (children may overlap; their union counts)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.duration - covered
    return out


def layer_of(span_name: str) -> str:
    """Spans are named ``<layer>.<call>``; the layer is the prefix."""
    return span_name.split(".", 1)[0]


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (parent pid, resident pages, CPU ticks of the process and
    its reaped children) for every process in ``/proc``."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process exited while we listed
            continue
        # fields after the command name, starting at field 3 (state)
        fields = stat[stat.rfind(")") + 2 :].split()
        cpu = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        out[int(entry)] = (int(fields[1]), int(fields[21]), cpu)
    return out


def _tree(table: dict[int, tuple[int, int, int]]) -> list[int]:
    """This process and its descendants."""
    root, members = os.getpid(), []
    for pid in table:
        p = pid
        while p > 1 and p != root:
            p = table[p][0] if p in table else 0
        if p == root:
            members.append(pid)
    return members


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM and its Python workers), threads and reaped children included."""
    table = _proc_table()
    return sum(table[p][2] for p in _tree(table)) / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak resident set size of this process and all its descendants
    (this Python process, the JVM it launched and the JVM's Python workers),
    sampled from ``/proc`` on a background thread."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        table = _proc_table()
        rss = sum(table[p][1] for p in _tree(table)) * self._page
        self.peak_bytes = max(self.peak_bytes, rss)


class SparkProbe:
    """Per-operation Spark engine counters. Each operation runs under its
    own job group; afterwards the group's jobs are read back from
    ``SparkContext.statusTracker()`` (job, stage and task counts) and from
    the application status store (executor run time and bytes moved)."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self._n = 0

    def begin(self) -> str:
        self._n += 1
        group = f"perfbench-op-{self._n}"
        self.sc.setJobGroup(group, group)
        return group

    def collect(self, group: str) -> dict[str, float]:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
             "input_bytes", "shuffle_bytes", "output_bytes"),
            0.0,
        )
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            out["jobs"] += 1
            for stage in info.stageIds:
                try:
                    sd = store.lastStageAttempt(stage)
                except Exception:  # py4j error: a skipped stage has no attempt
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1000.0
                out["input_bytes"] += sd.inputBytes()
                out["shuffle_bytes"] += sd.shuffleReadBytes()
                out["output_bytes"] += sd.outputBytes()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return out
