"""Measurement plumbing: spans, the host probe, peak RSS and Spark's
status stores.

Spans are recorded only from the harness, around each call into an
engine layer; nothing here reaches inside ``engine/``. A span holds
(name, start, end, parent, run id) and lives in memory until the run
ends.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """In-memory span recorder. ``enabled=False`` records nothing, so
    the untimed and timed code paths are the same code."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = Span(sid, name, time.perf_counter(), 0.0, parent, self.run_id)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec.end = time.perf_counter()

    def self_times(self, root: int) -> dict[str, float]:
        """Self time per span name (duration minus the children's
        durations), summed over the span ``root`` and all below it."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)

        def walk(s: Span, out: dict[str, float]) -> None:
            kids = children.get(s.sid, [])
            self_t = (s.end - s.start) - sum(k.end - k.start for k in kids)
            out[s.name] = out.get(s.name, 0.0) + self_t
            for k in kids:
                walk(k, out)

        out: dict[str, float] = {}
        walk(self.spans[root], out)
        return out

    def dump(self) -> list[dict]:
        return [vars(s) for s in self.spans]


def spin_probe(iterations: int = 3_000_000) -> float:
    """Fixed single-thread CPU loop; its wall time tracks how much CPU
    the host is delivering right now."""
    t0 = time.perf_counter()
    x = 0
    for i in range(iterations):
        x += i
    return time.perf_counter() - t0


def calibrate_spin(reps: int = 3) -> float:
    """Fastest of ``reps`` probes: this host's reference at start-up."""
    return min(spin_probe() for _ in range(reps))


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``, from the parent ids in
    /proc/<pid>/stat (a container has few processes, so a full scan is
    a couple of milliseconds)."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4, after the parenthesised command name
        parent[int(name)] = int(stat[stat.rindex(")") + 2:].split()[1])
    out, frontier = [], {pid}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier}
        out += frontier
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
    """Background sampler of RSS summed over this process and all its
    descendants (the Spark JVM and its Python workers). Also remembers
    every descendant it saw, so shutdown can wait for each to end."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        procs = descendants(me)
        self.seen.update(procs)
        total = _rss_kb(me) + sum(_rss_kb(p) for p in procs)
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def stage_stats(spark, group: str) -> dict:
    """Executor-side totals for every stage of the jobs in ``group``,
    read from Spark's status store (works with the UI off):
    run time, JVM CPU time, shuffle write bytes, spill, and the largest
    stage's max/median task run time (task skew)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    quantiles = sc._gateway.new_array(sc._jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    out = {"run_s": 0.0, "cpu_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0, "task_skew": 1.0}
    biggest = -1.0
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        if info is None:
            continue
        for sid in info.stageIds:
            for sd in _seq(store.stageData(sid, False, sc._jvm.java.util.ArrayList(), True, quantiles)):
                run_s = sd.executorRunTime() / 1e3
                out["run_s"] += run_s
                out["cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                dist = sd.taskMetricsDistributions()
                if run_s > biggest and dist.isDefined():
                    q = _seq(dist.get().executorRunTime())
                    biggest = run_s
                    out["task_skew"] = q[1] / q[0] if q[0] > 0 else 1.0
    return out


def _metric_int(text: str) -> int:
    return int(text.split("\n")[-1].split()[0].replace(",", ""))


def python_rows(spark, group: str) -> int:
    """Rows returned by ``MapInPandas`` nodes in the SQL executions of
    ``group``'s jobs: the rows the extraction kernel processed (the
    stage emits one row per input row)."""
    sc = spark.sparkContext
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    sql = spark._jsparkSession.sharedState().statusStore()
    total = 0
    for e in _seq(sql.executionsList()):
        ejobs = {int(j) for j in _seq(e.jobs().keys().toSeq())}
        if not ejobs & jobs:
            continue
        values = sql.executionMetrics(e.executionId())
        for node in _seq(sql.planGraph(e.executionId()).allNodes()):
            if node.name() != "MapInPandas":
                continue
            for m in _seq(node.metrics()):
                v = values.get(m.accumulatorId())
                if m.name() == "number of output rows" and v.isDefined():
                    total += _metric_int(v.get())
    return total
