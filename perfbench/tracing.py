"""Spans, Spark counters and host diagnostics, all read from outside the engine.

- ``Tracer`` keeps spans in memory (name, start, end, parent, trace id) and
  writes them as JSON lines when the run ends. With tracing off it records
  nothing and every ``span`` is a no-op context.
- ``SparkCounters`` reads the application status store through
  ``sc._jsc.sc().statusStore()``: per-stage task counts, executor run and CPU
  time, input, shuffle and spill bytes and failed tasks, summed over the
  stages a span started. It works with ``spark.ui.enabled=false``.
- ``RssSampler`` samples the proportional set size of this process and all of
  its descendants (the JVM and its Python workers) and keeps the peak.
- ``steal_fraction`` reads /proc/stat before and after a run.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

COUNTERS = ("tasks", "executor_cpu_s", "executor_run_s", "input_bytes",
            "shuffle_bytes", "spill_bytes", "failed_tasks")


def _rank(n: int, p: int) -> int:
    """1-based nearest rank of percentile p in n samples."""
    return max(1, -(-n * p // 100))


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest whole percentile above the median that has at least
    ``beyond`` of ``n`` samples ranked past it; None if no such percentile."""
    for p in range(99, 50, -1):
        if n - _rank(n, p) >= beyond:
            return p
    return None


def percentile(values, p: int) -> float:
    """Nearest-rank percentile of a non-empty sample."""
    s = sorted(values)
    return s[_rank(len(s), p) - 1]


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of its interval its children cover."""
    ivs = sorted((max(c["start"], span["start"]), min(c["end"], span["end"]))
                 for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered


class SparkCounters:
    """Counter deltas over the stages submitted since a mark."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._no_quantiles = self._sc._gateway.new_array(
            self._sc._gateway.jvm.double, 0)

    def _stages(self):
        # newest first (the store's stageId index is read in reverse)
        self._bus.waitUntilEmpty(30_000)
        return self._store.stageList(None, False, False, self._no_quantiles,
                                     None)

    def mark(self) -> int:
        seq = self._stages()
        return seq.apply(0).stageId() if seq.length() else -1

    def since(self, mark: int) -> dict:
        out = dict.fromkeys(COUNTERS, 0.0)
        seq = self._stages()
        for i in range(seq.length()):
            s = seq.apply(i)
            if s.stageId() <= mark:
                break
            out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["failed_tasks"] += s.numFailedTasks()
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["input_bytes"] += s.inputBytes()
            out["shuffle_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.diskBytesSpilled()
        return out


class Tracer:
    """In-memory span recorder. ``span`` nests: a span opened inside another
    gets it as parent and inherits its trace id."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: SparkCounters | None = None
        self._stack: list[dict] = []
        self._next_trace = 0

    @contextmanager
    def span(self, name: str, new_trace: bool = False):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if parent is None or new_trace:
            self._next_trace += 1
            trace = self._next_trace
        else:
            trace = parent["trace"]
        rec = {"name": name, "id": len(self.spans), "trace": trace,
               "parent": parent["id"] if parent else None}
        mark = self.counters.mark() if self.counters else None
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.counters is not None:
                rec.update(self.counters.since(mark))
            self.spans.append(rec)

    def summary(self, cores: int) -> dict[str, dict[str, float]]:
        """Per span name: the median over calls of wall_s, self_s, each
        counter and slot_util (executor run time / (wall × cores))."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        calls: dict[str, list[dict]] = {}
        for s in self.spans:
            wall = s["end"] - s["start"]
            row = {"wall_s": wall, "self_s": self_time(s, kids.get(s["id"], []))}
            for c in COUNTERS:
                row[c] = s.get(c, 0.0)
            row["slot_util"] = row["executor_run_s"] / (wall * cores) if wall > 0 else 0.0
            calls.setdefault(s["name"], []).append(row)
        return {name: {k: statistics.median(r[k] for r in rows) for k in rows[0]}
                for name, rows in calls.items()}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(x) for x in f.read().split()]
    except OSError:
        return []


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb(root: int | None = None) -> float:
    """Proportional set size of ``root`` and all its descendants, in MB."""
    todo, total = [root or os.getpid()], 0
    while todo:
        pid = todo.pop()
        total += _pss_kb(pid)
        todo.extend(_children(pid))
    return total / 1024.0


class RssSampler:
    """Background thread keeping the peak of ``tree_pss_mb``."""

    def __init__(self, interval: float = 0.25):
        self.peak_mb = 0.0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb())
            self._stop.wait(self._interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_pss_mb())


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_fraction(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two cpu_times()."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])  # user..steal; guest time is already in user
    return d[7] / total if total > 0 and len(d) > 7 else 0.0
