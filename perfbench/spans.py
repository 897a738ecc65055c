"""Spans, Spark task counters and process-tree memory for the benchmark.

Spans are recorded around calls into the program's modules from the
benchmark's own files; each span labels the Spark jobs it triggers with a job
group, and after the session stops the Spark event log is read back to attach
task counters (tasks, failures, shuffle and spill bytes, task times) to the
span that caused them.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    layer: str
    parent: str | None
    start: float
    end: float | None = None
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Nested spans kept in memory. A disabled tracer records nothing and
    never touches the SparkContext, so untraced runs pay only a call."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[Span] = []

    def begin(self, name: str, layer: str) -> Span | None:
        if not self.enabled:
            return None
        parent = self._open[-1].id if self._open else None
        span = Span(f"bench-{len(self.spans)}", name, layer, parent, time.perf_counter())
        self.spans.append(span)
        self._open.append(span)
        self.sc.setJobGroup(span.id, name)
        return span

    def end(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        self._open.remove(span)
        if self._open:
            self.sc.setJobGroup(self._open[-1].id, self._open[-1].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str, layer: str):
        span = self.begin(name, layer)
        try:
            yield span
        finally:
            self.end(span)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_seconds(self, span: Span) -> float:
        """Span duration minus the part of it its children cover."""
        return span.seconds - sum(c.seconds for c in self.children(span))


# ---------------------------------------------------------------------------
# Spark event log -> per-span task counters
# ---------------------------------------------------------------------------

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
}


def attach_task_counters(tracer: Tracer, event_log_dir: str) -> dict:
    """Read the (stopped) session's event log and add to each span the
    counters of the Spark tasks its jobs ran. Returns the totals over all
    traced jobs."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    tasks: list[dict] = []
    paths = sorted(glob.glob(os.path.join(event_log_dir, "**", "events_*"), recursive=True))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        job_group[ev["Job ID"]] = group
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    by_id = {s.id: s for s in tracer.spans}
    for s in tracer.spans:
        s.counters = {"jobs": 0, "tasks": 0, "failed_tasks": 0, "shuffle_bytes": 0,
                      "spill_bytes": 0, "executor_run_s": 0.0, "stage_task_ms": {}}
    for group in job_group.values():
        if group in by_id:
            by_id[group].counters["jobs"] += 1
    for ev in tasks:
        span = by_id.get(stage_group.get(ev["Stage ID"]))
        if span is None:
            continue
        c = span.counters
        info = ev.get("Task Info", {})
        m = ev.get("Task Metrics") or {}
        c["tasks"] += 1
        failed = ev.get("Task End Reason", {}).get("Reason") != "Success"
        if failed or info.get("Attempt", 0) > 0 or info.get("Speculative"):
            c["failed_tasks"] += 1
        sw = m.get("Shuffle Write Metrics", {})
        c["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
        c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        run_ms = m.get("Executor Run Time", 0)
        c["executor_run_s"] += run_ms / 1000.0
        c["stage_task_ms"].setdefault(ev["Stage ID"], []).append(run_ms)
    totals = {k: 0 for k in ("jobs", "tasks", "failed_tasks", "shuffle_bytes", "spill_bytes")}
    totals["executor_run_s"] = 0.0
    for s in tracer.spans:
        for k in totals:
            totals[k] += s.counters[k]
    return totals


def task_skew(spans: list[Span]) -> float:
    """Worst max/median task run time over the Spark stages of ``spans``
    that ran at least two tasks (1.0 when none did)."""
    worst = 1.0
    for s in spans:
        for times in s.counters.get("stage_task_ms", {}).values():
            if len(times) >= 2:
                worst = max(worst, max(times) / max(statistics.median(times), 1.0))
    return worst


def subtree(tracer: Tracer, root: Span) -> list[Span]:
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(tracer.children(s))
    return out


def summed(spans: list[Span], key: str) -> float:
    return sum(s.counters.get(key, 0) for s in spans)


# ---------------------------------------------------------------------------
# Peak RSS of this process and every descendant (Spark JVM, Python workers)
# ---------------------------------------------------------------------------


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of this machine's CPUs: the share of time the
    host withheld from them shows as steal/total over an interval."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def descendants(root: int | None = None) -> set[int]:
    """PIDs of every live descendant of ``root`` (default: this process)."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        parent[int(entry)] = int(stat[stat.rindex(")") + 2:].split()[1])
    tree: set[int] = set()
    frontier = [root or os.getpid()]
    while frontier:
        p = frontier.pop()
        for pid, pp in parent.items():
            if pp == p and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    return tree


class TreeRss:
    """Samples the summed resident set size of the process tree rooted at
    this process every ``interval`` seconds and keeps the peak."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self.peak_parts_mb: dict[str, float] = {}  # RSS by command at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False

    def _sample(self) -> int:
        total, parts = 0, {}
        for pid in descendants() | {os.getpid()}:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    rss = int(fh.read().split()[1]) * self._page
                with open(f"/proc/{pid}/comm") as fh:
                    comm = fh.read().strip()
            except OSError:
                continue
            total += rss
            parts[comm] = parts.get(comm, 0) + rss
        if total > self.peak_bytes:
            self.peak_parts_mb = {k: v / 2**20 for k, v in parts.items()}
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._sample())
            self._stop.wait(self.interval)

    @property
    def peak_mb(self) -> float:
        return max(self.peak_bytes, self._sample()) / 2**20
