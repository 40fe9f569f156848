"""Spans, Spark event-log counters and process memory for the benchmark.

Spans are recorded from the benchmark's own files around calls into
the program's layers: name, start, end and parent, kept in memory and
written as JSON when the run ends. Each open span is also published as
a Spark local property, so every Spark job carries the id of the span
that launched it in the event log; ``EventLog`` uses that to attribute
task counters (run time, GC, spill, shuffle bytes) to spans.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    """In-memory span recorder. Once attached to a SparkContext, the
    innermost open span's id is set as a local property, so jobs
    submitted from this thread are tagged with it."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None

    def attach(self, sc) -> None:
        """Tag Spark jobs with the open span from now on."""
        self._sc = sc
        self._publish()

    def _publish(self) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(SPAN_PROPERTY, str(self._stack[-1]) if self._stack else None)

    def begin(self, name: str) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"id": sid, "name": name, "parent": parent, "start": time.monotonic(), "end": None})
        self._stack.append(sid)
        self._publish()
        return sid

    def end(self, sid: int) -> None:
        if self._stack[-1] != sid:
            raise RuntimeError(f"span {sid} closed out of order")
        self.spans[sid]["end"] = time.monotonic()
        self._stack.pop()
        self._publish()

    def cancel(self, sid: int) -> None:
        """Drop the innermost span when it turned out to hold no work
        (it must have no children)."""
        self.end(sid)
        self.spans[sid]["cancelled"] = True

    @contextmanager
    def span(self, name: str):
        sid = self.begin(name)
        try:
            yield
        finally:
            self.end(sid)

    def live(self) -> list[dict]:
        return [s for s in self.spans if not s.get("cancelled") and s["end"] is not None]

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its child spans cover.
        Children of one span run one after another, so their union is
        their sum."""
        live = self.live()
        child_sum: dict[int, float] = defaultdict(float)
        for s in live:
            if s["parent"] is not None:
                child_sum[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child_sum[s["id"]] for s in live}

    def descendants(self, root: int) -> set[int]:
        out, frontier = {root}, [root]
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s["id"])
        while frontier:
            for c in children[frontier.pop()]:
                out.add(c)
                frontier.append(c)
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.live(), **extra}, f, indent=1)


class EventLog:
    """Task counters from a finished Spark event log, grouped by the
    span id each job was tagged with."""

    def __init__(self, log_dir: str):
        self.jobs_by_span: dict[int, int] = defaultdict(int)
        self.tasks_by_span: dict[int, list[dict]] = defaultdict(list)
        stage_span: dict[int, int] = {}
        files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    span = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                    if span is None:
                        continue
                    self.jobs_by_span[int(span)] += 1
                    for stage in ev["Stage IDs"]:
                        stage_span.setdefault(stage, int(span))
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_span:
                    self.tasks_by_span[stage_span[ev["Stage ID"]]].append(ev.get("Task Metrics") or {})

    def totals(self, spans: set[int]) -> dict[str, float]:
        """Summed counters over the jobs of ``spans``."""
        tot = defaultdict(float)
        for sid in spans:
            tot["jobs"] += self.jobs_by_span.get(sid, 0)
            for m in self.tasks_by_span.get(sid, ()):
                tot["run_s"] += m.get("Executor Run Time", 0) / 1000
                tot["gc_s"] += m.get("JVM GC Time", 0) / 1000
                tot["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                tot["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        return dict(tot)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(entry))
    return kids


def descendant_pids(pid: int | None = None) -> list[int]:
    """Every live process below ``pid`` (default: this process)."""
    kids = _children_map()
    out, frontier = [], [pid or os.getpid()]
    while frontier:
        for c in kids.get(frontier.pop(), ()):
            out.append(c)
            frontier.append(c)
    return out


class CpuMeter:
    """CPU time (user + system) of this process and its descendants (the
    driver JVM, the pyspark daemon and workers), in seconds. A process
    that has exited keeps the time it was last seen with, so a worker
    that Spark retires does not take its time out of the total. Time
    the hypervisor steals from the virtual CPUs is not CPU time of any
    process and is not in it."""

    def __init__(self):
        self._ticks: dict[tuple[int, int], int] = {}  # (pid, start time) -> utime + stime

    def seconds(self) -> float:
        for pid in [os.getpid(), *descendant_pids()]:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # exited since it was listed
            self._ticks[(pid, int(fields[19]))] = int(fields[11]) + int(fields[12])
        return sum(self._ticks.values()) / os.sysconf("SC_CLK_TCK")


def stolen_seconds() -> float:
    """CPU time the hypervisor has taken from this machine's virtual
    CPUs since boot (the steal column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _vm_hwm_kb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


class PeakRss:
    """Peak resident memory of this process's descendants (the driver
    JVM and its pyspark daemon and workers): the last ``VmHWM`` seen for
    each process, summed. Sample often enough that short-lived workers
    are seen before they exit."""

    def __init__(self):
        self._hwm_kb: dict[int, int] = {}

    def sample(self) -> None:
        for pid in descendant_pids():
            kb = _vm_hwm_kb(pid)
            if kb is not None:
                self._hwm_kb[pid] = max(kb, self._hwm_kb.get(pid, 0))

    def mb(self) -> float:
        return sum(self._hwm_kb.values()) / 1024


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest sample percentile with at
    least ten samples above it; with fewer than 21 samples, the one
    with half the others above it (the median, or the upper middle
    sample of an even count)."""
    s = sorted(xs)
    n = len(s)
    beyond = min(10, (n - 1) // 2)
    return s[n - 1 - beyond], 100.0 * (n - beyond) / n, n
