"""Tracing for the benchmark: spans around layer calls, Spark event-log
counters per span, and a peak-memory (PSS) sampler.

A span records name, start, end, parent and run id. Spans stay in memory
and are written once, when the run ends. While a span is open its id is the
calling thread's Spark job group, so every job it starts carries that id in
the event log; jobs of a streaming query carry the query's run id instead,
which the span that started the query records in ``attrs["query_run_id"]``.
With tracing off, ``span`` records nothing and sets no job group.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator, Optional


@dataclass
class Span:
    id: str
    name: str
    start_ns: int
    end_ns: int
    parent: Optional[str]
    run_id: str
    kind: str = "path"  # "path": on the timed path; "probe": a layer replayed off it
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return (self.end_ns - self.start_ns) / 1e9


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()
        self.spark = None  # set once a traced session exists

    def _stack(self) -> list[str]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, group: Optional[str]) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def span(self, name: str, *, kind: str = "path", **attrs) -> Iterator[dict]:
        """Time the block as one span; yields its attrs dict so the caller
        can attach counts or query run ids."""
        if not self.enabled:
            yield attrs
            return
        stack = self._stack()
        sid = self.new_id()
        parent = stack[-1] if stack else None
        stack.append(sid)
        self._set_group(sid)
        start = time.perf_counter_ns()
        try:
            yield attrs
        finally:
            end = time.perf_counter_ns()
            stack.pop()
            self._set_group(stack[-1] if stack else None)
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, self.run_id, kind, attrs))

    def new_id(self) -> str:
        with self._lock:
            return f"{self.run_id}:{next(self._ids)}"

    def record(
        self, name: str, start_ns: int, end_ns: int, *, parent: Optional[str], sid: Optional[str] = None, **attrs
    ) -> None:
        """Add a span timed elsewhere (a sink flush runs on Spark's
        callback thread, not inside a ``span`` block). ``sid`` is an id
        from ``new_id`` when child spans already point at it."""
        if not self.enabled:
            return
        sid = sid or self.new_id()
        with self._lock:
            self.spans.append(Span(sid, name, start_ns, end_ns, parent, self.run_id, "path", attrs))

    def current(self) -> Optional[str]:
        stack = self._stack()
        return stack[-1] if stack else None


def covered_seconds(span: Span, children: list[Span]) -> float:
    """Seconds of ``span`` inside the union of its children."""
    covered, cursor = 0, span.start_ns
    for c in sorted(children, key=lambda c: c.start_ns):
        lo, hi = max(c.start_ns, cursor), min(c.end_ns, span.end_ns)
        if hi > lo:
            covered += hi - lo
            cursor = hi
    return covered / 1e9


def self_seconds(spans: list[Span]) -> dict[str, float]:
    """Span id -> duration minus the part of it its children cover."""
    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return {s.id: s.seconds - covered_seconds(s, children.get(s.id, [])) for s in spans}


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------
def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",  # one plain file per application
    }


@dataclass
class SparkCounters:
    jobs: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0

    def add(self, other: "SparkCounters") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def read_event_log(log_dir: str) -> dict[str, SparkCounters]:
    """Job group -> counters, from every event log in ``log_dir`` (read
    after the session stopped, so the files are complete)."""
    stage_group: dict[int, str] = {}
    out: dict[str, SparkCounters] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    out.setdefault(group, SparkCounters()).jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    metrics = ev.get("Task Metrics")
                    if group is None or not metrics:
                        continue
                    c = out.setdefault(group, SparkCounters())
                    c.tasks += 1
                    c.task_run_s += metrics.get("Executor Run Time", 0) / 1e3
                    c.gc_s += metrics.get("JVM GC Time", 0) / 1e3
                    sw = metrics.get("Shuffle Write Metrics") or {}
                    c.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / 2**20
                    c.spill_mb += (
                        metrics.get("Memory Bytes Spilled", 0) + metrics.get("Disk Bytes Spilled", 0)
                    ) / 2**20
    return out


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------
def process_tree(root: int) -> list[int]:
    """``root`` and every live process under it."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                text = f.read()
        except OSError:
            continue
        rest = text[text.rfind(")") + 2 :].split()
        children.setdefault(int(rest[1]), []).append(int(stat.split("/")[2]))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_pss_bytes() -> int:
    """Proportional set size of this process and its descendants (the
    driver JVM, Python workers, the generator). PSS charges a page shared
    by n processes 1/n to each, so the Python workers forked from one
    daemon are not counted once per worker for the libraries they share,
    as RSS would; the sum is the memory the tree actually holds."""
    total = 0
    for pid in process_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class PeakMemory:
    """Samples ``tree_pss_bytes`` every ``INTERVAL_S`` while open."""

    INTERVAL_S = 0.25

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.peak_bytes = max(self.peak_bytes, tree_pss_bytes())

    def __enter__(self) -> "PeakMemory":
        self.peak_bytes = tree_pss_bytes()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, tree_pss_bytes())
