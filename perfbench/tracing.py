"""Spans recorded around the calls into the engine's modules, and the
Spark event-log reader the traced run uses for execution counters.

Spans are kept in memory and written out when the run ends.  A span has
a name, a start and an end (wall-clock seconds), the span that was open
when it started, and the id of the query it belongs to.  A layer's self
time is its duration minus the time covered by its child spans.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
from collections import defaultdict
from collections.abc import Callable, Iterator
from dataclasses import asdict, dataclass
from time import time


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    qid: str | None
    start: float
    end: float = 0.0


class Tracer:
    """Single-threaded span recorder: one stack of open spans."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.qid: str | None = None
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._open[-1] if self._open else None
        s = Span(len(self.spans), name, parent, self.qid, time())
        self.spans.append(s)
        self._open.append(s.id)
        try:
            yield s
        finally:
            s.end = time()
            self._open.pop()

    def wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += (s.end - s.start) - child_time[s.id]
        return dict(out)

    def counts(self) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for s in self.spans:
            out[s.name] += 1
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


@contextlib.contextmanager
def patched(tracer: Tracer, targets: dict[str, tuple[object, str]]) -> Iterator[None]:
    """Wrap engine functions in spans wherever they are bound.

    targets maps a span name to (module, attribute).  Query modules bind
    these functions with `from ... import name`, so every loaded engine
    module whose attribute is the original function object is rebound to
    the wrapper, and restored on exit.
    """
    undo: list[tuple[object, str, object]] = []
    for span_name, (module, attr) in targets.items():
        original = getattr(module, attr)
        wrapper = tracer.wrap(span_name, original)
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if name.startswith("cobradb_spark") and getattr(mod, attr, None) is original:
                setattr(mod, attr, wrapper)
                undo.append((mod, attr, original))
    try:
        yield
    finally:
        for mod, attr, original in reversed(undo):
            setattr(mod, attr, original)


def read_event_log(path: str) -> list[dict]:
    """Events of an uncompressed Spark event log (one JSON object a
    line): a single file, or a v2 log directory of events_<n>_* files."""
    files = [path]
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        files = [os.path.join(path, f) for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]
    events = []
    for name in files:
        with open(name) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


@dataclass
class ExecCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_ms: int = 0


def exec_counters(events: list[dict], windows: list[tuple[float, float]]) -> ExecCounters:
    """Counters of the jobs submitted inside any of the [start, end]
    wall-clock windows (seconds), with their stages and tasks."""

    def inside(ms: int) -> bool:
        return any(a * 1000 <= ms <= b * 1000 for a, b in windows)

    out = ExecCounters()
    stage_ids: set[int] = set()
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart" and inside(ev.get("Submission Time", -1)):
            out.jobs += 1
            stage_ids.update(ev.get("Stage IDs", []))
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info", {})
            if info.get("Stage ID") in stage_ids and "Submission Time" in info:
                out.stages += 1  # skipped stages never ran and have no submission time
        elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_ids:
            out.tasks += 1
            m = ev.get("Task Metrics") or {}
            read = m.get("Shuffle Read Metrics") or {}
            out.shuffle_read_bytes += read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
            out.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            out.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            out.gc_ms += m.get("JVM GC Time", 0)
    return out
