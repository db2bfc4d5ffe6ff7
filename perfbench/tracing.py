"""Spans recorded around the program's public calls, and Spark's event
log folded into them.

Every span sets its own Spark job group while it is open, so jobs
submitted from inside it carry the span's id. Jobs that carry no group
(submitted from a thread no span is open on) go to the innermost span
open on the main thread at the job's submission time.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    sid: int
    name: str
    label: str
    parent: int | None
    main_thread: bool
    start: float  # wall-clock seconds, aligned with the event log
    end: float = 0.0
    py_cpu_s: float = 0.0  # Python-worker CPU used while open, if probed

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class SparkCounts:
    jobs: int = 0
    tasks: int = 0
    cpu_s: float = 0.0  # executor (JVM) CPU of the tasks
    shuffle_bytes: int = 0  # shuffle bytes written
    spill_bytes: int = 0  # memory + disk bytes spilled

    def add(self, other: "SparkCounts") -> None:
        self.jobs += other.jobs
        self.tasks += other.tasks
        self.cpu_s += other.cpu_s
        self.shuffle_bytes += other.shuffle_bytes
        self.spill_bytes += other.spill_bytes


class Tracer:
    def __init__(self, sc, cpu_probe=None):
        self.sc = sc
        self.cpu_probe = cpu_probe  # () -> Python-worker CPU seconds so far
        self.spans: list[Span] = []
        self._stacks: dict[int, list[Span]] = defaultdict(list)
        self._lock = threading.Lock()
        self._main = threading.get_ident()
        # one wall-clock anchor; durations come from the monotonic clock
        self._wall0, self._mono0 = time.time(), time.perf_counter()

    def now(self) -> float:
        return self._wall0 + (time.perf_counter() - self._mono0)

    @contextmanager
    def span(self, name: str, label: str = "", probe_cpu: bool = False):
        tid = threading.get_ident()
        stack = self._stacks[tid]
        with self._lock:
            main_stack = self._stacks[self._main]
            parent = stack[-1] if stack else (main_stack[-1] if main_stack else None)
            s = Span(len(self.spans), name, label, parent.sid if parent else None, tid == self._main, 0.0)
            self.spans.append(s)
        stack.append(s)
        self.sc.setJobGroup(f"{GROUP_PREFIX}{s.sid}", f"{name} {label}".strip())
        cpu0 = self.cpu_probe() if probe_cpu and self.cpu_probe else 0.0
        s.start = self.now()
        try:
            yield s
        finally:
            s.end = self.now()
            if probe_cpu and self.cpu_probe:
                s.py_cpu_s = self.cpu_probe() - cpu0
            stack.pop()
            if stack:
                self.sc.setJobGroup(f"{GROUP_PREFIX}{stack[-1].sid}", stack[-1].name)
            else:
                self.sc._jsc.clearJobGroup()

    def wrap(self, name: str, fn, label=None, probe_cpu: bool = False):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, label(*args, **kwargs) if label else "", probe_cpu):
                return fn(*args, **kwargs)

        return traced

    # -- derived per-span figures ---------------------------------------

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def descendants(self, sid: int) -> list[Span]:
        out, todo = [], [sid]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(k.sid for k in kids)
        return out

    def covered_by_children(self, span: Span) -> float:
        """Length of the part of `span` that its child spans cover
        (children may overlap: the engine stages tables concurrently)."""
        iv = sorted((max(c.start, span.start), min(c.end, span.end)) for c in self.children(span.sid))
        total, cur_a, cur_b = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    total += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            total += cur_b - cur_a
        return total

    def self_time(self, span: Span) -> float:
        return span.duration - self.covered_by_children(span)

    def owner_of_ungrouped(self, t: float) -> Span | None:
        """Innermost span open on the main thread at wall time `t`."""
        best = None
        for s in self.spans:
            if s.main_thread and s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best


def read_event_log(log_dir: str, kinds: tuple[str, ...] = ("SparkListenerJobStart", "SparkListenerTaskEnd")) -> list[dict]:
    """The events of the given kinds from the one application logged in
    `log_dir`. Spark 4 writes a rolling log: a directory of
    `events_<n>_<app>` parts, read in order."""
    parts = glob.glob(os.path.join(log_dir, "*", "events_*"))
    apps = {os.path.dirname(p) for p in parts}
    if len(apps) != 1:
        raise RuntimeError(f"expected one application's event log in {log_dir}, found {len(apps)}")
    prefixes = tuple(f'{{"Event":"{k}"' for k in kinds)
    out = []
    for path in sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1])):
        with open(path, encoding="utf-8") as f:
            out.extend(json.loads(line) for line in f if line.startswith(prefixes))
    return out


def spark_counts_by_span(tracer: Tracer, events: list[dict]) -> dict[int, SparkCounts]:
    """Jobs, tasks, CPU, shuffle and spill of each span (its own jobs,
    not its descendants')."""
    span_of_job: dict[int, int] = {}
    job_of_stage: dict[int, int] = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerJobStart":
            continue
        group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
        if group.startswith(GROUP_PREFIX):
            sid = int(group[len(GROUP_PREFIX) :])
        else:
            owner = tracer.owner_of_ungrouped(ev["Submission Time"] / 1000.0)
            if owner is None:
                continue  # warm-up, output checks: outside every span
            sid = owner.sid
        span_of_job[ev["Job ID"]] = sid
        for stage_id in ev.get("Stage IDs", []):
            job_of_stage.setdefault(stage_id, ev["Job ID"])

    out: dict[int, SparkCounts] = defaultdict(SparkCounts)
    for sid in span_of_job.values():
        out[sid].jobs += 1
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        job = job_of_stage.get(ev.get("Stage ID"))
        if job is None or job not in span_of_job:
            continue
        c = out[span_of_job[job]]
        m = ev.get("Task Metrics") or {}
        c.tasks += 1
        c.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        c.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return out


def tree_counts(tracer: Tracer, per_span: dict[int, SparkCounts], span: Span) -> SparkCounts:
    """Spark counts of `span` and all its descendants."""
    total = SparkCounts()
    for s in [span, *tracer.descendants(span.sid)]:
        if s.sid in per_span:
            total.add(per_span[s.sid])
    return total
