"""Spans around the benchmark's calls into the program, and the Spark event
log read back per span.

A span is (id, name, layer, parent, start, end). With tracing on, every
span tags the Spark jobs it starts through ``sc.setJobGroup(span_id,
name)``; after the session stops, the event log is read once and each
job's tasks are charged to the span that started the job. Spans and
counters stay in memory and are written out when the run ends. With
tracing off a span only times the call: no job group, no record kept.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: str
    name: str
    layer: str
    parent: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None  # set once the session exists
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    def _tag(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.id, span.name)

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            f"s{next(self._ids)}", name, layer, parent.id if parent else None,
            time.perf_counter(), attrs=attrs,
        )
        if not self.enabled:
            try:
                yield s
            finally:
                s.end = time.perf_counter()
            return
        self._stack.append(s)
        if self.sc is not None:
            self._tag(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)
            if self.sc is not None:
                self._tag(parent)

    def descendants(self, root: Span) -> list[Span]:
        """root and every span below it."""
        children = defaultdict(list)
        for s in self.spans:
            children[s.parent].append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(children[s.id])
        return out


@dataclass
class SparkCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_failures: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_records: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0

    def add(self, other: "SparkCounts") -> None:
        for k, v in asdict(other).items():
            setattr(self, k, getattr(self, k) + v)


def read_event_log(log_dir: str) -> dict[str, SparkCounts]:
    """Job group id -> counters, from the uncompressed event log(s) under
    log_dir (Spark writes a v2 directory of ``events_*`` files)."""
    by_group: dict[str, SparkCounts] = defaultdict(SparkCounts)
    stage_group: dict[int, str] = {}
    paths = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")))
    if not paths:
        raise FileNotFoundError(f"no event log under {log_dir}")
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    by_group[group].jobs += 1
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    by_group[stage_group.get(ev["Stage Info"]["Stage ID"], "")].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    c = by_group[stage_group.get(ev["Stage ID"], "")]
                    c.tasks += 1
                    if ev["Task End Reason"]["Reason"] != "Success":
                        c.task_failures += 1
                    m = ev.get("Task Metrics") or {}
                    if not m:
                        continue
                    c.run_ms += m["Executor Run Time"]
                    c.gc_ms += m["JVM GC Time"]
                    c.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    c.shuffle_records += m["Shuffle Write Metrics"]["Shuffle Records Written"]
                    c.spill_bytes += m["Disk Bytes Spilled"]
                    c.input_bytes += m["Input Metrics"]["Bytes Read"]
                    c.output_bytes += m["Output Metrics"]["Bytes Written"]
    return dict(by_group)


def counts_under(tracer: Tracer, roots: list[Span], by_group: dict[str, SparkCounts]) -> SparkCounts:
    total = SparkCounts()
    for root in roots:
        for s in tracer.descendants(root):
            if s.id in by_group:
                total.add(by_group[s.id])
    return total


def write_trace(path: str, tracer: Tracer, by_group: dict[str, SparkCounts], meta: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(
            {
                "meta": meta,
                "spans": [asdict(s) for s in tracer.spans],
                "spark": {g: asdict(c) for g, c in by_group.items()},
            },
            fh,
        )
