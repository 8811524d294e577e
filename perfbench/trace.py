"""Spans recorded by the benchmark around calls into argo_spark, and the
Spark event log read back per span.

A span sets the Spark job group to its own id for its duration, so
every job Spark runs inside it is tagged in the event log; after the
session stops, :func:`read_event_log` sums task metrics per job group
and :meth:`Tracer.rollup` adds a span's descendants to it. Nothing
inside ``argo_spark`` is instrumented.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Iterator, Optional


@dataclass
class Span:
    id: str
    name: str
    start: float
    end: float
    parent: Optional[str]
    run_id: str

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class GroupStats:
    """Task metrics summed over the jobs of one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: float = 0.0
    gc_ms: float = 0.0
    scheduler_delay_ms: float = 0.0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_records: int = 0

    def add(self, other: "GroupStats") -> None:
        for k, v in asdict(other).items():
            setattr(self, k, getattr(self, k) + v)


class Tracer:
    """In-memory span recorder. While ``enabled`` is false, ``span`` only
    yields: no clock reads, no job-group calls."""

    def __init__(self, spark_context, run_id: str):
        self.sc = spark_context
        self.run_id = run_id
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[tuple[str, str]] = []
        self._next = 0

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        self._next += 1
        sid = f"{self.run_id}.{self._next}"
        parent = self._stack[-1] if self._stack else None
        self._stack.append((sid, name))
        self.sc.setJobGroup(sid, name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(*parent)
            self.spans.append(
                Span(sid, name, start, end, parent[0] if parent else None, self.run_id)
            )

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_seconds(self, span: Span) -> float:
        """Duration minus the time its child spans cover (children of
        one span never overlap: the benchmark is single-threaded)."""
        return span.seconds - sum(c.seconds for c in self.children(span))

    def rollup(self, span: Span, groups: dict[str, GroupStats]) -> GroupStats:
        """Event-log totals of ``span`` and all spans below it."""
        total = GroupStats()
        todo = [span]
        while todo:
            s = todo.pop()
            total.add(groups.get(s.id, GroupStats()))
            todo.extend(self.children(s))
        return total

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def read_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per job group task totals from the (uncompressed, single-file)
    event log in ``log_dir``. Read after the session stopped, when the
    log is complete."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = {}
    with open(os.path.join(log_dir, files[0])) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if gid is None:
                    continue
                groups.setdefault(gid, GroupStats()).jobs += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, gid)
            elif kind == "SparkListenerStageCompleted":
                gid = stage_group.get(ev["Stage Info"]["Stage ID"])
                if gid is not None:
                    groups[gid].stages += 1
            elif kind == "SparkListenerTaskEnd":
                gid = stage_group.get(ev["Stage ID"])
                if gid is not None:
                    _add_task(groups[gid], ev)
    return groups


def _add_task(g: GroupStats, ev: dict) -> None:
    info = ev["Task Info"]
    g.tasks += 1
    if info.get("Failed") or info.get("Killed"):
        g.failed_tasks += 1
    m = ev.get("Task Metrics")
    if not m:
        return
    run_ms = m["Executor Run Time"]
    g.run_ms += run_ms
    g.gc_ms += m["JVM GC Time"]
    # the Spark UI's definition: task wall time not spent deserializing,
    # running, serializing the result or shipping it to the driver
    wall = info["Finish Time"] - info["Launch Time"]
    g.scheduler_delay_ms += max(
        0,
        wall - run_ms - m["Executor Deserialize Time"]
        - m["Result Serialization Time"] - info.get("Getting Result Time", 0),
    )
    g.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    g.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
    g.input_bytes += m["Input Metrics"]["Bytes Read"]
    g.input_records += m["Input Metrics"]["Records Read"]
    g.output_records += m["Output Metrics"]["Records Written"]
