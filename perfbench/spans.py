"""Spans recorded around calls into the engine, and their attribution
to Spark jobs read back from a plain-JSON Spark event log.

A span is one layer boundary: name, parent, start and end (epoch
seconds). Spans are held in memory and written out when the run ends.
Each Spark job is assigned to the leaf span whose time window overlaps
it most; with one client and non-overlapping leaves this is exact, and
it still attributes jobs that lost their job group (for example jobs
launched from driver thread pools). A job counts as *unattributed*
when its ``spark.jobGroup.id`` disagrees with the span its window
falls in.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``spark_context`` set, every span also sets
    the Spark job group of the calling thread to the span name."""

    def __init__(self, spark_context=None):
        self.spans: list[Span] = []
        self._stack: list[str] = []
        self.sc = spark_context

    @contextmanager
    def span(self, name: str):
        s = Span(name, self._stack[-1] if self._stack else None, time.time())
        self.spans.append(s)
        self._stack.append(name)
        if self.sc is not None:
            self.sc.setJobGroup(name, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                parent = self._stack[-1] if self._stack else ""
                self.sc.setJobGroup(parent, parent)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(iv: tuple[float, float], lo: float, hi: float) -> tuple[float, float]:
    """``iv`` cut to ``[lo, hi]``; empty (zero length) when disjoint."""
    start = max(iv[0], lo)
    return (start, max(start, min(iv[1], hi)))


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part its child spans cover."""
    return span.wall - union_length(
        [clip((c.start, c.end), span.start, span.end) for c in children]
    )


@dataclass
class Job:
    id: int
    start: float
    end: float
    group: str | None
    tasks: int = 0
    cpu_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    stage_ids: set = field(default_factory=set)  # stages that ran tasks

    @property
    def n_stages(self) -> int:
        return len(self.stage_ids)


def parse_event_log(lines) -> dict[int, Job]:
    """Jobs of one Spark event log, with the task metrics of every
    stage folded into the first job that lists the stage."""
    jobs: dict[int, Job] = {}
    stage_owner: dict[int, int] = {}
    pending: list[dict] = []
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = Job(
                id=jid,
                start=ev["Submission Time"] / 1000.0,
                end=ev["Submission Time"] / 1000.0,
                group=props.get("spark.jobGroup.id"),
            )
            for sid in ev.get("Stage IDs", []):
                stage_owner.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            pending.append(ev)
    for ev in pending:
        job = jobs.get(stage_owner.get(ev["Stage ID"], -1))
        if job is None:
            continue
        m = ev.get("Task Metrics") or {}
        job.tasks += 1
        job.stage_ids.add(ev["Stage ID"])
        job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        job.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        out = m.get("Output Metrics") or {}
        job.output_bytes += out.get("Bytes Written", 0)
        job.output_records += out.get("Records Written", 0)
        job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        job.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return jobs


def assign_jobs(spans: list[Span], jobs: dict[int, Job]) -> dict[int, str | None]:
    """Job id -> name of the leaf span whose window overlaps the job
    most (the enclosing span for a job that overlaps no leaf)."""
    parents = {s.parent for s in spans}
    leaves = [s for s in spans if s.name not in parents]
    out: dict[int, str | None] = {}
    for jid, job in jobs.items():
        best, best_overlap = None, float("-inf")
        for s in leaves:
            overlap = min(job.end, s.end) - max(job.start, s.start)
            if overlap > best_overlap:
                best, best_overlap = s, overlap
        if best_overlap < 0:
            # no leaf overlaps: fall back to the innermost enclosing span,
            # else to the nearest leaf
            enclosing = [s for s in spans if s.start <= job.start <= s.end]
            best = min(enclosing, key=lambda s: s.wall) if enclosing else best
        out[jid] = best.name if best is not None else None
    return out


def span_metrics(span: Span, jobs: list[Job]) -> dict[str, float]:
    """Every per-layer measure a span can report, from its own jobs."""
    busy = union_length([clip((j.start, j.end), span.start, span.end) for j in jobs])
    return {
        "wall_s": span.wall,
        "jobs": float(len(jobs)),
        "stages": float(sum(j.n_stages for j in jobs)),
        "tasks": float(sum(j.tasks for j in jobs)),
        "task_cpu_s": sum(j.cpu_s for j in jobs),
        "driver_gap_s": max(0.0, span.wall - busy),
        "input_mb": sum(j.input_bytes for j in jobs) / MB,
        "output_mb": sum(j.output_bytes for j in jobs) / MB,
        "output_rows": float(sum(j.output_records for j in jobs)),
        "shuffle_write_mb": sum(j.shuffle_write_bytes for j in jobs) / MB,
        "spill_mb": sum(j.spill_bytes for j in jobs) / MB,
    }


def attribute(spans: list[Span], jobs: dict[int, Job]) -> dict:
    """Per-span metrics plus the attribution summary of one run."""
    owner = assign_jobs(spans, jobs)
    by_span: dict[str, list[Job]] = {}
    for jid, name in owner.items():
        if name is not None:
            by_span.setdefault(name, []).append(jobs[jid])
    children: dict[str | None, list[Span]] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)
    per_span = {}
    for s in spans:
        mine = by_span.get(s.name, [])
        m = span_metrics(s, mine)
        m["self_s"] = self_time(s, children.get(s.name, []))
        m["unattributed_jobs"] = float(sum(1 for j in mine if j.group != s.name))
        per_span[s.name] = m
    return {
        "spans": per_span,
        "jobs": len(jobs),
        "assigned_jobs": sum(1 for name in owner.values() if name is not None),
        "unattributed_jobs": sum(
            1 for jid, name in owner.items() if jobs[jid].group != name
        ),
    }
