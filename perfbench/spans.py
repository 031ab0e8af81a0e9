"""Benchmark-side spans, Spark event-log parsing, and process memory.

Spans are recorded in every run (they are how the benchmark times its
operations). With tracing on, each span also tags the Spark jobs it
submits through the ``perfbench.span`` local property, and Spark writes
its event log; :class:`EventLog` then joins jobs to spans (or to
streaming micro-batches) and :func:`family_metrics` reports, per
family of operations, the engine-layer counts the ``spark.*`` metrics
name.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"
BATCH_PROPERTY = "streaming.sql.batchId"
QUERY_PROPERTY = "sql.streaming.queryId"
FAMILY_FIELDS = (
    "jobs",
    "tasks",
    "single_task_stages",
    "driver_only_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_bytes",
    "spill_bytes",
    "python_eval_s",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder. ``sc`` is set only when tracing is on,
    so untraced runs make no extra JVM calls."""

    run_id: str
    sc: object = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent, self.run_id, time.time())
        self.spans.append(s)
        self._stack.append(s.id)
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, str(s.id))
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(
                    SPAN_PROPERTY, str(self._stack[-1]) if self._stack else None
                )

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, span: Span) -> float:
        """Span wall minus the part of it its child spans cover."""
        kids = [(c.start, c.end) for c in self.spans if c.parent == span.id]
        return span.wall - _union(kids, span.start, span.end)

    def descendants(self, span: Span) -> set[int]:
        out = {span.id}
        for s in self.spans[span.id + 1:]:
            if s.parent in out:
                out.add(s.id)
        return out


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

@dataclass
class Job:
    id: int
    start: float
    end: float = 0.0
    span: int | None = None
    batch: int | None = None
    query: str | None = None
    stages: list[int] = field(default_factory=list)


@dataclass
class StageTotals:
    tasks: int = 0
    num_tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    python_s: float = 0.0


def parse_event_log(path: str) -> tuple[dict[int, Job], dict[int, StageTotals]]:
    """Jobs (with span tag, streaming batch id and interval) and
    per-stage task totals from a plain JSON-lines Spark event log."""
    jobs: dict[int, Job] = {}
    stages: dict[int, StageTotals] = {}
    with open(path) as fh:
        for line in fh:
            # Lines start with {"Event":"<name>"; decode only the
            # events used below.
            kind = line[10:line.find('"', 10)]
            if kind == "SparkListenerJobStart":
                e = json.loads(line)
                props = e.get("Properties") or {}
                span = props.get(SPAN_PROPERTY)
                batch = props.get(BATCH_PROPERTY)
                jobs[e["Job ID"]] = Job(
                    e["Job ID"],
                    e["Submission Time"] / 1000.0,
                    span=int(span) if span not in (None, "") else None,
                    batch=int(batch) if batch is not None else None,
                    query=props.get(QUERY_PROPERTY),
                    stages=list(e["Stage IDs"]),
                )
            elif kind == "SparkListenerJobEnd":
                e = json.loads(line)
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                e = json.loads(line)
                st = stages.setdefault(e["Stage ID"], StageTotals())
                st.tasks += 1
                m = e.get("Task Metrics") or {}
                st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                st.gc_s += m.get("JVM GC Time", 0) / 1e3
                st.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st.spill_bytes += m.get("Disk Bytes Spilled", 0)
                for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
                    if acc.get("Name") == "time to run Python workers":
                        st.python_s += float(acc.get("Update", 0)) / 1e3
            elif kind == "SparkListenerStageCompleted":
                e = json.loads(line)
                info = e["Stage Info"]
                stages.setdefault(info["Stage ID"], StageTotals()).num_tasks = info[
                    "Number of Tasks"
                ]
    return jobs, stages


def _family_row(jobs: list[Job], stage_owner, stages, wall, lo, hi) -> dict[str, float]:
    row = dict.fromkeys(FAMILY_FIELDS, 0.0)
    row["jobs"] = len(jobs)
    ids = {j.id for j in jobs}
    for sid, owner in stage_owner.items():
        if owner not in ids or sid not in stages:
            continue
        st = stages[sid]
        row["tasks"] += st.tasks
        row["single_task_stages"] += 1 if st.tasks and st.num_tasks == 1 else 0
        row["executor_cpu_s"] += st.cpu_s
        row["gc_s"] += st.gc_s
        row["shuffle_bytes"] += st.shuffle_bytes
        row["spill_bytes"] += st.spill_bytes
        row["python_eval_s"] += st.python_s
    covered = _union([(j.start, j.end or j.start) for j in jobs], lo, hi)
    row["driver_only_s"] = max(0.0, wall - covered)
    return row


class EventLog:
    """A parsed event log; one row of ``FAMILY_FIELDS`` per operation."""

    def __init__(self, path: str):
        self.jobs, self.stages = parse_event_log(path)
        self.stage_owner: dict[int, int] = {}
        for j in sorted(self.jobs.values(), key=lambda j: j.id):
            for sid in j.stages:
                self.stage_owner.setdefault(sid, j.id)

    def _row(self, jobs: list[Job], wall: float, lo: float, hi: float) -> dict[str, float]:
        return _family_row(jobs, self.stage_owner, self.stages, wall, lo, hi)

    def span_rows(self, tracer: Tracer, spans: list[Span]) -> list[dict[str, float]]:
        """One row per span; a span owns the jobs tagged with its id or
        a descendant's."""
        rows = []
        for s in spans:
            owned = tracer.descendants(s)
            jobs = [j for j in self.jobs.values() if j.span in owned]
            rows.append(self._row(jobs, s.wall, s.start, s.end))
        return rows

    def stream_rows(self, calls: list[Span], batch_secs: list[list[float]]) -> list[dict]:
        """One row per streaming micro-batch: jobs carrying a streaming
        batch id inside a gate call's interval belong to that batch,
        matched to the call's ``batch_secs`` in batch-id order."""
        rows = []
        for call, secs in zip(calls, batch_secs):
            by_batch: dict[tuple, list[Job]] = {}
            for j in self.jobs.values():
                if j.batch is not None and call.start <= j.start <= call.end:
                    by_batch.setdefault((j.batch, j.query), []).append(j)
            for key, wall in zip(sorted(by_batch), secs):
                bj = by_batch[key]
                lo = min(j.start for j in bj)
                rows.append(self._row(bj, wall, lo, lo + wall))
        return rows


def family_metrics(family: str, rows: list[dict[str, float]]) -> dict[str, float]:
    """``spark.<family>.<field>``: the median over the family's rows."""
    return {
        f"spark.{family}.{f}": statistics.median(r[f] for r in rows) if rows else 0.0
        for f in FAMILY_FIELDS
    }


def event_log_file(log_dir: str) -> str | None:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    return os.path.join(log_dir, names[0]) if names else None
