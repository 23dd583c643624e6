"""Spans around the benchmark's calls into each layer, folded with
Spark's JSON event log into per-span job and task counters.

A span is ``<layer>.<fn>`` with a start, an end, its parent span and
the operation it belongs to. On the thread that opens it, a span sets
its own Spark job group, so every job that thread submits names the
span. Jobs that carry no group at all (work submitted from a thread
that never had one, such as a driver thread pool) are attributed by
submission time to the innermost span open at that moment and counted
as that span's ``unattributed_jobs``. Jobs carrying a foreign group
(a streaming query's run id) are attributed by time as well, but are
not counted as unattributed.

Spans live in memory; ``write`` puts them and the per-name report in
the work directory when the run ends. A disabled tracer opens no
spans and sets no job groups, so the untraced run pays nothing.
"""

from __future__ import annotations

import bisect
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

GROUP_PREFIX = "perfbench-span-"
COUNTERS = (
    "jobs",
    "unattributed_jobs",
    "tasks",
    "executor_run_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "shuffle_records",
    "spill_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    rows: int | None = None
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        #: spans before this id belong to set-up; they are kept but not
        #: reported
        self.measure_from = 0

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: int | None = None, group: bool = True):
        """Time the body as span ``name``; ``group=False`` leaves the
        thread's job group alone (the stream thread keeps its run id)."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = Span(
            id=next(self._ids),
            name=name,
            parent=parent.id if parent else None,
            op=op if op is not None else (parent.op if parent else None),
            start=time.time(),
        )
        with self._lock:
            self.spans.append(s)
        sc = self.spark.sparkContext
        prev_group = sc.getLocalProperty("spark.jobGroup.id") if group else None
        if group:
            sc.setJobGroup(f"{GROUP_PREFIX}{s.id}", name)
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.time()
            if group:
                sc.setLocalProperty("spark.jobGroup.id", prev_group)

    def wrap(self, name: str, fn, group: bool = True):
        """``fn`` with every call inside a span ``name``."""
        if not self.enabled:
            return fn

        def traced(*args, **kwargs):
            with self.span(name, group=group):
                return fn(*args, **kwargs)

        return traced

    def start_measuring(self) -> None:
        self.measure_from = next(self._ids)

    def measured(self) -> list[Span]:
        return [s for s in self.spans if s.id > self.measure_from]

    # ------------------------------------------------------------------
    def fold_event_log(self, log_dir: Path, window: tuple[float, float]) -> dict:
        """Attribute every job in the event log to a span and add its
        task metrics to that span's counters. Returns the totals of the
        jobs submitted inside ``window`` (epoch seconds), whether or not
        a span claimed them."""
        jobs, stage_job, tasks = _read_event_log(log_dir)
        by_group = {f"{GROUP_PREFIX}{s.id}": s for s in self.spans}
        ordered = sorted(self.spans, key=lambda s: s.start)
        starts = [s.start for s in ordered]
        job_span: dict[int, Span] = {}
        total = dict.fromkeys(COUNTERS, 0)
        in_window = set()
        for job_id, (t_ms, grp) in jobs.items():
            t = t_ms / 1000.0
            if window[0] <= t <= window[1]:
                in_window.add(job_id)
                total["jobs"] += 1
                total["unattributed_jobs"] += 0 if grp else 1
            s = by_group.get(grp) if grp else None
            if s is None:
                s = _innermost(ordered, starts, t)
                if s is None:
                    continue
                if not grp:
                    s.counters["unattributed_jobs"] += 1
            job_span[job_id] = s
            s.counters["jobs"] += 1
        for stage_id, metrics in tasks:
            job_id = stage_job.get(stage_id)
            s = job_span.get(job_id)
            for k, v in metrics.items():
                if s is not None:
                    s.counters[k] += v
                if job_id in in_window:
                    total[k] += v
        return total

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = sorted(
            (max(c.start, span.start), min(c.end, span.end))
            for c in self.spans
            if c.parent == span.id
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.duration - covered

    def by_name(self) -> dict[str, list[Span]]:
        out: dict[str, list[Span]] = defaultdict(list)
        for s in self.measured():
            out[s.name].append(s)
        return out

    def write(self, work: Path, extra: dict) -> Path:
        """Spans as JSON lines plus a per-name summary (self time,
        counters) in ``work``; returns the report path."""
        with open(work / "spans.jsonl", "w") as fh:
            for s in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "id": s.id,
                            "name": s.name,
                            "parent": s.parent,
                            "op": s.op,
                            "start": s.start,
                            "end": s.end,
                            "rows": s.rows,
                            **s.counters,
                        }
                    )
                    + "\n"
                )
        summary = {}
        for name, spans in sorted(self.by_name().items()):
            summary[name] = {
                "calls": len(spans),
                "wall_s": round(sum(s.duration for s in spans), 6),
                "self_s": round(sum(self.self_time(s) for s in spans), 6),
                **{k: sum(s.counters[k] for s in spans) for k in COUNTERS},
            }
        path = work / "trace_report.json"
        path.write_text(json.dumps({"spans": summary, **extra}, indent=1, sort_keys=True))
        return path


def _innermost(ordered: list[Span], starts: list[float], t: float) -> Span | None:
    """The latest-starting span open at ``t``."""
    i = bisect.bisect_right(starts, t)
    for s in reversed(ordered[:i]):
        if s.end == 0.0 or s.end >= t:
            return s
    return None


def _read_event_log(log_dir: Path):
    """``(jobs, stage→job, task metrics)`` from the session's JSON
    event log: jobs as ``{job_id: (submission_ms, group)}``, each stage
    mapped to the first job listing it (later jobs skip a stage whose
    output already exists), and per task ``(stage_id, metrics)``."""
    jobs: dict[int, tuple[int, str | None]] = {}
    stage_job: dict[int, int] = {}
    tasks: list[tuple[int, dict]] = []
    for path in sorted(log_dir.rglob("*")):
        if not path.is_file() or path.name.startswith(".") or path.stat().st_size == 0:
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = (ev["Submission Time"], props.get("spark.jobGroup.id"))
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    tasks.append(
                        (
                            ev["Stage ID"],
                            {
                                "tasks": 1,
                                "executor_run_s": m.get("Executor Run Time", 0) / 1000.0,
                                "shuffle_read_bytes": rd.get("Remote Bytes Read", 0)
                                + rd.get("Local Bytes Read", 0),
                                "shuffle_write_bytes": wr.get("Shuffle Bytes Written", 0),
                                "shuffle_records": wr.get("Shuffle Records Written", 0),
                                "spill_bytes": m.get("Disk Bytes Spilled", 0),
                            },
                        )
                    )
    return jobs, stage_job, tasks
