"""Spans around the benchmark's calls into the engine, and their attribution
from Spark's JSON event log.

Every span sets a Spark job group named ``<run_id>:<span_id>`` for the calls
it wraps, so each job, stage and task in the event log belongs to the
innermost span that was open when the job was submitted. Spans are kept in
memory and written out once, at the end of a traced run.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field

# counters summed per span from the event log, in these units
COUNTERS = (
    "jobs", "stages", "tasks", "task_s", "gc_s", "python_udf_s",
    "shuffle_write_bytes", "spill_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float = 0.0
    dur: float = 0.0  # from perf_counter, the figure the metrics use


class Tracer:
    """Records spans and sets the job group of every Spark job a span runs."""

    def __init__(self, spark, run_id: str) -> None:
        self._sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(len(self.spans) + 1, name, self._open[-1].id if self._open else None,
                 self.run_id, time.time())
        self.spans.append(s)
        self._open.append(s)
        self._set_group(s)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.dur = time.perf_counter() - t0
            s.end = time.time()
            self._open.pop()
            self._set_group(self._open[-1] if self._open else None)

    def _set_group(self, s: Span | None) -> None:
        if s is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"{s.run_id}:{s.id}", s.name)

    def write(self, path: str, stats: dict[int, "SpanStats"]) -> None:
        """One JSON line per span, with its self time, driver gap and
        event-log counters where ``stats`` has them."""
        with open(path, "w") as f:
            for s in self.spans:
                row = asdict(s)
                st = stats.get(s.id)
                if st is not None:
                    row.update(self_s=st.self_s, driver_gap_s=st.driver_gap_s, **st.counters)
                f.write(json.dumps(row) + "\n")


@dataclass
class SpanStats:
    """One span's event-log totals, over the span and all its descendants."""

    span: Span
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0.0))
    self_s: float = 0.0
    driver_gap_s: float = 0.0


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def read_event_log(path: str) -> tuple[dict, list[tuple[float, float]]]:
    """Sum the event log per job group. Returns ``(per_group, job_intervals)``:
    ``per_group[group]`` holds the COUNTERS for jobs, stages and tasks whose
    submitting job carried that group; ``job_intervals`` are every job's
    (submit, complete) in epoch seconds."""
    per_group: dict[str, dict] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    stage_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    intervals: list[tuple[float, float]] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                job_start[ev["Job ID"]] = ev["Submission Time"] / 1000
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    per_group[group]["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                t0 = job_start.pop(ev["Job ID"], None)
                if t0 is not None:
                    intervals.append((t0, ev["Completion Time"] / 1000))
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
                    per_group[group]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                c = per_group[group]
                m = ev.get("Task Metrics") or {}
                c["tasks"] += 1
                c["task_s"] += m.get("Executor Run Time", 0) / 1000
                c["gc_s"] += m.get("JVM GC Time", 0) / 1000
                c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Name") == "time to run Python workers":
                        c["python_udf_s"] += int(acc.get("Update", 0)) / 1000
    return per_group, intervals


def attribute(spans: list[Span], event_log: str) -> dict[int, SpanStats]:
    """Per span: event-log counters over its subtree, self time (its wall
    time not covered by child spans) and driver gap (its wall time not
    covered by any running Spark job)."""
    per_group, jobs = read_event_log(event_log)
    stats = {s.id: SpanStats(s) for s in spans}
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    # children are recorded after their parent, so walking the list backwards
    # folds every subtree into its root
    for s in reversed(spans):
        st = stats[s.id]
        own = per_group.get(f"{s.run_id}:{s.id}")
        if own:
            for k in COUNTERS:
                st.counters[k] += own[k]
        if s.parent is not None and s.parent in stats:
            parent = stats[s.parent].counters
            for k in COUNTERS:
                parent[k] += st.counters[k]
        kids = _clip([(c.start, c.end) for c in children[s.id]], s.start, s.end)
        st.self_s = (s.end - s.start) - _union_length(kids)
        st.driver_gap_s = (s.end - s.start) - _union_length(_clip(jobs, s.start, s.end))
    return stats
