"""Spans around calls into the engine's modules, and the Spark event-log fold.

A span is opened at each call into a layer (by wrapping the name the
caller resolves) and at each workload operation. While a span is open its
id is the SparkContext job group, so every Spark job is attributed to the
innermost open span. After the run the uncompressed event log gives each
job its interval and summed task metrics, and `profile` folds jobs into
spans:

- self_s: span wall time minus the part of it that child spans cover;
- driver_gap_s: span wall time minus the union of its jobs' intervals;
- jobs, tasks, exec_run_s, gc_s and the record and byte counters sum
  over the jobs of the span and all its descendants.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

JOB_GROUP = "spark.jobGroup.id"
# input_records as well as input_bytes: Spark's parquet reader reports
# only the footer reads of a local file as bytes read
JOB_SUMS = ("tasks", "exec_run_s", "gc_s", "shuffle_write_bytes",
            "input_bytes", "input_records", "output_bytes", "spill_bytes")
PER_CALL = ("self_s", "jobs", "driver_gap_s") + JOB_SUMS


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    phase: str
    start: float
    end: float = 0.0


@dataclass
class Job:
    group: str | None
    start: float
    end: float
    sums: dict[str, float] = field(
        default_factory=lambda: dict.fromkeys(JOB_SUMS, 0.0))


def _set_group(group: str | None) -> None:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.setLocalProperty(JOB_GROUP, group)


class Tracer:
    """Records spans and sets job groups; disabled, it records nothing
    and wraps nothing, so untraced runs execute the program untouched."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.phase = "setup"
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object, bool]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None,
                 self.phase, time.time())
        self.spans.append(s)
        self._stack.append(s)
        _set_group(f"pb{s.id}")
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()
            _set_group(f"pb{parent.id}" if parent else None)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def patch(self, owner: object, attr: str, name: str) -> None:
        """Replace `owner.attr` (a module global or class attribute that
        the caller resolves at call time) by a traced wrapper, once."""
        if not self.enabled or any(
                o is owner and a == attr for o, a, _, _ in self._patched):
            return
        original = getattr(owner, attr)   # AttributeError: stale target
        own = attr in vars(owner)
        self._patched.append((owner, attr, original, own))
        setattr(owner, attr, self.wrap(name, original))

    def unpatch_all(self) -> None:
        for owner, attr, original, own in reversed(self._patched):
            if own:
                setattr(owner, attr, original)
            else:
                delattr(owner, attr)
        self._patched.clear()


# --- event-log fold ------------------------------------------------------

def _roll_index(path: str) -> int:
    """`events_<n>_<app>` sorts by n; a single-file log has none."""
    parts = os.path.basename(path).split("_")
    return int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0


def read_event_log(log_dir: str) -> list[list[dict]]:
    """The events of each application under `log_dir`, one list per
    application. Handles the single-file layout and the rolling
    `eventlog_v2_<app>/events_<n>_<app>` one."""
    apps = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        files = ([path] if os.path.isfile(path) else sorted(
            (p for p in glob.glob(os.path.join(path, "events_*"))),
            key=_roll_index))
        events = []
        for name in files:
            with open(name) as f:
                events.extend(json.loads(line) for line in f if line.strip())
        apps.append(events)
    return apps


def fold_jobs(apps: list[list[dict]]) -> dict[tuple[int, int], Job]:
    """Jobs keyed by (application index, job id), with their group,
    interval in epoch seconds and task metrics summed over their stages."""
    jobs: dict[tuple[int, int], Job] = {}
    stage_job: dict[tuple[int, int], tuple[int, int]] = {}
    for app, events in enumerate(apps):
        for ev in events:
            _fold_event(app, ev, jobs, stage_job)
    return jobs


def _fold_event(app: int, ev: dict, jobs: dict, stage_job: dict) -> None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        key = (app, ev["Job ID"])
        props = ev.get("Properties") or {}
        t = ev["Submission Time"] / 1e3
        jobs[key] = Job(props.get(JOB_GROUP), t, t)
        for sid in ev["Stage IDs"]:
            stage_job.setdefault((app, sid), key)
    elif kind == "SparkListenerJobEnd":
        job = jobs.get((app, ev["Job ID"]))
        if job is not None:
            job.end = ev["Completion Time"] / 1e3
    elif kind == "SparkListenerTaskEnd":
        key = stage_job.get((app, ev["Stage ID"]))
        m = ev.get("Task Metrics")
        if key is None or not m:
            return
        sums = jobs[key].sums
        sums["tasks"] += 1
        sums["exec_run_s"] += m.get("Executor Run Time", 0) / 1e3
        sums["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sums["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                + m.get("Disk Bytes Spilled", 0))
        inp = m.get("Input Metrics") or {}
        sums["input_bytes"] += inp.get("Bytes Read", 0)
        sums["input_records"] += inp.get("Records Read", 0)
        sums["output_bytes"] += (m.get("Output Metrics") or {}).get(
            "Bytes Written", 0)
        sums["shuffle_write_bytes"] += (
            m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)


# --- span arithmetic -----------------------------------------------------

def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def span_rows(spans: list[Span], jobs: dict) -> list[dict]:
    """One row per span: its quantities, jobs counted inclusively."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    by_group: dict[int, list[Job]] = defaultdict(list)
    for job in jobs.values():
        if job.group and job.group.startswith("pb"):
            by_group[int(job.group[2:])].append(job)
    inclusive: dict[int, list[Job]] = defaultdict(list)
    for sid, js in by_group.items():
        node: int | None = sid
        while node is not None:
            inclusive[node].extend(js)
            node = spans[node].parent
    rows = []
    for s in spans:
        wall = s.end - s.start
        js = inclusive[s.id]
        row = {"name": s.name, "phase": s.phase,
               "self_s": wall - covered(
                   [(c.start, c.end) for c in children[s.id]], s.start, s.end),
               "jobs": len(js),
               "driver_gap_s": wall - covered(
                   [(j.start, j.end) for j in js], s.start, s.end)}
        for q in JOB_SUMS:
            row[q] = sum(j.sums[q] for j in js)
        rows.append(row)
    return rows


def profile(rows: list[dict], phase_counts: dict[str, int]) -> dict[str, float]:
    """`<span>.<quantity>`: each quantity's mean per call of the span,
    and `<span>.calls`, its calls per set-up or per timed op, by the
    phase it ran in (summed when it ran in both). Warm-up spans are
    left out."""
    calls: dict[str, float] = defaultdict(float)
    totals: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(PER_CALL, 0.0))
    n_calls: dict[str, int] = defaultdict(int)
    for row in rows:
        n = phase_counts.get(row["phase"])
        if not n:
            continue
        name = row["name"]
        calls[name] += 1 / n
        n_calls[name] += 1
        for q in PER_CALL:
            totals[name][q] += row[q]
    out = {}
    for name, sums in totals.items():
        out[f"{name}.calls"] = calls[name]
        for q, total in sums.items():
            out[f"{name}.{q}"] = total / n_calls[name]
    return out
