"""Spans, layer wrappers and Spark event-log accounting for the benchmark.

A traced run records a span at each layer boundary: the benchmark's own
steps (session set-up, one operation, a check) and every public layer
function it wraps by replacing the module attribute, so no program
source changes. Each span's Spark jobs run in their own job group
(``spark.jobGroup.id = pb:<span id>``), and Spark's event log, written
uncompressed into the run's work dir, charges every job, stage and task
to the span that caused it. A wrapper around a lazy builder therefore
measures plan-build time only; execution shows up as the jobs of the
operation span that ran the terminal action.

Spans live in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import math
import sys
import time
from dataclasses import dataclass, field

JOB_GROUP = "spark.jobGroup.id"
PYTHON_STAGE_MARKERS = ("Pandas", "Python", "Arrow")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float  # epoch seconds, comparable with the event log's ms stamps
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Disabled, it only runs the wrapped code."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self.bookkeeping_s = 0.0  # time spent inside the tracer itself

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None, self.run_id, 0.0, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        sc = _active_context()
        prev_group = sc.getLocalProperty(JOB_GROUP) if sc is not None else None
        if sc is not None:
            sc.setLocalProperty(JOB_GROUP, f"pb:{sp.id}")
        self.bookkeeping_s += time.perf_counter() - t0
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            t1 = time.perf_counter()
            self._stack.pop()
            sc = _active_context()
            if sc is not None:
                sc.setLocalProperty(JOB_GROUP, prev_group)
            self.bookkeeping_s += time.perf_counter() - t1

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a traced wrapper, and every other
        loaded program module attribute bound to the same function (the
        ``from module import f`` copies), so each call site is traced."""
        original = getattr(owner, attr)
        wrapper = self.wrap(original, name)
        targets = [(owner, attr)]
        tables = []  # module-level dicts holding it, like the query registry
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("distributed_computing_spark"):
                continue
            for a, v in list(vars(mod).items()):
                if v is original and (mod, a) != (owner, attr):
                    targets.append((mod, a))
                elif isinstance(v, dict):
                    tables.extend((v, k) for k, f in v.items() if f is original)
        for mod, a in targets:
            self._patched.append((setattr, mod, a, original))
            setattr(mod, a, wrapper)
        for table, k in tables:
            self._patched.append((dict.__setitem__, table, k, original))
            table[k] = wrapper

    def unpatch_all(self) -> None:
        for restore, where, key, original in reversed(self._patched):
            restore(where, key, original)
        self._patched.clear()

    def subtree(self, root: Span) -> list[Span]:
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(children.get(s.id, ()))
        return out

    def dump(self, path: str, extra: dict) -> None:
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        spans = [
            {
                "id": s.id, "name": s.name, "parent": s.parent, "run_id": s.run_id,
                "start": s.start, "end": s.end, "self_s": self_time(s, children.get(s.id, [])),
                "attrs": s.attrs,
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({**extra, "spans": spans}, f)


def _active_context():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


# ---------------------------------------------------------------------------
# interval arithmetic
# ---------------------------------------------------------------------------


def covered(intervals, lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return span.duration - covered([(c.start, c.end) for c in children], span.start, span.end)


def driver_gap(span: Span, job_intervals) -> float:
    """``spark.driver_s`` of one span: its wall time not covered by any
    of its Spark jobs (analysis, planning, AQE re-planning, dispatch)."""
    return span.duration - covered(job_intervals, span.start, span.end)


# ---------------------------------------------------------------------------
# percentiles
# ---------------------------------------------------------------------------


def tail(samples) -> tuple[float, float, int]:
    """``(value, percentile, n)``: the highest percentile that leaves at
    least ten samples beyond it. With ``n >= 11`` samples that is the
    order statistic with exactly ten samples above it, at percentile
    ``100 * (n - 10) / n``. With ten or fewer no percentile leaves ten
    beyond, and the maximum is reported at percentile 100 instead."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= 10:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def median(samples) -> float:
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class JobRecord:
    job_id: int
    group: str | None
    start: float  # epoch seconds
    end: float
    stages: list  # (log file index, stage id)


@dataclass
class StageRecord:
    stage_id: int
    python: bool = False
    tasks: int = 0
    failures: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    python_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_rows: int = 0
    input_bytes: int = 0
    output_bytes: int = 0


def read_event_logs(log_dir: str) -> tuple[dict[int, list[JobRecord]], dict[tuple[int, int], StageRecord]]:
    """Parse every event-log file under ``log_dir``. Returns jobs keyed by
    span id (from their job group) and stages keyed by (file, stage id)."""
    jobs: dict[int, list[JobRecord]] = {}
    stages: dict[tuple[int, int], StageRecord] = {}
    for fi, path in enumerate(sorted(glob.glob(f"{log_dir}/*"))):
        open_jobs: dict[int, JobRecord] = {}
        with open(path) as f:
            for line in f:
                try:
                    e = json.loads(line)
                except json.JSONDecodeError:  # a partly flushed last line
                    continue
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get(JOB_GROUP)
                    open_jobs[e["Job ID"]] = JobRecord(
                        e["Job ID"], group, e["Submission Time"] / 1000.0, math.nan, list(e["Stage IDs"])
                    )
                elif kind == "SparkListenerJobEnd":
                    job = open_jobs.pop(e["Job ID"], None)
                    if job is None:
                        continue
                    job.end = e["Completion Time"] / 1000.0
                    if job.group and job.group.startswith("pb:"):
                        job.stages = [(fi, st) for st in job.stages]
                        jobs.setdefault(int(job.group[3:]), []).append(job)
                elif kind == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    rec = stages.setdefault((fi, info["Stage ID"]), StageRecord(info["Stage ID"]))
                    for rdd in info.get("RDD Info", ()):
                        scope = rdd.get("Scope")
                        name = json.loads(scope).get("name", "") if scope else ""
                        if any(m in name for m in PYTHON_STAGE_MARKERS):
                            rec.python = True
                elif kind == "SparkListenerTaskEnd":
                    rec = stages.setdefault((fi, e["Stage ID"]), StageRecord(e["Stage ID"]))
                    _add_task(rec, e)
    return jobs, stages


def _add_task(rec: StageRecord, e: dict) -> None:
    rec.tasks += 1
    if (e.get("Task End Reason") or {}).get("Reason") != "Success":
        rec.failures += 1
    m = e.get("Task Metrics") or {}
    rec.run_s += m.get("Executor Run Time", 0) / 1e3
    rec.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    rec.gc_s += m.get("JVM GC Time", 0) / 1e3
    rec.spill_bytes += m.get("Disk Bytes Spilled", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    rec.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    rec.shuffle_write_records += sw.get("Shuffle Records Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    rec.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    im = m.get("Input Metrics") or {}
    rec.input_rows += im.get("Records Read", 0)
    rec.input_bytes += im.get("Bytes Read", 0)
    rec.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
        if acc.get("Name") == "time to run Python workers":
            rec.python_s += float(acc.get("Update", 0)) / 1e3
