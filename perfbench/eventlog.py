"""Spans around the benchmark's calls into the library, and the parser
that joins them with Spark's event log.

A span records name, start, end, parent span and pass id.  While a span is
open, its id is the Spark job group of the calling thread, so every job the
call submits carries the id in its ``JobStart`` properties; ``TaskEnd``
events then attribute executor CPU, GC, shuffle, spill, output bytes and
task durations to the span.  Spans stay in memory until the run ends.

The event log is written by Spark itself (``spark.eventLog.enabled``), one
JSON object per line; the parser reads only the events listed in
``_WANTED``.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

import hostinfo


@dataclass
class Span:
    span_id: str
    name: str
    pass_id: int
    parent: str | None
    start: float
    end: float = 0.0
    probe: bool = False
    py_cpu_s: float = 0.0   # CPU of the Python workers while the span ran

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans; ``enabled=False`` makes ``span`` a bare timer."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> str | None:
        """Id of the innermost open span of the calling thread."""
        stack = self._stack()
        return stack[-1].span_id if stack else None

    @contextlib.contextmanager
    def span(self, name: str, pass_id: int, probe: bool = False, parent: str | None = None):
        stack = self._stack()
        parent = parent or self.current()
        with self._lock:
            sid = f"s{next(self._ids)}"
        sc = self.spark.sparkContext
        cpu0 = hostinfo.proc_cpu_s(hostinfo.python_workers()) if self.enabled else 0.0
        sp = Span(sid, name, pass_id, parent, time.time(), probe=probe)
        if self.enabled:
            # job groups are per thread (PySpark's pinned-thread mode), so
            # concurrent sink threads each tag their own jobs
            sc.setJobGroup(sid, f"{name} pass={pass_id}")
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if self.enabled:
                # Python workers are re-used across tasks; new ones that
                # appeared during the span are counted from zero
                sp.py_cpu_s = max(0.0, hostinfo.proc_cpu_s(hostinfo.python_workers()) - cpu0)
                if stack:
                    sc.setJobGroup(stack[-1].span_id, f"{stack[-1].name} pass={pass_id}")
                else:
                    sc._jsc.clearJobGroup()
            with self._lock:
                self.spans.append(sp)


# -- event-log parsing ----------------------------------------------------------
_WANTED = ("SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerTaskEnd",
           "SparkListenerStageCompleted", "SparkListenerSQLExecutionStart")


@dataclass
class SpanStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0          # executor (JVM) CPU
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    out_mb: float = 0.0
    in_mb: float = 0.0
    task_s: list[float] = field(default_factory=list)
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    lineage_s: float = 0.0      # summed walls of jobs touching ``_lineage``

    @property
    def task_skew(self) -> float:
        """max / median task duration (1.0 when there are no tasks)."""
        if not self.task_s:
            return 1.0
        med = statistics.median(self.task_s)
        return max(self.task_s) / med if med > 0 else 1.0

    @property
    def job_s(self) -> float:
        return sum(e - s for s, e in self.job_intervals)


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_events(log_dir: str):
    """Yield the wanted events from every event-log file under ``log_dir``."""
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path):
            files = sorted(glob.glob(os.path.join(path, "events_*")))
        else:
            files = [path]
        for fp in files:
            with open(fp) as f:
                for line in f:
                    # cheap pre-filter: most lines are events nobody reads
                    if not any(w in line[:80] for w in _WANTED):
                        continue
                    yield json.loads(line)


def span_stats(log_dir: str, lineage_marker: str = "/_lineage") -> dict[str, SpanStats]:
    """Per job group (= span id): task and job totals from the event log."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    job_sql: dict[int, str] = {}
    sql_lineage: set[str] = set()
    out: dict[str, SpanStats] = {}
    for ev in read_events(log_dir):
        # SQL events carry their fully qualified class name
        kind = ev["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerSQLExecutionStart":
            if lineage_marker in ev.get("physicalPlanDescription", ""):
                sql_lineage.add(str(ev["executionId"]))
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            grp = props.get("spark.jobGroup.id")
            if grp is None:
                continue
            jid = ev["Job ID"]
            job_group[jid] = grp
            job_start[jid] = ev["Submission Time"] / 1000.0
            job_sql[jid] = str(props.get("spark.sql.execution.id"))
            st = out.setdefault(grp, SpanStats())
            st.jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = grp
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                st = out[job_group[jid]]
                end = ev["Completion Time"] / 1000.0
                st.job_intervals.append((job_start[jid], end))
                if job_sql.get(jid) in sql_lineage:
                    st.lineage_s += end - job_start[jid]
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_group and "Completion Time" in ev["Stage Info"]:
                out[stage_group[sid]].stages += 1
        elif kind == "SparkListenerTaskEnd":
            grp = stage_group.get(ev.get("Stage ID"))
            if grp is None:
                continue
            st = out[grp]
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            st.tasks += 1
            st.task_s.append((info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0)
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1000.0
            st.shuffle_write_mb += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0) / 1e6
            st.spill_mb += m.get("Disk Bytes Spilled", 0) / 1e6
            st.out_mb += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / 1e6
            st.in_mb += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 1e6
    return out


def merge(stats: list[SpanStats]) -> SpanStats:
    out = SpanStats()
    for s in stats:
        out.jobs += s.jobs
        out.stages += s.stages
        out.tasks += s.tasks
        out.cpu_s += s.cpu_s
        out.gc_s += s.gc_s
        out.shuffle_write_mb += s.shuffle_write_mb
        out.spill_mb += s.spill_mb
        out.out_mb += s.out_mb
        out.in_mb += s.in_mb
        out.task_s.extend(s.task_s)
        out.job_intervals.extend(s.job_intervals)
        out.lineage_s += s.lineage_s
    return out


class TraceView:
    """Spans of one traced run joined with their event-log statistics.

    A span's statistics include those of its child spans."""

    def __init__(self, spans: list[Span], stats: dict[str, SpanStats]):
        self.spans = spans
        self.stats = stats
        self._kids: dict[str, list[Span]] = {}
        for sp in spans:
            if sp.parent:
                self._kids.setdefault(sp.parent, []).append(sp)

    def subtree(self, sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self._kids.get(s.span_id, []))
        return out

    def one(self, pass_id: int, name: str) -> Span:
        found = [s for s in self.spans if s.pass_id == pass_id and s.name == name]
        if len(found) != 1:
            raise KeyError(f"pass {pass_id}: {len(found)} spans named {name!r}")
        return found[0]

    def stat(self, sp: Span) -> SpanStats:
        return merge([self.stats.get(s.span_id, SpanStats()) for s in self.subtree(sp)])
