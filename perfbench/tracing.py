"""Tracing for the ``--trace 1`` run: spans around the benchmark's calls
into each ``vinum_spark`` layer, Spark job and task counts per span, and
streaming progress from a query listener.

Spans live in memory and are written out once, at exit.  With tracing
off the same calls go through :class:`NullTracer`, whose ``span`` does
nothing, so the untraced run times the program alone.
"""

from __future__ import annotations

import functools
import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    group: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans) -> dict:
    """Span id -> its duration minus the part of it its child spans cover
    (overlapping children are counted once)."""
    kids = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in sorted(kids.get(s.id, ())):
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.duration - covered
    return out


class NullTracer:
    """The untraced run: every hook is a no-op."""

    enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        yield None


class Tracer(NullTracer):
    """Records spans and, per span, the Spark jobs started inside it (each
    span runs its jobs under its own job group)."""

    enabled = True

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self.bookkeeping_s = 0.0
        self.stream_groups: list[str] = []

    @contextmanager
    def span(self, name: str, **attrs):
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        s = Span(sid, name, 0.0, 0.0, parent.id if parent else None,
                 self.run_id, f"perfbench-{self.run_id}-{sid}", dict(attrs))
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        self.bookkeeping_s += s.start - t
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(s)
            self.bookkeeping_s += time.perf_counter() - s.end

    def wrap_module_function(self, module, attr: str, name: str) -> None:
        """Put a span around every call the program makes to
        ``module.attr`` (a layer entry point imported into ``module``)."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    # -- Spark job and task counts --------------------------------------------

    def job_counts(self) -> dict:
        """Span id -> (jobs, tasks, failed tasks) of the jobs its group ran."""
        st = self.sc.statusTracker()
        out = {}
        for s in self.spans:
            out[s.id] = _jobs_tasks(st, st.getJobIdsForGroup(s.group))
        return out

    def stream_job_counts(self):
        st = self.sc.statusTracker()
        ids = [j for g in self.stream_groups for j in st.getJobIdsForGroup(g)]
        return _jobs_tasks(st, ids)

    def dump(self, path: str, extra: dict) -> None:
        st = self_times(self.spans)
        jobs = self.job_counts()
        with open(path, "w") as f:
            json.dump({
                **extra,
                "spans": [
                    {**asdict(s), "self_s": st[s.id], "jobs": jobs[s.id][0],
                     "tasks": jobs[s.id][1], "failed_tasks": jobs[s.id][2]}
                    for s in self.spans
                ],
            }, f, indent=1, default=str)


def _jobs_tasks(status_tracker, job_ids):
    jobs = tasks = failed = 0
    for jid in job_ids:
        info = status_tracker.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            stage = status_tracker.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numCompletedTasks
                failed += stage.numFailedTasks
    return jobs, tasks, failed


class StreamProgress:
    """Collects streaming progress events through a
    ``StreamingQueryListener`` (the sink call does not return the query
    handle, so the listener is the only way to see its batches)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                progress.run_ids.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                progress.events.append({
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                    "state_rows": sum(o.numRowsTotal for o in p.stateOperators),
                    "state_bytes": sum(o.memoryUsedBytes for o in p.stateOperators),
                    "seen": time.perf_counter(),
                })

            def onQueryTerminated(self, event):
                progress.terminated.append(str(event.runId))

        self.events: list[dict] = []
        self.run_ids: list[str] = []
        self.terminated: list[str] = []
        self._spark = spark
        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def take(self, timeout: float = 10.0) -> list:
        """The events since the last call, once every started query's
        termination has been delivered (the listener bus is asynchronous)."""
        deadline = time.perf_counter() + timeout
        while (len(self.terminated) < len(self.run_ids)
               and time.perf_counter() < deadline):
            time.sleep(0.01)
        out, self.events = self.events, []
        return out

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)
