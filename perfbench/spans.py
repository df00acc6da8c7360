"""In-memory span tracer for the traced benchmark run.

A span is recorded around each call the benchmark makes into a public
function of the engine (the functions are wrapped from here; no engine file
is touched).  Each span carries its name, start, end, parent span and
request id, plus the Spark status-tracker counts of jobs, tasks and failed
tasks that ran between its edges.  Spans stay in memory; `dump` writes them
once the run ends.  A layer's self time is its spans' durations minus the
time their child spans cover.

Spark's listener bus fills the status tracker asynchronously, so a job
that ends right at a span's end edge can be counted in the next span.
"""

from __future__ import annotations

import functools
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    child_s: float = 0.0
    child_jobs: int = 0
    child_tasks: int = 0
    child_failed: int = 0
    error: str | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return max(0.0, self.dur - self.child_s)

    @property
    def self_jobs(self) -> int:
        return self.jobs - self.child_jobs

    @property
    def self_tasks(self) -> int:
        return self.tasks - self.child_tasks


def _last_job_id(tracker) -> int:
    """Highest job id the status tracker knows, in two gateway calls: the
    id array is turned into one string JVM-side, because reading a Java
    array element by element costs one round trip per job."""
    if tracker is None:
        return -1
    st, arrays = tracker
    text = arrays.toString(st._jtracker.getJobIdsForGroup(None)).strip("[]")
    return max(map(int, text.split(","))) if text else -1


def _task_counts(tracker, first: int, last: int) -> tuple[int, int, int]:
    """(jobs, tasks, failed tasks) of the jobs numbered first..last."""
    jobs = tasks = failed = 0
    tracker = tracker[0]
    for jid in range(first, last + 1):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numTasks
                failed += st.numFailedTasks
    return jobs, tasks, failed


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    stack: list[Span] = field(default_factory=list)
    request: int | None = None
    overhead_s: float = 0.0  # time spent in span bookkeeping
    _ctx: tuple = (None, None)  # (SparkContext, its tracker handles)

    def _tracker(self):
        """(status tracker, java.util.Arrays) of the running SparkContext,
        fetched once per context: each gateway round trip costs about a
        millisecond."""
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return None
        if self._ctx[0] is not sc:
            self._ctx = (sc, (sc.statusTracker(), sc._jvm.java.util.Arrays))
        return self._ctx[1]

    def new_request(self) -> int:
        self.request = 0 if self.request is None else self.request + 1
        return self.request

    def call(self, name: str, fn, *args, **kwargs):
        t_in = time.perf_counter()
        tr = self._tracker()
        first = _last_job_id(tr) + 1
        parent = self.stack[-1] if self.stack else None
        sp = Span(
            id=len(self.spans),
            name=name,
            parent=None if parent is None else parent.id,
            request=self.request,
            start=time.perf_counter(),
        )
        self.spans.append(sp)
        self.stack.append(sp)
        self.overhead_s += sp.start - t_in
        try:
            return fn(*args, **kwargs)
        except BaseException as exc:
            sp.error = type(exc).__name__
            raise
        finally:
            sp.end = time.perf_counter()
            # the session may have been (re)started inside this span
            tr = tr or self._tracker()
            if tr is not None:
                sp.jobs, sp.tasks, sp.failed_tasks = _task_counts(
                    tr, first, _last_job_id(tr)
                )
            self.stack.pop()
            if parent is not None:
                parent.child_s += sp.dur
                parent.child_jobs += sp.jobs
                parent.child_tasks += sp.tasks
                parent.child_failed += sp.failed_tasks
            self.overhead_s += time.perf_counter() - sp.end

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace owner.attr by a wrapper that records a span per call."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        setattr(owner, attr, traced)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_s(self, name: str) -> float:
        return sum(s.self_s for s in self.named(name))

    def dump(self, path: str, **extra) -> None:
        """Write the spans, and `extra` (the run's metrics) beside them."""
        spans = [
            {**asdict(s), "self_s": s.self_s, "self_jobs": s.self_jobs}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({**extra, "spans": spans}, f)


def instrument(tracer: Tracer) -> None:
    """Wrap every public engine function the workloads call, under its
    layer's span name, in each module namespace the calls go through.

    Only functions that run in this process are wrapped: a wrapper put into
    a module global that an executor-side kernel closes over (the codec
    functions inside query.wand) would be pickled into the Python workers.
    The codec layer is measured by timed calls instead (workloads.py)."""
    from telegram2elastic_spark import session
    from telegram2elastic_spark.index import build
    from telegram2elastic_spark.query import wand
    from telegram2elastic_spark.streaming import ingest

    targets = [
        (session, "get_spark", "session.get_spark"),
        (build, "build_index", "build.build_index"),
        (build, "write_index", "build.write_index"),
        (build, "read_index", "build.read_index"),
        (ingest, "build_index", "build.build_index"),
        (wand, "wand_topk_local", "wand_local.wand_topk_local"),
        (wand, "wand_topk_batch", "wand_batch.wand_topk_batch"),
        (ingest.IncrementalIndexer, "ingest_batch", "ingest.ingest_batch"),
        (ingest.IncrementalIndexer, "upsert_batch", "ingest.upsert_batch"),
        (ingest.IncrementalIndexer, "maybe_compact", "ingest.maybe_compact"),
        (ingest.IncrementalIndexer, "compact", "ingest.compact"),
        (ingest.IncrementalIndexer, "as_index", "ingest.as_index"),
    ]
    for owner, attr, name in targets:
        tracer.wrap(owner, attr, name)
