"""Spark counters for a span of driver time, read from the driver's
``AppStatusStore`` (present with ``spark.ui.enabled=false``).

A span is delimited by job ids: the jobs of a span are those submitted
between two calls to :meth:`StatusCounters.last_job_id`.  Because every
job gets exactly one id, counters of adjacent spans add up to the
counters of the span that covers them (checked by ``additive``).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

# operator names in a stage's RDD operation graph that identify a layer
EXTRACT_OP = "MapInPandas"
COGROUP_OP = "FlatMapCoGroupsInPandas"


@dataclass
class Stage:
    tasks: int
    run_s: float  # summed executor run time of the stage's tasks
    shuffle_read: int
    shuffle_write: int
    task_p50_s: float
    task_max_s: float
    ops: frozenset[str]


@dataclass
class Counters:
    jobs: int = 0
    stages: list[Stage] = field(default_factory=list)

    @property
    def tasks(self) -> int:
        return sum(s.tasks for s in self.stages)

    @property
    def task_s(self) -> float:
        return sum(s.run_s for s in self.stages)

    @property
    def shuffle_read(self) -> int:
        return sum(s.shuffle_read for s in self.stages)

    @property
    def shuffle_write(self) -> int:
        return sum(s.shuffle_write for s in self.stages)

    def with_op(self, op: str) -> list[Stage]:
        """Stages whose operation graph contains operator ``op``."""
        return [s for s in self.stages if op in s.ops]

    def op_task_s(self, op: str) -> float:
        return sum(s.run_s for s in self.with_op(op))

    def op_skew(self, op: str) -> float:
        """max / median task time of the busiest stage running ``op``
        (1.0 when no such stage ran or its median task is 0 ms)."""
        st = self.with_op(op)
        if not st:
            return 1.0
        top = max(st, key=lambda s: s.run_s)
        return top.task_max_s / top.task_p50_s if top.task_p50_s > 0 else 1.0

    def totals(self) -> tuple:
        return (self.jobs, len(self.stages), self.tasks, round(self.task_s, 3),
                self.shuffle_read, self.shuffle_write)


def additive(whole: Counters, parts: list[Counters]) -> bool:
    """True when ``parts`` add up to ``whole`` on every summed counter."""
    summed = Counters(sum(p.jobs for p in parts), [s for p in parts for s in p.stages])
    return summed.totals() == whole.totals()


class StatusCounters:
    """Reads job and stage counters of one SparkContext."""

    def __init__(self, spark):
        self._spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        gw = spark.sparkContext._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0

    def _drain(self) -> None:
        # status events arrive on the listener bus after an action returns
        self._sc.listenerBus().waitUntilEmpty(60_000)

    def last_job_id(self) -> int:
        self._drain()
        ids = self._spark.sparkContext.statusTracker().getJobIdsForGroup()
        return max(ids, default=-1)

    def persisted_rdds(self) -> int:
        return self._spark.sparkContext._jsc.getPersistentRDDs().size()

    def counters(self, after_job: int, upto_job: int) -> Counters:
        """Counters of jobs with ``after_job < id <= upto_job``."""
        self._drain()
        out = Counters()
        stage_ids: set[int] = set()
        for jid in range(after_job + 1, upto_job + 1):
            job = self._store.job(jid)
            out.jobs += 1
            stage_ids.update(job.stageIds().apply(i) for i in range(job.stageIds().size()))
        for sid in sorted(stage_ids):
            stage = self._stage(sid)
            if stage is not None:
                out.stages.append(stage)
        return out

    def _stage(self, sid: int) -> Stage | None:
        attempts = self._store.stageData(sid, False, None, True, self._quantiles)
        if attempts.isEmpty():
            return None
        s = attempts.head()
        if s.status().toString() != "COMPLETE":
            return None  # skipped stages ran no tasks (their shuffle was reused)
        dist = s.taskMetricsDistributions()
        p50 = mx = 0.0
        if dist.isDefined():
            rt = dist.get().executorRunTime()
            p50, mx = rt.apply(0) / 1000.0, rt.apply(1) / 1000.0
        return Stage(
            tasks=s.numCompleteTasks(),
            run_s=s.executorRunTime() / 1000.0,
            shuffle_read=s.shuffleReadBytes(),
            shuffle_write=s.shuffleWriteBytes(),
            task_p50_s=p50,
            task_max_s=mx,
            ops=self._ops(sid),
        )

    def _ops(self, sid: int) -> frozenset[str]:
        names: set[str] = set()
        todo = [self._store.operationGraphForStage(sid).rootCluster()]
        while todo:
            c = todo.pop()
            names.add(c.name().split(" (")[0])
            kids = c.childClusters()
            todo.extend(kids.apply(i) for i in range(kids.size()))
        return frozenset(names)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    first_job: int  # jobs of the span: first_job < id <= last_job
    last_job: int

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans at layer boundaries; written out by the caller."""

    def __init__(self, status: StatusCounters):
        self.status = status
        self.spans: list[Span] = []
        self._stack: list[str] = []

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span called ``name``."""
        with self.span(name):
            return fn(*args, **kwargs)

    def span(self, name: str) -> "_SpanCtx":
        return _SpanCtx(self, name)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self) -> "_SpanCtx":
        t = self.tracer
        self.parent = t._stack[-1] if t._stack else None
        t._stack.append(self.name)
        self.first_job = t.status.last_job_id()
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        end = time.perf_counter()
        t = self.tracer
        t._stack.pop()
        self.span = Span(self.name, self.start, end, self.parent, self.first_job,
                         t.status.last_job_id())
        t.spans.append(self.span)
