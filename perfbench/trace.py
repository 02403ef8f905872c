"""Spans around the library's public calls, with executor counters per
span from Spark's status store.

Tracing is switched on by rebinding module attributes for the length of
one operation (``Tracer.patched``): the library's entry points look the
wrapped names up in their own module namespace at call time, so the
traced run goes through the same entry points as the untraced one.  Each
span

* sets its own Spark job group, so every job the call runs is
  attributed to exactly one span (the innermost one open);
* materializes the DataFrames the call returns (persist + count) before
  it closes, so lazily planned work is charged to the layer that
  planned it, not to the first consumer downstream.

Spans stay in memory; ``Tracer.dump`` writes them when the run ends.
Status-store reads happen after the operation, outside any timed span.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import statistics
import time
import uuid
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    run_id: str
    span_id: int
    parent_id: int | None
    name: str
    start: float
    end: float = 0.0
    group: str = ""
    fn: str = ""
    rows_out: int = 0
    frames: list = field(default_factory=list)
    args: tuple = ()
    result: object = None


class Tracer:
    """Records spans for one benchmark run (one ``run_id``)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            self.run_id,
            len(self.spans),
            parent.span_id if parent else None,
            name,
            time.perf_counter(),
        )
        s.group = f"perfbench-{self.run_id}-{s.span_id}"
        self.spans.append(s)
        self._stack.append(s)
        prev_group = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, s.group)
        try:
            yield s
        finally:
            # the stream engine runs foreachBatch under its own group;
            # give it back so the engine's own jobs stay its own
            self.sc.setLocalProperty(_GROUP, prev_group)
            self._stack.pop()
            s.end = time.perf_counter()

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                s.fn, s.args, s.result = fn.__name__, args, out
                for df in _frames(out):
                    df.persist()
                    s.frames.append(df)
                    s.rows_out += df.count()
            return out

        traced.__wrapped__ = fn
        return traced

    @contextlib.contextmanager
    def patched(self, targets: dict[str, str]):
        """Wrap ``module:attr`` → span name for the length of the block."""
        saved = []
        try:
            for target, name in targets.items():
                mod_name, attr = target.split(":")
                mod = importlib.import_module(mod_name)
                fn = getattr(mod, attr)
                saved.append((mod, attr, fn))
                setattr(mod, attr, self.wrap(name, fn))
            yield
        finally:
            for mod, attr, fn in reversed(saved):
                setattr(mod, attr, fn)

    def release(self) -> None:
        for s in self.spans:
            for df in s.frames:
                df.unpersist()
            s.frames.clear()
            s.args, s.result = (), None

    def self_time(self, s: Span) -> float:
        """Span duration minus the part its direct children cover (children
        of one span never overlap: they run on the caller's thread)."""
        kids = sum(
            c.end - c.start for c in self.spans if c.parent_id == s.span_id
        )
        return (s.end - s.start) - kids

    def dump(self, path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "run_id": s.run_id,
                            "span_id": s.span_id,
                            "parent_id": s.parent_id,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "self_s": self.self_time(s),
                            "rows_out": s.rows_out,
                        }
                    )
                    + "\n"
                )


def _frames(out) -> list[DataFrame]:
    """The frames the next stage consumes: a lone DataFrame, or the
    (nodes, edges) graph that leads a tuple or a ``KGResult`` (pruned
    side tables and stats are not consumed downstream)."""
    if isinstance(out, DataFrame):
        return [out]
    if isinstance(out, tuple):
        return [x for x in out[:2] if isinstance(x, DataFrame)]
    nodes, edges = getattr(out, "nodes", None), getattr(out, "edges", None)
    return [x for x in (nodes, edges) if isinstance(x, DataFrame)]


@dataclass
class GroupCounters:
    cpu_s: float = 0.0
    shuffle_mb: float = 0.0
    tasks: int = 0
    jobs: int = 0
    #: task durations (ms) of the group's heaviest stage, when asked for
    task_ms: list = field(default_factory=list)


class StatusStore:
    """Per-job-group executor counters from the SparkContext's status
    store (works with ``spark.ui.enabled=false``)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters

    def _list(self, seq):
        return list(self._conv.asJava(seq))

    def _stage(self, stage_id: int):
        try:
            return self._store.lastStageAttempt(stage_id)
        except Py4JJavaError as e:
            # a stage a job lists but skipped, because its shuffle output
            # already existed, has no attempt to look up
            if e.java_exception.getClass().getName() == (
                "java.util.NoSuchElementException"
            ):
                return None
            raise

    def by_group(self, groups: set[str], task_times: set[str] = frozenset()):
        out = {g: GroupCounters() for g in groups}
        heaviest: dict[str, tuple[int, int, int]] = {}
        # a shuffle stage reused by a later job keeps its id: charge it
        # once, to the first job that ran it
        seen: set[int] = set()
        jobs = sorted(self._list(self._store.jobsList(None)), key=lambda j: j.jobId())
        for job in jobs:
            grp = job.jobGroup()
            stage_ids = [sid for sid in self._list(job.stageIds()) if sid not in seen]
            seen.update(stage_ids)
            if grp.isEmpty() or grp.get() not in out:
                continue
            g = grp.get()
            c = out[g]
            c.jobs += 1
            for sid in stage_ids:
                st = self._stage(sid)
                if st is None:
                    continue
                c.tasks += st.numTasks()
                c.cpu_s += st.executorCpuTime() / 1e9
                c.shuffle_mb += (
                    st.shuffleReadBytes() + st.shuffleWriteBytes()
                ) / 2**20
                if g in task_times and st.executorRunTime() > heaviest.get(g, (-1,))[0]:
                    heaviest[g] = (st.executorRunTime(), sid, st.attemptId())
        for g, (_, sid, attempt) in heaviest.items():
            tasks = self._list(self._store.taskList(sid, attempt, 100_000))
            out[g].task_ms = [
                d.get() for d in (t.duration() for t in tasks) if not d.isEmpty()
            ]
        return out


def task_skew(task_ms: list) -> float:
    """max / median task duration (1.0 = perfectly even)."""
    if not task_ms:
        return 0.0
    med = statistics.median(task_ms)
    return max(task_ms) / med if med else 0.0
