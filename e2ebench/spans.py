"""Operation timing, spans around the package's public functions, and
Spark job figures per operation.

Every timed operation is recorded as an op (kind, phase, wall time,
result count).  With tracing on, the op also sets a Spark job group,
and wrappers installed around public functions of ``lucene_1_spark``
record child spans of the running op.  Spans stay in memory and are
written out when the run ends.  Spark figures are read from the status
store after the timed phase, so the timed phase pays only for
``setJobGroup``.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None      # index of the enclosing op
    rows: int = 0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


@dataclass
class Op(Span):
    phase: str = "timed"
    group: str = ""
    ok: bool = True
    n: int = 1                     # queries in a batch, docs in a build
    spark: dict = field(default_factory=dict)

    @property
    def kind(self) -> str:
        return self.name


class Recorder:
    def __init__(self, spark, trace: bool = False):
        self.sc = spark.sparkContext if trace else None
        self.ops: list[Op] = []
        self.spans: list[Span] = []
        self.calib: list[float] = []
        self._current: int | None = None
        self._undo: list = []

    # -- ops ---------------------------------------------------------------
    @contextmanager
    def op(self, kind: str, phase: str = "timed", n: int = 1):
        o = Op(kind, time.perf_counter(), phase=phase, n=n)
        self.ops.append(o)
        idx = len(self.ops) - 1
        if self.sc is not None:
            o.group = f"e2ebench-{idx}"
            self.sc.setJobGroup(o.group, kind, False)
        self._current = idx
        try:
            yield o
        except Exception:
            o.ok = False
            raise
        finally:
            o.end = time.perf_counter()
            self._current = None
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.calibrate()

    def calibrate(self) -> None:
        """A fixed pure-Python loop, timed between operations: it shows
        how fast the host runs at that moment."""
        t = time.perf_counter()
        acc = 0
        for i in range(50000):
            acc += i * i % 7
        self.calib.append((time.perf_counter() - t) * 1000.0)

    # -- spans around public functions -------------------------------------
    def wrap(self, owner, attr: str, name: str, rows=None) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            s = Span(name, time.perf_counter(), parent=self._current)
            try:
                out = orig(*a, **kw)
                if rows is not None:
                    s.rows = rows(out)
                return out
            finally:
                s.end = time.perf_counter()
                self.spans.append(s)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def install(self) -> None:
        from lucene_1_spark.index import reader
        from lucene_1_spark.search import executor

        self.wrap(executor, "parse_query", "search.query.parse")
        self.wrap(executor.IndexSearcher, "search_df", "search.executor.plan")
        self.wrap(reader.IndexReader, "__init__", "index.reader.open")
        self.wrap(reader.IndexReader, "term_statistics",
                  "index.reader.term_statistics", rows=len)
        self.wrap(reader.IndexReader, "block_meta_arrow",
                  "index.reader.block_meta", rows=len)

    def child_spans(self, name: str, ops: list[Op]) -> list[Span]:
        ids = {id(o) for o in ops}
        return [s for s in self.spans if s.name == name
                and s.parent is not None and id(self.ops[s.parent]) in ids]

    # -- Spark status store ------------------------------------------------
    def collect_spark(self) -> None:
        """Attach job/stage/task figures to every op that set a group."""
        if self.sc is None:
            return
        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty(10000)
        except Exception:          # not public API: fall back to waiting
            time.sleep(2.0)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for o in self.ops:
            if not o.group:
                continue
            jobs = tracker.getJobIdsForGroup(o.group)
            stages, intervals = [], []
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stages.extend(info.stageIds)
            agg = dict(jobs=len(jobs), stages=0, tasks=0, task_ms=0.0,
                       cpu_ms=0.0, gc_ms=0.0, input_records=0,
                       shuffle_read=0, shuffle_write=0)
            for sid in sorted(set(stages)):
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # skipped stages have no attempt
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                agg["stages"] += 1
                agg["tasks"] += st.numCompleteTasks()
                agg["task_ms"] += st.executorRunTime()
                agg["cpu_ms"] += st.executorCpuTime() / 1e6
                agg["gc_ms"] += st.jvmGcTime()
                agg["input_records"] += st.inputRecords()
                agg["shuffle_read"] += st.shuffleReadBytes()
                agg["shuffle_write"] += st.shuffleWriteBytes()
                sub, done = st.submissionTime(), st.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime(),
                                      done.get().getTime()))
            agg["stage_busy_ms"] = _union_ms(intervals)
            o.spark = agg

    def dump(self, path: str, **extra) -> None:
        with open(path, "w") as fh:
            json.dump({"ops": [o.__dict__ for o in self.ops],
                       "spans": [s.__dict__ for s in self.spans],
                       "calib_ms": self.calib, **extra}, fh)


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return float(total)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
