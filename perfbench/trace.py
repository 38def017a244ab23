"""Outside-in tracing: spans around calls into the program's layers.

Nothing inside ``gopensearch_spark`` is edited. ``Tracer.install`` wraps
public module functions (and the two Engine phase methods) at run time,
in this process only; every wrapped call becomes a span. Each span runs
its Spark work under its own job group (``spark.jobGroup.id`` local
property, set from here), so after the run ``statusTracker`` gives the
jobs and stages each span launched itself. Spans are kept in memory and
resolved once at the end (``finish``); a layer's self time is its
duration minus the union of its children's intervals.

With tracing off the workloads call the program directly: no wrapper,
no job group, no status-tracker query.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

# (module, attribute, span name). Attribute "Class.method" wraps a method.
LAYER_CALLS = (
    ("gopensearch_spark.dsl.model", "parse_dsl", "dsl.parse"),
    ("gopensearch_spark.dsl.engine", "Engine.search_df", "dsl.compile"),
    ("gopensearch_spark.dsl.engine", "Engine._finish_search", "dsl.collect"),
    ("gopensearch_spark.dsl.response", "shape_response", "dsl.shape"),
    ("gopensearch_spark.search.readers", "term_dfs", "readers.term_dfs"),
    ("gopensearch_spark.search.readers", "warm_index", "readers.warm_index"),
    ("gopensearch_spark.search.wand", "wand_match", "kernel.wand_match"),
    ("gopensearch_spark.search.bm25", "bm25_scores", "kernel.bm25_scores"),
    ("gopensearch_spark.search.phrase", "phrase_match", "kernel.phrase_match"),
    ("gopensearch_spark.search.phrase", "phrase_prefix_match", "kernel.phrase_prefix_match"),
    ("gopensearch_spark.search.phrase", "near_match", "kernel.near_match"),
    ("gopensearch_spark.search.phrase", "prefix_match", "kernel.prefix_match"),
    ("gopensearch_spark.index.builder", "build_index", "index.build_index"),
    ("gopensearch_spark.index.builder", "build_postings", "index.build_postings"),
    ("gopensearch_spark.index.builder", "finalize_stats", "index.finalize_stats"),
    ("gopensearch_spark.index.builder", "compact_streaming_index", "index.compact"),
    ("gopensearch_spark.streaming.ingest", "index_stream_available_now", "streaming.refresh"),
)
# The per-micro-batch handler is a closure; wrapping its factory's
# return value gives one span per batch.
BATCH_HANDLER_FACTORY = ("gopensearch_spark.streaming.ingest", "_make_batch_handler")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    rid: int | None
    workload: str
    phase: str
    t0: float
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: list[int] = field(default_factory=list)
    stages: int = 0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.rid: int | None = None        # request id of the client loop
        self.workload = ""                 # tags every new span
        self.phase = ""                    # "setup" | "run"
        self.root: int | None = None       # its span: parent of thread roots
        self._children: dict[int | None, list[Span]] | None = None

    # --- spans ---------------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1].sid if stack else self.root
        s = Span(next(self._ids), name, parent, self.rid, self.workload, self.phase,
                 time.perf_counter(), attrs=attrs)
        with self._lock:
            self.spans.append(s)
        stack.append(s)
        self.sc.setLocalProperty("spark.jobGroup.id", f"pb{s.sid}")
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", f"pb{stack[-1].sid}" if stack else None)

    @contextlib.contextmanager
    def request(self, rid: int, **attrs):
        """Root span of one client request; spans opened by other
        threads during it (msearch's concurrent collects) hang under it."""
        self.rid = rid
        with self.span("request", **attrs) as s:
            self.root = s.sid if s else None
            try:
                yield s
            finally:
                self.root = None
                self.rid = None

    # --- wrapping -------------------------------------------------------------
    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        return traced

    @staticmethod
    def _replace_everywhere(orig, new) -> None:
        """Point every ``gopensearch_spark`` module attribute bound to
        ``orig`` (re-exports included) at ``new``."""
        for mname, mod in list(sys.modules.items()):
            if not mname.startswith("gopensearch_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, new)

    def install(self) -> None:
        """Wrap every ``LAYER_CALLS`` entry for the rest of the process."""
        if not self.enabled:
            return
        importlib.import_module("gopensearch_spark")
        for mname, attr, name in LAYER_CALLS:
            mod = importlib.import_module(mname)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                setattr(cls, meth, self._wrap(getattr(cls, meth), name))
            else:
                orig = getattr(mod, attr)
                self._replace_everywhere(orig, self._wrap(orig, name))
        mod = importlib.import_module(BATCH_HANDLER_FACTORY[0])
        factory = getattr(mod, BATCH_HANDLER_FACTORY[1])

        @functools.wraps(factory)
        def traced_factory(*a, **kw):
            return self._wrap(factory(*a, **kw), "streaming.batch")

        setattr(mod, BATCH_HANDLER_FACTORY[1], traced_factory)

    # --- resolution -----------------------------------------------------------
    def finish(self) -> None:
        """Resolve each span's own jobs and stages from the status store."""
        st = self.sc.statusTracker()
        for s in self.spans:
            s.jobs = sorted(st.getJobIdsForGroup(f"pb{s.sid}"))
            n = 0
            for j in s.jobs:
                info = st.getJobInfo(j)
                n += len(info.stageIds) if info is not None else 0
            s.stages = n
        self._children = {}
        for s in self.spans:
            self._children.setdefault(s.parent, []).append(s)

    def children(self, s: Span) -> list[Span]:
        return self._children.get(s.sid, []) if self._children is not None else []

    def subtree(self, s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.children(x))
        return out

    def jobs(self, s: Span) -> int:
        """Jobs launched inside ``s``, its children's included."""
        return sum(len(x.jobs) for x in self.subtree(s))

    def stages(self, s: Span) -> int:
        return sum(x.stages for x in self.subtree(s))

    def self_time(self, s: Span) -> float:
        ivs = sorted((max(c.t0, s.t0), min(c.t1, s.t1)) for c in self.children(s))
        covered, end = 0.0, s.t0
        for a, b in ivs:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        return s.dur - covered

    def named(self, name: str, workload: str, phase: str = "run", **attrs) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.workload == workload
                and s.phase == phase and all(s.attrs.get(k) == v for k, v in attrs.items())]

    def task_skew(self, s: Span) -> float | None:
        """max / median task run time of the stage, among those ``s`` and
        its children launched, with the largest total task time."""
        store = self.sc._jsc.sc().statusStore()
        best = None
        for x in self.subtree(s):
            for j in x.jobs:
                info = self.sc.statusTracker().getJobInfo(j)
                for sid in (info.stageIds if info is not None else []):
                    times = _task_run_ms(store, sid)
                    if times and (best is None or sum(times) > sum(best)):
                        best = times
        if not best:
            return None
        med = statistics.median(best)
        return max(best) / med if med > 0 else None

    def dump(self) -> list[dict]:
        """Spans as plain records (name, start, end, parent, request id,
        self time, jobs, stages), times relative to the first span."""
        if not self.spans:
            return []
        base = self.spans[0].t0
        return [
            {"id": s.sid, "name": s.name, "parent": s.parent, "rid": s.rid,
             "workload": s.workload, "phase": s.phase,
             "start": round(s.t0 - base, 6), "end": round(s.t1 - base, 6),
             "self": round(self.self_time(s), 6), "jobs": len(s.jobs),
             "stages": s.stages, **s.attrs}
            for s in self.spans
        ]


def _task_run_ms(store, stage_id: int) -> list[float]:
    """Executor run times (ms) of a stage's tasks from Spark's status
    store (latest attempt); [] when the stage is not retained."""
    from py4j.protocol import Py4JJavaError

    try:
        attempt = store.lastStageAttempt(stage_id).attemptId()
    except Py4JJavaError:  # stage no longer retained
        return []
    tasks = store.taskList(stage_id, attempt, 100000)
    out = []
    for i in range(tasks.length()):
        m = tasks.apply(i).taskMetrics()
        if m.isDefined():
            out.append(float(m.get().executorRunTime()))
    return out
