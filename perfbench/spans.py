"""Spans and Spark job accounting, recorded from outside the program.

`Tracer.install()` wraps the public functions of the engine's layer modules
(and the Spark DataFrame actions the engine calls) so that every call made
while tracing is enabled records a span: name, layer, start, end, parent
span, thread and the benchmark operation it belongs to. Spans stay in
memory and are written out once at the end of a run. Nothing inside the
program changes: the wrappers replace the module attributes (and every
other module's imported binding of the same function) at run time.

`JobCounter` reads the jobs, stages and tasks of a Spark job group back
through the status tracker, which works with the Spark UI disabled.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import operator
import sys
import threading
import time
import types
from dataclasses import dataclass

# module prefix -> layer name; the first matching prefix wins
LAYER_OF_MODULE = (
    ("memgraph_spark.catalog", "catalog"),
    ("memgraph_spark.plans", "plans"),
    ("memgraph_spark.functions", "plans"),
    ("memgraph_spark.operators", "operators"),
    ("memgraph_spark.algos", "algos"),
    # the eager checkpoint helpers the iterative loops run every round
    ("memgraph_spark.session", "algos"),
    ("memgraph_spark.llm", "llm"),
    ("memgraph_spark.search", "search"),
    ("memgraph_spark.server", "server"),
)
# DataFrame methods that submit Spark jobs when the engine calls them
SPARK_ACTIONS = ("count", "collect", "first", "take", "head", "toPandas",
                 "toLocalIterator", "localCheckpoint", "checkpoint")
# classes whose public methods are layer entry points
LAYER_CLASSES = (
    ("memgraph_spark.catalog", "PropertyGraph"),
    ("memgraph_spark.plans.session", "GraphSession"),
    ("memgraph_spark.plans.session", "QueryCompiler"),
)
# functions left unwrapped: they block on the socket waiting for the peer,
# which is idle time, not work of the layer
UNTRACED = {("memgraph_spark.server.bolt", "read_message"),
            ("memgraph_spark.server.bolt", "negotiate")}


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for a root span
    thread: int
    op: str


def layer_of(module: str) -> str | None:
    for prefix, layer in LAYER_OF_MODULE:
        if module == prefix or module.startswith(prefix + "."):
            return layer
    return None


class _Traced:
    """Callable standing in for an engine function while tracing is
    installed. It binds like a function when set on a class, and pickles
    as the original function, so Spark ships the untraced callable to its
    Python workers."""

    def __init__(self, tracer: "Tracer", fn, name: str, layer: str) -> None:
        functools.update_wrapper(self, fn)
        self._tracer, self._fn, self._name, self._layer = (
            tracer, fn, name, layer)

    def __call__(self, *args, **kwargs):
        tracer = self._tracer
        if not tracer.enabled or tracer._innermost_is(self._name):
            return self._fn(*args, **kwargs)
        idx = tracer.begin(self._name, self._layer)
        try:
            return self._fn(*args, **kwargs)
        finally:
            tracer.end(idx)

    def __get__(self, obj, objtype=None):
        return self if obj is None else types.MethodType(self, obj)

    def __reduce__(self):
        return operator.itemgetter(0), ((self._fn,),)


class Tracer:
    """In-memory span recorder. Disabled until `enabled` is set."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op = ""  # id of the benchmark operation in flight
        self.main_thread = threading.get_ident()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._wrapped: dict[int, _Traced] = {}

    # -- recording -----------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, layer: str) -> int:
        st = self._stack()
        span = Span(name, layer, time.perf_counter(), 0.0,
                    st[-1] if st else -1, threading.get_ident(), self.op)
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        st.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """A span around the `with` body, when tracing is enabled."""
        if not self.enabled:
            yield
            return
        idx = self.begin(name, layer)
        try:
            yield
        finally:
            self.end(idx)

    def _innermost_is(self, name: str) -> bool:
        st = self._stack()
        return bool(st) and self.spans[st[-1]].name == name

    def wrap(self, fn, name: str, layer: str):
        """Wrapper recording one span per outermost call of `fn` (recursive
        calls of the same function stay inside the outer span)."""
        w = self._wrapped.get(id(fn))
        if w is None:
            w = self._wrapped[id(fn)] = _Traced(self, fn, name, layer)
        return w

    # -- installation ----------------------------------------------------
    def install(self, df_class) -> None:
        """Wrap every public function defined in a layer module, every
        public method of the layer classes and the actions of `df_class`
        (the session's concrete DataFrame class); rebind every imported
        reference in the engine's modules."""
        originals: dict[int, object] = {}
        for modname, mod in list(sys.modules.items()):
            layer = layer_of(modname)
            if layer is None or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if (attr.startswith("_") or not inspect.isfunction(val)
                        or val.__module__ != modname
                        or (modname, attr) in UNTRACED):
                    continue
                originals[id(val)] = self.wrap(
                    val, f"{modname.rsplit('.', 1)[-1]}.{attr}", layer)
        for modname, clsname in LAYER_CLASSES:
            cls = getattr(sys.modules.get(modname), clsname, None)
            if cls is None:
                continue
            layer = layer_of(modname)
            for attr, val in list(vars(cls).items()):
                if attr.startswith("_") or not inspect.isfunction(val):
                    continue
                setattr(cls, attr, self.wrap(val, f"{clsname}.{attr}", layer))
        # a Bolt PULL drains the result's toLocalIterator row by row; the
        # Spark jobs behind it run inside the server's row stream
        stream = getattr(sys.modules.get("memgraph_spark.server.bolt"),
                         "_RowStream", None)
        if stream is not None:
            stream.next_record = self.wrap(stream.next_record,
                                           "bolt.row_stream", "spark")
        for attr in SPARK_ACTIONS:
            setattr(df_class, attr, self.wrap(getattr(df_class, attr),
                                              f"DataFrame.{attr}", "spark"))
        # rebind `from x import f` copies held by any engine module
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("memgraph_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                w = originals.get(id(val))
                if w is not None and w is not val:
                    setattr(mod, attr, w)

    # -- reduction -------------------------------------------------------
    def self_times(self, first: int, last: int) -> dict[str, float]:
        """Self time per layer over spans[first:last]: each span's time
        minus the time of its child spans. Children run on their parent's
        thread, except that a root span on another thread (the Bolt
        server's) is a child of the main thread's root span of the same
        operation (the client's statement)."""
        spans = self.spans[first:last]
        op_root = {}
        for i, s in enumerate(spans):
            if s.parent < first and s.thread == self.main_thread:
                op_root.setdefault(s.op, i)
        child = [0.0] * len(spans)
        for s in spans:
            if s.parent >= first:
                child[s.parent - first] += s.end - s.start
            elif s.thread != self.main_thread and s.op in op_root:
                child[op_root[s.op]] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(spans):
            # the Bolt client encodes its requests with the server's codec;
            # that is client work, not server work
            layer = ("bench" if s.layer == "server"
                     and s.thread == self.main_thread else s.layer)
            out[layer] = out.get(layer, 0.0) + (s.end - s.start) - child[i]
        return out

    def dump(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        return [{"name": s.name, "layer": s.layer,
                 "start_ms": round((s.start - t0) * 1e3, 3),
                 "end_ms": round((s.end - t0) * 1e3, 3),
                 "parent": s.parent, "thread": s.thread, "op": s.op}
                for s in self.spans]


class JobCounter:
    """Jobs / stages / tasks of Spark job groups, via the status tracker."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    def jobs(self, group: str | None) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(group))

    def stage_task_counts(self, job_ids) -> tuple[int, int, int]:
        """(stages, tasks, failed tasks) over the given jobs' stages that
        the tracker still knows (skipped stages never ran and have none)."""
        stages = tasks = failed = 0
        seen: set[int] = set()
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                st = self.tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue
                stages += 1
                tasks += st.numTasks
                failed += st.numFailedTasks
        return stages, tasks, failed
