"""Span tracing for the traced benchmark run.

The program is not changed: each layer's public functions are wrapped from
outside, on their own classes and modules, and only when ``install`` is
called. Spans live in memory (``Tracer.spans``) and are written out once, at
the end of the run. A wrapper whose tracer is inactive calls straight
through, so untraced operations in a traced run pay one attribute check.

Self time of a span is its duration minus the part of it that its child
spans cover; children may overlap each other, so their union is used.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict

# (layer, owner path, attribute names). The owner path is resolved at
# install time; classes are patched on the class, modules on the module.
TARGETS = [
    ("facade", "vector_db_api_spark.api.facade:Facade",
     ("search", "get_chunk", "list_documents", "upsert_chunk", "delete_chunk")),
    ("service", "vector_db_api_spark.api.service:Engine",
     ("search", "upsert_chunk", "delete_chunk", "list_documents")),
    ("lifecycle", "vector_db_api_spark.lifecycle:IndexLifecycle",
     ("current", "search", "rebuild", "apply_delta", "remove")),
    ("store", "vector_db_api_spark.sources.store:EntityStore",
     ("read", "write", "write_partitions")),
    ("fsio", "vector_db_api_spark.sources.fsio", ("read_json", "write_json_atomic")),
    ("bloom", "vector_db_api_spark.sources.bloom", ("build_bloom", "write_bloom")),
    # lifecycle binds ``knn`` at import: patch the name where it is looked up
    ("knn", "vector_db_api_spark.lifecycle", ("knn",)),
    ("ivf", "vector_db_api_spark.operators.ivf:IVFIndex",
     ("search", "train", "assign")),
    # the classic (non-Connect) DataFrame overrides every action
    ("spark", "pyspark.sql.classic.dataframe:DataFrame",
     ("collect", "count", "toPandas", "isEmpty", "first", "head", "take",
      "localCheckpoint", "checkpoint")),
    ("spark", "pyspark.sql.readwriter:DataFrameWriter", ("save", "parquet")),
]

# classmethods are re-wrapped as classmethods
_CLASSMETHODS = {("vector_db_api_spark.operators.ivf:IVFIndex", "train")}


class Span:
    __slots__ = ("op", "layer", "name", "t0", "t1", "parent", "children")

    def __init__(self, op, layer, name, t0, parent):
        self.op, self.layer, self.name = op, layer, name
        self.t0, self.t1, self.parent = t0, None, parent
        self.children: list[Span] = []

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


def covered(lo: float, hi: float, intervals) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_ms(span: Span) -> float:
    kids = [(c.t0, c.t1) for c in span.children]
    return (span.t1 - span.t0 - covered(span.t0, span.t1, kids)) * 1000.0


class Tracer:
    """Collects spans for the op named in ``self.op`` while ``active``."""

    def __init__(self) -> None:
        self.active = False
        self.op = None
        self.spans: list[Span] = []
        self._local = threading.local()
        self._patched: list[tuple] = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            stack = tracer._stack()
            # nested pyspark actions (first -> head -> take -> collect) are
            # one action: only the outermost spark span is recorded
            if layer == "spark" and any(s.layer == "spark" for s in stack):
                return fn(*args, **kwargs)
            parent = stack[-1] if stack else None
            span = Span(tracer.op, layer, name, time.perf_counter(), parent)
            stack.append(span)
            try:
                return fn(*args, **kwargs)
            finally:
                span.t1 = time.perf_counter()
                stack.pop()
                if parent is not None:
                    parent.children.append(span)
                tracer.spans.append(span)

        return traced

    def install(self, on_facade_enter=None) -> None:
        import importlib

        for layer, owner, names in TARGETS:
            mod_name, _, cls_name = owner.partition(":")
            obj = importlib.import_module(mod_name)
            if cls_name:
                obj = getattr(obj, cls_name)
            for n in names:
                orig = obj.__dict__[n] if cls_name else getattr(obj, n)
                fn = orig.__func__ if (owner, n) in _CLASSMETHODS else orig
                w = self.wrap(layer, n, fn)
                if layer == "facade" and on_facade_enter is not None:
                    w = _before(w, on_facade_enter, self)
                setattr(obj, n, classmethod(w) if (owner, n) in _CLASSMETHODS else w)
                self._patched.append((obj, n, orig))

    def uninstall(self) -> None:
        for obj, n, orig in reversed(self._patched):
            setattr(obj, n, orig)
        self._patched.clear()


def _before(fn, hook, tracer):
    @functools.wraps(fn)
    def call(*args, **kwargs):
        if tracer.active:
            hook()
        return fn(*args, **kwargs)
    return call


def op_layer_totals(spans, op_class: dict) -> dict:
    """{op: {(layer, kind): value}} with kind ``self`` (ms of self time),
    ``ms`` (ms of total duration) and ``calls`` (span count).

    Self time counts only children that were recorded on the same op; the
    sum of a root span's descendants' self times plus its own equals its
    duration."""
    out: dict = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if s.op not in op_class or s.t1 is None:
            continue
        d = out[s.op]
        d[(s.layer, "self")] += self_ms(s)
        d[(s.layer, "calls")] += 1
        if s.parent is None or s.parent.layer != s.layer:
            d[(s.layer, "ms")] += s.ms
        d[(s.layer + "." + s.name, "ms")] += s.ms
        d[(s.layer + "." + s.name, "calls")] += 1
    return out


def spark_counts(sc, group: str) -> dict:
    """Jobs, executed stages, tasks, executor run time and shuffle bytes of
    every job tagged with ``group``, read from the status tracker and the
    status store (no UI needed)."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = stages = tasks = 0
    run_ms = shuffle = 0
    seen = set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        jobs += 1
        for sid in sc.statusTracker().getJobInfo(jid).stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            sd = store.lastStageAttempt(sid)
            if str(sd.status()) == "SKIPPED":
                continue
            stages += 1
            tasks += int(sd.numCompleteTasks())
            run_ms += int(sd.executorRunTime())
            shuffle += int(sd.shuffleWriteBytes())
    return {"jobs": jobs, "stages": stages, "tasks": tasks,
            "run_ms": run_ms, "shuffle_bytes": shuffle}
