"""Layer spans and Spark job attribution for the traced benchmark run.

``install`` wraps every public function defined in each engine module of
``LAYERS`` and rebinds every module attribute that refers to it, so calls
through ``from module import name`` are traced too. Spans (id, parent,
layer, name, op, start, end) stay in memory. After the run, Spark jobs,
stages and tasks are read from the driver's status store and attributed
to the innermost span open when each job was submitted.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import sys
import threading
import time
import types

#: layer name -> engine modules whose public functions form the layer
LAYERS = {
    "session": ["indexlab_spark.session"],
    "sources": ["indexlab_spark.sources.reader"],
    "text": ["indexlab_spark.functions.text"],
    "chunk": ["indexlab_spark.operators.chunk"],
    "embed": ["indexlab_spark.functions.embed"],
    "knn": ["indexlab_spark.operators.knn"],
    "bm25": ["indexlab_spark.operators.bm25"],
    "fusion": ["indexlab_spark.operators.fusion"],
    "evaluate": ["indexlab_spark.operators.evaluate"],
    "pipeline": ["indexlab_spark.pipeline"],
    "dedup": ["indexlab_spark.operators.dedup"],
    "textstats": ["indexlab_spark.operators.textstats"],
    "cache": ["indexlab_spark.functions.cache"],
    "analytics": ["indexlab_spark.operators.analytics"],
    "asof": ["indexlab_spark.operators.asof"],
}
#: the registry's frame builders are spanned by the workload runner
REGISTRY = "registry"
ALL_LAYERS = list(LAYERS) + [REGISTRY]


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.op: int | None = None
        self.spans: list[tuple] = []
        self._ids = itertools.count()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        st = self._stack()
        sid = next(self._ids)
        parent = st[-1] if st else None
        st.append(sid)
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            st.pop()
            self.spans.append((sid, parent, layer, name, self.op, t0, time.time()))


class _Traced:
    """Callable stand-in for an engine function. Pickles as the original
    (looked up by name), so UDF closures shipped to Python workers never
    carry the tracer."""

    def __init__(self, fn, layer: str, tracer: Tracer) -> None:
        functools.update_wrapper(self, fn)
        self._fn, self._layer, self._tracer = fn, layer, tracer

    def __call__(self, *args, **kwargs):
        return self._tracer.call(self._layer, self._fn.__name__, self._fn, *args, **kwargs)

    def __get__(self, obj, objtype=None):
        return self if obj is None else types.MethodType(self, obj)

    def __reduce__(self):
        return getattr, (sys.modules[self._fn.__module__], self._fn.__name__)


def install(tracer: Tracer) -> int:
    """Wrap the public functions of every layer module; returns how many."""
    wrapped: dict[int, tuple] = {}
    for layer, mods in LAYERS.items():
        for mname in mods:
            mod = importlib.import_module(mname)
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or not inspect.isfunction(obj) or obj.__module__ != mname:
                    continue
                wrapped[id(obj)] = (obj, _Traced(obj, layer, tracer))
    for mod in list(sys.modules.values()):
        mname = getattr(mod, "__name__", "") or ""
        if not (mname.startswith("indexlab_spark") or mname == "__spark_entry__"):
            continue
        for name, obj in list(vars(mod).items()):
            hit = wrapped.get(id(obj))
            if hit is not None and hit[0] is obj:
                setattr(mod, name, hit[1])
    return len(wrapped)


# ------------------------------------------------------------ status store
def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def spark_jobs(spark) -> list[dict]:
    """Every job: id, submit/complete epoch seconds, stage ids."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for j in _iter(store.jobsList(None)):
        out.append(
            {
                "id": j.jobId(),
                "t0": _opt_ms(j.submissionTime()),
                "t1": _opt_ms(j.completionTime()),
                "stages": list(_iter(j.stageIds())),
            }
        )
    return sorted(out, key=lambda j: j["id"])


def spark_stages(spark, stage_ids: set[int]) -> dict[int, dict]:
    """Completed-stage metrics plus the longest task's seconds."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = {}
    for sid in sorted(stage_ids):
        s = store.lastStageAttempt(sid)
        if s.status().toString() != "COMPLETE":
            continue
        longest = 0.0
        for task in _iter(store.taskList(sid, s.attemptId(), 1 << 30)):
            d = task.duration()
            if d.isDefined():
                longest = max(longest, d.get() / 1000.0)
        out[sid] = {
            "tasks": s.numCompleteTasks(),
            "run_s": s.executorRunTime() / 1000.0,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1000.0,
            "shuffle_write_mb": s.shuffleWriteBytes() / 1e6,
            "shuffle_read_mb": s.shuffleReadBytes() / 1e6,
            "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6,
            "longest_task_s": longest,
        }
    return out


# -------------------------------------------------------------- analysis
def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _minus(segs: list[tuple[float, float]], cover: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """segs minus the (sorted, disjoint) cover intervals."""
    out = []
    for a, b in segs:
        cur = a
        for c, d in cover:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
            if cur >= b:
                break
        if cur < b:
            out.append((cur, b))
    return out


def _length(segs) -> float:
    return sum(b - a for a, b in segs)


def innermost(spans: list[tuple], t: float):
    """The span open at ``t`` that started last (the innermost on the
    calling thread), or None."""
    best = None
    for sp in spans:
        if sp[5] <= t <= sp[6] and (best is None or sp[5] > best[5]):
            best = sp
    return best


def layer_table(spans: list[tuple], jobs: list[dict]) -> dict[str, dict]:
    """Per layer: calls, self seconds, jobs whose innermost span is in the
    layer, and self seconds with no Spark job running (driver time)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp[1] is not None:
            children.setdefault(sp[1], []).append((sp[5], sp[6]))
    running = _union([(j["t0"], j["t1"] or j["t0"]) for j in jobs if j["t0"] is not None])
    out = {layer: {"calls": 0, "self_s": 0.0, "driver_s": 0.0, "jobs": 0} for layer in ALL_LAYERS}
    for sp in spans:
        row = out[sp[2]]
        self_segs = _minus([(sp[5], sp[6])], _union(children.get(sp[0], [])))
        row["calls"] += 1
        row["self_s"] += _length(self_segs)
        row["driver_s"] += _length(_minus(self_segs, running))
    for j in jobs:
        sp = innermost(spans, j["t0"]) if j["t0"] is not None else None
        if sp is not None:
            out[sp[2]]["jobs"] += 1
    return out
