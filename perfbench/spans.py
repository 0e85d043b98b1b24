"""Tracing for the benchmark, recorded from outside the engine.

``Tracer.install()`` wraps the public functions and public methods of the
engine modules listed in ``LAYERS``; each call made while the tracer is
enabled records a span (name, start, end, parent span, step id, Spark jobs
launched during it). Spans stay in memory until the run writes them out.
``SparkProbe`` reads Spark's own status store around a step: stages run,
tasks, task time, input / shuffle / spill bytes and the part of the step's
wall time with no stage running.

Nothing inside ``seafan_spark`` changes: wrappers replace module attributes
and class attributes in this process only. A wrapper pickles as the
function it wraps, so closures shipped to Python workers run the original.
"""

from __future__ import annotations

import copy
import importlib
import inspect
import sys
import time
import types

# engine module -> layer name used in span and metric names
LAYERS = {
    "seafan_spark.sources": "sources",
    "seafan_spark.pipeline": "pipeline",
    "seafan_spark.exprlang.parser": "exprlang.parse",
    "seafan_spark.exprlang.compiler": "exprlang.compile",
    "seafan_spark.exprlang.pipe_ops": "exprlang.add",
    "seafan_spark.encode": "encode",
    "seafan_spark.agg": "agg",
    "seafan_spark.model": "model",
    "seafan_spark.optim": "optim",
    "seafan_spark.diags": "diags",
    "seafan_spark.llmops.dedup": "llmops.dedup",
    "seafan_spark.llmops.text": "llmops.text",
    "seafan_spark.llmops.similarity": "llmops.similarity",
}

# private entry points one engine module calls in another, traced only at
# that call site: (calling module, name) -> layer. add_to_pipe compiles
# through the recursive compiler._compile, so one span per expression.
ENTRY_POINTS = {
    ("seafan_spark.exprlang.pipe_ops", "_compile"): "exprlang.compile",
}


class _Traced:
    """Callable stand-in for one engine function; binds like a method."""

    def __init__(self, tracer: "Tracer", fn, layer: str, name: str):
        self._tracer = tracer
        self.__wrapped__ = fn
        self.__name__ = fn.__name__
        self.__doc__ = fn.__doc__
        self.layer = layer
        self.span_name = f"{layer}.{name}"

    def __call__(self, *args, **kwargs):
        if not self._tracer.enabled:
            return self.__wrapped__(*args, **kwargs)
        span = self._tracer.open(self.layer, self.span_name)
        try:
            out = self.__wrapped__(*args, **kwargs)
            self._tracer.on_result(span, out)
            return out
        finally:
            self._tracer.close(span)

    def __get__(self, obj, owner=None):
        return self if obj is None else types.MethodType(self, obj)

    def __reduce__(self):
        return (copy.copy, (self.__wrapped__,))


class Tracer:
    def __init__(self, spark):
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self.enabled = False
        self.step: str | None = None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def jobs(self) -> int:
        """Spark jobs submitted so far in this session."""
        return int(self._dag.numTotalJobs())

    def open(self, layer: str, name: str) -> dict:
        span = {
            "id": len(self.spans),
            "layer": layer,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "step": self.step,
            "start": time.perf_counter(),
            "jobs0": self.jobs(),
        }
        self.spans.append(span)
        self._stack.append(span["id"])
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        span["jobs"] = self.jobs() - span.pop("jobs0")
        self._stack.pop()

    def on_result(self, span: dict, out) -> None:
        if span["name"] == "model.fit":
            span["iters"] = fit_iterations(out)

    def install(self) -> None:
        """Wrap every public engine function and method."""
        wrapped: dict[int, _Traced] = {}
        for modname, layer in LAYERS.items():
            mod = importlib.import_module(modname)
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != modname:
                    continue
                if inspect.isfunction(obj):
                    wrapped[id(obj)] = _Traced(self, obj, layer, name)
                    setattr(mod, name, wrapped[id(obj)])
                elif inspect.isclass(obj) and not layer.startswith("exprlang"):
                    # exprlang classes are parser / compiler internals,
                    # called once per syntax node; their module functions
                    # are the layer's API
                    for meth, fn in list(vars(obj).items()):
                        if not meth.startswith("_") and inspect.isfunction(fn):
                            setattr(obj, meth, _Traced(self, fn, layer, f"{name}.{meth}"))
        # rebind names other modules imported with ``from m import f``
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname.startswith("seafan_spark") or modname == "__spark_entry__"):
                continue
            for name, obj in list(vars(mod).items()):
                if id(obj) in wrapped and wrapped[id(obj)].__wrapped__ is obj:
                    setattr(mod, name, wrapped[id(obj)])
        for (modname, name), layer in ENTRY_POINTS.items():
            mod = importlib.import_module(modname)
            setattr(mod, name, _Traced(self, getattr(mod, name), layer, name))


def fit_iterations(fit_result) -> int:
    """Optimizer iterations of a ``model.fit`` result: epochs run by the
    exact-architecture trainer, or the MLlib summary's iteration count
    (0 for closed-form solvers)."""
    model = getattr(fit_result, "model", None)
    history = getattr(model, "loss_history", None)
    if history is not None:
        return len(history)
    try:
        return int(model.summary.totalIterations)
    except Exception:  # models without a training summary
        return 0


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its child spans cover.
    Children of one span run one after another on one thread, so their
    durations do not overlap."""
    child_s: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child_s.get(s["id"], 0.0) for s in spans}


def self_jobs(spans: list[dict]) -> dict[int, int]:
    """Span id -> Spark jobs launched in it and not in a child span."""
    child: dict[int, int] = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0) + s["jobs"]
    return {s["id"]: s["jobs"] - child.get(s["id"], 0) for s in spans}


class SparkProbe:
    """Reads Spark's status store for the jobs one step launched."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._status = sc.statusTracker()
        self._store = self._sc.statusStore()
        mx = spark._jvm.java.lang.management.ManagementFactory
        self._gcs = list(mx.getGarbageCollectorMXBeans())

    def gc_s(self) -> float:
        """JVM garbage-collection time so far, all collectors."""
        return sum(max(0, int(b.getCollectionTime())) for b in self._gcs) / 1000.0

    def stages(self, job0: int, job1: int, t0_ms: float, t1_ms: float) -> dict:
        """Totals over the stages of jobs ``job0 <= id < job1``."""
        self._sc.listenerBus().waitUntilEmpty()
        sids: set[int] = set()
        for j in range(job0, job1):
            info = self._status.getJobInfo(j)
            if info is not None:
                sids.update(info.stageIds)
        out = {"stages": 0, "tasks": 0, "task_s": 0.0, "input_bytes": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0}
        busy: list[tuple[float, float]] = []
        for sid in sorted(sids):
            sd = self._store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += int(sd.numTasks())
            out["task_s"] += int(sd.executorRunTime()) / 1000.0
            out["input_bytes"] += int(sd.inputBytes())
            out["shuffle_write_bytes"] += int(sd.shuffleWriteBytes())
            out["spill_bytes"] += int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())
            sub, comp = sd.submissionTime(), sd.completionTime()
            if sub.isDefined() and comp.isDefined():
                busy.append((max(t0_ms, sub.get().getTime()), min(t1_ms, comp.get().getTime())))
        out["busy_s"] = _union_length(busy) / 1000.0
        return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
