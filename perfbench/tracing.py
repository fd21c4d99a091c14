"""Spans, counters and layer wrappers for the traced run.

Nothing here changes the package.  ``LayerPatch`` rebinds the public
entry points of the traced layers (operator families, ``sources``
writers, ``Pipeline`` combinators) to wrappers that open a span, and
``undo()`` puts the originals back, so untraced passes run the package
exactly as shipped.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

PKG = "data_pipeline_package_for_python_spark"
OPERATOR_FAMILIES = ("dedup", "graph", "similarity", "text", "etl")
PIPELINE_METHODS = ("common", "all", "branch", "sequence", "select")

# StageData accessor -> (metric, scale to the reported unit)
STAGE_FIELDS = {
    "executorRunTime": ("exec.run_s", 1e-3),
    "executorCpuTime": ("exec.cpu_s", 1e-9),
    "jvmGcTime": ("exec.gc_s", 1e-3),
    "inputBytes": ("exec.input_mb", 1e-6),
    "shuffleWriteBytes": ("exec.shuffle_write_mb", 1e-6),
    "shuffleReadBytes": ("exec.shuffle_read_mb", 1e-6),
    "diskBytesSpilled": ("exec.spill_mb", 1e-6),
    "outputBytes": ("exec.output_mb", 1e-6),
}


class JobIds:
    """Counts jobs and stages as deltas of the next job and stage id.

    Ids only increase, so a delta stays right after any number of jobs.
    ``statusTracker().getJobIdsForGroup(None)`` is capped at
    ``spark.ui.retainedJobs`` and goes negative as a counter once that
    many jobs have run.
    """

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()

    def jobs(self) -> int:
        return self._dag.nextJobId()

    def stages(self) -> int:
        return self._dag.nextStageId()

    def stage_totals(self, first: int, end: int) -> dict[str, float]:
        """Task counts and task metrics of stages ``first <= id < end``,
        read from the status store once the listener bus has drained."""
        self._bus.waitUntilEmpty()
        out = {"sched.tasks": 0.0, "sched.failed_tasks": 0.0}
        out.update({m: 0.0 for m, _ in STAGE_FIELDS.values()})
        for sid in range(first, end):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # id allocated, stage never submitted
                continue
            out["sched.tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["sched.failed_tasks"] += st.numFailedTasks()
            for accessor, (metric, scale) in STAGE_FIELDS.items():
                out[metric] += getattr(st, accessor)() * scale
        return out


@dataclass
class Span:
    id: int
    parent: int | None
    step: int | None
    name: str
    start: float
    jobs0: int
    end: float = 0.0
    jobs1: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def jobs(self) -> int:
        return self.jobs1 - self.jobs0


class Tracer:
    """Keeps spans in memory; one driver thread, so one parent stack."""

    def __init__(self, ids: JobIds):
        self._ids = ids
        self._stack: list[Span] = []
        self.spans: list[Span] = []
        self.step: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, self.step, name,
                 time.perf_counter(), self._ids.jobs(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.jobs1 = self._ids.jobs()
            self._stack.pop()


def self_costs(spans: list[Span]) -> dict[int, tuple[float, int]]:
    """Span id -> (self seconds, self jobs): its own duration and jobs
    minus those of its children.  Children nest strictly in one thread,
    so the time they cover is the sum of their durations."""
    child_s: dict[int, float] = {}
    child_j: dict[int, int] = {}
    for s in spans:
        if s.parent is not None:
            child_s[s.parent] = child_s.get(s.parent, 0.0) + s.duration
            child_j[s.parent] = child_j.get(s.parent, 0) + s.jobs
    return {
        s.id: (s.duration - child_s.get(s.id, 0.0),
               s.jobs - child_j.get(s.id, 0))
        for s in spans
    }


def _public_functions(mod) -> list[str]:
    """Functions defined in ``mod`` without a leading underscore (some
    entry points that queries call are missing from ``__all__``)."""
    return [
        n for n, v in vars(mod).items()
        if not n.startswith("_") and inspect.isfunction(v)
        and v.__module__ == mod.__name__
    ]


def _written(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping Spark's marker and
    checksum files."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class LayerPatch:
    """Wraps the traced layers' public entry points at module attribute
    level, in every package module that holds a reference to them."""

    def __init__(self, tracer: Tracer):
        self._tracer = tracer
        self._undo: list[tuple[object, str, object]] = []

    def _wrap(self, fn, layer: str):
        tracer = self._tracer

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(layer, fn=fn.__name__):
                return fn(*args, **kwargs)

        return wrapper

    def _wrap_writer(self, fn):
        tracer = self._tracer
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span("sources.write", fn=fn.__name__) as s:
                out = fn(*args, **kwargs)
                path = sig.bind(*args, **kwargs).arguments.get("path")
                if isinstance(path, str) and os.path.isdir(path):
                    s.attrs["files"], s.attrs["bytes"] = _written(path)
                return out

        return wrapper

    def install(self) -> None:
        targets: dict[int, tuple[object, object]] = {}
        for fam in OPERATOR_FAMILIES:
            mod = importlib.import_module(f"{PKG}.operators.{fam}")
            for name in _public_functions(mod):
                fn = getattr(mod, name)
                targets[id(fn)] = (fn, self._wrap(fn, f"operators.{fam}"))
        sources = importlib.import_module(f"{PKG}.sources")
        for name in _public_functions(sources):
            if name.startswith("write_"):
                fn = getattr(sources, name)
                targets[id(fn)] = (fn, self._wrap_writer(fn))
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(PKG):
                continue
            for attr, val in list(vars(mod).items()):
                hit = targets.get(id(val))
                if hit is not None and hit[0] is val:
                    self._undo.append((mod, attr, val))
                    setattr(mod, attr, hit[1])
        pipeline = importlib.import_module(f"{PKG}.core.pipeline").Pipeline
        for name in PIPELINE_METHODS:
            fn = vars(pipeline)[name]
            self._undo.append((pipeline, name, fn))
            setattr(pipeline, name, self._wrap(fn, "core"))

    def undo(self) -> None:
        while self._undo:
            obj, attr, val = self._undo.pop()
            setattr(obj, attr, val)
