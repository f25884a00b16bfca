"""Spans and Spark job/stage accounting for the traced run.

Spans are recorded from the benchmark's own files: ``wrap_layers`` rebinds
the public functions of the named blspark modules (in every blspark module
that imported them by name) to a recording wrapper, and ``unwrap`` restores
them. Each span keeps (id, parent, name, layer, start, end, jobs), where
``jobs`` is the number of Spark jobs submitted while it was open, read from
the DAG scheduler's job counter. Phases run under their own job group, and
the in-process status store gives their stages' shuffle, spill and task time.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import json
import os
import sys
import threading
import time
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError


def cpu_seconds() -> float:
    """CPU seconds used so far by this process and its descendants (the Spark
    JVM and its Python workers), counting exited children that were waited for."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited during the scan
            continue
        pid = int(entry.name)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    start: float
    end: float = 0.0
    jobs: int = 0


class Tracer:
    """In-memory span recorder; one per traced run."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._dag = self._sc._jsc.sc().dagScheduler()
        self._store = self._sc._jsc.sc().statusStore()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self.spans: list[Span] = []

    def jobs_submitted(self) -> int:
        return self._dag.numTotalJobs()

    def open(self, name: str, layer: str) -> tuple[Span, int]:
        stack = self._local.__dict__.setdefault("stack", [])
        span = Span(next(self._ids), stack[-1].id if stack else None, name, layer,
                    time.perf_counter())
        stack.append(span)
        self.spans.append(span)
        return span, self.jobs_submitted()

    def close(self, span: Span, jobs_at_open: int) -> None:
        span.jobs = self.jobs_submitted() - jobs_at_open
        span.end = time.perf_counter()
        self._local.stack.pop()

    @contextlib.contextmanager
    def phase(self, name: str, layer: str):
        """Span plus a job group of its own; yields the span."""
        span, jobs = self.open(name, layer)
        self._sc.setJobGroup(_group(span), name)
        try:
            yield span
        finally:
            self.close(span, jobs)
            self._sc.setLocalProperty("spark.jobGroup.id", None)

    def group_stats(self, span: Span) -> dict[str, float]:
        """Task time and input/shuffle/spill bytes of a phase's job group."""
        tracker = self._sc.statusTracker()
        out = {"task_ms": 0.0, "shuffle_write_b": 0.0, "spill_b": 0.0, "input_b": 0.0}
        for job_id in tracker.getJobIdsForGroup(_group(span)):
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                try:
                    st = self._store.lastStageAttempt(stage_id)
                except Py4JJavaError:  # a stage the store has already evicted
                    continue
                out["task_ms"] += st.executorRunTime()
                out["shuffle_write_b"] += st.shuffleWriteBytes()
                out["spill_b"] += st.diskBytesSpilled()
                out["input_b"] += st.inputBytes()
        return out

    def self_times(self, spans: list[Span]) -> dict[int, tuple[float, int]]:
        """span id -> (self seconds, self jobs): its own minus its children's."""
        own = {s.id: [s.end - s.start, s.jobs] for s in spans}
        for s in spans:
            if s.parent in own:
                own[s.parent][0] -= s.end - s.start
                own[s.parent][1] -= s.jobs
        return {k: (v[0], v[1]) for k, v in own.items()}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _group(span: Span) -> str:
    return f"{span.name}#{span.id}"


class _Traced:
    """Recording stand-in for a module function. Pickles as the original,
    so closures shipped to Python workers never carry the tracer."""

    def __init__(self, fn, layer: str, tracer: Tracer):
        functools.update_wrapper(self, fn)
        self._layer, self._tracer = layer, tracer

    def __call__(self, *args, **kwargs):
        span, jobs = self._tracer.open(f"{self._layer}.{self.__name__}", self._layer)
        try:
            return self.__wrapped__(*args, **kwargs)
        finally:
            self._tracer.close(span, jobs)

    def __reduce__(self):
        return getattr, (importlib.import_module(self.__module__), self.__name__)


def wrap_layers(tracer: Tracer, layers: dict[str, tuple[str, ...] | None]) -> list:
    """Wrap ``{layer: function names or None for every public function}``,
    where a layer is a module path below ``blspark``. Returns the undo list
    for ``unwrap``."""
    originals: dict[int, _Traced] = {}
    for layer, names in layers.items():
        mod = importlib.import_module(f"blspark.{layer}")
        if names is None:
            names = tuple(
                n for n, f in vars(mod).items()
                if not n.startswith("_") and inspect.isfunction(f)
                and f.__module__ == mod.__name__
            )
        for n in names:
            fn = getattr(mod, n)
            originals[id(fn)] = _Traced(fn, layer, tracer)
    undo = []
    for mod in [m for k, m in sys.modules.items() if k.startswith("blspark") and m]:
        for attr, val in list(vars(mod).items()):
            wrapper = originals.get(id(val))
            if wrapper is not None and wrapper.__wrapped__ is val:
                setattr(mod, attr, wrapper)
                undo.append((mod, attr, val))
    return undo


def unwrap(undo: list) -> None:
    for mod, attr, val in undo:
        setattr(mod, attr, val)
