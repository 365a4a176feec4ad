"""Outside-in tracing: spans recorded around calls into the engine.

Nothing in the engine is edited. ``Tracer.instrument`` rebinds the
public functions of the engine's modules (``sources``, ``operators``)
to recording wrappers, everywhere the package has bound them, and
``Tracer.span`` is used by the workloads around their own calls into
``session``, ``queries`` and ``store``.

Each span records its name, start, end, parent span and the id of the
operation (trace) it belongs to. Spans stay in memory until the run
ends. Every span runs its Spark jobs under its own job group, so each
job is charged to the innermost span that launched it; job, stage and
task figures are read back through ``SparkContext.statusTracker()`` and
the JVM status store after each operation.
"""

from __future__ import annotations

import functools
import inspect
import sys
import time
from contextlib import contextmanager

PACKAGE = "vectorsearchutil_spark"

#: Methods wrapped on ``sources.manifest.ManifestLog``.
MANIFEST_METHODS = ("write_and_commit", "read")


class Span:
    __slots__ = ("sid", "name", "parent", "trace", "start", "end", "jobs",
                 "stages")

    def __init__(self, sid, name, parent, trace):
        self.sid, self.name, self.parent, self.trace = sid, name, parent, trace
        self.start = time.perf_counter()
        self.end = None
        self.jobs: list[int] = []
        self.stages: list[dict] = []

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. With ``enabled=False`` every method is a no-op
    apart from the timing the caller asks for."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._trace = 0
        self._sc = None

    # -- recording -----------------------------------------------------

    def bind(self, spark) -> None:
        """Read job figures from ``spark``'s context from now on."""
        self._sc = spark.sparkContext

    def new_trace(self) -> None:
        """Start a new operation: later spans carry its trace id."""
        self._trace += 1

    def _group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"perfbench-{span.sid}", span.name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None,
                 self._trace)
        self.spans.append(s)
        self._stack.append(s)
        self._group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)

    def collect_jobs(self, first_span: int) -> None:
        """Attach job ids, and stage figures for ``exec`` spans, to every
        span recorded since index ``first_span``. Call after each
        operation, while the status store still holds its jobs."""
        if not self.enabled or self._sc is None:
            return
        st = self._sc.statusTracker()
        store = self._sc._jsc.sc().statusStore()
        for s in self.spans[first_span:]:
            s.jobs = sorted(st.getJobIdsForGroup(f"perfbench-{s.sid}"))
            if s.name != "exec":
                continue
            for jid in s.jobs:
                info = st.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    s.stages.append(_stage_figures(store, sid))

    # -- instrumentation -----------------------------------------------

    def instrument(self) -> None:
        """Wrap the public entry points of the engine's ``sources`` and
        ``operators`` modules. Every binding of a wrapped function in
        any loaded package module is replaced, so calls through names
        imported with ``from ... import`` are recorded too."""
        if not self.enabled:
            return
        import importlib
        import pkgutil

        ops = importlib.import_module(f"{PACKAGE}.operators")
        targets = {f"{PACKAGE}.sources.readers": "sources"}
        for mod in pkgutil.iter_modules(ops.__path__):
            targets[f"{PACKAGE}.operators.{mod.name}"] = (
                f"operators.{mod.name}"
            )
        for name in targets:
            importlib.import_module(name)
        importlib.import_module(f"{PACKAGE}.queries")
        importlib.import_module(f"{PACKAGE}.store")
        wrapped: dict[int, object] = {}
        for modname, layer in targets.items():
            mod = sys.modules[modname]
            for attr, fn in vars(mod).items():
                if (attr.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != modname):
                    continue
                wrapped[id(fn)] = self._wrap(fn, f"{layer}.{attr}")
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith(PACKAGE) or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                w = wrapped.get(id(val))
                if w is not None:
                    setattr(mod, attr, w)
        from vectorsearchutil_spark.sources.manifest import ManifestLog

        for meth in MANIFEST_METHODS:
            setattr(ManifestLog, meth, self._wrap(
                getattr(ManifestLog, meth), f"sources.manifest.{meth}"))

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def _stage_figures(store, sid: int) -> dict:
    """Task metrics of the last attempt of stage ``sid``; a stage that
    was skipped (its shuffle output reused) or already evicted from the
    status store counts as skipped with no work."""
    from py4j.protocol import Py4JJavaError

    try:
        sd = store.lastStageAttempt(sid)
        if str(sd.status()) == "SKIPPED":
            raise LookupError
        return {
            "skipped": False,
            "tasks": sd.numCompleteTasks(),
            "run_ms": sd.executorRunTime(),
            "cpu_ns": sd.executorCpuTime(),
            "gc_ms": sd.jvmGcTime(),
            "shuffle_read": sd.shuffleReadBytes(),
            "shuffle_write": sd.shuffleWriteBytes(),
            "spill": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            "input_rows": sd.inputRecords(),
        }
    except (LookupError, Py4JJavaError):
        return {"skipped": True}


# -- reduction -----------------------------------------------------------


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it covered by child spans."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, edge = 0.0, s.start
        for c in sorted(children.get(s.sid, ()), key=lambda c: c.start):
            lo, hi = max(c.start, edge), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                edge = hi
        out[s.sid] = s.dur - covered
    return out


def subtree_jobs(spans: list[Span]) -> dict[int, int]:
    """Span id -> jobs launched by the span or any span below it."""
    total = {s.sid: len(s.jobs) for s in spans}
    for s in sorted(spans, key=lambda s: -s.sid):
        if s.parent is not None and s.parent in total:
            total[s.parent] += total[s.sid]
    return total
