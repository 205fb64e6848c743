"""Span tracing from outside the engine.

The benchmark never edits the package. Instead :class:`Tracer` swaps
each traced public function for a wrapper that records a span (name,
start, end, parent, op id) around the call, in every loaded module of
the package that binds that function object — plans import operators
by name, so patching only the defining module would miss their calls.
While a span is open its id is the thread's Spark job group, so every
job Spark runs under it can be read back from the status store and
charged to the innermost span. Spans stay in memory until
:meth:`Tracer.write`.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from dataclasses import asdict, dataclass

PACKAGE = "comperhensive_bigdata_analysis__spark"
GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float
    op: int | None
    phase: str

    @property
    def layer(self) -> str:
        return self.name.rsplit(".", 1)[0]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time: its duration minus the part of its interval
    covered by its direct children (children of one span may overlap
    each other only if the program runs them concurrently, so the
    covered part is the union of their clipped intervals)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(s.id, [])):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


class Tracer:
    """Records spans; owns the wrappers it installs."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        #: (phase, name) -> summed value
        self.counters: dict[tuple[str, str], float] = {}
        self.op: int | None = None
        self.phase = "setup"
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._next = 0

    # -- spans ---------------------------------------------------------------

    def _set_group(self, span_id: int | None) -> None:
        if self.spark is None:
            return
        group = None if span_id is None else f"{GROUP_PREFIX}{span_id}"
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)

    def span(self, name: str):
        return _SpanContext(self, name)

    def count(self, name: str, value: float = 1) -> None:
        key = (self.phase, name)
        self.counters[key] = self.counters.get(key, 0) + value

    # -- wrappers ------------------------------------------------------------

    def _wrap(self, name: str, fn, probe=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            before = probe() if probe else None
            with tracer.span(name):
                result = fn(*args, **kwargs)
            if probe and probe() == before:
                tracer.count(f"{name}.unchanged")
            return result

        return traced

    def install(self, targets: dict[str, tuple[object, str]], probes=None) -> None:
        """``targets``: span name -> (owner, attribute). The owner is a
        module or class; the function it holds is replaced wherever a
        loaded package module binds the same object. ``probes``: span
        name -> zero-argument callable read before and after each call;
        calls that leave it unchanged are counted as
        ``<name>.unchanged``."""
        probes = probes or {}
        for name, (owner, attr) in targets.items():
            original = getattr(owner, attr)
            wrapper = self._wrap(name, original, probes.get(name))
            holders = [owner] + [
                m for mod_name, m in list(sys.modules.items())
                if m is not None and mod_name.startswith(PACKAGE) and m is not owner
            ]
            for holder in holders:
                for key, value in list(vars(holder).items()):
                    if value is original:
                        setattr(holder, key, wrapper)
                        self._patched.append((holder, key, original))

    def uninstall(self) -> None:
        while self._patched:
            holder, key, original = self._patched.pop()
            setattr(holder, key, original)

    # -- output --------------------------------------------------------------

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        self.id = t._next
        t._next += 1
        self.parent = t._stack[-1] if t._stack else None
        t._stack.append(self.id)
        t._set_group(self.id)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        t = self.tracer
        t._stack.pop()
        t._set_group(self.parent)
        t.spans.append(Span(self.id, self.parent, self.name, self.start, end, t.op, t.phase))
        return False


def operator_targets(module) -> dict[str, tuple[object, str]]:
    """Every public function defined in an operator module, as span
    targets named ``<module path below the package>.<function>``."""
    short = module.__name__[len(PACKAGE) + 1:]
    return {
        f"{short}.{name}": (module, name)
        for name, value in vars(module).items()
        if callable(value) and not name.startswith("_")
        and getattr(value, "__module__", None) == module.__name__
        and not isinstance(value, type)
    }


def job_stats(spark, spans: list[Span]) -> dict[int, dict[str, float]]:
    """Span id -> summed Spark job figures (jobs, tasks, task run ms,
    input bytes, shuffle write bytes) of the jobs that ran while that
    span was the innermost one. Waits for the status store to settle."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    ids = {s.id for s in spans}
    last, n = -1, store.jobsList(None).size()
    deadline = time.monotonic() + 10
    while n != last and time.monotonic() < deadline:
        time.sleep(0.5)
        last, n = n, store.jobsList(None).size()
    jobs = store.jobsList(None)
    out: dict[int, dict[str, float]] = {}
    for i in range(jobs.size()):
        job = jobs.apply(i)
        group = job.jobGroup()
        if not group.isDefined() or not group.get().startswith(GROUP_PREFIX):
            continue
        span_id = int(group.get()[len(GROUP_PREFIX):])
        if span_id not in ids:
            continue
        acc = out.setdefault(span_id, dict.fromkeys(
            ("jobs", "tasks", "task_run_ms", "input_bytes", "shuffle_write_bytes"), 0.0))
        acc["jobs"] += 1
        stages = job.stageIds()
        for k in range(stages.size()):
            st = store.lastStageAttempt(stages.apply(k))
            acc["tasks"] += st.numCompleteTasks()
            acc["task_run_ms"] += st.executorRunTime()
            acc["input_bytes"] += st.inputBytes()
            acc["shuffle_write_bytes"] += st.shuffleWriteBytes()
    return out
