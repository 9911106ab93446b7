"""Tracing for the benchmark's traced mode.

Spans are recorded from the benchmark's own files: ``instrument``
swaps the public functions of the program's modules for wrappers that
open a span around each call, and puts the originals back afterwards.
Nothing in the program is edited. Each span carries its name, start,
end, parent span and run id, plus the Spark status-store stage
high-water marks at its start and end, so the stages submitted inside
it can be attached after the run. Spans stay in memory and are written
out once, at the end.

The status store is read directly (``AppStatusStore`` through py4j),
one JSON snapshot per read, not through the UI's REST server.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


class StageLog:
    """The driver's status store, read through py4j."""

    def __init__(self, spark):
        jvm = spark._jvm
        sc = spark.sparkContext
        self._bus = sc._jsc.sc().listenerBus()
        self._store = sc._jsc.sc().statusStore()
        self._cls = jvm.java.lang.Class.forName("org.apache.spark.status.StageDataWrapper")
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(scala, "MODULE$"))
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store reflects all stages submitted so far."""
        self._bus.waitUntilEmpty()

    def hwm(self) -> int:
        """Highest stage id in the store (-1 when empty)."""
        self.drain()
        it = self._store.store().view(self._cls).reverse().max(1).iterator()
        return int(it.next().info().stageId()) if it.hasNext() else -1

    def executors(self) -> list[dict]:
        """Executor summaries (in local mode, the driver), with the peak
        memory metrics Spark's memory manager accounted."""
        self.drain()
        return json.loads(self._mapper.writeValueAsString(self._store.executorList(True)))

    def stages(self) -> list[dict]:
        """Every stage attempt in the store, as the REST API's JSON."""
        self.drain()
        lst = self._store.stageList(None, False, False, self._no_quantiles, None)
        return json.loads(self._mapper.writeValueAsString(lst))


def ran(stages: list[dict], lo: int, hi: int) -> list[dict]:
    """Stages with ``lo < stageId <= hi`` that ran (skipped stages,
    whose shuffle output was reused, did no work)."""
    return [s for s in stages if lo < s["stageId"] <= hi and s["status"] != "SKIPPED"]


def covered_s(stages: list[dict]) -> float:
    """Wall seconds during which at least one of ``stages`` was running."""
    ivs = sorted(
        (s["submissionTime"], s["completionTime"])
        for s in stages
        if s.get("submissionTime") and s.get("completionTime")
    )
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in ivs:
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total / 1000.0


def stage_totals(stages: list[dict]) -> dict:
    """Work summed over ``stages``."""
    return {
        "stages": len(stages),
        "stage_s": covered_s(stages),
        "task_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "task_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in stages) / 1e3,
        "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "failed_tasks": sum(s["numFailedTasks"] for s in stages),
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
        "output_records": sum(s["outputRecords"] for s in stages),
    }


@dataclass
class Span:
    name: str
    run_id: str
    start: float
    parent: int | None
    hwm_start: int
    end: float = 0.0
    hwm_end: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans of one traced run, kept in memory."""

    def __init__(self, run_id: str, stage_log: StageLog):
        self.run_id = run_id
        self.log = stage_log
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._thread = threading.get_ident()
        # the measured window's spans, [window, window_end), and the time
        # spent in the tracer's own status-store reads
        self.window = 0
        self.window_end: int | None = None
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        # only the benchmark's driver thread opens spans; a call made on
        # another thread (a streaming query's batch thread) runs untraced
        if threading.get_ident() != self._thread:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        t = time.perf_counter()
        sp = Span(name, self.run_id, 0.0, parent, self.log.hwm(), attrs=dict(attrs))
        self.overhead_s += time.perf_counter() - t
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            t = time.perf_counter()
            sp.hwm_end = self.log.hwm()
            self.overhead_s += time.perf_counter() - t

    def children(self, i: int) -> list[Span]:
        return [s for s in self.spans if s.parent == i]

    def self_s(self, i: int) -> float:
        """Span ``i``'s duration minus the time its children cover
        (children of one span run one after another)."""
        return self.spans[i].seconds - sum(c.seconds for c in self.children(i))

    def layer_self_s(self) -> dict[str, float]:
        """Self seconds per layer over the measured window's spans."""
        out: dict[str, float] = {}
        for i in range(self.window, self.window_end or len(self.spans)):
            sp = self.spans[i]
            layer = LAYER_OF.get(sp.name.rsplit(".", 1)[0], sp.name.rsplit(".", 1)[0])
            out[layer] = out.get(layer, 0.0) + self.self_s(i)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# span-name prefix -> the layer it is reported under
LAYER_OF = {
    "cli": "cli",
    "session": "session",
    "domain.synth": "domain.levels",
    "domain.levels": "domain.levels",
    "streaming.incremental": "streaming.incremental",
    "plans.catalog_ext": "plans.catalog_ext",
    "functions.similarity": "functions.similarity",
    "functions.text": "functions.similarity",
}


class _Wrapped:
    """A traced stand-in for a module function. It pickles as the
    original function (by module and name), so a wrapper captured in a
    Spark closure reaches the workers as the untraced function."""

    def __init__(self, fn, span_name: str, tracer: Tracer, module: str, attr: str, attrs_of=None):
        functools.update_wrapper(self, fn)
        self._fn, self._span, self._tracer = fn, span_name, tracer
        self._module, self._attr, self._attrs_of = module, attr, attrs_of

    def __call__(self, *args, **kwargs):
        attrs = self._attrs_of(*args, **kwargs) if self._attrs_of else {}
        with self._tracer.span(self._span, **attrs):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return (_original, (self._module, self._attr))


def _original(module: str, attr: str):
    fn = getattr(importlib.import_module(module), attr)
    return fn._fn if isinstance(fn, _Wrapped) else fn


PKG = "cosmoz_data_pipeline_spark"


@contextmanager
def instrument(tracer: Tracer, targets: list[tuple[str, str, str]], attrs_of: dict | None = None):
    """Wrap functions for the duration of the block.

    ``targets`` holds ``(module, attribute, span name)``; an attribute
    of ``"*"`` wraps every public function defined in that module, and
    the span name is then a prefix. ``attrs_of`` maps a span name to a
    function of the call's arguments that returns span attributes.
    """
    attrs_of = attrs_of or {}
    saved = []
    try:
        for module, attr, name in targets:
            mod = importlib.import_module(module)
            if attr == "*":
                picks = [
                    (a, f"{name}.{a}")
                    for a, f in vars(mod).items()
                    if inspect.isfunction(f) and not a.startswith("_") and f.__module__ == mod.__name__
                ]
            else:
                picks = [(attr, name)]
            for a, span_name in picks:
                fn = getattr(mod, a)
                saved.append((mod, a, fn))
                setattr(mod, a, _Wrapped(fn, span_name, tracer, module, a, attrs_of.get(span_name)))
        yield tracer
    finally:
        for mod, a, fn in reversed(saved):
            setattr(mod, a, fn)
