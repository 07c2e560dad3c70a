"""Per-layer tracing from outside the engine.

The engine has no tracing of its own, so the benchmark wraps the public
functions of each engine module in spans.  A span records its layer, its
start and end, and its parent; a layer's self time is its spans' time
minus the time of their child spans.  Every span also runs its Spark jobs
under a job group of its own, so the jobs, stages and tasks each layer
launches are counted where they happen, including the actions a query
runs while it is being built (graph-loop probes, streaming drains).

Layers (one per engine module boundary):

- ``sources``: ``sources.load_table``;
- ``queries``: a registry query function, i.e. driver build;
- ``operators.graph``, ``operators.dedup``, ``operators.similarity``;
- ``catalyst``: analysis, optimization and physical planning of the built
  plan, read from ``queryExecution().tracker()``;
- ``execution``: running the built plan through the same QueryExecution;
- ``plans``, ``sinks``, ``enrichment``, ``streaming``: the pipeline,
  storage, enrichment-stage and streaming-job modules.

Wrappers are installed on the engine's modules before the query registry
is imported, because query modules bind names such as ``load_table`` at
import time; :func:`install` then also rebinds every remaining reference
in the engine's modules.  A wrapper looks its tracer up at call time and
calls straight through when there is none, so a wrapped function that is
shipped to a Python worker runs unchanged there.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

PKG = "data_etl_scripts_showcase__spark"

# Engine module -> (layer its public functions are attributed to, the only
# names wrapped there or None for all).  The named subsets leave out
# functions that run inside Python workers or are tiny helpers.
WRAPPED = {
    f"{PKG}.sources.tables": ("sources", {"load_table"}),
    f"{PKG}.operators.graph": ("operators.graph", None),
    f"{PKG}.operators.dedup": ("operators.dedup", None),
    f"{PKG}.operators.similarity": ("operators.similarity", None),
    f"{PKG}.plans.pipelines": ("plans", None),
    f"{PKG}.sinks.snapshot": ("sinks", None),
    f"{PKG}.sinks.retention": ("sinks", None),
    f"{PKG}.sinks.quality": ("sinks", {"reconcile", "upsert_run_metrics"}),
    f"{PKG}.sinks.bucketed": ("sinks", None),
    f"{PKG}.sources.files": ("sinks", {"write_csv", "write_json_archive"}),
    f"{PKG}.enrichment.stage": ("enrichment", {"enrich", "enrich_with_retry"}),
    f"{PKG}.streaming.jobs": ("streaming", None),
}

MB = 1024 * 1024


@dataclass
class Span:
    layer: str
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


def layer_metrics(spans: list[Span]) -> dict[str, float]:
    """Per-layer values of one operation's span tree.

    - ``<layer>.self_s``: the layer's spans minus the time of their children;
    - ``<layer>.incl_s``: time inside the layer's outermost spans;
    - ``<layer>.calls``/``jobs``/``stages``/``tasks``/``failed_tasks``: per span
      and for the jobs run while that span was the innermost one;
    - ``queries.build_*``: the query-build subtree without the ``sources``
      spans inside it (driver build excluding table loads).
    """
    child = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.dur
    out: dict[str, float] = defaultdict(float)
    for i, s in enumerate(spans):
        above = set()
        p = s.parent
        while p is not None:
            above.add(spans[p].layer)
            p = spans[p].parent
        self_s = s.dur - child[i]
        out[f"{s.layer}.self_s"] += self_s
        if s.layer not in above:
            out[f"{s.layer}.incl_s"] += s.dur
        for k in ("calls", "jobs", "stages", "tasks", "failed_tasks"):
            out[f"{s.layer}.{k}"] += 1 if k == "calls" else getattr(s, k)
        in_build = s.layer == "queries" or "queries" in above
        if in_build and s.layer != "sources" and "sources" not in above:
            out["queries.build_s"] += self_s
            out["queries.build_jobs"] += s.jobs
            out["queries.build_stages"] += s.stages
            out["queries.build_tasks"] += s.tasks
    return dict(out)


@dataclass
class Tracer:
    """Spans and counters of the current operation."""

    sc: object  # pyspark SparkContext
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    stack: list[int] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    streams: list = field(default_factory=list)
    seq: int = 0

    def open(self, layer: str, name: str) -> int:
        self.seq += 1
        parent = self.stack[-1] if self.stack else None
        span = Span(layer, name, parent, time.perf_counter(), group=f"pb{self.seq}")
        self.spans.append(span)
        self.stack.append(len(self.spans) - 1)
        self.sc.setLocalProperty("spark.jobGroup.id", span.group)
        return len(self.spans) - 1

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self.stack.pop()
        parent = self.spans[self.stack[-1]].group if self.stack else None
        self.sc.setLocalProperty("spark.jobGroup.id", parent)

    def span(self, layer: str, name: str = ""):
        return _SpanCtx(self, layer, name)

    def count(self, key: str, n: float = 1) -> None:
        self.counts[key] += n

    def begin_op(self) -> None:
        self.spans, self.stack, self.streams = [], [], []
        self.counts = defaultdict(float)

    def end_op(self) -> dict[str, float]:
        """This operation's per-layer values, with the Spark job, stage
        and task counts of every span read from the status tracker."""
        _wait_listener_bus(self.sc)
        tracker = self.sc.statusTracker()
        exec_stages: list[int] = []
        for s in self.spans:
            jobs = tracker.getJobIdsForGroup(s.group)
            s.jobs = len(jobs)
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info is not None else ():
                    st = tracker.getStageInfo(sid)
                    if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                        continue  # skipped: its shuffle output was reused
                    s.stages += 1
                    s.tasks += st.numCompletedTasks + st.numFailedTasks
                    s.failed_tasks += st.numFailedTasks
                    if s.layer == "execution":
                        exec_stages.append(sid)
        op = defaultdict(float, layer_metrics(self.spans))
        for k, v in self.counts.items():
            op[k] += v
        for k, v in stage_bytes(self.sc, exec_stages).items():
            op[k] += v
        for q in self.streams:
            progress = q.lastProgress
            if progress:
                op["streaming.batches"] += progress["batchId"] + 1
        return dict(op)


class _SpanCtx:
    __slots__ = ("tracer", "layer", "name", "idx")

    def __init__(self, tracer: Tracer, layer: str, name: str):
        self.tracer, self.layer, self.name = tracer, layer, name

    def __enter__(self):
        self.idx = self.tracer.open(self.layer, self.name)
        return self

    def __exit__(self, *exc):
        self.tracer.close(self.idx)
        return False


def _wait_listener_bus(sc) -> None:
    """Job, stage and executor totals are updated by Spark's listener bus
    after an action returns; drain it before reading them."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def stage_bytes(sc, stage_ids: list[int]) -> dict[str, float]:
    """Shuffle and spill bytes of the given stages, in MiB."""
    store = sc._jsc.sc().statusStore()
    empty = sc._jvm.java.util.ArrayList()
    no_q = sc._gateway.new_array(sc._jvm.double, 0)
    out = {"execution.shuffle_write_mb": 0.0, "execution.shuffle_read_mb": 0.0,
           "execution.spill_mb": 0.0}
    for sid in stage_ids:
        attempts = store.stageData(sid, False, empty, False, no_q)
        for i in range(attempts.size()):
            sd = attempts.apply(i)
            out["execution.shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
            out["execution.shuffle_read_mb"] += sd.shuffleReadBytes() / MB
            out["execution.spill_mb"] += sd.diskBytesSpilled() / MB
    return out


def executor_totals(sc) -> tuple[float, float]:
    """(task seconds, GC seconds) summed over executors since start."""
    _wait_listener_bus(sc)
    execs = sc._jsc.sc().statusStore().executorList(True)
    task_ms = gc_ms = 0
    for i in range(execs.size()):
        e = execs.apply(i)
        task_ms += e.totalDuration()
        gc_ms += e.totalGCTime()
    return task_ms / 1000.0, gc_ms / 1000.0


def catalyst_phases(qe) -> dict[str, float]:
    """Analysis, optimization and planning seconds of a JVM QueryExecution;
    forces physical planning if it has not happened yet."""
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        p = phases.get(phase)
        out[f"catalyst.{phase}_s"] = p.get().durationMs() / 1000.0 if p.isDefined() else 0.0
    return out


# -- wrappers ----------------------------------------------------------------
_TRACER_ATTR = "_perfbench_tracer"


def current() -> Tracer | None:
    """The installed tracer.  Looked up through ``sys.modules``, not a module
    global: a wrapper pickled by value into a Python worker then does not
    carry the tracer and its SparkContext with it."""
    mod = sys.modules.get(__name__)
    return getattr(mod, _TRACER_ATTR, None) if mod is not None else None


def _wrap(fn, layer: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        tracer = current()
        if tracer is None or not tracer.enabled:
            return fn(*args, **kwargs)
        with tracer.span(layer, fn.__name__):
            return fn(*args, **kwargs)

    return traced


def install(tracer: Tracer) -> dict[object, object]:
    """Wrap the engine modules' public functions; return original->wrapper.

    Call before ``queries.load_all()``; call :func:`rebind` after it.
    """
    setattr(sys.modules[__name__], _TRACER_ATTR, tracer)
    ckpt = importlib.import_module(f"{PKG}.ckpt")
    original_ckpt = ckpt.ckpt

    def counted_ckpt(*args, **kwargs):
        t = current()
        if t is not None and t.enabled:
            t.count("ckpt.segments")
        return original_ckpt(*args, **kwargs)

    swaps = {original_ckpt: counted_ckpt}
    ckpt.ckpt = counted_ckpt
    for modname, (layer, only) in WRAPPED.items():
        mod = importlib.import_module(modname)
        for name, fn in list(vars(mod).items()):
            if not inspect.isfunction(fn) or fn.__module__ != modname:
                continue
            if name.startswith("_") or (only is not None and name not in only):
                continue
            wrapped = _wrap(fn, layer)
            setattr(mod, name, wrapped)
            swaps[fn] = wrapped
    _watch_streams()
    rebind(swaps)
    return swaps


def rebind(swaps: dict[object, object]) -> None:
    """Point every engine-module reference to a wrapped function at its
    wrapper (``from x import f`` copies made before the wrap)."""
    for modname, mod in list(sys.modules.items()):
        if mod is None or not (modname == PKG or modname.startswith(PKG + ".")):
            continue
        for name, val in list(vars(mod).items()):
            try:
                new = swaps.get(val)
            except TypeError:  # unhashable module attribute
                continue
            if new is not None and new is not val:
                setattr(mod, name, new)


def _watch_streams() -> None:
    """Record every streaming query started while tracing, to read its
    micro-batch count when the operation ends."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    start = DataStreamWriter.start
    if getattr(start, "__perfbench_original__", None) is not None:
        return

    @functools.wraps(start)
    def watched(self, *args, **kwargs):
        q = start(self, *args, **kwargs)
        t = current()
        if t is not None and t.enabled:
            t.streams.append(q)
        return q

    watched.__perfbench_original__ = start
    DataStreamWriter.start = watched
