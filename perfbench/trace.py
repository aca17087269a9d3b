"""Span tracing for the benchmark's traced pass, recorded from outside
the engine: each layer's public functions are swapped for recorders at
every module global that binds them (so ``bronze.ingest_csv`` is
patched where bronze looks it up, and ``sizing.input_bytes`` where
``gated_broadcast`` looks it up), and restored afterwards.

A span is (name, start, end, parent). Self time is the span's duration
minus its children's. Every span also sets a Spark job group, so after
the pass (once the listener bus has drained) each job, and the stages
it ran, is attributed to the innermost span that submitted it.

A noop-sink write (``Tracer.noop_write``) optimizes and plans its query
inside the write. A ``QueryExecutionListener`` (a py4j callback) reads
that write's own optimization and planning phases, and the time is hung
under the write's span as a ``query.plan`` child, so the traced pass does
no planning the untraced pass does not.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import sys
import time
from dataclasses import dataclass, field

PKG = "grocery_store_sales_forecasting_etl_pipeline_spark"

# layer -> (module, public functions to wrap; None = every public
# function the module defines)
LAYERS: dict[str, tuple[str, tuple[str, ...] | None]] = {
    "operators.dedup": ("operators.dedup", None),
    "operators.similarity": ("operators.similarity", None),
    "operators.graph": ("operators.graph", None),
    "ml.forecast": ("ml.forecast", None),
    "sources.csv_ingest": ("sources.csv_ingest", None),
    "pipeline.bronze": ("pipeline.bronze", None),
    "sources.maintenance": ("sources.maintenance", None),
    "pipeline.silver": ("pipeline.silver", None),
    "pipeline.gold": ("pipeline.gold", None),
    "pipeline.orchestrator": ("pipeline.orchestrator", ("run_quality_gates",)),
    "sources.catalog": ("sources.catalog", ("bootstrap",)),
    "operators.sizing": ("operators.sizing", ("input_bytes",)),
}

_GROUP_PREFIX = "perfbench-span-"
_PLAN_PHASES = ("optimization", "planning")


class PlanningListener:
    """Optimization + planning seconds of each noop-sink write, in the
    order the writes ran (Spark calls back on its listener bus)."""

    def __init__(self) -> None:
        self.plan_s: list[float] = []

    def onSuccess(self, func_name, qe, duration_ns) -> None:  # noqa: N802 — Java interface
        plan = qe.logical()
        if plan.nodeName() != "OverwriteByExpression" or plan.table().name() != "noop-table":
            return
        phases = qe.tracker().phases()
        ms = sum(phases.apply(p).durationMs() for p in _PLAN_PHASES if phases.contains(p))
        self.plan_s.append(ms / 1000)

    def onFailure(self, func_name, qe, exception) -> None:  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    t0: float
    t1: float = 0.0
    fn: str = ""
    args: tuple = ()
    failed: bool = False
    result: object = None
    children_s: float = 0.0
    jobs: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


class Tracer:
    """In-memory span recorder for one traced pass."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._session = spark._jsparkSession
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []
        self._listener = PlanningListener()
        self._writes: list[tuple[Span, bool]] = []

    # -- spans -------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        """Record one span; Spark jobs submitted inside carry its group."""
        parent = self._stack[-1] if self._stack else None
        span = Span(next(self._ids), name, parent.sid if parent else None, time.perf_counter())
        self._stack.append(span)
        self.sc.setJobGroup(f"{_GROUP_PREFIX}{span.sid}", name, False)
        try:
            yield span
        except BaseException:
            span.failed = True
            raise
        finally:
            span.t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append(span)
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                parent.children_s += span.dur
                self.sc.setJobGroup(f"{_GROUP_PREFIX}{parent.sid}", parent.name, False)

    def call(self, name: str, fn, *args, **kwargs):
        with self.span(name) as span:
            span.fn, span.args = fn.__name__, args
            span.result = fn(*args, **kwargs)
            return span.result

    def noop_write(self, name: str, df, split_plan: bool = True) -> None:
        """Force ``df`` into the noop sink inside span ``name``; with
        ``split_plan`` the write's planning becomes a ``query.plan`` child
        once ``attribute_jobs`` has drained the listener bus."""
        with self.span(name) as span:
            df.write.format("noop").mode("overwrite").save()
        self._writes.append((span, split_plan))

    # -- module patching -----------------------------------------------------
    def _wrapper(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return tracer.call(layer, fn, *args, **kwargs)

        return traced

    def install(self) -> None:
        """Register the planning listener and wrap every layer's public
        functions at each module global of the package that binds them."""
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.sc._gateway)
        self._session.listenerManager().register(self._listener)
        targets: dict[int, tuple[str, object]] = {}
        for layer, (mod_name, names) in LAYERS.items():
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            for attr, obj in vars(mod).items():
                if attr.startswith("_") or not inspect.isfunction(obj):
                    continue
                if obj.__module__ != mod.__name__ or (names is not None and attr not in names):
                    continue
                targets[id(obj)] = (layer, obj)
        wrappers = {k: self._wrapper(layer, fn) for k, (layer, fn) in targets.items()}
        for mod in [m for n, m in sys.modules.items() if n.startswith(PKG) and m is not None]:
            for attr, obj in list(vars(mod).items()):
                w = wrappers.get(id(obj))
                if w is not None and targets[id(obj)][1] is obj:
                    self._patched.append((mod, attr, obj))
                    setattr(mod, attr, w)

    def uninstall(self) -> None:
        for mod, attr, obj in reversed(self._patched):
            setattr(mod, attr, obj)
        self._patched.clear()
        # the last write's callback may still be queued on the bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        self._session.listenerManager().unregister(self._listener)

    def _split_planning(self) -> None:
        if len(self._listener.plan_s) != len(self._writes):
            raise RuntimeError(
                f"{len(self._listener.plan_s)} noop-write callbacks for {len(self._writes)} writes"
            )
        for (write, split), plan_s in zip(self._writes, self._listener.plan_s):
            if split:
                plan = Span(next(self._ids), "query.plan", write.sid, write.t0, write.t0 + plan_s)
                write.children_s += plan_s
                self.spans.append(plan)

    # -- Spark status store ----------------------------------------------------
    def attribute_jobs(self) -> list[dict]:
        """Read every job of the traced spans from the status store (after
        the listener bus drains) and hang it, with the stages it ran, on
        the span whose group submitted it. Returns the stage records."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        self._split_planning()
        store = jsc.statusStore()
        by_sid = {s.sid: s for s in self.spans}
        jobs = store.jobsList(None)
        seen: set[int] = set()
        stages: list[dict] = []
        rows = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            group = j.jobGroup()
            if not group.isDefined() or not str(group.get()).startswith(_GROUP_PREFIX):
                continue
            rows.append((j.jobId(), int(str(group.get())[len(_GROUP_PREFIX):]), j))
        for job_id, sid, j in sorted(rows, key=lambda r: r[0]):
            span = by_sid.get(sid)
            if span is None:
                continue
            span.jobs.append(job_id)
            ids = [int(x) for x in str(j.stageIds().mkString(",")).split(",") if x]
            for stage_id in sorted(ids):
                if stage_id in seen:
                    continue
                seen.add(stage_id)
                try:
                    st = store.lastStageAttempt(stage_id)
                except Exception:  # noqa: BLE001 — evicted from the store
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                stages.append(
                    {
                        "span": sid,
                        "tasks": st.numCompleteTasks(),
                        "task_ms": st.executorRunTime(),
                        "gc_ms": st.jvmGcTime(),
                        "shuffle_read": st.shuffleReadBytes(),
                        "shuffle_write": st.shuffleWriteBytes(),
                        "fetch_wait_ms": st.shuffleFetchWaitTime(),
                        "spill": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                    }
                )
        return stages
