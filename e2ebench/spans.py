"""Per-layer tracing for the end-to-end benchmark, recorded from outside
the package.

:class:`Tracer` wraps the public functions of each layer module (and
``DataFrameReader.parquet``, which the package calls directly at ~30
sites) so that every call records a span: layer, start, end and the
enclosing span. Each span also sets its own Spark job group, so every
job the op launches is attributed to the innermost span that was open
when it was submitted. After the op, outside its timed region, the
tracer reads Spark's status store for the op's jobs, stages and SQL
executions and folds everything into one flat record per op.

Wrappers are installed once and switched on per op, so untraced ops
in the same process run through a single flag check.
"""

from __future__ import annotations

import functools
import inspect
import re
import sys
import time
from collections import defaultdict

PKG = "udacity_data_engineering_capstone_project_spark"

#: layer name -> (module, public functions to wrap; None = all public
#: functions defined in the module)
LAYERS = {
    "readers": (f"{PKG}.sources.readers", ["read_table", "read_csv"]),
    "writers": (f"{PKG}.sources.writers", None),
    **{
        f"operators.{m}": (f"{PKG}.operators.{m}", None)
        for m in ("dedup", "similarity", "textops", "aggregates", "joins", "windows")
    },
}
OPERATOR_LAYERS = [k for k in LAYERS if k.startswith("operators.")]

_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_SIZE_RE = re.compile(r"([0-9]+(?:\.[0-9]+)?) (B|KiB|MiB|GiB|TiB)")


def parse_size(text: str) -> float:
    """Bytes in a Spark SQL size-metric string: either ``"4.1 MiB"`` or
    the per-task form ``"total (min, med, max ...)\\n4.1 MiB (...)"``,
    whose first size after the newline is the total."""
    body = text.split("\n", 1)[-1]
    m = _SIZE_RE.search(body)
    return float(m.group(1)) * _SIZE_UNITS[m.group(2)] if m else 0.0


class Span:
    __slots__ = ("layer", "parent", "start", "end", "child_s", "group")

    def __init__(self, layer, parent, group):
        self.layer, self.parent, self.group = layer, parent, group
        self.start, self.end, self.child_s = time.perf_counter(), None, 0.0


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._jvm = self.sc._jvm
        self.active = False
        self._op = None
        self._stack: list[Span] = []
        self._spans: list[Span] = []
        self._collects = [0, 0]
        self._collect_depth = 0
        self._write_paths: list[str] = []

    # ---- wrapping -------------------------------------------------

    def install(self) -> None:
        """Wrap every traced function in place, and rebind each name
        that another loaded package module imported with ``from``."""
        import importlib

        from pyspark import RDD
        from pyspark.sql.readwriter import DataFrameReader

        replaced = {}
        for layer, (modname, names) in LAYERS.items():
            mod = importlib.import_module(modname)
            for name in names or [
                n for n, f in vars(mod).items()
                if not n.startswith("_") and inspect.isfunction(f) and f.__module__ == modname
            ]:
                orig = getattr(mod, name)
                wrapped = self._wrap(layer, orig, record_path=layer == "writers")
                replaced[id(orig)] = wrapped
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(PKG):
                continue
            for name, val in list(vars(mod).items()):
                if id(val) in replaced:
                    setattr(mod, name, replaced[id(val)])
        DataFrameReader.parquet = self._wrap("readers", DataFrameReader.parquet)
        # the session's concrete DataFrame class overrides the base
        # class's collect, so patch the class its frames actually have
        frame = type(self.spark.range(0))
        for cls, meth in ((frame, "collect"), (frame, "toPandas"), (RDD, "collect")):
            setattr(cls, meth, self._wrap_collect(getattr(cls, meth)))

    def _wrap(self, layer, fn, record_path=False):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            top = tracer._stack[-1] if tracer._stack else None
            if top is not None and top.layer == layer:
                return fn(*args, **kwargs)  # same-layer nesting is one call
            if record_path and len(args) > 1 and isinstance(args[1], str):
                tracer._write_paths.append(args[1])
            span = tracer._push(layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._pop(span)

        return traced

    def _wrap_collect(self, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active or tracer._collect_depth:
                return fn(*args, **kwargs)
            tracer._collect_depth += 1
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._collect_depth -= 1
            tracer._collects[0] += 1
            tracer._collects[1] += len(out)
            return out

        return traced

    # ---- spans ----------------------------------------------------

    def _push(self, layer) -> Span:
        parent = self._stack[-1] if self._stack else None
        span = Span(layer, parent, f"e2e-{self._op}-{len(self._spans)}")
        self._spans.append(span)
        self._stack.append(span)
        self.sc.setJobGroup(span.group, layer)
        return span

    def _pop(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        if span.parent is not None:
            span.parent.child_s += span.end - span.start
            self.sc.setJobGroup(span.parent.group, span.parent.layer)

    def begin_op(self, op_id: int) -> None:
        """Open the op's root span; every job until :meth:`end_op`
        falls into one of its spans' job groups."""
        self._op = op_id
        self._drain()
        self._spans, self._stack = [], []
        self._collects = [0, 0]
        self._write_paths = []
        self._exec_mark = self._max_execution_id()
        self._gc0 = self._gc_ms()
        self.active = True
        self._push("op")

    def span(self, layer):
        """Context manager for a span the benchmark opens itself:
        ``plans.build`` (the registry query function or ``run_pipeline``)
        and ``plans.quality`` (the quality report collect)."""
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.s = tracer._push(layer)

            def __exit__(self, *exc):
                tracer._pop(self.s)

        return _Ctx()

    def end_op(self) -> None:
        self._pop(self._stack[0])
        self.active = False
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    # ---- status store --------------------------------------------

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)

    def _gc_ms(self) -> int:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))

    def _max_execution_id(self) -> int:
        execs = self._sql_store.executionsList()
        return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)

    def _sql_bytes(self) -> dict:
        """Broadcast and Python-worker bytes over the op's SQL
        executions (execution ids grow monotonically; one client)."""
        out = defaultdict(float)
        execs = self._sql_store.executionsList()
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            if eid <= self._exec_mark:
                continue
            values = self._sql_store.executionMetrics(eid)
            nodes = self._sql_store.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                metrics = node.metrics()
                for q in range(metrics.size()):
                    m = metrics.apply(q)
                    name = m.name()
                    if name == "data size" and node.name().startswith("BroadcastExchange"):
                        key = "broadcast"
                    elif name == "data sent to Python workers":
                        key = "py_sent"
                    elif name == "data returned from Python workers":
                        key = "py_received"
                    else:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out[key] += parse_size(v.get())
        return out

    def op_record(self, wall_s: float, cores: int) -> dict:
        """Fold the op's spans and Spark status into one flat record.
        The status store is fed by the asynchronous listener bus, so
        the bus is drained first: until then a finished job's skipped
        stages still read as pending."""
        self._drain()
        root = self._spans[0]
        t0_ms = int((time.time() - (time.perf_counter() - root.start)) * 1000)
        t1_ms = t0_ms + int(wall_s * 1000)
        tracker = self.sc.statusTracker()
        rec = defaultdict(float)
        intervals = []
        stages_seen = set()
        for span in self._spans:
            for job_id in tracker.getJobIdsForGroup(span.group):
                jd = self._store.job(job_id)
                rec["spark.jobs"] += 1
                # operators own the jobs submitted in their self time;
                # readers, writers and the plans.build span count every job
                # submitted inside them
                if span.layer.startswith("operators."):
                    rec[f"{span.layer}.jobs"] += 1
                enclosing, a = set(), span
                while a is not None:
                    enclosing.add(a.layer)
                    a = a.parent
                for layer in enclosing & {"readers", "writers"}:
                    rec[f"{layer}.jobs"] += 1
                if "plans.build" in enclosing:
                    rec["plans.build_jobs"] += 1
                sub, comp = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and comp.isDefined():
                    intervals.append((sub.get().getTime(), comp.get().getTime()))
                sids = jd.stageIds()
                for k in range(sids.size()):
                    sid = sids.apply(k)
                    if sid in stages_seen:
                        continue
                    stages_seen.add(sid)
                    sd = self._store.lastStageAttempt(sid)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    rec["spark.stages"] += 1
                    rec["spark.tasks"] += sd.numTasks()
                    rec["spark.failed_tasks"] += sd.numFailedTasks()
                    rec["spark.executor_run_s"] += sd.executorRunTime() / 1e3
                    rec["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    rec["spark.shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
                    rec["spark.shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                    rec["spark.spill_mb"] += (
                        sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    ) / 2**20
        busy_ms = 0
        end = t0_ms
        for a, b in sorted(intervals):
            a, b = max(a, end), min(b, t1_ms)
            if b > a:
                busy_ms += b - a
                end = b
        rec["spark.outside_jobs_s"] = max(0.0, wall_s - busy_ms / 1e3)
        rec["spark.executor_busy_share"] = rec["spark.executor_run_s"] / (wall_s * cores)
        for span in self._spans[1:]:
            dur = span.end - span.start
            if span.layer in ("readers", "writers"):
                rec[f"{span.layer}.calls"] += 1
                rec[f"{span.layer}.s"] += dur
            elif span.layer.startswith("operators."):
                rec[f"{span.layer}.calls"] += 1
                rec[f"{span.layer}.self_s"] += dur - span.child_s
            elif span.layer.startswith("plans."):
                rec[f"{span.layer}_s"] += dur
        sizes = self._sql_bytes()
        rec["spark.broadcast_mb"] = sizes["broadcast"] / 2**20
        rec["python.data_sent_mb"] = sizes["py_sent"] / 2**20
        rec["python.data_received_mb"] = sizes["py_received"] / 2**20
        rec["driver.collects"], rec["driver.collect_rows"] = self._collects
        rec["jvm.gc_s"] = (self._gc_ms() - self._gc0) / 1e3
        rec["writers.paths"] = list(self._write_paths)
        return dict(rec)

    # ---- per-run JVM state ----------------------------------------

    def heap_peak_mb(self) -> float:
        mf = self._jvm.java.lang.management.ManagementFactory
        pools = mf.getMemoryPoolMXBeans()
        heap = self._jvm.java.lang.management.MemoryType.HEAP
        return sum(
            pools.get(i).getPeakUsage().getUsed()
            for i in range(pools.size())
            if pools.get(i).getType() == heap
        ) / 2**20


def resident_storage(spark) -> tuple[int, float]:
    """(RDDs still cached, their MB in memory and on disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos) / 2**20
