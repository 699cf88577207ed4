"""Tracing for the per-layer run: spans around calls into the program's
modules, and Spark's per-operator SQL metrics read from the SQL status
store (which is kept with the UI off).

A span is ``[name, start, end, parent, op]``; spans live in memory and
are written out once, when the run ends. Self time is a span's duration
minus its children's. Tracing is off for the end-to-end run: the
workloads then receive ``NULL_TRACER``, whose ``span`` is a shared
no-op context manager.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import re
import sys
import time

# layer -> program modules whose public functions get a span
LAYERS = {
    "sources": ("optimizing_spark.sources.derived", "optimizing_spark.sources.datagen"),
    "functions": ("optimizing_spark.functions.cells", "optimizing_spark.functions.geocode",
                  "optimizing_spark.functions.geometry"),
    "operators": ("optimizing_spark.operators.joins", "optimizing_spark.operators.tiling",
                  "optimizing_spark.operators.raster"),
    "plans": ("optimizing_spark.plans.pipeline", "optimizing_spark.plans.checkpoint",
              "optimizing_spark.plans.layout"),
}
# phases the workloads mark around each step of an operation
PHASES = ("build", "plan", "execute", "resume")


class NullTracer:
    enabled = False
    _null = contextlib.nullcontext()

    def span(self, name: str):
        return self._null


NULL_TRACER = NullTracer()


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op = -1

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        rec = [name, time.perf_counter(), None, parent, self.op]
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def self_times(self, op: int) -> list[tuple[str, float, str | None]]:
        """(name, self seconds, enclosing phase) for each span of op."""
        ids = [i for i, s in enumerate(self.spans) if s[4] == op]
        child = {i: 0.0 for i in ids}
        for i in ids:
            p = self.spans[i][3]
            if p in child:
                child[p] += self.spans[i][2] - self.spans[i][1]
        out = []
        for i in ids:
            name, t0, t1, _, _ = self.spans[i]
            out.append((name, t1 - t0 - child[i], self._phase(i)))
        return out

    def _phase(self, i: int) -> str | None:
        while i >= 0:
            name = self.spans[i][0]
            if name in PHASES:
                return name
            i = self.spans[i][3]
        return None

    def durations(self, op: int, name: str) -> float:
        return sum(s[2] - s[1] for s in self.spans if s[4] == op and s[0] == name)


def instrument(tracer: Tracer):
    """Wrap every public function of the LAYERS modules in a span named
    ``<layer>:<module>.<function>``, also where another module imported
    it by name. Returns a function that restores the originals."""
    wrapped: dict[int, object] = {}
    for layer, mods in LAYERS.items():
        for modname in mods:
            mod = importlib.import_module(modname)
            short = modname.rsplit(".", 1)[1]
            for name, fn in vars(mod).items():
                if (name.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != modname):
                    continue
                wrapped[id(fn)] = _wrap(tracer, f"{layer}:{short}.{name}", fn)
    undo = []
    for modname, mod in list(sys.modules.items()):
        if not (modname.startswith("optimizing_spark") or modname == "__spark_entry__"):
            continue
        for name, val in list(vars(mod).items()):
            if inspect.isfunction(val) and id(val) in wrapped:
                setattr(mod, name, wrapped[id(val)])
                undo.append((mod, name, val))

    def restore() -> None:
        for mod, name, val in undo:
            setattr(mod, name, val)
    return restore


def _wrap(tracer: Tracer, span_name: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(span_name):
            return fn(*args, **kwargs)
    return traced


# ---------------------------------------------------------------------------
# SQL metrics from the status store
# ---------------------------------------------------------------------------

_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1.0,
          "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30, "TiB": 2.0 ** 40,
          "PiB": 2.0 ** 50, "EiB": 2.0 ** 60}
_VALUE = re.compile(r"(-?[\d.,]+)\s*(ns|ms|s|m|h|B|KiB|MiB|GiB|TiB|PiB|EiB)?")


def _num(text: str) -> float:
    m = _VALUE.match(text.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def parse_metric(text: str) -> tuple[float, tuple[float, float, float] | None]:
    """Spark's formatted metric -> (total, (min, med, max) or None).
    Multi-task metrics read 'total (min, med, max (stageId: taskId))' on
    the first line and the values on the second."""
    line = text.strip().splitlines()[-1]
    if "(" not in line:
        return _num(line), None
    total, rest = line.split("(", 1)
    parts = [p for p in rest.split(",")]
    if len(parts) < 3:
        return _num(total), None
    return _num(total), (_num(parts[0]), _num(parts[1]), _num(parts[2].split("(")[0]))


# (node-name test, metric name) -> summary key
_NODE_METRICS = (
    (lambda n: n.startswith("Scan"), "number of output rows", "scan.rows"),
    (lambda n: n.startswith("Scan"), "size of files read", "scan.bytes"),
    (lambda n: n.startswith("Scan"), "scan time", "scan.time_s"),
    (lambda n: n.startswith("Scan"), "number of files read", "scan.files"),
    (lambda n: n == "Exchange", "shuffle bytes written", "exchange.shuffle_bytes"),
    (lambda n: n == "Exchange", "shuffle records written", "exchange.shuffle_records"),
    (lambda n: n == "Exchange", "fetch wait time", "exchange.fetch_wait_s"),
    (lambda n: n == "BroadcastExchange", "data size", "broadcast.bytes"),
    (lambda n: n == "BroadcastExchange", "time to collect", "broadcast.collect_s"),
    (lambda n: "Join" in n or n == "CartesianProduct", "number of output rows", "join.rows_out"),
    (lambda n: "Aggregate" in n, "time in aggregation build", "aggregate.time_s"),
    (lambda n: n == "Sort", "sort time", "sort.time_s"),
    (lambda n: True, "spill size", "spill_bytes"),
)
EXEC_KEYS = tuple(dict.fromkeys(key for _, _, key in _NODE_METRICS))


class SqlMetrics:
    """Reads each finished SQL execution's operator metrics once."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._seen = self._max_id()

    def _max_id(self) -> int:
        it = self._store.executionsList().iterator()
        last = -1
        while it.hasNext():
            last = max(last, it.next().executionId())
        return last

    def drain(self) -> list[dict]:
        """Summaries of the executions finished since the last drain."""
        self._sc.listenerBus().waitUntilEmpty(10_000)
        out = []
        it = self._store.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            eid = ex.executionId()
            if eid > self._seen:
                out.append(self._summary(ex))
        if out:
            self._seen = max(s["id"] for s in out)
        return out

    def _summary(self, ex) -> dict:
        eid = ex.executionId()
        values = self._store.executionMetrics(eid)
        s = {k: 0.0 for k in EXEC_KEYS}
        s["id"] = eid
        done = ex.completionTime()
        s["duration_s"] = ((done.get().getTime() - ex.submissionTime()) / 1000.0
                           if done.isDefined() else 0.0)
        s["task_skew"] = 1.0
        s["description"] = ex.description()
        names = []
        nodes = self._store.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            name = node.name()
            names.append(name)
            ms = node.metrics().iterator()
            while ms.hasNext():
                m = ms.next()
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                total, spread = parse_metric(v.get())
                for test, metric, key in _NODE_METRICS:
                    if m.name() == metric and test(name):
                        s[key] += total
                if (name.startswith("WholeStageCodegen") and m.name() == "duration"
                        and spread and spread[1] > 0):
                    s["task_skew"] = max(s["task_skew"], spread[2] / spread[1])
        s["is_file_write"] = any("InsertIntoHadoopFsRelation" in n for n in names)
        s["is_noop_write"] = any(n.startswith("OverwriteByExpression") for n in names)
        return s


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def _heap_pools(spark):
    mf = spark._jvm.java.lang.management.ManagementFactory
    heap = spark._jvm.java.lang.management.MemoryType.HEAP
    return [p for p in mf.getMemoryPoolMXBeans() if p.getType().equals(heap)]


def reset_heap_peak(spark) -> None:
    for p in _heap_pools(spark):
        p.resetPeakUsage()


def heap_peak_mb(spark) -> float:
    return sum(p.getPeakUsage().getUsed() for p in _heap_pools(spark)) / 2 ** 20
