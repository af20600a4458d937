"""Tracing for the traced run (``--trace 1``).

Spans are recorded by the benchmark around calls into the engine's layers:
the public functions of ``sources`` and ``operators.{dedup,similarity,text}``
are swapped for timing stand-ins for the timed phase only, and the sink
objects handed to ``Pipeline.run_stream`` are wrapped. Spark-side numbers
come from Spark's own status stores (jobs, stages, SQL metrics) and from
``StreamingQueryProgress``. Spans stay in memory and are written once, at
exit.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import re
import sys
import threading
import time
from contextlib import contextmanager

OPERATOR_MODULES = ("dedup", "similarity", "text")


class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent, group):
    ``parent`` indexes the enclosing span on the same thread (or is None) and
    every span of one query execution or micro-batch shares ``group``."""

    def __init__(self):
        self.spans: list[list] = []
        self.overhead_s = 0.0  # the tracer's own bookkeeping time
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, group=None):
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        if group is None and parent is not None:
            group = self.spans[parent][4]
        with self._lock:
            idx = len(self.spans)
            self.spans.append([name, 0.0, 0.0, parent, group])
        stack.append(idx)
        t1 = time.perf_counter()
        try:
            yield
        finally:
            t2 = time.perf_counter()
            stack.pop()
            self.spans[idx][1:3] = [t1, t2]
            self.charge((t1 - t0) + (time.perf_counter() - t2))

    def charge(self, seconds: float) -> None:
        """Add time the benchmark spent on tracing to ``overhead_s``."""
        with self._lock:
            self.overhead_s += seconds

    def add(self, name: str, start: float, end: float, group=None, parent=None) -> int:
        """Record a span whose times were measured elsewhere."""
        with self._lock:
            self.spans.append([name, start, end, parent, group])
            return len(self.spans) - 1

    def total(self, prefix: str, outermost: bool = False) -> tuple[int, float]:
        """(calls, seconds) over spans named ``prefix``*; with ``outermost``,
        spans nested inside another ``prefix`` span are skipped."""
        n, s = 0, 0.0
        for name, t0, t1, parent, _g in self.spans:
            if not name.startswith(prefix):
                continue
            if outermost and self._inside(parent, prefix):
                continue
            n += 1
            s += t1 - t0
        return n, s

    def _inside(self, idx, prefix: str) -> bool:
        while idx is not None:
            if self.spans[idx][0].startswith(prefix):
                return True
            idx = self.spans[idx][3]
        return False

    def self_times(self) -> dict[str, float]:
        """Self time per layer: span duration minus the part its children
        cover. An operator span counts to its module's layer
        (``operators.dedup.minhash_signatures`` to ``operators.dedup``)."""
        child = [0.0] * len(self.spans)
        for _n, t0, t1, parent, _g in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        out: dict[str, float] = {}
        for i, (name, t0, t1, _p, _g) in enumerate(self.spans):
            layer = layer_of(name)
            out[layer] = out.get(layer, 0.0) + max(0.0, (t1 - t0) - child[i])
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {"name": n, "start": a, "end": b, "parent": p, "group": g}
                        for n, a, b, p, g in self.spans
                    ],
                    "self_s": self.self_times(),
                    **extra,
                },
                f,
            )


def layer_of(name: str) -> str:
    parts = name.split(".")
    if parts[0] == "operators" and len(parts) > 2:
        return ".".join(parts[:2])
    return name


class _Timed:
    """Stand-in for a public engine function that records one span per call.

    Pickles as the plain function (``getattr(module, name)`` in the worker's
    untouched module), so a pandas-UDF closure that references the function
    still ships without the tracer."""

    def __init__(self, tracer: Tracer, span_name: str, module: str, name: str, fn):
        functools.update_wrapper(self, fn)
        self._tracer, self._span, self._module, self._name = tracer, span_name, module, name
        self._fn = fn

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._span):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return getattr, (importlib.import_module(self._module), self._name)


def install(tracer: Tracer) -> callable:
    """Swap the public functions of the source and operator layers for
    timing stand-ins in every loaded engine module; returns the undo."""
    targets: dict[int, tuple] = {}
    mods = [("kafka_map_reduce_spark.sources.tables", "sources", ("load_table",))]
    mods += [
        (f"kafka_map_reduce_spark.operators.{m}", f"operators.{m}", None)
        for m in OPERATOR_MODULES
    ]
    for modname, layer, only in mods:
        mod = importlib.import_module(modname)
        for name, fn in vars(mod).items():
            if name.startswith("_") or not inspect.isfunction(fn):
                continue
            if fn.__module__ != modname or (only and name not in only):
                continue
            targets[id(fn)] = (fn, _Timed(tracer, f"{layer}.{name}", modname, name, fn))
    undo = []
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith("kafka_map_reduce_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            hit = targets.get(id(val))
            if hit is not None and hit[0] is val:
                setattr(mod, attr, hit[1])
                undo.append((mod, attr, val))

    def restore():
        for mod, attr, val in undo:
            setattr(mod, attr, val)

    return restore


# ---------------------------------------------------------------------------
# Spark's own accounting
# ---------------------------------------------------------------------------

_UNIT_S = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_UNIT_B = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
# Display names of Spark 4.1's Python-runner SQL metrics.
_PY_METRICS = {
    "time to run Python workers": "python_total_s",
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
}
# A plan node runs Python iff it sends data to Python workers; its output
# rows are the rows received back.
_PY_MARKERS = ("data sent to Python workers", "number of output rows")


def _metric_value(text: str) -> float:
    """Total from a formatted SQL metric: '5,000', '0 ms' or
    'total (min, med, max ...)\\n2.2 s (735 ms, ...)'."""
    head = text.split("\n")[-1].split(" (")[0].replace(",", "").strip()
    num, _, unit = head.partition(" ")
    return float(num) * _UNIT_S.get(unit, _UNIT_B.get(unit, 1))


def _stages(spark):
    sc = spark._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    it = store.stageList(
        spark._jvm.java.util.ArrayList(),
        getattr(store, "stageList$default$2")(),
        getattr(store, "stageList$default$3")(),
        getattr(store, "stageList$default$4")(),
        getattr(store, "stageList$default$5")(),
    ).iterator()
    while it.hasNext():
        yield it.next()


def _job_ids(spark) -> list[int]:
    """Every job id, whatever its job group (streaming jobs carry one)."""
    it = spark._jsc.sc().statusStore().jobsList(None).iterator()
    out = []
    while it.hasNext():
        out.append(it.next().jobId())
    return out


def spark_marks(spark) -> dict:
    """Highest job, stage and SQL-execution ids so far: the floor above
    which :func:`spark_totals` counts."""
    jobs = _job_ids(spark)
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return {
        "job": max(jobs, default=-1),
        "stage": max((s.stageId() for s in _stages(spark)), default=-1),
        "exec": execs.apply(execs.size() - 1).executionId() if execs.size() else -1,
    }


def spark_totals(spark, marks: dict) -> dict:
    """Jobs, stages, task time and bytes, and Python-runner SQL metrics of
    everything Spark ran after ``marks``."""
    jobs = _job_ids(spark)
    out = {
        "jobs": sum(1 for j in jobs if j > marks["job"]),
        "stages": 0, "tasks": 0, "task_run_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
        "scan_bytes": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
        "spill_bytes": 0, "python_total_s": 0.0, "python_boot_s": 0.0,
        "python_init_s": 0.0, "python_rows": 0,
    }
    for s in _stages(spark):
        if s.stageId() <= marks["stage"] or str(s.status().toString()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += s.numCompleteTasks()
        out["task_run_s"] += s.executorRunTime() / 1e3
        out["task_cpu_s"] += s.executorCpuTime() / 1e9
        out["gc_s"] += s.jvmGcTime() / 1e3
        out["scan_bytes"] += s.inputBytes()
        out["shuffle_read_bytes"] += s.shuffleReadBytes()
        out["shuffle_write_bytes"] += s.shuffleWriteBytes()
        out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    store = spark._jsparkSession.sharedState().statusStore()
    it = store.executionsList().iterator()
    while it.hasNext():
        eid = it.next().executionId()
        if eid <= marks["exec"]:
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            metrics = {}
            mit = nodes.next().metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                if m.name() not in _PY_METRICS and m.name() not in _PY_MARKERS:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = _metric_value(v.get())
            if "data sent to Python workers" not in metrics:
                continue
            out["python_rows"] += int(metrics.get("number of output rows", 0))
            for name, key in _PY_METRICS.items():
                out[key] += metrics.get(name, 0.0)
    return out


def plan_python_metrics(plan) -> dict:
    """Python-runner metrics read off the SQLMetrics of a physical plan.
    A foreachBatch micro-batch reaches the sink as an RDD scan, so the
    streaming plan's own MapInPandas metrics are reported to no SQL
    execution; the driver-side accumulators still hold them."""
    out = {"python_total_s": 0.0, "python_boot_s": 0.0, "python_init_s": 0.0,
           "python_rows": 0}
    keys = {"pythonTotalTime": "python_total_s", "pythonBootTime": "python_boot_s",
            "pythonInitTime": "python_init_s"}
    todo = [plan]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        metrics = node.metrics()
        if metrics.contains("pythonDataSent"):
            for key, field in keys.items():
                if metrics.contains(key):
                    m = metrics.apply(key)
                    scale = 1e-9 if m.metricType() == "nsTiming" else 1e-3
                    out[field] += m.value() * scale
            if metrics.contains("pythonNumRowsReceived"):
                out["python_rows"] += metrics.apply("pythonNumRowsReceived").value()
        it = node.children().iterator()
        while it.hasNext():
            todo.append(it.next())
    return out


def progress_seconds(progress: dict, key: str) -> float:
    return progress.get("durationMs", {}).get(key, 0) / 1e3


_TS = re.compile(r"(\d{4}-\d\d-\d\dT\d\d:\d\d:\d\d(?:\.\d+)?)Z")


def progress_end(progress: dict) -> float:
    """Wall-clock end (epoch s) of the trigger a progress event reports."""
    from datetime import datetime, timezone

    stamp = _TS.match(progress["timestamp"]).group(1)
    start = datetime.fromisoformat(stamp).replace(tzinfo=timezone.utc).timestamp()
    return start + progress_seconds(progress, "triggerExecution")
