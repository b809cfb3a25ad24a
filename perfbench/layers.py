"""Per-layer attribution from outside the program.

Two sources, both read by the benchmark without changing the package:

- ``Tracer`` wraps the library's layer functions at every module that
  bound them (operators use ``from ... import``, so a function is patched
  in its home module and in each module holding its own reference), plus
  the PySpark boundary methods the library calls.  Spans stay in memory
  and are written out when the run ends.
- ``SparkCounters`` reads Spark's ``AppStatusStore`` after each request
  and keeps only the job and stage ids above a watermark taken before it.
  The store retains a bounded number of jobs and stages, so cumulative
  sums go wrong once it starts evicting; reading by id does not, and a
  request whose stages were evicted before they were read raises.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import time

# Library layer functions, by span name: (module, attribute).
LIBRARY_FUNCTIONS = {
    "sources.io.read_parquet": ("polars_grouper_spark.sources.io", "read_parquet"),
    "plans.iteration.truncate_lineage": (
        "polars_grouper_spark.plans.iteration",
        "truncate_lineage",
    ),
    "plans.iteration.fingerprint": ("polars_grouper_spark.plans.iteration", "fingerprint"),
    "plans.iteration.agg_row": ("polars_grouper_spark.plans.iteration", "agg_row"),
    "plans.parallelism.local_result": (
        "polars_grouper_spark.plans.parallelism",
        "local_result",
    ),
}
OPERATOR_MODULES = {
    "connected_components": "polars_grouper_spark.operators.connected_components",
    "betweenness_centrality": "polars_grouper_spark.operators.betweenness",
}
# PySpark boundary, recorded only when the library (not the benchmark) calls it.
PYSPARK_METHODS = (
    ("DataFrame", "count"),
    ("DataFrame", "collect"),
    ("DataFrame", "toPandas"),
    ("SparkSession", "createDataFrame"),
)


class Tracer:
    """In-memory spans: request id, span id, parent span id, name, start,
    end.  ``request`` is None while tracing is off, which makes every
    wrapper a plain pass-through."""

    def __init__(self):
        self.spans: list[dict] = []
        self.request: int | None = None
        self._stack: list[dict] = []
        self._library_depth = 0
        self._undo: list[tuple[object, str, object]] = []

    def _open(self, name: str, library: bool) -> dict:
        span = {
            "request": self.request,
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "t0": time.perf_counter(),
            "t1": None,
        }
        self.spans.append(span)
        self._stack.append(span)
        self._library_depth += library
        return span

    def _close(self, span: dict, library: bool) -> None:
        span["t1"] = time.perf_counter()
        self._stack.pop()
        self._library_depth -= library

    @contextlib.contextmanager
    def span(self, name: str):
        """A span around a call made by the benchmark itself."""
        if self.request is None:
            yield
            return
        span = self._open(name, library=False)
        try:
            yield
        finally:
            self._close(span, library=False)

    def _wrap(self, name: str, fn, library: bool):
        """``library``: a library layer function, recorded whenever tracing
        is on; otherwise a PySpark boundary method, recorded only while a
        library function is running."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer.request is None or (not library and not tracer._library_depth):
                return fn(*args, **kwargs)
            span = tracer._open(name, library)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(span, library)

        return traced

    def _patch_everywhere(self, name: str, fn) -> None:
        wrapper = self._wrap(name, fn, library=True)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("polars_grouper_spark"):
                continue
            for attr, value in list(vars(mod).items()):
                if value is fn:
                    setattr(mod, attr, wrapper)
                    self._undo.append((mod, attr, fn))

    def install(self, spark) -> None:
        import importlib

        from pyspark.sql import SparkSession

        for name, (mod, attr) in LIBRARY_FUNCTIONS.items():
            self._patch_everywhere(name, getattr(importlib.import_module(mod), attr))
        for op, mod in OPERATOR_MODULES.items():
            fn = getattr(importlib.import_module(mod), op)
            self._patch_everywhere("operators." + op, fn)
        classes = {"DataFrame": type(spark.range(0)), "SparkSession": SparkSession}
        for cls_name, meth in PYSPARK_METHODS:
            cls = classes[cls_name]
            fn = cls.__dict__[meth]
            setattr(cls, meth, self._wrap("pyspark." + meth, fn, library=False))
            self._undo.append((cls, meth, fn))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()

    def request_metrics(self, request: int) -> dict[str, float]:
        """Inclusive time and call count per span name for one request,
        plus the number of operator calls that took the local tier (a
        ``toPandas`` anywhere inside the call)."""
        spans = [s for s in self.spans if s["request"] == request]
        by_id = {s["id"]: s for s in spans}
        out: dict[str, float] = {}
        local_ops = set()
        for s in spans:
            dur = s["t1"] - s["t0"]
            out[s["name"] + ".s"] = out.get(s["name"] + ".s", 0.0) + dur
            out[s["name"] + ".calls"] = out.get(s["name"] + ".calls", 0) + 1
            if s["name"] == "pyspark.toPandas":
                p = s["parent"]
                while p is not None and not by_id[p]["name"].startswith("operators."):
                    p = by_id[p]["parent"]
                if p is not None:
                    local_ops.add(p)
        out["plans.tiering.local_calls"] = len(local_ops)
        return out


def _java_list(spark, seq):
    return spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)


PYTHON_MARKERS = (
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
    "PythonRDD",
)


def stage_kind(names: list[str]) -> str:
    """Classify a stage by the operator scopes in its RDD graph: Python
    worker exec, parquet scan, shuffle exchange, or other compute."""
    if any(m in n for n in names for m in PYTHON_MARKERS):
        return "python"
    if any(n.startswith("Scan parquet") for n in names):
        return "scan"
    if any("Exchange" in n or n.startswith("AQEShuffleRead") for n in names):
        return "exchange"
    return "compute"


class SparkCounters:
    """Per-request Spark engine counters read from the AppStatusStore by
    job and stage id."""

    KINDS = ("scan", "exchange", "python", "compute")

    def __init__(self, spark):
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._no_quantiles = spark.sparkContext._gateway.new_array(
            spark.sparkContext._jvm.double, 0
        )
        self.job_mark = -1
        self.stage_mark = -1
        self.mark()

    def _jobs(self):
        return list(_java_list(self.spark, self._store.jobsList(None)))

    def _stages(self):
        return list(
            _java_list(
                self.spark,
                self._store.stageList(None, False, False, self._no_quantiles, None),
            )
        )

    def mark(self) -> None:
        """Move the watermarks past every job and stage seen so far."""
        self._bus.waitUntilEmpty()
        self.job_mark = max([self.job_mark] + [j.jobId() for j in self._jobs()])
        self.stage_mark = max([self.stage_mark] + [s.stageId() for s in self._stages()])

    def _graph_names(self, stage_id: int) -> list[str]:
        names = []
        todo = [self._store.operationGraphForStage(stage_id).rootCluster()]
        while todo:
            c = todo.pop()
            names.append(c.name())
            names.extend(n.name() for n in _java_list(self.spark, c.childNodes()))
            todo.extend(_java_list(self.spark, c.childClusters()))
        return names

    def read(self, start_epoch: float, end_epoch: float) -> dict[str, float]:
        """Counters of the jobs and stages after the watermark; the request
        ran between ``start_epoch`` and ``end_epoch`` (``time.time()``)."""
        self._bus.waitUntilEmpty()
        jobs = [j for j in self._jobs() if j.jobId() > self.job_mark]
        job_ids = {j.jobId() for j in jobs}
        stages = [s for s in self._stages() if s.stageId() > self.stage_mark]
        if job_ids and job_ids != set(range(self.job_mark + 1, max(job_ids) + 1)):
            raise RuntimeError(
                f"status store evicted jobs of this request: kept {sorted(job_ids)}"
            )
        # Skipped stages never complete, so the store evicts them first;
        # only the stages that ran must all still be there.
        ran = sum(j.numCompletedStages() + j.numFailedStages() for j in jobs)
        kept = {s.stageId() for s in stages if s.status().toString() != "SKIPPED"}
        if len(kept) < ran:
            raise RuntimeError(
                f"status store evicted stages of this request: {ran} ran, "
                f"{len(kept)} kept"
            )

        lo, hi = start_epoch * 1000.0, end_epoch * 1000.0
        intervals = []
        for j in jobs:
            if j.submissionTime().isDefined() and j.completionTime().isDefined():
                a = max(lo, float(j.submissionTime().get().getTime()))
                b = min(hi, float(j.completionTime().get().getTime()))
                if b > a:
                    intervals.append((a, b))
        job_ms, end = 0.0, lo
        for a, b in sorted(intervals):
            if b > end:
                job_ms += b - max(a, end)
                end = b

        mb = 1024.0 * 1024.0
        out = {
            "spark.jobs": len(jobs),
            "spark.stages": 0,
            "spark.tasks": 0,
            "spark.job_s": job_ms / 1000.0,
            "spark.executor_run_s": 0.0,
            "spark.executor_cpu_s": 0.0,
            "spark.jvm_gc_s": 0.0,
            "spark.shuffle_read_mb": 0.0,
            "spark.shuffle_write_mb": 0.0,
            "spark.spill_mb": 0.0,
            "spark.result_mb": 0.0,
        }
        for kind in self.KINDS:
            out[f"spark.stage_kind.{kind}.run_s"] = 0.0
        for s in stages:
            if s.status().toString() == "SKIPPED":
                continue
            run_s = s.executorRunTime() / 1000.0
            out["spark.stages"] += 1
            out["spark.tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["spark.executor_run_s"] += run_s
            out["spark.executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["spark.jvm_gc_s"] += s.jvmGcTime() / 1000.0
            out["spark.shuffle_read_mb"] += s.shuffleReadBytes() / mb
            out["spark.shuffle_write_mb"] += s.shuffleWriteBytes() / mb
            out["spark.spill_mb"] += s.diskBytesSpilled() / mb
            out["spark.result_mb"] += s.resultSize() / mb
            kind = stage_kind(self._graph_names(s.stageId()))
            out[f"spark.stage_kind.{kind}.run_s"] += run_s
        return out
