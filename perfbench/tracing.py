"""Per-layer tracing for the benchmark.

Two sources, both in-process:

- ``LayerTimer`` wraps the public functions of the engine's layer
  modules (and the ``DataFrame`` checkpoint / ``DataFrameWriter`` write
  methods) with timers and call counters. Only the outermost call of a
  layer counts, so an operator calling another of its own module is not
  counted twice. Wrapping replaces every module-level reference inside
  the package, because the plans modules import operator functions by
  name.
- ``SparkProbe`` reads Spark's own status stores through the JVM
  gateway: job counts, per-stage task metrics (serialized to JSON in
  one gateway call), the final plan of each SQL execution, and the
  blocks still held by persisted RDDs.

Nothing here is installed unless a traced run asks for it.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import threading
import time
from collections import defaultdict

PKG = "airbnb_pyspark_jobs_spark"

# layer -> (modules, name prefix): the layer times every public function
# of those modules whose name starts with the prefix
MODULE_LAYERS = {
    "operators.similarity": ((f"{PKG}.operators.similarity",), ""),
    "operators.scd2": ((f"{PKG}.operators.scd2",), ""),
    "operators.facts": ((f"{PKG}.operators.facts",), ""),
    "operators.dedupe": ((f"{PKG}.operators.dedupe",), ""),
    "streaming.compact": (
        (f"{PKG}.streaming.aggregates", f"{PKG}.streaming.cep", f"{PKG}.streaming.dedupe"),
        "compact_",
    ),
}


class LayerTimer:
    """Inclusive wall time and call count per layer, outermost calls only."""

    def __init__(self) -> None:
        self.seconds: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self._depth = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            depth = getattr(self._depth, layer, 0)
            setattr(self._depth, layer, depth + 1)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                setattr(self._depth, layer, depth)
                if depth == 0:
                    self.seconds[layer] += time.perf_counter() - t0
                    self.calls[layer] += 1

        return timed

    def _patch(self, owner, name: str, new) -> None:
        self._undo.append((owner, name, getattr(owner, name)))
        setattr(owner, name, new)

    def install(self) -> None:
        from pyspark.sql import DataFrameWriter

        try:  # Spark 4 splits the classic DataFrame from the API class
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:
            from pyspark.sql import DataFrame

        targets: dict[int, tuple[str, object]] = {}
        for layer, (modnames, prefix) in MODULE_LAYERS.items():
            for mname in modnames:
                for name, fn in vars(importlib.import_module(mname)).items():
                    if (
                        inspect.isfunction(fn)
                        and fn.__module__ == mname
                        and not name.startswith("_")
                        and name.startswith(prefix)
                    ):
                        targets[id(fn)] = (layer, fn)
        wrapped = {key: self._wrap(layer, fn) for key, (layer, fn) in targets.items()}
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (mname == PKG or mname.startswith(PKG + ".")):
                continue
            for name, val in list(vars(mod).items()):
                if id(val) in wrapped and targets[id(val)][1] is val:
                    self._patch(mod, name, wrapped[id(val)])
        for name in ("localCheckpoint", "checkpoint"):
            self._patch(DataFrame, name, self._wrap("caching.checkpoint", getattr(DataFrame, name)))
        for name in ("parquet", "save", "saveAsTable", "insertInto"):
            self._patch(DataFrameWriter, name, self._wrap("sources.write", getattr(DataFrameWriter, name)))

    def uninstall(self) -> None:
        while self._undo:
            owner, name, old = self._undo.pop()
            setattr(owner, name, old)


class SparkProbe:
    """Reads job, stage, plan and block figures from the live session.
    ``seconds`` accumulates the time spent in these reads, which is the
    probe's share of the tracing overhead."""

    STAGE_FIELDS = (
        "executorRunTime", "numCompleteTasks", "inputBytes", "outputBytes",
        "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
    )

    def __init__(self, spark, skip_description: str) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        # stages of jobs run under this description are not counted
        self._skip = skip_description
        jvm = sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self.seconds = 0.0

    def _timed(fn):
        @functools.wraps(fn)
        def timed(self, *args):
            t0 = time.perf_counter()
            try:
                return fn(self, *args)
            finally:
                self.seconds += time.perf_counter() - t0

        return timed

    def _settle(self) -> None:
        # status-store updates arrive through the async listener bus
        self._jsc.listenerBus().waitUntilEmpty()

    @_timed
    def job_count(self) -> int:
        self._settle()
        return self._jsc.statusStore().jobsList(None).size()

    @_timed
    def stage_totals(self) -> dict[int, dict[str, int]]:
        """stage id -> summed task metrics over its attempts."""
        self._settle()
        stages = self._jsc.statusStore().stageList(None, False, False, self._no_quantiles, None)
        out: dict[int, dict[str, int]] = {}
        for st in json.loads(self._mapper.writeValueAsString(stages)):
            if st.get("description") == self._skip:
                continue
            acc = out.setdefault(st["stageId"], dict.fromkeys(self.STAGE_FIELDS, 0))
            for f in self.STAGE_FIELDS:
                acc[f] += st.get(f) or 0
        return out

    @_timed
    def cached_blocks(self) -> int:
        """Blocks held by RDDs that are still marked persistent."""
        return sum(info.numCachedPartitions() for info in self._jsc.getRDDStorageInfo())

    @_timed
    def plan_seconds(self, df) -> float:
        """Catalyst analysis + optimization + planning time of ``df``'s
        query execution, from ``QueryExecution.tracker()``."""
        it = df._jdf.queryExecution().tracker().phases().iterator()
        ms = 0
        while it.hasNext():
            ms += it.next()._2().durationMs()
        return ms / 1000.0

    @_timed
    def execution_count(self) -> int:
        """SQL executions so far (execution ids are dense and none is
        evicted: the session retains them all)."""
        self._settle()
        return self._sql.executionsCount()

    @_timed
    def exchanges_since(self, count: int) -> int:
        """Shuffle and broadcast exchanges in the final plans of the SQL
        executions after the first ``count``. Each execution's plan graph
        is its final plan once adaptive execution has re-planned it, a
        reused exchange is one node, and a write's plan is its own
        execution, so sink queries are counted too."""
        self._settle()
        execs = self._sql.executionsList(count, self._sql.executionsCount() - count).iterator()
        n = 0
        while execs.hasNext():
            nodes = self._sql.planGraph(execs.next().executionId()).allNodes().iterator()
            while nodes.hasNext():
                n += nodes.next().name() in ("Exchange", "BroadcastExchange")
        return n

    def job_floor_s(self, spark, runs: int = 7) -> float:
        """Median time of a one-task JVM job (no Python worker, no SQL
        planning): the fixed cost of every job."""
        rdd = spark.range(1, numPartitions=1)._jdf.rdd()
        times = []
        for _ in range(runs):
            t0 = time.perf_counter()
            rdd.count()
            times.append(time.perf_counter() - t0)
        return sorted(times)[runs // 2]


def stage_delta(before: dict, after: dict) -> dict[str, int]:
    tot = dict.fromkeys(SparkProbe.STAGE_FIELDS, 0)
    for sid, acc in after.items():
        if sid not in before:
            for f in SparkProbe.STAGE_FIELDS:
                tot[f] += acc[f]
    return tot
