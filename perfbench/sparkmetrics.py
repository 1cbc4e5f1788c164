"""Spark's own counters for a window of work, rolled up into the
benchmark's ``spark.*`` per-layer names.

Two read-only sources, both populated with the UI disabled:

* the SQL status store (``sharedState().statusStore()``): per
  plan-node metrics of every SQL execution, as formatted strings —
  ``"10.6 s"``, ``"44 ms"`` (nanosecond timers are shown in ms too),
  ``"795.2 KiB"``, ``"100,000"``, or a ``"total (min, med, max ...)"``
  header over the same forms. ``parse_metric`` turns them into seconds,
  bytes and counts; their precision is what Spark prints.
* the core status store (``sc.statusStore()``): per-stage task metrics
  as raw numbers (run time in ms, CPU time in ns, bytes, records).

Every time summed here is task-summed: with ``c`` cores busy it grows
up to ``c`` times faster than the wall clock.
"""

from __future__ import annotations

import re
import time
from collections import defaultdict
from dataclasses import dataclass, field

_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40, "PiB": 1 << 50}
_NODE_SUFFIX = re.compile(r"\s*\(\d+\)$")
PYTHON_NODE = re.compile(r"EvalPython|InPandas|InArrow|PythonUDTF")


# the plan-node metrics the rollup reads (averages, whose formatted
# string carries no total, are never needed)
NODE_METRICS = frozenset(
    {
        "time to run Python workers",
        "time to initialize Python workers",
        "time to start Python workers",
        "data sent to Python workers",
        "data returned from Python workers",
        "sort time",
        "spill size",
        "time in aggregation build",
        "duration",
        "scan time",
        "size of files read",
        "time to collect",
        "time to build",
        "time to broadcast",
        "number of output rows",
        "shuffle bytes written",
    }
)


def parse_metric(text: str, metric_type: str) -> float:
    """The total of one formatted SQL metric, in seconds (``timing``,
    ``nsTiming``), bytes (``size``) or plain units (``sum``)."""
    if "\n" in text:  # "total (min, med, max (stageId: taskId))\n<total> (<min>, ...)"
        text = text.split("\n", 1)[1]
    total = text.split(" (", 1)[0].strip()
    if metric_type in ("timing", "nsTiming"):
        num, unit = total.split()
        return float(num) * _TIME_UNITS[unit]
    if metric_type == "size":
        num, unit = total.split()
        return float(num) * _SIZE_UNITS[unit]
    return float(total.replace(",", ""))


def node_kind(name: str) -> str:
    """``WholeStageCodegen (3)`` -> ``WholeStageCodegen``."""
    return _NODE_SUFFIX.sub("", name).strip()


@dataclass
class Mark:
    execution: int
    stage: int
    job: int
    t: float


@dataclass
class Window:
    """Counters of the executions, jobs and stages started after a mark."""

    wall_s: float
    cores: int
    jobs: int = 0
    # (node kind, metric name) -> total in base units
    nodes: dict = field(default_factory=lambda: defaultdict(float))
    # node kinds in execution order, one entry per node occurrence
    node_kinds: list = field(default_factory=list)
    # raw per-stage task metrics summed over completed stages
    stages: dict = field(default_factory=lambda: defaultdict(float))

    def node_metric(self, metric: str, kind: str | None = None) -> float:
        return sum(
            v for (k, m), v in self.nodes.items() if m == metric and (kind is None or k == kind)
        )

    def python_nodes(self) -> list[str]:
        return [k for k in self.node_kinds if PYTHON_NODE.search(k)]


_STAGE_FIELDS = (
    "executorRunTime",
    "executorCpuTime",
    "jvmGcTime",
    "shuffleWriteBytes",
    "shuffleWriteRecords",
    "shuffleFetchWaitTime",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "numCompleteTasks",
)


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


class SparkCounters:
    """Read Spark's status stores around a region of work::

        counters = SparkCounters(spark)
        m = counters.mark()
        ...  # actions
        window = counters.since(m)
        metrics = rollup(window)
    """

    def __init__(self, spark):
        self.spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gw = spark.sparkContext._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self.cores = spark.sparkContext.defaultParallelism

    def _drain(self) -> None:
        # status stores are fed by the asynchronous listener bus
        self._sc.listenerBus().waitUntilEmpty(30_000)

    def _stages(self):
        return _seq(self._sc.statusStore().stageList(None, False, False, self._no_quantiles, None))

    def mark(self) -> Mark:
        self._drain()
        ex = max((e.executionId() for e in _seq(self._sql.executionsList())), default=-1)
        st = max((s.stageId() for s in self._stages()), default=-1)
        jb = max((j.jobId() for j in _seq(self._sc.statusStore().jobsList(None))), default=-1)
        return Mark(ex, st, jb, time.perf_counter())

    def since(self, mark: Mark) -> Window:
        wall = time.perf_counter() - mark.t
        self._drain()
        w = Window(wall_s=wall, cores=self.cores)
        for e in _seq(self._sql.executionsList()):
            eid = e.executionId()
            if eid <= mark.execution:
                continue
            values = self._sql.executionMetrics(eid)
            for node in _seq(self._sql.planGraph(eid).allNodes()):
                kind = node_kind(node.name())
                w.node_kinds.append(kind)
                for m in _seq(node.metrics()):
                    if m.name() not in NODE_METRICS:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        w.nodes[(kind, m.name())] += parse_metric(str(v.get()), m.metricType())
        w.jobs = sum(
            1 for j in _seq(self._sc.statusStore().jobsList(None)) if j.jobId() > mark.job
        )
        for s in self._stages():
            if s.stageId() <= mark.stage or s.status().toString() != "COMPLETE":
                continue
            w.stages["count"] += 1
            for f in _STAGE_FIELDS:
                w.stages[f] += float(getattr(s, f)())
        return w


def rollup(w: Window) -> dict[str, float]:
    """The ``spark.*`` per-layer metrics of one window."""
    st = w.stages
    task_run_s = st["executorRunTime"] / 1e3
    sort_spill = w.node_metric("spill size", "Sort")
    return {
        "spark.python.run_s": w.node_metric("time to run Python workers"),
        "spark.python.init_s": w.node_metric("time to initialize Python workers"),
        "spark.python.boot_s": w.node_metric("time to start Python workers"),
        "spark.python.bytes_sent": w.node_metric("data sent to Python workers"),
        "spark.python.bytes_received": w.node_metric("data returned from Python workers"),
        "spark.exchange.bytes": st["shuffleWriteBytes"],
        "spark.exchange.records": st["shuffleWriteRecords"],
        "spark.exchange.fetch_wait_s": st["shuffleFetchWaitTime"] / 1e3,
        "spark.sort.s": w.node_metric("sort time", "Sort"),
        "spark.sort.spill_bytes": sort_spill,
        "spark.aggregate.s": w.node_metric("time in aggregation build"),
        "spark.codegen.s": w.node_metric("duration", "WholeStageCodegen"),
        "spark.scan.s": w.node_metric("scan time"),
        "spark.scan.bytes": w.node_metric("size of files read"),
        "spark.broadcast.s": sum(
            w.node_metric(m, "BroadcastExchange")
            for m in ("time to collect", "time to build", "time to broadcast")
        ),
        "spark.gc_s": st["jvmGcTime"] / 1e3,
        "spark.task_run_s": task_run_s,
        "spark.task_cpu_s": st["executorCpuTime"] / 1e9,
        "spark.core_busy_share": task_run_s / (w.cores * w.wall_s) if w.wall_s > 0 else 0.0,
        "spark.jobs": float(w.jobs),
        "spark.stages": st["count"],
        "spark.tasks": st["numCompleteTasks"],
    }


SPARK_UNITS = {
    "spark.python.run_s": "s",
    "spark.python.init_s": "s",
    "spark.python.boot_s": "s",
    "spark.python.bytes_sent": "bytes",
    "spark.python.bytes_received": "bytes",
    "spark.exchange.bytes": "bytes",
    "spark.exchange.records": "count",
    "spark.exchange.fetch_wait_s": "s",
    "spark.sort.s": "s",
    "spark.sort.spill_bytes": "bytes",
    "spark.aggregate.s": "s",
    "spark.codegen.s": "s",
    "spark.scan.s": "s",
    "spark.scan.bytes": "bytes",
    "spark.broadcast.s": "s",
    "spark.gc_s": "s",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.core_busy_share": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
}
