"""Units of the Spark-counter rollup, pinned on formatted strings and
on a tiny known plan: a groupBy over one pandas UDF."""

from __future__ import annotations

import time

import pytest

from sparkmetrics import SPARK_UNITS, SparkCounters, Window, node_kind, parse_metric, rollup

MULTI_TASK = "total (min, med, max (stageId: taskId))\n{} (1 ms, 2 ms, 3 ms (stage 0.0: task 1))"


@pytest.mark.parametrize(
    "text, metric_type, expected",
    [
        ("15 ms", "timing", 0.015),
        (MULTI_TASK.format("10.6 s"), "timing", 10.6),
        (MULTI_TASK.format("1.2 m"), "timing", 72.0),
        # nanosecond timers are printed in milliseconds like the others
        (MULTI_TASK.format("44 ms"), "nsTiming", 0.044),
        ("0.0 B", "size", 0.0),
        (MULTI_TASK.format("795.2 KiB"), "size", 795.2 * 1024),
        ("64.2 MiB", "size", 64.2 * 2**20),
        ("100,000", "sum", 100_000.0),
    ],
)
def test_parse_metric_units(text, metric_type, expected):
    assert parse_metric(text, metric_type) == pytest.approx(expected)


def test_node_kind_drops_codegen_stage_id():
    assert node_kind("WholeStageCodegen (3)") == "WholeStageCodegen"
    assert node_kind("ArrowEvalPython") == "ArrowEvalPython"


SLEEP_S = 0.2
PARTITIONS = 2
ROWS = 10_000  # one Arrow batch per partition


def test_rollup_on_groupby_over_pandas_udf(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    sleep_s = SLEEP_S

    def slow_double(s):  # nested: pickled by value for the Python workers
        time.sleep(sleep_s)
        return s * 2

    udf = pandas_udf(slow_double, "long")
    df = (
        spark.range(0, ROWS, 1, PARTITIONS)
        .select((F.col("id") % 7).alias("k"), udf("id").alias("v"))
        .groupBy("k")
        .agg(F.sum("v").alias("s"))
    )
    counters = SparkCounters(spark)
    mark = counters.mark()
    got = df.toPandas()
    w = counters.since(mark)
    r = rollup(w)

    assert sorted(got["s"]) == sorted(
        sum(2 * i for i in range(ROWS) if i % 7 == k) for k in range(7)
    )
    assert {"ArrowEvalPython", "HashAggregate", "Exchange", "WholeStageCodegen"} <= set(w.node_kinds)
    assert w.python_nodes() == ["ArrowEvalPython"]
    # task-summed: every partition's sleep is in the Python run time
    assert r["spark.python.run_s"] >= PARTITIONS * SLEEP_S
    # ms (run time) and ns (CPU time) land in seconds alike
    assert 0 < r["spark.task_cpu_s"] <= r["spark.task_run_s"] * 1.1 + 0.05
    # task time is bounded by cores x wall; the busy share is its ratio
    assert r["spark.task_run_s"] <= w.cores * w.wall_s
    assert 0 < r["spark.core_busy_share"] <= 1
    # size strings: one long per row goes to Python, Arrow framing on top
    assert 8 * ROWS <= r["spark.python.bytes_sent"] <= 3 * 8 * ROWS
    # the stage's raw shuffle bytes agree with the Exchange node's string
    node_bytes = w.node_metric("shuffle bytes written", "Exchange")
    assert r["spark.exchange.bytes"] == pytest.approx(node_bytes, rel=0.05, abs=64)
    assert r["spark.exchange.records"] == PARTITIONS * 7
    assert r["spark.jobs"] >= 1 and r["spark.stages"] >= 2 and r["spark.tasks"] >= PARTITIONS + 1
    assert r["spark.aggregate.s"] > 0 and r["spark.codegen.s"] > 0


def test_every_rolled_up_name_has_a_unit():
    assert set(rollup(Window(wall_s=1.0, cores=1))) == set(SPARK_UNITS)
