"""The benchmark's forcing keeps every Python node of a catalog query's
full plan: a ``count()`` lets Catalyst prune projections nobody reads,
and with them Arrow/pandas kernels, so a timing forced that way misses
the work the query claims."""

from __future__ import annotations

import re
from collections import Counter

import pytest

from oshdb_spark.queries import QUERIES
from sparkmetrics import PYTHON_NODE, SparkCounters
from workloads import force

_TREE = re.compile(r"^[\s:+\-|*()0-9]*")


def planned_python_nodes(df) -> Counter:
    """Python nodes of the query's full physical plan, before any action."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    names = (_TREE.sub("", line).split(" ", 1)[0] for line in plan.splitlines())
    return Counter(n for n in names if PYTHON_NODE.search(n))


def executed_python_nodes(spark, action) -> Counter:
    counters = SparkCounters(spark)
    mark = counters.mark()
    action()
    return Counter(counters.since(mark).python_nodes())


@pytest.mark.parametrize("name", list(QUERIES))
def test_forced_plan_keeps_every_python_node(spark, catalog_dir, name):
    df = QUERIES[name](spark, catalog_dir)
    planned = planned_python_nodes(df)
    ran = executed_python_nodes(spark, lambda: force(df))
    assert not planned - ran, f"{name}: forcing dropped {dict(planned - ran)}"


def test_count_forcing_is_caught(spark, catalog_dir):
    """The check above can fail: ``count()`` prunes this query's clip
    kernel."""
    df = QUERIES["region_clipped_length"](spark, catalog_dir)
    planned = planned_python_nodes(df)
    assert planned
    ran = executed_python_nodes(spark, df.count)
    assert planned - ran
