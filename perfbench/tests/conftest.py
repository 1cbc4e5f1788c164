from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # the benchmark's modules

import repo  # noqa: E402

repo.require()


@pytest.fixture(scope="session")
def spark():
    from oshdb_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def catalog_dir(tmp_path_factory) -> str:
    """The catalog workload's generated tables for one seed."""
    import gen

    return gen.catalog_tables(str(tmp_path_factory.mktemp("inputs")), seed=7)
