"""Where the benchmark finds the repository it measures.

The benchmark lives in its own directory at the repository root and
imports the engine and two test helpers from the checkout it runs in;
nothing here is copied from them.
"""

from __future__ import annotations

import functools
import importlib.util
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")


class MissingRepo(RuntimeError):
    """The checkout lacks the engine or its test helpers."""


def require() -> None:
    """Put the checkout on ``sys.path``; raise ``MissingRepo`` when the
    engine package is not there (a directory holding only the
    benchmark)."""
    for rel in ("oshdb_spark/__init__.py", "tests/driver_mimic.py", "tests/conftest.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            raise MissingRepo(f"{rel} not found under {ROOT}")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


@functools.cache
def _load(rel: str, name: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(ROOT, rel))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def driver_mimic():
    """``tests/driver_mimic.py``: the DuckDB connection and the
    order-insensitive comparison the catalog gate uses."""
    require()
    return _load("tests/driver_mimic.py", "perfbench_driver_mimic")


def testdata_dir(scale: str) -> str:
    """The read-only synthetic tables at ``scale`` (e.g. ``sf0.1``),
    located through the test suite's own fixture setting."""
    require()
    sf = _load("tests/conftest.py", "perfbench_test_conftest").SF_DIR
    return os.path.join(os.path.dirname(sf), scale)
