"""Seeded inputs, the /proc sampler and BENCHMARK.json's metric names."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq

import gen
import repo
import rss
import workloads


def _table(path):
    return pq.read_table(path)


def test_catalog_tables_are_seeded(tmp_path):
    a = gen.catalog_tables(str(tmp_path / "a"), seed=1)
    b = gen.catalog_tables(str(tmp_path / "b"), seed=1)
    c = gen.catalog_tables(str(tmp_path / "c"), seed=2)
    src = repo.testdata_dir(gen.CATALOG_SCALE)
    for name, ids in gen.ID_COLUMNS.items():
        ta, tb, tc = (_table(os.path.join(d, f"{name}.parquet")) for d in (a, b, c))
        s = _table(os.path.join(src, f"{name}.parquet"))
        assert ta.equals(tb), name
        assert ta.schema.remove_metadata() == s.schema.remove_metadata()
        assert ta.num_rows == s.num_rows
        for col in ids:
            assert sorted(ta[col].to_pylist()) != sorted(tc[col].to_pylist()), (name, col)
    # one offset for every id column keeps foreign keys joinable
    orders = _table(os.path.join(a, "orders.parquet"))
    customers = set(_table(os.path.join(a, "customer.parquet"))["c_custkey"].to_pylist())
    assert set(orders["o_custkey"].to_pylist()) <= customers


def test_history_replicates_with_distinct_ids(tmp_path):
    path = gen.history(str(tmp_path), seed=3, replicas=2, files=3)
    files = sorted(os.listdir(path))
    assert len(files) == 3
    t = pq.read_table(path)
    src = _table(os.path.join(repo.testdata_dir(gen.HISTORY_SCALE), "events.parquet"))
    assert t.num_rows == 2 * src.num_rows
    ids = t["event_id"].to_pylist()
    assert len(set(ids)) == len(ids)


def test_peak_rss_covers_child_processes():
    size = 200 * 2**20
    code = f"import time; b = bytearray({size}); b[::4096] = b'x' * len(b[::4096]); time.sleep(1.5)"
    with rss.PeakRss(interval_s=0.05) as peak:
        subprocess.run([sys.executable, "-c", code], check=True)
    assert peak.peak_bytes >= size


def test_benchmark_json_matches_the_metrics_printed():
    with open(os.path.join(repo.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
