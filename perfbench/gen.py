"""Seeded benchmark inputs, derived from the repository's read-only
synthetic test tables.

Every generated table keeps its source's schema, row count and value
distributions; only two things change with the seed:

* a seeded offset added to every id column (event, document, vector
  and TPC-H keys — one offset for all tables, so foreign keys still
  join), and
* a seeded permutation of the row order.

So timings stay comparable across seeds while the rows the engine sees
differ. The engine only ever reads the files written here.

The bulk event history replicates the events table: replica ``k``
shifts ``event_id`` by ``k * REPLICA_STRIDE`` (as ``benchjob`` does),
then the whole history is permuted and split into several parquet
files, so the scan arrives partitioned the way a large table would.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import repo

ID_COLUMNS = {
    "region": [],
    "nation": [],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
MAX_ID_OFFSET = 100_000
REPLICA_STRIDE = 10_000_000

# catalog tables come from the smallest scale: the catalog workload is
# dominated by per-query fixed cost, and its cold + warm passes must fit
# one benchmark run; the bulk history replicates the largest events table
CATALOG_SCALE = "sf0.001"
HISTORY_SCALE = "sf0.1"


def _id_offset(rng: np.random.Generator) -> int:
    return int(rng.integers(1, MAX_ID_OFFSET))


def _shift(table: pa.Table, columns: list[str], offset: int) -> pa.Table:
    for c in columns:
        i = table.schema.get_field_index(c)
        col = table.column(i)
        shifted = pc.add(col, pa.scalar(offset, col.type))
        table = table.set_column(i, c, shifted)
    return table


def _permute(table: pa.Table, rng: np.random.Generator) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _publish(tmp: str, out: str) -> str:
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.replace(tmp, out)
    return out


def catalog_tables(out_root: str, seed: int) -> str:
    """Write the ten catalog tables for ``seed`` under ``out_root`` and
    return the directory (reused when already complete)."""
    out = os.path.join(out_root, "catalog")
    if os.path.isdir(out):
        return out
    rng = np.random.default_rng([seed, 1])
    offset = _id_offset(rng)
    src = repo.testdata_dir(CATALOG_SCALE)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, cols in ID_COLUMNS.items():
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        t = _permute(_shift(t, cols, offset), rng)
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"))
    return _publish(tmp, out)


def history(out_root: str, seed: int, replicas: int, files: int) -> str:
    """Write the replicated event history for ``seed`` as ``files``
    parquet files and return the directory (reused when complete)."""
    out = os.path.join(out_root, f"history-r{replicas}")
    if os.path.isdir(out):
        return out
    rng = np.random.default_rng([seed, 2])
    offset = _id_offset(rng)
    base = pq.read_table(os.path.join(repo.testdata_dir(HISTORY_SCALE), "events.parquet"))
    t = pa.concat_tables(
        [_shift(base, ["event_id"], offset + k * REPLICA_STRIDE) for k in range(replicas)]
    )
    t = _permute(t, rng)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    step = -(-t.num_rows // files)
    for i in range(files):
        pq.write_table(
            t.slice(i * step, step), os.path.join(tmp, f"part-{i:03d}.parquet")
        )
    return _publish(tmp, out)


def seed_dir(work: str, seed: int) -> str:
    """The input directory for ``seed``; inputs of other seeds are
    removed so the work area stays one seed large."""
    root = os.path.join(work, "inputs")
    os.makedirs(root, exist_ok=True)
    keep = f"seed-{seed}"
    for name in os.listdir(root):
        if name != keep:
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    path = os.path.join(root, keep)
    os.makedirs(path, exist_ok=True)
    return path


def parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
