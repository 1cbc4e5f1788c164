"""The benchmark's three workloads, each driven closed-loop by one
client in one Spark application.

Every timed query or job is forced by collecting its small result
(``force``), which executes the full plan — unlike ``count()``, which
lets Catalyst prune projections and with them Python kernels. Outputs
are compared against DuckDB after the timed region.

A workload returns an ``Outcome``: its end-to-end metrics (measured
with tracing off), its per-layer metrics (filled by a traced run) and
its correctness tally.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import subprocess
import time
from collections import defaultdict
from dataclasses import dataclass, field

import gen
import oracle
import repo
import rss
from sparkmetrics import SPARK_UNITS, SparkCounters, rollup

FAMILIES = (
    "snapshot",
    "contribution",
    "tags",
    "spatial",
    "ways",
    "relations",
    "docs",
    "dedup",
    "vectors",
    "tpch",
)

# The catalog workload's queries, one per family plus one cache reader,
# run in the catalog's registry order. Three of the four resident-frame
# caches are built in the cold pass: way decode (by
# region_poly_clipped_length, read again by way_length_at_ts), jaccard
# pairs (word_jaccard_pairs) and relation member decode
# (relation_mp_area). The relation slot-window cache is left out: its
# builders cost more cold time than one benchmark run can spare.
CATALOG_FAMILY = {
    "pricing_summary": "tpch",
    "contrib_type_counts": "contribution",
    "region_poly_clipped_length": "spatial",
    "tag_value_set_counts": "tags",
    "docs_prefiltered_snapshot": "docs",
    "word_jaccard_pairs": "dedup",
    "way_length_at_ts": "ways",
    "relation_mp_area": "relations",
    "snapshot_count_by_ts": "snapshot",
    "embed_neardup_pairs": "vectors",
}
RESIDENT_CACHES = (
    "_WAY_FRAME_CACHE",
    "_JACCARD_PAIRS_CACHE",
    "_MEMBER_FRAME_CACHE",
    "_RELWIN_CACHE",
)

# bulk history: replicas of the sf0.1 events table (100k events each),
# spread over ENTITIES_PER_REPLICA entities per replica like benchjob
TILES_REPLICAS = 4
HISTORY_FILES = 8
ENTITIES_PER_REPLICA = 200
TILES_FILTER_ZOOM = 6
TILES_ZOOM = 8
TILE_BUCKETS = 4
# warm samples per run when --seconds has passed before they are taken
MIN_WARM_PASSES = 2
MIN_WARM_ITERATIONS = 3
# untimed history_tiles iterations between the cold one and the samples:
# the JVM keeps compiling the job's code over the first few iterations
# (each about 10 % faster than the one before)
WARMUP_ITERATIONS = 3

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "events_per_s": "events/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.ship_s": "s",
    "queries.build_s": "s",
    **{f"queries.family.{f}.warm_s": "s" for f in FAMILIES},
    "queries.resident.misses": "count",
    "queries.resident.hits": "count",
    "queries.resident.build_s": "s",
    "sources.derive_versions.s": "s",
    "sources.derive_versions.rows": "count",
    "operators.snapshot.snapshots.s": "s",
    "operators.snapshot.snapshots.rows_out": "count",
    "operators.spatial.filter_polygon.s": "s",
    "operators.spatial.filter_polygon.rows_in": "count",
    "operators.spatial.filter_polygon.kernel_rows": "count",
    "operators.spatial.filter_polygon.kept_rows": "count",
    "operators.spatial.filter_polygon.kernel_share": "ratio",
    "operators.spatial.filter_polygon.kernel_keep_ratio": "ratio",
    "operators.tiles.raster_tiles.s": "s",
    "operators.tiles.raster_tiles.tiles_out": "count",
    "runtime.checkpointed_stage.s": "s",
    "runtime.checkpointed_stage.bytes_written": "bytes",
    "runtime.checkpointed_stage.files_written": "count",
    "runtime.checkpointed_stage.waves": "count",
    "runtime.stored_bytes_ratio": "ratio",
    **SPARK_UNITS,
    "trace.untraced_wall_s": "s",
    "trace.traced_wall_s": "s",
    "trace.overhead_s": "s",
}


def force(df):
    """Execute the whole plan and bring its (small) result to the
    driver."""
    return df.toPandas()


def quantile(values: list[float], q: float) -> float:
    """Inclusive-method quantile (``q`` in (0, 1)) of a few samples."""
    if len(values) == 1:
        return values[0]
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[round(q * 100) - 1]


@dataclass
class Outcome:
    end_to_end: dict = field(default_factory=dict)  # name -> (value, samples)
    per_layer: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    detail: dict = field(default_factory=dict)

    def check(self, label: str, verdict: str) -> None:
        self.attempted += 1
        if verdict != "OK":
            self.failed += 1
            self.failures.append(f"{label}: {verdict}")


class Session:
    """One Spark application, started and timed on construction and
    ended by ``stop``, which also waits for the JVM and its Python
    workers to exit."""

    def __init__(self, ncpu: int):
        t0 = time.perf_counter()
        from pyspark.sql import functions as F

        from oshdb_spark import queries  # noqa: F401 — engine import is set-up work
        from oshdb_spark.session import ensure_shipped, get_spark

        self.spark = get_spark(app_name="perfbench", master=f"local[{ncpu}]")
        t1 = time.perf_counter()
        ensure_shipped(self.spark)
        self.spark.range(0, 1000, 1, ncpu).agg(F.sum("id")).collect()
        t2 = time.perf_counter()
        self.start_s, self.ship_s = t1 - t0, t2 - t1
        self.setup_s = t2 - t0
        self.counters = SparkCounters(self.spark)

    def stop(self) -> None:
        from pyspark import SparkContext

        me = os.getpid()
        children = [p for p in rss.descendants(me) if p != me]
        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        alive = children
        while alive and time.monotonic() < deadline:
            time.sleep(0.1)
            alive = [p for p in alive if rss.running(p)]
        for p in alive:
            try:
                os.kill(p, 9)
            except ProcessLookupError:
                pass


# ---------------------------------------------------------------------------
# catalog
# ---------------------------------------------------------------------------


class ResidentProbe:
    """Counts hits and misses on the four session-resident frame caches
    of ``oshdb_spark.queries`` by wrapping each instance's ``get`` (a
    ``None`` result is a miss: the caller builds the frame)."""

    def __init__(self, queries_module):
        self.caches = [getattr(queries_module, n) for n in RESIDENT_CACHES]
        self.counts: dict = defaultdict(lambda: [0, 0])  # query -> [hits, misses]
        self.current = None

    def _wrap(self, get):
        def counted(key):
            got = get(key)
            if self.current is not None:
                self.counts[self.current][0 if got is not None else 1] += 1
            return got

        return counted

    def __enter__(self) -> "ResidentProbe":
        for c in self.caches:
            c.get = self._wrap(c.get)
        return self

    def __exit__(self, *exc) -> None:
        for c in self.caches:
            del c.get


def _catalog_pass(spark, data: str, names: list[str], results: list, label: str, before=None):
    """Run ``names`` in order; returns (pass wall, per-query walls,
    per-query seconds spent inside the ``q_*`` builder)."""
    from oshdb_spark.queries import QUERIES

    walls, builds = {}, {}
    t0 = time.perf_counter()
    for n in names:
        if before is not None:
            before(n)
        q0 = time.perf_counter()
        try:
            df = QUERIES[n](spark, data)
            q1 = time.perf_counter()
            results.append((n, label, force(df)))
        except Exception as e:  # noqa: BLE001 — a failed query is counted, the pass goes on
            q1 = time.perf_counter()
            results.append((n, label, e))
        walls[n] = time.perf_counter() - q0
        builds[n] = q1 - q0
    return time.perf_counter() - t0, walls, builds


def catalog(s: Session, data: str, seconds: float, trace: bool) -> Outcome:
    from oshdb_spark import queries as Q

    names = [n for n in Q.QUERIES if n in CATALOG_FAMILY]
    results: list = []
    out = Outcome()
    probe = ResidentProbe(Q)

    def count_for(n):
        probe.current = n

    with probe if trace else contextlib.nullcontext():
        cold_wall, cold, _ = _catalog_pass(s.spark, data, names, results, "cold", count_for)
        probe.current = None  # hits and misses are counted in the cold pass
        warm_walls, warm, builds = [], defaultdict(list), []
        t_warm = time.perf_counter()
        while len(warm_walls) < MIN_WARM_PASSES or time.perf_counter() - t_warm < seconds:
            mark = s.counters.mark()
            wall, walls, b = _catalog_pass(s.spark, data, names, results, f"warm{len(warm_walls)}")
            warm_walls.append(wall)
            builds.append(sum(b.values()))
            for n, w in walls.items():
                warm[n].append(w)
        if trace:
            window = s.counters.since(mark)
            traced_wall, traced_spark = _catalog_traced_pass(s, data, names, results)

    oracles = oracle.CatalogOracle(data)
    for n, label, got in results:
        out.check(f"catalog/{n}/{label}", oracles.verdict(n, got))
    oracles.close()

    samples = sum(len(warm[n]) for n in names)
    warm_pass = statistics.median(warm_walls)
    n_events = _rows(os.path.join(data, "events.parquet"))
    # the percentiles are taken over the queries' median warm walls: with
    # ten queries a percentile of the pooled samples would follow the
    # single slowest sample of one query
    warm_med = {n: statistics.median(warm[n]) for n in names}
    per_query = list(warm_med.values())
    out.end_to_end = {
        "setup_s": (s.setup_s, 1),
        "cold_pass_s": (cold_wall, 1),
        "warm_pass_s": (warm_pass, len(warm_walls)),
        "query_p50_s": (statistics.median(per_query), samples),
        "query_p90_s": (quantile(per_query, 0.9), samples),
        "events_per_s": (n_events / warm_pass, len(warm_walls)),
    }
    out.detail = {
        "events": n_events,
        "warm_pass_s": warm_walls,
        "queries": {
            n: {"family": CATALOG_FAMILY[n], "cold_s": cold[n], "warm_s": warm[n]} for n in names
        },
    }
    if trace:
        hits = sum(probe.counts[n][0] for n in names)
        misses = sum(probe.counts[n][1] for n in names)
        missed = [n for n in names if probe.counts[n][1]]
        layer = {name: 0.0 for name in PER_LAYER}
        layer.update(
            {
                "session.start_s": s.start_s,
                "session.ship_s": s.ship_s,
                "queries.build_s": statistics.median(builds),
                "queries.resident.misses": float(misses),
                "queries.resident.hits": float(hits),
                "queries.resident.build_s": sum(cold[n] - warm_med[n] for n in missed),
                **rollup(window),
                "trace.untraced_wall_s": warm_pass,
                "trace.traced_wall_s": traced_wall,
                "trace.overhead_s": traced_wall - warm_pass,
            }
        )
        for f in FAMILIES:
            layer[f"queries.family.{f}.warm_s"] = sum(
                warm_med[n] for n in names if CATALOG_FAMILY[n] == f
            )
        out.per_layer = layer
        out.detail["resident"] = {
            n: dict(zip(("hits", "misses"), probe.counts[n])) for n in names
        }
        out.detail["spark_by_query"] = traced_spark
    return out


def _catalog_traced_pass(s: Session, data: str, names: list[str], results: list):
    """A warm pass that reads Spark's counters around every query."""
    per_query = {}
    t0 = time.perf_counter()
    for n in names:
        m = s.counters.mark()
        _catalog_pass(s.spark, data, [n], results, "traced")
        per_query[n] = rollup(s.counters.since(m))
    return time.perf_counter() - t0, per_query


def _rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


# ---------------------------------------------------------------------------
# history_tiles: scan -> versions -> as-of snapshots -> polygon -> tiles
#                -> checkpointed tile write
# ---------------------------------------------------------------------------


@dataclass
class History:
    path: str
    events: int
    entity_mod: int
    input_bytes: int


def history_inputs(inputs: str, seed: int) -> History:
    path = gen.history(inputs, seed, TILES_REPLICAS, HISTORY_FILES)
    files = sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))
    return History(
        path=path,
        events=sum(_rows(f) for f in files),
        entity_mod=ENTITIES_PER_REPLICA * TILES_REPLICAS,
        input_bytes=gen.parquet_bytes(path),
    )


def _timed(layer: dict, name: str, build):
    """Build a layer's frame, materialize it at the layer boundary and
    record the seconds spent."""
    t0 = time.perf_counter()
    ck = build().localCheckpoint(eager=True)
    layer[name] = time.perf_counter() - t0
    return ck


def _written(path: str) -> tuple[int, int]:
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs]
    return sum(os.path.getsize(f) for f in files), len(files)


class TilesJob:
    """The bulk read path, built from the engine's public functions, with
    its tiles persisted through ``runtime.CheckpointedStage`` (bucketed
    parquet plus one lineage manifest per bucket) as
    ``jobs/run_tiles_checkpointed.py`` does."""

    def __init__(self, spark, h: History):
        from oshdb_spark.runtime import input_snapshot_fingerprint

        self.spark, self.h = spark, h
        self.out_root = os.path.join(repo.WORK, "tiles-out")
        shutil.rmtree(self.out_root, ignore_errors=True)
        self.snapshot_id = input_snapshot_fingerprint(spark, [h.path])

    def versions(self):
        from oshdb_spark.sources.versions import derive_versions

        return derive_versions(self.spark.read.parquet(self.h.path), entity_mod=self.h.entity_mod)

    def snapshots(self, v):
        from oshdb_spark.operators.snapshot import snapshot_timestamps, snapshots
        from oshdb_spark.sources.versions import SNAPSHOT_TS

        return snapshots(v, snapshot_timestamps(self.spark, SNAPSHOT_TS))

    def polygon(self, snap):
        from oshdb_spark.operators.spatial import filter_polygon
        from oshdb_spark.queries import DIAMOND_LAT, DIAMOND_LON

        return filter_polygon(snap, DIAMOND_LON, DIAMOND_LAT, zoom=TILES_FILTER_ZOOM)

    def tiles(self, hit):
        from pyspark.sql import functions as F

        from oshdb_spark.operators.tiles import raster_tiles

        t = raster_tiles(hit, zoom=TILES_ZOOM)
        return t.withColumn("cell_id", (F.col("tile_y") * (1 << TILES_ZOOM) + F.col("tile_x")).cast("long"))

    def stage(self, label: str):
        from oshdb_spark.runtime import CheckpointedStage

        return CheckpointedStage(
            out_dir=os.path.join(self.out_root, label),
            stage="history_tiles",
            num_buckets=TILE_BUCKETS,
            bucket_key="cell_id",
            input_snapshot=self.snapshot_id,
            wave_size=TILE_BUCKETS,
        )

    def read_back(self, stage):
        """The written tiles, as the check compares them (untimed)."""
        df = self.spark.read.parquet(stage.out_dir)
        return force(df.select("zoom", "tile_x", "tile_y", "val"))


def history_tiles(s: Session, h: History, seconds: float, trace: bool) -> Outcome:
    job = TilesJob(s.spark, h)
    results, stored = [], []

    def finish(label, stage, summary):
        results.append((label, summary, job.read_back(stage)))
        stored.append(_written(stage.out_dir))
        shutil.rmtree(stage.out_dir)

    def iterate(label):
        stage = job.stage(label)
        t0 = time.perf_counter()
        summary = stage.run(s.spark, lambda sp: job.tiles(job.polygon(job.snapshots(job.versions()))))
        wall = time.perf_counter() - t0
        finish(label, stage, summary)
        return wall

    cold = iterate("cold")
    # checked, not sampled
    for i in range(WARMUP_ITERATIONS):
        iterate(f"warmup{i}")
    mark = s.counters.mark()
    warm: list[float] = []
    t_warm = time.perf_counter()
    while len(warm) < MIN_WARM_ITERATIONS or time.perf_counter() - t_warm < seconds:
        warm.append(iterate(f"warm{len(warm)}"))
    window = s.counters.since(mark)
    med = statistics.median(warm)

    out = Outcome()
    out.end_to_end = {
        "setup_s": (s.setup_s, 1),
        "cold_pass_s": (cold, 1),
        "warm_pass_s": (med, len(warm)),
        "query_p50_s": (med, len(warm)),
        "query_p90_s": (quantile(warm, 0.9), len(warm)),
        "events_per_s": (h.events / med, len(warm)),
    }
    if trace:
        out.per_layer = _tiles_traced(s, job, finish, window, len(warm), med)
        bytes_written, files_written = stored[-1]
        out.per_layer.update(
            {
                "runtime.checkpointed_stage.bytes_written": float(bytes_written),
                "runtime.checkpointed_stage.files_written": float(files_written),
                "runtime.stored_bytes_ratio": bytes_written / h.input_bytes,
            }
        )
    twin = oracle.HistoryTwin(h.path, h.entity_mod)
    expected = twin.tiles(TILES_ZOOM)
    for label, summary, pdf in results:
        out.check(f"history_tiles/{label}", oracle.frame_verdict("history_tiles", pdf, expected))
        out.check(
            f"history_tiles/{label}/manifests",
            "OK"
            if summary["complete"] and summary["rows_out"] == len(expected)
            else f"stage summary {summary}, expected {len(expected)} tiles",
        )
    twin.close()
    shutil.rmtree(job.out_root, ignore_errors=True)
    out.detail = {"events": h.events, "entity_mod": h.entity_mod, "cold_s": cold, "warm_s": warm}
    return out


def _tiles_traced(s: Session, job: TilesJob, finish, window, iterations: int, untraced: float) -> dict:
    """One iteration with every layer materialized at its boundary."""
    layer = {name: 0.0 for name in PER_LAYER}
    stage = job.stage("traced")
    t0 = time.perf_counter()
    v = _timed(layer, "sources.derive_versions.s", job.versions)
    sn = _timed(layer, "operators.snapshot.snapshots.s", lambda: job.snapshots(v))
    m = s.counters.mark()
    hit = _timed(layer, "operators.spatial.filter_polygon.s", lambda: job.polygon(sn))
    kernel_rows = s.counters.since(m).node_metric("number of output rows", "ArrowEvalPython")
    tiles = _timed(layer, "operators.tiles.raster_tiles.s", lambda: job.tiles(hit))
    t1 = time.perf_counter()
    summary = stage.run(s.spark, lambda sp: tiles)
    layer["runtime.checkpointed_stage.s"] = time.perf_counter() - t1
    traced = time.perf_counter() - t0
    rows_in, kept = sn.count(), hit.count()
    layer.update(
        {
            "session.start_s": s.start_s,
            "session.ship_s": s.ship_s,
            "sources.derive_versions.rows": float(v.count()),
            "operators.snapshot.snapshots.rows_out": float(rows_in),
            "operators.spatial.filter_polygon.rows_in": float(rows_in),
            "operators.spatial.filter_polygon.kernel_rows": kernel_rows,
            "operators.spatial.filter_polygon.kept_rows": float(kept),
            "operators.spatial.filter_polygon.kernel_share": kernel_rows / rows_in if rows_in else 0.0,
            "operators.spatial.filter_polygon.kernel_keep_ratio": kept / kernel_rows if kernel_rows else 0.0,
            "operators.tiles.raster_tiles.tiles_out": float(tiles.count()),
            "runtime.checkpointed_stage.waves": float(
                len({mf["wave"] for mf in stage.committed_buckets().values()})
            ),
            # Spark's counters per untraced warm iteration (the busy share
            # is already a ratio)
            **{
                k: (v if k.endswith("share") else v / iterations)
                for k, v in rollup(window).items()
            },
            "trace.untraced_wall_s": untraced,
            "trace.traced_wall_s": traced,
            "trace.overhead_s": traced - untraced,
        }
    )
    finish("traced", stage, summary)
    return layer


# name -> (input generator(seed dir, seed), workload)
WORKLOADS = {
    "catalog": (gen.catalog_tables, catalog),
    "history_tiles": (history_inputs, history_tiles),
}
