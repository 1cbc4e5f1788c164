"""Independent DuckDB answers for the benchmark's outputs.

* catalog: each query's ``ORACLES`` twin over the same generated
  tables, compared with ``tests/driver_mimic.compare``;
* history_tiles: a DuckDB twin of the version derivation, as-of
  snapshot, diamond polygon and tile assignment, assembled from the
  engine's own SQL mirrors (the ``sources.versions`` constants,
  ``queries._tile_xy_sql`` and the diamond predicate of
  ``o_pip_diamond_counts``) and parameterised by the same
  ``entity_mod`` the engine is given.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

import repo


def _error(e: Exception) -> str:
    # a Python-worker failure ends with the worker's own exception line
    lines = [line.strip() for line in str(e).splitlines() if line.strip()]
    return f"SPARK ERROR {type(e).__name__}: {lines[-1][:200] if lines else ''}"


def frame_verdict(name: str, got, expected: pd.DataFrame) -> str:
    """``OK`` or the reason ``got`` (a frame, or the exception the engine
    raised) differs from ``expected``."""
    if isinstance(got, Exception):
        return _error(got)
    return repo.driver_mimic().compare(name, got, expected)


class CatalogOracle:
    """The catalog's DuckDB twins over one generated table directory;
    each twin runs once however many results it judges."""

    def __init__(self, data: str):
        self._mimic = repo.driver_mimic()
        self._con = self._mimic.duck_con(data)
        self._answers: dict[str, pd.DataFrame | Exception] = {}

    def verdict(self, name: str, got) -> str:
        from oshdb_spark.queries import ORACLES

        if isinstance(got, Exception):
            return _error(got)
        if name not in self._answers:
            try:
                self._answers[name] = self._con.execute(ORACLES[name]).df()
            except duckdb.Error as e:
                self._answers[name] = e
        want = self._answers[name]
        if isinstance(want, Exception):
            return f"DUCK ERROR {type(want).__name__}: {str(want)[:200]}"
        return self._mimic.compare(name, got, want)

    def close(self) -> None:
        self._con.close()


class HistoryTwin:
    """DuckDB twin of the history_tiles pipeline over the generated
    parquet files."""

    def __init__(self, path: str, entity_mod: int):
        self._con = duckdb.connect()
        self._con.execute(
            "CREATE VIEW events AS SELECT * FROM read_parquet("
            f"'{os.path.join(path, '*.parquet')}')"
        )
        self._con.execute(f"CREATE TEMP TABLE snap AS {self._snapshot_sql(entity_mod)}")

    @staticmethod
    def _snapshot_sql(m: int) -> str:
        from oshdb_spark.sources.versions import (
            LAT_A,
            LAT_JITTER,
            LAT_OFF,
            LAT_SPAN,
            LON_A,
            LON_JITTER,
            LON_OFF,
            LON_SPAN,
            snapshot_ts_values_sql,
        )

        # derive_versions: entity = event_id % m, version order (ts,
        # event_id), valid_to = next version's ts; the as-of probe keeps
        # visible versions whose [ts, valid_to) holds the snapshot ts
        return f"""
        WITH v AS (
          SELECT *,
                 lead(ts) OVER (PARTITION BY entity_id ORDER BY ts, event_id) AS valid_to
          FROM (
            SELECT event_id % {m} AS entity_id,
                   event_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS ts,
                   (event_id % 7) <> 0 AS visible,
                   (event_id % {m}) * {LON_A} % {LON_SPAN} - {LON_OFF}
                     + CASE WHEN event_id % 5 = 0 THEN {LON_JITTER} ELSE 0 END AS lon_e7,
                   (event_id % {m}) * {LAT_A} % {LAT_SPAN} - {LAT_OFF}
                     + CASE WHEN event_id % 11 = 0 THEN {LAT_JITTER} ELSE 0 END AS lat_e7
            FROM events
          )
        )
        SELECT v.entity_id, v.lon_e7, v.lat_e7, t.snap_ts
        FROM v JOIN {snapshot_ts_values_sql()}
          ON t.snap_ts >= v.ts AND (v.valid_to IS NULL OR t.snap_ts < v.valid_to)
        WHERE v.visible
        """

    def tiles(self, zoom: int) -> pd.DataFrame:
        """Per-tile as-of row counts inside the diamond."""
        from oshdb_spark.queries import DIAMOND_CX, DIAMOND_CY, DIAMOND_R, _tile_xy_sql

        x, y = _tile_xy_sql(zoom)
        return self._con.execute(
            f"""
            SELECT {zoom} AS zoom, {x} AS tile_x, {y} AS tile_y, count(*) AS val
            FROM snap
            WHERE abs(lon_e7 - {DIAMOND_CX}) + abs(lat_e7 - {DIAMOND_CY}) < {DIAMOND_R}
            GROUP BY 1, 2, 3
            """
        ).df()

    def close(self) -> None:
        self._con.close()
