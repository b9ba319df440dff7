"""Seeded benchmark inputs.

Weather bronze keeps the data shape of ``tools/make_weather_dir.py``
(stations in the reference bounding box with ~1% NULL coordinates,
hourly observations with ~2% double-null rows, ~8% unvalidated rows and
~1% outliers, one forecast issue per station-day with 12 target hours),
with two differences that make a seed give the same inputs on any host:

- the seed is mixed into every ``hash_uniform`` salt, so each seed is a
  different, fully deterministic data set;
- every table is written with a fixed file count, not one file per core.

The tables are written by DuckDB with ``hash_uniform_sql``, the engine's
SQL twin of ``hash_uniform`` (same md5 variate), so making the inputs
neither needs nor warms the Spark session being measured.

The text/vector tables for the catalog workload mirror the shape of the
sf0.01 ``documents`` and ``embeddings`` test tables (TESTDATA.md, 500 rows
each): bag-of-words texts over a 30-word vocabulary with ~5%
near-duplicates, and unit-norm 64-d vectors drawn around 10 clusters.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from weather_data_pipeline_sv_spark.operators.sampling import hash_uniform_sql

BASE_TS = "2026-01-01 00:00:00"
BASE = dt.datetime.fromisoformat(BASE_TS)
LAT0, LAT_SPAN = 51.5, 2.0
LON0, LON_SPAN = 11.0, 4.0
OBS_FILES = 8
FCST_FILES = 4


class WeatherGen:
    """SELECTs producing the bronze tables of one seed; column order and
    types follow ``plans/schemas.py``. ``geo_seed`` (default: ``seed``)
    places the stations, so observation hours of a new seed can extend a
    bronze dir made with another."""

    def __init__(self, seed: int, n_stations: int, n_postal: int,
                 geo_seed: int | None = None):
        self.seed = seed
        self.geo_seed = seed if geo_seed is None else geo_seed
        self.n_stations = n_stations
        self.n_postal = n_postal

    def _u(self, salt: str, key: str = "id", seed: int | None = None) -> str:
        seed = self.seed if seed is None else seed
        return f"({hash_uniform_sql(key, f'{seed}:{salt}')})"

    def _ts(self, hours: str) -> str:
        return f"(TIMESTAMP '{BASE_TS}' + to_hours(CAST({hours} AS BIGINT)))"

    def _located(self) -> str:
        g = self.geo_seed
        return (f"{LAT0} + {LAT_SPAN} * {self._u('slat', 'sid', g)} AS latitude, "
                f"{LON0} + {LON_SPAN} * {self._u('slon', 'sid', g)} AS longitude")

    def stations(self) -> str:
        null = f"{self._u('snull')} < 0.01"
        return f"""
        SELECT printf('S%06d', id) AS station_id,
               printf('Station %d', id) AS station_name,
               CASE WHEN {null} THEN NULL ELSE {LAT0} + {LAT_SPAN} * {self._u('slat')}
                    END AS latitude,
               CASE WHEN {null} THEN NULL ELSE {LON0} + {LON_SPAN} * {self._u('slon')}
                    END AS longitude,
               500.0 * {self._u('alt')} AS altitude,
               'synthetic' AS source,
               TIMESTAMP '{BASE_TS}' AS first_record_date,
               TIMESTAMP '{BASE_TS}' AS last_record_date
        FROM range(0, {self.n_stations}) t(id) ORDER BY id"""

    def postal_codes(self) -> str:
        return f"""
        SELECT printf('1%04d', id) AS postal_code, 'Berlin' AS city,
               'BE' AS state,
               {LAT0} + {LAT_SPAN} * {self._u('plat')} AS centroid_lat,
               {LON0} + {LON_SPAN} * {self._u('plon')} AS centroid_lon
        FROM range(0, {self.n_postal}) t(id) ORDER BY id"""

    def _measures(self) -> str:
        u = self._u
        temp = f"(-10.0 + 40.0 * {u('temp')})"
        # Spark's double -> int cast truncates; DuckDB's rounds
        return f"""
            CASE WHEN {u('crit')} < 0.02 THEN NULL
                 WHEN {u('out')} < 0.01 THEN {temp} + 80.0
                 ELSE {temp} END AS temperature,
            30 + CAST(trunc({u('hum')} * 70) AS INTEGER) AS humidity,
            980.0 + 50.0 * {u('prs')} AS pressure,
            CASE WHEN {u('crit')} < 0.02 THEN NULL
                 ELSE 25.0 * {u('wnd')} END AS wind_speed,
            CAST(trunc({u('dir')} * 360) AS INTEGER) AS wind_direction,
            CASE WHEN {u('prc')} < 0.7 THEN 0.0
                 ELSE 8.0 * {u('prcv')} END AS precipitation,
            CAST(trunc({u('cld')} * 100) AS INTEGER) AS cloud_cover,
            5.0 + 45.0 * {u('vis')} AS visibility,
            60.0 * {u('sun')} AS sunshine,
            -15.0 + 30.0 * {u('dew')} AS dew_point"""

    def observations(self, hour_lo: int, hour_hi: int) -> str:
        """One row per station-hour for hours [hour_lo, hour_hi), in time
        order, so row-group stats let the lookback filter skip history."""
        n = self.n_stations
        return f"""
        SELECT printf('S%06d', sid) AS station_id, {self._ts('h')} AS timestamp,
               {self._measures()}, {self._located()},
               'synthetic' AS source, {self._u('val')} < 0.92 AS validated,
               'historical' AS source_type, {self._ts('h + 1')} AS _ingest_ts
        FROM (SELECT id, id % {n} AS sid, id // {n} AS h
              FROM range({hour_lo * n}, {hour_hi * n}) t(id))
        ORDER BY id"""

    def forecasts(self, day_lo: int, day_hi: int) -> str:
        """One issue per station-day at 00:00 with 12 target hours."""
        n = self.n_stations
        per_day = n * 12
        return f"""
        SELECT printf('S%06d', sid) AS station_id,
               {self._ts('day * 24')} AS forecast_timestamp,
               {self._ts('day * 24 + t + 1')} AS target_timestamp,
               {self._measures()}, {self._located()},
               'synthetic' AS source, {self._ts('day * 24')} AS _ingest_ts
        FROM (SELECT id, id // {per_day} AS day, (id % {per_day}) % {n} AS sid,
                     (id % {per_day}) // {n} AS t
              FROM range({day_lo * per_day}, {day_hi * per_day}) t(id))
        ORDER BY id"""


def _copy(con, select: str, path: str) -> None:
    con.execute(f"COPY ({select}) TO '{path}' (FORMAT PARQUET)")


def _write_sliced(con, make, lo: int, hi: int, files: int, dst: str) -> None:
    """``files`` contiguous slices of [lo, hi), one parquet file each."""
    os.makedirs(dst, exist_ok=True)
    for i in range(files):
        a = lo + (hi - lo) * i // files
        b = lo + (hi - lo) * (i + 1) // files
        _copy(con, make(a, b), f"{dst}/part-{i:05d}.parquet")


def write_weather_dir(dst: str, seed: int, n_stations: int, days: int,
                      n_postal: int) -> dict:
    """Bronze dir of ``days`` days; returns its meta (also in meta.json)."""
    g = WeatherGen(seed, n_stations, n_postal)
    con = duckdb.connect()
    try:
        for name, select in (("weather_stations", g.stations()),
                             ("postal_codes", g.postal_codes())):
            os.makedirs(f"{dst}/{name}.parquet", exist_ok=True)
            _copy(con, select, f"{dst}/{name}.parquet/part-00000.parquet")
        _write_sliced(con, g.observations, 0, days * 24, OBS_FILES,
                      f"{dst}/raw_weather_observations.parquet")
        _write_sliced(con, g.forecasts, 0, days, FCST_FILES,
                      f"{dst}/raw_weather_forecasts.parquet")
    finally:
        con.close()
    meta = {"seed": seed, "n_stations": n_stations, "days": days,
            "n_postal": n_postal, "base_ts": BASE_TS}
    with open(f"{dst}/meta.json", "w") as f:
        json.dump(meta, f)
    return meta


def write_observation_hours(dst: str, seed: int, n_stations: int,
                            hour_lo: int, hour_hi: int,
                            geo_seed: int | None = None) -> list[str]:
    """One file per hour in [hour_lo, hour_hi): each is what one ingest
    run appends to the observations table of a bronze dir whose stations
    were placed by ``geo_seed``."""
    g = WeatherGen(seed, n_stations, 0, geo_seed)
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    paths = []
    try:
        for h in range(hour_lo, hour_hi):
            paths.append(f"{dst}/hour-{h:06d}.parquet")
            _copy(con, g.observations(h, h + 1), paths[-1])
    finally:
        con.close()
    return paths


_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = (("en", 0.44), ("zh", 0.15), ("es", 0.14), ("de", 0.14), ("fr", 0.13))


def write_text_tables(dst: str, seed: int, n_docs: int = 500,
                      n_vecs: int = 500, dim: int = 64) -> None:
    """``documents`` and ``embeddings`` parquet files in the test-table
    schema."""
    rng = np.random.default_rng(seed)
    texts = []
    for i in range(n_docs):
        n_words = int(rng.integers(10, 100))
        texts.append(" ".join(rng.choice(_VOCAB, n_words)))
    # ~5% near-duplicates: another document's text plus a marker word
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        src = int(rng.integers(0, n_docs))
        if src != i:
            texts[i] = texts[src] + " dup"
    langs = rng.choice([l for l, _ in _LANGS], n_docs,
                       p=[p for _, p in _LANGS])
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centers = rng.normal(0.0, 1.0, (10, dim))
    labels = rng.integers(0, 10, n_vecs)
    x = centers[labels] * 0.15 + rng.normal(0.0, 1.0, (n_vecs, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    embs = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    os.makedirs(dst, exist_ok=True)
    pq.write_table(docs, f"{dst}/documents.parquet")
    pq.write_table(embs, f"{dst}/embeddings.parquet")
