"""The workloads: what each sets up, what one measured operation is,
how its outputs are checked, and which per-layer metrics its traced run
reports.

A workload's life in one run: ``prepare`` makes its inputs from the seed
(not timed); ``load`` (repeated, each time in a fresh JVM) and ``warm``
(once, in the last of them) are the timed set-up; ``op`` is one measured
operation; ``check`` runs outside the timed region; ``layer_metrics``
reads the spans and Spark counters of the traced operations.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import importlib.util
import json
import math
import os
import random
import shutil
import statistics
import time
from contextlib import contextmanager

import duckdb
from pyspark.sql import functions as F

import gen
from spans import Tracer, merge_stats, task_max_over_median

from weather_data_pipeline_sv_spark.api import app as app_module
from weather_data_pipeline_sv_spark.api.app import create_app
from weather_data_pipeline_sv_spark.plans import pipeline as pl
from weather_data_pipeline_sv_spark.plans import schemas
from weather_data_pipeline_sv_spark.plans.pipeline import GOLD_KEYS, run_transform
from weather_data_pipeline_sv_spark.plans.scheduler import CronSchedule, Job, Scheduler
from weather_data_pipeline_sv_spark.sources import writers
from weather_data_pipeline_sv_spark.sources.testdata import load_tables
from weather_data_pipeline_sv_spark.streaming.jobs import incremental_batch_run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_work", "cache")

OBS_LOOKBACK_H, FCST_LOOKBACK_H = 168, 48  # the reference DAG's windows
TICK_LOOKBACK_H = 6
TRANSFORM_CRON = "30 * * * *"  # the reference transform DAG's schedule
GOLD_COLS = [
    f.name for f in schemas.ANALYTICS_WEATHER_BY_POSTAL_CODE.fields
    if f.name not in ("interpolated_fields", "created_at", "updated_at")
]
_TABLES = (
    ("weather_stations", schemas.WEATHER_STATIONS),
    ("postal_codes", schemas.POSTAL_CODES),
    ("raw_weather_observations", schemas.RAW_WEATHER_OBSERVATIONS),
    ("raw_weather_forecasts", schemas.RAW_WEATHER_FORECASTS),
)


def _oracle_module():
    spec = importlib.util.spec_from_file_location(
        "weather_oracle", os.path.join(ROOT, "tests", "weather_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0.0 else v
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    return v


def _digest(rows) -> tuple[int, str]:
    """Row count plus an order-insensitive hash of the normalised rows."""
    lines = sorted(repr(tuple(_norm(v) for v in r)) for r in rows)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _parquet_glob(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning=false)"


def _dir_files(path: str) -> list[tuple[str, int, float]]:
    out = []
    for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        st = os.stat(p)
        out.append((p, st.st_size, st.st_mtime))
    return out


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class _Layers:
    """Trace-mode stand-ins for the layer entry points the pipeline and
    the writers call. Each materialises its input first, then times the
    layer's own output into a span, so a lazy layer is not billed for
    recomputing the layers upstream of it."""

    def __init__(self, tracer: Tracer):
        self.t = tracer
        self.pinned = []

    def _pin(self, df):
        df = df.persist()
        self.pinned.append(df)
        return df, df.count()

    def release(self) -> None:
        for df in self.pinned:
            df.unpersist()
        self.pinned.clear()

    def cleaning(self, name, fn, time_col):
        def wrapper(raw, asof, lookback_hours=168):
            cutoff = F.lit((asof - dt.timedelta(hours=lookback_hours))
                           .isoformat(sep=" ")).cast("timestamp_ntz")
            with self.t.span("cleaning.input") as sp:
                raw, sp["counts"]["rows"] = self._pin(
                    raw.filter(F.col(time_col) >= cutoff))
            with self.t.span(name) as sp:
                out, sp["counts"]["rows"] = self._pin(
                    fn(raw, asof, lookback_hours))
            return out
        return wrapper

    def temporal(self, fn):
        def wrapper(stg, asof, lookback_hours=24):
            with self.t.span("cleaning.temporal_check") as sp:
                out, sp["counts"]["rows"] = self._pin(
                    fn(stg, asof, lookback_hours))
            return out
        return wrapper

    def aggregate(self, fn):
        def wrapper(stg, stations, postal_codes, data_type, asof, **kw):
            name = ("aggregation.fcst" if data_type == "forecast"
                    else "aggregation.obs")
            with self.t.span(name) as sp:
                out, sp["counts"]["rows"] = self._pin(
                    fn(stg, stations, postal_codes, data_type, asof, **kw))
            return out
        return wrapper

    def merge(self, fn):
        def wrapper(existing, incoming, keys, order_col=None):
            with self.t.span("merge.input") as sp:
                existing, n_old = self._pin(existing)
                incoming, n_new = self._pin(incoming)
                sp["counts"]["rows"] = n_old + n_new
            with self.t.span("merge.update_wins") as sp:
                out, sp["counts"]["rows"] = self._pin(
                    fn(existing, incoming, keys, order_col=order_col))
            return out
        return wrapper

    @contextmanager
    def installed(self):
        saved = (pl.clean_observations, pl.clean_forecasts,
                 pl.check_temporal_consistency, pl.aggregate_to_postal_codes,
                 writers.merge_update_wins)
        pl.clean_observations = self.cleaning(
            "cleaning.obs", saved[0], "timestamp")
        pl.clean_forecasts = self.cleaning(
            "cleaning.fcst", saved[1], "forecast_timestamp")
        pl.check_temporal_consistency = self.temporal(saved[2])
        pl.aggregate_to_postal_codes = self.aggregate(saved[3])
        writers.merge_update_wins = self.merge(saved[4])
        try:
            yield
        finally:
            (pl.clean_observations, pl.clean_forecasts,
             pl.check_temporal_consistency, pl.aggregate_to_postal_codes,
             writers.merge_update_wins) = saved
            self.release()


class Workload:
    name = ""
    op_name = ""
    rate: float  # nominal operations per second: sets how many a run measures

    def __init__(self, work: str, seed: int, seconds: int, tracer: Tracer):
        self.work, self.seed, self.seconds, self.t = work, seed, seconds, tracer
        self.layers = _Layers(tracer)
        self.checks: list[tuple[str, bool, str]] = []
        # operations that completed but whose output a check found wrong
        self.wrong_ops = 0
        self.sizes: dict = {}

    # hooks --------------------------------------------------------------
    def prepare(self, session) -> None:
        """Inputs from the seed. ``session()`` is a context manager giving
        a SparkSession in a JVM of its own, stopped on exit, for inputs
        only the engine can make."""
    def load(self, spark) -> None: ...
    def warm(self, spark) -> None: self.op(spark)
    def op(self, spark): raise NotImplementedError
    def check(self, spark) -> None: ...
    def report(self) -> dict: return {}
    def layer_metrics(self, groups: dict) -> dict: return {}

    def traced(self):
        """Context in which the traced operations run."""
        return self.layers.installed()

    # helpers ------------------------------------------------------------
    def record(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))

    def op_spans(self) -> list[dict]:
        return self.t.named(self.op_name)

    def span_med(self, name: str, self_time: bool = False, scale=1.0) -> float:
        vals = []
        for root in self.op_spans():
            ss = self.t.within(root, name)
            if ss:
                vals.append(sum(self.t.self_time(s) if self_time
                                else self.t.duration(s) for s in ss))
        return _median(vals) * scale

    def count_med(self, name: str) -> float:
        vals = []
        for root in self.op_spans():
            ss = self.t.within(root, name)
            if ss:
                vals.append(sum(s["counts"].get("rows", 0) for s in ss))
        return _median(vals)

    def stats_med(self, groups, name, key, own_only=False) -> float:
        vals = []
        for root in self.op_spans():
            ss = self.t.within(root, name)
            if not ss:
                continue
            ids = ([s["id"] for s in ss] if own_only else
                   [i for s in ss for i in self.t.subtree(s["id"])])
            st = merge_stats(groups, ids)
            vals.append(task_max_over_median(st) if key == "skew" else st[key])
        return _median(vals)

    def spark_metrics(self, groups) -> dict:
        per_op = [merge_stats(groups, self.t.subtree(r["id"]))
                  for r in self.op_spans()]
        return {
            "spark.jobs": _median([s["jobs"] for s in per_op]),
            "spark.tasks": _median([s["tasks"] for s in per_op]),
            "spark.shuffle_write_bytes": _median(
                [s["shuffle_write_bytes"] for s in per_op]),
            "spark.spill_bytes": _median([s["spill_bytes"] for s in per_op]),
            "spark.task_max_over_median": _median(
                [task_max_over_median(s) for s in per_op]),
        }


class _Weather(Workload):
    """Shared bronze/gold plumbing of the weather workloads.

    Both run at the shape of the repo's ``data_wx1`` dir: 100 stations, 90
    days, 900 postal codes. Their history (bronze made from DATA_SEED, and
    the first load of gold, about 189k rows in 8 date partitions) is built
    by the engine once per checkout, in a JVM of its own, checked against
    the oracle, and kept under ``_work/cache``: a cold first load at this
    shape takes longer than a run can spend. The run's seed draws what
    the workload adds to it.
    """

    n_stations, n_days, n_postal = 100, 90, 900
    DATA_SEED = 1
    bronze = lake = ""
    pairs: list

    def use_history(self, session) -> dict:
        """Point ``bronze`` and ``lake`` at the cached history, building
        it first if this checkout has none; returns its meta."""
        self.pairs = []
        key = (f"wx-{self.n_stations}x{self.n_days}x{self.n_postal}"
               f"-seed{self.DATA_SEED}")
        cache = os.path.join(CACHE, key)
        if not os.path.isfile(os.path.join(cache, "meta.json")):
            cache = self.build_history(session, cache)
        self.bronze = os.path.join(cache, "bronze")
        self.lake = cache
        with open(os.path.join(cache, "meta.json")) as f:
            return json.load(f)

    def build_history(self, session, dst: str) -> str:
        """Bronze from DATA_SEED and the first load of gold by the engine,
        checked against the oracle. Moved to ``dst`` only if the check
        passes; returns where it is."""
        tmp = f"{dst}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        bronze = os.path.join(tmp, "bronze")
        meta = self.make_bronze(bronze, self.DATA_SEED)
        meta["data_seed"] = meta.pop("seed")
        t0 = time.perf_counter()
        with session() as spark:
            res, meta["write_table_s"] = self.build_gold(
                spark, self.read_bronze(spark, bronze), tmp)
        meta["first_load_s"] = time.perf_counter() - t0
        con = self.duck_bronze(bronze)
        self.check_first_load(con, tmp, res.temporal_issues, "history")
        con.close()
        self.lake = tmp
        meta["first_load_rows"] = self.gold_stats()["rows"]
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        if not all(ok for _, ok, _ in self.checks):
            return tmp  # use it for this run, cache nothing
        try:
            os.rename(tmp, dst)
        except OSError:  # another run cached it first
            shutil.rmtree(tmp, ignore_errors=True)
        return dst

    @property
    def asof(self) -> dt.datetime:
        """Six hours after the last forecast issue, so the history, latest
        and forecast routes all have rows (at the last generated hour the
        generated forecast targets are already past)."""
        return gen.BASE + dt.timedelta(hours=(self.n_days - 1) * 24 + 6)

    def make_bronze(self, dst: str, seed: int) -> dict:
        meta = gen.write_weather_dir(dst, seed, self.n_stations, self.n_days,
                                     self.n_postal)
        con = self.duck_bronze(dst)
        meta["bronze_rows"] = {n: con.execute(f"SELECT count(*) FROM {n}")
                               .fetchone()[0] for n, _ in _TABLES}
        con.close()
        return meta

    @staticmethod
    def read_bronze(spark, bronze: str) -> dict:
        return {n: spark.read.schema(s).parquet(f"{bronze}/{n}.parquet")
                for n, s in _TABLES}

    def transform(self, spark, tb, obs, fcst, asof, obs_h, fcst_h):
        with self.t.span("pipeline.run_transform"):
            res = run_transform(obs, fcst, tb["weather_stations"],
                                tb["postal_codes"], asof,
                                obs_lookback_hours=obs_h,
                                fcst_lookback_hours=fcst_h)
        return res

    def build_gold(self, spark, tb: dict, lake: str):
        """First load: run_transform at the reference DAG's windows, then
        date-partitioned gold via write_table. Returns the transform's
        result and the seconds write_table took."""
        res = self.transform(spark, tb, tb["raw_weather_observations"],
                             tb["raw_weather_forecasts"], self.asof,
                             OBS_LOOKBACK_H, FCST_LOOKBACK_H)
        t0 = time.perf_counter()
        with self.t.span("writers.write_table"):
            writers.write_table(res.gold, lake, "gold", "weather",
                                partition_by_date_of="timestamp")
        return res, time.perf_counter() - t0

    def gold_path(self, lake: str | None = None) -> str:
        return writers.table_path(lake or self.lake, "gold", "weather")

    def check_first_load(self, con, lake: str, issues: int,
                         prefix: str) -> None:
        """Gold of a first load and the transform's temporal-issue count
        against the oracle over the bronze views of ``con``."""
        oracle = _oracle_module()
        want = []
        for data_type, h in (("observation", OBS_LOOKBACK_H),
                             ("forecast", FCST_LOOKBACK_H)):
            want += con.execute(oracle.gold_oracle_sql(data_type, self.asof, h)
                                ).fetchall()
        got = con.execute(f"SELECT {', '.join(GOLD_COLS)} FROM "
                          f"{_parquet_glob(self.gold_path(lake))}").fetchall()
        dg, dw = _digest(got), _digest(want)
        self.record(f"{prefix}.gold_vs_oracle", dg == dw and dw[0] > 0,
                    f"gold {dg[0]} rows, oracle {dw[0]} rows")
        n = con.execute(oracle.temporal_issue_count_sql(self.asof, 24)
                        ).fetchone()[0]
        self.record(f"{prefix}.temporal_issues_vs_oracle", n == issues,
                    f"spark {issues}, oracle {n}")

    def transform_metrics(self, groups) -> dict:
        """cleaning / aggregation / pipeline metrics of run_transform."""
        rows_in = self.count_med("cleaning.input")
        kept = (self.count_med("cleaning.obs") + self.count_med("cleaning.fcst"))
        gold_rows = (self.count_med("aggregation.obs")
                     + self.count_med("aggregation.fcst"))
        return {
            "cleaning.obs_s": self.span_med("cleaning.obs"),
            "cleaning.fcst_s": self.span_med("cleaning.fcst"),
            "cleaning.rows_in": rows_in,
            "cleaning.rows_kept": kept,
            "cleaning.kept_share": kept / rows_in if rows_in else 0.0,
            "cleaning.temporal_check_s": self.span_med("cleaning.temporal_check"),
            "aggregation.obs_s": self.span_med("aggregation.obs"),
            "aggregation.fcst_s": self.span_med("aggregation.fcst"),
            "aggregation.pairs": _median(self.pairs) if self.pairs else 0.0,
            "aggregation.gold_rows": gold_rows,
            "aggregation.shuffle_bytes": (
                self.stats_med(groups, "aggregation.obs", "shuffle_write_bytes")
                + self.stats_med(groups, "aggregation.fcst",
                                 "shuffle_write_bytes")),
            "aggregation.task_max_over_median": max(
                self.stats_med(groups, "aggregation.obs", "skew"),
                self.stats_med(groups, "aggregation.fcst", "skew")),
            "pipeline.call_s": self.span_med("pipeline.run_transform",
                                             self_time=True),
            "pipeline.jobs": self.stats_med(groups, "pipeline.run_transform",
                                            "jobs", own_only=True),
        }

    @staticmethod
    def duck_bronze(bronze: str):
        con = _duck()
        for n, _ in _TABLES:
            con.execute(f"CREATE VIEW {n} AS SELECT * FROM "
                        f"{_parquet_glob(bronze + '/' + n + '.parquet')}")
        return con

    def gold_pairs(self, con, where: str = "TRUE") -> int:
        """Station-hour x postal pairs within 50 km behind the gold rows:
        every mapped row is one station's reading for one group."""
        return con.execute(
            f"SELECT CAST(sum(num_stations) AS BIGINT) FROM "
            f"{_parquet_glob(self.gold_path())} WHERE {where}").fetchone()[0]

    def gold_stats(self) -> dict:
        files = _dir_files(self.gold_path())
        con = _duck()
        rows = con.execute(f"SELECT count(*) FROM "
                           f"{_parquet_glob(self.gold_path())}").fetchone()[0]
        con.close()
        size = sum(f[1] for f in files)
        return {"files": len(files), "bytes": size, "rows": rows,
                "bytes_per_row": size / rows if rows else 0.0}


class Serve(_Weather):
    """One closed-loop client calling the WSGI app in process over gold
    persisted by write_table.

    The run's seed draws the requests. Routes take turns and codes follow
    Zipf's law (s = 1) over a seeded order, with a small share of unknown
    codes that must answer 404: no request log exists to fit a mix to,
    and the traced run reports each route on its own.
    """

    name = "serve"
    op_name = "api.request"
    rate = 3.0
    ROUTES = ("postal", "latest", "forecast")
    ZIPF_S = 1.0
    UNKNOWN_SHARE = 0.05
    WARM_REQUESTS = 20

    def prepare(self, session) -> None:
        self.sizes.update(self.use_history(session))
        con = _duck()
        g = _parquet_glob(self.gold_path())
        ts = self.asof.isoformat(sep=" ")
        # codes every route answers for at the serve clock
        known = [r[0] for r in con.execute(f"""
            SELECT postal_code FROM {g} GROUP BY postal_code
            HAVING count(*) FILTER (WHERE data_type = 'observation'
                     AND timestamp >= TIMESTAMP '{ts}' - INTERVAL 24 HOUR) > 0
               AND count(*) FILTER (WHERE data_type = 'forecast'
                     AND timestamp BETWEEN TIMESTAMP '{ts}'
                     AND TIMESTAMP '{ts}' + INTERVAL 48 HOUR) > 0
            ORDER BY postal_code""").fetchall()]
        con.close()
        rng = random.Random(self.seed)
        rng.shuffle(known)
        self.known = known
        self.weights = [1.0 / (k + 1) ** self.ZIPF_S for k in range(len(known))]
        self.rng = rng
        self.gold = self.gold_stats()
        self.sizes.update(known_postal_codes=len(known),
                          gold_files=self.gold["files"])
        self.responses = []
        self.route = ""

    def load(self, spark) -> None:
        gold = writers.read_table(spark, self.lake, "gold", "weather")
        asof = self.asof
        self.app = create_app(spark, gold, asof_provider=lambda: asof)

    def warm(self, spark) -> None:
        # request latency keeps falling over the first few dozen calls of
        # a fresh JVM (JIT): warm on a mix drawn from its own stream, so
        # the measured draws do not depend on the warm-up
        rng = random.Random(-self.seed)
        for i in range(self.WARM_REQUESTS):
            route = self.ROUTES[i % len(self.ROUTES)]
            self._call(f"/weather/{route}/{rng.choice(self.known)}")

    def draw(self) -> tuple[str, str, bool]:
        # routes in turn: the same mix in every run, whatever its length
        route = self.ROUTES[len(self.responses) % len(self.ROUTES)]
        if self.rng.random() < self.UNKNOWN_SHARE:
            return route, "9%04d" % self.rng.randrange(10000), True
        return route, self.rng.choices(self.known, self.weights)[0], False

    def _call(self, path: str) -> tuple[int, bytes]:
        status = []
        body = b"".join(self.app(
            {"PATH_INFO": path, "REQUEST_METHOD": "GET", "QUERY_STRING": ""},
            lambda s, h: status.append(int(s.split()[0]))))
        return status[0], body

    def op(self, spark):
        route, code, unknown = self.draw()
        self.route = route
        with self.t.span(self.op_name):
            status, body = self._call(f"/weather/{route}/{code}")
        self.responses.append((route, code, unknown, status, body))
        if status != (404 if unknown else 200):
            raise RuntimeError(f"{route}/{code}: HTTP {status}")

    @contextmanager
    def traced(self):
        """A span around the query each handler collects (the app's
        ``_rows``), inside the request's span: the request's own time is
        the app's overhead."""
        saved = app_module._rows

        def rows(df):
            with self.t.span(f"queries.{self.route}"):
                return saved(df)

        app_module._rows = rows
        try:
            yield
        finally:
            app_module._rows = saved

    def _expected(self, con, route: str, code: str):
        g = _parquet_glob(self.gold_path())
        ts = self.asof.isoformat(sep=" ")
        if route == "postal":
            cols = ("postal_code, timestamp, data_type, forecast_timestamp, "
                    "temperature_avg, temperature_min, temperature_max, "
                    "precipitation_sum, wind_speed_avg, wind_direction_avg, "
                    "cloud_cover_avg, pressure_msl_avg, relative_humidity_avg, "
                    "num_stations, avg_quality_score")
            sql = (f"SELECT {cols} FROM {g} WHERE postal_code = ? AND "
                   f"data_type = 'observation' AND timestamp >= "
                   f"TIMESTAMP '{ts}' - INTERVAL 24 HOUR "
                   f"ORDER BY timestamp DESC LIMIT 24")
        elif route == "latest":
            sql = (f"SELECT * FROM {g} WHERE postal_code = ? AND "
                   f"data_type = 'observation' ORDER BY timestamp DESC LIMIT 1")
        else:
            sql = (f"SELECT * FROM {g} WHERE postal_code = ? AND "
                   f"data_type = 'forecast' AND timestamp BETWEEN "
                   f"TIMESTAMP '{ts}' AND TIMESTAMP '{ts}' + INTERVAL 48 HOUR "
                   f"ORDER BY timestamp")
        res = con.execute(sql, [code])
        names = [d[0] for d in res.description]
        rows = [{k: _norm(v) for k, v in zip(names, r)} for r in res.fetchall()]
        # the app answers through json.dumps: compare in that form
        return json.loads(json.dumps(rows))

    def check(self, spark) -> None:
        """Each answered request against DuckDB over the same gold files;
        a request whose status was already wrong failed as an operation."""
        con = _duck()
        cache = {}
        bad = []
        answered = [r for r in self.responses if r[3] == (404 if r[2] else 200)]
        for route, code, unknown, status, body in answered:
            if (route, code) not in cache:
                cache[route, code] = self._expected(con, route, code)
            want = cache[route, code]
            got = json.loads(body)
            if unknown:
                ok = not want
            elif route == "latest":
                ok = [got] == want[:1]
            else:
                ok = got.get("data") == want and got.get("records") == len(want)
            if not ok:
                bad.append(f"{route}/{code}")
        con.close()
        self.record("serve.bodies_vs_duckdb", not bad,
                    f"{len(bad)} of {len(answered)} answers differ"
                    + (f", e.g. {bad[:3]}" if bad else ""))
        self.wrong_ops = len(bad)

    def layer_metrics(self, groups) -> dict:
        m = {}
        for route, label in (("postal", "history"), ("latest", "latest"),
                             ("forecast", "forecast")):
            m[f"queries.{label}_ms"] = _median([
                self.t.duration(s) for s in self.t.named(f"queries.{route}")
            ]) * 1e3
        per_req = [merge_stats(groups, self.t.subtree(r["id"]))
                   for r in self.op_spans()]
        m["queries.files_per_req"] = _median([p["files_read"] for p in per_req])
        m["queries.bytes_read_per_req"] = _median(
            [p["input_bytes"] for p in per_req])
        m["api.overhead_ms"] = _median(
            [self.t.self_time(r) for r in self.op_spans()]) * 1e3
        m["writers.gold_files"] = self.gold["files"]
        m["writers.gold_bytes_per_row"] = self.gold["bytes_per_row"]
        return m


class HourlyUpsert(_Weather):
    """Scheduler ticks on the transform DAG's cron: each lands one bronze
    hour, runs incremental_batch_run past the watermark with run_transform
    over a short window, and upserts the result into gold.

    A run works on its own copy of the cached history; the observation
    hours it lands are made from the run's seed. The warm pass is the
    first tick.
    """

    name = "hourly_upsert"
    op_name = "scheduler.tick"
    rate = 0.2

    def prepare(self, session) -> None:
        meta = self.use_history(session)
        self.sizes.update(meta)
        # ticks land bronze hours and rewrite gold partitions: use a copy
        for d in ("bronze", "gold"):
            shutil.copytree(os.path.join(self.lake, d),
                            os.path.join(self.work, d))
        self.bronze = os.path.join(self.work, "bronze")
        self.lake = self.work
        # more hours than a run lands: the warm tick and, traced or not,
        # the measured ones
        self.n_hours = 8 + 4 * self.seconds
        start = gen.BASE + dt.timedelta(hours=self.n_days * 24)
        self.hour_files = gen.write_observation_hours(
            os.path.join(self.work, "staged_hours"), self.seed,
            self.n_stations, self.n_days * 24, self.n_days * 24 + self.n_hours,
            geo_seed=self.DATA_SEED)
        self.now = start
        self.watermark = start - dt.timedelta(hours=1)
        self.landed = 0
        self.touched: list[dt.datetime] = []
        self.tick_files: list[tuple[int, int]] = []
        self.batch_rows: list[int] = []
        self.sched = Scheduler(
            [Job("transform_weather_dag", CronSchedule(TRANSFORM_CRON),
                 self._transform_job, retries=0)],
            start=start - dt.timedelta(minutes=45),
            sleep=lambda s: None)

    def load(self, spark) -> None:
        self.tb = self.read_bronze(spark, self.bronze)

    def _transform_job(self, asof: dt.datetime) -> None:
        spark = self.spark
        with self.t.span("tick.job"):
            obs = spark.read.schema(schemas.RAW_WEATHER_OBSERVATIONS).parquet(
                f"{self.bronze}/raw_weather_observations.parquet")

            def process(batch):
                if self.t.enabled:
                    with self.t.span("incremental.batch") as sp:
                        batch, n = self.layers._pin(batch)
                        sp["counts"]["rows"] = n
                    self.batch_rows.append(n)
                res = self.transform(spark, self.tb, batch,
                                     self.tb["raw_weather_forecasts"], asof,
                                     TICK_LOOKBACK_H, TICK_LOOKBACK_H)
                return res.gold

            with self.t.span("incremental.batch_run"):
                gold, wm = incremental_batch_run(obs, self.watermark, process)
            t0 = dt.datetime.now().timestamp()
            with self.t.span("writers.upsert_table"):
                writers.upsert_table(spark, gold, self.lake, "gold", "weather",
                                     GOLD_KEYS, partition_by_date_of="timestamp")
            if self.t.enabled:
                new = [f for f in _dir_files(self.gold_path()) if f[2] >= t0]
                self.tick_files.append((len(new), sum(f[1] for f in new)))
            self.watermark = wm

    def op(self, spark):
        if self.landed >= self.n_hours:
            raise RuntimeError("ran out of staged hours")
        self.spark = spark
        obs_dir = f"{self.bronze}/raw_weather_observations.parquet"
        shutil.copyfile(self.hour_files[self.landed],
                        f"{obs_dir}/landed-{self.landed:05d}.parquet")
        hour = self.now
        self.landed += 1
        self.now += dt.timedelta(hours=1)
        with self.t.span(self.op_name):
            recs = self.sched.tick(self.now - dt.timedelta(minutes=15))
        if len(recs) != 1 or recs[0].state != "success":
            raise RuntimeError(f"tick at {hour}: {recs}")
        self.touched.append(hour)

    def check(self, spark) -> None:
        """The hours the ticks touched (the warm pass's too) against the
        oracle over the bronze with the landed hours, and the row count:
        the first load plus the touched rows, so no key was duplicated."""
        oracle = _oracle_module()
        con = self.duck_bronze(self.bronze)
        last = self.touched[-1]
        lookback = len(self.touched) + 1
        want = [r for r in con.execute(oracle.gold_oracle_sql(
            "observation", last + dt.timedelta(minutes=30), lookback)).fetchall()
            if r[1] in set(self.touched)]
        hours = ", ".join(f"TIMESTAMP '{h.isoformat(sep=' ')}'"
                          for h in self.touched)
        got = con.execute(
            f"SELECT {', '.join(GOLD_COLS)} FROM {_parquet_glob(self.gold_path())}"
            f" WHERE data_type = 'observation' AND timestamp IN ({hours})"
        ).fetchall()
        dg, dw = _digest(got), _digest(want)
        self.record("hourly_upsert.touched_hours_vs_oracle",
                    dg == dw and dw[0] > 0,
                    f"gold {dg[0]} rows, oracle {dw[0]} rows over "
                    f"{len(self.touched)} hours")
        self.gold = self.gold_stats()
        first = self.sizes["first_load_rows"]
        self.record("hourly_upsert.no_duplicate_keys",
                    self.gold["rows"] == first + dg[0],
                    f"gold {self.gold['rows']} rows = {first} first-load "
                    f"+ {dg[0]} upserted")
        self.pairs.append(self.gold_pairs(
            con, f"timestamp = TIMESTAMP '{last.isoformat(sep=' ')}'"))
        con.close()

    def report(self) -> dict:
        return {"gold_bytes_per_row": (self.gold["bytes_per_row"], "bytes")}

    def layer_metrics(self, groups) -> dict:
        m = self.transform_metrics(groups)
        m.update({
            "incremental.batch_rows": _median(self.batch_rows),
            "incremental.watermark_s": self.span_med(
                "incremental.batch_run", self_time=True),
            "merge.update_wins_s": self.span_med("merge.update_wins"),
            "merge.rows_in": self.count_med("merge.input"),
            "merge.rows_out": self.count_med("merge.update_wins"),
            "writers.upsert_table_s": self.span_med("writers.upsert_table"),
            # the first load's, cold, from when the history was built
            "writers.write_table_s": self.sizes["write_table_s"],
            "writers.files_written": _median([f[0] for f in self.tick_files]),
            "writers.bytes_written": _median([f[1] for f in self.tick_files]),
            "writers.gold_files": self.gold["files"],
            "writers.gold_bytes_per_row": self.gold["bytes_per_row"],
            "scheduler.overhead_ms": self.span_med(
                self.op_name, self_time=True, scale=1e3),
        })
        return m


class CatalogLeads(Workload):
    """The ROADMAP's t26/pipe7 store-vs-delta join lead: one pass calls
    both catalog entries over seeded 500-row documents/embeddings tables
    and collects their rows, which the check compares with each entry's
    ``oracle_sql()`` in DuckDB."""

    name = "catalog_leads"
    op_name = "catalog.pass"
    rate = 0.2
    LEADS = ("t26_incremental_bm25", "pipe7_retrieval_decontaminate")

    def prepare(self, session) -> None:
        from weather_data_pipeline_sv_spark.entry import oracle_sql, queries

        self.dir = os.path.join(self.work, "text")
        gen.write_text_tables(self.dir, self.seed)
        self.queries, self.oracles = queries(), oracle_sql()
        self.outputs: list[dict] = []

    def load(self, spark) -> None:
        t = load_tables(spark, self.dir, "documents", "embeddings")
        self.sizes.update({n: df.count() for n, df in t.items()})

    def op(self, spark):
        out = {}
        with self.t.span(self.op_name):
            for e in self.LEADS:
                with self.t.span(f"catalog.{e}"):
                    df = self.queries[e](spark, self.dir)
                    out[e] = (list(df.columns), df.collect())
        self.outputs.append(out)

    @staticmethod
    def _by_name(cols, rows) -> tuple[list, tuple[int, str]]:
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return (sorted(cols),
                _digest([tuple(r[i] for i in order) for r in rows]))

    def check(self, spark) -> None:
        con = _duck()
        for n in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {n} AS SELECT * FROM "
                        f"read_parquet('{self.dir}/{n}.parquet')")
        wrong = set()
        for e in self.LEADS:
            res = con.execute(self.oracles[e])
            want = self._by_name([d[0] for d in res.description],
                                 res.fetchall())
            bad = [i for i, out in enumerate(self.outputs)
                   if self._by_name(*out[e]) != want]
            wrong.update(bad)
            self.record(f"catalog.{e}", not bad and want[1][0] > 0,
                        f"{len(bad)} of {len(self.outputs)} passes differ, "
                        f"oracle {want[1][0]} rows")
        con.close()
        self.wrong_ops = len(wrong)

    def layer_metrics(self, groups) -> dict:
        m = {}
        for e in self.LEADS:
            m[f"catalog.{e}_s"] = self.span_med(f"catalog.{e}")
            m[f"catalog.{e}.shuffle_bytes"] = self.stats_med(
                groups, f"catalog.{e}", "shuffle_write_bytes")
        return m


WORKLOADS = {w.name: w for w in (Serve, HourlyUpsert, CatalogLeads)}
