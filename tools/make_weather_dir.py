"""Generate a scaled weather bronze dir for the flagship-path bench.

Usage: python tools/make_weather_dir.py [dst] [n_stations] [days] [n_postal]
       (defaults: ./data_wx10  1000  90  900)

Round-7 verdict #3: every extension entry has a three-point scale curve
but the engine's namesake query — clean -> IDW spatial aggregate ->
last-24h weather for a postal code (`plans/`) — was proven only at the
~20-station pytest fixture scale. This generator produces the
README-scale-x100 corpus the verdict names (~1k stations x 90 days
hourly x ~900 postal codes, `README.md:16,139,403` of the reference)
and its 1x/30x siblings by scaling the STATION axis (tools/wx_bench.py):
stations scale every stage — scan, cleaning, the per-station LAG window,
the 50 km spatial fan-out, and the gold group-by — while the postal dim
stays reference-shaped (broadcastable), which is exactly the production
growth pattern.

Determinism: every value is an expression of the row id via the md5
variate (operators/sampling.hash_uniform) — no rand(), no wall clock —
and each fact table is written as ``FACT_FILES`` files whatever the
core count, so a regenerated dir has the same rows in the same file and
row-group layout on every host (only file names and writer metadata
differ). The layout matters beyond speed: the spatial selector sizes
the windowed fact from row-group footers, so a host-dependent file count
could move its broadcast/grid decision. Timestamps are NTZ anchored at a
fixed literal; the companion bench derives asof = BASE + days*24 h, so
the 168 h lookback window always covers the last 7 days of data.

Data shape (mirrors tests/weather_fixtures.py distributions, scaled):
- stations in the reference's bounding box (51.5-53.5, 11-15), ~1% with
  NULL coordinates (exercises P10);
- observations: one row per station-hour; ~2% rows with >=2 critical
  nulls (dropped by P2), ~8% validated=false (dropped by P3), ~1%
  outlier temperatures (Q2/Q3 scoring), rows written in time order so
  parquet row-group stats make the lookback filter skip history;
- forecasts: one issue per station-day at 00:00 with 12 future target
  hours (bitemporal, Q4).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from weather_data_pipeline_sv_spark.operators.sampling import hash_uniform
from weather_data_pipeline_sv_spark.plans import schemas
from weather_data_pipeline_sv_spark.session import get_spark

BASE_TS = "2026-01-01 00:00:00"
LAT0, LAT_SPAN = 51.5, 2.0
LON0, LON_SPAN = 11.0, 4.0
#: files per fact table (the committed data_wx1 layout)
FACT_FILES = 32


def _u(salt: str) -> F.Column:
    return hash_uniform(F.col("id"), salt)


def _station_lat() -> F.Column:
    return LAT0 + LAT_SPAN * hash_uniform(F.col("__sid"), "slat")


def _station_lon() -> F.Column:
    return LON0 + LON_SPAN * hash_uniform(F.col("__sid"), "slon")


def gen_stations(spark: SparkSession, n: int) -> DataFrame:
    base = F.to_timestamp(F.lit(BASE_TS)).cast("timestamp_ntz")
    return (
        spark.range(n)
        .withColumn("__sid", F.col("id"))
        .select(
            F.format_string("S%06d", F.col("id")).alias("station_id"),
            F.format_string("Station %d", F.col("id")).alias("station_name"),
            # ~1% stations without coordinates (P10 guard path)
            F.when(_u("snull") < 0.01, None)
            .otherwise(_station_lat()).alias("latitude"),
            F.when(_u("snull") < 0.01, None)
            .otherwise(_station_lon()).alias("longitude"),
            (F.lit(500.0) * _u("alt")).alias("altitude"),
            F.lit("synthetic").alias("source"),
            base.alias("first_record_date"),
            base.alias("last_record_date"),
        )
    )


def gen_postal_codes(spark: SparkSession, n: int) -> DataFrame:
    return spark.range(n).select(
        F.format_string("1%04d", F.col("id")).alias("postal_code"),
        F.lit("Berlin").alias("city"),
        F.lit("BE").alias("state"),
        (LAT0 + LAT_SPAN * _u("plat")).alias("centroid_lat"),
        (LON0 + LON_SPAN * _u("plon")).alias("centroid_lon"),
    )


def _measures() -> list[F.Column]:
    temp = F.lit(-10.0) + 40.0 * _u("temp")
    return [
        # ~2% rows lose BOTH temperature and wind (>=2 critical nulls,
        # the P2 drop path); ~1% are outliers past the Q2 bounds
        F.when(_u("crit") < 0.02, None)
        .when(_u("out") < 0.01, temp + 80.0)
        .otherwise(temp).alias("temperature"),
        (F.lit(30) + (_u("hum") * 70).cast("int")).alias("humidity"),
        (F.lit(980.0) + 50.0 * _u("prs")).alias("pressure"),
        F.when(_u("crit") < 0.02, None)
        .otherwise(25.0 * _u("wnd")).alias("wind_speed"),
        ((_u("dir") * 360).cast("int")).alias("wind_direction"),
        F.when(_u("prc") < 0.7, 0.0)
        .otherwise(8.0 * _u("prcv")).alias("precipitation"),
        ((_u("cld") * 100).cast("int")).alias("cloud_cover"),
        (F.lit(5.0) + 45.0 * _u("vis")).alias("visibility"),
        (60.0 * _u("sun")).alias("sunshine"),
        (F.lit(-15.0) + 30.0 * _u("dew")).alias("dew_point"),
    ]


def gen_observations(spark: SparkSession, n_stations: int, days: int):
    n = n_stations * days * 24
    base = F.to_timestamp(F.lit(BASE_TS)).cast("timestamp_ntz")
    # id = hour_index * n_stations + station -> rows are TIME-ORDERED, so
    # parquet row-group min/max on timestamp lets the lookback filter
    # skip all but the window's tail (the BRIN-index intent, SURVEY X6)
    return (
        spark.range(0, n, numPartitions=FACT_FILES)
        .withColumn("__sid", F.col("id") % n_stations)
        .withColumn("__h", (F.col("id") / n_stations).cast("long"))
        .select(
            F.format_string("S%06d", F.col("__sid")).alias("station_id"),
            F.timestamp_add(
                "HOUR", F.col("__h"), base
            ).cast("timestamp_ntz").alias("timestamp"),
            *_measures(),
            _station_lat().alias("latitude"),
            _station_lon().alias("longitude"),
            F.lit("synthetic").alias("source"),
            (_u("val") < 0.92).alias("validated"),
            F.lit("historical").alias("source_type"),
            F.timestamp_add("HOUR", F.col("__h") + 1, base)
            .cast("timestamp_ntz").alias("_ingest_ts"),
        )
    )


def gen_forecasts(spark: SparkSession, n_stations: int, days: int):
    # one issue per station-day at 00:00, 12 future target hours each
    n = n_stations * days * 12
    base = F.to_timestamp(F.lit(BASE_TS)).cast("timestamp_ntz")
    per_day = n_stations * 12
    return (
        spark.range(0, n, numPartitions=FACT_FILES)
        .withColumn("__day", (F.col("id") / per_day).cast("long"))
        .withColumn("__rem", F.col("id") % per_day)
        .withColumn("__sid", F.col("__rem") % n_stations)
        .withColumn("__t", (F.col("__rem") / n_stations).cast("long"))
        .select(
            F.format_string("S%06d", F.col("__sid")).alias("station_id"),
            F.timestamp_add("HOUR", F.col("__day") * 24, base)
            .cast("timestamp_ntz").alias("forecast_timestamp"),
            F.timestamp_add(
                "HOUR", F.col("__day") * 24 + F.col("__t") + 1, base
            ).cast("timestamp_ntz").alias("target_timestamp"),
            *_measures(),
            _station_lat().alias("latitude"),
            _station_lon().alias("longitude"),
            F.lit("synthetic").alias("source"),
            F.timestamp_add("HOUR", F.col("__day") * 24, base)
            .cast("timestamp_ntz").alias("_ingest_ts"),
        )
    )


def write_dir(
    spark: SparkSession, dst: str, n_stations: int, days: int, n_postal: int
) -> None:
    os.makedirs(dst, exist_ok=True)
    jobs = {
        "weather_stations": (gen_stations(spark, n_stations),
                             schemas.WEATHER_STATIONS, 1),
        "postal_codes": (gen_postal_codes(spark, n_postal),
                         schemas.POSTAL_CODES, 1),
        "raw_weather_observations": (
            gen_observations(spark, n_stations, days),
            schemas.RAW_WEATHER_OBSERVATIONS, 0),
        "raw_weather_forecasts": (
            gen_forecasts(spark, n_stations, days),
            schemas.RAW_WEATHER_FORECASTS, 0),
    }
    for name, (df, schema, single) in jobs.items():
        cols = [f.name for f in schema.fields]
        assert df.columns == cols, (name, df.columns, cols)
        out = df.coalesce(1) if single else df
        # the generator's time order within files is preserved as-is:
        # range() output is already ordered and the plain write keeps
        # partition-local order (coalesce(1) concatenates in partition
        # order) — no sort or repartition needed
        out.write.mode("overwrite").parquet(f"{dst}/{name}.parquet")
    meta = {"n_stations": n_stations, "days": days, "n_postal": n_postal,
            "base_ts": BASE_TS}
    import json

    with open(f"{dst}/meta.json", "w") as f:
        json.dump(meta, f)
    print(f"wrote {dst}: {n_stations} stations x {days} days, "
          f"{n_postal} postal codes")


def main() -> None:
    dst = sys.argv[1] if len(sys.argv) > 1 else "data_wx10"
    n_stations = int(sys.argv[2]) if len(sys.argv) > 2 else 1000
    days = int(sys.argv[3]) if len(sys.argv) > 3 else 90
    n_postal = int(sys.argv[4]) if len(sys.argv) > 4 else 900
    spark = get_spark(app_name="make-weather-dir")
    spark.sparkContext.setLogLevel("ERROR")
    write_dir(spark, dst, n_stations, days, n_postal)


if __name__ == "__main__":
    main()
