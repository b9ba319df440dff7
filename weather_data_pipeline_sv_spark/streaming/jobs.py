"""Structured Streaming variant of the pipeline (SURVEY.md §2.8, §7 M6).

The reference has no true streaming — its "stream" is cron-scheduled batch
with a MAX(timestamp) watermark (`ingest_observations_dag.py:30`,
`observations.py:144-157`). Two re-expressions live here:

1. ``incremental_batch_run``: the faithful one — watermark-driven
   micro-batch, identical semantics to the reference's scheduler loop.
2. ``stream_hourly_rollup`` + ``stream_to_gold``: the Spark-native upgrade —
   ``readStream`` with a 2-hour event-time watermark and 1-hour tumbling
   windows reproducing the DATE_TRUNC('hour') grouping
   (`aggregation.py:116,152`), with late rows handled by the watermark
   instead of the reference's 7-day reprocessing window; ``foreachBatch``
   merges each micro-batch into gold with the same merge-by-key writer the
   batch path uses, so both paths share one upsert semantics.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.merge import merge_update_wins
from ..sources.writers import replace_dir, restore_interrupted_swap


def incremental_batch_run(
    bronze: DataFrame,
    last_watermark: dt.datetime | None,
    process: Callable[[DataFrame], DataFrame],
) -> tuple[DataFrame, dt.datetime | None]:
    """One watermark-driven micro-run: process only rows newer than the
    previous high-water mark; return (result, new_watermark)."""
    batch = bronze
    if last_watermark is not None:
        # never F.lit(datetime): py4j converts naive datetimes to an
        # INSTANT via the OS timezone, shifting the comparison on any
        # non-UTC host. An ISO string cast to the column's own type is
        # timezone-free end to end.
        wm = F.lit(last_watermark.isoformat(sep=" ")).cast(
            bronze.schema["timestamp"].dataType
        )
        batch = bronze.filter(F.col("timestamp") > wm)
    new_wm = batch.agg(F.max("timestamp")).first()[0] or last_watermark
    return process(batch), new_wm


def read_observation_stream(
    spark: SparkSession, path: str, schema
) -> DataFrame:
    """File-source stream over a bronze landing directory (schema declared —
    no inference, matching the engine's schema discipline)."""
    return spark.readStream.schema(schema).parquet(path)


def stream_hourly_rollup(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Per-station hourly tumbling-window aggregates with late-data bound.

    ``window(ts, '1 hour')`` ≡ the batch path's DATE_TRUNC('hour'); the
    watermark lets state be dropped — at scale this is what makes the
    aggregation's state bounded regardless of input volume.
    """
    # watermarks require TimestampType (instants); the cast is
    # wall-preserving under the UTC session, and the window start is cast
    # back to NTZ so downstream matches the batch path's types
    return (
        stream.withColumn("timestamp", F.col("timestamp").cast("timestamp"))
        .withWatermark("timestamp", watermark)
        .groupBy(
            F.window(F.col("timestamp"), "1 hour").alias("w"),
            "station_id",
        )
        .agg(
            F.avg("temperature").alias("temperature_avg"),
            F.min("temperature").alias("temperature_min"),
            F.max("temperature").alias("temperature_max"),
            F.avg("wind_speed").alias("wind_speed_avg"),
            F.max("wind_speed").alias("wind_speed_max"),
            F.avg("precipitation").alias("precipitation_avg"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            "station_id",
            F.col("w.start").cast("timestamp_ntz").alias("hour_ts"),
            "temperature_avg", "temperature_min", "temperature_max",
            "wind_speed_avg", "wind_speed_max", "precipitation_avg", "n_rows",
        )
    )


def stream_to_gold(
    rollup: DataFrame,
    output_path: str,
    checkpoint_path: str,
    keys: tuple[str, ...] = ("station_id", "hour_ts"),
    available_now: bool = True,
) -> StreamingQuery:
    """foreachBatch merge of each micro-batch into a gold parquet table —
    update-wins per (station, hour), so window updates (late rows within the
    watermark) overwrite their previous emission idempotently."""

    def _merge(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        restore_interrupted_swap(spark, output_path)
        try:
            existing = spark.read.parquet(output_path)
        except AnalysisException:  # first batch: no gold yet
            batch.write.mode("overwrite").parquet(output_path)
            return
        merged = merge_update_wins(existing, batch, list(keys))
        # can't overwrite a path while reading it lazily: stage, then the
        # backup-rename swap (a crash at any point leaves a whole copy of
        # gold, restored above by the next batch)
        staging = f"{output_path}.staging-{batch_id}"
        merged.write.mode("overwrite").parquet(staging)
        replace_dir(spark, staging, output_path)

    writer = (
        rollup.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(_merge)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_accuracy_join(
    obs_stream: DataFrame,
    fcst_stream: DataFrame,
    obs_watermark: str = "2 hours",
    fcst_watermark: str = "3 hours",
    horizon_hours: int = 1,
) -> DataFrame:
    """Stream-stream forecast-accuracy join (streaming twin of J3,
    reference `schema.sql:419-427`): each observation matches forecast rows
    for the same station whose target time falls within
    ``[obs_ts, obs_ts + horizon_hours)``.

    Both sides carry an event-time watermark and the join condition bounds
    the two event-time columns against each other — the two requirements
    that let Spark drop join state: a buffered forecast can be evicted as
    soon as the observation watermark passes ``target_ts``, so state is
    O(rate × watermark horizon), not O(stream length). Without the range
    condition the state store would grow forever at 100 TB/day rates.
    """
    o = (
        obs_stream.select(
            F.col("station_id"),
            F.col("timestamp").cast("timestamp").alias("obs_ts"),
            F.col("temperature").alias("obs_temperature"),
        )
        .withWatermark("obs_ts", obs_watermark)
    )
    f = (
        fcst_stream.select(
            F.col("station_id").alias("f_station_id"),
            F.col("forecast_timestamp").cast("timestamp").alias("issue_ts"),
            F.col("target_timestamp").cast("timestamp").alias("target_ts"),
            F.col("temperature").alias("fcst_temperature"),
        )
        .withWatermark("target_ts", fcst_watermark)
    )
    joined = o.join(
        f,
        (F.col("station_id") == F.col("f_station_id"))
        & (F.col("target_ts") >= F.col("obs_ts"))
        & (
            F.col("target_ts")
            < F.col("obs_ts") + F.expr(f"INTERVAL {int(horizon_hours)} HOURS")
        ),
        "inner",
    )
    return joined.select(
        "station_id",
        F.col("obs_ts").cast("timestamp_ntz").alias("obs_ts"),
        F.col("issue_ts").cast("timestamp_ntz").alias("issue_ts"),
        F.col("target_ts").cast("timestamp_ntz").alias("target_ts"),
        "obs_temperature",
        "fcst_temperature",
        F.abs(F.col("fcst_temperature") - F.col("obs_temperature")).alias(
            "temperature_abs_error"
        ),
        (
            (F.unix_timestamp("target_ts") - F.unix_timestamp("issue_ts")) / 3600.0
        ).alias("lead_time_hours"),
    )


def stream_enrich(
    stream: DataFrame, dim: DataFrame, keys: list[str], how: str = "left"
) -> DataFrame:
    """Stream-static enrichment join: decorate each streaming row with
    dimension attributes (station metadata, user segments, postal regions).

    Stateless — no watermark and no state store: each micro-batch joins
    against the *current* static frame, so a dimension reload between
    batches is picked up automatically (slowly-changing dims read from a
    table path re-resolve per batch). The dim side is explicitly broadcast:
    at 100 TB/day stream rates the alternative (shuffling every micro-batch
    on the join key) would dominate the batch interval; broadcasting keeps
    the join map-side and the stream partitioning untouched. Default LEFT
    join so stream rows never drop when the dim is late-populated.
    """
    return stream.join(F.broadcast(dim), keys, how)
