"""Weather-pipeline golden tests: Spark plans vs an independent DuckDB
oracle on the synthetic bronze fixtures (FIXTURES.md), plus targeted unit
tests for every reference quirk (SURVEY.md §2.10).
"""

from __future__ import annotations

import datetime
import math
import time
import uuid

import duckdb
import pytest
from pyspark.sql import functions as F

from weather_data_pipeline_sv_spark.operators.merge import (
    merge_first_wins,
    merge_partial_update,
    merge_update_wins,
)
from weather_data_pipeline_sv_spark.plans import aggregation as agg_mod
from weather_data_pipeline_sv_spark.plans import schemas
from weather_data_pipeline_sv_spark.plans.aggregation import (
    _footer_rows,
    aggregate_to_postal_codes,
    map_to_postal_codes,
)
from weather_data_pipeline_sv_spark.plans.cleaning import (
    check_temporal_consistency,
    clean_forecasts,
    clean_observations,
)
from weather_data_pipeline_sv_spark.plans.pipeline import run_transform

from weather_fixtures import ASOF, build_all
from weather_oracle import gold_oracle_sql, temporal_issue_count_sql

SCHEMAS = {
    "weather_stations": schemas.WEATHER_STATIONS,
    "postal_codes": schemas.POSTAL_CODES,
    "raw_weather_observations": schemas.RAW_WEATHER_OBSERVATIONS,
    "raw_weather_forecasts": schemas.RAW_WEATHER_FORECASTS,
}

GOLD_COMPARE_COLS = [
    f.name
    for f in schemas.ANALYTICS_WEATHER_BY_POSTAL_CODE.fields
    if f.name not in ("interpolated_fields", "created_at", "updated_at")
]


@pytest.fixture(scope="session")
def weather_dir(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("weather_bronze")
    for name, rows in build_all().items():
        spark.createDataFrame(rows, schema=SCHEMAS[name]).write.mode(
            "overwrite"
        ).parquet(str(base / name))
    return base


@pytest.fixture(scope="session")
def bronze(spark, weather_dir):
    out = {
        name: spark.read.schema(SCHEMAS[name]).parquet(str(weather_dir / name))
        for name in SCHEMAS
    }
    # ingestion-time key enforcement (reference ON CONFLICT at insert):
    # obs update-wins (S5), forecasts first-wins / DO NOTHING (S6)
    empty_obs = spark.createDataFrame([], schemas.RAW_WEATHER_OBSERVATIONS)
    empty_fcst = spark.createDataFrame([], schemas.RAW_WEATHER_FORECASTS)
    out["raw_weather_observations"] = merge_update_wins(
        empty_obs, out["raw_weather_observations"],
        ["station_id", "timestamp"], order_col="_ingest_ts",
    )
    out["raw_weather_forecasts"] = merge_first_wins(
        empty_fcst, out["raw_weather_forecasts"],
        ["station_id", "forecast_timestamp", "target_timestamp"],
        order_col="_ingest_ts",
    )
    return out


@pytest.fixture(scope="session")
def duck(weather_dir):
    con = duckdb.connect()
    for name in SCHEMAS:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{weather_dir / name}/*.parquet'"
        )
    yield con
    con.close()


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0.0 else v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return v


def _rows(rows):
    return sorted(repr(tuple(_norm(v) for v in r)) for r in rows)


@pytest.mark.parametrize(
    "data_type,lookback", [("observation", 168), ("forecast", 48)]
)
def test_gold_matches_oracle(spark, bronze, duck, data_type, lookback):
    if data_type == "observation":
        stg = clean_observations(bronze["raw_weather_observations"], ASOF, lookback)
    else:
        stg = clean_forecasts(bronze["raw_weather_forecasts"], ASOF, lookback)
    gold = aggregate_to_postal_codes(
        stg,
        bronze["weather_stations"],
        bronze["postal_codes"],
        data_type,
        ASOF,
        lookback_hours=lookback,
    ).select(*GOLD_COMPARE_COLS)

    res = duck.execute(gold_oracle_sql(data_type, ASOF, lookback))
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert gold.columns == duck_cols
    spark_rows = [tuple(r) for r in gold.collect()]
    assert len(spark_rows) == len(duck_rows) > 0
    s, d = _rows(spark_rows), _rows(duck_rows)
    diffs = [(a, b) for a, b in zip(s, d) if a != b][:3]
    assert s == d, f"{data_type} gold mismatch; first diffs: {diffs}"


def test_gold_edge_cases_present(spark, bronze):
    """The fixture edge cases actually exercise the intended paths."""
    stg = clean_observations(bronze["raw_weather_observations"], ASOF, 168)
    gold = aggregate_to_postal_codes(
        stg, bronze["weather_stations"], bronze["postal_codes"],
        "observation", ASOF, lookback_hours=168,
    )
    rows = gold.collect()
    codes = {r["postal_code"] for r in rows}
    assert "10115" in codes  # zero-distance postal code present
    # NULL-centroid and out-of-range postal codes absent
    assert not codes & {
        f"{10115 + 27 * 7:05d}", f"{10115 + 28 * 7:05d}", f"{10115 + 29 * 7:05d}"
    }
    # far-away station never contributes: every group within 50 km
    assert all(r["max_distance_km"] <= 50.0 for r in rows)
    # multi-station and single-station hours both occur
    n_st = {r["num_stations"] for r in rows}
    assert max(n_st) >= 2


def test_temporal_consistency_matches_oracle(spark, bronze, duck):
    stg = clean_observations(bronze["raw_weather_observations"], ASOF, 168)
    n_spark = check_temporal_consistency(stg, ASOF, 24).count()
    n_duck = duck.execute(temporal_issue_count_sql(ASOF, 24)).fetchone()[0]
    assert n_spark == n_duck > 0  # fixture plants at least one true jump


def test_run_transform_end_to_end(spark, bronze):
    res = run_transform(
        bronze["raw_weather_observations"],
        bronze["raw_weather_forecasts"],
        bronze["weather_stations"],
        bronze["postal_codes"],
        ASOF,
        validate=True,
    )
    gold = res.gold.cache()
    types = {r["data_type"] for r in gold.select("data_type").distinct().collect()}
    assert types == {"observation", "forecast"}
    # gold key uniqueness (reference UNIQUE constraint, schema.sql:235)
    dup = (
        gold.groupBy("postal_code", "timestamp", "data_type", "forecast_timestamp")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0
    # observation rows carry NULL forecast_timestamp; forecast rows don't
    assert (
        gold.filter(
            (F.col("data_type") == "observation")
            & F.col("forecast_timestamp").isNotNull()
        ).count()
        == 0
    )
    assert (
        gold.filter(
            (F.col("data_type") == "forecast") & F.col("forecast_timestamp").isNull()
        ).count()
        == 0
    )
    assert res.temporal_issues > 0
    assert set(res.validation) >= {"passed", "issues", "obs_postal_codes"}
    gold.unpersist()


def test_idempotent_rerun(spark, bronze):
    """Re-running the transform and merging into existing gold is a no-op
    (the ON CONFLICT idempotency property, aggregation.py:205-222)."""
    kwargs = dict(
        raw_observations=bronze["raw_weather_observations"],
        raw_forecasts=bronze["raw_weather_forecasts"],
        stations=bronze["weather_stations"],
        postal_codes=bronze["postal_codes"],
        asof=ASOF,
    )
    first = run_transform(**kwargs).gold
    second = run_transform(existing_gold=first, **kwargs).gold
    assert second.count() == first.count()
    a = _rows([tuple(r) for r in first.select(*GOLD_COMPARE_COLS).collect()])
    b = _rows([tuple(r) for r in second.select(*GOLD_COMPARE_COLS).collect()])
    assert a == b



# ---------------------------------------------------------------------------
# Postal fan-out: two physical plans (broadcast NL, grid equi join) and the
# size rule that picks one from parquet footers.
# ---------------------------------------------------------------------------
def _plan_of(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _force(monkeypatch, path):
    """Force the fan-out plan by moving the size rule's two limits (the
    decision is taken while the plan is built, so restoring them after
    the build keeps the forced plan)."""
    limit = {"broadcast": 10**18, "grid": 0}[path]
    monkeypatch.setattr(agg_mod, "BROADCAST_MAX_CENTROIDS", limit)
    monkeypatch.setattr(agg_mod, "BROADCAST_MAX_PROBE_PAIRS", limit)


@pytest.mark.parametrize("data_type,lookback",
                         [("observation", 168), ("forecast", 48)])
def test_grid_spatial_path_equals_broadcast(spark, bronze, monkeypatch,
                                            data_type, lookback):
    """The X4 grid equi-join path produces the IDENTICAL gold table as
    the reference-shaped broadcast-NL path — same pairs AND same float
    distances (both compute the same haversine), so the plan choice is
    purely physical. The size rule picks broadcast at this dim size
    (900-row postal table)."""
    if data_type == "observation":
        stg = clean_observations(
            bronze["raw_weather_observations"], ASOF, lookback)
    else:
        stg = clean_forecasts(
            bronze["raw_weather_forecasts"], ASOF, lookback)

    def gold_with(path=None):
        with monkeypatch.context() as m:
            if path is not None:
                _force(m, path)
            return aggregate_to_postal_codes(
                stg, bronze["weather_stations"], bronze["postal_codes"],
                data_type, ASOF, lookback_hours=lookback,
            ).select(*GOLD_COMPARE_COLS)

    bgold, ggold = gold_with("broadcast"), gold_with("grid")
    b = _rows([tuple(r) for r in bgold.collect()])
    g = _rows([tuple(r) for r in ggold.collect()])
    assert b == g and len(b) > 0
    a = _rows([tuple(r) for r in gold_with().collect()])
    assert a == b
    # plan pins: broadcast path is a BroadcastNestedLoopJoin (never a
    # cartesian); the grid path replaces it with an equi join on the
    # cell key — no NL join anywhere in its plan
    bplan, gplan = _plan_of(bgold), _plan_of(ggold)
    assert "BroadcastNestedLoopJoin" in bplan
    assert "CartesianProduct" not in bplan
    assert "BroadcastNestedLoopJoin" not in gplan
    assert "CartesianProduct" not in gplan


def test_auto_selector_point_side_crossover(spark, bronze, monkeypatch):
    """The size rule decides on BOTH sides of the BNL cost product:
    |points| x |centroids| haversines. At fixture scale the product sits
    far below BROADCAST_MAX_PROBE_PAIRS -> broadcast; with the pair
    budget shrunk, the SAME data must select grid (this is the wx30
    configuration in miniature: tiny dim, big fact) — and the centroid
    cap alone must also still force grid. Results are pinned identical
    across the selection, so the rule is purely physical."""
    stg = clean_observations(bronze["raw_weather_observations"], ASOF, 168)

    def gold_auto():
        return aggregate_to_postal_codes(
            stg, bronze["weather_stations"], bronze["postal_codes"],
            "observation", ASOF, lookback_hours=168,
        ).select(*GOLD_COMPARE_COLS)

    base = gold_auto()
    assert "BroadcastNestedLoopJoin" in _plan_of(base)  # broadcast chosen
    want = _rows([tuple(r) for r in base.collect()])

    monkeypatch.setattr(agg_mod, "BROADCAST_MAX_PROBE_PAIRS", 0)
    by_pairs = gold_auto()
    assert "BroadcastNestedLoopJoin" not in _plan_of(by_pairs)  # grid
    assert _rows([tuple(r) for r in by_pairs.collect()]) == want

    monkeypatch.setattr(agg_mod, "BROADCAST_MAX_PROBE_PAIRS", 10**18)
    monkeypatch.setattr(agg_mod, "BROADCAST_MAX_CENTROIDS", 0)
    by_dim = gold_auto()
    assert "BroadcastNestedLoopJoin" not in _plan_of(by_dim)  # grid
    assert _rows([tuple(r) for r in by_dim.collect()]) == want


def test_grid_path_rejects_polar_centroids(spark, bronze, monkeypatch):
    """bucketed_range_join clamps lon replication beyond |lat| 75 and
    would silently drop near-polar matches — the operator RAISES at
    execution (plan-embedded, covers every caller including the grid
    pipeline path), instead of quietly diverging from the broadcast
    path it is pinned pair-identical to."""
    stg = clean_observations(bronze["raw_weather_observations"], ASOF, 168)
    polar = bronze["postal_codes"].withColumn(
        "centroid_lat",
        F.when(F.col("postal_code") == "10115", F.lit(80.0))
        .otherwise(F.col("centroid_lat")),
    )
    _force(monkeypatch, "grid")
    gold = aggregate_to_postal_codes(
        stg, bronze["weather_stations"], polar,
        "observation", ASOF, lookback_hours=168,
    )
    assert "BroadcastNestedLoopJoin" not in _plan_of(gold)
    with pytest.raises(Exception, match="polar centroid latitude"):
        gold.collect()


def _jobs_started_by(spark, build):
    """Spark job ids started while ``build()`` runs. A marker job in a
    second group closes the count: the listener bus posts job events in
    order, so once the marker is visible every job ``build`` started is
    visible too."""
    sc = spark.sparkContext
    group, marker = f"build-{uuid.uuid4().hex}", f"marker-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, "job count probe")
        build()
        sc.setJobGroup(marker, "job count marker")
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.monotonic() + 30
    while not sc.statusTracker().getJobIdsForGroup(marker):
        assert time.monotonic() < deadline, "marker job never reached the tracker"
        time.sleep(0.05)
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def test_selection_on_parquet_starts_no_spark_job(spark, bronze):
    """Both sides are sized from parquet footers, so building the
    fan-out plan on the parquet fixture starts no Spark job. The same
    build with an in-memory postal dim falls back to exact counts — the
    probe above sees those jobs, so the zero is not vacuous."""
    stg = clean_observations(bronze["raw_weather_observations"], ASOF, 168)

    def build(postal_codes):
        return lambda: map_to_postal_codes(
            stg, bronze["weather_stations"], postal_codes, "timestamp",
            ASOF, 168, issue_time_filter=False,
        )

    assert _jobs_started_by(spark, build(bronze["postal_codes"])) == []
    in_memory = spark.createDataFrame(
        bronze["postal_codes"].collect(), schemas.POSTAL_CODES)
    assert _jobs_started_by(spark, build(in_memory))


# ---------------------------------------------------------------------------
# The footer probe: row-group bounds, bounded driver cost (thread pool +
# sampling cap), instant-typed stats rendered into the session zone.
# ---------------------------------------------------------------------------
def _write_hourly_files(src, n_files, rows_per):
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = datetime.datetime(2026, 1, 1)
    src.mkdir()
    for i in range(n_files):
        ts = [base + datetime.timedelta(hours=i * rows_per + j)
              for j in range(rows_per)]
        pq.write_table(
            pa.table({"ts": pa.array(ts, pa.timestamp("us")),
                      "v": list(range(rows_per))}),
            src / f"part-{i:05d}.parquet",
        )
    return base


def test_windowed_points_upper_bound(spark, tmp_path):
    base = datetime.datetime(2026, 1, 1)
    src = str(tmp_path / "fact")
    df = (
        spark.range(2400)
        .select(
            (
                F.lit(base)
                + F.make_interval(hours=(F.col("id") / 10).cast("int"))
            ).cast("timestamp_ntz").alias("ts"),
            F.col("id").alias("v"),
        )
    )
    # chronological layout (the writers' fact convention)
    df.repartitionByRange(8, "ts").sortWithinPartitions("ts").write.parquet(
        src
    )
    fact = spark.read.parquet(src)
    cutoff = base + datetime.timedelta(hours=200)  # last 40 of 240 hours
    exact = fact.filter(F.col("ts") >= F.lit(cutoff)).count()
    bound = _footer_rows(fact, "ts", cutoff)
    assert bound is not None
    assert exact <= bound <= 2400
    # chronological row groups make the bound TIGHT: well under total
    assert bound < 2400 * 0.5
    # no cutoff: every row of every file
    assert _footer_rows(fact) == 2400
    # a cutoff past the data: bound is 0 (no row group reaches it)
    assert _footer_rows(
        fact, "ts", base + datetime.timedelta(hours=10_000)
    ) == 0
    # graceful fallbacks: in-memory frame (no files), missing column
    mem = spark.createDataFrame([(base, 1)], "ts timestamp_ntz, v long")
    assert _footer_rows(mem, "ts", cutoff) is None
    assert _footer_rows(mem) is None
    assert _footer_rows(fact, "nope", cutoff) is None


def test_footer_probe_thousand_files_is_fast(spark, tmp_path):
    n_files, rows_per = 1200, 10
    base = _write_hourly_files(tmp_path / "many", n_files, rows_per)
    fact = spark.read.parquet(str(tmp_path / "many"))
    # last ~25% of the hour range
    cutoff = base + datetime.timedelta(hours=int(n_files * rows_per * 0.75))
    t0 = time.monotonic()
    bound = _footer_rows(fact, "ts", cutoff)
    elapsed = time.monotonic() - t0
    exact = fact.filter(F.col("ts") >= F.lit(cutoff)).count()
    assert bound is not None and bound >= exact
    # chronological layout keeps the bound tight even through sampling
    assert bound <= exact + 2 * rows_per * (n_files / 1024 + 1)
    # the driver-cost contract: a thousand footers in well under 100 ms
    # of budget-per-file — pooled, this is tens of ms on a 4-core box;
    # the assertion leaves headroom for CI noise without letting a
    # sequential regression (~hundreds of ms) back in
    assert elapsed < 1.0, f"footer probe took {elapsed:.3f}s"


def test_footer_probe_sampling_extrapolates(spark, tmp_path, monkeypatch):
    """Past FOOTER_PROBE_MAX_FILES the probe samples and extrapolates;
    force a tiny cap to exercise that path deterministically."""
    n_files, rows_per = 64, 10
    base = _write_hourly_files(tmp_path / "sampled", n_files, rows_per)
    fact = spark.read.parquet(str(tmp_path / "sampled"))
    cutoff = base + datetime.timedelta(hours=320)  # last half
    exact = fact.filter(F.col("ts") >= F.lit(cutoff)).count()
    monkeypatch.setattr(agg_mod, "FOOTER_PROBE_MAX_FILES", 16)
    est = _footer_rows(fact, "ts", cutoff)
    assert est is not None
    # rate-extrapolated estimate: within one stride (n/cap files) of the
    # truth on a chronological layout
    assert abs(est - exact) <= (n_files / 16 + 1) * rows_per


def test_footer_probe_instant_stats_use_session_zone(spark, tmp_path):
    """An instant-typed (tz-aware) column under a session zone AHEAD of
    UTC: a naive UTC strip under-included row groups near the cutoff —
    the bound came out BELOW the exact count, silently erring toward
    broadcast. The probe renders stats into the session zone."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "instant"
    src.mkdir()
    base = datetime.datetime(2025, 12, 31)  # 24 hourly instants, UTC
    ts = [base + datetime.timedelta(hours=j) for j in range(24)]
    pq.write_table(
        pa.table({"ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                  "v": list(range(24))}),
        src / "part-0.parquet",
    )
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        fact = spark.read.parquet(str(src))
        # naive cutoff = session-zone wall time: 05:00 Tokyo Jan 1
        # = 20:00 UTC Dec 31 -> exactly 4 of the 24 rows qualify.
        # The exact count uses a SQL timestamp literal (interpreted in
        # the SESSION zone — F.lit(datetime) would convert via the OS
        # zone and measure the wrong thing).
        cutoff = datetime.datetime(2026, 1, 1, 5)
        exact = fact.filter(
            F.expr("ts >= TIMESTAMP '2026-01-01 05:00:00'")
        ).count()
        assert exact == 4
        bound = _footer_rows(fact, "ts", cutoff)
        # a naive strip: max 2025-12-31T23:00 < cutoff -> bound 0 < 4
        assert bound is not None and bound >= exact
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


# The size rule's decisions at the scaled weather dirs are pinned: probe
# changes (pool, sampling, tz handling, file layout) must not move the
# measured crossover. Only data_wx1 is committed; regenerate the others
# with tools/make_weather_dir.py.
@pytest.mark.parametrize(
    "d,expected_grid_calls",
    [("data_wx1", 0), ("data_wx10", 0), ("data_wx30", 1)],
)
def test_auto_selector_decisions_pinned_at_wx_dirs(
    spark, monkeypatch, d, expected_grid_calls
):
    import json
    import os

    import weather_data_pipeline_sv_spark.operators.spatial as spatial_mod

    root = os.path.join(os.path.dirname(os.path.dirname(__file__)), d)
    if not os.path.isdir(root):
        pytest.skip(f"{d} not generated on this machine")
    t = {
        name: spark.read.schema(SCHEMAS[name]).parquet(
            f"{root}/{name}.parquet")
        for name in SCHEMAS
    }
    with open(f"{root}/meta.json") as f:
        meta = json.load(f)
    asof = datetime.datetime.fromisoformat(
        meta["base_ts"]) + datetime.timedelta(hours=meta["days"] * 24)
    calls = []
    orig = spatial_mod.bucketed_range_join

    def spy(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(spatial_mod, "bucketed_range_join", spy)
    # building the plan runs the decision; no action is triggered
    run_transform(
        t["raw_weather_observations"], t["raw_weather_forecasts"],
        t["weather_stations"], t["postal_codes"], asof,
    )
    assert len(calls) == expected_grid_calls
