"""Grid-bucketed spatial range join — the 100 TB path for SURVEY.md X4.

The reference's spatial join (`aggregation.py:73-111`) is ST_DWithin against
a ~900-row postal dim; our core plan broadcasts the dim and lets a
broadcast-NL join + haversine filter handle it (catalog ``j2``). That stops
working when BOTH sides are large (millions of cells/sensors): a broadcast
no longer fits and a cross join is O(N·M).

``bucketed_range_join`` turns the θ-join into an equi join:

- every point keys to its (lat_cell, lon_cell) grid cell (cell size ≥ the
  search radius in degrees, so any match is within one cell ring)
- every centroid replicates to its cell plus neighbors — ±1 lat ring and
  ±k lon ring, where k grows with latitude (lon degrees shrink by cos(lat));
  lon cells wrap modulo the globe so the antimeridian is seamless
- the equi join on cell id shuffles both sides by a selective key (standard
  hash-partitioned join: parallel, AQE-skew-handled), then the exact
  haversine predicate prunes within the candidate ring

Replication factor is 3·(2k+1) per centroid (9 at the equator) — constant,
vs the unbounded fan-out of a cross join. Result set is IDENTICAL to the
brute-force join (tests assert pairwise equality): bucketing only prunes
pairs that cannot match.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geo import haversine_km

KM_PER_LAT_DEG = 111.0  # conservative (true value ≥ 110.57 everywhere)


def bucketed_range_join(
    points: DataFrame,
    centroids: DataFrame,
    radius_km: float,
    cell_deg: float | None = None,
    max_abs_lat: float = 75.0,
    p_lat: str = "lat", p_lon: str = "lon",
    c_lat: str = "c_lat", c_lon: str = "c_lon",
) -> DataFrame:
    """All (point, centroid) pairs with haversine distance ≤ radius_km.

    Column names of the two inputs must be disjoint; output = point columns
    + centroid columns + ``distance_km``. Latitudes beyond ``max_abs_lat``
    are supported only on the point side (centroids that close to a pole
    would need near-global lon replication — pre-filter or handle polar
    caps as a single bucket upstream). A centroid past the limit RAISES
    at execution (a plan-embedded check — no extra driver job) rather
    than silently clamping its replication ring and dropping matches;
    this covers every caller, including the weather pipeline's grid
    fan-out (``plans/aggregation.py::map_to_postal_codes``).
    """
    overlap = set(points.columns) & set(centroids.columns)
    if overlap:
        raise ValueError(f"input column names must be disjoint, got {overlap}")

    cell = cell_deg if cell_deg is not None else radius_km / KM_PER_LAT_DEG
    n_lon_cells = int(math.ceil(360.0 / cell))

    def lat_cell(c):
        return F.floor(c / cell).cast("long")

    def lon_cell_raw(c):
        return F.floor((c + 180.0) / cell).cast("long")

    def wrap(c):
        return F.pmod(c, F.lit(n_lon_cells))

    pts = points.withColumn(
        "__cell",
        F.concat_ws(
            ":", lat_cell(F.col(p_lat)), wrap(lon_cell_raw(F.col(p_lon)))
        ),
    )

    # lon replication width: a match can differ by up to radius_km in
    # east-west distance = cell·cos(lat) shrunken degrees → k cells. Clamp
    # the latitude used at max_abs_lat (documented contract above).
    eff_lat = F.least(
        F.abs(F.col(c_lat)) + F.lit(cell), F.lit(max_abs_lat)
    )
    k_lon = F.ceil(F.lit(1.0) / F.cos(F.radians(eff_lat))).cast("int")
    # contract enforcement (round-7): beyond max_abs_lat the clamp above
    # would silently truncate the ring and DROP matches — raise instead,
    # per centroid row, inside the job that reads the dim anyway
    k_lon = F.when(
        F.abs(F.col(c_lat)) > max_abs_lat,
        F.raise_error(
            F.concat(
                F.lit("bucketed_range_join: polar centroid latitude "),
                F.col(c_lat).cast("string"),
                F.lit(
                    f" exceeds max_abs_lat={max_abs_lat} — pre-filter "
                    "polar centroids or use the broadcast path"
                ),
            )
        ).cast("int"),
    ).otherwise(k_lon)
    cent = (
        centroids.withColumn("__k", k_lon)
        .withColumn("__lat_off", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .withColumn(
            "__lon_off", F.explode(F.sequence(-F.col("__k"), F.col("__k")))
        )
        .withColumn(
            "__cell",
            F.concat_ws(
                ":",
                lat_cell(F.col(c_lat)) + F.col("__lat_off"),
                wrap(lon_cell_raw(F.col(c_lon)) + F.col("__lon_off")),
            ),
        )
        .drop("__k", "__lat_off", "__lon_off")
    )

    d = haversine_km(F.col(p_lat), F.col(p_lon), F.col(c_lat), F.col(c_lon))
    return (
        pts.join(cent, "__cell")
        .withColumn("distance_km", d)
        .filter(F.col("distance_km") <= radius_km)
        .drop("__cell")
        # a centroid's neighbor cells can overlap after lon wrapping only
        # when the ring circles the globe; distinct() is unnecessary at
        # sane radii, so dedup is the caller's concern — we keep the join
        # purely map-side-expanding + one shuffle
    )


def brute_force_range_join(
    points: DataFrame,
    centroids: DataFrame,
    radius_km: float,
    p_lat: str = "lat", p_lon: str = "lon",
    c_lat: str = "c_lat", c_lon: str = "c_lon",
) -> DataFrame:
    """Reference implementation (cross join + filter) — the correctness
    oracle for the bucketed join, and the right physical plan whenever one
    side is broadcast-small (catalog j2 uses this shape)."""
    d = haversine_km(F.col(p_lat), F.col(p_lon), F.col(c_lat), F.col(c_lon))
    return (
        points.crossJoin(centroids)
        .withColumn("distance_km", d)
        .filter(F.col("distance_km") <= radius_km)
    )
