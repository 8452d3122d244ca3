"""Geodesic distance operators — the great-circle complement to the
planar helpers in relational.py/spatial.py (the reference buys these from
R's geosphere; here they are pure Catalyst trig columns).

Scale design: the nearest-site join is GRID-BLOCKED — points explode into
their 3×3 neighborhood of lat/lon cells and equi-join with site cells, so
the candidate set is bounded by cell occupancy and the plan is a hash join
(never a point×site cross product). Complete-cover condition: the latitude
cell height must be ≥ the search radius in degrees of latitude, and the
longitude cell width must be ≥ the WIDEST longitude span the radius can
reach anywhere in the latitude band the data occupies — a fixed-km radius
spans MORE longitude degrees at higher latitude (Δλ grows like 1/cos φ),
so the longitude width is derived from max|lat| of the sites plus the
radius, using the exact spherical bound
    Δλ_max = 2·asin( sin(r / 2R) / cos(φ_bound) ).
Longitude cells wrap modulo 360° so the cover also holds across the
antimeridian.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.window import Window

EARTH_RADIUS_KM = 6371.0088
# Degrees of latitude per km (slightly conservative: 111.0 < 111.195).
_KM_PER_LAT_DEG = 111.0


def haversine_km(lat1, lon1, lat2, lon2) -> Column:
    """Great-circle distance in km between two (lat, lon) pairs, degrees in
    — pure column trig, codegen-able. Accepts column names or Columns."""
    lat1, lon1, lat2, lon2 = (
        F.col(c) if isinstance(c, str) else c for c in (lat1, lon1, lat2, lon2)
    )
    φ1, φ2 = F.radians(lat1), F.radians(lat2)
    dφ = F.radians(lat2 - lat1) / 2
    dλ = F.radians(lon2 - lon1) / 2
    a = F.sin(dφ) * F.sin(dφ) + F.cos(φ1) * F.cos(φ2) * F.sin(dλ) * F.sin(dλ)
    return 2 * EARTH_RADIUS_KM * F.asin(F.sqrt(a))


def max_lon_span_deg(max_km: float, lat_bound_deg: float) -> float:
    """Widest longitude separation (degrees) two points within ``max_km``
    of each other can have when both latitudes are ≤ ``lat_bound_deg`` in
    absolute value. Exact on the sphere: the minimum great-circle distance
    between two meridians Δλ apart within the band is attained at the band
    edge, d = 2R·asin(cos φ·sin(Δλ/2)); inverting gives the bound. Returns
    360 when the radius reaches past the band edge toward the pole (any
    longitude reachable)."""
    sin_half = math.sin(min(max_km / (2.0 * EARTH_RADIUS_KM), math.pi / 2))
    cos_b = math.cos(math.radians(min(abs(lat_bound_deg), 90.0)))
    if sin_half >= cos_b:
        return 360.0
    return 2.0 * math.degrees(math.asin(sin_half / cos_b))


def _cell_id(lat, lon, cell_deg: float, cell_deg_lon: float, nx: int) -> Column:
    """Cell id from an ALREADY-snapped longitude grid — every caller that
    joins two sides on cells must route both through the same (nx, width)
    pair; re-snapping a snapped width can flip nx by one (floating-point
    floor(360/(360/nx)) = nx-1 for thousands of nx values) and silently put
    the sides on different grids."""
    gy = F.floor((lat + 90.0) / cell_deg).cast("long")
    gx = F.pmod(F.floor((lon + 180.0) / cell_deg_lon).cast("long"), F.lit(nx))
    return gy * F.lit(100_000) + gx


def _snap_lon_grid(min_width_deg: float) -> tuple[int, float]:
    """Longitude cell count and width such that the cells tile 360°
    EXACTLY (nx·width = 360) with width ≥ ``min_width_deg``. Exact tiling
    matters: with nx = ceil(360/w) the last cell is narrower than w and the
    wrap seam is misaligned, so a point near the seam can need a ±2 cell —
    snapping the width up to 360/floor(360/w) keeps ±1 a complete cover
    across the antimeridian. The tiny epsilon makes the snap IDEMPOTENT:
    360/(360/nx) floats a hair below nx for many nx, and without the bump a
    re-snap of an already-snapped width would drop a cell."""
    nx = max(int(math.floor(360.0 / min_width_deg + 1e-9)), 1)
    return nx, 360.0 / nx


def nearest_site_join(
    points: DataFrame,
    sites: DataFrame,
    max_km: float = 200.0,
    point_id: str = "point_id",
    site_id: str = "site_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    cell_deg: float | None = None,
    rank_decimals: int | None = None,
    max_abs_lat: float | None = None,
) -> DataFrame:
    """Each point → its nearest site within ``max_km`` (points with no site
    in range drop out). Grid-blocked: sites register in their own cell,
    points explode into the 3×3 neighborhood, equi-join on the cell, exact
    haversine, per-point argmin window.

    Cover geometry: ``cell_deg`` (latitude cell height) defaults to the
    search radius in degrees of latitude. The longitude cell width is
    widened separately to ``max_lon_span_deg(max_km, φ_bound)`` where
    φ_bound = max|site lat| + radius — a fixed-km radius spans more
    longitude degrees at higher latitude, so a square cell is NOT a
    complete cover off the equator; the anisotropic cell is. φ_bound is a
    one-scalar aggregate over the (small, dimension-side) sites table;
    pass ``max_abs_lat`` to skip that driver round-trip when the band is
    known. Longitude cells wrap modulo 360°, so pairs straddling the
    antimeridian are still covered.

    ``rank_decimals`` ranks and thresholds on the distance ROUNDED to that
    many decimals (ties then break by site_id): a last-ulp libm difference
    between engines can no longer flip the argmin, which is what makes the
    result oracle-comparable (6 ⇒ a site must be within 0.5 mm of another
    for the tie-break to engage)."""
    radius_deg = max_km / _KM_PER_LAT_DEG
    if cell_deg is None:
        cell_deg = max(radius_deg, 0.1)
    if max_abs_lat is None:
        row = sites.agg(F.max(F.abs(F.col(lat_col))).alias("m")).collect()[0]
        max_abs_lat = float(row["m"] if row["m"] is not None else 0.0)
    lat_bound = min(max_abs_lat + radius_deg, 89.9)
    # If the caller widened cell_deg beyond the radius, keep the same slack
    # ratio in longitude; the max() guarantees the cover either way.
    nx, cell_deg_lon = _snap_lon_grid(
        max(cell_deg, max_lon_span_deg(max_km, lat_bound))
    )

    s = sites.select(
        F.col(site_id).alias("site_id"),
        F.col(lat_col).alias("s_lat"),
        F.col(lon_col).alias("s_lon"),
    ).withColumn(
        # Both sides must go through _cell_id with the one snapped
        # (nx, width) pair computed above.
        "_cell",
        _cell_id(F.col("s_lat"), F.col("s_lon"), cell_deg, cell_deg_lon, nx),
    )
    gy = F.floor((F.col(lat_col) + 90.0) / cell_deg).cast("long")
    gx = F.floor((F.col(lon_col) + 180.0) / cell_deg_lon).cast("long")
    # array_distinct: when nx ≤ 3 the wrapped ±1 neighbors alias to the
    # same cell — dedupe so candidates aren't generated twice.
    neighborhood = F.array_distinct(
        F.array(
            *[
                (gy + dy) * F.lit(100_000) + F.pmod(gx + dx, F.lit(nx))
                for dy in (-1, 0, 1)
                for dx in (-1, 0, 1)
            ]
        )
    )
    p = points.select(
        F.col(point_id).alias("point_id"),
        F.col(lat_col).alias("p_lat"),
        F.col(lon_col).alias("p_lon"),
        F.explode(neighborhood).alias("_cell"),
    )
    cand = p.join(s, on="_cell").withColumn(
        "dist_km",
        haversine_km(F.col("p_lat"), F.col("p_lon"), F.col("s_lat"), F.col("s_lon")),
    )
    rank_col = (
        F.round(F.col("dist_km"), rank_decimals)
        if rank_decimals is not None
        else F.col("dist_km")
    )
    in_range = cand.filter(rank_col <= max_km)
    w = Window.partitionBy("point_id").orderBy(rank_col.asc(), F.asc("site_id"))
    return (
        in_range.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("point_id", "site_id", F.round("dist_km", 3).alias("dist_km"))
    )


def spatial_hotspots(
    df: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    cell_deg: float = 1.0,
    min_pts: int = 5,
) -> DataFrame:
    """Grid-density hotspot clustering (DBSCAN-lite): snap points to a
    ``cell_deg`` grid, keep cells holding >= ``min_pts`` points, connect
    dense cells through their 8-neighborhood, and label each connected
    blob via the pointer-jumping components the dedup layer uses
    (`graph.connected_components`). The where-do-nesting-events-
    concentrate query a survey ETL asks of raw sightings — density-based,
    so hotspots take arbitrary shapes instead of fixed admin polygons
    (those are `spatial.tag_regions`' job).

    Output: one row per hotspot — (cluster_id = min encoded cell id,
    n_cells, n_points, centroid_lat/lon 6dp point-weighted, min/max
    lat/lon of member points, 6dp).

    Scale shape: one map-side-combined cell aggregate over raw points
    (the only pass over the fact); everything after runs on the DENSE-cell
    table — the 8-neighbor edge build is an explode(8) + equi-join on
    cell id (never a spatial cross join), and the component loop is
    O(log diameter) rounds on cells, not points. NOTE the fixed-degree
    grid is a density grid, not a distance cover — near the poles a
    degree cell is thin, so hotspots split sooner, and the ±180°
    antimeridian is a hard seam (a blob straddling it reports as two
    clusters; shift longitudes first if your survey area crosses it);
    use the cos-compensated grid of `nearest_site_join` where distance
    semantics matter."""
    if min_pts < 1:
        raise ValueError("min_pts must be >= 1")
    lat, lon = F.col(lat_col), F.col(lon_col)
    ix = F.floor(lon / F.lit(float(cell_deg))).cast("long")
    iy = F.floor(lat / F.lit(float(cell_deg))).cast("long")
    # one-dimensional encoding safe for ANY cell_deg: shift both indices by
    # span (>= the largest magnitude either index can take), stride 2*span.
    span = int(math.ceil(360.0 / cell_deg)) + 2
    nx = 2 * span
    cells = (
        df.select(
            ix.alias("ix"), iy.alias("iy"), lat.alias("la"), lon.alias("lo")
        )
        .groupBy("ix", "iy")
        .agg(
            F.count(F.lit(1)).alias("n_pts"),
            F.sum("la").alias("sla"),
            F.sum("lo").alias("slo"),
            F.min("la").alias("mnla"),
            F.max("la").alias("mxla"),
            F.min("lo").alias("mnlo"),
            F.max("lo").alias("mxlo"),
        )
        .filter(F.col("n_pts") >= int(min_pts))
    )
    cid = (F.col("ix") + span + (F.col("iy") + span) * nx).alias("cell")
    # localCheckpoint: the dense-cell table feeds three branches (neighbor
    # fan-out, edge probe, final stats) and the component loop — materialize
    # it once, eagerly, with no unpersist bookkeeping (the CC labels use the
    # same pattern).
    dense = cells.select(cid, *cells.columns).localCheckpoint(eager=True)
    offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
               if (dx, dy) != (0, 0)]
    # neighbor ids arithmetically: cell + dx + dy*nx
    nbr = dense.select(
        F.col("cell").alias("id_a"),
        F.explode(
            F.array(*[F.col("cell") + (dx + dy * nx) for dx, dy in offsets])
        ).alias("id_b"),
    )
    from ningaloo_turtle_etl_spark.operators.graph import (
        connected_components,
    )

    edges = nbr.join(
        dense.select(F.col("cell").alias("id_b")), on="id_b"
    )
    labels = connected_components(edges, "id_a", "id_b")
    labeled = dense.join(
        labels.withColumnRenamed("id", "cell"), on="cell", how="left"
    ).withColumn("component", F.coalesce("component", F.col("cell")))
    out = labeled.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("n_pts").alias("n_points"),
        F.round(F.sum("sla") / F.sum("n_pts"), 6).alias("centroid_lat"),
        F.round(F.sum("slo") / F.sum("n_pts"), 6).alias("centroid_lon"),
        F.round(F.min("mnla"), 6).alias("min_lat"),
        F.round(F.max("mxla"), 6).alias("max_lat"),
        F.round(F.min("mnlo"), 6).alias("min_lon"),
        F.round(F.max("mxlo"), 6).alias("max_lon"),
    )
    return out.withColumnRenamed("component", "cluster_id")
