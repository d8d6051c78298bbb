"""Raster <-> vector tile pyramid operators (HMesh analogue).

Reference parity: `f_hmesh`/`f_hmesharray` register a hierarchical
mesh tiler (HMesh$Level in reference lib/pflow-hiveUDF.jar, registered
by hive_init_commands/initial_hive_commands_interpolation.json:55-56
but unused in shipped SQL — SURVEY.md §2.9). The engine's version is
the standard web-mercator z/x/y pyramid:

- `assign_tiles`: one row per (row x zoom) via posexplode over a
  JVM-computed array of (z, x, y) structs — no Python, no shuffle.
- `tile_stats`: raster aggregation per tile (counts + any measures).
- `pyramid_rollup`: builds level z-1 FROM level z by integer halving
  (x>>1, y>>1) — each coarser level aggregates the previous one
  instead of rescanning the fact table: log-depth pyramid build, the
  only scan of the fact is at the base zoom.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import geo


def tile_struct_expr(lat_col: str, lon_col: str, zoom: int):
    return F.struct(
        F.lit(zoom).alias("z"),
        F.expr(geo.tile_x_sql(lon_col, zoom)).alias("x"),
        F.expr(geo.tile_y_sql(lat_col, zoom)).alias("y"),
    )


def assign_tiles(
    df: DataFrame,
    zooms: list[int],
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """One output row per input row per zoom level, columns z/x/y."""
    tiles = F.array(*[tile_struct_expr(lat_col, lon_col, z) for z in zooms])
    return df.withColumn("__tiles", tiles).select(
        "*", F.explode("__tiles").alias("__t")
    ).select(
        *[c for c in df.columns],
        F.col("__t.z").alias("z"),
        F.col("__t.x").alias("x"),
        F.col("__t.y").alias("y"),
    )


def tile_stats(
    df: DataFrame,
    zoom: int,
    lat_col: str = "lat",
    lon_col: str = "lon",
    measures: dict[str, F.Column] | None = None,
) -> DataFrame:
    """Raster aggregation at one zoom: per-tile count (+ measures)."""
    aggs = [F.count(F.lit(1)).alias("n")]
    for name, expr in (measures or {}).items():
        aggs.append(expr.alias(name))
    return (
        df.select(
            F.expr(geo.tile_x_sql(lon_col, zoom)).alias("x"),
            F.expr(geo.tile_y_sql(lat_col, zoom)).alias("y"),
            *[c for c in df.columns],
        )
        .groupBy("x", "y")
        .agg(*aggs)
        .withColumn("z", F.lit(zoom))
    )


def pyramid_rollup(
    base: DataFrame,
    min_zoom: int,
    base_zoom: int | None = None,
    materialize: bool = True,
) -> list[DataFrame]:
    """From a base-zoom tile_stats frame, derive every level down to
    `min_zoom` by halving coordinates and summing counts.

    Only additive measures survive the rollup (counts/sums) — exactly
    the raster semantics of a tile pyramid. Returns [base, z-1, ...].

    ``base_zoom``: pass the zoom the caller already holds (tile_stats
    stamps it as a constant) to avoid the fallback ``max(z)`` job,
    which would execute the whole upstream scan before any caller
    action. ``materialize`` (default True) localCheckpoints the base
    frame eagerly so the L derived levels (each a tiny |tiles|-row
    groupBy of the previous) share ONE materialization of the
    fact-scale base instead of each level's lineage rescanning it —
    pass False only when the caller materializes a single level.
    """
    if base_zoom is None:
        base_zoom = base.agg(F.max("z")).first()[0]
    if materialize and base_zoom is not None and base_zoom > min_zoom:
        base = base.localCheckpoint(eager=True)
    out = [base]
    cur = base
    if base_zoom is None:  # empty frame: nothing to roll up
        return out
    for z in range(int(base_zoom) - 1, min_zoom - 1, -1):
        sum_cols = [
            F.sum(c).alias(c)
            for c in cur.columns
            if c not in ("x", "y", "z")
        ]
        cur = (
            cur.groupBy(
                (F.col("x") / 2).cast("bigint").alias("x"),
                (F.col("y") / 2).cast("bigint").alias("y"),
            )
            .agg(*sum_cols)
            .withColumn("z", F.lit(z))
        )
        out.append(cur)
    return out


# ---------------------------------------------------------------------------
# Exact HMesh parity (bytecode-recovered)

# HMesh$Level cell sizes in degrees as (lon_num, lon_den, lat_num,
# lat_den) — extracted from the Fraction constructor calls in
# lib/pflow-hiveUDF.jar!HMesh$Level.<clinit> (javap): LEVEL1 is the
# JIS 1st-mesh 1 deg x 40', LEVEL4 the 1 km 3rd mesh, LEVEL6 ~125 m.
HMESH_LEVELS = {
    1: (1, 1, 2, 3),
    2: (1, 4, 1, 6),
    3: (1, 8, 1, 12),
    4: (1, 80, 1, 120),
    5: (1, 160, 1, 240),
    6: (1, 800, 1, 1200),
}


def hmesh_code_sql(lon_col: str, lat_col: str, level: int, dialect: str) -> str:
    """The exact HMesh cell code: "floor(lon/lonSize)_floor(lat/latSize)"
    (HMesh.update: Math.floor of the coordinate over the level's
    Fraction.doubleValue(), then String.format("%d_%d")).

    Faithful detail: the divisor is the DOUBLE value of the fraction
    (e.g. lat size 2/3 -> 0.6666666666666666), not exact rational
    arithmetic — both engines inline the identical double literal so
    boundary coordinates land in the same cell on both sides.
    """
    ln, ld, an, ad = HMESH_LEVELS[level]
    lon_size = geo.dlit(ln / ld)
    lat_size = geo.dlit(an / ad)
    x = f"CAST(floor(({lon_col}) / {lon_size}) AS BIGINT)"
    y = f"CAST(floor(({lat_col}) / {lat_size}) AS BIGINT)"
    if dialect == "spark":
        return f"concat(cast({x} as string), '_', cast({y} as string))"
    return f"(CAST({x} AS VARCHAR) || '_' || CAST({y} AS VARCHAR))"


def hmesh_counts(
    df: DataFrame, level: int, lat_col: str = "lat", lon_col: str = "lon"
) -> DataFrame:
    """Events per HMesh cell at one level (the f_hmesh rollup)."""
    return (
        df.select(
            F.expr(hmesh_code_sql(lon_col, lat_col, level, "spark")).alias(
                "hmesh_code"
            )
        )
        .groupBy("hmesh_code")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def hmesh_pyramid_counts(
    df: DataFrame,
    levels: tuple[int, ...] = (2, 4, 6),
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Counts for several HMesh levels in ONE scan (explode of
    conditional structs — Spark has no common-subplan reuse, a
    per-level union would rescan the fact per level)."""
    structs = F.array(
        *[
            F.struct(
                F.lit(lv).alias("level"),
                F.expr(hmesh_code_sql(lon_col, lat_col, lv, "spark")).alias(
                    "hmesh_code"
                ),
            )
            for lv in levels
        ]
    )
    return (
        df.select(F.explode(structs).alias("t"))
        .select("t.*")
        .groupBy("level", "hmesh_code")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


# ---------------------------------------------------------------------------
# Raster direction: rasterize the zone (Voronoi polygon) layer to tiles


def tile_center_lon_sql(x_col: str, zoom: int) -> str:
    """Inverse web-mercator: longitude of a tile's center — identical
    SQL text in both engines (only +,*,/ — exact IEEE)."""
    n = 1 << zoom
    return (
        f"((({x_col}) + {geo.dlit(0.5)}) / {n} * {geo.dlit(360.0)}"
        f" - {geo.dlit(180.0)})"
    )


def tile_center_lat_sql(y_col: str, zoom: int) -> str:
    """Inverse web-mercator: latitude of a tile's center.
    sinh spelled as (exp(t) - exp(-t))/2 so the identical expression
    parses in Spark and DuckDB."""
    n = 1 << zoom
    t = (
        f"(pi() * ({geo.dlit(1.0)} - {geo.dlit(2.0)}"
        f" * ((({y_col}) + {geo.dlit(0.5)}) / {n})))"
    )
    return (
        f"degrees(atan((exp({t}) - exp(-({t}))) / {geo.dlit(2.0)}))"
    )


def _raster_bounds(zoom: int) -> tuple[int, int, int, int]:
    """Tile index ranges covering the fixture extent at ``zoom``
    (inclusive). Computed driver-side with the same formulas as
    tile_x/y_sql and embedded as literals in BOTH engines' SQL."""
    import numpy as np

    x0, y1 = geo.tile_xyz_np(
        np.array([geo.LAT0]), np.array([geo.LON0]), zoom
    )
    x1, y0 = geo.tile_xyz_np(
        np.array([geo.LAT0 + geo.DLAT]), np.array([geo.LON0 + geo.DLON]), zoom
    )
    return int(x0[0]), int(x1[0]), int(y0[0]), int(y1[0])


def zone_raster(
    spark, towers: DataFrame, zoom: int = 13
) -> DataFrame:
    """Raster direction of the raster<->vector pair: burn the
    tower-Voronoi polygon layer onto the z-level tile grid — every
    tile covering the fixture extent gets the zone whose polygon
    contains its center (nearest site under the planar metric ==
    Voronoi membership, the same argmin as zones.assign_zone, so
    raster and point assignments can never disagree).

    The grid is generated, not scanned: spark.range over the
    (x, y) index box, inverse-mercator center coordinates as codegen
    expressions, the zone argmin compiled in — zero input, zero
    Python, one narrow projection; at any zoom the work is
    |tiles| x |polygons| map-side with no shuffle at all. For
    planet-scale polygon layers (10^6+), swap the compiled argmin for
    the cell-ring kNN index (operators/knn.py), exactly as
    zones.assign_zone documents.

    Output: (z, x, y, zone_id), one row per tile in the extent box.
    """
    from . import zones

    xmin, xmax, ymin, ymax = _raster_bounds(zoom)
    nx = xmax - xmin + 1
    ny = ymax - ymin + 1
    base = spark.range(nx * ny).select(
        (F.lit(xmin) + F.col("id") % nx).alias("x"),
        # integer div, not float-div+cast: exact at any zoom (the
        # oracle's // twin), where a double quotient loses exactness
        # past 2^53 grid cells
        (F.lit(ymin) + F.expr(f"id div {nx}")).alias("y"),
    )
    pts = base.select(
        "x",
        "y",
        F.expr(tile_center_lat_sql("y", zoom)).alias("lat"),
        F.expr(tile_center_lon_sql("x", zoom)).alias("lon"),
    )
    return zones.assign_zone(pts, towers).select(
        F.lit(zoom).alias("z"), "x", "y", "zone_id"
    )


def zone_raster_oracle(towers_sql: str, zoom: int = 13) -> str:
    xmin, xmax, ymin, ymax = _raster_bounds(zoom)
    nx = xmax - xmin + 1
    ny = ymax - ymin + 1
    clat = tile_center_lat_sql("y", zoom)
    clon = tile_center_lon_sql("x", zoom)
    d2 = geo.planar_d2_sql("p.lat", "p.lon", "t.tlat", "t.tlon")
    return (
        f"WITH towers AS ({towers_sql}), "
        f"g AS (SELECT {xmin} + (i % {nx}) AS x, "
        f"{ymin} + (i // {nx}) AS y "
        f"FROM (SELECT unnest(generate_series(0, {nx * ny - 1})) AS i)), "
        f"p AS (SELECT x, y, {clat} AS lat, {clon} AS lon FROM g), "
        "r AS (SELECT x, y, t.zone_id, row_number() OVER ("
        f"PARTITION BY x, y ORDER BY {d2}, t.zone_id) AS rn "
        "FROM p CROSS JOIN towers t) "
        f"SELECT {zoom} AS z, x, y, zone_id FROM r WHERE rn = 1"
    )


# ---------------------------------------------------------------------------
# Geohash rollup (r5): standard base32 grid interop

GEOHASH_PRECISION = 6


def geohash_counts(
    df: DataFrame,
    precision: int = GEOHASH_PRECISION,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """(geohash, n_events): event counts on the standard geohash grid
    — the interop encoding external GIS stacks expect, alongside the
    engine's own cell (H3-analogue), XYZ-tile, and HMesh encodings.

    The encode is ONE dialect-free arithmetic SQL expression
    (functions/geo.geohash_sql): both engines quantize each
    coordinate once and assemble base32 chars from shifted bit
    extracts, so the DuckDB oracle is expression-identical and the
    value hash matches bit-for-bit.

    Scale shape: map-only codegen projection + one partial-aggregated
    groupBy on the geohash key — identical to tile_counts; prefix
    aggregation to a coarser precision is a substr() regroup, no
    re-encode.
    """
    return (
        df.select(
            F.expr(geo.geohash_sql(lat_col, lon_col, precision)).alias(
                "geohash"
            )
        )
        .groupBy("geohash")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def geohash_counts_oracle(
    from_sql: str,
    precision: int = GEOHASH_PRECISION,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> str:
    return (
        f"SELECT {geo.geohash_sql(lat_col, lon_col, precision)} AS geohash, "
        f"count(*) AS n_events FROM {from_sql} GROUP BY geohash"
    )
