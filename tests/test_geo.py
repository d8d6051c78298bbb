"""Property tests for the spatial kernels (pure numpy; no Spark)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from cdr_analysis_tools_hadoop_spark.functions import geo
from cdr_analysis_tools_hadoop_spark.sources import synthetic


def test_anchor_in_bbox():
    ids = np.arange(0, 100000, 37, dtype=np.int64)
    lat = geo.anchor_lat_np(ids)
    lon = geo.anchor_lon_np(ids)
    assert (lat >= geo.LAT0).all() and (lat < geo.LAT0 + geo.DLAT).all()
    assert (lon >= geo.LON0).all() and (lon < geo.LON0 + geo.DLON).all()


def test_cell_roundtrip():
    rng = np.random.default_rng(42)
    lat = geo.LAT0 + rng.random(1000) * geo.DLAT
    lon = geo.LON0 + rng.random(1000) * geo.DLON
    for res in (0, 4, 10, geo.MAX_RES):
        cells = geo.cell_id_np(lat, lon, res)
        for c in np.unique(cells)[:50]:
            r, ix, iy = geo.cell_to_xy(int(c))
            assert r == res
            assert geo.xy_to_cell(r, ix, iy) == int(c)
            assert 0 <= ix < (1 << res) and 0 <= iy < (1 << res)


def test_cell_parent_child_alignment():
    rng = np.random.default_rng(7)
    lat = geo.LAT0 + rng.random(500) * geo.DLAT
    lon = geo.LON0 + rng.random(500) * geo.DLON
    fine = geo.cell_id_np(lat, lon, 10)
    coarse = geo.cell_id_np(lat, lon, 9)
    for f, c in zip(fine, coarse):
        rf, xf, yf = geo.cell_to_xy(int(f))
        rc, xc, yc = geo.cell_to_xy(int(c))
        assert (xf >> 1, yf >> 1) == (xc, yc)


def test_cell_ring_counts():
    c = geo.cell_id_np(np.array([35.5]), np.array([139.5]), 8)[0]
    block = geo.cell_block(np.array([c]), 8)[0]
    # own cell (ring 0) plus 8 distinct neighbours (ring 1)
    assert block[4] == c
    assert len(set(block.tolist())) == 9 and (block >= 0).all()
    res, ix, iy = geo.cell_to_xy(int(c))
    assert {geo.cell_to_xy(int(b)) for b in block} == {
        (res, ix + dx, iy + dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    }
    # edge clipping: a corner cell keeps only 3 on-grid neighbours
    corner = geo.xy_to_cell(8, 0, 0)
    assert (geo.cell_block(np.array([corner]), 8)[0] >= 0).sum() == 1 + 3


def test_haversine_known_value():
    # Tokyo Station -> Shinjuku Station ~ 6.2 km
    d = geo.haversine_np([35.681236], [139.767125], [35.690921], [139.700258])
    assert 5500 < d[0] < 7000


def test_point_in_polygon_vs_scalar():
    """Vectorized ray casting agrees with a scalar reference on random
    polygons and points (the reference's FindPolygon jar is missing —
    this is the engine's own ground truth)."""

    def scalar_pip(px, py, ring):
        inside = False
        n = len(ring)
        for i in range(n):
            x1, y1 = ring[i]
            x2, y2 = ring[(i + 1) % n]
            if (y1 > py) != (y2 > py):
                xin = (x2 - x1) * (py - y1) / (y2 - y1) + x1
                if px < xin:
                    inside = not inside
        return inside

    rng = np.random.default_rng(3)
    for _ in range(10):
        k = rng.integers(3, 9)
        ang = np.sort(rng.random(k) * 2 * math.pi)
        r = 0.1 + rng.random(k) * 0.3
        ring = np.stack(
            [139.5 + r * np.cos(ang), 35.5 + r * np.sin(ang)], axis=1
        )
        lat = 35.0 + rng.random(200)
        lon = 139.0 + rng.random(200)
        got = geo.point_in_polygon_np(lat, lon, ring)
        want = np.array([scalar_pip(x, y, ring) for x, y in zip(lon, lat)])
        assert (got == want).all()


def test_voronoi_polygons_match_nearest_site():
    """PIP against the Voronoi rings must reproduce nearest-site
    assignment (the J2/J7 equivalence the engine is built on)."""
    sites = synthetic.towers_np(25)
    polys = synthetic.voronoi_polygons(sites)
    rng = np.random.default_rng(11)
    lat = geo.LAT0 + rng.random(2000) * geo.DLAT
    lon = geo.LON0 + rng.random(2000) * geo.DLON
    d2 = geo.planar_d2_np(
        lat[:, None], lon[:, None], sites[None, :, 1], sites[None, :, 2]
    )
    nearest = np.argmin(d2, axis=1)
    assigned = np.full(len(lat), -1)
    for zid, ring in enumerate(polys):
        if len(ring) == 0:
            continue
        mask = geo.point_in_polygon_np(lat, lon, ring)
        assigned[mask] = zid
    agree = (assigned == nearest).mean()
    # boundary points can land either side of a shared edge; everything
    # else must agree
    assert agree > 0.995, agree


def test_tile_xyz_matches_slippy_reference():
    # openstreetmap slippy formula reference point: (35.6895, 139.6917) z=12
    x, y = geo.tile_xyz_np(np.array([35.6895]), np.array([139.6917]), 12)
    assert (int(x[0]), int(y[0])) == (3637, 1612)


def test_haversine_sql_clamps_antipodal_and_propagates_null(spark):
    """Near-antipodal FP rounding pushes the a-term past 1.0 (NaN via
    asin) — the SQL form must clamp like haversine_np's np.clip, and
    the clamp must be a CASE: least() skips NULLs, which would turn a
    lag()-NULL first-event coordinate into a 20,015 km step."""
    expr = geo.haversine_sql("lat1", "lon1", "lat2", "lon2")
    row = spark.createDataFrame(
        [
            (30.750002053, 0.0, -30.750002053, 179.99999999),  # antipodal-ish
            (None, None, 35.0, 139.0),                         # lag() NULL
            (35.0, 139.0, 35.1, 139.1),                        # ordinary
        ],
        "lat1 double, lon1 double, lat2 double, lon2 double",
    ).selectExpr(f"{expr} AS d").collect()
    import math

    assert math.isfinite(row[0].d)  # clamped, not NaN
    assert row[1].d is None        # NULL propagates
    assert 0 < row[2].d < 20_000   # ~14 km sanity
    # matches the numpy twin on the ordinary pair
    got = geo.haversine_np([35.0], [139.0], [35.1], [139.1])[0]
    assert abs(row[2].d - got) < 1e-6


# ---------------------------------------------------------------------------
# geohash (r5)


def _geohash_textbook(lat, lon, precision):
    """Independent per-bit interval-refinement implementation
    (Niemeyer's algorithm as usually written) — the test yardstick
    for the engine's closed-form quantize-once encode."""
    b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    lat_lo, lat_hi = -90.0, 90.0
    lon_lo, lon_hi = -180.0, 180.0
    bits, n, even, out = 0, 0, True, ""
    while len(out) < precision:
        if even:
            mid = (lon_lo + lon_hi) / 2
            if lon >= mid:
                bits = bits * 2 + 1
                lon_lo = mid
            else:
                bits = bits * 2
                lon_hi = mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat >= mid:
                bits = bits * 2 + 1
                lat_lo = mid
            else:
                bits = bits * 2
                lat_hi = mid
        even = not even
        n += 1
        if n == 5:
            out += b32[bits]
            bits, n = 0, 0
    return out


def test_geohash_np_matches_textbook_and_known_value():
    import random

    assert geo.geohash_np([57.64911], [10.40744], 11) == ["u4pruydqqvj"]
    rng = random.Random(23)
    lats = [rng.uniform(-89.9, 89.9) for _ in range(300)]
    lons = [rng.uniform(-179.9, 179.9) for _ in range(300)]
    for p in (1, 5, 6, 12):
        got = geo.geohash_np(lats, lons, p)
        for la, lo, g in zip(lats, lons, got):
            assert g == _geohash_textbook(la, lo, p), (la, lo, p)


def test_geohash_sql_matches_np_on_spark_and_duckdb(spark):
    import random

    import duckdb
    from pyspark.sql import functions as F

    rng = random.Random(31)
    rows = [
        (i, rng.uniform(-90, 90), rng.uniform(-180, 180)) for i in range(200)
    ]
    want = dict(
        zip(
            [r[0] for r in rows],
            geo.geohash_np([r[1] for r in rows], [r[2] for r in rows], 7),
        )
    )
    df = spark.createDataFrame(rows, "i long, lat double, lon double")
    got_spark = {
        r.i: r.gh
        for r in df.select(
            "i", F.expr(geo.geohash_sql("lat", "lon", 7)).alias("gh")
        ).collect()
    }
    assert got_spark == want
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, {la!r}, {lo!r})" for i, la, lo in rows)
        + ") v(i, lat, lon)"
    )
    got_duck = dict(
        con.execute(
            f"SELECT i, {geo.geohash_sql('lat', 'lon', 7)} FROM t"
        ).fetchall()
    )
    assert got_duck == want
    # boundary clamps: the +90/+180 edges stay in the top cell
    assert geo.geohash_np([90.0], [180.0], 4) == [
        _geohash_textbook(89.999999999, 179.999999999, 4)
    ]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        geo.geohash_sql("lat", "lon", 0)
