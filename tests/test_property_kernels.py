"""Property tests (hypothesis) for the pure-numpy kernels.

SURVEY.md §7.4: hand-rolled geometry/codec kernels are property-tested
against brute-force scalar implementations. They run in milliseconds;
only the layer-order test also runs its points through Spark, to hold
the JVM pip_join to the numpy kernel.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from cdr_analysis_tools_hadoop_spark.functions import codec, geo
from cdr_analysis_tools_hadoop_spark.operators.spatial_join import (
    PolygonIndex,
    assign_zone_np,
    pip_join,
)
from cdr_analysis_tools_hadoop_spark.sources import synthetic

lat_st = st.floats(min_value=geo.LAT0, max_value=geo.LAT0 + geo.DLAT,
                   allow_nan=False, allow_infinity=False)
lon_st = st.floats(min_value=geo.LON0, max_value=geo.LON0 + geo.DLON,
                   allow_nan=False, allow_infinity=False)


def _pip_scalar(lat: float, lon: float, ring: np.ndarray) -> bool:
    """Textbook even-odd ray cast, one point at a time."""
    inside = False
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        if (y1 > lat) != (y2 > lat):
            xin = (x2 - x1) * (lat - y1) / (y2 - y1) + x1
            if lon < xin:
                inside = not inside
    return inside


@settings(max_examples=50, deadline=None)
@given(st.lists(st.tuples(lat_st, lon_st), min_size=1, max_size=20),
       st.integers(min_value=3, max_value=9), st.randoms())
def test_pip_np_matches_scalar(points, nverts, rnd):
    ang = np.sort(np.array([rnd.uniform(0, 2 * np.pi) for _ in range(nverts)]))
    r = np.array([rnd.uniform(0.05, 0.4) for _ in range(nverts)])
    cx, cy = geo.LON0 + 0.5, geo.LAT0 + 0.5
    ring = np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], axis=1)
    lat = np.array([p[0] for p in points])
    lon = np.array([p[1] for p in points])
    got = geo.point_in_polygon_np(lat, lon, ring)
    want = np.array([_pip_scalar(a, o, ring) for a, o in points])
    assert (got == want).all()


def _first_hit(polys, lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    """Brute force: first polygon (layer order) containing each point."""
    want = np.full(len(lat), -1, dtype=np.int64)
    for pi, (_, ring) in enumerate(polys):
        hit = geo.point_in_polygon_np(lat, lon, np.asarray(ring))
        want[(want == -1) & hit] = pi
    return want


# 3-130 towers: candidate sets well past 64 polygons
@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=3, max_value=130), st.integers(min_value=4, max_value=10),
       st.lists(st.tuples(lat_st, lon_st), min_size=1, max_size=50))
def test_polygon_index_matches_bruteforce(n_towers, res, points):
    towers = synthetic.towers_np(n_towers)
    polys = list(zip(towers[:, 0].astype(np.int64), synthetic.voronoi_polygons(towers)))
    idx = PolygonIndex(polys, res)
    lat = np.array([p[0] for p in points])
    lon = np.array([p[1] for p in points])
    cells = geo.cell_id_np(lat, lon, res)
    assert (assign_zone_np(idx, cells, lat, lon) == _first_hit(polys, lat, lon)).all()


def _square(x0: float, y0: float, x1: float, y1: float) -> np.ndarray:
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]])


def _hard_points(idx: PolygonIndex) -> tuple[np.ndarray, np.ndarray]:
    """(lat, lon) of points where a ray cast is decided by rounding:
    every polygon vertex, points along every edge, and the four corners
    of every boundary cell (the corner formula PolygonIndex uses)."""
    pts = []
    for ring in idx.rings:
        nxt = np.roll(ring, -1, axis=0)
        pts += [ring + t * (nxt - ring) for t in (0.0, 0.25, 1 / 3, 0.5, 0.75)]
    n = 1 << idx.res
    rem = idx.bnd_cells - (np.int64(idx.res) << 54)
    for dx in (0, 1):
        for dy in (0, 1):
            ix, iy = rem // n + dx, rem % n + dy
            pts.append(np.stack([geo.LON0 + geo.DLON * ix / n, geo.LAT0 + geo.DLAT * iy / n], axis=1))
    pts = np.concatenate(pts)
    return pts[:, 1], pts[:, 0]


@pytest.mark.parametrize("order", ["AB", "BA", "CA", "AC", "ACB", "towers25"])
def test_polygon_index_overlapping_layers_first_hit(spark, order):
    """Overlapping polygons resolve by layer order: a cell inside a
    later polygon but crossed by an earlier one's edge must be refined,
    not answered by the interior lookup. Edges sit off the res-10 grid
    lines; C lies inside A. The Spark pip_join must give the same
    polygon as assign_zone_np, also on vertices, edges and cell
    corners, for these layers and the 25-tower res-8 layer."""
    shapes = {
        "A": _square(139.2013, 35.2017, 139.6031, 35.6043),
        "B": _square(139.4007, 35.4011, 139.8029, 35.8037),
        "C": _square(139.3003, 35.3009, 139.4501, 35.4507),
    }
    if order == "towers25":
        towers = synthetic.towers_np(25)
        polys = list(zip(towers[:, 0].astype(np.int64), synthetic.voronoi_polygons(towers)))
        res = 8
    else:
        polys, res = [(k, shapes[k]) for k in order], 10
    rng = np.random.default_rng(3)
    idx = PolygonIndex(polys, res)
    hard_lat, hard_lon = _hard_points(idx)
    lat = np.concatenate([geo.LAT0 + rng.random(20_000) * geo.DLAT, hard_lat])
    lon = np.concatenate([geo.LON0 + rng.random(20_000) * geo.DLON, hard_lon])
    got = assign_zone_np(idx, geo.cell_id_np(lat, lon, res), lat, lon)
    assert (got == _first_hit(polys, lat, lon)).all()

    pdf = pd.DataFrame({"pid": np.arange(len(lat)), "lat": lat, "lon": lon})
    rows = pip_join(spark.createDataFrame(pdf), polys, res=res).select("pid", "poly_id").collect()
    ids = [str(p) for p, _ in polys]
    want = {pid: (ids[z] if z >= 0 else None) for pid, z in enumerate(got.tolist())}
    assert {r.pid: r.poly_id for r in rows} == want


@pytest.mark.parametrize("layer", ["empty", "sub_cell", "off_grid", "degenerate", "mixed"])
def test_polygon_index_without_interior_cells(layer):
    """Layers with no wholly interior cell (empty, polygons smaller than
    one cell, off the grid, rings under 3 vertices) build and assign
    like the brute force."""
    tiny = _square(139.4, 35.4, 139.6, 35.6)  # 0.2 deg on a 0.25 deg grid
    layers = {
        "empty": [],
        "sub_cell": [("T", tiny)],
        "off_grid": [("O", _square(150.0, 40.0, 151.0, 41.0))],
        "degenerate": [("D", tiny[:2])],
        "mixed": [("D", tiny[:2]), ("T", tiny), ("U", _square(139.45, 35.45, 139.7, 35.7))],
    }
    polys = layers[layer]
    rng = np.random.default_rng(7)
    lat = geo.LAT0 + rng.random(5_000) * geo.DLAT
    lon = geo.LON0 + rng.random(5_000) * geo.DLON
    idx = PolygonIndex(polys, 2)
    assert idx.stats()["interior_cells"] == 0
    got = assign_zone_np(idx, geo.cell_id_np(lat, lon, 2), lat, lon)
    assert (got == _first_hit(polys, lat, lon)).all()


@settings(max_examples=50, deadline=None)
@given(lat_st, lon_st, st.integers(min_value=0, max_value=geo.MAX_RES))
def test_cell_roundtrip_and_parent(lat, lon, res):
    cell = int(geo.cell_id_np(np.array([lat]), np.array([lon]), res)[0])
    r, ix, iy = geo.cell_to_xy(cell)
    assert r == res
    assert geo.xy_to_cell(r, ix, iy) == cell
    if res > 0:
        parent = int(geo.cell_id_np(np.array([lat]), np.array([lon]), res - 1)[0])
        pr, pix, piy = geo.cell_to_xy(parent)
        assert (pix, piy) == (ix >> 1, iy >> 1)


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=1, max_value=6), st.integers(min_value=1, max_value=6),
       st.integers(min_value=0, max_value=2**32 - 1))
def test_codec_roundtrip(h8, w8, seed):
    rng = np.random.default_rng(seed)
    pix = rng.integers(0, 256, size=(h8 * 8, w8 * 8, 3), dtype=np.uint8)
    assert (codec.decode(codec.encode_rawz(pix)) == pix).all()
    assert (codec.decode(codec.encode_pngl(pix)) == pix).all()
    out = codec.decode(codec.encode_qnt4(pix))
    assert codec.psnr(pix, out) >= 40.0


@settings(max_examples=50, deadline=None)
@given(lat_st, lon_st, st.integers(min_value=1, max_value=18))
def test_tile_np_matches_slippy(lat, lon, zoom):
    import math
    x, y = geo.tile_xyz_np(np.array([lat]), np.array([lon]), zoom)
    n = 1 << zoom
    wx = min(n - 1, max(0, int((lon + 180.0) / 360.0 * n)))
    lr = math.radians(lat)
    wy = min(n - 1, max(0, int((1.0 - math.log(math.tan(lr) + 1 / math.cos(lr)) / math.pi) / 2.0 * n)))
    assert (int(x[0]), int(y[0])) == (wx, wy)
