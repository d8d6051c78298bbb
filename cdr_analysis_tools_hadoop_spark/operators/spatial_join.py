"""Map-side point-in-polygon join: cell cover + ray-casting refine.

The core operator the reference promised but never shipped
(`FindPolygon`/`FindPolygon2` registered from the missing
cdrmobilitylib.jar, reference hive_init_commands/
initial_hive_commands_od.json:13-14). Design per BASELINE.json
north_star:

1. The polygon layer (a DIMENSION: zones, admin boundaries) is
   compiled driver-side into a cell index at a chosen resolution
   (``PolygonIndex``, numpy arrays only):
   - interior cells  -> polygon id decided, no per-point work; stored
     as runs of consecutive cell ids (grid column segments)
   - boundary cells  -> candidate polygon list, per-point ray cast
   The cover is exact: a cell is interior iff all 4 corners are
   inside AND no polygon edge intersects the cell rectangle.
2. ``pip_join`` turns the index into constant tables in the query
   plan (geo.column_runs / geo.tables_sql): per grid column, the run
   starts and run values (an interior polygon or a boundary slot),
   the candidate list of each slot, and each ring's coordinates once.
   About 34 KB of SQL text for 25 Voronoi zones at res 8.
3. Every row then runs as JVM expressions in one map-only stage: the
   cell lookup decides interior rows (96% of them on the tower layer);
   boundary rows ray-cast their candidates in layer order with
   geo.point_in_ring_sql, the bit-identical twin of the numpy ray
   cast. No Python worker, no broadcast, no join, no shuffle.

``assign_zone_np`` is the same lookup in numpy: the fused image
pipeline runs it inside its Arrow kernel, and the tests hold the JVM
path to it. Hotspot polygons (a huge Voronoi cell around a downtown
tower) are handled by RESOLUTION, not row salting: raise `res` until
boundary cells are thin.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import geo


def _edges_cross_cells(
    ring: np.ndarray, xs: np.ndarray, ys: np.ndarray, nx: int, ny: int
) -> np.ndarray:
    """(ny, nx) bool: does any polygon edge intersect each grid cell?

    Vectorized Liang-Barsky clip of every edge against the cells in
    its own bbox window — O(edges x cells-under-edge), all numpy.
    """
    out = np.zeros((ny, nx), dtype=bool)
    vx = ring[:, 0]
    vy = ring[:, 1]
    ax, ay = vx, vy
    bx, by = np.roll(vx, -1), np.roll(vy, -1)
    for e in range(len(ring)):
        x_lo, x_hi = min(ax[e], bx[e]), max(ax[e], bx[e])
        y_lo, y_hi = min(ay[e], by[e]), max(ay[e], by[e])
        i0 = max(0, int(np.searchsorted(xs, x_lo, side="right")) - 1)
        i1 = min(nx - 1, int(np.searchsorted(xs, x_hi, side="right")) - 1)
        j0 = max(0, int(np.searchsorted(ys, y_lo, side="right")) - 1)
        j1 = min(ny - 1, int(np.searchsorted(ys, y_hi, side="right")) - 1)
        if i1 < i0 or j1 < j0:
            continue
        cx0 = xs[i0:i1 + 1][None, :]
        cx1 = xs[i0 + 1:i1 + 2][None, :]
        cy0 = ys[j0:j1 + 1][:, None]
        cy1 = ys[j0 + 1:j1 + 2][:, None]
        dx = bx[e] - ax[e]
        dy = by[e] - ay[e]
        t0 = np.zeros((j1 - j0 + 1, i1 - i0 + 1))
        t1 = np.ones_like(t0)
        ok = np.ones_like(t0, dtype=bool)
        for p, q in (
            (-dx, ax[e] - cx0),
            (dx, cx1 - ax[e]),
            (-dy, ay[e] - cy0),
            (dy, cy1 - ay[e]),
        ):
            if p == 0:
                ok &= np.broadcast_to(q >= 0, ok.shape)
            else:
                t = np.broadcast_to(q, ok.shape) / p
                if p < 0:
                    t0 = np.maximum(t0, t)
                else:
                    t1 = np.minimum(t1, t)
        ok &= t0 <= t1
        out[j0:j1 + 1, i0:i1 + 1] |= ok
    return out


class PolygonIndex:
    """Driver-side compiled cell index of a polygon layer, held in
    numpy arrays only: it travels in the fused pipeline's kernel
    closure, and pip_join turns it into plan constants.

    Cell ids are ``(res << 54) + ix * 2^res + iy``, so consecutive ids
    walk a grid column:

    - interior: sorted, disjoint ``[run_lo, run_hi)`` cell-id runs,
      every cell of run ``i`` wholly inside polygon ``run_poly[i]``;
    - boundary: sorted ``bnd_cells`` whose candidate polygons are
      ``bnd_poly[bnd_ptr[i]:bnd_ptr[i + 1]]`` in ascending layer order.

    Overlaps resolve by layer order (the first polygon containing a
    point wins). A cell inside polygon ``p`` stays interior only when
    no earlier polygon's boundary touches it; otherwise it becomes a
    boundary cell whose last candidate is ``p``.
    """

    def __init__(self, polys: list[tuple[object, np.ndarray]], res: int):
        self.res = res
        self.ids = [pid for pid, _ in polys]
        self.rings = [np.asarray(r, dtype=np.float64) for _, r in polys]
        n = 1 << res
        # (cell, polygon) pairs, interior and boundary, over all polygons
        ic, bc = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
        ip, bp = [np.empty(0, np.int32)], [np.empty(0, np.int32)]
        for idx, ring in enumerate(self.rings):
            if len(ring) < 3:
                continue
            min_lon, min_lat, max_lon, max_lat = geo.polygon_bbox(ring)
            ix0 = max(0, int(np.floor((min_lon - geo.LON0) / geo.DLON * n)))
            ix1 = min(n - 1, int(np.floor((max_lon - geo.LON0) / geo.DLON * n)))
            iy0 = max(0, int(np.floor((min_lat - geo.LAT0) / geo.DLAT * n)))
            iy1 = min(n - 1, int(np.floor((max_lat - geo.LAT0) / geo.DLAT * n)))
            if ix1 < ix0 or iy1 < iy0:
                continue
            nx, ny = ix1 - ix0 + 1, iy1 - iy0 + 1
            # grid of cell-corner coordinates: (ny+1) x (nx+1)
            xs = geo.LON0 + geo.DLON * np.arange(ix0, ix1 + 2) / n
            ys = geo.LAT0 + geo.DLAT * np.arange(iy0, iy1 + 2) / n
            gx, gy = np.meshgrid(xs, ys)
            cin = geo.point_in_polygon_np(gy.ravel(), gx.ravel(), ring).reshape(
                ny + 1, nx + 1
            )
            all_in = cin[:-1, :-1] & cin[:-1, 1:] & cin[1:, :-1] & cin[1:, 1:]
            any_in = cin[:-1, :-1] | cin[:-1, 1:] | cin[1:, :-1] | cin[1:, 1:]
            crosses = _edges_cross_cells(ring, xs, ys, nx, ny)
            interior_mask = all_in & ~crosses
            boundary_mask = (any_in | crosses) & ~interior_mask
            ids = geo.xy_to_cell(
                res, np.arange(ix0, ix1 + 1)[None, :], np.arange(iy0, iy1 + 1)[:, None]
            )
            for cells, owners, mask in ((ic, ip, interior_mask), (bc, bp, boundary_mask)):
                cells.append(ids[mask])
                owners.append(np.full(int(mask.sum()), idx, dtype=np.int32))
        ic, ip, bc, bp = map(np.concatenate, (ic, ip, bc, bp))
        # interior owner of a cell: the first polygon it lies inside
        order = np.lexsort((ip, ic))
        ic, ip = ic[order], ip[order]
        first = np.ones(len(ic), dtype=bool)
        first[1:] = ic[1:] != ic[:-1]
        ic, ip = ic[first], ip[first]
        # boundary candidates after a cell's owner can never win
        at = geo.find_sorted(ic, bc)
        owned = at >= 0
        keep = ~owned
        keep[owned] = bp[owned] < ip[at[owned]]
        # an owned cell touched by an earlier boundary is refined, with
        # its owner as the last candidate
        demoted = np.unique(at[owned & keep])
        bc = np.concatenate([bc[keep], ic[demoted]])
        bp = np.concatenate([bp[keep], ip[demoted]])
        live = np.ones(len(ic), dtype=bool)
        live[demoted] = False
        ic, ip = ic[live], ip[live]
        brk = np.ones(len(ic), dtype=bool)
        brk[1:] = (ic[1:] != ic[:-1] + 1) | (ip[1:] != ip[:-1])
        last = np.ones(len(ic), dtype=bool)
        last[:-1] = brk[1:]
        self.run_lo = ic[brk]
        self.run_hi = ic[last] + 1
        self.run_poly = ip[brk]
        order = np.lexsort((bp, bc))
        self.bnd_poly = bp[order]
        self.bnd_cells, first_pair = np.unique(bc[order], return_index=True)
        self.bnd_ptr = np.append(first_pair, len(bc)).astype(np.int32)

    def lookup_interior(self, cells: np.ndarray) -> np.ndarray:
        """Vectorized cell -> interior polygon idx (-1 if not interior)."""
        if len(self.run_lo) == 0:
            return np.full(len(cells), -1, dtype=np.int64)
        pos = np.searchsorted(self.run_lo, cells, side="right") - 1
        hit = (pos >= 0) & (cells < self.run_hi[pos])
        return np.where(hit, self.run_poly[pos], -1).astype(np.int64)

    def stats(self) -> dict:
        return {
            "res": self.res,
            "polygons": len(self.rings),
            "interior_cells": int((self.run_hi - self.run_lo).sum()),
            "boundary_cells": len(self.bnd_cells),
        }


def assign_zone_np(idx: PolygonIndex, cells: np.ndarray, lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    """Vectorized polygon assignment (-1 = none): the fused pipeline
    kernel's PIP and the reference of pip_join. Interior cells via
    one searchsorted over the runs, boundary rows via one ray cast per
    candidate polygon present in the batch, in layer order (first hit
    wins)."""
    uniq, inv = np.unique(cells, return_inverse=True)
    out = idx.lookup_interior(uniq)[inv]
    slot = geo.find_sorted(idx.bnd_cells, uniq)
    bu = np.flatnonzero(slot >= 0)
    if len(bu) == 0:
        return out
    # (unique cell, candidate polygon) pairs of the batch's boundary cells
    lo = idx.bnd_ptr[slot[bu]]
    cnt = idx.bnd_ptr[slot[bu] + 1] - lo
    pair_u = np.repeat(bu, cnt)
    pair_p = idx.bnd_poly[
        np.repeat(lo - np.cumsum(cnt) + cnt, cnt) + np.arange(cnt.sum())
    ]
    is_bnd = np.zeros(len(uniq), dtype=bool)
    is_bnd[bu] = True
    rows = np.flatnonzero(is_bnd[inv])
    rinv = inv[rows]
    for pidx in np.unique(pair_p):
        cand = np.zeros(len(uniq), dtype=bool)
        cand[pair_u[pair_p == pidx]] = True
        sel = rows[cand[rinv] & (out[rows] == -1)]
        hit = geo.point_in_polygon_np(lat[sel], lon[sel], idx.rings[pidx])
        out[sel[hit]] = pidx
    return out


def _zone_table(index: PolygonIndex) -> tuple[list, list, list]:
    """(starts, values, candidates) of the layer's cell table: a run
    value ``p >= 0`` is interior polygon ``p``, -1 no polygon, and
    ``-2 - k`` a boundary cell whose candidate polygons (layer order)
    are ``candidates[k]``; cells with equal candidates share ``k``."""
    slot, candidates = geo.candidate_slots(index.bnd_ptr, index.bnd_poly)
    lo = np.concatenate([index.run_lo, index.bnd_cells])
    hi = np.concatenate([index.run_hi, index.bnd_cells + 1])
    values = np.concatenate([index.run_poly, -2 - slot])
    order = np.argsort(lo, kind="stable")
    starts, vals = geo.column_runs(lo[order], hi[order], values[order], index.res, fill=-1)
    return starts, vals, candidates


def pip_join(
    df: DataFrame,
    polys: list[tuple[object, np.ndarray]],
    lat_col: str = "lat",
    lon_col: str = "lon",
    out_col: str = "poly_id",
    res: int = 8,
) -> DataFrame:
    """Attach the containing polygon's id (or null) to every row.

    Map-only JVM expressions: a cell-table lookup decides interior
    rows; boundary rows ray-cast their cell's candidate polygons in
    layer order, first hit wins. NULL or NaN coordinates get null.
    """
    index = PolygonIndex(polys, res)
    starts, vals, candidates = _zone_table(index)
    rings = [geo.closed_ring(r) for r in index.rings]
    tables = geo.tables_sql({
        "starts": (starts, "array<array<int>>"),
        "vals": (vals, "array<array<int>>"),
        "cands": (candidates, "array<array<int>>"),
        "xs": ([x for x, _ in rings], "array<array<double>>"),
        "ys": ([y for _, y in rings], "array<array<double>>"),
        "ids": ([str(p) for p in index.ids], "array<string>"),
    })
    ix, iy = geo.lookup_xy_sql(lat_col, lon_col, res)
    cell = geo.cell_lookup_sql("__ix", "__iy", "__pip.starts", "__pip.vals")
    # a boundary cell's candidates in layer order, each with its ring;
    # the first that contains the point wins, NULL when none does
    cands = (
        "transform(element_at(__pip.cands, -1 - __cell), __p -> named_struct('p', __p, "
        "'xs', element_at(__pip.xs, __p + 1), 'ys', element_at(__pip.ys, __p + 1)))"
    )
    inside = geo.point_in_ring_sql(lat_col, lon_col, "__c.xs", "__c.ys")
    first_hit = (
        f"aggregate({cands}, CAST(NULL AS INT), (__hit, __c) -> "
        f"CASE WHEN __hit IS NOT NULL THEN __hit WHEN {inside} THEN __c.p END)"
    )
    zone = (
        "element_at(__pip.ids, CASE WHEN __cell >= 0 THEN __cell + 1 "
        f"WHEN __cell <= -2 THEN {first_hit} + 1 END)"
    )
    # the tables, the grid position and the lookup are each bound once
    return (
        df.select("*", F.expr(tables).alias("__pip"), F.expr(ix).alias("__ix"), F.expr(iy).alias("__iy"))
        .withColumn("__cell", F.expr(cell))
        .withColumn(out_col, F.expr(zone))
        .drop("__pip", "__ix", "__iy", "__cell")
    )
