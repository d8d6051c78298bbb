"""Cell-ring expansion kNN against a replicated site layer.

Reference parity: J8 — `TurkcellReallocationUDF` relocates STAY points
to the nearest POI within REALLOCATE_RADIUS=300 m (constant verified
in the jar bytecode, reference lib/pflow-hiveUDF.jar; invoked by
queries/interpolation/insert_poi_relocation.sql:1-3). The reference
re-reads a sideloaded TSV inside every UDF call; here the site layer
is compiled ONCE per query into a cell index (``SiteIndex``, numpy
CSR) at the finest resolution whose cell edge covers the radius:

  ring 0: the point's own cell; ring 1: its 8 neighbours. A site
  within the radius of a point is always in the point's 3x3 block,
  so the block's sites are the exact candidate set.

``nearest_site_within`` turns the index into constant tables in the
query plan (geo.column_runs / geo.tables_sql): per grid column, runs
of slots into the distinct candidate lists of the cells' 3x3 blocks,
plus the sites. Each row then runs as JVM expressions: one cell
lookup, distances to the block's candidates with geo.haversine_sql or
geo.planar_d2_sql, radius filter, then the oracle's tie rule. No
Python worker, no broadcast, no join; work per point is proportional
to the sites in its neighbourhood, not the layer.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import geo


class SiteIndex:
    """Sites bucketed by cell, at a resolution sized to the query radius."""

    def __init__(self, sites: np.ndarray, res: int):
        """``sites``: (n, 3) of (site_id, lat, lon)."""
        sites = np.asarray(sites, dtype=np.float64)
        if sites.ndim != 2 or sites.shape[1] != 3:
            # an empty layer arrives as shape (0,): sites[:, 0] would
            # raise an opaque IndexError on the driver
            raise ValueError(
                "SiteIndex needs an (n, 3) array of (site_id, lat, "
                f"lon) with n >= 1; got shape {sites.shape}"
            )
        self.res = res
        self.ids = sites[:, 0].astype(np.int64)
        self.lat = sites[:, 1].astype(np.float64)
        self.lon = sites[:, 2].astype(np.float64)
        cells = geo.cell_id_np(self.lat, self.lon, res)
        self.order = np.argsort(cells, kind="stable")
        # CSR layout: sorted unique cells ``uc``; the sites of cell
        # ``uc[j]`` are ``order[starts[j]:ends[j]]``
        self.uc, self.starts = np.unique(cells[self.order], return_index=True)
        self.ends = np.append(self.starts[1:], len(cells))


def pick_res_for_radius(radius_m: float) -> int:
    """Finest resolution whose MINIMUM cell edge still covers the
    radius in one ring (ring-1 then guarantees all sites within
    ``radius_m`` on both axes). Raises when even resolution 0 cannot
    cover the radius — silently flooring there would reintroduce the
    missed-neighbor gap this function exists to prevent."""
    for res in range(geo.MAX_RES, -1, -1):
        if geo.cell_size_m(res) >= radius_m:
            return res
    raise ValueError(
        f"radius_m={radius_m} exceeds the coarsest cell edge "
        f"({geo.cell_size_m(0):.0f} m): the ring-1 coverage guarantee "
        "cannot hold — use a smaller radius or a brute-force join"
    )


def _candidate_table(idx: SiteIndex) -> tuple[list, list, list]:
    """(starts, values, candidates) of the layer's cell table: the run
    value of a cell is a slot into ``candidates``, the sites (as index
    positions) of its 3x3 block. Slot 0 is the empty list; cells with
    equal candidate lists share a slot."""
    # every occupied cell j offers its sites to each cell of its block
    block = geo.cell_block(idx.uc, idx.res).ravel()
    owner = np.repeat(np.arange(len(idx.uc)), 9)[block >= 0]
    block = block[block >= 0]
    cnt = idx.ends[owner] - idx.starts[owner]
    first = idx.starts[owner] - np.cumsum(cnt) + cnt
    pair_cell = np.repeat(block, cnt)
    pair_site = idx.order[np.repeat(first, cnt) + np.arange(cnt.sum())]
    order = np.lexsort((pair_site, pair_cell))
    pair_cell, pair_site = pair_cell[order], pair_site[order]
    cells, ptr = np.unique(pair_cell, return_index=True)
    slot, candidates = geo.candidate_slots(np.append(ptr, len(pair_cell)), pair_site)
    starts, vals = geo.column_runs(cells, cells + 1, slot + 1, idx.res, fill=0)
    return starts, vals, [[]] + candidates


def nearest_site_within(
    df: DataFrame,
    sites: np.ndarray,
    radius_m: float = 300.0,
    lat_col: str = "lat",
    lon_col: str = "lon",
    id_out: str = "site_id",
    dist_out: str = "site_dist_m",
    metric: str = "haversine",
) -> DataFrame:
    """k=1 within-radius lookup (the TurkcellReallocation semantics):
    nearest site id + distance, or nulls when none within radius (or
    when a coordinate is NULL or NaN)."""
    res = pick_res_for_radius(radius_m)
    idx = SiteIndex(np.asarray(sites, dtype=np.float64), res)
    starts, vals, candidates = _candidate_table(idx)
    sites = [
        {"id": i, "lat": a, "lon": o}
        for i, a, o in zip(idx.ids.tolist(), idx.lat.tolist(), idx.lon.tolist())
    ]
    tables = geo.tables_sql({
        "starts": (starts, "array<array<int>>"),
        "vals": (vals, "array<array<int>>"),
        "cands": (candidates, "array<array<int>>"),
        "sites": (sites, "array<struct<id:bigint,lat:double,lon:double>>"),
    })
    slot = geo.cell_lookup_sql(*geo.lookup_xy_sql(lat_col, lon_col, res), "__knn.starts", "__knn.vals")
    # site __j of the point's 3x3 cell block
    site = "element_at(__knn.sites, __j + 1)"
    if metric == "haversine":
        dist = geo.haversine_sql(lat_col, lon_col, f"{site}.lat", f"{site}.lon")
    else:
        d2 = geo.planar_d2_sql(lat_col, lon_col, f"{site}.lat", f"{site}.lon")
        dist = f"(sqrt({d2}) * {geo.dlit(geo.M_PER_DEG)})"
    # the candidates within the radius, as (distance, site id): the
    # oracle's `WHERE dist <= radius` applies to each site's own
    # distance before any ordering
    near = (
        f"filter(transform(element_at(__knn.cands, {slot} + 1), "
        f"__j -> named_struct('d', {dist}, 'id', {site}.id)), "
        f"__x -> __x.d <= {geo.dlit(float(radius_m))})"
    )
    # tie-break like the oracle's ORDER BY (distance, site_id): among
    # candidates within a RELATIVE (FP-noise-scale) epsilon of the
    # minimum (the first after sorting) take the SMALLEST site id, and
    # report that site's own distance. An absolute epsilon would
    # collapse DISTINCT sites a micron apart and could emit a distance
    # a hair past the radius.
    pick = (
        f"aggregate(array_sort({near}), CAST(NULL AS STRUCT<dm: DOUBLE, id: BIGINT, d: DOUBLE>), "
        "(__a, __x) -> CASE WHEN __a IS NULL THEN named_struct('dm', __x.d, 'id', __x.id, 'd', __x.d) "
        f"WHEN __x.d <= __a.dm * {geo.dlit(1.0 + 1e-12)} AND __x.id < __a.id "
        "THEN named_struct('dm', __a.dm, 'id', __x.id, 'd', __x.d) ELSE __a END)"
    )
    return (
        df.withColumn("__knn", F.expr(tables))
        .withColumn("__pick", F.expr(pick))
        .withColumns({id_out: F.col("__pick.id"), dist_out: F.col("__pick.d")})
        .drop("__knn", "__pick")
    )
