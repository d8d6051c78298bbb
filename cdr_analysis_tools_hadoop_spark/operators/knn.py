"""Cell-ring expansion kNN against a replicated site layer.

Reference parity: J8 — `TurkcellReallocationUDF` relocates STAY points
to the nearest POI within REALLOCATE_RADIUS=300 m (constant verified
in the jar bytecode, reference lib/pflow-hiveUDF.jar; invoked by
queries/interpolation/insert_poi_relocation.sql:1-3). The reference
re-reads a sideloaded TSV inside every UDF call; here the site layer
is compiled ONCE into a cell->sites index of numpy arrays, shipped to
the tasks inside the kernel closure (no broadcast variable to manage),
and probed with ring expansion:

  ring 0: the point's own cell; ring k: cells at Chebyshev distance k.
  After scanning ring k, any candidate at distance <= k * cell_edge is
  provably optimal (no site in ring >k can be closer), so expansion
  stops early — exact kNN, O(sites-in-neighborhood) per point instead
  of O(all sites).

Everything is Arrow-batched numpy (mapInPandas); the index scales to
millions of sites because only cell-local candidates are touched (once
the closure pickles past 1 MB, PySpark broadcasts the command itself).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType

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
    nearest site id + distance, or nulls when none within radius."""
    res = pick_res_for_radius(radius_m)
    idx = SiteIndex(np.asarray(sites, dtype=np.float64), res)
    dist_fn = geo.haversine_np if metric == "haversine" else (
        lambda a, b, c, d: np.sqrt(geo.planar_d2_np(a, b, c, d)) * geo.M_PER_DEG
    )

    def kernel(batches):
        for pdf in batches:
            lat = pdf[lat_col].to_numpy(dtype=np.float64)
            lon = pdf[lon_col].to_numpy(dtype=np.float64)
            best_id = np.full(len(pdf), -1, dtype=np.int64)
            best_d = np.full(len(pdf), np.inf)
            cells = geo.cell_id_np(lat, lon, idx.res)
            uniq, inv = np.unique(cells, return_inverse=True)
            order = np.argsort(inv, kind="stable")
            starts = np.searchsorted(inv[order], np.arange(len(uniq)))
            ends = np.append(starts[1:], len(inv))
            # ring 0 + ring 1 always suffice: cell edge >= radius; only
            # cells with a site in that 3x3 block enter the loop
            slot = geo.find_sorted(idx.uc, geo.cell_block(uniq, idx.res))
            near = slot >= 0
            for ci in np.flatnonzero(near.any(axis=1)):
                cand_idx = np.concatenate(
                    [idx.order[idx.starts[j]:idx.ends[j]] for j in slot[ci, near[ci]]]
                )
                rows = order[starts[ci]:ends[ci]]
                d = dist_fn(
                    lat[rows, None], lon[rows, None],
                    idx.lat[cand_idx][None, :], idx.lon[cand_idx][None, :],
                )
                # Emulate the oracle's `WHERE dist <= radius ORDER BY
                # (dist, site_id) LIMIT 1` exactly: the radius filter
                # applies to each SITE's own distance BEFORE ordering,
                # so mask out-of-radius candidates first, then take the
                # minimum over the survivors.
                in_r = d <= radius_m
                d_masked = np.where(in_r, d, np.inf)
                dm = d_masked.min(axis=1)
                # tie-break like the oracle's ORDER BY (distance,
                # site_id): among in-radius candidates within a
                # RELATIVE (FP-noise-scale) epsilon of the row minimum
                # take the SMALLEST site id. A bare argmin picks
                # first-in-candidate-order, which flips on duplicate-
                # coordinate sites or ulp-level numpy-vs-libm
                # differences; an absolute epsilon (r2's 1e-6 m) would
                # also collapse DISTINCT sites a micron apart and could
                # emit a distance a hair past the radius.
                ids_c = idx.ids[cand_idx]
                close = in_r & (d_masked <= dm[:, None] * (1.0 + 1e-12))
                tie_id = np.where(
                    close, ids_c[None, :], np.iinfo(np.int64).max
                ).min(axis=1)
                # report the CHOSEN site's own distance (not the row
                # minimum): the emitted (site_id, dist) pair must
                # belong to one site, as the oracle's ORDER BY
                # (distance, site_id) row does
                sel = close & (ids_c[None, :] == tie_id[:, None])
                chosen_d = d[np.arange(d.shape[0]), sel.argmax(axis=1)]
                ok = np.isfinite(dm)
                best_id[rows[ok]] = tie_id[ok]
                best_d[rows[ok]] = chosen_d[ok]
            out = pdf.copy()
            out["__site_id"] = best_id
            out["__site_d"] = np.where(np.isfinite(best_d), best_d, np.nan)
            yield out

    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        list(df.schema.fields)
        + [StructField("__site_id", LongType()), StructField("__site_d", DoubleType())]
    )
    got = df.mapInPandas(kernel, schema=schema)
    return got.select(
        *[F.col(c) for c in df.columns],
        F.when(F.col("__site_id") >= 0, F.col("__site_id")).alias(id_out),
        F.col("__site_d").alias(dist_out),
    )
