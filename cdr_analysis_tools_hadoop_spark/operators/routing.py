"""Network shortest-path route interpolation (f_routing's missing
half, made real on a synthetic road graph).

Reference parity: ``f_routing`` (TurkcellRoutingUDF) routes MOVE legs
over an OSM road network via `jp.ac.ut.csis.pflow.routing2` —
a package that lives in ``cdrinterpolationlib.jar``, which is MISSING
from the reference repo (.MISSING_LARGE_BLOBS), as is its road-data
sideload. `interpolation.route_interpolation` therefore ships the
documented straight-line deviation; THIS module supplies the
network-routing shape for when road data exists:

- a deterministic synthetic road graph over the engine bbox (grid
  with hash-pruned edges, so shortest paths genuinely detour);
- a broadcast ``RoadGraph`` (CSR adjacency, numpy) with per-pair
  Dijkstra;
- **the 100 TB design point**: legs snap to graph nodes JVM-side,
  then Python computes shortest paths ONLY for the DISTINCT
  (src, dst) node pairs — at planet scale distinct node pairs are
  orders of magnitude fewer than legs — and the per-pair paths
  broadcast-join back onto the legs (path cache, no per-leg Python).
- timestamps interpolate along the path by cumulative length;
  transport mode reuses the deterministic seeded draw (Q4 fix) from
  operators/interpolation.

Checks: pytest verifies Dijkstra optimality against an independent
Bellman-Ford, grid-snap correctness, and that the physical plan has
exactly ONE python stage fed by the distinct-pair frame. The contract
entry is rows-only (graph routing is not SQL-expressible — the
documented non-SQL case).
"""

from __future__ import annotations

import heapq

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, LongType, StructField, StructType,
)

from ..functions import geo

GRID = 32              # GRID x GRID nodes over the engine bbox
PRUNE_PCT = 20         # % of interior edges removed (forces detours)
_PRUNE_SALT = 40_503


def _edge_kept(a: int, b: int) -> bool:
    """Deterministic ~PRUNE_PCT% interior-edge pruning."""
    h = (a * 2_654_435_761 + b * 97_781 + _PRUNE_SALT) % 100
    return h >= PRUNE_PCT


class RoadGraph:
    """Broadcastable CSR road graph over the bbox grid.

    Node (i, j) -> id i*GRID+j at lat = LAT0 + i/(GRID-1) * DLAT,
    lon = LON0 + j/(GRID-1) * DLON. 4-neighbour edges; interior edges
    hash-pruned, boundary ring kept intact (connectivity guarantee).
    Edge weight = haversine metres.
    """

    @classmethod
    def from_arrays(
        cls, lat: np.ndarray, lon: np.ndarray, edges: list[tuple[int, int]]
    ) -> "RoadGraph":
        """Arbitrary road network (e.g. an OSM extract): node
        coordinate arrays + undirected edge list; weights = haversine
        metres, same contract as the grid constructor."""
        g = cls.__new__(cls)
        g.grid = None
        g.lat = np.asarray(lat, dtype=np.float64)
        g.lon = np.asarray(lon, dtype=np.float64)
        adj: list[list[tuple[int, float]]] = [[] for _ in range(len(g.lat))]
        if edges:
            # one vectorized haversine over the whole edge list — a
            # per-edge call costs ~100x more on planet-size extracts
            ea = np.fromiter((a for a, _ in edges), dtype=np.int64)
            eb = np.fromiter((b for _, b in edges), dtype=np.int64)
            ws = geo.haversine_np(g.lat[ea], g.lon[ea], g.lat[eb], g.lon[eb])
            for a, b, w in zip(ea.tolist(), eb.tolist(), ws.tolist()):
                adj[a].append((b, w))
                adj[b].append((a, w))
        g.adj = adj
        return g

    def __init__(self, grid: int = GRID):
        self.grid = grid
        n = grid * grid
        ii, jj = np.divmod(np.arange(n), grid)
        self.lat = geo.LAT0 + ii / (grid - 1) * geo.DLAT
        self.lon = geo.LON0 + jj / (grid - 1) * geo.DLON
        adj: list[list[tuple[int, float]]] = [[] for _ in range(n)]
        for a in range(n):
            i, j = divmod(a, grid)
            for di, dj in ((0, 1), (1, 0)):
                i2, j2 = i + di, j + dj
                if i2 >= grid or j2 >= grid:
                    continue
                b = i2 * grid + j2
                on_boundary = (
                    (di == 0 and (i == 0 or i == grid - 1))
                    or (dj == 0 and (j == 0 or j == grid - 1))
                )
                if not on_boundary and not _edge_kept(a, b):
                    continue
                w = float(
                    geo.haversine_np(
                        np.array([self.lat[a]]), np.array([self.lon[a]]),
                        np.array([self.lat[b]]), np.array([self.lon[b]]),
                    )[0]
                )
                adj[a].append((b, w))
                adj[b].append((a, w))
        self.adj = adj

    def dijkstra(self, src: int, dst: int) -> tuple[list[int], float]:
        """Node path src..dst and its length (metres)."""
        n = len(self.adj)
        dist = np.full(n, np.inf)
        prev = np.full(n, -1, dtype=np.int64)
        dist[src] = 0.0
        pq = [(0.0, src)]
        while pq:
            d, u = heapq.heappop(pq)
            if u == dst:
                break
            if d > dist[u]:
                continue
            for v, w in self.adj[u]:
                nd = d + w
                if nd < dist[v]:
                    dist[v] = nd
                    prev[v] = u
                    heapq.heappush(pq, (nd, v))
        if not np.isfinite(dist[dst]):
            return [], float("inf")
        path = [dst]
        while path[-1] != src:
            path.append(int(prev[path[-1]]))
        return path[::-1], float(dist[dst])


# OSM highway classes that carry routable roads (the usual extract
# filter; jp.ac.ut.csis.pflow.routing2's loader keys on the same tag)
_OSM_HIGHWAYS = frozenset(
    "motorway trunk primary secondary tertiary unclassified residential "
    "service living_street motorway_link trunk_link primary_link "
    "secondary_link tertiary_link road".split()
)


def load_osm_extract(path: str) -> RoadGraph:
    """Build a RoadGraph from an OSM XML extract (.osm): ``<node>``
    elements give coordinates, ``<way>`` elements with a
    ``highway=*`` tag contribute an edge per consecutive ``<nd>``
    pair. Closes the reference's missing road sideload
    (hive_init_commands/initial_hive_commands_interpolation.json:63-65
    loads OSM-derived jars that are absent from the repo —
    .MISSING_LARGE_BLOBS); the checked-in mini extract
    (data/osm_mini.osm) keeps tests hermetic, and a real planet
    extract drops in unchanged. Node ids are densified in sorted
    order so the graph is reproducible regardless of extract id
    numbering."""
    import xml.etree.ElementTree as ET

    root = ET.parse(path).getroot()
    coords: dict[int, tuple[float, float]] = {}
    for nd in root.iter("node"):
        coords[int(nd.get("id"))] = (float(nd.get("lat")), float(nd.get("lon")))
    raw_edges: list[tuple[int, int]] = []
    used: set[int] = set()
    for way in root.iter("way"):
        tags = {t.get("k"): t.get("v") for t in way.findall("tag")}
        if tags.get("highway") not in _OSM_HIGHWAYS:
            continue
        # split the way at unresolved <nd> refs (common at clipped-
        # extract boundaries): only CONSECUTIVE resolved refs form an
        # edge — filtering the refs first and then re-pairing would
        # bridge the gap with a phantom direct edge, understating
        # route distance
        refs = [int(n.get("ref")) for n in way.findall("nd")]
        for a, b in zip(refs, refs[1:]):
            if a != b and a in coords and b in coords:
                raw_edges.append((a, b))
                used.add(a)
                used.add(b)
    ids = sorted(used)
    dense = {osm_id: i for i, osm_id in enumerate(ids)}
    lat = np.array([coords[i][0] for i in ids])
    lon = np.array([coords[i][1] for i in ids])
    edges = [(dense[a], dense[b]) for a, b in raw_edges]
    return RoadGraph.from_arrays(lat, lon, edges)


def snap_node_sql(lat_col: str, lon_col: str, grid: int = GRID) -> str:
    """Nearest grid-node id, closed-form JVM arithmetic (for arbitrary
    road networks use knn.nearest_site_within — this synthetic graph is a
    grid, so snapping needs no search)."""
    g1 = grid - 1
    i = (
        f"least({g1}, greatest(0, cast(round(({lat_col} - {geo.dlit(geo.LAT0)})"
        f" / {geo.dlit(geo.DLAT)} * {g1}) as bigint)))"
    )
    j = (
        f"least({g1}, greatest(0, cast(round(({lon_col} - {geo.dlit(geo.LON0)})"
        f" / {geo.dlit(geo.DLON)} * {g1}) as bigint)))"
    )
    return f"(({i}) * {grid} + ({j}))"


_PATH_SCHEMA = StructType(
    [
        StructField("src", LongType()),
        StructField("dst", LongType()),
        StructField("total_m", DoubleType()),
        StructField("plats", ArrayType(DoubleType())),
        StructField("plons", ArrayType(DoubleType())),
        StructField("cums", ArrayType(DoubleType())),
    ]
)


def shortest_paths(pairs: DataFrame, graph_bc) -> DataFrame:
    """Dijkstra per DISTINCT (src, dst) pair — the path cache.

    UNROUTABLE pairs (endpoints in disconnected components — routine
    on clipped OSM extracts, which carry no connectivity guarantee)
    fall back to the straight src->dst great-circle segment, the same
    degradation `interpolation.route_interpolation` documents for the
    no-road-data case. Dropping them instead (the pre-review
    behavior) made whole legs vanish through the inner join back onto
    the leg table — silent data loss indistinguishable from "no
    movement" downstream."""

    def kernel(batches):
        import pandas as pd

        g: RoadGraph = graph_bc.value
        for pdf in batches:
            rows = []
            for src, dst in zip(pdf["src"], pdf["dst"]):
                src, dst = int(src), int(dst)
                path, total = g.dijkstra(src, dst)
                if not path:
                    d = float(
                        geo.haversine_np(
                            np.array([g.lat[src]]), np.array([g.lon[src]]),
                            np.array([g.lat[dst]]), np.array([g.lon[dst]]),
                        )[0]
                    )
                    rows.append(
                        (
                            src, dst, d,
                            [float(g.lat[src]), float(g.lat[dst])],
                            [float(g.lon[src]), float(g.lon[dst])],
                            [0.0, d],
                        )
                    )
                    continue
                plats = [float(g.lat[v]) for v in path]
                plons = [float(g.lon[v]) for v in path]
                cums, acc = [0.0], 0.0
                for a, b in zip(path, path[1:]):
                    for v, w in g.adj[a]:
                        if v == b:
                            acc += w
                            break
                    cums.append(acc)
                rows.append((src, dst, total, plats, plons, cums))
            yield pd.DataFrame(
                rows, columns=["src", "dst", "total_m", "plats", "plons", "cums"]
            )

    return pairs.mapInPandas(kernel, schema=_PATH_SCHEMA)


def osm_node_snapper(graph: RoadGraph, radius_m: float = 25_000.0):
    """Node snapper for arbitrary (e.g. OSM-extract) graphs: nearest
    graph node via the cell-ring kNN (knn.py) — the closed-form grid
    snap only exists for the synthetic grid.

    ``radius_m`` must stay at or below the coarsest MINIMUM cell edge
    (geo.cell_size_m(0), ~90.6 km): past that the ring-1 coverage
    guarantee breaks. Near that limit the grid has only a few cells,
    so every point scores every node of its block — the failure mode a
    planet extract would hit. 25 km covers any realistic node
    spacing."""
    from ..functions import geo as _geo

    if radius_m > _geo.cell_size_m(0):
        raise ValueError(
            f"osm_node_snapper radius_m > {_geo.cell_size_m(0):.0f} m "
            "defeats the cell-ring index (no resolution covers the "
            "radius); use a smaller snap radius"
        )
    from . import knn

    sites = np.column_stack(
        [np.arange(len(graph.lat), dtype=float), graph.lat, graph.lon]
    )

    def snap(df: DataFrame) -> DataFrame:
        out = knn.nearest_site_within(
            df, sites, radius_m, id_out="node", dist_out="__snap_d"
        )
        return out.drop("__snap_d")

    return snap


def route_interpolation_network(
    sited: DataFrame, graph_bc, node_snapper=None
) -> DataFrame:
    """Route every consecutive-point leg over the road graph.

    Plan: window legs (JVM) -> node snap (closed-form JVM arithmetic
    for the grid graph; cell-ring kNN via ``node_snapper`` for
    arbitrary/OSM graphs) -> DISTINCT node pairs -> Dijkstra path
    cache (the ONLY per-pair Python stage) -> broadcast join back ->
    explode path vertices with time by cumulative-length fraction
    (JVM). Output: uid, pdt, leg_id, step, ts_s, lat, lon, route_m.
    """
    from pyspark.sql import Window

    base = sited.select(
        "uid",
        F.to_date("call_time").alias("pdt"),
        "call_time",
        "event_id",
        "lat",
        "lon",
    )
    if node_snapper is None:
        base = base.withColumn("node", F.expr(snap_node_sql("lat", "lon")))
    else:
        base = node_snapper(base)
    w = Window.partitionBy("uid", "pdt").orderBy("call_time", "event_id")
    legs = (
        base
        .withColumn("src", F.lag("node").over(w))
        .withColumn("t0", F.lag(F.unix_timestamp("call_time")).over(w))
        .withColumn("t1", F.unix_timestamp("call_time"))
        .withColumn("leg_id", F.row_number().over(w) - 1)
        .filter(
            F.col("src").isNotNull()
            & (F.col("t1") > F.col("t0"))
            & (F.col("src") != F.col("node"))
        )
        .select("uid", "pdt", "leg_id", "src", F.col("node").alias("dst"), "t0", "t1")
    )
    pairs = legs.select("src", "dst").distinct()
    paths = shortest_paths(pairs, graph_bc)
    joined = legs.join(F.broadcast(paths), ["src", "dst"])
    stepped = joined.select(
        "uid",
        "pdt",
        "leg_id",
        "t0",
        "t1",
        "total_m",
        F.posexplode(F.arrays_zip("plats", "plons", "cums")).alias("step", "p"),
    )
    frac = F.when(
        F.col("total_m") > 0, F.col("p.cums") / F.col("total_m")
    ).otherwise(F.lit(0.0))
    return stepped.select(
        "uid",
        "pdt",
        "leg_id",
        "step",
        (F.col("t0") + ((F.col("t1") - F.col("t0")) * frac).cast("long")).alias("ts_s"),
        F.col("p.plats").alias("lat"),
        F.col("p.plons").alias("lon"),
        F.round("total_m", 3).alias("route_m"),
    )
