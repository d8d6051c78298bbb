"""Seeded inputs, operations and output references of the benchmark
workloads.

Every input is a pure function of (workload, seed, size). It is
generated once, outside timing, into the per-seed cache directory, and
the engine only ever receives those files. Every reference is computed
once per seed at set-up, by DuckDB over the same files or by plain
numpy, never by the engine code path under test.

A workload exposes:

- ``cycle()``: the fixed list of operations one closed-loop cycle
  runs. The measurement runs whole cycles, so every run sees the same
  operation mix whatever its seed; the first operation is the one
  set-up times.
- ``run(spark, op, tracer)``: one operation, returning its result.
- ``check(op, result)``: True when the result equals the reference.
- ``rows(op)``: the input rows the operation processes.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import __spark_entry__ as entrymod
from cdr_analysis_tools_hadoop_spark import pipeline
from cdr_analysis_tools_hadoop_spark.functions import codec, geo
from cdr_analysis_tools_hadoop_spark.operators import knn, spatial_join, tiling
from cdr_analysis_tools_hadoop_spark.sources import synthetic
from tools.check_oracle import value_hash

# Bump when the content of any generated input changes, so stale
# per-seed caches are never reused.
LAYOUT = "v5"


@dataclass(frozen=True)
class Sizes:
    """Input sizes; ``SMOKE`` shrinks them for the benchmark's own tests."""

    images: int = 48_000
    image_files: int = 8
    blob_pool: int = 300
    events: int = 50_000
    event_files: int = 4
    lookup_min: int = 1_000
    lookup_max: int = 100_000


FULL = Sizes()
SMOKE = Sizes(
    images=600, image_files=4, blob_pool=20, events=4_000, event_files=2,
    lookup_min=200, lookup_max=2_000,
)

# A user holding a quarter of all events is the adversarial shape for
# the per-(uid, day) windows of the trajectory chain.
HOT_UID_SHARE = 0.25
# Share of each lookup batch piled onto one tower's hotspot.
HOTSPOT_SHARE = 0.3
KNN_RADIUS_M = 10_000.0
TILE_ZOOM = 12
BASE_ZOOM = 14
PIP_RES = 8
RESUME_CHUNKS = 4
# the traced run's extra operation on the image table
RESUME = "resume"

MOBILITY_QUERIES = {
    # query name -> engine module it exercises (per-layer name); the
    # z12 tiles come from the geo SQL snippets, not operators.tiling
    "tile_counts_z12": "geo",
    "zone_population": "zones",
    "daily_statistics": "statistics",
    "frequent_locations_thresholded": "frequent_locations",
    "od_matrix": "trajectory",
}

def _write_parts(table: pa.Table, out_dir: str, files: int, **kw) -> None:
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    for p in range(files):
        lo, hi = p * n // files, (p + 1) * n // files
        pq.write_table(table.slice(lo, hi - lo), f"{out_dir}/part-{p:03d}.parquet", **kw)


def _distinct_ids(rng: np.random.Generator, n: int, hi: int = 10**9) -> np.ndarray:
    ids = np.unique(rng.integers(0, hi, size=2 * n + 64, dtype=np.int64))
    return rng.permutation(ids)[:n]


def _towers() -> np.ndarray:
    return synthetic.towers_np(25)


def _nearest_tower_np(lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    """Brute-force nearest tower under the engine's planar metric —
    the Voronoi cell a point belongs to, computed without the
    polygon index."""
    t = _towers()
    d2 = geo.planar_d2_np(lat[:, None], lon[:, None], t[None, :, 1], t[None, :, 2])
    return t[np.argmin(d2, axis=1), 0].astype(np.int64)


def tower_polygons() -> list[tuple[int, np.ndarray]]:
    """The tower-Voronoi polygon layer the PIP join is asked against."""
    t = _towers()
    return list(zip(t[:, 0].astype(np.int64), synthetic.voronoi_polygons(t)))


def _duck(cache_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads={max(1, len(os.sched_getaffinity(0)))}")
    con.execute("SET memory_limit='1GB'")
    con.execute(f"SET temp_directory='{cache_dir}/duckdb_tmp'")
    return con


def _rows_key(rows) -> list[tuple]:
    # repr orders rows holding None (a point no polygon took) too
    return sorted((tuple(r) for r in rows), key=repr)


class Workload:
    """Defaults shared by the workloads."""

    name = ""
    layers: tuple[str, ...] = ()

    def cycle(self) -> list:
        raise NotImplementedError

    def trace_only(self) -> list:
        """Operations only the traced run makes, after its cycles."""
        return []

    def cleanup(self) -> None:
        pass


# ---------------------------------------------------------------------------
# Image table (image_rollup and its traced resumable job)


def make_images(out_dir: str, seed: int, sizes: Sizes) -> None:
    """Seeded image+caption table with the schema of
    ``synthetic.images_df``: mixed 16/32/64 px rawz blobs, captions,
    phash. The seed picks the image ids, hence the anchor points,
    captions and which pooled test pattern each row carries; the
    decode work per row is the same for every seed."""
    rng = np.random.default_rng(seed)
    n = sizes.images
    ids = _distinct_ids(rng, n, hi=synthetic.PHASH_MAX_ID)
    side = np.array([16, 32, 64], dtype=np.int64)[ids % 3]
    pattern = (ids // 3) % sizes.blob_pool
    blobs: list[bytes] = [b""] * n
    ok = np.zeros(n, dtype=bool)
    lut = np.array([4, 1, 0, 1], dtype=np.int64)
    for s in (16, 32, 64):
        pix = synthetic.generate_pixels(np.arange(sizes.blob_pool) * 7 + s, s, s)
        pool = [codec.encode_rawz(p) for p in pix]
        # PSNR >= 40 dB gate of a qnt4 re-encode, restated from its
        # definition: squared low-2-bit residual vs 255^2 * 1e-4 * N
        pool_ok = lut[pix & 3].sum(axis=(1, 2, 3)) <= 255.0**2 * 1e-4 * (s * s * 3)
        for i in np.flatnonzero(side == s):
            blobs[i] = pool[pattern[i]]
            ok[i] = pool_ok[pattern[i]]
    caps = [
        " ".join(
            synthetic._CAPTION_WORDS[(int(i) * (j + 3)) % len(synthetic._CAPTION_WORDS)]
            for j in range(5 + int(i) % 4)
        )
        for i in ids
    ]
    phash = (ids * synthetic.PHASH_MULT) % synthetic.PHASH_MOD
    table = pa.table(
        {
            "image_id": [f"img{i:010d}" for i in ids],
            "bytes": pa.array(blobs, type=pa.binary()),
            "w": pa.array(side, type=pa.int32()),
            "h": pa.array(side, type=pa.int32()),
            "fmt": ["rawz"] * n,
            "caption": caps,
            "phash": pa.array(phash, type=pa.int64()),
        }
    )
    # Uncompressed: the blobs are zlib streams already.
    _write_parts(table, f"{out_dir}/images", sizes.image_files, compression="none")
    # Reference-only columns; the engine never reads this file.
    pq.write_table(
        pa.table(
            {
                "phash": pa.array(phash, type=pa.int64()),
                "caption_len": pa.array([len(c) for c in caps], type=pa.int64()),
                "psnr_ok": pa.array(ok.astype(np.int64)),
                "zone": pa.array(
                    _nearest_tower_np(geo.anchor_lat_np(phash), geo.anchor_lon_np(phash))
                ),
            }
        ),
        f"{out_dir}/image_truth.parquet",
    )


def rollup_reference(cache_dir: str) -> list[tuple]:
    """The per-(zone, tile) rollup from DuckDB: anchors and tiles via
    the shared geo SQL snippets, zones by brute-force nearest tower."""
    lat = geo.anchor_lat_sql("phash")
    lon = geo.anchor_lon_sql("phash")
    con = _duck(cache_dir)
    rows = con.execute(
        "SELECT CAST(zone AS VARCHAR) AS zone_id, "
        f"{geo.tile_x_sql('lon', BASE_ZOOM)} AS x, {geo.tile_y_sql('lat', BASE_ZOOM)} AS y, "
        "count(*) AS n_images, sum(psnr_ok) AS n_psnr_ok, "
        "sum(caption_len) AS caption_bytes FROM ("
        f"SELECT zone, psnr_ok, caption_len, {lat} AS lat, {lon} AS lon "
        f"FROM read_parquet('{cache_dir}/image_truth.parquet')) GROUP BY 1, 2, 3"
    ).fetchall()
    con.close()
    return _rows_key(rows)


class ImageRollup(Workload):
    """One operation is one ``run_pipeline`` over the image table, run
    to its per-(zone, tile) result. The traced run adds one
    ``RESUME`` operation: ``run_pipeline_resumable`` cut after half
    its chunks (the simulated kill), resumed to completion, and
    ``resumable_result`` checked against the same reference."""

    name = "image_rollup"
    layers = ("pipeline", "codec", "geo", "spatial_join", "checkpoint")

    def __init__(self, cache_dir: str, seed: int, sizes: Sizes):
        self.cache_dir = cache_dir
        self.images_path = f"{cache_dir}/images"
        self.n_rows = sizes.images
        self.reference = rollup_reference(cache_dir)
        truth = pq.read_table(f"{cache_dir}/image_truth.parquet")
        self.caption_bytes = int(truth.column("caption_len").to_numpy().sum())
        self.phash = truth.column("phash").to_numpy()
        self.n_resumes = 0
        self.last_out: str | None = None

    def cycle(self) -> list[str]:
        return ["rollup"]

    def trace_only(self) -> list[str]:
        return [RESUME]

    def rows(self, op: str) -> int:
        return self.n_rows

    def probe_points(self):
        return self.phash, geo.anchor_lat_np(self.phash), geo.anchor_lon_np(self.phash)

    def polygons(self):
        return tower_polygons()

    def run(self, spark, op: str, tracer):
        if op == RESUME:
            return self._resume(spark, tracer)
        with tracer.span("pipeline.run_pipeline"):
            images = spark.read.parquet(self.images_path)
            return pipeline.run_pipeline(spark, images).collect()

    def _resume(self, spark, tracer):
        out = f"{self.cache_dir}/ingest_out/{self.n_resumes}"
        self.n_resumes += 1
        shutil.rmtree(out, ignore_errors=True)
        with tracer.span("pipeline.run_pipeline_resumable.killed"):
            pipeline.run_pipeline_resumable(
                spark, self.images_path, out, chunks=RESUME_CHUNKS,
                max_chunks=RESUME_CHUNKS // 2,
            )
        with tracer.span("pipeline.run_pipeline_resumable.resume"):
            summary = pipeline.run_pipeline_resumable(
                spark, self.images_path, out, chunks=RESUME_CHUNKS
            )
        with tracer.span("pipeline.resumable_result"):
            rows = pipeline.resumable_result(spark, out).collect()
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out = out
        return {"rows": rows, "summary": summary}

    def cleanup(self) -> None:
        shutil.rmtree(f"{self.cache_dir}/ingest_out", ignore_errors=True)

    def check(self, op: str, result) -> bool:
        if op == RESUME:
            s = result["summary"]
            if (s["skipped"], s["written"]) != (RESUME_CHUNKS // 2, RESUME_CHUNKS - RESUME_CHUNKS // 2):
                return False
            result = result["rows"]
        got = _rows_key(result)
        return (
            got == self.reference
            and sum(r[3] for r in got) == self.n_rows
            and sum(r[5] for r in got) == self.caption_bytes
        )


# ---------------------------------------------------------------------------
# CDR events (the mobility queries of the traced spatial_lookup run)


def make_events(out_dir: str, seed: int, sizes: Sizes) -> None:
    """Seeded CDR ``events`` table (the driver table's schema) with one
    hot uid holding ``HOT_UID_SHARE`` of all events, beside the
    25-row ``nation`` table the tower layer derives from."""
    rng = np.random.default_rng(seed)
    n = sizes.events
    n_users = max(50, n // 65)
    event_id = np.sort(_distinct_ids(rng, n))
    user = rng.integers(1, n_users + 1, size=n, dtype=np.int64)
    hot = rng.random(n) < HOT_UID_SHARE
    user[hot] = int(rng.integers(1, n_users + 1))
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = start + rng.integers(0, 30 * 86_400 * 10**6, size=n).astype("timedelta64[us]")
    types = np.array(["click", "view", "purchase", "signup", "error"])
    value = np.round(rng.gamma(1.2, 40.0, size=n), 2)
    table = pa.table(
        {
            "event_id": pa.array(event_id),
            "ts": pa.array(ts),
            "user_id": pa.array(user),
            "event_type": pa.array(types[rng.integers(0, 5, size=n)]),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
        }
    )
    _write_parts(table, f"{out_dir}/events.parquet", sizes.event_files)
    k = np.arange(25, dtype=np.int32)
    pq.write_table(
        pa.table(
            {
                "n_nationkey": k,
                "n_name": [f"NATION_{i}" for i in k],
                "n_regionkey": (k % 5).astype(np.int32),
            }
        ),
        f"{out_dir}/nation.parquet",
    )


class MobilityQueries:
    """The reference's three analysis pipelines (zones, frequent
    locations, OD) plus daily statistics and z12 tile counts, as
    ``__spark_entry__.queries()`` entries over the seeded events table;
    one operation is one query. Every query is checked against its
    DuckDB twin from ``__spark_entry__.oracle_sql()``."""

    def __init__(self, cache_dir: str, seed: int, sizes: Sizes):
        self.sf_dir = cache_dir
        self.n_rows = sizes.events
        self.queries = entrymod.queries()
        ref_path = f"{cache_dir}/mobility_reference.json"
        if not os.path.exists(ref_path):
            oracles = entrymod.oracle_sql()
            con = _duck(cache_dir)
            con.execute(
                "CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{cache_dir}/events.parquet/*.parquet')"
            )
            con.execute(
                f"CREATE VIEW nation AS SELECT * FROM read_parquet('{cache_dir}/nation.parquet')"
            )
            ref = {}
            for q in MOBILITY_QUERIES:
                res = con.execute(oracles[q])
                rows = res.fetchall()
                cols = [d[0] for d in res.description]
                ref[q] = {"rows": len(rows), "cols": sorted(cols), "hash": value_hash(rows, cols)}
            con.close()
            with open(ref_path + ".tmp", "w") as f:
                json.dump(ref, f)
            os.replace(ref_path + ".tmp", ref_path)
        with open(ref_path) as f:
            self.reference = json.load(f)

    def rows(self, op: str) -> int:
        return self.n_rows

    def run(self, spark, op: str, tracer):
        with tracer.span(f"{MOBILITY_QUERIES[op]}.{op}"):
            df = self.queries[op](spark, self.sf_dir)
            return df.collect(), df.columns

    def check(self, op: str, result) -> bool:
        rows, cols = result
        got = {
            "rows": len(rows), "cols": sorted(cols),
            "hash": value_hash([tuple(r) for r in rows], cols),
        }
        return got == self.reference[op]


# ---------------------------------------------------------------------------
# Ad-hoc point lookups (spatial_lookup)


def lookup_schedule(sizes: Sizes) -> list[tuple[str, int]]:
    """Nine (kind, points) queries: sizes log-spaced from
    ``lookup_min`` to ``lookup_max``, every kind at a small, a middle
    and a large size. Fixed, so every seed runs the same work."""
    kinds = ("pip_join", "knn", "tiling")
    ratio = sizes.lookup_max / sizes.lookup_min
    out = []
    for i in range(9):
        n = int(round(sizes.lookup_min * ratio ** (i / 8)))
        out.append((kinds[(i + i // 3) % 3], n))
    return out


def make_lookup(out_dir: str, seed: int, sizes: Sizes) -> None:
    """One point batch per scheduled query: ``HOTSPOT_SHARE`` of the
    points within ~110 m of the query's hotspot tower, the rest uniform
    over the bbox. Every point lies inside the bbox, which the
    tower-Voronoi polygons cover."""
    rng = np.random.default_rng(seed)
    towers = _towers()
    for qi, (_kind, n) in enumerate(lookup_schedule(sizes)):
        lat = geo.LAT0 + rng.random(n) * geo.DLAT
        lon = geo.LON0 + rng.random(n) * geo.DLON
        hot = rng.random(n) < HOTSPOT_SHARE
        # the tower is fixed per query, not seeded: how many sites lie
        # near the hotspot sets the query's work, which must not
        # depend on the seed
        t = towers[(qi * 11) % len(towers)]
        # towers sit on the bbox edge too: keep the hotspot inside it
        c_lat = np.clip(t[1], geo.LAT0 + 0.002, geo.LAT0 + geo.DLAT - 0.002)
        c_lon = np.clip(t[2], geo.LON0 + 0.002, geo.LON0 + geo.DLON - 0.002)
        lat[hot] = c_lat + (rng.random(hot.sum()) - 0.5) * 0.002
        lon[hot] = c_lon + (rng.random(hot.sum()) - 0.5) * 0.002
        table = pa.table(
            {"point_id": pa.array(np.arange(n, dtype=np.int64)), "lat": lat, "lon": lon}
        )
        _write_parts(table, f"{out_dir}/points/q{qi}", 4)


def _knn_reference(lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    """Brute-force within-radius nearest tower (smallest id on ties),
    -1 when none is within ``KNN_RADIUS_M``."""
    t = _towers()
    d = geo.haversine_np(lat[:, None], lon[:, None], t[None, :, 1], t[None, :, 2])
    d = np.where(d <= KNN_RADIUS_M, d, np.inf)
    best = np.argmin(d, axis=1)  # towers are in id order: first min = smallest id
    return np.where(np.isfinite(d.min(axis=1)), t[best, 0].astype(np.int64), -1)


class SpatialLookup(Workload):
    """Closed-loop ad-hoc queries against the polygon, site and tile
    layers; per-query fixed cost (index build, broadcast, job launch)
    dominates, which is what an index or broadcast cache would cut."""

    name = "spatial_lookup"
    layers = (
        "spatial_join", "knn", "tiling", "geo",
        "zones", "statistics", "frequent_locations", "trajectory",
    )

    def __init__(self, cache_dir: str, seed: int, sizes: Sizes):
        self.cache_dir = cache_dir
        self.seed, self.sizes = seed, sizes
        self.mobility: MobilityQueries | None = None
        self.schedule = lookup_schedule(sizes)
        self.polys = tower_polygons()
        self.sites = _towers()
        con = _duck(cache_dir)
        self.reference = {}
        for qi, (kind, _n) in enumerate(self.schedule):
            path = f"{cache_dir}/points/q{qi}"
            if kind == "tiling":
                rows = con.execute(
                    f"SELECT {geo.tile_x_sql('lon', TILE_ZOOM)} AS x, "
                    f"{geo.tile_y_sql('lat', TILE_ZOOM)} AS y, count(*) AS n "
                    f"FROM read_parquet('{path}/*.parquet') GROUP BY 1, 2"
                ).fetchall()
                self.reference[qi] = _rows_key(rows)
                continue
            pts = pq.read_table(path).to_pandas()
            lat, lon = pts["lat"].to_numpy(), pts["lon"].to_numpy()
            if kind == "pip_join":
                ids, counts = np.unique(_nearest_tower_np(lat, lon), return_counts=True)
                self.reference[qi] = _rows_key((str(int(i)), int(c)) for i, c in zip(ids, counts))
            else:
                ids, counts = np.unique(_knn_reference(lat, lon), return_counts=True)
                self.reference[qi] = _rows_key((int(i), int(c)) for i, c in zip(ids, counts))
        con.close()

    def cycle(self) -> list[int]:
        return list(range(len(self.schedule)))

    def trace_only(self) -> list[str]:
        return list(MOBILITY_QUERIES)

    def _mobility(self) -> MobilityQueries:
        """The mobility queries' inputs and references, made on first use."""
        if self.mobility is None:
            root = os.path.dirname(self.cache_dir)
            self.mobility = _cached(MobilityQueries, make_events, self.seed, root, self.sizes)
        return self.mobility

    def probe_points(self):
        largest = max(range(len(self.schedule)), key=lambda q: self.schedule[q][1])
        pts = pq.read_table(f"{self.cache_dir}/points/q{largest}")
        return (
            pts.column("point_id").to_numpy(),
            pts.column("lat").to_numpy(),
            pts.column("lon").to_numpy(),
        )

    def polygons(self):
        return self.polys

    def rows(self, op) -> int:
        if op in MOBILITY_QUERIES:
            return self._mobility().rows(op)
        return self.schedule[op][1]

    def run(self, spark, op, tracer):
        if op in MOBILITY_QUERIES:
            return self._mobility().run(spark, op, tracer)
        kind, _n = self.schedule[op]
        points = spark.read.parquet(f"{self.cache_dir}/points/q{op}")
        if kind == "pip_join":
            with tracer.span("spatial_join.pip_join"):
                return spatial_join.pip_join(
                    points, self.polys, out_col="zone", res=PIP_RES
                ).groupBy("zone").count().collect()
        if kind == "knn":
            with tracer.span("knn.nearest_site_within"):
                return knn.nearest_site_within(
                    points, self.sites, KNN_RADIUS_M
                ).groupBy("site_id").count().collect()
        with tracer.span("tiling.tile_stats"):
            return tiling.tile_stats(points, TILE_ZOOM).select("x", "y", "n").collect()

    def check(self, op, result) -> bool:
        if op in MOBILITY_QUERIES:
            return self._mobility().check(op, result)
        if self.schedule[op][0] == "knn":
            # no site within the radius comes back as a null site_id
            result = [(-1 if r[0] is None else r[0], r[1]) for r in result]
        return _rows_key(result) == self.reference[op]


WORKLOADS = {
    "image_rollup": (ImageRollup, make_images),
    "spatial_lookup": (SpatialLookup, make_lookup),
}


def prepare(name: str, seed: int, root: str, sizes: Sizes):
    """Generate (or reuse) the seed's inputs and build the workload
    with its references."""
    cls, make = WORKLOADS[name]
    return _cached(cls, make, seed, root, sizes)


def _cached(cls, make, seed: int, root: str, sizes: Sizes):
    kind = make.__name__.removeprefix("make_")
    tag = "smoke" if sizes == SMOKE else "full"
    cache_dir = f"{root}/{LAYOUT}-{tag}-{kind}-seed{seed}"
    done = f"{cache_dir}/_DONE"
    if not os.path.exists(done):
        shutil.rmtree(cache_dir, ignore_errors=True)
        make(cache_dir, seed, sizes)
        # flush the new files now, so their write-back does not land
        # in the timed operations
        os.sync()
        with open(done, "w"):
            pass
    return cls(cache_dir, seed, sizes)
