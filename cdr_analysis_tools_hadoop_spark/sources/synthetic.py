"""Deterministic synthetic layers: towers, Voronoi zones, admin
polygons, POIs, and the image+caption table.

The reference ships tiny CSV fixtures (reference
Sample_Inputs/mapping_sample.csv — 8 towers with admin names) and a
driver-generated star schema lives in /root/testdata. This module adds
the spatial dimension layers the engine joins against, derived
DETERMINISTICALLY from the shared `nation` table (25 rows) by
portable integer arithmetic, so the DuckDB oracle can reconstruct the
exact same towers from the same parquet — no side files, seed-free.

Tower i (i = n_nationkey in 0..24):
  lat = LAT0 + ((i*37 + 11) % 97) / 97  * DLAT
  lon = LON0 + ((i*59 +  7) % 89) / 89  * DLON
  zone_id = i  (dense 0-based — the reference assigns zone ids with
  `row_number() over () - 1`, queries/cdr_and_mapping/
  insert_mapping_admin.sql:2, quirk Q3; here ids are pinned to the
  nation key so they are deterministic)
  admin1 = n_name, admin0 = region name via n_regionkey.
"""

from __future__ import annotations

import math
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import geo

TOWER_LAT_SQL = (
    f"({geo.dlit(geo.LAT0)} + ((n_nationkey * 37 + 11) % 97)"
    f" / {geo.dlit(97.0)} * {geo.dlit(geo.DLAT)})"
)
TOWER_LON_SQL = (
    f"({geo.dlit(geo.LON0)} + ((n_nationkey * 59 + 7) % 89)"
    f" / {geo.dlit(89.0)} * {geo.dlit(geo.DLON)})"
)

# DuckDB fragment reconstructing the tower dimension from `nation`.
TOWERS_ORACLE_SQL = (
    "SELECT CAST(n_nationkey AS BIGINT) AS zone_id, "
    f"{TOWER_LAT_SQL} AS tlat, {TOWER_LON_SQL} AS tlon, "
    "n_name AS admin1, n_regionkey FROM nation"
)


def towers_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tower/zone dimension (25 rows) — always broadcastable."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return nation.select(
        F.col("n_nationkey").cast("bigint").alias("zone_id"),
        F.expr(TOWER_LAT_SQL).alias("tlat"),
        F.expr(TOWER_LON_SQL).alias("tlon"),
        F.col("n_name").alias("admin1"),
        F.col("n_regionkey"),
    )


def towers_np(num: int = 25) -> np.ndarray:
    """(num, 3) array of (zone_id, lat, lon) matching towers_df."""
    i = np.arange(num, dtype=np.int64)
    lat = geo.LAT0 + ((i * 37 + 11) % 97) / 97.0 * geo.DLAT
    lon = geo.LON0 + ((i * 59 + 7) % 89) / 89.0 * geo.DLON
    return np.stack([i.astype(np.float64), lat, lon], axis=1)


# ---------------------------------------------------------------------------
# Voronoi polygons by half-plane clipping (no scipy in this env).

def _clip_halfplane(poly: np.ndarray, a: float, b: float, c: float) -> np.ndarray:
    """Sutherland–Hodgman clip of (k,2) lon/lat polygon to a*x+b*y<=c."""
    if len(poly) == 0:
        return poly
    out: list[tuple[float, float]] = []
    k = len(poly)
    for i in range(k):
        x1, y1 = poly[i]
        x2, y2 = poly[(i + 1) % k]
        in1 = a * x1 + b * y1 <= c
        in2 = a * x2 + b * y2 <= c
        if in1:
            out.append((x1, y1))
        if in1 != in2:
            denom = a * (x2 - x1) + b * (y2 - y1)
            t = (c - a * x1 - b * y1) / denom
            out.append((x1 + t * (x2 - x1), y1 + t * (y2 - y1)))
    return np.array(out, dtype=np.float64) if out else np.empty((0, 2))


def voronoi_polygons(sites: np.ndarray) -> list[np.ndarray]:
    """Voronoi cell (lon,lat ring) of each site, clipped to the bbox.

    ``sites``: (n, 3) of (zone_id, lat, lon). Metric is the engine's
    planar local projection (geo.planar_d2) so cell membership ==
    nearest-site assignment: the bisector between sites p, q under
    (dlat² + (k·dlon)²) is a straight line in (k·lon, lat) space.
    O(n²) clipping — fine for dimension layers (towers/POIs are small
    relative to the fact table and broadcast anyway).
    """
    k = geo.LON_SCALE
    polys = []
    pts = np.stack([sites[:, 2] * k, sites[:, 1]], axis=1)  # (x=k*lon, y=lat)
    bbox = np.array(
        [
            [geo.LON0 * k, geo.LAT0],
            [(geo.LON0 + geo.DLON) * k, geo.LAT0],
            [(geo.LON0 + geo.DLON) * k, geo.LAT0 + geo.DLAT],
            [geo.LON0 * k, geo.LAT0 + geo.DLAT],
        ],
        dtype=np.float64,
    )
    for i in range(len(pts)):
        poly = bbox.copy()
        px, py = pts[i]
        for j in range(len(pts)):
            if i == j or len(poly) == 0:
                continue
            qx, qy = pts[j]
            # half-plane: closer to p than q  ->  2(q-p)·x <= |q|² - |p|²
            a, b = 2.0 * (qx - px), 2.0 * (qy - py)
            c = qx * qx + qy * qy - px * px - py * py
            poly = _clip_halfplane(poly, a, b, c)
        # back to lon/lat
        ring = np.stack([poly[:, 0] / k, poly[:, 1]], axis=1) if len(poly) else np.empty((0, 2))
        polys.append(ring)
    return polys


def poi_np(num: int = 100) -> np.ndarray:
    """(num, 3) of (poi_id, lat, lon) — deterministic POI sideload
    (reference: `add file {poi}` TSV consumed by
    TurkcellReallocationUDF, hive_init_commands/
    initial_hive_commands_interpolation.json:63)."""
    i = np.arange(num, dtype=np.int64)
    lat = geo.LAT0 + ((i * 151 + 13) % 997) / 997.0 * geo.DLAT
    lon = geo.LON0 + ((i * 233 + 29) % 983) / 983.0 * geo.DLON
    return np.stack([i.astype(np.float64), lat, lon], axis=1)


# ---------------------------------------------------------------------------
# Image + caption table (BASELINE.json input_hint):
#   (image_id string, bytes binary, w int, h int, fmt string,
#    caption string, phash int64)
#
# Generated distributively from spark.range via mapInPandas — every
# row is a pure function of its id (no driver-side loops, no RNG
# state), so generation scales to any row count and any partitioning.

PHASH_MULT = 2654435761
PHASH_MOD = 9007199254740991  # 2^53 - 1: exact in doubles, safe in int64
# id * PHASH_MULT must stay inside int64 for the engine (numpy would
# WRAP silently) and the oracle (DuckDB RAISES on int64 overflow) to
# agree — the exact-parity domain ceiling:
PHASH_MAX_ID = (2**63 - 1) // PHASH_MULT  # 3,474,701,543


def phash_sql(id_col: str) -> str:
    """Portable arithmetic stand-in hash: DuckDB oracle reconstructs
    the same phash column from row ids."""
    return f"(({id_col} * {PHASH_MULT}) % {PHASH_MOD})"


_CAPTION_WORDS = (
    "tower zone image anchor tile pyramid voronoi cell ring route stay move "
    "origin destination trip raster vector mercator polygon join"
).split()


def _pixels_for(ids: np.ndarray, w: int, h: int) -> np.ndarray:
    """(n, h, w, 3) uint8 deterministic RGB test pattern per id.

    Two coprime residues drive the pattern, so same-size images
    repeat pixels only at id distance lcm(251, 241) = 60,491 (x3
    across size classes = 181,473) — a single ``ids % 251`` base
    repeated every 753 ids, silently polluting the seeded near-dup
    ground truth ("found == (i-3, i) pairs") at moderate corpus
    sizes. Corpora beyond the extended period still contain
    byte-identical cross-period twins by construction; pair-level
    ground-truth claims only hold below it."""
    n = len(ids)
    yy, xx = np.mgrid[0:h, 0:w]
    base = (ids[:, None, None] % 251).astype(np.int64)
    alt = (ids[:, None, None] % 241).astype(np.int64)
    r = (base + alt * 19 + xx[None] * 3 + yy[None] * 7) % 256
    g = (base * 2 + alt * 23 + xx[None] * 5 + yy[None] * 11) % 256
    b = (base * 3 + alt * 29 + xx[None] * 13 + yy[None] * 2) % 256
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


def generate_pixels(image_ids: np.ndarray, w: int, h: int) -> np.ndarray:
    return _pixels_for(np.asarray(image_ids, dtype=np.int64), w, h)


def images_df(
    spark: SparkSession,
    num_images: int,
    partitions: int | None = None,
    dup_every: int = 0,
) -> DataFrame:
    """Distributed deterministic images table.

    Each partition materializes its own rows from the range ids —
    embarrassingly parallel, no shuffle, no collected state.

    ``dup_every`` > 0 seeds perceptual near-dups for the dedup ops:
    every ``dup_every``-th image (id >= 3) renders id-3's pixels —
    the previous id in the SAME size class — with a ~1% +1-jitter
    mask, so its average-hash lands within a few bits of the source
    (ground truth = the (i-3, i) pairs). Default 0 keeps the output
    byte-identical to the historical table (bench layouts unchanged).
    """
    from ..functions import codec  # local import to keep module load light

    if dup_every in (1, 3):
        # source id i-3 would itself be a dup (3 % dup_every == 0),
        # rendering from a different pattern than the stored row —
        # the (i-3, i) ground truth would silently break
        raise ValueError("images_df dup_every must not be 1 or 3")
    if num_images > PHASH_MAX_ID:
        # past this the numpy phash multiply WRAPS while the DuckDB
        # twin (phash_sql) raises on the same int64 overflow — the
        # oracle-reconstructable contract silently breaks
        raise ValueError(
            f"images_df supports at most {PHASH_MAX_ID} rows "
            "(id * PHASH_MULT must stay inside exact int64)"
        )
    if partitions is None:
        partitions = max(8, spark.sparkContext.defaultParallelism)
    sizes = np.array([16, 32, 64], dtype=np.int64)

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            if len(ids) == 0:
                continue
            w = sizes[ids % 3]
            out_rows = []
            # group by size so pixel synthesis stays fully vectorized
            for s in (16, 32, 64):
                mask = w == s
                if not mask.any():
                    continue
                sub = ids[mask]
                isdup = (
                    (sub % dup_every == 0) & (sub >= 3)
                    if dup_every
                    else np.zeros(len(sub), dtype=bool)
                )
                pix = _pixels_for(np.where(isdup, sub - 3, sub), s, s)
                if isdup.any():
                    yy, xx = np.mgrid[0:s, 0:s]
                    jit = (
                        (xx * 7 + yy * 11 + sub[:, None, None]) % 97 == 0
                    ) & isdup[:, None, None]
                    # saturating add: a plain uint8 + would wrap 255->0
                    # (a -255 spike instead of +1) and could push a
                    # seeded dup past the Hamming radius
                    pix = np.minimum(
                        pix.astype(np.int16) + jit[..., None], 255
                    ).astype(np.uint8)
                blobs = [codec.encode_rawz(pix[i]) for i in range(len(sub))]
                caps = [
                    " ".join(
                        _CAPTION_WORDS[(int(i) * (j + 3)) % len(_CAPTION_WORDS)]
                        for j in range(5 + int(i) % 4)
                    )
                    for i in sub
                ]
                out_rows.append(
                    pd.DataFrame(
                        {
                            "image_id": [f"img{i:010d}" for i in sub],
                            "bytes": blobs,
                            "w": np.full(len(sub), s, dtype=np.int32),
                            "h": np.full(len(sub), s, dtype=np.int32),
                            "fmt": "rawz",
                            "caption": caps,
                            "phash": (sub * PHASH_MULT) % PHASH_MOD,
                        }
                    )
                )
            yield pd.concat(out_rows, ignore_index=True)

    schema = (
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long"
    )
    return spark.range(0, num_images, 1, partitions).mapInPandas(gen, schema=schema)


def _mix64_np(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer — the one shared copy."""
    from ..functions.vec import mix64_np

    return mix64_np(x)


def embeddings_df(
    spark: SparkSession,
    n: int,
    dim: int = 64,
    dup_every: int = 20,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic embedding corpus at ANY scale (the parquet
    embeddings table stops at sf0.1 / 2000 rows). Values are
    splitmix64-mixed uniforms in [-0.5, 0.5); every ``dup_every``-th
    vector is its predecessor plus a 0.15-amplitude perturbation
    (cosine ~0.95-0.99) so tight-threshold near-dup search has seeded
    ground truth. Embarrassingly parallel — each partition
    synthesizes its own range ids."""
    if dup_every == 1:
        # with dup_every=1 every vector would derive from the RAW
        # uniforms of its predecessor (not the stored, already-
        # perturbed row) — the seeded ground truth silently breaks
        raise ValueError("embeddings_df dup_every must not be 1")
    if partitions is None:
        partitions = max(8, spark.sparkContext.defaultParallelism)

    def _uniforms(ids: np.ndarray) -> np.ndarray:
        idx = ids.astype(np.uint64)[:, None] * np.uint64(dim) + np.arange(
            dim, dtype=np.uint64
        )
        return _mix64_np(idx).astype(np.float64) / 2.0**64 - 0.5

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            if len(ids) == 0:
                continue
            base = _uniforms(ids)
            isdup = (ids % dup_every == 0) & (ids > 0)
            if isdup.any():
                base[isdup] = _uniforms(ids[isdup] - 1) + 0.15 * base[isdup]
            emb = base.astype(np.float32)
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "embedding": list(emb),
                    "label": (ids % 10).astype(np.int32),
                }
            )

    return spark.range(0, n, 1, partitions).mapInPandas(
        gen, schema="vec_id long, embedding array<float>, label int"
    )


# Realistic vocabulary size matters: with a small vocab, RANDOM doc
# pairs share enough w=2 shingles that their Jaccard is ~0.02, and
# LSH candidate count grows as N^2 * J^rows — a 50k-doc corpus over
# 49 words produced ~3.6M false candidates (166 s verify). Real text
# has 10k+ word vocabularies and near-zero random-pair Jaccard, so
# the generator uses ~1k words: base words plus numbered derivates.
_DOC_WORDS = np.array(
    [
        w + (str(i) if i else "")
        for w in _CAPTION_WORDS
        + (
            "spark table query scan row batch window agg join merge sort filter "
            "value key column line data stream group order part hash small big "
            "fast slow customer the a"
        ).split()
        for i in range(21)
    ]
)


def documents_df(
    spark: SparkSession,
    n: int,
    dup_every: int = 10,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic document corpus at ANY scale (the parquet
    documents table stops at sf0.1 / 5000 rows). Same schema as the
    driver table (doc_id, text, lang, source, n_chars); 30-180 word
    docs over a ~1k-word vocab; every ``dup_every``-th doc is its
    predecessor with ONE word replaced (shingle Jaccard ~0.9+) so
    MinHash-LSH dedup has seeded ground truth."""
    if dup_every == 1:
        raise ValueError("documents_df dup_every must not be 1")
    if partitions is None:
        partitions = max(8, spark.sparkContext.defaultParallelism)
    vocab = _DOC_WORDS
    nv = np.uint64(len(vocab))

    def _word_idx(i: int) -> np.ndarray:
        length = 30 + (i * 7) % 150
        seq = np.uint64(i) * np.uint64(1_000_003) + np.arange(
            length, dtype=np.uint64
        )
        return (_mix64_np(seq) % nv).astype(np.int64)

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            if len(ids) == 0:
                continue
            texts = []
            for i in ids:
                i = int(i)
                isdup = dup_every > 0 and i % dup_every == 0 and i > 0
                idx = _word_idx(i - 1 if isdup else i)
                if isdup:
                    h = int(_mix64_np(np.array([i], dtype=np.uint64))[0])
                    idx[h % len(idx)] = (h >> 8) % len(vocab)
                texts.append(" ".join(vocab[idx]))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "text": texts,
                    "lang": "en",
                    "source": [f"src{i % 20}" for i in ids],
                    "n_chars": [len(t) for t in texts],
                }
            )

    return spark.range(0, n, 1, partitions).mapInPandas(
        gen,
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )


def audio_df(
    spark: SparkSession,
    num_clips: int,
    partitions: int | None = None,
    dup_every: int = 0,
) -> DataFrame:
    """Distributed deterministic audio-clip table (pcmz blobs).

    Per-id sine mixes at 16 kHz: fundamental 110*(1 + id%17) Hz plus a
    third harmonic, 0.5-1.75 s, mono with stereo (phase-shifted right
    channel) every 4th clip, and a deliberately clipped clip every 7th
    (amplitude 1.25 of full scale) so clip_ratio has signal. Same
    embarrassingly parallel shape as images_df — each partition
    synthesizes its own range ids, no shuffle.

    ``dup_every`` > 0 seeds perceptual near-dups: every
    ``dup_every``-th clip (id >= 1) is id-1's waveform at 0.6x gain,
    resampled to 12 kHz, with -46 dBFS white-ish noise — the classic
    "same recording, different master" pair whose spectral
    fingerprints must land within a few bits. Default 0 keeps the
    historical output byte-identical.

    Exact waveform period: lcm(5, 17, 7, 6, 4) = 7,140 ids — corpora
    beyond that contain byte-identical cross-period twins, so
    pair-level ground-truth claims only hold below it (the contract
    corpus is 300).
    """
    from ..functions import codec  # local import to keep module load light

    if partitions is None:
        partitions = max(8, spark.sparkContext.defaultParallelism)
    if dup_every == 1:
        # every row would be a dup of a dup — no clean sources
        raise ValueError("audio_df dup_every must not be 1")
    sr = 16_000

    def _wave(i: int) -> np.ndarray:
        n = 8_000 + int(i % 5) * 4_000
        freq = 110.0 * (1 + int(i % 17))
        amp = 1.25 if i % 7 == 0 else 0.2 + 0.12 * int(i % 6)
        t = np.arange(n, dtype=np.float64) / sr
        wave = amp * np.sin(2 * np.pi * freq * t)
        wave += 0.1 * np.sin(2 * np.pi * 3 * freq * t)
        ch = 2 if i % 4 == 0 else 1
        if ch == 2:
            return np.stack([wave, np.roll(wave, 7)], axis=1)
        return wave[:, None]

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            if len(ids) == 0:
                continue
            rows = {
                "audio_id": [], "bytes": [], "sr": [], "n_samples": [],
                "channels": [], "fmt": [],
            }
            for i in ids:
                i = int(i)
                isdup = dup_every > 0 and i % dup_every == 0 and i >= 1
                clip_sr = sr
                if isdup:
                    # re-master the predecessor's RENDERED signal
                    # (post-clipping), as a real re-encode would
                    src = np.clip(_wave(i - 1), -1.0, 1.0)
                    clip_sr = 12_000
                    # linear resample 16k -> 12k, per channel
                    n2 = int(len(src) * clip_sr / sr)
                    xs = np.arange(n2) * (len(src) - 1) / max(n2 - 1, 1)
                    wave = np.stack(
                        [
                            np.interp(xs, np.arange(len(src)), src[:, c])
                            for c in range(src.shape[1])
                        ],
                        axis=1,
                    ) * 0.6
                    noise_ph = _mix64_np(
                        np.arange(wave.size, dtype=np.uint64)
                        + np.uint64(i) * np.uint64(7_777_777)
                    ).astype(np.float64) / 2.0**64 - 0.5
                    wave = wave + 0.01 * noise_ph.reshape(wave.shape)
                else:
                    wave = _wave(i)
                pcm = np.clip(wave * 32767.0, -32768, 32767).astype(np.int16)
                rows["audio_id"].append(f"aud{i:010d}")
                rows["bytes"].append(codec.encode_pcmz(pcm, clip_sr))
                rows["sr"].append(clip_sr)
                rows["n_samples"].append(len(pcm))
                rows["channels"].append(pcm.shape[1])
                rows["fmt"].append("pcmz")
            yield pd.DataFrame(rows)

    schema = (
        "audio_id string, bytes binary, sr int, n_samples int, "
        "channels int, fmt string"
    )
    return spark.range(0, num_clips, 1, partitions).mapInPandas(gen, schema=schema)


def videos_df(
    spark: SparkSession,
    num_clips: int,
    partitions: int | None = None,
    dup_every: int = 0,
) -> DataFrame:
    """Distributed deterministic video-clip table (vidz blobs).

    Per-id clips at 12 fps, 32x24 RGB, 9-41 frames: an id-derived
    diagonal gradient panned horizontally by (1 + id%3) px/frame, with
    a luma ramp over time; every 5th clip is fully static (frame 0
    repeated) so the motion score has signal for filter tests. Same
    embarrassingly parallel shape as images_df/audio_df.

    ``dup_every`` > 0 seeds perceptual near-dups: every
    ``dup_every``-th clip (id >= 1) renders id-1's frames with a ~1%
    +1-jitter mask — a "re-encode" whose per-frame average-hashes
    land within a few bits of the source (ground truth = the (i-1, i)
    pairs). Default 0 keeps the historical output byte-identical.
    """
    from ..functions import codec  # local import to keep module load light

    if partitions is None:
        partitions = max(8, spark.sparkContext.defaultParallelism)
    if dup_every == 1:
        # every row would be a dup of a dup — no clean sources
        raise ValueError("videos_df dup_every must not be 1")
    fps, h, w = 12, 24, 32
    yy, xx = np.mgrid[0:h, 0:w]

    def _clip(i: int) -> np.ndarray:
        n = 9 + (i % 5) * 8
        # the extra coprime residue (101) stretches the exact clip
        # period from lcm(7,5,3) = 105 — below the 200-clip contract
        # corpus, which silently made every (i, i+105) pair a
        # byte-identical unseeded dup — to lcm(105, 101) = 10,605
        base = ((yy * (3 + i % 7) + xx * (2 + i % 5)) % 256 + (i % 101) * 2).astype(
            np.int64
        ) % 256
        base = base.astype(np.uint8)
        frames = np.empty((n, h, w, 3), dtype=np.uint8)
        static = i % 5 == 0
        speed = 0 if static else 1 + i % 3
        for t in range(n):
            f = np.roll(base, t * speed, axis=1)
            if not static:
                f = (f.astype(np.int32) + 2 * t) % 256
            frames[t, :, :, 0] = f
            frames[t, :, :, 1] = (f + 85) % 256
            frames[t, :, :, 2] = (f + 170) % 256
        return frames

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            if len(ids) == 0:
                continue
            rows = {
                "video_id": [], "bytes": [], "n_frames": [], "fps": [],
                "w": [], "h": [], "fmt": [],
            }
            for i in ids:
                i = int(i)
                isdup = dup_every > 0 and i % dup_every == 0 and i >= 1
                frames = _clip(i - 1 if isdup else i)
                if isdup:
                    jit = ((xx * 7 + yy * 11 + i) % 97 == 0).astype(np.uint8)
                    # saturating add (see images_df): avoid 255->0 wrap
                    frames = np.minimum(
                        frames.astype(np.int16) + jit[None, :, :, None], 255
                    ).astype(np.uint8)
                n = frames.shape[0]
                rows["video_id"].append(f"vid{i:010d}")
                rows["bytes"].append(codec.encode_vidz(frames, fps))
                rows["n_frames"].append(n)
                rows["fps"].append(fps)
                rows["w"].append(w)
                rows["h"].append(h)
                rows["fmt"].append("vidz")
            yield pd.DataFrame(rows)

    schema = (
        "video_id string, bytes binary, n_frames int, fps int, "
        "w int, h int, fmt string"
    )
    return spark.range(0, num_clips, 1, partitions).mapInPandas(gen, schema=schema)


def sited_events_df(
    spark: SparkSession,
    n: int,
    hot_uid_frac: float = 0.0,
    n_uids: int = 30_000,
    n_days: int = 30,
    partitions: int = 64,
) -> DataFrame:
    """Deterministic sited-CDR fixture for skew benchmarks/tests.

    ``hot_uid_frac`` of all events belong to ONE viral uid (0) — the
    adversarial shape for the (uid, pdt) windows and trajectory
    collects (the reference only bounds this with its 500-event cap,
    insert_la_cdr_all_with_ant_zone_by_uid_od.sql:6). The rest spread
    uniformly over ``n_uids`` uids. Pure codegen (range + arithmetic),
    no data files.
    """
    hot_n = int(n * hot_uid_frac)
    idc = F.col("id")
    uid = F.when(idc < hot_n, F.lit(0)).otherwise(idc % n_uids + 1)
    # deterministic spread over n_days days and the day's seconds
    sec = (idc * 7919) % (n_days * 86_400)
    site = ((idc * 104_729) % 997).cast("long")
    return spark.range(0, n, 1, partitions).select(
        idc.alias("event_id"),
        uid.cast("long").alias("uid"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_dt_interval(secs=sec.cast("double"))
        ).alias("call_time"),
        site.alias("site"),
        (site % 25).alias("zone_id"),
        F.lit(0.0).alias("duration"),
        F.expr(geo.anchor_lat_sql("id")).alias("lat"),
        F.expr(geo.anchor_lon_sql("id")).alias("lon"),
    )


def points_df(
    spark: SparkSession,
    n: int,
    hotspot_frac: float = 0.0,
    partitions: int = 64,
) -> DataFrame:
    """Deterministic point layer for PIP-join skew benchmarks:
    ``hotspot_frac`` of the points pile onto one tower-adjacent spot
    (a tower hotspot cell), the rest are anchor-uniform over the
    bbox."""
    hot_n = int(n * hotspot_frac)
    idc = F.col("id")
    # hotspot just off tower 0 with ~110 m of deterministic jitter so
    # the rows aren't constant-foldable
    jit = ((idc % 1000) / F.lit(1000.0) - 0.5) * F.lit(0.002)
    lat = F.when(
        idc < hot_n, F.lit(geo.LAT0 + 0.117) + jit
    ).otherwise(F.expr(geo.anchor_lat_sql("id")))
    lon = F.when(
        idc < hot_n, F.lit(geo.LON0 + 0.081) + jit
    ).otherwise(F.expr(geo.anchor_lon_sql("id")))
    return spark.range(0, n, 1, partitions).select(
        idc.alias("point_id"), lat.alias("lat"), lon.alias("lon")
    )
