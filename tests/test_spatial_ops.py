"""PIP join, cell-ring kNN, tiling, multimodal plumbing, pipeline."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cdr_analysis_tools_hadoop_spark.functions import geo
from cdr_analysis_tools_hadoop_spark.operators import knn, multimodal, spatial_join, tiling
from cdr_analysis_tools_hadoop_spark import pipeline
from cdr_analysis_tools_hadoop_spark.sources import synthetic


@pytest.fixture(scope="module")
def points(spark):
    ids = list(range(4000))
    df = spark.createDataFrame([(i,) for i in ids], "pid long")
    return df.select(
        "pid",
        F.expr(geo.anchor_lat_sql("pid")).alias("lat"),
        F.expr(geo.anchor_lon_sql("pid")).alias("lon"),
    )


def test_pip_join_matches_nearest_site(spark, points):
    """Voronoi PIP join must reproduce nearest-site assignment — the
    engine's J2/J7 equivalence, end to end through Spark."""
    towers = synthetic.towers_np(25)
    polys = list(zip(towers[:, 0].astype(np.int64), synthetic.voronoi_polygons(towers)))
    got = {
        r["pid"]: r["zone"]
        for r in spatial_join.pip_join(
            points, polys, out_col="zone", res=7
        ).collect()
    }
    rows = points.collect()
    lat = np.array([r["lat"] for r in rows])
    lon = np.array([r["lon"] for r in rows])
    d2 = geo.planar_d2_np(
        lat[:, None], lon[:, None], towers[None, :, 1], towers[None, :, 2]
    )
    nearest = np.argmin(d2, axis=1)
    mismatch = sum(
        1 for r, nz in zip(rows, nearest) if got[r["pid"]] != str(int(nz))
    )
    # Voronoi edges are shared boundaries; ray-casting assigns edge
    # points to exactly one side — tiny disagreement allowed
    assert mismatch <= len(rows) * 0.005, mismatch


def test_pip_join_null_outside(spark):
    ring = np.array([[139.4, 35.4], [139.6, 35.4], [139.6, 35.6], [139.4, 35.6]])
    df = spark.createDataFrame(
        [(1, 35.5, 139.5), (2, 35.9, 139.9)], "pid long, lat double, lon double"
    )
    got = {r["pid"]: r["poly_id"] for r in
           spatial_join.pip_join(df, [("Z", ring)], res=6).collect()}
    assert got[1] == "Z"
    assert got[2] is None


def test_polygon_index_interior_cells_dominate():
    towers = synthetic.towers_np(25)
    polys = list(zip(towers[:, 0].astype(np.int64), synthetic.voronoi_polygons(towers)))
    idx = spatial_join.PolygonIndex(polys, res=8)
    st = idx.stats()
    # at res 8 over 25 Voronoi cells the interior must dominate the
    # boundary (this is what makes the join cheap at scale)
    assert st["interior_cells"] > st["boundary_cells"]


def test_polygon_index_pickles_under_command_threshold():
    """The index travels inside the UDF closure; past PySpark's 1 MB
    command threshold it would be broadcast again. Guard with margin."""
    import pickle

    idx = spatial_join.PolygonIndex(pipeline.tower_polygons(), res=8)
    assert len(pickle.dumps(idx)) < 256 * 1024


def test_spatial_operators_leave_no_broadcast_files(spark, points):
    """Repeated PIP, kNN and pipeline calls create no Python broadcast
    (each one leaves a pickled file in the driver's temp dir until it
    is destroyed)."""
    import os

    temp_dir = spark.sparkContext._temp_dir
    images = synthetic.images_df(spark, 20, partitions=2)
    pois = synthetic.poi_np(100)
    before = set(os.listdir(temp_dir))
    for _ in range(3):
        spatial_join.pip_join(points, pipeline.tower_polygons(), res=8).count()
        knn.nearest_site_within(points, pois, radius_m=300.0).count()
        pipeline.run_pipeline(spark, images).count()
    assert set(os.listdir(temp_dir)) == before


def test_knn_within_radius_matches_bruteforce(spark, points):
    pois = synthetic.poi_np(100)
    got = knn.nearest_site_within(points, pois, radius_m=300.0).collect()
    lat = np.array([r["lat"] for r in got])
    lon = np.array([r["lon"] for r in got])
    d = geo.haversine_np(
        lat[:, None], lon[:, None], pois[None, :, 1], pois[None, :, 2]
    )
    bf_j = np.argmin(d, axis=1)
    bf_d = d[np.arange(len(got)), bf_j]
    for i, r in enumerate(got):
        if bf_d[i] <= 300.0:
            assert r["site_id"] == int(pois[bf_j[i], 0])
            assert r["site_dist_m"] == pytest.approx(bf_d[i], rel=1e-9)
        else:
            assert r["site_id"] is None


def test_knn_planar_matches_bruteforce_exactly(spark, points):
    """metric="planar" is arithmetic only, so the JVM lookup must equal
    a numpy brute force bit for bit: same site, same distance."""
    pois = synthetic.poi_np(300)
    got = knn.nearest_site_within(points, pois, radius_m=300.0, metric="planar").collect()
    lat = np.array([r["lat"] for r in got])
    lon = np.array([r["lon"] for r in got])
    d = np.sqrt(
        geo.planar_d2_np(lat[:, None], lon[:, None], pois[None, :, 1], pois[None, :, 2])
    ) * geo.M_PER_DEG
    d = np.where(d <= 300.0, d, np.inf)
    dm = d.min(axis=1)
    close = d <= dm[:, None] * (1.0 + 1e-12)
    ids = pois[:, 0].astype(np.int64)
    hits = 0
    for i, r in enumerate(got):
        if np.isfinite(dm[i]):
            j = np.flatnonzero(close[i])[np.argmin(ids[close[i]])]
            assert (r["site_id"], r["site_dist_m"]) == (ids[j], d[i, j])
            hits += 1
        else:
            assert (r["site_id"], r["site_dist_m"]) == (None, None)
    assert hits > 0


_BAD_ROWS = [
    (1, 35.5, 139.5, "ok", 1.5),
    (2, float("nan"), 139.5, "nan lat", float("nan")),
    (3, 35.5, float("nan"), "nan lon", 2.5),
    (4, None, 139.5, "null lat", None),
    (5, 35.5, None, "null lon", 3.5),
    (6, 80.0, 10.0, "outside", float("nan")),
    (7, -80.0, -170.0, "outside", 4.0),
    (8, 35.2, 139.2, "ok", float("nan")),
]


def _same(a, b) -> bool:
    return a == b or (isinstance(a, float) and isinstance(b, float) and np.isnan(a) and np.isnan(b))


@pytest.mark.parametrize("op", ["pip_join", "nearest_site_within"])
def test_spatial_lookups_keep_columns_on_bad_coordinates(spark, op):
    """NaN, NULL and outside-bbox coordinates (ANSI mode) leave every
    input column as it was, NaN passthrough values included, and get a
    null zone or site; the good rows still get one."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    df = spark.createDataFrame(_BAD_ROWS, "pid long, lat double, lon double, tag string, score double")
    if op == "pip_join":
        out = spatial_join.pip_join(df, pipeline.tower_polygons(), out_col="hit", res=8)
    else:
        sites = np.array([[11.0, 35.5, 139.5001], [12.0, 35.2, 139.2001]])
        out = knn.nearest_site_within(df, sites, radius_m=300.0, id_out="hit")
    rows = {r["pid"]: r for r in out.collect()}
    assert len(rows) == len(_BAD_ROWS)
    for row in _BAD_ROWS:
        got = rows[row[0]]
        assert all(_same(a, b) for a, b in zip(tuple(got)[: len(row)], row)), (row, got)
        assert (got["hit"] is not None) == (row[3] == "ok"), (row, got)


def test_spatial_lookups_run_in_the_jvm(spark, points):
    """Both lookups plan without a Python evaluation node, and their
    cell tables are constants in the optimized plan: no JSON is parsed
    per row."""
    for out in (
        spatial_join.pip_join(points, pipeline.tower_polygons(), res=8),
        knn.nearest_site_within(points, synthetic.poi_np(100), radius_m=300.0),
    ):
        qe = out._jdf.queryExecution()
        plans = qe.optimizedPlan().toString() + qe.executedPlan().toString()
        for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "PythonUDF"):
            assert node not in plans
        for per_row in ("from_json", "jsontostructs", "scalar-subquery", "subquery"):
            assert per_row not in plans.lower()


def test_assign_tiles_and_rollup(spark, points):
    tiled = tiling.assign_tiles(points, [10, 12])
    assert tiled.count() == points.count() * 2
    base = tiling.tile_stats(points, zoom=12)
    levels = tiling.pyramid_rollup(base, min_zoom=10)
    totals = [lv.agg(F.sum("n")).first()[0] for lv in levels]
    assert len(set(totals)) == 1  # rollup preserves mass
    zs = [lv.select(F.max("z")).first()[0] for lv in levels]
    assert zs == [12, 11, 10]
    # parent tiles are the halved children
    b = {(r["x"], r["y"]): r["n"] for r in levels[0].collect()}
    p = {(r["x"], r["y"]): r["n"] for r in levels[1].collect()}
    for (x, y), n in p.items():
        kids = sum(
            b.get((2 * x + dx, 2 * y + dy), 0) for dx in (0, 1) for dy in (0, 1)
        )
        assert kids == n


def test_multimodal_decode_features(spark):
    images = synthetic.images_df(spark, 50, partitions=2)
    feats = multimodal.decode_features(images).collect()
    assert len(feats) == 50
    assert all(r["psnr_ok"] for r in feats)
    assert all(r["qnt4_psnr"] >= 40.0 for r in feats)
    assert len({r["pixel_phash"] for r in feats}) > 1


def test_decode_features_qnt4_psnr_matches_reencode(spark):
    """qnt4_psnr is the PSNR of a real qnt4 re-encode: mixed shapes,
    channel counts, a 1x1 image and pixels already on the qnt4 grid
    (SSE 0, where codec.psnr is inf and the column holds its 1e9 cap)."""
    from cdr_analysis_tools_hadoop_spark.functions import codec

    rng = np.random.default_rng(3)
    pix = [
        rng.integers(0, 256, (h, w, c), dtype=np.uint8)
        for h, w, c in [(16, 16, 3), (7, 5, 1), (1, 1, 3), (9, 3, 4), (4, 6, 2)]
    ]
    pix.append((rng.integers(0, 64, (8, 8, 3), dtype=np.uint8) << 2) | 2)
    images = spark.createDataFrame(
        [(str(i), i, codec.encode_rawz(p)) for i, p in enumerate(pix)],
        "image_id string, phash long, bytes binary",
    )
    got = {r.image_id: r.qnt4_psnr for r in multimodal.decode_features(images).collect()}
    for i, p in enumerate(pix):
        want = codec.psnr(p, codec.decode(codec.encode_qnt4(p)))
        if want == float("inf"):
            assert got[str(i)] == 1e9
        else:
            assert got[str(i)] == pytest.approx(want, rel=1e-12)


def test_multimodal_transcode(spark):
    images = synthetic.images_df(spark, 20, partitions=2)
    out = multimodal.transcode(images, "qnt4").collect()
    assert all(r["fmt"] == "qnt4" for r in out)
    from cdr_analysis_tools_hadoop_spark.functions import codec

    pix = codec.decode(bytes(out[0]["bytes"]))
    assert pix.ndim == 3


def test_pipeline_end_to_end(spark):
    images = synthetic.images_df(spark, 400, partitions=4)
    agg = pipeline.run_pipeline(spark, images).collect()
    assert sum(r["n_images"] for r in agg) == 400
    assert sum(r["n_psnr_ok"] for r in agg) == 400
    zones = {r["zone_id"] for r in agg}
    assert len(zones) > 5  # anchors spread across many Voronoi zones


def test_pipeline_matches_bruteforce_rollup(spark):
    """run_pipeline equals a rollup that uses neither PolygonIndex nor
    the kernel: zone = brute-force nearest of the 25 towers under the
    planar metric, anchors and tiles from the shared geo SQL snippets
    evaluated in DuckDB, every image past the PSNR gate."""
    import duckdb
    import pyarrow as pa

    images = synthetic.images_df(spark, 2_000, partitions=4)
    cols = ["zone_id", "x", "y", "n_images", "n_psnr_ok", "caption_bytes"]
    got = sorted(
        (tuple(r) for r in pipeline.run_pipeline(spark, images).select(*cols).collect()),
        key=repr,
    )

    src = images.select("phash", "caption").collect()
    phash = np.array([r["phash"] for r in src], dtype=np.int64)
    lat, lon = geo.anchor_lat_np(phash), geo.anchor_lon_np(phash)
    t = synthetic.towers_np(25)
    d2 = geo.planar_d2_np(lat[:, None], lon[:, None], t[None, :, 1], t[None, :, 2])
    truth = pa.table(
        {
            "phash": pa.array(phash, type=pa.int64()),
            "caption_len": pa.array([len(r["caption"]) for r in src], type=pa.int64()),
            "zone": pa.array(t[np.argmin(d2, axis=1), 0].astype(np.int64)),
        }
    )
    con = duckdb.connect()
    con.register("truth", truth)
    want = sorted(
        con.execute(
            "SELECT CAST(zone AS VARCHAR) AS zone_id, "
            f"{geo.tile_x_sql('lon', 14)} AS x, {geo.tile_y_sql('lat', 14)} AS y, "
            "count(*) AS n_images, count(*) AS n_psnr_ok, "
            "sum(caption_len) AS caption_bytes FROM ("
            f"SELECT zone, caption_len, {geo.anchor_lat_sql('phash')} AS lat, "
            f"{geo.anchor_lon_sql('phash')} AS lon FROM truth) GROUP BY 1, 2, 3"
        ).fetchall(),
        key=repr,
    )
    con.close()
    assert len(got) > 100
    assert got == want


def test_pipeline_builds_tower_index_once_per_res(spark, monkeypatch):
    """run_pipeline builds the tower layer's PolygonIndex once per
    pip_res per process, from a bounded cache; a cached index gives the
    same rollup, and so does another resolution."""
    built = []
    real = spatial_join.PolygonIndex

    def counting(polys, res):
        built.append(res)
        return real(polys, res)

    monkeypatch.setattr(spatial_join, "PolygonIndex", counting)
    pipeline._tower_index.cache_clear()
    try:
        images = synthetic.images_df(spark, 300, partitions=2)
        first = pipeline.run_pipeline(spark, images, pip_res=8).collect()
        again = pipeline.run_pipeline(spark, images, pip_res=8).collect()
        assert built == [8]
        assert sorted(again, key=repr) == sorted(first, key=repr)
        other = pipeline.run_pipeline(spark, images, pip_res=7).collect()
        assert built == [8, 7]
        assert sorted(other, key=repr) == sorted(first, key=repr)
        limit = pipeline._tower_index.cache_info().maxsize
        assert limit is not None
        for res in range(2, 3 + limit):
            pipeline._tower_index(res)
        assert pipeline._tower_index.cache_info().currsize == limit
    finally:
        pipeline._tower_index.cache_clear()


def test_pipeline_caption_bytes_count_characters(spark):
    """caption_bytes sums characters, not UTF-8 bytes: non-ASCII
    captions (accents, CJK, emoji outside the BMP) give the sum of
    Python's len per caption; a null caption adds nothing."""
    caps = ["é", "東京", "🙂", "naïve café 東京 🙂🚀", "plain", None]
    pick = F.array(*[F.lit(c).cast("string") for c in caps])
    images = synthetic.images_df(spark, 300, partitions=3).withColumn(
        "caption",
        F.element_at(pick, (F.pmod("phash", F.lit(len(caps))) + 1).cast("int")),
    )
    src = [r["caption"] for r in images.select("caption").collect()]
    assert {c for c in src} == set(caps)
    agg = pipeline.run_pipeline(spark, images).collect()
    assert sum(r["n_images"] for r in agg) == 300
    assert sum(r["caption_bytes"] or 0 for r in agg) == sum(
        len(c) for c in src if c is not None
    )


def test_python_workers_skip_rereading_unchanged_zip_archives(spark):
    """Once a Python worker has imported the engine, the stdlib's
    per-task ``importlib.invalidate_caches()`` re-reads no unchanged zip
    archive (pyspark.zip, py4j, jars) there. The probe reaches the
    engine the way every kernel does, through an engine module its
    closure unpickles. Only the second probe pass is checked: the first
    makes every pooled worker (the pool is FIFO, at most a few per core)
    import the engine and take its one stamping read."""
    import pyarrow as pa

    from cdr_analysis_tools_hadoop_spark import _worker_zipimport

    pipeline.run_pipeline(spark, synthetic.images_df(spark, 20, partitions=2)).collect()

    def probe(batches):
        import importlib
        import zipimport

        hooked = zipimport.zipimporter.invalidate_caches is _worker_zipimport._invalidate_caches
        reads = []
        read_directory = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting_read
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"hooked": [hooked], "reads": [len(reads)]})

    n = 4 * spark.sparkContext.defaultParallelism
    probes = spark.range(n, numPartitions=n).mapInArrow(probe, "hooked boolean, reads long")
    probes.collect()
    rows = probes.collect()
    assert len(rows) == n
    assert all(r["hooked"] for r in rows)
    assert all(r["reads"] == 0 for r in rows)


def test_assign_zone_rejects_large_layers_naming_knn(spark):
    """Past 2,000 towers assign_zone refuses the inline argmin and
    names the operator that scales, which must exist."""
    from cdr_analysis_tools_hadoop_spark.operators import zones

    towers = spark.createDataFrame(
        [(i, 13.0 + i * 1e-4, 100.0) for i in range(2_001)],
        "zone_id long, tlat double, tlon double",
    )
    pts = spark.createDataFrame([(13.0, 100.0)], "lat double, lon double")
    with pytest.raises(ValueError, match="nearest_site_within"):
        zones.assign_zone(pts, towers)
    assert hasattr(knn, "nearest_site_within")


def test_multimodal_resize_box(spark):
    from cdr_analysis_tools_hadoop_spark.operators import multimodal
    from cdr_analysis_tools_hadoop_spark.sources import synthetic
    from cdr_analysis_tools_hadoop_spark.functions import codec
    import numpy as np

    images = synthetic.images_df(spark, 20, partitions=2)
    rows = multimodal.resize_box(images, 2).collect()
    assert len(rows) == 20
    origs = {r.image_id: bytes(r.bytes) for r in images.select("image_id", "bytes").collect()}
    for r in rows[:5]:
        pix = codec.decode(bytes(r.bytes))
        assert pix.shape[:2] == (r.h, r.w)
        big = codec.decode(origs[r.image_id])
        assert (r.h, r.w) == (big.shape[0] // 2, big.shape[1] // 2)
        # box mean of the first 2x2 block
        want = big[:2, :2].reshape(4, -1).mean(axis=0).astype(np.uint8)
        assert (pix[0, 0] == want).all()


def test_audio_codec_roundtrip_and_stubs():
    from cdr_analysis_tools_hadoop_spark.functions import codec
    import numpy as np
    import pytest as _pytest

    pcm = (np.sin(np.arange(4000) / 13.0) * 20000).astype(np.int16)
    blob = codec.encode_pcmz(np.stack([pcm, pcm // 2], axis=1), 16_000)
    back, sr = codec.decode_audio(blob)
    assert sr == 16_000 and back.shape == (4000, 2)
    assert (back[:, 0] == pcm).all() and (back[:, 1] == pcm // 2).all()
    # mono 1-D input is promoted to (n, 1)
    mono, _ = codec.decode_audio(codec.encode_pcmz(pcm, 8_000))
    assert mono.shape == (4000, 1)
    with _pytest.raises(NotImplementedError):
        codec.decode_audio(b"MP3_" + blob[4:])
    with _pytest.raises(ValueError):
        codec.decode_audio(b"XXXX" + blob[4:])


def test_audio_features_match_direct_numpy(spark):
    from cdr_analysis_tools_hadoop_spark.functions import codec
    import numpy as np

    audios = synthetic.audio_df(spark, 40, partitions=2)
    feats = {r.audio_id: r for r in multimodal.audio_features(audios).collect()}
    assert len(feats) == 40
    blobs = {
        r.audio_id: bytes(r.bytes)
        for r in audios.select("audio_id", "bytes").collect()
    }
    # every 7th clip is synthesized over full scale -> clipping recorded
    assert any(r.clip_ratio > 0 for r in feats.values())
    assert all(r.clip_ratio == 0 for r in feats.values() if int(r.audio_id[3:]) % 7)
    for aid in list(feats)[:5]:
        pcm, sr = codec.decode_audio(blobs[aid])
        r = feats[aid]
        assert r.sr == sr and r.n_samples == pcm.shape[0]
        assert r.duration_s == pcm.shape[0] / sr
        x = pcm.astype(np.float64)
        assert abs(r.rms_dbfs - 10 * np.log10(np.mean(x * x) / 32768.0**2)) < 1e-9
        assert r.peak == int(np.max(np.abs(pcm.astype(np.int32))))


def test_audio_resample_preserves_pitch(spark):
    from cdr_analysis_tools_hadoop_spark.functions import codec

    audios = synthetic.audio_df(spark, 12, partitions=2)
    out = {r.audio_id: r for r in multimodal.audio_resample(audios, 8_000).collect()}
    orig = {r.audio_id: r for r in audios.collect()}
    zcr_in = {
        r.audio_id: r.zcr_hz
        for r in multimodal.audio_features(audios).collect()
    }
    res_df = multimodal.audio_resample(audios, 8_000)
    zcr_out = {
        r.audio_id: r.zcr_hz
        for r in multimodal.audio_features(
            res_df.withColumn("fmt", F.lit("pcmz"))
        ).collect()
    }
    for aid, r in out.items():
        assert r.sr == 8_000
        assert abs(r.n_samples - orig[aid].n_samples / 2) <= 1
        pcm, sr = codec.decode_audio(bytes(r.bytes))
        assert sr == 8_000 and pcm.shape[0] == r.n_samples
        # zero-crossings per second (pitch proxy) survive the resample
        # as long as the fundamental is under the new Nyquist
        if zcr_in[aid] < 3_500:
            assert abs(zcr_out[aid] - zcr_in[aid]) / zcr_in[aid] < 0.05


def test_pipeline_handles_empty_partitions(spark):
    from cdr_analysis_tools_hadoop_spark import pipeline
    from cdr_analysis_tools_hadoop_spark.sources import synthetic

    images = synthetic.images_df(spark, 5, partitions=8)  # empty partitions
    out = pipeline.run_pipeline(spark, images)
    assert out.agg({"n_images": "sum"}).collect()[0][0] == 5


def test_hmesh_codes_match_bytecode_semantics(spark):
    """HMesh cell codes = floor(coord / Fraction.doubleValue()) joined
    by '_' (lib/pflow-hiveUDF.jar!HMesh.update). Checked against a
    plain-python evaluation of the same formula at every level,
    including negative coordinates (floor, not trunc)."""
    import math

    from cdr_analysis_tools_hadoop_spark.operators import tiling

    pts = [(35.6895, 139.6917), (-33.8688, 151.2093), (38.2682, 140.8694)]
    df = spark.createDataFrame(pts, "lat double, lon double")
    for level, (ln, ld, an, ad) in tiling.HMESH_LEVELS.items():
        rows = df.select(
            "lat", "lon",
            F.expr(
                tiling.hmesh_code_sql("lon", "lat", level, "spark")
            ).alias("code"),
        ).collect()
        for r in rows:
            want = (
                f"{math.floor(r.lon / (ln / ld))}_"
                f"{math.floor(r.lat / (an / ad))}"
            )
            assert r.code == want, (level, r.lat, r.lon)


def test_hmesh_pyramid_counts_one_scan(spark):
    from cdr_analysis_tools_hadoop_spark.operators import tiling

    df = spark.createDataFrame(
        [(35.0 + i * 0.001, 139.0 + i * 0.001) for i in range(100)],
        "lat double, lon double",
    )
    out = tiling.hmesh_pyramid_counts(df, levels=(2, 4, 6)).collect()
    by_level = {}
    for r in out:
        by_level.setdefault(r.level, 0)
        by_level[r.level] += r.n_events
    assert by_level == {2: 100, 4: 100, 6: 100}
    plan = (
        tiling.hmesh_pyramid_counts(df)._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert plan.count("Scan ExistingRDD") + plan.count("FileScan") == 1


def test_video_codec_roundtrip_and_stubs():
    from cdr_analysis_tools_hadoop_spark.functions import codec
    import numpy as np
    import pytest as _pytest

    rng_frames = (
        np.cumsum(
            np.arange(20 * 8 * 12 * 3, dtype=np.uint32).reshape(20, 8, 12, 3),
            axis=0,
        )
        % 256
    ).astype(np.uint8)
    blob = codec.encode_vidz(rng_frames, 12)
    back, fps = codec.decode_video(blob)
    assert fps == 12 and back.shape == (20, 8, 12, 3)
    assert (back == rng_frames).all()
    # a static clip delta-compresses far below per-frame rawz stills
    static = np.repeat(rng_frames[:1], 20, axis=0)
    assert len(codec.encode_vidz(static, 12)) < 20 * len(
        codec.encode_rawz(static[0])
    ) / 4
    with _pytest.raises(NotImplementedError):
        codec.decode_video(b"H264" + blob[4:])
    with _pytest.raises(ValueError):
        codec.decode_video(b"XXXX" + blob[4:])


def test_video_features_match_direct_numpy(spark):
    from cdr_analysis_tools_hadoop_spark.functions import codec

    videos = synthetic.videos_df(spark, 30, partitions=2)
    feats = {r.video_id: r for r in multimodal.video_features(videos).collect()}
    assert len(feats) == 30
    blobs = {
        r.video_id: bytes(r.bytes)
        for r in videos.select("video_id", "bytes").collect()
    }
    # every 5th clip is static -> motion exactly 0; the rest pan
    for vid, r in feats.items():
        i = int(vid[3:])
        assert (r.motion == 0.0) == (i % 5 == 0)
    for vid in list(feats)[:5]:
        frames, fps = codec.decode_video(blobs[vid])
        r = feats[vid]
        n, h, w, _ = frames.shape
        assert (r.n_frames, r.fps, r.w, r.h) == (n, fps, w, h)
        assert r.duration_s == n / fps
        want_ml = float(
            frames.sum(axis=(0, 1, 2), dtype=np.int64)
            @ np.array([0.299, 0.587, 0.114])
        ) / (n * h * w)
        assert abs(r.mean_luma - want_ml) < 1e-9
        if n > 1:
            want_mo = float(
                np.abs(frames[1:].astype(np.int16) - frames[:-1]).mean()
            )
            assert abs(r.motion - want_mo) < 1e-12


def test_frame_sample_expands_rows_and_roundtrips(spark):
    from cdr_analysis_tools_hadoop_spark.functions import codec

    videos = synthetic.videos_df(spark, 12, partitions=3)
    rows = multimodal.frame_sample(videos, every_n=8).collect()
    blobs = {
        r.video_id: bytes(r.bytes)
        for r in videos.select("video_id", "bytes").collect()
    }
    by_vid: dict = {}
    for r in rows:
        by_vid.setdefault(r.video_id, []).append(r)
    assert set(by_vid) == set(blobs)
    for vid, samples in by_vid.items():
        frames, _fps = codec.decode_video(blobs[vid])
        n = frames.shape[0]
        picks = list(range(0, n, 8))
        if picks[-1] != n - 1:
            picks.append(n - 1)
        assert sorted(r.frame_idx for r in samples) == picks
        for r in samples:
            still = codec.decode(bytes(r.bytes))
            assert still.shape == (r.h, r.w, 3)
            assert (still == frames[r.frame_idx]).all()


def test_image_near_dup_exact_and_seeded(spark):
    """image_near_dup == brute-force popcount over the real pixel
    hashes (the banding is exact, not probabilistic), and every
    seeded jittered copy is recovered."""
    imgs = synthetic.images_df(spark, 300, partitions=4, dup_every=5)
    feats = {
        r.image_id: r.pixel_phash
        for r in multimodal.decode_features(imgs).collect()
    }
    ids = sorted(feats)
    want = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            d = bin((feats[ids[i]] ^ feats[ids[j]]) & (2**64 - 1)).count("1")
            if d <= 6:
                want.add((ids[i], ids[j]))
    got = {
        (r.id_a, r.id_b)
        for r in multimodal.image_near_dup(imgs, 6).collect()
    }
    assert got == want
    seeded = {
        (f"img{i - 3:010d}", f"img{i:010d}") for i in range(5, 300, 5)
    }
    assert seeded <= got


def test_video_near_dup_seeded_and_verified(spark):
    """Every seeded jittered clip pairs with its source, and the
    reported avg_hamming matches direct numpy over the signatures."""
    from cdr_analysis_tools_hadoop_spark.functions import codec

    vids = synthetic.videos_df(spark, 150, partitions=4, dup_every=5)
    rows = multimodal.video_near_dup(vids).collect()
    got = {(r.id_a, r.id_b): r.avg_hamming for r in rows}
    seeded = {
        (f"vid{i - 1:010d}", f"vid{i:010d}") for i in range(5, 150, 5)
    }
    assert seeded <= set(got)
    # recompute one seeded pair's distance from the raw blobs
    sigs = {
        r.video_id: list(r.sig)
        for r in multimodal.video_signature(vids).collect()
    }
    a, b = sorted(seeded)[0]
    d = np.mean(
        [bin((x ^ y) & (2**64 - 1)).count("1") for x, y in zip(sigs[a], sigs[b])]
    )
    assert abs(got[(a, b)] - d) < 1e-12
    # jittered copies are CLOSE (avg under 2 bits), non-pairs are not all-pairs
    assert all(got[p] <= 2.0 for p in seeded)


def test_video_near_dup_plan_has_no_cross_join(spark):
    vids = synthetic.videos_df(spark, 60, partitions=2, dup_every=5)
    plan = (
        multimodal.video_near_dup(vids)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_audio_near_dup_seeded_remasters(spark):
    """Seeded re-masters (0.6x gain + 16k->12k resample + -46 dBFS
    noise) are recovered by the spectral fingerprint at the default
    radius; fingerprints are gain/resample robust by construction."""
    auds = synthetic.audio_df(spark, 300, partitions=4, dup_every=5)
    got = {(r.id_a, r.id_b) for r in multimodal.audio_near_dup(auds).collect()}
    seeded = {(f"aud{i - 1:010d}", f"aud{i:010d}") for i in range(5, 300, 5)}
    # one legitimate outlier: a clipped (harmonic-rich) source
    # resampled without anti-alias filtering genuinely aliases
    assert len(seeded & got) / len(seeded) >= 0.95
    # default table (no seeded dups) stays identical for any partitioning
    a = {r.audio_id: r.fingerprint
         for r in multimodal.audio_signature(
             synthetic.audio_df(spark, 60, partitions=2)).collect()}
    b = {r.audio_id: r.fingerprint
         for r in multimodal.audio_signature(
             synthetic.audio_df(spark, 60, partitions=5)).collect()}
    assert a == b and len(a) == 60


def test_near_dup_parameter_guards(spark):
    """Misuse guards: dup chains in the seeded generators and a video
    verify threshold outside the candidate guarantee raise instead of
    silently losing recall."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="dup_every"):
        synthetic.images_df(spark, 10, dup_every=3)
    with _pytest.raises(ValueError, match="dup_every"):
        synthetic.videos_df(spark, 10, dup_every=1)
    with _pytest.raises(ValueError, match="dup_every"):
        synthetic.audio_df(spark, 10, dup_every=1)
    with _pytest.raises(ValueError, match="max_avg_hamming"):
        multimodal.video_near_dup(
            synthetic.videos_df(spark, 4), max_hamming=2, max_avg_hamming=4.0
        )
    # documents_df dup_every=0 is the documented no-dups mode
    from cdr_analysis_tools_hadoop_spark.sources.synthetic import documents_df
    assert documents_df(spark, 30, dup_every=0, partitions=2).count() == 30


def test_knn_epsilon_slivers_match_duckdb_oracle(spark):
    """r3 verdict item 5 / advice: duplicate-coordinate sites plus
    sub-micron boundary/tie slivers must match the oracle's exact
    `WHERE dist <= radius ORDER BY (dist, site_id) LIMIT 1` — the old
    absolute 1e-6 m tie epsilon collapsed DISTINCT sites a micron
    apart (picking the farther, smaller-id one) and could emit a
    chosen distance a hair past the radius."""
    import duckdb

    radius = 300.0

    def lon_at(dist_m: float, lat: float = 0.0, lon0: float = 0.0) -> float:
        # invert haversine_np along a parallel by bisection so site
        # distances land EXACTLY where the fixture wants them
        lo, hi = lon0, lon0 + 1.0
        for _ in range(80):
            mid = (lo + hi) / 2.0
            if float(geo.haversine_np(lat, lon0, lat, mid)) < dist_m:
                lo = mid
            else:
                hi = mid
        return (lo + hi) / 2.0

    # point 1: site 10 at ~299.9999995 m, site 5 at +5e-7 m farther —
    #   distinct sites inside the old 1e-6 window; oracle picks 10.
    # point 2: site 20 just inside the radius, site 4 (smaller id)
    #   ~4e-7 m OUTSIDE it; oracle picks 20, never 4.
    # point 3: duplicate-coordinate sites 7 and 3 — oracle picks 3.
    # point 4: only site 40, ~1e-6 m outside the radius -> NULL.
    sites = np.array(
        [
            (10, 0.0, lon_at(299.9999995)),
            (5, 0.0, lon_at(299.9999995 + 5e-7)),
            (20, 2.0, lon_at(299.99999950, lat=2.0, lon0=2.0)),
            (4, 2.0, lon_at(300.0000004, lat=2.0, lon0=2.0)),
            (7, 4.0, 4.0001),
            (3, 4.0, 4.0001),
            (40, 6.0, lon_at(300.000001, lat=6.0, lon0=6.0)),
        ],
        dtype=np.float64,
    )
    pts = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 2.0, 2.0), (3, 4.0, 4.0), (4, 6.0, 6.0)],
        "pid long, lat double, lon double",
    )
    got = {
        r["pid"]: (r["site_id"], r["site_dist_m"])
        for r in knn.nearest_site_within(pts, sites, radius_m=radius).collect()
    }

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t(site_id BIGINT, tlat DOUBLE, tlon DOUBLE)"
    )
    con.executemany(
        "INSERT INTO t VALUES (?, ?, ?)",
        [(int(s), float(a), float(o)) for s, a, o in sites],
    )
    con.execute("CREATE TABLE c(pid BIGINT, lat DOUBLE, lon DOUBLE)")
    con.executemany(
        "INSERT INTO c VALUES (?, ?, ?)",
        [(1, 0.0, 0.0), (2, 2.0, 2.0), (3, 4.0, 4.0), (4, 6.0, 6.0)],
    )
    hav = geo.haversine_sql("c.lat", "c.lon", "t.tlat", "t.tlon")
    oracle = {
        pid: (sid, d)
        for pid, sid, d in con.execute(
            f"SELECT pid, site_id, d FROM ("
            f"SELECT c.pid, t.site_id, {hav} AS d, "
            f"row_number() OVER (PARTITION BY c.pid ORDER BY {hav}, t.site_id) rn "
            f"FROM c CROSS JOIN t WHERE {hav} <= {radius!r}) WHERE rn = 1"
        ).fetchall()
    }
    assert got[1][0] == oracle[1][0] == 10
    assert got[2][0] == oracle[2][0] == 20
    assert got[3][0] == oracle[3][0] == 3
    assert got[4] == (None, None) and 4 not in oracle
    for pid in (1, 2, 3):
        assert got[pid][1] == pytest.approx(oracle[pid][1], rel=1e-9)
        assert got[pid][1] <= radius


def test_image_dup_clusters_exact_components(spark):
    """Cluster labels == exact connected components (in-test
    union-find) of the engine's own near-dup pair graph, and every
    seeded (i-3, i) jitter pair lands in one component."""
    imgs = synthetic.images_df(spark, 300, partitions=4, dup_every=5)
    pairs = [
        (r.id_a, r.id_b) for r in multimodal.image_near_dup(imgs, 6).collect()
    ]
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    out = multimodal.image_dup_clusters(imgs, 6).collect()
    assert len(out) == 300
    # canonical label = min id reachable, exactly what find() yields
    want = {
        f"img{i:010d}": find(f"img{i:010d}") for i in range(300)
    }
    got = {r.image_id: r.cluster_id for r in out}
    assert got == want
    reps = {r.image_id for r in out if r.is_representative}
    assert reps == {v for v in want.values()}
    for i in range(5, 300, 5):
        assert got[f"img{i - 3:010d}"] == got[f"img{i:010d}"]


def test_image_caption_curation_matches_independent_recompute(spark):
    """keep/is_exact_dup/quality recomputed independently in Python
    from decode_features + raw captions must equal the fused verdict."""
    imgs = synthetic.images_df(spark, 200, partitions=4, dup_every=5)
    feats = {
        r.image_id: r
        for r in multimodal.decode_features(imgs).collect()
    }
    caps = {r.image_id: r.caption for r in imgs.select("image_id", "caption").collect()}
    by_hash: dict[int, list[str]] = {}
    for iid, f in feats.items():
        by_hash.setdefault(f.pixel_phash, []).append(iid)
    want = {}
    for iid, f in feats.items():
        toks = caps[iid].split(" ")
        ttr = round(len(set(toks)) / len(toks), 6)
        q = (
            (400 if 4 <= len(toks) <= 64 else 0)
            + int(ttr * 300)
            + (300 if f.psnr_ok else 0)
        )
        dup = min(by_hash[f.pixel_phash]) != iid
        want[iid] = (len(toks), q, dup, (not dup) and q >= 700)
    got = {
        r.image_id: (r.n_tokens, r.quality_millis, r.is_exact_dup, r.keep)
        for r in multimodal.image_caption_curation(imgs).collect()
    }
    assert got == want
    assert any(v[2] for v in want.values())  # fixture seeds real dups


def test_image_geo_near_dup_exact_both_predicates(spark):
    """image_geo_near_dup == brute force over (popcount of the real
    decoded pixel hashes) AND (planar anchor distance) — and is a
    strict subset of the unconstrained image_near_dup output."""
    imgs = synthetic.images_df(spark, 300, partitions=4, dup_every=5)
    feats = {
        r.image_id: r.pixel_phash
        for r in multimodal.decode_features(imgs).collect()
    }
    radius_m = multimodal.IMAGE_GEO_NEAR_DUP_RADIUS_M
    rad_deg = radius_m / 111_320.0
    ids = sorted(feats)

    def _anchor(image_id):
        n = np.int64(int(image_id[3:]))
        return geo.anchor_lat_np(np.array([n]))[0], geo.anchor_lon_np(
            np.array([n])
        )[0]

    want = set()
    for i in range(len(ids)):
        la, lo = _anchor(ids[i])
        for j in range(i + 1, len(ids)):
            lb, lob = _anchor(ids[j])
            d = bin((feats[ids[i]] ^ feats[ids[j]]) & (2**64 - 1)).count("1")
            dy = la - lb
            dx = (lo - lob) * geo.LON_SCALE
            if d <= 6 and dy * dy + dx * dx <= rad_deg * rad_deg:
                want.add((ids[i], ids[j]))
    got = {
        (r.id_a, r.id_b)
        for r in multimodal.image_geo_near_dup(imgs, 6).collect()
    }
    assert got == want and len(want) >= 5
    unconstrained = {
        (r.id_a, r.id_b) for r in multimodal.image_near_dup(imgs, 6).collect()
    }
    assert got < unconstrained


def test_zone_raster_inverse_and_consistency(spark, sf_dir):
    """Raster<->vector coherence: (1) the forward tile transform of
    every rasterized tile's center returns that tile (inverse-mercator
    exactness); (2) a point AT a tile center gets the same zone from
    the point path (assign_zone) as the raster gives the tile; (3)
    every event's tile at z13 lies inside the rasterized box."""
    towers = synthetic.towers_df(spark, sf_dir)
    ras = tiling.zone_raster(spark, towers, zoom=13)
    centers = ras.select(
        "x", "y", "zone_id",
        F.expr(tiling.tile_center_lat_sql("y", 13)).alias("lat"),
        F.expr(tiling.tile_center_lon_sql("x", 13)).alias("lon"),
    )
    fwd = centers.select(
        "x", "y", "zone_id", "lat", "lon",
        F.expr(geo.tile_x_sql("lon", 13)).alias("fx"),
        F.expr(geo.tile_y_sql("lat", 13)).alias("fy"),
    )
    rows = fwd.collect()
    assert len(rows) > 500
    assert all(r.fx == r.x and r.fy == r.y for r in rows)

    from cdr_analysis_tools_hadoop_spark.operators import zones as _zones

    pts = centers.select("x", "y", F.col("zone_id").alias("raster_zone"),
                         "lat", "lon")
    both = _zones.assign_zone(pts, towers).collect()
    assert all(r.zone_id == r.raster_zone for r in both)

    from cdr_analysis_tools_hadoop_spark.operators import prepare

    cdr = prepare.events_as_cdr(spark, sf_dir).limit(2000).select(
        F.expr(geo.tile_x_sql("lon", 13)).alias("x"),
        F.expr(geo.tile_y_sql("lat", 13)).alias("y"),
    )
    xmin, xmax, ymin, ymax = tiling._raster_bounds(13)
    bad = cdr.filter(
        (F.col("x") < xmin) | (F.col("x") > xmax)
        | (F.col("y") < ymin) | (F.col("y") > ymax)
    ).count()
    assert bad == 0


def test_zone_raster_areas_match_polygon_shoelace(spark, sf_dir):
    """Raster->vector validation: per-zone tile counts at z14 estimate
    each Voronoi cell's area to within the discretization error of
    the exact shoelace polygon area (the classic rasterization
    accuracy check — each zone within 20% or one tile, total within
    2%)."""
    towers = synthetic.towers_df(spark, sf_dir)
    ras = {r.zone_id: r.n for r in
           tiling.zone_raster(spark, towers, zoom=14)
           .groupBy("zone_id").agg(F.count(F.lit(1)).alias("n")).collect()}

    sites = np.array(
        [(r.zone_id, r.tlat, r.tlon)
         for r in towers.select("zone_id", "tlat", "tlon").collect()]
    )
    polys = synthetic.voronoi_polygons(sites)

    def shoelace(ring):  # ring: (m, 2) of (lon, lat)
        x = ring[:, 0] * geo.LON_SCALE
        y = ring[:, 1]
        return 0.5 * abs(
            np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y)
        )

    exact = {int(z): shoelace(p) for (z, _, _), p in zip(sites, polys)}
    total_exact = sum(exact.values())
    total_tiles = sum(ras.values())
    for z, a in exact.items():
        est = ras.get(z, 0) / total_tiles * total_exact
        assert abs(est - a) <= max(0.2 * a, total_exact / total_tiles), z
    # totals: the raster box is slightly larger than the extent, but
    # proportions must hold tightly
    big3_e = sorted(exact, key=exact.get)[-3:]
    big3_r = sorted(ras, key=ras.get)[-3:]
    assert set(big3_e) == set(big3_r)


def test_caption_byte_equality_through_arrow_passthrough(spark):
    """input_hint invariant: captions survive the fused Arrow decode
    pass byte-for-byte (zero-copy column passthrough), including
    non-ASCII — paired with the PSNR>=40dB pixel gate the kernel
    itself asserts."""
    imgs = synthetic.images_df(spark, 40, partitions=2).withColumn(
        "caption",
        F.concat(F.col("caption"), F.lit(" — köttbullar 東京 🗼")),
    )
    want = {r.image_id: r.caption for r in
            imgs.select("image_id", "caption").collect()}
    out = multimodal.decode_features(imgs, keep=("caption",))
    got = {r.image_id: r.caption for r in
           out.select("image_id", "caption").collect()}
    assert got == want
    assert all("🗼" in c for c in got.values())
    # and the decode gate held on every row while captions passed through
    assert all(r.psnr_ok for r in out.collect())


def test_image_augment_exact_transforms_and_laws(spark):
    """Each augment op's pixels match the direct numpy transform of
    the decoded source; involution/composition laws hold (flip twice
    == identity, rot180 == two rot90s); unknown ops raise."""
    from cdr_analysis_tools_hadoop_spark.functions import codec

    imgs = synthetic.images_df(spark, 12, partitions=2)
    srcs = {r.image_id: codec.decode(bytes(r.bytes))
            for r in imgs.select("image_id", "bytes").collect()}
    out = {(r.image_id, r.op): r for r in multimodal.augment(imgs).collect()}
    assert len(out) == 12 * len(multimodal.AUGMENT_OPS)
    for iid, pix in srcs.items():
        h, w = pix.shape[:2]
        want = {
            "flip_h": pix[:, ::-1],
            "flip_v": pix[::-1],
            "rot90": np.rot90(pix),
            "rot180": pix[::-1, ::-1],
            "crop_c": pix[(h - h // 2) // 2 : (h - h // 2) // 2 + h // 2,
                          (w - w // 2) // 2 : (w - w // 2) // 2 + w // 2],
        }
        for op, exp in want.items():
            r = out[(iid, op)]
            got = codec.decode(bytes(r.bytes))
            assert got.shape == (r.h, r.w, 3)
            assert (got == exp).all(), (iid, op)
        # laws
        fh = codec.decode(bytes(out[(iid, "flip_h")].bytes))
        assert (fh[:, ::-1] == pix).all()
        r90 = codec.decode(bytes(out[(iid, "rot90")].bytes))
        assert (np.rot90(r90, 3) == pix).all()
        r180 = codec.decode(bytes(out[(iid, "rot180")].bytes))
        assert (np.rot90(np.rot90(pix)) == r180).all()
    import pytest as _pytest
    with _pytest.raises(ValueError, match="unknown"):
        multimodal.augment(imgs, ops=("flip_h", "nope"))


def test_multimodal_kernels_survive_degenerate_blobs(spark):
    """Grayscale / RGBA images and zero-frame / zero-sample clips are
    VALID engine-codec blobs (channel count, n_frames, and n_samples
    are free header fields): every feature kernel must emit a
    deterministic row instead of crashing the whole job on one of
    them (late-r4 review findings)."""
    from cdr_analysis_tools_hadoop_spark.functions import codec

    rng = np.random.default_rng(7)
    gray = rng.integers(0, 256, (8, 8, 1), dtype=np.uint8)
    rgba = rng.integers(0, 256, (8, 8, 4), dtype=np.uint8)
    imgs = spark.createDataFrame(
        [
            ("gray", 0, codec.encode_rawz(gray)),
            ("rgba", 0, codec.encode_rawz(rgba)),
        ],
        "image_id string, phash long, bytes binary",
    )
    feats = {
        r.image_id: r for r in multimodal.decode_features(imgs).collect()
    }
    assert feats["gray"].mean_luma == pytest.approx(float(gray.mean()))
    assert feats["rgba"].mean_luma == pytest.approx(float(rgba.mean()))

    empty_vid = codec.encode_vidz(
        np.zeros((0, 8, 8, 1), dtype=np.uint8), fps=0
    )
    vids = spark.createDataFrame(
        [("v0", empty_vid)], "video_id string, bytes binary"
    )
    vf = multimodal.video_features(vids).collect()[0]
    assert vf.n_frames == 0 and vf.duration_s == 0.0 and vf.mean_luma == 0.0
    sig = multimodal.video_signature(vids).collect()[0]
    assert list(sig.sig) == [0] * 8

    empty_aud = codec.encode_pcmz(np.zeros((0, 2), dtype=np.int16), 16_000)
    auds = spark.createDataFrame(
        [("a0", empty_aud)], "audio_id string, bytes binary"
    )
    af = multimodal.audio_features(auds).collect()[0]
    assert af.n_samples == 0 and af.peak == 0 and af.duration_s == 0.0
    rs = multimodal.audio_resample(auds).collect()[0]
    assert rs.n_samples == 0
    back, sr2 = codec.decode_audio(bytes(rs.bytes))
    assert sr2 == 8_000 and back.shape[0] == 0
    asig = multimodal.audio_signature(auds).collect()[0]
    assert asig.fingerprint == 0


def test_knn_ring_covers_radius_in_longitude(spark):
    """Ring-1 coverage must hold on the NARROW (longitude) cell axis:
    with the old max-edge resolution pick, a site ~24.4 km west
    (within a 25 km radius) landed at Chebyshev cell distance 2 and
    was silently missed."""
    probe = spark.createDataFrame(
        [(1, 35.5, 139.500001)], "pid long, lat double, lon double"
    )
    # one site 0.27 deg west: haversine ~24.4 km <= 25 km
    sites = np.array([[7.0, 35.5, 139.500001 - 0.27]])
    got = knn.nearest_site_within(
        probe, sites, radius_m=25_000.0
    ).collect()[0]
    d = geo.haversine_np([35.5], [139.500001], [35.5], [139.500001 - 0.27])[0]
    assert d <= 25_000.0  # the scenario premise
    assert got.site_id == 7
    assert got.site_dist_m == pytest.approx(d, rel=1e-9)


def test_image_near_dup_wide_exact(spark):
    """wide=True (128-bit pixel_phash ‖ pixel_dhash) == brute-force
    summed two-word popcount, and every distance-0 seeded duplicate
    pair survives the stricter criterion."""
    from cdr_analysis_tools_hadoop_spark.operators import multimodal

    imgs = synthetic.images_df(spark, 300, partitions=4, dup_every=5)
    feats = {
        r.image_id: (r.pixel_phash, r.pixel_dhash)
        for r in multimodal.decode_features(imgs).collect()
    }
    ids = sorted(feats)
    want = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            (a1, a2), (b1, b2) = feats[ids[i]], feats[ids[j]]
            d = bin((a1 ^ b1) & (2**64 - 1)).count("1") + bin(
                (a2 ^ b2) & (2**64 - 1)
            ).count("1")
            if d <= 6:
                want.add((ids[i], ids[j], d))
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in multimodal.image_near_dup(
            imgs, n_hint=100_000, wide=True
        ).collect()
    }
    assert got == want
    assert any(d == 0 for _, _, d in got)  # exact dup_every copies


def test_dhash_deterministic_and_gradient_sensitive(spark):
    """dhash is deterministic, distinct from phash_ahash, and flips
    bits under a horizontal gradient reversal while a constant-offset
    brightness change leaves it untouched (gradient-sign semantics)."""
    import numpy as np

    from cdr_analysis_tools_hadoop_spark.functions import codec

    rng = np.random.RandomState(3)
    img = rng.randint(0, 255, size=(32, 48, 3)).astype(np.uint8)
    assert codec.dhash(img) == codec.dhash(img.copy())
    # brightness offset (clipped-free range) preserves gradient signs
    assert codec.dhash((img // 2) + 10) == codec.dhash(img // 2)
    # mirrored image reverses horizontal gradients -> different hash
    assert codec.dhash(img) != codec.dhash(img[:, ::-1])
    # tiny/empty images are deterministic, not NaN-collapsed
    assert codec.dhash(img[:2, :3]) == codec.dhash(img[:2, :3])
    assert codec.dhash(np.zeros((0, 0, 3), dtype=np.uint8)) == 0


# ---------------------------------------------------------------------------
# DP zone counts (r5)


def test_dp_zone_counts_noise_matches_python(spark):
    """Deterministic Laplace draw: recompute the inverse-CDF in
    Python from the same MINSTD uniform and compare after round-6."""
    import math

    from cdr_analysis_tools_hadoop_spark.operators import zones as _z
    from cdr_analysis_tools_hadoop_spark.operators.sampling import (
        MINSTD_MOD,
        MINSTD_MULT,
    )

    zoned = spark.createDataFrame(
        [(z, i) for z in range(12) for i in range(z + 1)],
        "zone_id long, uid long",
    )
    eps = 0.7
    got = {
        r.zone_id: r.noisy_events
        for r in _z.dp_zone_counts(zoned, epsilon=eps).collect()
    }

    def _noise(zid: int) -> float:
        h = ((zid % MINSTD_MOD) + MINSTD_MOD + _z.DP_SEED) % MINSTD_MOD
        for _ in range(3):
            h = h * MINSTD_MULT % MINSTD_MOD
        u = (h + 0.5) / MINSTD_MOD
        b = 1.0 / eps
        return b * math.log(2.0 * u) if u < 0.5 else -b * math.log(2.0 - 2.0 * u)

    for z in range(12):
        assert got[z] == pytest.approx(round((z + 1) + _noise(z), 6), abs=1e-9)


def test_dp_zone_counts_deterministic_and_validated(spark):
    from cdr_analysis_tools_hadoop_spark.operators import zones as _z

    zoned = spark.createDataFrame(
        [(z % 5, z) for z in range(100)], "zone_id long, uid long"
    )
    a = sorted(map(tuple, _z.dp_zone_counts(zoned).collect()))
    b = sorted(map(tuple, _z.dp_zone_counts(zoned).collect()))
    assert a == b and len(a) == 5
    with pytest.raises(ValueError):
        _z.dp_zone_counts(zoned, epsilon=0.0)


def test_dp_zone_counts_noise_is_laplace_shaped(spark):
    """Over many zones the seeded draws must look Laplace(1/eps):
    mean ~ 0, ~half negative, and P(|X| > 3b) = e^-3 ~ 5%."""
    from cdr_analysis_tools_hadoop_spark.operators import zones as _z

    n_zones = 2000
    zoned = spark.createDataFrame(
        [(z,) for z in range(n_zones)], "zone_id long"
    )
    noise = [
        r.noisy_events - 1.0
        for r in _z.dp_zone_counts(zoned, epsilon=1.0).collect()
    ]
    assert abs(sum(noise) / n_zones) < 0.1
    neg = sum(1 for x in noise if x < 0) / n_zones
    assert 0.45 < neg < 0.55
    import math

    tail = sum(1 for x in noise if abs(x) > 3.0) / n_zones
    assert abs(tail - math.exp(-3.0)) < 0.02


def test_laplace_noise_sql_parity_spark_duckdb(spark):
    """The DP primitive itself, cross-engine: identical SQL text over
    identical integer keys must produce byte-identical doubles in
    Spark and DuckDB for a spread of seeds and scales (the ln()
    parity bet the DP releases ride on)."""
    import duckdb

    from cdr_analysis_tools_hadoop_spark.operators.zones import (
        laplace_noise_sql,
    )

    ids = list(range(200))
    df = spark.createDataFrame([(i,) for i in ids], "k long")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT unnest(range(200)) AS k"
    )
    for seed, scale in ((1, 1.0), (424243, 0.5), (999983, 7.25)):
        expr = laplace_noise_sql("k", scale, seed)
        got_s = {
            r.k: r.v
            for r in df.selectExpr("k", f"{expr} AS v").collect()
        }
        got_d = dict(con.execute(f"SELECT k, {expr} FROM t").fetchall())
        # RAW ln() differs at the ~1e-13 level between the JVM's and
        # DuckDB's libm (measured here — this test exists to pin that
        # fact); the release discipline is round-then-compare, so
        # parity is asserted at the operators' round-6 grain plus a
        # tight raw tolerance
        for k in got_s:
            assert round(got_s[k], 6) == round(got_d[k], 6), (seed, scale, k)
            assert abs(got_s[k] - got_d[k]) <= 1e-9 * max(
                1.0, abs(got_s[k])
            ), (seed, scale, k)
        # distribution sanity: symmetric around 0
        vals = list(got_s.values())
        neg = sum(1 for v in vals if v < 0)
        assert 60 < neg < 140
