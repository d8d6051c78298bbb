"""Flagship benchmark pipeline (BASELINE.md protocol), one fused
``mapInArrow`` kernel per batch:

  images -> decode + PSNR gate -> phash->anchor -> cell encode
         -> PIP zone vs tower-Voronoi polygons (PolygonIndex,
            operators/spatial_join.py; the index rides in the kernel
            closure)
         -> z14 tile assignment
  then one codegen'd zone/tile aggregate.

Measured metric: images/sec end-to-end. The decode stage reads every
pixel and reports the PSNR gate of a qnt4 re-encode (PSNR >= 40 dB,
input_hint). The gate cannot fire on a decodable image: the qnt4
residual is at most 2 per sample, so SSE <= 4*N and PSNR >= 42.1 dB by
construction. It is a check that each blob decodes to the pixels its
header promises, not a filter.

Scale design: the only shuffle in the whole job is the final
aggregation (partial map-side combine + AQE-coalesced exchange);
decode, anchor, cell, PIP, and tiling are all map-only over the
input partitioning, so throughput scales linearly with executors
until the aggregate's tiny output dominates — the property the
N vs 4N efficiency criterion checks.
"""

from __future__ import annotations

import functools
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .functions import codec, geo
from .operators import spatial_join

# PSNR >= 40 dB  <=>  MSE <= 255^2 * 1e-4  <=>  SSE <= gate*N. The qnt4
# residual is at most 2 per sample, so SSE <= 4*N < gate*N: every
# decodable image passes (PSNR >= 42.1 dB by construction).
_MSE_GATE = 255.0**2 * 1e-4


def _decode_and_gate(rb):
    """Decode the batch's ``bytes`` column as one stack per image shape
    (codec.decode_stacks) and apply the qnt4 PSNR gate to each stack;
    returns the bool ``ok`` array."""
    ok = np.empty(rb.num_rows, dtype=bool)
    for idxs, stack in codec.decode_stacks(rb):
        ok[idxs] = codec.qnt4_sse(stack) <= _MSE_GATE * stack[0].size
    return ok


def tower_polygons() -> list[tuple[int, np.ndarray]]:
    """The 25-tower Voronoi zone layer the image pipeline joins against."""
    # imported here, not at module level: ``synthetic`` imports pandas,
    # and every Python worker imports this module to run the kernel
    from .sources import synthetic

    towers = synthetic.towers_np(25)
    return list(
        zip(towers[:, 0].astype(np.int64), synthetic.voronoi_polygons(towers))
    )


@functools.lru_cache(maxsize=4)
def _tower_index(pip_res: int) -> spatial_join.PolygonIndex:
    """The tower layer's PolygonIndex at ``pip_res``, built once per
    process and resolution: the layer is an engine constant, and the
    cache keeps the four most recently used resolutions."""
    return spatial_join.PolygonIndex(tower_polygons(), pip_res)


def broadcast_polygon_index(spark: SparkSession, pip_res: int = 8):
    """Build the tower-Voronoi PolygonIndex and broadcast it; returns
    (broadcast, zone id strings). A cost probe only: the engine ships
    the index inside its kernel closures and never calls this. The
    caller owns the broadcast and must unpersist or destroy it."""
    index = spatial_join.PolygonIndex(tower_polygons(), pip_res)
    return spark.sparkContext.broadcast(index), [str(p) for p in index.ids]


def run_pipeline(
    spark: SparkSession,
    images: DataFrame,
    base_zoom: int = 14,
    pip_res: int = 8,
) -> DataFrame:
    """Full pipeline; returns the per-(zone, tile) aggregate frame.

    FUSED hot path: decode, PSNR gate, phash->anchor, cell encode,
    PIP zone assignment and tile assignment all run inside ONE
    mapInArrow kernel, emitting per row a zone-id string (null when no
    polygon holds the point) plus four ints (tile x, y, gate flag and
    caption length in characters, both computed in the kernel); the
    plan is select -> mapInArrow -> one codegen'd two-phase hash
    aggregate (map-side partial + one tiny shuffle). Why fused, measured at 480k images
    when PIP still ran in a second Python stage (mapInArrow decode ->
    JVM anchor -> ArrowEvalPython PIP): TWO python worker pools and
    two Arrow round trips, whose framework cost was ~2x the actual
    numpy kernel cost. One python stage halves that and makes the job
    scan -> map -> 17 MB shuffle -> 3k rows, which is also exactly the
    shape that scales to 10^12 rows on a real cluster (map-only until
    a trivially small aggregate). Composing the JVM operators instead
    (pip_join plus the geo tile SQL, Python only decoding and gating)
    gives the same rows but is slower: per-call plan analysis and the
    JVM expressions cost more than the numpy work they replace.

    ``n_psnr_ok`` counts images passing the PSNR >= 40 dB gate, which
    every decodable image does (SSE <= 4*N, i.e. PSNR >= 42.1 dB); it
    equals ``n_images`` unless the gate code itself is wrong.

    The kernel shares its math with the ad-hoc operators
    (codec.decode_stacks, PolygonIndex/assign_zone_np, the *_np geo
    functions); tests check the rollup against a brute-force
    reference (nearest tower, DuckDB anchors and tiles) that uses
    neither PolygonIndex nor this kernel. The tower PolygonIndex is
    built once per process and ``pip_res`` (``_tower_index``) and
    rides in the kernel closure, so Spark ships it in the task binary
    and frees it with the job. ``images`` may be a stream: the plan is
    streaming-legal (a stateless kernel plus one aggregate whose key
    space is bounded by zones x tiles).
    """
    index = _tower_index(pip_res)

    out_schema = StructType(
        [
            StructField("zone_id", StringType()),
            StructField("x", LongType()),
            StructField("y", LongType()),
            StructField("psnr_ok", LongType()),
            StructField("caption_len", LongType()),
        ]
    )

    def kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        zone_ids = pa.array([str(p) for p in index.ids], type=pa.string())
        for rb in batches:
            ok = _decode_and_gate(rb).astype(np.int64)
            phash = rb.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            lat = geo.anchor_lat_np(phash)
            lon = geo.anchor_lon_np(phash)
            cells = geo.cell_id_np(lat, lon, index.res)
            pidx = spatial_join.assign_zone_np(index, cells, lat, lon)
            x, y = geo.tile_xyz_np(lat, lon, base_zoom)
            yield pa.RecordBatch.from_arrays(
                [
                    # null where no polygon holds the point
                    zone_ids.take(pa.array(pidx, mask=pidx < 0)),
                    pa.array(x, type=pa.int64()),
                    pa.array(y, type=pa.int64()),
                    pa.array(ok, type=pa.int64()),
                    # characters, as Spark's length() counts them
                    pc.utf8_length(rb.column(1)).cast(pa.int64()),
                ],
                names=["zone_id", "x", "y", "psnr_ok", "caption_len"],
            )

    return (
        images.select("phash", "caption", "bytes")
        .mapInArrow(kernel, schema=out_schema)
        .groupBy("zone_id", "x", "y")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum("psnr_ok").alias("n_psnr_ok"),
            F.sum("caption_len").alias("caption_bytes"),
        )
    )


def run_pipeline_resumable(
    spark: SparkSession,
    images_path: str,
    out_path: str,
    chunks: int = 8,
    max_chunks: int | None = None,
    base_zoom: int = 14,
    pip_res: int = 8,
) -> dict:
    """Input-side resumable form of run_pipeline: the image table's
    files are deterministically grouped into ``chunks`` chunks (file
    ``i`` of the sorted listing -> chunk ``i % chunks`` — the
    stand-in for "one chunk per Iceberg input partition"); each chunk
    runs the fused pipeline as its OWN action and commits its partial
    rollup under ``chunk=<i>/`` plus a manifest row (images, seconds,
    images/sec, per-chunk file-list lineage, app id). A killed job
    rerun skips every committed chunk — work lost is bounded by one
    chunk, and completed cells are never recomputed (the north rule's
    resume clause, input side; plans/checkpoint.write_partitioned is
    the output-side complement used by tools/submit_pipeline.py).

    Valid because the rollup's aggregates (count, two sums) are
    decomposable: re-aggregating per-chunk partials with
    ``resumable_result`` is exactly the single-shot rollup
    (pytest-pinned against run_pipeline). Reference parity: the
    operator rerunning per-day INSERT OVERWRITE jobs by hand
    (queries/cdr_and_mapping/insert_consolidate_cdr.sql:1-3), made
    engine-owned.

    ``max_chunks`` bounds how many chunks this invocation commits
    (tests use it to simulate a kill between chunk commits).
    Returns a summary dict; read the final aggregate with
    ``resumable_result``.
    """
    from .plans import checkpoint

    if chunks < 1:
        raise ValueError("chunks must be >= 1")
    files = sorted(spark.read.parquet(images_path).inputFiles())
    assign = {i: files[i::chunks] for i in range(chunks)}
    fps = {i: checkpoint.files_fingerprint(assign[i]) for i in assign}

    manifest = checkpoint.read_manifest(out_path)
    done: dict[str, dict] = {
        m["partition"]: m for m in manifest if m.get("status") == "committed"
    }
    if not done and os.path.isdir(out_path):
        # entries this pipeline's own interrupted first-chunk write
        # leaves behind (chunk dirs, Spark markers) are safe: the
        # rerun dynamic-overwrites them. Anything ELSE is foreign
        # data that resumable_result would silently sum in — refuse.
        own = (
            lambda e: e == checkpoint.MANIFEST_NAME
            or e.startswith("chunk=")
            or e.startswith("_")
            or e.startswith(".")
        )
        stray = [e for e in os.listdir(out_path) if not own(e)]
        if stray:
            raise ValueError(
                f"{out_path} holds data but no committed chunk manifest "
                f"(e.g. {stray[0]!r}) — resumable_result would sum stale "
                "files in with the chunk partials; use a fresh out_path "
                "or clear this one"
            )
    # Strict lineage: unlike write_partitioned (disjoint OUTPUT
    # partitions, where mixing vintages is a caller's judgment call),
    # chunks are INPUT slices that resumable_result SUMS across — any
    # misalignment (changed file list, different chunk count, a
    # manifest written by the non-chunked path) double-counts or
    # drops input, so there is no allow_lineage_change escape hatch
    # here: clear the output and rerun.
    committed_ids: dict[str, int] = {}
    for part in done:
        pref, _, idx = part.partition("=")
        # isdecimal, not isdigit: exactly the characters int() accepts
        if pref != "chunk" or not idx.isdecimal():
            raise ValueError(
                f"{out_path} holds a manifest partition {part!r} not "
                "written by the chunked pipeline (write_partitioned "
                "output?) — use a fresh out_path"
            )
        committed_ids[part] = int(idx)
    # layout check FIRST (most informative): a committed chunk id past
    # the requested count means the chunk COUNT changed, whatever the
    # per-chunk lineage says
    for part, i in committed_ids.items():
        if i >= chunks:
            raise ValueError(
                f"{part} was committed with a different chunk count "
                f"(>= the requested {chunks}); rerun with the original "
                "chunk count, or clear the output to re-chunk"
            )
    for part, i in committed_ids.items():
        if done[part].get("lineage") != fps[i]:
            raise ValueError(
                f"{part} was committed from different input files "
                f"({done[part].get('lineage')} != {fps[i]}); the "
                "chunking is no longer aligned — clear the output and "
                "rerun (a partial mix would double-count or drop input)"
            )

    todo = [i for i in range(chunks) if f"chunk={i}" not in done]
    summary = {
        "chunks": chunks,
        "written": 0,
        "skipped": chunks - len(todo),
        "images": 0,
        "seconds": 0.0,
        "partitions": [],
    }
    app_id = spark.sparkContext.applicationId
    import time

    # dynamic overwrite: rewriting chunk=<i> must not clobber other
    # committed chunk directories under a vanilla session — set for
    # the duration of the writes only, then restore (a blanket
    # session mutation would silently change unrelated overwrites)
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(conf_key, "static")
    spark.conf.set(conf_key, "dynamic")
    try:
        for i in todo:
            if max_chunks is not None and summary["written"] >= max_chunks:
                break
            t0 = time.time()
            n_images = 0
            if assign[i]:
                part = run_pipeline(
                    spark,
                    spark.read.parquet(*assign[i]),
                    base_zoom,
                    pip_res,
                ).withColumn("chunk", F.lit(i))
                part.write.mode("overwrite").partitionBy("chunk").parquet(
                    out_path
                )
                # per-chunk metric from the tiny committed rollup, not
                # a second pass over the input
                n_images = (
                    spark.read.parquet(f"{out_path}/chunk={i}")
                    .agg(F.sum("n_images"))
                    .collect()[0][0]
                    or 0
                )
            elapsed = time.time() - t0
            checkpoint.append_manifest(
                out_path,
                [
                    checkpoint.make_commit_record(
                        f"chunk={i}",
                        int(n_images),
                        elapsed,
                        fps[i],
                        app_id,
                        n_files=len(assign[i]),
                    )
                ],
            )
            summary["written"] += 1
            summary["images"] += int(n_images)
            summary["seconds"] = round(summary["seconds"] + elapsed, 3)
            summary["partitions"].append(f"chunk={i}")
    finally:
        spark.conf.set(conf_key, prior)
    return summary


def resumable_result(spark: SparkSession, out_path: str) -> DataFrame:
    """Re-aggregate the per-chunk partial rollups into the exact
    single-shot run_pipeline result (count/sum are decomposable)."""
    return (
        spark.read.parquet(out_path)
        .groupBy("zone_id", "x", "y")
        .agg(
            F.sum("n_images").alias("n_images"),
            F.sum("n_psnr_ok").alias("n_psnr_ok"),
            F.sum("caption_bytes").alias("caption_bytes"),
        )
    )

