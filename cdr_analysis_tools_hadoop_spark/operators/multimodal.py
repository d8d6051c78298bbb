"""Multimodal (image/audio/video) column plumbing over binary columns.

BASELINE.json input_hint: images travel as opaque `binary` columns
with typed metadata (w, h, fmt). Real decode libraries are absent in
this environment, so:

- the engine's own numpy codecs (functions/codec.py) are REAL and
  fully exercised (decode, validate, re-encode, quantize);
- external formats (JPEG/WEBP/H264) raise NotImplementedError inside
  the same kernels — the Spark-side plumbing (schema, Arrow batching,
  partitioning) is identical and is what's tested.

All kernels are ``mapInArrow`` with zero-copy blob access — the
binary column is read by slicing the Arrow data buffer through its
offsets (one memoryview per batch, no per-row Python ``bytes``
copies, no pandas block consolidation) and passthrough columns reuse
the incoming Arrow buffers unchanged. This is the same pattern as the
fused benchmark kernel (pipeline.run_pipeline), applied to the
secondary multimodal paths.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, BooleanType, DoubleType, IntegerType, LongType,
    StringType, StructField, StructType,
)

from ..functions import codec


def decode_features(images: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """Decode every blob and emit per-image features:
    mean luma, pixel phash (average-hash), PSNR of a qnt4 re-encode
    round-trip, and the >=40dB validity flag.

    ``keep``: extra input columns carried through the Arrow batch
    untouched (zero copy — same buffers in, same buffers out), so a
    fused downstream stage (e.g. image_caption_curation) gets decode
    features AND the payload columns from ONE scan + ONE Python pass
    instead of a corpus×corpus rejoin.

    Its PSNR gate is the benchmark rollup's (codec.qnt4_sse)."""
    out_schema = StructType(
        [
            StructField("image_id", images.schema["image_id"].dataType),
            StructField("phash", LongType()),
            StructField("pixel_phash", LongType()),
            StructField("pixel_dhash", LongType()),
            StructField("mean_luma", DoubleType()),
            StructField("qnt4_psnr", DoubleType()),
            StructField("psnr_ok", BooleanType()),
            *[StructField(c, images.schema[c].dataType) for c in keep],
        ]
    )
    narrow = images.select("image_id", "phash", "bytes", *keep)

    def kernel(batches):
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            ml = np.empty(n)
            ps = np.empty(n)
            pph = np.empty(n, dtype=np.int64)
            pdh = np.empty(n, dtype=np.int64)
            for idxs, stack in codec.decode_stacks(rb):
                k, h, w, c = stack.shape
                csum = stack.sum(axis=(1, 2), dtype=np.int64)
                ml[idxs] = (csum @ codec.luma_weights(c)) / (h * w)
                sse = codec.qnt4_sse(stack)
                npix = float(h * w * c)
                with np.errstate(divide="ignore"):
                    ps[idxs] = np.minimum(
                        10.0 * np.log10(255.0**2 * npix / sse), 1e9
                    )
                for i, pix in zip(idxs, stack):
                    pph[i] = codec.phash_ahash(pix)
                    pdh[i] = codec.dhash(pix)
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(0),  # image_id: same Arrow buffer, zero copy
                    rb.column(1),  # phash
                    pa.array(pph, type=pa.int64()),
                    pa.array(pdh, type=pa.int64()),
                    pa.array(ml, type=pa.float64()),
                    pa.array(ps, type=pa.float64()),
                    pa.array(ps >= 40.0, type=pa.bool_()),
                    # keep columns: same Arrow buffers, zero copy
                    *[rb.column(3 + i) for i in range(len(keep))],
                ],
                names=[
                    "image_id", "phash", "pixel_phash", "pixel_dhash",
                    "mean_luma", "qnt4_psnr", "psnr_ok", *keep,
                ],
            )

    return narrow.mapInArrow(kernel, schema=out_schema)


def transcode(images: DataFrame, to_fmt: str = "qnt4") -> DataFrame:
    """Re-encode blobs to another engine codec (resize path for qz2)."""
    enc = {
        "rawz": codec.encode_rawz,
        "pngl": codec.encode_pngl,
        "qnt4": codec.encode_qnt4,
        "qz2": codec.encode_qz2,
    }[to_fmt]
    schema = StructType(
        [
            StructField("image_id", images.schema["image_id"].dataType),
            StructField("bytes", BinaryType()),
            StructField("fmt", images.schema["fmt"].dataType),
        ]
    )

    def kernel(batches):
        import pyarrow as pa

        for rb in batches:
            blobs = [enc(codec.decode(v)) for v in codec.blob_views(rb)]
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(0),  # image_id passthrough, zero copy
                    pa.array(blobs, type=pa.binary()),
                    pa.array([to_fmt] * len(blobs), type=pa.string()),
                ],
                names=["image_id", "bytes", "fmt"],
            )

    return images.select("image_id", "bytes").mapInArrow(kernel, schema=schema)


def frame_sample(videos: DataFrame, every_n: int = 30) -> DataFrame:
    """Sample every ``every_n``-th frame of each clip (plus the last
    frame, keyframe-style) and emit one row PER SAMPLED FRAME with the
    frame re-encoded as a rawz still — the standard video -> image
    corpus expansion step before image-side dedup/filtering.

    Real decode for the engine ``vidz`` codec; external formats
    (H264/VP9/AV1) raise NotImplementedError inside the same kernel.
    mapInArrow output cardinality is per-frame, not per-row — each
    input batch explodes into its sampled frames with video_id
    repeated, so the operator stays map-only (no join, no shuffle) and
    scales with input partitioning."""
    out_schema = StructType(
        [
            StructField("video_id", videos.schema["video_id"].dataType),
            StructField("frame_idx", IntegerType()),
            StructField("w", IntegerType()),
            StructField("h", IntegerType()),
            StructField("bytes", BinaryType()),
        ]
    )

    def kernel(batches):
        import pyarrow as pa

        for rb in batches:
            vids = rb.column(0).to_pylist()
            out_ids: list = []
            idxs: list = []
            ws: list = []
            hs: list = []
            blobs: list = []
            for vid, blob in zip(vids, codec.blob_views(rb)):
                frames, _fps = codec.decode_video(blob)
                n, h, w, _c = frames.shape
                if n == 0:  # degenerate zero-frame clip: nothing to emit
                    continue
                picks = list(range(0, n, every_n))
                if picks[-1] != n - 1:
                    picks.append(n - 1)
                for fi in picks:
                    out_ids.append(vid)
                    idxs.append(fi)
                    ws.append(w)
                    hs.append(h)
                    blobs.append(codec.encode_rawz(frames[fi]))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_ids, type=rb.schema.field(0).type),
                    pa.array(idxs, type=pa.int32()),
                    pa.array(ws, type=pa.int32()),
                    pa.array(hs, type=pa.int32()),
                    pa.array(blobs, type=pa.binary()),
                ],
                names=["video_id", "frame_idx", "w", "h", "bytes"],
            )

    return videos.select("video_id", "bytes").mapInArrow(
        kernel, schema=out_schema
    )


def video_features(videos: DataFrame) -> DataFrame:
    """Decode every clip and emit per-clip features: duration, frame
    count, mean luma, and a motion score (mean absolute temporal
    difference per frame pair) — the filter signals of a video
    training-data sweep (drop static/black/degenerate clips)."""
    out_schema = StructType(
        [
            StructField("video_id", videos.schema["video_id"].dataType),
            StructField("n_frames", IntegerType()),
            StructField("fps", IntegerType()),
            StructField("w", IntegerType()),
            StructField("h", IntegerType()),
            StructField("duration_s", DoubleType()),
            StructField("mean_luma", DoubleType()),
            StructField("motion", DoubleType()),
        ]
    )

    def kernel(batches):
        import pyarrow as pa

        for rb in batches:
            decoded = [codec.decode_video(v) for v in codec.blob_views(rb)]
            k = len(decoded)
            nf = np.empty(k, dtype=np.int32)
            fpss = np.empty(k, dtype=np.int32)
            ws = np.empty(k, dtype=np.int32)
            hs = np.empty(k, dtype=np.int32)
            dur = np.empty(k)
            ml = np.empty(k)
            mo = np.empty(k)
            for i, (frames, fps) in enumerate(decoded):
                n, h, w, c = frames.shape
                nf[i], fpss[i], ws[i], hs[i] = n, fps, w, h
                # degenerate-clip guards (frame_sample's contract): a
                # zero-frame or zero-fps blob is VALID per the codec
                # header, so it must yield zeros, not ZeroDivisionError
                dur[i] = n / fps if fps > 0 else 0.0
                if n * h * w == 0:
                    ml[i] = 0.0
                else:
                    csum = frames.sum(axis=(0, 1, 2), dtype=np.int64)
                    ml[i] = float(csum @ codec.luma_weights(c)) / (n * h * w)
                if n > 1:
                    d = np.abs(
                        frames[1:].astype(np.int16) - frames[:-1]
                    )
                    mo[i] = float(d.mean())
                else:
                    mo[i] = 0.0
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(0),  # video_id passthrough, zero copy
                    pa.array(nf, type=pa.int32()),
                    pa.array(fpss, type=pa.int32()),
                    pa.array(ws, type=pa.int32()),
                    pa.array(hs, type=pa.int32()),
                    pa.array(dur, type=pa.float64()),
                    pa.array(ml, type=pa.float64()),
                    pa.array(mo, type=pa.float64()),
                ],
                names=[
                    "video_id", "n_frames", "fps", "w", "h",
                    "duration_s", "mean_luma", "motion",
                ],
            )

    return videos.select("video_id", "bytes").mapInArrow(
        kernel, schema=out_schema
    )


def audio_features(audios: DataFrame) -> DataFrame:
    """Decode every audio blob and emit per-clip features: duration,
    RMS level (dBFS), peak, zero-crossing rate, and clip ratio — the
    standard quality/filter signals of an audio training-data sweep
    (drop silent, clipped, or degenerate clips).

    Same zero-copy mapInArrow shape as decode_features; clips are
    variable-length so the numpy work is per clip (each clip is
    thousands of samples — the loop is over rows, the math vectorized
    within a clip)."""
    out_schema = StructType(
        [
            StructField("audio_id", audios.schema["audio_id"].dataType),
            StructField("sr", IntegerType()),
            StructField("n_samples", LongType()),
            StructField("channels", IntegerType()),
            StructField("duration_s", DoubleType()),
            StructField("rms_dbfs", DoubleType()),
            StructField("peak", IntegerType()),
            StructField("zcr_hz", DoubleType()),
            StructField("clip_ratio", DoubleType()),
        ]
    )
    narrow = audios.select("audio_id", "bytes")

    def kernel(batches):
        import pyarrow as pa

        for rb in batches:
            decoded = [codec.decode_audio(v) for v in codec.blob_views(rb)]
            k = len(decoded)
            srs = np.empty(k, dtype=np.int32)
            ns = np.empty(k, dtype=np.int64)
            chs = np.empty(k, dtype=np.int32)
            dur = np.empty(k)
            rms = np.empty(k)
            peak = np.empty(k, dtype=np.int32)
            zcr = np.empty(k)
            clip = np.empty(k)
            for i, (pcm, sr) in enumerate(decoded):
                n, ch = pcm.shape
                srs[i], ns[i], chs[i] = sr, n, ch
                # a zero-sample clip is a VALID pcmz blob (n is a u32
                # header field): silence-like zeros, never a numpy
                # empty-reduction crash
                if n == 0:
                    dur[i], rms[i] = 0.0, -np.inf
                    peak[i], zcr[i], clip[i] = 0, 0.0, 0.0
                    continue
                x = pcm.astype(np.float64)
                dur[i] = n / sr if sr > 0 else 0.0
                ms = float(np.mean(x * x))
                rms[i] = (
                    10.0 * np.log10(ms / (32768.0**2)) if ms > 0 else -np.inf
                )
                # int32 first: np.abs(-32768) overflows int16
                peak[i] = int(np.max(np.abs(pcm.astype(np.int32))))
                # sign changes per second, averaged over channels
                sgn = np.signbit(pcm)
                zcr[i] = float(np.mean(sgn[1:] != sgn[:-1])) * sr
                clip[i] = float(np.mean((pcm >= 32767) | (pcm <= -32768)))
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(0),  # audio_id passthrough, zero copy
                    pa.array(srs, type=pa.int32()),
                    pa.array(ns, type=pa.int64()),
                    pa.array(chs, type=pa.int32()),
                    pa.array(dur, type=pa.float64()),
                    pa.array(rms, type=pa.float64()),
                    pa.array(peak, type=pa.int32()),
                    pa.array(zcr, type=pa.float64()),
                    pa.array(clip, type=pa.float64()),
                ],
                names=[
                    "audio_id", "sr", "n_samples", "channels", "duration_s",
                    "rms_dbfs", "peak", "zcr_hz", "clip_ratio",
                ],
            )

    return narrow.mapInArrow(kernel, schema=out_schema)


def audio_resample(audios: DataFrame, to_sr: int = 8_000) -> DataFrame:
    """Linear-interpolation resample + pcmz re-encode — the
    rate-normalization step before batching clips for training.
    Real math for the engine codec; external formats raise
    NotImplementedError inside the same kernel (decode_audio)."""
    schema = StructType(
        [
            StructField("audio_id", audios.schema["audio_id"].dataType),
            StructField("sr", IntegerType()),
            StructField("n_samples", LongType()),
            StructField("bytes", BinaryType()),
        ]
    )

    def kernel(batches):
        import pyarrow as pa

        for rb in batches:
            decoded = [codec.decode_audio(v) for v in codec.blob_views(rb)]
            ns: list = []
            blobs: list = []
            for pcm, sr in decoded:
                n, ch = pcm.shape
                if n == 0 or sr <= 0:
                    # empty (or rate-less) clip: resample to the empty
                    # clip at the target rate instead of indexing into
                    # a zero-length PCM array
                    ns.append(0)
                    blobs.append(
                        codec.encode_pcmz(
                            np.zeros((0, ch), dtype=np.int16), to_sr
                        )
                    )
                    continue
                n2 = max(1, int(round(n * to_sr / sr)))
                pos = np.arange(n2, dtype=np.float64) * (sr / to_sr)
                i0 = np.minimum(pos.astype(np.int64), n - 1)
                i1 = np.minimum(i0 + 1, n - 1)
                frac = (pos - i0)[:, None]
                x = pcm.astype(np.float64)
                y = x[i0] * (1.0 - frac) + x[i1] * frac
                out = np.clip(np.rint(y), -32768, 32767).astype(np.int16)
                ns.append(n2)
                blobs.append(codec.encode_pcmz(out, to_sr))
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(0),  # audio_id passthrough, zero copy
                    pa.array([to_sr] * len(blobs), type=pa.int32()),
                    pa.array(ns, type=pa.int64()),
                    pa.array(blobs, type=pa.binary()),
                ],
                names=["audio_id", "sr", "n_samples", "bytes"],
            )

    return audios.select("audio_id", "bytes").mapInArrow(kernel, schema=schema)


def resize_box(images: DataFrame, factor: int = 2) -> DataFrame:
    """Thumbnail generation: decode, box-average downsample by
    ``factor``, re-encode (rawz). Real pixel math end-to-end — the
    standard pre-training resize step, downsampled one shape-stack at
    a time (one reshape+mean per distinct (h, w), not per image)."""
    schema = StructType(
        [
            StructField("image_id", images.schema["image_id"].dataType),
            StructField("w", IntegerType()),
            StructField("h", IntegerType()),
            StructField("bytes", BinaryType()),
        ]
    )

    def kernel(batches):
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            ws = np.empty(n, dtype=np.int32)
            hs = np.empty(n, dtype=np.int32)
            blobs: list = [None] * n
            for idxs, stack in codec.decode_stacks(rb):
                k, h, w, c = stack.shape
                h2, w2 = (h // factor) * factor, (w // factor) * factor
                small = (
                    stack[:, :h2, :w2]
                    .reshape(k, h2 // factor, factor, w2 // factor, factor, c)
                    .mean(axis=(2, 4))
                    .astype(np.uint8)
                )
                hs[idxs] = small.shape[1]
                ws[idxs] = small.shape[2]
                for j, i in enumerate(idxs):
                    blobs[i] = codec.encode_rawz(small[j])
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(0),  # image_id passthrough, zero copy
                    pa.array(ws, type=pa.int32()),
                    pa.array(hs, type=pa.int32()),
                    pa.array(blobs, type=pa.binary()),
                ],
                names=["image_id", "w", "h", "bytes"],
            )

    return images.select("image_id", "bytes").mapInArrow(kernel, schema=schema)


#: lossless augmentation ops: name -> pixel transform (H, W, C) -> (H', W', C)
AUGMENT_OPS = ("flip_h", "flip_v", "rot90", "rot180", "crop_c")


def augment(
    images: DataFrame, ops: tuple[str, ...] = AUGMENT_OPS, crop_frac: int = 2
) -> DataFrame:
    """Training-data augmentation pass: one output row per
    (image, op) with the transformed pixels re-encoded (rawz).

    Ops are exact integer-pixel transforms (no resampling):
    horizontal/vertical mirror, 90/180-degree rotation, centered
    crop to 1/``crop_frac`` of each side. Map-only mapInArrow, one
    decode per source image shared across all ops (the fan-out
    happens on the decoded array, not on the blob), zero-copy blob
    reads — the k-fold row expansion every vision pre-training
    pipeline applies, with involution/composition laws pytest-pinned
    (flip twice == identity, rot90 x4 == identity).

    Output: (image_id, op, w, h, bytes).
    """
    unknown = set(ops) - set(AUGMENT_OPS)
    if unknown:
        raise ValueError(f"unknown augment ops: {sorted(unknown)}")
    schema = StructType(
        [
            StructField("image_id", images.schema["image_id"].dataType),
            StructField("op", StringType()),
            StructField("w", IntegerType()),
            StructField("h", IntegerType()),
            StructField("bytes", BinaryType()),
        ]
    )
    op_list = list(ops)

    def kernel(batches):
        import pyarrow as pa

        def apply(pix, op):
            if op == "flip_h":
                return pix[:, ::-1]
            if op == "flip_v":
                return pix[::-1]
            if op == "rot90":
                return np.rot90(pix)
            if op == "rot180":
                return pix[::-1, ::-1]
            h, w = pix.shape[:2]
            ch, cw = max(1, h // crop_frac), max(1, w // crop_frac)
            y0, x0 = (h - ch) // 2, (w - cw) // 2
            return pix[y0 : y0 + ch, x0 : x0 + cw]

        for rb in batches:
            ids_out, ops_out, ws, hs, blobs = [], [], [], [], []
            id_col = rb.column(0)
            for i, v in enumerate(codec.blob_views(rb)):
                pix = codec.decode(v)
                iid = id_col[i].as_py()
                for op in op_list:
                    out = np.ascontiguousarray(apply(pix, op))
                    ids_out.append(iid)
                    ops_out.append(op)
                    hs.append(out.shape[0])
                    ws.append(out.shape[1])
                    blobs.append(codec.encode_rawz(out))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids_out, type=id_col.type),
                    pa.array(ops_out, type=pa.string()),
                    pa.array(ws, type=pa.int32()),
                    pa.array(hs, type=pa.int32()),
                    pa.array(blobs, type=pa.binary()),
                ],
                names=["image_id", "op", "w", "h", "bytes"],
            )

    return images.select("image_id", "bytes").mapInArrow(kernel, schema=schema)


# ---------------------------------------------------------------------------
# Perceptual near-duplicate detection (image + video)


def image_near_dup(
    images: DataFrame,
    max_hamming: int = 6,
    n_hint: int | None = None,
    max_bucket: int | None = None,
    mode: str = "auto",
    wide: bool = False,
) -> DataFrame:
    """Near-duplicate image pairs by pixel perceptual hash.

    decode_features computes the 64-bit average-hash inside its fused
    Arrow kernel (one map-only decode pass); candidate generation and
    verification are the EXACT pigeonhole Hamming banding of
    similarity.hamming_near_dup — an equi-join on (combo, key), never
    all-pairs, with bit_count verification. Pass ``n_hint`` at scale
    so the combination banding keeps bucket occupancy O(1). The
    standard image-corpus dedup sweep: re-encodes, slight
    crops/jitter, and recolor variants land within a few hash bits of
    each other.

    ``wide=True`` is the 100 TB / beyond-10^7-image form (r4 verdict
    item 2): the fingerprint becomes the 128-bit pair
    (pixel_phash ‖ pixel_dhash), both computed in the SAME fused
    decode pass, and the distance is the summed two-word popcount. At
    64 bits the banding caps pin composite keys at ~21 bits for
    d<=6, so candidates grow ~N^2/2^21 past ~10^7 images; the wide
    fingerprint restores ~log2(N) key bits and LINEAR candidates (see
    similarity.hamming_near_dup). Semantics note: 128-bit d<=6 is a
    stricter match criterion than 64-bit d<=6 — it is the intended
    production setting, not a drop-in equivalence.
    """
    from . import similarity

    cols = ["image_id", "pixel_phash"] + (["pixel_dhash"] if wide else [])
    feats = decode_features(images).select(*cols)
    return similarity.hamming_near_dup(
        feats, "image_id", "pixel_phash", max_hamming,
        n_hint=n_hint, max_bucket=max_bucket, mode=mode,
        hash_col2="pixel_dhash" if wide else None,
    )


#: default co-location radius for the spatially-constrained image dedup
IMAGE_GEO_NEAR_DUP_RADIUS_M = 50_000.0


def image_geo_near_dup(
    images: DataFrame,
    max_hamming: int = 6,
    radius_m: float = IMAGE_GEO_NEAR_DUP_RADIUS_M,
    n_hint: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Co-located near-duplicate image pairs: perceptual-hash Hamming
    radius AND anchor points within ``radius_m`` — the geotagged-crawl
    dedup rule (collapse re-encodes/crops only when shot in the same
    area, so distinct landmarks sharing a flat hash never merge).

    One fused Arrow decode pass computes the 64-bit average-hash
    (decode_features); each image is geotagged at its deterministic
    anchor point (the phash-role anchor convention shared with
    prepare.events_as_cdr, derived from the numeric image id); then
    similarity.spatial_hamming_near_dup joins on the composite
    (shifted-grid spatial block x pigeonhole band) key — EXACT on both
    predicates, never all-pairs, and immune to the degenerate
    flat-hash cluster unless it is also co-located.

    Output: (id_a, id_b, hamming, dist_m), id_a < id_b.
    """
    from ..functions import geo
    from . import similarity

    num_id = "cast(substring(image_id, 4) as bigint)"
    pts = decode_features(images).select(
        "image_id",
        "pixel_phash",
        F.expr(geo.anchor_lat_sql(num_id)).alias("lat"),
        F.expr(geo.anchor_lon_sql(num_id)).alias("lon"),
    )
    return similarity.spatial_hamming_near_dup(
        pts,
        "image_id",
        "pixel_phash",
        "lat",
        "lon",
        max_hamming=max_hamming,
        radius_m=radius_m,
        n_hint=n_hint,
        max_bucket=max_bucket,
    )


def video_signature(videos: DataFrame, slots: int = 8) -> DataFrame:
    """Per-clip fingerprint: the average-hash of ``slots`` uniformly
    spaced frames (first and last always included), as array<long>.
    Map-only; clips shorter than ``slots`` repeat boundary frames so
    every signature is slot-aligned."""
    out_schema = StructType(
        [
            StructField("video_id", videos.schema["video_id"].dataType),
            StructField("sig", ArrayType(LongType())),
        ]
    )

    def kernel(batches):
        import pyarrow as pa

        for rb in batches:
            sigs = []
            for blob in codec.blob_views(rb):
                frames, _fps = codec.decode_video(blob)
                n = frames.shape[0]
                if n == 0:
                    # zero-frame clip (valid vidz header): a
                    # deterministic all-zero signature, not an
                    # IndexError into the empty frame array
                    sigs.append([0] * slots)
                    continue
                idx = np.round(np.linspace(0, n - 1, slots)).astype(int)
                sigs.append([codec.phash_ahash(frames[i]) for i in idx])
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(0),  # video_id passthrough, zero copy
                    pa.array(sigs, type=pa.list_(pa.int64())),
                ],
                names=["video_id", "sig"],
            )

    return videos.select("video_id", "bytes").mapInArrow(
        kernel, schema=out_schema
    )


def video_near_dup(
    videos: DataFrame,
    slots: int = 8,
    max_hamming: int = 6,
    max_avg_hamming: float = 4.0,
    n_hint: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate clip pairs by slot-aligned frame fingerprints.

    Candidates: two clips collide if ANY aligned slot's frame hashes
    are within ``max_hamming`` bits — pigeonhole banding per (slot,
    combo, key), an equi-join, never all-pairs (recall is exact at
    the slot level: a true near-dup pair has every slot within a few
    bits); ``n_hint`` widens the combination keys at scale exactly as
    in similarity.hamming_near_dup. Verify: mean slot-wise Hamming
    distance over the full signatures <= ``max_avg_hamming``.

    The signature frame is localCheckpoint-ed because three lineages
    consume it (band explode + both verify sides) — the same
    materialize-once pattern as the MinHash shingle table (dedup.py).
    The verify join-backs keep the band shuffle narrow (id pairs
    only) instead of dragging signatures through the explode.
    """
    from .similarity import _hamming_key_structs, hamming_banding

    if max_avg_hamming > max_hamming:
        # a pair with avg slot distance a has SOME slot <= a, so
        # avg <= max_hamming guarantees a candidate key (exact
        # recall); a larger avg threshold would accept pairs the
        # candidate stage can silently miss
        raise ValueError(
            "max_avg_hamming must be <= max_hamming "
            f"({max_avg_hamming} > {max_hamming}): verified pairs could "
            "fall outside the candidate guarantee"
        )
    sig = video_signature(videos, slots).localCheckpoint()
    band_arr = _hamming_key_structs(
        "frame_hash", *hamming_banding(max_hamming, n_hint)
    )
    bands = (
        sig.select("video_id", F.posexplode("sig").alias("slot", "frame_hash"))
        .select("video_id", "slot", F.explode(band_arr).alias("bk"))
        .select("video_id", "slot", "bk.band", "bk.key")
    )
    if max_bucket:
        # degenerate-hash guard, same shape as hamming_near_dup (e.g.
        # black frames: every clip's slot hashes collide)
        hot = (
            bands.groupBy("slot", "band", "key")
            .count()
            .filter(F.col("count") > max_bucket)
            .select("slot", "band", "key")
        )
        bands = bands.join(
            F.broadcast(hot), ["slot", "band", "key"], "left_anti"
        )
    # merge hint for the same reason as similarity.hamming_near_dup:
    # synthetic/mapInArrow lineage under-estimates the exploded band
    # table (static broadcast would OOM) and a shuffled-hash build
    # map is unspillable — sort-merge survives any size
    a, b = bands.alias("a"), bands.hint("merge").alias("b")
    cand = (
        a.join(b, ["slot", "band", "key"])
        .filter(F.col("a.video_id") < F.col("b.video_id"))
        .select(
            F.col("a.video_id").alias("id_a"),
            F.col("b.video_id").alias("id_b"),
        )
        .distinct()
    )
    sa = sig.select(F.col("video_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("video_id").alias("id_b"), F.col("sig").alias("sig_b"))
    avg = (
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> bit_count(x ^ y)), "
        f"0, (acc, v) -> acc + v) / {slots}"
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("avg_hamming", F.expr(avg))
        .filter(F.col("avg_hamming") <= max_avg_hamming)
        .select("id_a", "id_b", "avg_hamming")
    )


# ---------------------------------------------------------------------------
# Audio perceptual fingerprint + near-dup


def _audio_fingerprint(samples: np.ndarray, sr: int) -> int:
    """64-bit spectral fingerprint: energies in 65 log-spaced
    PHYSICAL-Hz bands (100 Hz .. 5.5 kHz — telephone-plus band, below
    the Nyquist of any >=12 kHz master), one bit per adjacent-band
    energy comparison (the frequency-delta half of the
    Haitsma-Kalker audio fingerprint, reduced to one hash per clip).
    Rank-based bits are exactly gain-invariant, and Hz-anchored bands
    make the hash invariant to resampling — the two transforms an
    audio dedup sweep must see through."""
    if samples.shape[0] == 0:
        # zero-sample clip: deterministic all-zero fingerprint
        # (np.fft.rfft raises on zero FFT points)
        return 0
    mono = samples.astype(np.float64).mean(axis=1)
    spec = np.abs(np.fft.rfft(mono)) ** 2
    freqs = np.fft.rfftfreq(len(mono), d=1.0 / sr)
    edges = np.geomspace(100.0, 5_500.0, 66)
    idx = np.searchsorted(freqs, edges)
    e = np.array(
        [
            spec[idx[i] : max(idx[i + 1], idx[i] + 1)].sum()
            / max(idx[i + 1] - idx[i], 1)
            for i in range(65)
        ]
    )
    # relative noise floor: bands with no real content clamp to the
    # SAME value so their comparison bits are a stable False instead
    # of following FFT leakage (which changes with resample length);
    # measured: dup-pair distance 28 bits -> 0.7 bits at 1e-3
    e = np.maximum(e, 1e-3 * e.max())
    bits = e[1:] > e[:-1]
    h = 0
    for i, b in enumerate(bits):
        if b:
            h |= 1 << i
    return h - (1 << 64) if h >= 1 << 63 else h


def audio_signature(audios: DataFrame) -> DataFrame:
    """Map-only per-clip 64-bit spectral fingerprint (see
    _audio_fingerprint)."""
    out_schema = StructType(
        [
            StructField("audio_id", audios.schema["audio_id"].dataType),
            StructField("fingerprint", LongType()),
        ]
    )

    def kernel(batches):
        import pyarrow as pa

        for rb in batches:
            fps = np.empty(len(rb), dtype=np.int64)
            for i, blob in enumerate(codec.blob_views(rb)):
                samples, sr = codec.decode_audio(blob)
                fps[i] = _audio_fingerprint(samples, sr)
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), pa.array(fps, type=pa.int64())],
                names=["audio_id", "fingerprint"],
            )

    return audios.select("audio_id", "bytes").mapInArrow(
        kernel, schema=out_schema
    )


def audio_near_dup(
    audios: DataFrame,
    max_hamming: int = 2,
    n_hint: int | None = None,
    max_bucket: int | None = None,
    mode: str = "auto",
) -> DataFrame:
    """Near-duplicate clip pairs by spectral fingerprint — gain- and
    resample-robust by construction of the hash; candidates + verify
    are the exact combination-banded Hamming join
    (similarity.hamming_near_dup). The default radius is tighter than
    the pixel hashes': re-masters land within ~1 fingerprint bit
    (measured), while 64 floor-clamped band-delta bits carry less
    entropy than a pixel average-hash, so wide radii over-connect.
    Completes the per-modality dedup suite: text (MinHash),
    embeddings (sign-LSH), image/video (average-hash), audio
    (spectral hash)."""
    from . import similarity

    sig = audio_signature(audios)
    return similarity.hamming_near_dup(
        sig, "audio_id", "fingerprint", max_hamming,
        n_hint=n_hint, max_bucket=max_bucket, mode=mode,
    )


# ---------------------------------------------------------------------------
# Duplicate-image clusters (curation verdict over the pair graph)


def image_dup_clusters(
    images: DataFrame,
    max_hamming: int = 6,
    n_hint: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Duplicate-image CLUSTERS: connected components over the
    perceptual near-dup pair graph, labeling every image with the
    smallest image_id in its component — the curation verdict an
    image-corpus pipeline applies (keep the representative, drop the
    re-encodes/jitter variants that chain through it).

    Pairwise near-dup alone under-drops: if A~B and B~C but A!~C,
    pair-level keep-lowest keeps A and C even though they are the
    same underlying image two hops apart. Components close the
    chain. Reuses dedup.dedup_clusters (alternating-star edge
    rewrite, Kiveris et al. SoCC'14, O(log^2 n) rounds, raises on
    non-convergence) over image_near_dup's exact Hamming pairs.

    Output: (image_id, cluster_id, is_representative). Rows-only in
    the driver contract (pixel hashing + the iterative CC are not
    SQL-expressible); exactness is pytest-certified against an
    in-test union-find over the same pair graph, plus seeded-corpus
    recall. Scale: inherits the near-dup join's banded-equi-join
    shape and the CC's per-round key-partitioned shuffles — both
    already measured at 10x (BENCH/SF1.md).
    """
    from . import dedup as dedup_mod

    pairs = image_near_dup(
        images, max_hamming, n_hint=n_hint, max_bucket=max_bucket
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    docs = images.select(F.col("image_id").alias("doc_id"))
    return dedup_mod.dedup_clusters(docs, pairs=pairs).select(
        F.col("doc_id").alias("image_id"), "cluster_id", "is_representative"
    )


# ---------------------------------------------------------------------------
# Fused image+caption curation verdict (multimodal corpus_curation)


CAPTION_CURATION_MIN_QUALITY = 700


def image_caption_curation(
    images: DataFrame, min_quality: int = CAPTION_CURATION_MIN_QUALITY
) -> DataFrame:
    """One-pass keep/drop verdict over image+caption pairs — the
    multimodal twin of textops.corpus_curation: decode-validate the
    image (PSNR gate), score the caption, flag exact perceptual
    duplicates, emit the verdict.

    quality_millis (integer, engine-portable): 400 if the caption has
    4..64 whitespace tokens, + floor(type_token_ratio * 300), + 300
    if the decoded image round-trips at >=40 dB. is_exact_dup: a
    lower image_id exists with the IDENTICAL pixel average-hash
    (radius-0 twin of image_near_dup; near-dup curation is
    image_dup_clusters' job). keep = representative AND quality_millis
    >= min_quality.

    Plan: ONE scan -> ONE fused Arrow pass (decode + phash with the
    caption carried through zero-copy) -> codegen caption projection
    -> one window shuffle on pixel_phash (the same text_hash
    dup-rank shape corpus_curation uses; exact-hash groups are small
    on real corpora — the synthetic generator's saturation is a data
    property, see BENCH/SF1.md). No corpus×corpus join anywhere.
    """
    feats = decode_features(images, keep=("caption",))
    tok = "split(caption, ' ')"
    base = feats.select(
        "image_id",
        "pixel_phash",
        "psnr_ok",
        F.expr(f"size({tok})").cast("long").alias("n_tokens"),
        F.expr(
            f"round(size(array_distinct({tok})) / size({tok}), 6)"
        ).alias("ttr"),
    )
    q = base.withColumn(
        "quality_millis",
        F.expr(
            "cast((case when n_tokens between 4 and 64 then 400 else 0 end)"
            " + floor(ttr * 300)"
            " + (case when psnr_ok then 300 else 0 end) as bigint)"
        ),
    )
    w = Window.partitionBy("pixel_phash").orderBy("image_id")
    return (
        q.withColumn("dup_rank", F.row_number().over(w))
        .select(
            "image_id",
            "n_tokens",
            "quality_millis",
            (F.col("dup_rank") > 1).alias("is_exact_dup"),
            (
                (F.col("dup_rank") == 1)
                & (F.col("quality_millis") >= min_quality)
            ).alias("keep"),
        )
    )
