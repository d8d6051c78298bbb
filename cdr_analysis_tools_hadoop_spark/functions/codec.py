"""Numpy image codecs + PSNR + perceptual hash.

No PIL/opencv in this environment (SURVEY.md §7.0), so the engine
carries two self-contained codecs built on stdlib zlib + numpy:

- ``rawz``  — zlib-compressed raw RGB (lossless; byte-exact round
  trip).
- ``pngl``  — PNG-like: per-row Sub predictor then zlib (lossless;
  exercises a real filter+entropy pipeline).
- ``qz2``   — lossy: 2x2 box downsample + zlib; decoder upsamples.
  PSNR >= 40 dB is NOT guaranteed for arbitrary content; the
  synthetic test pattern satisfies it and tests assert that, matching
  BASELINE.json input_hint ("decoded-pixel allclose, PSNR>=40dB for
  lossy").

Blob layout (all codecs): magic(4s) w(u16) h(u16) c(u8) then payload.
Decoders for real formats (jpeg/webp/h264 frames) are declared but
stubbed behind NotImplementedError — the Spark-side plumbing (binary
column in, ndarray out, Arrow batching) is identical and is what the
tests exercise.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_HDR = struct.Struct("<4sHHB")
_MAGICS = (b"RAWZ", b"PNGL", b"QNT4", b"QZ2_")


def encode_rawz(pixels: np.ndarray) -> bytes:
    h, w, c = pixels.shape
    return _HDR.pack(b"RAWZ", w, h, c) + zlib.compress(
        np.ascontiguousarray(pixels, dtype=np.uint8).tobytes(), 6
    )


def encode_pngl(pixels: np.ndarray) -> bytes:
    h, w, c = pixels.shape
    arr = np.ascontiguousarray(pixels, dtype=np.uint8)
    # PNG Sub filter: delta vs previous pixel in the row (mod 256)
    filt = arr.copy()
    filt[:, 1:, :] = arr[:, 1:, :] - arr[:, :-1, :]
    return _HDR.pack(b"PNGL", w, h, c) + zlib.compress(filt.tobytes(), 6)


def encode_qz2(pixels: np.ndarray) -> bytes:
    h, w, c = pixels.shape
    if h % 2 or w % 2:
        raise ValueError("qz2 requires even dimensions")
    arr = pixels.astype(np.uint16)
    small = (
        (arr[0::2, 0::2] + arr[0::2, 1::2] + arr[1::2, 0::2] + arr[1::2, 1::2] + 2) // 4
    ).astype(np.uint8)
    return _HDR.pack(b"QZ2_", w, h, c) + zlib.compress(small.tobytes(), 6)


def encode_qnt4(pixels: np.ndarray) -> bytes:
    """Lossy 2-bit quantization + zlib: error in [-2, 1] per sample,
    MSE = 1.5, PSNR = 46.4 dB on ANY content — satisfies the >= 40 dB
    gate unconditionally."""
    h, w, c = pixels.shape
    q = (np.ascontiguousarray(pixels, dtype=np.uint8) >> 2).astype(np.uint8)
    return _HDR.pack(b"QNT4", w, h, c) + zlib.compress(q.tobytes(), 6)


def decode(blob: bytes) -> np.ndarray:
    magic, w, h, c = _HDR.unpack_from(blob)
    if magic in (b"JPEG", b"WEBP", b"H264"):
        raise NotImplementedError(
            f"codec {magic!r} requires an image library not present in this "
            "environment; Spark plumbing is format-agnostic (binary in, "
            "ndarray out)"
        )
    if magic not in _MAGICS:
        raise ValueError(f"unknown codec magic {magic!r}")
    payload = zlib.decompress(blob[_HDR.size:])
    if magic == b"RAWZ":
        return np.frombuffer(payload, dtype=np.uint8).reshape(h, w, c)
    if magic == b"PNGL":
        filt = np.frombuffer(payload, dtype=np.uint8).reshape(h, w, c)
        # row-wise cumulative sum mod 256 undoes the Sub filter
        out = np.cumsum(filt.astype(np.uint64), axis=1) % 256
        return out.astype(np.uint8)
    if magic == b"QNT4":
        q = np.frombuffer(payload, dtype=np.uint8).reshape(h, w, c)
        return ((q.astype(np.uint16) << 2) | 2).astype(np.uint8)
    if magic == b"QZ2_":
        small = np.frombuffer(payload, dtype=np.uint8).reshape(h // 2, w // 2, c)
        return np.repeat(np.repeat(small, 2, axis=0), 2, axis=1)
    raise AssertionError("unreachable")


# --- audio -----------------------------------------------------------------
# Same philosophy as the image codecs: one REAL self-contained codec
# (pcmz: zlib-compressed int16 LE PCM) so the whole decode -> feature
# -> resample -> re-encode path is exercised end to end, plus stub
# magics for external formats (MP3/OPUS/AAC) that raise
# NotImplementedError inside the same kernels.
# Blob layout: magic(4s) sample_rate(u32) n_samples(u32) channels(u8).

_AHDR = struct.Struct("<4sIIB")


def encode_pcmz(samples: np.ndarray, sample_rate: int) -> bytes:
    """``samples``: int16 array of shape (n, channels)."""
    if samples.ndim == 1:
        samples = samples[:, None]
    n, ch = samples.shape
    return _AHDR.pack(b"PCMZ", sample_rate, n, ch) + zlib.compress(
        np.ascontiguousarray(samples, dtype="<i2").tobytes(), 6
    )


def decode_audio(blob: bytes) -> tuple[np.ndarray, int]:
    """-> (int16 samples of shape (n, channels), sample_rate)."""
    magic, sr, n, ch = _AHDR.unpack_from(blob)
    if magic in (b"MP3_", b"OPUS", b"AAC_"):
        raise NotImplementedError(
            f"codec {magic!r} requires an audio library not present in this "
            "environment; Spark plumbing is format-agnostic (binary in, "
            "ndarray out)"
        )
    if magic != b"PCMZ":
        raise ValueError(f"unknown audio codec magic {magic!r}")
    payload = zlib.decompress(blob[_AHDR.size:])
    return np.frombuffer(payload, dtype="<i2").reshape(n, ch), sr


# --- video -----------------------------------------------------------------
# One REAL self-contained codec (vidz: per-frame temporal delta mod
# 256 + zlib — the "P-frame" idea of real video codecs reduced to its
# lossless core) so decode -> frame-sample -> feature paths run real
# pixel math end to end; external formats (H264/VP9/AV1) raise
# NotImplementedError inside the same kernels.
# Blob layout: magic(4s) w(u16) h(u16) c(u8) n_frames(u16) fps(u8).

_VHDR = struct.Struct("<4sHHBHB")


def encode_vidz(frames: np.ndarray, fps: int) -> bytes:
    """``frames``: uint8 array of shape (n_frames, h, w, c)."""
    n, h, w, c = frames.shape
    arr = np.ascontiguousarray(frames, dtype=np.uint8)
    delta = arr.copy()
    # temporal delta (mod-256 wraparound): static content compresses
    # to near-zero regardless of spatial complexity
    delta[1:] = arr[1:] - arr[:-1]
    return _VHDR.pack(b"VIDZ", w, h, c, n, fps) + zlib.compress(
        delta.tobytes(), 6
    )


def decode_video(blob: bytes) -> tuple[np.ndarray, int]:
    """-> (uint8 frames of shape (n_frames, h, w, c), fps)."""
    magic, w, h, c, n, fps = _VHDR.unpack_from(blob)
    if magic in (b"H264", b"VP9_", b"AV1_"):
        raise NotImplementedError(
            f"codec {magic!r} requires a video library not present in this "
            "environment; Spark plumbing is format-agnostic (binary in, "
            "ndarray out)"
        )
    if magic != b"VIDZ":
        raise ValueError(f"unknown video codec magic {magic!r}")
    delta = np.frombuffer(zlib.decompress(blob[_VHDR.size:]), dtype=np.uint8)
    delta = delta.reshape(n, h, w, c)
    # prefix-sum along time mod 256 undoes the temporal delta (frame
    # counts are <= 2^16 and values < 256, so uint32 cannot overflow)
    out = np.cumsum(delta.astype(np.uint32), axis=0) % 256
    return out.astype(np.uint8), fps


# --- shared kernel helpers ---------------------------------------------------
# The Arrow kernels (pipeline, operators/multimodal) all read a binary
# column, decode it as one stack per image shape and reduce each stack
# as one numpy op; these are the one copy of those steps.

_LUMA_W = np.array([0.299, 0.587, 0.114])


def luma_weights(c: int) -> np.ndarray:
    """Per-channel luma weights for a ``c``-channel image: BT.601 for
    RGB, the plain channel mean otherwise (grayscale = the channel
    itself; RGBA and exotic layouts = unweighted mean). The channel
    count is a free u8 header field, so no kernel may assume c == 3."""
    if c == 3:
        return _LUMA_W
    return np.full(c, 1.0 / c)


def blob_views(rb, name: str = "bytes") -> list[memoryview]:
    """Zero-copy memoryview slices of a RecordBatch binary column."""
    barr = rb.column(rb.schema.get_field_index(name))
    _, offbuf, databuf = barr.buffers()
    # binary arrays carry int32 offsets; honor the slice offset
    offs = np.frombuffer(offbuf, dtype=np.int32)[
        barr.offset : barr.offset + len(barr) + 1
    ]
    data = memoryview(databuf)
    return [data[offs[i] : offs[i + 1]] for i in range(len(barr))]


_MAGIC_U32 = np.frombuffer(b"".join(_MAGICS), dtype="<u4")


def decode_stacks(rb, name: str = "bytes") -> list[tuple[np.ndarray, np.ndarray]]:
    """Decode every blob of a RecordBatch binary column as one uint8
    (k, h, w, c) stack per distinct header (codec, h, w, c); returns
    ``[(row indices, stack)]`` with each row in exactly one group.

    All headers are read at once through the offsets buffer (the slice
    offset honoured). A RAWZ group is decompressed straight into its
    preallocated contiguous stack; the other codecs go through
    :func:`decode` per image and are stacked. The channel count is part
    of the key, so same-sized gray and RGB images never share a stack.
    A blob :func:`decode` would reject raises what :func:`decode`
    raises for it."""
    barr = rb.column(rb.schema.get_field_index(name))
    n = len(barr)
    if n == 0:
        return []
    _, offbuf, databuf = barr.buffers()
    # binary arrays carry int32 offsets; honor the slice offset
    offs = np.frombuffer(offbuf, dtype=np.int32)[barr.offset : barr.offset + n + 1]
    view = memoryview(databuf if databuf is not None else b"")
    lo = offs[:-1]
    short = np.diff(offs) < _HDR.size
    if short.any():
        i = int(np.flatnonzero(short)[0])
        decode(view[offs[i] : offs[i + 1]])  # raises struct.error
    hdr = np.frombuffer(view, dtype=np.uint8)[lo[:, None] + np.arange(_HDR.size)]
    hit = hdr[:, :4].copy().view("<u4") == _MAGIC_U32  # (n, 4): row i is codec j
    code = hit.argmax(axis=1)
    known = hit.any(axis=1)
    if not known.all():
        i = int(np.flatnonzero(~known)[0])
        decode(view[offs[i] : offs[i + 1]])  # raises ValueError / NotImplementedError
    h = hdr[:, 6].astype(np.int64) | hdr[:, 7].astype(np.int64) << 8
    w = hdr[:, 4].astype(np.int64) | hdr[:, 5].astype(np.int64) << 8
    key = code << 40 | h << 24 | w << 8 | hdr[:, 8]
    if (key == key[0]).all():
        groups = [np.arange(n)]
    else:
        _, inv = np.unique(key, return_inverse=True)
        order = np.argsort(inv, kind="stable")
        groups = np.split(order, np.cumsum(np.bincount(inv))[:-1])

    out = []
    for idxs in groups:
        i0 = idxs[0]
        starts = (offs[idxs] + _HDR.size).tolist()
        ends = offs[idxs + 1].tolist()
        if code[i0] != 0:  # not RAWZ
            stack = np.stack([decode(view[s - _HDR.size : e]) for s, e in zip(starts, ends)])
        else:
            shape = (int(h[i0]), int(w[i0]), int(hdr[i0, 8]))
            size = shape[0] * shape[1] * shape[2]
            stack = np.empty((len(idxs), *shape), dtype=np.uint8)
            dst = memoryview(stack.reshape(-1))
            at = 0
            for s, e in zip(starts, ends):
                payload = zlib.decompress(view[s:e])
                if len(payload) != size:
                    raise ValueError(
                        f"RAWZ payload of {len(payload)} bytes does not fill "
                        f"a {shape} image"
                    )
                dst[at : at + size] = payload
                at += size
        out.append((idxs, stack))
    return out


_ONES = np.uint64(0x0101010101010101)  # bit 0 of every byte
_SSE_BLOCK_BYTES = 1 << 18  # rows per step of qnt4_sse: its scratch stays in L2


def qnt4_sse(stack: np.ndarray) -> np.ndarray:
    """Per-image sum of squared errors of the qnt4 round trip, for a
    uint8 stack of shape (k, ...), as int64 of shape (k,).

    qnt4 keeps the top 6 bits and decodes the low 2 bits as 2, so a
    sample v has residual (v & 3) - 2 and squared error 4, 1, 0, 1 for
    v & 3 = 0, 1, 2, 3: SSE = 4·#(v & 3 == 0) + #(v odd). Both counts
    are taken bit-parallel (SWAR) over uint64 views, one indicator bit
    per byte lane. The stack is walked in blocks of rows through two
    reused scratch buffers of about ``_SSE_BLOCK_BYTES`` each, so no
    temporary as large as the stack is made. Images whose byte count
    is not a multiple of 8 (or a non-contiguous stack) are copied block
    by block into a buffer padded with 2, whose residual is 0."""
    k = stack.shape[0]
    n = int(np.prod(stack.shape[1:], dtype=np.int64))
    sse = np.zeros(k, dtype=np.int64)
    if k == 0 or n == 0:
        return sse
    words = -(-n // 8)
    rows = max(1, _SSE_BLOCK_BYTES // (words * 8))
    direct = n % 8 == 0 and stack.flags.c_contiguous
    flat = stack.reshape(k, n) if direct else None
    if not direct:
        padded = np.full((min(rows, k), words * 8), 2, dtype=np.uint8)
    z = np.empty((min(rows, k), words), dtype=np.uint64)
    t = np.empty_like(z)
    for r0 in range(0, k, rows):
        r1 = min(r0 + rows, k)
        m = r1 - r0
        if direct:
            x = flat[r0:r1].view(np.uint64)
        else:
            padded[:m, :n] = stack[r0:r1].reshape(m, n)
            x = padded[:m].view(np.uint64)
        zb, tb = z[:m], t[:m]
        np.right_shift(x, np.uint64(1), out=zb)
        zb |= x
        np.invert(zb, out=zb)
        zb &= _ONES  # lane bit set <=> v & 3 == 0
        zb <<= np.uint64(2)
        np.bitwise_and(x, _ONES, out=tb)
        zb += tb  # lane = 4·[v & 3 == 0] + [v odd], at most 4
        zb *= _ONES  # top byte = sum of the 8 lanes, at most 32
        zb >>= np.uint64(56)
        zb.sum(axis=1, dtype=np.int64, out=sse[r0:r1])
    return sse


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    a = a.astype(np.float64)
    b = b.astype(np.float64)
    mse = float(np.mean((a - b) ** 2))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


def phash_ahash(pixels: np.ndarray, grid: int = 8) -> int:
    """64-bit average-hash of decoded pixels (deterministic).

    Downsamples the luma plane to grid x grid by box averaging, then
    one bit per cell: above/below the mean. This is the engine's
    pixel-derived perceptual hash; the synthetic generator stores an
    arithmetic id-derived phash instead so the DuckDB oracle can
    reconstruct it (sources/synthetic.py:phash_sql) — this function is
    the real-data path and is unit-tested for determinism/stability.
    """
    luma = pixels.astype(np.float64) @ luma_weights(pixels.shape[2])
    h, w = luma.shape
    if h == 0 or w == 0:
        return 0  # empty image: deterministic zero hash
    if h < grid or w < grid:
        # sub-grid image: nearest-pixel sampling (edge replication) —
        # the box loop below would produce EMPTY slices whose mean is
        # NaN, collapsing every small image to the all-zero hash
        yi = np.minimum((np.arange(grid) * h) // grid, h - 1)
        xi = np.minimum((np.arange(grid) * w) // grid, w - 1)
        cells = luma[np.ix_(yi, xi)]
    else:
        # box-average onto a grid x grid raster
        ys = (np.arange(grid + 1) * h) // grid
        xs = (np.arange(grid + 1) * w) // grid
        cells = np.empty((grid, grid))
        for i in range(grid):
            for j in range(grid):
                cells[i, j] = luma[ys[i]:ys[i + 1], xs[j]:xs[j + 1]].mean()
    bits = (cells > cells.mean()).flatten()
    val = 0
    for bit in bits:
        val = (val << 1) | int(bit)
    # two's-complement into signed int64: every one of the 64 cell
    # bits must survive verbatim — the old `% (2^53 - 1)` fold
    # scrambled the top 11 bits through carry chains, so images at
    # true Hamming distance 1 could land > 6 apart and be MISSED by
    # the exact near-dup join (the pigeonhole guarantee only holds
    # for the stored value's distance)
    return val - (1 << 64) if val >= 1 << 63 else val


def dhash(pixels: np.ndarray, grid: int = 8) -> int:
    """64-bit difference-hash of decoded pixels (deterministic).

    Downsamples the luma plane to grid x (grid+1) by box averaging,
    then one bit per cell pair: left cell brighter than its right
    neighbor (horizontal gradient sign). Complementary to
    :func:`phash_ahash` (which thresholds on the global mean):
    together they form the engine's 128-bit wide image fingerprint
    (similarity.hamming_near_dup ``hash_col2`` path) — gradient
    structure and luminance structure fail independently, so the
    wide fingerprint carries the key bits the 64-bit banding caps
    deny (r4 verdict item 2)."""
    luma = pixels.astype(np.float64) @ luma_weights(pixels.shape[2])
    h, w = luma.shape
    if h == 0 or w == 0:
        return 0  # empty image: deterministic zero hash
    gw = grid + 1
    if h < grid or w < gw:
        yi = np.minimum((np.arange(grid) * h) // grid, h - 1)
        xi = np.minimum((np.arange(gw) * w) // gw, w - 1)
        cells = luma[np.ix_(yi, xi)]
    else:
        ys = (np.arange(grid + 1) * h) // grid
        xs = (np.arange(gw + 1) * w) // gw
        cells = np.empty((grid, gw))
        for i in range(grid):
            for j in range(gw):
                cells[i, j] = luma[ys[i]:ys[i + 1], xs[j]:xs[j + 1]].mean()
    bits = (cells[:, :-1] > cells[:, 1:]).flatten()
    val = 0
    for bit in bits:
        val = (val << 1) | int(bit)
    return val - (1 << 64) if val >= 1 << 63 else val
