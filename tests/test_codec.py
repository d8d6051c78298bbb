from __future__ import annotations

import numpy as np
import pytest

from cdr_analysis_tools_hadoop_spark.functions import codec
from cdr_analysis_tools_hadoop_spark.sources import synthetic


def _pattern(n=3, size=32):
    return synthetic.generate_pixels(np.arange(n), size, size)


def test_rawz_lossless_roundtrip():
    for pix in _pattern():
        blob = codec.encode_rawz(pix)
        out = codec.decode(blob)
        assert (out == pix).all()
        assert codec.psnr(pix, out) == float("inf")


def test_pngl_lossless_roundtrip():
    for pix in _pattern():
        out = codec.decode(codec.encode_pngl(pix))
        assert (out == pix).all()


def test_pngl_compresses_smoother_content():
    smooth = np.tile(np.arange(64, dtype=np.uint8)[None, :, None], (64, 1, 3))
    assert len(codec.encode_pngl(smooth)) < len(codec.encode_rawz(smooth))


def test_qnt4_lossy_psnr_gate():
    """BASELINE.json input_hint: decoded pixels PSNR >= 40 dB for lossy."""
    for pix in _pattern(n=5, size=64):
        out = codec.decode(codec.encode_qnt4(pix))
        assert out.shape == pix.shape
        assert codec.psnr(pix, out) >= 40.0


def test_qz2_downsample_roundtrip_shape():
    for pix in _pattern(n=3, size=32):
        out = codec.decode(codec.encode_qz2(pix))
        assert out.shape == pix.shape
        # smooth content survives downsampling well; the synthetic
        # pattern is adversarial, so only a weak bound applies here
        assert codec.psnr(pix, out) > 10.0


def test_unknown_and_stubbed_codecs():
    with pytest.raises(ValueError):
        codec.decode(b"XXXX\x10\x00\x10\x00\x03payload")
    import struct

    blob = struct.pack("<4sHHB", b"JPEG", 16, 16, 3) + b"\x00"
    with pytest.raises(NotImplementedError):
        codec.decode(blob)


def test_phash_deterministic_and_discriminative():
    pix = _pattern(n=8, size=32)
    hashes = [codec.phash_ahash(p) for p in pix]
    assert hashes == [codec.phash_ahash(p) for p in pix]
    assert len(set(hashes)) > 1
    # all 64 cell bits survive verbatim in a signed int64 (the old
    # 2^53-1 fold scrambled the top bits and broke Hamming distance)
    assert all(-(2**63) <= h < 2**63 for h in hashes)
    # one flipped cell must stay at Hamming distance 1
    import numpy as np

    a = pix[0].copy()
    a[:4, :4] = 255 - a[:4, :4]  # flip one 8x8-grid cell's luma hard
    d = bin((codec.phash_ahash(pix[0]) ^ codec.phash_ahash(a)) & (2**64 - 1))
    assert d.count("1") <= 2


def _batch(blobs, offset=0):
    """One-column RecordBatch of blobs, sliced by ``offset`` rows so the
    Arrow array (and its offsets buffer) starts mid-buffer."""
    import pyarrow as pa

    arr = pa.array([b"pad"] * offset + list(blobs), type=pa.binary())
    return pa.RecordBatch.from_arrays([arr.slice(offset)], names=["bytes"])


def test_decode_stacks_split_mixed_channel_batches():
    """Same (h, w) with different channel counts must land in separate
    stacks: the channel count is part of the group key."""
    pix = [
        np.zeros((4, 4, 3), dtype=np.uint8),
        np.ones((4, 4, 1), dtype=np.uint8),     # gray, one channel
        np.full((4, 4, 4), 2, dtype=np.uint8),  # RGBA
        np.full((4, 4, 3), 3, dtype=np.uint8),
        np.full((2, 4, 3), 4, dtype=np.uint8),
    ]
    rb = _batch([codec.encode_rawz(p) for p in pix])
    got = {tuple(idxs): stack.shape for idxs, stack in codec.decode_stacks(rb)}
    assert got == {
        (0, 3): (2, 4, 4, 3),
        (1,): (1, 4, 4, 1),
        (2,): (1, 4, 4, 4),
        (4,): (1, 2, 4, 3),
    }
    # every index appears exactly once
    assert sorted(i for k in got for i in k) == [0, 1, 2, 3, 4]


def _sse_ref(stack):
    """Sum over each image of ((v & 3) - 2)^2: the qnt4 round trip's
    squared error, restated sample by sample."""
    r = (stack.astype(np.int64) & 3) - 2
    return (r * r).reshape(len(stack), -1).sum(axis=1)


@pytest.mark.parametrize("c", [1, 2, 3, 4])
def test_qnt4_sse_matches_per_sample_sum(c):
    """The SWAR SSE equals the per-sample sum exactly. Nothing
    downstream can tell a wrong SSE: the residual is at most 2, so
    SSE <= 4N passes the 40 dB gate for every image."""
    rng = np.random.default_rng(c)
    # byte counts h*w*c with and without a multiple of 8
    for h, w in [(1, 1), (3, 5), (7, 7), (8, 8), (16, 16), (13, 31), (64, 64)]:
        stack = rng.integers(0, 256, (5, h, w, c), dtype=np.uint8)
        got = codec.qnt4_sse(stack)
        assert got.dtype == np.int64
        assert got.tolist() == _sse_ref(stack).tolist()
        assert (got <= 4 * h * w * c).all()
        # a non-contiguous view takes the padded copy path
        view = stack[:, ::2]
        assert codec.qnt4_sse(view).tolist() == _sse_ref(view).tolist()


@pytest.mark.parametrize("low", [0, 1, 2, 3])
def test_qnt4_sse_each_residual_class(low):
    """Every sample in one residual class: SSE = N * (low - 2)^2."""
    rng = np.random.default_rng(low)
    for shape in [(2, 1, 1, 1), (3, 5, 3, 3), (2, 16, 16, 3), (1, 9, 9, 4)]:
        stack = (rng.integers(0, 64, shape, dtype=np.uint8) << 2) | low
        n = int(np.prod(shape[1:]))
        assert codec.qnt4_sse(stack).tolist() == [n * (low - 2) ** 2] * shape[0]
        assert codec.qnt4_sse(stack).tolist() == _sse_ref(stack).tolist()


def test_qnt4_sse_tiny_and_empty_images():
    one = np.array([[[[0, 1, 2]]], [[[3, 255, 128]]]], dtype=np.uint8)
    assert codec.qnt4_sse(one).tolist() == [5, 6]
    for shape in [(2, 0, 0, 3), (1, 0, 5, 1), (3, 4, 0, 2)]:
        empty = np.zeros(shape, dtype=np.uint8)
        assert codec.qnt4_sse(empty).tolist() == [0] * shape[0]


_ENCODERS = [codec.encode_rawz, codec.encode_pngl, codec.encode_qnt4, codec.encode_qz2]


def _mixed_blobs(seed):
    """RAWZ, PNGL, QNT4 and QZ2 blobs, c in {1, 3, 4}, byte counts with
    and without a multiple of 8 (qz2 needs even sides), interleaved."""
    rng = np.random.default_rng(seed)
    blobs = []
    for h, w in [(4, 6), (3, 5), (6, 2), (16, 16), (1, 1), (2, 2)]:
        for c in (1, 3, 4):
            for enc in _ENCODERS:
                if enc is codec.encode_qz2 and (h % 2 or w % 2):
                    continue
                for _ in range(2):
                    blobs.append(enc(rng.integers(0, 256, (h, w, c), dtype=np.uint8)))
    order = rng.permutation(len(blobs))
    return [blobs[i] for i in order]


@pytest.mark.parametrize("offset", [0, 3])
def test_decode_stacks_match_per_image_decode(offset):
    """Every row of every stack equals codec.decode of its blob, and the
    stack's SWAR SSE equals the per-sample sum of the decoded image."""
    from cdr_analysis_tools_hadoop_spark import pipeline

    blobs = _mixed_blobs(offset)
    assert any(codec.decode(b).size % 8 for b in blobs)
    groups = codec.decode_stacks(_batch(blobs, offset))
    seen = np.concatenate([idxs for idxs, _ in groups])
    assert sorted(seen.tolist()) == list(range(len(blobs)))
    ok = np.empty(len(blobs), dtype=bool)
    for idxs, stack in groups:
        assert stack.dtype == np.uint8 and stack.ndim == 4
        assert stack.flags.c_contiguous
        want = np.stack([codec.decode(blobs[i]) for i in idxs])
        assert stack.shape == want.shape
        assert (stack == want).all()
        assert codec.qnt4_sse(stack).tolist() == _sse_ref(want).tolist()
        ok[idxs] = _sse_ref(want) <= 255.0**2 * 1e-4 * want[0].size
    assert pipeline._decode_and_gate(_batch(blobs, offset)).tolist() == ok.tolist()


def test_decode_stacks_empty_batch():
    from cdr_analysis_tools_hadoop_spark import pipeline

    for offset in (0, 2):
        rb = _batch([], offset)
        assert rb.num_rows == 0
        assert codec.decode_stacks(rb) == []
        assert pipeline._decode_and_gate(rb).tolist() == []


def _bad_blobs():
    import struct

    good = codec.encode_rawz(np.arange(48, dtype=np.uint8).reshape(4, 4, 3))
    pngl = codec.encode_pngl(np.arange(48, dtype=np.uint8).reshape(4, 4, 3))
    wrong_size = struct.pack("<4sHHB", b"RAWZ", 5, 4, 3) + good[9:]
    return {
        "unknown_magic": b"XXXX\x10\x00\x10\x00\x03payload",
        "jpeg_stub": struct.pack("<4sHHB", b"JPEG", 16, 16, 3) + b"\x00",
        "truncated_rawz": good[:-5],
        "truncated_pngl": pngl[:-5],
        "wrong_size_rawz": wrong_size,
        "short_header": good[:5],
        "empty": b"",
    }


@pytest.mark.parametrize("case", sorted(_bad_blobs()))
def test_decode_stacks_raise_what_decode_raises(case):
    """A bad blob among good ones raises the class codec.decode raises
    for it."""
    bad = _bad_blobs()[case]
    with pytest.raises(Exception) as ref:
        codec.decode(bad)
    good = _mixed_blobs(7)[:5]
    for blobs in ([bad], good[:2] + [bad] + good[2:]):
        with pytest.raises(Exception) as got:
            codec.decode_stacks(_batch(blobs, 1))
        assert type(got.value) is ref.type, (got.value, ref.value)


def test_qnt4_sse_spans_blocks():
    """Stacks larger than one scratch block give the per-sample sum on
    every row, for the direct, padded and non-contiguous paths, and for
    an image larger than a block."""
    rng = np.random.default_rng(11)
    block = codec._SSE_BLOCK_BYTES
    for shape in [(97, 64, 64, 3), (701, 13, 31, 3), (3, 300, 300, 3)]:
        stack = rng.integers(0, 256, shape, dtype=np.uint8)
        assert stack.nbytes > 2 * block
        assert codec.qnt4_sse(stack).tolist() == _sse_ref(stack).tolist()
        view = stack[:, :, ::2]
        assert codec.qnt4_sse(view).tolist() == _sse_ref(view).tolist()
