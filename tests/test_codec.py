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


def test_shape_groups_split_mixed_channel_batches():
    """Same (h, w) with different channel counts (or gray 2-D arrays)
    must land in separate stacks — np.stack would raise otherwise."""
    import numpy as np

    pix = [
        np.zeros((4, 4, 3), dtype=np.uint8),
        np.ones((4, 4), dtype=np.uint8),        # gray, 2-D
        np.full((4, 4, 1), 2, dtype=np.uint8),  # gray, explicit channel
        np.full((4, 4, 3), 3, dtype=np.uint8),
        np.full((2, 4, 3), 4, dtype=np.uint8),
    ]
    got = {tuple(idxs): stack.shape for idxs, stack in codec.shape_groups(pix)}
    assert got == {
        (0, 3): (2, 4, 4, 3),
        (1,): (1, 4, 4),
        (2,): (1, 4, 4, 1),
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
