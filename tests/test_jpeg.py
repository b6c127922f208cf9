"""Pure-python baseline JPEG codec: round-trips, PSNR contract, marker
robustness, and codecs.decode reading genuine JPEG bytes."""

from __future__ import annotations

import numpy as np
import pytest

from gridfia_spark import codecs, jpeg


def _test_image(h=48, w=64, seed=1):
    rng = np.random.default_rng(seed)
    gy, gx = np.mgrid[0:h, 0:w]
    return np.clip(gx * 2 + gy + rng.normal(0, 8, (h, w)), 0, 255).astype(
        np.uint8
    )


def test_gray_roundtrip_psnr():
    img = _test_image()
    for q, floor in ((90, 33), (95, 40), (99, 50)):
        dec = jpeg.decode_jpeg(jpeg.encode_jpeg(img, q))
        assert dec.shape == img.shape and dec.dtype == np.uint8
        assert codecs.psnr(img, dec) >= floor, f"quality {q}"


def test_rgb_roundtrip_psnr():
    img = _test_image()
    rgb = np.stack([img, 255 - img, np.roll(img, 7, axis=1)], axis=-1)
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg(rgb, 97))
    assert dec.shape == rgb.shape
    assert codecs.psnr(rgb, dec) >= 40


def test_constant_image_is_exact():
    c = np.full((16, 24), 130, np.uint8)
    np.testing.assert_array_equal(jpeg.decode_jpeg(jpeg.encode_jpeg(c, 90)), c)


def test_odd_dimensions():
    img = _test_image()[:45, :61]
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg(img, 95))
    assert dec.shape == (45, 61)
    assert codecs.psnr(img, dec) >= 40


def test_extreme_values_survive_quality_100():
    """qt=1 blocks with maximal coefficients must clip to the baseline
    10-bit AC cap, not crash the Huffman tables."""
    img = np.zeros((8, 8), np.uint8)
    img[::2, ::2] = 255  # maximal high-frequency energy
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg(img, 100))
    assert dec.shape == (8, 8)


def test_error_paths():
    img = _test_image(16, 16)
    data = jpeg.encode_jpeg(img, 90)
    with pytest.raises(ValueError, match="no SOI"):
        jpeg.decode_jpeg(b"PNG" + data)
    with pytest.raises(ValueError, match="truncated|missing"):
        jpeg.decode_jpeg(data[: len(data) // 3])
    # flip SOF0 -> SOF2 (progressive)
    prog = bytearray(data)
    i = bytes(prog).find(b"\xff\xc0")
    prog[i + 1] = 0xC2
    with pytest.raises(ValueError, match="baseline"):
        jpeg.decode_jpeg(bytes(prog))
    with pytest.raises(ValueError, match="uint8"):
        jpeg.encode_jpeg(img.astype(np.float32))


def test_registry_decodes_jpeg():
    """'jpeg' is a codecs.decode fmt, with the metadata dim check."""
    img = _test_image(24, 32, seed=3)
    data = jpeg.encode_jpeg(img, 95)
    arr = codecs.decode(data, 32, 24, "jpeg")
    assert arr.shape == (24, 32)
    assert codecs.psnr(img, arr.astype(np.uint8)) >= 40
    with pytest.raises(ValueError, match="!= metadata"):
        codecs.decode(data, 31, 24, "jpeg")


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(
        st.integers(1, 40),
        st.integers(1, 40),
        st.integers(0, 2**31 - 1),
        st.sampled_from([85, 92, 95, 100]),
    )
    @settings(max_examples=25, deadline=None)
    def test_roundtrip_never_crashes_and_bounds_error(h, w, seed, q):
        """Property: any uint8 image of any shape encodes to a stream the
        decoder accepts, with bounded reconstruction error (the quant
        tables bound per-coefficient error, so pixel error is bounded)."""
        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, (h, w), dtype=np.uint8)
        dec = jpeg.decode_jpeg(jpeg.encode_jpeg(img, q))
        assert dec.shape == img.shape
        err = np.abs(dec.astype(int) - img.astype(int)).max()
        assert err <= 160  # worst-case high-freq noise at q85

except ImportError:  # pragma: no cover
    pass
