"""Pure-python PNG codec: round-trips, all five scanline filters, and the
engine operators running on genuine PNG bytes."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from gridfia_spark import png


def _filtered_png(raster: np.ndarray, ch: int, ftypes: list[int]) -> bytes:
    """Test-side encoder that APPLIES each requested filter type per
    scanline (forward filtering, PNG spec §6) so decode_png's
    reconstruction paths are all exercised."""
    h, stride = raster.shape
    w = stride // ch
    colortype = {1: 0, 3: 2, 4: 6}[ch]
    lines = []
    prev = np.zeros(stride, dtype=np.int16)
    for y in range(h):
        cur = raster[y].astype(np.int16)
        f = ftypes[y % len(ftypes)]
        left = np.zeros(stride, dtype=np.int16)
        left[ch:] = cur[:-ch]
        pleft = np.zeros(stride, dtype=np.int16)
        pleft[ch:] = prev[:-ch]
        if f == 0:
            enc = cur
        elif f == 1:
            enc = cur - left
        elif f == 2:
            enc = cur - prev
        elif f == 3:
            enc = cur - ((left + prev) >> 1)
        else:  # Paeth
            p = left + prev - pleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - pleft)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, pleft))
            enc = cur - pred
        lines.append(bytes([f]) + (enc & 0xFF).astype(np.uint8).tobytes())
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, colortype, 0, 0, 0)
    body = zlib.compress(b"".join(lines), 6)
    return (
        b"\x89PNG\r\n\x1a\n"
        + png._chunk(b"IHDR", ihdr)
        + png._chunk(b"IDAT", body)
        + png._chunk(b"IEND", b"")
    )


class TestRoundTrip:
    def test_gray(self):
        rng = np.random.default_rng(1)
        a = rng.integers(0, 256, (23, 17), dtype=np.uint8)
        assert np.array_equal(png.decode_png(png.encode_png(a)), a)

    def test_rgb_rgba(self):
        rng = np.random.default_rng(2)
        for c in (3, 4):
            a = rng.integers(0, 256, (9, 11, c), dtype=np.uint8)
            assert np.array_equal(png.decode_png(png.encode_png(a)), a)

    def test_rejects_non_u8(self):
        with pytest.raises(ValueError, match="integer values"):
            png.encode_png(np.array([[0.5]]))
        with pytest.raises(ValueError, match="signature"):
            png.decode_png(b"not a png at all")


class TestAllFilters:
    @pytest.mark.parametrize("ch", [1, 3, 4])
    def test_each_filter_reconstructs(self, ch):
        rng = np.random.default_rng(40 + ch)
        h, w = 13, 7
        raster = rng.integers(0, 256, (h, w * ch), dtype=np.uint8)
        for f in range(5):
            data = _filtered_png(raster, ch, [f])
            got = png.decode_png(data)
            want = raster.reshape(h, w, ch) if ch > 1 else raster
            assert np.array_equal(got, want), f"filter {f} ch {ch}"

    def test_mixed_filters_per_row(self):
        rng = np.random.default_rng(77)
        raster = rng.integers(0, 256, (25, 31), dtype=np.uint8)
        data = _filtered_png(raster, 1, [0, 1, 2, 3, 4])
        assert np.array_equal(png.decode_png(data), raster)


class TestMultimodalOnPng:
    def test_extract_features_on_real_png_rows(self, spark):
        from gridfia_spark.operators import decode

        rng = np.random.default_rng(5)
        arrs = {f"img{i}": rng.integers(0, 200, (16, 12), dtype=np.uint8) for i in range(4)}
        rows = [
            (mid, bytearray(png.encode_png(a)), a.shape[1], a.shape[0], "png")
            for mid, a in arrs.items()
        ]
        tiles = spark.createDataFrame(
            rows, "image_id string, bytes binary, w int, h int, fmt string"
        )
        got = {r.image_id: r for r in decode.decode_stats(tiles).collect()}
        for mid, a in arrs.items():
            f = a.astype(np.float32)
            assert got[mid].vsum / got[mid].npx == pytest.approx(float(f.mean()))
            assert got[mid].vmin == float(f.min()) and got[mid].vmax == float(f.max())

    def test_resize_on_png(self, spark):
        from gridfia_spark import codecs
        from gridfia_spark.operators import render

        a = np.arange(64, dtype=np.uint8).reshape(8, 8)
        rows = [("m0", bytearray(png.encode_png(a)), 8, 8, "png")]
        media = spark.createDataFrame(
            rows, "media_id string, bytes binary, w int, h int, fmt string"
        )
        out = render.resize(media, 4, 4).collect()[0]
        got = codecs.decode(bytes(out.bytes), 4, 4, out.fmt)
        want = a.astype(np.float32).reshape(4, 2, 4, 2).mean(axis=(1, 3))
        assert np.allclose(got, want)
