"""One decode path: png, jpeg and tiff tile rows decode through
``codecs.decode`` and run through the same operators as the raw formats."""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pytest

from gridfia_spark import codecs, jpeg, png, tiff
from gridfia_spark.constants import CRS, SF_SPECS
from gridfia_spark.datagen import tiles as tgen
from gridfia_spark.operators import decode, zonal

SF_DIR = "/root/testdata/sf0.001"
SPEC = SF_SPECS["0.001"]
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# lambdas, not module functions: they pickle by value into the Python
# workers, where this test module is not importable
_ENCODE = {
    "png": lambda u8: png.encode_png(u8),
    "jpeg": lambda u8: jpeg.encode_jpeg(u8, quality=95),
    "tiff": lambda u8: tiff.encode_geotiff(u8, 0.0, 0.0, 30.0, CRS),
}


def _reencode(tiles, fmt: str):
    """The tile table with every row's bytes re-encoded as ``fmt``."""
    enc = _ENCODE[fmt]

    def run(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["bytes"] = [
                enc(codecs.decode(b, int(w), int(h), f).astype(np.uint8))
                for b, w, h, f in zip(pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"])
            ]
            pdf["fmt"] = fmt
            yield pdf

    return tiles.mapInPandas(run, tiles.schema)


class TestDecodeFormats:
    @pytest.mark.parametrize("fmt", ["png", "jpeg", "tiff"])
    def test_swapped_dims_raise(self, fmt):
        u8 = np.zeros((16, 24), np.uint8)
        data = _ENCODE[fmt](u8)
        assert codecs.decode(data, 24, 16, fmt).shape == (16, 24)
        # same pixel count, transposed metadata: the size check alone passes
        with pytest.raises(ValueError, match="!= metadata"):
            codecs.decode(data, 16, 24, fmt)

    def test_rgb_collapses_to_luma(self):
        rgb = np.zeros((2, 3, 3), np.uint8)
        rgb[..., 0], rgb[..., 1], rgb[..., 2] = 100, 50, 200
        got = codecs.decode(png.encode_png(rgb), 3, 2, "png")
        luma = 100 * 0.299 + 50 * 0.587 + 200 * 0.114
        np.testing.assert_allclose(got, np.full((2, 3), luma), rtol=1e-6)


    def test_decode_stats_sums_exactly(self, spark):
        """vsum is exact on a tile whose total passes 2^24, as the float64
        stats of png_tile_stats always were (a float32 sum is off by one)."""
        rng = np.random.default_rng(1)
        a = rng.integers(0, 256, (512, 512), dtype=np.uint8)
        tiles = spark.createDataFrame(
            [("m", bytearray(png.encode_png(a)), 512, 512, "png")],
            "image_id string, bytes binary, w int, h int, fmt string",
        )
        r = decode.decode_stats(tiles).first()
        assert r.vsum == float(a.sum(dtype=np.int64)) and r.npx == a.size


class TestContainerTables:
    """The sf0.001 table re-encoded as a container fmt gives the rawz
    table's rows in the operators that decode every tile."""

    @pytest.mark.parametrize("fmt", ["png", "tiff"])
    def test_decode_stats_same_rows(self, spark, fmt):
        tiles = tgen.ensure_tiles(spark, SF_DIR)
        want = sorted(decode.decode_stats(tiles).collect())
        got = sorted(decode.decode_stats(_reencode(tiles, fmt)).collect())
        assert len(want) == SPEC.n_images and got == want

    @pytest.mark.parametrize("fmt", ["png", "tiff"])
    def test_zonal_all_layers_same_rows(self, spark, fmt):
        tiles = tgen.ensure_tiles(spark, SF_DIR)
        polys = tgen.polygons_df(spark, SF_DIR)
        want = sorted(zonal.zonal_stats(tiles, polys, species=None).collect())
        got = zonal.zonal_stats(_reencode(tiles, fmt), polys, species=None)
        got = sorted(got.collect())
        assert want and got == want

    def test_jpeg_table_runs_through_operators(self, spark):
        tiles = tgen.ensure_tiles(spark, SF_DIR)
        polys = tgen.polygons_df(spark, SF_DIR)
        jt = _reencode(tiles, "jpeg")
        want = {r.image_id: r for r in decode.decode_stats(tiles).collect()}
        got = {r.image_id: r for r in decode.decode_stats(jt).collect()}
        assert got.keys() == want.keys()
        for k, r in got.items():
            assert r.npx == want[k].npx
            assert r.vsum == pytest.approx(want[k].vsum, rel=0.02, abs=r.npx)
        z = zonal.zonal_stats(jt, polys, species=None).collect()
        assert len(z) == zonal.zonal_stats(tiles, polys, species=None).count()


def test_raw_decode_leaves_container_codecs_unimported():
    """The container codecs import on first use: a worker that only decodes
    raw formats (zonal, cube_etl) never loads png, jpeg or tiff."""
    snippet = (
        "import sys; sys.path.insert(0, %r)\n"
        "import numpy as np\n"
        "from gridfia_spark import codecs\n"
        "a = np.arange(12, dtype=np.float32).reshape(3, 4)\n"
        "assert (codecs.decode(codecs.encode(a, 'rawz'), 4, 3, 'rawz') == a).all()\n"
        "print(sorted(m for m in ('gridfia_spark.png', 'gridfia_spark.jpeg',\n"
        "                         'gridfia_spark.tiff') if m in sys.modules))\n"
    ) % ROOT
    out = subprocess.run(
        [sys.executable, "-c", snippet], capture_output=True, text=True, timeout=120
    )
    assert out.returncode == 0, out.stderr[-500:]
    assert out.stdout.strip() == "[]"
