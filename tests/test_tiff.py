"""Unit tests for the pure-python GeoTIFF codec (tiff.py)."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gridfia_spark import tiff

ORIGIN = (-2_000_000.0, -900_000.0)


def _enc(arr, compress=True):
    return tiff.encode_geotiff(arr, ORIGIN[0], ORIGIN[1], 30.0, "ESRI:102039",
                               compress=compress)


class TestGeoTiff:
    def test_header_and_magic(self):
        blob = _enc(np.zeros((2, 2), np.uint8))
        assert blob[:2] == b"II"
        assert struct.unpack_from("<H", blob, 2)[0] == 42

    def test_roundtrip_uint8_and_float32(self):
        rng = np.random.default_rng(9)
        for arr in (
            rng.integers(0, 256, (21, 13)).astype(np.uint8),
            rng.normal(50, 20, (32, 32)).astype(np.float32),
        ):
            for compress in (True, False):
                back, meta = tiff.decode_geotiff(_enc(arr, compress))
                np.testing.assert_array_equal(back, arr)
                assert back.dtype == arr.dtype

    def test_geotiff_keys_roundtrip(self):
        _, meta = tiff.decode_geotiff(_enc(np.ones((4, 4), np.uint8)))
        assert meta["crs"] == "ESRI:102039"
        assert meta["origin"] == ORIGIN
        assert meta["pixel"] == 30.0
        assert meta["transform"] == (ORIGIN[0], 30.0, 0.0, ORIGIN[1], 0.0, -30.0)
        assert meta["model_type"] == tiff.MODEL_PROJECTED
        assert meta["raster_type"] == tiff.RASTER_PIXEL_IS_AREA

    def test_nonzero_tiepoint_pixel_offset(self):
        # a tiepoint anchored off (0,0) must still yield the right origin
        arr = np.zeros((4, 4), np.float32)
        blob = bytearray(_enc(arr))
        back, meta = tiff.decode_geotiff(bytes(blob))
        assert meta["origin"] == ORIGIN

    def test_rejects_non_tiff(self):
        with pytest.raises(ValueError, match="byte-order"):
            tiff.decode_geotiff(b"PNG....")
        with pytest.raises(ValueError, match="magic"):
            tiff.decode_geotiff(b"II\x2b\x00\x00\x00\x00\x00")

    def test_rejects_unsupported_dtype(self):
        with pytest.raises(ValueError, match="dtype"):
            tiff.encode_geotiff(
                np.zeros((2, 2), np.int64), 0.0, 0.0, 1.0, "x"
            )

    def test_media_registry_tiff_builtin(self):
        from gridfia_spark import codecs

        arr = np.arange(16, dtype=np.float32).reshape(4, 4)
        got = codecs.decode(_enc(arr), 4, 4, "tiff")
        np.testing.assert_array_equal(got, arr)

    @settings(max_examples=20, deadline=None)
    @given(
        h=st.integers(1, 16),
        w=st.integers(1, 16),
        seed=st.integers(0, 2**31 - 1),
        as_float=st.booleans(),
    )
    def test_roundtrip_hypothesis(self, h, w, seed, as_float):
        rng = np.random.default_rng(seed)
        if as_float:
            arr = rng.normal(0, 1000, (h, w)).astype(np.float32)
        else:
            arr = rng.integers(0, 256, (h, w)).astype(np.uint8)
        back, meta = tiff.decode_geotiff(_enc(arr))
        np.testing.assert_array_equal(back, arr)
        assert meta["origin"] == ORIGIN


class TestGeoTiffSink:
    def test_single_file_metric_export(self, spark, tmp_path):
        """sinks.write_geotiff: the richness layer as one genuine GeoTIFF
        with the engine's affine + CRS (ref forest_metrics.py:547-601)."""
        from gridfia_spark.constants import spec_for_sf_dir
        from gridfia_spark.datagen import tiles as tgen
        from gridfia_spark.operators import metrics
        from gridfia_spark.sources import sinks

        sf = "/root/testdata/sf0.001"
        spec = spec_for_sf_dir(sf)
        tiles = tgen.ensure_tiles(spark, sf)
        rich = metrics.metric_layers(
            tiles, [metrics.MetricSpec("richness", "species_richness", {}, "long")]
        )
        path = str(tmp_path / "richness.tif")
        blob = sinks.write_geotiff(rich, "richness", spec.gw, spec.gh, path)
        assert open(path, "rb").read() == blob
        arr, meta = tiff.decode_geotiff(blob)
        assert arr.shape == (spec.gh, spec.gw)
        assert meta["origin"] == ORIGIN and meta["crs"] == "ESRI:102039"
        want = {(r.gx, r.gy): r.richness for r in rich.collect()}
        got_sum = float(arr.sum())
        assert got_sum == float(sum(want.values()))


class TestGeoTiffIngest:
    def test_tif_directory_ingests_equal_to_bin(self, spark, tmp_path):
        """S1 literal: a directory of genuine GeoTIFFs ingests into the
        same tile rows as the engine-codec .bin layout."""
        from gridfia_spark import codecs
        from gridfia_spark.constants import SPECIES, spec_for_sf_dir
        from gridfia_spark.datagen import pixels as pxgen
        from gridfia_spark.sources import ingest

        sf = "/root/testdata/sf0.001"
        spec = spec_for_sf_dir(sf)
        bin_dir, tif_dir = tmp_path / "bin", tmp_path / "tif"
        bin_dir.mkdir(), tif_dir.mkdir()
        code = SPECIES[2][0]
        for ty in range(spec.tiles_y):
            for tx in range(spec.tiles_x):
                arr = pxgen.tile_pixels(2, tx, ty, spec)
                stem = f"SPCD_{code}_tx{tx:03d}_ty{ty:03d}"
                (bin_dir / f"{stem}.bin").write_bytes(codecs.encode(arr, "rawz"))
                (tif_dir / f"{stem}.tif").write_bytes(
                    tiff.encode_geotiff(
                        arr.astype(np.float32),
                        -2_000_000.0 + tx * spec.tile_w * 30.0,
                        -900_000.0 - ty * spec.tile_h * 30.0,
                        30.0,
                        "ESRI:102039",
                    )
                )
        a = ingest.ingest_raster_dir(spark, str(bin_dir), spec.tile_w, spec.tile_h)
        b = ingest.ingest_raster_dir(spark, str(tif_dir), spec.tile_w, spec.tile_h)
        pa = {r.image_id: (r.phash, r.caption) for r in a.collect()}
        pb = {r.image_id: (r.phash, r.caption) for r in b.collect()}
        assert pa == pb and len(pa) == spec.tiles_x * spec.tiles_y


def test_truncation_raises_valueerror_only():
    blob = _enc(np.arange(16, dtype=np.uint8).reshape(4, 4))
    for k in range(2, len(blob)):
        try:
            tiff.decode_geotiff(blob[:k])
        except ValueError:
            pass  # the only acceptable failure mode
