"""Tests: ingestion sources, sinks, validation, multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gridfia_spark import codecs
from gridfia_spark.constants import SF_SPECS, SPECIES
from gridfia_spark.datagen import pixels, tiles as tgen
from gridfia_spark.operators import metrics, multimodal
from gridfia_spark.sources import ingest, sinks

SF_DIR = "/root/testdata/sf0.001"
SPEC = SF_SPECS["0.001"]


class TestIngest:
    def test_dir_scan_roundtrip(self, spark, tmp_path):
        """Write raster files to disk, binaryFile-ingest them, compare to
        direct generation (S1/S4 path)."""
        d = tmp_path / "rasters"
        d.mkdir()
        for s, (code, _) in enumerate(SPECIES[1:3], start=1):
            for tx in range(2):
                arr = pixels.tile_pixels(s, tx, 0, SPEC)
                (d / f"SPCD_{code}_tx{tx}_ty0.bin").write_bytes(codecs.encode(arr, "rawz"))
        got = ingest.ingest_raster_dir(
            spark, str(d), SPEC.tile_w, SPEC.tile_h, "rawz"
        ).collect()
        assert len(got) == 4
        direct = tgen.ensure_tiles(spark, SF_DIR)
        want = {
            r.image_id: (bytes(r.bytes), r.caption, r.phash)
            for r in direct.filter(F.col("image_id").rlike("ty000$")).collect()
        }
        for r in got:
            wb, wc, wp = want[r.image_id]
            assert bytes(r.bytes) == wb and r.caption == wc and r.phash == wp

    def test_append_validation(self, spark):
        tiles = tgen.ensure_tiles(spark, SF_DIR)
        with pytest.raises(ValueError, match="duplicate image_id"):
            ingest.append_species(tiles, tiles.limit(1))
        bad = tiles.limit(1).withColumn("w", F.lit(99)).withColumn(
            "image_id", F.lit("sp9999_tx000_ty000")
        )
        with pytest.raises(ValueError, match="dimension mismatch"):
            ingest.append_species(tiles, bad)
        ok = tiles.limit(1).withColumn("image_id", F.lit("sp9999_tx000_ty000"))
        assert ingest.append_species(tiles, ok).count() == tiles.count() + 1

    def test_total_layer_union_aggregate(self, spark):
        """with_total_layer reproduces the generator's precomputed total
        bit-for-bit (zarr_utils.py:1003-1019 parity)."""
        tiles = tgen.ensure_tiles(spark, SF_DIR)
        species_only = tiles.filter(~F.col("image_id").startswith("sp0000"))
        rebuilt = ingest.with_total_layer(species_only)
        got = {
            r.image_id: bytes(r.bytes)
            for r in rebuilt.filter(F.col("image_id").startswith("sp0000")).collect()
        }
        want = {
            r.image_id: bytes(r.bytes)
            for r in tiles.filter(F.col("image_id").startswith("sp0000")).collect()
        }
        assert got == want

    def test_validate_tile_table(self, spark):
        tiles = tgen.ensure_tiles(spark, SF_DIR)
        s = ingest.validate_tile_table(tiles)
        assert s["valid"] and s["n_images"] == SPEC.n_images and s["n_species"] == 6
        broken = tiles.drop("phash")
        s2 = ingest.validate_tile_table(broken)
        assert not s2["valid"] and "missing column phash" in s2["errors"]
        dup = tiles.union(tiles.limit(1))
        assert not ingest.validate_tile_table(dup)["valid"]


class TestSinks:
    def test_metric_tile_sink_roundtrip(self, spark, tmp_path):
        tiles = tgen.ensure_tiles(spark, SF_DIR)
        m = metrics.metric_layers(
            tiles, [metrics.MetricSpec("richness", "species_richness", {}, "double")]
        )
        enc = sinks.metric_to_tiles(m, "richness", SPEC.tile_w, SPEC.tile_h)
        rows = enc.collect()
        assert len(rows) == SPEC.tiles_x * SPEC.tiles_y
        # decode one tile and compare against the kernel on the cube
        from gridfia_spark.functions import kernels

        cube = pixels.full_cube(SPEC)
        rich = kernels.species_richness(cube)
        r0 = next(r for r in rows if r.image_id == "m_richness_tx000_ty000")
        dec = codecs.decode(bytes(r0.bytes), SPEC.tile_w, SPEC.tile_h, r0.fmt)
        np.testing.assert_array_equal(dec, rich[: SPEC.tile_h, : SPEC.tile_w].astype(np.float32))

    def test_csv_report(self, spark, tmp_path):
        tiles = tgen.ensure_tiles(spark, SF_DIR)
        from gridfia_spark.operators import decode as dec

        st = dec.decode_stats(tiles).select("image_id", "vsum")
        out = tmp_path / "report.csv"
        sinks.write_report_csv(st, str(out))
        df = pd.read_csv(out)
        assert len(df) == SPEC.n_images and {"image_id", "vsum"} == set(df.columns)


class TestMultimodal:
    @pytest.fixture(scope="class")
    def media(self, spark):
        rows = []
        arr = pixels.tile_pixels(1, 0, 0, SPEC)
        rows.append(("img1", bytearray(codecs.encode(arr, "rawz")), "image", "rawz",
                     SPEC.tile_w, SPEC.tile_h, 1, 0, "a raster image"))
        rows.append(("img2", bytearray(b"\x07\x00\x00\x00deadbeef"), "image", "fake64",
                     16, 16, 1, 0, "a fake image"))
        frames = np.stack([np.full((8, 8), i, dtype="<f4") for i in range(6)])
        rows.append(("vid1", bytearray(frames.tobytes()), "video", "raw32", 8, 8, 6, 0, "a clip"))
        rows.append(("img3", bytearray(b"\xff\xd8jpegbytes"), "image", "jpeg", 4, 4, 1, 0, "a jpeg"))
        return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)

    def test_feature_extract(self, spark, media):
        ok = media.filter(F.col("fmt") != "jpeg")
        out = {r.media_id: r for r in multimodal.extract_features(ok).collect()}
        arr = pixels.tile_pixels(1, 0, 0, SPEC)
        assert out["img1"].mean_v == pytest.approx(float(arr.mean()))
        assert out["img2"].max_v <= 250

    def test_stub_raises_for_real_codecs(self, spark, media):
        # png/jpeg/webp are REAL built-in codecs now (gridfia_spark/
        # png.py, jpeg.py, vp8l.py); mp3/h264 are the documented
        # permanent stub. The built-in jpeg decoder must reject garbage
        # bytes with a codec error, not the stub message.
        with pytest.raises(Exception, match="not a JPEG|corrupt|marker"):
            multimodal.extract_features(media.filter(F.col("fmt") == "jpeg")).collect()
        with pytest.raises(NotImplementedError, match="register_decoder"):
            multimodal._decode_media(b"\x00" * 8, "mp3", 4, 1)

    def test_decoder_registration(self, spark, media):
        """Registering a codec makes every operator decode that format —
        including inside Spark tasks (the registry snapshot must ride the
        UDF closure into the worker processes)."""

        def fake_jpeg(data: bytes, w: int, h: int):
            return np.full((h, w), float(len(data)), dtype=np.float32)

        multimodal.register_decoder("jpeg", fake_jpeg)
        try:
            out = multimodal.extract_features(
                media.filter(F.col("fmt") == "jpeg")
            ).collect()
            assert len(out) == 1 and out[0].mean_v == pytest.approx(11.0)  # len(b"\xff\xd8jpegbytes")
            rs = multimodal.resize(media.filter(F.col("fmt") == "jpeg"), 2, 2).first()
            assert (rs.w, rs.h) == (2, 2)
        finally:
            multimodal.unregister_decoder("jpeg")
        # unregistering the override restores the BUILT-IN jpeg codec,
        # which rejects the fixture's garbage bytes with a codec error
        with pytest.raises(Exception, match="not a JPEG|corrupt|marker"):
            multimodal.extract_features(media.filter(F.col("fmt") == "jpeg")).collect()
        # same restore contract for png
        multimodal.register_decoder("png", fake_jpeg)
        multimodal.unregister_decoder("png")
        assert "png" in multimodal._MEDIA_DECODERS

    def test_resize(self, spark, media):
        out = multimodal.resize(media.filter(F.col("media_id") == "img1"), 8, 8).first()
        assert (out.w, out.h) == (8, 8)
        small = codecs.decode(bytes(out.bytes), 8, 8, out.fmt)
        arr = pixels.tile_pixels(1, 0, 0, SPEC)
        f = SPEC.tile_w // 8
        np.testing.assert_allclose(
            small, arr.reshape(8, f, 8, f).mean(axis=(1, 3)), rtol=1e-6
        )


def test_resize_stride_method(spark):
    """Stride downsample picks exact source pixels (the reference's
    examples/utils.py:243 slicing), unlike the antialiased block mean."""
    import numpy as np

    from gridfia_spark import codecs
    from gridfia_spark.operators import multimodal

    h, w = 8, 8
    arr = np.arange(h * w, dtype=np.float32).reshape(h, w)
    media = spark.createDataFrame(
        [("m", bytearray(codecs.encode(arr, "raw32")), "image", "raw32",
          w, h, 1, 0, "")],
        multimodal.MEDIA_SCHEMA,
    )
    r = multimodal.resize(media, 4, 4, method="stride").first()
    got = codecs.decode(bytes(r.bytes), 4, 4, "raw32")
    np.testing.assert_array_equal(got, arr[::2, ::2])
    r2 = multimodal.resize(media, 4, 4).first()
    got2 = codecs.decode(bytes(r2.bytes), 4, 4, "raw32")
    np.testing.assert_allclose(
        got2, arr.reshape(4, 2, 4, 2).mean(axis=(1, 3))
    )
    import pytest as _pt
    with _pt.raises(ValueError, match="unknown resize method"):
        multimodal.resize(media, 4, 4, method="nearest")
