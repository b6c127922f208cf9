"""Facade tests — API parity with the reference's GridFIA surface
(mirroring tests/unit/test_api.py's validation paths)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from gridfia_spark.api import GridFIASpark
from gridfia_spark.constants import SF_SPECS
from gridfia_spark.datagen import pixels

SF_DIR = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = SF_SPECS["0.001"]


@pytest.fixture(scope="module")
def api(spark):
    return GridFIASpark(spark)


@pytest.fixture(scope="module")
def tiles(api):
    return api.generate_tiles(SF_DIR)


class TestCalculations:
    def test_named_calculations(self, api, tiles):
        out = (
            api.calculate_metrics(
                tiles,
                ["species_richness", "shannon_diversity",
                 {"name": "species_proportion", "species_index": 2}],
            )
            .toPandas()
            .sort_values(["gy", "gx"], ignore_index=True)
        )
        from gridfia_spark.functions import kernels

        cube = pixels.full_cube(SPEC)
        np.testing.assert_array_equal(
            out["richness"].to_numpy().reshape(SPEC.gh, SPEC.gw),
            kernels.species_richness(cube).astype(np.int64),
        )
        np.testing.assert_array_equal(
            out["proportion"].to_numpy().reshape(SPEC.gh, SPEC.gw),
            kernels.species_proportion(cube, 2),
        )

    def test_unknown_calculation_raises(self, api, tiles):
        # mirrors api.py:468-483: unknown name -> error listing valid ones
        with pytest.raises(ValueError, match="Unknown calculation.*Valid"):
            api.calculate_metrics(tiles, ["not_a_calc"])

    def test_sentinel_on_failure(self, api, tiles):
        """Reference NaN/-1 failure convention (forest_metrics.py:440-483):
        a failing calc emits sentinels, healthy calcs still emit."""
        out = api.calculate_metrics(
            tiles,
            [
                "species_richness",
                # species_proportion with index 0 raises inside the kernel
                {"name": "species_proportion", "species_index": 0},
            ],
            on_error="sentinel",
        ).toPandas()
        assert out["proportion"].isna().all()  # float sentinel = NaN
        assert (out["richness"] >= 0).all()  # healthy metric unaffected

        # int-typed failing calc -> -1 sentinel
        out2 = api.calculate_metrics(
            tiles,
            [{"name": "species_presence", "species_index": 99}],
            on_error="sentinel",
        ).toPandas()
        assert (out2["presence"] == -1).all()

    def test_raise_mode_propagates(self, api, tiles):
        with pytest.raises(Exception, match="index 0|total layer"):
            api.calculate_metrics(
                tiles, [{"name": "species_proportion", "species_index": 0}]
            ).collect()


class TestSpatialFacade:
    def test_zonal_and_assign(self, api, tiles, spark):
        from gridfia_spark.datagen import tiles as tgen

        polys = tgen.polygons_df(spark, SF_DIR)
        z = api.zonal_stats(tiles, polys, species=0)
        assert z.count() == 11  # all polygons except the empty-join one
        a = api.assign_tiles(tiles, polys)
        assert a.count() > 0

    def test_ingest_directory_roundtrip(self, api, spark, tmp_path):
        from gridfia_spark import codecs
        from gridfia_spark.constants import SPECIES

        d = tmp_path / "rasters"
        d.mkdir()
        for s, (code, _) in enumerate(SPECIES[1:], start=1):
            for ty in range(SPEC.tiles_y):
                for tx in range(SPEC.tiles_x):
                    arr = pixels.tile_pixels(s, tx, ty, SPEC)
                    (d / f"SPCD_{code}_tx{tx}_ty{ty}.bin").write_bytes(
                        codecs.encode(arr, "rawz")
                    )
        table = api.ingest_directory(str(d), SPEC.tile_w, SPEC.tile_h)
        assert table.count() == SPEC.n_images  # species + synthesized total
        assert api.validate(table)["valid"]
        # synthesized total layer matches the canonical generator
        want = {
            r.image_id: bytes(r.bytes)
            for r in api.generate_tiles(SF_DIR)
            .filter(F.col("image_id").startswith("sp0000"))
            .collect()
        }
        got = {
            r.image_id: bytes(r.bytes)
            for r in table.filter(F.col("image_id").startswith("sp0000")).collect()
        }
        assert got == want


class TestDriverSampleOrder:
    def test_driver_sample_covers_oldest_evidence_queries(self):
        """The driver's correctness snapshot samples the FIRST 50 registry
        entries: every registered query absent from the last snapshot
        (CORRECTNESS_r06.json) sits in that head, and every head entry
        carries an oracle."""
        import json

        from gridfia_spark import queries as Q

        head = list(Q.registry())[:50]
        oracled = Q.oracles()
        r06 = set(json.load(open(os.path.join(ROOT, "CORRECTNESS_r06.json"))))
        missing = [n for n in Q.registry() if n not in r06 and n not in head]
        assert not missing, f"unsampled queries below the 50 boundary: {missing}"
        assert all(n in oracled for n in head)
        # registry() and oracles() agree on the ordering
        assert [n for n in Q.registry() if n in oracled] == list(oracled)


class TestCreateZarr:
    def test_create_and_load_zarr_lifecycle(self, spark, tmp_path):
        """§3.3 literal: GeoTIFF dir -> create_zarr -> load_zarr round trip,
        total layer included."""
        import numpy as np

        from gridfia_spark import tiff
        from gridfia_spark.api import GridFIASpark
        from gridfia_spark.constants import PIX, SPECIES, X0, Y0, spec_for_sf_dir
        from gridfia_spark.datagen import pixels as pxgen

        sf = "/root/testdata/sf0.001"
        spec = spec_for_sf_dir(sf)
        src = tmp_path / "tifs"
        src.mkdir()
        for s in (1, 2):
            code = SPECIES[s][0]
            for ty in range(spec.tiles_y):
                for tx in range(spec.tiles_x):
                    arr = pxgen.tile_pixels(s, tx, ty, spec).astype(np.float32)
                    (src / f"SPCD_{code}_tx{tx:03d}_ty{ty:03d}.tif").write_bytes(
                        tiff.encode_geotiff(
                            arr, X0 + tx * spec.tile_w * PIX,
                            Y0 - ty * spec.tile_h * PIX, PIX, "ESRI:102039",
                        )
                    )
        api = GridFIASpark(spark)
        store = str(tmp_path / "cube.zarr")
        per_layer = spec.tiles_x * spec.tiles_y
        n = api.create_zarr(str(src), store, spec.tile_w, spec.tile_h)
        assert n == 3 * per_layer  # 2 species + accumulated total layer
        back = api.load_zarr(store)
        assert back.count() == 3 * per_layer
        total_only = api.load_zarr(store, species=[0])
        rows = total_only.collect()
        assert len(rows) == per_layer
        # reference-parity in-place append: a third species' raster dir
        # becomes a new layer of the SAME persisted store
        code3, name3 = SPECIES[3]
        src3 = tmp_path / "tifs3"
        src3.mkdir()
        for ty in range(spec.tiles_y):
            for tx in range(spec.tiles_x):
                arr = pxgen.tile_pixels(3, tx, ty, spec).astype(np.float32)
                (src3 / f"SPCD_{code3}_tx{tx:03d}_ty{ty:03d}.tif").write_bytes(
                    tiff.encode_geotiff(
                        arr, X0 + tx * spec.tile_w * PIX,
                        Y0 - ty * spec.tile_h * PIX, PIX, "ESRI:102039",
                    )
                )
        idx = api.append_species_to_zarr(
            store, str(src3), code3, name3, spec.tile_w, spec.tile_h
        )
        assert idx == 3
        assert api.load_zarr(store).count() == 4 * per_layer
        appended = api.load_zarr(store, species=[idx]).collect()
        assert {r.image_id[2:6] for r in appended} == {code3}
        assert all(r.image_id.startswith("sp0000") for r in rows)
