"""Zarr v3 sharding_indexed arrays (many chunks per stored object): the
engine writes and reads only the flat one-chunk-per-object layout, so every
entry point must refuse a sharded array loudly instead of misreading its
shard objects as chunks (sources/zarrstore.py)."""

from __future__ import annotations

import json
import os

import pytest

from gridfia_spark.constants import SPECIES
from gridfia_spark.datagen import tiles as tgen
from gridfia_spark.sources import zarrstore

SF_DIR = "/root/testdata/sf0.001"


def _sharded_store(spark, tmp_path, index_location: str = "end") -> str:
    """A flat v3 store whose array document is rewritten to the
    sharding_indexed form: 2x2-chunk shards with bytes+gzip inner codecs."""
    tiles = tgen.ensure_tiles(spark, SF_DIR)
    store = str(tmp_path / f"s_{index_location}.zarr")
    zarrstore.write_zarr_store(tiles, store, zarr_format=3)
    p = os.path.join(store, "biomass", "zarr.json")
    doc = json.load(open(p))
    _, th, tw = doc["chunk_grid"]["configuration"]["chunk_shape"]
    doc["chunk_grid"]["configuration"]["chunk_shape"] = [1, 2 * th, 2 * tw]
    doc["codecs"] = [{
        "name": "sharding_indexed",
        "configuration": {
            "chunk_shape": [1, th, tw],
            "codecs": [
                {"name": "bytes", "configuration": {"endian": "little"}},
                {"name": "gzip", "configuration": {"level": 6}},
            ],
            "index_location": index_location,
        },
    }]
    json.dump(doc, open(p, "w"))
    return store


class TestShardedStore:
    def test_unsupported_layouts_refuse_loudly(self, spark, tmp_path):
        """Metadata, scan and in-place append all refuse a sharded array,
        whatever its index location, and the refused append writes no
        chunk of the new layer."""
        from pyspark.sql import functions as F

        tiles = tgen.ensure_tiles(spark, SF_DIR)
        last_code, last_name = SPECIES[-1]
        extra = tiles.filter(F.col("image_id").startswith(f"sp{last_code}"))
        for loc in ("end", "start"):
            store = _sharded_store(spark, tmp_path, loc)
            with pytest.raises(ValueError, match="must start with 'bytes'"):
                zarrstore.zarr_meta(store)
            with pytest.raises(ValueError, match="must start with 'bytes'"):
                zarrstore.read_zarr_store(spark, store)
            layers = sorted(os.listdir(os.path.join(store, "biomass", "c")))
            with pytest.raises(ValueError, match="must start with 'bytes'"):
                zarrstore.append_layer(extra, store, last_code, last_name)
            assert sorted(os.listdir(os.path.join(store, "biomass", "c"))) == layers

    def test_validate_store_sharded_census(self, spark, tmp_path):
        """validate_store reports a sharded array invalid with the codec
        error and claims no chunk census for a layout it cannot read."""
        store = _sharded_store(spark, tmp_path)
        info = zarrstore.validate_store(store)
        assert info["valid"] is False
        assert any("must start with 'bytes'" in e for e in info["errors"])
        assert "chunks_per_layer_found" not in info
        assert "chunks_per_layer_expected" not in info
