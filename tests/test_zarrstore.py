"""Zarr v2 store: metadata layout, chunk bytes verifiable by hand, and
distributed write -> scan round trip (sources/zarrstore.py)."""

from __future__ import annotations

import json
import os
import zlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from gridfia_spark import codecs
from gridfia_spark.datagen import pixels as pxgen
from gridfia_spark.datagen import tiles as tgen
from gridfia_spark.sources import zarrstore

SF_DIR = "/root/testdata/sf0.001"


class TestZarrStore:
    def test_store_layout_and_chunk_bytes(self, spark, tmp_path):
        """The store must be readable with nothing but the v2 spec: JSON
        docs + zlib chunks whose raw bytes equal the tile pixels."""
        tiles = tgen.ensure_tiles(spark, SF_DIR)
        store = str(tmp_path / "t.zarr")
        n = zarrstore.write_zarr_store(tiles, store)
        assert n == tiles.count()
        assert json.load(open(os.path.join(store, ".zgroup"))) == {"zarr_format": 2}
        zarray = json.load(open(os.path.join(store, "biomass", ".zarray")))
        assert zarray["dtype"] == "<f4" and zarray["order"] == "C"
        assert zarray["compressor"] == {"id": "zlib", "level": 6}
        # hand-decode one chunk with stdlib only and compare to the codec
        row = tiles.filter(F.col("image_id").contains("tx000_ty000")).first()
        s = 0 if row.image_id.startswith("sp0000") else None
        # find this row's layer via the stored species_codes
        attrs = json.load(open(os.path.join(store, "biomass", ".zattrs")))
        code = row.image_id[2:6]
        s = attrs["species_codes"].index(code)
        raw = zlib.decompress(
            open(os.path.join(store, "biomass", f"{s}.0.0"), "rb").read()
        )
        got = np.frombuffer(raw, "<f4").reshape(row.h, row.w)
        want = codecs.decode(bytes(row.bytes), row.w, row.h, row.fmt)
        np.testing.assert_array_equal(got, want)
        assert attrs["_ARRAY_DIMENSIONS"] == ["species", "y", "x"]

    def test_roundtrip_tile_rows_bit_identical(self, spark, tmp_path):
        tiles = tgen.ensure_tiles(spark, SF_DIR)
        store = str(tmp_path / "rt.zarr")
        zarrstore.write_zarr_store(tiles, store)
        back = zarrstore.read_zarr_store(spark, store)
        a = {
            r.image_id: (r.phash, r.caption, r.w, r.h)
            for r in tiles.select("image_id", "phash", "caption", "w", "h").collect()
        }
        b = {
            r.image_id: (r.phash, r.caption, r.w, r.h)
            for r in back.select("image_id", "phash", "caption", "w", "h").collect()
        }
        assert a == b

    def test_raw_uncompressed_store_reads(self, spark, tmp_path):
        """compressor: null is valid v2 — the scan must handle raw chunks."""
        tiles = tgen.ensure_tiles(spark, SF_DIR)
        store = str(tmp_path / "raw.zarr")
        zarrstore.write_zarr_store(tiles, store)
        adir = os.path.join(store, "biomass")
        zarray = json.load(open(os.path.join(adir, ".zarray")))
        for name in os.listdir(adir):
            if name[0].isdigit():
                p = os.path.join(adir, name)
                raw = zlib.decompress(open(p, "rb").read())
                open(p, "wb").write(raw)
        zarray["compressor"] = None
        json.dump(zarray, open(os.path.join(adir, ".zarray"), "w"))
        back = zarrstore.read_zarr_store(spark, store)
        assert back.count() == tiles.count()

    def test_unsupported_layouts_rejected(self, spark, tmp_path):
        tiles = tgen.ensure_tiles(spark, SF_DIR)
        store = str(tmp_path / "bad.zarr")
        zarrstore.write_zarr_store(tiles, store)
        adir = os.path.join(store, "biomass")
        zarray = json.load(open(os.path.join(adir, ".zarray")))
        zarray["compressor"] = {"id": "zstd", "level": 3}
        json.dump(zarray, open(os.path.join(adir, ".zarray"), "w"))
        with pytest.raises(ValueError, match="compressor"):
            zarrstore.read_zarr_array_meta(store)
        # blosc IS supported, but only the lz4 cname
        zarray["compressor"] = {"id": "blosc", "cname": "zstd"}
        json.dump(zarray, open(os.path.join(adir, ".zarray"), "w"))
        with pytest.raises(ValueError, match="cname"):
            zarrstore.read_zarr_array_meta(store)

    def test_non_uniform_tiles_rejected(self, spark, tmp_path):
        """Validation fails before any chunk lands: neither a chunk file
        nor the staging directory is left behind, in a fresh store path or
        in a directory that already existed, whether the tiles carry an
        unknown species code (0001: nothing to write) or a known one."""
        a = pxgen.tile_pixels(1, 0, 0, tgen.spec_for_sf_dir(SF_DIR))
        for code in ("0001", "0131"):
            rows = [
                (f"sp{code}_tx000_ty000", bytearray(codecs.encode(a, "rawz")),
                 a.shape[1], a.shape[0], "rawz", "c", 0),
                (f"sp{code}_tx001_ty000",
                 bytearray(codecs.encode(a[:16, :16], "rawz")),
                 16, 16, "rawz", "c", 0),
            ]
            df = spark.createDataFrame(rows, tgen.TILE_SCHEMA)
            fresh = str(tmp_path / f"never{code}.zarr")
            with pytest.raises(ValueError, match="uniform"):
                zarrstore.write_zarr_store(df, fresh)
            assert not os.path.exists(fresh)
            existing = tmp_path / f"existing{code}.zarr"
            existing.mkdir()
            for vfmt in (2, 3):
                with pytest.raises(ValueError, match="uniform"):
                    zarrstore.write_zarr_store(df, str(existing), zarr_format=vfmt)
                assert os.listdir(existing) == []

    def test_unknown_species_code_rejected_on_write(self, spark, tmp_path):
        tiles = tgen.ensure_tiles(spark, SF_DIR).selectExpr(
            "regexp_replace(image_id, 'sp0131', 'sp0833') AS image_id",
            "bytes", "w", "h", "fmt", "caption", "phash",
        )
        store = str(tmp_path / "u.zarr")
        with pytest.raises(ValueError, match="species code outside"):
            zarrstore.write_zarr_store(tiles, store)
        assert not os.path.exists(store)

    def test_duplicate_tiles_rejected(self, spark, tmp_path):
        """Two rows for one chunk would write one file and report two."""
        tiles = tgen.ensure_tiles(spark, SF_DIR)
        store = str(tmp_path / "dup.zarr")
        with pytest.raises(ValueError, match="duplicate"):
            zarrstore.write_zarr_store(tiles.unionByName(tiles), store)
        assert not os.path.exists(store)

    def test_write_is_one_job(self, spark, tmp_path):
        """Chunk write, validation and metadata cost one Spark job: the
        tasks return per-batch summaries the driver folds (no grid-info
        scan before the write, no count aggregation after it)."""
        import uuid

        tiles = tgen.ensure_tiles(spark, SF_DIR)
        sc = spark.sparkContext
        for vfmt in (2, 3):
            group = f"store-write-{uuid.uuid4().hex}"
            sc.setJobGroup(group, group)
            try:
                n = zarrstore.write_zarr_store(
                    tiles, str(tmp_path / f"j{vfmt}.zarr"), zarr_format=vfmt
                )
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            assert n == tiles.count()
            assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1

    def test_reference_reader_interop_both_dialects(self, spark, tmp_path):
        """VERDICT r5 #8: parse the engine's store with a minimal
        reimplementation of the reference ZarrStore's attr-reading logic
        (zarr_utils.py:354-433 property fallbacks over the root attrs
        written at :721-726 / :965-969) and assert crs / transform /
        species metadata round-trip WITHOUT hitting any silent default."""
        import json as _json

        from gridfia_spark.constants import PIX, SPECIES, X0, Y0, spec_for_sf_dir

        tiles = tgen.ensure_tiles(spark, SF_DIR)
        spec = spec_for_sf_dir(SF_DIR)
        gw, gh = spec.gw, spec.gh

        def reference_open(path, version):
            # root-attrs read path of the reference's ZarrStore.__init__
            if version == 2:
                attrs = _json.load(open(os.path.join(path, ".zattrs")))
            else:
                attrs = _json.load(open(os.path.join(path, "zarr.json")))[
                    "attributes"
                ]
            # property logic verbatim: every .get default is a SENTINEL we
            # must never see (the silent-default failure mode)
            crs = attrs.get("crs", "EPSG:3857")
            transform = attrs.get("transform", [1, 0, 0, 0, -1, 0])[:6]
            bounds = attrs.get("bounds", [0, 0, 1, 1])[:4]
            codes = list(attrs.get("species_codes", []))
            names = list(attrs.get("species_names", []))
            n = attrs.get("num_species", None)
            return crs, transform, bounds, codes, names, n

        for fmt in (2, 3):
            store = str(tmp_path / f"interop_v{fmt}.zarr")
            zarrstore.write_zarr_store(tiles, store, zarr_format=fmt)
            crs, t, bounds, codes, names, n = reference_open(store, fmt)
            assert crs == "ESRI:102039", crs  # not the EPSG:3857 default
            # rasterio Affine order (a, b, c, d, e, f)
            assert t == [PIX, 0.0, X0, 0.0, -PIX, Y0], t
            assert bounds == [X0, Y0 - gh * PIX, X0 + gw * PIX, Y0], bounds
            assert codes == [c for c, _ in SPECIES]
            assert names == [nm for _, nm in SPECIES]
            assert n == len(SPECIES)


class TestArrayDiscovery:
    def test_fallback_names(self, spark, tmp_path):
        """read_zarr_store(array=None) locates the data array via the
        reference's fallback order (biomass -> data -> species)."""
        import shutil

        tiles = tgen.ensure_tiles(spark, SF_DIR)
        store = str(tmp_path / "f.zarr")
        zarrstore.write_zarr_store(tiles, store)
        assert zarrstore.find_array(store) == "biomass"
        shutil.move(os.path.join(store, "biomass"), os.path.join(store, "data"))
        assert zarrstore.find_array(store) == "data"
        n = zarrstore.read_zarr_store(spark, store).count()
        assert n == tiles.count()
        shutil.move(os.path.join(store, "data"), os.path.join(store, "custom0"))
        assert zarrstore.find_array(store) == "custom0"
        with pytest.raises(ValueError, match="no zarr array"):
            zarrstore.find_array(str(tmp_path))


class TestZarrV3:
    def test_v3_layout_and_chunk_bytes(self, spark, tmp_path):
        """The v3 store must be readable with nothing but the v3 spec:
        per-node zarr.json + c/s/ty/tx chunk keys + gzip members, and the
        ROOT attrs must be in the reference's layout (Affine-order
        transform, bounds, num_species, species lists)."""
        import gzip

        from gridfia_spark.constants import PIX, SPECIES, X0, Y0

        tiles = tgen.ensure_tiles(spark, SF_DIR)
        store = str(tmp_path / "v3.zarr")
        n = zarrstore.write_zarr_store(tiles, store, zarr_format=3)
        assert n == tiles.count()
        root = json.load(open(os.path.join(store, "zarr.json")))
        assert root["zarr_format"] == 3 and root["node_type"] == "group"
        ra = root["attributes"]
        assert ra["transform"] == [PIX, 0.0, X0, 0.0, -PIX, Y0]
        assert ra["bounds"][0] == X0 and ra["bounds"][3] == Y0
        assert ra["num_species"] == len(SPECIES)
        assert ra["species_names"][0] == "Total Biomass"
        arr = json.load(open(os.path.join(store, "biomass", "zarr.json")))
        assert arr["node_type"] == "array" and arr["data_type"] == "float32"
        assert [c["name"] for c in arr["codecs"]] == ["bytes", "gzip"]
        assert arr["chunk_key_encoding"]["configuration"]["separator"] == "/"
        # hand-decode one chunk with stdlib only
        row = tiles.filter(F.col("image_id").contains("tx000_ty000")).first()
        s = ra["species_codes"].index(row.image_id[2:6])
        raw = gzip.decompress(
            open(os.path.join(store, "biomass", "c", str(s), "0", "0"), "rb").read()
        )
        got = np.frombuffer(raw, "<f4").reshape(row.h, row.w)
        want = codecs.decode(bytes(row.bytes), row.w, row.h, row.fmt)
        np.testing.assert_array_equal(got, want)

    def test_v3_roundtrip_and_pruning(self, spark, tmp_path):
        from gridfia_spark.constants import spec_for_sf_dir

        spec = spec_for_sf_dir(SF_DIR)
        tiles = tgen.ensure_tiles(spark, SF_DIR)
        store = str(tmp_path / "v3rt.zarr")
        zarrstore.write_zarr_store(tiles, store, zarr_format=3)
        assert zarrstore.detect_zarr_format(store) == 3
        assert zarrstore.find_array(store) == "biomass"
        back = zarrstore.read_zarr_store(spark, store)
        a = {
            r.image_id: (r.phash, r.caption)
            for r in tiles.select("image_id", "phash", "caption").collect()
        }
        b = {
            r.image_id: (r.phash, r.caption)
            for r in back.select("image_id", "phash", "caption").collect()
        }
        assert a == b
        # species filter prunes at the c/<s>/ DIRECTORY level
        per_layer = spec.tiles_x * spec.tiles_y
        two = zarrstore.read_zarr_store(spark, store, species=[1, 3])
        assert len(two.inputFiles()) == 2 * per_layer
        assert two.count() == 2 * per_layer

    @pytest.mark.parametrize("enc,sep", [("default", "."), ("v2", "."), ("v2", "/")])
    def test_v3_alternate_chunk_key_encodings(self, spark, tmp_path, enc, sep):
        """v3 stores configured with the '.' separator or the 'v2'
        chunk-key encoding (both spec-legal) must read back identically,
        including species pruning."""
        import shutil

        from gridfia_spark.constants import spec_for_sf_dir

        spec = spec_for_sf_dir(SF_DIR)
        tiles = tgen.ensure_tiles(spark, SF_DIR)
        store = str(tmp_path / "enc.zarr")
        zarrstore.write_zarr_store(tiles, store, zarr_format=3)
        adir = os.path.join(store, "biomass")
        # rewrite the chunk tree into the target encoding
        cdir = os.path.join(adir, "c")
        for s in os.listdir(cdir):
            for ty in os.listdir(os.path.join(cdir, s)):
                for tx in os.listdir(os.path.join(cdir, s, ty)):
                    src = os.path.join(cdir, s, ty, tx)
                    if sep == ".":
                        pre = "c." if enc == "default" else ""
                        dst = os.path.join(adir, f"{pre}{s}.{ty}.{tx}")
                    else:
                        dst = os.path.join(adir, s, ty, tx)
                        os.makedirs(os.path.dirname(dst), exist_ok=True)
                    shutil.move(src, dst)
        shutil.rmtree(cdir)
        zj = os.path.join(adir, "zarr.json")
        doc = json.load(open(zj))
        doc["chunk_key_encoding"] = {"name": enc, "configuration": {"separator": sep}}
        json.dump(doc, open(zj, "w"))
        m = zarrstore.zarr_meta(store)
        assert m.key_enc == (enc, sep)
        back = zarrstore.read_zarr_store(spark, store)
        a = {r.image_id: r.phash for r in tiles.select("image_id", "phash").collect()}
        b = {r.image_id: r.phash for r in back.select("image_id", "phash").collect()}
        assert a == b
        per_layer = spec.tiles_x * spec.tiles_y
        one = zarrstore.read_zarr_store(spark, store, species=[2])
        assert len(one.inputFiles()) == per_layer
        assert one.count() == per_layer

    def test_v3_unsupported_codecs_rejected_loudly(self, spark, tmp_path):
        """Codec chains outside bytes[+gzip|+blosc-lz4] must refuse,
        never silently misdecode."""
        tiles = tgen.ensure_tiles(spark, SF_DIR)
        store = str(tmp_path / "bl.zarr")
        zarrstore.write_zarr_store(tiles, store, zarr_format=3)
        p = os.path.join(store, "biomass", "zarr.json")
        doc = json.load(open(p))
        doc["codecs"] = [
            {"name": "bytes", "configuration": {"endian": "little"}},
            {"name": "zstd", "configuration": {"level": 0}},
        ]
        json.dump(doc, open(p, "w"))
        with pytest.raises(ValueError, match="codec chain"):
            zarrstore.zarr_meta(store)
        doc["codecs"] = [
            {"name": "bytes", "configuration": {"endian": "little"}},
            {"name": "blosc", "configuration": {"cname": "zstd"}},
        ]
        json.dump(doc, open(p, "w"))
        with pytest.raises(ValueError, match="cname"):
            zarrstore.zarr_meta(store)
        # a sharding_indexed array (many chunks per stored object) is
        # outside the flat chunk layout the engine reads
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
            },
        }]
        json.dump(doc, open(p, "w"))
        with pytest.raises(ValueError, match="must start with 'bytes'"):
            zarrstore.zarr_meta(store)
        info = zarrstore.validate_store(store)
        assert info["valid"] is False
        assert any("must start with 'bytes'" in e for e in info["errors"])

    def test_v2_consolidated_metadata(self, spark, tmp_path):
        """v2 stores carry .zmetadata (zarr_consolidated_format 1) whose
        entries byte-match the per-key documents — the
        open_zarr(consolidated=True) fast path; append keeps it current."""
        from gridfia_spark.constants import SPECIES

        tiles = tgen.ensure_tiles(spark, SF_DIR)
        store = str(tmp_path / "cm.zarr")
        zarrstore.write_zarr_store(tiles, store)
        cm = json.load(open(os.path.join(store, ".zmetadata")))
        assert cm["zarr_consolidated_format"] == 1
        md = cm["metadata"]
        assert md[".zgroup"] == json.load(open(os.path.join(store, ".zgroup")))
        assert md[".zattrs"] == json.load(open(os.path.join(store, ".zattrs")))
        assert md["biomass/.zarray"] == json.load(
            open(os.path.join(store, "biomass", ".zarray"))
        )
        # in-place append refreshes the consolidated document too
        code, name = "9999", "Synthetic"
        extra = tiles.filter(F.col("image_id").startswith("sp0131")).selectExpr(
            "regexp_replace(image_id, 'sp0131', 'sp9999') AS image_id",
            "bytes", "w", "h", "fmt", "caption", "phash",
        )
        idx = zarrstore.append_layer(extra, store, code, name)
        cm2 = json.load(open(os.path.join(store, ".zmetadata")))
        assert cm2["metadata"]["biomass/.zarray"]["shape"][0] == len(SPECIES) + 1
        assert cm2["metadata"][".zattrs"]["species_codes"][idx] == code

    def test_v2_root_attrs_reference_layout(self, spark, tmp_path):
        """ADVICE r4: the reference's ZarrStore reads georeferencing from
        the ROOT group attrs in rasterio Affine order — the v2 store must
        carry them there (the array-level GDAL-order .zattrs stays for
        xarray consumers)."""
        from gridfia_spark.constants import PIX, X0, Y0

        tiles = tgen.ensure_tiles(spark, SF_DIR)
        store = str(tmp_path / "ra.zarr")
        zarrstore.write_zarr_store(tiles, store)
        ra = json.load(open(os.path.join(store, ".zattrs")))
        assert ra["transform"] == [PIX, 0.0, X0, 0.0, -PIX, Y0]
        assert ra["crs"] and ra["species_codes"] and ra["species_names"]
        assert len(ra["bounds"]) == 4 and ra["num_species"] > 0


class TestBloscStores:
    """The reference's ACTUAL compressor (BloscCodec lz4+shuffle,
    zarr_utils.py:702-705) through the pure-python blosc codec — read,
    write, and append, both dialects."""

    @pytest.mark.parametrize("vfmt", [2, 3])
    def test_blosc_store_roundtrip(self, spark, tmp_path, vfmt):
        tiles = tgen.ensure_tiles(spark, SF_DIR)
        store = str(tmp_path / f"b{vfmt}.zarr")
        zarrstore.write_zarr_store(tiles, store, zarr_format=vfmt, codec="blosc")
        m = zarrstore.zarr_meta(store)
        assert m.compressor == "blosc"
        back = zarrstore.read_zarr_store(spark, store)
        a = {
            r.image_id: (r.phash, r.caption)
            for r in tiles.select("image_id", "phash", "caption").collect()
        }
        b = {
            r.image_id: (r.phash, r.caption)
            for r in back.select("image_id", "phash", "caption").collect()
        }
        assert a == b

    def test_blosc_chunk_is_self_describing_c_blosc_layout(self, spark, tmp_path):
        """Hand-parse one chunk with nothing but the public c-blosc layout:
        header fields + LZ4 flag + shuffle flag must be present, and the
        module's decoder must invert it to the exact tile pixels."""
        import struct

        from gridfia_spark import blosc as B

        tiles = tgen.ensure_tiles(spark, SF_DIR)
        store = str(tmp_path / "bh.zarr")
        zarrstore.write_zarr_store(tiles, store, codec="blosc")
        attrs = json.load(open(os.path.join(store, "biomass", ".zattrs")))
        row = tiles.filter(F.col("image_id").contains("tx000_ty000")).first()
        s = attrs["species_codes"].index(row.image_id[2:6])
        buf = open(os.path.join(store, "biomass", f"{s}.0.0"), "rb").read()
        version, _vlz, flags, typesize = buf[0], buf[1], buf[2], buf[3]
        nbytes, _bs, cbytes = struct.unpack_from("<III", buf, 4)
        assert version >= 1 and typesize == 4
        assert flags & B.FLAG_SHUFFLE or flags & B.FLAG_MEMCPY
        assert nbytes == row.w * row.h * 4 and cbytes == len(buf)
        got = np.frombuffer(B.decode_chunk(buf), "<f4").reshape(row.h, row.w)
        want = codecs.decode(bytes(row.bytes), row.w, row.h, row.fmt)
        np.testing.assert_array_equal(got, want)

    def test_append_to_blosc_store_keeps_codec(self, spark, tmp_path):
        from gridfia_spark.constants import SPECIES

        tiles = tgen.ensure_tiles(spark, SF_DIR)
        code, name = SPECIES[-1]
        base = tiles.filter(~F.col("image_id").startswith(f"sp{code}"))
        extra = tiles.filter(F.col("image_id").startswith(f"sp{code}"))
        store = str(tmp_path / "ab.zarr")
        zarrstore.write_zarr_store(base, store, zarr_format=3, codec="blosc")
        idx = zarrstore.append_layer(extra, store, code, name)
        m = zarrstore.zarr_meta(store)
        assert m.compressor == "blosc" and m.shape[0] == len(SPECIES)
        back = zarrstore.read_zarr_store(spark, store, species=[idx])
        assert {r.image_id[2:6] for r in back.collect()} == {code}


class TestValidateStore:
    @pytest.mark.parametrize("vfmt", [2, 3])
    def test_summary_shape_matches_reference(self, spark, tmp_path, vfmt):
        """ref validate_zarr_store (zarr_utils.py:1028-1065) summary keys
        + chunk census; listing-only (no chunk opened)."""
        from gridfia_spark.constants import SPECIES, spec_for_sf_dir

        spec = spec_for_sf_dir(SF_DIR)
        tiles = tgen.ensure_tiles(spark, SF_DIR)
        store = str(tmp_path / f"v{vfmt}.zarr")
        zarrstore.write_zarr_store(tiles, store, zarr_format=vfmt)
        info = zarrstore.validate_store(store)
        assert info["valid"] and info["errors"] == []
        assert info["shape"] == (len(SPECIES), spec.gh, spec.gw)
        assert info["chunks"] == (1, spec.tile_h, spec.tile_w)
        assert info["num_species"] == len(SPECIES)
        assert info["crs"] == "ESRI:102039" and len(info["bounds"]) == 4
        assert [s["code"] for s in info["species"]] == [c for c, _ in SPECIES]
        per = spec.tiles_x * spec.tiles_y
        assert info["chunks_per_layer_expected"] == per
        assert info["chunks_per_layer_found"] == {
            i: per for i in range(len(SPECIES))
        }
        # a stray out-of-shape chunk flips valid
        if vfmt == 2:
            open(os.path.join(store, "biomass", "9.0.0"), "wb").write(b"x")
        else:
            d = os.path.join(store, "biomass", "c", "9", "0")
            os.makedirs(d)
            open(os.path.join(d, "0"), "wb").write(b"x")
        bad = zarrstore.validate_store(store)
        assert not bad["valid"] and "outside declared shape" in bad["errors"][0]

    def test_broken_store_reports_errors(self, tmp_path):
        info = zarrstore.validate_store(str(tmp_path))
        assert not info["valid"] and info["errors"]


class TestAppendLayer:
    @pytest.mark.parametrize("vfmt", [2, 3])
    def test_append_lifecycle(self, spark, tmp_path, vfmt):
        """create -> in-place append -> full scan equals the all-layer
        table; the appended layer is reachable via pruned scan (ref
        append_species_to_zarr, zarr_utils.py:754-818)."""
        from gridfia_spark.constants import SPECIES

        tiles = tgen.ensure_tiles(spark, SF_DIR)
        code, name = SPECIES[-1]
        base = tiles.filter(~F.col("image_id").startswith(f"sp{code}"))
        extra = tiles.filter(F.col("image_id").startswith(f"sp{code}"))
        store = str(tmp_path / f"ap{vfmt}.zarr")
        zarrstore.write_zarr_store(base, store, zarr_format=vfmt)
        idx = zarrstore.append_layer(extra, store, code, name)
        assert idx == len(SPECIES) - 1
        m = zarrstore.zarr_meta(store)
        assert m.shape[0] == len(SPECIES)
        assert m.attrs["num_species"] == len(SPECIES)
        assert m.attrs["species_codes"][-1] == code
        assert m.attrs["species_names"][-1] == name
        back = zarrstore.read_zarr_store(spark, store)
        a = {
            r.image_id: (r.phash, r.caption)
            for r in tiles.select("image_id", "phash", "caption").collect()
        }
        b = {
            r.image_id: (r.phash, r.caption)
            for r in back.select("image_id", "phash", "caption").collect()
        }
        assert a == b
        only = zarrstore.read_zarr_store(spark, store, species=[idx])
        assert {r.image_id[2:6] for r in only.collect()} == {code}

    def test_append_rejects_misaligned(self, spark, tmp_path):
        from gridfia_spark.constants import SPECIES, spec_for_sf_dir

        spec = spec_for_sf_dir(SF_DIR)
        tiles = tgen.ensure_tiles(spark, SF_DIR)
        code, name = SPECIES[-1]
        base = tiles.filter(~F.col("image_id").startswith(f"sp{code}"))
        extra = tiles.filter(F.col("image_id").startswith(f"sp{code}"))
        store = str(tmp_path / "bad.zarr")
        zarrstore.write_zarr_store(base, store)
        # wrong tile dims
        a = pxgen.tile_pixels(1, 0, 0, spec)[:16, :16]
        wrong = spark.createDataFrame(
            [(f"sp{code}_tx000_ty000", bytearray(codecs.encode(a, "rawz")),
              16, 16, "rawz", "c", 0)],
            tgen.TILE_SCHEMA,
        )
        with pytest.raises(ValueError, match="dims"):
            zarrstore.append_layer(wrong, store, code, name)
        # duplicate (tx, ty)
        dup = extra.unionByName(extra)
        with pytest.raises(ValueError, match="duplicate"):
            zarrstore.append_layer(dup, store, code, name)
        # transform mismatch in the persisted store (reference allclose)
        ra_path = os.path.join(store, ".zattrs")
        ra = json.load(open(ra_path))
        ra["transform"] = [60.0, 0.0, 0.0, 0.0, -60.0, 0.0]
        json.dump(ra, open(ra_path, "w"))
        with pytest.raises(ValueError, match="transform mismatch"):
            zarrstore.append_layer(extra, store, code, name)


class TestLayerPruning:
    def test_species_filter_prunes_files_at_listing(self, spark, tmp_path):
        """species=[...] is the Zarr analogue of partition pruning: chunk
        files of other layers are never even opened."""
        from gridfia_spark.constants import spec_for_sf_dir

        spec = spec_for_sf_dir(SF_DIR)
        tiles = tgen.ensure_tiles(spark, SF_DIR)
        store = str(tmp_path / "p.zarr")
        zarrstore.write_zarr_store(tiles, store)
        one = zarrstore.read_zarr_store(spark, store, species=[1])
        per_layer = spec.tiles_x * spec.tiles_y
        assert len(one.inputFiles()) == per_layer  # pruned at listing
        from gridfia_spark.constants import SPECIES

        rows = one.collect()
        assert len(rows) == per_layer
        assert all(r.image_id.startswith(f"sp{SPECIES[1][0]}") for r in rows)
        two = zarrstore.read_zarr_store(spark, store, species=[2, 4])
        assert len(two.inputFiles()) == 2 * per_layer
        assert {r.image_id[:6] for r in two.collect()} == {
            f"sp{SPECIES[2][0]}", f"sp{SPECIES[4][0]}"
        }



def _rewrite_chunks(adir: str, fn) -> None:
    """Apply ``fn(path)`` to every chunk file under an array directory."""
    for d, _, files in os.walk(adir):
        for f in files:
            if f[0].isdigit():
                fn(os.path.join(d, f))


def _store_variant(tiles, store: str, variant: str) -> None:
    """Write ``tiles`` as one of the store layouts the scan reads."""
    import shutil

    if variant == "v2-zlib":
        zarrstore.write_zarr_store(tiles, store)
    elif variant == "v2-raw":
        zarrstore.write_zarr_store(tiles, store)
        adir = os.path.join(store, "biomass")

        def inflate(p):
            raw = zlib.decompress(open(p, "rb").read())
            open(p, "wb").write(raw)

        _rewrite_chunks(adir, inflate)
        zp = os.path.join(adir, ".zarray")
        doc = json.load(open(zp))
        doc["compressor"] = None
        json.dump(doc, open(zp, "w"))
    elif variant == "v3-gzip":
        zarrstore.write_zarr_store(tiles, store, zarr_format=3)
    elif variant == "v3-nested-v2-key":
        # nested i/j/k keys without the c/ prefix
        zarrstore.write_zarr_store(tiles, store, zarr_format=3)
        adir = os.path.join(store, "biomass")
        for s in os.listdir(os.path.join(adir, "c")):
            shutil.move(os.path.join(adir, "c", s), os.path.join(adir, s))
        os.rmdir(os.path.join(adir, "c"))
        zj = os.path.join(adir, "zarr.json")
        doc = json.load(open(zj))
        doc["chunk_key_encoding"] = {"name": "v2", "configuration": {"separator": "/"}}
        json.dump(doc, open(zj, "w"))
    elif variant.endswith("blosc"):
        vfmt = 2 if variant.startswith("v2") else 3
        zarrstore.write_zarr_store(tiles, store, zarr_format=vfmt, codec="blosc")
    else:
        raise AssertionError(variant)


class TestStoreScan:
    """read_zarr_store is a JVM projection of the binaryFile scan; only
    phash (and the gzip/blosc re-encode) run in Python."""

    @pytest.mark.parametrize("species", [None, [1, 4]], ids=["all", "pruned"])
    @pytest.mark.parametrize(
        "variant",
        ["v2-zlib", "v2-raw", "v3-gzip", "v3-nested-v2-key", "v2-blosc", "v3-blosc"],
    )
    def test_rows_equal_tile_table(self, spark, tmp_path, variant, species):
        """Decoded pixels, phash and caption equal the tile table's, per
        image_id, for every store layout, with and without pruning."""
        from gridfia_spark.constants import SPECIES

        tiles = tgen.ensure_tiles(spark, SF_DIR)
        store = str(tmp_path / "s.zarr")
        _store_variant(tiles, store, variant)
        back = zarrstore.read_zarr_store(spark, store, species=species)
        codes = {SPECIES[i][0] for i in (species or range(len(SPECIES)))}

        def rows(df):
            return {
                r.image_id: (
                    r.phash, r.caption, r.w, r.h,
                    codecs.decode(bytes(r.bytes), r.w, r.h, r.fmt).tobytes(),
                )
                for r in df.collect()
                if r.image_id[2:6] in codes
            }

        want = rows(tiles)
        got = rows(back)
        assert got == want
        assert back.count() == len(want)

    def test_unknown_species_code_raises_at_read(self, spark, tmp_path):
        """A layer whose code the engine has no species index for fails
        loudly at read, not later inside a kernel UDF; layers that do not
        read it stay readable."""
        tiles = tgen.ensure_tiles(spark, SF_DIR)
        store = str(tmp_path / "code.zarr")
        zarrstore.write_zarr_store(tiles, store)
        for doc_path in (
            os.path.join(store, ".zattrs"), os.path.join(store, "biomass", ".zattrs")
        ):
            doc = json.load(open(doc_path))
            doc["species_codes"][1] = "0833"  # a real FIA code, not in SPECIES
            json.dump(doc, open(doc_path, "w"))
        with pytest.raises(ValueError, match="species code '0833'"):
            zarrstore.read_zarr_store(spark, store)
        with pytest.raises(ValueError, match="species code '0833'"):
            zarrstore.read_zarr_store(spark, store, species=[1, 2])
        spec = tgen.spec_for_sf_dir(SF_DIR)
        back = zarrstore.read_zarr_store(spark, store, species=[2])
        assert back.count() == spec.tiles_x * spec.tiles_y

    def test_off_grid_store_raises_at_read(self, spark, tmp_path):
        """A store whose attrs put it on another grid (10 m pixels 1 km
        east, or a foreign CRS) fails at read: the tile operators would
        place its tiles on the canonical 30 m grid with no error. The
        validator reports the same store invalid, naming the mismatch."""
        tiles = tgen.ensure_tiles(spark, SF_DIR)
        store = str(tmp_path / "grid.zarr")
        zarrstore.write_zarr_store(tiles, store)
        keys = (".zattrs", "biomass/.zattrs")
        docs = {k: json.load(open(os.path.join(store, k))) for k in keys}
        consolidated = json.load(open(os.path.join(store, ".zmetadata")))

        def rewrite(root: dict, arr: dict) -> None:
            # root attrs, array attrs and their consolidated copies alike
            for key, upd in zip(keys, (root, arr)):
                doc = {**docs[key], **upd}
                json.dump(doc, open(os.path.join(store, key), "w"))
                consolidated["metadata"][key] = doc
            json.dump(consolidated, open(os.path.join(store, ".zmetadata"), "w"))

        def assert_invalid(mismatch: str) -> None:
            # the validator refuses what the reader refuses
            info = zarrstore.validate_store(store)
            assert not info["valid"]
            assert any(mismatch in e for e in info["errors"]), info["errors"]

        rewrite(
            {"transform": [10.0, 0.0, -1999000.0, 0.0, -10.0, -900000.0]},
            {"transform": [-1999000.0, 10.0, 0.0, -900000.0, 0.0, -10.0]},
        )
        with pytest.raises(ValueError, match="transform"):
            zarrstore.read_zarr_store(spark, store)
        assert_invalid("transform mismatch")
        rewrite({"crs": "EPSG:5070"}, {"crs": "EPSG:5070"})
        with pytest.raises(ValueError, match="crs"):
            zarrstore.read_zarr_store(spark, store)
        assert_invalid("crs mismatch")

    def test_layer_beyond_code_list_fails_scan(self, spark, tmp_path):
        """A chunk whose layer index has no entry in species_codes fails
        the scan with a message naming the chunk."""
        tiles = tgen.ensure_tiles(spark, SF_DIR)
        store = str(tmp_path / "short.zarr")
        zarrstore.write_zarr_store(tiles, store)
        for doc_path in (
            os.path.join(store, ".zattrs"), os.path.join(store, "biomass", ".zattrs")
        ):
            doc = json.load(open(doc_path))
            doc["species_codes"] = doc["species_codes"][:-1]
            json.dump(doc, open(doc_path, "w"))
        back = zarrstore.read_zarr_store(spark, store)
        with pytest.raises(Exception, match="layer 5 is beyond the 5 species codes"):
            back.select("image_id").collect()
