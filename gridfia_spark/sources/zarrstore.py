"""Genuine Zarr directory store (v2 AND v3): distributed chunk write + scan.

The reference's core storage abstraction IS a Zarr cube — a (species, y, x)
float32 array chunked (1, chunk_h, chunk_w) (zarr_utils.py:259-320, chunks
at :280; the v3 API create path at :698-745). The engine's tile rows map
1:1 to those chunks, so the store can be written and read with nothing but
the public Zarr specs:

- **v2** (zarr-specs v2): ``.zgroup``/``.zarray``/``.zattrs`` JSON + one
  file per chunk named ``s.ty.tx``, raw C-order bytes through the named
  compressor (stdlib zlib here — a first-class registered v2 codec id).
- **v3** (zarr-specs v3, the dialect the reference's ``zarr.open_group``
  writes): a single ``zarr.json`` per node (group and array), chunks under
  the default chunk-key encoding ``c/<s>/<ty>/<tx>`` with ``/`` separator,
  through the spec's ``bytes`` (little-endian) + ``gzip`` codec chain.
  The reference's own stores use the Blosc codec
  (``zarr.codecs.BloscCodec(cname='lz4', shuffle='shuffle')``,
  zarr_utils.py:702-705) — those chunks decode through the pure-python
  Blosc1-LZ4 codec (gridfia_spark/blosc.py), in BOTH dialects (v2
  ``{"id": "blosc"}`` compressors and v3 ``blosc`` codec entries), and
  ``codec='blosc'`` writes them back. Blosc cnames beyond lz4 (zstd,
  snappy, blosclz) and bit-shuffle refuse loudly. The pure-python LZ4 is
  correctness-grade: use blosc for interop with existing reference
  stores, the zlib/gzip defaults for throughput.

- WRITE is one distributed Spark job: every task serializes and writes its
  own chunk files (the way Zarr is written to object stores at scale, no
  driver assembly, no shuffle) into a hidden staging directory inside the
  store, and returns one summary row per batch (count, largest layer/tile
  indices, tile-size range). The driver folds those rows, validates the
  uniform tile size and the species codes, writes the tiny JSON metadata
  and renames the chunks into place. Any failure removes the staging
  directory, so no chunk lands before validation passes.
- READ is a ``binaryFile`` scan plus JVM projections: the chunk key in the
  file path gives ``(s, ty, tx)`` (partition-prune friendly), the store's
  species codes and names give ``image_id`` and ``caption``, and a zlib
  chunk passes through as a ``rawz`` tile untouched. Python runs only for
  ``phash`` (pruned when unread) and to re-encode gzip/blosc chunks.
- Georeferencing is written to the ROOT group attributes in the
  reference's own layout (zarr_utils.py:721-726: ``crs`` string,
  ``transform`` in rasterio Affine order (a,b,c,d,e,f), ``bounds``
  (left,bottom,right,top), ``width``/``height``/``num_species``, with
  ``species_codes``/``species_names`` as the attr fallback the reference
  reads at :324) — so a reference ZarrStore opening this store sees real
  georeferencing, not silent defaults. The engine's array-level ``.zattrs``
  keeps the GDAL-style ``[X0, PIX, 0, Y0, 0, -PIX]`` transform for
  xarray-style consumers; the two layouts are documented here and distinct
  by level.

Round-tripped bit-exact through `zarr_store_roundtrip` (v2) and
`zarr_v3_roundtrip` (v3); in-place layer append through `zarr_append_layer`
(ref append_species_to_zarr, zarr_utils.py:754-818).
"""

from __future__ import annotations

import gzip as _gzip
import json
import os
import shutil
import uuid
import zlib
from collections.abc import Callable, Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import codecs
from ..constants import (
    CAPTION_FMT, CRS, IMAGE_ID_FMT, PIX, SPECIES, UNITS, X0, Y0,
)
from ..operators import decode

ZARR_FORMAT = 2  # default write dialect (back-compat)


def _root_attrs(n_layers: int, gw: int, gh: int, codes=None, names=None) -> dict:
    """Root-group attributes in the REFERENCE's layout (zarr_utils.py:
    721-726): transform is rasterio Affine order (a,b,c,d,e,f) =
    (PIX, 0, X0, 0, -PIX, Y0) — NOT the GDAL-style order the engine uses
    in captions; bounds are (left, bottom, right, top)."""
    codes = codes if codes is not None else [c for c, _ in SPECIES[:n_layers]]
    names = names if names is not None else [n for _, n in SPECIES[:n_layers]]
    return {
        "crs": CRS,
        "transform": [PIX, 0.0, X0, 0.0, -PIX, Y0],
        "bounds": [X0, Y0 - gh * PIX, X0 + gw * PIX, Y0],
        "width": gw,
        "height": gh,
        "num_species": n_layers,
        "species_codes": codes,
        "species_names": names,
        "units": UNITS,
    }


def _default_codec(zarr_format: int) -> str:
    return "gzip" if zarr_format == 3 else "zlib"


class _Written(NamedTuple):
    """What a chunk write put down, folded from its per-batch summaries:
    chunk count, tiles skipped for an unknown species code, the largest
    layer/tile indices written and the tile-size range of every row."""

    n: int
    unknown: int
    smax: int | None
    txmax: int | None
    tymax: int | None
    wmin: int
    wmax: int
    hmin: int
    hmax: int


def _write_chunks(
    meta: DataFrame,
    out_dir: str,
    level: int,
    zarr_format: int,
    layer: int | None = None,
    codec: str | None = None,
) -> _Written:
    """Distributed chunk write: every task serializes and writes its own
    chunk files under ``out_dir`` (v2 ``s.ty.tx`` flat names; v3
    ``c/s/ty/tx`` nested keys; gzip written with mtime=0 so bytes are
    deterministic). ``codec`` is ``zlib``/``gzip``/``blosc`` (default per
    dialect); ``layer`` overrides the layer index for single-layer appends,
    otherwise a tile with no layer index (unknown species code) is skipped
    and counted. Each task returns one summary row per Arrow batch and the
    driver folds the collected rows, so the write is one job with no
    aggregation stage."""
    v3 = zarr_format == 3
    codec = codec or _default_codec(zarr_format)
    os.makedirs(out_dir, exist_ok=True)

    def wchunks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .. import blosc as _blosc

        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for r in pdf.itertuples(index=False):
                if layer is None and pd.isna(r.s):
                    continue
                arr = codecs.decode(r.bytes, int(r.w), int(r.h), r.fmt)
                buf = np.ascontiguousarray(arr, dtype="<f4").tobytes()
                s = int(r.s) if layer is None else layer
                if codec == "blosc":
                    blob = _blosc.encode_chunk(buf, typesize=4)
                elif codec == "gzip":
                    blob = _gzip.compress(buf, compresslevel=level, mtime=0)
                else:
                    blob = zlib.compress(buf, level)
                if v3:
                    cdir = os.path.join(out_dir, "c", str(s), str(int(r.ty)))
                    os.makedirs(cdir, exist_ok=True)
                    name = os.path.join(cdir, str(int(r.tx)))
                else:
                    name = os.path.join(out_dir, f"{s}.{int(r.ty)}.{int(r.tx)}")
                with open(name, "wb") as fh:
                    fh.write(blob)
                out.append((s, int(r.tx), int(r.ty)))
            hi = np.array(out).max(axis=0).tolist() if out else [None] * 3
            w, h = pdf["w"], pdf["h"]
            yield pd.DataFrame([[
                len(out), len(pdf) - len(out), *hi,
                w.min(), w.max(), h.min(), h.max(),
            ]], columns=list(_Written._fields))

    rows = meta.select("s", "tx", "ty", "bytes", "w", "h", "fmt").mapInPandas(
        wchunks,
        "n long, unknown long, smax int, txmax int, tymax int, "
        "wmin int, wmax int, hmin int, hmax int",
    ).collect()
    if not rows:
        raise ValueError("zarr store write: empty tile set")

    def fold(name: str, f):
        vals = [v for v in (getattr(r, name) for r in rows) if v is not None]
        return f(vals) if vals else None

    return _Written(
        fold("n", sum), fold("unknown", sum),
        fold("smax", max), fold("txmax", max), fold("tymax", max),
        fold("wmin", min), fold("wmax", max), fold("hmin", min), fold("hmax", max),
    )


def _write_staged(
    meta: DataFrame,
    path: str,
    array: str,
    level: int,
    zarr_format: int,
    finish: Callable[[_Written], None],
    layer: int | None = None,
    codec: str | None = None,
) -> _Written:
    """Write the chunks into a hidden staging directory inside the store,
    run ``finish`` on the driver (validation, metadata documents), then
    move the chunks into the array directory. On any failure the staging
    directory goes (and the store directory too when this call created
    it), so no chunk lands before ``finish`` has passed."""
    stage = os.path.join(path, f".staging-{uuid.uuid4().hex}")
    fresh = not os.path.exists(path)
    try:
        written = _write_chunks(meta, stage, level, zarr_format, layer, codec)
        # two rows for one chunk write one file; the summaries cannot see
        # that across batches, the staged file count does
        staged = sum(len(files) for _, _, files in os.walk(stage))
        if staged != written.n:
            raise ValueError(
                f"{written.n - staged} duplicate (layer, ty, tx) tiles: each "
                "chunk must come from exactly one tile row"
            )
        finish(written)
        adir = os.path.join(path, array)
        for root, _, files in os.walk(stage):
            dst = os.path.join(adir, os.path.relpath(root, stage))
            os.makedirs(dst, exist_ok=True)
            for f in files:
                os.replace(os.path.join(root, f), os.path.join(dst, f))
    except BaseException:
        if fresh:
            shutil.rmtree(path, ignore_errors=True)
        raise
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return written


def _write_array_meta(
    path: str, array: str, shape: list[int], chunks: list[int],
    level: int, zarr_format: int, root_attrs: dict, codec: str | None = None,
) -> None:
    """Driver-side metadata documents for either dialect."""
    codec = codec or _default_codec(zarr_format)
    adir = os.path.join(path, array)
    os.makedirs(adir, exist_ok=True)
    if zarr_format == 3:
        if codec == "blosc":
            comp_entry = {
                "name": "blosc",
                "configuration": {
                    "cname": "lz4", "clevel": 5, "shuffle": "shuffle",
                    "typesize": 4, "blocksize": 0,
                },
            }
        else:
            comp_entry = {"name": "gzip", "configuration": {"level": level}}
        with open(os.path.join(path, "zarr.json"), "w") as fh:
            json.dump(
                {"zarr_format": 3, "node_type": "group", "attributes": root_attrs},
                fh,
            )
        with open(os.path.join(adir, "zarr.json"), "w") as fh:
            json.dump(
                {
                    "zarr_format": 3,
                    "node_type": "array",
                    "shape": shape,
                    "data_type": "float32",
                    "chunk_grid": {
                        "name": "regular",
                        "configuration": {"chunk_shape": chunks},
                    },
                    "chunk_key_encoding": {
                        "name": "default",
                        "configuration": {"separator": "/"},
                    },
                    "fill_value": 0.0,
                    "codecs": [
                        {"name": "bytes", "configuration": {"endian": "little"}},
                        comp_entry,
                    ],
                    "attributes": {"units": UNITS},
                    "dimension_names": ["species", "y", "x"],
                },
                fh,
            )
        return
    with open(os.path.join(path, ".zgroup"), "w") as fh:
        json.dump({"zarr_format": 2}, fh)
    with open(os.path.join(path, ".zattrs"), "w") as fh:
        json.dump(root_attrs, fh)
    if codec == "blosc":
        comp_doc = {"id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1}
    else:
        comp_doc = {"id": "zlib", "level": level}
    with open(os.path.join(adir, ".zarray"), "w") as fh:
        json.dump(
            {
                "zarr_format": 2,
                "shape": shape,
                "chunks": chunks,
                "dtype": "<f4",
                "compressor": comp_doc,
                "fill_value": 0.0,
                "order": "C",
                "filters": None,
            },
            fh,
        )
    # array-level transform stays in the GDAL-style order documented in
    # the module docstring
    array_attrs = {
        "crs": CRS,
        "units": UNITS,
        "transform": [X0, PIX, 0.0, Y0, 0.0, -PIX],
        "species_codes": root_attrs["species_codes"],
        "_ARRAY_DIMENSIONS": ["species", "y", "x"],
    }
    with open(os.path.join(adir, ".zattrs"), "w") as fh:
        json.dump(array_attrs, fh)
    # consolidated metadata (zarr v2 convention): one .zmetadata document
    # holding every metadata key — xarray's open_zarr(consolidated=True)
    # fast path, one read instead of a directory walk on object stores
    with open(os.path.join(adir, ".zarray")) as fh:
        zarray_doc = json.load(fh)
    with open(os.path.join(path, ".zmetadata"), "w") as fh:
        json.dump(
            {
                "zarr_consolidated_format": 1,
                "metadata": {
                    ".zgroup": {"zarr_format": 2},
                    ".zattrs": root_attrs,
                    f"{array}/.zarray": zarray_doc,
                    f"{array}/.zattrs": array_attrs,
                },
            },
            fh,
        )


def write_zarr_store(
    tiles: DataFrame,
    path: str,
    array: str = "biomass",
    level: int = 6,
    zarr_format: int = ZARR_FORMAT,
    codec: str | None = None,
) -> int:
    """Write engine tile rows as a genuine Zarr group ``path`` holding one
    float32 array ``array`` of shape (n_layers, gh, gw), chunked
    (1, tile_h, tile_w). ``zarr_format=2`` (default) writes the classic
    ``.zgroup``/``.zarray`` + ``s.ty.tx`` layout through zlib;
    ``zarr_format=3`` writes the reference's dialect — per-node
    ``zarr.json`` + ``c/s/ty/tx`` chunk keys through the spec's
    bytes+gzip codec chain (zarr_utils.py:698-745). ``codec='blosc'``
    (either dialect) writes Blosc1-LZ4 chunks — the reference's own
    compressor (zarr_utils.py:702-705), readable by any c-blosc build;
    the pure-python LZ4 is correctness-grade, so keep the zlib/gzip
    defaults on throughput paths. The root attrs carry the canonical
    grid's ``crs``, ``transform`` and ``bounds`` (``_root_attrs``), the
    grid every tile operator places tiles on. Chunk files are written BY
    THE TASKS (one file per tile row, no driver assembly); returns the
    number of chunks."""
    if zarr_format not in (2, 3):
        raise ValueError(f"unsupported zarr_format {zarr_format} (2 or 3)")
    if codec not in (None, "zlib", "gzip", "blosc"):
        raise ValueError(f"unsupported codec {codec!r} (zlib/gzip/blosc)")
    # validation (uniform dims, known species) runs on the staged write's
    # summary, before any chunk lands in the array directory — the error
    # contract pinned by test_non_uniform_tiles_rejected

    def finish(wr: _Written) -> None:
        if wr.wmin != wr.wmax or wr.hmin != wr.hmax:
            raise ValueError("zarr chunks require uniform tile dimensions")
        if wr.unknown:
            raise ValueError(
                f"{wr.unknown} tiles carry a species code outside the engine's "
                f"species list {[c for c, _ in SPECIES]}"
            )
        n_layers, tw, th = wr.smax + 1, wr.wmin, wr.hmin
        gw, gh = (wr.txmax + 1) * tw, (wr.tymax + 1) * th
        _write_array_meta(
            path, array, [n_layers, gh, gw], [1, th, tw], level, zarr_format,
            _root_attrs(n_layers, gw, gh), codec,
        )

    return _write_staged(
        decode.with_tile_meta(tiles), path, array, level, zarr_format, finish,
        codec=codec,
    ).n


# the reference's array-locating fallbacks (forest_metrics.py:118-196:
# "biomass", then "data", then "species")
ARRAY_FALLBACKS = ("biomass", "data", "species")


def detect_zarr_format(path: str) -> int:
    """3 if the group has a ``zarr.json`` document, 2 if ``.zgroup``."""
    if os.path.exists(os.path.join(path, "zarr.json")):
        return 3
    if os.path.exists(os.path.join(path, ".zgroup")):
        return 2
    raise ValueError(f"{path} is not a zarr group (no zarr.json or .zgroup)")


def _is_data_array(adir: str) -> bool:
    if os.path.exists(os.path.join(adir, ".zarray")):
        return True
    zj = os.path.join(adir, "zarr.json")
    if os.path.exists(zj):
        with open(zj) as fh:
            doc = json.load(fh)
        # v3 groups hold 1-D species_codes/names arrays too — the data
        # array is the 3-D one (ref _load_zarr_array shape contract)
        return doc.get("node_type") == "array" and len(doc.get("shape", ())) == 3
    return False


def find_array(path: str) -> str:
    """Locate the data array inside a zarr group (v2 or v3) the way the
    reference's _load_zarr_array does: try the known names in order, else
    the first child directory holding an array document."""
    for name in ARRAY_FALLBACKS:
        if _is_data_array(os.path.join(path, name)):
            return name
    for name in sorted(os.listdir(path)):
        if _is_data_array(os.path.join(path, name)):
            return name
    raise ValueError(f"no zarr array found under {path}")


def read_zarr_array_meta(path: str, array: str = "biomass") -> tuple[dict, dict]:
    """(.zarray, .zattrs) JSON documents of a v2 array, validated for the
    supported subset (v2, C order, <f4, zlib-or-raw)."""
    adir = os.path.join(path, array)
    with open(os.path.join(adir, ".zarray")) as fh:
        zarray = json.load(fh)
    if zarray.get("zarr_format") != 2:
        raise ValueError("not a Zarr v2 array")
    if zarray.get("order") != "C" or zarray.get("dtype") != "<f4":
        raise ValueError("unsupported zarr array layout (need C-order <f4)")
    comp = zarray.get("compressor")
    if comp is not None and comp.get("id") not in ("zlib", "blosc"):
        raise ValueError(
            f"unsupported zarr compressor {comp!r} (zlib, blosc-lz4, or raw)"
        )
    if comp is not None and comp.get("id") == "blosc":
        # the pure-python blosc codec covers LZ4 (+byte-shuffle) only —
        # the reference's default; other cnames refuse loudly
        if comp.get("cname", "lz4") not in ("lz4", "lz4hc"):
            raise ValueError(
                f"unsupported blosc cname {comp.get('cname')!r} (lz4 only)"
            )
    attrs = {}
    zattrs = os.path.join(adir, ".zattrs")
    if os.path.exists(zattrs):
        with open(zattrs) as fh:
            attrs = json.load(fh)
    return zarray, attrs


class ZarrMeta(NamedTuple):
    version: int
    shape: list[int]
    chunks: list[int]
    compressor: str | None  # "zlib" | "gzip" | "blosc" | None (raw)
    attrs: dict  # root attrs overlaid with array attrs
    root: dict  # root-group attrs alone (the reference's georeference)
    # chunk-key encoding: ("v2", ".") flat i.j.k names (all v2 stores),
    # ("default", "/") nested c/i/j/k (v3 default), ("default", ".")
    # flat c.i.j.k, ("v2", "/") nested i/j/k
    key_enc: tuple[str, str] = ("v2", ".")


def zarr_meta(path: str, array: str | None = None) -> ZarrMeta:
    """Version-normalized array metadata: auto-detects v2/v3, validates the
    supported layout subset, merges root-group attrs (reference layout,
    zarr_utils.py:721-726) with array-level attrs (array wins)."""
    version = detect_zarr_format(path)
    if array is None:
        array = find_array(path)
    if version == 2:
        zarray, attrs = read_zarr_array_meta(path, array)
        root_attrs = {}
        rz = os.path.join(path, ".zattrs")
        if os.path.exists(rz):
            with open(rz) as fh:
                root_attrs = json.load(fh)
        comp = zarray.get("compressor")
        return ZarrMeta(
            2, list(zarray["shape"]), list(zarray["chunks"]),
            comp.get("id") if comp else None, {**root_attrs, **attrs},
            root_attrs,
        )
    with open(os.path.join(path, array, "zarr.json")) as fh:
        doc = json.load(fh)
    if doc.get("zarr_format") != 3 or doc.get("node_type") != "array":
        raise ValueError(f"{array}/zarr.json is not a Zarr v3 array document")
    if doc.get("data_type") != "float32":
        raise ValueError("unsupported v3 data_type (float32 only)")
    grid = doc.get("chunk_grid", {})
    if grid.get("name") != "regular":
        raise ValueError("unsupported v3 chunk grid (regular only)")
    enc = doc.get("chunk_key_encoding", {"name": "default"})
    enc_name = enc.get("name", "default")
    sep = enc.get("configuration", {}).get("separator",
                                           "/" if enc_name == "default" else ".")
    # "default": keys are c<sep>i<sep>j<sep>k; "v2": bare i.j.k names
    if enc_name not in ("default", "v2") or sep not in ("/", "."):
        raise ValueError(
            f"unsupported v3 chunk key encoding {enc_name!r} sep {sep!r}"
        )
    chain = doc.get("codecs", [])
    names = [c.get("name") for c in chain]
    if not chain or names[0] != "bytes":
        raise ValueError("unsupported v3 codec chain (must start with 'bytes')")
    if chain[0].get("configuration", {}).get("endian", "little") != "little":
        raise ValueError("unsupported v3 byte order (little-endian only)")
    if names[1:] not in ([], ["gzip"], ["blosc"]):
        raise ValueError(
            f"unsupported v3 codec chain {names!r} (bytes[+gzip|+blosc-lz4])"
        )
    if "blosc" in names:
        # the reference's own compressor (zarr_utils.py:702-705), decoded
        # by the pure-python blosc-lz4 codec (gridfia_spark/blosc.py);
        # cnames beyond lz4 refuse loudly
        bcfg = chain[names.index("blosc")].get("configuration", {})
        if bcfg.get("cname", "lz4") not in ("lz4", "lz4hc"):
            raise ValueError(
                f"unsupported blosc cname {bcfg.get('cname')!r} (lz4 only)"
            )
    root_attrs = {}
    with open(os.path.join(path, "zarr.json")) as fh:
        root_attrs = json.load(fh).get("attributes", {})
    comp = "gzip" if "gzip" in names else ("blosc" if "blosc" in names else None)
    return ZarrMeta(
        3, list(doc["shape"]), list(grid["configuration"]["chunk_shape"]),
        comp,
        {**root_attrs, **doc.get("attributes", {})},
        root_attrs,
        (enc_name, sep),
    )


def _check_grid(m: ZarrMeta, where: str) -> None:
    """Refuse a store the engine would place on the wrong ground: the tile
    operators put every chunk on the canonical grid (``constants.CRS``,
    ``X0``/``Y0``/``PIX``), so a root or array-level ``crs``, ``transform``
    (allclose, rtol=1e-5, in the root's Affine or the array's GDAL order)
    or ``bounds`` that says otherwise raises ``ValueError``. The
    reference makes the same allclose checks before an append
    (zarr_utils.py:792-806). A missing attr passes."""
    _, gh, gw = (int(x) for x in m.shape)
    affine_t = [PIX, 0.0, X0, 0.0, -PIX, Y0]
    gdal_t = [X0, PIX, 0.0, Y0, 0.0, -PIX]
    want_b = [X0, Y0 - gh * PIX, X0 + gw * PIX, Y0]
    for attrs in (m.root, m.attrs):
        crs = attrs.get("crs", CRS)
        if crs != CRS:
            raise ValueError(f"{where}: crs mismatch (store {crs!r}, grid {CRS!r})")
        got_t = attrs.get("transform", affine_t)
        if len(got_t) != 6 or not (
            np.allclose(got_t, affine_t, rtol=1e-5)
            or np.allclose(got_t, gdal_t, rtol=1e-5)
        ):
            raise ValueError(
                f"{where}: transform mismatch (store {got_t}, grid {affine_t})"
            )
        got_b = attrs.get("bounds", want_b)
        if len(got_b) != 4 or not np.allclose(got_b, want_b, rtol=1e-5):
            raise ValueError(
                f"{where}: bounds mismatch (store {got_b}, grid {want_b})"
            )


def read_zarr_store(
    spark: SparkSession,
    path: str,
    array: str | None = None,
    species: list[int] | None = None,
) -> DataFrame:
    """Distributed Zarr scan (v2 or v3, auto-detected) -> engine tile rows
    (image_id, bytes, w, h, fmt, caption, phash). ``array=None`` locates
    the data array via the reference's fallback order (biomass -> data ->
    species). ``species=[...]`` prunes at the LISTING level — v2 via a
    chunk-name glob, v3 via the ``c/<s>/`` key-prefix DIRECTORIES (the
    Zarr analogue of partition pruning: non-matching chunk files are never
    opened, the P1/P2 layer slice for free).

    Every column but ``phash`` is a JVM projection of the ``binaryFile``
    scan: ``(s, ty, tx)`` from the chunk key (``regexp_extract``),
    ``image_id``/``caption`` from the store's species codes and names
    (``format_string``), and ``bytes`` is the stored chunk itself — a zlib
    chunk IS a ``rawz`` tile (``codecs.decode`` inflates any level), an
    uncompressed one a ``raw32`` tile; ``phash`` is a pandas-UDF column
    Catalyst prunes when no consumer reads it, so a zlib store feeds
    ``metrics.metric_layers`` with no Python before its exchange. Gzip and
    blosc chunks pass one ``mapInPandas`` that re-encodes them to ``rawz``
    and computes ``phash`` from the same decode.

    A store whose ``crs``, ``transform`` or ``bounds`` attr is off the
    canonical grid raises ``ValueError`` here (``_check_grid``), and so
    does a layer whose species code is outside ``constants.SPECIES`` (the
    tile operators place tiles by that grid and layers by that list); a
    chunk whose layer index is beyond the store's code list fails the
    scan."""
    if array is None:
        array = find_array(path)
    m = zarr_meta(path, array)
    _check_grid(m, "read_zarr_store")
    _, th, tw = (int(c) for c in m.chunks)
    known = dict(SPECIES)
    codes = [str(c) for c in m.attrs.get("species_codes") or known]
    names = list(m.attrs.get("species_names") or [])
    names = [names[i] if i < len(names) else known.get(c, c) for i, c in enumerate(codes)]
    wanted = sorted({int(s) for s in species}) if species is not None else None
    for i in wanted if wanted is not None else range(len(codes)):
        if i < len(codes) and codes[i] not in known:
            raise ValueError(
                f"species code {codes[i]!r} (layer {i} of {path}) is not in "
                f"the engine's species list {list(known)}"
            )
    reader = spark.read.format("binaryFile")
    enc_name, sep = m.key_enc
    adir = os.path.join(path, array)
    if sep == ".":
        # flat names in the array dir: i.j.k (v2 encoding) or c.i.j.k
        pre = "c." if enc_name == "default" else ""
        if wanted is None:
            glob = f"{pre}[0-9]*"
        elif len(wanted) == 1:
            glob = f"{pre}{wanted[0]}.*"
        else:
            glob = pre + "{" + ",".join(str(s) for s in wanted) + "}.*"
        files = reader.option("pathGlobFilter", glob).load(adir)
        key = "/" + pre.replace(".", r"\.") + r"(\d+)\.(\d+)\.(\d+)$"
    else:
        # nested keys: c/i/j/k (v3 default) or i/j/k (v2 encoding) —
        # species pruning happens at the DIRECTORY listing level
        base = os.path.join(adir, "c") if enc_name == "default" else adir
        reader = reader.option("recursiveFileLookup", "true").option(
            "pathGlobFilter", "[0-9]*"  # leaf is the tx index; skips zarr.json
        )
        if wanted is None:
            files = reader.load(base)
        else:
            files = reader.load([os.path.join(base, str(s)) for s in wanted])
        key = r"/(\d+)/(\d+)/(\d+)$"
    # chunk files are tiny (a compressed tile each) but the default
    # open-cost packing schedules ~one file per task; a consumer's Python
    # stage over those partitions pays a fixed worker set-up per task (an
    # identity 4-task stage takes ~0.2 s on 4 cores once the zipcache
    # guard drops PySpark's per-task zip re-reads, 0.12-0.30 s). A NARROW
    # coalesce (no shuffle, plan stays map-only) to one partition per
    # core packs many chunks per task; it never increases the partition
    # count, so a small store is left as it is
    files = files.select("path", "content").coalesce(
        spark.sparkContext.defaultParallelism
    )
    s, ty, tx = (F.regexp_extract("path", key, i).cast("int") for i in (1, 2, 3))
    code = F.coalesce(
        F.try_element_at(F.array(*map(F.lit, codes)), s + 1),
        F.raise_error(F.format_string(
            "zarr chunk %s: layer %d is beyond the "
            f"{len(codes)} species codes of the store", "path", s,
        )),
    )
    name = F.try_element_at(F.array(*map(F.lit, names)), s + 1)
    compressor = m.compressor

    def phash64(raw: bytes) -> int:
        from ..datagen import pixels as pxgen

        return pxgen.phash64(np.frombuffer(raw, "<f4").reshape(th, tw))

    if compressor in ("gzip", "blosc"):
        # Python must touch every chunk to re-encode it as rawz, so phash
        # rides the same pass and each chunk is decoded once
        def to_rawz(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                raws = [_decode_chunk_bytes(bytes(c), compressor) for c in pdf["content"]]
                yield pd.DataFrame({
                    "path": pdf["path"],
                    "content": [zlib.compress(r, 5) for r in raws],
                    "phash": [phash64(r) for r in raws],
                })

        files = files.mapInPandas(to_rawz, "path string, content binary, phash long")
        phash = F.col("phash")
    else:

        @F.pandas_udf("long")
        def phash_udf(content: pd.Series) -> pd.Series:
            return content.map(lambda c: phash64(_decode_chunk_bytes(bytes(c), compressor)))

        phash = phash_udf("content")

    return files.select(
        F.format_string(IMAGE_ID_FMT, code, tx, ty).alias("image_id"),
        F.col("content").alias("bytes"),
        F.lit(tw).alias("w"),
        F.lit(th).alias("h"),
        F.lit("raw32" if compressor is None else "rawz").alias("fmt"),
        F.format_string(CAPTION_FMT, code, name, tx, ty).alias("caption"),
        phash.alias("phash"),
    )


def _decode_chunk_bytes(raw: bytes, compressor: str | None) -> bytes:
    """Decompress one stored chunk file to its raw C-order bytes;
    ``None`` means an uncompressed store."""
    if compressor == "zlib":
        return zlib.decompress(raw)
    if compressor == "gzip":
        return _gzip.decompress(raw)
    if compressor == "blosc":
        from .. import blosc as _blosc

        return _blosc.decode_chunk(raw)
    return raw


def validate_store(path: str, array: str | None = None) -> dict:
    """Validate and summarize an on-disk store, either dialect — the
    engine form of the reference's ``validate_zarr_store``
    (zarr_utils.py:1028-1065): same summary keys (path/shape/chunks/
    dtype/compression/num_species/crs/bounds/species) plus a chunk-file
    census (expected vs found per layer) and an ``errors`` list; purely
    driver-side metadata + listing work, no chunk is opened. A store off
    the canonical grid (``_check_grid``, which ``read_zarr_store``
    enforces) is invalid, with the mismatch in ``errors``."""
    info: dict = {"path": path, "errors": []}
    try:
        if array is None:
            array = find_array(path)
        m = zarr_meta(path, array)
    except (OSError, ValueError, KeyError) as exc:
        info["errors"].append(str(exc))
        info["valid"] = False
        return info
    n_layers, gh, gw = (int(x) for x in m.shape)
    _, th, tw = (int(c) for c in m.chunks)
    info.update(
        shape=tuple(m.shape),
        chunks=tuple(m.chunks),
        dtype="float32",
        compression=m.compressor,
        num_species=int(m.attrs.get("num_species", n_layers)),
        crs=m.root.get("crs"),
        bounds=m.root.get("bounds"),
        species=[],
    )
    codes = m.attrs.get("species_codes", [])
    names_l = m.attrs.get("species_names", [])
    for i in range(min(info["num_species"], len(codes))):
        nm = names_l[i] if i < len(names_l) else dict(SPECIES).get(codes[i], codes[i])
        info["species"].append({"index": i, "code": str(codes[i]), "name": str(nm)})
    # chunk-file census per layer (listing only — no chunk opened)
    per_layer = (-(-gh // th)) * (-(-gw // tw))
    enc_name, sep = m.key_enc
    adir = os.path.join(path, array)
    found: dict[int, int] = {}
    if sep == ".":
        pre = "c." if enc_name == "default" else ""
        for name in os.listdir(adir):
            if pre and not name.startswith(pre):
                continue
            parts = name[len(pre):].split(".")
            if len(parts) == 3 and all(p.isdigit() for p in parts):
                found[int(parts[0])] = found.get(int(parts[0]), 0) + 1
    else:
        base = os.path.join(adir, "c") if enc_name == "default" else adir
        if os.path.isdir(base):
            for s in os.listdir(base):
                if not s.isdigit():
                    continue
                n = sum(
                    len(files)
                    for _, _, files in os.walk(os.path.join(base, s))
                )
                found[int(s)] = n
    try:
        _check_grid(m, "validate_store")
    except ValueError as exc:
        info["errors"].append(str(exc))
    info["chunks_per_layer_expected"] = per_layer
    info["chunks_per_layer_found"] = dict(sorted(found.items()))
    for s, n in found.items():
        if s >= n_layers:
            info["errors"].append(f"layer {s} outside declared shape {n_layers}")
        elif n > per_layer:
            info["errors"].append(f"layer {s}: {n} chunks > expected {per_layer}")
    info["valid"] = not info["errors"]
    return info


def append_layer(
    tiles: DataFrame,
    path: str,
    species_code: str,
    species_name: str,
    array: str | None = None,
    level: int = 6,
    validate_alignment: bool = True,
) -> int:
    """In-place append of ONE species layer to an EXISTING on-disk store —
    the engine form of the reference's ``append_species_to_zarr``
    (zarr_utils.py:754-818): chunk writes for the new layer are fully
    distributed (tasks write only the new layer's chunk files; existing
    chunks are untouched), the driver updates only the JSON metadata, and
    ``validate_alignment`` runs the store's grid check (``_check_grid``:
    the reference's ``np.allclose`` checks on transform/bounds, :792-806,
    and the CRS) before the chunk-dimension contract. Works on both v2 and
    v3 stores (auto-detected). Returns the layer index the species was
    written at."""
    if array is None:
        array = find_array(path)
    m = zarr_meta(path, array)
    if validate_alignment:
        _check_grid(m, "append_layer")
    n_layers, gh, gw = (int(x) for x in m.shape)
    _, th, tw = (int(c) for c in m.chunks)
    meta = decode.with_tile_meta(tiles)
    info = meta.agg(
        F.min("w").alias("w"), F.max("w").alias("wmax"),
        F.min("h").alias("h"), F.max("h").alias("hmax"),
        F.max("tx").alias("txmax"), F.max("ty").alias("tymax"),
        F.count("*").alias("n"),
    ).first()
    if info.n == 0:
        raise ValueError("append_layer: empty tile set")
    if info.w != info.wmax or info.h != info.hmax:
        raise ValueError("append_layer: tiles must have uniform dimensions")
    if (int(info.w), int(info.h)) != (tw, th):
        raise ValueError(
            f"append_layer: tile dims ({info.w}, {info.h}) != store chunks "
            f"({tw}, {th})"
        )
    if (int(info.txmax) + 1) * tw > gw or (int(info.tymax) + 1) * th > gh:
        raise ValueError("append_layer: tile extent exceeds the store grid")
    if m.compressor is None:
        raise ValueError(
            "append_layer: uncompressed stores are not supported for "
            "in-place append (both engine write dialects compress)"
        )
    # reference semantics: num_species tracks the filled prefix of a
    # possibly pre-allocated array; dense engine stores have it == shape[0]
    idx = int(m.attrs.get("num_species", n_layers))
    new_n = max(n_layers, idx + 1)
    codes = list(m.attrs.get("species_codes", [c for c, _ in SPECIES[:n_layers]]))
    names = list(m.attrs.get("species_names", [n for _, n in SPECIES[:n_layers]]))
    codes, names = codes[:idx] + [species_code], names[:idx] + [species_name]
    _write_staged(
        meta, path, array, level, m.version,
        lambda _: _write_array_meta(
            path, array, [new_n, gh, gw], [1, th, tw], level, m.version,
            _root_attrs(new_n, gw, gh, codes, names), m.compressor,
        ),
        layer=idx, codec=m.compressor,
    )
    return idx
