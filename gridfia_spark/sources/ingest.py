"""Ingestion sources: raster-file directory scan + append with validation.

The Spark recast of the reference's ETL path (SURVEY §3.3):
api.create_zarr / batch_append_species_from_dir become a ``binaryFile`` scan
+ filename regex + decode/validate UDF + (for the total layer) a per-pixel
union-aggregate across species rows — exactly the accumulation at
zarr_utils.py:1003-1019.

The scan ingests BOTH the engine's own codec files (``.bin``, raw32/rawz)
and genuine GeoTIFF files (``.tif``) — both through ``codecs.decode``
(fmt ``tiff`` is the pure-python GeoTIFF codec, gridfia_spark/tiff.py), so
the reference's actual interchange format needs no external library.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import codecs
from ..constants import SPECIES, caption as mk_caption
from ..datagen import pixels as pxgen


def ingest_raster_dir(
    spark: SparkSession, path: str, tile_w: int, tile_h: int, fmt: str = "rawz"
) -> DataFrame:
    """Scan a directory of raster tiles named
    ``SPCD_<code>_tx<tx>_ty<ty>.{bin,tif}`` into the canonical tile table.

    Mirrors the filename→species matching of batch_append_species_from_dir
    (zarr_utils.py:821-882) and api.py:370-389: regexp on input_file_name,
    decode + dimension validation in one vectorized pass. ``.tif`` files
    are genuine GeoTIFFs (codec fmt ``tiff``, S1 literal); ``.bin`` files
    use the engine codec ``fmt``."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.{bin,tif}")
        .load(path)
        .select(
            F.regexp_extract(F.col("path"), r"SPCD_(\d{4})_", 1).alias("code"),
            F.regexp_extract(F.col("path"), r"_tx(\d+)_", 1).cast("int").alias("tx"),
            F.regexp_extract(F.col("path"), r"_ty(\d+)\.(?:bin|tif)$", 1)
            .cast("int")
            .alias("ty"),
            F.col("path"),
            F.col("content"),
        )
        .filter(F.col("code") != "")
    )
    # small raster files + default open-cost packing = ~one task per file;
    # a NARROW coalesce (no shuffle) packs them into one Python task per
    # core — the same fix as the Zarr chunk scan (read_zarr_store)
    files = files.coalesce(spark.sparkContext.defaultParallelism)
    code_to_name = dict(SPECIES)

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("image_id", "bytes", "w", "h", "fmt", "caption", "phash")}
            for r in pdf.itertuples(index=False):
                src = "tiff" if r.path.endswith(".tif") else fmt
                arr = codecs.decode(r.content, tile_w, tile_h, src)  # validates dims
                name = code_to_name.get(r.code, "Unknown")
                out["image_id"].append(f"sp{r.code}_tx{int(r.tx):03d}_ty{int(r.ty):03d}")
                out["bytes"].append(codecs.encode(arr, fmt))
                out["w"].append(tile_w)
                out["h"].append(tile_h)
                out["fmt"].append(fmt)
                out["caption"].append(mk_caption(r.code, name, int(r.tx), int(r.ty)))
                out["phash"].append(pxgen.phash64(arr))
            yield pd.DataFrame(out)

    from ..datagen.tiles import TILE_SCHEMA

    return files.mapInPandas(build, TILE_SCHEMA)


def read_geotiff_strips(spark: SparkSession, path: str) -> DataFrame:
    """Distributed scan of ONE strip-organized GeoTIFF — the
    Cloud-Optimized-GeoTIFF range-read pattern: the driver reads ONLY the
    IFD (tiff.read_geotiff_layout, a tail seek — never the pixel data);
    each task range-reads and inflates its own strips. Output is dense
    pixel rows (gx int, gy int, v double), the engine's metric_px shape —
    so a single huge exported raster scans back at full cluster
    parallelism instead of through one reader. Pairs with
    ``sinks.write_geotiff(rows_per_strip=...)``."""
    import zlib

    from .. import tiff

    lay = tiff.read_geotiff_layout(path)
    w, comp = int(lay["w"]), int(lay["compression"])
    bits, sfmt = int(lay["bits"]), int(lay["sfmt"])
    if (bits, sfmt) == (8, 1):
        dt = np.dtype(np.uint8)
    elif (bits, sfmt) == (32, 3):
        dt = np.dtype("<f4")
    else:
        raise ValueError(f"unsupported sample layout bits={bits} fmt={sfmt}")
    rps, h = int(lay["rows_per_strip"]), int(lay["h"])
    specs = [
        (i, int(off), int(cnt), i * rps, min(rps, h - i * rps))
        for i, (off, cnt) in enumerate(zip(lay["offsets"], lay["counts"]))
    ]
    from ..localdf import local_df

    df = local_df(
        spark, specs, "strip int, off long, cnt long, row0 int, nrows int"
    )
    par = min(len(specs), spark.sparkContext.defaultParallelism) or 1
    df = df.repartition(par)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        with open(path, "rb") as fh:
            for pdf in batches:
                for r in pdf.itertuples(index=False):
                    fh.seek(r.off)
                    blob = fh.read(r.cnt)
                    raw = zlib.decompress(blob) if comp == 8 else blob
                    arr = np.frombuffer(raw, dt).reshape(int(r.nrows), w)
                    gy, gx = np.indices(arr.shape)
                    yield pd.DataFrame(
                        {
                            "gx": gx.ravel().astype(np.int32),
                            "gy": (gy.ravel() + int(r.row0)).astype(np.int32),
                            "v": arr.ravel().astype(np.float64),
                        }
                    )

    return df.mapInPandas(scan, "gx int, gy int, v double")


def append_species(existing: DataFrame, new: DataFrame) -> DataFrame:
    """Append new species tiles with alignment validation (the Spark form of
    append_species_to_zarr's transform/bounds allclose + dim checks,
    zarr_utils.py:787-806): dims of new rows must match existing, ids must
    not collide. Raises ValueError on violation."""
    dims = existing.select("w", "h").distinct().collect()
    new_dims = new.select("w", "h").distinct().collect()
    if len(dims) == 1 and {(r.w, r.h) for r in new_dims} - {(dims[0].w, dims[0].h)}:
        raise ValueError(
            f"dimension mismatch: table is {(dims[0].w, dims[0].h)}, "
            f"append has {[(r.w, r.h) for r in new_dims]}"
        )
    dup = new.join(existing, "image_id", "leftsemi").limit(1).collect()
    if dup:
        raise ValueError(f"duplicate image_id on append: {dup[0].image_id}")
    return existing.unionByName(new)


def with_total_layer(species_tiles: DataFrame, fmt: str = "rawz") -> DataFrame:
    """Synthesize the precomputed total layer (code '0000') as the per-pixel
    union-aggregate of all species rows of each tile — the distributed form
    of the running-total accumulation at zarr_utils.py:1003-1019."""
    from ..operators import decode as dec

    meta = dec.with_tile_meta(species_tiles).filter(F.col("s") > 0)
    cols = meta.select("bytes", "w", "h", "fmt", "tx", "ty")

    def total(pdf: pd.DataFrame) -> pd.DataFrame:
        w, h = int(pdf["w"].iloc[0]), int(pdf["h"].iloc[0])
        tx, ty = int(pdf["tx"].iloc[0]), int(pdf["ty"].iloc[0])
        acc = np.zeros((h, w), dtype=np.float32)
        for r in pdf.itertuples(index=False):
            acc += codecs.decode(r.bytes, r.w, r.h, r.fmt)
        return pd.DataFrame(
            {
                "image_id": [f"sp0000_tx{tx:03d}_ty{ty:03d}"],
                "bytes": [codecs.encode(acc, fmt)],
                "w": [w],
                "h": [h],
                "fmt": [fmt],
                "caption": [mk_caption("0000", "Total Biomass", tx, ty)],
                "phash": [pxgen.phash64(acc)],
            }
        )

    from ..datagen.tiles import TILE_SCHEMA

    totals = cols.groupBy("tx", "ty").applyInPandas(total, TILE_SCHEMA)
    return species_tiles.unionByName(totals)


def validate_tile_table(tiles: DataFrame) -> dict:
    """Structure check -> summary dict (the Spark form of validate_zarr_store,
    zarr_utils.py:1028-1065): schema fields, dim consistency, species census,
    caption parse."""
    from ..datagen.tiles import TILE_SCHEMA

    errors = []
    want = {f.name: f.dataType.simpleString() for f in TILE_SCHEMA}
    got = {f.name: f.dataType.simpleString() for f in tiles.schema}
    for k, t in want.items():
        if k not in got:
            errors.append(f"missing column {k}")
        elif got[k] != t:
            errors.append(f"column {k}: expected {t}, got {got[k]}")
    summary = {"valid": not errors, "errors": errors}
    if errors:
        return summary
    agg = tiles.agg(
        F.count("*").alias("n"),
        F.countDistinct("image_id").alias("n_ids"),
        F.countDistinct("w", "h").alias("n_dims"),
        F.countDistinct(F.regexp_extract("image_id", r"^sp(\d{4})_", 1)).alias("n_species"),
        F.sum((~F.col("caption").rlike("^species=.*;crs=.*;units=.*$")).cast("int")).alias("bad_captions"),
    ).first()
    summary.update(
        n_images=agg.n, n_species=agg.n_species, dims_consistent=agg.n_dims == 1,
        ids_unique=agg.n_ids == agg.n, bad_captions=agg.bad_captions,
    )
    summary["valid"] = (
        summary["dims_consistent"] and summary["ids_unique"] and agg.bad_captions == 0
    )
    return summary
