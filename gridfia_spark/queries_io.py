"""Driver-facing IO roundtrip queries: raster-directory ingest (S1/S3/S4/S6),
total-layer accumulation (§2.7), metric/store/CSV sinks (S11/S12/S15),
batch-export manifest (S8), bbox validation (P8), and the incremental
Structured-Streaming zonal path (§2.9) — each registered with a DuckDB oracle
so the whole ingest→compute→sink surface is driver-verified end to end.

Registered into the same registry as queries.py (imported from queries_ext).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import codecs
from .constants import SPECIES, spec_for_sf_dir
from .datagen import oracle_sql as osql
from .datagen import pixels as pxgen
from .datagen import tiles as tgen
from .operators import decode, metrics
from .localdf import local_df
from .queries import _join_res, q
from .sources import ingest, sinks


def _cache(sf_dir: str, name: str) -> str:
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    return os.path.join(tgen.CACHE_ROOT, f"{name}_{tag}")


# ===================================================================
# Ingest roundtrip (S1 scan, S3/S4 append, S6 validate, §2.7 total)
# ===================================================================


def _ensure_raster_dirs(sf_dir: str) -> tuple[str, str]:
    """Materialize (once) two directories of encoded raster files in the
    reference's batch-ingest layout ``SPCD_<code>_tx<tx>_ty<ty>.bin``
    (zarr_utils.py:821-882): base = species 1..4, new = species 5."""
    spec = spec_for_sf_dir(sf_dir)
    root = _cache(sf_dir, "ingest")
    marker = os.path.join(root, "_DONE")
    if not os.path.exists(marker):
        shutil.rmtree(root, ignore_errors=True)
        for sub, srange in (("base", range(1, 5)), ("new", range(5, 6))):
            d = os.path.join(root, sub)
            os.makedirs(d, exist_ok=True)
            for s in srange:
                code = SPECIES[s][0]
                for ty in range(spec.tiles_y):
                    for tx in range(spec.tiles_x):
                        arr = pxgen.tile_pixels(s, tx, ty, spec)
                        fn = os.path.join(d, f"SPCD_{code}_tx{tx:03d}_ty{ty:03d}.bin")
                        with open(fn, "wb") as fh:
                            fh.write(codecs.encode(arr, "rawz"))
        open(marker, "w").close()
    return os.path.join(root, "base"), os.path.join(root, "new")


def _o_ingest(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    tw, th = spec.tile_w, spec.tile_h
    return f"""WITH {osql.total_cte(spec)}
SELECT printf('sp0000_tx%03d_ty%03d', (gx // {tw})::INT, (gy // {th})::INT) AS image_id,
       CAST(MIN(v) AS DOUBLE) AS vmin,
       CAST(MAX(v) AS DOUBLE) AS vmax,
       CAST(SUM(v) AS DOUBLE) AS vsum,
       CAST(SUM(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonzero,
       COUNT(*)::BIGINT AS npx
FROM total GROUP BY gx // {tw}, gy // {th}"""


@q("ingest_roundtrip", _o_ingest)
def ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster-directory ingest end to end (SURVEY S1/S3/S4/S6/§2.7; ref
    zarr_utils.py:885-1025): binaryFile scan + filename regexp -> decode with
    dimension validation -> append a second directory with collision/dim
    checks -> synthesize the total layer (per-pixel union accumulation,
    zarr_utils.py:1003-1019) -> per-tile stats of the accumulated total."""
    spec = spec_for_sf_dir(sf_dir)
    base_dir, new_dir = _ensure_raster_dirs(sf_dir)
    base = ingest.ingest_raster_dir(spark, base_dir, spec.tile_w, spec.tile_h)
    new = ingest.ingest_raster_dir(spark, new_dir, spec.tile_w, spec.tile_h)
    table = ingest.append_species(base, new)
    summary = ingest.validate_tile_table(table)
    if not summary["valid"]:
        raise AssertionError(f"ingested table failed validation: {summary}")
    with_total = ingest.with_total_layer(table)
    totals = with_total.filter(F.col("image_id").startswith("sp0000"))
    return decode.decode_stats(totals).select(
        "image_id", "vmin", "vmax", "vsum", "nonzero", "npx"
    )


# ===================================================================
# Metric sink roundtrip (S11/S12)
# ===================================================================


def _o_sink(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    tw, th = spec.tile_w, spec.tile_h
    return f"""WITH {osql.val_cte(spec)},
rich AS (
  SELECT gx, gy, SUM(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS r
  FROM val GROUP BY gx, gy
)
SELECT printf('m_richness_tx%03d_ty%03d', (gx // {tw})::INT, (gy // {th})::INT) AS image_id,
       CAST(MIN(r) AS DOUBLE) AS vmin,
       CAST(MAX(r) AS DOUBLE) AS vmax,
       CAST(SUM(r) AS DOUBLE) AS vsum,
       CAST(SUM(CASE WHEN r > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonzero,
       COUNT(*)::BIGINT AS npx
FROM rich GROUP BY gx // {tw}, gy // {th}"""


@q("sink_roundtrip", _o_sink)
def sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric sink roundtrip (SURVEY S11/S12; ref forest_metrics.py:547-637):
    per-pixel richness -> re-encode into raster tile rows (metric_to_tiles)
    -> write a partitioned Parquet store (the Zarr-store analogue) -> re-read
    -> decode stats of the re-encoded metric raster."""
    spec = spec_for_sf_dir(sf_dir)
    tiles = tgen.ensure_tiles(spark, sf_dir)
    rich = metrics.metric_layers(
        tiles, [metrics.MetricSpec("richness", "species_richness", {}, "long")]
    )
    enc = sinks.metric_to_tiles(rich, "richness", spec.tile_w, spec.tile_h)
    store = _cache(sf_dir, "sink") + ".parquet"
    enc.write.mode("overwrite").parquet(store)
    out = decode.decode_stats(spark.read.parquet(store))
    return out.select("image_id", "vmin", "vmax", "vsum", "nonzero", "npx")


# ===================================================================
# CSV report sink roundtrip (S15)
# ===================================================================


def _o_csv_report(sf_dir: str) -> str:
    from .queries_ext import _o_presence_stats

    return _o_presence_stats(sf_dir)


@q("csv_report_roundtrip", _o_csv_report)
def csv_report_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV report sink roundtrip (SURVEY S15; ref species_presence.py:
    169-191): presence report -> write_report_csv -> re-read with explicit
    schema — the persisted report must equal the in-memory one."""
    from .queries_ext import species_presence_stats

    rep = species_presence_stats(spark, sf_dir)
    path = _cache(sf_dir, "report") + ".csv"
    sinks.write_report_csv(rep, path)
    return spark.read.csv(
        path,
        header=True,
        schema="s int, n_present bigint, coverage_pct double, "
        "mean_nonzero double, max_v double",
    )


# ===================================================================
# Batch-export manifest (S8) + bbox validation (P8)
# ===================================================================


def _o_manifest(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    return f"""WITH {osql.tiles_cte(spec)}
SELECT image_id, s::INT AS s, tx::INT AS tx, ty::INT AS ty, 'rawz' AS fmt
FROM tiles"""


@q("export_manifest", _o_manifest)
def export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-export manifest fan-out (SURVEY S8; ref api.py export loop):
    one row per (species, tile) with the target encoding — the work list a
    distributed exporter partitions over."""
    return tgen.manifest_df(spark, spec_for_sf_dir(sf_dir))


def _o_bbox(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    x0, y0, x1, y1 = spec.extent
    return f"""WITH {osql.tiles_cte(spec)}
SELECT image_id, xmin, ymin, xmax, ymax,
       CAST(CASE WHEN xmin < xmax AND ymin < ymax
                  AND xmin >= {x0!r} AND xmax <= {x1!r}
                  AND ymin >= {y0!r} AND ymax <= {y1!r} THEN 1 ELSE 0 END AS INT)
         AS in_extent
FROM tiles"""


@q("bbox_validation", _o_bbox)
def bbox_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile bbox derivation + validation (SURVEY P8; ref zarr_utils.py:
    988-996): bbox columns from metadata alone (no decode), validity flag
    against the dataset extent."""
    spec = spec_for_sf_dir(sf_dir)
    x0, y0, x1, y1 = spec.extent
    meta = decode.with_tile_meta(tgen.ensure_tiles(spark, sf_dir))
    ok = (
        (F.col("xmin") < F.col("xmax"))
        & (F.col("ymin") < F.col("ymax"))
        & (F.col("xmin") >= x0)
        & (F.col("xmax") <= x1)
        & (F.col("ymin") >= y0)
        & (F.col("ymax") <= y1)
    )
    return meta.select(
        "image_id", "xmin", "ymin", "xmax", "ymax", ok.cast("int").alias("in_extent")
    )


# ===================================================================
# Incremental streaming zonal (§2.9)
# ===================================================================


def _o_streaming_zonal(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    return f"""WITH {osql.total_cte(spec)},
{osql.counties_cte(spec)}
SELECT c.poly_id AS poly_id, CAST(0 AS INT) AS s,
       COUNT(*)::BIGINT AS n_px,
       CAST(SUM(t.v) AS DOUBLE) AS sum_v,
       CAST(MAX(t.v) AS DOUBLE) AS max_v,
       CAST(SUM(CASE WHEN t.v > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonzero_px
FROM total t JOIN counties c
  ON t.x > c.xmin AND t.x < c.xmax AND t.y > c.ymin AND t.y < c.ymax
GROUP BY c.poly_id"""


@q("streaming_zonal", _o_streaming_zonal)
def streaming_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental zonal via Structured Streaming (SURVEY §2.9, engine
    extension): AvailableNow file-source pass over the tile store ->
    idempotent per-batch partial writes (batch=<id> overwrite) -> grouped
    read of the partials. The streaming answer must equal the batch plan —
    checked against the same oracle as the flagship zonal query."""
    from .streaming import incremental as inc

    tgen.ensure_tiles(spark, sf_dir)  # materialize the parquet store
    tiles_path = tgen.tiles_path(sf_dir)
    work = _cache(sf_dir, "stream")
    shutil.rmtree(work, ignore_errors=True)
    polys = tgen.polygons_df(spark, sf_dir).filter(F.col("is_rect"))
    inc.incremental_zonal(
        spark, tiles_path, polys, work, species=0, res=_join_res(sf_dir)
    )
    out = inc.zonal_result(spark, work)
    return out.select("poly_id", "s", "n_px", "sum_v", "max_v", "nonzero_px")


# ===================================================================
# NetCDF dataset content (S13; ref forest_metrics.py:603-637)
# ===================================================================


def _o_netcdf_coords(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    return f"""SELECT 'x' AS axis, i AS idx, {osql.X0_SQL} + i * 30.0 AS coord
FROM generate_series(0, {spec.gw - 1}) t(i)
UNION ALL
SELECT 'y' AS axis, j AS idx, {osql.Y0_SQL} - j * 30.0 AS coord
FROM generate_series(0, {spec.gh - 1}) t(j)"""


@q("netcdf_coords", _o_netcdf_coords)
def netcdf_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 coordinate parity: the xarray-convention coordinate arrays the
    reference's NetCDF sink derives from the affine
    (forest_metrics.py:614-620, transform applied to index vectors -> pixel
    edges). Exact float64 both sides."""
    spec = spec_for_sf_dir(sf_dir)
    tiles = tgen.ensure_tiles(spark, sf_dir)
    rich = metrics.metric_layers(
        tiles, [metrics.MetricSpec("richness", "species_richness", {}, "long")]
    )
    coords, _var, attrs = sinks.netcdf_dataset(rich, "richness", spec.gw, spec.gh)
    assert attrs["crs"]  # the dataset carries its CRS attr
    return coords


def _o_netcdf_variable(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    return f"""WITH {osql.val_cte(spec)}
SELECT {osql.Y0_SQL} - gy * 30.0 AS y,
       {osql.X0_SQL} + gx * 30.0 AS x,
       CAST(SUM(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS BIGINT) AS richness
FROM val GROUP BY gx, gy"""


@q("netcdf_variable", _o_netcdf_variable)
def netcdf_variable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 variable parity: the metric layer keyed by the NetCDF coordinate
    arrays (y, x) instead of pixel indices — what xarray stores as the data
    variable."""
    spec = spec_for_sf_dir(sf_dir)
    tiles = tgen.ensure_tiles(spark, sf_dir)
    rich = metrics.metric_layers(
        tiles, [metrics.MetricSpec("richness", "species_richness", {}, "long")]
    )
    _coords, var, _attrs = sinks.netcdf_dataset(rich, "richness", spec.gw, spec.gh)
    return var


def _o_geotiff(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    tw, th = spec.tile_w, spec.tile_h
    return f"""WITH {osql.val_cte(spec)},
{osql.tiles_cte(spec)}
SELECT t.image_id AS image_id,
       CAST(MIN(p.v) AS DOUBLE) AS vmin,
       CAST(MAX(p.v) AS DOUBLE) AS vmax,
       CAST(SUM(p.v) AS DOUBLE) AS vsum,
       CAST(SUM(CASE WHEN p.v > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonzero,
       COUNT(*)::BIGINT AS npx,
       t.xmin AS xmin, t.ymax AS ymax
FROM val p JOIN tiles t
  ON p.s = t.s AND p.gx // {tw} = t.tx AND p.gy // {th} = t.ty
WHERE t.s IN (2, 4)
GROUP BY t.image_id, t.xmin, t.ymax"""


@q("geotiff_roundtrip", _o_geotiff)
def geotiff_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S11 through GENUINE GeoTIFF bytes (ref forest_metrics.py:547-601
    export / fia_client.py GeoTIFF ingest): each raster tile becomes a
    real deflate-compressed float32 GeoTIFF with its own affine tiepoint
    and CRS citation (pure-python codec, gridfia_spark/tiff.py), then is
    decoded back through the container — pixel stats AND the
    georeferencing columns (xmin, ymax) are derived from the RE-READ
    file's GeoTIFF keys, so the oracle gates both the raster payload and
    the spatial metadata. Two chained map-only stages, no shuffle."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from . import tiff
    from .constants import CRS, PIX

    tiles = tgen.ensure_tiles(spark, sf_dir)
    meta = decode.with_tile_meta(tiles).filter(F.col("s").isin([2, 4]))
    cols = meta.select("image_id", "bytes", "w", "h", "fmt", "xmin", "ymax")

    def transcode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = codecs.decode(r.bytes, int(r.w), int(r.h), r.fmt)
                blob = tiff.encode_geotiff(
                    arr.astype(np.float32), float(r.xmin), float(r.ymax), PIX, CRS
                )
                out.append((r.image_id, blob))
            yield pd.DataFrame(out, columns=["image_id", "tif"])

    media = cols.mapInPandas(transcode, "image_id string, tif binary")

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr, m = tiff.decode_geotiff(bytes(r.tif))
                if m["crs"] != CRS or m["pixel"] != PIX:
                    raise ValueError(f"georeferencing lost: {m}")
                vals = arr.astype(np.float64)
                out.append(
                    (
                        r.image_id,
                        float(vals.min()),
                        float(vals.max()),
                        float(vals.sum()),
                        int((vals > 0).sum()),
                        vals.size,
                        float(m["origin"][0]),
                        float(m["origin"][1]),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "image_id", "vmin", "vmax", "vsum", "nonzero", "npx",
                    "xmin", "ymax",
                ],
            )

    return media.mapInPandas(
        stats,
        "image_id string, vmin double, vmax double, vsum double, "
        "nonzero long, npx long, xmin double, ymax double",
    )


def _o_geotiff_ingest(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    tw, th = spec.tile_w, spec.tile_h
    return f"""WITH {osql.val_cte(spec)},
{osql.tiles_cte(spec)}
SELECT t.image_id AS image_id,
       CAST(MIN(p.v) AS DOUBLE) AS vmin,
       CAST(MAX(p.v) AS DOUBLE) AS vmax,
       CAST(SUM(p.v) AS DOUBLE) AS vsum,
       CAST(SUM(CASE WHEN p.v > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonzero,
       COUNT(*)::BIGINT AS npx
FROM val p JOIN tiles t
  ON p.s = t.s AND p.gx // {tw} = t.tx AND p.gy // {th} = t.ty
WHERE t.s = 2
GROUP BY t.image_id"""


@q("geotiff_ingest", _o_geotiff_ingest)
def geotiff_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 literal under the driver gate: a directory of GENUINE GeoTIFF
    files (materialized once per scale from the deterministic pixel math,
    each with its own affine tiepoint) ingested through
    ingest.ingest_raster_dir's .tif path — per-tile stats of the ingested
    rows must equal the exact pixel oracle."""
    from . import tiff
    from .constants import CRS, PIX, X0, Y0

    spec = spec_for_sf_dir(sf_dir)
    root = _cache(sf_dir, "geotiff_ingest")
    marker = os.path.join(root, "_DONE")
    if not os.path.exists(marker):
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        code = SPECIES[2][0]
        import numpy as np

        for ty in range(spec.tiles_y):
            for tx in range(spec.tiles_x):
                arr = pxgen.tile_pixels(2, tx, ty, spec).astype(np.float32)
                blob = tiff.encode_geotiff(
                    arr,
                    X0 + tx * spec.tile_w * PIX,
                    Y0 - ty * spec.tile_h * PIX,
                    PIX,
                    CRS,
                )
                fn = os.path.join(root, f"SPCD_{code}_tx{tx:03d}_ty{ty:03d}.tif")
                with open(fn, "wb") as fh:
                    fh.write(blob)
        open(marker, "w").close()
    table = ingest.ingest_raster_dir(spark, root, spec.tile_w, spec.tile_h)
    return decode.decode_stats(table).select(
        "image_id", "vmin", "vmax", "vsum", "nonzero", "npx"
    )


def _o_zarr_store(sf_dir: str) -> str:
    from .queries import _o_decode_stats

    return _o_decode_stats(sf_dir)


@q("zarr_store_roundtrip", _o_zarr_store)
def zarr_store_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 through a GENUINE Zarr v2 store (ref zarr_utils.py:259-320, the
    reference's core storage abstraction): tile rows -> distributed chunk
    write (every task writes its own ``s.ty.tx`` chunk file through the
    zlib codec; driver writes only the .zgroup/.zarray/.zattrs JSON) ->
    distributed binaryFile scan back to tile rows -> per-tile decode
    stats. The oracle is the same full-layer pixel math as
    tile_decode_stats, so the store write+scan must be bit-lossless."""
    import shutil as _sh

    from .sources import zarrstore

    spec = spec_for_sf_dir(sf_dir)
    tiles = tgen.ensure_tiles(spark, sf_dir)
    store = _cache(sf_dir, "zarrstore") + ".zarr"
    _sh.rmtree(store, ignore_errors=True)
    n = zarrstore.write_zarr_store(tiles, store)
    assert n == (len(SPECIES)) * spec.tiles_x * spec.tiles_y, n
    zarray, attrs = zarrstore.read_zarr_array_meta(store)
    assert zarray["chunks"] == [1, spec.tile_h, spec.tile_w]
    assert zarray["shape"] == [len(SPECIES), spec.gh, spec.gw]
    assert attrs["crs"] and attrs["transform"][1] == 30.0
    back = zarrstore.read_zarr_store(spark, store)
    return decode.decode_stats(back).select(
        "image_id", "s", "vmin", "vmax", "vsum", "nonzero", "npx"
    )


def _o_zarr_slice(sf_dir: str) -> str:
    from .queries_products import _o_png_stats

    return _o_png_stats(sf_dir)


@q("zarr_layer_slice", _o_zarr_slice)
def zarr_layer_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2 layer slice executed as STORAGE pruning (ref zarr_utils.py:
    530-556 ``biomass[idx]``): the species filter compiles into a
    pathGlobFilter over Zarr chunk NAMES, so chunks of other layers are
    never opened — asserted in-query via inputFiles(). Stats of the two
    selected layers must equal the exact pixel oracle."""
    import os as _os
    import shutil as _sh

    from .sources import zarrstore

    spec = spec_for_sf_dir(sf_dir)
    store = _cache(sf_dir, "zarrslice") + ".zarr"
    marker = _os.path.join(store, "_DONE")
    if not _os.path.exists(marker):
        _sh.rmtree(store, ignore_errors=True)
        tiles = tgen.ensure_tiles(spark, sf_dir)
        zarrstore.write_zarr_store(tiles, store)
        open(marker, "w").close()
    back = zarrstore.read_zarr_store(spark, store, species=[1, 3])
    n_files = len(back.inputFiles())
    per_layer = spec.tiles_x * spec.tiles_y
    assert n_files == 2 * per_layer, f"pruning failed: {n_files} files listed"
    return decode.decode_stats(back).select(
        "image_id", "vmin", "vmax", "vsum", "nonzero", "npx"
    )


@q("zarr_v3_roundtrip", _o_zarr_store)
def zarr_v3_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/S12 through the reference's ACTUAL on-disk dialect — Zarr v3
    (zarr_utils.py:698-745: ``zarr.open_group`` v3 API): per-node
    ``zarr.json`` metadata, ``c/s/ty/tx`` default chunk keys, spec
    bytes+gzip codec chain, reference-layout root attrs (crs / Affine-order
    transform / bounds / num_species / species lists). Distributed chunk
    write -> auto-detected distributed scan back -> per-tile decode stats
    against the same exact pixel oracle as the v2 roundtrip, so the v3
    write+scan must be bit-lossless too."""
    import json as _json
    import shutil as _sh

    from .sources import zarrstore

    spec = spec_for_sf_dir(sf_dir)
    tiles = tgen.ensure_tiles(spark, sf_dir)
    store = _cache(sf_dir, "zarrv3") + ".zarr"
    _sh.rmtree(store, ignore_errors=True)
    n = zarrstore.write_zarr_store(tiles, store, zarr_format=3)
    assert n == len(SPECIES) * spec.tiles_x * spec.tiles_y, n
    assert zarrstore.detect_zarr_format(store) == 3
    m = zarrstore.zarr_meta(store)
    assert m.version == 3 and m.compressor == "gzip"
    assert m.chunks == [1, spec.tile_h, spec.tile_w]
    assert m.shape == [len(SPECIES), spec.gh, spec.gw]
    # reference-layout root attrs: Affine order (a,b,c,d,e,f)
    with open(os.path.join(store, "zarr.json")) as fh:
        rattrs = _json.load(fh)["attributes"]
    assert rattrs["transform"][0] == 30.0 and rattrs["transform"][2] == -2_000_000.0
    assert rattrs["num_species"] == len(SPECIES)
    back = zarrstore.read_zarr_store(spark, store)
    return decode.decode_stats(back).select(
        "image_id", "s", "vmin", "vmax", "vsum", "nonzero", "npx"
    )


def _o_geotiff_strip_scan(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    return f"""WITH {osql.val_cte(spec)},
r AS (SELECT gx, gy, SUM(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS rich
      FROM val GROUP BY gx, gy)
SELECT gy // 16 AS strip,
       COUNT(*)::BIGINT AS n_px,
       CAST(SUM(rich) AS DOUBLE) AS sum_v,
       CAST(MAX(rich) AS DOUBLE) AS max_v,
       SUM(CASE WHEN rich > 0 THEN 1 ELSE 0 END)::BIGINT AS nonzero
FROM r GROUP BY gy // 16"""


@q("geotiff_strip_scan", _o_geotiff_strip_scan)
def geotiff_strip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed scan of ONE single-file GeoTIFF — the COG range-read
    pattern end to end: richness layer -> multi-strip sharded export
    (``write_geotiff(rows_per_strip=16)``, each band independently
    deflated with its offset in the IFD) -> ``read_geotiff_strips`` (the
    driver reads ONLY the IFD tail; every task range-reads and inflates
    its own strips) -> per-strip stats, gated against the exact pixel
    oracle. Proves a huge exported raster scans back at full cluster
    parallelism instead of through one reader."""
    from .sources import ingest as _ingest

    spec = spec_for_sf_dir(sf_dir)
    path = _cache(sf_dir, "stripscan") + ".tif"
    if not os.path.exists(path):
        tiles = tgen.ensure_tiles(spark, sf_dir)
        rich = metrics.metric_layers(
            tiles, [metrics.MetricSpec("richness", "species_richness", {}, "long")]
        )
        sinks.write_geotiff(
            rich, "richness", spec.gw, spec.gh, path,
            rows_per_strip=16, return_bytes=False,
        )
    from . import tiff as _tiff

    lay = _tiff.read_geotiff_layout(path)
    assert lay["rows_per_strip"] == 16 and len(lay["offsets"]) == -(-spec.gh // 16)
    px = _ingest.read_geotiff_strips(spark, path)
    return (
        px.groupBy((F.col("gy") / 16).cast("long").alias("strip"))
        .agg(
            F.count("*").alias("n_px"),
            F.sum("v").cast("double").alias("sum_v"),
            F.max("v").cast("double").alias("max_v"),
            F.sum((F.col("v") > 0).cast("long")).alias("nonzero"),
        )
        .select("strip", "n_px", "sum_v", "max_v", "nonzero")
    )


@q("zarr_blosc_roundtrip", _o_zarr_store)
def zarr_blosc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's store VERBATIM — Zarr v3 with Blosc1-LZ4+shuffle
    chunks (``zarr.codecs.BloscCodec(cname='lz4', shuffle='shuffle')``,
    zarr_utils.py:702-705) — written and read through the pure-python
    blosc codec (gridfia_spark/blosc.py: public c-blosc chunk layout +
    LZ4 block format). Distributed chunk write -> auto-detected scan back
    -> per-tile decode stats against the same exact pixel oracle, so the
    blosc encode/decode must be bit-lossless end to end."""
    import shutil as _sh

    from .sources import zarrstore

    spec = spec_for_sf_dir(sf_dir)
    tiles = tgen.ensure_tiles(spark, sf_dir)
    store = _cache(sf_dir, "zarrblosc") + ".zarr"
    _sh.rmtree(store, ignore_errors=True)
    n = zarrstore.write_zarr_store(tiles, store, zarr_format=3, codec="blosc")
    assert n == len(SPECIES) * spec.tiles_x * spec.tiles_y, n
    m = zarrstore.zarr_meta(store)
    assert m.version == 3 and m.compressor == "blosc"
    # the chunk bytes really are c-blosc layout: LZ4 code + shuffle flag
    from . import blosc as B

    probe = os.path.join(store, "biomass", "c", "0", "0", "0")
    hdr = open(probe, "rb").read(16)
    assert (hdr[2] >> 5) & 0x7 == B.CODEC_LZ4 and hdr[3] == 4
    assert hdr[2] & (B.FLAG_SHUFFLE | B.FLAG_MEMCPY)
    back = zarrstore.read_zarr_store(spark, store)
    return decode.decode_stats(back).select(
        "image_id", "s", "vmin", "vmax", "vsum", "nonzero", "npx"
    )


@q("zarr_append_layer", _o_zarr_store)
def zarr_append_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 in-place lifecycle against a PERSISTED store (ref
    append_species_to_zarr, zarr_utils.py:754-818): create a v3 store
    missing the last species, then append that species' tiles as a new
    layer — distributed chunk writes for the new layer only, driver-side
    metadata update, alignment validated the reference's way
    (transform/bounds allclose). The full re-read store must match the
    same all-layers pixel oracle, so the append is gated end to end."""
    import shutil as _sh

    from .sources import zarrstore

    spec = spec_for_sf_dir(sf_dir)
    tiles = tgen.ensure_tiles(spark, sf_dir)
    last_code, last_name = SPECIES[-1]
    store = _cache(sf_dir, "zarrappend") + ".zarr"
    _sh.rmtree(store, ignore_errors=True)
    base = tiles.filter(~F.col("image_id").startswith(f"sp{last_code}"))
    extra = tiles.filter(F.col("image_id").startswith(f"sp{last_code}"))
    zarrstore.write_zarr_store(base, store, zarr_format=3)
    assert zarrstore.zarr_meta(store).shape[0] == len(SPECIES) - 1
    idx = zarrstore.append_layer(extra, store, last_code, last_name)
    assert idx == len(SPECIES) - 1, idx
    m = zarrstore.zarr_meta(store)
    assert m.shape[0] == len(SPECIES) and m.attrs["num_species"] == len(SPECIES)
    assert m.attrs["species_codes"][-1] == last_code
    back = zarrstore.read_zarr_store(spark, store)
    return decode.decode_stats(back).select(
        "image_id", "s", "vmin", "vmax", "vsum", "nonzero", "npx"
    )


def _o_netcdf_container(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    return f"""WITH {osql.val_cte(spec)},
r AS (SELECT gx, gy, SUM(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS rich
      FROM val GROUP BY gx, gy)
SELECT 'x' AS part, {spec.gw}::BIGINT AS n,
       {osql.X0_SQL}::DOUBLE AS lo,
       ({osql.X0_SQL} + {spec.gw - 1} * 30.0)::DOUBLE AS hi,
       ({osql.X0_SQL} + {spec.gw // 2} * 30.0)::DOUBLE AS chk
UNION ALL
SELECT 'y', {spec.gh}::BIGINT,
       ({osql.Y0_SQL} - {spec.gh - 1} * 30.0)::DOUBLE,
       {osql.Y0_SQL}::DOUBLE,
       ({osql.Y0_SQL} - {spec.gh // 2} * 30.0)::DOUBLE
UNION ALL
SELECT 'richness', COUNT(*)::BIGINT, MIN(rich)::DOUBLE, MAX(rich)::DOUBLE,
       SUM(rich)::DOUBLE
FROM r"""


@q("netcdf_container", _o_netcdf_container)
def netcdf_container(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 physical container roundtrip (ref forest_metrics.py:603-637):
    richness layer -> sinks.write_netcdf -> genuine NetCDF-3 classic bytes
    on disk -> re-parsed with the same struct codec (netcdf3.read_netcdf3)
    — the emitted rows are derived ONLY from the re-read file, so the
    oracle gates magic/header/coords/variable content end to end."""
    from . import netcdf3
    from .constants import CRS, UNITS

    spec = spec_for_sf_dir(sf_dir)
    tiles = tgen.ensure_tiles(spark, sf_dir)
    rich = metrics.metric_layers(
        tiles, [metrics.MetricSpec("richness", "species_richness", {}, "long")]
    )
    path = _cache(sf_dir, "richness") + ".nc"
    sinks.write_netcdf(rich, "richness", spec.gw, spec.gh, path)
    with open(path, "rb") as f:
        blob = f.read()
    assert blob[:4] == b"CDF\x01"
    dims, vars_, gattrs, _vattrs = netcdf3.read_netcdf3(blob)
    assert gattrs["crs"] == CRS and gattrs["units"] == UNITS
    assert dims == {"y": spec.gh, "x": spec.gw}
    x, y = vars_["x"][1], vars_["y"][1]
    rz = vars_["richness"][1]
    assert vars_["richness"][0] == ("y", "x")
    import numpy as np

    rows = [
        ("x", int(x.size), float(x.min()), float(x.max()), float(x[x.size // 2])),
        ("y", int(y.size), float(y.min()), float(y.max()), float(y[y.size // 2])),
        (
            "richness",
            int(rz.size),
            float(rz.min()),
            float(rz.max()),
            float(rz.sum(dtype=np.int64)),
        ),
    ]
    return local_df(
        spark, rows, "part string, n bigint, lo double, hi double, chk double"
    )


def _o_config_run(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    return f"""WITH {osql.val_cte(spec)},
t AS (SELECT gx, gy, CAST(SUM(v) AS DOUBLE) AS total,
             SUM(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS rich
      FROM val GROUP BY gx, gy),
sh AS (
  SELECT v.gx, v.gy,
         SUM(CASE WHEN v.v > 0 THEN -(v.v / t.total) * ln(v.v / t.total) ELSE 0 END) AS shannon,
         SUM(CASE WHEN v.v > 0 THEN (v.v / t.total) * (v.v / t.total) ELSE 0 END) AS sumsq
  FROM val v JOIN t ON v.gx = t.gx AND v.gy = t.gy AND t.total > 0
  GROUP BY v.gx, v.gy
),
mx AS (
  SELECT t.gx, t.gy, t.rich,
         COALESCE(sh.shannon, 0.0) AS shannon,
         CASE WHEN sh.sumsq IS NOT NULL THEN 1.0 / sh.sumsq ELSE 1.0 END AS simpson
  FROM t LEFT JOIN sh ON t.gx = sh.gx AND t.gy = sh.gy
)
SELECT 'richness' AS output, COUNT(*)::BIGINT AS n_px,
       ROUND(MAX(rich)::DOUBLE, 6) AS max_v,
       CAST(SUM(rich) AS DOUBLE) AS chk
FROM mx
UNION ALL
SELECT 'shannon', COUNT(*)::BIGINT,
       ROUND(CAST(CAST(MAX(shannon) AS REAL) AS DOUBLE), 6),
       SUM(CASE WHEN shannon > 0 THEN 1 ELSE 0 END)::DOUBLE
FROM mx
UNION ALL
SELECT 'simpson', COUNT(*)::BIGINT,
       ROUND(MAX(simpson), 6), ROUND(AVG(simpson), 6)
FROM mx"""


@q("config_run", _o_config_run)
def config_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-driven analysis run end to end (ref config_templates.py +
    location_config.py:44-102 YAML configs): load the repo's example
    analysis config from its YAML TWIN (the reference's actual config
    dialect, parsed by the stdlib-only subset loader in yamlite.py),
    assert it decodes to the SAME document as the JSON form, then execute
    config.run_analysis — one shared kernel pass fanned out to
    tile-parquet and CSV sinks — and derive every emitted row from the
    PERSISTED outputs (re-read parquet tiles decoded through the codec;
    re-read CSV summary), so the oracle gates the whole YAML config →
    compute → sink → artifact path.

    Tile-parquet probes compare through the float32 tile codec (max via a
    REAL cast on the oracle side); the CSV summary carries float64."""
    from . import config as cfgmod

    ex_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "examples"
    )
    cfg = cfgmod.load_config(os.path.join(ex_dir, "analysis_config.yaml"))
    jcfg = cfgmod.load_config(os.path.join(ex_dir, "analysis_config.json"))
    jd, yd = cfgmod.to_dict(jcfg), cfgmod.to_dict(cfg)
    jd.pop("description"), yd.pop("description")  # twin-marker text differs
    assert jd == yd, "YAML twin decodes differently from the JSON config"
    cfg.output_dir = _cache(sf_dir, "config_run")
    tiles = tgen.ensure_tiles(spark, sf_dir)
    res = cfgmod.run_analysis(spark, tiles, cfg)
    rows = []
    for out_name in ("richness", "shannon"):
        st = (
            decode.decode_stats(spark.read.parquet(res[out_name]))
            .agg(
                F.sum("npx").alias("n"),
                F.sum("nonzero").alias("nz"),
                F.max("vmax").alias("mx"),
                F.sum("vsum").alias("sm"),
            )
            .first()
        )
        chk = float(st.sm) if out_name == "richness" else float(st.nz)
        rows.append((out_name, int(st.n), round(float(st.mx), 6), chk))
    c = spark.read.csv(
        res["simpson"],
        header=True,
        schema="vmin double, vmax double, vmean double, n_px bigint",
    ).first()
    rows.append(
        ("simpson", int(c.n_px), round(float(c.vmax), 6), round(float(c.vmean), 6))
    )
    return local_df(
        spark, rows, "output string, n_px bigint, max_v double, chk double"
    )


# product/statistics queries (render, threshold kernels, bootstrap CI) —
# imported last so their @q registrations land in the shared registry
from . import queries_products  # noqa: E402,F401
