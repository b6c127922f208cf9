"""Driver-facing product/statistics queries added in round 2: the
rendering-free map product (ref mapper.py:128-158, api.py:503-703),
threshold/presence/total-consistency kernels (SURVEY A6/A10/A12), and the
bootstrap percentile CI (ref parallel_processing.py:352) — all oracle-checked.

Registered into the shared registry (imported from queries_io).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import geom
from .constants import SPECIES, X0, Y0, spec_for_sf_dir
from .datagen import oracle_sql as osql
from .datagen import tiles as tgen
from .operators import decode, metrics, render, zonal
from .localdf import local_df
from .queries import _join_res, q
from .queries_ext import _t


# ===================================================================
# Map product: percentile stretch + clip + colormap index (W2/W3/J4)
# ===================================================================


def _o_render(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    tw, th = spec.tile_w, spec.tile_h
    codes = ",".join(f"({i},'{c}')" for i, (c, _) in enumerate(SPECIES) if i > 0)
    return f"""WITH {osql.val_cte(spec)},
b AS (
  SELECT s, ROUND(quantile_cont(v, 0.02), 6) AS p2,
         ROUND(quantile_cont(v, 0.98), 6) AS p98
  FROM val GROUP BY s
),
idx AS (
  SELECT v.s, v.gx, v.gy,
         CASE WHEN b.p98 > b.p2
              THEN floor(least(greatest((v.v - b.p2) / (b.p98 - b.p2), 0.0), 1.0) * 255.0)
              ELSE 0.0 END AS i
  FROM val v JOIN b ON v.s = b.s
),
spn(s, code) AS (SELECT * FROM (VALUES {codes}) t(s, code))
SELECT printf('r_sp%s_tx%03d_ty%03d', n.code,
              (gx // {tw})::INT, (gy // {th})::INT) AS image_id,
       CAST(MIN(i) AS DOUBLE) AS vmin,
       CAST(MAX(i) AS DOUBLE) AS vmax,
       CAST(SUM(i) AS DOUBLE) AS vsum,
       CAST(SUM(CASE WHEN i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonzero,
       COUNT(*)::BIGINT AS npx
FROM idx JOIN spn n ON idx.s = n.s
GROUP BY n.code, gx // {tw}, gy // {th}"""


@q("render_layers", _o_render)
def render_layers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendering-free map product (ref mapper.py:128-158, api.py:503-703):
    per-species 2-98 percentile stretch -> clip -> 256-level colormap index,
    re-encoded as raster tile rows; per-tile stats of the rendered index."""
    tiles = tgen.ensure_tiles(spark, sf_dir)
    bounds = render.stretch_bounds(tiles, species=[1, 2, 3, 4, 5])
    rendered = render.render_layers(tiles, bounds)
    out = decode.decode_stats(rendered)
    return out.select("image_id", "vmin", "vmax", "vsum", "nonzero", "npx")


# ===================================================================
# Threshold / presence / total-consistency kernels (A6/A10/A12)
# ===================================================================


def _o_thresh_presence(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    return f"""WITH {osql.val_cte(spec)}
SELECT gx, gy,
       CAST(CASE WHEN SUM(v) > 10 THEN 1 ELSE 0 END AS BIGINT) AS above_t10,
       CAST(SUM(CASE WHEN s = 3 AND v > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pres_s3,
       -- the stored total layer IS the species sum by data contract
       -- (zarr_utils.py:1003-1019); the engine must measure |delta| = 0
       CAST(0.0 AS DOUBLE) AS total_abs_diff
FROM val GROUP BY gx, gy"""


@q("threshold_presence_pixel", _o_thresh_presence)
def threshold_presence_pixel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pixel biomass-threshold mask (A10, biomass.py:257-270),
    single-species presence (A12, species.py:105-114) and stored-total vs
    species-sum |delta| (A6, biomass.py:74-85) in one shared kernel pass."""
    tiles = tgen.ensure_tiles(spark, sf_dir)
    specs = [
        metrics.MetricSpec("above_t10", "biomass_threshold", {"threshold": 10.0}, "long"),
        metrics.MetricSpec("pres_s3", "species_presence", {"species_index": 3}, "long"),
        metrics.MetricSpec("total_abs_diff", "total_biomass_comparison", {}, "double"),
    ]
    out = metrics.metric_layers(tiles, specs)
    return out.select(
        "gx", "gy", "above_t10", "pres_s3",
        F.round("total_abs_diff", 6).alias("total_abs_diff"),
    )


# ===================================================================
# Dense-polygon zonal via the fully distributed covering path (J1 at
# large-polygon-side scale)
# ===================================================================

N_SUBGRID = 6


def _subcounty_bounds(sf_dir: str) -> list[tuple[str, float, float, float, float]]:
    """Deterministic NxN rect sub-county grid over the raster extent —
    computed once in float64 so the engine and the oracle share bit-equal
    bounds."""
    spec = spec_for_sf_dir(sf_dir)
    w_m, h_m = spec.gw * 30.0, spec.gh * 30.0
    wc, hc = w_m / N_SUBGRID, h_m / N_SUBGRID
    out = []
    for j in range(N_SUBGRID):
        for i in range(N_SUBGRID):
            out.append(
                (f"S{j}{i}", X0 + i * wc, Y0 - (j + 1) * hc, X0 + (i + 1) * wc, Y0 - j * hc)
            )
    return out


def _o_zonal_many(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    rows = ",\n    ".join(
        f"('{pid}',{xmin!r},{ymin!r},{xmax!r},{ymax!r})"
        for pid, xmin, ymin, xmax, ymax in _subcounty_bounds(sf_dir)
    )
    return f"""WITH {osql.total_cte(spec)},
subc(poly_id, xmin, ymin, xmax, ymax) AS (
  SELECT * FROM (VALUES
    {rows}
  ) t(poly_id, xmin, ymin, xmax, ymax)
)
SELECT c.poly_id AS poly_id,
       COUNT(*)::BIGINT AS n_px,
       CAST(SUM(t.v) AS DOUBLE) AS sum_v,
       CAST(MAX(t.v) AS DOUBLE) AS max_v,
       CAST(SUM(CASE WHEN t.v > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonzero_px
FROM total t JOIN subc c
  ON t.x > c.xmin AND t.x < c.xmax AND t.y > c.ymin AND t.y < c.ymax
GROUP BY c.poly_id"""


@q("zonal_many_polygons", _o_zonal_many)
def zonal_many_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal stats over a dense polygon grid via the FULLY distributed
    DataFrame path (zonal.zonal_stats_dist): the polygon covering itself
    runs in-cluster (spatial_join.polygon_cells_dist inside mapInPandas) —
    no driver-side covering or collect — the plan zonal_stats takes for a
    large polygon side (millions of polygons)."""
    tiles = tgen.ensure_tiles(spark, sf_dir)
    rows = [
        (pid, pid.lower(), bytearray(geom.polygon_to_wkb(
            geom.rect_polygon(xmin, ymin, xmax, ymax))),
         xmin, ymin, xmax, ymax, True)
        for pid, xmin, ymin, xmax, ymax in _subcounty_bounds(sf_dir)
    ]
    polys = local_df(
        spark,
        rows,
        "poly_id string, name string, geom_wkb binary, "
        "xmin double, ymin double, xmax double, ymax double, is_rect boolean",
    )
    out = zonal.zonal_stats_dist(tiles, polys, species=0, res=_join_res(sf_dir))
    return out.select(
        "poly_id",
        F.col("n_px").cast("long"),
        F.col("sum_v").cast("double"),
        F.col("max_v").cast("double"),
        F.col("nonzero_px").cast("long"),
    )


# ===================================================================
# Explicit skew handling through the driver gate (north rule)
# ===================================================================


def _o_pip_salted(sf_dir: str) -> str:
    from .queries import _o_pip

    return _o_pip(sf_dir)


@q("pip_points_salted", _o_pip_salted)
def pip_points_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon join through the EXPLICIT salting path (north rule
    skew handling, operators/skew.py): threshold=0 forces every cell through
    the salted k=8 join against the in-cluster covering
    (spatial_join.polygon_cells_dist), so the whole query exercises hot-key
    replication + probe-side salting; rows must equal the unsalted
    pip_points oracle."""
    from .operators import skew, spatial_join

    pts = tgen.points_df(spark, sf_dir)
    polys = tgen.polygons_df(spark, sf_dir).filter(F.col("is_rect"))
    res = _join_res(sf_dir)
    cells = spatial_join.polygon_cells_dist(polys, res)
    p = spatial_join.with_point_cells(pts, res)
    cand = skew.salted_join(p, cells, on="cell_id", k=8, threshold=0)
    sure = cand.filter(F.col("fully_inside")).drop("fully_inside", "cell_id")
    maybe = cand.filter(~F.col("fully_inside")).drop("fully_inside", "cell_id")
    out = sure.unionByName(spatial_join._pip_refine(maybe, polys))
    return out.select("point_id", "poly_id")


def _skew_bounds(sf_dir: str) -> list[tuple[str, float, float, float, float]]:
    """One HOT polygon covering 7/8 x 7/8 of the raster (every covering cell
    of most tiles hits it — the deliberately skewed key distribution) plus
    two small rects in the remaining strip. Fractions are /8 so the float64
    bounds are exact and shared bit-equal with the oracle."""
    spec = spec_for_sf_dir(sf_dir)
    w_m, h_m = spec.gw * 30.0, spec.gh * 30.0
    return [
        ("HOT", X0, Y0 - 0.875 * h_m, X0 + 0.875 * w_m, Y0),
        ("EDGE_E", X0 + 0.875 * w_m, Y0 - 0.5 * h_m, X0 + w_m, Y0),
        ("EDGE_S", X0, Y0 - h_m, X0 + 0.5 * w_m, Y0 - 0.875 * h_m),
    ]


def _o_zonal_skewed(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    rows = ",\n    ".join(
        f"('{pid}',{xmin!r},{ymin!r},{xmax!r},{ymax!r})"
        for pid, xmin, ymin, xmax, ymax in _skew_bounds(sf_dir)
    )
    return f"""WITH {osql.total_cte(spec)},
zs(poly_id, xmin, ymin, xmax, ymax) AS (
  SELECT * FROM (VALUES
    {rows}
  ) t(poly_id, xmin, ymin, xmax, ymax)
)
SELECT c.poly_id AS poly_id,
       COUNT(*)::BIGINT AS n_px,
       CAST(SUM(t.v) AS DOUBLE) AS sum_v,
       CAST(MAX(t.v) AS DOUBLE) AS max_v,
       CAST(SUM(CASE WHEN t.v > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonzero_px
FROM total t JOIN zs c
  ON t.x > c.xmin AND t.x < c.xmax AND t.y > c.ymin AND t.y < c.ymax
GROUP BY c.poly_id"""


@q("zonal_skewed", _o_zonal_skewed)
def zonal_skewed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal stats under a deliberately hot key distribution (north rule
    skew handling on the TILE path): one polygon covers 7/8 x 7/8 of the
    raster, so nearly every tile's covering cells hit it. The in-cluster
    plan (zonal.zonal_stats_dist) runs its candidate cell join through
    operators/skew.salted_join (threshold=0 forces every cell through
    hot-key replication + probe salting, k=8) — rows must equal the plain
    zonal oracle; a pytest additionally pins salted == unsalted."""
    tiles = tgen.ensure_tiles(spark, sf_dir)
    rows = [
        (pid, pid.lower(), bytearray(geom.polygon_to_wkb(
            geom.rect_polygon(xmin, ymin, xmax, ymax))),
         xmin, ymin, xmax, ymax, True)
        for pid, xmin, ymin, xmax, ymax in _skew_bounds(sf_dir)
    ]
    polys = local_df(
        spark,
        rows,
        "poly_id string, name string, geom_wkb binary, "
        "xmin double, ymin double, xmax double, ymax double, is_rect boolean",
    )
    out = zonal.zonal_stats_dist(
        tiles, polys, species=0, res=_join_res(sf_dir), salted=True, salt_threshold=0
    )
    return out.select(
        "poly_id",
        F.col("n_px").cast("long"),
        F.col("sum_v").cast("double"),
        F.col("max_v").cast("double"),
        F.col("nonzero_px").cast("long"),
    )


# ===================================================================
# Iceberg-layout store roundtrip (S2 / sources/table.py)
# ===================================================================


def _o_table_layout(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    return f"""WITH {osql.tiles_cte(spec)}
SELECT substr(image_id, 3, 4) AS species_code,
       COUNT(*)::BIGINT AS n_tiles,
       MIN(image_id) AS min_id,
       MAX(image_id) AS max_id
FROM tiles GROUP BY substr(image_id, 3, 4)"""


@q("table_layout_roundtrip", _o_table_layout)
def table_layout_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-first table layer roundtrip (sources/table.py): enrich tile
    rows with the physical layout keys (species_code, tile coords, cell_id),
    write the partitioned store (Iceberg on a cluster; layout-equivalent
    Parquet here), re-read with a partition-pruned scan shape and report the
    per-species census."""
    from .sources import table as tbl

    tiles = tgen.ensure_tiles(spark, sf_dir)
    store = _cache_path(sf_dir, "store") + ".parquet"
    tbl.write_tiles(tiles, store, join_res=_join_res(sf_dir))
    # partition-column type inference strips the zero padding ('0068' -> 68);
    # Iceberg keeps the declared string type — restore it for the Parquet
    # fallback so both backends present the same schema
    back = spark.read.parquet(store).withColumn(
        "species_code", F.lpad(F.col("species_code").cast("string"), 4, "0")
    )
    return back.groupBy("species_code").agg(
        F.count("*").alias("n_tiles"),
        F.min("image_id").alias("min_id"),
        F.max("image_id").alias("max_id"),
    )


def _cache_path(sf_dir: str, name: str) -> str:
    import os

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    return os.path.join(tgen.CACHE_ROOT, f"{name}_{tag}")


# ===================================================================
# CUBE zonal aggregation (full grouping-set lattice)
# ===================================================================


def _o_zonal_cube(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    return f"""WITH {osql.val_cte(spec)},
allpx AS (
  SELECT s, v,
         {osql.X0_SQL} + gx*30.0 + 15.0 AS x,
         {osql.Y0_SQL} - gy*30.0 - 15.0 AS y
  FROM val
),
{osql.counties_cte(spec)},
joined AS (
  SELECT c.poly_id, p.s, p.v
  FROM allpx p JOIN counties c
    ON p.x > c.xmin AND p.x < c.xmax AND p.y > c.ymin AND p.y < c.ymax
)
SELECT COALESCE(poly_id, 'ALL') AS poly_id,
       COALESCE(s::VARCHAR, 'ALL') AS s,
       CAST(SUM(v) AS DOUBLE) AS sum_v,
       COUNT(*)::BIGINT AS n_px
FROM joined GROUP BY CUBE (poly_id, s)"""


@q("zonal_cube", _o_zonal_cube)
def zonal_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full grouping-set lattice via CUBE: per (county, species), per-county
    subtotals, per-species subtotals across all counties, and the grand
    total — one pass over the map-side zonal partials."""
    from . import grid
    from .constants import PIX

    tiles = tgen.ensure_tiles(spark, sf_dir)
    polys = tgen.polygons_df(spark, sf_dir).filter(F.col("is_rect"))
    res = grid.res_for_size(spec_for_sf_dir(sf_dir).tile_w * PIX * 2)
    species_tiles = tiles.filter(~F.col("image_id").startswith("sp0000"))
    part = zonal.zonal_stats(species_tiles, polys, species=None, res=res)
    return (
        part.cube("poly_id", "s")
        .agg(F.sum("sum_v").alias("sum_v"), F.sum("n_px").alias("n_px"))
        .select(
            F.coalesce(F.col("poly_id"), F.lit("ALL")).alias("poly_id"),
            F.coalesce(F.col("s").cast("string"), F.lit("ALL")).alias("s"),
            "sum_v",
            "n_px",
        )
    )


# ===================================================================
# Zonal percentiles (distribution-shape zonal family)
# ===================================================================


def _o_zonal_pct(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    return f"""WITH {osql.total_cte(spec)},
{osql.counties_cte(spec)}
SELECT c.poly_id AS poly_id,
       ROUND(quantile_cont(t.v, 0.25), 6) AS p25,
       ROUND(quantile_cont(t.v, 0.50), 6) AS p50,
       ROUND(quantile_cont(t.v, 0.90), 6) AS p90
FROM total t JOIN counties c
  ON t.x > c.xmin AND t.x < c.xmax AND t.y > c.ymin AND t.y < c.ymax
GROUP BY c.poly_id"""


@q("zonal_percentiles", _o_zonal_pct)
def zonal_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-county EXACT percentiles (p25/p50/p90) of the total-biomass pixel
    distribution — the distribution-shape zonal family beyond sum/mean
    (A19 extension).

    Scale-safe plan: pixels are integer-valued (u8z contract), so the map
    stage bincounts each (tile, poly) pair to <= |domain| (v, cnt) rows; one
    tiny groupBy merges histograms; the percentile is an interpolated
    cumulative walk (functions/histpct.py) whose float math matches DuckDB's
    quantile_cont bit-for-bit. No reducer ever buffers a zone's pixel
    population — a skewed CONUS-scale county costs the same tiny shuffle as
    a small one. For genuinely continuous data use approx_percentile's
    mergeable t-digest instead."""
    from .functions.histpct import hist_percentiles
    from .operators import broadcast_join

    tiles = tgen.ensure_tiles(spark, sf_dir)
    polys = tgen.polygons_df(spark, sf_dir).filter(F.col("is_rect"))
    hist = broadcast_join.zonal_value_hist(
        tiles, polys, species=0, res=_join_res(sf_dir)
    )
    pct = hist_percentiles(hist, ["poly_id"], {"p25": 0.25, "p50": 0.5, "p90": 0.9})
    return pct.select(
        "poly_id",
        F.round("p25", 6).alias("p25"),
        F.round("p50", 6).alias("p50"),
        F.round("p90", 6).alias("p90"),
    )


# ===================================================================
# Bootstrap percentile CI (ref parallel_processing.py:352)
# ===================================================================


def _o_bootstrap(sf_dir: str) -> str:
    return """WITH base AS (
  SELECT l_orderkey::VARCHAR || '-' || l_linenumber::VARCHAR || '-' ||
         l_partkey::VARCHAR || '-' || l_suppkey::VARCHAR || '-' ||
         CAST(l_quantity AS BIGINT)::VARCHAR AS rid,
         l_quantity::DOUBLE AS v
  FROM lineitem WHERE l_orderkey < 300 AND l_returnflag = 'A'
),
nn AS (SELECT COUNT(*) AS n FROM base),
r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY rid) - 1 AS ridx FROM base),
slots AS (
  SELECT b.i AS b, (b.i*104729 + j.i*7919 + 13) % (SELECT n FROM nn) AS ridx
  FROM generate_series(0, 199) b(i), generate_series(0, 4095) j(i)
  WHERE j.i < (SELECT n FROM nn)
),
means AS (
  SELECT s.b, AVG(r.v) AS m FROM slots s JOIN r ON s.ridx = r.ridx GROUP BY s.b
)
SELECT ROUND((SELECT AVG(v) FROM base), 6) AS obs_mean,
       ROUND(quantile_cont(m, 0.025), 6) AS ci_lo,
       ROUND(quantile_cont(m, 0.975), 6) AS ci_hi,
       200::BIGINT AS n_boot
FROM means"""


@q("bootstrap_ci", _o_bootstrap)
def bootstrap_ci_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap percentile CI of the mean quantity with deterministic,
    engine-portable integer-hash resampling (the reference's ProcessPool
    bootstrap, parallel_processing.py:352, as one distributed job)."""
    from .functions import sample_stats as ss

    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_orderkey") < 300) & (F.col("l_returnflag") == "A")
    )
    df = li.select(
        F.concat_ws(
            "-", "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
            F.col("l_quantity").cast("long"),
        ).alias("rid"),
        F.col("l_quantity").alias("v"),
    )
    # the oracle's fixed generate_series bound caps the resample width
    if df.count() > 4096:
        raise AssertionError("bootstrap base exceeds the oracle's 4096 bound")
    out = ss.bootstrap_ci(df, "v", "rid", n_boot=200)
    return out.select(
        F.round("obs_mean", 6).alias("obs_mean"),
        F.round("ci_lo", 6).alias("ci_lo"),
        F.round("ci_hi", 6).alias("ci_hi"),
        "n_boot",
    )


# ===================================================================
# Genuine image containers (PNG, JPEG) through codecs.decode
# ===================================================================


def _o_png_stats(sf_dir: str) -> str:
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
WHERE t.s IN (1, 3)
GROUP BY t.image_id"""


@q("png_tile_stats", _o_png_stats)
def png_tile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile stats through GENUINE PNG bytes: transcode each raster tile to a
    real 8-bit grayscale PNG (pure numpy+zlib codec, gridfia_spark/png.py)
    as a tile row with ``fmt='png'``, then run the engine's own
    ``decode.decode_stats`` over those rows — the same decode path every
    operator uses. Two chained map-only stages, no shuffle — proves the
    image-pipeline plumbing end-to-end on an actual media container
    format."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from . import codecs, png

    tiles = tgen.ensure_tiles(spark, sf_dir)
    meta = decode.with_tile_meta(tiles).filter(F.col("s").isin([1, 3]))
    cols = meta.select("image_id", "bytes", "w", "h", "fmt")

    def transcode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = codecs.decode(r.bytes, int(r.w), int(r.h), r.fmt)
                out.append(
                    (r.image_id, png.encode_png(arr.astype(np.uint8)),
                     int(r.w), int(r.h), "png")
                )
            yield pd.DataFrame(out, columns=["image_id", "bytes", "w", "h", "fmt"])

    pngs = cols.mapInPandas(
        transcode, "image_id string, bytes binary, w int, h int, fmt string"
    )
    return decode.decode_stats(pngs).select(
        "image_id", "vmin", "vmax", "vsum", "nonzero", "npx"
    )


# ===================================================================
# Extensibility surface through the gate (SURVEY §2.10): a USER kernel
# registered at query time runs through the shared metric pass
# ===================================================================


def _o_custom_kernel(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    return f"""WITH {osql.val_cte(spec)}
SELECT gx, gy,
       ROUND(SUM(s * v) / (1.0 + SUM(v)), 6) AS wmean_idx
FROM val GROUP BY gx, gy"""


@q("custom_kernel", _o_custom_kernel)
def custom_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plugin contract end-to-end (ref registry.py:27-56 /
    ForestCalculation): a calculation DEFINED AND REGISTERED HERE — not
    shipped with the engine — runs through the shared applyInPandas kernel
    pass. metric_layers snapshots the resolved kernel functions at plan
    time, so a closure-defined plugin reaches every worker; the registry is
    cleaned up afterwards."""
    import numpy as np

    from .functions import kernels

    @kernels.register("wmean_species_index")
    def wmean_species_index(cube: np.ndarray, parity32: bool = False) -> np.ndarray:
        sp = cube[1:].astype(np.float64)
        idx = np.arange(1, cube.shape[0], dtype=np.float64)
        return np.tensordot(idx, sp, axes=1) / (1.0 + sp.sum(axis=0))

    try:
        tiles = tgen.ensure_tiles(spark, sf_dir)
        out = metrics.metric_layers(
            tiles, [metrics.MetricSpec("wmean_idx", "wmean_species_index")]
        )
    finally:
        kernels.unregister("wmean_species_index")
    return out.select("gx", "gy", F.round("wmean_idx", 6).alias("wmean_idx"))


# ===================================================================
# Z-order (space-filling-curve) storage layout — cluster-by key + locality
# ===================================================================


def _o_zorder(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    return f"""WITH t AS (
  SELECT txs.tx AS tx, tys.ty AS ty
  FROM generate_series(0, {spec.tiles_x - 1}) txs(tx),
       generate_series(0, {spec.tiles_y - 1}) tys(ty)
),
z AS (
  SELECT tx, ty,
         CAST(SUM((((tx >> b.i) & 1) << (2*b.i))
                + (((ty >> b.i) & 1) << (2*b.i + 1))) AS BIGINT) AS zkey
  FROM t, generate_series(0, 7) b(i)
  GROUP BY tx, ty
)
SELECT zkey // 4 AS bucket,
       COUNT(*)::BIGINT AS n_tiles,
       MIN(tx)::BIGINT AS min_tx, MAX(tx)::BIGINT AS max_tx,
       MIN(ty)::BIGINT AS min_ty, MAX(ty)::BIGINT AS max_ty,
       ((MAX(tx)-MIN(tx)+1) * (MAX(ty)-MIN(ty)+1))::BIGINT AS bbox_area
FROM z GROUP BY zkey // 4"""


@q("zorder_layout", _o_zorder)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key for the tile table, computed entirely
    JVM-side with shiftleft/shiftright/bitwiseAND built-ins (no UDF), plus
    per-z-block locality stats. This is the storage-layout primitive for the
    100 TB deployment: writing tiles ordered by zkey
    (``repartitionByRange('zkey').sortWithinPartitions('zkey')``) gives every
    file a spatially-compact footprint, so parquet min/max stats on (tx, ty)
    prune bbox queries to O(touched blocks) files — same role as the
    reference's pyramid-of-tiles chunk layout (zarr_utils.py:233-268). The
    bbox_area column IS the evidence: each 4-cell z-block spans a 2x2 tile
    square, never a 1xN stripe (see tests/test_zorder.py for the row-major
    comparison)."""
    tiles = tgen.ensure_tiles(spark, sf_dir)
    t = decode.with_tile_meta(tiles).filter(F.col("s") == 1).select("tx", "ty")
    zkey = F.lit(0)
    for b in range(8):
        zkey = zkey + F.shiftleft(
            F.shiftright(F.col("tx").cast("long"), b).bitwiseAND(1), 2 * b
        ) + F.shiftleft(
            F.shiftright(F.col("ty").cast("long"), b).bitwiseAND(1), 2 * b + 1
        )
    z = t.withColumn("zkey", zkey.cast("long"))
    return (
        z.groupBy(F.shiftright("zkey", 2).alias("bucket"))
        .agg(
            F.count("*").alias("n_tiles"),
            F.min("tx").cast("long").alias("min_tx"),
            F.max("tx").cast("long").alias("max_tx"),
            F.min("ty").cast("long").alias("min_ty"),
            F.max("ty").cast("long").alias("max_ty"),
        )
        .select(
            "bucket", "n_tiles", "min_tx", "max_tx", "min_ty", "max_ty",
            (
                (F.col("max_tx") - F.col("min_tx") + 1)
                * (F.col("max_ty") - F.col("min_ty") + 1)
            ).cast("long").alias("bbox_area"),
        )
    )


def _o_approx_pct(sf_dir: str) -> str:
    return """SELECT l_returnflag,
       1::BIGINT AS p50_ok, 1::BIGINT AS p95_ok,
       COUNT(*)::BIGINT AS n
FROM lineitem GROUP BY l_returnflag"""


@q("approx_percentile_contract", _o_approx_pct)
def approx_percentile_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-data percentile scale path with a measured-error gate:
    histpct.approx_percentiles (mergeable Greenwald-Khanna sketches,
    rank error <= 1/accuracy, per-group state bounded by the sketch — the
    plan that survives a CONUS-sized zone) vs the exact per-group
    percentile, on genuinely continuous doubles (l_extendedprice). The
    oracle pins the contract booleans: each approximation must land within
    0.1% relative error of the exact quantile: the engine emits the
    measurement, the oracle the required outcome. The exact `percentile`
    aggregate here is the gate-scale VERIFIER only, never the product
    path: at deployment scale the sketch
    is the answer and the verifier runs on a sampled-down slice."""
    from .functions import histpct

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").alias("v")
    )
    approx = histpct.approx_percentiles(
        li, ["l_returnflag"], {"a50": 0.5, "a95": 0.95}
    )
    exact = li.groupBy("l_returnflag").agg(
        F.expr("percentile(v, 0.5)").alias("e50"),
        F.expr("percentile(v, 0.95)").alias("e95"),
        F.count("*").alias("n"),
    )
    j = approx.join(exact, "l_returnflag")
    ok = lambda a, e: (  # noqa: E731
        F.abs(F.col(a) - F.col(e)) / F.greatest(F.abs(F.col(e)), F.lit(1.0))
        <= 0.001
    )
    return j.select(
        "l_returnflag",
        ok("a50", "e50").cast("long").alias("p50_ok"),
        ok("a95", "e95").cast("long").alias("p95_ok"),
        "n",
    )


# ===================================================================
# Perceptual-hash image near-dup (banded Hamming join, operators/phash.py)
# ===================================================================


def _o_phash_pairs(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    tw, th = spec.tile_w, spec.tile_h
    bw, bh = max(tw // 8, 1), max(th // 8, 1)
    codes = ",".join(f"({i},'{c}')" for i, (c, _) in enumerate(SPECIES) if i > 0)
    return f"""WITH {osql.val_cte(spec)},
pxb AS (
  SELECT s, gx // {tw} AS tx, gy // {th} AS ty,
         ((gy % {th}) // {bh}) * 8 + ((gx % {tw}) // {bw}) AS blk, v
  FROM val
  WHERE (gx % {tw}) < {8 * bw} AND (gy % {th}) < {8 * bh}
),
blocks AS (
  SELECT s, tx, ty, blk, SUM(v)::BIGINT AS bsum
  FROM pxb GROUP BY s, tx, ty, blk
),
tot AS (
  SELECT s, tx, ty, SUM(bsum)::BIGINT AS tsum
  FROM blocks GROUP BY s, tx, ty
),
bandv AS (
  SELECT b.s, b.tx, b.ty, b.blk // 16 AS bi,
         SUM(CASE WHEN 64 * b.bsum > t.tsum THEN 1 ELSE 0 END
             << (15 - (b.blk % 16)))::BIGINT AS bv
  FROM blocks b JOIN tot t ON b.s = t.s AND b.tx = t.tx AND b.ty = t.ty
  GROUP BY b.s, b.tx, b.ty, b.blk // 16
),
spn(s, code) AS (SELECT * FROM (VALUES {codes}) t(s, code)),
ph AS (
  SELECT printf('sp%s_tx%03d_ty%03d', n.code, v.tx::INT, v.ty::INT) AS image_id,
         SUM(CASE WHEN bi = 0 THEN bv END)::BIGINT AS b0,
         SUM(CASE WHEN bi = 1 THEN bv END)::BIGINT AS b1,
         SUM(CASE WHEN bi = 2 THEN bv END)::BIGINT AS b2,
         SUM(CASE WHEN bi = 3 THEN bv END)::BIGINT AS b3
  FROM bandv v JOIN spn n ON v.s = n.s
  GROUP BY n.code, v.tx, v.ty
),
allp AS (
  SELECT image_id, b0, b1, b2, b3 FROM ph
  UNION ALL
  SELECT image_id || '_near', xor(b0, 1::BIGINT), b1, b2, b3 FROM ph
),
eb AS (
  SELECT image_id, 0 AS bi, b0 AS bv FROM allp UNION ALL
  SELECT image_id, 1, b1 FROM allp UNION ALL
  SELECT image_id, 2, b2 FROM allp UNION ALL
  SELECT image_id, 3, b3 FROM allp
),
cand AS (
  SELECT DISTINCT l.image_id AS id_a, r.image_id AS id_b
  FROM eb l JOIN eb r
    ON l.bi = r.bi AND l.bv = r.bv AND l.image_id < r.image_id
)
SELECT c.id_a, c.id_b,
       (bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
      + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)))::BIGINT AS hamming
FROM cand c
JOIN allp a ON a.image_id = c.id_a
JOIN allp b ON b.image_id = c.id_b
WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
    + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3"""


@q("phash_near_dup", _o_phash_pairs)
def phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs via the banded perceptual-hash Hamming
    join (operators/phash.py): integer-exact portable phash -> 4x16-bit
    bands -> band equi-join -> id-only distinct -> bit_count(xor) verify.
    Seeds a '_near' twin per image (band-0 lowest bit flipped — a hash-level
    perturbation both engines construct identically) so hamming=1 pairs are
    guaranteed present. For the <=3 threshold the band prune is loss-free
    (pigeonhole over 4 bands), so the oracle's identical formulation is an
    exact brute-force-equivalent check, not a recall argument."""
    from .operators import phash as ph

    tiles = tgen.ensure_tiles(spark, sf_dir)
    meta = decode.with_tile_meta(tiles).filter(F.col("s") > 0)
    bands = ph.portable_phash_bands(
        meta.select("image_id", "bytes", "w", "h", "fmt")
    )
    seeded = bands.unionByName(
        bands.select(
            F.concat("image_id", F.lit("_near")).alias("image_id"),
            F.col("b0").bitwiseXOR(F.lit(1)).alias("b0"),
            "b1", "b2", "b3",
        )
    )
    return ph.near_dup_pairs(seeded, max_hamming=3)


def _o_thumb(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    tw, th = spec.tile_w, spec.tile_h
    bw, bh = max(tw // 8, 1), max(th // 8, 1)
    codes = ",".join(f"({i},'{c}')" for i, (c, _) in enumerate(SPECIES) if i > 0)
    return f"""WITH {osql.val_cte(spec)},
pxb AS (
  SELECT s, gx // {tw} AS tx, gy // {th} AS ty,
         ((gy % {th}) // {bh}) * 8 + ((gx % {tw}) // {bw}) AS blk, v
  FROM val
  WHERE (gx % {tw}) < {8 * bw} AND (gy % {th}) < {8 * bh}
),
blocks AS (
  SELECT s, tx, ty, blk, SUM(v)::BIGINT AS bsum
  FROM pxb GROUP BY s, tx, ty, blk
),
spn(s, code) AS (SELECT * FROM (VALUES {codes}) t(s, code))
SELECT printf('sp%s_tx%03d_ty%03d', n.code, b.tx::INT, b.ty::INT) AS image_id,
       8 AS w, 8 AS h,
       SUM(b.bsum)::BIGINT AS blk_sum,
       SUM(CASE WHEN b.bsum > 0 THEN 1 ELSE 0 END)::BIGINT AS nonzero_blks
FROM blocks b JOIN spn n ON b.s = n.s
GROUP BY n.code, b.tx, b.ty"""


@q("thumbnail_stats", _o_thumb)
def thumbnail_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The thumbnailing stage (render.resize, block-mean 8x8) gated
    integer-exactly: each thumbnail pixel is a block mean whose scaled-back
    value round(mean * fy * fx) recovers the exact int64 block sum (block
    sums are exact in float32 — integer partials < 2^24 — so the rounding
    is loss-free). Aggregating those per image gives an exact gate THROUGH
    the real resize path, no float comparisons in the oracle. Map-only
    chain: decode -> resize -> stats, one final tiny groupBy."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    spec = spec_for_sf_dir(sf_dir)
    fy, fx = max(spec.tile_h // 8, 1), max(spec.tile_w // 8, 1)
    tiles = tgen.ensure_tiles(spark, sf_dir)
    meta = decode.with_tile_meta(tiles).filter(F.col("s") > 0)
    media = meta.select(
        F.col("image_id").alias("media_id"), "bytes", "w", "h", "fmt"
    )
    thumbs = render.resize(media, 8, 8)

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from . import codecs as cdx

        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = cdx.decode(bytes(r.bytes), int(r.w), int(r.h), r.fmt)
                scaled = np.rint(arr.astype(np.float64) * (fy * fx)).astype(
                    np.int64
                )
                out.append(
                    (r.media_id, int(r.w), int(r.h), int(scaled.sum()),
                     int((scaled > 0).sum()))
                )
            yield pd.DataFrame(
                out,
                columns=["image_id", "w", "h", "blk_sum", "nonzero_blks"],
            )

    return thumbs.mapInPandas(
        stats,
        "image_id string, w int, h int, blk_sum long, nonzero_blks long",
    )


def _o_jpeg_stats(sf_dir: str) -> str:
    spec = spec_for_sf_dir(sf_dir)
    npx = spec.tile_w * spec.tile_h
    return f"""WITH {osql.tiles_cte(spec)}
SELECT image_id, {npx}::BIGINT AS npx, 1::BIGINT AS psnr_ge_40
FROM tiles WHERE s IN (1, 2)"""


@q("jpeg_tile_stats", _o_jpeg_stats)
def jpeg_tile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The input_hint's lossy-format contract ("decoded pixels allclose,
    PSNR>=40dB for lossy fmt"), executed on a GENUINE lossy codec: each
    raster tile is transcoded to baseline JPEG (pure numpy DCT+Huffman,
    gridfia_spark/jpeg.py, quality 95), decoded back through
    ``codecs.decode(..., 'jpeg')``, and its PSNR against the original
    pixels must clear 40 dB. The oracle pins the contract flag per tile;
    the engine emits the measurement. Two chained map-only Arrow stages,
    zero shuffle."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from . import codecs as cdx
    from . import jpeg

    tiles = tgen.ensure_tiles(spark, sf_dir)
    meta = decode.with_tile_meta(tiles).filter(F.col("s").isin([1, 2]))
    cols = meta.select("image_id", "bytes", "w", "h", "fmt")

    def roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                orig = cdx.decode(bytes(r.bytes), int(r.w), int(r.h), r.fmt)
                u8 = orig.astype(np.uint8)  # u8z contract: int-valued <=255
                data = jpeg.encode_jpeg(u8, quality=95)
                dec = cdx.decode(data, int(r.w), int(r.h), "jpeg").astype(np.uint8)
                p = cdx.psnr(u8, dec)
                out.append((r.image_id, u8.size, int(p >= 40.0)))
            yield pd.DataFrame(out, columns=["image_id", "npx", "psnr_ge_40"])

    return cols.mapInPandas(
        roundtrip, "image_id string, npx long, psnr_ge_40 long"
    )


