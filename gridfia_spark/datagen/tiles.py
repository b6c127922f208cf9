"""Spark-side deterministic tile-table generator (SURVEY §7 M0).

Builds the canonical Iceberg-shaped input table
``(image_id, bytes, w, h, fmt, caption, phash)`` as a pure function of
``image_id`` — generation happens distributed, inside ``mapInPandas``, so the
generator itself exercises the engine's vectorized-UDF path and scales with
partitions (at 10^12-image scale the same code runs off a manifest of ids).

Replaces the reference's network ingestion
(/root/reference/gridfia/external/fia_client.py:490-578) per SURVEY §2.1 S7.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .. import codecs
from ..constants import SPECIES, GridSpec, caption, spec_for_sf_dir
from . import pixels, vectors

TILE_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("bytes", BinaryType(), False),
        StructField("w", IntegerType(), False),
        StructField("h", IntegerType(), False),
        StructField("fmt", StringType(), False),
        StructField("caption", StringType(), False),
        StructField("phash", LongType(), False),
    ]
)


def manifest_df(spark: SparkSession, spec: GridSpec, fmt: str = "rawz") -> DataFrame:
    """The id manifest: one row per (species, tile), in (s, ty, tx) order.
    ``fmt='mixed'`` assigns a lossy format to a deterministic quarter of
    tiles (for PSNR-gate tests).

    Built from ``spark.range`` with integer ``div``/``%`` (exact for any
    grid), so no row list ever sits on the driver. One partition keeps the
    (s, ty, tx) order through ``generate_tiles``' hash repartition."""
    per_layer = spec.tiles_y * spec.tiles_x
    s = F.expr(f"id div {per_layer}").cast("int")
    ty = F.expr(f"(id % {per_layer}) div {spec.tiles_x}").cast("int")
    tx = (F.col("id") % spec.tiles_x).cast("int")
    codes = F.array(*[F.lit(code) for code, _ in SPECIES])
    iid = F.format_string("sp%s_tx%03d_ty%03d", F.element_at(codes, s + 1), tx, ty)
    if fmt == "mixed":
        f = F.when((tx + ty + s) % 4 == 3, "qnt8").otherwise("rawz")
    else:
        f = F.lit(fmt)
    return spark.range(0, len(SPECIES) * per_layer, 1, 1).select(
        iid.alias("image_id"), s.alias("s"), tx.alias("tx"), ty.alias("ty"),
        f.alias("fmt"),
    )


def generate_tiles(spark: SparkSession, spec: GridSpec, fmt: str = "rawz") -> DataFrame:
    """Distributed generation: manifest -> mapInPandas(encode) -> tile rows."""
    tw, th = spec.tile_w, spec.tile_h
    spec_args = (spec.tiles_x, spec.tiles_y, tw, th)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gspec = GridSpec(*spec_args)
        for pdf in batches:
            out = {k: [] for k in ("image_id", "bytes", "w", "h", "fmt", "caption", "phash")}
            for iid, s, tx, ty, f in zip(
                pdf["image_id"], pdf["s"], pdf["tx"], pdf["ty"], pdf["fmt"]
            ):
                px = pixels.tile_pixels(int(s), int(tx), int(ty), gspec)
                code, name = SPECIES[int(s)]
                out["image_id"].append(iid)
                out["bytes"].append(codecs.encode(px, f))
                out["w"].append(tw)
                out["h"].append(th)
                out["fmt"].append(f)
                out["caption"].append(caption(code, name, int(tx), int(ty)))
                out["phash"].append(pixels.phash64(px))
            yield pd.DataFrame(out)

    m = manifest_df(spark, spec, fmt)
    # many small-ish files: fine-grained tasks load-balance the skewed
    # per-tile work (boundary tiles run PIP, interior ones don't) across
    # task waves — 64 files for 32 cores left ~28% of cores idle on
    # straggler waves
    n_part = min(max(spec.n_images // 64, min(spec.n_images, 32)), 256)
    # partition by tile coords: all species layers of a tile share a file,
    # so per-tile work (PIP masks, metric cubes) co-locates without shuffles
    return m.repartition(n_part, "tx", "ty").mapInPandas(gen, TILE_SCHEMA)


# ------------------------------------------------------------------ cache

CACHE_ROOT = os.environ.get(
    "GRIDFIA_CACHE",
    os.path.normpath(os.path.join(os.path.dirname(os.path.abspath(__file__)), "../../.cache")),
)


def _sf_tag(sf_dir: str) -> str:
    return sf_dir.rstrip("/").rsplit("/", 1)[-1]


def tiles_path(sf_dir: str, fmt: str = "rawz") -> str:
    """On-disk location of the materialized tile table for a scale factor."""
    return os.path.join(CACHE_ROOT, f"tiles_{_sf_tag(sf_dir)}_{fmt}.parquet")


def ensure_tiles(spark: SparkSession, sf_dir: str, fmt: str = "rawz") -> DataFrame:
    """Materialize (once) and read the tile table for a scale factor.

    On the cluster this is the Iceberg table scan; here it is a partitioned
    Parquet directory with identical schema and layout.
    """
    spec = spec_for_sf_dir(sf_dir)
    path = tiles_path(sf_dir, fmt)
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        generate_tiles(spark, spec, fmt).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def polygons_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon dimension table (FIXTURES.md §2): tiny, broadcast side."""
    spec = spec_for_sf_dir(sf_dir)
    from ..localdf import local_df

    rows = []
    for p in vectors.all_polygons(spec):
        xmin, ymin, xmax, ymax = p.bounds
        rows.append((p.poly_id, p.name, bytes(p.wkb), xmin, ymin, xmax, ymax, p.is_rect))
    return local_df(
        spark,
        rows,
        "poly_id string, name string, geom_wkb binary, "
        "xmin double, ymin double, xmax double, ymax double, is_rect boolean",
    )


def points_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN / PIP query points (FIXTURES.md §3)."""
    spec = spec_for_sf_dir(sf_dir)
    sf = _sf_tag(sf_dir)[2:]
    n = vectors.N_POINTS.get(sf, 200)
    ids, x, y = vectors.points_xy(spec, n)
    pdf = pd.DataFrame({"point_id": ids, "x": x, "y": y})
    df = spark.createDataFrame(pdf)
    return df.select(
        F.col("point_id").cast("long"), F.col("x").cast("double"), F.col("y").cast("double")
    )
