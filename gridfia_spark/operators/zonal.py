"""Raster→vector zonal aggregation (north rule core; SURVEY §2.4 A19).

Per-polygon statistics of one species layer, or of every layer, over all
pixels whose center falls inside the polygon — the distributed recast of
GridFIA's "summarize biomass by county" workflow (spatial join at
parallel_processing.py:90 + stats like species_presence.py:92-125).

``zonal_stats`` is the one public zonal entry: the polygon side picks the
pair source (the driver index up to ``AUTO_DIST_THRESHOLD`` polygons, the
in-cluster cell join above it), and every plan runs the one partials stage
and final aggregation of ``broadcast_join``. ``zonal_stats_dist`` pins the
in-cluster plan (``salted=True`` spreads hot cells).

Per-pair partials keep the shuffle O(pairs), not O(pixels), and make float
sums deterministic: pixel values are integer-valued float32, partial sums
are exact in float64, so the final combine is bit-equal at local[1] and
local[32] and on every plan.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import codecs, grid
from . import broadcast_join, spatial_join


def clip_to_polygon(
    tiles: DataFrame, polygons: DataFrame, poly_id: str, species: int = 0
) -> DataFrame:
    """Boundary clip (SURVEY J3, boundaries.py:392-425 recast): zero out
    pixels outside the polygon and re-encode as ``rawz`` — returns tile rows
    covering the polygon only (tiles with no overlap are dropped).

    One map pass, no shuffle: each Arrow batch probes the driver index of
    the one polygon, and boundary tiles take the pair kernel's mask."""
    from ..constants import caption as mk_caption
    from ..datagen import pixels as pxgen
    from ..datagen.tiles import TILE_SCHEMA

    one = polygons.filter(F.col("poly_id") == poly_id)
    bc = tiles.sparkSession.sparkContext.broadcast(
        broadcast_join.PolygonIndex.build(one, grid.JOIN_RES)
    )
    meta = broadcast_join.layer_meta(tiles, species).select(
        "image_id", "bytes", "w", "h", "fmt", "code", "name", "tx", "ty",
        "xmin", "ymin", "xmax", "ymax",
    )

    def clip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        index = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            out = {k: [] for k in TILE_SCHEMA.names}
            for _, i, arr, mask in broadcast_join._pair_masks(
                *broadcast_join._index_pairs(pdf, index)
            ):
                r = pdf.iloc[i]
                h, w = int(r.h), int(r.w)
                px = arr if mask is None else np.where(mask, arr, np.float32(0))
                px = px.reshape(h, w)
                out["image_id"].append(r.image_id)
                out["bytes"].append(codecs.encode(px, "rawz"))
                out["w"].append(w)
                out["h"].append(h)
                out["fmt"].append("rawz")
                out["caption"].append(mk_caption(r.code, r.name, int(r.tx), int(r.ty)))
                out["phash"].append(pxgen.phash64(px))
            if out["image_id"]:
                yield pd.DataFrame(out)

    return meta.mapInPandas(clip, TILE_SCHEMA)


def zonal_stats(
    tiles: DataFrame, polygons: DataFrame, species: int | None = 0, res: int | None = None
) -> DataFrame:
    """Per-polygon (poly_id) stats of one species layer:
    n_px, sum_v, mean_v, max_v, nonzero_px; ``species=None`` aggregates
    every layer, grouped by (poly_id, s).

    Pixel membership: pixel-center-in-polygon (exact; centers never sit on
    fixture boundaries). Pixels with value 0 count toward n_px but not
    nonzero_px — matching the reference's coverage stats
    (species_presence.py:92-125). Up to ``AUTO_DIST_THRESHOLD`` polygons
    the driver index finds the pairs; above it the in-cluster cell join
    does. The bounded collect that builds the index is the only job run
    here."""
    res = res if res is not None else grid.JOIN_RES
    return broadcast_join.zonal_stats_plan(tiles, polygons, species, res)


def zonal_stats_dist(
    tiles: DataFrame,
    polygons: DataFrame,
    species: int | None = 0,
    res: int = grid.JOIN_RES,
    salted: bool = False,
    salt_threshold: int = 64,
) -> DataFrame:
    """``zonal_stats`` pinned to the in-cluster cell join
    (``spatial_join.join_tiles_polygons``; ``salted=True`` spreads cells
    holding more than ``salt_threshold`` tile positions over salts — the
    plan for a polygon that covers most of the raster). No frame keyed on
    tiles or polygons is broadcast."""
    meta = broadcast_join.layer_meta(tiles, species)
    cand = spatial_join.join_tiles_polygons(
        meta, polygons, res, salted=salted, salt_threshold=salt_threshold
    )
    return broadcast_join.zonal_stats_plan(tiles, polygons, species, res, cand)
