"""Raster→vector zonal aggregation (north rule core; SURVEY §2.4 A19).

Per-polygon statistics of a species layer over all pixels whose center falls
inside the polygon — the distributed recast of GridFIA's "summarize biomass by
county" workflow (spatial join at parallel_processing.py:90 + stats like
species_presence.py:92-125).

``zonal_stats`` picks the plan that finds candidate (tile, polygon) pairs
from the polygon side itself: the one bounded collect of
``PolygonIndex.build_bounded`` either yields the driver index
(``broadcast_join.zonal_stats_fast``, up to ``AUTO_DIST_THRESHOLD``
polygons) or shows a larger side, which takes the in-cluster cell join
(``zonal_stats_dist`` over ``spatial_join.join_tiles_polygons``; its
``salted=True`` spreads hot cells). Every plan runs the one pair kernel
(``broadcast_join._pair_values``) and final aggregation (``final_zonal``).

Per-pair partials keep the shuffle O(pairs), not O(pixels), and make float
sums deterministic across parallelism levels: pixel values are integer-valued
float32, partial sums are exact in float64, and the final combine sums a few
hundred exact values — bit-equal at local[1] and local[32].
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import codecs, geom, grid
from . import broadcast_join, decode, spatial_join


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
    meta = decode.with_tile_meta(tiles).filter(F.col("s") == species).select(
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
    tiles: DataFrame, polygons: DataFrame, species: int = 0, res: int | None = None
) -> DataFrame:
    """Per-polygon (poly_id) stats of one species layer:
    n_px, sum_v, mean_v, max_v, nonzero_px.

    Pixel membership: pixel-center-in-polygon (exact; centers never sit on
    fixture boundaries). Pixels with value 0 count toward n_px but not
    nonzero_px — matching the reference's coverage stats
    (species_presence.py:92-125). Up to ``AUTO_DIST_THRESHOLD`` polygons
    the driver index (``broadcast_join.zonal_stats_fast``) finds the pairs;
    above it ``zonal_stats_dist`` computes the covering in-cluster. The
    bounded collect that builds the index is the only job run here."""
    res = res if res is not None else grid.JOIN_RES
    index = broadcast_join.PolygonIndex.build_bounded(polygons, res)
    if index is None:
        return zonal_stats_dist(tiles, polygons, species, res)
    return broadcast_join.zonal_stats_fast(tiles, polygons, species, res, index=index)


def zonal_stats_dist(
    tiles: DataFrame,
    polygons: DataFrame,
    species: int = 0,
    res: int = grid.JOIN_RES,
    salted: bool = False,
    salt_threshold: int = 64,
) -> DataFrame:
    """``zonal_stats`` for a large polygon side: the covering is computed
    in-cluster and equi-joined with the tile cells
    (``spatial_join.join_tiles_polygons``; ``salted=True`` spreads cells
    holding more than ``salt_threshold`` tile rows over salts — the plan
    for a polygon that covers most of the raster). No frame keyed on tiles
    or polygons is broadcast."""
    meta = decode.with_tile_meta(tiles).filter(F.col("s") == species)
    cand = spatial_join.join_tiles_polygons(
        meta, polygons, res, salted=salted, salt_threshold=salt_threshold
    )
    meta_sel = meta.select("image_id", "bytes", "w", "h", "fmt", "tx", "ty")
    # cand is O(tiles x overlapping polys) and the WKB frame is O(polygons) —
    # force-broadcasting either is an executor OOM at scale. Attach WKB to
    # the candidate pairs first (a pair-sized shuffle that never touches tile
    # bytes), then meet the tile table in ONE shuffle-hash join on image_id:
    # the hash table is built from the pair side, the byte-carrying tile rows
    # stream through without ever being sorted, and AQE (on in session.py)
    # splits any skewed cell. shuffle_hash hints on BOTH joins: the frames
    # must never be broadcast even when local fixtures make their size
    # estimates tiny — pick the strategy deliberately (guide §3.1)
    cand_w = cand.join(
        polygons.select("poly_id", "geom_wkb").hint("shuffle_hash"),
        "poly_id",
    )
    pairs = meta_sel.join(cand_w.hint("shuffle_hash"), "image_id")

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            wkbs = pdf.drop_duplicates("poly_id").set_index("poly_id")["geom_wkb"]
            rings = {pid: geom.wkb_to_polygon(bytes(w)) for pid, w in wkbs.items()}
            out = [
                (pid, *broadcast_join.pair_stats(vals))
                for pid, _, vals in broadcast_join._pair_values(
                    pdf, range(len(pdf)), pdf["poly_id"].tolist(),
                    pdf["tile_inside"].tolist(), rings,
                )
            ]
            if out:
                yield pd.DataFrame(
                    out, columns=["poly_id", "n_px", "sum_v", "max_v", "nonzero_px"]
                )

    part = pairs.mapInPandas(
        partials,
        "poly_id string, n_px long, sum_v double, max_v double, nonzero_px long",
    )
    return broadcast_join.final_zonal(part, ["poly_id"])
