"""Raster→vector zonal aggregation (north rule core; SURVEY §2.4 A19).

Per-polygon statistics of a species layer over all pixels whose center falls
inside the polygon — the distributed recast of GridFIA's "summarize biomass by
county" workflow (spatial join at parallel_processing.py:90 + stats like
species_presence.py:92-125).

``zonal_stats`` only picks the plan that finds candidate (tile, polygon)
pairs: the driver index (``broadcast_join.zonal_stats_fast``) for a small
polygon side, or the cell join (``spatial_join.join_tiles_polygons``) with
``distributed=True`` / ``salted=True``. Every plan runs the one pair kernel
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

from .. import codecs, geom
from . import broadcast_join, decode, spatial_join


def clip_to_polygon(
    tiles: DataFrame,
    polygons: DataFrame,
    poly_id: str,
    species: int = 0,
    res: int | None = None,
    fmt: str = "rawz",
) -> DataFrame:
    """Boundary clip (SURVEY J3, boundaries.py:392-425 recast): zero out
    pixels outside the polygon and re-encode — returns tile rows covering
    the polygon only (tiles with no overlap are dropped)."""
    from .. import grid as _grid
    from ..constants import caption as mk_caption

    res = res if res is not None else _grid.JOIN_RES
    one = polygons.filter(F.col("poly_id") == poly_id)
    meta = decode.with_tile_meta(tiles).filter(F.col("s") == species)
    cand = spatial_join.join_tiles_polygons(meta, one, res)
    pairs = meta.select(
        "image_id", "bytes", "w", "h", "fmt", "code", "name", "tx", "ty"
    ).join(F.broadcast(cand.select("image_id", "tile_inside")), "image_id").join(
        F.broadcast(one.select("geom_wkb")),
        F.lit(True),
    )

    def clip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("image_id", "bytes", "w", "h", "fmt", "caption", "phash")}
            for row in pdf.itertuples(index=False):
                arr = codecs.decode(row.bytes, row.w, row.h, row.fmt)
                if not row.tile_inside:
                    rings = geom.wkb_to_polygon(bytes(row.geom_wkb))
                    mask = geom.tile_mask(row.tx, row.ty, row.w, row.h, rings)
                    if not mask.any():
                        continue  # cell-candidate false positive: no overlap
                    arr = np.where(mask, arr, 0.0).astype(np.float32)
                from ..datagen import pixels as pxgen

                out["image_id"].append(row.image_id)
                out["bytes"].append(codecs.encode(arr, fmt))
                out["w"].append(row.w)
                out["h"].append(row.h)
                out["fmt"].append(fmt)
                out["caption"].append(mk_caption(row.code, row.name, row.tx, row.ty))
                out["phash"].append(pxgen.phash64(arr))
            if out["image_id"]:
                yield pd.DataFrame(out)

    from ..datagen.tiles import TILE_SCHEMA

    return pairs.mapInPandas(clip, TILE_SCHEMA)


def zonal_stats(
    tiles: DataFrame,
    polygons: DataFrame,
    species: int = 0,
    res: int | None = None,
    distributed: bool | str = "auto",
    salted: bool = False,
    salt_k: int = 8,
    salt_threshold: int = 64,
) -> DataFrame:
    """Per-polygon (poly_id) stats of one species layer:
    n_px, sum_v, mean_v, max_v, nonzero_px.

    Pixel membership: pixel-center-in-polygon (exact; centers never sit on
    fixture boundaries). Pixels with value 0 count toward n_px but not
    nonzero_px — matching the reference's coverage stats
    (species_presence.py:92-125). ``distributed=True`` computes the polygon
    covering in-cluster (the large-polygon-side plan); ``'auto'`` (default)
    counts the polygon side — one cheap job against a dimension table —
    and picks the driver index (``broadcast_join.zonal_stats_fast``) up to
    ``AUTO_DIST_THRESHOLD`` polygons, the in-cluster covering above it (the
    choice Iceberg table stats would make for free on the cluster).
    ``salted=True`` routes the candidate cell join through the explicit
    hot-key salting path (operators/skew.py) — the plan for a polygon that
    covers most of the raster."""
    from .. import grid

    res = res if res is not None else grid.JOIN_RES
    if distributed == "auto":
        distributed = polygons.count() > broadcast_join.AUTO_DIST_THRESHOLD
    if not (distributed or salted):
        return broadcast_join.zonal_stats_fast(tiles, polygons, species, res)
    meta = decode.with_tile_meta(tiles).filter(F.col("s") == species)
    cand = spatial_join.join_tiles_polygons(
        meta,
        polygons,
        res,
        distributed=distributed,
        salted=salted,
        salt_k=salt_k,
        salt_threshold=salt_threshold,
    )
    meta_sel = meta.select("image_id", "bytes", "w", "h", "fmt", "tx", "ty")
    if distributed:
        # Large-polygon-side plan: cand is O(tiles x overlapping polys) and the
        # WKB frame is O(polygons) — force-broadcasting either is an executor
        # OOM at scale. Attach WKB to the candidate pairs first (a pair-sized
        # shuffle that never touches tile bytes), then meet the tile table in
        # ONE shuffle-hash join on image_id: the hash table is built from the
        # pair side, the byte-carrying tile rows stream through without ever
        # being sorted, and AQE (on in session.py) splits any skewed cell.
        # shuffle_hash hints on BOTH joins: the O(polygons) WKB frame and
        # the O(pairs) candidate frame must never be broadcast (executor
        # OOM at scale) even when local fixtures make their size estimates
        # tiny — pick the strategy deliberately (guide §3.1)
        cand_w = cand.join(
            polygons.select("poly_id", "geom_wkb").hint("shuffle_hash"),
            "poly_id",
        )
        pairs = meta_sel.join(cand_w.hint("shuffle_hash"), "image_id")
    else:
        # salted driver-covering path: cand and the polygon dim are tiny —
        # broadcast both so tile bytes never shuffle
        pairs = meta_sel.join(F.broadcast(cand), "image_id").join(
            F.broadcast(polygons.select("poly_id", "geom_wkb")), "poly_id"
        )

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
