"""Spatial joins on the cell grid (north rule; SURVEY §2.3 J1-J3).

Both sides are indexed into the same single-resolution cell grid (the
H3-polyfill analogue): polygons -> covering cells ``(poly_id, cell_id,
fully_inside)`` by one kernel (``covering_at_res``), run on the driver
inside ``broadcast_join.PolygonIndex`` or in-cluster by
``polygon_cells_dist``; probes (points or tiles) -> their cell id(s) at the
same resolution.

The plan comes from the polygon side, never from a flag: the one bounded
collect of ``PolygonIndex.build_bounded`` either returns at most
``AUTO_DIST_THRESHOLD`` polygons, which become the driver index (the
reference holds its boundaries in memory, boundaries.py:30-49), or shows
the side is larger, which takes the in-cluster cell join.

- ``join_points_polygons``: one map-only pass over the broadcast index
  (cell probe, fully-inside fast path, vectorized ray casting), or an
  equi-join of the in-cluster covering on ``cell_id`` that ray-casts only
  cells not fully inside.
- ``join_tiles_polygons``: candidate (tile position, polygon) pairs with
  ``tile_inside`` from the in-cluster covering, found once per ``(tx, ty)``
  for every layer; ``broadcast_join._pair_source`` feeds them to the one
  pair kernel and partials stage when the polygon side is above the
  threshold (or ``zonal.zonal_stats_dist`` pins them); ``salted=True``
  spreads hot cells.

Tile assignment has one implementation: ``broadcast_join.assign_tiles_fast``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import geom, grid
from . import decode


def covering_at_res(rings: list[np.ndarray], res: int) -> tuple[np.ndarray, np.ndarray]:
    """Covering cells of one polygon, normalized to a single resolution:
    run the multi-level covering (geom.polygon_covering), then expand each
    coarse fully-inside cell into its 2^k x 2^k block of ``res`` children —
    all vectorized per level. Returns (cells int64, fully_inside bool)."""
    cells, full = geom.polygon_covering(rings, min(res, 10), res)
    if cells.size == 0:
        # polygon entirely outside the grid extent: zero covering rows (the
        # pre-refactor inline loops emitted nothing; np.concatenate would
        # raise and kill the whole mapInPandas task in polygon_cells_dist)
        return np.empty(0, np.int64), np.empty(0, bool)
    ix, iy, rr = grid.decode_cell(cells)
    out_cells, out_full = [], []
    for level in np.unique(rr):
        sel = rr == level
        shift = int(res - level)
        if shift == 0:
            out_cells.append(cells[sel])
            out_full.append(full[sel])
        else:
            k = 1 << shift
            offs = np.arange(k, dtype=np.int64)
            ox, oy = np.meshgrid(offs, offs)
            bx = (ix[sel][:, None] << shift) + ox.ravel()[None, :]
            by = (iy[sel][:, None] << shift) + oy.ravel()[None, :]
            out_cells.append(grid.encode_cell(bx.ravel(), by.ravel(), res))
            out_full.append(np.repeat(full[sel], k * k))
    return np.concatenate(out_cells), np.concatenate(out_full)


def polygon_cells_dist(polygons: DataFrame, res: int = grid.JOIN_RES) -> DataFrame:
    """Distributed covering: the identical covering kernel runs inside
    ``mapInPandas`` over the polygon table — the scale path when the polygon
    side is itself large (millions of polygons), where a driver-side
    covering + collect would bottleneck. One row per (poly_id, cell_id);
    tested equal to ``PolygonIndex.cell_to_poly``."""
    cols = polygons.select("poly_id", "geom_wkb")

    def cover(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, cells, fulls = [], [], []
            for r in pdf.itertuples(index=False):
                rings = geom.wkb_to_polygon(bytes(r.geom_wkb))
                c, f = covering_at_res(rings, res)
                ids.append(np.full(c.size, r.poly_id, dtype=object))
                cells.append(c)
                fulls.append(f)
            if ids:
                yield pd.DataFrame(
                    {
                        "poly_id": np.concatenate(ids),
                        "cell_id": np.concatenate(cells),
                        "fully_inside": np.concatenate(fulls),
                    }
                )

    return cols.mapInPandas(
        cover, "poly_id string, cell_id long, fully_inside boolean"
    )


def with_point_cells(points: DataFrame, res: int = grid.JOIN_RES) -> DataFrame:
    """Cell id as a JVM column expression (grid.cell_of_xy_col): bit-identical
    to the numpy encode, no ArrowEvalPython round-trip, no UDF duplication
    from null-filter pushdown (guide §4.4)."""
    return points.withColumn(
        "cell_id", grid.cell_of_xy_col(F.col("x"), F.col("y"), res)
    )


def _pip_refine(cand: DataFrame, polygons: DataFrame) -> DataFrame:
    """Filter candidate rows (must have x, y, poly_id) to those whose point is
    inside the polygon — vectorized ray casting, batched per polygon. The
    WKB frame is O(polygons) on the plan meant for the most polygons, so it
    meets the candidates in a shuffle-hash join and is never broadcast
    (the same rule as the in-cluster zonal pair source)."""
    withwkb = cand.join(
        polygons.select("poly_id", "geom_wkb").hint("shuffle_hash"), "poly_id"
    )
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in cand.schema)
    out_cols = [f.name for f in cand.schema]  # plain list: no DataFrame in closure

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            keep_parts = []
            for _, g in pdf.groupby("poly_id", sort=False):
                rings = geom.wkb_to_polygon(bytes(g["geom_wkb"].iloc[0]))
                mask = geom.points_in_polygon(
                    g["x"].to_numpy(), g["y"].to_numpy(), rings
                )
                keep_parts.append(g.loc[mask])
            if keep_parts:
                yield pd.concat(keep_parts)[out_cols]

    return withwkb.mapInPandas(refine, schema)


def join_points_polygons(
    points: DataFrame, polygons: DataFrame, res: int = grid.JOIN_RES
) -> DataFrame:
    """Inner spatial join point-in-polygon -> (point columns..., poly_id).

    Semantics match gpd.sjoin(..., predicate='intersects') for points
    (parallel_processing.py:90-91). Up to ``AUTO_DIST_THRESHOLD`` polygons
    the join is ONE map-only pass over a broadcast ``PolygonIndex``: cell
    probe, fully-inside fast path and ray-cast refinement all happen on
    numpy inside one batch pass. Above it the covering is computed in the
    cluster (polygon_cells_dist) and equi-joined on ``cell_id``."""
    from .broadcast_join import PolygonIndex

    index = PolygonIndex.build_bounded(polygons, res)
    if index is None:
        cells = polygon_cells_dist(polygons, res)
        pts = with_point_cells(points, res)
        # large-polygon-side plan: never broadcast the covering (guide §3.1)
        cand = pts.join(cells.hint("shuffle_hash"), "cell_id")
        sure = cand.filter(F.col("fully_inside")).drop("fully_inside", "cell_id")
        maybe = cand.filter(~F.col("fully_inside")).drop("fully_inside", "cell_id")
        return sure.unionByName(_pip_refine(maybe, polygons))

    from pyspark.sql.types import StringType, StructField, StructType

    bc = points.sparkSession.sparkContext.broadcast(index)
    in_cols = [f.name for f in points.schema.fields]
    out_schema = StructType(
        points.schema.fields + [StructField("poly_id", StringType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = bc.value
        c2p = idx.cell_to_poly
        ids = np.asarray(idx.poly_ids, dtype=object)
        for pdf in batches:
            if pdf.empty:
                continue
            x = pdf["x"].to_numpy()
            y = pdf["y"].to_numpy()
            probe = pd.DataFrame(
                {
                    "row": np.arange(len(pdf), dtype=np.int64),
                    "cell_id": grid.cell_of_xy(x, y, idx.res),
                }
            )
            hits = probe.merge(c2p, on="cell_id", how="inner")
            if hits.empty:
                continue
            keep = [hits.loc[hits["fully_inside"], ["row", "pidx"]]]
            maybe = hits[~hits["fully_inside"]]
            for pidx, g in maybe.groupby("pidx", sort=False):
                rows = g["row"].to_numpy()
                mask = geom.points_in_polygon(x[rows], y[rows], idx.rings[int(pidx)])
                keep.append(pd.DataFrame({"row": rows[mask], "pidx": int(pidx)}))
            out = pd.concat(keep, ignore_index=True)
            if out.empty:
                continue
            res_pdf = pdf.iloc[out["row"].to_numpy()][in_cols].reset_index(drop=True)
            res_pdf["poly_id"] = ids[out["pidx"].to_numpy(dtype=np.int64)]
            yield res_pdf

    return points.mapInPandas(run, out_schema)


def join_tiles_polygons(
    tiles_meta: DataFrame,
    polygons: DataFrame,
    res: int = grid.JOIN_RES,
    salted: bool = False,
    salt_threshold: int = 64,
) -> DataFrame:
    """Candidate (tile position, polygon) pairs via the cell-prefix join
    against the in-cluster covering (``polygon_cells_dist``).

    Returns one row per (tx, ty, poly_id) with ``tile_inside`` = the whole
    tile is provably inside the polygon (every covering cell of the tile is a
    fully-inside polygon cell) — pairs with ``tile_inside`` skip per-pixel PIP
    in zonal aggregation. Candidate pairs where only boundary cells touch are
    a superset; exact per-pixel refinement happens downstream. Pairs are
    found once per tile position, not once per layer row: every layer at
    (tx, ty) shares the tile's bbox, so the cell join does not grow with the
    layer count, and the tile rows meet the pairs on (tx, ty).
    ``salted=True`` routes the cell equi-join through skew.salted_join: cells
    holding more than ``salt_threshold`` tile positions (dense urban
    clusters / a polygon covering most of the raster) are spread over the
    salts — identical rows, no hot-key straggler.
    """
    pcells = polygon_cells_dist(polygons, res)
    pos = tiles_meta.select("tx", "ty", "xmin", "ymin", "xmax", "ymax").distinct()
    # n_tile_cells rides along as a column (no extra shuffle for the count)
    tcells = decode.with_tile_cells(pos, res).select("tx", "ty", "n_tile_cells", "cell_id")
    if salted:
        from . import skew

        j = skew.salted_join(tcells, pcells, on="cell_id", threshold=salt_threshold)
    else:
        # the covering frame is O(polygons x cells) — pin shuffle_hash so a
        # small local fixture's size estimate can never flip the scale plan
        # to a broadcast (guide §3.1)
        j = tcells.join(pcells.hint("shuffle_hash"), "cell_id")
    agg = j.groupBy("tx", "ty", "n_tile_cells", "poly_id").agg(
        F.count("*").alias("n_hit"),
        F.min(F.col("fully_inside").cast("int")).alias("all_full"),
    )
    inside = (F.col("n_hit") == F.col("n_tile_cells")) & (F.col("all_full") == 1)
    return agg.select("tx", "ty", "poly_id", inside.alias("tile_inside"))
