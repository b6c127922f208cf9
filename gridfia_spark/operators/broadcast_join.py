"""The spatial-join core: one pair source, one pair kernel and one partials
stage for every zonal plan.

- ``_pair_source`` finds candidate (tile, polygon) pairs. The bounded
  collect of ``PolygonIndex.build_bounded`` decides how: up to
  ``AUTO_DIST_THRESHOLD`` polygons a covering-cell index built on the driver
  (like the reference's in-memory GeoDataFrame, boundaries.py:30-49),
  broadcast once per worker and probed inside the Arrow batch; above it the
  in-cluster cell join ``spatial_join.join_tiles_polygons``, once per tile
  position ``(tx, ty)`` for every layer.
- ``_pair_values``: candidates -> sure/maybe -> mask -> pixels. A sure pair
  skips the mask; a boundary pair gets an exact scanline mask.
- ``zonal_partials``: one ``mapInPandas`` body reduces each pair's pixels to
  per-(tile, polygon, s) rows (``pair_stats`` or the value bincount) for
  one final aggregation. ``zonal_stats_fast`` pins the driver index.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import codecs, geom, grid
from . import decode

# above this many polygons the spatial joins take the in-cluster cell join
AUTO_DIST_THRESHOLD = 10_000  # driver covering is fine up to ~10^4 polygons


@dataclass
class PolygonIndex:
    """Driver-built covering index over a small polygon set."""

    poly_ids: list[str]
    rings: list[list[np.ndarray]]  # per polygon
    bounds: np.ndarray  # (n, 4) xmin ymin xmax ymax
    cell_to_poly: pd.DataFrame  # columns: cell_id, pidx, fully_inside
    res: int

    @classmethod
    def build(cls, polygons: DataFrame, res: int) -> "PolygonIndex":
        index = cls.build_bounded(polygons, res)
        if index is None:
            raise ValueError(
                f"more than {AUTO_DIST_THRESHOLD} polygons for a driver index; "
                "zonal.zonal_stats and spatial_join.join_points_polygons take "
                "the in-cluster cell join for them"
            )
        return index

    @classmethod
    def build_bounded(cls, polygons: DataFrame, res: int) -> "PolygonIndex | None":
        """The index, or None when the polygon side has more than
        ``AUTO_DIST_THRESHOLD`` rows: one bounded collect both decides the
        plan and feeds the index."""
        from .spatial_join import covering_at_res

        rows = polygons.select("poly_id", "geom_wkb").limit(AUTO_DIST_THRESHOLD + 1).collect()
        if len(rows) > AUTO_DIST_THRESHOLD:
            return None
        poly_ids, all_rings, bounds = [], [], []
        recs = []
        for pidx, r in enumerate(rows):
            rings = geom.wkb_to_polygon(bytes(r.geom_wkb))
            poly_ids.append(r.poly_id)
            all_rings.append(rings)
            bounds.append(geom.polygon_bounds(rings))
            cells, full = covering_at_res(rings, res)
            recs.append(
                pd.DataFrame({"cell_id": cells, "pidx": pidx, "fully_inside": full})
            )
        c2p = (
            pd.concat(recs, ignore_index=True)
            if recs
            else pd.DataFrame({"cell_id": [], "pidx": [], "fully_inside": []})
        )
        return cls(poly_ids, all_rings, np.asarray(bounds, dtype=np.float64), c2p, res)

    def candidates(
        self, xmin: np.ndarray, ymin: np.ndarray, xmax: np.ndarray, ymax: np.ndarray
    ) -> pd.DataFrame:
        """Vectorized cell-prefix probe: bboxes -> candidate (row, pidx) pairs
        with ``n_full`` (count of fully-inside cell hits), ``n_cells`` (total
        covering cells of the bbox) and ``inside`` (every covering cell of
        the bbox is a fully-inside polygon cell: a sure pair)."""
        row_idx, cells = grid.bbox_cells_batch(xmin, ymin, xmax, ymax, self.res)
        probe = pd.DataFrame({"row": row_idx, "cell_id": cells})
        n_cells = np.bincount(row_idx, minlength=len(xmin))
        hits = probe.merge(self.cell_to_poly, on="cell_id", how="inner")
        agg = (
            hits.groupby(["row", "pidx"], sort=False)
            .agg(n_hit=("fully_inside", "size"), n_full=("fully_inside", "sum"))
            .reset_index()
        )
        agg["n_cells"] = n_cells[agg["row"].to_numpy()]
        agg["inside"] = (agg.n_hit == agg.n_cells) & (agg.n_full == agg.n_hit)
        return agg


def assign_tiles_fast(
    tiles_meta: DataFrame, polygons: DataFrame, res: int,
    index: PolygonIndex | None = None,
) -> DataFrame:
    """Map-only vector→raster tile assignment (positive-area overlap).

    Plan: parquet scan (bytes pruned) -> mapInPandas -> rows. No shuffle.
    Pass a prebuilt ``index`` to share one covering across several operators.
    """
    index = index or PolygonIndex.build(polygons, res)
    # real Spark broadcast: the index ships once per worker, not once per
    # task closure (a ~100KB+ pickle per task otherwise dominates job time)
    bc = tiles_meta.sparkSession.sparkContext.broadcast(index)
    cols = tiles_meta.select("image_id", "xmin", "ymin", "xmax", "ymax")
    # positive-area overlap: edge-touching tiles are not assigned (fixture
    # coordinates are integers, so shrinking by eps cannot flip an overlap)
    eps = 1e-3

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        index = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            xmin = pdf["xmin"].to_numpy()
            ymin = pdf["ymin"].to_numpy()
            xmax = pdf["xmax"].to_numpy()
            ymax = pdf["ymax"].to_numpy()
            cand = index.candidates(xmin, ymin, xmax, ymax)
            if cand.empty:
                continue
            keep = [cand.loc[cand.inside, ["row", "pidx"]]]
            maybe = cand[~cand.inside]
            for pidx, g in maybe.groupby("pidx", sort=False):
                rows = g["row"].to_numpy()
                rel = geom.rect_relation_batch(
                    index.rings[pidx],
                    xmin[rows] + eps,
                    ymin[rows] + eps,
                    xmax[rows] - eps,
                    ymax[rows] - eps,
                )
                keep.append(pd.DataFrame({"row": rows[rel > 0], "pidx": pidx}))
            out = pd.concat(keep, ignore_index=True)
            ids = np.asarray(index.poly_ids, dtype=object)
            yield pd.DataFrame(
                {
                    "poly_id": ids[out["pidx"].to_numpy(dtype=np.int64)],
                    "image_id": pdf["image_id"].to_numpy()[out["row"].to_numpy(dtype=np.int64)],
                }
            )

    return cols.mapInPandas(run, "poly_id string, image_id string")


def _pair_masks(pdf: pd.DataFrame, rows, keys, inside, rings):
    """The pair kernel: yield ``(key, batch_row, arr, mask)`` for the
    candidate pairs ``zip(rows, keys, inside)`` of one Arrow batch. ``arr``
    is the raveled float32 tile; ``mask`` is None for a sure pair (the whole
    tile) and the scanline mask over ``rings[key]`` for a boundary pair
    (dropped when empty). Each batch row is decoded once and each
    (tx, ty, key) mask built once (shared by a tile's species rows)."""
    data = pdf["bytes"].to_numpy()
    fmts = pdf["fmt"].to_numpy()
    ws = pdf["w"].to_numpy()
    hs = pdf["h"].to_numpy()
    txs = pdf["tx"].to_numpy()
    tys = pdf["ty"].to_numpy()
    arrs: dict[int, np.ndarray] = {}
    masks: dict[tuple, np.ndarray] = {}
    for i, key, tile_inside in zip(rows, keys, inside):
        arr = arrs.get(i)
        if arr is None:
            # stay float32: halves memory traffic; sums accumulate
            # in float64 via dtype= (bit-identical to converting)
            arr = arrs[i] = codecs.decode(data[i], int(ws[i]), int(hs[i]), fmts[i]).ravel()
        if tile_inside:
            yield key, i, arr, None
            continue
        mkey = (int(txs[i]), int(tys[i]), key)
        mask = masks.get(mkey)
        if mask is None:
            mask = masks[mkey] = geom.tile_mask(
                mkey[0], mkey[1], int(ws[i]), int(hs[i]), rings[key]
            ).ravel()
        if mask.any():
            yield key, i, arr, mask


def _pair_values(pdf: pd.DataFrame, rows, keys, inside, rings):
    """``(key, batch_row, vals)``: the pixels each pair of ``_pair_masks`` keeps."""
    for key, i, arr, mask in _pair_masks(pdf, rows, keys, inside, rings):
        yield key, i, (arr if mask is None else arr[mask])


def _index_pairs(pdf: pd.DataFrame, index: PolygonIndex) -> tuple:
    """Index probe of one Arrow batch: the pair kernel's arguments
    ``(pdf, rows, keys, inside, rings)``, keyed by ``pidx``."""
    cand = index.candidates(*(pdf[c].to_numpy() for c in ("xmin", "ymin", "xmax", "ymax")))
    return (
        pdf, cand["row"].tolist(), cand["pidx"].tolist(), cand["inside"].tolist(), index.rings
    )


def _cand_pairs(pdf: pd.DataFrame) -> tuple:
    """Cell-join probe of one Arrow batch: every row is one candidate pair,
    keyed by its polygon's position among the batch's distinct polygons.
    Returns the pair kernel's arguments and the key -> poly_id list."""
    keys, ids = pd.factorize(pdf["poly_id"])
    _, first = np.unique(keys, return_index=True)
    rings = [geom.wkb_to_polygon(bytes(w)) for w in pdf["geom_wkb"].to_numpy()[first]]
    return (
        (pdf, range(len(pdf)), keys.tolist(), pdf["tile_inside"].tolist(), rings),
        ids.tolist(),
    )


def pair_stats(vals: np.ndarray) -> list[tuple[int, float, float, int]]:
    """Zonal partials of one pair's pixels: one (n_px, sum_v, max_v,
    nonzero_px) row."""
    return [(int(vals.size), float(vals.sum(dtype=np.float64)), float(vals.max()),
             int((vals > 0).sum()))]


def _value_counts(vals: np.ndarray):
    """Histogram partials of one pair's integer-valued pixels (the u8z data
    contract): a ``(v, cnt)`` row per value present, so no reducer ever
    buffers a zone's pixel population."""
    counts = np.bincount(vals.astype(np.int64))
    nz = np.flatnonzero(counts)
    return zip(nz.tolist(), counts[nz].tolist())


# the partials stage's reducers: one pair's pixels -> rows, and their columns
_REDUCERS = {
    "stats": (pair_stats, "n_px long, sum_v double, max_v double, nonzero_px long"),
    "hist": (_value_counts, "v int, cnt long"),
}


def final_zonal(part: DataFrame, keys: list[str]) -> DataFrame:
    """The one final zonal aggregation: per-pair partials -> stats by ``keys``."""
    return (
        part.groupBy(*keys)
        .agg(
            F.sum("n_px").alias("n_px"),
            F.sum("sum_v").alias("sum_v"),
            F.max("max_v").alias("max_v"),
            F.sum("nonzero_px").alias("nonzero_px"),
        )
        .withColumn("mean_v", F.col("sum_v") / F.col("n_px"))
    )


def layer_meta(tiles: DataFrame, species: int | None) -> DataFrame:
    """Tile metadata of one species layer, or of every layer for ``None``."""
    meta = decode.with_tile_meta(tiles)
    return meta if species is None else meta.filter(F.col("s") == species)


_KERNEL_COLS = ("bytes", "w", "h", "fmt", "s", "tx", "ty")  # what the kernel reads


def _pair_source(meta: DataFrame, polygons: DataFrame, res: int, plan) -> tuple:
    """The frame the partials stage maps over and its per-batch probe
    ``pdf -> (kernel arguments, key -> poly_id)``. ``plan`` is a driver
    ``PolygonIndex``, a candidate frame of ``spatial_join.
    join_tiles_polygons``, or None: the bounded collect picks one."""
    if plan is None:
        plan = PolygonIndex.build_bounded(polygons, res)
    if plan is None:
        from .spatial_join import join_tiles_polygons

        plan = join_tiles_polygons(meta, polygons, res)
    if isinstance(plan, PolygonIndex):
        # real Spark broadcast: the index ships once per worker, not once
        # per task closure; the probe runs inside the Arrow batch
        bc = meta.sparkSession.sparkContext.broadcast(plan)

        def probe(pdf: pd.DataFrame) -> tuple:
            index = bc.value
            return _index_pairs(pdf, index), index.poly_ids

        return meta.select(*_KERNEL_COLS, "xmin", "ymin", "xmax", "ymax"), probe
    # The pairs are O(tile positions x overlapping polygons) and the WKB frame
    # O(polygons): broadcasting either is an executor OOM at scale. WKB meets
    # the pairs first (a shuffle that never touches tile bytes), then every
    # layer's tile rows meet them in ONE shuffle-hash join on (tx, ty): the
    # hash table is the pair side, tile bytes stream and are never sorted.
    # The hints keep tiny fixture estimates from picking a broadcast (§3.1).
    cand = plan.join(polygons.select("poly_id", "geom_wkb").hint("shuffle_hash"), "poly_id")
    frame = meta.select(*_KERNEL_COLS).join(cand.hint("shuffle_hash"), ["tx", "ty"])
    return frame, _cand_pairs


def zonal_partials(
    meta: DataFrame, polygons: DataFrame, res: int, reduce: str, plan=None
) -> DataFrame:
    """The one partials stage of every zonal plan: per-(tile, polygon, s)
    rows of ``_REDUCERS[reduce]`` over the pixels the pair kernel keeps for
    the pairs of ``_pair_source``; shared with streaming/incremental.py."""
    frame, probe = _pair_source(meta, polygons, res, plan)
    fn, cols = _REDUCERS[reduce]
    names = ["poly_id", "s", *(c.split()[0] for c in cols.split(", "))]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            args, ids = probe(pdf)
            s_col = pdf["s"].to_numpy()
            out = [
                (ids[key], int(s_col[i]), *row)
                for key, i, vals in _pair_values(*args)
                for row in fn(vals)
            ]
            if out:
                yield pd.DataFrame(out, columns=names)

    return frame.mapInPandas(run, f"poly_id string, s int, {cols}")


def zonal_stats_plan(
    tiles: DataFrame, polygons: DataFrame, species: int | None, res: int, plan=None
) -> DataFrame:
    """Per-polygon stats of one layer over the pairs ``plan`` finds (see
    ``_pair_source``); ``species=None`` aggregates every layer, grouped by
    (poly_id, s)."""
    part = zonal_partials(layer_meta(tiles, species), polygons, res, "stats", plan)
    return final_zonal(part, ["poly_id", "s"] if species is None else ["poly_id"])


def zonal_value_hist(
    tiles: DataFrame, polygons: DataFrame, species: int | None, res: int
) -> DataFrame:
    """Per-(poly, [s]) exact value histogram ``(v, cnt)``, on the plan the
    polygon side picks: the shuffle carries at most |polys| * |species| *
    |domain| rows. ``functions.histpct.hist_percentiles`` reads it."""
    part = zonal_partials(layer_meta(tiles, species), polygons, res, "hist")
    keys = ["poly_id", "s", "v"] if species is None else ["poly_id", "v"]
    return part.groupBy(*keys).agg(F.sum("cnt").alias("cnt"))


def zonal_stats_fast(
    tiles: DataFrame, polygons: DataFrame, species: int | None, res: int,
    index: PolygonIndex | None = None,
) -> DataFrame:
    """``zonal.zonal_stats`` pinned to the driver index; pass a prebuilt
    ``index`` to share one covering across several operators."""
    index = index or PolygonIndex.build(polygons, res)
    return zonal_stats_plan(tiles, polygons, species, res, index)
