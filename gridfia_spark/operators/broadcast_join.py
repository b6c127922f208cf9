"""The spatial-join core: one pair kernel for every zonal plan.

Every candidate (tile, polygon) pair runs one kernel, ``_pair_values``:
candidates -> sure/maybe -> mask -> partials. A sure pair (tile provably
inside the polygon) skips the mask; a boundary pair gets an exact scanline
pixel mask (``geom.tile_mask``). Plans differ only in how pairs are found:

- ``PolygonIndex`` (small polygon side, like the reference's in-memory
  GeoDataFrame, boundaries.py:30-49): a covering-cell index built on the
  driver, broadcast once per worker and probed inside the Arrow batch.
  ``assign_tiles_fast`` is map-only; ``zonal_stats_fast`` is one map pass of
  per-pair partials plus one tiny final aggregation (``final_zonal``).
- the in-cluster cell join ``spatial_join.join_tiles_polygons`` (more than
  ``AUTO_DIST_THRESHOLD`` polygons, seen by ``zonal.zonal_stats`` in the
  index's own bounded collect) feeds the same kernel.
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


def pair_stats(vals: np.ndarray) -> tuple[int, float, float, int]:
    """Zonal partials of one pair's pixels: (n_px, sum_v, max_v, nonzero_px)."""
    return (int(vals.size), float(vals.sum(dtype=np.float64)), float(vals.max()),
            int((vals > 0).sum()))


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


_ZONAL_META_COLS = (
    "bytes", "w", "h", "fmt", "s", "tx", "ty", "xmin", "ymin", "xmax", "ymax"
)


def _zonal_partials(meta: DataFrame, index: PolygonIndex) -> DataFrame:
    """Per-(tile, poly, species) zonal partial aggregates — the map stage
    shared by the batch path (zonal_stats_fast) and the streaming path
    (streaming/incremental.py)."""
    cols = meta.select(*_ZONAL_META_COLS)
    bc = meta.sparkSession.sparkContext.broadcast(index)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        index = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            s_col = pdf["s"].to_numpy()
            out = [
                (index.poly_ids[pidx], int(s_col[i]), *pair_stats(vals))
                for pidx, i, vals in _pair_values(*_index_pairs(pdf, index))
            ]
            if out:
                yield pd.DataFrame(
                    out,
                    columns=["poly_id", "s", "n_px", "sum_v", "max_v", "nonzero_px"],
                )

    return cols.mapInPandas(
        run,
        "poly_id string, s int, n_px long, sum_v double, max_v double, nonzero_px long",
    )


def _zonal_hist_partials(meta: DataFrame, index: PolygonIndex) -> DataFrame:
    """Per-(tile, poly, species) VALUE-HISTOGRAM partials: ``np.bincount``
    inside the map stage collapses each pair's pixels to <= |value domain|
    ``(v, cnt)`` rows before anything is shuffled. This is the scale-safe
    percentile plan — no reducer ever buffers a zone's pixel population
    (vs an exact ``percentile`` aggregate, which OOMs on one CONUS-scale
    county at 100x). Integer-valued pixels only (the u8z data contract)."""
    cols = meta.select(*_ZONAL_META_COLS)
    bc = meta.sparkSession.sparkContext.broadcast(index)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        index = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            s_col = pdf["s"].to_numpy()
            pids, ss, vv, cc = [], [], [], []
            for pidx, i, vals in _pair_values(*_index_pairs(pdf, index)):
                counts = np.bincount(vals.astype(np.int64))
                nz = np.flatnonzero(counts)
                pids.append(np.full(nz.size, index.poly_ids[pidx], dtype=object))
                ss.append(np.full(nz.size, int(s_col[i]), dtype=np.int32))
                vv.append(nz.astype(np.int32))
                cc.append(counts[nz])
            if pids:
                yield pd.DataFrame(
                    {
                        "poly_id": np.concatenate(pids),
                        "s": np.concatenate(ss),
                        "v": np.concatenate(vv),
                        "cnt": np.concatenate(cc),
                    }
                )

    return cols.mapInPandas(run, "poly_id string, s int, v int, cnt long")


def zonal_value_hist(
    tiles: DataFrame, polygons: DataFrame, species: int | None, res: int,
    index: PolygonIndex | None = None,
) -> DataFrame:
    """Per-(poly, [s]) exact value histogram ``(v, cnt)`` of the pixel
    distribution: map-side bincount partials + one tiny groupBy (the shuffle
    carries at most |polys| * |species| * |domain| rows). Feed the result to
    ``functions.histpct.hist_percentiles`` for exact percentiles."""
    index = index or PolygonIndex.build(polygons, res)
    meta = decode.with_tile_meta(tiles)
    if species is not None:
        meta = meta.filter(F.col("s") == species)
    part = _zonal_hist_partials(meta, index)
    keys = ["poly_id", "s", "v"] if species is None else ["poly_id", "v"]
    return part.groupBy(*keys).agg(F.sum("cnt").alias("cnt"))


def zonal_stats_fast(
    tiles: DataFrame, polygons: DataFrame, species: int | None, res: int,
    index: PolygonIndex | None = None,
) -> DataFrame:
    """Zonal aggregation with a map-side join: decode each tile once, probe
    the broadcast covering index, PIP only boundary (tile, poly) pairs, emit
    per-pair partials; one final groupBy.

    ``species=None`` aggregates every layer, grouped by (poly_id, s)."""
    index = index or PolygonIndex.build(polygons, res)
    meta = decode.with_tile_meta(tiles)
    if species is not None:
        meta = meta.filter(F.col("s") == species)
    part = _zonal_partials(meta, index)
    return final_zonal(part, ["poly_id", "s"] if species is None else ["poly_id"])
