"""Map-side spatial join for small polygon dimensions (the common case).

When the polygon side is a small dimension (state/county boundaries — the
reference's GeoDataFrame fits in memory, boundaries.py:30-49), the idiomatic
distributed plan is a **broadcast hash join with zero shuffles**: the
covering-cell→polygon index is built once on the driver, shipped to every
task closure (Spark broadcasts pickled closures), and probed inside the
Arrow UDF batch — pure numpy/pandas merges, no per-row Python.

This gives:
- tile assignment: a map-only job (no shuffle at all);
- zonal stats: one map pass emitting per-(tile,poly) partials + one tiny
  final aggregation — the minimum possible stage count. Tiles provably
  inside a polygon skip the mask; boundary (tile, poly) pairs get an exact
  scanline pixel mask (``geom.tile_mask``: pixel ranges per row, not a
  per-pixel test).

The DataFrame cell-join path (operators/spatial_join.py) remains the plan
for LARGE polygon sides (millions of polygons), where the index no longer
fits on the driver. Both paths are semantically identical and tested equal.
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
        from .spatial_join import covering_at_res

        rows = polygons.select("poly_id", "geom_wkb").collect()
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
        with ``n_full`` (count of fully-inside cell hits) and ``n_cells``
        (total covering cells of the bbox)."""
        row_idx, cells = grid.bbox_cells_batch(xmin, ymin, xmax, ymax, self.res)
        probe = pd.DataFrame({"row": row_idx, "cell_id": cells})
        n_cells = np.bincount(row_idx, minlength=len(xmin))
        hits = probe.merge(self.cell_to_poly, on="cell_id", how="inner")
        if hits.empty:
            return pd.DataFrame(
                {"row": [], "pidx": [], "n_hit": [], "n_full": [], "n_cells": []}
            )
        agg = (
            hits.groupby(["row", "pidx"], sort=False)
            .agg(n_hit=("fully_inside", "size"), n_full=("fully_inside", "sum"))
            .reset_index()
        )
        agg["n_cells"] = n_cells[agg["row"].to_numpy()]
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
            sure = cand[(cand.n_hit == cand.n_cells) & (cand.n_full == cand.n_hit)]
            maybe = cand.drop(sure.index)
            keep = [sure[["row", "pidx"]]]
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


def _iter_pair_values(pdf: pd.DataFrame, index: PolygonIndex):
    """Yield ``(pidx, batch_row, vals)`` for every candidate (tile, poly)
    pair of one Arrow batch: decode each tile once (cache per row), build
    each (tile coords, poly) boundary scanline mask once (``geom.tile_mask``;
    cache shared across the co-located species rows of a tile). Shared by
    the sum- and histogram-partial map stages."""
    xmin = pdf["xmin"].to_numpy()
    ymin = pdf["ymin"].to_numpy()
    xmax = pdf["xmax"].to_numpy()
    ymax = pdf["ymax"].to_numpy()
    cand = index.candidates(xmin, ymin, xmax, ymax)
    if cand.empty:
        return
    data = pdf["bytes"].to_numpy()
    fmts = pdf["fmt"].to_numpy()
    ws = pdf["w"].to_numpy()
    hs = pdf["h"].to_numpy()
    txs = pdf["tx"].to_numpy()
    tys = pdf["ty"].to_numpy()
    n_hit = cand["n_hit"].to_numpy()
    inside = (n_hit == cand["n_cells"].to_numpy()) & (
        cand["n_full"].to_numpy() == n_hit
    )
    arrs: dict[int, np.ndarray] = {}
    masks: dict[tuple[int, int, int], np.ndarray] = {}
    for i, pidx, tile_inside in zip(
        cand["row"].to_numpy(dtype=np.int64).tolist(),
        cand["pidx"].to_numpy(dtype=np.int64).tolist(),
        inside.tolist(),
    ):
        arr = arrs.get(i)
        if arr is None:
            # stay float32: halves memory traffic; sums accumulate
            # in float64 via dtype= (bit-identical to converting)
            arr = arrs[i] = codecs.decode(
                data[i], int(ws[i]), int(hs[i]), fmts[i]
            ).ravel()
        if tile_inside:
            vals = arr
        else:
            mkey = (int(txs[i]), int(tys[i]), pidx)
            mask = masks.get(mkey)
            if mask is None:
                mask = masks[mkey] = geom.tile_mask(
                    mkey[0], mkey[1], int(ws[i]), int(hs[i]), index.rings[pidx]
                ).ravel()
            if not mask.any():
                continue
            vals = arr[mask]
        yield pidx, i, vals


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
            out = []
            for pidx, i, vals in _iter_pair_values(pdf, index):
                out.append(
                    (
                        index.poly_ids[pidx],
                        int(s_col[i]),
                        int(vals.size),
                        float(vals.sum(dtype=np.float64)),
                        float(vals.max()),
                        int((vals > 0).sum()),
                    )
                )
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
            for pidx, i, vals in _iter_pair_values(pdf, index):
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
    keys = ["poly_id", "s"] if species is None else ["poly_id"]
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
