"""Hierarchical spatial cell index (quadkey / Z-order), numpy-vectorized.

The north rule calls for H3 (res 5-9) / S2 cell ids as int64 columns. Neither
library ships in this sandbox, so this module implements the same algorithmic
role from scratch: a fixed global quadtree over the projected CRS plane with
Morton (Z-order) int64 cell ids — functionally S2-style cells on a planar
projection. Quad levels 12..18 bracket the H3 res 5..9 cell sizes
(~9.8 km .. ~152 m edges); the engine's default JOIN_RES is chosen so a cell
is about one tile.

Cell id layout (int64): bits 58-62 = resolution (0..29), bits 0-57 = Morton
interleave of (ix, iy), each up to 29 bits. All ops are vectorized numpy and
run inside pandas/Arrow UDFs — no per-row Python.
"""

from __future__ import annotations

import numpy as np

WORLD_X0 = -20_000_000.0  # west edge of the indexed plane (m)
WORLD_Y0 = 20_000_000.0  # north edge (m); iy grows southward
WORLD_SIZE = 40_000_000.0

JOIN_RES = 15  # ~1.2 km cells (≈ H3 res 7) — default join resolution


def cell_size(res: int) -> float:
    return WORLD_SIZE / (1 << res)


def res_for_size(target_m: float, lo: int = 8, hi: int = 20) -> int:
    """Finest resolution whose cells are at least ``target_m`` across.

    Used to pick a join resolution proportional to tile size, so covering
    cell counts stay bounded regardless of dataset extent (a county is
    ~O(10^2) cells whether the raster is 2 km or 200 km wide)."""
    res = int(np.floor(np.log2(WORLD_SIZE / max(target_m, 1.0))))
    return int(np.clip(res, lo, hi))


def _part1by1(x: np.ndarray) -> np.ndarray:
    """Spread the low 29 bits of x so they occupy even bit positions."""
    x = x.astype(np.uint64) & np.uint64(0x1FFFFFFF)
    x = (x | (x << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    x = (x | (x << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    x = (x | (x << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    x = (x | (x << np.uint64(2))) & np.uint64(0x3333333333333333)
    x = (x | (x << np.uint64(1))) & np.uint64(0x5555555555555555)
    return x


def _compact1by1(x: np.ndarray) -> np.ndarray:
    """Inverse of _part1by1: gather even bits back into the low 29 bits."""
    x = x.astype(np.uint64) & np.uint64(0x5555555555555555)
    x = (x | (x >> np.uint64(1))) & np.uint64(0x3333333333333333)
    x = (x | (x >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    x = (x | (x >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    x = (x | (x >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    x = (x | (x >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return x


def encode_cell(ix: np.ndarray, iy: np.ndarray, res: int) -> np.ndarray:
    """(ix, iy, res) -> int64 cell id. Vectorized."""
    ix = np.asarray(ix, dtype=np.int64)
    iy = np.asarray(iy, dtype=np.int64)
    morton = _part1by1(ix) | (_part1by1(iy) << np.uint64(1))
    cid = (np.uint64(res) << np.uint64(58)) | morton
    return cid.astype(np.int64)


def decode_cell(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """int64 cell id -> (ix, iy, res). Vectorized."""
    c = np.asarray(cell).astype(np.uint64)
    res = (c >> np.uint64(58)).astype(np.int64)
    morton = c & np.uint64((1 << 58) - 1)
    ix = _compact1by1(morton).astype(np.int64)
    iy = _compact1by1(morton >> np.uint64(1)).astype(np.int64)
    return ix, iy, res


def cell_of_xy(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    """Cell id containing point(s) (x, y) at ``res``. Vectorized."""
    size = cell_size(res)
    ix = np.floor((np.asarray(x, dtype=np.float64) - WORLD_X0) / size).astype(np.int64)
    iy = np.floor((WORLD_Y0 - np.asarray(y, dtype=np.float64)) / size).astype(np.int64)
    n = np.int64(1 << res)
    ix = np.clip(ix, 0, n - 1)
    iy = np.clip(iy, 0, n - 1)
    return encode_cell(ix, iy, res)


def cell_bounds(cell: np.ndarray) -> tuple[np.ndarray, ...]:
    """(xmin, ymin, xmax, ymax) of cell(s). Vectorized."""
    return index_bounds(*decode_cell(cell))


def index_bounds(
    ix: np.ndarray, iy: np.ndarray, res: int | np.ndarray
) -> tuple[np.ndarray, ...]:
    """(xmin, ymin, xmax, ymax) of the cells at index pairs (ix, iy)."""
    size = WORLD_SIZE / np.power(2.0, res)
    xmin = WORLD_X0 + ix * size
    ymax = WORLD_Y0 - iy * size
    return xmin, ymax - size, xmin + size, ymax


def parent(cell: np.ndarray, res: int) -> np.ndarray:
    """Ancestor cell at a coarser resolution. Vectorized."""
    ix, iy, r = decode_cell(cell)
    shift = r - res
    if np.any(shift < 0):
        raise ValueError("parent resolution must be <= cell resolution")
    return encode_cell(ix >> shift, iy >> shift, res)


def children(cell: int) -> np.ndarray:
    """The four direct children of a single cell."""
    ix, iy, res = decode_cell(np.asarray([cell]))
    ix, iy, res = int(ix[0]), int(iy[0]), int(res[0])
    dx, dy = np.meshgrid([0, 1], [0, 1])
    return encode_cell(2 * ix + dx.ravel(), 2 * iy + dy.ravel(), res + 1)


def k_ring(cell: np.ndarray, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k (the square (2k+1)^2 block) of
    each input cell — the quad analogue of H3 kRing. Returns an array of
    shape (n_cells, (2k+1)^2). Vectorized over cells."""
    cells = np.atleast_1d(np.asarray(cell, dtype=np.int64))
    ix, iy, res = decode_cell(cells)
    r = int(res[0])
    n = np.int64(1 << r)
    offs = np.arange(-k, k + 1, dtype=np.int64)
    dx, dy = np.meshgrid(offs, offs)
    nx = np.clip(ix[:, None] + dx.ravel()[None, :], 0, n - 1)
    ny = np.clip(iy[:, None] + dy.ravel()[None, :], 0, n - 1)
    return encode_cell(nx, ny, r)


# ------------------------------------------------- JVM column expressions
#
# The same Morton encode as Spark Column expressions (shift/and/or chains,
# all whole-stage-codegen): callers that only need a cell id per row can
# stay entirely JVM-side instead of paying an ArrowEvalPython round-trip —
# and the optimizer's null-filter pushdown around Python UDFs (guide §4.4)
# cannot duplicate what is not a UDF. Bit-identical to the numpy versions:
# the float math is the same IEEE754 (x - X0)/size followed by floor.


def _part1by1_col(c):
    """Column version of _part1by1: spread low 29 bits to even positions."""
    from pyspark.sql import functions as F

    c = c.bitwiseAND(F.lit(0x1FFFFFFF))
    c = (c.bitwiseOR(F.shiftleft(c, 16))).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    c = (c.bitwiseOR(F.shiftleft(c, 8))).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    c = (c.bitwiseOR(F.shiftleft(c, 4))).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    c = (c.bitwiseOR(F.shiftleft(c, 2))).bitwiseAND(F.lit(0x3333333333333333))
    c = (c.bitwiseOR(F.shiftleft(c, 1))).bitwiseAND(F.lit(0x5555555555555555))
    return c


def encode_cell_col(ix, iy, res: int):
    """(ix, iy) index Columns -> int64 cell id Column at ``res``."""
    from pyspark.sql import functions as F

    morton = _part1by1_col(ix).bitwiseOR(F.shiftleft(_part1by1_col(iy), 1))
    return F.lit(int(res) << 58).bitwiseOR(morton)


def cell_index_cols(x, y, res: int):
    """(x, y) coordinate Columns -> clipped (ix, iy) index Columns."""
    from pyspark.sql import functions as F

    size = cell_size(res)
    n = (1 << res) - 1
    ix = F.floor((x - F.lit(WORLD_X0)) / F.lit(size))
    iy = F.floor((F.lit(WORLD_Y0) - y) / F.lit(size))
    clip = lambda c: F.greatest(F.lit(0), F.least(c, F.lit(n)))  # noqa: E731
    return clip(ix), clip(iy)


def cell_of_xy_col(x, y, res: int):
    """Column version of cell_of_xy — bit-identical cell ids, no UDF."""
    ix, iy = cell_index_cols(x, y, res)
    return encode_cell_col(ix, iy, res)


def bbox_cells_batch(
    xmin: np.ndarray,
    ymin: np.ndarray,
    xmax: np.ndarray,
    ymax: np.ndarray,
    res: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Covering cells for N bboxes at once -> (row_idx, cell_id) pairs.

    Fully vectorized (no per-bbox Python): computes per-bbox index ranges,
    then expands them with repeat/tile arithmetic. Used by the tile-side of
    the cell-prefix join inside Arrow UDF batches."""
    size = cell_size(res)
    n = np.int64((1 << res) - 1)
    ix0 = np.clip(np.floor((np.asarray(xmin) - WORLD_X0) / size).astype(np.int64), 0, n)
    ix1 = np.clip(np.floor((np.asarray(xmax) - WORLD_X0) / size).astype(np.int64), 0, n)
    iy0 = np.clip(np.floor((WORLD_Y0 - np.asarray(ymax)) / size).astype(np.int64), 0, n)
    iy1 = np.clip(np.floor((WORLD_Y0 - np.asarray(ymin)) / size).astype(np.int64), 0, n)
    nx = ix1 - ix0 + 1
    ny = iy1 - iy0 + 1
    counts = nx * ny
    row_idx = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    # within-bbox flat offset 0..counts-1 via cumulative trick
    total = int(counts.sum())
    starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
    flat = np.arange(total, dtype=np.int64) - np.repeat(starts, counts)
    nx_r = np.repeat(nx, counts)
    ix = np.repeat(ix0, counts) + flat % nx_r
    iy = np.repeat(iy0, counts) + flat // nx_r
    return row_idx, encode_cell(ix, iy, res)


def bbox_indices(
    xmin: float, ymin: float, xmax: float, ymax: float, res: int
) -> tuple[np.ndarray, np.ndarray]:
    """Index pairs (ix, iy) of all cells at ``res`` whose squares overlap
    the (closed) bbox, row by row."""
    size = cell_size(res)
    ix0 = int(np.floor((xmin - WORLD_X0) / size))
    ix1 = int(np.floor((xmax - WORLD_X0) / size))
    iy0 = int(np.floor((WORLD_Y0 - ymax) / size))
    iy1 = int(np.floor((WORLD_Y0 - ymin) / size))
    n = (1 << res) - 1
    ix0, ix1 = max(ix0, 0), min(ix1, n)
    iy0, iy1 = max(iy0, 0), min(iy1, n)
    if ix1 < ix0 or iy1 < iy0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    gx, gy = np.meshgrid(
        np.arange(ix0, ix1 + 1, dtype=np.int64),
        np.arange(iy0, iy1 + 1, dtype=np.int64),
    )
    return gx.ravel(), gy.ravel()
