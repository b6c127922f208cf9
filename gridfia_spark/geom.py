"""Minimal planar geometry: WKB polygons, PIP, tile masks, cell coverings.

Replaces the reference's GeoPandas/shapely usage
(/root/reference/gridfia/visualization/boundaries.py:30-49,
gridfia/utils/parallel_processing.py:90-91) with numpy + stdlib:

- WKB (ISO, little-endian) polygon encode/decode — the ``geom_wkb`` column of
  the polygon dimension table (FIXTURES.md §2).
- Vectorized even-odd ray-casting point-in-polygon — the exact refinement
  stage for scattered points (plot points, rect corners).
- ``tile_mask``: the pixel-centre mask of one raster tile, computed as
  pixel ranges per row (scanline, as in Raptor) — the boundary-pair kernel
  of every zonal path. It evaluates the same ``xint`` expression with the
  same float operations and the same strict ``x < xint`` test as
  ``points_in_polygon``, once per (row, edge) instead of once per
  (pixel, edge), so its mask is bit-identical to ray casting the tile's
  meshgrid at O(h*E + w*h) instead of O(w*h*E) work.
- Quadtree cell covering of a polygon at res range — the broadcast side of
  the spatial join, the analogue of H3 polyfill.
"""

from __future__ import annotations

import struct

import numpy as np

from . import grid
from .constants import PIX, X0, Y0

# ------------------------------------------------------------------ WKB


def polygon_to_wkb(rings: list[np.ndarray]) -> bytes:
    """Encode rings (each an (n,2) float array, unclosed ok) as WKB Polygon."""
    out = [struct.pack("<BII", 1, 3, len(rings))]
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[:1]])
        out.append(struct.pack("<I", len(r)))
        out.append(r.astype("<f8").tobytes())
    return b"".join(out)


def wkb_to_polygon(data: bytes) -> list[np.ndarray]:
    """Decode WKB Polygon -> list of (n,2) closed rings."""
    byte_order, gtype = struct.unpack_from("<BI", data, 0)
    if byte_order != 1 or gtype != 3:
        raise ValueError(f"unsupported WKB (order={byte_order}, type={gtype})")
    (n_rings,) = struct.unpack_from("<I", data, 5)
    off = 9
    rings = []
    for _ in range(n_rings):
        (n_pts,) = struct.unpack_from("<I", data, off)
        off += 4
        pts = np.frombuffer(data, dtype="<f8", count=n_pts * 2, offset=off)
        off += n_pts * 16
        rings.append(pts.reshape(n_pts, 2).copy())
    return rings


def rect_polygon(xmin: float, ymin: float, xmax: float, ymax: float) -> list[np.ndarray]:
    return [
        np.array(
            [[xmin, ymin], [xmax, ymin], [xmax, ymax], [xmin, ymax], [xmin, ymin]],
            dtype=np.float64,
        )
    ]


def polygon_bounds(rings: list[np.ndarray]) -> tuple[float, float, float, float]:
    pts = np.vstack(rings)
    return (
        float(pts[:, 0].min()),
        float(pts[:, 1].min()),
        float(pts[:, 0].max()),
        float(pts[:, 1].max()),
    )


# ------------------------------------------------------------------ PIP


def points_in_polygon(
    x: np.ndarray, y: np.ndarray, rings: list[np.ndarray]
) -> np.ndarray:
    """Vectorized even-odd ray casting. Holes handled by parity.

    This is the exact-refinement kernel of the spatial join (north rule's
    "ray-casting point-in-polygon refinement"); it runs inside pandas UDFs
    over numpy arrays, never per-row Python.
    """
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    inside = np.zeros(x.shape, dtype=bool)
    for ring in rings:
        x1, y1 = ring[:-1, 0], ring[:-1, 1]
        x2, y2 = ring[1:, 0], ring[1:, 1]
        # edge straddles the horizontal ray through y
        straddle = (y1[None, :] > y[:, None]) != (y2[None, :] > y[:, None])
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1[None, :] + (y[:, None] - y1[None, :]) / (
                y2[None, :] - y1[None, :]
            ) * (x2[None, :] - x1[None, :])
        crossings = (straddle & (x[:, None] < xint)).sum(axis=1)
        inside ^= (crossings % 2).astype(bool)
    return inside


def tile_mask(tx: int, ty: int, w: int, h: int, rings: list[np.ndarray]) -> np.ndarray:
    """(h, w) pixel-centre-in-polygon mask of tile (tx, ty), even-odd rule.

    Pixel centres sit on a regular grid, so where an edge crosses a row
    depends only on the row: per ring, compute the straddling (row, edge)
    crossings once, count the pixel centres strictly left of each crossing
    with ``searchsorted``, and turn the per-row histogram of those counts
    into per-pixel crossing parities with a reversed cumsum. Bit-identical
    to ``points_in_polygon`` over the tile's meshgrid.
    """
    cx = X0 + (tx * w + np.arange(w)) * PIX + PIX / 2
    cy = Y0 - (ty * h + np.arange(h)) * PIX - PIX / 2
    inside = np.zeros((h, w), dtype=bool)
    for ring in rings:
        x1, y1 = ring[:-1, 0], ring[:-1, 1]
        x2, y2 = ring[1:, 0], ring[1:, 1]
        # (row, edge) pairs whose edge straddles the row's centre line
        row, e = np.nonzero(
            (y1[None, :] > cy[:, None]) != (y2[None, :] > cy[:, None])
        )
        xint = x1[e] + (cy[row] - y1[e]) / (y2[e] - y1[e]) * (x2[e] - x1[e])
        # pixel j counts a crossing iff cx[j] < xint, i.e. j < n_left
        n_left = np.searchsorted(cx, xint, side="left")
        hist = np.bincount(row * (w + 1) + n_left, minlength=h * (w + 1))
        right = hist.reshape(h, w + 1)[:, :0:-1].cumsum(axis=1)[:, ::-1]
        inside ^= (right & 1).astype(bool)
    return inside


# ------------------------------------------- rect/segment relations


def rect_relation(
    rings: list[np.ndarray], xmin: float, ymin: float, xmax: float, ymax: float
) -> str:
    """'inside' | 'partial' | 'outside' — rectangle vs polygon relation."""
    rel = rect_relation_batch(
        rings, np.array([xmin]), np.array([ymin]), np.array([xmax]), np.array([ymax])
    )[0]
    return ("outside", "partial", "inside")[rel]


_EDGE_BLOCK = 1 << 18  # elements per (rects x edges) temporary


def _slab(o, d, lo, hi):
    """One axis of Liang-Barsky over (rects x edges): each edge's entry and
    exit parameters, and whether an axis-parallel edge lies in the slab."""
    flat = d == 0.0
    safe = np.where(flat, 1.0, d)
    ta = (lo[:, None] - o) / safe
    tb = (hi[:, None] - o) / safe
    t_in = np.where(flat, -np.inf, np.minimum(ta, tb))
    t_out = np.where(flat, np.inf, np.maximum(ta, tb))
    ok = ~flat | ((o >= lo[:, None]) & (o <= hi[:, None]))
    return t_in, t_out, ok


def _edges_hit_rects(
    rings: list[np.ndarray],
    xmin: np.ndarray,
    ymin: np.ndarray,
    xmax: np.ndarray,
    ymax: np.ndarray,
) -> np.ndarray:
    """Vectorized Liang-Barsky: for N rects, does ANY polygon edge intersect?
    Evaluated over (rects x edge-block) arrays of at most ``_EDGE_BLOCK``
    elements, with the float operations of the per-(rect, edge) clip."""
    px = np.concatenate([r[:-1, 0] for r in rings])
    py = np.concatenate([r[:-1, 1] for r in rings])
    dx = np.concatenate([r[1:, 0] for r in rings]) - px
    dy = np.concatenate([r[1:, 1] for r in rings]) - py
    hit = np.zeros(xmin.shape[0], dtype=bool)
    block = max(1, _EDGE_BLOCK // max(xmin.shape[0], 1))
    for s in range(0, px.shape[0], block):
        todo = np.flatnonzero(~hit)
        if not todo.size:
            break
        e = slice(s, s + block)
        x_in, x_out, x_ok = _slab(px[e], dx[e], xmin[todo], xmax[todo])
        y_in, y_out, y_ok = _slab(py[e], dy[e], ymin[todo], ymax[todo])
        t0 = np.maximum(np.maximum(0.0, x_in), y_in)
        t1 = np.minimum(np.minimum(1.0, x_out), y_out)
        hit[todo] = (x_ok & y_ok & (t0 <= t1)).any(axis=1)
    return hit


def rect_relation_batch(
    rings: list[np.ndarray],
    xmin: np.ndarray,
    ymin: np.ndarray,
    xmax: np.ndarray,
    ymax: np.ndarray,
) -> np.ndarray:
    """Vectorized rect-vs-polygon relation for N rects.

    Returns int array: 0=outside, 1=partial, 2=inside. This is the hot path
    of polygon covering (driver-side for small polygon dims, inside pandas
    UDFs for large ones) — all numpy, no per-rect Python."""
    n = xmin.shape[0]
    cx = np.stack([xmin, xmax, xmax, xmin], axis=1).ravel()
    cy = np.stack([ymin, ymin, ymax, ymax], axis=1).ravel()
    corners_in = points_in_polygon(cx, cy, rings).reshape(n, 4)
    all_in = corners_in.all(axis=1)
    any_in = corners_in.any(axis=1)
    edges_hit = _edges_hit_rects(rings, xmin, ymin, xmax, ymax)
    out = np.zeros(n, dtype=np.int8)
    out[any_in | edges_hit] = 1
    out[all_in & ~edges_hit] = 2
    # rect fully containing the polygon: first vertex inside rect
    v = rings[0][0]
    contains = (
        (out == 0) & (xmin <= v[0]) & (v[0] <= xmax) & (ymin <= v[1]) & (v[1] <= ymax)
    )
    out[contains] = 1
    return out


# ------------------------------------------------------------ covering

_CHILD_DX = np.array([0, 1, 0, 1], dtype=np.int64)
_CHILD_DY = np.array([0, 0, 1, 1], dtype=np.int64)


def polygon_covering(
    rings: list[np.ndarray], res_min: int, res_max: int
) -> tuple[np.ndarray, np.ndarray]:
    """Quadtree covering of a polygon: returns (cell_ids, fully_inside).

    Fully-inside cells skip PIP refinement in the join (exact containment);
    partial cells at res_max are a superset filter refined by PIP. This is the
    H3 polyfill analogue the broadcast side of the join is built from
    (FIXTURES.md §2 ``polygon_cells``).

    The quadtree descends on integer index pairs ``(ix, iy)``; cell ids are
    encoded once per emitted level.
    """
    ix, iy = grid.bbox_indices(*polygon_bounds(rings), res_min)
    out_cells: list[np.ndarray] = []
    out_full: list[np.ndarray] = []
    res = res_min
    while ix.size:
        rel = rect_relation_batch(rings, *grid.index_bounds(ix, iy, res))
        last = res >= res_max
        for code in (2, 1) if last else (2,):
            sel = rel == code
            if sel.any():
                out_cells.append(grid.encode_cell(ix[sel], iy[sel], res))
                out_full.append(np.full(int(sel.sum()), code == 2))
        if last:
            break
        # descend: 4 children per partial cell, all vectorized
        part = rel == 1
        ix = (2 * ix[part][:, None] + _CHILD_DX).ravel()
        iy = (2 * iy[part][:, None] + _CHILD_DY).ravel()
        res += 1
    if not out_cells:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=bool)
    return (
        np.concatenate(out_cells).astype(np.int64),
        np.concatenate(out_full),
    )
