"""Seeded workload inputs: county cuts, fine polygons and plot points.

Everything here is pure numpy and a function of the seed alone; the engine
only ever sees the rows these generators return. Geometry lives on the pixel
lattice, addressed as integer (ix, iy) with ix growing east and iy growing
south from the raster's top-left corner, so a vertex maps exactly to the CRS
point (X0 + 30*ix, Y0 - 30*iy).

Exactness rules the oracles rely on:
- every polygon vertex is a lattice point;
- no edge passes through a pixel centre (lattice + 1/2): an edge whose
  reduced direction (dx, dy)/gcd has both components odd would, so the
  generator never emits one;
- points sit at whole metres + 0.5 m, which by the same parity argument
  never lie on such an edge.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from gridfia_spark import geom
from gridfia_spark.constants import PIX, X0, Y0, GridSpec
from gridfia_spark.datagen import vectors

# The tile table every raster workload reads: 14x14 tiles of 64x64 px in all
# six species layers (1,176 images, 4.82 Mpx).
TILE_SPEC = GridSpec(14, 14, 64, 64)

COUNTY_K = 4  # the county partition is COUNTY_K x COUNTY_K rectangles
FINE_POLYGONS = 60
FINE_VERTICES = (16, 32)  # inclusive range of outer-ring vertex counts
FINE_RADIUS_PX = (15, 60)
FINE_HOLE_SHARE = 0.25
N_POINTS = 10_000
CLUSTER_SHARE = 0.3
N_CLUSTERS = 24


@dataclass(frozen=True)
class LatticePolygon:
    """A polygon whose rings are closed (n, 2) int64 arrays of (ix, iy)."""

    poly_id: str
    rings: tuple

    def world_rings(self) -> list[np.ndarray]:
        return [
            np.column_stack([X0 + PIX * r[:, 0], Y0 - PIX * r[:, 1]]).astype(np.float64)
            for r in self.rings
        ]


def rng(seed: int, stream: int) -> np.random.Generator:
    """The generator of one input stream; any integer seed is accepted."""
    return np.random.default_rng([seed & (2**64 - 1), stream])


def edge_hits_pixel_centre(dx: int, dy: int) -> bool:
    """True when a lattice edge with direction (dx, dy) passes through a
    pixel centre, i.e. its reduced direction has both components odd."""
    g = math.gcd(abs(dx), abs(dy))
    return g > 0 and (dx // g) % 2 != 0 and (dy // g) % 2 != 0


def polygon_rows(polys: list) -> list[tuple]:
    """Rows for the engine's polygon table ``(poly_id, name, geom_wkb,
    xmin, ymin, xmax, ymax, is_rect)`` from lattice or fixture polygons."""
    rows = []
    for p in polys:
        if isinstance(p, LatticePolygon):
            rings, is_rect = p.world_rings(), len(p.rings) == 1 and len(p.rings[0]) == 5
            pid, name = p.poly_id, p.poly_id
        else:
            rings, is_rect, pid, name = p.rings, p.is_rect, p.poly_id, p.name
        rows.append(
            (pid, name, geom.polygon_to_wkb(rings), *geom.polygon_bounds(rings), is_rect)
        )
    return rows


POLYGON_SCHEMA = (
    "poly_id string, name string, geom_wkb binary, "
    "xmin double, ymin double, xmax double, ymax double, is_rect boolean"
)


# ------------------------------------------------------------- counties


def county_cuts(seed: int, n_px: int, tile_px: int, k: int = COUNTY_K) -> list[int]:
    """k+1 increasing cut positions 0 = c0 < ... < ck = n_px on the pixel
    lattice; the inner cuts are jittered around i*n_px/k and never fall on
    a tile edge."""
    gen = np.random.default_rng(seed)
    jitter = max(n_px // (4 * k), 1)
    cuts = [0]
    for i in range(1, k):
        while True:
            c = int(round(i * n_px / k)) + int(gen.integers(-jitter, jitter + 1))
            if c % tile_px:
                break
        cuts.append(c)
    cuts.append(n_px)
    return cuts


def counties(seed: int, spec: GridSpec = TILE_SPEC) -> tuple[list[int], list[int]]:
    """Seeded (x cuts, y cuts) of the county partition, in pixels."""
    sx, sy = (int(v) for v in rng(seed, 1).integers(0, 2**31, size=2))
    return county_cuts(sx, spec.gw, spec.tile_w), county_cuts(sy, spec.gh, spec.tile_h)


def county_polygons(xcuts: list[int], ycuts: list[int]) -> list[LatticePolygon]:
    out = []
    for j in range(len(ycuts) - 1):
        for i in range(len(xcuts) - 1):
            x0, x1, y0, y1 = xcuts[i], xcuts[i + 1], ycuts[j], ycuts[j + 1]
            ring = np.array([[x0, y1], [x1, y1], [x1, y0], [x0, y0], [x0, y1]], np.int64)
            out.append(LatticePolygon(county_id(j, i), (ring,)))
    return out


def county_id(j: int, i: int) -> str:
    return f"K{j}{i}"


def lshape(spec: GridSpec = TILE_SPEC):
    """The fixture L-shape (datagen.vectors), unchanged."""
    return next(p for p in vectors.concave_polygons(spec) if p.poly_id == "L01")


def lshape_lattice(spec: GridSpec = TILE_SPEC) -> LatticePolygon:
    """The fixture L-shape's ring on the pixel lattice (its vertices are
    lattice points by construction, checked here)."""
    ring = lshape(spec).rings[0]
    ix = (ring[:, 0] - X0) / PIX
    iy = (Y0 - ring[:, 1]) / PIX
    lat = np.column_stack([ix, iy])
    if not np.array_equal(lat, np.round(lat)):
        raise ValueError("fixture L-shape is not on the pixel lattice")
    return LatticePolygon("L01", (lat.astype(np.int64),))


# --------------------------------------------------------- fine polygons


def _ring(gen, cx: int, cy: int, radius: float, n: int, shrink: tuple, box) -> np.ndarray:
    """A closed star-shaped lattice ring around (cx, cy) with ``n`` vertices,
    none of whose edges passes through a pixel centre."""
    lo_x, lo_y, hi_x, hi_y = box
    step = 2 * math.pi / n
    theta = step * (np.arange(n) + gen.uniform(-0.3, 0.3, n))
    rad = radius * gen.uniform(shrink[0], shrink[1], n)
    pts: list[tuple[int, int]] = []
    nudges = [(0, 0), (1, 0), (0, 1), (-1, 0), (0, -1), (1, 1), (-1, -1), (1, -1)]
    for k in range(n):
        bx = int(round(cx + rad[k] * math.cos(theta[k])))
        by = int(round(cy + rad[k] * math.sin(theta[k])))
        for ox, oy in nudges:
            x = min(max(bx + ox, lo_x), hi_x)
            y = min(max(by + oy, lo_y), hi_y)
            if pts:
                px, py = pts[-1]
                if (x, y) == (px, py) or edge_hits_pixel_centre(x - px, y - py):
                    continue
            if k == n - 1:
                fx, fy = pts[0]
                if (x, y) == (fx, fy) or edge_hits_pixel_centre(fx - x, fy - y):
                    continue
            pts.append((x, y))
            break
        else:
            raise RuntimeError("could not place a lattice vertex")
    pts.append(pts[0])
    return np.asarray(pts, dtype=np.int64)


def fine_polygons(seed: int, spec: GridSpec = TILE_SPEC, n: int = FINE_POLYGONS) -> list[LatticePolygon]:
    """``n`` irregular star-shaped polygons with 16-32 lattice vertices; a
    quarter carry a hole. Radii, vertex counts and holes are a fixed multiset
    shuffled by the seed, and only positions and shapes are drawn freely, so
    the work per job is similar across seeds."""
    gen = rng(seed, 2)
    radii = gen.permutation(np.linspace(*FINE_RADIUS_PX, n))
    lo, hi = FINE_VERTICES
    verts = gen.permutation(lo + np.arange(n) % (hi - lo + 1))
    holes = gen.permutation(np.arange(n) < round(n * FINE_HOLE_SHARE))
    box = (0, 0, spec.gw, spec.gh)
    out = []
    for i in range(n):
        r = float(radii[i])
        while True:  # rounding can fold a ring; draw its shape again
            cx = int(gen.integers(int(r) + 1, spec.gw - int(r)))
            cy = int(gen.integers(int(r) + 1, spec.gh - int(r)))
            rings = [_ring(gen, cx, cy, r, int(verts[i]), (0.6, 1.0), box)]
            if holes[i]:
                rings.append(_ring(gen, cx, cy, 0.35 * r, int(gen.integers(6, 11)), (0.8, 1.0), box))
            if rings_are_simple(rings):
                break
        out.append(LatticePolygon(f"F{i:04d}", tuple(rings)))
    return out


def rings_are_simple(rings) -> bool:
    """No two edges of the rings meet, except consecutive edges of one ring
    at their shared vertex without folding back (exact integer test; a
    collinear pair that does not overlap may be rejected too)."""
    segs, nxt = [], []
    for r in rings:
        r = np.asarray(r, dtype=np.int64)
        base = len(segs)
        k = len(r) - 1
        segs.extend(np.hstack([r[:-1], r[1:]]))
        nxt.extend(base + (np.arange(k) + 1) % k)
    s = np.asarray(segs)
    nxt = np.asarray(nxt)
    a, b = s[:, None, :2], s[:, None, 2:]
    c, d = s[None, :, :2], s[None, :, 2:]

    def orient(p, q, t):
        return np.sign((q[..., 0] - p[..., 0]) * (t[..., 1] - p[..., 1])
                       - (q[..., 1] - p[..., 1]) * (t[..., 0] - p[..., 0]))

    meet = (orient(a, b, c) * orient(a, b, d) <= 0) & (orient(c, d, a) * orient(c, d, b) <= 0)
    i, j = np.triu_indices(len(s), 1)
    adjacent = (nxt[i] == j) | (nxt[j] == i)
    if (meet[i, j] & ~adjacent).any():
        return False
    di, dj = s[i, 2:] - s[i, :2], s[j, 2:] - s[j, :2]
    cross = di[:, 0] * dj[:, 1] - di[:, 1] * dj[:, 0]
    dot = (di * dj).sum(axis=1)
    return not (adjacent & (cross == 0) & (dot < 0)).any()


# --------------------------------------------------------------- points


def plot_points(seed: int, spec: GridSpec = TILE_SPEC, n: int = N_POINTS) -> tuple[np.ndarray, ...]:
    """(point_id, x, y): a uniform share plus equal-sized Gaussian clusters
    with a fixed set of widths (only the centres move with the seed), snapped
    to whole metres inside the raster and offset by +0.5 m east and 0.5 m
    south."""
    gen = rng(seed, 3)
    w_m, h_m = spec.gw * int(PIX), spec.gh * int(PIX)
    n_cl = int(n * CLUSTER_SHARE)
    n_un = n - n_cl
    ux = gen.integers(0, w_m, n_un)
    uy = gen.integers(0, h_m, n_un)
    centres = gen.integers(0, [w_m, h_m], size=(N_CLUSTERS, 2))
    sigma = np.linspace(100.0, 600.0, N_CLUSTERS)
    which = np.arange(n_cl) % N_CLUSTERS
    cx = np.rint(centres[which, 0] + gen.normal(0, 1, n_cl) * sigma[which])
    cy = np.rint(centres[which, 1] + gen.normal(0, 1, n_cl) * sigma[which])
    mx = np.concatenate([ux, np.clip(cx, 0, w_m - 1)]).astype(np.int64)
    my = np.concatenate([uy, np.clip(cy, 0, h_m - 1)]).astype(np.int64)
    order = gen.permutation(n)
    ids = np.arange(n, dtype=np.int64)
    x = X0 + mx[order].astype(np.float64) + 0.5
    y = Y0 - my[order].astype(np.float64) - 0.5
    return ids, x, y
