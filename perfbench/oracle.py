"""Oracles that never call the code under test.

- Counties and their tile assignment: DuckDB over the ``datagen.oracle_sql``
  CTEs (pixel values regenerated by SQL from the integer hash).
- Lattice polygons (fine polygons, the fixture L-shape) and plot points: an
  exact integer crossing-number test on doubled coordinates, over a pixel
  raster that DuckDB regenerates from the same CTEs.
- kNN: brute force over all points for a seeded sample of queries.
- cube_etl: DuckDB metric SQL reduced to an order-insensitive digest.

Doubled coordinates are half-metres from the raster's top-left corner:
a lattice vertex (ix, iy) is (60*ix, 60*iy), a pixel centre (60*gx + 30,
60*gy + 30) and a plot point 2*(x - X0), 2*(Y0 - y), which are odd
integers. The crossing test is then exact int64 arithmetic, and the
generators guarantee that no pixel centre or point lies on an edge.
"""

from __future__ import annotations

from fractions import Fraction

import numpy as np

from gridfia_spark.constants import SPECIES, X0, Y0, GridSpec, image_id
from gridfia_spark.datagen import oracle_sql as osql

from .inputs import LatticePolygon, rng

UNIT = 60  # doubled coordinate units per pixel
DIGEST_MOD = 1009  # weight modulus of the cube digest


def _duckdb():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    return con


# ---------------------------------------------------------------- rasters


def raster_sql(spec: GridSpec) -> str:
    return f"WITH {osql.val_cte(spec)} SELECT s, gx, gy, v FROM val"


def pixel_raster(spec: GridSpec) -> np.ndarray:
    """(6, gh, gw) int64 pixel values from DuckDB; layer 0 is the total."""
    con = _duckdb()
    try:
        cols = con.execute(raster_sql(spec)).fetchnumpy()
    finally:
        con.close()
    out = np.zeros((len(SPECIES), spec.gh, spec.gw), dtype=np.int64)
    out[cols["s"].astype(np.int64), cols["gy"].astype(np.int64), cols["gx"].astype(np.int64)] = cols["v"]
    out[0] = out[1:].sum(axis=0)
    return out


# -------------------------------------------------------------- counties


def counties_duckdb(spec: GridSpec, xcuts: list[int], ycuts: list[int], names) -> tuple[dict, set]:
    """Zonal partials per (county, s) and the (county, image) assignment.

    ``names[j][i]`` is the poly_id of the county in row j, column i."""
    kx, ky = len(xcuts) - 1, len(ycuts) - 1
    xc = ",".join(f"({i},{X0 + 30.0 * xcuts[i]!r},{X0 + 30.0 * xcuts[i + 1]!r})" for i in range(kx))
    yc = ",".join(f"({j},{Y0 - 30.0 * ycuts[j + 1]!r},{Y0 - 30.0 * ycuts[j]!r})" for j in range(ky))
    ids = ",".join(f"({j},{i},'{names[j][i]}')" for j in range(ky) for i in range(kx))
    px_x = f"{X0!r} + gx*30.0 + 15.0"
    px_y = f"{Y0!r} - gy*30.0 - 15.0"
    base = f"""{osql.val_cte(spec)},
xcut(i, xmin, xmax) AS (VALUES {xc}),
ycut(j, ymin, ymax) AS (VALUES {yc}),
cid(j, i, poly_id) AS (VALUES {ids})"""
    zonal_sql = f"""WITH {base},
allv AS (SELECT s, gx, gy, v FROM val
         UNION ALL SELECT 0 AS s, gx, gy, SUM(v) AS v FROM val GROUP BY gx, gy),
colmap AS (SELECT gx, i FROM generate_series(0, {spec.gw - 1}) t(gx)
           JOIN xcut ON {px_x} > xmin AND {px_x} < xmax),
rowmap AS (SELECT gy, j FROM generate_series(0, {spec.gh - 1}) t(gy)
           JOIN ycut ON {px_y} > ymin AND {px_y} < ymax)
SELECT cid.poly_id, allv.s, COUNT(*)::BIGINT, SUM(allv.v)::BIGINT, MAX(allv.v)::BIGINT,
       SUM(CASE WHEN allv.v > 0 THEN 1 ELSE 0 END)::BIGINT
FROM allv JOIN colmap USING (gx) JOIN rowmap USING (gy) JOIN cid USING (j, i)
GROUP BY ALL"""
    assign_sql = f"""WITH {base}, {osql.tiles_cte(spec)},
counties AS (SELECT cid.poly_id, xmin, ymin, xmax, ymax
             FROM xcut JOIN cid USING (i) JOIN ycut USING (j))
SELECT c.poly_id, t.image_id FROM tiles t JOIN counties c
  ON t.xmin < c.xmax AND t.xmax > c.xmin AND t.ymin < c.ymax AND t.ymax > c.ymin"""
    con = _duckdb()
    try:
        zonal = {(r[0], int(r[1])): tuple(int(v) for v in r[2:]) for r in con.execute(zonal_sql).fetchall()}
        assign = {(r[0], r[1]) for r in con.execute(assign_sql).fetchall()}
    finally:
        con.close()
    return zonal, assign


# ------------------------------------------------ lattice crossing number


def inside(rings, X: np.ndarray, Y: np.ndarray, chunk: int = 1 << 16) -> np.ndarray:
    """Even-odd membership of doubled-coordinate points in lattice rings
    ((n, 2) int64 arrays of (ix, iy), closed), in exact int64 arithmetic."""
    X = np.asarray(X, dtype=np.int64)
    Y = np.asarray(Y, dtype=np.int64)
    out = np.zeros(X.shape, dtype=bool)
    for ring in rings:
        r = np.asarray(ring, dtype=np.int64) * UNIT
        x1, y1, x2, y2 = r[:-1, 0], r[:-1, 1], r[1:, 0], r[1:, 1]
        d = y2 - y1
        for a in range(0, X.size, chunk):
            xp = X[a:a + chunk, None]
            yp = Y[a:a + chunk, None]
            straddle = (y1 > yp) != (y2 > yp)
            side = ((xp - x1) * d - (yp - y1) * (x2 - x1)) * np.sign(d)
            out[a:a + chunk] ^= ((straddle & (side < 0)).sum(axis=1) % 2).astype(bool)
    return out


def _bbox(poly: LatticePolygon) -> tuple[int, int, int, int]:
    pts = np.vstack(poly.rings)
    return int(pts[:, 0].min()), int(pts[:, 1].min()), int(pts[:, 0].max()), int(pts[:, 1].max())


def lattice_zonal(raster: np.ndarray, polys: list[LatticePolygon]) -> dict:
    """{(poly_id, s): (n_px, sum, max, nonzero)} over the pixels whose centre
    is inside each polygon; polygons that contain no centre yield nothing."""
    _, gh, gw = raster.shape
    out = {}
    for p in polys:
        x0, y0, x1, y1 = _bbox(p)
        gx0, gy0 = max(x0, 0), max(y0, 0)
        gx1, gy1 = min(x1, gw), min(y1, gh)
        if gx1 <= gx0 or gy1 <= gy0:
            continue
        gy, gx = np.mgrid[gy0:gy1, gx0:gx1]
        m = inside(p.rings, UNIT * gx.ravel() + UNIT // 2, UNIT * gy.ravel() + UNIT // 2)
        if not m.any():
            continue
        sel = raster[:, gy0:gy1, gx0:gx1].reshape(raster.shape[0], -1)[:, m]
        for s in range(raster.shape[0]):
            v = sel[s]
            out[(p.poly_id, s)] = (int(v.size), int(v.sum()), int(v.max()), int((v > 0).sum()))
    return out


def _edge_through_open_rect(e, rect) -> bool:
    """Whether lattice segment e = (x1, y1, x2, y2) meets the open interior of
    the axis-aligned rectangle (a, b, c, d), by exact interval clipping."""
    x1, y1, x2, y2 = e
    a, b, c, d = rect
    lo, hi = Fraction(0), Fraction(1)
    lo_open = hi_open = False
    for p0, dp, mn, mx in ((x1, x2 - x1, a, c), (y1, y2 - y1, b, d)):
        if dp == 0:
            if not mn < p0 < mx:
                return False
            continue
        t0, t1 = Fraction(mn - p0, dp), Fraction(mx - p0, dp)
        if t0 > t1:
            t0, t1 = t1, t0
        if t0 > lo or (t0 == lo and not lo_open):
            lo, lo_open = t0, True
        if t1 < hi or (t1 == hi and not hi_open):
            hi, hi_open = t1, True
    return lo < hi


def lattice_assign(polys: list[LatticePolygon], spec: GridSpec) -> set:
    """{(poly_id, image_id)} for every tile the polygon overlaps with positive
    area. A tile qualifies when an edge crosses its open interior, or else
    when its interior lies inside the polygon (tested at its centre)."""
    out = set()
    tw, th = spec.tile_w, spec.tile_h
    for p in polys:
        x0, y0, x1, y1 = _bbox(p)
        tiles = set()
        for ring in p.rings:
            for k in range(len(ring) - 1):
                ex1, ey1 = (int(v) for v in ring[k])
                ex2, ey2 = (int(v) for v in ring[k + 1])
                for ty in range(max(min(ey1, ey2) // th, 0), min(max(ey1, ey2) // th, spec.tiles_y - 1) + 1):
                    for tx in range(max(min(ex1, ex2) // tw, 0), min(max(ex1, ex2) // tw, spec.tiles_x - 1) + 1):
                        if (tx, ty) not in tiles and _edge_through_open_rect(
                            (ex1, ey1, ex2, ey2), (tx * tw, ty * th, (tx + 1) * tw, (ty + 1) * th)
                        ):
                            tiles.add((tx, ty))
        for ty in range(max(y0 // th, 0), min(y1 // th, spec.tiles_y - 1) + 1):
            for tx in range(max(x0 // tw, 0), min(x1 // tw, spec.tiles_x - 1) + 1):
                if (tx, ty) in tiles:
                    continue
                cx, cy = UNIT * (tx * tw + tw // 2), UNIT * (ty * th + th // 2)
                if inside(p.rings, np.array([cx]), np.array([cy]))[0]:
                    tiles.add((tx, ty))
        for tx, ty in tiles:
            for code, _ in SPECIES:
                out.add((p.poly_id, image_id(code, tx, ty)))
    return out


def points_pip(polys: list[LatticePolygon], ids: np.ndarray, x: np.ndarray, y: np.ndarray) -> set:
    """{(point_id, poly_id)} for every point inside every polygon."""
    X = np.rint(2 * (x - X0)).astype(np.int64)
    Y = np.rint(2 * (Y0 - y)).astype(np.int64)
    out = set()
    for p in polys:
        x0, y0, x1, y1 = (UNIT * v for v in _bbox(p))
        cand = np.flatnonzero((X > x0) & (X < x1) & (Y > y0) & (Y < y1))
        if cand.size:
            m = inside(p.rings, X[cand], Y[cand])
            out.update((int(i), p.poly_id) for i in ids[cand[m]])
    return out


# -------------------------------------------------------------------- kNN


def knn_queries(seed: int, n_points: int, n: int) -> np.ndarray:
    """Positions of the ``n`` seeded queries the brute force checks."""
    return rng(seed, 4).choice(n_points, size=min(n, n_points), replace=False)


def knn_sample(seed: int, ids: np.ndarray, x: np.ndarray, y: np.ndarray, k: int, n: int) -> dict:
    """{query_id: [(rank, neighbor_id, dist_sq), ...]} by brute force over
    all points for ``n`` seeded queries; ties break by neighbor id."""
    out = {}
    for q in knn_queries(seed, ids.size, n):
        d = (x - x[q]) ** 2 + (y - y[q]) ** 2  # exact: half-metre offsets cancel
        d[q] = np.inf
        order = np.lexsort((ids, d))[:k]
        out[int(ids[q])] = [(r + 1, int(ids[j]), float(d[j])) for r, j in enumerate(order)]
    return out


# ------------------------------------------------------------- cube digest


def digest_sql(spec: GridSpec) -> str:
    """DuckDB metric SQL (richness, shannon, inverse simpson, dominant) per
    pixel, reduced to the digest that ``cube_digest_columns`` computes."""
    return f"""WITH {osql.val_cte(spec)},
t AS (SELECT gx, gy, CAST(SUM(v) AS DOUBLE) AS total,
             SUM(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS rich, MAX(v) AS mx
      FROM val GROUP BY gx, gy),
dom AS (SELECT v.gx, v.gy, MIN(v.s) AS min_s FROM val v
        JOIN t ON v.gx = t.gx AND v.gy = t.gy AND v.v = t.mx GROUP BY v.gx, v.gy),
sh AS (SELECT v.gx, v.gy,
         SUM(CASE WHEN v.v > 0 THEN -(v.v / t.total) * ln(v.v / t.total) ELSE 0 END) AS shannon,
         SUM(CASE WHEN v.v > 0 THEN (v.v / t.total) * (v.v / t.total) ELSE 0 END) AS sumsq
       FROM val v JOIN t ON v.gx = t.gx AND v.gy = t.gy AND t.total > 0
       GROUP BY v.gx, v.gy),
m AS (SELECT t.gx, t.gy, t.rich AS richness, COALESCE(sh.shannon, 0.0) AS shannon,
        CASE WHEN sh.sumsq > 0 THEN 1.0 / sh.sumsq ELSE 1.0 END AS simpson,
        CASE WHEN t.mx > 0 THEN dom.min_s ELSE 0 END AS dominant,
        ((t.gx * 7919 + t.gy * 104729) % {DIGEST_MOD}) + 1 AS w
      FROM t LEFT JOIN sh USING (gx, gy) JOIN dom USING (gx, gy))
SELECT COUNT(*), SUM(richness * w), SUM(dominant * w),
       SUM(CAST(floor(shannon * 10000.0 + 0.5) AS BIGINT) * w),
       SUM(CAST(floor(simpson * 10000.0 + 0.5) AS BIGINT) * w)
FROM m"""


def cube_digest(spec: GridSpec) -> tuple[int, ...]:
    con = _duckdb()
    try:
        return tuple(int(v) for v in con.execute(digest_sql(spec)).fetchone())
    finally:
        con.close()
