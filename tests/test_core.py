"""Unit tests for codecs, grid index, and geometry (no Spark needed)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gridfia_spark import codecs, geom, grid
from gridfia_spark.constants import PIX, SF_SPECS, X0, Y0
from gridfia_spark.datagen import pixels, vectors


class TestCodecs:
    @pytest.mark.parametrize("fmt", codecs.LOSSLESS_FMTS)
    def test_lossless_roundtrip(self, fmt):
        spec = SF_SPECS["0.001"]
        arr = pixels.tile_pixels(1, 0, 1, spec)
        dec = codecs.decode(codecs.encode(arr, fmt), spec.tile_w, spec.tile_h, fmt)
        np.testing.assert_array_equal(arr, dec)

    def test_lossy_psnr_gate(self):
        # BASELINE.json per-row invariant: PSNR >= 40 dB for lossy fmt
        spec = SF_SPECS["0.001"]
        for s in range(6):
            arr = pixels.tile_pixels(s, 1, 1, spec)
            dec = codecs.decode(codecs.encode(arr, "qnt8"), spec.tile_w, spec.tile_h, "qnt8")
            assert codecs.psnr(arr, dec) >= 40.0

    def test_psnr_peak_follows_dtype(self):
        """One PSNR for both callers: a uint8 reference peaks at 255 (the
        JPEG round trip), a float reference at its max |a| (the qnt8 gate)."""

        def mse(a, b):
            return float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))

        def peak_255(a, b):
            return 10.0 * np.log10(255.0 * 255.0 / mse(a, b))

        def peak_max(a, b):
            peak = float(np.max(np.abs(a.astype(np.float64))))
            return 10.0 * np.log10(peak * peak / mse(a, b))

        rng = np.random.default_rng(7)
        u8 = rng.integers(0, 200, (16, 16)).astype(np.uint8)
        noise = rng.integers(-3, 4, u8.shape)
        u8b = np.clip(u8.astype(np.int64) + noise, 0, 255).astype(np.uint8)
        assert codecs.psnr(u8, u8b) == peak_255(u8, u8b)
        f32, f32b = u8.astype(np.float32), u8b.astype(np.float32)
        assert f32.max() < 255
        assert codecs.psnr(f32, f32b) == peak_max(f32, f32b)
        assert codecs.psnr(f32, f32b) < codecs.psnr(u8, u8b)
        assert codecs.psnr(u8, u8) == float("inf")
        assert codecs.psnr(np.zeros(4, np.float32), np.ones(4, np.float32)) == float("inf")

    def test_dim_validation(self):
        arr = np.zeros((4, 4), dtype=np.float32)
        data = codecs.encode(arr, "raw32")
        with pytest.raises(ValueError, match="expected"):
            codecs.decode(data, 5, 5, "raw32")

    def test_unknown_fmt(self):
        with pytest.raises(ValueError):
            codecs.encode(np.zeros((2, 2)), "png")
        with pytest.raises(ValueError, match="unknown fmt 'webp'"):
            codecs.decode(b"RIFF", 1, 1, "webp")


class TestGrid:
    @given(
        st.integers(0, 2**20 - 1),
        st.integers(0, 2**20 - 1),
        st.integers(5, 20),
    )
    @settings(max_examples=200, deadline=None)
    def test_encode_decode_roundtrip(self, ix, iy, res):
        ix %= 1 << res
        iy %= 1 << res
        c = grid.encode_cell(np.array([ix]), np.array([iy]), res)
        dx, dy, dr = grid.decode_cell(c)
        assert (int(dx[0]), int(dy[0]), int(dr[0])) == (ix, iy, res)

    @given(
        st.floats(-19_000_000, 19_000_000),
        st.floats(-19_000_000, 19_000_000),
        st.integers(5, 22),
    )
    @settings(max_examples=200, deadline=None)
    def test_point_in_own_cell(self, x, y, res):
        c = grid.cell_of_xy(np.array([x]), np.array([y]), res)
        xmin, ymin, xmax, ymax = (float(v[0]) for v in grid.cell_bounds(c))
        # tolerance: adding WORLD_X0 (2e7) loses ~1e-9 m of precision for
        # coords near 0 — irrelevant at the engine's >=1 m coordinate lattice
        tol = max(abs(x), abs(y), 1.0) * 1e-12 + 1e-8
        assert xmin - tol <= x <= xmax + tol
        assert ymin - tol <= y <= ymax + tol

    def test_parent_child(self):
        c = grid.cell_of_xy(np.array([-1_999_000.0]), np.array([-901_000.0]), 18)
        p = grid.parent(c, 15)
        kids3 = [int(p[0])]
        for _ in range(3):
            kids3 = [int(k) for cc in kids3 for k in grid.children(cc)]
        assert int(c[0]) in kids3

    def test_k_ring_counts(self):
        c = grid.cell_of_xy(np.array([0.0]), np.array([0.0]), 15)
        assert grid.k_ring(c, 1).shape == (1, 9)
        assert grid.k_ring(c, 2).shape == (1, 25)
        # ring contains the center
        assert int(c[0]) in set(grid.k_ring(c, 1)[0].tolist())


class TestGeom:
    def test_wkb_roundtrip(self):
        rings = geom.rect_polygon(0, 0, 10, 10)
        back = geom.wkb_to_polygon(geom.polygon_to_wkb(rings))
        np.testing.assert_allclose(back[0], rings[0])

    def test_pip_rect(self):
        rings = geom.rect_polygon(0, 0, 10, 10)
        x = np.array([5.0, 15.0, -1.0, 9.999])
        y = np.array([5.0, 5.0, 5.0, 0.001])
        np.testing.assert_array_equal(
            geom.points_in_polygon(x, y, rings), [True, False, False, True]
        )

    def test_pip_concave(self):
        spec = SF_SPECS["0.001"]
        L = vectors.concave_polygons(spec)[0]
        xmin, ymin, xmax, ymax = L.bounds
        # the cut-out quadrant (top-right) is outside
        cx = xmax - (xmax - xmin) * 0.25
        cy = ymax - (ymax - ymin) * 0.25
        assert not geom.points_in_polygon(np.array([cx]), np.array([cy]), L.rings)[0]
        # the bottom-left quadrant is inside
        cx2 = xmin + (xmax - xmin) * 0.25
        cy2 = ymin + (ymax - ymin) * 0.25
        assert geom.points_in_polygon(np.array([cx2]), np.array([cy2]), L.rings)[0]

    def test_pip_with_hole(self):
        outer = geom.rect_polygon(0, 0, 10, 10)[0]
        hole = geom.rect_polygon(4, 4, 6, 6)[0]
        rings = [outer, hole]
        assert not geom.points_in_polygon(np.array([5.0]), np.array([5.0]), rings)[0]
        assert geom.points_in_polygon(np.array([2.0]), np.array([2.0]), rings)[0]

    def test_covering_soundness(self):
        """fully_inside cells truly inside; union of cells covers the polygon."""
        spec = SF_SPECS["0.001"]
        rng = np.random.default_rng(7)
        for poly in vectors.all_polygons(spec)[:11]:
            cells, full = geom.polygon_covering(poly.rings, 12, 18)
            if len(cells) == 0:
                continue
            xmin, ymin, xmax, ymax = (np.asarray(v) for v in grid.cell_bounds(cells))
            cx, cy = (xmin + xmax) / 2, (ymin + ymax) / 2
            if full.any():
                assert geom.points_in_polygon(cx[full], cy[full], poly.rings).all()
            bx0, by0, bx1, by1 = poly.bounds
            px = rng.uniform(bx0, bx1, 500)
            py = rng.uniform(by0, by1, 500)
            inside = geom.points_in_polygon(px, py, poly.rings)
            covered = np.zeros(px.shape, bool)
            for x0, y0, x1, y1 in zip(xmin, ymin, xmax, ymax):
                covered |= (px >= x0) & (px <= x1) & (py >= y0) & (py <= y1)
            assert covered[inside].all()


def _clip_hits(px, py, qx, qy, x0, y0, x1, y1) -> bool:
    """Reference: scalar Liang-Barsky clip of one edge against one rect."""
    t0, t1 = 0.0, 1.0
    for o, d, lo, hi in ((px, qx - px, x0, x1), (py, qy - py, y0, y1)):
        if d == 0.0:
            if not lo <= o <= hi:
                return False
        else:
            ta, tb = (lo - o) / d, (hi - o) / d
            t0, t1 = max(t0, min(ta, tb)), min(t1, max(ta, tb))
    return t0 <= t1


class TestEdgesHitRects:
    @pytest.mark.parametrize("seed", range(6))
    @pytest.mark.parametrize("block", [7, 1 << 18])
    def test_vs_scalar_clip(self, seed, block, monkeypatch):
        """Equal, rect by rect, to any-edge-of-the-polygon under the scalar
        clip: rings with horizontal and vertical runs and hole rings, rects
        with zero width or height and rects whose corner is a ring vertex,
        on the integer lattice and at world coordinates; a 7-element block
        runs the multi-block and all-hit early-exit paths."""
        monkeypatch.setattr(geom, "_EDGE_BLOCK", block)
        rng = np.random.default_rng(seed)
        scale, x_off, y_off = ((1.0, 0.0, 0.0), (PIX / 2, X0, Y0 - 20 * PIX))[seed % 2]
        rings = []
        for _ in range(1 + seed % 3):
            n = int(rng.integers(3, 12))
            v = rng.integers(0, 21, size=(n, 2)).astype(np.float64)
            v[1::3, 0] = v[0:-1:3, 0][: len(v[1::3])]  # vertical edges
            v[2::3, 1] = v[1:-1:3, 1][: len(v[2::3])]  # horizontal edges
            v = np.vstack([v, v[:1]])
            rings.append(np.column_stack([x_off + scale * v[:, 0], y_off + scale * v[:, 1]]))
        n = 400
        lo = rng.integers(-2, 23, size=(n, 2)).astype(np.float64)
        size = rng.integers(0, 6, size=(n, 2)).astype(np.float64)
        size[rng.random(n) < 0.25, 0] = 0.0  # zero width
        size[rng.random(n) < 0.25, 1] = 0.0  # zero height
        verts = np.vstack([r[:-1] for r in rings])
        at_vertex = rng.random(n) < 0.3  # the rect's lower-left is a vertex
        xmin = np.where(at_vertex, 0.0, x_off + scale * lo[:, 0])
        ymin = np.where(at_vertex, 0.0, y_off + scale * lo[:, 1])
        pick = verts[rng.integers(0, len(verts), size=n)]
        xmin[at_vertex], ymin[at_vertex] = pick[at_vertex, 0], pick[at_vertex, 1]
        xmax, ymax = xmin + scale * size[:, 0], ymin + scale * size[:, 1]
        got = geom._edges_hit_rects(rings, xmin, ymin, xmax, ymax)
        want = np.array([
            any(
                _clip_hits(*p, *q, xmin[i], ymin[i], xmax[i], ymax[i])
                for r in rings
                for p, q in zip(r[:-1].tolist(), r[1:].tolist())
            )
            for i in range(n)
        ])
        np.testing.assert_array_equal(got, want)
        assert 0 < want.sum() < n


def _meshgrid_mask(tx, ty, w, h, rings):
    """Reference: ray-cast every pixel centre of the tile."""
    cx = X0 + (tx * w + np.arange(w)) * PIX + PIX / 2
    cy = Y0 - (ty * h + np.arange(h)) * PIX - PIX / 2
    gx, gy = np.meshgrid(cx, cy)
    return geom.points_in_polygon(gx.ravel(), gy.ravel(), rings).reshape(h, w)


def _lattice_ring(tx, ty, w, h, u, v):
    """Closed ring with vertices on the half-pixel lattice of tile (tx, ty):
    even (u, v) are pixel corners, odd ones pixel centres."""
    x = X0 + (tx * w) * PIX + np.asarray(u) * PIX / 2
    y = Y0 - (ty * h) * PIX - np.asarray(v) * PIX / 2
    r = np.stack([x, y], axis=1)
    return np.vstack([r, r[:1]])


class TestTileMask:
    """geom.tile_mask is bit-identical to ray casting the tile's meshgrid."""

    def _check(self, tx, ty, w, h, rings):
        got = geom.tile_mask(tx, ty, w, h, rings)
        assert got.shape == (h, w) and got.dtype == bool
        np.testing.assert_array_equal(got, _meshgrid_mask(tx, ty, w, h, rings))
        return got

    @settings(max_examples=300, deadline=None)
    @given(
        st.integers(0, 3), st.integers(0, 3),
        st.integers(1, 24), st.integers(1, 24),
        st.lists(st.tuples(st.integers(-6, 54), st.integers(-6, 54)),
                 min_size=3, max_size=14),
        st.one_of(st.none(), st.lists(
            st.tuples(st.integers(-6, 54), st.integers(-6, 54)),
            min_size=3, max_size=8)),
    )
    def test_random_lattice_polygons(self, tx, ty, w, h, outer, hole):
        rings = [_lattice_ring(tx, ty, w, h, *zip(*outer))]
        if hole is not None:
            rings.append(_lattice_ring(tx, ty, w, h, *zip(*hole)))
        self._check(tx, ty, w, h, rings)

    def test_vertices_on_pixel_centre_rows(self):
        # every vertex sits on a pixel-centre row (odd v), four on centres
        ring = _lattice_ring(2, 1, 16, 16, [1, 20, 31, 9, -3], [3, 1, 17, 29, 13])
        self._check(2, 1, 16, 16, [ring])

    def test_horizontal_and_vertical_edges(self):
        # horizontal edges on centre rows and on pixel edges; vertical edges
        # through pixel centres (odd u) and on pixel edges (even u)
        ring = _lattice_ring(
            0, 0, 12, 12,
            [3, 3, 9, 9, 15, 15, 20, 20],
            [-2, 7, 7, 12, 12, 5, 5, -2],
        )
        m = self._check(0, 0, 12, 12, [ring])
        assert m.any() and not m.all()

    def test_hole(self):
        outer = _lattice_ring(1, 1, 20, 20, [2, 36, 36, 2], [2, 2, 36, 36])
        hole = _lattice_ring(1, 1, 20, 20, [11, 25, 25, 11], [11, 11, 25, 25])
        m = self._check(1, 1, 20, 20, [outer, hole])
        assert not m[9, 9] and m[3, 3]

    @pytest.mark.parametrize("w,h", [(1, 9), (9, 1), (7, 31), (40, 3)])
    def test_non_square_tiles(self, w, h):
        ring = _lattice_ring(3, 2, w, h, [-1, 2 * w - 1, w], [1, h, 2 * h + 1])
        self._check(3, 2, w, h, [ring])

    def test_outside_and_covering(self):
        w, h = 8, 5
        outside = _lattice_ring(1, 1, w, h, [20, 30, 30, 20], [0, 0, 9, 9])
        assert not self._check(1, 1, w, h, [outside]).any()
        cover = _lattice_ring(1, 1, w, h, [-4, 2 * w + 3, 2 * w + 3, -4],
                              [-4, -4, 2 * h + 3, 2 * h + 3])
        assert self._check(1, 1, w, h, [cover]).all()
        # the tile's own outline: every centre is strictly inside
        own = _lattice_ring(1, 1, w, h, [0, 2 * w, 2 * w, 0], [0, 0, 2 * h, 2 * h])
        assert self._check(1, 1, w, h, [own]).all()


class TestPixelGen:
    def test_total_is_sum(self):
        spec = SF_SPECS["0.001"]
        cube = pixels.full_cube(spec)
        np.testing.assert_array_equal(cube[0], cube[1:].sum(axis=0))

    def test_tile_matches_cube_slice(self):
        spec = SF_SPECS["0.001"]
        cube = pixels.full_cube(spec)
        t = pixels.tile_pixels(3, 1, 0, spec)
        np.testing.assert_array_equal(
            t, cube[3, 0 : spec.tile_h, spec.tile_w : 2 * spec.tile_w]
        )

    def test_patterns(self):
        spec = SF_SPECS["0.01"]
        cube = pixels.full_cube(spec)
        # species 3 rare: nonzero only in the central patch
        nz = np.nonzero(cube[3])
        assert nz[0].min() >= (2 * spec.gh) // 5 and nz[0].max() < (3 * spec.gh) // 5
        # species 4 edge: only top/bottom bands
        nz4 = np.nonzero(cube[4])
        band = spec.gh // 10
        assert ((nz4[0] < band) | (nz4[0] >= spec.gh - band)).all()
        # species 1 dominant: ~80% nonzero
        frac = (cube[1] > 0).mean()
        assert 0.7 < frac < 0.9

    def test_phash_deterministic(self):
        spec = SF_SPECS["0.001"]
        a = pixels.phash64(pixels.tile_pixels(1, 0, 0, spec))
        b = pixels.phash64(pixels.tile_pixels(1, 0, 0, spec))
        assert a == b
        c = pixels.phash64(pixels.tile_pixels(2, 0, 0, spec))
        assert a != c


class TestU8z:
    def test_lossless_for_engine_values(self):
        spec = SF_SPECS["0.001"]
        for s in range(6):
            arr = pixels.tile_pixels(s, 1, 0, spec)
            dec = codecs.decode(codecs.encode(arr, "u8z"), spec.tile_w, spec.tile_h, "u8z")
            np.testing.assert_array_equal(arr, dec)

    def test_rejects_unrepresentable(self):
        with pytest.raises(ValueError, match="u8z requires"):
            codecs.encode(np.array([[0.5]], dtype=np.float32), "u8z")
        with pytest.raises(ValueError, match="u8z requires"):
            codecs.encode(np.array([[300.0]], dtype=np.float32), "u8z")
