"""Integration tests: Spark operators vs the single-process numpy oracle.

The Spark analogue of the reference's pipeline suite
(tests/integration/test_forest_metrics_pipeline.py): engine output must match
a sequential numpy re-implementation exactly (rows/ids) or to float64
determinism (sums), including on concave polygons the SQL oracle can't check.
"""

from __future__ import annotations

import re
import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from gridfia_spark import geom, grid
from gridfia_spark.constants import PIX, SF_SPECS, X0, Y0
from gridfia_spark.datagen import pixels, tiles as tgen, vectors
from gridfia_spark.localdf import local_df
from gridfia_spark.operators import (
    broadcast_join, decode, knn, metrics, spatial_join, zonal,
)

SF_DIR = "/root/testdata/sf0.001"
SPEC = SF_SPECS["0.001"]


@pytest.fixture(scope="module")
def tiles(spark):
    return tgen.ensure_tiles(spark, SF_DIR)


@pytest.fixture(scope="module")
def polys(spark):
    return tgen.polygons_df(spark, SF_DIR)


def oracle_zonal(poly: vectors.Polygon, species: int = 0) -> tuple[int, float, float, int]:
    cube = pixels.full_cube(SPEC)
    layer = cube[species].astype(np.float64)
    gy, gx = np.meshgrid(np.arange(SPEC.gh), np.arange(SPEC.gw), indexing="ij")
    x = X0 + gx * PIX + PIX / 2
    y = Y0 - gy * PIX - PIX / 2
    inside = geom.points_in_polygon(x.ravel(), y.ravel(), poly.rings)
    v = layer.ravel()[inside]
    return int(v.size), float(v.sum()), float(v.max()) if v.size else 0.0, int((v > 0).sum())


class TestZonal:
    def test_all_polygons_vs_oracle(self, spark, tiles, polys):
        got = {
            r.poly_id: r
            for r in zonal.zonal_stats(tiles, polys, species=0).collect()
        }
        for p in vectors.all_polygons(SPEC):
            n, s, mx, nz = oracle_zonal(p)
            if n == 0:
                assert p.poly_id not in got  # empty-join polygon (X01)
                continue
            r = got[p.poly_id]
            assert (r.n_px, r.sum_v, r.max_v, r.nonzero_px) == (n, s, mx, nz), p.poly_id

    def test_counties_partition_extent(self, spark, tiles, polys):
        """Counties tile the extent: per-county pixel counts sum to the total."""
        rect = polys.filter(F.col("is_rect"))
        out = zonal.zonal_stats(tiles, rect, species=0)
        assert out.agg(F.sum("n_px")).first()[0] == SPEC.gw * SPEC.gh


class TestTileAssignment:
    @pytest.mark.parametrize("res", [grid.JOIN_RES, 14])
    def test_vs_oracle(self, spark, tiles, polys, res):
        meta = decode.with_tile_meta(tiles)
        got = {
            (r.poly_id, r.image_id)
            for r in broadcast_join.assign_tiles_fast(meta, polys, res=res).collect()
        }
        want = set()
        eps = 1e-3
        for p in vectors.all_polygons(SPEC):
            for r in meta.select("image_id", "xmin", "ymin", "xmax", "ymax").collect():
                rel = geom.rect_relation(
                    p.rings, r.xmin + eps, r.ymin + eps, r.xmax - eps, r.ymax - eps
                )
                if rel != "outside":
                    want.add((p.poly_id, r.image_id))
        assert got == want


class TestPointJoin:
    def test_vs_oracle_all_polygons(self, spark, polys):
        pts = tgen.points_df(spark, SF_DIR)
        got = {
            (r.point_id, r.poly_id)
            for r in spatial_join.join_points_polygons(pts, polys).collect()
        }
        ids, xs, ys = vectors.points_xy(SPEC, vectors.N_POINTS["0.001"])
        want = set()
        for p in vectors.all_polygons(SPEC):
            inside = geom.points_in_polygon(xs, ys, p.rings)
            want |= {(int(i), p.poly_id) for i in ids[inside]}
        assert got == want


class TestKnn:
    def test_vs_bruteforce(self, spark):
        pts = tgen.points_df(spark, SF_DIR)
        got = knn.knn_join(pts, pts, k=3).toPandas()
        ids, xs, ys = vectors.points_xy(SPEC, vectors.N_POINTS["0.001"])
        for qi in range(0, len(ids), 17):
            d = (xs - xs[qi]) ** 2 + (ys - ys[qi]) ** 2
            order = sorted(
                [(float(d[j]), int(ids[j])) for j in range(len(ids)) if j != qi]
            )[:3]
            mine = got[got.point_id == qi].sort_values("rank")
            assert [(r.dist_sq, r.neighbor_id) for r in mine.itertuples()] == order

    def test_distinct_tables_sharing_ids_vs_bruteforce(self, spark):
        """Only a self-join drops a neighbor by id: against a second table
        that reuses the query ids, each query's own id is a target like
        any other (here the nearest one, shifted by (3, 4) m)."""
        pts = tgen.points_df(spark, SF_DIR)
        shifted = pts.select(
            "point_id", (F.col("x") + 3.0).alias("x"), (F.col("y") + 4.0).alias("y")
        )
        got = knn.knn_join(pts, shifted, k=3).toPandas()
        ids, xs, ys = vectors.points_xy(SPEC, vectors.N_POINTS["0.001"])
        tx, ty = xs + 3.0, ys + 4.0
        assert len(got) == 3 * len(ids)
        for qi in range(0, len(ids), 17):
            d = (tx - xs[qi]) ** 2 + (ty - ys[qi]) ** 2
            order = sorted((float(d[j]), int(ids[j])) for j in range(len(ids)))[:3]
            mine = got[got.point_id == ids[qi]].sort_values("rank")
            assert [(r.dist_sq, r.neighbor_id) for r in mine.itertuples()] == order
            assert order[0] == (25.0, int(ids[qi]))

    # An escalation layout at res 12 (~9.8 km cells): a dense 2 km cluster
    # and four outliers 60 km out, one per side. The extent-based first
    # radius (3 cells) proves every cluster point; an outlier's nearest
    # targets are ~60 km off, so it is proven only after the ring doubles.
    RES = 12
    CX, CY = -1_999_000.0, -901_000.0

    @classmethod
    def _layout(cls, n, seed):
        rng = np.random.default_rng(seed)
        xy = np.round(rng.uniform(-1000.0, 1000.0, (n, 2))) + 0.5
        far = np.array([[60e3, 0.0], [-60e3, 0.0], [0.0, 60e3], [0.0, -60e3]])
        return np.vstack([xy, far]) + (cls.CX, cls.CY)

    @staticmethod
    def _df(spark, ids, xy):
        rows = [(int(i), float(x), float(y)) for i, (x, y) in zip(ids, xy)]
        return local_df(spark, rows, "point_id long, x double, y double")

    @staticmethod
    def _brute(q_ids, q_xy, t_ids, t_xy, k, self_join):
        want = set()
        for i, (x, y) in zip(q_ids, q_xy):
            d = (t_xy[:, 0] - x) * (t_xy[:, 0] - x) + (t_xy[:, 1] - y) * (t_xy[:, 1] - y)
            near = sorted(
                (float(dj), int(j)) for dj, j in zip(d, t_ids) if not (self_join and j == i)
            )[:k]
            want |= {(int(i), r + 1, j, dj) for r, (dj, j) in enumerate(near)}
        return want

    def _radii(self, monkeypatch):
        """Record the radius of every proof round ``knn_join`` runs."""
        radii = []
        inner = knn._round

        def spy(qleft, t, k, res, radius, self_join):
            radii.append(radius)
            return inner(qleft, t, k, res, radius, self_join)

        monkeypatch.setattr(knn, "_round", spy)
        return radii

    def _round_plans(self, monkeypatch):
        """Record the physical plan of every proof round ``knn_join`` runs."""
        plans = []
        inner = knn._round

        def spy(*args):
            out = inner(*args)
            plans.append(out._jdf.queryExecution().executedPlan().toString())
            return out

        monkeypatch.setattr(knn, "_round", spy)
        return plans

    def test_escalation_self_join_vs_bruteforce(self, spark, monkeypatch):
        xy = self._layout(150, seed=12)
        ids = np.arange(len(xy)) * 7 + 3
        pts = self._df(spark, ids, xy)
        radii = self._radii(monkeypatch)
        got = {tuple(r) for r in knn.knn_join(pts, pts, k=4, res=self.RES).collect()}
        assert len(radii) >= 2 and radii == sorted(set(radii)), radii
        assert got == self._brute(ids, xy, ids, xy, 4, self_join=True)

    def test_escalation_zero_candidate_query_vs_bruteforce(self, spark, monkeypatch):
        """A join of two tables: one query sits 80 km east and 80 km north
        of the cluster, beyond every ring cell of the first two rounds. The
        second round therefore runs with no candidate row at all, and the
        query must still escalate to its top-k."""
        t_xy = self._layout(150, seed=13)
        t_ids = np.arange(len(t_xy))
        q_xy = np.vstack([self._layout(40, seed=14)[:40], [[self.CX + 80e3, self.CY + 80e3]]])
        q_ids = np.arange(len(q_xy)) + 1000
        radii = self._radii(monkeypatch)
        got = knn.knn_join(
            self._df(spark, q_ids, q_xy), self._df(spark, t_ids, t_xy), k=4, res=self.RES
        )
        assert len(radii) >= 2, radii
        assert {tuple(r) for r in got.collect()} == self._brute(
            q_ids, q_xy, t_ids, t_xy, 4, self_join=False
        )

    def test_shuffle_plan_when_broadcast_is_off(self, spark, monkeypatch):
        """With ``spark.sql.autoBroadcastJoinThreshold=-1`` no target table
        fits, so every round keeps the shuffle join: the same rows as the
        broadcast plan, both escalation layouts still exact, and no round
        broadcasts the targets."""
        pts = tgen.points_df(spark, SF_DIR)
        want = sorted(knn.knn_join(pts, pts, k=3).collect())
        key = "spark.sql.autoBroadcastJoinThreshold"
        old = spark.conf.get(key)
        spark.conf.set(key, "-1")
        try:
            plans = self._round_plans(monkeypatch)
            assert sorted(knn.knn_join(pts, pts, k=3).collect()) == want
            self.test_escalation_self_join_vs_bruteforce(spark, monkeypatch)
            self.test_escalation_zero_candidate_query_vs_bruteforce(spark, monkeypatch)
        finally:
            spark.conf.set(key, old)
        assert plans and not any("BroadcastExchange" in p for p in plans), plans

    def test_unconverged_leaves_no_cache(self, spark):
        """Round one proves the cluster and keeps its rows; the outliers
        never prove within ``max_radius``. The error path unpersists the
        proven pieces and the last round alike."""
        xy = self._layout(150, seed=12)
        pts = self._df(spark, np.arange(len(xy)), xy)
        persisted = spark.sparkContext._jsc.getPersistentRDDs
        before = persisted().size()
        with pytest.raises(RuntimeError, match="did not converge within radius 4"):
            knn.knn_join(pts, pts, k=4, res=self.RES, max_radius=4)
        assert persisted().size() == before

    def test_too_few_targets_fails_fast(self, spark):
        """No query can be proven with fewer than k targets (k+1 in a
        self-join): the stats pass refuses before any join runs."""
        pts = self._df(spark, [1, 2, 3], [(0.5, 0.5), (10.5, 0.5), (0.5, 20.5)])
        with pytest.raises(ValueError, match="at least 6 target points for k=5, got 3"):
            knn.knn_join(pts, pts, k=5)
        with pytest.raises(ValueError, match="at least 4 target points for k=4, got 3"):
            knn.knn_join(self._df(spark, [9], [(5.5, 5.5)]), pts, k=4)
        # exactly k targets of another table prove every query
        got = knn.knn_join(self._df(spark, [9], [(5.5, 5.5)]), pts, k=3).collect()
        assert [r.neighbor_id for r in sorted(got, key=lambda r: r.rank)] == [1, 2, 3]

    def test_distinct_tables_run_no_query_count_job(self, spark):
        """The query count of a join of two tables rides the target-stats
        aggregation: it runs exactly the jobs of the self-join."""
        pts = tgen.points_df(spark, SF_DIR)
        shifted = pts.select(
            "point_id", (F.col("x") + 3.0).alias("x"), (F.col("y") + 4.0).alias("y")
        )
        self_jobs = _jobs(spark, lambda: knn.knn_join(pts, pts, k=3))
        assert _jobs(spark, lambda: knn.knn_join(pts, shifted, k=3)) == self_jobs


def _jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` runs."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


class TestPolygonIndexBound:
    """The driver index collects a bounded number of polygons; above the
    bound ``PolygonIndex.build`` refuses, and the two public spatial joins
    take the in-cluster cell join from the same bounded collect."""

    def test_build_refuses_above_threshold(self, spark, tiles, polys, monkeypatch):
        def rows():
            return {
                r.poly_id: (r.n_px, r.sum_v, r.max_v, r.nonzero_px)
                for r in zonal.zonal_stats(tiles, polys, species=0).collect()
            }

        n = polys.count()
        monkeypatch.setattr(broadcast_join, "AUTO_DIST_THRESHOLD", n)
        assert len(broadcast_join.PolygonIndex.build(polys, grid.JOIN_RES).poly_ids) == n
        via_index = rows()
        monkeypatch.setattr(broadcast_join, "AUTO_DIST_THRESHOLD", n - 1)
        with pytest.raises(ValueError, match=r"more than \d+ polygons for a driver index"):
            broadcast_join.PolygonIndex.build(polys, grid.JOIN_RES)
        assert rows() == via_index  # routed to the in-cluster plan

    def test_join_points_above_threshold_routes_in_cluster(self, spark, polys, monkeypatch):
        pts = tgen.points_df(spark, SF_DIR)

        def rows():
            out = spatial_join.join_points_polygons(pts, polys).collect()
            return sorted((r.point_id, r.x, r.y, r.poly_id) for r in out)

        n = polys.count()
        monkeypatch.setattr(broadcast_join, "AUTO_DIST_THRESHOLD", n)
        via_index = rows()
        monkeypatch.setattr(broadcast_join, "AUTO_DIST_THRESHOLD", n - 1)
        assert rows() == via_index and len(via_index) > 0

    def test_in_cluster_point_join_broadcasts_nothing(self, spark, polys, monkeypatch):
        """The plan for more polygons than a driver index holds ships no
        O(polygons) frame to every executor: the WKB frame meets the
        candidates in a shuffle-hash join (mirrors
        test_plan_shapes::test_distributed_zonal_broadcasts_nothing)."""
        pts = tgen.points_df(spark, SF_DIR)
        monkeypatch.setattr(broadcast_join, "AUTO_DIST_THRESHOLD", polys.count() - 1)
        df = spatial_join.join_points_polygons(pts, polys)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert not re.findall(r"BroadcastHashJoin \[(?:poly_id|cell_id)", plan), plan
        assert re.search(r"ShuffledHashJoin \[poly_id", plan), plan

    def test_zonal_small_side_runs_no_count_job(self, spark, tiles, polys):
        """Choosing the plan costs no job beyond the index's own bounded
        collect (the polygon side is not counted first), for one layer and
        for every layer."""
        build = _jobs(spark, lambda: broadcast_join.PolygonIndex.build(polys, grid.JOIN_RES))
        for species in (0, None):
            assert _jobs(spark, lambda: zonal.zonal_stats(tiles, polys, species=species)) == build

    @pytest.mark.parametrize("species", [None, 0], ids=["all-layers", "one-layer"])
    def test_zonal_entries_route_above_threshold(self, spark, tiles, polys, species, monkeypatch):
        """The facade, ``zonal.zonal_stats`` and ``zonal_value_hist`` return
        at n-1 the rows they return at n: above the threshold they take the
        in-cluster cell join instead of refusing or dropping layers."""
        from gridfia_spark.api import GridFIASpark

        facade = GridFIASpark(spark)
        res = facade._res(tiles)

        def rows():
            stats = lambda df: sorted(  # noqa: E731
                (r.poly_id, r["s"] if species is None else None, r.n_px, r.sum_v,
                 r.max_v, r.nonzero_px) for r in df.collect()
            )
            return (
                stats(facade.zonal_stats(tiles, polys, species=species)),
                stats(zonal.zonal_stats(tiles, polys, species=species, res=res)),
                sorted(map(tuple, broadcast_join.zonal_value_hist(
                    tiles, polys, species=species, res=res).collect())),
            )

        n = polys.count()
        monkeypatch.setattr(broadcast_join, "AUTO_DIST_THRESHOLD", n)
        via_index = rows()
        assert all(via_index)
        if species is None:  # every layer of every zone
            assert {r[1] for r in via_index[0]} == set(range(6))
        monkeypatch.setattr(broadcast_join, "AUTO_DIST_THRESHOLD", n - 1)
        assert rows() == via_index


class TestMetricsPipeline:
    def test_pixel_metrics_vs_cube(self, spark, tiles):
        specs = [
            metrics.MetricSpec("richness", "species_richness", {}, "long"),
            metrics.MetricSpec("total_v", "total_biomass", {}, "double"),
            metrics.MetricSpec("shannon", "shannon_diversity", {}, "double"),
            metrics.MetricSpec("dominant", "dominant_species", {}, "long"),
        ]
        out = (
            metrics.metric_layers(tiles, specs)
            .toPandas()
            .sort_values(["gy", "gx"], ignore_index=True)
        )
        cube = pixels.full_cube(SPEC)
        from gridfia_spark.functions import kernels

        np.testing.assert_array_equal(
            out["richness"].to_numpy().reshape(SPEC.gh, SPEC.gw),
            kernels.species_richness(cube).astype(np.int64),
        )
        np.testing.assert_array_equal(
            out["total_v"].to_numpy().reshape(SPEC.gh, SPEC.gw),
            kernels.total_biomass(cube),
        )
        np.testing.assert_array_equal(
            out["shannon"].to_numpy().reshape(SPEC.gh, SPEC.gw),
            kernels.shannon_diversity(cube),
        )
        np.testing.assert_array_equal(
            out["dominant"].to_numpy().reshape(SPEC.gh, SPEC.gw),
            kernels.dominant_species(cube).astype(np.int64),
        )

    def test_global_rare_common(self, spark, tiles):
        """Global-scope rare/common: engine two-phase agg == whole-cube numpy."""
        out = (
            metrics.rare_common_layers(tiles, rare_threshold=0.05, common_threshold=0.5)
            .toPandas()
            .sort_values(["gy", "gx"], ignore_index=True)
        )
        cube = pixels.full_cube(SPEC)
        from gridfia_spark.functions import kernels

        rare = kernels.rare_species(cube, occurrence_threshold=0.05)
        common = kernels.common_species(cube, occurrence_threshold=0.5)
        np.testing.assert_array_equal(
            out["rare_cnt"].to_numpy().reshape(SPEC.gh, SPEC.gw), rare.astype(np.int64)
        )
        np.testing.assert_array_equal(
            out["common_cnt"].to_numpy().reshape(SPEC.gh, SPEC.gw),
            common.astype(np.int64),
        )


class TestRowInvariants:
    def test_caption_and_phash_per_row(self, spark, tiles):
        """Per-row contract: caption equality + phash vs the pure generator."""
        from gridfia_spark import codecs
        from gridfia_spark.constants import SPECIES, caption as mk_caption

        rows = tiles.collect()
        assert len(rows) == SPEC.n_images
        code_to_s = {c: i for i, (c, _) in enumerate(SPECIES)}
        for r in rows:
            code = r.image_id[2:6]
            tx = int(r.image_id[9:12])
            ty = int(r.image_id[15:18])
            s = code_to_s[code]
            want_px = pixels.tile_pixels(s, tx, ty, SPEC)
            got_px = codecs.decode(bytes(r.bytes), r.w, r.h, r.fmt)
            np.testing.assert_array_equal(got_px, want_px)
            assert r.caption == mk_caption(code, SPECIES[s][1], tx, ty)
            assert r.phash == pixels.phash64(want_px)

    def test_lossy_rows_psnr_gate(self, spark):
        from gridfia_spark import codecs

        mixed = tgen.generate_tiles(spark, SPEC, fmt="mixed")
        lossy = mixed.filter(F.col("fmt") == "qnt8").collect()
        assert lossy  # the mixed policy produced lossy rows
        from gridfia_spark.constants import SPECIES

        code_to_s = {c: i for i, (c, _) in enumerate(SPECIES)}
        for r in lossy:
            s = code_to_s[r.image_id[2:6]]
            tx, ty = int(r.image_id[9:12]), int(r.image_id[15:18])
            want = pixels.tile_pixels(s, tx, ty, SPEC)
            got = codecs.decode(bytes(r.bytes), r.w, r.h, r.fmt)
            assert codecs.psnr(want, got) >= 40.0


class TestLShapePins:
    """Rows of the mask consumers on the concave L-shape fixture, pinned to
    the values of the per-pixel ray-casting masks they replaced (and
    cross-checked against the whole-raster oracle). Every zonal plan shares
    one pair kernel, so each must give the same pinned rows."""

    @pytest.fixture(scope="class")
    def lshape(self, polys):
        return polys.filter(F.col("poly_id") == "L01")

    @pytest.mark.parametrize(
        "plan",
        [
            zonal.zonal_stats,
            zonal.zonal_stats_dist,
            lambda *a, **kw: zonal.zonal_stats_dist(*a, salted=True, salt_threshold=0, **kw),
        ],
        ids=["index", "distributed", "salted"],
    )
    def test_zonal_stats(self, spark, tiles, lshape, plan):
        want = {0: (768, 22875.0, 90.0, 709), 3: (768, 848.0, 40.0, 50)}
        poly = vectors.concave_polygons(SPEC)[0]
        for s, row in want.items():
            (r,) = plan(tiles, lshape, species=s).collect()
            got = (r.n_px, r.sum_v, r.max_v, r.nonzero_px)
            assert (r.poly_id, got) == ("L01", row) and got == oracle_zonal(poly, s)

    def test_zonal_stats_fast(self, spark, tiles, lshape):
        """The all-layer rows, on the index, distributed and salted plans."""
        want = {
            0: (768, 22875.0, 90.0, 709),
            1: (768, 15719.0, 49.0, 629),
            2: (768, 5472.0, 30.0, 370),
            3: (768, 848.0, 40.0, 50),
            4: (768, 0.0, 0.0, 0),
            5: (768, 836.0, 15.0, 105),
        }
        for plan in (
            broadcast_join.zonal_stats_fast,
            zonal.zonal_stats_dist,
            lambda *a, **kw: zonal.zonal_stats_dist(*a, salted=True, salt_threshold=0, **kw),
        ):
            rows = plan(tiles, lshape, species=None, res=14).collect()
            got = {r.s: (r.n_px, r.sum_v, r.max_v, r.nonzero_px) for r in rows}
            assert got == want and len(rows) == len(want)

    def test_clip_to_polygon(self, spark, tiles, polys):
        from gridfia_spark import codecs

        rows = zonal.clip_to_polygon(tiles, polys, "L01", species=0).collect()
        arrs = [codecs.decode(bytes(r.bytes), r.w, r.h, r.fmt) for r in rows]
        assert sorted(r.image_id for r in rows) == [
            "sp0000_tx000_ty000", "sp0000_tx000_ty001", "sp0000_tx001_ty001"
        ]
        assert sum(float(a.sum(dtype=np.float64)) for a in arrs) == 22875.0
        assert sum(int((a != 0).sum()) for a in arrs) == 709


class TestManyPolygons:
    """The DataFrame cell-join path is the plan for large polygon dims —
    exercise it with a 10x10 grid of 100 small counties and check both paths
    agree (and against the exhaustive pixel oracle for a sample)."""

    def test_dense_polygon_grid(self, spark, tiles):
        n = 10
        w_m, h_m = SPEC.gw * PIX, SPEC.gh * PIX
        wc, hc = w_m / n, h_m / n
        rows = []
        for j in range(n):
            for i in range(n):
                rings = geom.rect_polygon(
                    X0 + i * wc, Y0 - (j + 1) * hc, X0 + (i + 1) * wc, Y0 - j * hc
                )
                xmin, ymin, xmax, ymax = geom.polygon_bounds(rings)
                rows.append(
                    (f"G{j:02d}{i:02d}", f"g{j}{i}", bytearray(geom.polygon_to_wkb(rings)),
                     xmin, ymin, xmax, ymax, True)
                )
        polys = spark.createDataFrame(
            rows,
            "poly_id string, name string, geom_wkb binary, "
            "xmin double, ymin double, xmax double, ymax double, is_rect boolean",
        )
        slow = {
            r.poly_id: (r.n_px, r.sum_v)
            for r in zonal.zonal_stats_dist(tiles, polys, species=0, res=16).collect()
        }
        fast = {
            r.poly_id: (r.n_px, r.sum_v)
            for r in broadcast_join.zonal_stats_fast(tiles, polys, species=0, res=16).collect()
        }
        assert fast == slow
        assert len(fast) == 100
        # the grid partitions the extent: counts sum to every pixel
        assert sum(v[0] for v in fast.values()) == SPEC.gw * SPEC.gh
        # exhaustive pixel-center oracle for one corner + one interior cell
        # (polygons are NOT pixel-aligned: 64 px / 10 cells)
        cube = pixels.full_cube(SPEC)
        gy, gx = np.meshgrid(np.arange(SPEC.gh), np.arange(SPEC.gw), indexing="ij")
        cx = X0 + gx * PIX + PIX / 2
        cy = Y0 - gy * PIX - PIX / 2
        for pid in ("G0000", "G0505"):
            j, i = int(pid[1:3]), int(pid[3:5])
            inside = (
                (cx > X0 + i * wc) & (cx < X0 + (i + 1) * wc)
                & (cy < Y0 - j * hc) & (cy > Y0 - (j + 1) * hc)
            )
            vals = cube[0][inside].astype(np.float64)
            assert fast[pid] == (int(vals.size), float(vals.sum()))

    def test_all_layers_in_cluster_equals_index(self, spark, tiles, polys):
        """``species=None`` on the in-cluster plan: the rows of every layer,
        bit-identical to the driver index's."""
        key = lambda r: (r.poly_id, r.s, r.n_px, r.sum_v, r.max_v, r.nonzero_px, r.mean_v)  # noqa: E731
        res = grid.JOIN_RES
        dist = sorted(map(key, zonal.zonal_stats_dist(tiles, polys, species=None, res=res).collect()))
        fast = sorted(map(key, broadcast_join.zonal_stats_fast(
            tiles, polys, species=None, res=res).collect()))
        assert dist == fast and {r[1] for r in fast} == set(range(6))

    def test_in_cluster_candidates_per_tile_position(self, spark, tiles, polys):
        """The in-cluster candidate frame is keyed on the tile position: it
        has as many rows for every layer as for one layer."""
        meta = decode.with_tile_meta(tiles)

        def n_pairs(layers):
            return spatial_join.join_tiles_polygons(layers, polys, grid.JOIN_RES).count()

        one = n_pairs(meta.filter(F.col("s") == 0))
        assert n_pairs(meta) == one and one > 0

    def _poly_grid(self, spark, n=10):
        w_m, h_m = SPEC.gw * PIX, SPEC.gh * PIX
        wc, hc = w_m / n, h_m / n
        rows = []
        for j in range(n):
            for i in range(n):
                rings = geom.rect_polygon(
                    X0 + i * wc, Y0 - (j + 1) * hc, X0 + (i + 1) * wc, Y0 - j * hc
                )
                xmin, ymin, xmax, ymax = geom.polygon_bounds(rings)
                rows.append(
                    (f"G{j:02d}{i:02d}", f"g{j}{i}", bytearray(geom.polygon_to_wkb(rings)),
                     xmin, ymin, xmax, ymax, True)
                )
        return spark.createDataFrame(
            rows,
            "poly_id string, name string, geom_wkb binary, "
            "xmin double, ymin double, xmax double, ymax double, is_rect boolean",
        )

    def test_distributed_covering_equals_driver_covering(self, spark, tiles):
        """polygon_cells_dist (mapInPandas) must produce the identical
        covering set as the driver index's ``cell_to_poly``, and the zonal
        result through the distributed path must match the broadcast path —
        on the 100-county dense grid plus the concave fixtures."""
        dense = self._poly_grid(spark)
        concave = tgen.polygons_df(spark, "sf0.001").filter(~F.col("is_rect"))
        polys = dense.unionByName(concave)
        index = broadcast_join.PolygonIndex.build(polys, 16)
        drv = {
            (index.poly_ids[int(pidx)], int(cell), bool(full))
            for cell, pidx, full in index.cell_to_poly.itertuples(index=False)
        }
        dist = {
            (r.poly_id, r.cell_id, r.fully_inside)
            for r in spatial_join.polygon_cells_dist(polys, res=16).collect()
        }
        assert dist == drv and len(dist) > 0

        via_dist = {
            r.poly_id: (r.n_px, r.sum_v, r.max_v, r.nonzero_px)
            for r in zonal.zonal_stats_dist(tiles, polys, species=0, res=16).collect()
        }
        via_bcast = {
            r.poly_id: (r.n_px, r.sum_v, r.max_v, r.nonzero_px)
            for r in broadcast_join.zonal_stats_fast(tiles, polys, species=0, res=16).collect()
        }
        assert via_dist == via_bcast
        assert len(via_dist) >= 100  # every dense cell + overlapping concave
