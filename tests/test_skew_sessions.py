"""Tests: explicit salting correctness and hot-cell detection."""

from __future__ import annotations

from pyspark.sql import functions as F

from gridfia_spark.operators import skew

SF_DIR = "/root/testdata/sf0.001"


class TestSaltedJoin:
    def test_salted_equals_plain(self, spark):
        """Salting must not change join results (north rule: salting
        correctness verified with salted-vs-unsalted equality)."""
        # skewed probe: one hot cell with 5000 rows, others tiny
        probe = spark.range(6000).select(
            F.when(F.col("id") < 5000, F.lit(77)).otherwise(F.col("id") % 50).alias("cell_id"),
            F.col("id").alias("payload"),
        )
        build = spark.range(100).select(
            F.col("id").alias("cell_id"), (F.col("id") * 10).alias("attr")
        )
        plain = probe.join(build, "cell_id")
        salted = skew.salted_join(probe, build, on="cell_id", k=4, threshold=100)
        a = {(r.cell_id, r.payload, r.attr) for r in plain.collect()}
        b = {(r.cell_id, r.payload, r.attr) for r in salted.collect()}
        assert a == b and len(a) == 6000

    def test_zonal_salted_equals_unsalted(self, spark):
        """The salted in-cluster zonal plan
        (zonal_stats_dist(salted=True)) returns bit-identical rows to the
        unsalted in-cluster plan and to the driver-index plan — the hot
        polygon covers 7/8 of the raster so every cell rides the salted
        join."""
        from gridfia_spark import queries_products as qp
        from gridfia_spark.datagen import tiles as tgen
        from gridfia_spark.operators import zonal
        from gridfia_spark.queries import _join_res
        from gridfia_spark import geom

        sf = "/root/testdata/sf0.001"
        tiles = tgen.ensure_tiles(spark, sf)
        rows = [
            (pid, pid.lower(), bytearray(geom.polygon_to_wkb(
                geom.rect_polygon(xmin, ymin, xmax, ymax))),
             xmin, ymin, xmax, ymax, True)
            for pid, xmin, ymin, xmax, ymax in qp._skew_bounds(sf)
        ]
        polys = spark.createDataFrame(
            rows,
            "poly_id string, name string, geom_wkb binary, "
            "xmin double, ymin double, xmax double, ymax double, is_rect boolean",
        )
        res = _join_res(sf)
        plain = zonal.zonal_stats_dist(tiles, polys, species=0, res=res)
        salted = zonal.zonal_stats_dist(
            tiles, polys, species=0, res=res, salted=True, salt_threshold=0
        )
        index = zonal.zonal_stats(tiles, polys, species=0, res=res)
        key = lambda r: (r.poly_id, r.n_px, r.sum_v, r.max_v, r.nonzero_px)
        want = sorted(map(key, index.collect()))
        assert sorted(map(key, plain.collect())) == want
        assert sorted(map(key, salted.collect())) == want and len(want) == 3

    def test_hot_cell_detection(self, spark):
        probe = spark.range(2000).select(
            F.when(F.col("id") < 1500, F.lit(9)).otherwise(F.col("id")).alias("cell_id")
        )
        hot = [r.cell_id for r in skew.hot_cells(probe, threshold=1000).collect()]
        assert hot == [9]
