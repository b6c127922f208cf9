"""Histogram-percentile correctness: the scale-safe percentile plan
(functions/histpct.py + decode.value_hist + broadcast_join.zonal_value_hist)
must be value-identical to the buffering ``percentile`` aggregate it
replaces, including interpolation edge cases (single value, exact index
hits, ties)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gridfia_spark.datagen import tiles as tgen
from gridfia_spark.functions.histpct import hist_percentiles
from gridfia_spark.operators import broadcast_join, decode, spatial_join

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def tiles(spark):
    return tgen.ensure_tiles(spark, SF_DIR)


class TestHistPercentiles:
    def test_matches_numpy_linear_interpolation(self, spark):
        rng = np.random.default_rng(7)
        rows = []
        groups = {
            "a": rng.integers(0, 50, 101),   # odd n
            "b": rng.integers(0, 5, 64),     # heavy ties, even n
            "c": np.array([42]),             # single value
            "d": np.arange(10),              # exact index hits at p=0/0.5/1
        }
        for g, vals in groups.items():
            for v in vals:
                rows.append((g, int(v)))
        df = spark.createDataFrame(rows, "g string, v int")
        hist = df.groupBy("g", "v").agg(F.count("*").alias("cnt"))
        probs = {"p0": 0.0, "p25": 0.25, "p50": 0.5, "p90": 0.9, "p100": 1.0}
        got = {
            r["g"]: r
            for r in hist_percentiles(hist, ["g"], probs).collect()
        }
        for g, vals in groups.items():
            for name, p in probs.items():
                want = float(np.percentile(vals.astype(np.float64), p * 100))
                assert got[g][name] == pytest.approx(want, abs=1e-12), (g, name)

    def test_matches_spark_percentile_aggregate(self, spark):
        rng = np.random.default_rng(11)
        vals = rng.integers(0, 200, 997)
        df = spark.createDataFrame([(int(v),) for v in vals], "v int")
        hist = df.groupBy(F.lit("g").alias("g"), "v").agg(F.count("*").alias("cnt"))
        got = hist_percentiles(hist, ["g"], {"p2": 0.02, "p98": 0.98}).collect()[0]
        exact = df.agg(F.expr("percentile(v, array(0.02, 0.98))").alias("p")).collect()[0].p
        assert got.p2 == exact[0] and got.p98 == exact[1]


class TestValueHist:
    def test_equals_pixels_long_counts(self, spark, tiles):
        hist = decode.value_hist(tiles, species=[1, 3]).collect()
        px = (
            decode.pixels_long(tiles, species=[1, 3])
            .groupBy("s", "v")
            .agg(F.count("*").alias("cnt"))
            .collect()
        )
        a = {(r.s, float(r.v)): r.cnt for r in hist}
        b = {(r.s, float(r.v)): r.cnt for r in px}
        assert a == b

    def test_zonal_hist_percentiles_vs_buffering_percentile(self, spark, tiles):
        polys = tgen.polygons_df(spark, SF_DIR).filter(F.col("is_rect"))
        hist = broadcast_join.zonal_value_hist(tiles, polys, species=0, res=14)
        got = {
            r.poly_id: (r.p25, r.p50, r.p90)
            for r in hist_percentiles(
                hist, ["poly_id"], {"p25": 0.25, "p50": 0.5, "p90": 0.9}
            ).collect()
        }
        px = decode.pixels_long(tiles, species=[0]).select("v", "x", "y")
        joined = spatial_join.join_points_polygons(px, polys, res=14)
        want = {
            r.poly_id: tuple(r.p)
            for r in joined.groupBy("poly_id")
            .agg(F.expr("percentile(v, array(0.25, 0.5, 0.9))").alias("p"))
            .collect()
        }
        assert set(got) == set(want)
        for k in want:
            assert got[k] == pytest.approx(want[k], abs=1e-12), k


class TestCoveringEmptyGuard:
    def test_out_of_extent_polygon_yields_zero_cells(self, spark):
        from gridfia_spark import geom

        # a polygon far outside the grid extent: zero covering rows, no raise
        rings = [
            np.array(
                [[1e9, 1e9], [1e9 + 10, 1e9], [1e9 + 10, 1e9 + 10], [1e9, 1e9 + 10]],
                dtype=np.float64,
            )
        ]
        cells, full = spatial_join.covering_at_res(rings, 14)
        assert cells.size == 0 and full.size == 0
        wkb = geom.polygon_to_wkb(rings)
        polys = spark.createDataFrame([("far", bytearray(wkb))], "poly_id string, geom_wkb binary")
        assert spatial_join.polygon_cells_dist(polys, res=14).count() == 0
        assert broadcast_join.PolygonIndex.build(polys, 14).cell_to_poly.empty


def test_approx_percentiles_rank_error_bound(spark):
    """GK sketch guarantee: with accuracy=10000 the estimate's true rank is
    within n/accuracy of the target rank, on continuous (non-integer) data."""
    import pyspark.sql.functions as F

    from gridfia_spark.functions import histpct

    n = 20_000
    df = spark.range(n).select(
        (F.lit(1.0) + F.col("id").cast("double") / 7.0).alias("v"),
        (F.col("id") % 2).alias("g"),
    )
    out = {
        r.g: (r.p50, r.p95)
        for r in histpct.approx_percentiles(
            df, ["g"], {"p50": 0.5, "p95": 0.95}
        ).collect()
    }
    for g in (0, 1):
        vals = sorted(1.0 + i / 7.0 for i in range(g, n, 2))
        for est, p in zip(out[g], (0.5, 0.95)):
            rank = sum(v <= est for v in vals) / len(vals)
            assert abs(rank - p) <= 1 / 10_000 + 2 / len(vals)


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(
        st.lists(st.integers(0, 40), min_size=2, max_size=120),
        st.sampled_from([0.02, 0.25, 0.5, 0.9, 0.98]),
    )
    @settings(max_examples=20, deadline=None)
    def test_hist_percentile_equals_numpy_linear(vals, p):
        """Property: the histogram cumulative walk reproduces numpy's
        'linear' (= SQL quantile_cont) percentile on arbitrary int
        populations with ties."""
        import numpy as np
        import pandas as pd

        from gridfia_spark.functions import histpct
        from gridfia_spark.session import get_spark

        spark = get_spark(cores=4, shuffle_partitions=8)
        hist = (
            pd.Series(vals).value_counts().rename_axis("v").reset_index(name="cnt")
        )
        hist["g"] = 1
        df = spark.createDataFrame(hist[["g", "v", "cnt"]])
        got = histpct.hist_percentiles(df, ["g"], {"q": p}).first().q
        want = float(np.percentile(np.array(vals, dtype=float), 100 * p))
        assert abs(got - want) < 1e-9

except ImportError:  # pragma: no cover
    pass
