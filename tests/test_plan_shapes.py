"""Plan-shape regression tests: the scale contracts documented in PLANS.md,
pinned so a refactor that silently reintroduces a shuffle or widens a scan
fails CI instead of surviving until a 100x deployment finds it."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import Row

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name):
    from gridfia_spark import queries as Q

    df = Q.registry()[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def _hash_exchanges(plan: str) -> int:
    return len(re.findall(r"Exchange hashpartitioning", plan))


class TestPlanShapes:
    def test_tile_assignment_is_zero_shuffle(self, spark):
        """PLANS.md §1: map-only broadcast-covering join — no shuffle
        exchange at all, and `bytes` pruned from the scan."""
        plan = _plan(spark, "tile_assignment")
        assert _hash_exchanges(plan) == 0
        scan = next(l for l in plan.splitlines() if "FileScan" in l)
        assert "bytes" not in scan

    def test_metrics_pixel_single_shuffle(self, spark):
        """PLANS.md §3: ALL kernels share one groupBy(tx, ty) exchange."""
        assert _hash_exchanges(_plan(spark, "metrics_pixel")) == 1

    def test_zonal_single_shuffle(self, spark):
        """PLANS.md §2: map-side partials -> one tiny final groupBy."""
        assert _hash_exchanges(_plan(spark, "zonal_total_biomass")) == 1

    def test_media_chains_have_no_exchange(self, spark):
        """PLANS.md §14: container pipelines are fused map-only chains —
        media bytes never cross the network."""
        for name in (
            "png_tile_stats", "jpeg_tile_stats", "thumbnail_stats"
        ):
            plan = _plan(spark, name)
            assert "Exchange" not in plan, f"{name} plan shuffles: {plan[:400]}"

    def test_distributed_zonal_broadcasts_nothing(self, spark):
        """PLANS.md §2 (scale path): in zonal_stats_dist the candidate-pair
        frame is O(tile positions × overlapping polys) and the WKB frame is
        O(polygons) — neither may be broadcast. The pair side meets the tile
        bytes in a shuffle-hash join on the tile position (bytes stream,
        never sorted)."""
        plan = _plan(spark, "zonal_many_polygons")
        # the only broadcasts allowed are the O(n_species) code-dimension
        # zip-join inside with_tile_meta — never a join keyed on
        # image_id / poly_id / cell_id / tx (the O(tiles)/O(polygons) frames)
        bad = re.findall(r"BroadcastHashJoin \[(?:image_id|poly_id|cell_id|tx)", plan)
        assert not bad, plan[:600]
        assert re.search(r"ShuffledHashJoin \[tx#\d+, ty#\d+\]", plan), plan[:600]

    def test_driver_zonal_still_map_side(self, spark):
        """The small-polygon driver-covering path stays map-side: tile
        bytes never shuffle and no join operator touches them (the polygon
        index rides a SparkContext broadcast inside the kernel; the species
        dimension is a map literal since r6 — so the plan has NO join at
        all, and the only exchange is the final tiny aggregation)."""
        plan = _plan(spark, "zonal_total_biomass")
        assert "Join" not in plan, plan[:400]
        scan = next(l for l in plan.splitlines() if "FileScan" in l)
        assert "bytes" in scan  # the one pass that decodes
        assert _hash_exchanges(plan) == 1  # partials -> final groupBy only

    def test_container_roundtrips_are_map_only(self, spark):
        """PLANS.md §14 extension: the GeoTIFF transcode chain and the
        Zarr chunk scan are map-only — container bytes never cross a
        shuffle; the only broadcast is the species-code dimension."""
        for name in ("geotiff_roundtrip", "zarr_store_roundtrip"):
            plan = _plan(spark, name)
            assert _hash_exchanges(plan) == 0, name

    def test_store_metric_pass_has_one_python_node(self, spark, tmp_path):
        """PLANS.md §22: metric_layers over a zlib store scan runs ONE
        Python node (the kernel pass) and one exchange, and the exchange
        moves the stored chunk bytes: nothing but JVM projections sits
        between the binaryFile scan and the kernel's shuffle."""
        from gridfia_spark.datagen import tiles as tgen
        from gridfia_spark.operators import metrics
        from gridfia_spark.sources import zarrstore

        store = str(tmp_path / "m.zarr")
        zarrstore.write_zarr_store(tgen.ensure_tiles(spark, SF_DIR), store)
        df = metrics.metric_layers(
            zarrstore.read_zarr_store(spark, store),
            [metrics.MetricSpec("richness", "species_richness", {}, "long")],
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        python = re.findall(
            r"\b(MapInPandas|MapInArrow|ArrowEvalPython|BatchEvalPython"
            r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas)\b", plan
        )
        assert python == ["MapInPandas"], plan
        assert plan.count("Exchange") == 1, plan
        assert "FileScan binaryFile" in plan.split("Exchange", 1)[1]

    def test_knn_round_is_one_stage(self, spark, monkeypatch):
        """PLANS.md §4: targets under the broadcast threshold are broadcast
        into queries hash-partitioned once on point_id. Each round, as
        knn_join runs it, has that one exchange; the top-k window runs in
        the join's stage (no ENSURE_REQUIREMENTS exchange, no map-side
        Partial WindowGroupLimit)."""
        from gridfia_spark.datagen import tiles as tgen
        from gridfia_spark.operators import knn

        plans = []
        inner = knn._round

        def spy(*args):
            out = inner(*args)
            plans.append(out._jdf.queryExecution().executedPlan().toString())
            return out

        monkeypatch.setattr(knn, "_round", spy)
        # knn_join's result stays persisted; an earlier test's identical
        # round would otherwise stand in for this plan as an InMemoryTableScan
        spark.catalog.clearCache()
        pts = tgen.points_df(spark, SF_DIR)
        knn.knn_join(pts, pts, k=3)
        assert plans
        for plan in plans:
            exchanges = re.findall(r"(?<!Broadcast)Exchange (.*)", plan)
            assert len(exchanges) == 1, plan
            assert re.match(
                r"hashpartitioning\(point_id#\d+L?, \d+\), REPARTITION_BY_NUM",
                exchanges[0],
            ), plan
            assert re.search(r"BroadcastExchange .*\n.*\[neighbor_id#", plan), plan
            assert "ENSURE_REQUIREMENTS" not in plan
            assert not re.search(r"WindowGroupLimit .*Partial", plan), plan

    def test_zonal_percentiles_has_no_buffering_aggregate(self, spark):
        """PLANS.md §11: histogram percentiles — no `percentile(` aggregate
        (which buffers a group's value population) anywhere in the plan."""
        plan = _plan(spark, "zonal_percentiles")
        assert "percentile(" not in plan
        assert "ObjectHashAggregate" not in plan


class TestLocalDf:
    """local_df takes values by position, so rows whose field order or
    width cannot be checked against the schema must fail loudly."""

    def test_positional_rows_plan_as_local_table_scan(self, spark):
        from gridfia_spark.localdf import local_df

        df = local_df(spark, [(1, 2), [3, 4]], "a long, b long")
        assert [tuple(r) for r in df.collect()] == [(1, 2), (3, 4)]
        assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()

    @pytest.mark.parametrize(
        "row",
        [
            # same types: the Row was silently transposed a<->b before
            pytest.param(Row(b=2, a=1), id="Row-out-of-schema-order"),
            pytest.param({"a": 1, "b": 2}, id="dict"),
            pytest.param((1, 2, 3), id="too-long"),
            pytest.param((1,), id="too-short"),
        ],
    )
    def test_uncheckable_rows_raise(self, spark, row):
        from gridfia_spark.localdf import local_df

        with pytest.raises(ValueError, match="local_df"):
            local_df(spark, [(0, 0), row], "a long, b long")
