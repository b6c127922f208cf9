"""Python task counts on the cube path, the worker's zip-directory guard,
the local_df row bound, and the tile manifest that feeds the generator
without a driver row list.

Every PySpark task pays a fixed Python worker set-up before its UDF runs:
PySpark calls ``importlib.invalidate_caches()``, which on Python < 3.13
re-read the central directory of every cached zipimporter (16 on a worker
here: ``pyspark.zip``, the spark-core jar, py4j), 0.12-0.30 s per task.
``gridfia_spark.zipcache`` re-reads only changed archives; an identity
4-partition ``mapInPandas`` went from 0.44 s to 0.19 s (median, 4-core
host). A task still has a fixed cost, so the Python stages of the cube
path (the metric kernel pass, and the Zarr chunk scan's phash/re-encode
columns when a consumer reads them) ask for exactly one task per core:
neither AQE's byte-based coalescing nor the file-split packing decides how
many there are."""

from __future__ import annotations

import re
import sys

import pandas as pd
import pytest

from gridfia_spark import zipcache
from gridfia_spark.constants import SF_SPECS, SPECIES, GridSpec, image_id
from gridfia_spark.datagen import tiles as tgen
from gridfia_spark.operators import metrics
from gridfia_spark.sources import zarrstore

SCALE = "sf0.001"  # a 2x2-tile grid of 32x32 px, six species
SPECS = [
    metrics.MetricSpec("richness", "species_richness", {}, "long"),
    metrics.MetricSpec("total_v", "total_biomass", {}, "double"),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestMetricKernelTasks:
    def test_exchange_is_repartition_by_num(self, spark):
        """The one kernel exchange names its partition count, so AQE may
        not coalesce it."""
        dp = spark.sparkContext.defaultParallelism
        plan = _plan(metrics.metric_layers(tgen.ensure_tiles(spark, SCALE), SPECS))
        ex = re.findall(r"Exchange hashpartitioning\(([^)]*)\), (\w+)", plan)
        assert len(ex) == 1, plan
        keys, mode = ex[0]
        assert re.fullmatch(rf"tx#\d+, ty#\d+, {dp}", keys), keys
        assert mode == "REPARTITION_BY_NUM"

    def test_kernel_pass_is_not_coalesced(self, spark):
        """After execution the final plan reads the shuffle as written: no
        coalesced AQEShuffleRead sits under the kernel's MapInPandas, and
        the kernel stage runs one task per core."""
        sc = spark.sparkContext
        df = metrics.metric_layers(tgen.ensure_tiles(spark, SCALE), SPECS)
        sc.setJobGroup("kernel-tasks", "metric kernel pass")
        try:
            rows = df.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(rows) == 64 * 64
        final = _plan(df).split("== Initial Plan ==")[0]
        assert "MapInPandas" in final
        assert not re.search(r"AQEShuffleRead.*coalesced", final), final
        st = sc.statusTracker()
        job = st.getJobInfo(max(st.getJobIdsForGroup("kernel-tasks")))
        kernel_stage = st.getStageInfo(max(job.stageIds))
        assert kernel_stage.numTasks == sc.defaultParallelism


class TestZarrScanTasks:
    def test_chunk_scan_one_partition_per_core(self, spark, tmp_path):
        """384 tiny chunks: the file-split packing alone makes more than
        one partition per core; the scan coalesces them to exactly one."""
        dp = spark.sparkContext.defaultParallelism
        tiles = tgen.generate_tiles(spark, GridSpec(8, 8, 8, 8))
        store = str(tmp_path / "many.zarr")
        n_chunks = zarrstore.write_zarr_store(tiles, store)
        assert n_chunks > dp
        back = zarrstore.read_zarr_store(spark, store)
        assert back.rdd.getNumPartitions() == min(dp, n_chunks)
        assert back.count() == n_chunks


class TestWorkerZipGuard:
    @pytest.mark.skipif(sys.version_info >= (3, 13), reason="installed on Python < 3.13 only")
    def test_tasks_reread_no_archive(self, spark):
        """Every task of a 4-partition mapInPandas whose closure reads an
        engine module runs the guard, and a second
        ``importlib.invalidate_caches()`` (the first stamps archives read
        before the guard was imported) re-reads no archive."""

        def probe(batches):
            import importlib
            import zipimport

            guarded = zipimport.zipimporter.invalidate_caches is zipcache.invalidate_caches
            importlib.invalidate_caches()
            seen = []
            read = zipimport._read_directory
            zipimport._read_directory = lambda a: seen.append(a) or read(a)
            try:
                importlib.invalidate_caches()
            finally:
                zipimport._read_directory = read
            for _ in batches:
                pass
            yield pd.DataFrame({"guarded": [guarded], "reads": [len(seen)]})

        df = spark.range(0, 1176, numPartitions=4)
        rows = df.mapInPandas(probe, "guarded boolean, reads long").collect()
        assert [(r.guarded, r.reads) for r in rows] == [(True, 0)] * 4


class TestLocalDfRowBound:
    def test_at_bound_builds(self, spark):
        from gridfia_spark.localdf import MAX_ROWS, local_df

        df = local_df(spark, [(i,) for i in range(MAX_ROWS)], "a long")
        assert "LocalTableScan" in _plan(df)

    def test_above_bound_raises_before_building(self, spark, monkeypatch):
        from gridfia_spark import localdf

        def no_pandas(*a, **k):  # the check must come before any pandas work
            raise AssertionError("pandas frame built above the row bound")

        monkeypatch.setattr(localdf.pd, "DataFrame", no_pandas)
        rows = ((i,) for i in range(localdf.MAX_ROWS + 1))
        with pytest.raises(ValueError, match="spark.createDataFrame"):
            localdf.local_df(spark, rows, "a long")


class TestTileManifest:
    @pytest.mark.parametrize("fmt", ["rawz", "mixed"])
    def test_rows_match_nested_loop_in_order(self, spark, fmt):
        """The spark.range manifest equals the (s, ty, tx) nested loop, row
        for row and in order, including the mixed-format quarter, on the
        sf0.01 grid and on a non-square one."""
        for spec in (SF_SPECS["0.01"], GridSpec(5, 3, 8, 8)):
            want = []
            for s, (code, _) in enumerate(SPECIES):
                for ty in range(spec.tiles_y):
                    for tx in range(spec.tiles_x):
                        f = fmt
                        if fmt == "mixed":
                            f = "qnt8" if (tx + ty + s) % 4 == 3 else "rawz"
                        want.append((image_id(code, tx, ty), s, tx, ty, f))
            m = tgen.manifest_df(spark, spec, fmt)
            assert m.rdd.getNumPartitions() == 1
            assert [tuple(r) for r in m.collect()] == want

    def test_grid_above_local_df_bound_builds(self, spark):
        """A grid with more tiles than local_df.MAX_ROWS still builds."""
        from gridfia_spark.localdf import MAX_ROWS

        spec = GridSpec(205, 205, 8, 8)
        n = len(SPECIES) * 205 * 205
        assert n > MAX_ROWS
        m = tgen.manifest_df(spark, spec)
        assert m.count() == n
        last = m.orderBy(m.s.desc(), m.ty.desc(), m.tx.desc()).first()
        assert last.image_id == image_id(SPECIES[-1][0], 204, 204)
