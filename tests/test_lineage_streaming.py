"""Resumability (lineage) and incremental-streaming tests (M6 + §2.9)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gridfia_spark.datagen import tiles as tgen
from gridfia_spark.operators import broadcast_join, decode
from gridfia_spark.plans import lineage
from gridfia_spark.streaming import incremental

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def workdir(tmp_path):
    return str(tmp_path)


class TestLineage:
    def test_resume_skips_completed_and_output_identical(self, spark, workdir):
        tiles = tgen.ensure_tiles(spark, SF_DIR)
        meta = decode.with_tile_meta(tiles)
        pids = ["0", "1"]  # partition by tile row ty

        calls = []

        def job(s, pid):
            calls.append(pid)
            return meta.filter(F.col("ty") == int(pid)).select("image_id", "s", "tx", "ty")

        out1 = os.path.join(workdir, "job1")
        r1 = lineage.run_resumable(spark, pids, job, out1, job_id="t1")
        assert r1["ran"] == pids and r1["skipped"] == []
        full = lineage.read_output(spark, out1).count()

        # resume: nothing re-runs
        r2 = lineage.run_resumable(spark, pids, job, out1, job_id="t2")
        assert r2["ran"] == [] and r2["skipped"] == pids
        assert lineage.read_output(spark, out1).count() == full
        assert calls == pids  # job_fn invoked exactly once per partition

    def test_crash_mid_job_resumes_exactly(self, spark, workdir):
        tiles = tgen.ensure_tiles(spark, SF_DIR)
        meta = decode.with_tile_meta(tiles)
        out = os.path.join(workdir, "job2")

        def flaky(s, pid):
            if pid == "1":
                raise RuntimeError("injected crash")
            return meta.filter(F.col("ty") == int(pid)).select("image_id")

        with pytest.raises(RuntimeError):
            lineage.run_resumable(spark, ["0", "1"], flaky, out, job_id="c1")
        # partition 0 committed, 1 absent
        assert lineage.completed_partitions(spark, out) == {"0"}

        def fixed(s, pid):
            return meta.filter(F.col("ty") == int(pid)).select("image_id")

        r = lineage.run_resumable(spark, ["0", "1"], fixed, out, job_id="c2")
        assert r["ran"] == ["1"] and r["skipped"] == ["0"]
        # final output equals a clean run
        got = {r.image_id for r in lineage.read_output(spark, out).collect()}
        want = {r.image_id for r in meta.select("image_id").collect()}
        assert got == want

    def test_metrics_recorded(self, spark, workdir):
        tiles = tgen.ensure_tiles(spark, SF_DIR)
        out = os.path.join(workdir, "job3")

        def job(s, pid):
            return decode.with_tile_meta(tiles).filter(F.col("ty") == int(pid)).select("image_id")

        lineage.run_resumable(spark, ["0"], job, out)
        m = lineage.job_metrics(spark, out).first()
        assert m.status == "done" and m.rows > 0 and m.bytes > 0 and m.wall_ms >= 0
        assert m.snapshot_id


class TestIncrementalStreaming:
    def test_stream_equals_batch_and_restarts_incrementally(self, spark, workdir):
        # stage the tile table as a growing directory: first half, then rest
        tiles = tgen.ensure_tiles(spark, SF_DIR)
        polys = tgen.polygons_df(spark, SF_DIR)
        stage = os.path.join(workdir, "tiles")
        work = os.path.join(workdir, "stream")
        half1 = tiles.filter(F.col("image_id") < "sp05")
        half2 = tiles.filter(F.col("image_id") >= "sp05")
        half1.write.mode("overwrite").parquet(stage)

        incremental.incremental_zonal(spark, stage, polys, work, species=0, res=14)
        r1 = {r.poly_id: r.sum_v for r in incremental.zonal_result(spark, work).collect()}

        # append the rest, run the SAME stream again (availableNow restart)
        half2.write.mode("append").parquet(stage)
        incremental.incremental_zonal(spark, stage, polys, work, species=0, res=14)
        r2 = {
            (r.poly_id): (r.n_px, r.sum_v, r.max_v, r.nonzero_px)
            for r in incremental.zonal_result(spark, work).collect()
        }

        batch = {
            r.poly_id: (r.n_px, r.sum_v, r.max_v, r.nonzero_px)
            for r in broadcast_join.zonal_stats_fast(tiles, polys, species=0, res=14).collect()
        }
        assert r2 == batch
        # first pass saw only half the tiles (strictly less than final)
        assert all(r1[p] <= batch[p][1] for p in r1)
