"""Parallelism-invariance (SURVEY M8 / test_forest_metrics_pipeline.py:188
analogue), table-layer roundtrip, and knn ring-expansion tests."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from gridfia_spark.datagen import tiles as tgen
from gridfia_spark.operators import knn
from gridfia_spark.sources import table

SF_DIR = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_INVARIANCE_SNIPPET = """
import sys, json; sys.path.insert(0, {root!r})
from gridfia_spark.session import get_spark
from gridfia_spark import queries as Q
from gridfia_spark.queries_products import (
    zonal_percentiles, zorder_layout, zonal_skewed, png_tile_stats)
spark = get_spark(cores={cores}, shuffle_partitions={sh})
pdf = Q.zonal_total_biomass(spark, "/root/testdata/sf0.001").toPandas()
pdf = pdf.sort_values("poly_id", ignore_index=True)
pct = zonal_percentiles(spark, "/root/testdata/sf0.001").toPandas()
pct = pct.sort_values("poly_id", ignore_index=True)
zo = zorder_layout(spark, "/root/testdata/sf0.001").toPandas()
zo = zo.sort_values("bucket", ignore_index=True)
# salted zonal and the PNG transcode chain must be invariant
zk = zonal_skewed(spark, "/root/testdata/sf0.001").toPandas()
zk = zk.sort_values("poly_id", ignore_index=True)
pn = png_tile_stats(spark, "/root/testdata/sf0.001").toPandas()
pn = pn.sort_values("image_id", ignore_index=True)
# round-5: blosc store roundtrip (pure-python LZ4 chunks written by many
# tasks) and the COG strip scan (range-read partitioning changes with
# cores) must both be invariant
from gridfia_spark.queries_io import zarr_blosc_roundtrip, geotiff_strip_scan
zb = zarr_blosc_roundtrip(spark, "/root/testdata/sf0.001").toPandas()
zb = zb.sort_values("image_id", ignore_index=True)
gs = geotiff_strip_scan(spark, "/root/testdata/sf0.001").toPandas()
gs = gs.sort_values("strip", ignore_index=True)
# round-6: the sorted batch-grouping metric pass holds a tile group across
# Arrow batch boundaries — partition layout and batch splits change with
# cores/shuffle settings, results must not
mx = Q.metrics_pixel(spark, "/root/testdata/sf0.001").toPandas()
mx = mx.sort_values(["gx", "gy"], ignore_index=True)
print("RESULT" + json.dumps({{"zonal": pdf.to_dict("records"),
                              "pct": pct.to_dict("records"),
                              "zorder": zo.to_dict("records"),
                              "skewed": zk.to_dict("records"),
                              "png": pn.to_dict("records"),
                              "blosc": zb.to_dict("records"),
                              "stripscan": gs.to_dict("records"),
                              "metrics": mx.to_dict("records")}}))
spark.stop()
"""


def _run_at(cores: int, shuffle: int) -> list[dict]:
    out = subprocess.run(
        [sys.executable, "-c", _INVARIANCE_SNIPPET.format(root=ROOT, cores=cores, sh=shuffle)],
        capture_output=True,
        text=True,
        timeout=300,
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT"):
            return json.loads(line[6:])
    raise AssertionError(f"no RESULT line; stderr tail: {out.stderr[-500:]}")


class TestParallelismInvariance:
    def test_local1_equals_local4(self):
        """Zonal sums AND histogram percentiles must be bit-identical across
        parallelism levels and shuffle-partition settings (deterministic
        per-tile partials; the histogram percentile walk is order-free)."""
        a = _run_at(1, 2)
        b = _run_at(4, 16)
        assert a == b


class TestTableLayer:
    def test_parquet_roundtrip(self, spark, tmp_path):
        tiles = tgen.ensure_tiles(spark, SF_DIR)
        target = str(tmp_path / "tiles_table")
        backend = table.write_tiles(tiles, target)
        assert backend == "parquet"  # no Iceberg jar in the sandbox
        back = table.read_tiles(spark, target)
        a = {r.image_id: (bytes(r.bytes), r.caption, r.phash) for r in tiles.collect()}
        b = {r.image_id: (bytes(r.bytes), r.caption, r.phash) for r in back.collect()}
        assert a == b

    def test_layout_columns(self, spark):
        tiles = tgen.ensure_tiles(spark, SF_DIR)
        e = table.enriched_tiles(tiles)
        row = e.filter(F.col("image_id") == "sp0131_tx001_ty000").first()
        assert row.species_code == "0131" and (row.tile_x, row.tile_y) == (1, 0)
        assert row.cell_id > 0


class TestKnnRingExpansion:
    def test_tiny_cells_force_expansion(self, spark):
        """At a very fine resolution the initial ring can't hold k neighbors;
        the radius-doubling loop must still return exact results."""
        pts = tgen.points_df(spark, SF_DIR)
        fine = knn.knn_join(pts, pts, k=3, res=20, max_radius=4096)
        coarse = knn.knn_join(pts, pts, k=3, res=14)
        a = {(r.point_id, r.rank): (r.neighbor_id, r.dist_sq) for r in fine.collect()}
        b = {(r.point_id, r.rank): (r.neighbor_id, r.dist_sq) for r in coarse.collect()}
        assert a == b
