#!/usr/bin/env python
"""Print the physical plans documented in PLANS.md (for re-verification)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from gridfia_spark import grid
from gridfia_spark.datagen import tiles as tgen
from gridfia_spark.operators import broadcast_join, decode, knn, zonal
from gridfia_spark.session import get_spark

SF = "/root/testdata/sf0.01"


def main() -> None:
    spark = get_spark(cores=8)
    tiles = tgen.ensure_tiles(spark, SF)
    polys = tgen.polygons_df(spark, SF)
    meta = decode.with_tile_meta(tiles)
    pts = tgen.points_df(spark, SF)

    print("===== assign_tiles_fast (map-only, bytes pruned) =====")
    broadcast_join.assign_tiles_fast(meta, polys, res=15).explain("formatted")
    print("===== zonal_stats_fast (map + one partial/final agg) =====")
    broadcast_join.zonal_stats_fast(tiles, polys, species=0, res=15).explain("formatted")
    print("===== zonal_stats_dist, species=None (in-cluster pairs per (tx, ty)) =====")
    zonal.zonal_stats_dist(tiles, polys, species=None, res=15).explain("formatted")
    print("===== knn proof round (ring join on (cx, cy), disc, top-k) =====")
    # one round's plan (the loop reuses it for the unproven queries)
    q = pts.select("point_id", "x", "y")
    cx, cy = grid.cell_index_cols(F.col("x"), F.col("y"), 15)
    t = q.select(
        F.col("point_id").alias("neighbor_id"),
        F.col("x").alias("nx"),
        F.col("y").alias("ny"),
        cx.alias("cx"),
        cy.alias("cy"),
    )
    knn._round(q, t, 5, 15, 1, True).explain("formatted")

    # PLANS §22: store scan -> metric kernels, one Python node
    import tempfile

    from gridfia_spark.operators import metrics
    from gridfia_spark.sources import zarrstore

    with tempfile.TemporaryDirectory() as tmp:
        store = os.path.join(tmp, "cube.zarr")
        zarrstore.write_zarr_store(tiles, store)
        print("===== read_zarr_store -> metric_layers (one Python node) =====")
        metrics.metric_layers(
            zarrstore.read_zarr_store(spark, store),
            [metrics.MetricSpec("richness", "species_richness", {}, "long")],
        ).explain("formatted")
    spark.stop()


if __name__ == "__main__":
    main()
