#!/usr/bin/env python
"""Print the physical plans documented in PLANS.md (for re-verification)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

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
    print("===== knn proof round (queries on point_id, targets broadcast) =====")
    # one round's plan as knn_join places it (the loop reuses it for the
    # unproven queries); targets over the broadcast threshold keep the
    # shuffle join
    q = pts.select("point_id", "x", "y")
    qleft, t = knn._place(q, knn._targets(pts, 15), pts.count())
    knn._round(qleft, t, 5, 15, 1, True).explain("formatted")

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
