#!/usr/bin/env python
"""End-to-end study: White Oak vs Red Maple across counties.

The Spark recast of the reference's example workflow
(/root/reference/examples/virginia_oak_maple_study.py): pick two species,
compute their combined share of biomass, rank counties by it, and report
diversity where they dominate — one facade session, a handful of lines.

Run:  python examples/oak_maple_study.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from gridfia_spark.api import GridFIASpark
from gridfia_spark.datagen import tiles as tgen
from gridfia_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(cores=8, app_name="oak-maple-study")
    api = GridFIASpark(spark)

    tiles = api.generate_tiles(sf_dir)
    polys = tgen.polygons_df(spark, sf_dir).filter(F.col("is_rect"))

    # 1. per-pixel metrics: oak+maple share (species idx 3=White Oak,
    #    4=Red Maple) + diversity where they grow
    px = api.calculate_metrics(
        tiles,
        [
            {"name": "species_group_proportion", "species_indices": [3, 4],
             "output_name": "oak_maple_share"},
            "shannon_diversity",
            "species_richness",
        ],
    )
    summary = px.agg(
        F.round(F.avg("oak_maple_share"), 4).alias("mean_share"),
        F.round(F.avg(F.when(F.col("oak_maple_share") > 0.5, F.col("shannon"))), 4).alias(
            "shannon_where_dominant"
        ),
    ).first()
    print(f"mean oak+maple share: {summary.mean_share}")
    print(f"shannon where oak+maple dominate: {summary.shannon_where_dominant}")

    # 2. county ranking by total biomass (zonal join)
    zonal = api.zonal_stats(tiles, polys, species=0)
    print("\ncounties by total biomass:")
    for r in zonal.orderBy(F.desc("sum_v")).collect():
        print(f"  {r.poly_id}: sum={r.sum_v:>12.1f}  mean={r.mean_v:6.2f}  px={r.n_px}")

    # 3. where are the oak/maple hotspot tiles?
    assign = api.assign_tiles(
        tiles.filter(F.col("image_id").rlike("^sp(0802|0316)_")), polys
    )
    top = (
        assign.groupBy("poly_id").agg(F.count("*").alias("n_tiles"))
        .orderBy(F.desc("n_tiles"), "poly_id").limit(3)
    )
    print("\ntop counties by oak/maple tile count:")
    for r in top.collect():
        print(f"  {r.poly_id}: {r.n_tiles} tiles")
    spark.stop()


if __name__ == "__main__":
    main()
