#!/usr/bin/env python
"""spark-submit entry point (north rule: ``spark-submit --py-files``).

Package the library from the checkout root, then submit:

    zip -qr /tmp/gridfia_spark.zip gridfia_spark
    spark-submit --master local[8] --py-files /tmp/gridfia_spark.zip \
        scripts/submit_job.py --job flagship

On a real cluster the same invocation takes ``--master yarn|k8s://...`` and
``--num-executors N``; the job code is identical. Jobs print one JSON line.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--job", required=True,
                    choices=["flagship", "zonal", "assign", "knn", "metrics", "validate"])
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=None, help="optional parquet output dir")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName(f"gridfia-{args.job}").getOrCreate()
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")

    from gridfia_spark import grid
    from gridfia_spark.constants import PIX, spec_for_sf_dir
    from gridfia_spark.datagen import tiles as tgen
    from gridfia_spark.operators import broadcast_join, decode, knn, zonal
    from gridfia_spark.sources import ingest

    res = grid.res_for_size(spec_for_sf_dir(args.sf_dir).tile_w * PIX * 2)
    tiles = tgen.ensure_tiles(spark, args.sf_dir)
    polys = tgen.polygons_df(spark, args.sf_dir)
    t0 = time.time()

    if args.job == "flagship":
        meta = decode.with_tile_meta(tiles)
        n = broadcast_join.assign_tiles_fast(meta, polys, res=res).count()
        zonal.zonal_stats(tiles, polys, species=None, res=res).collect()
        result = {"assignments": n, "images": tiles.count()}
    elif args.job == "zonal":
        df = zonal.zonal_stats(tiles, polys, species=0, res=res)
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
        result = {"rows": df.count()}
    elif args.job == "assign":
        df = broadcast_join.assign_tiles_fast(decode.with_tile_meta(tiles), polys, res=res)
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
        result = {"rows": df.count()}
    elif args.job == "knn":
        pts = tgen.points_df(spark, args.sf_dir)
        result = {"rows": knn.knn_join(pts, pts, k=5).count()}
    elif args.job == "metrics":
        from gridfia_spark.operators import metrics as M

        specs = [
            M.MetricSpec("richness", "species_richness", {}, "long"),
            M.MetricSpec("shannon", "shannon_diversity", {}, "double"),
            M.MetricSpec("total_v", "total_biomass", {}, "double"),
        ]
        df = M.metric_layers(tiles, specs)
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
        result = {"rows": df.count()}
    else:  # validate
        result = ingest.validate_tile_table(tiles)

    result.update(job=args.job, sf_dir=args.sf_dir, wall_sec=round(time.time() - t0, 3))
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
