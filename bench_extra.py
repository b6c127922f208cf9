#!/usr/bin/env python
"""Extra benchmarks for optimization work (guide §1.4): per-query noop-sink
isolation, plan capture, and at-scale raster-op rows. bench.py stays frozen —
this file only ADDS measurements and never feeds the driver metric.

Usage:
  python bench_extra.py queries [sf_dir] [n_repeats]   # noop-timed queries
  python bench_extra.py plans  <outdir> [sf_dir]       # explain("formatted")
  python bench_extra.py flagship [sf_dir] [n]          # flagship job only
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

BENCH_QUERIES = (
    "zonal_total_biomass",
    "tile_assignment",
    "pip_points",
    "knn_points",
    "metrics_pixel",
    "diversity_pixel",
    "tile_decode_stats",
)


def _spark():
    from gridfia_spark.session import get_spark

    return get_spark(cores=CPUS, app_name="gridfia-bench-extra")


def time_queries(sf_dir: str, n: int = 4, names=BENCH_QUERIES) -> dict:
    from gridfia_spark import queries as Q
    from gridfia_spark.datagen import tiles as tgen

    spark = _spark()
    reg = Q.registry()
    tgen.ensure_tiles(spark, sf_dir).count()
    # warm the python worker pool like bench.py does
    for _ in range(2):
        reg["tile_decode_stats"](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    out: dict[str, dict] = {}
    for name in names:
        runs = []
        for i in range(n):
            spark.sparkContext.setJobDescription(f"{name} run {i}")
            t0 = time.time()
            reg[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = {"best": min(runs), "runs": runs}
    spark.stop()
    return out


def dump_plans(outdir: str, sf_dir: str, names=BENCH_QUERIES, suffix="before") -> None:
    from gridfia_spark import queries as Q

    os.makedirs(outdir, exist_ok=True)
    spark = _spark()
    reg = Q.registry()
    for name in names:
        df = reg[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print(f"wrote {name}_{suffix}.txt")
    spark.stop()


def time_flagship(sf_dir: str, n: int = 5) -> dict:
    import bench

    spark = _spark()
    from gridfia_spark.datagen import tiles as tgen

    tgen.ensure_tiles(spark, sf_dir).count()
    for _ in range(3):
        bench.flagship_job(spark, sf_dir)
    runs = []
    for _ in range(n):
        t0 = time.time()
        n_images = bench.flagship_job(spark, sf_dir)
        runs.append(round(time.time() - t0, 3))
    spark.stop()
    med = sorted(runs)[len(runs) // 2]
    return {
        "runs": runs,
        "median": med,
        "best": min(runs),
        "images_per_sec": round(n_images / med, 1),
    }


def raster_ops(scale: str = "bench") -> dict:
    """At-scale store-create row — the writer the driver bench does not
    time. Uses the 'bench' tile scale (124,416 chunks = 2.04 B px) by
    default so the job runs for seconds; the store is (re)created from the
    tile cache each invocation."""
    import shutil

    from gridfia_spark.datagen import tiles as tgen
    from gridfia_spark.sources import zarrstore

    spark = _spark()
    tiles = tgen.ensure_tiles(spark, scale, fmt="u8z")
    tiles.count()
    store = os.path.join(tgen.CACHE_ROOT, f"raster_ops_{scale}.zarr")
    shutil.rmtree(store, ignore_errors=True)
    t0 = time.time()
    n_chunks = zarrstore.write_zarr_store(tiles, store)
    create_s = time.time() - t0
    row = tiles.select("w", "h").first()
    px = n_chunks * int(row.w) * int(row.h)
    out = {
        "scale": scale,
        "chunks": n_chunks,
        "px": px,
        "create_sec": round(create_s, 3),
        "create_px_per_sec": round(px / create_s, 0),
    }
    spark.stop()
    shutil.rmtree(store, ignore_errors=True)
    return out


def main() -> None:
    cmd = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if cmd == "queries":
        sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
        n = int(sys.argv[3]) if len(sys.argv) > 3 else 4
        print(json.dumps({"sf": sf, "queries": time_queries(sf, n)}, indent=1))
    elif cmd == "plans":
        outdir = sys.argv[2]
        sf = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
        suffix = sys.argv[4] if len(sys.argv) > 4 else "before"
        dump_plans(outdir, sf, suffix=suffix)
    elif cmd == "raster":
        scale = sys.argv[2] if len(sys.argv) > 2 else "bench"
        print(json.dumps(raster_ops(scale)))
    elif cmd == "flagship":
        sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
        n = int(sys.argv[3]) if len(sys.argv) > 3 else 5
        print(json.dumps(time_flagship(sf, n)))
    else:
        raise SystemExit(f"unknown command {cmd}")


if __name__ == "__main__":
    main()
