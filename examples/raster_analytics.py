#!/usr/bin/env python
"""The raster operators chained end to end:

1. persist the tile cube as a Zarr store and scan it back;
2. the scan is a normal tile table, so ``decode_stats`` (or any metric
   kernel) composes over it unchanged.

Run:  python examples/raster_analytics.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gridfia_spark.session import get_spark

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def main() -> None:
    from gridfia_spark.datagen import tiles as tgen
    from gridfia_spark.operators import decode
    from gridfia_spark.sources import zarrstore

    spark = get_spark(cores=8, app_name="raster-analytics-example")
    tiles = tgen.ensure_tiles(spark, SF_DIR)
    with tempfile.TemporaryDirectory(prefix="raster_analytics_") as work:
        # 1. persist the cube, scan it back
        store = f"{work}/cube.zarr"
        n = zarrstore.write_zarr_store(tiles, store)
        print(f"store: {n} chunks -> {store}")
        back = zarrstore.read_zarr_store(spark, store)
        # 2. the scan's per-tile stats equal the tile table's
        want = decode.decode_stats(tiles).agg({"vsum": "sum"}).first()[0]
        got = decode.decode_stats(back).agg({"vsum": "sum"}).first()[0]
        assert got == want, (got, want)
        print(f"store scan: {back.count()} tiles, vsum={got:.0f}")

    spark.stop()
    print("OK")


if __name__ == "__main__":
    main()
