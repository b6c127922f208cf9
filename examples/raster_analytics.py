#!/usr/bin/env python
"""The raster operators chained end to end:

1. persist the tile cube as a Zarr store and scan it back;
2. regrid: ``warp_tiles`` resamples the cube onto a 3/2-coarser grid —
   the one shuffle in this whole pipeline, and it carries exactly the
   output pixels;
3. every product is a normal tile table, so ``decode_stats`` (or any
   metric kernel) composes over each unchanged.

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
    from gridfia_spark.constants import spec_for_sf_dir
    from gridfia_spark.datagen import tiles as tgen
    from gridfia_spark.operators import decode, warp
    from gridfia_spark.sources import zarrstore

    spark = get_spark(cores=8, app_name="raster-analytics-example")
    spec = spec_for_sf_dir(SF_DIR)
    tiles = tgen.ensure_tiles(spark, SF_DIR)
    work = tempfile.mkdtemp(prefix="raster_analytics_")

    # 1. persist the cube, scan it back: the per-tile stats must agree
    store = f"{work}/cube.zarr"
    n = zarrstore.write_zarr_store(tiles, store)
    print(f"store: {n} chunks -> {store}")
    back = zarrstore.read_zarr_store(spark, store)
    want = decode.decode_stats(tiles).agg({"vsum": "sum"}).first()[0]
    got = decode.decode_stats(back).agg({"vsum": "sum"}).first()[0]
    assert got == want, (got, want)
    print(f"store scan: {back.count()} tiles, vsum={got:.0f}")

    # 2. warp onto a 3/2-coarser grid (the only shuffle here)
    out = warp.warp_tiles(tiles, spec, (3, 2, 1), (3, 2, 1))
    t_w, t_h = warp.warp_extent(spec, (3, 2, 1), (3, 2, 1))
    ws = decode.decode_stats(out)
    print(f"warp: {out.count()} tiles at {t_w}x{t_h} px; "
          f"nonzero px = {ws.agg({'nonzero': 'sum'}).first()[0]}")

    spark.stop()
    print("OK")


if __name__ == "__main__":
    main()
