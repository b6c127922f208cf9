#!/usr/bin/env python
"""The round-5 raster-analytics operators chained end to end:

1. persist the tile cube as a Zarr store (epoch A);
2. derive a "next survey" epoch B (clipped canopy — any per-pixel edit)
   and persist it too;
3. change detection: ``diff_stores`` compares the two epochs chunk-pair
   by chunk-pair with ZERO shuffle — the driver enumerates the grid from
   metadata, each task opens its two chunk files directly;
4. focal statistics: ``focal_sum3x3_store`` ghost-reads each chunk plus
   its 8 neighbors straight from epoch A and emits the 3x3 box-sum
   raster, again with zero shuffle;
5. regrid: ``warp_tiles`` resamples the cube onto a 3/2-coarser grid —
   the one shuffle in this whole pipeline, and it carries exactly the
   output pixels;
6. every derived product is a normal tile table, so ``decode_stats``
   (or any metric kernel) composes over each unchanged.

Run:  python examples/raster_analytics.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

from gridfia_spark.session import get_spark

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def main() -> None:
    from gridfia_spark import codecs
    from gridfia_spark.constants import spec_for_sf_dir
    from gridfia_spark.datagen import tiles as tgen
    from gridfia_spark.datagen.tiles import TILE_SCHEMA
    from gridfia_spark.operators import decode, focal, warp
    from gridfia_spark.sources import zarrstore

    spark = get_spark(cores=8, app_name="raster-analytics-example")
    spec = spec_for_sf_dir(SF_DIR)
    tiles = tgen.ensure_tiles(spark, SF_DIR)
    work = tempfile.mkdtemp(prefix="raster_analytics_")

    # 1. epoch A
    store_a = f"{work}/epoch_a.zarr"
    n = zarrstore.write_zarr_store(tiles, store_a)
    print(f"epoch A: {n} chunks -> {store_a}")

    # 2. epoch B: simulate the next survey (canopy clipped at 25)
    def clip(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                a = codecs.decode(r.bytes, r.w, r.h, r.fmt)
                rows.append(
                    (r.image_id, codecs.encode(np.minimum(a, 25.0), "rawz"),
                     r.w, r.h, "rawz", r.caption, r.phash)
                )
            yield pd.DataFrame(rows, columns=[
                "image_id", "bytes", "w", "h", "fmt", "caption", "phash"])

    store_b = f"{work}/epoch_b.zarr"
    zarrstore.write_zarr_store(
        tiles.mapInPandas(clip, TILE_SCHEMA), store_b, zarr_format=3
    )
    print(f"epoch B (v3 dialect): {store_b}")

    # 3. zero-shuffle change detection, cross-dialect
    diff = zarrstore.diff_stores(spark, store_a, store_b)
    changed = diff.filter("n_diff > 0")
    print(f"diff: {diff.count()} chunk pairs, {changed.count()} changed;")
    top = changed.orderBy(changed.delta_sum.desc()).limit(3).collect()
    for r in top:
        print(f"  {r.image_id}: {r.n_diff} px changed, "
              f"lost mass {r.delta_sum:.0f}")

    # 3a'. radiometric normalization: a GAIN-miscalibrated copy of epoch
    # A (every value x2 — a strictly monotone sensor drift) would read
    # as massive fake change; histogram matching onto A's distribution
    # recovers it EXACTLY, so only real change survives the diff
    from gridfia_spark.operators import normalize

    def gain2(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                a = codecs.decode(r.bytes, r.w, r.h, r.fmt)
                rows.append((r.image_id, codecs.encode(a * 2.0, "rawz"),
                             r.w, r.h, "rawz", r.caption, r.phash))
            yield pd.DataFrame(rows, columns=[
                "image_id", "bytes", "w", "h", "fmt", "caption", "phash"])

    drifted = tiles.mapInPandas(gain2, TILE_SCHEMA)
    fixed = normalize.histogram_match(drifted, tiles)
    store_fix = f"{work}/drifted_normalized.zarr"
    zarrstore.write_zarr_store(fixed, store_fix)
    resid = zarrstore.diff_stores(spark, store_a, store_fix)
    n_bad = resid.filter("n_diff > 0").count()
    print(f"normalization: gain-x2 drift matched back — "
          f"{n_bad} chunks differ from epoch A (expect 0)")

    # 3b. temporal trend across the two epochs (same zip, N-wide):
    # exact int64 slope numerators; negative sum_num = biomass declining
    tr = zarrstore.trend_stores(spark, [store_a, store_b])
    declining = tr.filter("sum_num < 0").count()
    print(f"trend: {declining} tiles with net-declining biomass "
          f"(of {tr.count()})")

    # 3c. compositing: build the current view (epoch B patches win over
    # epoch A) — one shuffle, one tile per image_id
    from gridfia_spark.operators import compositing

    current = compositing.compose_latest(
        [tiles, zarrstore.read_zarr_store(spark, store_b)]
    )
    print(f"composite current view: {current.count()} tiles")

    # 4. zero-shuffle focal box sum (ghost reads) -> a tile table
    blur = focal.focal_sum3x3_store(spark, store_a, species=[0])
    st = decode.decode_stats(blur).agg({"vsum": "sum"}).first()[0]
    print(f"focal 3x3 sum over total layer: vsum={st:.0f} "
          f"({blur.count()} output tiles)")

    # 5. warp onto a 3/2-coarser grid (the only shuffle here)
    out = warp.warp_tiles(tiles, spec, (3, 2, 1), (3, 2, 1))
    t_w, t_h = warp.warp_extent(spec, (3, 2, 1), (3, 2, 1))
    ws = decode.decode_stats(out)
    print(f"warp: {out.count()} tiles at {t_w}x{t_h} px; "
          f"nonzero px = {ws.agg({'nonzero': 'sum'}).first()[0]}")

    spark.stop()
    print("OK")


if __name__ == "__main__":
    main()
