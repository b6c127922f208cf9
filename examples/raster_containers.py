#!/usr/bin/env python
"""The full raster-container lifecycle on genuine file formats, end to end:

1. ingest a directory of REAL GeoTIFF tiles (pure-python tiff.py codec);
2. persist the cube as a REAL Zarr v2 store — every Spark task writes its
   own chunk file, exactly how Zarr lands on object stores at scale;
3. scan the store back (distributed binaryFile chunk scan) and run the
   shared metric-kernel pass over it;
4. export the richness layer as a single GeoTIFF and a NetCDF-3 classic
   file, then re-read both with the same codecs to prove the round trip.

Everything between ingest and the final single-file exports is
distributed; the exports are driver-side by definition (one artifact).

Run:  python examples/raster_containers.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

from gridfia_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(cores=8, app_name="raster-containers")

    from gridfia_spark import netcdf3, tiff
    from gridfia_spark.constants import CRS, PIX, SPECIES, X0, Y0, spec_for_sf_dir
    from gridfia_spark.datagen import pixels as pxgen
    from gridfia_spark.operators import metrics
    from gridfia_spark.sources import ingest, sinks, zarrstore

    spec = spec_for_sf_dir(sf_dir)
    work = tempfile.mkdtemp(prefix="raster_containers_")

    # 1. a directory of genuine GeoTIFFs (one species), then ingest it
    tif_dir = os.path.join(work, "tif_in")
    os.makedirs(tif_dir)
    code = SPECIES[1][0]
    for ty in range(spec.tiles_y):
        for tx in range(spec.tiles_x):
            arr = pxgen.tile_pixels(1, tx, ty, spec).astype(np.float32)
            blob = tiff.encode_geotiff(
                arr,
                X0 + tx * spec.tile_w * PIX,
                Y0 - ty * spec.tile_h * PIX,
                PIX,
                CRS,
            )
            with open(
                os.path.join(tif_dir, f"SPCD_{code}_tx{tx:03d}_ty{ty:03d}.tif"), "wb"
            ) as fh:
                fh.write(blob)
    tiles = ingest.ingest_raster_dir(spark, tif_dir, spec.tile_w, spec.tile_h)
    print(f"ingested {tiles.count()} GeoTIFF tiles from {tif_dir}")

    # 2. distributed Zarr v2 store write
    store = os.path.join(work, "cube.zarr")
    n_chunks = zarrstore.write_zarr_store(tiles, store)
    zarray, attrs = zarrstore.read_zarr_array_meta(store)
    print(f"zarr store: {n_chunks} chunks, shape={zarray['shape']}, "
          f"chunks={zarray['chunks']}, crs={attrs['crs']}")

    # 3. scan the store back and run the metric kernels over it
    back = zarrstore.read_zarr_store(spark, store)
    rich = metrics.metric_layers(
        back, [metrics.MetricSpec("richness", "species_richness", {}, "long")]
    )
    print(f"richness layer rows: {rich.count()}")

    # 3b. the reference's ACTUAL dialect: Zarr v3 with Blosc-LZ4 chunks,
    # plus an in-place layer append to the persisted store
    store3 = os.path.join(work, "cube_v3.zarr")
    zarrstore.write_zarr_store(tiles, store3, zarr_format=3, codec="blosc")
    extra_code, extra_name = SPECIES[2]
    extra = ingest.ingest_raster_dir(spark, tif_dir, spec.tile_w, spec.tile_h)
    extra = extra.selectExpr(
        f"regexp_replace(image_id, 'sp{code}', 'sp{extra_code}') AS image_id",
        "bytes", "w", "h", "fmt", "caption", "phash",
    )
    idx = zarrstore.append_layer(extra, store3, extra_code, extra_name)
    m = zarrstore.zarr_meta(store3)
    print(f"zarr v3+blosc: appended layer {idx}, shape={m.shape}, "
          f"codec={m.compressor}, num_species={m.attrs['num_species']}")
    appended = zarrstore.read_zarr_store(spark, store3, species=[idx])
    print(f"pruned scan of appended layer: {appended.count()} tiles "
          f"({len(appended.inputFiles())} chunk files listed)")

    # 4. single-file exports (sharded: strips stream through the driver)
    tif_path = os.path.join(work, "richness.tif")
    nc_path = os.path.join(work, "richness.nc")
    sinks.write_geotiff(rich, "richness", spec.gw, spec.gh, tif_path, strip_h=16)
    sinks.write_netcdf(rich, "richness", spec.gw, spec.gh, nc_path, strip_h=16)
    arr_t, meta_t = tiff.decode_geotiff(open(tif_path, "rb").read())
    dims, vars_, gattrs, _ = netcdf3.read_netcdf3(open(nc_path, "rb").read())
    assert meta_t["crs"] == gattrs["crs"] == CRS
    assert arr_t.shape == (spec.gh, spec.gw)
    assert float(arr_t.sum()) == float(vars_["richness"][1].sum())
    print(f"geotiff: origin={meta_t['origin']} pixel={meta_t['pixel']} "
          f"sum={arr_t.sum():.0f}")
    print(f"netcdf:  dims={dims} attrs={gattrs}")
    print("round trip OK —", work)
    spark.stop()


if __name__ == "__main__":
    main()
