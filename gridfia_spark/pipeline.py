"""`RasterPipeline`: one facade over the raster/store analytics operators.
`api.GridFIASpark` fronts the reference-parity raster surface."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


class RasterPipeline:
    """Facade over the round-5 raster/store analytics family — the
    epoch-lifecycle toolkit (persist, grow, compare, derive) in one
    discoverable place. Every method is a thin delegation; the operator
    modules stay independently importable and tested. Typical lifecycle
    (see examples/raster_analytics.py for a runnable version)::

        rp = RasterPipeline(spark)
        rp.create_store(tiles, "a.zarr")             # epoch A persists
        rp.stream_ingest(drops_dir, "a.zarr", work)  # drops grow it
        fixed = rp.normalize(epoch_b, tiles)         # kill sensor drift
        rp.create_store(fixed, "b.zarr")
        chg = rp.diff("a.zarr", "b.zarr")            # zero-shuffle diff
        tr = rp.trend(["a.zarr", "b.zarr", "c.zarr"])  # N-epoch OLS
        blur = rp.focal("a.zarr")                    # ghost-read stencil
        low = rp.warp(tiles, spec, (2, 1, 0), (2, 1, 0))  # regrid
        cur = rp.compose([tiles, patch])             # latest-wins view
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark

    # ---------------------------------------------------------- storage
    def create_store(self, tiles: DataFrame, path: str, **kw) -> int:
        from .sources import zarrstore

        return zarrstore.write_zarr_store(tiles, path, **kw)

    def create_sharded_store(self, tiles: DataFrame, path: str, **kw) -> int:
        from .sources import zarrstore

        return zarrstore.write_sharded_store(tiles, path, **kw)

    def read_store(self, path: str, **kw) -> DataFrame:
        from .sources import zarrstore

        return zarrstore.read_zarr_store(self.spark, path, **kw)

    def stream_ingest(self, drops_dir: str, store: str, work_dir: str,
                      **kw) -> None:
        from .streaming import storeingest

        storeingest.incremental_store_ingest(
            self.spark, drops_dir, store, work_dir, **kw
        )

    # ----------------------------------------------------- epoch algebra
    def diff(self, path_a: str, path_b: str, **kw) -> DataFrame:
        from .sources import zarrstore

        return zarrstore.diff_stores(self.spark, path_a, path_b, **kw)

    def trend(self, paths: list[str], **kw) -> DataFrame:
        from .sources import zarrstore

        return zarrstore.trend_stores(self.spark, paths, **kw)

    def compose(self, tables: list[DataFrame]) -> DataFrame:
        from .operators import compositing

        return compositing.compose_latest(tables)

    def normalize(self, tiles_src: DataFrame, tiles_ref: DataFrame,
                  **kw) -> DataFrame:
        from .operators import normalize

        return normalize.histogram_match(tiles_src, tiles_ref, **kw)

    # -------------------------------------------------------- derivation
    def focal(self, store: str, stat: str = "sum", **kw) -> DataFrame:
        from .operators import focal

        return focal.focal_sum3x3_store(self.spark, store, stat=stat, **kw)

    def warp(self, tiles: DataFrame, spec, map_x, map_y,
             bilinear: bool = False, **kw) -> DataFrame:
        from .operators import warp

        f = warp.warp_tiles_bilinear if bilinear else warp.warp_tiles
        return f(tiles, spec, map_x, map_y, **kw)

    def overview(self, tiles: DataFrame, spec, factor: int = 2,
                 **kw) -> DataFrame:
        from .operators import pyramid

        return pyramid.build_overview(tiles, spec, factor=factor, **kw)
