"""GridFIASpark — the user-facing facade, mirroring the reference's public
API surface (gridfia.GridFIA, /root/reference/gridfia/api.py:57) so a
reference user can switch method-for-method:

| reference (api.py)            | here                                      |
|-------------------------------|-------------------------------------------|
| download_species(...)         | generate_tiles(...) (deterministic source)|
| create_zarr(input_dir, out)   | ingest_directory(...) + write_table(...)  |
| calculate_metrics(zarr, [..]) | calculate_metrics(tiles, [..])            |
| create_maps(zarr, maps=[...]) | map_layers(tiles, [...]) (stretch bounds) |
| + zonal/assignment/kNN        | zonal_stats / assign_tiles / knn          |

Calculation names and parameter semantics match the reference registry
(core/calculations/registry.py:35-56); unknown names raise with the known
list, mirroring api.py:468-483.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

from . import grid
from .constants import PIX
from .functions import kernels
from .operators import broadcast_join, decode, knn as knn_op, metrics, spatial_join, zonal

# reference registry name -> (kernel, default output column, sql type)
_CALC_TABLE: dict[str, tuple[str, str]] = {
    "species_richness": ("long", "richness"),
    "shannon_diversity": ("double", "shannon"),
    "simpson_diversity": ("double", "simpson"),
    "evenness": ("double", "evenness"),
    "total_biomass": ("double", "total_biomass"),
    "total_biomass_comparison": ("double", "total_comparison"),
    "species_proportion": ("double", "proportion"),
    "species_percentage": ("double", "percentage"),
    "species_group_proportion": ("double", "group_proportion"),
    "biomass_threshold": ("long", "threshold"),
    "dominant_species": ("long", "dominant"),
    "species_presence": ("long", "presence"),
    "species_dominance": ("double", "dominance"),
    "rare_species": ("long", "rare"),
    "common_species": ("long", "common"),
}


class GridFIASpark:
    """Facade over the engine. Stateless besides the session."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    # ------------------------------------------------------------ sources
    def generate_tiles(self, sf_dir: str, fmt: str = "rawz") -> DataFrame:
        """Deterministic tile source (replaces download_species; api.py:160)."""
        from .datagen import tiles as tgen

        return tgen.ensure_tiles(self.spark, sf_dir, fmt)

    def ingest_directory(self, path: str, tile_w: int, tile_h: int, fmt: str = "rawz") -> DataFrame:
        """Raster-dir ingest incl. total-layer accumulation (create_zarr,
        api.py:285-407)."""
        from .sources import ingest

        species = ingest.ingest_raster_dir(self.spark, path, tile_w, tile_h, fmt)
        return ingest.with_total_layer(species, fmt)

    def validate(self, tiles: DataFrame) -> dict:
        from .sources import ingest

        return ingest.validate_tile_table(tiles)

    def create_zarr(
        self, input_dir: str, output_path: str, tile_w: int, tile_h: int,
        zarr_format: int = 2,
    ) -> int:
        """The reference's full ETL entry point, literal (api.create_zarr /
        zarr_utils.create_zarr_from_geotiffs, SURVEY §3.3): a directory of
        raster tiles (genuine .tif or engine .bin) -> ingest + total-layer
        accumulation -> a genuine Zarr store at ``output_path``
        (distributed chunk writes; ``zarr_format=3`` writes the
        reference's v3 dialect). Returns the number of chunks."""
        from .sources import zarrstore

        tiles = self.ingest_directory(input_dir, tile_w, tile_h)
        return zarrstore.write_zarr_store(tiles, output_path, zarr_format=zarr_format)

    def append_species_to_zarr(
        self,
        zarr_path: str,
        raster_dir: str,
        species_code: str,
        species_name: str,
        tile_w: int,
        tile_h: int,
        validate_alignment: bool = True,
    ) -> int:
        """Reference API parity (append_species_to_zarr,
        zarr_utils.py:754-818): ingest one species' raster files and append
        them IN PLACE as a new layer of the persisted store — distributed
        chunk writes for the new layer only, driver metadata update,
        transform/bounds allclose validation. Returns the layer index."""
        from .sources import ingest, zarrstore

        tiles = ingest.ingest_raster_dir(self.spark, raster_dir, tile_w, tile_h)
        return zarrstore.append_layer(
            tiles, zarr_path, species_code, species_name,
            validate_alignment=validate_alignment,
        )

    def load_zarr(self, path: str, species: list[int] | None = None) -> DataFrame:
        """Zarr store scan -> tile table (S5 literal), with optional
        listing-level layer pruning."""
        from .sources import zarrstore

        return zarrstore.read_zarr_store(self.spark, path, species=species)

    def validate_zarr(self, path: str) -> dict:
        """Validate + summarize an on-disk store (ref api.validate_zarr /
        validate_zarr_store, zarr_utils.py:1028-1065): same summary keys
        plus a chunk census and errors list; works on both dialects."""
        from .sources import zarrstore

        return zarrstore.validate_store(path)

    def list_species(self) -> list[dict]:
        """The species universe as {index, code, name} rows (ref
        api.list_species; the engine's universe is the deterministic
        SPECIES contract rather than a network catalog)."""
        from .constants import SPECIES

        return [
            {"index": i, "code": c, "name": n} for i, (c, n) in enumerate(SPECIES)
        ]

    def list_calculations(self) -> list[str]:
        """Registered calculation names (ref api.list_calculations)."""
        return sorted(_CALC_TABLE)

    # ----------------------------------------------------------- analytics
    def calculate_metrics(
        self,
        tiles: DataFrame,
        calculations: list[str | dict[str, Any]],
        on_error: str = "raise",
    ) -> DataFrame:
        """Run named calculations in one shared pass (api.py:409-501 →
        run_calculations). Each item is a registry name or
        {"name": ..., **params}; unknown names raise listing valid ones."""
        specs = []
        for c in calculations:
            name = c if isinstance(c, str) else c["name"]
            params = {} if isinstance(c, str) else {k: v for k, v in c.items() if k != "name"}
            if name not in _CALC_TABLE or name not in kernels.list_kernels():
                raise ValueError(
                    f"Unknown calculation: {name!r}. Valid calculations: "
                    f"{sorted(_CALC_TABLE)}"
                )
            sql_type, out = _CALC_TABLE[name]
            out = params.pop("output_name", out)
            specs.append(metrics.MetricSpec(out, name, params, sql_type))
        return metrics.metric_layers(tiles, specs, on_error=on_error)

    def map_layers(self, tiles: DataFrame, species: list[int]) -> DataFrame:
        """Display-stretch bounds per species (create_maps' percentile
        normalization, mapper.py:128-158)."""
        from pyspark.sql import functions as F

        px = decode.pixels_long(tiles, species=species)
        return (
            px.groupBy("s")
            .agg(F.expr("percentile(v, array(0.02, 0.98))").alias("p"))
            .select("s", F.col("p")[0].alias("p2"), F.col("p")[1].alias("p98"))
        )

    def create_maps(self, tiles: DataFrame, species: list[int]) -> DataFrame:
        """The rendering-free map product (api.create_maps, api.py:503-703 /
        mapper.py:128-158): percentile stretch + clip + 256-level colormap
        index, re-encoded as raster tile rows (``r_sp*`` ids)."""
        from .operators import render

        bounds = render.stretch_bounds(tiles, species=species)
        return render.render_layers(tiles, bounds)

    def location_bboxes(self, lonlat_bounds: tuple) -> dict:
        """Three-CRS location contract (api.py:240-259,
        location_config.py:274-379): a geographic bbox resolved to
        EPSG:4326 / EPSG:3857 / ESRI:102039 bounds."""
        from . import crs

        return crs.location_bboxes(lonlat_bounds)

    # ------------------------------------------------------------- spatial
    def _res(self, tiles: DataFrame) -> int:
        dims = decode.with_tile_meta(tiles).select("w").first()
        return grid.res_for_size(int(dims.w) * PIX * 2)

    def zonal_stats(
        self, tiles: DataFrame, polygons: DataFrame, species: int | None = 0
    ) -> DataFrame:
        return zonal.zonal_stats(tiles, polygons, species=species, res=self._res(tiles))

    def assign_tiles(self, tiles: DataFrame, polygons: DataFrame) -> DataFrame:
        meta = decode.with_tile_meta(tiles)
        return broadcast_join.assign_tiles_fast(meta, polygons, res=self._res(tiles))

    def join_points(self, points: DataFrame, polygons: DataFrame) -> DataFrame:
        return spatial_join.join_points_polygons(points, polygons)

    def knn(self, queries: DataFrame, targets: DataFrame, k: int = 5) -> DataFrame:
        return knn_op.knn_join(queries, targets, k=k)

    def point_lookup(self, points: DataFrame, tiles: DataFrame, species: int = 0) -> DataFrame:
        return decode.point_lookup(points, tiles, species)
