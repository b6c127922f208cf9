"""Canonical constants of the synthetic tile universe.

The engine's input is an Iceberg-style table of image+caption rows
(``image_id, bytes, w, h, fmt, caption, phash`` — BASELINE.json input_hint).
Because the sandbox has no external raster data, the tile universe is a pure
deterministic function of integer math, chosen so that a SQL engine (DuckDB)
can regenerate every pixel value exactly via ``generate_series`` — this is
what makes every spatial/zonal query oracle-checkable end to end.

Georeferencing mirrors the reference fixtures
(/root/reference/tests/conftest.py:41-42,132-133): CRS ``ESRI:102039``,
30 m pixels, affine ``[X0, 30, 0, Y0, 0, -30]`` (north-up, row-major from the
top-left corner).  Species metadata mirrors the species_codes/species_names
sidecar arrays (/root/reference/gridfia/utils/zarr_utils.py:950-962); layer 0
is the precomputed "Total Biomass" with code ``0000``
(zarr_utils.py:1015-1019).
"""

from __future__ import annotations

from dataclasses import dataclass

# ---------------------------------------------------------------- georef
CRS = "ESRI:102039"
X0 = -2_000_000.0  # west edge (m)
Y0 = -900_000.0  # north edge (m)
PIX = 30.0  # pixel size (m)
UNITS = "Mg/ha"

# ---------------------------------------------------------------- species
# (code, name); index 0 is the precomputed total layer, like the reference.
SPECIES: list[tuple[str, str]] = [
    ("0000", "Total Biomass"),
    ("0131", "Loblolly Pine"),
    ("0068", "Eastern Redcedar"),
    ("0802", "White Oak"),
    ("0316", "Red Maple"),
    ("0611", "Sweetgum"),
]
N_SPECIES = len(SPECIES)  # incl. total layer

# ------------------------------------------------------- pixel-value spec
# All arithmetic is exact int64; every constant below is part of the
# engine<->oracle contract. See datagen/pixels.py (numpy) and
# datagen/oracle_sql.py (DuckDB SQL) for the two implementations.
HASH_MUL = 2_654_435_761  # Knuth multiplicative constant
HASH_MOD = 2_147_483_648  # 2**31
KEY_S = 1_000_003
KEY_X = 7_919
KEY_Y = 104_729


@dataclass(frozen=True)
class GridSpec:
    """Tile-grid shape for one scale factor."""

    tiles_x: int
    tiles_y: int
    tile_w: int
    tile_h: int

    @property
    def gw(self) -> int:  # global raster width in pixels
        return self.tiles_x * self.tile_w

    @property
    def gh(self) -> int:
        return self.tiles_y * self.tile_h

    @property
    def n_images(self) -> int:
        return N_SPECIES * self.tiles_x * self.tiles_y

    @property
    def extent(self) -> tuple[float, float, float, float]:
        """(xmin, ymin, xmax, ymax) of the dataset in CRS metres."""
        return (X0, Y0 - self.gh * PIX, X0 + self.gw * PIX, Y0)


# Scale factors mirror the driver's testdata tiers (TESTDATA.md):
# sf0.001 = smoke, sf0.01 = correctness oracle, sf0.1 = bench.
SF_SPECS: dict[str, GridSpec] = {
    "0.001": GridSpec(2, 2, 32, 32),
    "0.01": GridSpec(4, 4, 48, 48),
    "0.1": GridSpec(12, 12, 64, 64),
    # mid bench scale: ~10x sf0.1 (38x38 tiles -> 8,664 images, 35.5 M px) —
    # lifts the headline per-query timings off the sub-3s host-noise floor
    # (±50% band) so round-over-round deltas carry signal (VERDICT r4 #6)
    "mid": GridSpec(38, 38, 64, 64),
    # scaling-bench scale: 6x144x144 = 124,416 images x 16K px ≈ 2.04 B px,
    # ~7x the reference's NC benchmark grid (289 M px,
    # docs/data-pipeline/zarr-construction.md:204) — big enough that compute
    # dominates fixed per-stage scheduling, the regime a real cluster runs in
    "bench": GridSpec(144, 144, 128, 128),
}


def spec_for_sf_dir(sf_dir: str) -> GridSpec:
    """Resolve a GridSpec from a driver sf dir like '/root/testdata/sf0.01'."""
    name = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    sf = name[2:] if name.startswith("sf") and name != "bench" else name
    if sf in SF_SPECS:
        return SF_SPECS[sf]
    raise ValueError(f"unknown scale factor dir: {sf_dir!r}")


# printf formats shared by the Python helpers below and the JVM
# ``format_string`` columns that build the same strings in a plan
IMAGE_ID_FMT = "sp%s_tx%03d_ty%03d"
CAPTION_FMT = (
    "species=%s;name=%s;tile=(%d,%d);"
    f"crs={CRS};transform=[{X0:.1f},{PIX:.1f},0.0,{Y0:.1f},0.0,{-PIX:.1f}];"
    f"units={UNITS}"
)


def image_id(code: str, tx: int, ty: int) -> str:
    return IMAGE_ID_FMT % (code, tx, ty)


def caption(code: str, name: str, tx: int, ty: int) -> str:
    """Per-tile metadata sidecar; caption equality is part of the exactness
    contract (mirrors zarr attrs at zarr_utils.py:964-969)."""
    return CAPTION_FMT % (code, name, tx, ty)
