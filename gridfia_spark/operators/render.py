"""Map-product rendering as data (SURVEY W2/W3/J3 composition; ref
visualization/mapper.py:128-158 and api.create_maps, api.py:503-703).

The reference renders matplotlib PNGs; the engine emits the same product as
DATA: per-species percentile-stretch bounds -> per-pixel normalized value ->
256-level colormap index, re-encoded as raster tile rows. A client colormap
LUT turns an index tile into RGBA — no plotting library in the data path.

Plan shape: the stretch-bounds aggregate is one global percentile per
species (tiny result, broadcast); the render pass is map-only
(decode -> numpy -> re-encode), no shuffle. ``resize`` (the thumbnail
product) is a map-only block mean.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import codecs
from ..constants import CRS
from . import decode


def stretch_bounds(
    tiles: DataFrame,
    species: list[int],
    lo: float = 0.02,
    hi: float = 0.98,
    round_dp: int = 6,
) -> dict[int, tuple[float, float]]:
    """Exact percentile stretch bounds per species (mapper.py:128-158),
    rounded to ``round_dp`` so downstream float math is engine-portable.

    Scale-safe plan: per-tile bincount partials -> tiny (s, v, cnt)
    histogram -> interpolated cumulative walk (functions/histpct.py). No
    per-species value buffering — a billion-pixel layer costs a
    |value-domain|-row shuffle. The interpolation formula matches DuckDB
    quantile_cont bit-for-bit on float64-exact integer values, so the
    round_dp boundary-flip flake of engine-internal percentile
    accumulations is gone. For continuous-valued tiles, swap in
    approx_percentile (mergeable t-digest)."""
    from ..functions.histpct import hist_percentiles

    hist = decode.value_hist(tiles, species=species)
    rows = hist_percentiles(hist, ["s"], {"plo": lo, "phi": hi}).collect()
    return {
        int(r.s): (round(float(r.plo), round_dp), round(float(r.phi), round_dp))
        for r in rows
    }


def render_layers(
    tiles: DataFrame, bounds: dict[int, tuple[float, float]], fmt: str = "rawz"
) -> DataFrame:
    """Stretch + clip + colormap-index, re-encoded as tile rows with ids
    ``r_sp<code>_tx###_ty###``: idx = floor(clip((v-p2)/(p98-p2), 0, 1)*255),
    all zeros where the stretch is degenerate (p98 <= p2, mapper vmax
    fallback). Map-only job over the tile scan."""
    meta = decode.with_tile_meta(tiles).filter(F.col("s").isin(list(bounds)))
    cols = meta.select("bytes", "w", "h", "fmt", "s", "tx", "ty", "code")
    b_items = {int(s): (float(p2), float(p98)) for s, (p2, p98) in bounds.items()}

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("image_id", "bytes", "w", "h", "fmt", "caption")}
            for r in pdf.itertuples(index=False):
                arr = codecs.decode(r.bytes, r.w, r.h, r.fmt).astype(np.float64)
                p2, p98 = b_items[int(r.s)]
                if p98 > p2:
                    idx = np.floor(np.clip((arr - p2) / (p98 - p2), 0.0, 1.0) * 255.0)
                else:
                    idx = np.zeros_like(arr)
                out["image_id"].append(
                    f"r_sp{r.code}_tx{int(r.tx):03d}_ty{int(r.ty):03d}"
                )
                out["bytes"].append(codecs.encode(idx.astype(np.float32), fmt))
                out["w"].append(int(r.w))
                out["h"].append(int(r.h))
                out["fmt"].append(fmt)
                out["caption"].append(
                    f"render=colormap256;species={r.code};"
                    f"stretch=[{p2!r},{p98!r}];crs={CRS};units=index"
                )
            yield pd.DataFrame(out)

    return cols.mapInPandas(
        render,
        "image_id string, bytes binary, w int, h int, fmt string, caption string",
    )


def resize(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Block-mean downsample of each ``(media_id, bytes, w, h, fmt)`` row by
    integer factors, re-encoded as ``raw32`` — the thumbnailing stage of an
    image pipeline. Map-only; any ``codecs.decode`` fmt reads."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                arr = codecs.decode(r.bytes, int(r.w), int(r.h), r.fmt)
                fy, fx = max(arr.shape[0] // out_h, 1), max(arr.shape[1] // out_w, 1)
                small = (
                    arr[: out_h * fy, : out_w * fx]
                    .reshape(out_h, fy, out_w, fx)
                    .mean(axis=(1, 3))
                )
                out.append(
                    (r.media_id, codecs.encode(small, "raw32"), out_w, out_h, "raw32")
                )
            yield pd.DataFrame(out, columns=["media_id", "bytes", "w", "h", "fmt"])

    return media.mapInPandas(
        run, "media_id string, bytes binary, w int, h int, fmt string"
    )
