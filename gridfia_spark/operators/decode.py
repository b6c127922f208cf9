"""Tile decode + gridding operators (SURVEY §7 M1).

Design rule: everything that can stay JVM-side does — tile metadata (species,
tile coords, bbox, cell ids) is derived with built-in column expressions from
``image_id`` alone, so Catalyst can prune/push-down without touching ``bytes``.
Pixel payloads are decoded only inside Arrow-batched ``mapInPandas`` kernels,
and only in operators that truly need pixel values.

Reference parity: metadata parsing mirrors the filename→species-code matching
at /root/reference/gridfia/utils/zarr_utils.py:856-866 and api.py:370-389;
dimension validation mirrors zarr_utils.py:988-996.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import codecs, grid
from ..constants import PIX, SPECIES, X0, Y0


def with_tile_meta(tiles: DataFrame) -> DataFrame:
    """Parse species/tile coords out of image_id and add the tile's bbox —
    all built-in expressions (regexp_extract + arithmetic), no UDF. The
    species dimension is zipped in as MAP LITERALS (element_at), not a
    broadcast join: the join added a BroadcastExchange + hash join to every
    tile query just to attach a 6-row dimension, and an unknown code maps
    to NULL either way (left-join semantics preserved). The column set is
    identical; only the plan shape changed."""
    smap = F.create_map(
        *[x for i, (c, _) in enumerate(SPECIES) for x in (F.lit(c), F.lit(i))]
    )
    nmap = F.create_map(
        *[x for _, (c, n) in enumerate(SPECIES) for x in (F.lit(c), F.lit(n))]
    )
    d = (
        tiles.withColumn("code", F.regexp_extract("image_id", r"^sp(\d{4})_", 1))
        .withColumn("tx", F.regexp_extract("image_id", r"_tx(\d+)_", 1).cast("int"))
        .withColumn("ty", F.regexp_extract("image_id", r"_ty(\d+)$", 1).cast("int"))
        .withColumn("s", F.element_at(smap, F.col("code")).cast("int"))
        .withColumn("name", F.element_at(nmap, F.col("code")))
    )
    return (
        d.withColumn("xmin", F.lit(X0) + F.col("tx") * F.col("w") * F.lit(PIX))
        .withColumn("xmax", F.col("xmin") + F.col("w") * F.lit(PIX))
        .withColumn("ymax", F.lit(Y0) - F.col("ty") * F.col("h") * F.lit(PIX))
        .withColumn("ymin", F.col("ymax") - F.col("h") * F.lit(PIX))
    )


def with_tile_cells(tiles_meta: DataFrame, res: int = grid.JOIN_RES) -> DataFrame:
    """Explode each tile into its covering cells at ``res`` (the probe side of
    the cell-prefix hash join) — one output row per (tile, cell).

    Entirely JVM-side: clipped index ranges + two sequence explodes + the
    Morton encode expression (grid.encode_cell_col), the same float math in
    the same IEEE order as grid.bbox_indices, so cell ids are bit-identical
    to the old pandas-UDF form without the ArrowEvalPython round-trip
    (guide §4.1). eps treats the tile as half-open [xmin,xmax) x (ymin,ymax]."""
    eps = 1e-6
    size = grid.cell_size(res)
    n = (1 << res) - 1

    def idx(coord, west_origin: bool):
        if west_origin:
            return F.floor((coord - F.lit(grid.WORLD_X0)) / F.lit(size))
        return F.floor((F.lit(grid.WORLD_Y0) - coord) / F.lit(size))

    # one-sided clips, exactly like grid.bbox_indices: lower bounds only
    # floored at 0, upper bounds only capped at n — a bbox entirely outside
    # the world keeps an inverted range and yields an EMPTY covering
    ix0 = F.greatest(F.lit(0), idx(F.col("xmin") + F.lit(eps), True))
    ix1 = F.least(F.lit(n), idx(F.col("xmax") - F.lit(eps), True))
    iy0 = F.greatest(F.lit(0), idx(F.col("ymax") - F.lit(eps), False))
    iy1 = F.least(F.lit(n), idx(F.col("ymin") + F.lit(eps), False))
    d = (
        tiles_meta.withColumn("_ix0", ix0)
        .withColumn("_ix1", ix1)
        .withColumn("_iy0", iy0)
        .withColumn("_iy1", iy1)
        .withColumn(
            "n_tile_cells",
            F.when(
                (F.col("_ix1") >= F.col("_ix0")) & (F.col("_iy1") >= F.col("_iy0")),
                (F.col("_ix1") - F.col("_ix0") + 1)
                * (F.col("_iy1") - F.col("_iy0") + 1),
            ).otherwise(F.lit(0)).cast("int"),
        )
        # sequence(a, b) DESCENDS when b < a — for a degenerate bbox
        # (either range inverted) emit an empty covering, which explode()
        # then drops; rows that survive the first explode have both ranges
        # valid, so the second sequence is safe unguarded
        .withColumn(
            "_ix",
            F.explode(
                F.when(
                    (F.col("_ix1") >= F.col("_ix0"))
                    & (F.col("_iy1") >= F.col("_iy0")),
                    F.sequence(F.col("_ix0"), F.col("_ix1")),
                ).otherwise(F.array())
            ),
        )
        .withColumn("_iy", F.explode(F.sequence(F.col("_iy0"), F.col("_iy1"))))
    )
    out = d.withColumn(
        "cell_id", grid.encode_cell_col(F.col("_ix"), F.col("_iy"), res)
    )
    return out.drop("_ix0", "_ix1", "_iy0", "_iy1", "_ix", "_iy")


def pixels_long(tiles: DataFrame, species: list[int] | None = None) -> DataFrame:
    """Explode tiles to per-pixel rows ``(s, gx, gy, x, y, v)``.

    gx/gy are *global* pixel coords; x/y the pixel-center CRS coords (computed
    JVM-side). This long form exists for oracle-checkable small-scale queries
    and pixel-level joins; large-scale kernels keep pixels in numpy instead
    (see operators/metrics.py).
    """
    meta = with_tile_meta(tiles)
    if species is not None:
        meta = meta.filter(F.col("s").isin(species))
    meta = meta.select("bytes", "w", "h", "fmt", "s", "tx", "ty")

    def explode_px(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = []
            for row in pdf.itertuples(index=False):
                arr = codecs.decode(row.bytes, row.w, row.h, row.fmt)
                gy, gx = np.meshgrid(
                    row.ty * row.h + np.arange(row.h, dtype=np.int64),
                    row.tx * row.w + np.arange(row.w, dtype=np.int64),
                    indexing="ij",
                )
                frames.append(
                    pd.DataFrame(
                        {
                            "s": np.full(arr.size, row.s, dtype=np.int32),
                            "gx": gx.ravel(),
                            "gy": gy.ravel(),
                            "v": arr.ravel().astype(np.float64),
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    longdf = meta.mapInPandas(explode_px, "s int, gx long, gy long, v double")
    return longdf.withColumn(
        "x", F.lit(X0) + F.col("gx") * F.lit(PIX) + F.lit(PIX / 2)
    ).withColumn("y", F.lit(Y0) - F.col("gy") * F.lit(PIX) - F.lit(PIX / 2))


def value_hist(tiles: DataFrame, species: list[int] | None = None) -> DataFrame:
    """Per-species exact value histogram ``(s, v, cnt)`` for integer-valued
    pixels (u8z contract): per-tile ``np.bincount`` partials inside the map
    stage, one tiny groupBy merge. The scale-safe substrate for exact global
    percentiles (functions/histpct.py) — a billion-pixel species layer
    shuffles at most |value domain| rows, vs an exact ``percentile``
    aggregate buffering the whole population on one reducer."""
    meta = with_tile_meta(tiles)
    if species is not None:
        meta = meta.filter(F.col("s").isin(species))
    meta = meta.select("bytes", "w", "h", "fmt", "s")

    def hist(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ss, vv, cc = [], [], []
            for row in pdf.itertuples(index=False):
                arr = codecs.decode(row.bytes, row.w, row.h, row.fmt)
                counts = np.bincount(arr.ravel().astype(np.int64))
                nz = np.flatnonzero(counts)
                ss.append(np.full(nz.size, row.s, dtype=np.int32))
                vv.append(nz.astype(np.int32))
                cc.append(counts[nz])
            if ss:
                yield pd.DataFrame(
                    {
                        "s": np.concatenate(ss),
                        "v": np.concatenate(vv),
                        "cnt": np.concatenate(cc),
                    }
                )

    part = meta.mapInPandas(hist, "s int, v int, cnt long")
    return part.groupBy("s", "v").agg(F.sum("cnt").alias("cnt"))


def point_lookup(
    points: DataFrame,
    tiles: DataFrame,
    species: int = 0,
    tile_dims: tuple[int, int] | None = None,
) -> DataFrame:
    """Biomass value at each point — the identify/point-lookup source
    (fia_client.py:608-662 recast): point -> pixel coords via the affine
    (JVM exprs) -> equi-join on tile coords (only the needed tiles decode)
    -> vectorized per-tile pixel gather.

    Pass ``tile_dims=(w, h)`` when known (e.g. from the table spec) to avoid
    a driver round-trip probing the first row."""
    meta = with_tile_meta(tiles).filter(F.col("s") == species)
    if tile_dims is None:
        dims = meta.select("w", "h").first()
        tile_dims = (int(dims.w), int(dims.h))
    tw, th = tile_dims
    pts = (
        points.select(
            "point_id",
            F.floor((F.col("x") - F.lit(X0)) / F.lit(PIX)).cast("long").alias("gx"),
            F.floor((F.lit(Y0) - F.col("y")) / F.lit(PIX)).cast("long").alias("gy"),
        )
        .withColumn("tx", (F.col("gx") / tw).cast("int"))
        .withColumn("ty", (F.col("gy") / th).cast("int"))
    )
    joined = meta.select("bytes", "w", "h", "fmt", "tx", "ty").join(
        F.broadcast(pts), ["tx", "ty"]
    )

    def gather(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for (tx, ty), g in pdf.groupby(["tx", "ty"], sort=False):
                row = g.iloc[0]
                arr = codecs.decode(row["bytes"], int(row["w"]), int(row["h"]), row["fmt"])
                py = (g["gy"] - ty * int(row["h"])).to_numpy()
                px = (g["gx"] - tx * int(row["w"])).to_numpy()
                vals = arr[py, px].astype(np.float64)
                out.append(pd.DataFrame({"point_id": g["point_id"].to_numpy(), "v": vals}))
            if out:
                yield pd.concat(out, ignore_index=True)

    return joined.mapInPandas(gather, "point_id long, v double")


def decode_stats(tiles: DataFrame, threshold: float = 0.0) -> DataFrame:
    """Per-tile decode validation + basic stats (min/max/mean/nonzero) — the
    analogue of the remote computeStatistics source (fia_client.py:580-606).
    ``nonzero`` counts pixels strictly above ``threshold`` (default 0), the
    biomass-threshold census of species.py:218-226."""
    meta = with_tile_meta(tiles).select("image_id", "bytes", "w", "h", "fmt", "s")

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                arr = codecs.decode(row.bytes, row.w, row.h, row.fmt)
                out.append(
                    (
                        row.image_id,
                        # non-species tiles (metric sinks: m_* ids) have no
                        # species code -> s = -1 sentinel
                        int(row.s) if pd.notna(row.s) else -1,
                        float(arr.min()),
                        float(arr.max()),
                        # float64 accumulator: a float32 sum drifts once
                        # a tile's total passes 2^24 (512x512 of 0..255)
                        float(arr.sum(dtype=np.float64)),
                        int((arr > threshold).sum()),
                        arr.size,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=["image_id", "s", "vmin", "vmax", "vsum", "nonzero", "npx"],
            )

    return meta.mapInPandas(
        stats,
        "image_id string, s int, vmin double, vmax double, vsum double, "
        "nonzero long, npx long",
    )
