"""Distributed nearest-neighbor regrid (warp) of a tile table.

The reference resamples rasters onto display grids with nearest-neighbor
interpolation (``visualization/mapper.py:245`` ``interpolation='nearest'``)
and reprojects bounds through rasterio (``visualization/boundaries.py:207``).
This operator is the engine form of that capability as a *data* product: an
axis-separable rational affine regrid — target pixel ``(tgx, tgy)`` takes the
value of source pixel

    sgx = (tgx * num_x + off_x) // den_x
    sgy = (tgy * num_y + off_y) // den_y

(pure int64 floor math, so the DuckDB oracle replicates it bit-exactly).
Rational ``num/den`` covers up- and down-scaling by any factor plus integer
translation — the nearest-neighbor special case of a GDAL-style warp for
axis-aligned grids (no rotation/shear; the engine's grids, the reference's
grids, and virtually all published biomass rasters are north-up).

Plan shape (pinned in tests/test_warp.py):

  Scan tile table
    -> mapInPandas phase 1: per source tile, compute which TARGET pixels
       draw from it (closed-form scalar bounds — no broadcast side data),
       extract exactly those pixels with one fancy-index, pack per
       (s, target tile) as (target-local row idx, col idx, f32 block)
    -> ONE Exchange hashpartitioning(s, tty, ttx)   <- carries exactly
       the OUTPUT pixels (downscales shed skipped pixels map-side;
       upscales send each source pixel once per covered target row/col)
    -> applyInPandas phase 2: place the blocks, verify every target pixel
       was covered exactly once (a missing source tile raises — never
       silent zeros), re-encode -> full TILE_SCHEMA row

The output is itself a tile table at the target grid — decode_stats,
metric kernels, zonal joins, store sinks all compose over it unchanged.
At 100 TB this is a single all-to-all whose network volume is the OUTPUT
raster, the floor for any resample that actually changes the grid.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .. import codecs
from ..constants import SPECIES, GridSpec
from ..datagen.tiles import TILE_SCHEMA
from .decode import with_tile_meta

_W_SCHEMA = (
    "s int, tty int, ttx int, ny int, nx int, "
    "tys binary, txs binary, pbytes binary"
)


def _ceil_div(a: int, b: int) -> int:
    return -(-a // b)


def _axis_check(name: str, num: int, den: int, off: int, src_px: int) -> int:
    """Validate one axis mapping and return the target pixel count: the
    number of t >= 0 with (t*num + off) // den < src_px."""
    if num <= 0 or den <= 0 or off < 0:
        raise ValueError(
            f"warp {name}-map (num={num}, den={den}, off={off}): "
            "num and den must be positive, off non-negative"
        )
    n = _ceil_div(src_px * den - off, num)
    if n <= 0:
        raise ValueError(
            f"warp {name}-map offset {off}/{den} lands past the "
            f"{src_px}-px source extent"
        )
    return n


def warp_extent(
    spec: GridSpec,
    map_x: tuple[int, int, int],
    map_y: tuple[int, int, int],
) -> tuple[int, int]:
    """(target_width_px, target_height_px) of ``warp_tiles``' output grid —
    the largest target extent whose every pixel maps inside the source."""
    nx, dx, ox = (int(v) for v in map_x)
    ny, dy, oy = (int(v) for v in map_y)
    return (
        _axis_check("x", nx, dx, ox, spec.gw),
        _axis_check("y", ny, dy, oy, spec.gh),
    )


def warp_tiles(
    tiles: DataFrame,
    spec: GridSpec,
    map_x: tuple[int, int, int],
    map_y: tuple[int, int, int],
    fmt: str = "rawz",
) -> DataFrame:
    """Nearest-neighbor regrid of ``tiles`` (gridded by ``spec``) onto the
    target grid defined by ``map_x = (num, den, off)`` / ``map_y``; output
    keeps ``spec``'s tile pixel dims (ragged at the target edges)."""
    nx_, dx_, ox_ = (int(v) for v in map_x)
    ny_, dy_, oy_ = (int(v) for v in map_y)
    t_w, t_h = warp_extent(spec, map_x, map_y)
    tw, th = spec.tile_w, spec.tile_h
    codes = [c for c, _ in SPECIES]
    names = [n for _, n in SPECIES]
    meta = with_tile_meta(tiles).select(
        "bytes", "w", "h", "fmt", "s", "tx", "ty"
    )

    def targets_in(lo_src: int, hi_src: int, num: int, den: int,
                   off: int, t_px: int) -> np.ndarray:
        """Target indices whose source pixel falls in [lo_src, hi_src) —
        closed-form on the monotone map, no per-pixel search."""
        lo = max(0, _ceil_div(lo_src * den - off, num))
        hi = min(t_px, _ceil_div(hi_src * den - off, num))
        return np.arange(lo, hi, dtype=np.int64)

    def phase1(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for row in pdf.itertuples(index=False):
                x0, y0 = int(row.tx) * tw, int(row.ty) * th
                tgxs = targets_in(x0, x0 + int(row.w), nx_, dx_, ox_, t_w)
                tgys = targets_in(y0, y0 + int(row.h), ny_, dy_, oy_, t_h)
                if not len(tgxs) or not len(tgys):
                    continue  # downscale can skip a source tile entirely
                a = codecs.decode(row.bytes, row.w, row.h, row.fmt)
                sxs = (tgxs * nx_ + ox_) // dx_ - x0
                sys_ = (tgys * ny_ + oy_) // dy_ - y0
                for ttx in np.unique(tgxs // tw):
                    mx = (tgxs // tw) == ttx
                    for tty in np.unique(tgys // th):
                        my = (tgys // th) == tty
                        blk = a[np.ix_(sys_[my], sxs[mx])]
                        out.append(
                            (
                                int(row.s),
                                int(tty),
                                int(ttx),
                                int(my.sum()),
                                int(mx.sum()),
                                (tgys[my] - tty * th).astype("<i4").tobytes(),
                                (tgxs[mx] - ttx * tw).astype("<i4").tobytes(),
                                np.ascontiguousarray(
                                    blk, dtype="<f4"
                                ).tobytes(),
                            )
                        )
            yield pd.DataFrame(
                out,
                columns=[
                    "s", "tty", "ttx", "ny", "nx", "tys", "txs", "pbytes",
                ],
            )

    def phase2(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        s, tty, ttx = (int(k) for k in key)
        ow = min(tw, t_w - ttx * tw)
        oh = min(th, t_h - tty * th)
        out = np.zeros((oh, ow), dtype=np.float32)
        cov = np.zeros((oh, ow), dtype=bool)
        for r in pdf.itertuples(index=False):
            ys = np.frombuffer(r.tys, dtype="<i4")
            xs = np.frombuffer(r.txs, dtype="<i4")
            sel = np.ix_(ys, xs)
            if cov[sel].any():
                raise ValueError(
                    f"warp tile (s={s}, ty={tty}, tx={ttx}): overlapping "
                    "source contributions — duplicate input tiles?"
                )
            out[sel] = np.frombuffer(r.pbytes, dtype="<f4").reshape(
                int(r.ny), int(r.nx)
            )
            cov[sel] = True
        if not cov.all():
            raise ValueError(
                f"warp tile (s={s}, ty={tty}, tx={ttx}): "
                f"{int((~cov).sum())} target pixels have no source "
                "contribution — missing input tiles; refusing to "
                "fabricate pixels"
            )
        from ..datagen import pixels as pxgen

        code, name = codes[s], names[s]
        image_id = f"sp{code}_tx{ttx:03d}_ty{tty:03d}"
        caption = (
            f"species={code};name={name};tile=({ttx},{tty});"
            f"warp=x{nx_}/{dx_}+{ox_},y{ny_}/{dy_}+{oy_};units=Mg/ha"
        )
        return pd.DataFrame(
            [
                (
                    image_id,
                    codecs.encode(out, fmt),
                    ow,
                    oh,
                    fmt,
                    caption,
                    pxgen.phash64(out),
                )
            ],
            columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"],
        )

    packed = meta.mapInPandas(phase1, _W_SCHEMA)
    return packed.groupBy("s", "tty", "ttx").applyInPandas(
        phase2, TILE_SCHEMA
    )


_B_SCHEMA = (
    "s int, tty int, ttx int, ny int, nx int, "
    "tys binary, txs binary, wy binary, wx binary, pbytes binary"
)

# weighted sums must survive the float32 re-encode losslessly
_F32_EXACT_MAX = float(1 << 24)


def warp_tiles_bilinear(
    tiles: DataFrame,
    spec: GridSpec,
    map_x: tuple[int, int, int],
    map_y: tuple[int, int, int],
    fmt: str = "rawz",
) -> DataFrame:
    """EXACT bilinear regrid: target pixel (tgx, tgy) samples the
    continuous source position ``((tgx*num + off) / den)`` per axis —
    a rational with denominator ``den`` — so the four tap weights are
    integers and the interpolated value is

        value = num / (den_x * den_y),
        num   = (dx-rx)(dy-ry)*v00 + rx(dy-ry)*v10
              + (dx-rx)ry*v01 + rx*ry*v11      (all int64, exact)

    The output tile table carries the NUMERATOR raster (lossless in
    float32 while ``num < 2^24``; the denominator is the constant
    ``den_x * den_y``), which keeps the whole operator — weights,
    taps, seams — bit-checkable by an integer oracle; divide by the
    constant for the conventional float raster. Taps clamp to the grid
    edge (GDAL edge convention).

    Plan: same gather as ``warp_tiles``, except each target pixel owns
    up to FOUR taps that may live in different source tiles — phase 1
    ships per-(source tile, target tile) PARTIAL weighted blocks (the
    tap values it holds, with their integer weight vectors), and phase 2
    accumulates ``num += block * wy ⊗ wx`` and verifies the weight mass
    of every pixel equals ``dx*dy`` (a missing source tile raises, never
    a silently darkened seam). The one shuffle carries at most 4x the
    output pixels — still O(output), never O(input x fanout)."""
    nx_, dx_, ox_ = (int(v) for v in map_x)
    ny_, dy_, oy_ = (int(v) for v in map_y)
    t_w, t_h = warp_extent(spec, map_x, map_y)
    tw, th = spec.tile_w, spec.tile_h
    gw, gh = spec.gw, spec.gh
    codes = [c for c, _ in SPECIES]
    names = [n for _, n in SPECIES]
    D = dx_ * dy_
    meta = with_tile_meta(tiles).select(
        "bytes", "w", "h", "fmt", "s", "tx", "ty"
    )

    def taps_in(a: int, b: int, num: int, den: int, off: int,
                t_px: int, g_px: int):
        """Per axis, the two tap sets landing in source range [a, b):
        (targets, local source col, weight) for the floor tap x0 and the
        ceil tap x1 = min(x0+1, g_px-1)."""
        lo0 = max(0, _ceil_div(a * den - off, num))
        hi0 = min(t_px, _ceil_div(b * den - off, num))
        t0 = np.arange(lo0, hi0, dtype=np.int64)
        p0 = t0 * num + off
        x0 = p0 // den
        w0 = den - (p0 % den)  # weight of the floor tap: den - r
        lo1 = max(0, _ceil_div((a - 1) * den - off, num))
        hi1 = t_px if b >= g_px else min(
            t_px, _ceil_div((b - 1) * den - off, num)
        )
        t1 = np.arange(lo1, hi1, dtype=np.int64)
        p1 = t1 * num + off
        x1 = np.minimum(p1 // den + 1, g_px - 1)
        keep = (x1 >= a) & (x1 < b)
        t1, x1, r1 = t1[keep], x1[keep], (p1 % den)[keep]
        return (t0, x0 - a, w0), (t1, x1 - a, r1)

    def phase1(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for row in pdf.itertuples(index=False):
                x0g, y0g = int(row.tx) * tw, int(row.ty) * th
                xs_sets = taps_in(
                    x0g, x0g + int(row.w), nx_, dx_, ox_, t_w, gw
                )
                ys_sets = taps_in(
                    y0g, y0g + int(row.h), ny_, dy_, oy_, t_h, gh
                )
                a = None
                for tys, sys_, wy in ys_sets:
                    for txs, sxs, wx in xs_sets:
                        if not len(tys) or not len(txs):
                            continue
                        # zero-weight taps contribute nothing — drop them
                        my = wy != 0
                        mx = wx != 0
                        if not my.any() or not mx.any():
                            continue
                        if a is None:
                            a = codecs.decode(row.bytes, row.w, row.h, row.fmt)
                        tys_k, sys_k, wy_k = tys[my], sys_[my], wy[my]
                        txs_k, sxs_k, wx_k = txs[mx], sxs[mx], wx[mx]
                        for tty in np.unique(tys_k // th):
                            gy = (tys_k // th) == tty
                            for ttx in np.unique(txs_k // tw):
                                gx = (txs_k // tw) == ttx
                                blk = a[np.ix_(sys_k[gy], sxs_k[gx])]
                                out.append((
                                    int(row.s), int(tty), int(ttx),
                                    int(gy.sum()), int(gx.sum()),
                                    (tys_k[gy] - tty * th).astype("<i4").tobytes(),
                                    (txs_k[gx] - ttx * tw).astype("<i4").tobytes(),
                                    wy_k[gy].astype("<i4").tobytes(),
                                    wx_k[gx].astype("<i4").tobytes(),
                                    np.ascontiguousarray(
                                        blk, dtype="<f4"
                                    ).tobytes(),
                                ))
            yield pd.DataFrame(
                out,
                columns=["s", "tty", "ttx", "ny", "nx",
                         "tys", "txs", "wy", "wx", "pbytes"],
            )

    def phase2(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        s, tty, ttx = (int(k) for k in key)
        ow = min(tw, t_w - ttx * tw)
        oh = min(th, t_h - tty * th)
        num = np.zeros((oh, ow), dtype=np.int64)
        wmass = np.zeros((oh, ow), dtype=np.int64)
        for r in pdf.itertuples(index=False):
            ys = np.frombuffer(r.tys, dtype="<i4")
            xs = np.frombuffer(r.txs, dtype="<i4")
            wy = np.frombuffer(r.wy, dtype="<i4").astype(np.int64)
            wx = np.frombuffer(r.wx, dtype="<i4").astype(np.int64)
            blk = np.frombuffer(r.pbytes, dtype="<f4").reshape(
                int(r.ny), int(r.nx)
            ).astype(np.int64)
            sel = np.ix_(ys, xs)
            num[sel] += blk * wy[:, None] * wx[None, :]
            wmass[sel] += wy[:, None] * wx[None, :]
        if not (wmass == D).all():
            bad = int((wmass != D).sum())
            raise ValueError(
                f"bilinear warp tile (s={s}, ty={tty}, tx={ttx}): {bad} "
                f"pixels have weight mass != {D} — missing source tiles; "
                "refusing to emit a darkened seam"
            )
        if num.max(initial=0) >= _F32_EXACT_MAX:
            raise ValueError(
                "bilinear numerators exceed float32 exact-integer range; "
                "use smaller den factors or a wider tile format"
            )
        from ..datagen import pixels as pxgen

        arr = num.astype(np.float32)
        code, name = codes[s], names[s]
        image_id = f"sp{code}_tx{ttx:03d}_ty{tty:03d}"
        caption = (
            f"species={code};name={name};tile=({ttx},{tty});"
            f"warp=bilinear,x{nx_}/{dx_}+{ox_},y{ny_}/{dy_}+{oy_};"
            f"den={D};units=Mg/ha*{D}"
        )
        return pd.DataFrame(
            [(image_id, codecs.encode(arr, fmt), ow, oh, fmt,
              caption, pxgen.phash64(arr))],
            columns=["image_id", "bytes", "w", "h", "fmt", "caption",
                     "phash"],
        )

    packed = meta.mapInPandas(phase1, _B_SCHEMA)
    return packed.groupBy("s", "tty", "ttx").applyInPandas(
        phase2, TILE_SCHEMA
    )


def warp_affine(
    src_affine: list[float],
    map_x: tuple[int, int, int],
    map_y: tuple[int, int, int],
) -> list[float]:
    """Affine (rasterio order a,b,c,d,e,f) of the warped grid, composed
    from the SOURCE grid's affine: target pixel step is the source step
    times num/den, and the origin shifts by off/den source pixels —
    so chained warps compose correctly instead of claiming the source
    grid's georeferencing."""
    nx, dx, ox = (int(v) for v in map_x)
    ny, dy, oy = (int(v) for v in map_y)
    a, b, c, d, e, f = (float(v) for v in src_affine)
    if b or d:
        raise ValueError("warp_affine requires an axis-aligned affine")
    return [a * nx / dx, 0.0, c + a * ox / dx,
            0.0, e * ny / dy, f + e * oy / dy]


def warp_store(
    spark,
    src_store: str,
    dst_store: str,
    map_x: tuple[int, int, int],
    map_y: tuple[int, int, int],
    spec: GridSpec | None = None,
    bilinear: bool = False,
    **store_kw,
) -> int:
    """Warp a persisted cube end to end: scan ``src_store`` -> regrid ->
    write ``dst_store`` whose ROOT georeferencing is the COMPOSED affine
    (pixel size scaled by num/den, origin shifted by off/den), not a
    copy of the source's — the metadata mistake this helper exists to
    prevent. ``spec`` defaults to the source store's grid. Returns the
    chunk count of the destination store."""
    from ..sources import zarrstore as _zs

    m = _zs.zarr_meta(src_store)
    if spec is None:
        n_layers, gh, gw = (int(x) for x in m.shape)
        _, th, tw = (int(c) for c in m.chunks)
        if gh % th or gw % tw:
            raise ValueError(
                "warp_store needs a chunk-aligned source grid"
            )
        spec = GridSpec(gw // tw, gh // th, tw, th)
    src_t = _zs._affine_order(m.attrs.get("transform")) or [
        30.0, 0.0, 0.0, 0.0, -30.0, 0.0
    ]
    tiles = _zs.read_zarr_store(spark, src_store)
    f = warp_tiles_bilinear if bilinear else warp_tiles
    out = f(tiles, spec, map_x, map_y)
    return _zs.write_zarr_store(
        out, dst_store, transform=warp_affine(src_t, map_x, map_y),
        **store_kw,
    )
