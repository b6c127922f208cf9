"""Tile raster codecs (numpy + stdlib only; no PIL/rasterio in the sandbox).

Each tile row carries ``bytes`` encoded per its ``fmt`` column:

- ``raw32`` — float32 little-endian, row-major. Lossless.
- ``rawz``  — a zlib stream over raw32, at any level: ``decode`` is a plain
  ``zlib.decompress``, so a zlib Zarr chunk is a ``rawz`` tile as stored.
  ``encode`` writes level 5. Lossless; the default table format, standing
  in for Blosc LZ4 chunk compression (the reference's zarr_utils.py:934-938).
- ``qnt8``  — lossy 8-bit quantization over [0, vmax]; 4-byte float32 vmax
  header then uint8 payload. Quantization PSNR is ~59 dB for our value
  ranges, comfortably above the 40 dB per-row gate (BASELINE.json).
- ``png``, ``jpeg``, ``tiff`` — genuine image containers, decode only
  (pure-python codecs: png.py, jpeg.py, tiff.py; the caller encodes with
  ``encode_png`` / ``encode_jpeg`` / ``encode_geotiff``). PNG and GeoTIFF
  are lossless for 8-bit data; baseline JPEG is the lossy format behind the
  PSNR>=40 dB row contract. RGB(A) collapses to ITU-R 601 luma. Their
  modules import on first use, so a worker decoding only the raw formats
  never loads them.

``decode`` is the one function that turns ``(bytes, fmt)`` into pixels:
every operator (zonal, the metric cube, decode_stats, sinks, ingest) reads
any of these formats. Decoding happens only inside vectorized pandas/Arrow
UDFs — never per-row Python in the hot path.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

LOSSLESS_FMTS = ("raw32", "rawz", "u8z")


def encode(pixels: np.ndarray, fmt: str) -> bytes:
    """Encode a (h, w) float32 array to bytes for column ``bytes``."""
    arr = np.ascontiguousarray(pixels, dtype="<f4")
    if fmt == "raw32":
        return arr.tobytes()
    if fmt == "rawz":
        return zlib.compress(arr.tobytes(), 5)
    if fmt == "u8z":
        # LOSSLESS for integer-valued data in [0, 255] (our biomass units) —
        # the float32 analogue of Parquet's narrow-int encodings; 4x less
        # decoded/IPC traffic than raw32. Refuses data it can't represent.
        q = arr.astype(np.uint8)
        if not np.array_equal(q.astype("<f4"), arr):
            raise ValueError("u8z requires integer values in [0, 255]")
        return zlib.compress(q.tobytes(), 5)
    if fmt == "qnt8":
        vmax = float(arr.max()) if arr.size else 0.0
        if vmax <= 0:
            q = np.zeros(arr.shape, dtype=np.uint8)
            vmax = 0.0
        else:
            q = np.clip(np.rint(arr / vmax * 255.0), 0, 255).astype(np.uint8)
        return struct.pack("<f", vmax) + q.tobytes()
    raise ValueError(f"unknown fmt {fmt!r}")


def decode(data: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    """Decode ``bytes`` back to a (h, w) float32 array.

    Validates dimensions like the reference's ingest checks
    (zarr_utils.py:988-996): wrong payload size raises.
    """
    if fmt == "raw32":
        arr = np.frombuffer(data, dtype="<f4")
    elif fmt == "rawz":
        arr = np.frombuffer(zlib.decompress(data), dtype="<f4")
    elif fmt == "u8z":
        arr = np.frombuffer(zlib.decompress(data), dtype=np.uint8).astype(np.float32)
    elif fmt == "qnt8":
        (vmax,) = struct.unpack_from("<f", data, 0)
        q = np.frombuffer(data, dtype=np.uint8, offset=4)
        arr = q.astype(np.float32) * (vmax / 255.0 if vmax > 0 else 0.0)
    else:
        return _decode_image(data, w, h, fmt)
    if arr.size != w * h:
        raise ValueError(f"payload has {arr.size} px, expected {w}x{h}")
    return arr.reshape(h, w).astype(np.float32, copy=False)


def _decode_image(data: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    """Decode a png/jpeg/tiff container. The check is on the (h, w) shape,
    not the pixel count, so transposed metadata fails too."""
    if fmt == "png":
        from . import png

        arr = png.decode_png(data)
    elif fmt == "jpeg":
        from . import jpeg

        arr = jpeg.decode_jpeg(data)
    elif fmt == "tiff":
        from . import tiff

        arr, _meta = tiff.decode_geotiff(data)
    else:
        raise ValueError(f"unknown fmt {fmt!r}")
    if arr.shape[:2] != (h, w):
        raise ValueError(f"{fmt} dims {arr.shape[:2]} != metadata ({h}, {w})")
    if arr.ndim == 3:
        rgb = arr[..., :3].astype(np.float32)
        return rgb[..., 0] * 0.299 + rgb[..., 1] * 0.587 + rgb[..., 2] * 0.114
    return arr.astype(np.float32)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB of ``b`` against the reference
    ``a``. The peak follows ``a``'s dtype: 255 for ``uint8`` (an 8-bit
    image), else the max of ``|a|`` (a float tile)."""
    a64 = a.astype(np.float64)
    b64 = b.astype(np.float64)
    mse = float(np.mean((a64 - b64) ** 2))
    if mse == 0.0:
        return float("inf")
    peak = 255.0 if a.dtype == np.uint8 else float(np.max(np.abs(a64)))
    if peak == 0.0:
        return float("inf")
    return 10.0 * np.log10(peak * peak / mse)
