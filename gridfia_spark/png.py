"""Pure numpy+zlib PNG codec (no PIL in the sandbox).

Legitimate, spec-complete support for the formats a tile pipeline meets:
8-bit grayscale / RGB / RGBA, non-interlaced, all five scanline filters on
decode (None/Sub/Up/Average/Paeth, PNG spec §6), filter-0 + zlib on encode.
``codecs.decode(..., "png")`` is backed by this module, so a tile row with
``fmt='png'`` runs through every operator (decode_stats, zonal, the metric
cube, ``render.resize``) on genuine PNG bytes.

Reference behavior analogue: GeoTIFF single-band ingest/export
(zarr_utils.py:684-694, forest_metrics.py:547-567) — an interchange raster
container decoded at the task, never on the driver.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"
# colortype -> samples per pixel
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray) -> bytes:
    """uint8 array (h, w) grayscale or (h, w, 3|4) RGB(A) -> PNG bytes.
    Filter 0 on every scanline; zlib level 6."""
    a = np.asarray(arr)
    if a.dtype != np.uint8:
        if not np.array_equal(a, a.astype(np.uint8)):
            raise ValueError("encode_png requires integer values in [0, 255]")
        a = a.astype(np.uint8)
    if a.ndim == 2:
        colortype, h, w = 0, a.shape[0], a.shape[1]
        raster = a
    elif a.ndim == 3 and a.shape[2] in (3, 4):
        colortype = 2 if a.shape[2] == 3 else 6
        h, w = a.shape[0], a.shape[1]
        raster = a.reshape(h, -1)
    else:
        raise ValueError(f"unsupported array shape {a.shape}")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, colortype, 0, 0, 0)
    scan = np.empty((h, raster.shape[1] + 1), dtype=np.uint8)
    scan[:, 0] = 0  # filter type None
    scan[:, 1:] = raster
    idat = zlib.compress(scan.tobytes(), 6)
    return _SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> uint8 array (h, w) for grayscale, (h, w, c) otherwise.
    8-bit depth, colortypes 0/2/4/6, non-interlaced."""
    if data[:8] != _SIG:
        raise ValueError("not a PNG (bad signature)")
    pos, ihdr, idat = 8, None, []
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", payload)
        elif tag == b"IDAT":
            idat.append(payload)
        elif tag == b"IEND":
            break
    if ihdr is None:
        raise ValueError("missing IHDR")
    w, h, depth, colortype, _comp, _filt, interlace = ihdr
    if depth != 8:
        raise ValueError(f"unsupported bit depth {depth} (8 only)")
    if colortype not in _CHANNELS:
        raise ValueError(f"unsupported colortype {colortype}")
    if interlace != 0:
        raise ValueError("interlaced PNG not supported")
    ch = _CHANNELS[colortype]
    stride = w * ch
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG payload size mismatch")
    lines = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ftype = int(lines[y, 0])
        cur = lines[y, 1:].copy()
        if ftype == 0:  # None
            pass
        elif ftype == 1:  # Sub — sequential in x, vectorized over channels
            for x in range(ch, stride):
                cur[x] = (int(cur[x]) + int(cur[x - ch])) & 0xFF
        elif ftype == 2:  # Up
            cur = (cur.astype(np.int16) + prev).astype(np.uint8)
        elif ftype == 3:  # Average
            for x in range(stride):
                left = int(cur[x - ch]) if x >= ch else 0
                cur[x] = (int(cur[x]) + ((left + int(prev[x])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                a = int(cur[x - ch]) if x >= ch else 0
                c = int(prev[x - ch]) if x >= ch else 0
                b = int(prev[x])
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (int(cur[x]) + pred) & 0xFF
        else:
            raise ValueError(f"bad filter type {ftype}")
        out[y] = cur
        prev = cur
    if ch == 1:
        return out
    return out.reshape(h, w, ch)
