"""Pure-python GeoTIFF codec (baseline TIFF 6.0 + GeoTIFF 1.1 keys).

The reference's raster interchange format is GeoTIFF (forest_metrics.py:
547-601 exports one per metric; fia_client.py ingests them). The sandbox
ships no rasterio/PIL, so — same precedent as png/jpeg/netcdf3 —
the container is written from the public specs:

- TIFF 6.0: little- or big-endian header, single IFD of
  tag/type/count/value entries, strip-based storage;
- compression 1 (none) or 8 (Adobe deflate = zlib);
- sample formats: uint8 and float32 grayscale, one sample per pixel;
- GeoTIFF keys: ModelPixelScaleTag (33550), ModelTiepointTag (33922),
  GeoKeyDirectoryTag (34735) with GTModelType=Projected,
  GTRasterType=PixelIsArea and a PCSCitation pointing into
  GeoAsciiParamsTag (34737) — the affine georeferencing the reference
  round-trips through rasterio.

``decode_geotiff`` is the exact inverse for the written subset (and reads
either byte order, multi-strip layouts, and uncompressed files); it backs
``codecs.decode(..., "tiff")``, which ingest uses for ``.tif`` files.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# TIFF tag ids
T_WIDTH, T_HEIGHT = 256, 257
T_BITS, T_COMPRESSION, T_PHOTOMETRIC = 258, 259, 262
T_STRIP_OFFSETS, T_SAMPLES_PER_PX, T_ROWS_PER_STRIP = 273, 277, 278
T_STRIP_COUNTS, T_SAMPLE_FORMAT = 279, 339
T_PIXEL_SCALE, T_TIEPOINT, T_GEO_KEYS, T_GEO_ASCII = 33550, 33922, 34735, 34737

# field types
TY_ASCII, TY_SHORT, TY_LONG, TY_DOUBLE = 2, 3, 4, 12
_TYPE_SIZE = {TY_ASCII: 1, TY_SHORT: 2, TY_LONG: 4, TY_DOUBLE: 8}

# GeoTIFF keys
GK_MODEL_TYPE, GK_RASTER_TYPE = 1024, 1025
GK_PCS_CITATION = 3073
MODEL_PROJECTED, RASTER_PIXEL_IS_AREA = 1, 1


def encode_geotiff(
    arr: np.ndarray,
    origin_x: float,
    origin_y: float,
    pixel: float,
    crs: str,
    compress: bool = True,
) -> bytes:
    """Grayscale (h, w) uint8/float32 -> little-endian GeoTIFF bytes.

    ``origin_x/origin_y`` are the MODEL coordinates of the raster's
    top-left CORNER (PixelIsArea), ``pixel`` the square pixel size; the
    affine is (origin_x, pixel, 0, origin_y, 0, -pixel)."""
    import io

    arr = np.asarray(arr)
    if arr.ndim != 2:
        raise ValueError("encode_geotiff expects a 2-D grayscale array")
    h, w = arr.shape
    buf = io.BytesIO()
    encode_geotiff_stream(
        buf, iter([arr]), w, h, arr.dtype, origin_x, origin_y, pixel, crs, compress
    )
    return buf.getvalue()


def encode_geotiff_stream(
    fh,
    chunks,
    w: int,
    h: int,
    dtype,
    origin_x: float,
    origin_y: float,
    pixel: float,
    crs: str,
    compress: bool = True,
    rows_per_strip: int | None = None,
) -> int:
    """Streamed GeoTIFF writer. With the default ``rows_per_strip=None``
    the output is a single strip, byte-identical to ``encode_geotiff``
    (which is now a BytesIO wrapper over this): chunked deflate via one
    ``zlib.compressobj`` produces the exact bytes of ``zlib.compress`` on
    the concatenated rows, and peak memory is one incoming chunk. With
    ``rows_per_strip`` set the raster is written as INDEPENDENT strips —
    each deflated separately with its offset/byte-count recorded in the
    IFD, so readers can range-read any row band without inflating the
    rest (the Cloud-Optimized-GeoTIFF access pattern, and the layout
    ``ingest.read_geotiff_strips`` scans distributed); peak memory is
    max(chunk, one strip). ``fh`` must be seekable (the header's IFD
    offset is patched after the data streams). Returns bytes written."""
    dtype = np.dtype(dtype)
    if dtype == np.uint8:
        bits, sfmt = 8, 1
    elif dtype == np.float32:
        bits, sfmt = 32, 3
    else:
        raise ValueError(f"unsupported dtype {dtype} (uint8/float32)")
    start = fh.tell()
    fh.write(b"II" + struct.pack("<HI", 42, 0))  # IFD offset patched below
    rowbytes = w * (bits // 8)
    rows = 0
    if rows_per_strip is None:
        comp = zlib.compressobj(6) if compress else None
        data_len = 0
        for chunk in chunks:
            raw, nrows = _chunk_raw(chunk, w, dtype)
            rows += nrows
            data_len += fh.write(comp.compress(raw)) if compress else fh.write(raw)
        if compress:
            data_len += fh.write(comp.flush())
        offsets, counts, rps = [8], [data_len], h
    else:
        rps = int(rows_per_strip)
        if rps <= 0:
            raise ValueError("rows_per_strip must be positive")
        offsets, counts = [], []
        buf = bytearray()

        def flush_strip() -> None:
            raw = bytes(buf[: rps * rowbytes])
            del buf[: rps * rowbytes]
            blob = zlib.compress(raw, 6) if compress else raw
            offsets.append(fh.tell() - start)
            counts.append(len(blob))
            fh.write(blob)

        for chunk in chunks:
            raw, nrows = _chunk_raw(chunk, w, dtype)
            rows += nrows
            buf += raw
            while len(buf) >= rps * rowbytes:
                flush_strip()
        if buf:
            # trailing short strip; the ROWS_PER_STRIP tag keeps the
            # nominal value (TIFF 6.0 semantics)
            raw = bytes(buf)
            blob = zlib.compress(raw, 6) if compress else raw
            offsets.append(fh.tell() - start)
            counts.append(len(blob))
            fh.write(blob)
        data_len = sum(counts)
    if rows != h:
        raise ValueError(f"chunks carried {rows} rows, height is {h}")
    if (fh.tell() - start) % 2:
        fh.write(b"\x00")
    ifd_off = fh.tell() - start
    fh.write(_ifd_bytes(
        w, h, bits, sfmt, counts, compress, origin_x, origin_y, pixel, crs,
        ifd_off, offsets, rps if rows_per_strip is not None else h,
    ))
    end = fh.tell()
    fh.seek(start + 4)
    fh.write(struct.pack("<I", ifd_off))
    fh.seek(end)
    return end - start


def _chunk_raw(chunk, w: int, dtype: np.dtype) -> tuple[bytes, int]:
    chunk = np.asarray(chunk)
    if chunk.ndim != 2 or chunk.shape[1] != w:
        raise ValueError(f"chunk shape {chunk.shape} != (rows, {w})")
    if chunk.dtype != dtype:
        raise ValueError(f"chunk dtype {chunk.dtype} != declared {dtype}")
    raw = np.ascontiguousarray(chunk).tobytes() if dtype == np.uint8 \
        else chunk.astype("<f4").tobytes()
    return raw, chunk.shape[0]


def _ifd_bytes(
    w: int,
    h: int,
    bits: int,
    sfmt: int,
    strip_counts: list[int],
    compress: bool,
    origin_x: float,
    origin_y: float,
    pixel: float,
    crs: str,
    ifd_off: int,
    strip_offsets: list[int] | None = None,
    rows_per_strip: int | None = None,
) -> bytes:
    strip_offsets = strip_offsets or [8]
    n_strips = len(strip_counts)
    if rows_per_strip is None:
        rows_per_strip = h
    if n_strips == 1:
        off_entry = (T_STRIP_OFFSETS, TY_LONG, 1, strip_offsets[0])
        cnt_entry = (T_STRIP_COUNTS, TY_LONG, 1, strip_counts[0])
    else:
        off_entry = (
            T_STRIP_OFFSETS, TY_LONG, n_strips,
            struct.pack(f"<{n_strips}I", *strip_offsets),
        )
        cnt_entry = (
            T_STRIP_COUNTS, TY_LONG, n_strips,
            struct.pack(f"<{n_strips}I", *strip_counts),
        )
    ascii_params = (crs + "|").encode("ascii") + b"\x00"
    geo_keys = [
        (1, 1, 0, 3),  # version 1.1.0, 3 keys
        (GK_MODEL_TYPE, 0, 1, MODEL_PROJECTED),
        (GK_RASTER_TYPE, 0, 1, RASTER_PIXEL_IS_AREA),
        (GK_PCS_CITATION, T_GEO_ASCII, len(crs) + 1, 0),  # offset into ascii
    ]
    gk_flat = [v for row in geo_keys for v in row]

    # IFD entries: (tag, type, count, payload-bytes or inline int)
    entries: list[tuple[int, int, int, bytes | int]] = [
        (T_WIDTH, TY_LONG, 1, w),
        (T_HEIGHT, TY_LONG, 1, h),
        (T_BITS, TY_SHORT, 1, bits),
        (T_COMPRESSION, TY_SHORT, 1, 8 if compress else 1),
        (T_PHOTOMETRIC, TY_SHORT, 1, 1),  # BlackIsZero
        off_entry,
        (T_SAMPLES_PER_PX, TY_SHORT, 1, 1),
        (T_ROWS_PER_STRIP, TY_LONG, 1, rows_per_strip),
        cnt_entry,
        (T_SAMPLE_FORMAT, TY_SHORT, 1, sfmt),
        (T_PIXEL_SCALE, TY_DOUBLE, 3, struct.pack("<3d", pixel, pixel, 0.0)),
        (
            T_TIEPOINT,
            TY_DOUBLE,
            6,
            struct.pack("<6d", 0.0, 0.0, 0.0, origin_x, origin_y, 0.0),
        ),
        (T_GEO_KEYS, TY_SHORT, len(gk_flat), struct.pack(f"<{len(gk_flat)}H", *gk_flat)),
        (T_GEO_ASCII, TY_ASCII, len(ascii_params), ascii_params),
    ]
    # layout: header(8) | strip data | IFD | overflow values
    ifd_size = 2 + 12 * len(entries) + 4
    overflow_off = ifd_off + ifd_size
    overflow = bytearray()
    ifd = bytearray(struct.pack("<H", len(entries)))
    for tag, ty, count, val in sorted(entries, key=lambda e: e[0]):
        if isinstance(val, int):
            if ty == TY_SHORT:
                inline = struct.pack("<HH", val, 0)
            else:
                inline = struct.pack("<I", val)
            ifd += struct.pack("<HHI", tag, ty, count) + inline
        else:
            nbytes = len(val)
            if nbytes <= 4:
                ifd += struct.pack("<HHI", tag, ty, count) + val.ljust(4, b"\x00")
            else:
                ifd += struct.pack(
                    "<HHII", tag, ty, count, overflow_off + len(overflow)
                )
                overflow += val
                if len(overflow) % 2:
                    overflow += b"\x00"
    ifd += struct.pack("<I", 0)  # no next IFD
    return bytes(ifd + overflow)


def _read_entries(buf: bytes, e: str, ifd_off: int) -> dict[int, tuple[int, int, int]]:
    (n,) = struct.unpack_from(f"{e}H", buf, ifd_off)
    out = {}
    for i in range(n):
        tag, ty, count, raw = struct.unpack_from(f"{e}HHII", buf, ifd_off + 2 + 12 * i)
        out[tag] = (ty, count, ifd_off + 2 + 12 * i + 8)
    return out


def _tag_values(buf: bytes, e: str, entry: tuple[int, int, int]):
    ty, count, value_pos = entry
    size = _TYPE_SIZE[ty] * count
    if size > 4:
        (off,) = struct.unpack_from(f"{e}I", buf, value_pos)
        pos = off
    else:
        pos = value_pos
    if ty == TY_ASCII:
        return buf[pos : pos + count].rstrip(b"\x00").decode("ascii")
    fmt = {TY_SHORT: "H", TY_LONG: "I", TY_DOUBLE: "d"}[ty]
    return list(struct.unpack_from(f"{e}{count}{fmt}", buf, pos))


def read_geotiff_layout(path: str) -> dict:
    """Strip layout + georeferencing of a GeoTIFF WITHOUT touching the
    pixel data: seeks straight to the IFD and reads only it (plus any
    out-of-line tag values) — the driver side of the distributed
    single-file scan (``ingest.read_geotiff_strips``), and the access
    shape a Cloud-Optimized-GeoTIFF range reader uses on object stores.

    Returns {w, h, bits, sfmt, compression, rows_per_strip, offsets,
    counts, pixel, origin, crs}."""
    import os

    with open(path, "rb") as fh:
        head = fh.read(8)
        if head[:2] == b"II":
            e = "<"
        elif head[:2] == b"MM":
            e = ">"
        else:
            raise ValueError("not a TIFF (bad byte-order mark)")
        magic, ifd_off = struct.unpack_from(f"{e}HI", head, 2)
        if magic != 42:
            raise ValueError("not a TIFF (bad magic)")
        fh.seek(ifd_off)
        tail = fh.read()  # IFD + trailing value area (this writer's layout)

        def tail_or_seek(pos: int, size: int) -> bytes:
            if pos >= ifd_off:
                chunk = tail[pos - ifd_off : pos - ifd_off + size]
            else:  # value stored before the IFD — one extra range read
                fh.seek(pos)
                chunk = fh.read(size)
            if len(chunk) < size:
                raise ValueError("truncated TIFF tag value")
            return chunk

        (n,) = struct.unpack_from(f"{e}H", tail, 0)
        tags: dict[int, tuple[int, int, int]] = {}
        for i in range(n):
            tag, ty, count = struct.unpack_from(f"{e}HHI", tail, 2 + 12 * i)
            tags[tag] = (ty, count, ifd_off + 2 + 12 * i + 8)

        def val(tag, default=None):
            if tag not in tags:
                if default is not None:
                    return default
                raise ValueError(f"missing required TIFF tag {tag}")
            ty, count, value_pos = tags[tag]
            size = _TYPE_SIZE[ty] * count
            if size > 4:
                (off,) = struct.unpack(f"{e}I", tail_or_seek(value_pos, 4))
                raw = tail_or_seek(off, size)
            else:
                raw = tail_or_seek(value_pos, size)
            if ty == TY_ASCII:
                return raw.rstrip(b"\x00").decode("ascii")
            fmt = {TY_SHORT: "H", TY_LONG: "I", TY_DOUBLE: "d"}[ty]
            return list(struct.unpack(f"{e}{count}{fmt}", raw))

        w, h = val(T_WIDTH)[0], val(T_HEIGHT)[0]
        out = {
            "w": w,
            "h": h,
            "bits": val(T_BITS, [8])[0],
            "sfmt": val(T_SAMPLE_FORMAT, [1])[0],
            "compression": val(T_COMPRESSION, [1])[0],
            "rows_per_strip": val(T_ROWS_PER_STRIP, [h])[0],
            "offsets": val(T_STRIP_OFFSETS),
            "counts": val(T_STRIP_COUNTS),
        }
        if T_PIXEL_SCALE in tags and T_TIEPOINT in tags:
            sx, sy, _ = val(T_PIXEL_SCALE)
            tie = val(T_TIEPOINT)
            out["pixel"] = sx
            out["origin"] = (tie[3] - tie[0] * sx, tie[4] + tie[1] * sy)
        if T_GEO_ASCII in tags:
            out["crs"] = val(T_GEO_ASCII).split("|")[0]
        assert os.path.getsize(path) >= out["offsets"][-1] + out["counts"][-1]
        return out


def decode_geotiff(data: bytes) -> tuple[np.ndarray, dict]:
    """GeoTIFF bytes -> (array, meta) for the supported subset. meta keys:
    transform (6-tuple affine), crs (citation string), pixel, origin."""
    if data[:2] == b"II":
        e = "<"
    elif data[:2] == b"MM":
        e = ">"
    else:
        raise ValueError("not a TIFF (bad byte-order mark)")
    try:
        return _decode_geotiff(data, e)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"truncated or corrupt TIFF: {exc}") from exc


def _decode_geotiff(data: bytes, e: str) -> tuple[np.ndarray, dict]:
    magic, ifd_off = struct.unpack_from(f"{e}HI", data, 2)
    if magic != 42:
        raise ValueError("not a TIFF (bad magic)")
    tags = _read_entries(data, e, ifd_off)

    def val(tag, default=None):
        if tag not in tags:
            if default is not None:
                return default
            raise ValueError(f"missing required TIFF tag {tag}")
        return _tag_values(data, e, tags[tag])

    w, h = val(T_WIDTH)[0], val(T_HEIGHT)[0]
    comp = val(T_COMPRESSION, [1])[0]
    bits = val(T_BITS, [8])[0]
    sfmt = val(T_SAMPLE_FORMAT, [1])[0]
    if val(T_SAMPLES_PER_PX, [1])[0] != 1:
        raise ValueError("only single-sample (grayscale) TIFFs supported")
    if comp not in (1, 8):
        raise ValueError(f"unsupported TIFF compression {comp}")
    offsets = val(T_STRIP_OFFSETS)
    counts = val(T_STRIP_COUNTS)
    raw = b"".join(
        zlib.decompress(data[o : o + c]) if comp == 8 else data[o : o + c]
        for o, c in zip(offsets, counts)
    )
    if (bits, sfmt) == (8, 1):
        arr = np.frombuffer(raw, np.uint8).reshape(h, w)
    elif (bits, sfmt) == (32, 3):
        arr = np.frombuffer(raw, f"{e}f4").astype(np.float32).reshape(h, w)
    else:
        raise ValueError(f"unsupported sample layout bits={bits} fmt={sfmt}")
    meta: dict = {}
    if T_PIXEL_SCALE in tags and T_TIEPOINT in tags:
        sx, sy, _ = val(T_PIXEL_SCALE)
        tie = val(T_TIEPOINT)
        ox = tie[3] - tie[0] * sx
        oy = tie[4] + tie[1] * sy
        meta["pixel"] = sx
        meta["origin"] = (ox, oy)
        meta["transform"] = (ox, sx, 0.0, oy, 0.0, -sy)
    if T_GEO_ASCII in tags:
        meta["crs"] = val(T_GEO_ASCII).split("|")[0]
    if T_GEO_KEYS in tags:
        gk = val(T_GEO_KEYS)
        keys = {
            gk[i]: gk[i + 3] for i in range(4, len(gk), 4)
        }
        meta["model_type"] = keys.get(GK_MODEL_TYPE)
        meta["raster_type"] = keys.get(GK_RASTER_TYPE)
    return arr, meta
