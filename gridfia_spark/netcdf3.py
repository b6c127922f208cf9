"""Pure-numpy NetCDF-3 "classic" (CDF-1) container codec.

The reference exports metric rasters as NetCDF via xarray
(forest_metrics.py:603-637).  The sandbox ships no netCDF library, so —
same precedent as the pure-numpy PNG/JPEG codecs — the container is
written from the public classic-format spec (the on-disk layout documented
in the NetCDF User's Guide, appendix "File Format Specification"):

    file    = header, data
    header  = magic('CDF' \\x01), numrecs, dim_list, gatt_list, var_list
    lists   = ABSENT (two zero int32s) | tag, nelems, elements...
    name    = int32 length + bytes, zero-padded to a 4-byte boundary
    var     = name, ndims, dimids..., vatt_list, nc_type, vsize, begin

Everything is big-endian; every data block is zero-padded to 4 bytes.
Only fixed-size (non-record) variables are produced, which is all the
reference's raster export needs (numrecs stays 0 and no unlimited
dimension is declared).

Supported external types: NC_BYTE, NC_CHAR, NC_SHORT, NC_INT, NC_FLOAT,
NC_DOUBLE.  ``read_netcdf3`` is the exact inverse and doubles as the
round-trip verifier in tests and the `netcdf_container` driver query.
"""

from __future__ import annotations

import struct
from collections.abc import Callable, Iterator
from typing import NamedTuple

import numpy as np


class LazyVar(NamedTuple):
    """A streamed variable payload for ``write_netcdf3_stream``: row-major
    C-order chunks of ``dtype`` whose element counts sum to the variable's
    declared shape. The sharded single-file export path — the full grid
    never materializes in memory; each chunk is validated/narrowed exactly
    like the eager path (same external type, same range checks)."""

    dtype: np.dtype
    chunks: Callable[[], Iterator[np.ndarray]]

_MAGIC = b"CDF\x01"
NC_DIMENSION, NC_VARIABLE, NC_ATTRIBUTE = 0x0A, 0x0B, 0x0C

# nc_type id -> (numpy dtype, external size in bytes)
_NC_TYPES: dict[int, tuple[np.dtype, int]] = {
    1: (np.dtype(">i1"), 1),  # NC_BYTE
    2: (np.dtype("S1"), 1),  # NC_CHAR
    3: (np.dtype(">i2"), 2),  # NC_SHORT
    4: (np.dtype(">i4"), 4),  # NC_INT
    5: (np.dtype(">f4"), 4),  # NC_FLOAT
    6: (np.dtype(">f8"), 8),  # NC_DOUBLE
}
_KIND_TO_NC = {"i1": 1, "S1": 2, "i2": 3, "i4": 4, "f4": 5, "f8": 6}


def _nc_type_of(arr: np.ndarray) -> int:
    dt = arr.dtype
    if dt.kind == "u":
        # classic NetCDF has only SIGNED external types: widen unsigned to
        # the next larger signed type so every value survives (u1 -> i2,
        # u2 -> i4); u4/u8 get the same value-range check as int64 — the
        # "refuse loudly" contract, never a silent wraparound
        if dt.itemsize == 1:
            key = "i2"
        elif dt.itemsize == 2:
            key = "i4"
        else:
            if arr.size and int(arr.max()) > 2**31 - 1:
                raise ValueError(f"{dt} values exceed NC_INT range")
            key = "i4"
    elif dt.kind == "i":
        if dt.itemsize <= 1:
            key = "i1"
        elif dt.itemsize <= 2:
            key = "i2"
        elif dt.itemsize <= 4:
            key = "i4"
        else:
            # int64 has no classic external type; narrow to NC_INT only if
            # values survive, else refuse loudly
            a = arr.astype(np.int64)
            if a.size and (a.max() > 2**31 - 1 or a.min() < -(2**31)):
                raise ValueError("int64 values exceed NC_INT range")
            key = "i4"
    elif dt.kind == "f":
        key = "f4" if dt.itemsize <= 4 else "f8"
    elif dt.kind == "S" and dt.itemsize == 1:
        key = "S1"
    else:
        raise ValueError(f"unsupported dtype for NetCDF-3: {dt}")
    return _KIND_TO_NC[key]


def _pad4(b: bytes) -> bytes:
    return b + b"\x00" * ((4 - len(b) % 4) % 4)


def _name(s: str) -> bytes:
    b = s.encode("utf-8")
    return struct.pack(">i", len(b)) + _pad4(b)


def _attr_values(v) -> tuple[int, int, bytes]:
    """(nc_type, nelems, payload) of one attribute value."""
    if isinstance(v, str):
        b = v.encode("utf-8")
        return 2, len(b), _pad4(b)
    arr = np.atleast_1d(np.asarray(v))
    t = _nc_type_of(arr)
    payload = _pad4(arr.astype(_NC_TYPES[t][0]).tobytes())
    return t, arr.size, payload


def _attr_list(attrs: dict) -> bytes:
    if not attrs:
        return struct.pack(">ii", 0, 0)
    out = [struct.pack(">ii", NC_ATTRIBUTE, len(attrs))]
    for k, v in attrs.items():
        t, n, payload = _attr_values(v)
        out.append(_name(k) + struct.pack(">ii", t, n) + payload)
    return b"".join(out)


def write_netcdf3(
    dims: dict[str, int],
    variables: dict[str, tuple[tuple[str, ...], np.ndarray]],
    global_attrs: dict | None = None,
    var_attrs: dict[str, dict] | None = None,
) -> bytes:
    """Serialize to NetCDF-3 classic bytes.

    dims: ordered {name: length}; variables: {name: (dim_names, array)}
    with array.shape matching the named dimension lengths.
    """
    import io

    buf = io.BytesIO()
    write_netcdf3_stream(buf, dims, variables, global_attrs, var_attrs)
    return buf.getvalue()


def write_netcdf3_stream(
    fh,
    dims: dict[str, int],
    variables: dict[str, tuple[tuple[str, ...], np.ndarray | LazyVar]],
    global_attrs: dict | None = None,
    var_attrs: dict[str, dict] | None = None,
) -> int:
    """Streamed NetCDF-3 classic writer: same bytes as ``write_netcdf3``
    (which is now a BytesIO wrapper over this), but a variable's payload
    may be a ``LazyVar`` whose chunks are written to ``fh`` incrementally
    — peak memory is one chunk, not one grid. Returns bytes written."""
    var_attrs = var_attrs or {}
    dim_ids = {n: i for i, n in enumerate(dims)}

    # per-variable external encoding plan: eager arrays carry their padded
    # payload; lazy variables carry only (type, external size, shape)
    enc: dict[str, tuple[int, bytes | None, tuple[str, ...], int, int]] = {}
    for vname, (vdims, val) in variables.items():
        shape = tuple(dims[d] for d in vdims)
        n_elem = int(np.prod(shape, dtype=np.int64)) if shape else 1
        if isinstance(val, LazyVar):
            t = _nc_type_of(np.empty(0, dtype=val.dtype))
            ext = n_elem * _NC_TYPES[t][1]
            enc[vname] = (t, None, vdims, ext + ((4 - ext % 4) % 4), n_elem)
        else:
            arr = np.asarray(val)
            if arr.shape != shape:
                raise ValueError(f"{vname}: shape {arr.shape} != dims {shape}")
            t = _nc_type_of(arr)
            payload = _pad4(arr.astype(_NC_TYPES[t][0]).tobytes())
            enc[vname] = (t, payload, vdims, len(payload), n_elem)

    def var_entry(vname: str, begin: int) -> bytes:
        t, _, vdims, vsize, _ = enc[vname]
        head = _name(vname) + struct.pack(">i", len(vdims))
        head += b"".join(struct.pack(">i", dim_ids[d]) for d in vdims)
        head += _attr_list(var_attrs.get(vname, {}))
        head += struct.pack(">iii", t, vsize, begin)
        return head

    def header(begins: dict[str, int]) -> bytes:
        h = [_MAGIC, struct.pack(">i", 0)]  # numrecs = 0 (no record vars)
        if dims:
            h.append(struct.pack(">ii", NC_DIMENSION, len(dims)))
            for n, ln in dims.items():
                h.append(_name(n) + struct.pack(">i", ln))
        else:
            h.append(struct.pack(">ii", 0, 0))
        h.append(_attr_list(global_attrs or {}))
        if variables:
            h.append(struct.pack(">ii", NC_VARIABLE, len(variables)))
            for vname in variables:
                h.append(var_entry(vname, begins[vname]))
        else:
            h.append(struct.pack(">ii", 0, 0))
        return b"".join(h)

    # begin offsets depend only on the header LENGTH (begin fields are
    # fixed int32), so one dry run with zeros sizes the header exactly
    hlen = len(header({v: 0 for v in variables}))
    begins, off = {}, hlen
    for vname in variables:
        begins[vname] = off
        off += enc[vname][3]
    written = fh.write(header(begins))
    for vname, (vdims, val) in variables.items():
        t, payload, _, vsize, n_elem = enc[vname]
        if payload is not None:
            written += fh.write(payload)
            continue
        ext_dt = _NC_TYPES[t][0]
        seen = 0
        for chunk in val.chunks():
            chunk = np.asarray(chunk)
            if chunk.dtype != np.dtype(val.dtype):
                raise ValueError(
                    f"{vname}: chunk dtype {chunk.dtype} != declared {val.dtype}"
                )
            _nc_type_of(chunk)  # re-apply value-range checks per chunk
            written += fh.write(np.ascontiguousarray(chunk, dtype=chunk.dtype)
                                .astype(ext_dt).tobytes())
            seen += chunk.size
        if seen != n_elem:
            raise ValueError(f"{vname}: chunks carried {seen} elements, "
                             f"shape needs {n_elem}")
        written += fh.write(b"\x00" * ((4 - (seen * _NC_TYPES[t][1]) % 4) % 4))
    return written


def _read_name(buf: bytes, pos: int) -> tuple[str, int]:
    (n,) = struct.unpack_from(">i", buf, pos)
    pos += 4
    name = buf[pos : pos + n].decode("utf-8")
    pos += n + ((4 - n % 4) % 4)
    return name, pos


def _read_attrs(buf: bytes, pos: int) -> tuple[dict, int]:
    tag, nelems = struct.unpack_from(">ii", buf, pos)
    pos += 8
    attrs: dict = {}
    if tag == 0:
        return attrs, pos
    if tag != NC_ATTRIBUTE:
        raise ValueError(f"bad attribute list tag {tag}")
    for _ in range(nelems):
        name, pos = _read_name(buf, pos)
        t, n = struct.unpack_from(">ii", buf, pos)
        pos += 8
        dt, size = _NC_TYPES[t]
        raw = buf[pos : pos + n * size]
        pos += n * size + ((4 - (n * size) % 4) % 4)
        if t == 2:
            attrs[name] = raw.decode("utf-8")
        else:
            vals = np.frombuffer(raw, dtype=dt)
            attrs[name] = vals[0] if n == 1 else vals
    return attrs, pos


def read_netcdf3(
    buf: bytes,
) -> tuple[
    dict[str, int],
    dict[str, tuple[tuple[str, ...], np.ndarray]],
    dict,
    dict[str, dict],
]:
    """Inverse of write_netcdf3: (dims, variables, global_attrs, var_attrs).
    Truncated or corrupt input raises ValueError (never struct.error)."""
    if buf[:4] != _MAGIC:
        raise ValueError("not a NetCDF-3 classic (CDF-1) file")
    try:
        return _read_netcdf3(buf)
    except (struct.error, IndexError) as e:
        raise ValueError(f"truncated or corrupt NetCDF-3 file: {e}") from e


def _read_netcdf3(buf: bytes):
    pos = 4
    (numrecs,) = struct.unpack_from(">i", buf, pos)
    pos += 4
    if numrecs != 0:
        raise ValueError("record variables not supported")
    tag, ndims = struct.unpack_from(">ii", buf, pos)
    pos += 8
    dims: dict[str, int] = {}
    if tag == NC_DIMENSION:
        for _ in range(ndims):
            name, pos = _read_name(buf, pos)
            (ln,) = struct.unpack_from(">i", buf, pos)
            pos += 4
            dims[name] = ln
    elif tag != 0:
        raise ValueError(f"bad dimension list tag {tag}")
    gattrs, pos = _read_attrs(buf, pos)
    tag, nvars = struct.unpack_from(">ii", buf, pos)
    pos += 8
    variables: dict[str, tuple[tuple[str, ...], np.ndarray]] = {}
    var_attrs: dict[str, dict] = {}
    if tag == NC_VARIABLE:
        dim_names = list(dims)
        for _ in range(nvars):
            name, pos = _read_name(buf, pos)
            (nd,) = struct.unpack_from(">i", buf, pos)
            pos += 4
            vdims = tuple(
                dim_names[struct.unpack_from(">i", buf, pos + 4 * i)[0]]
                for i in range(nd)
            )
            pos += 4 * nd
            vattrs, pos = _read_attrs(buf, pos)
            t, _vsize, begin = struct.unpack_from(">iii", buf, pos)
            pos += 12
            dt, size = _NC_TYPES[t]
            shape = tuple(dims[d] for d in vdims)
            count = int(np.prod(shape)) if shape else 1
            arr = np.frombuffer(
                buf[begin : begin + count * size], dtype=dt
            ).reshape(shape)
            variables[name] = (vdims, arr.astype(dt.newbyteorder("=")))
            var_attrs[name] = vattrs
    elif tag != 0:
        raise ValueError(f"bad variable list tag {tag}")
    return dims, variables, gattrs, var_attrs
