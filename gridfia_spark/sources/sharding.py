"""Zarr v3 ``sharding_indexed`` codec: many chunks per stored object.

The spec codec (zarr-specs v3, ``sharding_indexed``) that solves the
small-file problem the flat chunk layout hits at scale: a 100 TB cube
chunked (1, 256, 256) is ~10^8 objects — object-store listings, per-file
open cost, and task scheduling all degrade long before the bytes do. A
shard packs a ``ks_y x ks_x`` block of chunks into ONE stored object:

    [encoded chunk 0][encoded chunk 1]...[index][crc32c?]

where the index is ``n_inner`` little-endian ``(offset, nbytes)`` uint64
pairs in row-major order of the inner-chunk coordinates, ``2**64-1`` pairs
marking absent chunks, encoded through the array's ``index_codecs`` chain
(default ``bytes`` + ``crc32c`` — the CRC-32C is implemented here in pure
python, Castagnoli polynomial). ``index_location: end`` puts the index at
the object's tail, so a reader fetches the footer with one ranged GET and
then range-reads only the chunks it needs — chunk-level partial reads
survive the packing.

Reference scope: the reference's stores are flat-chunked
(zarr_utils.py:259-320); sharding is the §2 scale extension that keeps the
same cube readable while cutting object count ``ks_y * ks_x``-fold.

Plan shapes:
- WRITE is ONE hash shuffle keyed by (layer, shard_y, shard_x) — the
  minimum data movement that can co-locate a shard's chunks — then every
  task serializes and writes its own shard objects; the driver writes only
  the JSON metadata.
- READ is the same distributed ``binaryFile`` scan as the flat layout
  (shard keys are ordinary ``c/s/sy/sx`` chunk keys of the coarse grid);
  each task parses its shards' indexes and decodes the inner chunks.
  ``ks**2`` fewer files to list and open, identical tile rows out.
"""

from __future__ import annotations

import gzip as _gzip
import os
import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

MAX_U64 = (1 << 64) - 1

# ------------------------------------------------------------- CRC-32C
# Castagnoli CRC (reflected poly 0x82F63B78) — the checksum the spec's
# default index_codecs chain appends to the shard index. Table-driven,
# pure python; the index is 16 bytes per inner chunk, so this is never on
# the hot path (chunk payloads are checksummed by their own codec layer).

_CRC32C_POLY = 0x82F63B78


def _crc32c_table() -> list[int]:
    table = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ _CRC32C_POLY if c & 1 else c >> 1
        table.append(c)
    return table


_TABLE = _crc32c_table()


def crc32c(data: bytes, crc: int = 0) -> int:
    crc ^= 0xFFFFFFFF
    for b in data:
        crc = _TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


# ------------------------------------------------------- shard binary IO


def pack_index(
    entries: list[tuple[int, int]], index_codecs: tuple[str, ...]
) -> bytes:
    """Encode the inner-chunk index: little-endian (offset, nbytes) uint64
    pairs in row-major inner-coordinate order, then the index codec chain
    (``bytes`` alone, or ``bytes`` + ``crc32c``)."""
    raw = b"".join(struct.pack("<QQ", off, nb) for off, nb in entries)
    if "crc32c" in index_codecs:
        raw += struct.pack("<I", crc32c(raw))
    return raw


def index_nbytes(n_inner: int, index_codecs: tuple[str, ...]) -> int:
    return 16 * n_inner + (4 if "crc32c" in index_codecs else 0)


def parse_index(
    blob: bytes, n_inner: int, index_codecs: tuple[str, ...],
    index_location: str = "end",
) -> list[tuple[int, int]]:
    """Decode and verify the index region of a shard object. Raises
    ``ValueError`` on truncation or checksum mismatch — a corrupt shard
    must never decode to silently-wrong pixels."""
    nb = index_nbytes(n_inner, index_codecs)
    if len(blob) < nb:
        raise ValueError(
            f"sharding: object holds {len(blob)} bytes < {nb}-byte index"
        )
    region = blob[-nb:] if index_location == "end" else blob[:nb]
    if "crc32c" in index_codecs:
        body, (stored,) = region[:-4], struct.unpack("<I", region[-4:])
        if crc32c(body) != stored:
            raise ValueError("sharding: index crc32c mismatch")
        region = body
    out = []
    for i in range(n_inner):
        off, size = struct.unpack_from("<QQ", region, 16 * i)
        if off != MAX_U64 and off + size > len(blob):
            raise ValueError(
                f"sharding: inner chunk {i} range [{off}, {off + size}) "
                f"exceeds object size {len(blob)}"
            )
        out.append((off, size))
    return out


def parse_index_tail(
    footer: bytes,
    n_inner: int,
    index_codecs: tuple[str, ...],
    object_size: int,
) -> list[tuple[int, int]]:
    """Decode the index from the FOOTER bytes alone (what a ranged GET of
    the object's tail returns) — validation of chunk ranges runs against
    the declared ``object_size`` instead of an in-memory blob."""
    nb = index_nbytes(n_inner, index_codecs)
    if len(footer) < nb:
        raise ValueError(
            f"sharding: footer holds {len(footer)} bytes < {nb}-byte index"
        )
    region = footer[-nb:]
    if "crc32c" in index_codecs:
        body, (stored,) = region[:-4], struct.unpack("<I", region[-4:])
        if crc32c(body) != stored:
            raise ValueError("sharding: index crc32c mismatch")
        region = body
    out = []
    for i in range(n_inner):
        off, size = struct.unpack_from("<QQ", region, 16 * i)
        if off != MAX_U64 and off + size > object_size:
            raise ValueError(
                f"sharding: inner chunk {i} range [{off}, {off + size}) "
                f"exceeds object size {object_size}"
            )
        out.append((off, size))
    return out


def _encode_inner(buf: bytes, codec: str | None, level: int) -> bytes:
    if codec == "gzip":
        return _gzip.compress(buf, compresslevel=level, mtime=0)
    if codec == "zlib":
        return zlib.compress(buf, level)
    if codec == "blosc":
        from .. import blosc as _blosc

        return _blosc.encode_chunk(buf, typesize=4)
    return buf


def build_shard(
    chunks: dict[tuple[int, int], bytes],
    ks_y: int,
    ks_x: int,
    codec: str | None,
    level: int,
    index_codecs: tuple[str, ...] = ("bytes", "crc32c"),
) -> bytes:
    """Assemble one shard object from its present inner chunks
    ``{(cy, cx) within shard: raw C-order bytes}`` (already-raw payloads;
    this encodes each through the inner codec chain and appends the
    index). Absent coordinates get the spec's 2**64-1 sentinel pair."""
    payload = bytearray()
    entries: list[tuple[int, int]] = []
    for cy in range(ks_y):
        for cx in range(ks_x):
            raw = chunks.get((cy, cx))
            if raw is None:
                entries.append((MAX_U64, MAX_U64))
                continue
            blob = _encode_inner(raw, codec, level)
            entries.append((len(payload), len(blob)))
            payload.extend(blob)
    return bytes(payload) + pack_index(entries, index_codecs)


def read_shard(
    blob: bytes,
    ks_y: int,
    ks_x: int,
    codec: str | None,
    index_codecs: tuple[str, ...] = ("bytes", "crc32c"),
) -> dict[tuple[int, int], bytes]:
    """Parse one shard object back to ``{(cy, cx): raw chunk bytes}`` —
    the exact inverse of ``build_shard``."""
    from .zarrstore import _decode_chunk_bytes

    idx = parse_index(blob, ks_y * ks_x, index_codecs)
    out = {}
    for i, (off, size) in enumerate(idx):
        if off == MAX_U64:
            continue
        cy, cx = divmod(i, ks_x)
        out[(cy, cx)] = _decode_chunk_bytes(blob[off : off + size], codec)
    return out


# ------------------------------------------------- distributed shard write


def write_shards(
    meta,
    adir: str,
    tw: int,
    th: int,
    ks_y: int,
    ks_x: int,
    codec: str | None,
    level: int,
    layer: int | None = None,
    index_codecs: tuple[str, ...] = ("bytes", "crc32c"),
) -> int:
    """Distributed shard assembly: ONE hash shuffle on
    (layer, shard_y, shard_x) co-locates each shard's tiles, then every
    task builds and writes its own shard objects under the v3 nested keys
    ``c/<s>/<sy>/<sx>`` (keys of the COARSE shard grid). ``layer``
    overrides the layer index for single-layer appends. Returns the shard
    count. ``meta`` is a tile DataFrame already through
    ``decode.with_tile_meta``."""
    from pyspark.sql import functions as F

    from .. import codecs as _codecs

    lcol = F.lit(int(layer)) if layer is not None else F.col("s")
    keyed = meta.select(
        lcol.cast("int").alias("s"),
        (F.col("ty") / ks_y).cast("int").alias("sy"),
        (F.col("tx") / ks_x).cast("int").alias("sx"),
        "tx", "ty", "bytes", "w", "h", "fmt",
    )

    def mk_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        s = int(pdf["s"].iloc[0])
        sy = int(pdf["sy"].iloc[0])
        sx = int(pdf["sx"].iloc[0])
        chunks: dict[tuple[int, int], bytes] = {}
        for r in pdf.itertuples(index=False):
            arr = _codecs.decode(r.bytes, int(r.w), int(r.h), r.fmt)
            key = (int(r.ty) - sy * ks_y, int(r.tx) - sx * ks_x)
            chunks[key] = np.ascontiguousarray(arr, dtype="<f4").tobytes()
        blob = build_shard(chunks, ks_y, ks_x, codec, level, index_codecs)
        cdir = os.path.join(adir, "c", str(s), str(sy))
        os.makedirs(cdir, exist_ok=True)
        name = os.path.join(cdir, str(sx))
        with open(name, "wb") as fh:
            fh.write(blob)
        return pd.DataFrame(
            {"shard": [name], "nbytes": [len(blob)], "n_chunks": [len(chunks)]}
        )

    manifest = keyed.groupBy("s", "sy", "sx").applyInPandas(
        mk_shard, "shard string, nbytes long, n_chunks long"
    )
    return manifest.count()


def shard_codec_doc(
    tw: int,
    th: int,
    codec: str | None,
    level: int,
    index_codecs: tuple[str, ...] = ("bytes", "crc32c"),
) -> dict:
    """The array-metadata ``codecs`` entry declaring the shard layout."""
    inner: list[dict] = [{"name": "bytes", "configuration": {"endian": "little"}}]
    if codec == "gzip":
        inner.append({"name": "gzip", "configuration": {"level": level}})
    elif codec == "blosc":
        inner.append(
            {
                "name": "blosc",
                "configuration": {
                    "cname": "lz4", "clevel": 5, "shuffle": "shuffle",
                    "typesize": 4, "blocksize": 0,
                },
            }
        )
    index: list[dict] = [{"name": "bytes", "configuration": {"endian": "little"}}]
    if "crc32c" in index_codecs:
        index.append({"name": "crc32c"})
    return {
        "name": "sharding_indexed",
        "configuration": {
            "chunk_shape": [1, th, tw],
            "codecs": inner,
            "index_codecs": index,
            "index_location": "end",
        },
    }
