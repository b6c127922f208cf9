"""Pure numpy+python baseline JPEG codec (no PIL/libjpeg in the sandbox).

Spec-grounded (ITU-T T.81) support for the subset a tile pipeline meets:

- **Encoder**: baseline sequential DCT, 8-bit, grayscale or RGB (encoded
  4:4:4 — no chroma subsampling), JFIF headers. Writes its OWN canonical
  Huffman tables into DHT (fixed-length codes — spec-valid, mildly
  suboptimal, zero reliance on the Annex K sample tables) and its quant
  tables into DQT, so any conforming decoder reads everything it needs
  from the stream.
- **Decoder**: general baseline decoder — parses DQT/SOF0/DHT/SOS, builds
  canonical Huffman maps from the stream's own DHT (Annex K or otherwise),
  handles 0xFF00 byte stuffing; errors clearly on progressive (SOF2),
  subsampled, 12-bit, or restart-interval streams.

The DCT is the exact T.81 definition via the orthonormal DCT-II matrix
(forward ``C A C^T``, inverse ``C^T A C``). Quality scaling follows the
IJG convention. Lossy round-trips satisfy the engine's PSNR>=40 dB
contract at quality 90 (BASELINE.json input_hint: "decoded pixels
allclose (PSNR>=40dB for lossy fmt)") — verified in tests/test_jpeg.py
and gated by the jpeg_tile_stats driver query.

``codecs.decode(..., "jpeg")`` is backed by this module, the same way
png.py backs ``fmt='png'``.
"""

from __future__ import annotations

import struct

import numpy as np

# ------------------------------------------------------------------ tables

_QL50 = np.array(  # T.81 Annex K luminance quant table (quality 50)
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int64,
)
_QC50 = np.array(  # chrominance
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.int64,
)


def _quant_table(base: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling: 50 -> base, 100 -> all-ones."""
    q = min(max(int(quality), 1), 100)
    scale = 5000 // q if q < 50 else 200 - 2 * q
    t = (base * scale + 50) // 100
    return np.clip(t, 1, 255)


def _zigzag() -> np.ndarray:
    """Generate the T.81 zigzag index order (no hardcoded table)."""
    idx = sorted(
        ((i, j) for i in range(8) for j in range(8)),
        key=lambda p: (p[0] + p[1], p[1] if (p[0] + p[1]) % 2 else p[0]),
    )
    return np.array([i * 8 + j for i, j in idx], dtype=np.int64)


_ZZ = _zigzag()

_C = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _C[_k, _n] = np.sqrt((1 if _k == 0 else 2) / 8.0) * np.cos(
            (2 * _n + 1) * _k * np.pi / 16.0
        )


# ------------------------------------------------------------------ bits


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)  # byte stuffing

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s per spec
        return bytes(self.buf)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("truncated JPEG entropy stream")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            nxt = self.data[self.pos] if self.pos < len(self.data) else None
            if nxt == 0x00:
                self.pos += 1  # stuffed byte
            elif nxt is not None and 0xD0 <= nxt <= 0xD7:
                raise _RestartMarker(nxt - 0xD0)
            else:
                raise ValueError("unexpected marker inside entropy data")
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read(self, length: int) -> int:
        while self.nbits < length:
            self._fill()
        self.nbits -= length
        v = (self.acc >> self.nbits) & ((1 << length) - 1)
        return v

    def skip_restart(self) -> None:
        """Consume a restart marker at a byte boundary."""
        self.acc = 0
        self.nbits = 0
        while self.pos < len(self.data) and self.data[self.pos] == 0xFF:
            nxt = self.data[self.pos + 1]
            if 0xD0 <= nxt <= 0xD7:
                self.pos += 2
                return
            break


class _RestartMarker(Exception):
    def __init__(self, n: int) -> None:
        self.n = n


# ------------------------------------------------------------------ huffman


def _fixed_length_table(symbols: list[int]) -> tuple[list[int], list[int]]:
    """Canonical table giving every symbol the same length L, chosen so
    n_symbols <= 2^L - 1 (the all-ones code stays unused, as T.81
    requires). Returns (counts_per_length[1..16], symbols)."""
    n = len(symbols)
    length = 1
    while (1 << length) - 1 < n:
        length += 1
    counts = [0] * 16
    counts[length - 1] = n
    return counts, list(symbols)


def _canonical_codes(counts: list[int], symbols: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) from DHT-style (counts, symbols)."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            codes[symbols[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _decode_map(counts: list[int], symbols: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol."""
    out: dict[tuple[int, int], int] = {}
    for sym, (code, length) in _canonical_codes(counts, symbols).items():
        out[(length, code)] = sym
    return out


def _magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude coding: value -> (size, bits)."""
    if v == 0:
        return 0, 0
    size = int(v if v > 0 else -v).bit_length()
    bits = v if v >= 0 else v + (1 << size) - 1
    return size, bits


def _extend(bits: int, size: int) -> int:
    if size == 0:
        return 0
    if bits < (1 << (size - 1)):
        return bits - (1 << size) + 1
    return bits


# ------------------------------------------------------------------ encode


def _encode_blocks(channel: np.ndarray, qt: np.ndarray) -> list[np.ndarray]:
    """Channel (h, w) float -> list of zigzagged quantized int blocks."""
    h, w = channel.shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.empty((ph, pw))
    padded[:h, :w] = channel
    padded[h:, :w] = channel[h - 1 : h, :]
    padded[:, w:] = padded[:, w - 1 : w]
    out = []
    for by in range(0, ph, 8):
        for bx in range(0, pw, 8):
            blk = padded[by : by + 8, bx : bx + 8] - 128.0
            coef = _C @ blk @ _C.T
            q = np.round(coef / qt).astype(np.int64)
            # baseline caps AC magnitude size at 10 bits; qt=1 (quality
            # 100) can otherwise produce |coef| > 1023 on extreme blocks
            flat = q.ravel()
            flat[1:] = np.clip(flat[1:], -1023, 1023)
            out.append(flat[_ZZ])
    return out


def encode_jpeg(arr: np.ndarray, quality: int = 90) -> bytes:
    """uint8 (h, w) grayscale or (h, w, 3) RGB -> baseline JFIF bytes
    (4:4:4, self-contained quant + Huffman tables)."""
    a = np.asarray(arr)
    if a.dtype != np.uint8:
        raise ValueError(f"encode_jpeg wants uint8, got {a.dtype}")
    gray = a.ndim == 2
    if not gray and (a.ndim != 3 or a.shape[2] != 3):
        raise ValueError(f"expected (h,w) or (h,w,3), got {a.shape}")
    h, w = a.shape[:2]
    qly = _quant_table(_QL50, quality)
    qlc = _quant_table(_QC50, quality)
    if gray:
        planes = [a.astype(np.float64)]
        qts = [qly]
        qids = [0]
    else:
        r, g, b = (a[..., i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        planes = [y, cb, cr]
        qts = [qly, qlc, qlc]
        qids = [0, 1, 1]

    per_comp = [_encode_blocks(p, qt) for p, qt in zip(planes, qts)]
    n_blocks = len(per_comp[0])

    # fixed-length self-describing Huffman tables
    dc_counts, dc_syms = _fixed_length_table(list(range(12)))
    ac_syms = sorted({0x00, 0xF0} | {(r << 4) | s for r in range(16) for s in range(1, 11)})
    ac_counts, ac_syms = _fixed_length_table(ac_syms)
    dc_codes = _canonical_codes(dc_counts, dc_syms)
    ac_codes = _canonical_codes(ac_counts, ac_syms)

    bw = _BitWriter()
    prev_dc = [0] * len(planes)
    for bi in range(n_blocks):
        for ci in range(len(planes)):
            blk = per_comp[ci][bi]
            diff = int(blk[0]) - prev_dc[ci]
            prev_dc[ci] = int(blk[0])
            size, bits = _magnitude(diff)
            code, length = dc_codes[size]
            bw.write(code, length)
            if size:
                bw.write(bits, size)
            run = 0
            last_nz = max(np.nonzero(blk[1:])[0], default=-1)
            for k in range(1, 2 + last_nz if last_nz >= 0 else 1):
                v = int(blk[k]) if k < 64 else 0
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, length = ac_codes[0xF0]  # ZRL
                    bw.write(code, length)
                    run -= 16
                size, bits = _magnitude(v)
                code, length = ac_codes[(run << 4) | size]
                bw.write(code, length)
                bw.write(bits, size)
                run = 0
            if last_nz < 62:  # not all 63 ACs emitted -> EOB
                code, length = ac_codes[0x00]
                bw.write(code, length)
    entropy = bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    def dqt(tid: int, table: np.ndarray) -> bytes:
        return seg(0xFFDB, bytes([tid]) + bytes(int(x) for x in table.ravel()[_ZZ]))

    def dht(tclass: int, tid: int, counts: list[int], syms: list[int]) -> bytes:
        return seg(
            0xFFC4, bytes([(tclass << 4) | tid]) + bytes(counts) + bytes(syms)
        )

    ncomp = len(planes)
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sof += bytes([ci + 1, 0x11, qids[ci]])  # 1x1 sampling
        sos += bytes([ci + 1, 0x00])  # DC table 0, AC table 0
    sos += bytes([0, 63, 0])

    out = b"\xff\xd8"  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += dqt(0, qly)
    if not gray:
        out += dqt(1, qlc)
    out += seg(0xFFC0, sof)
    out += dht(0, 0, dc_counts, dc_syms)
    out += dht(1, 0, ac_counts, ac_syms)
    out += seg(0xFFDA, sos)
    out += entropy
    out += b"\xff\xd9"  # EOI
    return out


# ------------------------------------------------------------------ decode


def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline JFIF bytes -> uint8 (h, w) or (h, w, 3). Raises ValueError
    for progressive/subsampled/12-bit/truncated streams."""
    try:
        return _decode_jpeg(data)
    except (IndexError, struct.error) as ex:
        raise ValueError(f"truncated or corrupt JPEG stream: {ex}") from ex


def _decode_jpeg(data: bytes) -> np.ndarray:
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream (no SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    hmaps: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    comps: list[dict] = []
    h = w = 0
    entropy_start = None
    scan_comps: list[dict] = []
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at {pos}")
        marker = struct.unpack(">H", data[pos : pos + 2])[0]
        if marker == 0xFFD9:
            break
        (size,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        payload = data[pos + 4 : pos + 2 + size]
        if marker == 0xFFDB:
            p = 0
            while p < len(payload):
                prec_id = payload[p]
                if prec_id >> 4:
                    raise ValueError("16-bit quant tables unsupported")
                t = np.zeros(64, dtype=np.int64)
                t[_ZZ] = np.frombuffer(payload[p + 1 : p + 65], dtype=np.uint8)
                qtables[prec_id & 0xF] = t.reshape(8, 8)
                p += 65
        elif marker in (0xFFC1, 0xFFC2, 0xFFC3):
            raise ValueError("only baseline sequential (SOF0) is supported")
        elif marker == 0xFFC0:
            if payload[0] != 8:
                raise ValueError("only 8-bit precision supported")
            h, w = struct.unpack(">HH", payload[1:5])
            ncomp = payload[5]
            for ci in range(ncomp):
                cid, samp, qid = payload[6 + 3 * ci : 9 + 3 * ci]
                if samp != 0x11:
                    raise ValueError("chroma subsampling unsupported (4:4:4 only)")
                comps.append({"id": cid, "qid": qid})
        elif marker == 0xFFC4:
            p = 0
            while p < len(payload):
                tc_id = payload[p]
                counts = list(payload[p + 1 : p + 17])
                n = sum(counts)
                syms = list(payload[p + 17 : p + 17 + n])
                hmaps[(tc_id >> 4, tc_id & 0xF)] = _decode_map(counts, syms)
                p += 17 + n
        elif marker == 0xFFDA:
            ns = payload[0]
            for ci in range(ns):
                cid, tabs = payload[1 + 2 * ci : 3 + 2 * ci]
                comp = next(c for c in comps if c["id"] == cid)
                scan_comps.append(
                    {**comp, "dc": tabs >> 4, "ac": tabs & 0xF}
                )
            entropy_start = pos + 2 + size
            break
        pos += 2 + size
    if entropy_start is None or not comps:
        raise ValueError("missing SOS or SOF0 segment")

    end = data.rfind(b"\xff\xd9")
    br = _BitReader(data[entropy_start : end if end > 0 else len(data)])

    def read_sym(table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | br.read(1)
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in entropy stream")

    nbx, nby = -(-w // 8), -(-h // 8)
    planes = [np.zeros((nby * 8, nbx * 8)) for _ in scan_comps]
    prev_dc = [0] * len(scan_comps)
    for by in range(nby):
        for bx in range(nbx):
            for ci, comp in enumerate(scan_comps):
                try:
                    dc_tab = hmaps[(0, comp["dc"])]
                    ac_tab = hmaps[(1, comp["ac"])]
                    size = read_sym(dc_tab)
                    diff = _extend(br.read(size), size) if size else 0
                    prev_dc[ci] += diff
                    zz = np.zeros(64, dtype=np.int64)
                    zz[0] = prev_dc[ci]
                    k = 1
                    while k < 64:
                        sym = read_sym(ac_tab)
                        if sym == 0x00:  # EOB
                            break
                        if sym == 0xF0:  # ZRL
                            k += 16
                            continue
                        k += sym >> 4
                        size = sym & 0xF
                        if k >= 64:
                            raise ValueError("AC coefficient index overflow")
                        zz[k] = _extend(br.read(size), size)
                        k += 1
                except _RestartMarker as rm:
                    raise ValueError(
                        f"restart marker RST{rm.n} unsupported (no DRI "
                        "stream support; this encoder never emits them)"
                    ) from None
                blk = np.zeros(64, dtype=np.float64)
                blk[_ZZ] = zz
                coef = blk.reshape(8, 8) * qtables[comp["qid"]]
                pix = _C.T @ coef @ _C + 128.0
                planes[ci][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = pix

    planes = [p[:h, :w] for p in planes]
    if len(planes) == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    out = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)
