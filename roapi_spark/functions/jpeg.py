"""Baseline JPEG (ITU T.81 sequential DCT, Huffman) codec — pure
Python + numpy, written from scratch for the multimodal pipeline.

The reference engine has no multimodal layer at all; this container has
no PIL/libjpeg, and most real image corpora are JPEG — so the decode
path here is real: marker parse (DQT/SOF0/DHT/SOS/DRI/RSTn, APPn/COM
skip), per-MCU Huffman entropy decode with byte unstuffing and restart
handling, dequantize + inverse zigzag, vectorized 8x8 IDCT over all
blocks of a component at once (two matrix multiplies per component, not
per block), chroma upsample, YCbCr->RGB.

Fail-closed contract (tests/test_codec_fuzz.py): malformed or truncated
input raises ValueError; features beyond baseline (progressive SOF2,
arithmetic coding, 12-bit precision, hierarchical) raise
NotImplementedError naming the dependency that would handle them.

The encoder exists for fixtures and round-trip tests. With an all-ones
quantization table, an image that is CONSTANT within each 8x8 block
round-trips exactly (its DCT is integer: DC=8c, AC=0), which is what
the oracle-gated registry queries use; arbitrary images round-trip
within +-2 (forward-DCT rounding), covered by pytest.
"""

from __future__ import annotations

import struct

import numpy as np

# zigzag scan order: index i of the scan -> (row, col) flattened offset
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Standard Huffman tables from ITU T.81 Annex K (public spec constants):
# (bits[1..16] code counts, symbol values)
_STD_DC_LUM = (
    [0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_STD_DC_CHROM = (
    [0, 0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_STD_AC_LUM = (
    [0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_STD_AC_CHROM = (
    [0, 0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


import functools


@functools.lru_cache(maxsize=8)
def dct_matrix(n: int = 8) -> np.ndarray:
    """Orthonormal n x n DCT-II matrix C: coeffs = C @ block @ C.T.
    n=8 drives the JPEG transform; n=32 drives the perceptual hash
    (multimodal.phash64)."""
    k = np.arange(n)
    c = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / (2 * n)) * np.sqrt(2.0 / n)
    c[0, :] = 1.0 / np.sqrt(n)
    return c

_C = dct_matrix(8)


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per T.81 C.2 canonical assignment."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _HuffTable:
    """Canonical decode tables (ITU T.81 F.16 DECODE): mincode/maxcode/
    valptr per length for the 16-bit-peek fast path, plus the
    (length, code) dict for the bit-at-a-time fallback near segment
    ends (where a 16-bit prefetch would cross the terminating marker)."""

    __slots__ = ("mincode", "maxcode", "valptr", "vals", "slow")

    def __init__(self, bits: list[int], vals: list[int]) -> None:
        self.vals = list(vals)
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        self.slow: dict[tuple[int, int], int] = {}
        code, k = 0, 0
        for length in range(1, 17):
            if bits[length]:
                self.valptr[length] = k
                self.mincode[length] = code
                for _ in range(bits[length]):
                    self.slow[(length, code)] = vals[k]
                    code += 1
                    k += 1
                self.maxcode[length] = code - 1
            code <<= 1


# ---------------------------------------------------------------- encoder


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0
        self._vals: list[int] = []
        self._lens: list[int] = []

    def put(self, value: int, nbits: int) -> None:
        # deferred: queue the pair; flush() (or the chunk bound)
        # materializes in one numpy bit pack + stuffing pass (per-symbol
        # bit arithmetic in Python dominated the encoder profile)
        self._vals.append(value)
        self._lens.append(nbits)
        if len(self._vals) >= self._CHUNK:
            self._materialize()

    # chunk bound: the per-bit expansion in _materialize costs ~24 bytes
    # of int64 temporaries per emitted bit, so an unbounded queue on a
    # huge scan would peak at GBs where the old streamed writer was O(1);
    # draining at 1M pairs keeps the bulk-pack win with a bounded peak
    _CHUNK = 1 << 20

    def put_many(self, vals: list[int], lens: list[int]) -> None:
        self._vals.extend(vals)
        self._lens.extend(lens)
        if len(self._vals) >= self._CHUNK:
            self._materialize()

    def _materialize(self) -> None:
        """Pack every queued (value, nbits) pair: one MSB-first numpy
        bit pack + vectorized 0xFF byte stuffing."""
        vals, lens = self._vals, self._lens
        self._vals, self._lens = [], []
        v = np.asarray(vals, dtype=np.int64)
        ln = np.asarray(lens, dtype=np.int64)
        total = int(ln.sum())
        if not total:
            return
        if int(ln.max()) > 63:
            # the old scalar writer handled arbitrary widths; the int64
            # pack cannot — fail loudly rather than emit corrupt bits
            raise ValueError("JPEG bit writer supports values up to 63 bits")
        offs = np.cumsum(ln) - ln
        j = np.arange(total, dtype=np.int64) - np.repeat(offs, ln)
        shift = np.repeat(ln, ln) - 1 - j  # MSB first within each value
        bits = ((np.repeat(v, ln) >> shift) & 1).astype(np.uint8)  # shift <= 62 by the guard
        if self.n:  # fold the pending sub-byte accumulator in front
            pend = (
                (self.acc >> (self.n - 1 - np.arange(self.n, dtype=np.int64))) & 1
            ).astype(np.uint8)
            bits = np.concatenate([pend, bits])
        nfull = bits.size // 8
        packed = np.packbits(bits[: nfull * 8])
        if (packed == 0xFF).any():
            # stuff a 0x00 after every 0xFF: scatter bytes to their
            # post-stuffing offsets over a zero-filled buffer
            reps = np.where(packed == 0xFF, 2, 1)
            out = np.zeros(int(reps.sum()), dtype=np.uint8)
            out[np.cumsum(reps) - reps] = packed
            self.out.extend(out.tobytes())
        else:
            self.out.extend(packed.tobytes())
        rem = bits.size - nfull * 8
        if rem:
            tail = bits[nfull * 8 :].astype(np.int64)
            self.acc = int(tail @ (1 << np.arange(rem - 1, -1, -1, dtype=np.int64)))
        else:
            self.acc = 0
        self.n = rem

    def flush(self) -> bytes:
        self._materialize()
        if self.n:
            pad = 0x7F & ((1 << (8 - self.n)) - 1)
            self._vals.append(pad)  # pad with 1s per spec
            self._lens.append(8 - self.n)
            self._materialize()
        return bytes(self.out)


def _magnitude(v: int) -> tuple[int, int]:
    """(category/size, raw bits) for a DC diff or AC coefficient."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def _encode_component_blocks(
    plane: np.ndarray, quant: np.ndarray
) -> np.ndarray:
    """(h,w) uint8 (h,w multiples of 8) -> quantized zigzag coeffs
    (n_blocks, 64) int32 in raster block order."""
    h, w = plane.shape
    blocks = (
        plane.reshape(h // 8, 8, w // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
        .astype(np.float64)
        - 128.0
    )
    coeffs = np.einsum("ij,njk,lk->nil", _C, blocks, _C)
    q = np.round(coeffs / quant[None, :, :])
    flat = q.reshape(-1, 64)[:, ZIGZAG]
    return flat.astype(np.int32)


def _pad_to_block(plane: np.ndarray, bh: int, bw: int) -> np.ndarray:
    """Edge-replicate pad to multiples of (bh, bw)."""
    h, w = plane.shape
    ph = (-h) % bh
    pw = (-w) % bw
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    return plane


def _write_blocks(
    bw: _BitWriter,
    zz: np.ndarray,
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
    pred: int,
) -> int:
    vals: list[int] = []
    lens: list[int] = []
    emit = vals.append
    emitl = lens.append
    for blk in zz:
        diff = int(blk[0]) - pred
        pred = int(blk[0])
        size, bits = _magnitude(diff)
        code, length = dc_codes[size]
        emit(code)
        emitl(length)
        if size:
            emit(bits)
            emitl(size)
        run = 0
        nz = np.nonzero(blk[1:])[0]
        last = nz[-1] + 1 if len(nz) else 0
        for i in range(1, last + 1):
            v = int(blk[i])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, length = ac_codes[0xF0]  # ZRL
                emit(code)
                emitl(length)
                run -= 16
            size, bits = _magnitude(v)
            code, length = ac_codes[(run << 4) | size]
            emit(code)
            emitl(length)
            emit(bits)
            emitl(size)
            run = 0
        if last < 63:
            code, length = ac_codes[0x00]  # EOB
            emit(code)
            emitl(length)
    # one bulk bit pack + stuffing pass for the whole block run
    bw.put_many(vals, lens)
    return pred


def _dht_segment(tclass: int, tid: int, table: tuple[list[int], list[int]]) -> bytes:
    bits, vals = table
    body = bytes([(tclass << 4) | tid]) + bytes(bits[1:]) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body


def _dqt_segment(tid: int, quant: np.ndarray) -> bytes:
    body = bytes([tid]) + bytes(
        int(v) for v in quant.reshape(64)[ZIGZAG]
    )
    return b"\xff\xdb" + struct.pack(">H", len(body) + 2) + body


def encode_jpeg(
    image: np.ndarray,
    quant: np.ndarray | None = None,
    subsample: tuple[int, int] = (2, 2),
    restart_interval: int = 0,
) -> bytes:
    """Baseline JFIF encoder. ``image`` is (h,w) uint8 grayscale (one
    component, no subsampling) or (h,w,3) uint8 RGB (YCbCr, chroma
    subsampled by ``subsample``). Default quantization is all-ones:
    block-constant grayscale inputs then round-trip EXACTLY.
    ``restart_interval`` > 0 emits DRI + RSTn markers every N MCUs.

    Plane preparation (color transform, chroma subsampling, padding,
    quantized zigzag blocks) is shared with
    :func:`encode_jpeg_progressive` via ``_prep_planes`` — the
    progressive == baseline equality tests rely on the two encoders
    producing identical coefficients."""
    if quant is None:
        quant = np.ones((8, 8), dtype=np.int64)
    quant = np.asarray(quant, dtype=np.int64)
    gray = image.ndim == 2
    h, w = image.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    if not gray:
        hs, vs = subsample
        if hs not in (1, 2) or vs not in (1, 2):
            raise ValueError(f"unsupported subsampling {subsample}")
    comps, zzs = _prep_planes(image, quant, subsample)

    out = bytearray(b"\xff\xd8")  # SOI
    # JFIF APP0 (identifies the file; density 1:1, no thumbnail)
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00"
    out += _dqt_segment(0, quant)
    if not gray:
        out += _dqt_segment(1, quant)

    # SOF0
    body = struct.pack(">BHHB", 8, h, w, len(comps))
    for c in comps:
        body += bytes([c["id"], (c["h"] << 4) | c["v"], c["tq"]])
    out += b"\xff\xc0" + struct.pack(">H", len(body) + 2) + body

    out += _dht_segment(0, 0, _STD_DC_LUM)
    out += _dht_segment(1, 0, _STD_AC_LUM)
    if not gray:
        out += _dht_segment(0, 1, _STD_DC_CHROM)
        out += _dht_segment(1, 1, _STD_AC_CHROM)

    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)

    out += _sos_segment(comps, 0, 63, 0, 0)

    dc_codes = [
        _huff_codes(*(_STD_DC_LUM if c["dc"] == 0 else _STD_DC_CHROM))
        for c in comps
    ]
    ac_codes = [
        _huff_codes(*(_STD_AC_LUM if c["ac"] == 0 else _STD_AC_CHROM))
        for c in comps
    ]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    bw = _BitWriter()
    rst = 0
    preds = [0] * len(comps)
    for mcu in range(mcux * mcuy):
        if restart_interval and mcu and mcu % restart_interval == 0:
            out.extend(bw.flush())
            out.extend(bytes([0xFF, 0xD0 + (rst & 7)]))
            rst += 1
            bw = _BitWriter()
            preds = [0] * len(comps)
        my, mx = divmod(mcu, mcux)
        for ci, c in enumerate(comps):
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    idx = (my * c["v"] + by) * c["bw"] + mx * c["h"] + bx
                    preds[ci] = _write_blocks(
                        bw, zzs[ci][idx : idx + 1],
                        dc_codes[ci], ac_codes[ci], preds[ci],
                    )
    out += bw.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------- decoder


class _BitReader:
    """Entropy-segment bit reader: unstuffs 0xFF00, stops at markers."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0
        self.marker: int | None = None  # marker that ended the segment

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("truncated JPEG entropy data")
        b = d[self.pos]
        if b == 0xFF:
            if self.pos + 1 >= len(d):
                raise ValueError("truncated JPEG entropy data at 0xFF")
            nxt = d[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:  # RSTn consumed by caller
                raise _RestartMarker(nxt)
            else:
                self.marker = nxt
                raise _SegmentEnd(nxt)
        else:
            self.pos += 1
        # mask to the live window: without it acc grows one byte per fill
        # forever and every shift becomes a bignum operation
        self.acc = ((self.acc << 8) | b) & 0xFFFFFFFF
        self.n += 8

    def bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def prefetch(self, k: int) -> None:
        """Best-effort buffer of >= k bits. Swallows the restart/segment
        exceptions (``_fill`` raises BEFORE consuming a marker, so they
        re-raise untouched on the next genuine read past the boundary)."""
        try:
            while self.n < k:
                self._fill()
        except (_RestartMarker, _SegmentEnd):
            pass

    def bits(self, k: int) -> int:
        if k == 0:
            return 0
        if self.n < k:
            self.prefetch(k)
        if self.n >= k:
            self.n -= k
            return (self.acc >> self.n) & ((1 << k) - 1)
        v = 0
        for _ in range(k):  # segment tail: per-bit so the marker raises
            v = (v << 1) | self.bit()
        return v

    def sync_restart(self) -> None:
        """Consume an RSTn marker and byte-align (between MCUs)."""
        self.acc = 0
        self.n = 0
        d = self.data
        # skip pad 0xFFs, then the marker byte
        while self.pos + 1 < len(d) and d[self.pos] == 0xFF and d[self.pos + 1] == 0xFF:
            self.pos += 1
        if self.pos + 1 >= len(d) or d[self.pos] != 0xFF or not (0xD0 <= d[self.pos + 1] <= 0xD7):
            raise ValueError("expected JPEG restart marker")
        self.pos += 2


class _RestartMarker(Exception):
    pass


class _SegmentEnd(Exception):
    pass


def _huff_read(br: _BitReader, table: _HuffTable) -> int:
    if br.n < 16:
        br.prefetch(16)
    if br.n >= 16:
        # T.81 F.16: compare the 16-bit peek's length-L prefix against
        # maxcode[L]; canonical code order guarantees the first match is
        # the symbol — no per-bit reader calls on the hot path
        peek = (br.acc >> (br.n - 16)) & 0xFFFF
        maxc = table.maxcode
        for length in range(1, 17):
            c = peek >> (16 - length)
            if c <= maxc[length]:
                br.n -= length
                return table.vals[table.valptr[length] + c - table.mincode[length]]
        raise ValueError("invalid JPEG Huffman code")
    code = 0  # segment tail: per-bit so the terminating marker raises
    for length in range(1, 17):
        code = (code << 1) | br.bit()
        sym = table.slow.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _decode_block(
    br: _BitReader,
    dc_tab: _HuffTable,
    ac_tab: _HuffTable,
    pred: int,
) -> tuple[list[int], int]:
    zz = [0] * 64
    size = _huff_read(br, dc_tab)
    if size > 11:
        raise ValueError(f"JPEG DC category {size} out of range")
    diff = _extend(br.bits(size), size) if size else 0
    pred += diff
    zz[0] = pred
    i = 1
    while i < 64:
        sym = _huff_read(br, ac_tab)
        if sym == 0x00:  # EOB
            break
        run = sym >> 4
        size = sym & 0x0F
        if size == 0:
            if run != 15:
                raise ValueError(f"invalid JPEG AC symbol {sym:#x}")
            i += 16  # ZRL
            continue
        i += run
        if i >= 64:
            raise ValueError("JPEG AC run past end of block")
        zz[i] = _extend(br.bits(size), size)
        i += 1
    return zz, pred


def decode_jpeg(blob: bytes) -> np.ndarray:
    """Baseline JPEG -> (h,w) uint8 gray (1-component scan is the Y
    plane; 3-component YCbCr converts to RGB then gray = (r+g+b)//3,
    matching the BMP/PPM branches)."""
    try:
        return _decode_jpeg_inner(blob)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"malformed JPEG: {exc}") from exc


def _decode_jpeg_inner(blob: bytes) -> np.ndarray:
    if blob[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], _HuffTable] = {}
    frame: dict | None = None
    stores: list[np.ndarray] = []
    restart_interval = 0
    saw_scan = False

    while True:
        if pos + 2 > len(blob):
            raise ValueError("truncated JPEG (no EOI)")
        if blob[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}, got {blob[pos]:#x}")
        marker = blob[pos + 1]
        pos += 2
        if marker == 0xFF:  # fill byte before a marker
            pos -= 1
            continue
        if marker == 0xD8:  # stray SOI
            continue
        if marker == 0xD9:  # EOI: reconstruct from accumulated scans
            if frame is None or not saw_scan:
                raise ValueError("JPEG EOI before scan data")
            return _reconstruct(frame, qtables, stores)
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # standalone markers
        if pos + 2 > len(blob):
            raise ValueError("truncated JPEG segment header")
        (seglen,) = struct.unpack(">H", blob[pos : pos + 2])
        if seglen < 2 or pos + seglen > len(blob):
            raise ValueError("truncated JPEG segment")
        seg = blob[pos + 2 : pos + seglen]
        pos += seglen

        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0x0F
                i += 1
                n = 64 * (2 if pq else 1)
                if i + n > len(seg):
                    raise ValueError("truncated JPEG DQT")
                raw = (
                    np.frombuffer(seg[i : i + n], dtype=">u2")
                    if pq
                    else np.frombuffer(seg[i : i + n], dtype=np.uint8)
                ).astype(np.int64)
                tbl = np.zeros(64, dtype=np.int64)
                tbl[ZIGZAG] = raw
                qtables[tq] = tbl.reshape(8, 8)
                i += n
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0x0F
                if i + 17 > len(seg):
                    raise ValueError("truncated JPEG DHT")
                bits = [0] + list(seg[i + 1 : i + 17])
                nval = sum(bits)
                if i + 17 + nval > len(seg):
                    raise ValueError("truncated JPEG DHT values")
                vals = list(seg[i + 17 : i + 17 + nval])
                htables[(tc, th)] = _HuffTable(bits, vals)
                i += 17 + nval
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1/2 (progressive = C2)
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise NotImplementedError(
                    f"JPEG precision {prec} requires libjpeg; only 8-bit "
                    "decodes here"
                )
            if nc not in (1, 3):
                raise NotImplementedError(
                    f"JPEG with {nc} components (CMYK/unknown) requires "
                    "libjpeg; only 1 (gray) or 3 (YCbCr) decode here"
                )
            if h == 0 or w == 0:
                raise ValueError(f"JPEG with empty frame {w}x{h}")
            if frame is not None:
                raise ValueError("JPEG with multiple SOF frames")
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                ch, cv = hv >> 4, hv & 0x0F
                if not (1 <= ch <= 4 and 1 <= cv <= 4):
                    raise ValueError(f"JPEG sampling {ch}x{cv} invalid")
                comps.append({"id": cid, "h": ch, "v": cv, "tq": tq})
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            frame = {
                "h": h, "w": w, "comps": comps,
                "progressive": marker == 0xC2,
                "hmax": hmax, "vmax": vmax, "mcux": mcux, "mcuy": mcuy,
            }
            # one coefficient store per component, sized to the
            # interleaved MCU grid; every scan (interleaved or not,
            # first pass or refinement) accumulates into these.
            # Plain nested lists, not numpy: the scan decoders touch
            # coefficients one scalar at a time (AC refinement reads all
            # 63 per block per scan), and a list store is ~5x faster for
            # that access pattern; _reconstruct converts once (guide §4.2)
            stores = [
                [[0] * 64 for _ in range(mcux * c["h"] * mcuy * c["v"])]
                for c in comps
            ]
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xCF):
            raise NotImplementedError(
                "lossless/differential/hierarchical JPEG requires libjpeg; "
                "only baseline and progressive DCT decode here"
            )
        elif marker in (0xC9, 0xCA, 0xCB, 0xCD, 0xCE):
            raise NotImplementedError(
                "arithmetic-coded JPEG requires libjpeg; only Huffman "
                "coding decodes here"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            if len(seg) < 1 + 2 * ns + 3:
                raise ValueError("truncated JPEG SOS header")
            scan = []
            for c in range(ns):
                cs, tdta = seg[1 + 2 * c : 3 + 2 * c]
                ci = next(
                    (i for i, x in enumerate(frame["comps"]) if x["id"] == cs),
                    None,
                )
                if ci is None:
                    raise ValueError(f"JPEG scan references unknown comp {cs}")
                scan.append((ci, frame["comps"][ci], tdta >> 4, tdta & 0x0F))
            ss, se, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            if not frame["progressive"]:
                ss, se, ah, al = 0, 63, 0, 0  # sequential scans are full
            if ss > se or se > 63 or al > 13:
                raise ValueError(f"JPEG scan spectral range {ss}..{se} invalid")
            if frame["progressive"] and ss == 0 and se != 0:
                raise ValueError("JPEG progressive DC scan must have Se=0")
            if ss > 0 and ns != 1:
                raise ValueError("JPEG progressive AC scan must be 1-component")
            pos = _decode_scan_into(
                blob, pos, frame, scan, htables, restart_interval,
                stores, ss, se, ah, al,
            )
            saw_scan = True
        # APPn / COM / DNL etc.: skipped


def _refine_nonzero(br: _BitReader, coeff: np.ndarray, k: int, p1: int) -> None:
    """AC refinement correction bit for an already-nonzero coefficient
    (T.81 G.1.2.3 / libjpeg semantics: a 1-bit adds p1 toward the sign
    if that magnitude bit is not already set)."""
    if br.bit():
        if coeff[k] > 0 and not (coeff[k] & p1):
            coeff[k] += p1
        elif coeff[k] < 0 and not (-coeff[k] & p1):
            coeff[k] -= p1


def _decode_scan_into(
    blob: bytes,
    pos: int,
    frame: dict,
    scan: list,
    htables: dict,
    restart_interval: int,
    stores: list[list[list[int]]],
    ss: int,
    se: int,
    ah: int,
    al: int,
) -> int:
    """Decode one scan's entropy data into the coefficient stores;
    returns the position of the next marker. Handles sequential full
    scans, progressive DC first/refinement (interleaved or not), and
    progressive AC first/refinement (always single-component)."""
    h, w = frame["h"], frame["w"]
    hmax, vmax = frame["hmax"], frame["vmax"]
    mcux, mcuy = frame["mcux"], frame["mcuy"]
    dc_scan = ss == 0
    for _ci, _comp, td, ta in scan:
        if dc_scan and ah == 0 and (0, td) not in htables:
            raise ValueError("JPEG missing DC Huffman table for scan")
        if se > 0 and (1, ta) not in htables:
            raise ValueError("JPEG missing AC Huffman table for scan")

    interleaved = len(scan) > 1
    if interleaved:
        units = mcux * mcuy  # MCU-interleaved
    else:
        # non-interleaved: the component's own block grid (T.81 A.2.2)
        ci, comp, _td, _ta = scan[0]
        cw = -(-w * comp["h"] // hmax)
        chh = -(-h * comp["v"] // vmax)
        units = (-(-cw // 8)) * (-(-chh // 8))

    br = _BitReader(blob, pos)
    preds = [0] * len(scan)
    eobrun = 0
    p1 = 1 << al

    def decode_unit(u: int) -> None:
        nonlocal eobrun
        for si, (ci, comp, td, ta) in enumerate(scan):
            bw_c = mcux * comp["h"]
            if interleaved:
                my, mx = divmod(u, mcux)
                blocks = [
                    (my * comp["v"] + by) * bw_c + mx * comp["h"] + bx
                    for by in range(comp["v"])
                    for bx in range(comp["h"])
                ]
            else:
                cw = -(-w * comp["h"] // hmax)
                nbw = -(-cw // 8)
                r, c = divmod(u, nbw)
                blocks = [r * bw_c + c]
            for idx in blocks:
                coeff = stores[ci][idx]
                if not frame["progressive"]:
                    zz, preds[si] = _decode_block(
                        br, htables[(0, td)], htables[(1, ta)], preds[si]
                    )
                    coeff[:] = zz
                elif dc_scan and ah == 0:  # DC first
                    size = _huff_read(br, htables[(0, td)])
                    if size > 11:
                        raise ValueError(f"JPEG DC category {size} invalid")
                    diff = _extend(br.bits(size), size) if size else 0
                    preds[si] += diff
                    coeff[0] = preds[si] << al
                elif dc_scan:  # DC refinement: one bit per block
                    # DC uses the arithmetic (two's-complement) point
                    # transform, so |= works for negatives too
                    if br.bit():
                        coeff[0] |= p1
                elif ah == 0:  # AC first (spectral band ss..se)
                    if eobrun:
                        eobrun -= 1
                        continue
                    k = ss
                    while k <= se:
                        sym = _huff_read(br, htables[(1, ta)])
                        r, s = sym >> 4, sym & 0x0F
                        if s == 0:
                            if r < 15:
                                eobrun = (1 << r) - 1
                                if r:
                                    eobrun += br.bits(r)
                                break
                            k += 16  # ZRL
                            continue
                        k += r
                        if k > se:
                            raise ValueError("JPEG AC run past band end")
                        coeff[k] = _extend(br.bits(s), s) << al
                        k += 1
                else:  # AC refinement (G.1.2.3)
                    k = ss
                    if eobrun == 0:
                        while k <= se:
                            sym = _huff_read(br, htables[(1, ta)])
                            r, s = sym >> 4, sym & 0x0F
                            newval = 0
                            if s == 0:
                                if r < 15:  # EOBn: finish block below
                                    eobrun = 1 << r
                                    if r:
                                        eobrun += br.bits(r)
                                    break
                                # ZRL: r stays 15 -> skip 16 zero-history
                            elif s == 1:
                                newval = p1 if br.bit() else -p1
                            else:
                                raise ValueError(
                                    f"JPEG AC refinement size {s} invalid"
                                )
                            while k <= se:
                                if coeff[k] != 0:
                                    _refine_nonzero(br, coeff, k, p1)
                                else:
                                    if r == 0:
                                        break
                                    r -= 1
                                k += 1
                            if newval and k <= se:
                                coeff[k] = newval
                            k += 1
                    if eobrun > 0:
                        while k <= se:
                            if coeff[k] != 0:
                                _refine_nonzero(br, coeff, k, p1)
                            k += 1
                        eobrun -= 1

    u = 0
    while u < units:
        if restart_interval and u and u % restart_interval == 0:
            br.sync_restart()
            preds = [0] * len(scan)
            eobrun = 0
        try:
            decode_unit(u)
        except _RestartMarker as exc:
            raise ValueError(
                f"unexpected JPEG restart marker RST{exc.args[0] - 0xD0} "
                f"inside unit {u}"
            ) from None
        except _SegmentEnd:
            raise ValueError(
                f"JPEG entropy data ended at unit {u}/{units}"
            ) from None
        u += 1

    # skip pad bits / dangling restart markers to the next marker
    p = br.pos
    while p + 1 < len(blob):
        if blob[p] == 0xFF:
            nxt = blob[p + 1]
            if nxt == 0x00:
                p += 2  # stuffed data byte in the pad tail
            elif 0xD0 <= nxt <= 0xD7:
                p += 2  # dangling restart
            elif nxt == 0xFF:
                p += 1  # fill
            else:
                return p
        else:
            p += 1
    raise ValueError("truncated JPEG after scan (no terminating marker)")


def _reconstruct(
    frame: dict, qtables: dict[int, np.ndarray], stores: list[np.ndarray]
) -> np.ndarray:
    """Dequantize + inverse zigzag + batched IDCT + chroma upsample +
    color convert over the accumulated coefficient stores."""
    h, w = frame["h"], frame["w"]
    hmax, vmax = frame["hmax"], frame["vmax"]
    mcux, mcuy = frame["mcux"], frame["mcuy"]
    planes = []
    for ci, comp in enumerate(frame["comps"]):
        if comp["tq"] not in qtables:
            raise ValueError(f"JPEG missing quant table {comp['tq']}")
        q = qtables[comp["tq"]]
        zz = np.asarray(stores[ci], dtype=np.float64)
        coeffs = np.zeros_like(zz)
        coeffs[:, ZIGZAG] = zz
        coeffs = coeffs.reshape(-1, 8, 8) * q[None, :, :]
        pix = np.einsum("ji,njk,kl->nil", _C, coeffs, _C)
        pix = np.clip(np.round(pix) + 128.0, 0, 255).astype(np.uint8)
        ch, cv = comp["h"], comp["v"]
        bw_c, bh_c = mcux * ch, mcuy * cv
        plane = (
            pix.reshape(bh_c, bw_c, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh_c * 8, bw_c * 8)
        )
        # crop to the component's true size, then upsample nearest to full
        cw = -(-w * ch // hmax)
        chh = -(-h * cv // vmax)
        plane = plane[:chh, :cw]
        if ch != hmax or cv != vmax:
            plane = np.repeat(
                np.repeat(plane, vmax // cv, axis=0), hmax // ch, axis=1
            )
        planes.append(plane[:h, :w])

    if len(planes) == 1:
        return planes[0]
    y, cb, cr = (p.astype(np.float64) for p in planes)
    r = np.clip(np.round(y + 1.402 * (cr - 128.0)), 0, 255)
    g = np.clip(
        np.round(y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)), 0, 255
    )
    b = np.clip(np.round(y + 1.772 * (cb - 128.0)), 0, 255)
    return ((r + g + b).astype(np.uint32) // 3).astype(np.uint8)


# ------------------------------------------------------- MJPEG-in-AVI

def encode_avi_mjpeg(
    frames: np.ndarray, fps: int = 10, quant: np.ndarray | None = None
) -> bytes:
    """(n, h, w) uint8 gray frames -> RIFF AVI container with an 'MJPG'
    video stream whose '00dc' chunks are baseline JPEGs (one per
    frame) — the classic motion-JPEG layout every AVI demuxer reads."""
    n, h, w = frames.shape

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return fourcc + struct.pack("<I", len(body)) + body + pad

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    frame_blobs = [encode_jpeg(f, quant=quant) for f in frames]
    max_bytes = max(len(b) for b in frame_blobs) if frame_blobs else 0

    avih = struct.pack(
        "<14I",
        1_000_000 // fps,  # microseconds per frame
        max_bytes * fps,   # max bytes/sec
        0, 0x10,           # padding, flags (HASINDEX)
        n, 0, 1, max_bytes, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"MJPG", 0, 0, 0, 0, 1, fps, 0, n, max_bytes,
        0xFFFFFFFF, 0, 0, 0, w, h,
    )
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG",
                       w * h * 3, 0, 0, 0, 0)
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_body = b"".join(chunk(b"00dc", b) for b in frame_blobs)
    movi = lst(b"movi", movi_body)
    # idx1: one entry per frame (offset relative to 'movi' fourcc)
    idx_entries = []
    off = 4
    for b in frame_blobs:
        idx_entries.append(struct.pack("<4sII I", b"00dc", 0x10, off, len(b)))
        off += 8 + len(b) + (len(b) % 2)
    idx1 = chunk(b"idx1", b"".join(idx_entries))
    riff_body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def decode_avi_mjpeg(blob: bytes, decode_frame=None) -> np.ndarray:
    """RIFF AVI -> (n, h, w) uint8 frame stack. Walks the chunk tree to
    the 'movi' LIST and decodes every video chunk ('##dc'/'##db');
    MJPG chunks are JPEGs (decoded here); uncompressed DIB chunks gate.
    ``decode_frame`` overrides the per-chunk decoder (decode_image for
    the multimodal dispatch, so FIMG-in-AVI also works)."""
    if decode_frame is None:
        decode_frame = decode_jpeg
    try:
        return _decode_avi_inner(blob, decode_frame)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"malformed AVI: {exc}") from exc


def _decode_avi_inner(blob: bytes, decode_frame) -> np.ndarray:
    if blob[:4] != b"RIFF" or blob[8:12] != b"AVI ":
        raise ValueError("not an AVI (missing RIFF/AVI header)")
    (riff_len,) = struct.unpack("<I", blob[4:8])
    end = min(len(blob), 8 + riff_len)
    if end < 12:
        raise ValueError("truncated AVI header")

    frames: list[np.ndarray] = []

    def walk(pos: int, limit: int) -> None:
        while pos + 8 <= limit:
            fourcc = blob[pos : pos + 4]
            (size,) = struct.unpack("<I", blob[pos + 4 : pos + 8])
            body_start = pos + 8
            body_end = body_start + size
            if body_end > limit:
                raise ValueError(
                    f"AVI chunk {fourcc!r} overruns container "
                    f"({body_end} > {limit})"
                )
            if fourcc == b"LIST":
                kind = blob[body_start : body_start + 4]
                if kind in (b"movi", b"hdrl", b"rec "):
                    walk(body_start + 4, body_end)
            elif fourcc[2:4] in (b"dc", b"db") and fourcc[:2].isdigit():
                # zero-length video chunks are the standard AVI
                # dropped-frame placeholder (capture tools emit them to
                # keep audio sync) — skip, don't fail the whole file
                if size:
                    frames.append(decode_frame(blob[body_start:body_end]))
            pos = body_end + (size % 2)  # chunks are word-aligned

    walk(12, end)
    if not frames:
        raise ValueError("AVI contains no video frames")
    shape0 = frames[0].shape
    if any(f.shape != shape0 for f in frames):
        raise ValueError(
            f"AVI frames disagree on dimensions: {sorted({f.shape for f in frames})}"
        )
    return np.stack(frames)


# ---------------------------------------------------- progressive encoder


def _prep_planes(
    image: np.ndarray, quant: np.ndarray, subsample: tuple[int, int]
) -> tuple[list[dict], list[np.ndarray]]:
    """Component metadata + quantized zigzag blocks (store-grid raster
    order, same layout the decoder accumulates into)."""
    if image.ndim == 2:
        plane = _pad_to_block(image, 8, 8)
        comps = [{
            "id": 1, "h": 1, "v": 1, "tq": 0, "dc": 0, "ac": 0,
            "bw": plane.shape[1] // 8,
            "nbw": -(-image.shape[1] // 8), "nbh": -(-image.shape[0] // 8),
        }]
        return comps, [_encode_component_blocks(plane, quant)]
    hs, vs = subsample
    rgb = image.astype(np.float64)
    y = 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
    cb = 128.0 - 0.168736 * rgb[:, :, 0] - 0.331264 * rgb[:, :, 1] + 0.5 * rgb[:, :, 2]
    cr = 128.0 + 0.5 * rgb[:, :, 0] - 0.418688 * rgb[:, :, 1] - 0.081312 * rgb[:, :, 2]
    yp = _pad_to_block(np.clip(np.round(y), 0, 255).astype(np.uint8), 8 * vs, 8 * hs)

    def sub(c: np.ndarray) -> np.ndarray:
        c = _pad_to_block(np.clip(np.round(c), 0, 255), vs, hs)
        hh, ww = c.shape
        cell = c.reshape(hh // vs, vs, ww // hs, hs).mean(axis=(1, 3))
        return _pad_to_block(np.clip(np.round(cell), 0, 255).astype(np.uint8), 8, 8)

    cbp, crp = sub(cb), sub(cr)
    h, w = image.shape[:2]
    comps = [
        {"id": 1, "h": hs, "v": vs, "tq": 0, "dc": 0, "ac": 0,
         "bw": yp.shape[1] // 8,
         "nbw": -(-w // 8), "nbh": -(-h // 8)},
        {"id": 2, "h": 1, "v": 1, "tq": 1, "dc": 1, "ac": 1,
         "bw": cbp.shape[1] // 8,
         "nbw": -(-(-(-w // hs)) // 8), "nbh": -(-(-(-h // vs)) // 8)},
        {"id": 3, "h": 1, "v": 1, "tq": 1, "dc": 1, "ac": 1,
         "bw": crp.shape[1] // 8,
         "nbw": -(-(-(-w // hs)) // 8), "nbh": -(-(-(-h // vs)) // 8)},
    ]
    return comps, [
        _encode_component_blocks(p, quant) for p in (yp, cbp, crp)
    ]


def _prog_ac_table() -> tuple[list[int], list[int]]:
    """AC Huffman table for progressive scans: the Annex-K baseline
    tables define no EOBn (n>0) symbols because sequential coding never
    emits them — progressive encoders ship their own per-scan tables
    (libjpeg optimizes per scan). This one is deliberately simple and
    complete: every (run, size<=10) symbol, EOB0..EOB14, and ZRL, all at
    a flat 8-bit code length (176 symbols <= 255, so the all-ones
    prefix stays unused as T.81 requires)."""
    vals = []
    for r in range(16):
        for s in range(11):
            if s == 0:
                vals.append(0xF0 if r == 15 else r << 4)  # ZRL / EOBn
            else:
                vals.append((r << 4) | s)
    bits = [0] * 17
    bits[8] = len(vals)
    return bits, vals


_PROG_AC = _prog_ac_table()


def _sos_segment(scan_comps: list[dict], ss: int, se: int, ah: int, al: int) -> bytes:
    body = bytes([len(scan_comps)])
    for c in scan_comps:
        body += bytes([c["id"], (c["dc"] << 4) | c["ac"]])
    body += bytes([ss, se, (ah << 4) | al])
    return b"\xff\xda" + struct.pack(">H", len(body) + 2) + body


def _flush_eobrun(bw: _BitWriter, ac_codes, eobrun: int, pending: list[int]) -> int:
    if eobrun:
        r = eobrun.bit_length() - 1
        code, length = ac_codes[r << 4]
        bw.put(code, length)
        if r:
            bw.put(eobrun - (1 << r), r)
        for bit in pending:
            bw.put(bit, 1)
        pending.clear()
    return 0


def encode_jpeg_progressive(
    image: np.ndarray,
    quant: np.ndarray | None = None,
    subsample: tuple[int, int] = (2, 2),
    restart_interval: int = 0,
) -> bytes:
    """Progressive JFIF (SOF2) encoder exercising every progressive
    decode path: interleaved DC first scan at Al=1, DC refinement at
    Ah=1, then per component an AC spectral scan 1..63 at Al=1 (EOBRUN
    coding) and its full refinement at Ah=1/Al=0 (correction bits,
    newly-nonzero insertion, EOB-run pending bits) — the same scan
    mechanics libjpeg's default progression uses. Lossless relative to
    baseline: identical coefficients, so identical decoded pixels."""
    if quant is None:
        quant = np.ones((8, 8), dtype=np.int64)
    quant = np.asarray(quant, dtype=np.int64)
    h, w = image.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    comps, zzs = _prep_planes(image, quant, subsample)
    gray = len(comps) == 1

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00"
    out += _dqt_segment(0, quant)
    if not gray:
        out += _dqt_segment(1, quant)
    body = struct.pack(">BHHB", 8, h, w, len(comps))
    for c in comps:
        body += bytes([c["id"], (c["h"] << 4) | c["v"], c["tq"]])
    out += b"\xff\xc2" + struct.pack(">H", len(body) + 2) + body  # SOF2
    out += _dht_segment(0, 0, _STD_DC_LUM)
    out += _dht_segment(1, 0, _STD_AC_LUM)
    if not gray:
        out += _dht_segment(0, 1, _STD_DC_CHROM)
        out += _dht_segment(1, 1, _STD_AC_CHROM)

    dc_codes = [_huff_codes(*(_STD_DC_LUM if c["dc"] == 0 else _STD_DC_CHROM)) for c in comps]
    ac_codes = [_huff_codes(*(_STD_AC_LUM if c["ac"] == 0 else _STD_AC_CHROM)) for c in comps]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    def mcu_blocks(ci: int, mcu: int) -> list[int]:
        c = comps[ci]
        my, mx = divmod(mcu, mcux)
        return [
            (my * c["v"] + by) * c["bw"] + mx * c["h"] + bx
            for by in range(c["v"])
            for bx in range(c["h"])
        ]

    AL = 1  # two-pass successive approximation
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)

    bw = _BitWriter()
    rst = 0

    def scan_restart(unit: int) -> bool:
        """Emit an RSTn boundary before `unit` if due; True if emitted.
        Restart numbering cycles mod 8 and resets per scan."""
        nonlocal bw, rst
        if restart_interval and unit and unit % restart_interval == 0:
            out.extend(bw.flush())
            out.extend(bytes([0xFF, 0xD0 + (rst & 7)]))
            rst += 1
            bw = _BitWriter()
            return True
        return False

    # scan 1: DC first, all components, Al=1 (arithmetic point transform)
    out += _sos_segment(comps, 0, 0, 0, AL)
    bw, rst = _BitWriter(), 0
    preds = [0] * len(comps)
    for mcu in range(mcux * mcuy):
        if scan_restart(mcu):
            preds = [0] * len(comps)
        for ci in range(len(comps)):
            for idx in mcu_blocks(ci, mcu):
                v = int(zzs[ci][idx][0]) >> AL
                size, bits = _magnitude(v - preds[ci])
                preds[ci] = v
                code, length = dc_codes[ci][size]
                bw.put(code, length)
                if size:
                    bw.put(bits, size)
    out += bw.flush()

    # scan 2: DC refinement, Ah=1 Al=0 — one raw bit per block, MCU order
    out += _sos_segment(comps, 0, 0, AL, 0)
    bw, rst = _BitWriter(), 0
    for mcu in range(mcux * mcuy):
        scan_restart(mcu)
        for ci in range(len(comps)):
            for idx in mcu_blocks(ci, mcu):
                bw.put(int(zzs[ci][idx][0]) & 1, 1)
    out += bw.flush()

    # per component: AC first (Al=1) then AC refinement (Ah=1, Al=0),
    # non-interleaved over the component's true block grid. AC tables
    # are redefined mid-stream to the progressive table (EOBn symbols) —
    # the per-scan-DHT pattern real progressive encoders use.
    out += _dht_segment(1, 0, _PROG_AC)
    if not gray:
        out += _dht_segment(1, 1, _PROG_AC)
    ac_codes = [_huff_codes(*_PROG_AC) for _ in comps]
    for ci, c in enumerate(comps):
        order = [
            r * c["bw"] + col
            for r in range(c["nbh"])
            for col in range(c["nbw"])
        ]
        # AC first at Al: values sign-magnitude shifted
        out += _sos_segment([c], 1, 63, 0, AL)
        bw, rst = _BitWriter(), 0
        eobrun, pending = 0, []
        for unit, idx in enumerate(order):
            # EOB runs may not cross a restart boundary (T.81 G.1.2.2)
            if restart_interval and unit and unit % restart_interval == 0:
                eobrun = _flush_eobrun(bw, ac_codes[ci], eobrun, pending)
            scan_restart(unit)
            blk = zzs[ci][idx]
            tv = [
                (1 if int(v) > 0 else -1) * (abs(int(v)) >> AL)
                for v in blk[1:64]
            ]
            nz = [k for k, v in enumerate(tv) if v]
            if not nz:
                eobrun += 1
                if eobrun == 0x7FFF:
                    eobrun = _flush_eobrun(bw, ac_codes[ci], eobrun, pending)
                continue
            eobrun = _flush_eobrun(bw, ac_codes[ci], eobrun, pending)
            run = 0
            last = nz[-1]
            for k in range(last + 1):
                if tv[k] == 0:
                    run += 1
                    continue
                while run > 15:
                    code, length = ac_codes[ci][0xF0]
                    bw.put(code, length)
                    run -= 16
                size, bits = _magnitude(tv[k])
                code, length = ac_codes[ci][(run << 4) | size]
                bw.put(code, length)
                bw.put(bits, size)
                run = 0
            if last < 62:
                eobrun += 1
        _flush_eobrun(bw, ac_codes[ci], eobrun, pending)
        out += bw.flush()

        # AC refinement: Ah=AL, Al=0
        out += _sos_segment([c], 1, 63, AL, 0)
        bw, rst = _BitWriter(), 0
        eobrun, pending = 0, []
        for unit, idx in enumerate(order):
            if restart_interval and unit and unit % restart_interval == 0:
                eobrun = _flush_eobrun(bw, ac_codes[ci], eobrun, pending)
            scan_restart(unit)
            blk = zzs[ci][idx]
            av = [abs(int(v)) for v in blk[1:64]]
            sg = [1 if int(v) >= 0 else -1 for v in blk[1:64]]
            hist = [a >> AL for a in av]  # magnitude after the first pass
            newly = [
                k for k in range(63) if hist[k] == 0 and av[k] != 0
            ]
            if not newly:
                # no new nonzeros: whole block folds into the EOB run,
                # its correction bits go to the pending queue
                pending.extend(av[k] & 1 for k in range(63) if hist[k])
                eobrun += 1
                if eobrun == 0x7FFF:
                    eobrun = _flush_eobrun(bw, ac_codes[ci], eobrun, pending)
                continue
            eobrun = _flush_eobrun(bw, ac_codes[ci], eobrun, pending)
            run = 0
            corr: list[int] = []
            last_new = newly[-1]
            for k in range(last_new + 1):
                if hist[k]:
                    corr.append(av[k] & 1)
                elif av[k] == 0:
                    run += 1
                    if run == 16:
                        code, length = ac_codes[ci][0xF0]
                        bw.put(code, length)
                        for bit in corr:
                            bw.put(bit, 1)
                        corr = []
                        run = 0
                else:  # newly nonzero at this precision
                    code, length = ac_codes[ci][(run << 4) | 1]
                    bw.put(code, length)
                    bw.put(1 if sg[k] > 0 else 0, 1)
                    for bit in corr:
                        bw.put(bit, 1)
                    corr = []
                    run = 0
            # tail after the last newly-nonzero coeff: the decoder needs
            # an EOB to close the block (it would otherwise read another
            # symbol); its history-nonzero correction bits ride along as
            # this EOB run's pending bits. A block ending exactly at the
            # band edge needs no EOB (decoder's k walks past Se).
            if last_new < 62:
                pending.extend(
                    av[k] & 1 for k in range(last_new + 1, 63) if hist[k]
                )
                eobrun += 1
        _flush_eobrun(bw, ac_codes[ci], eobrun, pending)
        out += bw.flush()

    out += b"\xff\xd9"
    return bytes(out)
