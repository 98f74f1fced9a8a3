"""WebP lossless (VP8L) codec — pure Python + numpy, from scratch.

WebP is the third pillar of web image corpora next to JPEG and PNG;
this container has no libwebp, so the decode path here is real VP8L:
RIFF/WEBP container walk, the LSB-first bitstream, canonical Huffman
codes rebuilt from code lengths (including the code-length-code
metacode with 16/17/18 repeats and the "simple" 1-2 symbol form), the
green+length+cache / red / blue / alpha / distance five-tree groups,
meta-Huffman tiling, LZ77 backward references with the 120-entry
2-D distance neighborhood map, the color cache, and all four
transforms applied inversely in reverse order: PREDICTOR (all 14
modes), COLOR (cross-channel deltas), SUBTRACT-GREEN, and
COLOR-INDEXING (palette, including sub-byte pixel packing for
palettes of <=16 colors).

Lossy VP8 (boolean arithmetic coding + loop filters) gates on libwebp
by name. The encoder exists for round-trip tests: literal trees via
the code-length metacode, optional LZ77 run coding, subtract-green,
and packed palettes — VP8L is lossless, so every round trip must be
bit-exact.

Fail-closed like every codec here: malformed input raises ValueError.
"""

from __future__ import annotations

import struct

import numpy as np

# order in which code-length-code lengths are transmitted (VP8L spec)
_CLC_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]

# length/distance prefix codes: value = offset + extra bits
def _prefix_decode(code: int, br) -> int:
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _prefix_encode(value: int) -> tuple[int, int, int]:
    """value (>=1) -> (prefix code, extra bits value, extra bit count)."""
    v = value - 1
    if v < 4:
        return v, 0, 0
    bits = v.bit_length() - 1  # highest set bit
    extra = bits - 1
    second = (v >> extra) & 1
    code = 2 * bits + second
    return code, v & ((1 << extra) - 1), extra


# 2-D distance map: the first 120 "distances" are (dx, dy) neighbors
_DIST_MAP = [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (2, 8), (-2, 8), (8, 3), (-8, 3), (5, 7), (-5, 7), (7, 5),
    (-7, 5), (8, 4), (3, 8), (-3, 8), (8, 5), (-8, 5), (6, 7), (-6, 7),
]
# spec table is exactly 120 entries; pad check at import
assert len(_DIST_MAP) == 120


def _plane_code_to_distance(w: int, code: int) -> int:
    if code > 120:
        return code - 120
    dx, dy = _DIST_MAP[code - 1]
    dist = dy * w + dx
    return max(dist, 1)


class _LSBReader:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def read(self, nbits: int) -> int:
        while self.n < nbits:
            if self.pos >= len(self.data):
                raise ValueError("truncated VP8L bitstream")
            self.acc |= self.data[self.pos] << self.n
            self.pos += 1
            self.n += 8
        v = self.acc & ((1 << nbits) - 1)
        self.acc >>= nbits
        self.n -= nbits
        return v

    def peek(self, nbits: int) -> int:
        """Next ``nbits`` stream bits WITHOUT consuming; past stream end
        the missing high bits read as zero (a valid code is never longer
        than the remaining stream, so the table lookup that follows only
        ever consumes real bits)."""
        while self.n < nbits:
            if self.pos >= len(self.data):
                return self.acc & ((1 << nbits) - 1)
            self.acc |= self.data[self.pos] << self.n
            self.pos += 1
            self.n += 8
        return self.acc & ((1 << nbits) - 1)

    def consume(self, nbits: int) -> None:
        if nbits > self.n:
            raise ValueError("truncated VP8L bitstream")
        self.acc >>= nbits
        self.n -= nbits


class _LSBWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc |= (value & ((1 << nbits) - 1)) << self.n
        self.n += nbits
        while self.n >= 8:
            self.buf.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def write_many(self, vals, lens) -> None:
        """Bulk append of (value, nbits) pairs via numpy bit packing —
        the encoder's pixel loop emits a few hundred thousand codes per
        image and per-bit Python writes dominate its profile."""
        vals = np.asarray(vals, dtype=np.int64)
        lens = np.asarray(lens, dtype=np.int64)
        total = int(lens.sum())
        if not total:
            return
        offs = np.cumsum(lens) - lens
        j = np.arange(total, dtype=np.int64) - np.repeat(offs, lens)
        bits = ((np.repeat(vals, lens) >> j) & 1).astype(np.uint8)
        if self.n:  # fold the pending sub-byte accumulator in front
            pend = ((self.acc >> np.arange(self.n, dtype=np.int64)) & 1).astype(np.uint8)
            bits = np.concatenate([pend, bits])
        packed = np.packbits(bits, bitorder="little")
        nfull = bits.size // 8
        self.buf.extend(packed[:nfull].tobytes())
        rem = bits.size - nfull * 8
        self.acc = int(packed[nfull]) if rem else 0
        self.n = rem

    def bytes(self) -> bytes:
        out = bytearray(self.buf)
        if self.n:
            out.append(self.acc & 0xFF)
        return bytes(out)


_REV8 = [int(f"{b:08b}"[::-1], 2) for b in range(256)]


class _Huffman:
    """Canonical Huffman decoder from code lengths (VP8L convention:
    codes assigned in symbol order within each length, MSB-first code
    values read bit-by-bit from the LSB-first stream).

    Decoding is table-driven (guide §4.2 — replace the per-bit Python
    walk with one peek + one list lookup): ``lut[next_bits]`` packs
    (code length << 16 | symbol) for every possible window of
    ``self.bits`` upcoming stream bits. Codes longer than the table
    window (rare: only degenerate >11-bit codes) escape to the original
    bit-by-bit dict walk via a 0 sentinel."""

    _LUT_MAX_BITS = 11

    def __init__(self, lengths: list[int]) -> None:
        self.single: int | None = None
        nz = [(ln, sym) for sym, ln in enumerate(lengths) if ln > 0]
        if not nz:
            raise ValueError("VP8L Huffman code with no symbols")
        if len(nz) == 1:
            self.single = nz[0][1]
            return
        # kraft check + canonical assignment
        self.table: dict[tuple[int, int], int] = {}
        entries: list[tuple[int, int, int]] = []  # (sym, code, length)
        code = 0
        kraft = 0
        maxlen = max(ln for ln, _ in nz)
        for length in range(1, maxlen + 1):
            for ln, sym in nz:
                if ln == length:
                    self.table[(length, code)] = sym
                    entries.append((sym, code, length))
                    code += 1
                    kraft += 1 << (maxlen - length)
            code <<= 1
        if kraft != (1 << maxlen):
            raise ValueError("VP8L Huffman lengths are not a prefix code")
        bits = min(maxlen, self._LUT_MAX_BITS)
        self.bits = bits
        lut = np.zeros(1 << bits, dtype=np.int32)
        for sym, c, length in entries:
            if length <= bits:
                # stream presents the code MSB-first, the peeked window
                # is LSB-first: the low `length` bits of the window are
                # the BIT-REVERSED code; every high-bit continuation
                # maps to the same symbol
                rev = (_REV8[c & 0xFF] << 8 | _REV8[(c >> 8) & 0xFF]) >> (
                    16 - length
                )
                lut[rev :: 1 << length] = (length << 16) | sym
            # longer codes: their window slots keep the 0 sentinel (a
            # real entry is >= 1<<16) -> bit-by-bit fallback
        self.lut = lut.tolist()

    def read(self, br: _LSBReader) -> int:
        if self.single is not None:
            return self.single
        e = self.lut[br.peek(self.bits)]
        if e:
            br.consume(e >> 16)
            return e & 0xFFFF
        code = 0
        for length in range(1, 16):
            code = (code << 1) | br.read(1)
            sym = self.table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid VP8L Huffman code")


def _canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), same canonical order as _Huffman.
    A single-symbol code is zero bits wide (the decoder's `single`
    shortcut consumes nothing)."""
    nz = [(ln, sym) for sym, ln in enumerate(lengths) if ln > 0]
    if len(nz) == 1:
        return {nz[0][1]: (0, 0)}
    out: dict[int, tuple[int, int]] = {}
    code = 0
    maxlen = max((ln for ln, _ in nz), default=0)
    for length in range(1, maxlen + 1):
        for ln, sym in nz:
            if ln == length:
                out[sym] = (code, length)
                code += 1
        code <<= 1
    return out


def _emit_codes(codes: dict[int, tuple[int, int]]) -> dict[int, tuple[int, int]]:
    """symbol -> (bit-reversed code, length) for the LSB-first writer:
    a Huffman code is emitted MSB-first, which through an LSB-first bit
    packer equals one write of the bit-reversed value."""
    out = {}
    for sym, (code, width) in codes.items():
        if width:
            rev = (_REV8[code & 0xFF] << 8 | _REV8[(code >> 8) & 0xFF]) >> (
                16 - width
            )
        else:
            rev = 0
        out[sym] = (rev, width)
    return out


def _build_lengths(freqs: dict[int, int], alphabet: int, maxlen: int = 15) -> list[int]:
    """Length-limited Huffman code lengths from frequencies (package-
    merge-free heuristic: build Huffman, then clamp+rebalance — inputs
    here are small, and the decoder enforces the Kraft equality)."""
    import heapq

    syms = [s for s, f in freqs.items() if f > 0]
    lengths = [0] * alphabet
    if not syms:
        raise ValueError("empty alphabet")
    if len(syms) == 1:
        lengths[syms[0]] = 1
        return lengths
    # parent-pointer Huffman: identical (freq, insertion-uid) heap order
    # as the old group-concatenation form — every merge added +1 depth to
    # each member, i.e. a leaf's length is its tree depth — but O(n log n)
    # instead of quadratic tuple rebuilding
    leaves = [s for s, f in sorted(freqs.items()) if f > 0]
    heap = [(f, i) for i, (s, f) in enumerate(
        ((s, f) for s, f in sorted(freqs.items()) if f > 0)
    )]
    heapq.heapify(heap)
    nleaf = len(leaves)
    children: list[tuple[int, int]] = []  # node uid-nleaf -> (left, right)
    uid = nleaf
    while len(heap) > 1:
        f1, u1 = heapq.heappop(heap)
        f2, u2 = heapq.heappop(heap)
        children.append((u1, u2))
        heapq.heappush(heap, (f1 + f2, uid))
        uid += 1
    # depth-first walk from the root assigns leaf depths
    stack = [(heap[0][1], 0)]
    while stack:
        node, depth = stack.pop()
        if node < nleaf:
            lengths[leaves[node]] = depth
        else:
            left, right = children[node - nleaf]
            stack.append((left, depth + 1))
            stack.append((right, depth + 1))
    # clamp to maxlen, then repair the Kraft sum EXACTLY: the decoder
    # (like libwebp) rejects both over-subscribed AND incomplete codes
    limit = 1 << maxlen
    for s in range(alphabet):
        if lengths[s] > maxlen:
            lengths[s] = maxlen
    kraft = sum(1 << (maxlen - l) for l in lengths if l)
    # over-subscribed: deepen the shallowest leaves
    order = sorted((s for s in range(alphabet) if lengths[s]),
                   key=lambda x: lengths[x])
    for s in order:
        while kraft > limit and lengths[s] < maxlen:
            kraft -= 1 << (maxlen - lengths[s])
            lengths[s] += 1
            kraft += 1 << (maxlen - lengths[s])
    if kraft > limit:
        raise ValueError("cannot length-limit Huffman code")
    # incomplete: shorten the deepest leaves, largest safe gain first
    while kraft < limit:
        best = None
        for s in range(alphabet):
            if lengths[s] > 1:
                gain = 1 << (maxlen - lengths[s])  # halving the depth
                if kraft + gain <= limit and (best is None or gain > best[1]):
                    best = (s, gain)
        if best is None:
            raise ValueError("cannot complete Huffman code")
        lengths[best[0]] -= 1
        kraft += best[1]
    return lengths


def _read_code_lengths(br: _LSBReader, alphabet: int) -> list[int]:
    """One Huffman code: simple form or code-length-code form."""
    if br.read(1):  # simple
        nsym = br.read(1) + 1
        if br.read(1):  # first symbol is 8 bits
            sym0 = br.read(8)
        else:
            sym0 = br.read(1)
        lengths = [0] * alphabet
        if sym0 >= alphabet:
            raise ValueError("VP8L simple code symbol out of range")
        lengths[sym0] = 1
        if nsym == 2:
            sym1 = br.read(8)
            if sym1 >= alphabet:
                raise ValueError("VP8L simple code symbol out of range")
            lengths[sym1] = 1
        return lengths
    # full: code lengths for the code-length code
    num_clc = br.read(4) + 4
    clc_lengths = [0] * 19
    for i in range(num_clc):
        clc_lengths[_CLC_ORDER[i]] = br.read(3)
    clc = _Huffman(clc_lengths)
    if br.read(1):  # use length (max symbol bound)
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet
    lengths = [0] * alphabet
    prev_len = 8
    i = 0
    while i < alphabet and max_symbol > 0:
        max_symbol -= 1
        s = clc.read(br)
        if s < 16:
            lengths[i] = s
            i += 1
            if s:
                prev_len = s
        elif s == 16:
            for _ in range(3 + br.read(2)):
                if i >= alphabet:
                    raise ValueError("VP8L repeat past alphabet end")
                lengths[i] = prev_len
                i += 1
        elif s == 17:
            i += 3 + br.read(3)
        else:  # 18
            i += 11 + br.read(7)
        if i > alphabet:
            raise ValueError("VP8L code lengths overflow alphabet")
    return lengths


def _write_code_lengths(bw: _LSBWriter, lengths: list[int]) -> None:
    """Encoder: emit a code via the full code-length-code form (no
    repeats — simple and sufficient)."""
    nz = [ln for ln in lengths if ln]
    syms = [s for s, ln in enumerate(lengths) if ln]
    # the simple form carries symbols in at most 8 bits — length/cache
    # codes (>= 256) can NEVER use it (truncation would silently corrupt
    # the tree)
    if len(nz) <= 2 and all(s < 256 for s in syms):
        bw.write(1, 1)  # simple
        bw.write(len(syms) - 1, 1)
        bw.write(1, 1)  # 8-bit first symbol
        bw.write(syms[0], 8)
        if len(syms) == 2:
            bw.write(syms[1], 8)
        return
    bw.write(0, 1)
    # code-length code over the length symbols 0..15 actually used
    freqs: dict[int, int] = {}
    for ln in lengths:
        freqs[ln] = freqs.get(ln, 0) + 1
    clc_lengths = _build_lengths(freqs, 19, maxlen=7)
    # transmit in _CLC_ORDER, enough entries to cover every used symbol
    used = max(
        (i for i, s in enumerate(_CLC_ORDER) if clc_lengths[s]), default=0
    )
    num_clc = max(4, used + 1)
    bw.write(num_clc - 4, 4)
    for i in range(num_clc):
        bw.write(clc_lengths[_CLC_ORDER[i]], 3)
    bw.write(0, 1)  # no max-symbol shortcut
    codes = _emit_codes(_canonical_codes(clc_lengths))
    vals: list[int] = []
    widths: list[int] = []
    for ln in lengths:
        rev, width = codes[ln]
        vals.append(rev)
        widths.append(width)
    bw.write_many(vals, widths)


# predictor modes (VP8L spec 4.2.2); a = left, b = top, c = top-left,
# d = top-right; all arithmetic per channel uint8 with wraparound
def _avg2(x, y):
    return (x.astype(np.uint16) + y.astype(np.uint16)) // 2


def _clamp_add_subtract_full(a, b, c):
    v = a.astype(np.int16) + b.astype(np.int16) - c.astype(np.int16)
    return np.clip(v, 0, 255)


def _clamp_add_subtract_half(a, c):
    v = a.astype(np.int16)  # a here is avg2 result
    d = v - c.astype(np.int16)
    # C integer division truncates toward zero; // floors — they differ
    # for negative odd deltas and real libwebp streams hit that
    half = np.sign(d) * (np.abs(d) >> 1)
    return np.clip(v + half, 0, 255)


def _select(l, t, tl):
    # Manhattan distance in ARGB space decides left vs top
    pl = l.astype(np.int16)
    pt = t.astype(np.int16)
    ptl = tl.astype(np.int16)
    p = pl + pt - ptl
    pdl = np.abs(p - pl).sum()
    pdt = np.abs(p - pt).sum()
    return l if pdl < pdt else t


def _predict_pixel(argb: np.ndarray, y: int, x: int, mode: int) -> np.ndarray:
    """The predictor for pixel (y, x) given already-final pixels above
    and to the left (shared by the inverse transform and by the test
    encoder's forward pass)."""
    w = argb.shape[1]
    if x == 0 and y == 0:
        return np.array([255, 0, 0, 0], dtype=np.uint8)
    if y == 0:
        return argb[0, x - 1]
    if x == 0:
        return argb[y - 1, 0]
    left = argb[y, x - 1]
    top = argb[y - 1, x]
    tl = argb[y - 1, x - 1]
    # TR is the pixel at flat index i - width + 1: for the rightmost
    # column that wraps to the CURRENT row's leftmost pixel (already
    # decoded) — libwebp/RFC semantics, not zero
    tr = argb[y - 1, x + 1] if x + 1 < w else argb[y, 0]
    if mode == 0:
        return np.array([255, 0, 0, 0], dtype=np.uint8)
    if mode == 1:
        return left
    if mode == 2:
        return top
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _avg2(_avg2(left, tr), top).astype(np.uint8)
    if mode == 6:
        return _avg2(left, tl).astype(np.uint8)
    if mode == 7:
        return _avg2(left, top).astype(np.uint8)
    if mode == 8:
        return _avg2(tl, top).astype(np.uint8)
    if mode == 9:
        return _avg2(top, tr).astype(np.uint8)
    if mode == 10:
        return _avg2(_avg2(left, tl), _avg2(top, tr)).astype(np.uint8)
    if mode == 11:
        return _select(left, top, tl)
    if mode == 12:
        return _clamp_add_subtract_full(left, top, tl).astype(np.uint8)
    if mode == 13:
        return _clamp_add_subtract_half(_avg2(left, top), tl).astype(np.uint8)
    raise ValueError(f"VP8L predictor mode {mode} invalid")


def _apply_inverse_predictor(argb: np.ndarray, modes: np.ndarray, bs: int) -> None:
    """In-place inverse predictor transform. argb: (h, w, 4) uint8
    (A,R,G,B); modes: per-tile mode ids (green channel of the subimage)."""
    h, w = argb.shape[:2]
    for y in range(h):
        for x in range(w):
            mode = int(modes[y >> bs, x >> bs])
            pred = _predict_pixel(argb, y, x, mode)
            argb[y, x] = argb[y, x] + pred  # uint8 wraparound


def _ct_delta(t: np.ndarray, c: np.ndarray) -> np.ndarray:
    """ColorTransformDelta: (int8(t) * int8(c)) >> 5, mod 256."""
    return (
        (t.astype(np.int8).astype(np.int32) * c.astype(np.int8).astype(np.int32))
        >> 5
    ).astype(np.uint8)


def _apply_inverse_color_transform(argb: np.ndarray, elems: np.ndarray, bs: int) -> None:
    """Spec channel mapping for a ColorTransformElement pixel:
    green_to_red lives in the BLUE channel, green_to_blue in GREEN,
    red_to_blue in RED."""
    h, w = argb.shape[:2]
    for y in range(h):
        ty = y >> bs
        cols = np.arange(w) >> bs
        g2r = elems[ty, :, 3][cols]
        g2b = elems[ty, :, 2][cols]
        r2b = elems[ty, :, 1][cols]
        g = argb[y, :, 2]
        argb[y, :, 1] = argb[y, :, 1] + _ct_delta(g2r, g)
        r = argb[y, :, 1]
        argb[y, :, 3] = argb[y, :, 3] + _ct_delta(g2b, g) + _ct_delta(r2b, r)


def decode_webp(blob: bytes) -> np.ndarray:
    """WebP -> (h, w) uint8 gray ((r+g+b)//3, same rule as the other
    image codecs; alpha dropped). Lossless VP8L decodes here; lossy VP8
    and VP8X-wrapped lossy gate on libwebp."""
    try:
        return _decode_webp_inner(blob)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"malformed WebP: {exc}") from exc


def _decode_webp_inner(blob: bytes) -> np.ndarray:
    if blob[:4] != b"RIFF" or blob[8:12] != b"WEBP":
        raise ValueError("not a WebP (missing RIFF/WEBP header)")
    pos = 12
    payload = None
    while pos + 8 <= len(blob):
        fourcc = blob[pos : pos + 4]
        (size,) = struct.unpack("<I", blob[pos + 4 : pos + 8])
        body = blob[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError("truncated WebP chunk")
        if fourcc == b"VP8L":
            payload = body
            break
        if fourcc == b"VP8 ":
            raise NotImplementedError(
                "lossy WebP (VP8 arithmetic coding) requires libwebp; "
                "only lossless VP8L decodes here"
            )
        pos += 8 + size + (size & 1)
    if payload is None:
        raise ValueError("WebP container has no VP8L (or VP8) chunk")
    if not payload or payload[0] != 0x2F:
        raise ValueError("bad VP8L signature byte")
    br = _LSBReader(payload, 1)
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha hint
    if br.read(3) != 0:
        raise ValueError("unsupported VP8L version")
    argb = _decode_image_stream(br, w, h, main=True)
    rgb = argb[:, :, 1:4].astype(np.uint32)
    return (rgb.sum(axis=2) // 3).astype(np.uint8)


def _decode_image_stream(
    br: _LSBReader, w: int, h: int, main: bool
) -> np.ndarray:
    """Decode one VP8L image stream -> (h, w, 4) uint8 ARGB."""
    transforms: list[tuple] = []
    xsize = w
    if main:
        while br.read(1):
            ttype = br.read(2)
            if any(t[0] == ttype for t in transforms):
                raise ValueError(f"duplicate VP8L transform {ttype}")
            if ttype == 2:  # subtract green
                transforms.append((2,))
            elif ttype in (0, 1):  # predictor / color
                size_bits = br.read(3) + 2
                tw = (xsize + (1 << size_bits) - 1) >> size_bits
                th = (h + (1 << size_bits) - 1) >> size_bits
                sub = _decode_image_stream(br, tw, th, main=False)
                transforms.append((ttype, size_bits, sub))
            elif ttype == 3:  # color indexing
                pal_size = br.read(8) + 1
                pal = _decode_image_stream(br, pal_size, 1, main=False)
                # palette pixels are delta-coded left-to-right
                pal = np.cumsum(pal.astype(np.int64), axis=1).astype(np.uint8)
                if pal_size <= 2:
                    width_bits = 3
                elif pal_size <= 4:
                    width_bits = 2
                elif pal_size <= 16:
                    width_bits = 1
                else:
                    width_bits = 0
                transforms.append((3, width_bits, pal[0]))
                xsize = (xsize + (1 << width_bits) - 1) >> width_bits
            else:
                raise ValueError(f"reserved VP8L transform {ttype}")

    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError(f"VP8L color cache bits {cache_bits} invalid")
    cache_size = (1 << cache_bits) if cache_bits else 0

    meta = None
    meta_bits = 0
    num_groups = 1
    if main and br.read(1):  # meta-Huffman
        meta_bits = br.read(3) + 2
        mw = (xsize + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        meta_img = _decode_image_stream(br, mw, mh, main=False)
        # group index = (red << 8) | green
        meta = (
            meta_img[:, :, 1].astype(np.int32) << 8
        ) | meta_img[:, :, 2].astype(np.int32)
        num_groups = int(meta.max()) + 1

    groups = []
    for _ in range(num_groups):
        green = _Huffman(_read_code_lengths(br, 256 + 24 + cache_size))
        red = _Huffman(_read_code_lengths(br, 256))
        blue = _Huffman(_read_code_lengths(br, 256))
        alpha = _Huffman(_read_code_lengths(br, 256))
        dist = _Huffman(_read_code_lengths(br, 40))
        groups.append((green, red, blue, alpha, dist))

    npix = xsize * h
    # packed 32-bit ARGB in a Python list: scalar numpy writes per pixel
    # cost ~10x a list store, and the whole surface unpacks vectorized
    # at the end (guide §4.2)
    out: list[int] = [0] * npix
    cache = [0] * cache_size
    i = 0
    while i < npix:
        if meta is not None:
            y, x = divmod(i, xsize)
            g = groups[int(meta[y >> meta_bits, x >> meta_bits])]
        else:
            g = groups[0]
        green, red, blue, alpha, dist_tree = g
        sym = green.read(br)
        if sym < 256:
            rr = red.read(br)
            bb = blue.read(br)
            aa = alpha.read(br)
            argb32 = (aa << 24) | (rr << 16) | (sym << 8) | bb
            out[i] = argb32
            if cache_size:
                cache[(argb32 * 0x1E35A7BD) >> (32 - cache_bits) & (cache_size - 1)] = argb32
            i += 1
        elif sym < 256 + 24:
            length = _prefix_decode(sym - 256, br)
            dcode = dist_tree.read(br)
            dval = _prefix_decode(dcode, br)
            dist = _plane_code_to_distance(xsize, dval)
            if dist > i:
                raise ValueError("VP8L backward reference before start")
            if i + length > npix:
                raise ValueError("VP8L backward reference past end")
            if cache_size:
                for k in range(i, i + length):
                    argb32 = out[k - dist]
                    out[k] = argb32
                    cache[(argb32 * 0x1E35A7BD) >> (32 - cache_bits) & (cache_size - 1)] = argb32
            elif dist >= length:
                out[i : i + length] = out[i - dist : i - dist + length]
            else:
                for k in range(i, i + length):
                    out[k] = out[k - dist]
            i += length
        else:
            out[i] = cache[sym - 256 - 24]
            i += 1

    packed = np.array(out, dtype=np.uint32)
    argb = np.empty((npix, 4), dtype=np.uint8)
    argb[:, 0] = packed >> 24
    argb[:, 1] = (packed >> 16) & 0xFF
    argb[:, 2] = (packed >> 8) & 0xFF
    argb[:, 3] = packed & 0xFF
    argb = argb.reshape(h, xsize, 4)

    # inverse transforms, reverse order
    for t in reversed(transforms):
        if t[0] == 2:  # add green back
            g = argb[:, :, 2]
            argb[:, :, 1] = argb[:, :, 1] + g
            argb[:, :, 3] = argb[:, :, 3] + g
        elif t[0] == 0:
            _apply_inverse_predictor(argb, t[2][:, :, 2], t[1])
        elif t[0] == 1:
            _apply_inverse_color_transform(argb, t[2], t[1])
        elif t[0] == 3:
            width_bits, pal = t[1], t[2]
            if width_bits:
                ppb = 1 << width_bits  # pixels per byte... inverse below
                bits = 8 >> width_bits
                mask = (1 << bits) - 1
                idx = np.zeros((h, (xsize << width_bits)), dtype=np.int64)
                packed = argb[:, :, 2].astype(np.int64)  # green carries indices
                for sub in range(ppb):
                    idx[:, sub::ppb] = (packed >> (sub * bits)) & mask
                idx = idx[:, : w]
            else:
                idx = argb[:, :, 2].astype(np.int64)[:, :w]
            if int(idx.max()) >= pal.shape[0]:
                raise ValueError("VP8L palette index out of range")
            argb = pal[idx]
    if argb.shape[1] != w:
        argb = argb[:, :w]
    return argb


# ---------------------------------------------------------------- encoder


def _encode_trees_and_pixels(
    bw: _LSBWriter,
    pixels: np.ndarray,
    use_lz77: bool,
    cache_bits: int = 0,
    main: bool = True,
) -> None:
    """Entropy-code one image stream body (no transforms here): color
    cache header, no meta-Huffman, 5 trees, pixel data. ``pixels`` is
    (n, 4) uint8 ARGB in raster order."""
    n = pixels.shape[0]
    cache_size = (1 << cache_bits) if cache_bits else 0
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)

    # First pass: tokenize (so histograms match the emitted symbols).
    # Per-pixel state (cache hits, run splits) is inherently sequential,
    # but the per-pixel WORK is precomputed vectorized: distance-1 run
    # lengths, packed argb words, cache hash slots.
    tokens: list[tuple] = []  # ('lit',a,r,g,b) | ('ref',len,dist) | ('cache',idx)
    cache = [None] * cache_size
    px = pixels.astype(np.int64)
    argb_words = (px[:, 0] << 24) | (px[:, 1] << 16) | (px[:, 2] << 8) | px[:, 3]
    if use_lz77 and n > 1:
        eq = (argb_words[1:] == argb_words[:-1]).astype(np.int64)
        # same[k] = consecutive eq-True starting at k (suffix run count),
        # vectorized via the cumsum-reset trick on the reversed array
        fr = eq[::-1]
        s = np.cumsum(fr)
        reset = np.maximum.accumulate(np.where(fr == 0, s, 0))
        same = (s - reset)[::-1]
    if cache_size:
        hash_slots = ((argb_words * 0x1E35A7BD) >> (32 - cache_bits)) & (cache_size - 1)
        hash_slots = hash_slots.tolist()
    words = argb_words.tolist()
    cols = px.T.tolist()  # [a_list, r_list, g_list, b_list]
    i = 0
    while i < n:
        if use_lz77 and i > 0:
            # pixels[i+r] == pixels[i+r-1] for r in [0, run): the chain of
            # predecessor-equal pixels starting at i is same[i-1]
            run = min(int(same[i - 1]), 4000) if n > 1 else 0
            if run >= 3:
                tokens.append(("ref", run, 1))
                i += run
                continue
        if cache_size:
            argb32 = words[i]
            hidx = hash_slots[i]
            if cache[hidx] == argb32:
                tokens.append(("cache", hidx))
                i += 1
                continue
            cache[hidx] = argb32
        tokens.append(("lit", cols[0][i], cols[1][i], cols[2][i], cols[3][i]))
        i += 1

    gfreq: dict[int, int] = {}
    rfreq: dict[int, int] = {}
    bfreq: dict[int, int] = {}
    afreq: dict[int, int] = {}
    dfreq: dict[int, int] = {}
    for t in tokens:
        if t[0] == "lit":
            _, aa, rr, gg, bb = t
            gfreq[gg] = gfreq.get(gg, 0) + 1
            rfreq[rr] = rfreq.get(rr, 0) + 1
            bfreq[bb] = bfreq.get(bb, 0) + 1
            afreq[aa] = afreq.get(aa, 0) + 1
        elif t[0] == "ref":
            code, _, _ = _prefix_encode(t[1])
            gfreq[256 + code] = gfreq.get(256 + code, 0) + 1
            dcode, _, _ = _prefix_encode(t[2] + 120)
            dfreq[dcode] = dfreq.get(dcode, 0) + 1
        else:
            gfreq[256 + 24 + t[1]] = gfreq.get(256 + 24 + t[1], 0) + 1
    # every tree must exist even if unused
    for f in (rfreq, bfreq, afreq):
        if not f:
            f[0] = 1
    if not dfreq:
        dfreq[0] = 1

    galph = 256 + 24 + cache_size
    glen = _build_lengths(gfreq, galph)
    rlen = _build_lengths(rfreq, 256)
    blen = _build_lengths(bfreq, 256)
    alen = _build_lengths(afreq, 256)
    dlen = _build_lengths(dfreq, 40)

    if main:  # sub-images (palette/tiles) carry no meta-Huffman bit
        bw.write(0, 1)
    for lengths in (glen, rlen, blen, alen, dlen):
        _write_code_lengths(bw, lengths)
    gc = _emit_codes(_canonical_codes(glen))
    rc = _emit_codes(_canonical_codes(rlen))
    bc = _emit_codes(_canonical_codes(blen))
    ac = _emit_codes(_canonical_codes(alen))
    dc = _emit_codes(_canonical_codes(dlen))

    # second pass: every emission is one (bit-reversed value, width) pair;
    # a single numpy bulk pack replaces per-bit writer calls (the former
    # profile hotspot at ~6 writer calls per pixel)
    vals: list[int] = []
    lens: list[int] = []
    emit = vals.append
    emitl = lens.append
    for t in tokens:
        if t[0] == "lit":
            _, aa, rr, gg, bb = t
            for v, w in (gc[gg], rc[rr], bc[bb], ac[aa]):
                emit(v)
                emitl(w)
        elif t[0] == "ref":
            _, length, dist = t
            code, extra, nbits = _prefix_encode(length)
            v, w = gc[256 + code]
            emit(v); emitl(w)
            emit(extra); emitl(nbits)
            dcode, dextra, dnbits = _prefix_encode(dist + 120)
            v, w = dc[dcode]
            emit(v); emitl(w)
            emit(dextra); emitl(dnbits)
        else:
            v, w = gc[256 + 24 + t[1]]
            emit(v); emitl(w)
    bw.write_many(vals, lens)


def _encode_subimage(bw: _LSBWriter, px: np.ndarray) -> None:
    """Encode an auxiliary image (tiles/palette): literal trees, no
    transforms, no meta bit."""
    _encode_trees_and_pixels(bw, px.reshape(-1, 4), use_lz77=False,
                             main=False)


def encode_webp(
    image: np.ndarray,
    use_lz77: bool = False,
    cache_bits: int = 0,
    subtract_green: bool = False,
    palette: bool = False,
    predictor: bool = False,
    color_transform: bool = False,
) -> bytes:
    """Lossless WebP (VP8L) encoder for fixtures/round trips. ``image``
    is (h,w) uint8 gray or (h,w,3) uint8 RGB. Options exercise distinct
    decoder paths: LZ77 run refs, the color cache, the subtract-green
    transform, and the color-indexing transform (with sub-byte packing
    when the distinct-color count is <= 16)."""
    if image.ndim == 2:
        rgb = np.stack([image] * 3, axis=2)
    else:
        rgb = image
    h, w = rgb.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    if h > 1 << 14 or w > 1 << 14:
        raise ValueError("image too large for VP8L (14-bit dims)")
    argb = np.zeros((h, w, 4), dtype=np.uint8)
    argb[:, :, 0] = 255
    argb[:, :, 1:4] = rgb

    bw = _LSBWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # alpha hint
    bw.write(0, 3)  # version

    if palette:
        flat = argb.reshape(-1, 4)
        colors, inverse = np.unique(flat, axis=0, return_inverse=True)
        if len(colors) > 256:
            raise ValueError("palette mode needs <= 256 distinct colors")
        bw.write(1, 1)  # transform present
        bw.write(3, 2)  # color indexing
        bw.write(len(colors) - 1, 8)
        # palette sub-image: 1-high, delta-coded literals
        deltas = colors.astype(np.int16).copy()
        deltas[1:] -= colors[:-1].astype(np.int16)
        pal_pixels = (deltas & 0xFF).astype(np.uint8)
        _encode_trees_and_pixels(bw, pal_pixels, use_lz77=False, main=False)
        npal = len(colors)
        if npal <= 2:
            width_bits = 3
        elif npal <= 4:
            width_bits = 2
        elif npal <= 16:
            width_bits = 1
        else:
            width_bits = 0
        idx = inverse.reshape(h, w).astype(np.int64)
        if width_bits:
            ppb = 1 << width_bits
            bits = 8 >> width_bits
            packed_w = (w + ppb - 1) // ppb
            packed = np.zeros((h, packed_w), dtype=np.int64)
            for sub in range(ppb):
                col = idx[:, sub::ppb]
                packed[:, : col.shape[1]] |= col << (sub * bits)
        else:
            packed = idx
            packed_w = w
        px = np.zeros((h, packed_w, 4), dtype=np.uint8)
        px[:, :, 0] = 255
        px[:, :, 2] = packed.astype(np.uint8)
        bw.write(0, 1)  # no more transforms
        _encode_trees_and_pixels(bw, px.reshape(-1, 4), use_lz77, cache_bits)
    else:
        if color_transform:
            # per-tile ColorTransformElements; forward transform uses
            # the ORIGINAL red for the red_to_blue delta (the inverse
            # recovers red first, then applies it to blue)
            size_bits = 3
            bs = 1 << size_bits
            tw, th = (w + bs - 1) >> size_bits, (h + bs - 1) >> size_bits
            elems = np.zeros((th, tw, 4), dtype=np.uint8)
            elems[:, :, 0] = 255
            for ty in range(th):
                for tx in range(tw):
                    elems[ty, tx, 3] = (17 * (ty + tx)) & 0xFF  # g2r
                    elems[ty, tx, 2] = (29 * tx + 5) & 0xFF     # g2b
                    elems[ty, tx, 1] = (41 * ty + 11) & 0xFF    # r2b
            bw.write(1, 1)
            bw.write(1, 2)  # color transform
            bw.write(size_bits - 2, 3)
            _encode_subimage(bw, elems)
            for y in range(h):
                ty = y >> size_bits
                cols = np.arange(w) >> size_bits
                g2r = elems[ty, :, 3][cols]
                g2b = elems[ty, :, 2][cols]
                r2b = elems[ty, :, 1][cols]
                g = argb[y, :, 2]
                r0 = argb[y, :, 1].copy()
                argb[y, :, 1] = r0 - _ct_delta(g2r, g)
                argb[y, :, 3] = (
                    argb[y, :, 3] - _ct_delta(g2b, g) - _ct_delta(r2b, r0)
                )
        if predictor:
            # per-tile predictor modes cycling through all 14; residuals
            # computed with the same _predict_pixel the decoder uses
            size_bits = 2
            bs = 1 << size_bits
            tw, th = (w + bs - 1) >> size_bits, (h + bs - 1) >> size_bits
            modes = np.zeros((th, tw, 4), dtype=np.uint8)
            modes[:, :, 0] = 255
            for ty in range(th):
                for tx in range(tw):
                    modes[ty, tx, 2] = (ty * tw + tx) % 14
            final = argb.copy()
            resid = np.zeros_like(argb)
            for y in range(h):
                for x in range(w):
                    m = int(modes[y >> size_bits, x >> size_bits, 2])
                    pred = _predict_pixel(final, y, x, m)
                    resid[y, x] = final[y, x] - pred  # uint8 wraparound
            bw.write(1, 1)
            bw.write(0, 2)  # predictor transform
            bw.write(size_bits - 2, 3)
            _encode_subimage(bw, modes)
            argb = resid
        if subtract_green:
            bw.write(1, 1)
            bw.write(2, 2)
            g = argb[:, :, 2]
            argb[:, :, 1] = argb[:, :, 1] - g
            argb[:, :, 3] = argb[:, :, 3] - g
        bw.write(0, 1)  # no (more) transforms
        _encode_trees_and_pixels(bw, argb.reshape(-1, 4), use_lz77, cache_bits)

    payload = bw.bytes()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff
