"""HTTP/2 cleartext (h2c, prior-knowledge) support for the API server —
stdlib only.

The reference serves HTTP/2 via axum/hyper and pins it with
``curl --http2-prior-knowledge`` (``roapi/tests/api_test.rs:247-277``).
This module implements the subset that serves that contract on the same
listening port as HTTP/1.1: the connection preface, the frame layer
(SETTINGS/PING/HEADERS/CONTINUATION/DATA/WINDOW_UPDATE/RST/GOAWAY), and
HPACK (RFC 7541) request-header decoding — static + dynamic table,
prefix integers, and the full Appendix B Huffman code — with responses
encoded as literal-without-indexing fields (always valid, no encoder
state). Flow control is honored by draining WINDOW_UPDATEs before
sending DATA beyond the peer's window.

The response is decided by ``server.http.respond`` — both protocol
fronts share it, and this module only frames what it returns.
"""

from __future__ import annotations

import struct
import threading

PREFACE_REST = b"\r\nSM\r\n\r\n"  # after the "PRI * HTTP/2.0\r\n" request line

# frame types
_DATA, _HEADERS, _PRIORITY, _RST, _SETTINGS, _PUSH, _PING, _GOAWAY, _WINUP, _CONT = range(10)

_FLAG_ACK = 0x1
_FLAG_END_STREAM = 0x1
_FLAG_END_HEADERS = 0x4
_FLAG_PADDED = 0x8
_FLAG_PRIORITY = 0x20

_MAX_FRAME = 16384

# RFC 7541 Appendix A — the HPACK static table.
_STATIC = [
    (":authority", ""), (":method", "GET"), (":method", "POST"),
    (":path", "/"), (":path", "/index.html"), (":scheme", "http"),
    (":scheme", "https"), (":status", "200"), (":status", "204"),
    (":status", "206"), (":status", "304"), (":status", "400"),
    (":status", "404"), (":status", "500"), ("accept-charset", ""),
    ("accept-encoding", "gzip, deflate"), ("accept-language", ""),
    ("accept-ranges", ""), ("accept", ""),
    ("access-control-allow-origin", ""), ("age", ""), ("allow", ""),
    ("authorization", ""), ("cache-control", ""),
    ("content-disposition", ""), ("content-encoding", ""),
    ("content-language", ""), ("content-length", ""),
    ("content-location", ""), ("content-range", ""), ("content-type", ""),
    ("cookie", ""), ("date", ""), ("etag", ""), ("expect", ""),
    ("expires", ""), ("from", ""), ("host", ""), ("if-match", ""),
    ("if-modified-since", ""), ("if-none-match", ""), ("if-range", ""),
    ("if-unmodified-since", ""), ("last-modified", ""), ("link", ""),
    ("location", ""), ("max-forwards", ""), ("proxy-authenticate", ""),
    ("proxy-authorization", ""), ("range", ""), ("referer", ""),
    ("refresh", ""), ("retry-after", ""), ("server", ""),
    ("set-cookie", ""), ("strict-transport-security", ""),
    ("transfer-encoding", ""), ("user-agent", ""), ("vary", ""),
    ("via", ""), ("www-authenticate", ""),
]

# RFC 7541 Appendix B — the HPACK Huffman code, serialized as
# "<hex code>.<bit length>" per symbol 0..256 (256 = EOS).
_HUFF_RAW = """\
1ff8.13 7fffd8.23 fffffe2.28 fffffe3.28 fffffe4.28 fffffe5.28
fffffe6.28 fffffe7.28 fffffe8.28 ffffea.24 3ffffffc.30 fffffe9.28
fffffea.28 3ffffffd.30 fffffeb.28 fffffec.28 fffffed.28 fffffee.28
fffffef.28 ffffff0.28 ffffff1.28 ffffff2.28 3ffffffe.30 ffffff3.28
ffffff4.28 ffffff5.28 ffffff6.28 ffffff7.28 ffffff8.28 ffffff9.28
ffffffa.28 ffffffb.28 14.6 3f8.10 3f9.10 ffa.12 1ff9.13 15.6 f8.8
7fa.11 3fa.10 3fb.10 f9.8 7fb.11 fa.8 16.6 17.6 18.6 0.5 1.5 2.5 19.6
1a.6 1b.6 1c.6 1d.6 1e.6 1f.6 5c.7 fb.8 7ffc.15 20.6 ffb.12 3fc.10
1ffa.13 21.6 5d.7 5e.7 5f.7 60.7 61.7 62.7 63.7 64.7 65.7 66.7 67.7
68.7 69.7 6a.7 6b.7 6c.7 6d.7 6e.7 6f.7 70.7 71.7 72.7 fc.8 73.7 fd.8
1ffb.13 7fff0.19 1ffc.13 3ffc.14 22.6 7ffd.15 3.5 23.6 4.5 24.6 5.5
25.6 26.6 27.6 6.5 74.7 75.7 28.6 29.6 2a.6 7.5 2b.6 76.7 2c.6 8.5
9.5 2d.6 77.7 78.7 79.7 7a.7 7b.7 7ffe.15 7fc.11 3ffd.14 1ffd.13
ffffffc.28 fffe6.20 3fffd2.22 fffe7.20 fffe8.20 3fffd3.22 3fffd4.22
3fffd5.22 7fffd9.23 3fffd6.22 7fffda.23 7fffdb.23 7fffdc.23 7fffdd.23
7fffde.23 ffffeb.24 7fffdf.23 ffffec.24 ffffed.24 3fffd7.22 7fffe0.23
ffffee.24 7fffe1.23 7fffe2.23 7fffe3.23 7fffe4.23 1fffdc.21 3fffd8.22
7fffe5.23 3fffd9.22 7fffe6.23 7fffe7.23 ffffef.24 3fffda.22 1fffdd.21
fffe9.20 3fffdb.22 3fffdc.22 7fffe8.23 7fffe9.23 1fffde.21 7fffea.23
3fffdd.22 3fffde.22 fffff0.24 1fffdf.21 3fffdf.22 7fffeb.23 7fffec.23
1fffe0.21 1fffe1.21 3fffe0.22 1fffe2.21 7fffed.23 3fffe1.22 7fffee.23
7fffef.23 fffea.20 3fffe2.22 3fffe3.22 3fffe4.22 7ffff0.23 3fffe5.22
3fffe6.22 7ffff1.23 3ffffe0.26 3ffffe1.26 fffeb.20 7fff1.19 3fffe7.22
7ffff2.23 3fffe8.22 1ffffec.25 3ffffe2.26 3ffffe3.26 3ffffe4.26
7ffffde.27 7ffffdf.27 3ffffe5.26 fffff1.24 1ffffed.25 7fff2.19
1fffe3.21 3ffffe6.26 7ffffe0.27 7ffffe1.27 3ffffe7.26 7ffffe2.27
fffff2.24 1fffe4.21 1fffe5.21 3ffffe8.26 3ffffe9.26 ffffffd.28
7ffffe3.27 7ffffe4.27 7ffffe5.27 fffec.20 fffff3.24 fffed.20
1fffe6.21 3fffe9.22 1fffe7.21 1fffe8.21 7ffff3.23 3fffea.22 3fffeb.22
1ffffee.25 1ffffef.25 fffff4.24 fffff5.24 3ffffea.26 7ffff4.23
3ffffeb.26 7ffffe6.27 3ffffec.26 3ffffed.26 7ffffe7.27 7ffffe8.27
7ffffe9.27 7ffffea.27 7ffffeb.27 ffffffe.28 7ffffec.27 7ffffed.27
7ffffee.27 7ffffef.27 7fffff0.27 3ffffee.26 3fffffff.30"""

_HUFF_DECODE: dict[tuple[int, int], int] = {}
for _sym, _item in enumerate(_HUFF_RAW.split()):
    _code, _nbits = _item.split(".")
    _HUFF_DECODE[(int(_code, 16), int(_nbits))] = _sym


class H2Error(RuntimeError):
    pass


def huffman_decode(data: bytes) -> bytes:
    out = bytearray()
    cur = nbits = 0
    for byte in data:
        for k in range(7, -1, -1):
            cur = (cur << 1) | ((byte >> k) & 1)
            nbits += 1
            sym = _HUFF_DECODE.get((cur, nbits))
            if sym is not None:
                if sym == 256:
                    raise H2Error("EOS symbol in huffman string")
                out.append(sym)
                cur = nbits = 0
    # trailing bits must be a (most-significant) prefix of EOS: all ones, < 8
    if nbits >= 8 or cur != (1 << nbits) - 1:
        raise H2Error("bad huffman padding")
    return bytes(out)


class HpackDecoder:
    """Request-header decoding: static + dynamic table, prefix integers,
    Huffman strings (RFC 7541 §5-6)."""

    def __init__(self, max_size: int = 4096) -> None:
        self.dynamic: list[tuple[str, str]] = []
        self.max_size = max_size

    def _entry(self, idx: int) -> tuple[str, str]:
        if 1 <= idx <= len(_STATIC):
            return _STATIC[idx - 1]
        d = idx - len(_STATIC) - 1
        if 0 <= d < len(self.dynamic):
            return self.dynamic[d]
        raise H2Error(f"hpack index {idx} out of range")

    def _evict(self) -> None:
        def size() -> int:
            return sum(len(n) + len(v) + 32 for n, v in self.dynamic)

        while self.dynamic and size() > self.max_size:
            self.dynamic.pop()

    @staticmethod
    def _int(data: bytes, off: int, prefix: int) -> tuple[int, int]:
        mask = (1 << prefix) - 1
        v = data[off] & mask
        off += 1
        if v < mask:
            return v, off
        shift = 0
        while True:
            b = data[off]
            off += 1
            v += (b & 0x7F) << shift
            if not b & 0x80:
                return v, off
            shift += 7

    def _str(self, data: bytes, off: int) -> tuple[str, int]:
        huff = bool(data[off] & 0x80)
        ln, off = self._int(data, off, 7)
        raw = data[off : off + ln]
        off += ln
        if huff:
            raw = huffman_decode(raw)
        return raw.decode("utf-8", errors="replace"), off

    def decode(self, block: bytes) -> list[tuple[str, str]]:
        out: list[tuple[str, str]] = []
        off = 0
        while off < len(block):
            b = block[off]
            if b & 0x80:  # indexed field
                idx, off = self._int(block, off, 7)
                out.append(self._entry(idx))
            elif b & 0x40:  # literal with incremental indexing
                idx, off = self._int(block, off, 6)
                name = self._entry(idx)[0] if idx else None
                if name is None:
                    name, off = self._str(block, off)
                value, off = self._str(block, off)
                self.dynamic.insert(0, (name, value))
                self._evict()
                out.append((name, value))
            elif b & 0x20:  # dynamic table size update
                self.max_size, off = self._int(block, off, 5)
                self._evict()
            else:  # literal without indexing / never indexed (4-bit prefix)
                idx, off = self._int(block, off, 4)
                name = self._entry(idx)[0] if idx else None
                if name is None:
                    name, off = self._str(block, off)
                value, off = self._str(block, off)
                out.append((name, value))
        return out


def _encode_int(v: int, prefix: int, first: int) -> bytes:
    mask = (1 << prefix) - 1
    if v < mask:
        return bytes([first | v])
    out = bytearray([first | mask])
    v -= mask
    while v >= 0x80:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def encode_response_headers(status: int, headers: list[tuple[str, str]]) -> bytes:
    """Literal-without-indexing encoding (raw strings — always valid,
    no connection encoder state); ``:status 200`` uses its static index."""
    out = bytearray()
    if status == 200:
        out.append(0x88)  # indexed: static 8
    else:
        out += _encode_int(8, 4, 0x00)  # literal w/o indexing, name = :status
        s = str(status).encode()
        out += _encode_int(len(s), 7, 0x00) + s
    for name, value in headers:
        n, v = name.lower().encode(), value.encode()
        out.append(0x00)  # literal w/o indexing, new name
        out += _encode_int(len(n), 7, 0x00) + n
        out += _encode_int(len(v), 7, 0x00) + v
    return bytes(out)


class H2CConnection:
    """One prior-knowledge cleartext HTTP/2 connection (server side)."""

    def __init__(self, api, rfile, wfile) -> None:
        self.api = api
        self.rfile = rfile
        self.wfile = wfile
        self.decoder = HpackDecoder()
        # RFC 9113 §5.2 / §6.5.2: the connection send window is fixed at
        # 65535 and changed ONLY by WINDOW_UPDATE on stream 0;
        # SETTINGS_INITIAL_WINDOW_SIZE sets the *per-stream* initial
        # window (and retroactively delta-adjusts open streams).
        self.send_window = 65535
        self.initial_stream_window = 65535
        self.stream_windows: dict[int, int] = {}
        self.streams: dict[int, dict] = {}
        self.lock = threading.Lock()

    # -- frame IO -----------------------------------------------------------

    def _read_exact(self, n: int) -> bytes:
        data = b""
        while len(data) < n:
            chunk = self.rfile.read(n - len(data))
            if not chunk:
                raise ConnectionError("client closed")
            data += chunk
        return data

    def _read_frame(self) -> tuple[int, int, int, bytes]:
        head = self._read_exact(9)
        length = (head[0] << 16) | (head[1] << 8) | head[2]
        ftype, flags = head[3], head[4]
        (stream_id,) = struct.unpack(">I", head[5:9])
        return ftype, flags, stream_id & 0x7FFFFFFF, self._read_exact(length)

    def _send_frame(self, ftype: int, flags: int, stream_id: int, payload: bytes) -> None:
        with self.lock:
            self.wfile.write(
                bytes(
                    [
                        (len(payload) >> 16) & 0xFF,
                        (len(payload) >> 8) & 0xFF,
                        len(payload) & 0xFF,
                        ftype,
                        flags,
                    ]
                )
                + struct.pack(">I", stream_id)
                + payload
            )
            self.wfile.flush()

    # -- connection loop ----------------------------------------------------

    def run(self) -> None:
        # server preface: a SETTINGS frame (empty = all defaults)
        self._send_frame(_SETTINGS, 0, 0, b"")
        try:
            while not self._handle_frame(*self._read_frame()):
                pass
        except (ConnectionError, OSError):
            return
        except (H2Error, struct.error, IndexError):
            # malformed frame or HPACK block: answer with GOAWAY
            # (PROTOCOL_ERROR) and close instead of a raw traceback
            try:
                self._send_frame(_GOAWAY, 0, 0, struct.pack(">II", 0, 0x1))
            except OSError:
                pass
            return

    def _handle_frame(self, ftype: int, flags: int, sid: int, payload: bytes) -> bool:
        """Process one frame; returns True when the connection should end."""
        if ftype == _SETTINGS:
            if not flags & _FLAG_ACK:
                for i in range(0, len(payload) - 5, 6):
                    key, val = struct.unpack_from(">HI", payload, i)
                    if key == 0x4:  # INITIAL_WINDOW_SIZE (per-stream only)
                        if val > 0x7FFFFFFF:
                            raise H2Error("INITIAL_WINDOW_SIZE overflow")
                        delta = val - self.initial_stream_window
                        self.initial_stream_window = val
                        for s in self.stream_windows:
                            self.stream_windows[s] += delta
                self._send_frame(_SETTINGS, _FLAG_ACK, 0, b"")
        elif ftype == _PING:
            if not flags & _FLAG_ACK:
                self._send_frame(_PING, _FLAG_ACK, 0, payload)
        elif ftype == _HEADERS:
            self._on_headers(flags, sid, payload)
        elif ftype == _CONT:
            st = self.streams.setdefault(sid, {"frag": b"", "body": b""})
            st["frag"] += payload
            if flags & _FLAG_END_HEADERS:
                self._finish_headers(sid, st)
        elif ftype == _DATA:
            self._on_data(flags, sid, payload)
        elif ftype == _WINUP:
            (incr,) = struct.unpack(">I", payload)
            if sid == 0:
                self.send_window += incr
            elif sid in self.streams or sid in self.stream_windows:
                self.stream_windows[sid] = (
                    self.stream_windows.get(sid, self.initial_stream_window) + incr
                )
            # else: a WINDOW_UPDATE that raced the stream's completion
            # (the client's in-flight credit for data it consumed) —
            # ignore rather than resurrect the popped entry, which would
            # grow the map by one entry per finished stream forever
        elif ftype == _GOAWAY:
            return True
        # PRIORITY / RST_STREAM / PUSH_PROMISE: nothing to do
        return False

    def _on_headers(self, flags: int, sid: int, payload: bytes) -> None:
        off, end = 0, len(payload)
        if flags & _FLAG_PADDED:
            if not payload or payload[0] > len(payload) - 1:
                # RFC 9113 §6.2: pad length >= remaining payload is a
                # connection error of type PROTOCOL_ERROR
                raise H2Error("HEADERS pad length exceeds frame payload")
            end -= payload[0]
            off += 1
        if flags & _FLAG_PRIORITY:
            off += 5
        if off > end:
            raise H2Error("HEADERS padding overlaps priority fields")
        st = self.streams.setdefault(sid, {"frag": b"", "body": b""})
        st["frag"] += payload[off:end]
        st["end_stream"] = bool(flags & _FLAG_END_STREAM)
        if flags & _FLAG_END_HEADERS:
            self._finish_headers(sid, st)

    def _finish_headers(self, sid: int, st: dict) -> None:
        st["headers"] = self.decoder.decode(st.pop("frag"))
        if st.get("end_stream"):
            self._dispatch(sid)

    def _on_data(self, flags: int, sid: int, payload: bytes) -> None:
        n = len(payload)  # flow-controlled size includes any padding
        if flags & _FLAG_PADDED and (not payload or payload[0] > len(payload) - 1):
            # RFC 9113 §6.1: pad length >= remaining payload is a
            # connection error of type PROTOCOL_ERROR — without this the
            # slice below silently yields truncated/empty data while the
            # WINDOW_UPDATE replenish still credits the full frame size
            raise H2Error("DATA pad length exceeds frame payload")
        st = self.streams.setdefault(sid, {"frag": b"", "body": b""})
        if flags & _FLAG_PADDED:
            payload = payload[1 : len(payload) - payload[0]]
        st["body"] += payload
        if n:
            # replenish the receive windows: the body is buffered (and
            # therefore "consumed") immediately, and without these a
            # strict sender stalls forever once a request body crosses
            # the 65535-byte default window
            self._send_frame(_WINUP, 0, 0, struct.pack(">I", n))
            if not flags & _FLAG_END_STREAM:
                self._send_frame(_WINUP, 0, sid, struct.pack(">I", n))
        if flags & _FLAG_END_STREAM:
            self._dispatch(sid)

    # -- request dispatch ---------------------------------------------------

    def _dispatch(self, sid: int) -> None:
        from roapi_spark.server.http import respond

        st = self.streams.pop(sid, None)
        if st is None or "headers" not in st:
            return
        h = dict(st["headers"])
        code, headers, payload = respond(
            self.api,
            h.get(":method", "GET"),
            h.get(":path", "/"),
            st["body"],
            h.get("authorization"),
            h.get("accept"),
        )
        block = encode_response_headers(code, headers)
        if not payload:
            self._send_frame(
                _HEADERS, _FLAG_END_HEADERS | _FLAG_END_STREAM, sid, block
            )
            self.stream_windows.pop(sid, None)
            return
        self._send_frame(_HEADERS, _FLAG_END_HEADERS, sid, block)
        # seed the flow-control entry for the send: the stream was popped
        # from self.streams above, so an inbound WINDOW_UPDATE during the
        # loop must find sid in stream_windows to be applied (the
        # completed-stream guard in _handle_frame ignores unknown sids)
        self.stream_windows.setdefault(sid, self.initial_stream_window)
        off = 0
        while off < len(payload):
            # flow control: never exceed the connection or stream window;
            # dispatch runs on the read-loop thread, so draining frames
            # here (WINDOW_UPDATE / SETTINGS / PING) is safe
            win = min(
                self.send_window,
                self.stream_windows.get(sid, self.initial_stream_window),
            )
            while win <= 0:
                if self._handle_frame(*self._read_frame()):
                    return
                win = min(
                    self.send_window,
                    self.stream_windows.get(sid, self.initial_stream_window),
                )
            chunk = payload[off : off + min(_MAX_FRAME, win)]
            off += len(chunk)
            self.send_window -= len(chunk)
            self.stream_windows[sid] = (
                self.stream_windows.get(sid, self.initial_stream_window) - len(chunk)
            )
            last = off >= len(payload)
            self._send_frame(_DATA, _FLAG_END_STREAM if last else 0, sid, chunk)
        # stream complete: drop its flow-control entry so long-lived
        # connections don't grow the map unboundedly
        self.stream_windows.pop(sid, None)
