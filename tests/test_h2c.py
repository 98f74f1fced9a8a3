"""HTTP/2 cleartext (h2c) tests: HPACK unit vectors + the reference's
own pin — ``curl --http2-prior-knowledge`` against a live server
(roapi/tests/api_test.rs:247-277), here extended to assert bodies over
SQL and REST, not just the negotiated version."""

from __future__ import annotations

import json
import shutil
import subprocess

import pytest

from roapi_spark.server.h2c import (
    HpackDecoder,
    encode_response_headers,
    huffman_decode,
    _HUFF_DECODE,
)

CSV = "city,lat,lng\nsolihull,52.412811,-1.778197\nrugby,52.370876,-1.265032\nlondon,51.507222,-0.1275\n"


# ---- HPACK unit layer ------------------------------------------------------


def test_huffman_rfc_vector():
    # RFC 7541 Appendix C.4.1: "www.example.com" Huffman-encoded
    enc = bytes.fromhex("f1e3c2e5f23a6ba0ab90f4ff")
    assert huffman_decode(enc) == b"www.example.com"


def _huffman_encode(data: bytes) -> bytes:
    # inverse of the decode table, for round-trip tests
    enc = {sym: (code, n) for (code, n), sym in _HUFF_DECODE.items()}
    cur = nbits = 0
    out = bytearray()
    for b in data:
        code, n = enc[b]
        cur = (cur << n) | code
        nbits += n
        while nbits >= 8:
            nbits -= 8
            out.append((cur >> nbits) & 0xFF)
    if nbits:
        out.append(((cur << (8 - nbits)) | ((1 << (8 - nbits)) - 1)) & 0xFF)
    return bytes(out)


def test_huffman_roundtrip_all_bytes():
    payload = bytes(range(256)) + b"/api/schema?x=1&y=%20z"
    assert huffman_decode(_huffman_encode(payload)) == payload


def test_hpack_integer_and_literals():
    d = HpackDecoder()
    # indexed :method GET (static 2) + literal-with-indexing custom header
    block = bytes([0x82])  # indexed 2
    name, value = b"x-custom", b"hello"
    block += bytes([0x40, len(name)]) + name + bytes([len(value)]) + value
    assert d.decode(block) == [(":method", "GET"), ("x-custom", "hello")]
    # the literal entered the dynamic table at index 62
    assert d.decode(bytes([0x80 | 62])) == [("x-custom", "hello")]


def test_hpack_huffman_literal_and_name_index():
    d = HpackDecoder()
    hv = _huffman_encode(b"/api/tables/uk")
    # literal w/o indexing, name = static 4 (:path), Huffman value
    block = bytes([0x04, 0x80 | len(hv)]) + hv
    assert d.decode(block) == [(":path", "/api/tables/uk")]


def test_response_header_encoding_decodes():
    d = HpackDecoder()
    block = encode_response_headers(200, [("content-type", "application/json")])
    assert d.decode(block) == [
        (":status", "200"),
        ("content-type", "application/json"),
    ]
    block = encode_response_headers(404, [("content-length", "0")])
    assert d.decode(block)[0] == (":status", "404")


# ---- e2e with curl (the reference's own test vector) -----------------------


@pytest.fixture(scope="module")
def h2_url(spark, tmp_path_factory):
    from roapi_spark.catalog import Catalog
    from roapi_spark.config import parse_table_config
    from roapi_spark.server import ApiServer

    root = tmp_path_factory.mktemp("h2srv")
    (root / "uk_cities.csv").write_text(CSV)
    cat = Catalog(spark, read_only=False)
    cat.load_table(
        parse_table_config({"name": "uk_cities", "uri": str(root / "uk_cities.csv")})
    )
    srv = ApiServer(cat)
    host, port = srv.start()
    yield f"http://{host}:{port}"
    srv.stop()


needs_curl = pytest.mark.skipif(shutil.which("curl") is None, reason="no curl")


def _curl(*args: str) -> bytes:
    return subprocess.run(
        ["curl", "-s", "-g", "--http2-prior-knowledge", *args],
        capture_output=True, timeout=60, check=True,
    ).stdout


@needs_curl
def test_h2c_version_negotiated(h2_url):
    # the exact reference pin: -I + -w %{http_version} -> "2"
    out = _curl("-I", f"{h2_url}/api/schema", "-o", "/dev/null", "-w", "%{http_version}")
    assert out == b"2"


@needs_curl
def test_h2c_sql_roundtrip(h2_url):
    out = _curl(
        f"{h2_url}/api/sql",
        "--data-binary",
        "SELECT city FROM uk_cities WHERE lat > 52 AND lat < 53 AND lng < -1",
    )
    assert json.loads(out) == [{"city": "solihull"}, {"city": "rugby"}]


@needs_curl
def test_h2c_rest_and_error_shape(h2_url):
    out = _curl(f"{h2_url}/api/tables/uk_cities?filter[city]eq=london&columns=city")
    assert json.loads(out) == [{"city": "london"}]
    err = json.loads(_curl(f"{h2_url}/api/tables/nope"))
    assert err["code"] == 404 and err["error"] == "not_found"


@needs_curl
def test_h1_still_served_on_same_port(h2_url):
    # the preface sniff must not break plain HTTP/1.1 on the same socket
    out = subprocess.run(
        ["curl", "-s", "--http1.1", f"{h2_url}/health"],
        capture_output=True, timeout=60, check=True,
    ).stdout
    assert out == b"OK"


@needs_curl
def test_head_serves_get_routes_both_protocols(h2_url):
    # axum serves HEAD for GET routes automatically; both fronts must too
    h2 = subprocess.run(
        ["curl", "-s", "-I", "--http2-prior-knowledge", f"{h2_url}/api/schema",
         "-o", "/dev/null", "-w", "%{http_code}"],
        capture_output=True, timeout=60, check=True,
    ).stdout
    assert h2 == b"200"
    h1 = subprocess.run(
        ["curl", "-s", "-I", "--http1.1", f"{h2_url}/api/schema",
         "-o", "/dev/null", "-w", "%{http_code}"],
        capture_output=True, timeout=60, check=True,
    ).stdout
    assert h1 == b"200"


@needs_curl
def test_cors_preflight_both_protocols(h2_url):
    for proto in ("--http2-prior-knowledge", "--http1.1"):
        out = subprocess.run(
            ["curl", "-s", "-X", "OPTIONS", proto, f"{h2_url}/api/sql",
             "-H", "Origin: http://example.com",
             "-H", "Access-Control-Request-Method: POST",
             "-o", "/dev/null", "-w", "%{http_code} %header{access-control-allow-methods}"],
            capture_output=True, timeout=60, check=True,
        ).stdout
        assert out == b"204 GET, POST, OPTIONS", (proto, out)


@needs_curl
def test_http1_and_h2c_answer_alike(spark, tmp_path_factory):
    """Both transports hand the request target to one responder, and each
    captured path segment is decoded once: an encoded slash or percent
    sign in a KV key, and a REST table request, get the same status and
    body over HTTP/1.1 and h2c."""
    from roapi_spark.catalog import Catalog
    from roapi_spark.config import parse_kv_config, parse_table_config
    from roapi_spark.server import ApiServer

    root = tmp_path_factory.mktemp("parity")
    (root / "uk_cities.csv").write_text(CSV)
    (root / "kv.json").write_text(
        json.dumps([{"k": "a/b", "v": "slash"}, {"k": "x%20y", "v": "pct"}])
    )
    cat = Catalog(spark)
    cat.load_table(parse_table_config({"name": "uk_cities", "uri": str(root / "uk_cities.csv")}))
    cat.load_kv(parse_kv_config({"name": "s", "uri": str(root / "kv.json"), "key": "k", "value": "v"}))
    srv = ApiServer(cat)
    host, port = srv.start()
    try:
        for path, want in [
            ("/api/kv/s/a%2Fb", b"slash"),
            ("/api/kv/s/x%2520y", b"pct"),
            ("/api/tables/uk_cities?filter[city]eq=rugby&columns=city", [{"city": "rugby"}]),
        ]:
            seen = [
                subprocess.run(
                    ["curl", "-s", "-g", proto, "-w", "%{http_code}", f"http://{host}:{port}{path}"],
                    capture_output=True, timeout=60, check=True,
                ).stdout
                for proto in ("--http1.1", "--http2-prior-knowledge")
            ]
            assert seen[0] == seen[1], (path, seen)
            body, status = seen[0][:-3], seen[0][-3:]
            assert status == b"200", (path, seen)
            assert (json.loads(body) if isinstance(want, list) else body) == want, (path, seen)
    finally:
        srv.stop()


# ---- frame layer: flow-control semantics + malformed-frame handling --------


class _FakeIO:
    def __init__(self, data: bytes = b""):
        self._data = data
        self.sent = bytearray()
        self._off = 0

    def read(self, n: int) -> bytes:
        chunk = self._data[self._off : self._off + n]
        self._off += len(chunk)
        return chunk

    def write(self, b: bytes) -> None:
        self.sent += b

    def flush(self) -> None:
        pass


def _frame(ftype: int, flags: int, sid: int, payload: bytes) -> bytes:
    import struct as _s

    return (
        bytes([(len(payload) >> 16) & 0xFF, (len(payload) >> 8) & 0xFF, len(payload) & 0xFF, ftype, flags])
        + _s.pack(">I", sid)
        + payload
    )


def _parse_frames(buf: bytes):
    import struct as _s

    out, off = [], 0
    while off + 9 <= len(buf):
        ln = (buf[off] << 16) | (buf[off + 1] << 8) | buf[off + 2]
        ftype, flags = buf[off + 3], buf[off + 4]
        (sid,) = _s.unpack(">I", buf[off + 5 : off + 9])
        out.append((ftype, flags, sid & 0x7FFFFFFF, buf[off + 9 : off + 9 + ln]))
        off += 9 + ln
    return out


def _conn(client_bytes: bytes):
    from roapi_spark.server.h2c import H2CConnection

    io = _FakeIO(client_bytes)
    c = H2CConnection(api=None, rfile=io, wfile=io)
    return c, io


def test_initial_window_size_is_per_stream_only():
    """RFC 9113: SETTINGS_INITIAL_WINDOW_SIZE changes stream windows
    (with delta adjustment of open ones), never the connection window."""
    import struct as _s

    settings = _s.pack(">HI", 0x4, 1 << 20)
    c, _ = _conn(_frame(4, 0, 0, settings))
    c.stream_windows[1] = 65535 - 100  # an open stream mid-consumption
    c.run()
    assert c.send_window == 65535  # connection window untouched
    assert c.initial_stream_window == 1 << 20
    assert c.stream_windows[1] == (1 << 20) - 100  # delta-adjusted
    # WINDOW_UPDATE on stream 0 is what moves the connection window
    c2, _ = _conn(_frame(8, 0, 0, _s.pack(">I", 1000)))
    c2.run()
    assert c2.send_window == 65535 + 1000


def test_malformed_frames_goaway_not_traceback():
    """Short WINDOW_UPDATE payloads and bad HPACK must close with GOAWAY,
    not crash the connection thread with struct.error/IndexError."""
    cases = [
        _frame(8, 0, 1, b"\x00\x01"),  # WINDOW_UPDATE with 2-byte payload
        _frame(1, 0x4 | 0x1, 1, bytes([0x80 | 99])),  # HPACK index out of range
        _frame(1, 0x4 | 0x1, 1, bytes([0x7F])),  # truncated HPACK integer
    ]
    for raw in cases:
        c, io = _conn(raw)
        c.run()  # must not raise
        types = [f[0] for f in _parse_frames(bytes(io.sent))]
        assert types[-1] == 7, f"expected GOAWAY last, got {types}"


def test_padded_frame_overlong_pad_is_protocol_error():
    """RFC 9113 §6.1/§6.2: a pad length >= the remaining frame payload is a
    connection error (PROTOCOL_ERROR → GOAWAY), not silently truncated data
    — and must not credit WINDOW_UPDATE for bytes that were never data."""
    import struct as _s

    cases = [
        _frame(0, 0x8, 1, bytes([5]) + b"abc"),  # DATA: pad 5 > 3 remaining
        _frame(0, 0x8, 1, b""),  # DATA PADDED with no pad-length byte
        _frame(1, 0x4 | 0x8, 1, bytes([9]) + b"ab"),  # HEADERS: pad 9 > 2
        # HEADERS PADDED|PRIORITY where padding overlaps the 5 priority bytes
        _frame(1, 0x4 | 0x8 | 0x20, 1, bytes([3]) + b"\x00\x00\x00\x01\x10ab"),
    ]
    for raw in cases:
        c, io = _conn(raw)
        c.run()  # must not raise
        frames = _parse_frames(bytes(io.sent))
        assert frames[-1][0] == 7, f"expected GOAWAY last, got {frames}"
        (_last, code) = _s.unpack(">II", frames[-1][3])
        assert code == 0x1  # PROTOCOL_ERROR
        # no WINDOW_UPDATE credit for the rejected DATA frame
        assert all(f[0] != 8 for f in frames)


def test_padded_data_frame_valid_pad_still_works():
    """A legal PADDED DATA frame (pad < payload) strips padding, buffers the
    unpadded body, and replenishes the connection window."""
    # no END_STREAM: the stream stays buffered so the body is inspectable
    c, io = _conn(_frame(0, 0x8, 3, bytes([2]) + b"hello" + b"\x00\x00"))
    c.run()
    assert c.streams[3]["body"] == b"hello"
    types = [f[0] for f in _parse_frames(bytes(io.sent))]
    assert 8 in types  # WINDOW_UPDATE replenish sent for the full frame


def test_stream_window_entries_cleaned_up():
    """Completed streams drop their flow-control entry so long-lived
    connections don't grow stream_windows unboundedly."""

    class _Api:
        def handle(self, method, path, query, body, accept):
            return 200, "text/plain", b"x" * 10

    from roapi_spark.server.h2c import H2CConnection, encode_response_headers  # noqa: F401

    # craft a minimal GET via literal headers: :method GET (static 2),
    # :path / (static 4), :scheme http (static 6), :authority "" (literal)
    block = bytes([0x82, 0x84, 0x86])
    c, io = _conn(_frame(1, 0x4 | 0x1, 1, block))
    c.api = _Api()
    c.run()
    assert 1 not in c.stream_windows
    types = [f[0] for f in _parse_frames(bytes(io.sent))]
    assert 0 in types and 1 in types  # DATA + HEADERS went out


# ---- TLS + ALPN (round 4): same port serves https/1.1 and h2 ---------------


@pytest.fixture(scope="module")
def tls_url(spark, tmp_path_factory):
    if shutil.which("openssl") is None:
        pytest.skip("no openssl to mint a test cert")
    from roapi_spark.catalog import Catalog
    from roapi_spark.config import parse_table_config
    from roapi_spark.server import ApiServer

    root = tmp_path_factory.mktemp("tlssrv")
    cert, key = str(root / "crt.pem"), str(root / "key.pem")
    subprocess.run(
        ["openssl", "req", "-x509", "-newkey", "rsa:2048", "-nodes",
         "-keyout", key, "-out", cert, "-days", "1", "-subj", "/CN=localhost"],
        check=True, capture_output=True,
    )
    (root / "uk_cities.csv").write_text(CSV)
    cat = Catalog(spark, read_only=False)
    cat.load_table(
        parse_table_config({"name": "uk_cities", "uri": str(root / "uk_cities.csv")})
    )
    srv = ApiServer(cat)
    host, port = srv.start(certfile=cert, keyfile=key)
    yield f"https://{host}:{port}"
    srv.stop()


@needs_curl
def test_tls_alpn_negotiates_h2(tls_url):
    out = subprocess.run(
        ["curl", "-sk", "--http2", "-o", "/dev/null", "-w", "%{http_version}",
         f"{tls_url}/api/schema"],
        capture_output=True, check=True,
    ).stdout
    assert out == b"2"


@needs_curl
def test_tls_h2_sql_body(tls_url):
    out = subprocess.run(
        ["curl", "-sk", "--http2", "-X", "POST", "-d",
         "SELECT city FROM uk_cities ORDER BY city LIMIT 1", f"{tls_url}/api/sql"],
        capture_output=True, check=True,
    ).stdout
    assert json.loads(out) == [{"city": "london"}]


@needs_curl
def test_tls_http11_fallback(tls_url):
    out = subprocess.run(
        ["curl", "-sk", "--http1.1", f"{tls_url}/health"],
        capture_output=True, check=True,
    ).stdout
    assert out == b"OK"


def test_tls_alpn_protocol_selected(tls_url):
    # raw ssl client: assert the server actually selects h2 via ALPN
    import socket
    import ssl
    from urllib.parse import urlparse

    u = urlparse(tls_url)
    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)
    ctx.check_hostname = False
    ctx.verify_mode = ssl.CERT_NONE
    ctx.set_alpn_protocols(["h2"])
    with socket.create_connection((u.hostname, u.port), timeout=10) as raw:
        with ctx.wrap_socket(raw, server_hostname="localhost") as s:
            assert s.selected_alpn_protocol() == "h2"


@needs_curl
def test_tls_stalled_client_does_not_block_accept_loop(tls_url):
    # a client that TCP-connects but never sends a ClientHello must not
    # head-of-line-block the accept loop (TLS is terminated on the
    # per-connection thread, not the listener)
    import socket
    from urllib.parse import urlparse

    u = urlparse(tls_url)
    stalled = socket.create_connection((u.hostname, u.port), timeout=10)
    try:
        out = subprocess.run(
            ["curl", "-sk", "--max-time", "10", f"{tls_url}/health"],
            capture_output=True, check=True, timeout=20,
        ).stdout
        assert out == b"OK"
    finally:
        stalled.close()


def test_window_update_after_stream_end_is_not_resurrected():
    """A WINDOW_UPDATE racing a stream's completion must not re-create
    its stream_windows entry (one leaked entry per finished stream on a
    long-lived connection), and mid-send updates must still apply."""
    import io
    import struct as _s

    from roapi_spark.server.h2c import H2CConnection

    class FakeApi:
        def handle(self, method, path, query, body, accept):
            return 200, "text/plain", b"OK"

    def frame(ftype, flags, sid, payload=b""):
        return _s.pack(">I", len(payload))[1:] + bytes([ftype, flags]) + _s.pack(">I", sid) + payload

    # static-table HPACK: :method GET (2), :path / (4), :scheme http (6)
    headers = bytes([0x82, 0x84, 0x86])
    stream = (
        frame(0x4, 0, 0)                      # SETTINGS
        + frame(0x1, 0x4 | 0x1, 1, headers)   # HEADERS end_headers|end_stream
        + frame(0x8, 0, 1, _s.pack(">I", 1000))  # WINDOW_UPDATE for DONE stream 1
        + frame(0x7, 0, 0, _s.pack(">II", 0, 0))  # GOAWAY
    )
    conn = H2CConnection(FakeApi(), io.BytesIO(stream), io.BytesIO())
    conn.run()
    assert conn.stream_windows == {}
    assert conn.streams == {}


# ---- strict flow-control soak (VERDICT r4 #6): real sockets, tiny ----------
# windows, mid-stream shrink, connection-window exhaustion, TLS parity


class _RawH2:
    """Minimal strict-flow-control h2 client over a real socket:
    prior-knowledge preface, literal-HPACK requests, frame-at-a-time
    reads with a hard timeout so a server stall fails loudly instead of
    hanging the suite."""

    def __init__(self, url: str, initial_window: int | None = None):
        import socket
        import ssl
        import struct as _s
        from urllib.parse import urlparse

        u = urlparse(url)
        sock = socket.create_connection((u.hostname, u.port), timeout=30)
        if u.scheme == "https":
            ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)
            ctx.check_hostname = False
            ctx.verify_mode = ssl.CERT_NONE
            ctx.set_alpn_protocols(["h2"])
            sock = ctx.wrap_socket(sock, server_hostname=u.hostname)
            assert sock.selected_alpn_protocol() == "h2"
        sock.settimeout(30)
        self.sock = sock
        self.buf = b""
        settings = (
            b"" if initial_window is None else _s.pack(">HI", 4, initial_window)
        )
        self.send_raw(
            b"PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n" + _frame(4, 0, 0, settings)
        )

    def send_raw(self, b: bytes) -> None:
        self.sock.sendall(b)

    def send_frame(self, ftype: int, flags: int, sid: int, payload: bytes) -> None:
        self.send_raw(_frame(ftype, flags, sid, payload))

    def recv_frame(self):
        import struct as _s

        while True:
            if len(self.buf) >= 9:
                ln = (self.buf[0] << 16) | (self.buf[1] << 8) | self.buf[2]
                if len(self.buf) >= 9 + ln:
                    ftype, flags = self.buf[3], self.buf[4]
                    (sid,) = _s.unpack(">I", self.buf[5:9])
                    payload = self.buf[9 : 9 + ln]
                    self.buf = self.buf[9 + ln :]
                    return ftype, flags, sid & 0x7FFFFFFF, payload
            chunk = self.sock.recv(65536)
            if not chunk:
                raise AssertionError("server closed mid-frame")
            self.buf += chunk

    def request(self, method: str, path: str, body: bytes = b"", sid: int = 1):
        headers = [
            (":method", method), (":path", path), (":scheme", "http"),
            (":authority", "t"), ("content-length", str(len(body))),
        ]
        block = bytearray()
        for k, v in headers:  # literal never-indexed, plain strings
            block.append(0x00)
            block.append(len(k))
            block += k.encode()
            block.append(len(v))
            block += v.encode()
        self.send_frame(1, 0x4, sid, bytes(block))  # HEADERS | END_HEADERS
        self.send_frame(0, 0x1, sid, body)  # DATA | END_STREAM

    def close(self):
        self.sock.close()


def _soak_stream_window(url: str) -> None:
    import struct as _s

    WIN = 7
    c = _RawH2(url, initial_window=WIN)
    c.request("POST", "/api/sql", b"SELECT city FROM uk_cities ORDER BY city")
    body = b""
    data_frames = 0
    done = False
    while not done:
        ftype, flags, sid, payload = c.recv_frame()
        if ftype == 0 and sid == 1:  # DATA
            assert len(payload) <= WIN, (len(payload), WIN)
            body += payload
            data_frames += 1
            done = bool(flags & 0x1)
            if not done:
                # grant exactly one more window's worth
                c.send_frame(8, 0, 1, _s.pack(">I", len(payload)))
    assert data_frames >= len(body) // WIN  # the stall/resume loop ran
    assert body.startswith(b"[") and b"city" in body
    # connection stays healthy: a second stream completes normally
    c.send_frame(8, 0, 0, _s.pack(">I", 1 << 20))
    c.send_frame(4, 0, 0, _s.pack(">HI", 4, 1 << 20))  # big windows now
    c.request("POST", "/api/sql", b"SELECT COUNT(*) AS n FROM uk_cities", sid=3)
    body2 = b""
    while True:
        ftype, flags, sid, payload = c.recv_frame()
        if ftype == 0 and sid == 3:
            body2 += payload
            if flags & 0x1:
                break
    assert b"n" in body2
    c.close()


def test_h2c_stream_window_exhaustion_soak(h2_url):
    _soak_stream_window(h2_url)


def test_tls_h2_stream_window_exhaustion_soak(tls_url):
    _soak_stream_window(tls_url)


def test_h2c_midstream_initial_window_shrink(h2_url):
    """SETTINGS(INITIAL_WINDOW_SIZE) delivered while a response is
    stalled must shrink the in-flight stream's window (RFC 9113 §6.9.2
    delta semantics — the round-4 fix); every DATA after the shrink
    must fit the smaller window."""
    import struct as _s

    c = _RawH2(h2_url, initial_window=16)
    c.request("POST", "/api/sql", b"SELECT city FROM uk_cities ORDER BY city")
    body = b""
    shrunk = False
    small_frames = 0
    while True:
        ftype, flags, sid, payload = c.recv_frame()
        if ftype == 0 and sid == 1:
            if shrunk:
                assert len(payload) <= 3, len(payload)
                small_frames += 1
            body += payload
            if flags & 0x1:
                break
            if not shrunk and len(body) >= 16:
                # stalled now: shrink to 3, then top the (negative)
                # window back up — server must resume in <=3-byte frames
                # stream window is len(body)-16 (<=0); SETTINGS delta
                # (3-16) drops it 13 further; grant back to exactly +3
                c.send_frame(4, 0, 0, _s.pack(">HI", 4, 3))
                shrunk = True
                c.send_frame(8, 0, 1, _s.pack(">I", 13 + (16 - len(body)) + 3))
            else:
                c.send_frame(8, 0, 1, _s.pack(">I", len(payload)))
    assert shrunk and small_frames >= 3
    assert body.startswith(b"[")
    c.close()


def test_h2c_connection_window_exhaustion(h2_url):
    """A response bigger than the 65535-byte connection window: the
    server must stall at the connection level (stream window is huge)
    and resume on stream-0 WINDOW_UPDATEs only."""
    import struct as _s

    c = _RawH2(h2_url, initial_window=1 << 24)
    sql = (
        b"SELECT a.city AS c1, repeat(b.city, 2000) AS pad FROM uk_cities a "
        b"CROSS JOIN uk_cities b CROSS JOIN uk_cities c"
    )  # ~27 rows x ~10KB >> the 65535 connection window
    c.request("POST", "/api/sql", sql)
    body = b""
    granted_after = None
    while True:
        ftype, flags, sid, payload = c.recv_frame()
        if ftype == 0 and sid == 1:
            body += payload
            if flags & 0x1:
                break
            if len(body) >= 65535 and granted_after is None:
                granted_after = len(body)
                # nothing more can arrive until stream-0 credit
                c.send_frame(8, 0, 0, _s.pack(">I", 1 << 20))
            elif granted_after is None:
                pass  # still inside the initial connection window
    assert granted_after is not None, (
        f"response only {len(body)}B — enlarge the query"
    )
    assert granted_after <= 65535  # server honored the connection window
    assert len(body) > 65535
    c.close()


def test_h2c_large_upload_receive_window_replenished(h2_url):
    """Upload >64KB with a STRICT sender: the server must send
    WINDOW_UPDATEs as it buffers the body, or the upload deadlocks at
    65535 bytes (the receive-side fix this round)."""
    import struct as _s

    c = _RawH2(h2_url, initial_window=1 << 24)
    pad = b"/* " + b"x" * 70000 + b" */"
    body = b"SELECT COUNT(*) AS n FROM uk_cities " + pad
    headers = [
        (":method", "POST"), (":path", "/api/sql"), (":scheme", "http"),
        (":authority", "t"), ("content-length", str(len(body))),
    ]
    block = bytearray()
    for k, v in headers:
        block.append(0x00)
        block.append(len(k))
        block += k.encode()
        block.append(len(v))
        block += v.encode()
    c.send_frame(1, 0x4, 1, bytes(block))
    conn_credit = stream_credit = 65535
    off = 0
    while off < len(body):
        while min(conn_credit, stream_credit) <= 0:
            ftype, flags, sid, payload = c.recv_frame()
            if ftype == 8:  # WINDOW_UPDATE
                (incr,) = _s.unpack(">I", payload)
                if sid == 0:
                    conn_credit += incr
                else:
                    stream_credit += incr
        n = min(16384, conn_credit, stream_credit, len(body) - off)
        last = off + n >= len(body)
        c.send_frame(0, 0x1 if last else 0, 1, body[off : off + n])
        conn_credit -= n
        stream_credit -= n
        off += n
    resp = b""
    while True:
        ftype, flags, sid, payload = c.recv_frame()
        if ftype == 0 and sid == 1:
            resp += payload
            if flags & 0x1:
                break
    assert resp.startswith(b'[{"n":')  # the 70KB-padded query executed
    c.close()
