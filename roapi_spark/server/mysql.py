"""MySQL client/server protocol *server* — the loopback mirror of the
wire client in :mod:`roapi_spark.sources.mysqlwire` (round-13 verdict
item 7: the pg wire path is loopback-proven client<->server with zero
external dependencies; the MySQL client was scripted-server-tested
only because the repo shipped no MySQL server to loop against).

Scope is exactly the subset the client speaks (the reference loads
MySQL tables by one full-table ``SELECT *``, columnq/src/table/
database.rs:37-73 — no prepared statements, no binary protocol):

- HandshakeV10 greeting with a random 20-byte nonce split 8+13 per the
  protocol layout, advertising ``mysql_native_password``;
- HandshakeResponse41 parse and REAL scramble verification —
  SHA1(pwd) XOR SHA1(nonce + SHA1(SHA1(pwd))) recomputed server-side,
  so the loopback test proves both directions of the auth math, not
  just packet framing;
- optional AuthSwitchRequest (``force_auth_switch=True``) to drive the
  client's plugin-switch branch over a real socket;
- ``COM_QUERY`` -> catalog SQL -> text-protocol resultset: column
  definition packets with real MySQL column types mapped from the
  Spark schema, EOF-delimited (the client does not negotiate
  CLIENT_DEPRECATE_EOF), lenenc row values, 0xFB NULLs;
- ``COM_PING`` -> OK, ``COM_QUIT`` -> close, anything else -> ERR.

Pure stdlib (struct + socketserver), threaded like the pg server.
"""

from __future__ import annotations

import os
import socketserver
import struct
import threading

from pyspark.sql import types as T

from roapi_spark.catalog import Catalog
from roapi_spark.sources.mysqlwire import _native_password_scramble
from roapi_spark.server.wire import WireServer, error_text, recv_exact, render_text

_CLIENT_CONNECT_WITH_DB = 0x8
_CLIENT_PROTOCOL_41 = 0x200
_CLIENT_SECURE_CONNECTION = 0x8000
_CLIENT_PLUGIN_AUTH = 1 << 19

_NATIVE = "mysql_native_password"

# Spark type -> MySQL protocol::ColumnType (text protocol; the client
# decodes by these: ints {1,2,3,8,9,13}, floats {4,5}, decimal 0xF6,
# date 10, datetime {7,12}, everything else text)
_MYSQL_TYPES: list[tuple[type, int]] = [
    (T.BooleanType, 1),  # TINY — MySQL's BOOL is TINYINT(1)
    (T.ByteType, 1),
    (T.ShortType, 2),
    (T.IntegerType, 3),
    (T.LongType, 8),
    (T.FloatType, 4),
    (T.DoubleType, 5),
    (T.DecimalType, 0xF6),
    (T.DateType, 10),
    (T.TimestampType, 12),
    (T.TimestampNTZType, 12),
    (T.StringType, 253),  # VAR_STRING
]


def _mysql_type(dt: T.DataType) -> int:
    for cls, code in _MYSQL_TYPES:
        if isinstance(dt, cls):
            return code
    return 253  # arrays/structs/binary render as text


def _render(v: object) -> bytes | None:
    if isinstance(v, bool):
        return b"1" if v else b"0"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)  # collect() yields bytearray for BinaryType
    return render_text(v)


def _lenenc_int(n: int) -> bytes:
    if n < 0xFB:
        return bytes([n])
    if n < 1 << 16:
        return b"\xfc" + struct.pack("<H", n)
    if n < 1 << 24:
        return b"\xfd" + struct.pack("<I", n)[:3]
    return b"\xfe" + struct.pack("<Q", n)


def _lenenc_str(b: bytes) -> bytes:
    return _lenenc_int(len(b)) + b


def _col_def(name: str, ctype: int) -> bytes:
    return (
        _lenenc_str(b"def")  # catalog (always "def")
        + _lenenc_str(b"")  # schema
        + _lenenc_str(b"")  # table
        + _lenenc_str(b"")  # org_table
        + _lenenc_str(name.encode())
        + _lenenc_str(name.encode())  # org_name
        + b"\x0c"  # fixed-fields length
        + struct.pack("<H", 0x21)  # charset utf8
        + struct.pack("<I", 1024)  # column display length
        + bytes([ctype])
        + struct.pack("<H", 0)  # flags
        + b"\x00"  # decimals
        + b"\x00\x00"  # filler
    )


class _Handler(socketserver.BaseRequestHandler):
    # self.server is the MySqlServer: catalog, users, force_auth_switch

    def handle(self) -> None:
        sock = self.request
        self._seq = 0
        try:
            if not self._handshake(sock):
                return
            while True:
                pkt = self._read_packet(sock)
                if pkt is None or pkt[:1] == b"\x01":  # COM_QUIT
                    return
                self._seq = 1  # responses to a command restart at 1
                cmd = pkt[0]
                if cmd == 0x03:  # COM_QUERY
                    self._query(sock, pkt[1:].decode("utf-8", "replace"))
                elif cmd == 0x0E:  # COM_PING
                    self._send(sock, b"\x00\x00\x00\x02\x00\x00\x00")  # OK
                else:
                    self._err(sock, 1047, f"unsupported command 0x{cmd:02x}")
        except (ConnectionResetError, BrokenPipeError):
            pass

    # -- framing -------------------------------------------------------------

    def _read_packet(self, sock) -> bytes | None:
        data = b""
        while True:
            hdr = recv_exact(sock, 4)
            if hdr is None:
                return None
            length = hdr[0] | (hdr[1] << 8) | (hdr[2] << 16)
            self._seq = hdr[3] + 1
            body = recv_exact(sock, length)
            if body is None:
                return None
            data += body
            if length < 0xFFFFFF:
                return data

    def _send(self, sock, payload: bytes) -> None:
        while True:
            chunk, payload = payload[:0xFFFFFF], payload[0xFFFFFF:]
            sock.sendall(
                struct.pack("<I", len(chunk))[:3]
                + bytes([self._seq & 0xFF])
                + chunk
            )
            self._seq += 1
            if len(chunk) < 0xFFFFFF:
                return

    # -- connection phase ------------------------------------------------------

    @staticmethod
    def _nonce() -> bytes:
        """20 nonzero bytes — real servers never put 0x00 in the
        scramble (clients rstrip the null-terminated part-2, so a zero
        tail byte would desync the scramble math)."""
        return bytes((b % 255) + 1 for b in os.urandom(20))

    def _handshake(self, sock) -> bool:
        nonce = self._nonce()
        caps = (
            _CLIENT_PROTOCOL_41
            | _CLIENT_SECURE_CONNECTION
            | _CLIENT_PLUGIN_AUTH
            | _CLIENT_CONNECT_WITH_DB
        )
        greeting = (
            b"\x0a"  # protocol version 10
            + b"8.0.0-roapi-spark\x00"
            + struct.pack("<I", threading.get_ident() & 0xFFFFFFFF)
            + nonce[:8]
            + b"\x00"  # filler
            + struct.pack("<H", caps & 0xFFFF)
            + b"\x21"  # charset utf8
            + struct.pack("<H", 2)  # status: autocommit
            + struct.pack("<H", (caps >> 16) & 0xFFFF)
            + bytes([21])  # auth data length (8 + 13)
            + b"\x00" * 10
            + nonce[8:] + b"\x00"  # auth-data part 2, null-terminated
            + _NATIVE.encode() + b"\x00"
        )
        self._seq = 0
        self._send(sock, greeting)
        resp = self._read_packet(sock)
        if resp is None:
            return False
        try:  # non-MySQL probe bytes must not traceback out of handle()
            caps_client = struct.unpack_from("<I", resp, 0)[0]
            off = 4 + 4 + 1 + 23  # caps, max-packet, charset, reserved
            end = resp.index(b"\x00", off)
            user = resp[off:end].decode()
            off = end + 1
            alen = resp[off]
            auth = resp[off + 1 : off + 1 + alen]
            off += 1 + alen
            if caps_client & _CLIENT_CONNECT_WITH_DB and off < len(resp):
                off = resp.index(b"\x00", off) + 1  # database — accepted, unused
            plugin = _NATIVE
            if caps_client & _CLIENT_PLUGIN_AUTH and off < len(resp):
                pend = resp.find(b"\x00", off)
                plugin = resp[off : pend if pend >= 0 else len(resp)].decode()
        except (ValueError, IndexError, struct.error, UnicodeDecodeError):
            self._err(sock, 1043, "malformed handshake response")
            return False

        if plugin != _NATIVE or self.server.force_auth_switch:
            # drive the client's AuthSwitch branch: new nonce, re-scramble
            nonce = self._nonce()
            self._send(sock, b"\xfe" + _NATIVE.encode() + b"\x00" + nonce + b"\x00")
            auth = self._read_packet(sock) or b""

        users = self.server.users
        if user not in users:
            self._err(sock, 1045, f"access denied for user '{user}'")
            return False
        expected = _native_password_scramble(users[user], nonce)
        if bytes(auth) != expected:
            self._err(sock, 1045, "access denied (bad scramble)")
            return False
        self._send(sock, b"\x00\x00\x00\x02\x00\x00\x00")  # OK
        return True

    # -- query phase -------------------------------------------------------------

    def _query(self, sock, sql: str) -> None:
        low = sql.strip().lower()
        # connector handshake chatter (SET NAMES, SELECT @@version, ...)
        if low.startswith("set "):
            self._send(sock, b"\x00\x00\x00\x02\x00\x00\x00")
            return
        try:
            df = self.server.catalog.query_sql(sql)
            fields = df.schema.fields
            rows = df.collect()
        except Exception as exc:  # noqa: BLE001 — surface as wire error
            self._err(sock, 1064, error_text(exc, 400))
            return
        self._send(sock, _lenenc_int(len(fields)))
        for f in fields:
            self._send(sock, _col_def(f.name, _mysql_type(f.dataType)))
        eof = b"\xfe\x00\x00\x02\x00"  # warnings=0, status=autocommit
        self._send(sock, eof)
        for row in rows:
            out = b""
            for v in row:
                r = _render(v)
                out += b"\xfb" if r is None else _lenenc_str(r)
            self._send(sock, out)
        self._send(sock, eof)

    def _err(self, sock, code: int, message: str) -> None:
        self._send(
            sock,
            b"\xff"
            + struct.pack("<H", code)
            + b"#HY000"
            + message.encode(),
        )


class MySqlServer(WireServer):
    """Threaded MySQL-wire endpoint over a Catalog (loopback twin of
    :class:`roapi_spark.server.postgres.PostgresServer`)."""

    def __init__(
        self,
        catalog: Catalog,
        host: str = "127.0.0.1",
        port: int = 0,
        users: dict[str, str] | None = None,
        force_auth_switch: bool = False,
    ) -> None:
        super().__init__(catalog, host, port, _Handler)
        self.users = users if users is not None else {"spark": ""}
        self.force_auth_switch = force_auth_switch
