"""Wire clients the load generator speaks, written against the protocols
rather than the server's own code: HTTP/1.1, the Postgres v3 simple-query
flow and FlightSQL ``CommandStatementQuery`` over Arrow Flight."""

from __future__ import annotations

import http.client
import json
import socket
import struct
import time

import pyarrow as pa
import pyarrow.flight as flight

TIMEOUT_S = 60.0


class ServerError(RuntimeError):
    """A request the server answered with an error."""


class Http:
    """Each client keeps the wall time of its last request, from connect
    to the last byte received (``last_s``): an operation's latency leaves
    out the client's own parsing and checking."""

    def __init__(self, port: int) -> None:
        self.port = port
        self.last_s = 0.0

    def request(self, method: str, path: str, body: bytes | None = None) -> bytes:
        # the server closes the connection after each response, so each
        # request opens its own, as a browser or curl would
        t0 = time.perf_counter()
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=TIMEOUT_S)
        try:
            conn.request(method, path, body=body)
            resp = conn.getresponse()
            data = resp.read()
        finally:
            conn.close()
        self.last_s = time.perf_counter() - t0
        if resp.status != 200:
            raise ServerError(f"{method} {path}: HTTP {resp.status} {data[:200]!r}")
        return data

    def sql(self, query: str) -> list[dict]:
        return json.loads(self.request("POST", "/api/sql", query.encode()))

    def rest(self, table: str, params: str) -> list[dict]:
        return json.loads(self.request("GET", f"/api/tables/{table}?{params}"))

    def graphql(self, query: str) -> list[dict]:
        return json.loads(self.request("POST", "/api/graphql", query.encode()))

    def refresh(self, table: str) -> None:
        self.request("POST", "/api/table", json.dumps([{"tableName": table}]).encode())


class Pg:
    """One Postgres-wire session (startup once, then simple queries)."""

    def __init__(self, port: int) -> None:
        self.last_s = 0.0
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=TIMEOUT_S)
        payload = struct.pack(">I", 196608) + b"user\x00bench\x00database\x00bench\x00\x00"
        self.sock.sendall(struct.pack(">I", len(payload) + 4) + payload)
        self._until_ready()

    def _exact(self, n: int) -> bytes:
        buf = bytearray()
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                raise ConnectionError("postgres wire: connection closed")
            buf += chunk
        return bytes(buf)

    def _until_ready(self) -> list[tuple[bytes, bytes]]:
        msgs = []
        while True:
            tag = self._exact(1)
            (length,) = struct.unpack(">I", self._exact(4))
            msgs.append((tag, self._exact(length - 4)))
            if tag == b"Z":
                return msgs

    def query(self, sql: str) -> list[list[str | None]]:
        """Rows as text cells, the simple-query protocol's only format."""
        payload = sql.encode() + b"\x00"
        t0 = time.perf_counter()
        self.sock.sendall(b"Q" + struct.pack(">I", len(payload) + 4) + payload)
        msgs = self._until_ready()
        self.last_s = time.perf_counter() - t0
        rows = []
        for tag, body in msgs:
            if tag == b"E":
                raise ServerError(f"postgres wire: {body[:200]!r}")
            if tag == b"D":
                (n,) = struct.unpack(">H", body[:2])
                pos, row = 2, []
                for _ in range(n):
                    (ln,) = struct.unpack(">i", body[pos : pos + 4])
                    pos += 4
                    if ln < 0:
                        row.append(None)
                    else:
                        row.append(body[pos : pos + ln].decode())
                        pos += ln
                rows.append(row)
        return rows

    def close(self) -> None:
        try:
            self.sock.sendall(b"X" + struct.pack(">I", 4))
        finally:
            self.sock.close()


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        out.append(b | (0x80 if n else 0))
        if not n:
            return bytes(out)


def _field(num: int, data: bytes) -> bytes:
    return _varint(num << 3 | 2) + _varint(len(data)) + data


def statement_query(sql: str) -> bytes:
    """``google.protobuf.Any`` wrapping a FlightSQL ``CommandStatementQuery``."""
    url = b"type.googleapis.com/arrow.flight.protocol.sql.CommandStatementQuery"
    return _field(1, url) + _field(2, _field(1, sql.encode()))


class FlightSql:
    def __init__(self, port: int) -> None:
        self.client = flight.connect(f"grpc://127.0.0.1:{port}")
        self.options = flight.FlightCallOptions(timeout=TIMEOUT_S)
        self.last_s = 0.0

    def query(self, sql: str) -> pa.Table:
        desc = flight.FlightDescriptor.for_command(statement_query(sql))
        t0 = time.perf_counter()
        info = self.client.get_flight_info(desc, self.options)
        table = pa.concat_tables(
            self.client.do_get(ep.ticket, self.options).read_all() for ep in info.endpoints
        )
        self.last_s = time.perf_counter() - t0
        return table

    def close(self) -> None:
        self.client.close()
