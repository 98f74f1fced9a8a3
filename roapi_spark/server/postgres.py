"""PostgreSQL wire-protocol (v3) server (reference:
roapi/src/server/postgres.rs, 543 LoC on the pgwire crate).

Behavior parity:
- simple query 'Q' with a multi-statement split on the ';'s outside
  literals and comments (postgres.rs:360-395);
- extended-query protocol: Parse/Bind/Describe/Execute/Close/Flush/Sync
  with $n parameters (text + common binary formats) bound natively as
  Spark named parameters, typed by their declared OID; portal row
  limits with PortalSuspended, and skip-until-Sync error recovery —
  parity with pgwire's ExtendedQueryHandler (postgres.rs:125-358);
- ``SHOW``/``SET`` are accepted no-ops returning an empty result
  (postgres.rs:114-123);
- every value is rendered as text (postgres.rs:132-141) with the type-OID
  map from postgres.rs:51-103 (unsigned -> next wider, timestamps ->
  TIMESTAMP, lists/structs -> JSON-ish text);
- SSLRequest answered with 'N' (no TLS).

Pure-stdlib implementation (struct + socketserver); psycopg-compatible for
the subset above. Beyond the reference (pgwire serves text-only results,
postgres.rs:132-141): binary RESULT format codes in Bind are honored for
the mapped OIDs (bool/int2/4/8/float4/8/numeric/date/timestamp/bytea/
text) because asyncpg requests binary unconditionally; an unmapped OID
under a binary code gets a clean ErrorResponse naming the oid, never a
misencoded row.
"""

from __future__ import annotations

import decimal
import re
import socketserver
import struct
from datetime import date, datetime

from pyspark.sql import types as T

from roapi_spark.catalog import Catalog, mask_literals, sub_outside_literals
from roapi_spark.server.wire import WireServer, error_text, recv_exact, render_text

_SSL_REQUEST = 80877103
_STARTUP_V3 = 196608
_CANCEL_REQUEST = 80877102

# Spark type -> (pg type oid, typlen); contract: postgres.rs:51-103
_OID_TEXT = 25
_TYPE_OIDS: list[tuple[type, int]] = [
    (T.BooleanType, 16),
    (T.ByteType, 21),
    (T.ShortType, 21),
    (T.IntegerType, 23),
    (T.LongType, 20),
    (T.FloatType, 700),
    (T.DoubleType, 701),
    (T.DecimalType, 1700),
    (T.DateType, 1082),
    (T.TimestampType, 1114),
    (T.TimestampNTZType, 1114),
    (T.BinaryType, 17),
    (T.StringType, _OID_TEXT),
]


def _oid_for(dt: T.DataType) -> int:
    for cls, oid in _TYPE_OIDS:
        if isinstance(dt, cls):
            return oid
    return _OID_TEXT  # arrays/structs/maps render as text (postgres.rs:79-83)


def _render(v: object) -> bytes | None:
    """Text-format rendering, pg conventions (all-text like the reference)."""
    if isinstance(v, bool):
        return b"t" if v else b"f"
    if isinstance(v, (bytes, bytearray)):
        return b"\\x" + bytes(v).hex().encode()  # collect() yields bytearray
    return render_text(v)


_PG_EPOCH_DATE = date(2000, 1, 1)
_PG_EPOCH_TS = datetime(2000, 1, 1)


def _numeric_binary(dec) -> bytes:
    """pg `numeric` binary wire form: base-10000 digit groups with
    weight/sign/dscale header (public wire format)."""
    if dec.is_nan():
        return struct.pack(">HhHH", 0, 0, 0xC000, 0)
    sign = 0x4000 if dec < 0 else 0x0000
    dec = abs(dec)
    exp = dec.as_tuple().exponent
    dscale = max(0, -exp)
    shift = ((dscale + 3) // 4) * 4  # align the point to a group boundary
    n = int(dec.scaleb(shift).to_integral_value(rounding=decimal.ROUND_HALF_UP))
    groups: list[int] = []
    while n:
        groups.append(n % 10000)
        n //= 10000
    groups.reverse()
    if not groups:
        return struct.pack(">HhHH", 0, 0, sign, dscale)
    weight = len(groups) - 1 - shift // 4
    while groups and groups[-1] == 0:
        groups.pop()  # trailing zero groups are implicit
    out = struct.pack(">HhHH", len(groups), weight, sign, dscale)
    return out + b"".join(struct.pack(">H", g) for g in groups)


def _render_binary(v: object, oid: int) -> bytes | None:
    """Binary-format rendering for the OIDs this server maps. Unmapped
    combinations raise — the caller turns that into an ErrorResponse
    instead of sending a row the driver would misparse."""
    if v is None:
        return None
    if oid == 16:
        return b"\x01" if v else b"\x00"
    if oid == 21:
        return struct.pack(">h", int(v))
    if oid == 23:
        return struct.pack(">i", int(v))
    if oid == 20:
        return struct.pack(">q", int(v))
    if oid == 700:
        return struct.pack(">f", float(v))
    if oid == 701:
        return struct.pack(">d", float(v))
    if oid == 1700:
        return _numeric_binary(decimal.Decimal(str(v)))
    if oid == 17:
        return bytes(v)
    if oid == 1082:
        return struct.pack(">i", (v - _PG_EPOCH_DATE).days)
    if oid == 1114:
        if v.tzinfo is not None:
            from datetime import timezone

            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        delta = v - _PG_EPOCH_TS
        micros = (delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds
        return struct.pack(">q", micros)
    if oid == _OID_TEXT:
        r = _render(v)
        return r  # text oid: binary form is the same utf8 bytes
    raise ValueError(f"binary result format unsupported for oid {oid}")


def _msg(tag: bytes, payload: bytes) -> bytes:
    return tag + struct.pack(">I", len(payload) + 4) + payload


def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


_INT_OIDS = {20, 21, 23}
_PG_PARAM_RE = re.compile(r"\$(\d+)")


def _read_cstr(b: bytes) -> tuple[str, bytes]:
    i = b.index(b"\x00")
    return b[:i].decode("utf-8", "replace"), b[i + 1 :]


def _param_value(raw: bytes | None, oid: int, fmt: int) -> object:
    """One bound parameter as the Python value Spark binds natively; its
    type follows the declared OID."""
    if raw is None:
        return None
    if fmt == 1:  # binary format (postgres.rs param decode parity)
        if oid in _INT_OIDS and len(raw) in (2, 4, 8):
            return int.from_bytes(raw, "big", signed=True)
        if oid == 701 and len(raw) == 8:
            return struct.unpack(">d", raw)[0]
        if oid == 700 and len(raw) == 4:
            return struct.unpack(">f", raw)[0]
        if oid == 16 and len(raw) == 1:
            return bool(raw[0])
        if oid == 17:
            return bytes(raw)
        raise ValueError(f"unsupported binary parameter format for oid {oid}")
    s = raw.decode("utf-8", "replace")
    if oid in _INT_OIDS:
        return int(s)
    if oid in (700, 701):
        return float(s)
    if oid == 1700:
        return decimal.Decimal(s)
    if oid == 16:
        return s.lower() in ("t", "true", "1", "on", "yes")
    if oid == 17:  # bytea text form is \x-prefixed hex
        return bytes.fromhex(s[2:]) if s.startswith("\\x") else bytes(raw)
    return s


def _named_markers(sql: str) -> tuple[str, set[str]]:
    """pg's ``$n`` markers outside literals and comments become Spark's
    named markers ``:pn``; returns the rewritten SQL and the names."""
    names: set[str] = set()

    def repl(m: re.Match) -> str:
        names.add(f"p{int(m.group(1))}")
        return f":p{int(m.group(1))}"

    return sub_outside_literals(_PG_PARAM_RE, repl, sql), names


def _session_chatter(sql: str) -> str | None:
    """The command tag for the SET/SHOW session statements clients send
    while connecting, which are accepted no-ops (postgres.rs:114-123);
    None for anything else. SHOW TBLPROPERTIES is real SQL."""
    words = sql.lower().split(None, 2)
    if words[:1] == ["set"] or (words[:1] == ["show"] and words[1:2] != ["tblproperties"]):
        return words[0].upper()
    return None


class _Handler(socketserver.BaseRequestHandler):
    # self.server is the PostgresServer

    def handle(self) -> None:  # noqa: C901
        sock = self.request
        # per-connection extended-protocol state
        self._stmts: dict[str, dict] = {}  # name -> {sql, markers, oids, fields}
        self._portals: dict[str, dict] = {}
        self._skip_to_sync = False
        try:
            if not self._startup(sock):
                return
            while True:
                hdr = recv_exact(sock, 5)
                if hdr is None:
                    return
                tag, length = hdr[0:1], struct.unpack(">I", hdr[1:5])[0]
                payload = recv_exact(sock, length - 4) or b""
                if tag == b"X":  # Terminate
                    return
                if self._skip_to_sync and tag != b"S":
                    # error recovery: discard until Sync (pg protocol §55.2.3)
                    continue
                if tag == b"Q":
                    self._simple_query(sock, payload[:-1].decode("utf-8", "replace"))
                elif tag == b"P":
                    self._parse_msg(sock, payload)
                elif tag == b"B":
                    self._bind_msg(sock, payload)
                elif tag == b"D":
                    self._describe_msg(sock, payload)
                elif tag == b"E":
                    self._execute_msg(sock, payload)
                elif tag == b"C":
                    self._close_msg(sock, payload)
                elif tag == b"H":  # Flush — we already write eagerly
                    pass
                elif tag == b"S":  # Sync
                    self._skip_to_sync = False
                    sock.sendall(_msg(b"Z", b"I"))
                else:
                    self._ext_error(sock, f"unsupported message type {tag!r}")
        except (ConnectionResetError, BrokenPipeError):
            pass

    # -- protocol pieces ---------------------------------------------------

    def _startup(self, sock) -> bool:
        while True:
            head = recv_exact(sock, 8)
            if head is None:
                return False
            length, code = struct.unpack(">II", head)
            rest = recv_exact(sock, length - 8) or b""
            if code == _SSL_REQUEST:
                sock.sendall(b"N")  # no TLS
                continue
            if code == _CANCEL_REQUEST:
                return False
            if code == _STARTUP_V3:
                del rest  # client params (user/database) — accepted as-is
                sock.sendall(_msg(b"R", struct.pack(">I", 0)))  # AuthenticationOk
                for k, v in (
                    ("server_version", "14.0 (roapi_spark)"),
                    ("server_encoding", "UTF8"),
                    ("client_encoding", "UTF8"),
                    ("DateStyle", "ISO"),
                ):
                    sock.sendall(_msg(b"S", _cstr(k) + _cstr(v)))
                sock.sendall(_msg(b"K", struct.pack(">II", 0, 0)))  # BackendKeyData
                sock.sendall(_msg(b"Z", b"I"))  # ReadyForQuery idle
                return True
            self._error(sock, f"unsupported protocol code {code}")
            return False

    @staticmethod
    def _col_fmt(rfmts: list[int] | None, i: int) -> int:
        """Result format for column i per the Bind rules: no codes = all
        text, one code = applies to all, else per-column."""
        if not rfmts:
            return 0
        if len(rfmts) == 1:
            return rfmts[0]
        return rfmts[i] if i < len(rfmts) else 0

    def _row_desc(self, fields, rfmts: list[int] | None = None) -> bytes:
        desc = struct.pack(">H", len(fields))
        for i, f in enumerate(fields):
            desc += _cstr(f.name) + struct.pack(
                ">IHIhih", 0, 0, _oid_for(f.dataType), -1, -1,
                self._col_fmt(rfmts, i),
            )
        return desc

    def _data_row(self, fields, row, rfmts: list[int] | None = None) -> bytes:
        body = struct.pack(">H", len(fields))
        for i, v in enumerate(row):
            if self._col_fmt(rfmts, i) == 1:
                r = _render_binary(v, _oid_for(fields[i].dataType))
            else:
                r = _render(v)
            if r is None:
                body += struct.pack(">i", -1)
            else:
                body += struct.pack(">i", len(r)) + r
        return body

    def _simple_query(self, sock, sql: str) -> None:
        # multi-statement split on the ';'s outside literals and comments
        # (postgres.rs:360-395); a part that is only a comment is empty
        masked = mask_literals(sql)
        cuts = [-1, *(m.start() for m in re.finditer(";", masked)), len(sql)]
        ran_any = False
        for a, b in zip(cuts, cuts[1:]):
            if not masked[a + 1 : b].strip():
                continue
            stmt = sql[a + 1 : b].strip()
            ran_any = True
            tag = _session_chatter(stmt)
            if tag:
                sock.sendall(_msg(b"C", _cstr(tag)))
                continue
            try:
                df = self.server.catalog.query_sql(stmt)
                fields = df.schema.fields
                rows = df.collect()
            except Exception as exc:  # noqa: BLE001 — surface as pg error
                self._error(sock, error_text(exc, 500))
                sock.sendall(_msg(b"Z", b"I"))
                return
            sock.sendall(_msg(b"T", self._row_desc(fields)))
            for row in rows:
                sock.sendall(_msg(b"D", self._data_row(fields, row)))
            sock.sendall(_msg(b"C", _cstr(f"SELECT {len(rows)}")))
        if not ran_any:
            sock.sendall(_msg(b"I", b""))  # EmptyQueryResponse
        sock.sendall(_msg(b"Z", b"I"))

    # -- extended-query protocol (postgres.rs:125-358 parity) ---------------

    def _ext_error(self, sock, message: str) -> None:
        """Error inside the extended flow: report, then discard until Sync."""
        self._error(sock, message)
        self._skip_to_sync = True

    def _parse_msg(self, sock, payload: bytes) -> None:
        name, rest = _read_cstr(payload)
        sql, rest = _read_cstr(rest)
        (n_oids,) = struct.unpack(">H", rest[:2])
        oids = list(struct.unpack(f">{n_oids}I", rest[2 : 2 + 4 * n_oids]))
        # fields: analyzed result schema, cached per named statement the
        # way the reference's DashMap caches prepared plans
        # (flight_sql.rs:107-126) — Describe re-plans at most once per
        # Parse; re-Parse of the same name invalidates. "unset" marks
        # not-yet-probed (None is a valid outcome: analysis failed).
        sql, markers = _named_markers(sql.strip().rstrip(";").strip())
        self._stmts[name] = {"sql": sql, "markers": markers, "oids": oids,
                             "fields": "unset"}
        sock.sendall(_msg(b"1", b""))  # ParseComplete

    def _bind_msg(self, sock, payload: bytes) -> None:  # noqa: C901
        portal, rest = _read_cstr(payload)
        stmt_name, rest = _read_cstr(rest)
        (n_fmt,) = struct.unpack(">H", rest[:2])
        fmts = list(struct.unpack(f">{n_fmt}h", rest[2 : 2 + 2 * n_fmt]))
        rest = rest[2 + 2 * n_fmt :]
        (n_params,) = struct.unpack(">H", rest[:2])
        rest = rest[2:]
        raws: list[bytes | None] = []
        for _ in range(n_params):
            (ln,) = struct.unpack(">i", rest[:4])
            rest = rest[4:]
            if ln == -1:
                raws.append(None)
            else:
                raws.append(rest[:ln])
                rest = rest[ln:]
        (n_rfmt,) = struct.unpack(">H", rest[:2])
        rfmts = list(struct.unpack(f">{n_rfmt}h", rest[2 : 2 + 2 * n_rfmt]))
        if any(f not in (0, 1) for f in rfmts):
            self._ext_error(sock, f"bad result format codes {rfmts}")
            return
        if stmt_name not in self._stmts:
            self._ext_error(sock, f"unknown prepared statement {stmt_name!r}")
            return
        stmt = self._stmts[stmt_name]
        oids = stmt["oids"]
        try:
            args = {}
            for i, raw in enumerate(raws):
                oid = oids[i] if i < len(oids) else 0
                # per-param format: 0/1 codes apply all-or-per-param
                fmt = fmts[i] if len(fmts) == len(raws) else (fmts[0] if fmts else 0)
                args[f"p{i + 1}"] = _param_value(raw, oid, fmt)
        except (ValueError, ArithmeticError, struct.error) as exc:
            self._ext_error(sock, f"bind failed: {exc}")
            return
        self._portals[portal] = {
            "sql": stmt["sql"], "args": args, "fields": None, "rows": None,
            "pos": 0, "rfmts": rfmts,
        }
        sock.sendall(_msg(b"2", b""))  # BindComplete

    def _run_portal(self, p: dict) -> None:
        """Materialize the portal's result set on first Execute/Describe."""
        tag = _session_chatter(p["sql"])
        if not p["sql"] or tag:
            p["fields"], p["rows"] = [], []
            p["noop_tag"] = tag or "SHOW"
            return
        df = self.server.catalog.query_sql(p["sql"], args=p["args"])
        p["fields"] = df.schema.fields
        # Bind's result-format-code list must cover all columns, one, or
        # none (protocol rule); silently text-defaulting the excess would
        # hand a buggy client wrong formats without an error
        rfmts = p.get("rfmts") or []
        if len(rfmts) not in (0, 1, len(p["fields"])):
            raise ValueError(
                f"bind message supplies {len(rfmts)} result format codes "
                f"but query returns {len(p['fields'])} columns"
            )
        p["rows"] = df.collect()

    def _describe_msg(self, sock, payload: bytes) -> None:
        kind, name = payload[0:1], _read_cstr(payload[1:])[0]
        if kind == b"S":
            if name not in self._stmts:
                self._ext_error(sock, f"unknown prepared statement {name!r}")
                return
            stmt = self._stmts[name]
            oids = stmt["oids"]
            sock.sendall(  # ParameterDescription
                _msg(b"t", struct.pack(">H", len(oids)) + b"".join(struct.pack(">I", o) for o in oids))
            )
            if stmt["fields"] == "unset":
                try:
                    # schema without execution: bind NULLs, analyze once;
                    # cached on the statement for every later Describe
                    stmt["fields"] = self.server.catalog.query_sql(
                        stmt["sql"], args=dict.fromkeys(stmt["markers"])
                    ).schema.fields
                except Exception:  # noqa: BLE001 — NULL-typed probe can fail analysis
                    stmt["fields"] = None
            if stmt["fields"] is not None:
                sock.sendall(_msg(b"T", self._row_desc(stmt["fields"])))
            else:
                sock.sendall(_msg(b"n", b""))  # NoData
            return
        if kind == b"P":
            p = self._portals.get(name)
            if p is None:
                self._ext_error(sock, f"unknown portal {name!r}")
                return
            try:
                if p["rows"] is None:
                    self._run_portal(p)
            except Exception as exc:  # noqa: BLE001
                self._ext_error(sock, error_text(exc, 500))
                return
            if p["fields"]:
                sock.sendall(_msg(b"T", self._row_desc(p["fields"], p.get("rfmts"))))
            else:
                sock.sendall(_msg(b"n", b""))
            return
        self._ext_error(sock, f"bad describe kind {kind!r}")

    def _execute_msg(self, sock, payload: bytes) -> None:
        name, rest = _read_cstr(payload)
        (max_rows,) = struct.unpack(">i", rest[:4])
        p = self._portals.get(name)
        if p is None:
            self._ext_error(sock, f"unknown portal {name!r}")
            return
        try:
            if p["rows"] is None:
                self._run_portal(p)
        except Exception as exc:  # noqa: BLE001
            self._ext_error(sock, error_text(exc, 500))
            return
        if "noop_tag" in p:
            sock.sendall(_msg(b"C", _cstr(p["noop_tag"])))
            return
        rows, fields, pos = p["rows"], p["fields"], p["pos"]
        end = len(rows) if max_rows <= 0 else min(pos + max_rows, len(rows))
        try:
            encoded = [
                _msg(b"D", self._data_row(fields, row, p.get("rfmts")))
                for row in rows[pos:end]
            ]
        except (ValueError, struct.error, TypeError) as exc:
            # encode the whole chunk BEFORE sending: an unmapped oid under
            # a binary format code errors cleanly instead of dying mid-row
            self._ext_error(sock, f"result encode failed: {exc}")
            return
        for m in encoded:
            sock.sendall(m)
        p["pos"] = end
        if end < len(rows):
            sock.sendall(_msg(b"s", b""))  # PortalSuspended
        else:
            sock.sendall(_msg(b"C", _cstr(f"SELECT {end - pos}")))

    def _close_msg(self, sock, payload: bytes) -> None:
        kind, name = payload[0:1], _read_cstr(payload[1:])[0]
        if kind == b"S":
            self._stmts.pop(name, None)
        elif kind == b"P":
            self._portals.pop(name, None)
        sock.sendall(_msg(b"3", b""))  # CloseComplete

    def _error(self, sock, message: str) -> None:
        payload = b"S" + _cstr("ERROR") + b"C" + _cstr("XX000") + b"M" + _cstr(message) + b"\x00"
        sock.sendall(_msg(b"E", payload))


class PostgresServer(WireServer):
    """Threaded pg-wire endpoint over a Catalog."""

    def __init__(self, catalog: Catalog, host: str = "127.0.0.1", port: int = 0) -> None:
        super().__init__(catalog, host, port, _Handler)
