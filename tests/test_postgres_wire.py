"""Postgres wire e2e (reference: roapi/tests/postgres_test.rs — COUNT over
pg wire). No pg client lib in this container, so the test speaks raw
protocol v3 bytes: startup -> AuthenticationOk -> Q -> RowDescription/
DataRow/CommandComplete -> ReadyForQuery."""

from __future__ import annotations

import socket
import struct

import pytest

from roapi_spark.catalog import Catalog
from roapi_spark.config import parse_table_config
from roapi_spark.server.postgres import PostgresServer


class MiniPgClient:
    def __init__(self, port: int) -> None:
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=30)
        payload = struct.pack(">I", 196608) + b"user\x00t\x00database\x00t\x00\x00"
        self.sock.sendall(struct.pack(">I", len(payload) + 4) + payload)
        msgs = self._read_until(b"Z")
        assert msgs[0][0] == b"R" and struct.unpack(">I", msgs[0][1])[0] == 0  # AuthOk

    def _recv_exact(self, n: int) -> bytes:
        data = b""
        while len(data) < n:
            chunk = self.sock.recv(n - len(data))
            if not chunk:
                raise ConnectionError("closed")
            data += chunk
        return data

    def _read_until(self, end_tag: bytes) -> list[tuple[bytes, bytes]]:
        msgs = []
        while True:
            tag = self._recv_exact(1)
            length = struct.unpack(">I", self._recv_exact(4))[0]
            payload = self._recv_exact(length - 4)
            msgs.append((tag, payload))
            if tag == end_tag:
                return msgs

    def query(self, sql: str) -> list[tuple[bytes, bytes]]:
        payload = sql.encode() + b"\x00"
        self.sock.sendall(b"Q" + struct.pack(">I", len(payload) + 4) + payload)
        return self._read_until(b"Z")

    # -- extended-protocol messages (psycopg/asyncpg message flow) ---------

    def _send(self, tag: bytes, payload: bytes) -> None:
        self.sock.sendall(tag + struct.pack(">I", len(payload) + 4) + payload)

    def parse(self, name: str, sql: str, param_oids: list[int] | None = None) -> None:
        oids = param_oids or []
        self._send(
            b"P",
            name.encode() + b"\x00" + sql.encode() + b"\x00"
            + struct.pack(">H", len(oids))
            + b"".join(struct.pack(">I", o) for o in oids),
        )

    def bind(
        self,
        portal: str,
        stmt: str,
        params: list[bytes | None],
        param_fmts: list[int] | None = None,
        result_fmts: list[int] | None = None,
    ) -> None:
        fmts = param_fmts or []
        rfmts = result_fmts or []
        body = portal.encode() + b"\x00" + stmt.encode() + b"\x00"
        body += struct.pack(">H", len(fmts)) + b"".join(struct.pack(">h", f) for f in fmts)
        body += struct.pack(">H", len(params))
        for p in params:
            if p is None:
                body += struct.pack(">i", -1)
            else:
                body += struct.pack(">i", len(p)) + p
        body += struct.pack(">H", len(rfmts)) + b"".join(struct.pack(">h", f) for f in rfmts)
        self._send(b"B", body)

    def describe(self, kind: str, name: str) -> None:
        self._send(b"D", kind.encode() + name.encode() + b"\x00")

    def execute(self, portal: str, max_rows: int = 0) -> None:
        self._send(b"E", portal.encode() + b"\x00" + struct.pack(">i", max_rows))

    def close_stmt(self, kind: str, name: str) -> None:
        self._send(b"C", kind.encode() + name.encode() + b"\x00")

    def sync(self) -> list[tuple[bytes, bytes]]:
        self._send(b"S", b"")
        return self._read_until(b"Z")

    def close(self) -> None:
        self.sock.sendall(b"X" + struct.pack(">I", 4))
        self.sock.close()


def parse_data_rows(msgs):
    rows = []
    for tag, payload in msgs:
        if tag != b"D":
            continue
        (n,) = struct.unpack(">H", payload[:2])
        off, vals = 2, []
        for _ in range(n):
            (ln,) = struct.unpack(">i", payload[off : off + 4])
            off += 4
            if ln == -1:
                vals.append(None)
            else:
                vals.append(payload[off : off + ln].decode())
                off += ln
        rows.append(tuple(vals))
    return rows


@pytest.fixture(scope="module")
def pg(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("pg")
    (root / "t.csv").write_text("id,name,ok\n1,alpha,true\n2,beta,false\n3,,true\n")
    cat = Catalog(spark)
    cat.load_table(parse_table_config({"name": "pgt", "uri": str(root / "t.csv")}))
    server = PostgresServer(cat)
    server.start()
    yield server
    server.stop()


def test_count_roundtrip(pg):
    c = MiniPgClient(pg.port)
    msgs = c.query("SELECT count(*) AS n FROM pgt")
    assert parse_data_rows(msgs) == [("3",)]
    # RowDescription announces int8 oid (20) for the count
    rowdesc = next(p for t, p in msgs if t == b"T")
    (oid,) = struct.unpack(">I", rowdesc[2 + len(b"n") + 1 + 6 : 2 + len(b"n") + 1 + 10])
    assert oid == 20
    c.close()


def test_types_and_nulls_as_text(pg):
    c = MiniPgClient(pg.port)
    rows = parse_data_rows(c.query("SELECT id, name, ok FROM pgt ORDER BY id"))
    assert rows == [("1", "alpha", "t"), ("2", "beta", "f"), ("3", None, "t")]
    c.close()


def test_multi_statement_and_show_set(pg):
    c = MiniPgClient(pg.port)
    msgs = c.query("SET search_path TO x; SELECT 1 AS a; SELECT 2 AS b")
    completes = [p for t, p in msgs if t == b"C"]
    assert [x.rstrip(b"\x00") for x in completes] == [b"SET", b"SELECT 1", b"SELECT 1"]
    assert parse_data_rows(msgs) == [("1",), ("2",)]
    msgs = c.query("SHOW server_version")
    assert [t for t, _ in msgs] == [b"C", b"Z"]
    c.close()


def test_error_then_recovers(pg):
    c = MiniPgClient(pg.port)
    msgs = c.query("SELECT * FROM missing_table")
    assert msgs[0][0] == b"E" and msgs[-1][0] == b"Z"
    # connection still usable
    assert parse_data_rows(c.query("SELECT 42 AS x")) == [("42",)]
    c.close()


# -- extended-query protocol -------------------------------------------------


def _tags(msgs):
    return [t for t, _ in msgs]


def test_extended_parameterized_query(pg):
    """psycopg-style flow: Parse -> Bind(text params) -> Describe(portal)
    -> Execute -> Sync, with $n substitution."""
    c = MiniPgClient(pg.port)
    c.parse("s1", "SELECT id, name FROM pgt WHERE id > $1 ORDER BY id", [23])
    c.bind("", "s1", [b"1"])
    c.describe("P", "")
    c.execute("")
    msgs = c.sync()
    assert _tags(msgs)[:3] == [b"1", b"2", b"T"]  # Parse/Bind/RowDescription
    assert parse_data_rows(msgs) == [("2", "beta"), ("3", None)]
    assert any(t == b"C" and p.rstrip(b"\x00") == b"SELECT 2" for t, p in msgs)
    c.close()


def test_extended_describe_statement(pg):
    """asyncpg-style flow: Parse -> Describe(statement) gives
    ParameterDescription + RowDescription before any Bind."""
    c = MiniPgClient(pg.port)
    c.parse("s2", "SELECT id FROM pgt WHERE id = $1", [20])
    c.describe("S", "s2")
    msgs = c.sync()
    assert _tags(msgs)[:2] == [b"1", b"t"]
    pd = next(p for t, p in msgs if t == b"t")
    assert struct.unpack(">HI", pd) == (1, 20)  # one int8 param
    assert b"T" in _tags(msgs)  # RowDescription resolved via NULL probe
    # now bind + execute twice with different params on the same statement
    for param, expect in [(b"1", [("1",)]), (b"3", [("3",)])]:
        c.bind("", "s2", [param])
        c.execute("")
        msgs = c.sync()
        assert parse_data_rows(msgs) == expect
    c.close()


def test_extended_binary_params_and_row_limit(pg):
    c = MiniPgClient(pg.port)
    c.parse("s3", "SELECT id FROM pgt WHERE id >= $1 ORDER BY id", [23])
    c.bind("p1", "s3", [struct.pack(">i", 1)], param_fmts=[1])  # binary int4
    c.execute("p1", max_rows=2)
    msgs = c.sync()
    assert parse_data_rows(msgs) == [("1",), ("2",)]
    assert b"s" in _tags(msgs)  # PortalSuspended: rows remain
    # resume the suspended portal
    c.execute("p1", max_rows=10)
    msgs = c.sync()
    assert parse_data_rows(msgs) == [("3",)]
    assert any(t == b"C" and p.rstrip(b"\x00") == b"SELECT 1" for t, p in msgs)
    c.close()


def test_extended_null_param_and_string_quoting(pg):
    c = MiniPgClient(pg.port)
    c.parse("s4", "SELECT $1 AS a, $2 AS b", [25, 25])
    c.bind("", "s4", [None, b"it's"])
    c.execute("")
    msgs = c.sync()
    assert parse_data_rows(msgs) == [(None, "it's")]
    c.close()


def test_extended_error_skips_to_sync(pg):
    c = MiniPgClient(pg.port)
    c.parse("s5", "SELECT * FROM missing_table", [])
    c.bind("", "s5", [])
    c.execute("")  # fails at execution
    msgs = c.sync()
    assert b"E" in _tags(msgs) and msgs[-1][0] == b"Z"
    # unknown statement binds also error + recover
    c.bind("", "never_parsed", [])
    msgs = c.sync()
    assert b"E" in _tags(msgs)
    # connection still works for simple queries
    assert parse_data_rows(c.query("SELECT 7 AS x")) == [("7",)]
    # and Close is acknowledged
    c.parse("s6", "SELECT 1", [])
    c.close_stmt("S", "s6")
    msgs = c.sync()
    assert b"3" in _tags(msgs)
    c.close()


def _binary_rows(msgs):
    """DataRow payloads with raw (undecoded) cell bytes."""
    rows = []
    for tag, payload in msgs:
        if tag != b"D":
            continue
        (n,) = struct.unpack(">H", payload[:2])
        off, vals = 2, []
        for _ in range(n):
            (ln,) = struct.unpack(">i", payload[off : off + 4])
            off += 4
            if ln == -1:
                vals.append(None)
            else:
                vals.append(payload[off : off + ln])
                off += ln
        rows.append(tuple(vals))
    return rows


def test_extended_binary_result_format(pg):
    """asyncpg binds with result format 1 unconditionally: int8 and bool
    come back big-endian binary, and the RowDescription echoes format 1."""
    c = MiniPgClient(pg.port)
    c.parse("s7", "SELECT id, ok FROM pgt ORDER BY id", [])
    c.bind("", "s7", [], result_fmts=[1])
    c.describe("P", "")
    c.execute("", 0)
    msgs = c.sync()
    rowdesc = next(p for t, p in msgs if t == b"T")
    assert rowdesc[-2:] == struct.pack(">h", 1)  # last column's format code
    rows = _binary_rows(msgs)
    # csv inference types id as int4 (oid 23)
    assert rows == [
        (struct.pack(">i", 1), b"\x01"),
        (struct.pack(">i", 2), b"\x00"),
        (struct.pack(">i", 3), b"\x01"),
    ]
    c.close()


def test_extended_mixed_result_formats_and_null(pg):
    """Per-column codes: text name (format 0) next to binary id; NULL is
    -1-length in either format."""
    c = MiniPgClient(pg.port)
    c.parse("s8", "SELECT id, name FROM pgt ORDER BY id", [])
    c.bind("", "s8", [], result_fmts=[1, 0])
    c.execute("", 0)
    msgs = c.sync()
    rows = _binary_rows(msgs)
    assert rows == [
        (struct.pack(">i", 1), b"alpha"),
        (struct.pack(">i", 2), b"beta"),
        (struct.pack(">i", 3), None),
    ]
    c.close()


def test_extended_binary_numeric_date_timestamp(pg):
    """pg binary wire forms for numeric (base-10000 groups), date (days
    since 2000-01-01) and timestamp (micros since 2000-01-01)."""
    c = MiniPgClient(pg.port)
    c.parse(
        "s9",
        "SELECT CAST(123.45 AS DECIMAL(10,2)) AS d, DATE'2000-01-03' AS dt, "
        "TIMESTAMP_NTZ'2000-01-01 00:00:01.5' AS ts",
        [],
    )
    c.bind("", "s9", [], result_fmts=[1])
    c.execute("", 0)
    msgs = c.sync()
    (row,) = _binary_rows(msgs)
    # numeric: ndigits=2 weight=0 sign=0 dscale=2, digits [123, 4500]
    assert row[0] == struct.pack(">HhHH", 2, 0, 0, 2) + struct.pack(">HH", 123, 4500)
    assert row[1] == struct.pack(">i", 2)
    assert row[2] == struct.pack(">q", 1_500_000)
    c.close()


def test_extended_binary_unmapped_oid_errors_cleanly(pg):
    """A column that only maps to text (array -> json text oid works), but
    a bad format code list still errors + recovers."""
    c = MiniPgClient(pg.port)
    c.parse("s10", "SELECT id FROM pgt", [])
    c.bind("", "s10", [], result_fmts=[7])  # invalid code, not 0/1
    msgs = c.sync()
    assert b"E" in _tags(msgs)
    # connection recovered: text-format rebind works
    c.parse("s10b", "SELECT count(*) AS n FROM pgt", [])
    c.bind("", "s10b", [])
    c.execute("", 0)
    msgs = c.sync()
    assert parse_data_rows(msgs) == [("3",)]
    c.close()


def test_pg_source_loopback(pg, spark):
    # the repo reading a postgres:// *source* through its own wire server:
    # the pure-Python client fallback (sources/pgwire.py) stands in for
    # ConnectorX (columnq/src/table/database.rs:37-73) when JDBC jars are
    # absent, which they are in this container
    from roapi_spark.sources import load_table

    df = load_table(
        spark,
        parse_table_config(
            {
                "name": "pgt",
                "uri": f"postgres://t@127.0.0.1:{pg.port}/postgres",
                "format": "postgres",
            }
        ),
    )
    rows = {r.id: (r.name, r.ok) for r in df.collect()}
    assert rows[1] == ("alpha", True) and rows[3] == (None, True)
    # typed decode: int oid -> long column, bool oid -> boolean column
    dtypes = dict(df.dtypes)
    assert dtypes["id"] == "bigint" and dtypes["ok"] == "boolean"


def test_pg_source_custom_query(pg, spark):
    from roapi_spark.sources import load_table

    df = load_table(
        spark,
        parse_table_config(
            {
                "name": "agg",
                "uri": f"postgres://t@127.0.0.1:{pg.port}/postgres",
                "format": "postgres",
                "option": {"query": "SELECT count(*) AS n, max(id) AS mx FROM pgt"},
            }
        ),
    )
    r = df.collect()[0]
    assert (r.n, r.mx) == (3, 3)


def test_pg_wire_client_error_surfaces(pg):
    from roapi_spark.sources.pgwire import PgWireClient, PgWireError

    c = PgWireClient("127.0.0.1", pg.port, user="t")
    with pytest.raises(PgWireError):
        c.query("SELECT * FROM does_not_exist")
    # connection recovers after the error (server sends ReadyForQuery)
    assert c.query("SELECT 5 AS v").rows == [[5]]
    c.close()


def test_describe_plans_once_per_parse(pg):
    """The analyzed result schema is cached per named statement (the
    reference's DashMap pattern, flight_sql.rs:107-126): repeated
    Describe(S) must not re-plan; a re-Parse of the same name must."""
    calls = []
    catalog = pg.catalog
    orig = catalog.query_sql

    def counting(sql, *a, **kw):
        calls.append(kw.get("args"))
        return orig(sql, *a, **kw)

    def is_probe(args):  # Describe binds None to every marker
        return bool(args) and all(v is None for v in args.values())

    catalog.query_sql = counting
    try:
        c = MiniPgClient(pg.port)
        c.parse("pc", "SELECT id FROM pgt WHERE id = $1", [20])
        for _ in range(3):
            c.describe("S", "pc")
        msgs = c.sync()
        assert _tags(msgs).count(b"T") == 3  # every Describe answered
        probes = [a for a in calls if is_probe(a)]
        assert len(probes) == 1, f"expected 1 analysis probe, got {probes}"
        # re-Parse same name -> cache invalidated -> one more probe
        c.parse("pc", "SELECT id, id + 1 AS nxt FROM pgt WHERE id = $1", [20])
        c.describe("S", "pc")
        c.sync()
        probes = [a for a in calls if is_probe(a)]
        assert len(probes) == 2
        c.close()
    finally:
        catalog.query_sql = orig


def test_extended_wrong_result_format_count_errors(pg):
    """A Bind whose result-format-code list is neither empty, one, nor
    the column count must surface an ErrorResponse (protocol rule), not
    silently text-default the uncovered columns."""
    c = MiniPgClient(pg.port)
    c.parse("s12", "SELECT id, ok, name FROM pgt ORDER BY id", [])
    c.bind("", "s12", [], result_fmts=[1, 0])  # 2 codes for 3 columns
    c.execute("", 0)
    msgs = c.sync()
    assert b"E" in _tags(msgs) and msgs[-1][0] == b"Z"
    err = next(p for t, p in msgs if t == b"E")
    assert b"format" in err
    # exact-count, single and empty code lists all still work
    c.bind("", "s12", [], result_fmts=[0, 0, 0])
    c.execute("", 0)
    assert any(t == b"D" for t, _ in c.sync())
    c.close()


def test_extended_binary_float_bool_bytea(pg):
    """Remaining binary wire forms: float4/float8 (IEEE754 big-endian),
    bool (1 byte), bytea (raw bytes) — computed columns force the oids."""
    c = MiniPgClient(pg.port)
    c.parse(
        "s13",
        "SELECT CAST(1.5 AS FLOAT) AS f4, CAST(2.25 AS DOUBLE) AS f8, "
        "id = 1 AS b, CAST('hi' AS BINARY) AS bin FROM pgt WHERE id = 1",
        [],
    )
    c.bind("", "s13", [], result_fmts=[1])
    c.execute("", 0)
    msgs = c.sync()
    (row,) = _binary_rows(msgs)
    assert row[0] == struct.pack(">f", 1.5)
    assert row[1] == struct.pack(">d", 2.25)
    assert row[2] == b"\x01"
    assert row[3] == b"hi"
    c.close()


def test_dml_through_pg_wire(spark, tmp_path_factory):
    """Row-level DML over the wire (read-write catalog): simple-protocol
    DELETE and extended-protocol UPDATE against a delta table must route
    to the copy-on-write sink, return the 1-row DML summary, and be
    visible to the next SELECT on the same connection."""
    from roapi_spark.sinks.delta import write_delta

    root = tmp_path_factory.mktemp("pgdml")
    d = str(root / "inv")
    write_delta(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "id bigint, name string, price double",
        ),
        d,
        mode="overwrite",
    )
    cat = Catalog(spark, read_only=False)
    cat.load_table(parse_table_config({"name": "inv", "uri": d, "option": {"format": "delta"}}))
    server = PostgresServer(cat)
    server.start()
    try:
        c = MiniPgClient(server.port)
        rows = parse_data_rows(c.query("DELETE FROM inv WHERE id = 3"))
        assert rows and rows[0][0] == "DELETE" and rows[0][2] == "1"
        # extended protocol UPDATE with a bound parameter
        c.parse("u1", "UPDATE inv SET price = price * 10 WHERE id = $1", [20])
        c.bind("", "u1", [b"2"])
        c.execute("", 0)
        msgs = c.sync()
        assert any(t == b"D" for t, _ in msgs)  # summary row came back
        got = parse_data_rows(c.query("SELECT id, price FROM inv ORDER BY id"))
        assert got == [("1", "10.0"), ("2", "200.0")]
        # round-10 maintenance surface over the same wire: OPTIMIZE,
        # DESCRIBE HISTORY (newest first), RESTORE, VACUUM
        rows = parse_data_rows(c.query("OPTIMIZE inv ZORDER BY (id, price)"))
        assert rows[0][0] == "OPTIMIZE"
        hist = parse_data_rows(c.query("DESCRIBE HISTORY inv"))
        assert [h[2] for h in hist] == ["OPTIMIZE", "UPDATE", "DELETE", "WRITE"]
        rows = parse_data_rows(c.query("RESTORE TABLE inv TO VERSION AS OF 0"))
        assert rows[0][0] == "RESTORE"
        got = parse_data_rows(c.query("SELECT count(*) AS n FROM inv"))
        assert got == [("3",)]
        # SELECT-level time travel over the wire (round 11): the
        # pre-restore head (v3) still has the UPDATE applied
        got = parse_data_rows(
            c.query("SELECT price FROM inv VERSION AS OF 3 WHERE id = 2")
        )
        assert got == [("200.0",)]
        # both VACUUM retention grammars (round 11): hours first — all
        # commits are seconds old, so nothing may be reclaimed
        rows = parse_data_rows(c.query("VACUUM inv RETAIN 168 HOURS"))
        assert int(rows[0][2]) == 0
        rows = parse_data_rows(c.query("VACUUM inv RETAIN 1 VERSIONS"))
        assert int(rows[0][2]) >= 1
        # property surface over the wire (round 11)
        rows = parse_data_rows(
            c.query("ALTER TABLE inv SET TBLPROPERTIES ('owner'='wire')")
        )
        assert rows[0][0] == "SET TBLPROPERTIES"
        rows = parse_data_rows(c.query("SHOW TBLPROPERTIES inv"))
        assert ("owner", "wire") in {(r[0], r[1]) for r in rows}
        c.close()
    finally:
        server.stop()


# -- one SQL-text scanner, native parameter binding -------------------------


@pytest.mark.parametrize(
    "value", ["\\'", "''", "$2", "?", ";", "--", "/*", "tail\\", "$1::int"]
)
def test_bound_text_param_returns_exactly(pg, value):
    """A bound value is data: quotes, escapes, markers, statement and
    comment starters all come back byte for byte."""
    c = MiniPgClient(pg.port)
    c.parse("", "SELECT $1 AS v", [25])
    c.bind("", "", [value.encode()])
    c.execute("")
    assert parse_data_rows(c.sync()) == [(value,)]
    c.close()


def test_bound_param_is_not_injectable(pg):
    c = MiniPgClient(pg.port)
    c.parse("", "SELECT id FROM pgt WHERE CAST(id AS STRING) = $1", [25])
    c.bind("", "", [b"x\\' OR 1=1 --"])
    c.execute("")
    msgs = c.sync()
    assert b"E" not in _tags(msgs)
    assert parse_data_rows(msgs) == []
    c.close()


def test_simple_query_splits_outside_literals(pg):
    c = MiniPgClient(pg.port)
    msgs = c.query("SELECT 'a;b' AS s; SELECT 2 AS n -- trailing; comment\n;")
    assert parse_data_rows(msgs) == [("a;b",), ("2",)]
    completes = [p.rstrip(b"\x00") for t, p in msgs if t == b"C"]
    assert completes == [b"SELECT 1", b"SELECT 1"]
    # an escaped quote does not end a literal, so no rewrite fires in it
    msgs = c.query("SELECT 'it\\'s' AS a, 'information_schema.tables' AS s")
    assert parse_data_rows(msgs) == [("it's", "information_schema.tables")]
    # Spark nests /* */ comments: the ';' inside is not a statement end
    msgs = c.query("SELECT /* a /* b */ ; */ 2")
    assert parse_data_rows(msgs) == [("2",)]
    assert b"E" not in _tags(msgs)
    c.close()


@pytest.mark.parametrize("protocol", ["simple", "extended"])
@pytest.mark.parametrize(
    "sql,tag",
    [
        ("SET\tsearch_path TO x", b"SET"),
        ("set application_name = 'psql'", b"SET"),
        ("SHOW server_version", b"SHOW"),
        ("SHOW TBLPROPERTIES pgt", None),  # real SQL: reaches the catalog
    ],
)
def test_session_chatter_same_on_both_protocols(pg, protocol, sql, tag):
    c = MiniPgClient(pg.port)
    if protocol == "simple":
        msgs = c.query(sql)
        prefix = []
    else:
        c.parse("", sql, [])
        c.bind("", "", [])
        c.execute("")
        msgs = c.sync()
        prefix = [b"1", b"2"]
    if tag is None:
        err = next(p for t, p in msgs if t == b"E")
        assert b"delta" in err  # the catalog's own answer for a csv table
    else:
        assert _tags(msgs) == [*prefix, b"C", b"Z"]
        assert msgs[len(prefix)][1].rstrip(b"\x00") == tag
    c.close()


def test_read_only_rejects_parameterized_write(pg, tmp_path):
    """The read-only check sees the bound statement: a $1 standing for a
    directory path must not slip a filesystem write past it."""
    out = tmp_path / "exfil"
    c = MiniPgClient(pg.port)
    for sql, params in [
        ("INSERT OVERWRITE DIRECTORY $1 USING parquet SELECT 1 AS a", [str(out)]),
        ("INSERT INTO pgt VALUES ($1, $2, true)", ["9", "z"]),
    ]:
        c.parse("", sql, [25] * len(params))
        c.bind("", "", [p.encode() for p in params])
        c.execute("")
        msgs = c.sync()
        err = next(p for t, p in msgs if t == b"E")
        assert b"read-only" in err
    assert not out.exists()
    assert parse_data_rows(c.query("SELECT count(*) FROM pgt")) == [("3",)]
    c.close()


def test_read_only_rejects_execute_immediate_write(pg, tmp_path):
    """EXECUTE IMMEDIATE runs a statement held in a string, which the
    read-only check cannot see into: over the wire it is refused and
    writes nothing."""
    out = tmp_path / "exfil"
    c = MiniPgClient(pg.port)
    msgs = c.query(
        f"EXECUTE IMMEDIATE 'INSERT OVERWRITE DIRECTORY ''{out}'' USING parquet "
        "SELECT * FROM pgt'"
    )
    err = next(p for t, p in msgs if t == b"E")
    assert b"read-only" in err
    assert not out.exists()
    assert parse_data_rows(c.query("SELECT count(*) FROM pgt")) == [("3",)]
    c.close()


def test_read_only_rejects_reflect_over_the_wire(pg):
    """A read-only server refuses reflect(), which would run a Java
    static method in the server JVM, and the session goes on."""
    c = MiniPgClient(pg.port)
    msgs = c.query("SELECT reflect('java.lang.System', 'getProperty', 'java.version')")
    err = next(p for t, p in msgs if t == b"E")
    assert b"read-only" in err and b"reflect" in err
    assert not parse_data_rows(msgs)
    assert parse_data_rows(c.query("SELECT count(*) FROM pgt")) == [("3",)]
    c.close()


def test_param_in_rewritten_clause_errors(spark, tmp_path):
    """A pg parameter cannot stand in a clause the catalog rewrites from
    the SQL text (time travel, table_changes, RESTORE, VACUUM RETAIN):
    each such statement errors and leaves the table as it was."""
    from roapi_spark.sinks.delta import write_delta

    d = str(tmp_path / "tt")
    for rows, mode in [([(1,)], "overwrite"), ([(2,)], "append")]:
        write_delta(spark.createDataFrame(rows, "id bigint"), d, mode=mode)
    cat = Catalog(spark, read_only=False)
    cat.load_table(parse_table_config({"name": "tt", "uri": d, "option": {"format": "delta"}}))
    server = PostgresServer(cat)
    server.start()
    try:
        c = MiniPgClient(server.port)
        for sql, oid, value, needle in [
            ("SELECT * FROM tt VERSION AS OF $1", 20, b"0", b"TIME_TRAVEL"),
            ("SELECT * FROM tt TIMESTAMP AS OF $1", 25, b"2020-01-01", b"TIME_TRAVEL"),
            ("SELECT * FROM table_changes('tt', $1)", 20, b"0", b"table_changes"),
            ("RESTORE TABLE tt TO VERSION AS OF $1", 20, b"0", b"ParseException"),
            ("VACUUM tt RETAIN $1 VERSIONS", 20, b"1", b"unsupported VACUUM clause"),
        ]:
            c.parse("", sql, [oid])
            c.bind("", "", [value])
            c.execute("")
            err = next(p for t, p in c.sync() if t == b"E")
            assert needle in err, (sql, err)
        assert parse_data_rows(c.query("SELECT id FROM tt ORDER BY id")) == [("1",), ("2",)]
        c.close()
    finally:
        server.stop()
