"""Arrow Flight server speaking the FlightSQL command protocol (reference:
roapi/src/server/flight_sql.rs, 1038 LoC).

Protocol mapping (same lifecycle as the reference):
- ``get_flight_info`` dispatches on the Any-wrapped FlightSQL command in
  the descriptor: ``CommandStatementQuery`` /
  ``CommandPreparedStatementQuery`` execute eagerly and stash the Arrow
  result under a ``TicketStatementQuery`` handle — mirroring
  flight_sql.rs:318-373's eager exec + DashMap results cache;
  ``CommandGetCatalogs`` / ``CommandGetDbSchemas`` / ``CommandGetTables``
  / ``CommandGetSqlInfo`` build the spec-shaped metadata tables
  (flight_sql.rs:614-704). A bare (non-protobuf) SQL command descriptor
  still works, for plain pyarrow.flight clients.
- prepared statements: ``CreatePreparedStatement`` /
  ``ClosePreparedStatement`` actions with Any-wrapped request/result
  payloads (flight_sql.rs do_action_create_prepared_statement).
  Parameter binding via ``do_put`` (flight_sql.rs:781-796): a
  ``CommandPreparedStatementQuery`` descriptor carries an Arrow batch of
  positional parameters; the next execution binds them as Spark
  parameterized-SQL args (never string-pasted). The data-write DoPut
  surfaces (``CommandStatementIngest`` etc.) stay rejected — the
  catalog is a read surface.
- ``do_get`` streams the stashed batches for a ticket (one-shot, popped on
  read — flight_sql.rs:279-316 do_get_fallback); metadata command tickets
  are recomputed on demand.
- ``list_flights`` enumerates registered tables with schemas.
- ``do_action``: FlightSQL prepared-statement actions plus the legacy
  ``list-tables`` / ``table-schema`` JSON actions.
- Optional auth via a header middleware with constant-time compares
  (flight_sql.rs:164-277, M9): bearer token and/or HTTP Basic; a valid
  Basic call is answered with the session bearer in the response headers,
  so ``client.authenticate_basic_token(user, pass)`` works as with the
  reference's basic->bearer handshake.
"""

from __future__ import annotations

import json
import threading
import uuid

import pyarrow as pa
import pyarrow.flight as flight

import roapi_spark
from roapi_spark.catalog import Catalog, mask_literals
from roapi_spark.server import flightsql_proto as fsp
from roapi_spark.server.auth import credential_scheme

# arrow.flight.protocol.sql.SqlInfo ids (flight_sql.rs sql_info parity)
SQL_INFO_SERVER_NAME = 0
SQL_INFO_SERVER_VERSION = 1
SQL_INFO_SERVER_ARROW_VERSION = 2
SQL_INFO_SERVER_READ_ONLY = 3

# GetXdbcTypeInfo rows: the Spark SQL primitive type matrix in the
# FlightSQL spec's column order (type_name, data_type, column_size,
# literal_prefix, literal_suffix, create_params, nullable,
# case_sensitive, searchable, unsigned_attribute, fixed_prec_scale,
# auto_increment, local_type_name, minimum_scale, maximum_scale,
# sql_data_type, datetime_subcode, num_prec_radix, interval_precision).
# data_type codes are XdbcDataType from FlightSql.proto; nullable 1 =
# NULLABILITY_NULLABLE; searchable 3 = SEARCHABLE_FULL.
_XDBC_TYPES: list[tuple] = [
    ("BOOLEAN", -7, 1, None, None, None, 1, False, 3, None, False,
     None, "BOOLEAN", None, None, -7, None, None, None),
    ("TINYINT", -6, 8, None, None, None, 1, False, 3, False, False,
     False, "TINYINT", None, None, -6, None, 2, None),
    ("SMALLINT", 5, 16, None, None, None, 1, False, 3, False, False,
     False, "SMALLINT", None, None, 5, None, 2, None),
    ("INTEGER", 4, 32, None, None, None, 1, False, 3, False, False,
     False, "INTEGER", None, None, 4, None, 2, None),
    ("BIGINT", -5, 64, None, None, None, 1, False, 3, False, False,
     False, "BIGINT", None, None, -5, None, 2, None),
    ("FLOAT", 6, 24, None, None, None, 1, False, 3, False, False,
     False, "FLOAT", None, None, 6, None, 2, None),
    ("DOUBLE", 8, 53, None, None, None, 1, False, 3, False, False,
     False, "DOUBLE", None, None, 8, None, 2, None),
    ("DECIMAL", 3, 38, None, None, ["precision", "scale"], 1, False, 3,
     False, True, False, "DECIMAL", 0, 38, 3, None, 10, None),
    ("VARCHAR", 12, 2147483647, "'", "'", None, 1, True, 3, None,
     False, None, "STRING", None, None, 12, None, None, None),
    ("BINARY", -2, 2147483647, "X'", "'", None, 1, False, 0, None,
     False, None, "BINARY", None, None, -2, None, None, None),
    ("DATE", 91, 10, "DATE '", "'", None, 1, False, 3, None, False,
     None, "DATE", None, None, 9, 1, None, None),
    ("TIMESTAMP", 93, 29, "TIMESTAMP '", "'", None, 1, False, 3, None,
     False, None, "TIMESTAMP", 0, 6, 9, 3, None, None),
]


class _BearerResponder(flight.ServerMiddleware):
    """Returned on a successful Basic handshake so the bearer token rides
    back on the response headers — the pyarrow client's
    ``authenticate_basic_token`` picks it up for subsequent calls, matching
    the reference's basic->bearer exchange (flight_sql.rs:212-277)."""

    def __init__(self, token: str) -> None:
        self._token = token

    def sending_headers(self):
        return {"authorization": f"Bearer {self._token}"}


class _NoOpAuthHandler(flight.ServerAuthHandler):
    """Lets the Handshake RPC succeed so the auth middleware (which does
    the real credential check on every call) can answer it — the standard
    Arrow pattern for header-based basic auth."""

    def authenticate(self, outgoing, incoming):
        pass

    def is_valid(self, token):
        return b""


class _AuthMiddlewareFactory(flight.ServerMiddlewareFactory):
    """Bearer and/or HTTP-Basic auth (flight_sql.rs:164-277, M9) through
    :func:`credential_scheme`, the check the HTTP front uses."""

    def __init__(self, token: str | None, basic_users: dict[str, str] | None) -> None:
        # with only basic users configured, mint the session bearer the
        # handshake hands out
        self._token = token or uuid.uuid4().hex
        self._users = basic_users or {}

    def start_call(self, info, headers):
        auths = headers.get("authorization") or headers.get("Authorization") or []
        for a in auths:
            scheme = credential_scheme(a, self._token, self._users)
            if scheme == "bearer":
                return None
            if scheme == "basic":
                return _BearerResponder(self._token)
        raise flight.FlightUnauthenticatedError("invalid or missing credentials")


class SparkFlightServer(flight.FlightServerBase):
    def __init__(
        self,
        catalog: Catalog,
        location: str = "grpc://127.0.0.1:0",
        token: str | None = None,
        basic_auth: dict[str, str] | None = None,
    ) -> None:
        middleware = (
            {"auth": _AuthMiddlewareFactory(token, basic_auth)}
            if token or basic_auth
            else None
        )
        auth_handler = _NoOpAuthHandler() if basic_auth else None
        super().__init__(location, auth_handler=auth_handler, middleware=middleware)
        self.catalog = catalog
        self._results: dict[bytes, pa.Table] = {}
        self._prepared: dict[bytes, str] = {}
        self._params: dict[bytes, list] = {}
        self._lock = threading.Lock()

    # -- query path --------------------------------------------------------

    def _stash(self, table: pa.Table, descriptor) -> flight.FlightInfo:
        handle = uuid.uuid4().hex.encode()
        with self._lock:
            self._results[handle] = table
        ticket = flight.Ticket(fsp.ticket_statement_query(handle))
        endpoint = flight.FlightEndpoint(ticket, [])
        return flight.FlightInfo(
            table.schema, descriptor, [endpoint], table.num_rows, table.nbytes
        )

    def _metadata_table(self, cmd: str, payload: bytes) -> pa.Table:
        """The FlightSQL catalog-metadata result sets, spec schemas
        (flight_sql.rs:614-704)."""
        if cmd == "CommandGetCatalogs":
            return pa.table({"catalog_name": pa.array(["spark_catalog"], pa.string())})
        if cmd == "CommandGetDbSchemas":
            return pa.table(
                {
                    "catalog_name": pa.array(["spark_catalog"], pa.string()),
                    "db_schema_name": pa.array(["default"], pa.string()),
                }
            )
        if cmd == "CommandGetTables":
            fields = fsp.decode_fields(payload)
            include_schema = bool(fields.get(5, [0])[0])
            names = self.catalog.table_names()
            cols = {
                "catalog_name": pa.array(["spark_catalog"] * len(names), pa.string()),
                "db_schema_name": pa.array(["default"] * len(names), pa.string()),
                "table_name": pa.array(names, pa.string()),
                "table_type": pa.array(["TABLE"] * len(names), pa.string()),
            }
            if include_schema:
                cols["table_schema"] = pa.array(
                    [
                        self.catalog.table(n).limit(0).toArrow().schema.serialize().to_pybytes()
                        for n in names
                    ],
                    pa.binary(),
                )
            return pa.table(cols)
        if cmd == "CommandGetTableTypes":
            # spec result set: one non-null utf8 column `table_type`.
            # The reference's handler is unimplemented
            # (flight_sql.rs:676-681 do_get_table_types); ADBC/JDBC
            # clients probe it during connection setup, so serve it.
            return pa.table(
                {"table_type": pa.array(["TABLE"], pa.string())}
            )
        if cmd == "CommandGetXdbcTypeInfo":
            # spec result set (flight_sql.rs:75-99 INSTANCE_XBDC_DATA —
            # the reference ships only INTEGER; we publish the full
            # Spark SQL primitive matrix). Optional field 1 filters by
            # xdbc data_type code.
            fields = fsp.decode_fields(payload)
            want = fields.get(1, [None])[0]
            if want is not None and want >= 1 << 63:
                want -= 1 << 64  # proto int32 negatives arrive as u64
            rows = [r for r in _XDBC_TYPES if want is None or r[1] == want]
            names = [
                "type_name", "data_type", "column_size", "literal_prefix",
                "literal_suffix", "create_params", "nullable",
                "case_sensitive", "searchable", "unsigned_attribute",
                "fixed_prec_scale", "auto_increment", "local_type_name",
                "minimum_scale", "maximum_scale", "sql_data_type",
                "datetime_subcode", "num_prec_radix", "interval_precision",
            ]
            types = [
                pa.string(), pa.int32(), pa.int32(), pa.string(),
                pa.string(), pa.list_(pa.string()), pa.int32(),
                pa.bool_(), pa.int32(), pa.bool_(), pa.bool_(),
                pa.bool_(), pa.string(), pa.int32(), pa.int32(),
                pa.int32(), pa.int32(), pa.int32(), pa.int32(),
            ]
            return pa.table(
                {
                    n: pa.array([r[i] for r in rows], t)
                    for i, (n, t) in enumerate(zip(names, types))
                }
            )
        if cmd == "CommandGetSqlInfo":
            fields = fsp.decode_fields(payload)
            requested: list[int] = []
            for v in fields.get(1, []):
                if isinstance(v, bytes):  # packed repeated uint32
                    pos = 0
                    while pos < len(v):
                        x, pos = fsp._read_varint(v, pos)
                        requested.append(x)
                else:
                    requested.append(v)
            entries: list[tuple[int, int, object]] = [  # (info, type_code, value)
                (SQL_INFO_SERVER_NAME, 0, "roapi_spark"),
                (SQL_INFO_SERVER_VERSION, 0, roapi_spark.__version__),
                (SQL_INFO_SERVER_ARROW_VERSION, 0, pa.__version__),
                (SQL_INFO_SERVER_READ_ONLY, 1, self.catalog.read_only),
            ]
            if requested:
                entries = [e for e in entries if e[0] in requested]
            strings = [e[2] for e in entries if e[1] == 0]
            bools = [e[2] for e in entries if e[1] == 1]
            types, offsets = [], []
            si = bi = 0
            for _, code, _v in entries:
                types.append(code)
                if code == 0:
                    offsets.append(si)
                    si += 1
                else:
                    offsets.append(bi)
                    bi += 1
            value = pa.UnionArray.from_dense(
                pa.array(types, pa.int8()),
                pa.array(offsets, pa.int32()),
                [
                    pa.array(strings, pa.string()),
                    pa.array(bools, pa.bool_()),
                    pa.array([], pa.int64()),
                    pa.array([], pa.int32()),
                    pa.array([], pa.list_(pa.string())),
                    pa.array([], pa.map_(pa.int32(), pa.list_(pa.int32()))),
                ],
                ["string_value", "bool_value", "bigint_value", "int32_bitmask",
                 "string_list", "int32_to_int32_list_map"],
                [0, 1, 2, 3, 4, 5],
            )
            return pa.table(
                {"info_name": pa.array([e[0] for e in entries], pa.uint32()), "value": value}
            )
        raise flight.FlightServerError(f"unsupported FlightSQL command: {cmd}")

    def _dispatch_command(self, command: bytes, descriptor) -> flight.FlightInfo:
        unpacked = fsp.any_unpack(command)
        args = None
        if unpacked is None:  # bare SQL string (plain pyarrow.flight client)
            sql = command.decode("utf-8")
        elif unpacked[0] == "CommandStatementQuery":
            sql = fsp.decode_fields(unpacked[1])[1][0]
            sql = sql.decode() if isinstance(sql, bytes) else str(sql)
        elif unpacked[0] == "CommandPreparedStatementQuery":
            handle = fsp.decode_fields(unpacked[1])[1][0]
            with self._lock:
                sql = self._prepared.get(handle)
                args = self._params.get(handle)
            if sql is None:
                raise flight.FlightServerError("unknown prepared statement handle")
        else:
            return self._stash(self._metadata_table(*unpacked), descriptor)
        return self._stash(self.catalog.query_sql(sql, args=args).toArrow(), descriptor)

    def do_put(self, context, descriptor, reader, writer):
        """FlightSQL parameter binding (flight_sql.rs:781-796): the
        descriptor names a prepared statement; the stream carries one
        Arrow batch of positional parameters (one column per ``?``, one
        row). Data-ingest DoPut commands are rejected — read-only."""
        unpacked = fsp.any_unpack(descriptor.command)
        if unpacked is None or unpacked[0] != "CommandPreparedStatementQuery":
            raise flight.FlightServerError(
                "do_put supports only CommandPreparedStatementQuery "
                "(parameter binding); the catalog is read-only"
            )
        handle = fsp.decode_fields(unpacked[1])[1][0]
        with self._lock:
            if handle not in self._prepared:
                raise flight.FlightServerError("unknown prepared statement handle")
        table = reader.read_all()
        if table.num_rows:
            if table.num_rows != 1:
                raise flight.FlightServerError(
                    f"expected a single parameter row, got {table.num_rows}"
                )
            row = [col[0].as_py() for col in table.columns]
            with self._lock:
                # re-check under the SAME lock as the write: a concurrent
                # ClosePreparedStatement between the first check and here
                # would otherwise leak a permanent _params entry for a
                # dead handle
                if handle not in self._prepared:
                    raise flight.FlightServerError(
                        "unknown prepared statement handle"
                    )
                self._params[handle] = row
        # DoPutPreparedStatementResult: echo the (unchanged) handle so
        # spec-following clients (ADBC) can adopt it
        writer.write(
            pa.py_buffer(
                fsp.any_pack(
                    "DoPutPreparedStatementResult",
                    fsp.encode_bytes_field(1, handle),
                )
            )
        )

    def get_flight_info(self, context, descriptor):
        if descriptor.descriptor_type != flight.DescriptorType.CMD:
            raise flight.FlightServerError("expected a command descriptor")
        return self._dispatch_command(descriptor.command, descriptor)

    def do_get(self, context, ticket):
        unpacked = fsp.any_unpack(ticket.ticket)
        if unpacked is not None:
            cmd, payload = unpacked
            if cmd == "TicketStatementQuery":
                handle = fsp.decode_fields(payload)[1][0]
            else:  # a metadata command used directly as a ticket (spec allows)
                return flight.RecordBatchStream(self._metadata_table(cmd, payload))
        else:
            handle = ticket.ticket  # legacy bare-uuid ticket
        with self._lock:
            table = self._results.pop(handle, None)
        if table is None:
            raise flight.FlightServerError("unknown or already-consumed ticket")
        return flight.RecordBatchStream(table)

    # -- metadata ----------------------------------------------------------

    def list_flights(self, context, criteria):
        for name in self.catalog.table_names():
            arrow_schema = self.catalog.table(name).limit(0).toArrow().schema
            descriptor = flight.FlightDescriptor.for_path(name)
            yield flight.FlightInfo(arrow_schema, descriptor, [], -1, -1)

    def do_action(self, context, action):
        if action.type == "CreatePreparedStatement":
            unpacked = fsp.any_unpack(action.body.to_pybytes())
            if unpacked is None or unpacked[0] != "ActionCreatePreparedStatementRequest":
                raise flight.FlightServerError("bad CreatePreparedStatement body")
            sql = fsp.decode_fields(unpacked[1])[1][0]
            sql = sql.decode() if isinstance(sql, bytes) else str(sql)
            # validate + capture the result schema without executing;
            # ?-parameterized statements analyze with NULLs bound ('?'
            # counted outside literals and comments)
            n_params = mask_literals(sql).count("?")
            schema = (
                self.catalog.query_sql(sql, args=[None] * n_params or None)
                .limit(0)
                .toArrow()
                .schema
            )
            handle = uuid.uuid4().hex.encode()
            with self._lock:
                self._prepared[handle] = sql
            result = fsp.any_pack(
                "ActionCreatePreparedStatementResult",
                fsp.encode_bytes_field(1, handle)
                + fsp.encode_bytes_field(2, schema.serialize().to_pybytes()),
            )
            yield result
        elif action.type == "ClosePreparedStatement":
            unpacked = fsp.any_unpack(action.body.to_pybytes())
            if unpacked is None or unpacked[0] != "ActionClosePreparedStatementRequest":
                raise flight.FlightServerError("bad ClosePreparedStatement body")
            handle = fsp.decode_fields(unpacked[1])[1][0]
            with self._lock:
                self._prepared.pop(handle, None)
                self._params.pop(handle, None)
            yield b""
        elif action.type == "list-tables":
            yield json.dumps(self.catalog.table_names()).encode()
        elif action.type == "table-schema":
            name = action.body.to_pybytes().decode()
            yield json.dumps(self.catalog.schema(name)).encode()
        else:
            raise flight.FlightServerError(f"unknown action: {action.type}")

    def list_actions(self, context):
        return [
            ("CreatePreparedStatement", "FlightSQL: prepare a statement"),
            ("ClosePreparedStatement", "FlightSQL: close a prepared statement"),
            ("list-tables", "list registered tables"),
            ("table-schema", "schema for a table"),
        ]
