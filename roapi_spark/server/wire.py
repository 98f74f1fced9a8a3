"""What the Postgres- and MySQL-wire servers share: the threaded TCP
listener over a Catalog, exact socket reads, the error text a failed
statement reports, and the text form of collected values."""

from __future__ import annotations

import json
import socketserver
import threading
from datetime import date, datetime

from pyspark.sql import Row

from roapi_spark.catalog import Catalog


class WireServer(socketserver.ThreadingTCPServer):
    """One daemon thread per connection; ``handler`` reads the catalog
    (and any protocol settings a subclass adds) off ``self.server``.
    Binds on construction; port 0 picks a free port."""

    allow_reuse_address = True
    daemon_threads = True

    def __init__(
        self,
        catalog: Catalog,
        host: str,
        port: int,
        handler: type[socketserver.BaseRequestHandler],
    ) -> None:
        super().__init__((host, port), handler)
        self.catalog = catalog

    @property
    def port(self) -> int:
        return self.server_address[1]

    def start(self) -> None:
        threading.Thread(target=self.serve_forever, daemon=True).start()

    def stop(self) -> None:
        self.shutdown()
        self.server_close()


def recv_exact(sock, n: int) -> bytes | None:
    """Exactly ``n`` bytes, or None when the peer closes first."""
    data = b""
    while len(data) < n:
        chunk = sock.recv(n - len(data))
        if not chunk:
            return None
        data += chunk
    return data


def error_text(exc: BaseException, limit: int) -> str:
    """A failed statement's wire error message: the exception's first
    line, at most ``limit`` chars, or its type name when that is empty."""
    return str(exc).split("\n", 1)[0][:limit] or type(exc).__name__


def jsonable(v: object) -> object:
    """Collapse DataFrame.collect() value shapes (Row, bytearray, nested
    containers) to plain JSON values, so complex columns render as JSON
    text, never Python reprs."""
    if isinstance(v, Row):
        return {k: jsonable(x) for k, x in v.asDict().items()}
    if isinstance(v, dict):
        return {k: jsonable(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [jsonable(x) for x in v]
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def render_text(v: object) -> bytes | None:
    """Text form of one collected value: None (SQL NULL) stays None,
    timestamps and dates are ISO with a space separator, nested values
    are JSON, the rest ``str``. Each protocol spells bool and bytes its
    own way before falling back to this."""
    if v is None:
        return None
    if isinstance(v, datetime):
        return v.isoformat(sep=" ").encode()
    if isinstance(v, date):
        return v.isoformat().encode()
    if isinstance(v, (list, dict, Row)):
        return json.dumps(jsonable(v), default=str).encode()
    return str(v).encode()
