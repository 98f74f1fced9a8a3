"""HTTP(S) table source (reference: columnq/src/io/http.rs — GET with
optional custom headers, bytes into the format loader).

Driver-side fetch to a temp file, then normal format dispatch. Custom
headers come from ``io_option.headers`` (http_table_test.rs:10-50)."""

from __future__ import annotations

import os
import tempfile
import urllib.request
from dataclasses import replace

from roapi_spark.config import TableSource, sniff_format


def is_download(ts: TableSource) -> bool:
    """Whether ``ts`` is read from a local download of its http(s) uri.
    A Google Sheets table is not: its loader speaks the Sheets API."""
    return ts.uri.startswith(("http://", "https://")) and not (
        ts.format == "google_spreadsheet" or "docs.google.com/spreadsheets" in ts.uri
    )


def fetch_to_local(ts: TableSource) -> TableSource:
    """Download ``ts.uri`` to a new temp file. The caller owns the file:
    the catalog deletes it with the table generation that reads it."""
    req = urllib.request.Request(ts.uri)
    for k, v in (ts.io_option.get("headers") or {}).items():
        req.add_header(str(k), str(v))
    fmt = ts.format or sniff_format(ts.uri)
    suffix = f".{fmt}" if fmt else ""
    fd, path = tempfile.mkstemp(prefix="roapi_http_", suffix=suffix)
    with urllib.request.urlopen(req) as resp, os.fdopen(fd, "wb") as out:
        out.write(resp.read())
    return replace(ts, uri=path, format=fmt)
