"""Response encoders + content negotiation.

Reference: columnq/src/encoding/* and roapi/src/api/mod.rs:25-57.

MIME contract (encoding/mod.rs:14-45): json <- ``*/*``/``application/json``
(default), csv <- ``application/csv``, arrow file/stream <-
``application/[vnd.apache.]arrow.{file,stream}``, parquet <-
``application/[vnd.apache.]parquet``; an unknown ACCEPT silently falls back
to the configured default.

Scale note: the HTTP server and the CLI encode with ``encode_dataframe``:
one ``df.toArrow()`` collects the whole result on the driver, then one
encoder call renders it, so a response's driver memory grows with its
row count. ``encode_batches_iter`` streams ``toLocalIterator``-style
per-partition chunks without holding the full result, but no server
route uses it yet.
"""

from __future__ import annotations

import io
from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame

from roapi_spark.encoders.json import rows_to_json_bytes

CONTENT_TYPES = {
    "json": "application/json",
    "csv": "application/csv",
    "arrow": "application/vnd.apache.arrow.file",
    "arrows": "application/vnd.apache.arrow.stream",
    "parquet": "application/parquet",
    "msgpack": "application/msgpack",
    "avro": "application/avro",
    "ndjson": "application/x-ndjson",
}

_ACCEPT_TO_FORMAT = {
    "*/*": "json",
    "application/json": "json",
    "application/csv": "csv",
    "text/csv": "csv",
    "application/arrow.file": "arrow",
    "application/vnd.apache.arrow.file": "arrow",
    "application/arrow.stream": "arrows",
    "application/vnd.apache.arrow.stream": "arrows",
    "application/parquet": "parquet",
    "application/vnd.apache.parquet": "parquet",
    # beyond the reference: its own unchecked roadmap box (README.md)
    "application/msgpack": "msgpack",
    "application/x-msgpack": "msgpack",
    "application/avro": "avro",
    "application/vnd.apache.avro": "avro",
    "application/x-ndjson": "ndjson",
    "application/ndjson": "ndjson",
    "application/jsonlines": "ndjson",
}


def format_from_accept(accept: str | None, default: str = "json") -> str:
    if not accept:
        return default
    return _ACCEPT_TO_FORMAT.get(accept.strip(), default)


def encode_arrow_table(table: pa.Table, fmt: str) -> bytes:
    if fmt == "json":
        return rows_to_json_bytes(table)
    if fmt == "msgpack":
        from roapi_spark.encoders.msgpack import rows_to_msgpack_bytes

        return rows_to_msgpack_bytes(table)
    if fmt == "avro":
        from roapi_spark.encoders.avro import rows_to_avro_bytes

        return rows_to_avro_bytes(table)
    if fmt == "ndjson":
        from roapi_spark.encoders.json import rows_to_ndjson_bytes

        return rows_to_ndjson_bytes(table)
    if fmt == "csv":
        import pyarrow.csv as pacsv

        buf = io.BytesIO()
        pacsv.write_csv(table, buf)
        return buf.getvalue()
    if fmt == "parquet":
        import pyarrow.parquet as pq

        buf = io.BytesIO()
        pq.write_table(table, buf)
        return buf.getvalue()
    if fmt in ("arrow", "arrows"):
        buf = io.BytesIO()
        new = pa.ipc.new_file if fmt == "arrow" else pa.ipc.new_stream
        with new(buf, table.schema) as w:
            w.write_table(table)
        return buf.getvalue()
    raise ValueError(f"unknown response format: {fmt}")


def encode_dataframe(df: DataFrame, fmt: str) -> bytes:
    return encode_arrow_table(df.toArrow(), fmt)


def encode_batches_iter(
    df: DataFrame, fmt: str, chunk_rows: int = 8192
) -> Iterator[bytes]:
    """Memory-bounded chunked encoding for large exports: rows stream to
    the driver partition-by-partition (``toLocalIterator`` keeps at most
    one partition + prefetch buffered), re-batched into Arrow chunks of
    ``chunk_rows`` and encoded independently. JSON chunks are each a
    complete JSON array; csv chunks repeat no header after the first;
    arrow/arrows/parquet chunks are standalone files per chunk (concat-safe
    for ``arrows`` streams sharing one schema)."""
    schema = to_arrow_schema(df)
    first = True
    buf: list = []
    for row in df.toLocalIterator(prefetchPartitions=True):
        buf.append(row)
        if len(buf) >= chunk_rows:
            yield _encode_chunk(buf, schema, fmt, first)
            first = False
            buf = []
    if buf or first:
        yield _encode_chunk(buf, schema, fmt, first)


def to_arrow_schema(df: DataFrame):
    from pyspark.sql.pandas.types import to_arrow_schema as _tas

    return _tas(df.schema)


def _encode_chunk(rows: list, schema: pa.Schema, fmt: str, first: bool) -> bytes:
    table = pa.Table.from_pylist([r.asDict(recursive=True) for r in rows], schema=schema)
    out = encode_arrow_table(table, fmt)
    if fmt == "csv" and not first:
        # drop the repeated header line on continuation chunks
        out = out.split(b"\n", 1)[1] if b"\n" in out else b""
    return out
