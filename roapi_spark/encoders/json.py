"""JSON array-of-objects and ndjson encoders with Arrow's value rendering
(reference: columnq/src/encoding/json.rs:5-19 + golden formats
json.rs:30-139).

Spelling contract. A response is ``json.dumps(table.to_pylist(),
separators=(",", ":"))`` (ASCII-only, ``\\uXXXX`` escapes) after each
value is cleaned and rendered as follows:

- float NaN/Inf -> ``null`` (JSON has no spelling for them; the Arrow
  writer errors, we choose null), at the top level and inside lists and
  structs; floats elsewhere -> ``repr`` (``1.0``, ``-0.0``, ``1e-05``)
- Date32/64 -> ``"YYYY-MM-DD"``
- Timestamp -> ``"YYYY-MM-DDTHH:MM:SS[.fff|.ffffff]"``: no tz suffix (a
  tz column is spelled in its zone's wall-clock time), no fraction for
  whole seconds, 3 digits for whole milliseconds, else 6
- Time -> ``"HH:MM:SS[.fff|.ffffff]"``, the same fraction rule
- Binary -> lowercase hex (postgres.rs:252-261 renders hex; JSON follows)
- Decimal -> a JSON number, ``repr(float(value))``
- List -> array, struct -> object, map -> array of ``[key, value]`` pairs
- a repeated column name appears once, at its first position, holding
  the value of its last column

Rendering is column-wise: each column becomes one Arrow string array of
value texts and rows are joined by one kernel call, so no Python runs
per row. A column whose exact spelling no kernel gives (see
``_kernel_text``) is rendered value by value with ``json.dumps``; that
choice depends only on the column's type and values, never on the bytes.
"""

from __future__ import annotations

import json
import math
from datetime import date, datetime, time
from decimal import Decimal

import pyarrow as pa
import pyarrow.compute as pc


def _frac(us: int) -> str:
    """Arrow renders the fraction at unit width and omits it when zero
    (golden tests json.rs:107-110: '04:04:28', '28.001', '28.000002')."""
    if us == 0:
        return ""
    if us % 1000 == 0:
        return f".{us // 1000:03d}"
    return f".{us:06d}"


def _default(v: object) -> object:
    if isinstance(v, datetime):
        return (
            f"{v.year:04d}-{v.month:02d}-{v.day:02d}T"
            f"{v.hour:02d}:{v.minute:02d}:{v.second:02d}{_frac(v.microsecond)}"
        )
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, time):
        return f"{v.hour:02d}:{v.minute:02d}:{v.second:02d}{_frac(v.microsecond)}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, Decimal):
        return float(v)
    raise TypeError(f"not JSON serializable: {type(v)}")


def _clean(v: object) -> object:
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return None
    if isinstance(v, dict):
        return {k: _clean(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_clean(x) for x in v]
    return v


def _any(mask) -> bool:
    return pc.any(mask, min_count=0).as_py()


# a character json.dumps escapes: '"', '\\', C0 controls, DEL, non-ASCII
_NEEDS_ESCAPE = r"[^\x20\x21\x23-\x5b\x5d-\x7e]"


def _string_text(col):
    if _any(pc.match_substring_regex(col, _NEEDS_ESCAPE)):
        return None
    return pc.binary_join_element_wise('"', col, '"', "")


def _float_text(col):
    x = pc.cast(col, pa.float64())  # float32 widens exactly, as as_py() does
    x = pc.if_else(pc.is_finite(x), x, None)
    mag = pc.abs(x)
    # Arrow writes an exponent from 1e10 up and a plain decimal below
    # 1e-4, where repr does the opposite (1e16 / 1e-05)
    plain = pc.or_(pc.equal(mag, 0), pc.and_(pc.greater_equal(mag, 1e-4), pc.less(mag, 1e10)))
    if _any(pc.invert(plain)):
        return None
    text = pc.cast(x, pa.string())
    # Arrow spells integral values "1", repr "1.0"
    return pc.if_else(
        pc.match_substring(text, "."), text, pc.binary_join_element_wise(text, ".0", "")
    )


def _timestamp_text(col):
    if col.type.unit != "us":
        return None
    if col.type.tz is not None:
        try:  # to_pylist spells the zone's wall clock
            col = pc.local_timestamp(col)
        except pa.ArrowInvalid:  # a zone Arrow's database lacks, e.g. "+05:30"
            return None
    secs = pc.floor_temporal(col, unit="second")
    text = pc.binary_replace_slice(
        pc.cast(pc.cast(secs, pa.timestamp("s")), pa.string()), 10, 11, "T"
    )
    frac = pc.subtract(pc.cast(col, pa.int64()), pc.cast(secs, pa.int64()))
    us = pc.utf8_lpad(pc.cast(frac, pa.string()), 6, "0")
    us = pc.if_else(pc.ends_with(us, "000"), pc.utf8_slice_codeunits(us, 0, 3), us)
    tail = pc.if_else(pc.equal(frac, 0), '"', pc.binary_join_element_wise(".", us, '"', ""))
    return pc.binary_join_element_wise('"', text, tail, "")


def _date_text(col):
    return pc.binary_join_element_wise('"', pc.cast(col, pa.string()), '"', "")


def _kernel_text(col):
    """Value texts from Arrow kernels, keyed by Arrow type; None when no
    kernel gives this column's exact spelling: binary, decimal, time,
    nested and non-µs timestamp types; strings json.dumps would escape;
    floats repr spells with an exponent or Arrow would."""
    t = col.type
    if pa.types.is_integer(t) or pa.types.is_boolean(t) or pa.types.is_null(t):
        return pc.cast(col, pa.string())
    if t == pa.string():
        return _string_text(col)
    if t in (pa.float32(), pa.float64()):
        return _float_text(col)
    if pa.types.is_timestamp(t):
        return _timestamp_text(col)
    if pa.types.is_date32(t):
        return _date_text(col)
    return None


_ENCODER = json.JSONEncoder(separators=(",", ":"), default=_default)


def _python_text(col) -> pa.Array:
    """Per-value fallback, the contract's reference spelling."""
    return pa.array([_ENCODER.encode(_clean(v)) for v in col.to_pylist()], pa.string())


def _value_text(col):
    text = _kernel_text(col)
    if text is None:
        return _python_text(col)
    return pc.fill_null(text, "null")


def _rows(table: pa.Table, end: str) -> list:
    """Every row's object text followed by ``end``, as consecutive
    byte views; joining them gives the rows end to end."""
    names = table.column_names
    last = {name: i for i, name in enumerate(names)}
    if not last:
        return [("{}" + end).encode() * table.num_rows]
    parts: list = []
    for k, name in enumerate(last):  # dict order: first position of each name
        key = ("{" if k == 0 else ",") + json.dumps(name) + ":"
        parts += key, _value_text(table.column(last[name]))
    rows = pc.binary_join_element_wise(*parts, "}" + end, "")
    chunks = rows.chunks if isinstance(rows, pa.ChunkedArray) else [rows]
    return [_string_data(c) for c in chunks if len(c)]


def _string_data(arr: pa.StringArray) -> memoryview:
    """The bytes of a null-free string array's values, end to end."""
    _, offsets, data = arr.buffers()
    offsets = memoryview(offsets).cast("i")
    return memoryview(data)[offsets[arr.offset] : offsets[arr.offset + len(arr)]]


def rows_to_json_bytes(table: pa.Table) -> bytes:
    views = _rows(table, ",")
    if views:  # the last row's trailing comma
        views[-1] = views[-1][:-1]
    return b"".join([b"[", *views, b"]"])


def rows_to_ndjson_bytes(table: pa.Table) -> bytes:
    """Newline-delimited JSON (application/x-ndjson): one object per
    line, same value rendering as the array encoder — the streaming-
    friendly shape log shippers and `jq`-pipelines consume."""
    return b"".join(_rows(table, "\n"))
