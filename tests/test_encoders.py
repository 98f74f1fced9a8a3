"""Encoder golden tests, mirroring the reference's temporal rendering
contract (columnq/src/encoding/json.rs:30-139): whole seconds have no
fraction; ms-resolution values render 3 fractional digits; us -> 6."""

from __future__ import annotations

import json
import math
from datetime import date, datetime, time
from decimal import Decimal

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from roapi_spark.encoders import encode_arrow_table, format_from_accept
from roapi_spark.encoders.json import rows_to_json_bytes


def test_timestamp_golden_formats():
    table = pa.table(
        {
            "sec": pa.array([datetime(2021, 4, 12, 4, 4, 28)], pa.timestamp("us")),
            "msec": pa.array([datetime(2021, 5, 12, 4, 4, 28, 1000)], pa.timestamp("us")),
            "usec": pa.array([datetime(2021, 5, 12, 4, 4, 28, 2)], pa.timestamp("us")),
        }
    )
    out = json.loads(rows_to_json_bytes(table))
    assert out == [
        {
            "sec": "2021-04-12T04:04:28",
            "msec": "2021-05-12T04:04:28.001",
            "usec": "2021-05-12T04:04:28.000002",
        }
    ]


def test_date_golden(spark):
    # through the full Spark -> Arrow -> JSON path (json.rs:48-61)
    df = spark.sql("SELECT DATE '2021-04-12' AS d32, TIMESTAMP '1970-01-01 00:00:00.001' AS d64")
    out = json.loads(rows_to_json_bytes(df.toArrow()))
    assert out == [{"d32": "2021-04-12", "d64": "1970-01-01T00:00:00.001"}]


def test_binary_decimal_nested(spark):
    df = spark.sql(
        "SELECT X'0AFF' AS bin, CAST(1.50 AS DECIMAL(5,2)) AS dec, "
        "ARRAY(1,2) AS arr, NAMED_STRUCT('a', 1, 'b', 'x') AS st, DOUBLE('NaN') AS nan"
    )
    out = json.loads(rows_to_json_bytes(df.toArrow()))
    assert out == [
        {"bin": "0aff", "dec": 1.5, "arr": [1, 2], "st": {"a": 1, "b": "x"}, "nan": None}
    ]


def test_all_formats_roundtrip(spark):
    df = spark.sql("SELECT 1 AS a, 'x' AS b")
    table = df.toArrow()
    for fmt in ("json", "csv", "parquet", "arrow", "arrows"):
        assert len(encode_arrow_table(table, fmt)) > 0
    with pytest.raises(ValueError):
        encode_arrow_table(table, "nope")


def test_format_from_accept_contract():
    # encoding/mod.rs:25-45 mapping incl. silent fallback
    assert format_from_accept(None) == "json"
    assert format_from_accept("*/*") == "json"
    assert format_from_accept("application/csv") == "csv"
    assert format_from_accept("application/arrow.stream") == "arrows"
    assert format_from_accept("application/vnd.apache.parquet") == "parquet"
    assert format_from_accept("application/weird", default="csv") == "csv"


def test_encode_batches_iter_chunked(spark):
    import pyarrow.ipc as paipc

    from roapi_spark.encoders import encode_batches_iter

    df = spark.range(0, 25000).selectExpr("id", "id * 2 AS dbl", "CAST(id AS STRING) AS s")
    # json: each chunk a complete array; total rows add up
    chunks = list(encode_batches_iter(df, "json", chunk_rows=8192))
    assert len(chunks) >= 3
    total = sum(len(json.loads(c)) for c in chunks)
    assert total == 25000
    # csv: header only once
    csv_chunks = list(encode_batches_iter(df, "csv", chunk_rows=10000))
    assert csv_chunks[0].startswith(b'"id"')
    assert not csv_chunks[1].startswith(b'"id"')
    n_lines = sum(c.count(b"\n") for c in csv_chunks)
    assert n_lines == 25000 + 1  # rows + single header
    # arrows: chunks independently decodable, schema stable
    a_chunks = list(encode_batches_iter(df, "arrows", chunk_rows=12000))
    tables = [paipc.open_stream(pa.BufferReader(c)).read_all() for c in a_chunks]
    assert sum(t.num_rows for t in tables) == 25000
    assert all(t.schema == tables[0].schema for t in tables)


def test_encode_batches_iter_empty(spark):
    from roapi_spark.encoders import encode_batches_iter

    df = spark.range(0).selectExpr("id")
    chunks = list(encode_batches_iter(df, "json"))
    assert chunks == [b"[]"]


# ---- msgpack (stdlib encoder; reference's own unchecked roadmap box) -------


def _unpack(b, off=0):
    import struct as _s

    t = b[off]
    if t <= 0x7F:
        return t, off + 1
    if t >= 0xE0:
        return t - 256, off + 1
    if 0x80 <= t <= 0x8F:
        n, out, off = t & 0xF, {}, off + 1
        for _ in range(n):
            k, off = _unpack(b, off)
            v, off = _unpack(b, off)
            out[k] = v
        return out, off
    if 0x90 <= t <= 0x9F:
        n, out, off = t & 0xF, [], off + 1
        for _ in range(n):
            v, off = _unpack(b, off)
            out.append(v)
        return out, off
    if 0xA0 <= t <= 0xBF:
        n = t & 0x1F
        return b[off + 1 : off + 1 + n].decode(), off + 1 + n
    if t == 0xC0:
        return None, off + 1
    if t in (0xC2, 0xC3):
        return t == 0xC3, off + 1
    if t == 0xC4:
        n = b[off + 1]
        return bytes(b[off + 2 : off + 2 + n]), off + 2 + n
    if t == 0xCB:
        return _s.unpack(">d", b[off + 1 : off + 9])[0], off + 9
    if t == 0xCC:
        return b[off + 1], off + 2
    if t == 0xCD:
        return _s.unpack(">H", b[off + 1 : off + 3])[0], off + 3
    if t == 0xCE:
        return _s.unpack(">I", b[off + 1 : off + 5])[0], off + 5
    if t == 0xCF:
        return _s.unpack(">Q", b[off + 1 : off + 9])[0], off + 9
    if t == 0xD0:
        return _s.unpack(">b", b[off + 1 : off + 2])[0], off + 2
    if t == 0xD1:
        return _s.unpack(">h", b[off + 1 : off + 3])[0], off + 3
    if t == 0xD2:
        return _s.unpack(">i", b[off + 1 : off + 5])[0], off + 5
    if t == 0xD3:
        return _s.unpack(">q", b[off + 1 : off + 9])[0], off + 9
    if t == 0xD9:
        n = b[off + 1]
        return b[off + 2 : off + 2 + n].decode(), off + 2 + n
    if t == 0xDA:
        n = _s.unpack(">H", b[off + 1 : off + 3])[0]
        return b[off + 3 : off + 3 + n].decode(), off + 3 + n
    if t == 0xDC:
        n, out, off = _s.unpack(">H", b[off + 1 : off + 3])[0], [], off + 3
        for _ in range(n):
            v, off = _unpack(b, off)
            out.append(v)
        return out, off
    raise AssertionError(f"unhandled msgpack type byte {t:#x}")


def test_msgpack_roundtrip_values():
    from roapi_spark.encoders.msgpack import pack

    vals = [
        None, True, False, 0, 1, 127, 128, 255, 256, 65535, 65536, 2**40,
        -1, -32, -33, -128, -129, -32768, -32769, -(2**31) - 1, 1.5, -0.25,
        "x", "é" * 40, b"\x00\xff", [1, [2, 3]], {"a": 1, "b": [None, "s"]},
        list(range(20)),
    ]
    for v in vals:
        got, off = _unpack(pack(v))
        assert got == v and off == len(pack(v)), v


def test_msgpack_spec_bytes():
    from roapi_spark.encoders.msgpack import pack

    # spot-check against the published spec encodings
    assert pack(None) == b"\xc0"
    assert pack(True) == b"\xc3"
    assert pack(127) == b"\x7f"
    assert pack(-1) == b"\xff"
    assert pack("abc") == b"\xa3abc"
    assert pack([1, 2]) == b"\x92\x01\x02"
    assert pack({"a": 1}) == b"\x81\xa1a\x01"


def test_msgpack_table_encoding(spark):
    import datetime

    import pyarrow as pa

    from roapi_spark.encoders import encode_arrow_table, format_from_accept

    assert format_from_accept("application/msgpack") == "msgpack"
    t = pa.table({
        "s": ["a", None],
        "n": [1, 2],
        "f": [1.5, float("nan")],
        "d": pa.array([datetime.date(2024, 1, 2)] * 2),
        "b": pa.array([b"\x01", None], type=pa.binary()),
    })
    rows, off = _unpack(encode_arrow_table(t, "msgpack"))
    assert rows == [
        {"s": "a", "n": 1, "f": 1.5, "d": "2024-01-02", "b": b"\x01"},
        {"s": None, "n": 2, "f": None, "d": "2024-01-02", "b": None},
    ]


def test_avro_encoder_roundtrips_through_avro_source(spark, tmp_path):
    from decimal import Decimal

    from roapi_spark.config import parse_table_config
    from roapi_spark.encoders.avro import rows_to_avro_bytes
    from roapi_spark.sources import load_table

    table = pa.table(
        {
            "id": pa.array([1, 2, None], pa.int64()),
            "name": pa.array(["a", None, "c"], pa.string()),
            "score": pa.array([1.5, -0.25, None], pa.float64()),
            "day": pa.array([date(2024, 1, 1), None, date(1969, 12, 31)], pa.date32()),
            "ts": pa.array(
                [datetime(2023, 11, 14, 22, 13, 20, 123456), None, datetime(1970, 1, 1)],
                pa.timestamp("us"),
            ),
            "price": pa.array([Decimal("12.34"), Decimal("-1.00"), None], pa.decimal128(10, 2)),
            "tags": pa.array([["x", "y"], [], None], pa.list_(pa.string())),
            "loc": pa.array(
                [{"lat": 1.0, "lon": 2.0}, None, {"lat": None, "lon": 3.0}],
                pa.struct([("lat", pa.float64()), ("lon", pa.float64())]),
            ),
        }
    )
    blob = rows_to_avro_bytes(table)
    p = tmp_path / "resp.avro"
    p.write_bytes(blob)
    df = load_table(spark, parse_table_config({"name": "r", "uri": str(p)}))
    rows = sorted(df.collect(), key=lambda r: (r["id"] is None, r["id"]))
    src = sorted(table.to_pylist(), key=lambda r: (r["id"] is None, r["id"]))
    for got, want in zip(rows, src):
        d = got.asDict(recursive=True)
        assert d["id"] == want["id"] and d["name"] == want["name"]
        assert d["score"] == want["score"]
        assert d["day"] == want["day"] and d["ts"] == want["ts"]
        assert d["price"] == want["price"]
        assert d["tags"] == want["tags"] and d["loc"] == want["loc"]


def test_avro_accept_negotiation():
    assert format_from_accept("application/avro") == "avro"
    assert format_from_accept("application/vnd.apache.avro") == "avro"


def test_ndjson_encoding():
    from roapi_spark.encoders.json import rows_to_ndjson_bytes

    t = pa.table({"a": [1, 2], "b": ["x", None]})
    out = rows_to_ndjson_bytes(t)
    assert out == b'{"a":1,"b":"x"}\n{"a":2,"b":null}\n'
    assert format_from_accept("application/x-ndjson") == "ndjson"
    assert encode_arrow_table(t, "ndjson") == out
    # chunked export concat stays valid NDJSON (no array brackets)
    assert b"".join([out, out]).count(b"\n") == 4


def test_avro_tz_aware_timestamp_converts_to_utc():
    """ADVICE r4: timestamp-micros is epoch-UTC — a tz-aware value must
    be converted, not wall-clock-stripped (a +05:00 stamp was encoded
    5h late before the fix)."""
    from datetime import timedelta, timezone

    from roapi_spark.encoders.avro import _conv

    tz = timezone(timedelta(hours=5))
    aware = datetime(2024, 1, 1, 10, 0, 0, tzinfo=tz)  # == 05:00 UTC
    micros = _conv(aware, pa.timestamp("us", tz="+05:00"))
    naive_utc = datetime(2024, 1, 1, 5, 0, 0)
    assert micros == _conv(naive_utc, pa.timestamp("us"))


def test_avro_unsigned_int_types_widen():
    """ADVICE r4: uint32 values above 2^31-1 overflow Avro 'int'; map
    unsigned 32-bit to 'long' and uint64 to 'string'."""
    from roapi_spark.encoders.avro import _avro_type, _conv

    assert _avro_type(pa.uint32()) == "long"
    assert _avro_type(pa.uint16()) == "int"  # still fits in int
    assert _avro_type(pa.uint64()) == "string"
    assert _avro_type(pa.int64()) == "long"
    assert _conv(2**63 + 5, pa.uint64()) == str(2**63 + 5)
    assert _conv(2**31 + 5, pa.uint32()) == 2**31 + 5


def test_avro_uint32_roundtrip(spark, tmp_path):
    """A uint32 above 2^31-1 survives the encode -> avro source read."""
    from roapi_spark.config import parse_table_config
    from roapi_spark.encoders.avro import rows_to_avro_bytes
    from roapi_spark.sources import load_table

    table = pa.table({"n": pa.array([2**31 + 7, 1, None], pa.uint32())})
    p = tmp_path / "u32.avro"
    p.write_bytes(rows_to_avro_bytes(table))
    df = load_table(spark, parse_table_config({"name": "u", "uri": str(p)}))
    got = sorted((r["n"] for r in df.collect()), key=lambda v: (v is None, v))
    assert got == [1, 2**31 + 7, None]


# ---- byte identity of the column-wise JSON renderer --------------------
#
# The oracle is the row-wise encoder the column-wise one replaced:
# ``to_pylist`` rows, NaN/Inf cleaned to null, ``json.dumps`` with an
# Arrow-ISO ``default``. Every table must encode to the same bytes.


def _ref_frac(us):
    if us == 0:
        return ""
    if us % 1000 == 0:
        return f".{us // 1000:03d}"
    return f".{us:06d}"


def _ref_default(v):
    if isinstance(v, datetime):
        return (
            f"{v.year:04d}-{v.month:02d}-{v.day:02d}T"
            f"{v.hour:02d}:{v.minute:02d}:{v.second:02d}{_ref_frac(v.microsecond)}"
        )
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, time):
        return f"{v.hour:02d}:{v.minute:02d}:{v.second:02d}{_ref_frac(v.microsecond)}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, Decimal):
        return float(v)
    raise TypeError(f"not JSON serializable: {type(v)}")


def _ref_clean(v):
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return None
    if isinstance(v, dict):
        return {k: _ref_clean(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_ref_clean(x) for x in v]
    return v


def _ref_json(table):
    rows = [_ref_clean(r) for r in table.to_pylist()]
    return json.dumps(rows, default=_ref_default, separators=(",", ":")).encode()


def _ref_ndjson(table):
    rows = [_ref_clean(r) for r in table.to_pylist()]
    return b"".join(
        json.dumps(r, default=_ref_default, separators=(",", ":")).encode() + b"\n"
        for r in rows
    )


def _assert_same_bytes(table):
    from roapi_spark.encoders.json import rows_to_ndjson_bytes

    assert rows_to_json_bytes(table) == _ref_json(table)
    assert rows_to_ndjson_bytes(table) == _ref_ndjson(table)
    assert encode_arrow_table(table, "json") == _ref_json(table)


_FLOAT_EDGES = [
    float("nan"), float("inf"), float("-inf"), 0.0, -0.0, 5e-324, -5e-324,
    2.2250738585072014e-308, 1e-4, 0.00009999999999999999, 1e10, 9999999999.999998,
    1e15, 999999999999999.9, 1e16, 1.5, -2.0, 0.1, 123456.789,
]
_SPECIAL_CHARS = ['"', "\\", "\x00", "\x1f", "\n", "\t", "\x7f", "é", " ", "\U0001f600"]


def _value_strategies():
    plain_text = st.text(
        st.characters(min_codepoint=0x20, max_codepoint=0x7E, exclude_characters='"\\'),
        max_size=8,
    )
    # mostly one special character in otherwise plain text, so that a
    # column often holds a single reason to leave the kernel path
    any_text = st.one_of(
        plain_text,
        st.builds(lambda a, c, b: a + c + b, plain_text, st.sampled_from(_SPECIAL_CHARS), plain_text),
        st.text(st.characters(max_codepoint=0x7F), max_size=8),
    )
    kernel_floats = st.floats(1e-4, 1e10, exclude_max=True) | st.floats(-1e10, -1e-4, exclude_min=True)
    floats = st.one_of(kernel_floats, st.sampled_from(_FLOAT_EDGES), st.floats())
    frac = st.sampled_from([0, 1_000, 999_000, 2, 123_456, 999_999])

    def stamps(lo, hi):
        return st.builds(
            lambda d, us: d.replace(microsecond=us),
            st.datetimes(datetime(lo, 1, 1), datetime(hi, 12, 31)),
            frac,
        )

    struct_t = pa.struct([("a", pa.int64()), ("b", pa.string())])
    return [
        (pa.int64(), st.integers(-(2**63), 2**63 - 1)),
        (pa.int8(), st.integers(-128, 127)),
        (pa.uint64(), st.integers(0, 2**64 - 1)),
        (pa.bool_(), st.booleans()),
        (pa.string(), plain_text),
        (pa.string(), any_text),
        (pa.float64(), floats),
        (pa.float32(), st.floats(width=32)),
        (pa.timestamp("us"), stamps(1, 9999)),
        (pa.timestamp("us", tz="UTC"), stamps(1900, 2100)),
        (pa.timestamp("us", tz="America/New_York"), stamps(1970, 2100)),
        (pa.timestamp("us", tz="Asia/Kolkata"), stamps(1970, 2100)),
        (pa.timestamp("us", tz="+05:30"), stamps(1970, 2100)),
        (pa.timestamp("ms"), stamps(1, 9999).map(lambda d: d.replace(microsecond=d.microsecond // 1000 * 1000))),
        (pa.date32(), st.dates()),
        (pa.binary(), st.binary(max_size=6)),
        (pa.decimal128(12, 3), st.decimals(-(10**8), 10**8, places=3, allow_nan=False, allow_infinity=False)),
        (pa.list_(pa.float64()), st.lists(st.none() | floats, max_size=3)),
        (struct_t, st.fixed_dictionaries({"a": st.none() | st.integers(-5, 5), "b": st.none() | any_text})),
        (pa.map_(pa.string(), pa.float64()), st.lists(st.tuples(plain_text, floats), max_size=2)),
        (pa.null(), st.none()),
    ]


def _chunked(arr, cuts):
    """``arr`` as a ChunkedArray split at the given cut points."""
    bounds = [0, *sorted({c % (len(arr) + 1) for c in cuts}), len(arr)]
    return pa.chunked_array([arr.slice(a, b - a) for a, b in zip(bounds, bounds[1:])], arr.type)


def _tables():
    kinds = _value_strategies()

    @st.composite
    def table(draw):
        n = draw(st.integers(0, 8))
        names, cols = [], []
        for _ in range(draw(st.integers(0, 5))):
            typ, values = draw(st.sampled_from(kinds))
            vals = draw(st.lists(st.none() | values, min_size=n + 2, max_size=n + 2))
            arr = pa.array(vals, typ).slice(1, n)  # a sliced array: offset 1
            cols.append(_chunked(arr, draw(st.lists(st.integers(0, 8), max_size=3))))
            names.append(draw(st.sampled_from(["a", "b", "c", "é", 'q"'])))
        t = pa.table(cols, names=names) if cols else pa.table({}).slice(0, 0)
        if cols and n and draw(st.booleans()):
            lo = draw(st.integers(0, n))
            t = t.slice(lo, draw(st.integers(0, n - lo)))
        return t

    return table()


@settings(max_examples=300, deadline=None)
@given(_tables())
def test_column_wise_json_is_byte_identical(table):
    _assert_same_bytes(table)


def test_column_wise_json_edge_values():
    """One column per kernel and per fallback, with the edges each one
    decides on: the float exponent bounds, escape characters, zero, ms
    and µs fractions before and after 1970, empty and zero-column
    tables, multi-chunk and sliced columns, a repeated column name."""
    stamps = [
        datetime(2021, 4, 12, 4, 4, 28), datetime(2021, 5, 12, 4, 4, 28, 1000),
        datetime(2021, 5, 12, 4, 4, 28, 2), None, datetime(1969, 12, 31, 23, 59, 59, 500000),
        datetime(1, 1, 1), datetime(9999, 12, 31, 23, 59, 59, 999999),
    ]
    n = len(stamps)
    floats = (_FLOAT_EDGES * 2)[:n]
    table = pa.table({
        "i": pa.array([1, -2, None, 4, 5, 6, 2**63 - 1], pa.int64()),
        "b": [True, False, None, True, True, False, True],
        "s": ["a", "b c", None, "", "x~", "{}", "q"],
        "s_esc": ["é", 'a"b', "\\", "\x00", "\x7f", None, "ok"],
        "f_kernel": [1.0, -0.0, None, 0.5, 1e-4, 9999999999.999998, 0.1],
        "f_edges": floats,
        "f32": pa.array([1.1, 2.5, None, 3.0, 0.1, 7, 8], pa.float32()),
        "ts": pa.array(stamps, pa.timestamp("us")),
        "ts_whole": pa.array([datetime(2020, 1, d) for d in range(1, n + 1)], pa.timestamp("us")),
        "ts_tz": pa.array(stamps[:4] + [None] * 3, pa.timestamp("us", tz="America/New_York")),
        "ts_ms": pa.array(stamps, pa.timestamp("ms")),
        "d": pa.array([date(2020, 1, 1)] * (n - 1) + [None], pa.date32()),
        "nul": pa.array([None] * n, pa.null()),
        "bin": [b"\x0a\xff"] * n,
        "dec": pa.array([Decimal("1.50")] * n, pa.decimal128(5, 2)),
        "arr": [[1.0, float("nan")]] * n,
        "st": [{"a": 1, "b": "x"}] * n,
        "m": pa.array([[("k", float("nan"))]] * n, pa.map_(pa.string(), pa.float64())),
        "t64": pa.array([time(1, 2, 3, 4000)] * n, pa.time64("us")),
    })
    _assert_same_bytes(table)
    # one reason to leave the kernel path per column
    _assert_same_bytes(pa.table({f"f{i}": [e, 1.5, None] for i, e in enumerate(_FLOAT_EDGES)}))
    _assert_same_bytes(pa.table({f"s{i}": [f"a{c}", "b", None] for i, c in enumerate(_SPECIAL_CHARS)}))
    _assert_same_bytes(table.slice(2, 3))
    _assert_same_bytes(table.slice(0, 0))
    _assert_same_bytes(table.select([]))
    _assert_same_bytes(pa.concat_tables([table, table.slice(1, 4), table]))
    uneven = pa.table({"i": pa.chunked_array([table["i"].combine_chunks()]),
                       "s": _chunked(table["s"].combine_chunks(), [2, 5])})
    _assert_same_bytes(uneven)
    dup = pa.table([pa.array([1, 2]), pa.array(["a", "b"]), pa.array([3, 4])], names=["a", "b", "a"])
    _assert_same_bytes(dup)
    assert rows_to_json_bytes(dup) == b'[{"a":3,"b":"a"},{"a":4,"b":"b"}]'
