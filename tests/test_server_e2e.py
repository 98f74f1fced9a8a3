"""End-to-end HTTP API tests over an ephemeral server (reference:
roapi/tests/api_test.rs — golden JSON over SQL/REST/GraphQL, schema,
drop/register, KV, error shape; content negotiation api/mod.rs)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pyarrow as pa
import pyarrow.ipc as paipc
import pytest

from roapi_spark.catalog import Catalog
from roapi_spark.config import parse_kv_config, parse_table_config
from roapi_spark.server import ApiServer

CSV = "city,lat,lng\nsolihull,52.412811,-1.778197\nrugby,52.370876,-1.265032\nlondon,51.507222,-0.1275\n"


@pytest.fixture(scope="module")
def base_url(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("server")
    (root / "uk_cities.csv").write_text(CSV)
    (root / "kv.json").write_text(json.dumps([{"id": "x1", "name": "Falcon"}]))
    cat = Catalog(spark, read_only=False)
    cat.load_table(parse_table_config({"name": "uk_cities", "uri": str(root / "uk_cities.csv")}))
    cat.load_kv(parse_kv_config({"name": "names", "uri": str(root / "kv.json"), "key": "id", "value": "name"}))
    srv = ApiServer(cat)
    host, port = srv.start()
    yield f"http://{host}:{port}", root
    srv.stop()


def _req(url, method="GET", body=None, accept=None):
    req = urllib.request.Request(url, data=body, method=method)
    if accept:
        req.add_header("Accept", accept)
    with urllib.request.urlopen(req) as resp:
        return resp.status, resp.headers.get("Content-Type"), resp.read()


def test_health_and_version(base_url):
    url, _ = base_url
    assert _req(f"{url}/health")[2] == b"OK"
    status, ctype, body = _req(f"{url}/api/version")
    assert status == 200 and json.loads(body)


def test_sql_golden(base_url):
    url, _ = base_url
    # mirrors api_test.rs:43-66 (range predicate over uk_cities)
    status, ctype, body = _req(
        f"{url}/api/sql",
        "POST",
        b"SELECT city FROM uk_cities WHERE lat > 52 AND lat < 53 AND lng < -1",
    )
    assert status == 200 and ctype == "application/json"
    assert json.loads(body) == [{"city": "solihull"}, {"city": "rugby"}]


def test_rest_filters(base_url):
    url, _ = base_url
    status, _, body = _req(
        f"{url}/api/tables/uk_cities?columns=city,lat&filter[lat]gt=52&sort=-lat&limit=1"
    )
    assert status == 200
    rows = json.loads(body)
    assert rows == [{"city": "rugby", "lat": pytest.approx(52.370876)}] or rows[0]["city"] in (
        "rugby",
        "solihull",
    )


def test_graphql(base_url):
    url, _ = base_url
    q = '{ uk_cities(filter: {city: "london"}) { city lng } }'
    status, _, body = _req(f"{url}/api/graphql", "POST", q.encode())
    assert status == 200
    assert json.loads(body) == [{"city": "london", "lng": pytest.approx(-0.1275)}]


def test_schema_endpoints(base_url):
    url, _ = base_url
    status, _, body = _req(f"{url}/api/schema")
    schemas = json.loads(body)
    assert "uk_cities" in schemas
    status, _, body = _req(f"{url}/api/schema/uk_cities")
    fields = {f["name"]: f["type"] for f in json.loads(body)["fields"]}
    assert fields == {"city": "string", "lat": "double", "lng": "double"}


def test_kv(base_url):
    url, _ = base_url
    assert _req(f"{url}/api/kv/names/x1")[2] == b"Falcon"
    assert _req(f"{url}/api/kv/names/zzz")[2] == b""


def test_content_negotiation(base_url):
    url, _ = base_url
    body_sql = b"SELECT city FROM uk_cities ORDER BY city LIMIT 1"
    # csv
    status, ctype, body = _req(f"{url}/api/sql", "POST", body_sql, accept="application/csv")
    assert ctype == "application/csv" and body.splitlines() == [b'"city"', b'"london"']
    # parquet
    status, ctype, body = _req(f"{url}/api/sql", "POST", body_sql, accept="application/parquet")
    import io

    import pyarrow.parquet as pq

    assert pq.read_table(io.BytesIO(body)).to_pylist() == [{"city": "london"}]
    # arrow stream
    status, ctype, body = _req(
        f"{url}/api/sql", "POST", body_sql, accept="application/vnd.apache.arrow.stream"
    )
    t = paipc.open_stream(pa.BufferReader(body)).read_all()
    assert t.to_pylist() == [{"city": "london"}]
    # avro object container
    status, ctype, body = _req(f"{url}/api/sql", "POST", body_sql, accept="application/avro")
    from roapi_spark.sources.avro_lite import read_container

    _schema, rows = read_container(body)
    assert ctype == "application/avro" and rows == [{"city": "london"}]
    # ndjson
    status, ctype, body = _req(f"{url}/api/sql", "POST", body_sql, accept="application/x-ndjson")
    assert ctype == "application/x-ndjson" and body == b'{"city":"london"}\n'
    # unknown accept falls back to default json
    status, ctype, _ = _req(f"{url}/api/sql", "POST", body_sql, accept="application/weird")
    assert ctype == "application/json"


def test_error_shape(base_url):
    url, _ = base_url
    # mirrors api_test.rs:68-86: bad query -> {code, error, message}
    try:
        _req(f"{url}/api/sql", "POST", b"SELECT nope FROM missing_table")
        raise AssertionError("expected HTTPError")
    except urllib.error.HTTPError as e:
        payload = json.loads(e.read())
        assert payload["code"] == 400
        assert set(payload) == {"code", "error", "message"}


def test_register_and_drop(base_url):
    url, root = base_url
    (root / "extra.csv").write_text("a,b\n1,2\n")
    body = json.dumps([{"tableName": "extra", "uri": str(root / "extra.csv")}]).encode()
    status, _, _ = _req(f"{url}/api/table", "POST", body)
    assert status == 200
    status, _, out = _req(f"{url}/api/sql", "POST", b"SELECT * FROM extra")
    assert json.loads(out) == [{"a": 1, "b": 2}]
    # drop (api_test.rs:22-40)
    status, _, _ = _req(f"{url}/api/tables/drop", "POST", json.dumps([{"tableName": "extra"}]).encode())
    assert status == 200
    try:
        _req(f"{url}/api/sql", "POST", b"SELECT * FROM extra")
        raise AssertionError("expected HTTPError")
    except urllib.error.HTTPError as e:
        assert e.code == 400
    # dropping a missing table -> 404
    try:
        _req(f"{url}/api/tables/drop", "POST", json.dumps([{"tableName": "zzz"}]).encode())
        raise AssertionError("expected HTTPError")
    except urllib.error.HTTPError as e:
        assert e.code == 404


def test_ui_console(base_url):
    url, _ = base_url
    status, ctype, body = _req(f"{url}/")
    assert status == 200 and ctype.startswith("text/html")
    assert b"/api/sql" in body  # the console posts to the SQL endpoint
    # round-5 console parity with roapi-ui (app.rs:169-230): schema side
    # panel, query history, CSV export via content negotiation — the
    # page must wire all three endpoints/flows
    assert b"/api/schema" in body and b"loadSchema" in body
    assert b"pushHist" in body
    assert b"exportCsv" in body and b"text/csv" in body
    # round-6 parity: history survives reloads (roapi-ui restores app
    # state via eframe persistence; the HTML console uses localStorage,
    # written on every push and replayed at load), and result sets page
    # client-side instead of laying out one enormous table
    assert b"localStorage.getItem" in body and b"localStorage.setItem" in body
    assert b"renderHist()" in body  # replayed at page load
    assert b"renderPage" in body and b"pageinfo" in body
    # storage failures (private mode) must be caught, not crash the page
    assert body.count(b"catch(e)") >= 3
    # the data contracts the page's JS relies on: /api/schema fields
    # carry name/type/nullable, and ACCEPT: text/csv negotiates CSV
    import json as _json

    _, _, sbody = _req(f"{url}/api/schema")
    schema = _json.loads(sbody)
    anyf = next(iter(schema.values()))["fields"][0]
    assert {"name", "type", "nullable"} <= set(anyf)


@pytest.mark.parametrize("read_only, status", [(True, 400), (False, 200)])
def test_refresh_request_honors_read_only(spark, tmp_path_factory, monkeypatch,
                                          read_only, status):
    """POST /api/table with only a tableName re-registers (refreshes) the
    table; a read-only server answers 400 read_only_mode without
    reloading it, as roapi does (routes.rs:29-37)."""
    import roapi_spark.catalog as catalog_mod

    root = tmp_path_factory.mktemp("refresh_gate")
    (root / "uk_cities.csv").write_text(CSV)
    cat = Catalog(spark, read_only=read_only)
    cat.load_table(parse_table_config({"name": "uk_cities", "uri": str(root / "uk_cities.csv")}))
    loads = []
    real_load = catalog_mod._load
    monkeypatch.setattr(
        catalog_mod, "_load", lambda *a, **k: loads.append(a) or real_load(*a, **k)
    )
    srv = ApiServer(cat)
    host, port = srv.start()
    body = json.dumps([{"tableName": "uk_cities"}]).encode()
    try:
        try:
            got, _, _ = _req(f"http://{host}:{port}/api/table", "POST", body)
            err = None
        except urllib.error.HTTPError as e:
            got, err = e.code, json.loads(e.read())
    finally:
        srv.stop()
    assert got == status
    if read_only:
        assert err["error"] == "read_only_mode"
        assert loads == []
    else:
        assert len(loads) == 1


def test_concurrent_refresh_rebind_soak(spark, tmp_path_factory):
    """SURVEY risk register: hammer /api/sql while the refresh loop swaps
    the temp view underneath. Every response must be a complete result
    from SOME committed snapshot — no dropped-view errors, no torn reads
    mixing snapshots."""
    import threading
    import time as _time

    root = tmp_path_factory.mktemp("soak")
    csv = root / "live.csv"

    def write_snapshot(tag: int, n: int = 50) -> None:
        rows = "\n".join(f"r{i},{tag}" for i in range(n))
        # atomic replace so the loader never sees a half-written file
        tmp = root / "live.csv.tmp"
        tmp.write_text(f"k,snap\n{rows}\n")
        tmp.replace(csv)

    write_snapshot(0)
    cat = Catalog(spark)
    cat.load_table(
        parse_table_config({"name": "live", "uri": str(csv), "reload_interval": 1})
    )
    cat.start_refresh_loop(poll_interval=0.05)
    srv = ApiServer(cat)
    host, port = srv.start()
    url = f"http://{host}:{port}/api/sql"
    failures: list[str] = []
    stop = threading.Event()

    def hammer() -> None:
        while not stop.is_set():
            try:
                status, _, body = _req(
                    url, method="POST",
                    body=b"SELECT snap, COUNT(*) AS n FROM live GROUP BY snap",
                )
                rows = json.loads(body)
                if status != 200:
                    failures.append(f"status {status}")
                elif len(rows) != 1 or rows[0]["n"] != 50:
                    failures.append(f"torn read: {rows}")
            except Exception as exc:  # noqa: BLE001
                failures.append(repr(exc))

    threads = [threading.Thread(target=hammer) for _ in range(4)]
    for t in threads:
        t.start()
    try:
        # rewrite the source continuously; ensure several refresh cycles land
        deadline = _time.time() + 8
        tag = 0
        while _time.time() < deadline:
            tag += 1
            write_snapshot(tag)
            _time.sleep(0.2)
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=10)
        cat.stop_refresh_loop()
        srv.stop()
    assert failures == [], failures[:5]
    # the refresh loop did observe new snapshots
    final = cat.query_sql("SELECT MAX(snap) AS m FROM live").collect()[0].m
    assert final > 0


def test_triple_protocol_concurrent_soak(spark, tmp_path_factory):
    """One catalog served simultaneously over HTTP, the pg wire, and
    Arrow Flight, hammered concurrently: every protocol must return the
    identical result under cross-protocol load (one shared SparkSession,
    three frontends — the deployment shape `python -m roapi_spark
    --pg-addr --flight-addr` ships)."""
    import threading

    pytest.importorskip("pyarrow.flight")
    from pyarrow import flight

    from roapi_spark.server.flight import SparkFlightServer
    from roapi_spark.server.postgres import PostgresServer
    from tests.test_postgres_wire import MiniPgClient

    root = tmp_path_factory.mktemp("tri")
    (root / "uk_cities.csv").write_text(CSV)
    cat = Catalog(spark, read_only=False)
    cat.load_table(
        parse_table_config({"name": "uk_cities", "uri": str(root / "uk_cities.csv")})
    )
    srv = ApiServer(cat)
    host, port = srv.start()
    pg = PostgresServer(cat)
    pg.start()
    fl = SparkFlightServer(cat)

    sql = "SELECT city FROM uk_cities ORDER BY city"
    want = ["london", "rugby", "solihull"]
    failures: list[str] = []
    stop = threading.Event()
    ROUNDS = 6

    def via_http() -> None:
        for _ in range(ROUNDS):
            if stop.is_set():
                return
            try:
                _, _, body = _req(
                    f"http://{host}:{port}/api/sql", method="POST", body=sql.encode()
                )
                got = [r["city"] for r in json.loads(body)]
                if got != want:
                    failures.append(f"http: {got}")
            except Exception as exc:  # noqa: BLE001
                failures.append(f"http: {exc!r}")

    def via_pg() -> None:
        try:
            c = MiniPgClient(pg.port)
            for _ in range(ROUNDS):
                if stop.is_set():
                    return
                msgs = c.query(sql)
                # DataRow payload: int16 ncols + per-col len+bytes; the
                # single text column is the tail after the 6-byte header
                got = [m[1][6:].decode() for m in msgs if m[0] == b"D"]
                if got != want:
                    failures.append(f"pg: {got}")
        except Exception as exc:  # noqa: BLE001
            failures.append(f"pg: {exc!r}")

    def via_flight() -> None:
        try:
            import roapi_spark.server.flightsql_proto as fsp

            client = flight.connect(f"grpc://127.0.0.1:{fl.port}")
            for _ in range(ROUNDS):
                if stop.is_set():
                    return
                info = client.get_flight_info(
                    flight.FlightDescriptor.for_command(
                        fsp.command_statement_query(sql)
                    )
                )
                got = client.do_get(info.endpoints[0].ticket).read_all()
                if got.column("city").to_pylist() != want:
                    failures.append(f"flight: {got}")
        except Exception as exc:  # noqa: BLE001
            failures.append(f"flight: {exc!r}")

    threads = [
        threading.Thread(target=fn)
        for fn in (via_http, via_pg, via_flight)
        for _ in range(2)
    ]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        stop.set()
        alive = [t for t in threads if t.is_alive()]
        assert not alive, "worker threads hung"
    finally:
        stop.set()
        srv.stop()
        pg.stop()
        fl.shutdown()
    assert failures == [], failures[:5]


def test_stage_dir_swept_on_restart(spark, tmp_path_factory, monkeypatch):
    """Staged refresh copies from a previous process must be garbage-
    collected when the table is first staged again — a daily-restarted
    server must not grow .cache/refresh_stage unboundedly."""
    import os

    from roapi_spark.functions.snapshot import cache_root

    root = tmp_path_factory.mktemp("sweep")
    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(root / "cache"))
    csv = root / "t.csv"
    csv.write_text("k,v\na,1\n")
    stage_dir = os.path.join(cache_root(), "refresh_stage", "t")
    os.makedirs(stage_dir)
    for i in range(3):  # orphans from a "previous run"
        (root / "cache" / "refresh_stage" / "t" / f"old{i}.csv").write_text("x")
    cat = Catalog(spark)
    cat.load_table(
        parse_table_config({"name": "t", "uri": str(csv), "reload_interval": 60})
    )
    left = os.listdir(stage_dir)
    assert len(left) == 1 and not any(n.startswith("old") for n in left)
    cat.drop_table("t")


def test_openapi_doc(base_url):
    url, _ = base_url
    status, ctype, body = _req(f"{url}/api/openapi.json")
    assert status == 200 and ctype == "application/json"
    doc = json.loads(body)
    assert doc["openapi"].startswith("3.")
    t = doc["paths"]["/api/tables/uk_cities"]["get"]
    pnames = {p["name"] for p in t["parameters"]}
    assert {"columns", "sort", "limit", "page", "filter[lat]"} <= pnames
    props = t["responses"]["200"]["content"]["application/json"]["schema"]["items"]["properties"]
    assert props["lat"] == {"type": "number", "format": "double"}
    assert props["city"] == {"type": "string"}
    assert "/api/sql" in doc["paths"]
    assert "/api/kv/names/{key}" in doc["paths"]


def test_http_auth_layer(spark, tmp_path_factory):
    """Bearer/basic auth on the HTTP front (beyond the reference — its
    own unchecked 'authentication layer' box): wrong/missing creds get
    the {code,error,message} 401 shape, /health stays open, both
    bearer and basic succeed, and the h2c front enforces the same gate."""
    import base64
    import shutil
    import subprocess

    root = tmp_path_factory.mktemp("auth")
    (root / "t.csv").write_text(CSV)
    cat = Catalog(spark)
    cat.load_table(parse_table_config({"name": "t", "uri": str(root / "t.csv")}))
    srv = ApiServer(cat, auth_token="sekrit", basic_auth={"alice": "pw1"})
    host, port = srv.start()
    url = f"http://{host}:{port}"
    try:
        # open: health
        assert _req(f"{url}/health")[2] == b"OK"
        # closed: no credentials
        try:
            _req(f"{url}/api/schema")
            raise AssertionError("expected 401")
        except urllib.error.HTTPError as e:
            assert e.code == 401
            payload = json.loads(e.read())
            assert payload["error"] == "unauthorized"
        # bearer
        req = urllib.request.Request(f"{url}/api/schema")
        req.add_header("Authorization", "Bearer sekrit")
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 200
        # wrong bearer
        req = urllib.request.Request(f"{url}/api/schema")
        req.add_header("Authorization", "Bearer wrong")
        try:
            urllib.request.urlopen(req)
            raise AssertionError("expected 401")
        except urllib.error.HTTPError as e:
            assert e.code == 401
        # basic
        cred = base64.b64encode(b"alice:pw1").decode()
        req = urllib.request.Request(f"{url}/api/schema")
        req.add_header("Authorization", f"Basic {cred}")
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 200
        # h2c front enforces the same gate
        if shutil.which("curl"):
            out = subprocess.run(
                ["curl", "-s", "--http2-prior-knowledge", "-o", "/dev/null",
                 "-w", "%{http_code}", f"{url}/api/schema"],
                capture_output=True, check=True,
            ).stdout
            assert out == b"401"
            out = subprocess.run(
                ["curl", "-s", "--http2-prior-knowledge", "-H",
                 "Authorization: Bearer sekrit", f"{url}/api/schema"],
                capture_output=True, check=True,
            ).stdout
            assert b"t" in out
    finally:
        srv.stop()


def test_auth_unicode_password_and_challenge(spark, tmp_path_factory):
    import base64

    root = tmp_path_factory.mktemp("auth2")
    (root / "t.csv").write_text(CSV)
    cat = Catalog(spark)
    cat.load_table(parse_table_config({"name": "t", "uri": str(root / "t.csv")}))
    srv = ApiServer(cat, basic_auth={"alice": "pä§s"})
    host, port = srv.start()
    url = f"http://{host}:{port}"
    try:
        # 401 carries the RFC 7235 challenge so browsers prompt
        try:
            _req(f"{url}/api/schema")
            raise AssertionError("expected 401")
        except urllib.error.HTTPError as e:
            assert e.code == 401
            assert e.headers.get("WWW-Authenticate") == 'Basic realm="roapi_spark"'
        # non-ASCII password compares correctly (bytes compare_digest)
        cred = base64.b64encode("alice:pä§s".encode()).decode()
        req = urllib.request.Request(f"{url}/api/schema")
        req.add_header("Authorization", f"Basic {cred}")
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 200
        # wrong non-ASCII password -> clean 401, not a dropped connection
        cred = base64.b64encode("alice:pÄ§s".encode()).decode()
        req = urllib.request.Request(f"{url}/api/schema")
        req.add_header("Authorization", f"Basic {cred}")
        try:
            urllib.request.urlopen(req)
            raise AssertionError("expected 401")
        except urllib.error.HTTPError as e:
            assert e.code == 401
    finally:
        srv.stop()


def test_openapi_nested_types(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("oas")
    (root / "n.ndjson").write_text(
        '{"id": 1, "tags": ["a"], "meta": {"k": 2}}\n'
    )
    cat = Catalog(spark)
    cat.load_table(parse_table_config({"name": "n", "uri": str(root / "n.ndjson")}))
    srv = ApiServer(cat)
    host, port = srv.start()
    try:
        _, _, body = _req(f"http://{host}:{port}/api/openapi.json")
        doc = json.loads(body)
        props = doc["paths"]["/api/tables/n"]["get"]["responses"]["200"][
            "content"]["application/json"]["schema"]["items"]["properties"]
        assert props["id"] == {"type": "integer", "format": "int64"}
        assert props["tags"]["type"] == "array"
        assert props["meta"]["type"] == "object"
        assert props["meta"]["properties"]["k"]["type"] == "integer"
        # nested columns are not offered as filter params
        pnames = {p["name"] for p in doc["paths"]["/api/tables/n"]["get"]["parameters"]}
        assert "filter[id]" in pnames and "filter[tags]" not in pnames
    finally:
        srv.stop()


def test_metrics_endpoint(base_url):
    url, _ = base_url
    # generate some traffic, including an error
    _req(f"{url}/api/sql", "POST", b"SELECT city FROM uk_cities LIMIT 1")
    try:
        _req(f"{url}/api/sql", "POST", b"SELECT nope FROM missing")
    except urllib.error.HTTPError:
        pass
    _req(f"{url}/api/tables/uk_cities?limit=1")
    status, ctype, body = _req(f"{url}/metrics")
    assert status == 200 and ctype.startswith("text/plain")
    text = body.decode()
    m = {}
    for line in text.splitlines():
        if line.startswith("#") or not line:
            continue
        k, v = line.rsplit(" ", 1)
        m[k] = float(v)
    assert m['roapi_requests_total{route="POST /api/sql"}'] >= 2
    assert m['roapi_request_errors_total{route="POST /api/sql"}'] >= 1
    # per-table paths collapse to one bounded label
    assert m['roapi_requests_total{route="GET /api/tables/{t}"}'] >= 1
    assert m['roapi_request_seconds_total{route="POST /api/sql"}'] > 0


def test_statement_timeout_cancels_runaway(spark, tmp_path_factory):
    import time as _time

    root = tmp_path_factory.mktemp("stmt")
    (root / "t.csv").write_text(CSV)
    cat = Catalog(spark)
    cat.load_table(parse_table_config({"name": "t", "uri": str(root / "t.csv")}))
    srv = ApiServer(cat, statement_timeout_s=2.0)
    host, port = srv.start()
    url = f"http://{host}:{port}/api/sql"
    try:
        # fast statements pass through untouched
        _, _, body = _req(url, "POST", b"SELECT city FROM t ORDER BY city LIMIT 1")
        assert json.loads(body) == [{"city": "london"}]
        # a runaway scan is cancelled and surfaced as 408
        t0 = _time.time()
        try:
            _req(url, "POST", b"SELECT count(*) AS n FROM range(500000000000)")
            raise AssertionError("expected 408")
        except urllib.error.HTTPError as e:
            assert e.code == 408
            payload = json.loads(e.read())
            assert payload["error"] == "statement_timeout"
        assert _time.time() - t0 < 30  # cancelled, not run to completion
        # the server still serves normal queries afterwards
        _, _, body = _req(url, "POST", b"SELECT count(*) AS n FROM t")
        assert json.loads(body) == [{"n": 3}]
    finally:
        srv.stop()


def test_delta_table_through_http_api(base_url, spark, tmp_path_factory):
    """A Delta table (pure-Python log replay) registered at runtime and
    queried through SQL + REST on the live server — the cross-layer path
    a reference user exercises when pointing roapi at a lakehouse dir."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    url, _root = base_url
    d = tmp_path_factory.mktemp("delta_e2e") / "items"
    log = d / "_delta_log"
    log.mkdir(parents=True)
    _pq.write_table(_pa.table({"id": [1, 2], "name": ["a", "b"]}), d / "p0.parquet")
    _pq.write_table(_pa.table({"id": [3], "name": ["c"]}), d / "p1.parquet")
    log.joinpath("00000000000000000000.json").write_text(
        "\n".join(
            json.dumps(a)
            for a in [
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
                {"metaData": {"id": "m", "format": {"provider": "parquet"},
                              "schemaString": "{}"}},
                {"add": {"path": "p0.parquet", "size": 1,
                         "modificationTime": 0, "dataChange": True}},
                {"add": {"path": "p1.parquet", "size": 1,
                         "modificationTime": 0, "dataChange": True}},
            ]
        )
    )
    # runtime registration (read_only=False on this fixture's catalog)
    body = json.dumps(
        [{"tableName": "items", "uri": str(d), "option": {"format": "delta"}}]
    ).encode()
    status, _, _ = _req(f"{url}/api/table", "POST", body)
    assert status == 200
    status, _, out = _req(
        f"{url}/api/sql", "POST", b"SELECT COUNT(*) AS n FROM items"
    )
    assert status == 200 and json.loads(out) == [{"n": 3}]
    status, _, out = _req(f"{url}/api/tables/items?sort=-id&limit=1")
    assert json.loads(out) == [{"id": 3, "name": "c"}]


def test_delta_dml_through_http_api(base_url, spark, tmp_path_factory):
    """Row-level DML over the live HTTP server (read-write catalog):
    INSERT, UPDATE, DELETE and MERGE posted to /api/sql must route to
    the copy-on-write delta sink, commit atomically, and be visible to
    the very next read on the same endpoint — the full user-facing
    lakehouse write path."""
    from roapi_spark.sinks.delta import write_delta

    url, _root = base_url
    d = str(tmp_path_factory.mktemp("dml_e2e") / "inv")
    write_delta(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "id bigint, name string, price double",
        ),
        d,
        mode="overwrite",
    )
    body = json.dumps(
        [{"tableName": "inv", "uri": d, "option": {"format": "delta"}}]
    ).encode()
    assert _req(f"{url}/api/table", "POST", body)[0] == 200

    def sql(stmt: str):
        status, _, out = _req(f"{url}/api/sql", "POST", stmt.encode())
        assert status == 200, out
        return json.loads(out)

    assert sql("INSERT INTO inv VALUES (4, 'd', 40.0)")[0]["version"] == 1
    assert sql("UPDATE inv SET price = price * 2 WHERE id <= 2")[0]["version"] == 2
    assert sql("DELETE FROM inv WHERE id = 3")[0]["version"] == 3
    # MERGE needs a registered source table
    src = str(tmp_path_factory.mktemp("dml_e2e_src") / "fix.parquet")
    spark.createDataFrame(
        [(4, "dd", 99.0), (5, "e", 50.0)], "id bigint, name string, price double"
    ).write.parquet(src)
    assert _req(
        f"{url}/api/table",
        "POST",
        json.dumps([{"tableName": "fix", "uri": src}]).encode(),
    )[0] == 200
    out = sql(
        "MERGE INTO inv t USING fix s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    assert out[0]["version"] == 4
    expect = {
        1: ("a", 20.0),
        2: ("b", 40.0),
        4: ("dd", 99.0),
        5: ("e", 50.0),
    }
    got = {r["id"]: (r["name"], r["price"]) for r in sql("SELECT * FROM inv")}
    assert got == expect
    # table maintenance over the same endpoint (round 10): OPTIMIZE
    # re-clusters, VACUUM reclaims the versions the DML left behind —
    # content must be identical after both
    assert sql("OPTIMIZE inv ZORDER BY (id, price)")[0]["version"] == 5
    # round 11: SELECT-level time travel + the CDF TVF over HTTP — both
    # reads, both must see history that VACUUM below will reclaim
    n0 = sql("SELECT count(*) AS n FROM inv VERSION AS OF 0")[0]["n"]
    assert n0 == 3  # the pre-DML row count
    kinds = {
        r["_change_type"]
        for r in sql("SELECT DISTINCT _change_type FROM table_changes('inv', 0)")
    }
    assert {"insert", "delete"} <= kinds
    v = sql("VACUUM inv RETAIN 1 VERSIONS")[0]
    assert v["operation"] == "VACUUM" and v["files_deleted"] >= 1
    got = {r["id"]: (r["name"], r["price"]) for r in sql("SELECT * FROM inv")}
    assert got == expect


def test_runtime_error_yields_400_and_server_survives(base_url):
    """A query that fails at EXECUTION time (ANSI divide-by-zero — not a
    parse/analysis error) maps to the reference's 400 error shape and
    the server keeps serving."""
    url, _ = base_url
    try:
        _req(f"{url}/api/sql", "POST", b"SELECT 1/0 AS x FROM uk_cities")
        raised = None
    except urllib.error.HTTPError as err:
        raised = err
        body = json.loads(err.read())
        assert err.code == 400 and body["error"] == "query_execution"
    assert raised is not None, "expected an HTTP 400"
    status, _, out = _req(f"{url}/api/sql", "POST", b"SELECT COUNT(*) AS n FROM uk_cities")
    assert status == 200 and json.loads(out) == [{"n": 3}]


def test_warc_table_through_http_api(base_url, spark, tmp_path_factory):
    """'Point roapi at my crawl' over the full HTTP surface: a crawl
    directory registers dynamically via POST /api/table (format sniffed
    from .warc.gz), SQL aggregates records, REST filters by type, and
    the payload round-trips as base64-able binary through the JSON
    encoder."""
    import gzip

    from test_warc import HTTP_OK, golden, rec

    url, _ = base_url
    crawl = tmp_path_factory.mktemp("crawl")
    (crawl / "a.warc").write_bytes(golden())
    (crawl / "b.warc.gz").write_bytes(
        gzip.compress(rec("response", "https://e.com/b", HTTP_OK), mtime=0)
    )
    status, _, _ = _req(
        f"{url}/api/table",
        "POST",
        json.dumps([{"tableName": "crawl", "uri": str(crawl)}]).encode(),
    )
    assert status == 200
    status, _, body = _req(
        f"{url}/api/sql",
        "POST",
        b"SELECT warc_type, count(*) AS n FROM crawl "
        b"GROUP BY warc_type ORDER BY warc_type",
    )
    assert status == 200
    assert json.loads(body) == [
        {"warc_type": "request", "n": 1},
        {"warc_type": "response", "n": 2},
        {"warc_type": "warcinfo", "n": 1},
    ]
    status, _, body = _req(
        f"{url}/api/tables/crawl?filter[warc_type]=response"
        "&columns=target_uri,http_status&sort=target_uri"
    )
    rows = json.loads(body)
    assert [r["target_uri"] for r in rows] == [
        "https://e.com/b",
        "https://example.com/a",
    ]
    assert all(r["http_status"] == 200 for r in rows)
    _req(
        f"{url}/api/tables/drop",
        "POST",
        json.dumps([{"tableName": "crawl"}]).encode(),
    )
