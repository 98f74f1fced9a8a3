"""Catalog tests: register/drop, read-only gate, KV store, refresh swap
(reference: columnq/src/columnq.rs, roapi/tests/api_test.rs:22-40, 280-293)."""

from __future__ import annotations

import json
import os
import time

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from roapi_spark.catalog import (
    Catalog,
    CatalogError,
    ReadOnlyError,
    catalog_from_config,
    mask_literals,
)
from roapi_spark.config import parse_config, parse_kv_config, parse_table_config


@pytest.fixture
def csv_file(tmp_path):
    p = tmp_path / "t.csv"
    p.write_text("id,name\n1,a\n2,b\n")
    return p


def test_register_query_drop(spark, csv_file):
    cat = Catalog(spark, read_only=False)
    cat.load_table(parse_table_config({"name": "t", "uri": str(csv_file)}))
    assert cat.table_names() == ["t"]
    assert cat.query_sql("SELECT count(*) AS n FROM t").collect()[0].n == 2
    assert cat.query_rest("t", {"filter[id]": "2"}).collect()[0].name == "b"
    assert cat.query_graphql("{ t(filter: {id: 1}) { name } }").collect()[0].name == "a"
    schema = cat.schema("t")
    assert [f["name"] for f in schema["fields"]] == ["id", "name"]
    cat.drop_table("t", dynamic=True)
    assert cat.table_names() == []
    with pytest.raises(CatalogError):
        cat.table("t")


def test_read_only_gate(spark, csv_file):
    cat = Catalog(spark, read_only=True)
    ts = parse_table_config({"name": "t", "uri": str(csv_file)})
    with pytest.raises(ReadOnlyError):
        cat.load_table(ts, dynamic=True)
    cat.load_table(ts)  # startup load is allowed
    with pytest.raises(ReadOnlyError):
        cat.drop_table("t", dynamic=True)


def test_read_only_sql_surface(spark, csv_file, tmp_path):
    """read_only must constrain the SQL surface itself, not just
    register/drop: Spark SQL can write the filesystem and mutate the
    session, unlike the reference's DataFusion surface."""
    cat = Catalog(spark, read_only=True)
    cat.load_table(parse_table_config({"name": "t", "uri": str(csv_file)}))
    # queries + metadata inspection pass
    assert cat.query_sql("SELECT count(*) AS n FROM t").collect()[0].n == 2
    assert cat.query_sql("WITH x AS (SELECT 1 AS a) SELECT * FROM x").count() == 1
    assert cat.query_sql("VALUES (1, 2)").count() == 1
    cat.query_sql("SHOW TABLES").collect()
    cat.query_sql("DESCRIBE t").collect()
    cat.query_sql("EXPLAIN SELECT * FROM t").collect()
    # anything that writes files or mutates state is rejected pre-execution
    out = tmp_path / "exfil"
    for stmt in [
        f"INSERT OVERWRITE DIRECTORY '{out}' SELECT * FROM t",
        "INSERT INTO t VALUES (3, 'c')",
        f"CREATE TABLE evil LOCATION '{out}' AS SELECT * FROM t",
        "CREATE TABLE evil2 (a INT)",
        "DROP VIEW t",
        "DROP TABLE t",
        "CREATE OR REPLACE TEMP VIEW t AS SELECT 1",
        "SET spark.sql.shuffle.partitions=1",
        "CACHE TABLE t",
        "ALTER TABLE t ADD COLUMNS (z INT)",
        "TRUNCATE TABLE t",
        "ANALYZE TABLE t COMPUTE STATISTICS",
        # the statement EXECUTE IMMEDIATE runs is a string no plan walk sees
        f"EXECUTE IMMEDIATE 'INSERT OVERWRITE DIRECTORY ''{out}'' USING parquet "
        "SELECT * FROM t'",
    ]:
        with pytest.raises(ReadOnlyError):
            cat.query_sql(stmt)
    assert not out.exists()
    # the view survived every attempt
    assert cat.query_sql("SELECT count(*) AS n FROM t").collect()[0].n == 2
    # read-write catalogs keep the full surface
    rw = Catalog(spark, read_only=False)
    rw.query_sql("CREATE OR REPLACE TEMP VIEW rw_v AS SELECT 1 AS a").collect()
    assert rw.query_sql("SELECT * FROM rw_v").count() == 1
    rw.query_sql("DROP VIEW rw_v").collect()



_GET_PROP = "'java.lang.System', 'getProperty', 'java.version'"


@pytest.mark.parametrize(
    "stmt",
    [
        f"SELECT reflect({_GET_PROP}) AS v",
        f"SELECT JAVA_METHOD({_GET_PROP}) AS v FROM t",
        f"SELECT Try_Reflect({_GET_PROP}) AS v",
        f"WITH x AS (SELECT java_method({_GET_PROP}) AS v) SELECT * FROM x",
        f"SELECT * FROM t WHERE name IN (SELECT reflect({_GET_PROP}))",
        f"SELECT (SELECT max(reflect({_GET_PROP})) FROM t) AS v",
        f"SELECT transform(array(1), x -> reflect({_GET_PROP})) AS v",
    ],
)
def test_read_only_rejects_jvm_calls(spark, csv_file, stmt):
    """reflect, java_method and try_reflect run any static Java method
    their arguments name inside the server JVM: a read-only catalog
    refuses them wherever they sit in the statement, in any case."""
    cat = Catalog(spark, read_only=True)
    cat.load_table(parse_table_config({"name": "t", "uri": str(csv_file)}))
    with pytest.raises(ReadOnlyError, match="reflect|java_method"):
        cat.query_sql(stmt)
    # the names inside a string or as a column alias are no call
    row = cat.query_sql("SELECT 'reflect(' AS java_method, count(*) AS n FROM t").collect()[0]
    assert (row.java_method, row.n) == ("reflect(", 2)
    rw = Catalog(spark, read_only=False)
    assert rw.query_sql(f"SELECT reflect({_GET_PROP}) AS v").collect()[0].v


@pytest.mark.parametrize(
    "stmt,args",
    [
        (f"SELECT IDENTIFIER('ref' || 'lect')({_GET_PROP}) AS v", None),
        (f"SELECT identifier('java_' || 'method')({_GET_PROP}) AS v FROM t", None),
        (f"SELECT IDENTIFIER(:f)({_GET_PROP}) AS v", {"f": "reflect"}),
        (f"SELECT IDENTIFIER(?)({_GET_PROP}) AS v", ["try_reflect"]),
        (f"SELECT * FROM t WHERE name IN (SELECT IDENTIFIER(:f)({_GET_PROP}))", {"f": "reflect"}),
    ],
)
def test_read_only_rejects_functions_named_by_identifier(spark, csv_file, stmt, args):
    """IDENTIFIER(<expr>) names a function only when the analyzer folds
    <expr>, so the text need not spell reflect: a read-only catalog
    refuses every function called by an IDENTIFIER name."""
    cat = Catalog(spark, read_only=True)
    cat.load_table(parse_table_config({"name": "t", "uri": str(csv_file)}))
    with pytest.raises(ReadOnlyError, match="IDENTIFIER"):
        cat.query_sql(stmt, args)
    # a column or a table named by IDENTIFIER is no call
    rows = cat.query_sql("SELECT IDENTIFIER(:c) AS n FROM IDENTIFIER('t')", {"c": "name"})
    assert sorted(r.n for r in rows.collect()) == ["a", "b"]


def test_read_only_rejects_script_transform(spark, csv_file, tmp_path):
    """SELECT TRANSFORM(...) USING '<command>' starts that command on the
    server: a read-only catalog refuses it before anything runs."""
    marker = tmp_path / "ran"
    cat = Catalog(spark, read_only=True)
    cat.load_table(parse_table_config({"name": "t", "uri": str(csv_file)}))
    for stmt in (
        f"SELECT TRANSFORM(name) USING 'touch {marker}' AS (x) FROM t",
        f"WITH s AS (SELECT TRANSFORM(name) USING 'touch {marker}' AS (x) FROM t) SELECT * FROM s",
    ):
        with pytest.raises(ReadOnlyError, match="ScriptTransformation"):
            cat.query_sql(stmt)
    assert not marker.exists()


@pytest.mark.parametrize(
    "stmt,args",
    [
        ("INSERT OVERWRITE DIRECTORY ? USING parquet SELECT * FROM t", ["{out}"]),
        ("INSERT OVERWRITE DIRECTORY :p1 USING parquet SELECT * FROM t", {"p1": "{out}"}),
        ("CREATE TABLE evil USING parquet LOCATION ? AS SELECT * FROM t", ["{out}"]),
        ("INSERT INTO t VALUES (?, ?)", [3, "c"]),
    ],
)
def test_read_only_gate_binds_args(spark, csv_file, tmp_path, stmt, args):
    """A parameter marker may stand where a plain parse rejects it (a
    directory or LOCATION path); the read-only check must judge the
    statement as spark.sql will run it, with its values bound."""
    cat = Catalog(spark, read_only=True)
    cat.load_table(parse_table_config({"name": "t", "uri": str(csv_file)}))
    out = str(tmp_path / "exfil")
    if isinstance(args, dict):
        args = {k: v.format(out=out) for k, v in args.items()}
    else:
        args = [v.format(out=out) if isinstance(v, str) else v for v in args]
    with pytest.raises(ReadOnlyError):
        cat.query_sql(stmt, args=args)
    assert not (tmp_path / "exfil").exists()
    assert cat.query_sql("SELECT count(*) AS n FROM t").collect()[0].n == 2
    assert cat.query_sql("SELECT ? AS v", args=[out]).collect()[0].v == out

def test_kv_store(spark, tmp_path):
    p = tmp_path / "kv.json"
    p.write_text(json.dumps([{"id": "x1", "name": "Falcon"}, {"id": "x2", "name": "Dragon"}]))
    cat = Catalog(spark)
    cat.load_kv(parse_kv_config({"name": "launch_name", "uri": str(p), "key": "id", "value": "name"}))
    assert cat.kv_get("launch_name", "x1") == "Falcon"
    assert cat.kv_get("launch_name", "missing") is None
    with pytest.raises(CatalogError):
        cat.kv_get("nope", "k")


def test_refresh_swaps_view(spark, tmp_path):
    p = tmp_path / "r.csv"
    p.write_text("id\n1\n")
    cat = Catalog(spark)
    ts = parse_table_config({"name": "r", "uri": str(p), "reload_interval": 0.2})
    cat.load_table(ts)
    assert cat.query_sql("SELECT count(*) AS n FROM r").collect()[0].n == 1
    p.write_text("id\n1\n2\n3\n")
    cat.start_refresh_loop(poll_interval=0.1)
    try:
        deadline = time.time() + 15
        while time.time() < deadline:
            if cat.query_sql("SELECT count(*) AS n FROM r").collect()[0].n == 3:
                break
            time.sleep(0.2)
        else:
            pytest.fail("refresh never picked up the new data")
    finally:
        cat.stop_refresh_loop()


def test_refresh_loop_counts_interval_from_load(spark, tmp_path, monkeypatch):
    """A table loaded just now is not reloaded on the first poll: the
    interval runs from the load, not from the monotonic clock's zero
    (which a long-running host passed long ago)."""
    import roapi_spark.catalog as catalog_mod

    class _LongUptime:
        """``time`` with a monotonic clock a day past its zero."""

        def __getattr__(self, name):
            return getattr(time, name)

        @staticmethod
        def monotonic() -> float:
            return time.monotonic() + 86400.0

    monkeypatch.setattr(catalog_mod, "time", _LongUptime())
    p = tmp_path / "r.csv"
    p.write_text("id\n1\n")
    cat = Catalog(spark)
    cat.load_table(parse_table_config({"name": "r", "uri": str(p), "reload_interval": 3600}))
    calls = []
    monkeypatch.setattr(cat, "refresh_table", lambda name, dynamic=False: calls.append(name))
    cat.start_refresh_loop(poll_interval=0.05)
    try:
        time.sleep(0.5)
    finally:
        cat.stop_refresh_loop()
    assert calls == []


def test_refresh_table_read_only_gate(spark, csv_file, monkeypatch):
    """An API-initiated refresh is a dynamic write like register: refused
    on a read-only catalog before any reload; the background loop's
    refresh, and any refresh on a writable catalog, still reload."""
    import roapi_spark.catalog as catalog_mod

    loads = []
    real_load = catalog_mod._load
    monkeypatch.setattr(
        catalog_mod, "_load", lambda *a, **k: loads.append(a) or real_load(*a, **k)
    )
    ts = parse_table_config({"name": "t", "uri": str(csv_file)})
    ro = Catalog(spark, read_only=True)
    ro.load_table(ts)
    with pytest.raises(ReadOnlyError):
        ro.refresh_table("t", dynamic=True)
    assert len(loads) == 1
    ro.refresh_table("t")  # the refresh loop's call
    assert len(loads) == 2
    rw = Catalog(spark, read_only=False)
    rw.load_table(ts)
    rw.refresh_table("t", dynamic=True)
    assert len(loads) == 4


def test_http_table_refresh_keeps_two_downloads(spark, tmp_path, monkeypatch):
    """Each load of an http table downloads the file; a refresh deletes
    the download of generation n-2, and the table answers from the
    newest one. Dropping the table deletes the rest."""
    import functools
    import http.server
    import tempfile
    import threading

    served, temp = tmp_path / "served", tmp_path / "temp"
    served.mkdir()
    temp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(temp))
    handler = functools.partial(http.server.SimpleHTTPRequestHandler, directory=str(served))
    httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    try:
        (served / "t.csv").write_text("id\n1\n")
        cat = Catalog(spark, read_only=False)
        uri = f"http://127.0.0.1:{httpd.server_address[1]}/t.csv"
        cat.load_table(parse_table_config({"name": "ht", "uri": uri}))
        for n in range(2, 5):
            (served / "t.csv").write_text("id\n" + "".join(f"{i}\n" for i in range(n)))
            cat.refresh_table("ht")
            assert len(list(temp.glob("roapi_http_*"))) <= 2
            assert cat.query_sql("SELECT count(*) AS n FROM ht").collect()[0].n == n
        cat.drop_table("ht")
        assert not list(temp.glob("roapi_http_*"))
    finally:
        httpd.shutdown()


def test_catalog_from_config(spark, csv_file):
    cfg = parse_config(
        {"tables": [{"name": "t", "uri": str(csv_file)}], "read_only": True}
    )
    cat = catalog_from_config(spark, cfg)
    assert cat.table_names() == ["t"]


# --- SQL DML routing to the delta sink (read-write mode) ---


@pytest.fixture
def delta_cat(spark, tmp_path):
    from roapi_spark.sinks.delta import write_delta

    path = str(tmp_path / "people")
    df = spark.createDataFrame(
        [(1, "ada", 10.0), (2, "linus", 20.0), (3, "guido", 30.0)],
        "id bigint, name string, score double",
    )
    write_delta(df, path, mode="overwrite")
    cat = Catalog(spark, read_only=False)
    cat.load_table(parse_table_config({"name": "people", "uri": path, "option": {"format": "delta"}}))
    # a plain parquet source table for the MERGE and for format gating
    src = str(tmp_path / "upd.parquet")
    spark.createDataFrame(
        [(2, "linus t", 25.0), (9, "barbara", 90.0)],
        "id bigint, name string, score double",
    ).write.parquet(src)
    cat.load_table(parse_table_config({"name": "upd", "uri": src, "option": {"format": "parquet"}}))
    return cat


def test_sql_delete_routes_to_sink(spark, delta_cat):
    out = delta_cat.query_sql("DELETE FROM people WHERE id = 2").collect()[0]
    assert (out.operation, out.table, out.version) == ("DELETE", "people", 1)
    assert sorted(r.id for r in delta_cat.query_sql("SELECT id FROM people").collect()) == [1, 3]


def test_sql_update_routes_to_sink(spark, delta_cat):
    delta_cat.query_sql("UPDATE people SET score = score * 2, name = upper(name) WHERE id >= 2")
    got = {r.id: (r.name, r.score) for r in delta_cat.query_sql("SELECT * FROM people").collect()}
    assert got == {1: ("ada", 10.0), 2: ("LINUS", 40.0), 3: ("GUIDO", 60.0)}


def test_sql_merge_routes_to_sink(spark, delta_cat):
    out = delta_cat.query_sql(
        "MERGE INTO people AS t USING upd AS u ON t.id = u.id "
        "WHEN MATCHED AND t.score < 100 THEN UPDATE SET name = u.name, score = u.score "
        "WHEN NOT MATCHED THEN INSERT *"
    ).collect()[0]
    assert out.operation == "MERGE" and out.version == 1
    got = {r.id: (r.name, r.score) for r in delta_cat.query_sql("SELECT * FROM people").collect()}
    assert got == {
        1: ("ada", 10.0),
        2: ("linus t", 25.0),
        3: ("guido", 30.0),
        9: ("barbara", 90.0),
    }


def test_sql_merge_update_star_and_delete(spark, delta_cat):
    delta_cat.query_sql(
        "MERGE INTO people t USING upd u ON t.id = u.id "
        "WHEN MATCHED AND u.score > 50 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET *"
    )
    got = {r.id: r.name for r in delta_cat.query_sql("SELECT * FROM people").collect()}
    assert got == {1: "ada", 2: "linus t", 3: "guido"}  # id 2 updated, no inserts


def test_sql_optimize_routes_to_compact(spark, delta_cat, tmp_path):
    """OPTIMIZE <t> [ZORDER BY (...)] is a delta-spark SQL extension
    Spark's parser rejects — the catalog routes it by shape to the
    compaction sink; the summary row carries the committed version and
    the table keeps serving identical rows from fewer/clustered files."""
    before = {tuple(r) for r in delta_cat.query_sql("SELECT * FROM people").collect()}
    out = delta_cat.query_sql("OPTIMIZE people").collect()[0]
    assert (out.operation, out.table, out.version) == ("OPTIMIZE", "people", 1)
    after = {tuple(r) for r in delta_cat.query_sql("SELECT * FROM people").collect()}
    assert after == before

    out2 = delta_cat.query_sql("OPTIMIZE people ZORDER BY (id, score)").collect()[0]
    assert (out2.operation, out2.version) == ("OPTIMIZE", 2)
    assert {
        tuple(r) for r in delta_cat.query_sql("SELECT * FROM people").collect()
    } == before

    with pytest.raises(CatalogError, match="unsupported OPTIMIZE clause"):
        delta_cat.query_sql("OPTIMIZE people WHERE id > 1")
    with pytest.raises(CatalogError, match="only supported on delta"):
        delta_cat.query_sql("OPTIMIZE upd")


def test_sql_vacuum_routes_to_sink(spark, delta_cat):
    """VACUUM <t> [RETAIN <n> VERSIONS]: version-based retention (the
    writer's vacuum() contract, unit explicit in the clause). An
    overwrite leaves the old files dead; vacuum reclaims them and
    current reads hold."""
    delta_cat.query_sql("DELETE FROM people WHERE id = 1")  # v1
    delta_cat.query_sql("DELETE FROM people WHERE id = 2")  # v2
    out = delta_cat.query_sql("VACUUM people RETAIN 1 VERSIONS").collect()[0]
    assert out.operation == "VACUUM" and out.table == "people"
    assert out.files_deleted >= 1  # v0/v1-only files reclaimed
    assert sorted(
        r.id for r in delta_cat.query_sql("SELECT id FROM people").collect()
    ) == [3]
    with pytest.raises(CatalogError, match="unsupported VACUUM clause"):
        delta_cat.query_sql("VACUUM people RETAIN 24 FORTNIGHTS")


def _rewrite_commit_timestamp(table_path, version, ts_ms):
    """Edit a committed log entry's commitInfo timestamp in place (test
    helper: simulates a table whose old versions aged past retention)."""
    import json as _json

    entry = os.path.join(table_path, "_delta_log", f"{version:020d}.json")
    lines = []
    with open(entry) as f:
        for line in f:
            if not line.strip():
                continue
            a = _json.loads(line)
            if "commitInfo" in a:
                a["commitInfo"]["timestamp"] = ts_ms
            lines.append(_json.dumps(a, separators=(",", ":")))
    with open(entry, "w") as f:
        f.write("\n".join(lines) + "\n")


def test_sql_vacuum_retain_hours(spark, delta_cat):
    """VACUUM <t> RETAIN <n> HOURS (delta-spark's grammar): hours are
    resolved to a version cutoff via each commit's commitInfo timestamp.
    Only files referenced exclusively by expired-by-time versions are
    reclaimed; a generous window reclaims nothing."""
    import time as _time

    delta_cat.query_sql("DELETE FROM people WHERE id = 1")  # v1
    delta_cat.query_sql("DELETE FROM people WHERE id = 2")  # v2
    path = delta_cat.sources["people"].uri
    # everything is seconds old: a 168h window must keep all versions
    out = delta_cat.query_sql("VACUUM people RETAIN 168 HOURS").collect()[0]
    assert out.files_deleted == 0
    # age v0/v1 past the window, keep v2 fresh: exactly the files only
    # the expired versions reference go away, and the head still reads
    old = int(_time.time() * 1000) - 200 * 3_600_000
    _rewrite_commit_timestamp(path, 0, old)
    _rewrite_commit_timestamp(path, 1, old)
    out = delta_cat.query_sql("VACUUM people RETAIN 168 HOURS").collect()[0]
    assert out.files_deleted >= 1
    assert sorted(
        r.id for r in delta_cat.query_sql("SELECT id FROM people").collect()
    ) == [3]
    # time travel into the reclaimed window now fails loudly at restore
    with pytest.raises(Exception, match="no longer exist"):
        delta_cat.query_sql("RESTORE TABLE people TO VERSION AS OF 0")


def test_maintenance_backtick_identifiers_and_error_text(spark, delta_cat):
    """Backtick-quoted table names work across the maintenance grammar,
    and non-delta targets get an error naming the statement kind rather
    than a generic 'DML' message."""
    hist = delta_cat.query_sql("DESCRIBE HISTORY `people`").collect()
    assert hist[0].version == 0
    assert (
        delta_cat.query_sql("DESCRIBE DETAIL `people`").collect()[0].format
        == "delta"
    )
    out = delta_cat.query_sql("OPTIMIZE `people`").collect()[0]
    assert (out.operation, out.table) == ("OPTIMIZE", "people")
    out = delta_cat.query_sql("VACUUM `people` RETAIN 5 VERSIONS").collect()[0]
    assert out.table == "people"
    delta_cat.query_sql("DELETE FROM people WHERE id = 1")
    out = delta_cat.query_sql(
        "RESTORE TABLE `people` TO VERSION AS OF 1"
    ).collect()[0]
    assert out.operation == "RESTORE"
    for stmt, kind in (
        ("DESCRIBE HISTORY upd", "DESCRIBE HISTORY"),
        ("DESCRIBE DETAIL upd", "DESCRIBE DETAIL"),
        ("OPTIMIZE upd", "OPTIMIZE"),
        ("VACUUM upd", "VACUUM"),
        ("RESTORE TABLE upd TO VERSION AS OF 0", "RESTORE"),
    ):
        with pytest.raises(
            CatalogError, match=f"{kind} is only supported on delta"
        ):
            delta_cat.query_sql(stmt)


def test_restore_to_timestamp(spark, delta_cat):
    """RESTORE TABLE t TO TIMESTAMP AS OF 'ts' (delta-spark grammar):
    resolves via commitInfo timestamps to the last commit at or before
    the given time, then restores that version's file set."""
    import time as _time

    before = {tuple(r) for r in delta_cat.query_sql("SELECT * FROM people").collect()}
    delta_cat.query_sql("DELETE FROM people WHERE id <= 2")  # v1
    path = delta_cat.sources["people"].uri
    # age v0 so a between-versions timestamp resolves to it
    _rewrite_commit_timestamp(path, 0, int(_time.time() * 1000) - 48 * 3_600_000)
    from datetime import datetime, timedelta, timezone

    mid = (datetime.now(timezone.utc) - timedelta(hours=24)).strftime(
        "%Y-%m-%d %H:%M:%S"
    )
    out = delta_cat.query_sql(
        f"RESTORE TABLE people TO TIMESTAMP AS OF '{mid}'"
    ).collect()[0]
    assert (out.operation, out.version) == ("RESTORE", 2)
    after = {tuple(r) for r in delta_cat.query_sql("SELECT * FROM people").collect()}
    assert after == before
    # a pre-table timestamp fails loudly
    with pytest.raises(Exception, match="no delta commit"):
        delta_cat.query_sql(
            "RESTORE TABLE people TO TIMESTAMP AS OF '1990-01-01 00:00:00'"
        )


def test_select_time_travel(spark, delta_cat):
    """SELECT ... FROM <t> [FOR] VERSION AS OF n / TIMESTAMP AS OF 'ts'
    (delta-spark grammar): rewritten to a version-pinned snapshot view,
    so the query text itself selects an old version — works read-only
    (it's a read), and non-delta targets fail loudly."""
    delta_cat.query_sql("DELETE FROM people WHERE id <= 2")  # v1
    assert [
        r.id for r in delta_cat.query_sql("SELECT id FROM people").collect()
    ] == [3]
    got = delta_cat.query_sql(
        "SELECT id, name FROM people VERSION AS OF 0 ORDER BY id"
    ).collect()
    assert [(r.id, r.name) for r in got] == [(1, "ada"), (2, "linus"), (3, "guido")]
    # FOR VERSION AS OF + join back against the current version
    n = delta_cat.query_sql(
        "SELECT count(*) AS n FROM people FOR VERSION AS OF 0 p0 "
        "LEFT ANTI JOIN people p ON p0.id = p.id"
    ).collect()[0].n
    assert n == 2  # the two deleted rows
    # TIMESTAMP AS OF far in the future resolves to the latest version
    future = delta_cat.query_sql(
        "SELECT count(*) AS n FROM people TIMESTAMP AS OF '2100-01-01 00:00:00'"
    ).collect()[0].n
    assert future == 1
    # read-only: time travel is a read, allowed
    ro = Catalog(spark, read_only=True)
    ro.sources = delta_cat.sources
    assert (
        ro.query_sql("SELECT count(*) AS n FROM people VERSION AS OF 0")
        .collect()[0]
        .n
        == 3
    )
    with pytest.raises(CatalogError, match="only supported on delta"):
        delta_cat.query_sql("SELECT * FROM upd VERSION AS OF 0")


def test_sql_table_changes_tvf(spark, delta_cat):
    """SELECT ... FROM table_changes('t', start[, end]) (delta-spark's
    CDF TVF): rewritten to a view over the CDF reader — one row per
    changed record with _change_type/_commit_version; works read-only."""
    delta_cat.query_sql("DELETE FROM people WHERE id = 2")  # v1
    rows = delta_cat.query_sql(
        "SELECT _change_type, id FROM table_changes('people', 1, 1) "
        "ORDER BY _change_type, id"
    ).collect()
    # the copy-on-write DELETE rewrites the touched file: id=2 appears
    # as a delete (survivors of that file re-appear as inserts)
    got = {(r._change_type, r.id) for r in rows}
    assert ("delete", 2) in got and ("insert", 2) not in got
    # the full range starts with the 3 initial inserts
    all_rows = delta_cat.query_sql(
        "SELECT _change_type, count(*) AS n FROM table_changes('people', 0) "
        "GROUP BY _change_type ORDER BY _change_type"
    ).collect()
    kinds = {r._change_type: r.n for r in all_rows}
    assert kinds.get("insert", 0) >= 3
    # read-only: CDF is a read
    ro = Catalog(spark, read_only=True)
    ro.sources = delta_cat.sources
    assert (
        ro.query_sql(
            "SELECT count(*) AS n FROM table_changes('people', 0, 0)"
        ).collect()[0].n
        == 3
    )
    with pytest.raises(CatalogError, match="only supported on delta"):
        delta_cat.query_sql("SELECT * FROM table_changes('upd', 0)")


def test_sql_ctas_and_drop_table(spark, delta_cat, tmp_path):
    """CREATE [OR REPLACE] TABLE ... USING DELTA LOCATION ... AS SELECT
    materializes the query as a registered delta table (delta-spark's
    external-table CTAS); DROP TABLE deregisters, keeping the data
    (external semantics)."""
    loc = str(tmp_path / "ctas_out")
    out = delta_cat.query_sql(
        f"CREATE TABLE top2 USING DELTA LOCATION '{loc}' AS "
        "SELECT id, score FROM people WHERE score >= 20 "
    ).collect()[0]
    assert (out.operation, out.table, out.version) == ("CREATE TABLE", "top2", 0)
    assert sorted(
        r.id for r in delta_cat.query_sql("SELECT id FROM top2").collect()
    ) == [2, 3]
    # DML works on the created table immediately
    delta_cat.query_sql("DELETE FROM top2 WHERE id = 2")
    assert [
        r.id for r in delta_cat.query_sql("SELECT id FROM top2").collect()
    ] == [3]
    # plain CREATE refuses to clobber (registered name OR existing log)
    with pytest.raises(CatalogError, match="already registered"):
        delta_cat.query_sql(
            f"CREATE TABLE top2 USING DELTA LOCATION '{loc}' AS SELECT 1 AS x"
        )
    # OR REPLACE recreates in place
    out = delta_cat.query_sql(
        f"CREATE OR REPLACE TABLE top2 USING DELTA LOCATION '{loc}' AS "
        "SELECT id FROM people"
    ).collect()[0]
    assert out.operation == "CREATE TABLE"
    assert delta_cat.query_sql("SELECT count(*) AS n FROM top2").collect()[0].n == 3
    # DROP deregisters; the delta table stays on disk (external)
    delta_cat.query_sql("DROP TABLE top2")
    assert "top2" not in delta_cat.table_names()
    assert os.path.isdir(os.path.join(loc, "_delta_log"))
    # IF EXISTS on a missing table is a no-op summary, not an error
    row = delta_cat.query_sql("DROP TABLE IF EXISTS top2").collect()[0]
    assert row.operation == "DROP TABLE"
    with pytest.raises(CatalogError, match="table not found"):
        delta_cat.query_sql("DROP TABLE top2")
    # read-only mode rejects both (Commands at the parser gate)
    ro = Catalog(spark, read_only=True)
    ro.sources = dict(delta_cat.sources)
    with pytest.raises(ReadOnlyError):
        ro.query_sql(
            f"CREATE TABLE x USING DELTA LOCATION '{loc}2' AS SELECT 1 AS a"
        )
    with pytest.raises(ReadOnlyError):
        ro.query_sql("DROP TABLE people")


def test_vacuum_rebinds_view_after_external_writer(spark, delta_cat):
    """VACUUM re-binds the table view: if an external writer advanced
    the table since load, vacuum must not leave a stale bound view
    pointing at files it just reclaimed."""
    from roapi_spark.sinks.delta import write_delta

    path = delta_cat.sources["people"].uri
    # external writer overwrites the table behind the catalog's back
    write_delta(
        spark.createDataFrame([(7, "grace", 70.0)], "id bigint, name string, score double"),
        path,
        mode="overwrite",
    )
    delta_cat.query_sql("VACUUM people RETAIN 1 VERSIONS")
    rows = delta_cat.query_sql("SELECT id FROM people").collect()
    assert [r.id for r in rows] == [7]


def test_sql_describe_history(spark, delta_cat):
    """DESCRIBE HISTORY <t> (delta-spark parity): one row per committed
    version, newest first, carrying the commitInfo operation — and it
    works in READ-ONLY mode too (log metadata, never data)."""
    delta_cat.query_sql("DELETE FROM people WHERE id = 1")      # v1
    delta_cat.query_sql("OPTIMIZE people")                      # v2
    hist = delta_cat.query_sql("DESCRIBE HISTORY people").collect()
    assert [(r.version, r.operation) for r in hist] == [
        (2, "OPTIMIZE"),
        (1, "DELETE"),
        (0, "WRITE"),
    ]
    assert all(r.timestamp_ms > 0 for r in hist)
    assert '"predicate": "(id = 1)"' in hist[1].operationParameters or (
        "id" in hist[1].operationParameters
    )
    ro = Catalog(spark, read_only=True)
    ro.sources = delta_cat.sources
    assert len(ro.query_sql("DESCRIBE HISTORY people").collect()) == 3
    with pytest.raises(CatalogError, match="only supported on delta"):
        delta_cat.query_sql("DESCRIBE HISTORY upd")


def test_sql_restore_to_version(spark, delta_cat):
    """RESTORE TABLE t TO VERSION AS OF n: a metadata-only commit that
    re-activates the old file set — the table reads exactly as it did
    at the target version, history keeps growing forward, and a
    vacuumed-away target fails loudly instead of publishing dangling
    adds."""
    before = {tuple(r) for r in delta_cat.query_sql("SELECT * FROM people").collect()}
    delta_cat.query_sql("DELETE FROM people WHERE id <= 2")  # v1
    assert delta_cat.query_sql("SELECT count(*) AS n FROM people").collect()[0].n == 1
    out = delta_cat.query_sql("RESTORE TABLE people TO VERSION AS OF 0").collect()[0]
    assert (out.operation, out.version) == ("RESTORE", 2)
    after = {tuple(r) for r in delta_cat.query_sql("SELECT * FROM people").collect()}
    assert after == before
    hist = delta_cat.query_sql("DESCRIBE HISTORY people").collect()
    assert hist[0].operation == "RESTORE"
    # restore target must be strictly older than head
    with pytest.raises(Exception, match="older"):
        delta_cat.query_sql("RESTORE TABLE people TO VERSION AS OF 2")
    # vacuum away v0/v1 files, then a restore to v1 must fail loudly
    delta_cat.query_sql("DELETE FROM people WHERE id = 1")  # v3
    delta_cat.query_sql("VACUUM people RETAIN 1 VERSIONS")
    with pytest.raises(Exception, match="no longer exist"):
        delta_cat.query_sql("RESTORE TABLE people TO VERSION AS OF 1")


def test_sql_describe_detail(spark, delta_cat):
    row = delta_cat.query_sql("DESCRIBE DETAIL people").collect()[0]
    assert row.format == "delta" and row.name == "people"
    assert row.num_files >= 1 and row.size_bytes > 0
    assert row.partition_columns == ""
    # read-only-safe
    ro = Catalog(spark, read_only=True)
    ro.sources = delta_cat.sources
    assert ro.query_sql("DESCRIBE DETAIL people").collect()[0].num_files >= 1


def test_read_only_rejects_maintenance(spark, delta_cat, tmp_path):
    cat = Catalog(spark, read_only=True)
    cat.sources = delta_cat.sources  # same registered tables
    for stmt in (
        "OPTIMIZE people",
        "VACUUM people RETAIN 1 VERSIONS",
        "RESTORE TABLE people TO VERSION AS OF 0",
    ):
        with pytest.raises(ReadOnlyError):
            cat.query_sql(stmt)


@pytest.fixture
def branchy_cat(spark, tmp_path):
    """Target/source shaped so a MERGE's matched rows split across the
    update and delete branches — catches clause-order translation bugs
    that an all-one-branch fixture hides."""
    from roapi_spark.sinks.delta import write_delta

    path = str(tmp_path / "tgt")
    write_delta(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "id bigint, name string, score double",
        ),
        path,
        mode="overwrite",
    )
    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(
        [(1, "A", 100.0), (2, "B", 5.0), (3, "C", 20.0)],
        "id bigint, name string, score double",
    ).write.parquet(src)
    cat = Catalog(spark, read_only=False)
    cat.load_table(parse_table_config({"name": "tgt", "uri": path, "option": {"format": "delta"}}))
    cat.load_table(parse_table_config({"name": "src", "uri": src, "option": {"format": "parquet"}}))
    return cat


def test_sql_merge_update_then_unconditional_delete(spark, branchy_cat):
    # SQL clause order: rows where s.score > 50 are UPDATED; only the
    # REMAINING matched rows fall through to the DELETE. A router that
    # passes delete='true' to a delete-first sink wipes them all.
    branchy_cat.query_sql(
        "MERGE INTO tgt t USING src s ON t.id = s.id "
        "WHEN MATCHED AND s.score > 50 THEN UPDATE SET * "
        "WHEN MATCHED THEN DELETE"
    )
    got = {r.id: (r.name, r.score) for r in branchy_cat.query_sql("SELECT * FROM tgt").collect()}
    assert got == {1: ("A", 100.0)}  # 1 updated; 2 and 3 deleted


def test_sql_merge_update_then_conditional_delete(spark, branchy_cat):
    # conditional UPDATE then conditional DELETE: id 1 updates (score
    # 100 > 50), id 2 deletes (5 < 10), id 3 matches neither clause and
    # must survive untouched.
    branchy_cat.query_sql(
        "MERGE INTO tgt t USING src s ON t.id = s.id "
        "WHEN MATCHED AND s.score > 50 THEN UPDATE SET * "
        "WHEN MATCHED AND s.score < 10 THEN DELETE"
    )
    got = {r.id: (r.name, r.score) for r in branchy_cat.query_sql("SELECT * FROM tgt").collect()}
    assert got == {1: ("A", 100.0), 3: ("c", 30.0)}


def test_sql_merge_nonfinal_unconditional_clause_rejected(spark, branchy_cat):
    # "only the last WHEN MATCHED clause may omit its condition": Spark's
    # parser rejects this before our router sees it (the router keeps its
    # own equivalent guard for the direct merge_delta path)
    from pyspark.errors import ParseException

    with pytest.raises(ParseException, match="NON_LAST_MATCHED"):
        branchy_cat.query_sql(
            "MERGE INTO tgt t USING src s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN MATCHED THEN DELETE"
        )


def test_sql_dml_rejected_on_non_delta(spark, delta_cat):
    with pytest.raises(CatalogError, match="delta-backed"):
        delta_cat.query_sql("DELETE FROM upd WHERE id = 2")


def test_sql_dml_rejected_in_read_only(spark, tmp_path):
    from roapi_spark.sinks.delta import write_delta

    path = str(tmp_path / "ro")
    write_delta(
        spark.createDataFrame([(1,)], "id bigint"), path, mode="overwrite"
    )
    cat = Catalog(spark, read_only=True)
    cat.load_table(parse_table_config({"name": "ro", "uri": path, "option": {"format": "delta"}}))
    for stmt in (
        "DELETE FROM ro WHERE id = 1",
        "UPDATE ro SET id = 2",
        "MERGE INTO ro USING ro2 ON ro.id = ro2.id WHEN MATCHED THEN DELETE",
    ):
        with pytest.raises(ReadOnlyError):
            cat.query_sql(stmt)


def test_sql_insert_routes_to_sink(spark, delta_cat):
    out = delta_cat.query_sql(
        "INSERT INTO people VALUES (7, 'grace', 70.0), (8, 'ken', 80.0)"
    ).collect()[0]
    assert (out.operation, out.version) == ("INSERT", 1)
    assert delta_cat.query_sql("SELECT count(*) AS n FROM people").collect()[0].n == 5
    # INSERT ... SELECT from another registered table, column list form
    delta_cat.query_sql(
        "INSERT INTO people (id, name, score) SELECT id, name, score FROM upd WHERE id = 9"
    )
    assert sorted(r.id for r in delta_cat.query_sql("SELECT id FROM people").collect()) == [1, 2, 3, 7, 8, 9]
    # INSERT OVERWRITE replaces the table contents in one version
    delta_cat.query_sql("INSERT OVERWRITE people SELECT * FROM upd")
    assert delta_cat.query_sql("SELECT count(*) AS n FROM people").collect()[0].n == 2


def test_sql_insert_arity_mismatch_is_loud(spark, delta_cat):
    with pytest.raises(CatalogError, match="arity"):
        delta_cat.query_sql("INSERT INTO people VALUES (1, 'x')")


# ---- catalog audit regressions ----------------------------------------------


def test_read_only_gate_covers_nested_writes(spark, tmp_path):
    """A CTE-wrapped or multi-insert INSERT OVERWRITE DIRECTORY parses
    to UnresolvedWith/Union — the gate must walk the whole tree, not
    judge only the root node."""
    from roapi_spark.catalog import ReadOnlyError

    cat = Catalog(spark, read_only=True)
    (tmp_path / "x.csv").write_text("a\n1\n")
    cat.load_table(
        parse_table_config({"name": "s", "uri": str(tmp_path / "x.csv")})
    )
    out = str(tmp_path / "out")
    with pytest.raises(ReadOnlyError):
        cat.query_sql(
            "WITH w AS (SELECT * FROM s) "
            f"INSERT OVERWRITE DIRECTORY '{out}' USING parquet "
            "SELECT * FROM w"
        )
    with pytest.raises(ReadOnlyError):
        cat.query_sql(
            f"FROM s INSERT OVERWRITE DIRECTORY '{out}/a' USING parquet "
            f"SELECT * INSERT OVERWRITE DIRECTORY '{out}/b' USING parquet "
            "SELECT *"
        )
    assert not os.path.exists(out)
    # plain SELECT with a CTE still passes the gate
    assert cat.query_sql("WITH w AS (SELECT 1 AS x) SELECT * FROM w").count() == 1


def test_merge_not_matched_by_source_rejected(spark, delta_cat):
    """Silently ignoring WHEN NOT MATCHED BY SOURCE would keep rows
    the user asked to delete — must be a loud unsupported error."""
    with pytest.raises(CatalogError, match="NOT MATCHED BY SOURCE"):
        delta_cat.query_sql(
            "MERGE INTO people t USING upd s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET t.name = s.name "
            "WHEN NOT MATCHED BY SOURCE THEN DELETE"
        )


def test_merge_insert_condition_honored(spark, delta_cat):
    """WHEN NOT MATCHED AND <cond> THEN INSERT * must filter the
    unmatched source rows, not insert all of them."""
    delta_cat.query_sql(
        "MERGE INTO people t USING upd s ON t.id = s.id "
        "WHEN NOT MATCHED AND s.score > 95 THEN INSERT *"
    )
    ids = sorted(
        r.id for r in delta_cat.query_sql("SELECT id FROM people").collect()
    )
    assert ids == [1, 2, 3], "s.score=90 fails the >95 guard: no insert"
    delta_cat.query_sql(
        "MERGE INTO people t USING upd s ON t.id = s.id "
        "WHEN NOT MATCHED AND s.score > 50 THEN INSERT *"
    )
    ids = sorted(
        r.id for r in delta_cat.query_sql("SELECT id FROM people").collect()
    )
    assert ids == [1, 2, 3, 9], "only the row passing the guard inserts"


def test_drop_after_dml_does_not_poison_next_read(spark, delta_cat):
    """DELETE marks the view stale; DROP must clear that mark, or the
    next unrelated read crashes flushing a dropped name."""
    delta_cat.query_sql("DELETE FROM people WHERE id = 1")
    delta_cat.query_sql("DROP TABLE people")
    # next read on another table must not KeyError
    assert delta_cat.query_sql("SELECT count(*) AS n FROM upd").collect()[0].n == 2


def test_sniffed_delta_table_accepts_dml(spark, tmp_path):
    """A delta table registered WITHOUT an explicit format (directory
    sniffing resolves it) must be accepted by DML/maintenance routes."""
    from roapi_spark.sinks.delta import write_delta

    path = str(tmp_path / "snifftbl")
    write_delta(
        spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string"),
        path,
    )
    cat = Catalog(spark, read_only=False)
    cat.load_table(parse_table_config({"name": "st", "uri": path}))
    out = cat.query_sql("DELETE FROM st WHERE id = 1").collect()[0]
    assert out.operation == "DELETE"
    hist = cat.query_sql("DESCRIBE HISTORY st")
    assert hist.count() >= 2


def test_rewrites_ignore_string_literals(spark, delta_cat):
    """'VERSION AS OF'/table_changes(...) INSIDE string literals are
    data, not syntax — the rewrites must not fire there."""
    row = delta_cat.query_sql(
        "SELECT 'restored VERSION AS OF 12' AS msg"
    ).collect()[0]
    assert row.msg == "restored VERSION AS OF 12"
    row = delta_cat.query_sql(
        "SELECT \"see table_changes('t', 0)\" AS note"
    ).collect()[0]
    assert row.note == "see table_changes('t', 0)"


def test_drop_if_exists_any_whitespace(spark, delta_cat):
    """DROP TABLE IF<newline>EXISTS on a missing table must be a silent
    no-op (the old literal substring test missed it)."""
    out = delta_cat.query_sql("DROP TABLE IF\nEXISTS   no_such_t").collect()[0]
    assert out.operation == "DROP TABLE"


def test_stage_source_keeps_full_suffix(spark, tmp_path):
    """Refreshable single-file staging must preserve the full suffix
    chain ('.warc.gz'), not splitext's bare '.gz'."""
    p = tmp_path / "crawl.warc.gz"
    p.write_bytes(b"x")
    cat = Catalog(spark)
    ts = parse_table_config(
        {"name": "c", "uri": str(p), "option": {"format": "warc"},
         "reload_interval": 60}
    )
    staged = cat._stage_source(ts)
    assert staged.uri.endswith(".warc.gz"), staged.uri


def test_directory_refresh_pins_each_generation(spark, tmp_path, monkeypatch):
    """A refreshable directory table is staged per generation like a
    file: each refresh serves the republished rows, and the bound view
    stays persisted rather than sharing (and then losing) the previous
    generation's cache."""
    import shutil

    from pyspark import StorageLevel

    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "cache"))
    live = tmp_path / "events"

    def publish(n: int) -> None:
        staging = tmp_path / "events.next"
        spark.range(n).write.mode("overwrite").parquet(str(staging))
        if live.exists():
            shutil.rmtree(live)
        staging.rename(live)

    publish(10)
    cat = Catalog(spark)
    cat.load_table(parse_table_config(
        {"name": "ev", "uri": str(live), "format": "parquet", "reload_interval": 3600}
    ))
    assert cat.query_sql("SELECT count(*) AS n FROM ev").collect()[0].n == 10
    for n in (20, 30, 40):
        publish(n)
        cat.refresh_table("ev")
        assert cat.query_sql("SELECT count(*) AS n FROM ev").collect()[0].n == n
        assert cat.table("ev").storageLevel != StorageLevel.NONE
    cat.drop_table("ev")


def test_rewrites_honor_backslash_escapes(spark, csv_file):
    """An escaped quote does not end a literal: the information_schema
    rewrite must leave the second literal as Spark reads it."""
    cat = Catalog(spark)
    cat.load_table(parse_table_config({"name": "t", "uri": str(csv_file)}))
    row = cat.query_sql(
        "SELECT 'it\\'s' AS a, 'information_schema.tables' AS s"
    ).collect()[0]
    assert (row.a, row.s) == ("it's", "information_schema.tables")


def test_dml_binds_args_natively(spark, delta_cat):
    """DML takes bound parameters, named or positional, as values: an
    injection attempt matches no row."""
    out = delta_cat.query_sql(
        "DELETE FROM people WHERE name = ?", args=["x' OR 1=1 --"]
    ).collect()[0]
    assert out.operation == "DELETE"
    delta_cat.query_sql(
        "UPDATE people SET score = :s WHERE id = :id", args={"s": 99.5, "id": 2}
    ).collect()
    got = delta_cat.query_sql("SELECT id, score FROM people ORDER BY id").collect()
    assert [(r.id, r.score) for r in got] == [(1, 10.0), (2, 99.5), (3, 30.0)]


_CODE = st.text(alphabet="abcxyz019 \n;?$:=(),.*", max_size=8)
_SPANS = st.one_of(
    st.builds(
        lambda q, parts: q + "".join(parts) + q,
        st.sampled_from(["'", '"']),
        st.lists(
            st.one_of(
                st.text(alphabet="ab ;?$-/*`\n", min_size=1, max_size=3),
                st.sampled_from(["\\'", '\\"', "\\\\", "\\n"]),
            ),
            max_size=4,
        ),
    ),
    st.builds(lambda b: f"`{b}`", st.text(alphabet="ab ;?$'\"\\-", max_size=6)),
    st.builds(lambda b: f" r'{b}'", st.text(alphabet="ab ;?\\\"", max_size=6)),
    st.builds(lambda b: f"--{b}\n", st.text(alphabet="ab ;?'\"`\\*/", max_size=6)),
    st.builds(
        lambda b: f"/*{b}*/",
        st.text(alphabet="ab ;?'\"`\\-*\n", max_size=6).filter(lambda b: "*/" not in b),
    ),
    # Spark nests /* */ comments
    st.builds(lambda a, b: f"/*{a}/*{b}*/{a}*/", st.sampled_from(["", " ;", "'"]), _CODE),
)


def _expected_mask(span: str) -> str:
    if span.startswith("--"):  # the newline that ends it is code
        return " " * (len(span) - 1) + "\n"
    if span.startswith("/*"):
        return " " * len(span)
    head = span.index(span.lstrip(" r")[0]) + 1  # through the opening quote
    return span[:head] + " " * (len(span) - head - 1) + span[-1]


@settings(max_examples=300, deadline=None)
@given(st.lists(st.tuples(_CODE, _SPANS), max_size=5), _CODE)
@example(pieces=[("SELECT ", "/* a /* b */ ; */")], tail=" 2")
def test_mask_literals_blanks_exactly_the_spans(pieces, tail):
    """Same length; code outside every span unchanged; a span keeps its
    quotes and loses its contents (a comment goes whole)."""
    sql = "".join(c + s for c, s in pieces) + tail
    expect = "".join(c + _expected_mask(s) for c, s in pieces) + tail
    got = mask_literals(sql)
    assert len(got) == len(sql)
    assert got == expect


def test_mask_literals_doubled_quote_is_two_spans():
    assert mask_literals("SELECT 'it''s?', ?") == "SELECT '  ''  ', ?"
