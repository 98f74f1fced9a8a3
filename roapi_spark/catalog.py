"""Table catalog — the engine core (reference: ColumnQ,
columnq/src/columnq.rs:36-44).

Holds the SparkSession, the registered table sources, KV stores, and the
refresh machinery:

- ``load_table`` — loader dispatch + temp-view registration
  (columnq.rs:104-116);
- ``drop_table`` (columnq.rs:203-207);
- ``query_sql`` passthrough (query/sql.rs:5-18) — Catalyst does the rest;
- ``query_rest`` / ``query_graphql`` — frontend planners over registered
  views;
- KV store: two Utf8-ish columns materialized to a driver dict for O(1)
  GET (columnq.rs:275-331);
- refresh: per-table ``reload_interval`` re-runs the loader and swaps the
  temp view — view rebinding is atomic per name, matching the reference's
  RwLock swap semantics (columnq.rs:118-152).
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import threading
import time

from pyspark.sql import DataFrame, SparkSession

from roapi_spark.config import AppConfig, KeyValueSource, TableSource
from roapi_spark.query.graphql import graphql_to_df
from roapi_spark.query.rest import rest_query_to_df
from roapi_spark.sources import load_table as _load
from roapi_spark.sources.http import fetch_to_local, is_download


# Where Spark SQL text is not code: quoted spans and comments. Strings
# take backslash escapes ('it\'s'; a doubled '' lexes as two adjacent
# spans, which masks the same), r'…' raw strings take none (the raw
# test is a lookbehind from the quote, so plain code pays nothing for
# it), and an unterminated span runs to the end. The one group of each
# quoted alternative is its closing quote. A /* only opens a comment
# here: Spark nests /* */ comments, so _comment_end counts the depth.
_SPAN_RE = re.compile(
    r"""'(?<=[rR]')(?<!\w[rR]')[^']*(')?|"(?<=[rR]")(?<!\w[rR]")[^"]*(")?"""
    r"""|'[^'\\]*(?:\\.[^'\\]*)*(')?"""
    r'''|"[^"\\]*(?:\\.[^"\\]*)*(")?'''
    r"|`[^`]*(`)?"
    r"|--[^\n]*|/\*",
    re.S,
)
_COMMENT_MARK_RE = re.compile(r"/\*|\*/")


def _comment_end(sql: str, start: int) -> int:
    """End of the (nested) /* */ comment opened at ``start``; an
    unclosed one runs to the end."""
    depth = 0
    for m in _COMMENT_MARK_RE.finditer(sql, start):
        depth += 1 if m.group() == "/*" else -1
        if depth == 0:
            return m.end()
    return len(sql)


def _blank_span(m: re.Match) -> str:
    s = m.group()
    if s[0] == "-":  # a line comment goes whole
        return " " * len(s)
    tail = 1 if m.lastindex else 0
    return s[0] + " " * (len(s) - 1 - tail) + s[len(s) - tail :]


def mask_literals(sql: str) -> str:
    """Same-length copy of ``sql`` with the contents of '…', "…" and
    `…` spans and whole ``--``/``/* */`` comments blanked to spaces.
    Quote delimiters stay, so patterns can still anchor on them, and
    every position maps 1:1 onto ``sql``: a scan for keywords, ``?``,
    ``;`` or ``$n`` runs on the mask and never fires inside a literal.
    This is the one place that decides where a literal or comment
    starts and ends."""
    out: list[str] = []
    pos = 0
    while m := _SPAN_RE.search(sql, pos):
        if m.group() == "/*":
            end = _comment_end(sql, m.start())
            out += (sql[pos : m.start()], " " * (end - m.start()))
        else:
            end = m.end()
            out += (sql[pos : m.start()], _blank_span(m))
        pos = end
    return "".join(out) + sql[pos:]


def matches_outside_literals(pattern: re.Pattern, sql: str):
    """``pattern``'s non-overlapping matches in the code of ``sql``: each
    is found on the mask and re-matched on ``sql``, so its groups carry
    the real quoted contents."""
    last = 0
    for mm in pattern.finditer(mask_literals(sql)):
        m = pattern.match(sql, mm.start())
        if m is None or m.start() < last:
            continue
        yield m
        last = m.end()


def sub_outside_literals(pattern: re.Pattern, repl, sql: str) -> str:
    """``pattern.sub(repl, sql)`` over code only."""
    out: list[str] = []
    last = 0
    for m in matches_outside_literals(pattern, sql):
        out += (sql[last : m.start()], repl(m))
        last = m.end()
    return "".join(out) + sql[last:]


def _link_or_copy(src: str, dst: str) -> None:
    """Stage one file of a directory: a hard link where the filesystem
    allows it, else a copy."""
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def _remove_staged(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    else:
        try:
            os.unlink(path)
        except OSError:
            pass


class CatalogError(RuntimeError):
    pass


class ReadOnlyError(CatalogError):
    pass


class Catalog:
    def __init__(self, spark: SparkSession, read_only: bool = True) -> None:
        self.spark = spark
        self.read_only = read_only
        self.sources: dict[str, TableSource] = {}
        self.kv: dict[str, dict[str, str]] = {}
        self._kv_sources: dict[str, KeyValueSource] = {}
        self._refresh_stop = threading.Event()
        self._refresh_thread: threading.Thread | None = None
        self._lock = threading.Lock()
        # delta tables: log head version at (re-)bind time, so VACUUM can
        # tell "external writer advanced the table" from "nothing moved"
        self._bound_delta_head: dict[str, int] = {}
        # views invalidated by our own DML, re-bound lazily at the next
        # read: consecutive DML statements (DELETE; OPTIMIZE; VACUUM)
        # never read the view — they pin their own log snapshot — so an
        # eager reload per statement is a full log replay bought for
        # nothing
        self._stale_dml_views: set[str] = set()
        # pinned generations for refreshable tables: name -> [older, newer]
        self._pinned: dict[str, list[DataFrame]] = {}
        # staged point-in-time file copies backing those generations
        self._staged: dict[str, list[str]] = {}
        # monotonic time each table's view was last (re-)bound: the
        # refresh loop counts reload_interval from here
        self._bound_at: dict[str, float] = {}

    # -- tables ------------------------------------------------------------

    def _stage_source(self, ts: TableSource) -> TableSource:
        """Snapshot isolation for refreshable local sources: copy the
        file, or the directory as a hard-linked tree, to an immutable
        staging path and load THAT. Loading a live path is inherently
        racy — schema inference, the pin's materialization, and the scan
        each open the file at different times, and Spark truncates reads
        at the listed size, so a writer rewriting the file mid-load
        yields torn rows (caught by test_concurrent_refresh_rebind_soak).
        Writers using atomic rename make the copy a consistent
        point-in-time snapshot. Each generation's own path also gives it
        its own plan, so ``_bind``'s persist pins it rather than finding
        the previous generation's cache. Two staged generations are kept
        (matching the pin rotation) so recomputes of the previous
        generation still find their files.

        An http(s) table, refreshable or not, is read from a download
        made at each load. Downloads are tracked as the same two
        generations, so a refresh deletes the one of generation n-2."""
        if is_download(ts):
            ts = fetch_to_local(ts)
            self._track_staged(ts.name, ts.uri)
            return ts
        if ts.reload_interval is None or not os.path.exists(ts.uri):
            return ts
        import dataclasses
        import uuid as _uuid

        from roapi_spark.functions.snapshot import cache_root

        stage_dir = os.path.join(cache_root(), "refresh_stage", ts.name)
        os.makedirs(stage_dir, exist_ok=True)
        if ts.name not in self._staged:
            # first stage of this table in THIS process: sweep copies a
            # previous process left behind (rotation only removes copies
            # it tracked, so orphans would otherwise accumulate forever
            # in the persistent cache dir across restarts)
            for leftover in os.listdir(stage_dir):
                _remove_staged(os.path.join(stage_dir, leftover))
        # keep the FULL suffix chain: '.warc.gz'/'.cdx.gz' readers key
        # gzip handling on the double suffix, and splitext's bare '.gz'
        # would defeat format sniffing on the staged copy
        base = os.path.basename(ts.uri.rstrip(os.sep))
        ext = base[base.index(".") :] if "." in base else ""
        staged = os.path.join(stage_dir, f"{_uuid.uuid4().hex}{ext}")
        if os.path.isdir(ts.uri):
            shutil.copytree(ts.uri, staged, copy_function=_link_or_copy)
        else:
            shutil.copy2(ts.uri, staged)
        self._track_staged(ts.name, staged)
        return dataclasses.replace(ts, uri=staged)

    def _track_staged(self, name: str, path: str) -> None:
        """Record ``path`` as the newest generation's file of ``name``;
        generation n-2's file is removed."""
        gens = self._staged.setdefault(name, [])
        gens.append(path)
        if len(gens) > 2:
            _remove_staged(gens.pop(0))

    def _bind(self, ts: TableSource, df: DataFrame) -> DataFrame:
        """Bind a loaded DataFrame as ``ts.name``'s view.

        Refreshable tables (``reload_interval`` set) are PINNED first:
        persisted and eagerly materialized, so queries serve from a
        committed snapshot and never race the underlying file being
        rewritten. This mirrors the reference, which reloads refreshable
        tables wholesale into a MemTable (columnq.rs load -> MemTable).
        The previous generation stays pinned until the NEXT swap so
        in-flight queries holding the old plan finish against intact
        blocks; generation n-2 is unpersisted (non-blocking).
        Refreshable tables are dimension-sized by nature — exactly the
        tables one pins at 100 TB too."""
        if ts.reload_interval is not None:
            from pyspark import StorageLevel

            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            df.count()  # eager: the swap below publishes a complete snapshot
            gens = self._pinned.setdefault(ts.name, [])
            gens.append(df)
            if len(gens) > 2:
                gens.pop(0).unpersist(blocking=False)
        df.createOrReplaceTempView(ts.name)
        self._bound_at[ts.name] = time.monotonic()
        return df

    def load_table(self, ts: TableSource, dynamic: bool = False) -> None:
        """Load + register. ``dynamic=True`` marks an API-initiated register,
        rejected in read-only mode (roapi/src/api/routes.rs:29-37)."""
        if dynamic and self.read_only:
            raise ReadOnlyError("catalog is read-only; dynamic register disabled")
        self._load_and_bind(ts, register=True)

    def _load_and_bind(self, ts: TableSource, register: bool) -> None:
        """The one load sequence behind register and refresh: delta head,
        stage, load, then bind under the lock (``register`` also records
        ``ts`` in ``sources``)."""
        # record the delta head BEFORE loading: listing it after would
        # race an external commit landing mid-load (recorded head N+1
        # against a version-N view lets VACUUM skip a needed rebind);
        # listing first is conservative — recorded <= pinned, so a
        # mismatch only ever causes an extra rebind, never a skip
        head = None
        if self._resolved_fmt(ts) == "delta":
            head = self._delta_head(ts.uri)
        df = _load(self.spark, self._stage_source(ts))
        with self._lock:
            self._bind(ts, df)
            if register:
                self.sources[ts.name] = ts
            if head is not None:
                self._bound_delta_head[ts.name] = head

    @staticmethod
    def _delta_head(path: str) -> int:
        """Newest committed version in the table's ``_delta_log`` (-1 when
        the log is empty)."""
        from roapi_spark.sources.delta import _log_versions

        return max(
            (v for v, _ in _log_versions(os.path.join(path, "_delta_log"))),
            default=-1,
        )

    @staticmethod
    def _resolved_fmt(ts: TableSource) -> str:
        """Lower-cased effective format: explicit, else sniffed — a
        delta table registered without `format:` (directory sniffing
        resolves it) must still be recognized by the DML/maintenance/
        time-travel routes."""
        try:
            return ts.resolved_format().lower()
        except Exception:  # noqa: BLE001 — unsniffable: treat as unknown
            return (ts.format or "").lower()

    def drop_table(self, name: str, dynamic: bool = False) -> None:
        if dynamic and self.read_only:
            raise ReadOnlyError("catalog is read-only; drop disabled")
        with self._lock:
            if name not in self.sources:
                raise CatalogError(f"table not found: {name}")
            self.spark.catalog.dropTempView(name)
            del self.sources[name]
            # a DML'd-then-dropped table must not linger in the stale
            # set: the next read's flush would KeyError on sources[name]
            self._stale_dml_views.discard(name)
            self._bound_delta_head.pop(name, None)
            self._bound_at.pop(name, None)
            for df in self._pinned.pop(name, []):
                df.unpersist(blocking=False)
            for staged in self._staged.pop(name, []):
                _remove_staged(staged)

    def table(self, name: str) -> DataFrame:
        if name not in self.sources:
            raise CatalogError(f"table not found: {name}")
        if self._stale_dml_views:
            self._flush_stale_views()
        return self.spark.table(name)

    def table_names(self) -> list[str]:
        return sorted(self.sources)

    def schemas(self) -> dict[str, dict]:
        """Schema map as JSON-able dicts (GET /api/schema,
        roapi/src/api/schema.rs:9-24)."""
        return {name: self.table(name).schema.jsonValue() for name in self.sources}

    def schema(self, name: str) -> dict:
        return self.table(name).schema.jsonValue()

    # -- queries -----------------------------------------------------------

    # Read-only command allowlist: metadata inspection only.  Everything
    # else that parses to a Command node (CREATE/DROP/SET/CACHE/ALTER/
    # ANALYZE/...) mutates session or filesystem state.
    _READONLY_COMMAND_PREFIXES = ("Explain", "Show", "Describe")
    # Plans that write or run code although they are not Command nodes:
    # INSERT parses to InsertIntoStatement / InsertIntoDir, EXECUTE
    # IMMEDIATE runs a statement held in a string or a session variable,
    # which no walk of the outer plan can see, and SELECT TRANSFORM(...)
    # USING '<command>' starts that command on the server.
    _WRITING_PLAN_PREFIXES = ("Insert", "UnresolvedExecuteImmediate", "ScriptTransformation")
    # Functions that call any static Java method their string arguments
    # name, inside the server JVM, from a plain SELECT. A call spells one
    # of these names in the text, or names its function at run time
    # through IDENTIFIER(<expr>), so a statement that spells none of them
    # skips the expression walk (a JVM round trip per expression node).
    _JVM_CALL_FUNCTIONS = frozenset({"reflect", "java_method", "try_reflect"})
    _JVM_CALL_RE = re.compile(r"reflect|java_method|identifier", re.I)

    def _assert_read_only_plan(self, plan, sql: str) -> None:
        """Reject a parsed statement that is not a query, in read-only
        mode, before anything runs.

        The reference's read-only gate only covers register/drop
        (roapi/src/api/routes.rs:29-37) because DataFusion's SQL surface is
        read-only by construction; Spark SQL can write (INSERT OVERWRITE
        DIRECTORY, CTAS LOCATION, DROP VIEW...), so the contract has to be
        enforced at the parser.  ``spark.sql`` executes commands eagerly —
        the check must run on the *parsed* plan, before execution.
        """
        jvm = self.spark.sparkContext._jvm
        cmd_cls = jvm.java.lang.Class.forName(
            "org.apache.spark.sql.catalyst.plans.logical.Command"
        )

        # walk the WHOLE tree, not just the root: a CTE-wrapped INSERT
        # parses to UnresolvedWith and a multi-insert to Union — judging
        # only the top node would wave filesystem writes through the
        # read-only gate
        def walk(node) -> None:
            name = node.getClass().getSimpleName()
            if cmd_cls.isInstance(node):
                if not name.startswith(self._READONLY_COMMAND_PREFIXES):
                    raise ReadOnlyError(
                        f"read-only mode rejects {name}: {sql[:80]}"
                    )
            elif name.startswith(self._WRITING_PLAN_PREFIXES):
                raise ReadOnlyError(
                    f"read-only mode rejects {name}: {sql[:80]}"
                )
            if names_jvm_call:
                each(node.expressions(), walk_expr)
            each(node.children(), walk)
            each(node.innerChildren(), walk)

        # subquery plans are reached through innerChildren above, lambda
        # bodies and function arguments through children here
        def walk_expr(expr) -> None:
            cls = expr.getClass().getSimpleName()
            if cls == "UnresolvedFunction":
                fn = expr.nameParts().last().lower()
                if fn in self._JVM_CALL_FUNCTIONS:
                    raise ReadOnlyError(f"read-only mode rejects {fn}(): {sql[:80]}")
            # IDENTIFIER('ref' || 'lect')(...) names its function only
            # when the analyzer folds the name: refuse any function named
            # that way that takes arguments (reflect needs two). A column
            # named by IDENTIFIER has no arguments and passes.
            elif cls == "ExpressionWithUnresolvedIdentifier" and expr.otherExprs().nonEmpty():
                raise ReadOnlyError(
                    f"read-only mode rejects a function named by IDENTIFIER(): {sql[:80]}"
                )
            each(expr.children(), walk_expr)

        def each(seq, visit) -> None:
            it = seq.iterator()
            while it.hasNext():
                visit(it.next())

        names_jvm_call = self._JVM_CALL_RE.search(sql) is not None
        walk(plan)

    # information_schema surface (DataFusion exposes it natively —
    # columnq/src/query/sql.rs session config enables it; Spark has no such
    # catalog, so qualified references are rewritten onto temp views built
    # from this catalog's registry)
    _INFO_SCHEMA_RE = re.compile(r"\binformation_schema\s*\.\s*(tables|columns)\b", re.I)

    def _materialize_information_schema(self) -> None:
        tables_rows = [
            ("spark", "public", name, "BASE TABLE") for name in sorted(self.sources)
        ]
        cols_rows = [
            ("spark", "public", name, f.name, i + 1, "YES" if f.nullable else "NO",
             f.dataType.simpleString())
            for name in sorted(self.sources)
            for i, f in enumerate(self.table(name).schema.fields)
        ]
        self.spark.createDataFrame(
            tables_rows, "table_catalog string, table_schema string, "
            "table_name string, table_type string"
        ).createOrReplaceTempView("information_schema_tables")
        self.spark.createDataFrame(
            cols_rows, "table_catalog string, table_schema string, table_name string, "
            "column_name string, ordinal_position int, is_nullable string, "
            "data_type string"
        ).createOrReplaceTempView("information_schema_columns")

    # -- SQL DML on delta-backed tables (read-write mode) ------------------
    #
    # Spark's v1 file relations reject DELETE/UPDATE/MERGE ("only
    # supported with v2 tables"); in read-write mode we parse the
    # statement with Spark's own parser and route it to the copy-on-write
    # sink (roapi_spark/sinks/delta.py) when the target is a registered
    # delta table. The reference is read-only end to end (roapi serves
    # tables; columnq never writes), so this whole surface is an
    # extension — but it is what makes `--read-only false` + a delta
    # table a usable read-write endpoint over HTTP/pgwire/CLI.

    @staticmethod
    def _scala_seq(jseq) -> list:
        return [jseq.apply(i) for i in range(jseq.size())]

    def _relation_name(self, rel) -> tuple[str, str | None]:
        """(table name, alias) from UnresolvedRelation or
        SubqueryAlias(UnresolvedRelation)."""
        cls = rel.getClass().getSimpleName()
        alias = None
        if cls == "SubqueryAlias":
            alias = rel.alias()
            rel = rel.child()
            cls = rel.getClass().getSimpleName()
        if cls != "UnresolvedRelation":
            raise CatalogError(
                f"DML target/source must be a registered table, got {cls}"
            )
        name = ".".join(self._scala_seq(rel.multipartIdentifier()))
        return name, alias

    @staticmethod
    def _unquote_ident(name: str) -> str:
        """Strip one level of backtick quoting (`` `my table` ``) from a
        maintenance-grammar identifier."""
        if len(name) >= 2 and name[0] == name[-1] == "`":
            return name[1:-1]
        return name

    def _delta_path(self, name: str, stmt: str = "DML") -> str:
        name = self._unquote_ident(name)
        if name not in self.sources:
            raise CatalogError(f"table not found: {name}")
        ts = self.sources[name]
        if self._resolved_fmt(ts) != "delta":
            raise CatalogError(
                f"{stmt} is only supported on delta-backed tables; "
                f"{name!r} has format {ts.format!r}"
            )
        return ts.uri

    def _summary(self, operation: str, table: str, version: int) -> DataFrame:
        return self.spark.createDataFrame(
            [(operation, table, version)],
            "operation string, table string, version bigint",
        )

    def _dml_summary(self, operation: str, table: str, version: int) -> DataFrame:
        # mark the bound view stale; the next read re-binds it
        self._stale_dml_views.add(table)
        return self._summary(operation, table, version)

    def _flush_stale_views(self) -> None:
        """Re-bind every view our own DML invalidated (lazy counterpart
        of the per-statement reload): runs at the top of each read path
        so SELECT-after-DML always sees the committed head."""
        while True:
            try:  # set.pop is atomic; two reader threads may race here
                name = self._stale_dml_views.pop()
            except KeyError:
                break
            self.load_table(self.sources[name])

    # OPTIMIZE / VACUUM are delta-spark SQL extensions — Spark's vanilla
    # parser rejects them, so they are recognized up front by shape (the
    # same pre-parser routing delta-spark's own SparkSessionExtensions
    # injects). Grammar supported:
    #   OPTIMIZE <table> [ZORDER BY (c1, c2, ...)]
    #   VACUUM <table> [RETAIN <n> VERSIONS | RETAIN <n> HOURS]
    # RETAIN <n> HOURS is delta-spark's grammar (time-based retention,
    # resolved to a version cutoff via each commit's commitInfo
    # timestamp); RETAIN <n> VERSIONS is this writer's native contract
    # (sinks/delta.vacuum). Both are explicit about their unit.
    _IDENT = r"(`[^`]+`|[A-Za-z_][\w.]*)"
    _MAINT_RE = re.compile(
        r"^\s*(OPTIMIZE|VACUUM)\s+" + _IDENT + r"\s*(.*?)\s*;?\s*$",
        re.I | re.S,
    )
    _ZORDER_RE = re.compile(r"^ZORDER\s+BY\s*\(\s*([\w\s,`]+?)\s*\)$", re.I)
    _RETAIN_RE = re.compile(r"^RETAIN\s+(\d+)\s+(VERSIONS|HOURS)$", re.I)

    # DESCRIBE HISTORY <t> — delta-spark's audit-trail statement, safe in
    # read-only mode (it reads the log, never the data): one row per
    # committed version with the commitInfo operation + parameters.
    _HISTORY_RE = re.compile(
        r"^\s*DESCRIBE\s+HISTORY\s+" + _IDENT + r"\s*;?\s*$", re.I
    )

    def _route_history(self, m: re.Match) -> DataFrame:
        import json as _json

        from roapi_spark.sources.delta import _log_versions

        path = self._delta_path(m.group(1), stmt="DESCRIBE HISTORY")
        rows = []
        for v, entry in _log_versions(os.path.join(path, "_delta_log")):
            op, params, ts = None, None, None
            with open(entry) as f:
                for line in f:
                    if not line.strip():
                        continue
                    a = _json.loads(line)
                    if "commitInfo" in a:
                        ci = a["commitInfo"]
                        op = ci.get("operation")
                        params = _json.dumps(
                            ci.get("operationParameters") or {}, sort_keys=True
                        )
                        ts = ci.get("timestamp")
                        break
            rows.append((v, None if ts is None else int(ts), op, params))
        rows.sort(reverse=True)  # newest first, like delta-spark
        return self.spark.createDataFrame(
            rows,
            "version bigint, timestamp_ms bigint, operation string, "
            "operationParameters string",
        )

    # DESCRIBE DETAIL <t> — table-level metadata snapshot (delta-spark
    # parity, read-only-safe): format/location/partition columns/file
    # count/total bytes, sizes taken from the log's add actions (one log
    # pass, no per-file filesystem stat — the 100k-file path).
    _DETAIL_RE = re.compile(
        r"^\s*DESCRIBE\s+DETAIL\s+" + _IDENT + r"\s*;?\s*$", re.I
    )

    def _route_detail(self, m: re.Match) -> DataFrame:
        from roapi_spark.sources.delta import snapshot_active_adds

        name = self._unquote_ident(m.group(1))
        path = self._delta_path(name, stmt="DESCRIBE DETAIL")
        active, adds, meta = snapshot_active_adds(path)
        size = sum(int((adds.get(p) or {}).get("size", 0) or 0) for p in active)
        parts = (meta or {}).get("partitionColumns") or []
        return self.spark.createDataFrame(
            [
                (
                    "delta",
                    (meta or {}).get("id"),
                    name,
                    path,
                    ",".join(parts),
                    len(active),
                    size,
                    (meta or {}).get("createdTime"),
                )
            ],
            "format string, id string, name string, location string, "
            "partition_columns string, num_files bigint, "
            "size_bytes bigint, created_ms bigint",
        )

    # RESTORE TABLE <t> TO VERSION AS OF <n> — delta-spark syntax; a
    # metadata-only commit re-activating the target version's file set
    # (sinks/delta.restore_delta). Write op: read-only mode rejects it.
    _RESTORE_RE = re.compile(
        r"^\s*RESTORE\s+TABLE\s+" + _IDENT + r"\s+TO\s+"
        r"(?:VERSION\s+AS\s+OF\s+(\d+)|TIMESTAMP\s+AS\s+OF\s+'([^']+)')"
        r"\s*;?\s*$",
        re.I,
    )

    def _route_restore(self, m: re.Match) -> DataFrame:
        from roapi_spark.sinks.delta import restore_delta, version_at_timestamp

        name = self._unquote_ident(m.group(1))
        path = self._delta_path(name, stmt="RESTORE")
        if m.group(2) is not None:
            target = int(m.group(2))
        else:
            # delta-spark's TIMESTAMP AS OF restore: resolve via each
            # commit's commitInfo timestamp (last commit at or before)
            target = version_at_timestamp(path, m.group(3))
        v = restore_delta(path, target)
        return self._dml_summary("RESTORE", name, v)

    # ALTER TABLE <t> SET TBLPROPERTIES ('k'='v', ...) — delta-spark's
    # property surface (e.g. enabling delta.enableChangeDataFeed on an
    # existing table): one metadata-only commit. A value of '' unsets.
    _TBLPROPS_RE = re.compile(
        r"^\s*ALTER\s+TABLE\s+" + _IDENT + r"\s+SET\s+TBLPROPERTIES\s*"
        r"\(\s*(.+?)\s*\)\s*;?\s*$",
        re.I | re.S,
    )
    _PROP_KV_RE = re.compile(r"'([^']+)'\s*=\s*'([^']*)'")

    # SHOW TBLPROPERTIES <t> — read-only metadata (log only, no data):
    # one (key, value) row per table property.
    _SHOW_PROPS_RE = re.compile(
        r"^\s*SHOW\s+TBLPROPERTIES\s+" + _IDENT + r"\s*;?\s*$", re.I
    )

    def _route_show_tblproperties(self, m: re.Match) -> DataFrame:
        from roapi_spark.sources.delta import snapshot_state

        path = self._delta_path(m.group(1), stmt="SHOW TBLPROPERTIES")
        _, meta = snapshot_state(path)
        conf = (meta or {}).get("configuration") or {}
        return self.spark.createDataFrame(sorted(conf.items()), "key string, value string")

    def _route_tblproperties(self, m: re.Match) -> DataFrame:
        from roapi_spark.sinks.delta import set_table_properties

        name = self._unquote_ident(m.group(1))
        body = m.group(2)
        props = dict(self._PROP_KV_RE.findall(body))
        leftover = self._PROP_KV_RE.sub("", body).replace(",", "").strip()
        if not props or leftover:
            raise CatalogError(
                "SET TBLPROPERTIES expects ('key'='value', ...) with "
                f"quoted strings; could not parse: {body!r}"
            )
        v = set_table_properties(
            self._delta_path(name, stmt="SET TBLPROPERTIES"), props
        )
        return self._dml_summary("SET TBLPROPERTIES", name, v)

    # CREATE [OR REPLACE] TABLE <t> USING DELTA LOCATION '<path>' AS
    # <select> — delta-spark's external-table CTAS: materialize the
    # query as a new delta table at the location and register it. DROP
    # TABLE <t> deregisters (external-table semantics: data stays).
    _CTAS_RE = re.compile(
        r"^\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+" + _IDENT
        + r"\s+USING\s+DELTA\s+LOCATION\s+'([^']+)'\s+AS\s+(.+?)\s*;?\s*$",
        re.I | re.S,
    )
    _DROP_RE = re.compile(
        r"^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?" + _IDENT + r"\s*;?\s*$",
        re.I,
    )

    def _route_ctas(self, m: re.Match) -> DataFrame:
        from roapi_spark.config import parse_table_config
        from roapi_spark.sinks.delta import write_delta

        replace = m.group(1) is not None
        name = self._unquote_ident(m.group(2))
        location, select = m.group(3), m.group(4)
        if name in self.sources and not replace:
            raise CatalogError(
                f"table already registered: {name} "
                "(use CREATE OR REPLACE TABLE)"
            )
        if not replace and os.path.isdir(os.path.join(location, "_delta_log")):
            raise CatalogError(
                f"a delta table already exists at {location} "
                "(use CREATE OR REPLACE TABLE)"
            )
        df = self.query_sql(select)  # full read surface incl. rewrites
        v = write_delta(df, location, mode="overwrite")
        self.load_table(
            parse_table_config(
                {"name": name, "uri": location, "option": {"format": "delta"}}
            )
        )
        return self._summary("CREATE TABLE", name, v)

    def _route_drop(self, m: re.Match) -> DataFrame:
        name = self._unquote_ident(m.group(2))
        # group(1) is the captured IF EXISTS clause itself — a substring
        # test missed 'IF\nEXISTS'/double-space spellings
        if name in self.sources or m.group(1) is None:
            self.drop_table(name)
        return self._summary("DROP TABLE", name, -1)

    def _route_optimize_vacuum(self, m: re.Match) -> DataFrame:
        verb, name, rest = (
            m.group(1).upper(),
            self._unquote_ident(m.group(2)),
            m.group(3).strip(),
        )
        path = self._delta_path(name, stmt=verb)
        if verb == "OPTIMIZE":
            from roapi_spark.sinks.delta import compact

            zorder = None
            if rest:
                zm = self._ZORDER_RE.match(rest)
                if zm is None:
                    raise CatalogError(
                        f"unsupported OPTIMIZE clause {rest!r} "
                        "(use: OPTIMIZE <table> [ZORDER BY (c1, c2)])"
                    )
                zorder = [
                    c.strip().strip("`") for c in zm.group(1).split(",") if c.strip()
                ]
            v = compact(self.spark, path, zorder_by=zorder)
            return self._dml_summary("OPTIMIZE", name, v)
        keep = 2
        if rest:
            rm = self._RETAIN_RE.match(rest)
            if rm is None:
                raise CatalogError(
                    f"unsupported VACUUM clause {rest!r} "
                    "(use: VACUUM <table> [RETAIN <n> VERSIONS | "
                    "RETAIN <n> HOURS])"
                )
            n, unit = int(rm.group(1)), rm.group(2).upper()
            if unit == "HOURS":
                from roapi_spark.sinks.delta import retention_keep_versions

                keep = retention_keep_versions(path, n)
            else:
                keep = n
        from roapi_spark.sinks.delta import vacuum

        deleted = vacuum(path, keep_versions=keep)
        # re-bind ONLY if the table advanced since this catalog bound it
        # (our own DML — flagged stale — or an external writer):
        # otherwise the bound view references head files vacuum never
        # touches, and a reload would buy a full log replay for nothing
        if self._delta_head(path) != self._bound_delta_head.get(name):
            self.load_table(self.sources[name])
            self._stale_dml_views.discard(name)
        return self.spark.createDataFrame(
            [("VACUUM", name, len(deleted))],
            "operation string, table string, files_deleted bigint",
        )

    # The delta-grammar statements, in match order: (pattern, handler,
    # writes). Spark's parser rejects or misreads all of them on v1
    # relations, so they route by shape before any parse; a write route
    # on a read-only catalog is refused before its handler runs.
    _ROUTES = (
        (_HISTORY_RE, _route_history, False),
        (_DETAIL_RE, _route_detail, False),
        (_SHOW_PROPS_RE, _route_show_tblproperties, False),
        (_MAINT_RE, _route_optimize_vacuum, True),
        (_TBLPROPS_RE, _route_tblproperties, True),
        (_CTAS_RE, _route_ctas, True),
        (_DROP_RE, _route_drop, True),
        (_RESTORE_RE, _route_restore, True),
    )

    def _parse_plan(self, sql: str, args: list | dict | None = None):
        """Spark's parsed plan of ``sql``; ``args`` bind to literals the
        way ``spark.sql(sql, args=args)`` binds them."""
        jvm, jss = self.spark._jvm, self.spark._jsparkSession
        parser = jss.sessionState().sqlParser()
        if not args:
            return parser.parsePlan(sql)
        from pyspark.sql import functions as F

        def expr(v):
            return jss.expression(F.lit(v)._jc)

        ctx_pkg = jvm.org.apache.spark.sql.catalyst.parser
        if isinstance(args, dict):
            ctx = ctx_pkg.NamedParameterContext(
                jvm.PythonUtils.toScalaMap({k: expr(v) for k, v in args.items()})
            )
        else:
            ctx = ctx_pkg.PositionalParameterContext(
                jvm.PythonUtils.toSeq([expr(v) for v in args])
            )
        return parser.parsePlanWithParameters(sql, ctx)

    def _route_dml(self, plan) -> DataFrame | None:
        """Returns a 1-row summary DF for DELETE/UPDATE/MERGE/INSERT
        statements on delta tables, or None when ``plan`` is not DML."""
        from roapi_spark.sinks.delta import (
            delete_delta,
            merge_delta,
            update_delta,
        )

        kind = plan.getClass().getSimpleName()
        if kind == "DeleteFromTable":
            name, _ = self._relation_name(plan.table())
            v = delete_delta(self.spark, self._delta_path(name), plan.condition().sql())
            return self._dml_summary("DELETE", name, v)
        if kind == "UpdateTable":
            name, _ = self._relation_name(plan.table())
            sets = {
                a.key().sql(): a.value().sql()
                for a in self._scala_seq(plan.assignments())
            }
            cond = plan.condition()
            v = update_delta(
                self.spark,
                self._delta_path(name),
                cond.get().sql() if cond.isDefined() else "true",
                sets,
            )
            return self._dml_summary("UPDATE", name, v)
        if kind == "MergeIntoTable":
            return self._route_merge(plan, merge_delta)
        if kind == "InsertIntoStatement":
            return self._route_insert(plan)
        return None

    def _route_insert(self, plan) -> DataFrame:
        """INSERT INTO / INSERT OVERWRITE <delta table> [(cols)] <query>:
        materialize the parsed query subtree, align columns positionally
        (or via the user column list), and append/overwrite through the
        sink — the table keeps its declared partition layout."""
        from pyspark.sql import DataFrame as PyDataFrame
        from pyspark.sql import functions as F

        from roapi_spark.sinks.delta import write_delta
        from roapi_spark.sources.delta import snapshot_state

        name, _ = self._relation_name(plan.table())
        path = self._delta_path(name)
        if plan.partitionSpec().size() > 0:
            raise CatalogError(
                "INSERT ... PARTITION (...) is not supported; the table's "
                "own partition layout is preserved automatically"
            )
        jdf = self.spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            self.spark._jsparkSession, plan.query()
        )
        src = PyDataFrame(jdf, self.spark)
        schema = self.table(name).schema
        user_cols = [
            str(c) for c in self._scala_seq(plan.userSpecifiedCols())
        ]
        if user_cols:
            if sorted(user_cols) != sorted(f.name for f in schema.fields):
                raise CatalogError(
                    f"INSERT column list must cover every table column; "
                    f"table has {[f.name for f in schema.fields]}, got {user_cols}"
                )
            if len(src.columns) != len(user_cols):
                raise CatalogError(
                    f"INSERT arity mismatch: {len(user_cols)} columns "
                    f"listed, query produces {len(src.columns)}"
                )
            by_name = dict(zip(user_cols, src.columns))
            aligned = src.select(
                [
                    F.col(by_name[f.name]).cast(f.dataType).alias(f.name)
                    for f in schema.fields
                ]
            )
        else:
            if len(src.columns) != len(schema.fields):
                raise CatalogError(
                    f"INSERT arity mismatch: table {name} has "
                    f"{len(schema.fields)} columns, query produces "
                    f"{len(src.columns)}"
                )
            aligned = src.select(
                [
                    F.col(src.columns[i]).cast(f.dataType).alias(f.name)
                    for i, f in enumerate(schema.fields)
                ]
            )
        _, meta = snapshot_state(path)
        v = write_delta(
            aligned,
            path,
            mode="overwrite" if plan.overwrite() else "append",
            partition_by=(meta or {}).get("partitionColumns") or [],
        )
        return self._dml_summary("INSERT", name, v)

    def _route_merge(self, plan, merge_delta) -> DataFrame:
        tname, talias = self._relation_name(plan.targetTable())
        sname, salias = self._relation_name(plan.sourceTable())
        talias = talias or tname
        salias = salias or sname
        if talias == salias:
            raise CatalogError(
                "MERGE target and source need distinct names/aliases"
            )
        # Collect matched clauses IN SOURCE ORDER first; SQL evaluates
        # WHEN MATCHED clauses top-down per row, while our sink always
        # evaluates delete before update, so an UPDATE-then-DELETE
        # ordering must be translated, not passed through verbatim.
        ordered: list[tuple[str, str | None, object]] = []
        for act in self._scala_seq(plan.matchedActions()):
            acls = act.getClass().getSimpleName()
            cond = act.condition()
            cond_sql = cond.get().sql() if cond.isDefined() else None
            if acls not in ("DeleteAction", "UpdateAction", "UpdateStarAction"):
                raise CatalogError(f"unsupported matched action: {acls}")
            ordered.append((acls, cond_sql, act))
        if sum(1 for a, _, _ in ordered if a == "DeleteAction") > 1:
            raise CatalogError("at most one WHEN MATCHED ... DELETE")
        if sum(1 for a, _, _ in ordered if a != "DeleteAction") > 1:
            raise CatalogError("at most one WHEN MATCHED ... UPDATE")
        for i, (_, cond_sql, _) in enumerate(ordered):
            # the plan is parse-only (analysis never runs), so enforce the
            # standard rule ourselves: a clause can only be skipped over if
            # it has a condition — an unconditional non-final clause makes
            # every later clause unreachable
            if cond_sql is None and i < len(ordered) - 1:
                raise CatalogError(
                    "only the last WHEN MATCHED clause may omit its condition"
                )
        upd: dict[str, str] | None = None
        upd_cond: str | None = None
        del_cond: str | None = None
        prior_upd_cond: str | None = None
        for acls, cond_sql, act in ordered:
            if acls == "DeleteAction":
                if prior_upd_cond is not None:
                    # UPDATE (AND c) came first: per SQL, a matched row is
                    # deleted only when c did NOT fire (false or NULL).
                    # Our sink evaluates delete first, so fold that guard
                    # into the delete predicate.
                    guard = f"(NOT coalesce(({prior_upd_cond}), false))"
                    del_cond = (
                        f"{guard} AND ({cond_sql})" if cond_sql else guard
                    )
                else:
                    del_cond = cond_sql or "true"
            else:  # UpdateAction / UpdateStarAction
                upd_cond = cond_sql
                prior_upd_cond = cond_sql or "true"
                if acls == "UpdateStarAction":
                    upd = {
                        c: f"{salias}.{c}"
                        for c in self.table(tname).columns
                    }
                else:
                    upd = {
                        a.key().sql(): a.value().sql()
                        for a in self._scala_seq(act.assignments())
                    }
        insert = False
        insert_cond: str | None = None
        for act in self._scala_seq(plan.notMatchedActions()):
            acls = act.getClass().getSimpleName()
            if acls == "InsertStarAction":
                insert = True
                cond = act.condition()
                # WHEN NOT MATCHED AND <c> THEN INSERT *: dropping the
                # condition would insert every unmatched source row
                insert_cond = cond.get().sql() if cond.isDefined() else None
            else:
                raise CatalogError(
                    f"only INSERT * is supported for WHEN NOT MATCHED, got {acls}"
                )
        # Spark 3.4+ grammar: WHEN NOT MATCHED BY SOURCE clauses touch
        # target rows WITHOUT a source match — a rewrite shape this
        # sink does not implement; silently ignoring them would commit
        # a MERGE that kept rows the user asked to delete/update
        by_source = getattr(plan, "notMatchedBySourceActions", None)
        if by_source is not None and len(self._scala_seq(by_source())) > 0:
            raise CatalogError("WHEN NOT MATCHED BY SOURCE is not supported")
        v = merge_delta(
            self.spark,
            self._delta_path(tname),
            self.table(sname),
            on_condition=plan.mergeCondition().sql(),
            when_matched_update=upd,
            when_matched_update_condition=upd_cond,
            when_matched_delete=del_cond,
            when_not_matched_insert=insert,
            when_not_matched_insert_condition=insert_cond,
            target_alias=talias,
            source_alias=salias,
        )
        return self._dml_summary("MERGE", tname, v)

    # SELECT-level time travel (delta-spark grammar): `FROM <t> [FOR]
    # VERSION AS OF <n>` / `TIMESTAMP AS OF '<ts>'`. Spark's parser
    # accepts the syntax but only resolves it for v2 tables, so the
    # reference is rewritten to a version-pinned temp view built by the
    # delta reader (sources/delta.py option.version/option.timestamp)
    # before the statement reaches spark.sql. Read-only-safe: a pinned
    # snapshot is a read.
    #
    # The match is keyword-anchored with a MANUAL backward scan for the
    # table identifier: an `ident\s+(FOR\s+)?VERSION AS OF` regex
    # backtracks quadratically on long identifier-char runs (a 70 KB
    # /* xxx... */ comment pad hung the h2c upload e2e for minutes),
    # while finditer on the literal keyword + a linear walk backward is
    # O(n) on any input.
    _TT_KEY_RE = re.compile(
        r"\b(VERSION|TIMESTAMP)\s+AS\s+OF\s+('[^']*'|\d+)", re.I
    )
    _IDENT_CHARS = frozenset(
        "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_."
    )

    def _ident_before(self, sql: str, pos: int) -> tuple[str, int] | None:
        """The table identifier (bare or backticked) that immediately
        precedes ``pos``, skipping whitespace and one optional FOR
        keyword; returns (identifier, start_index) or None."""
        j = pos
        while j > 0 and sql[j - 1].isspace():
            j -= 1
        if (
            j >= 3
            and sql[j - 3 : j].upper() == "FOR"
            and (j - 3 == 0 or not (sql[j - 4] in self._IDENT_CHARS or sql[j - 4] == "`"))
        ):
            j -= 3
            while j > 0 and sql[j - 1].isspace():
                j -= 1
        if j > 0 and sql[j - 1] == "`":
            k = sql.rfind("`", 0, j - 1)
            if k < 0:
                return None
            return sql[k:j], k
        k = j
        while k > 0 and sql[k - 1] in self._IDENT_CHARS:
            k -= 1
        return (sql[k:j], k) if k < j else None

    def _rewrite_time_travel(self, sql: str) -> str:
        out: list[str] = []
        last = 0
        # a keyword inside a string value must not fire
        for m in matches_outside_literals(self._TT_KEY_RE, sql):
            found = self._ident_before(sql, m.start())
            if found is None:
                continue
            ident, start = found
            name = self._unquote_ident(ident)
            if name.upper() == "TO":  # RESTORE ... TO VERSION AS OF
                continue
            if name not in self.sources:
                raise CatalogError(f"table not found: {name}")
            ts = self.sources[name]
            if self._resolved_fmt(ts) != "delta":
                raise CatalogError(
                    f"time travel is only supported on delta-backed tables; "
                    f"{name!r} has format {ts.format!r}"
                )
            kind, raw = m.group(1).upper(), m.group(2)
            opt = dict(ts.option)
            safe = re.sub(r"\W", "_", name)  # temp view names reject dots
            if kind == "VERSION":
                if not raw.isdigit():
                    raise CatalogError(
                        f"VERSION AS OF expects an integer, got {raw}"
                    )
                opt["version"] = int(raw)
                view = f"__asof_{safe}_v{raw}"
            else:
                if not (raw.startswith("'") and raw.endswith("'")):
                    raise CatalogError(
                        f"TIMESTAMP AS OF expects a quoted timestamp, got {raw}"
                    )
                opt["timestamp"] = raw[1:-1]
                # digit-squash alone collides bounds differing only in
                # non-digits ('+05:00' vs '-05:00'); hash the raw token
                view = (
                    f"__asof_{safe}_t{re.sub(r'[^0-9]', '', raw)}"
                    f"_{hashlib.md5(raw.encode()).hexdigest()[:8]}"
                )
            import dataclasses

            # a delta version never changes: no staged copy needed
            pinned = dataclasses.replace(ts, name=view, option=opt)
            _load(self.spark, pinned).createOrReplaceTempView(view)
            out.append(sql[last:start])
            out.append(view)
            last = m.end()
        out.append(sql[last:])
        return "".join(out)

    # delta-spark's CDF table-valued function: `SELECT ... FROM
    # table_changes('t', start[, end])` where each bound is a version
    # number or a quoted ISO timestamp (resolved against commit times,
    # like delta-spark). Spark has no such TVF for v1 relations, so the
    # call is rewritten to a temp view over the CDF reader
    # (sources/delta.table_changes: _change_type / _commit_version /
    # _commit_timestamp per changed row). A read — allowed in
    # read-only mode.
    _CDF_RE = re.compile(
        r"table_changes\(\s*'([^']+)'\s*,\s*(\d+|'[^']*')\s*"
        r"(?:,\s*(\d+|'[^']*')\s*)?\)",
        re.I,
    )

    def _rewrite_table_changes(self, sql: str) -> str:
        def bound(tok: str | None) -> int | str | None:
            if tok is None:
                return None
            return tok[1:-1] if tok.startswith("'") else int(tok)

        def repl(m: re.Match) -> str:
            name = m.group(1)
            start, end = bound(m.group(2)), bound(m.group(3))
            path = self._delta_path(name, stmt="table_changes")
            from roapi_spark.sources.delta import table_changes

            # temp view names reject dots/quotes/colons; the \W-squash
            # alone would collide bounds differing only in punctuation
            # ('2026-01-01 00:00' vs '2026-01-01T00:00'), so a hash of
            # the RAW bound tokens disambiguates
            safe = re.sub(r"\W", "_", name)
            s_tag = re.sub(r"\W", "_", m.group(2))
            e_tag = re.sub(r"\W", "_", m.group(3)) if m.group(3) else "head"
            raw_hash = hashlib.md5(
                f"{m.group(2)}|{m.group(3)}".encode()
            ).hexdigest()[:8]
            view = f"__cdf_{safe}_{s_tag}_{e_tag}_{raw_hash}"
            table_changes(self.spark, path, start, end).createOrReplaceTempView(
                view
            )
            return view

        # a table_changes(...) snippet inside a string value is never
        # rewritten
        return sub_outside_literals(self._CDF_RE, repl, sql)

    def query_sql(self, sql: str, args: list | dict | None = None) -> DataFrame:
        """``args`` bind ``?`` markers (a list) or ``:name`` markers (a
        dict) through Spark's native parameterized SQL: a value is never
        pasted into the SQL text, so no quoting or injection concerns.

        The one statement gate: a delta-grammar statement takes its
        route from ``_ROUTES``; any other is parsed once, with ``args``
        bound the way ``spark.sql`` binds them, and that plan is judged
        by the read-only check or dispatched as DML. A marker may stand
        where a plain parse rejects it (``INSERT OVERWRITE DIRECTORY
        :p``), so a parse failure with ``args`` raises; without them,
        ``spark.sql`` raises its own (nicer) parse error."""
        for pattern, handler, writes in self._ROUTES:
            if m := pattern.match(sql):
                if writes and self.read_only:
                    verb = sql.split(None, 1)[0].upper()
                    raise ReadOnlyError(f"read-only mode rejects {verb}: {sql[:80]}")
                return handler(self, m)
        try:
            plan = self._parse_plan(sql, args)
        except Exception:
            if args:
                raise
            plan = None
        if plan is not None:
            if self.read_only:
                self._assert_read_only_plan(plan, sql)
            elif (routed := self._route_dml(plan)) is not None:
                return routed
        if self._stale_dml_views:
            self._flush_stale_views()
        masked = mask_literals(sql)
        if self._TT_KEY_RE.search(masked):
            sql = self._rewrite_time_travel(sql)
            masked = mask_literals(sql)
        if self._CDF_RE.search(masked):
            sql = self._rewrite_table_changes(sql)
            masked = mask_literals(sql)
        if self._INFO_SCHEMA_RE.search(masked):
            self._materialize_information_schema()
            sql = sub_outside_literals(
                self._INFO_SCHEMA_RE,
                lambda m: f"information_schema_{m.group(1).lower()}",
                sql,
            )
        if args:
            return self.spark.sql(sql, args=args)
        return self.spark.sql(sql)

    def query_rest(self, table: str, params: dict[str, str]) -> DataFrame:
        return rest_query_to_df(self.table(table), params)

    def query_graphql(self, query: str) -> DataFrame:
        if self._stale_dml_views:
            self._flush_stale_views()
        tables = {name: self.spark.table(name) for name in self.sources}
        return graphql_to_df(tables, query)

    # -- kv ----------------------------------------------------------------

    def load_kv(self, kvs: KeyValueSource) -> None:
        """Materialize key/value columns to a driver dict (columnq.rs:275-331;
        the reference requires Utf8 cols — we stringify, same contract)."""
        ts = TableSource(name=kvs.name, uri=kvs.uri, format=kvs.format, option=kvs.option)
        df = _load(self.spark, ts).select(kvs.key, kvs.value)
        mapping = {str(r[0]): (None if r[1] is None else str(r[1])) for r in df.collect()}
        with self._lock:
            self.kv[kvs.name] = mapping
            self._kv_sources[kvs.name] = kvs

    def kv_get(self, name: str, key: str) -> str | None:
        if name not in self.kv:
            raise CatalogError(f"kv store not found: {name}")
        return self.kv[name].get(key)

    # -- refresh -----------------------------------------------------------

    def refresh_table(self, name: str, dynamic: bool = False) -> None:
        """Reload + re-bind a registered table. ``dynamic=True`` marks an
        API-initiated refresh, rejected in read-only mode like a dynamic
        register (roapi/src/api/routes.rs:29-37); the background refresh
        loop calls with the default."""
        if dynamic and self.read_only:
            raise ReadOnlyError("catalog is read-only; dynamic refresh disabled")
        ts = self.sources.get(name)
        if ts is None:
            raise CatalogError(f"table not found: {name}")
        self._load_and_bind(ts, register=False)

    def start_refresh_loop(self, poll_interval: float = 1.0) -> None:
        """Background drain loop (startup.rs:75-82's 1 s cadence): any table
        whose reload_interval elapsed is re-loaded and atomically re-bound."""
        if self._refresh_thread is not None:
            return
        last: dict[str, float] = {}

        def run() -> None:
            while not self._refresh_stop.wait(poll_interval):
                for name, ts in list(self.sources.items()):
                    if ts.reload_interval is None:
                        continue
                    now = time.monotonic()
                    # the interval runs from the later of the last bind
                    # (load, refresh) and the last attempt, so a table
                    # just loaded is not reloaded on the first poll
                    since = max(
                        self._bound_at.get(name, now), last.get(name, 0.0)
                    )
                    if now - since >= ts.reload_interval:
                        try:
                            self.refresh_table(name)
                        except Exception:  # noqa: BLE001 — keep serving stale
                            pass
                        last[name] = now

        self._refresh_thread = threading.Thread(target=run, daemon=True, name="tbl-refresh")
        self._refresh_thread.start()

    def stop_refresh_loop(self) -> None:
        self._refresh_stop.set()
        if self._refresh_thread:
            self._refresh_thread.join(timeout=5)
            self._refresh_thread = None
        self._refresh_stop.clear()


def catalog_from_config(spark: SparkSession, cfg: AppConfig) -> Catalog:
    cat = Catalog(spark, read_only=cfg.read_only)
    for ts in cfg.tables:
        cat.load_table(ts)
    for kvs in cfg.kvstores:
        cat.load_kv(kvs)
    if any(t.reload_interval is not None for t in cfg.tables):
        cat.start_refresh_loop()
    return cat
