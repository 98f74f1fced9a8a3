"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (TPC-H Q1 shape) on sf0.001.
``queries()`` — every implemented operator from SURVEY.md §2 + the
LLM-pipeline operators (dedup / similarity / text analysis).
``oracle_sql()`` — DuckDB-equivalent SQL per query (same column names;
queries without an entry are non-SQL-expressible and get rows-only checks).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# the driver may import this file by path; make the package importable
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from roapi_spark.plans.registry import load_all  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from roapi_spark.plans.analytics import q1_pricing_summary

    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def _latest_rows() -> dict[str, tuple[int, dict]]:
    """name -> (round, row): the most recent driver row per query."""
    import glob
    import json
    import os
    import re

    latest: dict[str, tuple[int, dict]] = {}
    here = os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if name not in latest or rnd > latest[name][0]:
                latest[name] = (rnd, row)
    return latest


def _changed_since_round(rnd: int) -> set[str] | None:
    """Repo-relative paths changed since round ``rnd``'s rows were
    recorded (= since the last commit that touched CORRECTNESS_r{rnd});
    includes uncommitted working-tree changes. None when git can't
    answer (no repo, file never committed) — callers treat that as
    'unknown, assume unchanged'."""
    import subprocess

    cache = _changed_since_round.__dict__.setdefault("cache", {})
    if rnd in cache:
        return cache[rnd]
    result = None
    try:
        rec = subprocess.run(
            ["git", "log", "-n1", "--format=%H", "--",
             f"CORRECTNESS_r{rnd:02d}.json"],
            cwd=_REPO_ROOT, capture_output=True, text=True, timeout=30,
        )
        commit = rec.stdout.strip()
        if rec.returncode == 0 and commit:
            diff = subprocess.run(
                ["git", "diff", "--name-only", commit],
                cwd=_REPO_ROOT, capture_output=True, text=True, timeout=30,
            )
            if diff.returncode == 0:
                result = {ln.strip() for ln in diff.stdout.splitlines() if ln.strip()}
    except Exception:
        result = None
    cache[rnd] = result
    return result


def _transitive_module_files(mod_name: str) -> set[str]:
    """Repo-relative .py files ``mod_name`` depends on, transitively,
    within the roapi_spark package (static AST import scan, memoized).
    This is what makes rotation change-aware for queries whose builder
    is a thin wrapper over reworked machinery (e.g. the delta DML
    queries in functions/formats.py over sinks/delta.py)."""
    import ast
    import os

    state = _transitive_module_files.__dict__

    def mod_file(mod: str) -> str | None:
        rel = mod.replace(".", os.sep)
        for cand in (rel + ".py", os.path.join(rel, "__init__.py")):
            if os.path.isfile(os.path.join(_REPO_ROOT, cand)):
                return cand
        return None

    if "graph" not in state:
        # one pass: direct-import graph over every roapi_spark .py file
        graph: dict[str, set[str]] = {}
        pkg_root = os.path.join(_REPO_ROOT, "roapi_spark")
        for dirpath, _dirs, files in os.walk(pkg_root):
            for fname in files:
                if not fname.endswith(".py"):
                    continue
                rel = os.path.relpath(os.path.join(dirpath, fname), _REPO_ROOT)
                parts = rel[:-3].split(os.sep)
                if parts[-1] == "__init__":
                    parts = parts[:-1]
                mod = ".".join(parts)
                pkg_parts = parts[:-1] if fname != "__init__.py" else parts
                try:
                    with open(os.path.join(_REPO_ROOT, rel)) as f:
                        tree = ast.parse(f.read())
                except (OSError, SyntaxError):
                    graph[mod] = set()
                    continue
                deps: set[str] = set()
                for node in ast.walk(tree):
                    if isinstance(node, ast.Import):
                        deps.update(a.name for a in node.names)
                    elif isinstance(node, ast.ImportFrom):
                        if node.level:  # relative: resolve against package
                            base = pkg_parts[: len(pkg_parts) - (node.level - 1)]
                            stem = ".".join(
                                list(base) + ([node.module] if node.module else [])
                            )
                        else:
                            stem = node.module or ""
                        if stem:
                            deps.add(stem)
                            # `from pkg import name` where name is a submodule
                            deps.update(f"{stem}.{a.name}" for a in node.names)
                graph[mod] = {d for d in deps if d.startswith("roapi_spark")}
        state["graph"] = graph
        state["closure"] = {}

    # glue module: load_all() imports every builder module (so expanding
    # it would make every query depend on everything), and the file
    # itself churns every round as new queries register imports without
    # ever changing existing query semantics — exclude it outright
    _GLUE = {"roapi_spark.plans.registry"}

    graph = state["graph"]
    closure = state["closure"]
    if mod_name not in closure:
        files: set[str] = set()
        queue, seen = [mod_name], {mod_name}
        while queue:
            mod = queue.pop()
            if mod in _GLUE:
                continue
            rel = mod_file(mod)
            if rel is not None:
                files.add(rel)
            for dep in graph.get(mod, ()):  # unknown (e.g. attr import) -> skip
                if dep not in seen:
                    seen.add(dep)
                    queue.append(dep)
        closure[mod_name] = files
    return closure[mod_name]


def _is_full_pass(row: dict) -> bool:
    return (
        isinstance(row, dict)
        and row.get("err") is None
        and row.get("rows_match") is True
        and row.get("schema_match") is True
        and row.get("hash_match") is True
    )


def _ordered_specs():
    # The driver records registry entries in iteration order and caps a
    # round at 50 rows, so ordering decides what gets (re-)recorded.
    # Priority: (1) queries whose LATEST recorded row is not a full pass
    # (errors, stale no-oracle rows-only checks — these have fixes that
    # need re-recording), (2) never-recorded queries (newest operators),
    # (3) change-aware re-verification: queries whose implementing code
    # (builder module + its transitive roapi_spark imports) changed
    # since the round their latest row was recorded, oldest row first —
    # a green row from round K says nothing about code reworked in
    # round K+2, (4) the rest, oldest recorded row first, so long-green
    # rows still rotate through the 50-row window eventually.
    specs = load_all()
    latest = _latest_rows()
    # A spec with no oracle can never hash-match — only an err row means
    # its rows-only check needs a re-run (keeps future oracle-less ops
    # from hogging the front of every capped round).
    needs_rerecord = {
        n: s
        for n, s in specs.items()
        if n in latest
        and not _is_full_pass(latest[n][1])
        and (s.oracle is not None or latest[n][1].get("err") is not None)
    }
    out = dict(needs_rerecord)
    out.update({n: s for n, s in specs.items() if n not in latest})

    recorded = [
        (latest[n][0], n, s) for n, s in specs.items() if n not in out and n in latest
    ]
    recorded.sort(key=lambda t: t[0])  # oldest round first
    # Rank stale rows by how RECENT their invalidating change is: a row
    # invalidated by this round's uncommitted work has no green record
    # at all for the code that will ship, so it outranks one invalidated
    # three rounds ago that the driver just hasn't rotated to yet. The
    # driver caps a round at 50 rows — this ordering decides which 50.
    max_round = max((r for r, _, _ in recorded), default=0)
    stale, fresh = [], []
    for rnd, n, s in recorded:
        changed = _changed_since_round(rnd)
        impl = _transitive_module_files(s.builder.__module__)
        if changed is None or not (impl & changed):
            fresh.append((n, s))
            continue
        # most recent round boundary whose subsequent work touched impl
        recency = rnd
        for k in range(max_round, rnd, -1):
            ck = _changed_since_round(k)
            if ck is not None and (impl & ck):
                recency = k
                break
        # within a recency tier, rank by how MUCH of the query's
        # machinery the latest wave touched: a query whose sink, source
        # and SQL routing all changed outranks one grazed by a shared
        # helper's two-line edit (both are stale, but the 50-row driver
        # cap has to choose)
        overlap = len(impl & (_changed_since_round(recency) or set()))
        stale.append((recency, overlap, rnd, n, s))
    # newest invalidation, biggest blast radius, oldest row
    stale.sort(key=lambda t: (-t[0], -t[1], t[2]))
    out.update({n: s for _, _, _, n, s in stale})
    out.update(dict(fresh))
    out.update({n: s for n, s in specs.items() if n not in out})
    return out


def _ensure_worker_imports(spark: SparkSession) -> None:
    """Local-mode Python workers inherit the DRIVER'S CWD, not its
    sys.path — a harness importing this file from another directory gets
    ModuleNotFoundError inside every mapInPandas kernel. Ship the
    package once per session via addPyFile (workers put shipped archives
    on their sys.path), keyed by applicationId."""
    app = spark.sparkContext.applicationId
    if app in _SHIPPED:
        return
    import atexit
    import tempfile
    import zipfile

    pkg = os.path.join(_REPO_ROOT, "roapi_spark")
    # one stable path per (process, app): local-mode task fetch RE-READS
    # the source path and compares it against the userFiles copy, so the
    # zip must outlive the session (unlink-after-addPyFile fails tasks
    # with 'exists and does not match') AND must be immutable for the
    # app that registered it — a second SparkSession in the same process
    # rewriting a pid-only path would trip that same check if the
    # package source changed in between. atexit reaps each one.
    safe_app = "".join(c if c.isalnum() or c in "-_" else "_" for c in app)
    zpath = os.path.join(
        tempfile.gettempdir(),
        f"roapi_spark_ship_{os.getpid()}_{safe_app}.zip",
    )
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg):
            for name in files:
                # .dat: pinned data snapshots (public-suffix list) some
                # modules load lazily — ship them alongside the code
                if name.endswith((".py", ".dat")):
                    full = os.path.join(root, name)
                    zf.write(full, os.path.relpath(full, _REPO_ROOT))
    spark.sparkContext.addPyFile(zpath)
    atexit.register(_unlink_quiet, zpath)  # one reaper per shipped zip
    _SHIPPED.add(app)


def _unlink_quiet(path: str) -> None:
    try:
        os.unlink(path)
    except OSError:
        pass


_SHIPPED: set[str] = set()


def _with_shipping(
    builder: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_worker_imports(spark)
        return builder(spark, sf_dir)

    run.__name__ = getattr(builder, "__name__", "query")
    run.__module__ = builder.__module__
    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        name: _with_shipping(spec.builder)
        for name, spec in _ordered_specs().items()
    }


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in _ordered_specs().items()
        if spec.oracle is not None
    }
