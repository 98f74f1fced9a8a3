"""Local mirror of the driver's correctness gate.

Usage: python tools/check_correctness.py [--json PATH] [sf_dir] [query ...]
Runs every registered query on Spark and its DuckDB oracle, compares
row-count + columns + order-insensitive value hash, prints a PASS/FAIL
table, exits nonzero on any failure.

With --json PATH, also persists the full per-query result in the driver's
CORRECTNESS_r{N}.json shape plus a `_meta` stamp. The driver caps its own
per-round file at 50 rows, so 2/3 of the 147-query registry is outside any
single round's driver window — committing this full-registry artifact each
round (CORRECTNESS_LOCAL.json) makes freshness auditable instead of
inferred (round-5 verdict item).
"""

from __future__ import annotations

import json
import subprocess
import sys
import time

sys.path.insert(0, ".")

from roapi_spark.plans.registry import load_all
from roapi_spark.session import get_spark
from roapi_spark.testing.oracle import CompareResult, compare, duckdb_conn


def commit_stamp(repo: str = ".") -> str:
    """Short HEAD hash of ``repo``, suffixed ``-dirty`` when ``git status
    --porcelain`` lists any change, so a run over an uncommitted tree is
    never stamped with its parent's hash; ``"unknown"`` when git fails."""

    def git(*args: str) -> str:
        return subprocess.run(
            ["git", "-C", repo, *args],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.strip()

    try:
        head = git("rev-parse", "--short", "HEAD")
        return head + "-dirty" if git("status", "--porcelain") else head
    except Exception:  # noqa: BLE001 — stamp is best-effort
        return "unknown"


def main() -> int:
    args = sys.argv[1:]
    json_path = None
    if args and args[0] == "--json":
        json_path = args[1]
        args = args[2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    specs = load_all()
    spark = get_spark("check_correctness")
    conn = duckdb_conn(sf_dir)

    failures = 0
    records: dict[str, dict] = {}
    for name, spec in specs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = spec.builder(spark, sf_dir)
            if spec.oracle is None:
                n = df.count()
                res = CompareResult(name, True, n, -1, "rows-only (no oracle)")
            else:
                res = compare(name, df, conn, spec.oracle)
        except Exception as exc:  # noqa: BLE001
            res = CompareResult(name, False, -1, -1, f"EXCEPTION {type(exc).__name__}: {exc}")
        dt = time.time() - t0
        status = "PASS" if res.ok else "FAIL"
        print(f"{status}  {name:32s} rows={res.spark_rows:<7d} {dt:5.1f}s  {res.detail[:400]}")
        failures += 0 if res.ok else 1
        # driver CORRECTNESS shape: a failed compare reports which of the
        # three gates broke via the detail string
        detail = res.detail
        records[name] = {
            "rows_match": res.ok or "row count mismatch" not in detail,
            "schema_match": res.ok or "column mismatch" not in detail,
            "hash_match": res.ok,
            "spark_rows": res.spark_rows,
            "oracle_rows": res.oracle_rows,
            "err": None if res.ok else detail[:400],
        }
    print(f"\n{'OK' if failures == 0 else 'FAILURES: %d' % failures}")

    if json_path:
        out = dict(records)
        out["_meta"] = {
            "generated_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "sf_dir": sf_dir,
            "commit": commit_stamp(),
            "queries": len(records),
            "failures": failures,
        }
        with open(json_path, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
        print(f"wrote {json_path} ({len(records)} queries)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
