"""Benchmark harness for the batch registry.

Usage: python bench.py [query ...]

Times every registered query, ``sorted(load_all())``, or only the named
ones, at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]. Each query is built and evaluated through the
noop sink twice, with persistent blocks dropped before each pass, and the
faster pass is kept. That pass's builder call and noop write are recorded
apart as ``build_s`` and ``sink_s``.

One line per query goes to stderr. stdout gets ONE JSON line of at most
1,900 chars (the driver's tail capture) with the fields

  metric, value (total sec), unit, sf, sink, n_queries, n_regressions,
  queries: {name: sec}, most expensive first (ties by name), filled
           until the line would pass the budget.

A full-registry run writes every figure to BENCH_DETAIL.json: queries,
build_s, sink_s, regressions and best-ever floors. A run over named
queries writes no file.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from roapi_spark.plans.registry import load_all
from roapi_spark.session import get_spark

METRIC = "headline_queries_total_sec"
LINE_BUDGET = 1900
REPO_DIR = os.path.dirname(os.path.abspath(__file__))
DETAIL_PATH = os.path.join(REPO_DIR, "BENCH_DETAIL.json")


def stdout_line(timings: dict[str, float], sf: float, n_regressions: int) -> str:
    """The one stdout line: the headline fields plus as many per-query
    timings as fit in LINE_BUDGET chars, most expensive first. Ties break
    by name, so runs at different core counts ship near-identical sets;
    every figure still lands in BENCH_DETAIL.json."""
    obj = {
        "metric": METRIC,
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf,
        "sink": "noop",
        "n_queries": len(timings),
        "n_regressions": n_regressions,
        "queries": {},
    }
    for n in sorted(timings, key=lambda n: (-timings[n], n)):
        obj["queries"][n] = round(timings[n], 2)
        if len(json.dumps(obj)) > LINE_BUDGET:
            del obj["queries"][n]
            break
    return json.dumps(obj)


def committed_baseline(sf: float) -> tuple[dict[str, float], dict[str, float]]:
    """(timings, floors) of the committed run at the same sf and sink.

    The baseline is the COMMITTED artifact (``git show
    HEAD:BENCH_DETAIL.json``), not the working-tree file, so a second
    bench run in one checkout still compares against the last commit,
    not the run just before it; the working-tree file is the fallback
    outside a git checkout."""
    prior = None
    try:
        committed = subprocess.run(
            ["git", "-C", REPO_DIR, "show", "HEAD:BENCH_DETAIL.json"],
            capture_output=True,
            text=True,
            timeout=30,
        )
        if committed.returncode == 0:
            prior = json.loads(committed.stdout)
    except Exception:  # noqa: BLE001 — not a git checkout / git absent
        prior = None
    if prior is None:
        try:
            with open(DETAIL_PATH) as f:
                prior = json.load(f)
        except (OSError, ValueError):
            prior = {}
    if prior.get("sf") == sf and prior.get("sink") == "noop":
        return prior.get("queries", {}), prior.get("floors", {})
    return {}, {}


def main(argv: list[str]) -> int:
    specs = load_all()
    unknown = [n for n in argv if n not in specs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    names = argv or sorted(specs)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark("bench")

    # JVM/codegen warmup on a real (untimed) scan+agg so the first timed
    # query isn't charged for JIT/classloading startup
    spark.range(1000).count()
    specs["q6_revenue_delta"].builder(spark, sf_dir).count()

    def drop_persistent_blocks() -> None:
        # iterative queries localCheckpoint intermediates; unpersist them so
        # one query's blocks don't pressure the next query's memory
        jsc = spark.sparkContext._jsc.sc()
        for rdd in spark.sparkContext._jvm.scala.collection.JavaConverters.mapAsJavaMap(
            jsc.getPersistentRDDs()
        ).values():
            rdd.unpersist(False)

    def best_of_two(name: str) -> tuple[float, float, float]:
        # min of two passes: this host shares cores with the test driver's
        # own JVMs and single runs swing 2-4x under transient contention;
        # the min is the reproducible figure (page-cache-warm, standard
        # steady-state benchmarking). Returns (total, build, sink) of the
        # kept pass.
        best = None
        for _ in range(2):
            drop_persistent_blocks()
            t0 = time.time()
            df = specs[name].builder(spark, sf_dir)
            t1 = time.time()
            # full evaluation: count() lets Catalyst prune every output
            # column (a per-doc projection times as a bare row count) and
            # eliminate a left join of a unique-keyed aggregate. The noop
            # sink materializes what a consumer would read.
            df.write.mode("overwrite").format("noop").save()
            t2 = time.time()
            if best is None or t2 - t0 < best[0]:
                best = (t2 - t0, t1 - t0, t2 - t1)
        return tuple(round(v, 3) for v in best)

    timings: dict[str, float] = {}
    build_s: dict[str, float] = {}
    sink_s: dict[str, float] = {}
    for name in names:
        timings[name], build_s[name], sink_s[name] = best_of_two(name)
        print(
            f"# {name}: {timings[name]:.3f}s (build {build_s[name]:.3f}s,"
            f" sink {sink_s[name]:.3f}s)",
            file=sys.stderr,
        )

    # Per-query regression gate:
    #  (1) the baseline is the committed artifact (committed_baseline);
    #  (2) the comparison floor is the per-query BEST-EVER (min of the
    #      committed floor, the committed timing, and this run) — one
    #      noisy run can therefore never raise the bar for future runs;
    #  (3) a query flagged against its floor is RE-TIMED IN ISOLATION
    #      (after the full sweep, host quieter) and the min is recorded
    #      — transient contention clears itself instead of landing in
    #      the committed artifact.
    # A query >1.5x its floor at the same sf+sink is flagged — with a
    # 0.3 s slack so sub-100 ms jitter never reads as a regression.
    # Flags remain advisory; the floors make them attributable.
    prior_queries, prior_floors = committed_baseline(sf)

    def floor_of(n: str) -> float | None:
        vals = [
            v
            for v in (prior_floors.get(n), prior_queries.get(n))
            if v is not None
        ]
        return min(vals) if vals else None

    def flagged(n: str) -> bool:
        was = floor_of(n)
        return was is not None and timings[n] > max(1.5 * was, was + 0.3)

    for n in sorted(n for n in timings if flagged(n)):
        iso = best_of_two(n)
        if iso[0] < timings[n]:
            print(
                f"# retime {n}: {timings[n]:.3f}s -> {iso[0]:.3f}s "
                "(isolated)",
                file=sys.stderr,
            )
            timings[n], build_s[n], sink_s[n] = iso

    regressions: dict[str, list[float]] = {
        n: [floor_of(n), timings[n]] for n in sorted(timings) if flagged(n)
    }
    for n, pair in regressions.items():
        print(
            f"# REGRESSION {n}: floor {pair[0]:.3f}s -> {pair[1]:.3f}s",
            file=sys.stderr,
        )

    if not argv:
        detail = {
            "metric": METRIC,
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "sf": sf,
            "sink": "noop",
            "queries": timings,
            "build_s": build_s,
            "sink_s": sink_s,
            "regressions": regressions,
            "floors": {
                n: round(min(v for v in (floor_of(n), timings[n]) if v is not None), 3)
                for n in timings
            },
        }
        with open(DETAIL_PATH, "w") as f:
            json.dump(detail, f, indent=1)

    print(stdout_line(timings, sf, len(regressions)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
