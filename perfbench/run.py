"""Serving benchmark of roapi_spark.

    python3 perfbench/run.py --workload point_lookups --seed 1 --seconds 10 --trace 0

Runs one workload from the root of a checkout and prints, as its last
line, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
ones with ``--trace 1``). Inputs are generated from ``--seed`` into a
scratch directory under the checkout, which is removed at the end.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORKLOADS = ("point_lookups", "bulk_export", "refresh_under_reads")
SCRATCH = ".perfbench_tmp"


@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: float
    workdir: str  # this run's scratch directory
    data_dir: str
    env: dict[str, str]


def run_env(workdir: str) -> dict[str, str]:
    """Spark sees this host's cores; caches, spill, staged copies and
    temporary files live in the run's scratch directory, so nothing
    carries over between runs or lands outside the checkout."""
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_CACHE_DIR": os.path.join(workdir, "cache"),
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": os.path.join(workdir, "tmp"),
    })
    env.pop("OMP_NUM_THREADS", None)
    return env


def spark_conf(workdir: str) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        # the JVM's own scratch files (native libraries it unpacks, its
        # perf-counter file) stay in the run's directory as well
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')} -XX:-UsePerfData",
    }


def summary(lat_s: list[float], window_s: float, rows: int, passes_s: list[float],
            setup_s: float) -> dict[str, tuple[float, str]]:
    from perfbench.workloads import percentile

    lat_ms = [x * 1000.0 for x in lat_s]
    return {
        "setup_s": (setup_s, "s"),
        "latency_p50_ms": (statistics.median(lat_ms), "ms"),
        "latency_p90_ms": (percentile(lat_ms, 90), "ms"),
        "throughput_ops": (len(lat_ms) / window_s, "1/s"),
        "rows_per_s": (rows / window_s, "1/s"),
        "pass_s": (statistics.median(passes_s), "s"),
    }


def serve(ctx: Ctx) -> dict:
    from perfbench import inputs
    from perfbench.clients import Http
    from perfbench.serve import Server
    from perfbench.workloads import Oracle, StockState, closed_loop, make_clients, warm_up

    refresh = ctx.workload == "refresh_under_reads"
    tables = inputs.make_tables(ctx.seed, ["orders", "customer"])
    inputs.write_tables(tables, ctx.data_dir)
    oracle = Oracle(tables)
    st = None
    if refresh:
        st = StockState(inputs.make_stock(ctx.seed), os.path.join(ctx.data_dir, "stock.parquet"))
        st.stock.publish(st.path, 0)
    cfg = os.path.join(ctx.workdir, "server.yml")
    inputs.server_config(cfg, ctx.data_dir, read_only=not refresh, refreshable=refresh,
                         spark_conf=spark_conf(ctx.workdir))

    server = Server(cfg, str(ROOT), ctx.workdir, ctx.env)
    conns = []
    try:
        ports = server.wait_ports()
        # set-up ends at the first correct answer
        oracle.check_one("orders", Http(ports["http"]).sql(
            "SELECT * FROM orders WHERE o_orderkey = 0"), 0)
        setup_s = time.perf_counter() - server.t_launch
        warm, clients, conns = make_clients(ctx.workload, ports, oracle, st, ctx.seed)
        warmed = warm_up(warm)
        t_warm = time.perf_counter()
        tally, window = closed_loop(clients, ctx.seconds)
        tally.merge(warmed)
    finally:
        for c in conns:
            c.close()
        server.stop()

    reads = [r for r in tally.records if r[0] == "read"]
    if refresh:
        passes = [r[3] for r in tally.records if r[0] == "refresh"]
    else:
        passes = tally.rounds_s
    for e in tally.errors[:5]:
        print(f"# {e}", file=sys.stderr)
    print(f"# set-up {setup_s:.1f} s, warm-up {t_warm - server.t_launch - setup_s:.1f} s, "
          f"measured {window:.1f} s", file=sys.stderr)
    return {
        "correct": tally.wrong == 0 and bool(reads),
        "attempted": tally.attempted + 1,  # with the set-up probe
        "failed": tally.failed,
        "metrics": summary([r[3] for r in reads], window, sum(r[4] for r in reads),
                           passes, setup_s),
    }


def _exit_on_signal(signum, frame) -> None:
    # unwind through the finally blocks, which stop the server and the
    # in-process JVM; a second signal must not cut that short
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, signal.SIG_IGN)
    raise SystemExit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "roapi_spark" / "__init__.py").is_file():
        print(f"perfbench: no roapi_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.serve import adopt_orphans, stop_all

    adopt_orphans()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _exit_on_signal)
    workdir = ROOT / SCRATCH / f"{args.workload}-{args.seed}-{os.getpid()}"
    (workdir / "tmp").mkdir(parents=True)
    ctx = Ctx(args.workload, args.seed, args.seconds, str(workdir),
              str(workdir / "data"), run_env(str(workdir)))
    # the in-process Spark of traced runs reads these too
    os.environ.update(ctx.env)
    os.environ.pop("OMP_NUM_THREADS", None)
    try:
        if args.trace:
            from perfbench.trace import traced_run

            result = traced_run(ctx)
        else:
            result = serve(ctx)
    finally:
        # the JVM of a traced run would otherwise outlive this process
        stop_all()
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            (ROOT / SCRATCH).rmdir()  # only when no other run is using it
        except OSError:
            pass
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
