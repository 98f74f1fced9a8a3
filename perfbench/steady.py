"""Steadiness check: run one workload N times, each with its own seed, and
print per metric the median, quartiles, spread (quartile distance over the
median) and min/max.

    python3 perfbench/steady.py --workload point_lookups --runs 10 --seconds 6
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of this machine so far: a run that lost CPU
    time to other guests on the host reads slower for that reason alone."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    shares = set()
    for seed in range(args.first_seed, args.first_seed + args.runs):
        t0, (steal0, total0) = time.monotonic(), cpu_ticks()
        proc = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
            cwd=HERE.parent, capture_output=True, text=True, timeout=900,
        )
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        shares.add(res["failed"] / res["attempted"])
        steal1, total1 = cpu_ticks()
        steal = (steal1 - steal0) / max(total1 - total0, 1)
        phases = [ln for ln in proc.stderr.splitlines() if ln.startswith("# set-up")]
        print(f"seed {seed} ({time.monotonic() - t0:.0f} s, steal {steal:.1%}): "
              f"correct={res['correct']} "
              f"attempted={res['attempted']} "
              f"failed={res['failed']} " + " ".join(
                  f"{k}={m['value']:.4g}" for k, m in res["metrics"].items())
              + (f"\n  {phases[-1]}" if phases else ""), flush=True)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
            units[k] = m["unit"]

    print(f"\n{'metric':24} {'unit':6} {'median':>11} {'q1':>11} {'q3':>11} "
          f"{'spread':>7} {'min':>11} {'max':>11}")
    for k, v in values.items():
        q1, med, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0],) * 3
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k:24} {units[k]:6} {med:11.4g} {q1:11.4g} {q3:11.4g} "
              f"{spread:7.3f} {min(v):11.4g} {max(v):11.4g}")
    print(f"failed share(s): {sorted(shares)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
