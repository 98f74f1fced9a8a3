"""Write docs/PLANS.md: the physical plan for every registered query, plus a
one-line shape summary (join strategies / exchanges / scans), so plan
shapes can be reviewed without running Spark.

Usage: python tools/dump_plans.py [sf_dir]  (default /root/testdata/sf0.01;
plan shapes don't depend on SF — statistics-driven choices like broadcast
thresholds are pinned by tests/test_plan_shapes.py instead.)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from roapi_spark.plans.registry import load_all  # noqa: E402
from roapi_spark.session import get_spark  # noqa: E402


def shape_summary(plan: str) -> str:
    counts = {
        "BroadcastHashJoin": len(re.findall(r"BroadcastHashJoin", plan)),
        "SortMergeJoin": len(re.findall(r"SortMergeJoin", plan)),
        "Exchange": len(re.findall(r"Exchange (?:hash|range|Single)", plan)),
        "FileScan": len(re.findall(r"FileScan", plan)),
        "WholeStageCodegen": len(re.findall(r"WholeStageCodegen", plan)),
        "TakeOrderedAndProject": len(re.findall(r"TakeOrderedAndProject", plan)),
        "mapInPandas": len(re.findall(r"MapInPandas", plan)),
    }
    return ", ".join(f"{k}={v}" for k, v in counts.items() if v)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("dump_plans")
    specs = load_all()
    out = [
        "# Physical plans (generated by tools/dump_plans.py — do not edit)",
        "",
        f"Source data: `{sf_dir}`. One section per registered query; the summary",
        "line counts the plan's join strategies, exchanges and scans.",
        "",
    ]
    for name in sorted(specs):
        df = specs[name].builder(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        out.append(f"## {name}")
        out.append("")
        out.append(f"**shape:** {shape_summary(plan)}")
        out.append("")
        out.append("```")
        out.append(plan.rstrip())
        out.append("```")
        out.append("")
        print(f"# {name}: {shape_summary(plan)}", file=sys.stderr)
    dest = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs", "PLANS.md")
    with open(dest, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {dest}", file=sys.stderr)


if __name__ == "__main__":
    main()
