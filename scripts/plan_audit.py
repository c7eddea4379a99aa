"""Generate PLAN_AUDIT.md: one plan-feature row per batch contract query.

Executes every non-streaming ``queries()`` entry at the given scale
factor and extracts the plan features the 100 TB design cares about:
scans with pushed filters, broadcast vs sort-merge joins, exchange
count, nested-loop/cartesian occurrences, and whole-stage-codegen
span count. The output table is the regenerable evidence behind
PERFORMANCE.md §1 — rerun after operator changes::

    python scripts/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from perfbench.tree import pin

    # the Python workers import the package too, from any working directory
    pin(ROOT)
    from flink_commons_spark import catalog
    from flink_commons_spark.session import get_session

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    spark = get_session(app_name="fcs-plan-audit", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for name, fn in catalog.QUERIES.items():
        if name.startswith("stream_"):
            continue  # streaming plans are pipelines, not single plans
        try:
            df = fn(spark, sf_dir)
            # AQE: codegen markers only exist in the FINAL plan, and only
            # THIS df's own execution finalizes it (count() plans separately)
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            # the adaptive final-plan string appends the pre-AQE plan
            # under "== Initial Plan ==" — audit only the final one
            plan = plan.split("== Initial Plan ==")[0]
        except Exception as exc:
            rows.append((name, f"ERROR: {exc}", "", "", "", "", "", ""))
            continue
        pushed = len(re.findall(r"PushedFilters: \[(?!\])", plan))
        scans = plan.count("FileScan")
        bhj = plan.count("BroadcastHashJoin")
        smj = plan.count("SortMergeJoin")
        exch = plan.count("Exchange")
        nlj = plan.count("BroadcastNestedLoopJoin") + plan.count("CartesianProduct")
        # codegen spans print as `*(n) Operator` in executed-plan strings
        codegen = len(set(re.findall(r"\*\((\d+)\)", plan)))
        rows.append((name, scans, pushed, bhj, smj, exch, nlj, codegen))
        spark.catalog.clearCache()

    out = ROOT / "PLAN_AUDIT.md"
    with out.open("w") as f:
        f.write(
            "# PLAN AUDIT — per-query physical-plan features\n\n"
            f"Generated by `python scripts/plan_audit.py {sf_dir}` "
            "(AQE on, executed plans). An all-zero row means the query's\n"
            "result is EMPTY at this scale factor and AQE collapsed the\n"
            "whole plan to an empty LocalTableScan (empty-relation\n"
            "propagation) — audit those at a larger sf.\n"
            "Columns: parquet scans / scans with pushed filters / "
            "broadcast joins / sort-merge joins / exchanges / "
            "nested-loop+cartesian (allowlisted 1-row scalar or bounded-"
            "probe broadcasts only) / distinct whole-stage-codegen spans.\n\n"
            "| query | scans | pushed | bhj | smj | exch | nlj | codegen |\n"
            "|---|---|---|---|---|---|---|---|\n"
        )
        for r in rows:
            f.write("| " + " | ".join(str(x) for x in r) + " |\n")
    print(f"wrote {out} ({len(rows)} queries)")


if __name__ == "__main__":
    main()
