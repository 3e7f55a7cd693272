"""Dump .explain(formatted) for every registered query → PLANS.md and
run mechanical plan checks (pushdown, broadcast, codegen coverage).

Usage: python scripts/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from icecube_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])  # optional key subset (plan-attribution runs)
    spark = get_spark("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# PLANS — physical plan audit",
        "",
        f"`.explain(formatted)` for every registered query at {sf_dir},",
        "with mechanical checks: scans column-pruned + filter-pushed,",
        "dimension joins broadcast, codegen present in the hot path.",
        "",
    ]
    for name, fn in entry_mod.queries().items():
        if only and name not in only:
            continue
        # marker interleaves with JVM log lines so codegen-fallback
        # ERRORs attribute to a key (see round-6 Janino hunt)
        print(f"== {name}", file=sys.stderr, flush=True)
        df = fn(spark, sf_dir)
        # execute first: under AQE the pre-execution plan is a stub
        # (isFinalPlan=false) with no codegen annotation — only the
        # final plan shows real exchanges, join strategies and codegen.
        # collect() (not write()) so the DataFrame's own cached
        # QueryExecution is the one that gets finalized in place
        df.collect()
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        checks = []
        if "PushedFilters: [" in plan:
            pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
            n_nonempty = sum(1 for p in pushed if p.strip())
            checks.append(f"pushed-filter scans: {n_nonempty}/{len(pushed)}")
        if "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan:
            checks.append("broadcast join: yes")
        if "SortMergeJoin" in plan:
            checks.append("sort-merge join: yes")
        # formatted mode tags nodes "[codegen id : N]" rather than
        # printing WholeStageCodegen wrappers
        wsc = len(set(re.findall(r"codegen id : (\d+)", plan)))
        checks.append(f"codegen spans: {wsc}")
        if wsc == 0:
            checks.append("WARN no codegen")
        lines += [f"## {name}", "", f"_{'; '.join(checks)}_", "", "```", plan.rstrip(), "```", ""]
    out = "PLANS_partial.md" if only else "PLANS.md"
    with open(out, "w") as f:
        f.write("\n".join(lines))
    n = len(only) if only else len(entry_mod.queries())
    print(f"wrote {out} ({n} queries)")


if __name__ == "__main__":
    main()
