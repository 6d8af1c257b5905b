"""Physical-plan audit for the headline queries.

Prints, per bench query, the scale-relevant facts a plan reviewer checks
(SURVEY §4, prompt "Optimize for scale"):

- parquet scans: pushed filters + read schema width (column pruning)
- join strategies (broadcast vs shuffled; build side)
- exchange (shuffle) count
- WholeStageCodegen span count vs total physical operators

Usage: python tools/explain_audit.py [sf_dir] [query ...]
Exit is always 0 — this is a review aid, not a gate; regressions are
caught by eye-balling the summary table and the per-query detail.

Caveat: with AQE on, un-executed plans print as AdaptiveSparkPlan
(isFinalPlan=false) whose operators carry no ``codegen id`` annotations
yet — a 0 in the codegen column means "not shown", not "interpreted";
runtime stages do get whole-stage codegen.
"""

from __future__ import annotations

import re
import sys

import sweep


def audit(name: str, plan: str) -> dict:
    # "(N) Op" detail headers appear exactly once per physical operator;
    # the ASCII tree at the top would double-count.
    ops = re.findall(r"^\(\d+\) ([A-Za-z]+[A-Za-z ]*?)(?: \[codegen id : \d+\])?$",
                     plan, re.M)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    read_schema = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    return {
        "query": name,
        "scans": sum(1 for o in ops if o.startswith("Scan parquet")),
        "pushed_filters": sum(1 for p in pushed if p.strip()),
        "scan_cols": [len([c for c in s.split(",") if ":" in c]) for s in read_schema],
        "broadcast_joins": sum(
            1 for o in ops if o.startswith(("BroadcastHashJoin", "BroadcastNestedLoopJoin"))
        ),
        "shuffle_joins": sum(
            1 for o in ops if o.startswith(("SortMergeJoin", "ShuffledHashJoin"))
        ),
        "exchanges": sum(1 for o in ops if o == "Exchange"),
        "codegen_spans": len(set(re.findall(r"\[codegen id : (\d+)\]", plan))),
        "ops": len(ops),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]

    from cs_tutorial_reporting_spark.queries import QUERIES
    from cs_tutorial_reporting_spark.session import get_spark

    # explicit names audit ANY registered query; default = bench set
    names = sweep.pick(only, QUERIES, [n for n, q in QUERIES.items() if q.bench])
    spark = get_spark(app_name="explain_audit")
    rows = []
    details = []
    for name in names:
        plan = sweep.formatted_plan(QUERIES[name].fn(spark, sf_dir))
        rows.append(audit(name, plan))
        details.append((name, plan))

    hdr = f"{'query':34} scans pushed broadcast shufjoin exch codegen/ops scan_cols"
    print(hdr)
    print("-" * len(hdr))
    for r in rows:
        print(
            f"{r['query']:34} {r['scans']:5} {r['pushed_filters']:6} "
            f"{r['broadcast_joins']:9} {r['shuffle_joins']:8} {r['exchanges']:4} "
            f"{r['codegen_spans']:3}/{r['ops']:<7} {r['scan_cols']}"
        )
    if only:
        for name, plan in details:
            print(f"\n{'=' * 70}\n{name}\n{'=' * 70}\n{plan}")


if __name__ == "__main__":
    main()
