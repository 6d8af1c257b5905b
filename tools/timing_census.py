"""Full-registry end-to-end timing census (VERDICT r8 #7 cadence:
r6 / r10 / r13 — runnable any round for outlier HUNTING).

    python tools/timing_census.py [sf_dir] [reps]

Times EVERY registered query (construct + collect, warm best-of-N by
``sweep.best_of`` with no extra reps, DataFrame rebuilt per rep —
.count() lets Catalyst prune work and re-collecting one DataFrame
object reuses shuffles; round-8 lesson) and prints a line per query, a
sorted summary and one JSON line. This is a hunting aid, not a gate:
excursions vs a family floor need the settle-and-rerun protocol
(BASELINE.md variance rule) before anyone chases them. Expect the whole sweep to LOAD the host — never read a
bench that shared the host with it."""

from __future__ import annotations

import argparse
import json
import os
import sys

import sweep


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument(
        "sf_dir", nargs="?", default="/root/testdata/sf0.1",
        help="testdata dir (default sf0.1)",
    )
    parser.add_argument(
        "reps", nargs="?", type=int, default=2, help="best-of-N reps"
    )
    cli = parser.parse_args()  # unknown flags error instead of running
    sf_dir, reps = cli.sf_dir, cli.reps
    if not os.path.isdir(sf_dir):
        parser.error(f"not a directory: {sf_dir}")
    if reps < 1:
        # reps=0 would record every query as Infinity (an invalid JSON
        # token) without touching the errors map (review r13)
        parser.error(f"reps must be >= 1, got {reps}")

    from cs_tutorial_reporting_spark.queries import QUERIES
    from cs_tutorial_reporting_spark.session import get_spark

    spark = get_spark(app_name="timing_census")
    spark.range(1000).selectExpr("sum(id)").collect()
    out: dict[str, float] = {}
    # failures live in their OWN map — a -1.0 sentinel inside
    # "timings" would win any downstream min()/floor computation
    # (ADVICE r12)
    errors: dict[str, str] = {}
    for name, q in QUERIES.items():
        try:
            run = lambda: q.fn(spark, sf_dir).collect()
            best, _ = sweep.best_of(lambda _: {name: sweep.timed(run)}, reps, 0)
            out.update(best)
            print(f"{out[name]:8.3f}  {name}", flush=True)
        except Exception as e:  # noqa: BLE001
            errors[name] = str(e)[:200]
            print(f"     ERR  {name}: {str(e)[:100]}", flush=True)
    ranked = sorted(out.items(), key=lambda kv: -kv[1])
    print("\nslowest 25:")
    for name, sec in ranked[:25]:
        print(f"  {sec:8.3f}  {name}")
    if errors:
        print(f"\n{len(errors)} FAILED: {sorted(errors)}")
    print(
        json.dumps(
            {"sf_dir": sf_dir, "reps": reps, "timings": out, "errors": errors}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
