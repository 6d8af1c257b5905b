"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry against its ``oracle_sql()`` DuckDB
equivalent at a given sf dir and compares row-count, column names, and an
order-insensitive canonical value multiset. Run before every commit:

    python tools/check_oracle.py [sf_dir] [query ...]

Canonicalization parity (``sweep.compare``): the gate compares PANDAS
frames — ``df.toPandas()`` vs duckdb ``fetchdf()`` — sorted by every
column. That path is what we replicate here, because it exposes two
failure modes a tuple-level compare hides:

- dtype divergence: DuckDB ``sum(BIGINT)`` → HUGEINT → pandas float64
  (``124750.0``) vs Spark int64 (``124750``) hashes differently even
  when values are equal;
- unsortable cells: array columns crash ``sort_values`` (``unhashable
  type: 'list'``), so a query returning arrays records no result at all.
"""

from __future__ import annotations

import sys

import sweep


def main(sf_dir: str, only: set[str]) -> int:
    import __spark_entry__ as mod
    import cs_tutorial_reporting_spark
    from cs_tutorial_reporting_spark.session import get_spark

    print(f"engine: {cs_tutorial_reporting_spark.__file__}")
    qs = mod.queries()
    names = sweep.pick(only, qs, qs)
    spark = get_spark(app_name="check_oracle")
    failed = sweep.oracle_sweep(spark, sf_dir, names, qs, mod.oracle_sql())
    print(f"\n{len(names) - len(failed)}/{len(names)} queries match at {sf_dir}")
    return 1 if failed else 0


if __name__ == "__main__":
    # names may arrive space-separated, comma-separated, or prefixed
    # with --only
    raw = [a for a in sys.argv[2:] if a != "--only"]
    sys.exit(
        main(
            sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01",
            {n for a in raw for n in a.split(",") if n},
        )
    )
