"""Driver-twin window check — the de-risk pass a rotation runs BEFORE
its first driver encounter.

The engine's own gates (tools/check_oracle.py, pytest) run on
`session.get_spark()` — UTC pin, AQE knobs, 8g heap, 32 shuffle
partitions. The ROUND DRIVER builds its own PLAIN SparkSession. A
freshly-promoted window query has green rows only under the engine
session; this tool replays the checked window (or named queries)
under a bare-default session and compares against DuckDB with the
same compare as check_oracle (``sweep.oracle_sweep``), so a
session-config sensitivity (timezone, ANSI, arrow batch size, shuffle
width) surfaces locally instead of as a red CORRECTNESS row.

    python tools/plain_session_check.py [sf_dir] [query ...]

Defaults: sf_dir=/root/testdata/sf0.01 (the driver's correctness SF),
queries = the first `_CHECK_WINDOW` registry entries.
"""

from __future__ import annotations

import os
import sys

import sweep


def main(sf_dir: str, only: list[str]) -> int:
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    import __spark_entry__ as mod
    from cs_tutorial_reporting_spark.queries import _CHECK_WINDOW

    # getOrCreate() silently REUSES any already-active session with its
    # existing config — invoked from a process holding a get_spark()
    # session, the "plain driver-twin" replay would quietly test the
    # engine config instead. Process isolation is a hard requirement;
    # fail loudly rather than report a vacuous pass. Checked
    # PROCESS-WIDE, not just thread-local: getActiveSession() reads a
    # thread-local, but getOrCreate() falls back to
    # SparkSession._instantiatedSession (any thread), so a session
    # built elsewhere — or clearActiveSession()'d — would still be
    # reused with its non-plain config.
    if (
        SparkSession.getActiveSession() is not None
        or getattr(SparkSession, "_instantiatedSession", None) is not None
        or SparkContext._active_spark_context is not None
    ):
        print(
            "ERROR: a SparkSession/SparkContext already exists in this"
            " process — run plain_session_check.py in its own process"
            " so the plain driver-twin config actually applies"
        )
        return 2

    qs = mod.queries()
    names = sweep.pick(only, qs, list(qs)[:_CHECK_WINDOW])
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        # heap only — everything else stays at Spark defaults, like the
        # driver's session (1g OOMs sf0.1; harmless at sf0.01)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        .getOrCreate()
    )
    failed = sweep.oracle_sweep(spark, sf_dir, names, qs, mod.oracle_sql())
    print(
        f"{len(names) - len(failed)}/{len(names)} plain-session match"
        + (f"; failed: {failed}" if failed else f" at {sf_dir}")
    )
    return 1 if failed else 0


if __name__ == "__main__":
    args = sys.argv[1:]
    sf = args[0] if args else "/root/testdata/sf0.01"
    sys.exit(main(sf, args[1:]))
