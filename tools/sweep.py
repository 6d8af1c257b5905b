"""One measurement core for ``bench.py`` and the query sweeps in ``tools/``.

It holds the four decisions those sweeps share:

- which queries make the bench board (``board_names``);
- the steal-clean best-of-N timing rule (``timed``, ``best_of``);
- how a plan is captured (``formatted_plan``);
- how a Spark result is compared with its DuckDB oracle (``duck_views``,
  ``compare``, ``oracle_sweep``).

Importing this module puts the checkout that holds it first on
``sys.path`` and on the ``PYTHONPATH`` that Spark's Python workers
inherit, so a tool run from any copy of the repository, from any
directory, imports and checks that copy's engine in the main process
and in its UDF workers alike.
"""

from __future__ import annotations

import datetime as dt
import io
import math
import os
import sys
import time
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p
)

#: Board rows without the registry's ``bench`` flag, which would pin them
#: in the 50-query correctness window for good; these rotate through the
#: window like any other query.
BOARD_ENTRANTS = (
    "hll_portable_distinct",
    "bloom_prefilter_semi",
    "prefix_filter_jaccard_pairs",
    "pagerank_event_graph",
    "skyline_orders_2d",
    "triangle_count_copurchase",
    "kcore_copurchase",
    "dedup_incremental_new_batch",
    "bitmap_retention_days",
    "dedup_substring_spans",
    "semdedup_prune_report",
    "doc_topgram_repetition",
    "theilsen_slope_hourly",
    "ks_value_drift",
    "knn_label_agreement",
    "dbscan_embedding_clusters",
    "unigram_em_refine",
    "item_similarity_topk",
)


def board_names(queries) -> list[str]:
    """The bench board's query rows: the registry's ``bench=True`` rows in
    registry order, then ``BOARD_ENTRANTS``."""
    return [n for n, q in queries.items() if q.bench] + list(BOARD_ENTRANTS)


def pick(names, registry, default) -> list[str]:
    """The named queries in registry order, or ``default`` when no name is
    given. An unknown name exits 2: a typo must not sweep nothing and
    print a green summary."""
    unknown = sorted(set(names) - set(registry))
    if unknown:
        print(f"ERROR: unknown query names: {unknown}", file=sys.stderr)
        raise SystemExit(2)
    chosen = set(names)
    return [n for n in registry if n in chosen] or list(default)


#: A rep is clean when the hypervisor steal that accrued while it ran
#: stays under this many jiffies per second (about 0.6% of 32 CPUs).
#: Steal only ever slows a rep, so the extra reps a row without a clean
#: rep gets can lower its minimum toward the code's floor, never below.
STEAL_CLEAN_RATE = 20.0


def steal_jiffies() -> int | None:
    """Hypervisor steal of the whole machine so far, in jiffies from
    /proc/stat; None where it cannot be read."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, ValueError, IndexError):
        return None


def timed(fn) -> tuple[float, bool]:
    """Run ``fn()`` once: (wall seconds, whether the rep ran clean)."""
    st0, t0 = steal_jiffies(), time.perf_counter()
    fn()
    elapsed = time.perf_counter() - t0
    st1 = steal_jiffies()
    return elapsed, (
        st0 is None
        or st1 is None
        or st1 - st0 <= STEAL_CLEAN_RATE * max(elapsed, 0.05)
    )


def best_of(rep, reps: int, extra: int) -> tuple[dict[str, float], int]:
    """Min wall seconds per row over the executed reps.

    ``rep(i)`` runs rep ``i`` and returns ``{row: timed(...)}``. After
    ``reps`` reps, up to ``extra`` more run while some row has no clean
    rep. Returns each row's minimum rounded to ms, and the number of
    extra reps that ran."""
    best: dict[str, float] = {}
    clean: dict[str, bool] = {}
    i = 0
    while i < reps or (i < reps + extra and not all(clean.values())):
        for row, (sec, ok) in rep(i).items():
            best[row] = min(best.get(row, math.inf), sec)
            clean[row] = clean.get(row, False) or ok
        i += 1
    return {row: round(sec, 3) for row, sec in best.items()}, i - reps


def formatted_plan(df) -> str:
    """``df.explain("formatted")`` as a string."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def duck_views(sf_dir: str):
    """A DuckDB connection with one view per testdata table in ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon(v) -> str:
    """Canonical string for one pandas-native cell (mirrors the correctness
    gate: value repr after the pandas round-trip, so int64 5 != float64 5.0)."""
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "NULL"  # pandas renders SQL NULL in float cols as NaN
        return repr(f + 0.0 if f != 0 else 0.0)
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        d = (
            v.to_pydatetime() if isinstance(v, pd.Timestamp) else v
        ).replace(tzinfo=None)
        # DATE columns round-trip as midnight datetime64 in fetchdf but
        # as datetime.date from Spark — normalize midnights to date form
        if (d.hour, d.minute, d.second, d.microsecond) == (0, 0, 0, 0):
            return d.date().isoformat()
        return d.isoformat(timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def canon_frame(pdf) -> list[tuple[str, ...]]:
    """Gate-parity canonical rows: sort columns by name, sort rows by
    every column via pandas (raises on unsortable cells — by design:
    the gate's canonicalizer does too), then stringify cells."""
    pdf = pdf[sorted(pdf.columns)]
    pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    return [tuple(_canon(v) for v in row) for row in pdf.itertuples(index=False)]


def compare(spdf, ddf) -> list[str]:
    """How a Spark result (pandas) differs from its DuckDB oracle's, as
    the correctness gate sees it: column names, row count, then the
    order-insensitive canonical values. Empty when they match."""
    problems = []
    if sorted(spdf.columns) != sorted(ddf.columns):
        problems.append(
            f"cols spark={sorted(spdf.columns)} duck={sorted(ddf.columns)}"
        )
    if len(spdf) != len(ddf):
        problems.append(f"rowcount spark={len(spdf)} duck={len(ddf)}")
    if problems:
        return problems
    try:
        a, b = canon_frame(spdf), canon_frame(ddf)
    except Exception as e:  # noqa: BLE001
        return [f"canonicalizer crash (the gate would crash too): {e!r}"]
    if a == b:
        return []
    return [f"values differ, first diffs: {[d for d in zip(a, b) if d[0] != d[1]][:3]}"]


def oracle_sweep(spark, sf_dir: str, names, queries, oracles) -> list[str]:
    """Check each named query against its oracle at ``sf_dir``, printing
    one pass/FAIL line per query. A query without an oracle is checked
    for running only (``pass*``). Returns the failed names."""
    con = duck_views(sf_dir)
    failed = []
    for name in names:
        try:
            spdf = queries[name](spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            problems = [f"spark error: {e}"]
        else:
            sql = oracles.get(name)
            if sql is None:
                print(f"pass* {name}: rows-only ({len(spdf)} rows)", flush=True)
                continue
            try:
                problems = compare(spdf, con.sql(sql).fetchdf())
            except Exception as e:  # noqa: BLE001
                problems = [f"duckdb error: {e}"]
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems), flush=True)
            failed.append(name)
        else:
            print(f"pass  {name} ({len(spdf)} rows)", flush=True)
    return failed
