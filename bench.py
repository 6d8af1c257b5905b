"""Per-round benchmark harness.

Times the bench board (``tools/sweep.py::board_names``) and the build rows at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1, "load": {...}}

Each row is the min wall seconds over its executed reps under
``sweep.best_of``'s steal-clean rule. Every rep is a full computation
from parquet; query rows are collected (results are small aggregates /
top-k) after a warm-up of the session JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

from tools.sweep import best_of, board_names, steal_jiffies, timed


def main() -> None:
    # Stamp the host conditions to STDERR (stdout stays exactly one JSON
    # line); getloadavg is (1, 5, 15)-minute.
    try:
        la = os.getloadavg()
        print(
            f"bench host load avg: {la[0]:.2f} {la[1]:.2f} {la[2]:.2f}",
            file=sys.stderr,
            flush=True,
        )
    except OSError:
        pass

    steal0 = steal_jiffies()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from cs_tutorial_reporting_spark.queries import QUERIES
    from cs_tutorial_reporting_spark.session import get_spark

    spark = get_spark(app_name="bench")
    # JVM/codegen warm-up on a trivial action so q1 doesn't pay startup.
    spark.range(1000).selectExpr("sum(id)").collect()

    timings: dict[str, float] = {}
    retried = 0

    def run(rep, reps: int, extra: int) -> None:
        nonlocal retried
        best, n_extra = best_of(rep, reps, extra)
        timings.update(best)
        retried += n_extra

    # best-of-4 (+4 while no rep ran clean): the first execution pays
    # whole-stage-codegen compile and C2 JIT tiering (2-6x the steady
    # state), and timings keep dropping through ~4 reps.
    for name in board_names(QUERIES):
        fn = QUERIES[name].fn
        run(lambda _: {name: timed(lambda: fn(spark, sf_dir).collect())}, 4, 4)
    _build_rows(spark, sf_dir, run)

    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else None
    # The load stamp rides in the JSON so a board is judged from the
    # artifact alone: the 15-min load at START (before this process's
    # own work raises it), the end sample, the steal accrued over the
    # run and how many extra reps the steal-clean rule ran.
    payload = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    try:
        la_end = os.getloadavg()
        payload["load"] = {
            "load_1m": round(la[0], 2),
            "load_15m": round(la[2], 2),
            "load_1m_end": round(la_end[0], 2),
            "load_15m_end": round(la_end[2], 2),
        }
        steal1 = steal_jiffies()
        if steal0 is not None and steal1 is not None:
            payload["load"]["steal_jiffies"] = steal1 - steal0
        payload["load"]["retried_reps"] = retried
    except (OSError, NameError):
        # NameError: the start-of-run getloadavg raised OSError, so
        # `la` was never bound — no stamp either way
        pass
    print(json.dumps(payload))


def _build_rows(spark, sf_dir: str, run) -> None:
    """Index/layout BUILD rows: at 100 TB ingest cost dominates probe
    cost, so the write side is benched alongside the queries. Quantizer
    training is timed once; every other build row is best-of-2 (+2
    while no rep ran clean), since writes dominate their own JIT warm-up
    after one rep. Each rep writes to a fresh tmpdir, removed afterwards.
    The probes of the persisted band index follow the query rule."""
    from pyspark.sql import functions as F

    from cs_tutorial_reporting_spark.operators.dedup import (
        append_to_band_index,
        probe_band_index,
        write_band_index,
    )
    from cs_tutorial_reporting_spark.operators.similarity import (
        build_ivf_centroids,
        build_residual_pq_codebooks,
        write_ivfpq_partitioned,
    )
    from cs_tutorial_reporting_spark.queries_dv import P1, _fresh_versioned_orders
    from cs_tutorial_reporting_spark.sources.maintenance import write_zordered
    from cs_tutorial_reporting_spark.sources.versioned import delete_where, read_version

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = books = None

    def train() -> None:
        nonlocal cents, books
        cents = build_ivf_centroids(e, n_centroids=16, dim=64, lloyd_iters=0)
        books = build_residual_pq_codebooks(e, cents, m=8, ks=16, dim=64)

    run(lambda _: {"build_ivfpq_quantizers": timed(train)}, 1, 0)
    vec_batch = e.limit(1000).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )

    def ivfpq(_):
        path = tempfile.mkdtemp(prefix="bench_ivfpq_")
        out = {
            "build_ivfpq_layout_write": timed(
                lambda: write_ivfpq_partitioned(e, path, cents, books)
            ),
            "build_ivfpq_append_1k": timed(
                lambda: write_ivfpq_partitioned(
                    vec_batch, path, cents, books, mode="append"
                )
            ),
        }
        shutil.rmtree(path, ignore_errors=True)
        return out

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    app_batch = corpus.limit(1000).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    small = batch.limit(100).localCheckpoint(eager=True)

    def band_index(i):
        path = tempfile.mkdtemp(prefix="bench_bandidx_")
        out = {
            "build_band_index_write": timed(
                lambda: write_band_index(corpus, path, "text", "doc_id")
            )
        }
        if i == 0:
            # Probe the first rep's index before its append (the append's
            # synthetic ids would double-count); reusing this build saves
            # a third corpus signature build. The 100-doc probe shows the
            # cost tracks |new|, never |corpus|.
            for row, new in (
                ("dedup_probe_persisted_index", batch),
                ("dedup_probe_persisted_100", small),
            ):
                probe = lambda: probe_band_index(
                    spark, path, new, "text", "doc_id"
                ).collect()
                run(lambda _: {row: timed(probe)}, 4, 4)
        out["build_band_index_append_1k"] = timed(
            lambda: append_to_band_index(app_batch, path, "text", "doc_id")
        )
        shutil.rmtree(path, ignore_errors=True)
        return out

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_shipdate", "l_quantity"
    )

    def zorder(_):
        path = tempfile.mkdtemp(prefix="bench_zorder_")
        out = {
            "build_zordered_write": timed(
                lambda: write_zordered(li, path, ["l_partkey", "l_suppkey"], n_files=8)
            )
        }
        shutil.rmtree(path, ignore_errors=True)
        return out

    def dv_delete(_):
        # snapshot write + positional delete + chain-resolving read, with
        # queries_dv's setup and predicate: the delete must cost the rows
        # deleted, never a table rewrite
        path = None

        def cycle() -> None:
            nonlocal path
            path = _fresh_versioned_orders(spark, sf_dir)
            delete_where(spark, path, P1)
            read_version(spark, path).count()

        out = {"build_dv_delete": timed(cycle)}
        shutil.rmtree(path, ignore_errors=True)
        return out

    for rep in (ivfpq, band_index, zorder, dv_delete):
        run(rep, 2, 2)


if __name__ == "__main__":
    main()
