"""Per-round benchmark harness.

Runs the headline queries (``bench=True`` in the registry) at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

Each query is fully executed (collected — results are small aggregates /
top-k) after a warm-up of the session JVM.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _steal_jiffies():
    # hypervisor steal accrues invisibly to loadavg (r14: a
    # QUIESCED-stamped board read 1.26x lock-step during a
    # neighbor burst — BASELINE.md round-14 note); stamp the
    # run's delta so such boards are adjudicable from the JSON
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, ValueError, IndexError):
        return None


#: a rep is CLEAN when hypervisor steal accrued while it ran stays
#: under this rate (jiffies/s ≈ 0.6% of 32 CPUs) — see the r15
#: steal-aware rep extension note in main()/OPTIMIZATION_r15.md
STEAL_CLEAN_RATE = 20.0


def _rep_clean(st0, st1, elapsed: float) -> bool:
    return (
        st0 is None
        or st1 is None
        or (st1 - st0) <= STEAL_CLEAN_RATE * max(elapsed, 0.05)
    )


def main() -> None:
    # Stamp the host conditions to STDERR (stdout stays exactly the
    # one-JSON-line driver contract): every recorded board's flags are
    # dispositioned against load per the bench variance rule
    # (BASELINE.md rounds 5-13), and boards without a load stamp force
    # that analysis to guess. getloadavg is (1, 5, 15)-minute.
    try:
        la = os.getloadavg()
        print(
            f"bench host load avg: {la[0]:.2f} {la[1]:.2f} {la[2]:.2f}",
            file=sys.stderr,
            flush=True,
        )
    except OSError:
        pass

    steal0 = _steal_jiffies()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from cs_tutorial_reporting_spark.queries import QUERIES
    from cs_tutorial_reporting_spark.session import get_spark

    spark = get_spark(app_name="bench")
    # JVM/codegen warm-up on a trivial action so q1 doesn't pay startup.
    spark.range(1000).selectExpr("sum(id)").collect()

    names = [n for n, q in QUERIES.items() if q.bench] or list(QUERIES)
    # Round-6 continuation: scale-primitive entrants benched WITHOUT the
    # registry bench flag (the 50-slot correctness window is full; the
    # flag would force them into it). Same best-of-4 protocol; new rows
    # are unflagged by bench_compare until they hold a baseline.
    names += [
        n
        for n in (
            "hll_portable_distinct",
            "bloom_prefilter_semi",
            "prefix_filter_jaccard_pairs",
            "pagerank_event_graph",
            "skyline_orders_2d",
            # round-6 fifth/sixth wave: graph + incremental-dedup
            # entrants (same unflagged protocol)
            "triangle_count_copurchase",
            "kcore_copurchase",
            "dedup_incremental_new_batch",
            "bitmap_retention_days",
            # round-6 seventh wave: curation-dedup entrants
            "dedup_substring_spans",
            "semdedup_prune_report",
            "doc_topgram_repetition",
            # round-6 final wave: the statistics block's heaviest
            # member (O(h^2) pair join + grouped exact median) and the
            # two-histogram drift pass
            "theilsen_slope_hourly",
            "ks_value_drift",
            # round-9 (VERDICT r8 #3): the two Arrow all-pairs scorers
            # — the registry's slowest queries before the r8 rewrite
            # (100 s / 16.3 s); benched so a regression in the Arrow
            # matmul path is visible to bench_compare, front-running
            # their r11 window entry
            "knn_label_agreement",
            "dbscan_embedding_clusters",
            # round-10: the unigram EM round — the composite consumer
            # of the new single-pass Arrow segmentation (two
            # viterbi_paths_arrow passes + usage census + re-cost);
            # benched so a regression in the Arrow DP path is visible
            # to bench_compare, front-running its r11 window entry
            "unigram_em_refine",
            # round-11: the explode-symmetrized item-CF rewrite —
            # benched so its timing is visible every round; its
            # clause-(a) correctness re-attestation landed with the
            # r13 window slot (baseline rows exist since r11, so
            # bench_compare flags it normally)
            "item_similarity_topk",
        )
        if n in QUERIES
    ]
    # Steal-aware rep extension (r15 measurement fix, declared in
    # OPTIMIZATION_r15.md): this host suffers recurring hypervisor
    # steal bursts (r14: TEN torn boards in one night; BENCH_r14 was
    # recorded at steal 45,444 jiffies and read as a phantom 0.885x
    # composite "regression" — every flagged row sat at its floor on
    # the quiesced board). A rep is CLEAN when the steal accrued while
    # it ran stays under 20 jiffies/s (~0.6% of 32 CPUs); after the
    # standard best-of-4, a query none of whose reps were clean runs
    # up to 4 extra reps, stopping at the first clean one. The
    # recorded statistic is unchanged — the MIN over all executed
    # reps (steal only ever slows a rep, so extra reps never invent a
    # floor the code cannot reach; every rep is a full computation
    # from parquet). `load.retried_reps` stamps how many extras fired
    # so boards remain adjudicable from the JSON alone.
    n_extra_total = 0
    timings: dict[str, float] = {}
    for name in names:
        fn = QUERIES[name].fn
        # best-of-4: the first execution pays whole-stage-codegen compile
        # and C2 JIT tiering (measured 2-6x the steady state), and timings
        # keep dropping through ~4 reps; best-of-2 sampled that warm-up
        # slope and produced phantom round-over-round "regressions"
        # (r1->r2 dedup_exact_docs +30% with identical code). The min of
        # 4 sits on the steady-state floor.
        best = float("inf")
        any_clean = False
        for rep in range(8):
            if rep >= 4 and any_clean:
                break
            if rep >= 4:
                n_extra_total += 1
            st0 = _steal_jiffies()
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            elapsed = time.perf_counter() - t0
            st1 = _steal_jiffies()
            any_clean = any_clean or _rep_clean(st0, st1, elapsed)
            best = min(best, elapsed)
        timings[name] = round(best, 3)

    build_timings, build_extra = _build_path_benches(spark, sf_dir)
    timings.update(build_timings)
    n_extra_total += build_extra

    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else None
    # The host load stamp rides IN the JSON (r13 verdict item 3): the
    # stderr stamp above is for humans watching live, but the driver
    # records only the JSON line, and a warm board (e.g. BENCH_r13,
    # 71.8 s with semdedup at 4.41 vs 3.35 solo) must be dispositionable
    # from the artifact alone. The settle-protocol gate value is the
    # 15-min load at bench START (`la`, sampled above, before this
    # process's own multi-core work pollutes the average — a quiesced
    # start can read >= 0.5 at end purely from the bench itself, review
    # r14); the end sample is kept as supporting context.
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
        steal1 = _steal_jiffies()
        if steal0 is not None and steal1 is not None:
            payload["load"]["steal_jiffies"] = steal1 - steal0
        payload["load"]["retried_reps"] = n_extra_total
    except (OSError, NameError):
        # NameError: the start-of-run getloadavg raised OSError, so
        # `la` was never bound — no stamp either way
        pass
    print(json.dumps(payload))


def _build_path_benches(spark, sf_dir: str) -> tuple[dict[str, float], int]:
    """Index/layout BUILD paths (round 6): at 100 TB ingest cost
    dominates probe cost, so the write side is benched alongside the
    queries — full residual-IVFPQ layout write (encode + partitioned
    parquet), the incremental append of a small batch (must cost a
    batch's encode, never a rebuild), and the Z-ordered table write
    (range-partition + in-file sort on the interleaved key). Best-of-2:
    writes dominate their own JIT warm-up after one rep, and 4 full
    rewrites per round would double bench wall-time for no extra
    signal. Each rep writes to a fresh tmpdir, removed afterwards.

    r15: the steal-aware rep extension (main()'s note) applies here
    too — a row none of whose standard reps ran clean gets up to 2
    extra reps (4 for the cheap probe rows), stopping at the first
    clean one. Returns (timings, n_extra_reps) so the extras land in
    the board's `load.retried_reps` stamp."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from cs_tutorial_reporting_spark.operators.similarity import (
        build_ivf_centroids,
        build_residual_pq_codebooks,
        write_ivfpq_partitioned,
    )
    from cs_tutorial_reporting_spark.sources.maintenance import write_zordered

    out: dict[str, float] = {}
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    # quantizer training is a bounded driver-side seed selection — part
    # of ingest, timed once as its own row (not amortized into writes)
    t0 = time.perf_counter()
    cents = build_ivf_centroids(e, n_centroids=16, dim=64, lloyd_iters=0)
    books = build_residual_pq_codebooks(e, cents, m=8, ks=16, dim=64)
    out["build_ivfpq_quantizers"] = round(time.perf_counter() - t0, 3)

    batch = e.limit(1000).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    n_extra = 0
    best_w = best_a = float("inf")
    clean_w = clean_a = False
    for rep in range(4):
        if rep >= 2 and clean_w and clean_a:
            break
        if rep >= 2:
            n_extra += 1
        path = tempfile.mkdtemp(prefix="bench_ivfpq_")
        st0 = _steal_jiffies()
        t0 = time.perf_counter()
        write_ivfpq_partitioned(e, path, cents, books)
        tw = time.perf_counter() - t0
        best_w = min(best_w, tw)
        clean_w = clean_w or _rep_clean(st0, _steal_jiffies(), tw)
        st0 = _steal_jiffies()
        t0 = time.perf_counter()
        write_ivfpq_partitioned(batch, path, cents, books, mode="append")
        ta = time.perf_counter() - t0
        best_a = min(best_a, ta)
        clean_a = clean_a or _rep_clean(st0, _steal_jiffies(), ta)
        shutil.rmtree(path, ignore_errors=True)
    out["build_ivfpq_layout_write"] = round(best_w, 3)
    out["build_ivfpq_append_1k"] = round(best_a, 3)

    # Persisted MinHash dedup index (round 7): build / probe / append
    # benched separately — the probe row is the ingest-path answer that
    # dedup_incremental_new_batch's docstring promised (that query
    # recomputes corpus signatures per run because parquet is its only
    # harness input; this one reads the STORED index, so its cost is
    # the batch's signatures + broadcast joins).
    from cs_tutorial_reporting_spark.operators.dedup import (
        append_to_band_index,
        probe_band_index,
        write_band_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    app_batch = corpus.limit(1000).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    best_bw = best_ba = float("inf")
    best_p = best_s = float("inf")
    small = batch.limit(100).localCheckpoint(eager=True)
    clean_w = clean_a = False
    for rep in range(4):
        if rep >= 2 and clean_w and clean_a:
            break
        if rep >= 2:
            n_extra += 1
        path = tempfile.mkdtemp(prefix="bench_bandidx_")
        st0 = _steal_jiffies()
        t0 = time.perf_counter()
        write_band_index(corpus, path, "text", "doc_id")
        tw = time.perf_counter() - t0
        best_bw = min(best_bw, tw)
        clean_w = clean_w or _rep_clean(st0, _steal_jiffies(), tw)
        if rep == 0:
            # probe the clean, pre-append index (the append's synthetic
            # ids would double-count) — reusing this build avoids a
            # third full corpus signature build just for the probes
            p_clean = False
            for prep in range(8):  # probes follow the query best-of-4
                if prep >= 4 and p_clean:
                    break
                if prep >= 4:
                    n_extra += 1
                p0 = _steal_jiffies()
                t0 = time.perf_counter()
                probe_band_index(
                    spark, path, batch, "text", "doc_id"
                ).collect()
                tp = time.perf_counter() - t0
                best_p = min(best_p, tp)
                p_clean = p_clean or _rep_clean(p0, _steal_jiffies(), tp)
            # O(batch) evidence row: a 100-doc arrival must cost a
            # fraction of the 10%-of-corpus probe — probe cost tracks
            # |new|, never |corpus|
            p_clean = False
            for prep in range(8):
                if prep >= 4 and p_clean:
                    break
                if prep >= 4:
                    n_extra += 1
                p0 = _steal_jiffies()
                t0 = time.perf_counter()
                probe_band_index(
                    spark, path, small, "text", "doc_id"
                ).collect()
                tp = time.perf_counter() - t0
                best_s = min(best_s, tp)
                p_clean = p_clean or _rep_clean(p0, _steal_jiffies(), tp)
        st0 = _steal_jiffies()
        t0 = time.perf_counter()
        append_to_band_index(app_batch, path, "text", "doc_id")
        ta = time.perf_counter() - t0
        best_ba = min(best_ba, ta)
        clean_a = clean_a or _rep_clean(st0, _steal_jiffies(), ta)
        shutil.rmtree(path, ignore_errors=True)
    out["build_band_index_write"] = round(best_bw, 3)
    out["build_band_index_append_1k"] = round(best_ba, 3)
    out["dedup_probe_persisted_index"] = round(best_p, 3)
    out["dedup_probe_persisted_100"] = round(best_s, 3)

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_shipdate", "l_quantity"
    )
    best_z = float("inf")
    any_clean = False
    for rep in range(4):
        if rep >= 2 and any_clean:
            break
        if rep >= 2:
            n_extra += 1
        path = tempfile.mkdtemp(prefix="bench_zorder_")
        st0 = _steal_jiffies()
        t0 = time.perf_counter()
        write_zordered(li, path, ["l_partkey", "l_suppkey"], n_files=8)
        tz = time.perf_counter() - t0
        best_z = min(best_z, tz)
        any_clean = any_clean or _rep_clean(st0, _steal_jiffies(), tz)
        shutil.rmtree(path, ignore_errors=True)
    out["build_zordered_write"] = round(best_z, 3)

    # Deletion-vector lifecycle (r12 entrant; the DV query block is
    # REGISTERED since r13 per SURVEY §16): snapshot write + positional delete
    # + chain-resolving read. The delete must cost rows-DELETED (DV
    # positions only), never a table rewrite — the row is the ingest
    # side of the versioned-table story. Setup and predicate come from
    # queries_dv's FROZEN design (one definition; an edit there must
    # move this baseline too, not silently decouple it — review r12).
    from cs_tutorial_reporting_spark.queries_dv import (
        P1,
        _fresh_versioned_orders,
    )
    from cs_tutorial_reporting_spark.sources.versioned import (
        delete_where,
        read_version,
    )

    best_dv = float("inf")
    any_clean = False
    for rep in range(4):
        if rep >= 2 and any_clean:
            break
        if rep >= 2:
            n_extra += 1
        st0 = _steal_jiffies()
        t0 = time.perf_counter()
        path = _fresh_versioned_orders(spark, sf_dir)
        delete_where(spark, path, P1)
        read_version(spark, path).count()
        td = time.perf_counter() - t0
        best_dv = min(best_dv, td)
        any_clean = any_clean or _rep_clean(st0, _steal_jiffies(), td)
        shutil.rmtree(path, ignore_errors=True)
    out["build_dv_delete"] = round(best_dv, 3)
    return out, n_extra


if __name__ == "__main__":
    main()
