"""[EXT] operator unit tests — properties the SQL oracle can't express:
LSH recall, approximate-vs-exact agreement, streaming equivalence,
stub contracts."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from cs_tutorial_reporting_spark.sources.readers import load_table

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMOKE, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings").cache()


def test_exact_dedup_removes_planted_duplicates(spark, docs):
    from cs_tutorial_reporting_spark.operators.dedup import exact_dedup

    d = docs.select("doc_id", "text")
    doubled = d.unionByName(
        d.select((F.col("doc_id") + 10_000).alias("doc_id"), "text")
    )
    kept = exact_dedup(doubled, "text", "doc_id")
    assert kept.count() == d.count()
    # deterministic: always the lower id
    assert kept.filter(F.col("doc_id") >= 10_000).count() == 0


def test_minhash_flags_planted_near_duplicate(spark, docs):
    """A doc with one word changed out of ~100 has Jaccard ≈ .94 —
    minhash-LSH must surface the pair."""
    from cs_tutorial_reporting_spark.operators.dedup import minhash_lsh_pairs

    base = docs.select("doc_id", "text").limit(20)
    mutated = base.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" mutatedtail")).alias("text"),
    )
    pairs = minhash_lsh_pairs(
        base.unionByName(mutated), "text", "doc_id", jaccard_threshold=0.5
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    planted = {(r.doc_id, r.doc_id + 1000) for r in base.collect()}
    # banded LSH with 4 bands of 2 at j≈0.9+: expected detection ≈ 1
    assert len(found & planted) >= int(0.9 * len(planted))
    for r in pairs:
        assert 0.0 <= r.jaccard <= 1.0


def test_minhash_presigned_bitwise_equals_inline(spark):
    """minhash_sign + presigned banding must be BIT-IDENTICAL — ids
    AND rounded jaccard — to the inline minhash_lsh_pairs path, for
    BOTH bandings of the same signature (the lsh_recall_audit shape:
    sign once, band twice). Both paths run one shared body, which
    signs inline or takes the presigned frame; this pins that the two
    inputs give the same pairs."""
    from cs_tutorial_reporting_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_sign,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    signed = minhash_sign(docs, "text", "doc_id", num_hashes=8, shingle_n=3)
    for band_size in (2, 4):
        inline = {
            (r.id_a, r.id_b, r.jaccard)
            for r in minhash_lsh_pairs(
                docs, "text", "doc_id",
                num_hashes=8, band_size=band_size, jaccard_threshold=0.6,
            ).collect()
        }
        pre = {
            (r.id_a, r.id_b, r.jaccard)
            for r in minhash_lsh_pairs(
                docs, "text", "doc_id",
                num_hashes=8, band_size=band_size, jaccard_threshold=0.6,
                presigned=signed,
            ).collect()
        }
        assert inline == pre and inline, (band_size, len(inline), len(pre))


def test_minhash_multiband_equals_per_leg_presigned(spark):
    """minhash_lsh_pairs_multiband filtered to one tag must be
    BIT-IDENTICAL — ids AND rounded jaccard — to the per-leg
    presigned path for EVERY banding in the spec (the r14
    lsh_recall_audit fusion: one leg-tagged banding pipeline instead
    of K). Both paths band one signed frame through the same
    ``_band_rows``/``_buckets``/``_bucket_pairs``/``_jaccard`` helpers;
    this pins that every tag's slice equals its own leg."""
    from cs_tutorial_reporting_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_multiband,
        minhash_sign,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    signed = minhash_sign(docs, "text", "doc_id", num_hashes=8, shingle_n=3)
    tagged = minhash_lsh_pairs_multiband(
        signed,
        num_hashes=8,
        band_specs={"4x2": 2, "2x4": 4},
        jaccard_threshold=0.6,
        shingle_n=3,
    ).collect()
    for tag, band_size in (("4x2", 2), ("2x4", 4)):
        multi = {
            (r.id_a, r.id_b, r.jaccard) for r in tagged if r["__tag"] == tag
        }
        per_leg = {
            (r.id_a, r.id_b, r.jaccard)
            for r in minhash_lsh_pairs(
                docs, "text", "doc_id",
                num_hashes=8, band_size=band_size, jaccard_threshold=0.6,
                presigned=signed,
            ).collect()
        }
        assert multi == per_leg and multi, (tag, len(multi), len(per_leg))


def test_minhash_presigned_param_mismatch_raises(spark):
    """minhash_lsh_pairs(presigned=) must REFUSE a signed frame built
    with different sign parameters (ADVICE r9): a shingle_n mismatch
    previously produced wrong pairs silently, and a smaller num_hashes
    silently banded a prefix of a wider signature."""
    import pytest as _pytest

    from cs_tutorial_reporting_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_sign,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    signed = minhash_sign(docs, "text", "doc_id", num_hashes=8, shingle_n=3)
    # shingle_n mismatch: previously the silent wrong-pairs case
    with _pytest.raises(ValueError, match="shingle_n=3"):
        minhash_lsh_pairs(
            docs, "text", "doc_id", num_hashes=8, shingle_n=5, presigned=signed
        )
    # num_hashes smaller than signed: previously banded a prefix silently
    with _pytest.raises(ValueError, match="num_hashes"):
        minhash_lsh_pairs(
            docs, "text", "doc_id", num_hashes=4, presigned=signed
        )
    # num_hashes larger than signed: missing __mh columns, loud already
    with _pytest.raises(ValueError, match="num_hashes"):
        minhash_lsh_pairs(
            docs, "text", "doc_id", num_hashes=16, presigned=signed
        )
    # an arbitrary frame is not a signed frame
    with _pytest.raises(ValueError, match="minhash_sign"):
        minhash_lsh_pairs(docs, "text", "doc_id", presigned=docs)
    # an un-stamped but column-shaped frame (pre-r10 signed frame)
    with _pytest.raises(ValueError, match="stamp"):
        minhash_lsh_pairs(
            docs, "text", "doc_id", num_hashes=8,
            presigned=signed.select(
                "__id", F.col("__sh").alias("__sh", metadata={}),
                *[f"__mh{j}" for j in range(8)],
            ),
        )
    # matching params still pass validation (smoke, no full collect)
    out = minhash_lsh_pairs(
        docs, "text", "doc_id", num_hashes=8, shingle_n=3, presigned=signed
    )
    assert out.columns == ["id_a", "id_b", "jaccard"]


def test_minhash_identical_docs_always_pair(spark, docs):
    from cs_tutorial_reporting_spark.operators.dedup import minhash_lsh_pairs

    base = docs.select("doc_id", "text").limit(10)
    clone = base.select((F.col("doc_id") + 500).alias("doc_id"), "text")
    pairs = minhash_lsh_pairs(
        base.unionByName(clone), "text", "doc_id", jaccard_threshold=0.99
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert {(r.doc_id, r.doc_id + 500) for r in base.collect()} <= got


def test_minhash_dedup_drops_higher_ids(spark, docs):
    from cs_tutorial_reporting_spark.operators.dedup import minhash_dedup

    base = docs.select("doc_id", "text").limit(10)
    clone = base.select((F.col("doc_id") + 500).alias("doc_id"), "text")
    kept = minhash_dedup(base.unionByName(clone), "text", "doc_id")
    assert kept.count() == 10
    assert kept.filter(F.col("doc_id") >= 500).count() == 0


def test_simhash_identical_docs_same_fingerprint(spark, docs):
    from cs_tutorial_reporting_spark.operators.dedup import simhash_fingerprint

    two = docs.limit(2).select(
        simhash_fingerprint(F.col("text"), bits=16).alias("fp"), "text"
    )
    fps = two.select("fp").collect()
    again = two.select("fp").collect()
    assert fps == again  # deterministic


def test_lsh_topk_recall_against_bruteforce(spark, emb):
    from cs_tutorial_reporting_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )

    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = brute_force_topk(emb, q, k=5, dim=64)
    approx = lsh_topk(emb, q, k=5, n_planes=4)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    # single-probe LSH: expect ≥40% of true top-5 found; the query vector
    # itself (cos=1) must always be in its own bucket
    assert len(e & a) / len(e) >= 0.4
    self_hits = {(r.query_id, r.vec_id) for r in approx.collect() if r.rank == 1}
    assert self_hits == {(i, i) for i in range(10)}


def test_ivf_topk_recall_against_bruteforce(spark, emb):
    from cs_tutorial_reporting_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = brute_force_topk(emb, q, k=5, dim=64)
    approx = ivf_topk(emb, q, k=5, n_centroids=8, n_probes=3)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    # 3/8 cells probed: expect ≥60% of true top-5; the query vector itself
    # (cos=1, same cell as itself by construction) must always be rank 1
    assert len(e & a) / len(e) >= 0.6
    self_hits = {(r.query_id, r.vec_id) for r in approx.collect() if r.rank == 1}
    assert self_hits == {(i, i) for i in range(10)}


def test_ivf_centroids_deterministic(spark, emb):
    from cs_tutorial_reporting_spark.operators.similarity import (
        build_ivf_centroids,
    )

    c1 = build_ivf_centroids(emb, n_centroids=4)
    c2 = build_ivf_centroids(emb, n_centroids=4)
    assert c1 == c2
    assert all(abs(sum(x * x for x in c) - 1.0) < 1e-9 for c in c1)


def test_asof_join_basic_semantics(spark):
    from cs_tutorial_reporting_spark.operators.asof import asof_join

    TS = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731
    left = spark.createDataFrame(
        [(1, TS("2024-01-01T10:00:00"), "l1"),
         (1, TS("2024-01-01T12:00:00"), "l2"),
         (2, TS("2024-01-01T09:00:00"), "l3")],
        "k int, ts timestamp, name string",
    )
    right = spark.createDataFrame(
        [(1, TS("2024-01-01T09:30:00"), 100),
         (1, TS("2024-01-01T11:00:00"), 200),
         (1, TS("2024-01-01T12:00:00"), 300),  # equal ts: inclusive
         (2, TS("2024-01-01T10:00:00"), 400)],  # after left → no match
        "k int, ts timestamp, v int",
    )
    out = {r.name: r.asof_v for r in
           asof_join(left, right, "k", "ts", ["v"]).collect()}
    assert out == {"l1": 100, "l2": 300, "l3": None}


def test_asof_join_forward_semantics_and_boundary_ties(spark):
    """direction='forward' (round 6): each left row gets the EARLIEST
    right value at-or-after its ts per key — including the inclusive
    boundary (right row at the exact left ts matches, mirroring the
    backward direction's tie contract) and None when no right row
    follows."""
    from cs_tutorial_reporting_spark.operators.asof import asof_join

    TS = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731
    left = spark.createDataFrame(
        [(1, TS("2024-01-01T10:00:00"), "l1"),   # next right: 11:00
         (1, TS("2024-01-01T12:00:00"), "l2"),   # equal-ts right: inclusive
         (1, TS("2024-01-01T13:00:00"), "l3"),   # nothing follows
         (2, TS("2024-01-01T09:00:00"), "l4")],  # right before only → None
        "k int, ts timestamp, name string",
    )
    right = spark.createDataFrame(
        [(1, TS("2024-01-01T09:30:00"), 100),
         (1, TS("2024-01-01T11:00:00"), 200),
         (1, TS("2024-01-01T12:00:00"), 300),
         (2, TS("2024-01-01T08:00:00"), 400)],
        "k int, ts timestamp, v int",
    )
    out = {r.name: r.asof_v for r in
           asof_join(left, right, "k", "ts", ["v"],
                     direction="forward").collect()}
    assert out == {"l1": 200, "l2": 300, "l3": None, "l4": None}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        asof_join(left, right, "k", "ts", ["v"], direction="nearest")


def test_bucketized_range_join_matches_broadcast(spark):
    from cs_tutorial_reporting_spark.operators.asof import (
        bucketized_range_join,
        range_join_broadcast,
    )

    events = load_table(spark, SF_SMOKE, "events")
    ranges = spark.createDataFrame(
        [("a", 0.0, 80.0), ("b", 80.0, 200.0), ("c", 200.0, 500.0)],
        "name string, lo double, hi double",
    )
    bc = range_join_broadcast(events, ranges, "value", "lo", "hi")
    bk = bucketized_range_join(events, ranges, "value", "lo", "hi", bucket_width=64.0)
    a = sorted((r.event_id, r.name) for r in bc.select("event_id", "name").collect())
    b = sorted((r.event_id, r.name) for r in bk.select("event_id", "name").collect())
    assert a == b


def test_streaming_windowed_rollup_matches_batch(spark):
    from cs_tutorial_reporting_spark.streaming.sessions import (
        read_event_stream,
        run_to_memory,
        windowed_rollup,
    )

    stream = read_event_stream(spark, f"{SF_SMOKE}/events.parquet")
    run_to_memory(windowed_rollup(stream), "rollup_out")
    got = spark.sql(
        "SELECT window_start, event_type, n FROM rollup_out"
    ).collect()
    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
        .collect()
    )
    key = lambda r: (r.window_start, r.event_type, r.n)  # noqa: E731
    # append-mode emits only watermark-closed windows → subset of batch
    assert set(map(key, got)) <= set(map(key, batch))
    assert len(got) >= 0.5 * len(batch)


def test_streaming_session_window_runs(spark):
    from cs_tutorial_reporting_spark.streaming.sessions import (
        read_event_stream,
        run_to_memory,
        session_rollup,
    )

    stream = read_event_stream(spark, f"{SF_SMOKE}/events.parquet")
    run_to_memory(session_rollup(stream, gap="30 minutes"), "session_out")
    got = spark.sql("SELECT * FROM session_out").collect()
    assert all(r.session_end > r.session_start for r in got)


def test_multimodal_media_pair_and_byte_features(spark, docs):
    import hashlib

    from cs_tutorial_reporting_spark.multimodal.columns import (
        FEATURE_SCHEMA,
        attach_media,
        byte_features,
        decode_pass,
    )

    media = attach_media(docs.limit(5), F.encode("text", "utf-8"), "image", "raw")
    assert media.schema["meta"].dataType["media_type"].dataType.simpleString() == "string"
    feats = {
        r.doc_id: r
        for r in decode_pass(media, lambda _, b: byte_features(b), FEATURE_SCHEMA).collect()
    }
    src = {r.doc_id: r.text for r in docs.limit(5).collect()}
    for doc_id, text in src.items():
        raw = text.encode("utf-8")
        assert feats[doc_id].n_bytes == len(raw)
        assert feats[doc_id].content_md5 == hashlib.md5(raw).hexdigest()
        assert feats[doc_id].head_byte == raw[0]


def test_sessionize_gap_boundary(spark):
    from cs_tutorial_reporting_spark.operators.sessionize import sessionize

    TS = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731
    ev = spark.createDataFrame(
        [(1, 10, TS("2024-01-01T00:00:00"), 1.0),
         (2, 10, TS("2024-01-01T00:30:00"), 1.0),   # exactly 30min → same
         (3, 10, TS("2024-01-01T01:00:00.001"), 1.0)],  # 30min+1ms → new
        "event_id int, user_id int, ts timestamp, value double",
    )
    got = {r.event_id: r.session_seq for r in sessionize(ev, gap_minutes=30).collect()}
    assert got == {1: 1, 2: 1, 3: 2}


def test_stateful_running_totals_across_microbatches(spark, tmp_path):
    """applyInPandasWithState: state must accumulate across micro-batches
    (maxFilesPerTrigger=1 over two files), final totals == batch agg."""
    from cs_tutorial_reporting_spark.streaming.stateful import (
        RUNNING_OUT_SCHEMA,
        user_running_totals,
    )

    events = load_table(spark, SF_SMOKE, "events").select("user_id", "value")
    half = events.filter(F.col("user_id") % 2 == 0)
    src = str(tmp_path / "stream_src")
    half.filter(F.col("value") < 100).coalesce(1).write.parquet(
        src, mode="overwrite"
    )
    half.filter(F.col("value") >= 100).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("user_id bigint, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = user_running_totals(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("running_out")
        .start()
    )
    try:
        q.processAllAvailable()
        assert q.lastProgress["batchId"] >= 1  # ≥2 micro-batches ran
    finally:
        q.stop()

    # update-mode memory sink appends every emission; the final state per
    # user is the row with the highest n_events
    got = {
        r.user_id: (r.n_events, r.sum_value)
        for r in spark.sql(
            """SELECT user_id, max_by(n_events, n_events) n_events,
                      max_by(sum_value, n_events) sum_value
               FROM running_out GROUP BY user_id"""
        ).collect()
    }
    want = {
        r.user_id: (r.n, round(r.s, 2))
        for r in half.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == want


def test_pandas_dot_matches_jvm_dot(spark, emb):
    """Arrow pandas_udf dot == built-in zip_with/aggregate dot (round 6)."""
    from cs_tutorial_reporting_spark.functions.vectors import dot, dot_pandas

    pairs = (
        emb.limit(50)
        .alias("a")
        .crossJoin(emb.limit(50).select(F.col("embedding").alias("e2")))
    )
    pd_dot = dot_pandas()
    diff = pairs.select(
        (
            F.round(dot(F.col("embedding"), F.col("e2")), 6)
            - F.round(pd_dot(F.col("embedding"), F.col("e2")), 6)
        ).alias("d")
    ).agg(F.max(F.abs(F.col("d"))).alias("mx"))
    assert diff.first()["mx"] == 0.0


def test_connected_components_transitive_chain(spark):
    """A~B, B~C, D~E (no A~C edge) must yield clusters {A,B,C} and {D,E}."""
    from cs_tutorial_reporting_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (3, 4), (20, 21), (21, 22), (22, 23)],
        "id_a bigint, id_b bigint",
    )
    got = {
        (r.node, r.cluster_id) for r in connected_components(edges).collect()
    }
    want = (
        {(n, 1) for n in (1, 2, 3, 4)}
        | {(n, 10) for n in (10, 11)}
        | {(n, 20) for n in (20, 21, 22, 23)}
    )
    assert got == want


def test_normalize_collapses_all_whitespace(spark):
    """Tabs/newlines/multi-space + edges must hash identically after
    normalization (the web-scrape near-dup case)."""
    from cs_tutorial_reporting_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "foo bar baz"), (2, "foo\tbar\nbaz"), (3, "  Foo  bar   baz ")],
        "doc_id bigint, text string",
    )
    kept = exact_dedup(df, "text", "doc_id")
    assert [r.doc_id for r in kept.collect()] == [1]


def test_ngram_jaccard_explicit_pairs(spark):
    from cs_tutorial_reporting_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "x y z w")],
        "doc_id bigint, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a bigint, id_b bigint")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, "text", "doc_id", pairs=pairs).collect()
    }
    assert got == {(1, 2): 1.0, (1, 3): 0.0}


def test_minhash_max_bucket_guard(spark):
    """50 identical docs share every band: with max_bucket below the
    bucket size the guard must drop the whole bucket (0 pairs) instead
    of exploding quadratically; with the default it must pair them all."""
    from cs_tutorial_reporting_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, "the same exact document body repeated verbatim") for i in range(50)],
        "doc_id bigint, text string",
    )
    guarded = minhash_lsh_pairs(docs, "text", "doc_id", max_bucket=10)
    assert guarded.count() == 0
    full = minhash_lsh_pairs(docs, "text", "doc_id", max_bucket=1000)
    assert full.count() == 50 * 49 // 2


#: build jobs (started while the DataFrame is constructed, in the
#: caller's job group) per MinHash entry point on the sf0.001 documents.
#: Each is an eager localCheckpoint, or a bounded collect of the pruned
#: probe, or, for the index builds, one of the index tables' writes: their
#: pool threads inherit the caller's job group, so the writes count.
MINHASH_BUILD_JOBS = {
    "inline": 2,
    "sign": 5,
    "presigned": 0,
    "multiband": 0,
    "funnel": 1,
    "incremental": 1,
    "write_index": 7,
    "append_index": 7,
    "probe_index": 6,
    "probe_pruned_index": 20,
}


def test_minhash_entry_points_build_jobs(spark, tmp_path, jobs_started):
    """No MinHash entry point starts more Spark jobs while it is built
    than MINHASH_BUILD_JOBS allows: a refactor that adds an eager
    checkpoint or collect fails here."""
    from cs_tutorial_reporting_spark.operators import dedup as d

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 10 == 0)
    flat, pruned = str(tmp_path / "flat"), str(tmp_path / "pruned")
    signed = d.minhash_sign(docs, "text", "doc_id")
    d.write_band_index(old, pruned, "text", "doc_id", buckets=8)
    builds = {
        "inline": lambda: d.minhash_lsh_pairs(docs, "text", "doc_id"),
        "sign": lambda: d.minhash_sign(docs, "text", "doc_id"),
        "presigned": lambda: d.minhash_lsh_pairs(
            docs, "text", "doc_id", presigned=signed
        ),
        "multiband": lambda: d.minhash_lsh_pairs_multiband(
            signed, 8, {"4x2": 2, "2x4": 4}, 0.5
        ),
        "funnel": lambda: d.lsh_band_funnel(docs, "text", "doc_id"),
        "incremental": lambda: d.minhash_lsh_pairs_incremental(
            docs.withColumn("is_new", F.col("doc_id") % 10 == 0),
            "text", "doc_id", "is_new",
        ),
        "write_index": lambda: d.write_band_index(old, flat, "text", "doc_id"),
        "append_index": lambda: d.append_to_band_index(
            new.select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text"),
            flat, "text", "doc_id",
        ),
        "probe_index": lambda: d.probe_band_index(spark, flat, new, "text", "doc_id"),
        "probe_pruned_index": lambda: d.probe_band_index(
            spark, pruned, new, "text", "doc_id"
        ),
    }
    jobs = {name: jobs_started(fn)[1] for name, fn in builds.items()}
    over = {k: (n, MINHASH_BUILD_JOBS[k]) for k, n in jobs.items() if n > MINHASH_BUILD_JOBS[k]}
    assert not over, (over, jobs)


MINHASH_ENTRY_POINTS = [
    "inline", "presigned", "multiband_4x2", "multiband_2x4",
    "incremental", "probe_index", "funnel",
]


def _minhash_entry(spark, tmp_path, entry, docs, max_bucket):
    """Run one MinHash entry point over ``docs`` (doc_id, text) with the
    default 8 hashes, bands of 2 and threshold 0.5."""
    from cs_tutorial_reporting_spark.operators import dedup as d

    if entry == "inline":
        return d.minhash_lsh_pairs(docs, "text", "doc_id", max_bucket=max_bucket)
    if entry == "presigned":
        return d.minhash_lsh_pairs(
            docs, "text", "doc_id", max_bucket=max_bucket,
            presigned=d.minhash_sign(docs, "text", "doc_id"),
        )
    if entry.startswith("multiband"):
        tag = entry.split("_")[1]
        out = d.minhash_lsh_pairs_multiband(
            d.minhash_sign(docs, "text", "doc_id"), 8, {"4x2": 2, "2x4": 4}, 0.5,
            max_bucket=max_bucket,
        )
        return out.filter(F.col("__tag") == tag).drop("__tag")
    if entry == "incremental":
        return d.minhash_lsh_pairs_incremental(
            docs.withColumn("is_new", F.lit(True)), "text", "doc_id", "is_new",
            max_bucket=max_bucket,
        )
    if entry == "probe_index":
        # the index holds the lowest id, the batch the rest: every pair
        # touches the batch
        first = docs.agg(F.min("doc_id")).first()[0]
        path = str(tmp_path / f"idx_{max_bucket}")
        d.write_band_index(docs.filter(F.col("doc_id") == first), path, "text", "doc_id")
        batch = docs.filter(
            F.lit(True) if first is None else F.col("doc_id") != first
        )
        return d.probe_band_index(
            spark, path, batch, "text", "doc_id", max_bucket=max_bucket
        )
    return d.lsh_band_funnel(docs, "text", "doc_id", max_bucket=max_bucket)


@pytest.mark.parametrize("entry", MINHASH_ENTRY_POINTS)
def test_minhash_entry_points_edge_inputs(spark, tmp_path, entry):
    """Every MinHash entry point runs the shared band/bucket/verify
    core. (a) 50 identical docs share every band bucket: the cap drops
    it at max_bucket=10 (0 pairs, 0 funnel candidates) and all
    50·49/2 = 1225 pairs verify at Jaccard 1.0 with the default cap.
    (b) An empty corpus gives zero rows with the documented columns,
    string ids keeping their type."""
    from pyspark.sql import types as T

    same = spark.createDataFrame(
        [(i, "the same exact document body repeated verbatim") for i in range(50)],
        "doc_id bigint, text string",
    )
    capped = _minhash_entry(spark, tmp_path, entry, same, 10).collect()
    full = _minhash_entry(spark, tmp_path, entry, same, 1000).collect()
    if entry == "funnel":
        assert capped == []
        assert sorted(tuple(r) for r in full) == [
            (b, 1, 1225, 1225, 1_000_000) for b in range(4)
        ]
    else:
        assert capped == []
        assert sorted((r.id_a, r.id_b, r.jaccard) for r in full) == [
            (a, b, 1.0) for a in range(50) for b in range(a + 1, 50)
        ]

    empty = spark.createDataFrame([], "doc_id string, text string")
    out = _minhash_entry(spark, tmp_path / "empty", entry, empty, 1000)
    if entry == "funnel":
        assert out.columns == [
            "band", "n_buckets", "n_cand_pairs", "n_verified", "precision_ppm"
        ]
    else:
        assert out.columns == ["id_a", "id_b", "jaccard"]
        assert out.schema["id_a"].dataType == T.StringType()
        assert out.schema["id_b"].dataType == T.StringType()
    assert out.collect() == []


def test_band_index_keys_follow_documented_format(spark, tmp_path):
    """The persisted ``bands`` table of a one-doc corpus holds exactly
    the keys ``"b|mh_{2b}|mh_{2b+1}"``, with mh_j the min over the
    doc's word 3-grams s of hash60("j|" + s) and hash60 the first 15 hex
    digits of the md5 as an integer: the frozen index format."""
    import hashlib

    from cs_tutorial_reporting_spark.operators.dedup import write_band_index

    words = ["alpha", "beta", "gamma", "delta", "epsilon"]
    doc = spark.createDataFrame(
        [(7, "  Alpha BETA\tgamma delta\nepsilon ")], "doc_id bigint, text string"
    )
    path = str(tmp_path / "idx")
    write_band_index(doc, path, "text", "doc_id")

    grams = {" ".join(words[i:i + 3]) for i in range(len(words) - 2)}

    def hash60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    mh = [min(hash60(f"{j}|{s}") for s in grams) for j in range(8)]
    want = {(f"{b}|{mh[2 * b]}|{mh[2 * b + 1]}", 7) for b in range(4)}
    bands = spark.read.parquet(f"{path}/bands")
    assert bands.columns == ["__band", "__id"]
    assert {(r["__band"], r["__id"]) for r in bands.collect()} == want
    shingles = spark.read.parquet(f"{path}/shingles").collect()
    assert [(r["__id"], sorted(r["__sh"])) for r in shingles] == [(7, sorted(grams))]
    counts = spark.read.parquet(f"{path}/band_counts")
    assert {(r["__band"], r["__n"]) for r in counts.collect()} == {(k, 1) for k, _ in want}


def test_wav_roundtrip_and_malformed():
    """The RIFF parser is a real decoder: round-trips the builder,
    skips unknown chunks (word-aligned), rejects malformed input."""
    import pytest

    from cs_tutorial_reporting_spark.multimodal.wav import decode_wav, wav_bytes

    pcm = bytes(range(256)) * 3
    feats = decode_wav(wav_bytes(pcm, sample_rate=16000))
    assert feats == {
        "sample_rate": 16000,
        "n_channels": 1,
        "bits": 8,
        "n_samples": 768,
        "duration_ms": 768 * 1000 // 16000,
        "first_sample": 0,
    }
    # 16-bit stereo: n_samples counts frames, not bytes
    wide = decode_wav(wav_bytes(pcm[:400], sample_rate=8000, channels=2, sampwidth=2))
    assert (wide["n_channels"], wide["bits"], wide["n_samples"]) == (2, 16, 100)
    # an unknown odd-sized chunk between fmt and data must be skipped
    import struct

    raw = wav_bytes(b"abc")
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + struct.pack("<I", 3) + b"xyz" + b"\x00"  # padded
    patched = raw[:fmt_end] + extra + raw[fmt_end:]
    assert decode_wav(patched)["n_samples"] == 3
    with pytest.raises(ValueError):
        decode_wav(b"not a wav at all")
    with pytest.raises(ValueError):
        decode_wav(b"RIFF\x00\x00\x00\x00WAVE")  # no fmt/data chunks


def test_wav_decode_via_mapinpandas(spark):
    from cs_tutorial_reporting_spark.multimodal.columns import decode_pass
    from cs_tutorial_reporting_spark.multimodal.wav import (
        WAV_FEATURE_SCHEMA,
        decode_wav,
        wav_bytes,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "hello"), (2, "")], "doc_id bigint, text string"
    ).select("doc_id", F.encode("text", "utf-8").alias("content"))
    out = decode_pass(df, lambda _, b: decode_wav(wav_bytes(b)), WAV_FEATURE_SCHEMA)
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[1].n_samples == 5 and rows[1].first_sample == ord("h")
    assert rows[2].n_samples == 0 and rows[2].first_sample == -1


def test_connected_components_long_path_graph(spark):
    """Adversarial diameter: a 1,000-node path. Plain min-label
    propagation needs ~999 rounds; the pointer-doubling step must
    label it within 15 — and a too-small cap must raise, never return
    partial labels."""
    import pytest

    from cs_tutorial_reporting_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(999)], "id_a bigint, id_b bigint"
    )
    labels = connected_components(edges, max_iter=15)
    got = labels.groupBy("cluster_id").count().collect()
    assert len(got) == 1 and got[0].cluster_id == 0 and got[0]["count"] == 1000
    with pytest.raises(RuntimeError, match="no convergence"):
        connected_components(edges, max_iter=3)


def test_flag_contaminated_ngram_overlap(spark):
    """Decontamination: docs sharing any word 4-gram with the benchmark
    are flagged; near-misses (3-gram overlap only) are not."""
    from cs_tutorial_reporting_spark.operators.dedup import flag_contaminated

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "a completely unrelated document about spark plans"),
            (3, "prefix words then the quick brown fox appears here"),
            (4, "quick brown fox trigram only overlap here today"),
        ],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame(
        [("eval question: the quick brown fox jumps into view",)], "text string"
    )
    flagged = sorted(
        r.doc_id for r in flag_contaminated(docs, bench, n=4).collect()
    )
    assert flagged == [1, 3]
    # the broadcast probe plan: no shuffle of document text
    from tests.test_plans import plan_text

    p = plan_text(flag_contaminated(docs, bench, n=4))
    assert "BroadcastHashJoin" in p and "LeftSemi" in p


def test_repetition_ratio_flags_boilerplate(spark):
    from pyspark.sql import functions as F

    from cs_tutorial_reporting_spark.functions.text import repetition_ratio

    df = spark.createDataFrame(
        [
            (1, "buy now. buy now. buy now. buy now."),
            (2, "first sentence. second sentence. third sentence."),
            (3, ""),
            (4, "line a\nline a\nline b"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        r.doc_id: (round(r.sent, 4), round(r.line, 4))
        for r in df.select(
            "doc_id",
            repetition_ratio(F.col("text")).alias("sent"),
            repetition_ratio(F.col("text"), "\n").alias("line"),
        ).collect()
    }
    assert got[1][0] == 0.75          # 4 segments, 1 distinct
    assert got[2][0] == 0.0           # all distinct
    assert got[3] == (0.0, 0.0)       # empty text
    assert got[4][1] == round(1 - 2 / 3, 4)  # duplicate line rule


def test_embedding_near_dup_lsh_caps_degenerate_buckets(spark, emb):
    """1,000 copies of one vector share a bucket by construction —
    499,500 candidate pairs inside it. The max_bucket guard must drop
    that bucket (same trade as the minhash guard) while pairs in
    normal-sized buckets still come through, and the plan must stay
    cartesian-free."""
    from cs_tutorial_reporting_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    v = emb.orderBy("vec_id").select("embedding").first()[0]
    w = emb.orderBy(F.col("vec_id").desc()).select("embedding").first()[0]
    rows = [(i, v) for i in range(1000)] + [(2000, w), (2001, w)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = embedding_near_dup_pairs(
        df, threshold=0.95, n_planes=8, dim=64, max_bucket=100
    )
    pairs = [(r.id_a, r.id_b) for r in out.collect()]
    # every pair of the degenerate cluster is suppressed
    assert not [p for p in pairs if p[0] < 1000 and p[1] < 1000]
    # the identical pair living in a small bucket is still found
    assert (2000, 2001) in pairs
    from tests.test_plans import plan_text

    p = plan_text(out)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_bmp_malformed_and_spark_path(spark, docs):
    """The BMP parser is a real decoder: rejects bad magic/bpp/truncated
    pixel arrays; the mapInPandas path reproduces the pure-Python
    features over real documents."""
    import struct

    import pytest as _pytest

    from cs_tutorial_reporting_spark.multimodal.bmp import bmp_bytes, decode_bmp
    from cs_tutorial_reporting_spark.multimodal.columns import (
        IMAGE_FEATURE_SCHEMA,
        decode_pass,
    )

    good = bmp_bytes(b"hello world", width=4)
    with _pytest.raises(ValueError):
        decode_bmp(b"XX" + good[2:])            # bad magic
    bad_bpp = bytearray(good)
    struct.pack_into("<H", bad_bpp, 28, 8)       # declare 8bpp
    with _pytest.raises(ValueError):
        decode_bmp(bytes(bad_bpp))
    with _pytest.raises(ValueError):
        decode_bmp(good[:-4])                    # truncated pixels

    d = docs.select("doc_id", F.encode(F.col("text"), "utf-8").alias("content"))
    out = decode_pass(d, lambda _, b: decode_bmp(bmp_bytes(b)), IMAGE_FEATURE_SCHEMA)
    got = {r.doc_id: r.asDict() for r in out.collect()}
    for row in d.limit(5).collect():
        payload = bytes(row.content)
        f = decode_bmp(bmp_bytes(payload))
        g = got[row.doc_id]
        assert (g["n_pixels"], g["sum_rgb"], g["head_px"]) == (
            f["n_pixels"], f["sum_rgb"], f["head_px"],
        )


def test_connected_components_broom_graph(spark):
    """Adversarial high-degree + long-chain combo (a 'broom': one hub
    fanning into 20 paths of 50 nodes each, plus a disjoint decoy
    clique): pointer doubling must label all 1,001 broom nodes within
    15 rounds, the decoy must stay a separate cluster, and the
    symmetrized edge frame must stay exactly 2x the input pairs (the
    min-label+jump algorithm never grows the edge set — unlike
    large-star/small-star, which rewrite edges every round; see the
    operator docstring's decision note)."""
    from pyspark.sql import functions as F

    from cs_tutorial_reporting_spark.operators.dedup import connected_components

    pairs = []
    node = 1
    for _ in range(20):                      # 20 paths of 50 hanging off hub 0
        prev = 0
        for _ in range(50):
            pairs.append((prev, node))
            prev = node
            node += 1
    decoy = [(2000 + i, 2000 + j) for i in range(5) for j in range(i + 1, 5)]
    edges = spark.createDataFrame(pairs + decoy, "id_a bigint, id_b bigint")
    labels = connected_components(edges, max_iter=15)
    got = {
        r.cluster_id: r["count"]
        for r in labels.groupBy("cluster_id").count().collect()
    }
    assert got == {0: 1001, 2000: 5}
    # static edge frame: symmetrized distinct = 2x the (distinct) input
    e = edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    assert sym.count() == 2 * len(pairs + decoy)


def test_tfidf_and_vocab_known_corpus(spark):
    """Hand-checkable TF-IDF: a term appearing in one doc outranks the
    corpus-wide term; vocabulary ids follow (count DESC, term ASC)."""
    from cs_tutorial_reporting_spark.operators.tfidf import (
        build_vocab,
        tfidf_top_terms,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha common common"),
            (2, "beta common"),
            (3, "common gamma gamma gamma"),
        ],
        "doc_id bigint, text string",
    )
    vocab = {r.term: (r.token_id, r.n_occurrences, r.n_docs)
             for r in build_vocab(docs).collect()}
    assert vocab["common"] == (1, 4, 3)      # most frequent → id 1
    assert vocab["gamma"] == (2, 3, 1)
    # alpha/beta tie on count 1 → lexicographic id order
    assert vocab["alpha"][0] < vocab["beta"][0]

    top = {r.doc_id: r.term
           for r in tfidf_top_terms(docs, k=1).collect()}
    # the doc-exclusive term always beats 'common' (df=3)
    assert top == {1: "alpha", 2: "beta", 3: "gamma"}


def test_stratified_sample_rates(spark, docs):
    """Stratified hash-mod sampling keeps ~keep_pct per language and is
    exactly reproducible call-to-call."""
    from cs_tutorial_reporting_spark.queries import QUERIES

    from .conftest import SF_SMOKE

    a = sorted(map(tuple, QUERIES["stratified_sample"].fn(spark, SF_SMOKE).collect()))
    b = sorted(map(tuple, QUERIES["stratified_sample"].fn(spark, SF_SMOKE).collect()))
    assert a == b and len(a) > 0


def test_redact_pii_known_strings(spark):
    from cs_tutorial_reporting_spark.functions.text import (
        pii_count,
        redact_pii,
    )

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c%d@sub.example.co or call 415-555-1234 twice"),
            (2, "no pii here, just 12-34 and name at example dot com"),
            (3, "two mails x@y.io z@w.ai and 000-000-0000"),
        ],
        "id bigint, s string",
    )
    got = {
        r.id: (r.out, r.ne, r.np)
        for r in df.select(
            "id",
            redact_pii(F.col("s")).alias("out"),
            pii_count(F.col("s"), "<EMAIL>").alias("ne"),
            pii_count(F.col("s"), "<PHONE>").alias("np"),
        ).collect()
    }
    assert got[1] == ("mail <EMAIL> or call <PHONE> twice", 1, 1)
    assert got[2] == ("no pii here, just 12-34 and name at example dot com", 0, 0)
    assert got[3] == ("two mails <EMAIL> <EMAIL> and <PHONE>", 2, 1)


# ---------------------------------------------------------------------------
# round-3 training-pipeline operators: bigram novelty, chunking, int8
# ---------------------------------------------------------------------------


def test_bigram_novelty_hand_computed(spark):
    """3-doc corpus with one repeated sentence: the repeated docs share
    every bigram (count ≥ 2 ⇒ rare at threshold 1... checked at
    threshold 1 so 'rare' = globally unique bigrams only)."""
    from cs_tutorial_reporting_spark.operators.ngram_lm import novelty_scores

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat sat on the mat"),
            (3, "a completely different sentence here"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        r.doc_id: (r.n_bigrams, r.n_rare)
        for r in novelty_scores(docs, rare_threshold=1).collect()
    }
    # docs 1/2: 5 bigrams each, every one occurs twice -> none rare
    assert got[1] == (5, 0) and got[2] == (5, 0)
    # doc 3: 4 bigrams, all unique -> all rare
    assert got[3] == (4, 4)


def test_bigram_single_token_doc_yields_no_bigrams(spark):
    """A 1-token document must contribute zero bigrams (the unguarded
    sequence(1, 0) would count DOWN and fabricate pairs)."""
    from cs_tutorial_reporting_spark.operators.ngram_lm import bigram_array

    df = spark.createDataFrame([("word",), ("two words",)], "text string")
    rows = df.select(bigram_array(F.col("text")).alias("b")).collect()
    assert rows[0].b == [] and rows[1].b == ["two words"]


def test_chunking_partial_tail_kept(spark):
    """A 130-token document at 64-token chunks yields 3 chunks (64 + 64
    + 2-token tail) — the tail must not be dropped."""
    from cs_tutorial_reporting_spark.operators.chunking import chunk_hashes

    text = " ".join(f"tok{i}" for i in range(130))
    df = spark.createDataFrame([(text,)], "text string")
    (row,) = df.select(F.size(chunk_hashes(F.col("text"))).alias("n")).collect()
    assert row.n == 3


def test_chunking_stats_cross_doc_duplicates(spark):
    """Two docs sharing their (single-chunk) text produce one cross-doc
    chunk kind; a third distinct doc produces none."""
    from cs_tutorial_reporting_spark.operators.chunking import chunking_stats

    docs = spark.createDataFrame(
        [
            (1, "shared boilerplate text", "web"),
            (2, "shared boilerplate text", "web"),
            (3, "unique document body", "web"),
        ],
        "doc_id bigint, text string, source string",
    )
    (row,) = chunking_stats(docs).collect()
    assert (row.n_docs, row.n_chunks, row.n_chunk_kinds, row.n_cross_doc_kinds) == (
        3,
        3,
        2,
        1,
    )


def test_int8_quantize_zero_vector_and_saturation(spark):
    """Zero vectors quantize to all-zero with zero error; the max-|v|
    lane always saturates to exactly ±127."""
    from cs_tutorial_reporting_spark.operators.quantize import quantization_report

    emb = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])],
        "vec_id bigint, embedding array<float>",
    )
    got = {r.vec_id: r for r in quantization_report(emb).collect()}
    assert got[1].int_dot == 0 and got[1].rel_err == 0.0 and got[1].n_sat == 0
    # scale = 2/127; q = [64, -127, 32] (floor(x/s + .5))
    assert got[2].n_sat == 1
    assert got[2].int_dot == 64 * 64 + 127 * 127 + 32 * 32
    assert got[2].rel_err < 0.01  # ~0.2% reconstruction error on the self-dot


def test_winnow_containment_detects_contained_span(spark):
    """A short document pasted into a long one shares its fingerprints
    even though set-Jaccard is tiny; a pathological corpus (60 copies
    of the same text) exceeds max_postings and is dropped BEFORE pair
    expansion (60 copies -> 0 pairs, not 1770)."""
    from cs_tutorial_reporting_spark.operators.dedup import (
        winnow_containment_pairs,
    )

    contained = "the quick brown fox jumps over the lazy dog again and again"
    filler = " ".join(f"w{i}x w{i}y w{i}z" for i in range(40))
    docs = spark.createDataFrame(
        [(1, contained), (2, filler + " " + contained + " " + filler)],
        "doc_id bigint, text string",
    )
    pairs = winnow_containment_pairs(docs, "text", "doc_id", min_shared=5).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    assert pairs[0].n_shared >= 5

    boiler = spark.createDataFrame(
        [(i, contained) for i in range(60)], "doc_id bigint, text string"
    )
    assert (
        winnow_containment_pairs(boiler, "text", "doc_id", max_postings=50).count()
        == 0
    )


def test_streaming_watermark_drops_late_rows(spark, tmp_path):
    """The one streaming behavior the oracle gate structurally can't
    see: append-mode late-data DROP. Three micro-batches via three
    files + maxFilesPerTrigger=1. Batch 1 puts three events in
    [10:00,11:00) plus a 13:30 event that advances the watermark to
    11:30 (> window end). Batch 2's on-time 14:00 event triggers the
    eviction: [10:00,11:00) is emitted with n=3 and its state dropped.
    Batch 3 replays a LATE 10:40 event (window end < watermark, state
    gone) - it must vanish, where a batch agg would count 4. (The late
    row must arrive AFTER the eviction batch: a late row landing in the
    same trigger that evicts the window is still included - that is
    Spark's documented append-mode semantics, not a bug.)"""
    import time

    from cs_tutorial_reporting_spark.streaming.sessions import (
        run_to_memory,
        windowed_rollup,
    )

    def write(path, *ts_strs):
        rows = [(i, t, 1, "a", 10.0, "{}") for i, t in enumerate(ts_strs)]
        df = spark.createDataFrame(
            rows, "event_id bigint, s string, user_id bigint, "
                  "event_type string, value double, props string"
        ).select(
            "event_id", F.to_timestamp("s").alias("ts"), "user_id",
            "event_type", "value", "props",
        )
        df.coalesce(1).write.mode("append").parquet(path)

    src = str(tmp_path / "late_src")
    write(src, "2024-01-01 10:05:00", "2024-01-01 10:15:00",
          "2024-01-01 10:25:00", "2024-01-01 13:30:00")
    time.sleep(1.1)  # distinct mtimes => deterministic file order
    write(src, "2024-01-01 14:00:00")
    time.sleep(1.1)
    write(src, "2024-01-01 10:40:00")  # late: below the 11:30 watermark

    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_to_memory(windowed_rollup(stream), "late_out", output_mode="append")
    emitted = [
        (r.n, r.sum_value)
        for r in spark.table("late_out").collect()
        if r.window_start.isoformat() == "2024-01-01T10:00:00"
    ]
    # exactly one emission, late 10:40 row NOT counted; batch semantics
    # over the same six rows would give (4, 40.0)
    assert emitted == [(3, 30.0)]


def test_avi_malformed_and_spark_path(spark, docs):
    """The AVI parser is a real decoder: rejects bad magic, truncated
    RIFF bodies, and frame-count mismatches; the mapInPandas path
    reproduces the pure-Python features over real documents."""
    import struct

    import pytest as _pytest

    from cs_tutorial_reporting_spark.multimodal.avi import (
        AVI_FEATURE_SCHEMA,
        avi_bytes,
        decode_avi,
    )
    from cs_tutorial_reporting_spark.multimodal.columns import decode_pass

    good = avi_bytes(b"hello world, this is more than one frame" * 4)
    with _pytest.raises(ValueError):
        decode_avi(b"XXXX" + good[4:])               # bad RIFF magic
    with _pytest.raises(ValueError):
        decode_avi(good[:8] + b"WAVE" + good[12:])   # wrong form type
    with _pytest.raises(ValueError):
        decode_avi(good[:-20])                       # truncated RIFF
    lying = bytearray(good)
    # avih dwTotalFrames lives 24 bytes into the avih body: RIFF(12) +
    # LIST hdr(12) + 'avih'+size(8) + 4 fields(16)
    struct.pack_into("<I", lying, 12 + 12 + 8 + 16, 99)
    with _pytest.raises(ValueError):
        decode_avi(bytes(lying))                     # frame-count mismatch

    d = docs.select("doc_id", F.encode(F.col("text"), "utf-8").alias("content"))
    out = decode_pass(d, lambda _, b: decode_avi(avi_bytes(b)), AVI_FEATURE_SCHEMA)
    got = {r.doc_id: r.asDict() for r in out.collect()}
    for row in d.limit(5).collect():
        payload = bytes(row.content)
        f = decode_avi(avi_bytes(payload))
        g = got[row.doc_id]
        assert (g["n_frames"], g["n_sampled"], g["sum_rgb_sampled"], g["head_px"]) == (
            f["n_frames"], f["n_sampled"], f["sum_rgb_sampled"], f["head_px"],
        )


def test_stream_stream_join_matches_batch(spark):
    """Stream-stream inner join == batch interval join on the same
    bounded input (inner joins emit eagerly, so the drain is total),
    and the physical plan is the stateful symmetric-hash join operator
    with watermark state cleanup - not a buffered batch join."""
    from cs_tutorial_reporting_spark.streaming.joins import attribution_join
    from cs_tutorial_reporting_spark.streaming.sessions import (
        read_event_stream,
        run_to_memory,
    )

    path = f"{SF_SMOKE}/events.parquet"
    views = read_event_stream(spark, path).filter(F.col("event_type") == "view")
    clicks = read_event_stream(spark, path).filter(F.col("event_type") == "click")
    run_to_memory(attribution_join(views, clicks), "ss_join_out", "append")
    got = {
        (r.view_id, r.click_id, r.gap_ms)
        for r in spark.table("ss_join_out").collect()
    }

    e = load_table(spark, SF_SMOKE, "events")
    v = e.filter("event_type = 'view'").select(
        F.col("event_id").alias("view_id"), F.col("ts").alias("vts"), "user_id"
    )
    c = e.filter("event_type = 'click'").select(
        F.col("event_id").alias("click_id"), F.col("ts").alias("cts"),
        F.col("user_id").alias("cu"),
    )
    want = {
        (r.view_id, r.click_id, r.gap_ms)
        for r in v.join(
            c,
            F.expr("user_id = cu AND cts >= vts "
                   "AND cts <= vts + interval 30 minutes"),
        )
        .select(
            "view_id", "click_id",
            (F.unix_millis("cts") - F.unix_millis("vts")).alias("gap_ms"),
        )
        .collect()
    }
    assert got == want and got  # non-empty and identical


def test_pq_encode_compression_and_recall(spark, emb):
    """PQ encode emits m codes in [1, ks] per vector (the 32x
    compressed representation); ADC self-hits rank first (a vector's
    own codes maximize its LUT sums); one Lloyd refinement must not
    hurt - and typically beats - seed-codebook recall."""
    from cs_tutorial_reporting_spark.operators.similarity import (
        brute_force_topk,
        build_pq_codebooks,
        pq_encode,
        pq_topk,
        refine_pq_codebooks,
    )

    cb = build_pq_codebooks(emb, m=8, ks=16, dim=64)
    codes = pq_encode(emb, cb).collect()
    assert all(len(r.codes) == 8 for r in codes)
    assert all(1 <= c <= 16 for r in codes for c in r.codes)

    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {(r.query_id, r.vec_id) for r in brute_force_topk(emb, q, k=5, dim=64).collect()}

    def recall(codebooks):
        got = pq_topk(emb, q, k=5, codebooks=codebooks).collect()
        assert {(r.query_id, r.vec_id) for r in got if r.rank == 1} == {
            (i, i) for i in range(10)
        }
        return len({(r.query_id, r.vec_id) for r in got} & exact) / len(exact)

    seed_recall = recall(cb)
    refined_recall = recall(refine_pq_codebooks(emb, cb, iters=1))
    assert seed_recall >= 0.2
    assert refined_recall >= seed_recall - 0.05  # refinement never craters


def test_rocksdb_state_store_matches_default_provider(spark):
    """The disk-backed RocksDB state store - what a 100 TB streaming
    deployment runs so state is bounded by disk, not executor heap -
    must produce byte-identical results to the default in-memory
    provider on the same bounded drain."""
    from cs_tutorial_reporting_spark.streaming.sessions import (
        read_event_stream,
        run_to_memory,
        windowed_rollup,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    path = f"{SF_SMOKE}/events.parquet"

    def drain(name):
        run_to_memory(
            windowed_rollup(read_event_stream(spark, path)), name, "complete"
        )
        return sorted(
            (r.window_start, r.event_type, r.n, r.sum_value)
            for r in spark.table(name).collect()
        )

    default_rows = drain("prov_default")
    prev = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        rocks_rows = drain("prov_rocksdb")
    finally:
        spark.conf.set(key, prev)
    assert rocks_rows == default_rows and rocks_rows


def test_vector_scoring_form_equivalence(spark, emb):
    """The three dot/cosine forms agree: the single-level flat fold is
    BIT-identical to the nested HOF fold it hardens (same association
    order), and the Arrow batch form matches at the round-6 grid the
    oracle compares on (NumPy pairwise summation differs only in final
    ULPs — the documented BASELINE.md round-5 assumption)."""
    from cs_tutorial_reporting_spark.functions.vectors import (
        cosine,
        cosine_arrow,
        cosine_flat,
        dot,
        dot_arrow,
        dot_flat,
    )

    pairs = emb.alias("a").crossJoin(
        emb.limit(5).select(F.col("embedding").alias("qv"))
    )
    r = pairs.select(
        (dot(F.col("embedding"), F.col("qv")) == dot_flat("embedding", "qv", 64)).alias("d_bit"),
        (cosine(F.col("embedding"), F.col("qv")) == cosine_flat("embedding", "qv", 64)).alias("c_bit"),
        (
            F.round(dot_arrow(F.col("embedding"), F.col("qv")), 6)
            == F.round(dot_flat("embedding", "qv", 64), 6)
        ).alias("d_r6"),
        (
            F.round(cosine_arrow(F.col("embedding"), F.col("qv")), 6)
            == F.round(cosine_flat("embedding", "qv", 64), 6)
        ).alias("c_r6"),
    ).agg(
        F.count("*").alias("n"),
        *[
            F.sum(F.when(F.col(c), 0).otherwise(1)).alias(c)
            for c in ["d_bit", "c_bit", "d_r6", "c_r6"]
        ],
    ).collect()[0]
    assert r["n"] > 0
    assert (r["d_bit"], r["c_bit"], r["d_r6"], r["c_r6"]) == (0, 0, 0, 0)


def test_streaming_append_emission_timing_across_triggers(spark, tmp_path):
    """Emission TIMING, not just final state: in append mode a window
    row may be emitted only in the first trigger whose (previous-max -
    delay) watermark has passed the window end. Five single-file
    micro-batches; the expected per-trigger emission uses Spark's
    documented rule that trigger N evicts with the watermark computed
    from trigger N-1's max event time (watermark 2h, windows 1h):

      b0 10:05,10:15  wm=-inf   emits nothing (nothing closed)
      b1 13:30        wm=08:15  emits nothing
      b2 14:30        wm=11:30  emits [10:00,11:00) n=2
      b3 17:30        wm=12:30  emits nothing (13h window still open)
      b4 21:00        wm=15:30  emits [13:00,14:00) and [14:00,15:00)
    """
    import time

    from cs_tutorial_reporting_spark.streaming.sessions import windowed_rollup

    src = str(tmp_path / "emit_src")

    def write(*ts_strs):
        rows = [(i, t, 1, "a", 10.0, "{}") for i, t in enumerate(ts_strs)]
        df = spark.createDataFrame(
            rows, "event_id bigint, s string, user_id bigint, "
                  "event_type string, value double, props string"
        ).select(
            "event_id", F.to_timestamp("s").alias("ts"), "user_id",
            "event_type", "value", "props",
        )
        df.coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)  # distinct mtimes => deterministic trigger order

    write("2024-01-01 10:05:00", "2024-01-01 10:15:00")
    write("2024-01-01 13:30:00")
    write("2024-01-01 14:30:00")
    write("2024-01-01 17:30:00")
    write("2024-01-01 21:00:00")

    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    emitted: dict[int, list] = {}

    def capture(batch_df, batch_id):
        emitted[batch_id] = sorted(
            (r.window_start.hour, r.n) for r in batch_df.collect()
        )

    q = (
        windowed_rollup(stream)
        .writeStream.outputMode("append")
        .foreachBatch(capture)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    per_trigger = [emitted.get(i, []) for i in range(5)]
    assert per_trigger == [
        [],
        [],
        [(10, 2)],
        [],
        [(13, 1), (14, 1)],
    ], per_trigger


def test_mix_order_equal_weight_tie_schedule(spark):
    """Exact 64-row schedule on a two-source EQUAL-WEIGHT fixture:
    'src1' and 'src5' both get weight 2, so every interleave position
    is a tie — the ORDER BY's (source, src_rank) tie-break must yield
    strict A,B,A,B alternation with each source's docs in portable-hash
    order. Pins the contract that a source-list change can never flip
    the schedule head silently (VERDICT r4 #7)."""
    import hashlib

    docs = spark.createDataFrame(
        [(i, "src1") for i in range(40)] + [(i + 1000, "src5") for i in range(40)],
        "doc_id bigint, source string",
    )
    from cs_tutorial_reporting_spark.queries_training import mix_order

    got = [
        (r.source, r.doc_id, r.interleave_pos)
        for r in mix_order(docs, limit=64).collect()
    ]

    def h60(v):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)

    order1 = sorted(range(40), key=lambda i: (h60(i), i))
    order5 = sorted((i + 1000 for i in range(40)), key=lambda i: (h60(i), i))
    expect = []
    for rank in range(32):  # 64 rows = 32 ranks x 2 sources
        pos = rank * 12 // 2
        expect.append(("src1", order1[rank], pos))
        expect.append(("src5", order5[rank], pos))
    assert got == expect


def test_residual_ivfpq_beats_flat_on_clustered_corpus(spark):
    """The residual IVF-PQ premise — within-cell spread is smaller than
    global spread — holds on clustered corpora, so the gate runs on a
    16-cluster fixture (tight 0.08-noise clusters, Lloyd-refined
    centroids). Asserts (a) residual reconstruction error is strictly
    lower than flat encoding's and (b) recall@5 vs brute force is >= —
    the quantization-quality ordering the layout exists for. (On the
    harness's uniform unit vectors the ordering provably reverses:
    E||v-c||^2 = 2(1-<v,c>) > 1 = ||v||^2 — BASELINE.md round-5.)"""
    import numpy as np

    from cs_tutorial_reporting_spark.operators.similarity import (
        brute_force_topk,
        build_ivf_centroids,
        build_pq_codebooks,
        build_residual_pq_codebooks,
        ivfpq_topk,
    )

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(16, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    assign = rng.integers(0, 16, 400)
    V = centers[assign] + 0.08 * rng.normal(size=(400, 64))
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in V[i]]) for i in range(400)],
        "vec_id bigint, embedding array<float>",
    )
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {(r.query_id, r.vec_id) for r in brute_force_topk(emb, q, k=5, dim=64).collect()}
    cents = build_ivf_centroids(emb, 16, lloyd_iters=3)
    flat_cb = build_pq_codebooks(emb, m=8, ks=16, dim=64)
    res_cb = build_residual_pq_codebooks(emb, cents, m=8, ks=16, dim=64)

    flat = {(r.query_id, r.vec_id) for r in ivfpq_topk(
        emb, q, k=5, n_probes=4, centroids=cents, codebooks=flat_cb
    ).collect()}
    res = {(r.query_id, r.vec_id) for r in ivfpq_topk(
        emb, q, k=5, n_probes=4, centroids=cents, codebooks=res_cb, residual=True
    ).collect()}
    recall_flat = len(exact & flat) / len(exact)
    recall_res = len(exact & res) / len(exact)

    # reconstruction error, straight from the builds (driver-side numpy)
    C = np.array(cents)
    Vf64 = np.stack([np.array(r[0], dtype="float64") for r in emb.select("embedding").orderBy("vec_id").collect()])
    cells = (Vf64 @ C.T).argmax(axis=1)
    R = Vf64 - C[cells]
    m, sub = 8, 8

    def recon(X, cbs, base):
        err = []
        mats = [np.array(cb) for cb in cbs]
        parts = []
        for j in range(m):
            d = (mats[j] ** 2).sum(1) - 2 * (X[:, j * sub:(j + 1) * sub] @ mats[j].T)
            parts.append(mats[j][d.argmin(1)])
        Xhat = np.concatenate(parts, axis=1)
        return np.linalg.norm((base + Xhat) - Vf64, axis=1).mean()

    err_flat = recon(Vf64, flat_cb, 0.0)
    err_res = recon(R, res_cb, C[cells])
    assert err_res < err_flat, (err_res, err_flat)
    assert recall_res >= recall_flat, (recall_res, recall_flat)
    # sanity: both pipelines returned full result sets
    assert len(flat) == len(res) == 100


def test_bpe_train_canonical_merges_and_repeat_semantics(spark):
    """BPE training on a hand fixture with a known merge order, plus
    the back-to-back-repeat case that distinguishes one-pass from
    canonical merging: 'aaaa' must become 'aa aa</w>' after merging
    ('a a') then ('aa </w>') — the two-pass padded replace completes
    runs a single replace pass leaves half-merged."""
    from cs_tutorial_reporting_spark.operators.bpe import bpe_train

    # 'low' x3 + 'lower' x2: top pair is ('l o', 5), then ('lo w', 5)
    docs = spark.createDataFrame(
        [("low low low lower lower",)], "text string"
    )
    merges, vocab = bpe_train(docs, "text", n_merges=2)
    assert [(p, m) for p, m, _ in merges] == [("l o", "lo"), ("lo w", "low")]
    assert merges[0][2] == 5 and merges[1][2] == 5
    seqs = {r.word: r.seq for r in vocab.collect()}
    assert seqs["low"] == "low </w>"
    assert seqs["lower"] == "low e r </w>"

    rep = spark.createDataFrame([("aaaa aaaa",)], "text string")
    m2, v2 = bpe_train(rep, "text", n_merges=2)
    # round 1: 'a a a a </w>' -> 'aa aa </w>' (two-pass replace merges
    # BOTH back-to-back occurrences; one pass would leave 'aa a a </w>')
    # round 2: ('aa aa', 2) ties ('aa </w>', 2); pair-ASC tie-break
    # picks 'aa </w>' (space sorts before 'a')
    assert [(p, m) for p, m, _ in m2] == [("a a", "aa"), ("aa </w>", "aa</w>")]
    assert [r.seq for r in v2.collect()] == ["aa aa</w>"]


def test_temperature_sampling_upweights_rare_sources(spark):
    """α=0.5 smoothing: on a 90/10 two-source corpus the rare source's
    sample RATE must exceed the common source's (a proportional α=1
    sampler gives both the same rate), and a rate that would exceed the
    source's size caps at 1e6 ppm (keep everything)."""
    import tempfile

    from cs_tutorial_reporting_spark.queries import QUERIES

    mixture_temperature_sample = QUERIES["mixture_temperature_sample"].fn

    d = spark.createDataFrame(
        [(i, "src_big", "x", "en") for i in range(180)]
        + [(i + 1000, "src_rare", "x", "en") for i in range(20)],
        "doc_id bigint, source string, text string, lang string",
    )
    tmp = tempfile.mkdtemp(prefix="tempsample_")
    d.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    rows = {r.source: r for r in mixture_temperature_sample(spark, tmp).collect()}
    big, rare = rows["src_big"], rows["src_rare"]
    assert rare.rate_ppm > big.rate_ppm
    # budget 200 > corpus 200: the rare source keeps everything
    assert rare.rate_ppm == 1000000 and rare.n_sampled == rare.n_docs
    assert 0 < big.n_sampled <= big.n_docs


def test_gif_lzw_codec_roundtrip_and_rejection(spark):
    """The GIF87a builder/parser pair is a REAL compressed codec:
    (a) lossless LZW round-trip on repetitive, random, empty, and
    long-enough-to-overflow-the-12-bit-table payloads (mid-stream
    Clear resets exercised); (b) the parser rejects malformed inputs
    like a conformant reader; (c) hypothesis property over arbitrary
    byte payloads."""
    import random

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cs_tutorial_reporting_spark.multimodal.gif import (
        _lzw_decode,
        _lzw_encode,
        decode_gif,
        gif_bytes,
    )

    rng = random.Random(7)
    cases = [
        b"",
        b"x",
        b"ab" * 4000,
        bytes(rng.randrange(256) for _ in range(20000)),  # table overflow
    ]
    for c in cases:
        f = decode_gif(gif_bytes(c, width=16))
        assert f["sum_rgb"] == 3 * sum(c)
        assert f["head_px"] == (c[0] if c else 0)
        pix = c + b"\x00" * (f["n_pixels"] - len(c))
        assert _lzw_decode(_lzw_encode(pix, 8), 8) == pix

    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_gif(b"NOTGIF" + b"\x00" * 32)
    with _pytest.raises(ValueError):
        decode_gif(gif_bytes(b"abc")[:-10])  # truncated stream
    # round-6 (ADVICE): corrupt streams raise ValueError, not IndexError
    with _pytest.raises(ValueError):
        # first post-reset code beyond the fresh table (prev-is-None path):
        # LSB-packed 3-bit codes clear(=4) then 7 >= table size 6
        _lzw_decode(bytes([0x3C]), 2)
    with _pytest.raises(ValueError):
        # LZW bomb guard: output bound enforced DURING decode
        _lzw_decode(_lzw_encode(b"a" * 5000, 8), 8, max_out=100)
    with _pytest.raises(ValueError):
        # pixel index past a small (4-entry) global color table
        g = bytearray(gif_bytes(b"\xff\x01", width=2))
        g[10] = (g[10] & ~0x07) | 0x01  # LSD flags: GCT size 2^2 = 4
        del g[13 + 4 * 3 : 13 + 256 * 3]  # shrink GCT to 4 entries
        decode_gif(bytes(g))

    @settings(max_examples=25, deadline=None)
    @given(st.binary(max_size=600))
    def rt(payload):
        f = decode_gif(gif_bytes(payload, width=16))
        assert f["sum_rgb"] == 3 * sum(payload)
        assert f["n_pixels"] == 16 * max(-(-len(payload) // 16), 1)

    rt()


def test_png_codec_all_filters_crc_and_roundtrip(spark):
    """The PNG builder/parser pair: (a) lossless round-trip via real
    DEFLATE; (b) the parser reverses ALL FIVE standard filter types —
    a hand-built foreign PNG with one row per filter (None/Sub/Up/
    Average/Paeth) reconstructs exactly; (c) a flipped byte anywhere
    fails the chunk CRC check; (d) hypothesis property over arbitrary
    payloads."""
    import random
    import struct
    import zlib

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cs_tutorial_reporting_spark.multimodal.png import (
        _SIG,
        _chunk,
        decode_png,
        png_bytes,
    )

    rng = random.Random(3)
    for c in [b"", b"x", b"hello" * 100,
              bytes(rng.randrange(256) for _ in range(5000))]:
        f = decode_png(png_bytes(c))
        assert f["sum_rgb"] == 3 * sum(c)
        assert f["head_px"] == (c[0] if c else 0)

    # foreign PNG exercising every filter type
    w, h = 8, 5
    pix = bytes(rng.randrange(256) for _ in range(w * h))
    rows = [pix[r * w : (r + 1) * w] for r in range(h)]

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    def filt(ftype, cur, prev):
        out = bytearray([ftype])
        for i in range(w):
            left = cur[i - 1] if i else 0
            up, upleft = prev[i], (prev[i - 1] if i else 0)
            pred = {0: 0, 1: left, 2: up, 3: (left + up) >> 1,
                    4: paeth(left, up, upleft)}[ftype]
            out.append((cur[i] - pred) & 0xFF)
        return bytes(out)

    raw, prev = b"", bytes(w)
    for r, ftype in enumerate([0, 1, 2, 3, 4]):
        raw += filt(ftype, rows[r], prev)
        prev = rows[r]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    foreign = (_SIG + _chunk(b"IHDR", ihdr)
               + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b""))
    assert decode_png(foreign)["sum_rgb"] == 3 * sum(pix)

    bad = bytearray(png_bytes(b"abc"))
    bad[20] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))

    @settings(max_examples=25, deadline=None)
    @given(st.binary(max_size=600))
    def rt(payload):
        f = decode_png(png_bytes(payload, width=16))
        assert f["sum_rgb"] == 3 * sum(payload)

    rt()


def test_bpe_train_deterministic_across_runs(spark, docs):
    """BPE training is a pure function of the corpus: two independent
    runs (fresh plans, fresh shuffles) learn identical merges with
    identical counts, and the final vocab sequences match exactly —
    the reproducibility a tokenizer artifact must have before it ships
    to a training run."""
    from cs_tutorial_reporting_spark.operators.bpe import bpe_train

    m1, v1 = bpe_train(docs, "text", n_merges=3)
    m2, v2 = bpe_train(docs, "text", n_merges=3)
    assert m1 == m2
    s1 = sorted((r.word, r.seq) for r in v1.collect())
    s2 = sorted((r.word, r.seq) for r in v2.collect())
    assert s1 == s2


def test_fuzzy_decontamination_catches_edited_leak(spark, docs):
    """The failure mode the exact n-gram probe misses: an eval snippet
    EDITED into the corpus (several words substituted) shares no long
    verbatim gram run but is still minhash-near its source. Plant an
    edited copy of an eval prefix as a new corpus doc and assert the
    fuzzy report flags it; a fully unrelated planted doc must NOT be
    flagged."""
    from cs_tutorial_reporting_spark.queries import QUERIES

    fuzzy = QUERIES["fuzzy_decontaminate_docs"].fn

    import tempfile

    base = docs.select("doc_id", "text", "lang", "source")
    prefix = base.filter(F.col("doc_id") == 105).select("text").first().text[:200]
    words = prefix.split(" ")
    # substitute every 6th word — breaks 8-gram runs, keeps Jaccard high
    edited = " ".join(
        (w if i % 6 else "EDITEDTOKEN") for i, w in enumerate(words)
    )
    planted = spark.createDataFrame(
        [(900001, edited, "en", "src1"),
         (900002, " ".join(f"unrelated{i}" for i in range(40)), "en", "src1")],
        "doc_id bigint, text string, lang string, source string",
    )
    tmp = tempfile.mkdtemp(prefix="fuzzydecon_")
    base.unionByName(planted).write.mode("overwrite").parquet(
        f"{tmp}/documents.parquet"
    )
    flagged = {r.doc_id: r for r in fuzzy(spark, tmp).collect()}
    assert 900001 in flagged and flagged[900001].max_jaccard >= 0.2
    assert 900002 not in flagged
    # the source doc itself is flagged too (its own prefix is the leak)
    assert 105 in flagged


def test_hyperplane_projections_stay_off_sign_boundary():
    """Pin the cross-engine ULP-parity assumption (round-5 ADVICE).

    hyperplane_bucket (NumPy matmul, pairwise summation) and its DuckDB
    twin (sequential list_dot_product fold) agree on bucket bits only
    because no harness projection sits within summation-reorder distance
    (~d·eps ≈ 1e-14) of the sign boundary. Assert the minimum
    |projection| over EVERY harness vector × plane, at both the smoke
    and oracle SFs and for both deployed plane counts (6 and 8), stays
    orders of magnitude above that — so a testdata regeneration that
    lands a vector near the boundary fails HERE, loudly, instead of as
    an unexplainable one-bucket hash mismatch in the driver gate."""
    import numpy as np
    import pyarrow.parquet as pq

    from cs_tutorial_reporting_spark.operators.similarity import _hyperplane

    H = np.array([_hyperplane(p, 64) for p in range(8)], dtype="float64").T
    worst = np.inf
    for sf_dir in (SF_SMOKE, "/root/testdata/sf0.01"):
        tbl = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["embedding"])
        V = np.stack(tbl.column("embedding").to_pylist()).astype("float64")
        proj = V @ H  # n×8 — covers the 6-plane config as a prefix
        worst = min(worst, float(np.abs(proj).min()))
    assert worst > 1e-9, (
        f"min |projection| = {worst:.3e} — within float-reorder distance "
        "of the sign boundary; regenerate embeddings or quantize the "
        "sign test before trusting cross-engine bucket parity"
    )


def test_jpeg_codec_roundtrip_dct_identity_and_rejection(spark):
    """The baseline JPEG pair is a REAL lossy codec with exact DC-level
    invariants: (a) DCT->IDCT inverts to 1e-10 before quantization;
    (b) decode(encode(p)) pixels are within the all-ones-quant error
    bound (<=2) of the original, and DC stats match the closed form the
    SQL oracle uses; (c) a hand-assembled foreign file with restart
    markers + DRI decodes (DC predictor reset verified); (d) malformed
    / out-of-subset inputs raise ValueError; (e) hypothesis property
    over arbitrary payloads."""
    import random
    import struct as _struct

    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cs_tutorial_reporting_spark.multimodal.jpeg import (
        _AC_BITS,
        _AC_VALS,
        _DC_BITS,
        _DC_VALS,
        _M,
        _BitWriter,
        _canonical_codes,
        _encode_coef,
        decode_jpeg,
        jpeg_bytes,
    )

    # (a) DCT orthonormal inversion, no quantization
    rng = random.Random(11)
    blk = np.array(
        [[rng.randrange(256) for _ in range(8)] for _ in range(8)],
        dtype="float64",
    )
    rt = _M.T @ (_M @ (blk - 128.0) @ _M.T) @ _M + 128.0
    assert np.abs(rt - blk).max() < 1e-10

    # (b) full round-trip: pixels within bound, DC stats exact
    def expected_dc(payload: bytes, width=16):
        height = max(-(-len(payload) // width), 1)
        h8 = -(-height // 8)
        pix = np.zeros((h8 * 8, width))
        flat = np.zeros(height * width)
        flat[: len(payload)] = np.frombuffer(payload, dtype="uint8")
        pix[:height] = flat.reshape(height, width)
        dcs = [
            (int(pix[r * 8 : r * 8 + 8, c * 8 : c * 8 + 8].sum()) - 8188)
            // 8
            for r in range(h8)
            for c in range(width // 8)
        ]
        return dcs, flat.reshape(height, width)

    for payload in (
        b"",
        b"q",
        bytes(rng.randrange(256) for _ in range(3000)),
        b"zz" * 2000,
    ):
        d = decode_jpeg(jpeg_bytes(payload), want_pixels=True)
        dcs, orig = expected_dc(payload)
        assert d["dc_sum"] == sum(dcs) and d["dc_head"] == dcs[0]
        assert np.abs(d["pixels"].astype("float64") - orig).max() <= 2

    # (c) foreign file: 4 blocks of constant 128 with DRI=1 and RST0-2
    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)
    pieces = []
    for _ in range(4):  # each block: DC diff 1024 (prev reset to 0), EOB
        w = _BitWriter()
        _encode_coef(w, dc_codes, -1024 + 8192 // 8)  # 128*64/8-1024 = 0
        code, length = ac_codes[0x00]
        w.write(code, length)
        pieces.append(w.flush())
    scan = b"".join(
        p + (b"\xff" + bytes([0xD0 + i]) if i < 3 else b"")
        for i, p in enumerate(pieces)
    )

    def seg(marker, body):
        return _struct.pack(">HH", marker, len(body) + 2) + body

    foreign = (
        b"\xff\xd8"
        + seg(0xFFDB, b"\x00" + b"\x01" * 64)
        + seg(0xFFC0, _struct.pack(">BHHB", 8, 16, 16, 1) + bytes([1, 0x11, 0]))
        + seg(0xFFC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS))
        + seg(0xFFC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS))
        + seg(0xFFDD, _struct.pack(">H", 1))  # DRI: restart every block
        + seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + scan
        + b"\xff\xd9"
    )
    f = decode_jpeg(foreign, want_pixels=True)
    assert f["n_blocks"] == 4 and f["dc_sum"] == 0  # all-128 blocks: DC 0
    assert (f["pixels"] == 128).all()

    # (d) rejection: conformant ValueError on out-of-subset / corrupt
    import pytest as _pytest

    good = jpeg_bytes(b"hello world")
    with _pytest.raises(ValueError):
        decode_jpeg(b"\x00\x01" + good[2:])  # no SOI
    with _pytest.raises(ValueError):
        decode_jpeg(good[:-30])  # truncated entropy segment
    prog = bytearray(good)
    sof_at = good.find(b"\xff\xc0")
    prog[sof_at + 1] = 0xC2  # flip SOF0 -> SOF2 (progressive)
    with _pytest.raises(ValueError):
        decode_jpeg(bytes(prog))

    # (e) property: DC invariants hold for arbitrary payloads
    @settings(max_examples=25, deadline=None)
    @given(st.binary(max_size=400))
    def rt_prop(payload):
        d = decode_jpeg(jpeg_bytes(payload))
        dcs, _ = expected_dc(payload)
        assert d["dc_sum"] == sum(dcs)
        assert d["n_blocks"] == len(dcs)

    rt_prop()


def test_bpe_tokenize_applies_merges_without_crossing_word_boundary(spark):
    """The encode path (round 6): learned merges apply in rank order
    over the FLAT document sequence, and a pair whose halves sit at a
    word boundary never fires — hand-computed counts on a corpus where
    the winning pair ('a b' inside words) is exactly the byte pair
    adjacent across 'b a' word boundaries."""
    from cs_tutorial_reporting_spark.operators.bpe import (
        bpe_tokenize_stats,
        bpe_train,
    )

    docs = spark.createDataFrame(
        [(1, "abc abc abc"), (2, "ab ca"), (3, ""), (4, "ca bc")],
        "doc_id bigint, text string",
    )
    merges, _ = bpe_train(docs, "text", n_merges=1)
    # counts: 'a b'=4 ties 'b c'=3? no — a b: 3 (abc) + 1 (ab) = 4 wins
    assert merges[0][0] == "a b"
    out = {
        r.doc_id: r
        for r in bpe_tokenize_stats(docs, "text", "doc_id", merges).collect()
    }
    # doc 1: 'abc' -> [ab c </w>] = 3 tokens x3
    assert (out[1].n_words, out[1].n_chars, out[1].n_tokens) == (3, 9, 9)
    # doc 2: 'ab' -> [ab </w>] 2; 'ca' -> [c a </w>] 3
    assert (out[2].n_words, out[2].n_chars, out[2].n_tokens) == (2, 4, 5)
    assert (out[3].n_words, out[3].n_chars, out[3].n_tokens) == (0, 0, 0)
    # doc 4: 'ca bc' — the a|b adjacency is CROSS-WORD ('a </w> b'), so
    # the learned 'a b' must NOT fire: both words stay char-split
    assert (out[4].n_words, out[4].n_chars, out[4].n_tokens) == (2, 4, 6)


def test_cross_rarity_counts_unseen_grams_as_rare(spark):
    """Held-out LM scoring (round 6): grams absent from the reference
    model count as rare (left-join null), so a fully out-of-domain
    target doc scores rarity 1.0 while an in-domain one scores 0.0 when
    its grams are reference-frequent."""
    from cs_tutorial_reporting_spark.operators.ngram_lm import (
        cross_rarity_scores,
    )

    ref = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(5)],
        "doc_id bigint, text string",
    )
    tgt = spark.createDataFrame(
        [(100, "the cat sat"),          # both grams seen 5x -> 0.0
         (101, "quantum flux capacitor"),  # nothing seen -> 1.0
         (102, "the cat flew away")],   # 1 of 3 seen-frequent
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in cross_rarity_scores(ref, tgt).collect()}
    assert out[100].rarity == 0.0 and out[100].n_rare == 0
    assert out[101].rarity == 1.0 and out[101].n_rare == 2
    assert (out[102].n_bigrams, out[102].n_rare) == (3, 2)


def test_mjpeg_codec_sampling_and_rejection(spark):
    """MJPEG (round 6, jpeg ∘ avi): (a) sampled-frame DC sums match the
    closed form the SQL oracle uses, every 2nd frame at the defaults;
    (b) a corrupt sampled frame fails loudly (the JPEG layer raises
    through the container walk); (c) container-level malformations
    (bad magic, frame-count mismatch) raise ValueError; (d) hypothesis
    property over arbitrary payloads."""
    import struct as _struct

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cs_tutorial_reporting_spark.multimodal.mjpeg import (
        decode_mjpeg,
        mjpeg_bytes,
    )

    def expected(payload: bytes):
        fsz = 128
        nf = max(-(-len(payload) // fsz), 1)
        dc = 0
        for k in range(0, nf, 2):
            fb = payload[k * fsz : (k + 1) * fsz]
            fb = fb + b"\x00" * (fsz - len(fb))
            for b in range(2):
                bs = sum(
                    fb[r * 16 + c]
                    for r in range(8)
                    for c in range(8 * b, 8 * b + 8)
                )
                dc += (bs - 8188) // 8
        return nf, dc

    payload = bytes(range(256)) * 3
    d = decode_mjpeg(mjpeg_bytes(payload))
    nf, dc = expected(payload)
    assert (d["n_frames"], d["dc_sum_sampled"]) == (nf, dc)
    assert d["n_sampled"] == (nf + 1) // 2

    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_mjpeg(b"RIFX" + mjpeg_bytes(b"x")[4:])
    # corrupt the FIRST sampled frame's entropy data -> JPEG layer raises
    good = bytearray(mjpeg_bytes(payload))
    sos = bytes(good).find(b"\xff\xda")
    good[sos + 20 : sos + 24] = b"\xff\xff\xff\xff"
    with _pytest.raises(ValueError):
        decode_mjpeg(bytes(good))
    # frame-count mismatch: lie in avih
    g2 = bytearray(mjpeg_bytes(payload))
    avih_at = bytes(g2).find(b"avih")
    (claimed,) = _struct.unpack_from("<I", g2, avih_at + 8 + 16)
    _struct.pack_into("<I", g2, avih_at + 8 + 16, claimed + 1)
    with _pytest.raises(ValueError):
        decode_mjpeg(bytes(g2))

    @settings(max_examples=15, deadline=None)
    @given(st.binary(max_size=700))
    def rt(p):
        d = decode_mjpeg(mjpeg_bytes(p))
        nf, dc = expected(p)
        assert (d["n_frames"], d["dc_sum_sampled"]) == (nf, dc)

    rt()


def test_wav_dsp_features_hand_computed(spark):
    """Audio DSP (round 6): energy / zero-crossings / framed peaks are
    integer-exact on hand-built int16 PCM, including the sign
    convention (-1 = 0xFFFF), odd trailing bytes, and the 16-bit-mono
    guard."""
    import struct as _struct

    from cs_tutorial_reporting_spark.multimodal.wav import (
        wav_bytes,
        wav_dsp_features,
    )

    samples = [100, -200, 300, 0, -1]  # crossings at 1,2,3? see below
    pcm = _struct.pack("<5h", *samples)
    d = wav_dsp_features(wav_bytes(pcm, sampwidth=2), frame_len=2)
    assert d["n_samples"] == 5 and d["n_frames"] == 3
    assert d["sum_energy"] == 100**2 + 200**2 + 300**2 + 0 + 1
    # crossings: (100,-200) (−200,300) (300,0: neg→nonneg? 300>=0,0>=0 no)
    # (0,-1) yes → 3 total
    assert d["n_zero_cross"] == 3
    assert d["peak_abs"] == 300
    # frames of 2: [100,-200]=50000, [300,0]=90000, [-1,(pad 0)]=1
    assert d["max_frame_energy"] == 90000

    # odd trailing byte ignored
    d2 = wav_dsp_features(wav_bytes(pcm + b"\x7f", sampwidth=2))
    assert d2["n_samples"] == 5 and d2["sum_energy"] == d["sum_energy"]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        wav_dsp_features(wav_bytes(pcm, sampwidth=1))  # 8-bit: guarded


def test_gapfill_interpolates_interior_hours_exactly(spark):
    """Hourly gap-fill (round 6): a 3-hour interior gap interpolates
    linearly in fixed-point (10.0 → 18.0 over 4 steps = 12.0, 14.0,
    16.0), multiple same-hour events average first, and grid endpoints
    are observed by construction."""
    from cs_tutorial_reporting_spark.operators.timeseries import (
        hourly_gapfill_interpolate,
    )

    TS = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731
    ev = spark.createDataFrame(
        [(1, TS("2024-03-01T00:10:00"), 9.0),
         (1, TS("2024-03-01T00:40:00"), 11.0),   # hour 0 avg = 10.0
         (1, TS("2024-03-01T04:30:00"), 18.0),   # hours 1-3 missing
         (2, TS("2024-03-01T07:15:00"), 5.5)],   # single-hour key
        "user_id bigint, ts timestamp, value double",
    )
    out = hourly_gapfill_interpolate(ev, "user_id", "ts", "value")
    rows = {(r.user_id, r.hour.hour): r for r in out.collect()}
    assert len(rows) == 6  # user 1: hours 0-4; user 2: hour 7
    assert rows[(1, 0)].value_fp == 100000 and rows[(1, 0)].is_observed
    assert rows[(1, 4)].value_fp == 180000 and rows[(1, 4)].is_observed
    for h, expect in ((1, 120000), (2, 140000), (3, 160000)):
        assert rows[(1, h)].value_fp == expect
        assert not rows[(1, h)].is_observed
    assert rows[(2, 7)].value_fp == 55000 and rows[(2, 7)].is_observed


def test_conjunctive_search_requires_all_terms(spark):
    """Inverted-index AND query (round 6): a doc matching only 2 of 3
    terms is excluded; ranking sums tf with ties to the lowest id; the
    term filter reaches the posting scan as an In predicate."""
    from cs_tutorial_reporting_spark.operators.search import (
        build_inverted_index,
        conjunctive_search,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma alpha"),
         (2, "alpha beta"),            # missing gamma -> excluded
         (3, "alpha beta gamma"),
         (4, "Alpha BETA gamma beta")],  # case-folds; tf 4
        "doc_id bigint, text string",
    )
    idx = build_inverted_index(docs)
    out = conjunctive_search(idx, ["alpha", "BETA", "gamma"], k=10).collect()
    assert [(r.doc_id, r.score_tf) for r in out] == [(1, 4), (4, 4), (3, 3)]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        conjunctive_search(idx, [])


def test_search_term_filter_pushes_to_on_disk_posting_scan(spark, tmp_path):
    """The scale claim behind the posting layout: once the index is ON
    DISK, a query's term IN-list must reach the parquet scan as a
    pushed filter (row-group pruning under a term-sorted layout) —
    query cost ∝ matched postings, not corpus size."""
    import contextlib
    import io

    from cs_tutorial_reporting_spark.operators.search import (
        build_inverted_index,
        conjunctive_search,
    )
    from cs_tutorial_reporting_spark.sources.readers import load_table

    path = str(tmp_path / "postings")
    build_inverted_index(
        load_table(spark, SF_SMOKE, "documents")
    ).write.mode("overwrite").parquet(path)
    q = conjunctive_search(spark.read.parquet(path), ["window", "merge"], k=5)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain(mode="formatted")
    p = buf.getvalue()
    pushed = p.split("PushedFilters")[1].split("\n")[0]
    assert "In(term" in pushed, pushed


def test_funnel_strict_ordering_and_tie_exclusion(spark):
    """Funnel (round 6): a next-stage event at the SAME instant as the
    previous stage's completion does NOT count (strict >); out-of-order
    completions don't either; reach counts are monotone non-increasing."""
    from cs_tutorial_reporting_spark.operators.funnel import funnel_conversion

    TS = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731
    ev = spark.createDataFrame(
        [  # user 1: full ordered funnel
         (1, TS("2024-01-01T10:00:00"), "view"),
         (1, TS("2024-01-01T10:05:00"), "click"),
         (1, TS("2024-01-01T10:10:00"), "purchase"),
         # user 2: click at the SAME instant as the view -> stops at view
         (2, TS("2024-01-01T11:00:00"), "view"),
         (2, TS("2024-01-01T11:00:00"), "click"),
         # user 3: purchase BEFORE click -> stops at click
         (3, TS("2024-01-01T12:00:00"), "view"),
         (3, TS("2024-01-01T12:02:00"), "purchase"),
         (3, TS("2024-01-01T12:05:00"), "click"),
         # user 4: never viewed -> not in the funnel at all
         (4, TS("2024-01-01T13:00:00"), "click")],
        "user_id bigint, ts timestamp, event_type string",
    )
    out = {r.stage: r.n_keys for r in funnel_conversion(
        ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    ).collect()}
    assert out == {"view": 3, "click": 2, "purchase": 1}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        funnel_conversion(ev, "user_id", "ts", "event_type", ["view"])


def test_grouped_ols_slope_bucketed_matches_per_key(spark):
    """r14 internals pin: grouped_ols_slope groups by hash BUCKET and
    reduces per key with np.add.reduceat inside the bucket — every key
    must still surface exactly once with its own two-pass centered
    slope (keys sharing a bucket must not mix), min_points must filter,
    and a zero-variance group (all x equal) must yield NULL."""
    import math

    TS = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731
    rows = []
    # 40 keys -> several keys per bucket at the test's 64 buckets;
    # slope of key k is exactly k (y = k * x_days)
    base = dt.datetime(2024, 1, 1)
    for k in range(1, 41):
        for i in range(6):
            rows.append((k, base + dt.timedelta(days=i), float(k * i)))
    # key 1000: 5 points all at the SAME instant -> sxx == 0 -> NULL
    rows += [(1000, TS("2024-02-01T00:00:00"), float(i)) for i in range(5)]
    # key 2000: only 4 points -> filtered by min_points=5
    rows += [(2000, base + dt.timedelta(days=i), 1.0) for i in range(4)]
    ev = spark.createDataFrame(rows, "user_id bigint, ts timestamp, value double")

    from cs_tutorial_reporting_spark.operators.sessionize import grouped_ols_slope

    got = {r.user_id: r for r in grouped_ols_slope(ev, min_points=5).collect()}
    assert set(got) == set(range(1, 41)) | {1000}
    for k in range(1, 41):
        assert got[k].n == 6
        assert math.isclose(got[k].slope, float(k), rel_tol=1e-9), (k, got[k])
    assert got[1000].slope is None and got[1000].n == 5


def test_blocked_linkage_caps_blocks_and_matches_known_pairs(spark):
    """Record linkage (round 6): same-block near-names pair at their
    exact edit distance; cross-block pairs never form even at distance
    0; an oversized block is dropped BEFORE pair expansion."""
    from cs_tutorial_reporting_spark.operators.linkage import (
        blocked_edit_distance_pairs,
    )

    rows = [
        (1, "jon smith", 10), (2, "john smith", 10),   # d=1
        (3, "jane doe", 11), (4, "jane roe", 11),      # d=1
        (5, "jon smith", 20),   # identical to id 1 but other block
    ]
    # an oversized block (cap=3 below): 4 members -> excluded entirely
    rows += [(100 + i, f"dup name {i}", 30) for i in range(4)]
    df = spark.createDataFrame(rows, "id bigint, name string, blk int")
    out = blocked_edit_distance_pairs(
        df, "id", "name", "blk", max_dist=2, max_block=3
    ).collect()
    got = {(r.id_a, r.id_b): r.dist for r in out}
    assert got == {(1, 2): 1, (3, 4): 1}  # no cross-block, no capped-block


def test_phrase_search_adjacency_and_overlaps(spark):
    """Positional phrase search (round 6): only consecutive occurrences
    match ("key order" but not "key x order"); overlapping repeats all
    count ("batch batch batch" has 2 "batch batch" starts); 3-term
    phrases chain the shifted intersections correctly (the 2-parameter
    lambda pitfall — index-vs-offset — is exactly what this pins)."""
    from cs_tutorial_reporting_spark.operators.search import (
        build_positional_index,
        phrase_search,
    )

    docs = spark.createDataFrame(
        [(1, "key order now"),
         (2, "key x order"),
         (3, "batch batch batch"),
         (4, "a key order b key order")],
        "doc_id bigint, text string",
    )
    idx = build_positional_index(docs)
    two = {r.doc_id: r.n_occurrences
           for r in phrase_search(idx, ["key", "order"]).collect()}
    assert two == {1: 1, 4: 2}
    rep = {r.doc_id: r.n_occurrences
           for r in phrase_search(idx, ["batch", "batch"]).collect()}
    assert rep == {3: 2}
    three = {r.doc_id: r.n_occurrences
             for r in phrase_search(idx, ["key", "order", "now"]).collect()}
    assert three == {1: 1}


def test_profile_table_and_drift_hand_computed(spark):
    """Profiling (round 6): per-column stats from ONE aggregation pass
    (nulls counted, distincts exact, min/max as strings in the
    original type's order), and the drift diff flags exactly the
    columns whose range moved."""
    from cs_tutorial_reporting_spark.operators.profile import (
        profile_drift,
        profile_table,
    )

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, None, 30.0)],
        "id bigint, s string, v double",
    )
    new = spark.createDataFrame(
        [(4, "a", 10.0), (5, "a", 25.0), (6, None, 30.0), (7, None, 5.0)],
        "id bigint, s string, v double",
    )
    prof = {r.column: r for r in profile_table(old, ["s", "v"]).collect()}
    assert prof["s"].n_rows == 3 and prof["s"].n_null == 1
    assert prof["s"].n_distinct == 2  # NULL not counted
    assert (prof["v"].min_s, prof["v"].max_s) == ("10.0", "30.0")

    drift = {r.column: r for r in profile_drift(old, new, ["s", "v"]).collect()}
    assert (drift["s"].d_rows, drift["s"].d_null, drift["s"].d_distinct) == (1, 1, -1)
    assert drift["s"].range_moved  # max 'b' -> 'a'
    assert (drift["v"].d_null, drift["v"].d_distinct) == (0, 1)
    assert drift["v"].range_moved  # min 10 -> 5

    import pytest as _pytest

    with _pytest.raises(ValueError):
        profile_table(old, [])


def test_snapshot_diff_classifies_and_counts_changed_columns(spark):
    """Row-level CDC (round 6): added/removed/changed/unchanged classify
    correctly, a NULL and the literal string 'NULL'-ish value don't
    collide in the digest, and changed_column_counts attributes the
    change to the right column."""
    from cs_tutorial_reporting_spark.operators.diff import (
        changed_column_counts,
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, None, 30.0), (4, "d", 40.0)],
        "k bigint, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0),        # unchanged
         (2, "b", 21.0),        # changed (v)
         (3, "\x00null", 30.0),  # changed: NULL -> sentinel-looking string
         (5, "e", 50.0)],       # added; 4 removed
        "k bigint, s string, v double",
    )
    row = snapshot_diff(old, new, ["k"], ["s", "v"]).first()
    assert (row.n_added, row.n_removed, row.n_changed, row.n_unchanged) == (
        1, 1, 2, 1,
    )
    cc = {r.column: r.n_changed
          for r in changed_column_counts(old, new, ["k"], ["s", "v"]).collect()}
    assert cc == {"s": 1, "v": 1}


def test_anomaly_hours_exact_integer_algebra(spark):
    """Float-free 3σ flags (round 6): a single spike in an otherwise
    flat-ish series is flagged, a constant series has zero variance
    and zero flags (strict >), and magnitudes that overflow int64 in
    the cross terms survive the decimal path exactly."""
    from cs_tutorial_reporting_spark.operators.timeseries import (
        anomaly_hours_exact,
    )

    rows = [(1, i, 5_000_000 if i == 7 else 10_000) for i in range(50)]
    rows += [(2, i, 123_456) for i in range(40)]  # constant: no flags
    s = spark.createDataFrame(rows, "k bigint, i bigint, value_fp bigint")
    out = {r.k: r for r in anomaly_hours_exact(s, "k", "value_fp").collect()}
    assert (out[1].n_points, out[1].n_anomalies) == (50, 1)
    assert (out[2].n_points, out[2].n_anomalies) == (40, 0)
    # cross-check the flagged point against exact Python integers
    vals = [5_000_000 if i == 7 else 10_000 for i in range(50)]
    n, S, Q = len(vals), sum(vals), sum(v * v for v in vals)
    assert sum(
        1 for v in vals if (n * v - S) ** 2 > 9 * (n * Q - S * S)
    ) == 1


def test_exact_dedup_minby_equals_semijoin_form(spark):
    """The r11 one-pass min_by exact_dedup must match the retired
    groupBy-min + left-semi dataflow row-for-row (kept as the
    reference twin below) on the registered query's own doubled
    corpus — including column names/order, since .select('__row.*')
    must reconstruct the caller's frame exactly."""
    from pyspark.sql import functions as F

    from cs_tutorial_reporting_spark.functions.text import normalize_text
    from cs_tutorial_reporting_spark.operators.dedup import exact_dedup

    def semijoin_form(df, text_col, id_col):
        h = F.md5(normalize_text(F.col(text_col))).alias("__h")
        keep = (
            df.select(h, F.col(id_col))
            .groupBy("__h")
            .agg(F.min(id_col).alias(id_col))
            .select(id_col)
        )
        return df.join(keep, on=id_col, how="left_semi")

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    doubled = d.unionByName(
        d.select((F.col("doc_id") + 100000).alias("doc_id"), "text", "lang")
    )
    got = exact_dedup(doubled, "text", "doc_id")
    want = semijoin_form(doubled, "text", "doc_id")
    assert got.columns == doubled.columns == want.columns
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # the one-pass claim: partial (map-side) min_by in the plan, and
    # no join operator anywhere
    p = got._jdf.queryExecution().executedPlan().toString()
    assert "partial_min_by" in p and "Join" not in p


def test_item_similarity_explode_sym_equals_union_form(spark):
    """The r11 explode symmetrization in item_similarity_topk must
    match the retired union-of-two-selects form row-for-row (the union
    re-evaluated the quadratic basket join per leg; the explode
    doubles the small aggregated pair frame instead). Full-query
    comparison at sf0.01 — the twin below re-states the whole query
    with the retired symmetrization."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cs_tutorial_reporting_spark.queries import QUERIES

    def union_form(spark, sf_dir):
        li = (
            spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            .select("l_orderkey", "l_partkey")
            .distinct()
        )
        occ = li.groupBy(F.col("l_partkey").alias("p")).agg(
            F.count("*").alias("n")
        )
        cooc = (
            li.toDF("okey", "pa")
            .join(li.toDF("okey", "pb"), "okey")
            .filter(F.col("pa") < F.col("pb"))
            .groupBy("pa", "pb")
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") >= 2)
        )
        sym = cooc.select(
            F.col("pa").alias("p"), F.col("pb").alias("q"), "c"
        ).unionByName(
            cooc.select(F.col("pb").alias("p"), F.col("pa").alias("q"), "c")
        )
        score = F.expr("CAST(c * c * 1000000 div (np * nq) AS BIGINT)")
        w = Window.partitionBy("p").orderBy(
            F.col("cos2_ppm").desc(), F.col("q").asc()
        )
        return (
            sym.join(F.broadcast(occ.toDF("p", "np")), "p")
            .join(F.broadcast(occ.toDF("q", "nq")), "q")
            .withColumn("cos2_ppm", score)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select(
                F.col("p").alias("part"),
                F.col("q").alias("similar_part"),
                "cos2_ppm",
                F.col("rn").cast("bigint").alias("rank"),
            )
        )

    sf = "/root/testdata/sf0.01"
    got = sorted(
        map(tuple, QUERIES["item_similarity_topk"].fn(spark, sf).collect())
    )
    want = sorted(map(tuple, union_form(spark, sf).collect()))
    assert got == want and len(got) > 0


def test_gapfill_lead_form_equals_join_form(spark):
    """The r11 gap-explode gapfill (lead + per-gap sequence, one scan,
    no self-join) must be BIT-IDENTICAL to the r6–r10 dataflow it
    replaced: per-key span frame → full-grid explode → left join of
    observations → two unbounded carry windows. The twin below IS that
    retired dataflow, kept verbatim as the reference semantics."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cs_tutorial_reporting_spark.operators.timeseries import (
        hourly_gapfill_interpolate,
    )

    def join_form(events, key_col, ts_col, val_col):
        k = F.col(key_col)
        hour = F.date_trunc("hour", F.col(ts_col)).alias("hour")
        hourly = events.groupBy(k.alias("__k"), hour).agg(
            F.floor(F.avg(val_col) * 10000 + F.lit(0.5))
            .cast("bigint")
            .alias("__v")
        )
        spans = hourly.groupBy("__k").agg(
            F.min("hour").alias("__h0"), F.max("hour").alias("__h1")
        )
        grid = spans.select(
            "__k",
            F.explode(
                F.expr("sequence(__h0, __h1, interval 1 hour)")
            ).alias("hour"),
        )
        g = grid.join(hourly, ["__k", "hour"], "left")
        hi = (F.unix_timestamp("hour") / 3600).cast("bigint")
        g = g.withColumn("__hi", hi)
        obs_hi = F.when(F.col("__v").isNotNull(), F.col("__hi"))
        w_prev = (
            Window.partitionBy("__k")
            .orderBy("__hi")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_next = (
            Window.partitionBy("__k")
            .orderBy("__hi")
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        carried = g.select(
            "__k",
            "hour",
            "__hi",
            "__v",
            F.last("__v", ignorenulls=True).over(w_prev).alias("__pv"),
            F.last(obs_hi, ignorenulls=True).over(w_prev).alias("__ph"),
            F.first("__v", ignorenulls=True).over(w_next).alias("__nv"),
            F.first(obs_hi, ignorenulls=True).over(w_next).alias("__nh"),
        )
        frac = (F.col("__hi") - F.col("__ph")) / (
            F.col("__nh") - F.col("__ph")
        )
        interp = F.floor(
            F.col("__pv") + (F.col("__nv") - F.col("__pv")) * frac
            + F.lit(0.5)
        ).cast("bigint")
        return carried.select(
            F.col("__k").alias(key_col),
            "hour",
            F.coalesce(F.col("__v"), interp).alias("value_fp"),
            F.col("__v").isNotNull().alias("is_observed"),
        )

    events = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    got = sorted(
        map(
            tuple,
            hourly_gapfill_interpolate(
                events, "user_id", "ts", "value"
            ).collect(),
        )
    )
    want = sorted(
        map(tuple, join_form(events, "user_id", "ts", "value").collect())
    )
    assert got == want and len(got) > 0
    # the dense grid really is dense: per-key hour count == span hours
    from collections import defaultdict

    per_key = defaultdict(list)
    for key, hour, _v, _o in got:
        per_key[key].append(hour)
    for key, hours in per_key.items():
        hours.sort()
        span = int((hours[-1] - hours[0]).total_seconds() // 3600) + 1
        assert len(hours) == span, (key, len(hours), span)


def test_gapfill_null_hours_are_gaps_not_observations(spark):
    """Hours whose every event value is NULL are GAPS (ADVICE r11):
    interpolated across with is_observed=false — the retired
    join-form's interior ignorenulls-carry semantics — and the output
    contract guarantees value_fp is never NULL. The one documented
    divergence from the retired form: a null-valued hour at the span
    EDGE no longer extends the grid (the retired form emitted it with
    a NULL value and nothing to interpolate from)."""
    from datetime import datetime

    from cs_tutorial_reporting_spark.operators.timeseries import (
        hourly_gapfill_interpolate,
    )

    def h(i):
        return datetime(2024, 1, 1, i)

    rows = [
        # k1: null EDGE hour 0, obs h1=10.0, interior null hour 3,
        # obs h5=50.0 — grid must span h1..h5 only
        ("k1", h(0), None),
        ("k1", h(1), 10.0),
        ("k1", h(3), None),
        ("k1", h(3), None),  # whole hour null, not a partial
        ("k1", h(5), 50.0),
        # k2: null hour between two observations plus a MIXED hour
        # (null + real value) that stays observed via the null-skipping
        # mean
        ("k2", h(2), 20.0),
        ("k2", h(3), None),
        ("k2", h(4), None),
        ("k2", h(4), 40.0),
    ]
    events = spark.createDataFrame(rows, "user_id string, ts timestamp, value double")
    got = {
        (r["user_id"], r["hour"]): (r["value_fp"], r["is_observed"])
        for r in hourly_gapfill_interpolate(
            events, "user_id", "ts", "value"
        ).collect()
    }
    want = {
        # k1 grid starts at the first USABLE observation (h1), not the
        # null edge hour h0
        ("k1", h(1)): (100000, True),
        ("k1", h(2)): (200000, False),  # plain gap, interpolated
        ("k1", h(3)): (300000, False),  # null hour == gap (the fix)
        ("k1", h(4)): (400000, False),
        ("k1", h(5)): (500000, True),
        ("k2", h(2)): (200000, True),
        ("k2", h(3)): (300000, False),  # null hour == gap
        ("k2", h(4)): (400000, True),  # mixed hour: avg skips nulls
    }
    assert got == want
    assert all(v is not None for v, _ in got.values())


def test_anomaly_hours_window_form_equals_join_form(spark):
    """The r11 single-pass window rewrite of anomaly_hours_exact must
    be BIT-IDENTICAL to the groupBy-stats + join-back dataflow it
    replaced (integer sums are order-free, so equality is exact, not
    approximate) — pinned on the registered query's own composition
    (gapfill at sf0.001) so the upstream double-evaluation shape it
    removed stays covered."""
    from pyspark.sql import functions as F

    from cs_tutorial_reporting_spark.operators.timeseries import (
        anomaly_hours_exact,
        hourly_gapfill_interpolate,
    )

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    dense = hourly_gapfill_interpolate(events, "user_id", "ts", "value")

    def join_form(series, key_col, val_col, z):
        d19, d38 = "decimal(19,0)", "decimal(38,0)"
        v = F.col(val_col)
        stats = series.groupBy(key_col).agg(
            F.count("*").alias("__n"),
            F.sum(v).alias("__s"),
            F.sum(v * v).alias("__q"),
        )
        j = series.join(stats, key_col)
        lhs = (
            F.col("__n").cast(d19) * v.cast(d19) - F.col("__s").cast(d19)
        ).cast(d19)
        rhs = F.lit(z * z).cast(d19) * (
            F.col("__n").cast(d19) * F.col("__q").cast(d19)
            - F.col("__s").cast(d19) * F.col("__s").cast(d19)
        ).cast(d38)
        flag = (lhs * lhs).cast(d38) > rhs.cast(d38)
        return j.groupBy(key_col).agg(
            F.count("*").alias("n_points"),
            F.sum(F.when(flag, 1).otherwise(0))
            .cast("bigint")
            .alias("n_anomalies"),
        )

    got = sorted(
        map(tuple, anomaly_hours_exact(dense, "user_id", "value_fp").collect())
    )
    want = sorted(
        map(tuple, join_form(dense, "user_id", "value_fp", 3).collect())
    )
    assert got == want and len(got) > 0


def test_transform_with_state_lifecycle(spark, tmp_path):
    """transformWithStateInPandas (Spark 4 typed-state API): cross-batch
    max-gap state over two TIME-SPLIT files must equal the batch
    lag-window answer. ENVIRONMENT-BLOCKED today: the TWS Python worker
    protocol imports google.protobuf, absent from this container
    (streaming/stateful.py module note) — this test activates the
    moment protobuf appears."""
    pytest.importorskip("google.protobuf")
    from cs_tutorial_reporting_spark.streaming.stateful import (
        user_lifecycle_state,
    )

    ev = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    cut = ev.selectExpr("percentile_disc(0.5) WITHIN GROUP (ORDER BY ts) p").collect()[0].p
    src = str(tmp_path / "tws_src")
    ev.filter(F.col("ts") <= cut).coalesce(1).write.parquet(src, mode="overwrite")
    ev.filter(F.col("ts") > cut).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(
            "user_id bigint, event_id bigint, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        q = (
            user_lifecycle_state(stream)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("tws_out")
            .start()
        )
        try:
            q.processAllAvailable()
            assert q.lastProgress["batchId"] >= 1
        finally:
            q.stop()
    finally:
        spark.conf.set(key, prev)

    got = {
        r.user_id: (r.n_events, r.max_gap_ms)
        for r in spark.sql(
            """SELECT user_id, max(n_events) n_events, max(max_gap_ms) max_gap_ms
               FROM tws_out GROUP BY user_id"""
        ).collect()
    }
    want = {
        r.user_id: (r.n_events, r.max_gap_ms)
        for r in ev.selectExpr(
            "user_id",
            "unix_millis(ts) AS ts_ms",
            "unix_millis(ts) - lag(unix_millis(ts)) OVER "
            "(PARTITION BY user_id ORDER BY ts, event_id) AS gap",
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.coalesce(F.max("gap"), F.lit(0)).alias("max_gap_ms"),
        )
        .collect()
    }
    assert got == want


def test_substring_dup_spans_semantics(spark):
    """Pins the ExactSubstr span algebra (operators/dedup.py::
    substring_dup_spans) on a hand-built corpus at k=10:

    - a 10-char block shared by two docs marks exactly that window;
    - overlapping duplicated windows chain into ONE span whose char
      count is the interval union (telescoping min(k, gap) rule);
    - self-repetition inside one document counts (corpus-wide >1);
    - a document with no duplicated k-gram emits NO row;
    - text shorter than k emits no grams at all.
    """
    from cs_tutorial_reporting_spark.operators.dedup import (
        substring_dup_spans,
    )

    block = "ABCDEFGHIJ"  # the shared 10-gram
    rows = [
        # doc 1 / doc 2: block at positions 3 and 1 respectively, with
        # otherwise-unique filler (digits chosen to never repeat a
        # 10-gram elsewhere)
        (1, "xy" + block + "qrstuvw123", len("xy" + block + "qrstuvw123")),
        (2, block + "zzpony45678", len(block + "zzpony45678")),
        # doc 3: block twice back-to-back — self-repetition; the two
        # occurrences' windows [1..10] and [11..20] touch (gap 10 = k)
        # and the 9 bridging grams ("BCDEFGHIJA"...) appear only here,
        # so the duplicated positions are 1 and 11 -> ONE span of 20
        (3, block + block, 20),
        # doc 4: all-unique text -> no output row
        (4, "no repeats here at all 999", 26),
        # doc 5: shorter than k -> no grams
        (5, "tiny", 4),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, n long")
    got = {
        r.doc_id: (r.n_spans, r.dup_chars, r.dup_ppm)
        for r in substring_dup_spans(df, "text", "doc_id", "n", k=10).collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1] == (1, 10, 10 * 1_000_000 // 22)
    assert got[2] == (1, 10, 10 * 1_000_000 // 21)
    # doc 3: positions 1 and 11, gap == k chains -> one span, 10 + 10
    assert got[3] == (1, 20, 1_000_000)


def test_topgram_repetition_edges(spark):
    """Pins the Gopher repetition signals (operators/ngram_lm.py::
    topgram_repetition_signals) on hand-built docs: exact ppm algebra,
    the n3=0 division guard for 2-token docs, no row below 2 tokens,
    and whitespace normalization before tokenization."""
    from cs_tutorial_reporting_spark.operators.ngram_lm import (
        topgram_repetition_signals,
    )

    rows = [
        # "a b a b a": 2-grams [ab, ba, ab, ba] -> top2 2/4;
        # 3-grams [aba, bab, aba] -> dup occurrences 2 of 3
        (1, "a b a b a"),
        # exactly two tokens: one 2-gram, zero 3-grams -> dup3_ppm 0
        (2, "hello   world"),
        # one token -> no grams, no row
        (3, "solo"),
        # all-unique words: top 2-gram share 1/3, dup3 0 of 2
        (4, "w x y z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_grams2, r.top2_ppm, r.n_grams3, r.dup3_ppm)
        for r in topgram_repetition_signals(df, "text", "doc_id").collect()
    }
    assert set(got) == {1, 2, 4}
    assert got[1] == (4, 500_000, 3, 666_666)
    assert got[2] == (1, 1_000_000, 0, 0)
    assert got[4] == (3, 333_333, 2, 0)


def test_semdedup_keep_rule(spark):
    """Pins SemDeDup's keep-LEAST-prototypical rule (operators/
    dedup.py::semdedup_report) on hand-built 2-d embeddings: in a
    3-member duplicate group whose middle vector IS the centroid
    direction, the survivor must be the member with the lowest
    centroid-cosine (id 3), not the smallest id; a cluster with no
    pair above threshold reports zeros."""
    from cs_tutorial_reporting_spark.operators.dedup import semdedup_report

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.9, 0.1], 0),
        (3, [0.8, 0.2], 0),
        (4, [1.0, 0.0], 1),
        (5, [0.0, 1.0], 1),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    got = {
        r.label: (r.n_vecs, r.n_dup_groups, r.n_pruned, r.kept_ids_sum)
        for r in semdedup_report(
            df, "vec_id", "embedding", "label", dim=2, threshold=0.45
        ).collect()
    }
    assert got[0] == (3, 1, 2, 3)
    assert got[1] == (2, 0, 0, 0)


def test_ewma_integer_exact(spark):
    """Pins the truncated-EWMA algebra (operators/timeseries.py::
    ewma_last_per_key) on a hand sequence at W=4, alpha=1/2: weights
    8,4,2,1 over the last four events (newest heaviest), integer
    division at e4; a key with fewer events than the window
    renormalizes over what exists."""
    from datetime import datetime

    from cs_tutorial_reporting_spark.operators.timeseries import (
        ewma_last_per_key,
    )

    ts = lambda s: datetime(2026, 1, 1, 0, 0, s)  # noqa: E731
    rows = [
        # user 1: values 1,2,3,4,5 -> last 4 are 2,3,4,5 with weights
        # 1,2,4,8 => num_e4 = (2*1+3*2+4*4+5*8)*10000 = 64*10000,
        # den = 15 -> 640000 div 15 = 42666
        (1, ts(1), 1.0, 1),
        (1, ts(2), 2.0, 2),
        (1, ts(3), 3.0, 3),
        (1, ts(4), 4.0, 4),
        (1, ts(5), 5.0, 5),
        # user 2: single event -> ewma = value
        (2, ts(1), 7.5, 6),
        # user 3: two events, weights 4? no — j=0 newest gets 2^(W-1)=8,
        # j=1 gets 4: (10*4 + 20*8)*10000 div 12 = 2000000 div 12? no:
        # (10*4+20*8)=200 -> 2000000 div 12 = 166666
        (3, ts(1), 10.0, 7),
        (3, ts(2), 20.0, 8),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double, event_id long"
    )
    got = {
        r.user_id: (r.n_events, r.ewma_e4)
        for r in ewma_last_per_key(
            df, "user_id", "ts", "value", "event_id", window=4
        ).collect()
    }
    assert got[1] == (5, 640000 // 15)
    assert got[2] == (1, 75000)
    assert got[3] == (2, 2000000 // 12)


def test_streaming_neardup_ingest_cross_batch_collapse(spark, tmp_path):
    """Pins the micro-batch invariance of streaming/incremental.py::
    run_neardup_ingest_stream on a planted case the harness data lacks
    (verified: zero cross-batch new-new pairs at sf0.01): two NEW docs
    with identical text arrive in DIFFERENT micro-batches — the pair is
    emitted by both probes and must collapse to exactly one row with
    the exact-verify jaccard 1.0; a new-old pair is found once."""
    import os

    from cs_tutorial_reporting_spark.streaming.incremental import (
        run_neardup_ingest_stream,
    )

    dup = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (10, dup),                      # new, batch 0
        (20, dup),                      # new, batch 1 -> cross-batch pair
        (1, dup + " extra tail"),       # old: high-overlap with both
        (2, "completely unrelated text about spark physical plans"),
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    stage = tmp_path / "stage"
    stage.mkdir()
    for i, ids in enumerate(([10], [20])):
        sub = tmp_path / f"w{i}"
        corpus.filter(F.col("doc_id").isin(ids)).coalesce(1).write.parquet(
            str(sub)
        )
        part = [f for f in os.listdir(sub) if f.endswith(".parquet")][0]
        os.rename(str(sub / part), str(stage / f"{i:04d}.parquet"))
    out = run_neardup_ingest_stream(
        corpus,
        str(stage),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        n_batches=2,
    )
    rows_out = out.collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in rows_out}
    assert (10, 20) in got and got[(10, 20)] == 1.0
    # the sink holds each pair exactly once after the distinct
    assert len(rows_out) == len(got)
    assert all(a < b for (a, b) in got)


def test_maintain_join_mv_delta_rule(spark):
    """Pins the join-IVM delta rule (operators/matview.py::
    maintain_join_mv) on multiset data: a key with rows in BOTH deltas
    (the cross term) must be counted exactly once per joined pair, and
    duplicate rows on either side must keep multiset cardinality —
    maintained view == full recompute, row for row."""
    from collections import Counter

    from cs_tutorial_reporting_spark.operators.matview import (
        maintain_join_mv,
    )

    a_old = spark.createDataFrame(
        [(1, "a1"), (1, "a1dup"), (2, "a2")], "k long, av string"
    )
    da = spark.createDataFrame([(1, "a1new"), (3, "a3new")], "k long, av string")
    b_old = spark.createDataFrame([(1, "b1"), (3, "b3")], "k long, bv string")
    db = spark.createDataFrame(
        [(1, "b1new"), (1, "b1new")], "k long, bv string"  # duplicate delta row
    )
    v_old = a_old.join(b_old, ["k"])
    got = Counter(
        (r.k, r.av, r.bv)
        for r in maintain_join_mv(v_old, a_old, b_old, da, db, ["k"]).collect()
    )
    want = Counter(
        (r.k, r.av, r.bv)
        for r in a_old.unionByName(da)
        .join(b_old.unionByName(db), ["k"])
        .collect()
    )
    assert got == want


def test_cusum_changepoint_localizes_level_shift(spark):
    """Pins the CUSUM estimator (operators/timeseries.py::
    cusum_changepoint) on a planted level shift: a series at level 10
    for 6 hours then level 50 for 6 hours must localize the change at
    the LAST pre-shift hour (argmax |C_t| of a single step sits at the
    step), integer-exactly."""
    from datetime import datetime

    from cs_tutorial_reporting_spark.operators.timeseries import (
        cusum_changepoint,
    )

    rows = []
    for h in range(12):
        level = 10.0 if h < 6 else 50.0
        rows.append(("a", datetime(2026, 1, 1, h, 30), level))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    got = cusum_changepoint(df, "event_type", "ts", "value").collect()
    assert len(got) == 1
    r = got[0]
    assert r.n_hours == 12
    # last pre-shift hour = 05:00
    assert r.cp_hour_ms == int(datetime(2026, 1, 1, 5).timestamp() * 1000)
    # H*C_t at t=6: 12*(6*100000) - 6*(6*100000+6*500000) = -14400000
    assert r.max_abs_cusum == 14_400_000


def test_lpa_separates_bridged_cliques_where_cc_merges(spark):
    """Pins the LPA-vs-CC distinction (operators/graph.py::
    lpa_communities): two 4-cliques joined by ONE bridge edge are a
    single connected component but TWO label-propagation communities
    (frequency outvotes the bridge), with the deterministic min-tie
    making community ids the cliques' minima."""
    from cs_tutorial_reporting_spark.operators.dedup import (
        connected_components,
    )
    from cs_tutorial_reporting_spark.operators.graph import lpa_communities

    clique1 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    clique2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    edges = spark.createDataFrame(
        clique1 + clique2 + [(4, 10)], "u long, v long"
    )
    comms = {
        r.community: r.n_members
        for r in lpa_communities(edges, "u", "v", rounds=3).collect()
    }
    assert comms == {1: 4, 10: 4}
    cc = connected_components(edges.toDF("id_a", "id_b"))
    assert cc.select("cluster_id").distinct().count() == 1


def test_dhash_bands_known_image_and_shift_tolerance():
    """Pins the dHash bit layout (multimodal/bmp.py::dhash_bands) on a
    hand-built gradient image: a strictly increasing row makes every
    intra-row comparison true (all 64 bits set); a constant image sets
    none; and a one-byte brightness change flips at most a few bits
    (the perceptual-tolerance property that makes dHash a DEDUP hash
    rather than a checksum)."""
    from cs_tutorial_reporting_spark.multimodal.bmp import (
        bmp_bytes,
        dhash_bands,
    )

    inc = bytes(range(16)) * 16        # every row 0..15 increasing
    flat = bytes([7] * 256)
    assert dhash_bands(bmp_bytes(inc)) == (0xFFFF,) * 4
    assert dhash_bands(bmp_bytes(flat)) == (0, 0, 0, 0)

    tweaked = bytearray(inc)
    tweaked[5] = 200  # single bright pixel
    a = dhash_bands(bmp_bytes(inc))
    b = dhash_bands(bmp_bytes(bytes(tweaked)))
    flips = sum(bin(x ^ y).count("1") for x, y in zip(a, b))
    assert 1 <= flips <= 6


def test_scene_detect_localizes_planted_cut():
    """Pins shot detection (multimodal/mjpeg.py::decode_mjpeg_scenes)
    on a planted cut: three dark frames then three bright frames give
    exactly ONE boundary whose jump equals the brightness step's DC
    delta; a constant clip has zero boundaries."""
    from cs_tutorial_reporting_spark.multimodal.mjpeg import (
        decode_mjpeg_scenes,
        mjpeg_bytes,
    )

    dark, bright = bytes([20] * 128), bytes([220] * 128)
    cut = decode_mjpeg_scenes(mjpeg_bytes(dark * 3 + bright * 3))
    assert cut["n_frames"] == 6
    assert cut["n_scene_changes"] == 1
    # per frame: 2 blocks, each dc = floor((64*v - 8188)/8)
    dc = lambda v: 2 * ((64 * v - 8188) // 8)  # noqa: E731
    assert cut["max_jump"] == dc(220) - dc(20)

    flat = decode_mjpeg_scenes(mjpeg_bytes(dark * 4))
    assert (flat["n_scene_changes"], flat["max_jump"]) == (0, 0)


def test_sniff_rejects_unknown_magic_and_identifies_all():
    """Pins the mixed-media front door (multimodal/sniff.py): every
    synth family is identified from magic bytes alone, and unknown
    magic raises instead of guessing."""
    import pytest as _pytest

    from cs_tutorial_reporting_spark.multimodal.sniff import (
        SYNTHS,
        sniff_and_units,
        sniff_format,
    )

    payload = bytes(range(100))
    for fmt, synth in SYNTHS:
        blob = synth(payload)
        assert sniff_format(blob) == fmt
        got_fmt, units = sniff_and_units(blob)
        assert got_fmt == fmt and units > 0

    with _pytest.raises(ValueError, match="unknown container magic"):
        sniff_format(b"\x00\x01\x02garbage_blob")


def test_wav_vad_segments_planted_utterances():
    """Pins energy-VAD segmentation (multimodal/wav.py::
    wav_vad_segments) on planted audio: two loud bursts separated by
    silence give two segments with the right lengths; all-silence
    audio has every frame 'active' by the scale-free rule (max energy
    is itself 0 → 4·0 ≥ 0) — one wall-to-wall segment, documenting the
    degenerate-clip behavior."""
    from cs_tutorial_reporting_spark.multimodal.wav import (
        wav_bytes,
        wav_vad_segments,
    )

    loud = (20000).to_bytes(2, "little", signed=True) * 160
    quiet = b"\x00\x00" * 160
    clip = loud * 2 + quiet * 3 + loud + quiet
    got = wav_vad_segments(wav_bytes(clip, sampwidth=2))
    assert got == {
        "n_frames": 7,
        "n_active": 3,
        "n_segments": 2,
        "longest_run": 2,
    }

    silent = wav_vad_segments(wav_bytes(quiet * 4, sampwidth=2))
    assert silent["n_segments"] == 1 and silent["n_active"] == 4


def test_knn_label_agreement_flags_mislabeled_vector(spark):
    """Two tight clusters of 12 identical vectors; one cluster-A
    vector carries cluster-B's label. Every correctly-labeled vector
    gets 10/10 neighbor agreement; the mislabeled one gets 0/10 and
    is the only suspect."""
    import tempfile

    from cs_tutorial_reporting_spark.queries import QUERIES

    a = [1.0] + [0.0] * 63
    b = [0.0, 1.0] + [0.0] * 62
    rows = [(i, a, 1 if i == 11 else 0) for i in range(12)]
    rows += [(12 + i, b, 1) for i in range(12)]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>, label int"
        ).write.parquet(f"{d}/embeddings.parquet")
        out = {
            r.label: r
            for r in QUERIES["knn_label_agreement"].fn(spark, d).collect()
        }
    assert (out[0].n_vectors, out[0].mean_agreement_ppm, out[0].n_suspect) == (
        11, 1_000_000, 0,
    )
    # 12 true B vectors at 10/10 plus the mislabeled one at 0/10
    assert (out[1].n_vectors, out[1].n_suspect) == (13, 1)
    assert out[1].mean_agreement_ppm == 120 * 1_000_000 // 130


def test_dbscan_chain_cores_borders_noise(spark):
    """5-vector chain x_i = e_i + e_(i+1) (adjacent cos = 1/2, else
    0) plus one isolated vector: chain ends have degree 1 (border),
    middles degree 2 (core) -> one cluster labeled by the smallest
    core id with 3 cores + 2 borders; the isolated vector is noise."""
    import tempfile

    from cs_tutorial_reporting_spark.queries import QUERIES

    def vec(*dims):
        v = [0.0] * 64
        for d in dims:
            v[d] = 1.0
        return v

    rows = [(i, vec(i, i + 1), 0) for i in range(5)]  # chain 0-1-2-3-4
    rows.append((5, vec(40), 0))  # isolated
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>, label int"
        ).write.parquet(f"{d}/embeddings.parquet")
        out = {
            r.cluster_id: (r.n_core, r.n_border)
            for r in QUERIES["dbscan_embedding_clusters"].fn(spark, d).collect()
        }
    assert out == {1: (3, 2), -1: (0, 1)}


def _clustered_labeled_embeddings(spark, n_clusters=16, per=25, noise=0.005,
                                  n_outliers=10, seed=7, margin_planes=3):
    """16 tight unit-norm clusters + a handful of isolated outliers,
    with a deterministic 5% label flip — the fixture on which exact
    and candidate-driven (LSH/IVF) neighbor sources must agree.

    Centers are rejection-sampled to keep a MARGIN from the first
    ``margin_planes`` deterministic LSH hyperplanes: a cluster whose
    center sits within the cluster radius of a plane straddles two
    buckets, and a lone minority-side vector loses every candidate
    edge — a recall property of the fixture, not of the dataflow
    under test. With margin ≫ radius every cluster lands whole in one
    bucket, so bucketed-candidate recall is structurally 1 and census
    equality tests the DATAFLOW claim, not sampling luck."""
    import numpy as np

    from cs_tutorial_reporting_spark.operators.similarity import _hyperplane

    planes = np.array([_hyperplane(p, 64) for p in range(margin_planes)])
    planes /= np.linalg.norm(planes, axis=1, keepdims=True)
    # cluster angular radius ~ noise * ||g||_max ≈ noise * 11 for 64-d
    # gaussians; 0.2 is >3x that at noise=0.005
    margin = 0.2

    rng = np.random.default_rng(seed)
    centers = np.empty((n_clusters, 64))
    for c in range(n_clusters):
        while True:
            v = rng.normal(size=64)
            v /= np.linalg.norm(v)
            if np.abs(planes @ v).min() > margin:
                centers[c] = v
                break
    rows = []
    for c in range(n_clusters):
        for j in range(per):
            i = c * per + j
            v = centers[c] + noise * rng.normal(size=64)
            v /= np.linalg.norm(v)
            label = (c + 1) % n_clusters if i % 20 == 0 else c
            rows.append((i, [float(x) for x in v], int(label)))
    base = n_clusters * per
    for j in range(n_outliers):
        v = rng.normal(size=64)
        v /= np.linalg.norm(v)
        rows.append((base + j, [float(x) for x in v], int(j % n_clusters)))
    # parquet round-trip: the exact scorer self-joins this frame, and a
    # local-relation (or localCheckpoint'd) source trips Catalyst
    # attribute binding (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND __va) under
    # the .rdd-probe + crossJoin combination; parquet-backed tables —
    # the production shape — never hit this
    import tempfile

    path = tempfile.mkdtemp(prefix="knn_dbscan_fixture_") + "/emb"
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label bigint"
    ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_knn_agreement_identical_on_ivf_candidates(spark):
    """The round-6 verdict's 'same dataflow on candidates' claim for
    the kNN label-noise audit, as a passing test: on a clustered
    corpus, knn_agreement_from_candidates fed IVF candidate top-k
    (4 of 16 probed cells — a real candidate restriction, not a full
    scan) produces the BIT-IDENTICAL agreement report to the exact
    brute-force neighbor source. The aggregation downstream is the
    same function object the registered query calls."""
    from cs_tutorial_reporting_spark.operators.similarity import (
        brute_force_topk,
        build_ivf_centroids,
        ivf_topk,
    )
    import cs_tutorial_reporting_spark.queries  # noqa: F401  (registry init first — avoids partial-module import)
    from cs_tutorial_reporting_spark.queries_ext import (
        knn_agreement_from_candidates,
    )

    e = _clustered_labeled_embeddings(spark)
    q = e.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    exact_nn = brute_force_topk(
        e.select("vec_id", "embedding"), q, k=11, dim=64
    )
    cents = build_ivf_centroids(e, 16, lloyd_iters=3)
    cand_nn = ivf_topk(
        e.select("vec_id", "embedding"), q, k=11, n_probes=4,
        centroids=cents,
    )
    got_exact = {
        tuple(r)
        for r in knn_agreement_from_candidates(e, exact_nn).collect()
    }
    got_cand = {
        tuple(r)
        for r in knn_agreement_from_candidates(e, cand_nn).collect()
    }
    assert got_exact == got_cand and got_exact
    # the fixture's flips must be visible (non-degenerate audit)
    assert any(r[3] > 0 for r in got_exact)  # n_suspect column


def test_self_knn_arrow_bitwise_equals_crossjoin_path(spark):
    """The r8 all-pairs Arrow matmul (self_knn_topk_arrow) must be
    BIT-IDENTICAL — ids, ranks, AND rounded cos — to the crossJoin +
    JVM-fold exact scorer it replaces in knn_label_agreement. The
    exact-arithmetic contract (sequential per-dimension accumulation
    mirroring cosine_flat's IEEE op order) and the 2e-6 batch-forward
    margin are both load-bearing; this pins them on real driver data
    at two SFs (it also caught nothing less than full equality at
    authoring time: 5,500/5,500 tuples at both)."""
    from cs_tutorial_reporting_spark.operators.similarity import (
        brute_force_topk,
        self_knn_topk_arrow,
    )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        e = spark.read.parquet(f"{sf}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        q = e.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        jvm = {
            (r.query_id, r.vec_id, r.rank, r.cos)
            for r in brute_force_topk(e, q, k=11, dim=64).collect()
        }
        arrow = {
            (r.query_id, r.vec_id, r.rank, r.cos)
            for r in self_knn_topk_arrow(e, k=11, dim=64).collect()
        }
        assert jvm == arrow and jvm


def test_allpairs_threshold_arrow_bitwise_equals_crossjoin_path(spark):
    """Same r8 contract for the threshold-pairs form (dbscan's edge
    source): allpairs_threshold_arrow must be BIT-IDENTICAL — ids AND
    rounded cos — to embedding_near_dup_pairs(n_planes=0), including
    the empty result at a threshold nothing reaches (the forwarding
    margin must not leak sub-threshold pairs through)."""
    from cs_tutorial_reporting_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )
    from cs_tutorial_reporting_spark.operators.similarity import (
        allpairs_threshold_arrow,
    )

    for sf, th in (
        ("/root/testdata/sf0.001", 0.35),
        ("/root/testdata/sf0.01", 0.35),
        ("/root/testdata/sf0.001", 0.95),
    ):
        e = spark.read.parquet(f"{sf}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        jvm = {
            (r.id_a, r.id_b, r.cos)
            for r in embedding_near_dup_pairs(
                e, threshold=th, n_planes=0, dim=64
            ).collect()
        }
        arrow = {
            (r.id_a, r.id_b, r.cos)
            for r in allpairs_threshold_arrow(e, threshold=th, dim=64).collect()
        }
        assert jvm == arrow, (sf, th, len(jvm), len(arrow))
    assert not arrow  # the 0.95 case really is the empty edge case


def test_fan_out_guards_parallelism_properties(spark):
    """Pins the single-partition-trap fixes as PROPERTIES, not just
    values: (1) ``functions.widen`` spreads a 1-partition frame to
    ``per_core`` × session parallelism and is identity on an
    already-wide frame; (2) the Arrow scorers' work-proportional guard
    stays single-partition for small grids (the measured tiny-task-
    overhead regression) and fans for large ones. Which multimodal
    passes fan out is pinned per query in
    test_multimodal_decode_pass_per_query."""
    from cs_tutorial_reporting_spark.functions import widen
    from cs_tutorial_reporting_spark.operators import similarity as sim

    par = spark.sparkContext.defaultParallelism
    narrow = spark.createDataFrame(
        [(i, f"t{i}") for i in range(100)], "doc_id long, text string"
    ).coalesce(1)
    assert widen(narrow, "doc_id").rdd.getNumPartitions() == 2 * par
    assert widen(narrow, per_core=1).rdd.getNumPartitions() == par
    wide = narrow.repartition(2 * par + 3, "doc_id")
    assert widen(wide, "doc_id").rdd.getNumPartitions() == 2 * par + 3
    # scorer guard: small grid → untouched; large grid → proportional
    emb1 = spark.createDataFrame(
        [(i, [float(i)] * 4) for i in range(10)],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    assert sim._fan_out_corpus(emb1, "vec_id", 2_000).rdd.getNumPartitions() == 1
    expected = min(
        2 * par, max(1, (50_000 * 50_000) // sim._MIN_CELLS_PER_TASK)
    )
    assert (
        sim._fan_out_corpus(emb1, "vec_id", 50_000).rdd.getNumPartitions()
        == expected > 1
    )


#: registered multimodal query → whether its decode pass fans a narrow
#: input out: the compute-bound decodes do (measured at sf0.1: jpeg
#: 8.0 → 1.2 s, scene detection 8.5 → 1.4 s, gif 3.0 → 1.1 s); the cheap
#: ones do not, since their payload shuffle costs more than the decode
MULTIMODAL_FANS_OUT = {
    "multimodal_feature_extract": False,
    "multimodal_wav_decode": False,
    "multimodal_bmp_decode": False,
    "multimodal_png_decode": False,
    "multimodal_gif_decode": True,
    "multimodal_jpeg_decode": True,
    "multimodal_mjpeg_frames": True,
    "multimodal_wav_dsp": False,
    "multimodal_avi_frames": False,
    "multimodal_image_dhash_dedup": False,
    "multimodal_scene_changes": True,
    "multimodal_container_sniff": True,
    "multimodal_wav_vad_segments": False,
    "multimodal_tiff_decode": False,
}


@pytest.fixture(scope="module")
def empty_docs_dir(tmp_path_factory):
    """An sf dir whose documents.parquet has the real schema and 0 rows."""
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("empty_docs")
    pq.write_table(
        pq.read_table(f"{SF_SMOKE}/documents.parquet").slice(0, 0),
        d / "documents.parquet",
    )
    return str(d)


@pytest.mark.parametrize("name", sorted(MULTIMODAL_FANS_OUT))
def test_multimodal_decode_pass_per_query(spark, monkeypatch, empty_docs_dir, name):
    """Every registered multimodal query runs exactly one
    ``columns.decode_pass``. A zero-row input gives 0 rows with the
    pass's declared schema; from a 1-partition input the pass fans out
    to 2× the session parallelism, or stays on 1 partition, as
    MULTIMODAL_FANS_OUT says."""
    from cs_tutorial_reporting_spark.multimodal import columns
    from cs_tutorial_reporting_spark.queries import QUERIES

    passes = []
    real = columns.decode_pass

    def recording(df, per_row, schema, fan_out=False):
        out = real(df, per_row, schema, fan_out)
        passes.append((out, schema))
        return out

    monkeypatch.setattr(columns, "decode_pass", recording)
    assert QUERIES[name].fn(spark, empty_docs_dir).count() == 0
    ((out, schema),) = passes
    assert out.schema == spark.createDataFrame([], schema).schema
    assert out.count() == 0

    passes.clear()
    assert load_table(spark, SF_SMOKE, "documents").rdd.getNumPartitions() == 1
    QUERIES[name].fn(spark, SF_SMOKE)
    ((out, _),) = passes
    par = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() == (2 * par if MULTIMODAL_FANS_OUT[name] else 1)


def test_avi_and_mjpeg_container_bytes_pinned():
    """The AVI container writer shared by the DIB and MJPEG builders
    emits the exact bytes the two separate builders did (sha256 per
    fixed payload, default and odd geometries: 5-pixel rows pad the
    DIB stride)."""
    import hashlib

    from cs_tutorial_reporting_spark.multimodal.avi import avi_bytes
    from cs_tutorial_reporting_spark.multimodal.mjpeg import mjpeg_bytes

    def sha(b: bytes) -> str:
        return hashlib.sha256(b).hexdigest()

    payloads = [b"", bytes(range(256)) * 3 + b"\x07", "Grüße — multimodal ✓".encode() * 5]
    assert [(sha(avi_bytes(p)), sha(mjpeg_bytes(p))) for p in payloads] == [
        ("a0b84275cd2781d9f9a4e8089f0f0562550f34736e92acf41c235ce83e571c01",
         "285afadc0ca9e5fa085c2857b2d7fde1cea07b856654adb10040a4e2722a5a61"),
        ("3b99bbafcaca455edd36e271280f6d6fa03bec2762407db01724321bce13c86f",
         "2d6cd2d5a57b887bdc9fb19c78418af5379d3ae7a2af37bef53cdc35ae4a28b7"),
        ("f0815682e44146df35d56d311516a1fff6478c8293da2083f86ca2c2ecdd3498",
         "5802de17a1be6736742eaee3ea3d4af437439618d97d70675035d760d6d9f20c"),
    ]
    # a black first frame: the largest frame, which sets the buffer
    # size fields, comes later
    p = bytes(384) + payloads[1]
    assert sha(avi_bytes(p, width=5, height=3, fps=25)) == (
        "a77a3b4107c26c60526304b629ff95a013b00da0d7d815df9726e37c288540de"
    )
    assert sha(mjpeg_bytes(p, width=24, height=16, fps=30)) == (
        "ae0432b12a48ab56f2b08750d93fdb4312b2d9488df4f685ceb1e3b62735b8f3"
    )


def test_semdedup_pairs_arrow_bitwise_equals_jvm(spark):
    """The r9 per-label Arrow pair source behind semdedup_report must
    be BIT-IDENTICAL to the JVM flat-fold self-join it replaced —
    pair sets equal on the registered query's exact corpus (embeddings
    ∪ planted noisy twins) at two SFs, and the full report equal too
    (the keep-rule consumes the pairs downstream)."""
    from cs_tutorial_reporting_spark.operators.dedup import (
        _semdedup_pairs_arrow,
        _semdedup_pairs_jvm,
        semdedup_report,
    )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        e = spark.read.parquet(f"{sf}/embeddings.parquet")
        c = F.col("embedding").cast("array<double>")
        twins = e.filter(F.col("vec_id") % 5 == 0).select(
            (F.col("vec_id") + 1000000).alias("vec_id"),
            F.concat(
                F.array(F.element_at(c, 1) * F.lit(1.2)), F.slice(c, 2, 63)
            ).alias("embedding"),
            "label",
        )
        corpus = e.select("vec_id", c.alias("embedding"), "label").unionByName(
            twins
        )
        v = corpus.select(
            F.col("vec_id").alias("__id"),
            # NULL labels every 7th row (ADVICE r9 medium): the JVM
            # equi-join drops them; the Arrow path must too — without
            # its isNotNull filter, applyInPandas lumps all null-label
            # rows into ONE group and scores extra pairs among them.
            F.when(F.col("vec_id") % 7 != 0, F.col("label")).alias("__lbl"),
            F.col("embedding").alias("__v"),
        )
        jvm = {
            (r.id_a, r.id_b)
            for r in _semdedup_pairs_jvm(v, 64, 0.45).collect()
        }
        arrow = {
            (r.id_a, r.id_b)
            for r in _semdedup_pairs_arrow(v, 64, 0.45).collect()
        }
        assert jvm == arrow and jvm, (sf, len(jvm), len(arrow))
    # full-report equality on the larger fixture (keep-rule downstream)
    rep = {
        tuple(r)
        for r in semdedup_report(
            corpus, "vec_id", "embedding", "label", dim=64, threshold=0.45
        ).collect()
    }
    assert rep and all(r[1] >= 0 for r in rep)


def test_arrow_scorers_hardened_edges(spark):
    """ADVICE-r8 hardening of the two Arrow all-pairs scorers: (1)
    empty input returns an empty frame with the output schema instead
    of np.stack crashing on a zero-length collect; (2) zero-norm
    vectors raise ValueError up front (NaN cosine ordering diverges
    between the NumPy prefilter and the JVM fold, so bit-identity is
    unsatisfiable on such input); (3) the bounded row-block chunking
    is value-neutral — forcing a tiny block must reproduce the
    default-path output exactly (the per-chunk forward-margin proof
    in the docstring is what this pins)."""
    import pytest as _pytest

    from cs_tutorial_reporting_spark.operators import similarity as sim

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    # (1) empty input → empty frame, right schema, no crash
    empty = e.filter(F.lit(False))
    out_knn = sim.self_knn_topk_arrow(empty, k=5, dim=64)
    assert out_knn.columns == ["query_id", "vec_id", "cos", "rank"]
    assert out_knn.count() == 0
    out_pairs = sim.allpairs_threshold_arrow(empty, threshold=0.5, dim=64)
    assert out_pairs.columns == ["id_a", "id_b", "cos"]
    assert out_pairs.count() == 0
    # (2) zero-norm vector → loud ValueError naming the ids.
    # ONE deterministic sample (ADVICE r9): two independent unordered
    # limit() scans gave no guarantee the poisoned id was among the
    # kept rows, so the expected ValueError could flake away.
    zero_rows = e.orderBy("vec_id").limit(3)
    poisoned_id = zero_rows.orderBy("vec_id").collect()[0].vec_id
    zero = zero_rows.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") == poisoned_id,
            F.array_repeat(F.lit(0.0).cast("float"), 64),
        ).otherwise(F.col("embedding")),
    )
    with _pytest.raises(ValueError, match="zero-norm"):
        sim.self_knn_topk_arrow(zero, k=2, dim=64).collect()
    with _pytest.raises(ValueError, match="zero-norm"):
        sim.allpairs_threshold_arrow(zero, threshold=0.1, dim=64).collect()
    # (3) chunking is value-neutral: block=7 vs default must match
    base_knn = {
        (r.query_id, r.vec_id, r.rank, r.cos)
        for r in sim.self_knn_topk_arrow(e, k=11, dim=64).collect()
    }
    base_pairs = {
        (r.id_a, r.id_b, r.cos)
        for r in sim.allpairs_threshold_arrow(e, threshold=0.35, dim=64).collect()
    }
    orig = sim._ROW_BLOCK_DOUBLES
    sim._ROW_BLOCK_DOUBLES = 1  # _row_block floors at 64 rows
    try:
        tiny_knn = {
            (r.query_id, r.vec_id, r.rank, r.cos)
            for r in sim.self_knn_topk_arrow(e, k=11, dim=64).collect()
        }
        tiny_pairs = {
            (r.id_a, r.id_b, r.cos)
            for r in sim.allpairs_threshold_arrow(
                e, threshold=0.35, dim=64
            ).collect()
        }
    finally:
        sim._ROW_BLOCK_DOUBLES = orig
    assert tiny_knn == base_knn and base_knn
    assert tiny_pairs == base_pairs and base_pairs


@pytest.mark.parametrize("case", ["identical", "empty"])
@pytest.mark.parametrize(
    "entry",
    [
        "brute_force",
        "lsh",
        "ivf_inline",
        "ivf_layout",
        "pq",
        "ivfpq_flat",
        "ivfpq_residual",
        "ivfpq_layout",
        "arrow_self_knn",
        "rerank",
    ],
)
def test_topk_entry_points_edge_inputs(spark, tmp_path, entry, case):
    """Every top-k entry point ends in the shared rank step. (a) On an
    all-identical corpus every score ties, so each query must get ranks
    1..k over the k LOWEST ids — the shared id tie-break. (b) On an
    empty query frame (an empty corpus for the Arrow self-kNN, whose
    queries ARE the corpus) each must return zero rows with its
    documented columns."""
    from cs_tutorial_reporting_spark.operators import similarity as sim

    k, n = 5, 12
    vec = [0.125] * 64  # unit norm: every dot and cosine is exactly 1.0
    emb = spark.createDataFrame(
        [(i, vec) for i in range(n)], "vec_id long, embedding array<float>"
    )
    q = spark.createDataFrame(
        [(100, vec), (101, vec)], "query_id long, query_vec array<float>"
    )
    if case == "empty":
        q = q.filter(F.lit(False))

    def cents():
        return sim.build_ivf_centroids(emb, n_centroids=2, dim=64, lloyd_iters=0)

    def residual_cbs(c):
        return sim.build_residual_pq_codebooks(emb, c, m=8, ks=4, dim=64)

    score, qids = "cos", [100, 101]
    if entry == "brute_force":
        out = sim.brute_force_topk(emb, q, k=k, dim=64)
    elif entry == "lsh":
        out = sim.lsh_topk(emb, q, k=k, n_planes=4, dim=64)
    elif entry == "ivf_inline":
        out = sim.ivf_topk(emb, q, k=k, n_probes=2, centroids=cents())
    elif entry == "ivf_layout":
        c, path = cents(), str(tmp_path / "ivf")
        sim.write_ivf_partitioned(emb, path, c)
        out = sim.ivf_topk(
            None, q, k=k, n_probes=2, centroids=c,
            assigned=spark.read.parquet(path),
        )
    elif entry == "pq":
        score = "score"
        out = sim.pq_topk(emb, q, k=k, m=8, ks=4)
    elif entry == "ivfpq_flat":
        score = "score"
        out = sim.ivfpq_topk(
            emb, q, k=k, n_probes=2, centroids=cents(),
            codebooks=sim.build_pq_codebooks(emb, m=8, ks=4, dim=64),
        )
    elif entry == "ivfpq_residual":
        score, c = "score", cents()
        out = sim.ivfpq_topk(
            emb, q, k=k, n_probes=2, centroids=c, codebooks=residual_cbs(c),
            residual=True,
        )
    elif entry == "ivfpq_layout":
        score, c, path = "score", cents(), str(tmp_path / "ivfpq")
        cbs = residual_cbs(c)
        sim.write_ivfpq_partitioned(emb, path, c, cbs)
        out = sim.ivfpq_topk(
            None, q, k=k, n_probes=2, centroids=c, codebooks=cbs,
            residual=True, encoded=spark.read.parquet(path),
        )
    elif entry == "arrow_self_knn":
        qids = list(range(n))
        corpus = emb.filter(F.lit(False)) if case == "empty" else emb
        out = sim.self_knn_topk_arrow(corpus, k=k, dim=64)
    else:
        approx = q.select("query_id").crossJoin(emb.select("vec_id"))
        out = sim.rerank_topk(approx, emb, q, k=k, dim=64)

    assert out.columns == ["query_id", "vec_id", score, "rank"]
    rows = out.collect()
    if case == "empty":
        assert rows == []
        return
    got = sorted((r.query_id, r.rank, r.vec_id) for r in rows)
    assert got == [(qid, i + 1, i) for qid in qids for i in range(k)]
    for qid in qids:
        assert len({r[score] for r in rows if r.query_id == qid}) == 1


def test_dbscan_census_identical_on_lsh_candidates(spark):
    """Same claim for DBSCAN: dbscan_census_from_pairs fed
    LSH-bucketed candidate edges (embedding_near_dup_pairs
    n_planes=3 — 8 hyperplane buckets, a real candidate restriction)
    produces the BIT-IDENTICAL cluster census to the exact all-pairs
    edge source on the clustered fixture, outliers landing in the
    noise row either way. The downstream (degree → cores → CC →
    border → census) is the same function object the registered
    query calls."""
    from cs_tutorial_reporting_spark.operators.dedup import (
        bucket_corpus,
        embedding_near_dup_pairs,
    )
    import cs_tutorial_reporting_spark.queries  # noqa: F401  (registry init first)
    from cs_tutorial_reporting_spark.queries_ext import (
        dbscan_census_from_pairs,
    )

    e = _clustered_labeled_embeddings(spark)
    exact_pairs = embedding_near_dup_pairs(
        e, threshold=0.8, n_planes=0, dim=64
    )
    # materialized index, like the registered LSH query's neardup_index
    # (the self-join of a lazily-derived pandas-UDF bucket frame trips
    # Catalyst attribute binding — persisting the index is the
    # documented probe pattern anyway)
    bucketed = bucket_corpus(e, n_planes=3, dim=64).localCheckpoint()
    lsh_pairs = embedding_near_dup_pairs(
        e, threshold=0.8, n_planes=3, dim=64, bucketed=bucketed
    )
    got_exact = {
        tuple(r) for r in dbscan_census_from_pairs(e, exact_pairs).collect()
    }
    got_lsh = {
        tuple(r) for r in dbscan_census_from_pairs(e, lsh_pairs).collect()
    }
    assert got_exact == got_lsh
    # non-degenerate: 16 clusters + the noise row, outliers all noise
    assert len(got_exact) == 17
    noise = {r for r in got_exact if r[0] == -1}
    assert noise == {(-1, 0, 10)}


def test_streaming_neardup_ingest_indexed_matches_recompute(spark, tmp_path):
    """The persisted-index ingest stream (round 7): the drained answer
    of run_neardup_ingest_stream_indexed — each batch probing the
    STORED band index, then folding itself in — must equal the
    recompute-per-batch stream's answer on the same staged batches,
    including the cross-batch new-new pair (found because batch 0
    appended itself to the index before batch 1 probed). Also pins the
    replay fence: the index's _last_batch_id survives the drain at the
    final batch id."""
    import os

    from cs_tutorial_reporting_spark.operators.dedup import write_band_index
    from cs_tutorial_reporting_spark.streaming.incremental import (
        run_neardup_ingest_stream,
        run_neardup_ingest_stream_indexed,
    )

    dup = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (10, dup),                      # new, batch 0
        (20, dup),                      # new, batch 1 -> cross-batch pair
        (1, dup + " extra tail"),       # old: high-overlap with both
        (2, "completely unrelated text about spark physical plans"),
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    old = corpus.filter(F.col("doc_id").isin([1, 2]))
    stage = tmp_path / "stage"
    stage.mkdir()
    for i, ids in enumerate(([10], [20])):
        sub = tmp_path / f"w{i}"
        corpus.filter(F.col("doc_id").isin(ids)).coalesce(1).write.parquet(
            str(sub)
        )
        part = [f for f in os.listdir(sub) if f.endswith(".parquet")][0]
        os.rename(str(sub / part), str(stage / f"{i:04d}.parquet"))

    idx = str(tmp_path / "band_idx")
    write_band_index(old, idx, "text", "doc_id")
    got_idx = {
        (r.id_a, r.id_b): r.jaccard
        for r in run_neardup_ingest_stream_indexed(
            idx,
            str(stage),
            str(tmp_path / "out_idx"),
            str(tmp_path / "ckpt_idx"),
        ).collect()
    }
    got_rec = {
        (r.id_a, r.id_b): r.jaccard
        for r in run_neardup_ingest_stream(
            corpus,
            str(stage),
            str(tmp_path / "out_rec"),
            str(tmp_path / "ckpt_rec"),
            n_batches=2,
        ).collect()
    }
    assert got_idx == got_rec
    assert (10, 20) in got_idx and got_idx[(10, 20)] == 1.0
    with open(os.path.join(idx, "_last_batch_id")) as f:
        assert int(f.read()) == 1  # two batches: ids 0 and 1
    assert not os.path.exists(os.path.join(idx, "_append_intent"))

    # pruned-layout index: the stream reads the modulus from the
    # index's own meta, so its appends honor the frozen contract
    # (regression pin for the buckets-passthrough fix)
    idx2 = str(tmp_path / "band_idx_pruned")
    write_band_index(old, idx2, "text", "doc_id", buckets=8)
    got_pruned = {
        (r.id_a, r.id_b): r.jaccard
        for r in run_neardup_ingest_stream_indexed(
            idx2,
            str(stage),
            str(tmp_path / "out_pruned"),
            str(tmp_path / "ckpt_pruned"),
        ).collect()
    }
    assert got_pruned == got_rec


def test_query_temp_dirs_are_deleted_at_exit(tmp_path):
    """The temp directories queries write for lazily read frames (the
    IVF layout, the streaming ingest's stage and sink) are gone once the
    process that ran the queries exits."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    temp = tmp_path / "temp"
    temp.mkdir()
    code = (
        "import json, os\n"
        "from cs_tutorial_reporting_spark.session import get_spark\n"
        "from cs_tutorial_reporting_spark.queries import QUERIES\n"
        "spark = get_spark(master='local[2]', shuffle_partitions=2)\n"
        "for q in ('similarity_topk_ivf_pruned', 'streaming_neardup_ingest'):\n"
        f"    QUERIES[q].fn(spark, {SF_SMOKE!r}).collect()\n"
        "print(json.dumps(sorted(os.listdir(os.environ['TMPDIR']))))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, cwd=repo,
        env={**os.environ, "TMPDIR": str(temp)},
    )
    assert out.returncode == 0, out.stderr
    made = json.loads(out.stdout.strip().splitlines()[-1])
    for prefix in ("ivf_layout_", "neardup_ingest_"):
        assert any(d.startswith(prefix) for d in made), made
    left = [d for d in os.listdir(temp) if d.startswith(("ivf_layout_", "neardup_ingest_"))]
    assert left == []


def test_ann_artifact_cache_is_one_entry_per_kind_and_dataset(monkeypatch, tmp_path):
    """queries_ext._built_once: a hit needs the same session, another
    session rebuilds and releases the old artifact (a frame is
    unpersisted, a layout directory deleted), and entries never pile
    up per session. Sentinel sessions and fake artifacts — no Spark."""
    import os
    import tempfile

    from pyspark.sql import DataFrame

    import cs_tutorial_reporting_spark.queries  # noqa: F401  (registry init first)
    from cs_tutorial_reporting_spark import queries_ext as qx

    class Frame(DataFrame):
        def __new__(cls):
            return object.__new__(cls)

        def __init__(self):
            self.unpersisted = False

        def unpersist(self, blocking=False):
            self.unpersisted = True
            return self

    monkeypatch.setattr(qx, "_ARTIFACTS", {})
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    s1, s2, s3 = object(), object(), object()
    builds = []

    def build():
        builds.append(Frame())
        return builds[-1]

    f1 = qx._built_once("index", s1, "ds", build)
    assert qx._built_once("index", s1, "ds", build) is f1 and len(builds) == 1
    f2 = qx._built_once("index", s2, "ds", build)
    assert f2 is not f1 and len(builds) == 2
    assert f1.unpersisted and not f2.unpersisted
    # another dataset or kind is its own entry, and releases nothing
    qx._built_once("index", s2, "other", build)
    qx._built_once("codebook", s2, "ds", lambda: [[0.0]])
    assert not f2.unpersisted

    writes = []

    def write(path):
        writes.append(path)
        open(os.path.join(path, "part.parquet"), "w").close()

    p1 = qx._layout("ivf_layout", s1, "ds", write)
    assert qx._layout("ivf_layout", s1, "ds", write) == p1 and writes == [p1]
    p2 = qx._layout("ivf_layout", s2, "ds", write)
    assert p2 != p1 and writes == [p1, p2]
    assert not os.path.exists(p1) and os.path.exists(os.path.join(p2, "part.parquet"))

    for s in (s3, object(), object(), s1):
        qx._built_once("index", s, "ds", build)
        qx._layout("ivf_layout", s, "ds", write)
    assert sorted(qx._ARTIFACTS) == [
        ("codebook", "ds"), ("index", "ds"), ("index", "other"), ("ivf_layout", "ds"),
    ]
    kept = (qx._ARTIFACTS[("index", "ds")][1], qx._ARTIFACTS[("index", "other")][1])
    assert [f.unpersisted for f in builds] == [f not in kept for f in builds]
    live = qx._ARTIFACTS[("ivf_layout", "ds")][1]
    assert os.listdir(tmp_path) == [os.path.basename(live)]

    # a frame of a stopped session cannot unpersist: still replaced
    class StoppedFrame(Frame):
        def unpersist(self, blocking=False):
            raise RuntimeError("Cannot call methods on a stopped SparkContext")

    qx._built_once("stopped", s1, "ds", StoppedFrame)
    assert qx._built_once("stopped", s2, "ds", build) is builds[-1]
