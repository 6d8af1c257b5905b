"""[EXT] Scale-primitive query registrations: portable sketches
(HyperLogLog, Bloom prefilter), deterministic dataset splitting,
activity-island detection, and the bucketed interval join.

These extend SURVEY.md §2.8's training-pipeline mandate with the
primitives a 100 TB ingest actually leans on: mergeable cardinality
sketches (register tables as exchangeable datasets), broadcastable
membership prefilters (shuffle only the survivors), hash-deterministic
train/val/test assignment (reproducible across engines and reruns),
and the day/hour-bucket decomposition that turns an interval
(range) join into an equi-join.

Oracle strategy (same contract as queries_ext): every hash is an md5
derivation, every estimate is integer/decimal fixed-point, so DuckDB
reproduces each value bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .duck_sql import WORDS_SQL
from .queries_ext import (
    SHINGLES_SQL,
    _band_keys_sql,
    _minhash_sig_sql,
    minhash_oracle_sql,
)


def _minhash_sig_fragment() -> str:
    return _minhash_sig_sql(8)


def _band_keys_fragment() -> str:
    return _band_keys_sql(8, 2)

from .operators.graph import hits_ppm_sql, lpa_communities_sql, pagerank_ppm_sql
from .operators.sketches import (
    BLOOM_K,
    bloom_build_words,
    bloom_might_contain,
    bloom_pos_sql,
    hll_estimate,
    hll_estimate_sql,
    hll_registers,
    hll_registers_sql,
)
from .queries import register, t

# ---------------------------------------------------------------------------
# Portable HyperLogLog
# ---------------------------------------------------------------------------

_HLL_REG_SQL = hll_registers_sql(
    key_sql="CAST(user_id AS VARCHAR)", from_sql="events", group_sql="event_type"
)
_HLL_EST_SQL = hll_estimate_sql(_HLL_REG_SQL, group_sql="event_type")


@register(
    "hll_portable_distinct",
    oracle=f"""
    SELECT h.event_type, h.n_registers, h.sum_scaled, h.hll_estimate,
           x.exact_distinct
    FROM ({_HLL_EST_SQL}) h
    JOIN (SELECT event_type, count(DISTINCT user_id) AS exact_distinct
          FROM events GROUP BY event_type) x USING (event_type)
    """,
)
def hll_portable_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HLL distinct-user estimate per event_type, next to the
    exact count so the sketch's error is visible in the result.

    100 TB: the register table (64 rows/group) is the only shuffle
    payload; merging days/shards = max per (group, register). The
    estimate itself is exact fixed-point — see operators/sketches.py.

    r14: ONE events scan feeds both legs through a shared distinct
    (event_type, user_id) frame — max(rho) is dedup-invariant (rho is
    a pure function of user_id), and count_distinct expands to exactly
    this distinct internally, so values are unchanged while the second
    full scan disappears (guide §1.2; A/B best 0.91 → 0.79 s).
    """
    ev = t(spark, sf_dir, "events")
    pairs = (
        ev.select("event_type", "user_id").distinct().localCheckpoint(eager=True)
    )
    regs = hll_registers(pairs, ["event_type"], "user_id")
    est = hll_estimate(regs, ["event_type"])
    exact = pairs.groupBy("event_type").agg(
        F.count("*").alias("exact_distinct")
    )
    return est.join(F.broadcast(exact), "event_type").select(
        "event_type", "n_registers", "sum_scaled", "hll_estimate", "exact_distinct"
    )


# ---------------------------------------------------------------------------
# Portable Bloom-filter semi-join prefilter
# ---------------------------------------------------------------------------

_BLOOM_DIM_SQL = "SELECT DISTINCT c_custkey FROM customer WHERE c_acctbal > 9000"
_BLOOM_P_SQL = " UNION ".join(
    f"SELECT {bloom_pos_sql('CAST(c_custkey AS VARCHAR)', i)} AS pos "
    f"FROM ({_BLOOM_DIM_SQL})"
    for i in range(BLOOM_K)
)
_BLOOM_PROBE_POS = ", ".join(
    f"{bloom_pos_sql('CAST(o_custkey AS VARCHAR)', i)} AS pos{i}"
    for i in range(BLOOM_K)
)
_BLOOM_PASS_PRED = " AND ".join(
    f"pos{i} IN (SELECT pos FROM p)" for i in range(BLOOM_K)
)


@register(
    "bloom_prefilter_semi",
    oracle=f"""
    WITH dim AS ({_BLOOM_DIM_SQL}),
         p AS ({_BLOOM_P_SQL}),
         probe AS (
            SELECT o_orderkey,
                   ({_BLOOM_PASS_PRED}) AS bloom_pass,
                   (o_custkey IN (SELECT c_custkey FROM dim)) AS exact_pass
            FROM (SELECT o_orderkey, o_custkey, {_BLOOM_PROBE_POS} FROM orders)
         )
    SELECT (SELECT count(*) FROM dim) AS n_dim_keys,
           count(*) AS n_probe,
           count(*) FILTER (WHERE bloom_pass) AS n_bloom_pass,
           count(*) FILTER (WHERE exact_pass) AS n_exact_pass,
           count(*) FILTER (WHERE bloom_pass AND NOT exact_pass)
               AS n_false_pos
    FROM probe
    """,
)
def bloom_prefilter_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi-join: orders probed against a bitmap of
    high-balance customers, then exactness measured against the true
    semi-join.

    100 TB: the 4096-bit bitmap is built once from the dim side
    (bounded 128-word driver collect, the codebook pattern) and rides
    into every probe task as a plan literal — the probe side pays ZERO
    shuffle for the prefilter, and the real semi-join afterwards
    shuffles only the bloom survivors. No false negatives by
    construction; false positives are counted in the output.

    r14 (optimization, guide §1.2/§5): the exact-pass count, the dim
    count, and the probe rollup were three separate driver actions
    (left-semi .count(), dim.count(), final agg) — each a full job
    whose result re-entered the plan as a literal. They now ride in
    ONE plan: exact_pass is a left join flag on the distinct dim key
    (no row duplication possible, so sum(flag) ≡ the semi-join count),
    the dim count is a 1-row aggregate crossJoined in, and every
    output column is computed in a single collect. 4 jobs → 2 (the
    bloom-words codebook collect stays — the bitmap must be a plan
    literal). Warm interleaved A/B best-of-4 ×3: 1.50/1.66/1.87 s →
    1.32/1.49/1.51 s; values identical.
    """
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    dim = cust.filter(F.col("c_acctbal") > 9000).select("c_custkey").distinct()
    words = bloom_build_words(spark, dim, "c_custkey")
    probe = orders.select(
        "o_orderkey",
        bloom_might_contain(words, "o_custkey").alias("bloom_pass"),
        F.col("o_custkey"),
    )
    flagged = probe.join(
        dim.withColumn("__hit", F.lit(1)),
        probe.o_custkey == dim.c_custkey,
        "left",
    )
    agg = flagged.agg(
        F.count("*").alias("n_probe"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0)).alias("n_bloom_pass"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_exact_pass"),
    )
    n_dim = dim.agg(F.count("*").cast("bigint").alias("n_dim_keys"))
    # bloom has no false negatives ⇒ every exact row is a bloom row
    return agg.crossJoin(n_dim).select(
        "n_dim_keys",
        "n_probe",
        "n_bloom_pass",
        F.col("n_exact_pass").cast("bigint").alias("n_exact_pass"),
        (F.col("n_bloom_pass") - F.col("n_exact_pass"))
        .cast("bigint")
        .alias("n_false_pos"),
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split
# ---------------------------------------------------------------------------

_SPLIT_BUCKET_SQL = (
    "CAST(concat('0x', substr(md5(concat('split#', CAST(doc_id AS VARCHAR)))"
    ", 1, 15)) AS BIGINT) % 100"
)


@register(
    "split_assign_stats",
    oracle=f"""
    SELECT split, lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(bucket) AS min_bucket, max(bucket) AS max_bucket
    FROM (
        SELECT lang, n_chars, bucket,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        FROM (SELECT lang, n_chars, {_SPLIT_BUCKET_SQL} AS bucket
              FROM documents)
    )
    GROUP BY split, lang
    """,
)
def split_assign_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by salted md5
    of the document id, with per-(split, lang) volume stats.

    100 TB: assignment is a pure map — no shuffle, no RNG state, no
    reliance on row order; the same doc lands in the same split on
    every engine and every rerun (the property that keeps eval sets
    uncontaminated when the corpus is re-ingested). The salt prefix
    ('split#') decorrelates this hash from every other md5 use on the
    same key space (dedup, bloom, hll).
    """
    from .functions.text import hash60

    docs = t(spark, sf_dir, "documents")
    bucket = (
        hash60(F.concat(F.lit("split#"), F.col("doc_id").cast("string"))) % 100
    ).alias("bucket")
    with_split = docs.select("lang", "n_chars", bucket).withColumn(
        "split",
        F.when(F.col("bucket") < 80, "train")
        .when(F.col("bucket") < 90, "val")
        .otherwise("test"),
    )
    return with_split.groupBy("split", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("bucket").alias("min_bucket"),
        F.max("bucket").alias("max_bucket"),
    )


# ---------------------------------------------------------------------------
# Islands & gaps: consecutive-hour activity runs
# ---------------------------------------------------------------------------

_HOUR_IDX_SQL = "CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600"


@register(
    "user_activity_islands",
    oracle=f"""
    SELECT user_id, count(*) AS n_islands, max(run_len) AS longest_run,
           CAST(sum(run_len) AS BIGINT) AS active_hours
    FROM (
        SELECT user_id, anchor, count(*) AS run_len
        FROM (
            SELECT user_id, h,
                   h - row_number() OVER (PARTITION BY user_id ORDER BY h)
                       AS anchor
            FROM (SELECT DISTINCT user_id, {_HOUR_IDX_SQL} AS h FROM events)
        )
        GROUP BY user_id, anchor
    )
    GROUP BY user_id
    """,
)
def user_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands per user: maximal runs of consecutive active
    hours, via the classic ``hour_index - row_number()`` anchor (rows
    in the same consecutive run share an anchor).

    100 TB: one shuffle on user_id (the window partition); the window
    sorts each user's DISTINCT hours (bounded: ≤ 24*365 per user-year,
    independent of event volume because distinct-hour reduction
    happens map-side first). No global sort, no self-join — the naive
    formulation is an O(hours²) self-join per user.
    """
    ev = t(spark, sf_dir, "events")
    from pyspark.sql import Window

    hours = ev.select(
        "user_id",
        F.expr("unix_timestamp(date_trunc('hour', ts)) div 3600").alias("h"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("h")
    runs = (
        hours.withColumn("anchor", F.col("h") - F.row_number().over(w))
        .groupBy("user_id", "anchor")
        .agg(F.count("*").alias("run_len"))
    )
    return runs.groupBy("user_id").agg(
        F.count("*").alias("n_islands"),
        F.max("run_len").alias("longest_run"),
        F.sum("run_len").alias("active_hours"),
    )


# ---------------------------------------------------------------------------
# Bucketed interval join (range join → equi-join decomposition)
# ---------------------------------------------------------------------------

_IVL_HOURS = 2  # error window length


@register(
    "interval_bucket_join",
    oracle=f"""
    SELECT count(*) AS n_pairs,
           count(DISTINCT c_id) AS n_clicks_in_window,
           count(DISTINCT e_id) AS n_errors_with_clicks
    FROM (
        SELECT er.event_id AS e_id, c.event_id AS c_id
        FROM events er JOIN events c
          ON er.event_type = 'error' AND c.event_type = 'click'
         AND er.user_id = c.user_id
         AND c.ts >= er.ts AND c.ts < er.ts + INTERVAL {_IVL_HOURS} HOUR
    )
    """,
)
def interval_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join decomposed into an equi-join: each error
    event opens a 2-hour window; count the same user's clicks inside
    it.

    100 TB: a naive range join is a per-user cross product (Spark
    plans ``ts`` range predicates under a sort-merge join only when
    the optimizer's range-join support kicks in; otherwise BNLJ).
    Decomposition: explode each interval into the 3 hour-buckets it
    can overlap (``sequence(h0, h1)``), join on (user_id, bucket) —
    a plain hash equi-join — then apply the exact range predicate and
    dedupe pair ids (a pair can match in two buckets). Bucket fan-out
    is interval_len/bucket_len + 1 ≈ 3, a constant — the shuffle
    grows 3×, not quadratically.
    """
    ev = t(spark, sf_dir, "events")
    hour = lambda c: F.expr(f"unix_timestamp(date_trunc('hour', {c})) div 3600")
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("e_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
            F.expr(
                f"sequence(unix_timestamp(date_trunc('hour', ts)) div 3600, "
                f"unix_timestamp(date_trunc('hour', ts + INTERVAL {_IVL_HOURS} "
                f"HOURS)) div 3600)"
            ).alias("buckets"),
        )
        .select("e_id", "e_user", "e_ts", F.explode("buckets").alias("bucket"))
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        hour("ts").alias("bucket"),
    )
    pairs = (
        errors.join(
            clicks,
            (errors.e_user == clicks.c_user) & (errors.bucket == clicks.bucket),
        )
        .filter(
            (F.col("c_ts") >= F.col("e_ts"))
            & (F.col("c_ts") < F.col("e_ts") + F.expr(f"INTERVAL {_IVL_HOURS} HOURS"))
        )
        .select("e_id", "c_id")
        .distinct()
    )
    return pairs.agg(
        F.count("*").alias("n_pairs"),
        F.count_distinct("c_id").alias("n_clicks_in_window"),
        F.count_distinct("e_id").alias("n_errors_with_clicks"),
    )


# ---------------------------------------------------------------------------
# Python UDTF surface (lateral table function)
# ---------------------------------------------------------------------------

_CHUNK = 50  # words per chunk — matches the oracle's range math


@register(
    "udtf_chunk_rows",
    oracle=f"""
    SELECT doc_id,
           CAST(i AS INT) AS chunk_idx,
           CAST(least({_CHUNK}, nw - i * {_CHUNK}) AS INT) AS n_words,
           words[i * {_CHUNK} + 1] AS first_word
    FROM (
        SELECT doc_id, words, len(words) AS nw
        FROM (SELECT doc_id, {WORDS_SQL} AS words FROM documents)
    ), LATERAL unnest(range(0, (nw + {_CHUNK - 1}) // {_CHUNK})) AS t(i)
    """,
)
def udtf_chunk_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-backed Python UDTF exploding each document into fixed
    50-word chunk rows via a LATERAL join — the one UDF class
    (table-valued) the registry didn't exercise yet.

    The normalization inside eval() is the Python twin of
    functions.text.normalize_text (single source: NORM_SQL); the
    expression-only equivalent of this op is doc_chunking_stats —
    this registration exists to pin the UDTF API surface (Spark 4
    ``spark.udtf.register`` + LATERAL correlate), not as the fast
    path.

    100 TB: a UDTF runs per-partition through Arrow batches like
    mapInPandas; the lateral correlate adds no shuffle (chunk rows are
    produced where the document row lives). Output grows ~2x rows,
    so downstream keys re-shuffle on (doc_id, chunk_idx) only when a
    later stage asks.
    """
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="chunk_idx int, n_words int, first_word string",
        useArrow=True,
    )
    class Chunks:
        def eval(self, text: str):
            import re

            if text is None:
                return
            words = re.sub(r"\s+", " ", text).strip().lower().split(" ")
            for i in range(0, len(words), _CHUNK):
                c = words[i : i + _CHUNK]
                yield (i // _CHUNK, len(c), c[0])

    spark.udtf.register("chunks_udtf", Chunks)
    t(spark, sf_dir, "documents").createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        "SELECT d.doc_id, c.chunk_idx, c.n_words, c.first_word "
        "FROM __udtf_docs d, LATERAL chunks_udtf(d.text) c"
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters
# ---------------------------------------------------------------------------

_CMS_D = 4  # sketch depth (independent hash rows)
_CMS_W = 1024  # counters per row
_CMS_TOPK = 20


def _cms_pos_duck(word_sql: str, j: int) -> str:
    return (
        f"CAST(concat('0x', substr(md5(concat({word_sql}, '#cms{j}')), 1, 15)) "
        f"AS BIGINT) % {_CMS_W}"
    )


_CMS_TOKENS_SQL = f"""
    SELECT unnest(words) AS word
    FROM (SELECT {WORDS_SQL} AS words FROM documents)
"""

_CMS_SKETCH_SQL = " UNION ALL ".join(
    f"SELECT {j} AS depth, {_cms_pos_duck('word', j)} AS pos, "
    f"count(*) AS cnt FROM toks GROUP BY depth, pos"
    for j in range(_CMS_D)
)

_CMS_CAND_POS = ", ".join(
    f"{_cms_pos_duck('word', j)} AS pos{j}" for j in range(_CMS_D)
)
_CMS_MIN_EXPR = "least(" + ", ".join(
    f"(SELECT cnt FROM sketch s WHERE s.depth = {j} AND s.pos = c.pos{j})"
    for j in range(_CMS_D)
) + ")"


@register(
    "cms_heavy_hitters",
    oracle=f"""
    WITH toks AS ({_CMS_TOKENS_SQL}),
         sketch AS ({_CMS_SKETCH_SQL}),
         exact AS (
            SELECT word, count(*) AS exact_cnt FROM toks GROUP BY word
            ORDER BY exact_cnt DESC, word LIMIT {_CMS_TOPK}
         ),
         c AS (SELECT word, exact_cnt, {_CMS_CAND_POS} FROM exact)
    SELECT word, exact_cnt, CAST({_CMS_MIN_EXPR} AS BIGINT) AS cms_estimate
    FROM c
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream, read back for the
    exact top-20 words (estimate >= exact always; collisions show as
    overestimates).

    100 TB: the sketch is a FIXED d x w = 4x1024 counter grid no
    matter the corpus size — each depth row is one map-side-combinable
    groupBy, shards merge by summing counters (the same exchangeable-
    dataset property as the HLL register table, sketches.py). The
    read-back join touches d rows per candidate. The exact top-k here
    is the oracle's ground truth at test scale; at 100 TB one keeps
    ONLY the sketch and a candidate stream.
    """
    from .functions.text import hash60, normalize_text

    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("word")
    )
    # ONE corpus scan for all depths: per token, explode the 4
    # (depth, pos) pairs (audited: the union-per-depth form rescanned
    # the source once per depth)
    pos_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("depth"),
                (
                    hash60(F.concat(F.col("word"), F.lit(f"#cms{j}")))
                    % _CMS_W
                ).alias("pos"),
            )
            for j in range(_CMS_D)
        ]
    )
    sketch = (
        toks.select(F.explode(pos_structs).alias("x"))
        .select("x.depth", "x.pos")
        .groupBy("depth", "pos")
        .agg(F.count("*").alias("cnt"))
    )
    exact = (
        toks.groupBy("word")
        .agg(F.count("*").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), "word")
        .limit(_CMS_TOPK)
    )
    cand = exact.select(
        "word",
        "exact_cnt",
        *[
            (hash60(F.concat(F.col("word"), F.lit(f"#cms{j}"))) % _CMS_W).alias(
                f"pos{j}"
            )
            for j in range(_CMS_D)
        ],
    )
    out = cand
    for j in range(_CMS_D):
        sj = sketch.filter(F.col("depth") == j).select(
            F.col("pos").alias(f"pos{j}"), F.col("cnt").alias(f"cnt{j}")
        )
        out = out.join(F.broadcast(sj), f"pos{j}", "left")
    return out.select(
        "word",
        "exact_cnt",
        F.least(*[F.col(f"cnt{j}") for j in range(_CMS_D)]).alias("cms_estimate"),
    )


# ---------------------------------------------------------------------------
# Seasonal hour-of-day profile
# ---------------------------------------------------------------------------


@register(
    "seasonal_hourly_profile",
    oracle="""
    SELECT event_type, hod, n_events,
           CAST(n_events * 1000000 // total AS BIGINT) AS share_ppm,
           value_sum_e4
    FROM (
        SELECT event_type, hod, count(*) AS n_events,
               sum(count(*)) OVER (PARTITION BY event_type) AS total,
               CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
                   AS value_sum_e4
        FROM (SELECT event_type, CAST(hour(ts) AS INT) AS hod, value
              FROM events)
        GROUP BY event_type, hod
    )
    """,
)
def seasonal_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality per event_type: event counts, each
    hour's traffic share in ppm (integer-exact), and the fixed-point
    value mass (x10^4 bigints — the engine's standard float-free
    pattern, cf. timeseries_gapfill_hourly).

    100 TB: one groupBy on (event_type, hod) — 120 output groups —
    with map-side partial aggregation doing virtually all the work;
    the share window runs over 24 rows per type. This profile is the
    baseline input to the anomaly scan (timeseries_anomaly_hours).
    """
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    grouped = (
        ev.select(
            "event_type",
            F.hour("ts").cast("int").alias("hod"),
            F.expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)").alias("v_e4"),
        )
        .groupBy("event_type", "hod")
        .agg(F.count("*").alias("n_events"), F.sum("v_e4").alias("value_sum_e4"))
    )
    w = Window.partitionBy("event_type")
    return grouped.select(
        "event_type",
        "hod",
        "n_events",
        F.expr(
            "CAST(n_events * 1000000 div sum(n_events) "
            "OVER (PARTITION BY event_type) AS BIGINT)"
        ).alias("share_ppm"),
        "value_sum_e4",
    )


# ---------------------------------------------------------------------------
# PageRank over the event-transition graph
# ---------------------------------------------------------------------------

_TRANSITION_EDGES_SQL = """
    SELECT event_type AS src, next_type AS dst,
           CAST(count(*) AS BIGINT) AS w
    FROM (
        SELECT event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    )
    WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
"""


def _transition_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, w): first-order event-type transitions per user and
    their counts — the Spark twin of _TRANSITION_EDGES_SQL."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
    )


@register(
    "pagerank_event_graph",
    oracle=pagerank_ppm_sql(_TRANSITION_EDGES_SQL, "src", "dst", "w", iters=5),
)
def pagerank_event_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (5 iterations, ppm fixed point) over the first-order
    event-transition graph — which event types are behavioral sinks
    once transition volume is walked, not just counted.

    100 TB: the transition edge list aggregates out of one window pass
    (the event_transition_matrix plan); each iteration then joins
    node-sized ranks to the edge list — two hash shuffles per
    iteration, both keyed on node ids, never on raw events. See
    operators/graph.py for the checkpoint-per-k-iterations note.
    """
    from .operators.graph import pagerank_ppm

    return pagerank_ppm(_transition_edges(spark, sf_dir), "src", "dst", "w", iters=5)


# ---------------------------------------------------------------------------
# Mergeable histogram quantile sketch
# ---------------------------------------------------------------------------


@register(
    "histogram_quantile_sketch",
    oracle="""
    SELECT event_type,
           CAST(max(tot) AS BIGINT) AS n,
           min(CASE WHEN cum * 100 >= tot * 50 THEN bin END) AS p50_bin,
           min(CASE WHEN cum * 100 >= tot * 95 THEN bin END) AS p95_bin
    FROM (
        SELECT event_type, bin, cnt,
               sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
               sum(cnt) OVER (PARTITION BY event_type) AS tot
        FROM (
            SELECT event_type, CAST(floor(value * 10) AS BIGINT) AS bin,
                   count(*) AS cnt
            FROM events GROUP BY event_type, bin
        )
    )
    GROUP BY event_type
    """,
)
def histogram_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate p50/p95 per event_type from a fixed-width histogram
    (bin = floor(value*10), 0.1 resolution): the mergeable-quantile
    pattern — shards keep (bin, count) grids, merge = sum, quantile =
    first bin whose cumulative count crosses the target percentile
    (integer cross-multiplication, no float division).

    100 TB: the histogram is one map-combined groupBy whose state is
    O(distinct bins), not O(rows) — the same state-bound argument as
    the exact two-pass percentile (operators/percentile.py), but with
    a sketch that shards can merge without a second pass over raw
    data. The cumulative window runs over bins, never rows.
    """
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    hist = (
        ev.select(
            "event_type",
            F.expr("CAST(floor(value * 10) AS BIGINT)").alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(F.count("*").alias("cnt"))
    )
    wcum = Window.partitionBy("event_type").orderBy("bin")
    wtot = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "bin",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wtot).alias("tot"),
    )
    return cum.groupBy("event_type").agg(
        F.max("tot").alias("n"),
        F.min(F.when(F.col("cum") * 100 >= F.col("tot") * 50, F.col("bin"))).alias(
            "p50_bin"
        ),
        F.min(F.when(F.col("cum") * 100 >= F.col("tot") * 95, F.col("bin"))).alias(
            "p95_bin"
        ),
    )


# ---------------------------------------------------------------------------
# Prefix-filter exact Jaccard self-join (AllPairs/PPJoin prefix)
# ---------------------------------------------------------------------------

_PFX_T_NUM, _PFX_T_DEN = 6, 10  # Jaccard threshold 0.6
#: prefix length for |set| = n at threshold t: n - ceil(t*n) + 1
#: (DuckDB `//` and Spark `div` spellings of the same floor division)
_PFX_LEN = f"(n - ({_PFX_T_NUM} * n + {_PFX_T_DEN - 1}) // {_PFX_T_DEN} + 1)"


_PFX_ORACLE = f"""
    WITH sets AS (
        SELECT doc_id, list_distinct(list_transform(
            range(1, greatest(len(words) - 2, 1) + 1),
            i -> concat_ws(' ', words[i], words[i+1], words[i+2]))) AS s
        FROM (SELECT doc_id, {WORDS_SQL} AS words FROM documents)
    ),
    toks AS (SELECT doc_id, unnest(s) AS tok FROM sets),
    freq AS (SELECT tok, count(*) AS f FROM toks GROUP BY tok),
    ranked AS (SELECT tok, row_number() OVER (ORDER BY f, tok) AS rk FROM freq),
    docw AS (
        SELECT t.doc_id, list_sort(list(r.rk)) AS rks, count(*) AS n
        FROM toks t JOIN ranked r USING (tok) GROUP BY t.doc_id
    ),
    pref AS (
        SELECT doc_id, unnest(rks[1 : CAST({_PFX_LEN} AS BIGINT)]) AS p
        FROM docw
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM pref a JOIN pref b ON a.p = b.p AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, jac_ppm
    FROM (
        SELECT c.doc_a, c.doc_b,
               len(list_intersect(da.rks, db.rks)) * 1000000
                   // (da.n + db.n - len(list_intersect(da.rks, db.rks)))
                   AS jac_ppm
        FROM cand c
        JOIN docw da ON da.doc_id = c.doc_a
        JOIN docw db ON db.doc_id = c.doc_b
    )
    WHERE jac_ppm >= {_PFX_T_NUM * 100_000}
"""


@register("prefix_filter_jaccard_pairs", oracle=_PFX_ORACLE)
def prefix_filter_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard >= 0.6 shingle-set self-join via AllPairs prefix
    filtering (Xiao et al., WWW'08 — the deterministic complement to
    the probabilistic MinHash-LSH candidate generation in
    operators/dedup.py): order tokens by ascending global frequency;
    a pair at threshold t MUST share a token within each side's first
    n - ceil(t*n) + 1 rarest tokens, so the candidate join runs over
    rare-token posting lists only (measured at sf0.01: 165 candidates
    from 124,750 possible pairs, 25 survivors).

    100 TB: see operators/dedup.py::prefix_filter_pairs (the pipeline
    was extracted there verbatim for reuse by the LSH recall audit) —
    prefix join over rare-token posting lists, vocabulary-sized global
    rank sort, candidate-only verify. Integer ppm verdicts.
    """
    from .operators.dedup import prefix_filter_pairs

    return prefix_filter_pairs(
        t(spark, sf_dir, "documents"), "text", "doc_id",
        _PFX_T_NUM, _PFX_T_DEN, shingle_n=3,
    )


# ---------------------------------------------------------------------------
# Streaming HLL: bounded-state distinct counting in Structured Streaming
# ---------------------------------------------------------------------------

_SHLL_FROM = (
    "(SELECT CAST(epoch_ms(date_trunc('day', ts)) AS BIGINT) AS day_ms,"
    " event_type, user_id FROM events) src"
)
_SHLL_REG = hll_registers_sql(
    key_sql="CAST(user_id AS VARCHAR)",
    from_sql=_SHLL_FROM,
    group_sql="day_ms, event_type",
)
_SHLL_EST = hll_estimate_sql(_SHLL_REG, group_sql="day_ms, event_type")


@register(
    "streaming_hll_distinct",
    oracle=f"""
    SELECT h.day_ms, h.event_type, h.n_registers, h.hll_estimate,
           x.exact_distinct
    FROM ({_SHLL_EST}) h
    JOIN (SELECT CAST(epoch_ms(date_trunc('day', ts)) AS BIGINT) AS day_ms,
                 event_type, count(DISTINCT user_id) AS exact_distinct
          FROM events GROUP BY day_ms, event_type) x
      USING (day_ms, event_type)
    """,
)
def streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day distinct users per event_type, estimated by the portable
    HLL sketch INSIDE Structured Streaming: the register stream is a
    plain windowed ``max`` aggregation, so streaming state is bounded
    at windows x groups x 64 registers — the sketch turns streaming
    COUNT DISTINCT (whose exact form needs every key in state, the
    dropDuplicates problem) into a fixed-size-state aggregation.

    Drained complete-mode to a memory table; the estimate and the
    exact-batch comparison run on the materialized registers. 100 TB:
    identical topology — the stream shuffles (day, type, reg) maxes,
    never user ids.
    """
    from .operators.sketches import hll_registers as _regs
    from .streaming.sessions import read_event_stream, run_to_memory

    name = "stream_hll_gate"
    stream = read_event_stream(spark, f"{sf_dir}/events.parquet").withColumn(
        "w", F.window("ts", "1 day")
    )
    reg_stream = _regs(stream, ["w", "event_type"], "user_id")
    run_to_memory(reg_stream, name, output_mode="complete")
    regs = spark.table(name)
    est = hll_estimate(regs, ["w", "event_type"]).select(
        (F.unix_timestamp(F.col("w.start")) * 1000).alias("day_ms"),
        "event_type",
        "n_registers",
        "hll_estimate",
    )
    ev = t(spark, sf_dir, "events")
    exact = ev.groupBy(
        (F.unix_timestamp(F.date_trunc("day", "ts")) * 1000).alias("day_ms"),
        "event_type",
    ).agg(F.count_distinct("user_id").alias("exact_distinct"))
    return est.join(exact, ["day_ms", "event_type"])


# ---------------------------------------------------------------------------
# Rank-function spectrum (ntile / percent_rank / cume_dist)
# ---------------------------------------------------------------------------


@register(
    "window_rank_spectrum",
    oracle="""
    SELECT event_type, quartile, count(*) AS n,
           CAST(floor(min(pr) * 1000000 + 0.5) AS BIGINT) AS min_pr_e6,
           CAST(floor(max(cd) * 1000000 + 0.5) AS BIGINT) AS max_cd_e6
    FROM (
        SELECT event_type,
               ntile(4) OVER wv AS quartile,
               percent_rank() OVER wv AS pr,
               cume_dist() OVER wv AS cd
        FROM events
        WINDOW wv AS (PARTITION BY event_type ORDER BY value, event_id)
    )
    GROUP BY event_type, quartile
    """,
)
def window_rank_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rank-function family (ntile, percent_rank, cume_dist) over a
    deterministic (value, event_id) order, folded to per-quartile
    stats. percent_rank/cume_dist are exact rationals evaluated with
    the identical IEEE divide in both engines; the e6 fixed-point
    round is the engine's standard float-boundary guard.

    100 TB: one shuffle on event_type; within-partition sort feeds all
    three rank functions from the same window frame.
    """
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    wv = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = ev.select(
        "event_type",
        F.ntile(4).over(wv).alias("quartile"),
        F.percent_rank().over(wv).alias("pr"),
        F.cume_dist().over(wv).alias("cd"),
    )
    return ranked.groupBy("event_type", "quartile").agg(
        F.count("*").alias("n"),
        F.expr("CAST(floor(min(pr) * 1000000 + 0.5) AS BIGINT)").alias(
            "min_pr_e6"
        ),
        F.expr("CAST(floor(max(cd) * 1000000 + 0.5) AS BIGINT)").alias(
            "max_cd_e6"
        ),
    )


# ---------------------------------------------------------------------------
# Posting-list delta (varint) compression audit
# ---------------------------------------------------------------------------

_VARINT_BYTES = """
    CASE WHEN gap < 128 THEN 1
         WHEN gap < 16384 THEN 2
         WHEN gap < 2097152 THEN 3
         WHEN gap < 268435456 THEN 4
         ELSE 5 END
"""


@register(
    "posting_gap_encode_stats",
    oracle=f"""
    SELECT band, count(*) AS n_terms,
           CAST(sum(n_postings) AS BIGINT) AS total_postings,
           CAST(sum(raw_bytes) AS BIGINT) AS raw_bytes,
           CAST(sum(varint_bytes) AS BIGINT) AS varint_bytes,
           CAST(sum(varint_bytes) * 1000000 // sum(raw_bytes) AS BIGINT)
               AS ratio_ppm
    FROM (
        SELECT tok, count(*) AS n_postings,
               count(*) * 8 AS raw_bytes,
               CAST(sum({_VARINT_BYTES}) AS BIGINT) AS varint_bytes,
               length(bin(count(*))) - 1 AS band
        FROM (
            SELECT tok, doc_id,
                   doc_id - coalesce(lag(doc_id) OVER (
                       PARTITION BY tok ORDER BY doc_id), 0) AS gap
            FROM (
                SELECT DISTINCT tok, doc_id
                FROM (SELECT doc_id, unnest({WORDS_SQL}) AS tok
                      FROM documents)
            )
        )
        GROUP BY tok
    )
    GROUP BY band
    """,
)
def posting_gap_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta + varint compression audit for word posting lists, grouped
    by posting-length band (floor(log2) via ``length(bin(n)) - 1`` —
    the engine's no-float-log idiom): gap-encode each sorted posting
    list, cost each gap at LEB128 varint width, report bytes saved vs
    raw 8-byte ids per band.

    100 TB: this is the storage model for the inverted-index family
    (operators/search.py) — posting lists sorted by doc_id gap-encode
    to ~1-2 bytes/posting. The scan here is one distinct + one
    window lag + two bounded aggregations, all keyed on term.
    """
    from pyspark.sql import Window

    from .functions.text import normalize_text

    docs = t(spark, sf_dir, "documents")
    postings = docs.select(
        "doc_id",
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("tok"),
    ).distinct()
    wl = Window.partitionBy("tok").orderBy("doc_id")
    gaps = postings.select(
        "tok",
        (
            F.col("doc_id")
            - F.coalesce(F.lag("doc_id").over(wl), F.lit(0).cast("bigint"))
        ).alias("gap"),
    )
    per_term = gaps.groupBy("tok").agg(
        F.count("*").alias("n_postings"),
        (F.count("*") * 8).alias("raw_bytes"),
        F.sum(F.expr(_VARINT_BYTES)).alias("varint_bytes"),
    )
    banded = per_term.withColumn(
        "band", F.expr("length(bin(n_postings)) - 1")
    )
    return banded.groupBy("band").agg(
        F.count("*").alias("n_terms"),
        F.sum("n_postings").alias("total_postings"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("varint_bytes").alias("varint_bytes"),
        F.expr(
            "CAST(sum(varint_bytes) * CAST(1000000 AS BIGINT)"
            " div sum(raw_bytes) AS BIGINT)"
        ).alias("ratio_ppm"),
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval (integer-rational contract)
# ---------------------------------------------------------------------------

_BM25_TERMS = ("dup", "merge", "window")
_BM25_TOPK = 10
# k1 = 12/10, b = 3/4 folded into one integer formula (see docstring):
#   tfn_ppm = 44*tf*T*1e6 / (20*tf*T + 6*T + 18*dl*N)
#   idf_e6  = (2*(N-df)+1)*1e6 / (2*df+1)   — Robertson ratio WITHOUT the
#             log (a monotone rational surrogate: fully integer-portable;
#             this corpus' 31-word vocabulary makes log-idf degenerate —
#             floor-log2 zeroes every term except the rare marker)
_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)


@register(
    "bm25_rank_topk",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(words) AS tok
        FROM (SELECT doc_id, {WORDS_SQL} AS words FROM documents)
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    corpus AS (SELECT CAST(count(*) AS BIGINT) AS t_total,
                      CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
               FROM toks),
    tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
           FROM toks WHERE tok IN ({_BM25_TERMS_SQL}) GROUP BY doc_id, tok),
    df AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
           FROM toks WHERE tok IN ({_BM25_TERMS_SQL}) GROUP BY tok),
    scored AS (
        SELECT tf.doc_id,
               CAST(sum(
                   ((2 * (c.n_docs - df.df) + 1) * 1000000 // (2 * df.df + 1))
                   * (44 * tf.tf * c.t_total * 1000000
                      // (20 * tf.tf * c.t_total + 6 * c.t_total
                          + 18 * dl.dl * c.n_docs))
                   // 1000000
               ) AS BIGINT) AS bm25_e6
        FROM tf JOIN df USING (tok) JOIN dl USING (doc_id), corpus c
        GROUP BY tf.doc_id
    )
    SELECT doc_id, bm25_e6 FROM scored
    ORDER BY bm25_e6 DESC, doc_id LIMIT {_BM25_TOPK}
    """,
)
def bm25_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval for a fixed 3-term query, every factor an
    integer rational so both engines rank identically: k1=1.2 and
    b=0.75 fold into tfn = 44*tf*T / (20*tf*T + 6*T + 18*dl*N) (T =
    corpus tokens, N = docs — avgdl never materializes as a float),
    idf is the Robertson ratio (2(N-df)+1)/(2df+1) in e6 fixed point
    WITHOUT the log (documented surrogate: monotone in rarity,
    integer-portable; see oracle comment for why log-idf degenerates
    on this corpus).

    100 TB: tf/df/dl are the inverted-index aggregates
    (operators/search.py ingest artifacts); scoring touches only
    postings of the query terms; corpus totals are a 1-row broadcast
    (the engine's scalar-crossJoin pattern). Ranking the candidate
    set is a top-k, not a global sort.
    """
    from .functions.text import normalize_text

    docs = t(spark, sf_dir, "documents")
    # four consumers (dl, corpus totals, tf, df) — tokenize ONCE
    toks = docs.select(
        "doc_id",
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("tok"),
    ).localCheckpoint()
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    corpus = toks.agg(
        F.count("*").cast("bigint").alias("t_total"),
        F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
    )
    q = toks.filter(F.col("tok").isin(*_BM25_TERMS))
    tf = q.groupBy("doc_id", "tok").agg(F.count("*").cast("bigint").alias("tf"))
    df_ = q.groupBy("tok").agg(
        F.count_distinct("doc_id").cast("bigint").alias("df")
    )
    scored = (
        tf.join(F.broadcast(df_), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            F.expr(
                "((2 * (n_docs - df) + 1) * CAST(1000000 AS BIGINT)"
                " div (2 * df + 1))"
                " * (44 * tf * t_total * CAST(1000000 AS BIGINT)"
                "    div (20 * tf * t_total + 6 * t_total + 18 * dl * n_docs))"
                " div 1000000"
            ).alias("c"),
        )
        .groupBy("doc_id")
        .agg(F.sum("c").cast("bigint").alias("bm25_e6"))
    )
    return scored.orderBy(F.desc("bm25_e6"), "doc_id").limit(_BM25_TOPK)


# ---------------------------------------------------------------------------
# Behavioral diversity (Gini impurity — log-free entropy surrogate)
# ---------------------------------------------------------------------------


@register(
    "user_behavior_gini",
    oracle="""
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(cnt) AS BIGINT) AS total_events,
           CAST((1000000 * (sum(cnt) * sum(cnt) - sum(cnt * cnt)))
                // (sum(cnt) * sum(cnt)) AS BIGINT) AS gini_ppm
    FROM (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
          FROM events GROUP BY user_id, event_type)
    GROUP BY user_id
    """,
)
def user_behavior_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral diversity as Gini impurity
    1 - sum(p_i^2) in exact ppm integer arithmetic — the log-free
    surrogate for Shannon entropy (cross-engine ln() is not
    bit-portable; squared rationals are). 0 = single-type user,
    -> 800000 = uniform over 5 types.

    100 TB: two map-combinable aggregations keyed on user — no joins,
    no windows; the inner (user, type) groupBy caps state at
    users x types.
    """
    ev = t(spark, sf_dir, "events")
    cnts = ev.groupBy("user_id", "event_type").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    return cnts.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_types"),
        F.sum("cnt").cast("bigint").alias("total_events"),
        F.expr(
            "CAST((1000000 * (sum(cnt) * sum(cnt) - sum(cnt * cnt)))"
            " div (sum(cnt) * sum(cnt)) AS BIGINT)"
        ).alias("gini_ppm"),
    )


# ---------------------------------------------------------------------------
# Pareto revenue coverage (80/20 analysis)
# ---------------------------------------------------------------------------

_CENTS = "CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)"


@register(
    "pareto_revenue_coverage",
    oracle=f"""
    WITH sup_rev AS (
        SELECT s.s_nationkey, l.l_suppkey, CAST(sum({_CENTS}) AS BIGINT) AS cents
        FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
        GROUP BY s.s_nationkey, l.l_suppkey
    ),
    ranked AS (
        SELECT n.n_name, r.l_suppkey, r.cents,
               sum(r.cents) OVER (PARTITION BY r.s_nationkey
                   ORDER BY r.cents DESC, r.l_suppkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(r.cents) OVER (PARTITION BY r.s_nationkey) AS total
        FROM sup_rev r JOIN nation n ON n.n_nationkey = r.s_nationkey
    )
    SELECT n_name, CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(max(total) AS BIGINT) AS revenue_cents,
           CAST(count(*) FILTER (WHERE (cum - cents) * 5 < total * 4)
                AS BIGINT) AS n_to_80pct,
           CAST(max(cents) * 1000000 // max(total) AS BIGINT) AS top1_share_ppm
    FROM ranked
    GROUP BY n_name
    """,
)
def pareto_revenue_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration per nation: how many top suppliers cover
    80% of lineitem revenue (cents fixed point; the crossing test is
    prev_cum*5 < total*4 — integer cross-multiplication on the
    cumulative window).

    100 TB: one fact shuffle on suppkey, broadcast supplier/nation
    dims, then a per-nation window over SUPPLIERS (dim-sized, never
    fact-sized). The revenue-desc sort is within nation partitions.
    """
    from pyspark.sql import Window

    li = t(spark, sf_dir, "lineitem")
    sup = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    sup_rev = (
        li.select("l_suppkey", F.expr(_CENTS).alias("cents"))
        .groupBy("l_suppkey")
        .agg(F.sum("cents").alias("cents"))
        .join(sup.select("s_suppkey", "s_nationkey"),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
    )
    wcum = (
        Window.partitionBy("s_nationkey")
        .orderBy(F.desc("cents"), "l_suppkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("s_nationkey")
    ranked = sup_rev.select(
        "n_name",
        "cents",
        F.sum("cents").over(wcum).alias("cum"),
        F.sum("cents").over(wtot).alias("total"),
    )
    return ranked.groupBy("n_name").agg(
        F.count("*").cast("bigint").alias("n_suppliers"),
        F.max("total").cast("bigint").alias("revenue_cents"),
        F.sum(
            F.when((F.col("cum") - F.col("cents")) * 5 < F.col("total") * 4, 1)
            .otherwise(0)
        ).cast("bigint").alias("n_to_80pct"),
        F.expr(
            "CAST(max(cents) * CAST(1000000 AS BIGINT) div max(total) AS BIGINT)"
        ).alias("top1_share_ppm"),
    )


# ---------------------------------------------------------------------------
# SCD2 interval derivation (type-2 history from an event log)
# ---------------------------------------------------------------------------


@register(
    "scd2_interval_stats",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER w AS prev_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    versions AS (
        SELECT user_id, event_type, ts,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS valid_to
        FROM ordered
        WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_versions,
           CAST(sum(CASE WHEN valid_to IS NOT NULL
                    THEN epoch_ms(valid_to) - epoch_ms(ts) END) AS BIGINT)
               AS closed_dwell_ms,
           CAST(max(CASE WHEN valid_to IS NOT NULL
                    THEN epoch_ms(valid_to) - epoch_ms(ts) END) AS BIGINT)
               AS longest_dwell_ms
    FROM versions
    GROUP BY user_id
    """,
)
def scd2_interval_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension derivation from the raw event
    log: collapse each user's stream to CHANGE points (event_type !=
    previous), stamp validity intervals [ts, next_change_ts), report
    version counts and dwell times (the open tail excluded from dwell
    sums; deterministic (ts, event_id) ordering).

    100 TB: the change-point filter runs inside the same per-user
    window pass that stamps valid_to — one shuffle on user_id total;
    version rows (the SCD2 table) are a fraction of event rows, and
    downstream dwell aggregation is map-combinable.
    """
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    versions = ordered.filter(
        F.col("prev_type").isNull()
        | (F.col("prev_type") != F.col("event_type"))
    ).select(
        "user_id",
        "ts",
        F.lead("ts").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ).alias("valid_to"),
    )
    dwell = F.when(
        F.col("valid_to").isNotNull(),
        F.unix_millis("valid_to") - F.unix_millis("ts"),
    )
    return versions.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_versions"),
        F.sum(dwell).cast("bigint").alias("closed_dwell_ms"),
        F.max(dwell).cast("bigint").alias("longest_dwell_ms"),
    )


# ---------------------------------------------------------------------------
# 2-D skyline (Pareto frontier) via running-max windows
# ---------------------------------------------------------------------------

_SKY_CENTS = "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"


@register(
    "skyline_orders_2d",
    oracle=f"""
    WITH pts AS (
        SELECT o_orderkey, {_SKY_CENTS} AS cents,
               CAST(epoch_ms(o_orderdate) AS BIGINT) AS date_ms
        FROM orders
    ),
    flagged AS (
        SELECT o_orderkey, cents, date_ms,
               max(date_ms) OVER (ORDER BY cents
                   RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                   AS max_d_higher,
               max(date_ms) OVER (PARTITION BY cents) AS max_d_equal
        FROM pts
    )
    SELECT o_orderkey, cents, date_ms
    FROM flagged
    WHERE (max_d_higher IS NULL OR max_d_higher < date_ms)
      AND max_d_equal <= date_ms
    """,
)
def skyline_orders_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of orders over (price, recency): rows no other
    order dominates in both dimensions. The Spark plan is the 2-D
    skyline's O(n log n) formulation — ONE sort by price with two
    running-max windows (strictly-higher-price frame via
    rangeBetween(1, unbounded) on cents, plus an equal-price max).
    The declarative NOT-EXISTS dominance definition is quadratic
    (150k orders at sf0.1 = 2.25e10 comparisons — it TIMED OUT as a
    DuckDB oracle), so the oracle mirrors the window formulation and
    the INDEPENDENT NOT-EXISTS cross-check runs as a pytest at
    sf0.001, where quadratic is cheap (the prefix-filter brute-force
    pattern).

    100 TB: the naive skyline is that quadratic self-join; the window
    formulation is one range-partitioned sort. Equal (price, date)
    duplicates don't dominate each other and all surface (standard
    weak-dominance contract, pytest-pinned).
    """
    from pyspark.sql import Window

    pts = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr(_SKY_CENTS).alias("cents"),
        F.unix_millis("o_orderdate").alias("date_ms"),
    )
    # Aggregate per price FIRST (max date among equal-priced rows), then
    # the strictly-higher-price suffix max is a linear ROWS-frame
    # running max over the distinct-price frame ordered descending.
    # MEASURED: the one-window RANGE-frame formulation
    # (rangeBetween(1, unboundedFollowing) on raw rows) took 376 s at
    # sf0.1 — Spark re-evaluates a moving RANGE bound per row
    # (quadratic); the grouped ROWS form runs in well under a second
    # and is the right 100 TB shape anyway (window over DISTINCT
    # prices, not rows).
    grp = pts.groupBy("cents").agg(F.max("date_ms").alias("max_d_equal"))
    w_prev = Window.orderBy(F.desc("cents")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    grp = grp.withColumn("max_d_higher", F.max("max_d_equal").over(w_prev))
    return (
        pts.join(grp, "cents")
        .filter(
            (
                F.col("max_d_higher").isNull()
                | (F.col("max_d_higher") < F.col("date_ms"))
            )
            & (F.col("max_d_equal") <= F.col("date_ms"))
        )
        .select("o_orderkey", "cents", "date_ms")
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------------

#: expected first-digit frequencies log10(1 + 1/d) in ppm — Python is
#: the single source; both engines consume the same literals
_BENFORD_PPM = (301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757)
_BENFORD_VALUES = ", ".join(
    f"({d}, {p})" for d, p in enumerate(_BENFORD_PPM, start=1)
)


@register(
    "benford_digit_audit",
    oracle=f"""
    WITH exp(digit, exp_ppm) AS (VALUES {_BENFORD_VALUES}),
    obs AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                    AS VARCHAR), 1, 1) AS INT) AS digit,
               CAST(count(*) AS BIGINT) AS n
        FROM orders WHERE o_totalprice >= 1
        GROUP BY digit
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM obs)
    SELECT e.digit, CAST(coalesce(o.n, 0) AS BIGINT) AS n,
           CAST(coalesce(o.n, 0) * 1000000 // t.total AS BIGINT) AS obs_ppm,
           CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
           CAST(abs(coalesce(o.n, 0) * 1000000 // t.total - e.exp_ppm)
                AS BIGINT) AS dev_ppm
    FROM exp e LEFT JOIN obs o ON o.digit = e.digit, tot t
    """,
)
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit (Benford) audit of order totals — the fraud/data-
    quality screen: observed digit shares vs log10(1+1/d) expectation
    (expectations are pinned Python ppm constants, the single source
    for both engines), deviation in exact ppm.

    100 TB: one map-combined 9-group aggregation; digit extraction is
    a string head on the integer part — no float log anywhere.
    """
    ev = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    obs = (
        ev.select(
            F.expr(
                "CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)"
                " AS STRING), 1, 1) AS INT)"
            ).alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    total = obs.agg(F.sum("n").alias("total"))
    exp = spark.createDataFrame(
        [(d, p) for d, p in enumerate(_BENFORD_PPM, start=1)],
        "digit int, exp_ppm bigint",
    )
    return (
        exp.join(obs, "digit", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
            F.expr(
                "CAST(coalesce(n, 0) * CAST(1000000 AS BIGINT) div total"
                " AS BIGINT)"
            ).alias("obs_ppm"),
            "exp_ppm",
            F.expr(
                "CAST(abs(coalesce(n, 0) * CAST(1000000 AS BIGINT) div total"
                " - exp_ppm) AS BIGINT)"
            ).alias("dev_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Time-weighted average value (TWAP)
# ---------------------------------------------------------------------------


@register(
    "twap_user_value",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(dur_ms) AS BIGINT) AS span_ms,
           CAST(sum(v_e4 * dur_ms) // sum(dur_ms) AS BIGINT) AS twap_e4
    FROM (
        SELECT user_id,
               CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v_e4,
               epoch_ms(lead(ts) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id)) - epoch_ms(ts) AS dur_ms
        FROM events
    )
    WHERE dur_ms IS NOT NULL AND dur_ms > 0
    GROUP BY user_id
    """,
)
def twap_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user: each event's value holds
    until the next event (step interpolation); the average weights by
    holding duration in ms — all integer (x10^4 values x ms weights;
    one integral divide at the end).

    100 TB: one per-user window pass to stamp durations, one
    map-combinable aggregation. Zero-duration intervals (same-instant
    events) are excluded rather than silently collapsing into the
    divisor.
    """
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    stamped = ev.select(
        "user_id",
        F.expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)").alias("v_e4"),
        (F.unix_millis(F.lead("ts").over(w)) - F.unix_millis("ts")).alias(
            "dur_ms"
        ),
    ).filter(F.col("dur_ms").isNotNull() & (F.col("dur_ms") > 0))
    return stamped.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_intervals"),
        F.sum("dur_ms").cast("bigint").alias("span_ms"),
        F.expr("CAST(sum(v_e4 * dur_ms) div sum(dur_ms) AS BIGINT)").alias(
            "twap_e4"
        ),
    )


# ---------------------------------------------------------------------------
# Association lift (market-basket over event types)
# ---------------------------------------------------------------------------


@register(
    "event_type_lift_pairs",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM ut),
    per_type AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_t
                 FROM ut GROUP BY event_type),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n_ab
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY type_a, type_b
    )
    SELECT p.type_a, p.type_b, p.n_ab,
           CAST(p.n_ab * 1000000 // n.n_users AS BIGINT) AS support_ppm,
           CAST(p.n_ab * 1000000 // ta.n_t AS BIGINT) AS confidence_ppm,
           CAST(p.n_ab * n.n_users * 1000000 // (ta.n_t * tb.n_t) AS BIGINT)
               AS lift_ppm
    FROM pairs p
    JOIN per_type ta ON ta.event_type = p.type_a
    JOIN per_type tb ON tb.event_type = p.type_b, n
    """,
)
def event_type_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association metrics over event-type co-occurrence
    per user: support, confidence and lift in exact ppm (lift =
    P(a,b)/(P(a)P(b)) computed as n_ab*N / (n_a*n_b) — one integral
    divide, no float probabilities).

    100 TB: the distinct (user, type) reduction happens map-side; the
    pair self-join fans out per user by itemset size (5 types max →
    ≤10 pairs/user), the bounded-fanout regime where AllPairs-style
    candidate pruning isn't needed. Totals are broadcast scalars.
    """
    ev = t(spark, sf_dir, "events")
    # consumed by three aggregations + the self-join — materialize once
    ut = ev.select("user_id", "event_type").distinct().localCheckpoint()
    n_users = ut.agg(
        F.count_distinct("user_id").cast("bigint").alias("n_users")
    )
    per_type = ut.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_t")
    )
    a = ut.select(F.col("user_id"), F.col("event_type").alias("type_a"))
    b = ut.select(F.col("user_id"), F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("n_ab"))
    )
    ta = per_type.select(
        F.col("event_type").alias("type_a"), F.col("n_t").alias("n_a")
    )
    tb = per_type.select(
        F.col("event_type").alias("type_b"), F.col("n_t").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            F.expr(
                "CAST(n_ab * CAST(1000000 AS BIGINT) div n_users AS BIGINT)"
            ).alias("support_ppm"),
            F.expr(
                "CAST(n_ab * CAST(1000000 AS BIGINT) div n_a AS BIGINT)"
            ).alias("confidence_ppm"),
            F.expr(
                "CAST(n_ab * n_users * CAST(1000000 AS BIGINT)"
                " div (n_a * n_b) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# HLL shard merge (mergeability as a checked result)
# ---------------------------------------------------------------------------

_SHARD_FROM = (
    "(SELECT event_type, user_id, user_id % 2 AS shard FROM events) src"
)
_MERGE_REG = hll_registers_sql(
    key_sql="CAST(user_id AS VARCHAR)",
    from_sql=_SHARD_FROM,
    group_sql="shard, event_type",
)
_DIRECT_REG = hll_registers_sql(
    key_sql="CAST(user_id AS VARCHAR)",
    from_sql="events",
    group_sql="event_type",
)
_MERGED_EST = hll_estimate_sql(
    f"""SELECT event_type, reg, CAST(max(max_rho) AS INT) AS max_rho
        FROM ({_MERGE_REG}) GROUP BY event_type, reg""",
    group_sql="event_type",
)
_DIRECT_EST = hll_estimate_sql(_DIRECT_REG, group_sql="event_type")


@register(
    "hll_merge_shards",
    oracle=f"""
    SELECT m.event_type, m.hll_estimate AS merged_estimate,
           d.hll_estimate AS direct_estimate,
           (m.hll_estimate = d.hll_estimate) AS merge_exact
    FROM ({_MERGED_EST}) m
    JOIN ({_DIRECT_EST}) d USING (event_type)
    """,
)
def hll_merge_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch mergeability AS A CHECKED RESULT: split events into two
    shards (user parity), build per-shard register tables, max-merge
    them, and emit the merged estimate NEXT TO the direct single-pass
    estimate with an equality flag — the lossless-merge property the
    100 TB story rests on (daily shards → one registry table), here
    verified by the value-hash gate on every run.
    """
    ev = t(spark, sf_dir, "events").withColumn(
        "shard", F.col("user_id") % 2
    )
    sharded = hll_registers(ev, ["shard", "event_type"], "user_id")
    merged_regs = sharded.groupBy("event_type", "reg").agg(
        F.max("max_rho").cast("int").alias("max_rho")
    )
    merged = hll_estimate(merged_regs, ["event_type"]).select(
        "event_type", F.col("hll_estimate").alias("merged_estimate")
    )
    direct = hll_estimate(
        hll_registers(t(spark, sf_dir, "events"), ["event_type"], "user_id"),
        ["event_type"],
    ).select("event_type", F.col("hll_estimate").alias("direct_estimate"))
    return merged.join(direct, "event_type").withColumn(
        "merge_exact", F.col("merged_estimate") == F.col("direct_estimate")
    )


# ---------------------------------------------------------------------------
# Equi-depth partition bounds (range-partitioner design)
# ---------------------------------------------------------------------------

_EQD_PARTS = 8


@register(
    "equidepth_partition_bounds",
    oracle=f"""
    SELECT event_type, k,
           min(CASE WHEN cum * {_EQD_PARTS} >= tot * k THEN bin END)
               AS bound_bin
    FROM (
        SELECT event_type, bin,
               sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
               sum(cnt) OVER (PARTITION BY event_type) AS tot
        FROM (SELECT event_type, CAST(floor(value * 10) AS BIGINT) AS bin,
                     count(*) AS cnt
              FROM events GROUP BY event_type, bin)
    ), (SELECT unnest(range(1, {_EQD_PARTS})) AS k)
    GROUP BY event_type, k
    """,
)
def equidepth_partition_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth range-partition boundaries per event_type: the k/8
    quantile cut points read off the mergeable histogram (the design
    input for a range partitioner / sorted-table splitter — Spark's
    own RangePartitioner samples; this computes exact bounds from
    bin counts, deterministic and engine-portable).

    100 TB: histogram state is O(bins); the boundary scan is a window
    over bins crossed with 7 k-values — no second pass over rows.
    """
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    hist = (
        ev.select(
            "event_type",
            F.expr("CAST(floor(value * 10) AS BIGINT)").alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(F.count("*").alias("cnt"))
    )
    cum = hist.select(
        "event_type",
        "bin",
        F.sum("cnt").over(
            Window.partitionBy("event_type").orderBy("bin")
        ).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("event_type")).alias("tot"),
    )
    ks = spark.range(1, _EQD_PARTS).select(F.col("id").cast("int").alias("k"))
    return (
        cum.crossJoin(F.broadcast(ks))
        .groupBy("event_type", "k")
        .agg(
            F.min(
                F.when(
                    F.col("cum") * _EQD_PARTS >= F.col("tot") * F.col("k"),
                    F.col("bin"),
                )
            ).alias("bound_bin")
        )
    )


# ---------------------------------------------------------------------------
# Deterministic weighted sampling (priority sampling, A-ES shaped)
# ---------------------------------------------------------------------------

_WS_M = 1 << 20  # priority modulus
_WS_K = 3


@register(
    "weighted_sample_topk",
    oracle=f"""
    SELECT source, doc_id, n_chars, pri
    FROM (
        SELECT source, doc_id, n_chars, pri,
               row_number() OVER (PARTITION BY source
                   ORDER BY pri DESC, doc_id) AS rn
        FROM (
            SELECT source, doc_id, n_chars,
                   CAST(n_chars * {_WS_M} // (1 +
                       CAST(concat('0x', substr(md5(concat('ws#',
                            CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
                       % {_WS_M}) AS BIGINT) AS pri
            FROM documents
        )
    )
    WHERE rn <= {_WS_K}
    """,
)
def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling: 3 docs per source with
    inclusion bias proportional to n_chars, via integer priority
    pri = w * 2^20 div (1 + h60(salted id) mod 2^20) — the A-ES
    (exponential-jump) priority shape with the float u^(1/w) replaced
    by an integer rational (documented contract: deterministic,
    monotone in weight, engine-portable; NOT exact A-ES inclusion
    probabilities — cross-engine ln()/pow() are not bit-portable).

    100 TB: a pure map to stamp priorities + one per-source top-k
    window — the same reproducibility story as split_assign_stats
    (re-ingest cannot change the sample).
    """
    from pyspark.sql import Window

    from .functions.text import hash60

    docs = t(spark, sf_dir, "documents")
    pri = F.expr(
        f"CAST(n_chars * {_WS_M} div (1 + "
        "CAST(conv(substring(md5(concat('ws#', CAST(doc_id AS STRING))),"
        f" 1, 15), 16, 10) AS BIGINT) % {_WS_M}) AS BIGINT)"
    ).alias("pri")
    w = Window.partitionBy("source").orderBy(F.desc("pri"), "doc_id")
    return (
        docs.select("source", "doc_id", "n_chars", pri)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _WS_K)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Label centroid inertia (clustering-quality audit over embeddings)
# ---------------------------------------------------------------------------


@register(
    "label_centroid_inertia",
    oracle="""
    WITH vals AS (
        SELECT vec_id, label, i AS pos,
               CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5)
                    AS BIGINT) AS v_e6
        FROM embeddings,
             LATERAL unnest(range(1, len(embedding) + 1)) AS r(i)
    ),
    cent AS (
        SELECT label, pos,
               CAST(sum(v_e6) // count(*) AS BIGINT) AS c_e6
        FROM vals GROUP BY label, pos
    )
    SELECT label,
           CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vectors,
           CAST(sum((v_e6 - c_e6) * (v_e6 - c_e6)) AS BIGINT) AS inertia_e12,
           CAST(sum((v_e6 - c_e6) * (v_e6 - c_e6))
                // count(DISTINCT vec_id) AS BIGINT) AS avg_inertia_e12
    FROM vals JOIN cent USING (label, pos)
    GROUP BY label
    """,
)
def label_centroid_inertia(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-cluster inertia per embedding label: centroid = per-dim
    integer mean of x10^6 fixed-point components, inertia = summed
    squared distance to it — the k-means quality audit (is a labeled
    partition tight?) with NO floating accumulation: float sums are
    order-dependent under distributed reduction, so the components
    are snapped to e6 integers first and every aggregate is exact.

    100 TB: posexplode fans 64x, then two map-combinable groupBys
    keyed on (label, pos) / label; the centroid table (labels x dims)
    broadcasts back for the distance join.
    """
    emb = t(spark, sf_dir, "embeddings")
    vals = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos0", "v"),
    ).select(
        "vec_id",
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.expr(
            "CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT)"
        ).alias("v_e6"),
    )
    cent = vals.groupBy("label", "pos").agg(
        F.expr("CAST(sum(v_e6) div count(*) AS BIGINT)").alias("c_e6")
    )
    joined = vals.join(F.broadcast(cent), ["label", "pos"])
    return joined.groupBy("label").agg(
        F.count_distinct("vec_id").cast("bigint").alias("n_vectors"),
        F.sum(
            (F.col("v_e6") - F.col("c_e6")) * (F.col("v_e6") - F.col("c_e6"))
        ).cast("bigint").alias("inertia_e12"),
        F.expr(
            "CAST(sum((v_e6 - c_e6) * (v_e6 - c_e6))"
            " div count(DISTINCT vec_id) AS BIGINT)"
        ).alias("avg_inertia_e12"),
    )


# ---------------------------------------------------------------------------
# Multimodal: PackBits TIFF (third compressed codec family)
# ---------------------------------------------------------------------------


@register(
    "multimodal_tiff_decode",
    oracle="""
    SELECT doc_id,
           16 AS width,
           CAST(greatest((octet_length(encode(text)) + 15) // 16, 1) AS INTEGER)
               AS height,
           16 * greatest((octet_length(encode(text)) + 15) // 16, 1) AS n_pixels,
           CAST((greatest((octet_length(encode(text)) + 15) // 16, 1) + 3) // 4
                AS INTEGER) AS n_strips,
           CAST(coalesce(list_sum(list_transform(
                   range(0, CAST(octet_length(encode(text)) AS BIGINT)),
                   i -> CAST(concat('0x', substr(hex(encode(text)),
                                                 CAST(i * 2 + 1 AS INTEGER), 2))
                             AS BIGINT))), 0) AS BIGINT) AS sum_gray,
           CAST(CASE WHEN octet_length(encode(text)) = 0 THEN 0
                     ELSE CAST(concat('0x', substr(hex(encode(text)), 1, 2))
                               AS INTEGER)
                END AS INTEGER) AS head_px
    FROM documents
    """,
)
def multimodal_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PackBits-compressed TIFF decode (multimodal/tiff.py): each
    document's bytes become a striped grayscale TIFF 6.0 file
    (RowsPerStrip=4, Compression=32773) and the pure-Python reader
    walks the IFD, inflates every strip with an output-bounded
    PackBits decoder (the GIF-LZW expansion lesson), and reassembles
    the pixel stream — the third compressed codec family after
    GIF-LZW and PNG-DEFLATE. Stats are payload-pure so the oracle
    never parses TIFF; strip assembly itself is proven by n_strips
    (ceil(height/4)) and the round-trip property test.

    100 TB: strips are TIFF's row-group analog — per-strip decode is
    the parallelism unit; the Arrow pass fuses build+parse so
    container bytes never shuffle.
    """
    from .multimodal.columns import decode_pass
    from .multimodal.tiff import TIFF_FEATURE_SCHEMA, decode_tiff, tiff_bytes

    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("content")
    )
    return decode_pass(
        d, lambda _, b: decode_tiff(tiff_bytes(b)), TIFF_FEATURE_SCHEMA
    )


# ---------------------------------------------------------------------------
# Column NDV profile (sketch x profiling composition)
# ---------------------------------------------------------------------------

_NDV_COLS = ("o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate")


def _ndv_branch_sql(col: str) -> str:
    # the column-name literal is aliased INSIDE from_sql — group_sql
    # must stay a plain column list (it is spliced into GROUP BY)
    reg = hll_registers_sql(
        key_sql="CAST(k AS VARCHAR)",
        from_sql=f"(SELECT '{col}' AS col, {col} AS k FROM orders) src",
        group_sql="col",
    )
    est = hll_estimate_sql(reg, group_sql="col")
    return (
        f"SELECT h.col, h.hll_estimate AS ndv_hll, x.ndv_exact"
        f" FROM ({est}) h JOIN (SELECT '{col}' AS col,"
        f" CAST(count(DISTINCT {col}) AS BIGINT) AS ndv_exact FROM orders) x"
        f" USING (col)"
    )


@register(
    "table_ndv_profile",
    oracle=" UNION ALL ".join(_ndv_branch_sql(c) for c in _NDV_COLS),
)
def table_ndv_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planner-style NDV profile of the orders table: per-column
    distinct-count estimates from the portable HLL sketch next to the
    exact counts — the statistics a cost-based optimizer (or a
    partition-strategy review) feeds on, computable in ONE pass per
    column group at 100 TB because the sketch state is 64 registers
    per column regardless of row count.
    """
    orders = t(spark, sf_dir, "orders")
    # ONE scan for every column's register table: per row, explode the
    # (col, key) pairs (audited: the per-column union form scanned the
    # table twice per column — 8 scans for 4 columns)
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"), F.col(c).cast("string").alias("k")
            )
            for c in _NDV_COLS
        ]
    )
    keyed = orders.select(F.explode(pairs).alias("x")).select(
        "x.col", "x.k"
    )
    est = hll_estimate(hll_registers(keyed, ["col"], "k"), ["col"]).select(
        "col", F.col("hll_estimate").alias("ndv_hll")
    )
    # ONE scan for every exact NDV: a single multi-count-distinct agg
    # (Catalyst plans it with one Expand), melted to rows via stack
    exact = (
        orders.agg(
            *[
                F.count_distinct(c).cast("bigint").alias(c)
                for c in _NDV_COLS
            ]
        ).selectExpr(
            "stack("
            + str(len(_NDV_COLS))
            + ", "
            + ", ".join(f"'{c}', {c}" for c in _NDV_COLS)
            + ") AS (col, ndv_exact)"
        )
    )
    return est.join(F.broadcast(exact), "col")


# ---------------------------------------------------------------------------
# Interval union coverage (merge overlapping windows)
# ---------------------------------------------------------------------------


@register(
    "interval_union_coverage",
    oracle=f"""
    WITH iv AS (
        SELECT user_id, epoch_ms(ts) AS s,
               epoch_ms(ts) + {_IVL_HOURS} * 3600000 AS e
        FROM events WHERE event_type = 'error'
    ),
    flagged AS (
        SELECT user_id, s, e,
               CASE WHEN s <= max(e) OVER (PARTITION BY user_id
                        ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 0 ELSE 1 END AS new_island
        FROM iv
    ),
    grouped AS (
        SELECT user_id, s, e,
               sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS island
        FROM flagged
    )
    SELECT user_id,
           CAST(count(DISTINCT island) AS BIGINT) AS n_merged,
           CAST(sum(len) AS BIGINT) AS covered_ms
    FROM (
        SELECT user_id, island, max(e) - min(s) AS len
        FROM grouped GROUP BY user_id, island
    )
    GROUP BY user_id
    """,
)
def interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of each user's 2-hour error windows: merge overlapping
    intervals (the classic running-max-end island scan: an interval
    starts a new island iff its start exceeds every prior end) and
    report merged-interval counts plus total covered wall-clock.

    100 TB: one shuffle on user_id; both window passes share the
    (user, start) sort; downstream length aggregation is
    map-combinable. The NULL first-row case (empty preceding frame)
    is a new island by definition — CASE handles the NULL max.
    """
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    iv = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.unix_millis("ts").alias("s"),
        (F.unix_millis("ts") + _IVL_HOURS * 3600000).alias("e"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = iv.withColumn(
        "new_island",
        F.when(F.col("s") <= F.max("e").over(w_prev), 0).otherwise(1),
    ).withColumn("island", F.sum("new_island").over(w_cum))
    per_island = flagged.groupBy("user_id", "island").agg(
        (F.max("e") - F.min("s")).alias("len")
    )
    return per_island.groupBy("user_id").agg(
        F.count_distinct("island").cast("bigint").alias("n_merged"),
        F.sum("len").cast("bigint").alias("covered_ms"),
    )


# ---------------------------------------------------------------------------
# CMS inner product: join-size estimation without the join
# ---------------------------------------------------------------------------


def _cms_grid_sql(key_sql: str, from_sql: str, j: int) -> str:
    return (
        f"SELECT {j} AS depth, "
        f"{_cms_pos_duck(key_sql, j)} AS pos, "
        f"CAST(count(*) AS BIGINT) AS cnt FROM {from_sql} GROUP BY depth, pos"
    )


_CMS_A_SQL = " UNION ALL ".join(
    _cms_grid_sql("CAST(o_orderkey AS VARCHAR)", "orders", j)
    for j in range(_CMS_D)
)
_CMS_B_SQL = " UNION ALL ".join(
    _cms_grid_sql("CAST(l_orderkey AS VARCHAR)", "lineitem", j)
    for j in range(_CMS_D)
)


@register(
    "cms_join_size_estimate",
    oracle=f"""
    WITH a AS ({_CMS_A_SQL}), b AS ({_CMS_B_SQL}),
    per_depth AS (
        SELECT a.depth, CAST(sum(a.cnt * b.cnt) AS BIGINT) AS ip
        FROM a JOIN b ON a.depth = b.depth AND a.pos = b.pos
        GROUP BY a.depth
    )
    SELECT (SELECT CAST(min(ip) AS BIGINT) FROM per_depth) AS est_join_size,
           (SELECT CAST(count(*) AS BIGINT)
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey)
               AS exact_join_size
    """,
)
def cms_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation WITHOUT executing the join: the
    count-min inner product (AGMS/CM classic) — |A ⋈ B on k| =
    sum_v f_A(v)·f_B(v), over-approximated per sketch row by
    sum_p cms_A[j][p]·cms_B[j][p] and tightened by min over depths.
    The exact join count rides alongside so the estimate's error is
    in the checked result.

    100 TB: the estimator reads two 4x1024 grids — the cost-based-
    optimizer shape (estimate shuffle sizes BEFORE committing to a
    join strategy); each grid is one map-combinable pass over its
    table, mergeable across shards by summing.
    """
    from .functions.text import hash60

    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")

    def grid(df: DataFrame, col: str) -> DataFrame:
        # one table scan for all depths (explode the per-row
        # (depth, pos) pairs) — audited: the union form scanned the
        # table once per depth
        pos_structs = F.array(
            *[
                F.struct(
                    F.lit(j).alias("depth"),
                    (
                        hash60(
                            F.concat(
                                F.col(col).cast("string"), F.lit(f"#cms{j}")
                            )
                        )
                        % _CMS_W
                    ).alias("pos"),
                )
                for j in range(_CMS_D)
            ]
        )
        return (
            df.select(F.explode(pos_structs).alias("x"))
            .select("x.depth", "x.pos")
            .groupBy("depth", "pos")
            .agg(F.count("*").cast("bigint").alias("cnt"))
        )

    a = grid(orders, "o_orderkey")
    b = grid(li, "l_orderkey")
    per_depth = (
        a.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.depth") == F.col("b.depth"))
            & (F.col("a.pos") == F.col("b.pos")),
        )
        .groupBy(F.col("a.depth"))
        .agg(F.sum(F.col("a.cnt") * F.col("b.cnt")).alias("ip"))
    )
    est = per_depth.agg(F.min("ip").cast("bigint").alias("est_join_size"))
    exact = orders.join(
        li, orders.o_orderkey == li.l_orderkey
    ).agg(F.count("*").cast("bigint").alias("exact_join_size"))
    return est.crossJoin(exact)


# ---------------------------------------------------------------------------
# KMV (bottom-k) distinct estimation — the order-statistics sketch
# ---------------------------------------------------------------------------

_KMV_K = 32
_KMV_RANGE = 1 << 60


@register(
    "kmv_distinct_estimate",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT event_type,
               CAST(concat('0x', substr(md5(concat('kmv#',
                    CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) AS hv
        FROM events
    ),
    ranked AS (
        SELECT event_type, hv,
               row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n_distinct
        FROM h
    )
    SELECT event_type,
           CAST(n_distinct AS BIGINT) AS exact_distinct,
           CAST(CASE WHEN n_distinct <= {_KMV_K} THEN n_distinct
                ELSE ({_KMV_K - 1}::HUGEINT * {_KMV_RANGE}) // hv
                END AS BIGINT)
               AS kmv_estimate
    FROM ranked WHERE rn = {_KMV_K} OR (n_distinct < {_KMV_K} AND rn = n_distinct)
    """,
)
def kmv_distinct_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k (KMV) distinct estimation per event_type: keep the k
    smallest salted hashes; the k-th smallest at position h estimates
    n ≈ (k-1)·2^60/h (uniform order statistics) — the order-
    statistics counterpart to the HLL register sketch, one integral
    divide, no floats. Groups with fewer than k distinct keys report
    exactly (the sketch IS the key set there).

    100 TB: bottom-k sets merge by union+truncate (mergeable like
    registers); state is k hashes per group. The window here ranks
    per-group hashes once — at scale the k smallest flow through a
    partial top-k (sort-limit per partition, then merge).
    """
    from pyspark.sql import Window

    from .functions.text import hash60

    ev = t(spark, sf_dir, "events")
    h = ev.select(
        "event_type",
        hash60(
            F.concat(F.lit("kmv#"), F.col("user_id").cast("string"))
        ).alias("hv"),
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("hv")
    wn = Window.partitionBy("event_type")
    ranked = h.select(
        "event_type",
        "hv",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n_distinct"),
    )
    picked = ranked.filter(
        (F.col("rn") == _KMV_K)
        | ((F.col("n_distinct") < _KMV_K) & (F.col("rn") == F.col("n_distinct")))
    )
    return picked.select(
        "event_type",
        F.col("n_distinct").cast("bigint").alias("exact_distinct"),
        F.expr(
            f"CAST(CASE WHEN n_distinct <= {_KMV_K} THEN CAST(n_distinct"
            f" AS DECIMAL(38,0)) ELSE (CAST({_KMV_K - 1} AS DECIMAL(38,0))"
            f" * {_KMV_RANGE}) div hv END AS BIGINT)"
        ).alias("kmv_estimate"),
    )


# ---------------------------------------------------------------------------
# Hopping (sliding) window aggregation
# ---------------------------------------------------------------------------


@register(
    "hopping_window_traffic",
    oracle="""
    SELECT w_start_ms, event_type, n_events, value_sum_e4
    FROM (
        SELECT CAST(epoch_ms(date_trunc('hour', ts)) AS BIGINT)
                   - 3600000 * off AS w_start_ms,
               event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
                   AS value_sum_e4
        FROM events, (SELECT unnest([0, 1]) AS off)
        GROUP BY w_start_ms, event_type
    )
    """,
)
def hopping_window_traffic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window rollup: 2-hour windows sliding every hour via
    ``F.window(ts, '2 hours', '1 hour')`` — each event lands in
    exactly two windows (the oracle states that directly: every event
    contributes to the window starting at its hour and the one
    before).

    100 TB: Spark expands the slide inside the aggregation (fan-out =
    window/slide = 2, a constant); state and shuffle grow by that
    factor, never quadratically — same argument as the interval
    bucket join.
    """
    ev = t(spark, sf_dir, "events")
    agg = (
        ev.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(
                F.expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)")
            ).cast("bigint").alias("value_sum_e4"),
        )
    )
    return agg.select(
        (F.unix_timestamp(F.col("w.start")) * 1000).alias("w_start_ms"),
        "event_type",
        "n_events",
        "value_sum_e4",
    )


# ---------------------------------------------------------------------------
# Period-over-period report
# ---------------------------------------------------------------------------


@register(
    "period_over_period_revenue",
    oracle="""
    SELECT month_ms, revenue_cents, prev_cents,
           CASE WHEN prev_cents IS NULL THEN NULL
                ELSE CAST((revenue_cents - prev_cents) * 1000000
                          // prev_cents AS BIGINT) END AS mom_delta_ppm
    FROM (
        SELECT CAST(epoch_ms(date_trunc('month', o_orderdate)) AS BIGINT)
                   AS month_ms,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS revenue_cents,
               lag(CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                        AS BIGINT)) OVER (ORDER BY
                   date_trunc('month', o_orderdate)) AS prev_cents
        FROM orders
        GROUP BY date_trunc('month', o_orderdate)
    )
    """,
)
def period_over_period_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue deltas in ppm (the period-comparison
    reporting staple): cents fixed point, lag over the month series,
    integer delta ratio; the first month reports NULL rather than a
    fake zero.

    100 TB: the heavy work is one map-combined month aggregation; the
    lag window runs over MONTHS (dozens of rows). Note the integer
    delta can be negative — ``div`` truncation toward zero is
    identical in both engines for either sign.
    """
    from pyspark.sql import Window

    orders = t(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(F.date_trunc("month", "o_orderdate").alias("m"))
        .agg(
            F.sum(
                F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            ).cast("bigint").alias("revenue_cents")
        )
    )
    w = Window.orderBy("m")
    return monthly.select(
        (F.unix_timestamp("m") * 1000).alias("month_ms"),
        "revenue_cents",
        F.lag("revenue_cents").over(w).alias("prev_cents"),
    ).withColumn(
        "mom_delta_ppm",
        F.expr(
            "CASE WHEN prev_cents IS NULL THEN NULL ELSE"
            " CAST((revenue_cents - prev_cents) * CAST(1000000 AS BIGINT)"
            " div prev_cents AS BIGINT) END"
        ),
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities over the transition graph
# ---------------------------------------------------------------------------


@register(
    "hits_event_graph",
    oracle=hits_ppm_sql(_TRANSITION_EDGES_SQL, "src", "dst", "w", iters=4),
)
def hits_event_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hub/authority scores (4 iterations, ppm fixed point) over
    the event-transition graph — which event types FEED high-traffic
    states (hubs) vs ABSORB traffic (authorities); the second
    iterative algorithm sharing PageRank's join+agg dataflow and its
    unrolled-CTE oracle generator (operators/graph.py).
    """
    from .operators.graph import hits_ppm

    return hits_ppm(_transition_edges(spark, sf_dir), "src", "dst", "w", iters=4)


# ---------------------------------------------------------------------------
# Exact OLS trend slope (closed form, no UDF)
# ---------------------------------------------------------------------------


@register(
    "hourly_trend_slope_exact",
    oracle="""
    SELECT event_type, n_hours,
           CAST(CASE WHEN den = 0 THEN NULL
                ELSE (num::HUGEINT * 1000000) // den END AS BIGINT)
               AS slope_ppm_e4_per_hour
    FROM (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
               CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS HUGEINT)
                   AS num,
               CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS HUGEINT)
                   AS den
        FROM (
            SELECT event_type,
                   CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600
                       - 473352 AS x,
                   CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT))
                        AS BIGINT) AS y
            FROM events
            GROUP BY event_type, x
        )
        GROUP BY event_type
    )
    """,
)
def hourly_trend_slope_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT least-squares trend slope per event_type over the hourly
    value series, in closed form: slope = (n*Sxy - Sx*Sy) /
    (n*Sxx - Sx^2) — all integer sums (x = hour index re-based to the
    dataset epoch so squares stay small; y = hourly value mass e4),
    one wide-decimal divide at the end. The relational exact twin of
    the Arrow applyInPandas regression (grouped_trend_slope): same
    statistic, zero Python, bit-portable.

    100 TB: two map-combinable aggregations (hourly rollup, then the
    five OLS sums); no window, no UDF. Constant series (den=0 when a
    type has one hour) report NULL, not a crash.
    """
    ev = t(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            (
                F.expr("unix_timestamp(date_trunc('hour', ts)) div 3600")
                - F.lit(473352)
            ).alias("x"),
            F.expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)").alias("v"),
        )
        .groupBy("event_type", "x")
        .agg(F.sum("v").alias("y"))
    )
    sums = hourly.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_hours"),
        F.expr(
            "CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS DECIMAL(38,0))"
        ).alias("num"),
        F.expr(
            "CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS DECIMAL(38,0))"
        ).alias("den"),
    )
    return sums.select(
        "event_type",
        "n_hours",
        F.expr(
            "CAST(CASE WHEN den = 0 THEN NULL"
            " ELSE (num * 1000000) div den END AS BIGINT)"
        ).alias("slope_ppm_e4_per_hour"),
    )


# ---------------------------------------------------------------------------
# Cumulative new users (growth accounting)
# ---------------------------------------------------------------------------


@register(
    "cumulative_new_users",
    oracle="""
    SELECT day_ms, n_new,
           CAST(sum(n_new) OVER (ORDER BY day_ms) AS BIGINT)
               AS cumulative_users
    FROM (
        SELECT CAST(epoch_ms(first_day) AS BIGINT) AS day_ms,
               CAST(count(*) AS BIGINT) AS n_new
        FROM (SELECT user_id, min(date_trunc('day', ts)) AS first_day
              FROM events GROUP BY user_id)
        GROUP BY first_day
    )
    """,
)
def cumulative_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: first-seen day per user -> daily new-user
    counts -> running cumulative total (the new-vs-returning
    denominator every growth dashboard starts from).

    100 TB: the user reduction (min day per user) is one
    map-combinable agg; the cumulative window runs over DAYS.
    """
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("first_day")
    )
    daily = first.groupBy("first_day").agg(
        F.count("*").cast("bigint").alias("n_new")
    )
    w = Window.orderBy("first_day")
    return daily.select(
        (F.unix_timestamp("first_day") * 1000).alias("day_ms"),
        "n_new",
        F.sum("n_new").over(w).cast("bigint").alias("cumulative_users"),
    )


# ---------------------------------------------------------------------------
# Linear multi-touch attribution
# ---------------------------------------------------------------------------


@register(
    "multitouch_attribution_linear",
    oracle=f"""
    WITH purchases AS (
        SELECT event_id AS p_id, user_id, ts AS p_ts
        FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
        SELECT p.p_id, c.event_id AS c_id,
               count(*) OVER (PARTITION BY p.p_id) AS n_touch
        FROM purchases p
        JOIN events c
          ON c.event_type = 'click' AND c.user_id = p.user_id
         AND c.ts <= p.p_ts AND c.ts > p.p_ts - INTERVAL {_IVL_HOURS} HOUR
    )
    SELECT CAST(count(DISTINCT p_id) AS BIGINT) AS n_attributed_purchases,
           CAST(count(*) AS BIGINT) AS n_touchpoints,
           CAST(sum(1000000 // n_touch) AS BIGINT) AS credit_ppm_total
    FROM touches
    """,
)
def multitouch_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every click in the 2 hours
    before a purchase shares the credit equally (credit = 1e6 div
    n_touches ppm per touch — the truncation remainder is the
    documented rounding loss, visible because credit_ppm_total <
    n_purchases * 1e6). Complements the last-click as-of join
    (asof_join_last_click) with the fractional-credit model.

    100 TB: the purchase-click pairing is the bucketed interval join
    shape (same user key + bounded window); credit fan-out is
    bounded by clicks-per-user-per-2h.
    """
    ev = t(spark, sf_dir, "events")
    from pyspark.sql import Window

    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    touches = (
        purchases.join(clicks, purchases.p_user == clicks.c_user)
        .filter(
            (F.col("c_ts") <= F.col("p_ts"))
            & (
                F.col("c_ts")
                > F.col("p_ts") - F.expr(f"INTERVAL {_IVL_HOURS} HOURS")
            )
        )
        .withColumn(
            "n_touch", F.count("*").over(Window.partitionBy("p_id"))
        )
    )
    return touches.agg(
        F.count_distinct("p_id").cast("bigint").alias("n_attributed_purchases"),
        F.count("*").cast("bigint").alias("n_touchpoints"),
        F.sum(
            F.expr("CAST(1000000 AS BIGINT) div n_touch")
        ).cast("bigint").alias("credit_ppm_total"),
    )


# ---------------------------------------------------------------------------
# Quota waterfall: per-source corpus assembly with redistribution
# ---------------------------------------------------------------------------


@register(
    "quota_waterfall_mix",
    oracle="""
    WITH avail AS (
        SELECT source, CAST(count(*) AS BIGINT) AS avail
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(sum(avail) * 6 // 10 AS BIGINT) AS target,
               CAST(count(*) AS BIGINT) AS n_sources
        FROM avail
    ),
    r1 AS (
        SELECT a.source, a.avail,
               CAST(t.target // t.n_sources AS BIGINT) AS quota_r1,
               CAST(least(a.avail, t.target // t.n_sources) AS BIGINT)
                   AS taken_r1
        FROM avail a, tot t
    ),
    left_over AS (
        SELECT CAST((SELECT target FROM tot) - sum(taken_r1) AS BIGINT)
                   AS leftover,
               CAST(sum(avail - taken_r1) AS BIGINT) AS total_cap
        FROM r1
    )
    SELECT r.source, r.avail, r.quota_r1, r.taken_r1,
           CAST(extra AS BIGINT) AS extra_r2,
           CAST(r.taken_r1 + least(extra, r.avail - r.taken_r1) AS BIGINT)
               AS final_take
    FROM (
        SELECT r.*, CASE WHEN lo.total_cap = 0 THEN 0
                    ELSE lo.leftover * (r.avail - r.taken_r1) // lo.total_cap
                    END AS extra
        FROM r1 r, left_over lo
    ) r
    """,
)
def quota_waterfall_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus assembly with a two-round quota waterfall:
    round 1 gives every source an equal share of the 60% target;
    sources with less supply than quota contribute their whole stock,
    and the unfilled remainder redistributes to the others
    PROPORTIONALLY TO SPARE CAPACITY (integer waterfall, truncating —
    final_take can undershoot the target by < n_sources, the
    documented remainder). The per-source cap is the curation control
    that stops one crawl from dominating a training mix.

    100 TB: two scalar aggregates (target/leftover) broadcast over a
    source-sized frame; assignment is pure arithmetic — the actual
    row selection then composes with deterministic_sample /
    weighted_sample_topk per source.
    """
    docs = t(spark, sf_dir, "documents")
    avail = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("avail")
    ).localCheckpoint()
    tot = avail.agg(
        F.expr("CAST(sum(avail) * 6 div 10 AS BIGINT)").alias("target"),
        F.count("*").cast("bigint").alias("n_sources"),
    )
    r1 = avail.crossJoin(F.broadcast(tot)).select(
        "source",
        "avail",
        F.expr("CAST(target div n_sources AS BIGINT)").alias("quota_r1"),
        F.expr(
            "CAST(least(avail, target div n_sources) AS BIGINT)"
        ).alias("taken_r1"),
        "target",
    )
    lo = r1.agg(
        F.expr("CAST(max(target) - sum(taken_r1) AS BIGINT)").alias("leftover"),
        F.expr("CAST(sum(avail - taken_r1) AS BIGINT)").alias("total_cap"),
    )
    return (
        r1.crossJoin(F.broadcast(lo))
        .select(
            "source",
            "avail",
            "quota_r1",
            "taken_r1",
            F.expr(
                "CAST(CASE WHEN total_cap = 0 THEN 0 ELSE"
                " leftover * (avail - taken_r1) div total_cap END AS BIGINT)"
            ).alias("extra_r2"),
        )
        .withColumn(
            "final_take",
            F.expr(
                "CAST(taken_r1 + least(extra_r2, avail - taken_r1) AS BIGINT)"
            ),
        )
    )


# ---------------------------------------------------------------------------
# mapInArrow surface (RecordBatch-native, no pandas materialization)
# ---------------------------------------------------------------------------


@register(
    "arrow_native_tokenstats",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_arrow,
           CAST(length(text) - length(replace(text, 'a', '')) AS BIGINT)
               AS n_a
    FROM documents
    """,
)
def arrow_native_tokenstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` surface pin — the one Arrow UDF class the
    registry didn't exercise (pandas_udf, grouped map/agg,
    mapInPandas, applyInPandasWithState and the UDTF are covered
    elsewhere): the batch iterator yields pyarrow RecordBatches and
    the kernel runs entirely in pyarrow.compute — NO pandas
    materialization, so string columns never copy out of Arrow
    buffers. The expression twin is trivial SQL (that's the point:
    this pins the API class, and the per-batch zero-copy shape is
    what a real vectorized kernel — tokenizers, hashing — plugs
    into).

    100 TB: identical plumbing to mapInPandas (Arrow batches per
    partition) minus the pandas conversion tax on wide string
    batches.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def op(batches):
        for batch in batches:
            tbl = pa.table(batch)
            text = tbl.column("text")
            yield pa.RecordBatch.from_arrays(
                [
                    tbl.column("doc_id").combine_chunks(),
                    pc.cast(pc.utf8_length(text), pa.int64()).combine_chunks(),
                    pc.cast(
                        pc.count_substring(text, "a"), pa.int64()
                    ).combine_chunks(),
                ],
                names=["doc_id", "n_chars_arrow", "n_a"],
            )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(
        op, schema="doc_id bigint, n_chars_arrow bigint, n_a bigint"
    )


# ---------------------------------------------------------------------------
# Bitmap retention rollup (DAU / trailing-7-day / monthly actives)
# ---------------------------------------------------------------------------


@register(
    "bitmap_retention_days",
    oracle="""
    WITH bm AS (
        SELECT user_id,
               bit_or(1::BIGINT << (CAST(extract(day FROM ts) AS INTEGER) - 1))
                   AS bits
        FROM events GROUP BY user_id
    ),
    days AS (
        SELECT DISTINCT CAST(extract(day FROM ts) AS INTEGER) AS d FROM events
    )
    SELECT CAST(d AS BIGINT) AS day_of_month,
           CAST(sum(CASE WHEN (bits >> (d - 1)) & 1 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS dau,
           CAST(sum(CASE WHEN bits
                         & ((1::BIGINT << d) - (1::BIGINT << greatest(d - 7, 0)))
                         <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS wau_7d,
           CAST(sum(CASE WHEN bits <> 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS mau_month
    FROM bm, days
    GROUP BY d
    """,
)
def bitmap_retention_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index retention rollup: compress each user's month of
    activity into ONE 31-bit day bitmap (``bit_or(1 << day-1)``), then
    answer DAU / trailing-7-day actives / monthly actives for every
    observed day with pure mask arithmetic — the classic bitmap-index
    trick that turns N-day retention scans into bitwise AND against a
    per-user integer.

    100 TB: the events→bitmap groupBy is the ONLY event-sized shuffle;
    after it the working set is |users| rows of one BIGINT each.  The
    day grid (≤31 rows) is broadcast and fanned out with a crossJoin —
    31·|users| cheap mask tests replace 31 windowed re-scans of the
    fact table.  Bitmaps for longer horizons shard into (user, epoch)
    words and merge with bit_or, exactly like the HLL registers.
    """
    ev = t(spark, sf_dir, "events")
    bm = ev.groupBy("user_id").agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), dayofmonth(ts) - 1))"
        ).alias("bits")
    )
    days = ev.select(F.dayofmonth("ts").alias("d")).distinct()
    return (
        bm.crossJoin(F.broadcast(days))
        .groupBy("d")
        .agg(
            F.expr(
                "CAST(sum(CASE WHEN (shiftright(bits, d - 1) & 1) = 1"
                " THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("dau"),
            F.expr(
                "CAST(sum(CASE WHEN (bits &"
                " (shiftleft(CAST(1 AS BIGINT), d)"
                "  - shiftleft(CAST(1 AS BIGINT), greatest(d - 7, 0)))) != 0"
                " THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("wau_7d"),
            F.expr(
                "CAST(sum(CASE WHEN bits != 0 THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("mau_month"),
        )
        .select(
            F.col("d").cast("bigint").alias("day_of_month"),
            "dau",
            "wau_7d",
            "mau_month",
        )
    )


# ---------------------------------------------------------------------------
# KMV bottom-k Jaccard between source corpora
# ---------------------------------------------------------------------------

_KMVJ_K = 32


def _kmvj_pair_expand_sql(rows: str) -> str:
    """Pair-expand ``rows`` (a CTE named ``{rows}`` with (source, hv))
    over the source-pair dim: one row per (sa, sb, hv) with membership
    flags — the shared shape of the sketch and exact paths."""
    return f"""
        SELECT sa, sb, hv, max(in_a) AS in_a, max(in_b) AS in_b FROM (
            SELECT d.sa, d.sb, s.hv, 1 AS in_a, 0 AS in_b
            FROM dim d JOIN {rows} s ON s.source = d.sa
            UNION ALL
            SELECT d.sa, d.sb, s.hv, 0 AS in_a, 1 AS in_b
            FROM dim d JOIN {rows} s ON s.source = d.sb
        ) GROUP BY sa, sb, hv
    """


@register(
    "kmv_jaccard_sources",
    oracle=f"""
    WITH sh AS MATERIALIZED (
        SELECT DISTINCT source,
               CAST(concat('0x', substr(md5(concat('kmvj#', g)), 1, 15))
                    AS BIGINT) AS hv
        FROM (SELECT source, unnest({{shingles}}) AS g
              FROM (SELECT source, {{words}} AS words FROM documents))
    ),
    srcs AS (SELECT DISTINCT source FROM sh),
    dim AS (SELECT a.source AS sa, b.source AS sb
            FROM srcs a JOIN srcs b ON a.source < b.source),
    sk AS MATERIALIZED (
        SELECT source, hv FROM (
            SELECT source, hv,
                   row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
            FROM sh)
        WHERE rn <= {_KMVJ_K}
    ),
    m_sk AS ({{expand_sk}}),
    ranked AS (
        SELECT sa, sb, in_a, in_b,
               row_number() OVER (PARTITION BY sa, sb ORDER BY hv) AS rn
        FROM m_sk
    ),
    est AS (
        SELECT sa, sb, CAST(max(rn) AS BIGINT) AS k_eff,
               sum(in_a * in_b) AS n_both
        FROM ranked WHERE rn <= {_KMVJ_K} GROUP BY sa, sb
    ),
    m_all AS ({{expand_all}}),
    exact AS (
        SELECT sa, sb, count(*) AS n_union, sum(in_a * in_b) AS n_inter
        FROM m_all GROUP BY sa, sb
    )
    SELECT est.sa, est.sb, k_eff,
           CAST(n_both * 1000000 // k_eff AS BIGINT) AS est_jac_ppm,
           CAST(n_inter * 1000000 // n_union AS BIGINT) AS exact_jac_ppm
    FROM est JOIN exact ON est.sa = exact.sa AND est.sb = exact.sb
    """.format(
        shingles=SHINGLES_SQL,
        words=WORDS_SQL,
        expand_sk=_kmvj_pair_expand_sql("sk"),
        expand_all=_kmvj_pair_expand_sql("sh"),
    ),
)
def kmv_jaccard_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based corpus overlap: estimate the shingle-set Jaccard of
    every source pair from each source's bottom-k (KMV) hash sketch —
    J ≈ |bottom-k(A∪B) ∩ A ∩ B| / k, the order-statistics estimator
    that powers cross-dataset contamination triage before any full
    pairwise pass.  The exact Jaccard rides along as the audit column
    (same role as embedding_near_dup's exact baseline).

    100 TB: each corpus compresses to k=32 hashes in ONE pass (the
    bottom-k is a per-source top-k, mergeable by union+truncate), so
    the pairwise stage touches k·|sources| rows — pairs of sketches,
    never pairs of documents.  The exact audit path is the sf-small
    verification baseline only.
    """
    from pyspark.sql import Window

    from .functions.text import hash60
    from .operators.dedup import shingles

    d = t(spark, sf_dir, "documents")
    sh = (
        d.select("source", F.explode(shingles(F.col("text"), 3)).alias("g"))
        .select(
            "source",
            hash60(F.concat(F.lit("kmvj#"), F.col("g"))).alias("hv"),
        )
        .distinct()
        .localCheckpoint()  # sketch + exact paths + source dim share it
    )
    srcs = sh.select("source").distinct()
    dim = F.broadcast(
        srcs.alias("a")
        .join(srcs.alias("b"), F.col("a.source") < F.col("b.source"))
        .select(F.col("a.source").alias("sa"), F.col("b.source").alias("sb"))
    )

    def expand(rows: DataFrame) -> DataFrame:
        m1 = dim.join(rows, F.col("sa") == F.col("source")).select(
            "sa", "sb", "hv", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
        )
        m2 = dim.join(rows, F.col("sb") == F.col("source")).select(
            "sa", "sb", "hv", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
        )
        return (
            m1.unionByName(m2)
            .groupBy("sa", "sb", "hv")
            .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
        )

    w = Window.partitionBy("source").orderBy("hv")
    sk = (
        sh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMVJ_K)
        .drop("rn")
    )
    wp = Window.partitionBy("sa", "sb").orderBy("hv")
    ranked = (
        expand(sk)
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= _KMVJ_K)
    )
    est = ranked.groupBy("sa", "sb").agg(
        F.max("rn").cast("bigint").alias("k_eff"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_both"),
    )
    # exact leg by CO-OCCURRENCE (r14, guide §2.3): the pair-expand
    # form replicated every distinct shingle row once per source pair
    # through a (sa, sb, hv) group; instead, group each hv into its
    # sorted source list (most hv live in ONE source → no pairs at
    # all), expand in-row pairs with the sanctioned posexplode+slice
    # pattern, and count per (sa, sb) = |A ∩ B|. |A ∪ B| follows from
    # per-source sizes: |A| + |B| − |A ∩ B|. Integer-exact, values
    # identical (A/B best 4.53 → 2.39 s at sf0.1). The sketch leg
    # keeps the pair-expand shape — it is k·|sources| rows, tiny.
    sizes = sh.groupBy("source").agg(F.count("*").alias("__sz"))
    co = sh.groupBy("hv").agg(
        F.sort_array(F.collect_set("source")).alias("ss")
    )
    e1 = co.filter(F.size("ss") >= 2).select(
        "ss", F.posexplode("ss").alias("i", "sa")
    )
    inter = (
        e1.select(
            "sa",
            F.explode(F.slice("ss", F.col("i") + 2, F.size("ss"))).alias("sb"),
        )
        .groupBy("sa", "sb")
        .agg(F.count("*").alias("n_inter"))
    )
    exact = (
        dim.join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("sa"), F.col("__sz").alias("__sza")
                )
            ),
            "sa",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("sb"), F.col("__sz").alias("__szb")
                )
            ),
            "sb",
        )
        .join(inter, ["sa", "sb"], "left")
        .select(
            "sa",
            "sb",
            F.coalesce(F.col("n_inter"), F.lit(0)).alias("n_inter"),
            (
                F.col("__sza")
                + F.col("__szb")
                - F.coalesce(F.col("n_inter"), F.lit(0))
            ).alias("n_union"),
        )
    )
    return est.join(exact, ["sa", "sb"]).select(
        "sa",
        "sb",
        "k_eff",
        F.expr(
            "CAST(n_both * CAST(1000000 AS BIGINT) div k_eff AS BIGINT)"
        ).alias("est_jac_ppm"),
        F.expr(
            "CAST(n_inter * CAST(1000000 AS BIGINT) div n_union AS BIGINT)"
        ).alias("exact_jac_ppm"),
    )


# ---------------------------------------------------------------------------
# Keyset (seek-method) pagination
# ---------------------------------------------------------------------------


@register(
    "keyset_pagination_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
    FROM orders
    WHERE o_orderdate > TIMESTAMP '1997-09-15 00:00:00'
       OR (o_orderdate = TIMESTAMP '1997-09-15 00:00:00'
           AND o_orderkey > 1000)
    ORDER BY o_orderdate, o_orderkey
    LIMIT 20
    """,
)
def keyset_pagination_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (seek-method) pagination: resume a stable scan AFTER the
    cursor ``(o_orderdate, o_orderkey) = ('1997-09-15', 1000)`` via the
    tuple-compare predicate, never via OFFSET — the scale-correct twin
    of limit_offset_pagination.

    100 TB: OFFSET n scans and discards n rows per page (O(n²) to walk
    a table); the keyset predicate is sargable — ``o_orderdate >
    cursor`` reaches the parquet scan as a pushed filter (min/max page
    skipping prunes every earlier file), and the global sort is a
    top-k (TakeOrderedAndProject), not a full order-by.
    """
    cur = F.lit("1997-09-15 00:00:00").cast("timestamp")
    o = t(spark, sf_dir, "orders")
    return (
        o.filter(
            (F.col("o_orderdate") > cur)
            | ((F.col("o_orderdate") == cur) & (F.col("o_orderkey") > 1000))
        )
        .orderBy("o_orderdate", "o_orderkey")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Degree-oriented triangle counting / global clustering coefficient
# ---------------------------------------------------------------------------


def _copurchase_pair_counts(li_raw: DataFrame) -> DataFrame:
    """(pa, pb, c) with pa < pb: distinct part pairs per order across
    orders — the shared co-purchase support frame (distinct + okey
    self-join + pair groupBy). r14 optimization note: a collect_set
    basket form (posexplode+slice pair expansion, one exchange fewer)
    was measured SLOWER at sf0.1 on the isolated builder with a noop
    sink — 1.44–1.49 s vs 1.26–1.41 s best-of-4 warm, three
    interleaved reps — because the ObjectHashAggregate(collect_set) +
    the anti-coalescing repartition cost more than the saved exchange
    at this row width; the self-join form stays (guide §1.1: the
    "ideal" plan lost to the gotcha, empirical loop wins).
    """
    li = li_raw.distinct()
    return (
        li.toDF("okey", "pa")
        .join(li.toDF("okey", "pb"), "okey")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("c"))
    )


@register(
    "triangle_count_copurchase",
    oracle="""
    WITH li AS MATERIALIZED (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    e AS MATERIALIZED (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    deg AS MATERIALIZED (
        SELECT node, count(*) AS deg FROM (
            SELECT pa AS node FROM e UNION ALL SELECT pb AS node FROM e
        ) GROUP BY node
    ),
    o AS MATERIALIZED (
        SELECT CASE WHEN da.deg * 1000000000 + e.pa
                         < db.deg * 1000000000 + e.pb
                    THEN e.pa ELSE e.pb END AS s,
               CASE WHEN da.deg * 1000000000 + e.pa
                         < db.deg * 1000000000 + e.pb
                    THEN e.pb ELSE e.pa END AS d,
               greatest(da.deg * 1000000000 + e.pa,
                        db.deg * 1000000000 + e.pb) AS kd
        FROM e JOIN deg da ON da.node = e.pa
               JOIN deg db ON db.node = e.pb
    ),
    tri AS (
        SELECT count(*) AS n_tri
        FROM o e1 JOIN o e2 ON e1.s = e2.s AND e1.kd < e2.kd
             JOIN o e3 ON e3.s = e1.d AND e3.d = e2.d
    ),
    wed AS (SELECT sum(deg * (deg - 1) // 2) AS n_wedges FROM deg)
    SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
           CAST(n_wedges AS BIGINT) AS n_wedges,
           CAST(n_tri AS BIGINT) AS n_triangles,
           CAST(CASE WHEN n_wedges > 0
                     THEN 3 * n_tri * 1000000 // n_wedges END AS BIGINT)
               AS clustering_ppm
    FROM wed, tri
    """,
)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the co-purchase graph (parts are linked when
    they ship in the SAME order in ≥2 distinct orders): node/edge/wedge
    counts, exact triangle count, and the global clustering coefficient
    3·Δ/wedges in ppm — the Schank/Wagner degree-ORIENTED algorithm:
    orient every edge from its lower-(degree, id) endpoint to the
    higher, enumerate 2-paths only out of each edge's LOW end, and
    close them with one equi-join.

    100 TB: the support-≥2 threshold prunes the quadratic per-order
    pair fanout to the stable co-purchase core BEFORE any graph step
    (measured: 1.2M raw pairs → 3.6k edges at sf0.1); orientation
    bounds 2-path fanout by the oriented out-degree ≤ O(√m) — the
    hub that would emit deg² wedges emits ~0 because every hub edge
    points INTO it. All joins are node-keyed equi-joins.
    """
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    e = (
        _copurchase_pair_counts(li)
        .filter(F.col("c") >= 2)
        .drop("c")
        .localCheckpoint()  # deg + orientation + closure join share it
    )
    deg = (
        e.select(F.col("pa").alias("node"))
        .unionAll(e.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
        .localCheckpoint()  # two endpoint joins + wedge agg share it
    )
    keyed = (
        e.join(deg.toDF("pa", "dega"), "pa")
        .join(deg.toDF("pb", "degb"), "pb")
        .select(
            "pa",
            "pb",
            (F.col("dega") * F.lit(1000000000) + F.col("pa")).alias("ka"),
            (F.col("degb") * F.lit(1000000000) + F.col("pb")).alias("kb"),
        )
    )
    o = keyed.select(
        F.when(F.col("ka") < F.col("kb"), F.col("pa"))
        .otherwise(F.col("pb"))
        .alias("s"),
        F.when(F.col("ka") < F.col("kb"), F.col("pb"))
        .otherwise(F.col("pa"))
        .alias("d"),
        F.greatest("ka", "kb").alias("kd"),
    ).localCheckpoint()  # 2-path sides + closing edge share it
    paths = (
        o.toDF("s", "d1", "kd1")
        .join(o.toDF("s", "d2", "kd2"), "s")
        .filter(F.col("kd1") < F.col("kd2"))
    )
    tri = paths.join(
        o.toDF("d1", "d2", "kd3"), ["d1", "d2"]
    ).agg(F.count("*").alias("n_tri"))
    wed = deg.agg(
        F.expr("sum(deg * (deg - 1) div 2)").alias("n_wedges")
    )
    counts = deg.agg(
        F.count("*").alias("n_nodes_raw")
    ).crossJoin(e.agg(F.count("*").alias("n_edges_raw")))
    return (
        counts.crossJoin(wed)
        .crossJoin(tri)
        .select(
            F.col("n_nodes_raw").cast("bigint").alias("n_nodes"),
            F.col("n_edges_raw").cast("bigint").alias("n_edges"),
            F.col("n_wedges").cast("bigint").alias("n_wedges"),
            F.col("n_tri").cast("bigint").alias("n_triangles"),
            F.expr(
                "CAST(CASE WHEN n_wedges > 0 THEN"
                " 3 * n_tri * CAST(1000000 AS BIGINT) div n_wedges"
                " END AS BIGINT)"
            ).alias("clustering_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# HLL audience overlap (inclusion-exclusion intersection estimate)
# ---------------------------------------------------------------------------

_HLLI_DIM_SQL = """
    SELECT a.event_type AS ta, b.event_type AS tb
    FROM (SELECT DISTINCT event_type FROM events) a
    JOIN (SELECT DISTINCT event_type FROM events) b
      ON a.event_type < b.event_type
"""

_HLLI_PAIR_REGS = f"""
    SELECT d.ta, d.tb, r.reg, max(r.max_rho) AS max_rho
    FROM ({_HLLI_DIM_SQL}) d
    JOIN ({_HLL_REG_SQL}) r
      ON r.event_type = d.ta OR r.event_type = d.tb
    GROUP BY d.ta, d.tb, r.reg
"""


@register(
    "hll_intersection_overlap",
    oracle=f"""
    WITH singles AS MATERIALIZED (
        SELECT event_type, hll_estimate FROM ({_HLL_EST_SQL})
    ),
    pair_est AS (
        SELECT ta, tb, hll_estimate AS est_union
        FROM ({hll_estimate_sql(_HLLI_PAIR_REGS, group_sql="ta, tb")})
    ),
    exact AS (
        SELECT a.event_type AS ta, b.event_type AS tb,
               count(*) AS exact_inter
        FROM (SELECT DISTINCT event_type, user_id FROM events) a
        JOIN (SELECT DISTINCT event_type, user_id FROM events) b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT p.ta, p.tb,
           sa.hll_estimate AS est_a,
           sb.hll_estimate AS est_b,
           p.est_union,
           CAST(sa.hll_estimate + sb.hll_estimate - p.est_union AS BIGINT)
               AS est_inter,
           CAST(coalesce(x.exact_inter, 0) AS BIGINT) AS exact_inter
    FROM pair_est p
    JOIN singles sa ON sa.event_type = p.ta
    JOIN singles sb ON sb.event_type = p.tb
    LEFT JOIN exact x ON x.ta = p.ta AND x.tb = p.tb
    """,
)
def hll_intersection_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap from sketches alone: estimate the distinct-user
    INTERSECTION of every event_type pair by inclusion-exclusion over
    portable HLL sketches — |A∩B| ≈ E(A) + E(B) − E(A∪B), where the
    union estimate reads the MAX-MERGED register tables (the HLL union
    is lossless, so no third pass over events is ever needed).  The
    exact intersection rides along as the audit column; the estimate
    may legitimately go negative at small cardinalities — it is
    reported signed, as the sketch algebra produces it.

    100 TB: per-type register tables (64 rows each) are the ONLY state
    the pairwise stage touches — overlap across N sources costs
    O(N²·m) register math, never a second scan of the fact table; the
    exact audit join is the sf-small verification baseline.
    """
    ev = t(spark, sf_dir, "events")
    regs = hll_registers(ev, ["event_type"], "user_id").localCheckpoint()
    types = regs.select("event_type").distinct()
    dim = F.broadcast(
        types.toDF("ta")
        .join(types.toDF("tb"), F.col("ta") < F.col("tb"))
    )
    pair_regs = (
        dim.join(
            regs,
            (F.col("event_type") == F.col("ta"))
            | (F.col("event_type") == F.col("tb")),
        )
        .groupBy("ta", "tb", "reg")
        .agg(F.max("max_rho").cast("int").alias("max_rho"))
    )
    est_union = hll_estimate(pair_regs, ["ta", "tb"]).select(
        "ta", "tb", F.col("hll_estimate").alias("est_union")
    )
    singles = hll_estimate(regs, ["event_type"])
    est_a = singles.select(
        F.col("event_type").alias("ta"), F.col("hll_estimate").alias("est_a")
    )
    est_b = singles.select(
        F.col("event_type").alias("tb"), F.col("hll_estimate").alias("est_b")
    )
    m = ev.select("event_type", "user_id").distinct()
    exact = (
        m.toDF("ta", "uid")
        .join(m.toDF("tb", "uid"), "uid")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count("*").alias("exact_inter"))
    )
    return (
        est_union.join(F.broadcast(est_a), "ta")
        .join(F.broadcast(est_b), "tb")
        .join(exact, ["ta", "tb"], "left")
        .select(
            "ta",
            "tb",
            "est_a",
            "est_b",
            "est_union",
            (F.col("est_a") + F.col("est_b") - F.col("est_union"))
            .cast("bigint")
            .alias("est_inter"),
            F.coalesce(F.col("exact_inter"), F.lit(0))
            .cast("bigint")
            .alias("exact_inter"),
        )
    )


# ---------------------------------------------------------------------------
# BFS shortest-path levels (unrolled Bellman-Ford rounds)
# ---------------------------------------------------------------------------

_BFS_ROUNDS = 4


def _bfs_oracle_sql(rounds: int) -> str:
    """Unrolled BFS oracle — the SAME recipe the Spark side iterates
    (Bellman-Ford relaxation: l_k = min(l_{k-1}, neighbor+1)), emitted
    as MATERIALIZED CTEs (DuckDB inlines plain CTEs referenced twice —
    the HITS 2^iters lesson)."""
    ctes = [
        """e AS MATERIALIZED (
            SELECT pa AS u, pb AS v FROM e0
            UNION ALL SELECT pb AS u, pa AS v FROM e0
        )""",
        """deg AS MATERIALIZED (
            SELECT u AS node, count(*) AS deg FROM e GROUP BY u
        )""",
        """l0 AS MATERIALIZED (
            SELECT node, 0 AS dist FROM (
                SELECT node FROM deg ORDER BY deg DESC, node LIMIT 1
            )
        )""",
    ]
    for k in range(1, rounds + 1):
        ctes.append(f"""l{k} AS MATERIALIZED (
            SELECT node, min(dist) AS dist FROM (
                SELECT node, dist FROM l{k - 1}
                UNION ALL
                SELECT e.v AS node, l{k - 1}.dist + 1 AS dist
                FROM l{k - 1} JOIN e ON e.u = l{k - 1}.node
            ) GROUP BY node
        )""")
    return f"""
    WITH e0 AS MATERIALIZED (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    {', '.join(ctes)}
    SELECT CAST(dist AS BIGINT) AS dist,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM l{rounds} GROUP BY dist
    UNION ALL
    SELECT CAST(-1 AS BIGINT),
           CAST((SELECT count(*) FROM deg)
                - (SELECT count(*) FROM l{rounds}) AS BIGINT)
    """


@register("bfs_levels_copurchase", oracle=_bfs_oracle_sql(_BFS_ROUNDS))
def bfs_levels_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS shortest-path level census from the co-purchase graph's
    hub (max-degree node, min-id tie-break): how many parts sit at
    distance 0..4, plus the unreached remainder (dist −1) — the
    reachability profile that sizes recommendation fan-outs and
    detects disconnected catalog islands. Unrolled Bellman-Ford
    relaxation (l_k = min(l_{k-1}, neighbor+1)); ONE Python loop
    drives both the Spark iteration and the generated DuckDB CTE
    chain, so the recipes cannot drift (the PageRank pattern).

    100 TB: each round is one node-keyed join + min-agg on the
    ASSIGNED set (≤ reachable nodes, ≤ rounds·avg-degree growth);
    per-round localCheckpoint keeps lineage O(1) — the plan, not the
    data, is what doubles per unrolled level otherwise. Rounds are a
    fixed unroll: distance-bounded BFS is the production shape
    (frontier iteration to fixpoint adds a driver loop, same joins).
    """
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    e0 = _copurchase_pair_counts(li).filter(F.col("c") >= 2).drop("c")
    sym = (
        e0.select(F.col("pa").alias("u"), F.col("pb").alias("v"))
        .unionByName(e0.select(F.col("pb").alias("u"), F.col("pa").alias("v")))
        .localCheckpoint()  # joined every round + degree/source scan
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("deg"))
    lev = (
        deg.orderBy(F.col("deg").desc(), F.col("node"))
        .limit(1)
        .select("node", F.lit(0).alias("dist"))
        .localCheckpoint()
    )
    for _ in range(_BFS_ROUNDS):
        nxt = lev.join(sym, lev["node"] == sym["u"]).select(
            F.col("v").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        lev = (
            lev.unionByName(nxt)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()  # bound lineage: O(1) plan per round
        )
    hist = lev.groupBy("dist").agg(F.count("*").alias("n_nodes")).select(
        F.col("dist").cast("bigint"), F.col("n_nodes").cast("bigint")
    )
    unreached = deg.agg(F.count("*").alias("n")).crossJoin(
        lev.agg(F.count("*").alias("m"))
    ).select(
        F.lit(-1).cast("bigint").alias("dist"),
        (F.col("n") - F.col("m")).cast("bigint").alias("n_nodes"),
    )
    return hist.unionByName(unreached)


# ---------------------------------------------------------------------------
# k-core decomposition (unrolled peeling with a self-certifying flag)
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 14


def _kcore_oracle_sql(k: int, rounds: int) -> str:
    """Unrolled peeling oracle — the same recipe the Spark side
    iterates, MATERIALIZED per round (the HITS CTE-inlining lesson)."""
    ctes = [
        """r0 AS MATERIALIZED (
            SELECT pa AS u, pb AS v FROM e0
            UNION ALL SELECT pb AS u, pa AS v FROM e0
        )"""
    ]
    for i in range(1, rounds + 1):
        ctes.append(f"""k{i} AS MATERIALIZED (
            SELECT u AS node FROM r{i - 1} GROUP BY u
            HAVING count(*) >= {k}
        ), r{i} AS MATERIALIZED (
            SELECT r.u, r.v FROM r{i - 1} r
            WHERE r.u IN (SELECT node FROM k{i})
              AND r.v IN (SELECT node FROM k{i})
        )""")
    return f"""
    WITH e0 AS MATERIALIZED (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    {', '.join(ctes)}
    SELECT CAST({k} AS BIGINT) AS k,
           CAST((SELECT count(DISTINCT u) FROM r{rounds}) AS BIGINT)
               AS n_core_nodes,
           CAST((SELECT count(*) FROM r{rounds}) // 2 AS BIGINT)
               AS n_core_edges,
           ((SELECT count(*) FROM r{rounds})
             = (SELECT count(*) FROM r{rounds - 1})) AS converged
    """


@register(
    "kcore_copurchase", oracle=_kcore_oracle_sql(_KCORE_K, _KCORE_ROUNDS)
)
def kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the co-purchase graph (k=3): iteratively peel nodes of
    degree < k until the stable core remains — the standard dense-
    substructure filter (spam rings, must-stock product cores,
    community seeds). Peeling is unrolled to 14 relaxation rounds with
    a SELF-CERTIFYING ``converged`` flag (edge count unchanged over
    the final round — the hll_merge_shards in-result-proof pattern),
    so an under-unrolled run is visible in the answer, not silent.
    One Python recipe drives both engines (the PageRank/BFS pattern).

    100 TB: each round is one degree agg + two semi joins on the
    SURVIVING edge set (monotonically shrinking); localCheckpoint per
    round keeps the unrolled lineage O(1). Production iterates the
    same joins under a driver loop to fixpoint; the flag certifies
    the fixed unroll reached it.

    r14 (optimization): the peel loop exits EARLY once the edge count
    is unchanged over a round: peeling only removes edges, so
    count-equal ⇒ set-equal ⇒ every later round is the identity and
    the 14-round unroll's answer (counts AND the converged flag) is
    reproduced exactly — the per-round counts ride free on the
    just-checkpointed blocks, and at sf0.1 the fixpoint lands in a few
    rounds, saving ~10 localCheckpoint jobs of pure per-job overhead
    (guide §1.2: remove passes). Tri-SF oracle identity re-verified
    against the unchanged 14-round unrolled oracle.
    """
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    e0 = _copurchase_pair_counts(li).filter(F.col("c") >= 2).drop("c")
    edges = (
        e0.select(F.col("pa").alias("u"), F.col("pb").alias("v"))
        .unionByName(e0.select(F.col("pb").alias("u"), F.col("pa").alias("v")))
        .localCheckpoint()
    )
    prev = None
    n_prev_count = edges.count()
    for _ in range(_KCORE_ROUNDS):
        keep = (
            edges.groupBy("u")
            .agg(F.count("*").alias("d"))
            .filter(F.col("d") >= _KCORE_K)
            .select(F.col("u").alias("node"))
        )
        prev = edges
        edges = (
            edges.join(keep.toDF("u"), "u", "semi")
            .join(keep.toDF("v"), "v", "semi")
            .select("u", "v")
            .localCheckpoint()  # bound unrolled lineage per round
        )
        n_cur_count = edges.count()
        if n_cur_count == n_prev_count:
            break  # fixpoint: rounds up to _KCORE_ROUNDS are identity
        n_prev_count = n_cur_count
    core_nodes = edges.agg(
        F.count_distinct("u").alias("n_core_nodes")
    )
    core_edges = edges.agg(
        F.expr("CAST(count(*) div 2 AS BIGINT)").alias("n_core_edges"),
        F.count("*").alias("__n_last"),
    )
    prev_edges = prev.agg(F.count("*").alias("__n_prev"))
    return (
        core_nodes.crossJoin(core_edges)
        .crossJoin(prev_edges)
        .select(
            F.lit(_KCORE_K).cast("bigint").alias("k"),
            F.col("n_core_nodes").cast("bigint"),
            "n_core_edges",
            (F.col("__n_last") == F.col("__n_prev")).alias("converged"),
        )
    )


# ---------------------------------------------------------------------------
# Rendezvous (HRW) shard assignment + rebalance audit
# ---------------------------------------------------------------------------

_HRW_N_OLD = 8
_HRW_N_NEW = 9


def _hrw_assign_sql(n: int, alias: str) -> str:
    """Per-user HRW winner among ``n`` shards: argmax over shards of
    md5-60bit('hrw#{shard}#{user}') — 60-bit hashes make ties
    phenomenally improbable and the harness data is fixed, so max_by
    is deterministic on both engines."""
    return f"""
        SELECT user_id, max_by(s, h) AS {alias} FROM (
            SELECT u.user_id, g.s,
                   CAST(concat('0x', substr(md5(concat('hrw#', g.s, '#',
                        CAST(u.user_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
            FROM (SELECT DISTINCT user_id FROM events) u,
                 (SELECT unnest(range(0, {n})) AS s) g
        ) GROUP BY user_id
    """


@register(
    "rendezvous_shard_rebalance",
    oracle=f"""
    WITH a8 AS MATERIALIZED ({_hrw_assign_sql(_HRW_N_OLD, "s_old")}),
    a9 AS MATERIALIZED ({_hrw_assign_sql(_HRW_N_NEW, "s_new")})
    SELECT CAST(s_new AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(CASE WHEN s_old <> s_new THEN 1 ELSE 0 END) AS BIGINT)
               AS n_moved_in
    FROM a8 JOIN a9 USING (user_id)
    GROUP BY s_new
    """,
)
def rendezvous_shard_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment and the
    8→9 rebalance audit: each key's shard is the argmax over shards of
    hash(shard, key), so adding a shard moves ONLY the keys the new
    shard now wins — ~1/9 of them — where mod-N hashing would reshuffle
    ~8/9. The output is the per-new-shard key count and how many keys
    moved in; the moved total ≈ n_keys/9 is the property that makes
    HRW the assignment function for stateful services (state migration
    cost ∝ capacity change, not cluster size).

    100 TB: assignment is a pure per-key expression (shard fan-out is
    the constant N inside one map stage + a max_by agg per key — no
    ring metadata, no coordination); the audit joins two assignment
    tables keyed by user. 60-bit hashes make argmax ties phenomenally
    improbable (and the fixed harness data has none — the value-hash
    gate would catch an engine divergence).
    """
    users = t(spark, sf_dir, "events").select("user_id").distinct()

    def assign(n: int, alias: str) -> DataFrame:
        from .functions.text import hash60

        shards = spark.range(n).select(F.col("id").cast("int").alias("s"))
        h = F.concat(
            F.lit("hrw#"),
            F.col("s").cast("string"),
            F.lit("#"),
            F.col("user_id").cast("string"),
        )
        return (
            users.crossJoin(F.broadcast(shards))
            .select("user_id", "s", hash60(h).alias("h"))
            .groupBy("user_id")
            .agg(F.max_by("s", "h").alias(alias))
        )

    a8 = assign(_HRW_N_OLD, "s_old")
    a9 = assign(_HRW_N_NEW, "s_new")
    return (
        a8.join(a9, "user_id")
        .groupBy("s_new")
        .agg(
            F.count("*").cast("bigint").alias("n_keys"),
            F.sum(
                F.when(F.col("s_old") != F.col("s_new"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_moved_in"),
        )
        .select(F.col("s_new").cast("bigint").alias("shard"), "n_keys", "n_moved_in")
    )


# ---------------------------------------------------------------------------
# LSH recall audit (banding S-curve vs exact ground truth)
# ---------------------------------------------------------------------------


@register(
    "lsh_recall_audit",
    oracle=f"""
    WITH gt AS MATERIALIZED (
        SELECT doc_a, doc_b, jac_ppm FROM ({_PFX_ORACLE})
    ),
    l42 AS MATERIALIZED (
        SELECT id_a, id_b FROM ({minhash_oracle_sql(8, 2, 0.6)})
    ),
    l24 AS MATERIALIZED (
        SELECT id_a, id_b FROM ({minhash_oracle_sql(8, 4, 0.6)})
    )
    SELECT bands, decile,
           CAST(count(*) AS BIGINT) AS n_truth,
           CAST(count(hit) AS BIGINT) AS n_found,
           CAST(count(hit) * 1000000 // count(*) AS BIGINT) AS recall_ppm
    FROM (
        SELECT '4x2' AS bands, gt.jac_ppm // 100000 AS decile,
               l.id_a AS hit
        FROM gt LEFT JOIN l42 l
          ON l.id_a = gt.doc_a AND l.id_b = gt.doc_b
        UNION ALL
        SELECT '2x4' AS bands, gt.jac_ppm // 100000 AS decile,
               l.id_a AS hit
        FROM gt LEFT JOIN l24 l
          ON l.id_a = gt.doc_a AND l.id_b = gt.doc_b
    )
    GROUP BY bands, decile
    """,
)
def lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality evaluation: recall of banded MinHash-LSH candidate
    generation against EXACT ground truth (AllPairs prefix filter at
    Jaccard >= 0.6), bucketed by ground-truth Jaccard decile, for TWO
    bandings of the same 8-hash signature — the production 4 bands x 2
    rows (theory: P(candidate) = 1-(1-s^2)^4, ~0.83 at s = 0.6) and
    the stricter 2 bands x 4 rows (P = 1-(1-s^4)^2, ~0.24 at s = 0.6)
    — the empirical S-curves an operator compares against the
    pipeline's recall target BEFORE committing a 100 TB dedup run to a
    parameter choice.

    All three legs are the engine's own pinned pipelines (operators/
    dedup.py::prefix_filter_pairs / minhash banding); the audit adds
    one broadcast-sized left join (|GT pairs| << corpus) and a decile
    rollup; ground truth is materialized once and reused by both legs,
    the MinHash sign stage (shingles + 8-hash signature — the
    full-corpus-scan cost of each LSH leg) is materialized ONCE via
    minhash_sign (round 9: sign-once/band-K× is the parameter-sweep
    shape at 100 TB), and since r14 BOTH bandings run through ONE
    leg-tagged banding pipeline (minhash_lsh_pairs_multiband, guide
    §2.4 — one band shuffle / bucket grouping / pair dedup / verify
    join instead of two of each; per-leg output pytest-pinned equal
    to the per-leg presigned path). The GT left joins fold the same
    way: GT exploded across the two leg tags joins the tagged pair
    set once. The oracle composes the same pinned SQL twins via
    queries_ext.minhash_oracle_sql.

    r15 (guide §2.6 overlap): the GT leg and the sign leg are
    independent (both derive only from ``docs``) but were
    driver-serialized by their internal eager checkpoints
    (prefix_filter_pairs materializes toks+docw; minhash_sign its
    sh_df+signed) — each leg's checkpoint tail left most cores idle.
    The two leg constructions now run from a 2-thread pool so the
    sign jobs back-fill the GT jobs' idle capacity, and the GT
    frame's OUTER localCheckpoint — load-bearing when two banding
    legs each joined it (pre-r14), vestigial since the r14 #16 fold
    left it exactly ONE consumer — is dropped, so the GT verify tail
    (prefix join + exact-Jaccard verify, reading the toks/docw
    checkpoints, no parquet rescan) and the banding pipeline run as
    parallel subtrees of the single result job instead of two
    driver-sequential jobs. Values unchanged (same frames, same
    final plan algebra; job submission order only).
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from .operators.dedup import (
        minhash_lsh_pairs_multiband,
        minhash_sign,
        prefix_filter_pairs,
    )

    docs = t(spark, sf_dir, "documents")

    def _gt_leg():
        spark.sparkContext.setJobDescription("lsh_recall_audit: GT leg")
        return prefix_filter_pairs(docs, "text", "doc_id", 6, 10, shingle_n=3)

    def _sign_leg():
        spark.sparkContext.setJobDescription("lsh_recall_audit: sign leg")
        return minhash_sign(docs, "text", "doc_id", num_hashes=8, shingle_n=3)

    # the legs' jobs join the caller's job group
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_gt = pool.submit(inheritable_thread_target(spark)(_gt_leg))
        f_signed = pool.submit(inheritable_thread_target(spark)(_sign_leg))
        gt, signed = f_gt.result(), f_signed.result()
    spark.sparkContext.setJobDescription(None)
    tagged = minhash_lsh_pairs_multiband(
        signed,
        num_hashes=8,
        band_specs={"4x2": 2, "2x4": 4},
        jaccard_threshold=0.6,
        shingle_n=3,
    ).select(
        F.col("__tag").alias("bands"),
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.lit(1).alias("__hit"),
    )
    gt_by_leg = gt.select(
        "doc_a",
        "doc_b",
        F.expr("jac_ppm div 100000").alias("decile"),
        F.explode(F.array(F.lit("4x2"), F.lit("2x4"))).alias("bands"),
    )
    return (
        gt_by_leg.join(tagged, ["bands", "doc_a", "doc_b"], "left")
        .groupBy("bands", "decile")
        .agg(
            F.count("*").cast("bigint").alias("n_truth"),
            F.count("__hit").cast("bigint").alias("n_found"),
            F.expr(
                "CAST(count(__hit) * 1000000 div count(*) AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )


@register(
    "ewma_user_value",
    oracle="""
    WITH ranked AS (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    last AS (
        SELECT user_id, max(rn) AS lst, count(*) AS n_events
        FROM ranked GROUP BY user_id
    ),
    tail AS (
        SELECT r.user_id, r.value, r.rn, l.lst, l.n_events
        FROM ranked r JOIN last l ON l.user_id = r.user_id
        WHERE r.rn > l.lst - 16
    )
    SELECT user_id,
           CAST(any_value(n_events) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)
                    * (CAST(1 AS BIGINT) << (15 - (lst - rn))))
                // sum(CAST(1 AS BIGINT) << (15 - (lst - rn)))
                AS BIGINT) AS ewma_e4
    FROM tail GROUP BY user_id
    """,
)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing EWMA (α = 1/2, 16-event truncation) of event value per
    user at the user's latest event — integer-exact fixed-point
    (operators/timeseries.py::ewma_last_per_key): e4-snapped values,
    power-of-two weights carried as integer numerators, one integer
    division at the end. Rank-band self-join, no quadratic window
    re-evaluation (the round-6 RANGE-frame lesson), no float-sum
    ordering sensitivity.
    """
    from .operators.timeseries import ewma_last_per_key

    return ewma_last_per_key(
        t(spark, sf_dir, "events"), "user_id", "ts", "value", "event_id",
        window=16,
    )


_FD_CANDIDATES = [
    ("o_orderkey", "o_custkey"),      # PK -> anything: must hold
    ("o_orderkey", "o_orderstatus"),  # PK -> anything: must hold
    ("o_custkey", "o_orderstatus"),   # repeat customers: violated
    ("o_orderstatus", "o_orderpriority"),  # coarse -> fine: violated
]


@register(
    "fd_violation_audit",
    oracle="""
    WITH flat AS (
    """
    + "\n        UNION ALL\n".join(
        f"""
        SELECT '{det}->{dep}' AS fd,
               coalesce(CAST({det} AS VARCHAR), '∅') AS det,
               coalesce(CAST({dep} AS VARCHAR), '∅') AS dep
        FROM orders"""
        for det, dep in _FD_CANDIDATES
    )
    + """
    ),
    per_det AS (
        SELECT fd, det, count(DISTINCT dep) AS nd
        FROM flat GROUP BY fd, det
    )
    SELECT fd,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
           CAST(max(nd) AS BIGINT) AS max_fanout
    FROM per_det GROUP BY fd
    """,
)
def fd_violation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery over four orders candidates
    (operators/profile.py::fd_violation_audit): PK-determined FDs must
    report zero violating groups; repeat-customer and coarse→fine
    candidates must report violations — the key-inference signal a
    warehouse migration reads before declaring constraints (K4
    family). Single scan for all candidates (constant explode
    fan-out), two map-combinable shuffles.
    """
    from .operators.profile import fd_violation_audit as fd_audit

    return fd_audit(t(spark, sf_dir, "orders"), _FD_CANDIDATES)


@register(
    "matview_join_delta_refresh",
    oracle="""
    SELECT c.c_nationkey,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(o.o_totalprice), 2) AS sum_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
    """,
)
def matview_join_delta_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance (operators/matview.py::
    maintain_join_mv): orders split into loaded/delta by orderkey
    (%3), customer by custkey (%5) — the maintained view after both
    insert batches MUST equal the full recompute (the oracle is the
    plain full join), including the keys where BOTH sides received
    delta rows (the ΔA ⋈ ΔB cross term, counted exactly once by the
    B' = B ∪ ΔB formulation). Report = nationkey rollup so the
    value-hash covers every joined row's contribution.
    """
    from .operators.matview import maintain_join_mv

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    a_old = o.filter(F.col("o_orderkey") % 3 != 0)
    da = o.filter(F.col("o_orderkey") % 3 == 0)
    b_old = c.filter(F.col("o_custkey") % 5 != 0)
    db = c.filter(F.col("o_custkey") % 5 == 0)
    v_old = a_old.join(b_old, ["o_custkey"])
    v_new = maintain_join_mv(v_old, a_old, b_old, da, db, ["o_custkey"])
    return v_new.groupBy(F.col("c_nationkey")).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@register(
    "cusum_changepoint_hours",
    oracle="""
    WITH hourly AS (
        SELECT event_type AS k,
               date_trunc('hour', ts) AS h,
               CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT))
                    AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    scanned AS (
        SELECT k, h,
               count(*) OVER (PARTITION BY k) AS hh,
               (count(*) OVER (PARTITION BY k))
                   * sum(x) OVER (PARTITION BY k ORDER BY h
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW)
               - (row_number() OVER (PARTITION BY k ORDER BY h))
                   * sum(x) OVER (PARTITION BY k) AS c
        FROM hourly
    ),
    top1 AS (
        SELECT k, h, hh, c,
               row_number() OVER (PARTITION BY k ORDER BY abs(c) DESC, h)
                   AS rn
        FROM scanned
    )
    SELECT k AS event_type,
           CAST(hh AS BIGINT) AS n_hours,
           CAST(epoch_ms(h) AS BIGINT) AS cp_hour_ms,
           CAST(abs(c) AS BIGINT) AS max_abs_cusum
    FROM top1 WHERE rn = 1
    """,
)
def cusum_changepoint_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point estimate per event type over the hourly value
    series (operators/timeseries.py::cusum_changepoint): the hour where
    the denominator-cleared deviation sum H·C_t = H·cum_t − t·S peaks
    in magnitude — integer-exact end to end (e4 value snap, window
    integer algebra, no float mean). Complements the 3σ anomaly scan
    (point outliers) with LEVEL-SHIFT localization."""
    from .operators.timeseries import cusum_changepoint

    return cusum_changepoint(
        t(spark, sf_dir, "events"), "event_type", "ts", "value"
    )


@register(
    "lsh_precision_funnel",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, {SHINGLES_SQL} AS sh
        FROM (SELECT doc_id, {WORDS_SQL} AS words FROM documents)
    ),
    sigs AS (
        SELECT doc_id, sh, {{SIGS}} FROM base
    ),
    b2 AS (
        SELECT doc_id, CAST(split_part(band, '|', 1) AS INT) AS bi, band
        FROM (SELECT doc_id, unnest({{KEYS}}) AS band FROM sigs)
    ),
    buckets AS (
        SELECT bi, band, count(*) AS m FROM b2 GROUP BY bi, band
        HAVING count(*) >= 2 AND count(*) <= 1000
    ),
    cand AS (
        SELECT a.bi, a.doc_id AS id_a, b.doc_id AS id_b
        FROM b2 a
        JOIN buckets k ON k.band = a.band
        JOIN b2 b ON a.band = b.band AND a.doc_id < b.doc_id
    ),
    ver AS (
        SELECT c.bi,
               CASE WHEN round(
                   CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                   / (len(sa.sh) + len(sb.sh)
                      - len(list_intersect(sa.sh, sb.sh))), 6) >= 0.5
                    THEN 1 ELSE 0 END AS ok
        FROM cand c
        JOIN base sa ON sa.doc_id = c.id_a
        JOIN base sb ON sb.doc_id = c.id_b
    ),
    nb AS (SELECT bi, count(*) AS n_buckets FROM buckets GROUP BY bi)
    SELECT v.bi AS band,
           CAST(any_value(nb.n_buckets) AS BIGINT) AS n_buckets,
           CAST(count(*) AS BIGINT) AS n_cand_pairs,
           CAST(sum(ok) AS BIGINT) AS n_verified,
           CAST(sum(ok) * 1000000 // count(*) AS BIGINT) AS precision_ppm
    FROM ver v JOIN nb ON nb.bi = v.bi
    GROUP BY v.bi
    """.replace("{SIGS}", _minhash_sig_fragment()).replace(
        "{KEYS}", _band_keys_fragment()
    ),
)
def lsh_precision_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band candidate→verified funnel of the benched MinHash index
    (operators/dedup.py::lsh_band_funnel) — the COST complement to
    lsh_recall_audit: bucket counts, candidate pairs billed per band
    (a pair surfaced by two bands bills both, matching the global
    dedup's absorbed volume), verified survivors, and precision ppm.
    An operator reads this to see which bands waste the verify budget
    before retuning band_size on a 100 TB corpus.
    """
    from .operators.dedup import lsh_band_funnel

    return lsh_band_funnel(
        t(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        num_hashes=8,
        band_size=2,
        jaccard_threshold=0.5,
    )


@register(
    "join_fanout_hotspots",
    oracle="""
    WITH a AS (
        SELECT user_id, count(*) AS n_click FROM events
        WHERE event_type = 'click' GROUP BY user_id
    ),
    b AS (
        SELECT user_id, count(*) AS n_purchase FROM events
        WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT user_id,
           CAST(n_click AS BIGINT) AS n_click,
           CAST(n_purchase AS BIGINT) AS n_purchase,
           CAST(n_click * n_purchase AS BIGINT) AS fanout_rows
    FROM a JOIN b USING (user_id)
    ORDER BY fanout_rows DESC, user_id
    LIMIT 10
    """,
)
def join_fanout_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-skew pre-flight: the top keys by per-key fan-out PRODUCT
    |A_k|·|B_k| for the click⋈purchase attribution join — the exact
    row count that join will materialize per key, read BEFORE running
    it (the cost model behind streaming_attribution_join's state and
    the batch asof family's window sizes). A key at the top of this
    report is where AQE skew-split or per-key salting earns its keep
    at 100 TB. Cost: two map-combinable counts + a top-k — never the
    join itself.
    """
    e = t(spark, sf_dir, "events")

    def side(etype: str, out: str) -> DataFrame:
        return (
            e.filter(F.col("event_type") == etype)
            .groupBy("user_id")
            .agg(F.count("*").cast("bigint").alias(out))
        )

    return (
        side("click", "n_click")
        .join(side("purchase", "n_purchase"), "user_id")
        .select(
            "user_id",
            "n_click",
            "n_purchase",
            (F.col("n_click") * F.col("n_purchase"))
            .cast("bigint")
            .alias("fanout_rows"),
        )
        .orderBy(F.col("fanout_rows").desc(), F.col("user_id"))
        .limit(10)
    )


@register(
    "quantile_sketch_error_audit",
    oracle="""
    WITH exact AS (
        SELECT event_type,
               min(CASE WHEN cum * 100 >= tot * 50 THEN cents END) AS ex50,
               min(CASE WHEN cum * 100 >= tot * 95 THEN cents END) AS ex95
        FROM (
            SELECT event_type, cents, 
                   sum(cnt) OVER (PARTITION BY event_type ORDER BY cents)
                       AS cum,
                   sum(cnt) OVER (PARTITION BY event_type) AS tot
            FROM (
                SELECT event_type,
                       CAST(round(value * 100) AS BIGINT) AS cents,
                       count(*) AS cnt
                FROM events GROUP BY 1, 2
            )
        ) GROUP BY event_type
    ),
    sk AS (
        SELECT event_type,
               min(CASE WHEN cum * 100 >= tot * 50 THEN bin END) * 10 AS sk50,
               min(CASE WHEN cum * 100 >= tot * 95 THEN bin END) * 10 AS sk95
        FROM (
            SELECT event_type, bin,
                   sum(cnt) OVER (PARTITION BY event_type ORDER BY bin)
                       AS cum,
                   sum(cnt) OVER (PARTITION BY event_type) AS tot
            FROM (
                SELECT event_type, CAST(floor(value * 10) AS BIGINT) AS bin,
                       count(*) AS cnt
                FROM events GROUP BY 1, 2
            )
        ) GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(e.ex50 AS BIGINT) AS exact_p50_cents,
           CAST(s.sk50 AS BIGINT) AS sketch_p50_cents,
           CAST(abs(e.ex50 - s.sk50) AS BIGINT) AS err_p50_cents,
           CAST(e.ex95 AS BIGINT) AS exact_p95_cents,
           CAST(s.sk95 AS BIGINT) AS sketch_p95_cents,
           CAST(abs(e.ex95 - s.sk95) AS BIGINT) AS err_p95_cents,
           CAST(CASE WHEN abs(e.ex50 - s.sk50) <= 10
                      AND abs(e.ex95 - s.sk95) <= 10
                     THEN 1 ELSE 0 END AS BIGINT) AS within_bin_bound
    FROM exact e JOIN sk s USING (event_type)
    """,
)
def quantile_sketch_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-honesty audit: the histogram quantile sketch's p50/p95
    (0.1-wide bins, lower-edge estimate) against the EXACT
    percentile_disc over integer cents, per event type — measured
    error in cents plus the within-one-bin guarantee flag (the error
    bound a fixed-width histogram promises BY CONSTRUCTION; a zero
    flag means the sketch implementation, not the data, is wrong).
    Same crossing rule (integer cross-multiplication) on both ladders.

    Two map-combined histograms (state O(distinct cents) and
    O(distinct bins)) + windows over the grids, never the rows — the
    audit costs what the sketch costs.
    """
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")

    def ladder(col_expr: str, out50: str, out95: str, scale: int) -> DataFrame:
        hist = (
            ev.select("event_type", F.expr(col_expr).alias("v"))
            .groupBy("event_type", "v")
            .agg(F.count("*").alias("cnt"))
        )
        wcum = Window.partitionBy("event_type").orderBy("v")
        wtot = Window.partitionBy("event_type")
        cum = hist.select(
            "event_type",
            "v",
            F.sum("cnt").over(wcum).alias("cum"),
            F.sum("cnt").over(wtot).alias("tot"),
        )
        return cum.groupBy("event_type").agg(
            (
                F.min(
                    F.when(F.col("cum") * 100 >= F.col("tot") * 50, F.col("v"))
                )
                * scale
            ).alias(out50),
            (
                F.min(
                    F.when(F.col("cum") * 100 >= F.col("tot") * 95, F.col("v"))
                )
                * scale
            ).alias(out95),
        )

    exact = ladder("CAST(round(value * 100) AS BIGINT)", "ex50", "ex95", 1)
    sk = ladder("CAST(floor(value * 10) AS BIGINT)", "sk50", "sk95", 10)
    j = exact.join(sk, "event_type")
    e50 = F.abs(F.col("ex50") - F.col("sk50"))
    e95 = F.abs(F.col("ex95") - F.col("sk95"))
    return j.select(
        "event_type",
        F.col("ex50").cast("bigint").alias("exact_p50_cents"),
        F.col("sk50").cast("bigint").alias("sketch_p50_cents"),
        e50.cast("bigint").alias("err_p50_cents"),
        F.col("ex95").cast("bigint").alias("exact_p95_cents"),
        F.col("sk95").cast("bigint").alias("sketch_p95_cents"),
        e95.cast("bigint").alias("err_p95_cents"),
        F.when((e50 <= 10) & (e95 <= 10), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("within_bin_bound"),
    )


@register(
    "late_arrival_backfill_report",
    oracle="""
    WITH cursed AS (
        SELECT ts,
               max(ts) OVER (PARTITION BY user_id ORDER BY event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS high_water
        FROM events
    ),
    lateness AS (
        SELECT date_trunc('day', ts) AS day,
               epoch_ms(high_water) - epoch_ms(ts) AS late_ms
        FROM cursed
    )
    SELECT CAST(epoch_ms(day) AS BIGINT) AS day_ms,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN late_ms > 3600000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_late_1h,
           CAST(max(late_ms) AS BIGINT) AS max_late_ms,
           CAST(CASE WHEN sum(CASE WHEN late_ms > 3600000 THEN 1 ELSE 0
                              END) > 0 THEN 1 ELSE 0 END AS BIGINT)
               AS needs_backfill
    FROM lateness GROUP BY day
    """,
)
def late_arrival_backfill_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data audit → backfill worklist: per event-time DAY, how many
    events arrived after their stream's high-water mark had already
    passed them by more than an hour (arrival order = event_id within
    each user's stream — the per-shard cursor a real ingest keeps), the
    worst observed lateness, and the needs-backfill flag a scheduler
    reads to re-run day partitions. This is the BATCH measurement of
    exactly the disorder streaming watermarks absorb — it sizes the
    watermark horizon (and the MERGE backfill window) from data instead
    of folklore.

    One per-user running-max window (partitioned — no global order),
    one day rollup. At 100 TB the cursor partitioning follows the
    ingest sharding; nothing global exists anywhere.
    """
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    late = ev.select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        (
            F.unix_millis(F.max("ts").over(w)) - F.unix_millis(F.col("ts"))
        ).alias("late_ms"),
    )
    n_late = F.sum(F.when(F.col("late_ms") > 3600000, 1).otherwise(0))
    return late.groupBy("day").agg(
        F.count("*").cast("bigint").alias("n_events"),
        n_late.cast("bigint").alias("n_late_1h"),
        F.max("late_ms").cast("bigint").alias("max_late_ms"),
        F.when(n_late > 0, 1).otherwise(0).cast("bigint").alias(
            "needs_backfill"
        ),
    ).select(
        F.unix_millis(F.col("day")).alias("day_ms"),
        "n_events",
        "n_late_1h",
        "max_late_ms",
        "needs_backfill",
    )


_COPURCHASE_EDGES_SQL = """
    SELECT a.l_partkey AS pa, b.l_partkey AS pb
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
    JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING count(*) >= 2
"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return _copurchase_pair_counts(li).filter(F.col("c") >= 2).drop("c")


@register(
    "lpa_communities_copurchase",
    oracle=lpa_communities_sql(_COPURCHASE_EDGES_SQL, "pa", "pb", rounds=3),
)
def lpa_communities_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label-propagation communities over the
    co-purchase graph (operators/graph.py::lpa_communities, 3 rounds,
    min-tie): frequency-weighted neighborhoods — the community lens CC
    cannot give (one stray edge merges CC components but not LPA
    communities). The oracle comes from the single-sourced unrolled-CTE
    generator (the PageRank pattern: one Python function emits both
    engines' recipes)."""
    from .operators.graph import lpa_communities

    return lpa_communities(
        _copurchase_edges(spark, sf_dir), "pa", "pb", rounds=3
    )



@register(
    "item_similarity_topk",
    oracle="""
    WITH li AS MATERIALIZED (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    occ AS MATERIALIZED (
        SELECT l_partkey AS p, count(*) AS n FROM li GROUP BY 1
    ),
    cooc AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS c
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    sym AS (
        SELECT pa AS p, pb AS q, c FROM cooc
        UNION ALL SELECT pb, pa, c FROM cooc
    ),
    scored AS (
        SELECT s.p, s.q,
               CAST(s.c * s.c * 1000000 // (op.n * oq.n) AS BIGINT)
                   AS cos2_ppm,
               row_number() OVER (
                   PARTITION BY s.p
                   ORDER BY s.c * s.c * 1000000 // (op.n * oq.n) DESC,
                            s.q ASC
               ) AS rn
        FROM sym s JOIN occ op ON op.p = s.p JOIN occ oq ON oq.p = s.q
    )
    SELECT p AS part, q AS similar_part, cos2_ppm,
           CAST(rn AS BIGINT) AS rank
    FROM scored WHERE rn <= 3
    """,
)
def item_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering over order baskets: top-3
    similar parts per part by SQUARED cosine over co-occurrence
    vectors — cos²(a,b) = cooc²/(occ_a·occ_b) stays a ratio of
    integers (the engine's rational-verdict discipline: plain cosine
    needs a sqrt both engines would round differently), preserving the
    cosine RANKING exactly since x² is monotone on non-negatives.
    Support ≥ 2 prunes accidental single-basket pairs (the same
    stable-core threshold as the co-purchase graph family).

    100 TB: the quadratic per-basket pair fanout is the co-purchase
    join (pruned by support before scoring); occurrence counts join
    hint-free (item-cardinality-proportional — stats/AQE broadcast
    them only while actually small); ranking is a per-item top-k
    window — the classic offline item-CF batch shape.

    r11: symmetrization is an EXPLODE of (p,q)/(q,p) structs from the
    aggregated pair frame, not a union of two selects over it — the
    union's two legs each re-evaluated the whole quadratic
    basket-fanout join+agg (the r11 same-file re-scan census caught
    it: 6 lineitem scans → 4). Measured 2.03 → 1.44 s at sf0.1,
    result identical (the explode doubles the SMALL post-support
    frame); at scale it halves the dominant join. Clause-(a): this
    query re-windows at r13 (r12 is fully booked with age-forced
    rows; see queries.REWINDOWED note); it joined bench.py's
    unflagged entrants in the same change so its timing is
    regression-visible every interim round, and the union-form twin
    pytest re-checks values in every gate.

    r14 (optimization round): a collect_set basket form (occ + cooc
    off one basket frame) was tried and measured SLOWER (2.46–2.51 s
    vs 1.66–1.68 s warm A/B at sf0.1) — the ObjectHashAggregate
    basket build loses to the distinct+SMJ shape here; reverted, see
    _copurchase_pair_counts.
    """
    from pyspark.sql import Window

    li = (
        t(spark, sf_dir, "lineitem")
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
        F.explode(
            F.array(
                F.struct(F.col("pa").alias("p"), F.col("pb").alias("q")),
                F.struct(F.col("pb").alias("p"), F.col("pa").alias("q")),
            )
        ).alias("__pq"),
        "c",
    ).select("__pq.p", "__pq.q", "c")
    score = F.expr("CAST(c * c * 1000000 div (np * nq) AS BIGINT)")
    w = Window.partitionBy("p").orderBy(
        F.col("cos2_ppm").desc(), F.col("q").asc()
    )
    return (
        # hint-free: occ is item-cardinality-proportional — an explicit
        # hint would bypass the size check at 100 TB (r14 hint census)
        sym.join(occ.toDF("p", "np"), "p")
        .join(occ.toDF("q", "nq"), "q")
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


@register(
    "distribution_drift_tv",
    oracle="""
    WITH med AS (
        SELECT CAST(quantile_disc(event_id, 0.5) AS BIGINT) AS m FROM events
    ),
    halves AS (
        SELECT event_type,
               CAST(sum(CASE WHEN event_id <= (SELECT m FROM med)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
               CAST(sum(CASE WHEN event_id > (SELECT m FROM med)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_second
        FROM events GROUP BY event_type
    ),
    tot AS (
        SELECT sum(n_first) AS nf, sum(n_second) AS ns FROM halves
    )
    SELECT h.event_type, h.n_first, h.n_second,
           CAST(abs(h.n_first * t.ns - h.n_second * t.nf) * 1000000
                // (2 * t.nf * t.ns) AS BIGINT) AS tv_contrib_ppm
    FROM halves h, tot t
    """,
)
def distribution_drift_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift WITHOUT logs: per-event-type total-variation
    contribution between the first and second half of the stream
    (split at the median event_id — arrival order): TV(P,Q) =
    ½·Σ|p_i − q_i|, carried as |n_i·M − m_i·N|·1e6 div (2·N·M) so the
    verdict is a ratio of integers (KL/PSI need logs that engines
    round differently — the same log-free stance as the Gini
    diversity op). Summing the column gives the global TV distance;
    per-row contributions localize WHICH category drifted — the
    monitoring report a pipeline alerts on.

    One scan + one group-cardinality frame; the median split is a
    single exact percentile over event ids.
    """
    ev = t(spark, sf_dir, "events")
    m = ev.agg(
        F.expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY event_id)"
               " AS BIGINT)").alias("m")
    )
    halves = (
        ev.crossJoin(F.broadcast(m))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("event_id") <= F.col("m"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_first"),
            F.sum(F.when(F.col("event_id") > F.col("m"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_second"),
        )
        .localCheckpoint()  # two consumers (halves + tot): without the
        # cut, each re-derives the median scan — 4 corpus scans, not 2
    )
    tot = halves.agg(
        F.sum("n_first").alias("nf"), F.sum("n_second").alias("ns")
    )
    return halves.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_first",
        "n_second",
        F.expr(
            "CAST(abs(n_first * ns - n_second * nf) * 1000000"
            " div (2 * nf * ns) AS BIGINT)"
        ).alias("tv_contrib_ppm"),
    )


@register(
    "hybrid_rrf_fusion",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(words) AS tok
        FROM (SELECT doc_id, {WORDS_SQL} AS words FROM documents)
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    corpus AS (SELECT CAST(count(*) AS BIGINT) AS t_total,
                      CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
               FROM toks),
    tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
           FROM toks WHERE tok IN ({_BM25_TERMS_SQL}) GROUP BY doc_id, tok),
    df AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
           FROM toks WHERE tok IN ({_BM25_TERMS_SQL}) GROUP BY tok),
    bm AS (
        SELECT tf.doc_id,
               CAST(sum(
                   ((2 * (c.n_docs - df.df) + 1) * 1000000 // (2 * df.df + 1))
                   * (44 * tf.tf * c.t_total * 1000000
                      // (20 * tf.tf * c.t_total + 6 * c.t_total
                          + 18 * dl.dl * c.n_docs))
                   // 1000000
               ) AS BIGINT) AS bm25_e6
        FROM tf JOIN df USING (tok) JOIN dl USING (doc_id), corpus c
        GROUP BY tf.doc_id
        ORDER BY bm25_e6 DESC, tf.doc_id LIMIT {_BM25_TOPK}
    ),
    lex AS (
        SELECT doc_id, CAST(row_number() OVER (
            ORDER BY bm25_e6 DESC, doc_id) AS BIGINT) AS lex_rank
        FROM bm
    ),
    sem AS (
        SELECT vec_id AS doc_id, CAST(r AS BIGINT) AS sem_rank FROM (
            SELECT e.vec_id, row_number() OVER (
                ORDER BY round(list_cosine_similarity(
                    e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) DESC,
                    e.vec_id) AS r
            FROM embeddings e,
                 (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        ) WHERE r <= 20
    ),
    fused AS (
        SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
               COALESCE(l.lex_rank, 0) AS lex_rank,
               COALESCE(s.sem_rank, 0) AS sem_rank,
               CAST(CASE WHEN l.lex_rank IS NOT NULL
                         THEN 1000000 // (60 + l.lex_rank) ELSE 0 END
                  + CASE WHEN s.sem_rank IS NOT NULL
                         THEN 1000000 // (60 + s.sem_rank) ELSE 0 END
                    AS BIGINT) AS rrf_e6
        FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
    )
    SELECT doc_id, lex_rank, sem_rank, rrf_e6, fused_rank FROM (
        SELECT *, CAST(row_number() OVER (
            ORDER BY rrf_e6 DESC, doc_id) AS BIGINT) AS fused_rank
        FROM fused
    ) WHERE fused_rank <= 15
    """,
)
def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al.,
    SIGIR'09): fuse the engine's two registered retrieval products —
    the integer-BM25 lexical top-10 (bm25_rank_topk, same 3-term
    query) and the exact-cosine semantic top-20 for query vector 0
    (brute_force_topk) — by RRF(d) = sum over lists of 1/(60 + rank),
    carried as 1e6 div (60+rank) so the fused score is an exact
    integer on both engines. Rank 0 = "absent from that list"
    (contributes nothing); final ranking (rrf_e6 DESC, doc_id) top-15
    — the standard hybrid-search shape for corpus curation, where
    lexical and embedding retrieval disagree and the fusion is the
    product.

    100 TB: both input rankings are top-k artifacts (candidate sets,
    not corpus-sized); the fusion join and final window touch only
    k_lex + k_sem rows — driver-scale no matter the corpus. The
    single-partition windows here are bounded by k, not data.
    """
    from pyspark.sql.window import Window

    from .operators.similarity import brute_force_topk

    lex = bm25_rank_topk(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25_e6"), "doc_id"))
        .cast("bigint")
        .alias("lex_rank"),
    )
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    sem = brute_force_topk(e, q, k=20, dim=64).select(
        F.col("vec_id").alias("doc_id"),
        F.col("rank").cast("bigint").alias("sem_rank"),
    )
    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("lex_rank", F.lit(0)).cast("bigint").alias("lex_rank"),
            F.coalesce("sem_rank", F.lit(0)).cast("bigint").alias("sem_rank"),
        )
        .withColumn(
            "rrf_e6",
            F.expr(
                "CASE WHEN lex_rank > 0"
                " THEN CAST(1000000 AS BIGINT) div (60 + lex_rank)"
                " ELSE 0 END"
                " + CASE WHEN sem_rank > 0"
                " THEN CAST(1000000 AS BIGINT) div (60 + sem_rank)"
                " ELSE 0 END"
            ).cast("bigint"),
        )
    )
    return (
        fused.withColumn(
            "fused_rank",
            F.row_number()
            .over(Window.orderBy(F.desc("rrf_e6"), "doc_id"))
            .cast("bigint"),
        )
        .filter(F.col("fused_rank") <= 15)
    )


@register(
    "acf_hourly_lags",
    oracle="""
    WITH hourly AS (
        SELECT event_type,
               CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS x,
               CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT))
                    AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS s
        FROM hourly GROUP BY 1
    ),
    z AS (
        SELECT h.event_type, h.x,
               CAST(t.n * h.y - t.s AS HUGEINT) AS z
        FROM hourly h JOIN tot t USING (event_type)
    ),
    den AS (
        SELECT event_type, sum(z * z) AS den FROM z GROUP BY 1
    ),
    num1 AS (
        SELECT a.event_type, sum(a.z * b.z) AS num
        FROM z a JOIN z b
          ON a.event_type = b.event_type AND b.x = a.x + 1
        GROUP BY 1
    ),
    num24 AS (
        SELECT a.event_type, sum(a.z * b.z) AS num
        FROM z a JOIN z b
          ON a.event_type = b.event_type AND b.x = a.x + 24
        GROUP BY 1
    )
    SELECT t.event_type, t.n AS n_hours,
           CASE WHEN d.den = 0 OR n1.num IS NULL THEN NULL
                ELSE CAST(n1.num * 1000000 // d.den AS BIGINT)
           END AS acf1_ppm,
           CASE WHEN d.den = 0 OR n24.num IS NULL THEN NULL
                ELSE CAST(n24.num * 1000000 // d.den AS BIGINT)
           END AS acf24_ppm
    FROM tot t
    JOIN den d USING (event_type)
    LEFT JOIN num1 n1 USING (event_type)
    LEFT JOIN num24 n24 USING (event_type)
    """,
)
def acf_hourly_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT sample autocorrelation of the hourly value series at lags
    1 and 24 per event_type — the seasonality detector (acf24 near 1 =
    strong daily cycle; acf1 = short-range persistence). Integer-exact
    via the n-scaled residual trick: with integer hourly masses y and
    S = sum(y), z_t = n*y_t - S is an INTEGER with mean 0, and
    r_k = sum(z_t * z_{t+k}) / sum(z_t^2) — the float mean never
    materializes; the verdict is one signed fixed-point divide in
    DECIMAL(38,0)/HUGEINT (z^2 ~ 1e20 overflows int64; the KMV
    precedent). Lag pairs are CALENDAR-hour pairs (x and x+k both
    present), so gaps shrink the numerator instead of silently
    shifting the series; the full-series denominator is the standard
    ACF normalization. den = 0 (constant series) and series shorter
    than the lag report NULL.

    100 TB: the corpus-sized work is ONE map-combined hourly rollup;
    everything after runs on the (type, hour) frame — per-type totals
    broadcast back, the lag joins are hourly-frame equi-joins (no
    window, no sort of the raw events).
    """
    ev = t(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            F.expr("unix_timestamp(date_trunc('hour', ts)) div 3600")
            .cast("bigint")
            .alias("x"),
            F.expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)").alias("v"),
        )
        .groupBy("event_type", "x")
        .agg(F.sum("v").cast("bigint").alias("y"))
        .localCheckpoint()  # five consumers; cut the rollup lineage once
    )
    tot = hourly.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
    )
    z = hourly.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "x",
        F.expr("CAST(n * y - s AS DECIMAL(20,0))").alias("z"),
    )
    den = z.groupBy("event_type").agg(F.expr("sum(z * z)").alias("den"))

    def lag_num(k: int) -> DataFrame:
        a, b = z.alias("a"), z.alias("b")
        return (
            a.join(
                b,
                (F.col("a.event_type") == F.col("b.event_type"))
                & (F.col("b.x") == F.col("a.x") + k),
            )
            .groupBy(F.col("a.event_type").alias("event_type"))
            .agg(F.expr("sum(a.z * b.z)").alias(f"num{k}"))
        )

    return (
        tot.join(den, "event_type")
        .join(lag_num(1), "event_type", "left")
        .join(lag_num(24), "event_type", "left")
        .select(
            "event_type",
            F.col("n").alias("n_hours"),
            F.expr(
                "CASE WHEN den = 0 OR num1 IS NULL THEN NULL"
                " ELSE CAST(num1 * 1000000 div den AS BIGINT) END"
            ).alias("acf1_ppm"),
            F.expr(
                "CASE WHEN den = 0 OR num24 IS NULL THEN NULL"
                " ELSE CAST(num24 * 1000000 div den AS BIGINT) END"
            ).alias("acf24_ppm"),
        )
    )


@register(
    "theilsen_slope_hourly",
    oracle="""
    WITH hourly AS (
        SELECT event_type,
               CAST(epoch(date_trunc('hour', ts)) // 3600 - 473352
                    AS BIGINT) AS x,
               CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT))
                    AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.event_type,
               CAST((b.y - a.y) * 1000000 AS BIGINT)
                   // (b.x - a.x) AS slope_e6
        FROM hourly a JOIN hourly b
          ON a.event_type = b.event_type AND a.x < b.x
    )
    SELECT p.event_type,
           (SELECT CAST(count(*) AS BIGINT) FROM hourly h
            WHERE h.event_type = p.event_type) AS n_hours,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(quantile_disc(p.slope_e6, 0.5) AS BIGINT)
               AS theilsen_slope_e6
    FROM pairs p GROUP BY p.event_type
    """,
)
def theilsen_slope_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen ROBUST trend slope per event_type over the hourly
    value series: the median of all pairwise slopes (y2-y1)/(x2-x1) —
    up to ~29% contamination tolerance where the OLS twin
    (hourly_trend_slope_exact) is pulled arbitrarily far by one bad
    hour. Each pairwise slope is e6 fixed point via integer div
    (truncation toward zero, identical in both engines for either
    sign); the median is percentile_disc over the integer slope set,
    so no float ordering is involved anywhere.

    100 TB: the raw-event work is ONE map-combined hourly rollup; the
    O(h^2) pair expansion runs on the (type, hour) frame, bounded by
    the TIME SPAN (720 hours -> 259k pairs per type), not the data
    volume — the standard Theil-Sen deployment shape. A multi-year
    span would switch to the sampled estimator (random pair subset)
    on the same dataflow.

    r14 (optimization): the pair expansion is the sanctioned
    posexplode+slice combination over each type's sorted (x, y) hour
    array — one linear plan where the old shape paid a localCheckpoint
    job, a self SortMergeJoin (equi-keyed on the ~5-value event_type,
    so the `<` filter evaluated h² pairs to keep h²/2), a second
    n_hours aggregate, and a final join. array_sort on the structs
    orders by x (unique per type), so slice pairs have x_a < x_b by
    construction and the slope multiset is IDENTICAL — measured 4.5 s
    → ~1.3 s at sf0.1 (guide §2.4: remove shuffles outright; the two
    groupBys share one hash partitioning, so the expansion and the
    median agg add no exchange). Parallelism stays type-bounded (≤ 5
    concurrent pair tasks) exactly like the old 5-key join.
    """
    ev = t(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            (
                F.expr("unix_timestamp(date_trunc('hour', ts)) div 3600")
                - F.lit(473352)
            ).cast("bigint").alias("x"),
            F.expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)").alias("v"),
        )
        .groupBy("event_type", "x")
        .agg(F.sum("v").cast("bigint").alias("y"))
    )
    packed = hourly.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("x", "y"))).alias("__hs")
    # keyed repartition BEFORE the explode (round-8 AQE gotcha): the
    # packed frame is #types rows, so AQE coalesces its agg shuffle to
    # ONE partition and the whole h²/2 pair fanout would run on one
    # core; the partition count must differ from
    # spark.sql.shuffle.partitions or CollapseRepartition removes it.
    ).repartition(8, "event_type")
    pairs = (
        packed.select(
            "event_type",
            F.size("__hs").cast("bigint").alias("n_hours"),
            "__hs",
            F.posexplode("__hs").alias("__i", "__a"),
        )
        .select(
            "event_type",
            "n_hours",
            "__a",
            F.explode(
                F.slice("__hs", F.col("__i") + F.lit(2), F.size("__hs"))
            ).alias("__b"),
        )
        .select(
            "event_type",
            "n_hours",
            F.expr(
                "CAST((__b.y - __a.y) * CAST(1000000 AS BIGINT) AS BIGINT)"
                " div (__b.x - __a.x)"
            ).alias("slope_e6"),
        )
    )
    return pairs.groupBy("event_type").agg(
        F.max("n_hours").alias("n_hours"),
        F.count("*").cast("bigint").alias("n_pairs"),
        F.expr(
            "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY slope_e6)"
            " AS BIGINT)"
        ).alias("theilsen_slope_e6"),
    ).select("event_type", "n_hours", "n_pairs", "theilsen_slope_e6")


@register(
    "trimmed_mean_order_value",
    oracle="""
    WITH hist AS (
        SELECT o_orderpriority AS grp,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               CAST(count(*) AS BIGINT) AS cnt
        FROM orders GROUP BY 1, 2
    ),
    cum AS (
        SELECT grp, cents, cnt,
               sum(cnt) OVER (PARTITION BY grp ORDER BY cents
                              ROWS UNBOUNDED PRECEDING) AS c_hi,
               sum(cnt) OVER (PARTITION BY grp ORDER BY cents
                              ROWS UNBOUNDED PRECEDING) - cnt AS c_lo,
               sum(cnt) OVER (PARTITION BY grp) AS n
        FROM hist
    ),
    kept AS (
        SELECT grp, n, n // 10 AS k,
               greatest(CAST(0 AS BIGINT),
                        least(c_hi, n - n // 10)
                        - greatest(c_lo, n // 10)) AS m,
               cents
        FROM cum
    )
    SELECT grp AS o_orderpriority,
           CAST(max(n) AS BIGINT) AS n_orders,
           CAST(max(k) AS BIGINT) AS k_trimmed_each_end,
           CAST(sum(m) AS BIGINT) AS n_kept,
           CAST(sum(m * cents) // sum(m) AS BIGINT)
               AS trimmed_mean_cents
    FROM kept GROUP BY grp
    """,
)
def trimmed_mean_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 10%-trimmed mean of order value per priority — the robust
    location estimate reporting pipelines quote when means are
    outlier-dragged: sort each group's cents, drop k = n div 10
    observations from EACH end (by count, the classic trimmed-mean
    contract), average the rest. Computed WITHOUT sorting the rows:
    the (group, cents) histogram's running count gives each distinct
    value a cumulative slot range [c_lo+1, c_hi]; its kept
    multiplicity is that range's overlap with [k+1, n-k] — the
    percentile_stats two-pass pattern, so the window sorts the
    HISTOGRAM (distinct values), never the orders. Integer mean
    (truncating div) keeps both engines bit-identical.

    100 TB: one map-combined histogram aggregation, then windows over
    distinct (group, value) pairs — state is value-cardinality-sized,
    and the trim boundary never materializes a per-row rank.
    """
    from pyspark.sql.window import Window

    orders = t(spark, sf_dir, "orders")
    hist = (
        orders.select(
            F.col("o_orderpriority").alias("grp"),
            F.expr(
                "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
            ).alias("cents"),
        )
        .groupBy("grp", "cents")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wg = Window.partitionBy("grp")
    cum = hist.select(
        "grp",
        "cents",
        "cnt",
        F.sum("cnt").over(w).alias("c_hi"),
        (F.sum("cnt").over(w) - F.col("cnt")).alias("c_lo"),
        F.sum("cnt").over(wg).alias("n"),
    )
    kept = cum.select(
        "grp",
        "n",
        F.expr("n div 10").alias("k"),
        F.expr(
            "greatest(CAST(0 AS BIGINT),"
            " least(c_hi, n - n div 10) - greatest(c_lo, n div 10))"
        ).alias("m"),
        "cents",
    )
    return kept.groupBy(F.col("grp").alias("o_orderpriority")).agg(
        F.max("n").cast("bigint").alias("n_orders"),
        F.max("k").cast("bigint").alias("k_trimmed_each_end"),
        F.sum("m").cast("bigint").alias("n_kept"),
        F.expr("CAST(sum(m * cents) div sum(m) AS BIGINT)").alias(
            "trimmed_mean_cents"
        ),
    )


@register(
    "mann_kendall_trend",
    oracle="""
    WITH hourly AS (
        SELECT event_type,
               CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS x,
               CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT))
                    AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.event_type,
               CASE WHEN b.y > a.y THEN 1
                    WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn
        FROM hourly a JOIN hourly b
          ON a.event_type = b.event_type AND a.x < b.x
    )
    SELECT event_type,
           (SELECT CAST(count(*) AS BIGINT) FROM hourly h
            WHERE h.event_type = pairs.event_type) AS n_hours,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(sgn) AS BIGINT) AS s_statistic,
           CAST(sum(sgn) * 1000000 // count(*) AS BIGINT) AS tau_a_ppm
    FROM pairs GROUP BY event_type
    """,
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend statistic per event_type over the hourly
    value series: S = sum over hour pairs (i earlier than j) of
    sign(y_j - y_i), with tau-a = S / n_pairs in signed e6 fixed
    point — the distribution-free companion to the Theil-Sen slope
    (theilsen_slope_hourly): S near +/-n_pairs = monotone trend, near
    0 = none, and no value magnitude ever enters, so one blown-up
    hour moves S by at most (n-1). Pure integer comparisons — nothing
    to round on either engine.

    100 TB: identical dataflow to the Theil-Sen query — one
    map-combined hourly rollup, then an O(h^2) pair join bounded by
    the time span (not data volume), one signed-count aggregation.
    """
    ev = t(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            F.expr("unix_timestamp(date_trunc('hour', ts)) div 3600")
            .cast("bigint")
            .alias("x"),
            F.expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)").alias("v"),
        )
        .groupBy("event_type", "x")
        .agg(F.sum("v").cast("bigint").alias("y"))
        .localCheckpoint()  # pair self-join + per-type count share it
    )
    a, b = hourly.alias("a"), hourly.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.x") < F.col("b.x")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.expr(
            "CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1"
            " ELSE 0 END"
        ).cast("bigint").alias("sgn"),
    )
    n_hours = hourly.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_hours")
    )
    stats = pairs.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum("sgn").cast("bigint").alias("s_statistic"),
    )
    return n_hours.join(stats, "event_type").select(
        "event_type",
        "n_hours",
        "n_pairs",
        "s_statistic",
        F.expr(
            "CAST(s_statistic * CAST(1000000 AS BIGINT) div n_pairs"
            " AS BIGINT)"
        ).alias("tau_a_ppm"),
    )


@register(
    "ks_value_drift",
    oracle="""
    WITH med AS (
        SELECT CAST(quantile_disc(event_id, 0.5) AS BIGINT) AS m FROM events
    ),
    hist AS (
        SELECT event_type,
               CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v,
               CAST(sum(CASE WHEN event_id <= (SELECT m FROM med)
                             THEN 1 ELSE 0 END) AS BIGINT) AS c1,
               CAST(sum(CASE WHEN event_id > (SELECT m FROM med)
                             THEN 1 ELSE 0 END) AS BIGINT) AS c2
        FROM events GROUP BY 1, 2
    ),
    cum AS (
        SELECT event_type,
               sum(c1) OVER (PARTITION BY event_type ORDER BY v
                             ROWS UNBOUNDED PRECEDING) AS cum1,
               sum(c2) OVER (PARTITION BY event_type ORDER BY v
                             ROWS UNBOUNDED PRECEDING) AS cum2,
               sum(c1) OVER (PARTITION BY event_type) AS n1,
               sum(c2) OVER (PARTITION BY event_type) AS n2
        FROM hist
    )
    SELECT event_type,
           CAST(max(n1) AS BIGINT) AS n_first,
           CAST(max(n2) AS BIGINT) AS n_second,
           CAST(max(abs(cum1 * n2 - cum2 * n1)) * 1000000
                // (max(n1) * max(n2)) AS BIGINT) AS ks_d_ppm
    FROM cum GROUP BY event_type
    """,
)
def ks_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift on the NUMERIC value
    column, per event_type, between the first and second half of the
    stream (median event_id split — the distribution_drift_tv twin
    for continuous columns): D = max over x of |F1(x) - F2(x)|,
    carried as max|cum1*n2 - cum2*n1| * 1e6 div (n1*n2) so the ECDF
    gap is a ratio of exact integers — no float CDF ever
    materializes. Values snap to e4 fixed point first (the engine's
    standard double contract). TV localizes WHICH category drifted;
    KS catches shape shifts TV can't see (a mean creep inside one
    category).

    100 TB: one scan into a (type, value) histogram; the ECDF windows
    sort the HISTOGRAM per type (distinct values, not rows) — the
    percentile_stats/trimmed-mean frame; cum products stay in int64
    (cum <= n ~ 1e12 rows x n ~ 1e12 would overflow — at that scale
    the same plan runs with DECIMAL(38,0) cums, documented here).
    """
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    m = ev.agg(
        F.expr(
            "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY event_id)"
            " AS BIGINT)"
        ).alias("m")
    )
    hist = (
        ev.crossJoin(F.broadcast(m))
        .select(
            "event_type",
            F.expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)").alias("v"),
            F.when(F.col("event_id") <= F.col("m"), 1)
            .otherwise(0)
            .alias("in1"),
        )
        .groupBy("event_type", "v")
        .agg(
            F.sum("in1").cast("bigint").alias("c1"),
            F.sum(1 - F.col("in1")).cast("bigint").alias("c2"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wg = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        F.sum("c1").over(w).alias("cum1"),
        F.sum("c2").over(w).alias("cum2"),
        F.sum("c1").over(wg).alias("n1"),
        F.sum("c2").over(wg).alias("n2"),
    )
    return cum.groupBy("event_type").agg(
        F.max("n1").cast("bigint").alias("n_first"),
        F.max("n2").cast("bigint").alias("n_second"),
        F.expr(
            "CAST(max(abs(cum1 * n2 - cum2 * n1)) * CAST(1000000 AS BIGINT)"
            " div (max(n1) * max(n2)) AS BIGINT)"
        ).alias("ks_d_ppm"),
    )


@register(
    "event_trigram_paths",
    oracle="""
    WITH seq AS (
        SELECT event_type AS e1,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    tri AS (
        SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS cnt
        FROM seq WHERE e3 IS NOT NULL GROUP BY 1, 2, 3
    ),
    tot AS (SELECT sum(cnt) AS t FROM tri)
    SELECT e1, e2, e3, cnt,
           CAST(cnt * 1000000 // (SELECT t FROM tot) AS BIGINT)
               AS share_ppm,
           CAST(row_number() OVER (
               ORDER BY cnt DESC, e1, e2, e3) AS BIGINT) AS rnk
    FROM tri QUALIFY rnk <= 20
    """,
)
def event_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining one order above the Markov transition
    matrix (event_transition_matrix): the top-20 within-user event
    TRIGRAMS by global frequency, with exact ppm shares — the
    "what three-step paths do users actually take" report behind
    funnel design. Lead windows over (user, time) make each trigram
    once; ties in count rank deterministically by the type triple.

    100 TB: one per-user window pass (the sessionize shuffle shape) +
    one map-combined count over a bounded key space (|types|^3); the
    top-20 is a tiny ordered limit, never a global row sort.
    """
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    tri = (
        seq.groupBy("e1", "e2", "e3")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .localCheckpoint()  # |types|^3-bounded; two consumers (tot +
        # ranked) would otherwise re-run the corpus window pass each
    )
    tot = tri.agg(F.sum("cnt").alias("__t"))
    ranked = tri.crossJoin(F.broadcast(tot)).select(
        "e1",
        "e2",
        "e3",
        "cnt",
        F.expr("CAST(cnt * 1000000 div __t AS BIGINT)").alias("share_ppm"),
        F.row_number()
        .over(Window.orderBy(F.desc("cnt"), "e1", "e2", "e3"))
        .cast("bigint")
        .alias("rnk"),
    )
    return ranked.filter(F.col("rnk") <= 20)


@register(
    "quantile_normalize_doclen",
    oracle="""
    WITH d AS (
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS v FROM documents
    ),
    ranks AS (
        SELECT source, v,
               CAST(row_number() OVER (
                   PARTITION BY source ORDER BY v, doc_id) AS BIGINT) AS r,
               CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS ns
        FROM d
    ),
    hist AS (
        SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY v
    ),
    cum AS (
        SELECT v, cnt,
               CAST(sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS c_hi,
               CAST(sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                    - cnt AS BIGINT) AS c_lo,
               CAST(sum(cnt) OVER () AS BIGINT) AS n
        FROM hist
    ),
    pos AS (
        SELECT unnest(range(c_lo + 1, c_hi + 1)) AS k, v AS mapped FROM cum
    ),
    mapped AS (
        SELECT r.source, r.v,
               (r.r * (SELECT max(n) FROM cum) + r.ns - 1) // r.ns AS k
        FROM ranks r
    )
    SELECT m.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(m.v) AS BIGINT) AS sum_orig,
           CAST(sum(p.mapped) AS BIGINT) AS sum_mapped,
           CAST(sum(abs(m.v - p.mapped)) AS BIGINT) AS total_shift
    FROM mapped m JOIN pos p ON p.k = m.k
    GROUP BY m.source
    """,
)
def quantile_normalize_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of each source's document-length
    distribution onto the POOLED corpus distribution — the
    distribution-matching transform (microarray-normalization
    classic) a mixer applies so no source's length profile skews a
    training batch: a doc at within-source rank r of n_s maps to the
    pooled order statistic at position ceil(r*N/n_s). All positions
    are integers; the k-th pooled value comes from exploding the
    value histogram's cumulative slot ranges, never from sorting the
    corpus twice. Per-source report: total displacement and mapped
    mass (the transform audit).

    100 TB: per-source ranks are one partitioned sort (the operation
    IS an order statistic); the pooled side is histogram-sized until
    the position explode, which is one row per document — corpus
    -sized but map-only — followed by a single equi-join on position.
    """
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("bigint").alias("v")
    )
    ranks = d.select(
        "source",
        "v",
        F.row_number()
        .over(Window.partitionBy("source").orderBy("v", "doc_id"))
        .cast("bigint")
        .alias("r"),
        F.count("*")
        .over(Window.partitionBy("source"))
        .cast("bigint")
        .alias("ns"),
    )
    hist = (
        d.groupBy("v")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .localCheckpoint()  # value-cardinality-sized; two consumers
        # (cum + n_total) would each re-scan the corpus otherwise
    )
    wc = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "v",
        "cnt",
        F.sum("cnt").over(wc).alias("c_hi"),
        (F.sum("cnt").over(wc) - F.col("cnt")).alias("c_lo"),
    )
    # total count off the HISTOGRAM, not a third corpus scan
    n_total = hist.agg(F.sum("cnt").cast("bigint").alias("n"))
    pos = cum.select(
        F.explode(
            F.sequence(F.col("c_lo") + 1, F.col("c_hi"))
        ).alias("k"),
        F.col("v").alias("mapped"),
    )
    mapped = ranks.crossJoin(F.broadcast(n_total)).select(
        "source",
        "v",
        F.expr("(r * n + ns - 1) div ns").alias("k"),
    )
    return (
        mapped.join(pos, "k")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("v").cast("bigint").alias("sum_orig"),
            F.sum("mapped").cast("bigint").alias("sum_mapped"),
            F.sum(F.abs(F.col("v") - F.col("mapped")))
            .cast("bigint")
            .alias("total_shift"),
        )
    )


@register(
    "lexical_diversity_by_source",
    oracle="""
    WITH toks AS (
        SELECT source, unnest(string_split(
            trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS w
        FROM documents
    ),
    wf AS (
        SELECT source, w, CAST(count(*) AS BIGINT) AS c
        FROM toks WHERE w <> '' GROUP BY source, w
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(count(*) * 1000000 // sum(c) AS BIGINT) AS ttr_ppm,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS hapax_share_ppm
    FROM wf GROUP BY source
    """,
)
def lexical_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity screen per source: type-token ratio (distinct
    words / total words) and hapax-legomena share (words occurring
    once / vocabulary size), both exact ppm — the cheap stylometric
    quality signals (template/boilerplate text has low TTR; OCR noise
    and gibberish inflate hapax share) that complement the
    surface-statistics and model-based quality families.

    100 TB: one token explode into a (source, word) count — the
    word_frequencies shuffle keyed by source — then a map-combined
    per-source rollup over the vocabulary frame. TTR depends on
    corpus size (documented; compare like-sized slices), which is why
    the report keeps raw n_tokens/n_types next to the ratios.
    """
    from .functions.text import normalize_text

    docs = t(spark, sf_dir, "documents")
    wf = (
        docs.select(
            "source",
            F.explode(
                F.split(normalize_text(F.col("text")), " ")
            ).alias("w"),
        )
        .filter(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    return wf.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_types"),
        F.expr(
            "CAST(count(*) * CAST(1000000 AS BIGINT) div sum(c) AS BIGINT)"
        ).alias("ttr_ppm"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hapax"),
        F.expr(
            "CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)"
            " * CAST(1000000 AS BIGINT) div count(*) AS BIGINT)"
        ).alias("hapax_share_ppm"),
    )


@register(
    "matview_agg_delta_refresh",
    oracle="""
    SELECT event_type,
           CAST(epoch_ms(date_trunc('hour', ts)) AS BIGINT) AS hour_ms,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_v
    FROM events
    WHERE (event_id % 7 <> 0 AND event_id % 11 <> 3) OR event_id % 7 = 0
    GROUP BY 1, 2
    """,
)
def matview_agg_delta_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental AGGREGATE-view maintenance
    (operators/matview.py::maintain_agg_mv): the hourly per-type
    count/sum rollup is first built over the "loaded" history
    (event_id % 7 != 0), then maintained through ONE signed delta
    batch containing both inserts (the % 7 == 0 arrivals, +1) and
    deletes (the % 11 == 3 slice of loaded history retracted, -1 —
    a GDPR-erasure/correction replay). The maintained view MUST equal
    the full recompute over (loaded - deletes) ∪ inserts — the
    oracle IS that recompute; keys whose count reaches zero must
    vanish. COUNT/SUM are the self-maintainable aggregates; the
    docstring of the operator records why MIN/MAX stay out.

    100 TB: the refresh cost is the DELTA rollup plus a
    view-cardinality outer merge — the loaded history is never
    re-read; pair this with the join-IVM (matview_join_delta_refresh)
    for the standard warehouse rollup chain.
    """
    from .operators.matview import maintain_agg_mv

    ev = t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        (F.unix_timestamp(F.date_trunc("hour", "ts")) * 1000).alias(
            "hour_ms"
        ),
        F.expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)").alias("__v"),
    )
    loaded = ev.filter(F.col("event_id") % 7 != 0)
    mv = loaded.groupBy("event_type", "hour_ms").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("__v").cast("bigint").alias("sum_v"),
    )
    inserts = ev.filter(F.col("event_id") % 7 == 0).withColumn(
        "__sign", F.lit(1)
    )
    deletes = loaded.filter(F.col("event_id") % 11 == 3).withColumn(
        "__sign", F.lit(-1)
    )
    delta = inserts.unionByName(deletes)
    return maintain_agg_mv(
        mv, delta, ["event_type", "hour_ms"]
    )
