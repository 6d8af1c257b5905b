"""[EXT] Document deduplication operators for LLM-training-data pipelines.

Five families, all pure DataFrame compositions (no Python in the hot
path) using portable hash primitives (md5 — identical in DuckDB) so the
driver's oracle can value-check them:

- exact:        hash-groupBy on normalized text, keep min doc_id
- minhash LSH:  word-shingles → k md5 minhashes → bands → bucket
                self-join → exact-Jaccard verify
- simhash:      per-token 60-bit hash → bitwise majority vote → 16-bit
                fingerprint; near-dups = same fingerprint
- n-gram Jaccard: exact set similarity on shingle sets for candidate
                pairs
- embedding near-dup: cosine ≥ threshold over normalized embeddings

Scale design (100 TB): every stage is a map or a single hash shuffle.
MinHash bands replace the quadratic all-pairs comparison with
``#bands`` hash-partitioned self-joins whose buckets are tiny; the
exact-verify join only touches candidate pairs. Skewed buckets (boiler-
plate shingles) are handled by AQE skew-join splitting; a bucket-size
cap (``max_bucket``) guards the pathological all-identical case.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import hash60, normalize_text  # noqa: F401  (re-export)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row per distinct normalized text — the kept id is the
    minimum (deterministic; ``id_col`` is assumed unique, the PK
    contract every caller satisfies).

    Shape (r11): ONE ``min_by(struct(row), id)`` aggregate keyed on
    the 16-byte md5 — one scan of the input and one PARTIALLY-COMBINED
    shuffle (hot duplicate groups collapse map-side before the wire,
    so a text duplicated a billion times ships one row per map task —
    the skew robustness dedup inputs specifically need). Replaces the
    r6–r10 groupBy-min + left-semi-join-back dataflow, which evaluated
    the input TWICE (the same double-evaluation class as the r11
    gapfill/anomaly finds — on the registered doubled-corpus query
    that meant 4 scans) and paid a second full-row shuffle on the id:
    measured 1.15 → 0.55 s at sf0.1, results identical (bitwise twin
    pinned in test_exact_dedup_minby_equals_semijoin_form)."""
    h = F.md5(normalize_text(F.col(text_col))).alias("__h")
    cols = df.columns
    return (
        df.select(h, F.struct(*cols).alias("__row"), F.col(id_col).alias("__id"))
        .groupBy("__h")
        .agg(F.min_by("__row", "__id").alias("__row"))
        .select("__row.*")
    )


def shingles(col, n: int = 3):
    """Distinct word n-gram set (array<string>) of the normalized text.
    transform over a sequence of start offsets — JVM higher-order
    functions, no explode shuffle. The split-words array is lambda-bound
    so the regexp+split runs once per row, not once per shingle."""
    from ..functions import bind_once

    words = F.split(normalize_text(col), " ")

    def _sh(ws):
        n_sh = F.greatest(F.size(ws) - (n - 1), F.lit(1))
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), n_sh - 1),
                # try_element_at: NULL (skipped by concat_ws) past the end
                # for docs shorter than n words — ANSI element_at throws
                lambda i: F.concat_ws(
                    " ",
                    *[
                        F.try_element_at(ws, (i + j + 1).cast("int"))
                        for j in range(n)
                    ],
                ),
            )
        )

    return bind_once(words, _sh)


def minhash_signature(shingle_col, num_hashes: int = 8):
    """k minhash values: min over shingles of md5-60bit(seed || shingle).
    Seeded by prefixing the shingle — portable to any engine with md5.

    SPEC REFERENCE ONLY — the pipeline computes the identical values
    via explode + min-aggregates (see minhash_lsh_pairs): this
    transform-over-lambda form was observed mis-evaluating in long
    many-query sessions (round-4 note in BASELINE.md). Do not put it
    back on the hot path without re-verifying that note."""
    return F.array(
        *[
            F.array_min(
                F.transform(
                    shingle_col, lambda s, j=j: hash60(F.concat(F.lit(f"{j}|"), s))
                )
            ).alias(f"mh{j}")
            for j in range(num_hashes)
        ]
    )


def minhash_sign(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Materialize the MinHash sign stage ONCE for reuse across several
    bandings: returns an eagerly localCheckpointed frame
    ``(__id, __sh, __mh0..__mh{n-1})`` — shingle set plus the full
    signature — built with the exact expressions of
    :func:`minhash_lsh_pairs` (same salted hash60 min-aggregates, so
    signatures are bit-identical to the inline path's).

    Why it exists (round 9, lsh_recall_audit): a banding parameter
    sweep (the S-curve audit an operator runs before committing a
    100 TB dedup to b×r) calls minhash_lsh_pairs once per banding —
    each call re-scanning the corpus and re-computing shingles +
    signatures. At 100 TB the sign stage IS the dominant cost (full
    corpus scan + explode + map-combined shuffle); sign-once/band-K×
    makes the sweep's marginal banding cost just the band shuffle.
    Pass the result as ``presigned=`` to :func:`minhash_lsh_pairs`.
    """
    spark = df.sparkSession
    src = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__txt"))
    target = spark.sparkContext.defaultParallelism * 2
    if src.rdd.getNumPartitions() < target:
        src = src.repartition(target, "__id")
    # Eager checkpoint BEFORE the signature aggregate (ADVICE r9):
    # both the min-agg and the join below consume sh_df, so without it
    # the lambda-bearing shingle HOF evaluates twice inside one job —
    # the documented round-4 hazard (context-dependent HOF evaluation
    # in long sessions) could let the signature and the verify shingle
    # set disagree WITHIN one signed frame. Mirrors the inline path.
    sh_df = src.select(
        "__id", shingles(F.col("__txt"), shingle_n).alias("__sh")
    ).localCheckpoint(eager=True)
    salted_mins = [
        F.min(hash60(F.concat(F.lit(f"{j}|"), F.col("__s")))).alias(f"__mh{j}")
        for j in range(num_hashes)
    ]
    mh = (
        sh_df.select("__id", F.explode("__sh").alias("__s"))
        .groupBy("__id")
        .agg(*salted_mins)
    )
    # a second eager checkpoint of the JOINED frame: the per-banding
    # consumers read materialized blocks only — without it every
    # banding would re-run the signature shuffle, the exact cost
    # sign-once exists to pay once. sh_df's blocks are reclaimed by
    # the ContextCleaner once this function returns.
    signed = sh_df.join(mh, "__id").localCheckpoint(eager=True)
    # Stamp the sign parameters on the frame (schema metadata — free
    # to read, survives checkpoint): minhash_lsh_pairs(presigned=)
    # validates them so a shingle_n/num_hashes mismatch fails loudly
    # instead of silently producing wrong pairs (ADVICE r9).
    return signed.withMetadata(
        "__sh", {"shingle_n": shingle_n, "num_hashes": num_hashes}
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    band_size: int = 2,
    jaccard_threshold: float = 0.5,
    shingle_n: int = 3,
    max_bucket: int = 1000,
    presigned: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash-LSH, verified
    with exact Jaccard over shingle sets.

    Returns (id_a, id_b, jaccard) with id_a < id_b, distinct. The
    all-pairs O(n²) comparison is replaced by ``num_hashes/band_size``
    equi-joins on band keys; only same-bucket pairs are verified.
    ``max_bucket`` drops degenerate buckets (e.g. empty-text boilerplate)
    that would re-create the quadratic blowup.

    ``presigned``: optional output of :func:`minhash_sign` (same
    ``num_hashes``/``shingle_n``) — skips the shingle+signature stage
    so a banding sweep signs the corpus once. Output is bit-identical
    either way (pytest-pinned); when omitted, the inline plan is
    unchanged from pre-round-9 (it backs attested benched queries).
    """
    if presigned is not None:
        _validate_presigned(presigned, num_hashes, shingle_n)
        return _lsh_pairs_from_signed(
            presigned, num_hashes, band_size, jaccard_threshold, max_bucket
        )
    n_bands = num_hashes // band_size
    spark = df.sparkSession
    src = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__txt"))
    # Small-file inputs arrive as 1-2 partitions; the shingle+signature
    # stage is compute-bound, so fan it out. At real scale the input is
    # already wide and this is a no-op.
    target = spark.sparkContext.defaultParallelism * 2
    if src.rdd.getNumPartitions() < target:
        src = src.repartition(target, "__id")
    # Shingle sets are reused three times (banding + both verify probes)
    # and cost ~10 ms/doc to build — materialize once, don't recompute.
    # localCheckpoint (not persist): same MEMORY_AND_DISK storage, but
    # the blocks are reclaimed by the ContextCleaner as soon as the RDD
    # is garbage collected — persist() registers a CacheManager entry
    # nothing ever unpersists, which accumulates full shingle copies
    # across repeated calls (bench loops, long sessions) until eviction
    # thrash sets in (measured 2.2× on the benched query at 4 reps).
    # eager=True (round-4 hardening): a LAZY localCheckpoint leaves a
    # window where the ContextCleaner can race the first materialization
    # in long many-query sessions (observed once in a full-registry
    # sf0.1 sweep as a benign accumulator-GC error alongside ONE
    # wrong-by-one-pair result; eager materialization closes the window
    # and costs nothing - the same job computes the blocks either way).
    sh_df = src.select(
        "__id", shingles(F.col("__txt"), shingle_n).alias("__sh")
    ).localCheckpoint(eager=True)
    # band key = "band_index|mh_i|mh_i+1..." string — one row per band;
    # bands carry ONLY (id, band): the shingle arrays stay out of the
    # band shuffle and join back by id at verify time.
    #
    # Signature via explode + plain min-aggregates, NOT the
    # minhash_signature transform (round-4 wrong-results fix): after
    # ~70 registry queries in one session, nested higher-order lambda
    # evaluation was observed returning context-dependent garbage for
    # that expression — same text, same plan, DIFFERENT signature
    # values per evaluation, reproduced deterministically by replaying
    # the registry prefix at sf0.1 (fresh sessions and the DuckDB
    # oracle agree with each other; the polluted session loses real
    # pairs). Plain expressions (md5/concat/min) carry no lambda
    # binding to corrupt. Cost: one extra map-combined shuffle whose
    # rows are (id, 8 mins) — scale-safe; the signature stays
    # bit-identical to minhash_signature's spec.
    salted_mins = [
        F.min(hash60(F.concat(F.lit(f"{j}|"), F.col("__s")))).alias(f"__mh{j}")
        for j in range(num_hashes)
    ]
    mh = (
        sh_df.select("__id", F.explode("__sh").alias("__s"))
        .groupBy("__id")
        .agg(*salted_mins)
    )
    bands = mh.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        F.lit(str(b)),
                        *[
                            F.col(f"__mh{b * band_size + i}").cast("string")
                            for i in range(band_size)
                        ],
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("__band"),
    )
    # One shuffle groups each bucket; expansion to id pairs happens
    # inside the row (sorted ids → (i, j>i) combinations), with the
    # pathological-bucket guard applied before any quadratic work.
    buckets = (
        bands.groupBy("__band")
        .agg(F.array_sort(F.collect_list("__id")).alias("__ids"))
        .filter((F.size("__ids") >= 2) & (F.size("__ids") <= max_bucket))
    )
    # Pair expansion with ZERO lambda expressions (round-6: the last
    # 2-level nested transform on any checked path is gone — BASELINE.md
    # round-4 nested-lambda hazard class): posexplode each sorted
    # bucket into (position, id_a), then explode the suffix slice for
    # id_b > id_a. slice() past the array end yields an empty array and
    # explode drops that row, so the last element pairs with nothing —
    # exactly the (i, j>i) combinations the nested transform produced.
    # Row counts are identical (the cap already bounded the quadratic),
    # and the plan stays whole-stage-codegen generate nodes.
    pairs = (
        buckets.select(
            F.col("__ids"), F.posexplode("__ids").alias("__i", "id_a")
        )
        .select(
            "id_a",
            F.explode(
                F.slice("__ids", F.col("__i") + F.lit(2), F.size("__ids"))
            ).alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    verified = pairs.join(
        sh_df.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sh_a")),
        "id_a",
    ).join(
        sh_df.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__sh_b")),
        "id_b",
    )
    inter = F.size(F.array_intersect("__sh_a", "__sh_b")).cast("double")
    union = (F.size("__sh_a") + F.size("__sh_b")).cast("double") - inter
    return (
        verified.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _validate_presigned(
    presigned: DataFrame, num_hashes: int, shingle_n: int
) -> None:
    """Fail loudly when a ``presigned`` frame was built with different
    sign parameters than the banding call assumes (ADVICE r9): a
    shingle_n mismatch — or a signed frame from another corpus/column
    shape — previously produced WRONG PAIRS silently; only a
    num_hashes mismatch that referenced a missing __mh column failed.
    Checks the minhash_sign metadata stamp (schema-only, no job) and
    the exact __mh column span."""
    cols = set(presigned.columns)
    missing = {"__id", "__sh"} - cols
    if missing:
        raise ValueError(
            f"presigned frame is missing {sorted(missing)} — pass the"
            " output of minhash_sign(), not an arbitrary DataFrame"
        )
    if f"__mh{num_hashes - 1}" not in cols or f"__mh{num_hashes}" in cols:
        have = sorted(
            int(c[4:]) for c in cols if c.startswith("__mh") and c[4:].isdigit()
        )
        raise ValueError(
            f"presigned frame carries __mh columns {have} but the call"
            f" expects num_hashes={num_hashes} (__mh0..__mh{num_hashes - 1})"
            " — re-sign with matching num_hashes"
        )
    meta = presigned.schema["__sh"].metadata or {}
    for key, expect in (("shingle_n", shingle_n), ("num_hashes", num_hashes)):
        if key not in meta:
            raise ValueError(
                "presigned frame has no minhash_sign parameter stamp on"
                " __sh — re-sign with minhash_sign() (frames signed"
                " before round 10 must be rebuilt)"
            )
        if int(meta[key]) != expect:
            raise ValueError(
                f"presigned frame was signed with {key}={int(meta[key])}"
                f" but the banding call expects {key}={expect}"
            )


def _lsh_pairs_from_signed(
    signed: DataFrame,
    num_hashes: int,
    band_size: int,
    jaccard_threshold: float,
    max_bucket: int,
) -> DataFrame:
    """Banding + bucket pair expansion + exact-Jaccard verify from a
    :func:`minhash_sign` frame — the same expressions as the inline
    path of :func:`minhash_lsh_pairs` (band key strings, sorted-bucket
    posexplode/slice expansion, array_intersect verify), minus the
    sign stage. Kept textually parallel to the inline path; any edit
    there must land here too (the bitwise-equality pytest pins it)."""
    n_bands = num_hashes // band_size
    sh_df = signed.select("__id", "__sh")
    bands = signed.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        F.lit(str(b)),
                        *[
                            F.col(f"__mh{b * band_size + i}").cast("string")
                            for i in range(band_size)
                        ],
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("__band"),
    )
    buckets = (
        bands.groupBy("__band")
        .agg(F.array_sort(F.collect_list("__id")).alias("__ids"))
        .filter((F.size("__ids") >= 2) & (F.size("__ids") <= max_bucket))
    )
    pairs = (
        buckets.select(
            F.col("__ids"), F.posexplode("__ids").alias("__i", "id_a")
        )
        .select(
            "id_a",
            F.explode(
                F.slice("__ids", F.col("__i") + F.lit(2), F.size("__ids"))
            ).alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    verified = pairs.join(
        sh_df.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sh_a")),
        "id_a",
    ).join(
        sh_df.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__sh_b")),
        "id_b",
    )
    inter = F.size(F.array_intersect("__sh_a", "__sh_b")).cast("double")
    union = (F.size("__sh_a") + F.size("__sh_b")).cast("double") - inter
    return (
        verified.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_pairs_multiband(
    signed: DataFrame,
    num_hashes: int,
    band_specs: dict[str, int],
    jaccard_threshold: float,
    shingle_n: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Several bandings of ONE :func:`minhash_sign` frame in a single
    banding pass: returns tagged pairs ``(__tag, id_a, id_b, jaccard)``
    where filtering on ``__tag == t`` yields EXACTLY the output of
    ``minhash_lsh_pairs(presigned=signed, band_size=band_specs[t])``
    (pytest-pinned).

    Why (r14, guide §2.4 — the banding-parameter-sweep shape): a sweep
    over K bandings ran K full banding pipelines off the shared signed
    frame — K band shuffles, K bucket groupings, K pair-dedup
    exchanges, K double verify joins. The rows those K pipelines
    shuffle are disjoint by construction (each carries its banding's
    band keys), so ONE pipeline over leg-tagged band structs moves the
    same bytes through ONE shuffle per stage. Per-leg semantics are
    preserved exactly because ``__tag`` rides in every key: buckets
    group by (tag, band) — identical per-leg bucket populations, so
    the ``max_bucket`` degenerate-bucket cap fires per leg exactly as
    before — pair dedup keys on (tag, id_a, id_b), and the verify
    expressions are the single-leg ones verbatim. Kept textually
    parallel to :func:`_lsh_pairs_from_signed`; any edit there must
    land here too (the equality pytest pins it).
    """
    _validate_presigned(signed, num_hashes, shingle_n)
    sh_df = signed.select("__id", "__sh")
    structs = []
    for tag, band_size in band_specs.items():
        n_bands = num_hashes // band_size
        for b in range(n_bands):
            structs.append(
                F.struct(
                    F.lit(tag).alias("__tag"),
                    F.concat_ws(
                        "|",
                        F.lit(str(b)),
                        *[
                            F.col(f"__mh{b * band_size + i}").cast("string")
                            for i in range(band_size)
                        ],
                    ).alias("__band"),
                )
            )
    bands = signed.select(
        "__id", F.explode(F.array(*structs)).alias("__tb")
    ).select(
        "__id",
        F.col("__tb.__tag").alias("__tag"),
        F.col("__tb.__band").alias("__band"),
    )
    buckets = (
        bands.groupBy("__tag", "__band")
        .agg(F.array_sort(F.collect_list("__id")).alias("__ids"))
        .filter((F.size("__ids") >= 2) & (F.size("__ids") <= max_bucket))
    )
    pairs = (
        buckets.select(
            "__tag", F.col("__ids"), F.posexplode("__ids").alias("__i", "id_a")
        )
        .select(
            "__tag",
            "id_a",
            F.explode(
                F.slice("__ids", F.col("__i") + F.lit(2), F.size("__ids"))
            ).alias("id_b"),
        )
        .dropDuplicates(["__tag", "id_a", "id_b"])
    )
    verified = pairs.join(
        sh_df.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sh_a")),
        "id_a",
    ).join(
        sh_df.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__sh_b")),
        "id_b",
    )
    inter = F.size(F.array_intersect("__sh_a", "__sh_b")).cast("double")
    union = (F.size("__sh_a") + F.size("__sh_b")).cast("double") - inter
    return (
        verified.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("__tag", "id_a", "id_b", "jaccard")
    )


def minhash_lsh_pairs_incremental(
    df: DataFrame,
    text_col: str,
    id_col: str,
    new_col: str,
    num_hashes: int = 8,
    band_size: int = 2,
    jaccard_threshold: float = 0.5,
    shingle_n: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Incremental near-dup pairs: only pairs TOUCHING the new batch
    (``new_col`` boolean marks new docs) against the full corpus — the
    production shape for continuous crawls, where intra-corpus pairs
    were already found in earlier runs and must not be re-derived.

    Same signature/band/cap/verify contract as ``minhash_lsh_pairs``
    (identical hashes, identical max_bucket guard), but pair
    expansion is anchored on the NEW side — each bucket expands only
    (new doc) × (bucket member) combinations — so the quadratic term
    is |new| × bucket, never |corpus| × bucket. Returns
    (id_a, id_b, jaccard), id_a < id_b, distinct, each pair
    containing ≥1 new doc.

    r14 shape (guide §2.4): one band shuffle with in-bucket expansion
    — the sorted id array plus its new-id subset are collected per
    band and new-anchored pairs expand in-row, exactly like the full
    path's posexplode+slice form. The previous join form (new-side ×
    index equi-join on __band) spent two extra joins (recovering the
    __new flag; re-attaching the ≤max_bucket filter) and an extra
    eager-checkpoint job barrier for the same pair set.

    100 TB: the corpus side's (id, band) rows and shingle sets are
    exactly what a persisted dedup index stores — in production they
    are READ, not recomputed (the ANN partitioned-codes append
    analog); the harness recomputes both sides because the parquet
    tables are its only input. Each run then pays: new-batch
    signatures + one band join against the index + verify joins that
    touch only candidate ids.
    """
    # shared signature pipeline (_shingle_band_frames — the same
    # expressions build the persisted index, so index probes stay
    # probe-compatible by construction, not by parallel maintenance;
    # the bit-identity is additionally pinned by the lifecycle pytest)
    sh_df, bands = _shingle_band_frames(
        df,
        text_col,
        id_col,
        num_hashes,
        band_size,
        shingle_n,
        extra_cols={"__new": new_col},
    )
    # One band shuffle; the ≤max_bucket cap counts EVERY bucket member
    # (old and new — identical to the former count-then-join form), and
    # collect_list skips the nulls of the when(), so __new_ids is the
    # bucket's new-doc subset.
    buckets = (
        bands.groupBy("__band")
        .agg(
            F.array_sort(F.collect_list("__id")).alias("__ids"),
            F.array_sort(
                F.collect_list(F.when(F.col("__new"), F.col("__id")))
            ).alias("__new_ids"),
        )
        .filter(
            (F.size("__ids") <= max_bucket) & (F.size("__new_ids") >= 1)
        )
    )
    cand = (
        buckets.select(
            F.explode("__new_ids").alias("__id_n"), F.col("__ids")
        )
        .select("__id_n", F.explode("__ids").alias("__id_o"))
        .filter(F.col("__id_n") != F.col("__id_o"))
        .select(
            F.least("__id_n", "__id_o").alias("id_a"),
            F.greatest("__id_n", "__id_o").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    verified = cand.join(
        sh_df.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sh_a")),
        "id_a",
    ).join(
        sh_df.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__sh_b")),
        "id_b",
    )
    inter = F.size(F.array_intersect("__sh_a", "__sh_b")).cast("double")
    union = (F.size("__sh_a") + F.size("__sh_b")).cast("double") - inter
    return (
        verified.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dedup(
    df: DataFrame, text_col: str, id_col: str, **kwargs
) -> DataFrame:
    """Dedup view: drop the higher id of every verified near-dup pair
    (greedy, deterministic; transitive chains collapse toward min id)."""
    pairs = minhash_lsh_pairs(df, text_col, id_col, **kwargs)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def simhash_fingerprint(text_col, bits: int = 16):
    """SimHash: per whitespace token take a 60-bit md5 hash; each of the
    low ``bits`` bit-positions votes +1/-1; fingerprint sets bits with a
    positive majority. Pure expression — no explode, no shuffle."""
    from ..functions import bind_once

    tokens = F.split(normalize_text(text_col), " ")
    th = F.transform(tokens, lambda w: hash60(w))

    def _merge_for_bit(b: int):
        # closure (not a default arg): pyspark requires exactly-2-param
        # merge lambdas for aggregate()
        def merge(acc, h):
            return acc + F.when(
                F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)

        return merge

    def _fp(hashes):
        # the per-token hash array is referenced by all ``bits``
        # aggregates — lambda-bound so split+md5 runs once, not 16×
        fp = F.lit(0).cast("bigint")
        for b in range(bits):
            vote = F.aggregate(hashes, F.lit(0).cast("bigint"), _merge_for_bit(b))
            fp = fp + F.when(vote > 0, F.lit(2**b).cast("bigint")).otherwise(F.lit(0))
        return fp

    return bind_once(th, _fp)


def simhash_groups(df: DataFrame, text_col: str, id_col: str, bits: int = 16) -> DataFrame:
    """Documents sharing a SimHash fingerprint (candidate near-dup
    clusters): returns (simhash, n_docs, min_id) per colliding group."""
    return (
        df.select(F.col(id_col), simhash_fingerprint(F.col(text_col), bits).alias("simhash"))
        .groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("min_id"))
        .filter(F.col("n_docs") > 1)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    pairs: DataFrame | None = None,
    n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs — the verification
    primitive, exposed standalone so its semantics are independently
    oracle-checkable.

    ``pairs``: a (id_a, id_b) DataFrame naming the pairs to score;
    defaults to consecutive ids (id, id+1) — a deterministic sample that
    touches every document once.
    """
    if pairs is None:
        pairs = df.select(
            F.col(id_col).alias("id_a"), (F.col(id_col) + 1).alias("id_b")
        ).join(
            df.select(F.col(id_col).alias("id_b")), "id_b", "left_semi"
        )
    sh = df.select(
        F.col(id_col).alias("__id"), shingles(F.col(text_col), n).alias("__sh")
    )
    joined = (
        pairs.join(
            sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sa")),
            "id_a",
        ).join(
            sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__sb")),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("double")
    union = (F.size("__sa") + F.size("__sb")).cast("double") - inter
    return joined.select(
        "id_a", "id_b", F.round(inter / union, 6).alias("jaccard")
    )


def bucket_corpus(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    max_bucket: int | None = None,
) -> DataFrame:
    """The near-dup LSH *index build*: (__id, __v, __bkt) with the
    hyperplane bucket id. Like an ANN index, this is computed once per
    corpus at ingest and queried many times — callers that probe
    repeatedly should persist the result (one bounded artifact per
    dataset; see queries_ext._NEARDUP_INDEX) or write it partitioned by
    ``__bkt`` like similarity.write_ivf_partitioned. Fans small
    single-file inputs out so the projection parallelizes.

    ``max_bucket`` applies the degenerate-bucket guard AT BUILD TIME
    (the ok-bucket list is ≤ 2^n_planes rows — broadcastable at any
    corpus size), so every later probe pays zero per-call counting."""
    from .similarity import hyperplane_bucket

    src = emb
    target = emb.sparkSession.sparkContext.defaultParallelism * 2
    if src.rdd.getNumPartitions() < target:
        src = src.repartition(target)
    bucketed = src.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        hyperplane_bucket(vec_col, n_planes, dim).alias("__bkt"),
    )
    if max_bucket is not None:
        ok = (
            bucketed.groupBy("__bkt")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") <= max_bucket)
            .select("__bkt")
        )
        bucketed = bucketed.join(F.broadcast(ok), "__bkt", "left_semi")
    return bucketed


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 0,
    dim: int = 64,
    max_bucket: int = 1000,
    bucketed: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥
    threshold). Brute-force all-pairs when ``n_planes=0``; otherwise
    candidate pairs come from shared random-hyperplane LSH buckets
    (2^n_planes of them — see similarity.hyperplane_bucket) — the
    100 TB path. ``dim`` must match the embedding width: the hyperplane
    constants are generated per dimension and a mismatch zips against
    NULLs.

    ``max_bucket`` mirrors the minhash guard: near-dup corpora are by
    definition duplicate-heavy, and identical vectors ALWAYS share a
    bucket, so a boilerplate cluster of m copies would otherwise emit
    m²/2 pairs inside one bucket (AQE skew-split rebalances the work
    but cannot shrink the pair count). Buckets above the cap are
    dropped BEFORE the self-join — same trade the minhash path makes:
    a degenerate all-identical cluster needs exact dedup, not pairwise
    scoring.

    ``bucketed``: a pre-built (and typically persisted/partitioned)
    :func:`bucket_corpus` frame — the index-probe path; the caller is
    expected to have applied the ``max_bucket`` guard at build time.
    When omitted the bucketing (guard included) is derived inline,
    which re-evaluates the projection on both join sides; fine for
    one-shot use, wasteful for repeated probes."""
    from ..functions.vectors import cosine_flat

    if n_planes:
        if bucketed is None:
            bucketed = bucket_corpus(
                emb, id_col, vec_col, n_planes, dim, max_bucket=max_bucket
            )
        a = bucketed.select(
            F.col("__id").alias("id_a"), F.col("__v").alias("__va"), "__bkt"
        )
        b = bucketed.select(
            F.col("__id").alias("id_b"), F.col("__v").alias("__vb"), "__bkt"
        )
        pairs = a.join(b, "__bkt").filter(F.col("id_a") < F.col("id_b"))
    else:
        a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
        b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
        # The pair comparison is compute-bound and inherits the (often
        # single-file) input partitioning — a cross join of 1×1 partitions
        # runs the whole O(n²) scoring on one core. Fan the probe side out.
        target = emb.sparkSession.sparkContext.defaultParallelism * 2
        if a.rdd.getNumPartitions() < target:
            a = a.repartition(target)
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn(
            # single-level flat fold — no nested lambda binding
            # (BASELINE.md round-4/round-5 notes)
            "cos", F.round(cosine_flat("__va", "__vb", dim), 6)
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def flag_contaminated(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: flag documents sharing any word
    ``n``-gram with a benchmark/eval corpus (the standard guard against
    test-set leakage into training data). Returns the distinct
    ``id_col`` values of contaminated documents.

    Scale design: the benchmark side is tiny relative to the corpus —
    its distinct gram HASHES (60-bit, not the gram strings) broadcast;
    the corpus side explodes to (doc_id, gram_hash) pairs and
    left-semi joins, so the only wide dataflow is a map + broadcast
    probe, no shuffle of document text. False-positive rate from
    60-bit hashing is negligible (~2⁻⁶⁰ per pair)."""
    bench_grams = (
        benchmark.select(
            F.explode(shingles(F.col(bench_text_col), n)).alias("__g")
        )
        .select(hash60(F.col("__g")).alias("__gh"))
        .distinct()
    )
    doc_grams = docs.select(
        F.col(id_col),
        F.explode(shingles(F.col(text_col), n)).alias("__g"),
    ).select(id_col, hash60(F.col("__g")).alias("__gh"))
    return (
        doc_grams.join(F.broadcast(bench_grams), "__gh", "left_semi")
        .select(id_col)
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over an undirected pair graph → (node,
    cluster_id) where cluster_id = the smallest node id reachable.
    Resolves LSH dup *pairs* into transitive dup *clusters* (A~B, B~C ⇒
    {A,B,C} even if A≁C directly).

    Algorithm: min-label propagation WITH pointer doubling — each round
    takes ``label(v) ← min(label(v), min_{u∈N(v)} label(u),
    label(label(v)))``. The neighbor step alone converges in
    graph-diameter rounds (a 1,000-node dup chain would need ~999);
    the ``label(label(v))`` jump halves remaining distances like the
    alternating large/small-star algorithm (Kiveris et al., "Connected
    Components in MapReduce and Beyond"), giving O(log n) rounds — the
    1,000-node path labels in ≲15 rounds (pinned in tests). Labels
    only ever copy node ids reachable through in-component edges, so
    the fixed point is exactly the component minimum.

    Each round is two hash joins + one min-aggregate over (node,
    label) pairs; ``localCheckpoint`` truncates lineage so plans stay
    O(1) per round. Non-convergence within ``max_iter`` raises rather
    than returning partial labels (2^25 ≫ any real diameter).

    Measured negative (r14, do not re-try): batching TWO propagation
    steps per checkpoint+convergence-count segment (halving the
    driver-visible jobs; labels are monotone so "segment changed" ≡
    final < segment-start) produced IDENTICAL labels but no
    reproducible win — quiet-host fresh-process A/B on the sf0.1
    DBSCAN core graph read best/median 3.86/3.94 s (per-step, this
    form) vs 4.07/4.16 s (segmented): the doubled-lineage checkpoint
    job costs what the saved count jobs gain. The per-step wall cost
    is the materialization work itself, not the job round-trips.

    Decision note — when to reach for full large-star/small-star
    instead: this operator keeps the EDGE set static (pinned in tests
    on a broom graph: high degree + long chains) and shrinks only the
    (node, label) frame's distance-to-root, which is the right trade
    for dup graphs — near-dup components are shallow and the edge
    frame is the big side. Large-star/small-star instead REWRITES the
    edge set every round toward a star; it converges in the same
    O(log n) rounds but each round shuffles and dedups a mutated edge
    frame. Choose it when components are so large that the final
    star's hub degree (all nodes of a component joined to one label
    row) skews the label join — i.e. billions of nodes in ONE
    component — and pair it with AQE skew-join splitting. Below that,
    static edges + pointer jumps do the same work with lighter rounds.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    e = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    e = e.localCheckpoint(eager=True)  # see minhash shingle note
    labels = (
        e.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(max_iter):
        nb_min = (
            e.join(labels, e["v"] == labels["node"])
            .select(e["u"].alias("node"), "label")
            .groupBy("node")
            .agg(F.min("label").alias("__nb"))
        )
        stepped = labels.join(nb_min, "node", "left").select(
            "node",
            F.col("label").alias("__old"),
            F.least(F.col("label"), F.coalesce("__nb", "label")).alias("label"),
        )
        # pointer jump: look up the label OF the label (labels form a
        # forest rooted at component minima; jumping compresses paths)
        hop = stepped.select(
            F.col("node").alias("label"), F.col("label").alias("__ll")
        )
        jumped = stepped.join(hop, "label", "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("__ll", "label")).alias("label"),
            (F.least(F.col("label"), F.coalesce("__ll", "label")) < F.col("__old"))
            .cast("int")
            .alias("__chg"),
        )
        jumped = jumped.localCheckpoint(eager=True)
        changed = jumped.agg(F.sum("__chg")).first()[0]
        labels = jumped.drop("__chg")
        if not changed:
            return labels.select("node", F.col("label").alias("cluster_id"))
    raise RuntimeError(f"connected_components: no convergence in {max_iter} rounds")


def winnow_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_shared: int = 20,
    max_postings: int = 50,
) -> DataFrame:
    """Containment/plagiarism candidate pairs via shared winnowing
    fingerprints: (id_a, id_b, n_shared) with id_a < id_b, for pairs
    sharing ≥ ``min_shared`` fingerprints (each shared fingerprint
    witnesses a shared ≥ k+w-1 = 11-char run — functions/text.py:157).

    Complements MinHash: Jaccard dilutes when a small document is
    CONTAINED in a large one, but the contained span's fingerprints
    still match exactly.

    Scale shape (mirrors minhash_lsh_pairs): the posting list carries
    only (id, fp) 16-byte rows; one shuffle groups each fingerprint's
    posting, the ``max_postings`` cap drops stop-gram postings (shared
    boilerplate) BEFORE the in-row quadratic pair expansion, and a
    second shuffle counts per pair. No self-join, no cartesian.
    """
    from ..functions.text import winnow_fingerprints

    spark = df.sparkSession
    src = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__txt"))
    target = spark.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < target:
        src = src.repartition(target, "__id")
    flat = src.select(
        "__id", F.explode(winnow_fingerprints(F.col("__txt"))).alias("__fp")
    )
    postings = (
        flat.groupBy("__fp")
        .agg(F.array_sort(F.collect_list("__id")).alias("__ids"))
        .filter((F.size("__ids") >= 2) & (F.size("__ids") <= max_postings))
    )
    # Pair expansion via posexplode + suffix slice — the same
    # zero-lambda rewrite as minhash_lsh_pairs above (this was the
    # LAST 2-level nested transform on a checked path; BASELINE.md
    # round-4 nested-lambda hazard class). slice() past the array end
    # is empty and explode drops the row, so each sorted posting list
    # yields exactly its (i, j>i) combinations.
    return (
        postings.select(
            F.col("__ids"), F.posexplode("__ids").alias("__i", "id_a")
        )
        .select(
            "id_a",
            F.explode(
                F.slice("__ids", F.col("__i") + F.lit(2), F.size("__ids"))
            ).alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def substring_dup_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    len_col: str,
    k: int = 30,
) -> DataFrame:
    """Exact duplicate-substring spans — the ExactSubstr dedup criterion
    of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better", arXiv:2107.06499), approximated relationally: every
    character k-gram of every document is md5-hashed; a gram occurring
    more than once corpus-wide (including self-repetition inside one
    document) marks its start position duplicated; per document,
    duplicated positions whose k-char windows overlap or touch chain
    into maximal spans. Returns one row per document holding at least
    one span: (id, n_spans, dup_chars, dup_ppm).

    Span accounting is the telescoping interval-union: a duplicated
    position contributes ``min(k, pos - prev_pos)`` characters (k when
    it opens a new span), so ``dup_chars`` is the exact union length of
    all [pos, pos+k-1] windows without materializing span ids — one
    window pass, no second per-span shuffle.

    Scale (100 TB): stride-1 char grams amplify rows ×(len-k) but each
    gram row shuffles only (8-byte xxhash64, id, int) — never the text,
    and the grams are BUILT ONCE: occurrence counts come from a
    count-over-window partitioned by the gram key, not a groupBy +
    join-back, so the corpus is scanned and hashed a single time. (The
    window buffers one gram group per key — boilerplate stop-grams
    make hot groups; they spill rather than split, the one trade vs
    the AQE-skew-splittable groupBy form.) Second shuffle is the
    per-document window. The true suffix-array algorithm is not
    distributable; production discovery at stride s>1 plus local
    verify reduces the amplification to ×(len/s) — the harness keeps
    s=1 so the DuckDB oracle is exact.
    """
    from pyspark.sql import Window

    src = df.select(
        F.col(id_col).alias("__id"),
        F.col(len_col).alias("__n"),
        F.col(text_col).alias("__txt"),
    ).filter(F.length("__txt") >= k)
    # xxhash64, not the portable md5/hash60: the gram key is a pure
    # GROUPING key that never reaches the output (the oracle groups by
    # the raw gram string — the same partition of the gram space absent
    # a 2^64 collision), so the fast native hash is free to use here.
    grams = src.select(
        "__id",
        "__n",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, length(__txt) - {k - 1}),"
                f" i -> xxhash64(substring(__txt, i, {k})))"
            )
        ).alias("__p0", "__g"),
    ).select("__id", "__n", (F.col("__p0") + 1).alias("__pos"), "__g")
    wg = Window.partitionBy("__g")
    hits = (
        grams.withColumn("__cnt", F.count("*").over(wg))
        .filter(F.col("__cnt") > 1)
        .select("__id", "__n", "__pos")
    )
    w = Window.partitionBy("__id").orderBy("__pos")
    gap = F.col("__pos") - F.lag("__pos").over(w)
    contrib = hits.select(
        "__id",
        "__n",
        F.when(gap <= k, F.lit(0)).otherwise(F.lit(1)).alias("__brk"),
        F.when(gap <= k, gap).otherwise(F.lit(k)).alias("__chars"),
    )
    return contrib.groupBy("__id").agg(
        F.sum("__brk").cast("bigint").alias("n_spans"),
        F.sum("__chars").cast("bigint").alias("dup_chars"),
        F.expr(
            "CAST(sum(__chars) * 1000000 div first(__n) AS BIGINT)"
        ).alias("dup_ppm"),
    ).withColumnRenamed("__id", id_col)


def _semdedup_pairs_jvm(v: DataFrame, dim: int, threshold: float) -> DataFrame:
    """The pre-round-9 per-label pair source: label self-join + one
    flat-fold dot per pair, norms hoisted out of the pair loop. Kept
    as the semantics reference the Arrow twin is pytest-pinned
    against (tests/test_ext_operators.py::
    test_semdedup_pairs_arrow_bitwise_equals_jvm); not on the query
    path — the HOF fold is interpreted per element, which made this
    leg the bench board's slowest row (~3.5 s of the 5.3 s total at
    harness scale for ~300k pair folds)."""
    from ..functions.vectors import dot_flat

    vn = v.withColumn("__nrm", F.sqrt(dot_flat("__v", "__v", dim)))
    a = vn.select(
        "__lbl",
        F.col("__id").alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("__nrm").alias("__na"),
    )
    b = vn.select(
        "__lbl",
        F.col("__id").alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("__nrm").alias("__nb"),
    )
    return (
        a.join(b, "__lbl")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.round(
                dot_flat("__va", "__vb", dim) / (F.col("__na") * F.col("__nb")),
                6,
            )
            >= threshold
        )
        .select("id_a", "id_b")
    )


def _semdedup_pairs_arrow(v: DataFrame, dim: int, threshold: float) -> DataFrame:
    """Round-9 Arrow twin of :func:`_semdedup_pairs_jvm` — the same
    per-label O(cluster²) pair scoring as a per-group NumPy batch loop
    (applyInPandas over labels) instead of an interpreted JVM HOF fold
    per pair. BIT-IDENTICAL output (pytest-pinned) via the r8 recipe
    (similarity.py::allpairs_threshold_arrow): per-element float→
    double upcast, SEQUENTIAL per-dimension accumulation mirroring
    dot_flat's left-associated IEEE order for both the dot and the
    norms, the same dot/(na·nb) rounding sequence, candidates
    forwarded within 1e-6 of the threshold AND NaN candidates
    forwarded too (Spark compares NaN ≥ threshold as TRUE, so the
    authoritative Spark-side F.round filter — identical to the JVM
    path's — must see them to decide identically), score grids
    chunked to the shared ~64 MB row block.

    Scale: parallelism is one task per label — exactly the key
    parallelism of the equi-join it replaces; the SemDeDup bargain
    (k chosen so clusters fit the budget) bounds per-task work the
    same way it bounded per-key join fan-out.

    NULL labels (ADVICE r9, medium): the JVM twin's equi-join drops
    NULL-label rows (equi-join keys never match on null), while
    applyInPandas would lump them into ONE group and score pairs among
    them — silently diverging on any corpus with unlabeled vectors.
    The explicit isNotNull filter below pins the Arrow path to the
    join semantics; the bitwise-equality pytest carries null-label
    rows to hold it.
    """
    from .similarity import _cos_grid, _row_block, _seq_norms

    out_schema = "id_a long, id_b long, __raw double"

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "__raw": []}).astype(
                {"id_a": "int64", "id_b": "int64", "__raw": "float64"}
            )
        ids = pdf["__id"].to_numpy(dtype="int64")
        mat = np.stack([np.asarray(x, dtype="float64") for x in pdf["__v"]])
        nrm = _seq_norms(mat, dim)  # mirrors dot_flat(v, v)
        parts = []
        block = _row_block(n)
        for lo in range(0, n, block):
            hi = min(lo + block, n)
            # cache-blocked sequential fold (similarity._cos_grid, r12)
            # — bitwise identical to the retired per-dimension
            # full-grid accumulation; mirrors dot_flat(a, b)
            cos = _cos_grid(mat[lo:hi], nrm[lo:hi], mat, nrm, dim)
            keep = (
                (cos >= threshold - 1e-6) | np.isnan(cos)
            ) & (ids[lo:hi, None] < ids[None, :])
            bi, qi = np.nonzero(keep)
            parts.append(
                pd.DataFrame(
                    {
                        "id_a": ids[lo:hi][bi],
                        "id_b": ids[qi],
                        "__raw": cos[bi, qi],
                    }
                )
            )
        return pd.concat(parts, ignore_index=True)

    cand = (
        v.filter(F.col("__lbl").isNotNull())
        .select("__lbl", "__id", "__v")
        .groupBy("__lbl")
        .applyInPandas(score_group, out_schema)
    )
    return (
        cand.filter(F.round(F.col("__raw"), 6) >= threshold)
        .select("id_a", "id_b")
    )


def semdedup_report(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int = 64,
    threshold: float = 0.45,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication scoped to embedding clusters. Within each cluster
    (the ``label_col`` assignment — k-means in the paper; its quality
    is auditable via label_centroid_inertia), vectors whose pairwise
    cosine ≥ ``threshold`` form duplicate groups (transitive closure);
    each group keeps ONE representative — the member with the LOWEST
    cosine to the cluster centroid (the paper's keep-rule: the least
    prototypical example carries the most marginal information),
    vec-id tiebreak. Returns one row per cluster: (label, n_vecs,
    n_dup_groups, n_pruned, kept_ids_sum) — kept_ids_sum witnesses the
    keep-rule itself, not just the group counts.

    Numeric discipline: centroids are per-dim e6 fixed-point integer
    means (floor of an exact double quotient — both engines hit the
    same IEEE ops), centroid-cosine = exact integer dot / double
    sqrt-norms, snapped to e6 before ranking, so the keep-rule ordering
    is engine-portable; pair cosine is the flat-fold double with the
    established round-6 grid.

    Scale (100 TB): THE SemDeDup bargain — clustering bounds the
    quadratic. The only non-linear stage is the per-label self-join,
    O(Σ cluster²); k is chosen so clusters fit that budget, and AQE
    skew-split rebalances uneven ones. The centroid table is k×dim
    rows (broadcast); transitive grouping is the pointer-doubling CC
    (O(log n) rounds); the keep-rule is one per-group window.
    """
    from pyspark.sql import Window

    # One materialization of the projected corpus: downstream consumers
    # (centroid explode, centroid-cosine join, pair scorer, final
    # per-label counts) otherwise EACH re-derive the input — 8 scans of
    # the (possibly synthesized/unioned) corpus per run at any scale
    # (round-9 plan audit). Same eager-localCheckpoint rationale as
    # minhash_lsh_pairs' shingle frame.
    v = emb.select(
        F.col(id_col).alias("__id"),
        F.col(label_col).alias("__lbl"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).localCheckpoint(eager=True)
    vals = v.select(
        "__id",
        "__lbl",
        F.posexplode("__v").alias("__p0", "__x"),
    ).select(
        "__id",
        "__lbl",
        (F.col("__p0") + 1).alias("__pos"),
        F.expr("CAST(floor(__x * 1000000 + 0.5) AS BIGINT)").alias("__ve6"),
    )
    cent = vals.groupBy("__lbl", "__pos").agg(
        F.expr(
            "CAST(floor(CAST(sum(__ve6) AS DOUBLE) / count(*)) AS BIGINT)"
        ).alias("__ce6")
    )
    cnorm = cent.groupBy("__lbl").agg(
        F.sum(F.col("__ce6") * F.col("__ce6")).alias("__cn")
    )
    ccos = (
        vals.join(F.broadcast(cent), ["__lbl", "__pos"])
        .groupBy("__id", "__lbl")
        .agg(
            F.sum(F.col("__ve6") * F.col("__ce6")).alias("__num"),
            F.sum(F.col("__ve6") * F.col("__ve6")).alias("__vn"),
        )
        .join(F.broadcast(cnorm), "__lbl")
        .select(
            "__id",
            "__lbl",
            F.expr(
                "CAST(floor(CASE WHEN __vn = 0 OR __cn = 0 THEN 0.0"
                " ELSE CAST(__num AS DOUBLE)"
                " / (sqrt(CAST(__vn AS DOUBLE)) * sqrt(CAST(__cn AS DOUBLE)))"
                " END * 1000000 + 0.5) AS BIGINT)"
            ).alias("__cce6"),
        )
    )
    pairs = _semdedup_pairs_arrow(v, dim, threshold)
    labels = connected_components(pairs)
    w = Window.partitionBy("cluster_id").orderBy("__cce6", "__id")
    members = (
        labels.join(ccos, labels.node == ccos.__id)
        .select("__id", "__lbl", "cluster_id", "__cce6")
        .withColumn("__rn", F.row_number().over(w))
    )
    grp = members.groupBy("__lbl").agg(
        F.countDistinct("cluster_id").alias("__g"),
        (F.count("*") - F.countDistinct("cluster_id")).alias("__p"),
        F.sum(F.when(F.col("__rn") == 1, F.col("__id")).otherwise(0)).alias("__k"),
    )
    return (
        v.groupBy("__lbl")
        .agg(F.count("*").cast("bigint").alias("n_vecs"))
        .join(grp, "__lbl", "left")
        .select(
            F.col("__lbl").alias(label_col),
            "n_vecs",
            F.coalesce("__g", F.lit(0)).cast("bigint").alias("n_dup_groups"),
            F.coalesce("__p", F.lit(0)).cast("bigint").alias("n_pruned"),
            F.coalesce("__k", F.lit(0)).cast("bigint").alias("kept_ids_sum"),
        )
    )


def prefix_filter_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    t_num: int,
    t_den: int,
    shingle_n: int = 3,
) -> DataFrame:
    """EXACT Jaccard ≥ t_num/t_den shingle-set self-join via AllPairs
    prefix filtering (Xiao et al., WWW'08 — the deterministic
    complement to the probabilistic MinHash banding above): order
    tokens by ascending global frequency; a pair at threshold t MUST
    share a token within each side's first n - ceil(t·n) + 1 rarest
    tokens, so the candidate join runs over rare-token posting lists
    only. Returns (doc_a, doc_b, jac_ppm) with doc_a < doc_b,
    jac_ppm ≥ t·1e6 (integer fixed-point).

    100 TB: the prefix join is an equi-join on rare tokens (posting
    lists short BY CONSTRUCTION — frequency ordering puts common
    boilerplate shingles outside every prefix, the exact opposite of
    the naive any-shared-token join). The global token ranking is a
    sort of the VOCABULARY (corpus-sublinear); the verify step touches
    candidate pairs only.
    """
    from pyspark.sql import Window

    pfx_len = f"(n - ({t_num} * n + {t_den - 1}) div {t_den} + 1)"
    sets = df.select(
        F.col(id_col).alias("doc_id"),
        shingles(F.col(text_col), shingle_n).alias("s"),
    )
    # Materialize the token posting frame ONCE (r14, guide §2.4 +
    # round-10 minhash lesson): both the frequency agg and the docw
    # rank join consume it, and because the vocabulary side broadcasts
    # there is no exchange to shield the reuse — without the cut the
    # shingle HOF + explode (the corpus-scan cost) evaluates twice
    # (measured: 2 documents scans → 1; ~0.5 s off the benched query
    # at sf0.1). Eager localCheckpoint, not persist: blocks are
    # GC-reclaimed (minhash_lsh_pairs note), and eagerness closes the
    # round-4 HOF re-evaluation window.
    toks = sets.select("doc_id", F.explode("s").alias("tok")).localCheckpoint(
        eager=True
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("f"))
    # vocabulary-sized global sort (single-partition window is fine at
    # vocab scale; corpus-sublinear)
    ranked = freq.select(
        "tok", F.row_number().over(Window.orderBy("f", "tok")).alias("rk")
    )
    docw = (
        toks.join(ranked, "tok")
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list("rk")).alias("rks"),
            F.count("*").alias("n"),
        )
        # consumed THREE times below (prefix explode + both verify
        # sides) — materialize once (minhash localCheckpoint pattern;
        # measured 4.37 s vs 2.0 s at sf0.1 when rebuilt per consumer)
        .localCheckpoint()
    )
    pref = docw.select(
        "doc_id",
        F.explode(F.expr(f"slice(rks, 1, CAST({pfx_len} AS INT))")).alias("p"),
    )
    a = pref.select(F.col("doc_id").alias("doc_a"), "p")
    b = pref.select(F.col("doc_id").alias("doc_b"), "p")
    cand = (
        a.join(b, "p")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    da = docw.select(
        F.col("doc_id").alias("doc_a"),
        F.col("rks").alias("rks_a"),
        F.col("n").alias("n_a"),
    )
    db = docw.select(
        F.col("doc_id").alias("doc_b"),
        F.col("rks").alias("rks_b"),
        F.col("n").alias("n_b"),
    )
    scored = (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "size(array_intersect(rks_a, rks_b)) * CAST(1000000 AS BIGINT)"
                " div (n_a + n_b - size(array_intersect(rks_a, rks_b)))"
            ).alias("jac_ppm"),
        )
    )
    return scored.filter(F.col("jac_ppm") >= t_num * 1_000_000 // t_den)


def lsh_band_funnel(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    band_size: int = 2,
    jaccard_threshold: float = 0.5,
    shingle_n: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Per-band candidate→verified funnel for the banded MinHash index
    — the COST complement to the recall audit: which bands spend the
    verify budget productively. For each band index: surviving buckets
    (2 ≤ m ≤ cap), candidate pairs generated (pre-dedup — a pair
    found by two bands bills BOTH, matching what the global
    dropDuplicates must absorb), pairs passing exact-Jaccard verify,
    and precision ppm. Same signatures/bands/cap as minhash_lsh_pairs
    (the audit measures THE index, not a replica).

    One band shuffle (same as the index build), in-bucket pair
    expansion under the same cap, verify joins touching candidates
    only — the audit costs one run of the index it audits.
    """
    src = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__txt"))
    sh_df = src.select(
        "__id", shingles(F.col("__txt"), shingle_n).alias("__sh")
    ).localCheckpoint(eager=True)
    salted_mins = [
        F.min(hash60(F.concat(F.lit(f"{j}|"), F.col("__s")))).alias(f"__mh{j}")
        for j in range(num_hashes)
    ]
    mh = (
        sh_df.select("__id", F.explode("__sh").alias("__s"))
        .groupBy("__id")
        .agg(*salted_mins)
    )
    n_bands = num_hashes // band_size
    bands = mh.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("bi"),
                        F.concat_ws(
                            "|",
                            F.lit(str(b)),
                            *[
                                F.col(f"__mh{b * band_size + i}").cast("string")
                                for i in range(band_size)
                            ],
                        ).alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("__b"),
    ).select("__id", F.col("__b.bi").alias("__bi"), F.col("__b.key").alias("__key"))
    buckets = (
        bands.groupBy("__bi", "__key")
        .agg(F.array_sort(F.collect_list("__id")).alias("__ids"))
        .filter((F.size("__ids") >= 2) & (F.size("__ids") <= max_bucket))
    )
    cand = (
        buckets.select(
            "__bi", "__ids", F.posexplode("__ids").alias("__i", "id_a")
        )
        .select(
            "__bi",
            "id_a",
            F.explode(
                F.slice("__ids", F.col("__i") + F.lit(2), F.size("__ids"))
            ).alias("id_b"),
        )
    )
    ver = (
        cand.join(
            sh_df.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sa")),
            "id_a",
        )
        .join(
            sh_df.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__sb")),
            "id_b",
        )
        .select(
            "__bi",
            (
                F.round(
                    F.size(F.array_intersect("__sa", "__sb")).cast("double")
                    / (
                        (F.size("__sa") + F.size("__sb")).cast("double")
                        - F.size(F.array_intersect("__sa", "__sb")).cast("double")
                    ),
                    6,
                )
                >= jaccard_threshold
            )
            .cast("int")
            .alias("__ok"),
        )
    )
    nb = buckets.groupBy("__bi").agg(F.count("*").alias("n_buckets"))
    return (
        ver.groupBy("__bi")
        .agg(
            F.count("*").cast("bigint").alias("n_cand_pairs"),
            F.sum("__ok").cast("bigint").alias("n_verified"),
            F.expr(
                "CAST(sum(__ok) * 1000000 div count(*) AS BIGINT)"
            ).alias("precision_ppm"),
        )
        .join(nb, "__bi")
        .select(
            F.col("__bi").alias("band"),
            F.col("n_buckets").cast("bigint").alias("n_buckets"),
            "n_cand_pairs",
            "n_verified",
            "precision_ppm",
        )
    )


# ---------------------------------------------------------------------------
# Persisted MinHash band index (VERDICT r6 next-round #3): the dedup
# twin of the ANN partitioned layout (similarity.py::
# write_ivfpq_partitioned and ivfpq_topk(encoded=...)).
# minhash_lsh_pairs_incremental has the right PROBE SHAPE (|new| ×
# bucket) but recomputes the corpus signatures every run; these three
# functions persist them so a crawl batch pays O(batch), never
# O(corpus).
# ---------------------------------------------------------------------------


def _shingle_band_frames(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    band_size: int,
    shingle_n: int,
    extra_cols: dict[str, str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Shared signature pipeline: returns ``(sh_df, bands)`` where
    ``sh_df`` is (``__id``, ``__sh``) — eagerly checkpointed, it feeds
    both the band build and the verify joins — and ``bands`` is
    (``__id``, ``__band``), one row per (doc, band). Hashing is
    IDENTICAL to minhash_lsh_pairs / minhash_lsh_pairs_incremental
    (salted md5-prefix min over exploded shingles; plain expressions,
    no higher-order lambdas — the round-4 hazard class), so an index
    built here is probe-compatible with the full-recompute paths.

    ``extra_cols`` ride on ``sh_df`` AND on ``bands`` (r14: threaded
    through the signature aggregate as extra group keys — each is
    functionally dependent on ``__id``, so the grouping cardinality
    and the signature values are unchanged; previously consumers had
    to join ``bands`` back to ``sh_df`` to recover them)."""
    n_bands = num_hashes // band_size
    extras = list((extra_cols or {}).keys())
    carried = [
        F.col(srccol).alias(alias)
        for alias, srccol in (extra_cols or {}).items()
    ]
    sh_df = df.select(
        F.col(id_col).alias("__id"),
        *carried,
        shingles(F.col(text_col), shingle_n).alias("__sh"),
    ).localCheckpoint(eager=True)
    salted_mins = [
        F.min(hash60(F.concat(F.lit(f"{j}|"), F.col("__s")))).alias(f"__mh{j}")
        for j in range(num_hashes)
    ]
    mh = (
        sh_df.select("__id", *extras, F.explode("__sh").alias("__s"))
        .groupBy("__id", *extras)
        .agg(*salted_mins)
    )
    bands = mh.select(
        "__id",
        *extras,
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        F.lit(str(b)),
                        *[
                            F.col(f"__mh{b * band_size + i}").cast("string")
                            for i in range(band_size)
                        ],
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("__band"),
    )
    return sh_df, bands


#: partition-bucket fan-out of the OPTIONAL pruned index layout — part
#: of the frozen index contract (build and append must agree; the probe
#: auto-detects the layout from the read schema). MEASURED TRADE
#: (sf0.1, 32 buckets): the partitioned layout costs 2.9× on build
#: (2.6 → 7.6 s: small-file fan-out) and ~1.5× on probe at harness
#: scale, because a 100-doc batch's ~400 band keys already hash into
#: most of 32 buckets — pruning only wins when batch keys cover a
#: SMALL fraction of buckets, i.e. at production index sizes with
#: thousands of buckets (a 100 TB deployment sizes this to index
#: bytes / healthy scan unit, e.g. 4096, and a daily batch then reads
#: ~10% of the files instead of all of them). Default layout is FLAT
#: (buckets=None): the broadcast-probe plan never shuffles the corpus
#: either way, so flat is strictly better until file pruning can
#: actually bite. PartitionFilters on the pruned path are pytest-pinned.
#: MEASURED CROSSOVER (round 8, test_scale_layout.py::
#: test_band_index_pruned_layout_wins_at_design_point): at the
#: design point — 4096-doc corpus, 64 buckets, a 4-doc batch whose
#: ≤16 band keys cover ≤25% of the buckets — the pruned probe reads
#: 8,171 input rows vs the flat probe's 36,956 (0.22×), bit-identical
#: output (stage-level inputRecords; the runtime twin of the
#: PartitionFilters plan pin). So the rule of thumb is geometric:
#: pruning wins once (batch distinct band keys) / buckets ≪ 1 AND
#: per-bucket bytes ≫ per-file overhead; the harness default (100-doc
#: batch ≈ 400 band keys over 32 buckets — full coverage) sits on the
#: losing side, a 100 TB daily batch over 4096 buckets on the winning
#: side.
BAND_INDEX_BUCKETS = 32


def _band_bucket(band_col, buckets: int = BAND_INDEX_BUCKETS):
    """Partition bucket of a band key (xxhash64 is seed-stable across
    sessions; engine-side only — the bucket never reaches an oracle)."""
    return F.pmod(F.xxhash64(band_col), F.lit(buckets)).cast("int")


def _id_bucket(id_col_expr, buckets: int = BAND_INDEX_BUCKETS):
    """Partition bucket of a doc id (shingle-store pruning key)."""
    return F.pmod(F.xxhash64(id_col_expr), F.lit(buckets)).cast("int")


def _empty_pairs(spark, new_df: DataFrame, id_col: str) -> DataFrame:
    """Empty (id_a, id_b, jaccard) frame whose id columns carry the
    CALLER's id type — a hardcoded bigint schema would type-mismatch
    string-keyed indexes on the empty-input path only."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    id_type = new_df.schema[id_col].dataType
    return spark.createDataFrame(
        [],
        StructType(
            [
                StructField("id_a", id_type),
                StructField("id_b", id_type),
                StructField("jaccard", DoubleType()),
            ]
        ),
    )


def _write_index_tables(
    sh_df: DataFrame,
    bands: DataFrame,
    path: str,
    mode: str,
    buckets: int | None,
) -> None:
    """Shared build/append writer for the three index tables, in either
    layout (flat, or partition-pruned when ``buckets`` is set — see the
    BAND_INDEX_BUCKETS measured-trade note)."""
    import json
    import os

    counts = bands.groupBy("__band").agg(F.count("*").alias("__n"))
    os.makedirs(path, exist_ok=True)
    meta = os.path.join(path, "_index_meta.json")
    if mode == "overwrite":
        with open(meta, "w") as f:
            json.dump({"buckets": buckets}, f)
    elif os.path.exists(meta):
        with open(meta) as f:
            built = json.load(f).get("buckets")
        if built != buckets:
            raise ValueError(
                f"band index at {path} was built with buckets={built}; "
                f"append passed buckets={buckets} — the bucket count is "
                "part of the frozen index contract"
            )
    if buckets is None:
        writes = [
            (sh_df, f"{path}/shingles", None),
            (bands.select("__band", "__id"), f"{path}/bands", None),
            (counts, f"{path}/band_counts", None),
        ]
    else:
        writes = [
            (
                sh_df.withColumn("__sp", _id_bucket(F.col("__id"), buckets)),
                f"{path}/shingles",
                "__sp",
            ),
            (
                bands.select(
                    "__band",
                    "__id",
                    _band_bucket(F.col("__band"), buckets).alias("__bp"),
                ),
                f"{path}/bands",
                "__bp",
            ),
            (
                counts.withColumn(
                    "__bp", _band_bucket(F.col("__band"), buckets)
                ),
                f"{path}/band_counts",
                "__bp",
            ),
        ]

    def _write(df: DataFrame, dest: str, part_col: str | None) -> None:
        w = df.write.mode(mode)
        if part_col is not None:
            w = w.partitionBy(part_col)
        w.parquet(dest)

    # the three tables are independent (bands is checkpointed upstream),
    # so overlap the jobs: each alone underfills the executor at index
    # scale, and the scheduler interleaves their tasks
    with ThreadPoolExecutor(max_workers=3) as pool:
        for fut in [pool.submit(_write, *w) for w in writes]:
            fut.result()


def write_band_index(
    df: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    buckets: int | None = None,
) -> None:
    """Build the persisted dedup index at ingest: three parquet tables

      {path}/shingles     (__id, __sh)   — verify-join side store
      {path}/bands        (__band, __id) — the LSH posting lists
      {path}/band_counts  (__band, __n)  — appendable PARTIAL counts;
                          probes SUM them, so the max_bucket cap sees
                          corpus+batch totals without scanning bands

    One corpus scan, one map-combined shuffle (the per-doc min-hash
    agg) — the same cost minhash_lsh_pairs pays ONCE per full-dedup
    run, now paid once per corpus LIFETIME.

    Layout: FLAT by default; pass ``buckets=N`` for the
    PARTITION-PRUNED layout (the IVF-probe pattern,
    similarity.py::ivfpq_topk(encoded=...)) — bands/counts
    partitioned by a band-hash bucket, shingles by an id-hash bucket,
    so a probe's bounded bucket-list collect lets PartitionFilters
    prune index FILES before any scan (plan-pinned in test_plans.py).
    Choose by the measured trade at BAND_INDEX_BUCKETS: pruning wins only at
    production bucket counts where a batch's keys cover a small
    fraction of buckets. Parameters (num_hashes, band_size,
    shingle_n, and the bucket count — persisted in _index_meta.json)
    are the frozen index contract — appends must match and probes
    auto-detect (cf. the frozen-quantizer contract of
    write_ivfpq_partitioned(mode="append")). The meta/fence sidecars
    use driver-local file IO: the harness indexes live on local disk;
    an object-store deployment replaces them with a conditional put
    (same contract as sources/versioned.py's pointer files)."""
    sh_df, bands = _shingle_band_frames(
        df, text_col, id_col, num_hashes, band_size, shingle_n
    )
    # two consumers (posting-list write + counts rollup): materialize
    # once or the signature explode+min agg runs twice per build
    bands = bands.localCheckpoint(eager=True)
    _write_index_tables(sh_df, bands, path, "overwrite", buckets)


def append_to_band_index(
    new_df: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    buckets: int | None = None,
) -> None:
    """Fold a new batch into the persisted index: computes the batch's
    shingles/bands/counts with the FROZEN index parameters and APPENDS
    — existing files are never read or rewritten (pytest-pinned), so a
    day's arrivals cost a day's signatures. Counts append as partial
    rows per band; probes sum them, so no read-modify-write cycle
    exists anywhere in the lifecycle (contrast a key-value index that
    must update bucket sizes in place)."""
    sh_df, bands = _shingle_band_frames(
        new_df, text_col, id_col, num_hashes, band_size, shingle_n
    )
    bands = bands.localCheckpoint(eager=True)  # 2 consumers, as in build
    _write_index_tables(sh_df, bands, path, "append", buckets)


def probe_band_index(
    spark,
    path: str,
    new_df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    band_size: int = 2,
    jaccard_threshold: float = 0.5,
    shingle_n: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Probe the persisted index with a new batch: returns
    (id_a, id_b, jaccard) — id_a < id_b, distinct, each pair touching
    ≥ 1 batch doc — BIT-IDENTICAL to running
    ``minhash_lsh_pairs_incremental`` over (indexed corpus ∪ batch)
    with the batch marked new (pytest-pinned equality), but the only
    signature work per run is the batch's own. CONTRACT: batch ids
    must be disjoint from indexed ids (an id present on both sides
    would double its shingle rows in the verify join and duplicate
    its output pairs) — re-crawls of existing documents arrive under
    new ids or are deduped upstream; the streaming wrapper's replay
    fence preserves this by skipping the re-append, and its sink
    read-back applies a distinct either way.

    Plan shape (the 100 TB contract):
      * batch signatures: |new| docs, one map-combined shuffle;
      * PARTITION PRUNING FIRST (pruned layout, auto-detected from
        the read schema; modulus from _index_meta.json): the batch's
        band-hash buckets (a bounded int list collected driver-side
        like an IVF probe's cell list) filter the bands/counts reads,
        so only the index FILES the batch hashes into are scanned —
        PartitionFilters pinned in test_plans.py. On the default flat
        layout this step is skipped (see the BAND_INDEX_BUCKETS
        measured-trade note);
      * the batch's distinct band keys + partial counts are SMALL →
        broadcast; the surviving posting lists are filtered by a
        broadcast-hash join (no corpus shuffle), and the max_bucket
        cap is evaluated from SUMMED partial counts restricted to
        probed bands — the corpus bands table is never aggregated;
      * verify joins touch only candidate ids' shingle FILES on the
        pruned layout (the candidate set's id-hash buckets prune the
        shingle store the same way); on the flat layout they touch
        only candidate ROWS (the join keys bound the probe either
        way — pruning moves the bound from rows to files).
    """
    new_sh, new_bands = _shingle_band_frames(
        new_df, text_col, id_col, num_hashes, band_size, shingle_n
    )
    new_bands = new_bands.localCheckpoint(eager=True)  # 3 consumers
    idx_bands = spark.read.parquet(f"{path}/bands")
    idx_counts = spark.read.parquet(f"{path}/band_counts")
    pruned = "__bp" in idx_bands.columns  # layout auto-detect
    if pruned:
        # the exact build-time modulus comes from the index meta (part
        # of the frozen contract — deriving it from observed partition
        # values would silently MISS pairs whenever some residue never
        # materialized, because pmod(x, wrong_B) diverges)
        import json
        import os

        with open(os.path.join(path, "_index_meta.json")) as f:
            n_b = json.load(f)["buckets"]
        # bounded collect (≤ buckets ints) — the dedup twin of the IVF
        # probe's n_probes cell list
        bp_list = [
            r[0]
            for r in new_bands.select(_band_bucket(F.col("__band"), n_b))
            .distinct()
            .collect()
        ]
        if not bp_list:
            return _empty_pairs(spark, new_df, id_col)
        idx_bands = idx_bands.filter(F.col("__bp").isin(bp_list))
        idx_counts = idx_counts.filter(F.col("__bp").isin(bp_list))
    idx_bands = idx_bands.select("__band", "__id")
    idx_counts = idx_counts.select("__band", "__n")

    probe_keys = new_bands.select("__band").distinct()
    # total bucket size over corpus ∪ batch, restricted to probed bands
    new_counts = new_bands.groupBy("__band").agg(F.count("*").alias("__n"))
    tot = (
        idx_counts.join(F.broadcast(probe_keys), "__band")
        .unionByName(new_counts)
        .groupBy("__band")
        .agg(F.sum("__n").alias("__tot"))
    )
    ok_bands = tot.filter(F.col("__tot") <= max_bucket).select("__band")

    new_ok = new_bands.join(F.broadcast(ok_bands), "__band")
    # corpus side: posting lists of the probed-and-uncapped bands only;
    # the batch side is broadcast — the corpus never shuffles
    idx_hits = idx_bands.join(
        F.broadcast(new_ok.select("__band").distinct()), "__band"
    )
    both = idx_hits.select("__band", "__id").unionByName(
        new_ok.select("__band", "__id")
    )
    cand = (
        new_ok.select("__band", F.col("__id").alias("__id_n"))
        .join(both.select("__band", F.col("__id").alias("__id_o")), "__band")
        .filter(F.col("__id_n") != F.col("__id_o"))
        .select(
            F.least("__id_n", "__id_o").alias("id_a"),
            F.greatest("__id_n", "__id_o").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_idx = spark.read.parquet(f"{path}/shingles")
    if pruned:
        # candidate ids' buckets prune the shingle store the same way
        # (bounded collect; cand materialized once for collect + joins)
        cand = cand.localCheckpoint(eager=True)
        n_s = n_b  # one contract constant for both stores
        sp_list = [
            r[0]
            for r in cand.select(_id_bucket(F.col("id_a"), n_s).alias("b"))
            .unionByName(cand.select(_id_bucket(F.col("id_b"), n_s).alias("b")))
            .distinct()
            .collect()
        ]
        if not sp_list:
            return _empty_pairs(spark, new_df, id_col)
        sh_idx = sh_idx.filter(F.col("__sp").isin(sp_list))
    sh_all = sh_idx.select("__id", "__sh").unionByName(new_sh)
    verified = cand.join(
        sh_all.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sh_a")),
        "id_a",
    ).join(
        sh_all.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__sh_b")),
        "id_b",
    )
    inter = F.size(F.array_intersect("__sh_a", "__sh_b")).cast("double")
    union = (F.size("__sh_a") + F.size("__sh_b")).cast("double") - inter
    return (
        verified.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )
