"""[EXT] Similarity search over embedding columns (``array<float>``).

Every top-k operator here has one probe → score → rank shape:

- **probe** turns the corpus into candidate (query, vector) pairs: a
  broadcast cross join (``brute_force_topk``, ``pq_topk``), an
  equi-join on a hyperplane-LSH bucket (``lsh_topk``) or on an IVF cell
  (``ivf_topk``, ``ivfpq_topk``), a candidate list (``rerank_topk``),
  or the Arrow all-pairs generator (``self_knn_topk_arrow``,
  ``allpairs_threshold_arrow``);
- **score** is one expression per pair — a flat dot/cosine fold over
  float vectors, or an ADC lookup sum over PQ codes — rounded to 6
  places;
- **rank** is :func:`_rank_topk`: ``row_number`` per query over
  (score desc, id asc), so every operator breaks ties the same way.

The indexed operators take their corpus from one of three sources:
inline (derived from ``emb`` on every call), a pre-built frame
(``bucketed=``, ``encoded=``, ``assigned=``; typically persisted at
ingest), or a partitioned layout read back with ``spark.read.parquet``
(written by ``write_ivf_partitioned`` / ``write_ivfpq_partitioned``),
where the cell join key is a partition column and a probe becomes
partition pruning. The three sources give identical results.

At 100 TB: brute force is O(Q·N·d), bounded by broadcasting Q; LSH and
IVF prune N to the probed buckets, PQ compresses what is scanned.
Python work is confined to Arrow batch UDFs (corpus encoders, query
probes and LUTs) and the Arrow all-pairs scorers — no Python row loop
over the corpus.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vectors import cosine, cosine_flat, dot, dot_flat

#: per-chunk score-grid budget for the Arrow all-pairs scorers:
#: rows × n_q doubles ≤ 8M (≈64 MB transient per Python worker).
_ROW_BLOCK_DOUBLES = 8_000_000


def _row_block(n_q: int) -> int:
    """Rows per scoring chunk so the (rows × n_q) float64 grid stays
    within the 64 MB budget; floor of 64 keeps tiny-corpus overhead
    negligible (ADVICE r8: a 10k-row Arrow batch against a 10k corpus
    was ~0.8 GB transient otherwise)."""
    return max(64, _ROW_BLOCK_DOUBLES // max(n_q, 1))


#: minimum score-grid cells (corpus rows × n_q) per task before the
#: Arrow scorers fan the corpus out — below this, per-task Python
#: worker + Arrow + broadcast-deserialize overhead (~30-50 ms/task)
#: outweighs the parallelism (measured: unconditional 64-way fan-out
#: ADDED ~1 s to dbscan's 2k-vector corpus, while the 2k×2k grid
#: scores in ~0.2 s on one core anyway).
_MIN_CELLS_PER_TASK = 16_000_000


def _fan_out_corpus(df: DataFrame, key_col: str, n_q: int) -> DataFrame:
    """Escape the small-file single-task trap for the Arrow scorers —
    WORK-PROPORTIONALLY. mapInPandas inherits input partitioning, and
    harness-scale embeddings parquet arrives as ONE partition, so the
    entire O(n·n_q) scoring loop would run on one core regardless of
    session width (the round-8 single-task class). But tiny corpora
    must NOT be sharded into dozens of overhead-dominated tasks, so
    the partition count is sized from the known grid volume: n·n_q
    cells at ≥ _MIN_CELLS_PER_TASK per task, capped at 2× session
    parallelism (the ×2 keeps the count ≠
    spark.sql.shuffle.partitions so CollapseRepartition can't drop
    it). n == n_q for these self-scoring paths. Value-neutral: chunk
    membership changes but the per-chunk forward-margin proofs are
    membership-independent and the Spark-side round/rank filters
    stay authoritative (bitwise pins unchanged)."""
    target = df.sparkSession.sparkContext.defaultParallelism * 2
    parts = min(target, max(1, (n_q * n_q) // _MIN_CELLS_PER_TASK))
    if 1 < parts and df.rdd.getNumPartitions() < parts:
        return df.repartition(parts, key_col)
    return df


#: square cache-block edge for the Arrow score grids: a 256×256
#: float64 accumulator is 512 KB — L2-resident on any current core —
#: and the block count stays small enough that NumPy call overhead is
#: noise even at vector-thousands scale
_GRID_BLOCK = 256


def _cos_grid(
    mat: np.ndarray,
    row_nrm: np.ndarray,
    b_mat: np.ndarray,
    b_nrm: np.ndarray,
    dim: int,
) -> np.ndarray:
    """(rows × n_q) cosine grid with the JVM fold's EXACT per-cell
    arithmetic: float64 ``acc += mat[r,d] * b_mat[q,d]`` in ascending
    ``d``, then ``dot / (row_nrm[r] * b_nrm[q])`` — the sequential-
    IEEE recipe every Arrow scorer shares (see
    :func:`self_knn_topk_arrow`'s exactness proof).

    Cache-blocked (r12): the unblocked form streamed the full
    rows×n_q float64 accumulator through DRAM once per dimension —
    64 full-grid passes, memory-bandwidth-bound (measured 3.4× slower
    single-threaded at the harness 2000-vector grid, and the source
    of the Arrow scorer rows' wild run-to-run bench variance: wall
    time tracked DRAM contention, not compute). Each 256×256 block's
    accumulator now stays L2-resident across the dimension loop.
    Per-cell operand values, op order, and accumulation order are
    UNCHANGED, so the grid is BITWISE identical to the unblocked form
    (pinned by the scorers' bitwise-equality pytests)."""
    b, n_q = mat.shape[0], b_mat.shape[0]
    cos = np.empty((b, n_q))
    for rlo in range(0, b, _GRID_BLOCK):
        rhi = min(rlo + _GRID_BLOCK, b)
        rmat = mat[rlo:rhi]
        rn = row_nrm[rlo:rhi, None]
        for clo in range(0, n_q, _GRID_BLOCK):
            chi = min(clo + _GRID_BLOCK, n_q)
            qb = b_mat[clo:chi]
            num = np.zeros((rhi - rlo, chi - clo))
            for d in range(dim):  # sequential: mirrors the JVM fold
                num += rmat[:, d : d + 1] * qb[:, d][None, :]
            cos[rlo:rhi, clo:chi] = num / (rn * b_nrm[None, clo:chi])
    return cos


def _assert_nonzero_norms(nrm: np.ndarray, ids: np.ndarray) -> None:
    """Zero-norm vectors make cosine NaN, and NaN ranking DIVERGES
    between the NumPy prefilter (comparisons drop NaN) and Spark's
    JVM ordering (NaN sorts greatest) — the bit-identity contract of
    the Arrow scorers cannot hold on such input, so fail loudly."""
    bad = ids[nrm == 0.0]
    if bad.size:
        raise ValueError(
            "zero-norm embedding vectors (cosine undefined, NaN ordering "
            f"diverges between NumPy and JVM paths): ids {bad[:10].tolist()}"
            + ("…" if bad.size > 10 else "")
        )


def _seq_norms(mat: np.ndarray, dim: int) -> np.ndarray:
    """Row L2 norms accumulated like the JVM fold's Σa² term: float64,
    SEQUENTIAL over ascending ``d`` (NumPy's pairwise-summed ``.sum()``
    would differ in the last ulp), then one ``sqrt``."""
    nrm = np.zeros(mat.shape[0])
    for d in range(dim):
        nrm += mat[:, d] * mat[:, d]
    return np.sqrt(nrm)


def _rank_topk(
    scored: DataFrame, k: int, score_col: str, query_id_col: str, id_col: str
) -> DataFrame:
    """The rank step every top-k operator ends in: ``rank`` =
    ``row_number`` per query over (score desc, id asc), kept while
    ``rank <= k`` — one window shuffle, and one tie-break shared by
    construction across every operator and its DuckDB oracle."""
    w = Window.partitionBy(query_id_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    assume_normalized: bool = False,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query vector.

    Returns (query_id, vec_id, cos, rank), rank 1..k, deterministic
    tie-break on vec_id. ``assume_normalized`` switches cosine → dot
    (the driver embeddings are L2-normalized; saves two norms per pair).
    Pass ``dim`` to score via the single-level flat folds
    (``vectors.dot_flat``/``cosine_flat`` — no nested lambda binding;
    see the BASELINE.md round-4 and round-5 notes) — every fixed-dim
    caller should; omitting it keeps the dimension-agnostic nested
    JVM fold.
    """
    if dim is not None:
        sim = (dot_flat if assume_normalized else cosine_flat)(
            vec_col, query_vec_col, dim
        )
    else:
        sim_fn = dot if assume_normalized else cosine
        sim = sim_fn(F.col(vec_col), F.col(query_vec_col))
    scored = emb.crossJoin(F.broadcast(queries)).select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(sim, 6).alias("cos"),
    )
    return _rank_topk(scored, k, "cos", query_id_col, id_col)


def _arrow_candidates(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    keep,
    row_col: str,
    query_col: str,
) -> DataFrame:
    """Candidate generator shared by the Arrow all-pairs scorers: every
    vector of ``emb`` is both a corpus row and a query.

    The query matrix is collected driver-side (n·dim doubles — the
    exact all-pairs form is the vector-thousands baseline; the 100 TB
    paths are the LSH/IVF operators), its norms are folded by
    :func:`_seq_norms` and checked non-zero, and it ships to workers
    via ``SparkContext.broadcast`` (one torrent transfer per executor,
    not one pickled closure copy per task). The corpus streams through
    mapInPandas in blocks of ``_row_block(n)`` rows, so the transient
    (rows × n) score grid stays within ``_ROW_BLOCK_DOUBLES`` doubles
    whatever the Arrow batch size; shuffle carries only kept cells,
    never the n² grid. Each block is scored by :func:`_cos_grid` and
    emits the cells where ``keep(cos, row_ids, query_ids)`` holds as
    (``row_col``, ``query_col``, ``__raw``) rows; an empty ``emb``
    yields an empty frame of that schema."""
    schema = f"{row_col} long, {query_col} long, __raw double"
    rows = emb.select(id_col, vec_col).collect()
    if not rows:
        return emb.sparkSession.createDataFrame([], schema)
    q_ids = np.array([r[0] for r in rows], dtype="int64")
    q_mat = np.stack(
        [np.asarray(r[1], dtype="float32") for r in rows]
    ).astype("float64")
    q_nrm = _seq_norms(q_mat, dim)
    _assert_nonzero_norms(q_nrm, q_ids)
    n_q = q_mat.shape[0]
    bc = emb.sparkSession.sparkContext.broadcast((q_ids, q_mat, q_nrm))
    block = _row_block(n_q)

    def score_batches(batches):
        b_ids, b_mat, b_nrm = bc.value
        for pdf in batches:
            for lo in range(0, len(pdf), block):
                chunk = pdf.iloc[lo : lo + block]
                if not len(chunk):
                    continue
                ids = chunk[id_col].to_numpy(dtype="int64")
                mat = np.stack(
                    [np.asarray(v, dtype="float32") for v in chunk[vec_col]]
                ).astype("float64")
                cos = _cos_grid(mat, _seq_norms(mat, dim), b_mat, b_nrm, dim)
                bi, qi = np.nonzero(keep(cos, ids, b_ids))
                yield pd.DataFrame(
                    {row_col: ids[bi], query_col: b_ids[qi], "__raw": cos[bi, qi]}
                )

    return _fan_out_corpus(
        emb.select(id_col, vec_col), id_col, n_q
    ).mapInPandas(score_batches, schema)


def self_knn_topk_arrow(
    emb: DataFrame,
    k: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Exact all-pairs kNN (every vector is a query) as an Arrow
    matmul instead of a 25M-row crossJoin — BIT-IDENTICAL output to
    ``brute_force_topk(emb, emb-as-queries, k, dim=dim)``
    (pytest-pinned), ~20× faster at harness sf0.1 because the per-pair
    work moves from a per-ROW Catalyst fold into NumPy batch loops
    (:func:`_arrow_candidates`).

    Exact-arithmetic contract: cosine must match the JVM
    ``cosine_flat`` fold bitwise, so every accumulation is replicated
    in the SAME IEEE-754 order — per-element float→double upcast,
    then a SEQUENTIAL ``acc += a[d]*b[d]`` loop over dimensions
    (NumPy's pairwise-summed ``.sum()`` would differ in the last ulp
    and flip ``round(cos, 6)`` on knife-edge values), then
    ``dot / (sqrt(na) * sqrt(nb))`` with the same two roundings.

    Exact-selection contract: each row block forwards, per query,
    every row whose raw cos is within 2e-6 of the block's k-th best
    (raw ordering). A dropped row r has cos_r < kth − 2e-6, so
    round(cos_r) ≤ cos_r + 5e-7 < kth − 5e-7 ≤ round(kth): at least k
    forwarded rows of the SAME block strictly beat r on the ROUNDED
    key, hence r can never reach the global rounded top-k regardless
    of id tie-breaks. The final round + :func:`_rank_topk` is the same
    Spark code path as brute_force_topk, so ordering semantics (HALF_UP
    round, id tie-break) are shared by construction, not re-derived.

    Input contract: every vector must have non-zero norm — zero norms
    make cosine NaN, and NaN ordering DIVERGES between this path
    (NumPy comparisons drop NaN) and the JVM crossJoin fold (Spark
    sorts NaN greatest), silently breaking bit-identity. Raises
    ``ValueError`` up front instead. An empty ``emb`` returns an empty
    (query_id, id, cos, rank) frame.
    """

    def keep(cos, ids, q_ids):
        kth = min(k, cos.shape[1]) - 1
        if cos.shape[0] <= kth + 1:
            return np.ones_like(cos, dtype=bool)
        thresh = -np.partition(-cos, kth, axis=0)[kth, :] - 2e-6
        return cos >= thresh[None, :]

    cand = _arrow_candidates(emb, id_col, vec_col, dim, keep, id_col, "query_id")
    scored = cand.select(
        "query_id", id_col, F.round(F.col("__raw"), 6).alias("cos")
    )
    return _rank_topk(scored, k, "cos", "query_id", id_col)


def allpairs_threshold_arrow(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Exact all-pairs threshold scoring (id_a < id_b, rounded cos ≥
    threshold) as an Arrow matmul — BIT-IDENTICAL to
    ``embedding_near_dup_pairs(..., n_planes=0)``'s crossJoin + JVM
    fold (pytest-pinned) without materializing the n² pair rows.
    Same generator and exact-arithmetic recipe as
    :func:`self_knn_topk_arrow`; candidate forwarding keeps every pair
    with raw cos ≥ threshold − 1e-6 (if round(cos) ≥ threshold then
    cos ≥ threshold − 5e-7, so no qualifying pair can be dropped),
    and the authoritative ``F.round(...) ≥ threshold`` filter runs
    Spark-side exactly as the crossJoin path's. Each unordered pair
    is emitted once: every vector streams through as a block row
    exactly once and emits only against larger query ids.

    Scale contract: the exact all-pairs form is the declared
    vector-thousands baseline (the 100 TB path is the LSH-bucketed
    ``embedding_near_dup_pairs(n_planes>0)``). Empty input returns an
    empty frame; zero-norm vectors raise up front."""
    cand = _arrow_candidates(
        emb, id_col, vec_col, dim,
        lambda cos, ids, q_ids: (cos >= threshold - 1e-6)
        & (ids[:, None] < q_ids[None, :]),
        "id_a", "id_b",
    )
    return (
        cand.withColumn("cos", F.round(F.col("__raw"), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def _hyperplane(plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane component h[plane][d] ∈
    (-1, 1): scaled 60-bit md5 hash of "hp{plane}:{d}". Computed
    driver-side (hashlib ≡ any engine's md5), embedded as literals —
    seeded, reproducible cluster-wide, no RNG state or broadcast var."""
    import hashlib

    return [
        int(hashlib.md5(f"hp{plane}:{d}".encode()).hexdigest()[:15], 16)
        / float(2**60)
        * 2.0
        - 1.0
        for d in range(dim)
    ]


def hyperplane_bucket(vec_col, n_planes: int = 8, dim: int = 64):
    """LSH bucket id from the sign pattern of ``n_planes`` fixed random
    hyperplane projections (bit b set ⇔ ⟨v, h_b⟩ ≥ 0).

    Arrow-vectorized (pandas_udf): each batch is one NumPy
    ``(n×d) @ (d×p)`` matmul + a sign/bit-pack — evaluated in the
    Python worker, so it carries ZERO JVM higher-order-lambda bindings
    (the construct proven to mis-evaluate in long many-plan sessions,
    BASELINE.md round-4 note) and none of the interpreted-expression
    cost of the unrolled ``element_at`` chain alternative (measured
    3-10× slower than this on corpus-wide columns — BASELINE.md
    round-5 note). At 100 TB this is the standard form: the projection
    is compute-dense and batches stream through Arrow.

    Cross-engine parity assumption (shared with
    :func:`hyperplane_bucket_duckdb_sql`): both engines fold the same
    constants over the same vector, but summation order/rounding may
    differ in the last ULPs, so a projection EXACTLY at 0 within ~1e-14
    could in principle flip sign in one engine only. For unit-norm
    inputs that needs |⟨v, h⟩| ≲ d·ε ≈ 1e-14 — probability ~1e-14 per
    (vector, plane), unobserved across every sf. Quantizing before the
    sign test would not help: snapping to a 1e-9 grid makes boundary
    coincidences MORE likely (~1e-6/grid-edge), so the raw sign test is
    kept and the assumption documented here instead.
    """
    H = np.array(
        [_hyperplane(p, dim) for p in range(n_planes)], dtype="float64"
    ).T  # d×p
    pw = (np.int64(1) << np.arange(n_planes, dtype="int64")).astype("int64")

    @F.pandas_udf("long")
    def _bkt(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype="int64")
        proj = np.stack(v.to_numpy()).astype("float64") @ H
        return pd.Series(((proj >= 0.0) @ pw).astype("int64"))

    return _bkt(F.col(vec_col) if isinstance(vec_col, str) else vec_col)


def hyperplane_bucket_duckdb_sql(vec_sql: str, n_planes: int = 8, dim: int = 64) -> str:
    """DuckDB twin of :func:`hyperplane_bucket`, generated from the SAME
    ``_hyperplane`` constants — so an oracle can replicate the LSH
    bucketing exactly (sign of ``list_dot_product`` per plane). Keeping
    both expressions derived from one Python source prevents drift.
    Near-zero-projection float parity: see :func:`hyperplane_bucket`'s
    docstring (shared assumption, deliberately not quantized)."""
    terms = []
    for p in range(n_planes):
        consts = ", ".join(repr(c) for c in _hyperplane(p, dim))
        proj = f"list_dot_product({vec_sql}::DOUBLE[], [{consts}])"
        terms.append(f"(CASE WHEN {proj} >= 0 THEN {2**p} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 6,
    dim: int = 64,
    n_probes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    bucketed: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: only corpus vectors in the query's hyperplane
    bucket — or a Hamming-≤1 neighbor of it (multi-probe) — are scored.
    Recall < 1 by construction; the exactness oracle is
    ``brute_force_topk``. One equi-join on bucket id replaces the cross
    join — at 100 TB this is the difference between O(N·Q) and
    O(N·Q·probes/2^planes). Default probes = n_planes+1 (the bucket
    plus every single-bit flip: vectors near a hyperplane land on
    either side, so probing flipped buckets recovers most of the loss).

    ``bucketed``: a pre-bucketed (and typically persisted) corpus frame
    — ``emb`` plus a ``__bkt`` column from :func:`hyperplane_bucket`
    with the SAME (n_planes, dim). Like the IVF layout and the
    near-dup index, an LSH index is built once at ingest and probed
    many times; passing it skips re-projecting the corpus per query."""
    if n_probes is None:
        n_probes = n_planes + 1
    e = (
        bucketed
        if bucketed is not None
        else emb.withColumn("__bkt", hyperplane_bucket(vec_col, n_planes, dim))
    )
    q0 = queries.withColumn(
        "__bkt0", hyperplane_bucket(query_vec_col, n_planes, dim)
    )
    probes = [F.col("__bkt0")] + [
        F.col("__bkt0").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)
    ]
    q = q0.withColumn(
        "__bkt", F.explode(F.array(*probes[:n_probes]))
    ).drop("__bkt0")
    scored = e.join(F.broadcast(q), "__bkt").select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(dot_flat(vec_col, query_vec_col, dim), 6).alias("cos"),
    )
    return _rank_topk(scored, k, "cos", query_id_col, id_col)


# ---------------------------------------------------------------------------
# IVF (inverted-file) index — the coarse-quantizer scale path
# ---------------------------------------------------------------------------


def _nearest_cell_udf(centroids: list[list[float]]):
    """Arrow-vectorized nearest-centroid assignment: one batch matmul
    ``(n×d) @ (d×k)`` + argmax (first max on ties — the same rule as
    ``array_position(dots, array_max(dots))`` and the oracle's
    ``ORDER BY d DESC, c``). Returns a 1-based cell id column factory —
    the corpus-side twin of the query-side :func:`_probe_cells_udf`."""
    C = np.array(centroids, dtype="float64").T  # d×k

    @F.pandas_udf("long")
    def _cell(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype="int64")
        dots = np.stack(v.to_numpy()).astype("float64") @ C
        return pd.Series(dots.argmax(axis=1).astype("int64") + 1)

    return _cell


def _probe_cells_udf(centroids: list[list[float]], n_probes: int):
    """array<struct<c:bigint, d:double>>: each query's ``n_probes``
    nearest-centroid cells ``c`` (1-based), by descending ⟨q, cᵢ⟩ with
    index tie-break (``np.lexsort`` keys (idx, −dot) — the oracle's
    ``ORDER BY d DESC, c``), each carrying its dot ``d`` = ⟨q, c⟩.
    IVF-Flat reads only ``c``; residual IVF-PQ adds ``d`` back to the
    ADC sum. Arrow-vectorized like ``_nearest_cell_udf``; the query
    side is a handful of rows, but keeping the column UDF-built (rather
    than a k×d unrolled SQL expression) matters for DRIVER time —
    Catalyst analysis of the unrolled tree measured ~1.7 s per query
    build (BASELINE.md round-5 note), dwarfing execution."""
    C = np.array(centroids, dtype="float64").T  # d×k

    @F.pandas_udf("array<struct<c:long, d:double>>")
    def _probes(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype="object")
        dots = np.stack(v.to_numpy()).astype("float64") @ C
        idx = np.arange(dots.shape[1], dtype="int64")
        out = []
        for row in dots:
            order = np.lexsort((idx, -row))[:n_probes]
            out.append(
                [{"c": int(c) + 1, "d": float(row[c])} for c in order]
            )
        return pd.Series(out)

    return _probes


def build_ivf_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lloyd_iters: int = 1,
    dim: int | None = None,
) -> list[list[float]]:
    """Deterministic IVF codebook: seeds = the ``n_centroids`` vectors
    with smallest md5(id) (a seeded pseudo-random sample), refined by
    ``lloyd_iters`` k-means steps (assign via argmax dot — vectors are
    L2-normalized — then per-cluster elementwise mean, re-normalized).

    Driver-side state is just k×d floats; every heavy step is one Spark
    job (per-dimension ``avg`` aggregates — a single hash shuffle).
    """
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    seeds = (
        emb.select(vec_col, F.md5(F.col(id_col).cast("string")).alias("__h"))
        .orderBy("__h")
        .limit(n_centroids)
        .collect()
    )
    cents = [[float(x) for x in r[0]] for r in seeds]
    for _ in range(lloyd_iters):
        assigned = emb.select(
            F.col(vec_col).alias("__v"),
            _nearest_cell_udf(cents)(F.col(vec_col)).alias("__c"),
        )
        means = (
            assigned.groupBy("__c")
            .agg(*[F.avg(F.col("__v").getItem(d)).alias(f"m{d}") for d in range(dim)])
            .collect()
        )
        new = list(cents)
        for r in means:
            v = [r[f"m{d}"] for d in range(dim)]
            nrm = sum(x * x for x in v) ** 0.5 or 1.0
            new[int(r["__c"]) - 1] = [x / nrm for x in v]
        cents = new
    return cents


def write_ivf_partitioned(
    emb: DataFrame,
    path: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Ingest-time IVF layout: assign each vector to its nearest
    centroid and write the corpus parquet PARTITIONED BY cell. Read it
    back as ``ivf_topk(..., assigned=spark.read.parquet(path))``: the
    cell join key is then a partition column, so a probe is *partition
    pruning* — the scan reads ``n_probes/n_centroids`` of the files and
    never touches the rest (asserted via PartitionFilters in
    tests/test_plans.py)."""
    emb.select(
        id_col, vec_col, _nearest_cell_udf(centroids)(F.col(vec_col)).alias("__cell")
    ).write.mode("overwrite").partitionBy("__cell").parquet(path)


def ivf_topk(
    emb: DataFrame | None,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probes: int = 4,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF coarse quantizer: corpus vectors are
    bucketed by nearest centroid; each query scores only the ``n_probes``
    closest cells. Exactness oracle is ``brute_force_topk``.

    ``assigned``: the corpus already carrying its ``__cell`` column
    (id, vector, ``__cell``), built with the same ``centroids`` —
    typically ``spark.read.parquet`` of a :func:`write_ivf_partitioned`
    layout, where the probe join becomes dynamic partition pruning and
    only the probed cells' files are read. ``emb`` is then unused.
    Without it the assignment is derived from ``emb`` inline; both
    sources give identical results (pinned in tests)."""
    if centroids is None:
        centroids = build_ivf_centroids(emb, n_centroids, id_col, vec_col)
    dim = len(centroids[0])
    e = (
        assigned
        if assigned is not None
        else emb.select(
            id_col, vec_col, _nearest_cell_udf(centroids)(F.col(vec_col)).alias("__cell")
        )
    )
    probes = _probe_cells_udf(centroids, n_probes)(F.col(query_vec_col))
    q = queries.select(
        query_id_col, query_vec_col, F.explode(probes.getField("c")).alias("__cell")
    )
    scored = e.join(F.broadcast(q), "__cell").select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(dot_flat(vec_col, query_vec_col, dim), 6).alias("cos"),
    )
    return _rank_topk(scored, k, "cos", query_id_col, id_col)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the compressed-domain scale path
# ---------------------------------------------------------------------------


def build_pq_codebooks(
    emb: DataFrame,
    m: int = 8,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> list[list[list[float]]]:
    """Deterministic PQ codebooks: the vector is split into ``m``
    subspaces of ``dim/m`` dims; subspace ``j``'s codebook is the j-th
    slice of the ``ks`` seed vectors with smallest md5(id) — the same
    seeded sample rule as the IVF coarse quantizer, so the build is
    reproducible cluster-wide and SQL-expressible for the oracle.
    Driver-side state is ks×dim floats (build once, query many)."""
    sub = dim // m
    seeds = (
        emb.select(vec_col, F.md5(F.col(id_col).cast("string")).alias("__h"))
        .orderBy("__h")
        .limit(ks)
        .collect()
    )
    vecs = [[float(x) for x in r[0]] for r in seeds]
    return [
        [v[j * sub : (j + 1) * sub] for v in vecs] for j in range(m)
    ]


def _pq_codes_udf(codebooks: list[list[list[float]]]):
    """Arrow-vectorized PQ encoder: array<bigint> of per-subspace
    nearest-code ids (1-based) — for each subspace ``j``, argmin over
    the codebook of the L2 distance ``||c||² − 2·⟨v_sub, c⟩`` (the
    ``||v_sub||²`` term is constant per row and drops out of the
    argmin; ``||c||²`` is pre-folded sequentially in Python so the
    constant matches the oracle's). One ``(n×sub) @ (sub×ks)`` matmul
    per subspace per batch in the Python worker — the corpus-side
    vectorized form (see ``hyperplane_bucket``'s rationale); argmin
    takes the FIRST minimum on ties, the same rule as
    ``array_position(arr, array_min(arr))`` and the oracle's
    ``ORDER BY dist ASC, c ASC``."""
    sub = len(codebooks[0][0])
    m = len(codebooks)
    mats = [np.array(cb, dtype="float64").T for cb in codebooks]  # sub×ks
    norms = [
        np.array([sum(c * c for c in cent) for cent in cb], dtype="float64")
        for cb in codebooks
    ]

    @F.pandas_udf("array<long>")
    def _codes(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype="object")
        M = np.stack(v.to_numpy()).astype("float64")
        out = np.empty((len(M), m), dtype="int64")
        for j in range(m):
            d = norms[j] - 2.0 * (M[:, j * sub : (j + 1) * sub] @ mats[j])
            out[:, j] = d.argmin(axis=1) + 1
        return pd.Series(list(out))

    return _codes


def _pq_lut_udf(codebooks: list[list[list[float]]]):
    """Per-query ADC lookup table: array<array<double>> where
    lut[j][c] = ⟨q_sub_j, codebook[j][c]⟩ — computed once per query,
    broadcast with it; scoring a corpus vector is then m array lookups
    instead of a dim-wide dot product. Arrow-built for the same driver-
    time reason as ``_probe_cells_udf`` (an unrolled m×ks×sub SQL tree
    costs ~1.7 s of Catalyst analysis per build)."""
    sub = len(codebooks[0][0])
    m = len(codebooks)
    mats = [np.array(cb, dtype="float64").T for cb in codebooks]  # sub×ks

    @F.pandas_udf("array<array<double>>")
    def _lut(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype="object")
        M = np.stack(v.to_numpy()).astype("float64")
        out = []
        for row in M:
            out.append(
                [list(row[j * sub : (j + 1) * sub] @ mats[j]) for j in range(m)]
            )
        return pd.Series(out)

    return _lut


def _adc_score(codes_name: str, lut_name: str, m: int):
    """Lambda-free ADC score: Σⱼ lut[j][codes[j]] unrolled over the
    ``m`` subspaces (left-associated, bit-identical to the
    aggregate/zip_with fold it replaced — BASELINE.md round-4 note)."""
    return F.expr(
        "("
        + " + ".join(
            f"element_at(element_at({lut_name}, {j}),"
            f" CAST(element_at({codes_name}, {j}) AS INT))"
            for j in range(1, m + 1)
        )
        + ")"
    )


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Compress the corpus to (id, codes): m small ints per vector —
    m bytes against dim×4 for float32 (32× at the 64-dim/8-subspace
    default). At 100 TB the encoded table is what lives hot; the float
    vectors stay in cold storage for optional exact re-ranking."""
    return emb.select(
        F.col(id_col), _pq_codes_udf(codebooks)(F.col(vec_col)).alias("codes")
    )


def pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    ks: int = 16,
    codebooks: list[list[list[float]]] | None = None,
    encoded: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC): the
    corpus is scanned in compressed form (codes only), each query
    carries its LUT, and the approximate dot is the sum of m table
    lookups — ``zip_with(codes, lut) → element_at`` — entirely JVM
    expressions. Exactness oracle is ``brute_force_topk``; composes
    with IVF (encode within probed cells) for the full IVF-PQ layout.
    Pass ``encoded`` (a ``pq_encode`` result, materialized at ingest)
    to search the compressed table directly — the 100 TB shape, where
    encoding happens once per corpus, not once per query."""
    if codebooks is None:
        codebooks = build_pq_codebooks(emb, m, ks, id_col, vec_col)
    e = encoded if encoded is not None else pq_encode(emb, codebooks, id_col, vec_col)
    q = queries.select(
        F.col(query_id_col), _pq_lut_udf(codebooks)(F.col(query_vec_col)).alias("lut")
    )
    score = _adc_score("codes", "lut", len(codebooks))
    scored = e.crossJoin(F.broadcast(q)).select(
        F.col(query_id_col), F.col(id_col), F.round(score, 6).alias("score")
    )
    return _rank_topk(scored, k, "score", query_id_col, id_col)


def write_ivfpq_partitioned(
    emb: DataFrame,
    path: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
) -> None:
    """Ingest-time residual IVF-PQ layout: the corpus is written as
    (id, codes) parquet PARTITIONED BY cell — the compressed
    billion-vector layout on disk. Read it back as
    ``ivfpq_topk(..., residual=True, encoded=spark.read.parquet(path))``:
    a probe then reads ``n_probes/n_centroids`` of the FILES (partition
    pruning) and each file holds m-byte codes instead of d×4-byte
    floats, so the scan cost drops multiplicatively: pruning ×
    compression. Float vectors stay in cold storage for optional exact
    re-ranking (:func:`rerank_topk`).

    ``mode="append"`` is incremental index maintenance: a NEW batch is
    encoded with the existing (frozen) quantizers and appended — existing
    cell files are untouched (append creates new files inside each
    affected leaf), so a day's arrivals cost a day's encode, never a
    rebuild. This is the ANN twin of the engine's incremental-load
    contract (watermark → delta → append); codebook drift over many
    appends is a re-train decision, not an operational one — the layout
    stays queryable throughout."""
    _residual_encode(emb, centroids, codebooks, id_col, vec_col).write.mode(
        mode
    ).partitionBy("__cell").parquet(path)


def rerank_topk(
    approx: DataFrame,
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact re-ranking — the second stage of standard two-stage
    retrieval: an approximate searcher (PQ/IVF-PQ) returns a top-N
    candidate set; this joins the candidates BACK to their float
    vectors (the only moment cold storage is touched, for N·Q rows,
    not the corpus) and re-scores them exactly. Recall can only
    improve: the exact order of a superset of the approximate top-k
    contains at least as many true neighbors (pytest-pinned).
    ``approx`` is any (query_id, vec_id) frame — typically
    ``ivfpq_topk(..., k=N)`` with N of 3-10× the final k."""
    cand = approx.select(query_id_col, id_col)
    withv = cand.join(emb.select(id_col, vec_col), id_col).join(
        F.broadcast(queries.select(query_id_col, query_vec_col)), query_id_col
    )
    scored = withv.select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(dot_flat(vec_col, query_vec_col, dim), 6).alias("cos"),
    )
    return _rank_topk(scored, k, "cos", query_id_col, id_col)


def refine_pq_codebooks(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    iters: int = 1,
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Per-subspace k-means refinement of the seed codebooks (the PQ
    twin of the IVF Lloyd step): assign every vector's subspace slice
    to its nearest code, replace each code with the mean of its
    assignees. Each iteration is one encode pass plus m small
    aggregations; codes with no assignees keep their seed. Like the
    IVF Lloyd variant, the refined build is distribution-dependent, so
    its quality is pinned by recall tests rather than the SQL oracle."""
    sub = len(codebooks[0][0])
    for _ in range(iters):
        codes = emb.select(
            F.col(vec_col).alias("__v"),
            _pq_codes_udf(codebooks)(F.col(vec_col)).alias("__codes"),
        ).localCheckpoint()
        new = []
        for j, cb in enumerate(codebooks):
            means = (
                codes.groupBy(F.element_at("__codes", j + 1).alias("__c"))
                .agg(
                    *[
                        F.avg(F.col("__v").getItem(j * sub + d)).alias(f"m{d}")
                        for d in range(sub)
                    ]
                )
                .collect()
            )
            cbj = list(cb)
            for r in means:
                cbj[int(r["__c"]) - 1] = [float(r[f"m{d}"]) for d in range(sub)]
            new.append(cbj)
        codebooks = new
    return codebooks


def build_residual_pq_codebooks(
    emb: DataFrame,
    centroids: list[list[float]],
    m: int = 8,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    skip: int | None = None,
) -> list[list[list[float]]]:
    """Deterministic RESIDUAL PQ codebooks: the same smallest-md5(id)
    seed sample as :func:`build_pq_codebooks`, but each seed is first
    reduced to its residual against its nearest IVF centroid
    (v − c(cell(v))) before slicing into ``m`` subspaces. Residuals are
    what the PQ actually has to represent inside a cell, so their
    spread is smaller than the raw vectors' and quantization error
    drops — the classic Faiss IVFPQ layout. Seed-cell assignment uses
    sequential Python dots (⟨v,cᵢ⟩ argmax, lowest index on ties) so the
    DuckDB oracle's ``list_dot_product``-based replica sees identical
    intermediate values.

    ``skip`` (default ``len(centroids)``): the PQ seeds are the ks rows
    ranked AFTER the first ``skip`` by md5(id) — DISJOINT from the IVF
    seed set. With overlapping seeds (the naive choice) every PQ seed's
    nearest centroid is itself, every seed residual is exactly zero,
    and the "codebooks" collapse to all-zeros — the score degenerates
    to the bare cell dot (caught empirically in round 5; BASELINE.md)."""
    if skip is None:
        skip = len(centroids)
    seeds = (
        emb.select(
            F.col(id_col), vec_col, F.md5(F.col(id_col).cast("string")).alias("__h")
        )
        .orderBy("__h")
        .limit(skip + ks)
        .collect()[skip:]
    )
    sub = dim // m
    residuals = []
    for r in seeds:
        v = [float(x) for x in r[1]]
        dots = [sum(a * b for a, b in zip(v, c)) for c in centroids]
        cell = max(range(len(dots)), key=lambda i: (dots[i], -i))
        residuals.append([a - b for a, b in zip(v, centroids[cell])])
    return [
        [v[j * sub : (j + 1) * sub] for v in residuals] for j in range(m)
    ]


def _residual_encode(
    emb: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The residual IVF-PQ corpus (id, ``__cell``, codes) — exactly
    what :func:`write_ivfpq_partitioned` puts on disk. One Arrow UDF
    pass per batch: one matmul assigns cells (argmax ⟨v,cᵢ⟩, first max
    on ties), the assigned centroid is subtracted, and the RESIDUAL is
    PQ-encoded per subspace (argmin ‖r_sub − cb‖², first min on
    ties)."""
    C = np.array(centroids, dtype="float64")  # k×d
    sub = len(codebooks[0][0])
    m = len(codebooks)
    mats = [np.array(cb, dtype="float64").T for cb in codebooks]  # sub×ks
    norms = [
        np.array([sum(c * c for c in cent) for cent in cb], dtype="float64")
        for cb in codebooks
    ]

    @F.pandas_udf("cell long, codes array<long>")
    def _enc(v: pd.Series) -> pd.DataFrame:
        if not len(v):
            return pd.DataFrame({"cell": [], "codes": []})
        M = np.stack(v.to_numpy()).astype("float64")
        cells = (M @ C.T).argmax(axis=1)
        R = M - C[cells]
        codes = np.empty((len(M), m), dtype="int64")
        for j in range(m):
            d = norms[j] - 2.0 * (R[:, j * sub : (j + 1) * sub] @ mats[j])
            codes[:, j] = d.argmin(axis=1) + 1
        return pd.DataFrame(
            {"cell": (cells + 1).astype("int64"), "codes": list(codes)}
        )

    enc = _enc(F.col(vec_col))
    return emb.select(
        F.col(id_col),
        enc.getField("cell").alias("__cell"),
        enc.getField("codes").alias("codes"),
    )


def ivfpq_topk(
    emb: DataFrame | None,
    queries: DataFrame,
    k: int = 10,
    n_probes: int = 4,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    residual: bool = False,
    encoded: DataFrame | None = None,
) -> DataFrame:
    """The composed IVF-PQ layout — the standard billion-vector ANN
    shape: the IVF coarse quantizer prunes the corpus to the probed
    cells (partition pruning at ingest-partitioned scale), and within
    them scoring runs on PQ codes via ADC (m lookups per candidate, no
    float vectors touched). Each corpus vector carries (cell, codes) —
    both computed once at ingest; a query ships (probe cells, LUT).

    ``residual=False`` quantizes raw vectors (IVF-Flat-PQ);
    ``residual=True`` encodes v − centroid (the classic Faiss IVFPQ
    refinement): the PQ then only has to represent the within-cell
    residual spread, so quantization error drops at identical query cost —
    the score becomes ⟨q,c_cell⟩ + Σⱼ lut[j][codes[j]], with the
    centroid term shipped alongside each probe. ``codebooks`` must
    match the flag (``build_pq_codebooks`` vs
    ``build_residual_pq_codebooks``). Recall ordering
    (residual ≥ flat) is pytest-pinned; both variants are seeded and
    SQL-expressible, so both are hash-checkable relationally.
    Exactness oracle: brute_force_topk.

    ``encoded``: the corpus already in (id, ``__cell``, codes) form,
    built with the same quantizers — typically ``spark.read.parquet``
    of a :func:`write_ivfpq_partitioned` layout (with
    ``residual=True``), where only the probed cells' code files are
    read (PartitionFilters pinned in tests) and no float vector is
    touched on the query path. ``emb`` is then unused. Without it the
    codes are derived from ``emb`` inline; both sources give identical
    results."""
    if centroids is None:
        centroids = build_ivf_centroids(emb, 16, id_col, vec_col, lloyd_iters=0)
    if codebooks is None:
        codebooks = (
            build_residual_pq_codebooks(emb, centroids, 8, 16, id_col, vec_col)
            if residual
            else build_pq_codebooks(emb, 8, 16, id_col, vec_col)
        )
    if encoded is not None:
        e = encoded
    elif residual:
        e = _residual_encode(emb, centroids, codebooks, id_col, vec_col)
    else:
        e = emb.select(
            F.col(id_col),
            _nearest_cell_udf(centroids)(F.col(vec_col)).alias("__cell"),
            _pq_codes_udf(codebooks)(F.col(vec_col)).alias("codes"),
        )
    probe = F.explode(
        _probe_cells_udf(centroids, n_probes)(F.col(query_vec_col))
    ).alias("p")
    q = queries.select(
        F.col(query_id_col),
        _pq_lut_udf(codebooks)(F.col(query_vec_col)).alias("lut"),
        probe,
    ).select(
        query_id_col,
        "lut",
        F.col("p.c").alias("__cell"),
        F.col("p.d").alias("__cell_dot"),
    )
    score = _adc_score("codes", "lut", len(codebooks))
    if residual:
        score = F.col("__cell_dot") + score
    scored = e.join(F.broadcast(q), "__cell").select(
        F.col(query_id_col), F.col(id_col), F.round(score, 6).alias("score")
    )
    return _rank_topk(scored, k, "score", query_id_col, id_col)
