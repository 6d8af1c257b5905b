"""Long-session replay regression — the BASELINE.md round-4 repro, mechanized.

Round 4 proved that Spark's nested higher-order-lambda evaluation can
return context-dependent garbage after ~70 distinct plans execute in one
JVM session (symptom: ``minhash_signature``'s transform-over-lambda
expression produced different wrong values per evaluation context while
fresh sessions and the DuckDB oracle stayed correct — BASELINE.md
round-4 note). The fix rewrote every ANN / dedup hot path lambda-free
(unrolled ``+``-chains, struct-sort probe selection, unrolled ADC); this
test guards that rewrite by mechanizing the exact repro recipe:

1. replay a long prefix of the query registry (> the ~70-plan threshold
   observed) in ONE session, executing every plan;
2. then, in the SAME polluted session, run the ANN flagships and the
   rewritten minhash pipeline and compare their canonical frames against
   the DuckDB oracle (the pin — ground truth that survives testdata
   regeneration, unlike literal hashes).

A regression reintroducing session-context-sensitive evaluation into any
guarded query fails step 2 even though the same query passes in the
fresh-session oracle sweeps.
"""

from __future__ import annotations

from tools.sweep import compare, duck_views

from .conftest import SF_SMOKE

#: queries whose results must stay correct after plan-cache pollution —
#: every consumer of the de-lambda'd expression builders
GUARDED = [
    "similarity_topk_bruteforce",
    "similarity_topk_lsh",
    "similarity_topk_ivf",
    "similarity_topk_ivf_pruned",
    "similarity_topk_pq",
    "similarity_topk_ivfpq",
    "similarity_topk_ivfpq_residual",
    "similarity_topk_ivfpq_pruned",
    "similarity_topk_ivfpq_rerank",
    "embedding_near_dup_lsh",
    "minhash_lsh_dedup_pairs",
    "fuzzy_decontaminate_docs",
    "multimodal_gif_decode",
    "multimodal_png_decode",
    "multimodal_jpeg_decode",
    "multimodal_mjpeg_frames",
    "multimodal_tiff_decode",
    # round-6 continuation: the prefix join consumes shingles() (HOF
    # transform) downstream of heavy plan churn — same guard class
    "prefix_filter_jaccard_pairs",
    # round-6 fifth wave: the incremental band-join variant consumes
    # shingles() + the salted-min signature — same guard class
    "dedup_incremental_new_batch",
    # round-6 seventh wave: semdedup scores pairs through dot_flat (the
    # de-lambda'd single-level fold) and the ingest stream + recall/
    # precision audits consume shingles()/salted-min downstream of plan
    # churn — same guard class
    "semdedup_prune_report",
    "lsh_recall_audit",
    "lsh_precision_funnel",
    "streaming_neardup_ingest",
    # codec-family consumers added late in round 6: the dHash rides the
    # BMP container build and scene detection rides the full JPEG
    # decode — same guard class as the decode queries
    "multimodal_image_dhash_dedup",
    "multimodal_scene_changes",
    "multimodal_wav_vad_segments",
    "multimodal_container_sniff",
    # round-6 final wave: the winnow postings pair expansion was
    # rewritten posexplode+slice (the LAST 2-level nested transform on
    # a checked path) — guard its consumer like minhash after ITS
    # rewrite
    "winnow_containment_pairs",
    # round 7 (VERDICT r6 item #4): both consume the Arrow brute-force
    # scorer / dot_flat fold — same guard class as the ANN queries
    "knn_label_agreement",
    "dbscan_embedding_clusters",
]

#: how many registry entries to replay before checking — comfortably
#: past the ~70 distinct plans at which the round-4 bug triggered
REPLAY_PREFIX = 80


def test_ann_flagships_survive_long_session(spark):
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    # step 1 — pollute: execute a long prefix of distinct plans
    replayed = 0
    for name, fn in qs.items():
        if replayed >= REPLAY_PREFIX:
            break
        fn(spark, SF_SMOKE).collect()
        replayed += 1
    assert replayed >= 70, "registry shrank below the repro threshold"

    # step 2 — assert the guarded queries in the SAME session
    con = duck_views(SF_SMOKE)
    bad = []
    for name in GUARDED:
        spdf = qs[name](spark, SF_SMOKE).toPandas()
        if compare(spdf, con.sql(oracles[name]).fetchdf()):
            bad.append(name)
    assert not bad, f"session-context-sensitive results after replay: {bad}"
