"""Same-file re-scan census — the r11 sweep that found three real
double-evaluation fixes (gap-explode gapfill, one-pass anomaly stats,
min_by exact_dedup, explode-symmetrized item similarity).

    python tools/scan_census.py [sf_dir] [query ...]

For every registered query (or the named subset), count parquet Scan
nodes PER DISTINCT FILE in the formatted plan and print queries that
scan the same file more than once — the signature of an expensive
frame consumed twice without materialization (the r8 hazard class at
the scan level). Review aid like explain_audit: exit is always 0; a
hit needs adjudication, not an automatic fix. KNOWN-BY-DESIGN shapes
(adjudicated r11) live in ADJUDICATED below with their reasons — a hit
NOT in that dict is worth reading.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
from collections import Counter

import sweep

#: query → reason its same-file multi-scan is the intended semantics.
#: Each entry was read (not guessed) during the r11 census.
ADJUDICATED: dict[str, str] = {
    # self-joins / correlated subqueries: both sides ARE the table
    "incremental_watermark_load": "loaded-split vs incoming-split of one table is the EP2 demo",
    "asof_join_last_click": "events-vs-events as-of self-join",
    "asof_join_next_event": "events-vs-events as-of self-join",
    "composite_pk_dedup": "anti-join dedup: existing keys vs batch from one table",
    "join_full_outer": "self full-outer demo",
    "union_by_name_missing": "set-op surface demo over derived views",
    "set_ops": "UNION/INTERSECT/EXCEPT demo: one leg per operator by definition",
    "subquery_exists_anti": "EXISTS + NOT EXISTS legs",
    "scalar_subquery_above_avg": "scalar subquery re-reads the table",
    "correlated_min_subquery": "de-correlated min subquery",
    "q7_nation_pair_revenue": "nation joined as supplier-side and customer-side dims",
    "q8_market_share": "nation twice: supplier nation + market nation",
    "q11_important_parts": "group-HAVING threshold = scalar over the same fact",
    "q15_top_supplier": "view-max equality reads the view twice",
    "q17_small_quantity_revenue": "per-part avg subquery",
    "q22_dormant_balances": "avg-balance scalar subquery",
    "percentile_stats": "exact percentile legs per column demo",
    "skyline_orders_2d": "dominance anti-join is a self-join",
    "benford_digit_audit": "observed vs expected legs",
    "flag_contaminated_docs": "bench probe derived from the corpus by construction",
    "ngram_jaccard_consecutive": "consecutive-doc pair self-join",
    "ngram_novelty_scores": "train/score split of one corpus",
    "ngram_cross_domain_rarity": "per-domain LM vs cross-domain probe",
    "doc_chunking_stats": "chunk grid joined back to documents",
    "phrase_search_positional": "positional postings self-intersection",
    "record_linkage_blocked": "blocked pair generation is a self-join",
    "bloom_prefilter_semi": "dim read twice IN ONE PLAN (probe flag + "
    "1-row dim count) — r14 folded two former driver .count() actions "
    "into the result plan; dim is a filtered dimension projection",
    "dedup_substring_spans": "k-gram self-counting",
    "embedding_near_dup_pairs": "exact all-pairs baseline: self cross product",
    "hard_negative_mining": "near-miss pairs: self-join",
    "label_centroid_inertia": "centroids joined back to members",
    "knn_label_agreement": "query matrix collect + corpus scan + label join (Arrow scorer contract)",
    "similarity_topk_bruteforce": "query rows vs corpus from one table",
    "similarity_topk_lsh": "query rows vs bucketed corpus",
    "similarity_topk_ivf": "query rows vs cells",
    "similarity_topk_ivfpq": "query rows vs codes",
    "similarity_topk_ivfpq_residual": "query rows vs codes",
    "similarity_topk_ivfpq_pruned": "query rows vs pruned layout",
    "similarity_topk_ivf_pruned": "query rows vs pruned layout",
    "similarity_topk_ivfpq_rerank": "ADC pass + exact rerank pass (two-stage contract)",
    "embedding_near_dup_lsh": "bucketed corpus is a PERSISTED session artifact — built once at runtime",
    "hybrid_rrf_fusion": "lexical leg + vector leg fused by rank",
    "cms_join_size_estimate": "two sketched relations",
    "cms_heavy_hitters": "CMS build + point-query probes re-derive candidates (sketch demo)",
    "hll_portable_distinct": "register-exact HLL vs exact count legs",
    "hll_merge_shards": "per-shard sketches from one table",
    "hll_intersection_overlap": "inclusion-exclusion needs A, B, A∪B legs",
    "kmv_jaccard_sources": "per-source KMV legs",
    "approx_count_distinct": "exact countDistinct legs + separated HLL agg (r8 ruling)",
    "quantile_sketch_error_audit": "sketch vs exact legs",
    "histogram_quantile_sketch": "sketch vs exact legs",
    "ks_value_drift": "first-half vs second-half ECDF legs",
    "distribution_drift_tv": "first-half vs second-half legs",
    "profile_drift_orders": "old vs new profile legs from one table",
    "snapshot_diff_orders": "old vs new snapshot legs (CDC demo derives both)",
    "matview_join_delta_refresh": "base MV + delta legs (IVM demo derives both)",
    "matview_agg_delta_refresh": "base MV + insert/delete delta legs",
    "fk_candidate_containment": "containment profiling probes each column pair",
    "table_ndv_profile": "per-column NDV legs",
    "constraint_check_report": "per-constraint probe legs",
    "cohort_retention_weekly": "signup cohort vs activity legs",
    "multitouch_attribution_linear": "conversions vs touches from one stream",
    "interval_bucket_join": "intervals vs points from one stream",
    "null_safe_join_props": "<=> self-join demo",
    "join_fanout_hotspots": "join-cardinality audit joins the audited join",
    "bitmap_retention_days": "per-day bitmaps from one stream",
    "rendezvous_shard_rebalance": "before/after HRW assignments",
    "quality_curriculum_phases": "phase boundaries = percentile legs over the corpus",
    "mixture_temperature_sample": "per-source weights leg + sample leg",
    "corpus_cleaning_funnel": "keeper-id leg + flag leg (16-byte-key groupBy, documented)",
    "dedup_exact_docs": "the doubled-corpus UNION is the query's input (2 scans/leg is the union, not a re-eval)",
    "item_similarity_topk": "self-join legs + two broadcast occurrence sides (post-r11 shape)",
    "q18_large_volume_orders": "HAVING-over-facts subquery",
    "q13_customer_order_distribution": "outer-join histogram legs",
    "q21_sole_supplier_orders": "EXISTS/NOT-EXISTS legs over lineitem",
    "q4_order_priority_check": "EXISTS leg",
    "q16_supplier_part_counts": "NOT IN leg",
    "q20_promo_part_suppliers": "nested semi chain",
    "q2_min_cost_supplier": "correlated min over partsupp",
    "q19_disjunctive_predicates": "disjunctive branches",
    "q10_returned_item_revenue": "returned-items leg",
}


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument(
        "--sf-dir", default=None, help="testdata dir (default sf0.01)"
    )
    parser.add_argument("rest", nargs="*", help="[sf_dir] [query ...]")
    cli = parser.parse_args()
    names = list(cli.rest)
    sf_dir = cli.sf_dir
    # positional-dir compatibility: the first positional is the data
    # dir only if it IS a directory on disk — a bare "sf0.1" that
    # doesn't resolve must error, not silently become a query filter
    # (ADVICE r11). A registered query name is never a dir, even if it
    # starts with "sf" (ADVICE r12 — no such name exists today, but a
    # future one must not be misrouted to the isdir check).
    from cs_tutorial_reporting_spark.queries import QUERIES

    looks_like_dir = names and names[0] not in QUERIES and (
        os.path.isdir(names[0])
        or "/" in names[0]
        or names[0].startswith("sf")
    )
    if sf_dir is None and looks_like_dir:
        sf_dir = names.pop(0)
    elif sf_dir is not None and looks_like_dir:
        # both --sf-dir and a dir-looking positional: ambiguous — the
        # positional would silently become a query filter matching
        # nothing and print a green "0 need review" (review r12)
        parser.error(
            f"ambiguous data dir: --sf-dir {sf_dir} plus positional "
            f"{names[0]} — pass one"
        )
    if sf_dir is None:
        sf_dir = "/root/testdata/sf0.01"
    if not os.path.isdir(sf_dir):
        parser.error(f"sf_dir is not a directory: {sf_dir}")

    from cs_tutorial_reporting_spark.session import get_spark

    names = sweep.pick(names, QUERIES, QUERIES)
    spark = get_spark(app_name="scan_census")
    hits = []
    for name in names:
        try:
            plan = sweep.formatted_plan(QUERIES[name].fn(spark, sf_dir))
            locs = Counter(
                re.findall(r"Location: InMemoryFileIndex \[([^\]]+)", plan)
            )
            dup = {k.split("/")[-1]: v for k, v in locs.items() if v > 1}
            if dup:
                hits.append((name, sum(locs.values()), dup))
        except Exception as e:  # explain-time quirks (eager Arrow builds)
            hits.append((name, -1, f"EXPLAIN-ERR {str(e)[:70]}"))
    hits.sort(key=lambda r: -r[1])
    fresh = 0
    for name, total, dup in hits:
        # an explain-time ERROR is never covered by a multi-scan
        # adjudication — the reason text would be irrelevant and the
        # breakage is exactly what the census must surface
        tag = (
            "adjudicated"
            if name in ADJUDICATED and total >= 0
            else "REVIEW"
        )
        if tag == "REVIEW":
            fresh += 1
        print(f"{tag:>11}  {name}: scans={total} dup={dup}")
        if tag == "adjudicated":
            print(f"             └─ {ADJUDICATED[name]}")
    print(f"\n{len(hits)} multi-scan queries, {fresh} need review")
    return 0


if __name__ == "__main__":
    sys.exit(main())
