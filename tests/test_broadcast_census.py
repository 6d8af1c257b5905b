"""Broadcast-hint census, mechanized (SCALE.md round-13/14 rule).

An explicit ``F.broadcast`` hint BYPASSES Spark's size check: at 100 TB
a hinted data-proportional side OOMs where the hint-free plan would
degrade to a shuffled join from real stats. The standing rule — **hint
only what is bounded by construction; let stats/AQE govern anything
that grows with the data** — was enforced by prose census through
round 13 (SCALE.md), which twice missed sites (ADVICE r13 found the
TPC-H supplier/customer/part hints; the r14 sweep found the
item-CF occ counts and the kNN-agreement label projections). This test
makes the census mechanical: every ``F.broadcast`` call site in the
package must appear in the adjudicated allowlist below, keyed by
(module-relative path, enclosing function) with the exact site count.

Adding a hint anywhere forces a diff here — i.e. forces the
adjudication ("why is this side bounded by construction?") to happen
in review, in writing, at commit time. Removing one forces the stale
allowlist row to go too.

Every entry's comment states the boundedness argument. Categories:
  1-row    — scalar aggregate cross-joined back (count/total/max/cut)
  const    — constant-cardinality dim (nation 25, region 5, brands 25,
             event-type enum, CMS width, <=31-day grids, shard lists)
  k-bound  — bounded by an algorithm constant (k centroids, top-N
             vocab, codebooks, query/anchor sets, band-index batch)
  gated    — size-checked in code before the hint (versioned.py DV
             64 MB gate) or explicit caller opt-in (dedup_against)
  twin     — documented small-input variant whose scale path is a
             separate hint-free function (range_join_broadcast)
"""

from __future__ import annotations

import ast
import pathlib
from collections import Counter

PKG = pathlib.Path(__file__).resolve().parent.parent / (
    "cs_tutorial_reporting_spark"
)

#: (relative path, enclosing function) -> number of F.broadcast sites.
ADJUDICATED: dict[tuple[str, str], int] = {
    # twin: documented small-ranges variant; bucketed join is the scale path
    ("operators/asof.py", "range_join_broadcast"): 1,
    # k-bound: LSH plane matrix (n_planes x dim constants)
    ("operators/dedup.py", "bucket_corpus"): 1,
    # k-bound: benchmark gram hashes — eval suites are small by definition
    ("operators/dedup.py", "flag_contaminated"): 1,
    # k-bound: O(batch) probe keys / band ids — probe batches are bounded
    ("operators/dedup.py", "probe_band_index"): 3,
    # k-bound: e6 integer centroid table (labels x dims)
    ("operators/dedup.py", "semdedup_report"): 2,
    # 1-row: PPM normalization total
    ("operators/graph.py", "_normalize_ppm"): 1,
    # gated: hint only on explicit caller opt-in; default stats-driven
    ("operators/incremental.py", "dedup_against"): 1,
    # k-bound: broadcast query matrix (|Q| bounded; corpus never ships)
    ("operators/similarity.py", "_arrow_candidates"): 1,
    ("operators/similarity.py", "brute_force_topk"): 1,
    ("operators/similarity.py", "ivf_topk"): 1,
    ("operators/similarity.py", "ivfpq_topk"): 1,
    ("operators/similarity.py", "lsh_topk"): 1,
    ("operators/similarity.py", "pq_topk"): 1,
    ("operators/similarity.py", "rerank_topk"): 1,
    # 1-row: corpus totals (N, avgdl fold)
    ("operators/tfidf.py", "tfidf_top_terms"): 1,
    # k-bound: top-V vocab + alphabet piece tables
    ("operators/unigram_lm.py", "seed_piece_scores"): 1,
    ("operators/unigram_lm.py", "viterbi_dp_table"): 1,
    ("operators/unigram_lm.py", "viterbi_paths_arrow"): 1,
    # 1-row: exact-distinct audit side of the sketch comparison
    ("queries.py", "approx_count_distinct"): 1,
    # const: nation(25) / region(5) — q5's customer/supplier hints were
    # dropped r13; only the constant dims stay hinted (plan-pinned)
    ("queries.py", "q5_revenue_by_nation"): 2,
    # k-bound: per-source rate tables (source enum) x2
    ("queries_ext.py", "mixture_temperature_sample"): 2,
    ("queries_ext.py", "stratified_sample"): 1,
    # const: per-event-type exact audit side (event-type enum)
    ("queries_scale.py", "hll_portable_distinct"): 1,
    # const: CMS sketch rows per depth (width W constant)
    ("queries_scale.py", "cms_heavy_hitters"): 1,
    # 1-row totals / const small sides (see each function's docstring)
    ("queries_scale.py", "bm25_rank_topk"): 2,  # term-df (fixed query terms) + 1-row corpus totals
    ("queries_scale.py", "pareto_revenue_coverage"): 1,  # const: nation
    ("queries_scale.py", "event_type_lift_pairs"): 3,  # const: type enum x2 + 1-row n_users
    ("queries_scale.py", "ks_value_drift"): 1,  # 1-row KS stat side
    ("queries_scale.py", "label_centroid_inertia"): 1,  # k-bound: centroids
    ("queries_scale.py", "table_ndv_profile"): 1,  # per-col exact audit (col count const)
    ("queries_scale.py", "quota_waterfall_mix"): 2,  # 1-row totals x2
    ("queries_scale.py", "bitmap_retention_days"): 1,  # const: <=31-row day grid
    ("queries_scale.py", "kmv_jaccard_sources"): 3,  # const: source-pair dim + per-source size table x2 (S rows < S^2 dim rows, same source-enum bound)
    ("queries_scale.py", "event_trigram_paths"): 1,  # 1-row total
    ("queries_scale.py", "hll_intersection_overlap"): 3,  # const: type-pair dim + 2 register tables (2^p const)
    ("queries_scale.py", "rendezvous_shard_rebalance.assign"): 1,  # const: shard list
    ("queries_scale.py", "acf_hourly_lags"): 1,  # 1-row mean/var
    ("queries_scale.py", "benford_digit_audit"): 1,  # 1-row total
    ("queries_scale.py", "distribution_drift_tv"): 2,  # 1-row per-window totals
    ("queries_scale.py", "equidepth_partition_bounds"): 1,  # 1-row bounds
    ("queries_scale.py", "quantile_normalize_doclen"): 1,  # 1-row n_total
    # 1-row scalar subquery sides
    ("queries_surface.py", "scalar_subquery_above_avg"): 1,
    ("queries_surface.py", "string_agg_suppliers"): 1,  # const: nation
    # const: brand_min (25 brands) — the de-correlated grouped-min dim
    ("queries_tpch.py", "correlated_min_subquery"): 1,
    ("queries_tpch.py", "q10_returned_item_revenue"): 1,  # const: nation
    ("queries_tpch.py", "q11_important_parts"): 1,  # 1-row global cut
    ("queries_tpch.py", "q15_top_supplier"): 1,  # 1-row max revenue
    ("queries_tpch.py", "q21_sole_supplier_orders"): 1,  # const: nation
    ("queries_tpch.py", "q22_dormant_balances"): 1,  # 1-row avg threshold
    ("queries_tpch.py", "q2_min_cost_supplier"): 2,  # const: nation + region
    ("queries_tpch.py", "q7_nation_pair_revenue"): 2,  # const: 2-row nation pair x2
    ("queries_tpch.py", "q8_market_share"): 3,  # const: nation(x2) + region
    ("queries_tpch.py", "q9_product_profit"): 1,  # const: nation
    # k-bound: per-dim pair grids / k x d covariance blocks
    ("queries_training.py", "embedding_dim_covariance_topk"): 5,
    ("queries_training.py", "hard_negative_mining"): 1,  # k-bound: anchor set
    ("queries_training.py", "quality_curriculum_phases"): 2,  # 1-row quartile bounds x2
    ("queries_training.py", "unigram_bits_per_token"): 1,  # k-bound: vocab
    ("queries_training.py", "unigram_em_refine"): 1,  # k-bound: vocab
    ("queries_training.py", "unigram_piece_usage"): 1,  # k-bound: vocab
    # gated: DV side broadcasts only <=64 MB payload (shuffle+AQE above)
    ("sources/versioned.py", "_minus_deleted"): 1,
    # k-bound: micro-batch id set (O(trigger))
    ("streaming/incremental.py", "run_neardup_ingest_stream.probe"): 1,
}


def _census() -> Counter:
    found: Counter = Counter()
    for f in sorted(PKG.rglob("*.py")):
        src = f.read_text()
        if "broadcast" not in src:
            continue
        rel = str(f.relative_to(PKG))
        tree = ast.parse(src)
        stack: list[str] = []
        sites: list[str] = []

        class V(ast.NodeVisitor):
            def visit_FunctionDef(self, node):
                stack.append(node.name)
                self.generic_visit(node)
                stack.pop()

            visit_AsyncFunctionDef = visit_FunctionDef

            def visit_Call(self, node):
                fn = node.func
                hit = (
                    isinstance(fn, ast.Attribute) and fn.attr == "broadcast"
                ) or (isinstance(fn, ast.Name) and fn.id == "broadcast")
                if hit:
                    sites.append(".".join(stack) or "<module>")
                self.generic_visit(node)

        V().visit(tree)
        for fn_name in sites:
            found[(rel, fn_name)] += 1
    return found


def test_every_broadcast_hint_is_adjudicated():
    found = _census()
    expected = Counter(ADJUDICATED)
    new = {k: v for k, v in found.items() if v > expected.get(k, 0)}
    gone = {k: v for k, v in expected.items() if v > found.get(k, 0)}
    assert not new, (
        "UNADJUDICATED F.broadcast site(s) — a hint bypasses Spark's "
        "size check and OOMs on a data-proportional side at scale. "
        "Prove the side is bounded by construction and add it to "
        f"ADJUDICATED with the argument, or drop the hint: {new}"
    )
    assert not gone, (
        "stale ADJUDICATED row(s) — the hint was removed; delete the "
        f"allowlist entry too: {gone}"
    )
