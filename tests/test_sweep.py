"""tools/sweep.py: the one timing rule, name selection and checkout
resolution that bench.py and the tools share, and bench.py's stdout
contract."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from tools import sweep

from .conftest import SF_SMOKE

REPO = Path(__file__).resolve().parent.parent

#: bench.py's rows: the board's 41 query rows, then the build rows
BENCH_ROWS = [
    "incremental_watermark_load", "q1_pricing_summary", "q5_revenue_by_nation",
    "window_topk_per_group", "json_extract_props", "q3_top_unshipped_orders",
    "doc_text_stats", "dedup_exact_docs", "minhash_lsh_dedup_pairs",
    "embedding_near_dup_lsh", "similarity_topk_bruteforce", "similarity_topk_lsh",
    "similarity_topk_ivf", "sessionization_stats", "asof_join_last_click",
    "streaming_hourly_rollup", "tfidf_top_terms", "streaming_attribution_join",
    "similarity_topk_pq", "similarity_topk_ivfpq_residual", "percentile_stats",
    "skew_salted_agg", "sequence_packing_stats", "hll_portable_distinct",
    "bloom_prefilter_semi", "prefix_filter_jaccard_pairs", "pagerank_event_graph",
    "skyline_orders_2d", "triangle_count_copurchase", "kcore_copurchase",
    "dedup_incremental_new_batch", "bitmap_retention_days", "dedup_substring_spans",
    "semdedup_prune_report", "doc_topgram_repetition", "theilsen_slope_hourly",
    "ks_value_drift", "knn_label_agreement", "dbscan_embedding_clusters",
    "unigram_em_refine", "item_similarity_topk", "build_ivfpq_quantizers",
    "build_ivfpq_layout_write", "build_ivfpq_append_1k", "build_band_index_write",
    "build_band_index_append_1k", "dedup_probe_persisted_index",
    "dedup_probe_persisted_100", "build_zordered_write", "build_dv_delete",
]


def _reps(script):
    """A ``best_of`` rep that replays ``script[row][i]`` = (seconds,
    clean) for each row, and the list of rep indices it was called with."""
    calls = []

    def rep(i):
        calls.append(i)
        return {row: runs[i] for row, runs in script.items()}

    return rep, calls


def test_best_of_takes_the_min_and_no_extra_rep_when_every_row_ran_clean():
    rep, calls = _reps({"a": [(3.0, True), (1.2344, False), (2.0, True)]})
    assert sweep.best_of(rep, 3, 4) == ({"a": 1.234}, 0)
    assert calls == [0, 1, 2]


def test_best_of_extends_only_while_a_row_has_no_clean_rep():
    """Row b has no clean rep in the standard two: extra reps run and
    stop at b's first clean one; a's extra timings still count toward
    its minimum."""
    rep, calls = _reps(
        {
            "a": [(2.0, True), (2.0, True), (1.0, True), (0.5, True), (0.1, True)],
            "b": [(5.0, False), (4.0, False), (6.0, False), (7.0, True), (0.1, True)],
        }
    )
    assert sweep.best_of(rep, 2, 3) == ({"a": 0.5, "b": 4.0}, 2)
    assert calls == [0, 1, 2, 3]


def test_best_of_stops_after_extra_reps_even_without_a_clean_one():
    rep, calls = _reps({"a": [(1.0, False)] * 10})
    assert sweep.best_of(rep, 4, 4) == ({"a": 1.0}, 4)
    assert calls == list(range(8))
    rep, calls = _reps({"a": [(1.0, False)] * 10})
    assert sweep.best_of(rep, 2, 0) == ({"a": 1.0}, 0)
    assert calls == [0, 1]


def test_timed_is_clean_by_the_steal_rate(monkeypatch):
    """20 jiffies/s over at least 0.05 s: a 1-jiffy rise is clean, a
    100-jiffy rise over a near-instant rep is not; unreadable steal
    counts as clean."""
    for rise, clean in ((1, True), (100, False)):
        readings = iter((1000, 1000 + rise))
        monkeypatch.setattr(sweep, "steal_jiffies", lambda: next(readings))
        sec, ok = sweep.timed(lambda: None)
        assert sec >= 0 and ok is clean
    monkeypatch.setattr(sweep, "steal_jiffies", lambda: None)
    assert sweep.timed(lambda: None)[1] is True


def test_pick_rejects_unknown_names_and_keeps_registry_order(capsys):
    registry = {"a": 1, "b": 2, "c": 3}
    assert sweep.pick(["c", "a"], registry, ["b"]) == ["a", "c"]
    assert sweep.pick([], registry, ["b"]) == ["b"]
    with pytest.raises(SystemExit) as exc:
        sweep.pick(["a", "nope"], registry, registry)
    assert exc.value.code == 2
    assert "nope" in capsys.readouterr().err


def test_compare_lists_every_mismatch():
    import pandas as pd

    spark = pd.DataFrame({"k": [2, 1], "v": ["b", "a"]})
    assert sweep.compare(spark, pd.DataFrame({"v": ["a", "b"], "k": [1, 2]})) == []
    assert sweep.compare(spark, pd.DataFrame({"k": [1.0, 2.0], "v": ["a", "b"]})) == [
        "values differ, first diffs: [(('1', 'a'), ('1.0', 'a')), (('2', 'b'), ('2.0', 'b'))]"
    ]
    assert sweep.compare(spark, pd.DataFrame({"k": [1], "w": ["a"]})) == [
        "cols spark=['k', 'v'] duck=['k', 'w']",
        "rowcount spark=2 duck=1",
    ]
    unsortable = pd.DataFrame({"k": [[1], [2]], "v": ["a", "b"]})
    assert sweep.compare(unsortable, unsortable)[0].startswith("canonicalizer crash")


def test_board_names_are_the_registered_board_rows():
    from cs_tutorial_reporting_spark.queries import QUERIES

    assert sweep.board_names(QUERIES) == BENCH_ROWS[:41]


@pytest.mark.parametrize(
    "script, args",
    [
        ("bench.py", []),
        ("tools/check_oracle.py", ["{tmp}", "incremental_watermark_load"]),
        ("tools/explain_audit.py", ["{tmp}", "incremental_watermark_load"]),
        ("tools/plain_session_check.py", ["{tmp}", "incremental_watermark_load"]),
        ("tools/timing_census.py", ["{tmp}"]),
        ("tools/capture_plans.py", ["{tmp}/plans", "x"]),
        ("tools/scan_census.py", ["{tmp}"]),
    ],
)
def test_tools_import_the_engine_of_their_own_checkout(tmp_path, script, args):
    """Run from a copy of the repository, each entry point imports the
    copy's engine — here a stub that exits naming its own file."""
    shutil.copytree(REPO / "tools", tmp_path / "tools")
    shutil.copy(REPO / "bench.py", tmp_path)
    (tmp_path / "__spark_entry__.py").write_text("import cs_tutorial_reporting_spark\n")
    pkg = tmp_path / "cs_tutorial_reporting_spark"
    pkg.mkdir()
    (pkg / "__init__.py").write_text('raise SystemExit("stub engine at " + __file__)\n')
    out = subprocess.run(
        [sys.executable, str(tmp_path / script)]
        + [a.format(tmp=tmp_path) for a in args],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=tmp_path,
    )
    assert f"stub engine at {pkg / '__init__.py'}" in out.stderr, out.stderr[-2000:]


def test_check_oracle_runs_a_copy_from_any_directory(tmp_path):
    """The copy's engine is the one checked, in the main process and in
    the Python UDF workers, whatever the working directory."""
    copy = tmp_path / "copy"
    for part in ("tools", "cs_tutorial_reporting_spark"):
        shutil.copytree(
            REPO / part, copy / part, ignore=shutil.ignore_patterns("__pycache__")
        )
    shutil.copy(REPO / "__spark_entry__.py", copy)
    out = subprocess.run(
        [sys.executable, str(copy / "tools/check_oracle.py"), SF_SMOKE,
         "multimodal_wav_decode"],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=tmp_path,
    )
    assert f"engine: {copy / 'cs_tutorial_reporting_spark' / '__init__.py'}" in out.stdout
    assert out.returncode == 0, out.stdout[-2000:]
    assert "1/1 queries match" in out.stdout


def test_capture_plans_rejects_an_unknown_name(tmp_path):
    out = subprocess.run(
        [sys.executable, str(REPO / "tools/capture_plans.py"), str(tmp_path), "x",
         "incremental_watermark_load", "no_such_query"],
        capture_output=True,
        text=True,
        timeout=300,
        env={**os.environ, "SPARK_GRAFT_SF_DIR": SF_SMOKE},
    )
    assert out.returncode == 2
    assert "no_such_query" in out.stderr
    assert list(tmp_path.iterdir()) == []


def test_bench_prints_one_json_line_with_the_board_rows():
    out = subprocess.run(
        [sys.executable, str(REPO / "bench.py")],
        capture_output=True,
        text=True,
        timeout=1200,
        env={**os.environ, "SPARK_GRAFT_SF_DIR": SF_SMOKE},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.splitlines()
    assert len(lines) == 1
    board = json.loads(lines[0])
    assert set(board) == {"metric", "value", "unit", "queries", "sf", "load"}
    assert board["metric"] == "headline_queries_total_wall"
    assert (board["unit"], board["sf"]) == ("sec", 0.001)
    assert sorted(board["queries"]) == sorted(BENCH_ROWS)
    assert all(sec > 0 for sec in board["queries"].values())
    assert board["value"] == pytest.approx(sum(board["queries"].values()), abs=0.01)
    assert {"steal_jiffies", "retried_reps"} <= set(board["load"])
