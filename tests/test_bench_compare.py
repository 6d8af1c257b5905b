"""tools/bench_compare.py compares a board only with baselines at its
own scale factor. Temporary board files — no Spark, no bench run."""

from __future__ import annotations

import json

import pytest

from tools import bench_compare


def _board(path, sf, secs):
    path.write_text(json.dumps({
        "metric": "total_s", "value": sum(secs.values()), "unit": "s",
        "queries": secs, "sf": sf,
    }))
    return str(path)


def test_explicit_baseline_at_another_sf_exits_2(tmp_path, capsys):
    new = _board(tmp_path / "new.json", 0.01, {"q": 1.0})
    old = _board(tmp_path / "old.json", 0.1, {"q": 1.0})
    with pytest.raises(SystemExit) as exc:
        bench_compare.main(new, old)
    assert exc.value.code == 2
    err = capsys.readouterr().err
    assert "sf0.1" in err and "sf0.01" in err
    assert bench_compare.main(new, _board(tmp_path / "same.json", 0.01, {"q": 1.0})) == 0


def test_default_baseline_takes_only_boards_at_the_new_sf(tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(bench_compare, "REPO", str(tmp_path))
    new = _board(tmp_path / "new.json", 0.01, {"q": 1.0})
    (tmp_path / "BENCH_ANCHOR.json").write_text(json.dumps(
        {"round": 7, "value": 9.0, "queries": {"q": 9.0}, "sf": 0.1}
    ))
    _board(tmp_path / "BENCH_r08.json", 0.1, {"q": 0.1})
    with pytest.raises(SystemExit) as exc:
        bench_compare.main(new, None)
    assert exc.value.code == 2
    assert "sf0.01" in capsys.readouterr().err
    # a board at the new sf is the baseline; the sf0.1 board (10x
    # faster) and anchor would have flagged or hidden the drift
    _board(tmp_path / "BENCH_r09.json", 0.01, {"q": 1.0})
    assert bench_compare.main(new, None) == 0
    out = capsys.readouterr().out
    assert "baseline anchor" not in out and "total: old=1.0s new=1.0s" in out
