"""Per-query bench regression report vs the best-ever recorded time.

    python tools/bench_compare.py [new_bench.json] [old_bench.json]

``new`` defaults to running ``bench.py`` fresh; ``old`` defaults to the
per-query BEST across every ``BENCH_r*.json`` in the repo root (latest
round's total is still shown for context). Only boards at the new
board's scale factor count: a baseline at another ``sf`` exits 2, and
so does a default baseline with no board left at it. Comparing against
best-ever — not just the previous round — stops slow drift from compounding:
three rounds of +30% each stay under a 1.5× per-round gate but trip a
best-ever gate at round two. Flags any query >1.5× slower BOTH in raw
ratio AND relative to the board's median drift (exit 1) so a perf
regression is as loud as a correctness one, while lock-step host drift
— the twice-observed, A/B-confirmed noise mode (BASELINE.md rounds
5-6) — is divided out instead of flagged. Median drift beyond 2× fails
outright: normalization isn't trustworthy there, run the
identical-code worktree A/B. Queries present on only one side are
listed but never flagged (new/renamed queries have no baseline).
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys
from typing import NoReturn

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FLAG_RATIO = 1.5


def _board(path: str) -> dict:
    """A recorded board: bench.py's JSON line, or a round record that
    holds it under ``parsed``."""
    with open(path) as f:
        doc = json.load(f)
    return doc.get("parsed", doc)


def _refuse(msg: str) -> NoReturn:
    print(f"bench_compare: {msg}", file=sys.stderr)
    raise SystemExit(2)


def _load_old(path: str | None, sf) -> dict:
    """The baseline board at scale factor ``sf`` (the new board's)."""
    if path is not None:
        payload = _board(path)
        if payload.get("sf") != sf:
            _refuse(
                f"baseline {os.path.basename(path)} is at sf{payload.get('sf')}, "
                f"the new board at sf{sf}: times at different scale factors "
                "do not compare"
            )
        print(f"baseline: {os.path.basename(path)} "
              f"(total {payload['value']}s at sf{payload['sf']})")
        return payload
    rounds = sorted(glob.glob(os.path.join(REPO, "BENCH_r*.json")))
    # Same-epoch baseline anchor (round 7, BASELINE.md escalation path):
    # best-evers recorded in a FASTER HOST EPOCH make every later round
    # flag spuriously (three r6 rows moved 1.43-1.60x with untouched
    # code; all re-measured <=1.22x vs best solo). BENCH_ANCHOR.json is
    # a quiesced full board recorded at epoch reset; when present, the
    # comparison base is the per-query best over {anchor} union {rounds
    # >= anchor round} — older epochs' numbers stop being the gate.
    best: dict[str, float] = {}
    floor_round, from_anchor = 0, ""
    anchor_path = os.path.join(REPO, "BENCH_ANCHOR.json")
    if os.path.exists(anchor_path):
        with open(anchor_path) as f:
            anchor = json.load(f)
        floor_round = int(anchor.get("round", 0))
        if anchor.get("sf") == sf:
            best.update(anchor["queries"])
            from_anchor = "anchor + "
            print(f"baseline anchor: BENCH_ANCHOR.json (epoch r{floor_round}, "
                  f"quiesced total {anchor.get('value')}s)")
    payload = None
    used = 0
    for p in rounds:
        rnd = int(re.search(r"_r(\d+)", p).group(1))
        board = _board(p)
        if rnd < floor_round or board.get("sf") != sf:
            continue  # pre-anchor epoch or another sf: never the gate
        payload, used = board, used + 1
        for q, sec in payload["queries"].items():
            best[q] = min(sec, best.get(q, sec))
    if not best:
        _refuse(f"no BENCH_ANCHOR.json or BENCH_r*.json board at sf{sf}")
    print(f"baseline: best across {from_anchor}{used} same-epoch rounds at sf{sf}"
          + (f" (latest total {payload['value']}s)" if payload else ""))
    return {"queries": best, "value": round(sum(best.values()), 3)}


def _load_new(path: str | None) -> dict:
    if path is not None:
        return _board(path)
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True, text=True, check=True,
    )
    # forward bench.py's host-conditions stamp — captured stderr would
    # otherwise swallow it, and flags are dispositioned against load
    for l in proc.stderr.splitlines():
        if "host load" in l:
            print(l)
    line = [
        l for l in proc.stdout.splitlines() if re.match(r'^\{"metric"', l)
    ][-1]
    return json.loads(line)


#: lock-step host drift beyond this is too large to normalize away —
#: demand a same-day identical-code A/B (BASELINE.md round-6 note)
#: before trusting ANY number from the run
GLOBAL_DRIFT_LIMIT = 2.0


def main(new_path: str | None, old_path: str | None) -> int:
    new = _load_new(new_path)
    old = _load_old(old_path, new.get("sf"))
    oq, nq = old["queries"], new["queries"]
    # the board's own host-conditions stamp (in-JSON since r14) — flags
    # on a board whose 15-min load was >= 0.5 are contention suspects
    stamp = new.get("load")
    if stamp:
        steal = stamp.get("steal_jiffies")
        print(f"new-board host load stamp: 1m={stamp.get('load_1m')} "
              f"15m={stamp.get('load_15m')}"
              + (f" steal={steal}j" if steal is not None else "") +
              f" ({'QUIESCED' if stamp.get('load_15m', 9) < 0.5 else 'WARM — treat flags as contention suspects'})")
    # Median drift across the comparable board estimates the HOST's
    # speed delta vs the rounds that recorded the best-evers: per the
    # twice-observed bench-variance rule (BASELINE.md rounds 5-6,
    # confirmed by an identical-code worktree A/B), untouched queries
    # moving in lock-step is environment, not regression. A query is
    # flagged only when it exceeds the gate AFTER dividing out that
    # shared drift — i.e. it moved relative to its peers.
    ratios = sorted(
        nq[k] / oq[k] for k in set(oq) & set(nq) if oq[k]
    )
    med = ratios[len(ratios) // 2] if ratios else 1.0
    flagged = []
    print(f"host drift (median ratio over {len(ratios)} queries): {med:.2f}x")
    if med >= 1.2:
        print(
            f"MEDIAN DRIFT {med:.2f}x LOCK-STEP: host artifact suspected "
            "REGARDLESS of the load stamp (r14: a QUIESCED-stamped board "
            "read 1.26x median during a hypervisor-neighbor burst — guest "
            "steal time is invisible to loadavg; BASELINE.md round-14 "
            "note). Disposition any flags below by solo best-of-4 "
            "reproduction; do not chase rows."
        )
    print(f"{'query':<32} {'old':>7} {'new':>7} {'ratio':>6} {'vs-board':>8}")
    for name in sorted(set(oq) | set(nq)):
        o, n = oq.get(name), nq.get(name)
        if o is None or n is None:
            print(f"{name:<32} {o or '-':>7} {n or '-':>7}   (one side only)")
            continue
        ratio = n / o if o else float("inf")
        rel = ratio / med
        mark = "  <-- SLOWER" if rel > FLAG_RATIO and ratio > FLAG_RATIO else ""
        print(f"{name:<32} {o:>7.3f} {n:>7.3f} {ratio:>5.2f}x {rel:>6.2f}x{mark}")
        if rel > FLAG_RATIO and ratio > FLAG_RATIO:
            flagged.append(name)
    print(f"\ntotal: old={old['value']}s new={new['value']}s "
          f"({new['value'] / old['value']:.2f}x)")
    if med > GLOBAL_DRIFT_LIMIT:
        print(
            f"GLOBAL SLOWDOWN: median drift {med:.2f}x > "
            f"{GLOBAL_DRIFT_LIMIT}x — normalization is not trustworthy at "
            "this magnitude; run the identical-code worktree A/B "
            "(BASELINE.md round-6 note) to attribute it"
        )
        return 1
    if flagged:
        print(f"REGRESSION: {flagged} exceeded {FLAG_RATIO}x vs the board")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(
        main(
            sys.argv[1] if len(sys.argv) > 1 else None,
            sys.argv[2] if len(sys.argv) > 2 else None,
        )
    )
