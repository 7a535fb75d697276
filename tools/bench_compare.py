"""Round-over-round bench regression scan on DRIFT-CORRECTED times.

Compares the current BENCH.local.json (or any bench line with a
``queries_drift_corrected`` column) against a prior round's
``BENCH_r{N}.json`` driver artifact, printing entries past the 1.3x
adjudication line and the symmetric fast movers — the standing r11+
protocol (VERDICT r10 task 5: cross-round per-query diffs compare the
corrected column, so a host that drifts mid-run can't manufacture
one-sided "regressions" in late-battery entries).

A prior line without ``queries_fn`` predates builder timing (most of its
entries were timed action-only), so it is compared against the current
run's action-only seconds, ``queries - queries_fn``, raw on both sides;
the header line says so.

Usage: python tools/bench_compare.py [prior.json] [current.json]
Defaults: BENCH_r<latest>.json vs BENCH.local.json.

Reading discipline (pinned across rounds): raw total is the stable
signal; per-query deltas under +-25% and any normalized digit are
noise; entries past 1.3x go to the both-orderings probe on a calm
session (SCALING.md), never straight to a rewrite.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
LINE = 1.3  # the adjudication line
FLOOR = 0.3  # ignore sub-floor entries: scheduler noise dominates them


def _load(path: Path) -> dict:
    d = json.loads(path.read_text())
    # driver artifacts wrap the bench line under "parsed"
    if "parsed" in d and isinstance(d["parsed"], dict):
        d = d["parsed"]
    return d


def _latest_round_file() -> Path:
    rounds = sorted(
        REPO.glob("BENCH_r*.json"),
        key=lambda p: int(re.search(r"r(\d+)", p.name).group(1)),
    )
    if not rounds:
        raise SystemExit("no BENCH_r*.json artifacts found")
    latest = rounds[-1]
    # r11 verdict task 3: the end-of-round archive BENCH_local_r{N}.json
    # carries the full corrected column the driver's compact line drops —
    # prefer it as the prior when one exists for the same round.
    n = int(re.search(r"r(\d+)", latest.name).group(1))
    local = REPO / f"BENCH_local_r{n:02d}.json"
    return local if local.exists() else latest


def main() -> int:
    prior_path = Path(sys.argv[1]) if len(sys.argv) > 1 else _latest_round_file()
    cur_path = Path(sys.argv[2]) if len(sys.argv) > 2 else REPO / "BENCH.local.json"
    prior, cur = _load(prior_path), _load(cur_path)
    # r11 advice: prefer the corrected column on BOTH sides — a prior
    # run that itself drifted (the r10 scenario) contaminates ratios
    # one-sidedly if we fall back to its raw column while the current
    # side is corrected. Driver BENCH_r*.json lines lack the corrected
    # column (stdout budget); the per-round BENCH_local_r{N}.json
    # archive (r11 verdict task 3) carries it — pass that as the prior
    # when it exists.
    if "queries_fn" in cur and "queries_fn" not in prior:
        # A prior without queries_fn predates builder timing: most of its
        # entries were timed action-only, so compare it against the
        # current action-only seconds, raw on both sides.
        q_prior = prior.get("queries") or {}
        q_cur = {
            k: round(v - cur["queries_fn"].get(k, 0.0), 3)
            for k, v in cur["queries"].items()
        }
        prior_col = "RAW"
        cur_col = "RAW action-only = queries - queries_fn"
    else:
        q_prior = prior.get("queries_drift_corrected") or prior.get("queries") or {}
        q_cur = cur.get("queries_drift_corrected") or cur.get("queries") or {}
        prior_col = "corrected" if "queries_drift_corrected" in prior else "RAW"
        cur_col = "corrected" if "queries_drift_corrected" in cur else "RAW"
    common = [k for k in q_cur if k in q_prior and q_prior[k] >= FLOOR]
    print(
        f"prior={prior_path.name} total={prior.get('value')} "
        f"({prior_col} column) | "
        f"current={cur_path.name} total={cur.get('value')} "
        f"({cur_col} column) | "
        f"common>={FLOOR}s: {len(common)}"
    )
    if prior.get("calib_drift_flag") or cur.get("calib_drift_flag"):
        print(
            "NOTE: calib_drift_flag set on "
            + ("prior " if prior.get("calib_drift_flag") else "")
            + ("current" if cur.get("calib_drift_flag") else "")
            + " — treat deltas as artifacts"
        )
    pairs = sorted(
        ((q_cur[k] / q_prior[k], k) for k in common), reverse=True
    )
    slow = [(r, k) for r, k in pairs if r > LINE]
    fast = [(r, k) for r, k in pairs if r < 1 / LINE]
    print(f"\npast the {LINE}x line ({len(slow)}) — adjudicate both-orderings:")
    for r, k in slow:
        print(f"  {k}: {q_prior[k]} -> {q_cur[k]} ({r:.2f}x)")
    print(f"\nfaster than {1/LINE:.2f}x ({len(fast)}) — symmetry check:")
    for r, k in fast:
        print(f"  {k}: {q_prior[k]} -> {q_cur[k]} ({r:.2f}x)")
    if slow and not fast:
        print("\nONE-SIDED slowdown profile: suspect a real regression or a "
              "slower host; symmetric spread reads as noise.")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
