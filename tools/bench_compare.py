"""Round-over-round bench regression scan.

Compares the current BENCH.local.json against a prior bench line. When
both lines carry ``entries`` (each entry's measurement record,
``bench.time_entry``), it prints the entries past the 1.3x adjudication
line, and the symmetric fast movers, on fn+action seconds and on engine
``cpu_s``, then every entry whose builder or action ``jobs``, ``stages``
or ``shuffle_mb`` moved.

A prior line without ``entries`` (every ``BENCH_r*.json``) is compared
raw, on ``queries``; the header line says so. If that prior also lacks
``queries_fn`` it predates builder timing (most of its entries were
timed action-only), so the current side is its action-only seconds.

Usage: python tools/bench_compare.py [prior.json] [current.json]
Defaults: BENCH_r<latest>.json vs BENCH.local.json.

Reading discipline: per-query deltas under +-25% are noise; entries
past 1.3x go to a both-orderings probe (``tools/probe_entry.py``) on a
calm session (SCALING.md), never straight to a rewrite. A counter that
moved is a plan change, not noise.
"""

from __future__ import annotations

import json
import re
import sys
from operator import itemgetter
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from bench import seconds  # noqa: E402

LINE = 1.3  # the adjudication line
FLOOR = 0.3  # ignore sub-floor entries: scheduler noise dominates them
SHUFFLE_TOL = 0.01  # identical runs jitter in the third decimal of shuffle_mb


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
    # The end-of-round archive BENCH_local_r{N}.json carries every entry,
    # the driver's compact line only the slowest that fit: prefer it.
    n = int(re.search(r"r(\d+)", latest.name).group(1))
    local = REPO / f"BENCH_local_r{n:02d}.json"
    return local if local.exists() else latest


def _flag(col: str, q_prior: dict, q_cur: dict) -> None:
    common = [k for k in q_cur if k in q_prior and q_prior[k] >= FLOOR]
    pairs = sorted(((q_cur[k] / q_prior[k], k) for k in common), reverse=True)
    slow = [(r, k) for r, k in pairs if r > LINE]
    fast = [(r, k) for r, k in pairs if r < 1 / LINE]
    print(f"\n{col}: common>={FLOOR}s: {len(common)}")
    print(f"past the {LINE}x line ({len(slow)}) — adjudicate both-orderings:")
    for r, k in slow:
        print(f"  {k}: {q_prior[k]} -> {q_cur[k]} ({r:.2f}x)")
    print(f"faster than {1/LINE:.2f}x ({len(fast)}) — symmetry check:")
    for r, k in fast:
        print(f"  {k}: {q_prior[k]} -> {q_cur[k]} ({r:.2f}x)")
    if slow and not fast:
        print("ONE-SIDED slowdown profile: suspect a real regression or a "
              "slower host; symmetric spread reads as noise.")


def _column(entries: dict, pick) -> dict:
    return {name: pick(record) for name, record in entries.items()}


def _moved(key: str, a: float, b: float) -> bool:
    if key == "shuffle_mb":
        return abs(b - a) > SHUFFLE_TOL * max(a, b, 1e-3)
    return a != b


def _counter_deltas(prior: dict, cur: dict) -> None:
    lines = []
    for name, rec in cur.items():
        old = prior.get(name)
        if old is None:
            continue
        moves = [
            f"{layer} {key} {old[layer][key]} -> {rec[layer][key]}"
            for layer in ("fn", "action")
            for key in ("jobs", "stages", "shuffle_mb")
            if _moved(key, old[layer][key], rec[layer][key])
        ]
        if moves:
            lines.append(f"  {name}: " + ", ".join(moves))
    print(f"\ncounters moved ({len(lines)}):", *lines, sep="\n")


def main() -> int:
    prior_path = Path(sys.argv[1]) if len(sys.argv) > 1 else _latest_round_file()
    cur_path = Path(sys.argv[2]) if len(sys.argv) > 2 else REPO / "BENCH.local.json"
    prior, cur = _load(prior_path), _load(cur_path)
    records = "entries" in prior and "entries" in cur
    if records:
        how = "records: fn+action, cpu_s and counters"
        p, c = prior["entries"], cur["entries"]
        cpu = itemgetter("cpu_s")
        columns = {
            "fn+action": (_column(p, seconds), _column(c, seconds)),
            "cpu_s": (_column(p, cpu), _column(c, cpu)),
        }
    elif "entries" in cur and "queries_fn" not in prior:
        how = "RAW on queries; prior predates builder timing, current action-only"
        q_cur = {k: r["action_s"] for k, r in cur["entries"].items()}
        columns = {"queries": (prior.get("queries") or {}, q_cur)}
    else:
        how = "RAW on queries"
        columns = {"queries": (prior.get("queries") or {}, cur.get("queries") or {})}
    print(
        f"prior={prior_path.name} total={prior.get('value')} | "
        f"current={cur_path.name} total={cur.get('value')} | compared {how}"
    )
    for col, (q_prior, q_cur) in columns.items():
        _flag(col, q_prior, q_cur)
    if records:
        _counter_deltas(prior["entries"], cur["entries"])
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
