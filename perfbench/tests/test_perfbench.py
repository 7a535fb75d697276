"""Self-tests of the benchmark's own code.

    python3 -m pytest perfbench/tests -q

The generator, checker and helper tests need no Spark. The smoke tests
start the benchmark as a subprocess at the tiny scale, once per workload,
and take a few minutes.
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import gen  # noqa: E402
import probe  # noqa: E402

WORKLOADS = ["odds_snapshots", "props_forecast", "line_feed", "curation_dedup"]
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def _names(kind):
    return {m["name"] for m in BENCH[kind]}


def test_odds_snapshot_is_deterministic_per_seed():
    a, b, c = gen.odds_snapshot(3, 60), gen.odds_snapshot(3, 60), gen.odds_snapshot(4, 60)
    assert a.payload == b.payload and a.arb_rows == b.arb_rows
    assert a.payload != c.payload


def test_odds_snapshot_plants_known_arbitrages():
    s = gen.odds_snapshot(11, 200)
    assert len(s.arbs) == 6 and len(s.arb_rows) == 12
    assert all(0.5 <= m <= 4.5 for m in s.arbs.values())
    games = json.loads(s.payload)
    prices = [o["price"] for g in games for b in g["bookmakers"] for m in b["markets"]
              for o in m["outcomes"] if m["key"] != "h2h"]
    assert any(p.startswith("+") for p in prices) and any(p.startswith("-") for p in prices)
    assert 0 < s.valid_outcomes < s.outcome_rows
    n_pairs = sum(len(g["bookmakers"]) for g in games) * len(gen.MARKETS)
    assert sum(len(b["markets"]) for g in games for b in g["bookmakers"]) < n_pairs


def test_props_lines_and_feed_and_documents_are_deterministic():
    assert gen.props_data(5, 10, 8) == gen.props_data(5, 10, 8)
    assert gen.props_data(5, 10, 8).logs != gen.props_data(6, 10, 8).logs
    assert gen.documents(5, 100) == gen.documents(5, 100)
    f1, f2 = gen.LineFeed(5, 2, 3, 4), gen.LineFeed(5, 2, 3, 4)
    assert [f1.next_poll() for _ in range(4)] == [f2.next_poll() for _ in range(4)]


def test_line_feed_plants_moves_duplicates_and_replays():
    feed = gen.LineFeed(9, 6, 5, 10)
    first = feed.next_poll()
    assert first[2] == [] and first[3] == 300
    polls = [feed.next_poll() for _ in range(5)]
    assert all(abs(m[6]) >= 5.0 for p in polls for m in p[2])
    assert sum(len(p[2]) for p in polls) > 0
    assert all(p[1] > 300 for p in polls)  # exact duplicates on top of 300 keys
    assert all(p[3] < 300 for p in polls)  # unchanged books are replays


def test_backtest_expected_matches_reference_branches():
    got = gen.backtest_expected([(0.9, 0.5), (0.2, 0.5), (0.5, 0.5)])
    assert (got["wins"], got["losses"], got["passes"]) == (1, 1, 1)
    assert got["roi"] == 0.0


@pytest.mark.parametrize("n,index,pct,beyond", [
    (100, 89, 90.0, 10), (1000, 989, 99.0, 10), (40, 29, 75.0, 10),
    (20, 14, 75.0, 5), (11, 8, 100 * 9 / 11, 2), (3, 2, 100.0, 0)])
def test_tail_picks_highest_percentile_with_ten_beyond(n, index, pct, beyond):
    xs = [float(i) for i in range(n)][::-1]
    value, p, got_beyond = probe.tail(xs)
    assert (value, got_beyond) == (float(index), beyond) and p == pytest.approx(pct)
    assert sum(x > value for x in xs) == beyond


def test_tree_cpu_counts_this_process_and_its_children():
    t0 = probe.tree_cpu_s()
    end = time.process_time() + 0.3
    while time.process_time() < end:
        pass
    subprocess.run([sys.executable, "-c",
                    "import time\nend = time.process_time() + 0.3\n"
                    "while time.process_time() < end: pass"], check=True)
    assert probe.tree_cpu_s() - t0 >= 0.5


def test_steal_share_is_a_share():
    since = probe.steal_share()
    time.sleep(0.05)
    assert 0.0 <= probe.steal_share(since) <= 1.0


class _Count:
    def __init__(self, n):
        self.n = n

    def count(self):
        return self.n


def test_odds_check_counts_a_dropped_arbitrage(tmp_path):
    import workloads

    wl = workloads.OddsSnapshots(2, "tiny", tmp_path)
    wl.prepare()
    s = wl.snaps[0]
    ok = workloads.OpResult(1, {"k": 0, "arb": set(s.arb_rows), "ev": _Count(s.valid_outcomes)})
    assert wl.check(0, ok) == []
    dropped = workloads.OpResult(1, {"k": 0, "arb": set(sorted(s.arb_rows)[1:]),
                                     "ev": _Count(s.valid_outcomes)})
    assert wl.check(0, dropped)
    short = workloads.OpResult(1, {"k": 0, "arb": set(s.arb_rows),
                                   "ev": _Count(s.valid_outcomes - 1)})
    assert wl.check(0, short)


def _run(workload, *extra, seconds="2"):
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", seconds, "--scale", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_tiny_run_all_checks_on(workload):
    res = _run(workload, "--trace", "1", seconds="4")
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    assert set(res["metrics"]) == _names("per_layer")


def test_corrupted_result_counts_as_failed():
    res = _run("odds_snapshots", "--trace", "0", "--corrupt")
    assert not res["correct"]
    assert res["failed"] == res["attempted"] >= 1
    assert set(res["metrics"]) == _names("end_to_end")


def test_layer_map_names_only_listed_metrics():
    layers = json.loads((HERE / "layers.json").read_text())["layers"]
    mapped = [m for layer in layers for m in layer["metrics"]]
    assert sorted(mapped) == sorted(_names("per_layer"))


def test_exits_nonzero_without_the_package(tmp_path):
    (tmp_path / "BENCHMARK.json").write_bytes((ROOT / "BENCHMARK.json").read_bytes())
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in ("run.py", "gen.py", "probe.py", "workloads.py", "layers.json"):
        (bench / f).write_bytes((HERE / f).read_bytes())
    out = subprocess.run([sys.executable, str(bench / "run.py"), "--workload", "line_feed",
                          "--seed", "1", "--seconds", "1", "--trace", "0"],
                         cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert out.returncode != 0 and out.stdout == ""
