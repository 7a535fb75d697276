"""The driver keeps only the last ~2000 chars of bench stdout, so the
final line must stay ≤1800 chars at ANY battery size (r6 review task 6:
prove the truncation loop holds past 200+ entries with a synthetic
registry)."""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import compact_bench_line

BASE = {
    "metric": "battery_total_wall",
    "value": 123.456,
    "unit": "sec",
    "calib_md5_sec": 1.9,
    "calib_shuffle_sec": 0.8,
    "calib_floor_sec": 0.11,
    "normalized_total": 24.1,
    "normalized_work": 18.3,
    "sf": 0.1,
}


def _fake_timings(n: int) -> dict[str, float]:
    return {
        f"synthetic_query_with_a_long_descriptive_name_{i:04d}": round(
            0.05 + (i % 37) * 0.123, 3
        )
        for i in range(n)
    }


def test_compact_line_fits_at_250_entries():
    timings = _fake_timings(250)
    line = compact_bench_line(BASE, timings)
    assert len(line) <= 1800
    obj = json.loads(line)
    assert obj["metric"] == "battery_total_wall"
    kept = obj["queries"]
    omitted = obj.get("queries_omitted", 0)
    assert len(kept) + omitted == 250
    # rollup accounts for every dropped second
    total_listed = sum(kept.values()) + obj.get("queries_omitted_sec", 0.0)
    assert abs(total_listed - sum(timings.values())) < 0.01
    # the kept set is the most expensive tail, not arbitrary
    floor_kept = min(kept.values())
    dropped_max = max(
        (v for k, v in timings.items() if k not in kept), default=0.0
    )
    assert dropped_max <= floor_kept


def test_compact_line_carries_corrected_column():
    """r13 (r12 review task 5): with a corrected dict the compact line
    carries queries_drift_corrected for the SAME kept names, an
    omitted-corrected rollup, and still fits the budget at 250 names."""
    timings = _fake_timings(250)
    corrected = {k: round(v * 0.9, 3) for k, v in timings.items()}
    line = compact_bench_line(BASE, timings, corrected=corrected)
    assert len(line) <= 1800
    obj = json.loads(line)
    kept = obj["queries"]
    corr = obj["queries_drift_corrected"]
    assert set(corr) == set(kept)
    assert all(corr[k] == corrected[k] for k in corr)
    # both rollups account for every dropped second in their own column
    assert abs(
        sum(kept.values()) + obj["queries_omitted_sec"]
        - sum(timings.values())
    ) < 0.01
    assert abs(
        sum(corr.values()) + obj["queries_omitted_corrected_sec"]
        - sum(corrected.values())
    ) < 0.01
    # no corrected dict -> no corrected keys (legacy shape preserved)
    legacy = json.loads(compact_bench_line(BASE, timings))
    assert "queries_drift_corrected" not in legacy
    assert "queries_omitted_corrected_sec" not in legacy


def test_compact_line_degrades_to_zero_queries_under_tiny_budget():
    timings = _fake_timings(50)
    line = compact_bench_line(BASE, timings, budget=300)
    assert len(line) <= 300
    obj = json.loads(line)
    assert obj["queries"] == {}
    assert obj["queries_omitted"] == 50


def test_compact_line_keeps_everything_when_small():
    timings = _fake_timings(3)
    obj = json.loads(compact_bench_line(BASE, timings))
    assert obj["queries"] == timings
    assert "queries_omitted" not in obj


def test_calib_drift_max_relative_cpu_shuffle():
    """r8 (r7 review task 7): drift = max relative delta over the cpu and
    shuffle yardsticks; the floor (a min-of-4 lower bound) is ignored."""
    from bench import calib_drift

    start = {"calib_md5_sec": 2.0, "calib_shuffle_sec": 0.5,
             "calib_floor_sec": 0.1}
    end = {"calib_md5_sec": 2.2, "calib_shuffle_sec": 1.0,
           "calib_floor_sec": 0.7}
    assert calib_drift(start, end) == 1.0  # shuffle doubled; floor ignored
    assert calib_drift(start, dict(start)) == 0.0
    assert calib_drift({}, end) is None


def test_compact_line_preserves_calib_end_fields():
    """calib_end_* / calib_drift ride the base dict, so they survive the
    truncation loop at ANY battery size — even the keep=0 degenerate."""
    base = {
        **BASE,
        "calib_end_md5_sec": 2.1,
        "calib_end_shuffle_sec": 0.9,
        "calib_end_floor_sec": 0.12,
        "calib_drift": 0.125,
        "calib_drift_flag": False,
    }
    for n, budget in ((250, 1800), (50, 400)):
        line = compact_bench_line(base, _fake_timings(n), budget=budget)
        assert len(line) <= budget
        obj = json.loads(line)
        assert obj["calib_end_md5_sec"] == 2.1
        assert obj["calib_drift"] == 0.125
        assert obj["calib_drift_flag"] is False


def test_window_priority_names_valid_and_sized():
    """The 50-slot driver window must reference only registered entries,
    with no duplicates — a typo here silently shrinks the correctness
    window (the driver takes the first 50 of the curated order)."""
    from sports_data_integration_and_forecasting_pipeline_spark.plans.battery import (
        QUERIES,
        _WINDOW_PRIORITY,
    )

    assert len(_WINDOW_PRIORITY) == 50
    assert len(set(_WINDOW_PRIORITY)) == 50
    missing = [n for n in _WINDOW_PRIORITY if n not in QUERIES]
    assert not missing, missing


REJOINED = {
    "dedup_cluster_assign",
    "dedup_cluster_star",
    "dedup_cluster_size_histogram",
    "dedup_cluster_soft_weights",
    "leakage_safe_split",
    "kcore_cosupply_peel",
    "pagerank_customer_supplier",
    "hierarchy_root_depth",
    "recursive_cte_walk",
    "forecast_random_forest",
    "dedup_shingle_jaccard_all",
}


def test_bench_times_every_non_streaming_entry():
    """The timed set is derived from the registry, not listed: every
    registered entry except the streaming ones, in registry order, so
    the iterative entries once left out of a hand-kept list are timed."""
    from bench import timed_names
    from sports_data_integration_and_forecasting_pipeline_spark.plans.battery import QUERIES

    names = timed_names(QUERIES)
    assert names == [n for n in QUERIES if not n.startswith("streaming_")]
    assert REJOINED <= set(names)


def test_time_entry_counts_the_builder(spark):
    """A builder's own work is timed: a spec whose fn() sleeps 0.2 s
    reports fn_s >= 0.2, and the entry's bench seconds include it."""
    import time
    from types import SimpleNamespace

    from bench import bench_entry, time_entry

    def slow_builder(spark, sf_dir):
        time.sleep(0.2)
        return spark.range(10)

    spec = SimpleNamespace(fn=slow_builder)
    fn_s, _ = time_entry(spark, spec, "unused")
    assert fn_s >= 0.2
    seconds, kept_fn_s = bench_entry(spark, spec, "unused")
    assert kept_fn_s >= 0.2
    assert seconds >= kept_fn_s


def test_queries_fn_rides_the_full_line_only():
    """Builder seconds go to the full line; the compact stdout line keeps
    exactly the keys it had before builders were timed."""
    from bench import bench_lines

    timings = _fake_timings(250)
    builder = {k: round(v / 3, 3) for k, v in timings.items()}
    corrected = {k: round(v * 0.9, 3) for k, v in timings.items()}
    full, compact = bench_lines(BASE, timings, builder, corrected)
    assert json.loads(full)["queries_fn"] == builder
    assert set(json.loads(compact)) == set(BASE) | {
        "queries",
        "queries_omitted",
        "queries_omitted_sec",
        "queries_drift_corrected",
        "queries_omitted_corrected_sec",
    }
    assert compact == compact_bench_line(BASE, timings, corrected=corrected)


def test_drift_corrected_interpolates_to_start_speed():
    from bench import drift_corrected

    # host slows 2x across the battery; interpolation is by CUMULATIVE
    # elapsed raw seconds at each query's midpoint (r11 advice), so
    # equal-length entries sit at fracs 1/6, 1/2, 5/6 of the drift:
    # yardsticks 7/6, 3/2, 11/6 -> corrected 6/7, 2/3, 6/11
    t = {"a": 1.0, "b": 1.0, "c": 1.0}
    got = drift_corrected(t, 1.0, 2.0)
    assert got == {
        "a": round(6 / 7, 3),
        "b": round(2 / 3, 3),
        "c": round(6 / 11, 3),
    }
    # cumulative-time attribution: one huge early entry pushes later
    # short entries deep into the drifted regime even though they are
    # early by INDEX — the exact skew the index model got wrong
    skew = drift_corrected({"big": 8.0, "s1": 1.0, "s2": 1.0}, 1.0, 2.0)
    assert skew["s1"] < skew["big"] and skew["s2"] < skew["s1"]
    # no drift -> identity
    assert drift_corrected(t, 1.3, 1.3) == {k: 1.0 for k in t}
    # single entry -> midpoint of its own span (average host speed)
    assert drift_corrected({"solo": 2.0}, 1.0, 3.0) == {"solo": 1.0}
    # degenerate yardstick passes raw through
    assert drift_corrected(t, 0.0, 0.0) == t
    # r11 advice: y_start=0 with y_end>0 must pass the WHOLE dict raw
    # through (the old per-entry guard multiplied later entries by ~0)
    assert drift_corrected(t, 0.0, 2.0) == t
    # empty timings stay empty, no ZeroDivisionError on total=0
    assert drift_corrected({}, 1.0, 2.0) == {}
