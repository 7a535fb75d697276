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
    "cpu_s": 301.2,
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


def test_compact_line_degrades_to_zero_queries_under_tiny_budget():
    timings = _fake_timings(50)
    line = compact_bench_line(BASE, timings, budget=200)
    assert len(line) <= 200
    obj = json.loads(line)
    assert obj["queries"] == {}
    assert obj["queries_omitted"] == 50


def test_compact_line_keeps_everything_when_small():
    timings = _fake_timings(3)
    obj = json.loads(compact_bench_line(BASE, timings))
    assert obj["queries"] == timings
    assert "queries_omitted" not in obj


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

    from bench import bench_entry, seconds, time_entry

    def slow_builder(spark, sf_dir):
        time.sleep(0.2)
        return spark.range(10)

    spec = SimpleNamespace(fn=slow_builder)
    assert time_entry(spark, spec, "unused")["fn_s"] >= 0.2
    kept = bench_entry(spark, spec, "unused")
    assert kept["fn_s"] >= 0.2
    assert seconds(kept) >= kept["fn_s"]


def test_time_entry_records_engine_cpu_and_jobs(spark):
    """The record counts the builder's eager job apart from the action's,
    and charges the engine CPU both spend."""
    from types import SimpleNamespace

    from bench import time_entry

    def eager_builder(spark, sf_dir):
        spark.range(1000).count()
        return spark.range(10)

    record = time_entry(spark, SimpleNamespace(fn=eager_builder), "unused")
    assert record["fn"]["jobs"] >= 1
    assert record["fn"]["stages"] >= 1
    assert record["action"]["jobs"] >= 1
    assert record["cpu_s"] > 0


def test_queries_fn_rides_the_full_line_only():
    """Builder seconds ride each entry's record on the full line only;
    the compact stdout line's keys do not depend on the records."""
    from bench import bench_lines

    timings = _fake_timings(250)
    builder = {k: round(v / 3, 3) for k, v in timings.items()}
    entries = {
        k: {"fn_s": builder[k], "action_s": round(v - builder[k], 3), "cpu_s": v}
        for k, v in timings.items()
    }
    full, compact = bench_lines(BASE, entries)
    full = json.loads(full)
    assert full["entries"] == entries
    assert {k: r["fn_s"] for k, r in full["entries"].items()} == builder
    assert full["queries"] == timings
    assert set(json.loads(compact)) == set(BASE) | {
        "queries",
        "queries_omitted",
        "queries_omitted_sec",
    }
    assert compact == compact_bench_line(BASE, timings)


def test_time_entry_records_kcore_stopping_at_the_first_empty_peel(spark):
    """At sf0.001 the first 3-core peel removes nothing, so k-core runs
    one round instead of its four-peel cap."""
    from bench import time_entry
    from sports_data_integration_and_forecasting_pipeline_spark.plans.battery import QUERIES

    from .conftest import TESTDATA_SMOKE

    record = time_entry(spark, QUERIES["kcore_cosupply_peel"], TESTDATA_SMOKE)
    assert record["rounds"] == 1


def test_time_entry_records_the_same_cc_rounds_on_every_run(spark):
    """Connected components' round count depends on its input only."""
    from bench import time_entry
    from sports_data_integration_and_forecasting_pipeline_spark.plans.battery import QUERIES

    from .conftest import TESTDATA_SMOKE

    spec = QUERIES["dedup_cluster_assign"]
    rounds = [time_entry(spark, spec, TESTDATA_SMOKE)["rounds"] for _ in range(3)]
    assert rounds[0] >= 1 and len(set(rounds)) == 1, rounds
