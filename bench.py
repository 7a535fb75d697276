"""Benchmark harness: runs every non-streaming battery entry at
$SPARK_GRAFT_SF_DIR (default: the sf0.1 test data) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "cpu_s": ...,
"queries": {name: sec}, "sf": ...}.

One rule times every entry (``time_entry``, shared with
``tools/probe_entry.py``): the builder ``spec.fn()`` — plan construction
plus any eager jobs it runs (table writes, version commits, checkpointed
rounds, precondition aggregates) — then the action, forced with the noop
sink (full computation, no driver collect, no disk write). An entry's
seconds are builder + action; ``cpu_s`` is the battery's engine CPU
seconds. The full line in ``BENCH.local.json`` also carries
``entries``, each entry's measurement record (``time_entry``): builder
and action seconds, engine CPU, fixpoint rounds, and the jobs, stages
and shuffle MB of each.

Streaming entries are not timed: they stage their source files on each
call.
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid
from pathlib import Path

sys.path.insert(0, str(Path(__file__).parent))


def timed_names(queries: dict) -> list[str]:
    """The bench's timed set: every registered entry, in registry order,
    except the streaming ones."""
    return [name for name in queries if not name.startswith("streaming_")]


def time_entry(spark, spec, sf_dir: str) -> dict:
    """One execution of a battery entry as its measurement record:

    ``{"fn_s", "action_s", "cpu_s", "rounds", "fn": {...}, "action": {...}}``

    ``fn_s`` times the builder ``spec.fn()``, ``action_s`` the noop-sink
    action; ``cpu_s`` is the engine's CPU seconds over both
    (``perfbench.probe.EngineCpu``). ``rounds`` is the number of
    fixpoint rounds the entry ran (``scoped.round_notes``), 0 for an
    entry without a fixpoint loop. ``fn`` and ``action`` hold the
    ``jobs``, ``stages`` (skipped stages not counted) and ``shuffle_mb``
    of the Spark jobs each one ran, read from the status store by job
    group. The wall timers sit inside the job-group layers, so the
    tagging calls are not timed. The entry's scoped caches are dropped
    afterwards, so the next run (or entry) starts without a
    predecessor's blocks adding memory/GC pressure."""
    from perfbench.probe import EngineCpu, Tracer
    from sports_data_integration_and_forecasting_pipeline_spark.operators.scoped import (
        release_caches,
        round_notes,
    )

    cpu = EngineCpu(spark.sparkContext._jvm.ProcessHandle.current().pid())
    # A job group of its own per run, so no earlier run's jobs are counted.
    tracer = Tracer(spark, f"time_entry-{uuid.uuid4().hex}")
    n0 = len(round_notes())
    c0 = cpu()
    with tracer.layer("fn"):
        t0 = time.perf_counter()
        df = spec.fn(spark, sf_dir)
        fn_s = time.perf_counter() - t0
    with tracer.layer("action"):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        action_s = time.perf_counter() - t0
    cpu_s = cpu() - c0
    rounds = sum(n for _, n, _ in round_notes()[n0:])
    release_caches()
    record = {
        "fn_s": round(fn_s, 3),
        "action_s": round(action_s, 3),
        "cpu_s": round(cpu_s, 3),
        "rounds": rounds,
    }
    for layer in ("fn", "action"):
        tot = tracer.stage_totals(layer)
        record[layer] = {
            "jobs": tot["jobs"],
            "stages": tot["stages"],
            "shuffle_mb": round(tot["shuffle_mb"], 3),
        }
    return record


def seconds(record: dict) -> float:
    """An entry's bench seconds: builder + action."""
    return round(record["fn_s"] + record["action_s"], 3)


def bench_entry(spark, spec, sf_dir: str) -> dict:
    """The record of the fastest (by :func:`seconds`) of two steady-state
    runs. Three runs are made: the first pays one-off plan compilation /
    codegen / Python-worker spin-up (measured at 1.5-4 s per query),
    which a steady-state engine never re-pays, so it never counts. Of the
    remaining runs the MIN is the honest steady-state estimate: a single
    "second run" left cache-heavy entries at the mercy of mid-battery
    GC/cleaner spikes."""
    runs = [time_entry(spark, spec, sf_dir) for _ in range(3)]
    return min(runs[1:], key=seconds)


def compact_bench_line(base: dict, timings: dict, budget: int = 1800) -> str:
    """Render the stdout bench line: ``base`` plus the slowest queries
    that fit in ``budget`` chars, the rest rolled up into
    ``queries_omitted``/``queries_omitted_sec``. The loop ends at keep=0
    (no per-query detail at all), so the line fits the driver's ~2000-char
    tail capture at ANY battery size — unit-tested with a 250-name fake
    registry (r6 review task 6)."""
    by_cost = sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))
    line = None
    for keep in range(len(by_cost), -1, -1):
        obj = {**base, "queries": dict(sorted(by_cost[:keep]))}
        omitted = by_cost[keep:]
        if omitted:
            obj["queries_omitted"] = len(omitted)
            obj["queries_omitted_sec"] = round(sum(v for _, v in omitted), 3)
        line = json.dumps(obj, separators=(",", ":"))
        if len(line) <= budget:
            break
    return line


def bench_lines(base: dict, entries: dict) -> tuple[str, str]:
    """The full bench line (``BENCH.local.json`` and stderr) and the
    compact stdout line. Each entry's record (``entries``) rides the full
    line only, so the compact line's keys do not depend on it."""
    timings = {name: seconds(record) for name, record in entries.items()}
    full = json.dumps(
        {**base, "queries": timings, "entries": entries}, separators=(",", ":")
    )
    return full, compact_bench_line(base, timings)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from sports_data_integration_and_forecasting_pipeline_spark.plans.battery import QUERIES
    from sports_data_integration_and_forecasting_pipeline_spark.session import get_spark

    spark = get_spark(app_name="bench")

    # Warm the JVM/codegen paths once with a trivial action.
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    entries: dict[str, dict] = {}
    for i, name in enumerate(timed_names(QUERIES)):
        entries[name] = bench_entry(spark, QUERIES[name], sf_dir)
        # Periodic full GC: broadcast blocks and shuffle state from ~10
        # entries' worth of queries otherwise age into the old gen and
        # surface as multi-second pauses INSIDE later timed runs.
        if i % 10 == 9:
            spark.sparkContext._jvm.System.gc()

    base = {
        "metric": "battery_total_wall",
        "value": round(sum(seconds(r) for r in entries.values()), 3),
        "unit": "sec",
        "cpu_s": round(sum(r["cpu_s"] for r in entries.values()), 3),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    full_line, compact_line = bench_lines(base, entries)
    # The driver keeps only the LAST ~2000 chars of stdout and parses the
    # final line. With 100+ queries the full line is >4 KB, so it gets
    # front-truncated and the whole bench signal is lost (it was in rounds
    # 2 AND 3). Durably write the full detail next to the script, echo it
    # to stderr for log readers, and print to stdout ONLY a compact final
    # line guaranteed to survive the tail capture: total + the slowest
    # queries that fit, with the rest rolled up into an omitted-sum.
    (Path(__file__).parent / "BENCH.local.json").write_text(full_line + "\n")
    print(full_line, file=sys.stderr, flush=True)

    print(compact_line, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
