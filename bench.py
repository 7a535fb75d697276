"""Benchmark harness: runs every non-streaming battery entry at
$SPARK_GRAFT_SF_DIR (default: the sf0.1 test data) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

One rule times every entry (``time_entry``, shared with
``tools/probe_entry.py``): the builder ``spec.fn()`` — plan construction
plus any eager jobs it runs (table writes, version commits, checkpointed
rounds, precondition aggregates) — then the action, forced with the noop
sink (full computation, no driver collect, no disk write). An entry's
seconds are builder + action. The full line in ``BENCH.local.json`` also
carries ``queries_fn``, each entry's builder seconds, so the action-only
view is ``queries - queries_fn``.

Streaming entries are not timed: they stage their source files on each
call.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).parent))


def timed_names(queries: dict) -> list[str]:
    """The bench's timed set: every registered entry, in registry order,
    except the streaming ones."""
    return [name for name in queries if not name.startswith("streaming_")]


def time_entry(spark, spec, sf_dir: str) -> tuple[float, float]:
    """Time one execution of a battery entry as ``(fn_s, action_s)``: the
    builder ``spec.fn()``, then the noop-sink action. The entry's scoped
    caches are dropped afterwards, so the next run (or entry) starts
    without a predecessor's blocks adding memory/GC pressure."""
    from sports_data_integration_and_forecasting_pipeline_spark.operators.scoped import (
        release_caches,
    )

    t0 = time.perf_counter()
    df = spec.fn(spark, sf_dir)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    release_caches()
    return round(t1 - t0, 3), round(t2 - t1, 3)


def bench_entry(spark, spec, sf_dir: str) -> tuple[float, float]:
    """An entry's bench seconds as ``(fn_s + action_s, fn_s)`` of the
    fastest of two steady-state runs. Three runs are made: the first pays
    one-off plan compilation / codegen / Python-worker spin-up (measured
    at 1.5-4 s per query), which a steady-state engine never re-pays, so
    it never counts. Of the remaining runs the MIN is the honest
    steady-state estimate: a single "second run" left cache-heavy entries
    at the mercy of mid-battery GC/cleaner spikes."""
    runs = [time_entry(spark, spec, sf_dir) for _ in range(3)]
    fn_s, action_s = min(runs[1:], key=sum)
    return round(fn_s + action_s, 3), fn_s


def calibrate(spark) -> dict:
    """Machine calibration: fixed, data-independent workloads driven
    through the same noop sink as the queries, so totals can be compared
    across hosts and a host that moves mid-run is flagged
    (``calib_drift``). Each plan is REBUILT per run: re-executing one
    Dataset reuses its AQE-materialized stages and measures nothing.

    - ``calib_md5_sec``: 50M string-md5 hashes, the battery's dominant
      primitive (second of two runs).
    - ``calib_shuffle_sec``: 64 tasks into a 4096-key exchange, the task
      scheduling and shuffle overhead slow hosts inflate first (second of
      two runs).
    - ``calib_floor_sec``: a near-empty query, the fixed per-query cost
      (planning, AQE loop, job scheduling) every entry pays; MIN of four
      runs, because it estimates a lower bound and one sample is at the
      mercy of hypervisor-steal spikes.

    The second-run convention for md5/shuffle is frozen: published
    ``normalized_total`` figures are comparable only under one convention,
    and single-run wobble up to ±20% is measurement, not battery.
    """
    from pyspark.sql import functions as F

    def cpu_df():
        h = F.md5(F.concat(F.lit("calib"), F.col("id").cast("string")))
        # bit_xor: overflow-free under ANSI mode, still forces every hash
        return spark.range(50_000_000).select(F.bit_xor(F.xxhash64(h)))

    def shuffle_df():
        return (
            spark.range(0, 1_000_000, 1, 64)
            .groupBy((F.col("id") % 4096).alias("k"))
            .agg(F.count("*").alias("n"))
        )

    def floor_df():
        return (
            spark.range(0, 1_000, 1, 8)
            .groupBy((F.col("id") % 10).alias("k"))
            .agg(F.count("*").alias("n"))
        )

    out = {}
    for key, mk, runs in [
        ("calib_md5_sec", cpu_df, 2),
        ("calib_shuffle_sec", shuffle_df, 2),
        ("calib_floor_sec", floor_df, 4),
    ]:
        samples = []
        for _ in range(runs):
            df = mk()
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
        out[key] = min(samples) if key == "calib_floor_sec" else samples[-1]
    return out


def calib_drift(start: dict, end: dict) -> float | None:
    """Max relative drift between the start-of-battery and end-of-battery
    calibration passes (r7 review task 7): |end−start| / start over the
    cpu and shuffle yardsticks (the floor is a min-of-4 lower bound, not
    a drift signal). > 0.20 means the HOST moved mid-run — per-query
    deltas from that run are not comparable to other rounds, recorded as
    an artifact instead of requiring manual re-measurement (the r6
    unigram and r7 join adjudications, automated)."""
    rel = [
        abs(end[k] - start[k]) / start[k]
        for k in ("calib_md5_sec", "calib_shuffle_sec")
        if start.get(k) and k in end
    ]
    return round(max(rel), 3) if rel else None


def drift_corrected(
    timings: dict[str, float], y_start: float, y_end: float
) -> dict[str, float]:
    """Per-query drift-corrected seconds: the host speed is modeled as
    the md5+shuffle yardstick linearly interpolated by CUMULATIVE
    ELAPSED battery seconds (r11 advice — index interpolation let a few
    very slow entries skew where the drift was attributed) between the
    start and end calibration passes, and every query is re-expressed
    at START-of-run host speed:
    ``corrected(q) = raw(q) * y_start / lerp(y_start, y_end, mid(q)/T)``
    where ``mid(q)`` is the query's midpoint in cumulative raw seconds
    and ``T`` the battery's raw total. ``timings`` must preserve battery
    execution order (insertion order). Degenerate yardsticks pass raw
    through: y_start <= 0 disables correction for the WHOLE dict (r11
    advice — the old per-entry yard_i>0 guard silently scaled later
    entries by ~0 when y_start=0 with y_end>0), as does a non-positive
    interpolant at any point.
    """
    total = sum(timings.values())
    if y_start <= 0 or total <= 0:
        return {q: sec for q, sec in timings.items()}
    out: dict[str, float] = {}
    elapsed = 0.0
    for qname, sec in timings.items():
        frac = (elapsed + sec / 2.0) / total
        elapsed += sec
        yard_i = y_start + (y_end - y_start) * frac
        out[qname] = round(sec * y_start / yard_i, 3) if yard_i > 0 else sec
    return out


def compact_bench_line(
    base: dict,
    timings: dict,
    budget: int = 1800,
    corrected: dict | None = None,
) -> str:
    """Render the stdout bench line: ``base`` plus the slowest queries
    that fit in ``budget`` chars, the rest rolled up into
    ``queries_omitted``/``queries_omitted_sec``. The loop ends at keep=0
    (no per-query detail at all), so the line fits the driver's ~2000-char
    tail capture at ANY battery size — unit-tested with a 250-name fake
    registry (r6 review task 6).

    When ``corrected`` (the drift-corrected per-query seconds) is given,
    the SAME kept names also ride as ``queries_drift_corrected`` (r12
    review task 5: the driver-captured line used to carry raw times
    only, so an external reader of a drift-flagged round had no way to
    correct them; halving the kept-name count is the accepted cost —
    every name still appears in the full line on stderr and
    BENCH.local.json)."""
    by_cost = sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))
    line = None
    for keep in range(len(by_cost), -1, -1):
        obj = {**base, "queries": dict(sorted(by_cost[:keep]))}
        omitted = by_cost[keep:]
        if omitted:
            obj["queries_omitted"] = len(omitted)
            obj["queries_omitted_sec"] = round(sum(v for _, v in omitted), 3)
        if corrected is not None:
            obj["queries_drift_corrected"] = {
                name: corrected[name]
                for name, _ in sorted(by_cost[:keep])
                if name in corrected
            }
            if omitted:
                obj["queries_omitted_corrected_sec"] = round(
                    sum(corrected.get(n, v) for n, v in omitted), 3
                )
        line = json.dumps(obj, separators=(",", ":"))
        if len(line) <= budget:
            break
    return line


def bench_lines(
    base: dict, timings: dict, builder: dict, corrected: dict
) -> tuple[str, str]:
    """The full bench line (``BENCH.local.json`` and stderr) and the
    compact stdout line. Builder seconds (``queries_fn``) ride the full
    line only, so the compact line's keys do not depend on them."""
    full = json.dumps(
        {
            **base,
            "queries": timings,
            "queries_fn": builder,
            "queries_drift_corrected": corrected,
        },
        separators=(",", ":"),
    )
    return full, compact_bench_line(base, timings, corrected=corrected)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from sports_data_integration_and_forecasting_pipeline_spark.plans.battery import QUERIES
    from sports_data_integration_and_forecasting_pipeline_spark.session import get_spark

    spark = get_spark(app_name="bench")

    # Warm the JVM/codegen paths once with a trivial action.
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    calib = calibrate(spark)

    timings: dict[str, float] = {}
    builder: dict[str, float] = {}
    for i, name in enumerate(timed_names(QUERIES)):
        timings[name], builder[name] = bench_entry(spark, QUERIES[name], sf_dir)
        # Periodic full GC: broadcast blocks and shuffle state from ~10
        # entries' worth of queries otherwise age into the old gen and
        # surface as multi-second pauses INSIDE later timed runs.
        if i % 10 == 9:
            spark.sparkContext._jvm.System.gc()

    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Calibrate at BOTH ends: a second identical calibration pass after
    # the battery, published as calib_end_*, plus the max relative
    # cpu/shuffle drift. calib_drift_flag > 0.20 means the host moved
    # mid-run and this run's per-query deltas are not comparable across
    # rounds.
    calib_end_raw = calibrate(spark)
    calib_end = {k.replace("calib_", "calib_end_"): v
                 for k, v in calib_end_raw.items()}
    drift = calib_drift(calib, calib_end_raw)
    calib_end["calib_drift"] = drift
    calib_end["calib_drift_flag"] = bool(drift is not None and drift > 0.20)
    # Host-drift normalization (round-4 review task): the same battery
    # measured 2-3x different wall-clock on nominally identical hosts
    # across rounds, so raw totals aren't comparable round-over-round.
    # The yardstick blends the two calibration workloads (fixed CPU-bound
    # md5 pass + fixed shuffle/scheduling pass — the two dimensions slow
    # hosts inflate); normalized_total = total / yardstick is a
    # dimensionless host-independent figure to compare across rounds.
    yardstick = calib["calib_md5_sec"] + calib["calib_shuffle_sec"]
    normalized = round(total / yardstick, 3) if yardstick > 0 else None
    # Per-query drift-corrected seconds (r10 review task 5): the bench
    # is one pass, so a host that slows down mid-run (calib_drift_flag)
    # inflates LATE entries relative to EARLY ones and cross-round
    # per-query diffs conflate battery position with real regressions
    # (the r10 adjudication list was exactly this artifact). Model the
    # host speed as the md5+shuffle yardstick linearly interpolated by
    # battery position between the start and end calibrations, and
    # express every query at START-of-run host speed:
    #   corrected(i) = raw(i) * y_start / lerp(y_start, y_end, i/(N-1)).
    # Round-over-round adjudication (r11+) compares THESE numbers;
    # raw seconds stay the published headline.
    y_end = (
        calib_end_raw["calib_md5_sec"] + calib_end_raw["calib_shuffle_sec"]
    )
    corrected = drift_corrected(timings, yardstick, y_end)
    # Work component with the per-query scheduling floor subtracted, in
    # units of the CPU yardstick: the host- and query-count-independent
    # figure for round-over-round regression checks.
    work = total - len(timings) * calib["calib_floor_sec"]
    norm_work = (
        round(max(work, 0.0) / calib["calib_md5_sec"], 3)
        if calib["calib_md5_sec"] > 0
        else None
    )
    base = {
        "metric": "battery_total_wall",
        "value": total,
        "unit": "sec",
        **calib,
        **calib_end,
        "normalized_total": normalized,
        "normalized_work": norm_work,
        "sf": sf_val,
    }
    full_line, compact_line = bench_lines(base, timings, builder, corrected)
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
