"""Isolated same-session probe for individual battery entries.

Cross-round bench deltas are decided by same-session back-to-back
probes, never by bench-line diffs (SCALING.md).

Usage:
    python tools/probe_entry.py ENTRY [ENTRY ...] [--runs N] [--sf DIR]

Protocol per entry, the bench's own code path (``bench.py``):
  - ``--runs`` executions (default 5) through ``time_entry``: builder
    ``fn()`` then the noop-sink action, caches released after each run;
    each run's measurement record is printed, its fixpoint ``rounds``
    also as one list per entry;
  - run 1 (codegen/plan warm-up) is reported but excluded from the
    min/median/max bands, taken over fn+action (``seconds``) and over
    ``cpu_s``.

Prints one JSON line:
  {"sf": ...,
   "entries": {name: {"runs": [record, ...], "rounds": [n, ...],
                      "seconds": {"warm": r1, "min": m, "median": md, "max": mx},
                      "cpu_s": {"warm": ..., "min": ..., "median": ..., "max": ...}}}}
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    args = [a for a in sys.argv[1:]]
    runs_n = 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--runs":
            runs_n = int(args[i + 1])
            i += 2
        elif args[i] == "--sf":
            sf_dir = args[i + 1]
            i += 2
        else:
            names.append(args[i])
            i += 1
    if not names:
        raise SystemExit("usage: probe_entry.py ENTRY [ENTRY ...] "
                         "[--runs N] [--sf DIR]")
    if runs_n < 2:
        # the protocol excludes run 1 (warm-up) from the band; with a
        # single run there is no steady sample to report
        raise SystemExit("--runs must be >= 2: run 1 is the excluded "
                         "warm-up, so at least one steady run is needed")

    from bench import seconds, time_entry
    from sports_data_integration_and_forecasting_pipeline_spark.plans.battery import QUERIES
    from sports_data_integration_and_forecasting_pipeline_spark.session import get_spark

    spark = get_spark(app_name="probe")
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    def band(samples: list[float]) -> dict:
        steady = samples[1:]
        return {
            "warm": samples[0],
            "min": min(steady),
            "median": round(statistics.median(steady), 3),
            "max": max(steady),
        }

    entries: dict[str, dict] = {}
    for name in names:
        spec = QUERIES.get(name)
        if spec is None:
            entries[name] = {"error": "unknown entry"}
            continue
        runs = [time_entry(spark, spec, sf_dir) for _ in range(runs_n)]
        entries[name] = {
            "runs": runs,
            "rounds": [r["rounds"] for r in runs],
            "seconds": band([seconds(r) for r in runs]),
            "cpu_s": band([r["cpu_s"] for r in runs]),
        }
    print(json.dumps({
        "sf": os.path.basename(sf_dir.rstrip("/")),
        "entries": entries,
    }))

if __name__ == "__main__":
    main()
