"""Driver-coverage report: which battery entries have external
(CORRECTNESS_r*.json) rows, how often, and what the live window holds.

The rotation planning instrument (rounds 12-14 each recomputed this
ad-hoc): the external gate checks the FIRST 50 registered entries each
round, so rotation choices need three facts per entry — how many driver
rows it has, which round the latest one landed, and whether it is in
the current window. Prints a summary plus the never-checked backlog and
the current 50-slot window with per-slot history.

Usage: python tools/driver_coverage.py [--json]
"""

from __future__ import annotations

import glob
import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def main() -> int:
    from sports_data_integration_and_forecasting_pipeline_spark.plans.battery import QUERIES

    history: dict[str, list[int]] = {n: [] for n in QUERIES}
    unknown: dict[str, list[int]] = {}
    for f in sorted(glob.glob(str(REPO / "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", f)
        rnd = int(m.group(1)) if m else -1
        for name, row in json.load(open(f)).items():
            rows_only_ok = (
                isinstance(row, dict)
                and row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
            )  # the by-design rows-only entries' weaker driver check
            ok = rows_only_ok or (
                isinstance(row, dict)
                and not row.get("err")
                and row.get("rows_match") is not False
                and row.get("hash_match") is not False
                and row.get("schema_match") is not False
            )
            target = history if name in history else unknown
            target.setdefault(name, [])
            if ok:
                target[name].append(rnd)

    names = list(QUERIES)
    window = names[:50]
    never = [n for n in names if not history[n]]
    once = [n for n in names if len(history[n]) == 1]
    multi = [n for n in names if len(history[n]) >= 2]

    if "--json" in sys.argv:
        print(json.dumps({
            "n_entries": len(names),
            "checked": len(names) - len(never),
            "never_checked": never,
            "once_green": once,
            "multi_green": len(multi),
            "window": {n: history[n] for n in window},
            "rows_for_unregistered_names": sorted(unknown),
        }))
        return 0

    print(f"battery entries: {len(names)}; driver-checked at least once: "
          f"{len(names) - len(never)}; never-checked: {len(never)}; "
          f"once-green: {len(once)}; multi-green: {len(multi)}")
    if unknown:
        print(f"driver rows for names no longer registered: {sorted(unknown)}")
    if never:
        print("\nnever-driver-checked backlog:")
        for n in never:
            print(f"  {n}")
    print("\ncurrent 50-slot window (registration-order prefix):")
    for i, n in enumerate(window, 1):
        rounds = ",".join(f"r{r}" for r in history[n]) or "NEVER"
        print(f"  {i:3d} {n}  [{rounds}]")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
