"""One-off oracle sweep of named battery entries at an arbitrary SF —
the pre-rotation gate check (house rule since r5: every entry is swept
green vs the DuckDB oracle at sf0.01, the external gate's scale, BEFORE
it rotates into the 50-slot driver window).

Usage: python tools/sweep_oracle.py [sf_dir] name [name ...]

Each line ends with the entry's wall seconds: total, and the
oracle-side part for oracle-checked entries.

After each entry the scoped registry is released (``release_caches``);
an entry that still leaves more persistent RDDs than were held before it
fails the sweep with a ``LEAK n`` line.

Env knobs (for the above-gate-scale sf1 sweep): SWEEP_CPUS (local[N]
threads, default 8), SWEEP_SHUFFLE (shuffle partitions, default 16).
"""
from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from sports_data_integration_and_forecasting_pipeline_spark.operators.scoped import release_caches  # noqa: E402
from sports_data_integration_and_forecasting_pipeline_spark.plans import QUERIES  # noqa: E402
from sports_data_integration_and_forecasting_pipeline_spark.session import get_spark  # noqa: E402
from tests.oracle import compare, duckdb_con  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    sf = args.pop(0) if args and args[0].startswith("/") else "/root/testdata/sf0.01"
    names = args or sorted(QUERIES)
    cpus = int(os.environ.get("SWEEP_CPUS", "8"))
    shuffle = int(os.environ.get("SWEEP_SHUFFLE", "16"))
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=shuffle)
    con = duckdb_con(sf)
    persistent_rdds = spark.sparkContext._jsc.sc().getPersistentRDDs
    bad = 0
    for name in names:
        spec = QUERIES[name]
        held_before = persistent_rdds().size()
        try:
            t0 = time.monotonic()
            got = spec.fn(spark, sf)
            if spec.oracle is None:
                n = got.count()
                print(
                    f"{name}: rows-only ({n} rows)  "
                    f"[{time.monotonic() - t0:.1f}s]",
                    flush=True,
                )
                continue
            got_pdf_t0 = time.monotonic()
            oracle_pdf = con.sql(spec.oracle).df()
            t_oracle = time.monotonic() - got_pdf_t0
            problems = compare(got, oracle_pdf)
            t_all = time.monotonic() - t0
            suffix = f"  [{t_all:.1f}s total, {t_oracle:.1f}s oracle]"
            if problems:
                bad += 1
                print(f"{name}: FAIL {problems}{suffix}", flush=True)
            else:
                print(f"{name}: ok{suffix}", flush=True)
        except Exception as e:  # noqa: BLE001
            bad += 1
            print(
                f"{name}: ERROR {type(e).__name__}: {str(e)[:200]}",
                flush=True,
            )
        finally:
            release_caches()
            leaked = persistent_rdds().size() - held_before
            if leaked > 0:
                bad += 1
                print(f"{name}: LEAK {leaked}", flush=True)
    con.close()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
