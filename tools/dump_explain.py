"""Print ``df.explain("formatted")`` for named battery entries to stdout:
the on-demand plan dump (``tests/test_plan_shapes.py`` is the enforced
plan check).

Usage: python tools/dump_explain.py ENTRY [ENTRY ...] [--sf DIR]
"""
from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    args = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf_dir = args[i + 1]
            i += 2
        else:
            names.append(args[i])
            i += 1
    from sports_data_integration_and_forecasting_pipeline_spark.plans.battery import QUERIES
    from sports_data_integration_and_forecasting_pipeline_spark.session import get_spark

    spark = get_spark(app_name="dump_explain", master="local[4]")
    for name in names:
        df = QUERIES[name].fn(spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        print(f"# {name} — explain('formatted') at {sf_dir}\n\n{txt}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
