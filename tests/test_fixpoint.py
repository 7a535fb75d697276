"""The one iteration primitive, ``scoped.fixpoint``: it stops at the
first round that changes nothing, reports its round count, and is the
only loop (with ``checkpoint_scoped``) that takes local checkpoints."""

from __future__ import annotations

import re
from pathlib import Path

import pyspark.sql.functions as F

from sports_data_integration_and_forecasting_pipeline_spark.operators.scoped import (
    fixpoint,
    release_caches,
    round_notes,
)

PACKAGE = Path(__file__).parents[1] / "sports_data_integration_and_forecasting_pipeline_spark"


def _halve(df):
    return df.select((F.col("x") / 2).cast("long").alias("x"))


def test_fixpoint_stops_when_a_round_changes_nothing(spark):
    # 8 -> 4 -> 2 -> 1 -> 0, and the fifth round finds 0 again
    seed = spark.createDataFrame([(8,)], "x long")
    state, rounds, converged = fixpoint(
        "halve", seed, _halve, F.sum("x"), max_rounds=10
    )
    assert state.collect()[0]["x"] == 0
    assert (rounds, converged) == (5, True)
    assert round_notes()[-1] == ("halve", 5, True)


def test_fixpoint_reports_running_out_of_rounds(spark):
    seed = spark.createDataFrame([(8,)], "x long")
    state, rounds, converged = fixpoint(
        "halve", seed, _halve, F.sum("x"), max_rounds=2
    )
    assert state.collect()[0]["x"] == 2
    assert (rounds, converged) == (2, False)
    release_caches()
    assert round_notes() == []


def test_only_scoped_takes_local_checkpoints():
    """Every local checkpoint is owned by the scoped registry: no other
    package module calls ``.localCheckpoint(`` itself."""
    callers = sorted(
        str(p.relative_to(PACKAGE))
        for p in PACKAGE.rglob("*.py")
        if re.search(r"\.localCheckpoint\(", p.read_text())
    )
    assert callers == ["operators/scoped.py"]
