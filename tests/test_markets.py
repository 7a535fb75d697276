"""Parity of the one-pass market reports with the join form they replace.

``detect_discrepancies``, ``app_summary`` and ``best_odds_report`` compute
the per-game totals as a ``game_id`` window over the argmax rows. The
expected rows here come from the equi-join of those rows to a per-game
aggregate of themselves, written out in each test, on input that holds
what the window and the join treat differently: a NULL ``game_id``, a
three-outcome game and a price tie between two books.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sports_data_integration_and_forecasting_pipeline_spark.app import app_summary
from sports_data_integration_and_forecasting_pipeline_spark.operators.ev import (
    enrich_dataframe,
    high_ev_view,
)
from sports_data_integration_and_forecasting_pipeline_spark.operators.markets import (
    best_odds_report,
    detect_arbitrage,
    detect_discrepancies,
    find_best_odds,
)
from sports_data_integration_and_forecasting_pipeline_spark.operators.odds import (
    add_true_probabilities,
    clean_odds,
    standardize_odds,
)
from sports_data_integration_and_forecasting_pipeline_spark.sources.readers import (
    read_odds_json,
)

from .conftest import SAMPLE_ODDS_JSON
from .py4j_budget import py4j_method_calls

# py4j method calls to plan one odds op (both reads, the V1 arbitrage
# scan and the V2 EV chain, no action) on the sample fixture: 556 when
# measured, after the plans were cut to one scan and PySpark's per-Column
# call-site capture was turned off.
ODDS_PLAN_PY4J_CALLS_MAX = 556

_SCHEMA = (
    "game_id string, home_team string, away_team string, bookmaker string, "
    "market string, outcome string, price double"
)
_ROWS = [
    # two outcomes with an arbitrage: 1/2.2 + 1/2.1 < 1
    ("arb", "A", "B", "b1", "h2h", "A", 2.2),
    ("arb", "A", "B", "b2", "h2h", "A", 1.9),
    ("arb", "A", "B", "b1", "h2h", "B", 1.8),
    ("arb", "A", "B", "b2", "h2h", "B", 2.1),
    # two outcomes, no arbitrage, a price tie broken by bookmaker name
    ("tie", "C", "D", "zz", "h2h", "C", 1.9),
    ("tie", "C", "D", "aa", "h2h", "C", 1.9),
    ("tie", "C", "D", "aa", "h2h", "D", 1.8),
    # three outcomes: no margin, and dropped by detect_discrepancies
    ("three", "E", "F", "b1", "h2h", "E", 3.0),
    ("three", "E", "F", "b1", "h2h", "F", 3.5),
    ("three", "E", "F", "b1", "h2h", "Draw", 4.0),
    # NULL game_id: the equi-join never matched these rows
    (None, "G", "H", "b1", "h2h", "G", 2.2),
    (None, "G", "H", "b1", "h2h", "H", 2.2),
    # another market: filtered out by detect_discrepancies, a third
    # outcome of game "arb" for the reports that take every row
    ("arb", "A", "B", "b1", "totals", "Over", 5.0),
]


@pytest.fixture(scope="module")
def odds(spark):
    df = spark.createDataFrame(_ROWS, _SCHEMA)
    return df.withColumn("implied_prob", F.lit(1.0) / F.col("price"))


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _old_detect_discrepancies(df, market_key="h2h"):
    best = find_best_odds(df.filter(F.col("market") == market_key)).select(
        "game_id",
        "home_team",
        "away_team",
        "outcome",
        F.col("bookmaker").alias("best_bookmaker"),
        F.col("price").alias("best_price"),
        (F.lit(1.0) / F.col("price")).alias("implied_prob"),
    )
    margins = detect_arbitrage(best, "game_id", price_col="best_price")
    return (
        best.join(margins, "game_id", "inner")
        .filter(F.col("n_outcomes") == 2)
        .select(
            "game_id",
            "home_team",
            "away_team",
            F.lit(market_key).alias("market"),
            "outcome",
            "best_bookmaker",
            "best_price",
            "implied_prob",
            "arbitrage_margin",
        )
    )


def _old_app_summary(cleaned):
    best = find_best_odds(cleaned).select(
        "game_id",
        "home_team",
        "away_team",
        "outcome",
        F.col("price").alias("best_price"),
        F.col("bookmaker").alias("best_bookmaker"),
    )
    margins = detect_arbitrage(best, "game_id", price_col="best_price").select(
        "game_id", F.col("arbitrage_margin").alias("arbitrage_margin_pct")
    )
    return best.join(margins, "game_id", "left")


def _old_best_odds_report(cleaned):
    best = find_best_odds(cleaned)
    summary = best.groupBy("game_id").agg(
        F.sum("implied_prob").alias("sum_best_implied"),
        F.array_join(F.array_sort(F.collect_set("outcome")), ", ").alias(
            "outcomes"
        ),
    )
    return best.join(summary, "game_id", "left")


def test_detect_discrepancies_matches_join_form(odds):
    got = detect_discrepancies(odds, "h2h")
    want = _old_detect_discrepancies(odds, "h2h")
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)
    assert {r.game_id for r in got.collect()} == {"arb", "tie"}


def test_app_summary_matches_join_form(odds):
    h2h = odds.filter(F.col("market") == "h2h")  # the app reads one market
    got = app_summary(h2h)
    want = _old_app_summary(h2h)
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)
    by_game = {}
    for r in got.collect():
        by_game.setdefault(r.game_id, set()).add(r.arbitrage_margin_pct)
    assert by_game["three"] == {None} and by_game[None] == {None}
    assert by_game["tie"] == {None} and by_game["arb"] != {None}
    # the tie goes to the lowest bookmaker name
    tie_c = [r for r in got.collect() if r.game_id == "tie" and r.outcome == "C"]
    assert [r.best_bookmaker for r in tie_c] == ["aa"]


def test_best_odds_report_matches_join_form(odds):
    got = best_odds_report(odds)
    want = _old_best_odds_report(odds)
    assert got.columns == want.columns
    # the game's sum may add its terms in another order: compare to 1e-12
    i = got.columns.index("sum_best_implied")

    def rounded(df):
        return [
            r[:i] + (None if r[i] is None else round(r[i], 12),) + r[i + 1 :]
            for r in _rows(df)
        ]

    assert rounded(got) == rounded(want)


def test_golden_fixture_matches_join_form(sample_games):
    cleaned = clean_odds(sample_games, "h2h")
    assert _rows(detect_discrepancies(cleaned, "h2h")) == _rows(
        _old_detect_discrepancies(cleaned, "h2h")
    )
    assert _rows(app_summary(cleaned)) == _rows(_old_app_summary(cleaned))
    margins = {r.arbitrage_margin for r in detect_discrepancies(cleaned).collect()}
    assert margins == {3.26, None}


def _plan_odds_op(spark):
    games = read_odds_json(spark, str(SAMPLE_ODDS_JSON))
    detect_discrepancies(clean_odds(games, "h2h"), "h2h")
    games = read_odds_json(spark, str(SAMPLE_ODDS_JSON))
    std = standardize_odds(games, ["h2h", "spreads", "totals"])
    high_ev_view(enrich_dataframe(add_true_probabilities(std)))


def test_odds_op_planning_py4j_budget(spark):
    # the first planning in a session sends a few one-off calls
    _plan_odds_op(spark)
    with py4j_method_calls() as n:
        _plan_odds_op(spark)
    assert n.calls <= ODDS_PLAN_PY4J_CALLS_MAX
