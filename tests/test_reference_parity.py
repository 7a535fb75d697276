"""The five reference tests ported 1:1 (SURVEY §5.1), plus the golden
arbitrage expectations, against the Spark implementations."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from sports_data_integration_and_forecasting_pipeline_spark.operators.flatten import (
    flatten_odds_to_df,
    props_to_dataframe,
)
from sports_data_integration_and_forecasting_pipeline_spark.operators.markets import (
    detect_arbitrage,
    detect_discrepancies,
    find_best_odds,
)
from sports_data_integration_and_forecasting_pipeline_spark.operators.odds import (
    clean_odds,
    odds_to_probs,
)

GAME1 = "Los Angeles Lakers_vs_Miami Heat_2025-01-01T00:00:00Z"
GAME2 = "Denver Nuggets_vs_Phoenix Suns_2025-01-02T01:00:00Z"


def test_flatten_odds_creates_expected_rows(sample_games):
    df = flatten_odds_to_df(sample_games, market="h2h")
    rows = df.collect()
    assert len(rows) == 6  # 3 markets * 2 outcomes each
    assert {"game_id", "bookmaker", "market", "price", "outcome"} <= set(df.columns)


def test_odds_to_probs_handles_decimal_and_american(spark):
    raw = spark.createDataFrame(
        [("g1", 1.9), ("g1", 2.0), ("g2", -110.0), ("g2", 120.0)],
        "game_id string, price double",
    )
    converted = odds_to_probs(raw, price_col="price", market_col="game_id")

    dec = {
        r["price"]: r["decimal_odds"]
        for r in converted.filter(F.col("game_id") == "g1").collect()
    }
    assert dec[1.9] == pytest.approx(1.9)
    assert dec[2.0] == pytest.approx(2.0)

    am = {
        r["price"]: r["decimal_odds"]
        for r in converted.filter(F.col("game_id") == "g2").collect()
    }
    assert am[-110.0] == pytest.approx(1 + 100 / 110)
    assert am[120.0] == pytest.approx(1 + 120 / 100)

    sums = (
        converted.groupBy("game_id").agg(F.sum("devig_prob").alias("s")).collect()
    )
    for r in sums:
        assert r["s"] == pytest.approx(1.0)


def test_clean_odds_pipeline_adds_probabilities(sample_games):
    cleaned = clean_odds(sample_games, market="h2h")
    assert {"decimal_odds", "implied_prob", "devig_prob"} <= set(cleaned.columns)
    sums = cleaned.groupBy("game_id").agg(F.sum("devig_prob").alias("s")).collect()
    assert len(sums) == 2
    for r in sums:
        assert r["s"] == pytest.approx(1.0)


def test_analysis_detects_arbitrage(sample_games):
    df = flatten_odds_to_df(sample_games, market="h2h")
    best = find_best_odds(df)
    margins = {
        r["game_id"]: r["arbitrage_margin"]
        for r in detect_arbitrage(best).collect()
    }
    # game_001 best prices 1.95/2.2 -> sum(1/p) ≈ 0.9673 < 1 -> arb
    assert margins[GAME1] is not None
    expected = round((1 - (1 / 1.95 + 1 / 2.2)) * 100, 2)
    assert margins[GAME1] == pytest.approx(expected)
    # game_002 1.7/2.1 -> > 1 -> no arb
    assert margins[GAME2] is None


def test_props_to_dataframe_structure(sample_games):
    df = props_to_dataframe(sample_games, markets="h2h")
    expected_columns = [
        "timestamp",
        "game_id",
        "commence_time",
        "home_team",
        "away_team",
        "bookmaker",
        "last_update",
        "player_name",
        "market",
        "line",
        "price",
    ]
    assert df.columns == expected_columns  # fixed order (ingestion.py:105-118)
    assert df.count() == 6


def test_props_empty_input_keeps_schema(spark, sample_games):
    """SURVEY §4.3-7: zero matching records still yields the 11-col schema."""
    df = props_to_dataframe(sample_games, markets="no_such_market")
    assert len(df.columns) == 11
    assert df.count() == 0


def test_detect_discrepancies_golden(sample_games):
    df = flatten_odds_to_df(sample_games, market="h2h")
    out = detect_discrepancies(df, market_key="h2h")
    rows = out.collect()
    assert len(rows) == 4  # 2 games x 2 outcomes
    by_game = {}
    for r in rows:
        by_game.setdefault(r["game_id"], []).append(r)
    g1 = by_game[GAME1]
    assert all(r["arbitrage_margin"] is not None for r in g1)
    best = {r["outcome"]: (r["best_price"], r["best_bookmaker"]) for r in g1}
    assert best["Los Angeles Lakers"] == (1.95, "BookA")
    assert best["Miami Heat"] == (2.2, "BookA")
    assert all(r["arbitrage_margin"] is None for r in by_game[GAME2])
    assert math.isclose(
        g1[0]["implied_prob"] + g1[1]["implied_prob"], 1 / 1.95 + 1 / 2.2
    )
