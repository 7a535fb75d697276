"""Best-price extraction and arbitrage scans (SURVEY §2.4 A3-A9, §2.7 J1).

The reference computes these with per-group Python loops and ``idxmax``
(``src/analysis.py:55-96``, ``web/app.py:36-71``). Here:

- best price per ``(game_id, outcome)`` is ``row_number`` over a window
  ordered by price, then bookmaker — the tie policy below, exactly;
- the arbitrage margin, and every other per-game total repeated on the
  per-outcome rows, is a window over ``game_id`` on top of the argmax
  window.

Tie policy: the reference's ``idxmax`` keeps the first-encountered row —
input-order-dependent, which is nondeterministic under distributed scans.
We pin a deterministic tiebreak instead: highest price, then lowest
bookmaker name (SURVEY §4.3-4 documents the divergence).

Scale note: :func:`detect_discrepancies`, :func:`best_odds_report` and
``app.app_summary`` share :func:`_best_with_game_totals`: one
``repartition("game_id")`` feeds both windows (hash on ``game_id`` also
clusters every ``(game_id, outcome)`` group), so each plan holds one scan,
one exchange and no join. A join of the argmax rows to a per-game
aggregate of themselves would plan the scan, the flatten and the argmax
twice, because the two sides project different columns and AQE cannot
reuse the exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def find_best_odds(
    df: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """One row per ``(game_id, outcome)`` holding the best (max) price and
    its bookmaker (A3/A4/A5; reference ``src/analysis.py:9-31,69-70``,
    ``web/app.py:39-43``): the whole input row, columns unchanged.

    Ties on price go to the alphabetically smallest bookmaker (the
    module's tie policy), so the chosen row is deterministic and
    oracle-hashable.
    """
    group_cols = group_cols or ["game_id", "outcome"]
    w = Window.partitionBy(*group_cols).orderBy(
        F.desc("price"), F.asc("bookmaker")
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def detect_arbitrage(
    best: DataFrame, group_col: str = "game_id", price_col: str = "price"
) -> DataFrame:
    """Per-game two-outcome arbitrage margin (A6; reference
    ``src/analysis.py:39-52``).

    Input: one row per (game, outcome) with a ``price`` column (best
    price). Output: ``group_col, total_implied, n_outcomes,
    arbitrage_margin`` where margin = ``round((1 − Σ 1/price)·100, 2)``
    iff exactly 2 outcomes and ``Σ < 1`` strictly, else null
    (SURVEY §4.3-3).
    """
    agg = best.groupBy(group_col).agg(
        F.sum(F.lit(1.0) / F.col(price_col)).alias("total_implied"),
        F.count(F.lit(1)).alias("n_outcomes"),
    )
    return agg.withColumn(
        "arbitrage_margin",
        _arb_margin(F.col("n_outcomes"), F.col("total_implied")),
    )


def _arb_margin(n_outcomes, total_implied):
    """``round((1 − Σ 1/price)·100, 2)`` iff exactly 2 outcomes and
    ``Σ < 1`` strictly, else null (SURVEY §4.3-3)."""
    return F.when(
        (n_outcomes == 2) & (total_implied < 1.0),
        F.round((1.0 - total_implied) * 100.0, 2),
    )


def _best_with_game_totals(df: DataFrame, **totals) -> DataFrame:
    """Best row per ``(game_id, outcome)`` (:func:`find_best_odds`)
    plus one column per ``totals`` entry (name → aggregate over the game's
    best rows), evaluated over a ``game_id`` window.

    Totals are NULL on rows with a NULL ``game_id``: a NULL key names no
    game, just as an equi-join on ``game_id`` matches no row to it.
    """
    w = Window.partitionBy("game_id")
    has_game = F.col("game_id").isNotNull()
    return find_best_odds(df.repartition("game_id")).select(
        "*", *[F.when(has_game, agg.over(w)).alias(k) for k, agg in totals.items()]
    )


def _best_with_margin(df: DataFrame) -> DataFrame:
    """:func:`_best_with_game_totals` with the game's outcome count ``_n``
    and its ``arbitrage_margin`` over the best prices."""
    best = _best_with_game_totals(
        df, _n=F.count(F.lit(1)), _total=F.sum(F.lit(1.0) / F.col("price"))
    )
    return best.withColumn(
        "arbitrage_margin", _arb_margin(F.col("_n"), F.col("_total"))
    )


def detect_discrepancies(df: DataFrame, market_key: str = "h2h") -> DataFrame:
    """Full arb scan (A7; reference ``src/analysis.py:55-96``): filter
    market → best price per (game, outcome) → margin per game, repeated on
    each of the game's rows.

    Output columns mirror the reference's result rows
    (``analysis.py:84-94``): ``game_id, home_team, away_team, market,
    outcome, best_bookmaker, best_price, implied_prob, arbitrage_margin``.
    Games with ≠ 2 distinct outcomes are dropped (``analysis.py:73-74``).
    """
    best = _best_with_margin(df.filter(F.col("market") == market_key))
    return best.filter(F.col("_n") == 2).select(
        "game_id",
        "home_team",
        "away_team",
        F.lit(market_key).alias("market"),
        "outcome",
        F.col("bookmaker").alias("best_bookmaker"),
        F.col("price").alias("best_price"),
        (F.lit(1.0) / F.col("price")).alias("implied_prob"),
        "arbitrage_margin",
    )


def build_summary(cleaned: DataFrame) -> DataFrame:
    """Per-game arb summary (A8; reference ``web/app.py:36-71``): one row
    per game with best prices reshaped wide plus the margin pct.

    Output: ``game_id, home_team, away_team, commence_time,
    outcomes, best_prices, best_bookmakers, arbitrage_margin_pct``
    (outcome→price/bookmaker maps instead of the reference's dicts).
    """
    best = find_best_odds(cleaned)
    per_game = best.groupBy("game_id").agg(
        F.first("home_team").alias("home_team"),
        F.first("away_team").alias("away_team"),
        F.first("commence_time").alias("commence_time"),
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("outcome", "price")))
        ).alias("best_prices"),
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("outcome", "bookmaker")))
        ).alias("best_bookmakers"),
        F.sum(F.lit(1.0) / F.col("price")).alias("_total"),
        F.count(F.lit(1)).alias("_n"),
    )
    return per_game.select(
        "game_id",
        "home_team",
        "away_team",
        "commence_time",
        F.map_keys("best_prices").alias("outcomes"),
        "best_prices",
        "best_bookmakers",
        _arb_margin(F.col("_n"), F.col("_total")).alias("arbitrage_margin_pct"),
    )


def best_odds_report(cleaned: DataFrame) -> DataFrame:
    """The notebook's only join (J1; reference
    ``notebooks/player_prop_demo.ipynb`` cell 6): per-outcome best rows
    left-joined with a per-game summary
    (``sum_best_implied`` + comma-joined sorted distinct outcomes)."""
    best = _best_with_game_totals(
        cleaned,
        sum_best_implied=F.sum("implied_prob"),
        _outcomes=F.collect_set("outcome"),
    )
    return best.select(
        "game_id",
        *[c for c in cleaned.columns if c != "game_id"],
        "sum_best_implied",
        F.array_join(F.array_sort("_outcomes"), ", ").alias("outcomes"),
    )
