"""Odds normalization and de-vigging (SURVEY §2.3 C1-C4, §2.4 A1-A2).

Both devig variants are pure window programs — ``Window.partitionBy``
replaces the reference's ``groupby(...).transform`` round-trips
(``src/processing.py:118-124``, ``Sports-Pipeline-V2/odds_utils.py:254-262``)
with a single shuffle on the group key, no Python boundary.

Scale note: a devig partition is one betting market (a handful of rows), so
the window state is tiny and the shuffle is the only cost. Each group sum
is materialized once as a temporary column before the ``when`` that reads
it twice; written inline, Catalyst would evaluate the same windowed sum
twice in one ``Window`` node. :func:`odds_to_probs` is one ``Window`` node
with one sum; :func:`add_true_probabilities` chains two, one sum each, over
the same partitioning key, so they share one Exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import FloatType, NumericType
from pyspark.sql.window import Window

from ..functions.odds_math import (
    DEVIG_POWER,
    coerce_numeric,
    decimal_to_american,
    implied_prob,
    to_decimal_odds,
)
from .flatten import flatten_odds_to_df, standardize_flatten


def odds_to_probs(
    df: DataFrame, price_col: str = "price", market_col: str = "game_id"
) -> DataFrame:
    """Add ``decimal_odds``, ``implied_prob``, ``devig_prob`` columns
    (reference ``src/processing.py:73-126``).

    - Per-row American/decimal heuristic (``processing.py:101``; quirk
      preserved, SURVEY §4.3-1).
    - Proportional devig: ``implied / Σ implied`` over ``market_col``,
      with group-sum ≤ 0 passing implied through (``processing.py:118-124``).
    """
    if price_col not in df.columns:
        raise ValueError(f"price column '{price_col}' not found in DataFrame")

    # A numeric price (``flatten_odds_to_df`` already yields doubles) needs
    # no string round trip; floats keep it so 1.1f reads as 1.1, not
    # 1.100000023841858.
    dtype = df.schema[price_col].dataType
    if isinstance(dtype, NumericType) and not isinstance(dtype, FloatType):
        price = F.col(price_col).cast("double")
    else:
        price = coerce_numeric(F.col(price_col))
    out = (
        df.withColumn(price_col, price)
        .withColumn("decimal_odds", to_decimal_odds(F.col(price_col)))
        .withColumn("implied_prob", implied_prob(F.col("decimal_odds")))
        .withColumn("_total", F.sum("implied_prob").over(Window.partitionBy(market_col)))
    )
    total = F.col("_total")
    return out.withColumn(
        "devig_prob",
        F.when(total <= 0, F.col("implied_prob")).otherwise(
            F.col("implied_prob") / total
        ),
    ).drop("_total")


def clean_odds(games: DataFrame, market: str = "h2h") -> DataFrame:
    """Flatten + probabilities, the ``clean_odds`` pipeline (reference
    ``src/processing.py:127-133``) as one lazy DAG."""
    return odds_to_probs(
        flatten_odds_to_df(games, market=market),
        price_col="price",
        market_col="game_id",
    )


def standardize_odds(games: DataFrame, market_keys: list[str]) -> DataFrame:
    """V2 standardization (reference
    ``Sports-Pipeline-V2/odds_utils.py:209-234``): flatten selected
    markets, drop null/``<= 1`` decimal prices and failed American
    conversions (F6 validity filter, ``odds_utils.py:222-230``), add
    ``odds_american`` + ``implied_prob``."""
    flat = standardize_flatten(games, market_keys)
    return (
        flat.filter(
            F.col("price_decimal").isNotNull() & (F.col("price_decimal") > 1.0)
        )
        .withColumn("odds_american", decimal_to_american(F.col("price_decimal")))
        .filter(F.col("odds_american").isNotNull())
        .withColumn("implied_prob", implied_prob(F.col("price_decimal")))
    )


def add_true_probabilities(
    df: DataFrame, group_col: str = "game_id", power: float = DEVIG_POWER
) -> DataFrame:
    """Power-method devig (reference
    ``Sports-Pipeline-V2/odds_utils.py:237-262``) as two chained windowed
    sums — no UDF:

    ``p1 = p / Σp`` (pass-through when ``Σp <= 0``), ``t = p1^(1/power)``,
    ``true_prob = t / Σt`` (pass-through ``p1`` when ``Σt <= 0``).
    """
    w = Window.partitionBy(group_col)
    total = F.col("_total")
    p1 = F.when(total > 0, F.col("implied_prob") / total).otherwise(
        F.col("implied_prob")
    )
    out = (
        df.withColumn("_total", F.sum("implied_prob").over(w))
        .withColumn("_p1", p1)
        .withColumn("_adj", F.pow(F.col("_p1"), 1.0 / power))
        .withColumn("_adj_total", F.sum("_adj").over(w))
    )
    adj_total = F.col("_adj_total")
    return out.withColumn(
        "true_prob",
        F.when(adj_total > 0, F.col("_adj") / adj_total).otherwise(F.col("_p1")),
    ).drop("_total", "_p1", "_adj", "_adj_total")
