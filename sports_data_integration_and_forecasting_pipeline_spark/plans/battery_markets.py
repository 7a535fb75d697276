"""SURVEY §2 core: odds/markets/EV/backtest entries (devig, argmax best price, arbitrage, rolling/lead features, flagship report).

Mechanical slice of the original plans/battery.py (r14 split —
VERDICT r13 task 3); statement order and oracle SQL are byte-identical
to the monolith. Registration side-effects land in
:data:`battery_core.QUERIES` at import time; ``plans/battery.py``
imports the sections in original order and re-exports every name.
"""

from __future__ import annotations

import dataclasses
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .battery_core import _cents, _r, _register, _sql_r, _t




# ---------------------------------------------------------------------------
# A1: proportional devig — share-of-group window (reference
# src/processing.py:118-124) over lineitem grouped by order.
# Scale: one hash-shuffle on l_orderkey; window state is one running sum
# per small group. No sort needed (unbounded frame).
# ---------------------------------------------------------------------------
@_register(
    "devig_proportional",
    f"""
    SELECT l_orderkey, l_linenumber,
           {_sql_r('implied_prob', 9)} AS implied_prob,
           {_sql_r('implied_prob / SUM(implied_prob) OVER (PARTITION BY l_orderkey)', 9)} AS devig_prob
    FROM (SELECT l_orderkey, l_linenumber, 1.0 / l_extendedprice AS implied_prob
          FROM lineitem)
    """,
    "A1,C4",
    "share-of-group windowed devig over lineitem",
)
def devig_proportional(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        (F.lit(1.0) / F.col("l_extendedprice")).alias("implied_prob"),
    )
    w = Window.partitionBy("l_orderkey")
    total = F.sum("implied_prob").over(w)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        _r(F.col("implied_prob"), 9).alias("implied_prob"),
        _r(F.col("implied_prob") / total, 9).alias("devig_prob"),
    )


# ---------------------------------------------------------------------------
# A2: power-method devig (reference odds_utils.py:237-262) over orders per
# customer: normalize -> pow(1/1.05) -> renormalize, two windowed sums.
# Scale: both windows share partitioning on o_custkey -> single Exchange.
# ---------------------------------------------------------------------------
@_register(
    "devig_power",
    f"""
    WITH base AS (
      SELECT o_orderkey, o_custkey, 1.0 / o_totalprice AS implied
      FROM orders
    ), p1 AS (
      SELECT o_orderkey, o_custkey,
             implied / SUM(implied) OVER (PARTITION BY o_custkey) AS p1
      FROM base
    ), adj AS (
      SELECT o_orderkey, o_custkey, pow(p1, 1.0/1.05) AS adj FROM p1
    )
    SELECT o_orderkey, o_custkey,
           {_sql_r('adj / SUM(adj) OVER (PARTITION BY o_custkey)', 6)} AS true_prob
    FROM adj
    """,
    "A2",
    "power-method devig as chained windowed sums over orders",
)
def devig_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        (F.lit(1.0) / F.col("o_totalprice")).alias("implied"),
    )
    w = Window.partitionBy("o_custkey")
    p1 = (F.col("implied") / F.sum("implied").over(w)).alias("p1")
    adj = o.select("o_orderkey", "o_custkey", F.pow(p1, 1.0 / 1.05).alias("adj"))
    return adj.select(
        "o_orderkey",
        "o_custkey",
        _r(F.col("adj") / F.sum("adj").over(w), 6).alias("true_prob"),
    )


# ---------------------------------------------------------------------------
# A3/O4: best-price argmax per group with pinned tiebreak (reference
# src/analysis.py:69-70; tie policy per SURVEY §4.3-4).
# Scale: single window (shuffle+sort on l_orderkey); at 100 TB prefer
# max_by for the no-sort variant — kept as window here because the oracle
# needs the exact tiebreak.
# ---------------------------------------------------------------------------
@_register(
    "best_price_per_order",
    """
    SELECT l_orderkey, best_price, best_linenumber, best_suppkey
    FROM (
      SELECT l_orderkey, l_extendedprice AS best_price,
             l_linenumber AS best_linenumber, l_suppkey AS best_suppkey,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                ORDER BY l_extendedprice DESC, l_linenumber ASC, l_suppkey ASC) AS rn
      FROM lineitem
    ) WHERE rn = 1
    """,
    "A3,A4,A5,W3,O4",
    "argmax row per order: max extendedprice, deterministic tiebreak",
)
def best_price_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_linenumber"), F.asc("l_suppkey")
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_orderkey",
            F.col("l_extendedprice").alias("best_price"),
            F.col("l_linenumber").alias("best_linenumber"),
            F.col("l_suppkey").alias("best_suppkey"),
        )
    )


# ---------------------------------------------------------------------------
# A6/A7: two-outcome arbitrage scan (reference src/analysis.py:39-96):
# l_orderkey = game, lineitem = outcome, l_quantity = decimal odds.
# Scale: one groupBy with map-side partial agg; margin math post-agg.
# ---------------------------------------------------------------------------
@_register(
    "arbitrage_scan",
    f"""
    SELECT l_orderkey,
           CAST(n_outcomes AS BIGINT) AS n_outcomes,
           {_sql_r('total_implied', 9)} AS total_implied,
           CASE WHEN n_outcomes = 2 AND total_implied < 1.0
                THEN {_sql_r('(1.0 - total_implied) * 100.0', 2)}
           END AS arbitrage_margin
    FROM (
      SELECT l_orderkey, COUNT(*) AS n_outcomes,
             SUM(1.0 / l_quantity) AS total_implied
      FROM lineitem GROUP BY l_orderkey
    )
    """,
    "A6,A7,C4,C14",
    "per-game two-outcome arbitrage margin over lineitem groups",
)
def arbitrage_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_outcomes"),
        F.sum(F.lit(1.0) / F.col("l_quantity")).alias("total_implied"),
    )
    return agg.select(
        "l_orderkey",
        F.col("n_outcomes").cast("bigint").alias("n_outcomes"),
        _r(F.col("total_implied"), 9).alias("total_implied"),
        F.when(
            (F.col("n_outcomes") == 2) & (F.col("total_implied") < 1.0),
            _r((F.lit(1.0) - F.col("total_implied")) * 100.0, 2),
        ).alias("arbitrage_margin"),
    )


# ---------------------------------------------------------------------------
# A3+A9+J1: best row per (order, linestatus) joined back to a per-order
# summary (the notebook's join, cell 6).
# Scale: window and groupBy share the l_orderkey prefix; the join-back is
# on l_orderkey (AQE picks broadcast when the summary side is small).
# ---------------------------------------------------------------------------
@_register(
    "best_odds_report_join",
    f"""
    WITH best AS (
      SELECT l_orderkey, outcome, best_price, best_supp FROM (
        SELECT l_orderkey, l_linestatus AS outcome,
               l_extendedprice AS best_price, l_suppkey AS best_supp,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_linestatus
                                  ORDER BY l_extendedprice DESC, l_linenumber ASC, l_suppkey ASC) AS rn
        FROM lineitem
      ) WHERE rn = 1
    ), summary AS (
      SELECT l_orderkey,
             {_sql_r('SUM(1.0 / best_price)', 9)} AS sum_best_implied,
             STRING_AGG(DISTINCT outcome, ', ' ORDER BY outcome) AS outcomes
      FROM best GROUP BY l_orderkey
    )
    SELECT b.l_orderkey, b.outcome, b.best_price, b.best_supp,
           s.sum_best_implied, s.outcomes
    FROM best b LEFT JOIN summary s USING (l_orderkey)
    """,
    "A3,A9,J1",
    "per-outcome best rows left-joined with per-game summary",
)
def best_odds_report_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.parallelism import ensure_parallelism

    # spread keyed by l_orderkey: HashPartitioning(l_orderkey) satisfies
    # BOTH windows' distributions ((l_orderkey, l_linestatus) is a
    # superset clustering; l_orderkey is exact), so the whole pipeline
    # runs off ONE exchange — previously the two windows re-shuffled
    li = ensure_parallelism(_t(spark, sf_dir, "lineitem"), "l_orderkey")
    w = Window.partitionBy("l_orderkey", "l_linestatus").orderBy(
        F.desc("l_extendedprice"), F.asc("l_linenumber"), F.asc("l_suppkey")
    )
    best = (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_orderkey",
            F.col("l_linestatus").alias("outcome"),
            F.col("l_extendedprice").alias("best_price"),
            F.col("l_suppkey").alias("best_supp"),
        )
    )
    # The reference shape is groupBy + join-back (J1); expressed as a second
    # window over l_orderkey the per-game summary attaches without a
    # self-join — one pipeline, no duplicate computation of `best`.
    w2 = Window.partitionBy("l_orderkey")
    return best.select(
        "l_orderkey",
        "outcome",
        "best_price",
        "best_supp",
        _r(F.sum(F.lit(1.0) / F.col("best_price")).over(w2), 9).alias(
            "sum_best_implied"
        ),
        F.array_join(F.array_sort(F.collect_set("outcome").over(w2)), ", ").alias(
            "outcomes"
        ),
    )


# ---------------------------------------------------------------------------
# W1: partitioned rolling mean, frame = 4 preceding + current, matching
# pandas rolling(5, min_periods=1) (reference src/features.py:8-18).
# Scale: one shuffle+sort per user partition; at 100 TB, range-partition by
# user and sort within partitions once for all window ops.
# ---------------------------------------------------------------------------
@_register(
    "rolling_avg_events",
    f"""
    SELECT event_id, user_id,
           {_sql_r('AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id '
                    'ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)', 6)} AS rolling_avg
    FROM events
    """,
    "W1,O1",
    "per-user 5-row rolling mean over the events stream table",
)
def rolling_avg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(-4, 0)
    )
    return ev.select(
        "event_id", "user_id", _r(F.avg("value").over(w), 6).alias("rolling_avg")
    )


# ---------------------------------------------------------------------------
# W2: lead target + trailing-null drop (reference src/features.py:21-23).
# ---------------------------------------------------------------------------
@_register(
    "lead_target_events",
    """
    SELECT event_id, user_id, value, target FROM (
      SELECT event_id, user_id, value,
             LEAD(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS target
      FROM events
    ) WHERE target IS NOT NULL
    """,
    "W2,F9",
    "next-event target per user with trailing-row drop",
)
def lead_target_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        ev.select(
            "event_id",
            "user_id",
            "value",
            F.lead("value", 1).over(w).alias("target"),
        )
        .na.drop(subset=["target"])
    )


# ---------------------------------------------------------------------------
# C1/C3: mixed American/decimal normalization with the reference's per-row
# heuristic (src/processing.py:98-112), incl. its deliberate quirks.
# Pure projection: no shuffle at any scale.
# ---------------------------------------------------------------------------
@_register(
    "odds_format_normalize",
    f"""
    SELECT event_id, price,
           {_sql_r('''CASE WHEN price <= 0 OR ABS(price) >= 100 THEN
                        CASE WHEN price > 0 THEN price / 100.0 + 1.0
                             ELSE 100.0 / (-price) + 1.0 END
                      ELSE price END''', 6)} AS decimal_odds
    FROM (SELECT event_id, value - 250.005 AS price FROM events)
    """,
    "C1,C3,F5",
    "per-row odds-format heuristic + American->decimal conversion",
)
def odds_format_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.odds_math import to_decimal_odds

    ev = _t(spark, sf_dir, "events").select(
        "event_id", (F.col("value") - 250.005).alias("price")
    )
    return ev.select(
        "event_id", "price", _r(to_decimal_odds(F.col("price")), 6).alias("decimal_odds")
    )


# ---------------------------------------------------------------------------
# C5-C9: the EV battery as one projection (reference ev_calculator.py:16-66
# did this with row-wise apply). Odds/probs are derived deterministically
# from lineitem columns.
# ---------------------------------------------------------------------------
_EV_AM_SQL = (
    "CASE WHEN l_linenumber % 2 = 0 THEN -(100.0 + l_partkey % 150) "
    "ELSE 100.0 + l_partkey % 200 END"
)
_EV_DEC_SQL = (
    f"CASE WHEN ({_EV_AM_SQL}) > 0 THEN ({_EV_AM_SQL}) / 100.0 + 1.0 "
    f"ELSE 100.0 / (-({_EV_AM_SQL})) + 1.0 END"
)


@_register(
    "ev_battery",
    f"""
    WITH base AS (
      SELECT l_orderkey, l_linenumber,
             {_EV_AM_SQL} AS odds_american,
             {_EV_DEC_SQL} - 1.0 AS payout,
             0.3 + l_discount * 5.0 AS true_prob
      FROM lineitem
    ), ev AS (
      SELECT *, true_prob * payout - (1.0 - true_prob) AS ev FROM base
    )
    SELECT l_orderkey, l_linenumber, odds_american,
           {_sql_r('ev', 6)} AS ev,
           {_sql_r('true_prob * pow(payout - ev, 2) + (1.0 - true_prob) * pow(-1.0 - ev, 2)', 6)} AS variance,
           {_sql_r('ev - 0.5 * (true_prob * pow(payout - ev, 2) + (1.0 - true_prob) * pow(-1.0 - ev, 2))', 6)} AS ev_adj,
           {_sql_r('LEAST(GREATEST((payout * true_prob - (1.0 - true_prob)) / payout, 0.0) * 0.5, 0.05)', 6)} AS kelly_fraction,
           CAST(ev >= 0.02 AS INT) AS bet_flag
    FROM ev
    """,
    "C5,C6,C7,C8,C9",
    "EV/variance/adjusted-EV/half-Kelly/bet-flag battery",
)
def ev_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.odds_math import (
        adjusted_ev,
        bet_variance,
        expected_value,
        half_kelly_fraction,
    )

    li = _t(spark, sf_dir, "lineitem")
    am = F.when(
        F.col("l_linenumber") % 2 == 0,
        -(F.lit(100.0) + F.col("l_partkey") % 150),
    ).otherwise(F.lit(100.0) + F.col("l_partkey") % 200)
    base = li.select(
        "l_orderkey",
        "l_linenumber",
        am.alias("odds_american"),
        (F.lit(0.3) + F.col("l_discount") * 5.0).alias("true_prob"),
    )
    ev = expected_value(F.col("odds_american"), F.col("true_prob"))
    base = base.withColumn("ev", ev)
    var = bet_variance(F.col("odds_american"), F.col("true_prob"), F.col("ev"))
    return base.select(
        "l_orderkey",
        "l_linenumber",
        "odds_american",
        _r(F.col("ev"), 6).alias("ev"),
        _r(var, 6).alias("variance"),
        _r(adjusted_ev(F.col("ev"), var), 6).alias("ev_adj"),
        _r(half_kelly_fraction(F.col("odds_american"), F.col("true_prob")), 6).alias(
            "kelly_fraction"
        ),
        (F.col("ev") >= 0.02).cast("int").alias("bet_flag"),
    )


# ---------------------------------------------------------------------------
# A12: backtest as labeled projection + one global agg (order-independent
# because stake is constant; SURVEY §2.4 A12).
# ---------------------------------------------------------------------------
@_register(
    "backtest_roi",
    """
    WITH labeled AS (
      SELECT CASE
               WHEN pred > line AND pred > 0.55 THEN 'win'
               WHEN pred < line AND (1.0 - pred) > 0.55 THEN 'loss'
               ELSE 'pass' END AS bet
      FROM (SELECT value - floor(value) AS pred,
                   (event_id % 100) / 100.0 AS line FROM events)
    )
    SELECT CAST(SUM(CASE WHEN bet = 'win' THEN 1 ELSE 0 END) AS BIGINT) AS wins,
           CAST(SUM(CASE WHEN bet = 'loss' THEN 1 ELSE 0 END) AS BIGINT) AS losses,
           CAST(SUM(CASE WHEN bet = 'pass' THEN 1 ELSE 0 END) AS BIGINT) AS passes,
           1000.0 + 10.0 * SUM(CASE WHEN bet = 'win' THEN 1 ELSE 0 END)
                  - 10.0 * SUM(CASE WHEN bet = 'loss' THEN 1 ELSE 0 END) AS final_bankroll,
           (10.0 * SUM(CASE WHEN bet = 'win' THEN 1 ELSE 0 END)
            - 10.0 * SUM(CASE WHEN bet = 'loss' THEN 1 ELSE 0 END)) / 1000.0 AS roi
    FROM labeled
    """,
    "A12",
    "constant-stake backtest fold as a single aggregation",
)
def backtest_roi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.evaluation import backtest

    ev = _t(spark, sf_dir, "events").select(
        (F.col("value") - F.floor(F.col("value"))).alias("prediction"),
        ((F.col("event_id") % 100) / 100.0).alias("market_line"),
    )
    return backtest(ev).select(
        "wins",
        "losses",
        "passes",
        F.col("final_bankroll").cast("double").alias("final_bankroll"),
        F.col("roi").cast("double").alias("roi"),
    )


# ---------------------------------------------------------------------------
# A11: accuracy metric as a global avg.
# ---------------------------------------------------------------------------
@_register(
    "accuracy_metric",
    f"""
    SELECT {_sql_r('AVG(CASE WHEN (value / 500.0 >= 0.5) = (event_id % 2 = 1) '
                   'THEN 1.0 ELSE 0.0 END)', 6)} AS accuracy
    FROM events
    """,
    "A11",
    "prediction-vs-outcome accuracy as one aggregation",
)
def accuracy_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.evaluation import evaluate_accuracy

    ev = _t(spark, sf_dir, "events").select(
        (F.col("value") / 500.0).alias("prediction"),
        (F.col("event_id") % 2).cast("int").alias("outcome"),
    )
    return evaluate_accuracy(ev).select(_r(F.col("accuracy"), 6).alias("accuracy"))


# ---------------------------------------------------------------------------
# U1/S6: snapshot union (canonical append semantics, reference
# src/ingestion.py:132-142): two labeled slices unioned by name.
# ---------------------------------------------------------------------------
@_register(
    "snapshot_union",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice, 'open_orders' AS snapshot_label
    FROM orders WHERE o_orderstatus = 'O'
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice, 'big_orders' AS snapshot_label
    FROM orders WHERE o_totalprice > 100000
    """,
    "U1,S6,F8",
    "append-style union of two snapshot slices",
)
def snapshot_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    s1 = o.filter(F.col("o_orderstatus") == "O").withColumn(
        "snapshot_label", F.lit("open_orders")
    )
    s2 = o.filter(F.col("o_totalprice") > 100000).withColumn(
        "snapshot_label", F.lit("big_orders")
    )
    return s1.unionByName(s2)


# ---------------------------------------------------------------------------
# F10/A10 + join pipeline: per-customer grouped multi-agg with collected
# set, through a broadcast dimension join (customer->nation).
# Scale: orders shuffle on o_custkey; customer/nation broadcast.
# ---------------------------------------------------------------------------
@_register(
    "customer_order_rollup",
    """
    SELECT c.c_custkey, n.n_name,
           CAST(SUM(CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS total_spent,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           STRING_AGG(DISTINCT o.o_orderstatus, ', ' ORDER BY o_orderstatus) AS statuses
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY c.c_custkey, n.n_name
    """,
    "A9,A10,J1,F10",
    "grouped multi-agg with sorted-set string agg through dim joins",
)
def customer_order_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Money sums go through exact integer cents (see _cents) so the result
    # is independent of summation order — double sums are not.
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    joined = o.join(
        F.broadcast(c), o.o_custkey == c.c_custkey, "inner"
    ).join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "inner")
    return joined.groupBy("c_custkey", "n_name").agg(
        (F.sum(_cents(F.col("o_totalprice"))) / 100.0).alias("total_spent"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ", ").alias(
            "statuses"
        ),
    )


# ---------------------------------------------------------------------------
# O2/O3: global top-k with pinned tiebreak.
# Scale: Spark's orderBy+limit plans TakeOrderedAndProject — per-partition
# top-k then a k-row merge at the driver; no global sort materialized.
# ---------------------------------------------------------------------------
@_register(
    "topk_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
    "O2,O3",
    "global top-10 orders by totalprice with deterministic tiebreak",
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Flagship: the full detect_discrepancies pipeline shape (A7 = F8 filter ->
# A3 argmax -> A6 margin agg -> J2 join-back) over lineitem-as-odds.
# Scale: argmax window and margin agg share the l_orderkey shuffle; the
# join-back is key-aligned so AQE plans it without a second full shuffle.
# ---------------------------------------------------------------------------
@_register(
    "flagship_market_report",
    f"""
    WITH best AS (
      SELECT l_orderkey, outcome, best_supp, best_price,
             {_sql_r('1.0 / best_price', 9)} AS implied_prob
      FROM (
        SELECT l_orderkey, l_linestatus AS outcome, l_suppkey AS best_supp,
               l_quantity AS best_price,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_linestatus
                                  ORDER BY l_quantity DESC, l_linenumber ASC, l_suppkey ASC) AS rn
        FROM lineitem
      ) WHERE rn = 1
    ), margins AS (
      SELECT l_orderkey, COUNT(*) AS n_outcomes,
             SUM(1.0 / best_price) AS total_implied
      FROM best GROUP BY l_orderkey
    )
    SELECT b.l_orderkey, b.outcome, b.best_supp, b.best_price, b.implied_prob,
           CASE WHEN m.n_outcomes = 2 AND m.total_implied < 1.0
                THEN {_sql_r('(1.0 - m.total_implied) * 100.0', 2)}
           END AS arbitrage_margin
    FROM best b JOIN margins m USING (l_orderkey)
    WHERE m.n_outcomes = 2
    """,
    "A7,A3,A6,J2,F8",
    "flagship: best-price + two-outcome arbitrage report (detect_discrepancies shape)",
)
def flagship_market_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.parallelism import ensure_parallelism

    # one keyed spread serves both windows (superset clustering), as in
    # best_odds_report_join
    li = ensure_parallelism(_t(spark, sf_dir, "lineitem"), "l_orderkey")
    w = Window.partitionBy("l_orderkey", "l_linestatus").orderBy(
        F.desc("l_quantity"), F.asc("l_linenumber"), F.asc("l_suppkey")
    )
    best = (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_orderkey",
            F.col("l_linestatus").alias("outcome"),
            F.col("l_suppkey").alias("best_supp"),
            F.col("l_quantity").alias("best_price"),
            _r(F.lit(1.0) / F.col("l_quantity"), 9).alias("implied_prob"),
        )
    )
    # Margin agg as a second window over l_orderkey: the join-back (J2)
    # becomes a same-key window, avoiding a self-join that would recompute
    # the argmax subtree.
    w2 = Window.partitionBy("l_orderkey")
    n_outcomes = F.count(F.lit(1)).over(w2)
    total = F.sum(F.lit(1.0) / F.col("best_price")).over(w2)
    return (
        best.withColumn("n_outcomes", n_outcomes)
        .withColumn("total_implied", total)
        .filter(F.col("n_outcomes") == 2)
        .select(
            "l_orderkey",
            "outcome",
            "best_supp",
            "best_price",
            "implied_prob",
            F.when(
                F.col("total_implied") < 1.0,
                _r((F.lit(1.0) - F.col("total_implied")) * 100.0, 2),
            ).alias("arbitrage_margin"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q1-shaped pricing summary — the headline OLAP aggregate (bench q1).
# Scale: pure scan + hash agg with map-side combine; 4 output groups.
# ---------------------------------------------------------------------------
@_register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS sum_base_price,
           CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) / CAST(COUNT(*) AS BIGINT) AS avg_qty,
           CAST(SUM(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 / CAST(COUNT(*) AS BIGINT) AS avg_price,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    "A10,C14",
    "TPC-H Q1-shaped pricing summary over lineitem",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # All sums go through exact integers (quantities are whole; money via
    # cents) so partial-agg order cannot perturb the result.
    li = _t(spark, sf_dir, "lineitem")
    cnt = F.count(F.lit(1)).cast("bigint")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        (F.sum(_cents(F.col("l_extendedprice"))) / 100.0).alias("sum_base_price"),
        (
            F.sum(_cents(F.col("l_extendedprice") * (1.0 - F.col("l_discount"))))
            / 100.0
        ).alias("sum_disc_price"),
        (F.sum(F.col("l_quantity").cast("bigint")) / cnt).alias("avg_qty"),
        (F.sum(_cents(F.col("l_extendedprice"))) / 100.0 / cnt).alias("avg_price"),
        cnt.alias("count_order"),
    )
