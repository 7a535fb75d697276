"""Trend/drift entries: Theil-Sen (banded pair-join guards), ridge, anomalies, attribution windows, bitmaps, leakage-safe splits, HLL rolling, KL drift, k-core, bigram perplexity.

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

from ..operators.scoped import fixpoint, persist_scoped

from .battery_core import (
    _PAIR_JOIN_MAX_PAIRS,
    _assert_bounded_group,
    _cents,
    _epoch_s,
    _fdiv,
    _r,
    _register,
    _sql_r,
    _t,
)
from .battery_mixture_storage import _HLL_M, _HLL_P55, _HLL_SCALE
from .battery_text_dedup import _SIMHASH60_CTE, _h60_sql, _shingle_raw_sql








# ===========================================================================
# Theil-Sen robust trend per user — the median-of-pairwise-slopes
# estimator, the outlier-proof twin of user_trend_ols. Pair enumeration
# is a user-partitioned equi-join (bounded by per-user event count, not
# |events|² — and since r6 that bound is ENFORCED: the heavy-key guard
# above raises past _PAIR_JOIN_MAX_GROUP rows/user rather than
# silently enumerating quadratic pairs). The median is selected
# deterministically: a pinned total order (slope, then the pair's event
# ids) + row_number, averaging the one or two middle elements — no
# reliance on engine-specific percentile interpolation. Slope doubles
# come from identical bigint cents/seconds on both engines; the 2-term
# average is commutative, so 9dp rounding is safe.
# ===========================================================================

@_register(
    "theil_sen_user_trend",
    f"""
    WITH e AS (
      SELECT user_id, event_id,
             CAST(epoch_us(ts) // 1000000 AS BIGINT) AS t,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
      FROM events),
    p AS (
      SELECT a.user_id, a.event_id AS ea, b.event_id AS eb,
             1.0 * (b.c - a.c) / (b.t - a.t) AS slope
      FROM e a JOIN e b
        ON a.user_id = b.user_id AND a.t < b.t),
    r AS (
      SELECT user_id, slope,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY slope, ea, eb) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM p)
    SELECT user_id, CAST(max(n) AS BIGINT) AS n_pairs,
           {_sql_r('avg(slope)', 9)} AS ts_slope
    FROM r
    WHERE rn = CAST(floor((n + 1) / 2.0) AS BIGINT)
       OR rn = CAST(floor((n + 2) / 2.0) AS BIGINT)
    GROUP BY user_id
    """,
    "analytics: Theil-Sen robust trend (median pairwise slope; pinned "
    "middle-element selection, user-bounded pair join)",
    "per user: pair count and the 9dp median pairwise slope "
    "(cents/second) of value over time",
)
def theil_sen_user_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    _assert_bounded_group(ev, "user_id", "theil_sen_user_trend")
    e = ev.select(
        "user_id",
        "event_id",
        _epoch_s("ts").alias("t"),
        _cents(F.col("value")).alias("c"),
    )
    a = e.select(
        "user_id",
        F.col("event_id").alias("ea"),
        F.col("t").alias("ta"),
        F.col("c").alias("ca"),
    )
    b = e.select(
        "user_id",
        F.col("event_id").alias("eb"),
        F.col("t").alias("tb"),
        F.col("c").alias("cb"),
    )
    p = (
        a.join(b, "user_id")
        .filter(F.col("ta") < F.col("tb"))
        .select(
            "user_id",
            "ea",
            "eb",
            (
                F.lit(1.0)
                * (F.col("cb") - F.col("ca"))
                / (F.col("tb") - F.col("ta"))
            ).alias("slope"),
        )
    )
    wo = Window.partitionBy("user_id").orderBy("slope", "ea", "eb")
    wn = Window.partitionBy("user_id")
    r = p.select(
        "user_id",
        "slope",
        F.row_number().over(wo).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    mid1 = F.floor((F.col("n") + 1) / F.lit(2.0)).cast("bigint")
    mid2 = F.floor((F.col("n") + 2) / F.lit(2.0)).cast("bigint")
    return (
        r.filter((F.col("rn") == mid1) | (F.col("rn") == mid2))
        .groupBy("user_id")
        .agg(
            F.max("n").cast("bigint").alias("n_pairs"),
            _r(F.avg("slope"), 9).alias("ts_slope"),
        )
    )


# ===========================================================================
# Ridge regression, closed form — 2-feature (lag-1, lag-2 cents)
# autoregression with L2 regularization solved exactly from sufficient
# statistics: one map-side-combined aggregate collects the raw moment
# sums as EXACT bigints (cents ≤ 5.7e4 ⇒ Σx² ≤ 3.2e14 at sf0.1, far
# inside int64 — the n-scaled centering that would overflow is instead
# done in scalar doubles on the 1-row result, identical on both
# engines), then Cramer's rule on the centered 2×2 normal equations
# (X'X + λI, λ pinned at 1e4 absolute). The whole "training" is one
# aggregation pass — no iterative solver, no driver loop.
# ===========================================================================

@_register(
    "ridge_forecast_closed_form",
    f"""
    WITH f AS (
      SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS y,
             lag(CAST(floor(value * 100.0 + 0.5) AS BIGINT), 1)
               OVER w AS x,
             lag(CAST(floor(value * 100.0 + 0.5) AS BIGINT), 2)
               OVER w AS z
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(z) AS BIGINT) AS sz,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(z * z) AS BIGINT) AS szz,
             CAST(sum(x * z) AS BIGINT) AS sxz,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(z * y) AS BIGINT) AS szy
      FROM f WHERE x IS NOT NULL AND z IS NOT NULL),
    m AS (
      SELECT n, sx, sz, sy,
             sxx - 1.0 * sx * sx / n + 10000.0 AS a11,
             szz - 1.0 * sz * sz / n + 10000.0 AS a22,
             sxz - 1.0 * sx * sz / n AS a12,
             sxy - 1.0 * sx * sy / n AS b1v,
             szy - 1.0 * sz * sy / n AS b2v
      FROM s)
    SELECT n,
           {_sql_r('(b1v * a22 - a12 * b2v) / (a11 * a22 - a12 * a12)', 9)}
             AS beta_lag1,
           {_sql_r('(a11 * b2v - a12 * b1v) / (a11 * a22 - a12 * a12)', 9)}
             AS beta_lag2,
           {_sql_r(
               '(sy - (b1v * a22 - a12 * b2v) / (a11 * a22 - a12 * a12)'
               ' * sx'
               ' - (a11 * b2v - a12 * b1v) / (a11 * a22 - a12 * a12)'
               ' * sz) / n', 9)} AS intercept_cents
    FROM m
    """,
    "ml: closed-form ridge autoregression (exact bigint sufficient "
    "statistics in one aggregate, scalar Cramer solve, no iterations)",
    "one row: sample count and 9dp ridge coefficients (lag-1, lag-2, "
    "intercept in cents) with pinned lambda=1e4",
)
def ridge_forecast_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    c = _cents(F.col("value"))
    f = ev.select(
        c.alias("y"),
        F.lag(c, 1).over(w).alias("x"),
        F.lag(c, 2).over(w).alias("z"),
    ).filter(F.col("x").isNotNull() & F.col("z").isNotNull())
    s = f.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("z").cast("bigint").alias("sz"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("z") * F.col("z")).cast("bigint").alias("szz"),
        F.sum(F.col("x") * F.col("z")).cast("bigint").alias("sxz"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("z") * F.col("y")).cast("bigint").alias("szy"),
    )
    lam = F.lit(10000.0)
    a11 = F.col("sxx") - F.lit(1.0) * F.col("sx") * F.col("sx") / F.col("n") + lam
    a22 = F.col("szz") - F.lit(1.0) * F.col("sz") * F.col("sz") / F.col("n") + lam
    a12 = F.col("sxz") - F.lit(1.0) * F.col("sx") * F.col("sz") / F.col("n")
    b1v = F.col("sxy") - F.lit(1.0) * F.col("sx") * F.col("sy") / F.col("n")
    b2v = F.col("szy") - F.lit(1.0) * F.col("sz") * F.col("sy") / F.col("n")
    det = a11 * a22 - a12 * a12
    beta1 = (b1v * a22 - a12 * b2v) / det
    beta2 = (a11 * b2v - a12 * b1v) / det
    return s.select(
        "n",
        _r(beta1, 9).alias("beta_lag1"),
        _r(beta2, 9).alias("beta_lag2"),
        _r(
            (F.col("sy") - beta1 * F.col("sx") - beta2 * F.col("sz"))
            / F.col("n"),
            9,
        ).alias("intercept_cents"),
    )


# ===========================================================================
# Seasonally-adjusted anomaly days — the composed monitoring pipeline:
# daily totals → centered 7-day moving-average trend → weekday seasonal
# index → flag days whose actual/expected ratio strays >10%. Shows the
# operators composing: the seasonal index table (7 rows) broadcasts
# over the per-day trend series; all derived doubles are scalar ops on
# exact bigint sums (window avg of bigints is exact-sum/count on both
# engines), so the threshold comparison is bit-identical — no flapping
# flags at the boundary. Scale: raw stream → one row per day, windows
# and joins run over that tiny series.
# ===========================================================================

@_register(
    "seasonal_anomaly_days",
    f"""
    WITH d AS (
      SELECT CAST(epoch_us(ts) // 1000000 // 86400 AS BIGINT) AS day_num,
             CAST(sum(floor(value * 100.0 + 0.5)) AS BIGINT) AS day_cents
      FROM events GROUP BY 1),
    wk AS (SELECT CAST((day_num + 3) % 7 AS BIGINT) AS dow_mon0,
                  CAST(count(*) AS BIGINT) AS n_days,
                  CAST(sum(day_cents) AS BIGINT) AS wk_cents
           FROM d GROUP BY 1),
    g AS (SELECT CAST(count(*) AS BIGINT) AS g_days,
                 CAST(sum(day_cents) AS BIGINT) AS g_cents FROM d),
    t AS (SELECT day_num, day_cents,
                 CAST((day_num + 3) % 7 AS BIGINT) AS dow_mon0,
                 avg(day_cents) OVER (ORDER BY day_num
                                      ROWS BETWEEN 3 PRECEDING
                                      AND 3 FOLLOWING) AS trend
          FROM d)
    SELECT t.day_num, t.day_cents,
           {_sql_r('t.trend', 2)} AS trend_cents,
           {_sql_r('(1.0 * wk.wk_cents / wk.n_days)'
                   ' / (1.0 * g.g_cents / g.g_days)', 6)} AS seasonal_idx,
           {_sql_r('t.day_cents / (t.trend'
                   ' * ((1.0 * wk.wk_cents / wk.n_days)'
                   ' / (1.0 * g.g_cents / g.g_days)))', 6)} AS ratio,
           CAST(CASE WHEN abs(t.day_cents / (t.trend
                  * ((1.0 * wk.wk_cents / wk.n_days)
                  / (1.0 * g.g_cents / g.g_days))) - 1.0) > 0.10
                THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
    FROM t JOIN wk USING (dow_mon0) CROSS JOIN g
    """,
    "monitoring: seasonally-adjusted daily anomaly flags (7-day centered "
    "trend x weekday index, broadcast over the per-day series)",
    "per day: cents, 2dp trend, 6dp seasonal index, 6dp actual/expected "
    "ratio, and a >10%-deviation anomaly flag",
)
def seasonal_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        _fdiv(_epoch_s("ts"), 86400).alias("day_num")
    ).agg(F.sum(_cents(F.col("value"))).cast("bigint").alias("day_cents"))
    wk = d.groupBy(
        ((F.col("day_num") + 3) % 7).cast("bigint").alias("dow_mon0")
    ).agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("day_cents").cast("bigint").alias("wk_cents"),
    )
    g = d.agg(
        F.count("*").cast("bigint").alias("g_days"),
        F.sum("day_cents").cast("bigint").alias("g_cents"),
    )
    # unpartitioned window is bounded by DISTINCT DAYS (calendar-range
    # granular, never corpus rows) — the day agg above reduced first
    wt = Window.orderBy("day_num").rowsBetween(-3, 3)
    t = d.select(
        "day_num",
        "day_cents",
        ((F.col("day_num") + 3) % 7).cast("bigint").alias("dow_mon0"),
        F.avg("day_cents").over(wt).alias("trend"),
    )
    idx = (F.lit(1.0) * F.col("wk_cents") / F.col("n_days")) / (
        F.lit(1.0) * F.col("g_cents") / F.col("g_days")
    )
    ratio = F.col("day_cents") / (F.col("trend") * idx)
    return (
        t.join(F.broadcast(wk), "dow_mon0")
        .crossJoin(F.broadcast(g))
        .select(
            "day_num",
            "day_cents",
            _r(F.col("trend"), 2).alias("trend_cents"),
            _r(idx, 6).alias("seasonal_idx"),
            _r(ratio, 6).alias("ratio"),
            F.when(F.abs(ratio - 1.0) > 0.10, 1)
            .otherwise(0)
            .cast("bigint")
            .alias("is_anomaly"),
        )
    )


# ===========================================================================
# Set-operation churn audit — the one relational surface the battery
# didn't yet exercise: INTERSECT / EXCEPT (distinct set semantics,
# identical in Spark's .intersect/.subtract and ANSI SQL). Sets are
# (user, active-weekday) pairs per month half — fine-grained enough
# that both EXCEPT directions are genuinely non-empty on the dense
# synthetic users (every user is active all month, so plain user-id
# sets would make the diffs degenerate). The weekday again comes from
# pure epoch-day arithmetic. Scale: two distinct aggregates + set ops
# that hash on the full row — the same shuffle class as the groupBys.
# ===========================================================================

@_register(
    "set_ops_churn_audit",
    """
    WITH a AS (
      SELECT DISTINCT user_id,
             CAST((epoch_us(ts) // 1000000 // 86400 + 3) % 7 AS BIGINT)
               AS dow_mon0
      FROM events WHERE ts < TIMESTAMP '2024-01-16'),
    b AS (
      SELECT DISTINCT user_id,
             CAST((epoch_us(ts) // 1000000 // 86400 + 3) % 7 AS BIGINT)
               AS dow_mon0
      FROM events WHERE ts >= TIMESTAMP '2024-01-16')
    SELECT 'both' AS segment, user_id, dow_mon0
    FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
    UNION ALL
    SELECT 'first_only' AS segment, user_id, dow_mon0
    FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
    UNION ALL
    SELECT 'second_only' AS segment, user_id, dow_mon0
    FROM (SELECT * FROM b EXCEPT SELECT * FROM a)
    """,
    "analytics: INTERSECT/EXCEPT churn audit over (user, weekday) "
    "activity sets (distinct set semantics, both diff directions "
    "non-empty)",
    "per (user, weekday) activity pair: tagged 'both' / 'first_only' / "
    "'second_only' membership across the two month halves",
)
def set_ops_churn_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    split = F.lit("2024-01-16").cast("timestamp_ntz")
    dow = ((_fdiv(_epoch_s("ts"), 86400) + 3) % 7).cast("bigint").alias(
        "dow_mon0"
    )
    a = ev.filter(F.col("ts") < split).select("user_id", dow).distinct()
    b = ev.filter(F.col("ts") >= split).select("user_id", dow).distinct()
    tag = lambda df, seg: df.select(  # noqa: E731
        F.lit(seg).alias("segment"), "user_id", "dow_mon0"
    )
    return (
        tag(a.intersect(b), "both")
        .unionAll(tag(a.subtract(b), "first_only"))
        .unionAll(tag(b.subtract(a), "second_only"))
    )


# ===========================================================================
# RANGE-frame trailing window — the value-distance window frame
# (RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW over epoch seconds),
# the one window-frame class the battery didn't yet exercise: ROWS
# frames count rows, RANGE frames measure ORDER-BY distance, and the
# two diverge whenever event spacing is irregular. RANGE output is
# tie-insensitive by definition (all peers of the current ORDER-BY
# value join the frame), so exact bigint sums need no tiebreak pinning.
# Scale: one shuffle on user_id, one sort per partition — same cost
# class as every other per-user window here.
# ===========================================================================

@_register(
    "range_frame_trailing_hour",
    """
    WITH e AS (
      SELECT event_id, user_id,
             CAST(epoch_us(ts) // 1000000 AS BIGINT) AS t_s,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events)
    SELECT event_id, user_id, t_s,
           CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY t_s
                                 RANGE BETWEEN 3600 PRECEDING
                                 AND CURRENT ROW) AS BIGINT)
             AS trailing_1h_cents,
           CAST(count(*) OVER (PARTITION BY user_id ORDER BY t_s
                               RANGE BETWEEN 3600 PRECEDING
                               AND CURRENT ROW) AS BIGINT)
             AS trailing_1h_events
    FROM e
    """,
    "analytics: RANGE-frame trailing-hour window (value-distance frame "
    "over epoch seconds; tie-insensitive, exact bigint sums)",
    "per event: the user's value cents and event count within the "
    "trailing 3600 seconds (RANGE frame, not ROWS)",
)
def range_frame_trailing_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        "user_id",
        _epoch_s("ts").alias("t_s"),
        _cents(F.col("value")).alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t_s")
        .rangeBetween(-3600, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "t_s",
        F.sum("cents").over(w).cast("bigint").alias("trailing_1h_cents"),
        F.count("*").over(w).cast("bigint").alias("trailing_1h_events"),
    )


# ===========================================================================
# U-shaped multi-touch attribution — the marketing-analytics credit
# model the last-touch entry (purchase_click_attribution) can't express:
# every click in the 24h lookback shares the purchase's credit, 40%
# to the first touch, 40% to the last, the middle 20% split evenly
# (collapsing to 1.0 / 0.5+0.5 for 1- and 2-click paths). Credit is a
# scalar formula over exact bigint rank/count — deterministic to the
# last bit, so the per-purchase credits sum to exactly 1 on both
# engines. The click-purchase pairing is a user-keyed equi-join with a
# time-band filter (pairs bounded by per-user event counts — the same
# contract as the Theil-Sen pair join, enforced since r6 by the shared
# heavy-key guard above it); ranks pin ties on click id.
# ===========================================================================

@_register(
    "multi_touch_attribution",
    f"""
    WITH e AS (
      SELECT user_id, event_id, event_type,
             CAST(epoch_us(ts) // 1000000 AS BIGINT) AS t
      FROM events),
    p AS (SELECT user_id, event_id AS pid, t AS tp
          FROM e WHERE event_type = 'purchase'),
    c AS (SELECT user_id, event_id AS cid, t AS tc
          FROM e WHERE event_type = 'click'),
    j AS (
      SELECT p.pid, c.cid, c.tc,
             row_number() OVER (PARTITION BY p.pid
                                ORDER BY c.tc, c.cid) AS rnk,
             count(*) OVER (PARTITION BY p.pid) AS n_touches
      FROM p JOIN c
        ON p.user_id = c.user_id
       AND c.tc <= p.tp AND c.tc >= p.tp - 86400)
    SELECT pid, cid, CAST(rnk AS BIGINT) AS touch_rank,
           CAST(n_touches AS BIGINT) AS n_touches,
           {_sql_r(
               'CASE WHEN n_touches = 1 THEN 1.0'
               ' WHEN n_touches = 2 THEN 0.5'
               ' WHEN rnk = 1 OR rnk = n_touches THEN 0.4'
               ' ELSE 0.2 / (n_touches - 2) END', 6)} AS credit
    FROM j
    """,
    "analytics: U-shaped multi-touch attribution (40/20/40 credit over "
    "the 24h click path; user-keyed band join, exact rank arithmetic)",
    "per (purchase, click) touch in the 24h lookback: rank, path "
    "length, and 6dp U-shaped credit (sums to 1 per purchase)",
)
def multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # Only clicks and purchases enter the pair join (r6 ADVICE: a user
    # heavy in OTHER event types must not trip the guard), and the
    # per-user pair count is the PRODUCT n_clicks × n_purchases — so
    # bound the product directly rather than each count (bounding each
    # at 10k would still admit 1e8 pairs for one user; a clicks-only
    # heavy user produces zero pairs and passes).
    pair_hi = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("nc"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("np"),
        )
        .agg(F.max(F.col("nc") * F.col("np")).alias("mx"))
        .collect()[0]["mx"]
    )
    if pair_hi is not None and pair_hi > _PAIR_JOIN_MAX_PAIRS:
        raise AssertionError(
            "multi_touch_attribution pair-join precondition violated: "
            f"heaviest user would enumerate {pair_hi:,} click×purchase "
            f"pairs (bound {_PAIR_JOIN_MAX_PAIRS:,}). Cap per-user "
            "clicks/purchases upstream (sample) instead of letting the "
            "quadratic blowup launch."
        )
    e = ev.select(
        "user_id", "event_id", "event_type", _epoch_s("ts").alias("t")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("pid"), F.col("t").alias("tp")
    )
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("cid"), F.col("t").alias("tc")
    )
    j = (
        p.join(c, "user_id")
        .filter(
            (F.col("tc") <= F.col("tp"))
            & (F.col("tc") >= F.col("tp") - 86400)
        )
        .select(
            "pid",
            "cid",
            "tc",
            F.row_number()
            .over(Window.partitionBy("pid").orderBy("tc", "cid"))
            .alias("rnk"),
            F.count("*").over(Window.partitionBy("pid")).alias("n_touches"),
        )
    )
    credit = (
        F.when(F.col("n_touches") == 1, F.lit(1.0))
        .when(F.col("n_touches") == 2, F.lit(0.5))
        .when(
            (F.col("rnk") == 1) | (F.col("rnk") == F.col("n_touches")),
            F.lit(0.4),
        )
        .otherwise(F.lit(0.2) / (F.col("n_touches") - 2))
    )
    return j.select(
        "pid",
        "cid",
        F.col("rnk").cast("bigint").alias("touch_rank"),
        F.col("n_touches").cast("bigint").alias("n_touches"),
        _r(credit, 6).alias("credit"),
    )


# ===========================================================================
# Per-user activity bitmap — the bitwise-aggregate surface: each user's
# active days packed into one bigint via bit_or(1 << day_index), active
# count via bit_count. This is the roaring-bitmap-lite representation
# engagement systems keep per user — 64 days of presence in 8 bytes,
# mergeable across partitions by construction (bit_or is commutative
# and associative, the ideal map-side-combined aggregate). The day
# index is relative to the global min day (derived, not hardcoded), and
# indices ≥63 are filtered OUT on both sides: index 63 would be the sign
# bit — Spark's shiftleft(1L, 63) silently yields it while DuckDB 1.0.0
# raises "Overflow in left shift (1 << 63)" (verified locally), a
# silent-vs-loud engine divergence — so the bitmap is explicitly "the
# first 63 days of the observation window" (the current testdata spans
# 30). Pure integer ops — exact.
# ===========================================================================

@_register(
    "activity_bitmap_days",
    """
    WITH e AS (
      SELECT user_id,
             CAST(epoch_us(ts) // 1000000 // 86400 AS BIGINT) AS day
      FROM events),
    base AS (SELECT min(day) AS base FROM e),
    j AS (SELECT user_id, CAST(day - base AS INT) AS di
          FROM e CROSS JOIN base
          WHERE day - base < 63)
    SELECT user_id,
           CAST(bit_or(CAST(1 AS BIGINT) << di) AS BIGINT) AS day_bitmap,
           CAST(bit_count(bit_or(CAST(1 AS BIGINT) << di)) AS BIGINT)
             AS n_active_days,
           CAST(count(*) AS BIGINT) AS n_events
    FROM j GROUP BY user_id
    """,
    "analytics: per-user active-day bitmap via bit_or/bit_count "
    "(mergeable 8-byte presence set, the roaring-bitmap-lite form)",
    "per user: day-presence bitmap in a bigint (bit i = active on "
    "min-day+i, window capped at 63 days to keep the sign bit clear), "
    "popcount of active days, and event count",
)
def activity_bitmap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    e = ev.select("user_id", _fdiv(_epoch_s("ts"), 86400).alias("day"))
    base = e.agg(F.min("day").alias("base"))
    j = (
        e.crossJoin(F.broadcast(base))
        .filter(F.col("day") - F.col("base") < 63)
        .select(
            "user_id",
            (F.col("day") - F.col("base")).cast("int").alias("di"),
        )
    )
    bit = F.expr("shiftleft(CAST(1 AS BIGINT), di)")
    return j.groupBy("user_id").agg(
        F.bit_or(bit).cast("bigint").alias("day_bitmap"),
        F.bit_count(F.bit_or(bit)).cast("bigint").alias("n_active_days"),
        F.count("*").cast("bigint").alias("n_events"),
    )


# ===========================================================================
# Leakage-safe train/val/test split — the step that closes the dedup →
# split loop: assigning SPLITS BY DUPLICATE CLUSTER, not by document,
# so a near-duplicate of a training doc can never land in the test set
# (the classic eval-leakage failure). Clusters come from the same
# SimHash connected components as dedup_cluster_assign; the split is
# the house md5 bucket (engine-portable h60 % 10 → 80/10/10) keyed on
# the CLUSTER id — every member inherits its cluster's split by
# construction, which is the whole guarantee. Scale: the components
# fixpoint is the documented O(diameter) join+agg; the split itself is
# one narrow hash projection.
# ===========================================================================

@_register(
    "leakage_safe_split",
    f"""
    WITH RECURSIVE {_SIMHASH60_CTE},
    bands AS (
      SELECT doc_id, simhash60, b AS band,
             (simhash60 >> (15 * b)) & 32767 AS nib
      FROM sim60 CROSS JOIN (VALUES (0), (1), (2), (3)) t(b)
    ),
    edges AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.nib = b.nib
                               AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash60, b.simhash60)) <= 3
    ),
    sym AS (
      SELECT id_a AS n, id_b AS m FROM edges
      UNION ALL SELECT id_b, id_a FROM edges
    ),
    comp(n, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.n, c.label FROM comp c JOIN sym s ON s.m = c.n
    ),
    clusters AS (
      SELECT n AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
      FROM comp GROUP BY n
    )
    SELECT doc_id, cluster_id,
           CASE WHEN {_h60_sql(
               "concat('split', CAST(cluster_id AS VARCHAR))")} % 10 < 8
                THEN 'train'
                WHEN {_h60_sql(
               "concat('split', CAST(cluster_id AS VARCHAR))")} % 10 = 8
                THEN 'val'
                ELSE 'test' END AS split
    FROM clusters
    """,
    "curation: leakage-safe train/val/test split (md5 bucket on the "
    "duplicate-cluster id — near-dups can never straddle splits)",
    "per document: its SimHash duplicate-cluster id and the cluster's "
    "80/10/10 split assignment",
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        connected_components,
        h60,
        simhash_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    edges = simhash_pairs(docs, max_hamming=3).select("id_a", "id_b")
    clusters = connected_components(edges, docs, node_col="doc_id")
    bucket = h60(
        F.concat(F.lit("split"), F.col("cluster_id").cast("string"))
    ) % 10
    return clusters.select(
        "doc_id",
        "cluster_id",
        F.when(bucket < 8, "train")
        .when(bucket == 8, "val")
        .otherwise("test")
        .alias("split"),
    )


# ===========================================================================
# Brand price realization — catalog-vs-transacted pricing: for each
# brand, the revenue actually booked against the catalog value of the
# goods sold (Σ extendedprice ÷ Σ qty·retailprice). Exercises
# p_retailprice (the one catalog column nothing else touches) and the
# classic fact-to-dim money reconciliation. All money is exact integer
# cents (quantities are integral in this data, cast checked by the
# oracle); the realization ratio is one rounded division of exact
# bigint sums. Scale: broadcast part dim into the fact scan, one
# map-side-combined aggregate — the canonical star-join rollup.
# ===========================================================================

@_register(
    "brand_price_realization",
    f"""
    WITH li AS (
      SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
             CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
               AS ext_cents
      FROM lineitem),
    p AS (SELECT p_partkey, p_brand,
                 CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT)
                   AS retail_cents
          FROM part)
    SELECT p.p_brand,
           CAST(count(DISTINCT li.l_partkey) AS BIGINT) AS n_parts,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(li.qty) AS BIGINT) AS sum_qty,
           CAST(sum(li.ext_cents) AS BIGINT) AS revenue_cents,
           CAST(sum(li.qty * p.retail_cents) AS BIGINT) AS catalog_cents,
           {_sql_r('1.0 * sum(li.ext_cents)'
                   ' / sum(li.qty * p.retail_cents)', 6)} AS realization
    FROM li JOIN p ON li.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
    "warehouse: brand price realization (catalog vs transacted revenue; "
    "broadcast dim star rollup, exact integer cents)",
    "per brand: part/line counts, quantity, booked revenue cents, "
    "catalog-value cents, and the 6dp realization ratio",
)
def brand_price_realization(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("bigint").alias("qty"),
        _cents(F.col("l_extendedprice")).alias("ext_cents"),
    )
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        _cents(F.col("p_retailprice")).alias("retail_cents"),
    )
    return (
        li.join(
            F.broadcast(p), li["l_partkey"] == p["p_partkey"]
        )
        .groupBy("p_brand")
        .agg(
            F.count_distinct("l_partkey").cast("bigint").alias("n_parts"),
            F.count("*").cast("bigint").alias("n_lines"),
            F.sum("qty").cast("bigint").alias("sum_qty"),
            F.sum("ext_cents").cast("bigint").alias("revenue_cents"),
            F.sum(F.col("qty") * F.col("retail_cents"))
            .cast("bigint")
            .alias("catalog_cents"),
            _r(
                F.lit(1.0)
                * F.sum("ext_cents")
                / F.sum(F.col("qty") * F.col("retail_cents")),
                6,
            ).alias("realization"),
        )
    )


# ===========================================================================
# Rolling 7-day distinct users via HLL register MERGE — the reason
# sketches exist: yesterday's raw events are gone, but yesterday's 64
# registers (≤64 rows per day, whatever the raw volume) merge with
# today's by a plain max — so the trailing-week NDV costs a band join
# over ~7·64 pre-aggregated rows per day instead of a 7-day raw
# re-scan. Same engine-portable md5 HLL as hll_group_registers (raw
# estimator, integer-exact harmonic denominator), so register state AND
# estimate hash-match DuckDB. The days dim broadcasts over the register
# table; correctness does not assume every register fires every day.
# ===========================================================================

@_register(
    "hll_rolling_7d_users",
    f"""
    WITH h AS (
      SELECT CAST(epoch_us(ts) // 1000000 // 86400 AS BIGINT) AS day,
             {_h60_sql('CAST(user_id AS VARCHAR)')} AS hv
      FROM events),
    r AS (
      SELECT day, hv % {_HLL_M} AS j,
             55 - length(trim(LEADING '0' FROM bin(hv // {_HLL_M})))
               AS rho0
      FROM h),
    dayregs AS (SELECT day, j, max(rho0) AS rho
                FROM r GROUP BY day, j),
    days AS (SELECT DISTINCT day FROM dayregs),
    merged AS (
      SELECT d.day, g.j, max(g.rho) AS rho
      FROM days d JOIN dayregs g
        ON g.day BETWEEN d.day - 6 AND d.day
      GROUP BY d.day, g.j)
    SELECT day,
           CAST(count(*) AS INT) AS n_regs,
           CAST(sum(rho) AS BIGINT) AS rho_sum,
           CAST(floor({_HLL_SCALE} * {_HLL_P55!r}
                      / (sum(CAST(1 AS BIGINT) << CAST(55 - rho AS INT))
                         + ({_HLL_M} - count(*)) * {_HLL_P55!r})
                      * 1e4 + 0.5) AS BIGINT) AS est_e4
    FROM merged GROUP BY day
    """,
    "sketch: rolling 7-day distinct users by HLL register merge "
    "(trailing week from <=7x64 pre-aggregated rows, no raw re-scan)",
    "per day: merged register count/checksum and the trailing-7-day "
    "approximate distinct-user estimate in 1e-4 units",
)
def hll_rolling_7d_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import h60
    from sports_data_integration_and_forecasting_pipeline_spark.operators.frequency import (
        HLL_ALPHA_64,
    )

    m = _HLL_M
    ev = _t(spark, sf_dir, "events")
    d = (
        ev.select(
            _fdiv(_epoch_s("ts"), 86400).alias("day"),
            h60(F.col("user_id").cast("string")).alias("__h"),
        )
        .select(
            "day",
            (F.col("__h") % m).alias("j"),
            F.expr(f"__h div {m}").alias("__w"),
        )
        .withColumn(
            "rho0",
            (
                F.lit(55)
                - F.length(F.expr("trim(LEADING '0' FROM bin(__w))"))
            ).cast("int"),
        )
    )
    dayregs = d.groupBy("day", "j").agg(F.max("rho0").alias("rho"))
    days = dayregs.select("day").distinct().select(F.col("day").alias("dd"))
    merged = (
        F.broadcast(days)
        .join(
            dayregs,
            (F.col("day") <= F.col("dd"))
            & (F.col("day") >= F.col("dd") - 6),
        )
        .groupBy("dd", "j")
        .agg(F.max("rho").alias("rho"))
    )
    scale = float(HLL_ALPHA_64 * m * m)
    return merged.groupBy("dd").agg(
        F.count("*").cast("int").alias("n_regs"),
        F.sum("rho").cast("bigint").alias("rho_sum"),
        F.floor(
            F.lit(scale)
            * float(1 << 55)
            / (
                F.sum(F.expr("shiftleft(1L, CAST(55 - rho AS INT))"))
                + (F.lit(m) - F.count("*")) * F.lit(float(1 << 55))
            )
            * 1e4
            + 0.5
        )
        .cast("bigint")
        .alias("est_e4"),
    ).withColumnRenamed("dd", "day")


# ===========================================================================
# KL term-distribution drift — the corpus-comparison gate a curation
# pipeline runs when admitting a new language/source slice: how far does
# slice P's term distribution sit from the reference slice Q (here:
# every lang vs 'en')? KL(P‖Q) = Σ p·ln(p/q) with add-1 smoothing over
# the UNION vocabulary (zero-count terms on either side stay finite).
# Exactness discipline = the unigram-perplexity house pattern: each
# term's ln(p/q) is snapped to integer micro-nats — both engines
# evaluate ln on the IDENTICAL rational ((c+1)(n_en+V)) / ((n+V)(c_en+1))
# — so the per-lang sum is exact integer arithmetic, order-independent
# across partitions, before one final division. The 'en' row is a
# built-in invariant: KL(en‖en) = 0 exactly.
#
# Scale shape: ONE tokenize (the scope-persisted (lang,term,c) aggregate
# feeds lang totals, the vocab/en-count table, and the scoring grid);
# the grid is |langs|·|vocab| — vocabulary-bounded, NOT corpus-bounded —
# built by broadcasting the ≤|langs| totals over the vocab table and
# left-joining tf on (lang,term). All JVM-side Column arithmetic.
# ===========================================================================

@_register(
    "kl_term_drift",
    f"""
    WITH toks AS (
      SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS c
           FROM toks GROUP BY 1, 2),
    n AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM tf GROUP BY 1),
    vocab AS (SELECT term,
                     CAST(coalesce(sum(CASE WHEN lang = 'en' THEN c END), 0)
                          AS BIGINT) AS c_en
              FROM tf GROUP BY term),
    v AS (SELECT CAST(count(*) AS BIGINT) AS vsz FROM vocab),
    en AS (SELECT n AS n_en FROM n WHERE lang = 'en'),
    grid AS (
      SELECT n.lang, n.n, vocab.term, vocab.c_en,
             coalesce(tf.c, 0) AS c
      FROM n CROSS JOIN vocab
      LEFT JOIN tf ON tf.lang = n.lang AND tf.term = vocab.term),
    scored AS (
      SELECT g.lang, g.n, v.vsz,
             (g.c + 1) * CAST(floor(ln(
                 (1.0 * (g.c + 1) * (en.n_en + v.vsz))
                 / (1.0 * (g.n + v.vsz) * (g.c_en + 1))
               ) * 1000000.0 + 0.5) AS BIGINT) AS contrib
      FROM grid g CROSS JOIN v CROSS JOIN en)
    SELECT lang, n AS n_tokens, vsz AS vocab_size,
           {_sql_r('sum(contrib) / 1000000.0 / (n + vsz)', 6)} AS kl_vs_en
    FROM scored GROUP BY lang, n, vsz
    """,
    "curation: per-language KL divergence vs the 'en' reference slice "
    "(add-1 smoothed union vocabulary, integer micro-nat accumulation)",
    "per lang: token count, union vocab size, 6dp KL(lang || en) over "
    "smoothed term distributions; KL(en||en) = 0 by construction",
)
def kl_term_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    tf = persist_scoped(
        "kl_drift_tf",
        toks.groupBy("lang", "term").agg(
            F.count("*").cast("bigint").alias("c")
        ),
    )
    n = tf.groupBy("lang").agg(F.sum("c").cast("bigint").alias("n"))
    vocab = tf.groupBy("term").agg(
        F.coalesce(
            F.sum(F.when(F.col("lang") == "en", F.col("c"))), F.lit(0)
        )
        .cast("bigint")
        .alias("c_en")
    )
    v = vocab.agg(F.count("*").cast("bigint").alias("vsz"))
    en = n.filter(F.col("lang") == "en").select(F.col("n").alias("n_en"))
    grid = (
        F.broadcast(n)
        .crossJoin(vocab)
        .join(tf, ["lang", "term"], "left")
        .select(
            "lang", "n", "term", "c_en",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    lnr = F.log(
        (F.lit(1.0) * (F.col("c") + 1) * (F.col("n_en") + F.col("vsz")))
        / (
            F.lit(1.0)
            * (F.col("n") + F.col("vsz"))
            * (F.col("c_en") + 1)
        )
    )
    scored = grid.crossJoin(F.broadcast(v)).crossJoin(F.broadcast(en)).select(
        "lang",
        "n",
        "vsz",
        "n_en",
        (
            (F.col("c") + 1)
            * F.floor(lnr * 1e6 + 0.5).cast("bigint")
        ).alias("contrib"),
    )
    # int64-headroom guard (r13 verdict task 6, the unigram-entropy
    # posture): |Σcontrib| ≤ (n+V)·((ln(n+V)+ln(n_en+V))·1e6 + 1)
    # because Σ(c+1) over the grid is exactly n+V and the smoothed
    # log-ratio is bounded by ln(n+V) + ln(n_en+V) on both sides.
    # That crosses 2^63 near ~1.8e11 tokens per language — INSIDE a
    # 100 TB corpus — so past-bound languages DEGRADE to NULL kl
    # instead of wrapping silently in non-ANSI Spark. The bound is
    # computed from columns outside the risky sum (double math, never
    # overflows); the oracle omits it — DuckDB raises on int64
    # overflow rather than wrapping, and the gate scales sit far below
    # the bound, so both engines agree wherever both can run.
    safe = (
        (F.col("n") + F.col("vsz")).cast("double")
        * (
            F.log((F.col("n") + F.col("vsz")).cast("double"))
            + F.log((F.col("n_en") + F.col("vsz")).cast("double"))
            + F.lit(1.0)
        )
        * F.lit(1e6)
    ) < F.lit(float(2**63))
    return scored.groupBy("lang", "n", "vsz", "n_en").agg(
        F.sum("contrib").alias("__csum")
    ).select(
        "lang",
        F.col("n").alias("n_tokens"),
        F.col("vsz").alias("vocab_size"),
        F.when(
            safe,
            _r(F.col("__csum") / F.lit(1e6) / (F.col("n") + F.col("vsz")), 6),
        ).alias("kl_vs_en"),
    )


# ===========================================================================
# k-core peeling — the graph-curation primitive that iteratively strips
# low-degree nodes until every survivor has ≥ k neighbors among the
# survivors (the dense-community filter social/fraud pipelines run after
# building a co-occurrence graph). This entry peels the 3-core of the
# kNN-sparsified co-supply graph with at most FOUR rounds, the count the
# oracle unrolls as static SQL. The engine runs them through
# scoped.fixpoint with the edge count as progress, so it stops at the
# first peel that removes nothing: every later peel is then a no-op, and
# the result equals the four-peel one. Scale shape per round: one
# map-side-combined degree aggregate + two semi-joins against the ≤|V|
# survivor set — no pair enumeration beyond the already-capped kNN edge
# list (degree ≤ 2k by construction, so each peel is linear in edges).
# ===========================================================================

# AS MATERIALIZED on e (and the per-round CTEs below): each k-core peel
# references its predecessor THREE times (the degree aggregate + two
# survivor semi-joins), so DuckDB's default CTE inlining expands ~3^4
# copies of this whole edge pipeline — 80+ instances of the 9M-row
# kNN window at sf1, which blew past a 20 GB memory limit into a >76 GB
# temp spill and a disk-full abort in the r15 full-battery sf1 sweep.
# Materialization pins single execution per stage (the exact analogue of
# the engine's per-round checkpoint); results are unchanged.
_KCORE_EDGE_CTES = """
    os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    w AS (SELECT a.l_suppkey AS s1, b.l_suppkey AS s2,
                 CAST(count(*) AS BIGINT) AS w
          FROM os a JOIN os b
            ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
          GROUP BY a.l_suppkey, b.l_suppkey),
    kept AS (SELECT s1, s2 FROM (
               SELECT s1, s2,
                      row_number() OVER (PARTITION BY s1
                                         ORDER BY w DESC, s2) AS rn
               FROM w)
             WHERE rn <= 5),
    e AS MATERIALIZED (SELECT DISTINCT least(s1, s2) AS a,
                              greatest(s1, s2) AS b
          FROM kept)
"""


@_register(
    "kcore_cosupply_peel",
    f"""
    WITH {_KCORE_EDGE_CTES},
    sym0 AS MATERIALIZED (SELECT a AS s, b AS t FROM e
                          UNION ALL SELECT b, a FROM e),
    k0 AS (SELECT s FROM sym0 GROUP BY s HAVING count(*) >= 3),
    sym1 AS MATERIALIZED (SELECT sym0.s, sym0.t FROM sym0
             JOIN k0 x ON x.s = sym0.s JOIN k0 y ON y.s = sym0.t),
    k1 AS (SELECT s FROM sym1 GROUP BY s HAVING count(*) >= 3),
    sym2 AS MATERIALIZED (SELECT sym1.s, sym1.t FROM sym1
             JOIN k1 x ON x.s = sym1.s JOIN k1 y ON y.s = sym1.t),
    k2 AS (SELECT s FROM sym2 GROUP BY s HAVING count(*) >= 3),
    sym3 AS MATERIALIZED (SELECT sym2.s, sym2.t FROM sym2
             JOIN k2 x ON x.s = sym2.s JOIN k2 y ON y.s = sym2.t),
    k3 AS (SELECT s FROM sym3 GROUP BY s HAVING count(*) >= 3),
    sym4 AS (SELECT sym3.s, sym3.t FROM sym3
             JOIN k3 x ON x.s = sym3.s JOIN k3 y ON y.s = sym3.t)
    SELECT s AS node, CAST(count(*) AS BIGINT) AS core_degree
    FROM sym4 GROUP BY s
    """,
    "graph: 3-core peeling over the kNN-sparsified co-supply graph "
    "(4 unrolled rounds; degree agg + survivor semi-joins per round)",
    "suppliers surviving four 3-core peels of the top-5-edge co-supply "
    "graph, with their degree in the surviving subgraph",
)
def kcore_cosupply_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.graph import (
        knn_sparsify,
    )

    os_ = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    a = os_.select(
        F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("src")
    )
    b = os_.select(
        F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("dst")
    )
    weighted = (
        a.join(b, "k")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").cast("bigint").alias("w"))
    )
    # knn_sparsify already folds to distinct undirected (a, b) with a < b
    und = knn_sparsify(weighted, k=5)

    def _peel(sym: DataFrame) -> DataFrame:
        keep = (
            sym.groupBy("s")
            .agg(F.count("*").alias("d"))
            .filter(F.col("d") >= 3)
            .select("s")
        )
        return sym.join(keep, "s", "left_semi").join(
            keep.withColumnRenamed("s", "t"), "t", "left_semi"
        )

    # Each peel references sym TWICE (degree agg + the semi-joins), so
    # without truncation round r's lineage would hold 2^r copies of the
    # co-supply pair join; fixpoint checkpoints every round into a flat
    # ≤|kept-edges| table. A peel only removes edges, so an unchanged
    # edge count means it removed nothing.
    sym, _, _ = fixpoint(
        "kcore_cosupply_peel",
        und.select(F.col("a").alias("s"), F.col("b").alias("t")).unionByName(
            und.select(F.col("b").alias("s"), F.col("a").alias("t"))
        ),
        _peel,
        F.count(F.lit(1)),
        4,
    )
    return sym.groupBy("s").agg(
        F.count("*").cast("bigint").alias("core_degree")
    ).withColumnRenamed("s", "node")


# ===========================================================================
# Interpolated bigram LM perplexity — the stronger LM-quality signal the
# unigram entry approximates: per-doc perplexity under a corpus bigram
# model with Jelinek-Mercer interpolation p = 0.75·p_bg + 0.25·p_ug
# (the unigram backoff keeps unseen-context probabilities finite without
# discounting machinery). Same exactness discipline as
# text_unigram_perplexity: both engines evaluate ln on the identical
# rational, snap to integer micro-nats, and the per-doc sum is exact
# integer arithmetic.
#
# Scale shape: TWO token passes total, each single-execution — the
# (doc, bigram, m) aggregate is scope-persisted and feeds the global
# bigram counts, the context totals (a re-aggregate, not a re-explode),
# and the per-doc scoring join; the unigram model is one more explode
# whose (term, c) aggregate also yields N by re-aggregation. The
# per-token context count derives FROM the bigram table (Σ c_xy over
# first-token), so conditional probabilities are self-consistent.
# ===========================================================================

@_register(
    "text_bigram_perplexity",
    f"""
    WITH btf AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS m
      FROM (SELECT doc_id, unnest({_shingle_raw_sql(2)}) AS tok
            FROM documents WHERE len(string_split(text, ' ')) >= 2)
      GROUP BY doc_id, tok),
    bi AS (SELECT tok, CAST(sum(m) AS BIGINT) AS c_xy FROM btf GROUP BY tok),
    ctx AS (SELECT string_split(tok, ' ')[1] AS w,
                   CAST(sum(c_xy) AS BIGINT) AS c_ctx
            FROM bi GROUP BY 1),
    uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c
            FROM (SELECT unnest(string_split(text, ' ')) AS w
                  FROM documents) GROUP BY w),
    nt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
    scored AS (
      SELECT btf.doc_id, btf.m,
             btf.m * CAST(floor(-ln(
                 0.75 * bi.c_xy / ctx.c_ctx + 0.25 * uni.c / nt.n
               ) * 1000000.0 + 0.5) AS BIGINT) AS nll_micro
      FROM btf
      JOIN bi USING (tok)
      JOIN ctx ON ctx.w = string_split(btf.tok, ' ')[1]
      JOIN uni ON uni.w = string_split(btf.tok, ' ')[2]
      CROSS JOIN nt)
    SELECT doc_id,
           CAST(sum(m) AS BIGINT) AS n_bigrams,
           CAST(sum(nll_micro) AS BIGINT) AS nll_micro,
           CAST(floor(exp(CAST(sum(nll_micro) AS DOUBLE) / 1000000.0
                          / sum(m)) * 10000.0 + 0.5) AS BIGINT) AS ppl_e4
    FROM scored GROUP BY doc_id
    """,
    "textops: interpolated bigram LM perplexity (Jelinek-Mercer "
    "0.75/0.25 backoff to the unigram model; micro-nat exact)",
    "per-doc perplexity under the corpus bigram model with unigram "
    "interpolation; integer micro-nat accumulation, 4dp ppl",
)
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        shingle_rows,
    )
    from sports_data_integration_and_forecasting_pipeline_spark.operators.parallelism import (
        ensure_parallelism,
    )

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"), "doc_id")
    toks = F.split(F.col("text"), " ")
    # r8: codegen lead-window bigrams; the groupBy(doc_id, tok) reuses
    # the doc-granular exchange ensure_parallelism planted (hash(doc_id)
    # satisfies any grouping containing doc_id), so the swap also moves
    # the one exchange from exploded-bigram rows to doc rows
    btf = persist_scoped(
        "bigram_ppl_btf",
        shingle_rows(docs.filter(F.size(toks) >= 2), n=2)
        .groupBy("doc_id", F.col("shingle").alias("tok"))
        .agg(F.count("*").cast("bigint").alias("m")),
    )
    bi = btf.groupBy("tok").agg(F.sum("m").cast("bigint").alias("c_xy"))
    ctx = bi.groupBy(
        F.split(F.col("tok"), " ").getItem(0).alias("w")
    ).agg(F.sum("c_xy").cast("bigint").alias("c_ctx"))
    uni = persist_scoped(
        "bigram_ppl_uni",
        docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("c")),
    )
    nt = uni.agg(F.sum("c").cast("bigint").alias("n"))
    p = (
        F.lit(0.75) * F.col("c_xy") / F.col("c_ctx")
        + F.lit(0.25) * F.col("c") / F.col("n")
    )
    scored = (
        btf.join(bi, "tok")
        .join(
            ctx,
            ctx["w"] == F.split(btf["tok"], " ").getItem(0),
        )
        .join(
            uni,
            uni["w"] == F.split(btf["tok"], " ").getItem(1),
        )
        .crossJoin(F.broadcast(nt))
        .select(
            "doc_id",
            "m",
            (
                F.col("m")
                * F.floor(-F.log(p) * 1e6 + 0.5).cast("bigint")
            ).alias("nll_micro"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("m").cast("bigint").alias("n_bigrams"),
        F.sum("nll_micro").cast("bigint").alias("nll_micro"),
        F.floor(
            F.exp(
                F.sum("nll_micro").cast("double") / 1e6 / F.sum("m")
            )
            * 1e4
            + 0.5
        )
        .cast("bigint")
        .alias("ppl_e4"),
    )
