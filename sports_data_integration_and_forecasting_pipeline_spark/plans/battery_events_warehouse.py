"""Event-log analytics + warehouse entries: flatten/sessionize, percentiles, as-of/salting, cohorts, SCD2, clustering, pivots, OHLC, histograms, manifests, sampling heads.

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

from ..operators.scoped import persist_scoped

from .battery_core import (
    QUERIES,
    _cents,
    _epoch_s,
    _epoch_us,
    _fdiv,
    _r,
    _register,
    _sql_r,
    _t,
)
from .battery_text_dedup import _SIMHASH60_CTE, _h60_sql, _sql_count_in




# ===========================================================================
# F1-F4/F6 + C2/C10/C13: the nested flatten chain. The testdata has no
# nested table, so the query BUILDS one (collect_list of structs per
# order — one shuffle) and then runs the engine's explode pipeline over
# it: explode → coalesce field aliasing (reference processing.py:52,62) →
# synthetic game_id concat (processing.py:38) → validity filter dropping
# decimal prices ≤ 1 (odds_utils.py:222-230) → decimal→American (C2,
# odds_utils.py:61-73). The oracle computes the equivalent flat result
# directly — nest+explode is an identity the driver's hash check proves.
# Scale: one groupBy shuffle to nest; everything after is narrow.
# ===========================================================================

@_register(
    "nested_explode_flatten",
    f"""
    WITH flat AS (
      SELECT concat('g_', l_orderkey) AS game_id,
             coalesce(CASE WHEN l_linenumber % 2 = 0 THEN NULL
                           ELSE concat('L', l_linenumber) END,
                      concat('alt-', l_linenumber)) AS outcome,
             1.0 + (l_partkey % 300) / 100.0 AS price_decimal,
             l_orderkey, l_linenumber
      FROM lineitem
    )
    SELECT game_id, outcome,
           {_sql_r('price_decimal', 9)} AS price_decimal,
           CASE WHEN price_decimal >= 2.0
                THEN {_sql_r('(price_decimal - 1.0) * 100.0', 2)}
                ELSE {_sql_r('-100.0 / (price_decimal - 1.0)', 2)} END AS price_american
    FROM flat
    WHERE price_decimal > 1.0
    """,
    "F1,F2,F3,F4,F6,C2,C10,C13",
    "nest lineitem into per-order outcome arrays, explode back with coalesce aliasing, validity filter, decimal->American",
)
def nested_explode_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.parallelism import ensure_parallelism

    # spread keyed by the grouping key: the collect_list groupBy reuses the
    # partitioning, so the plan keeps ONE exchange but the string-building
    # projection runs on every core instead of the scan's single split
    li = ensure_parallelism(
        _t(spark, sf_dir, "lineitem"), "l_orderkey"
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_linenumber") % 2 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("L"), F.col("l_linenumber")))
        .alias("name"),
        F.concat(F.lit("alt-"), F.col("l_linenumber")).alias("outcome_name"),
        (1.0 + (F.col("l_partkey") % 300) / 100.0).alias("price"),
    )
    # Build the nested form (game -> outcomes[]), then run the flatten
    # pipeline the reference applies to raw odds JSON.
    nested = li.groupBy("l_orderkey").agg(
        F.collect_list(
            F.struct("name", "outcome_name", "price", "l_linenumber")
        ).alias("outcomes")
    )
    o = F.col("o")
    exploded = nested.select(
        "l_orderkey", F.explode("outcomes").alias("o")
    ).select(
        F.concat(F.lit("g_"), F.col("l_orderkey")).alias("game_id"),  # C13
        F.coalesce(o["name"], o["outcome_name"]).alias("outcome"),  # C10
        o["price"].alias("price_decimal"),
    )
    valid = exploded.filter(F.col("price_decimal") > 1.0)  # F6
    american = F.when(  # C2 (d>1 guaranteed by F6)
        F.col("price_decimal") >= 2.0,
        _r((F.col("price_decimal") - 1.0) * 100.0, 2),
    ).otherwise(_r(F.lit(-100.0) / (F.col("price_decimal") - 1.0), 2))
    return valid.select(
        "game_id",
        "outcome",
        _r(F.col("price_decimal"), 9).alias("price_decimal"),
        american.alias("price_american"),
    )


# ===========================================================================
# Semi-structured JSON column path: events.props carries JSON strings.
# from_json with an explicit schema is the scale-correct choice (one typed
# parse per row, vectorized, prunable) vs per-field get_json_object calls
# (one parse each). Rollup is a plain map-side-partial aggregation.
# ===========================================================================

@_register(
    "json_props_rollup",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    GROUP BY event_type
    """,
    "semi-structured JSON (no reference counterpart)",
    "typed from_json extraction over events.props + grouped rollup",
)
def json_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    ev = _t(spark, sf_dir, "events")
    props_schema = T.StructType([T.StructField("k", T.LongType())])
    parsed = ev.select(
        "event_type", F.from_json(F.col("props"), props_schema).alias("p")
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("p.k").alias("sum_k"),
        F.max("p.k").alias("max_k"),
    )


# ===========================================================================
# Feed-gap detection — the data-quality monitor for an event feed: per
# user, every pair of consecutive events more than 2 hours apart, with
# the gap's bounds and length. One lag window, integer-seconds math; the
# same single user_id-partitioned shuffle as sessionization (a gap is
# just a session boundary viewed from the other side).
# ===========================================================================

@_register(
    "event_gap_detection",
    """
    SELECT user_id,
           CAST(prev_us // 1000000 AS BIGINT) AS gap_start_s,
           CAST(ts_us // 1000000 AS BIGINT) AS gap_end_s,
           CAST(ts_us // 1000000 - prev_us // 1000000 AS BIGINT) AS gap_s
    FROM (
      SELECT user_id, epoch_us(ts) AS ts_us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_us
      FROM events)
    WHERE prev_us IS NOT NULL
      AND ts_us // 1000000 - prev_us // 1000000 > 7200
    """,
    "monitoring: feed-gap detection (no reference counterpart)",
    "consecutive same-user events > 2h apart; one lag window, one shuffle",
)
def event_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_s = _epoch_s("ts")
    gapped = ev.select(
        "user_id",
        ts_s.alias("ts_s"),
        F.lag(ts_s).over(w).alias("prev_s"),
    ).filter(
        F.col("prev_s").isNotNull() & (F.col("ts_s") - F.col("prev_s") > 7200)
    )
    return gapped.select(
        "user_id",
        F.col("prev_s").cast("bigint").alias("gap_start_s"),
        F.col("ts_s").cast("bigint").alias("gap_end_s"),
        (F.col("ts_s") - F.col("prev_s")).cast("bigint").alias("gap_s"),
    )


# ===========================================================================
# Sessionization (gaps-and-islands) over events: batch counterpart of the
# streaming session_window — lag to flag gaps > 30 min, running sum to
# number sessions, one groupBy for per-session stats. Timestamp math is
# exact integer floor-division over epoch microseconds in both engines.
# Scale: both windows and the final groupBy share the user_id hash
# partitioning -> a single shuffle.
# ===========================================================================

@_register(
    "event_sessionize",
    """
    WITH flagged AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, event_id, ts_us,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts_us) // 1000000 AS start_s,
           max(ts_us) // 1000000 AS end_s,
           (max(ts_us) // 1000000) - (min(ts_us) // 1000000) AS duration_s
    FROM numbered
    GROUP BY user_id, session_id
    """,
    "W1,W2 (sessionization; batch twin of streaming session_window)",
    "gaps-and-islands sessions per user (30-min gap), per-session stats",
)
def event_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")  # ts = timestamp_ntz
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.expr("INTERVAL 30 MINUTES")
    lagged = F.lag("ts").over(w)
    flagged = ev.select(
        "user_id",
        "event_id",
        _epoch_us("ts").alias("ts_us"),
        F.when(
            lagged.isNull() | ((F.col("ts") - lagged) > gap), F.lit(1)
        ).otherwise(F.lit(0)).alias("new_session"),
    )
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    numbered = flagged.withColumn(
        "session_id", F.sum("new_session").over(wrun).cast("long")
    )
    sec = lambda c: F.expr(f"{c} DIV 1000000")
    return numbered.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        sec("min(ts_us)").alias("start_s"),
        sec("max(ts_us)").alias("end_s"),
        (sec("max(ts_us)") - sec("min(ts_us)")).alias("duration_s"),
    )


# ===========================================================================
# Exact order-statistic percentiles per group: rank rows with a pinned
# total order, select index floor((n-1)·q) — no interpolation, no
# approximation, so both engines pick the identical row. (approx_percentile
# / t-digest sketches are the 100 TB path when exactness isn't required;
# this is the deterministic oracle-able form.)
# ===========================================================================

@_register(
    "value_percentiles",
    """
    WITH ranked AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n,
           max(CASE WHEN rn = floor((n - 1) * 0.5) + 1 THEN value END) AS p50,
           max(CASE WHEN rn = floor((n - 1) * 0.9) + 1 THEN value END) AS p90,
           max(CASE WHEN rn = floor((n - 1) * 0.99) + 1 THEN value END) AS p99
    FROM ranked
    GROUP BY event_type
    """,
    "A10,O1 (exact percentiles; sketch variant is the scale path)",
    "exact p50/p90/p99 of value per event_type via order-statistic selection",
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    wr = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    pick = lambda q: F.max(
        F.when(
            F.col("rn") == F.floor((F.col("n") - 1) * q) + 1, F.col("value")
        )
    )
    return ranked.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        pick(0.5).alias("p50"),
        pick(0.9).alias("p90"),
        pick(0.99).alias("p99"),
    )


# ===========================================================================
# M2 (forest variant): RandomForestRegressor(numTrees=100, seed=42) — the
# reference's second model type (src/modeling.py:18). Tree ensembles have
# no closed SQL form, so this is a rows-only contract entry (oracle=None;
# the driver records count/schema). Values are deterministic (seeded).
# ===========================================================================

@_register(
    "forecast_random_forest",
    None,  # no SQL oracle: tree ensemble; driver runs the rows-only check
    "M1,M2,M3 (forest)",
    "RandomForestRegressor(numTrees=100, seed=42) on rolling features, scored over events",
)
def forecast_random_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.forecast import predict, train_model

    ev = _t(spark, sf_dir, "events")
    w5 = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-4, 0)
    wl = Window.partitionBy("user_id").orderBy("ts", "event_id")
    feat = ev.select(
        "event_id",
        F.avg("value").over(w5).alias("points_rolling_avg"),
        F.avg(F.col("value") * 0.5).over(w5).alias("rebounds_rolling_avg"),
        F.avg(F.col("value") * 0.25).over(w5).alias("assists_rolling_avg"),
        F.lead("value", 1).over(wl).alias("target_points"),
    )
    model = train_model(
        feat.filter(F.col("target_points").isNotNull()), model_type="forest"
    )
    return predict(model, feat).select(
        "event_id", _r(F.col("prediction"), 4).alias("prediction")
    )


# ===========================================================================
# TF-IDF top terms per document — the classic corpus-analytics chain:
# explode tokens (narrow) → per-(doc, term) counts (one shuffle) → term
# doc-frequencies (partial-agg shuffle on term) → broadcast-join the df
# table back → rank per doc with a pinned tiebreak. ln() agrees across
# engines to last-ulp for these inputs; scores are rounded at 9 dp and
# ranked on the rounded value so selection is engine-identical.
# ===========================================================================

@_register(
    "tfidf_top_terms",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY term
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             {_sql_r('tf.tf * ln(1.0 * n.n_docs / df.df)', 9)} AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                                        ORDER BY tfidf DESC, term) AS INT) AS rank
      FROM scored)
    WHERE rank <= 5
    """,
    "textops: TF-IDF top terms",
    "top-5 terms per doc by tf*ln(N/df), deterministic tiebreak on term",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()  # bounded scalar (table row count), driver-side
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = toks.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    scored = tf.join(F.broadcast(df_), "term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        _r(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 9).alias(
            "tfidf"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("doc_id", "term", "tf", "df", "tfidf", "rank")
    )


# ===========================================================================
# KMV (k-minimum-values) distinct-count sketch — approximate NDV done
# engine-identically: hash every key with the shared 60-bit md5 hash,
# keep each group's k smallest distinct hashes, estimate
# NDV ≈ (k-1) / normalized_kth_min. Unlike HLL (whose implementations
# differ per engine and can't be oracle-matched), KMV is pure SQL over a
# deterministic hash, so the approximation itself is hash-checked.
# Scale: distinct + windowed rank share one shuffle on the group key; at
# 100 TB the per-group state is k longs (vs exact distinct's full key
# set) — the point of the sketch.
# ===========================================================================

@_register(
    "kmv_distinct_sketch",
    f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             {_h60_sql('CAST(user_id AS VARCHAR)')} AS h
      FROM events
    ),
    ranked AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n_distinct
      FROM h
    ),
    kth AS (
      SELECT event_type, CAST(n_distinct AS BIGINT) AS n_distinct, h AS h_k
      FROM ranked WHERE rn = 64
    )
    SELECT event_type, n_distinct,
           {_sql_r('63.0 / (CAST(h_k AS DOUBLE) / 1152921504606846976.0)', 6)}
             AS kmv_estimate
    FROM kth
    """,
    "sketch: KMV distinct count (engine-identical approximate NDV)",
    "k=64 minimum-values NDV estimate per event_type, hash-checked approximation",
)
def kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    K = 64
    ev = _t(spark, sf_dir, "events")
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import h60

    hashes = ev.select(
        "event_type", h60(F.col("user_id").cast("string")).alias("h")
    ).distinct()
    wr = Window.partitionBy("event_type").orderBy("h")
    wn = Window.partitionBy("event_type")
    ranked = hashes.select(
        "event_type",
        "h",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wn).alias("n_distinct"),
    )
    kth = ranked.filter(F.col("rn") == K)
    norm = F.col("h").cast("double") / float(1 << 60)
    return kth.select(
        "event_type",
        F.col("n_distinct").cast("long").alias("n_distinct"),
        _r(F.lit(float(K - 1)) / norm, 6).alias("kmv_estimate"),
    )


# ===========================================================================
# Point-in-time (as-of) join — union+window form vs DuckDB's NATIVE
# ASOF JOIN as a fully independent oracle: each event enriched with the
# most recent "mark" (every 5th event) at or before it, per user. The
# union+window plan is one shuffle + one sort producing exactly |L| rows;
# the naive range-join alternative explodes O(|L|·|R|/keys) — see
# operators/asof.py.
# ===========================================================================

@_register(
    "asof_join_marks",
    """
    WITH marks AS (
      SELECT user_id, ts, event_id AS mark_id, value AS mark_value
      FROM events WHERE event_id % 5 = 0
    )
    SELECT e.event_id, e.user_id,
           epoch_us(e.ts) // 1000000 AS ts_s,
           e.value,
           epoch_us(m.ts) // 1000000 AS matched_ts_s,
           m.mark_id AS matched_mark_id,
           m.mark_value AS matched_mark_value
    FROM events e ASOF LEFT JOIN marks m
      ON e.user_id = m.user_id AND m.ts <= e.ts
    """,
    "as-of join (union+window; no reference counterpart)",
    "backward point-in-time join of events to every-5th-event marks per "
    "user, vs DuckDB's native ASOF JOIN",
)
def asof_join_marks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    marks = ev.filter(F.col("event_id") % 5 == 0).select(
        "user_id",
        "ts",
        F.col("event_id").alias("mark_id"),
        F.col("value").alias("mark_value"),
    )
    return asof_join(ev, marks, on="user_id").select(
        "event_id",
        "user_id",
        _epoch_s("ts").alias("ts_s"),
        "value",
        _epoch_s("matched_ts").alias("matched_ts_s"),
        "matched_mark_id",
        "matched_mark_value",
    )


# ===========================================================================
# Salted aggregation PARITY — the skew machinery oracle-checked: the
# two-stage (key, salt) -> key aggregation must be bit-identical to a
# direct GROUP BY for decomposable integer aggregates, whatever the salt
# assignment. The oracle is the plain GROUP BY — passing proves salting
# changed the shuffle distribution and nothing else.
# ===========================================================================

@_register(
    "salted_agg_parity",
    """
    SELECT l_suppkey,
           CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_value,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem GROUP BY l_suppkey
    """,
    "skew: salted two-stage aggregation == direct groupBy (plan-divergent, result-identical)",
    "per-supplier cents sum via 16-salt two-stage aggregation vs plain GROUP BY oracle",
)
def salted_agg_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.skew import salted_sum_count

    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", _cents(F.col("l_extendedprice")).alias("cents")
    )
    out = salted_sum_count(li, ["l_suppkey"], "cents", n_salts=16)
    return out.select(
        "l_suppkey", F.col("sum_value").cast("bigint"), "n_rows"
    )


# ===========================================================================
# Correlated scalar subquery — each order compared to ITS customer's
# average order value. Catalyst decorrelates the subquery into an
# aggregate + join (no per-row re-execution); the same shape a window
# would give, but exercising the decorrelation path the SQL surface
# needs. Exact integer cents.
# ===========================================================================

@_register(
    "orders_vs_customer_avg",
    """
    SELECT o_orderkey, o_custkey, price_cents, cust_avg_cents
    FROM (
      SELECT o_orderkey, o_custkey,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS price_cents,
             CAST((SELECT floor(avg(CAST(floor(i.o_totalprice * 100.0 + 0.5) AS BIGINT)) + 0.5)
                   FROM orders i WHERE i.o_custkey = o.o_custkey) AS BIGINT)
               AS cust_avg_cents
      FROM orders o
    )
    WHERE price_cents > cust_avg_cents
    """,
    "correlated scalar subquery (decorrelated by Catalyst)",
    "orders above their own customer's average order value, exact cents",
)
def orders_vs_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, price_cents, cust_avg_cents
        FROM (
          SELECT o_orderkey, o_custkey,
                 CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS price_cents,
                 CAST((SELECT floor(avg(CAST(floor(i.o_totalprice * 100.0 + 0.5) AS BIGINT)) + 0.5)
                       FROM orders_v i WHERE i.o_custkey = o.o_custkey) AS BIGINT)
                   AS cust_avg_cents
          FROM orders_v o
        )
        WHERE price_cents > cust_avg_cents
        """
    )


# ===========================================================================
# TWAP — time-weighted average value per user: each observation is
# weighted by how long it "held" (seconds until the user's next event;
# the final observation gets weight 0 — half-open interval convention).
# The lead window and the rollup share one user_id exchange. Weights
# and value-cents stay in exact integer space; only the final ratio is
# floating (exact int/int division in both engines).
# ===========================================================================

@_register(
    "twap_user_value",
    """
    WITH ticks AS (
      SELECT user_id,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
             epoch_us(ts) // 1000000 AS ts_s,
             lead(epoch_us(ts) // 1000000)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_s
      FROM events
    )
    SELECT user_id,
           CAST(sum(coalesce(next_s - ts_s, 0)) AS BIGINT) AS held_s,
           CAST(sum(cents * coalesce(next_s - ts_s, 0)) AS BIGINT)
             AS cents_seconds,
           sum(cents * coalesce(next_s - ts_s, 0))
             / sum(coalesce(next_s - ts_s, 0)) AS twap_cents
    FROM ticks GROUP BY user_id
    """,
    "time series: time-weighted average (no reference counterpart)",
    "duration-weighted average value per user, exact integer weights",
)
def twap_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        _cents(F.col("value")).alias("cents"),
        _epoch_s("ts").alias("ts_s"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ticks = ev.withColumn("next_s", F.lead("ts_s").over(w))
    held = F.coalesce(F.col("next_s") - F.col("ts_s"), F.lit(0))
    return (
        ticks.select("user_id", "cents", held.alias("held"))
        .groupBy("user_id")
        .agg(
            F.sum("held").cast("bigint").alias("held_s"),
            F.sum(F.col("cents") * F.col("held")).cast("bigint").alias("cents_seconds"),
            (
                F.sum(F.col("cents") * F.col("held"))
                / F.sum("held")
            ).alias("twap_cents"),
        )
    )


# ===========================================================================
# Time-to-convert — per user, seconds from the FIRST view to the first
# purchase AFTER it (order matters: earlier purchases don't count).
# The anchor is a window min sharing the one user_id exchange with the
# final rollup; second timestamps convert exactly on both engines.
# ===========================================================================

@_register(
    "time_to_convert",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t0 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t1
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > v.t0
      GROUP BY e.user_id
    )
    SELECT v.user_id,
           CAST(epoch_us(t0) // 1000000 AS BIGINT) AS first_view_s,
           (t1 IS NOT NULL) AS converted,
           CAST(epoch_us(t1) // 1000000 - epoch_us(t0) // 1000000 AS BIGINT)
             AS secs_to_convert
    FROM v LEFT JOIN p ON v.user_id = p.user_id
    """,
    "time-to-event analytics (no reference counterpart)",
    "first-view -> first-subsequent-purchase latency per user",
)
def time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    anchored = ev.withColumn(
        "t0", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    out = (
        anchored.filter(F.col("t0").isNotNull())
        .groupBy("user_id")
        .agg(
            F.min("t0").alias("t0"),
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t0")),
                    F.col("ts"),
                )
            ).alias("t1"),
        )
    )
    return out.select(
        "user_id",
        _epoch_s("t0").alias("first_view_s"),
        F.col("t1").isNotNull().alias("converted"),
        (_epoch_s("t1") - _epoch_s("t0")).alias("secs_to_convert"),
    )


# ===========================================================================
# RFM segmentation — recency/frequency/monetary quintile scores per
# user (5 = best), the classic customer-value segmentation. One
# exchange builds the per-user profile; the three ntile windows run
# over the ALREADY-AGGREGATED users (tiny), with user_id tiebreaks
# making every quintile boundary engine-exact.
# ===========================================================================

# r10 bench adjudication: 1.33 -> 2.23 s swing re-measured 1.346/1.414 s
# in BOTH orderings on a calm session -> mid-battery interference (the
# timed battery grew 197 -> 204), not a plan change. Third swing for
# this entry; min-of-last-2 remains the accepted mitigation.
# r11 adjudication (r10's 1.33 -> 1.79 flag): re-measured 1.910/1.618 s
# fwd/rev on a calm session — the CURRENT host runs this entry at
# ~1.6-1.9 s; its cross-round record now spans 1.33-2.33 s on an
# unchanged plan. FOURTH swing: accepted as a host-sensitive entry;
# adjudicate only if a round exceeds the 2.33 s historical ceiling.
@_register(
    "rfm_user_segments",
    """
    WITH profile AS (
      SELECT user_id,
             CAST(max(epoch_us(ts) // 86400000000) AS BIGINT) AS last_day,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY user_id
    )
    SELECT user_id, last_day, n_events, cents,
           CAST(6 - ntile(5) OVER (ORDER BY last_day DESC, user_id) AS INT) AS r_score,
           CAST(6 - ntile(5) OVER (ORDER BY n_events DESC, user_id) AS INT) AS f_score,
           CAST(6 - ntile(5) OVER (ORDER BY cents DESC, user_id) AS INT) AS m_score
    FROM profile
    """,
    "RFM customer segmentation (no reference counterpart)",
    "recency/frequency/monetary quintiles per user, exact tiebreaks",
)
def rfm_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    profile = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(_fdiv(_epoch_us("ts"), 86_400_000_000)).cast("bigint").alias("last_day"),
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(_cents(F.col("value"))).cast("bigint").alias("cents"),
        )
    )
    # r7: the user profile scales with the corpus, so each quintile is
    # the distributed exact NTILE (see global_ntile) — three two-phase
    # ranks instead of three one-task sorts of every user. The profile
    # persists ONCE and each rank runs over a narrow 2-col slice of it,
    # joined back by user_id (chaining the ntile calls instead would
    # nest the scoped caches and blow the plan TEXT up combinatorially
    # — same executed work, unreadable snapshots).
    from sports_data_integration_and_forecasting_pipeline_spark.operators.parallelism import (
        global_ntile,
    )

    prof = persist_scoped("rfm_profile", profile)
    # one shared lazy count subtree for all three quintile ranks —
    # exchange reuse executes it once instead of per-rank
    n_users = prof.agg(F.count("*").cast("long").alias("__n"))
    out = prof
    for col, raw in [
        ("last_day", "__r_raw"),
        ("n_events", "__f_raw"),
        ("cents", "__m_raw"),
    ]:
        ranked = global_ntile(
            prof.select("user_id", col),
            [F.col(col).desc(), F.col("user_id")],
            k=5,
            out_col=raw,
            cache_role=f"rfm_{col}",
            n_total=n_users,
        ).select("user_id", raw)
        out = out.join(ranked, "user_id")
    return out.select(
        "user_id",
        "last_day",
        "n_events",
        "cents",
        (6 - F.col("__r_raw")).cast("int").alias("r_score"),
        (6 - F.col("__f_raw")).cast("int").alias("f_score"),
        (6 - F.col("__m_raw")).cast("int").alias("m_score"),
    )


# ===========================================================================
# K-fold assignment — reproducible cross-validation splits by key hash:
# same key -> same fold on any engine/partitioning/rerun, so CV is
# leakage-free by construction. The entry audits the split itself:
# per-fold sizes, distinct users, and label mix (the checks an ML
# pipeline runs before trusting its folds).
# ===========================================================================

@_register(
    "kfold_split_audit",
    f"""
    WITH folds AS (
      SELECT event_id, user_id, event_type,
             CAST({_h60_sql("concat('fold', CAST(event_id AS VARCHAR))")} % 5 AS INT)
               AS fold
      FROM events
    )
    SELECT fold,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
             AS n_purchases
    FROM folds GROUP BY fold
    """,
    "sampling: k-fold CV assignment (M-family infrastructure)",
    "deterministic 5-fold split audit: sizes, users, label mix per fold",
)
def kfold_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.sampling import kfold_assign

    folds = kfold_assign(_t(spark, sf_dir, "events"), "event_id", k=5)
    return folds.groupBy("fold").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.count_if(F.col("event_type") == "purchase").cast("bigint").alias("n_purchases"),
    )


# ===========================================================================
# Cohort retention — the product-analytics matrix: users grouped by
# first-activity week, activity counted per week offset. The per-user
# cohort anchor is a window min sharing the single user_id exchange;
# the matrix agg is map-side combined. Day arithmetic is exact integer
# floor division over epoch microseconds on both engines.
# ===========================================================================

@_register(
    "cohort_weekly_retention",
    """
    WITH d AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events
      WHERE event_id % 23 = 0
    ),
    c AS (
      SELECT user_id, day, min(day) OVER (PARTITION BY user_id) AS d0 FROM d
    )
    SELECT CAST(d0 // 7 AS BIGINT) AS cohort_week,
           CAST((day - d0) // 7 AS BIGINT) AS week_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
    FROM c GROUP BY 1, 2
    """,
    "cohort / retention analytics (no reference counterpart)",
    "weekly retention matrix: first-activity cohorts x week offsets",
)
def cohort_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic 1-in-23 thinning: unthinned, every synthetic user is
    # active from day 0 and the matrix collapses to a single cohort
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") % 23 == 0)
        .select("user_id", _fdiv(_epoch_us("ts"), 86_400_000_000).alias("day"))
    )
    w = Window.partitionBy("user_id")
    c = ev.withColumn("d0", F.min("day").over(w))
    return (
        c.select(
            "user_id",
            F.expr("d0 div 7").cast("bigint").alias("cohort_week"),
            F.expr("(day - d0) div 7").cast("bigint").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_active"))
    )


# ===========================================================================
# SCD2 interval building — the warehouse history-table op: collapse
# each user's event-type stream into validity intervals (valid_from /
# valid_to, NULL = current state). Gaps-and-islands over ONE
# key-partitioned time-ordered exchange; interval bounds convert to
# epoch seconds exactly on both engines (epoch_us // 1e6).
# ===========================================================================

@_register(
    "scd2_user_state_intervals",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    isl AS (
      SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged
    ),
    runs AS (
      SELECT user_id, island,
             min(event_type) AS event_type,
             min(ts) AS vf,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id, event_type,
           CAST(epoch_us(vf) // 1000000 AS BIGINT) AS valid_from_s,
           CAST(epoch_us(lead(vf) OVER (PARTITION BY user_id ORDER BY island))
                // 1000000 AS BIGINT) AS valid_to_s,
           n_rows
    FROM runs
    """,
    "SCD type-2 dimension history (no reference counterpart)",
    "per-user event-type validity intervals via gaps-and-islands, one exchange",
)
def scd2_user_state_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.scd import scd2_intervals

    out = scd2_intervals(
        _t(spark, sf_dir, "events"),
        key_col="user_id",
        ts_col="ts",
        attr_col="event_type",
        tiebreak_col="event_id",
    )
    return out.select(
        "user_id",
        "event_type",
        _epoch_s("valid_from").alias("valid_from_s"),
        _epoch_s("valid_to").alias("valid_to_s"),
        "n_rows",
    )


# ===========================================================================
# Relative-rank windows — percent_rank and cume_dist per group (the two
# ranking functions the rest of the battery doesn't exercise), with the
# (cents, orderkey) tiebreak making positions engine-exact. Both are
# exact rational values (rank arithmetic over int counts), so no
# rounding is needed.
# ===========================================================================

@_register(
    "order_price_relative_rank",
    """
    WITH base AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
      FROM orders WHERE o_orderkey % 29 = 0
    )
    SELECT o_orderkey, o_orderpriority, price_cents,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM base
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY price_cents, o_orderkey)
    """,
    "window functions: percent_rank / cume_dist (O4 family)",
    "relative rank positions per priority, exact rational values",
)
def order_price_relative_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 29 == 0)
        .select(
            "o_orderkey",
            "o_orderpriority",
            _cents(F.col("o_totalprice")).alias("price_cents"),
        )
    )
    w = Window.partitionBy("o_orderpriority").orderBy("price_cents", "o_orderkey")
    return base.select(
        "o_orderkey",
        "o_orderpriority",
        "price_cents",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


# ===========================================================================
# Decile analysis — ntile bucketing per group plus per-decile rollup:
# the ranking-into-equal-buckets shape (price deciles per order priority)
# with exact tiebreaks so bucket boundaries match across engines.
# ===========================================================================

@_register(
    "order_price_deciles",
    """
    WITH bucketed AS (
      SELECT o_orderpriority,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
             ntile(10) OVER (PARTITION BY o_orderpriority
                             ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders
    )
    SELECT o_orderpriority, CAST(decile AS INT) AS decile,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(min(cents) AS BIGINT) AS min_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM bucketed GROUP BY o_orderpriority, decile
    """,
    "ntile decile bucketing + rollup",
    "price deciles per order priority with pinned tiebreaks, per-decile stats",
)
def order_price_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    bucketed = o.select(
        "o_orderpriority",
        _cents(F.col("o_totalprice")).alias("cents"),
        F.ntile(10).over(w).alias("decile"),
    )
    return bucketed.groupBy("o_orderpriority", "decile").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
        F.min("cents").cast("bigint").alias("min_cents"),
        F.max("cents").cast("bigint").alias("max_cents"),
    )


# ===========================================================================
# Session funnel — conversion analysis inside sessionized activity: of
# each user's sessions, which saw a 'click' and then a 'purchase' AFTER
# it (strict event-time order, (ts, event_id) tiebreak)? The windowed
# min-click-time vs max-purchase-time comparison is the set-free funnel
# form — no self-join, one pass over the sessionized rows.
# ===========================================================================

@_register(
    "session_click_purchase_funnel",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS ns
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts, event_id, event_type,
             sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ),
    sess AS (
      SELECT user_id, CAST(sid AS BIGINT) AS sid,
             CAST(count(*) AS BIGINT) AS n_events,
             min(CASE WHEN event_type = 'click'
                      THEN epoch_us(ts) END) AS first_click,
             max(CASE WHEN event_type = 'purchase'
                      THEN epoch_us(ts) END) AS last_purchase
      FROM numbered GROUP BY user_id, sid
    )
    SELECT user_id, sid, n_events,
           CAST(first_click IS NOT NULL AS BOOLEAN) AS saw_click,
           CAST(first_click IS NOT NULL AND last_purchase IS NOT NULL
                AND last_purchase > first_click AS BOOLEAN) AS converted
    FROM sess
    """,
    "funnel analysis over sessions (no reference counterpart)",
    "click->purchase conversion per session via windowed first/last "
    "comparison — no self-join",
)
def session_click_purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.expr("INTERVAL 30 MINUTES")
    lagged = F.lag("ts").over(w)
    numbered = ev.select(
        "user_id",
        "event_id",
        "event_type",
        _epoch_us("ts").alias("ts_us"),
        F.sum(
            F.when(lagged.isNull() | ((F.col("ts") - lagged) > gap), 1)
            .otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("sid"),
    )
    # (user_id, ts) is unique in the events table, so event-time micros
    # alone are a total order within a user's session — no tiebreak term.
    key = F.col("ts_us")
    sess = numbered.groupBy("user_id", "sid").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.min(F.when(F.col("event_type") == "click", key)).alias("first_click"),
        F.max(F.when(F.col("event_type") == "purchase", key)).alias(
            "last_purchase"
        ),
    )
    return sess.select(
        "user_id",
        "sid",
        "n_events",
        F.col("first_click").isNotNull().alias("saw_click"),
        (
            F.col("first_click").isNotNull()
            & F.col("last_purchase").isNotNull()
            & (F.col("last_purchase") > F.col("first_click"))
        ).alias("converted"),
    )


# ===========================================================================
# Connected components over the SimHash near-dup graph — the iterative
# step that turns pairwise dedup output into duplicate CLUSTERS (keep the
# min-id doc per cluster). Spark runs min-label propagation (diameter
# rounds of join+agg, lineage-truncated); the oracle computes the same
# fixpoint with a recursive CTE. The one driver-side loop in the engine
# is the convergence check — each round's work is fully distributed.
# ===========================================================================

@_register(
    "dedup_cluster_assign",
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
    )
    SELECT n AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
    FROM comp GROUP BY n
    """,
    "dedup clusters: connected components (iterative; no reference counterpart)",
    "min-label propagation over SimHash near-dup pairs vs recursive-CTE "
    "fixpoint — every doc gets its component's min doc_id",
)
def dedup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        connected_components,
        simhash_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    edges = simhash_pairs(docs, max_hamming=3).select("id_a", "id_b")
    return connected_components(edges, docs, node_col="doc_id")


# ===========================================================================
# Integer PageRank over the customer—supplier bipartite graph (edges =
# distinct order lines), symmetrized so no node dangles. Ranks live in
# exact integer micro-units with floor division everywhere, which makes
# an ITERATIVE float-free fixpoint hash-identical across engines and
# partition orders — the same trick the exact-cents aggregates use. The
# oracle unrolls the three iterations as CTEs. Per iteration: one
# src-hash join + one dst aggregation; lineage truncated per round.
# ===========================================================================

_PR_SCALE = 1_000_000_000
_PR_BASE = 15 * _PR_SCALE // 100


def _pr_iter_sql(prev: str, name: str) -> str:
    return f"""{name} AS (
      SELECT e.dst AS node,
             CAST({_PR_BASE} + (85 * sum(p.pr // d.deg)) // 100 AS BIGINT)
               AS pr
      FROM e JOIN {prev} p ON e.src = p.node
             JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    )"""


@_register(
    "pagerank_customer_supplier",
    f"""
    WITH edges0 AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    e AS (SELECT c AS src, -s AS dst FROM edges0
          UNION ALL SELECT -s, c FROM edges0),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
    p0 AS (SELECT src AS node, CAST({_PR_SCALE} AS BIGINT) AS pr FROM deg),
    {_pr_iter_sql('p0', 'it1')},
    {_pr_iter_sql('it1', 'it2')},
    {_pr_iter_sql('it2', 'it3')}
    SELECT node, pr FROM it3
    """,
    "graph: integer PageRank (iterative, exact cross-engine fixpoint)",
    "3-iteration damping-0.85 PageRank over the customer-supplier graph "
    "in integer micro-units, vs a 3-CTE unrolled oracle",
)
def pagerank_customer_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.graph import (
        pagerank_integer,
        symmetrize,
    )

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # Supplier nodes live in the NEGATIVE key space (custkey/suppkey are
    # both ≥ 1 in TPC-H data at every SF, so negation keeps the two node
    # namespaces disjoint at any scale — a fixed "+10M" offset would
    # collide with customers once custkey = 150k·SF crosses it, silently
    # merging graph nodes). Overflow bound: each iteration computes
    # 85·Σ(pr÷deg) per node; Σ(pr÷deg) ≤ n·scale ≈ n·1e9, so ranks stay
    # inside bigint while n·85e9 < 2^63, i.e. graphs under ~1e8 nodes —
    # far above any SF this entry targets (documented here because ANSI
    # mode would raise, not wrap, beyond it).
    edges = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("o_custkey").alias("src"),
            (-F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    # symmetrize() guarantees the no-dangling contract by construction,
    # so skip the guard's anti-join+count job (graph.py documents this
    # as the exact case for validate_no_dangling=False).
    return pagerank_integer(
        symmetrize(edges), iterations=3, validate_no_dangling=False
    ).select("node", F.col("pr").cast("long").alias("pr"))


# The same clusters under a second registered name: it runs the same
# operator as dedup_cluster_assign (min-label propagation, whose path
# compression needs O(log diameter) rounds even on chains) and reuses
# that entry's recursive-CTE oracle verbatim.
@_register(
    "dedup_cluster_star",
    None,  # replaced right below with the shared propagation oracle
    "dedup clusters: connected components, second registration (no reference counterpart)",
    "min-label propagation with path compression over SimHash pairs — "
    "the operator and oracle of dedup_cluster_assign",
)
def dedup_cluster_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        connected_components,
        simhash_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    edges = simhash_pairs(docs, max_hamming=3).select("id_a", "id_b")
    return connected_components(edges, docs, node_col="doc_id")


QUERIES["dedup_cluster_star"] = dataclasses.replace(
    QUERIES["dedup_cluster_star"], oracle=QUERIES["dedup_cluster_assign"].oracle
)


# ===========================================================================
# Pivot (long -> wide reshape) — exact-integer-cents conditional sums per
# pivot value. The value list is pinned explicitly (no extra distinct
# pass, deterministic column order); Catalyst compiles pivot to the same
# conditional-aggregate the SQL oracle states, one shuffle, map-side
# partials.
# ===========================================================================

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@_register(
    "pivot_event_cents",
    f"""
    SELECT user_id,
           {", ".join(
               "CAST(coalesce(sum(CASE WHEN event_type = '" + t + "' THEN "
               "CAST(floor(value * 100.0 + 0.5) AS BIGINT) END), 0) AS BIGINT) "
               "AS " + t + "_cents"
               for t in _EVENT_TYPES)}
    FROM events GROUP BY user_id
    """,
    "pivot / wide reshape (no reference counterpart)",
    "per-user event_type pivot of exact value cents, pinned pivot columns",
)
def pivot_event_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", _cents(F.col("value")).alias("cents")
    )
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.sum("cents"))
    )
    return out.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"{t}_cents")
            for t in _EVENT_TYPES
        ],
    )


# ===========================================================================
# ROLLUP grouping sets — hierarchical subtotals in ONE pass (Spark expands
# grouping sets inside a single aggregate; the alternative is G unions of
# G aggregations). Exact integer cents; NULL marks the rolled-up level in
# both engines identically.
# ===========================================================================

@_register(
    "rollup_pricing",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_price_cents
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    "rollup / grouping sets (no reference counterpart)",
    "hierarchical subtotals over (returnflag, linestatus) in one aggregate pass",
)
def rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r6: pre-aggregate to the finest grouping set, then ROLLUP the tiny
    # cell table. Spark's native rollup puts Expand BELOW the partial
    # aggregate, multiplying every raw fact row by the number of grouping
    # sets before any reduction — at 100 TB that's 3× the scan output
    # shuffled for no reason. The rewrite reduces to |distinct cells|
    # first (one map-side-combined shuffle), then expands ~6 rows.
    # Identical results for non-null grouping keys (lineitem's flags are
    # non-null by schema; with nullable keys the raw form's NULL-vs-
    # subtotal ambiguity is the same in both shapes).
    li = _t(spark, sf_dir, "lineitem")
    base = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("pn"),
        F.sum(_cents(F.col("l_extendedprice"))).alias("ps"),
    )
    # coalesce(sum(pn), 0): count semantics for the grand-total row must
    # read 0, never NULL, wherever that row exists (r6 ADVICE). Noted
    # empty-input divergence (pinned in test_round7_entries): Spark's
    # ROLLUP/CUBE — raw SQL form included, so NOT an artifact of this
    # rewrite — emits ZERO rows over an empty fact table, while
    # ANSI/DuckDB emits the () grand-total row (n=0, sum NULL). The
    # testdata fact tables are non-empty, so the oracle comparison is
    # unaffected; the coalesce keeps the count non-null in any engine
    # that does emit the row.
    return base.rollup("l_returnflag", "l_linestatus").agg(
        F.coalesce(F.sum("pn"), F.lit(0)).cast("bigint").alias("n_rows"),
        F.sum("ps").cast("bigint").alias("sum_price_cents"),
    )


# CUBE: every grouping-set combination (the cross-tab twin of ROLLUP's
# hierarchy) — still ONE aggregate pass via grouping-set expansion.
@_register(
    "cube_pricing",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_price_cents
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
    "cube grouping sets (no reference counterpart)",
    "all subtotal combinations over (returnflag, linestatus) in one pass",
)
def cube_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r6 (bench-anomaly fix + scale): same pre-aggregate-then-expand
    # rewrite as rollup_pricing — CUBE's 4 grouping sets expanded every
    # raw lineitem row (the r4→r5 0.30→0.48 s drift was this shape's
    # sensitivity to scan/GC state, not a code change; git log -S shows
    # none). Now Expand runs over the ~6-row finest-grain aggregate.
    li = _t(spark, sf_dir, "lineitem")
    base = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("pn"),
        F.sum(_cents(F.col("l_extendedprice"))).alias("ps"),
    )
    # coalesce-on-empty: same grand-total-row rationale as rollup_pricing
    return base.cube("l_returnflag", "l_linestatus").agg(
        F.coalesce(F.sum("pn"), F.lit(0)).cast("bigint").alias("n_rows"),
        F.sum("ps").cast("bigint").alias("sum_price_cents"),
    )


# ===========================================================================
# OHLC time-bar resample — the canonical market-data downsample: per
# (user, 1-hour bar) the open/high/low/close of value with pinned
# (ts, event_id) tiebreaks so both engines select identical rows. One
# window (shared partitioning) + one aggregation.
# ===========================================================================

@_register(
    "ohlc_hourly_bars",
    """
    WITH ranked AS (
      SELECT user_id,
             CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS bar_s,
             value,
             row_number() OVER w AS rn,
             count(*) OVER (PARTITION BY user_id,
                            time_bucket(INTERVAL '1 hour', ts)) AS n
      FROM events
      WINDOW w AS (PARTITION BY user_id, time_bucket(INTERVAL '1 hour', ts)
                   ORDER BY ts, event_id)
    )
    SELECT user_id, bar_s,
           CAST(max(n) AS BIGINT) AS n_events,
           max(CASE WHEN rn = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn = n THEN value END) AS close
    FROM ranked GROUP BY user_id, bar_s
    """,
    "time-bar resample / OHLC (no reference counterpart)",
    "per-user hourly open/high/low/close bars with pinned tiebreaks",
)
def ohlc_hourly_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    # hour bucket = floor(epoch_us / 3.6e9) * 3600 (epoch s)
    bar = (_fdiv(_epoch_us("ts"), 3_600_000_000) * 3600).alias("bar_s")
    based = ev.select("user_id", bar, "value", "ts", "event_id")
    w = Window.partitionBy("user_id", "bar_s").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id", "bar_s")
    ranked = based.select(
        "user_id",
        "bar_s",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    return ranked.groupBy("user_id", "bar_s").agg(
        F.max("n").cast("bigint").alias("n_events"),
        F.max(F.when(F.col("rn") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn") == F.col("n"), F.col("value"))).alias("close"),
    )


# ===========================================================================
# Range (interval-overlap) join — concurrent sessions across users via
# the BINNED equi-join (see operators/rangejoin.py): explode intervals
# into hour bins, meet in a bin equi-join, exact overlap + first-bin
# dedup filters. The naive range-predicate join is a cartesian at scale;
# this is local-density² instead. Oracle: DuckDB's native range join.
# ===========================================================================

# (ts, event_id) ordering throughout: with ties on ts alone, the
# 0-gap row of a tied pair could be cumulative-summed BEFORE the
# session-starting flag row and land in the previous session — session
# boundaries would be nondeterministic and engine/oracle could diverge
# on any dataset with duplicate (user_id, ts) pairs (r5 review).
_SESSIONS_SQL = """
    flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS ns
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts,
             sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ),
    sessions AS (
      SELECT user_id, CAST(sid AS BIGINT) AS sid,
             min(epoch_us(ts)) // 1000000 AS s,
             max(epoch_us(ts)) // 1000000 AS e
      FROM numbered GROUP BY user_id, sid
    )
"""


def _user_sessions_spark(ev: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """The engine twin of ``_SESSIONS_SQL``: 30-min-gap sessions per user
    with the SAME pinned (ts, event_id) tie order, shared by the range
    join and sweep-line entries (one definition — a gap-rule change
    can't silently desynchronize the call sites)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = F.lag("ts").over(w)
    numbered = ev.select(
        "user_id",
        _epoch_s("ts").alias("ts_s"),
        F.sum(
            F.when(
                lagged.isNull()
                | ((F.col("ts") - lagged) > F.expr(f"INTERVAL {gap}")),
                1,
            ).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("sid"),
    )
    return numbered.groupBy("user_id", "sid").agg(
        F.min("ts_s").alias("s"), F.max("ts_s").alias("e")
    )


@_register(
    "range_join_concurrent_sessions",
    f"""
    WITH {_SESSIONS_SQL}
    SELECT a.user_id AS user_a, a.sid AS sid_a,
           b.user_id AS user_b, b.sid AS sid_b,
           least(a.e, b.e) - greatest(a.s, b.s) AS overlap_s
    FROM sessions a JOIN sessions b
      ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e
    """,
    "range join (binned equi-join; no reference counterpart)",
    "overlapping session pairs across users, hour-binned candidate join "
    "vs DuckDB native range join",
)
def range_join_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    sessions = _user_sessions_spark(_t(spark, sf_dir, "events"))
    pairs = interval_overlap_join(
        sessions,
        sessions,
        bin_width=3600,
        extra_pred=lambda d: d["user_id_a"] < d["user_id_b"],
    )
    return pairs.select(
        F.col("user_id_a").alias("user_a"),
        F.col("sid_a"),
        F.col("user_id_b").alias("user_b"),
        F.col("sid_b"),
        (
            F.least(F.col("e_a"), F.col("e_b"))
            - F.greatest(F.col("s_a"), F.col("s_b"))
        ).alias("overlap_s"),
    )


# ===========================================================================
# Equi-width histogram — the profiling companion to min/max/NDV: fixed
# literal bin width (bounds from an offline profile, the same calibration
# contract as the perplexity cut — never a per-query global min/max scan
# at 100 TB unless asked), one map-side-combined shuffle of <= n_bins
# rows. Integer bin arithmetic, hash-exact.
# ===========================================================================

@_register(
    "orders_price_histogram",
    """
    SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(floor(o_totalprice * 100.0 + 0.5)) AS BIGINT) AS cents_sum
    FROM orders GROUP BY 1
    """,
    "profiling: equi-width price histogram",
    "50k-wide bins over o_totalprice; <= n_bins rows shuffle",
)
def orders_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.floor(F.col("o_totalprice") / 50000.0).cast("bigint").alias("bin")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(_cents(F.col("o_totalprice"))).cast("bigint").alias("cents_sum"),
    )


# ===========================================================================
# Feature standardization — per-column z-scores, the ML-prep scaler: one
# tiny global agg (mean/stddev per feature), broadcast back over the
# fact scan as a narrow projection. Never a per-row Python scaler; the
# stats row is the only shuffle. 6dp rounding absorbs the ~1e-12
# cross-engine drift in the float mean/stddev (same contract as the
# correlation screen).
# ===========================================================================

@_register(
    "feature_standardize",
    f"""
    WITH s AS (
      SELECT avg(l_quantity) AS m_q, stddev_samp(l_quantity) AS s_q,
             avg(l_extendedprice) AS m_p, stddev_samp(l_extendedprice) AS s_p
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber,
           {_sql_r("(l_quantity - m_q) / s_q", 6)} AS z_qty,
           {_sql_r("(l_extendedprice - m_p) / s_p", 6)} AS z_price
    FROM lineitem CROSS JOIN s
    """,
    "ml-prep: per-column z-score standardization",
    "global mean/stddev broadcast over the fact scan; narrow projection",
)
def feature_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    stats = li.agg(
        F.avg("l_quantity").alias("m_q"),
        F.stddev_samp("l_quantity").alias("s_q"),
        F.avg("l_extendedprice").alias("m_p"),
        F.stddev_samp("l_extendedprice").alias("s_p"),
    )
    return li.crossJoin(F.broadcast(stats)).select(
        "l_orderkey",
        "l_linenumber",
        _r((F.col("l_quantity") - F.col("m_q")) / F.col("s_q"), 6).alias("z_qty"),
        _r(
            (F.col("l_extendedprice") - F.col("m_p")) / F.col("s_p"), 6
        ).alias("z_price"),
    )


# ===========================================================================
# Semi-join — the EXISTS twin of the anti-join below: customers who
# placed at least one high-value order, per market segment. left_semi
# never duplicates the left side (unlike an inner join + distinct) and
# ships only the join key from the right — the shape bloom_join_prune
# accelerates at 100 TB.
# ===========================================================================

@_register(
    "customers_with_big_orders",
    """
    SELECT c.c_mktsegment AS mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(floor(c.c_acctbal * 100.0 + 0.5)) AS BIGINT)
             AS acctbal_cents
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 400000)
    GROUP BY c.c_mktsegment
    """,
    "joins: semi-join (EXISTS) rollup",
    "customers with >= 1 order above 400k per segment via left_semi",
)
def customers_with_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select("o_custkey")
    )
    hits = c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi")
    return hits.groupBy(F.col("c_mktsegment").alias("mktsegment")).agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.sum(_cents(F.col("c_acctbal"))).cast("bigint").alias("acctbal_cents"),
    )


# ===========================================================================
# Anti-join — customers with no orders (a third of TPC-H customers):
# the NOT EXISTS shape as a left_anti join, aggregated per nation. The
# anti-join shuffles on the key at scale (the orders side is a fact
# table); the guard against accidental BroadcastNestedLoop is the plan
# test family's concern, correctness is this oracle.
# ===========================================================================

@_register(
    "customers_without_orders",
    """
    SELECT c.c_nationkey AS nationkey,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(floor(c.c_acctbal * 100.0 + 0.5)) AS BIGINT)
             AS acctbal_cents
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_nationkey
    """,
    "joins: anti-join (NOT EXISTS) rollup",
    "customers with no orders per nation via left_anti",
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    survivors = c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
    return survivors.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.sum(_cents(F.col("c_acctbal"))).cast("bigint").alias("acctbal_cents"),
    )


# ===========================================================================
# Normalization-aware exact dedup — the cheapest rung of the dedup
# ladder: lowercase + punctuation strip + whitespace collapse, then the
# same one-shuffle fingerprint-group shape as dedup_exact. Normalization
# is built from replace/split/filter/join primitives (byte-identical
# across engines) rather than regex classes (Java vs RE2 dialects
# disagree at the edges).
# ===========================================================================

@_register(
    "dedup_normalized_exact",
    """
    WITH n AS (
      SELECT doc_id,
             md5(array_to_string(
               list_filter(
                 string_split(
                   replace(replace(replace(replace(replace(replace(
                     lower(text),
                     '.', ''), ',', ''), '!', ''), '?', ''), ';', ''), ':', ''),
                   ' '),
                 t -> t <> ''), ' ')) AS norm_fp
      FROM documents
    )
    SELECT doc_id, norm_fp,
           min(doc_id) OVER (PARTITION BY norm_fp) AS canonical_id,
           (count(*) OVER (PARTITION BY norm_fp) > 1) AS in_dup_group
    FROM n
    """,
    "textops: normalized exact dedup (case/punct/space-insensitive)",
    "lower+strip-punct+collapse-space fingerprint groups; one shuffle",
)
def dedup_normalized_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import normalized_dup_groups

    return normalized_dup_groups(_t(spark, sf_dir, "documents"))


# ===========================================================================
# Training-shard manifest — deterministic shard assignment (h60 % 16, a
# pure key function: stable under re-partitioning/reruns/engines) plus
# the per-shard audit row a shard writer emits so a training job can
# verify completeness without reading the data. The checksum is bit_xor
# of key hashes — order-independent and overflow-free where an integer
# sum of 60-bit hashes would trip ANSI mode.
# ===========================================================================

@_register(
    "training_shard_manifest",
    f"""
    WITH t AS (
      SELECT {_h60_sql("CAST(doc_id AS VARCHAR)")} AS h,
             len(string_split(text, ' ')) AS n
      FROM documents
    )
    SELECT CAST(h % 16 AS INT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           CAST(bit_xor(h) AS BIGINT) AS key_checksum
    FROM t GROUP BY h % 16
    """,
    "sharding: deterministic training-shard manifest",
    "h60(doc_id) % 16 shard assignment with per-shard doc/token counts "
    "and an order-independent key checksum",
)
def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.sampling import shard_manifest

    return shard_manifest(
        _t(spark, sf_dir, "documents"), "doc_id", n_shards=16
    )


# ===========================================================================
# TPC-H Q3 (shipping priority) — the classic 3-table selective join +
# grouped top-k: segment-filtered customers ⋈ date-bounded orders ⋈
# ship-date-bounded lineitem, revenue per open order, top 10. Filters
# push to all three scans; the customer side collapses after its segment
# filter (AQE broadcasts it at small SF; at 100 TB it hash-joins on the
# already-shuffled o_custkey). Revenue in exact integer cents; top-10
# pinned (revenue desc, date, key).
# ===========================================================================

@_register(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100.0
                               + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
           CAST(epoch_us(o_orderdate) // 1000000 AS BIGINT) AS order_date_s,
           o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-06-01'
      AND l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue_cents DESC, order_date_s, l_orderkey
    LIMIT 10
    """,
    "warehouse: TPC-H Q3 shipping priority (selective 3-table join, "
    "grouped top-k)",
    "BUILDING-segment open orders by exact-cents revenue, top 10 with "
    "pinned tiebreaks",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-06-01").cast("timestamp_ntz")
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > cutoff)
        .select(
            "l_orderkey",
            _cents(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
            ).alias("rev_cents"),
        )
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum("rev_cents").cast("bigint").alias("revenue_cents"))
        .select(
            "l_orderkey",
            "revenue_cents",
            _epoch_s(F.col("o_orderdate")).alias("order_date_s"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue_cents"), "order_date_s", "l_orderkey")
        .limit(10)
    )


# ===========================================================================
# Per-user EWMA — the classic sequential streaming-feature recurrence
# s_t = α·x_t + (1−α)·s_{t−1}: NOT associative, so no window/aggregate
# expresses it and the closed-form weight trick overflows on long
# series. This is a designed Arrow crossing (batched mapInPandas over
# user-sorted partitions, pinned (ts, event_id) order, cross-batch
# carry state) whose Python loop evaluates EXACTLY
# 0.25·x + 0.75·s — the same IEEE-754 association order as the oracle's
# recursive CTE, so the doubles are bit-identical across engines with
# NO rounding: the strongest determinism statement in the battery.
# ===========================================================================

@_register(
    "ewma_user_value",
    """
    WITH RECURSIVE seq AS (
      SELECT user_id, CAST(value AS DOUBLE) AS value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    ew AS (
      SELECT user_id, rn, value AS s FROM seq WHERE rn = 1
      UNION ALL
      SELECT s2.user_id, s2.rn, 0.25 * s2.value + 0.75 * ew.s
      FROM ew JOIN seq s2 ON s2.user_id = ew.user_id AND s2.rn = ew.rn + 1
    )
    SELECT user_id, CAST(rn AS BIGINT) AS n_events, s AS ewma_last
    FROM ew
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY rn DESC) = 1
    """,
    "stateful sequential op: per-key EWMA via batched Arrow mapInPandas "
    "(bit-identical to the recursive-CTE oracle, unrounded)",
    "per-user EWMA (alpha 0.25) over (ts, event_id)-ordered values; "
    "final state + event count per user",
)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.features import ewma_by_key

    return ewma_by_key(
        _t(spark, sf_dir, "events"),
        "user_id",
        ["ts", "event_id"],
        "value",
        alpha=0.25,
    )


# ===========================================================================
# Skew-key report — the diagnosis that precedes salting: top-K heaviest
# grouping keys with their table share (ppm) and the integer salt factor
# (reducer-partitions' worth of rows each carries). Exact integer DIV
# math; grand total via a broadcast 1-row re-aggregate of the same
# counts (AQE materializes the aggregate once), never a single-task
# window over the key stream.
# ===========================================================================

@_register(
    "skew_key_report",
    """
    WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
               FROM events GROUP BY user_id),
    t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total FROM c)
    SELECT user_id, n_rows,
           CAST((1000000 * n_rows) // total AS BIGINT) AS share_ppm,
           CAST((32 * n_rows + total - 1) // total AS INT) AS salt_factor
    FROM c, t
    ORDER BY n_rows DESC, user_id LIMIT 20
    """,
    "skew: top-K hot-key report with integer salt factors",
    "20 heaviest events.user_id keys: row count, table share in ppm, "
    "ceil(32*cnt/total) salt factor — the pre-salting diagnosis",
)
def skew_key_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.skew import (
        skew_key_report as _skr,
    )

    return _skr(_t(spark, sf_dir, "events"), "user_id", top_k=20, n_partitions=32)


# ===========================================================================
# Referential-integrity audit — orphan detection across three declared
# FK relationships, with a deterministic partition-purge simulated on
# the customer dim (c_custkey % 13 == 0 dropped) so the audit has real
# orphans to find: the post-delete verification a 100 TB retention job
# runs. One row per relationship; see operators/integrity.py for the
# anti-join shape.
# ===========================================================================

@_register(
    "referential_integrity_audit",
    """
    WITH cust AS (SELECT c_custkey FROM customer WHERE c_custkey % 13 <> 0),
    rel1 AS (
      SELECT 'lineitem.l_orderkey->orders' AS fk_name,
             CAST(count(*) AS BIGINT) AS n_child_rows,
             CAST(count(*) FILTER (o_orderkey IS NULL) AS BIGINT) AS n_orphan_rows,
             CAST(count(DISTINCT CASE WHEN o_orderkey IS NULL
                                      THEN l_orderkey END) AS BIGINT)
               AS n_orphan_keys
      FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
    ),
    rel2 AS (
      SELECT 'orders.o_custkey->customer(purged)' AS fk_name,
             CAST(count(*) AS BIGINT) AS n_child_rows,
             CAST(count(*) FILTER (c.c_custkey IS NULL) AS BIGINT) AS n_orphan_rows,
             CAST(count(DISTINCT CASE WHEN c.c_custkey IS NULL
                                      THEN o_custkey END) AS BIGINT)
               AS n_orphan_keys
      FROM orders LEFT JOIN cust c ON o_custkey = c.c_custkey
    ),
    rel3 AS (
      SELECT 'lineitem.l_suppkey->supplier' AS fk_name,
             CAST(count(*) AS BIGINT) AS n_child_rows,
             CAST(count(*) FILTER (s_suppkey IS NULL) AS BIGINT) AS n_orphan_rows,
             CAST(count(DISTINCT CASE WHEN s_suppkey IS NULL
                                      THEN l_suppkey END) AS BIGINT)
               AS n_orphan_keys
      FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
    )
    SELECT * FROM rel1 UNION ALL SELECT * FROM rel2 UNION ALL SELECT * FROM rel3
    """,
    "data quality: FK orphan audit after a simulated partition purge",
    "three FK relationships audited for orphan rows/keys; customer dim "
    "purged of %13 keys so the audit detects real strays",
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.integrity import (
        fk_orphan_audit,
    )

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 13 != 0)
    supp = _t(spark, sf_dir, "supplier")
    return fk_orphan_audit(
        [
            ("lineitem.l_orderkey->orders", li, "l_orderkey", orders, "o_orderkey"),
            ("orders.o_custkey->customer(purged)", orders, "o_custkey", cust, "c_custkey"),
            ("lineitem.l_suppkey->supplier", li, "l_suppkey", supp, "s_suppkey"),
        ]
    )


# ===========================================================================
# Source reputation — the whole-source curation decision table: per
# `source`, doc/token volume, corpus-wide exact-dup rate, aggregate
# stopword ratio. Cutting bad providers wholesale precedes per-doc
# filtering in a 100 TB pipeline. Exact integer aggregates; ratios are
# one int/int division, rounded with the engine-identical primitive.
# ===========================================================================

@_register(
    "source_reputation",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
             {_sql_count_in(('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it', 'for', 'on'))} AS n_stop,
             md5(text) AS fp
      FROM documents
    ),
    f AS (
      SELECT *, CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY fp)
                     THEN 1 ELSE 0 END AS dup
      FROM t
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           CAST(sum(dup) AS BIGINT) AS n_dup_docs,
           {_sql_r('1.0 * sum(n_stop) / sum(n)', 9)} AS stopword_ratio,
           {_sql_r('1.0 * sum(dup) / count(*)', 9)} AS dup_rate
    FROM f GROUP BY source
    """,
    "curation: per-source reputation rollup (volume, dup rate, quality)",
    "per-source docs/tokens, corpus-wide exact-dup rate, aggregate "
    "stopword ratio — the keep-or-cut-the-provider table",
)
def source_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import (
        source_reputation as _srcrep,
    )

    out = _srcrep(_t(spark, sf_dir, "documents"))
    return out.select(
        "source",
        "n_docs",
        "total_tokens",
        "n_dup_docs",
        _r(F.col("stopword_ratio"), 9).alias("stopword_ratio"),
        _r(F.col("dup_rate"), 9).alias("dup_rate"),
    )


# ===========================================================================
# Snapshot table diff — the dataset-versioning audit: classify every key
# across two snapshot versions as added/removed/changed via one md5 row
# fingerprint per side and ONE full outer hash join on the key (the
# 100 TB diff shape: no row-wise comparisons, no driver state). The
# "next version" is simulated deterministically from orders: every 11th
# key deleted, every 7th price bumped one cent-hundred, every 13th row
# cloned under a new key.
# ===========================================================================

@_register(
    "snapshot_table_diff",
    """
    WITH base AS (
      SELECT o_orderkey AS k, o_custkey, o_orderstatus,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS price_cents
      FROM orders
    ),
    newt AS (
      SELECT k, o_custkey, o_orderstatus,
             price_cents + CASE WHEN k % 7 = 0 THEN 100 ELSE 0 END AS price_cents
      FROM base WHERE k % 11 <> 0
      UNION ALL
      SELECT k + 10000000000, o_custkey, o_orderstatus, price_cents
      FROM base WHERE k % 13 = 0
    ),
    of AS (SELECT k, md5(concat_ws(chr(31), CAST(o_custkey AS VARCHAR),
                                   o_orderstatus, CAST(price_cents AS VARCHAR)))
                    AS old_fp FROM base),
    nf AS (SELECT k, md5(concat_ws(chr(31), CAST(o_custkey AS VARCHAR),
                                   o_orderstatus, CAST(price_cents AS VARCHAR)))
                    AS new_fp FROM newt),
    d AS (
      SELECT coalesce(of.k, nf.k) AS o_orderkey,
             CASE WHEN of.k IS NULL THEN 'added'
                  WHEN nf.k IS NULL THEN 'removed'
                  WHEN old_fp <> new_fp THEN 'changed'
                  ELSE 'unchanged' END AS status,
             old_fp, new_fp
      FROM of FULL JOIN nf ON of.k = nf.k
    )
    SELECT o_orderkey, status, old_fp, new_fp FROM d
    WHERE status <> 'unchanged'
    """,
    "data versioning: snapshot diff (added/removed/changed via row "
    "fingerprints, one full outer join)",
    "orders vs a simulated next version: %11 keys deleted, %7 prices "
    "changed, %13 rows cloned as new keys — md5 fingerprint diff",
)
def snapshot_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.diff import table_diff

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        _cents(F.col("o_totalprice")).alias("price_cents"),
    )
    k = F.col("o_orderkey")
    newt = (
        base.filter(k % 11 != 0)
        .withColumn(
            "price_cents",
            F.col("price_cents")
            + F.when(k % 7 == 0, F.lit(100)).otherwise(F.lit(0)),
        )
        .unionByName(
            base.filter(k % 13 == 0).withColumn(
                "o_orderkey", k + F.lit(10_000_000_000)
            )
        )
    )
    return table_diff(
        base,
        newt,
        ["o_orderkey"],
        ["o_custkey", "o_orderstatus", "price_cents"],
    )


# ===========================================================================
# Weighted SYSTEMATIC sampling — the token-budget form of corpus mixing:
# weights (token counts) laid end to end in doc_id order, one pick per
# `step` units of cumulative weight. Probability-proportional-to-size
# with ZERO randomness: reruns, re-partitions, and engines all pick the
# same rows. Exact integer arithmetic over the distributed two-phase
# prefix sum (bounded per-task state — the same primitive sequence
# packing uses — never a single-task global window).
# ===========================================================================

@_register(
    "weighted_systematic_sample",
    """
    WITH w AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
      FROM documents
    ),
    c AS (
      SELECT doc_id, lang, n_toks,
             CAST(coalesce(sum(n_toks) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS w_start
      FROM w
    )
    SELECT doc_id, lang, n_toks, w_start
    FROM c
    WHERE w_start // 1000 < (w_start + n_toks) // 1000
    """,
    "sampling: weighted systematic (probability-proportional-to-size, "
    "deterministic)",
    "one doc per 1000 cumulative tokens along doc_id order — exact "
    "integer prefix-sum selection, no RNG",
)
def weighted_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.sampling import (
        weighted_systematic_sample as _wss,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_toks"),
    )
    out = _wss(docs, "n_toks", step=1000)
    return out.select(
        "doc_id", "lang", "n_toks", F.col("w_start").cast("bigint").alias("w_start")
    )


# ===========================================================================
# Deterministic key-hash sampling — repeatable corpus sampling: the
# in/out decision is a pure function of the row key (md5-derived), so the
# sample is stable under re-partitioning, reruns, and engine choice,
# unlike seed-based df.sample. Narrow filter, no shuffle, pushed to scan.
# ===========================================================================

_H60_SPACE_SQL = "1152921504606846976.0"  # 2^60


@_register(
    "weighted_sample_es_topk",
    f"""
    WITH keyed AS (
      SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
             ln(({_h60_sql("concat('es', CAST(doc_id AS VARCHAR))")} + 1)
                / {_H60_SPACE_SQL})
               / CAST(n_chars AS DOUBLE) AS k
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, lang, n_chars,
           CAST(floor(k * 1000000000.0 + 0.5) AS BIGINT) AS es_key_e9
    FROM keyed
    ORDER BY k DESC, doc_id
    LIMIT 20
    """,
    "sampling: weighted sample without replacement via exponential keys "
    "(Efraimidis-Spirakis IPL 2006; RNG-free; no reference counterpart)",
    "top-20 docs by ln(u)/w with u from the md5 key hash and w = "
    "n_chars — the one-pass weighted-reservoir primitive, planned as "
    "TakeOrderedAndProject (per-partition heap, never a global sort)",
)
def weighted_sample_es_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.sampling import (
        weighted_sample_without_replacement,
    )

    return weighted_sample_without_replacement(
        _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars"),
        weight_col="n_chars",
        k=20,
    ).select("doc_id", "lang", F.col("n_chars").cast("bigint").alias("n_chars"), "es_key_e9")


@_register(
    "sample_events_hash",
    f"""
    SELECT event_id, user_id, event_type,
           epoch_us(ts) // 1000000 AS ts_s, value
    FROM events
    WHERE {_h60_sql("CAST(event_id AS VARCHAR)")} / {_H60_SPACE_SQL} < 0.1
    """,
    "sampling: deterministic key-hash Bernoulli (no reference counterpart)",
    "~10% of events by md5 key hash — re-partition/engine/rerun-stable sample",
)
def sample_events_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.sampling import hash_sample

    ev = _t(spark, sf_dir, "events")
    return hash_sample(ev, "event_id", 0.1).select(
        "event_id",
        "user_id",
        "event_type",
        _epoch_s("ts").alias("ts_s"),
        "value",
    )


@_register(
    "sample_events_stratified",
    f"""
    WITH f AS (
      SELECT *, CASE event_type WHEN 'click' THEN 0.5
                                WHEN 'view' THEN 0.05
                                ELSE 0.2 END AS frac
      FROM events
    )
    SELECT event_id, event_type
    FROM f
    WHERE {_h60_sql("concat('strat', CAST(event_id AS VARCHAR))")} / {_H60_SPACE_SQL} < frac
    """,
    "sampling: stratified per-class fractions (no reference counterpart)",
    "per-event_type sampling fractions via literal map, deterministic by key hash",
)
def sample_events_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.sampling import (
        stratified_hash_sample,
    )

    ev = _t(spark, sf_dir, "events")
    return stratified_hash_sample(
        ev,
        strata_col="event_type",
        fractions={"click": 0.5, "view": 0.05},
        key_col="event_id",
        default_fraction=0.2,
        salt="strat",
    ).select("event_id", "event_type")
