"""Point-in-time enrichment/state lookup, Holt linear, embedding quality, banded Theil-Sen, trigrams, Zipf fit, MERGE upsert, IVF centroid refresh, sorted-neighborhood, skylines.

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

from .battery_core import (
    _cents,
    _epoch_s,
    _fdiv,
    _fdiv_col,
    _r,
    _register,
    _sql_r,
    _t,
)
from .battery_embeddings import (
    IVF_CENTROIDS,
    _EMB_DIM,
    _IVF_CELL_CASE,
    _IVF_D_COLS,
    _IVF_LEAST,
    _centroid_sql,
)
from .battery_multimodal_streaming import _drain, _stage_events_ordered




# ===========================================================================
# Streaming point-in-time enrichment — the feature-store serve path:
# the purchase STREAM joins the precomputed SCD2 lifecycle-interval dim
# (the pit_state_lookup batch twin) per micro-batch, with the
# [valid_from, valid_to) containment band as the join condition.
# Stream-static joins re-broadcast the dim each micro-batch, which is
# exactly how a production feature store serves slowly-changing
# features to a live stream while the batch path rebuilds the dim —
# batch and stream literally share the interval-build expressions. The
# replay spans two micro-batches (ordered file staging), so the join
# provably runs per-batch, not once. Oracle: identical to the batch
# point-in-time join restricted to the same output columns.
# ===========================================================================

@_register(
    "streaming_pit_enrich",
    """
    WITH lc AS (
      SELECT user_id, ts, event_id, event_type FROM events
      WHERE event_type IN ('signup', 'error')),
    flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM lc
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    isl AS (
      SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged),
    runs AS (
      SELECT user_id, island, min(event_type) AS state,
             CAST(epoch_us(min(ts)) // 1000000 AS BIGINT) AS vf
      FROM isl GROUP BY user_id, island),
    iv AS (
      SELECT user_id, state, vf,
             lead(vf) OVER (PARTITION BY user_id ORDER BY island) AS vt
      FROM runs),
    p AS (
      SELECT user_id, event_id,
             CAST(epoch_us(ts) // 1000000 AS BIGINT) AS ts_s
      FROM events WHERE event_type = 'purchase')
    SELECT p.user_id, p.event_id, p.ts_s, iv.state
    FROM p JOIN iv
      ON iv.user_id = p.user_id
     AND p.ts_s >= iv.vf AND (iv.vt IS NULL OR p.ts_s < iv.vt)
    """,
    "streaming point-in-time dim join (feature-store serve path; "
    "batch twin: pit_state_lookup)",
    "purchase stream enriched per micro-batch with the user's SCD2 "
    "lifecycle state interval containing the event time (inner: "
    "pre-lifecycle purchases drop)",
)
def streaming_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.scd import (
        scd2_intervals,
    )

    ev = _t(spark, sf_dir, "events")
    iv = scd2_intervals(
        ev.filter(F.col("event_type").isin("signup", "error")),
        key_col="user_id",
        ts_col="ts",
        attr_col="event_type",
        tiebreak_col="event_id",
    ).select(
        F.col("user_id").alias("d_user"),
        F.col("event_type").alias("state"),
        _epoch_s("valid_from").alias("vf"),
        _epoch_s("valid_to").alias("vt"),
    )
    schema, stage = _stage_events_ordered(spark, sf_dir, n_files=2)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    probes = stream.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        F.unix_timestamp("event_time").cast("bigint").alias("ts_s"),
    )
    joined = probes.join(
        F.broadcast(iv),
        (probes["user_id"] == iv["d_user"])
        & (probes["ts_s"] >= iv["vf"])
        & (iv["vt"].isNull() | (probes["ts_s"] < iv["vt"])),
    )
    out = _drain(joined, "append")
    return out.select("user_id", "event_id", "ts_s", "state")


# ===========================================================================
# Holt linear smoothing — the trend-aware sibling of ewma_user_value
# and the engine's second DESIGNED Arrow recurrence: level+trend double
# exponential smoothing is sequential and non-associative (no window or
# aggregate expresses it), so it runs as the same batched mapInPandas
# crossing, bit-identical to a recursive-CTE oracle carrying (level,
# trend) state. alpha=0.5 / beta=0.25 are binary-exact doubles; every
# step is the same IEEE op sequence on both engines — UNROUNDED doubles
# hash-match, the strongest determinism statement in the battery.
# ===========================================================================

@_register(
    "holt_linear_user_value",
    """
    WITH RECURSIVE seq AS (
      SELECT user_id, CAST(value AS DOUBLE) AS value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    h AS (
      SELECT user_id, rn, value AS l, CAST(0.0 AS DOUBLE) AS b
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s2.user_id, s2.rn,
             0.5 * s2.value + 0.5 * (h.l + h.b),
             0.25 * ((0.5 * s2.value + 0.5 * (h.l + h.b)) - h.l)
               + 0.75 * h.b
      FROM h JOIN seq s2 ON s2.user_id = h.user_id AND s2.rn = h.rn + 1
    )
    SELECT user_id, CAST(rn AS BIGINT) AS n_events,
           l AS level_last, b AS trend_last, l + b AS forecast_1
    FROM h
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY rn DESC) = 1
    """,
    "stateful sequential op: per-key Holt linear smoothing via batched "
    "Arrow mapInPandas (bit-identical to the recursive-CTE oracle, "
    "unrounded)",
    "per-user Holt level/trend (alpha 0.5, beta 0.25) over "
    "(ts, event_id)-ordered values; final state + one-step forecast",
)
def holt_linear_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.features import holt_by_key

    return holt_by_key(
        _t(spark, sf_dir, "events"),
        "user_id",
        ["ts", "event_id"],
        "value",
        alpha=0.5,
        beta=0.25,
    )


# ===========================================================================
# Embedding-quality audit — the pre-ingest data-quality gate for vector
# columns: per label, how many vectors are present, how many are
# all-zero (dead encoder outputs poison cosine math downstream — the
# norm divides by zero), how many have the wrong dimensionality, and
# the exact norm² envelope. Per-vector norm² is a SEQUENTIAL
# left-to-right fold (`similarity.dot`'s order-stable discipline /
# DuckDB list_sum over list_transform), snapped to e6 integers per
# vector so every per-label aggregate is exact bigint arithmetic. One
# narrow projection + one map-side-combined aggregate — scan-speed.
# ===========================================================================

@_register(
    "embedding_quality_audit",
    f"""
    WITH v AS (
      SELECT label,
             len(embedding) AS dim,
             CAST(floor(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
                  * 1000000.0 + 0.5) AS BIGINT) AS norm2_e6
      FROM embeddings)
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CASE WHEN norm2_e6 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero_vecs,
           CAST(sum(CASE WHEN dim <> {_EMB_DIM} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dim_errors,
           CAST(min(norm2_e6) AS BIGINT) AS min_norm2_e6,
           CAST(max(norm2_e6) AS BIGINT) AS max_norm2_e6,
           CAST(sum(norm2_e6) AS BIGINT) AS sum_norm2_e6
    FROM v GROUP BY label
    """,
    "similarity: per-label embedding data-quality audit (zero-vector / "
    "dim-error counts, exact e6 norm-squared envelope)",
    "per label: vector count, all-zero count, wrong-dimension count, "
    "min/max/sum of e6-snapped norm-squared",
)
def embedding_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.similarity import dot

    emb = _t(spark, sf_dir, "embeddings")
    vd = F.col("embedding").cast("array<double>")
    v = emb.select(
        "label",
        F.size("embedding").alias("dim"),
        F.floor(dot(vd, vd) * 1e6 + 0.5).cast("bigint").alias("norm2_e6"),
    )
    return v.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.sum(F.when(F.col("norm2_e6") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero_vecs"),
        F.sum(F.when(F.col("dim") != _EMB_DIM, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dim_errors"),
        F.min("norm2_e6").cast("bigint").alias("min_norm2_e6"),
        F.max("norm2_e6").cast("bigint").alias("max_norm2_e6"),
        F.sum("norm2_e6").cast("bigint").alias("sum_norm2_e6"),
    )


# ===========================================================================
# Banded repeated-median Theil-Sen — the SCALE-CAPPED robust trend the
# heavy-key guard's error message points at: instead of all O(n²) pairs
# per key, each point pairs only with its K=16 nearest-in-time
# successors. The successor rank is IN the equi-join key (each row
# explodes into its K target ranks), so the join produces exactly the
# O(n·K) banded pairs on every engine — a residual band filter on a
# plain user_id join would still touch all n² same-key pairs. Then
# median-of-medians: per-point median slope over its ≤K partners,
# per-user median of those medians. The repeated median keeps the 50%
# breakdown robustness; the band keeps a 10⁶-row key at 1.6·10⁷ pairs
# instead of 5·10¹¹ — this entry is the documented fallback for inputs
# the plain Theil-Sen guard rejects, so it takes NO guard itself.
# Determinism: both medians select pinned middle elements over
# (slope, event-id) total orders; slope doubles derive from identical
# bigint cents/seconds; the ≤2-element averages are fixed-order.
# ===========================================================================

_TS_BAND_K = 16


@_register(
    "theil_sen_banded",
    f"""
    WITH e AS (
      SELECT user_id, event_id,
             CAST(epoch_us(ts) // 1000000 AS BIGINT) AS t,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    p AS (
      SELECT a.user_id, a.event_id AS ea, b.event_id AS eb,
             1.0 * (b.c - a.c) / (b.t - a.t) AS slope
      FROM (SELECT e.*, e.rn + d.i AS target
            FROM e CROSS JOIN range(1, {_TS_BAND_K} + 1) d(i)) a
      JOIN e b
        ON a.user_id = b.user_id AND b.rn = a.target
       AND b.t > a.t),
    r1 AS (
      SELECT user_id, ea, slope,
             row_number() OVER (PARTITION BY user_id, ea
                                ORDER BY slope, eb) AS sr,
             count(*) OVER (PARTITION BY user_id, ea) AS sn
      FROM p),
    med1 AS (
      SELECT user_id, ea, avg(slope) AS mslope
      FROM r1
      WHERE sr = CAST(floor((sn + 1) / 2.0) AS BIGINT)
         OR sr = CAST(floor((sn + 2) / 2.0) AS BIGINT)
      GROUP BY user_id, ea),
    r2 AS (
      SELECT user_id, mslope,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY mslope, ea) AS mr,
             count(*) OVER (PARTITION BY user_id) AS mn
      FROM med1)
    SELECT user_id, CAST(max(mn) AS BIGINT) AS n_points,
           {_sql_r('avg(mslope)', 9)} AS ts_slope_banded
    FROM r2
    WHERE mr = CAST(floor((mn + 1) / 2.0) AS BIGINT)
       OR mr = CAST(floor((mn + 2) / 2.0) AS BIGINT)
    GROUP BY user_id
    """,
    "analytics: banded repeated-median Theil-Sen (K-nearest-successor "
    "band -> O(nK) pairs; the scale-capped fallback for heavy keys)",
    "per user: point count and the 9dp repeated-median slope over "
    f"{_TS_BAND_K}-successor bands (cents/second)",
)
def theil_sen_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = ev.select(
        "user_id",
        "event_id",
        _epoch_s("ts").alias("t"),
        _cents(F.col("value")).alias("c"),
        F.row_number().over(wseq).alias("rn"),
    )
    # the successor RANK is part of the equi-join key (each left row
    # explodes into its K target ranks), so the join PRODUCES only the
    # O(n·K) banded pairs — a residual `rb - ra <= K` filter on a plain
    # user_id join would still touch all n² same-key pairs
    a = e.select(
        "user_id",
        F.col("event_id").alias("ea"),
        F.col("t").alias("ta"),
        F.col("c").alias("ca"),
        F.explode(
            F.sequence(F.col("rn") + 1, F.col("rn") + _TS_BAND_K)
        ).alias("target"),
    )
    b = e.select(
        "user_id",
        F.col("event_id").alias("eb"),
        F.col("t").alias("tb"),
        F.col("c").alias("cb"),
        F.col("rn").alias("target"),
    )
    p = (
        a.join(b, ["user_id", "target"])
        .filter(F.col("tb") > F.col("ta"))
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
    w1o = Window.partitionBy("user_id", "ea").orderBy("slope", "eb")
    w1n = Window.partitionBy("user_id", "ea")
    r1 = p.select(
        "user_id",
        "ea",
        "slope",
        F.row_number().over(w1o).alias("sr"),
        F.count("*").over(w1n).alias("sn"),
    )
    smid1 = F.floor((F.col("sn") + 1) / F.lit(2.0)).cast("bigint")
    smid2 = F.floor((F.col("sn") + 2) / F.lit(2.0)).cast("bigint")
    med1 = (
        r1.filter((F.col("sr") == smid1) | (F.col("sr") == smid2))
        .groupBy("user_id", "ea")
        .agg(F.avg("slope").alias("mslope"))
    )
    w2o = Window.partitionBy("user_id").orderBy("mslope", "ea")
    w2n = Window.partitionBy("user_id")
    r2 = med1.select(
        "user_id",
        "mslope",
        F.row_number().over(w2o).alias("mr"),
        F.count("*").over(w2n).alias("mn"),
    )
    mmid1 = F.floor((F.col("mn") + 1) / F.lit(2.0)).cast("bigint")
    mmid2 = F.floor((F.col("mn") + 2) / F.lit(2.0)).cast("bigint")
    return (
        r2.filter((F.col("mr") == mmid1) | (F.col("mr") == mmid2))
        .groupBy("user_id")
        .agg(
            F.max("mn").cast("bigint").alias("n_points"),
            _r(F.avg("mslope"), 9).alias("ts_slope_banded"),
        )
    )


# ===========================================================================
# Point-in-time state lookup — the feature-store temporal join: for
# every purchase, what lifecycle state (last signup/error run) was the
# user in AT that moment? The dimension side is SCD2 validity intervals
# built from the non-purchase lifecycle events (the scd2_intervals
# operator over a filtered stream); the probe side left-joins on
# user_id + a containment band ts ∈ [valid_from, valid_to) — intervals
# partition each user's timeline, so exactly one (or zero, before the
# first lifecycle event) interval matches per probe: no row explosion
# by construction. Scale shape: the user-keyed equi-join carries the
# band as a residual filter (both sides bounded per user — the same
# per-key contract the heavy-key guard enforces for the pair joins);
# training pipelines run exactly this shape to attach
# as-of-event-time features without leakage from the future.
# ===========================================================================

@_register(
    "pit_state_lookup",
    """
    WITH lc AS (
      SELECT user_id, ts, event_id, event_type FROM events
      WHERE event_type IN ('signup', 'error')),
    flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM lc
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    isl AS (
      SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged),
    runs AS (
      SELECT user_id, island, min(event_type) AS state,
             CAST(epoch_us(min(ts)) // 1000000 AS BIGINT) AS vf
      FROM isl GROUP BY user_id, island),
    iv AS (
      SELECT user_id, state, vf,
             lead(vf) OVER (PARTITION BY user_id ORDER BY island) AS vt
      FROM runs),
    p AS (
      SELECT user_id, event_id,
             CAST(epoch_us(ts) // 1000000 AS BIGINT) AS ts_s
      FROM events WHERE event_type = 'purchase')
    SELECT p.user_id, p.event_id, p.ts_s, iv.state,
           CAST(p.ts_s - iv.vf AS BIGINT) AS state_age_s
    FROM p LEFT JOIN iv
      ON iv.user_id = p.user_id
     AND p.ts_s >= iv.vf AND (iv.vt IS NULL OR p.ts_s < iv.vt)
    """,
    "warehouse: point-in-time SCD2 state lookup for purchases "
    "(leakage-free as-of-event-time feature join)",
    "per purchase: the user's lifecycle state interval containing the "
    "purchase time (null before the first lifecycle event) and state "
    "age in seconds",
)
def pit_state_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.scd import (
        scd2_intervals,
    )

    ev = _t(spark, sf_dir, "events")
    iv = scd2_intervals(
        ev.filter(F.col("event_type").isin("signup", "error")),
        key_col="user_id",
        ts_col="ts",
        attr_col="event_type",
        tiebreak_col="event_id",
    ).select(
        "user_id",
        F.col("event_type").alias("state"),
        _epoch_s("valid_from").alias("vf"),
        _epoch_s("valid_to").alias("vt"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", _epoch_s("ts").alias("ts_s")
    )
    return p.join(
        iv,
        (p["user_id"] == iv["user_id"])
        & (p["ts_s"] >= iv["vf"])
        & (iv["vt"].isNull() | (p["ts_s"] < iv["vt"])),
        "left",
    ).select(
        p["user_id"],
        "event_id",
        "ts_s",
        "state",
        (F.col("ts_s") - F.col("vf")).cast("bigint").alias("state_age_s"),
    )


# ===========================================================================
# Frequent event trigrams — sequential pattern mining, order 2: the
# top-20 3-step behavior sequences across all users (the "what do users
# actually do" readout clickstream teams pull before funnel design, and
# the second-order extension of event_transition_matrix's Markov
# bigrams). Sequences are per-user event streams ordered by the pinned
# (ts, event_id) total order; two lead() windows share ONE user-keyed
# sort pass, the trigram aggregate is map-side combined, and the global
# top-20 ranks over the ≤|types|³ aggregate (125 cells here) — never
# over raw rows. Support fraction is 9dp-rounded from exact bigints.
# ===========================================================================

@_register(
    "frequent_event_trigrams",
    f"""
    WITH seq AS (
      SELECT event_type AS t1,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    tri AS (
      SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE t3 IS NOT NULL
      GROUP BY t1, t2, t3),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM tri)
    SELECT t1, t2, t3, n,
           {_sql_r('CAST(n AS DOUBLE) / total', 9)} AS support,
           rank FROM (
      SELECT tri.*, tot.total,
             CAST(row_number() OVER (ORDER BY n DESC, t1, t2, t3)
                  AS INT) AS rank
      FROM tri CROSS JOIN tot)
    WHERE rank <= 20
    """,
    "analytics: top-20 frequent 3-step event sequences (order-2 "
    "sequential patterns; shared window sort, cell-bounded ranking)",
    "top-20 user-behavior trigrams by count with 9dp support fraction "
    "and pinned (count desc, lexicographic) rank",
)
def frequent_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    tri = (
        seq.filter(F.col("t3").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    tot = tri.agg(F.sum("n").cast("bigint").alias("total"))
    wr = Window.orderBy(F.desc("n"), "t1", "t2", "t3")
    return (
        tri.crossJoin(F.broadcast(tot))
        .withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= 20)
        .select(
            "t1", "t2", "t3", "n",
            _r(F.col("n").cast("double") / F.col("total"), 9).alias(
                "support"
            ),
            "rank",
        )
    )


# ===========================================================================
# Zipf rank-frequency fit — the corpus-health diagnostic: natural text
# follows freq ∝ rank^(−s) with s ≈ 1; a corpus whose fitted slope
# deviates hard (template spam, boilerplate floods, truncated vocab)
# fails the gate. Fit: OLS of ln(freq) on ln(rank) over the full term
# frequency table, both logs snapped to integer micro-nats FIRST so the
# five OLS moments are exact integer sums (the user_trend_ols
# discipline — no float accumulation-order drift; the second moments
# accumulate in decimal(38,0)/hugeint since x·y wraps int64 near
# V≈54k), then one scalar Cramer solve. Rank ties pin on term so both
# engines rank identically.
# Scale shape: term aggregate (one shuffle) → global rank window over
# the VOCABULARY (not the corpus) → one map-side-combined moment
# aggregate.
# ===========================================================================

@_register(
    "zipf_rank_frequency_fit",
    f"""
    WITH tf AS (
      SELECT term, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT unnest(string_split(text, ' ')) AS term
            FROM documents)
      GROUP BY term),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, term) AS r FROM tf),
    pts AS (
      SELECT CAST(floor(ln(r) * 1000000.0 + 0.5) AS BIGINT) AS x,
             CAST(floor(ln(c) * 1000000.0 + 0.5) AS BIGINT) AS y
      FROM ranked),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             sum(CAST(x AS HUGEINT) * y) AS sxy,
             sum(CAST(x AS HUGEINT) * x) AS sxx
      FROM pts)
    SELECT n AS vocab_size,
           {_sql_r(
               '(1.0 * n * sxy - 1.0 * sx * sy)'
               ' / (1.0 * n * sxx - 1.0 * sx * sx)', 6)} AS zipf_slope,
           {_sql_r(
               '(1.0 * sy - ((1.0 * n * sxy - 1.0 * sx * sy)'
               ' / (1.0 * n * sxx - 1.0 * sx * sx)) * sx)'
               ' / n / 1000000.0', 6)} AS ln_intercept
    FROM m
    """,
    "textops: Zipf rank-frequency OLS fit (micro-nat-snapped log-log "
    "points, exact bigint moments, scalar Cramer solve)",
    "one row: vocabulary size, fitted Zipf slope (≈−1 for natural "
    "text), and ln-space intercept, 6dp",
)
def zipf_rank_frequency_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    # r7: distributed two-phase rank (see gini_order_concentration) —
    # the vocab grows with the corpus, so the partition-less window's
    # one-task sort is the wrong shape at 100 TB
    from sports_data_integration_and_forecasting_pipeline_spark.operators.parallelism import (
        global_row_number,
    )

    ranked = global_row_number(
        tf,
        [F.col("c").desc(), F.col("term")],
        rank_col="r",
        cache_role="zipf_rank",
    ).select("c", "r")
    pts = ranked.select(
        F.floor(F.log(F.col("r").cast("double")) * 1e6 + 0.5)
        .cast("bigint")
        .alias("x"),
        F.floor(F.log(F.col("c").cast("double")) * 1e6 + 0.5)
        .cast("bigint")
        .alias("y"),
    )
    # second-moment sums accumulate in decimal(38,0) (DuckDB: hugeint):
    # x·y ≈ (ln V · 1e6)² ≈ 1.7e14 per term, so a bigint sum wraps near
    # V ≈ 54k — the gini_order_concentration wide-integer discipline
    xd = F.col("x").cast("decimal(18,0)")
    m = pts.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(xd * F.col("y").cast("decimal(18,0)")).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
    )
    slope = (
        F.lit(1.0) * F.col("n") * F.col("sxy")
        - F.lit(1.0) * F.col("sx") * F.col("sy")
    ) / (
        F.lit(1.0) * F.col("n") * F.col("sxx")
        - F.lit(1.0) * F.col("sx") * F.col("sx")
    )
    return m.select(
        F.col("n").alias("vocab_size"),
        _r(slope, 6).alias("zipf_slope"),
        _r(
            (F.lit(1.0) * F.col("sy") - slope * F.col("sx"))
            / F.col("n")
            / F.lit(1e6),
            6,
        ).alias("ln_intercept"),
    )


# ===========================================================================
# MERGE INTO (lakehouse upsert) — new operator family, r7 (VERDICT r6
# task 8 named it). A deterministic keyed change batch (updates,
# deletes, inserts derived from the orders table itself by disjoint
# key-residue classes) is MERGEd into the orders snapshot via
# operators/merge.py: matched+update replaces the payload,
# matched+delete drops the row, unmatched insert appends, everything
# else carries. Scale shape: the source is change-batch sized and
# BROADCAST, so the 100 TB target is scanned (twice — outer leg +
# insert-key discovery) but never shuffled; source-key uniqueness and
# batch size are enforced fail-loud preconditions. The oracle mirrors
# the legs with NOT-IN anti joins (DuckDB 1.0.0 has no MERGE).
# ===========================================================================

@_register(
    "merge_upsert_orders",
    """
    WITH t AS (
      SELECT o_orderkey AS k, o_orderstatus AS st,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS pc,
             o_orderpriority AS pr
      FROM orders),
    src AS (
      SELECT 'update' AS op, k, 'U' AS st, pc + 500 AS pc, pr
      FROM t WHERE k % 97 = 0
      UNION ALL
      SELECT 'delete', k, NULL, NULL, NULL FROM t WHERE k % 97 = 1
      UNION ALL
      SELECT 'insert', k + 900000000, 'N', pc, pr FROM t WHERE k % 97 = 2
    ),
    carry AS (
      SELECT t.k, t.st, t.pc, t.pr, 'carry' AS merge_action FROM t
      WHERE t.k NOT IN (SELECT k FROM src WHERE op IN ('update', 'delete'))
    ),
    upd AS (
      SELECT s.k, s.st, s.pc, s.pr, 'update' AS merge_action
      FROM src s JOIN t USING (k) WHERE s.op = 'update'
    ),
    ins AS (
      SELECT s.k, s.st, s.pc, s.pr, 'insert' AS merge_action
      FROM src s
      WHERE s.op = 'insert' AND s.k NOT IN (SELECT k FROM t)
    )
    SELECT k AS o_orderkey, st AS o_orderstatus, pc AS price_cents,
           pr AS o_orderpriority, merge_action
    FROM (SELECT * FROM carry
          UNION ALL SELECT * FROM upd
          UNION ALL SELECT * FROM ins)
    """,
    "lakehouse: MERGE INTO upsert (broadcast change batch; no "
    "reference counterpart — the reference only appends snapshots)",
    "orders snapshot after merging a deterministic keyed change batch "
    "(update/delete/insert by key-residue class), with per-row action",
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.merge import merge_into

    t = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        _cents(F.col("o_totalprice")).alias("pc"),
        F.col("o_orderpriority").alias("pr"),
    )
    upd = t.filter(F.col("k") % 97 == 0).select(
        F.lit("update").alias("op"),
        "k",
        F.lit("U").alias("st"),
        (F.col("pc") + 500).alias("pc"),
        "pr",
    )
    dele = t.filter(F.col("k") % 97 == 1).select(
        F.lit("delete").alias("op"),
        "k",
        F.lit(None).cast("string").alias("st"),
        F.lit(None).cast("long").alias("pc"),
        F.lit(None).cast("string").alias("pr"),
    )
    ins = t.filter(F.col("k") % 97 == 2).select(
        F.lit("insert").alias("op"),
        (F.col("k") + 900_000_000).alias("k"),
        F.lit("N").alias("st"),
        "pc",
        "pr",
    )
    merged = merge_into(
        t, upd.unionByName(dele).unionByName(ins), ["k"]
    )
    return merged.select(
        F.col("k").alias("o_orderkey"),
        F.col("st").alias("o_orderstatus"),
        F.col("pc").alias("price_cents"),
        F.col("pr").alias("o_orderpriority"),
        "merge_action",
    )


# ===========================================================================
# Windowed ANN-index refresh — new operator family, r7 (VERDICT r6
# task 8 named it). One arriving window of vectors (a key-residue slice
# of embeddings) is folded into the PRETRAINED IVF coarse quantizer:
# assign each window vector to its nearest pinned centroid (pure
# Column expression, shuffle-free), then per (cell, dim) the refreshed
# component is the prior-weighted mean of old centroid and new members
# in EXACT integer e6 space (truncating DIV — DuckDB `//` semantics;
# components are negative-capable so floor-div would diverge). Cells
# with no arrivals refresh to exactly themselves, so the output is the
# full 16×64 quantizer state. Nothing scales with corpus size — only
# with the window; the (cell,pos) partial-sum shuffle is ≤ 1024 rows.
# ===========================================================================

_IVF_W0 = 100  # prior weight: old centroid counts as this many members

_IVF_GRID_SQL = " UNION ALL ".join(
    f"SELECT {i} AS cell, p.i AS pos, "
    f"CAST(floor(({_centroid_sql(c)})[p.i::INT] * 1000000.0 + 0.5) "
    f"AS BIGINT) AS c_e6 FROM range(1, {_EMB_DIM + 1}) p(i)"
    for i, c in enumerate(IVF_CENTROIDS)
)


@_register(
    "ivf_centroid_refresh",
    f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id % 10 = 7),
    d AS (SELECT vec_id, v, {_IVF_D_COLS} FROM e),
    a AS (SELECT vec_id, v, {_IVF_CELL_CASE} AS cell
          FROM (SELECT *, {_IVF_LEAST} AS m FROM d)),
    lng AS (
      SELECT cell, p.i AS pos,
             CAST(floor(v[p.i::INT] * 1000000.0 + 0.5) AS BIGINT) AS v_e6
      FROM a CROSS JOIN range(1, {_EMB_DIM + 1}) p(i)),
    agg AS (SELECT cell, pos, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(v_e6) AS BIGINT) AS s
            FROM lng GROUP BY cell, pos),
    grid AS ({_IVF_GRID_SQL})
    SELECT g.cell, g.pos,
           CAST(coalesce(a.n, 0) AS BIGINT) AS n_new,
           CAST(({_IVF_W0} * g.c_e6 + coalesce(a.s, 0))
                // ({_IVF_W0} + coalesce(a.n, 0)) AS BIGINT) AS refreshed_e6
    FROM grid g LEFT JOIN agg a USING (cell, pos)
    """,
    "vector-index maintenance: windowed IVF quantizer refresh "
    "(prior-weighted integer-exact centroid update; no reference "
    "counterpart)",
    "full 16-cell × 64-dim IVF quantizer state after folding the "
    "vec_id%10=7 window in (e6-exact prior-weighted means)",
)
def ivf_centroid_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.similarity import (
        ivf_centroid_refresh as _refresh,
    )

    return _refresh(
        _t(spark, sf_dir, "embeddings"),
        centers=IVF_CENTROIDS,
        batch_pred=F.col("vec_id") % 10 == 7,
        prior_weight=_IVF_W0,
    )


# ===========================================================================
# Sorted-neighborhood dedup — the sixth blocking family (merge/purge,
# Hernández & Stolfo SIGMOD '95), r7: sort the corpus ONCE on a
# normalized 40-char prefix key, pair each doc only with its 4
# successors in the total order, then verify candidates with edit
# distance over the capped 80-char head (levenshtein is byte-identical
# in Spark and DuckDB on this ASCII corpus — probed before adoption).
# Complements the hash families: prefix-perturbed near-dups sort
# adjacently and are found at 4n pairs; dups whose heads diverge sort
# apart and are deliberately left to MinHash/SimHash — SNM is a
# blocker, not a recall guarantee. Scale shape (see
# operators/dedup.py:sorted_neighborhood_candidates): parallel range
# exchange, then ONE persisted per-partition window pass whose lead()s
# ARE the intra-partition pairs — no join touches the corpus; only the
# O(w·P) partition-boundary fix-up joins, over a partition-COUNT-sized
# subset. Exactly O(n·w) pairs, skew-impossible (ranks unique), verify
# is a constant-cost expression per pair. sf0.1→sf1 probe: flat
# (2.46 → 2.50 s at 10× the docs).
# ===========================================================================

_SNM_WINDOW = 4
_SNM_LEV_MAX = 8


@_register(
    "dedup_sorted_neighborhood",
    f"""
    WITH k AS (
      SELECT doc_id, text,
             regexp_replace(lower(substr(text, 1, 40)),
                            '[^a-z0-9]', '', 'g') AS sk
      FROM documents),
    r AS (
      SELECT doc_id, text,
             row_number() OVER (ORDER BY sk, doc_id) AS i
      FROM k),
    c AS (
      SELECT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id,
             CAST(b.i - a.i AS BIGINT) AS rank_gap,
             CAST(levenshtein(substr(a.text, 1, 80),
                              substr(b.text, 1, 80)) AS BIGINT) AS lev
      FROM (SELECT r.*, r.i + d.o AS target
            FROM r CROSS JOIN range(1, {_SNM_WINDOW} + 1) d(o)) a
      JOIN r b ON b.i = a.target)
    SELECT a_doc_id, b_doc_id, rank_gap, lev
    FROM c WHERE lev <= {_SNM_LEV_MAX}
    """,
    "dedup: sorted-neighborhood blocking (distributed global sort + "
    "rank-banded pair join + capped-edit-distance verify; no reference "
    "counterpart)",
    f"near-dup doc pairs within {_SNM_WINDOW} successors in "
    f"normalized-prefix sort order, verified at levenshtein <= "
    f"{_SNM_LEV_MAX} over 80-char heads",
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        sorted_neighborhood_candidates,
    )

    # only the 80-char head rides the sort/persist/pair path — the
    # verify never reads past it, and the full text would quadruple the
    # bytes the window pass moves and caches per row
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring("text", 1, 80).alias("head"),
        F.regexp_replace(
            F.lower(F.substring("text", 1, 40)), "[^a-z0-9]", ""
        ).alias("sk"),
    )
    cand = sorted_neighborhood_candidates(
        docs,
        ["sk", "doc_id"],
        window=_SNM_WINDOW,
        id_col="doc_id",
        payload_cols=("head",),
        cache_role="snm_rank",
    )
    lev = F.levenshtein(F.col("a_head"), F.col("b_head"))
    return (
        cand.withColumn("lev", lev.cast("bigint"))
        .filter(F.col("lev") <= _SNM_LEV_MAX)
        .select("a_doc_id", "b_doc_id", "rank_gap", "lev")
    )


# ===========================================================================
# Skyline / Pareto-frontier query — new operator family, r7 (Börzsönyi
# et al. ICDE '01; no reference counterpart): the non-dominated set
# under multi-criteria minimization, the OLAP primitive behind "show me
# every option that isn't strictly worse than another". Here: the
# fast-AND-cheap supplier frontier — a supplier survives iff no other
# supplier is at-most-equal on BOTH mean ship latency and mean item
# price with at least one strict. Both means are exact truncating-DIV
# integers (e6 days / cents), so dominance compares bigints on both
# engines. The oracle keeps the textbook NOT EXISTS pair form; the
# engine runs the 2D reduction (operators/parallelism.py:
# pareto_frontier_2d): per-x min + distributed EXCLUSIVE prefix-min +
# one equi-join — O(n) work and zero pair joins where the naive form
# is O(n²), identical rows by construction.
# ===========================================================================

@_register(
    "skyline_supplier_frontier",
    """
    WITH j AS (
      SELECT l.l_suppkey AS suppkey,
             CAST(epoch_us(l.l_shipdate) // 1000000 // 86400
                  - epoch_us(o.o_orderdate) // 1000000 // 86400
                  AS BIGINT) AS days,
             CAST(floor(l.l_extendedprice * 100.0 + 0.5) AS BIGINT)
               AS cents
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    s AS (
      SELECT suppkey, CAST(count(*) AS BIGINT) AS n_lines,
             CAST((1000000 * sum(days)) // count(*) AS BIGINT) AS lat_e6,
             CAST(sum(cents) // count(*) AS BIGINT) AS price_c
      FROM j GROUP BY suppkey)
    SELECT q.suppkey, q.n_lines, q.lat_e6, q.price_c
    FROM s q
    WHERE NOT EXISTS (
      SELECT 1 FROM s p
      WHERE p.lat_e6 <= q.lat_e6 AND p.price_c <= q.price_c
        AND (p.lat_e6 < q.lat_e6 OR p.price_c < q.price_c))
    """,
    "analytics: 2D skyline / Pareto frontier (per-x min + distributed "
    "exclusive prefix-min; the oracle keeps the O(n^2) NOT EXISTS "
    "form; no reference counterpart)",
    "suppliers not dominated on (mean ship-latency e6-days, mean item "
    "price cents) — both exact truncating-DIV integers",
)
def skyline_supplier_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.parallelism import (
        pareto_frontier_2d,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_suppkey").alias("suppkey"),
        _fdiv(_epoch_s(F.col("l_shipdate")), 86_400).alias("ship_day"),
        _cents(F.col("l_extendedprice")).alias("cents"),
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        _fdiv(_epoch_s(F.col("o_orderdate")), 86_400).alias("order_day"),
    )
    s = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("suppkey")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.sum(F.col("ship_day") - F.col("order_day")).alias("sum_days"),
            F.sum("cents").alias("sum_cents"),
        )
        .select(
            "suppkey",
            "n_lines",
            _fdiv_col(
                F.lit(1_000_000) * F.col("sum_days"), F.col("n_lines")
            ).alias("lat_e6"),
            _fdiv_col(F.col("sum_cents"), F.col("n_lines")).alias(
                "price_c"
            ),
        )
    )
    return pareto_frontier_2d(s, "lat_e6", "price_c").select(
        "suppkey", "n_lines", "lat_e6", "price_c"
    )


# ===========================================================================
# k-dimensional skyline — the d ≥ 3 sibling of the 2D frontier, where
# dominance no longer collapses onto a prefix aggregate (no running
# min over one sort order can witness 3-way dominance). The engine
# runs the canonical divide-and-conquer skyline
# (operators/parallelism.py:pareto_frontier_kd): per-partition local
# skylines via a DESIGNED Arrow crossing (the sort-filter-skyline walk
# is inherently sequential, same contract as the EWMA/Holt
# recurrences), then the exact skyline of the partition-count-sized
# union. The oracle keeps the O(n²) NOT EXISTS pair form. Query: the
# cheap-small-fast order frontier — orders not dominated on (total
# price cents, item count, worst order-to-ship latency days), all
# exact bigints so dominance compares identically on both engines.
# ===========================================================================

@_register(
    "skyline_orders_3d",
    """
    WITH s AS (
      SELECT o.o_orderkey AS okey,
             CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT)
               AS price_c,
             CAST(count(*) AS BIGINT) AS n_items,
             CAST(max(epoch_us(l.l_shipdate) // 1000000 // 86400
                  - epoch_us(o.o_orderdate) // 1000000 // 86400)
               AS BIGINT) AS max_days
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_totalprice)
    SELECT q.okey, q.price_c, q.n_items, q.max_days
    FROM s q
    WHERE NOT EXISTS (
      SELECT 1 FROM s p
      WHERE p.price_c <= q.price_c AND p.n_items <= q.n_items
        AND p.max_days <= q.max_days
        AND (p.price_c < q.price_c OR p.n_items < q.n_items
             OR p.max_days < q.max_days))
    """,
    "analytics: 3D skyline via divide-and-conquer local skylines "
    "(designed Arrow crossing; oracle keeps the O(n^2) NOT EXISTS "
    "form; no reference counterpart)",
    "orders not dominated on (price cents, item count, worst ship "
    "latency days) — exact bigint dominance",
)
def skyline_orders_3d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.parallelism import (
        pareto_frontier_kd,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", _fdiv(_epoch_s(F.col("l_shipdate")), 86_400).alias("ship_day")
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        _cents(F.col("o_totalprice")).alias("price_c"),
        _fdiv(_epoch_s(F.col("o_orderdate")), 86_400).alias("order_day"),
    )
    s = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderkey", "price_c")
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            F.max(F.col("ship_day") - F.col("order_day"))
            .cast("bigint")
            .alias("max_days"),
        )
        .select(
            F.col("o_orderkey").alias("okey"),
            "price_c",
            "n_items",
            "max_days",
        )
    )
    return pareto_frontier_kd(s, ["price_c", "n_items", "max_days"])
