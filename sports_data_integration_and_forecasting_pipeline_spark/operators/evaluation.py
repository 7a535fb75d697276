"""Backtest + accuracy as aggregations (SURVEY §2.4 A11-A12).

The reference's backtest is a sequential Python fold over (prediction,
line) pairs (``src/evaluation.py:10-31``) — but with a constant stake the
fold is order-independent, so it is exactly one labeled projection plus one
global aggregation (SURVEY §2.4 A12). That turns an inherently serial loop
into a fully parallel map + partial-agg reduce: the shape that survives
100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .scoped import persist_scoped

STARTING_BANKROLL = 1000.0  # reference src/evaluation.py:16
STAKE = 10.0  # reference src/evaluation.py:17
THRESHOLD = 0.55  # reference src/evaluation.py:10


def label_bets(
    df: DataFrame,
    pred_col: str = "prediction",
    line_col: str = "market_line",
    threshold: float = THRESHOLD,
) -> DataFrame:
    """Per-bet outcome label — the reference's branch at
    ``src/evaluation.py:21-28``: win iff ``pred > line AND pred >
    threshold``; loss iff ``pred < line AND (1 − pred) > threshold``;
    else pass."""
    pred, line = F.col(pred_col), F.col(line_col)
    return df.withColumn(
        "bet",
        F.when((pred > line) & (pred > threshold), F.lit("win"))
        .when((pred < line) & ((1.0 - pred) > threshold), F.lit("loss"))
        .otherwise(F.lit("pass")),
    )


def backtest(
    df: DataFrame,
    pred_col: str = "prediction",
    line_col: str = "market_line",
    threshold: float = THRESHOLD,
    starting_bankroll: float = STARTING_BANKROLL,
    stake: float = STAKE,
) -> DataFrame:
    """Single-row result: ``wins, losses, passes, final_bankroll, roi``
    (reference ``src/evaluation.py:10-31``; the per-bet log is
    :func:`label_bets`)."""
    labeled = label_bets(df, pred_col, line_col, threshold)
    wins = F.sum((F.col("bet") == "win").cast("long")).alias("wins")
    losses = F.sum((F.col("bet") == "loss").cast("long")).alias("losses")
    passes = F.sum((F.col("bet") == "pass").cast("long")).alias("passes")
    agg = labeled.agg(wins, losses, passes)
    bankroll = (
        F.lit(starting_bankroll)
        + F.lit(stake) * F.col("wins")
        - F.lit(stake) * F.col("losses")
    )
    return agg.select(
        "wins",
        "losses",
        "passes",
        bankroll.alias("final_bankroll"),
        ((bankroll - starting_bankroll) / starting_bankroll).alias("roi"),
    )


def evaluate_accuracy(
    df: DataFrame, pred_col: str = "prediction", outcome_col: str = "outcome"
) -> DataFrame:
    """``mean((pred >= 0.5) == outcome)`` (reference
    ``src/evaluation.py:33-39``) as a single global avg."""
    correct = (
        (F.col(pred_col) >= 0.5) == (F.col(outcome_col).cast("double") == 1.0)
    ).cast("double")
    return df.agg(F.avg(correct).alias("accuracy"))


def rank_sum_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """ROC-AUC via the Mann-Whitney rank-sum identity — the standard
    audit for any model-based filter (is the quality classifier's score
    actually separating the classes, or is its threshold just a
    calibrated coin?): ``AUC = P(score_pos > score_neg) + 0.5 ·
    P(score_pos = score_neg)``, computed exactly from tied-average
    ranks, never from a plot.

    Exact integer discipline: per DISTINCT score the positive/negative
    counts aggregate map-side; the cumulative count below each score
    gives every tie group's doubled average rank ``2·r̄ = 2·cnt_lt +
    n_tie + 1`` (an integer), so ``2·U = Σ_pos-groups n_pos_s · 2·r̄ −
    n_pos·(n_pos+1)`` and ``auc_e6 = 10⁶·2U DIV (2·n_pos·n_neg)`` are
    all exact BIGINT arithmetic — both engines reproduce the value
    bit-for-bit.

    Scale shape: one map-side-combined aggregate to the distinct-score
    table, then a running-sum window over that table ordered by score.
    The window is single-partition, but over DISTINCT SCORES, not rows —
    for integer-quantized scores (the engine's e6 convention) that
    table is bounded by score resolution, not corpus size. 100 TB of
    documents with e6-quantized logits still cumulates over ≤ |score
    universe| rows.

    Returns ONE row: ``(n_pos, n_neg, auc_e6)``."""
    per_score = df.groupBy(F.col(score_col).alias("__s")).agg(
        F.count("*").cast("bigint").alias("__n"),
        F.sum(F.col(label_col).cast("int")).cast("bigint").alias("__np"),
    )
    # unpartitioned running sum is bounded by DISTINCT SCORES (the
    # per-score agg above reduced first — logit cardinality, not rows)
    w = (
        Window.orderBy("__s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = per_score.withColumn(
        "__cnt_lt", F.coalesce(F.sum("__n").over(w), F.lit(0)).cast("bigint")
    )
    # Σ over positives of the DOUBLED tied-average rank (integer-exact)
    agg = ranked.agg(
        F.sum(
            F.col("__np") * (2 * F.col("__cnt_lt") + F.col("__n") + 1)
        )
        .cast("bigint")
        .alias("__r2_pos"),
        F.sum("__np").cast("bigint").alias("n_pos"),
        F.sum(F.col("__n") - F.col("__np")).cast("bigint").alias("n_neg"),
    )
    u2 = F.col("__r2_pos") - F.col("n_pos") * (F.col("n_pos") + 1)
    return agg.select(
        "n_pos",
        "n_neg",
        (F.lit(1000000) * u2).cast("bigint").alias("__num"),
    ).select(
        "n_pos",
        "n_neg",
        # degenerate label (one class absent) -> NULL, never a crash:
        # at scale a pinned weak-label predicate CAN legitimately go
        # one-sided on novel content (found by the r11 sf1 probe, where
        # the replica vocabulary pushed every doc past the ppl cut)
        F.expr(
            "CASE WHEN n_pos > 0 AND n_neg > 0 "
            "THEN CAST(__num DIV (2 * n_pos * n_neg) AS BIGINT) "
            "ELSE CAST(NULL AS BIGINT) END"
        ).alias("auc_e6"),
    )


def psi_segment_drift(
    df: DataFrame,
    segment_col: str = "source",
    value_col: str = "n_chars",
    bucket_width: int = 64,
) -> DataFrame:
    """Population Stability Index of each segment's value distribution
    against the corpus overall — the standard distribution-drift audit
    (PSI, the credit-scoring/ML-monitoring convention: < 0.1 stable,
    0.1–0.25 moderate, > 0.25 significant shift; public). With
    ``value_col = n_chars`` this answers "which SOURCE's length profile
    drifts from the corpus" — the per-source health check a curation
    pipeline runs before mixing.

    ``PSI = Σ_b (p_b − q_b)·ln(p_b/q_b)`` over fixed-width value
    buckets (``value div bucket_width``), where p is the segment's
    add-1-smoothed bucket share and q the corpus's, both smoothed over
    the GLOBAL bucket set (so a bucket the segment never hits still
    contributes). Every per-bucket term is ≥ 0 and is floor-rounded to
    an integer nano-unit BEFORE summing (the ``kl_term_drift``
    discipline: the sum is associative and engine/partition-order
    exact; the inputs to each term are exact integer counts, so the
    term's double arithmetic is deterministic). Reported 6dp.

    Int64 headroom (r13 verdict task 6): each nano-unit term is bounded
    by (p−q)·ln(p/q) ≤ ln(n_t+nb)·1e9 (~4e10 even at 1e17 rows), and
    the sum has one term per GLOBAL BUCKET — nb ≈ max(value)/width, a
    value-range quantity, not a corpus-rows quantity. Crossing 2^63
    would need nb·4e10 ≥ 9.2e18, i.e. ~2.3e8 distinct buckets — with
    ``n_chars div 64`` that is a 15 GB single document. Documented
    bound, no guard needed (contrast the corpus-token-bounded sums in
    ``kl_term_drift``, which bind inside the envelope).

    Degenerate inputs DEGRADE (arrival discipline): one global bucket →
    p = q = 1 → PSI 0; a segment that IS the whole corpus → p ≡ q →
    PSI exactly 0; empty input → zero rows. Never a division by zero
    (smoothing keeps every denominator positive).

    Scale shape: ONE corpus pass — the (segment, bucket) count agg,
    map-side combined — feeds everything (scope-persisted: bucket
    totals, segment totals, and the grid are its three consumers).
    The grid is segments × global-buckets (both bounded aggregates,
    broadcast), never the corpus."""
    if bucket_width < 1:
        raise ValueError(
            f"psi_segment_drift: bucket_width must be >= 1 (got {bucket_width})"
        )

    cnt = persist_scoped(
        "psi_segment_bucket_counts",
        df.select(
            F.col(segment_col),
            F.expr(f"{value_col} div {bucket_width}").alias("__b"),
        )
        .groupBy(segment_col, "__b")
        .agg(F.count("*").cast("bigint").alias("c")),
    )
    tot = cnt.groupBy("__b").agg(F.sum("c").cast("bigint").alias("t"))
    src = cnt.groupBy(segment_col).agg(
        F.sum("c").cast("bigint").alias("n_s")
    )
    consts = tot.groupBy().agg(
        F.count("*").cast("bigint").alias("nb"),
        F.sum("t").cast("bigint").alias("n_t"),
    )
    grid = (
        src.crossJoin(tot.select("__b", "t"))
        .join(cnt, [segment_col, "__b"], "left")
        .select(
            segment_col,
            "n_s",
            "__b",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
            "t",
        )
    )
    p = F.lit(1.0) * (F.col("c") + 1) / (F.col("n_s") + F.col("nb"))
    q = F.lit(1.0) * (F.col("t") + 1) / (F.col("n_t") + F.col("nb"))
    contrib = F.floor(
        ((p - q) * F.log(p / q)) * 1e9 + F.lit(0.5)
    ).cast("bigint")
    scored = grid.crossJoin(F.broadcast(consts)).select(
        segment_col, "n_s", contrib.alias("__contrib")
    )
    return scored.groupBy(segment_col, "n_s").agg(
        F.sum("__contrib").alias("__s")
    ).select(
        segment_col,
        F.col("n_s").alias("n_docs"),
        (
            F.floor((F.col("__s") / 1e9) * 1e6 + F.lit(0.5)) / 1e6
        ).alias("psi"),
    )
