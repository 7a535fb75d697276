"""Frequency analysis: iceberg / heavy-hitter queries — "which items
exceed s% of their group" — the shape behind hot-key detection (feeding
the skew tools), vocabulary pruning, and bot/outlier surfacing.

Exact form: two cascaded aggregations. The first (group, item) count
shuffles with map-side combine; the per-group totals then come from a
window over the ALREADY-AGGREGATED counts — rows at that point are
(distinct items × groups), typically orders of magnitude smaller than
the input, so the second exchange is cheap. No driver-side state.

Sketch companion at unbounded item cardinality: the count-min sketch
below. Unlike HLL (whose register layout is engine-private), CMS built
on md5-derived row hashes is *engine-portable* — any SQL engine can
reproduce the exact same d×w counter table and estimates, so it IS
hash-oracle-able.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import h32, h60


def heavy_hitters(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    threshold: float = 0.01,
) -> DataFrame:
    """All (group, item) pairs where the item covers ≥ ``threshold`` of
    the group's rows. Output: group cols, item, ``cnt``, ``n_group``
    (share is derivable; exact integers only, so results hash-match any
    engine)."""
    counts = df.groupBy(*group_cols, item_col).agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    w = Window.partitionBy(*group_cols)
    return (
        counts.withColumn("n_group", F.sum("cnt").over(w).cast("bigint"))
        .filter(F.col("cnt") >= F.col("n_group") * F.lit(threshold))
    )


def _cms_bucket(item: Column, row: int, width: int) -> Column:
    """Row ``row``'s bucket for ``item``: rows 0-3 slice disjoint
    8-hex-digit spans of ONE md5 of the item (one hash per item for the
    standard depth-4 sketch — same trick as `bloom._positions`); deeper
    rows fall back to salted md5s. Reproducible in any engine with md5
    (the oracle states the identical expression)."""
    if row < 4:
        h = F.conv(F.substring(F.md5(item), 1 + 8 * row, 8), 16, 10).cast("long")
    else:
        h = h32(F.concat(F.lit(f"{row}:"), item))
    return F.pmod(h, F.lit(width)).cast("int")


def countmin_sketch(
    df: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Count-min sketch of ``item_col`` frequencies: a ``depth`` × ``width``
    counter table as rows ``(row, bucket, cnt)``.

    Plan: each input row explodes to ``depth`` (row, bucket) cells, then ONE
    hash aggregation with map-side partial combine — the shuffle moves at
    most ``depth × width`` rows per map task regardless of input size, so
    the sketch build is scan-bound at 100 TB. The sketch itself is
    fixed-size (d·w counters) and broadcastable.
    """
    cells = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        _cms_bucket(F.col(item_col), i, width).alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("cell")
    )
    return cells.groupBy("cell.row", "cell.bucket").agg(
        F.count("*").cast("bigint").alias("cnt")
    )


def countmin_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-estimate frequencies for ``probes[item_col]`` against a
    :func:`countmin_sketch`: est = min over rows of the item's bucket
    counter (never underestimates; overestimate bounded by 2N/w w.p.
    1 - 2^-d).

    Plan: probes explode to their d cells and broadcast-join the (tiny)
    sketch — the probe side never shuffles; the min folds back with one
    hash agg on the probe key.
    """
    cells = probes.select(
        F.col(item_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        _cms_bucket(F.col(item_col), i, width).alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("cell"),
    ).select(item_col, "cell.row", "cell.bucket")
    joined = cells.join(F.broadcast(sketch), ["row", "bucket"], "left").fillna(
        0, subset=["cnt"]
    )
    return joined.groupBy(item_col).agg(F.min("cnt").cast("bigint").alias("est_cnt"))


def misra_gries(df: DataFrame, item_col: str, k: int = 16) -> DataFrame:
    """Misra-Gries heavy-hitter summary with ``k`` counters: at most
    ``k`` ``(item, est_cnt)`` rows where ``true - N/(k+1) <= est <=
    true`` (N = total rows) — every item with frequency > N/(k+1) is
    guaranteed to survive.

    The mergeable-summaries construction (Agarwal et al., PODS'12,
    public): each partition builds a local MG summary in one Arrow
    `mapInPandas` pass (k-dict per partition, O(k) state), then partials
    merge by (a) summing per item — one map-side-combined shuffle of
    <= k rows per partition — and (b) subtracting the (k+1)-th largest
    merged counter and keeping positives, which restores the k-counter
    bound. The rank/threshold steps run over <= k x n_partitions rows —
    negligible at any scale.

    Estimates depend on partition layout (any valid MG summary does), so
    this is a rows-only battery entry like HLL; the error bound is what
    tests assert. The engine-portable hash-oracled companion is
    :func:`countmin_sketch`.
    """
    import pandas as pd  # local: keep module import light

    def _mg_partition(batches):
        counters: dict = {}
        for pdf in batches:
            for item in pdf[item_col].astype(str):
                if item in counters:
                    counters[item] += 1
                elif len(counters) < k:
                    counters[item] = 1
                else:
                    # decrement-all; drop zeros (classic MG step)
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        if counters:
            yield pd.DataFrame(
                {"item": list(counters), "cnt": list(counters.values())}
            )

    partials = df.select(F.col(item_col).cast("string").alias(item_col)).mapInPandas(
        _mg_partition, schema="item string, cnt long"
    )
    summed = partials.groupBy("item").agg(F.sum("cnt").alias("cnt"))
    # unpartitioned rank is bounded by the MERGED CANDIDATE set —
    # ≤ P·k items (one k-bounded summary per partition), never raw rows
    ranked = summed.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("cnt"), "item"))
    )
    thr = ranked.groupBy().agg(
        F.coalesce(
            F.max(F.when(F.col("rk") == k + 1, F.col("cnt"))), F.lit(0)
        ).alias("thr")
    )
    return (
        ranked.crossJoin(F.broadcast(thr))
        .withColumn("est_cnt", (F.col("cnt") - F.col("thr")).cast("bigint"))
        .filter(F.col("est_cnt") > 0)
        .select("item", "est_cnt")
    )


HLL_ALPHA_64 = 0.7213 / (1 + 1.079 / 64)  # standard alpha_m for m=64


def hll_per_group(
    df: DataFrame, group_col: str, value_col: str, m: int = 64
) -> DataFrame:
    """Per-group HyperLogLog with ENGINE-EXACT state: unlike a native HLL
    whose registers depend on an engine-private hash, every quantity here
    is deterministic and portable, so the sketch itself hash-matches a
    SQL oracle (the upgrade over the rows-only `approx_count_distinct`
    entry).

    Construction (md5-based, shared bit-for-bit with DuckDB):
    ``h = h60(value)``; register ``j = h % m``; the remaining 54 bits
    ``w = h // m`` contribute ``rho = 55 - bitlength(w)`` (leading-zero
    count + 1, via ``length(trim(LEADING '0' FROM bin(w)))`` — identical
    in both engines). Register value is ``max(rho)`` — order-independent,
    mergeable. The harmonic denominator is kept in EXACT integer space:
    ``sum(2^(55 - rho_j))`` plus ``2^55`` per empty register (max
    summand 2^54 × 64 registers < 2^61 — no float summation-order
    hazard), so the raw estimate ``alpha·m²·2^55 / denom`` is a single
    deterministic float division.

    Scale shape: one map-side-combined shuffle to (group, j) — ≤ m rows
    per group survive — then a per-group fold. Reports the RAW HLL
    estimator (no small-range correction: linear counting needs ln(),
    whose last-ulp may differ across engines; the raw form is the
    portable one and its ~1.04/√m error is tested).

    Returns ``(group_col, n_regs, rho_sum, est_e4)`` — register count,
    register checksum, and the estimate in 1e-4 units.
    """
    d = (
        df.select(
            F.col(group_col),
            h60(F.col(value_col).cast("string")).alias("__h"),
        )
        .select(
            group_col,
            (F.col("__h") % m).alias("__j"),
            # integer `div`, NOT floor(h/m): the 60-bit hash exceeds a
            # double's 53-bit mantissa, so float division corrupts low bits
            F.expr(f"__h div {m}").alias("__w"),
        )
        .withColumn(
            "__rho",
            (
                F.lit(55)
                - F.length(F.expr("trim(LEADING '0' FROM bin(__w))"))
            ).cast("int"),
        )
    )
    regs = d.groupBy(group_col, "__j").agg(F.max("__rho").alias("rho"))
    scale = float(HLL_ALPHA_64 * m * m)
    return regs.groupBy(group_col).agg(
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
    )
