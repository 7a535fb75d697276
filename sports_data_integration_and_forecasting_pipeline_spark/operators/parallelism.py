"""Input-width guard for CPU-heavy narrow stages.

A Spark scan's task count comes from file splits
(``spark.sql.files.maxPartitionBytes``); a small parquet table — one
row-group, a few MB — arrives as ONE partition, so everything before the
first shuffle (tokenize, md5 shingling, gram explosion) runs on one core
no matter how many the session has. That serial prefix dominated the
round-2 bench profile of every documents-table operator.

At 100 TB the same scans arrive as thousands of splits and need no help —
so the guard below only ever *widens*, never coalesces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .scoped import persist_scoped


def ensure_parallelism(
    df: DataFrame,
    *key_cols: str,
    min_partitions: int | None = None,
) -> DataFrame:
    """``repartition`` up to the session's default parallelism when (and
    only when) the input is narrower. The repartition moves raw input
    bytes once — worth it exactly when the per-row work downstream
    (hashing, shingling) outweighs one extra pass over the data, which is
    why only the signature/index builders call this, not cheap projections.

    Pass ``key_cols`` when a ``groupBy``/window on those columns follows:
    hash-partitioning by the key satisfies the downstream distribution
    requirement, so Catalyst plans ONE exchange for spread + aggregation
    instead of round-robin + hash (measured 2.7× on the MinHash signature
    stage). Without keys the spread is round-robin; placement is not
    deterministic across runs either way, so callers must be
    order-independent (every battery aggregate is, by design)."""
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if key_cols:
        return df.repartition(target, *[df[c] for c in key_cols])
    return df.repartition(target)


def exclusive_prefix_offsets(
    stamped: DataFrame,
    part_agg,
    combine,
    zero=None,
    out_col: str = "__off",
    cast: str | None = None,
) -> DataFrame:
    """The broadcast-offsets half of every two-phase global window in
    this module (and the SNM boundary fix-up in dedup.py): aggregate
    each range partition of the pid-stamped frame with ``part_agg``,
    then fold the per-partition partials into an EXCLUSIVE running
    prefix over the ``__pid`` order — a one-task window over P rows,
    never the data. ``combine`` merges partials across partitions
    (``F.sum`` for counts/sums, ``F.min`` for minima); ``zero`` fills
    the empty prefix of the first partition (``None`` keeps NULL —
    right for min, where callers' ``F.least`` skips it)."""
    prefix = combine("__part").over(
        Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    )
    if zero is not None:
        prefix = F.coalesce(prefix, F.lit(zero))
    if cast:
        prefix = prefix.cast(cast)
    return (
        stamped.groupBy("__pid")
        .agg(part_agg.alias("__part"))
        .select("__pid", prefix.alias(out_col))
    )


def global_row_number(
    df: DataFrame,
    order_cols: list,
    rank_col: str = "i",
    num_partitions: int | None = None,
    cache_role: str = "global_rank",
) -> DataFrame:
    """Exact global ``ROW_NUMBER() OVER (ORDER BY order_cols)`` without
    the single-task sort a partition-less window runs — the parallelism
    killer a 100 TB global rank cannot afford.

    Two-phase distributed ranking (the value-ordered sibling of
    chunking's id-bucketed prefix sum):

    1. ``repartitionByRange`` on the order key — parallel range
       exchange; every partition holds a contiguous slice of the total
       order;
    2. per-partition local ``row_number`` — P parallel sorts of N/P
       rows instead of one sort of N;
    3. per-partition counts → exclusive prefix offsets — a one-task
       window over P rows, not the data;
    4. broadcast the offsets back: global rank = offset + local rank.

    The output is identical to the global window for ANY partitioning,
    because the rank depends only on the total order — which must be
    UNIQUE per row (pass tiebreak columns; equal full tuples would make
    either form nondeterministic). The range boundaries themselves come
    from sampling, so the pid-stamped frame is persisted (scoped-cache
    house pattern) to pin one set of boundaries for both the offset
    branch and the rank branch — correctness must not depend on
    exchange reuse.

    ``order_cols`` may be strings or Column expressions (e.g.
    ``F.col("c").desc()``) — the same list drives both the range
    partitioner and the per-partition sort.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    stamped = persist_scoped(
        cache_role,
        df.repartitionByRange(n_parts, *cols).withColumn(
            "__pid", F.spark_partition_id()
        ),
    )
    offsets = exclusive_prefix_offsets(
        stamped, F.count("*"), F.sum, zero=0, cast="long"
    )
    w_local = Window.partitionBy("__pid").orderBy(*cols)
    return (
        stamped.withColumn("__rn", F.row_number().over(w_local))
        .join(F.broadcast(offsets), "__pid")
        .withColumn(
            rank_col, (F.col("__off") + F.col("__rn")).cast("long")
        )
        .drop("__pid", "__rn", "__off")
    )


def global_ntile(
    df: DataFrame,
    order_cols: list,
    k: int,
    out_col: str = "bucket",
    num_partitions: int | None = None,
    cache_role: str = "global_ntile",
    n_total: DataFrame | None = None,
) -> DataFrame:
    """Exact global ``NTILE(k) OVER (ORDER BY order_cols)`` via the
    distributed rank: SQL NTILE over n = k·base + rem rows puts base+1
    rows in each of the first rem buckets and base in the rest, so

        bucket(i) = (i−1) DIV (base+1) + 1                for i ≤ rem·(base+1)
                  = rem + (i − rem·(base+1) − 1) DIV base + 1  otherwise

    — pure integer arithmetic over the :func:`global_row_number` rank,
    identical to both engines' native NTILE on the same (UNIQUE per
    row) total order. The n<k corner (base=0) lands every row in the
    first branch; the dead DIV-by-zero branch evaluates to NULL on no
    rows under Spark's non-ANSI DIV, so no guard is needed.

    ``n_total`` (optional): a lazy 1-row frame with long column ``__n``
    holding the row count. Callers ranking k slices of the SAME source
    (e.g. the RFM quintiles) pass one shared frame so the final plan
    carries one count subtree that exchange-reuse executes once,
    instead of re-counting the source per rank. Default: counted from
    the ranked frame (reads the scoped cache)."""
    ranked = global_row_number(
        df,
        order_cols,
        rank_col="__gi",
        num_partitions=num_partitions,
        cache_role=cache_role,
    )
    if n_total is None:
        n_total = ranked.agg(F.count("*").cast("long").alias("__n"))
    base = F.expr(f"__n DIV {k}")
    rem = F.col("__n") % k
    cut = rem * (base + 1)
    bucket = (
        F.when(
            F.col("__gi") <= cut,
            F.expr(f"(__gi - 1) DIV (__n DIV {k} + 1)") + 1,
        )
        .otherwise(
            rem
            + F.expr(
                f"(__gi - __n % {k} * (__n DIV {k} + 1) - 1) DIV (__n DIV {k})"
            )
            + 1
        )
        .cast("int")
    )
    return (
        ranked.crossJoin(F.broadcast(n_total))
        .withColumn(out_col, bucket)
        .drop("__gi", "__n")
    )


def global_running_sum(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    out_col: str = "cum",
    num_partitions: int | None = None,
    cache_role: str = "global_cumsum",
) -> DataFrame:
    """Exact global ``SUM(value) OVER (ORDER BY order_cols ROWS
    UNBOUNDED PRECEDING)`` without the one-task sort: the same
    two-phase shape as :func:`global_row_number`, but the broadcast
    offset per range partition is the exclusive prefix of per-partition
    SUMS rather than counts. Order must be unique per row (pass
    tiebreaks) so the running sum is well-defined on both engines."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    stamped = persist_scoped(
        cache_role,
        df.repartitionByRange(n_parts, *cols).withColumn(
            "__pid", F.spark_partition_id()
        ),
    )
    offsets = exclusive_prefix_offsets(
        stamped, F.sum(value_col), F.sum, zero=0, out_col="__soff"
    )
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        stamped.withColumn("__lcum", F.sum(value_col).over(w_local))
        .join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, F.col("__soff") + F.col("__lcum"))
        .drop("__pid", "__lcum", "__soff")
    )


def pareto_frontier_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    num_partitions: int | None = None,
    cache_role: str = "skyline_prefix",
) -> DataFrame:
    """2D skyline / Pareto frontier, minimizing both columns (Börzsönyi
    et al., ICDE '01): keep row q iff no row p has p.x ≤ q.x AND
    p.y ≤ q.y with at least one strict — exact-duplicate (x, y) rows
    dominate nothing and all survive together.

    The naive form is a NOT EXISTS pair scan — O(n²) and a cross join
    in any engine. In 2D, dominance collapses onto a prefix minimum:
    q is dominated by a strictly-smaller-x row iff
    ``min(y over all x' < q.x) <= q.y``, and by a same-x row iff some
    same-x y is strictly smaller. So the frontier is

        y == min(y | x) AND (no smaller x exists OR y < m1(x)),
        m1(x) = min over all smaller x of min(y | x)

    — one per-x aggregate, one EXCLUSIVE running minimum over the x
    order, one equi-join back. The running minimum uses the house
    two-phase shape (:func:`global_running_sum` with min in place of
    sum): parallel range exchange on x, per-partition exclusive-prefix
    window, per-partition minima broadcast back as exclusive offsets —
    never a single-task global sort, never a pair join. ``F.least``
    skips nulls in BOTH engines, which is exactly the semantics the
    empty-prefix (smallest x / first partition) cases need.

    Precondition (ENFORCED, fail-loud — same contract the kD sibling
    documents): ``x_col``/``y_col`` must be non-null exact metrics. A
    NULL x would vanish silently (the equi-join back onto the per-x
    annotation never matches NULL keys) and a NULL y has no dominance
    order; the guard is one map-side two-column aggregate, eager at
    construction time in the `_assert_bounded_group` house style."""
    # The NULL guard RIDES the per-x aggregate the algorithm needs
    # anyway (a null-y counter per group; null x forms its own group),
    # and the aggregate is persisted BEFORE the eager check — so the
    # guard costs zero extra scans of df's lineage: the check's collect
    # materializes the same cached relation the frontier then reads
    # (r8 review finding: a separate df.agg() guard doubled the
    # dominant scan).
    perx = df.groupBy(x_col).agg(
        F.min(y_col).alias("__my"),
        F.sum(F.col(y_col).isNull().cast("long")).alias("__nny"),
    )
    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    stamped = persist_scoped(
        cache_role,
        perx.repartitionByRange(n_parts, F.col(x_col)).withColumn(
            "__pid", F.spark_partition_id()
        ),
    )
    bad = stamped.agg(
        F.sum("__nny").alias("ny"),
        F.sum(F.col(x_col).isNull().cast("long")).alias("nx"),
    ).collect()[0]
    if (bad["ny"] or 0) > 0 or (bad["nx"] or 0) > 0:
        raise ValueError(
            f"pareto_frontier_2d: input has NULL {x_col}/{y_col} rows "
            f"({bad['nx'] or 0} null-{x_col} group(s), {bad['ny'] or 0} "
            f"null-{y_col} row(s)) — dominance is undefined on NULL and "
            "NULL x keys would silently drop at the annotation join. "
            "Filter or impute upstream."
        )
    stamped = stamped.drop("__nny")
    offsets = exclusive_prefix_offsets(
        stamped, F.min("__my"), F.min, out_col="__moff"
    )
    w_excl = (
        Window.partitionBy("__pid")
        .orderBy(x_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ann = (
        stamped.withColumn("__mloc", F.min("__my").over(w_excl))
        .join(F.broadcast(offsets), "__pid")
        .select(
            x_col,
            "__my",
            F.least("__moff", "__mloc").alias("__m1"),
        )
    )
    return (
        df.join(ann, x_col)
        .filter(
            (F.col(y_col) == F.col("__my"))
            & (F.col("__m1").isNull() | (F.col(y_col) < F.col("__m1")))
        )
        .drop("__my", "__m1")
    )


def pareto_frontier_kd(
    df: DataFrame,
    cols: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """k-dimensional skyline (minimize every column in ``cols``) for
    d ≥ 3, where the 2D prefix-min reduction of
    :func:`pareto_frontier_2d` no longer applies — dominance in ≥3 dims
    does not collapse onto any single running aggregate. This is the
    canonical divide-and-conquer skyline: a per-partition local skyline
    (anything dominated within a partition is dominated globally, so
    local pruning is sound), then the exact skyline of the union of
    local skylines. Random partitions have tiny skylines (expected
    O(log^(d-1) n) points for independent dims), so the final pass runs
    over a P·s-row set, not the data.

    The local pass is a DESIGNED Arrow crossing (same contract as the
    EWMA/Holt recurrences): the sort-filter-skyline walk is inherently
    sequential per partition and no window or aggregate expresses ≥3-dim
    dominance. Sorting lexicographically first makes the kept set
    append-only — a later row can never dominate an earlier kept row
    (it is ≥ on the first differing column) — so the walk is one pass
    with a numpy dominance check against the kept block.

    ``cols`` must be exact integer (long-castable) metrics — the house
    exactness discipline; dominance then compares identically on every
    engine. Payload columns ride along untouched. Exact-duplicate
    points dominate nothing and all survive together."""
    if len(cols) < 2:
        raise ValueError("pareto_frontier_kd: need >= 2 metric columns")

    def _skyline(pdf):
        import numpy as np

        v = pdf[list(cols)].to_numpy(dtype="int64")
        order = np.lexsort(tuple(v[:, j] for j in range(v.shape[1] - 1, -1, -1)))
        kept = np.empty_like(v)
        kept_idx = []
        m = 0
        for i in order:
            row = v[i]
            if m:
                block = kept[:m]
                if bool(
                    np.any(
                        np.all(block <= row, axis=1)
                        & np.any(block < row, axis=1)
                    )
                ):
                    continue
            kept[m] = row
            m += 1
            kept_idx.append(i)
        return pdf.iloc[np.sort(np.asarray(kept_idx, dtype="int64"))]

    # Pivot pre-prune (exactness-safe: a row dominated by ANY point is
    # not in the skyline, so filtering against a fixed pivot set only
    # removes non-answers): one aggregate computes the d columnwise
    # argmin rows via min_by structs; their broadcast prunes everything
    # they dominate BEFORE any Python crossing. On the orders frontier
    # this drops 97% of rows (147k -> 4.4k at sf0.1) — the Arrow pass
    # then runs over the survivors, not the corpus. min_by tie choice
    # is engine-arbitrary, which is fine: the skyline set is unique
    # whatever pivots prune the intermediate.
    pivots = df.agg(
        *[
            F.min_by(
                F.struct(*[F.col(cc) for cc in cols]), F.col(c)
            ).alias(f"__pv{i}")
            for i, c in enumerate(cols)
        ]
    )
    def _dominates(pv: str):
        le = [F.col(f"{pv}.{c}") <= F.col(c) for c in cols]
        lt = [F.col(f"{pv}.{c}") < F.col(c) for c in cols]
        from functools import reduce as _red
        import operator as _op

        return _red(_op.and_, le) & _red(_op.or_, lt)

    dominated = None
    for i in range(len(cols)):
        d_i = _dominates(f"__pv{i}")
        dominated = d_i if dominated is None else (dominated | d_i)
    survivors = (
        df.crossJoin(F.broadcast(pivots))
        .filter(~dominated)
        .drop(*[f"__pv{i}" for i in range(len(cols))])
    )

    def _sky_partition(batches):
        # Accumulate the partition's batches, then one skyline walk —
        # identical pruning power to the old per-partition grouped
        # apply, without manufacturing a grouping key: the r14 form
        # paid a keyless round-robin repartition (plus its mandatory
        # sort-before-repartition pass) AND a hash exchange on the
        # synthetic __pid just to reach Python; local skylines are
        # partition-local by definition, so mapInPandas over whatever
        # partitioning the survivors already have is sound (any subset
        # prunes only true non-answers) and shuffle-free (r15: 3
        # Exchanges -> 1 in the executed plan).
        import pandas as pd

        parts = [pdf for pdf in batches if len(pdf)]
        if parts:
            yield _skyline(
                pd.concat(parts, ignore_index=True)
                if len(parts) > 1
                else parts[0]
            )

    # num_partitions stays as the explicit override; the default trusts
    # the survivors' existing layout EXCEPT for the pathological
    # single-partition input (r16, ADVICE r15): there the whole O(n·m)
    # local walk plus a full pandas concat would land in ONE task, so
    # the guard restores the r14 spread. The partition count comes off
    # the INPUT df (survivors add only narrow ops over it), so the check
    # is one driver-side plan conversion, no job.
    if num_partitions is not None:
        survivors = survivors.repartition(num_partitions)
    elif df.rdd.getNumPartitions() == 1:
        survivors = survivors.repartition(
            df.sparkSession.sparkContext.defaultParallelism
        )
    schema = survivors.schema
    local = survivors.mapInPandas(_sky_partition, schema=schema)
    # final exact pass over the P·s-row union of local skylines — one
    # partition by design (the set is partition-count-sized, not
    # data-sized); repartition(1) is the explicit stage boundary that
    # keeps the LOCAL pass parallel (a coalesce(1) would collapse it
    # into the single final task)
    return local.repartition(1).mapInPandas(_sky_partition, schema=schema)
