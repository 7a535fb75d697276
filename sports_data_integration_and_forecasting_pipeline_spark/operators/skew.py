"""Skew- and co-location machinery for 100 TB plans (SURVEY §7.3-7 scale
hygiene; no reference counterpart — the reference is single-process).

Three standard levers, each exposed as a reusable operator:

- **Salted aggregation**: a hot grouping key (one bookmaker, one market,
  one n-gram) funnels its whole group through one reducer. Salting splits
  every group across ``n_salts`` reducers (stage 1: partial agg on
  (key, salt)), then merges the partials (stage 2: tiny agg on key).
  Results are identical for any decomposable aggregate; only the shuffle
  distribution changes.
- **Salted join**: replicate the small side ``n_salts``× and scatter the
  skewed big side by salt, so one hot join key spreads over ``n_salts``
  tasks. (AQE's skew-join split handles sort-merge cases adaptively; the
  explicit form also covers broadcast-ineligible shapes and is
  deterministic.)
- **Bucketed co-located join** (:func:`write_bucketed`): pre-bucket both
  fact tables by the join key so repeated joins read shuffle-free —
  SortMergeJoin with zero Exchange. This is the "pre-partitioning reused
  across stages" design the canonical odds history wants at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SALTS = 16


def salted_sum_count(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    n_salts: int = DEFAULT_SALTS,
) -> DataFrame:
    """Two-stage skew-proof sum/count per key. Stage 1 groups on
    (key, salt) — every group, however hot, spreads over ``n_salts``
    reducers with map-side partial aggregation; stage 2 merges ``n_salts``
    partial rows per key. Output: key cols + ``sum_value`` + ``n_rows``,
    bit-identical to a direct groupBy for integer/decomposable sums."""
    salt = (F.crc32(F.monotonically_increasing_id().cast("string")) % n_salts).alias(
        "__salt"
    )
    partial = (
        df.select(*key_cols, F.col(value_col), salt)
        .groupBy(*key_cols, "__salt")
        .agg(
            F.sum(value_col).alias("__psum"),
            F.count("*").alias("__pcnt"),
        )
    )
    return partial.groupBy(*key_cols).agg(
        F.sum("__psum").alias("sum_value"),
        F.sum("__pcnt").cast("bigint").alias("n_rows"),
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int = DEFAULT_SALTS,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof equi-join: the big (skewed) side gets a random salt in
    [0, n_salts); the small side is replicated once per salt via an
    explode — so a hot key's rows land on ``n_salts`` different join
    tasks instead of one straggler.

    Only ``inner`` and ``left`` (big side preserved) are supported: under
    right/full outer joins an unmatched small-side row would surface once
    per salt replica — n_salts duplicate output rows. Keep the big,
    skewed side on the left and pick the join type accordingly."""
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left', got {how!r}: "
            "right/full outer would emit unmatched small-side rows once "
            "per salt replica"
        )
    salted_big = big.withColumn(
        "__salt",
        (F.crc32(F.monotonically_increasing_id().cast("string")) % n_salts).cast(
            "int"
        ),
    )
    replicated_small = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<int>"))
    )
    out = salted_big.join(replicated_small, [on, "__salt"], how)
    return out.drop("__salt")


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) by the join key.
    Joins between tables bucketed the same way need no Exchange: each
    task reads matching buckets from both sides — the co-located join
    that amortizes one shuffle across every downstream join at 100 TB."""
    import shutil
    from pathlib import Path

    spark = df.sparkSession
    # A managed table's directory can outlive its (session-local) catalog
    # entry; saveAsTable then fails with LOCATION_ALREADY_EXISTS even in
    # overwrite mode. Drop both the entry and any stale location first.
    # The path cleanup only applies where <warehouse>/<table> is the
    # actual managed location: an unqualified table name in the default
    # database on a LOCAL warehouse. Database-qualified names live under
    # <db>.db/ and remote warehouses (hdfs://, s3a://) aren't local paths
    # — there the DROP TABLE is the only safe cleanup.
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    local = warehouse.removeprefix("file:")
    if "." not in table_name and "://" not in local:
        loc = Path(local) / table_name.lower()
        if loc.exists():
            shutil.rmtree(str(loc), ignore_errors=True)
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        n_buckets, bucket_col
    )
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table_name)


def skew_key_report(
    df: DataFrame,
    key_col: str,
    top_k: int = 20,
    n_partitions: int = 32,
) -> DataFrame:
    """Skew DIAGNOSIS (the step before picking a salt factor): per-key row
    counts for the ``top_k`` heaviest keys, each with its share of the
    table in parts-per-million and the salt factor that would spread it
    evenly over the shuffle: ``ceil(n_partitions * cnt / total)`` — how
    many reducer-partitions' worth of rows the key carries. A key with
    ``salt_factor == 1`` is harmless; ``>= 2`` funnels multiple
    partitions of work through one reducer and wants
    :func:`salted_sum_count` / :func:`salted_join` (or AQE's skew split).

    All integer arithmetic (exact ceil via ``(a + b - 1) DIV b``; share
    in ppm via integer DIV), pinned (count desc, key) order. Shape: one
    map-side-combined aggregate; the grand total is a broadcast 1-row
    re-aggregate of the SAME counts (its exchange is canonically
    identical, so AQE materializes the aggregate once — never a
    single-task window over the key stream, which would serialize at
    high key cardinality); top-k is a distributed TakeOrdered.
    """
    counts = df.groupBy(key_col).agg(F.count("*").alias("n_rows"))
    total = counts.agg(F.sum("n_rows").cast("bigint").alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .orderBy(F.desc("n_rows"), key_col)
        .limit(top_k)
        .select(
            key_col,
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.expr("CAST((1000000 * n_rows) DIV __total AS BIGINT)").alias(
                "share_ppm"
            ),
            F.expr(
                f"CAST(({n_partitions} * n_rows + __total - 1) DIV __total"
                " AS INT)"
            ).alias("salt_factor"),
        )
    )


def null_safe_left_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
) -> DataFrame:
    """Left join whose NULL-key rows never enter the shuffle.

    A plain LEFT OUTER join must PRESERVE null-key rows, so Spark cannot
    filter them below the join — they all hash to the same reducer
    partition and, at a fact table where the FK is mostly null (an
    optional attribute, a late-arriving dimension), that one task
    receives most of the table: the canonical null-skew failure at
    100 TB. The mitigation is structural: split the nulls out, join only
    the non-null slice, and union the null slice back with
    null-extended right columns — semantically identical to the plain
    left join (null keys never match anything), but the shuffle now
    sees zero null keys. Output column order: left columns then right
    columns (minus the join key's right copy).
    """
    rcols = [c for c in right.columns if c != right_key]
    nn = (
        left.filter(F.col(left_key).isNotNull())
        .join(right, left[left_key] == right[right_key], "left")
        # drop by REFERENCE: dropping by name would remove BOTH columns
        # when left_key and right_key share a name
        .drop(right[right_key])
    )
    nulls = left.filter(F.col(left_key).isNull())
    for field in right.schema.fields:
        if field.name != right_key:
            nulls = nulls.withColumn(
                field.name, F.lit(None).cast(field.dataType)
            )
    return nn.select(*left.columns, *rcols).unionByName(
        nulls.select(*left.columns, *rcols)
    )
