"""Cross-snapshot contamination audit via KMV (k-minimum-values / theta)
sketch intersections — "how much of eval leaked into train?" answered at
register level, for corpus sides too big to broadcast.

The existing :mod:`~..operators.decontam` path broadcasts the benchmark's
shingle set and anti-joins the corpus — the right plan while the eval
side fits in a broadcast. This module is its mergeable generalization
(Beyer et al., SIGMOD '07 KMV; the theta-sketch framing is Dasgupta et
al., "Theta-Sketch Framework", 2016): each corpus/split/snapshot is
summarized once into k order-statistics of a uniform hash, and any
pairwise (or k-way) overlap question is then answered from sketches
alone — thousands of splits compare in milliseconds with no second scan
of any corpus, and sketches of yesterday's snapshot merge with today's
delta by a k-smallest-of-union (the union bound makes KMV sketches a
commutative monoid, the property that lets 1000 executors each sketch
their shard and a reducer fold the shards).

Estimator (the standard KMV set-operation form): with ``U`` = the k
smallest distinct hashes of A ∪ B (computable from the two sketches
alone) and ``o`` = |{h ∈ U : h ∈ sketch(A) ∧ h ∈ sketch(B)}|,
``o / |U|`` is an unbiased Jaccard estimate with relative error
O(1/√k) — and it is EXACT whenever |A ∪ B| ≤ k (the sketch degenerates
to the full set). Everything is integer/string comparison on md5
digests (the house engine-identical hash discipline), so the DuckDB
oracle reproduces the *approximation itself* bit-for-bit.

The reference engine has no sketch surface (single-process pandas —
see SURVEY §2); this family is part of the LLM-data-pipeline extension
pack, sibling to `decontaminate_benchmark`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .scoped import persist_scoped


def kmv_registers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 128,
) -> DataFrame:
    """Per-``group_col`` KMV sketch: the ``k`` lexicographically-smallest
    distinct md5 digests of ``value_col``. Returns one row per register:
    ``(group_col, h, register_idx, build_k)`` with ``register_idx`` ∈
    [1, k] (groups with < k distinct values keep them all — the exact
    regime). ``build_k`` stamps the sketch with the k it was built at —
    the parameter every downstream set operation must not exceed (real
    sketch libraries serialize k for the same reason); consumers
    validate against it (see :func:`kmv_pairwise_overlap`).

    Scale shape: the k-smallest-per-group rank is TWO-PHASE, never a
    single-task sort of a group's full hash set: stage 1 ranks within
    (group, first-2-hex-chars-of-h) — 256 uniform sub-partitions per
    group, each holding ~1/256 of the group's hashes — and keeps k per
    sub-partition; stage 2 ranks the ≤ 256·k survivors per group (a
    sketch-sized set, independent of corpus size). The hash prefix is
    uniform by construction, so neither phase can skew. One distinct
    exchange + two bounded window exchanges total."""
    if k < 2:
        raise ValueError(f"kmv_registers: k must be >= 2 (got {k})")
    distinct = (
        df.select(F.col(group_col), F.md5(F.col(value_col)).alias("h"))
        .filter(F.col("h").isNotNull())
        .distinct()
    )
    w1 = Window.partitionBy(group_col, F.substring("h", 1, 2)).orderBy("h")
    cand = (
        distinct.withColumn("__rn1", F.row_number().over(w1))
        .filter(F.col("__rn1") <= k)
        .drop("__rn1")
    )
    w2 = Window.partitionBy(group_col).orderBy("h")
    return (
        cand.withColumn("register_idx", F.row_number().over(w2))
        .filter(F.col("register_idx") <= k)
        .withColumn("register_idx", F.col("register_idx").cast("bigint"))
        .withColumn("build_k", F.lit(k).cast("bigint"))
    )


def kmv_pairwise_overlap(
    registers: DataFrame,
    group_col: str,
    k: int = 128,
) -> DataFrame:
    """Pairwise contamination audit from :func:`kmv_registers` output:
    for every unordered group pair (a < b), the KMV set-operation
    estimate of their Jaccard overlap. Returns one row per pair:
    ``group_a``, ``group_b``, ``n_union`` (= |k-smallest of A ∪ B|,
    min(k, |A ∪ B|)), ``n_overlap`` (union registers present in BOTH
    sketches), and ``jaccard_e6`` = n_overlap·10⁶ DIV n_union — integer
    micro-units so the estimate hash-matches across engines.

    Every input here is SKETCH-sized (n_groups · k rows), so the whole
    audit is broadcast-joined — no corpus is touched. The per-pair rank
    window is bounded by 2k rows by construction. The register table is
    scope-persisted on entry: THREE consumers read it (the pair-union
    side and both membership semi-joins), and without the persist each
    would re-derive the full corpus distinct+rank lineage — measured 3×
    the corpus cost (20.6 s → 3.9 s at sf1).

    ``k`` validity (ENFORCED, fail-loud — r8 review finding): the KMV
    membership argument (every union register below the k-th rank is
    present in the contributing sketch) only holds for ``k ≤ build k``,
    and a registers-only bound cannot distinguish a small exact group
    from a saturated small-k sketch — so the build parameter travels
    WITH the sketch (the ``build_k`` column :func:`kmv_registers`
    stamps, the same reason production sketch formats serialize k).
    A query ``k`` above the smallest ``build_k`` in the input raises
    rather than silently overestimating. Sketches from external sources
    lacking the column skip the guard (documented caveat: the caller
    then owns the k discipline)."""

    if "build_k" in registers.columns:
        k_build = registers.agg(
            F.min("build_k").cast("bigint").alias("m")
        ).collect()[0]["m"]
        if k_build is not None and k > k_build:
            raise ValueError(
                f"kmv_pairwise_overlap: k={k} exceeds the sketches' build "
                f"k ({k_build}) — union ranks beyond the build k are not "
                "guaranteed to be the true union's k-smallest, so the "
                "estimate would be silently invalid. Rebuild the "
                "registers with a larger k or query with k <= build k."
            )

    sk = persist_scoped(
        "kmv_registers", registers.select(group_col, "h")
    )
    groups = sk.select(group_col).distinct()
    pairs = (
        groups.select(F.col(group_col).alias("group_a"))
        .join(
            groups.select(F.col(group_col).alias("group_b")),
            F.col("group_a") < F.col("group_b"),
        )
    )
    # pair membership rides an equi-join (explode pair -> two member
    # rows), keeping the plan broadcast-hash instead of nested-loop
    members = pairs.select(
        "group_a",
        "group_b",
        F.explode(F.array("group_a", "group_b")).alias(group_col),
    )
    union_h = (
        sk.join(F.broadcast(members), group_col)
        .select("group_a", "group_b", "h")
        .distinct()
    )
    w_pair = Window.partitionBy("group_a", "group_b").orderBy("h")
    uk = union_h.withColumn("__rn", F.row_number().over(w_pair)).filter(
        F.col("__rn") <= k
    )
    n_union = uk.groupBy("group_a", "group_b").agg(
        F.count("*").cast("bigint").alias("n_union")
    )
    sk_a = sk.select(F.col(group_col).alias("group_a"), "h")
    sk_b = sk.select(F.col(group_col).alias("group_b"), "h")
    overlap = (
        uk.join(F.broadcast(sk_a), ["group_a", "h"], "left_semi")
        .join(F.broadcast(sk_b), ["group_b", "h"], "left_semi")
        .groupBy("group_a", "group_b")
        .agg(F.count("*").cast("bigint").alias("n_overlap"))
    )
    return (
        # both sides are <= n_groups^2 rows; the broadcast keeps the
        # closing join off the sort-merge path
        n_union.join(F.broadcast(overlap), ["group_a", "group_b"], "left_outer")
        .withColumn("n_overlap", F.coalesce("n_overlap", F.lit(0)).cast("bigint"))
        .withColumn(
            "jaccard_e6",
            F.expr("n_overlap * 1000000 DIV n_union").cast("bigint"),
        )
    )


def kmv_merge(registers: DataFrame, group_col: str, k: int = 128) -> DataFrame:
    """Merge sketches across snapshots: k-smallest of the union of
    registers per group — the monoid fold that lets per-shard/per-day
    sketches combine without re-scanning any corpus. Input may hold
    multiple sketch generations per group; output is a valid
    :func:`kmv_registers`-shaped sketch of the unioned underlying sets.

    ``build_k`` propagation: the merged sketch is only valid up to
    ``min(k, min input build_k)`` — the k-smallest-of-union argument is
    capped by the weakest contributor — so the output is TRUNCATED at
    that rank and carries it as ``build_k`` (inputs lacking the column
    stamp the passed ``k``). Union rows ranked beyond the weakest
    contributor's build k are not guaranteed to be among the true
    union's k-smallest, so keeping them would poison downstream
    estimates."""
    out_k = k
    if "build_k" in registers.columns:
        # sketch-sized eager aggregate (house style) — never a
        # partition-less window, even over bounded input
        k_in = registers.agg(
            F.min("build_k").cast("bigint").alias("m")
        ).collect()[0]["m"]
        if k_in is not None:
            out_k = min(k, int(k_in))
    w = Window.partitionBy(group_col).orderBy("h")
    return (
        registers.select(group_col, "h")
        .distinct()
        .withColumn("register_idx", F.row_number().over(w))
        .filter(F.col("register_idx") <= out_k)
        .withColumn("register_idx", F.col("register_idx").cast("bigint"))
        .withColumn("build_k", F.lit(out_k).cast("bigint"))
    )
