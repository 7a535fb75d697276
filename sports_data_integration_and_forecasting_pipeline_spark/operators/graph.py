"""Iterative graph operators over edge DataFrames.

PageRank here is defined over EXACT integer arithmetic so a distributed
run is bit-identical to any reference implementation regardless of
partitioning or summation order: ranks live in integer micro-units
(``scale`` per node initially) and every division is a floor division.
Floating-point PageRank sums contributions in nondeterministic order and
drifts at 1e-16 per add; the integer form makes the fixpoint
hash-checkable across engines (same discipline as the battery's exact
integer cents).

Scale shape per iteration: one hash join (ranks ⋈ edges on src — the
edge/degree tables are scope-persisted and materialize once) and one
map-side-combined aggregation on dst. Rank lineage is LINEAR in
iterations (each round references its predecessor once), so the few
rounds callers run compose lazily into the consumer's single action.
Operators whose rounds SELF-compose (``tree_roots`` pointer doubling —
2^r lineage copies without truncation) iterate through
``scoped.fixpoint`` instead, which checkpoints every round and stops
when a round changes nothing. No driver-side data moves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .scoped import checkpoint_scoped, fixpoint, persist_scoped

# 15 doublings reach depth 2^15, and one more confirms it. A local
# checkpoint keeps its source plan's size estimate, and a self-join
# multiplies the two sides' estimates, so each round squares it: past
# about 20 rounds the optimizer's BigInt arithmetic alone takes minutes.
_MAX_DOUBLINGS = 16


def symmetrize(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Undirected view of a directed edge list: both orientations of every
    distinct edge. Guarantees no dangling nodes among edge endpoints, so
    plain inner joins carry the full rank mass."""
    e = edges.select(src, dst).distinct()
    return e.unionByName(
        e.select(F.col(dst).alias(src), F.col(src).alias(dst))
    )


def pagerank_integer(
    edges: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = 1_000_000_000,
    src: str = "src",
    dst: str = "dst",
    validate_no_dangling: bool = True,
) -> DataFrame:
    """Integer PageRank over an already-symmetrized edge list.

    Per node: ``pr_0 = scale``; each iteration
    ``pr_{k+1} = (100-damping_pct)*scale DIV 100
    + damping_pct * sum_over_in_neighbors(pr_k DIV out_degree) DIV 100``.
    All operations are exact bigint arithmetic (floor division of
    non-negative values), so any engine computes identical ranks.
    Returns ``(node, pr)`` after ``iterations`` rounds.

    Input contract — ENFORCED: every destination must also appear as a
    source (what :func:`symmetrize` guarantees). A raw directed graph
    violating this would silently bleed rank mass through the inner joins
    (dangling nodes absorb contributions but emit none, and nodes with no
    in-edges vanish from the output). ``validate_no_dangling=True`` (the
    default) spends one anti-join count on the persisted edge list to
    raise instead; pass ``False`` only when the caller constructed the
    edges via :func:`symmetrize` in the same plan and wants the check's
    job back.
    """
    e = persist_scoped("pagerank_edges", edges.select(src, dst))
    deg = persist_scoped(
        "pagerank_deg", e.groupBy(src).agg(F.count("*").alias("__deg"))
    )
    if validate_no_dangling:
        dangling = (
            e.select(F.col(dst).alias("node"))
            .distinct()
            .join(deg.select(F.col(src).alias("node")), "node", "left_anti")
            .count()
        )
        if dangling:
            raise ValueError(
                f"pagerank_integer: {dangling} destination node(s) never "
                "appear as a source — the edge list is not symmetrized, "
                "and inner joins would silently drop their rank mass. "
                "Run the edges through symmetrize() first (or pass "
                "validate_no_dangling=False if symmetry is guaranteed "
                "by construction)."
            )
    base = (100 - damping_pct) * scale // 100
    ranks = deg.select(
        F.col(src).alias("node"), F.lit(scale).cast("long").alias("pr")
    )
    for _ in range(iterations):
        contrib = (
            e.join(deg, src)
            .join(ranks, F.col(src) == F.col("node"))
            .select(
                F.col(dst).alias("__to"),
                F.expr("pr DIV __deg").alias("__c"),
            )
        )
        ranks = (
            contrib.groupBy(F.col("__to").alias("node"))
            .agg(F.sum("__c").alias("__s"))
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(f"({damping_pct} * __s) DIV 100")
                ).cast("long").alias("pr"),
            )
        )
    return ranks


def knn_sparsify(
    weighted_edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Degree-cap a weighted directed edge list: keep each node's top-``k``
    strongest out-edges (weight desc, then dst asc — pinned total order),
    then fold to distinct undirected edges oriented ``a < b``.

    This is THE scale guard for co-occurrence / similarity graphs: raw
    co-occurrence saturates toward a complete graph as the corpus grows
    (measured on the testdata: the supplier co-supply graph is complete at
    every SF), which makes any downstream wedge join quadratic. A kNN cap
    bounds edges at ``k·n`` and wedges at ``(2k)²·n`` — linear in nodes
    forever. One shuffle (hash on ``src``) for the per-node top-k window;
    the orient+distinct reuses the same partitioning post-AQE.
    """
    w = Window.partitionBy(src).orderBy(F.desc(weight), F.asc(dst))
    kept = (
        weighted_edges.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b")
        )
        .distinct()
    )
    return kept


def triangle_counts(edges_ab: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over an oriented edge list
    ``(a, b)`` with ``a < b`` and no duplicates.

    Wedge join: e1(a,b) ⋈ e2(b,c) enumerates each ordered wedge a<b<c
    exactly once; the closure probe e3(a,c) confirms the triangle. Every
    triangle is found once (its vertices sorted), so per-node counts are
    exact. With a kNN-capped input (degree ≤ 2k) the wedge set is linear
    in nodes and both joins broadcast the edge list at small scale /
    shuffle-hash at 100 TB. Returns ``(node, n_triangles)`` for nodes in
    ≥1 triangle.

    The edge list is referenced three times (e1/e2/e3): ``localCheckpoint``
    materializes it once (it is tiny after the kNN cap — ≤ k·n rows) so the
    upstream weighting/sparsification pipeline doesn't replay per
    reference. Per-node counts explode the triangle rows instead of a
    3-way union, which would replay the wedge join three times.
    """
    edges = checkpoint_scoped(edges_ab)
    e1 = edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = edges.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = edges.select(F.col("a").alias("x"), F.col("b").alias("z"))
    nodes = (
        e1.join(e2, "y")
        .join(e3, ["x", "z"])
        .select(F.explode(F.array("x", "y", "z")).alias("node"))
    )
    return nodes.groupBy("node").agg(
        F.count("*").cast("bigint").alias("n_triangles")
    )


def tree_roots(
    parents: DataFrame,
    child: str = "child",
    parent: str = "parent",
) -> DataFrame:
    """Root and depth of every node in a forest, by pointer doubling —
    the distributed answer to ``WITH RECURSIVE`` ancestor walks.

    ``parents`` is one row per node: ``(child, parent)`` with parent NULL
    for roots. State rows ``(node, anc, depth)`` hold the farthest known
    ancestor and its exact distance; each round composes the state with
    itself (``state.anc ⋈ state.node``), DOUBLING the reach — a depth-D
    forest converges in ⌈log₂D⌉ rounds, not D, and one more round
    confirms it. Roots map to themselves at distance 0, making
    composition idempotent at the top. The rounds run through
    ``scoped.fixpoint`` with Σdepth as progress: a row's depth strictly
    grows whenever its ancestor moves, so an unchanged sum means no row
    changed. A walk still moving after ``_MAX_DOUBLINGS`` rounds (a
    cycle, or a chain deeper than 2^15) raises ``RuntimeError`` rather
    than return a partial walk. All arithmetic is exact integers.

    OPEN forests (a parent value that never appears as a node) are
    legal: the composition is a LEFT join, and a dangling ancestor
    terminates its chain — the node reports that ancestor as its root
    at the distance already accumulated, never drops the row. Callers
    that need a walk through vertices absent from their base table must
    still materialize the closure (see hierarchy_root_depth's digit
    closure) — this operator walks the rows it is given.

    Returns ``(node, root, depth)``.
    """

    def _double(state: DataFrame) -> DataFrame:
        jump = state.toDF("j_node", "j_anc", "j_depth")
        return state.join(jump, F.col("anc") == F.col("j_node"), "left").select(
            "node",
            F.coalesce("j_anc", "anc").alias("anc"),
            (F.col("depth") + F.coalesce("j_depth", F.lit(0))).alias("depth"),
        )

    state, _, converged = fixpoint(
        "tree_roots",
        parents.select(
            F.col(child).alias("node"),
            F.coalesce(F.col(parent), F.col(child)).alias("anc"),
            F.when(F.col(parent).isNull(), 0).otherwise(1).alias("depth"),
        ),
        _double,
        F.sum(F.col("depth").cast("decimal(38,0)")),
        _MAX_DOUBLINGS,
    )
    if not converged:
        raise RuntimeError(
            f"tree_roots did not converge in {_MAX_DOUBLINGS} doublings: "
            "the parents table has a cycle or a chain deeper than 2^15"
        )
    return state.select(
        "node",
        F.col("anc").alias("root"),
        F.col("depth").cast("int").alias("depth"),
    )
