"""Integer PageRank: structural properties on a hand-built graph (the
battery's oracle run checks exact parity with DuckDB's unrolled CTEs)."""

import pyspark.sql.functions as F

from sports_data_integration_and_forecasting_pipeline_spark.operators.graph import (
    pagerank_integer,
    symmetrize,
)


def _star_edges(spark, n_leaves=5):
    rows = [(0, i) for i in range(1, n_leaves + 1)]
    return spark.createDataFrame(rows, "src long, dst long")


def test_star_center_dominates(spark):
    ranks = pagerank_integer(symmetrize(_star_edges(spark)), iterations=3)
    got = {r["node"]: r["pr"] for r in ranks.collect()}
    assert len(got) == 6
    center, leaves = got[0], [got[i] for i in range(1, 6)]
    assert len(set(leaves)) == 1  # symmetry: identical leaves
    assert center > leaves[0]


def test_rank_mass_is_conserved_up_to_floor_loss(spark):
    """Each iteration redistributes at most `nodes * 100` micro-units of
    floor loss; total never grows."""
    sym = symmetrize(_star_edges(spark))
    n = 6
    total0 = n * 1_000_000_000
    for it in (1, 2, 3):
        total = (
            pagerank_integer(sym, iterations=it)
            .agg(F.sum("pr")).collect()[0][0]
        )
        assert total <= total0
        assert total >= total0 - it * n * 200  # floor-division loss bound


def test_dangling_directed_graph_raises(spark):
    """Input contract: a raw directed edge list (leaves are dst-only, so
    they dangle) must raise instead of silently losing rank mass."""
    import pytest

    with pytest.raises(ValueError, match="not symmetrized"):
        pagerank_integer(_star_edges(spark), iterations=1)
    # symmetrized form of the same graph passes the guard
    assert pagerank_integer(symmetrize(_star_edges(spark)), 1).count() == 6


def test_deterministic_across_partitionings(spark):
    e = symmetrize(_star_edges(spark))
    a = {(r["node"], r["pr"]) for r in pagerank_integer(e, 2).collect()}
    b = {
        (r["node"], r["pr"])
        for r in pagerank_integer(e.repartition(7), 2).collect()
    }
    assert a == b


# --- kNN sparsification + triangle counting --------------------------------


def _weighted_edges(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long, w long")


def test_knn_sparsify_keeps_topk_and_orients(spark):
    from sports_data_integration_and_forecasting_pipeline_spark.operators.graph import knn_sparsify

    # node 1 has 3 out-edges; k=2 keeps the two heaviest (w desc, dst asc)
    rows = [(1, 2, 10), (1, 3, 10), (1, 4, 1), (4, 1, 99)]
    got = {
        (r["a"], r["b"])
        for r in knn_sparsify(_weighted_edges(spark, rows), k=2).collect()
    }
    # ties at w=10 break by dst asc -> keep (1,2),(1,3); (4,1) orients to (1,4)
    assert got == {(1, 2), (1, 3), (1, 4)}


def test_triangle_counts_exact_on_known_graph(spark):
    from sports_data_integration_and_forecasting_pipeline_spark.operators.graph import triangle_counts

    # K4 on {1,2,3,4} has 4 triangles; each node sits in C(3,2)=3 of them.
    edges = spark.createDataFrame(
        [(a, b) for a in range(1, 5) for b in range(a + 1, 5)],
        "a long, b long",
    )
    got = {(r["node"], r["n_triangles"]) for r in triangle_counts(edges).collect()}
    assert got == {(1, 3), (2, 3), (3, 3), (4, 3)}


def test_triangle_free_graph_yields_empty(spark):
    from sports_data_integration_and_forecasting_pipeline_spark.operators.graph import triangle_counts

    # a path 1-2-3-4 has wedges but no closures
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "a long, b long")
    assert triangle_counts(edges).count() == 0


def test_knn_cap_bounds_degree(spark):
    from sports_data_integration_and_forecasting_pipeline_spark.operators.graph import knn_sparsify

    # complete weighted digraph on 8 nodes: cap k=2 -> <= 2 out-picks/node
    rows = [
        (a, b, (a * 7 + b) % 11 + 1)
        for a in range(8)
        for b in range(8)
        if a != b
    ]
    kept = knn_sparsify(_weighted_edges(spark, rows), k=2)
    assert kept.count() <= 16


# --- pointer-doubling tree roots -------------------------------------------


def test_tree_roots_known_forest(spark):
    from sports_data_integration_and_forecasting_pipeline_spark.operators.graph import tree_roots

    # forest: 1 <- 2 <- 3 <- 4 (chain), 10 (isolated root), 20 <- 21
    rows = [(1, None), (2, 1), (3, 2), (4, 3), (10, None), (20, None), (21, 20)]
    parents = spark.createDataFrame(rows, "child long, parent long")
    got = {
        (r["node"], r["root"], r["depth"])
        for r in tree_roots(parents).collect()
    }
    assert got == {
        (1, 1, 0), (2, 1, 1), (3, 1, 2), (4, 1, 3),
        (10, 10, 0), (20, 20, 0), (21, 20, 1),
    }


def test_tree_roots_doubling_covers_deep_chain(spark):
    from sports_data_integration_and_forecasting_pipeline_spark.operators.graph import tree_roots

    # depth-12 chain: 4 doublings reach 2^4=16 >= 12
    rows = [(1, None)] + [(i, i - 1) for i in range(2, 14)]
    parents = spark.createDataFrame(rows, "child long, parent long")
    got = dict(
        (r["node"], r["depth"]) for r in tree_roots(parents).collect()
    )
    assert got[13] == 12 and got[1] == 0
    roots = {r["root"] for r in tree_roots(parents).collect()}
    assert roots == {1}


def test_tree_roots_walks_a_chain_deeper_than_32(spark):
    """The doubling runs until a round changes nothing, not a fixed
    count: a 40-deep chain needs 6 doublings (2^6 = 64 >= 40), and five
    would leave node 41 at ancestor 9, depth 32."""
    from sports_data_integration_and_forecasting_pipeline_spark.operators.graph import tree_roots
    from sports_data_integration_and_forecasting_pipeline_spark.operators.scoped import (
        round_notes,
    )

    rows = [(1, None)] + [(i, i - 1) for i in range(2, 42)]
    parents = spark.createDataFrame(rows, "child long, parent long")
    got = {
        (r["node"], r["root"], r["depth"])
        for r in tree_roots(parents).collect()
    }
    assert got == {(i, 1, i - 1) for i in range(1, 42)}
    assert round_notes()[-1] == ("tree_roots", 7, True)


def test_tree_roots_raises_on_a_cycle(spark):
    """A cyclic parents table has no roots: the walk never settles, and
    that is an error, not a partial walk."""
    import pytest

    from sports_data_integration_and_forecasting_pipeline_spark.operators.graph import tree_roots

    parents = spark.createDataFrame([(1, 2), (2, 1)], "child long, parent long")
    with pytest.raises(RuntimeError, match="did not converge"):
        tree_roots(parents)


def test_tree_roots_open_forest_keeps_dangling_nodes(spark):
    """A parent value that never appears as a node (open forest) must
    TERMINATE the chain there, not silently drop the node — the r15 sf1
    sweep found the inner-join composition losing every row whose walk
    exits the node set (sparse key universes; dense test keys had
    masked it)."""
    from sports_data_integration_and_forecasting_pipeline_spark.operators.graph import tree_roots

    # 100 -> 99 (99 never appears as a node); 1 <- 2 as a closed pair
    rows = [(100, 99), (1, None), (2, 1)]
    parents = spark.createDataFrame(rows, "child long, parent long")
    got = {
        (r["node"], r["root"], r["depth"])
        for r in tree_roots(parents).collect()
    }
    assert got == {(100, 99, 1), (1, 1, 0), (2, 1, 1)}


def test_hierarchy_root_depth_sparse_keys_match_oracle(spark, tmp_path):
    """Entry-level regression for the sf1 replica finding: with SPARSE
    custkeys (offset blocks, intermediate digit-prefixes absent from the
    table) the engine must still walk the same number-chain the oracle's
    recursive CTE walks — the digit closure, not just the stored rows."""
    import duckdb

    from sports_data_integration_and_forecasting_pipeline_spark.plans import QUERIES
    from tests.oracle import compare

    # 0 is a real custkey in the driver testdata and is its own walk
    keys = [0, 3, 42, 15_000, 100_000_001, 100_014_999, 900_000_777]
    sf = str(tmp_path)
    spark.createDataFrame(
        [(k,) for k in keys], "c_custkey long"
    ).write.parquet(f"{sf}/customer.parquet")
    spec = QUERIES["hierarchy_root_depth"]
    got = spec.fn(spark, sf)
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW customer AS SELECT * FROM "
        f"'{sf}/customer.parquet/*.parquet'"
    )
    problems = compare(got, con.sql(spec.oracle).df())
    con.close()
    assert problems == [], problems


# --- k-core peeling ---------------------------------------------------------


def test_kcore_survivors_have_min_degree(spark):
    from sports_data_integration_and_forecasting_pipeline_spark.plans.battery import QUERIES

    from .conftest import TESTDATA_SMOKE

    rows = QUERIES["kcore_cosupply_peel"].fn(spark, TESTDATA_SMOKE).collect()
    # the defining 3-core property after the peels the entry runs
    assert all(r["core_degree"] >= 3 for r in rows)
