"""Lifetime of materialized intermediates: every persist and local
checkpoint an entry makes is owned by the scoped registry, so timing an
entry (builder, action, then ``release_caches``) leaves no persistent RDD
behind, while results built before their consumers run stay readable."""

from __future__ import annotations

import pytest

from bench import time_entry
from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
    connected_components,
)
from sports_data_integration_and_forecasting_pipeline_spark.operators.graph import (
    triangle_counts,
)
from sports_data_integration_and_forecasting_pipeline_spark.plans.battery import QUERIES

from .conftest import TESTDATA_SMOKE


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.mark.parametrize(
    "name",
    [
        "dedup_cluster_assign",
        "pagerank_customer_supplier",
        "kcore_cosupply_peel",
        "hierarchy_root_depth",
        "triangle_knn_cosupply",
        "curation_pipeline_v6",
        "embed_ivfpq_precoded_topk",
    ],
)
def test_timed_entry_leaves_no_persistent_rdd(spark, name):
    before = _persistent_rdd_ids(spark)
    time_entry(spark, QUERIES[name], TESTDATA_SMOKE)
    assert _persistent_rdd_ids(spark) - before == set()


def test_two_pending_results_both_stay_readable(spark):
    """Checkpoint roles are per call: building a second result must not
    free blocks the first one's lazy plan still reads."""
    edges = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 99)], "doc_id long"
    )
    other_edges = spark.createDataFrame([(5, 6)], "id_a long, id_b long")
    other_nodes = spark.createDataFrame([(5,), (6,)], "doc_id long")
    cc_a = connected_components(edges, nodes)
    cc_b = connected_components(other_edges, other_nodes)

    tri_edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "a long, b long"
    )
    tri_a = triangle_counts(tri_edges)
    tri_b = triangle_counts(tri_edges.filter("b < 4"))

    assert dict(cc_a.collect()) == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}
    assert dict(cc_b.collect()) == {5: 5, 6: 5}
    assert dict(tri_a.collect()) == {1: 1, 2: 1, 3: 1}
    assert dict(tri_b.collect()) == {1: 1, 2: 1, 3: 1}
