"""Round-15 pins: the novelty_e6 int64-headroom boundary (r14 advice
items 1-2). The degrade-to-NULL branch added in r14 (commit dcb0520)
was only ever exercised implicitly below the bound; these tests feed
pre-aggregated counts ACROSS the boundary so a regression in the guard
expression fails loudly, and pin that the DuckDB oracle mirrors the
same bound (engine and oracle must agree on degenerate inputs)."""

from __future__ import annotations

import duckdb

from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import (
    NOVELTY_E6_NOVEL_BOUND,
    novelty_e6_expr,
)


def test_novelty_bound_value():
    # 2^63 div 1e6 exactly. The guard (novel < BOUND) is conservative
    # by exactly one value: 1e6*BOUND = 9223372036854000000 still fits
    # int64, and the first wrapping count is BOUND+1. One representable
    # value sacrificed for a bound that is a clean power-of-two
    # division, mirrored literally in the DuckDB oracle.
    assert NOVELTY_E6_NOVEL_BOUND == 9223372036854
    assert 1_000_000 * NOVELTY_E6_NOVEL_BOUND < 2**63
    assert 1_000_000 * (NOVELTY_E6_NOVEL_BOUND + 1) >= 2**63


def test_novelty_e6_degrades_to_null_past_bound(spark):
    b = NOVELTY_E6_NOVEL_BOUND
    rows = [
        # (heldout, novel, expect_null)
        (10, 4, False),                 # ordinary case: 400000
        (b + 5, b - 1, False),          # largest in-bound novel count
        (b + 5, b, True),               # first past-bound count: NULL
        (2 * b, b + 7, True),           # deep past-bound: NULL
        (0, 0, True),                   # zero heldout: NULL (no rate)
    ]
    df = spark.createDataFrame(
        [(int(h), int(n)) for h, n, _ in rows],
        "heldout_ngrams bigint, novel_ngrams bigint",
    )
    got = df.select(
        "heldout_ngrams",
        "novel_ngrams",
        novelty_e6_expr("heldout_ngrams", "novel_ngrams"),
    ).collect()
    by_input = {(r.heldout_ngrams, r.novel_ngrams): r.novelty_e6 for r in got}
    for h, n, expect_null in rows:
        v = by_input[(h, n)]
        if expect_null:
            assert v is None, (h, n, v)
        else:
            assert v == 1_000_000 * n // h, (h, n, v)
    # the in-bound boundary value is exact integer floor division
    assert by_input[(b + 5, b - 1)] == 1_000_000 * (b - 1) // (b + 5)


def test_oracle_mirrors_novelty_bound():
    """The ngram_novelty_audit oracle SQL must carry the SAME bound so
    Spark and DuckDB agree past it (r14 advice item 1). Checked two
    ways: the literal appears in the SQL, and a DuckDB query using the
    oracle's CASE shape degrades to NULL exactly at the bound."""
    from sports_data_integration_and_forecasting_pipeline_spark.plans.battery import (
        QUERIES,
    )

    sql = QUERIES["ngram_novelty_audit"].oracle
    assert str(NOVELTY_E6_NOVEL_BOUND) in sql
    b = NOVELTY_E6_NOVEL_BOUND
    got = duckdb.sql(
        f"""
        SELECT heldout, novel,
               CAST(CASE WHEN heldout > 0 AND novel < {b} THEN
                      1000000 * novel // heldout
                    END AS BIGINT) AS novelty_e6
        FROM (VALUES (10, 4), ({b} + 5, {b} - 1), ({b} + 5, {b}), (0, 0))
             t(heldout, novel)
        ORDER BY heldout, novel
        """
    ).fetchall()
    by_input = {(h, n): v for h, n, v in got}
    assert by_input[(10, 4)] == 400_000
    assert by_input[(b + 5, b - 1)] == 1_000_000 * (b - 1) // (b + 5)
    assert by_input[(b + 5, b)] is None
    assert by_input[(0, 0)] is None
