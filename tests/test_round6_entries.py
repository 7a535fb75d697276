"""Semantic invariants for the round-6 battery entries — properties the
hash-oracle can't see (it proves Spark == DuckDB, not that both are
right). Each test pins a mathematical property of the operator itself.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from sports_data_integration_and_forecasting_pipeline_spark.plans.battery import QUERIES

from .conftest import TESTDATA_SMOKE


def test_kl_divergence_properties(spark):
    rows = {
        r["lang"]: r for r in QUERIES["kl_term_drift"].fn(
            spark, TESTDATA_SMOKE
        ).collect()
    }
    # Gibbs' inequality: KL >= 0 for every slice; identical distributions
    # give exactly 0 — and 'en' vs itself is identical by construction
    assert all(r["kl_vs_en"] >= 0 for r in rows.values())
    assert rows["en"]["kl_vs_en"] == 0.0
    # every slice shares the union vocabulary size
    assert len({r["vocab_size"] for r in rows.values()}) == 1


def test_bigram_perplexity_bounded_by_vocab(spark):
    out = QUERIES["text_bigram_perplexity"].fn(spark, TESTDATA_SMOKE)
    rows = out.collect()
    assert rows, "no documents scored"
    # perplexity is bounded by the worst-case event probability: with
    # 0.25 unigram interpolation, p >= 0.25/N per instance, so
    # ppl <= 4N (loose but engine-independent); and ppl >= 1 always
    n_terms = (
        QUERIES["text_unigram_perplexity"].fn(spark, TESTDATA_SMOKE)
        .agg(F.sum("n_tokens")).collect()[0][0]
    )
    for r in rows:
        assert 1.0 <= r["ppl_e4"] / 1e4 <= 4.0 * n_terms
        assert r["n_bigrams"] >= 1


def test_trigram_support_sums_below_one(spark):
    out = QUERIES["frequent_event_trigrams"].fn(spark, TESTDATA_SMOKE)
    rows = out.collect()
    assert 0 < len(rows) <= 20
    assert sum(r["support"] for r in rows) <= 1.0 + 1e-9
    # pinned rank: strictly decreasing-or-tied counts in rank order
    by_rank = sorted(rows, key=lambda r: r["rank"])
    counts = [r["n"] for r in by_rank]
    assert counts == sorted(counts, reverse=True)


def test_zipf_fit_is_negative_slope(spark):
    row = QUERIES["zipf_rank_frequency_fit"].fn(
        spark, TESTDATA_SMOKE
    ).collect()[0]
    # frequency decreases with rank by construction (rank is ordered by
    # frequency), so the fitted log-log slope must be negative
    assert row["zipf_slope"] < 0
    assert row["vocab_size"] > 1


def test_pit_lookup_no_row_explosion_and_no_future_state(spark):
    ev = spark.read.parquet(f"{TESTDATA_SMOKE}/events.parquet")
    n_purchases = ev.filter(F.col("event_type") == "purchase").count()
    out = QUERIES["pit_state_lookup"].fn(spark, TESTDATA_SMOKE)
    rows = out.collect()
    # intervals partition each user's timeline: exactly one output row
    # per purchase (left join, never an expansion)
    assert len(rows) == n_purchases
    # leakage check: a matched state never starts after the purchase
    for r in rows:
        if r["state"] is not None:
            assert r["state_age_s"] >= 0
