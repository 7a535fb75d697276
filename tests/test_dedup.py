"""Unit tests for dedup operators (SURVEY §7.3-7 north-star scope) on tiny
hand-built corpora."""

from __future__ import annotations

from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
    release_caches,
    exact_dup_groups,
    minhash_lsh_pairs,
    minhash_signatures,
    shingle_jaccard_pairs,
    simhash16,
    simhash_pairs,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dup_groups(spark):
    df = _docs(spark, [(1, "same text"), (2, "same text"), (3, "other")])
    got = {r["doc_id"]: r for r in exact_dup_groups(df).collect()}
    assert got[1]["canonical_id"] == 1 and not got[1]["is_duplicate"]
    assert got[2]["canonical_id"] == 1 and got[2]["is_duplicate"]
    assert got[3]["canonical_id"] == 3 and not got[3]["is_duplicate"]


def test_shingle_jaccard_identical_and_disjoint(spark):
    df = _docs(
        spark,
        [
            (1, "a b c d e"),  # shingles: abc bcd cde (3)
            (2, "a b c d e"),  # identical -> jaccard 1.0
            (3, "x y z w"),  # disjoint -> no pair emitted
            (4, "a b c q r"),  # shares only "a b c" with 1,2
        ],
    )
    pairs = {
        (r["id_a"], r["id_b"]): r for r in shingle_jaccard_pairs(df).collect()
    }
    assert pairs[(1, 2)]["jaccard"] == 1.0 and pairs[(1, 2)]["n_common"] == 3
    # |A|=3, |B|=3, inter=1 -> 1/5
    assert pairs[(1, 4)]["jaccard"] == 1 / 5
    assert (2, 4) in pairs and not any(3 in p for p in pairs)


def test_prefix_join_equals_exhaustive_filtered(spark):
    """The prefix-filtered thresholded join must return EXACTLY the
    exhaustive join's pairs at or above the threshold — the prefix
    principle's no-recall-loss guarantee, checked on the real documents
    table (sf0.001) and at two thresholds."""
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        shingle_jaccard_prefix_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    full = {
        (r["id_a"], r["id_b"]): (r["n_common"], r["jaccard"])
        for r in shingle_jaccard_pairs(docs, max_df=100).collect()
    }
    for pct in (50, 80):
        got = {
            (r["id_a"], r["id_b"]): (r["n_common"], r["jaccard"])
            for r in shingle_jaccard_prefix_pairs(
                docs, max_df=100, threshold_pct=pct
            ).collect()
        }
        want = {
            k: v
            for k, v in full.items()
            if 100 * v[0] >= pct * round(v[0] / v[1])
        }
        assert got == want, (pct, len(got), len(want))
    release_caches()


def test_prefix_join_tiny_corpus(spark):
    df = _docs(
        spark,
        [
            (1, "a b c d e"),
            (2, "a b c d e"),  # identical -> jaccard 1.0, must survive
            (3, "a b c q r"),  # J(1,3) = 1/5 -> below 0.5, pruned
        ],
    )
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        shingle_jaccard_prefix_pairs,
    )

    got = {
        (r["id_a"], r["id_b"]): r
        for r in shingle_jaccard_prefix_pairs(df).collect()
    }
    assert set(got) == {(1, 2)}
    assert got[(1, 2)]["jaccard"] == 1.0 and got[(1, 2)]["n_common"] == 3
    release_caches()


def test_shingle_jaccard_hot_shingle_cap(spark):
    # With max_df=1 every shared shingle is "hot" -> no pairs survive.
    df = _docs(spark, [(1, "a b c"), (2, "a b c")])
    assert shingle_jaccard_pairs(df, max_df=1).count() == 0
    assert shingle_jaccard_pairs(df, max_df=2).count() == 1


def test_minhash_identical_docs_match_fully(spark):
    df = _docs(spark, [(1, "w x y z q"), (2, "w x y z q"), (3, "entirely different words here")])
    sig = minhash_signatures(df).collect()
    by_id = {r["doc_id"]: [r[f"mh{i}"] for i in range(16)] for r in sig}
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[3]
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in minhash_lsh_pairs(df).collect()}
    assert pairs[(1, 2)] == 1.0


def test_incremental_minhash_equals_full_recompute_subset(spark):
    """Differential: deduping a new snapshot against the persisted corpus
    signature table must produce exactly the full recompute's pairs that
    touch a new doc — same pairs, same est_jaccard values."""
    from pyspark.sql import functions as F

    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        incremental_minhash_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)

    inc = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in incremental_minhash_pairs(
            minhash_signatures(corpus), new
        ).collect()
    }
    full = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(docs).collect()
        if r["id_a"] % 5 == 0 or r["id_b"] % 5 == 0
    }
    assert inc == full
    assert inc, "expected at least one near-dup pair touching the snapshot"


def test_compact_signatures_dedups_and_tombstones(spark):
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        compact_signatures,
    )

    docs = _docs(
        spark,
        [(1, "a b c d"), (2, "e f g h"), (3, "i j k l"), (4, "m n o p")],
    )
    full = minhash_signatures(docs)
    s1 = minhash_signatures(docs.filter("doc_id IN (1, 2)"))
    s2 = minhash_signatures(docs.filter("doc_id IN (2, 3)"))  # 2 re-ingested
    s3 = minhash_signatures(docs.filter("doc_id = 4"))
    tomb = spark.createDataFrame([(3,)], "doc_id long")
    got = compact_signatures([s1, s2, s3], tomb)
    assert sorted(r["doc_id"] for r in got.select("doc_id").collect()) == [1, 2, 4]
    # compacted rows equal the full-recompute signatures for live docs
    want = {r["doc_id"]: r for r in full.filter("doc_id <> 3").collect()}
    for r in got.collect():
        assert r == want[r["doc_id"]]


def test_compact_signatures_versioned_keeps_latest(spark):
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        compact_signatures,
    )

    s1 = spark.createDataFrame([(1, 10, 1)], "doc_id long, mh0 long, v int")
    s2 = spark.createDataFrame([(1, 99, 2)], "doc_id long, mh0 long, v int")
    got = compact_signatures([s1, s2], version_col="v").collect()
    assert len(got) == 1 and got[0]["mh0"] == 99 and got[0]["v"] == 2


def test_simhash_deterministic_and_bounded(spark):
    df = _docs(spark, [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "delta")])
    got = {r["doc_id"]: r["simhash16"] for r in simhash16(df).collect()}
    assert got[1] == got[2]
    assert 0 <= got[1] < 2**16 and 0 <= got[3] < 2**16


def test_simhash_pairs_finds_exact_dups(spark):
    df = _docs(spark, [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")])
    rows = simhash_pairs(df).collect()
    assert len(rows) == 1
    assert (rows[0]["id_a"], rows[0]["id_b"], rows[0]["hamming"]) == (1, 2, 0)


def test_single_token_doc_shingles(spark):
    # < n tokens -> one short shingle; no crash, no pair vs unrelated doc.
    df = _docs(spark, [(1, "solo"), (2, "solo"), (3, "other thing")])
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in shingle_jaccard_pairs(df).collect()}
    assert pairs == {(1, 2): 1.0}


def test_no_cache_accumulation_across_invocations(spark):
    """Repeated pair-operator calls must not leak cached RDDs: the scoped
    persist registry holds at most one cache per role, and release_caches
    drops them all (VERDICT r1 item 7)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    baseline = len(spark.sparkContext._jsc.getPersistentRDDs())
    for _ in range(3):
        shingle_jaccard_pairs(docs).count()
        simhash_pairs(docs).count()
    held = len(spark.sparkContext._jsc.getPersistentRDDs()) - baseline
    assert held <= 2  # one per role, not one per invocation
    release_caches()
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) <= baseline


def test_connected_components_hand_graph(spark):
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        connected_components,
    )

    # components: {1,2,3,7} (chain 1-2, 2-3, 3-7), {4,5}, singletons 6, 8
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (7, 3), (4, 5)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in range(1, 9)], "doc_id long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(edges, nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 7: 1, 4: 4, 5: 4, 6: 6, 8: 8}


def test_connected_components_compresses_a_64_chain_in_7_rounds(spark):
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        connected_components,
    )
    from sports_data_integration_and_forecasting_pipeline_spark.operators.scoped import (
        round_notes,
    )

    n = 64
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    chain = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["id_a", "id_b"])
    # without path compression a 64-chain needs ~n rounds; with it,
    # min-label propagation settles in 6 and the 7th changes nothing
    out = connected_components(chain, nodes, max_iter=8).collect()
    assert all(r["cluster_id"] == 0 for r in out) and len(out) == n
    assert round_notes()[-1] == ("connected_components", 7, True)


def test_connected_components_materializes_edge_list_once(spark, monkeypatch):
    """Min-label propagation joins the symmetrized edge list on EVERY
    round; an un-materialized edge list re-executes its entire upstream
    pair-generation pipeline per round (~1 s at sf0.1, ~a minute PER
    ROUND at sf1). Pin the contract, not the mechanism: the edge list
    (columns n, m) is materialized exactly once, before the loop, under
    the scoped-persist role ``cc_sym``."""
    from sports_data_integration_and_forecasting_pipeline_spark.operators import dedup

    persisted: list[tuple[str, tuple[str, ...]]] = []
    orig = dedup.persist_scoped

    def recording(role, df):
        persisted.append((role, tuple(df.columns)))
        return orig(role, df)

    monkeypatch.setattr(dedup, "persist_scoped", recording)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 99)], "doc_id long"
    )
    out = {
        r.doc_id: r.cluster_id
        for r in dedup.connected_components(edges, nodes).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}
    assert [c for r, c in persisted if r == "cc_sym"] == [("n", "m")], persisted


def test_connected_components_raises_when_not_converged(spark):
    """Running out of rounds is an error, not a partial labelling: a
    1,024-chain needs 11 rounds, so three rounds must raise."""
    import pytest

    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        connected_components,
    )

    n = 1024
    nodes = spark.range(n).withColumnRenamed("id", "doc_id")
    chain = spark.range(n - 1).selectExpr("id AS id_a", "id + 1 AS id_b")
    with pytest.raises(RuntimeError, match="did not converge in 3 rounds"):
        connected_components(chain, nodes, max_iter=3)


def test_normalized_dedup_catches_case_punct_space_variants(spark):
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import normalized_dup_groups

    df = _docs(
        spark,
        [
            (1, "Hello, World!"),
            (2, "hello world"),
            (3, "HELLO   world."),
            (4, "goodbye world"),
        ],
    )
    got = {r["doc_id"]: r for r in normalized_dup_groups(df).collect()}
    assert got[1]["canonical_id"] == got[2]["canonical_id"] == got[3]["canonical_id"] == 1
    assert got[1]["in_dup_group"] and got[3]["in_dup_group"]
    assert not got[4]["in_dup_group"] and got[4]["canonical_id"] == 4


def test_sorted_neighborhood_candidate_set_is_exactly_the_rank_band(spark):
    """r7 SNM blocker contract: over n rows and window w the candidate
    set is EXACTLY the rank-banded pairs — n·w − w(w+1)/2 of them, each
    with rank_gap ∈ [1, w] — and a near-dup that sorts adjacently is
    among them with its payload columns a_/b_-prefixed. A sort column
    that repeats the id/payload names must not duplicate columns."""
    import pyspark.sql.functions as F

    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        release_caches,
        sorted_neighborhood_candidates,
    )

    n, w = 50, 3
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.format_string("prefix-%03d suffix", F.col("id")).alias("text"),
    )
    cand = sorted_neighborhood_candidates(
        df,
        ["text", "doc_id"],  # 'text' is BOTH a sort col and a payload col
        window=w,
        id_col="doc_id",
        payload_cols=("text",),
        cache_role="test_snm",
    )
    rows = cand.collect()
    assert len(rows) == n * w - w * (w + 1) // 2
    assert set(cand.columns) == {"a_doc_id", "a_text", "b_doc_id", "b_text", "rank_gap"}
    # %03d formatting makes text order == id order: pair (i, i+g) exists
    # for every gap g <= w, carrying both texts
    got = {(r["a_doc_id"], r["b_doc_id"]): r for r in rows}
    assert all(1 <= r["rank_gap"] <= w for r in rows)
    r = got[(7, 9)]
    assert r["rank_gap"] == 2
    assert r["a_text"] == "prefix-007 suffix" and r["b_text"] == "prefix-009 suffix"
    assert (7, 7 + w + 1) not in got  # beyond the band: never a candidate
    release_caches()


def test_sorted_neighborhood_rejects_nonpositive_window(spark):
    """r8 ADVICE guard: window=0 used to die deep in the plan at
    element_at(__succ, 0); it must be a named precondition failure."""
    import pytest
    from pyspark.sql import functions as F

    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        sorted_neighborhood_candidates,
    )

    df = spark.range(5).select(F.col("id").alias("doc_id"))
    for bad in (0, -2):
        with pytest.raises(ValueError, match="window must be >= 1"):
            sorted_neighborhood_candidates(
                df, ["doc_id"], window=bad, id_col="doc_id"
            )


def test_soft_dedup_weights(spark):
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import soft_dedup_weights

    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "same text"), (4, "unique")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["multiplicity"], r["weight_e6"])
           for r in soft_dedup_weights(df).collect()}
    assert out == {1: (3, 333333), 2: (3, 333333), 3: (3, 333333),
                   4: (1, 1000000)}


def test_lsh_recall_audit_buckets_and_hits(spark):
    """Near-identical docs (high Jaccard) MUST be surfaced by the banded
    index (recall 1 in the top decile); the bucket arithmetic is exact
    integers (10*nc div denom)."""
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import lsh_recall_audit

    base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 wa wb wc wd we wf"
    rows = [
        (0, base),
        (1, base),                       # exact dup -> jaccard 1.0
        (2, base + " zz"),               # near dup
        (3, "q0 q1 q2 q3 q4 q5 q6 q7"),  # unrelated
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["j_bucket"]: (r["n_true"], r["n_hit"], r["recall_e6"])
           for r in lsh_recall_audit(df, min_decile=3).collect()}
    # the exact dup lands in bucket 10 and must be hit
    assert got[10] == (1, 1, 1_000_000)
    # every reported bucket satisfies 0 <= recall <= 1 and hits <= true
    for n_true, n_hit, rec in got.values():
        assert 0 <= n_hit <= n_true
        assert rec == 1_000_000 * n_hit // n_true
