"""Hybrid retrieval fusion (RRF) — exact integer arithmetic of the
fusion, the missing-leg convention, query-by-example BM25 behavior, and
the composed hybrid ranking."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sports_data_integration_and_forecasting_pipeline_spark.operators.retrieval import (
    RRF_K,
    bm25_by_example,
    hybrid_rrf_topk,
    rrf_fuse,
)


def _leg(spark, rows):
    return spark.createDataFrame(
        rows, "q_id long, cand_id long, rank int"
    )


def test_rrf_exact_integer_contributions(spark):
    """score = Σ 1e6 div (60 + rank), exact — rank 1 in both legs gives
    2·16393, rank 1 + rank 2 gives 16393 + 16129."""
    a = _leg(spark, [(0, 10, 1), (0, 11, 2)])
    b = _leg(spark, [(0, 10, 1), (0, 12, 1)])
    got = {
        r["cand_id"]: (r["rank"], r["rrf_e6"], r["n_legs"])
        for r in rrf_fuse([a, b], k=10).collect()
    }
    c1 = 1_000_000 // (RRF_K + 1)  # 16393
    c2 = 1_000_000 // (RRF_K + 2)  # 16129
    assert got[10] == (1, 2 * c1, 2)
    assert got[12] == (2, c1, 1)  # single leg still scores
    assert got[11] == (3, c2, 1)


def test_rrf_tiebreak_and_topk(spark):
    """Equal scores resolve by cand_id asc; k cuts the fused list."""
    a = _leg(spark, [(0, 5, 1), (0, 3, 1)])  # impossible in one real
    # leg (dup rank) but legal input: both get the same contribution
    got = [r["cand_id"] for r in rrf_fuse([a], k=1).collect()]
    assert got == [3]


def test_rrf_empty_legs_guard(spark):
    with pytest.raises(ValueError, match="at least one leg"):
        rrf_fuse([])


def test_bm25_by_example_duplicate_ranks_first(spark):
    """A verbatim copy of the query document shares every term with it
    at identical tf — it must outrank partial matches; the query doc
    itself is excluded."""
    rows = [
        (0, "alpha beta gamma delta"),
        (1, "alpha beta gamma delta"),   # exact copy of the query
        (2, "alpha beta zz1 zz2"),       # partial
        (3, "qq1 qq2 qq3 qq4"),          # disjoint
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["cand_id"]: r["rank"]
        for r in bm25_by_example(df, F.col("doc_id") == 0).collect()
    }
    assert got[1] == 1
    assert got[2] == 2
    assert 0 not in got      # self excluded
    assert 3 not in got      # no shared term -> never scored


def test_hybrid_rrf_agrees_when_legs_agree(spark):
    """A candidate that is BOTH the lexical and the dense nearest
    neighbour fuses to rank 1 with contributions from both legs."""
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),
            (1, "alpha beta gamma delta"),
            (2, "alpha zz1 zz2 zz3"),
            (3, "qq1 qq2 qq3 qq4"),
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.99, 0.1, 0.0]),
            (2, [0.5, 0.8, 0.0]),
            (3, [0.0, 0.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["rank"]: (r["cand_id"], r["n_legs"])
        for r in hybrid_rrf_topk(
            docs,
            emb,
            query_pred_doc=F.col("doc_id") == 0,
            query_pred_vec=F.col("vec_id") == 0,
            n_cand=3,
            k=3,
        ).collect()
    }
    assert out[1] == (1, 2)
    # doc 3 shares no term: dense-only, one leg
    assert all(n == 1 for c, n in out.values() if c == 3)


def _mmr_model(rel, sims, k, lam_num=7, lam_den=10):
    """Reference MMR: rel = {cand: rel_e6}, sims = {(a,b): sim_e6}."""
    sel, out = [], []
    remaining = dict(rel)
    first = max(remaining, key=lambda c: (remaining[c], -c))
    out.append((1, first, lam_num * remaining.pop(first)))
    sel.append(first)
    mu = lam_den - lam_num
    for r in range(2, k + 1):
        if not remaining:
            break
        best, bs = None, None
        for c in sorted(remaining):
            mx = max(sims[(c, s)] for s in sel)
            s_ = lam_num * remaining[c] - mu * mx
            if bs is None or s_ > bs:
                best, bs = c, s_
        out.append((r, best, bs))
        remaining.pop(best)
        sel.append(best)
    return out


def test_mmr_rerank_matches_model(spark):
    """MMR over a tiny embedding set vs the reference greedy model —
    including the case where the 2nd-most-relevant candidate is nearly
    identical to the 1st pick and must be displaced by a diverse one."""
    import math

    from sports_data_integration_and_forecasting_pipeline_spark.operators.retrieval import (
        mmr_rerank_topk,
    )

    vecs = {
        0: [1.0, 0.0, 0.0],         # query
        1: [0.99, 0.14, 0.0],       # very relevant
        2: [0.985, 0.17, 0.0],      # very relevant AND near-dup of 1
        3: [0.7, 0.7, 0.1],         # less relevant, diverse
        4: [0.6, -0.8, 0.0],        # diverse
    }
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    got = sorted(
        (r["mmr_rank"], r["cand_id"], r["score_e7"])
        for r in mmr_rerank_topk(
            df, F.col("vec_id") == 0, n_cand=4, k=3, lam_num=5
        ).collect()
    )

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return math.floor(d / (na * nb) * 1e6 + 0.5)

    rel = {c: cos(vecs[0], vecs[c]) for c in (1, 2, 3, 4)}
    sims = {
        (a, b): cos(vecs[a], vecs[b])
        for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a != b
    }
    want = sorted(_mmr_model(rel, sims, 3, lam_num=5))
    assert got == want
    # the diversity property at λ=0.5: rank 2 must NOT be the near-dup
    # candidate 2 (its max-sim penalty vs the rank-1 pick eats the
    # relevance edge); a diverse candidate displaces it
    by_rank = {r: c for r, c, _ in got}
    assert by_rank[1] == 1 and by_rank[2] not in (2,)


def test_mmr_guards(spark):
    from sports_data_integration_and_forecasting_pipeline_spark.operators.retrieval import (
        mmr_rerank_topk,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="lam_num"):
        mmr_rerank_topk(df, F.col("vec_id") == 0, lam_num=0)
    with pytest.raises(ValueError, match="k .* must be <= n_cand"):
        mmr_rerank_topk(df, F.col("vec_id") == 0, n_cand=3, k=5)


def _kernel_frames(rel, sims):
    import pandas as pd

    cand = pd.DataFrame(
        {"cand_id": list(rel), "rel_e6": list(rel.values())}
    )
    sm = pd.DataFrame(
        [(a, b, s) for (a, b), s in sims.items()],
        columns=["ca", "cb", "sim_e6"],
    )
    return cand, sm


def test_mmr_greedy_single_candidate():
    """n_cand=1: one candidate and no pairs. k=1 picks it on relevance
    alone; a larger k stops when the candidates run out."""
    from sports_data_integration_and_forecasting_pipeline_spark.operators.retrieval import (
        mmr_greedy,
    )

    cand, sm = _kernel_frames({5: 900_000}, {})
    for k in (1, 3):
        out = mmr_greedy((7,), cand, sm, k, 7, 3)
        assert out.values.tolist() == [[7, 1, 5, 6_300_000]]


def test_mmr_greedy_missing_pair_raises():
    """The kernel matches the reference model on a complete pair frame,
    and a frame missing one ordered pair raises ValueError naming the
    query and the pair instead of a bare KeyError."""
    from sports_data_integration_and_forecasting_pipeline_spark.operators.retrieval import (
        mmr_greedy,
    )

    rel = {1: 990_000, 2: 985_000, 3: 700_000, 4: 600_000}
    sims = {
        (a, b): 400_000 + 100_000 * (a + b) % 500_000
        for a in rel
        for b in rel
        if a != b
    }
    out = mmr_greedy((0,), *_kernel_frames(rel, sims), 3, 7, 3)
    got = [(r, c, s) for _, r, c, s in out.itertuples(index=False)]
    assert got == _mmr_model(rel, sims, 3)

    del sims[(2, 1)]
    with pytest.raises(ValueError, match=r"q_id 0 .*pair \(2, 1\)"):
        mmr_greedy((0,), *_kernel_frames(rel, sims), 3, 7, 3)
