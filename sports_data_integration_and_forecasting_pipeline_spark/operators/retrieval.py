"""Hybrid retrieval fusion — combining a lexical (BM25) and a dense
(embedding-cosine) ranking into one result list via Reciprocal Rank
Fusion (Cormack, Clarke & Büttcher, "Reciprocal Rank Fusion outperforms
Condorcet and individual Rank Learning Methods", SIGIR 2009 — public).
This is the retrieval stack every RAG / training-data-curation pipeline
runs in front of an LLM: each leg ranks independently, RRF needs only
the RANKS (no score calibration across legs), and the fused order is
remarkably robust to a weak leg.

No reference counterpart (the reference repo has no retrieval surface) —
north-star LLM-data-pipeline scope, like the dedup/ANN families.

Scale shape: each leg is the already-scaled operator it composes
(`similarity.cosine_topk` / the BM25 inverted-index join), both emitting
(q_id, cand_id, rank) for a BOUNDED query set; fusion itself is
leg-union → one (q_id, cand_id) aggregate → per-query WindowGroupLimit —
work proportional to |queries|·n_cand, independent of corpus size.

Determinism: RRF contributions are exact integers
(``1_000_000 div (k_rrf + rank)``), so fused scores and the (desc score,
cand_id) final order hash-match the DuckDB oracle with no float
boundary cases.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .scoped import persist_scoped

RRF_K = 60  # the paper's constant; pinned


def rrf_fuse(
    legs: list[DataFrame], k: int = 10, k_rrf: int = RRF_K
) -> DataFrame:
    """Fuse ranked lists: each leg is ``(q_id, cand_id, rank)`` (1-based
    ranks); the fused score is ``Σ_legs 1_000_000 div (k_rrf + rank)``
    — exact integer arithmetic. Returns
    ``(q_id, rank, cand_id, rrf_e6, n_legs)`` with the final rank by
    descending score, cand_id tiebreak, top ``k`` per query.

    A candidate missing from a leg simply contributes nothing for that
    leg (the standard RRF convention); ``n_legs`` reports in how many
    legs it appeared."""
    if not legs:
        raise ValueError("rrf_fuse: need at least one leg")
    allr = reduce(
        DataFrame.unionByName,
        [df.select("q_id", "cand_id", "rank") for df in legs],
    )
    scored = (
        allr.withColumn(
            "__c", F.expr(f"1000000 div ({k_rrf} + rank)").cast("bigint")
        )
        .groupBy("q_id", "cand_id")
        .agg(
            F.sum("__c").cast("bigint").alias("rrf_e6"),
            F.count("*").cast("int").alias("n_legs"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("rrf_e6"), F.col("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "cand_id", "rrf_e6", "n_legs")
    )


def bm25_by_example(
    docs: DataFrame,
    query_pred: Column,
    n_cand: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Query-BY-EXAMPLE BM25: each query DOCUMENT's distinct terms act
    as its query, and every other document is scored with the standard
    BM25 idf/tf-saturation sum (k1/b pinned) — the lexical leg of
    hybrid retrieval ("find documents like this one").

    Scale shape: ONE corpus explode into the scope-persisted
    (doc, term, tf) aggregate (the `bm25_scoring` discipline) feeds doc
    lengths, corpus stats, document frequencies, AND the query term
    sets; query terms are bounded (|queries|·|vocab-per-doc|) and meet
    the postings in a broadcast term join. Ranking runs on the 6dp-floor
    score with a cand-id tiebreak (engine-identical total order).

    Returns ``(q_id, rank, cand_id, score)`` top ``n_cand`` per query."""

    toks = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
    ).filter(F.col("term") != "")
    tc = persist_scoped(
        "bm25qbe_term_counts",
        toks.groupBy(id_col, "term").agg(
            F.count("*").cast("bigint").alias("tf")
        ),
    )
    dl = tc.groupBy(id_col).agg(F.sum("tf").cast("bigint").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_len"),
    )
    qterms = (
        tc.filter(query_pred)
        .select(F.col(id_col).alias("q_id"), "term")
        .distinct()
    )
    # document frequency over the FULL corpus for exactly the query
    # terms (postings for other terms never join)
    tf = tc.join(
        F.broadcast(qterms), "term"
    ).filter(F.col(id_col) != F.col("q_id"))
    df_ = (
        tc.join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("df"))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    sat = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1)
        * (
            F.lit(1.0 - b)
            + F.lit(b) * F.col("dl") * F.col("n_docs") / F.col("total_len")
        )
    )
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy("q_id", F.col(id_col).alias("cand_id"))
        .agg(
            F.floor(F.sum(idf * sat) * 1e6 + F.lit(0.5)).cast("bigint")
            .alias("__s_e6")
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("__s_e6"), F.col("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n_cand)
        .select(
            "q_id",
            "rank",
            "cand_id",
            (F.col("__s_e6") / 1e6).alias("score"),
        )
    )


def hybrid_rrf_topk(
    docs: DataFrame,
    emb: DataFrame,
    query_pred_doc: Column,
    query_pred_vec: Column,
    n_cand: int = 20,
    k: int = 10,
    round_expr=None,
) -> DataFrame:
    """The composed hybrid retriever: lexical query-by-example BM25 +
    exact dense cosine, fused with RRF. ``query_pred_doc`` /
    ``query_pred_vec`` must select the SAME query identities in both
    tables (the testdata embeddings are the documents' vectors by
    construction: vec_id = doc_id)."""
    from .similarity import cosine_topk

    lex = bm25_by_example(docs, query_pred_doc, n_cand=n_cand)
    dense = cosine_topk(
        emb, query_pred_vec, k=n_cand, round_expr=round_expr
    )
    return rrf_fuse([lex, dense], k=k)


def mmr_rerank_topk(
    emb_df: DataFrame,
    query_pred: Column,
    n_cand: int = 10,
    k: int = 5,
    lam_num: int = 7,
    lam_den: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998 — public): select ``k`` of each query's top-``n_cand``
    cosine candidates one at a time, each pick maximizing
    ``λ·relevance − (1−λ)·max_similarity_to_already_selected`` — the
    diversity-aware final stage of a retrieval stack (after
    :func:`rrf_fuse`-style fusion), and the selection rule
    diversity-sampling curation pipelines reuse verbatim.

    Exact integer arithmetic throughout: relevance and pairwise
    similarity are micro-unit ints (``floor(cos·10⁶ + 0.5)``) and the
    MMR objective is scored as
    ``score_e7 = lam_num·rel_e6 − (lam_den − lam_num)·maxsim_e6``
    (the λ-weighted score times ``lam_den`` — same argmax, NO division,
    so no truncation-direction mismatch between engines on negative
    cosines). Ties break to the lower candidate id; the first pick is
    the pure-relevance argmax (``maxsim`` term 0, the paper's
    convention).

    Scale shape: the ONLY corpus-sized work is the initial broadcast
    query scan that produces the top-``n_cand`` candidates; the
    candidate-pair similarity table is |queries|·n_cand² rows. The k
    greedy rounds for ONE query touch only that query's candidate block,
    so they run as a single cogrouped Arrow pass keyed on ``q_id`` —
    every query's selection loop executes independently in parallel over
    n_cand²-bounded integer frames, one job, zero driver data moves (the
    r15 form collected each round's picks to the driver and re-entered
    them as an O(|queries|·k)-term literal predicate: k−1 sequential
    driver jobs, per-round re-analysis quadratic in k, and a crash on an
    empty query set). Returns ``(q_id, mmr_rank, cand_id, score_e7)``."""
    from .similarity import _prepared, dot

    if not (0 < lam_num <= lam_den):
        raise ValueError(
            f"mmr_rerank_topk: need 0 < lam_num <= lam_den "
            f"(got {lam_num}/{lam_den})"
        )
    if k > n_cand:
        raise ValueError(
            f"mmr_rerank_topk: k ({k}) must be <= n_cand ({n_cand})"
        )
    e = _prepared(emb_df, id_col, vec_col)
    q = e.filter(query_pred).select(
        F.col(id_col).alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    rel_e6 = F.floor(
        dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm")) * 1e6
        + F.lit(0.5)
    ).cast("bigint")
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col(id_col))
        .select("q_id", F.col(id_col).alias("cand_id"), rel_e6.alias("rel_e6"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("rel_e6"), F.col("cand_id"))
    cand = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_cand)
        .drop("__rn")
    )

    cand = persist_scoped("mmr_cand", cand)
    cvec = cand.join(
        e.select(F.col(id_col).alias("cand_id"), "v", "nrm"), "cand_id"
    ).select("q_id", "cand_id", "v", "nrm")
    a = cvec.select(
        "q_id", F.col("cand_id").alias("ca"),
        F.col("v").alias("va"), F.col("nrm").alias("na"),
    )
    b = cvec.select(
        "q_id", F.col("cand_id").alias("cb"),
        F.col("v").alias("vb"), F.col("nrm").alias("nb"),
    )
    sim_e6 = F.floor(
        dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")) * 1e6
        + F.lit(0.5)
    ).cast("bigint")
    # sims feeds exactly one consumer (the cogrouped greedy below), so it
    # is NOT persisted; its one evaluation happens inside the same job.
    # Its grouping key is RE-ALIASED (q_id → __qg): sims descends from
    # cand, and two cogroup sides exposing the same attribute fail the
    # ambiguous-self-join check.
    sims = (
        a.join(b, "q_id")
        .filter(F.col("ca") != F.col("cb"))
        .select(F.col("q_id").alias("__qg"), "ca", "cb", sim_e6.alias("sim_e6"))
    )
    mu = lam_den - lam_num
    # r16: the k greedy rounds run as ONE cogrouped Arrow pass keyed on
    # q_id. Per query the greedy recurrence only ever touches that
    # query's n_cand candidates and their n_cand² pairwise similarities
    # — a bounded integer frame — so a Python kernel replays the exact
    # relational semantics (score_e7 = lam_num·rel_e6 −
    # (lam_den−lam_num)·max_sim_e6 over bigints, ties to the lower
    # cand_id, first pick pure-relevance argmax) with zero float
    # arithmetic and zero parity risk. History: the r10 form
    # localCheckpointed each pick (k checkpoint jobs + per-round joins
    # against UnknownPartitioning RDD scans); the r15 form collected
    # each round's picks to the driver and re-entered them as an
    # O(|queries|·k)-term literal OR-chain (k−1 sequential driver jobs
    # whose scheduling floor dominated the entry cold, per-round
    # re-analysis quadratic in k, TypeError on an empty query set, and
    # an unbounded predicate for large query sets). The cogroup form is
    # one job, no driver data moves, no predicate growth, degrades to
    # an empty result on an empty query set, and parallelizes across
    # queries — lazy like every other operator (consumers trigger it).
    from pyspark.sql.types import (  # noqa: PLC0415
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    ctypes = {f.name: f.dataType for f in cand.schema.fields}
    out_schema = StructType(
        [
            StructField("q_id", ctypes["q_id"], True),
            StructField("mmr_rank", IntegerType(), False),
            StructField("cand_id", ctypes["cand_id"], True),
            StructField("score_e7", LongType(), True),
        ]
    )
    return (
        cand.groupBy("q_id")
        .cogroup(sims.groupBy("__qg"))
        .applyInPandas(
            lambda key, c, sm: mmr_greedy(key, c, sm, k, lam_num, mu),
            schema=out_schema,
        )
    )


def mmr_greedy(key, cand_pdf, sims_pdf, k: int, lam_num: int, mu: int):  # noqa: ANN001, ANN201
    """The per-query MMR greedy kernel of :func:`mmr_rerank_topk`, run
    once per ``q_id`` group of the cogrouped Arrow pass.

    ``cand_pdf`` holds the query's candidates ``(cand_id, rel_e6)`` and
    ``sims_pdf`` their ordered pairwise similarities ``(ca, cb, sim_e6)``;
    ``mu = lam_den − lam_num``. Picks ``k`` candidates scoring
    ``lam_num·rel_e6 − mu·max_sim_e6`` over exact Python ints (ties to the
    lower ``cand_id``; the first pick is the pure-relevance argmax) and
    returns ``(q_id, mmr_rank, cand_id, score_e7)`` rows.

    Every ordered pair of distinct candidates must be in ``sims_pdf``: a
    missing pair raises ``ValueError`` naming the query and the pair,
    rather than scoring the candidate against an incomplete maximum."""
    import pandas as pd  # noqa: PLC0415

    cols = ["q_id", "mmr_rank", "cand_id", "score_e7"]
    if cand_pdf.empty:
        return pd.DataFrame(columns=cols)
    qid = key[0]
    # ids stay native (any orderable/hashable type); the SCORE
    # arithmetic is forced to Python ints so it is exact and
    # overflow-free regardless of the Arrow dtype
    rel = {c: int(r) for c, r in zip(cand_pdf["cand_id"], cand_pdf["rel_e6"])}
    sim = {
        (x, y): int(s)
        for x, y, s in zip(sims_pdf["ca"], sims_pdf["cb"], sims_pdf["sim_e6"])
    }
    # round 1: pure-relevance argmax, ties to the lower cand_id
    first = min(rel, key=lambda c: (-rel[c], c))
    picks = [(qid, 1, first, lam_num * rel[first])]
    selected = [first]
    unsel = sorted(c for c in rel if c != first)
    for r in range(2, k + 1):
        if not unsel:
            break
        best_c = best_s = None
        for c in unsel:
            try:
                mx = max(sim[(c, s)] for s in selected)
            except KeyError as e:
                raise ValueError(
                    f"mmr_greedy: q_id {qid!r} has no similarity for "
                    f"candidate pair {e.args[0]!r}"
                ) from None
            sc = lam_num * rel[c] - mu * mx
            if best_c is None or sc > best_s or (sc == best_s and c < best_c):
                best_c, best_s = c, sc
        picks.append((qid, r, best_c, best_s))
        selected.append(best_c)
        unsel.remove(best_c)
    return pd.DataFrame(picks, columns=cols)
