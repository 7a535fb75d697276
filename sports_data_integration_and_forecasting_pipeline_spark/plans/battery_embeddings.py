"""Embedding similarity: cosine top-k, hard negatives, LSH/IVF ANN, PQ/IVF-PQ, RRF fusion, mean-pool, near-dup pairs, SemDeDup.

Mechanical slice of the original plans/battery.py (r14 split —
VERDICT r13 task 3); statement order and oracle SQL are byte-identical
to the monolith. Registration side-effects land in
:data:`battery_core.QUERIES` at import time; ``plans/battery.py``
imports the sections in original order and re-exports every name.
"""

from __future__ import annotations

import dataclasses
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.scoped import checkpoint_scoped

from .battery_core import (
    QUERIES,
    _assert_bounded_group,
    _r,
    _register,
    _sql_r,
    _t,
)
from .battery_text_dedup import hyperplanes




# --- embedding similarity -------------------------------------------------

_EMB_DIM = 64  # embeddings.embedding is array<float> of fixed length 64


def _emb_norm_cte() -> str:
    dot_vv = (
        f"list_sum(list_transform(range(1, {_EMB_DIM + 1}), "
        "i -> v[i::INT] * v[i::INT]))"
    )
    return f"""
    e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
    nv AS (SELECT vec_id, v, sqrt({dot_vv}) AS nrm FROM e)
    """


_COS_SQL = (
    f"list_sum(list_transform(range(1, {_EMB_DIM + 1}), "
    "i -> q.v[i::INT] * c.v[i::INT])) / (q.nrm * c.nrm)"
)


@_register(
    "embed_cosine_topk",
    f"""
    WITH {_emb_norm_cte()},
    scored AS (
      SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
             {_sql_r(_COS_SQL, 6)} AS cosine
      FROM (SELECT * FROM nv WHERE vec_id < 10) q
      CROSS JOIN nv c
      WHERE c.vec_id <> q.vec_id
    )
    SELECT q_id, rank, cand_id, cosine FROM (
      SELECT q_id, cand_id, cosine,
             CAST(row_number() OVER (PARTITION BY q_id
                                     ORDER BY cosine DESC, cand_id) AS INT) AS rank
      FROM scored)
    WHERE rank <= 5
    """,
    "textops: cosine top-k (brute force)",
    "exact cosine top-5 per query vector (vec_id < 10), broadcast queries",
)
def embed_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.similarity import cosine_topk

    return cosine_topk(
        _t(spark, sf_dir, "embeddings"),
        query_pred=F.col("vec_id") < 10,
        k=5,
        round_expr=lambda c: _r(c, 6),
    )


# Hard-negative mining (r13, fourth and last r13 addition): contrastive-
# training batch construction — the top of the SUB-threshold cosine band
# per anchor (DPR-style false-negative guard: candidates at or above the
# presumed-positive threshold are skipped, the hardest honest negatives
# below it are kept). 0.3 is this corpus's biting threshold: all 10
# anchors exclude 1-8 candidates at sf0.01 (measured), so the entry
# demonstrates the skip-band, not a renamed cosine_topk. Strict < drops
# NULL (zero-norm) cosines identically in both engines.
@_register(
    "embed_hard_negatives",
    f"""
    WITH {_emb_norm_cte()},
    scored AS (
      SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
             CASE WHEN q.nrm = 0 OR c.nrm = 0 THEN NULL
                  ELSE {_sql_r(_COS_SQL, 6)} END AS cosine
      FROM (SELECT * FROM nv WHERE vec_id < 10) q
      CROSS JOIN nv c
      WHERE c.vec_id <> q.vec_id
    )
    SELECT q_id, rank, cand_id, cosine FROM (
      SELECT q_id, cand_id, cosine,
             CAST(row_number() OVER (PARTITION BY q_id
                                     ORDER BY cosine DESC, cand_id) AS INT) AS rank
      FROM scored WHERE cosine < 0.3)
    WHERE rank <= 5
    """,
    "textops: hard-negative mining (contrastive training)",
    "top-5 hard negatives per anchor (vec_id < 10): most-similar "
    "candidates strictly below the presumed-positive cosine threshold "
    "0.3, broadcast anchors, threshold cut before the ranking window",
)
def embed_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.similarity import (
        hard_negative_topk,
    )

    return hard_negative_topk(
        _t(spark, sf_dir, "embeddings"),
        query_pred=F.col("vec_id") < 10,
        k=5,
        pos_threshold=0.3,
        round_expr=lambda c: _r(c, 6),
    )


_ANN_PLANES = hyperplanes(n_planes=4, dim=_EMB_DIM)


def _plane_sql(plane: list[float]) -> str:
    return "[" + ", ".join(f"{w:.1f}" for w in plane) + "]::DOUBLE[]"


def _bucket_sql(planes: list[list[float]]) -> str:
    """DuckDB expression for the sign-pattern bucket id — the planes are
    md5-derived driver literals, so the oracle embeds them verbatim and
    the bucket assignment is engine-independent."""
    return " + ".join(
        f"(CASE WHEN list_sum(list_transform(range(1, {_EMB_DIM + 1}), "
        f"i -> ({_plane_sql(p)})[i::INT] * v[i::INT])) > 0 THEN {1 << pi} ELSE 0 END)"
        for pi, p in enumerate(planes)
    )


_BUCKET_SQL = _bucket_sql(_ANN_PLANES)


@_register(
    "embed_ann_lsh",
    f"""
    WITH {_emb_norm_cte()},
    b AS (SELECT vec_id, v, nrm, CAST({_BUCKET_SQL} AS BIGINT) AS bucket FROM nv),
    scored AS (
      SELECT q.vec_id AS q_id, c.vec_id AS cand_id, q.bucket AS bucket,
             {_sql_r(_COS_SQL, 6)} AS cosine
      FROM (SELECT * FROM b WHERE vec_id < 10) q
      JOIN b c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
    )
    SELECT q_id, rank, cand_id, bucket, cosine FROM (
      SELECT q_id, cand_id, bucket, cosine,
             CAST(row_number() OVER (PARTITION BY q_id
                                     ORDER BY cosine DESC, cand_id) AS INT) AS rank
      FROM scored)
    WHERE rank <= 3
    """,
    "textops: ANN via random-hyperplane LSH",
    "4-plane sign-bucket join, exact cosine within bucket, top-3 per query",
)
def embed_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.similarity import ann_lsh_topk

    return ann_lsh_topk(
        _t(spark, sf_dir, "embeddings"),
        query_pred=F.col("vec_id") < 10,
        n_planes=4,
        dim=_EMB_DIM,
        k=3,
        round_expr=lambda c: _r(c, 6),
    )


def _centroid_sql(c: list[float]) -> str:
    """Full-precision double literals (repr round-trips bit-exactly through
    DuckDB's correctly-rounded strtod)."""
    return "[" + ", ".join(repr(x) for x in c) + "]::DOUBLE[]"


def _ivf_d2_sql(center: list[float]) -> str:
    """Sequential-fold squared L2 distance of v to a centroid literal."""
    return (
        f"list_sum(list_transform(list_transform(range(1, {_EMB_DIM + 1}), "
        f"i -> v[i::INT] - ({_centroid_sql(center)})[i::INT]), x -> x * x))"
    )


from sports_data_integration_and_forecasting_pipeline_spark.operators.ivf_centroids import (  # noqa: E402
    IVF_CENTROIDS,
)

_IVF_N_PROBE = 3  # r3: 2 -> 3 lifts recall@5 0.46 -> 0.62 at sf0.01 (cost ~3/16 of the table per query)
_IVF_K = 3
_IVF_D_COLS = ", ".join(
    f"{_ivf_d2_sql(c)} AS d{i}" for i, c in enumerate(IVF_CENTROIDS)
)
_IVF_LEAST = "least(" + ", ".join(f"d{i}" for i in range(len(IVF_CENTROIDS))) + ")"
_IVF_CELL_CASE = (
    "CASE "
    + " ".join(f"WHEN d{i} = m THEN {i}" for i in range(len(IVF_CENTROIDS)))
    + " END"
)
_IVF_PROBE_STRUCTS = "[" + ", ".join(
    f"{{'d': d{i}, 'cell': {i}}}" for i in range(len(IVF_CENTROIDS))
) + "]"


# r9 adjudication (VERDICT r8 task 3): embed_ivf_ann's r8 bench swing
# 0.662 → 1.182 s (+79%) was mid-battery interference, not a plan
# change or a persisted-state interaction with the (adjacent, r8-new)
# embed_ann_recall_audit: both orderings on one calm session measured
# ivf_ann 0.775 s then recall_audit 1.38 s, and (swapped) recall_audit
# 1.225 s then ivf_ann 0.723 s — the ivf entry is back at its r7 value
# in BOTH positions, so no shared-cache coupling exists (each entry's
# scoped caches are released before the next; the centroid literals
# they share are plan constants, not state). Pinned as drift.


@_register(
    "embed_ivf_ann",
    f"""
    WITH {_emb_norm_cte()},
    d AS (SELECT vec_id, v, nrm, {_IVF_D_COLS} FROM nv),
    a AS (SELECT vec_id, v, nrm, {_IVF_CELL_CASE} AS cell
          FROM (SELECT *, {_IVF_LEAST} AS m FROM d)),
    probe AS (
      SELECT vec_id AS q_id, v AS qv, nrm AS qn, cell FROM (
        SELECT vec_id, v, nrm, (u).cell AS cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY (u).d, (u).cell) AS pr
        FROM (SELECT vec_id, v, nrm, unnest({_IVF_PROBE_STRUCTS}) AS u
              FROM d WHERE vec_id < 10))
      WHERE pr <= {_IVF_N_PROBE}
    ),
    scored AS (
      SELECT p.q_id, c.vec_id AS cand_id, c.cell,
             {_sql_r(f"list_sum(list_transform(range(1, {_EMB_DIM + 1}), i -> p.qv[i::INT] * c.v[i::INT])) / (p.qn * c.nrm)", 6)} AS cosine
      FROM probe p JOIN a c ON c.cell = p.cell AND c.vec_id <> p.q_id
    )
    SELECT q_id, rank, cand_id, cell, cosine FROM (
      SELECT q_id, cand_id, cell, cosine,
             CAST(row_number() OVER (PARTITION BY q_id
                                     ORDER BY cosine DESC, cand_id) AS INT) AS rank
      FROM scored)
    WHERE rank <= {_IVF_K}
    """,
    "textops: ANN via IVF (pretrained coarse quantizer)",
    "16-cell inverted-file index with pinned KMeans(seed=42) centroids, "
    "3-probe nearest-cell search, exact cosine within probed cells",
)
def embed_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.similarity import (
        ivf_ann_topk_pretrained,
    )

    return ivf_ann_topk_pretrained(
        _t(spark, sf_dir, "embeddings"),
        query_pred=F.col("vec_id") < 10,
        centers=IVF_CENTROIDS,
        n_probe=_IVF_N_PROBE,
        k=_IVF_K,
        round_expr=lambda c: _r(c, 6),
    )


# ===========================================================================
# ANN recall audit (r8) — the approximation-quality observability the
# similarity family was missing: per query, recall@5 of the IVF
# 3-probe search against the exact brute-force top-5 (both computed by
# the SAME operators the embed_cosine_topk / embed_ivf_ann entries
# certify, at k=5). Rank ties are pinned (rounded cosine DESC, cand_id)
# in both engines, so the recall fractions hash-match exactly. Scale:
# the exact side is the documented brute-force baseline run over a
# bounded QUERY SAMPLE (that is the audit design — recall is estimated
# on a sample, never all queries); everything after the two top-k
# passes is query-count-sized.
# ===========================================================================

@_register(
    "embed_ann_recall_audit",
    f"""
    WITH {_emb_norm_cte()},
    sc1 AS (
      SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
             {_sql_r(_COS_SQL, 6)} AS cosine
      FROM (SELECT * FROM nv WHERE vec_id < 10) q
      CROSS JOIN nv c
      WHERE c.vec_id <> q.vec_id
    ),
    ex AS (
      SELECT q_id, cand_id FROM (
        SELECT q_id, cand_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cosine DESC, cand_id) AS rank
        FROM sc1)
      WHERE rank <= 5
    ),
    dq AS (SELECT vec_id, v, nrm, {_IVF_D_COLS} FROM nv),
    aq AS (SELECT vec_id, v, nrm, {_IVF_CELL_CASE} AS cell
           FROM (SELECT *, {_IVF_LEAST} AS m FROM dq)),
    pb AS (
      SELECT vec_id AS q_id, v AS qv, nrm AS qn, cell FROM (
        SELECT vec_id, v, nrm, (u).cell AS cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY (u).d, (u).cell) AS pr
        FROM (SELECT vec_id, v, nrm, unnest({_IVF_PROBE_STRUCTS}) AS u
              FROM dq WHERE vec_id < 10))
      WHERE pr <= {_IVF_N_PROBE}
    ),
    sc2 AS (
      SELECT p.q_id, c.vec_id AS cand_id,
             {_sql_r(f"list_sum(list_transform(range(1, {_EMB_DIM + 1}), i -> p.qv[i::INT] * c.v[i::INT])) / (p.qn * c.nrm)", 6)} AS cosine
      FROM pb p JOIN aq c ON c.cell = p.cell AND c.vec_id <> p.q_id
    ),
    an AS (
      SELECT q_id, cand_id FROM (
        SELECT q_id, cand_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cosine DESC, cand_id) AS rank
        FROM sc2)
      WHERE rank <= 5
    ),
    exn AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_exact
            FROM ex GROUP BY q_id),
    ann AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_ann
            FROM an GROUP BY q_id),
    hits AS (SELECT ex.q_id, CAST(count(*) AS BIGINT) AS n_hit
             FROM ex JOIN an ON an.q_id = ex.q_id
                            AND an.cand_id = ex.cand_id
             GROUP BY ex.q_id)
    SELECT exn.q_id, exn.n_exact,
           CAST(coalesce(ann.n_ann, 0) AS BIGINT) AS n_ann,
           CAST(coalesce(hits.n_hit, 0) AS BIGINT) AS n_hit,
           CAST(coalesce(hits.n_hit, 0) * 1000000 // exn.n_exact AS BIGINT)
             AS recall_e6
    FROM exn
    LEFT JOIN ann ON ann.q_id = exn.q_id
    LEFT JOIN hits ON hits.q_id = exn.q_id
    """,
    "similarity: ANN recall audit (IVF 3-probe vs exact top-5 on the "
    "query sample; the approximation-quality metric itself is "
    "hash-checked; no reference counterpart)",
    "per-query recall@5 of the IVF search against brute-force cosine — "
    "exact integer micro-unit fractions",
)
def embed_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.similarity import (
        cosine_topk,
        ivf_ann_topk_pretrained,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qp = F.col("vec_id") < 10
    exact = cosine_topk(
        emb, query_pred=qp, k=5, round_expr=lambda c: _r(c, 6)
    ).select("q_id", "cand_id")
    ann = ivf_ann_topk_pretrained(
        emb,
        query_pred=qp,
        centers=IVF_CENTROIDS,
        n_probe=_IVF_N_PROBE,
        k=5,
        round_expr=lambda c: _r(c, 6),
    ).select("q_id", "cand_id")
    exn = exact.groupBy("q_id").agg(
        F.count("*").cast("bigint").alias("n_exact")
    )
    ann_n = ann.groupBy("q_id").agg(F.count("*").cast("bigint").alias("n_ann"))
    hits = (
        exact.join(ann, ["q_id", "cand_id"], "left_semi")
        .groupBy("q_id")
        .agg(F.count("*").cast("bigint").alias("n_hit"))
    )
    return (
        exn.join(F.broadcast(ann_n), "q_id", "left_outer")
        .join(F.broadcast(hits), "q_id", "left_outer")
        .select(
            "q_id",
            "n_exact",
            F.coalesce("n_ann", F.lit(0)).cast("bigint").alias("n_ann"),
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
            F.expr(
                "coalesce(n_hit, 0) * 1000000 DIV n_exact"
            ).cast("bigint").alias("recall_e6"),
        )
    )


# ===========================================================================
# Product quantization (r9 new family) — the compression half of IVF-PQ
# (Jégou, Douze & Schmid, TPAMI 2011; public): m=4 16-dim subspaces,
# 16 pretrained centroids each (operators/pq_codebooks.py, trained
# offline like IVF_CENTROIDS), so a 64-dim float vector becomes 4
# small ints and the ANN candidate scan runs over codes instead of
# floats — the 100 TB memory-bandwidth lever. Encoding is a pure
# literal expression (narrow, zero shuffles); ADC search keeps the
# query exact and scores candidates by summing 4 broadcast
# lookup-table entries (integer micro-units snapped BEFORE the sum, so
# ranking is exact integer arithmetic the oracle reproduces). The
# linear candidate scan is ADC's semantics — IVF cell pruning composes
# orthogonally (embed_ivf_ann).
# ===========================================================================

from sports_data_integration_and_forecasting_pipeline_spark.operators.pq_codebooks import (  # noqa: E402
    PQ_CODEBOOKS,
    PQ_K,
    PQ_M,
    PQ_SUB_DIM,
)


def _pq_sub_d2_sql(vexpr: str, s: int, center: list[float]) -> str:
    """Sequential-fold squared L2 of subspace ``s`` of ``vexpr`` to a
    centroid literal (the `_ivf_d2_sql` discipline on a slice)."""
    return (
        f"list_sum(list_transform(list_transform(range(1, {PQ_SUB_DIM + 1}), "
        f"i -> {vexpr}[({s * PQ_SUB_DIM} + i)::INT] - "
        f"({_centroid_sql(center)})[i::INT]), x -> x * x))"
    )


_PQ_D_COLS = ", ".join(
    f"{_pq_sub_d2_sql('v', s, c)} AS d{s}_{i}"
    for s, book in enumerate(PQ_CODEBOOKS)
    for i, c in enumerate(book)
)
_PQ_CODE_COLS = ", ".join(
    "CASE "
    + " ".join(
        f"WHEN d{s}_{i} = least({', '.join(f'd{s}_{j}' for j in range(PQ_K))}) "
        f"THEN {i}"
        for i in range(PQ_K)
    )
    + f" END AS c{s}"
    for s in range(PQ_M)
)
_PQ_ENC_CTES = f"""
    e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
    d AS (SELECT vec_id, {_PQ_D_COLS} FROM e),
    enc AS (SELECT vec_id, {_PQ_CODE_COLS} FROM d)
"""


@_register(
    "embed_pq_codes",
    f"""
    WITH {_PQ_ENC_CTES}
    SELECT vec_id, CAST(c0 AS INT) AS c0, CAST(c1 AS INT) AS c1,
           CAST(c2 AS INT) AS c2, CAST(c3 AS INT) AS c3
    FROM enc
    """,
    "similarity: PQ encoding (IVF-PQ compression half, Jégou et al. "
    "TPAMI 2011; no reference counterpart)",
    "per-vector m=4 nearest-subcentroid codes from pretrained literal "
    "codebooks — narrow, shuffle-free, lowest-code tiebreak",
)
def embed_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.quantize import pq_encode

    return pq_encode(_t(spark, sf_dir, "embeddings"), PQ_CODEBOOKS)


_PQ_ADC_CASES = " + ".join(
    "(CASE enc.c" + str(s) + " "
    + " ".join(
        f"WHEN {i} THEN CAST(floor(({_pq_sub_d2_sql('q.qv', s, c)}) * 1000000 "
        "+ 0.5) AS BIGINT)"
        for i, c in enumerate(book)
    )
    + " END)"
    for s, book in enumerate(PQ_CODEBOOKS)
)


@_register(
    "embed_pq_adc_topk",
    f"""
    WITH {_PQ_ENC_CTES},
    q AS (SELECT vec_id AS q_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
          FROM embeddings WHERE vec_id < 10),
    pairs AS (
      SELECT q.q_id, enc.vec_id AS cand_id,
             {_PQ_ADC_CASES} AS adc_e6
      FROM enc CROSS JOIN q
      WHERE enc.vec_id <> q.q_id
    )
    SELECT q_id, rank, cand_id, adc_e6 FROM (
      SELECT q_id, cand_id, CAST(adc_e6 AS BIGINT) AS adc_e6,
             CAST(row_number() OVER (PARTITION BY q_id
                                     ORDER BY adc_e6, cand_id) AS INT) AS rank
      FROM pairs)
    WHERE rank <= 5
    """,
    "similarity: PQ asymmetric-distance top-k (ADC — the in-cell scan "
    "of IVF-PQ; no reference counterpart)",
    "top-5 per query by sum of 4 integer-snapped LUT entries over PQ "
    "codes; exact query vector, code-only candidates",
)
def embed_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.quantize import pq_adc_topk

    return pq_adc_topk(
        _t(spark, sf_dir, "embeddings"),
        query_pred=F.col("vec_id") < 10,
        codebooks=PQ_CODEBOOKS,
        k=5,
    )


# The composed index: IVF cells prune the candidate set (~n_probe /
# n_cells of the table per query), PQ ADC prices each survivor at m
# integer adds — FAISS's IVFADC, the shape that replaces both the full
# scan and the float payload at 100 TB. Oracle states the identical
# probe ranking + code assignment + LUT arithmetic from the same
# literals, so pruning AND approximation hash-match end-to-end.
@_register(
    "embed_ivfpq_topk",
    f"""
    WITH {_PQ_ENC_CTES},
    ivfd AS (SELECT vec_id, v, {_IVF_D_COLS} FROM e),
    ac AS (SELECT vec_id, {_IVF_CELL_CASE} AS cell
           FROM (SELECT *, {_IVF_LEAST} AS m FROM ivfd)),
    probe AS (
      SELECT vec_id AS q_id, cell FROM (
        SELECT vec_id, (u).cell AS cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY (u).d, (u).cell) AS pr
        FROM (SELECT vec_id, unnest({_IVF_PROBE_STRUCTS}) AS u
              FROM ivfd WHERE vec_id < 10))
      WHERE pr <= {_IVF_N_PROBE}
    ),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
    pairs AS (
      SELECT p.q_id, ac.vec_id AS cand_id, ac.cell,
             {_PQ_ADC_CASES} AS adc_e6
      FROM probe p
      JOIN ac ON ac.cell = p.cell AND ac.vec_id <> p.q_id
      JOIN enc ON enc.vec_id = ac.vec_id
      JOIN q ON q.q_id = p.q_id
    )
    SELECT q_id, rank, cand_id, cell, adc_e6 FROM (
      SELECT q_id, cand_id, CAST(cell AS INT) AS cell,
             CAST(adc_e6 AS BIGINT) AS adc_e6,
             CAST(row_number() OVER (PARTITION BY q_id
                                     ORDER BY adc_e6, cand_id) AS INT) AS rank
      FROM pairs)
    WHERE rank <= 5
    """,
    "similarity: IVF-PQ composed search (IVFADC, Jégou et al. TPAMI "
    "2011; no reference counterpart)",
    "3-probe cell pruning + PQ asymmetric-distance top-5 — both the "
    "pruning and the approximation hash-checked from shared literals",
)
def embed_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.quantize import ivfpq_topk

    return ivfpq_topk(
        _t(spark, sf_dir, "embeddings"),
        query_pred=F.col("vec_id") < 10,
        centers=IVF_CENTROIDS,
        codebooks=PQ_CODEBOOKS,
        n_probe=_IVF_N_PROBE,
        k=5,
    )


@_register(
    "embed_ivfpq_precoded_topk",
    None,  # replaced below — shares embed_ivfpq_topk's oracle verbatim
    "similarity: IVF-PQ search over a PRE-MATERIALIZED code index "
    "(stored-column split of IVFADC; no reference counterpart)",
    "ivfpq_index_codes built once and lineage-truncated (the stored "
    "index), then queried over ints only — r10 probe: query wall 2.0x "
    "(sf0.1) / 3.9x (sf1) below inline and FLAT across 10x data; the "
    "build amortizes across queries (SCALING.md r10)",
)
def embed_ivfpq_precoded_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.quantize import (
        ivfpq_index_codes,
        ivfpq_topk_precoded,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # localCheckpoint = the in-session stand-in for the stored parquet
    # index (lineage truncated: the query plan scans codes, never
    # floats). A committed per-SF index file would silently rot when
    # the driver regenerates testdata, so the entry builds it fresh.
    codes = ivfpq_index_codes(emb, IVF_CENTROIDS, PQ_CODEBOOKS)
    enc = checkpoint_scoped(codes)
    return ivfpq_topk_precoded(
        enc,
        emb.filter(F.col("vec_id") < 10),
        centers=IVF_CENTROIDS,
        codebooks=PQ_CODEBOOKS,
        n_probe=_IVF_N_PROBE,
        k=5,
    )


QUERIES["embed_ivfpq_precoded_topk"] = dataclasses.replace(
    QUERIES["embed_ivfpq_precoded_topk"],
    oracle=QUERIES["embed_ivfpq_topk"].oracle,
)


# ===========================================================================
# Hybrid retrieval fusion (r10 new family) — Reciprocal Rank Fusion
# (Cormack, Clarke & Büttcher, SIGIR 2009): a lexical query-by-example
# BM25 leg and an exact dense-cosine leg each rank candidates for the
# same query documents (testdata embeddings are the documents' vectors
# by construction: vec_id = doc_id); RRF fuses the two rank lists with
# exact integer contributions 1e6 div (60 + rank) — no score
# calibration across legs, hash-exact fused order
# (operators/retrieval.py).
# ===========================================================================

_RRF_N_QUERY = 3
_RRF_N_CAND = 20
_RRF_TOPK = 10


@_register(
    "hybrid_rrf_fusion",
    f"""
    WITH {_emb_norm_cte()},
    dense AS (
      SELECT q_id, cand_id, rank FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_sql_r(_COS_SQL, 6)} DESC,
                                           c.vec_id) AS rank
        FROM (SELECT * FROM nv WHERE vec_id < {_RRF_N_QUERY}) q
        CROSS JOIN nv c
        WHERE c.vec_id <> q.vec_id)
      WHERE rank <= {_RRF_N_CAND}),
    tc AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                 FROM documents)
           WHERE term <> '' GROUP BY doc_id, term),
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
           FROM tc GROUP BY doc_id),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
    qt AS (SELECT DISTINCT doc_id AS q_id, term FROM tc
           WHERE doc_id < {_RRF_N_QUERY}),
    dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
            FROM tc JOIN (SELECT DISTINCT term FROM qt) USING (term)
            GROUP BY term),
    lexs AS (
      SELECT qt.q_id, tc.doc_id AS cand_id,
             CAST(floor(sum(ln(1.0 + (s.n_docs - dfq.df + 0.5)
                                     / (dfq.df + 0.5))
                            * (tc.tf * 2.2)
                            / (tc.tf + 1.2 * (0.25 + 0.75 * dl.dl
                                              * s.n_docs / s.total_len)))
                        * 1000000 + 0.5) AS BIGINT) AS s_e6
      FROM tc JOIN qt USING (term) JOIN dfq USING (term)
      JOIN dl ON dl.doc_id = tc.doc_id
      CROSS JOIN stats s
      WHERE tc.doc_id <> qt.q_id
      GROUP BY qt.q_id, tc.doc_id),
    lex AS (
      SELECT q_id, cand_id, rank FROM (
        SELECT q_id, cand_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY s_e6 DESC, cand_id) AS rank
        FROM lexs)
      WHERE rank <= {_RRF_N_CAND}),
    legs AS (SELECT * FROM lex UNION ALL SELECT * FROM dense),
    fused AS (SELECT q_id, cand_id,
                     CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf_e6,
                     CAST(count(*) AS INT) AS n_legs
              FROM legs GROUP BY q_id, cand_id)
    SELECT q_id, rank, cand_id, rrf_e6, n_legs FROM (
      SELECT q_id, cand_id, rrf_e6, n_legs,
             CAST(row_number() OVER (PARTITION BY q_id
                                     ORDER BY rrf_e6 DESC, cand_id) AS INT)
               AS rank
      FROM fused)
    WHERE rank <= {_RRF_TOPK}
    """,
    "retrieval: hybrid BM25 + dense-cosine fusion via Reciprocal Rank "
    "Fusion (Cormack et al. SIGIR 2009; no reference counterpart)",
    "query-by-example lexical leg (one corpus explode -> persisted "
    "(doc,term,tf); broadcast query terms) + exact cosine leg, fused "
    "by integer RRF 1e6 div (60+rank) — top-10 per query, cand-id "
    "tiebreak",
)
def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.retrieval import (
        hybrid_rrf_topk,
    )

    return hybrid_rrf_topk(
        _t(spark, sf_dir, "documents"),
        _t(spark, sf_dir, "embeddings"),
        query_pred_doc=F.col("doc_id") < _RRF_N_QUERY,
        query_pred_vec=F.col("vec_id") < _RRF_N_QUERY,
        n_cand=_RRF_N_CAND,
        k=_RRF_TOPK,
        round_expr=lambda c: _r(c, 6),
    )


# ===========================================================================
# Mean pooling — chunk embeddings -> document embedding (vec_id div 8
# plays the chunk->doc mapping), the aggregation step of hierarchical
# retrieval indexes. Element-wise mean across rows at scale = posexplode
# + (doc, dim) partial-agg (map-side combined, one shuffle; never a
# driver-side vector loop). The entry emits symmetric reductions of the
# pooled vector (dim count, 6dp-floor checksum, L2 norm) so the result
# hash-compares without array-column hashing.
# ===========================================================================

@_register(
    "embed_mean_pool",
    f"""
    WITH e AS (
      SELECT vec_id // 8 AS doc_id, d.i AS pos,
             CAST(embedding[d.i::INT] AS DOUBLE) AS v
      FROM embeddings CROSS JOIN range(1, {_EMB_DIM + 1}) d(i)
    ),
    m AS (SELECT doc_id, pos, sum(v) / count(*) AS mv
          FROM e GROUP BY doc_id, pos)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS dim,
           CAST(sum(CAST(floor(mv * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS mean_checksum_e6,
           {_sql_r("sqrt(sum(mv * mv))", 6)} AS l2_norm
    FROM m GROUP BY doc_id
    """,
    "similarity: mean pooling chunk->doc embeddings",
    "posexplode + (doc, dim) map-side-combined mean; 6dp checksum + L2 "
    "norm hash-matched",
)
def embed_mean_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        F.expr("vec_id div 8").alias("doc_id"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "v"
        ),
    )
    m = e.groupBy("doc_id", "pos").agg(
        (F.sum("v") / F.count("*")).alias("mv")
    )
    return m.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("dim"),
        F.sum(F.floor(F.col("mv") * 1e6 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("mean_checksum_e6"),
        _r(F.sqrt(F.sum(F.col("mv") * F.col("mv"))), 6).alias("l2_norm"),
    )


_DUP_PLANES_N = 6
_DUP_PLANES = hyperplanes(n_planes=_DUP_PLANES_N, dim=_EMB_DIM)


@_register(
    "embed_cosine_dup_pairs",
    f"""
    WITH {_emb_norm_cte()},
    b AS (SELECT vec_id, v, nrm, CAST({_bucket_sql(_DUP_PLANES)} AS BIGINT) AS bucket
          FROM nv)
    SELECT id_a, id_b, cosine FROM (
      SELECT q.vec_id AS id_a, c.vec_id AS id_b,
             {_sql_r(_COS_SQL, 6)} AS cosine
      FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id < c.vec_id)
    WHERE cosine >= 0.35
    """,
    "textops: embedding-cosine near-dup (LSH-bucketed scale path)",
    "same-sign-bucket pairs with cosine >= 0.35 — the 100 TB plan: bucket "
    "equi-join replaces the all-pairs cross; the exact all-pairs path "
    "(cosine_dup_pairs(exact=True)) stays as the unit-tested reference",
)
def embed_cosine_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe registered path: LSH sign-bucket join (no driver collect,
    no cross join). The oracle replicates the identical md5-derived plane
    literals, so bucketing — and therefore the pair set — is
    engine-independent and hash-checked end-to-end."""
    from sports_data_integration_and_forecasting_pipeline_spark.operators.similarity import cosine_dup_pairs

    return cosine_dup_pairs(
        _t(spark, sf_dir, "embeddings"),
        threshold=0.35,
        n_planes=_DUP_PLANES_N,
        dim=_EMB_DIM,
        exact=False,
        round_expr=lambda c: _r(c, 6),
    )


# ===========================================================================
# Semantic dedup (r9 new family) — SemDeDup (Abbas et al., arXiv 2023;
# public): near-duplicate pruning in EMBEDDING space, the curation stage
# that catches paraphrases and re-encodes the lexical families
# (shingle/minhash/simhash) can't see. Vectors assign to their nearest
# pretrained cluster (the IVF literal quantizer — shuffle-free), cosine
# is scored ONLY within a cluster, and each duplicate group resolves to
# one kept representative via the deterministic star rule
# (canonical = min(id, min neighbor)). 100 TB: cluster granularity is
# the knob (the paper runs 50k clusters; the pinned 16-centroid book
# matches the oracle-parity quantizer), and the per-cell pair join is
# preceded by the house heavy-key guard so a degenerate cell fails
# loudly instead of going quadratic.
# ===========================================================================

@_register(
    "embed_semdedup_keep",
    f"""
    WITH {_emb_norm_cte()},
    d AS (SELECT vec_id, v, nrm, {_IVF_D_COLS} FROM nv),
    cells AS (SELECT vec_id, v, nrm, {_IVF_CELL_CASE} AS cell
              FROM (SELECT *, {_IVF_LEAST} AS m FROM d)),
    pairs AS (SELECT q.vec_id AS id_a, c.vec_id AS id_b
              FROM cells q JOIN cells c
                ON q.cell = c.cell AND q.vec_id < c.vec_id
              WHERE {_sql_r(_COS_SQL, 6)} >= 0.35),
    sym AS (SELECT id_a AS u, id_b AS nb FROM pairs
            UNION ALL SELECT id_b, id_a FROM pairs),
    mins AS (SELECT u, min(nb) AS mn FROM sym GROUP BY u)
    SELECT c.vec_id,
           CAST(c.cell AS INT) AS cell,
           CAST(least(c.vec_id, coalesce(m.mn, c.vec_id)) AS BIGINT)
             AS canonical_id,
           c.vec_id = least(c.vec_id, coalesce(m.mn, c.vec_id)) AS is_kept
    FROM cells c LEFT JOIN mins m ON m.u = c.vec_id
    """,
    "similarity: SemDeDup keep-list (cluster-scoped semantic dedup, "
    "Abbas et al. 2023; no reference counterpart)",
    "per-vector cell, star-canonical id, and keep flag from "
    "within-cluster cosine >= 0.35 near-dup pairs",
)
def embed_semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.similarity import (
        ivf_assign,
        semantic_dedup_keep,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # heavy-cell guard: the within-cell pair join is quadratic per cell
    # BY DESIGN (SemDeDup's semantics); a cell past the house pair-join
    # bound must fail loudly with the fix named (finer quantizer), not
    # launch the blowup
    _assert_bounded_group(
        emb.select(
            ivf_assign(
                F.transform("embedding", lambda x: x.cast("double")),
                IVF_CENTROIDS,
            ).alias("cell")
        ),
        "cell",
        "embed_semdedup_keep",
    )
    return semantic_dedup_keep(emb, IVF_CENTROIDS, threshold=0.35)
