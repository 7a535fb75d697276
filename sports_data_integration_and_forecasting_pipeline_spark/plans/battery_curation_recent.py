"""Round-12/13 additions: novelty audit, waterfill caps + prefix fill, Zipf/PSI/entropy audits, gate ablation, padding waste, label separation, IVF-PQ refine, curation v6, soft near-dup weights, embedding contamination audit, BPE vocab coverage.

Mechanical slice of the original plans/battery.py (r14 split —
VERDICT r13 task 3); statement order and oracle SQL are byte-identical
to the monolith. Registration side-effects land in
:data:`battery_core.QUERIES` at import time; ``plans/battery.py``
imports the sections in original order and re-exports every name.
"""

from __future__ import annotations

import dataclasses
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.scoped import checkpoint_scoped, persist_scoped

from .battery_bpe_packing import _BPE_CTES, _BPE_ROUNDS, _QUALITY_KEPT_CTES
from .battery_core import QUERIES, _r, _register, _sql_r, _t
from .battery_embeddings import (
    IVF_CENTROIDS,
    PQ_CODEBOOKS,
    _COS_SQL,
    _EMB_DIM,
    _IVF_CELL_CASE,
    _IVF_D_COLS,
    _IVF_LEAST,
    _IVF_N_PROBE,
    _IVF_PROBE_STRUCTS,
    _PQ_ADC_CASES,
    _PQ_ENC_CTES,
    _emb_norm_cte,
)
from .battery_events_warehouse import _H60_SPACE_SQL
from .battery_text_dedup import (
    QUALITY_W0_E6,
    QUALITY_W_AWL_E3,
    QUALITY_W_LEN_E3,
    QUALITY_W_PUNCT_E3,
    QUALITY_W_STOP_E3,
    _SIMHASH60_CTE,
    _h60_sql,
    _sql_count_in,
)




# ===========================================================================
# r12 additions (VERDICT r11 task 7): n-gram novelty curves
# (train-vs-heldout memorization audit), waterfilling token-budget
# mixture solving, and corpus-granularity duplicated-substring coverage.
# Signal checked in DuckDB before design (the r9 lesson): at sf0.01 the
# synthetic corpus shows novelty 0 / ~0 / ~40% at n=1/2/3 (the curve
# shape IS the diagnostic) and ~9% duplicated 8-gram occurrences.
# Each arrives with its degenerate-input property test (the r12
# arrival convention — see the module docstring).
# ===========================================================================


@_register(
    "ngram_novelty_audit",
    f"""
    WITH t0 AS (SELECT doc_id, lang, string_split(text, ' ') AS l,
                {_h60_sql("concat('nov', CAST(doc_id AS VARCHAR))")}
                  / {_H60_SPACE_SQL} < 0.2 AS ho
                FROM documents),
    tk AS (SELECT doc_id, lang, ho, CAST(pos AS BIGINT) AS pos,
                  l[pos::INT] AS t1
           FROM (SELECT doc_id, lang, ho, l,
                        unnest(range(1, len(l) + 1)) AS pos
                 FROM t0)
           WHERE l[pos::INT] <> ''),
    led AS (SELECT lang, ho, t1,
                   lead(t1, 1) OVER w AS t2,
                   lead(t1, 2) OVER w AS t3
            FROM tk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
    g AS (SELECT lang, ho, 1 AS n, {_h60_sql('t1')} AS gh FROM led
          UNION ALL
          SELECT lang, ho, 2, {_h60_sql("concat(t1, ' ', t2)")}
          FROM led WHERE t2 IS NOT NULL
          UNION ALL
          SELECT lang, ho, 3, {_h60_sql("concat(t1, ' ', t2, ' ', t3)")}
          FROM led WHERE t3 IS NOT NULL),
    tr AS (SELECT DISTINCT n, gh FROM g WHERE NOT ho),
    he AS (SELECT lang, n, gh FROM g WHERE ho)
    SELECT he.lang, CAST(he.n AS INT) AS n,
           CAST(count(*) AS BIGINT) AS heldout_ngrams,
           CAST(sum(CASE WHEN tr.gh IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS novel_ngrams,
           -- int64-headroom mirror of the engine guard (r14 advice):
           -- novelty_e6 degrades to NULL once novel_ngrams reaches
           -- 2^63 div 1e6 = 9223372036854, exactly as
           -- operators/textstats.py novelty_e6_expr does, so oracle
           -- and engine agree on degenerate past-bound inputs too
           -- (unreachable below ~46 TB of one-group heldout text).
           CAST(CASE WHEN count(*) > 0
                      AND sum(CASE WHEN tr.gh IS NULL THEN 1 ELSE 0 END)
                        < 9223372036854 THEN
                  1000000 * sum(CASE WHEN tr.gh IS NULL THEN 1 ELSE 0 END)
                    // count(*)
                END AS BIGINT) AS novelty_e6
    FROM he LEFT JOIN tr ON tr.n = he.n AND tr.gh = he.gh
    GROUP BY he.lang, he.n
    """,
    "textops: train-vs-heldout n-gram novelty curves (memorization "
    "audit — McCoy et al. TACL 2023 n-gram overlap diagnostic; no "
    "reference counterpart)",
    "deterministic 20% key-hash heldout split; per (lang, n<=3) the "
    "fraction of heldout n-gram occurrences absent from the train "
    "split, exact integer micro-units; one lead-window pass builds "
    "every n, one distinct-build + one left join keyed (n, h60) for "
    "all n together",
)
def ngram_novelty_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.parallelism import (
        ensure_parallelism,
    )
    from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import (
        ngram_novelty_stats,
    )

    return ngram_novelty_stats(
        ensure_parallelism(_t(spark, sf_dir, "documents"), "doc_id"),
        holdout_fraction=0.2,
        salt="nov",
        max_n=3,
    )


@_register(
    "mixture_waterfill_caps",
    """
    WITH c AS (SELECT lang,
                      CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                        AS n_tokens
               FROM documents GROUP BY lang),
    t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
                 CAST(count(*) AS BIGINT) AS m
          FROM c),
    s AS (SELECT lang, n_tokens, m, total * 3 // 4 AS budget,
                 CAST(row_number() OVER (ORDER BY n_tokens, lang)
                      AS BIGINT) AS r,
                 CAST(coalesce(sum(n_tokens) OVER (
                        ORDER BY n_tokens, lang
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS s_prev
          FROM c CROSS JOIN t),
    u AS (SELECT *,
                 n_tokens * (m - r + 1) <= budget - s_prev AS uncapped
          FROM s),
    f AS (SELECT CAST(sum(CASE WHEN uncapped THEN 1 ELSE 0 END) AS BIGINT)
                   AS j,
                 CAST(coalesce(sum(CASE WHEN uncapped THEN n_tokens END), 0)
                   AS BIGINT) AS s_j
          FROM u)
    SELECT lang, n_tokens,
           NOT uncapped AS is_capped,
           CAST(CASE WHEN j < m THEN (budget - s_j) // (m - j) END
                AS BIGINT) AS water_level,
           CAST(CASE WHEN uncapped THEN n_tokens
                     ELSE (budget - s_j) // (m - j) END
                AS BIGINT) AS alloc_tokens
    FROM u CROSS JOIN f
    """,
    "curation: token-budget waterfilling mixture (max-min-fair caps, "
    "Boyd & Vandenberghe §5.5.3; the cap-aware analogue of "
    "mixture_temperature_weights; no reference counterpart)",
    "budget = 3*total div 4 (pinned so the solve BINDS on this corpus: "
    "head domain capped, tail taken whole — guarded by "
    "tests/test_selectivity.py::test_waterfill_caps_are_binding; at "
    "total div 2 every domain capped and the waterfill was vacuous); "
    "ascending prefix-consistency predicate "
    "n_r*(m-r+1) <= B - S_prev solves the level with NO iteration and "
    "NO division (tau divides once, guarded j < m); pure integer",
)
def mixture_waterfill_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.sampling import (
        waterfill_token_caps,
    )

    return waterfill_token_caps(
        _t(spark, sf_dir, "documents"),
        domain_col="lang",
        budget_num=3,
        budget_den=4,
    )


@_register(
    "dedup_substring_coverage",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
                  FROM documents),
    g AS (SELECT doc_id, unnest(range(1, greatest(len(tk) - 7, 0) + 1))
                   AS pos, tk
          FROM toks),
    g2 AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                  array_to_string(tk[pos:pos+7], ' ') AS gram
           FROM g),
    dup AS (SELECT gram FROM g2 GROUP BY gram HAVING count(*) >= 2),
    dp AS (SELECT doc_id, pos FROM g2
           WHERE gram IN (SELECT gram FROM dup)),
    fl AS (SELECT doc_id, pos,
                  CASE WHEN lag(pos) OVER (PARTITION BY doc_id
                                           ORDER BY pos) IS NULL
                            OR pos - lag(pos) OVER (PARTITION BY doc_id
                                                    ORDER BY pos) > 8
                       THEN 1 ELSE 0 END AS f
           FROM dp),
    isl AS (SELECT doc_id, pos,
                   sum(f) OVER (PARTITION BY doc_id ORDER BY pos) AS island
            FROM fl),
    spans AS (SELECT doc_id,
                     CAST(max(pos) + 7 - min(pos) + 1 AS BIGINT)
                       AS span_tokens
              FROM isl GROUP BY doc_id, island),
    cov AS (SELECT doc_id, CAST(sum(span_tokens) AS BIGINT) AS covered
            FROM spans GROUP BY doc_id),
    base AS (SELECT doc_id, lang,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             FROM documents)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN coalesce(covered, 0) > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_with_dups,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST(sum(coalesce(covered, 0)) AS BIGINT) AS covered_tokens,
           CAST(CASE WHEN sum(n_tok) > 0 THEN
                  1000000 * sum(coalesce(covered, 0)) // sum(n_tok)
                END AS BIGINT) AS coverage_e6
    FROM base LEFT JOIN cov USING (doc_id)
    GROUP BY lang
    """,
    "dedup: corpus-granularity duplicated-substring coverage (the "
    "ExactSubstr per-corpus duplication fraction, Lee et al. ACL '22 "
    "§4 — the suffix-array-free form; no reference counterpart)",
    "per lang: token positions inside maximal verbatim 8-token spans "
    "occurring >= 2x corpus-wide, over total tokens, exact integer "
    "micro-units (NULL on a zero-token group); reuses the span "
    "pipeline + one id-keyed rollup join",
)
def dedup_substring_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        substring_duplication_coverage,
    )

    return substring_duplication_coverage(
        _t(spark, sf_dir, "documents"), k=8, group_col="lang"
    )


@_register(
    "text_zipf_fit",
    """
    WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS term
                  FROM documents),
    tf AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS c
           FROM toks WHERE term <> '' GROUP BY 1, 2),
    v AS (SELECT lang, CAST(count(*) AS BIGINT) AS vocab_size
          FROM tf GROUP BY 1),
    rk AS (SELECT lang, c,
                  CAST(row_number() OVER (PARTITION BY lang
                                          ORDER BY c DESC, term)
                       AS BIGINT) AS r
           FROM tf),
    fit AS (SELECT lang,
                   CAST(floor(ln(r) * 1000000.0 + 0.5) AS BIGINT) AS x,
                   CAST(floor(ln(c) * 1000000.0 + 0.5) AS BIGINT) AS y
            FROM rk WHERE r <= 100),
    a AS (SELECT lang, CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(y * y) AS BIGINT) AS syy
          FROM fit GROUP BY 1)
    SELECT a.lang, vocab_size, k AS n_fit,
           CASE WHEN k * sxx - sx * sx > 0 THEN
             floor((1.0 * (k * sxy - sx * sy))
                   / (1.0 * (k * sxx - sx * sx)) * 1000000.0 + 0.5)
               / 1000000.0
           END AS zipf_slope,
           CASE WHEN k * sxx - sx * sx > 0 AND k * syy - sy * sy > 0 THEN
             floor((1.0 * (k * sxy - sx * sy)) * (k * sxy - sx * sy)
                   / ((1.0 * (k * sxx - sx * sx))
                      * (1.0 * (k * syy - sy * sy)))
                   * 1000000.0 + 0.5) / 1000000.0
           END AS zipf_r2
    FROM a JOIN v USING (lang)
    """,
    "textops: Zipf rank-frequency fit audit (slope + r^2 of ln-freq on "
    "ln-rank, Zipf 1949 — the corpus-health diagnostic; no reference "
    "counterpart)",
    "per lang: OLS over the top-100 terms; x/y are floor(ln*1e6+.5) "
    "integers so the five moments accumulate exactly (the "
    "kl_term_drift micro-nat discipline); one deterministic double "
    "division per group at the end, 6dp; the synthetic corpus's "
    "~31-term vocabulary DOES flunk the fit (slope ~-0.2, r2 ~0.1) — "
    "that detection IS the signal; slope/r2 NULL (never a crash) on "
    "zero rank/frequency variance",
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import (
        zipf_fit_stats,
    )

    return zipf_fit_stats(
        _t(spark, sf_dir, "documents"), group_col="lang", top_k=100
    )


@_register(
    "source_length_psi",
    """
    WITH d AS (SELECT source, n_chars // 64 AS b FROM documents),
    tot AS (SELECT b, CAST(count(*) AS BIGINT) AS t FROM d GROUP BY 1),
    src AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
            FROM d GROUP BY 1),
    cnt AS (SELECT source, b, CAST(count(*) AS BIGINT) AS c
            FROM d GROUP BY 1, 2),
    consts AS (SELECT CAST(count(*) AS BIGINT) AS nb,
                      CAST(sum(t) AS BIGINT) AS n_t
               FROM tot),
    grid AS (SELECT s.source, s.n_s, tot.b, coalesce(cnt.c, 0) AS c, tot.t
             FROM src s CROSS JOIN tot
             LEFT JOIN cnt ON cnt.source = s.source AND cnt.b = tot.b),
    scored AS (SELECT g.source, g.n_s,
        CAST(floor((
            (1.0 * (g.c + 1) / (g.n_s + consts.nb)
             - 1.0 * (g.t + 1) / (consts.n_t + consts.nb))
            * ln((1.0 * (g.c + 1) / (g.n_s + consts.nb))
                 / (1.0 * (g.t + 1) / (consts.n_t + consts.nb)))
          ) * 1000000000.0 + 0.5) AS BIGINT) AS contrib
        FROM grid g CROSS JOIN consts)
    SELECT source, n_s AS n_docs,
           floor(sum(contrib) / 1000000000.0 * 1000000.0 + 0.5)
             / 1000000.0 AS psi
    FROM scored GROUP BY source, n_s
    """,
    "curation: per-source length-distribution PSI vs the corpus "
    "(Population Stability Index, the standard drift audit — <0.1 "
    "stable / >0.25 significant; no reference counterpart)",
    "64-char length buckets, add-1 smoothing over the GLOBAL bucket "
    "set; each >=0 term floor-rounded to integer nano-units BEFORE "
    "summing (associative, engine-exact — the kl_term_drift "
    "discipline); at sf0.01 sources span 0.07-0.49, several past the "
    "0.25 line — the audit bites; segment == corpus gives PSI exactly "
    "0; ONE corpus pass (the scope-persisted (source, bucket) counts "
    "feed totals + grid)",
)
def source_length_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.evaluation import (
        psi_segment_drift,
    )

    return psi_segment_drift(
        _t(spark, sf_dir, "documents"),
        segment_col="source",
        value_col="n_chars",
        bucket_width=64,
    )


# Train/heldout leakage audit — composes the already-oracled prefix
# Jaccard pair join (its SQL is reused verbatim as a CTE) with the
# house key-hash split. Registered AFTER dedup_shingle_jaccard so the
# shared oracle text is available.
def _register_split_leakage() -> None:
    pairs_oracle = QUERIES["dedup_shingle_jaccard"].oracle

    @_register(
        "split_leakage_audit",
        f"""
        WITH pairs AS ({pairs_oracle}),
        cls AS (SELECT id_a, id_b,
                  {_h60_sql("concat('split', CAST(id_a AS VARCHAR))")}
                    / {float(1 << 60)} < 0.2 AS a_ho,
                  {_h60_sql("concat('split', CAST(id_b AS VARCHAR))")}
                    / {float(1 << 60)} < 0.2 AS b_ho
                FROM pairs),
        pa AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                      CAST(coalesce(sum(CASE WHEN a_ho <> b_ho THEN 1
                                             ELSE 0 END), 0) AS BIGINT)
                        AS n_cross_pairs,
                      CAST(count(DISTINCT CASE
                              WHEN a_ho AND NOT b_ho THEN id_a
                              WHEN b_ho AND NOT a_ho THEN id_b END)
                           AS BIGINT) AS n_leaky_heldout_docs
               FROM cls),
        base AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                        CAST(coalesce(sum(CASE WHEN
                            {_h60_sql("concat('split', CAST(doc_id AS VARCHAR))")}
                              / {float(1 << 60)} < 0.2 THEN 1 ELSE 0 END), 0)
                             AS BIGINT) AS n_heldout
                 FROM documents)
        SELECT n_docs, n_heldout, n_pairs, n_cross_pairs,
               n_leaky_heldout_docs,
               CAST(CASE WHEN n_heldout > 0 THEN
                      1000000 * n_leaky_heldout_docs // n_heldout
                    END AS BIGINT) AS leak_rate_e6
        FROM base CROSS JOIN pa
        """,
        "dedup: train/heldout leakage audit — near-dup pairs crossing "
        "the key-hash split (eval contamination; Lee et al. ACL '22 §6 "
        "train-test overlap; no reference counterpart)",
        "20% deterministic heldout; pairs from the prefix-filtered "
        "Jaccard join (threshold 50, hot cap 100 — the scale path, "
        "never all-pairs); reports DISTINCT heldout docs with >= 1 "
        "train-side near-dup (the drop list size) — at sf0.01: 25 "
        "pairs, 6 cross, 6/80 heldout leaky (7.5%); leak_rate NULL on "
        "an empty heldout side, zero pairs is a clean 0-leak report",
    )
    def split_leakage_audit_battery(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
            split_leakage_audit,
        )

        return split_leakage_audit(
            _t(spark, sf_dir, "documents"),
            holdout_fraction=0.2,
            salt="split",
            max_df=100,
            threshold_pct=50,
        )


_register_split_leakage()


@_register(
    "quality_gate_ablation",
    f"""
    WITH t AS (
      SELECT doc_id, n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
             {_sql_count_in(('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it', 'for', 'on'))} AS n_stop,
             CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct
      FROM documents
    ),
    f AS (
      SELECT doc_id,
             CASE WHEN n > 0 THEN CAST(floor(1.0 * n_stop / n * 1000000 + 0.5) AS BIGINT)
                  ELSE 0 END AS stop_e6,
             CASE WHEN n_chars > 0 THEN CAST(floor(1.0 * n_punct / n_chars * 1000000 + 0.5) AS BIGINT)
                  ELSE 0 END AS punct_e6,
             CAST(least(n, 100) * 10000 AS BIGINT) AS len_sat_e6,
             CASE WHEN n > 0 THEN CAST(floor(1.0 * (n_chars - (n - 1)) / n * 1000000 + 0.5) AS BIGINT)
                  ELSE 0 END AS awl_e6
      FROM t
    ),
    g AS (SELECT *,
                 CAST({QUALITY_W0_E6}
                      + {QUALITY_W_STOP_E3} * stop_e6 // 1000
                      + {QUALITY_W_PUNCT_E3} * punct_e6 // 1000
                      + {QUALITY_W_LEN_E3} * len_sat_e6 // 1000
                      + {QUALITY_W_AWL_E3} * awl_e6 // 1000 AS BIGINT)
                   AS logit_e6
          FROM f),
    a AS (
      SELECT 'stop' AS feature, CAST({QUALITY_W_STOP_E3} AS BIGINT) AS weight_e3,
             logit_e6,
             CAST({QUALITY_W_STOP_E3} * stop_e6 // 1000 AS BIGINT) AS contrib_e6
      FROM g
      UNION ALL
      SELECT 'punct', CAST({QUALITY_W_PUNCT_E3} AS BIGINT), logit_e6,
             CAST({QUALITY_W_PUNCT_E3} * punct_e6 // 1000 AS BIGINT)
      FROM g
      UNION ALL
      SELECT 'len_sat', CAST({QUALITY_W_LEN_E3} AS BIGINT), logit_e6,
             CAST({QUALITY_W_LEN_E3} * len_sat_e6 // 1000 AS BIGINT)
      FROM g
      UNION ALL
      SELECT 'awl', CAST({QUALITY_W_AWL_E3} AS BIGINT), logit_e6,
             CAST({QUALITY_W_AWL_E3} * awl_e6 // 1000 AS BIGINT)
      FROM g)
    SELECT feature, weight_e3,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN logit_e6 >= 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(sum(CASE WHEN (logit_e6 >= 0) <> (logit_e6 - contrib_e6 >= 0)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flip_without,
           CAST(1000000 * sum(CASE WHEN (logit_e6 >= 0)
                                        <> (logit_e6 - contrib_e6 >= 0)
                                   THEN 1 ELSE 0 END) // count(*) AS BIGINT)
             AS flip_rate_e6
    FROM a GROUP BY 1, 2
    """,
    "curation: quality-gate ablation — leave-one-term-out flip counts "
    "per gate feature (the gate-debugging read before touching a "
    "weight; no reference counterpart)",
    "per feature: docs whose keep decision flips when the term leaves "
    "the logit, in the gate's exact integer units (engine-exact at the "
    "threshold — both engines' integer division truncates toward "
    "zero, verified on negative weights); at sf0.01 len_sat flips "
    "307/500 (the gate), stop 134, awl 158, punct 0 (dead weight) — "
    "the ablation FINDS a dead rule; one scan, inline 4-struct "
    "explode, one map-side-combined agg to 4 rows",
)
def quality_gate_ablation_battery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import (
        quality_gate_ablation,
    )

    return quality_gate_ablation(_t(spark, sf_dir, "documents"))


@_register(
    "pack_padding_waste_curve",
    """
    WITH n AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n
               FROM documents),
    a AS (
      SELECT 128 AS seq_len, n, (128 - n % 128) % 128 AS pad,
             (n + 127) // 128 AS n_seq FROM n
      UNION ALL
      SELECT 256, n, (256 - n % 256) % 256, (n + 255) // 256 FROM n
      UNION ALL
      SELECT 512, n, (512 - n % 512) % 512, (n + 511) // 512 FROM n)
    SELECT CAST(seq_len AS INT) AS seq_len,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_seq) AS BIGINT) AS n_seqs,
           CAST(sum(n) AS BIGINT) AS data_tokens,
           CAST(sum(pad) AS BIGINT) AS padding_tokens,
           CAST(1000000 * CAST(sum(pad) AS BIGINT)
                // (CAST(sum(n) AS BIGINT) + CAST(sum(pad) AS BIGINT))
                AS BIGINT) AS waste_e6
    FROM a GROUP BY 1
    """,
    "curation: padding-waste curve over candidate context lengths "
    "(the doc-boundary-packing compute audit — what respecting "
    "document boundaries costs at each seq_len vs concat packing; no "
    "reference counterpart)",
    "per L in {128,256,512}: pad(doc) = (L - n mod L) mod L, exact "
    "integers; waste_e6 = 1e6*pad div (data+pad); this short-doc "
    "corpus reads 57.5/78.8/89.4% waste — the curve says doc-boundary "
    "packing at large L is catastrophic here, concat packing "
    "(pack_sequence_spans) is the policy; one narrow projection + "
    "inline 3-struct explode + one map-side-combined agg to 3 rows",
)
def pack_padding_waste_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.chunking import (
        padding_waste_curve,
    )

    return padding_waste_curve(
        _t(spark, sf_dir, "documents"), seq_lens=(128, 256, 512)
    )


@_register(
    "embed_label_separation",
    """
    WITH comp AS (
      SELECT label AS lbl, vec_id AS vid, CAST(pos AS INT) AS pos,
             CAST(floor(CAST(embedding[pos::INT] AS DOUBLE) * 1000000.0
                        + 0.5) AS BIGINT) AS xe6
      FROM (SELECT label, vec_id, embedding,
                   unnest(range(1, len(embedding) + 1)) AS pos
            FROM embeddings)),
    cent AS (SELECT lbl AS clabel, pos,
                    CAST(CAST(sum(xe6) AS BIGINT) // count(*) AS BIGINT)
                      AS ce6
             FROM comp GROUP BY 1, 2),
    cnorm AS (SELECT clabel, CAST(sum(ce6 * ce6) AS BIGINT) AS nc
              FROM cent GROUP BY 1),
    pair AS (SELECT c.vid, c.lbl, ct.clabel,
                    CAST(sum(c.xe6 * ct.ce6) AS BIGINT) AS dt,
                    CAST(sum(c.xe6 * c.xe6) AS BIGINT) AS nv
             FROM comp c JOIN cent ct USING (pos)
             GROUP BY 1, 2, 3),
    scored AS (SELECT p.vid, p.lbl, p.clabel,
                      CASE WHEN p.nv > 0 AND n.nc > 0 THEN
                        CAST(floor((1.0 * p.dt)
                                   / sqrt((1.0 * p.nv) * (1.0 * n.nc))
                                   * 1000000.0 + 0.5) AS BIGINT)
                      END AS cos_e6
               FROM pair p JOIN cnorm n USING (clabel)),
    pv AS (SELECT vid, lbl,
                  max(CASE WHEN clabel = lbl THEN cos_e6 END) AS own,
                  max(CASE WHEN clabel <> lbl THEN cos_e6 END)
                    AS best_other
           FROM scored GROUP BY 1, 2),
    agg AS (SELECT lbl,
                   CAST(count(*) AS BIGINT) AS n_vecs,
                   CAST(sum(CASE WHEN own IS NOT NULL
                                  AND best_other IS NOT NULL
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_scored,
                   CAST(count(own) AS BIGINT) AS n_own,
                   CAST(sum(own) AS BIGINT) AS so,
                   CAST(sum(CASE WHEN own IS NOT NULL
                                  AND best_other IS NOT NULL
                                 THEN best_other END) AS BIGINT) AS sb,
                   CAST(sum(CASE WHEN own IS NOT NULL
                                  AND best_other IS NOT NULL
                                  AND own > best_other
                                 THEN 1 ELSE 0 END) AS BIGINT) AS nsep
            FROM pv GROUP BY lbl)
    SELECT lbl AS label, n_vecs, n_scored,
           CAST(CASE WHEN n_own > 0 THEN so // n_own END AS BIGINT)
             AS avg_intra_cos_e6,
           CAST(CASE WHEN n_scored > 0 THEN sb // n_scored END AS BIGINT)
             AS avg_inter_best_cos_e6,
           CAST(CASE WHEN n_own > 0 AND n_scored > 0
                     THEN so // n_own - sb // n_scored END AS BIGINT)
             AS margin_e6,
           CAST(CASE WHEN n_scored > 0
                     THEN 1000000 * nsep // n_scored END AS BIGINT)
             AS frac_separated_e6
    FROM agg
    """,
    "similarity: labeled-embedding class-separability audit (per-label "
    "centroid cosine margins + nearest-centroid accuracy; no reference "
    "counterpart)",
    "components snap to e6 ints, centroids are exact integer DIV "
    "means, each member-centroid cosine is ONE deterministic double op "
    "snapped before aggregation; this corpus's random labels read "
    "NEGATIVE margins (~0.14 intra vs ~0.17 best-inter) and "
    "~chance-level nearest-centroid accuracy — the audit correctly "
    "flags the labels as not recoverable from the embeddings; "
    "zero-norm members drop to NULL (degenerate discipline)",
)
def embed_label_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.similarity import (
        label_centroid_separation,
    )

    return label_centroid_separation(_t(spark, sf_dir, "embeddings"))


@_register(
    "text_unigram_entropy_audit",
    """
    WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS term
                  FROM documents),
    tf AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS c
           FROM toks WHERE term <> '' GROUP BY 1, 2),
    n AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM tf GROUP BY 1),
    a AS (SELECT tf.lang, n.n, CAST(count(*) AS BIGINT) AS vocab_size,
                 CAST(sum(c * CAST(floor(ln(1.0 * n.n / c) * 1000000.0
                                         + 0.5) AS BIGINT)) AS BIGINT)
                   AS hsum
          FROM tf JOIN n USING (lang) GROUP BY 1, 2)
    SELECT lang, n AS n_tokens, vocab_size,
           floor(hsum / 1000000.0 / n * 1000000.0 + 0.5) / 1000000.0
             AS entropy,
           CASE WHEN vocab_size > 1 THEN
             floor((hsum / 1000000.0 / n) / ln(1.0 * vocab_size)
                   * 1000000.0 + 0.5) / 1000000.0
           END AS evenness
    FROM a
    """,
    "textops: unigram Shannon entropy + Pielou evenness per language "
    "(the distribution-breadth corpus-health twin of text_zipf_fit; "
    "Pielou 1966; no reference counterpart)",
    "H = sum (c/n) ln(n/c) in exact integer micro-nats per term before "
    "summing (the kl_term_drift discipline); evenness = H/ln(vocab), "
    "NULL on a single-term group (never a zero division); this "
    "synthetic corpus reads ~0.99 evenness (near-uniform vocabulary) — "
    "natural text sits ~0.7-0.8, so the audit flags it",
)
def text_unigram_entropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import (
        unigram_entropy_stats,
    )

    return unigram_entropy_stats(
        _t(spark, sf_dir, "documents"), group_col="lang"
    )


# Curation pipeline v6 — the r12 capstone composition: quality gate →
# near-dup drop (prefix-Jaccard pairs among SURVIVORS, keep-min-id) →
# waterfill token-budget solve on the deduped supply → hash-order
# prefix selection down to each lang's cap. Every stage BITES on this
# corpus (selectivity-guarded): 500 → 309 gate → 298 dedup → capped
# fill at sf0.01. The pair SQL is dedup_shingle_jaccard's oracle
# retargeted at the gate-survivor CTE (asserted single replacement).
def _register_curation_v6() -> None:
    pairs_oracle = QUERIES["dedup_shingle_jaccard"].oracle
    assert pairs_oracle.count("FROM documents") == 1
    kept_pairs = pairs_oracle.replace("FROM documents", "FROM qkept")

    @_register(
        "curation_pipeline_v6",
        f"""
        WITH {_QUALITY_KEPT_CTES},
        kp AS ({kept_pairs}),
        drop0 AS (SELECT DISTINCT id_b AS doc_id FROM kp),
        surv AS (SELECT q.doc_id, q.lang,
                        CAST(len(string_split(q.text, ' ')) AS BIGINT)
                          AS n_tok
                 FROM qkept q LEFT JOIN drop0 d ON d.doc_id = q.doc_id
                 WHERE d.doc_id IS NULL),
        c AS (SELECT lang, CAST(sum(n_tok) AS BIGINT) AS n_tokens
              FROM surv GROUP BY 1),
        t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
                     CAST(count(*) AS BIGINT) AS m
              FROM c),
        s AS (SELECT lang, n_tokens, m, total * 3 // 4 AS budget,
                     CAST(row_number() OVER (ORDER BY n_tokens, lang)
                          AS BIGINT) AS r,
                     CAST(coalesce(sum(n_tokens) OVER (
                            ORDER BY n_tokens, lang
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS BIGINT)
                       AS s_prev
              FROM c CROSS JOIN t),
        u AS (SELECT *,
                     n_tokens * (m - r + 1) <= budget - s_prev AS uncapped
              FROM s),
        fj AS (SELECT CAST(sum(CASE WHEN uncapped THEN 1 ELSE 0 END)
                           AS BIGINT) AS j,
                      CAST(coalesce(sum(CASE WHEN uncapped
                                             THEN n_tokens END), 0)
                           AS BIGINT) AS s_j
               FROM u),
        caps AS (SELECT lang,
                        CAST(CASE WHEN uncapped THEN n_tokens
                                  ELSE (budget - s_j) // (m - j) END
                             AS BIGINT) AS alloc_tokens
                 FROM u CROSS JOIN fj),
        ordd AS (SELECT sv.lang, sv.n_tok, caps.alloc_tokens,
                        sum(sv.n_tok) OVER (
                          PARTITION BY sv.lang
                          ORDER BY {_h60_sql("concat('v6', CAST(sv.doc_id AS VARCHAR))")},
                                   sv.doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS cum
                 FROM surv sv JOIN caps USING (lang)),
        fill AS (SELECT lang,
                        CAST(count(*) AS BIGINT) AS n_dedup_kept,
                        alloc_tokens,
                        CAST(sum(CASE WHEN cum <= alloc_tokens
                                      THEN 1 ELSE 0 END) AS BIGINT)
                          AS n_docs_sel,
                        CAST(coalesce(sum(CASE WHEN cum <= alloc_tokens
                                               THEN n_tok END), 0)
                             AS BIGINT) AS realized_tokens,
                        CAST(CASE WHEN alloc_tokens > 0 THEN
                               1000000 * coalesce(sum(CASE
                                   WHEN cum <= alloc_tokens
                                   THEN n_tok END), 0) // alloc_tokens
                             END AS BIGINT) AS fill_e6
                 FROM ordd GROUP BY lang, alloc_tokens),
        cin AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs_in
                FROM documents GROUP BY 1),
        cg AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_gate_kept
               FROM qkept GROUP BY 1)
        SELECT cin.lang, cin.n_docs_in,
               CAST(coalesce(cg.n_gate_kept, 0) AS BIGINT) AS n_gate_kept,
               CAST(coalesce(fill.n_dedup_kept, 0) AS BIGINT)
                 AS n_dedup_kept,
               fill.alloc_tokens, fill.n_docs_sel, fill.realized_tokens,
               fill.fill_e6
        FROM cin LEFT JOIN cg USING (lang) LEFT JOIN fill USING (lang)
        """,
        "curation: end-to-end pipeline v6 — quality gate, near-dup "
        "drop among survivors, waterfill budget solve, hash-order cap "
        "fill (the execution-complete mix pipeline; no reference "
        "counterpart)",
        "gate 500→309, keep-min-id near-dup drop →298 (pairs from the "
        "prefix-Jaccard join OVER SURVIVORS — dedup where it's "
        "cheapest), waterfill 3/4-budget caps on the DEDUPED supply, "
        "deterministic prefix fill; gate-survivor and dedup-survivor "
        "sets scope-persisted (each feeds 3 consumers); langs with no "
        "survivors degrade to NULL fill columns, counts coalesce to 0",
    )
    def curation_pipeline_v6(spark: SparkSession, sf_dir: str) -> DataFrame:
        from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
            shingle_jaccard_prefix_pairs,
        )
        from sports_data_integration_and_forecasting_pipeline_spark.operators.sampling import (
            budget_cap_prefix_select,
            waterfill_token_caps,
        )
        from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import (
            quality_linear_filter,
        )

        docs = _t(spark, sf_dir, "documents")
        g = persist_scoped(
            "v6_gate_kept",
            quality_linear_filter(docs)
            .filter(F.col("kept"))
            .select("doc_id", "lang", "text"),
        )
        pairs = shingle_jaccard_prefix_pairs(g, max_df=100, threshold_pct=50)
        dropped = pairs.select(F.col("id_b").alias("doc_id")).distinct()
        # localCheckpoint = the materialized stage boundary a real
        # pipeline writes between dedup and mixing (the
        # embed_ivfpq_precoded_topk / text_bpe_merges discipline):
        # the three downstream consumers (waterfill counts, cap fill,
        # dedup-kept rollup) read a flat scan instead of reprinting the
        # gate+pair-join lineage under every reference (261 textual
        # exchanges without it, ~30 with). Eager — it runs inside fn(),
        # which bench.py times with the action for every entry.
        surv = checkpoint_scoped(
            g.join(dropped, "doc_id", "left_anti").select(
                "doc_id",
                "lang",
                F.size(F.split(F.col("text"), " "))
                .cast("bigint")
                .alias("n_tok"),
            ),
        )
        caps = waterfill_token_caps(
            surv, domain_col="lang", budget_num=3, budget_den=4,
            ntok_col="n_tok",
        ).select("lang", "alloc_tokens")
        fill = budget_cap_prefix_select(surv, caps).withColumnRenamed(
            "n_docs_in", "n_dedup_kept"
        )
        cin = docs.groupBy("lang").agg(
            F.count("*").cast("bigint").alias("n_docs_in")
        )
        cg = g.groupBy("lang").agg(
            F.count("*").cast("bigint").alias("n_gate_kept")
        )
        return (
            cin.join(F.broadcast(cg), "lang", "left")
            .join(F.broadcast(fill), "lang", "left")
            .select(
                "lang",
                "n_docs_in",
                F.coalesce("n_gate_kept", F.lit(0))
                .cast("bigint")
                .alias("n_gate_kept"),
                F.coalesce("n_dedup_kept", F.lit(0))
                .cast("bigint")
                .alias("n_dedup_kept"),
                "alloc_tokens",
                "n_docs_sel",
                "realized_tokens",
                "fill_e6",
            )
        )


_register_curation_v6()


# Two-stage retrieval: the IVF-PQ shortlist (integer ADC over codes)
# re-ranked by EXACT cosine over only the shortlisted float vectors —
# FAISS's IndexRefineFlat. The oracle restates stage 1 verbatim from
# embed_ivfpq_topk's shared literals (shortlist rank <= 20), then the
# exact-cosine re-rank from embed_cosine_topk's norm CTE arithmetic,
# so pruning, approximation, AND refinement hash-match end-to-end.
@_register(
    "embed_ivfpq_refine_topk",
    f"""
    WITH {_PQ_ENC_CTES},
    nv AS (SELECT vec_id, v,
                  sqrt(list_sum(list_transform(range(1, {_EMB_DIM + 1}),
                                               i -> v[i::INT] * v[i::INT])))
                    AS nrm
           FROM e),
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
      SELECT p.q_id, ac.vec_id AS cand_id,
             {_PQ_ADC_CASES} AS adc_e6
      FROM probe p
      JOIN ac ON ac.cell = p.cell AND ac.vec_id <> p.q_id
      JOIN enc ON enc.vec_id = ac.vec_id
      JOIN q ON q.q_id = p.q_id
    ),
    short AS (
      SELECT q_id, cand_id, adc_rank FROM (
        SELECT q_id, cand_id,
               CAST(row_number() OVER (PARTITION BY q_id
                                       ORDER BY adc_e6, cand_id) AS INT)
                 AS adc_rank
        FROM pairs)
      WHERE adc_rank <= 20),
    ref AS (
      SELECT s.q_id, s.cand_id, s.adc_rank,
             {_sql_r(_COS_SQL, 6)} AS cosine
      FROM short s
      JOIN nv c ON c.vec_id = s.cand_id
      JOIN nv q ON q.vec_id = s.q_id)
    SELECT q_id, rank, cand_id, adc_rank, cosine FROM (
      SELECT q_id, cand_id, adc_rank, cosine,
             CAST(row_number() OVER (PARTITION BY q_id
                                     ORDER BY cosine DESC, cand_id) AS INT)
               AS rank
      FROM ref)
    WHERE rank <= 5
    """,
    "similarity: IVF-PQ shortlist + exact-cosine re-rank (FAISS "
    "IndexRefineFlat, Jégou et al. TPAMI 2011 §V.B; no reference "
    "counterpart)",
    "stage 1 prunes to a 20-candidate integer-ADC shortlist per query "
    "(3-probe cells, shared literals with embed_ivfpq_topk); stage 2 "
    "fetches ONLY those float vectors (shortlist broadcasts onto the "
    "corpus scan — the corpus never shuffles) and re-ranks by exact "
    "6dp cosine; adc_rank rides along so rank != adc_rank rows "
    "measure the reorder the refinement buys",
)
def embed_ivfpq_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.quantize import (
        ivfpq_refine_topk,
    )

    return ivfpq_refine_topk(
        _t(spark, sf_dir, "embeddings"),
        query_pred=F.col("vec_id") < 10,
        centers=IVF_CENTROIDS,
        codebooks=PQ_CODEBOOKS,
        n_probe=_IVF_N_PROBE,
        shortlist=20,
        k=5,
        round_expr=lambda c: _r(c, 6),
    )


@_register(
    "mixture_cap_prefix_fill",
    f"""
    WITH c AS (SELECT lang,
                      CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                        AS n_tokens
               FROM documents GROUP BY lang),
    t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
                 CAST(count(*) AS BIGINT) AS m
          FROM c),
    s AS (SELECT lang, n_tokens, m, total * 3 // 4 AS budget,
                 CAST(row_number() OVER (ORDER BY n_tokens, lang)
                      AS BIGINT) AS r,
                 CAST(coalesce(sum(n_tokens) OVER (
                        ORDER BY n_tokens, lang
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS s_prev
          FROM c CROSS JOIN t),
    u AS (SELECT *,
                 n_tokens * (m - r + 1) <= budget - s_prev AS uncapped
          FROM s),
    f AS (SELECT CAST(sum(CASE WHEN uncapped THEN 1 ELSE 0 END) AS BIGINT)
                   AS j,
                 CAST(coalesce(sum(CASE WHEN uncapped THEN n_tokens END), 0)
                   AS BIGINT) AS s_j
          FROM u),
    caps AS (SELECT lang,
                    CAST(CASE WHEN uncapped THEN n_tokens
                              ELSE (budget - s_j) // (m - j) END
                         AS BIGINT) AS alloc_tokens
             FROM u CROSS JOIN f),
    docs AS (SELECT doc_id, lang,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                    {_h60_sql("concat('v6', CAST(doc_id AS VARCHAR))")} AS hk
             FROM documents),
    cum AS (SELECT d.lang, d.n_tok, caps.alloc_tokens,
                   sum(d.n_tok) OVER (
                     PARTITION BY d.lang ORDER BY d.hk, d.doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS cum_tok
            FROM docs d JOIN caps USING (lang))
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs_in,
           alloc_tokens,
           CAST(sum(CASE WHEN cum_tok <= alloc_tokens THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_sel,
           CAST(coalesce(sum(CASE WHEN cum_tok <= alloc_tokens
                                  THEN n_tok END), 0)
                AS BIGINT) AS realized_tokens,
           CAST(CASE WHEN alloc_tokens > 0 THEN
                  1000000 * coalesce(sum(CASE WHEN cum_tok <= alloc_tokens
                                              THEN n_tok END), 0)
                    // alloc_tokens
                END AS BIGINT) AS fill_e6
    FROM cum
    GROUP BY lang, alloc_tokens
    """,
    "curation: waterfill cap EXECUTION — deterministic hash-order "
    "prefix selection down to each domain's token cap, with realized "
    "fill audit (the execution half of mixture_waterfill_caps; no "
    "reference counterpart)",
    "caps from the 3/4-budget waterfill solve; per-domain docs ordered "
    "by h60('v6'||doc_id) (RNG-free, rerun/engine/partition-stable), "
    "prefix kept while cumulative tokens fit the cap; cumulative sum "
    "is the TWO-PHASE prefix sum over 4096 order-preserving hash-range "
    "buckets per domain (top 12 bits of the uniform 60-bit hash) — "
    "never a one-task-per-domain window; fill_e6 = 1e6*realized div "
    "alloc, NULL on a zero cap (degenerate discipline)",
)
def mixture_cap_prefix_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.sampling import (
        budget_cap_prefix_select,
        waterfill_token_caps,
    )

    docs = _t(spark, sf_dir, "documents")
    caps = waterfill_token_caps(
        docs, domain_col="lang", budget_num=3, budget_den=4
    ).select("lang", "alloc_tokens")
    d = docs.select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tok"),
    )
    return budget_cap_prefix_select(
        d, caps, domain_col="lang", ntok_col="n_tok", id_col="doc_id",
        salt="v6",
    )


# ===========================================================================
# Round-13 additions (VERDICT r12 task 3 — the three verdict-named gap
# fillers, capped below rotation throughput). Held OUT of the r13
# driver window per the standing convention — front of the r14 in-list.
# ===========================================================================


@_register(
    "dedup_cluster_soft_weights",
    f"""
    WITH RECURSIVE {_SIMHASH60_CTE},
    bands AS (
      SELECT doc_id, simhash60, b AS band,
             (simhash60 >> (15 * b)) & 32767 AS nib
      FROM sim60 CROSS JOIN (VALUES (0), (1), (2), (3)) t(b)
    ),
    edges AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.nib = b.nib
                               AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash60, b.simhash60)) <= 3
    ),
    sym AS (
      SELECT id_a AS n, id_b AS m FROM edges
      UNION ALL SELECT id_b, id_a FROM edges
    ),
    comp(n, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.n, c.label FROM comp c JOIN sym s ON s.m = c.n
    ),
    lab AS (SELECT n AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
            FROM comp GROUP BY n)
    SELECT doc_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS cluster_size,
           CAST(1000000 // count(*) OVER (PARTITION BY cluster_id)
                AS BIGINT) AS weight_e6
    FROM lab
    """,
    "dedup: NEAR-dup soft weights — cluster-granular 1/|cluster| loss "
    "weights (SoftDedup, He et al. 2024 arXiv:2407.04964; no reference "
    "counterpart)",
    "the exact-dup soft-weight idea lifted to near-dup granularity: "
    "SimHash banded pairs -> connected components (transitive closure, "
    "so A~B~C all weight 1/3 even when A,C never pair) -> one window "
    "count over the cluster partitioning; singleton docs keep weight "
    "exactly 1e6 — oracle is the recursive-CTE fixpoint plus the same "
    "window",
)
def dedup_cluster_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        near_dup_soft_weights,
    )

    return near_dup_soft_weights(
        _t(spark, sf_dir, "documents"), max_hamming=3
    )


# Embedding-space contamination threshold: calibrated to the synthetic
# embedding cosine distribution (bench-vs-train cosines top out ~0.43
# at sf0.001 / ~0.49 at sf0.01 with p99 ~0.29, measured via DuckDB), so
# 0.30 yields a non-degenerate flag count at every test scale. A real
# deployment with a trained encoder runs 0.9+; the threshold is a
# parameter of the operator, not a constant.
_EMB_CONTAM_THRESHOLD = 0.30


@_register(
    "embed_contamination_audit",
    f"""
    WITH {_emb_norm_cte()},
    q AS (SELECT * FROM nv WHERE vec_id < 20),
    c AS (SELECT * FROM nv WHERE vec_id >= 20),
    scored AS (
      SELECT q.vec_id AS bench_id, c.vec_id AS cand_id,
             CASE WHEN q.nrm > 0 AND c.nrm > 0
                  THEN {_sql_r(_COS_SQL, 6)} END AS cosine
      FROM q CROSS JOIN c
    ),
    agg AS (
      SELECT bench_id,
             CAST(sum(CASE WHEN cosine >= {_EMB_CONTAM_THRESHOLD}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
             max(cosine) AS max_cosine
      FROM scored GROUP BY bench_id
    ),
    best AS (
      SELECT bench_id, cand_id, cosine,
             row_number() OVER (PARTITION BY bench_id
                                ORDER BY cosine DESC NULLS LAST, cand_id)
               AS rn
      FROM scored
    )
    SELECT a.bench_id, a.n_flagged, a.max_cosine,
           CASE WHEN b.cosine IS NOT NULL THEN b.cand_id END AS nearest_id
    FROM agg a JOIN best b ON a.bench_id = b.bench_id AND b.rn = 1
    """,
    "similarity: embedding-space benchmark contamination audit — the "
    "semantic twin of the n-gram decontam pair (GPT-3 appendix / "
    "Dolma-style cosine decontamination; no reference counterpart)",
    "bench side (vec_id < 20) broadcasts onto ONE train-corpus scan "
    "(the corpus never shuffles for scoring); per-bench count/max/argmax "
    "run in one bench_id window partitioning; zero-norm vectors score "
    "NULL cosine and drop from count/max/nearest (degenerate "
    "discipline)",
)
def embed_contamination_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.similarity import (
        embedding_contamination_audit,
    )

    return embedding_contamination_audit(
        _t(spark, sf_dir, "embeddings"),
        bench_pred=F.col("vec_id") < 20,
        threshold=_EMB_CONTAM_THRESHOLD,
        round_expr=lambda c: _r(c, 6),
    )


@_register(
    "text_bpe_vocab_coverage",
    f"""
    WITH {_BPE_CTES},
    enc AS (SELECT word,
                   CAST(count(*) AS BIGINT) AS n_toks,
                   CAST(sum(CASE WHEN length(sym) = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_single
            FROM s{_BPE_ROUNDS} GROUP BY word),
    gw AS (SELECT lang, word, CAST(count(*) AS BIGINT) AS occ
           FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
                 FROM documents)
           WHERE word <> '' GROUP BY lang, word),
    cl AS (SELECT lang, occ,
                  CASE WHEN n_toks = 1 THEN 1 ELSE 0 END AS wt,
                  CASE WHEN n_toks > 1 AND n_single = n_toks
                       THEN 1 ELSE 0 END AS fb
           FROM gw JOIN enc USING (word)),
    a AS (SELECT lang,
                 CAST(count(*) AS BIGINT) AS n_types,
                 CAST(sum(occ) AS BIGINT) AS n_occurrences,
                 CAST(sum(wt) AS BIGINT) AS wtypes,
                 CAST(sum(fb) AS BIGINT) AS ftypes,
                 CAST(sum(wt * occ) AS BIGINT) AS wocc,
                 CAST(sum(fb * occ) AS BIGINT) AS focc
          FROM cl GROUP BY lang)
    SELECT lang, n_types, n_occurrences,
           CAST(1000000 * wtypes // n_types AS BIGINT) AS whole_type_e6,
           CAST(1000000 * ftypes // n_types AS BIGINT) AS fallback_type_e6,
           CAST(1000000 * wocc // n_occurrences AS BIGINT) AS whole_occ_e6,
           CAST(1000000 * focc // n_occurrences AS BIGINT)
             AS fallback_occ_e6
    FROM a
    """,
    "textops: tokenizer-vocabulary OOV/coverage audit per language — "
    "word-CLASS shares under the learned BPE segmentation (Sennrich et "
    "al. ACL 2016 fallback accounting; no reference counterpart)",
    "whole-word (1 symbol) vs pure char-fallback (no merge touched it) "
    "classes on the DISTINCT-word segmentation, reported in both TYPE "
    "and OCCURRENCE bases per language — the health axis fertility's "
    "ratios can't see; same learned merges as text_bpe_encode, word "
    "equi-key join (honest hash join, never a broadcast assumption)",
)
def text_bpe_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import (
        bpe_vocab_coverage_stats,
    )

    return bpe_vocab_coverage_stats(
        _t(spark, sf_dir, "documents"), rounds=_BPE_ROUNDS
    )
