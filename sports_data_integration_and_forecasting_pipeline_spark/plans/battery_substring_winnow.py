"""ExactSubstr span family, winnowing (MOSS) fingerprints + incremental state, curation v3, KMV contamination, sketch merge parity, DSIR, AUC audit, matryoshka, curation v5.

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

from ..operators.scoped import persist_scoped

from .battery_core import _r, _register, _sql_r, _t
from .battery_embeddings import _COS_SQL, _emb_norm_cte
from .battery_mixture_storage import _PPL_CTES, _PPL_CUT_E4
from .battery_text_dedup import (
    QUALITY_W0_E6,
    QUALITY_W_AWL_E3,
    QUALITY_W_LEN_E3,
    QUALITY_W_PUNCT_E3,
    QUALITY_W_STOP_E3,
    _SHINGLE3_RAW_SQL,
    _h60_sql,
    _sql_count_in,
)




# ===========================================================================
# Exact substring dedup (r8 new family head) — the "deduplicating
# training data" primitive (Lee et al., ACL '22): every maximal token
# span occurring verbatim >= 2 times corpus-wide, per document. The
# reference paper builds a suffix array — a global sort of every corpus
# suffix, the exact single-total-order structure that cannot shard; for
# fixed-k windows the same answer falls out of hash aggregation with
# map-side combine (operators/dedup.py:duplicate_substring_spans). The
# oracle groups on the raw k-gram TEXT while the engine groups on its
# md5 — the hash-match therefore also certifies the digest substitution.
# Scale: one narrow transform (k-gram md5s per doc), one hash exchange
# with map-side partial counts (a 10^8-times-repeated boilerplate gram
# reaches its reducer as one partial per map task), one AQE-skew-safe
# semi-join, one per-DOC (bounded) island-merge window. k=10 at battery
# scale (testdata docs are 25-80 tokens); production uses ~50.
# ===========================================================================

@_register(
    "dedup_substring_spans",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    g AS (SELECT doc_id, unnest(range(1, greatest(len(tk) - 9, 0) + 1)) AS pos, tk
          FROM toks),
    g2 AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                  array_to_string(tk[pos:pos+9], ' ') AS gram
           FROM g),
    dup AS (SELECT gram FROM g2 GROUP BY gram HAVING count(*) >= 2),
    dp AS (SELECT doc_id, pos FROM g2 WHERE gram IN (SELECT gram FROM dup)),
    fl AS (SELECT doc_id, pos,
                  CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                            OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 10
                       THEN 1 ELSE 0 END AS f
           FROM dp),
    isl AS (SELECT doc_id, pos,
                   sum(f) OVER (PARTITION BY doc_id ORDER BY pos) AS island
            FROM fl)
    SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + 9 AS BIGINT) AS span_end,
           CAST(max(pos) + 9 - min(pos) + 1 AS BIGINT) AS span_tokens,
           CAST(count(*) AS BIGINT) AS n_dup_windows
    FROM isl GROUP BY doc_id, island
    """,
    "dedup: exact substring spans (ExactSubstr — copied-passage dedup, "
    "distinct from all whole-document blocking families; no reference "
    "counterpart)",
    "maximal verbatim 10-token spans duplicated corpus-wide, merged "
    "per doc via islands-and-gaps",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        duplicate_substring_spans,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return duplicate_substring_spans(docs, k=10)


# ===========================================================================
# Incremental ExactSubstr (r8) — the daily-crawl path: duplicated spans
# in a NEW batch (doc_id % 5 == 0) against the persisted gram-count
# state of the rest of the corpus, without re-scanning it
# (operators/dedup.py:substring_gram_counts /
# incremental_duplicate_spans). The oracle verifies the EQUIVALENCE
# claim directly: it recomputes spans over the full union and keeps the
# new docs' rows — per gram, total count == state + batch count, so the
# two paths must agree exactly. Completes the incremental story for the
# substring family (siblings: dedup_incremental_minhash/_compacted).
# ===========================================================================

@_register(
    "dedup_incremental_substring",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    g AS (SELECT doc_id, unnest(range(1, greatest(len(tk) - 9, 0) + 1)) AS pos, tk
          FROM toks),
    g2 AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                  array_to_string(tk[pos:pos+9], ' ') AS gram
           FROM g),
    dup AS (SELECT gram FROM g2 GROUP BY gram HAVING count(*) >= 2),
    dp AS (SELECT doc_id, pos FROM g2
           WHERE doc_id % 5 = 0 AND gram IN (SELECT gram FROM dup)),
    fl AS (SELECT doc_id, pos,
                  CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                            OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 10
                       THEN 1 ELSE 0 END AS f
           FROM dp),
    isl AS (SELECT doc_id, pos,
                   sum(f) OVER (PARTITION BY doc_id ORDER BY pos) AS island
            FROM fl)
    SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + 9 AS BIGINT) AS span_end,
           CAST(max(pos) + 9 - min(pos) + 1 AS BIGINT) AS span_tokens,
           CAST(count(*) AS BIGINT) AS n_dup_windows
    FROM isl GROUP BY doc_id, island
    """,
    "dedup: incremental ExactSubstr (new batch vs persisted corpus "
    "gram-count state; oracle checks exact equivalence to the full "
    "recompute; no reference counterpart)",
    "duplicated spans in the doc_id%5==0 batch counting in-batch repeats "
    "+ corpus-state matches — corpus never re-scanned",
)
def dedup_incremental_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        incremental_duplicate_spans,
        substring_gram_counts,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    state = substring_gram_counts(old, k=10)
    return incremental_duplicate_spans(new, state, k=10)


# ===========================================================================
# ExactSubstr, applied (r8) — the curation half of substring dedup:
# every token covered by a duplicated span is clipped and the document
# text rebuilt from the survivors (operators/dedup.py:
# clip_substring_spans). Full corpus replacement out: unclipped docs
# pass through token-normalized. The span table is doc-bounded, so the
# token stream anti-joins it on the doc EQUI key with the span band as
# a residual (the pit_state_lookup shape); the rebuild is one per-doc
# aggregate over a document-length-bounded sorted array.
# ===========================================================================

@_register(
    "dedup_substring_clip",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    g AS (SELECT doc_id, unnest(range(1, greatest(len(tk) - 9, 0) + 1)) AS pos, tk
          FROM toks),
    g2 AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                  array_to_string(tk[pos:pos+9], ' ') AS gram
           FROM g),
    dup AS (SELECT gram FROM g2 GROUP BY gram HAVING count(*) >= 2),
    dp AS (SELECT doc_id, pos FROM g2 WHERE gram IN (SELECT gram FROM dup)),
    fl AS (SELECT doc_id, pos,
                  CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                            OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 10
                       THEN 1 ELSE 0 END AS f
           FROM dp),
    isl AS (SELECT doc_id, pos,
                   sum(f) OVER (PARTITION BY doc_id ORDER BY pos) AS island
            FROM fl),
    spans AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS s,
                     CAST(max(pos) + 9 AS BIGINT) AS e
              FROM isl GROUP BY doc_id, island),
    tok_rows AS (SELECT doc_id, unnest(tk) AS tok,
                        unnest(range(1, len(tk) + 1)) AS pos
                 FROM toks),
    kept AS (SELECT t.doc_id, t.pos, t.tok
             FROM tok_rows t
             WHERE NOT EXISTS (SELECT 1 FROM spans s
                               WHERE s.doc_id = t.doc_id
                                 AND t.pos BETWEEN s.s AND s.e)),
    reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
                   CAST(count(*) AS BIGINT) AS n_tokens
            FROM kept GROUP BY doc_id)
    SELECT t.doc_id,
           coalesce(r.clean_text, '') AS clean_text,
           CAST(coalesce(r.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(len(t.tk) - coalesce(r.n_tokens, 0) AS BIGINT)
             AS n_removed_tokens
    FROM toks t LEFT JOIN reb r ON r.doc_id = t.doc_id
    """,
    "dedup: ExactSubstr applied — duplicated spans clipped out and the "
    "corpus text rebuilt (curation-side half of dedup_substring_spans; "
    "no reference counterpart)",
    "corpus replacement with every duplicated 10-token span removed — "
    "clean text + kept/removed token counts per doc",
)
def dedup_substring_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        clip_substring_spans,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return clip_substring_spans(docs, k=10)


# ===========================================================================
# Winnowing fingerprints (r9 new family) — MOSS local fingerprinting
# (Schleimer, Wilkerson & Aiken, SIGMOD '03; public), the
# fingerprint-index counterpart to the gram-exhaustive substring family
# above: hash every word-k-gram, slide a w-hash window, keep each
# window's minimum (ties → rightmost), and dedupe the selections. Any
# shared substring of ≥ w+k−1 tokens is GUARANTEED to leave a shared
# fingerprint, at ≈ 2/(w+1) of the gram stream's volume — the
# pre-shuffle candidate cut the plain shingle inverted index never
# gets. The selection is one packed-integer window min
# (h36·2^27 + (2^27−1−pos)), so min-hash + rightmost-tie is a single
# long comparison both engines reproduce bit-for-bit
# (operators/dedup.py:winnow_fingerprints). 100 TB: one doc-granular
# exchange total for fingerprints; the match join runs over the
# winnowed (5-10× smaller) index with the same broadcast hot-cap as
# the jaccard family.
# ===========================================================================

_WINNOW_K = 5
_WINNOW_W = 4
_WINNOW_LIM = 1 << 27


def _winnow_fp_ctes(src: str) -> str:
    """The winnow fingerprint CTE chain over an arbitrary (doc_id, text)
    source CTE/table — shared by the standalone entries (src =
    documents) and the composed curation pipeline (src = the
    quality-filtered survivor set)."""
    return _WINNOW_FP_CTES_TEMPLATE.replace("__SRC__", src)


_WINNOW_FP_CTES_TEMPLATE = f"""
    toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM __SRC__),
    g AS (SELECT doc_id,
                 unnest(range(1, greatest(len(tk) - {_WINNOW_K - 1}, 0) + 1)) AS pos,
                 tk
          FROM toks),
    g2 AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                  array_to_string(tk[pos:pos+{_WINNOW_K - 1}], ' ') AS gram
           FROM g),
    p AS (SELECT doc_id, pos,
                 CAST(concat('0x', substring(md5(gram), 1, 9)) AS BIGINT)
                   * {_WINNOW_LIM} + ({_WINNOW_LIM - 1} - pos) AS packed,
                 count(*) OVER (PARTITION BY doc_id) AS m
          FROM g2),
    sel AS (SELECT doc_id, pos, m,
                   min(packed) OVER (PARTITION BY doc_id ORDER BY pos
                                     ROWS BETWEEN CURRENT ROW
                                     AND {_WINNOW_W - 1} FOLLOWING) AS s
            FROM p),
    fp AS (SELECT DISTINCT doc_id,
                  CAST({_WINNOW_LIM - 1} - (s % {_WINNOW_LIM}) AS BIGINT) AS pos,
                  CAST(s // {_WINNOW_LIM} AS BIGINT) AS fp
           FROM sel WHERE pos <= greatest(m - {_WINNOW_W - 1}, 1))
"""

_WINNOW_FP_CTES = _winnow_fp_ctes("documents")


@_register(
    "dedup_winnow_fingerprints",
    f"""
    WITH {_WINNOW_FP_CTES}
    SELECT doc_id, pos, fp FROM fp
    """,
    "dedup: winnowing fingerprints (MOSS, Schleimer et al. SIGMOD '03; "
    "no reference counterpart)",
    "per-doc selected (position, 36-bit hash) fingerprints — window-min "
    "with rightmost-tie via one packed-integer comparison",
)
def dedup_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        winnow_fingerprints,
    )
    from sports_data_integration_and_forecasting_pipeline_spark.operators.parallelism import (
        ensure_parallelism,
    )

    docs = ensure_parallelism(
        _t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    return winnow_fingerprints(docs, k=_WINNOW_K, w=_WINNOW_W)


@_register(
    "dedup_winnow_match_pairs",
    f"""
    WITH {_WINNOW_FP_CTES},
    fps AS (SELECT DISTINCT doc_id, fp FROM fp),
    dfreq AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 100),
    surv AS (SELECT f.doc_id, f.fp FROM fps f JOIN dfreq USING (fp))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM surv a JOIN surv b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= 2
    """,
    "dedup: winnowed match pairs (MOSS match step; no reference "
    "counterpart)",
    "doc pairs sharing >= 2 winnowing fingerprints over the hot-capped "
    "fingerprint inverted index",
)
def dedup_winnow_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        winnow_match_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return winnow_match_pairs(
        docs, k=_WINNOW_K, w=_WINNOW_W, min_shared=2, max_df=100
    )


# Incremental winnow (r10): batch (doc_id % 10 = 0) matched against the
# persisted corpus fingerprint state (the other 90%) WITHOUT
# re-fingerprinting the corpus. Fingerprints are per-document, so the
# incremental state union IS the full-recompute fingerprint set — the
# oracle is the full winnow_match_pairs SQL restricted to pairs touching
# a batch doc, and hash equality proves the incremental path computes
# exactly that subset (the incremental_minhash/substring convention).
@_register(
    "dedup_incremental_winnow",
    f"""
    WITH {_WINNOW_FP_CTES},
    fps AS (SELECT DISTINCT doc_id, fp FROM fp),
    dfreq AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 100),
    surv AS (SELECT f.doc_id, f.fp FROM fps f JOIN dfreq USING (fp))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM surv a JOIN surv b ON a.fp = b.fp AND a.doc_id < b.doc_id
    WHERE a.doc_id % 10 = 0 OR b.doc_id % 10 = 0
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= 2
    """,
    "dedup: incremental winnow — batch vs persisted fingerprint state "
    "(MOSS match, snapshot form; no reference counterpart)",
    "O(batch) fingerprinting + fp equi-join against the stored index; "
    "hot cap over state+batch = the full-corpus cap, so the subset "
    "hash-matches a full recompute",
)
def dedup_incremental_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        incremental_winnow_matches,
        winnow_state,
    )
    from sports_data_integration_and_forecasting_pipeline_spark.operators.parallelism import (
        ensure_parallelism,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = ensure_parallelism(
        docs.filter(F.col("doc_id") % 10 != 0), "doc_id"
    )
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    state = winnow_state(corpus, k=_WINNOW_K, w=_WINNOW_W)
    return incremental_winnow_matches(
        state, batch, k=_WINNOW_K, w=_WINNOW_W, min_shared=2, max_df=100
    )


# ===========================================================================
# Cross-snapshot contamination audit (r8 new family head) — KMV/theta
# sketch intersections (operators/contamination.py): every source
# summarized once into its k=128 smallest distinct shingle-md5s, then
# all 190 pairwise train-vs-eval overlap estimates answered from
# sketches alone. The mergeable generalization of
# decontaminate_benchmark's broadcast shingle set — which cannot
# broadcast a 100 TB eval side; sketches compare in milliseconds and
# merge across snapshots (kmv_merge) without re-scanning any corpus.
# The estimator is exact integer/string comparison on md5 digests, so
# the DuckDB oracle reproduces the APPROXIMATION itself bit-for-bit.
# Scale: one distinct exchange + two bounded rank windows (256 uniform
# hash-prefix sub-partitions per source, then a sketch-sized final
# rank); the audit joins are all broadcast, sketch-sized.
# ===========================================================================


# ===========================================================================
# Curation pipeline v3 (r9) — the round's stages composed end-to-end,
# the way a real corpus build chains them: model-based quality filter
# (pinned-weight linear classifier) → soft dedup (exact copies stay,
# down-weighted 1e6 DIV multiplicity) → winnow near-dup prune (MOSS
# match pairs, star-canonical keep). One oracle states the WHOLE
# pipeline, so stage interactions — not just stages — are hash-checked
# (the curation_pipeline/_v2 discipline over the r9 operator set).
# ===========================================================================

@_register(
    "curation_pipeline_v3",
    f"""
    WITH t0q AS (
      SELECT doc_id, lang, text, n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
             {_sql_count_in(('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it', 'for', 'on'))} AS n_stop,
             CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct
      FROM documents
    ),
    fq AS (
      SELECT doc_id, lang, text,
             {QUALITY_W0_E6}
             + {QUALITY_W_STOP_E3} * CAST(floor(1.0 * n_stop / n * 1000000 + 0.5) AS BIGINT) // 1000
             + {QUALITY_W_PUNCT_E3} * CAST(floor(1.0 * n_punct / n_chars * 1000000 + 0.5) AS BIGINT) // 1000
             + {QUALITY_W_LEN_E3} * CAST(least(n, 100) * 10000 AS BIGINT) // 1000
             + {QUALITY_W_AWL_E3} * CAST(floor(1.0 * (n_chars - (n - 1)) / n * 1000000 + 0.5) AS BIGINT) // 1000
               AS logit_e6
      FROM t0q
    ),
    kept AS (SELECT doc_id, lang, text FROM fq WHERE logit_e6 >= 0),
    sw AS (
      SELECT doc_id,
             CAST(1000000 // (count(*) OVER (PARTITION BY md5(text)))
                  AS BIGINT) AS weight_e6
      FROM kept
    ),
    {_winnow_fp_ctes("kept")},
    fps AS (SELECT DISTINCT doc_id, fp FROM fp),
    dfreq AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 100),
    surv AS (SELECT f.doc_id, f.fp FROM fps f JOIN dfreq USING (fp)),
    prs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM surv a JOIN surv b ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 2),
    sym AS (SELECT id_a AS u, id_b AS nb FROM prs
            UNION ALL SELECT id_b, id_a FROM prs),
    mins AS (SELECT u, min(nb) AS mn FROM sym GROUP BY u),
    canon AS (
      SELECT k.doc_id, k.lang,
             k.doc_id = least(k.doc_id, coalesce(m.mn, k.doc_id)) AS is_canon
      FROM kept k LEFT JOIN mins m ON m.u = k.doc_id
    )
    SELECT c.lang,
           CAST(count(*) AS BIGINT) AS n_quality_kept,
           CAST(count(*) FILTER (c.is_canon) AS BIGINT) AS n_canonical,
           CAST(count(*) FILTER (NOT c.is_canon) AS BIGINT)
             AS n_near_dup_dropped,
           CAST(sum(CASE WHEN c.is_canon THEN s.weight_e6 ELSE 0 END)
                AS BIGINT) AS sum_weight_e6
    FROM canon c JOIN sw s ON s.doc_id = c.doc_id
    GROUP BY c.lang
    """,
    "curation: composed pipeline v3 — quality classifier -> soft dedup "
    "-> winnow near-dup prune (stage interactions hash-checked; no "
    "reference counterpart)",
    "per-lang survivors, star-canonical keeps, near-dup drops, and "
    "down-weighted gradient mass after the full r9 curation chain",
)
def curation_pipeline_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        soft_dedup_weights,
        winnow_match_pairs,
    )
    from sports_data_integration_and_forecasting_pipeline_spark.operators.parallelism import (
        ensure_parallelism,
    )
    from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import (
        quality_linear_filter,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", "n_chars"
    )
    # quality gate; survivors feed THREE consumers (weights, winnow,
    # final rollup) — scope-persist the filtered set
    kept = persist_scoped(
        "curation_v3_kept",
        ensure_parallelism(
            quality_linear_filter(docs)
            .filter(F.col("kept"))
            .select("doc_id", "lang", "text"),
            "doc_id",
        ),
    )
    sw = soft_dedup_weights(kept).select("doc_id", "weight_e6")
    pairs = winnow_match_pairs(
        kept, k=_WINNOW_K, w=_WINNOW_W, min_shared=2, max_df=100
    )
    sym = pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("nb")).unionAll(
        pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("nb"))
    )
    mins = sym.groupBy("u").agg(F.min("nb").alias("__mn"))
    canon = (
        kept.join(mins, kept["doc_id"] == mins["u"], "left_outer")
        .select(
            "doc_id",
            "lang",
            (
                F.col("doc_id")
                == F.least(
                    F.col("doc_id"), F.coalesce(F.col("__mn"), F.col("doc_id"))
                )
            ).alias("is_canon"),
        )
    )
    return (
        canon.join(sw, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_quality_kept"),
            F.sum(F.col("is_canon").cast("int")).cast("bigint").alias("n_canonical"),
            F.sum((~F.col("is_canon")).cast("int"))
            .cast("bigint")
            .alias("n_near_dup_dropped"),
            F.sum(
                F.when(F.col("is_canon"), F.col("weight_e6")).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("sum_weight_e6"),
        )
    )


@_register(
    "contamination_kmv_audit",
    f"""
    WITH sh AS (
      SELECT DISTINCT source, md5(g) AS h
      FROM (SELECT source, unnest({_SHINGLE3_RAW_SQL}) AS g FROM documents)
    ),
    r1 AS (SELECT source, h,
                  row_number() OVER (PARTITION BY source ORDER BY h) AS rn
           FROM sh),
    sk AS (SELECT source, h FROM r1 WHERE rn <= 128),
    grp AS (SELECT DISTINCT source FROM sk),
    pairs AS (SELECT a.source AS ga, b.source AS gb
              FROM grp a JOIN grp b ON a.source < b.source),
    uh AS (SELECT DISTINCT p.ga, p.gb, s.h
           FROM pairs p JOIN sk s ON s.source = p.ga OR s.source = p.gb),
    u AS (SELECT ga, gb, h,
                 row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn
          FROM uh),
    uk AS (SELECT ga, gb, h FROM u WHERE rn <= 128),
    un AS (SELECT ga, gb, CAST(count(*) AS BIGINT) AS n_union
           FROM uk GROUP BY ga, gb),
    ov AS (SELECT uk.ga, uk.gb, CAST(count(*) AS BIGINT) AS n_overlap
           FROM uk
           JOIN sk a ON a.source = uk.ga AND a.h = uk.h
           JOIN sk b ON b.source = uk.gb AND b.h = uk.h
           GROUP BY uk.ga, uk.gb)
    SELECT un.ga AS group_a, un.gb AS group_b, un.n_union,
           CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
           CAST(coalesce(ov.n_overlap, 0) * 1000000 // un.n_union AS BIGINT)
             AS jaccard_e6
    FROM un LEFT JOIN ov ON ov.ga = un.ga AND ov.gb = un.gb
    """,
    "curation: KMV/theta-sketch contamination audit (mergeable "
    "register-level train-vs-eval overlap; generalizes "
    "decontaminate_benchmark past broadcast-sized eval sets; no "
    "reference counterpart)",
    "pairwise source-overlap Jaccard estimates from k=128 KMV sketches "
    "of 3-token shingles — the approximation itself is hash-checked",
)
def contamination_kmv_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.contamination import (
        kmv_pairwise_overlap,
        kmv_registers,
    )
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        shingle_rows,
    )

    # row-per-shingle lead-window enumeration (codegen) — the
    # transform-lambda form is interpreted per element and measured 6×
    # slower for the corpus pass at sf1 (see shingle_rows docstring)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    sh = shingle_rows(docs, keep_cols=("source",)).select(
        "source", F.col("shingle").alias("g")
    )
    regs = kmv_registers(sh, "source", "g", k=128)
    return kmv_pairwise_overlap(regs, "source", k=128)


# ===========================================================================
# Sketch merge parity — the monoid law that makes sketches 100 TB-viable,
# proven END-TO-END as a query: per-shard KMV sketches (corpus split by
# doc_id parity) folded with kmv_merge must equal the whole-corpus
# sketch register-for-register (k-smallest-of-union == k-smallest of
# the union — Beyer et al. SIGMOD '07). Unit tests pin the operator;
# this entry makes the law externally hash-checked, comparing register
# counts and xor checksums per source.
# ===========================================================================

@_register(
    "sketch_merge_parity",
    f"""
    WITH sh AS (
      SELECT DISTINCT source, doc_id % 2 AS half, md5(g) AS h
      FROM (SELECT doc_id, source, unnest({_SHINGLE3_RAW_SQL}) AS g
            FROM documents)
    ),
    whole AS (
      SELECT source, h FROM (
        SELECT source, h,
               row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        FROM (SELECT DISTINCT source, h FROM sh))
      WHERE rn <= 128
    ),
    halves AS (
      SELECT source, half, h FROM (
        SELECT source, half, h,
               row_number() OVER (PARTITION BY source, half
                                  ORDER BY h) AS rn
        FROM sh)
      WHERE rn <= 128
    ),
    merged AS (
      SELECT source, h FROM (
        SELECT source, h,
               row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        FROM (SELECT DISTINCT source, h FROM halves))
      WHERE rn <= 128
    ),
    ws AS (SELECT source, CAST(count(*) AS BIGINT) AS n_regs_whole,
                  bit_xor(CAST(concat('0x', substring(h, 1, 15)) AS BIGINT))
                    AS cs_whole
           FROM whole GROUP BY source),
    ms AS (SELECT source, CAST(count(*) AS BIGINT) AS n_regs_merged,
                  bit_xor(CAST(concat('0x', substring(h, 1, 15)) AS BIGINT))
                    AS cs_merged
           FROM merged GROUP BY source)
    SELECT ws.source, ws.n_regs_whole, ms.n_regs_merged,
           (ws.n_regs_whole = ms.n_regs_merged
            AND ws.cs_whole = ms.cs_merged) AS merged_equals_whole
    FROM ws JOIN ms ON ms.source = ws.source
    """,
    "sketch: KMV merge-parity law (per-shard sketches folded == "
    "whole-corpus sketch; Beyer et al. SIGMOD '07; no reference "
    "counterpart)",
    "k=128 KMV registers per source built whole vs built per doc_id "
    "parity then kmv_merge'd — register count + xor checksum equality "
    "is the hash-checked output",
)
def sketch_merge_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.contamination import (
        kmv_merge,
        kmv_registers,
    )
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        shingle_rows,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    sh = shingle_rows(docs, keep_cols=("source", "doc_id")).select(
        "doc_id", "source", F.col("shingle").alias("g")
    )
    whole = kmv_registers(sh, "source", "g", k=128)
    halves = [
        kmv_registers(sh.filter(F.col("doc_id") % 2 == i), "source", "g", k=128)
        for i in (0, 1)
    ]
    merged = kmv_merge(halves[0].unionByName(halves[1]), "source", k=128)

    def _summ(regs: DataFrame, n_name: str, cs_name: str) -> DataFrame:
        h60 = F.conv(F.substring(F.col("h"), 1, 15), 16, 10).cast("long")
        return (
            regs.select("source", h60.alias("__h"))
            .groupBy("source")
            .agg(
                F.count("*").cast("bigint").alias(n_name),
                F.expr("bit_xor(__h)").cast("bigint").alias(cs_name),
            )
        )

    ws = _summ(whole, "n_regs_whole", "cs_whole")
    ms = _summ(merged, "n_regs_merged", "cs_merged")
    return ws.join(ms, "source").select(
        "source",
        "n_regs_whole",
        "n_regs_merged",
        (
            (F.col("n_regs_whole") == F.col("n_regs_merged"))
            & (F.col("cs_whole") == F.col("cs_merged"))
        ).alias("merged_equals_whole"),
    )


# ===========================================================================
# DSIR importance weights (Xie et al. NeurIPS 2023, public) — hashed
# n-gram log-likelihood-ratio weights for importance resampling toward a
# target domain. The feature hashing is what makes DSIR 100 TB-viable:
# the model state is a FIXED 256-row bucket table however large the
# corpus. Per-bucket log-ratios are rounded to integer micro-units ONCE,
# per-doc weights are integer sums of those constants — no float
# accumulation order anywhere (the text_unigram_perplexity discipline).
# ===========================================================================

_DSIR_B = 256


@_register(
    "dsir_importance_weights",
    f"""
    WITH tk AS (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t,
             unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    b AS (SELECT doc_id, is_t, {_h60_sql('term')} % {_DSIR_B} AS b
          FROM tk WHERE term <> ''),
    bc AS (SELECT b, CAST(count(*) AS BIGINT) AS n_raw,
                  CAST(sum(is_t) AS BIGINT) AS n_t
           FROM b GROUP BY b),
    tot AS (SELECT CAST(sum(n_raw) AS BIGINT) AS t_raw,
                   CAST(sum(n_t) AS BIGINT) AS t_t
            FROM bc),
    lr AS (SELECT b,
                  CAST(floor(ln(((n_t + 1) / (t_t + {_DSIR_B}.0))
                             / ((n_raw + 1) / (t_raw + {_DSIR_B}.0)))
                             * 1000000.0 + 0.5) AS BIGINT) AS lr_e6
           FROM bc CROSS JOIN tot)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(lr_e6) AS BIGINT) AS logratio_e6
    FROM b JOIN lr USING (b)
    GROUP BY doc_id
    """,
    "curation: DSIR hashed-ngram importance weights (Xie et al. NeurIPS "
    "2023; no reference counterpart)",
    "per-doc log-likelihood ratio of target (lang='en') vs raw hashed "
    "unigram multinomials, add-1 smoothed, 256 md5 buckets — bucket "
    "log-ratios e6-rounded once, doc weights exact integer sums",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.sampling import (
        dsir_logratio_weights,
    )

    return dsir_logratio_weights(
        _t(spark, sf_dir, "documents"),
        target_pred=F.col("lang") == "en",
        buckets=_DSIR_B,
    )


# ===========================================================================
# Model-based-filter evaluation: ROC-AUC of the pinned-weight quality
# logit against an INDEPENDENT weak label — "does the doc survive the
# LM perplexity cut" (quality_perplexity_cut's predicate). The two
# quality signals share no features (rule ratios vs unigram LM), so
# their agreement is a genuine cross-signal audit: AUC 0.765 at sf0.01
# (a lang-based label was measured ~0.50 on this corpus — a coin flip —
# and rejected as a vacuous audit, the r9-gate lesson applied to entry
# DESIGN). Mann-Whitney rank-sum identity in exact integer arithmetic;
# the cumulative window runs over DISTINCT logit values, not rows.
# Complements tests/test_selectivity.py: selectivity says the gate
# keeps a non-trivial fraction; AUC says the SCORE orders the classes.
# ===========================================================================

@_register(
    "quality_auc_audit",
    f"""
    WITH {_PPL_CTES},
    t AS (
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
    sc2 AS (
      SELECT CAST({QUALITY_W0_E6}
                  + {QUALITY_W_STOP_E3} * stop_e6 // 1000
                  + {QUALITY_W_PUNCT_E3} * punct_e6 // 1000
                  + {QUALITY_W_LEN_E3} * len_sat_e6 // 1000
                  + {QUALITY_W_AWL_E3} * awl_e6 // 1000 AS BIGINT) AS s,
             CASE WHEN ppl.ppl_e4 <= {_PPL_CUT_E4} THEN 1 ELSE 0 END AS is_pos
      FROM f JOIN ppl USING (doc_id)
    ),
    ps AS (SELECT s, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(is_pos) AS BIGINT) AS np
           FROM sc2 GROUP BY s),
    c AS (SELECT s, n, np,
                 CAST(coalesce(sum(n) OVER (ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS BIGINT) AS cnt_lt
          FROM ps),
    a AS (SELECT CAST(sum(np * (2 * cnt_lt + n + 1)) AS BIGINT) AS r2_pos,
                 CAST(sum(np) AS BIGINT) AS n_pos,
                 CAST(sum(n - np) AS BIGINT) AS n_neg
          FROM c)
    SELECT n_pos, n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0
                THEN CAST((1000000 * (r2_pos - n_pos * (n_pos + 1)))
                          // (2 * n_pos * n_neg) AS BIGINT)
                ELSE CAST(NULL AS BIGINT) END AS auc_e6
    FROM a
    """,
    "curation: quality-classifier ROC-AUC audit (Mann-Whitney rank-sum; "
    "no reference counterpart)",
    "exact integer AUC of the pinned quality logit vs the independent "
    "LM-perplexity-cut survivor label — tied-average ranks via one "
    "distinct-score cumulative window",
)
def quality_auc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.evaluation import (
        rank_sum_auc,
    )
    from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import (
        quality_linear_filter,
        unigram_perplexity,
    )

    docs = _t(spark, sf_dir, "documents")
    logits = quality_linear_filter(docs).select("doc_id", "logit_e6")
    lbl = unigram_perplexity(docs).select(
        "doc_id", (F.col("ppl_e4") <= _PPL_CUT_E4).alias("is_pos")
    )
    return rank_sum_auc(
        logits.join(lbl, "doc_id"), "logit_e6", "is_pos"
    )


# ===========================================================================
# Matryoshka truncation audit (Kusupati et al. NeurIPS 2022, public) —
# does retrieval over the FIRST 16 of 64 dims reproduce full-dim top-k?
# The deployment question MRL embeddings exist to answer: a 4x cheaper
# index costs how much fidelity? Both arms use the engine's exact-cosine
# conventions (6-dp rounding, cand_id tiebreak), so the overlap count is
# engine-portable. Scale shape: two broadcast-query scored passes over
# one corpus scan each — identical to embed_cosine_topk's shape; the
# overlap join is |queries|*k rows.
# ===========================================================================

@_register(
    "embed_matryoshka_overlap",
    f"""
    WITH {_emb_norm_cte()},
    tnv AS (SELECT vec_id, v[1:16] AS tv,
                   sqrt(list_sum(list_transform(range(1, 17),
                        i -> v[i::INT] * v[i::INT]))) AS tnrm
            FROM e),
    fs AS (
      SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
             CAST(row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY {_sql_r(_COS_SQL, 6)} DESC, c.vec_id) AS INT) AS rank
      FROM (SELECT * FROM nv WHERE vec_id < 10) q
      CROSS JOIN nv c WHERE c.vec_id <> q.vec_id
    ),
    ts AS (
      SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
             CAST(row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY {_sql_r("list_sum(list_transform(range(1, 17), i -> q.tv[i::INT] * c.tv[i::INT])) / (q.tnrm * c.tnrm)", 6)} DESC, c.vec_id) AS INT) AS rank
      FROM (SELECT * FROM tnv WHERE vec_id < 10) q
      CROSS JOIN tnv c WHERE c.vec_id <> q.vec_id
    ),
    ftop AS (SELECT q_id, cand_id, rank FROM fs WHERE rank <= 5),
    ttop AS (SELECT q_id, cand_id, rank FROM ts WHERE rank <= 5),
    ov AS (SELECT f.q_id, CAST(count(*) AS BIGINT) AS n_overlap
           FROM ftop f JOIN ttop t USING (q_id, cand_id)
           GROUP BY f.q_id),
    t1 AS (SELECT f.q_id,
                  max(CASE WHEN t.cand_id IS NOT NULL THEN TRUE
                           ELSE FALSE END) AS top1_match
           FROM ftop f LEFT JOIN ttop t
             ON t.q_id = f.q_id AND t.cand_id = f.cand_id AND t.rank = 1
           WHERE f.rank = 1
           GROUP BY f.q_id)
    SELECT t1.q_id, CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
           t1.top1_match
    FROM t1 LEFT JOIN ov ON ov.q_id = t1.q_id
    """,
    "embeddings: Matryoshka truncation fidelity audit (Kusupati et al. "
    "NeurIPS 2022; no reference counterpart)",
    "top-5 overlap and top-1 agreement between full 64-dim and "
    "truncated 16-dim exact cosine retrieval, per query (vec_id < 10)",
)
def embed_matryoshka_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.similarity import (
        cosine_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    full = cosine_topk(
        emb, query_pred=F.col("vec_id") < 10, k=5,
        round_expr=lambda c: _r(c, 6),
    ).select("q_id", "cand_id", "rank")
    trunc = cosine_topk(
        emb.withColumn("embedding", F.slice("embedding", 1, 16)),
        query_pred=F.col("vec_id") < 10, k=5,
        round_expr=lambda c: _r(c, 6),
    ).select(
        F.col("q_id").alias("t_q"), F.col("cand_id").alias("t_cand"),
        F.col("rank").alias("t_rank"),
    )
    # both arms are bounded by construction (|queries| * k rows), so the
    # overlap/top-1 joins broadcast the truncated arm — without the hint
    # Catalyst picked SortMergeJoin here (two sorts of window outputs)
    ov = (
        full.join(
            F.broadcast(trunc),
            (F.col("q_id") == F.col("t_q"))
            & (F.col("cand_id") == F.col("t_cand")),
        )
        .groupBy("q_id")
        .agg(F.count("*").cast("bigint").alias("n_overlap"))
    )
    f1 = full.filter(F.col("rank") == 1)
    t1 = trunc.filter(F.col("t_rank") == 1)
    top1 = (
        f1.join(F.broadcast(t1), f1["q_id"] == t1["t_q"], "left")
        .select(
            "q_id",
            (
                F.col("t_cand").isNotNull()
                & (F.col("cand_id") == F.col("t_cand"))
            ).alias("top1_match"),
        )
    )
    return top1.join(F.broadcast(ov), "q_id", "left").select(
        "q_id",
        F.coalesce(F.col("n_overlap"), F.lit(0)).cast("bigint").alias(
            "n_overlap"
        ),
        "top1_match",
    )


# ===========================================================================
# Curation pipeline v5 — the DSIR-era composition: rule gate → hashed
# importance weighting → deterministic importance FLOOR (the pinned-cut
# analogue of DSIR resampling: a global top-K needs a corpus-wide order,
# a pinned floor is one narrow filter — the same trade the perplexity
# cut makes) → per-language rollup. Each stage is the already-oracled
# operator; this entry checks the composition.
# ===========================================================================

# selectivity guard: tests/test_selectivity.py::test_curation_v5_keeps_and_drops
# (the floor keeps ~40%/~55% of gate survivors at sf0.001/sf0.01 —
# measured survivor-weight quantiles p25/p50/p75 = -1.70M/-1.35M/-0.99M
# and -1.37M/-1.04M/-0.67M respectively)
_DSIR_FLOOR_E6 = -1_200_000


@_register(
    "curation_pipeline_v5",
    f"""
    WITH t AS (
      SELECT doc_id, lang, text, n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
             {_sql_count_in(('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it', 'for', 'on'))} AS n_stop,
             CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct
      FROM documents
    ),
    f AS (
      SELECT doc_id, lang, text,
             {QUALITY_W0_E6}
             + {QUALITY_W_STOP_E3} * (CASE WHEN n > 0 THEN CAST(floor(1.0 * n_stop / n * 1000000 + 0.5) AS BIGINT) ELSE 0 END) // 1000
             + {QUALITY_W_PUNCT_E3} * (CASE WHEN n_chars > 0 THEN CAST(floor(1.0 * n_punct / n_chars * 1000000 + 0.5) AS BIGINT) ELSE 0 END) // 1000
             + {QUALITY_W_LEN_E3} * CAST(least(n, 100) * 10000 AS BIGINT) // 1000
             + {QUALITY_W_AWL_E3} * (CASE WHEN n > 0 THEN CAST(floor(1.0 * (n_chars - (n - 1)) / n * 1000000 + 0.5) AS BIGINT) ELSE 0 END) // 1000
               AS logit_e6
      FROM t
    ),
    kept AS (SELECT doc_id, lang, text FROM f WHERE logit_e6 >= 0),
    tk AS (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t,
             unnest(string_split(text, ' ')) AS term
      FROM kept
    ),
    b AS (SELECT doc_id, is_t, {_h60_sql('term')} % {_DSIR_B} AS b
          FROM tk WHERE term <> ''),
    bc AS (SELECT b, CAST(count(*) AS BIGINT) AS n_raw,
                  CAST(sum(is_t) AS BIGINT) AS n_t
           FROM b GROUP BY b),
    tot AS (SELECT CAST(sum(n_raw) AS BIGINT) AS t_raw,
                   CAST(sum(n_t) AS BIGINT) AS t_t
            FROM bc),
    lr AS (SELECT b,
                  CAST(floor(ln(((n_t + 1) / (t_t + {_DSIR_B}.0))
                             / ((n_raw + 1) / (t_raw + {_DSIR_B}.0)))
                             * 1000000.0 + 0.5) AS BIGINT) AS lr_e6
           FROM bc CROSS JOIN tot),
    dw AS (SELECT doc_id, CAST(sum(lr_e6) AS BIGINT) AS logratio_e6
           FROM b JOIN lr USING (b) GROUP BY doc_id),
    res AS (SELECT k.lang,
                   CAST(count(*) AS BIGINT) AS n_gate_kept,
                   CAST(sum(CASE WHEN dw.logratio_e6 >= {_DSIR_FLOOR_E6}
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_resampled,
                   CAST(coalesce(sum(CASE WHEN dw.logratio_e6 >= {_DSIR_FLOOR_E6}
                            THEN dw.logratio_e6 END), 0) AS BIGINT)
                     AS sum_logratio_e6
            FROM kept k JOIN dw USING (doc_id) GROUP BY k.lang),
    cin AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs_in
            FROM documents GROUP BY lang)
    SELECT cin.lang, cin.n_docs_in, res.n_gate_kept, res.n_resampled,
           CAST(1000000 * res.n_resampled // res.n_gate_kept AS BIGINT)
             AS resample_rate_e6,
           res.sum_logratio_e6
    FROM cin JOIN res ON res.lang = cin.lang
    """,
    "curation: composite v5 — quality gate -> DSIR hashed importance "
    "weights -> pinned importance floor -> per-language rollup (stage "
    "composition check; no reference counterpart)",
    "gate survivors weighted by the 256-bucket target/raw "
    "log-likelihood ratio; kept iff logratio_e6 >= -1.2M (the "
    "deterministic floor analogue of DSIR resampling)",
)
def curation_pipeline_v5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.sampling import (
        dsir_logratio_weights,
    )
    from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import (
        quality_linear_filter,
    )

    docs = _t(spark, sf_dir, "documents")
    # survivors feed TWO consumers (the DSIR token pass and the rollup
    # join) — scope-persist the filtered set, the v3/v4 discipline
    kept = persist_scoped(
        "curation_v5_kept",
        quality_linear_filter(docs)
        .filter(F.col("kept"))
        .select("doc_id", "lang", "text"),
    )
    dw = dsir_logratio_weights(
        kept, target_pred=F.col("lang") == "en", buckets=_DSIR_B
    ).select("doc_id", "logratio_e6")
    picked = F.col("logratio_e6") >= _DSIR_FLOOR_E6
    res = (
        kept.join(dw, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_gate_kept"),
            F.sum(picked.cast("int")).cast("bigint").alias("n_resampled"),
            F.coalesce(
                F.sum(F.when(picked, F.col("logratio_e6"))), F.lit(0)
            )
            .cast("bigint")
            .alias("sum_logratio_e6"),
        )
    )
    cin = docs.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs_in")
    )
    return cin.join(res, "lang").select(
        "lang",
        "n_docs_in",
        "n_gate_kept",
        "n_resampled",
        F.expr("CAST(1000000 * n_resampled DIV n_gate_kept AS BIGINT)")
        .alias("resample_rate_e6"),
        "sum_logratio_e6",
    )
