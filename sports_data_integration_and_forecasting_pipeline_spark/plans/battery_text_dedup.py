"""Text quality + fingerprinting + the dedup families (exact, shingle-Jaccard, MinHash/LSH, SimHash), decontamination, PII, chunking and packing heads.

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
from pyspark.sql.window import Window

from ..operators.scoped import persist_scoped

from .battery_core import _r, _register, _sql_r, _t




# ===========================================================================
# Text analysis over `documents` (north-star training-data ops; no reference
# counterpart — SURVEY §7.3-7). All pure Column/string/array expressions:
# shuffle-free narrow projections that scan at parquet-read speed.
# ===========================================================================

def _sql_count_in(words: tuple[str, ...]) -> str:
    """DuckDB list_filter count of whitespace tokens in a fixed word set."""
    inlist = ", ".join(f"'{w}'" for w in words)
    return (
        "CAST(len(list_filter(string_split(text, ' '), "
        f"x -> x IN ({inlist}))) AS BIGINT)"
    )


@_register(
    "text_token_stats",
    f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
           CAST(ceil(n_chars / 4.0) AS BIGINT) AS est_bpe_tokens,
           {_sql_r("1.0 * n_chars / len(string_split(text, ' '))", 9)} AS chars_per_token
    FROM documents
    """,
    "textops: token counting",
    "whitespace + BPE-estimate token counts per document",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import token_stats

    docs = _t(spark, sf_dir, "documents")
    out = token_stats(docs)
    return out.select(
        "doc_id",
        "n_ws_tokens",
        "est_bpe_tokens",
        _r(F.col("chars_per_token"), 9).alias("chars_per_token"),
    )


@_register(
    "text_quality",
    f"""
    WITH t AS (
      SELECT doc_id, n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             {_sql_count_in(('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it', 'for', 'on'))} AS n_stop,
             CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct
      FROM documents
    )
    SELECT doc_id, n_tokens,
           {_sql_r('1.0 * (n_chars - (n_tokens - 1)) / n_tokens', 9)} AS avg_word_len,
           {_sql_r('1.0 * n_punct / n_chars', 9)} AS punct_ratio,
           {_sql_r('1.0 * n_stop / n_tokens', 9)} AS stopword_ratio,
           {_sql_r('(1.0 * n_stop / n_tokens) * 0.5 + least(n_tokens, 100) / 100.0 * 0.5', 9)} AS quality_score
    FROM t
    """,
    "textops: quality scoring",
    "length/punct/stopword quality signals + composite score",
)
def text_quality_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import text_quality

    docs = _t(spark, sf_dir, "documents")
    out = text_quality(docs)
    return out.select(
        "doc_id",
        "n_tokens",
        _r(F.col("avg_word_len"), 9).alias("avg_word_len"),
        _r(F.col("punct_ratio"), 9).alias("punct_ratio"),
        _r(F.col("stopword_ratio"), 9).alias("stopword_ratio"),
        _r(F.col("quality_score"), 9).alias("quality_score"),
    )



# ===========================================================================
# Model-based quality filter (r9) — the linear-classifier curation
# stage (fasttext/CCNet style, Wenzek et al. LREC 2020) beside the rule
# filters (text_quality) and the LM cut (quality_perplexity_cut):
# pinned milli-unit literal weights over micro-unit integer features,
# keep iff logit >= 0. Pure narrow projection — scan-speed at 100 TB,
# plan-pinned at zero exchanges; the decision is exact integer
# arithmetic with no float boundary cases
# (operators/textstats.py:quality_linear_filter).
# ===========================================================================

from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import (  # noqa: E402
    QUALITY_W0_E6,
    QUALITY_W_AWL_E3,
    QUALITY_W_LEN_E3,
    QUALITY_W_PUNCT_E3,
    QUALITY_W_STOP_E3,
)


@_register(
    "quality_linear_filter",
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
    )
    SELECT doc_id, stop_e6, punct_e6, len_sat_e6, awl_e6,
           CAST({QUALITY_W0_E6}
                + {QUALITY_W_STOP_E3} * stop_e6 // 1000
                + {QUALITY_W_PUNCT_E3} * punct_e6 // 1000
                + {QUALITY_W_LEN_E3} * len_sat_e6 // 1000
                + {QUALITY_W_AWL_E3} * awl_e6 // 1000 AS BIGINT) AS logit_e6,
           ({QUALITY_W0_E6}
                + {QUALITY_W_STOP_E3} * stop_e6 // 1000
                + {QUALITY_W_PUNCT_E3} * punct_e6 // 1000
                + {QUALITY_W_LEN_E3} * len_sat_e6 // 1000
                + {QUALITY_W_AWL_E3} * awl_e6 // 1000) >= 0 AS kept
    FROM f
    """,
    "curation: model-based quality filter (pinned-weight linear "
    "classifier, fasttext/CCNet style; no reference counterpart)",
    "integer-exact linear quality logit over micro-unit text features; "
    "keep iff logit >= 0 — zero-shuffle scan-speed projection",
)
def quality_linear_filter_battery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import (
        quality_linear_filter,
    )

    return quality_linear_filter(_t(spark, sf_dir, "documents")).select(
        "doc_id", "stop_e6", "punct_e6", "len_sat_e6", "awl_e6",
        "logit_e6", "kept",
    )


@_register(
    "text_language_id",
    f"""
    WITH c AS (
      SELECT doc_id, lang,
             {_sql_count_in(('the', 'a', 'of', 'and', 'to', 'in', 'is'))} AS c_en,
             {_sql_count_in(('der', 'die', 'das', 'und', 'ist', 'ein'))} AS c_de,
             {_sql_count_in(('el', 'los', 'las', 'una', 'y', 'que'))} AS c_es,
             {_sql_count_in(('le', 'les', 'des', 'et', 'est', 'une'))} AS c_fr,
             {_sql_count_in(('de', 'shi', 'bu', 'zai', 'le', 'wo'))} AS c_zh
      FROM documents
    )
    SELECT doc_id, lang, c_en, c_de, c_es, c_fr, c_zh,
           CASE WHEN c_en >= greatest(c_de, c_es, c_fr, c_zh) THEN 'en'
                WHEN c_de >= greatest(c_es, c_fr, c_zh) THEN 'de'
                WHEN c_es >= greatest(c_fr, c_zh) THEN 'es'
                WHEN c_fr >= c_zh THEN 'fr'
                ELSE 'zh' END AS predicted_lang
    FROM c
    """,
    "textops: language ID",
    "marker-word language-ID heuristic vs the table's lang column",
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import language_id

    docs = _t(spark, sf_dir, "documents")
    out = language_id(docs)
    return out.select(
        "doc_id", "lang", "c_en", "c_de", "c_es", "c_fr", "c_zh", "predicted_lang"
    )


# Language-ID confusion audit (r10): the classifier-quality report for
# the marker-word heuristic — per (true lang, predicted lang) cell
# counts plus the true-language recall in exact integer micro-units.
# The audit every curation pipeline keeps next to a cheap classifier:
# which languages leak into which buckets. One count aggregate over the
# language_id projection; |langs|² output rows.
@_register(
    "language_id_confusion",
    f"""
    WITH c AS (
      SELECT doc_id, lang,
             {_sql_count_in(('the', 'a', 'of', 'and', 'to', 'in', 'is'))} AS c_en,
             {_sql_count_in(('der', 'die', 'das', 'und', 'ist', 'ein'))} AS c_de,
             {_sql_count_in(('el', 'los', 'las', 'una', 'y', 'que'))} AS c_es,
             {_sql_count_in(('le', 'les', 'des', 'et', 'est', 'une'))} AS c_fr,
             {_sql_count_in(('de', 'shi', 'bu', 'zai', 'le', 'wo'))} AS c_zh
      FROM documents
    ),
    pred AS (
      SELECT lang,
             CASE WHEN c_en >= greatest(c_de, c_es, c_fr, c_zh) THEN 'en'
                  WHEN c_de >= greatest(c_es, c_fr, c_zh) THEN 'de'
                  WHEN c_es >= greatest(c_fr, c_zh) THEN 'es'
                  WHEN c_fr >= c_zh THEN 'fr'
                  ELSE 'zh' END AS predicted_lang
      FROM c
    ),
    cell AS (SELECT lang, predicted_lang, CAST(count(*) AS BIGINT) AS n
             FROM pred GROUP BY lang, predicted_lang),
    tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang
            FROM cell GROUP BY lang)
    SELECT c.lang, c.predicted_lang, c.n,
           CAST(1000000 * c.n // t.n_lang AS BIGINT) AS share_e6,
           CASE WHEN c.lang = c.predicted_lang THEN TRUE ELSE FALSE END
             AS is_correct
    FROM cell c JOIN tot t ON t.lang = c.lang
    """,
    "textops: language-ID confusion audit (classifier-quality report; "
    "no reference counterpart)",
    "per (true, predicted) language cell counts + per-language share in "
    "exact integer micro-units — one count aggregate, |langs|^2 rows",
)
def language_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import language_id

    pred = language_id(_t(spark, sf_dir, "documents")).select(
        "lang", "predicted_lang"
    )
    cell = pred.groupBy("lang", "predicted_lang").agg(
        F.count("*").cast("bigint").alias("n")
    )
    tot = cell.groupBy("lang").agg(F.sum("n").cast("bigint").alias("n_lang"))
    return cell.join(tot, "lang").select(
        "lang",
        "predicted_lang",
        "n",
        F.expr("1000000 * n div n_lang").cast("bigint").alias("share_e6"),
        (F.col("lang") == F.col("predicted_lang")).alias("is_correct"),
    )


@_register(
    "text_fingerprint",
    """
    SELECT doc_id, md5(lower(text)) AS md5_fp
    FROM documents
    """,
    "textops: document fingerprinting",
    "stable md5 content fingerprint per document",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import doc_fingerprint

    docs = _t(spark, sf_dir, "documents")
    return doc_fingerprint(docs).select("doc_id", "md5_fp")


# ===========================================================================
# Deduplication + similarity search (north-star training-data ops; no
# reference counterpart — SURVEY §7.3-7). Hash discipline: everything
# derives from md5 (byte-identical hex in Spark and DuckDB), so the
# oracles reproduce MinHash/SimHash bit-for-bit. See operators/dedup.py
# and operators/similarity.py for the scale shape of each plan.
# ===========================================================================

from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (  # noqa: E402
    MINHASH_BANDS,
    MINHASH_PARAMS,
    MINHASH_PRIME,
    NUM_MINHASH,
    SIMHASH_BITS,
)
from sports_data_integration_and_forecasting_pipeline_spark.operators.similarity import (  # noqa: E402
    hyperplanes,
)

# Word-3-gram shingles (with duplicates) as DuckDB SQL — mirrors
# dedup.shingles_from_tokens exactly: list_slice clamps at the array end
# the same way Spark's slice(toks, i, 3) does, so short docs yield one
# short shingle in both engines.
def _shingle_raw_sql(n: int) -> str:
    """Word-``n``-gram list over ``text`` (whole-text fallback for short
    docs) — the DuckDB twin of ``dedup.shingles_from_tokens``."""
    return (
        "list_transform("
        f"range(1, greatest(len(string_split(text, ' ')) - {n - 1}, 1) + 1), "
        "i -> array_to_string(list_slice(string_split(text, ' '), "
        f"i::INT, (i + {n - 1})::INT), ' '))"
    )


_SHINGLE3_RAW_SQL = _shingle_raw_sql(3)


def _h32_sql(expr: str) -> str:
    return f"CAST(concat('0x', substring(md5({expr}), 1, 8)) AS BIGINT)"


def _h60_sql(expr: str) -> str:
    return f"CAST(concat('0x', substring(md5({expr}), 1, 15)) AS BIGINT)"


@_register(
    "dedup_exact",
    """
    SELECT doc_id,
           md5(text) AS fp,
           min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
           doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_duplicate
    FROM documents
    """,
    "textops: exact dedup",
    "md5-fingerprint duplicate groups, min doc_id canonical",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import exact_dup_groups

    return exact_dup_groups(_t(spark, sf_dir, "documents"))


# Thresholded (J ≥ 0.5) prefix-filtered similarity join — the production
# near-dup form: candidate generation indexes only each doc's rarest few
# shingles (global df-ascending order, exact integer prefix lengths), so
# candidate volume collapses versus the full inverted index while the
# returned pair set is PROVABLY identical to the exhaustive join filtered
# to the threshold (prefix principle; property-tested in tests/test_dedup
# .py against dedup_shingle_jaccard_all's operator). The oracle states
# the same prefix construction, so the driver hash-checks the whole
# pipeline — ordering, prefix math, verification — not just the final
# filter.

# Soft dedup (r9): duplicate DOWN-WEIGHTING — every copy stays with
# training weight 1e6 DIV multiplicity, so each distinct content
# contributes one document of gradient mass without re-ordering or
# re-packing the corpus (the loss-weighting alternative to dropping;
# operators/dedup.py:soft_dedup_weights). One narrow fingerprint
# projection + one fingerprint-partitioned count window — a single
# exchange, no joins.
@_register(
    "dedup_soft_weights",
    """
    SELECT doc_id,
           md5(text) AS fp,
           CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT)
             AS multiplicity,
           CAST(1000000 // (count(*) OVER (PARTITION BY md5(text)))
                AS BIGINT) AS weight_e6
    FROM documents
    """,
    "curation: soft dedup via duplicate down-weighting (loss-weighting "
    "alternative to dropping; no reference counterpart)",
    "per-copy training weight 1e6 DIV multiplicity over exact md5 "
    "content groups — one window, no joins",
)
def dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import soft_dedup_weights

    return soft_dedup_weights(_t(spark, sf_dir, "documents"))


# Why the prefix self-join stays: a posting-list groupBy + JVM-side i<j
# enumeration in its place was built, output-identical at both sweep
# scales, and rejected on measurement (r13): warm runs +0.6 s and the
# in-battery time tripled (1.38 -> 4.16 s), its collect_list buffers
# being sensitive to mid-battery heap pressure. A/B tables in SCALING.md.
@_register(
    "dedup_shingle_jaccard",
    f"""
    WITH sh0 AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform({_SHINGLE3_RAW_SQL},
                                                 s -> {_h60_sql('s')}))) AS sh
      FROM documents
    ),
    dfreq AS (SELECT sh, CAST(count(*) AS BIGINT) AS df FROM sh0
              GROUP BY sh HAVING count(*) <= 100),
    surv AS (SELECT s.doc_id, s.sh, d.df FROM sh0 s JOIN dfreq d USING (sh)),
    sized AS (
      SELECT doc_id, sh, df,
             CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_sh,
             row_number() OVER (PARTITION BY doc_id ORDER BY df, sh) AS rk
      FROM surv
    ),
    pref AS (SELECT doc_id, sh FROM sized
             WHERE rk <= n_sh - ((50 * n_sh + 99) // 100) + 1),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM pref a JOIN pref b ON a.sh = b.sh AND a.doc_id < b.doc_id),
    sets AS (SELECT doc_id, list(sh) AS shs, CAST(count(*) AS BIGINT) AS n_sh
             FROM surv GROUP BY doc_id),
    scored AS (
      SELECT id_a, id_b,
             CAST(len(list_intersect(sa.shs, sb.shs)) AS BIGINT) AS n_common,
             sa.n_sh AS n_a, sb.n_sh AS n_b
      FROM cand JOIN sets sa ON cand.id_a = sa.doc_id
                JOIN sets sb ON cand.id_b = sb.doc_id
    )
    SELECT id_a, id_b, n_common,
           1.0 * n_common / (n_a + n_b - n_common) AS jaccard
    FROM scored
    WHERE 100 * n_common >= 50 * (n_a + n_b - n_common)
    """,
    "textops: n-gram Jaccard near-dup (prefix-filtered similarity join)",
    "word-3-gram Jaccard >= 0.5 near-dup pairs via df-ordered prefix "
    "filtering (exact integer prefix math, hot cap max_df 100, exact "
    "intersection verification)",
)
def dedup_shingle_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        shingle_jaccard_prefix_pairs,
    )

    out = shingle_jaccard_prefix_pairs(
        _t(spark, sf_dir, "documents"), max_df=100, threshold_pct=50
    )
    # int/int double division is exact in both engines — no rounding needed.
    return out.select("id_a", "id_b", "n_common", "jaccard")


# The unthresholded candidate enumerator (every pair sharing >= 1 sub-hot
# shingle, exact Jaccard): kept as the bounded-contract exhaustive form —
# useful when the downstream wants the full similarity histogram rather
# than a near-dup cut. Its pair volume is a corpus property (near-linear
# only under the hot cap), so the thresholded prefix form above is the
# scale path and holds the driver-window slot.
@_register(
    "dedup_shingle_jaccard_all",
    f"""
    WITH sh0 AS (
      SELECT doc_id,
             list_distinct(list_transform({_SHINGLE3_RAW_SQL},
                                          s -> {_h60_sql('s')})) AS shs
      FROM documents
    ),
    sh AS (
      SELECT doc_id, CAST(len(shs) AS BIGINT) AS n_sh, unnest(shs) AS sh
      FROM sh0
    ),
    ok AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= 100),
    shf AS (SELECT s.doc_id,
                   CAST(count(*) OVER (PARTITION BY s.doc_id) AS BIGINT) AS n_sh,
                   s.sh
            FROM sh s JOIN ok USING (sh))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_common,
           1.0 * count(*) / (a.n_sh + b.n_sh - count(*)) AS jaccard
    FROM shf a JOIN shf b ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
    """,
    "textops: n-gram Jaccard near-dup (exhaustive candidate enumeration)",
    "word-3-gram inverted-index pair join, exact Jaccard over the "
    "hot-capped shingle space (max_df 100, per-doc sizes recomputed post-cap)",
)
def dedup_shingle_jaccard_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import shingle_jaccard_pairs

    out = shingle_jaccard_pairs(_t(spark, sf_dir, "documents"), max_df=100)
    # int/int double division is exact in both engines — no rounding needed.
    return out.select("id_a", "id_b", "n_common", "jaccard")


# ===========================================================================
# Benchmark decontamination — the train/eval overlap check every LLM
# corpus pipeline runs before training. Benchmark = every 17th doc
# (simulated held-out eval set); corpus = the rest. Benchmark shingle
# set broadcasts (eval sets are small by construction); corpus side is
# narrow + one map-side-combined groupBy. Hash-oracled end to end via
# the shared md5 h60 shingle identity.
# ===========================================================================

@_register(
    "decontaminate_benchmark",
    f"""
    WITH shed AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform({_SHINGLE3_RAW_SQL},
                                                 s -> {_h60_sql('s')}))) AS sh
      FROM documents
    ),
    bench AS (SELECT DISTINCT sh FROM shed WHERE doc_id % 17 = 0),
    doc_sh AS (SELECT doc_id, sh FROM shed WHERE doc_id % 17 <> 0)
    SELECT d.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(count(b.sh) AS BIGINT) AS n_hit,
           count(b.sh) / count(*) AS contamination,
           count(b.sh) >= 2 AS contaminated
    FROM doc_sh d LEFT JOIN bench b ON d.sh = b.sh
    GROUP BY d.doc_id
    """,
    "textops: benchmark decontamination (no reference counterpart)",
    "per-doc n-gram overlap vs a held-out benchmark set, broadcast bench shingles",
)
def decontaminate_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.decontam import (
        benchmark_contamination,
    )

    docs = _t(spark, sf_dir, "documents")
    return benchmark_contamination(
        corpus=docs.filter(F.col("doc_id") % 17 != 0),
        benchmark=docs.filter(F.col("doc_id") % 17 == 0),
        min_hits=2,
    )


# ===========================================================================
# Misra-Gries heavy hitters — the O(k)-state mergeable companion to the
# exact iceberg agg and the count-min sketch: per-partition Arrow
# mapInPandas summaries merged by sum + (k+1)-th-largest subtraction
# (Agarwal et al. mergeable-summaries construction). Estimates are
# partition-layout-dependent (any valid MG summary is), so rows-only
# like HLL; tests/test_sketches.py asserts the N/(k+1) bound.
# ===========================================================================

@_register(
    "misra_gries_heavy_hitters",
    None,  # summary depends on partition layout — see block comment
    "sketch: Misra-Gries heavy hitters (rows-only; bound-tested)",
    "k=8 merged MG summary over event_type — every item with freq > N/9 "
    "guaranteed present, undercount <= N/9",
)
def misra_gries_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.frequency import misra_gries

    return misra_gries(_t(spark, sf_dir, "events"), "event_type", k=8)


# The MG summary itself is layout-dependent (any valid Misra-Gries output
# is), so the entry above is rows-only. This companion makes the sketch's
# GUARANTEE hash-oracleable: for every item whose exact count exceeds
# N/(k+1) — a deterministic set — it emits the exact count plus two
# booleans ("the item survived the sketch", "its estimate is within the
# proven bound 0 <= true - est <= N/(k+1)"). Those booleans are
# invariantly TRUE for any correct MG implementation, so DuckDB can
# assert them from exact counts alone; a sketch bug flips a boolean and
# the hash mismatches. All comparisons are exact integer arithmetic
# ((true-est)·(k+1) <= N — no float division).
@_register(
    "misra_gries_verified",
    """
    WITH exact AS (
      SELECT event_type AS item, CAST(count(*) AS BIGINT) AS true_cnt
      FROM events GROUP BY event_type
    ),
    tot AS (SELECT sum(true_cnt) AS n FROM exact)
    SELECT item, true_cnt, TRUE AS present, TRUE AS within_bound
    FROM exact, tot
    WHERE true_cnt * 9 > n
    """,
    "sketch: Misra-Gries guarantee verification (hash-oracled companion)",
    "k=8 MG survivors joined to exact counts; emits the deterministic "
    "guaranteed-heavy set with presence + error-bound flags",
)
def misra_gries_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.frequency import misra_gries

    k = 8
    events = _t(spark, sf_dir, "events")
    exact = events.groupBy(F.col("event_type").alias("item")).agg(
        F.count("*").cast("bigint").alias("true_cnt")
    )
    total = exact.agg(F.sum("true_cnt").alias("n"))
    mg = misra_gries(events, "event_type", k=k).withColumnRenamed(
        "item", "mg_item"
    )
    guaranteed = exact.crossJoin(F.broadcast(total)).filter(
        F.col("true_cnt") * (k + 1) > F.col("n")
    )
    return (
        guaranteed.join(mg, F.col("item") == F.col("mg_item"), "left")
        .select(
            "item",
            "true_cnt",
            F.col("mg_item").isNotNull().alias("present"),
            (
                F.col("mg_item").isNotNull()
                & (F.col("est_cnt") <= F.col("true_cnt"))
                & (
                    (F.col("true_cnt") - F.col("est_cnt")) * (k + 1)
                    <= F.col("n")
                )
            ).alias("within_bound"),
        )
    )


# ===========================================================================
# Repetition quality (Gopher/MassiveText-style) — top-2-gram share and
# repeated-3-gram share per doc, the boilerplate/spam signals corpus
# filters cut on. Both gram sizes ride ONE tagged explode and one
# map-side-combined agg; fractions are exact int/int divisions.
# ===========================================================================

@_register(
    "repetition_quality",
    f"""
    WITH g2 AS (
      SELECT doc_id, 2 AS sz, unnest({_shingle_raw_sql(2)}) AS g FROM documents
    ),
    g3 AS (
      SELECT doc_id, 3 AS sz, unnest({_shingle_raw_sql(3)}) AS g FROM documents
    ),
    counts AS (
      SELECT doc_id, sz, g, count(*) AS cnt
      FROM (SELECT * FROM g2 UNION ALL SELECT * FROM g3)
      GROUP BY doc_id, sz, g
    )
    SELECT doc_id,
           CAST(sum(cnt) FILTER (WHERE sz = 2) AS BIGINT) AS n_2grams,
           max(cnt) FILTER (WHERE sz = 2)
             / sum(cnt) FILTER (WHERE sz = 2) AS top_2gram_frac,
           CAST(sum(cnt) FILTER (WHERE sz = 3) AS BIGINT) AS n_3grams,
           coalesce(sum(cnt) FILTER (WHERE sz = 3 AND cnt > 1), 0)
             / sum(cnt) FILTER (WHERE sz = 3) AS dup_3gram_frac
    FROM counts GROUP BY doc_id
    """,
    "textops: repetition quality rules (no reference counterpart)",
    "top-2-gram and duplicate-3-gram shares per doc, one tagged explode",
)
def repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


# ===========================================================================
# PII redaction — the pre-training scrub pass. The synthetic corpus has
# no PII, so the entry SEEDS it deterministically from doc_id (same
# concat in both engines), then counts and scrubs per category. All
# narrow JVM-side regex — zero shuffles; even the redacted-text md5
# fingerprints hash-match because the Java/RE2-common pattern subset
# matches identically.
# ===========================================================================

def _pii_seed_sql() -> str:
    return (
        "text"
        " || CASE WHEN doc_id % 3 = 0 THEN concat(' user', CAST(doc_id AS VARCHAR), '@example.com') ELSE '' END"
        " || CASE WHEN doc_id % 5 = 0 THEN concat(' 415-555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) ELSE '' END"
        " || CASE WHEN doc_id % 7 = 0 THEN concat(' 123-45-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) ELSE '' END"
        " || CASE WHEN doc_id % 11 = 0 THEN concat(' 10.0.', CAST(doc_id % 256 AS VARCHAR), '.', CAST((doc_id * 7) % 256 AS VARCHAR)) ELSE '' END"
    )


def _pii_oracle_sql() -> str:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.redact import PII_PATTERNS

    counts = ",\n           ".join(
        f"CAST(len(regexp_extract_all(seeded, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    red = "seeded"
    for _, pat, repl in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    return f"""
    WITH seeded_docs AS (
      SELECT doc_id, {_pii_seed_sql()} AS seeded FROM documents
    )
    SELECT doc_id,
           {counts},
           md5({red}) AS redacted_fp
    FROM seeded_docs
    """


@_register(
    "pii_redaction",
    _pii_oracle_sql(),
    "textops: PII redaction (no reference counterpart)",
    "email/SSN/phone/IPv4 scrub with per-category counts, redacted-text md5 matched",
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.redact import redact_pii

    did = F.col("doc_id")
    seeded = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(did % 3 == 0, F.concat(F.lit(" user"), did.cast("string"), F.lit("@example.com"))).otherwise(""),
            F.when(did % 5 == 0, F.concat(F.lit(" 415-555-"), F.lpad((did % 10000).cast("string"), 4, "0"))).otherwise(""),
            F.when(did % 7 == 0, F.concat(F.lit(" 123-45-"), F.lpad((did % 10000).cast("string"), 4, "0"))).otherwise(""),
            F.when(did % 11 == 0, F.concat(F.lit(" 10.0."), (did % 256).cast("string"), F.lit("."), ((did * 7) % 256).cast("string"))).otherwise(""),
        ).alias("seeded"),
    )
    out = redact_pii(seeded, text_col="seeded", out_col="redacted")
    return out.select(
        "doc_id",
        "n_email",
        "n_ssn",
        "n_phone",
        "n_ipv4",
        F.md5("redacted").alias("redacted_fp"),
    )


# ===========================================================================
# Document chunking — token-bounded overlapping windows (32-token
# chunks, stride 24 = 25% overlap), the sequence-packing prep step.
# ENTIRELY narrow: tokenize -> integer chunk starts -> explode -> slice;
# zero shuffles, so a 100 TB corpus chunks at scan speed and chunks stay
# co-partitioned with their documents. slice()/list_slice() are both
# 1-based and end-clamped, so the fingerprints hash-match.
# ===========================================================================

_CHUNK_MAX, _CHUNK_STRIDE = 32, 24


@_register(
    "chunk_documents_overlap",
    f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    c AS (
      SELECT doc_id, toks,
             unnest(range(0, (n + {_CHUNK_STRIDE - 1}) // {_CHUNK_STRIDE})) AS i
      FROM t
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_id,
           CAST(i * {_CHUNK_STRIDE} AS BIGINT) AS chunk_start,
           CAST(len(list_slice(toks, i * {_CHUNK_STRIDE} + 1,
                               i * {_CHUNK_STRIDE} + {_CHUNK_MAX})) AS BIGINT)
             AS chunk_tokens,
           md5(array_to_string(list_slice(toks, i * {_CHUNK_STRIDE} + 1,
                                          i * {_CHUNK_STRIDE} + {_CHUNK_MAX}), ' '))
             AS chunk_fp
    FROM c
    """,
    "textops: document chunking / sequence packing prep (no reference counterpart)",
    "32-token chunks at stride 24, zero-shuffle narrow plan, md5 chunk fingerprints",
)
def chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.chunking import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"),
        max_tokens=_CHUNK_MAX,
        stride=_CHUNK_STRIDE,
    )


# GPT-style sequence packing (span view): concatenate the corpus in doc_id
# order, cut every 256 tokens, report each doc's landing span. The global
# token offset is a DISTRIBUTED prefix sum (deterministic id//width
# buckets: within-bucket running sum -> per-bucket totals on the same
# partitioning -> one-task exclusive prefix over the tiny bucket table ->
# broadcast back) — never a single-task Window.orderBy over the data. The
# oracle can afford the naive global-window cumsum; hash equality proves
# the two-phase form computes the identical stream position at any
# partitioning.
@_register(
    "pack_sequence_spans",
    """
    WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
    c AS (SELECT doc_id, n,
                 sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
          FROM t)
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           CAST(cum - n AS BIGINT) AS tok_start,
           CAST((cum - n) // 256 AS BIGINT) AS first_seq,
           CAST((cum - 1) // 256 AS BIGINT) AS last_seq,
           CAST((cum - 1) // 256 - (cum - n) // 256 + 1 AS BIGINT) AS n_seqs
    FROM c
    """,
    "textops: sequence packing via distributed prefix sum",
    "concat-and-cut packing at 256 tokens; bucketed two-phase cumsum, "
    "per-task state bounded by bucket width",
)
def pack_sequence_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.chunking import pack_token_spans

    return pack_token_spans(_t(spark, sf_dir, "documents"), seq_len=256)


# ===========================================================================
# Path funnel — the general-depth funnel: each user's full event-type
# path in strict (ts, event_id) order, with view -> click -> purchase
# matched as a token-bounded regex subsequence. One map-side-combined
# groupBy builds the path; every additional stage is a narrow regex
# test — zero extra shuffles. Patterns come from the same
# funnel_pattern() the operator uses, and stay inside the regex subset
# Java and RE2 treat identically.
# ===========================================================================

_FUNNEL_STAGES = ["view", "click", "purchase"]


def _funnel_oracle_sql() -> str:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.paths import funnel_pattern

    flags = ",\n             ".join(
        f"regexp_matches(path, '{funnel_pattern(_FUNNEL_STAGES, k)}') AS stage_{k}"
        for k in range(1, len(_FUNNEL_STAGES) + 1)
    )
    total = " + ".join(
        f"CAST(stage_{k} AS INT)" for k in range(1, len(_FUNNEL_STAGES) + 1)
    )
    return f"""
    WITH paths AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM events WHERE event_id % 13 = 0 GROUP BY user_id
    ),
    flagged AS (
      SELECT user_id, n_events,
             {flags}
      FROM paths
    )
    SELECT user_id, n_events, stage_1, stage_2, stage_3,
           CAST({total} AS BIGINT) AS max_stage
    FROM flagged
    """


@_register(
    "path_funnel_regex",
    _funnel_oracle_sql(),
    "funnel analysis, full path matching (no reference counterpart)",
    "view->click->purchase as ordered subsequence of each user's event path",
)
def path_funnel_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.paths import path_funnel

    # thin the stream (deterministic 1-in-13) so funnel depth varies by
    # user — unthinned, every sf0.01 user completes all three stages
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 13 == 0)
    return path_funnel(ev, _FUNNEL_STAGES)


# ===========================================================================
# Bloom-filter semi-join pruning — build an 8192-bit bloom over the
# high-value order keys, probe every lineitem row WITHOUT shuffling it,
# and report the pruning stats. The bloom's md5 bit positions are
# engine-portable, so even the FALSE-POSITIVE COUNT hash-matches DuckDB
# — the oracle reproduces the identical bit array. At 100 TB this is
# the pre-shuffle reduction that turns a full lineitem shuffle into a
# 2%-survivor shuffle; the bloom itself is 1 KB broadcast state.
# ===========================================================================

_BLOOM_BITS, _BLOOM_K, _BLOOM_PRICE = 8192, 3, 475000.0


def _bloom_h_sql(i: str, key: str) -> str:
    # position i slices hex digits [1+8i, 8+8i] of ONE md5 of the key
    # (mirrors operators/bloom._positions: one hash per probe, k <= 4)
    return (
        f"CAST(concat('0x', substring(md5(CAST({key} AS VARCHAR)), "
        f"1 + 8 * {i}, 8)) AS BIGINT) % {_BLOOM_BITS}"
    )


@_register(
    "bloom_join_prune",
    f"""
    WITH keys AS (
      SELECT DISTINCT o_orderkey AS key FROM orders
      WHERE o_totalprice > {_BLOOM_PRICE}
    ),
    cells AS (
      SELECT pos // 63 AS word,
             CAST(1 AS BIGINT) << CAST(pos % 63 AS INT) AS mask
      FROM (SELECT {_bloom_h_sql('d.i', 'key')} AS pos
            FROM keys CROSS JOIN range(0, {_BLOOM_K}) AS d(i))
    ),
    bloom AS (SELECT word, bit_or(mask) AS bits FROM cells GROUP BY word),
    key_pass AS (
      SELECT l_orderkey,
             (count(*) FILTER (WHERE (bits & mask) <> 0) = {_BLOOM_K}) AS pass
      FROM (SELECT l_orderkey, pos // 63 AS word,
                   CAST(1 AS BIGINT) << CAST(pos % 63 AS INT) AS mask
            FROM (SELECT {_bloom_h_sql('d.i', 'l_orderkey')} AS pos, l_orderkey
                  FROM (SELECT DISTINCT l_orderkey FROM lineitem)
                  CROSS JOIN range(0, {_BLOOM_K}) AS d(i))) c
      LEFT JOIN bloom USING (word)
      GROUP BY l_orderkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE kp.pass) AS BIGINT) AS n_pass,
           CAST(count(*) FILTER (WHERE k.key IS NOT NULL) AS BIGINT) AS n_true,
           CAST(count(*) FILTER (WHERE kp.pass AND k.key IS NULL) AS BIGINT)
             AS n_false_pos
    FROM lineitem l
    JOIN key_pass kp USING (l_orderkey)
    LEFT JOIN keys k ON l.l_orderkey = k.key
    """,
    "join infra: bloom-filter semi-join pruning (no reference counterpart)",
    "md5-bloom pre-shuffle pruning of lineitem by high-value orders; "
    "false-positive count itself hash-matched",
)
def bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.bloom import (
        bloom_build,
        bloom_might_contain,
    )

    keys = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > _BLOOM_PRICE)
        .select(F.col("o_orderkey").alias("key"))
        .distinct()
    )
    from sports_data_integration_and_forecasting_pipeline_spark.operators.parallelism import ensure_parallelism

    bloom = bloom_build(keys, "key", n_bits=_BLOOM_BITS, k=_BLOOM_K)
    # the probe is one md5 per lineitem row — spread a single-split scan
    # so the hashing uses every core (5 MB of bigint keys moved once)
    probed = bloom_might_contain(
        ensure_parallelism(_t(spark, sf_dir, "lineitem").select("l_orderkey")),
        "l_orderkey",
        bloom,
        n_bits=_BLOOM_BITS,
        k=_BLOOM_K,
    )
    joined = probed.join(
        F.broadcast(keys.withColumn("__t", F.lit(1))),
        probed["l_orderkey"] == F.col("key"),
        "left",
    )
    return joined.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.count_if(F.col("bloom_pass")).cast("bigint").alias("n_pass"),
        F.count("__t").cast("bigint").alias("n_true"),
        F.count_if(F.col("bloom_pass") & F.col("__t").isNull())
        .cast("bigint")
        .alias("n_false_pos"),
    )


def _minhash_sig_sql(where: str = "") -> str:
    mins = ", ".join(
        f"min((h * {a} + {b}) % {MINHASH_PRIME}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    )
    return f"""
    hv AS (SELECT doc_id,
                  unnest(list_transform({_SHINGLE3_RAW_SQL},
                                        s -> {_h32_sql('s')})) AS h
           FROM documents {where}),
    sig AS (SELECT doc_id, {mins} FROM hv GROUP BY doc_id)
    """


_MH_ROWS = NUM_MINHASH // MINHASH_BANDS
_MH_ARR = "[" + ", ".join(f"mh{i}" for i in range(NUM_MINHASH)) + "]"
_MH_BANDS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {bi} AS band, "
    f"md5(concat_ws('_', {', '.join(f'mh{bi * _MH_ROWS + j}' for j in range(_MH_ROWS))})) AS bh, "
    f"{_MH_ARR} AS arr FROM sig"
    for bi in range(MINHASH_BANDS)
)


@_register(
    "dedup_minhash_lsh",
    f"""
    WITH {_minhash_sig_sql()},
    bands AS ({_MH_BANDS_SQL})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           list_sum(list_transform(range(1, {NUM_MINHASH + 1}),
             i -> CASE WHEN a.arr[i::INT] = b.arr[i::INT] THEN 1 ELSE 0 END)) / {NUM_MINHASH}.0
             AS est_jaccard
    FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
                             AND a.doc_id < b.doc_id
    """,
    "textops: MinHash+LSH near-dup",
    f"{NUM_MINHASH}-perm MinHash signatures, {MINHASH_BANDS}-band LSH bucket "
    "join, estimated Jaccard (est granularity 1/128, threshold j≈0.70)",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_t(spark, sf_dir, "documents"))


# Incremental corpus dedup — the operational 100 TB path: a new snapshot
# (doc_id % 10 == 0 here) is deduped against the existing corpus using
# ONLY the corpus's persisted signature table; no corpus text is
# re-shingled. The oracle is the FULL recompute (same CTEs as
# dedup_minhash_lsh) restricted to pairs touching a new doc — the
# incremental result must hash-match it exactly, proving incremental ==
# full for the affected subset.
# r10 bench adjudication: 0.78 -> 1.28 s swing re-measured 0.877/0.697 s
# in both orderings on a calm session -> mid-battery interference.
# r11 adjudication: the r11 bench showed 5.7 s (6.15x vs r10, the one
# outlier beyond the round's broad ~1.3-1.5x host-drift band); isolated
# same-session probe immediately after: [3.72, 1.91, 1.17] then
# [1.28, 1.02, 1.03] — min-steady 1.02-1.17 s, right at the r10 level.
# Mid-battery interference again (this entry persists a signature table
# and is the most cache-pressure-sensitive incremental entry), not a
# plan change (diff clean). SECOND interference adjudication for this
# entry.
@_register(
    "dedup_incremental_minhash",
    f"""
    WITH {_minhash_sig_sql()},
    bands AS ({_MH_BANDS_SQL})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           list_sum(list_transform(range(1, {NUM_MINHASH + 1}),
             i -> CASE WHEN a.arr[i::INT] = b.arr[i::INT] THEN 1 ELSE 0 END)) / {NUM_MINHASH}.0
             AS est_jaccard
    FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
                             AND a.doc_id < b.doc_id
    WHERE a.doc_id % 10 = 0 OR b.doc_id % 10 = 0
    """,
    "textops: incremental snapshot-vs-corpus MinHash dedup",
    "new docs (id%10=0) deduped against the persisted corpus signature "
    "table; hash-matches the full recompute restricted to new-doc pairs",
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 10 == 0)
    # The corpus signature table is the PRE-EXISTING state an incremental
    # snapshot pipeline reads (written by the previous run) — materialize
    # it eagerly so downstream execution measures what the operator
    # claims: O(new docs) shingling + the band join, never a corpus
    # re-shingle. Registered under the SAME scoped-persist role the
    # operator uses, so each invocation releases the previous run's cache
    # instead of pinning a fresh copy per call (a bare .persist() here
    # leaked one signature table per driver/bench repetition), and the
    # operator's own persist_scoped call is an idempotent no-op.
    corpus_sig = persist_scoped(
        "minhash_inc_corpus_sig", minhash_signatures(corpus)
    )
    corpus_sig.count()
    return incremental_minhash_pairs(corpus_sig, new)


# Signature-state LIFECYCLE for incremental dedup (round-4 review task
# 7): corpus state accumulated as three overlapping per-snapshot
# signature tables (doc_id%3 buckets, with the %6==1 docs re-ingested
# into snapshot 2) plus a tombstone set (doc_id%10==5 deleted) is
# COMPACTED — merge, dedup re-ingests, drop tombstones — and the new
# snapshot (doc_id%10==0) is deduped against the compacted state. The
# oracle is the FULL recompute over the LIVE documents only, restricted
# to pairs touching a new doc: hash-matching it proves compaction+k
# merges ≡ recompute, i.e. the incremental path stays exact over many
# rounds instead of unboundedly accumulating stale state.
@_register(
    "dedup_incremental_compacted",
    f"""
    WITH {_minhash_sig_sql(where="WHERE doc_id % 10 <> 5")},
    bands AS ({_MH_BANDS_SQL})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           list_sum(list_transform(range(1, {NUM_MINHASH + 1}),
             i -> CASE WHEN a.arr[i::INT] = b.arr[i::INT] THEN 1 ELSE 0 END)) / {NUM_MINHASH}.0
             AS est_jaccard
    FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
                             AND a.doc_id < b.doc_id
    WHERE a.doc_id % 10 = 0 OR b.doc_id % 10 = 0
    """,
    "textops: incremental dedup signature compaction/expiry lifecycle",
    "3 overlapping snapshot signature tables + tombstones compacted into "
    "one corpus state; new-snapshot dedup against it hash-matches the "
    "full recompute over live docs",
)
def dedup_incremental_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        compact_signatures,
        incremental_minhash_pairs,
        minhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    corpus = docs.filter(did % 10 != 0)
    # Three historical snapshots; snapshot 2 re-ingested the %6==1 docs
    # (already in snapshot 1), so compaction must dedup by doc_id.
    # Signatures are a pure per-doc function, so the three pre-existing
    # snapshot tables are materialized from ONE shingling pass and split
    # by snapshot membership — building them with three separate
    # minhash_signatures calls produced identical tables but shingled
    # the corpus three times (measured ~1 s slower at sf0.1).
    base_sig = persist_scoped("minhash_snapshot_seed", minhash_signatures(corpus))
    snaps = [
        base_sig.filter(did % 3 == 0),
        base_sig.filter(did % 3 == 1),
        base_sig.filter((did % 3 == 2) | (did % 6 == 1)),
    ]
    tomb = corpus.filter(did % 10 == 5).select("doc_id")
    # Same scoped-persist role the incremental operator uses, so its own
    # registration is an idempotent no-op and successive invocations
    # (either incremental entry) release the previous corpus state.
    compacted = persist_scoped(
        "minhash_inc_corpus_sig", compact_signatures(snaps, tomb)
    )
    compacted.count()  # the pre-existing corpus state, materialized
    new = docs.filter(did % 10 == 0)
    return incremental_minhash_pairs(compacted, new)


_SIMHASH_SQL_EXPR = " + ".join(
    f"(CASE WHEN 2 * len(list_filter(hs, x -> ((x >> {i}) & 1) = 1)) >= len(hs) "
    f"THEN {1 << i} ELSE 0 END)"
    for i in range(SIMHASH_BITS)
)
_SIMHASH_CTE = f"""
    h AS (SELECT doc_id,
                 list_transform(list_distinct(string_split(text, ' ')),
                                t -> {_h32_sql('t')}) AS hs
          FROM documents),
    sim AS (SELECT doc_id, CAST({_SIMHASH_SQL_EXPR} AS BIGINT) AS simhash16 FROM h)
"""


@_register(
    "dedup_simhash",
    f"WITH {_SIMHASH_CTE} SELECT doc_id, simhash16 FROM sim",
    "textops: SimHash fingerprint",
    "16-bit SimHash over distinct-token md5 hashes (shuffle-free narrow plan)",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import simhash16

    return simhash16(_t(spark, sf_dir, "documents"))


_SIMHASH60_SQL_EXPR = " + ".join(
    f"(CASE WHEN 2 * len(list_filter(hs, x -> ((x >> {i}) & 1) = 1)) >= len(hs) "
    f"THEN {1 << i} ELSE 0 END)"
    for i in range(60)  # SIMHASH_PAIR_BITS
)
_SIMHASH60_CTE = f"""
    h60 AS (SELECT doc_id,
                   list_transform(list_distinct(string_split(text, ' ')),
                                  t -> {_h60_sql('t')}) AS hs
            FROM documents),
    sim60 AS (SELECT doc_id, CAST({_SIMHASH60_SQL_EXPR} AS BIGINT) AS simhash60
              FROM h60)
"""


@_register(
    "dedup_simhash_pairs",
    f"""
    WITH {_SIMHASH60_CTE},
    bands AS (
      SELECT doc_id, simhash60, b AS band,
             (simhash60 >> (15 * b)) & 32767 AS nib
      FROM sim60 CROSS JOIN (VALUES (0), (1), (2), (3)) t(b)
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash60, b.simhash60)) AS INT) AS hamming
    FROM bands a JOIN bands b ON a.band = b.band AND a.nib = b.nib
                             AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash60, b.simhash60)) <= 3
    """,
    "textops: SimHash near-dup pairs",
    "wide 60-bit SimHash, 15-bit-band candidate join + Hamming<=3 filter (pigeonhole-complete)",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import simhash_pairs

    return simhash_pairs(_t(spark, sf_dir, "documents"), max_hamming=3)
