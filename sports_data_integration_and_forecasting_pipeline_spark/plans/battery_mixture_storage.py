"""Mixture sampling, int8 quantization, inverted index, z-order layout, curation v2, storage/merge/iceberg entries, sketches (count-min, HLL, GK), perplexity gate, early TPC-H heads.

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

from .battery_core import _cents, _epoch_s, _r, _register, _sql_r, _t
from .battery_embeddings import _COS_SQL, _EMB_DIM, _emb_norm_cte
from .battery_events_warehouse import _H60_SPACE_SQL
from .battery_text_dedup import (
    _CHUNK_MAX,
    _CHUNK_STRIDE,
    _SHINGLE3_RAW_SQL,
    _h60_sql,
    _shingle_raw_sql,
    _sql_count_in,
)




# ===========================================================================
# Target-mixture sampling — the "training mix" step: down-sample each
# language to hit a target corpus mixture with MAXIMUM retention
# (T = min(n_d/w_d); the scarcest domain keeps every row). Rates come
# from a tiny broadcast agg; the corpus side never shuffles. The
# hash coin and the rate arithmetic are both engine-exact, so the
# sampled set hash-matches row for row.
# ===========================================================================

# selectivity guard: tests/test_selectivity.py::test_mixture_sample_langs_emits_multiple_languages
_MIX_WEIGHTS = {"en": 0.25, "de": 0.2, "es": 0.2, "fr": 0.2, "zh": 0.15}


@_register(
    "mixture_sample_langs",
    f"""
    WITH w(lang, w) AS (VALUES {", ".join(f"('{k}', {v})" for k, v in _MIX_WEIGHTS.items())}),
    counts AS (
      SELECT lang, CAST(count(*) AS DOUBLE) AS n_d FROM documents GROUP BY lang
    ),
    r AS (SELECT c.lang, n_d, w.w, n_d / w.w AS ratio
          FROM counts c JOIN w USING (lang) WHERE w.w > 0),
    t AS (SELECT min(ratio) AS t_max FROM r),
    rates AS (SELECT lang, w * t_max / n_d AS rate FROM r CROSS JOIN t)
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN rates USING (lang)
    WHERE {{h}} / {{space}} < rate
    """.format(
        h=_h60_sql("concat('mix', CAST(doc_id AS VARCHAR))"),
        space=_H60_SPACE_SQL,
    ),
    "sampling: target-mixture domain sampling (no reference counterpart)",
    "max-retention language rebalance to a 25/20/20/20/15 target mix",
)
def mixture_sample_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.sampling import mixture_sample

    return mixture_sample(
        _t(spark, sf_dir, "documents"),
        domain_col="lang",
        weights=_MIX_WEIGHTS,
        key_col="doc_id",
    ).select("doc_id", "lang", "source")


# ===========================================================================
# Embedding int8 quantization — 4x vector compression for the ANN
# stack. Codes are exact integer arithmetic; scale and dequant-MSE snap
# to integer micro/nano grids; the per-vector fold runs in a fixed
# order, so everything hash-matches. Zero-shuffle narrow plan.
# ===========================================================================

@_register(
    "embed_quantize_int8",
    """
    WITH staged AS (
      SELECT vec_id, embedding,
             CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
               AS scale,
             len(embedding) AS dim
      FROM embeddings
    ),
    coded AS (
      SELECT vec_id, embedding, scale, dim,
             CASE WHEN scale = 0
                  THEN list_transform(embedding, x -> 0)
                  ELSE list_transform(embedding,
                         x -> CAST(floor(CAST(x AS DOUBLE) / scale * 127 + 0.5)
                                   AS INT))
             END AS q
      FROM staged
    )
    SELECT vec_id,
           CAST(dim AS BIGINT) AS dim,
           CAST(floor(scale * 1000000.0 + 0.5) AS BIGINT) AS scale_e6,
           array_to_string(list_transform(q, x -> CAST(x AS VARCHAR)), ',')
             AS q_csv,
           CAST(floor(
             list_sum(list_transform(range(1, dim + 1),
               i -> pow(CAST(embedding[i] AS DOUBLE) - q[i] * scale / 127, 2)))
             / dim * 1000000000.0 + 0.5) AS BIGINT) AS mse_e9
    FROM coded
    """,
    "similarity: embedding int8 quantization (no reference counterpart)",
    "symmetric per-vector scalar quantization + dequant MSE, zero-shuffle",
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.quantize import quantization_report

    return quantization_report(_t(spark, sf_dir, "embeddings"))


# ===========================================================================
# Quantized ANN search — top-k on the int8 codes end to end, with each
# quantized neighbor flagged against the EXACT top-k (per-row recall).
# Scales cancel out of cosine, so ranking is integer dot products +
# one sqrt: deterministic in both engines, broadcast-query plan
# identical to the exact path. The flag join makes the accuracy cost of
# 4x compression part of the hash-checked result.
# ===========================================================================

@_register(
    "embed_quantized_topk",
    f"""
    WITH coded AS (
      SELECT vec_id,
             CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0)
                  ELSE list_transform(embedding,
                         x -> CAST(floor(CAST(x AS DOUBLE) / scale * 127 + 0.5)
                                   AS INT))
             END AS q
      FROM (SELECT vec_id, embedding,
                   CAST(list_max(list_transform(embedding, x -> abs(x)))
                        AS DOUBLE) AS scale
            FROM embeddings)
    ),
    nq AS (
      SELECT vec_id, q,
             CAST(list_sum(list_transform(q, x -> CAST(x AS BIGINT) * x))
                  AS BIGINT) AS nsq
      FROM coded
    ),
    qscored AS (
      SELECT a.vec_id AS q_id, b.vec_id AS cand_id,
             CAST(list_sum(list_transform(range(1, {_EMB_DIM + 1}),
                    i -> CAST(a.q[i::INT] AS BIGINT) * b.q[i::INT]))
                  AS DOUBLE)
               / sqrt(CAST(a.nsq AS DOUBLE) * b.nsq) AS qcos
      FROM (SELECT * FROM nq WHERE vec_id < 10) a
      CROSS JOIN nq b
      WHERE b.vec_id <> a.vec_id
    ),
    qranked AS (
      SELECT q_id, cand_id, qcos,
             CAST(row_number() OVER (PARTITION BY q_id
                                     ORDER BY qcos DESC, cand_id) AS INT) AS rank
      FROM qscored
    ),
    {_emb_norm_cte().strip().lstrip()}
    ,
    escored AS (
      SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
             {_COS_SQL} AS cosine
      FROM (SELECT * FROM nv WHERE vec_id < 10) q
      CROSS JOIN nv c
      WHERE c.vec_id <> q.vec_id
    ),
    exact AS (
      SELECT q_id, cand_id FROM (
        SELECT q_id, cand_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cosine DESC, cand_id) AS rank
        FROM escored)
      WHERE rank <= 5
    )
    SELECT r.q_id, r.rank, r.cand_id,
           CAST(floor(r.qcos * 1000000.0 + 0.5) AS BIGINT) AS qcos_e6,
           (e.cand_id IS NOT NULL) AS in_exact_topk
    FROM qranked r
    LEFT JOIN exact e ON r.q_id = e.q_id AND r.cand_id = e.cand_id
    WHERE r.rank <= 5
    """,
    "similarity: quantized ANN top-k + per-row recall (no reference counterpart)",
    "int8-code cosine top-5 with exact-top-5 membership flags",
)
def embed_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.quantize import quantized_cosine_topk
    from sports_data_integration_and_forecasting_pipeline_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    pred = F.col("vec_id") < 10
    quant = quantized_cosine_topk(emb, query_pred=pred, k=5)
    exact = (
        cosine_topk(emb, query_pred=pred, k=5)
        .select("q_id", "cand_id")
        .withColumn("__e", F.lit(1))
    )
    return (
        quant.join(F.broadcast(exact), ["q_id", "cand_id"], "left")
        .select(
            "q_id",
            "rank",
            "cand_id",
            "qcos_e6",
            F.col("__e").isNotNull().alias("in_exact_topk"),
        )
    )


# ===========================================================================
# Inverted text index — term -> df + capped posting list, the build
# step of distributed search and the generalization of the TF-IDF df
# table. Hot-term state is bounded BEFORE collection (rank filter, same
# discipline as the dedup shingle cap); postings serialize to CSV so
# the hash check is engine-exact.
# ===========================================================================

@_register(
    "inverted_text_index",
    """
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
      FROM documents
    ),
    ranked AS (
      SELECT term, doc_id,
             row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
      FROM toks
    )
    SELECT term, CAST(count(*) AS BIGINT) AS df,
           array_to_string(
             list_transform(list_sort(list(doc_id) FILTER (WHERE rn <= 16)),
                            x -> CAST(x AS VARCHAR)), ',') AS postings_csv
    FROM ranked GROUP BY term
    """,
    "textops: inverted index build (no reference counterpart)",
    "term -> df + first-16 posting list, bounded per-term state",
)
def inverted_text_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import inverted_index

    return inverted_index(_t(spark, sf_dir, "documents"), max_postings=16)


# ===========================================================================
# Z-order layout vs linear layout — the data-layout experiment behind
# OPTIMIZE ZORDER: write orders as 64 "files" sorted (a) by date and
# (b) by the Morton interleave of (day, price-bucket), then plan the
# same 2-D box query against per-file min/max stats. The Morton key is
# pure integer bit arithmetic, ntile splits are identical under an
# identical total order, so BOTH layouts' pruning counts hash-match
# DuckDB. Expect z-order to scan far fewer files for the 2-D box.
# ===========================================================================

# (lo_day, hi_day, lo_bucket, hi_bucket): a date-narrow box (where the
# date-sorted layout is already optimal), a price-narrow box (where it
# degenerates to a full scan), and a 2-D box. Full dim range is 0..4095.
_Z_BOXES = {
    "date_only": (1155, 1276, 0, 4095),
    "price_only": (0, 4095, 666, 1333),
    "both": (1096, 1460, 666, 1333),
}
_Z_FILES = 64


def _zorder_oracle_sql() -> str:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.layout import zorder_key_sql

    hit_cols = ",\n             ".join(
        f"count(*) FILTER (WHERE d1 BETWEEN {lo1} AND {hi1} "
        f"AND d2 BETWEEN {lo2} AND {hi2}) AS hits_{q}"
        for q, (lo1, hi1, lo2, hi2) in _Z_BOXES.items()
    )
    stats = f"""
      SELECT f, min(d1) AS min1, max(d1) AS max1,
             min(d2) AS min2, max(d2) AS max2,
             {hit_cols}
      FROM {{src}} GROUP BY f
    """
    summaries = []
    for name, src in (("linear", "lin_stats"), ("zorder", "zo_stats")):
        for q, (lo1, hi1, lo2, hi2) in _Z_BOXES.items():
            summaries.append(f"""
      SELECT '{name}' AS layout, '{q}' AS query,
             CAST(count(*) AS BIGINT) AS n_files,
             CAST(count(*) FILTER (WHERE max1 >= {lo1} AND min1 <= {hi1}
                                   AND max2 >= {lo2} AND min2 <= {hi2})
                  AS BIGINT) AS files_scanned,
             CAST(count(*) FILTER (WHERE hits_{q} > 0) AS BIGINT) AS files_matching,
             CAST(sum(hits_{q}) AS BIGINT) AS rows_matched
      FROM {src}""")
    return f"""
    WITH dims AS (
      SELECT o_orderkey,
             datediff('day', DATE '1992-01-01', o_orderdate) AS d1,
             CAST(floor(o_totalprice / 150) AS BIGINT) AS d2
      FROM orders
    ),
    keyed AS (SELECT *, {zorder_key_sql('d1', 'd2')} AS zkey FROM dims),
    lin AS (SELECT d1, d2, ntile({_Z_FILES}) OVER (ORDER BY d1, o_orderkey) AS f FROM keyed),
    zo AS (SELECT d1, d2, ntile({_Z_FILES}) OVER (ORDER BY zkey, o_orderkey) AS f FROM keyed),
    lin_stats AS ({stats.format(src="lin")}),
    zo_stats AS ({stats.format(src="zo")})
    {" UNION ALL ".join(summaries)}
    """


# r10 bench adjudication: 0.99 -> 1.47 s swing re-measured 1.055/1.054 s
# in both orderings on a calm session -> mid-battery interference (the
# two-global-sort entry is the most GC-pressure-sensitive by design).
# r11 adjudication (r10's 0.99 -> 1.33 flag): 1.177/1.251 s fwd/rev —
# stable in both positions, consistent with the documented inherent
# two-global-sorts shape (the sorts ARE the demonstration; SCALING.md).
# Confirmed inherent, not a regression.
@_register(
    "zorder_layout_pruning",
    _zorder_oracle_sql(),
    "data layout: z-order clustering + stats pruning (no reference counterpart)",
    "Morton-interleaved vs date-sorted file layout, min/max pruning for a 2-D box",
)
def zorder_layout_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.layout import (
        layout_scan_stats,
        zorder_key_expr,
    )

    dims = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.datediff("o_orderdate", F.lit("1992-01-01")).alias("d1"),
        F.floor(F.col("o_totalprice") / 150).cast("bigint").alias("d2"),
    )
    keyed = dims.withColumn("zkey", F.expr(zorder_key_expr("d1", "d2")))
    linear = layout_scan_stats(
        keyed, [F.col("d1"), F.col("o_orderkey")], "d1", "d2",
        _Z_BOXES, _Z_FILES, "linear",
    )
    zorder = layout_scan_stats(
        keyed, [F.col("zkey"), F.col("o_orderkey")], "d1", "d2",
        _Z_BOXES, _Z_FILES, "zorder",
    )
    return linear.unionByName(zorder)


# ===========================================================================
# Curation pipeline v2 — the round-2 ops composed end to end: drop
# benchmark-contaminated docs (>= 2 shared 3-grams), rebalance the
# survivors to the target language mix, chunk what remains, report
# per-language corpus stats. Every stage is an oracle-checked operator
# on its own; this entry proves they COMPOSE (the oracle splices the
# same CTE pieces), which is how the 100 TB pipeline actually runs.
# ===========================================================================

@_register(
    "curation_pipeline_v2",
    f"""
    WITH shed AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform({_SHINGLE3_RAW_SQL},
                                                 s -> {_h60_sql('s')}))) AS sh
      FROM documents
    ),
    bench AS (SELECT DISTINCT sh FROM shed WHERE doc_id % 17 = 0),
    contam AS (
      SELECT d.doc_id
      FROM (SELECT doc_id, sh FROM shed WHERE doc_id % 17 <> 0) d
      JOIN bench b ON d.sh = b.sh
      GROUP BY d.doc_id HAVING count(*) >= 2
    ),
    clean AS (
      SELECT * FROM documents
      WHERE doc_id % 17 <> 0 AND doc_id NOT IN (SELECT doc_id FROM contam)
    ),
    w(lang, w) AS (VALUES {", ".join(f"('{k}', {v})" for k, v in _MIX_WEIGHTS.items())}),
    counts AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n_d FROM clean GROUP BY lang),
    r AS (SELECT c.lang, n_d, w.w, n_d / w.w AS ratio
          FROM counts c JOIN w USING (lang) WHERE w.w > 0),
    t AS (SELECT min(ratio) AS t_max FROM r),
    rates AS (SELECT lang, w * t_max / n_d AS rate FROM r CROSS JOIN t),
    sampled AS (
      SELECT d.doc_id, d.lang, d.text
      FROM clean d JOIN rates USING (lang)
      WHERE {_h60_sql("concat('mix', CAST(doc_id AS VARCHAR))")} / {_H60_SPACE_SQL} < rate
    ),
    tok AS (
      SELECT doc_id, lang, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM sampled
    ),
    chunks AS (
      SELECT doc_id, lang,
             len(list_slice(toks, i * {_CHUNK_STRIDE} + 1,
                            i * {_CHUNK_STRIDE} + {_CHUNK_MAX})) AS chunk_tokens
      FROM (SELECT doc_id, lang, toks,
                   unnest(range(0, (n + {_CHUNK_STRIDE - 1}) // {_CHUNK_STRIDE})) AS i
            FROM tok)
    )
    SELECT lang,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(chunk_tokens) AS BIGINT) AS sum_tokens
    FROM chunks GROUP BY lang
    """,
    "composite: decontaminate -> mixture-sample -> chunk (no reference counterpart)",
    "round-2 curation ops composed end to end, per-language corpus stats",
)
def curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.chunking import chunk_documents
    from sports_data_integration_and_forecasting_pipeline_spark.operators.decontam import (
        benchmark_contamination,
    )
    from sports_data_integration_and_forecasting_pipeline_spark.operators.sampling import mixture_sample

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 17 != 0)
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    contaminated = (
        benchmark_contamination(corpus, bench, min_hits=2)
        .filter(F.col("contaminated"))
        .select("doc_id")
    )
    clean = corpus.join(contaminated, "doc_id", "left_anti")
    mixed = mixture_sample(clean, "lang", _MIX_WEIGHTS, "doc_id")
    chunks = chunk_documents(
        mixed,
        max_tokens=_CHUNK_MAX,
        stride=_CHUNK_STRIDE,
        passthrough=("lang",),
    )
    return chunks.groupBy("lang").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("n_chunks"),
        F.sum("chunk_tokens").cast("bigint").alias("sum_tokens"),
    )


# ===========================================================================
# Feature correlation screen — Pearson corr / sample covariance /
# stddev over fact columns, the quick collinearity check before model
# features ship. Single map-side-combined aggregation of co-moments
# (constant state per pair); 6-dp rounding covers the ~1-ulp co-moment
# accumulation divergence between engines.
# ===========================================================================

@_register(
    "feature_correlation_screen",
    f"""
    SELECT
      {_sql_r("corr(l_quantity, l_extendedprice)", 6)} AS corr_qty_price,
      {_sql_r("corr(l_extendedprice, l_discount)", 6)} AS corr_price_disc,
      {_sql_r("covar_samp(l_quantity, l_extendedprice)", 6)} AS covar_qty_price,
      {_sql_r("stddev_samp(l_quantity)", 6)} AS sd_qty,
      {_sql_r("stddev_samp(l_extendedprice)", 6)} AS sd_price,
      CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    """,
    "feature screening stats (no reference counterpart; generalizes M1)",
    "corr/covar/stddev co-moment aggregation over lineitem, one pass",
)
def feature_correlation_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        _r(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        _r(F.corr("l_extendedprice", "l_discount"), 6).alias("corr_price_disc"),
        _r(F.covar_samp("l_quantity", "l_extendedprice"), 6).alias("covar_qty_price"),
        _r(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        _r(F.stddev_samp("l_extendedprice"), 6).alias("sd_price"),
        F.count("*").cast("bigint").alias("n"),
    )


# ===========================================================================
# Table profiler — ANALYZE-style per-column stats (rows/nulls/NDV/
# min/max) in one pass, the input to CBO broadcast decisions and data-
# quality monitors. Exact NDV for the oracle; the 100 TB path swaps in
# approx_count_distinct (exact=False).
# ===========================================================================

@_register(
    "profile_orders_table",
    """
    {}
    """.format(
        "\nUNION ALL\n".join(
            f"""SELECT '{c}' AS col_name,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
                   CAST(count(DISTINCT {c}) AS BIGINT) AS ndv,
                   CAST(min({c}) AS VARCHAR) AS min_str,
                   CAST(max({c}) AS VARCHAR) AS max_str
            FROM orders"""
            for c in [
                "o_orderkey",
                "o_custkey",
                "o_totalprice",
                "o_orderdate",
                "o_orderpriority",
            ]
        )
    ),
    "table profiling / stats collection (no reference counterpart)",
    "per-column rows/nulls/NDV/min/max over orders in one aggregation pass",
)
def profile_orders_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.profile import profile_table

    return profile_table(
        _t(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        )
    )


# ===========================================================================
# TPC-H Q5-class multi-join — local-supplier revenue by nation for one
# region-year: 6 tables, the canonical join-discipline audit. The three
# dimension chains (region -> nation -> customer / supplier) broadcast;
# only the orders<->lineitem join shuffles, keyed on l_orderkey.
# Revenue rides exact integer cents (each line's revenue snaps to cents
# BEFORE the sum, so partition order can't move the total).
# ===========================================================================

@_register(
    "q5_local_supplier_revenue",
    """
    SELECT n_name,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100.0 + 0.5)
                         AS BIGINT)) AS BIGINT) AS revenue_cents,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= DATE '1996-01-01'
      AND o_orderdate < DATE '1997-01-01'
    GROUP BY n_name
    """,
    "multi-join audit (TPC-H Q5 shape; generalizes A9/J1 join coverage)",
    "6-table local-supplier revenue: dims broadcast, one fact-fact shuffle",
)
def q5_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    lineitem = _t(spark, sf_dir, "lineitem")

    asia_customers = (
        customer.join(
            F.broadcast(nation.join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))),
            F.col("c_nationkey") == F.col("n_nationkey"),
        ).select("c_custkey", "c_nationkey", "n_name")
    )
    # orders of ASIA customers: customer side is sf-small relative to the
    # fact tables — broadcast it into the orders scan
    o = orders.join(F.broadcast(asia_customers), F.col("o_custkey") == F.col("c_custkey"))
    # the one true shuffle: fact-fact join on the order key
    l = lineitem.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    # local suppliers only: supplier nation must match customer nation
    joined = l.join(
        F.broadcast(supplier),
        (F.col("l_suppkey") == F.col("s_suppkey"))
        & (F.col("s_nationkey") == F.col("c_nationkey")),
    )
    return joined.groupBy("n_name").agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100.0 + 0.5
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("revenue_cents"),
        F.count("*").cast("bigint").alias("n_lines"),
    )


# ===========================================================================
# Bucketed-join co-location proof: both join sides are written bucketed
# (and per-bucket sorted) by the join key, so the fact-dim join runs with
# ZERO Exchange — each task reads matching bucket files from both sides.
# The merge hint keeps AQE from broadcasting the small test-SF side,
# because a broadcast would bypass bucketing and prove nothing; at 100 TB
# both sides are too big to broadcast and this bucket-to-bucket SMJ *is*
# the plan. The only shuffle left is the final 5-row segment rollup.
# Plan-pinned in tests/test_plan_shapes.py (join subtree Exchange-free).
# ===========================================================================

@_register(
    "bucketed_join_colocated",
    """
    SELECT c.c_mktsegment AS mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(floor(o.o_totalprice * 100.0 + 0.5)) AS BIGINT)
             AS total_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    "layout: bucketed co-located join (write_bucketed round-trip)",
    "orders & customer bucketed by custkey -> Exchange-free SMJ, one "
    "final rollup shuffle",
)
def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.skew import write_bucketed

    tag = sf_dir.rstrip("/").split("/")[-1].replace(".", "_")
    t_orders, t_customer = f"orders_bkt_{tag}", f"customer_bkt_{tag}"
    write_bucketed(
        _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice"),
        t_orders,
        "o_custkey",
        n_buckets=8,
        sort_col="o_custkey",
    )
    write_bucketed(
        _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
        t_customer,
        "c_custkey",
        n_buckets=8,
        sort_col="c_custkey",
    )
    o = spark.table(t_orders)
    c = spark.table(t_customer)
    joined = o.hint("merge").join(c, o["o_custkey"] == c["c_custkey"])
    return joined.groupBy(F.col("c_mktsegment").alias("mktsegment")).agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5))
        .cast("bigint")
        .alias("total_cents"),
    )


# ===========================================================================
# Schema-evolution reader over the versioned canonical table: v1 is
# written with (okey INT, price) — v2 supersedes it with the key WIDENED
# to BIGINT plus an ADDED priority column. read_canonical_evolved presents
# BOTH retained versions under the current schema (explicit cast map for
# the widened key; typed NULLs for the added column), and the entry emits
# per-version stats. Deterministic because each version's content derives
# from orders by a fixed predicate; the oracle recomputes the same stats
# from orders directly, so a reader bug (silent coercion, missing-column
# mishandling) breaks the hash.
# ===========================================================================

@_register(
    "canonical_schema_evolution",
    """
    SELECT 1 AS version,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(floor(o_totalprice * 100.0 + 0.5)) AS BIGINT) AS total_cents,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           CAST(count(*) AS BIGINT) AS n_null_priority
    FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey < 1000000
    UNION ALL
    SELECT 2,
           CAST(count(*) AS BIGINT),
           CAST(sum(floor(o_totalprice * 100.0 + 0.5)) AS BIGINT),
           CAST(sum(o_orderkey) AS BIGINT),
           0
    FROM orders WHERE o_orderkey % 2 = 1
    """,
    "sink: versioned canonical schema evolution (added column + widened type)",
    "v1 (okey int, price) -> v2 (okey bigint, price, priority); evolved "
    "reads of both versions under the current schema, stats hash-oracled",
)
def canonical_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    from pathlib import Path

    from sports_data_integration_and_forecasting_pipeline_spark.sinks import (
        read_canonical_evolved,
        write_canonical_version,
    )

    tag = sf_dir.rstrip("/").split("/")[-1].replace(".", "_")
    root = Path("spark-warehouse") / f"canon_evo_{tag}"
    shutil.rmtree(str(root), ignore_errors=True)

    orders = _t(spark, sf_dir, "orders")
    # v1: narrow key (int is safe below 1e6 — the guard is part of the
    # predicate so the cast is lossless), no priority column
    v1 = orders.filter(
        (F.col("o_orderkey") % 2 == 0) & (F.col("o_orderkey") < 1000000)
    ).select(
        F.col("o_orderkey").cast("int").alias("okey"),
        F.col("o_totalprice").alias("price"),
    )
    # v2: key widened to bigint, priority column added
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        F.col("o_orderkey").cast("bigint").alias("okey"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderpriority").alias("priority"),
    )
    write_canonical_version(spark, str(root), v1)
    write_canonical_version(spark, str(root), v2)

    def stats(version: int) -> DataFrame:
        df = read_canonical_evolved(
            spark, str(root), version=version, cast_map={"okey": "bigint"}
        )
        return df.groupBy().agg(
            F.lit(version).alias("version"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(_cents(F.col("price"))).cast("bigint").alias("total_cents"),
            F.sum("okey").cast("bigint").alias("key_sum"),
            F.count_if(F.col("priority").isNull())
            .cast("bigint")
            .alias("n_null_priority"),
        )

    return stats(1).unionByName(stats(2)).select(
        "version", "n_rows", "total_cents", "key_sum", "n_null_priority"
    )


# ===========================================================================
# Incremental rollup maintenance — merge partial aggregates instead of
# recomputing: base (pre-1997 orders) and delta (1997+) are aggregated
# SEPARATELY and merged; the DuckDB oracle recomputes from the full
# table, so the hash check proves merge(agg(base), agg(delta)) ==
# agg(all). Sums ride exact integer cents; avg derives post-merge.
# ===========================================================================

@_register(
    "incremental_rollup_merge",
    """
    SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo, o_orderpriority,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(min(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS min_cents,
           CAST(max(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS max_cents,
           sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) / count(*)
             AS avg_cents
    FROM orders GROUP BY 1, 2, 3
    """,
    "incremental view maintenance (no reference counterpart; generalizes "
    "the canonical append flow, src/ingestion.py:132-142)",
    "partial-rollup merge over a base/delta split == full recompute oracle",
)
def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.incremental import (
        merge_rollups,
        rollup_partial,
    )

    orders = _t(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    keys = ["yr", "mo", "o_orderpriority"]
    metrics = {
        "sum_cents": ("sum", "cents"),
        "n_orders": ("count", ""),
        "min_cents": ("min", "cents"),
        "max_cents": ("max", "cents"),
    }
    base = rollup_partial(orders.filter(F.col("yr") < 1997), keys, metrics)
    delta = rollup_partial(orders.filter(F.col("yr") >= 1997), keys, metrics)
    merged = merge_rollups(
        [base, delta],
        keys,
        {"sum_cents": "sum", "n_orders": "count", "min_cents": "min", "max_cents": "max"},
    )
    return merged.withColumn(
        "avg_cents", F.col("sum_cents") / F.col("n_orders")
    )


# ===========================================================================
# Iceberg / heavy hitters — items covering >= s% of their group, the
# exact hot-key detector that feeds the skew tools. Two cascaded aggs;
# the group-total window runs over already-aggregated (group, item)
# counts, so the second exchange is tiny. Integer-only outputs.
# ===========================================================================

@_register(
    "iceberg_heavy_users",
    """
    WITH counts AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY user_id, event_type
    )
    SELECT user_id, event_type, cnt, n_group FROM (
      SELECT user_id, event_type, cnt,
             CAST(sum(cnt) OVER (PARTITION BY user_id) AS BIGINT) AS n_group
      FROM counts)
    WHERE cnt >= n_group * 0.25
    """,
    "frequency: iceberg / heavy hitters (no reference counterpart)",
    "event types covering >= 25% of a user's rows — exact hot-key detection",
)
def iceberg_heavy_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.frequency import heavy_hitters

    return heavy_hitters(
        _t(spark, sf_dir, "events"),
        group_cols=["user_id"],
        item_col="event_type",
        threshold=0.25,
    )


# ===========================================================================
# Count-min sketch — the bounded-space frequency estimator for item
# cardinalities too large for the exact iceberg agg. Unlike HLL (whose
# register layout is engine-private, hence rows-only), CMS built on
# md5-derived bucket hashes is engine-portable: DuckDB reproduces the
# identical d × w counter table and min-of-rows estimates, so this one
# IS hash-oracled. 150 users into 64 buckets forces real collisions, so
# the min across the 4 rows is doing actual work (est >= exact, with
# equality only when some row is collision-free for that item).
# ===========================================================================

_CMS_D, _CMS_W = 4, 64


@_register(
    "countmin_frequency",
    f"""
    WITH items AS (SELECT CAST(user_id AS VARCHAR) AS item FROM events),
    sketch AS (
      SELECT d.row,
             CAST(CAST(concat('0x', substring(md5(item), 1 + 8 * d.row, 8)) AS BIGINT)
                  % {_CMS_W} AS INT) AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
      FROM items CROSS JOIN range(0, {_CMS_D}) AS d(row)
      GROUP BY 1, 2
    ),
    probes AS (SELECT DISTINCT item FROM items),
    probe_cells AS (
      SELECT p.item, d.row,
             CAST(CAST(concat('0x', substring(md5(p.item), 1 + 8 * d.row, 8)) AS BIGINT)
                  % {_CMS_W} AS INT) AS bucket
      FROM probes p CROSS JOIN range(0, {_CMS_D}) AS d(row)
    )
    SELECT item, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est_cnt
    FROM probe_cells LEFT JOIN sketch USING (row, bucket)
    GROUP BY item
    """,
    "frequency: count-min sketch (no reference counterpart)",
    "bounded-space frequency estimates — d x w counter table, min-of-rows probe",
)
def countmin_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.frequency import (
        countmin_estimate,
        countmin_sketch,
    )

    items = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("item")
    )
    sketch = countmin_sketch(items, "item", depth=_CMS_D, width=_CMS_W)
    return countmin_estimate(
        sketch, items.distinct(), "item", depth=_CMS_D, width=_CMS_W
    )


# ===========================================================================
# Unigram LM perplexity — the LM-based quality signal for corpus
# curation. Per-token -ln p is snapped to integer micro-nats before the
# per-doc sum, so aggregation is exact integer arithmetic
# (order-independent across partitions and engines); only the final exp
# is floating, rounded at 4 dp.
# ===========================================================================

_PPL_CTES = """
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    tot AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY term),
    n AS (SELECT sum(cnt) AS total FROM tot),
    scored AS (
      SELECT tf.doc_id, tf.tf,
             tf.tf * CAST(floor(-ln(CAST(cnt AS DOUBLE) / total) * 1000000.0 + 0.5) AS BIGINT)
               AS nll_micro
      FROM tf JOIN tot USING (term) CROSS JOIN n
    ),
    ppl AS (
      SELECT doc_id,
             CAST(sum(tf) AS BIGINT) AS n_tokens,
             CAST(sum(nll_micro) AS BIGINT) AS nll_micro,
             CAST(floor(exp(CAST(sum(nll_micro) AS DOUBLE) / 1000000.0 / sum(tf)) * 10000.0 + 0.5) AS BIGINT)
               AS ppl_e4
      FROM scored GROUP BY doc_id
    )
"""


@_register(
    "text_unigram_perplexity",
    f"""
    WITH {_PPL_CTES}
    SELECT doc_id, n_tokens, nll_micro, ppl_e4 FROM ppl
    """,
    "textops: unigram LM perplexity (no reference counterpart)",
    "per-doc perplexity under the corpus unigram model, integer micro-nat accumulation",
)
def text_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import (
        unigram_perplexity,
    )

    return unigram_perplexity(_t(spark, sf_dir, "documents"))


# Model-signal quality cut — the LM-filter stage real curation pipelines
# run after rule-based filters: drop documents whose perplexity under the
# corpus unigram model exceeds a calibrated threshold (a config literal —
# at scale the threshold comes from an offline percentile calibration,
# never a global ranking window over the data), then report per-language
# survivor stats. Deterministic end-to-end: the threshold compare is on
# integer ppl_e4.
_PPL_CUT_E4 = 32 * 10000  # keep docs with perplexity <= 32 (calibrated offline; corpus ppl spans ~29-42)
# selectivity guard: tests/test_selectivity.py::test_quality_perplexity_cut_is_selective


# r10 bench adjudication: 0.92 -> 1.25 s swing re-measured 0.617/0.570 s
# in both orderings on a calm session -> mid-battery interference.
@_register(
    "quality_perplexity_cut",
    f"""
    WITH {_PPL_CTES}
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(p.n_tokens) AS BIGINT) AS total_tokens,
           CAST(max(p.ppl_e4) AS BIGINT) AS max_ppl_e4
    FROM ppl p JOIN documents d USING (doc_id)
    WHERE p.ppl_e4 <= {_PPL_CUT_E4}
    GROUP BY d.lang
    """,
    "curation: perplexity-threshold quality cut",
    "drop docs with unigram ppl above the calibrated literal; per-lang "
    "survivor stats (integer compare, no global ranking window)",
)
def quality_perplexity_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import (
        unigram_perplexity,
    )

    docs = _t(spark, sf_dir, "documents")
    ppl = unigram_perplexity(docs).filter(F.col("ppl_e4") <= _PPL_CUT_E4)
    survivors = ppl.join(docs.select("doc_id", "lang"), "doc_id")
    return survivors.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.max("ppl_e4").cast("bigint").alias("max_ppl_e4"),
    )


# ===========================================================================
# HLL++ approximate NDV — the constant-state companion to KMV: per group
# the sketch is a fixed register array (vs KMV's k mins, vs exact
# distinct's full key set), mergeable across partitions, so 100 TB NDV
# costs one map-side-combined shuffle of ~KB-sized state per group.
#
# HLL register layouts are engine-specific (Spark's HyperLogLog++
# dense/sparse encoding vs DuckDB's HLL — different hash, different
# register count, different bias correction), so the raw ESTIMATES can
# never hash-match a SQL oracle. Until r11 a rows-only entry
# (hll_distinct_sketch) published the estimates anyway; r10 review task
# 7 replaced it with the hash-oracled hll_distinct_verified below —
# the SAME native approx_count_distinct aggregate, but the published
# output is the engine-portable part (exact NDV + the error-bound
# boolean), so the external gate now checks the sketch's guarantee
# instead of recording an uncheckable row count.
# ===========================================================================


# The hash-oracled HLL companion: native approx_count_distinct (above)
# stays rows-only because its registers ride an engine-private hash; this
# entry builds the SAME sketch shape from the engine-portable md5 hash —
# register index/rho from h60 bits, max-merged per group, harmonic
# denominator kept in exact integer space — so the full register state
# (count + rho checksum) AND the raw estimate hash-match DuckDB.
_HLL_M = 64
_HLL_SCALE = repr(0.7213 / (1 + 1.079 / 64) * 64 * 64)
_HLL_P55 = float(1 << 55)


@_register(
    "hll_group_registers",
    f"""
    WITH h AS (
      SELECT event_type,
             {_h60_sql('CAST(user_id AS VARCHAR)')} AS hv
      FROM events
    ),
    r AS (
      SELECT event_type, hv % {_HLL_M} AS j,
             55 - length(trim(LEADING '0' FROM bin(hv // {_HLL_M}))) AS rho0
      FROM h
    ),
    regs AS (SELECT event_type, j, max(rho0) AS rho
             FROM r GROUP BY event_type, j)
    SELECT event_type,
           CAST(count(*) AS INT) AS n_regs,
           CAST(sum(rho) AS BIGINT) AS rho_sum,
           CAST(floor({_HLL_SCALE} * {_HLL_P55!r}
                      / (sum(CAST(1 AS BIGINT) << CAST(55 - rho AS INT))
                         + ({_HLL_M} - count(*)) * {_HLL_P55!r})
                      * 1e4 + 0.5) AS BIGINT) AS est_e4
    FROM regs GROUP BY event_type
    """,
    "sketch: per-group HLL with engine-portable registers (hash-oracled)",
    f"md5-h60 HLL m={_HLL_M}: register state and raw estimate both "
    "hash-match DuckDB; integer-exact harmonic denominator",
)
def hll_group_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.frequency import hll_per_group

    return hll_per_group(
        _t(spark, sf_dir, "events"), "event_type", "user_id", m=_HLL_M
    )


# ===========================================================================
# Approximate percentiles — the mergeable-summary companion to the exact
# order-statistic query (value_percentiles): percentile_approx keeps a
# bounded Greenwald-Khanna summary per group (t-digest's role in Spark),
# so per-group state is O(accuracy), not O(n), and partial summaries
# merge map-side — the only percentile shape that survives 100 TB.
#
# The summary's compression decisions are engine-specific (Spark GK vs
# DuckDB t-digest), so cross-engine VALUES differ within the rank-error
# bound and can never hash-match. Until r11 a rows-only entry
# (approx_percentile_sketch) published the values anyway; r10 review
# task 7 replaced it with the hash-oracled approx_percentile_verified
# below — the SAME native percentile_approx aggregate, rank-checked
# against the exact order statistics, publishing the engine-portable
# guarantee boolean instead of the uncheckable values.
# ===========================================================================


# The hash-oracled VERIFIED twins (r10 review task 7, the
# misra_gries_verified pattern): the sketch VALUES are engine-specific,
# but the sketch GUARANTEE is not — "estimate within the published error
# bound of the exact answer" is a boolean both engines can agree on. The
# Spark side computes the bound check against Spark's own sketch; the
# oracle emits the exact figures with the invariant pinned TRUE, so a
# sketch that ever drifts past its bound hash-mismatches and goes red.

@_register(
    "hll_distinct_verified",
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_ndv,
           TRUE AS within_bound
    FROM events GROUP BY event_type
    """,
    "sketch: HLL++ NDV guarantee verification (hash-oracled; replaced "
    "the rows-only hll_distinct_sketch, r10 review task 7)",
    "approx_count_distinct(rsd=0.02) vs exact NDV per event_type; "
    "within_bound pins |hll - exact| <= 10% of exact (5x the configured "
    "rsd — beyond 5 sigma for a working HLL++)",
)
def hll_distinct_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("hll_ndv"),
        F.countDistinct("user_id").cast("long").alias("exact_ndv"),
    )
    # integer-exact bound check: |hll - exact| * 10 <= exact  (<= 10%)
    return agg.select(
        "event_type",
        "exact_ndv",
        (
            F.abs(F.col("hll_ndv") - F.col("exact_ndv")) * 10
            <= F.col("exact_ndv")
        ).alias("within_bound"),
    )


@_register(
    "approx_percentile_verified",
    """
    WITH g AS (
      SELECT event_type, CAST(count(value) AS BIGINT) AS n_values
      FROM events GROUP BY event_type
    ),
    p(pct) AS (VALUES (50), (90), (99))
    SELECT event_type, CAST(pct AS INT) AS pct, n_values,
           TRUE AS within_bound
    FROM g CROSS JOIN p
    """,
    "sketch: Greenwald-Khanna percentile guarantee verification "
    "(hash-oracled; replaced the rows-only approx_percentile_sketch, "
    "r10 review task 7)",
    "percentile_approx(accuracy=1000) p50/p90/p99 rank-checked against "
    "the exact order statistics: the returned value's rank interval "
    "[cnt_lt+1, cnt_le] must intersect [p*n - (2.5*eps*n + 1), "
    "p*n + (2.5*eps*n + 1)], eps=1/1000 — 2*eps is the merged-summaries "
    "bound (Greenwald-Khanna partials merged across partitions double "
    "the single-pass eps; measured: Spark lands 2.02*eps*n off target "
    "on one sf0.01 group, i.e. the 2*eps bound is already TIGHT), the "
    "extra 0.5*eps*n is a RELATIVE margin for merge-error growth with "
    "partition count (r11 advice: a flat +1 only absorbed the 0.02 "
    "overshoot up to n ~ 50k/group), +1 absorbs target-rank integer "
    "rounding. Validity ceiling of the pinned-TRUE oracle: GK merge "
    "error grows ~log(partials)*eps, so 2.5*eps holds for <= ~64 "
    "merged partials per group (this repo: 32 shuffle partitions); a "
    "1000-executor run with thousands of partials per group should "
    "re-derive slack = (2 + 0.25*log2(partials/32))*eps*n before "
    "trusting the boolean",
)
def approx_percentile_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    acc = 1000
    eps = 1.0 / acc
    pa = F.percentile_approx("value", [0.5, 0.9, 0.99], acc)
    approx = (
        ev.groupBy("event_type")
        .agg(pa.alias("ps"), F.count("value").cast("bigint").alias("n_values"))
        .select(
            "event_type",
            "n_values",
            F.explode(
                F.map_from_arrays(
                    F.array(F.lit(50), F.lit(90), F.lit(99)),
                    F.col("ps"),
                )
            ).alias("pct", "v"),
        )
        .select("event_type", F.col("pct").cast("int").alias("pct"),
                "n_values", "v")
    )
    # per-(group, pct) exact rank of the approx value: one broadcast of
    # the tiny approx table back onto the events scan, counts map-side
    # combined — no sort, no second shuffle of the big side beyond the
    # groupBy key exchange
    ranked = (
        ev.join(F.broadcast(approx), "event_type")
        .groupBy("event_type", "pct", "n_values", "v")
        .agg(
            F.sum((F.col("value") < F.col("v")).cast("int"))
            .cast("bigint")
            .alias("cnt_lt"),
            F.sum((F.col("value") <= F.col("v")).cast("int"))
            .cast("bigint")
            .alias("cnt_le"),
        )
    )
    p = F.col("pct").cast("double") / 100.0
    n = F.col("n_values").cast("double")
    # 2*eps is the measured-tight merged-GK bound; the extra 0.5*eps*n is
    # a relative safety margin so the pinned-TRUE oracle can't flip red
    # from one more unlucky merge (r11 advice — the old flat +1 only
    # covered the 0.02*eps*n overshoot for groups up to ~50k values).
    # Ceiling documented in the entry notes: valid to ~64 partials/group.
    slack = 2.5 * eps * n + 1.0
    return ranked.select(
        "event_type",
        "pct",
        "n_values",
        (
            (F.col("cnt_lt").cast("double") < p * n + slack)
            & (F.col("cnt_le").cast("double") >= p * n - slack)
        ).alias("within_bound"),
    )


# ===========================================================================
# Composite curation pipeline — the end-to-end corpus-cleaning shape a
# training-data run executes: language-ID agreement filter → quality
# threshold → exact-dup removal (keep canonical) → per-language corpus
# stats. Each stage is the already-oracle-checked operator; this query
# checks their composition. Narrow predicates fuse into one scan;
# the dedup window and final rollup are the only shuffles.
# ===========================================================================

@_register(
    "curation_pipeline",
    f"""
    WITH scored AS (
      SELECT doc_id, lang, n_chars, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             {_sql_count_in(('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it', 'for', 'on'))} AS n_stop
      FROM documents
    ),
    quality AS (
      SELECT doc_id, lang, n_chars, text, n_tokens,
             (1.0 * n_stop / n_tokens) * 0.5 + least(n_tokens, 100) / 100.0 * 0.5 AS q
      FROM scored
    ),
    kept AS (
      SELECT * FROM (
        SELECT doc_id, lang, n_chars, n_tokens, q,
               min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
        FROM quality
        WHERE q >= 0.3
      ) WHERE doc_id = canonical_id
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           {_sql_r('avg(1.0 * n_tokens)', 9)} AS avg_tokens,
           {_sql_r('avg(q)', 9)} AS avg_quality
    FROM kept
    GROUP BY lang
    """,
    "curation: composite textops pipeline",
    "quality filter -> exact-dup removal -> per-language corpus stats (stage composition check)",
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import text_quality

    docs = _t(spark, sf_dir, "documents")
    quality = text_quality(docs).filter(F.col("quality_score") >= 0.3)
    w = Window.partitionBy(F.md5(F.col("text")))
    kept = quality.withColumn("canonical_id", F.min("doc_id").over(w)).filter(
        F.col("doc_id") == F.col("canonical_id")
    )
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        _r(F.avg(F.col("n_tokens").cast("double")), 9).alias("avg_tokens"),
        _r(F.avg("quality_score"), 9).alias("avg_quality"),
    )


# ===========================================================================
# TPC-H Q6-class promo-revenue scan — the pure scan-efficiency audit: a
# single fact table, three pushed predicates (timestamp range, discount
# band, quantity cap), two projected columns, one global aggregate. At
# 100 TB this query IS the scan: every filter must reach the parquet
# reader (PushedFilters; row groups outside the ship-date range are
# skipped via min/max stats) and the aggregate is a 1-row partial per
# task — no shuffle of data, only of partials. Plan-pinned in
# tests/test_plan_shapes.py (shipdate pushdown present).
# ===========================================================================

@_register(
    "q6_promo_revenue",
    """
    SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * 100.0 + 0.5)
                         AS BIGINT)) AS BIGINT) AS revenue_cents,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    "scan audit (TPC-H Q6 shape; F8 predicate family over timestamps)",
    "promo revenue: timestamp-range + band predicates pushed to the scan, "
    "1-row aggregate",
)
def q6_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    kept = li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return kept.agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice") * F.col("l_discount") * 100.0 + 0.5
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("revenue_cents"),
        F.count("*").cast("bigint").alias("n_lines"),
    )


# ===========================================================================
# Monthly active users — the calendar-bucket rollup the timestamp schema
# makes native: date_trunc month buckets (identical wall-clock semantics
# in both engines under the engine's pinned UTC session), count-distinct
# users + event/value totals per month. distinct-per-group is the
# two-phase (bucket,user) -> bucket aggregation; everything else is
# map-side combined in the same single exchange.
# ===========================================================================

@_register(
    "monthly_active_users",
    """
    SELECT CAST(epoch_us(date_trunc('month', ts)) // 1000000 AS BIGINT)
             AS month_start_s,
           CAST(count(DISTINCT user_id) AS BIGINT) AS mau,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM events GROUP BY 1
    """,
    "calendar rollup: date_trunc month buckets (A10 family over timestamps)",
    "per-month active users + event/value totals over the events stream",
)
def monthly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    bucket = _epoch_s(F.date_trunc("month", F.col("ts"))).alias("month_start_s")
    return ev.groupBy(bucket).agg(
        F.countDistinct("user_id").cast("bigint").alias("mau"),
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(_cents(F.col("value"))).cast("bigint").alias("sum_cents"),
    )


# ===========================================================================
# Weekday x hour activity heatmap — calendar-component extraction
# (weekday 0=Monday, hour-of-day) as grouping keys: the load-profile
# query behind capacity planning dashboards. Spark's weekday() and
# DuckDB's isodow()-1 agree by construction; output is <= 7x24 rows from
# one map-side-combined exchange (plus the distinct-user expansion).
# ===========================================================================

@_register(
    "weekday_hour_heatmap",
    """
    SELECT CAST(isodow(ts) - 1 AS INT) AS dow,
           CAST(hour(ts) AS INT) AS hod,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1, 2
    """,
    "calendar extraction: weekday/hour grouping (O-family over timestamps)",
    "7x24 activity heatmap: events + distinct users per weekday-hour cell",
)
def weekday_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.weekday("ts").cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )


# ===========================================================================
# Vocabulary coverage — the tokenizer-design question a training-data
# pipeline answers before fixing a vocab: with the top-K corpus units as
# the vocabulary, what fraction of each language's unit stream is
# covered (1 − OOV rate)? Units are word bigrams (the synthetic corpus
# has only 31 distinct words, so whole-word coverage is degenerate; the
# ~900 distinct bigrams give a real frequency tail). One explode feeds a
# (lang, unit) aggregate; the global vocab derives from that
# already-aggregated table (top-K by count with a pinned
# count-desc/unit-asc tiebreak) and broadcasts back over it — the raw
# unit stream is never re-exploded or re-shuffled.
# ===========================================================================

@_register(
    "vocab_coverage",
    f"""
    WITH lt AS (
      SELECT lang, unnest({_shingle_raw_sql(2)}) AS tok FROM documents
    ),
    ltc AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS n
            FROM lt GROUP BY lang, tok),
    tc AS (SELECT tok, CAST(sum(n) AS BIGINT) AS n FROM ltc GROUP BY tok),
    vocab AS (SELECT tok FROM tc ORDER BY n DESC, tok LIMIT 64)
    SELECT lang,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN v.tok IS NOT NULL THEN n ELSE 0 END) AS BIGINT)
             AS covered_tokens,
           {_sql_r('1.0 * sum(CASE WHEN v.tok IS NOT NULL THEN n ELSE 0 END)'
                   ' / sum(n)', 9)} AS coverage
    FROM ltc LEFT JOIN vocab v ON ltc.tok = v.tok
    GROUP BY lang
    """,
    "textops: top-K vocabulary build + per-language coverage / OOV audit",
    "64-bigram corpus vocab (pinned tiebreaks) broadcast against the "
    "(lang, bigram) aggregate; per-language coverage ratios",
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        shingle_rows,
    )
    from sports_data_integration_and_forecasting_pipeline_spark.operators.parallelism import (
        ensure_parallelism,
    )

    # Spread the scan: a small documents table arrives as ONE split, and
    # the bigram enumeration is the entry's whole CPU budget (measured:
    # the serial pass dominated this entry's r4 bench time; spreading cut
    # it ~40%). At 100 TB the scan is already thousands of splits.
    # r8: codegen lead-window bigrams (shingle_rows) — the transform
    # lambda is interpreted per element (SCALING.md round-8 finding).
    docs = ensure_parallelism(
        _t(spark, sf_dir, "documents"), "doc_id"
    )
    lt = shingle_rows(docs, n=2, keep_cols=("lang",)).select(
        "lang", F.col("shingle").alias("tok")
    )
    # ltc feeds BOTH the top-K vocab selection and the coverage join. The
    # two subtrees end at byte-identical `Exchange hashpartitioning(lang,
    # tok)` nodes, and AQE's shuffle-stage cache keys on the canonicalized
    # exchange plan — so the tokenize → explode → partial-aggregate pass
    # runs ONCE at runtime and the second leg reads the materialized
    # shuffle (asserted in tests/test_plan_shapes.py; measured faster
    # than an explicit persist of ltc, which pays an extra job + cache
    # write for the same single-pass effect).
    ltc = lt.groupBy("lang", "tok").agg(F.count("*").alias("n"))
    tc = ltc.groupBy("tok").agg(F.sum("n").alias("n"))
    vocab = tc.orderBy(F.desc("n"), "tok").limit(64).select("tok")
    joined = ltc.join(
        F.broadcast(vocab.withColumn("__in_vocab", F.lit(1))), "tok", "left"
    )
    covered = F.sum(
        F.when(F.col("__in_vocab").isNotNull(), F.col("n")).otherwise(0)
    )
    return joined.groupBy("lang").agg(
        F.sum("n").cast("bigint").alias("total_tokens"),
        covered.cast("bigint").alias("covered_tokens"),
        _r(covered.cast("double") / F.sum("n"), 9).alias("coverage"),
    )
