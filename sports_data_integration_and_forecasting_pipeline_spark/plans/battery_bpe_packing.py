"""BPE family (merges/encode/fertility), sequence packing, LSH recall audit, MMR rerank, distinct n-grams, temperature mixture, Markov power iteration, distribution curves, calendar spines.

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

from .battery_core import (
    QUERIES,
    _cents,
    _epoch_s,
    _fdiv,
    _r,
    _register,
    _sql_r,
    _t,
)
from .battery_embeddings import _COS_SQL, _EMB_DIM, _emb_norm_cte
from .battery_text_dedup import (
    QUALITY_W0_E6,
    QUALITY_W_AWL_E3,
    QUALITY_W_LEN_E3,
    QUALITY_W_PUNCT_E3,
    QUALITY_W_STOP_E3,
    _MH_BANDS_SQL,
    _SHINGLE3_RAW_SQL,
    _SIMHASH60_CTE,
    _h60_sql,
    _minhash_sig_sql,
    _sql_count_in,
)




# ===========================================================================
# Markov steady state by power iteration — the linear-algebra twin of
# the integer PageRank: take event_transition_matrix's chain, scale
# conditional probabilities to exact e9 integers (floor DIV, identical
# on both engines), start from the uniform vector, and unroll THREE
# row-vector × matrix multiplies with per-term floor division
# (v·p ≤ 1e18 stays in int64 BEFORE the divide; the per-term DIV keeps
# every intermediate ≤ 5e9). Float-free, so the iterate is
# hash-identical across engines and partition orders. The |states|²
# matrix is tiny by construction — the cost is the ONE pass that
# builds the transition counts; each multiply is a broadcast join over
# ≤25 rows. mass_e9 exposes the floor-loss drift (≤ |states| per
# round) as an auditable output instead of hiding it. The state set is
# sources ∪ TARGETS (r6 ADVICE): a type appearing only as a transition
# target is a SINK — without it in the state universe, mass routed into
# it would silently vanish at the next multiply and the floor-loss
# audit would under-report the drift. Sinks get an explicit e9
# self-loop (absorbing state), so total mass is conserved up to floor
# loss exactly as the audit claims.
# ===========================================================================

def _mk_iter_sql(prev: str, name: str) -> str:
    return (
        f"{name} AS (SELECT tf.t AS s, CAST(sum((v.v * tf.p_e9)"
        f" // 1000000000) AS BIGINT) AS v"
        f" FROM {prev} v JOIN tf ON tf.f = v.s GROUP BY tf.t)"
    )



# ===========================================================================
# BPE merge induction (r9 new family) — the pair-merge loop of subword
# tokenizer training (Sennrich et al., ACL 2016), run relationally:
# corpus touched once into the word-frequency table, then every round
# is VOCABULARY-granular (per-word windows + a pair aggregate + a
# distributed top-1). The sequential greedy-merge semantics ("aaaa" +
# rule (a,a) -> [aa, aa], never the overlapping middle pair) is
# reproduced exactly by a running match-count, an islands grouping
# (pos - cum_matches), and a parity filter — property-tested against a
# reference Python BPE (operators/textstats.py:bpe_merge_rounds).
# ===========================================================================

def _bpe_round_sql(r: int) -> str:
    prev = f"s{r - 1}"
    return f"""
    p{r} AS (SELECT word, wc, pos, sym,
                    lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
             FROM {prev}),
    pc{r} AS (SELECT sym, nxt, CAST(sum(wc) AS BIGINT) AS n
              FROM p{r} WHERE nxt IS NOT NULL GROUP BY sym, nxt),
    b{r} AS (SELECT sym AS bs, nxt AS bn, n AS bcount FROM (
               SELECT sym, nxt, n,
                      row_number() OVER (ORDER BY n DESC, sym, nxt) AS rn
               FROM pc{r}) WHERE rn = 1),
    f{r} AS (SELECT p.word, p.wc, p.pos, p.sym, p.nxt,
                    coalesce(p.sym = b.bs AND p.nxt = b.bn, FALSE) AS m
             FROM p{r} p LEFT JOIN b{r} b ON TRUE),
    g{r} AS (SELECT *, sum(CASE WHEN m THEN 1 ELSE 0 END)
                         OVER (PARTITION BY word ORDER BY pos) AS cm
             FROM f{r}),
    h{r} AS (SELECT *, CASE WHEN m THEN pos - cm END AS grp FROM g{r}),
    i{r} AS (SELECT *, m AND ((cm - min(cm) OVER (PARTITION BY word, grp))
                              % 2 = 0) AS sel
             FROM h{r}),
    j{r} AS (SELECT *, coalesce(lag(sel) OVER (PARTITION BY word
                                               ORDER BY pos), FALSE)
                         AS consumed
             FROM i{r}),
    s{r} AS (SELECT word, wc,
                    CAST(row_number() OVER (PARTITION BY word ORDER BY pos)
                         AS BIGINT) AS pos,
                    CASE WHEN sel THEN sym || nxt ELSE sym END AS sym
             FROM j{r} WHERE NOT consumed)"""


_BPE_ROUNDS = 3
def _bpe_ctes(src: str = "documents") -> str:
    """The BPE induction+segmentation CTE chain over an arbitrary
    (text) source CTE/table — shared by the standalone entries
    (src = documents) and the composed v4 pipeline (src = the
    quality-filtered survivor set), the _winnow_fp_ctes convention."""
    return (
        f"""
    w0 AS (SELECT word, CAST(count(*) AS BIGINT) AS wc
           FROM (SELECT unnest(string_split(text, ' ')) AS word
                 FROM {src})
           WHERE word <> '' GROUP BY word),
    c0 AS (SELECT word, wc,
                  string_split(trim(regexp_replace(word, '(.)', '\\1 ', 'g')),
                               ' ') AS l
           FROM w0),
    s0 AS (SELECT word, wc, CAST(pos AS BIGINT) AS pos, l[pos::INT] AS sym
           FROM (SELECT word, wc, l, unnest(range(1, len(l) + 1)) AS pos
                 FROM c0)),"""
        + ",".join(_bpe_round_sql(r) for r in range(1, _BPE_ROUNDS + 1))
    )


_BPE_CTES = _bpe_ctes()


# ===========================================================================
# curation_pipeline_v4 (r10) — the round-10 stages composed end-to-end:
# the pinned-weight quality gate prunes the corpus, the SURVIVOR set
# drives temperature mixture reweighting (p^0.3/Z per language) AND the
# learned-BPE fertility report — one per-language curation dashboard
# row. The survivor set is scope-persisted ONCE for its three consumers
# (the v3 discipline); langs with zero survivors drop out (inner joins,
# the honest semantics — there is nothing to weight or tokenize).
# ===========================================================================

_QUALITY_KEPT_CTES = f"""
    qc AS (
      SELECT doc_id, lang, text, n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
             {_sql_count_in(('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it', 'for', 'on'))} AS n_stop,
             CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct
      FROM documents
    ),
    qf AS (
      SELECT doc_id, lang, text,
             ({QUALITY_W0_E6}
              + {QUALITY_W_STOP_E3} * (CASE WHEN n > 0 THEN CAST(floor(1.0 * n_stop / n * 1000000 + 0.5) AS BIGINT) ELSE 0 END) // 1000
              + {QUALITY_W_PUNCT_E3} * (CASE WHEN n_chars > 0 THEN CAST(floor(1.0 * n_punct / n_chars * 1000000 + 0.5) AS BIGINT) ELSE 0 END) // 1000
              + {QUALITY_W_LEN_E3} * CAST(least(n, 100) * 10000 AS BIGINT) // 1000
              + {QUALITY_W_AWL_E3} * (CASE WHEN n > 0 THEN CAST(floor(1.0 * (n_chars - (n - 1)) / n * 1000000 + 0.5) AS BIGINT) ELSE 0 END) // 1000
             ) AS logit_e6
      FROM qc
    ),
    qkept AS (SELECT doc_id, lang, text FROM qf WHERE logit_e6 >= 0)
"""


@_register(
    "curation_pipeline_v4",
    f"""
    WITH {_QUALITY_KEPT_CTES},
    cin AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs_in
            FROM documents GROUP BY lang),
    ck AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs_kept
           FROM qkept GROUP BY lang),
    ct AS (SELECT CAST(sum(n_docs_kept) AS BIGINT) AS n_total FROM ck),
    ms AS (SELECT lang, n_docs_kept,
                  1.0 * n_docs_kept / n_total AS p,
                  pow(1.0 * n_docs_kept / n_total, 0.3) AS pa
           FROM ck CROSS JOIN ct),
    mz AS (SELECT sum(pa) AS zz FROM ms),
    {_bpe_ctes("qkept")},
    enc AS (SELECT word, CAST(count(*) AS BIGINT) AS n_toks
            FROM s{_BPE_ROUNDS} GROUP BY word),
    gw AS (SELECT lang, word
           FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
                 FROM qkept)
           WHERE word <> ''),
    agg AS (SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(n_toks) AS BIGINT) AS n_bpe_tokens
            FROM gw JOIN enc USING (word)
            GROUP BY lang)
    SELECT cin.lang, cin.n_docs_in, ck.n_docs_kept,
           CAST(1000000 * ck.n_docs_kept // cin.n_docs_in AS BIGINT)
             AS kept_rate_e6,
           {_sql_r('ms.pa / mz.zz', 6)} AS q,
           {_sql_r('(ms.pa / mz.zz) / ms.p', 6)} AS per_doc_weight,
           agg.n_bpe_tokens,
           CAST(1000000 * agg.n_bpe_tokens // agg.n_words AS BIGINT)
             AS fertility_e6
    FROM cin JOIN ck USING (lang) JOIN ms USING (lang) JOIN agg USING (lang)
    CROSS JOIN mz
    """,
    "curation: composed pipeline v4 — quality gate -> temperature "
    "mixture -> learned-BPE fertility, per language (no reference "
    "counterpart)",
    "the r10 stages end-to-end over one scope-persisted survivor set: "
    "per-lang kept rate, p^0.3/Z target share and per-doc weight, and "
    "tokenizer fertility on the survivors' learned segmentation",
)
def curation_pipeline_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.sampling import (
        temperature_mixture_weights,
    )
    from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import (
        bpe_fertility_stats,
        quality_linear_filter,
    )

    docs = _t(spark, sf_dir, "documents")
    kept = persist_scoped(
        "curation_v4_kept",
        quality_linear_filter(docs)
        .filter(F.col("kept"))
        .select("doc_id", "lang", "text", "n_chars"),
    )
    cin = docs.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs_in")
    )
    w = temperature_mixture_weights(kept, "lang").select(
        "lang", F.col("n_docs").alias("n_docs_kept"), "q", "per_doc_weight"
    )
    fert = bpe_fertility_stats(kept, rounds=_BPE_ROUNDS).select(
        "lang", "n_bpe_tokens", "fertility_e6"
    )
    return (
        cin.join(w, "lang")
        .join(fert, "lang")
        .select(
            "lang",
            "n_docs_in",
            "n_docs_kept",
            F.expr("1000000 * n_docs_kept div n_docs_in")
            .cast("bigint")
            .alias("kept_rate_e6"),
            "q",
            "per_doc_weight",
            "n_bpe_tokens",
            "fertility_e6",
        )
    )


@_register(
    "text_bpe_merges",
    f"""
    WITH {_BPE_CTES}
    SELECT * FROM (
      {" UNION ALL ".join(
          f"SELECT CAST({r} AS INT) AS round, bs AS left_sym, bn AS right_sym, "
          f"bcount AS pair_count FROM b{r}"
          for r in range(1, _BPE_ROUNDS + 1)
      )}
    )
    """,
    "textops: BPE merge induction (first 3 tokenizer merge rules, "
    "Sennrich et al. ACL 2016; no reference counterpart)",
    "frequency-weighted pair counting + exact greedy merge per round "
    "over the word-frequency vocabulary — sequential merge semantics "
    "via islands-and-parity windows",
)
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import (
        bpe_merge_rounds,
    )

    return bpe_merge_rounds(
        _t(spark, sf_dir, "documents"), rounds=_BPE_ROUNDS
    )


@_register(
    "text_bpe_encode",
    f"""
    WITH {_BPE_CTES},
    enc AS (SELECT word,
                   CAST(count(*) AS BIGINT) AS n_toks,
                   CAST(sum(CASE WHEN length(sym) = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_single
            FROM s{_BPE_ROUNDS} GROUP BY word),
    dw AS (SELECT doc_id, word
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                 FROM documents)
           WHERE word <> '')
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(n_toks) AS BIGINT) AS n_bpe_tokens,
           CAST(sum(n_single) AS BIGINT) AS n_char_tokens
    FROM dw JOIN enc USING (word)
    GROUP BY doc_id
    """,
    "textops: BPE apply/encode — segment the corpus with the learned "
    "merge list, per-doc token accounting (Sennrich et al. ACL 2016; "
    "no reference counterpart)",
    "rank-order greedy merge application over the DISTINCT-word "
    "vocabulary (the segmentation falls out of the induction pass); "
    "corpus rows join word-granular stats on the word equi-key — "
    "n_char_tokens counts unmerged single-char fallback tokens",
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import (
        bpe_encode_stats,
    )

    return bpe_encode_stats(
        _t(spark, sf_dir, "documents"), rounds=_BPE_ROUNDS
    )


@_register(
    "text_bpe_encode_ranked",
    None,  # replaced below — shares text_bpe_encode's oracle (same output)
    "textops: BPE apply via the ranked Arrow kernel (production path "
    "for tens-of-thousands-rank vocabularies; Sennrich et al. ACL 2016; "
    "no reference counterpart)",
    "the priority-queue encoder vectorized per Arrow batch over the "
    "DISTINCT-word vocabulary (operators/textstats.py:bpe_apply_ranks) "
    "— kernel/relational parity is property-tested, and this entry "
    "proves it END-TO-END by hash-matching text_bpe_encode's oracle",
)
def text_bpe_encode_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same per-doc token accounting as ``text_bpe_encode`` but the
    segmentation comes from :func:`bpe_apply_ranks` — ONE Arrow batch
    kernel over the distinct-word table — instead of the R sequential
    relational merge passes. The learned merge list crosses the driver
    as R rows (vocabulary-granular, never corpus rows): at production
    scale that list is the tokenizer artifact itself (tens of KB), so
    the crossing is the shape a real pipeline has anyway."""
    from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import (
        bpe_apply_ranks,
        bpe_merge_rounds,
    )

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_merge_rounds(docs, rounds=_BPE_ROUNDS)
    ranked = [
        (r.left_sym, r.right_sym)
        for r in merges.orderBy("round").collect()
    ]
    words = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .distinct()
    )
    seg = bpe_apply_ranks(words, ranked)
    word_stats = seg.groupBy("word").agg(
        F.count("*").cast("bigint").alias("__n_toks"),
        F.sum((F.length("sym") == 1).cast("int"))
        .cast("bigint")
        .alias("__n_single"),
    )
    doc_words = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    return (
        doc_words.join(word_stats, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("__n_toks").cast("bigint").alias("n_bpe_tokens"),
            F.sum("__n_single").cast("bigint").alias("n_char_tokens"),
        )
    )


QUERIES["text_bpe_encode_ranked"] = dataclasses.replace(
    QUERIES["text_bpe_encode_ranked"],
    oracle=QUERIES["text_bpe_encode"].oracle,
)


@_register(
    "text_bpe_fertility",
    f"""
    WITH {_BPE_CTES},
    enc AS (SELECT word,
                   CAST(count(*) AS BIGINT) AS n_toks,
                   CAST(sum(CASE WHEN length(sym) = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_single
            FROM s{_BPE_ROUNDS} GROUP BY word),
    gw AS (SELECT lang, word
           FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
                 FROM documents)
           WHERE word <> ''),
    agg AS (SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(n_toks) AS BIGINT) AS n_bpe_tokens,
                   CAST(sum(n_single) AS BIGINT) AS n_char_tokens
            FROM gw JOIN enc USING (word)
            GROUP BY lang)
    SELECT lang, n_words, n_bpe_tokens, n_char_tokens,
           CAST(1000000 * n_bpe_tokens // n_words AS BIGINT) AS fertility_e6,
           CAST(1000000 * n_char_tokens // n_bpe_tokens AS BIGINT)
             AS fallback_e6
    FROM agg
    """,
    "textops: tokenizer fertility per language (tokens/word + "
    "single-char fallback share; no reference counterpart)",
    "the multilingual tokenizer health report off the same learned "
    "segmentation as text_bpe_encode, aggregated per language — exact "
    "integer micro-unit ratios",
)
def text_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import (
        bpe_fertility_stats,
    )

    return bpe_fertility_stats(
        _t(spark, sf_dir, "documents"), rounds=_BPE_ROUNDS
    )


# ===========================================================================
# BPE-counted sequence packing (r10, VERDICT r9 task 3's composition) —
# pack_sequence_spans consuming REAL tokenizer counts: the packing
# stream positions come from bpe_encode_stats' n_bpe_tokens instead of
# the whitespace estimate, through the same distributed two-phase
# prefix sum. Docs the tokenizer never saw (no non-empty words) carry
# no tokens and are absent, exactly as a real packing run would skip
# them.
# ===========================================================================


@_register(
    "pack_bpe_sequence_spans",
    f"""
    WITH {_BPE_CTES},
    enc AS (SELECT word, CAST(count(*) AS BIGINT) AS n_toks
            FROM s{_BPE_ROUNDS} GROUP BY word),
    dw AS (SELECT doc_id, word
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                 FROM documents)
           WHERE word <> ''),
    dt AS (SELECT doc_id, CAST(sum(n_toks) AS BIGINT) AS n_tokens
           FROM dw JOIN enc USING (word) GROUP BY doc_id),
    c AS (SELECT doc_id, n_tokens,
                 sum(n_tokens) OVER (ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) AS cum
          FROM dt)
    SELECT doc_id, n_tokens,
           CAST(cum - n_tokens AS BIGINT) AS tok_start,
           CAST((cum - n_tokens) // 256 AS BIGINT) AS first_seq,
           CAST((cum - 1) // 256 AS BIGINT) AS last_seq,
           CAST((cum - 1) // 256 - (cum - n_tokens) // 256 + 1 AS BIGINT)
             AS n_seqs
    FROM c
    """,
    "textops: sequence packing over REAL BPE token counts (tokenizer "
    "loop composed end-to-end; no reference counterpart)",
    "bpe_encode_stats' n_bpe_tokens drive the distributed two-phase "
    "prefix-sum packing — concat-and-cut at 256 tokens on the learned "
    "tokenization, not the whitespace estimate",
)
def pack_bpe_sequence_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.chunking import (
        pack_counted_spans,
    )
    from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import (
        bpe_encode_stats,
    )

    counts = bpe_encode_stats(
        _t(spark, sf_dir, "documents"), rounds=_BPE_ROUNDS
    ).select("doc_id", F.col("n_bpe_tokens"))
    return pack_counted_spans(counts, seq_len=256, n_col="n_bpe_tokens")


# ===========================================================================
# LSH recall audit (r10) — the dedup-family counterpart of
# embed_ann_recall_audit: per Jaccard decile, the fraction of TRUE
# near-dup pairs (exact hot-capped shingle Jaccard) the 128/16 banded
# MinHash index surfaces — the banding's promised S-curve (per-band
# collision j^8, threshold ~0.70), measured. Buckets are exact integer
# arithmetic (10·n_common div denom), never floor(10·j) on a double
# (operators/dedup.py:lsh_recall_audit).
# ===========================================================================


@_register(
    "dedup_lsh_recall_audit",
    f"""
    WITH sh0 AS (
      SELECT doc_id,
             list_distinct(list_transform({_SHINGLE3_RAW_SQL},
                                          s -> {_h60_sql('s')})) AS shs
      FROM documents
    ),
    shx AS (
      SELECT doc_id, unnest(shs) AS sh FROM sh0
    ),
    ok AS (SELECT sh FROM shx GROUP BY sh HAVING count(*) <= 100),
    shf AS (SELECT s.doc_id,
                   CAST(count(*) OVER (PARTITION BY s.doc_id) AS BIGINT)
                     AS n_sh,
                   s.sh
            FROM shx s JOIN ok USING (sh)),
    scored AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS nc,
             a.n_sh AS na, b.n_sh AS nb
      FROM shf a JOIN shf b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
    ),
    truth AS (
      SELECT id_a, id_b,
             CAST((10 * nc) // (na + nb - nc) AS INT) AS j_bucket
      FROM scored WHERE 10 * nc >= 3 * (na + nb - nc)
    ),
    {_minhash_sig_sql()},
    bands AS ({_MH_BANDS_SQL}),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
                                      AND a.doc_id < b.doc_id)
    SELECT t.j_bucket,
           CAST(count(*) AS BIGINT) AS n_true,
           CAST(count(c.id_a) AS BIGINT) AS n_hit,
           CAST(1000000 * count(c.id_a) // count(*) AS BIGINT) AS recall_e6
    FROM truth t LEFT JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b
    GROUP BY t.j_bucket
    """,
    "dedup: MinHash-LSH recall audit vs exact Jaccard ground truth "
    "(S-curve measurement; no reference counterpart)",
    "per-Jaccard-decile recall of the 128/16 banded candidate index "
    "against the exact hot-capped shingle Jaccard — integer buckets "
    "(10·n_common div denom), <= 8 output rows. BENCH ADJUDICATION "
    "(r12, both-orderings on a calm session — the r10->r11 1.81x flag): "
    "2.976/2.983 s min-steady in BOTH positions at sf0.1 on a plan and "
    "operator byte-identical since arrival; individual runs spread "
    "2.98-6.74 s within ONE calm session (it composes the two "
    "host-sensitive dedup heavies), so r10's 1.607 s was the lucky-min "
    "outlier, not the level. Honest level ~3.0 s; re-adjudicate only "
    "past a 3.9 s min-steady (1.3x the adjudicated level)",
)
def dedup_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import lsh_recall_audit

    return lsh_recall_audit(_t(spark, sf_dir, "documents"), max_df=100)


# ===========================================================================
# MMR diversity re-ranking (r10) — Carbonell & Goldstein SIGIR 1998:
# greedy λ·relevance − (1−λ)·max-sim-to-selected selection over each
# query's top-n_cand cosine candidates, the diversity-aware final stage
# of the retrieval stack (operators/retrieval.py:mmr_rerank_topk). The
# objective is scored ×lam_den in exact integer micro-units (score_e7 =
# 7·rel_e6 − 3·maxsim_e6 — no division, no truncation-direction
# mismatch on negative cosines), and the oracle unrolls the k greedy
# rounds as CTEs (the _bpe_round_sql discipline).
# ===========================================================================

_MMR_N_QUERY = 3
_MMR_N_CAND = 10
_MMR_K = 5
_MMR_AB_COS = (
    f"list_sum(list_transform(range(1, {_EMB_DIM + 1}), "
    "i -> a.v[i::INT] * b.v[i::INT])) / (a.nrm * b.nrm)"
)


def _mmr_round_sql(r: int) -> str:
    return f"""
    ms{r} AS (SELECT c.q_id, c.cand_id, c.rel_e6, max(s.sim_e6) AS mx
              FROM cand c
              JOIN sims s ON s.q_id = c.q_id AND s.ca = c.cand_id
              JOIN sel{r - 1} z ON z.q_id = s.q_id AND z.cand_id = s.cb
              LEFT JOIN sel{r - 1} x ON x.q_id = c.q_id
                                    AND x.cand_id = c.cand_id
              WHERE x.cand_id IS NULL
              GROUP BY c.q_id, c.cand_id, c.rel_e6),
    r{r} AS (SELECT q_id, CAST({r} AS INT) AS mmr_rank, cand_id,
                    CAST(score AS BIGINT) AS score_e7 FROM (
              SELECT q_id, cand_id, 7 * rel_e6 - 3 * mx AS score,
                     row_number() OVER (PARTITION BY q_id
                                        ORDER BY 7 * rel_e6 - 3 * mx DESC,
                                                 cand_id) AS rn
              FROM ms{r}) WHERE rn = 1),
    sel{r} AS (SELECT * FROM sel{r - 1}
               UNION ALL SELECT q_id, cand_id FROM r{r})"""


@_register(
    "embed_mmr_rerank",
    f"""
    WITH {_emb_norm_cte()},
    sc AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
                  CAST(floor(({_COS_SQL}) * 1000000 + 0.5) AS BIGINT)
                    AS rel_e6
           FROM (SELECT * FROM nv WHERE vec_id < {_MMR_N_QUERY}) q
           CROSS JOIN nv c
           WHERE c.vec_id <> q.vec_id),
    cand AS (SELECT q_id, cand_id, rel_e6 FROM (
              SELECT *, row_number() OVER (PARTITION BY q_id
                                           ORDER BY rel_e6 DESC, cand_id)
                          AS rn
              FROM sc) WHERE rn <= {_MMR_N_CAND}),
    cv AS (SELECT c.q_id, c.cand_id, nv.v, nv.nrm
           FROM cand c JOIN nv ON nv.vec_id = c.cand_id),
    sims AS (SELECT a.q_id, a.cand_id AS ca, b.cand_id AS cb,
                    CAST(floor(({_MMR_AB_COS}) * 1000000 + 0.5) AS BIGINT)
                      AS sim_e6
             FROM cv a JOIN cv b ON a.q_id = b.q_id
                               AND a.cand_id <> b.cand_id),
    r1 AS (SELECT q_id, CAST(1 AS INT) AS mmr_rank, cand_id,
                  CAST(7 * rel_e6 AS BIGINT) AS score_e7 FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id
                                         ORDER BY rel_e6 DESC, cand_id)
                        AS rn
            FROM cand) WHERE rn = 1),
    sel1 AS (SELECT q_id, cand_id FROM r1),
    {",".join(_mmr_round_sql(r) for r in range(2, _MMR_K + 1))}
    SELECT q_id, mmr_rank, cand_id, score_e7 FROM (
      {" UNION ALL ".join(f"SELECT * FROM r{r}" for r in range(1, _MMR_K + 1))}
    )
    """,
    "retrieval: MMR diversity re-ranking (Carbonell & Goldstein SIGIR "
    "1998; no reference counterpart)",
    "greedy 7·rel_e6 − 3·maxsim_e6 selection of 5 from each query's "
    "top-10 cosine candidates — exact integer objective, unrolled "
    "greedy rounds, cand-id tiebreak",
)
def embed_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.retrieval import (
        mmr_rerank_topk,
    )

    return mmr_rerank_topk(
        _t(spark, sf_dir, "embeddings"),
        F.col("vec_id") < _MMR_N_QUERY,
        n_cand=_MMR_N_CAND,
        k=_MMR_K,
    )


# ===========================================================================
# Distinct-n diversity (r10) — Li et al. NAACL 2016's corpus diversity
# ratio per language slice: distinct n-grams over total n-grams,
# n = 1..2, exact integer micro-units. The cheap corpus-level signal
# that routes a templated/near-dup-heavy source slice into the pairwise
# dedup families (operators/textstats.py:distinct_ngram_stats).
# ===========================================================================


@_register(
    "text_distinct_ngrams",
    """
    WITH t0 AS (SELECT lang, doc_id, string_split(text, ' ') AS l
                FROM documents),
    tk AS (SELECT lang, doc_id, CAST(pos AS BIGINT) AS pos,
                  l[pos::INT] AS t1
           FROM (SELECT lang, doc_id, l,
                        unnest(range(1, len(l) + 1)) AS pos
                 FROM t0)
           WHERE l[pos::INT] <> ''),
    bg AS (SELECT lang, doc_id, pos, t1,
                  lead(t1) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
           FROM tk),
    s1 AS (SELECT lang, CAST(1 AS INT) AS n,
                  CAST(count(*) AS BIGINT) AS total_ngrams,
                  CAST(count(DISTINCT t1) AS BIGINT) AS distinct_ngrams
           FROM tk GROUP BY lang),
    s2 AS (SELECT lang, CAST(2 AS INT) AS n,
                  CAST(count(*) AS BIGINT) AS total_ngrams,
                  CAST(count(DISTINCT concat(t1, ' ', t2)) AS BIGINT)
                    AS distinct_ngrams
           FROM bg WHERE t2 IS NOT NULL GROUP BY lang)
    SELECT lang, n, total_ngrams, distinct_ngrams,
           CAST(1000000 * distinct_ngrams // total_ngrams AS BIGINT)
             AS distinct_ratio_e6
    FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
    """,
    "textops: distinct-n corpus diversity per language (Li et al. "
    "NAACL 2016; no reference counterpart)",
    "distinct/total n-gram ratios (n=1,2) in exact integer micro-units "
    "— one doc-granular lead-window pass builds every n",
)
def text_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.textstats import (
        distinct_ngram_stats,
    )
    from sports_data_integration_and_forecasting_pipeline_spark.operators.parallelism import (
        ensure_parallelism,
    )

    return distinct_ngram_stats(
        ensure_parallelism(_t(spark, sf_dir, "documents"), "doc_id")
    )


# ===========================================================================
# Temperature mixture reweighting (r10) — the multilingual sampling rule
# (p^0.3 renormalized; mBERT/mT5 exponential smoothing): up-samples tail
# domains, down-samples the head, one count aggregate + two 1-row
# broadcasts (operators/sampling.py:temperature_mixture_weights).
# ===========================================================================


@_register(
    "mixture_temperature_weights",
    f"""
    WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY lang),
    t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM c),
    s AS (SELECT lang, n_docs,
                 1.0 * n_docs / n_total AS p,
                 pow(1.0 * n_docs / n_total, 0.3) AS pa
          FROM c CROSS JOIN t),
    z AS (SELECT sum(pa) AS z FROM s)
    SELECT lang, n_docs,
           {_sql_r('p', 6)} AS p,
           {_sql_r('pa / z', 6)} AS q,
           {_sql_r('(pa / z) / p', 6)} AS per_doc_weight
    FROM s CROSS JOIN z
    """,
    "curation: temperature mixture reweighting (p^alpha renormalized, "
    "alpha=0.3 — mBERT/mT5 smoothing; no reference counterpart)",
    "per-language target share q = p^0.3/Z and per-doc sampling weight "
    "q/p, 6dp-floor — one count agg, domain-granular after the scan",
)
def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.sampling import (
        temperature_mixture_weights,
    )

    return temperature_mixture_weights(
        _t(spark, sf_dir, "documents"), "lang", alpha=0.3
    )


@_register(
    "markov_steady_state_power",
    f"""
    WITH seq AS (
      SELECT event_type AS f,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS t
      FROM events),
    c AS (SELECT f, t, CAST(count(*) AS BIGINT) AS n
          FROM seq WHERE t IS NOT NULL GROUP BY f, t),
    nf AS (SELECT f, CAST(sum(n) AS BIGINT) AS nt FROM c GROUP BY f),
    tm AS (SELECT c.f, c.t,
                  CAST((1000000000 * c.n) // nf.nt AS BIGINT) AS p_e9
           FROM c JOIN nf USING (f)),
    states AS (SELECT f AS s FROM tm UNION SELECT t FROM tm),
    sinks AS (SELECT s FROM states EXCEPT SELECT DISTINCT f FROM tm),
    tf AS (SELECT f, t, p_e9 FROM tm
           UNION ALL
           SELECT s, s, CAST(1000000000 AS BIGINT) FROM sinks),
    ns AS (SELECT CAST(count(*) AS BIGINT) AS k FROM states),
    v0 AS (SELECT s, CAST(1000000000 // k AS BIGINT) AS v
           FROM states CROSS JOIN ns),
    {_mk_iter_sql('v0', 'v1')},
    {_mk_iter_sql('v1', 'v2')},
    {_mk_iter_sql('v2', 'v3')}
    SELECT s AS state, v AS mass_e9
    FROM v3
    """,
    "analytics: Markov steady-state power iteration over the event "
    "chain (exact e9 integer vector-matrix multiplies, 3 unrolled "
    "rounds)",
    "per event type: the e9-scaled occupancy mass after three power "
    "iterations from the uniform vector (floor-loss drift visible)",
)
def markov_steady_state_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    seq = ev.select(
        F.col("event_type").alias("f"),
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("t"),
    )
    c = (
        seq.filter(F.col("t").isNotNull())
        .groupBy("f", "t")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    nf = c.groupBy("f").agg(F.sum("n").cast("bigint").alias("nt"))
    tm = c.join(nf, "f").select(
        "f",
        "t",
        F.expr("(1000000000 * n) DIV nt").cast("bigint").alias("p_e9"),
    )
    # r7 perf: persist the ≤|types|² transition matrix — states, the
    # sink self-loops, v0, and all THREE unrolled multiplies re-read the
    # cached ~25-row relation instead of re-running the events scan +
    # lead-window + counting aggregates per reference (the scoped-cache
    # house pattern). At 100 TB you would materialize the transition
    # counts exactly once the same way.
    tm = persist_scoped("markov_tm", tm)
    # state universe = sources ∪ targets; target-only states are sinks
    # and get an e9 self-loop so routed-in mass is retained, not dropped
    states = (
        tm.select(F.col("f").alias("s"))
        .union(tm.select(F.col("t").alias("s")))
        .distinct()
    )
    sinks = states.join(
        tm.select(F.col("f").alias("s")).distinct(), "s", "left_anti"
    )
    tf = tm.unionByName(
        sinks.select(
            F.col("s").alias("f"),
            F.col("s").alias("t"),
            F.lit(1_000_000_000).cast("bigint").alias("p_e9"),
        )
    )
    ns = states.agg(F.count("*").cast("bigint").alias("k"))
    v = states.crossJoin(F.broadcast(ns)).select(
        "s", F.expr("1000000000 DIV k").cast("bigint").alias("v")
    )
    for i in range(3):
        # fresh aliases per round: v's lineage contains tf (the state
        # set derives from it), so an unqualified re-join is ambiguous
        vi = v.alias(f"v{i}")
        tmi = tf.alias(f"tm{i}")
        v = (
            vi.join(tmi, F.col(f"v{i}.s") == F.col(f"tm{i}.f"))
            .groupBy(F.col(f"tm{i}.t").alias("s"))
            .agg(
                F.sum(
                    F.expr(f"(v{i}.v * tm{i}.p_e9) DIV 1000000000")
                )
                .cast("bigint")
                .alias("v")
            )
        )
    return v.select(F.col("s").alias("state"), F.col("v").alias("mass_e9"))


# ===========================================================================
# Dedup cluster-size histogram — the dedup OBSERVABILITY readout every
# curation run publishes: how many near-dup clusters of each size does
# the corpus hold, and what fraction of documents is removable
# (size − 1 per cluster)? Derived from the same SimHash connected
# components as dedup_cluster_assign (identical recursive-CTE oracle
# core), then two tiny aggregates: cluster → size, size → cluster
# count. At 100 TB the histogram is the cheap audit over the already-
# computed component table — the thing you alert on when a boilerplate
# flood suddenly produces a 10⁶-doc cluster.
# ===========================================================================

@_register(
    "dedup_cluster_size_histogram",
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
    assign AS (
      SELECT n AS doc_id, CAST(min(label) AS BIGINT) AS cluster_id
      FROM comp GROUP BY n),
    sizes AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS size
      FROM assign GROUP BY cluster_id)
    SELECT size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(count(*) * size AS BIGINT) AS n_docs,
           CAST(count(*) * (size - 1) AS BIGINT) AS n_removable
    FROM sizes GROUP BY size
    """,
    "dedup observability: near-dup cluster-size histogram with "
    "removable-document counts (audit over the component table)",
    "per cluster size: cluster count, documents covered, and documents "
    "removable by keep-one-per-cluster dedup",
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        connected_components,
        simhash_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    edges = simhash_pairs(docs, max_hamming=3).select("id_a", "id_b")
    assign = connected_components(edges, docs, node_col="doc_id")
    sizes = assign.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("size")
    )
    return sizes.groupBy("size").agg(
        F.count("*").cast("bigint").alias("n_clusters"),
        (F.count("*") * F.col("size")).cast("bigint").alias("n_docs"),
        (F.count("*") * (F.col("size") - 1))
        .cast("bigint")
        .alias("n_removable"),
    )


# ===========================================================================
# Lorenz curve — the distributional companion to
# gini_order_concentration: the 10-point curve of cumulative revenue
# share by order-value decile ("the bottom 30% of orders carry X% of
# revenue"). Deciles come from the same pinned (cents, orderkey) total
# order as the Gini entry; decile sums are exact bigints, the
# cumulative share a 10-row window. r7: like the Gini entry, the rank
# is the DISTRIBUTED two-phase global_row_number (no one-task sort of
# the fact table), and the decile is derived from the rank with the
# exact SQL NTILE distribution — n = 10·base + rem rows put base+1 rows
# in each of the first rem buckets and base in the rest, so
# decile(i) = (i−1) DIV (base+1) + 1            for i ≤ rem·(base+1)
#           = rem + (i − rem·(base+1) − 1) DIV base + 1   otherwise
# — pure integer arithmetic, identical to both engines' NTILE on the
# same total order (hash-verified; oracle keeps native ntile).
# ===========================================================================

@_register(
    "lorenz_curve_orders",
    f"""
    WITH x AS (
      SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
             ntile(10) OVER (ORDER BY floor(o_totalprice * 100.0 + 0.5),
                             o_orderkey) AS decile
      FROM orders),
    d AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(cents) AS BIGINT) AS cents
      FROM x GROUP BY decile),
    t AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM d)
    SELECT decile, n_orders, cents,
           CAST(sum(cents) OVER (ORDER BY decile
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_cents,
           {_sql_r(
               '1.0 * sum(cents) OVER (ORDER BY decile'
               ' ROWS UNBOUNDED PRECEDING) / total', 9)} AS cum_share
    FROM d CROSS JOIN t
    """,
    "analytics: Lorenz curve of order values (cumulative revenue share "
    "by decile; one global sort, exact bigint sums)",
    "10 rows: per order-value decile the order count, decile cents, "
    "cumulative cents, and 9dp cumulative revenue share",
)
def lorenz_curve_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.parallelism import (
        global_ntile,
    )

    o = _t(spark, sf_dir, "orders")
    x = global_ntile(
        o.select(_cents(F.col("o_totalprice")).alias("cents"), "o_orderkey"),
        ["cents", "o_orderkey"],
        k=10,
        out_col="decile",
        cache_role="lorenz_rank",
    ).select("cents", "decile")
    d = x.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("cents"),
    )
    t = d.agg(F.sum("cents").cast("bigint").alias("total"))
    # unpartitioned cumulative window runs over exactly 10 decile rows
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return d.crossJoin(F.broadcast(t)).select(
        "decile",
        "n_orders",
        "cents",
        F.sum("cents").over(wc).cast("bigint").alias("cum_cents"),
        _r(
            F.lit(1.0) * F.sum("cents").over(wc) / F.col("total"), 9
        ).alias("cum_share"),
    )


# ===========================================================================
# Ship-latency distribution — the operational-SLA readout: per order
# priority, the exact p50/p90 order statistics and mean of
# order-to-ship latency in days (l_shipdate − o_orderdate per
# lineitem). Percentiles are rank-indexed order statistics in the
# pinned (days, orderkey, linenumber) total order — the
# winsorized_event_stats discipline, no interpolation — so both
# engines select identical elements. One fact join (orders dim side
# pre-projected), one per-priority sort window, exact integer days.
# ===========================================================================

@_register(
    "ship_latency_by_priority",
    f"""
    WITH j AS (
      SELECT o.o_orderpriority AS pri,
             CAST(epoch_us(l.l_shipdate) // 1000000 // 86400
                  - epoch_us(o.o_orderdate) // 1000000 // 86400
                  AS BIGINT) AS days,
             l.l_orderkey, l.l_linenumber
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    r AS (
      SELECT pri, days,
             row_number() OVER (PARTITION BY pri
                                ORDER BY days, l_orderkey, l_linenumber)
               AS rn,
             count(*) OVER (PARTITION BY pri) AS n
      FROM j)
    SELECT pri,
           CAST(max(n) AS BIGINT) AS n_lines,
           CAST(min(CASE WHEN rn = CAST(floor(0.50 * n) AS BIGINT) + 1
                         THEN days END) AS BIGINT) AS p50_days,
           CAST(min(CASE WHEN rn = CAST(floor(0.90 * n) AS BIGINT) + 1
                         THEN days END) AS BIGINT) AS p90_days,
           {_sql_r('1.0 * sum(days) / count(*)', 4)} AS mean_days
    FROM r GROUP BY pri
    """,
    "warehouse: order-to-ship latency distribution by priority (exact "
    "rank-indexed p50/p90, integer day math)",
    "per order priority: lineitem count, exact p50/p90 order-to-ship "
    "latency in days, and the 4dp mean",
)
def ship_latency_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r7 plan rewrite: the rank-indexed exact percentile does NOT need
    # the row-level per-priority sort the oracle's row form implies —
    # with only |priorities| window partitions that sort serialized
    # ~600k rows onto 5 tasks at sf0.1 (and onto 5 tasks of a 1000-
    # executor cluster at 100 TB). `days` is a small DISCRETE domain,
    # and the value at any rank depends only on `days` (rows tied on
    # days share the value; the (orderkey, linenumber) tiebreak orders
    # rows WITHIN a value, never across values), so the identical
    # result comes from a (pri, days) HISTOGRAM: one map-side-combined
    # aggregate over the join, then the cumulative rank walk runs over
    # ≤ |pri|·|days| ≈ 600 rows. Exact, engine-identical, and the scan
    # parallelism is no longer capped by the group count. The oracle
    # keeps the row form — same values by construction.
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", _fdiv(_epoch_s("l_shipdate"), 86400).alias("sd")
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        _fdiv(_epoch_s("o_orderdate"), 86400).alias("od"),
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_orderpriority").alias("pri"),
        (F.col("sd") - F.col("od")).cast("bigint").alias("days"),
    )
    h = j.groupBy("pri", "days").agg(F.count("*").cast("bigint").alias("c"))
    wcum = (
        Window.partitionBy("pri")
        .orderBy("days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("pri")
    r = h.select(
        "pri",
        "days",
        "c",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wn).alias("n"),
    )
    p50 = F.floor(0.50 * F.col("n")).cast("bigint") + 1
    p90 = F.floor(0.90 * F.col("n")).cast("bigint") + 1
    return r.groupBy("pri").agg(
        F.max("n").cast("bigint").alias("n_lines"),
        F.min(F.when(F.col("cum") >= p50, F.col("days")))
        .cast("bigint")
        .alias("p50_days"),
        F.min(F.when(F.col("cum") >= p90, F.col("days")))
        .cast("bigint")
        .alias("p90_days"),
        _r(
            F.lit(1.0)
            * F.sum(F.col("days") * F.col("c"))
            / F.sum("c"),
            4,
        ).alias("mean_days"),
    )


# ===========================================================================
# Date-spine densification — the calendar-completeness primitive under
# every time-series report: generate the full day spine between the
# data's min and max day (derived, not hardcoded), left-join the daily
# aggregate, and zero-fill the gaps so downstream windows/charts see an
# explicit row for every day. Spine generation is sequence+explode over
# ONE scalar row (never a driver loop); the daily aggregate reduces the
# fact FIRST, so the left join is |days| × tiny. Zero-filled days carry
# is_gap=1 — the audit bit monitoring queries alert on.
# ===========================================================================

@_register(
    "date_spine_zero_fill",
    """
    WITH d AS (
      SELECT CAST(epoch_us(ts) // 1000000 // 86400 AS BIGINT) AS day,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM events GROUP BY 1),
    b AS (SELECT min(day) AS lo, max(day) AS hi FROM d),
    spine AS (SELECT unnest(range(lo, hi + 1)) AS day FROM b)
    SELECT s.day,
           CAST(coalesce(d.n_events, 0) AS BIGINT) AS n_events,
           CAST(coalesce(d.cents, 0) AS BIGINT) AS cents,
           CAST(CASE WHEN d.day IS NULL THEN 1 ELSE 0 END AS INT)
             AS is_gap
    FROM spine s LEFT JOIN d ON d.day = s.day
    """,
    "time series: calendar date-spine densification with zero-fill "
    "(derived bounds, sequence+explode spine, gap audit bit)",
    "one row per day between the data's min and max day: event count "
    "and cents (0 on missing days) plus the is_gap flag",
)
def date_spine_zero_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    d = (
        ev.select(
            _fdiv(_epoch_s("ts"), 86400).alias("day"),
            _cents(F.col("value")).alias("c"),
        )
        .groupBy("day")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("c").cast("bigint").alias("cents"),
        )
    )
    spine = (
        d.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(
            F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day")
        )
    )
    return spine.join(
        d.withColumnRenamed("day", "dday"),
        spine["day"] == F.col("dday"),
        "left",
    ).select(
        "day",
        F.coalesce(F.col("n_events"), F.lit(0)).cast("bigint").alias(
            "n_events"
        ),
        F.coalesce(F.col("cents"), F.lit(0)).cast("bigint").alias("cents"),
        F.when(F.col("dday").isNull(), 1).otherwise(0).cast("int").alias(
            "is_gap"
        ),
    )


# ===========================================================================
# Bucketed quantile normalization — the cross-group feature-alignment
# op (classic in bioinformatics, equally useful for aligning value
# distributions across event types before modeling): rank each group's
# values into 100 ntile buckets (pinned (cents, event_id) order), and
# map every bucket to the REFERENCE value — the mean of that bucket's
# members across ALL groups. After normalization every group has the
# same marginal distribution by construction. The bucketed form (vs
# per-rank interpolation) is what scales: the reference table is
# exactly 100 rows regardless of data size, and ntile is one sort
# window per group. Output is the per-(group, bucket) audit: raw mean
# vs the reference it maps to.
# ===========================================================================

@_register(
    "quantile_normalize_events",
    f"""
    WITH v AS (
      SELECT event_type,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c,
             ntile(100) OVER (PARTITION BY event_type
                              ORDER BY floor(value * 100.0 + 0.5),
                                       event_id) AS bucket
      FROM events),
    ref AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS ref_n,
             {_sql_r('1.0 * sum(c) / count(*)', 4)} AS ref_cents
      FROM v GROUP BY bucket)
    SELECT v.event_type, v.bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           {_sql_r('1.0 * sum(v.c) / count(*)', 4)} AS raw_mean_cents,
           r.ref_cents AS normalized_cents
    FROM v JOIN ref r USING (bucket)
    GROUP BY v.event_type, v.bucket, r.ref_cents
    """,
    "ml: bucketed quantile normalization across event types (100-ntile "
    "rank alignment to the cross-group reference distribution)",
    "per (event_type, percentile bucket): row count, raw mean cents, "
    "and the cross-group reference value the bucket normalizes to",
)
def quantile_normalize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("c", "event_id")
    v = ev.select(
        "event_type", _cents(F.col("value")).alias("c"), "event_id"
    ).select(
        "event_type", "c", F.ntile(100).over(w).alias("bucket")
    )
    ref = v.groupBy("bucket").agg(
        _r(F.lit(1.0) * F.sum("c") / F.count("*"), 4).alias("ref_cents")
    )
    return (
        v.join(F.broadcast(ref), "bucket")
        .groupBy("event_type", "bucket", "ref_cents")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            _r(F.lit(1.0) * F.sum("c") / F.count("*"), 4).alias(
                "raw_mean_cents"
            ),
        )
        .select(
            "event_type",
            "bucket",
            "n_rows",
            "raw_mean_cents",
            F.col("ref_cents").alias("normalized_cents"),
        )
    )


# ===========================================================================
# Winsorized robust stats — the outlier-clamped mean/spread feature
# prep runs before feeding heavy-tailed values to a model: per group,
# clamp values at the exact 5th/95th percentile ORDER STATISTICS
# (rank-indexed — floor(0.05·n)+1-th and floor(0.95·n)+1-th values in
# the pinned (cents, event_id) total order, no interpolation, so both
# engines pick identical elements), then aggregate exact clamped cents.
# Scale shape: one per-group sort window for ranks, the two clamp
# bounds re-join as a broadcast ≤|groups|-row dim, one
# map-side-combined aggregate. Everything integer until the final mean.
# ===========================================================================

@_register(
    "winsorized_event_stats",
    f"""
    WITH v AS (
      SELECT event_type,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY floor(value * 100.0 + 0.5),
                                         event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events),
    bounds AS (
      SELECT event_type,
             min(CASE WHEN rn = CAST(floor(0.05 * n) AS BIGINT) + 1
                      THEN c END) AS lo,
             min(CASE WHEN rn = CAST(floor(0.95 * n) AS BIGINT) + 1
                      THEN c END) AS hi
      FROM v GROUP BY event_type)
    SELECT v.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(b.lo AS BIGINT) AS p05_cents,
           CAST(b.hi AS BIGINT) AS p95_cents,
           CAST(sum(least(greatest(v.c, b.lo), b.hi)) AS BIGINT)
             AS winsorized_sum_cents,
           {_sql_r(
               '1.0 * sum(least(greatest(v.c, b.lo), b.hi)) / count(*)',
               4)} AS winsorized_mean_cents
    FROM v JOIN bounds b USING (event_type)
    GROUP BY v.event_type, b.lo, b.hi
    """,
    "analytics: 5/95 winsorized per-group stats (exact rank-indexed "
    "clamp bounds, integer-clamped aggregate)",
    "per event_type: count, exact 5th/95th percentile order statistics "
    "in cents, and the winsorized sum/mean",
)
def winsorized_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("c", "event_id")
    wn = Window.partitionBy("event_type")
    v = ev.select(
        "event_type", _cents(F.col("value")).alias("c"), "event_id"
    ).select(
        "event_type",
        "c",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    lo_rn = F.floor(0.05 * F.col("n")).cast("bigint") + 1
    hi_rn = F.floor(0.95 * F.col("n")).cast("bigint") + 1
    bounds = v.groupBy("event_type").agg(
        F.min(F.when(F.col("rn") == lo_rn, F.col("c"))).alias("lo"),
        F.min(F.when(F.col("rn") == hi_rn, F.col("c"))).alias("hi"),
    )
    clamped = F.least(F.greatest(F.col("c"), F.col("lo")), F.col("hi"))
    return (
        v.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type", "lo", "hi")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(clamped).cast("bigint").alias("winsorized_sum_cents"),
            _r(
                F.lit(1.0) * F.sum(clamped) / F.count("*"), 4
            ).alias("winsorized_mean_cents"),
        )
        .select(
            "event_type",
            "n_events",
            F.col("lo").cast("bigint").alias("p05_cents"),
            F.col("hi").cast("bigint").alias("p95_cents"),
            "winsorized_sum_cents",
            "winsorized_mean_cents",
        )
    )
