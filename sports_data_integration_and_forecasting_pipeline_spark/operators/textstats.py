"""Text analysis operators for large-scale corpus pipelines (SURVEY §7.3-7
north-star scope; no reference counterpart — the reference has no text ops).

All operators are pure Column arithmetic over built-in string/array
functions — no UDFs, fully codegen'd, shuffle-free projections — so they
scan 100 TB of documents at parquet-read speed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import h60
from .parallelism import ensure_parallelism
from .scoped import call_tag, persist_scoped

# Marker stopwords per language for the n-gram/marker-word language-ID
# heuristic. Deliberately tiny: language ID at corpus scale is a cheap
# first-pass filter, not a classifier.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "es": ("el", "los", "las", "una", "y", "que"),
    "fr": ("le", "les", "des", "et", "est", "une"),
    "zh": ("de", "shi", "bu", "zai", "le", "wo"),
}

EN_STOPWORDS: tuple[str, ...] = LANG_MARKERS["en"] + ("it", "for", "on")

PUNCT_CLASS = "[^.,;:!?]"


def _tokens(text: Column) -> Column:
    return F.split(text, " ")


def _count_in(tokens: Column, words: tuple[str, ...]) -> Column:
    """How many tokens are in a fixed word set — array filter + size,
    JVM-side."""
    return F.size(F.filter(tokens, lambda w: w.isin(*words))).cast("bigint")


def token_stats(
    df: DataFrame, text_col: str = "text", nchars_col: str = "n_chars"
) -> DataFrame:
    """Whitespace token count + a BPE-ish byte-per-token estimate
    (~4 chars/token, the usual BPE rule of thumb)."""
    toks = _tokens(F.col(text_col))
    n = F.size(toks).cast("bigint")
    return df.withColumns(
        {
            "n_ws_tokens": n,
            "est_bpe_tokens": F.ceil(F.col(nchars_col) / 4.0).cast("bigint"),
            "chars_per_token": F.col(nchars_col) / n,
        }
    )


def text_quality(
    df: DataFrame, text_col: str = "text", nchars_col: str = "n_chars"
) -> DataFrame:
    """Length/punctuation/stopword quality signals + a composite score in
    [0, 1] (0.5·stopword_ratio + 0.5·min(n_tokens,100)/100)."""
    toks = _tokens(F.col(text_col))
    n = F.size(toks).cast("bigint")
    nchars = F.col(nchars_col).cast("double")
    stop_ratio = _count_in(toks, EN_STOPWORDS) / n
    punct = F.length(
        F.regexp_replace(F.col(text_col), PUNCT_CLASS, "")
    ).cast("bigint")
    return df.withColumns(
        {
            "n_tokens": n,
            "avg_word_len": (nchars - (n - 1)) / n,
            "punct_ratio": punct / nchars,
            "stopword_ratio": stop_ratio,
            "quality_score": stop_ratio * 0.5
            + F.least(n, F.lit(100)) / 100.0 * 0.5,
        }
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language ID: count markers per language, argmax with a
    fixed priority order (en > de > es > fr > zh) on ties."""
    toks = _tokens(F.col(text_col))
    out = df
    for lang, markers in LANG_MARKERS.items():
        out = out.withColumn(f"c_{lang}", _count_in(toks, markers))
    langs = list(LANG_MARKERS)
    pred = None
    for i, lang in enumerate(langs[:-1]):
        rest = [F.col(f"c_{l}") for l in langs[i + 1 :]]
        cond = F.col(f"c_{lang}") >= F.greatest(*rest) if len(rest) > 1 else (
            F.col(f"c_{lang}") >= rest[0]
        )
        pred = (
            F.when(cond, F.lit(lang)) if pred is None else pred.when(cond, F.lit(lang))
        )
    predicted = pred.otherwise(F.lit(langs[-1]))
    return out.withColumn("predicted_lang", predicted)


def doc_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stable content fingerprint: md5 of the lowercased text. Pairs with
    :func:`...dedup.simhash16` for near-dup-tolerant fingerprints."""
    return df.withColumn("md5_fp", F.md5(F.lower(F.col(text_col))))


def unigram_perplexity(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document perplexity under the corpus's own unigram language
    model — the classic LM-based quality signal for training-data
    curation (low-perplexity ≈ typical text, high ≈ outlier/noise).

    Model: p(t) = count(t) / total_tokens over the whole corpus (no
    smoothing needed — every scored token is in the vocabulary by
    construction). Per doc: ppl = exp( −(1/n)·Σ ln p(tᵢ) ) over token
    INSTANCES.

    Determinism: the per-token −ln p is snapped to integer micro-nats
    (floor(x·10⁶ + 0.5), the engine-identical rounding primitive), so the
    per-doc sum is exact integer arithmetic — order-independent across
    partitions and engines — before the final exp.

    Int64 headroom (r13 verdict task 6): the accumulator is per-DOC —
    ``nll_micro ≤ n_doc·ceil(ln(total_corpus_tokens)·1e6)``, i.e. even
    a 1e15-token corpus (−ln p ≤ ~34.5 nats) needs a single document of
    ~2.7e11 tokens (≈1 TB of text in ONE doc) to cross 2^63. Documents
    have physical size limits far below that, so this is a documented
    bound, not a guard (contrast the per-GROUP sums in
    :func:`unigram_entropy_stats` / ``kl_term_drift``, which bind inside
    the 100 TB envelope and carry degrade guards). The same per-doc
    argument covers the bigram twin (``text_bigram_perplexity``).

    Scale shape: explode (narrow) → (doc, term) tf counts (one shuffle,
    map-side combine), PERSISTED via the scoped registry — `term_tot`,
    `total`, and the scoring join all derive from that one materialized
    table, so the corpus is tokenized exactly once instead of once per
    consumer leg (the same single-explode contract `bm25_scoring`
    keeps). The cached (doc, term, tf) table is bounded by
    |docs|·|per-doc vocab|, far smaller than the raw token stream. →
    term totals (partial-agg shuffle on term) → join tf-to-prob on term
    (shuffle join; the term table is corpus-vocabulary sized, not
    broadcastable at 100 TB) → per-doc agg (one shuffle on doc). All
    JVM-side Column arithmetic.
    """

    toks = ensure_parallelism(df, id_col).select(
        F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("term")
    )
    # hash-partitioned by id_col already co-locates (id, term) groups, so
    # this agg adds no exchange — the spread shuffle IS the tf shuffle
    tf = persist_scoped(
        "textstats_ppl_tf",
        toks.groupBy(id_col, "term").agg(F.count("*").alias("tf")),
    )
    term_tot = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    total = term_tot.agg(F.sum("cnt").alias("total"))
    scored = (
        tf.join(term_tot, "term")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            "tf",
            # integer micro-nats per token instance; tf multiplier stays
            # in exact integer space
            (
                F.col("tf")
                * F.floor(
                    -F.log(F.col("cnt").cast("double") / F.col("total")) * 1e6
                    + 0.5
                ).cast("bigint")
            ).alias("nll_micro"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.sum("tf").cast("bigint").alias("n_tokens"),
        F.sum("nll_micro").cast("bigint").alias("nll_micro"),
        F.exp(F.sum("nll_micro").cast("double") / 1e6 / F.sum("tf")).alias(
            "ppl_raw"
        ),
    ).select(
        F.col(id_col),
        "n_tokens",
        "nll_micro",
        # 4 dp: wide margin over the ~1-ulp cross-engine exp() divergence
        F.floor(F.col("ppl_raw") * 1e4 + 0.5).cast("bigint").alias(
            "ppl_e4"
        ),
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals per doc: the fraction of
    2-gram occurrences taken by the single most frequent 2-gram
    (``top_2gram_frac``), and the fraction of 3-gram occurrences whose
    3-gram repeats within the doc (``dup_3gram_frac``). High values mark
    boilerplate/spam for corpus filtering (cf. Gopher/MassiveText rules,
    public methodology).

    One shuffle total: both gram sizes are tagged into a single explode,
    counted in one map-side-combined (doc, size, gram) agg, then folded
    per doc. Grams group by their raw strings: hashing them first
    (md5-h60 or xxhash64) was MEASURED SLOWER at sf0.1 (2.88s plain vs
    3.21s/2.95s hashed) — locally the cost is building/exploding the
    gram strings, not shuffle-key width; on a network-shuffle cluster
    revisit xxhash64 keys (the hash never reaches the output, so the
    swap is semantics-free). Fractions are exact int/int double
    divisions — engine-portable without rounding.
    """

    # spread keyed by doc id: HashPartitioning(id) satisfies BOTH downstream
    # groupings ((id, sz, g) and (id)), so the whole pipeline still shuffles
    # once — but the gram build/explode now uses every core.
    # r8: BOTH gram sizes come from ONE codegen lead() window over the
    # exploded tokens (lead(1) serves the bigram, lead(2) the trigram) —
    # the transform-lambda form is interpreted per element (SCALING.md
    # round-8 finding). Short-doc clamp preserved: pos 1 always emits
    # (concat_ws skips the null leads), other tail positions drop.
    tok_rows = ensure_parallelism(df, id_col).select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("__p0", "__tok"),
    )
    w_tok = Window.partitionBy(id_col).orderBy("__p0")
    l1 = F.lead("__tok", 1).over(w_tok)
    l2 = F.lead("__tok", 2).over(w_tok)
    first = F.col("__p0") == 0
    grams = tok_rows.select(
        F.col(id_col),
        F.array(
            F.struct(
                F.lit(2).alias("sz"),
                F.concat_ws(" ", F.col("__tok"), l1).alias("g"),
                (l1.isNotNull() | first).alias("k"),
            ),
            F.struct(
                F.lit(3).alias("sz"),
                F.concat_ws(" ", F.col("__tok"), l1, l2).alias("g"),
                (l2.isNotNull() | first).alias("k"),
            ),
        ).alias("__arr"),
    )
    # generator in its own select (the analyzer strips struct field names
    # when a generator shares a select with aliased-struct arrays)
    tagged = (
        grams.select(id_col, F.explode("__arr").alias("t"))
        .filter(F.col("t.k"))
        .select(id_col, "t.sz", "t.g")
    )
    counts = tagged.groupBy(id_col, "sz", "g").agg(F.count("*").alias("cnt"))
    return counts.groupBy(id_col).agg(
        F.sum(F.when(F.col("sz") == 2, F.col("cnt"))).cast("bigint").alias("n_2grams"),
        (
            F.max(F.when(F.col("sz") == 2, F.col("cnt")))
            / F.sum(F.when(F.col("sz") == 2, F.col("cnt")))
        ).alias("top_2gram_frac"),
        F.sum(F.when(F.col("sz") == 3, F.col("cnt"))).cast("bigint").alias("n_3grams"),
        (
            F.coalesce(
                F.sum(F.when((F.col("sz") == 3) & (F.col("cnt") > 1), F.col("cnt"))),
                F.lit(0),
            )
            / F.sum(F.when(F.col("sz") == 3, F.col("cnt")))
        ).alias("dup_3gram_frac"),
    )


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_postings: int = 16,
) -> DataFrame:
    """Term -> document-frequency + capped posting list, the build step
    of a distributed text index (and the df table TF-IDF reuses).

    One explode of DISTINCT per-doc tokens, then a term-partitioned
    window rank and ONE aggregation — the groupBy reuses the window's
    exchange, so the term key shuffles once. Posting lists are sorted
    (ascending doc id) and CAPPED at ``max_postings`` BEFORE collection
    (``collect_list`` over a rank-filtered ``when`` — per-term state
    stays bounded no matter how hot the term, the same discipline as the
    dedup hot-shingle cap); ``df`` still counts every document. Postings
    serialize to a CSV string so results compare exactly across engines.
    """

    toks = ensure_parallelism(df, id_col).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.split(F.col(text_col), " "))
        ).alias("term"),
    )
    ranked = toks.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("term").orderBy(id_col)),
    )
    return ranked.groupBy("term").agg(
        F.count("*").cast("bigint").alias("df"),
        F.array_join(
            F.transform(
                # numeric sort BEFORE stringifying ("10" < "2" otherwise)
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("rn") <= max_postings, F.col(id_col))
                    )
                ),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings_csv"),
    )


def source_reputation(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-SOURCE reputation rollup — the curation decision table behind
    "which crawls/feeds do we keep": docs, token volume, corpus-wide
    exact-duplicate rate, and an aggregate stopword ratio per source.
    Scoring whole sources (rather than single docs) is how large corpus
    pipelines cut low-quality providers wholesale before any per-doc
    filtering spends compute on them.

    All signals aggregate exactly: integer token/stopword/dup counts,
    ratios as one int/int division at the end (engine-identical). The
    duplicate flag is corpus-wide (same md5-fingerprint + min-id-window
    contract as :func:`...dedup.exact_dup_groups`), so a source that
    mirrors another's content is the one penalized — its copies lose the
    min-id race only when it scraped later (higher ids).

    Scale shape: narrow stats projection → one fingerprint-partitioned
    window (the dedup shuffle) → per-source aggregate (tiny: one row per
    source, map-side combined).
    """
    toks = _tokens(F.col(text_col))
    staged = df.select(
        F.col(id_col),
        F.col(source_col),
        F.size(toks).cast("bigint").alias("__n"),
        _count_in(toks, EN_STOPWORDS).alias("__stop"),
        F.md5(F.col(text_col)).alias("__fp"),
    )
    w = Window.partitionBy("__fp")
    flagged = staged.withColumn(
        "__dup",
        (F.col(id_col) != F.min(id_col).over(w)).cast("bigint"),
    )
    n_docs = F.count("*").cast("bigint")
    n_dup = F.sum("__dup").cast("bigint")
    return flagged.groupBy(source_col).agg(
        n_docs.alias("n_docs"),
        F.sum("__n").cast("bigint").alias("total_tokens"),
        n_dup.alias("n_dup_docs"),
        (F.sum("__stop").cast("double") / F.sum("__n")).alias("stopword_ratio"),
        (n_dup.cast("double") / n_docs).alias("dup_rate"),
    )


# --- BPE merge induction -----------------------------------------------------


def bpe_merge_rounds(
    df: DataFrame,
    text_col: str = "text",
    rounds: int = 3,
) -> DataFrame:
    """First ``rounds`` merge rules of byte-pair-encoding tokenizer
    training — see :func:`_bpe_rounds` (this is the merges half of the
    shared learn+segment pass)."""
    merges, _ = _bpe_rounds(df, text_col=text_col, rounds=rounds)
    return merges


def _bpe_rounds(
    df: DataFrame,
    text_col: str = "text",
    rounds: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """First ``rounds`` merge rules of byte-pair-encoding tokenizer
    training (Sennrich, Haddow & Birch, "Neural Machine Translation of
    Rare Words with Subword Units", ACL 2016 — public): start from the
    corpus word-frequency table with words as character sequences; each
    round counts frequency-weighted adjacent symbol pairs, merges the
    most frequent pair everywhere (ties → lexicographically smallest
    pair — a pinned total order), and repeats on the merged vocabulary.

    Returns ``(merges, segmented)``: ``merges`` is
    ``(round, left_sym, right_sym, pair_count)`` — one row per learned
    merge, ``pair_count`` the weighted pair frequency at selection
    time — and ``segmented`` is the post-merge symbol table
    ``(word, wc, pos, sym)``, i.e. the BPE SEGMENTATION of every
    distinct corpus word under the learned merges (the induction loop
    applies each merge to the vocabulary anyway, so the segmentation is
    free — :func:`bpe_encode_stats` consumes it).

    Greedy-merge parity (the subtle part): applying a merge is
    SEQUENTIAL within a word — in ``aaaa`` the rule ``(a,a)`` produces
    ``[aa, aa]``, never the overlapping middle pair. Relationally:
    matching positions form maximal runs only where the pair overlaps
    itself, and greedy keeps every SECOND match in a run — so a
    running match-count, an islands grouping (``pos − cum_matches``),
    and a parity filter reproduce the sequential semantics exactly in
    one window pass (property-tested against a reference Python BPE,
    overlap cases included).

    Scale shape: the corpus is touched ONCE (word-count aggregate —
    map-side combined); every round after that is VOCABULARY-granular:
    per-word windows over the symbol rows (ONE exchange on word for the
    whole induction — each round's symbol table is scope-persisted, and
    unlike localCheckpoint a persist preserves the hashpartitioning(word)
    physical property, so rounds 2..R re-sort within partitions but
    never re-shuffle), a pair-count aggregate, and a distributed top-1
    (TakeOrdered, never a single-partition window). The selected pair
    crosses the driver as ONE scalar row per round (guard-bounded by
    definition) and is applied as plan literals — the ``merges`` return
    is therefore a local relation of R rows, so consumers that only
    need the merge list (``text_bpe_encode_ranked`` collects it anyway:
    the tokenizer artifact) pay nothing at action time, where the
    r10-r14 broadcast-join form re-ran every round's pair-count
    aggregate under the final union (12 Exchanges at R=3, measured).
    At 100 TB the vocabulary is bounded by the token universe, not the
    corpus."""
    if rounds < 1:
        raise ValueError(f"_bpe_rounds: rounds must be >= 1 (got {rounds})")

    # Persist roles are keyed PER INVOCATION: with fixed roles a second
    # BPE induction built in the same session would unpersist the first
    # call's blocks while its lazy segmentation was still pending.
    tag = call_tag()

    wdf = (
        df.select(F.explode(_tokens(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("wc"))
    )
    syms = wdf.select(
        "word",
        "wc",
        F.posexplode(
            F.split(F.trim(F.regexp_replace("word", "(.)", "$1 ")), " ")
        ).alias("p", "sym"),
    ).select("word", "wc", (F.col("p") + 1).alias("pos"), "sym")

    w = Window.partitionBy("word").orderBy("pos")
    merge_rows: list[tuple[int, str, str, int]] = []
    cur = persist_scoped(f"bpe_syms_{tag}", syms)
    for r in range(1, rounds + 1):
        pairs = cur.withColumn("nxt", F.lead("sym").over(w))
        pc = (
            pairs.filter(F.col("nxt").isNotNull())
            .groupBy("sym", "nxt")
            .agg(F.sum("wc").cast("bigint").alias("n"))
        )
        # The round's winning pair is ONE row (a guard-bounded scalar
        # fetch, the house convention): applying it as plan literals
        # replaces the r10 dummy-key broadcast left-join — one fewer
        # broadcast exchange and join per round, and the merge list
        # itself becomes a local relation instead of a union of
        # TakeOrdered subtrees that re-aggregated every round's pair
        # counts at action time. When the vocabulary fully merges
        # early, `pc` is empty and the remaining rounds are no-ops on
        # both the merge list and the segmentation — identical to the
        # old left-join's all-false match column.
        best = pc.orderBy(F.desc("n"), "sym", "nxt").first()
        if best is None:
            break
        bs, bn, bcount = best["sym"], best["nxt"], best["n"]
        merge_rows.append((r, bs, bn, bcount))
        # Greedy parity without the (word, grp) islands re-shuffle: a
        # run of consecutive matches starts where the PREVIOUS row did
        # not match; carrying that run-start's cm forward with
        # last(..., ignoreNulls) over the SAME (word, pos) window spec
        # replaces min(cm) OVER (word, grp) — which required its own
        # Exchange + Sort per round (2 extra shuffles x R, measured in
        # the r14 plan). For matched rows run_cm == min(cm) of the
        # run (cm increments by exactly 1 inside a run); unmatched rows
        # carry a stale run_cm but m=false already excludes them.
        # Window expressions can't nest, so the chain is layered into
        # the minimum THREE projections (m/cm/prev_m, run_cm, sel +
        # consumed) rather than one withColumn per step.
        wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        m = F.coalesce(
            (F.col("sym") == F.lit(bs)) & (F.col("nxt") == F.lit(bn)),
            F.lit(False),
        )
        s1 = pairs.select(
            "word",
            "wc",
            "pos",
            "sym",
            "nxt",
            m.alias("m"),
            F.sum(m.cast("int")).over(wcum).alias("cm"),
            F.coalesce(F.lag(m).over(w), F.lit(False)).alias("prev_m"),
        )
        s2 = s1.select(
            "word",
            "wc",
            "pos",
            "sym",
            "nxt",
            "m",
            "cm",
            F.last(
                F.when(F.col("m") & ~F.col("prev_m"), F.col("cm")),
                ignorenulls=True,
            )
            .over(wcum)
            .alias("run_cm"),
        )
        sel = F.col("m") & (((F.col("cm") - F.col("run_cm")) % 2) == 0)
        s3 = s2.select(
            "word",
            "wc",
            "pos",
            "sym",
            "nxt",
            sel.alias("sel"),
            F.coalesce(F.lag(sel).over(w), F.lit(False)).alias("consumed"),
        )
        nxt_cur = s3.filter(~F.col("consumed")).select(
            "word",
            "wc",
            F.row_number().over(w).alias("pos"),
            F.when(F.col("sel"), F.concat("sym", "nxt"))
            .otherwise(F.col("sym"))
            .alias("sym"),
        )
        # Intermediate rounds are re-read by the next round's pair count
        # AND the eventual segmentation consumer — persist them (scoped,
        # partitioning-preserving). The FINAL round's table is consumed
        # exactly once downstream (every caller aggregates it into
        # word_stats in one pass), so it stays lazy — no materialization
        # job for merges-only callers at all.
        cur = (
            persist_scoped(f"bpe_cur_{tag}_r{r}", nxt_cur)
            if r < rounds
            else nxt_cur
        )
    spark = df.sparkSession
    out = spark.createDataFrame(
        merge_rows,
        schema=(
            "round int, left_sym string, right_sym string, pair_count bigint"
        ),
    )
    return out, cur


def bpe_encode_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rounds: int = 3,
) -> DataFrame:
    """BPE APPLY — segment the corpus with the learned merge list and
    report per-document token accounting, the operation an LLM-data
    pipeline runs far more often than training the merges (Sennrich et
    al. ACL 2016; the apply side of the same algorithm).

    Equivalence that makes this relational: applying the merge rules in
    RANK ORDER, each greedily once over the vocabulary, reproduces the
    priority-queue encoder exactly — a merge of rank k only creates
    symbols of rank k, and every pair a rank-k merge creates CONTAINS
    the new rank-k symbol, so no rule j < k ever becomes applicable
    again after rule k runs (property-tested against a reference
    priority-queue encoder in tests/test_properties_round10.py).

    The induction loop applies each learned merge to the vocabulary as
    it goes, so the final segmentation falls out of the SAME pass that
    learns the merges (:func:`_bpe_rounds`) — no second apply stage.

    Returns one row per document:
    ``(id_col, n_words, n_bpe_tokens, n_char_tokens)`` where
    ``n_char_tokens`` counts single-character fallback tokens (symbols
    no merge absorbed — the char-level analogue of byte-fallback OOV
    accounting).

    Scale shape: the corpus is touched TWICE — once into the
    word-frequency aggregate that drives induction (map-side combined),
    once exploded to (doc, word) rows joined to the word-granular
    segmentation stats. Everything between is VOCABULARY-granular. The
    word-stats join side is vocabulary-sized but NOT provably
    broadcast-bounded (the distinct-word universe grows with corpus
    noise), so it is an honest hash equi-join on word — never a
    broadcast assumption, never a pair shape."""
    _, segmented = _bpe_rounds(df, text_col=text_col, rounds=rounds)
    word_stats = segmented.groupBy("word").agg(
        F.count("*").cast("bigint").alias("__n_toks"),
        F.sum((F.length("sym") == 1).cast("int"))
        .cast("bigint")
        .alias("__n_single"),
    )
    doc_words = (
        df.select(
            F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("word")
        )
        .filter(F.col("word") != "")
    )
    return (
        doc_words.join(word_stats, "word")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("__n_toks").cast("bigint").alias("n_bpe_tokens"),
            F.sum("__n_single").cast("bigint").alias("n_char_tokens"),
        )
    )


def bpe_fertility_stats(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
    rounds: int = 3,
) -> DataFrame:
    """Tokenizer FERTILITY report — the per-language health metric every
    multilingual tokenizer ships with (tokens per word; high fertility =
    the vocabulary under-serves that language) plus the single-char
    fallback share (the char-level analogue of byte-fallback rate).
    Same machinery as :func:`bpe_encode_stats`, aggregated per
    ``group_col`` instead of per document; ratios are exact integer
    micro-units (``1e6·x div y``).

    Returns ``(group_col, n_words, n_bpe_tokens, n_char_tokens,
    fertility_e6, fallback_e6)``."""
    _, segmented = _bpe_rounds(df, text_col=text_col, rounds=rounds)
    word_stats = segmented.groupBy("word").agg(
        F.count("*").cast("bigint").alias("__n_toks"),
        F.sum((F.length("sym") == 1).cast("int"))
        .cast("bigint")
        .alias("__n_single"),
    )
    grp_words = (
        df.select(
            F.col(group_col), F.explode(_tokens(F.col(text_col))).alias("word")
        )
        .filter(F.col("word") != "")
    )
    return (
        grp_words.join(word_stats, "word")
        .groupBy(group_col)
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("__n_toks").cast("bigint").alias("n_bpe_tokens"),
            F.sum("__n_single").cast("bigint").alias("n_char_tokens"),
        )
        .select(
            group_col,
            "n_words",
            "n_bpe_tokens",
            "n_char_tokens",
            F.expr("1000000 * n_bpe_tokens div n_words")
            .cast("bigint")
            .alias("fertility_e6"),
            F.expr("1000000 * n_char_tokens div n_bpe_tokens")
            .cast("bigint")
            .alias("fallback_e6"),
        )
    )


def bpe_apply_ranks(
    words: DataFrame,
    merge_ranks: list[tuple[str, str]],
    word_col: str = "word",
) -> DataFrame:
    """Production-scale BPE apply: segment each distinct word with an
    arbitrary-length ranked merge list via ONE Arrow batch kernel — the
    path for real tokenizer vocabularies (tens of thousands of ranks),
    where the R-sequential-passes relational form stops being sensible.

    The kernel is the reference priority-queue encoder (repeatedly
    merge the lowest-rank adjacent pair, ties by position — exactly
    Sennrich's apply loop), vectorized per Arrow batch over the
    DISTINCT word table, so the Python work is VOCABULARY-granular no
    matter the corpus size; corpus rows then join to segmentations on
    the word equi-key. Parity with the relational segmentation is
    property-tested (tests/test_properties_round10.py).

    Returns ``(word_col, pos, sym)`` with 1-based ``pos`` —
    schema-compatible with :func:`_bpe_rounds`'s segmented output."""
    import pandas as pd  # noqa: PLC0415

    ranks = {pair: i for i, pair in enumerate(merge_ranks)}
    out_schema = (
        f"{word_col} string, pos bigint, sym string"
    )

    def _encode(w: str) -> list[str]:
        syms = list(w)
        while len(syms) > 1:
            best, bi = None, -1
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best is None or r < best):
                    best, bi = r, i
            if best is None:
                break
            syms[bi : bi + 2] = [syms[bi] + syms[bi + 1]]
        return syms

    def _batches(it):
        for pdf in it:
            col = pdf[word_col]
            words_out, pos_out, sym_out = [], [], []
            for w in col:
                for p, s in enumerate(_encode(w), start=1):
                    words_out.append(w)
                    pos_out.append(p)
                    sym_out.append(s)
            yield pd.DataFrame(
                {word_col: words_out, "pos": pos_out, "sym": sym_out}
            )

    return words.select(word_col).mapInPandas(_batches, out_schema)


# --- model-based quality filter ----------------------------------------------

# Pinned linear-classifier weights (integer milli-units — calibrated
# offline, the _PPL_CUT_E4 discipline: at scale the weights come from a
# fasttext/CCNet-style training run, never from query-time fitting).
# Features are integer micro-unit ratios, so the whole score is exact
# integer arithmetic both engines reproduce bit-for-bit.
# r10 recalibration: the r9 bias (-900_000) kept ZERO documents on the
# driver corpus (max logit -134k at sf0.01; logit quantiles
# p10/p50/p90 = -914k/-626k/-389k), which made every kept-gated
# composition (curation_pipeline_v3) vacuously green on empty output.
# -200_000 puts the decision boundary just above the corpus median —
# the gate separates (~55-65% kept at sf0.01) while the hand-tested
# junk/natural examples stay on their correct sides.
# selectivity guard: tests/test_selectivity.py::test_quality_linear_filter_keeps_nontrivial_fraction
# (pins kept-fraction inside [5%, 95%] at sf0.01 — a recalibration that
# goes degenerate now fails fast instead of shipping hash-green)
QUALITY_W0_E6 = -200_000          # bias
QUALITY_W_STOP_E3 = 2_400         # stopword ratio: more -> more natural text
QUALITY_W_PUNCT_E3 = -1_800       # punctuation soup -> boilerplate/code
QUALITY_W_LEN_E3 = 700            # length saturation at 100 tokens
QUALITY_W_AWL_E3 = -60            # very long average words -> junk/URLs


def quality_linear_filter(
    df: DataFrame, text_col: str = "text", nchars_col: str = "n_chars"
) -> DataFrame:
    """Model-based quality filter — the linear-classifier stage
    (fasttext/CCNet style, Wenzek et al. LREC 2020; public) real
    curation pipelines run beside rule filters and the LM perplexity
    cut: a pinned-weight linear score over cheap text features, keep
    iff the logit is non-negative.

    Everything is exact integer arithmetic: features are micro-unit
    ratios (floor(x·10⁶ + 0.5)), weights are pinned milli-unit literals,
    and ``logit_e6 = w0 + Σ wᵢ·fᵢ DIV 1000`` — so the filter decision
    hash-matches the SQL oracle with no float boundary cases.

    Scale shape: a pure narrow projection — zero shuffles, zero Python;
    100 TB filters at scan speed (the plan-shape test pins 0 exchanges).

    Returns the input plus ``(stop_e6, punct_e6, len_sat_e6, awl_e6,
    logit_e6, kept)``."""
    toks = _tokens(F.col(text_col))
    n = F.size(toks).cast("bigint")
    # NULL n_chars is treated as 0 so every row gets a concrete kept
    # decision (the awl numerator reads n_chars too — a NULL there
    # would otherwise NULL the logit past the denominator guard).
    nchars = F.coalesce(F.col(nchars_col).cast("bigint"), F.lit(0))
    stop = _count_in(toks, EN_STOPWORDS)
    punct = F.length(
        F.regexp_replace(F.col(text_col), PUNCT_CLASS, "")
    ).cast("bigint")

    def _e6(num, den):
        # Degenerate rows (0 or NULL denominator) get a 0 feature
        # instead of a NULL logit/kept — Spark NULLs x/0 while DuckDB
        # float division may yield inf, so an unguarded divide could
        # silently diverge from the oracle (ADVICE r9). The SQL oracle
        # carries the identical CASE WHEN den > 0 guard.
        return (
            F.when(den > 0, F.floor(num.cast("double") / den * 1e6 + 0.5))
            .otherwise(F.lit(0))
            .cast("bigint")
        )

    stop_e6 = _e6(stop, n)
    punct_e6 = _e6(punct, nchars)
    len_sat_e6 = (F.least(n, F.lit(100)) * 10_000).cast("bigint")
    awl_e6 = _e6(nchars - (n - 1), n)
    logit = (
        F.lit(QUALITY_W0_E6)
        + F.expr(f"{QUALITY_W_STOP_E3} * stop_e6 DIV 1000")
        + F.expr(f"{QUALITY_W_PUNCT_E3} * punct_e6 DIV 1000")
        + F.expr(f"{QUALITY_W_LEN_E3} * len_sat_e6 DIV 1000")
        + F.expr(f"{QUALITY_W_AWL_E3} * awl_e6 DIV 1000")
    )
    return (
        df.withColumns(
            {
                "stop_e6": stop_e6,
                "punct_e6": punct_e6,
                "len_sat_e6": len_sat_e6,
                "awl_e6": awl_e6,
            }
        )
        .withColumn("logit_e6", logit.cast("bigint"))
        .withColumn("kept", F.col("logit_e6") >= 0)
    )


def distinct_ngram_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
    max_n: int = 2,
) -> DataFrame:
    """Distinct-n diversity — the corpus diversity metric (Li et al.,
    "A Diversity-Promoting Objective Function for Neural Conversation
    Models", NAACL 2016 — public): per group, the ratio of DISTINCT
    n-grams to total n-grams for n = 1..``max_n``. Near-duplicate-heavy
    or templated corpora score low; it is the cheap corpus-level
    counterpart to the pairwise dedup families (a low distinct-2 is the
    signal that sends a source slice INTO them).

    Returns long-format rows ``(group_col, n, total_ngrams,
    distinct_ngrams, distinct_ratio_e6)`` with the ratio in exact
    integer micro-units (``1e6·distinct div total`` — no floats).

    Scale shape: ONE doc-granular window exchange builds every n via
    ``lead()`` terms off the same token stream (the lead-window n-gram
    house pattern — never a per-n re-tokenize); each n then costs one
    (group, gram) count-distinct aggregate, map-side combined."""
    if max_n < 1:
        raise ValueError(
            f"distinct_ngram_stats: max_n must be >= 1 (got {max_n})"
        )
    toks = df.select(
        F.col(group_col),
        F.col(id_col),
        F.posexplode(_tokens(F.col(text_col))).alias("pos", "t1"),
    ).filter(F.col("t1") != "")
    w = Window.partitionBy(id_col).orderBy("pos")
    for i in range(2, max_n + 1):
        toks = toks.withColumn(f"t{i}", F.lead("t1", i - 1).over(w))
    stats = []
    for n in range(1, max_n + 1):
        gram = F.concat_ws(" ", *[F.col(f"t{i}") for i in range(1, n + 1)])
        g = toks
        if n > 1:
            g = g.filter(F.col(f"t{n}").isNotNull())
        s = (
            g.select(F.col(group_col), gram.alias("__g"))
            .groupBy(group_col)
            .agg(
                F.count("*").cast("bigint").alias("total_ngrams"),
                F.countDistinct("__g").cast("bigint").alias("distinct_ngrams"),
            )
            .select(
                group_col,
                F.lit(n).cast("int").alias("n"),
                "total_ngrams",
                "distinct_ngrams",
                F.expr("1000000 * distinct_ngrams div total_ngrams")
                .cast("bigint")
                .alias("distinct_ratio_e6"),
            )
        )
        stats.append(s)
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out


def ngram_novelty_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
    holdout_fraction: float = 0.2,
    salt: str = "nov",
    max_n: int = 3,
) -> DataFrame:
    """Train-vs-heldout n-gram novelty curves — the memorization /
    generalization audit for a training corpus (the n-gram overlap
    diagnostic of McCoy et al., "How much do language models copy from
    their training data?" TACL 2023, and the train/test overlap
    reporting in GPT-2/GPT-3 appendices; public): split documents into
    train/heldout by deterministic key hash, then per (group, n) measure
    what fraction of the heldout split's n-gram OCCURRENCES never appear
    in the train split. Novelty near 0 at small n (shared vocabulary)
    rising steeply with n is the healthy profile; a heldout slice whose
    high-n novelty is ~0 is memorization risk — its text is stitched
    from passages the train split already contains.

    Returns long-format rows ``(group_col, n, heldout_ngrams,
    novel_ngrams, novelty_e6)`` for n = 1..``max_n``, with the rate in
    exact integer micro-units (``1e6·novel div heldout``, NULL on an
    empty group — the degenerate-input discipline). Groups with zero
    heldout documents yield no row; a group whose train side is empty
    degrades to novelty_e6 = 1000000, never an error.

    Scale shape: ONE doc-granular window exchange builds every n via
    ``lead()`` off the same token stream (the lead-window house
    pattern), then all n sizes leave that single pass together as an
    inline struct-array explode — never a union that re-runs the
    tokenize+window per n (a first cut unioned three arms; the executed
    plan re-computed the corpus window three times). Every gram is
    replaced by its 60-bit md5 digest before anything shuffles (keys
    stay 8 bytes, never k tokens of text), and all n ride ONE
    distinct-build + ONE left join keyed on ``(n, gram_hash)``. Both
    join sides are corpus-sized, so this is an honest hash-shuffle join
    (no broadcast to outgrow; AQE may still broadcast the train set
    while it measures small); the final rollup is (group, n)-granular,
    map-side combined. The split is the :mod:`.sampling` key-hash
    discipline — re-running the audit on 100 TB picks the identical
    split."""
    if not (0.0 < holdout_fraction < 1.0):
        raise ValueError(
            "ngram_novelty_stats: holdout_fraction must be in (0, 1) "
            f"(got {holdout_fraction})"
        )
    if max_n < 1:
        raise ValueError(f"ngram_novelty_stats: max_n must be >= 1 (got {max_n})")
    space = float(1 << 60)
    heldout = (
        h60(F.concat(F.lit(salt), F.col(id_col).cast("string"))) / F.lit(space)
        < F.lit(holdout_fraction)
    )
    toks = df.select(
        F.col(group_col),
        F.col(id_col),
        heldout.alias("__ho"),
        F.posexplode(_tokens(F.col(text_col))).alias("pos", "t1"),
    ).filter(F.col("t1") != "")
    w = Window.partitionBy(id_col).orderBy("pos")
    for i in range(2, max_n + 1):
        toks = toks.withColumn(f"t{i}", F.lead("t1", i - 1).over(w))
    # all n leave the single window pass together: per token position,
    # an inline array of (n, gh) structs with gh NULL when the n-gram
    # runs off the doc end — one explode, no per-n union arms
    arms = []
    for n in range(1, max_n + 1):
        gram = F.concat_ws(" ", *[F.col(f"t{i}") for i in range(1, n + 1)])
        gh = h60(gram)
        if n > 1:
            gh = F.when(F.col(f"t{n}").isNotNull(), gh)
        arms.append(F.struct(F.lit(n).cast("int").alias("n"), gh.alias("__gh")))
    grams = (
        toks.select(
            F.col(group_col),
            "__ho",
            F.explode(F.array(*arms)).alias("__a"),
        )
        .select(group_col, "__ho", F.col("__a.n").alias("n"), F.col("__a.__gh").alias("__gh"))
        .filter(F.col("__gh").isNotNull())
    )
    train_set = (
        grams.filter(~F.col("__ho")).select("n", "__gh").dropDuplicates()
    )
    held = grams.filter(F.col("__ho")).select(group_col, "n", "__gh")
    joined = held.join(
        train_set.withColumn("__seen", F.lit(1)), ["n", "__gh"], "left"
    )
    agg = joined.groupBy(group_col, "n").agg(
        F.count("*").cast("bigint").alias("heldout_ngrams"),
        F.sum(F.col("__seen").isNull().cast("int"))
        .cast("bigint")
        .alias("novel_ngrams"),
    )
    return agg.select(
        group_col,
        "n",
        "heldout_ngrams",
        "novel_ngrams",
        novelty_e6_expr("heldout_ngrams", "novel_ngrams"),
    )


# Past this many novel n-grams in one (group, n), 1e6·novel_ngrams wraps
# int64 — the novelty rate degrades to NULL (counts stay reported).
NOVELTY_E6_NOVEL_BOUND = (2**63) // 1_000_000


def novelty_e6_expr(heldout_col: str, novel_col: str) -> Column:
    """The novelty-rate micro-unit expression with its int64-headroom
    guard (r13 verdict task 6), factored out so the boundary is
    pin-testable on pre-aggregated counts (r14 advice): the risky term
    is 1e6·novel, which wraps at novel ≥ 2^63 div 1e6 ≈ 9.22e12 heldout
    occurrences in one (group, n) — reachable around ~46 TB of
    single-group heldout text, INSIDE the design envelope — so
    past-bound groups DEGRADE to NULL instead of wrapping silently.
    Mirrored verbatim in the ngram_novelty_audit DuckDB oracle
    (plans/battery_curation_recent.py)."""
    return (
        F.when(
            (F.col(heldout_col) > 0)
            & (F.col(novel_col) < F.lit(NOVELTY_E6_NOVEL_BOUND)),
            F.expr(f"1000000 * {novel_col} div {heldout_col}"),
        )
        .cast("bigint")
        .alias("novelty_e6")
    )


def zipf_fit_stats(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
    top_k: int = 100,
) -> DataFrame:
    """Zipf rank-frequency fit per group — the corpus-health diagnostic
    (natural text follows freq ∝ rank^-s with s ≈ 1, Zipf 1949; public):
    templated/synthetic/boilerplate-heavy slices show up as a flat slope
    or a poor fit, duplicated-content slices as a cliff. The fit is OLS
    of ln(freq) on ln(rank) over the top ``top_k`` terms.

    All accumulation is exact integers (the ``kl_term_drift``
    discipline): per fitted term, x = floor(ln(rank)·1e6 + .5) and
    y = floor(ln(count)·1e6 + .5) as 64-bit ints; the five OLS moments
    (Σx, Σy, Σxy, Σx², Σy²) are integer sums — associative, identical
    across engines and partition orders. Int64 headroom (r12 advice):
    the binding moment is ``Σy²``, not ``Σxy`` — with counts up to C,
    y ≤ floor(ln(C)·1e6) (~4.36e7 at C = 2^63), so k·y² at k = 100
    reaches ~1.9e17·ln²(C)… concretely ~7.6e18 of the 9.2e18 ceiling
    at C ≈ 1e12 per term and OVERFLOWS past C ≈ 1.4e13 per fitted
    term (y ≥ 3.03e7). x is harmless (ln(100)·1e6 ≈ 4.6e6 → k·Σx²
    ≤ 2.1e15). Operating bound: per-term counts must stay below ~1e13
    — far past any real corpus slice (a single term occurring 1e13
    times), but documented because non-ANSI Spark would wrap silently.
    The only float ops are one deterministic scalar division per group
    at the end, 6dp-floor-rounded.

    Returns one row per group: ``(group_col, vocab_size, n_fit,
    zipf_slope, zipf_r2)``. Degenerate inputs DEGRADE (arrival
    discipline): a single-term group has zero rank variance → slope and
    r² NULL; a group whose top-k counts are all equal fits slope 0 with
    r² NULL (zero y-variance), never a division error.

    Scale shape: token explode → (group, term) count agg (map-side
    combined, vocabulary-granular output); the rank window runs over
    the DISTINCT-term table, not the corpus, and the ``rank <= top_k``
    filter is a WindowGroupLimit (per-partition top-k pushdown); the
    fit aggregate touches ≤ top_k rows per group."""
    if top_k < 2:
        raise ValueError(f"zipf_fit_stats: top_k must be >= 2 (got {top_k})")
    toks = df.select(
        F.col(group_col),
        F.explode(_tokens(F.col(text_col))).alias("term"),
    ).filter(F.col("term") != "")
    # vocabulary-granular and feeds two consumers (vocab size + the
    # ranked fit) — scope-persist so the corpus explode runs ONCE
    tf = persist_scoped(
        "zipf_tf",
        toks.groupBy(group_col, "term").agg(
            F.count("*").cast("bigint").alias("c")
        ),
    )
    vocab = tf.groupBy(group_col).agg(
        F.count("*").cast("bigint").alias("vocab_size")
    )
    w = Window.partitionBy(group_col).orderBy(F.col("c").desc(), "term")
    e6 = lambda c: F.floor(  # noqa: E731
        F.log(c.cast("double")) * 1e6 + F.lit(0.5)
    ).cast("bigint")
    fit = (
        tf.withColumn("r", F.row_number().over(w).cast("bigint"))
        .filter(F.col("r") <= top_k)
        .select(group_col, e6(F.col("r")).alias("x"), e6(F.col("c")).alias("y"))
    )
    a = fit.groupBy(group_col).agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    num = F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("k") * F.col("syy") - F.col("sy") * F.col("sy")

    def _r6(c: Column) -> Column:
        return F.floor(c * 1e6 + F.lit(0.5)) / 1e6

    return a.join(F.broadcast(vocab), group_col).select(
        group_col,
        "vocab_size",
        F.col("k").alias("n_fit"),
        F.when(dx > 0, _r6(num.cast("double") / dx.cast("double"))).alias(
            "zipf_slope"
        ),
        F.when(
            (dx > 0) & (dy > 0),
            _r6(
                num.cast("double")
                * num.cast("double")
                / (dx.cast("double") * dy.cast("double"))
            ),
        ).alias("zipf_r2"),
    )


def quality_gate_ablation(
    df: DataFrame, text_col: str = "text", nchars_col: str = "n_chars"
) -> DataFrame:
    """Leave-one-term-out attribution for the linear quality gate —
    which rule actually does the killing. For each of the gate's four
    feature terms, count the documents whose keep decision FLIPS when
    that term is removed from the logit (``kept != (logit − wᵢ·fᵢ DIV
    1000 >= 0)``) — the standard ablation read a curation team runs
    before touching a gate weight: a term nobody's decision depends on
    is dead weight; a term flipping half the corpus is the gate.

    All arithmetic stays in the gate's exact integer units (the logit
    and every contribution are bigint micro-units), so flip counts are
    engine-exact — no float boundary cases at the kept threshold.

    Returns one row per feature: ``(feature, weight_e3, n_docs,
    n_kept, n_flip_without, flip_rate_e6)`` — n_docs/n_kept repeat the
    corpus totals on every row for self-containedness; flip_rate_e6 =
    1e6·flips div docs.

    Degenerate inputs DEGRADE (arrival discipline): empty input → zero
    rows (never a division error — a group only exists with rows);
    all-identical docs flip all-or-nothing per feature, never crash.

    Scale shape: one scan through the zero-shuffle gate projection, a
    4-way inline struct explode (corpus × 4 rows, no join), and ONE
    map-side-combined aggregate to 4 rows."""
    g = quality_linear_filter(df, text_col, nchars_col)
    feats = [
        ("stop", QUALITY_W_STOP_E3, "stop_e6"),
        ("punct", QUALITY_W_PUNCT_E3, "punct_e6"),
        ("len_sat", QUALITY_W_LEN_E3, "len_sat_e6"),
        ("awl", QUALITY_W_AWL_E3, "awl_e6"),
    ]
    arms = [
        F.struct(
            F.lit(name).alias("feature"),
            F.lit(w).cast("bigint").alias("weight_e3"),
            F.expr(f"{w} * {col} DIV 1000").cast("bigint").alias("contrib_e6"),
        )
        for name, w, col in feats
    ]
    ex = g.select(
        "logit_e6", "kept", F.explode(F.array(*arms)).alias("a")
    ).select(
        "logit_e6",
        "kept",
        F.col("a.feature").alias("feature"),
        F.col("a.weight_e3").alias("weight_e3"),
        F.col("a.contrib_e6").alias("contrib_e6"),
    )
    kept_wo = (F.col("logit_e6") - F.col("contrib_e6")) >= 0
    return (
        ex.groupBy("feature", "weight_e3")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.col("kept").cast("int")).cast("bigint").alias("n_kept"),
            F.sum((F.col("kept") != kept_wo).cast("int"))
            .cast("bigint")
            .alias("n_flip_without"),
        )
        .select(
            "feature",
            "weight_e3",
            "n_docs",
            "n_kept",
            "n_flip_without",
            F.expr("1000000 * n_flip_without div n_docs")
            .cast("bigint")
            .alias("flip_rate_e6"),
        )
    )


def unigram_entropy_stats(
    df: DataFrame, text_col: str = "text", group_col: str = "lang"
) -> DataFrame:
    """Unigram Shannon entropy + Pielou evenness per group — the
    complementary corpus-health diagnostic to :func:`zipf_fit_stats`
    (Zipf reads the rank-frequency SHAPE; entropy reads the
    distribution's effective breadth): ``H = Σ (c/n)·ln(n/c)`` nats,
    ``evenness = H / ln(vocab)`` in [0, 1] (Pielou 1966; public) — 1
    means a uniform vocabulary (templated/synthetic text, as here), low
    means a natural head-heavy distribution or degenerate repetition.

    Exact integer accumulation (the ``kl_term_drift`` micro-nat
    discipline): per term, ``contrib = c · floor(ln(n/c)·1e6 + .5)`` —
    bigint, associative, engine/partition-order identical; the only
    float ops are the final per-group divisions, 6dp-floor-rounded.

    Int64 headroom (r12 advice): the group sum equals ``n·H·1e6``
    (± n/2 micro-nat rounding slack), which approaches the int64
    ceiling (~9.2e18) once a group holds ~1e12+ tokens at H ≈ 9-10
    nats. Because ``H ≤ ln(vocab_size)``, the per-group bound
    ``n·(ln(vocab)+1)·1e6 < 2^63`` is checkable from columns computed
    OUTSIDE the risky sum, so groups past it DEGRADE to NULL entropy /
    evenness (guard below) instead of wrapping silently in non-ANSI
    Spark — the same posture as :func:`zipf_fit_stats`'s overflow note.

    Returns ``(group_col, n_tokens, vocab_size, entropy, evenness)``.
    Degenerate inputs DEGRADE: a single-term group has H = 0 exactly
    and evenness NULL (ln(vocab) = 0 — never a division by zero);
    a beyond-int64-headroom group (n·(ln(vocab)+1)·1e6 ≥ 2^63) has
    entropy and evenness NULL.

    Scale shape: one token explode into a (group, term) count agg
    (map-side combined, vocabulary-granular), group totals broadcast
    back, one vocabulary-granular rollup per group."""
    toks = df.select(
        F.col(group_col),
        F.explode(_tokens(F.col(text_col))).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy(group_col, "term").agg(
        F.count("*").cast("bigint").alias("c")
    )
    n = tf.groupBy(group_col).agg(F.sum("c").cast("bigint").alias("n"))
    contrib = (
        F.col("c")
        * F.floor(
            F.log(F.col("n").cast("double") / F.col("c")) * 1e6 + F.lit(0.5)
        ).cast("bigint")
    )
    agg = (
        tf.join(F.broadcast(n), group_col)
        .select(group_col, "n", contrib.alias("__h"))
        .groupBy(group_col, "n")
        .agg(
            F.count("*").cast("bigint").alias("vocab_size"),
            F.sum("__h").cast("bigint").alias("__hsum"),
        )
    )

    def _r6(c: Column) -> Column:
        return F.floor(c * 1e6 + F.lit(0.5)) / 1e6

    h = F.col("__hsum").cast("double") / 1e6 / F.col("n")
    # int64-headroom guard (docstring): __hsum ≤ n·(H·1e6 + 1) and
    # H ≤ ln(vocab), so this double-side comparison certifies the bigint
    # sum never wrapped; the comparison itself never overflows (double).
    safe = (
        F.col("n").cast("double")
        * (F.log(F.col("vocab_size").cast("double")) + F.lit(1.0))
        * F.lit(1e6)
    ) < F.lit(float(2**63))
    return agg.select(
        group_col,
        F.col("n").alias("n_tokens"),
        "vocab_size",
        F.when(safe, _r6(h)).alias("entropy"),
        F.when(
            safe & (F.col("vocab_size") > 1),
            _r6(h / F.log(F.col("vocab_size").cast("double"))),
        ).alias("evenness"),
    )


def bpe_vocab_coverage_stats(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
    rounds: int = 3,
) -> DataFrame:
    """Tokenizer-vocabulary OOV/coverage audit per group — the
    vocabulary-health report a team runs before committing to a
    tokenizer (Sennrich et al. ACL 2016 fallback accounting; public):
    classify every corpus word by how the learned BPE vocabulary
    segments it and report, per group, both TYPE (distinct-word) and
    OCCURRENCE (token-weighted) coverage:

    - **whole** — the word encodes to ONE symbol (fully in-vocab; the
      zero-fertility ideal),
    - **fallback** — multi-symbol AND every symbol is a single char (no
      merge touched it: the char-level analogue of byte-fallback OOV —
      an undertrained vocabulary for that group shows up here first),
    - everything else is partially merged (counted implicitly:
      ``1e6 − whole − fallback`` in each basis).

    Where :func:`bpe_fertility_stats` reads tokens-per-word RATIOS,
    this reads word-CLASS shares — a language can have healthy average
    fertility while 20% of its distinct words are pure char fallback.

    Returns one row per group: ``(group_col, n_types, n_occurrences,
    whole_type_e6, fallback_type_e6, whole_occ_e6, fallback_occ_e6)``
    in exact integer micro-units. Degenerate inputs DEGRADE: a group
    with no non-empty words is absent (the ``bpe_encode_stats``
    convention); n_types ≥ 1 whenever a group appears, so the ratios
    never divide by zero.

    Scale shape: the corpus is touched twice — once into the
    word-frequency table that drives induction, once into a
    (group, word) occurrence count (map-side combined, then
    vocabulary-granular). Word classes live on the DISTINCT-word
    segmentation stats; the (group, word) table joins them on the word
    equi-key (an honest hash join — the ``bpe_encode_stats`` note: the
    distinct-word universe is NOT provably broadcast-bounded); the
    final rollup is group-granular."""
    _, segmented = _bpe_rounds(df, text_col=text_col, rounds=rounds)
    word_stats = segmented.groupBy("word").agg(
        F.count("*").cast("bigint").alias("__n_toks"),
        F.sum((F.length("sym") == 1).cast("int"))
        .cast("bigint")
        .alias("__n_single"),
    )
    gw = (
        df.select(
            F.col(group_col),
            F.explode(_tokens(F.col(text_col))).alias("word"),
        )
        .filter(F.col("word") != "")
        .groupBy(group_col, "word")
        .agg(F.count("*").cast("bigint").alias("__occ"))
    )
    classed = gw.join(word_stats, "word").select(
        group_col,
        "__occ",
        (F.col("__n_toks") == 1).cast("int").alias("__whole"),
        (
            (F.col("__n_toks") > 1)
            & (F.col("__n_single") == F.col("__n_toks"))
        )
        .cast("int")
        .alias("__fb"),
    )
    return (
        classed.groupBy(group_col)
        .agg(
            F.count("*").cast("bigint").alias("n_types"),
            F.sum("__occ").cast("bigint").alias("n_occurrences"),
            F.sum("__whole").cast("bigint").alias("__wt"),
            F.sum("__fb").cast("bigint").alias("__ft"),
            F.sum(F.col("__whole") * F.col("__occ"))
            .cast("bigint")
            .alias("__wo"),
            F.sum(F.col("__fb") * F.col("__occ"))
            .cast("bigint")
            .alias("__fo"),
        )
        .select(
            group_col,
            "n_types",
            "n_occurrences",
            F.expr("1000000 * __wt div n_types")
            .cast("bigint")
            .alias("whole_type_e6"),
            F.expr("1000000 * __ft div n_types")
            .cast("bigint")
            .alias("fallback_type_e6"),
            F.expr("1000000 * __wo div n_occurrences")
            .cast("bigint")
            .alias("whole_occ_e6"),
            F.expr("1000000 * __fo div n_occurrences")
            .cast("bigint")
            .alias("fallback_occ_e6"),
        )
    )
