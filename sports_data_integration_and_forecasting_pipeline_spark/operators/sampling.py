"""Deterministic, engine-reproducible sampling — the repeatable kind a
training-data pipeline needs (re-running a 100 TB curation job must pick
the SAME sample; ``df.sample`` is seed×partitioning dependent and not
reproducible across engines or re-partitions).

Key-hash Bernoulli: keep a row iff ``h60(key) / 2^60 < fraction``. The
decision is a pure function of the row's key — stable under re-partition,
re-ordering, engine choice (md5-derived, same as the dedup hash
discipline), and incremental reruns (a row's in/out never flips). A
narrow filter with no shuffle; Catalyst pushes it into the scan stage.

Stratified variant: per-stratum fractions via a tiny broadcast map —
bounds every stratum's sample rate independently (the standard fix for
skewed class balance in corpus curation).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import h60
from .scoped import persist_scoped

_H60_SPACE = float(1 << 60)


def _key_uniform(key: Column, salt: str) -> Column:
    """Deterministic uniform [0,1) from a key: md5-derived 60-bit hash
    scaled down. ``salt`` decorrelates independent samples over the same
    keys (e.g. train/validation splits)."""
    return h60(F.concat(F.lit(salt), key.cast("string"))) / F.lit(_H60_SPACE)


def hash_sample(
    df: DataFrame,
    key_col: str,
    fraction: float,
    salt: str = "",
) -> DataFrame:
    """Keep ~``fraction`` of rows, decided by each row's key hash."""
    return df.filter(_key_uniform(F.col(key_col), salt) < fraction)


def stratified_hash_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling: stratum → fraction, unlisted
    strata get ``default_fraction``. The fraction lookup is a literal
    map (broadcast by value inside the plan, no join)."""
    mapping = F.create_map(
        *[F.lit(x) for kv in fractions.items() for x in kv]
    )
    frac = F.coalesce(
        mapping[F.col(strata_col)], F.lit(float(default_fraction))
    )
    return df.filter(_key_uniform(F.col(key_col), salt) < frac)


def train_holdout_split(
    df: DataFrame,
    key_col: str,
    holdout_fraction: float = 0.1,
    salt: str = "split",
) -> tuple[DataFrame, DataFrame]:
    """Deterministic disjoint train/holdout split by key hash: the same
    key always lands on the same side, across reruns and engines — the
    leakage-proof split a forecasting backtest needs."""
    u = _key_uniform(F.col(key_col), salt)
    return df.filter(u >= holdout_fraction), df.filter(u < holdout_fraction)


def mixture_sample(
    df: DataFrame,
    domain_col: str,
    weights: dict[str, float],
    key_col: str,
    salt: str = "mix",
) -> DataFrame:
    """Down-sample to a TARGET DOMAIN MIXTURE with maximum retention —
    the training-mix step (e.g. 30% web / 30% code / 40% books) of a
    data pipeline.

    Solves for the largest total T with ``w_d * T <= n_d`` for every
    listed domain (``T = min(n_d / w_d)``), then keeps each domain at
    rate ``w_d * T / n_d`` via the deterministic key-hash coin — so the
    output approximates the target mixture exactly as closely as the
    hash allows, keeps ALL rows of the scarcest domain, and stays
    re-partition/rerun/engine-stable. Domains absent from ``weights``
    are dropped.

    Plan: one tiny per-domain count agg -> broadcast rate join -> narrow
    filter. The big side shuffles zero times.
    """
    wmap = F.create_map(*[F.lit(x) for kv in weights.items() for x in kv])
    counts = (
        df.groupBy(domain_col)
        .agg(F.count("*").cast("double").alias("n_d"))
        .withColumn("w", wmap[F.col(domain_col)])
        .filter(F.col("w").isNotNull() & (F.col("w") > 0))
        .withColumn("ratio", F.col("n_d") / F.col("w"))
    )
    t_max = counts.groupBy().agg(F.min("ratio").alias("t_max"))
    rates = (
        counts.crossJoin(F.broadcast(t_max))
        .withColumn("rate", F.col("w") * F.col("t_max") / F.col("n_d"))
        .select(domain_col, "rate")
    )
    return (
        df.join(F.broadcast(rates), domain_col)
        .filter(_key_uniform(F.col(key_col), salt) < F.col("rate"))
        .drop("rate")
    )


def kfold_assign(
    df: DataFrame,
    key_col: str,
    k: int = 5,
    salt: str = "fold",
) -> DataFrame:
    """``df`` + a ``fold`` column in ``[0, k)`` — deterministic k-fold
    cross-validation assignment by key hash: the same key always lands
    in the same fold regardless of partitioning, engine, or rerun, so
    train/validation splits are reproducible and leakage-free (every
    occurrence of a key shares its fold). One narrow projection; the
    training loop takes ``fold != i`` / ``fold == i`` slices for free.
    """
    fold = F.pmod(
        h60(F.concat(F.lit(salt), F.col(key_col).cast("string"))), F.lit(k)
    ).cast("int")
    return df.withColumn("fold", fold)


def shard_by_key(
    df: DataFrame, key_col: str, n_shards: int = 16, out_col: str = "shard"
) -> DataFrame:
    """Deterministic training-shard assignment: ``shard = h60(key) %
    n_shards`` — a pure function of the row key, so shard membership is
    stable under re-partitioning, reruns, and engine choice (the property
    that makes a training run resumable and its data lineage auditable).
    Narrow projection; the subsequent per-shard write is
    ``df.repartition(out_col).write.partitionBy(out_col)``, one shuffle."""
    return df.withColumn(
        out_col, (h60(F.col(key_col).cast("string")) % n_shards).cast("int")
    )


def shard_manifest(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    n_shards: int = 16,
) -> DataFrame:
    """Per-shard manifest ``(shard, n_docs, total_tokens, key_checksum)``
    — the audit row a shard writer emits alongside each shard so a
    training job can verify completeness without reading the data. The
    checksum is ``bit_xor`` of the 60-bit key hashes: order-independent,
    exact, and engine-portable (integer sums of hashes would overflow
    under ANSI mode)."""
    h = h60(F.col(key_col).cast("string"))
    d = shard_by_key(df, key_col, n_shards).select(
        "shard",
        h.alias("__h"),
        F.size(F.split(F.col(text_col), " ")).cast("bigint").alias("__n"),
    )
    return d.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("__n").cast("bigint").alias("total_tokens"),
        F.expr("bit_xor(__h)").cast("bigint").alias("key_checksum"),
    )


def weighted_systematic_sample(
    df: DataFrame,
    weight_col: str,
    id_col: str = "doc_id",
    step: int = 1000,
) -> DataFrame:
    """Weighted SYSTEMATIC sampling: lay every row's integer weight end to
    end along the (deterministic) ``id_col`` order and keep each row whose
    weight interval contains a multiple of ``step`` — i.e. one pick per
    ``step`` units of cumulative weight, selection probability exactly
    proportional to weight for rows lighter than ``step`` (heavier rows
    are always kept). This is the token-budget form of corpus mixing: with
    weight = token count, the sample holds ~1 doc per ``step`` tokens, the
    standard probability-proportional-to-size design without any RNG —
    re-running the job, re-partitioning, or switching engines picks the
    SAME rows (unlike ``df.sample``).

    All arithmetic is exact integers: the cumulative position comes from
    the distributed two-phase prefix sum
    (:func:`~sports_data_integration_and_forecasting_pipeline_spark.operators.chunking.global_prefix_offsets`
    — bounded per-task state, no single-task global window), and a row is
    kept iff ``w_start DIV step < (w_start + w) DIV step``. Returns the
    sampled rows with their ``w_start`` offset (the audit column: the
    k-th sample's interval contains position ``k * step``).
    """
    from .chunking import global_prefix_offsets

    spans = global_prefix_offsets(
        df, id_col=id_col, n_col=weight_col, bucket_width=4096
    )
    w_start = F.col("tok_start")
    w_end = w_start + F.col(weight_col)
    keep = (w_start - F.pmod(w_start, F.lit(step))) / F.lit(step) < (
        w_end - F.pmod(w_end, F.lit(step))
    ) / F.lit(step)
    return spans.filter(keep).withColumnRenamed("tok_start", "w_start")


def temperature_mixture_weights(
    df: DataFrame, domain_col: str, alpha: float = 0.3
    # selectivity guard on the alpha=0.3 pin:
    # tests/test_selectivity.py::test_temperature_mixture_weights_spread
) -> DataFrame:
    """Temperature-based mixture reweighting — the multilingual /
    multi-domain sampling rule (p_d^alpha renormalized; the alpha=0.3
    convention popularized by multilingual-BERT and mT5's exponential
    smoothing — Devlin et al. 2019 appendix, Xue et al. NAACL 2021;
    public): raising each domain's empirical share p_d to alpha < 1
    UP-samples the tail domains and down-samples the head, without any
    domain ever dominating or vanishing.

    Returns one row per domain: ``(domain_col, n_docs, p, q,
    per_doc_weight)`` where ``q = p^alpha / Σ p'^alpha`` is the target
    mixture share and ``per_doc_weight = q / p`` is the multiplicative
    sampling weight each of the domain's documents carries into a
    weighted sampler (e.g. :func:`weighted_systematic_sample` after
    integer-scaling, or loss-weighting à la
    :func:`~.dedup.soft_dedup_weights`). Floats are 6dp-floor-rounded
    (the ``_r`` discipline) so the report hash-matches the oracle.

    Plan: one map-side-combined count aggregate over the corpus; the
    normalization constant is a 1-row broadcast — domain-granular
    everywhere after the scan."""
    if not (0.0 < alpha <= 1.0):
        raise ValueError(
            f"temperature_mixture_weights: alpha must be in (0, 1] "
            f"(got {alpha})"
        )
    counts = df.groupBy(domain_col).agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    tot = counts.groupBy().agg(
        F.sum("n_docs").cast("bigint").alias("n_total")
    )
    p = F.col("n_docs").cast("double") / F.col("n_total")
    staged = counts.crossJoin(F.broadcast(tot)).withColumn(
        "__pa", F.pow(p, F.lit(alpha))
    )
    z = staged.groupBy().agg(F.sum("__pa").alias("__z"))
    q = F.col("__pa") / F.col("__z")

    def _r6(c: Column) -> Column:
        return F.floor(c * 1e6 + F.lit(0.5)) / 1e6

    return (
        staged.crossJoin(F.broadcast(z))
        .select(
            F.col(domain_col),
            "n_docs",
            _r6(p).alias("p"),
            _r6(q).alias("q"),
            _r6(q / p).alias("per_doc_weight"),
        )
    )


def dsir_logratio_weights(
    df: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 256,
) -> DataFrame:
    """DSIR-style hashed n-gram importance weights (Xie et al., "Data
    Selection for Language Models via Importance Resampling", NeurIPS
    2023; public): score every raw document by how target-like its
    hashed unigram feature counts are, ``w(x) = Σ_tokens
    log(p_target(bucket)/p_raw(bucket))`` — the log-likelihood ratio of
    two bag-of-hashed-ngrams multinomials with add-1 smoothing. Docs
    with high weight are up-sampled into the training mixture.

    Engine-exact discipline: bucket = ``h60(term) % buckets`` (the
    md5-portable hash), the per-BUCKET log-ratio is rounded to integer
    micro-units ONCE (``floor(ln(pt/pr)·1e6 + 0.5)``), and per-doc
    weights are integer SUMS of those bucket constants — so no float
    accumulation order can diverge between engines (the
    text_unigram_perplexity discipline).

    Scale shape: one token explode feeding (a) a ``buckets``-row
    aggregate (map-side combined; target and raw counts ride the same
    pass via conditional sums) and (b) the per-doc weight sum after a
    broadcast join of the tiny bucket table back onto the token stream.
    The bucket table is FIXED SIZE (256 rows) regardless of corpus —
    the hashing is exactly what makes DSIR 100 TB-viable.

    Returns one row per input doc: ``(id_col, n_tokens,
    logratio_e6)``."""
    toks = df.select(
        F.col(id_col),
        target_pred.cast("int").alias("__is_t"),
        F.explode(F.split(F.col(text_col), " ")).alias("__term"),
    ).filter(F.col("__term") != "")
    bucketed = toks.withColumn(
        "__b", h60(F.col("__term")) % F.lit(buckets)
    )
    bc = bucketed.groupBy("__b").agg(
        F.count("*").cast("bigint").alias("__n_raw"),
        F.sum("__is_t").cast("bigint").alias("__n_t"),
    )
    tot = bc.groupBy().agg(
        F.sum("__n_raw").cast("bigint").alias("__t_raw"),
        F.sum("__n_t").cast("bigint").alias("__t_t"),
    )
    pt = (F.col("__n_t") + 1).cast("double") / (
        F.col("__t_t") + buckets
    ).cast("double")
    pr = (F.col("__n_raw") + 1).cast("double") / (
        F.col("__t_raw") + buckets
    ).cast("double")
    lr = bc.crossJoin(F.broadcast(tot)).select(
        "__b",
        F.floor(F.log(pt / pr) * 1e6 + F.lit(0.5))
        .cast("bigint")
        .alias("__lr_e6"),
    )
    return (
        bucketed.join(F.broadcast(lr), "__b")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("__lr_e6").cast("bigint").alias("logratio_e6"),
        )
    )


def weighted_sample_without_replacement(
    df: DataFrame,
    weight_col: str,
    k: int,
    key_col: str = "doc_id",
    salt: str = "es",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement via exponential keys
    (Efraimidis & Spirakis, IPL 2006; public): each row draws a
    deterministic uniform ``u`` from its key hash and ranks by
    ``u^(1/w)`` — the top-k ranked rows are a weighted random sample
    without replacement, selection probability proportional to weight
    at every step. The standard one-pass weighted-reservoir primitive,
    here RNG-free: ``u`` comes from the md5 key hash, so reruns,
    re-partitions, and engines all pick the SAME rows (the repo's
    deterministic-sampling discipline).

    Ranking uses the log form ``ln(u)/w`` (monotone-equivalent to
    ``u^(1/w)`` for positive weights — avoids pow underflow at large
    weights); ``u`` is ``(h60+1)/2^60`` so it is never 0. Ties (same
    double key) break on ``key_col``. The published ``es_key_e9`` is the
    e9-rounded log-key, hash-stable across engines (same IEEE op tree).

    Scale shape: one narrow projection + a global top-k — Spark plans
    ``TakeOrderedAndProject`` (per-partition heap of k, then a k-row
    merge at the driver), NEVER a full sort of the corpus. Rows with
    non-positive weight are excluded (zero-weight rows must never be
    sampled; the ES transform is undefined for them)."""
    w = F.col(weight_col).cast("double")
    u = (
        h60(F.concat(F.lit(salt), F.col(key_col).cast("string"))) + 1
    ).cast("double") / F.lit(_H60_SPACE)
    key = F.log(u) / w
    return (
        df.filter(w > 0)
        .withColumn("__es_key", key)
        .orderBy(F.desc("__es_key"), F.col(key_col))
        .limit(k)
        .withColumn(
            "es_key_e9",
            F.floor(F.col("__es_key") * 1e9 + F.lit(0.5)).cast("bigint"),
        )
        .drop("__es_key")
    )


def waterfill_token_caps(
    df: DataFrame,
    domain_col: str = "lang",
    text_col: str = "text",
    budget_num: int = 1,
    budget_den: int = 2,
    ntok_col: str | None = None,
) -> DataFrame:
    """Token-budget-constrained mixture solving by waterfilling — the
    cap-aware analogue of :func:`temperature_mixture_weights` (classic
    waterfilling allocation, Boyd & Vandenberghe "Convex Optimization"
    §5.5.3 example; public): given per-domain token supplies ``n_d`` and
    a total training budget ``B = total·budget_num div budget_den``,
    find the unique water level ``tau`` such that allocating
    ``min(n_d, tau)`` to every domain spends the budget. Small domains
    are taken whole (uncapped); large domains are clipped at the shared
    level — the max-min-fair allocation, and exactly what "cap every
    source at N tokens" curation rules approximate by hand.

    Closed form, no iteration: sort domains by supply ascending (ties
    by name — the determinism discipline); domain at rank r with prefix
    sum S_prev of smaller supplies is UNCAPPED iff
    ``n_r·(m − r + 1) <= B − S_prev`` — a pure integer predicate (the
    prefix-consistency property of waterfilling makes it independently
    evaluable per row, so the whole solve is two window passes over the
    m-row domain table). With j uncapped domains supplying S_j tokens,
    ``tau = (B − S_j) div (m − j)``; integer floor keeps the spend at
    most B with slack < m tokens.

    Returns one row per domain: ``(domain_col, n_tokens, is_capped,
    water_level, alloc_tokens)``. Degenerate inputs DEGRADE (the r12
    arrival discipline): budget >= total supply → nobody capped and
    ``water_level`` NULL (no division by m − j = 0); budget 0 → every
    domain capped at level 0; a zero-token domain is uncapped with
    alloc 0.

    Scale shape: one map-side-combined token-count aggregate over the
    corpus (``sum(size(split(text)))`` — no explode — or, when
    ``ntok_col`` names a pre-counted per-row token column,
    ``sum(ntok_col)`` with no string pass at all), then everything
    runs on the m-row domain table: two single-partition window passes
    and two 1-row broadcast joins, all bounded by the domain count, not
    the corpus. The m-row count table feeds three consumers (the total,
    the fill aggregate, the output) — it is scope-persisted so the
    corpus aggregate runs ONCE."""
    if budget_num < 0 or budget_den <= 0:
        raise ValueError(
            "waterfill_token_caps: budget fraction must be "
            f">= 0 with positive denominator (got {budget_num}/{budget_den})"
        )
    # ntok_col: a pre-counted per-row token column (composed pipelines
    # that already carry n_tok skip the re-split — same result, one
    # string pass fewer)
    supply = (
        F.sum(F.col(ntok_col))
        if ntok_col is not None
        else F.sum(F.size(F.split(F.col(text_col), " ")))
    )
    counts = persist_scoped(
        "waterfill_domain_counts",
        df.groupBy(domain_col).agg(
            supply.cast("bigint").alias("n_tokens")
        ),
    )
    tot = counts.groupBy().agg(
        F.sum("n_tokens").cast("bigint").alias("__total"),
        F.count("*").cast("bigint").alias("__m"),
    )
    # unpartitioned window is bounded by the DOMAIN table (m rows —
    # mixture domains, never corpus docs); the counts agg reduced first
    w = Window.orderBy("n_tokens", domain_col)
    staged = (
        counts.crossJoin(F.broadcast(tot))
        .withColumn(
            "__budget",
            F.expr(f"__total * {int(budget_num)} div {int(budget_den)}").cast(
                "bigint"
            ),
        )
        .withColumn("__r", F.row_number().over(w).cast("bigint"))
        .withColumn(
            "__s_prev",
            F.coalesce(
                F.sum("n_tokens").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).cast("bigint"),
        )
        .withColumn(
            "__uncapped",
            F.col("n_tokens") * (F.col("__m") - F.col("__r") + 1)
            <= F.col("__budget") - F.col("__s_prev"),
        )
    )
    fill = staged.groupBy().agg(
        F.sum(F.col("__uncapped").cast("int")).cast("bigint").alias("__j"),
        F.sum(
            F.when(F.col("__uncapped"), F.col("n_tokens")).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("__s_j"),
    )
    tau = F.when(
        F.col("__j") < F.col("__m"),
        F.expr("(__budget - __s_j) div (__m - __j)"),
    ).cast("bigint")
    return (
        staged.crossJoin(F.broadcast(fill))
        .select(
            domain_col,
            "n_tokens",
            (~F.col("__uncapped")).alias("is_capped"),
            tau.alias("water_level"),
            F.when(F.col("__uncapped"), F.col("n_tokens"))
            .otherwise(tau)
            .cast("bigint")
            .alias("alloc_tokens"),
        )
    )


def budget_cap_prefix_select(
    df: DataFrame,
    caps: DataFrame,
    domain_col: str = "lang",
    ntok_col: str = "n_tok",
    id_col: str = "doc_id",
    salt: str = "v6",
) -> DataFrame:
    """Deterministic per-domain selection DOWN TO a token cap: order each
    domain's documents by key hash (the house RNG-free shuffle — the
    same sample on every rerun, engine, and partitioning), take the
    prefix whose cumulative tokens fit the domain's cap, and report the
    realized allocation. The execution half of waterfilling: downstream
    of :func:`waterfill_token_caps`, this is what "cap every source at
    N tokens" actually does to the corpus.

    ``caps`` must carry ``(domain_col, alloc_tokens)`` — one row per
    domain, bounded by the domain count (broadcast). Returns one row
    per domain: ``(domain_col, n_docs_in, alloc_tokens, n_docs_sel,
    realized_tokens, fill_e6)`` where ``fill_e6 = 1e6·realized div
    alloc`` (NULL when alloc = 0 — the degenerate-input discipline; a
    zero-cap domain reports 0 selected, never divides).

    Scale shape: the cumulative token sum is NOT a naive per-domain
    window (with a handful of domains that funnels the whole corpus
    through m tasks — the exact anti-pattern
    :func:`~.chunking.global_prefix_offsets` documents). It is the
    two-phase prefix sum over HASH order: the 60-bit key hash is
    uniform, so its top 12 bits are an order-preserving bucket key —
    4096 fixed hash-range buckets per domain run the within-bucket
    running sum in parallel, per-(domain, bucket) totals collapse to a
    tiny m·4096-row table, the exclusive per-domain prefix over
    THAT is a one-task window over KBs, and the offsets broadcast back.
    One broadcast cap join, one hash shuffle on (domain, bucket), one
    m-granular rollup, map-side combined."""
    # top 12 bits of the uniform 60-bit hash: 4096 order-preserving
    # hash-range buckets per domain
    hk = h60(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    base = df.withColumn("__hk", hk).withColumn(
        "__hb", F.shiftright(F.col("__hk"), 48).cast("int")
    )
    # phase 1 arm A: per-(domain, bucket) totals — a map-side-combined
    # agg over a plain scan (no caps join needed), collapsing the
    # corpus to <= m * 4096 rows; the exclusive per-domain prefix over
    # THAT is a window over KBs, then broadcasts back.
    totals = base.groupBy(domain_col, "__hb").agg(
        F.sum(ntok_col).alias("__btot")
    )
    w_b = (
        Window.partitionBy(domain_col)
        .orderBy("__hb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        domain_col,
        "__hb",
        F.coalesce(F.sum("__btot").over(w_b), F.lit(0)).alias("__boff"),
    )
    # phase 1 arm B: within-bucket running sum — one hash shuffle on
    # (domain, bucket), every task bounded to one bucket's rows.
    w_in = (
        Window.partitionBy(domain_col, "__hb")
        .orderBy("__hk", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sel = (
        base.join(F.broadcast(caps), domain_col)
        .withColumn("__cum_in", F.sum(ntok_col).over(w_in))
        .join(F.broadcast(offsets), [domain_col, "__hb"])
        .withColumn("__cum", F.col("__boff") + F.col("__cum_in"))
        .withColumn("__in", F.col("__cum") <= F.col("alloc_tokens"))
    )
    agg = sel.groupBy(domain_col, "alloc_tokens").agg(
        F.count("*").cast("bigint").alias("n_docs_in"),
        F.sum(F.col("__in").cast("int")).cast("bigint").alias("n_docs_sel"),
        F.coalesce(
            F.sum(F.when(F.col("__in"), F.col(ntok_col))), F.lit(0)
        )
        .cast("bigint")
        .alias("realized_tokens"),
    )
    return agg.select(
        domain_col,
        "n_docs_in",
        "alloc_tokens",
        "n_docs_sel",
        "realized_tokens",
        F.when(
            F.col("alloc_tokens") > 0,
            F.expr("1000000 * realized_tokens div alloc_tokens"),
        )
        .cast("bigint")
        .alias("fill_e6"),
    )
