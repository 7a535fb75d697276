"""Deduplication operators for large-scale corpus pipelines (SURVEY §7.3-7
north-star scope; the reference has no text/dedup surface — its only dedup
is ``drop_duplicates("game_id")`` at ``web/app.py:99``, covered by the
markets operators).

Five families, each a standard corpus-dedup technique re-expressed as
shuffle-minimal Spark plans, plus the incremental snapshot-vs-corpus path
(:func:`incremental_minhash_pairs`):

- **Exact** (raw and normalization-aware): md5 fingerprint + one
  hash-partitioned window (single shuffle on the fingerprint;
  fingerprints are ~unique so no skew).
- **N-gram Jaccard**: word-shingle inverted index self-joined on shingle.
  Hot shingles (doc frequency > ``max_df``) are dropped via a broadcast
  anti-join before the pair join — the standard skew guard that keeps the
  candidate-pair count near-linear at 100 TB.
- **MinHash + LSH**: 128 universal-hash minima per doc (one shuffle:
  explode → groupBy(doc) with 128 map-side-partial ``min`` aggs), banded
  into 16 buckets of 8 rows; candidate pairs meet in a bucket equi-join
  instead of an O(n²) cross join. 128/16 is the classic production
  setting: per-band collision prob is j^8, so the S-curve threshold sits
  near j ≈ (1/16)^(1/8) ≈ 0.70.
- **SimHash**: 16-bit signature computed entirely in narrow (shuffle-free)
  array expressions; near-dup pairs via 4-bit band join + Hamming filter
  (pigeonhole: hamming ≤ 3 ⇒ some 4-bit band equal).

Hash discipline: every hash derives from md5 (byte-identical hex in Spark
and DuckDB), so the DuckDB oracles reproduce results exactly:
``h32(s) = int(md5(s)[:8], 16) ∈ [0, 2^32)``. MinHash permutations are
``(a·h + b) mod p`` with ``a < 2^30`` (so ``a·h < 2^62`` never overflows
int64) and ``p`` the smallest prime > 2^32. No UDFs anywhere — all
JVM-side, whole-stage-codegen'd expressions.
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .parallelism import ensure_parallelism, exclusive_prefix_offsets

# release_caches is re-exported for callers that drain dedup queries
from .scoped import fixpoint, persist_scoped, release_caches  # noqa: F401

NUM_MINHASH = 128  # production-grade signature: est_jaccard granularity 1/128
MINHASH_BANDS = 16  # 16 bands x 8 rows -> collision prob (j^8 per band)
MINHASH_PRIME = 4_294_967_311  # smallest prime > 2^32
SIMHASH_BITS = 16
SIMHASH_PAIR_BITS = 60  # wide fingerprint for pair joins (see simhash60)
SIMHASH_BAND_BITS = 15  # 4 bands x 15 bits -> 32768 bucket values/band


def _mh_params(i: int) -> tuple[int, int]:
    """Deterministic universal-hash constants (Knuth multiplicative mixing;
    `| 1` keeps the multiplier odd, hence invertible mod 2^30)."""
    a = (2_654_435_761 * (i + 1)) % (1 << 30) | 1
    b = (40_503 * (i + 1) + 2_531_011) % (1 << 32)
    return a, b


MINHASH_PARAMS: tuple[tuple[int, int], ...] = tuple(
    _mh_params(i) for i in range(NUM_MINHASH)
)


def h32(c: Column) -> Column:
    """32-bit deterministic hash shared bit-for-bit with DuckDB:
    first 8 hex digits of md5, parsed base-16."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def h60(c: Column) -> Column:
    """60-bit variant (15 hex digits) — used as the join key for shingle
    identity: joining/shuffling 8-byte longs instead of ~50-char strings
    cuts shuffle bytes ~6× and makes hash-collision odds negligible
    (~n²/2^61)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles (with duplicates) from a pre-materialized token
    array: ``array_join(slice(toks, i, n))`` per position. slice clamps at
    the array end, so docs with < n tokens yield one short shingle —
    identical to DuckDB ``list_slice``/``array_to_string``. (slice beats a
    per-position element-get chain ~4× — one bounds-checked copy per
    shingle instead of n token lookups.)"""
    count = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )


def exact_dup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: md5-fingerprint groups; min id per group is canonical.
    One shuffle (hash-partition by fingerprint)."""
    fp = F.md5(F.col(text_col))
    w = Window.partitionBy("fp")
    canonical = F.min(id_col).over(w)
    return df.select(id_col, fp.alias("fp")).select(
        id_col,
        "fp",
        canonical.alias("canonical_id"),
        (F.col(id_col) != canonical).alias("is_duplicate"),
    )


def shingle_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_df: int | None = 100,
    unique_id: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard over the shingle inverted index: pairs sharing
    ≥ 1 shingle, with ``jaccard = |A∩B| / (|A| + |B| − |A∩B|)``. With
    ``max_df`` set, shingle sets are first capped to the sub-hot space and
    the score is exact Jaccard over that capped space (doc sizes are
    recomputed after the hot-shingle drop, so the score is unbiased for
    docs containing hot shingles).

    With the default ``unique_id=True``, ``id_col`` must uniquely key the
    input rows (the :func:`shingle_rows` lead-window enumerator stitches
    n-grams ACROSS texts when two rows share an id). For inputs with
    non-PK ids pass ``unique_id=False``: each physical row shingles
    independently, and rows sharing an id are then scored as ONE document
    whose shingle set is the union of its rows' shingle sets.

    Scale shape: explode (narrow) → optional broadcast anti-join dropping
    shingles with doc-frequency > ``max_df`` (the hot-key guard; the hot
    list is tiny by construction) → shingle equi-join (the inverted
    index) → one groupBy on the pair. Candidate volume is Σ df(s)² over
    surviving shingles — near-linear once hot shingles are capped.
    Shingle identity is the 60-bit md5 hash (see :func:`h60`): the
    inverted index shuffles and compares 8-byte longs, never strings.
    """
    # r8: shingles come from the codegen lead-window enumerator — the
    # transform/array_distinct lambda form is interpreted per element
    # (SCALING.md round-8 finding; measured 6× on the corpus pass at
    # sf1). ensure_parallelism hash-partitions DOCS by id, so the
    # per-doc window, the distinct, and the size count all reuse that
    # one doc-granular exchange (ClusteredDistribution(id ⊆ keys)).
    sh = (
        shingle_rows(
            ensure_parallelism(df, id_col),
            text_col=text_col,
            id_col=id_col,
            n=n,
            unique_id=unique_id,
        )
        .select(F.col(id_col), h60(F.col("shingle")).alias("sh"))
        .distinct()
        .withColumn("n_sh", F.count("*").over(Window.partitionBy(id_col)))
        .select(id_col, "n_sh", "sh")
    )
    # referenced three times (df-count, both join sides): persist so the
    # tokenize+md5 explode runs once per action. At 100 TB the same role
    # is played by writing the inverted index to a bucketed table.
    sh = persist_scoped("shingle_index", sh)
    if max_df is not None:
        hot = sh.groupBy("sh").count().filter(F.col("count") > max_df).select("sh")
        sh = sh.join(F.broadcast(hot), "sh", "left_anti")
        # Recompute per-doc sizes over the SURVIVING shingle space, so the
        # score is exact Jaccard over what is actually joined (otherwise
        # docs containing hot shingles get a downward-biased score: n_a/n_b
        # would count shingles n_common can never include). Costs one
        # extra exchange on the post-filter index — which has just shed its
        # hottest postings, so it's the cheap one to shuffle.
        sh = sh.withColumn(
            "n_sh", F.count("*").over(Window.partitionBy(id_col))
        )
    a = sh.select(
        F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"), "sh"
    )
    b = sh.select(
        F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"), "sh"
    )
    inter = F.count("*").cast("long")
    return (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(inter.alias("n_common"))
        .select(
            "id_a",
            "id_b",
            "n_a",
            "n_b",
            "n_common",
            (
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


def shingle_jaccard_prefix_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_df: int | None = 100,
    threshold_pct: int = 50,
    unique_id: bool = True,
) -> DataFrame:
    """Thresholded n-gram Jaccard near-dup pairs via PREFIX FILTERING —
    the production form of the similarity join (PPJoin/AllPairs family,
    Xiao et al., WWW'08 — public): only pairs with
    ``jaccard ≥ threshold_pct/100`` are returned, which lets candidate
    generation index just each doc's RAREST few shingles instead of all
    of them.

    Prefix principle (exact, no recall loss): order all shingles by
    global doc-frequency ascending (ties by hash — a total order both
    engines reproduce). If ``J(A,B) ≥ t`` then
    ``|A∩B| ≥ ⌈t·|A|⌉`` and ``≥ ⌈t·|B|⌉``, so A and B must share one of
    their first ``|X| − ⌈t·|X|⌉ + 1`` shingles in that order — any pair
    missed by the prefix join provably fails the threshold. All prefix
    math is exact integers (``⌈t·n⌉ = (threshold_pct·n + 99) DIV 100``),
    and the final filter is the integer cross-multiplication
    ``100·|A∩B| ≥ threshold_pct·(|A|+|B|−|A∩B|)`` — no float threshold
    edge cases in either engine.

    Scale shape: explode (narrow, spread) → df aggregate (map-side
    combine; one shuffle on shingle) → broadcast anti-join drops hot
    shingles (df > ``max_df``, the skew guard — kept OUTSIDE the window
    so no executor ever materializes a hot shingle's full posting list)
    → df equi-join annotates survivors (reuses the aggregate's
    partitioning) → per-doc rank/size window (one shuffle on doc) → the
    PREFIX index self-join meets candidates — its posting lists are a
    small fraction of the full index's, so candidate volume collapses —
    → verification joins each distinct pair back to the per-doc shingle
    arrays and computes the exact intersection. Exactness: identical to
    :func:`shingle_jaccard_pairs` output filtered to the threshold
    (property-tested in tests/test_dedup.py).
    """
    t = threshold_pct
    # r8: codegen lead-window shingles (see shingle_jaccard_pairs note —
    # including the unique_id contract: non-PK ids need unique_id=False)
    idx = (
        shingle_rows(
            ensure_parallelism(df, id_col),
            text_col=text_col,
            id_col=id_col,
            n=n,
            unique_id=unique_id,
        )
        .select(F.col(id_col), h60(F.col("shingle")).alias("sh"))
        .distinct()
    )
    # the tokenize+md5 explode feeds the df aggregate AND the surviving
    # index — run it once
    idx = persist_scoped("jaccard_prefix_idx", idx)
    dfreq = idx.groupBy("sh").agg(F.count("*").alias("__df"))
    if max_df is not None:
        hot = dfreq.filter(F.col("__df") > max_df).select("sh")
        idx = idx.join(F.broadcast(hot), "sh", "left_anti")
        dfreq = dfreq.filter(F.col("__df") <= max_df)
    surv = idx.join(dfreq, "sh")
    w_rank = Window.partitionBy(id_col).orderBy("__df", "sh")
    # n_sh rides the SAME (doc, __df-order) window spec as the prefix
    # rank via an unbounded-unbounded frame (r16): with the old separate
    # unordered-partition count window the physical plan ran TWO Window
    # passes over the doc exchange; same spec + same sort = ONE
    # WindowExec, one sort (frames may differ within a node).
    w_all = w_rank.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    sized = persist_scoped(
        "jaccard_prefix_sized",
        surv.withColumn("n_sh", F.count("*").over(w_all)).withColumn(
            "rk", F.row_number().over(w_rank)
        ),
    )
    # prefix length |A| − ⌈t·|A|⌉ + 1, exact integer arithmetic
    plen = (
        F.col("n_sh")
        - F.expr(f"({t} * n_sh + 99) DIV 100")
        + F.lit(1)
    )
    pref = sized.filter(F.col("rk") <= plen).select(id_col, "sh")
    # r13: a posting-list candidate stage (groupBy(sh) → collect_list →
    # JVM-side i<j enumeration) was built, verified output-identical,
    # and REJECTED on measurement: the cold-run band tightened 3.98× →
    # 1.35×, but bench-style warm runs cost +0.6 s (1.35 → 1.9 s) and
    # the 252-entry battery context amplified the collect_list buffers'
    # heap-pressure sensitivity to ~3× (4.16 s vs 1.38 s in-battery,
    # dragging split_leakage_audit 1.57 → 4.17 s with it). The
    # self-join stays: its per-run variance is scheduling noise, not a
    # plan defect, and it is the fastest measured form where the bench
    # actually runs. Full A/B tables in SCALING.md (r13 section).
    cand = (
        pref.select(F.col(id_col).alias("id_a"), "sh")
        .join(pref.select(F.col(id_col).alias("id_b"), "sh"), "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # per-doc surviving shingle arrays for exact verification (reuses the
    # doc partitioning the window established — no extra exchange)
    sets = sized.groupBy(id_col).agg(
        F.collect_list("sh").alias("shs"),
        F.count("*").cast("long").alias("n_sh"),
    )
    inter = F.size(F.array_intersect("shs_a", "shs_b")).cast("long")
    scored = (
        cand.join(
            sets.select(
                F.col(id_col).alias("id_a"),
                F.col("shs").alias("shs_a"),
                F.col("n_sh").alias("n_a"),
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col(id_col).alias("id_b"),
                F.col("shs").alias("shs_b"),
                F.col("n_sh").alias("n_b"),
            ),
            "id_b",
        )
        .withColumn("n_common", inter)
    )
    return (
        scored.filter(
            100 * F.col("n_common")
            >= t * (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        )
        .select(
            "id_a",
            "id_b",
            "n_common",
            (
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    unique_id: bool = True,
) -> DataFrame:
    """``NUM_MINHASH``-column MinHash signature (``mh0..mh127``): per
    universal hash i, the min of ``(a_i·h32(shingle) + b_i) mod p`` over
    the doc's shingles. One shuffle — explode is narrow, the groupBy does
    map-side partial mins so only (doc, 128 longs) rows cross the wire.

    ``unique_id`` contract as in :func:`shingle_jaccard_pairs`: with the
    default, ``id_col`` must be a row key (lead-window shingling stitches
    n-grams across rows sharing an id); pass ``unique_id=False`` for
    non-PK ids — rows sharing an id then get ONE signature over the
    union of their shingle sets."""
    # r8: codegen lead-window shingles (min over duplicates == min over
    # distinct, so no dedup needed); the groupBy(id) below reuses the
    # doc-granular exchange ensure_parallelism planted
    sh = shingle_rows(
        ensure_parallelism(df, id_col),
        text_col=text_col,
        id_col=id_col,
        n=n,
        unique_id=unique_id,
    ).select(F.col(id_col), h32(F.col("shingle")).alias("h"))
    aggs = [
        F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(
            f"mh{i}"
        )
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """MinHash LSH candidate pairs: band the 128-long signature into
    ``bands`` buckets (md5 of the band's values), meet candidates in a
    (band, bucket) equi-join, and score each pair by the fraction of
    matching minhashes (the unbiased Jaccard estimate).

    Scale shape: signatures (1 shuffle, persisted — they feed three
    subtrees) → explode 16 band rows/doc carrying ONLY (id, band, bh)
    (shipping the 128-long signature array through the 16× explode would
    multiply the band shuffle ~30× in bytes; it stays home) → bucket
    equi-join meets candidates (only near-dups collide, so the output is
    ~linear) → dedup the pair → two equi-joins back to the compact
    signature table score each *distinct* pair once.
    """
    sig = persist_scoped(
        "minhash_sig", minhash_signatures(df, text_col, id_col, n)
    )
    bands_df = minhash_band_table(sig, id_col, bands)
    a = bands_df.select(F.col(id_col).alias("id_a"), "band", "bh")
    b = bands_df.select(F.col(id_col).alias("id_b"), "band", "bh")
    cand = (
        a.join(b, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return _score_pairs(cand, sig, id_col)


def minhash_band_table(
    sig: DataFrame, id_col: str = "doc_id", bands: int = MINHASH_BANDS
) -> DataFrame:
    """``(id, band, bh)`` LSH band-bucket table from a signature table —
    the compact corpus state an incremental dedup persists between
    snapshots (one row per doc per band; the 128-long signature stays in
    the signature table, never riding this explode)."""
    rows = NUM_MINHASH // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.md5(
                    F.concat_ws(
                        "_", *[F.col(f"mh{bi * rows + j}") for j in range(rows)]
                    )
                ).alias("bh"),
            )
            for bi in range(bands)
        ]
    )
    return sig.select(
        F.col(id_col), F.explode(band_structs).alias("bb")
    ).select(id_col, "bb.band", "bb.bh")


def _score_pairs(cand: DataFrame, sig: DataFrame, id_col: str) -> DataFrame:
    """Estimated Jaccard for distinct candidate ``(id_a, id_b)`` pairs:
    two equi-joins back to the compact signature table, then the fraction
    of matching minhashes."""
    sig_arr = sig.select(
        F.col(id_col),
        F.array(*[F.col(f"mh{i}") for i in range(NUM_MINHASH)]).alias("sig"),
    )
    matches = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m
        )
    )
    return (
        cand.join(
            sig_arr.select(
                F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a")
            ),
            "id_a",
        )
        .join(
            sig_arr.select(
                F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b")
            ),
            "id_b",
        )
        .select(
            "id_a", "id_b", (matches / float(NUM_MINHASH)).alias("est_jaccard")
        )
    )


def incremental_minhash_pairs(
    corpus_sig: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """Dedup a NEW snapshot against an existing corpus WITHOUT recomputing
    the corpus: MinHash signatures are per-document, so the corpus
    contributes only its persisted signature table (``corpus_sig``, as
    written by :func:`minhash_signatures`; the band table derives from it
    narrowly). Only the new docs are shingled. Candidates are the band
    collisions touching at least one new doc — new×corpus plus new×new —
    which is exactly the subset of a full recompute's pairs that involve a
    new doc, so results hash-match the full-recompute oracle restricted to
    that subset.

    The operational 100 TB path (mirrors the reference's append-only
    canonical semantics, src/ingestion.py:132-142): corpus state grows by
    appending ``new_sig`` after each snapshot; per-snapshot cost is
    O(new docs) shingling + a band join against the (bucketed) corpus
    band table — never a full-corpus rescan.
    """
    new_sig = persist_scoped(
        "minhash_inc_new_sig",
        minhash_signatures(new_docs, text_col, id_col, n),
    )
    # the corpus signature table feeds banding AND scoring; in production
    # it is a persisted table already — pin it here so a freshly-computed
    # one isn't re-derived per subtree
    corpus_sig = persist_scoped("minhash_inc_corpus_sig", corpus_sig)
    all_sig = corpus_sig.unionByName(new_sig)
    new_bands = minhash_band_table(new_sig, id_col, bands)
    all_bands = minhash_band_table(all_sig, id_col, bands)
    cand = (
        new_bands.select(F.col(id_col).alias("id_n"), "band", "bh")
        .join(
            all_bands.select(F.col(id_col).alias("id_o"), "band", "bh"),
            ["band", "bh"],
        )
        .filter(F.col("id_n") != F.col("id_o"))
        .select(
            F.least("id_n", "id_o").alias("id_a"),
            F.greatest("id_n", "id_o").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return _score_pairs(cand, all_sig, id_col)


def compact_signatures(
    snapshots: list[DataFrame],
    tombstones: DataFrame | None = None,
    id_col: str = "doc_id",
    version_col: str | None = None,
) -> DataFrame:
    """Signature-state COMPACTION for the incremental dedup lifecycle:
    merge N per-snapshot signature tables (as written by
    :func:`minhash_signatures` after each ingest) into one bounded corpus
    state, dropping tombstoned (deleted) docs — the signature-side mirror
    of the canonical sink's retention pruning. Without this, an
    append-only signature log grows one table per snapshot forever and
    re-ingested docs get double-banded.

    Duplicate policy: signatures are a pure function of the text, so a
    doc re-appearing across snapshots carries identical rows and
    ``dropDuplicates(id)`` is exact. When docs can be REVISED between
    snapshots, pass ``version_col`` — the compaction then keeps each
    doc's highest version via a pinned-tiebreak ``row_number`` instead.

    Scale shape: the union is narrow (metadata-only over N parquet
    scans); dedup is one hash shuffle on the id (or one id-partitioned
    window for the versioned path — same exchange); the tombstone drop is
    a broadcast anti-join (deletions are small relative to the corpus)
    that reuses the id partitioning. Output is the same schema
    :func:`incremental_minhash_pairs` consumes as ``corpus_sig``.
    """
    if not snapshots:
        raise ValueError("compact_signatures: need at least one snapshot")
    merged = reduce(lambda a, b: a.unionByName(b), snapshots)
    if version_col is None:
        merged = merged.dropDuplicates([id_col])
    else:
        # Tiebreak is pinned on the FULL row (version desc, then every
        # remaining column asc): two snapshots carrying the same
        # (id, version) with different payloads would otherwise be
        # resolved by shuffle arrival order — nondeterministic across
        # runs/partitionings, which breaks the determinism contract.
        rest = sorted(
            c for c in merged.columns if c not in (id_col, version_col)
        )
        w = Window.partitionBy(id_col).orderBy(F.desc(version_col), *rest)
        merged = (
            merged.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .drop("__rk")
        )
    if tombstones is not None:
        # no broadcast HINT: tombstone sets grow with cumulative
        # deletions, unbounded over a table's life — AQE broadcasts the
        # anti-join side at runtime while it measures small and degrades
        # to a shuffle join when it doesn't, instead of the hint forcing
        # a driver-sized build of an unbounded set (r7 broadcast audit)
        merged = merged.join(
            tombstones.select(id_col).distinct(),
            id_col,
            "left_anti",
        )
    return merged


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    node_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Duplicate CLUSTERS from near-dup pairs: assign every node the
    minimum node id reachable in its connected component (unpaired nodes
    label themselves) — the step that turns pairwise dedup output into
    keep/drop decisions (keep the min-id canonical doc per cluster).

    Iterative min-label propagation WITH per-round path compression:
    each round first composes the label map with itself
    (``label ← min(label, label(label))`` — sound because every label
    value is a node id of the same component), then joins the
    symmetrized edge list against the compressed labels and takes the
    per-node min over neighbors and self. Compression doubles the
    effective reach per round, so rounds needed = O(log diameter)
    instead of O(diameter). The rounds run through ``scoped.fixpoint``
    (a checkpoint per round, so round N doesn't replay rounds 1..N-1),
    which stops when Σlabel, observed on the checkpoint job, is
    unchanged; if the labels still change in round ``max_iter``, this
    raises ``RuntimeError`` rather than return a partial labelling.
    """
    # Materialize the edge list ONCE before the loop (r15, found by the
    # full-battery sf1 sweep): `sym` feeds the neighbor join on EVERY
    # round, and without materialization each round re-executed the
    # entire upstream pair-generation pipeline (banded join + hamming
    # verify + dropDuplicates) — invisible at sf0.1 where that pipeline
    # costs ~1 s, a ~minute PER ROUND at sf1. r16: the materialization is
    # a scoped PERSIST of the m-hash-partitioned table instead of a
    # localCheckpoint — a checkpoint scans as UnknownPartitioning(0), so
    # every round re-exchanged the PAIR table (the biggest side in the
    # loop) before its neighbor join; the persisted hashpartitioning(m)
    # is reused round-over-round, leaving only the label side to move.
    sym = persist_scoped(
        "cc_sym",
        edges.select(F.col(src_col).alias("n"), F.col(dst_col).alias("m"))
        .union(
            edges.select(F.col(dst_col).alias("n"), F.col(src_col).alias("m"))
        )
        .repartition("m"),
    )
    compress = False  # round 1's labels are still the identity map

    def _round(labels: DataFrame) -> DataFrame:
        # Path compression before each propagation (r16): label values
        # are node ids of the same component, so label(label(n)) is a
        # sound (and no larger) label — composing the label map with
        # itself doubles the effective reach per round, turning O(d)
        # propagation rounds into O(log d) (measured 12 → 7 rounds on
        # the sf0.1 simhash graph, whose diameter is ~11). The compose
        # join runs over the FLAT checkpointed label table (cheap). The
        # left join + coalesce keeps any label value that is not a
        # known node (cannot happen for edge endpoints ⊆ nodes, but a
        # degrade beats a dropped row).
        nonlocal compress
        if compress:
            lmap = labels.toDF("__ln", "__ll")
            labels = labels.join(
                lmap, labels["label"] == lmap["__ln"], "left"
            ).select(
                "n", F.least("label", F.coalesce("__ll", "label")).alias("label")
            )
        compress = True
        neighbor = sym.join(labels.withColumnRenamed("n", "m"), "m")
        return (
            labels.unionByName(neighbor.select("n", "label"))
            .groupBy("n")
            .agg(F.min("label").alias("label"))
        )

    # Min-label propagation only ever DECREASES a node's label, so Σlabel
    # is strictly monotone and Σ unchanged ⟺ no label changed (decimal
    # accumulator: Σ over corpus-scale long ids must not wrap).
    labels, _, converged = fixpoint(
        "connected_components",
        nodes.select(
            F.col(node_col).alias("n"),
            F.col(node_col).cast("long").alias("label"),
        ),
        _round,
        F.sum(F.col("label").cast("decimal(38,0)")),
        max_iter,
    )
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    return labels.select(
        F.col("n").alias(node_col), F.col("label").alias("cluster_id")
    )


def _simhash_df(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_bits: int,
    out_col: str,
    token_hash=None,
) -> DataFrame:
    """SimHash over distinct whitespace tokens: bit i is set iff ≥ half
    the token hashes have bit i set. Entirely narrow array expressions —
    zero shuffles; scans 100 TB at parquet-read speed.

    The token-hash array is materialized in its OWN projection before the
    per-bit votes: the n_bits filter expressions all reference the named
    column instead of re-inlining the tokenize+md5 subtree (Spark does not
    common-subexpression-eliminate across them, and CollapseProject keeps
    multi-referenced non-cheap aliases staged) — measured 12× on the
    sf0.1 documents table (7.1 s → 0.6 s for the 60-bit signature)."""
    hs = F.transform(
        F.array_distinct(F.split(F.col(text_col), " ")), token_hash or h32
    )
    staged = df.select(F.col(id_col), hs.alias("__hs"))
    hcol = F.col("__hs")
    n = F.size(hcol)

    def bit_term(i: int) -> Column:
        # bit i set ⟺ h & 2^i ≠ 0; single-arg lambda (Spark dispatches on
        # lambda arity) closing over the mask literal.
        mask = F.lit(1 << i)
        votes = F.size(F.filter(hcol, lambda h: h.bitwiseAND(mask) != 0))
        return (2 * votes >= n).cast("long") * F.lit(1 << i)

    sig = reduce(add, [bit_term(i) for i in range(n_bits)])
    return staged.select(F.col(id_col), sig.alias(out_col))


def simhash16(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Compact 16-bit SimHash fingerprint (display/bucketing granularity)."""
    return _simhash_df(df, text_col, id_col, SIMHASH_BITS, "simhash16")


def simhash60(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Wide 60-bit SimHash (the near-dup-pair fingerprint, à la the
    classic 64-bit production setting; 60 = the bits our engine-shared
    md5 hash provides). Width matters for the pair join: banding w bits
    into 4 buckets gives 2^(w/4) bucket values, so candidate volume
    scales as n²/2^(w/4) — 15-bit bands keep random pairs out where
    4-bit bands would admit n²/16 of them."""
    return _simhash_df(
        df, text_col, id_col, SIMHASH_PAIR_BITS, "simhash60", token_hash=h60
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs over the wide (60-bit) fingerprint: 15-bit
    band join (pigeonhole guarantees any pair with hamming ≤ 3 shares one
    of the 4 bands) then exact Hamming filter via popcount(xor).

    Scale shape: same meet-in-bucket equi-join as MinHash LSH, with
    2^15 bucket values per band so random (non-near-dup) pairs
    essentially never collide — candidate volume stays ~linear in n
    instead of the n²/2^bits blow-up a narrow fingerprint would give.
    The signature df is persisted: it feeds both join sides. The input is
    spread first — the 60 md5-bit-votes per doc are the CPU cost, and a
    single-split scan would compute them all on one core."""
    sim = persist_scoped(
        "simhash_signatures",
        simhash60(ensure_parallelism(df, id_col), text_col, id_col),
    )
    mask = (1 << SIMHASH_BAND_BITS) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.shiftright(F.col("simhash60"), SIMHASH_BAND_BITS * bi)
                .bitwiseAND(F.lit(mask))
                .alias("nib"),
            )
            for bi in range(4)
        ]
    )
    exploded = sim.select(
        F.col(id_col), "simhash60", F.explode(bands).alias("bb")
    ).select(id_col, "simhash60", "bb.band", "bb.nib")
    a = exploded.select(
        F.col(id_col).alias("id_a"), F.col("simhash60").alias("sim_a"), "band", "nib"
    )
    b = exploded.select(
        F.col(id_col).alias("id_b"), F.col("simhash60").alias("sim_b"), "band", "nib"
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        a.join(b, ["band", "nib"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def normalize_text(c: Column) -> Column:
    """Engine-portable curation normalization: lowercase, strip common
    punctuation, collapse whitespace runs. Deliberately built from
    ``replace``/``split``/``filter``/``array_join`` — primitives whose
    semantics are byte-identical in Spark and DuckDB — rather than regex
    classes, whose dialects (Java vs RE2) disagree at the edges."""
    out = F.lower(c)
    for ch in [".", ",", "!", "?", ";", ":"]:
        out = F.replace(out, F.lit(ch), F.lit(""))
    return F.array_join(
        F.filter(F.split(out, " "), lambda t: t != ""), " "
    )


def normalized_dup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup AFTER normalization — catches the near-dups that differ
    only by case/punctuation/spacing, the cheapest rung of the dedup
    ladder (below shingle/MinHash). Same one-shuffle shape as
    :func:`exact_dup_groups`, keyed on the normalized fingerprint."""
    fp = F.md5(normalize_text(F.col(text_col)))
    w = Window.partitionBy("norm_fp")
    return (
        df.select(id_col, fp.alias("norm_fp"))
        .select(
            id_col,
            "norm_fp",
            F.min(id_col).over(w).alias("canonical_id"),
            (F.count("*").over(w) > 1).alias("in_dup_group"),
        )
    )


def sorted_neighborhood_candidates(
    df: DataFrame,
    sort_cols: list,
    window: int,
    id_col: str = "doc_id",
    payload_cols: tuple[str, ...] = (),
    cache_role: str = "snm_rank",
) -> DataFrame:
    """Sorted-neighborhood (merge/purge) candidate generation — the sixth
    blocking family, complementing exact/shingle/MinHash/SimHash/prefix:
    sort the corpus once on a domain key, then pair each record only with
    its ``window`` successors in the total order (Hernández & Stolfo,
    SIGMOD '95). Cheap when near-dups sort adjacently (shared prefixes,
    near-equal keys); by design it MISSES dups whose keys sort far apart
    — callers wanting recall on those use the hash families above.

    Scale shape — the textbook distributed SNM, NOT a pair join: after
    the parallel range exchange every partition holds a contiguous slice
    of the total order, so all pairs except the few that straddle a
    partition edge live INSIDE one partition and come from ``window``
    ``lead()`` calls over the per-partition sort — zero additional
    shuffle for the corpus-sized path (a first cut joined left×right on
    an exploded target rank; that shuffles the corpus twice more and, at
    narrow payloads, tempted Catalyst into broadcasting a corpus-sized
    build side — measured 2× slower at sf1 and an OOM at real scale).
    The straddling pairs come from a fix-up join over ONLY the first and
    last ``window`` rows of each partition — an O(window·P) subset, P =
    partition count, independent of rows per partition — matched on the
    same global rank arithmetic as :func:`~.parallelism.global_row_number`
    (whose broadcast count-offsets this reuses). Ranks are unique, so
    neither path can skew however many records share a sort key.

    Returns one row per ordered candidate pair: ``a_<id>``/``b_<id>``,
    ``rank_gap`` ∈ [1, window], and any ``payload_cols`` prefixed
    ``a_``/``b_`` for the caller's verify stage (similarity scoring is
    deliberately NOT baked in — SNM is a blocker, not a matcher)."""
    if window < 1:
        raise ValueError(
            "sorted_neighborhood_candidates: window must be >= 1 "
            f"(got {window}) — a zero-width neighborhood pairs nothing."
        )
    # sort expressions that are plain column NAMES ride the projection
    # (once — they may repeat id/payload cols); Column expressions
    # (e.g. F.col("k").desc()) must reference payload_cols
    keep = [id_col, *payload_cols]
    keep += [
        c for c in sort_cols if isinstance(c, str) and c not in keep
    ]
    cols = [F.col(c) if isinstance(c, str) else c for c in sort_cols]
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    stamped = (
        df.select(*keep)
        .repartitionByRange(n_parts, *cols)
        .withColumn("__pid", F.spark_partition_id())
    )
    w_local = Window.partitionBy("__pid").orderBy(*cols)
    a_rec = F.struct(
        F.col(id_col).alias(f"a_{id_col}"),
        *[F.col(c).alias(f"a_{c}") for c in payload_cols],
    )
    b_rec = F.struct(
        F.col(id_col).alias(f"b_{id_col}"),
        *[F.col(c).alias(f"b_{c}") for c in payload_cols],
    )
    out_cols = [
        f"__a.a_{c}" for c in (id_col, *payload_cols)
    ] + [f"__b.b_{c}" for c in (id_col, *payload_cols)] + ["rank_gap"]

    # ONE window pass over the corpus computes everything both pair
    # sources need: the k-th successor is lead(k) over the
    # per-partition sort, plus the local rank. A row is within `window`
    # of its partition's START iff its local rank is <= window, and of
    # its END iff its window-th successor lead is null — so the edge
    # subset costs no extra count-or-sort pass. The PERSIST sits ABOVE
    # the window (not below): all four consumers (intra explode, edge
    # a/b sides, count offsets) read the one materialized pass, which
    # also pins the sampled range boundaries every branch must share.
    base = persist_scoped(
        cache_role,
        stamped.select(
            a_rec.alias("__a"),
            b_rec.alias("__b_self"),
            "__pid",
            F.row_number().over(w_local).alias("__lr"),
            F.array(
                *[
                    F.lead(b_rec, k).over(w_local)
                    for k in range(1, window + 1)
                ]
            ).alias("__succ"),
        ),
    )

    # Intra-partition pairs. Struct-array assignment and posexplode stay
    # in SEPARATE selects: a generator sharing a select with
    # aliased-struct arrays makes the analyzer strip struct field names.
    intra = (
        base.select("__a", F.posexplode("__succ").alias("__g0", "__b"))
        .filter(F.col("__b").isNotNull())
        .withColumn("rank_gap", (F.col("__g0") + 1).cast("bigint"))
        .select(*out_cols)
    )

    # Edge fix-up: pairs that straddle a partition boundary. The a-side
    # of such a pair necessarily sits within `window` of its
    # partition's END (its window-th lead is null), the b-side within
    # `window` of its partition's START (local rank <= window) — each
    # join side carries ONLY its half, so the fix-up input is O(w·P)
    # rows, partition-COUNT-sized, not data-sized (a short partition
    # lands in both halves, covering bands that span 2+ partitions).
    # The rank-banded join over it is trivial at any corpus size (left
    # to AQE: broadcasts at test SF, a small shuffle at scale). Global
    # rank = broadcast per-partition count offsets + local rank — the
    # global_row_number arithmetic via the shared prefix helper.
    offsets = exclusive_prefix_offsets(
        base, F.count("*"), F.sum, zero=0, cast="long"
    )
    with_rank = base.join(F.broadcast(offsets), "__pid").withColumn(
        "__i", F.col("__off") + F.col("__lr")
    )
    ea = with_rank.filter(
        F.element_at("__succ", window).isNull()
    ).select(
        "__a",
        F.col("__pid"),
        F.col("__i").alias("__ia"),
        F.explode(
            F.sequence(F.col("__i") + 1, F.col("__i") + window)
        ).alias("__t"),
    )
    eb = with_rank.filter(F.col("__lr") <= window).select(
        F.col("__b_self").alias("__b"),
        F.col("__pid").alias("__bpid"),
        F.col("__i").alias("__t"),
    )
    cross = (
        ea.join(eb, "__t")
        .filter(F.col("__pid") != F.col("__bpid"))
        .withColumn("rank_gap", (F.col("__t") - F.col("__ia")).cast("bigint"))
        .select(*out_cols)
    )
    return intra.unionByName(cross)


def duplicate_substring_spans(
    df: DataFrame,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    """Exact substring dedup — the "deduplicating training data" primitive
    (Lee et al., ACL '22 ExactSubstr): find every maximal token span that
    occurs verbatim ``min_count``-or-more times anywhere in the corpus.
    Distinct from the six whole-document blocking families above: those
    decide *documents* are near-dups; this finds the *copied passages*
    (boilerplate, licenses, quoted chunks) inside otherwise-unique docs —
    the spans an LLM-training curation pass clips out.

    Semantics: a ``k``-token window starting at 1-based token position
    ``p`` of a doc is *duplicated* iff the identical token sequence occurs
    at ≥ ``min_count`` (doc, pos) sites corpus-wide (a self-repeat inside
    one doc counts — verbatim is verbatim). Per doc, duplicated window
    starts are merged into maximal spans: windows ``p`` and ``q`` (p < q)
    coalesce iff ``q − p ≤ k`` (overlapping or exactly abutting — the
    covered token range is contiguous). Output: one row per maximal span
    with ``span_start``/``span_end`` (1-based inclusive token positions),
    ``span_tokens``, and ``n_dup_windows``.

    Scale shape (vs the suffix array the reference paper builds): a
    suffix array is a global sort of every corpus suffix — the exact
    single-total-order structure that cannot shard. For fixed-k windows
    the same answer falls out of hash aggregation: (1) gram enumeration
    as a per-DOC ``lead()`` window over exploded tokens — the SNM
    pattern: ``md5(concat_ws(tok, lead(tok,1..k-1)))``, all whole-stage
    JVM expressions in ONE window pass (a first cut used
    ``transform(sequence, i -> md5(concat_ws(slice(...))))``; Spark
    evaluates higher-order-function lambdas INTERPRETED, per element —
    measured 61 s at sf1 vs 9 s for the lead form). The 32-char digest
    is the shuffle key, never the k-token text, and the (doc, pos, gh)
    pass is scope-persisted because both the count side and the probe
    side of step 3 read it. (2) ONE hash exchange: ``groupBy(gram)``
    count with map-side partial aggregation, so a boilerplate gram
    repeated 10^8 times arrives at its reducer as one partial row per
    map task, not 10^8 rows. (3) a semi-join of positions against the
    ≥min_count grams (AQE skew-join handles hot grams). (4)
    islands-and-gaps span merge under a per-DOC window — bounded by
    document length, never global. md5 equality stands in for
    token-sequence equality (the house hash discipline — collision odds
    are 2^-128-scale even at 100 TB); the DuckDB oracle groups on the
    raw gram text, so the battery hash-check also certifies the digest
    substitution."""
    if k < 2:
        raise ValueError(
            f"duplicate_substring_spans: k must be >= 2 (got {k}) — "
            "1-token spans are vocabulary lookups, not substring dedup."
        )
    if min_count < 2:
        raise ValueError(
            "duplicate_substring_spans: min_count must be >= 2 "
            f"(got {min_count}) — every window trivially occurs once."
        )
    pos_grams = _substring_pos_grams(
        df, k, text_col, id_col, cache_role="substring_grams"
    )
    dup_ghs = (
        pos_grams.groupBy("__gh")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") >= min_count)
        .select("__gh")
    )
    dup_pos = pos_grams.join(dup_ghs, "__gh", "left_semi")
    # only (id, pos) rides the island-merge exchange — the 32-char
    # digest is ~70% of the row and dead weight past the semi-join
    return _merge_spans(dup_pos.select(id_col, "pos"), k, id_col)


def _substring_pos_grams(
    df: DataFrame, k: int, text_col: str, id_col: str, cache_role: str
) -> DataFrame:
    """(id, pos, __gh) — the scope-persisted lead-window k-gram pass
    shared by the batch and incremental substring-dedup paths. One
    enumerator serves the whole module: :func:`shingle_rows` with
    ``clamp=False`` (incomplete tail grams drop — concat_ws skips the
    null leads, so keeping them would alias shorter grams), digests
    replacing the gram text so only 32-char keys ever shuffle."""
    return persist_scoped(
        cache_role,
        shingle_rows(
            df, text_col=text_col, id_col=id_col, n=k, clamp=False
        ).select(id_col, "pos", F.md5(F.col("shingle")).alias("__gh")),
    )


def _merge_spans(dup_pos: DataFrame, k: int, id_col: str) -> DataFrame:
    """Islands-and-gaps merge of duplicated window starts into maximal
    spans (shared by the batch and incremental paths): per-doc window,
    bounded by document length."""
    w_doc = Window.partitionBy(id_col).orderBy("pos")
    flagged = dup_pos.withColumn(
        "__new",
        F.when(
            F.lag("pos").over(w_doc).isNull()
            | (F.col("pos") - F.lag("pos").over(w_doc) > k),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "__island",
        F.sum("__new").over(
            w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return flagged.groupBy(id_col, "__island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(k - 1)).cast("bigint").alias("span_end"),
        (F.max("pos") + F.lit(k - 1) - F.min("pos") + F.lit(1))
        .cast("bigint")
        .alias("span_tokens"),
        F.count("*").cast("bigint").alias("n_dup_windows"),
    ).drop("__island")


def substring_gram_counts(
    df: DataFrame,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus state for incremental substring dedup: exact occurrence
    counts of every k-gram — ``(gram_md5, n_occurrences)``. In production
    this table is written once per corpus generation, bucketed by
    ``gram_md5``, and maintained additively (gram counts are a trivially
    mergeable monoid: counts of old ∪ batch = old + batch), so the daily
    path never re-scans the 100 TB corpus."""
    if k < 2:
        raise ValueError(
            f"substring_gram_counts: k must be >= 2 (got {k})"
        )
    grams = _substring_pos_grams(
        df, k, text_col, id_col, cache_role="substring_state_grams"
    )
    return grams.groupBy(F.col("__gh").alias("gram_md5")).agg(
        F.count("*").cast("bigint").alias("n_occurrences")
    )


def incremental_duplicate_spans(
    new_df: DataFrame,
    state: DataFrame,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    """Incremental ExactSubstr — the daily-crawl path: duplicated spans in
    a NEW document batch, counting both in-batch repeats and matches
    against a persisted corpus state (:func:`substring_gram_counts`),
    WITHOUT re-scanning the corpus. Exactly equivalent to running
    :func:`duplicate_substring_spans` over old ∪ new and keeping the new
    docs' rows (total count = state + batch count per gram) — the battery
    oracle verifies precisely that equivalence.

    Scale shape: the batch gram pass is batch-sized; the only
    corpus-scale object is the state table, touched by ONE equi-join on
    the gram hash (bucket the state by ``gram_md5`` to make it
    shuffle-free; a broadcast of the batch's gram list is AQE's call at
    test SF). Output spans cover new docs only."""
    if k < 2:
        raise ValueError(
            f"incremental_duplicate_spans: k must be >= 2 (got {k})"
        )
    if min_count < 2:
        raise ValueError(
            "incremental_duplicate_spans: min_count must be >= 2 "
            f"(got {min_count})"
        )
    grams = _substring_pos_grams(
        new_df, k, text_col, id_col, cache_role="substring_grams_inc"
    )
    batch_counts = grams.groupBy("__gh").agg(
        F.count("*").alias("__bn")
    )
    total = batch_counts.join(
        state.select(
            F.col("gram_md5").alias("__gh"),
            F.col("n_occurrences").alias("__on"),
        ),
        "__gh",
        "left_outer",
    )
    dup_ghs = total.filter(
        F.col("__bn") + F.coalesce(F.col("__on"), F.lit(0)) >= min_count
    ).select("__gh")
    dup_pos = grams.join(dup_ghs, "__gh", "left_semi")
    return _merge_spans(dup_pos.select(id_col, "pos"), k, id_col)


def shingle_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    keep_cols: tuple[str, ...] = (),
    clamp: bool = True,
    unique_id: bool = True,
) -> DataFrame:
    """Row-per-shingle word-n-gram enumeration (with duplicates) via
    posexplode + ``lead()`` window — semantics identical to exploding
    :func:`shingles_from_tokens` (including the short-doc clamp: a doc
    with < n tokens yields exactly one short shingle; pass
    ``clamp=False`` to drop incomplete tail grams instead — the
    substring-dedup contract), but on the whole-stage-codegen path.
    Spark evaluates higher-order-function lambdas
    (``transform(..., i -> array_join(slice(...)))``) INTERPRETED per
    element — measured 11.7 s for the corpus explode at sf1 vs ~2 s for
    this form (r8; same finding drove the substring-span gram builder
    above). Costs one exchange on ``id_col`` that the transform form
    avoids — worth it from ~10⁵ shingles up.

    PRECONDITION (documented, not scanned-for — a uniqueness count would
    cost a corpus aggregate per call): with the default
    ``unique_id=True``, ``id_col`` must uniquely key the input rows
    (true for every corpus table here — doc_id is the PK). Two rows
    sharing an id would interleave under the per-id window and the
    leads would stitch n-grams ACROSS texts. For inputs that may carry
    duplicate ids (arbitrary user tables), pass ``unique_id=False``:
    each physical row then gets its own window partition via a
    generated row id — correct for any input, at the cost of the
    downstream exchange no longer being reusable by id-keyed
    aggregations (the generated key is dropped from the output).

    Returns ``(id_col, *keep_cols, pos, shingle)`` — pos is the 1-based
    first-token position."""
    if n < 1:
        raise ValueError(f"shingle_rows: n must be >= 1 (got {n})")
    part_cols = [id_col]
    base = df
    if not unique_id:
        base = df.withColumn("__rid", F.monotonically_increasing_id())
        part_cols.append("__rid")
    toks = base.select(
        id_col,
        *(["__rid"] if not unique_id else []),
        *keep_cols,
        F.posexplode(F.split(F.col(text_col), " ")).alias("__p0", "__tok"),
    )
    if n == 1:
        return toks.select(
            id_col,
            *keep_cols,
            (F.col("__p0") + 1).cast("bigint").alias("pos"),
            F.col("__tok").alias("shingle"),
        )
    w = Window.partitionBy(*part_cols).orderBy("__p0")
    succ = [F.lead("__tok", j).over(w) for j in range(1, n)]
    keep = succ[-1].isNotNull()
    if clamp:
        keep = keep | (F.col("__p0") == 0)
    return (
        toks.select(
            id_col,
            *keep_cols,
            (F.col("__p0") + 1).cast("bigint").alias("pos"),
            # concat_ws skips nulls, so the clamped tail shingles of a
            # short doc come out exactly like list_slice's clamp
            F.concat_ws(" ", F.col("__tok"), *succ).alias("shingle"),
            keep.alias("__keep"),
        )
        .filter(F.col("__keep"))
        .drop("__keep")
    )


def clip_substring_spans(
    df: DataFrame,
    k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    """Apply :func:`duplicate_substring_spans` to the corpus: drop every
    token covered by a duplicated span and rebuild each document's text
    from the survivors (order preserved) — the curation-side half of
    ExactSubstr dedup (find the copied passages, then clip them out of
    the training corpus). Removing EVERY occurrence (not all-but-one) is
    the deliberately conservative policy: a span the corpus repeats
    ``min_count``-or-more times is boilerplate by definition, and
    keeping one canonical copy is a one-line downstream choice
    (anti-join the span table minus its first row per gram) that would
    make the output depend on an occurrence tiebreak — this form stays
    total-order-free.

    Returns one row per INPUT doc: ``(id_col, clean_text, n_tokens,
    n_removed_tokens)`` — docs with nothing clipped pass through with
    their token-normalized text (single-space joined), so the output is
    a full corpus replacement, not a patch.

    Scale shape: the span table is doc-bounded (few spans per doc); the
    token stream anti-joins it on the doc-id EQUI key with the
    [span_start, span_end] band as a residual filter (the
    pit_state_lookup shape — never a row expansion), then one per-doc
    aggregate rebuilds the text via a sorted in-memory array (bounded
    by document length, the same contract every per-doc window here
    relies on)."""
    spans = duplicate_substring_spans(
        df, k=k, text_col=text_col, id_col=id_col, min_count=min_count
    ).select(id_col, "span_start", "span_end")
    toks = df.select(
        id_col,
        F.posexplode(F.split(F.col(text_col), " ")).alias("__p0", "__tok"),
    ).select(
        id_col, (F.col("__p0") + 1).cast("bigint").alias("pos"), "__tok"
    )
    covered = (F.col("pos") >= F.col("span_start")) & (
        F.col("pos") <= F.col("span_end")
    )
    kept = toks.join(
        spans, on=[toks[id_col] == spans[id_col], covered], how="left_anti"
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", F.col("__tok").alias("t")))
                ),
                lambda s: s["t"],
            ),
        ).alias("clean_text"),
        F.count("*").cast("bigint").alias("n_tokens"),
    )
    totals = df.select(
        id_col,
        F.size(F.split(F.col(text_col), " ")).cast("bigint").alias("__n_in"),
    )
    return (
        totals.join(rebuilt, id_col, "left_outer")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            (F.col("__n_in") - F.coalesce("n_tokens", F.lit(0)))
            .cast("bigint")
            .alias("n_removed_tokens"),
        )
    )


# --- winnowing fingerprints (MOSS) ------------------------------------------

# Position field width for the winnow selection packing: 27 bits caps a
# document at 2^27 ≈ 134M tokens (~0.5 GB of raw text in ONE row — far
# past the engine's bounded-row contract; a doc that size breaks the
# parquet reader and every other per-doc operator long before this
# packing). Documented precondition, not scanned-for — same contract
# style as shingle_rows' id uniqueness.
WINNOW_POS_BITS = 27
_WINNOW_POS_LIM = 1 << WINNOW_POS_BITS


def _winnow_packed(h36: Column, pos: Column, doc_id: Column) -> Column:
    """The winnow packing ``h36·2^27 + (2^27 − 1 − pos)`` with a
    fail-loud capacity guard: a gram position >= 2^27 would go NEGATIVE
    in the low field and silently corrupt both the tie-break and the
    unpacked pos, so it raises instead (one JVM comparison per gram
    row; raise_error stays inside codegen). Factored out so the
    boundary arithmetic is property-testable in isolation
    (tests/test_properties_round10.py)."""
    return F.when(
        pos < F.lit(_WINNOW_POS_LIM),
        h36 * F.lit(_WINNOW_POS_LIM) + (F.lit(_WINNOW_POS_LIM - 1) - pos),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "winnow: gram position exceeds the "
                    f"{WINNOW_POS_BITS}-bit packing capacity "
                    f"({_WINNOW_POS_LIM - 1}) in doc "
                ),
                doc_id.cast("string"),
                F.lit(" — split the document or widen WINNOW_POS_BITS"),
            )
        ).cast("long")
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    unique_id: bool = True,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD '03 — the MOSS local fingerprinting algorithm, public): hash
    every word-``k``-gram, slide a window of ``w`` consecutive gram
    hashes, and in each window select the minimum hash — ties broken by
    the RIGHTMOST occurrence (the paper's rule; it maximizes re-selection
    across overlapping windows, keeping fingerprint density near the
    2/(w+1) bound). The distinct selected (position, hash) pairs are the
    doc's fingerprints. Guarantee (the reason this beats random
    sampling): any shared substring of at least ``w + k - 1`` tokens
    produces at least one SHARED fingerprint in both documents.

    Returns ``(id_col, pos, fp)`` — 1-based first-token position of each
    selected gram and its 36-bit hash (see below). Docs with fewer than
    ``k`` tokens yield no grams and no fingerprints; docs with m < w
    grams winnow one clamped window covering all m.

    Engine portability — the selection IS integer arithmetic: each gram
    row carries ``packed = h36 · 2^27 + (2^27 − 1 − pos)``, so a plain
    ``min(packed)`` over the w-row frame selects the smallest hash AND
    the rightmost position on ties in one comparison, with no
    struct-ordering or arg_min semantics to align across engines. The
    36-bit hash (9 hex digits of md5, the h32/h60 discipline) keeps the
    packing inside a signed 64-bit long (36 + 27 = 63 bits); fingerprint
    collisions at 2^36 are candidate-level noise (birthday ~ n²/2^37),
    acceptable for a fingerprint index and bit-for-bit reproducible in
    the DuckDB oracle either way.

    Scale shape: ONE doc-granular exchange (the :func:`shingle_rows`
    window shuffle) feeds the gram count, the w-frame min, and the
    selection filter — all per-doc windows over the same partitioning;
    the closing distinct re-uses it too (id_col ⊆ keys). No joins, no
    corpus-wide state. ``unique_id`` contract as in
    :func:`shingle_jaccard_pairs`."""
    if k < 2:
        raise ValueError(f"winnow_fingerprints: k must be >= 2 (got {k})")
    if w < 1:
        raise ValueError(f"winnow_fingerprints: w must be >= 1 (got {w})")
    grams = shingle_rows(
        df, text_col=text_col, id_col=id_col, n=k, clamp=False,
        unique_id=unique_id,
    )
    h36 = F.conv(F.substring(F.md5(F.col("shingle")), 1, 9), 16, 10).cast(
        "long"
    )
    g = grams.select(
        F.col(id_col),
        "pos",
        _winnow_packed(h36, F.col("pos"), F.col(id_col)).alias("__packed"),
    )
    wdoc = Window.partitionBy(id_col).orderBy("pos")
    sel = g.select(
        F.col(id_col),
        "pos",
        F.count("*")
        .over(
            Window.partitionBy(id_col).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("__m"),
        F.min("__packed")
        .over(wdoc.rowsBetween(Window.currentRow, w - 1))
        .alias("__sel"),
    )
    return (
        sel.filter(
            F.col("pos") <= F.greatest(F.col("__m") - F.lit(w - 1), F.lit(1))
        )
        .select(
            F.col(id_col),
            (
                F.lit(_WINNOW_POS_LIM - 1)
                - (F.col("__sel") % F.lit(_WINNOW_POS_LIM))
            )
            .cast("bigint")
            .alias("pos"),
            # integer div — float division of a 63-bit packed value
            # loses the low bits past the double's 53-bit mantissa
            F.expr(f"__sel div {_WINNOW_POS_LIM}").cast("bigint").alias("fp"),
        )
        .distinct()
    )


def winnow_match_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = 100,
    unique_id: bool = True,
) -> DataFrame:
    """Document pairs sharing at least ``min_shared`` winnowing
    fingerprints — the MOSS match step: because winnowing guarantees a
    shared fingerprint for any common substring of ≥ w + k − 1 tokens,
    the shared-fingerprint count is a verbatim-overlap signal that costs
    a FINGERPRINT-sized inverted index instead of a gram-sized one
    (density ≈ 2/(w+1) of the gram stream — the winnow window is a
    pre-shuffle 5-10× candidate-volume cut the plain shingle index
    doesn't get).

    Returns ``(id_a, id_b, n_shared)`` with ``id_a < id_b``.

    Scale shape: fingerprints (one doc-granular exchange, see
    :func:`winnow_fingerprints`) → optional broadcast anti-join dropping
    fingerprints with doc-frequency > ``max_df`` (the hot-key guard —
    a boilerplate license header selected by every doc would otherwise
    quadratically blow the pair join) → fingerprint equi-join →
    pair groupBy. Identical shape to :func:`shingle_jaccard_pairs`,
    one winnow cheaper."""
    fps = (
        winnow_fingerprints(
            ensure_parallelism(df, id_col),
            text_col=text_col,
            id_col=id_col,
            k=k,
            w=w,
            unique_id=unique_id,
        )
        .select(id_col, "fp")
        .distinct()
    )
    # referenced up to four times (df aggregate, anti-join left, both
    # pair-join sides): persist so the gram explode + winnow windows run
    # once per action — the shingle_jaccard_pairs house pattern this
    # function predates (r15; the pair-join legs' exchanges deduped via
    # AQE stage reuse, but the hot-df aggregate leg re-ran the whole
    # fingerprint pipeline).
    fps = persist_scoped("winnow_fps", fps)
    if max_df is not None:
        hot = (
            fps.groupBy("fp")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") > max_df)
            .select("fp")
        )
        fps = fps.join(F.broadcast(hot), "fp", "left_anti")
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def lsh_recall_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_df: int | None = 100,
    min_decile: int = 3,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """Empirical recall curve of the MinHash-LSH candidate generator vs
    exact shingle-Jaccard ground truth — the dedup-family counterpart of
    `similarity.ann_recall_audit`: per Jaccard decile, what fraction of
    TRUE near-dup pairs does the banded index surface? This is the
    measured S-curve the 128/16 banding promises analytically
    (per-band collision j^8, threshold ≈ 0.70): low deciles must show
    low recall, deciles above the threshold ≈ 1 — a banding bug (wrong
    rows/band, broken bucket hash) flattens the curve and fails the
    oracle.

    Buckets are EXACT integer arithmetic: ``j_bucket = (10·n_common)
    div (n_a + n_b − n_common)`` — never ``floor(10·jaccard)`` on the
    double, whose boundary values (0.3·10, 0.7·10) are not exactly
    representable and could bucket differently across engines.

    Scale shape: ground truth is :func:`shingle_jaccard_pairs` (hot-
    capped inverted index, near-linear candidates), the LSH side is
    :func:`minhash_lsh_pairs`' banded candidates — both already-scaled
    operators; the audit join is pair-keyed and the output is ≤ 8 rows.
    Returns ``(j_bucket, n_true, n_hit, recall_e6)``."""
    truth = shingle_jaccard_pairs(
        df, text_col=text_col, id_col=id_col, n=n, max_df=max_df
    )
    denom = F.col("n_a") + F.col("n_b") - F.col("n_common")
    truth = (
        truth.filter(F.lit(10) * F.col("n_common") >= F.lit(min_decile) * denom)
        .select(
            "id_a",
            "id_b",
            F.expr("10 * n_common div (n_a + n_b - n_common)")
            .cast("int")
            .alias("j_bucket"),
        )
    )
    cand = (
        minhash_lsh_pairs(df, text_col=text_col, id_col=id_col, n=n, bands=bands)
        .select("id_a", "id_b")
        .withColumn("__hit", F.lit(1))
    )
    joined = truth.join(cand, ["id_a", "id_b"], "left")
    return (
        joined.groupBy("j_bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_true"),
            F.count("__hit").cast("bigint").alias("n_hit"),
        )
        .withColumn(
            "recall_e6",
            F.expr("1000000 * n_hit div n_true").cast("bigint"),
        )
    )


def winnow_state(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    unique_id: bool = True,
) -> DataFrame:
    """The PERSISTED winnow fingerprint index state — distinct
    ``(id_col, fp)`` rows, the table an incremental pipeline stores
    between snapshots. Mergeable by construction: fingerprints are
    per-document, so appending a new batch's state IS the full-recompute
    state (``union`` + nothing else — no re-fingerprinting)."""
    return (
        winnow_fingerprints(
            df, text_col=text_col, id_col=id_col, k=k, w=w,
            unique_id=unique_id,
        )
        .select(id_col, "fp")
        .distinct()
    )


def incremental_winnow_matches(
    corpus_fps: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = 100,
    unique_id: bool = True,
) -> DataFrame:
    """Match a NEW snapshot against the stored corpus fingerprint state
    WITHOUT re-fingerprinting the corpus — the winnowing member of the
    incremental dedup family (minhash:
    :func:`incremental_minhash_pairs`; substring:
    :func:`incremental_duplicate_spans`). Only the new docs are
    tokenized; the corpus contributes its persisted
    :func:`winnow_state` table.

    Returns exactly the :func:`winnow_match_pairs` result RESTRICTED to
    pairs touching at least one new doc (new×corpus ∪ new×new) — the
    doc-frequency hot cap is computed over state ∪ batch, i.e. the full
    current corpus, so the subset hash-matches a full recompute (the
    battery oracle IS the full-recompute SQL with that restriction).

    Scale shape: per-snapshot cost is O(new docs) fingerprinting (one
    doc-granular exchange) + a fp equi-join against the (persisted)
    state inverted index; the hot-fp list is a broadcast anti-join as
    in the one-shot path. ``(id_a, id_b, n_shared)`` with
    ``id_a < id_b``."""
    new_fps = persist_scoped(
        "winnow_inc_new_fps",
        winnow_state(
            ensure_parallelism(new_docs, id_col),
            text_col=text_col, id_col=id_col, k=k, w=w,
            unique_id=unique_id,
        ),
    )
    corpus_fps = persist_scoped(
        "winnow_inc_corpus_fps", corpus_fps.select(id_col, "fp")
    )
    all_fps = corpus_fps.unionByName(new_fps)
    if max_df is not None:
        hot = (
            all_fps.groupBy("fp")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") > max_df)
            .select("fp")
        )
        all_fps = all_fps.join(F.broadcast(hot), "fp", "left_anti")
        new_side = new_fps.join(F.broadcast(hot), "fp", "left_anti")
    else:
        new_side = new_fps
    pairs = (
        new_side.select(F.col(id_col).alias("id_n"), "fp")
        .join(all_fps.select(F.col(id_col).alias("id_o"), "fp"), "fp")
        .filter(F.col("id_n") != F.col("id_o"))
        .select(
            F.least("id_n", "id_o").alias("id_a"),
            F.greatest("id_n", "id_o").alias("id_b"),
            "fp",
        )
        # a new×new pair meets once from each side — dedup (pair, fp)
        # before counting or shared fps double-count
        .distinct()
    )
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def soft_dedup_weights(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Soft dedup — duplicate DOWN-WEIGHTING instead of dropping: every
    copy of a duplicated document stays in the corpus with training
    weight 1/multiplicity, so each distinct CONTENT contributes exactly
    one document's worth of gradient (the loss-weighting alternative to
    hard dedup; keeps ordering/packing pipelines untouched while
    removing the duplicated-content bias).

    Identity is the exact md5 content fingerprint (the
    :func:`exact_dup_groups` convention); weights are integer
    micro-units (``1_000_000 DIV multiplicity``) so they hash-match the
    oracle, and the residual rounding mass is reported per group
    (``Σ weight_e6 = 1e6 − (1e6 mod multiplicity)``, exact).

    Returns ``(id_col, fp, multiplicity, weight_e6)``.

    Scale shape: one fingerprint projection (narrow) + one window count
    over the fingerprint partitioning — a single exchange, no joins."""
    fp = F.md5(F.col(text_col))
    w = Window.partitionBy("fp")
    return (
        df.select(F.col(id_col), fp.alias("fp"))
        .withColumn("multiplicity", F.count("*").over(w).cast("bigint"))
        .withColumn(
            "weight_e6",
            F.expr("1000000 DIV multiplicity").cast("bigint"),
        )
    )


def near_dup_soft_weights(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """NEAR-dup soft dedup — duplication-aware loss weights at cluster
    granularity (SoftDedup, He et al. 2024 arXiv:2407.04964; public):
    where :func:`soft_dedup_weights` down-weights exact md5 copies only,
    this composes the SimHash near-dup pair graph with connected
    components so NEAR-duplicate content (boilerplate variants, light
    edits) shares one document's worth of gradient too — every doc stays
    in the corpus with weight 1/|cluster|, keeping ordering/packing
    pipelines untouched while removing the duplicated-content bias hard
    near-dup dedup would fix by dropping rows.

    Composition (both pieces established here): ``simhash_pairs``
    (banded 60-bit SimHash, Hamming ≤ ``max_hamming``) →
    :func:`connected_components` (min-label propagation — transitive
    closure, so A~B~C weights all three 1/3 even when A,C never pair) →
    one window count over the cluster partitioning. Weights are integer
    micro-units (``1_000_000 DIV cluster_size``) so they hash-match the
    oracle exactly — the :func:`soft_dedup_weights` convention.

    Returns ``(id_col, cluster_id, cluster_size, weight_e6)`` — one row
    per input doc. Degenerate inputs DEGRADE: an unpaired doc is its own
    singleton cluster (weight exactly 1e6); an empty corpus yields an
    empty result, never an error.

    Scale shape: the pair join is banded (never all-pairs); CC runs
    O(log diameter) checkpointed rounds of join+agg (dedup clusters are
    small and dense, so diameter is tiny); the final count is ONE window
    over the cluster-id shuffle —
    no corpus-sized join beyond the labels themselves."""
    edges = simhash_pairs(
        df.select(id_col, text_col), max_hamming=max_hamming
    ).select("id_a", "id_b")
    labels = connected_components(edges, df, node_col=id_col)
    w = Window.partitionBy("cluster_id")
    return (
        labels.withColumn(
            "cluster_size", F.count("*").over(w).cast("bigint")
        )
        .withColumn(
            "weight_e6", F.expr("1000000 DIV cluster_size").cast("bigint")
        )
        .select(id_col, "cluster_id", "cluster_size", "weight_e6")
    )


def substring_duplication_coverage(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
    min_count: int = 2,
) -> DataFrame:
    """Corpus-granularity duplicated-substring statistics — the
    "fraction of tokens inside duplicated passages" diagnostic the
    ExactSubstr paper reports per corpus (Lee et al., ACL '22 §4; the
    number a suffix array is usually built to produce): per group, how
    many token positions sit inside a maximal span that occurs verbatim
    ``min_count``-or-more times corpus-wide. The per-PASSAGE form
    (:func:`duplicate_substring_spans`) answers "where do I clip"; this
    answers "how duplicated is this source", the go/no-go number that
    decides whether a slice enters the clipping pass at all.

    Returns one row per group: ``(group_col, n_docs, docs_with_dups,
    total_tokens, covered_tokens, coverage_e6)`` — coverage in exact
    integer micro-units, NULL when the group has zero tokens (the
    degenerate-input discipline: an all-empty-text group degrades,
    never divides by zero). A corpus with no duplicated k-grams yields
    coverage 0 everywhere, not an error.

    Scale shape: reuses the span pipeline wholesale (hash aggregation
    in place of the suffix array's unshardable global sort — see
    :func:`duplicate_substring_spans`); maximal spans are disjoint per
    doc by construction, so per-doc covered tokens is a plain SUM of
    ``span_tokens``. The rollup adds one (id)-keyed join of the
    span-doc aggregate against the narrow ``(id, group, n_tokens)``
    projection — both sides shuffle on the id, corpus-bounded — and one
    (group)-granular final aggregate, map-side combined."""
    spans = duplicate_substring_spans(
        df.select(id_col, text_col),
        k=k,
        text_col=text_col,
        id_col=id_col,
        min_count=min_count,
    )
    per_doc = spans.groupBy(id_col).agg(
        F.sum("span_tokens").cast("bigint").alias("__covered")
    )
    base = df.select(
        id_col,
        F.col(group_col),
        F.size(F.split(F.col(text_col), " ")).cast("bigint").alias("__n_tok"),
    )
    joined = base.join(per_doc, id_col, "left").select(
        group_col,
        "__n_tok",
        F.coalesce(F.col("__covered"), F.lit(0)).cast("bigint").alias("__cov"),
    )
    agg = joined.groupBy(group_col).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum((F.col("__cov") > 0).cast("int"))
        .cast("bigint")
        .alias("docs_with_dups"),
        F.sum("__n_tok").cast("bigint").alias("total_tokens"),
        F.sum("__cov").cast("bigint").alias("covered_tokens"),
    )
    return agg.select(
        group_col,
        "n_docs",
        "docs_with_dups",
        "total_tokens",
        "covered_tokens",
        F.when(
            F.col("total_tokens") > 0,
            F.expr("1000000 * covered_tokens div total_tokens"),
        )
        .cast("bigint")
        .alias("coverage_e6"),
    )


def split_leakage_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    holdout_fraction: float = 0.2,
    salt: str = "split",
    n: int = 3,
    max_df: int | None = 100,
    threshold_pct: int = 50,
) -> DataFrame:
    """Train/heldout LEAKAGE audit: how many near-duplicate pairs cross
    the deterministic key-hash split — i.e. how many heldout documents
    have a near-dup sitting in the training side (the eval-contamination
    every LLM-data pipeline must check: dedup BEFORE splitting, or the
    heldout loss is memorization, not generalization; cf. Lee et al.
    ACL '22 §6's train-test overlap finding).

    The split is :func:`~.sampling.train_holdout_split`'s convention
    (h60(salt‖id)/2^60 < fraction → heldout — rerun/engine/partition
    stable); pairs come from the thresholded prefix-filtered Jaccard
    join (:func:`shingle_jaccard_prefix_pairs`, the scale path — never
    all-pairs). Returns ONE row: ``(n_docs, n_heldout, n_pairs,
    n_cross_pairs, n_leaky_heldout_docs, leak_rate_e6)`` where
    ``n_leaky_heldout_docs`` counts DISTINCT heldout docs with ≥ 1
    train-side near-dup (the docs to drop from eval) and
    ``leak_rate_e6 = 1e6·leaky div n_heldout`` (NULL when the heldout
    side is empty — the degenerate-input discipline; zero pairs is a
    clean 0-leak report, not an error).

    Scale shape: everything is the already-scaled pair join plus two
    single-row aggregates (pair-level and corpus-level) crossed
    broadcast-side — the audit adds no corpus-sized work of its own."""
    pairs = shingle_jaccard_prefix_pairs(
        df,
        text_col=text_col,
        id_col=id_col,
        n=n,
        max_df=max_df,
        threshold_pct=threshold_pct,
    )
    space = float(1 << 60)

    def _ho(c: Column) -> Column:
        return (
            h60(F.concat(F.lit(salt), c.cast("string"))) / F.lit(space)
            < F.lit(holdout_fraction)
        )

    cls = pairs.select(
        "id_a",
        "id_b",
        _ho(F.col("id_a")).alias("a_ho"),
        _ho(F.col("id_b")).alias("b_ho"),
    )
    leaky_id = F.when(
        F.col("a_ho") & ~F.col("b_ho"), F.col("id_a")
    ).when(F.col("b_ho") & ~F.col("a_ho"), F.col("id_b"))
    pair_agg = cls.groupBy().agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.coalesce(
            F.sum((F.col("a_ho") != F.col("b_ho")).cast("int")), F.lit(0)
        )
        .cast("bigint")
        .alias("n_cross_pairs"),
        F.countDistinct(leaky_id)
        .cast("bigint")
        .alias("n_leaky_heldout_docs"),
    )
    base = df.groupBy().agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.coalesce(F.sum(_ho(F.col(id_col)).cast("int")), F.lit(0))
        .cast("bigint")
        .alias("n_heldout"),
    )
    return base.crossJoin(F.broadcast(pair_agg)).select(
        "n_docs",
        "n_heldout",
        "n_pairs",
        "n_cross_pairs",
        "n_leaky_heldout_docs",
        F.when(
            F.col("n_heldout") > 0,
            F.expr("1000000 * n_leaky_heldout_docs div n_heldout"),
        )
        .cast("bigint")
        .alias("leak_rate_e6"),
    )
