"""Embedding similarity search (SURVEY §7.3-7 north-star scope; no
reference counterpart — the reference has no vector surface).

Two paths over an ``array<float>`` embedding column:

- **Brute-force cosine top-k** — the exactness baseline: broadcast the
  (small) query set against every candidate; dot products are pure
  ``zip_with`` + ``aggregate`` fold (JVM-side, codegen'd, no UDF). One
  scan over the candidates, no shuffle until the per-query top-k window.
- **Random-hyperplane LSH ANN** — the scale path: bucket every vector by
  the sign pattern of 8 fixed ±1 hyperplanes (a narrow projection), then
  only score candidates that collide with a query's bucket. Recall < 1 by
  construction; at 100 TB the bucket equi-join replaces the full scan per
  query and the plane count tunes the recall/cost trade-off.

Determinism: hyperplanes are derived from md5 in the driver (fixed,
library-independent), so a SQL oracle can embed the identical plane
literals. Float32 inputs are widened to float64 before any arithmetic and
folds run left-to-right, matching sequential SQL sums.
"""

from __future__ import annotations

import hashlib
from functools import reduce
from operator import add

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .scoped import persist_scoped

DEFAULT_PLANES = 8


def dvec(col: Column) -> Column:
    """Widen array<float> → array<double> (exact)."""
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right dot-product fold (order-stable across
    engines)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(v: Column) -> Column:
    return F.sqrt(dot(v, v))


def plane_sign(p: int, d: int) -> float:
    """Deterministic ±1 hyperplane weight from md5 — no RNG library
    dependence, reproducible in any engine or by hand."""
    h = int(hashlib.md5(f"plane-{p}-{d}".encode()).hexdigest()[:8], 16)
    return 1.0 if h % 2 == 0 else -1.0


def hyperplanes(n_planes: int = DEFAULT_PLANES, dim: int = 64) -> list[list[float]]:
    return [[plane_sign(p, d) for d in range(dim)] for p in range(n_planes)]


def lsh_bucket(v: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id: bit p set iff dot(plane_p, v) > 0."""
    terms = [
        F.when(
            dot(F.array(*[F.lit(w) for w in plane]), v) > 0, F.lit(1 << p)
        ).otherwise(F.lit(0))
        for p, plane in enumerate(planes)
    ]
    return reduce(add, terms).cast("long")


def _prepared(
    emb_df: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    return emb_df.select(
        F.col(id_col), dvec(F.col(vec_col)).alias("v")
    ).withColumn("nrm", norm(F.col("v")))


def cosine_topk(
    emb_df: DataFrame,
    query_pred: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_expr=None,
) -> DataFrame:
    """Exact top-k by cosine for each query row (rows matching
    ``query_pred``) against all other rows. Queries are broadcast; ranking
    pins a total order (cosine desc, candidate id) for determinism.

    Scale note: the final window partitions by query id — fine for a
    bounded query set. For large query sets, pre-aggregate a per-partition
    local top-k (window over (q_id, input partition)) before the global
    window so each query's global sort sees ≤ k·P rows, not N.
    """
    e = _prepared(emb_df, id_col, vec_col)
    q = e.filter(query_pred).select(
        F.col(id_col).alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cos = dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
    cos = round_expr(cos) if round_expr is not None else cos
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col(id_col))
        .select("q_id", F.col(id_col).alias("cand_id"), cos.alias("cosine"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "cand_id", "cosine")
    )


def ann_lsh_topk(
    emb_df: DataFrame,
    query_pred: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = DEFAULT_PLANES,
    dim: int = 64,
    k: int = 3,
    round_expr=None,
) -> DataFrame:
    """Approximate top-k: score only candidates whose LSH bucket equals the
    query's bucket. May return < k rows per query (recall trade-off).

    Scale shape: bucket assignment is a narrow projection over one scan;
    the bucket equi-join touches ~N/2^planes candidates per query instead
    of N; everything downstream is identical to the exact path.
    """
    planes = hyperplanes(n_planes, dim)
    e = _prepared(emb_df, id_col, vec_col).withColumn(
        "bucket", lsh_bucket(F.col("v"), planes)
    )
    q = e.filter(query_pred).select(
        F.col(id_col).alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        "bucket",
    )
    cos = dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
    cos = round_expr(cos) if round_expr is not None else cos
    scored = (
        e.join(F.broadcast(q), "bucket")
        .filter(F.col("q_id") != F.col(id_col))
        .select(
            "q_id", F.col(id_col).alias("cand_id"), "bucket", cos.alias("cosine")
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "cand_id", "bucket", "cosine")
    )


def ivf_ann_topk(
    emb_df: DataFrame,
    query_pred: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 2,
    k: int = 3,
    seed: int = 42,
    round_expr=None,
) -> DataFrame:
    """IVF (inverted-file) ANN: a seeded MLlib KMeans coarse quantizer
    partitions vectors into ``n_centroids`` cells; each query scores only
    the ``n_probe`` cells whose centroids are nearest to it.

    Scale shape: training samples one pass (MLlib treeAggregate); cell
    assignment is a narrow ``model.transform``; the probe list is a
    broadcast of (query × n_probe) rows; candidate scoring is a cell
    equi-join touching ~``n_probe/n_centroids`` of the data per query —
    the same meet-in-bucket shape as the LSH path but with data-adaptive
    cells (better recall on clustered embeddings). Recall < 1 by
    construction; ``n_probe = n_centroids`` degrades gracefully to exact.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    e = _prepared(emb_df, id_col, vec_col).withColumn(
        "fv", array_to_vector(F.col("v"))
    )
    model = KMeans(k=n_centroids, seed=seed, featuresCol="fv").fit(e)
    assigned = model.transform(e).select(
        F.col(id_col), "v", "nrm", F.col("prediction").alias("cell")
    )

    # Probe list: per query, the n_probe nearest centroid cells (centroids
    # are tiny — driver-side literals, broadcast join).
    centers = [
        (ci, [float(x) for x in c]) for ci, c in enumerate(model.clusterCenters())
    ]
    centers_df = emb_df.sparkSession.createDataFrame(
        centers, "cell int, centroid array<double>"
    )
    q = assigned.filter(query_pred).select(
        F.col(id_col).alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    d2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("centroid"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wp = Window.partitionBy("q_id").orderBy(F.asc("dist2"), F.asc("cell"))
    probes = (
        q.crossJoin(F.broadcast(centers_df))
        .select("q_id", "qv", "qn", "cell", d2.alias("dist2"))
        .withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= n_probe)
        .select("q_id", "qv", "qn", "cell")
    )

    cos = dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
    cos = round_expr(cos) if round_expr is not None else cos
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("q_id") != F.col(id_col))
        .select("q_id", F.col(id_col).alias("cand_id"), "cell", cos.alias("cosine"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "cand_id", "cell", "cosine")
    )


def _d2_to_center(v: Column, center: list[float]) -> Column:
    """Squared L2 distance to a literal centroid — sequential left-to-right
    fold, bit-identical across engines. (r9: an unrolled chain was
    measured and REVERTED — see `quantize._sub_d2`'s form note and
    SCALING.md round-9.)"""
    c = F.array(*[F.lit(x) for x in center])
    return F.aggregate(
        F.zip_with(v, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def ivf_cell_structs(v: Column, centers: list[list[float]]) -> Column:
    """array<struct<d: double, cell: int>> of distances to every centroid."""
    return F.array(
        *[
            F.struct(_d2_to_center(v, c).alias("d"), F.lit(i).alias("cell"))
            for i, c in enumerate(centers)
        ]
    )


def ivf_assign(v: Column, centers: list[list[float]]) -> Column:
    """Nearest-centroid cell id as a pure expression: ``array_min`` over
    (dist², cell) structs orders lexicographically, so ties break to the
    lowest cell — narrow, shuffle-free, whole-stage-codegen'd."""
    return F.array_min(ivf_cell_structs(v, centers)).getField("cell")


def ivf_ann_topk_pretrained(
    emb_df: DataFrame,
    query_pred: Column,
    centers: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 2,
    k: int = 3,
    round_expr=None,
) -> DataFrame:
    """IVF ANN with a PRETRAINED coarse quantizer (centroid literals),
    the production shape: real IVF indexes train the quantizer once on a
    sample, then assignment is a cheap per-row computation — here a pure
    Column expression, so the scan stays narrow and JVM-side with no
    model object or Python at query time.

    Scale shape: cell assignment is shuffle-free; each query probes its
    ``n_probe`` nearest cells; candidates meet the broadcast probe list in
    a cell equi-join touching ~n_probe/n_cells of the data. Because the
    centroids are driver literals, a SQL oracle replicates assignment,
    probing, and scoring exactly (see plans/battery.py:embed_ivf_ann).
    """
    e = _prepared(emb_df, id_col, vec_col).withColumn(
        "cell", ivf_assign(F.col("v"), centers)
    )
    probes = (
        e.filter(query_pred)
        .select(
            F.col(id_col).alias("q_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
            F.explode(
                F.slice(F.array_sort(ivf_cell_structs(F.col("v"), centers)), 1, n_probe)
            ).alias("probe"),
        )
        .select("q_id", "qv", "qn", F.col("probe.cell").alias("cell"))
    )
    cos = dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
    cos = round_expr(cos) if round_expr is not None else cos
    scored = (
        e.join(F.broadcast(probes), "cell")
        .filter(F.col("q_id") != F.col(id_col))
        .select("q_id", F.col(id_col).alias("cand_id"), "cell", cos.alias("cosine"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "cand_id", "cell", "cosine")
    )


def cosine_dup_pairs(
    emb_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    n_planes: int = DEFAULT_PLANES,
    dim: int = 64,
    exact: bool = True,
    round_expr=None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a < b) pairs with
    cosine ≥ threshold.

    ``exact=True`` scores every pair (the O(n²) correctness baseline —
    fine for bounded tables, the oracle path).
    ``exact=False`` restricts to same-LSH-bucket pairs (the 100 TB path:
    near-dups have cosine ≈ 1 so they land in the same sign bucket with
    high probability).
    """
    e = _prepared(emb_df, id_col, vec_col)
    if not exact:
        e = e.withColumn("bucket", lsh_bucket(F.col("v"), hyperplanes(n_planes, dim)))
    a = e.select(
        *(["bucket"] if not exact else []),
        F.col(id_col).alias("id_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = e.select(
        *(["bucket"] if not exact else []),
        F.col(id_col).alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    joined = (
        a.join(b, "bucket") if not exact else a.crossJoin(b)
    ).filter(F.col("id_a") < F.col("id_b"))
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    cos = round_expr(cos) if round_expr is not None else cos
    return (
        joined.select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def ivf_centroid_refresh(
    emb_df: DataFrame,
    centers: list[list[float]],
    batch_pred: Column,
    prior_weight: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Windowed ANN-index refresh: fold one arriving window of vectors
    into a pretrained IVF coarse quantizer — the maintenance operation a
    streaming retrieval index runs per micro-batch so cells track the
    embedding distribution without a full retrain.

    Each batch vector is assigned to its nearest pinned centroid (pure
    Column expression, shuffle-free — see :func:`ivf_assign`), then per
    (cell, dimension) the refreshed component is the prior-weighted mean
    of the old centroid and the new members::

        refreshed = (prior_weight * c + sum(batch)) / (prior_weight + n)

    evaluated in EXACT integer e6 space (components snapped to
    ``floor(x*1e6+0.5)`` bigints, truncating DIV) so the result is
    engine- and partition-order-independent — the same wide-integer
    discipline as the battery's gini/zipf moments. Cells with no new
    members refresh to exactly their old components (``(W*c) DIV W =
    c``), so the output is always the FULL |cells| × dim quantizer
    state, ready to swap in.

    Scale shape: one narrow scan of the window batch, posexplode to
    (cell, pos) and ONE map-side-combined shuffle of ≤ |cells|·dim
    partial sums; the centroid grid is a driver-literal local relation
    joined broadcast. Nothing scales with corpus size — only with the
    window.
    """
    spark = emb_df.sparkSession
    grid = spark.createDataFrame(
        [
            (ci, pos + 1, int(np_floor_e6(comp)))
            for ci, c in enumerate(centers)
            for pos, comp in enumerate(c)
        ],
        "cell int, pos int, c_e6 long",
    )
    # two-step select: a generator (posexplode) in the same projection
    # as the centroid struct-array expression makes the analyzer strip
    # the struct field aliases (FIELD_NOT_FOUND col1/col2) — assign the
    # cell first, explode second
    assigned = emb_df.filter(batch_pred).select(
        ivf_assign(F.col(vec_col), centers).alias("cell"),
        F.col(vec_col).alias("v"),
    )
    batch = assigned.select(
        "cell", F.posexplode(F.col("v")).alias("pos0", "x")
    )
    agg = batch.select(
        "cell",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("x").cast("double") * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("v_e6"),
    ).groupBy("cell", "pos").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v_e6").cast("long").alias("s"),
    )
    return (
        grid.join(F.broadcast(agg), ["cell", "pos"], "left_outer")
        .select(
            "cell",
            "pos",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_new"),
            (
                F.lit(int(prior_weight)).cast("long") * F.col("c_e6")
                + F.coalesce(F.col("s"), F.lit(0))
            ).alias("__num"),
            (
                F.lit(int(prior_weight)).cast("long")
                + F.coalesce(F.col("n"), F.lit(0))
            ).alias("__den"),
        )
        # integer DIV (truncating toward zero — DuckDB `//` semantics;
        # components can be negative so floor-div would diverge). Long
        # DIV stays exact past 2^53 where a double-division round-trip
        # would round the quotient.
        .select(
            "cell",
            "pos",
            "n_new",
            F.expr("__num DIV __den").cast("long").alias("refreshed_e6"),
        )
    )


def np_floor_e6(x: float) -> int:
    """Driver-side twin of the e6 snap (floor(x*1e6 + 0.5)) used for the
    centroid-literal grid — math.floor on a Python float is exact."""
    import math

    return math.floor(x * 1e6 + 0.5)


def semantic_dedup_pairs(
    emb_df: DataFrame,
    centers: list[list[float]],
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    max_cell_rows: int = 20_000,
) -> DataFrame:
    """Cluster-scoped semantic near-duplicate pairs — the candidate step
    of SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", arXiv 2023; public):
    assign every embedding to its nearest pretrained cluster (the IVF
    coarse quantizer — a pure literal expression, shuffle-free), then
    score cosine ONLY within a cluster. Semantic duplicates have
    near-identical embeddings, so they share a cell with high
    probability; cross-cell pairs are never touched.

    Returns ``(cell, id_a, id_b, cosine)`` with ``id_a < id_b`` and
    ``cosine ≥ threshold`` (cosine floor-rounded at ``round_dp``, the
    engine-identical ``_r`` primitive).

    Scale shape — a DESIGNED Arrow crossing (r9 probe-driven redesign):
    within-cell all-pairs is Σ|cell|² work on at most |cells| tasks, so
    per-pair cost decides everything. Two JVM expression forms measured
    at sf1 (20k vectors, 12.5M pairs): interpreted zip_with/aggregate
    fold 116 s, unrolled codegen chain 203 s — both materialize a
    joined row per pair. This kernel instead groups by cell and scores
    each cell's block in numpy with a DIM-ORDERED vectorized
    accumulation (``for d: acc += A[:,d]·B[:,d]``): per pair it
    performs the IDENTICAL left-to-right IEEE additions as the
    sequential fold — bit-exact against the DuckDB ``list_sum`` oracle,
    unlike BLAS matmul's pairwise order, which only rounding could
    absorb —
    while the pair loop itself is vectorized C. Same sf1 scan: ~4 s.

    100 TB: CLUSTER GRANULARITY IS THE KNOB (the paper runs 50k
    clusters on LAION; the pinned 16-centroid book here matches the
    oracle-parity quantizer). Cell size is bounded FAIL-LOUD twice: the
    battery entry's heavy-key guard before launch, and ``max_cell_rows``
    inside the kernel (a cell past it raises with the fix — a finer
    quantizer — named, instead of silently going quadratic). Row-block
    chunking (512 rows vs the cell matrix) keeps kernel memory at
    O(512·|cell|) regardless of pair count."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    dim = len(centers[0])
    scale = float(10**round_dp)
    e = emb_df.select(
        F.col(id_col), dvec(F.col(vec_col)).alias("v")
    ).withColumn("cell", ivf_assign(F.col("v"), centers))
    schema = T.StructType(
        [
            T.StructField("cell", T.IntegerType()),
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def run(key, pdf):
        n = len(pdf)
        if n > max_cell_rows:
            raise ValueError(
                f"semantic_dedup_pairs: cell {key[0]} holds {n:,} vectors "
                f"(bound {max_cell_rows:,}) — the within-cell pair scan "
                "would go quadratic. Retrain a finer quantizer (more "
                "cells) so cell sizes stay bounded."
            )
        if n < 2:
            return pd.DataFrame(
                {"cell": [], "id_a": [], "id_b": [], "cosine": []}
            ).astype({"cell": "int32", "id_a": "int64", "id_b": "int64",
                      "cosine": "float64"})
        ids = pdf[id_col].to_numpy()
        M = np.array([list(v) for v in pdf["v"]], dtype=np.float64)
        # norms via the SAME dim-ordered accumulation as the norm() fold
        nsq = np.zeros(n)
        for d in range(dim):
            nsq += M[:, d] * M[:, d]
        nrm = np.sqrt(nsq)
        out = []
        block = 512
        for s0 in range(0, n, block):
            a = M[s0 : s0 + block]
            acc = np.zeros((len(a), n))
            for d in range(dim):
                acc += a[:, d, None] * M[None, :, d]
            cos = acc / np.outer(nrm[s0 : s0 + block], nrm)
            cos = np.floor(cos * scale + 0.5) / scale
            ai, bi = np.nonzero(cos >= threshold)
            keep = (s0 + ai) < bi  # upper triangle in GLOBAL row order
            if not keep.any():
                continue
            ra, rb = ids[s0 + ai[keep]], ids[bi[keep]]
            lo, hi = np.minimum(ra, rb), np.maximum(ra, rb)
            out.append(
                pd.DataFrame(
                    {
                        "cell": np.full(len(lo), key[0], dtype="int32"),
                        "id_a": lo,
                        "id_b": hi,
                        "cosine": cos[ai[keep], bi[keep]],
                    }
                )
            )
        if not out:
            return pd.DataFrame(
                {"cell": [], "id_a": [], "id_b": [], "cosine": []}
            ).astype({"cell": "int32", "id_a": "int64", "id_b": "int64",
                      "cosine": "float64"})
        return pd.concat(out, ignore_index=True)

    return e.groupBy("cell").applyInPandas(run, schema)


def semantic_dedup_keep(
    emb_df: DataFrame,
    centers: list[list[float]],
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    max_cell_rows: int = 20_000,
) -> DataFrame:
    """SemDeDup keep-list: resolve the within-cluster near-dup pairs to
    one kept representative per duplicate group and label every vector.

    Group resolution is the STAR rule (one symmetric neighborhood-min
    aggregation: ``canonical(x) = min(x, min neighbor(x))`` — the
    `dedup.exact_dup_groups` convention): deterministic, one shuffle,
    and exact on the dense clique-like groups semantic duplicates form;
    a pathological CHAIN of pairwise-similar-but-not-transitively-equal
    vectors may split across canonicals, which is the documented
    difference from the full `dedup.connected_components` closure (use
    that on the pair output when chains matter).

    Returns ``(id_col, cell, canonical_id, is_kept)`` for EVERY input
    vector (vectors with no near-dup keep themselves)."""

    e = _prepared(emb_df, id_col, vec_col).withColumn(
        "cell", ivf_assign(F.col("v"), centers)
    )
    pairs = persist_scoped(
        "semdedup_pairs",
        semantic_dedup_pairs(
            emb_df,
            centers,
            threshold=threshold,
            id_col=id_col,
            vec_col=vec_col,
            round_dp=round_dp,
            max_cell_rows=max_cell_rows,
        ).select("id_a", "id_b"),
    )
    sym = pairs.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("nb")
    ).unionAll(pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("nb")))
    mins = sym.groupBy("u").agg(F.min("nb").alias("__mn"))
    canonical = F.least(
        F.col(id_col), F.coalesce(F.col("__mn"), F.col(id_col))
    )
    # no broadcast hint on mins: it is bounded by the number of vectors
    # IN any near-dup pair — usually tiny, but corpus-sized exactly when
    # the corpus is one big dup cluster (the r7 broadcast-audit rule:
    # AQE broadcasts it at runtime while it measures small and degrades
    # to a shuffle join instead of a driver-sized build when it doesn't)
    return (
        e.select(id_col, "cell")
        .join(mins, e[id_col] == mins["u"], "left_outer")
        .select(
            F.col(id_col),
            "cell",
            canonical.cast("bigint").alias("canonical_id"),
            (F.col(id_col) == canonical).alias("is_kept"),
        )
    )


def label_centroid_separation(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Class-separability audit for labeled embeddings — the QA check a
    team runs before training a classifier on an embedding column: per
    label, the mean cosine of members to their OWN label centroid vs to
    the best OTHER centroid, the margin between them, and the fraction
    of members whose own-centroid cosine beats every other centroid
    (the nearest-centroid accuracy). Collapsed margins mean the labels
    are not linearly recoverable from the embeddings (wrong column,
    broken encoder, or shuffled labels).

    Exactness: components snap to e6 integers, so centroids
    (``Σx_e6 DIV n``, truncating integer division — identical in both
    engines), dot products, and norms are exact bigint arithmetic;
    each member-centroid cosine is ONE deterministic double expression
    snapped to e6 before any aggregation (no float accumulation-order
    hazard). Zero-norm members get NULL cosines and drop from the
    scored set (degenerate-input discipline); a single-label corpus
    reports NULL inter/margin/frac, never an error.

    Returns one row per label: ``(label, n_vecs, n_scored,
    avg_intra_cos_e6, avg_inter_best_cos_e6, margin_e6,
    frac_separated_e6)``.

    Scale shape: one posexplode into (row, pos, x_e6); the centroid
    table is labels × dim (tiny — broadcast); the member-vs-centroid
    dot products are a broadcast join on pos followed by one
    map-side-combined (id, clabel) aggregate — per member, exactly
    k·d multiply-adds, linear in the corpus with a k·d constant;
    everything after is label-granular."""
    comp = df.select(
        F.col(label_col).alias("lbl"),
        F.col(id_col).alias("vid"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x"),
    ).select(
        "lbl",
        "vid",
        "pos",
        F.floor(F.col("x") * 1e6 + F.lit(0.5)).cast("bigint").alias("xe6"),
    )
    cent = (
        comp.groupBy("lbl", "pos")
        .agg(F.sum("xe6").alias("s"), F.count("*").alias("cn"))
        .select(
            F.col("lbl").alias("clabel"),
            "pos",
            F.expr("s DIV cn").cast("bigint").alias("ce6"),
        )
    )
    cnorm = cent.groupBy("clabel").agg(
        F.sum(F.col("ce6") * F.col("ce6")).cast("bigint").alias("nc")
    )
    pair = (
        comp.join(F.broadcast(cent), "pos")
        .groupBy("vid", "lbl", "clabel")
        .agg(
            F.sum(F.col("xe6") * F.col("ce6")).cast("bigint").alias("dt"),
            F.sum(F.col("xe6") * F.col("xe6")).cast("bigint").alias("nv"),
        )
        .join(F.broadcast(cnorm), "clabel")
    )
    cos = F.when(
        (F.col("nv") > 0) & (F.col("nc") > 0),
        F.floor(
            F.col("dt").cast("double")
            / F.sqrt(F.col("nv").cast("double") * F.col("nc").cast("double"))
            * 1e6
            + F.lit(0.5)
        ).cast("bigint"),
    )
    scored = pair.select("vid", "lbl", "clabel", cos.alias("cos_e6"))
    per_vec = scored.groupBy("vid", "lbl").agg(
        F.max(F.when(F.col("clabel") == F.col("lbl"), F.col("cos_e6")))
        .alias("own"),
        F.max(F.when(F.col("clabel") != F.col("lbl"), F.col("cos_e6")))
        .alias("best_other"),
    )
    both = F.col("own").isNotNull() & F.col("best_other").isNotNull()
    return (
        per_vec.groupBy("lbl")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.sum(both.cast("int")).cast("bigint").alias("n_scored"),
            F.sum("own").cast("bigint").alias("__so"),
            F.sum(F.when(both, F.col("best_other")))
            .cast("bigint")
            .alias("__sb"),
            F.sum(F.when(both & (F.col("own") > F.col("best_other")), 1))
            .cast("bigint")
            .alias("__nsep"),
            F.sum(F.col("own").isNotNull().cast("int"))
            .cast("bigint")
            .alias("__nown"),
        )
        .select(
            F.col("lbl").alias(label_col),
            "n_vecs",
            "n_scored",
            F.when(
                F.col("__nown") > 0, F.expr("__so DIV __nown")
            )
            .cast("bigint")
            .alias("avg_intra_cos_e6"),
            F.when(
                F.col("n_scored") > 0, F.expr("__sb DIV n_scored")
            )
            .cast("bigint")
            .alias("avg_inter_best_cos_e6"),
            F.when(
                (F.col("__nown") > 0) & (F.col("n_scored") > 0),
                F.expr("__so DIV __nown - __sb DIV n_scored"),
            )
            .cast("bigint")
            .alias("margin_e6"),
            F.when(
                F.col("n_scored") > 0,
                F.expr("1000000 * coalesce(__nsep, 0) div n_scored"),
            )
            .cast("bigint")
            .alias("frac_separated_e6"),
        )
    )


def embedding_contamination_audit(
    emb_df: DataFrame,
    bench_pred: Column,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_expr=None,
) -> DataFrame:
    """Embedding-space benchmark contamination audit — the SEMANTIC twin
    of the n-gram check (:func:`~.decontam.benchmark_contamination`):
    n-gram decontam misses paraphrased or lightly-reworded benchmark
    leakage, so production decontamination ALSO screens the training
    corpus by embedding proximity to the benchmark set (the
    cosine-similarity decontamination step described openly in e.g. the
    GPT-3 appendix and the Dolma/RedPajama curation reports; public
    methodology). Rows matching ``bench_pred`` are the benchmark;
    everything else is training corpus; a training vector within
    ``threshold`` cosine of a benchmark vector is flagged.

    Returns one row per benchmark vector: ``(bench_id, n_flagged,
    max_cosine, nearest_id)`` — the contamination count at the
    threshold, the closest-approach cosine, and the nearest training
    vector (ties broken by min id — the determinism discipline).
    Degenerate inputs DEGRADE: a zero-norm vector on either side scores
    NULL cosine and drops from max/nearest/count; a benchmark vector
    with NO valid cosine reports n_flagged 0, max_cosine NULL,
    nearest_id NULL — never a division by zero.

    Scale shape: the benchmark side is bounded (a benchmark suite, not
    a corpus) and BROADCASTS onto one scan of the training corpus — the
    corpus never shuffles for the scoring; the per-bench aggregate +
    argmax run in ONE window partitioning on bench_id over the
    |bench|·N scored rows (count/max as unordered window aggregates,
    the nearest row by row_number over the same exchange). At 100 TB
    this is the same shape as :func:`cosine_topk`: embarrassingly
    parallel scoring, then a bench-bounded shuffle."""
    e = _prepared(emb_df, id_col, vec_col)
    q = e.filter(bench_pred).select(
        F.col(id_col).alias("bench_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    c = e.filter(~bench_pred)
    raw = dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
    cos = F.when((F.col("qn") > 0) & (F.col("nrm") > 0), raw)
    cos = round_expr(cos) if round_expr is not None else cos
    scored = c.crossJoin(F.broadcast(q)).select(
        "bench_id", F.col(id_col).alias("cand_id"), cos.alias("cosine")
    )
    wagg = Window.partitionBy("bench_id")
    word = Window.partitionBy("bench_id").orderBy(
        F.col("cosine").desc_nulls_last(), F.col("cand_id")
    )
    return (
        scored.withColumn(
            "n_flagged",
            F.sum(
                F.when(F.col("cosine") >= F.lit(threshold), 1).otherwise(0)
            )
            .over(wagg)
            .cast("bigint"),
        )
        .withColumn("max_cosine", F.max("cosine").over(wagg))
        .withColumn("__rn", F.row_number().over(word))
        .filter(F.col("__rn") == 1)
        .select(
            "bench_id",
            "n_flagged",
            "max_cosine",
            F.when(F.col("cosine").isNotNull(), F.col("cand_id")).alias(
                "nearest_id"
            ),
        )
    )


def hard_negative_topk(
    emb_df: DataFrame,
    query_pred: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    pos_threshold: float = 0.3,
    round_expr=None,
) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR/in-batch
    alternative, Karpukhin et al. EMNLP 2020 §5.2 — public): for each
    anchor row matching ``query_pred``, the ``k`` MOST similar corpus
    rows whose cosine is strictly BELOW ``pos_threshold``. Rows at or
    above the threshold are presumed positives / near-duplicates of the
    anchor — exactly the rows that poison a contrastive batch as false
    negatives — so the miner skips past them and returns the top of the
    honest-negative band instead (similar enough to be hard, distinct
    enough to be true negatives).

    Returns ``(q_id, rank, cand_id, cosine)``, rank 1..k within the
    sub-threshold band, total order (cosine desc, cand_id) as in
    :func:`cosine_topk`. Degenerate inputs DEGRADE: a zero-norm vector
    (anchor or candidate) gets NULL cosine, which the strict ``<``
    filter drops in Spark and DuckDB alike — never a division error or
    a NaN ordering hazard; an anchor whose every candidate clears the
    threshold simply returns no rows.

    Scale shape: identical to :func:`cosine_topk` — the bounded anchor
    set broadcasts onto ONE corpus scan (the corpus never shuffles for
    scoring), the threshold filter cuts BEFORE the per-anchor ranking
    window, and WindowGroupLimit prunes to k map-side. At 100 TB the
    scored set is |anchors|·N rows behind a broadcast, embarrassingly
    parallel; for unbounded anchor sets pre-aggregate a per-partition
    local top-k first (the cosine_topk note).
    """
    e = _prepared(emb_df, id_col, vec_col)
    q = e.filter(query_pred).select(
        F.col(id_col).alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cos = F.when(
        (F.col("qn") != 0) & (F.col("nrm") != 0),
        dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm")),
    )
    cos = round_expr(cos) if round_expr is not None else cos
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col(id_col))
        .select("q_id", F.col(id_col).alias("cand_id"), cos.alias("cosine"))
        .filter(F.col("cosine") < F.lit(pos_threshold))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "cand_id", "cosine")
    )
