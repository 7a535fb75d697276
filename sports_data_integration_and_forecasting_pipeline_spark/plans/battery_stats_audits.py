"""Statistical audits: PMI, weighted median, checksums, grouping sets, sweep-line, chi-square, Benford, funnels, survival, BM25, A/B z-test, seasonal indices.

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

from .battery_core import _cents, _epoch_s, _fdiv, _r, _register, _sql_r, _t
from .battery_events_warehouse import _SESSIONS_SQL, _user_sessions_spark
from .battery_text_dedup import _shingle_raw_sql




# ===========================================================================
# PMI collocations — which word bigrams co-occur far above chance: the
# classic corpus-statistics query behind tokenizer merges and stop-gram
# lists. The association score is the scaled integer ratio
# c_xy·10⁹ ÷ (c_x·c_y) with truncating division (∝ exp(PMI) at fixed N,
# so the RANKING equals the PMI ranking without a cross-engine log/float
# in sight). Exact while c_xy·10⁹ < 2⁶³ (c_xy < 9.2e9 bigram
# occurrences; partition the corpus before that). Scale: unigram vocab
# is bounded (it broadcasts), bigram explode feeds one map-side-combined
# aggregate; the ≥5-count floor prunes the tail before the joins.
# ===========================================================================

@_register(
    "pmi_bigram_collocations",
    f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY w),
    bi AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS c_xy
      FROM (SELECT unnest({_shingle_raw_sql(2)}) AS tok FROM documents
            WHERE len(string_split(text, ' ')) >= 2)
      GROUP BY tok
      HAVING count(*) >= 5)
    SELECT tok AS bigram, c_xy, u1.c AS c_x, u2.c AS c_y,
           CAST((c_xy * 1000000000) // (u1.c * u2.c) AS BIGINT) AS assoc_e9
    FROM bi
    JOIN uni u1 ON u1.w = string_split(tok, ' ')[1]
    JOIN uni u2 ON u2.w = string_split(tok, ' ')[2]
    ORDER BY assoc_e9 DESC, bigram LIMIT 50
    """,
    "textops: PMI bigram collocations (integer-scaled association ratio, "
    "broadcast unigram vocab)",
    "top-50 word bigrams by scaled co-occurrence ratio c_xy*1e9/(c_x*c_y) "
    "with a >=5-count floor",
)
def pmi_bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import (
        shingle_rows,
    )
    from sports_data_integration_and_forecasting_pipeline_spark.operators.parallelism import (
        ensure_parallelism,
    )

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"), "doc_id")
    toks = F.split(F.col("text"), " ")
    uni = (
        docs.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    # r8: codegen lead-window bigrams (see vocab_coverage note); the
    # >=2-token filter means no clamped shingles on either form
    bi = (
        shingle_rows(docs.filter(F.size(toks) >= 2), n=2)
        .groupBy(F.col("shingle").alias("tok"))
        .agg(F.count("*").cast("bigint").alias("c_xy"))
        .filter(F.col("c_xy") >= 5)
    )
    parts = F.split(F.col("tok"), " ")
    bi2 = bi.select(
        "tok",
        "c_xy",
        parts.getItem(0).alias("w1"),
        parts.getItem(1).alias("w2"),
    )
    u1 = uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "c_x")
    u2 = uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "c_y")
    j = bi2.join(F.broadcast(u1), "w1").join(F.broadcast(u2), "w2")
    return (
        j.select(
            F.col("tok").alias("bigram"),
            "c_xy",
            "c_x",
            "c_y",
            F.expr(
                "CAST((c_xy * 1000000000) div (c_x * c_y) AS BIGINT)"
            ).alias("assoc_e9"),
        )
        .orderBy(F.desc("assoc_e9"), "bigram")
        .limit(50)
    )


# ===========================================================================
# Exact weighted median — the order-statistic that plain percentile
# windows can't express: the price point splitting each group's QUANTITY
# mass in half. One cumulative-sum window and one group-total window
# share a single l_returnflag exchange; the crossing test 2·cumq ≥ totq
# is pure bigint (no float quantile interpolation to diverge between
# engines), and the cumsum order is pinned by the unique line key so
# equal prices can't reorder the crossing. Scale: one shuffle + one
# sort per group — the same cost envelope as any windowed rank.
# ===========================================================================

@_register(
    "weighted_median_price",
    """
    WITH li AS (
      SELECT l_returnflag,
             CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
               AS price_cents,
             CAST(floor(l_quantity + 0.5) AS BIGINT) AS qn,
             l_orderkey, l_linenumber
      FROM lineitem),
    c AS (
      SELECT l_returnflag, price_cents,
             sum(qn) OVER (PARTITION BY l_returnflag
                           ORDER BY price_cents, l_orderkey, l_linenumber
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumq,
             sum(qn) OVER (PARTITION BY l_returnflag) AS totq
      FROM li)
    SELECT l_returnflag, CAST(min(totq) AS BIGINT) AS total_qty,
           CAST(min(CASE WHEN 2 * cumq >= totq THEN price_cents END)
                AS BIGINT) AS weighted_median_cents
    FROM c GROUP BY l_returnflag
    """,
    "analytics: exact quantity-weighted median via integer prefix-sum "
    "threshold crossing (pinned cumsum order)",
    "per return flag: the price splitting the group's quantity mass in "
    "half, exact cents",
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        _cents(F.col("l_extendedprice")).alias("price_cents"),
        F.floor(F.col("l_quantity") + 0.5).cast("bigint").alias("qn"),
        "l_orderkey",
        "l_linenumber",
    )
    wc = (
        Window.partitionBy("l_returnflag")
        .orderBy("price_cents", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("l_returnflag")
    c = li.select(
        "l_returnflag",
        "price_cents",
        F.sum("qn").over(wc).alias("cumq"),
        F.sum("qn").over(wt).alias("totq"),
    )
    return c.groupBy("l_returnflag").agg(
        F.min("totq").cast("bigint").alias("total_qty"),
        F.min(
            F.when(2 * F.col("cumq") >= F.col("totq"), F.col("price_cents"))
        )
        .cast("bigint")
        .alias("weighted_median_cents"),
    )


# ===========================================================================
# Orderless table checksum — how a 100 TB migration validates a copy
# WITHOUT sorting either side: per hash-bucket row count + sum + xor of
# a canonical per-row hash. Every aggregate is commutative, so the
# result is independent of partitioning, task order, and row order; a
# mismatch localizes to 1/16th of the key space. The canonical string
# uses only engine-portable renderings (bigints, cents, epoch seconds —
# never raw float/timestamp formatting). Sum bound: h32 < 2³², exact
# while each bucket holds < 2³¹ rows — at larger scale raise the bucket
# count, the shape is unchanged. One map-side-combined exchange.
# ===========================================================================

@_register(
    "table_checksum_audit",
    """
    WITH r AS (
      SELECT o_orderkey % 16 AS bucket,
             CAST(concat('0x', substring(md5(concat_ws('|',
                  CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
                  o_orderstatus,
                  CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
                       AS VARCHAR),
                  CAST(epoch_us(o_orderdate) // 1000000 AS VARCHAR),
                  o_orderpriority)), 1, 8)) AS BIGINT) AS h
      FROM orders)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(h) AS BIGINT) AS sum_h,
           CAST(bit_xor(h) AS BIGINT) AS xor_h
    FROM r GROUP BY bucket
    """,
    "data quality: orderless per-bucket table checksum (commutative "
    "count/sum/xor of canonical row hashes)",
    "16-bucket orders checksum: row count, sum and xor of the md5-derived "
    "row hash — partition/order independent copy validation",
)
def table_checksum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.dedup import h32

    o = _t(spark, sf_dir, "orders")
    canonical = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        _cents(F.col("o_totalprice")).cast("string"),
        _epoch_s(F.col("o_orderdate")).cast("string"),
        F.col("o_orderpriority"),
    )
    r = o.select(
        (F.col("o_orderkey") % 16).cast("bigint").alias("bucket"),
        h32(canonical).alias("h"),
    )
    return r.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("h").cast("bigint").alias("sum_h"),
        F.expr("CAST(bit_xor(h) AS BIGINT)").alias("xor_h"),
    )


# ===========================================================================
# Arbitrary GROUPING SETS — the reshape primitive ROLLUP/CUBE are sugar
# for: a custom set list (both 1-D margins plus the 2-D cells, NO grand
# total) in one Expand pass, with grouping_id disambiguating a real
# NULL key from an aggregated-away one. Complements rollup_pricing /
# cube_pricing; the oracle spells the id as 2·grouping(a)+grouping(b),
# the engine-portable bitmask form. Scale: one Expand (3× the scan) +
# one map-side-combined exchange — same envelope as cube.
# ===========================================================================

@_register(
    "grouping_sets_pricing",
    """
    SELECT o_orderpriority, o_orderstatus,
           CAST(2 * grouping(o_orderpriority) + grouping(o_orderstatus)
                AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderpriority), (o_orderstatus))
    """,
    "reshape: arbitrary GROUPING SETS with grouping_id disambiguation "
    "(the primitive under rollup/cube)",
    "2-D cells plus both 1-D margins (no grand total) over "
    "(priority, status) in one Expand pass",
)
def grouping_sets_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r6: pre-aggregate to the finest set, then expand the cell table —
    # see rollup_pricing. grouping_id() is computed by the OUTER
    # grouping-sets pass, so it is identical over the pre-aggregate.
    o = _t(spark, sf_dir, "orders")
    base = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("pn"),
        F.sum(_cents(F.col("o_totalprice"))).alias("ps"),
    )
    return base.groupingSets(
        [
            ["o_orderpriority", "o_orderstatus"],
            ["o_orderpriority"],
            ["o_orderstatus"],
        ],
        "o_orderpriority",
        "o_orderstatus",
    ).agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.sum("pn").cast("bigint").alias("n_orders"),
        F.sum("ps").cast("bigint").alias("sum_cents"),
    )


# ===========================================================================
# Sweep-line concurrency — the SCALABLE answer to "how many sessions
# were open at time t": session boundaries become (+1, −1) deltas,
# same-instant deltas pre-aggregate (eliminating tie-order ambiguity),
# and one running sum over the boundary AGGREGATE yields the full
# concurrency time series. The complementary range-join entry
# enumerates overlap PAIRS (quadratic in overlap degree); the sweep is
# linear in session count at any overlap density. The global window
# runs over |boundaries| rows (two per session, orders of magnitude
# below the scan); at 100 TB the same sweep runs as the distributed
# two-phase prefix sum (operators/chunking.py is the house pattern).
# ===========================================================================

@_register(
    "concurrency_sweep_line",
    f"""
    WITH {_SESSIONS_SQL},
    b AS (
      SELECT s AS t, 1 AS delta FROM sessions
      UNION ALL
      SELECT e + 1 AS t, -1 AS delta FROM sessions),
    g AS (SELECT t, CAST(sum(delta) AS BIGINT) AS d FROM b GROUP BY t)
    SELECT t AS t_s,
           CAST(sum(d) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS concurrency
    FROM g
    """,
    "analytics: sweep-line concurrency (running sum over pre-aggregated "
    "session boundaries — linear where pair enumeration is quadratic)",
    "concurrent open sessions at every boundary instant, from the same "
    "30-min-gap sessionization as the range-join entry",
)
def concurrency_sweep_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    sessions = _user_sessions_spark(_t(spark, sf_dir, "events"))
    b = sessions.select(
        F.col("s").alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        sessions.select(
            (F.col("e") + 1).alias("t"), F.lit(-1).alias("delta")
        )
    )
    g = b.groupBy("t").agg(F.sum("delta").cast("bigint").alias("d"))
    # r7: the boundary aggregate has one row per distinct session
    # instant — it scales with the data, so the running sum is the
    # distributed two-phase form, not a one-task sort of every instant
    from sports_data_integration_and_forecasting_pipeline_spark.operators.parallelism import (
        global_running_sum,
    )

    return global_running_sum(
        g, ["t"], "d", out_col="concurrency", cache_role="sweep_cumsum"
    ).select(
        F.col("t").alias("t_s"),
        F.col("concurrency").cast("bigint").alias("concurrency"),
    )


# ===========================================================================
# Chi-square drift test — the distribution-shift gate a training-data
# pipeline runs before admitting a new batch: is event_type independent
# of time period? Cell terms use the cross-multiplied form
# (o·n − r·c)² / (r·c·n) so every product of exact bigint counts stays
# a single deterministic double op per cell (no float expected-count
# intermediary), rounded 6dp. Scale: one count aggregate; row/col/grand
# totals are re-aggregates of those ≤|periods|·|types| cells, broadcast
# back — the raw stream is scanned once.
# ===========================================================================

@_register(
    "chi_square_drift",
    f"""
    WITH c AS (
      SELECT CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END
               AS period,
             event_type, CAST(count(*) AS BIGINT) AS n_obs
      FROM events GROUP BY 1, 2),
    tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM c),
    r AS (SELECT period, CAST(sum(n_obs) AS BIGINT) AS rt
          FROM c GROUP BY period),
    col AS (SELECT event_type, CAST(sum(n_obs) AS BIGINT) AS ct
            FROM c GROUP BY event_type)
    SELECT c.period, c.event_type, c.n_obs,
           CAST(r.rt * col.ct AS BIGINT) AS exp_times_n,
           {_sql_r('((1.0 * c.n_obs * t.n - 1.0 * r.rt * col.ct)'
                   ' * (1.0 * c.n_obs * t.n - 1.0 * r.rt * col.ct))'
                   ' / (1.0 * r.rt * col.ct * t.n)', 6)} AS chi2_term
    FROM c JOIN r USING (period) JOIN col USING (event_type)
    CROSS JOIN tot t
    """,
    "data quality: chi-square independence drift test (cross-multiplied "
    "integer cell terms, totals broadcast over the cell aggregate)",
    "per (period-half, event_type) cell: observed count, integer "
    "expected*n, and the 6dp chi-square contribution",
)
def chi_square_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    split = F.lit("2024-01-16").cast("timestamp_ntz")
    c = (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.when(F.col("ts") < split, 0).otherwise(1).alias("period"),
            "event_type",
        )
        .agg(F.count("*").cast("bigint").alias("n_obs"))
    )
    tot = c.agg(F.sum("n_obs").cast("bigint").alias("n"))
    r = c.groupBy("period").agg(F.sum("n_obs").cast("bigint").alias("rt"))
    col = c.groupBy("event_type").agg(
        F.sum("n_obs").cast("bigint").alias("ct")
    )
    j = (
        c.join(F.broadcast(r), "period")
        .join(F.broadcast(col), "event_type")
        .crossJoin(F.broadcast(tot))
    )
    diff = (
        F.lit(1.0) * F.col("n_obs") * F.col("n")
        - F.lit(1.0) * F.col("rt") * F.col("ct")
    )
    return j.select(
        "period",
        "event_type",
        "n_obs",
        (F.col("rt") * F.col("ct")).cast("bigint").alias("exp_times_n"),
        _r(
            (diff * diff)
            / (F.lit(1.0) * F.col("rt") * F.col("ct") * F.col("n")),
            6,
        ).alias("chi2_term"),
    )


# ===========================================================================
# Benford first-digit audit — the classic fabricated-data screen: the
# leading digit of every order amount against Benford's log10(1+1/d)
# expectation. Expected shares are PINNED integer ppm literals (they sum
# to exactly 1,000,000), observed shares use truncating integer
# division — no log and no float anywhere, so the audit is bit-exact on
# both engines. Scale: one 9-group aggregate; the digit extraction is a
# narrow string op on the scan.
# ===========================================================================

_BENFORD_PPM = (
    (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
    (6, 66947), (7, 57992), (8, 51153), (9, 45757),
)

@_register(
    "benford_first_digit_audit",
    f"""
    WITH d AS (
      SELECT CAST(substring(CAST(CAST(floor(o_totalprice * 100.0 + 0.5)
                                      AS BIGINT) AS VARCHAR), 1, 1)
                  AS BIGINT) AS digit
      FROM orders),
    c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
          FROM d GROUP BY digit),
    t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM c),
    exp AS (SELECT * FROM (VALUES
        {', '.join(f'({d}, {p})' for d, p in _BENFORD_PPM)})
        AS e(digit, expected_ppm))
    SELECT c.digit, c.n_obs,
           CAST((1000000 * c.n_obs) // t.n AS BIGINT) AS observed_ppm,
           CAST(e.expected_ppm AS BIGINT) AS expected_ppm,
           CAST(abs((1000000 * c.n_obs) // t.n - e.expected_ppm)
                AS BIGINT) AS abs_dev_ppm
    FROM c JOIN exp e ON c.digit = e.digit CROSS JOIN t
    """,
    "data quality: Benford first-digit audit (pinned integer ppm "
    "expectations, log-free and float-free)",
    "per leading digit of order cents: observed count/ppm vs pinned "
    "Benford ppm and the absolute deviation",
)
def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    d = o.select(
        F.substring(
            _cents(F.col("o_totalprice")).cast("string"), 1, 1
        )
        .cast("bigint")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count("*").cast("bigint").alias("n_obs"))
    t = c.agg(F.sum("n_obs").cast("bigint").alias("n"))
    exp = spark.createDataFrame(
        list(_BENFORD_PPM), schema="digit bigint, expected_ppm bigint"
    )
    obs_ppm = F.expr("CAST((1000000 * n_obs) div n AS BIGINT)")
    return (
        c.join(F.broadcast(exp), "digit")
        .crossJoin(F.broadcast(t))
        .select(
            "digit",
            "n_obs",
            obs_ppm.alias("observed_ppm"),
            F.col("expected_ppm").cast("bigint"),
            F.abs(obs_ppm - F.col("expected_ppm"))
            .cast("bigint")
            .alias("abs_dev_ppm"),
        )
    )


# ===========================================================================
# Native recursive CTE (Spark 4) — the same digit-prefix hierarchy walk
# as hierarchy_root_depth, expressed as WITH RECURSIVE in Spark SQL
# itself (feature-parity proof for the newest SQL surface; DuckDB runs
# the byte-similar oracle). The scale CONTRAST is the point: this runs
# one iteration per hierarchy LEVEL (depth-D ⇒ D sequential rounds),
# while operators/graph.py:tree_roots pointer-doubles the same closure
# in ⌈log₂D⌉ shuffles — prefer it when D is deep. Recursion depth here
# is ≤ ⌈log₁₀ max(custkey)⌉, far under Spark's recursion level limit.
# ===========================================================================

@_register(
    "recursive_cte_walk",
    """
    WITH RECURSIVE walk AS (
      SELECT c_custkey AS node, c_custkey AS cur, 0 AS depth FROM customer
      UNION ALL
      SELECT node, cur // 10, depth + 1 FROM walk WHERE cur >= 10
    )
    SELECT node AS c_custkey, CAST(cur AS BIGINT) AS root,
           CAST(depth AS INT) AS depth
    FROM walk WHERE cur < 10
    """,
    "graph: native Spark 4 WITH RECURSIVE (level-per-round walk; the "
    "pointer-doubling entry is the log-depth scale path)",
    "root and depth per customer via a native recursive CTE — same "
    "result set as hierarchy_root_depth",
)
def recursive_cte_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark guards recursive CTEs with cteRecursionRowLimit (default 1M
    # TOTAL rows across all iterations) — a runaway-recursion valve, not
    # a semantic bound. This walk emits ≤ 19 rows per customer (digit
    # count of a bigint), so the default trips at ~100k customers: the
    # r15 sf1 sweep hit RECURSION_ROW_LIMIT_EXCEEDED at 150k customers
    # while every gate scale passed. Size the valve for the workload
    # (levelLimit=100 still catches true runaways); set here and not
    # only in session.py because the external driver builds its own
    # SparkSession.
    spark.conf.set("spark.sql.cteRecursionRowLimit", "2000000000")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("rcte_customer")
    return spark.sql(
        """
        WITH RECURSIVE walk AS (
          SELECT c_custkey AS node, c_custkey AS cur, 0 AS depth
          FROM rcte_customer
          UNION ALL
          SELECT node, cur DIV 10, depth + 1 FROM walk WHERE cur >= 10
        )
        SELECT node AS c_custkey, CAST(cur AS BIGINT) AS root,
               CAST(depth AS INT) AS depth
        FROM walk WHERE cur < 10
        """
    )


# ===========================================================================
# Null-skew-safe outer join — the third skew lever next to salting and
# bucketing: a LEFT join must PRESERVE null-key rows, so the engine
# can't filter them below the join and every null FK hashes to ONE
# reducer. On a fact table whose FK is mostly null (optional promo
# attribute here: ~4/5 of events), that task receives most of the
# table. operators/skew.py:null_safe_left_join splits the null slice
# out structurally — the shuffle sees zero null keys, the nulls ride a
# narrow union branch — while staying semantically identical to the
# plain LEFT JOIN the oracle runs.
# ===========================================================================

@_register(
    "null_skew_left_join",
    """
    WITH e AS (
      SELECT CASE WHEN event_type = 'purchase' THEN user_id % 25 END
               AS promo_id,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events)
    SELECT n.n_name, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(e.cents) AS BIGINT) AS sum_cents
    FROM e LEFT JOIN nation n ON e.promo_id = n.n_nationkey
    GROUP BY n.n_name
    """,
    "skew: null-safe left join (null FK slice bypasses the shuffle via a "
    "union branch; plain LEFT JOIN oracle)",
    "per promo nation (null = no promo): event count and value cents — "
    "mostly-null FK joined without the single-reducer null hotspot",
)
def null_skew_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.skew import (
        null_safe_left_join,
    )

    ev = _t(spark, sf_dir, "events").select(
        F.when(
            F.col("event_type") == "purchase", F.col("user_id") % 25
        ).alias("promo_id"),
        _cents(F.col("value")).alias("cents"),
    )
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = null_safe_left_join(ev, nat, "promo_id", "n_nationkey")
    return j.groupBy("n_name").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    )


# ===========================================================================
# VARIANT semi-structured extraction (Spark 4) — the engine-native
# answer to JSON columns: parse once into the shredded binary VARIANT
# encoding, then typed `variant_get` paths (no per-access string
# re-parse, unlike get_json_object chains — the existing
# json_props_rollup entry is the classic-path twin). The oracle reads
# the same path through DuckDB's JSON extension. Scale: parse+extract
# is a narrow projection; one map-side-combined aggregate on the
# derived bucket.
# ===========================================================================

@_register(
    "variant_props_extract",
    """
    WITH v AS (
      SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events)
    SELECT k % 10 AS k_bucket,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_k,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM v GROUP BY k % 10
    """,
    "semi-structured: Spark 4 VARIANT parse_json + typed variant_get "
    "(shredded binary encoding; classic-path twin: json_props_rollup)",
    "per props.k decade bucket: event count, distinct k, value cents — "
    "extracted through the VARIANT type",
)
def variant_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    v = ev.select(
        F.variant_get(F.parse_json(F.col("props")), "$.k", "bigint").alias(
            "k"
        ),
        _cents(F.col("value")).alias("cents"),
    )
    return v.groupBy((F.col("k") % 10).alias("k_bucket")).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.countDistinct("k").cast("bigint").alias("n_distinct_k"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    )


# ===========================================================================
# Forward fill (last observation carried forward) — the time-series
# gap-fill every sensor/feed pipeline needs: IGNORE NULLS running
# last_value per key. Nulls are simulated by masking 'error' events
# (the testdata has no native nulls); the fill is exact cents. One
# user_id window, shuffle shared with nothing else — the whole entry is
# a single sort-based window pass, the same envelope as any lag/lead.
# ===========================================================================

@_register(
    "forward_fill_gaps",
    """
    SELECT event_id, user_id,
           CAST(epoch_us(ts) // 1000000 AS BIGINT) AS ts_s,
           CASE WHEN event_type <> 'error'
                THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) END
             AS observed_cents,
           last_value(CASE WHEN event_type <> 'error'
                           THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
                      END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS filled_cents
    FROM events
    """,
    "time series: IGNORE NULLS forward fill (last observation carried "
    "forward per key)",
    "per event: observed cents (error events masked to null) and the "
    "last-non-null carry-forward",
)
def forward_fill_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    masked = F.when(
        F.col("event_type") != "error", _cents(F.col("value"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        _epoch_s(F.col("ts")).alias("ts_s"),
        masked.alias("observed_cents"),
        F.last(masked, ignorenulls=True).over(w).alias("filled_cents"),
    )


# ===========================================================================
# Fuzzy entity matching — blocked Levenshtein: the entity-resolution
# primitive (dirty vendor/customer master data) done the scale-safe
# way. The all-pairs edit-distance comparison is quadratic; BLOCKING
# (here: equal name prefix, the standard phonetic/prefix/length-band
# family) turns it into within-block equi-join candidates, and the
# distance filter runs only on candidates. Edit distance is a pure
# integer DP — bit-identical across engines. The same pattern carries
# any blocking key (soundex, length band, q-gram) at 100 TB.
# ===========================================================================

@_register(
    "fuzzy_name_match",
    """
    WITH s AS (SELECT s_suppkey, s_name,
                      substring(s_name, 1, length(s_name) - 2) AS blk
               FROM supplier)
    SELECT a.s_suppkey AS supp_a, b.s_suppkey AS supp_b,
           a.s_name AS name_a, b.s_name AS name_b,
           CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS edit_distance
    FROM s a JOIN s b ON a.blk = b.blk AND a.s_suppkey < b.s_suppkey
    WHERE levenshtein(a.s_name, b.s_name) <= 1
    """,
    "entity resolution: blocked Levenshtein fuzzy match (prefix blocking "
    "bounds the candidate pairs; integer DP distance)",
    "supplier-name pairs within one edit in the same prefix block",
)
def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_name",
        F.expr("substring(s_name, 1, length(s_name) - 2)").alias("blk"),
    )
    a = s.select(
        F.col("s_suppkey").alias("supp_a"),
        F.col("s_name").alias("name_a"),
        "blk",
    )
    b = s.select(
        F.col("s_suppkey").alias("supp_b"),
        F.col("s_name").alias("name_b"),
        "blk",
    )
    return (
        a.join(b, "blk")
        .filter(F.col("supp_a") < F.col("supp_b"))
        .withColumn(
            "edit_distance",
            F.levenshtein(F.col("name_a"), F.col("name_b")).cast("bigint"),
        )
        .filter(F.col("edit_distance") <= 1)
        .select("supp_a", "supp_b", "name_a", "name_b", "edit_distance")
    )


# ===========================================================================
# Native session_window (batch) — Spark's built-in gap-based session
# assignment as a GROUPING expression: one aggregate pass, no lag
# window, no islands CTE. The oracle derives identical sessions via
# gaps-and-islands (the engine-portable form, shared with
# event_sessionize — which remains the twin entry proving the classic
# rewrite). Session end in Spark's model is last_event + gap; the
# oracle mirrors that definition exactly. At scale the native form is
# the one to prefer: it fuses session assignment into the aggregation
# instead of paying a separate sort-based window pass.
# ===========================================================================

@_register(
    "session_window_native",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS ns
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts, cents,
             sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           CAST(epoch_us(min(ts)) // 1000000 AS BIGINT) AS session_start_s,
           CAST(epoch_us(max(ts)) // 1000000 + 1800 AS BIGINT)
             AS session_end_s,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM numbered GROUP BY user_id, sid
    """,
    "analytics: native session_window grouping (one fused aggregate "
    "pass; twin of the gaps-and-islands event_sessionize)",
    "per (user, 30-min-gap session): start, end (= last event + gap), "
    "event count, value cents — via Spark's built-in session_window",
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("sw"), "user_id"
        )
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(_cents(F.col("value"))).cast("bigint").alias("sum_cents"),
        )
        .select(
            "user_id",
            _epoch_s(F.col("sw.start")).alias("session_start_s"),
            _epoch_s(F.col("sw.end")).alias("session_end_s"),
            "n_events",
            "sum_cents",
        )
    )


# ===========================================================================
# Year-over-year growth — the reporting staple: monthly revenue joined
# against the same month one year earlier. A self-join on the (year-1,
# month) key beats lag(12) because it is robust to gap months and needs
# no global sort — the monthly aggregate is tiny (one row per month), so
# the join is a broadcast of an already-reduced table. Revenue is exact
# integer cents; the growth ratio is one double division of identical
# bigints, rounded 6dp.
# ===========================================================================

@_register(
    "yoy_monthly_growth",
    f"""
    WITH m AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
             CAST(month(o_orderdate) AS BIGINT) AS mo,
             CAST(sum(floor(o_totalprice * 100.0 + 0.5)) AS BIGINT)
               AS rev_cents
      FROM orders GROUP BY 1, 2)
    SELECT a.yr, a.mo, a.rev_cents,
           b.rev_cents AS prev_rev_cents,
           {_sql_r('1.0 * a.rev_cents / b.rev_cents - 1.0', 6)}
             AS yoy_growth
    FROM m a LEFT JOIN m b ON b.yr = a.yr - 1 AND b.mo = a.mo
    """,
    "analytics: year-over-year monthly growth (self-join on the "
    "pre-aggregated month table; no global sort, gap-month robust)",
    "per (year, month): revenue cents, prior-year-same-month cents, and "
    "6dp YoY growth ratio (null for the first year)",
)
def yoy_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
    ).agg(F.sum(_cents(F.col("o_totalprice"))).cast("bigint").alias("rev_cents"))
    a = m
    b = m.select(
        (F.col("yr") + 1).alias("yr"),
        F.col("mo"),
        F.col("rev_cents").alias("prev_rev_cents"),
    )
    return a.join(F.broadcast(b), ["yr", "mo"], "left").select(
        "yr",
        "mo",
        "rev_cents",
        "prev_rev_cents",
        _r(
            F.lit(1.0) * F.col("rev_cents") / F.col("prev_rev_cents")
            - F.lit(1.0),
            6,
        ).alias("yoy_growth"),
    )


# ===========================================================================
# CUSUM change-point scan — the classic drift locator over a daily
# series: cumulative sum of deviations from the global mean peaks at the
# change point. Everything stays integer-exact: instead of the float
# mean, each day's deviation is scaled by n_days (dev = x_i*n − S, a
# bigint), so the running CUSUM and the argmax flag are bit-identical
# on both engines with no rounding at all. Scale: the raw stream
# collapses to one row per day in a single map-side-combined aggregate;
# the window runs over that tiny series.
# ===========================================================================

@_register(
    "cusum_changepoint",
    """
    WITH d AS (
      SELECT CAST(epoch_us(ts) // 1000000 // 86400 AS BIGINT) AS day_num,
             CAST(sum(floor(value * 100.0 + 0.5)) AS BIGINT) AS day_cents
      FROM events GROUP BY 1),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(day_cents) AS BIGINT) AS s FROM d),
    c AS (SELECT day_num, day_cents,
            CAST(sum(day_cents * t.n - t.s)
                 OVER (ORDER BY day_num ROWS UNBOUNDED PRECEDING)
                 AS BIGINT) AS cusum_num
          FROM d CROSS JOIN t),
    m AS (SELECT max(abs(cusum_num)) AS mx FROM c)
    SELECT day_num, day_cents, cusum_num,
           CAST(CASE WHEN abs(cusum_num) = m.mx THEN 1 ELSE 0 END
                AS BIGINT) AS is_change_point
    FROM c CROSS JOIN m
    """,
    "analytics: CUSUM change-point detection (integer mean-scaled "
    "deviations — exact bigint cumulative sum, no float mean)",
    "per day: value cents, n-scaled CUSUM of mean deviations, and a flag "
    "on the |CUSUM|-argmax day (the estimated change point)",
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        _fdiv(_epoch_s("ts"), 86400).alias("day_num")
    ).agg(F.sum(_cents(F.col("value"))).cast("bigint").alias("day_cents"))
    t = d.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("day_cents").cast("bigint").alias("s"),
    )
    # unpartitioned cumulative window is bounded by DISTINCT DAYS
    # (calendar-range granular) — the day agg above reduced first
    w = Window.orderBy("day_num").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = (
        d.crossJoin(F.broadcast(t))
        .withColumn(
            "cusum_num",
            F.sum(F.col("day_cents") * F.col("n") - F.col("s"))
            .over(w)
            .cast("bigint"),
        )
        .select("day_num", "day_cents", "cusum_num")
    )
    m = c.agg(F.max(F.abs(F.col("cusum_num"))).alias("mx"))
    return c.crossJoin(F.broadcast(m)).select(
        "day_num",
        "day_cents",
        "cusum_num",
        F.when(F.abs(F.col("cusum_num")) == F.col("mx"), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_change_point"),
    )


# ===========================================================================
# Autocorrelation function (lags 1..7) — the seasonality probe for the
# daily value series. Pairs (x_t, x_{t−k}) come from a join of the
# pre-aggregated daily table against itself shifted by an exploded lag
# dimension — no per-lag rewrites, no global sort; lag(k) as a window
# would need one pass per literal k. Pearson corr per lag, 6dp (the
# co-moment accumulation tolerance proven by
# feature_correlation_screen).
# ===========================================================================

@_register(
    "acf_daily_autocorrelation",
    f"""
    WITH d AS (
      SELECT CAST(epoch_us(ts) // 1000000 // 86400 AS BIGINT) AS day_num,
             CAST(sum(floor(value * 100.0 + 0.5)) AS BIGINT) AS x
      FROM events GROUP BY 1),
    lags AS (SELECT CAST(lag_d AS BIGINT) AS lag_d FROM (VALUES
        (1),(2),(3),(4),(5),(6),(7)) AS l(lag_d)),
    p AS (SELECT l.lag_d, a.x AS xa, b.x AS xb
          FROM lags l
          CROSS JOIN d a
          JOIN d b ON b.day_num = a.day_num - l.lag_d)
    SELECT lag_d, CAST(count(*) AS BIGINT) AS n_pairs,
           {_sql_r('corr(1.0 * xa, 1.0 * xb)', 6)} AS acf
    FROM p GROUP BY lag_d
    """,
    "analytics: autocorrelation function over the daily series (exploded "
    "lag dimension joined against the pre-aggregated table — one plan "
    "for all lags)",
    "per lag 1..7: pair count and 6dp Pearson autocorrelation of daily "
    "value cents",
)
def acf_daily_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        _fdiv(_epoch_s("ts"), 86400).alias("day_num")
    ).agg(F.sum(_cents(F.col("value"))).cast("bigint").alias("x"))
    lags = spark.range(1, 8).select(F.col("id").cast("bigint").alias("lag_d"))
    a = d.select(F.col("day_num").alias("day_a"), F.col("x").alias("xa"))
    b = d.select(F.col("day_num").alias("day_b"), F.col("x").alias("xb"))
    p = (
        F.broadcast(lags)
        .crossJoin(a)
        .join(b, F.col("day_b") == F.col("day_a") - F.col("lag_d"))
    )
    return p.groupBy("lag_d").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        _r(F.corr(F.lit(1.0) * F.col("xa"), F.lit(1.0) * F.col("xb")), 6).alias(
            "acf"
        ),
    )


# ===========================================================================
# Market-basket co-purchase lift — frequent-pair mining with the apriori
# prune: only parts appearing in ≥25 baskets enter pair enumeration, so
# the self-join's blow-up is bounded by (frequent items per basket)²
# with TPC-H's ≤7 lines per order, not |parts|². Lift compares observed
# pair support to the independence expectation; numerator/denominator
# are exact bigints, one rounded division. Scale: the basket self-join
# shuffles on orderkey (co-partitioned both sides); the frequent-item
# filter is a broadcast semi-join.
# ===========================================================================

@_register(
    "copurchase_lift_pairs",
    f"""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    freq AS (SELECT pk, CAST(count(*) AS BIGINT) AS c
             FROM baskets GROUP BY pk HAVING count(*) >= 25),
    fb AS (SELECT b.ok, b.pk, f.c FROM baskets b JOIN freq f USING (pk)),
    n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders
          FROM baskets),
    p AS (SELECT a.pk AS p1, b.pk AS p2, a.c AS c1, b.c AS c2,
                 CAST(count(*) AS BIGINT) AS support
          FROM fb a JOIN fb b ON a.ok = b.ok AND a.pk < b.pk
          GROUP BY 1, 2, 3, 4 HAVING count(*) >= 3)
    SELECT p1, p2, support, c1 AS n1, c2 AS n2,
           {_sql_r('(1.0 * support * n.n_orders) / (1.0 * c1 * c2)', 6)}
             AS lift
    FROM p CROSS JOIN n
    """,
    "analytics: market-basket frequent-pair lift (apriori prune via "
    "broadcast semi-join, orderkey-co-partitioned pair enumeration)",
    "per co-purchased part pair (both in >=25 baskets, support >=3): "
    "support, item counts, and 6dp lift vs independence",
)
def copurchase_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    baskets = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    freq = (
        baskets.groupBy("pk")
        .agg(F.count("*").cast("bigint").alias("c"))
        .filter(F.col("c") >= 25)
    )
    fb = baskets.join(F.broadcast(freq), "pk").select("ok", "pk", "c")
    n = baskets.agg(
        F.count_distinct(F.col("ok")).cast("bigint").alias("n_orders")
    )
    a = fb.select(
        "ok", F.col("pk").alias("p1"), F.col("c").alias("c1")
    )
    b = fb.select(
        "ok", F.col("pk").alias("p2"), F.col("c").alias("c2")
    )
    p = (
        a.join(b, "ok")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2", "c1", "c2")
        .agg(F.count("*").cast("bigint").alias("support"))
        .filter(F.col("support") >= 3)
    )
    return p.crossJoin(F.broadcast(n)).select(
        "p1",
        "p2",
        "support",
        F.col("c1").alias("n1"),
        F.col("c2").alias("n2"),
        _r(
            (F.lit(1.0) * F.col("support") * F.col("n_orders"))
            / (F.lit(1.0) * F.col("c1") * F.col("c2")),
            6,
        ).alias("lift"),
    )


# ===========================================================================
# Shannon entropy of the per-language source mix — the corpus-diversity
# gate a training-data pipeline runs before admitting a language slice
# (a near-zero entropy means one source dominates and the slice is
# effectively single-origin). Two small aggregates and a broadcast
# join; −Σ p·ln p over ≤|sources| cells per language, 6dp.
# ===========================================================================

@_register(
    "entropy_source_mix",
    f"""
    WITH c AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n
               FROM documents GROUP BY 1, 2),
    t AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nt,
                 CAST(count(*) AS BIGINT) AS n_sources
          FROM c GROUP BY lang)
    SELECT t.lang, t.nt AS n_docs, t.n_sources,
           {_sql_r('-sum((1.0 * c.n / t.nt) * ln(1.0 * c.n / t.nt))', 6)}
             AS entropy_nats
    FROM c JOIN t USING (lang)
    GROUP BY t.lang, t.nt, t.n_sources
    """,
    "corpus curation: per-language source-mix Shannon entropy (the "
    "single-origin-dominance gate; two-level aggregate, broadcast join)",
    "per language: doc count, distinct sources, and 6dp entropy (nats) "
    "of the source distribution",
)
def entropy_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    c = docs.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("n")
    )
    t = c.groupBy("lang").agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.count("*").cast("bigint").alias("n_sources"),
    )
    p = F.lit(1.0) * F.col("n") / F.col("nt")
    return (
        c.join(F.broadcast(t), "lang")
        .groupBy("lang", "nt", "n_sources")
        .agg(_r(-F.sum(p * F.log(p)), 6).alias("entropy_nats"))
        .select(
            "lang",
            F.col("nt").alias("n_docs"),
            "n_sources",
            "entropy_nats",
        )
    )


# ===========================================================================
# Gini coefficient of order values — the inequality/concentration audit
# (how skewed is revenue across orders). Uses the rank formulation
# G = Σ(2i−n−1)x_i / (n·Σx) with a pinned total order (cents, orderkey)
# so both engines assign identical ranks to ties. The weighted sum
# Σ(2i−1)·cents ≈ n²·avg_cents blows past int64 near SF≈0.25 (w ≈
# 3.4e19 at SF1 vs int64 max 9.2e18 — Spark's non-ANSI sum would wrap
# SILENTLY while DuckDB's hugeint-sum-to-BIGINT cast fails LOUDLY), so
# it accumulates in wide exact integer types on BOTH engines: Spark
# sums decimal(38,0) terms, DuckDB sums hugeint terms — exact to 1e38,
# i.e. any reachable SF — and only the final ratio drops to double
# (identical IEEE rounding of the same exact integer on both sides, so
# the 9dp hash still matches). r7: the global rank is computed with the
# DISTRIBUTED two-phase form (range exchange → parallel per-partition
# sorts → tiny offset table broadcast back; operators/parallelism.py:
# global_row_number) — a partition-less window sorts the whole fact
# table on ONE task, the parallelism cap a 100 TB rank cannot afford.
# The oracle keeps the naive global window; hash equality proves the
# two-phase form assigns identical ranks.
# ===========================================================================

@_register(
    "gini_order_concentration",
    f"""
    WITH x AS (
      SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
             row_number() OVER (ORDER BY floor(o_totalprice * 100.0 + 0.5),
                                         o_orderkey) AS i
      FROM orders),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(cents) AS BIGINT) AS s,
                 sum(CAST(2 * i - 1 AS HUGEINT) * cents) AS w
          FROM x)
    SELECT n AS n_orders, s AS total_cents,
           {_sql_r('CAST(w AS DOUBLE) / (1.0 * n * s) - 1.0', 9)} AS gini
    FROM t
    """,
    "analytics: Gini concentration of order values (rank formulation, "
    "exact bigint weighted sum, pinned tie order)",
    "one row: order count, total cents, and 9dp Gini coefficient of "
    "o_totalprice",
)
def gini_order_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.parallelism import (
        global_row_number,
    )

    o = _t(spark, sf_dir, "orders")
    x = global_row_number(
        o.select(_cents(F.col("o_totalprice")).alias("cents"), "o_orderkey"),
        ["cents", "o_orderkey"],
        rank_col="i",
        cache_role="gini_rank",
    )
    # exact wide-integer accumulation: decimal(18,0) × decimal(18,0)
    # terms sum into decimal(38,0) — no int64 wrap at any reachable SF
    # (matches the oracle's hugeint sum bit-for-bit after the final
    # cast-to-double)
    w_term = (2 * F.col("i").cast("bigint") - 1).cast("decimal(18,0)") * F.col(
        "cents"
    ).cast("decimal(18,0)")
    t = x.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(w_term).alias("w"),
    )
    return t.select(
        F.col("n").alias("n_orders"),
        F.col("s").alias("total_cents"),
        _r(
            F.col("w").cast("double")
            / (F.lit(1.0) * F.col("n") * F.col("s"))
            - F.lit(1.0),
            9,
        ).alias("gini"),
    )


# ===========================================================================
# Kaplan-Meier conversion survival — time-to-purchase after first click
# with proper right-censoring (administrative horizon of 3 days, further
# truncated by end-of-observation), the survival curve a funnel team
# reads instead of a mean. The at-risk count n(t) comes from a
# DESCENDING cumulative count over the grouped duration table (no
# inequality join — the classic O(n log n) KM form), and the product
# Π(1−d/n) is exp of a cumulative ln sum over event times only.
# Censored-only times contribute factor 1 by construction; the terminal
# n==d point (survival exactly 0, ln undefined) is excluded, which can
# only ever be the single largest duration. Scale: two aggregates over
# events, then windows over the per-duration table — whose size is
# BOUNDED by the horizon (≤259,201 distinct second-granularity
# durations) regardless of user count, so the global windows never
# outgrow one partition even at 100 TB.
# ===========================================================================

@_register(
    "kaplan_meier_conversion",
    f"""
    WITH clicks AS (
      SELECT user_id, min(ts) AS fc FROM events
      WHERE event_type = 'click' GROUP BY user_id),
    gmax AS (SELECT CAST(epoch_us(max(ts)) // 1000000 AS BIGINT) AS mt
             FROM events),
    conv AS (
      SELECT c.user_id,
             CAST(epoch_us(min(e.ts)) // 1000000 AS BIGINT) AS fp_s
      FROM clicks c JOIN events e
        ON e.user_id = c.user_id AND e.event_type = 'purchase'
       AND e.ts >= c.fc
      GROUP BY c.user_id),
    obs AS (
      SELECT c.user_id,
             CASE WHEN v.fp_s IS NOT NULL
                   AND v.fp_s - CAST(epoch_us(c.fc) // 1000000 AS BIGINT)
                       <= least(259200,
                                g.mt - CAST(epoch_us(c.fc) // 1000000
                                            AS BIGINT))
                  THEN v.fp_s - CAST(epoch_us(c.fc) // 1000000 AS BIGINT)
                  ELSE least(259200,
                             g.mt - CAST(epoch_us(c.fc) // 1000000
                                         AS BIGINT))
             END AS dur_s,
             CASE WHEN v.fp_s IS NOT NULL
                   AND v.fp_s - CAST(epoch_us(c.fc) // 1000000 AS BIGINT)
                       <= least(259200,
                                g.mt - CAST(epoch_us(c.fc) // 1000000
                                            AS BIGINT))
                  THEN 1 ELSE 0 END AS ev
      FROM clicks c LEFT JOIN conv v USING (user_id) CROSS JOIN gmax g),
    g AS (SELECT dur_s, CAST(count(*) AS BIGINT) AS n_all,
                 CAST(sum(ev) AS BIGINT) AS d
          FROM obs GROUP BY dur_s),
    r AS (SELECT dur_s, d,
            CAST(sum(n_all) OVER (ORDER BY dur_s DESC
                                  ROWS UNBOUNDED PRECEDING)
                 AS BIGINT) AS n_risk
          FROM g),
    s AS (SELECT * FROM r WHERE d > 0 AND n_risk > d)
    SELECT dur_s AS t_s, n_risk, d AS d_events,
           {_sql_r('exp(sum(ln((1.0 * (n_risk - d)) / n_risk))'
                   ' OVER (ORDER BY dur_s ROWS UNBOUNDED PRECEDING))', 6)}
             AS survival
    FROM s
    """,
    "analytics: Kaplan-Meier conversion survival (right-censored at a "
    "3-day horizon; descending-cumulative at-risk counts, exp-ln-sum "
    "product — no inequality join)",
    "per conversion-duration second: at-risk count, conversions, and 6dp "
    "KM survival probability",
)
def kaplan_meier_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fc"))
    )
    gmax = ev.agg(_epoch_s(F.max("ts")).alias("mt"))
    conv = (
        clicks.join(
            ev.filter(F.col("event_type") == "purchase").select(
                "user_id", F.col("ts").alias("pts")
            ),
            "user_id",
        )
        .filter(F.col("pts") >= F.col("fc"))
        .groupBy("user_id")
        .agg(_epoch_s(F.min("pts")).alias("fp_s"))
    )
    fc_s = _epoch_s(F.col("fc"))
    horizon = F.least(F.lit(259200).cast("bigint"), F.col("mt") - fc_s)
    converted = F.col("fp_s").isNotNull() & (
        F.col("fp_s") - fc_s <= horizon
    )
    obs = (
        clicks.join(conv, "user_id", "left")
        .crossJoin(F.broadcast(gmax))
        .select(
            F.when(converted, F.col("fp_s") - fc_s)
            .otherwise(horizon)
            .alias("dur_s"),
            F.when(converted, 1).otherwise(0).alias("ev"),
        )
    )
    g = obs.groupBy("dur_s").agg(
        F.count("*").cast("bigint").alias("n_all"),
        F.sum("ev").cast("bigint").alias("d"),
    )
    # both unpartitioned survival windows are bounded by DISTINCT
    # integer durations ≤ the 259200 s horizon (time-range granular,
    # never user rows) — the dur_s agg above reduced first
    w_desc = Window.orderBy(F.col("dur_s").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = g.select(
        "dur_s",
        "d",
        F.sum("n_all").over(w_desc).cast("bigint").alias("n_risk"),
    )
    s = r.filter((F.col("d") > 0) & (F.col("n_risk") > F.col("d")))
    w_asc = Window.orderBy("dur_s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    factor = F.log(
        (F.lit(1.0) * (F.col("n_risk") - F.col("d"))) / F.col("n_risk")
    )
    return s.select(
        F.col("dur_s").alias("t_s"),
        "n_risk",
        F.col("d").alias("d_events"),
        _r(F.exp(F.sum(factor).over(w_asc)), 6).alias("survival"),
    )


# ===========================================================================
# BM25 document scoring — the IR ranking function over the documents
# table for a pinned query-term set (one rare term, three common ones,
# so idf spread is real on the 31-word synthetic vocab). The corpus is
# exploded ONCE into a persisted (doc, term, tf) aggregate (house
# scoped-persist pattern — the vocab_coverage lesson: naive CTE reuse
# re-explodes the corpus per consumer); doc lengths, corpus stats,
# query tf, and df are all re-aggregates of that bounded table.
# Ranking runs on the ROUNDED score (6dp) with a doc_id tiebreak so
# top-20 selection is engine-identical. k1=1.2, b=0.75.
# ===========================================================================

_BM25_TERMS = ("dup", "join", "query", "sort")


@_register(
    "bm25_scoring",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
           FROM toks GROUP BY doc_id),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
    q AS (SELECT * FROM (VALUES
        {', '.join(f"('{t}')" for t in _BM25_TERMS)}) AS q(term)),
    tf AS (SELECT t.doc_id, t.term, CAST(count(*) AS BIGINT) AS tf
           FROM toks t JOIN q USING (term) GROUP BY t.doc_id, t.term),
    df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
           FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             CAST(count(*) AS BIGINT) AS n_terms,
             {_sql_r(
                 'sum(ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))'
                 ' * (tf.tf * 2.2)'
                 ' / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl * s.n_docs'
                 ' / s.total_len)))', 6)} AS score
      FROM tf JOIN df USING (term) JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
      GROUP BY tf.doc_id)
    SELECT doc_id, n_terms, score, rank FROM (
      SELECT *, CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                     AS INT) AS rank
      FROM scored)
    WHERE rank <= 20
    """,
    "textops: BM25 ranking for a pinned query (idf/doc-length "
    "normalization; one token explode feeds tf, dl, df, corpus stats)",
    "top-20 documents by 6dp BM25 score over query terms "
    f"{_BM25_TERMS}, matched-term count, pinned doc_id tiebreak",
)
def bm25_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    # One explode feeds everything: (doc, term, tf) is bounded by
    # |docs| * |vocab|, far smaller than the raw token stream.
    tc = persist_scoped(
        "bm25_term_counts",
        toks.groupBy("doc_id", "term").agg(
            F.count("*").cast("bigint").alias("tf")
        ),
    )
    dl = tc.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_len"),
    )
    q = spark.createDataFrame([(t,) for t in _BM25_TERMS], "term string")
    tf = tc.join(F.broadcast(q), "term")
    df_ = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf") + 1.2 * (
        F.lit(0.25)
        + F.lit(0.75) * F.col("dl") * F.col("n_docs") / F.col("total_len")
    )
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_terms"),
            _r(F.sum(idf * (F.col("tf") * 2.2) / norm), 6).alias("score"),
        )
    )
    # r7: top-20 via orderBy+limit (TakeOrderedAndProject — each task
    # keeps its local top 20, the driver merges P·20 rows) instead of a
    # row_number window that sorts EVERY doc's score on one task; the
    # rank window then runs over ≤20 rows. Same rows, same ranks.
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(20)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).select("doc_id", "n_terms", "score", "rank")


# ===========================================================================
# Two-proportion z-test — the A/B experiment readout: split users into
# arms by user_id parity (the deterministic stand-in for an assignment
# hash), conversion = ≥14 purchase events (just above the ~13.4
# per-user mean — events-per-user is SF-invariant in this testdata, so
# both arms stay non-degenerate at every scale; an every-user-qualifies
# metric would zero the pooled variance and the z denominator), pooled
# z-score on the conversion-rate difference. Per-user reduction then a
# 2-row arm aggregate; the z expression is one scalar formula over
# exact bigints, 6dp. Scale: one shuffle on user_id, nothing else
# grows.
# ===========================================================================

@_register(
    "abtest_proportion_ztest",
    f"""
    WITH u AS (
      SELECT user_id, CAST(user_id % 2 AS BIGINT) AS arm,
             CASE WHEN sum(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) >= 14
                  THEN 1 ELSE 0 END AS conv
      FROM events GROUP BY user_id),
    a AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
                 CAST(sum(conv) AS BIGINT) AS n_conv
          FROM u GROUP BY arm)
    SELECT a0.n_users AS n_a, a0.n_conv AS conv_a,
           a1.n_users AS n_b, a1.n_conv AS conv_b,
           {_sql_r('1.0 * a0.n_conv / a0.n_users', 6)} AS rate_a,
           {_sql_r('1.0 * a1.n_conv / a1.n_users', 6)} AS rate_b,
           {_sql_r(
               '(1.0 * a0.n_conv / a0.n_users'
               ' - 1.0 * a1.n_conv / a1.n_users)'
               ' / sqrt((1.0 * (a0.n_conv + a1.n_conv)'
               ' / (a0.n_users + a1.n_users))'
               ' * (1.0 - 1.0 * (a0.n_conv + a1.n_conv)'
               ' / (a0.n_users + a1.n_users))'
               ' * (1.0 / a0.n_users + 1.0 / a1.n_users))', 6)} AS z_score
    FROM (SELECT * FROM a WHERE arm = 0) a0
    CROSS JOIN (SELECT * FROM a WHERE arm = 1) a1
    """,
    "analytics: two-proportion z-test between parity-assigned arms "
    "(pooled variance; per-user reduction then a 2-row aggregate)",
    "one row: per-arm users/conversions, 6dp rates, and the pooled "
    "two-proportion z-score",
)
def abtest_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 14,
            1,
        )
        .otherwise(0)
        .alias("conv")
    )
    a = u.groupBy((F.col("user_id") % 2).cast("bigint").alias("arm")).agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("conv").cast("bigint").alias("n_conv"),
    )
    a0 = a.filter(F.col("arm") == 0).select(
        F.col("n_users").alias("n_a"), F.col("n_conv").alias("conv_a")
    )
    a1 = a.filter(F.col("arm") == 1).select(
        F.col("n_users").alias("n_b"), F.col("n_conv").alias("conv_b")
    )
    j = a0.crossJoin(F.broadcast(a1))
    p0 = F.lit(1.0) * F.col("conv_a") / F.col("n_a")
    p1 = F.lit(1.0) * F.col("conv_b") / F.col("n_b")
    pp = (
        F.lit(1.0)
        * (F.col("conv_a") + F.col("conv_b"))
        / (F.col("n_a") + F.col("n_b"))
    )
    se = F.sqrt(
        pp * (F.lit(1.0) - pp) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return j.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        _r(p0, 6).alias("rate_a"),
        _r(p1, 6).alias("rate_b"),
        _r((p0 - p1) / se, 6).alias("z_score"),
    )


# ===========================================================================
# Seasonal weekday index — the decomposition primer: each weekday's
# average daily value vs the all-days average (index > 1 = seasonally
# hot). The weekday comes from pure integer arithmetic on the epoch day
# ((day+3) mod 7, 0 = Monday — 1970-01-01 was a Thursday), sidestepping
# the engines' dayofweek-numbering mismatch entirely (same parity
# guarantee the isodow-1 ↔ F.weekday pair gives the heatmap entry).
# Scale: the raw stream reduces to one row per day, then 7 rows.
# ===========================================================================

@_register(
    "seasonal_weekday_index",
    f"""
    WITH d AS (
      SELECT CAST(epoch_us(ts) // 1000000 // 86400 AS BIGINT) AS day_num,
             CAST(sum(floor(value * 100.0 + 0.5)) AS BIGINT) AS day_cents
      FROM events GROUP BY 1),
    wk AS (SELECT CAST((day_num + 3) % 7 AS BIGINT) AS dow_mon0,
                  CAST(count(*) AS BIGINT) AS n_days,
                  CAST(sum(day_cents) AS BIGINT) AS wk_cents
           FROM d GROUP BY 1),
    g AS (SELECT CAST(count(*) AS BIGINT) AS g_days,
                 CAST(sum(day_cents) AS BIGINT) AS g_cents FROM d)
    SELECT dow_mon0, n_days,
           {_sql_r('1.0 * wk_cents / n_days', 2)} AS avg_day_cents,
           {_sql_r('(1.0 * wk_cents / n_days)'
                   ' / (1.0 * g_cents / g_days)', 6)} AS seasonal_index
    FROM wk CROSS JOIN g
    """,
    "time series: weekday seasonal index (integer epoch-day weekday, "
    "two-level reduction, broadcast global average)",
    "per weekday (0=Monday): day count, 2dp average daily cents, and "
    "6dp seasonal index vs the all-days average",
)
def seasonal_weekday_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        _fdiv(_epoch_s("ts"), 86400).alias("day_num")
    ).agg(F.sum(_cents(F.col("value"))).cast("bigint").alias("day_cents"))
    wk = d.groupBy(
        ((F.col("day_num") + 3) % 7).cast("bigint").alias("dow_mon0")
    ).agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("day_cents").cast("bigint").alias("wk_cents"),
    )
    g = d.agg(
        F.count("*").cast("bigint").alias("g_days"),
        F.sum("day_cents").cast("bigint").alias("g_cents"),
    )
    wk_avg = F.lit(1.0) * F.col("wk_cents") / F.col("n_days")
    g_avg = F.lit(1.0) * F.col("g_cents") / F.col("g_days")
    return wk.crossJoin(F.broadcast(g)).select(
        "dow_mon0",
        "n_days",
        _r(wk_avg, 2).alias("avg_day_cents"),
        _r(wk_avg / g_avg, 6).alias("seasonal_index"),
    )
