"""TPC-H q-tail and graph/matrix analytics (triangles, transition matrices, attribution, hierarchy, k-means).

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

from .battery_core import (
    _cents,
    _epoch_s,
    _epoch_us,
    _fdiv,
    _r,
    _register,
    _sql_r,
    _t,
)
from .battery_embeddings import _EMB_DIM




# ===========================================================================
# TPC-H Q4 (order-priority checking) — the canonical EXISTS decorrelation:
# a date-windowed orders scan semi-joined against lineitems that shipped
# >30 days after their order date. Spark plans the EXISTS as a LeftSemi
# hash join (no row duplication, build side = the filtered probe), the
# date window pushes to the orders scan, and the non-equi ship-lag
# predicate rides the join condition. One shuffle on the order key.
# ===========================================================================

@_register(
    "q4_order_priority",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
    GROUP BY o_orderpriority
    """,
    "warehouse: TPC-H Q4 order-priority (EXISTS -> LeftSemi decorrelation)",
    "orders in 1997Q1 with a >30-day ship lag on some line, counted per "
    "priority",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.lit("1997-01-01").cast("timestamp_ntz")
    hi = F.lit("1997-04-01").cast("timestamp_ntz")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    )
    return (
        orders.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("bigint").alias("order_count"))
    )


# ===========================================================================
# TPC-H Q7 (volume shipping) — bidirectional nation-pair trade flows:
# lineitem ⋈ supplier ⋈ orders ⋈ customer with BOTH nation dims filtered
# to the pair before the fact join (the implied-predicate rewrite: the
# disjunction (A,B)|(B,A) implies n∈{A,B} on each side, which broadcasts
# two 2-row dims instead of carrying the OR through the big join).
# Revenue in exact cents per (supp_nation, cust_nation, year).
# ===========================================================================

@_register(
    "q7_nation_volume",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INT) AS l_year,
             CAST(floor(l_extendedprice * (1 - l_discount) * 100.0 + 0.5)
                  AS BIGINT) AS cents
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
          OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
    "warehouse: TPC-H Q7 nation-pair trade volume (implied-predicate "
    "dim prefilter, broadcast dims)",
    "revenue between NATION_3 and NATION_8 per direction and ship year, "
    "exact cents",
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    pair = ("NATION_3", "NATION_8")
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair))
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                nat.select(
                    F.col("n_nationkey").alias("s_nationkey"),
                    F.col("n_name").alias("supp_nation"),
                )
            ),
            "s_nationkey",
        )
        .select("s_suppkey", "supp_nation")
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                nat.select(
                    F.col("n_nationkey").alias("c_nationkey"),
                    F.col("n_name").alias("cust_nation"),
                )
            ),
            "c_nationkey",
        )
        .select("c_custkey", "cust_nation")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.year("l_shipdate").cast("int").alias("l_year"),
        _cents(
            F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
        ).alias("cents"),
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("cents").cast("bigint").alias("revenue_cents"))
    )


# ===========================================================================
# TPC-H Q10 (returned-item reporting) — revenue lost to returns per
# customer over a quarter: date-windowed orders ⋈ returnflag-filtered
# lineitem ⋈ customer ⋈ broadcast nation, grouped top-20. Both selective
# filters push to their scans; the group key carries the customer attrs
# so no second join back. Account balance in exact cents (group key and
# output both — engine-identical).
# ===========================================================================

@_register(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100.0
                               + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
           CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS acctbal_cents,
           n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-04-01'
      AND l_returnflag = 'R' AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name,
             CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT), n_name
    ORDER BY revenue_cents DESC, c_custkey
    LIMIT 20
    """,
    "warehouse: TPC-H Q10 returned-item reporting (selective fact "
    "filters, broadcast dim, grouped top-k)",
    "top 20 customers by returned-line revenue in 1997Q1, exact cents, "
    "pinned tiebreak",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.lit("1997-01-01").cast("timestamp_ntz")
    hi = F.lit("1997-04-01").cast("timestamp_ntz")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .select("o_orderkey", "o_custkey")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select(
            "l_orderkey",
            _cents(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
            ).alias("cents"),
        )
    )
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        _cents(F.col("c_acctbal")).alias("acctbal_cents"),
        "c_nationkey",
    )
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "acctbal_cents", "n_name")
        .agg(F.sum("cents").cast("bigint").alias("revenue_cents"))
        .select(
            "c_custkey", "c_name", "revenue_cents", "acctbal_cents", "n_name"
        )
        .orderBy(F.desc("revenue_cents"), "c_custkey")
        .limit(20)
    )


# ===========================================================================
# TPC-H Q14 (promotion effect) — conditional-aggregate share: one
# fact ⋈ dim join for a ship-month window, promo revenue as a CASE-gated
# sum over the same pass (no second scan, no self-join). The share is a
# single exact-int division. This is the map-side-combinable form of
# "percent of revenue from X".
# ===========================================================================

@_register(
    "q14_promo_type_share",
    f"""
    SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END)
                AS BIGINT) AS promo_cents,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           {_sql_r("CAST(sum(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END) AS DOUBLE) / CAST(sum(cents) AS DOUBLE)", 9)} AS promo_share
    FROM (SELECT p_type,
                 CAST(floor(l_extendedprice * (1 - l_discount) * 100.0 + 0.5)
                      AS BIGINT) AS cents
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            AND l_shipdate < TIMESTAMP '1997-04-01')
    """,
    "warehouse: TPC-H Q14 promotion share (conditional aggregate over "
    "one fact-dim pass)",
    "PROMO-type share of 1997Q1 revenue: exact promo/total cents + "
    "rounded share, single row",
)
def q14_promo_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.lit("1997-01-01").cast("timestamp_ntz")
    hi = F.lit("1997-04-01").cast("timestamp_ntz")
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .select(
            "l_partkey",
            _cents(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
            ).alias("cents"),
        )
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", F.col("cents")).otherwise(0)
    ).cast("bigint")
    total = F.sum("cents").cast("bigint")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            promo.alias("promo_cents"),
            total.alias("total_cents"),
            _r(
                promo.cast("double") / total.cast("double"), 9
            ).alias("promo_share"),
        )
    )


# ===========================================================================
# TPC-H Q15 (top supplier) — aggregate, take the max, join back on
# equality: the scalar-subquery pattern. The per-supplier revenue
# aggregate is computed ONCE; its 1-row max re-aggregate broadcasts back
# over it (AQE reuses the shuffle stage for both subtrees), and exact
# integer cents make the max-equality deterministic — the float version
# of this query can return different winners per engine.
# ===========================================================================

@_register(
    "q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey,
             CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100.0
                                 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_rev_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_rev_cents
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_rev_cents = (SELECT max(total_rev_cents) FROM rev)
    """,
    "warehouse: TPC-H Q15 top supplier (scalar-max subquery over a "
    "reused aggregate)",
    "supplier(s) with the maximum 1997Q1 revenue, exact-cents "
    "deterministic max",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.lit("1997-01-01").cast("timestamp_ntz")
    hi = F.lit("1997-04-01").cast("timestamp_ntz")
    rev = (
        _t(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                _cents(
                    F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
                )
            )
            .cast("bigint")
            .alias("total_rev_cents")
        )
    )
    mx = rev.agg(F.max("total_rev_cents").alias("__mx"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev_cents") == F.col("__mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev_cents")
    )


# ===========================================================================
# TPC-H Q18 (large-volume customers) — the groupBy-HAVING-IN pattern:
# find orders whose total quantity clears a threshold (one aggregate over
# lineitem), semi-join orders down to that set, then re-aggregate with
# customer context. The heavy-orders set is tiny (99.9th-pctile
# threshold) so the semi-join broadcasts; the second lineitem pass
# re-aggregates only surviving orders. Quantities are integral doubles —
# their sums are exact, so the bigint cast is engine-identical.
# ===========================================================================

@_register(
    "q18_large_volume_customers",
    """
    SELECT c_custkey, o_orderkey,
           CAST(epoch_us(o_orderdate) // 1000000 AS BIGINT) AS order_date_s,
           CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
             AS total_price_cents,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_custkey, o_orderkey, o_orderdate,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
    """,
    "warehouse: TPC-H Q18 large-volume customers (HAVING-IN -> broadcast "
    "semi-join of a tiny heavy set)",
    "orders with >300 total quantity, with customer key, date, exact "
    "price cents and quantity sum",
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    heavy = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__q"))
        .filter(F.col("__q") > 300)
        .select("l_orderkey")
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        _epoch_s(F.col("o_orderdate")).alias("order_date_s"),
        _cents(F.col("o_totalprice")).alias("total_price_cents"),
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    kept = orders.join(
        F.broadcast(heavy),
        F.col("o_orderkey") == F.col("l_orderkey"),
        "left_semi",
    )
    return (
        li.join(
            F.broadcast(kept), F.col("l_orderkey") == F.col("o_orderkey")
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            "c_custkey", "o_orderkey", "order_date_s", "total_price_cents"
        )
        .agg(F.sum("l_quantity").cast("bigint").alias("sum_qty"))
    )


# ===========================================================================
# TPC-H Q19 (discounted revenue) — disjunctive predicate pushdown: the
# OR-of-ANDs over (brand, size, quantity) stays a join-time filter, but
# its IMPLIED conjunctions (brand ∈ {...}, size ≤ 35, qty ∈ [1,30]) are
# derived manually and pushed to both scans — the classic Q19 rewrite
# that turns "read everything, filter after join" into two pruned scans.
# ===========================================================================

@_register(
    "q19_disjunctive_pricing",
    """
    SELECT CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100.0
                               + 0.5) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#5' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
    "warehouse: TPC-H Q19 disjunctive predicates (implied-conjunction "
    "pushdown to both scans)",
    "revenue + line count under an OR-of-ANDs over brand/size/quantity",
)
def q19_disjunctive_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    brands = ("Brand#5", "Brand#12", "Brand#19")
    part = (
        _t(spark, sf_dir, "part")
        # implied by the disjunction: brand ∈ brands, size ≤ 35
        .filter(F.col("p_brand").isin(*brands) & (F.col("p_size") <= 35))
        .select("p_partkey", "p_brand", "p_size")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        # implied: 1 ≤ quantity ≤ 30
        .filter(F.col("l_quantity").between(1, 30))
        .select(
            "l_partkey",
            "l_quantity",
            _cents(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
            ).alias("cents"),
        )
    )
    cond = (
        (
            (F.col("p_brand") == brands[0])
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == brands[1])
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == brands[2])
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            F.sum("cents").cast("bigint").alias("revenue_cents"),
            F.count("*").cast("bigint").alias("n_lines"),
        )
    )


# ===========================================================================
# Triangle counting over a kNN-sparsified co-occurrence graph. Raw
# co-occurrence graphs SATURATE: the supplier co-supply graph is complete
# at every testdata SF (measured), so counting triangles on it directly
# is Θ(n³) — a scale-killer. The honest 100 TB form sparsifies first:
# keep each node's top-k strongest edges (weight desc, partner asc —
# pinned), which bounds degree at 2k and makes the wedge join linear in
# nodes forever. Then the oriented (a<b<c) wedge join + closure probe
# counts each triangle exactly once. operators/graph.py:knn_sparsify /
# triangle_counts.
# ===========================================================================

@_register(
    "triangle_knn_cosupply",
    """
    WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    w AS (SELECT a.l_suppkey AS s1, b.l_suppkey AS s2,
                 CAST(count(*) AS BIGINT) AS w
          FROM os a JOIN os b
            ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
          GROUP BY a.l_suppkey, b.l_suppkey),
    kept AS (SELECT s1, s2 FROM (
               SELECT s1, s2,
                      row_number() OVER (PARTITION BY s1
                                         ORDER BY w DESC, s2) AS rn
               FROM w)
             WHERE rn <= 5),
    e AS (SELECT DISTINCT least(s1, s2) AS a, greatest(s1, s2) AS b
          FROM kept),
    tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM e e1
            JOIN e e2 ON e2.a = e1.b
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
    FROM (SELECT x AS node FROM tri
          UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri)
    GROUP BY node
    """,
    "graph: triangle counts over a kNN-sparsified co-supply graph "
    "(degree cap -> linear wedge join)",
    "per-supplier triangle participation in the top-5-strongest-edge "
    "co-supply graph",
)
def triangle_knn_cosupply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.graph import (
        knn_sparsify,
        triangle_counts,
    )

    os_ = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    a = os_.select(
        F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("src")
    )
    b = os_.select(
        F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("dst")
    )
    weighted = (
        a.join(b, "k")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").cast("bigint").alias("w"))
    )
    return triangle_counts(knn_sparsify(weighted, k=5))


# ===========================================================================
# Per-key OLS trend — grouped linear regression from EXACT integer
# moments: x = truncated epoch-hours (bigint), y = exact cents; the five
# sufficient statistics (n, Σx, Σy, Σxy, Σx²) are bigint sums, so the
# slope/intercept doubles derive from identical integers on every engine
# and partition order — unlike regr_slope(), whose float accumulation
# order is engine- and partition-dependent. One map-side-combined
# aggregate, no window, no shuffle beyond the groupBy.
# ===========================================================================

@_register(
    "user_trend_ols",
    f"""
    WITH b AS (
      SELECT user_id,
             (epoch_us(ts)
              - epoch_us(TIMESTAMP '2024-01-01')) // 3600000000 AS xh,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS yc
      FROM events
    ), s AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(xh) AS BIGINT) AS sx,
             CAST(sum(yc) AS BIGINT) AS sy,
             CAST(sum(xh * yc) AS BIGINT) AS sxy,
             CAST(sum(xh * xh) AS BIGINT) AS sx2
      FROM b GROUP BY user_id
    )
    SELECT user_id, n AS n_events,
           {_sql_r("CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sx2 - sx * sx AS DOUBLE)", 9)} AS slope_cents_per_hour,
           {_sql_r("(CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sx2 - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)", 9)} AS intercept_cents
    FROM s
    WHERE n >= 2 AND n * sx2 - sx * sx <> 0
    """,
    "ML: grouped OLS trend from exact integer moments (deterministic "
    "regr_slope)",
    "per-user value trend (cents/hour) over event time, slope + "
    "intercept from bigint sufficient statistics",
)
def user_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _epoch_us(F.lit("2024-01-01 00:00:00").cast("timestamp_ntz"))
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        _fdiv(_epoch_us(F.col("ts")) - base, 3_600_000_000).alias("xh"),
        _cents(F.col("value")).alias("yc"),
    )
    s = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("xh").cast("long").alias("sx"),
        F.sum("yc").cast("long").alias("sy"),
        F.sum(F.col("xh") * F.col("yc")).cast("long").alias("sxy"),
        F.sum(F.col("xh") * F.col("xh")).cast("long").alias("sx2"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = (F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    slope = num / den
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return (
        s.filter(
            (F.col("n") >= 2)
            & (F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx") != 0)
        )
        .select(
            "user_id",
            F.col("n").alias("n_events"),
            _r(slope, 9).alias("slope_cents_per_hour"),
            _r(intercept, 9).alias("intercept_cents"),
        )
    )


# ===========================================================================
# Robust outlier detection — per-group median + MAD with EXACT
# distributed medians: the middle ranks ((cnt+1) DIV 2, (cnt+2) DIV 2)
# of a pinned total order, averaged (a 2-element sum — FP-commutative,
# engine-identical), once over values and once over absolute deviations.
# Built-in median()/percentile() interpolate differently per engine;
# this explicit form hash-matches. Cost: two per-group sort-windows —
# the exact path; the 100 TB approximate path is the battery's
# the GK percentile summary (approx_percentile_verified). Flags |v − med| > 3·MAD.
# ===========================================================================

@_register(
    "mad_outlier_events",
    """
    WITH r AS (
      SELECT event_type, CAST(value AS DOUBLE) AS v, event_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS cnt
      FROM events
    ), med AS (
      SELECT event_type, avg(v) AS med
      FROM r WHERE rn IN ((cnt + 1) // 2, (cnt + 2) // 2)
      GROUP BY event_type
    ), d AS (
      SELECT r.event_type, r.v, abs(r.v - med.med) AS ad, med.med AS med,
             row_number() OVER (PARTITION BY r.event_type
                                ORDER BY abs(r.v - med.med), r.v,
                                         r.event_id) AS arn,
             count(*) OVER (PARTITION BY r.event_type) AS cnt
      FROM r JOIN med ON r.event_type = med.event_type
    ), mad AS (
      SELECT event_type, avg(ad) AS mad
      FROM d WHERE arn IN ((cnt + 1) // 2, (cnt + 2) // 2)
      GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           floor(min(d.med) * 1000000.0 + 0.5) / 1000000.0 AS median_value,
           floor(min(mad.mad) * 1000000.0 + 0.5) / 1000000.0 AS mad,
           CAST(sum(CASE WHEN d.ad > 3 * mad.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM d JOIN mad ON d.event_type = mad.event_type
    GROUP BY d.event_type
    """,
    "quality: per-group robust outliers via exact distributed "
    "median + MAD (middle-rank windows)",
    "per event_type: exact median, MAD, and |v-med| > 3*MAD outlier "
    "count over events.value",
)
def mad_outlier_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast("double").alias("v"), "event_id"
    )
    wp = Window.partitionBy("event_type")
    r = ev.withColumn(
        "rn", F.row_number().over(wp.orderBy("v", "event_id"))
    ).withColumn("cnt", F.count("*").over(wp))
    mid = (F.col("rn") == F.expr("(cnt + 1) DIV 2")) | (
        F.col("rn") == F.expr("(cnt + 2) DIV 2")
    )
    med = (
        r.filter(mid)
        .groupBy("event_type")
        .agg(F.avg("v").alias("med"))
    )
    d = (
        r.join(F.broadcast(med), "event_type")
        .withColumn("ad", F.abs(F.col("v") - F.col("med")))
        .withColumn(
            "arn", F.row_number().over(wp.orderBy("ad", "v", "event_id"))
        )
    )
    amid = (F.col("arn") == F.expr("(cnt + 1) DIV 2")) | (
        F.col("arn") == F.expr("(cnt + 2) DIV 2")
    )
    mad = (
        d.filter(amid)
        .groupBy("event_type")
        .agg(F.avg("ad").alias("mad"))
    )
    return (
        d.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            _r(F.min("med"), 6).alias("median_value"),
            _r(F.min("mad"), 6).alias("mad"),
            F.sum(
                F.when(F.col("ad") > 3 * F.col("mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


# ===========================================================================
# 7-day rolling distinct actives — windowed COUNT(DISTINCT) has no
# window-function form in either engine; the scalable EXACT shape is a
# calendar join: distinct (user, day) pairs ⋈ the (tiny, broadcastable)
# day dimension on a 7-day band, then count-distinct per day. Each
# user-day lands in ≤7 calendar rows, so candidate volume is 7× the
# user-day count — linear forever, no window over the raw stream. The
# approximate path at 100 TB is per-day HLL registers merged over the
# window (hll_group_registers is the battery's register-merge form).
# ===========================================================================

@_register(
    "rolling_active_users_7d",
    """
    WITH dd AS (SELECT DISTINCT date_trunc('day', ts) AS d FROM events),
    ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events)
    SELECT CAST(epoch_us(dd.d) // 1000000 AS BIGINT) AS day_s,
           CAST(count(DISTINCT ud.user_id) AS BIGINT) AS active_users_7d
    FROM dd JOIN ud
      ON ud.d >= dd.d - INTERVAL 6 DAY AND ud.d <= dd.d
    GROUP BY dd.d
    """,
    "analytics: exact 7-day rolling distinct actives via calendar band "
    "join (no windowed COUNT DISTINCT exists)",
    "per day: distinct users active in the trailing 7 days",
)
def rolling_active_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    ).distinct()
    dd = ud.select(F.col("d").alias("cal_d")).distinct()
    band = (F.col("d") >= F.col("cal_d") - F.expr("INTERVAL 6 DAYS")) & (
        F.col("d") <= F.col("cal_d")
    )
    return (
        ud.join(F.broadcast(dd), band)
        .groupBy("cal_d")
        .agg(F.countDistinct("user_id").cast("bigint").alias("active_users_7d"))
        .select(_epoch_s(F.col("cal_d")).alias("day_s"), "active_users_7d")
    )


# ===========================================================================
# Pareto / cumulative-share report — running share over an AGGREGATED
# key list: the window sorts |suppliers| rows (orders of magnitude below
# the fact table at every scale), never the raw scan. The 80% cut uses
# pure integer arithmetic (100·cum ≤ 80·total) so the flag is exact on
# every engine — a float threshold would flip on boundary keys.
# ===========================================================================

@_register(
    "pareto_supplier_share",
    f"""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100.0
                                 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
      FROM lineitem GROUP BY l_suppkey),
    t AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS total FROM rev),
    c AS (SELECT l_suppkey, rev_cents,
                 CAST(sum(rev_cents) OVER (ORDER BY rev_cents DESC,
                                           l_suppkey) AS BIGINT) AS cum_cents
          FROM rev)
    SELECT l_suppkey, rev_cents, cum_cents,
           {_sql_r("CAST(cum_cents AS DOUBLE) / CAST(total AS DOUBLE)", 9)}
             AS cum_share,
           CAST(CASE WHEN 100 * cum_cents <= 80 * total THEN 1 ELSE 0 END
                AS INT) AS in_top80
    FROM c, t
    """,
    "analytics: Pareto cumulative revenue share with exact integer 80% "
    "cut (window over the aggregate, not the scan)",
    "suppliers by revenue: running cents, cumulative share, integer-exact "
    "top-80% flag",
)
def pareto_supplier_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    rev = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                _cents(
                    F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
                )
            )
            .cast("bigint")
            .alias("rev_cents")
        )
    )
    total = rev.agg(F.sum("rev_cents").cast("bigint").alias("total"))
    # r7: the supplier table scales, so the revenue cumsum is the
    # distributed two-phase running sum (per-range-partition prefix +
    # broadcast sum offsets), not a one-task sort of every supplier
    from sports_data_integration_and_forecasting_pipeline_spark.operators.parallelism import (
        global_running_sum,
    )

    cum = global_running_sum(
        rev,
        [F.col("rev_cents").desc(), F.col("l_suppkey")],
        "rev_cents",
        out_col="cum_cents",
        cache_role="pareto_cumsum",
    ).withColumn("cum_cents", F.col("cum_cents").cast("bigint"))
    return (
        cum.crossJoin(F.broadcast(total))
        .select(
            "l_suppkey",
            "rev_cents",
            "cum_cents",
            _r(
                F.col("cum_cents").cast("double")
                / F.col("total").cast("double"),
                9,
            ).alias("cum_share"),
            F.when(
                100 * F.col("cum_cents") <= 80 * F.col("total"), 1
            )
            .otherwise(0)
            .cast("int")
            .alias("in_top80"),
        )
    )


# ===========================================================================
# Event-transition matrix — first-order Markov model of user behavior:
# lead() per user gives (from → to) bigrams, one aggregate gives counts,
# and the row-conditional probability is a windowed sum OVER THE
# AGGREGATE (|event_type|² rows), not the stream. The per-user window
# and the groupBy share the user-id-free shuffle only at the tiny
# matrix stage; transition probability is exact-int / exact-int.
# ===========================================================================

@_register(
    "event_transition_matrix",
    f"""
    WITH seq AS (
      SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events)
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(count(*) AS BIGINT) AS n,
           {_sql_r("CAST(count(*) AS DOUBLE) / CAST(sum(count(*)) OVER (PARTITION BY event_type) AS DOUBLE)", 9)} AS p
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
    "analytics: first-order Markov transition matrix (lead bigrams + "
    "conditional probabilities over the aggregate)",
    "(from, to) event-type transition counts and row-conditional "
    "probabilities",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq = _t(spark, sf_dir, "events").select(
        "event_type",
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("next_type"),
    )
    counts = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    wrow = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        _r(
            F.col("n").cast("double")
            / F.sum("n").over(wrow).cast("double"),
            9,
        ).alias("p"),
    )


# ===========================================================================
# Unpivot / melt — the inverse of the battery's pivot entry: a grouped
# aggregate reshaped long. Spark's native `unpivot` (Arrow-free, pure
# JVM Expand) over the 5-row aggregate; the oracle spells the same
# reshape as UNION ALL, the engine-portable form. Melt AFTER aggregating
# — melting the raw fact table first would triple the shuffle volume.
# ===========================================================================

@_register(
    "unpivot_order_measures",
    """
    WITH a AS (
      SELECT o_orderpriority,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS sum_cents,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(max(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS max_cents
      FROM orders GROUP BY o_orderpriority)
    SELECT o_orderpriority, 'sum_cents' AS metric, sum_cents AS value FROM a
    UNION ALL
    SELECT o_orderpriority, 'n_orders', n_orders FROM a
    UNION ALL
    SELECT o_orderpriority, 'max_cents', max_cents FROM a
    """,
    "reshape: unpivot/melt of a grouped aggregate (inverse of "
    "pivot_event_cents)",
    "per-priority order measures melted to (priority, metric, value) "
    "long form",
)
def unpivot_order_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.sum(_cents(F.col("o_totalprice")))
            .cast("bigint")
            .alias("sum_cents"),
            F.count("*").cast("bigint").alias("n_orders"),
            F.max(_cents(F.col("o_totalprice")))
            .cast("bigint")
            .alias("max_cents"),
        )
    )
    return a.unpivot(
        ids=["o_orderpriority"],
        values=["sum_cents", "n_orders", "max_cents"],
        variableColumnName="metric",
        valueColumnName="value",
    )


# ===========================================================================
# Last-touch attribution — for every purchase, the most recent preceding
# click by the same user within 24h: a running CASE-gated window max
# (the event-stream form of an as-of join — one shuffle on user_id, no
# self-join, no range explosion). Attribution flag and latency derive
# from exact microsecond arithmetic.
# ===========================================================================

@_register(
    "purchase_click_attribution",
    """
    WITH w AS (
      SELECT user_id, event_id, event_type, ts,
             max(CASE WHEN event_type = 'click' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_click_ts
      FROM events)
    SELECT event_id, user_id,
           CAST(epoch_us(ts) // 1000000 AS BIGINT) AS purchase_ts_s,
           CAST(CASE WHEN last_click_ts IS NOT NULL
                      AND epoch_us(ts) - epoch_us(last_click_ts)
                          <= 86400000000 THEN 1 ELSE 0 END AS INT)
             AS attributed,
           CASE WHEN last_click_ts IS NOT NULL
                 AND epoch_us(ts) - epoch_us(last_click_ts) <= 86400000000
                THEN CAST((epoch_us(ts) - epoch_us(last_click_ts))
                          // 60000000 AS BIGINT)
                ELSE NULL END AS mins_since_click
    FROM w WHERE event_type = 'purchase'
    """,
    "analytics: last-touch purchase attribution via CASE-gated running "
    "window max (as-of join without a join)",
    "per purchase: whether a same-user click precedes it within 24h, and "
    "the minutes since that click",
)
def purchase_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.max(
        F.when(F.col("event_type") == "click", F.col("ts"))
    ).over(w)
    lag_us = _epoch_us(F.col("ts")) - _epoch_us(F.col("last_click_ts"))
    within = F.col("last_click_ts").isNotNull() & (
        lag_us <= 86_400_000_000
    )
    return (
        ev.withColumn("last_click_ts", last_click)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            _epoch_s(F.col("ts")).alias("purchase_ts_s"),
            F.when(within, 1).otherwise(0).cast("int").alias("attributed"),
            F.when(within, _fdiv(lag_us, 60_000_000)).alias(
                "mins_since_click"
            ),
        )
    )


# ===========================================================================
# Hierarchy closure — root + depth for every node of a forest: the
# distributed form of WITH RECURSIVE. The oracle walks the chain row by
# row (the recursive CTE); the engine POINTER-DOUBLES
# (operators/graph.py:tree_roots): each round composes the
# ancestor-distance state with itself, so a depth-D hierarchy converges
# in ⌈log₂D⌉ shuffles, not D — at a 100 TB dimension with depth 20
# that's 5 rounds instead of 20, plus one that finds nothing moved (at
# sf0.1 the keys have ≤5 digits: 2 + 1). The decimal-digit parent function
# (custkey DIV 10) is the deterministic hierarchy the testdata affords;
# the operator itself takes any (child, parent) edge table.
#
# The walk's VERTEX set is every number on some customer's digit chain,
# not just the custkeys themselves — so the engine materializes that
# closure first (one transform over a static 19-long bigint power array
# + explode + distinct: ≤19 ancestors per key, linear in nodes, no
# iteration) and pointer-doubles over it. Feeding tree_roots only the
# customer rows worked on DENSE key ranges (1..N contains every
# prefix) and silently lost 9/10 of the rows on the r15 sf1 replica
# set's sparse offset keys — the oracle's recursive CTE walks numbers,
# not table rows, so the engine must walk the same vertex universe.
# ===========================================================================

@_register(
    "hierarchy_root_depth",
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
    "graph: hierarchy closure via pointer doubling (log-depth rounds vs "
    "the recursive CTE's linear walk)",
    "root and exact depth per customer in the digit-prefix hierarchy "
    "(parent = custkey DIV 10)",
)
def hierarchy_root_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sports_data_integration_and_forecasting_pipeline_spark.operators.graph import tree_roots

    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    # Digit-closure vertices: c DIV 10^k for k=0..18 (bigint has ≤19
    # decimal digits — a STATIC bound, not a data scan). Exact-integer
    # literals, no float pow. The key itself is always a vertex (the
    # v >= 1 filter strips the zeros PAST the top digit, but custkey 0
    # exists in the testdata and is its own walk — concat it back).
    powers = ", ".join(f"{10 ** k}L" for k in range(19))
    verts = cust.select(
        F.explode(
            F.expr(
                f"array_distinct(concat(array(c_custkey), "
                f"filter(transform(array({powers}), "
                "p -> c_custkey DIV p), v -> v >= 1)))"
            )
        ).alias("child")
    ).distinct()
    parents = verts.select(
        "child",
        F.when(F.col("child") >= 10, F.expr("child DIV 10")).alias(
            "parent"
        ),
    )
    state = tree_roots(parents)
    # Emit one row per CUSTOMER (the oracle starts a walk per custkey);
    # intermediate closure vertices that are not custkeys drop here.
    # Both sides grow with SF — co-partitioned hash join, no broadcast.
    return cust.join(
        state, cust["c_custkey"] == state["node"]
    ).select("c_custkey", "root", "depth")


# ===========================================================================
# TPC-H Q8 (national market share) — the 6-table star-join ratio query:
# per order year, the revenue share supplied by one nation to one
# region's customers for one part type. The region filter broadcasts
# through nation onto customer; the part-type and date-range predicates
# push to their scans; everything money is exact cents so the share's
# numerator/denominator are engine-identical bigints. Scale: one fact
# scan, dims join on their keys (nation broadcast; the rest hash —
# supplier/part/customer all grow with SF, so no broadcast hint that a
# 100 TB run would have to undo).
# ===========================================================================

@_register(
    "q8_nation_market_share",
    f"""
    WITH vol AS (
      SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
             CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100.0 + 0.5)
                  AS BIGINT) AS vol_cents,
             s.s_nationkey AS supp_nation
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN part p ON l.l_partkey = p.p_partkey
      WHERE n.n_regionkey = 0
        AND p.p_type = 'PROMO'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1998-01-01')
    SELECT o_year,
           CAST(sum(CASE WHEN supp_nation = 3 THEN vol_cents ELSE 0 END)
                AS BIGINT) AS nation_cents,
           CAST(sum(vol_cents) AS BIGINT) AS total_cents,
           {_sql_r('1.0 * sum(CASE WHEN supp_nation = 3 THEN vol_cents ELSE 0 END) / sum(vol_cents)', 9)}
             AS mkt_share
    FROM vol GROUP BY o_year
    """,
    "warehouse: TPC-H Q8 national market share (6-table star join, "
    "exact-cents ratio)",
    "per order year: nation 3's revenue share of region 0's PROMO-part "
    "purchases, 1996-1997",
)
def q8_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.lit("1996-01-01").cast("timestamp_ntz")
    hi = F.lit("1998-01-01").cast("timestamp_ntz")
    nat = (
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_regionkey") == 0)
        .select("n_nationkey")
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey")
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .select(
            "o_orderkey",
            "o_custkey",
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
    )
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        _cents(
            F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
        ).alias("vol_cents"),
    )
    j = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    nation_cents = F.sum(
        F.when(F.col("s_nationkey") == 3, F.col("vol_cents")).otherwise(0)
    )
    total = F.sum("vol_cents")
    return j.groupBy("o_year").agg(
        nation_cents.cast("bigint").alias("nation_cents"),
        total.cast("bigint").alias("total_cents"),
        _r(nation_cents.cast("double") / total, 9).alias("mkt_share"),
    )


# ===========================================================================
# TPC-H Q13 (customer order-count distribution) — the canonical outer-join
# histogram: LEFT JOIN so zero-order customers keep a 0 bucket, the join
# filter lives in the ON clause (pushed below the join as a right-side
# prefilter — identical semantics for LEFT OUTER), then a two-level
# aggregate whose second level is |distinct counts| rows. Scale: one
# shuffle on the join key, one on the (tiny) count value.
# ===========================================================================

@_register(
    "q13_order_count_distribution",
    """
    WITH c_orders AS (
      SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey)
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM c_orders GROUP BY c_count
    """,
    "warehouse: TPC-H Q13 order-count distribution (outer-join histogram)",
    "customers per non-urgent order count, zero-order customers included",
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").cast("bigint").alias("custdist")
    )


# ===========================================================================
# TPC-H Q17 (small-quantity-order revenue) — the correlated scalar-AVG
# subquery, decorrelated: per-part quantity aggregates join back to the
# same part-pruned lineitem subset, and the `quantity < 0.2 * avg`
# predicate is cross-multiplied into pure bigint arithmetic
# (5·q·count < sum) so no float average can flip a boundary row on
# either engine. Scale: the brand/size filter broadcasts onto the fact
# scan FIRST, so both the aggregate and the join see only the pruned
# subset (the classic Q17 trap is aggregating all of lineitem).
# ===========================================================================

@_register(
    "q17_small_quantity_revenue",
    f"""
    WITH pf AS (SELECT p_partkey FROM part
                WHERE p_brand = 'Brand#13' AND p_size <= 10),
    lf AS (
      SELECT l.l_partkey,
             CAST(floor(l.l_quantity + 0.5) AS BIGINT) AS qn,
             CAST(floor(l.l_extendedprice * 100.0 + 0.5) AS BIGINT)
               AS price_cents
      FROM lineitem l JOIN pf ON l.l_partkey = pf.p_partkey),
    agg AS (
      SELECT l_partkey, CAST(sum(qn) AS BIGINT) AS sum_q,
             CAST(count(*) AS BIGINT) AS n_q
      FROM lf GROUP BY l_partkey)
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(coalesce(sum(lf.price_cents), 0) AS BIGINT) AS sum_cents,
           {_sql_r('coalesce(sum(lf.price_cents), 0) / 700.0', 2)}
             AS avg_yearly
    FROM lf JOIN agg a ON lf.l_partkey = a.l_partkey
    WHERE 5 * lf.qn * a.n_q < a.sum_q
    """,
    "warehouse: TPC-H Q17 small-quantity revenue (decorrelated scalar "
    "AVG, integer cross-multiplied threshold)",
    "avg yearly revenue lost if sub-20%-of-average-quantity orders for "
    "Brand#13 small parts stopped",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    pf = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#13") & (F.col("p_size") <= 10))
        .select("p_partkey")
    )
    # NO broadcast hints: the brand/size part subset and its per-part
    # aggregate both grow with SF (~0.8% of an SF-growing part table) —
    # forcing them broadcast is the choice a 100 TB run would have to
    # undo. AQE broadcasts both at small SF on its own (plan-pinned).
    lf = (
        _t(spark, sf_dir, "lineitem")
        .join(pf, F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "l_partkey",
            F.floor(F.col("l_quantity") + 0.5).cast("bigint").alias("qn"),
            _cents(F.col("l_extendedprice")).alias("price_cents"),
        )
    )
    agg = lf.groupBy("l_partkey").agg(
        F.sum("qn").cast("bigint").alias("sum_q"),
        F.count("*").cast("bigint").alias("n_q"),
    )
    j = lf.join(agg, "l_partkey").filter(
        5 * F.col("qn") * F.col("n_q") < F.col("sum_q")
    )
    total = F.coalesce(F.sum("price_cents"), F.lit(0))
    return j.agg(
        F.count("*").cast("bigint").alias("n_lines"),
        total.cast("bigint").alias("sum_cents"),
        _r(total / 700.0, 2).alias("avg_yearly"),
    )


# ===========================================================================
# TPC-H Q21-shaped "sole latest shipper" — the exists/not-exists double
# correlation, rewritten as windowed aggregates that reuse ONE shuffle:
# per (order, supplier) max ship date, then order-level max / supplier
# count / count-achieving-max as three window expressions over the same
# l_orderkey partitioning. A supplier is blamed when the order has ≥2
# suppliers (EXISTS another supplier) and they ALONE shipped last
# (NOT EXISTS another supplier as late). The testdata has no
# commit/receipt dates, so "late" = the order's final ship date; the
# join topology — and the decorrelation strategy a 100 TB plan needs —
# is Q21's. Finished-order filter rides a LeftSemi against orders.
# ===========================================================================

@_register(
    "q21_sole_latest_shipper",
    """
    WITH ss AS (SELECT l_orderkey, l_suppkey, max(l_shipdate) AS smax
                FROM lineitem GROUP BY l_orderkey, l_suppkey),
    oo AS (SELECT l_orderkey, max(smax) AS omax,
                  CAST(count(*) AS BIGINT) AS nsupp
           FROM ss GROUP BY l_orderkey),
    mm AS (SELECT ss.l_orderkey, CAST(count(*) AS BIGINT) AS nmax
           FROM ss JOIN oo ON ss.l_orderkey = oo.l_orderkey
                          AND ss.smax = oo.omax
           GROUP BY ss.l_orderkey),
    blame AS (
      SELECT ss.l_suppkey
      FROM ss
      JOIN oo ON ss.l_orderkey = oo.l_orderkey AND ss.smax = oo.omax
      JOIN mm ON ss.l_orderkey = mm.l_orderkey
      JOIN orders o ON ss.l_orderkey = o.o_orderkey
      WHERE oo.nsupp >= 2 AND mm.nmax = 1 AND o.o_orderstatus = 'F')
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM blame b JOIN supplier s ON s.s_suppkey = b.l_suppkey
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name LIMIT 20
    """,
    "warehouse: TPC-H Q21 shape (exists/not-exists double correlation as "
    "shared-shuffle window aggregates)",
    "suppliers solely responsible for the final shipment on multi-supplier "
    "finished orders, top 20 by count",
)
def q21_sole_latest_shipper(spark: SparkSession, sf_dir: str) -> DataFrame:
    ss = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("l_shipdate").alias("smax"))
    )
    w = Window.partitionBy("l_orderkey")
    ss2 = ss.withColumn("omax", F.max("smax").over(w)).withColumn(
        "nsupp", F.count("*").over(w)
    )
    ss3 = ss2.withColumn(
        "nmax",
        F.sum(
            F.when(F.col("smax") == F.col("omax"), 1).otherwise(0)
        ).over(w),
    )
    finished = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    blame = ss3.filter(
        (F.col("smax") == F.col("omax"))
        & (F.col("nsupp") >= 2)
        & (F.col("nmax") == 1)
    ).join(
        finished, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi"
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        blame.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


# ===========================================================================
# TPC-H Q22-shaped idle high-balance customers — scalar subquery +
# anti-join: customers above the (positive-balance) average with no
# orders at all, rolled up per nation. The average is computed in exact
# integer cents with truncating integer division (Spark `div` == DuckDB
# `//`, both toward zero) so the threshold compare is bigint-vs-bigint —
# a float AVG would flip boundary customers between engines. Scale: the
# 1-row average broadcasts; NOT EXISTS is a LeftAnti on the order
# custkey projection.
# ===========================================================================

@_register(
    "q22_idle_customer_balance",
    """
    WITH ab AS (
      SELECT CAST(CAST(sum(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT))
                       AS BIGINT) // CAST(count(*) AS BIGINT) AS BIGINT)
               AS ab_cents
      FROM customer WHERE c_acctbal > 0.0)
    SELECT c.c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
           CAST(sum(CAST(floor(c.c_acctbal * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS total_cents
    FROM customer c, ab
    WHERE CAST(floor(c.c_acctbal * 100.0 + 0.5) AS BIGINT) > ab.ab_cents
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_nationkey
    """,
    "warehouse: TPC-H Q22 shape (integer-exact scalar-average threshold + "
    "NOT EXISTS anti-join)",
    "per nation: count and balance of above-average-balance customers "
    "with zero orders",
)
def q22_idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        _cents(F.col("c_acctbal")).alias("bal_cents"),
    )
    ab = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(
            F.sum("bal_cents").alias("s"),
            F.count("*").alias("n"),
        )
        .select(F.expr("CAST(s div n AS BIGINT)").alias("ab_cents"))
    )
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    idle = (
        cust.crossJoin(F.broadcast(ab))
        .filter(F.col("bal_cents") > F.col("ab_cents"))
        .join(
            orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
        )
    )
    return idle.groupBy("c_nationkey").agg(
        F.count("*").cast("bigint").alias("numcust"),
        F.sum("bal_cents").cast("bigint").alias("total_cents"),
    )


# ===========================================================================
# Quantized k-means (2 Lloyd iterations) — the iterative clustering an
# embedding-curation pipeline runs before topic balancing. Everything is
# EXACT integer arithmetic on a quantized grid (round(v·1000)): squared
# L2 distances are bigint sums, centroid updates use truncating integer
# division (Spark `div` == DuckDB `//`), argmin ties break on cluster
# id — so a 2-iteration fixpoint is bit-identical across engines, the
# same engine-portable-fixpoint discipline as the integer PageRank.
# Seeds are the K smallest vec_ids (pinned, data-independent order).
# Scale: each assignment is a (vec, dim) ⋈ (K·dim) broadcast join —
# K·dim rows of centroid state, never an all-pairs; centroid recompute
# is one map-side-combined aggregate keyed (cid, dim).
# ===========================================================================

_KMEANS_K = 8
_KM_Q = 1000  # quantization grid: round(v * 1000) fits every |v| <= 1 embedding

@_register(
    "kmeans_embeddings_lloyd",
    f"""
    WITH qe AS (
      -- CAST AS DOUBLE before the arithmetic: DuckDB types FLOAT *
      -- DECIMAL-literal as FLOAT, so the whole quantization would run in
      -- float32 — values within half a float32-ulp of a .5 boundary
      -- (e.g. 0.3195f * 1000 = 319.49999928..., which float32 rounds to
      -- exactly 319.5) then floor one grid cell HIGHER than the exact
      -- double computation Spark performs after array<double> cast.
      -- Found by the r15 full-battery sf1 sweep (2 boundary values in
      -- the sf0.1 vector set; sf0.01's vectors happen to miss the
      -- boundary, which is why the gate-scale sweeps stayed green).
      SELECT vec_id, d.i AS dim,
             CAST(floor(CAST(embedding[d.i::INT] AS DOUBLE) * {_KM_Q}.0
                        + 0.5) AS BIGINT) AS q
      FROM embeddings CROSS JOIN range(1, {_EMB_DIM + 1}) d(i)),
    seeds AS (
      SELECT vec_id,
             CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid
      FROM (SELECT vec_id FROM embeddings ORDER BY vec_id
            LIMIT {_KMEANS_K})),
    c0 AS (SELECT s.cid, q.dim, q.q AS cq
           FROM seeds s JOIN qe q ON q.vec_id = s.vec_id),
    d1 AS (SELECT qe.vec_id, c0.cid,
                  CAST(sum((qe.q - c0.cq) * (qe.q - c0.cq)) AS BIGINT)
                    AS dist
           FROM qe JOIN c0 ON qe.dim = c0.dim
           GROUP BY qe.vec_id, c0.cid),
    a1 AS (SELECT vec_id, cid FROM d1
           QUALIFY row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) = 1),
    c1 AS (SELECT a1.cid, qe.dim,
                  CAST(CAST(sum(qe.q) AS BIGINT) // CAST(count(*) AS BIGINT)
                       AS BIGINT) AS cq
           FROM qe JOIN a1 ON qe.vec_id = a1.vec_id
           GROUP BY a1.cid, qe.dim),
    d2 AS (SELECT qe.vec_id, c1.cid,
                  CAST(sum((qe.q - c1.cq) * (qe.q - c1.cq)) AS BIGINT)
                    AS dist
           FROM qe JOIN c1 ON qe.dim = c1.dim
           GROUP BY qe.vec_id, c1.cid),
    a2 AS (SELECT vec_id, cid, dist FROM d2
           QUALIFY row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) = 1)
    SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(dist) AS BIGINT) AS inertia
    FROM a2 GROUP BY cid
    """,
    "ml: quantized k-means, 2 Lloyd iterations (exact integer fixpoint, "
    "engine-portable like the integer PageRank)",
    f"{_KMEANS_K}-cluster sizes + exact integer inertia after two Lloyd "
    "rounds on the round(v*1000) grid, pinned seeds/tiebreaks",
)
def kmeans_embeddings_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qe = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "v"
        ),
    ).select(
        "vec_id",
        "dim",
        F.floor(F.col("v") * _KM_Q + 0.5).cast("bigint").alias("q"),
    )
    seeds = (
        emb.select("vec_id")
        .orderBy("vec_id")
        .limit(_KMEANS_K)
        .select(
            "vec_id",
            # unpartitioned rank runs over the ≤K seed rows (limit above)
            (F.row_number().over(Window.orderBy("vec_id")) - 1)
            .cast("int")
            .alias("cid"),
        )
    )
    c0 = seeds.join(qe, "vec_id").select(
        "cid", "dim", F.col("q").alias("cq")
    )

    def _assign(centroids: DataFrame) -> DataFrame:
        d = (
            qe.join(F.broadcast(centroids), "dim")
            .groupBy("vec_id", "cid")
            .agg(
                F.sum(
                    (F.col("q") - F.col("cq")) * (F.col("q") - F.col("cq"))
                )
                .cast("bigint")
                .alias("dist")
            )
        )
        wv = Window.partitionBy("vec_id").orderBy("dist", "cid")
        return (
            d.withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    a1 = _assign(c0).select("vec_id", "cid")
    # NO broadcast hint on the assignment join: a1 is one row per VECTOR
    # (grows with the corpus — broadcasting it would be the scale bug);
    # it hash-joins co-partitioned with qe on vec_id, and AQE still
    # broadcasts it at tiny SF on its own.
    c1 = (
        qe.join(a1.withColumnRenamed("vec_id", "av"),
                F.col("vec_id") == F.col("av"))
        .groupBy("cid", "dim")
        .agg(
            F.sum("q").alias("sq"),
            F.count("*").alias("nq"),
        )
        .select(
            "cid", "dim", F.expr("CAST(sq div nq AS BIGINT)").alias("cq")
        )
    )
    a2 = _assign(c1)
    return a2.groupBy("cid").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.sum("dist").cast("bigint").alias("inertia"),
    )
