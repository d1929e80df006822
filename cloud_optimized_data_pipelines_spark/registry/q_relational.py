"""TPC-H-style relational core: aggregations, joins, windows, set ops through the SQL front door

Split out of the single-file registry in round 11 (VERDICT r10 task
9); registration order is preserved by the import order in
``cloud_optimized_data_pipelines_spark.queries`` and pinned by
``tests/test_registry_order.py``.  Code is unchanged — only moved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from cloud_optimized_data_pipelines_spark.functions.dates import extract_dates  # noqa: F401,E501
from cloud_optimized_data_pipelines_spark.functions.ids import item_id  # noqa: F401
from cloud_optimized_data_pipelines_spark.functions import text as T  # noqa: F401
from cloud_optimized_data_pipelines_spark.functions import vectors as V  # noqa: F401
from cloud_optimized_data_pipelines_spark.operators import dedup as D  # noqa: F401
from cloud_optimized_data_pipelines_spark.operators import similarity as S  # noqa: F401,E501
from cloud_optimized_data_pipelines_spark.operators.transfer import plan_transfer  # noqa: F401,E501
from cloud_optimized_data_pipelines_spark.sources import cmr as cmr_src  # noqa: F401
from cloud_optimized_data_pipelines_spark.sources import inventory as inv_src  # noqa: F401,E501

from cloud_optimized_data_pipelines_spark.queries import (  # noqa: F401
    load_tables,
    query,
)

# ---------------------------------------------------------------------------
# Generic relational surface (SURVEY sections 2.4-2.6) — native Catalyst.
# Spark side uses spark.sql so the engine's SQL front door is exercised;
# plans are pure built-in operators (hash agg, SMJ/BHJ, window, topk).
# ---------------------------------------------------------------------------

_Q1 = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_base_price,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(8,6)) AS DECIMAL(19,6))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_disc_price,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST((1 - CAST(l_discount AS DECIMAL(8,6))) * (1 + CAST(l_tax AS DECIMAL(8,6))) AS DECIMAL(19,12))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_charge,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@query("q1_pricing_summary", _Q1)
def q1(spark, sf_dir):
    load_tables(spark, sf_dir)
    return spark.sql(_Q1)


_Q3 = """
SELECT
  o_orderkey,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(8,6)) AS DECIMAL(19,6))) AS DECIMAL(38,6)) AS DOUBLE) AS revenue,
  o_orderdate,
  o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


@query("q3_shipping_priority", _Q3)
def q3(spark, sf_dir):
    load_tables(spark, sf_dir)
    return spark.sql(_Q3)


_Q5 = """
SELECT
  n_name,
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(8,6)) AS DECIMAL(19,6))) AS DECIMAL(38,6)) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


@query("q5_local_supplier_volume", _Q5)
def q5(spark, sf_dir):
    load_tables(spark, sf_dir)
    return spark.sql(_Q5)


_Q6 = """
SELECT
  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(8,6))) AS DECIMAL(38,6)) AS DOUBLE) AS revenue,
  COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@query("q6_forecast_revenue", _Q6)
def q6(spark, sf_dir):
    """TPC-H Q6 shape: pure scan + filter + global agg.  The whole
    query is one codegen span with every predicate pushed to parquet —
    the 100 TB sanity check for scan efficiency."""
    load_tables(spark, sf_dir)
    return spark.sql(_Q6)


_Q18 = """
SELECT c_custkey, o_orderkey, o_orderdate,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 300
)
GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


@query("q18_large_volume_customer", _Q18)
def q18(spark, sf_dir):
    """TPC-H Q18 shape: agg-filtered join back onto the fact + top-k.

    Hand-shaped rather than the naive IN-subquery SQL: Catalyst
    rewrites `o_orderkey IN (SELECT ... HAVING)` into TWO copies of
    the lineitem aggregation (the semi-join is pushed to both the
    orders and lineitem branches), tripling fact work.  Aggregating
    lineitem ONCE and joining the (already >300-filtered, therefore
    tiny) result to orders+customer reads the 100 TB fact a single
    time — same rows, the plan you'd want on a cluster."""
    t = load_tables(spark, sf_dir)
    qty = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(12,2)"))
            .cast("decimal(38,2)")
            .alias("total_qty")
        )
        .filter(F.col("total_qty") > 300)
    )
    return (
        qty.join(t["orders"], qty.l_orderkey == t["orders"].o_orderkey)
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice")
            .cast("decimal(18,2)")
            .cast("double")
            .alias("o_totalprice"),
            F.col("total_qty").cast("double").alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
        .limit(100)
    )


_Q4 = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
"""


@query("q4_order_priority", _Q4)
def q4(spark, sf_dir):
    """TPC-H Q4 shape: correlated EXISTS → left-semi join against the
    fact, then a tiny agg (late-shipped lineitem stands in for the
    commit/receipt columns the synthetic schema lacks)."""
    load_tables(spark, sf_dir)
    return spark.sql(_Q4)


_Q14 = """
SELECT
  CAST(100.0 * SUM(CASE WHEN p_type = 'PROMO'
        THEN CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(8,6)) AS DECIMAL(19,6))
        ELSE CAST(0 AS DECIMAL(31,8)) END) AS DOUBLE)
  / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(8,6)) AS DECIMAL(19,6))) AS DOUBLE)
  AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
"""


@query("q14_promo_effect", _Q14)
def q14(spark, sf_dir):
    """TPC-H Q14 shape: conditional aggregate ratio over a broadcast
    dimension join.  Sums run exact in DECIMAL; only the final ratio is
    DOUBLE (one identical IEEE division on both engines)."""
    load_tables(spark, sf_dir)
    return spark.sql(_Q14)


# -- Remaining TPC-H shapes, adapted to the reduced synthetic schema ------
# (no partsupp / commitdate / shipmode / container columns — each query
# keeps the plan shape that makes the original interesting: correlated
# scalar subqueries, decorrelated EXISTS/NOT EXISTS, scalar-vs-global
# comparisons, disjunctive pushdown.  All money math stays DECIMAL-exact;
# avg-style predicates are rewritten multiplicative (5*qty*cnt < sum) so
# no engine-specific decimal-division scale rules leak into results.)

_Q2 = """
WITH ps AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS ps_supplycost
  FROM lineitem GROUP BY l_partkey, l_suppkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
       CAST(ps_supplycost AS DOUBLE) AS ps_supplycost
FROM part, ps, supplier, nation, region
WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
  AND p_size BETWEEN 10 AND 30 AND p_type = 'STANDARD'
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'EUROPE'
  AND ps_supplycost = (
    SELECT MIN(ps2.ps_supplycost)
    FROM ps ps2, supplier s2, nation n2, region r2
    WHERE ps2.ps_partkey = p_partkey AND s2.s_suppkey = ps2.ps_suppkey
      AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
      AND r2.r_name = 'EUROPE')
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


@query("q2_min_cost_supplier", _Q2)
def q2(spark, sf_dir):
    """TPC-H Q2 shape: correlated scalar MIN subquery over a derived
    part-supplier relation (partsupp reconstructed from lineitem).

    Hand-shaped: the naive SQL plans the ps CTE (a full fact
    aggregation) TWICE — once for the outer join, once inside the
    decorrelated MIN — 9 parquet scans total.  Here ps is aggregated
    once, restricted to EUROPE suppliers via a broadcast of the dim
    chain, and the per-part minimum comes from a window over the
    already-aggregated (tiny) ps relation: ONE lineitem scan."""
    t = load_tables(spark, sf_dir)
    ps = (
        t["lineitem"]
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(F.col("l_extendedprice").cast("decimal(12,2)")).alias(
                "ps_supplycost"
            )
        )
    )
    eu_supp = (
        t["supplier"]
        .join(
            t["nation"],
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            t["region"].filter(F.col("r_name") == "EUROPE"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    eu_ps = ps.join(
        eu_supp, F.col("l_suppkey") == F.col("s_suppkey")
    )
    w = Window.partitionBy("l_partkey")
    best = eu_ps.withColumn(
        "min_cost", F.min("ps_supplycost").over(w)
    ).filter(F.col("ps_supplycost") == F.col("min_cost"))
    parts = t["part"].filter(
        F.col("p_size").between(10, 30) & (F.col("p_type") == "STANDARD")
    )
    return (
        best.join(parts, F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_type",
            F.col("ps_supplycost").cast("double").alias("ps_supplycost"),
        )
        .orderBy(
            F.desc("s_acctbal"), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


_Q7 = """
SELECT supp_nation, cust_nation, l_year,
       CAST(CAST(SUM(volume) AS DECIMAL(38,6)) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(YEAR(l_shipdate) AS BIGINT) AS l_year,
         CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(8,6)) AS DECIMAL(19,6)) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
  WHERE ((r1.r_name = 'EUROPE' AND r2.r_name = 'ASIA')
      OR (r1.r_name = 'ASIA' AND r2.r_name = 'EUROPE'))
    AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                       AND TIMESTAMP '1997-12-31 00:00:00'
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""


@query("q7_volume_shipping", _Q7)
def q7(spark, sf_dir):
    """TPC-H Q7 shape: the nation+region dimension chain joined twice
    (supplier side and customer side) with a disjunctive cross-region
    predicate, grouped by derived year."""
    load_tables(spark, sf_dir)
    return spark.sql(_Q7)


_Q8 = """
SELECT o_year,
       CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume
                     ELSE CAST(0 AS DECIMAL(31,8)) END) AS DOUBLE)
       / CAST(SUM(volume) AS DOUBLE) AS mkt_share
FROM (
  SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
         CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(8,6)) AS DECIMAL(19,6)) AS volume,
         n2.n_name AS nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
    AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                        AND TIMESTAMP '1997-12-31 00:00:00'
) all_nations
GROUP BY o_year
"""


@query("q8_market_share", _Q8)
def q8(spark, sf_dir):
    """TPC-H Q8 shape: eight-way join with the nation dimension joined
    twice, conditional-share ratio.  Sums stay DECIMAL; only the final
    ratio is one identical IEEE division per group."""
    load_tables(spark, sf_dir)
    return spark.sql(_Q8)


_Q9 = """
SELECT nation, o_year, CAST(CAST(SUM(amount) AS DECIMAL(38,8)) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
         CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(8,6)) AS DECIMAL(19,6))
         - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)) AS amount
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%widget%'
) profit
GROUP BY nation, o_year
"""


@query("q9_product_profit", _Q9)
def q9(spark, sf_dir):
    """TPC-H Q9 shape: profit = revenue - cost (retailprice stands in
    for the missing ps_supplycost), substring part filter, grouped by
    supplier nation and order year."""
    load_tables(spark, sf_dir)
    return spark.sql(_Q9)


_Q10 = """
SELECT c_custkey, c_name,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(8,6)) AS DECIMAL(19,6))) AS DECIMAL(38,6)) AS DOUBLE) AS revenue,
       CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS c_acctbal, n_name, c_mktsegment
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@query("q10_returned_items", _Q10)
def q10(spark, sf_dir):
    """TPC-H Q10 shape: one-quarter returned-item revenue per customer,
    top 20 — fact join with two dims, agg, TakeOrderedAndProject."""
    load_tables(spark, sf_dir)
    return spark.sql(_Q10)


_Q11 = """
SELECT l_partkey AS ps_partkey,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS part_value
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
GROUP BY l_partkey
HAVING SUM(CAST(l_extendedprice AS DECIMAL(12,2))) * 2000 > (
  SELECT SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE')
ORDER BY part_value DESC, ps_partkey
"""


@query("q11_important_parts", _Q11)
def q11(spark, sf_dir):
    """TPC-H Q11 shape: group-value vs global-total scalar subquery in
    HAVING (fraction rewritten multiplicative: value*100 > total, exact
    in DECIMAL).  The subquery plans once as an uncorrelated scalar."""
    load_tables(spark, sf_dir)
    return spark.sql(_Q11)


_Q12 = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_returnflag
"""


@query("q12_late_lines_priority", _Q12)
def q12(spark, sf_dir):
    """TPC-H Q12 shape: priority-class pivot counts over late-shipped
    lines (returnflag stands in for the missing shipmode; lateness is a
    cross-column l_shipdate > o_orderdate + interval predicate that
    can only be applied post-join)."""
    load_tables(spark, sf_dir)
    return spark.sql(_Q12)


_Q13 = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@query("q13_customer_distribution", _Q13)
def q13(spark, sf_dir):
    """TPC-H Q13 shape: left outer join with an extra join-side filter
    (must stay in the ON clause, not WHERE), then an agg-of-agg
    histogram."""
    load_tables(spark, sf_dir)
    return spark.sql(_Q13)


_Q15 = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(8,6)) AS DECIMAL(19,6))) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(CAST(total_revenue AS DECIMAL(38,6)) AS DOUBLE) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


@query("q15_top_supplier", _Q15)
def q15(spark, sf_dir):
    """TPC-H Q15 shape: CTE reused as both join input and scalar-MAX
    subquery — exact-DECIMAL equality against the max makes the result
    engine-independent."""
    load_tables(spark, sf_dir)
    return spark.sql(_Q15)


_Q16 = """
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34, 39, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%0')
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@query("q16_supplier_part_count", _Q16)
def q16(spark, sf_dir):
    """TPC-H Q16 shape: COUNT(DISTINCT) per part attribute triple with a
    NOT IN (null-safe anti-join) supplier exclusion list."""
    load_tables(spark, sf_dir)
    return spark.sql(_Q16)


_Q17 = """
SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#2'
  AND p_size <= 20
  AND CAST(l_quantity AS DECIMAL(12,2)) * 5
      * (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    < (SELECT SUM(CAST(l3.l_quantity AS DECIMAL(12,2))) FROM lineitem l3 WHERE l3.l_partkey = p_partkey)
"""


@query("q17_small_qty_revenue", _Q17)
def q17(spark, sf_dir):
    """TPC-H Q17 shape: per-part 'quantity < 0.2 * avg(quantity)'
    rewritten multiplicative (5*qty*cnt < sum) so the correlated scalar
    aggregates stay DECIMAL-exact on both engines.

    Hand-shaped: Catalyst plans the two correlated scalar subqueries as
    two SEPARATE unfiltered full-fact aggregations (grouping ALL parts,
    then broadcasting the result — an OOM at real scale) plus the fact
    scan itself: 3 lineitem reads.  Here the fact is narrowed by the
    broadcast part filter first, then per-part cnt and sum come from
    window functions over the partkey — ONE fact scan, one shuffle
    (per-part groups are bounded: ~30 lines/part at every sf)."""
    t = load_tables(spark, sf_dir)
    parts = (
        t["part"]
        .filter((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 20))
        .select("p_partkey")
    )
    li = t["lineitem"].join(
        parts, F.col("l_partkey") == F.col("p_partkey")
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    w = Window.partitionBy("l_partkey")
    return (
        li.withColumn("cnt", F.count(F.lit(1)).over(w))
        .withColumn(
            "sum_qty",
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).over(w),
        )
        .filter(
            F.expr(
                "CAST(l_quantity AS DECIMAL(12,2)) * 5 * cnt"
                " < CAST(sum_qty AS DECIMAL(35,2))"
            )
        )
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast(
                    "double"
                )
                / F.lit(7.0)
            ).alias("avg_yearly")
        )
    )


_Q19 = """
SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(8,6)) AS DECIMAL(19,6))) AS DECIMAL(38,6)) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)
"""


@query("q19_disjunctive_revenue", _Q19)
def q19(spark, sf_dir):
    """TPC-H Q19 shape: three-way disjunction mixing both join sides.
    Catalyst extracts the common l_quantity/p_size bounds so part of
    the filter still pushes below the join."""
    load_tables(spark, sf_dir)
    return spark.sql(_Q19)


_Q20 = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT li.l_suppkey
  FROM lineitem li
  WHERE li.l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
    AND li.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND li.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY li.l_suppkey, li.l_partkey
  HAVING SUM(CAST(li.l_quantity AS DECIMAL(12,2))) * 2 > (
    SELECT SUM(CAST(l2.l_quantity AS DECIMAL(12,2)))
    FROM lineitem l2
    WHERE l2.l_suppkey = li.l_suppkey AND l2.l_partkey = li.l_partkey)
)
ORDER BY s_suppkey
"""


@query("q20_promo_suppliers", _Q20)
def q20(spark, sf_dir):
    """TPC-H Q20 shape: nested IN subqueries where the inner grouped
    query's HAVING holds a correlated scalar aggregate ('shipped more
    than half of this (supplier, part)'s all-time volume in 1997').

    Hand-shaped: the SQL form scans lineitem twice (1997 groups + the
    correlated all-time sum).  A single conditional aggregation —
    sum(qty) filtered to 1997 alongside sum(qty) overall, same groups —
    merges the correlation into ONE fact scan."""
    t = load_tables(spark, sf_dir)
    promo = t["part"].filter(F.col("p_type") == "PROMO").select("p_partkey")
    g = (
        t["lineitem"]
        .join(promo, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(
                F.when(
                    (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
                    & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz")),
                    F.col("l_quantity").cast("decimal(12,2)"),
                )
            ).alias("qty_1997"),
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("qty_all"),
        )
        .filter(F.col("qty_1997") * 2 > F.col("qty_all"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        t["supplier"]
        .join(g, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


_Q21 = """
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 30 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 30 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


@query("q21_waiting_supplier", _Q21)
def q21(spark, sf_dir):
    """TPC-H Q21 shape: EXISTS + NOT EXISTS double correlation on the
    same fact ('the only late supplier in a multi-supplier order' —
    shipdate vs orderdate stands in for the missing receipt/commit
    dates).

    Hand-shaped: Catalyst turns the two correlations into a left-semi
    AND a left-anti join, each re-scanning lineitem (3 fact scans, 2
    orders scans).  Both correlations are per-order set properties, so
    one (order, supplier) aggregation + a window over the order
    computes 'how many suppliers / how many late suppliers in this
    order' with ONE scan of each table."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].join(
        t["orders"].filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum(
            F.when(
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 30 DAY"),
                1,
            ).otherwise(0)
        ).alias("late_lines")
    )
    w = Window.partitionBy("l_orderkey")
    flagged = (
        per_os.withColumn("n_supp", F.count(F.lit(1)).over(w))
        .withColumn(
            "n_late_supp",
            F.sum((F.col("late_lines") > 0).cast("int")).over(w),
        )
        .filter(
            (F.col("late_lines") > 0)
            & (F.col("n_supp") > 1)
            & (F.col("n_late_supp") == 1)
        )
    )
    return (
        flagged.join(
            t["supplier"],
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.sum("late_lines").cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


_Q22 = """
SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS DOUBLE) AS totacctbal
FROM (
  SELECT CAST(c_custkey % 7 AS BIGINT) AS cntrycode, c_acctbal
  FROM customer
  WHERE c_custkey % 7 IN (0, 1, 2, 3)
    AND CAST(c_acctbal AS DECIMAL(12,2)) * (
        SELECT CAST(COUNT(*) AS BIGINT) FROM customer c2
        WHERE c2.c_acctbal > 0.0 AND c2.c_custkey % 7 IN (0, 1, 2, 3)) > (
        SELECT SUM(CAST(c3.c_acctbal AS DECIMAL(12,2))) FROM customer c3
        WHERE c3.c_acctbal > 0.0 AND c3.c_custkey % 7 IN (0, 1, 2, 3))
    AND NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
) custsale
GROUP BY cntrycode
ORDER BY cntrycode
"""


@query("q22_idle_customers", _Q22)
def q22(spark, sf_dir):
    """TPC-H Q22 shape: above-average balance (exact multiplicative
    rewrite: bal*cnt > sum) + anti-join on urgent orders, grouped by a
    derived country code (custkey mod — the synthetic schema has no
    phone column)."""
    load_tables(spark, sf_dir)
    return spark.sql(_Q22)


_TOPK_PER_CUST = """
SELECT c_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT c_custkey, o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM customer JOIN orders ON c_custkey = o_custkey
) t
WHERE rn <= 3
"""


@query("window_topk_per_customer", _TOPK_PER_CUST)
def topk_per_customer(spark, sf_dir):
    """Window BEFORE join (r15, guide §2.4/§3.3): rank orders by
    o_custkey first, keep the top 3, and only then join customer —
    the join's probe side shrinks from every order to <= 3 per
    customer, and the window never carries joined columns.  Row-
    identical to the join-first shape for ANY data: c_custkey is the
    join key AND the partition key, so orders of a given customer see
    the same rn either way (orders without a customer row form their
    own partitions and vanish at the inner join in both shapes, and a
    1:1 key join cannot reorder or duplicate a partition)."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    # rank on the raw double price, as the oracle's OVER clause
    # resolves the base column; cast the survivors after ranking
    top = (
        t["orders"]
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .withColumn(
            "o_totalprice",
            F.col("o_totalprice").cast("decimal(18,2)").cast("double"),
        )
    )
    return (
        t["customer"]
        .select("c_custkey")
        .join(top, t["customer"].c_custkey == top.o_custkey)
        .select("c_custkey", "o_orderkey", "o_totalprice", "rn")
    )


_RUNNING = """
SELECT o_custkey, o_orderkey,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,2)) AS DOUBLE) AS running_spend,
       LAG(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_orderkey
FROM orders
"""


@query("window_running_total", _RUNNING)
def running_total(spark, sf_dir):
    load_tables(spark, sf_dir)
    return spark.sql(_RUNNING)


_ROLLUP = """
SELECT r_name, n_name,
       CAST(CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS total_bal,
       COUNT(*) AS n_suppliers
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


@query("agg_rollup_supplier", _ROLLUP)
def rollup_supplier(spark, sf_dir):
    load_tables(spark, sf_dir)
    return spark.sql(_ROLLUP)


_UNPIVOT = """
SELECT p_partkey, 'retailprice' AS metric, CAST(p_retailprice AS DOUBLE) AS value FROM part
UNION ALL
SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
"""


@query("unpivot_part_metrics", _UNPIVOT)
def unpivot_part_metrics(spark, sf_dir):
    """Wide-to-long melt.  Spark side uses stack() — ONE scan of the
    table producing N rows per input row via Expand (the oracle's
    UNION ALL form, which is what naive SQL gives you, scans N times)."""
    t = load_tables(spark, sf_dir)
    return t["part"].select(
        "p_partkey",
        F.expr(
            "stack(2, 'retailprice', CAST(p_retailprice AS DOUBLE),"
            " 'size', CAST(p_size AS DOUBLE))"
        ).alias("metric", "value"),
    )


_LATERAL_TOP2 = """
SELECT c_custkey, t.o_orderkey, t.o_totalprice
FROM customer, LATERAL (
  SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
  FROM orders
  WHERE o_custkey = c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2) t
"""


@query("join_lateral_top2_orders", _LATERAL_TOP2)
def lateral_top2_orders(spark, sf_dir):
    """Correlated LATERAL derived table with per-row ORDER BY ... LIMIT
    — Catalyst decorrelates it into a ranked window join (same result
    as the window_topk form, arrived at from SQL the user would
    actually write)."""
    load_tables(spark, sf_dir)
    return spark.sql(_LATERAL_TOP2)


_GROUPING_SETS = """
SELECT o_orderpriority, o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS total_price,
       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority), (o_orderstatus), ())
"""


@query("agg_grouping_sets_orders", _GROUPING_SETS)
def grouping_sets_orders(spark, sf_dir):
    """Explicit GROUPING SETS (the general form under ROLLUP/CUBE) with
    GROUPING() markers disambiguating real NULLs from subtotal rows —
    one Expand + single hash aggregate in the plan."""
    load_tables(spark, sf_dir)
    return spark.sql(_GROUPING_SETS)


_DISTINCT = """
SELECT c_mktsegment,
       COUNT(DISTINCT c_nationkey) AS n_nations,
       COUNT(*) AS n_customers
FROM customer
GROUP BY c_mktsegment
"""


@query("agg_distinct_by_segment", _DISTINCT)
def distinct_by_segment(spark, sf_dir):
    load_tables(spark, sf_dir)
    return spark.sql(_DISTINCT)


_SETOPS = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
"""


@query("set_ops_customers", _SETOPS)
def set_ops(spark, sf_dir):
    load_tables(spark, sf_dir)
    return spark.sql(_SETOPS)


_TOP20 = """
SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
"""


@query("sort_limit_top20_orders", _TOP20)
def top20(spark, sf_dir):
    load_tables(spark, sf_dir)
    return spark.sql(_TOP20)


_SEMI_ANTI = """
SELECT 'with_orders' AS segment, COUNT(*) AS n FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders)
UNION ALL
SELECT 'without_orders' AS segment, COUNT(*) AS n FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


@query("join_semi_anti_customers", _SEMI_ANTI)
def semi_anti(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    semi = t["customer"].join(
        t["orders"], t["customer"].c_custkey == t["orders"].o_custkey, "left_semi"
    )
    anti = t["customer"].join(
        t["orders"], t["customer"].c_custkey == t["orders"].o_custkey, "left_anti"
    )
    return semi.agg(
        F.lit("with_orders").alias("segment"), F.count("*").alias("n")
    ).unionAll(
        anti.agg(F.lit("without_orders").alias("segment"), F.count("*").alias("n"))
    )


