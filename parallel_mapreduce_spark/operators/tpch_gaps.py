"""TPC-H analogues beyond the core set in operators/relational.py.

The reference's Mapper/Reducer slots (``src/mapreduce.h:11-14``) can express
any one-round MapReduce; multi-join decision-support queries are the classic
capability gap (SURVEY.md §2.3 "Joins"). This module closes out the TPC-H
query shapes the synthetic schema can support. It has no partsupp table and
no commit/receipt dates, so Q2/Q11/Q21 have no faithful analogue — but their
defining SHAPES (correlated MIN, share-of-global-scalar HAVING, double-
correlated EXISTS) are covered by the *_shape queries at the end of this
module; Q9/Q12/Q22 are adapted as noted per query.

Scale posture, pinned by tests/test_plan_audit.py:
- bounded-cardinality frames (nation/region, 1-row scalar aggregates) are
  force-broadcast; part/supplier/customer and derived per-part/per-supplier
  frames GROW with the data, so their join strategy is left to Spark's size
  threshold + AQE — broadcast while they fit (they do at every test sf, so
  the local plans are identical), shuffle when they don't (a forced
  broadcast of a billion-row "dimension" is an executor OOM at 100 TB);
- correlated scalar subqueries (q17) become aggregate-then-join: the
  per-group cutoff is computed once on the grouped (parts-sized) frame,
  never re-evaluated per probe row;
- scalar subqueries (q22) become a broadcast cross-join of a 1-row
  aggregate, not a driver collect;
- semi/anti joins stay semi/anti (no exists-via-count rewrite).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parallel_mapreduce_spark.registry import query
from parallel_mapreduce_spark.sources import load_table


def _ts(lit: str):
    return F.to_timestamp(F.lit(lit))


def _rev():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# --------------------------------------------------------------------------
# Q8-style national market share: GERMANY's share of EUROPE's PROMO-part
# revenue per order year. Conditional-sum-over-sum on a 6-way join.
# --------------------------------------------------------------------------
@query(
    "q8_market_share",
    oracle="""
    WITH base AS (
      SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             sn.n_name AS supp_nation
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation cn ON cn.n_nationkey = c_nationkey
      JOIN region ON r_regionkey = cn.n_regionkey
      JOIN nation sn ON sn.n_nationkey = s_nationkey
      WHERE r_name = 'EUROPE' AND p_type = 'PROMO'
        AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    )
    SELECT o_year,
           ROUND(SUM(CASE WHEN supp_nation = 'GERMANY' THEN volume ELSE 0 END)
                 / SUM(volume), 4) AS mkt_share
    FROM base GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1995-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1997-01-01 00:00:00"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    # customer-side nation restricted to EUROPE before it ever joins the fact
    cn = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
            nation.n_regionkey == region.r_regionkey,
        )
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(cn), F.col("cn_key") == F.col("c_nationkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(sn), F.col("sn_key") == F.col("s_nationkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            volume.alias("volume"),
            "supp_nation",
        )
    )
    german = F.when(F.col("supp_nation") == "GERMANY", F.col("volume")).otherwise(0.0)
    return base.groupBy("o_year").agg(
        F.round(F.sum(german) / F.sum("volume"), 4).alias("mkt_share")
    )


# --------------------------------------------------------------------------
# Q9-style profit by nation and year, for 'red'-named parts. Adapted: the
# schema has no partsupp.ps_supplycost, so profit = discounted revenue.
# --------------------------------------------------------------------------
@query(
    "q9_nation_profit",
    oracle="""
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS INT) AS o_year,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS profit
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN orders ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
)
def q9_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("red"))
        .select("p_partkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("nation", F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(F.round(F.sum(_rev()), 4).alias("profit"))
    )


# --------------------------------------------------------------------------
# Q12-style shipping classes. Adapted: no l_shipmode / commit / receipt
# dates, so lines shipped in 1997 are classed by order->ship latency
# (>= 90 days = SLOW), counting urgent vs non-urgent order lines per class.
# --------------------------------------------------------------------------
@query(
    "q12_ship_classes",
    oracle="""
    SELECT CASE WHEN l_shipdate >= o_orderdate + INTERVAL 90 DAY
                THEN 'SLOW' ELSE 'FAST' END AS ship_class,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1
    """,
)
def q12_ship_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1998-01-01 00:00:00"))
    ).select("l_orderkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    slow = F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(F.when(slow, "SLOW").otherwise("FAST").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------------
# Q13 customer order-count distribution: LEFT OUTER join (customers with no
# qualifying orders count as 0) followed by a histogram of the counts —
# the canonical double aggregation.
# --------------------------------------------------------------------------
@query(
    "q13_order_count_distribution",
    oracle="""
    WITH c_orders AS (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    )
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM c_orders GROUP BY c_count
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    per_cust = (
        cust.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "5-LOW"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# --------------------------------------------------------------------------
# Q16-style supplier variety: distinct suppliers per (brand, type, size)
# over selected sizes, excluding one brand. Distinct-agg over a broadcast
# dimension join; the part filter prunes before the join.
# --------------------------------------------------------------------------
@query(
    "q16_supplier_variety",
    oracle="""
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
    GROUP BY 1, 2, 3
    """,
)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# --------------------------------------------------------------------------
# Q17 small-quantity revenue: lines of one brand whose quantity is below
# 20% of that part's average quantity. The correlated scalar subquery is
# decorrelated by hand: per-part cutoffs are one aggregate over the
# brand-pruned lines, then a broadcast join back — never a per-row probe.
# --------------------------------------------------------------------------
@query(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice) / 7.0, 4) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3'
      AND l_quantity < (SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = lineitem.l_partkey)
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    brand_parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#3")
        .select("p_partkey")
    )
    # Prune to the brand's parts once; the per-part average over this subset
    # equals the average over all of lineitem for those parts (the filter is
    # on part attributes only).
    brand_lines = li.join(
        brand_parts, F.col("p_partkey") == F.col("l_partkey")
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    cutoffs = brand_lines.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_cut")
    )
    return (
        brand_lines.withColumnRenamed("l_partkey", "pk")
        .join(cutoffs, F.col("pk") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"))
    )


# --------------------------------------------------------------------------
# Q20-style volume shippers: suppliers who shipped > 300 units of
# 'red'-named parts in 1997. Aggregate-with-HAVING feeding a semi join.
# --------------------------------------------------------------------------
@query(
    "q20_volume_shippers",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'red%'
        AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_suppkey
      HAVING SUM(l_quantity) > 300
    )
    """,
)
def q20_volume_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1998-01-01 00:00:00"))
    ).select("l_partkey", "l_suppkey", "l_quantity")
    red_parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("red"))
        .select("p_partkey")
    )
    heavy = (
        li.join(red_parts, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 300)
        .select("l_suppkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return supp.join(
        heavy, F.col("l_suppkey") == F.col("s_suppkey"), "left_semi"
    )


# --------------------------------------------------------------------------
# Q22-style idle customers: above-average-balance customers who never
# placed an urgent order, totalled per nation. Adapted: the schema has no
# c_phone, so the country-code grouping becomes the customer's nation, and
# the synthetic data gives nearly every customer *some* order, so "no
# orders at all" would select nothing — "no 1-URGENT order" keeps the
# anti-join shape selective. The scalar average is a broadcast cross-join
# of a 1-row aggregate; the NOT EXISTS is a true anti join.
# --------------------------------------------------------------------------
@query(
    "q22_idle_customers",
    oracle="""
    WITH pos AS (
      SELECT c_custkey, c_acctbal, c_nationkey FROM customer
      WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
    )
    SELECT n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           ROUND(SUM(c_acctbal), 4) AS totacctbal
    FROM pos JOIN nation ON n_nationkey = c_nationkey
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY 1
    """,
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_nationkey"
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(urgent, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("nation")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 4).alias("totacctbal"),
        )
    )


Q21_LATE_DAYS = 60


# --------------------------------------------------------------------------
# Q21 SHAPE (suppliers-who-kept-orders-waiting) on the available schema:
# the schema has no commit/receipt dates, so "late" is proxied by
# l_shipdate > o_orderdate + Q21_LATE_DAYS; what this query preserves is
# TPC-H Q21's defining structure — the double-correlated
# EXISTS (another supplier on the order) / NOT EXISTS (another LATE
# supplier on the order) over the same fact table.
#
# Scale rewrite: instead of two correlated per-row probes into lineitem
# (quadratic re-scans in naive engines), both EXISTS collapse into ONE
# per-order aggregate — distinct supplier count and distinct late-supplier
# count — joined back to the late rows. One extra shuffle on o_orderkey
# replaces both correlations; the oracle keeps the literal EXISTS/NOT
# EXISTS form, so the rewrite is value-checked against the textbook
# semantics.
# --------------------------------------------------------------------------
@query(
    "q21_waiting_suppliers_shape",
    headline=True,
    oracle=f"""
    WITH lo AS (
      SELECT l.l_orderkey, l.l_suppkey,
             l.l_shipdate > o.o_orderdate + INTERVAL {Q21_LATE_DAYS} DAY AS late
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM lo l1 JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE l1.late
      AND EXISTS (SELECT 1 FROM lo l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lo l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.late)
    GROUP BY s.s_name
    """,
)
def q21_waiting_suppliers_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    lo = li.join(orders, F.col("o_orderkey") == F.col("l_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.date_add(F.col("o_orderdate"), Q21_LATE_DAYS)
        ).alias("late"),
    )
    # Two-level aggregate instead of two countDistincts: a multi-distinct
    # aggregate compiles to an Expand (one input row per distinct column —
    # 2x the shuffle rows); per-(order, supplier) max(late) followed by a
    # plain per-order count/sum computes both distinct counts with no row
    # multiplication, and the second aggregate is map-side combinable.
    per_order = (
        lo.groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("late").alias("supp_late"))
        .groupBy("l_orderkey")
        .agg(
            F.count("*").alias("n_supp"),
            F.sum(F.col("supp_late").cast("long")).alias("n_late_supp"),
        )
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        lo.filter(F.col("late"))
        .join(per_order, "l_orderkey")
        # EXISTS another supplier <=> order has >= 2 distinct suppliers;
        # NOT EXISTS another late supplier <=> this row's supplier is the
        # only distinct late one.
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
        .join(sup, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


Q11_SHARE_FRACTION = 0.0002  # groups holding > 0.02% of the global value


# --------------------------------------------------------------------------
# Q11 SHAPE (important stock) without partsupp: the defining pattern is
# GROUP BY key HAVING SUM(value) > fraction * (scalar subquery over the
# WHOLE table). Here lineitem revenue per part stands in for stock value
# per part. The global scalar is a broadcast 1-row aggregate crossed into
# the HAVING filter — never a driver collect, and the grouped frame is
# computed once (Spark reuses the exchange for both the groups and the
# global total would require a second scan; instead the total aggregates
# the per-part frame, so the base table is scanned ONCE).
# --------------------------------------------------------------------------
@query(
    "q11_important_parts_share",
    oracle=f"""
    WITH per_part AS (
      SELECT l_partkey,
             SUM(l_extendedprice * (1 - l_discount)) AS value
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey, ROUND(value, 4) AS part_value
    FROM per_part
    WHERE value > {Q11_SHARE_FRACTION} * (SELECT SUM(value) FROM per_part)
    """,
)
def q11_important_parts_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(F.sum(_rev()).alias("value"))
    total = per_part.agg(F.sum("value").alias("total"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value") > Q11_SHARE_FRACTION * F.col("total"))
        .select("l_partkey", F.round("value", 4).alias("part_value"))
    )


# --------------------------------------------------------------------------
# Q2 SHAPE (minimum-cost supplier) without partsupp: the defining pattern
# is a correlated MIN subquery — pick, per part, the supplier(s) matching
# the per-part minimum — decorrelated into aggregate-then-join (the same
# strategy q17 uses for its scalar subquery): per-(part, supplier) avg
# price, per-part min of that, equality join back. Two shuffles on partkey
# instead of a correlated re-scan per probe row.
# --------------------------------------------------------------------------
@query(
    "q2_min_cost_supplier_shape",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             -- floor(x*1e4 + 0.5)/1e4: engine-portable half-up rounding
             -- (ROUND ties differ between engines on doubles)
             floor(AVG(l_extendedprice / l_quantity) * 10000 + 0.5) / 10000
               AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT ps.l_partkey, ps.l_suppkey, s.s_name, ps.unit_cost
    FROM ps
    JOIN (SELECT l_partkey, MIN(unit_cost) AS min_cost
          FROM ps GROUP BY l_partkey) m
      ON ps.l_partkey = m.l_partkey AND ps.unit_cost = m.min_cost
    JOIN supplier s ON s.s_suppkey = ps.l_suppkey
    """,
)
def q2_min_cost_supplier_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        (
            F.floor(
                F.avg(F.col("l_extendedprice") / F.col("l_quantity")) * 10000
                + 0.5
            )
            / 10000
        ).alias("unit_cost")
    )
    m = ps.groupBy("l_partkey").agg(F.min("unit_cost").alias("min_cost"))
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    a, b = ps.alias("a"), m.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.unit_cost") == F.col("b.min_cost")),
        )
        .select(F.col("a.l_partkey").alias("l_partkey"), "l_suppkey", "unit_cost")
        .join(sup, F.col("s_suppkey") == F.col("l_suppkey"))
        .select("l_partkey", "l_suppkey", "s_name", "unit_cost")
    )
