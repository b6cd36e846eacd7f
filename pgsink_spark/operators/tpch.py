"""TPC-H-derived analytics suite over the fixture tables.

The reference (lawrencejones/pgsink) ships data INTO a warehouse and
leaves analytics to it (README.md:7-27 positions pgsink as the capture
layer; pkg/sinks/bigquery/schema_builders.go:146-161 installs the
read-time compaction view those queries run on).  This module IS that
warehouse surface, Spark-first: the classic TPC-H query shapes a
consumer would run on the replicated tables, adapted to the fixture
schemas (no partsupp table; no commitdate/receiptdate/shipmode/
container columns — see FIXTURES.md §B).

Scale notes per query describe the 100 TB plan: which joins broadcast,
which shuffles are unavoidable and on what key, and where partial
aggregation bounds shuffle width.  Determinism follows SURVEY.md §2.E:
exact DECIMAL(18,4) aggregation, ROUND then CAST TO DOUBLE, total
ORDER BY on every LIMIT.  Average comparisons are expressed as
cross-multiplied exact-decimal inequalities (qty * n > sum) so neither
engine ever compares against a lossy float average.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from pgsink_spark.operators.registry import query
from pgsink_spark.operators.relational import dec, load_table, rnd


@query(
    "tpch_q04_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def tpch_q04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 adapted (no commitdate/receiptdate): orders in a quarter with
    at least one lineitem shipped >60 days after the order date,
    counted per priority.  Plan: the quarter filter is pushed into the
    orders parquet scan (min/max row-group pruning on o_orderdate);
    LEFT SEMI join shuffles both sides on orderkey once — the non-equi
    lateness predicate rides the join as a residual condition, so no
    second pass.  The final groupBy has 5 groups: partial aggregation
    collapses each partition to ≤5 rows before the exchange."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-07-01") & (F.col("o_orderdate") < "1996-10-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "tpch_q06_forecast_revenue",
    """
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def tpch_q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 verbatim: pure scan-filter-aggregate.  All three predicates
    push to the parquet scan (shipdate range prunes row groups); the
    global sum is a partial-per-partition then single-row final — the
    exchange moves one row per partition.  At 100 TB this query is
    I/O-bound by design; ReadSchema should show only the 4 columns."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        rnd(F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,4)")), 2).alias(
            "revenue"
        )
    )


@query(
    "tpch_q07_volume_shipping",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(YEAR(l_shipdate) AS INT) AS l_year,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q07_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7: bilateral trade volume between two nations by year.  Plan:
    both nation sides are pre-filtered to the 2-row nation subset
    BEFORE joining, so supplier⋈nation and customer⋈nation broadcast
    and shrink supplier/customer to ~2/25 of their rows; lineitem then
    semi-reduces through the broadcast supplier side before the one
    unavoidable fact-fact shuffle (lineitem⋈orders on orderkey).  The
    mixed-pair OR filter runs on the two small nation names after both
    broadcasts — nearly free."""
    nations = ("NATION_1", "NATION_2")
    n1 = load_table(spark, sf_dir, "nation").where(F.col("n_name").isin(*nations))
    n2 = n1.select(
        F.col("n_nationkey").alias("n2_nationkey"), F.col("n_name").alias("cust_nation")
    )
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n1), F.col("n_nationkey") == F.col("s_nationkey")
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    c = load_table(spark, sf_dir, "customer").join(
        F.broadcast(n2), F.col("n2_nationkey") == F.col("c_nationkey")
    ).select("c_custkey", "cust_nation")
    li = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey")
    )
    o = load_table(spark, sf_dir, "orders").join(c, F.col("c_custkey") == F.col("o_custkey"))
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(
            ((F.col("supp_nation") == nations[0]) & (F.col("cust_nation") == nations[1]))
            | ((F.col("supp_nation") == nations[1]) & (F.col("cust_nation") == nations[0]))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(
            rnd(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")),
                2,
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "tpch_q08_market_share",
    """
    WITH vol AS (
      SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year,
             CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS volume,
             n1.n_name AS supp_nation
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON n1.n_nationkey = s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c_nationkey
      JOIN region   ON r_regionkey = n2.n_regionkey
      WHERE r_name = 'ASIA' AND p_type = 'PROMO'
    )
    SELECT o_year,
           ROUND(CAST(ROUND(SUM(CASE WHEN supp_nation = 'NATION_3'
                                     THEN volume ELSE CAST(0 AS DECIMAL(18,4)) END), 2) AS DOUBLE)
                 / CAST(ROUND(SUM(volume), 2) AS DOUBLE), 4) AS mkt_share
    FROM vol GROUP BY o_year ORDER BY o_year
    """,
)
def tpch_q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 adapted (p_type = 'PROMO' stands in for the part-type
    literal): NATION_3's share of PROMO volume sold into ASIA, by
    order year.  Plan: part/supplier/nation/region are all dimension
    broadcasts; customer pre-shrinks through the broadcast
    nation⋈region (ASIA) join.  The only big shuffle is
    lineitem⋈orders on orderkey.  The share divides two
    exactly-rounded decimal sums as float64 so both engines hash the
    same value — one aggregation pass, CASE inside the sum."""
    asia_nations = (
        load_table(spark, sf_dir, "nation")
        .join(
            F.broadcast(load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .select(F.col("n_nationkey").alias("cn_nationkey"))
    )
    c = load_table(spark, sf_dir, "customer").join(
        F.broadcast(asia_nations), F.col("cn_nationkey") == F.col("c_nationkey")
    ).select("c_custkey")
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(load_table(spark, sf_dir, "nation")),
        F.col("n_nationkey") == F.col("s_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    p = load_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO").select("p_partkey")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
    )
    o = load_table(spark, sf_dir, "orders").join(c, F.col("c_custkey") == F.col("o_custkey"))
    vol = li.join(o, F.col("o_orderkey") == F.col("l_orderkey")).select(
        F.year("o_orderdate").cast("int").alias("o_year"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(18,4)")
        .alias("volume"),
        "supp_nation",
    )
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        vol.groupBy("o_year")
        .agg(
            F.round(
                F.round(
                    F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(zero)),
                    2,
                ).cast("double")
                / F.round(F.sum("volume"), 2).cast("double"),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "tpch_q09_product_profit",
    """
    SELECT n_name AS supp_nation, CAST(YEAR(o_orderdate) AS INT) AS o_year,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(18,4))), 2) AS DOUBLE) AS profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON n_nationkey = s_nationkey
    WHERE p_name LIKE '%blue%'
    GROUP BY supp_nation, o_year ORDER BY supp_nation, o_year DESC
    """,
)
def tpch_q09_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 adapted (no partsupp ⇒ profit is discounted revenue, not
    revenue − supplycost): per supplier-nation per year over parts
    whose name matches a token.  Plan: part is filtered by the LIKE
    before its broadcast — at 100 TB the filter runs on the small dim,
    never on lineitem; supplier⋈nation broadcasts; lineitem⋈orders is
    the one key shuffle, and the groupBy keys (25 nations × ~7 years)
    collapse map-side."""
    p = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("%blue%"))
        .select("p_partkey")
    )
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(load_table(spark, sf_dir, "nation")),
        F.col("n_nationkey") == F.col("s_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    li = (
        load_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("supp_nation", F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            rnd(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")),
                2,
            ).alias("profit")
        )
        .orderBy("supp_nation", F.col("o_year").desc())
    )


@query(
    "tpch_q10_returned_items",
    """
    SELECT c_custkey, c_name,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
           CAST(ROUND(CAST(c_acctbal AS DECIMAL(18,4)), 2) AS DOUBLE) AS acctbal,
           n_name
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON n_nationkey = c_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, acctbal, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10: top-20 customers by lost revenue from returned items in a
    quarter.  Plan: the quarter filter prunes the orders scan, the
    returnflag filter prunes lineitem; the filtered orders side is
    small enough that AQE converts the fact-fact join to broadcast at
    bench scale — at 100 TB it degrades gracefully to a shuffle on
    orderkey.  nation broadcasts onto the customer join; the final
    TakeOrderedAndProject(20) means no global sort materializes."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    c = load_table(spark, sf_dir, "customer").join(
        F.broadcast(load_table(spark, sf_dir, "nation")),
        F.col("n_nationkey") == F.col("c_nationkey"),
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", rnd(dec("c_acctbal"), 2).alias("acctbal"), "n_name")
        .agg(
            rnd(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")),
                2,
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "tpch_q13_order_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON o_custkey = c_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey)
    GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
)
def tpch_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13: histogram of orders-per-customer (excluding one priority
    class).  Plan: two aggregations — the first shuffles on custkey
    (same key as the left join, so AQE reuses the exchange), the
    second is over ≤ a few hundred distinct counts and collapses
    map-side.  The non-equi part of the join condition
    (priority <> '5-LOW') stays a join-side predicate, preserving
    LEFT semantics (customers with only 5-LOW orders count as 0)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(
            o,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("o_orderpriority") != "5-LOW"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "tpch_q14_promo_revenue",
    """
    SELECT ROUND(
             100.0 * CAST(ROUND(SUM(CASE WHEN p_type = 'PROMO'
               THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
               ELSE CAST(0 AS DECIMAL(18,4)) END), 2) AS DOUBLE)
             / CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                  AS DECIMAL(18,4))), 2) AS DOUBLE), 4)
           AS promo_revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01'
      AND l_shipdate < TIMESTAMP '1996-04-01'
    """,
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14: PROMO share of one month's revenue.  Plan: shipdate range
    prunes the lineitem scan to ~1/80 of row groups; part broadcasts
    (only p_partkey + p_type read — column pruning); single partial+
    final aggregation with the CASE folded into the sum.  Ratio of two
    exactly-rounded decimals, divided as float64 in both engines."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    zero = F.lit(0).cast("decimal(18,4)")
    return li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey")).agg(
        F.round(
            F.lit(100.0)
            * F.round(F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(zero)), 2).cast(
                "double"
            )
            / F.round(F.sum(vol), 2).cast("double"),
            4,
        ).alias("promo_revenue")
    )


@query(
    "tpch_q17_small_qty_revenue",
    """
    WITH li AS (
      SELECT l_partkey, l_quantity, l_extendedprice FROM lineitem
      JOIN part ON p_partkey = l_partkey WHERE p_brand = 'Brand#3'
    ), st AS (
      SELECT l_partkey AS pk, SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sq,
             COUNT(*) AS nq
      FROM li GROUP BY l_partkey
    )
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) / 5, 2)
                AS DOUBLE) AS avg_yearly
    FROM li JOIN st ON pk = l_partkey
    WHERE CAST(l_quantity AS DECIMAL(18,4)) * 5 * nq < sq
    """,
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 adapted: revenue impact of below-⅕-of-average-quantity
    orders for one brand.  The correlated average is a WINDOW over
    l_partkey instead of a self-join — one shuffle on partkey instead
    of two scans (the classic Q17 rewrite).  The avg comparison is
    cross-multiplied into exact decimals (qty·5·n < Σqty) so no float
    average is ever compared.  part is filtered to one brand before
    its broadcast; 100 TB plan = broadcast join + one window shuffle +
    scalar agg."""
    p = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#3")
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(p), F.col("p_partkey") == F.col("l_partkey")
    )
    w = W.partitionBy("l_partkey")
    flagged = li.select(
        dec("l_extendedprice").alias("ep"),
        (dec("l_quantity") * 5 * F.count(F.lit(1)).over(w)).alias("qty5n"),
        F.sum(dec("l_quantity")).over(w).alias("sq"),
    ).where(F.col("qty5n") < F.col("sq"))
    return flagged.agg(rnd(F.sum("ep") / 5, 2).alias("avg_yearly"))


@query(
    "tpch_q18_large_volume_customer",
    """
    SELECT c_custkey, c_name, o_orderkey,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_qty
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY c_custkey, c_name, o_orderkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 300
    ORDER BY total_qty DESC, o_orderkey LIMIT 100
    """,
)
def tpch_q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18: orders whose total quantity exceeds a threshold, with the
    buying customer.  Plan: aggregate lineitem FIRST (shuffle on
    orderkey, partial agg collapses the ~4 rows/order map-side), apply
    the HAVING before any join — at sf0.01 that keeps 46 of 15k
    orders — then join the tiny survivor set to orders and customer;
    AQE broadcasts the survivors against both.  Aggregating before
    joining is the load-bearing choice at 100 TB: the join input drops
    by ~3000×."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("sq"))
        .where(F.col("sq") > 300)
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            rnd(F.col("sq"), 2).alias("total_qty"),
        )
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
        .limit(100)
    )


@query(
    "tpch_q19_discounted_revenue",
    """
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 1 AND 15)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
           AND l_quantity BETWEEN 10 AND 25)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
           AND l_quantity BETWEEN 20 AND 35)
    """,
)
def tpch_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 adapted (no container/shipmode columns): revenue under an
    OR-of-conjuncts mixing part and lineitem predicates.  Plan: the
    part-only envelope (brand IN (..) AND size ≤ 30) and the
    lineitem-only envelope (qty BETWEEN 1 AND 35) are pre-applied as
    pushed-down scan filters — Catalyst can't extract these from the
    OR itself, so we state them explicitly; the exact OR runs as the
    residual on the broadcast-joined rows.  This is the standard
    disjunctive-join optimization: scan reduction first, exact
    predicate second."""
    p = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3") & (F.col("p_size") <= 30))
        .select("p_partkey", "p_brand", "p_size")
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_quantity").between(1, 35))
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 10) & F.col("l_quantity").between(1, 15))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 20) & F.col("l_quantity").between(10, 25))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 30) & F.col("l_quantity").between(20, 35))
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .where(cond)
        .agg(
            rnd(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")),
                2,
            ).alias("revenue")
        )
    )


@query(
    "tpch_q22_global_sales_opportunity",
    """
    WITH stats AS (
      SELECT SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS s, COUNT(*) AS n
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey, COUNT(*) AS numcust,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS totacctbal
    FROM customer, stats
    WHERE CAST(c_acctbal AS DECIMAL(18,4)) * n > s
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_nationkey ORDER BY c_nationkey
    """,
)
def tpch_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 adapted (no phone column ⇒ group by nationkey; "no orders"
    ⇒ none since 2000, since every sf0.01 customer has lifetime
    orders): wealthy-but-lapsed customers per nation.  Plan: the
    positive-balance average is a 1-row agg broadcast into the filter
    as a cross join (Catalyst's scalar-subquery shape); the
    above-average test is the cross-multiplied exact-decimal
    inequality.  The lapsed check is a LEFT ANTI join against
    date-filtered orders — the date filter pushes to the orders scan,
    shrinking the anti-join build side ~5×."""
    c = load_table(spark, sf_dir, "customer")
    stats = c.where(F.col("c_acctbal") > 0).agg(
        F.sum(dec("c_acctbal")).alias("s"), F.count(F.lit(1)).alias("n")
    )
    recent = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= "2000-01-01"
    ).select("o_custkey")
    return (
        c.crossJoin(F.broadcast(stats))
        .where(dec("c_acctbal") * F.col("n") > F.col("s"))
        .join(recent, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            rnd(F.sum(dec("c_acctbal")), 2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


@query(
    "tpch_q02_min_cost_supplier",
    """
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    eligible AS (
      SELECT p.p_partkey, s.s_name, n.n_name,
             CAST(ROUND(CAST(s.s_acctbal AS DECIMAL(18,4)), 2) AS DOUBLE)
               AS acctbal
      FROM part p
      JOIN ps ON ps.l_partkey = p.p_partkey
      JOIN supplier s ON s.s_suppkey = ps.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE p.p_size IN (5, 15, 25) AND p.p_type IN ('LARGE', 'SMALL')
        AND r.r_name = 'EUROPE')
    SELECT p_partkey, s_name, n_name, acctbal FROM (
      SELECT *, MIN(acctbal) OVER (PARTITION BY p_partkey) AS mn
      FROM eligible)
    WHERE acctbal = mn
    ORDER BY acctbal, p_partkey, s_name LIMIT 100
    """,
)
def tpch_q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 adapted (no partsupp: the distinct (l_partkey, l_suppkey)
    pairs in lineitem stand in for the supply relation; min s_acctbal
    stands in for min ps_supplycost).  Plan: part/supplier/nation/region
    are all dimension-sized → AQE broadcasts them onto the distinct
    pair scan; the min-per-part is a window over the already-joined
    (small) eligible set, not a second fact scan — one shuffle on
    l_partkey for the distinct, one on p_partkey for the window."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    p = load_table(spark, sf_dir, "part").where(
        F.col("p_size").isin(5, 15, 25) & F.col("p_type").isin("LARGE", "SMALL")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eligible = (
        ps.join(p, ps["l_partkey"] == p["p_partkey"])
        .join(s, ps["l_suppkey"] == s["s_suppkey"])
        .join(n, s["s_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .select(
            "p_partkey", "s_name", "n_name",
            rnd(dec("s_acctbal"), 2).alias("acctbal"),
        )
    )
    w = W.partitionBy("p_partkey")
    return (
        eligible.withColumn("mn", F.min("acctbal").over(w))
        .where(F.col("acctbal") == F.col("mn"))
        .select("p_partkey", "s_name", "n_name", "acctbal")
        .orderBy("acctbal", "p_partkey", "s_name")
        .limit(100)
    )


@query(
    "tpch_q11_important_stock",
    """
    WITH val AS (
      SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS v,
             COUNT(*) AS _n
      FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      WHERE n_name = 'NATION_7' GROUP BY l_partkey)
    SELECT l_partkey AS partkey, CAST(ROUND(v, 2) AS DOUBLE) AS value
    FROM val
    WHERE v * (SELECT COUNT(*) FROM val) > (SELECT SUM(v) * 2 FROM val)
    ORDER BY value DESC, partkey
    """,
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 adapted (no partsupp: per-part shipped value for one
    nation's suppliers; HAVING > 2× the average part value — the
    original's fraction-of-total threshold made scale-free by
    cross-multiplying against COUNT so both engines compare exact
    decimals, never float averages).  Plan: nation filter reaches the
    supplier scan, AQE broadcasts the surviving suppliers onto
    lineitem; one shuffle on l_partkey; the global (sum, count) scalar
    is a single-row broadcast join back onto the per-part set."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").where(
        F.col("n_name") == "NATION_7"
    )
    val = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(n, s["s_nationkey"] == n["n_nationkey"])
        .groupBy("l_partkey")
        .agg(F.sum(dec("l_extendedprice")).alias("v"))
    )
    totals = val.agg(
        F.sum("v").alias("_tot"), F.count(F.lit(1)).alias("_n")
    )
    return (
        val.crossJoin(F.broadcast(totals))
        .where(F.col("v") * F.col("_n") > F.col("_tot") * 2)
        .select(
            F.col("l_partkey").alias("partkey"),
            rnd(F.col("v"), 2).alias("value"),
        )
        .orderBy(F.col("value").desc(), "partkey")
    )


@query(
    "tpch_q12_priority_lateness",
    """
    SELECT l_returnflag AS grp,
      CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def tpch_q12_priority_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 adapted (no shipmode/commitdate: lines shipped >90 days
    after their order, grouped by returnflag, split into high/low
    priority counts).  Plan: the shipdate year filter prunes lineitem
    row groups at the scan; one shuffle joins the two facts on
    orderkey with the lateness predicate as a join residual; the CASE
    counts fold in one partial-aggregated pass (3 groups)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            o,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate")
               > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        )
        .groupBy(F.col("l_returnflag").alias("grp"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("grp")
    )


@query(
    "tpch_q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
               AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name,
           CAST(ROUND(total_rev, 2) AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15: quarterly revenue view per supplier; emit the max-revenue
    supplier(s) via an exact-decimal scalar-subquery comparison.  Plan:
    the quarter filter prunes the lineitem scan; one shuffle on
    l_suppkey builds the revenue view; the MAX scalar is a single-row
    broadcast; the supplier dimension broadcasts onto the tiny winner
    set."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(dec("l_extendedprice") * (1 - dec("l_discount"))).alias(
            "total_rev"
        )
    )
    mx = revenue.agg(F.max("total_rev").alias("_mx"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        revenue.crossJoin(F.broadcast(mx))
        .where(F.col("total_rev") == F.col("_mx"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey", "s_name", rnd(F.col("total_rev"), 2).alias("total_revenue")
        )
        .orderBy("s_suppkey")
    )


@query(
    "tpch_q16_supplier_relationship",
    """
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM ps JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def tpch_q16_supplier_relationship(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Q16 adapted (supply relation from lineitem distinct pairs;
    excluded-supplier comment filter dropped — no comment column).
    Plan: the part filters broadcast onto the pair set; COUNT(DISTINCT)
    expands to a two-phase aggregate (distinct on the grouping+supplier
    key, then count) — both phases partial-aggregate before their
    exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    )
    return (
        ps.join(F.broadcast(p), ps["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


@query(
    "tpch_q20_potential_promotion",
    """
    SELECT s_name, s_suppkey FROM supplier
    JOIN nation ON n_nationkey = s_nationkey
    WHERE n_name = 'NATION_3' AND s_suppkey IN (
      SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_type = 'PROMO'
        AND l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l_suppkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 50)
    ORDER BY s_suppkey
    """,
)
def tpch_q20_potential_promotion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Q20 adapted (no partsupp availqty: suppliers in one nation who
    shipped >50 units of PROMO parts in a year).  Plan: part filter
    broadcasts onto the date-pruned lineitem scan; one shuffle on
    l_suppkey for the HAVING aggregate; the qualifying-supplier set is
    tiny → LEFT SEMI broadcast into the nation-filtered supplier
    dimension."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    p = load_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    qualifying = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("l_suppkey")
        .agg(F.sum(dec("l_quantity")).alias("qty"))
        .where(F.col("qty") > 50)
        .select("l_suppkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").where(
        F.col("n_name") == "NATION_3"
    )
    return (
        s.join(n, s["s_nationkey"] == n["n_nationkey"])
        .join(
            qualifying, s["s_suppkey"] == qualifying["l_suppkey"], "left_semi"
        )
        .select("s_name", "s_suppkey")
        .orderBy("s_suppkey")
    )


@query(
    "tpch_q21_suppliers_kept_waiting",
    """
    SELECT s_name, COUNT(*) AS numwait FROM (
      SELECT DISTINCT s_name, l1.l_orderkey
      FROM lineitem l1
      JOIN orders ON o_orderkey = l1.l_orderkey
      JOIN supplier ON s_suppkey = l1.l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      WHERE o_orderstatus = 'F' AND n_name = 'NATION_2'
        AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
    ) t GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100
    """,
)
def tpch_q21_suppliers_kept_waiting(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Q21 adapted (lateness = shipped >60 days after order date, no
    receipt/commit dates): suppliers in one nation who were the SOLE
    late supplier on a multi-supplier finalized order.  Plan: instead
    of the classic EXISTS/NOT-EXISTS double self-join (three lineitem
    scans), compute per-order supplier facts ONCE — one shuffle on
    orderkey aggregating (distinct suppliers, distinct late suppliers,
    one late supplier id) — then join that single per-order row back to
    the late lines; same semantics, one lineitem pass less."""
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    )
    li = load_table(spark, sf_dir, "lineitem")
    lines = li.join(
        o, li["l_orderkey"] == o["o_orderkey"]
    ).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).alias("late"),
    )
    # two-level aggregation instead of two countDistinct on one key:
    # a double distinct-agg rewrites into an Expand that pushes every
    # line through the shuffle 3x. Collapsing to (order, supplier)
    # first lets the partial agg compress map-side, and the second agg
    # is plain counts over the already-distinct pairs.
    per_pair = lines.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("late").alias("supp_late")
    )
    per_order = per_pair.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum(F.col("supp_late").cast("long")).alias("n_late_supp"),
        F.max(F.when(F.col("supp_late"), F.col("l_suppkey"))).alias(
            "late_supp"
        ),
    )
    # sole late supplier on a multi-supplier order
    culprits = per_order.where(
        (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
    ).select("l_orderkey", F.col("late_supp").alias("l_suppkey"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").where(
        F.col("n_name") == "NATION_2"
    )
    return (
        culprits.join(
            F.broadcast(
                s.join(n, s["s_nationkey"] == n["n_nationkey"]).select(
                    "s_suppkey", "s_name"
                )
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )
