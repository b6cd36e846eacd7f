"""SURVEY.md §2.E relational oracle corpus, Spark-first.

Each operator is a function ``(spark, sf_dir) -> DataFrame`` written in
the DataFrame API (Catalyst optimizes: pushdown, pruning, join
selection) and registers through ``registry.query`` with the equivalent
DuckDB SQL over the same parquet fixtures. Column aliases match exactly
on both sides — the driver's compare sorts columns by name before
hashing.

Determinism rules used throughout (SURVEY.md §2.E):
- every LIMIT query carries a total ORDER BY (ties broken by a key);
- floating aggregates go through CAST(... AS DECIMAL(18,4)) so the sum
  is exact and engine-order-independent, then ROUND and a final CAST TO
  DOUBLE so both engines hash identical float64 values;
- averages are computed as exact-decimal-sum / count in both engines
  (Spark's decimal AVG and DuckDB's double AVG would otherwise round
  differently).

Reference parity notes cite /root/reference file:line per operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from pgsink_spark.operators.registry import ORACLES, QUERIES, query  # noqa: F401 — QUERIES re-exported
from pgsink_spark.sources.fixtures import load_table


def dec(c) -> Column:
    """Exact decimal image of a float column (order-independent sums)."""
    return F.col(c).cast("decimal(18,4)") if isinstance(c, str) else c.cast("decimal(18,4)")


def rnd(c: Column, scale: int = 2) -> Column:
    """Round a decimal and surface it as float64 (identical in DuckDB)."""
    return F.round(c, scale).cast("double")


# ---------------------------------------------------------------------------
# 2.A/2.B pipeline + control-plane relational operators
# ---------------------------------------------------------------------------


@query(
    "a5_keyset_scan",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 2) AS DOUBLE) AS tp
    FROM orders WHERE o_orderkey > 100
    ORDER BY o_orderkey LIMIT 100
    """,
)
def a5_keyset_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset-paginated import scan: WHERE pk > cursor ORDER BY pk LIMIT n.

    Parity: pkg/imports/import.go:209-223 (cursor batch). The pk
    predicate reaches the parquet scan as a PushedFilter; LIMIT becomes
    TakeOrderedAndProject (no global sort materialization).
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.where(F.col("o_orderkey") > 100)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            rnd(dec("o_totalprice"), 2).alias("tp"),
        )
        .orderBy("o_orderkey")
        .limit(100)
    )


@query(
    "a5b_keyset_composite",
    """
    WITH b1 AS (
      SELECT o_custkey, o_orderkey FROM orders
      ORDER BY o_custkey, o_orderkey LIMIT 200
    ), cur AS (
      SELECT o_custkey AS k1, o_orderkey AS k2 FROM b1
      ORDER BY o_custkey DESC, o_orderkey DESC LIMIT 1
    )
    SELECT o.o_custkey, o.o_orderkey, o.o_orderstatus,
           CAST(ROUND(CAST(o.o_totalprice AS DECIMAL(18,4)), 2) AS DOUBLE) AS tp
    FROM orders o, cur
    WHERE (o.o_custkey, o.o_orderkey) > (cur.k1, cur.k2)
    ORDER BY o.o_custkey, o.o_orderkey LIMIT 200
    """,
)
def a5b_keyset_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-key keyset pagination: batch 2 of a row-value cursor
    scan over the two-column key (o_custkey, o_orderkey).

    The reference REFUSES composite primary keys
    (pkg/imports/import.go:235-270 errors on >1 column); this engine
    extends the import contract with lexicographic row-value cursors
    (imports/keyset.row_value_gt) — the expanded
    ``k1 > c1 OR (k1 = c1 AND k2 > c2)`` predicate pushes to the scan,
    and the next cursor is a struct-max observed on the page's own
    execution (struct ordering IS lexicographic), so each batch costs
    one bounded read at any scale. This query runs the REAL two-batch
    driver loop: batch 1 runs once to yield the cursor, batch 2 is
    returned and hash-checked against DuckDB's native row-value
    comparison.
    """
    from pgsink_spark.imports.keyset import keyset_batch

    orders = load_table(spark, sf_dir, "orders")
    pk = ["o_custkey", "o_orderkey"]
    page1 = keyset_batch(orders, pk, limit=200)
    page1.rows.write.format("noop").mode("overwrite").save()
    cursor, _, _ = page1.observed()
    return keyset_batch(orders, pk, cursor=cursor, limit=200).rows.select(
        "o_custkey",
        "o_orderkey",
        "o_orderstatus",
        rnd(dec("o_totalprice"), 2).alias("tp"),
    )


@query(
    "a16_compaction_view",
    """
    SELECT user_id, event_type, value FROM (
      SELECT user_id, event_type,
             CAST(ROUND(CAST(value AS DECIMAL(18,4)), 2) AS DOUBLE) AS value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) t WHERE rn = 1
    ORDER BY user_id, event_type
    """,
)
def a16_compaction_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-recent-row read-time compaction (the sink's dedup view).

    Parity: pkg/sinks/bigquery/schema_builders.go:115-161 — row_number
    over (pk) ordered by timestamp desc, keep rn=1. Window partitions by
    the pk so it shuffles once on the key and scales linearly.
    """
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.select(
            "user_id",
            "event_type",
            rnd(dec("value"), 2).alias("value"),
            "ts",
            "event_id",
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", "value")
        .orderBy("user_id", "event_type")
    )


@query(
    "a3_total_order",
    """
    SELECT event_id, user_id, event_type FROM events
    ORDER BY ts DESC, event_id DESC LIMIT 20
    """,
)
def a3_total_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog total order by (lsn, sequence) ≈ (ts, event_id).

    Parity: pkg/subscription/sequence.go:24-52 — ordering contract.
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.select("event_id", "user_id", "event_type")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(20)
    )


@query(
    "a17_claim_predicate",
    """
    SELECT event_id FROM events
    WHERE props IS NOT NULL AND (value < 1 OR ts > TIMESTAMP '2024-01-01')
    ORDER BY (props IS NULL) DESC, event_id LIMIT 1
    """,
)
def a17_claim_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Import-job claim predicate shape: boolean filter + null-aware order.

    Parity: pkg/imports/worker.go:165-187 (FOR UPDATE SKIP LOCKED claim).
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.where(
            F.col("props").isNotNull()
            & (
                (F.col("value") < 1)
                | (F.col("ts") > F.expr("timestamp_ntz'2024-01-01 00:00:00'"))
            )
        )
        .orderBy(F.col("props").isNull().desc(), F.col("event_id"))
        .select("event_id")
        .limit(1)
    )


@query(
    "b5_anti_join_diff",
    """
    SELECT c_custkey FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                            WHERE o_orderstatus = 'F')
    ORDER BY c_custkey
    """,
)
def b5_anti_join_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tables.Diff / reconciliation set difference as a left-anti join
    (customers with no finalized orders — non-empty at every SF).

    Parity: pkg/changelog/table.go:17-26; pkg/subscription/manager.go:132.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    )
    return (
        customer.join(
            orders, customer.c_custkey == orders.o_custkey, "left_anti"
        )
        .select("c_custkey")
        .orderBy("c_custkey")
    )


@query(
    "b1_filter_limit",
    """
    SELECT r_regionkey, r_name FROM region WHERE r_name = 'ASIA'
    ORDER BY r_regionkey LIMIT 1
    """,
)
def b1_filter_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Find-publication lookup: equality filter + LIMIT 1.

    Parity: pkg/subscription/publication.go:68-89.
    """
    region = load_table(spark, sf_dir, "region")
    return (
        region.where(F.col("r_name") == "ASIA")
        .select("r_regionkey", "r_name")
        .orderBy("r_regionkey")
        .limit(1)
    )


@query(
    "b2_inner_join",
    """
    SELECT r_name, n_name FROM region JOIN nation ON n_regionkey = r_regionkey
    ORDER BY r_name, n_name
    """,
)
def b2_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner join (publication ⋈ publication_tables).

    Parity: pkg/subscription/publication.go:146-160. Catalyst broadcasts
    the 5-row region side automatically.
    """
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    return (
        nation.join(region, nation.n_regionkey == region.r_regionkey)
        .select("r_name", "n_name")
        .orderBy("r_name", "n_name")
    )


@query(
    "b3_left_join_inlist",
    """
    SELECT n_name, c_custkey, o_orderkey
    FROM nation JOIN customer ON c_nationkey = n_nationkey
    LEFT JOIN orders ON o_custkey = c_custkey
    WHERE n_name IN ('NATION_3','NATION_7')
    ORDER BY n_name, c_custkey, o_orderkey NULLS FIRST LIMIT 500
    """,
)
def b3_left_join_inlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join with left outer + IN-list (GET /api/tables listing).

    Parity: api/tables.go:111-147.
    """
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        nation.where(F.col("n_name").isin("NATION_3", "NATION_7"))
        .join(customer, customer.c_nationkey == nation.n_nationkey)
        .join(orders, orders.o_custkey == customer.c_custkey, "left")
        .select("n_name", "c_custkey", "o_orderkey")
        .orderBy(
            F.col("n_name").asc(),
            F.col("c_custkey").asc(),
            F.col("o_orderkey").asc_nulls_first(),
        )
        .limit(500)
    )


@query(
    "b4_latest_per_key",
    """
    SELECT o_custkey, o_orderkey FROM (
      SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) rn
      FROM orders) t WHERE rn = 1 ORDER BY o_custkey
    """,
)
def b4_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest import job per table (max-by via ranking window).

    Parity: api/tables.go:65-97, 151-175 (Go-side group + latest pick).
    """
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey")
        .orderBy("o_custkey")
    )


@query(
    "b6_semi_join",
    """
    SELECT c_custkey FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    ORDER BY c_custkey
    """,
)
def b6_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tables.Includes membership as a left-semi join.

    Parity: pkg/changelog/table.go:28-36.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(
            orders, customer.c_custkey == orders.o_custkey, "left_semi"
        )
        .select("c_custkey")
        .orderBy("c_custkey")
    )


@query(
    "b7_include_exclude",
    """
    SELECT p_partkey, p_brand FROM part
    WHERE p_brand NOT IN ('Brand#4') AND p_type LIKE '%AR%'
    ORDER BY p_partkey
    """,
)
def b7_include_exclude(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Include/exclude list filtering (publication manager).

    Parity: pkg/subscription/manager.go:148-191.
    """
    part = load_table(spark, sf_dir, "part")
    return (
        part.where(
            ~F.col("p_brand").isin("Brand#4") & F.col("p_type").like("%AR%")
        )
        .select("p_partkey", "p_brand")
        .orderBy("p_partkey")
    )


@query(
    "b8_array_agg",
    """
    SELECT n_regionkey,
           ARRAY_TO_STRING(LIST_SORT(LIST(n_name)), ',') AS names
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
)
def b8_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """array_agg of PK column names (canonical sorted array).

    Declared output is the comma-joined sorted array — a scalar the
    driver's pandas comparator can sort/hash (a raw list column crashes
    it, CORRECTNESS_r01 b8). The array form stays available as
    ``b8_array_agg_raw`` for pytest.

    Parity: pkg/imports/import.go:243-249.
    """
    return (
        b8_array_agg_raw(spark, sf_dir)
        .select(
            "n_regionkey", F.array_join("names", ",").alias("names")
        )
        .orderBy("n_regionkey")
    )


def b8_array_agg_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The true array-typed aggregation (pytest-checked)."""
    nation = load_table(spark, sf_dir, "nation")
    return (
        nation.groupBy("n_regionkey")
        .agg(F.sort_array(F.collect_list("n_name")).alias("names"))
        .orderBy("n_regionkey")
    )


@query(
    "b11_scalar_fns",
    "SELECT LEAST(CAST(3.0 AS DOUBLE), POW(2,3)) AS a, GREATEST(1,2) AS b",
)
def b11_scalar_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function surface: least/pow/greatest.

    Parity: pkg/imports/worker.go:147-161 (backoff arithmetic).
    """
    return spark.range(1).select(
        F.least(F.lit(3.0), F.pow(F.lit(2), F.lit(3))).alias("a"),
        F.greatest(F.lit(1), F.lit(2)).alias("b"),
    )


@query(
    "b12_arith_update",
    """
    SELECT event_id, CAST(ROUND(CAST(value AS DECIMAL(18,4)) + 1, 2) AS DOUBLE)
           AS value_plus
    FROM events ORDER BY event_id LIMIT 10
    """,
)
def b12_arith_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE SET x = x + n arithmetic semantics (as a projection).

    Parity: pkg/imports/importer.go:143-157 (rows_processed_total += n).
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.select(
            "event_id", rnd(dec("value") + 1, 2).alias("value_plus")
        )
        .orderBy("event_id")
        .limit(10)
    )


@query("b13_count", "SELECT COUNT(*) AS cnt FROM lineitem")
def b13_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row count (pg_class.reltuples approximation → exact count).

    Parity: api/tables.go:122.
    """
    return load_table(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("cnt")
    )


# ---------------------------------------------------------------------------
# 2.D standard analytics surface
# ---------------------------------------------------------------------------


@query(
    "d1_filter_pushdown",
    """
    SELECT l_orderkey, l_linenumber FROM lineitem
    WHERE l_quantity > 45 AND l_returnflag = 'R'
    ORDER BY l_orderkey, l_linenumber
    """,
)
def d1_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + predicates; both reach the parquet scan as
    PushedFilters + a 4-column ReadSchema (see plans/checks.py test)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where((F.col("l_quantity") > 45) & (F.col("l_returnflag") == "R"))
        .select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "d2_join_agg_topk",
    """
    SELECT o_orderkey,
           CAST(ROUND(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))), 2)
                AS DOUBLE) AS rev
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderkey ORDER BY rev DESC, o_orderkey LIMIT 20
    """,
)
def d2_join_agg_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-ish join + hash agg + top-k. The status filter is pushed
    below the join; the agg runs partial/final around one shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.where(F.col("o_orderstatus") == "O")
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey")
        .agg(
            rnd(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ),
                2,
            ).alias("rev")
        )
        .orderBy(F.col("rev").desc(), F.col("o_orderkey"))
        .limit(20)
    )


@query(
    "d2b_broadcast_join",
    """
    SELECT r_name, n_name FROM region JOIN nation ON n_regionkey = r_regionkey
    ORDER BY r_name, n_name
    """,
)
def d2b_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result as b2 with an explicit broadcast hint on the dim side
    (plan-level distinction; plans/checks.py asserts BroadcastHashJoin)."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    return (
        nation.join(
            F.broadcast(region), nation.n_regionkey == region.r_regionkey
        )
        .select("r_name", "n_name")
        .orderBy("r_name", "n_name")
    )


@query(
    "d3_outer_join_agg",
    """
    SELECT c_custkey, COUNT(o_orderkey) AS cnt
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey ORDER BY cnt DESC, c_custkey LIMIT 100
    """,
)
def d3_outer_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        li.join(orders, orders.o_custkey == li.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("c_custkey"))
        .limit(100)
    )


@query(
    "d4_range_join",
    """
    SELECT s_suppkey, c_custkey FROM supplier
    JOIN customer ON s_nationkey = c_nationkey AND s_acctbal < c_acctbal
    ORDER BY s_suppkey, c_custkey LIMIT 200
    """,
)
def d4_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range join: equi key + inequality residual — Spark keeps the
    equi part hashable and applies the range as a join residual."""
    sup = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    return (
        sup.join(
            cust,
            (sup.s_nationkey == cust.c_nationkey)
            & (sup.s_acctbal < cust.c_acctbal),
        )
        .select("s_suppkey", "c_custkey")
        .orderBy("s_suppkey", "c_custkey")
        .limit(200)
    )


@query(
    "d5_tpch_q1",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base,
           CAST(ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE)
                      / COUNT(*), 4) AS DOUBLE) AS avg_disc,
           COUNT(*) AS cnt
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
    """,
)
def d5_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary (partial+final hash agg, one shuffle on a
    2-column low-cardinality key). avg is exact-decimal-sum / count so
    both engines produce the identical float64."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            F.col("l_shipdate") <= F.expr("timestamp_ntz'1998-09-02 00:00:00'")
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            rnd(F.sum(dec("l_quantity")), 2).alias("sum_qty"),
            rnd(F.sum(dec("l_extendedprice")), 2).alias("sum_base"),
            F.round(
                F.sum(dec("l_discount")).cast("double") / F.count(F.lit(1)), 4
            )
            .cast("double")
            .alias("avg_disc"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "d6_count_distinct",
    "SELECT COUNT(DISTINCT o_custkey) AS n FROM orders",
)
def d6_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(F.countDistinct("o_custkey").alias("n"))


@query(
    "d7_rollup",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def d7_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@query(
    "d65_cube",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(ROUND(SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 2)
                               AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    ORDER BY g_status, g_priority,
             o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def d65_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation with grouping flags — d7_rollup's full-lattice
    sibling (all four grouping sets of two dimensions in one pass).
    The explicit GROUPING() flags disambiguate a rollup-NULL from a
    data-NULL, which is what makes cube output machine-consumable.

    Plan: Spark expands the lattice with one Expand node feeding a
    single hash aggregate — partial aggregation applies per set, so
    the cost is one scan + one keyed shuffle of |sets| × |groups|
    partial rows, not |sets| scans. Exact decimal sums keep the
    float64 output engine-order-independent.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderstatus",
            "o_orderpriority",
            rnd(dec("o_totalprice"), 2).cast("decimal(18,4)").alias("tp"),
        )
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("long").alias("g_status"),
            F.grouping("o_orderpriority").cast("long").alias("g_priority"),
            F.count(F.lit(1)).cast("long").alias("cnt"),
            rnd(F.sum("tp"), 2).alias("total"),
        )
        .select(
            "o_orderstatus", "o_orderpriority",
            "g_status", "g_priority", "cnt", "total",
        )
        .orderBy(
            "g_status",
            "g_priority",
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@query(
    "d66_ntile",
    """
    SELECT o_orderpriority, quartile,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(ROUND(SUM(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 2)
                               AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
    FROM (
      SELECT o_orderpriority, o_totalprice,
             NTILE(4) OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS quartile
      FROM orders) t
    GROUP BY o_orderpriority, quartile
    ORDER BY o_orderpriority, quartile
    """,
)
def d66_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE bucketing — equal-count quartiles of order value within
    each priority class, rolled up to per-bucket count/total (the
    spend-quartile segmentation shape). The window's ORDER BY carries
    the key as tiebreaker so bucket assignment is a total order —
    without it NTILE is nondeterministic on ties and un-oracle-able.

    Plan: one keyed window (shuffle on o_orderpriority, sort within
    partition) + one partial-aggregated rollup; nothing global.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return (
        orders.select(
            "o_orderpriority",
            rnd(dec("o_totalprice"), 2).cast("decimal(18,4)").alias("tp"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .groupBy("o_orderpriority", "quartile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            rnd(F.sum("tp"), 2).alias("total"),
        )
        .orderBy("o_orderpriority", "quartile")
    )


@query(
    "d67_approx_quantile_bound",
    """
    SELECT CAST(count(*) AS BIGINT) AS n, TRUE AS bound_ok FROM orders
    """,
)
def d67_approx_quantile_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Falsifiable gate for the quantile SKETCH (approx_percentile,
    Greenwald–Khanna): the sketch's published guarantee is a RANK
    error ≤ accuracy⁻¹·N, so the gate computes the true rank of the
    approximate median and checks it sits within 4·N/accuracy of N/2
    (2× the bound on each side — a broken sketch merge lands far
    outside, an intact one never leaves it). Same pattern as the d35
    HLL bound gate: the oracle states the expected TRUE, so a sketch
    regression flips the value hash red instead of hiding behind
    "approximate".

    Scale: the sketch is one pass + mergeable partials (that is its
    point at 100 TB, where exact percentile needs a global sort); the
    rank check is one more filtered count.
    """
    accuracy = 1000
    orders = load_table(spark, sf_dir, "orders")
    approx = orders.agg(
        F.expr(
            f"approx_percentile(o_totalprice, 0.5, {accuracy})"
        ).alias("ap")
    ).collect()[0]["ap"]
    row = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("o_totalprice") <= F.lit(approx)).cast("long")).alias(
            "rank"
        ),
    ).collect()[0]
    n, rank = row["n"], row["rank"]
    ok = abs(rank - n / 2) <= 4.0 * n / accuracy
    return spark.createDataFrame([(n, bool(ok))], "n long, bound_ok boolean")


@query(
    "d68_freq_items_guarantee",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_heavy, TRUE AS all_found
    FROM (
      SELECT o_custkey FROM orders GROUP BY o_custkey
      HAVING count(*) > 0.001 * (SELECT count(*) FROM orders)
    )
    """,
)
def d68_freq_items_guarantee(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Falsifiable gate for the heavy-hitter sketch
    (DataFrame.freqItems — the Karp/Misra–Gries one-pass summary): its
    guarantee is NO FALSE NEGATIVES for items with frequency above the
    support threshold, so the gate computes the exact heavy-hitter set
    and checks it is a SUBSET of the sketch output (false positives
    are allowed and ignored). The oracle pins the exact heavy count
    and TRUE; losing a true heavy hitter — the failure mode a broken
    partial-merge produces — flips the hash red.

    Scale: the sketch is one pass with O(1/support) state per
    partition; the exact side is one keyed count used only as the
    gate's witness.
    """
    support = 0.001
    orders = load_table(spark, sf_dir, "orders")
    total = orders.count()
    heavy = [
        r["o_custkey"]
        for r in orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > support * total)
        .collect()
    ]
    sketch = set(
        orders.freqItems(["o_custkey"], support).collect()[0][
            "o_custkey_freqItems"
        ]
    )
    ok = all(k in sketch for k in heavy)
    return spark.createDataFrame(
        [(len(heavy), bool(ok))], "n_heavy long, all_found boolean"
    )


@query(
    "d8_rank_topk",
    """
    SELECT o_custkey, o_orderkey, rnk FROM (
      SELECT o_custkey, o_orderkey,
             RANK() OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC, o_orderkey) rnk
      FROM orders) t WHERE rnk <= 2 ORDER BY o_custkey, rnk, o_orderkey
    """,
)
def d8_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rnk", F.rank().over(w))
        .where(F.col("rnk") <= 2)
        .select("o_custkey", "o_orderkey", "rnk")
        .orderBy("o_custkey", "rnk", "o_orderkey")
    )


@query(
    "d9_lag_lead",
    """
    SELECT event_id, user_id,
           LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
    FROM events ORDER BY user_id, ts, event_id LIMIT 200
    """,
)
def d9_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.withColumn("prev", F.lag("event_type").over(w))
        .select("event_id", "user_id", "prev")
        .orderBy("user_id", "ts", "event_id")
        .limit(200)
    )


@query(
    "d10_running_sum",
    """
    SELECT o_orderkey,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                      OVER (ORDER BY o_orderkey
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                AS DOUBLE) AS run
    FROM orders ORDER BY o_orderkey LIMIT 100
    """,
)
def d10_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-spec running sum — SPEC-ONLY: an unpartitioned running
    window is a single-task operator by definition; kept to the SURVEY
    §2.E oracle shape. The scale-correct twin is
    ``d43_keyed_running_sum`` (per-key windows, fully parallel)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        W.orderBy("o_orderkey").rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        orders.select(
            "o_orderkey",
            rnd(F.sum(dec("o_totalprice")).over(w), 2).alias("run"),
        )
        .orderBy("o_orderkey")
        .limit(100)
    )


@query(
    "d11_topk_order",
    """
    SELECT l_orderkey, l_linenumber FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10
    """,
)
def d11_topk_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.orderBy(
            F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber"
        )
        .select("l_orderkey", "l_linenumber")
        .limit(10)
    )


@query(
    "d12_intersect",
    """
    SELECT k FROM ((SELECT c_nationkey AS k FROM customer)
                   INTERSECT (SELECT s_nationkey FROM supplier)) t
    ORDER BY k
    """,
)
def d12_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("k")
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("k")
    )
    return cust.intersect(sup).orderBy("k")


@query(
    "d13_string_fns",
    """
    SELECT p_partkey, UPPER(SUBSTR(p_name, 1, 5)) AS s,
           REGEXP_EXTRACT(p_type, '([A-Z]+)$', 1) AS t
    FROM part ORDER BY p_partkey LIMIT 100
    """,
)
def d13_string_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.select(
            "p_partkey",
            F.upper(F.substring("p_name", 1, 5)).alias("s"),
            F.regexp_extract("p_type", r"([A-Z]+)$", 1).alias("t"),
        )
        .orderBy("p_partkey")
        .limit(100)
    )


@query(
    "d14_date_trunc",
    """
    SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS m, COUNT(*) AS cnt
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def d14_date_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("m")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("m")
    )


@query(
    "d15_array_fns",
    """
    SELECT vec_id, LEN(embedding) AS n,
           CAST(CAST(embedding[1] AS DECIMAL(18,4)) AS DOUBLE) AS e0
    FROM embeddings ORDER BY vec_id LIMIT 50
    """,
)
def d15_array_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "vec_id",
            F.size("embedding").alias("n"),
            F.col("embedding")[0].cast("decimal(18,4)").cast("double").alias("e0"),
        )
        .orderBy("vec_id")
        .limit(50)
    )


@query(
    "d16_json_fns",
    """
    SELECT event_id, json_extract_string(props, '$.k') AS v
    FROM events ORDER BY event_id LIMIT 50
    """,
)
def d16_json_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.select(
            "event_id", F.get_json_object("props", "$.k").alias("v")
        )
        .orderBy("event_id")
        .limit(50)
    )


@query(
    "d17_tumbling_window",
    """
    SELECT DATE_TRUNC('hour', ts) AS w, event_type, COUNT(*) AS cnt,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def d17_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling window aggregation (batch-equivalent of the streaming
    window; streaming variant in streaming/windows.py uses window())."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            rnd(F.sum(dec("value")), 2).alias("sum_value"),
        )
        .orderBy("w", "event_type")
    )


@query(
    "d18_distinct_dedup",
    "SELECT COUNT(*) AS cnt FROM (SELECT DISTINCT event_id FROM events) t",
)
def d18_distinct_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.select("event_id")
        .dropDuplicates(["event_id"])
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "d19_udf_parity",
    "SELECT doc_id, LENGTH(text) AS n FROM documents ORDER BY doc_id LIMIT 100",
)
def d19_udf_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched pandas UDF surface, checked against the built-in
    LENGTH (the UDF is the demonstration; the contract is parity)."""
    from pgsink_spark.functions.udfs import str_len

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", str_len("text").alias("n"))
        .orderBy("doc_id")
        .limit(100)
    )


@query(
    "d21_text_group",
    """
    SELECT lang, COUNT(*) AS cnt, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def d21_text_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("n_chars").alias("sum_chars")
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Extended operator surface: as-of join, sessionization, distribution stats
# ---------------------------------------------------------------------------


@query(
    "d22_asof_join",
    """
    SELECT p.event_id, p.user_id,
           COALESCE(c.ts, TIMESTAMP '1970-01-01') AS asof_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    ORDER BY p.event_id
    """,
)
def d22_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the user's most recent click ≤ ts.

    Spark has no ASOF JOIN; the scalable formulation is union + running
    max — tag both streams, sort within user, and carry the greatest
    click-ts seen so far onto each purchase row. ONE shuffle on user_id,
    no range self-join blowup (a BNLJ here is quadratic per user; this
    is linear) — the pattern SURVEY §2.D prescribes. DuckDB's native
    ASOF LEFT JOIN is the oracle. Ordering puts clicks before purchases
    at equal ts, matching ASOF's inclusive (>=) bound; running MAX is
    tie-insensitive where multiple clicks share a timestamp.
    """
    events = load_table(spark, sf_dir, "events")
    both = events.where(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts"), (F.col("event_type") == "purchase").cast("int"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        both.withColumn("asof_click_ts", F.max("click_ts").over(w))
        .where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            # no-prior-click → epoch sentinel (keeps output NULL-free for
            # deterministic row hashing)
            F.coalesce(
                "asof_click_ts", F.lit("1970-01-01").cast("timestamp_ntz")
            ).alias("asof_click_ts"),
        )
        .orderBy("event_id")
    )


@query(
    "d23_session_gap",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, event_id,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_no
      FROM flagged
    )
    SELECT user_id, session_no, MIN(ts) AS session_start,
           MAX(ts) AS session_end, COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, session_no
    ORDER BY user_id, session_no
    """,
)
def d23_session_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity), batch shape.

    The batch-equivalent of streaming ``session_window`` (SURVEY §2.F):
    lag + cumulative-sum session ids, then per-session bounds. Two
    window passes over the same (user_id)-partitioned sort — Catalyst
    reuses the one shuffle+sort for both windows and the groupBy keys
    are a superset, so data shuffles once (plus the presentation-order
    range exchange, audited in tests/test_plans.py).
    """
    events = load_table(spark, sf_dir, "events")
    micros = F.expr("unix_micros(cast(ts as timestamp))")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.select("user_id", "ts", "event_id").withColumn(
        "is_new",
        F.when(
            (micros - F.lag(micros).over(w) > 1_800_000_000)
            | F.lag("ts").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_no",
        F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return (
        sessions.groupBy("user_id", "session_no")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id", "session_no")
    )


@query(
    "d24_percentiles",
    """
    SELECT l_returnflag,
           CAST(ROUND(CAST(MEDIAN(l_quantity) AS DECIMAL(18,4)), 2) AS DOUBLE)
             AS med_qty,
           CAST(ROUND(CAST(PERCENTILE_DISC(0.9) WITHIN GROUP (ORDER BY l_quantity)
             AS DECIMAL(18,4)), 2) AS DOUBLE) AS p90_qty,
           CAST(ROUND(CAST(STDDEV_SAMP(l_quantity) AS DECIMAL(18,4)), 2) AS DOUBLE)
             AS sd_qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def d24_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution stats: median / discrete p90 / sample stddev.

    Exact percentiles sort within each group post-shuffle (Spark's
    ``median``/``percentile``); at 100 TB swap to approx_percentile —
    same query shape, bounded memory. stddev stays a streaming partial
    aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            rnd(F.expr("median(l_quantity)").cast("decimal(18,4)"), 2).alias(
                "med_qty"
            ),
            rnd(
                F.expr("percentile(l_quantity, 0.9, 1)").cast("decimal(18,4)"),
                2,
            ).alias("p90_qty"),
            rnd(F.stddev_samp("l_quantity").cast("decimal(18,4)"), 2).alias(
                "sd_qty"
            ),
        )
        .orderBy("l_returnflag")
    )


@query(
    "d25_set_ops",
    """
    SELECT 'both' AS src, k FROM (
      (SELECT c_nationkey AS k FROM customer)
      INTERSECT
      (SELECT s_nationkey FROM supplier)) t1
    UNION ALL
    SELECT 'cust_only' AS src, k FROM (
      (SELECT DISTINCT c_nationkey AS k FROM customer)
      EXCEPT
      (SELECT s_nationkey FROM supplier)) t2
    ORDER BY src, k
    """,
)
def d25_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operator family in one query: INTERSECT, EXCEPT, UNION ALL.

    Catalyst rewrites intersect/except to semi/anti joins — at scale
    these hash-shuffle on the key like any join; the unionByName is a
    metadata-only concatenation.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("k")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("k")
    )
    both = cust.intersect(supp).select(F.lit("both").alias("src"), "k")
    cust_only = (
        cust.distinct()
        .exceptAll(supp.distinct())
        .select(F.lit("cust_only").alias("src"), "k")
    )
    return both.unionByName(cust_only).orderBy("src", "k")


@query(
    "d26_cube",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
           GROUPING(l_returnflag) AS g1, GROUPING(l_linestatus) AS g2
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY g1, g2, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def d26_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with GROUPING() markers (disambiguates real NULL keys).

    Spark expands cube into a union of grouping sets over ONE partial
    aggregation pass — no per-grouping rescans.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.grouping("l_returnflag").alias("g1"),
            F.grouping("l_linestatus").alias("g2"),
        )
        .orderBy(
            "g1",
            "g2",
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@query(
    "d27_date_arithmetic",
    """
    SELECT o_orderkey,
           DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '1998-12-31')
             AS days_to_eoy,
           CAST(ROUND(CAST(12 * (1998 - EXTRACT(YEAR FROM o_orderdate))
                           + (12 - EXTRACT(MONTH FROM o_orderdate))
                           + (31 - EXTRACT(DAY FROM o_orderdate)) / 31.0
                      AS DECIMAL(18,4)), 4) AS DOUBLE) AS months_approx,
           EXTRACT(QUARTER FROM o_orderdate) AS qtr
    FROM orders ORDER BY o_orderkey LIMIT 200
    """,
)
def d27_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic: datediff / months_between / quarter extraction.

    months_between differs subtly across engines (day-31 snapping), so
    the declared semantics is the explicit year*12+month+day/31 formula,
    evaluated identically in both.
    """
    orders = load_table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    months = (
        12 * (F.lit(1998) - F.year(d))
        + (F.lit(12) - F.month(d))
        + (F.lit(31) - F.dayofmonth(d)) / F.lit(31.0)
    )
    return (
        orders.select(
            "o_orderkey",
            F.datediff(F.lit("1998-12-31").cast("date"), d).alias("days_to_eoy"),
            rnd(months.cast("decimal(18,4)"), 4).alias("months_approx"),
            F.quarter(d).alias("qtr"),
        )
        .orderBy("o_orderkey")
        .limit(200)
    )


@query(
    "d28_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS cnt,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS sum_qty,
           GROUPING(l_returnflag) AS g1, GROUPING(l_linestatus) AS g2
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ORDER BY g1, g2, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def d28_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither rollup nor cube) with GROUPING()
    markers. Spark expands the sets over a single partial-aggregation
    pass (Expand operator), so the fact table is scanned once no matter
    how many sets are declared."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS cnt,
               CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE)
                 AS sum_qty,
               GROUPING(l_returnflag) AS g1, GROUPING(l_linestatus) AS g2
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY g1, g2, l_returnflag ASC NULLS FIRST,
                 l_linestatus ASC NULLS FIRST
        """
    )


@query(
    "d29_window_frames",
    """
    SELECT o_custkey, o_orderkey,
           NTILE(4) OVER w AS quartile,
           FIRST_VALUE(o_orderkey) OVER w AS first_ok,
           LAST_VALUE(o_orderkey) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS last_ok,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN 1 PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
             AS pair_sum
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderdate, o_orderkey LIMIT 500
    """,
)
def d29_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window frames: ntile, first/last value, bounded ROWS
    frame. One shuffle on the partition key serves all four functions
    (same window spec ⇒ one Window physical operator)."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    w_pair = w.rowsBetween(-1, W.currentRow)
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.ntile(4).over(w).alias("quartile"),
            F.first("o_orderkey").over(w).alias("first_ok"),
            F.last("o_orderkey").over(w_full).alias("last_ok"),
            rnd(F.sum(dec("o_totalprice")).over(w_pair), 2).alias("pair_sum"),
            "o_orderdate",
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
        .limit(500)
        .drop("o_orderdate")
    )


@query(
    "d30_tpch_q3",
    """
    SELECT o_orderkey,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
           CAST(o_orderdate AS DATE) AS odate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey LIMIT 10
    """,
)
def d30_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shipping-priority (adapted to fixture columns): selective
    dim filter -> fact join -> aggregate -> top-k.

    Scale shape: the c_mktsegment filter prunes customers before the
    join (Catalyst pushes it below), orders joins lineitem on the
    already-partitioned orderkey, and the final top-10 is
    TakeOrderedAndProject — no global sort."""
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.expr("timestamp_ntz'1995-03-15 00:00:00'")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.expr("timestamp_ntz'1995-03-15 00:00:00'")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            rnd(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(18,4)")
                ),
                2,
            ).alias("revenue")
        )
        .select(
            "o_orderkey",
            "revenue",
            F.to_date("o_orderdate").alias("odate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


@query(
    "d31_tpch_q5",
    """
    SELECT n_name,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name ORDER BY revenue DESC, n_name
    """,
)
def d31_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 local-supplier-volume: 6-way join.

    Join order is fact-fact first: lineitem ⋈ filtered-orders on
    orderkey (the date predicate shrinks orders ~6× before the shuffle),
    then customer on custkey, then supplier / nation / region. Only the
    truly-fixed-size dims (nation, region) carry explicit broadcast
    hints; customer and supplier are left to AQE, which broadcasts them
    when their runtime size permits (it does at test SF) and falls back
    to a shuffle join at 100 TB where they are fact-sized — the same
    code is the right plan at both scales."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.expr("timestamp_ntz'1996-01-01 00:00:00'"))
        & (F.col("o_orderdate") < F.expr("timestamp_ntz'1997-01-01 00:00:00'"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, cust.c_custkey == orders.o_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("n_name")
        .agg(
            rnd(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(18,4)")
                ),
                2,
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@query(
    "d32_pivot",
    """
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click') AS click,
           COUNT(*) FILTER (WHERE event_type = 'error') AS error,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
           COUNT(*) FILTER (WHERE event_type = 'view') AS view
    FROM events GROUP BY user_id ORDER BY user_id LIMIT 300
    """,
)
def d32_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide) on a declared value list. Passing the value
    list to ``pivot()`` skips the extra distinct-values job; the pivot
    itself is a single hash aggregation on user_id — counts per type are
    just conditional aggregates, no extra shuffle."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .orderBy("user_id")
        .limit(300)
    )


@query(
    "d33_string_agg",
    """
    SELECT n_regionkey,
           STRING_AGG(n_name, ',' ORDER BY n_name) AS names,
           COUNT(*) AS n
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
)
def d33_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg): collect_list -> sort_array
    -> array_join gives a deterministic concatenation regardless of
    partition arrival order (collect_list alone is order-unstable under
    parallelism — sorting inside the row restores determinism)."""
    nat = load_table(spark, sf_dir, "nation")
    return (
        nat.groupBy("n_regionkey")
        .agg(
            F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias(
                "names"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("n_regionkey")
    )


@query(
    "d34_exists_combo",
    """
    SELECT c_custkey FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    ORDER BY c_custkey
    """,
)
def d34_exists_combo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS + NOT EXISTS in one query: semi-join then
    anti-join on the same key — both hash-shuffle on c_custkey once
    each; Catalyst plans them back to back without re-scanning
    customer."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    open_orders = orders.where(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey")
    )
    full_orders = orders.where(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return (
        cust.join(open_orders, "c_custkey", "left_semi")
        .join(full_orders, "c_custkey", "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


@query(
    "d35_approx_distinct",
    """
    SELECT COUNT(DISTINCT o_custkey) AS exact_cust, TRUE AS within_bound
    FROM orders
    """,
)
def d35_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct count, gated against its own
    published error bound: the sketch estimate is engine-specific, but
    |approx − exact| / exact ≤ 5·rsd is a deterministic boolean the
    DuckDB oracle predicts as TRUE (exact side reproduced in SQL) —
    so a broken sketch merge goes red instead of rows-only. At 100 TB
    the sketch replaces exact COUNT(DISTINCT): constant memory per
    group, partial merge instead of a key shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        F.count_distinct(F.col("o_custkey")).alias("exact_cust"),
        (
            F.abs(
                F.approx_count_distinct("o_custkey", rsd=0.01)
                - F.count_distinct(F.col("o_custkey"))
            )
            / F.count_distinct(F.col("o_custkey"))
            <= 0.05
        ).alias("within_bound"),
    )


@query(
    "d36_sliding_window",
    """
    WITH w AS (
      SELECT time_bucket(INTERVAL 30 MINUTE, ts)
               - k * INTERVAL 30 MINUTE AS win_start,
             event_type, value
      FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) ks
    )
    SELECT win_start, event_type, COUNT(*) AS cnt,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS sum_value
    FROM w GROUP BY win_start, event_type
    ORDER BY win_start, event_type
    """,
)
def d36_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) window: 1-hour windows every 30 minutes — each
    event lands in exactly 2 windows. Spark's window() generates the
    window struct row-locally (an Expand of factor size/slide) and then
    it's one hash aggregation; identical semantics stream with a
    watermark via readStream + the same expression (§2.F)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            rnd(F.sum(dec("value")), 2).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
        .orderBy("win_start", "event_type")
    )


@query(
    "d37_json_struct_map",
    """
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_typed,
           ARRAY_TO_STRING(LIST_SORT(json_keys(props)), ',') AS ks,
           CAST(len(json_keys(props)) AS INT) AS n_keys
    FROM events WHERE props IS NOT NULL
    ORDER BY event_id LIMIT 200
    """,
)
def d37_json_struct_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON decode: from_json into a typed struct (schema-on-read
    with Catalyst-visible field types) and into a map for key
    introspection. Both parse per-row JVM-side; at scale prefer the
    struct form — fixed schema means column pruning reaches inside the
    parsed value (JsonTuple/GetStructField, no generic map lookups)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.where(F.col("props").isNotNull())
        .select(
            "event_id",
            F.from_json("props", "struct<k: bigint>").getField("k").alias(
                "k_typed"
            ),
            # joined-string canonical form: the driver's pandas
            # comparator cannot hash a raw list column
            F.array_join(
                F.sort_array(
                    F.map_keys(F.from_json("props", "map<string, bigint>"))
                ),
                ",",
            ).alias("ks"),
            F.size(F.map_keys(F.from_json("props", "map<string, bigint>")))
            .cast("int")
            .alias("n_keys"),
        )
        .orderBy("event_id")
        .limit(200)
    )


@query(
    "d38_lateral_explode",
    """
    SELECT vec_id, CAST(i - 1 AS INT) AS pos,
           CAST(ROUND(CAST(embedding[i] AS DECIMAL(18,4)), 4) AS DOUBLE)
             AS val
    FROM embeddings, (SELECT unnest(range(1, 5)) AS i) idx
    WHERE vec_id < 5 AND i <= len(embedding)
    ORDER BY vec_id, pos
    """,
)
def d38_lateral_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral array explode with position (UDTF-style generator):
    posexplode flattens (row, array) -> (row, pos, val) as a narrow
    Generate operator — no shuffle; the pos<=3 predicate is applied
    before the generate via slice, so only 4 elements per row are ever
    produced."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.where(F.col("vec_id") < 5)
        .select(
            "vec_id",
            F.posexplode(F.slice(F.col("embedding").cast("array<double>"), 1, 4)).alias(
                "pos", "v"
            ),
        )
        .select(
            "vec_id",
            F.col("pos").cast("int").alias("pos"),
            rnd(F.col("v").cast("decimal(18,4)"), 4).alias("val"),
        )
        .orderBy("vec_id", "pos")
    )


@query(
    "d39_scalar_subquery",
    """
    SELECT o_orderkey,
           CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 2) AS DOUBLE) AS tp
    FROM orders
    WHERE o_totalprice > (SELECT AVG(o_totalprice) * 1.8 FROM orders)
    ORDER BY o_orderkey
    """,
)
def d39_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery as a filter bound: Catalyst executes
    the subquery once (ReusedSubquery/scalar-subquery node), broadcasts
    the single value into the main scan's filter — two passes over
    orders, no join shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_sq")
    return spark.sql(
        """
        SELECT o_orderkey,
               CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 2) AS DOUBLE)
                 AS tp
        FROM orders_sq
        WHERE o_totalprice > (SELECT AVG(o_totalprice) * 1.8 FROM orders_sq)
        ORDER BY o_orderkey
        """
    )


@query(
    "d40_conditional_agg",
    """
    SELECT l_returnflag,
           COUNT(*) FILTER (WHERE l_quantity > 25) AS n_big,
           COUNT(*) FILTER (WHERE l_discount = 0) AS n_nodisc,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
                        FILTER (WHERE l_linestatus = 'F'), 2) AS DOUBLE)
             AS rev_f,
           CAST(COUNT(*) FILTER (WHERE l_quantity > 25) AS DOUBLE)
             / COUNT(*) AS frac_big
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def d40_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (FILTER clauses / count_if): all four
    aggregates ride one partial+final hash aggregation — predicates are
    evaluated map-side, so no second scan and no extra shuffle per
    condition."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count_if(F.col("l_quantity") > 25).alias("n_big"),
            F.count_if(F.col("l_discount") == 0).alias("n_nodisc"),
            rnd(
                F.sum(
                    F.when(F.col("l_linestatus") == "F", dec("l_extendedprice"))
                ),
                2,
            ).alias("rev_f"),
            (
                F.count_if(F.col("l_quantity") > 25).cast("double")
                / F.count(F.lit(1))
            ).alias("frac_big"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "d41_regex_translate",
    """
    SELECT p_partkey,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS consonants,
           translate(p_brand, '#', '-') AS brand_t,
           CAST(len(regexp_extract_all(p_type, '[A-Z]+')) AS INT) AS n_upper_runs,
           CASE WHEN regexp_matches(p_type, '^(ECONOMY|STANDARD)')
                THEN 1 ELSE 0 END AS is_cheap
    FROM part ORDER BY p_partkey LIMIT 200
    """,
)
def d41_regex_translate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex family: replace / translate / extract-all count / anchored
    match. All JVM-side codegen'd string expressions (commons-regex);
    no UDFs."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.select(
            "p_partkey",
            F.regexp_replace("p_name", "[aeiou]", "_").alias("consonants"),
            F.translate(F.col("p_brand"), "#", "-").alias("brand_t"),
            F.size(F.expr("regexp_extract_all(p_type, '[A-Z]+', 0)"))
            .cast("int")
            .alias("n_upper_runs"),
            F.when(
                F.col("p_type").rlike("^(ECONOMY|STANDARD)"), 1
            )
            .otherwise(0)
            .alias("is_cheap"),
        )
        .orderBy("p_partkey")
        .limit(200)
    )


@query(
    "d42_range_frame",
    """
    SELECT event_id, user_id,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))) OVER (
             PARTITION BY user_id ORDER BY epoch(ts)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
             AS hour_sum,
           COUNT(*) OVER (
             PARTITION BY user_id ORDER BY epoch(ts)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS hour_cnt
    FROM events ORDER BY user_id, epoch(ts), event_id LIMIT 500
    """,
)
def d42_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based RANGE frame (trailing 1 hour per user): the frame
    bound is data (seconds), not row offsets — the window shuffles once
    on user_id and slides a value range within each sorted partition.
    This is the batch dual of a sliding stream aggregation keyed by
    user."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, W.currentRow)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            rnd(F.sum(dec("value")).over(w), 2).alias("hour_sum"),
            F.count(F.lit(1)).over(w).alias("hour_cnt"),
            F.unix_timestamp("ts").alias("_ts"),
        )
        .orderBy("user_id", "_ts", "event_id")
        .limit(500)
        .drop("_ts")
    )


@query(
    "d43_keyed_running_sum",
    """
    SELECT o_custkey, o_orderkey,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                      OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                      2) AS DOUBLE) AS run
    FROM orders ORDER BY o_custkey, o_orderkey LIMIT 500
    """,
)
def d43_keyed_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed cumulative sum — the scale-correct twin of the spec-only
    d10: PARTITION BY spreads the running window across executors (one
    shuffle on o_custkey, every partition sorts/folds independently);
    the global variant is a single task no matter the cluster size."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            rnd(F.sum(dec("o_totalprice")).over(w), 2).alias("run"),
        )
        .orderBy("o_custkey", "o_orderkey")
        .limit(500)
    )


@query(
    "d45_resample_locf",
    """
    WITH daily AS (
      SELECT user_id, date_trunc('day', ts) AS day_ts,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
               / COUNT(*) AS a
      FROM events GROUP BY user_id, date_trunc('day', ts)
    ), span AS (
      SELECT user_id, min(day_ts) AS t0, max(day_ts) AS t1
      FROM daily GROUP BY user_id
    ), grid AS (
      SELECT user_id,
             unnest(generate_series(t0, t1, INTERVAL 1 DAY)) AS day_ts
      FROM span
    ), j AS (
      SELECT g.user_id, g.day_ts, d.n, d.a
      FROM grid g LEFT JOIN daily d
        ON g.user_id = d.user_id AND g.day_ts = d.day_ts
    )
    SELECT user_id, CAST(day_ts AS DATE) AS day,
           CAST(COALESCE(n, 0) AS BIGINT) AS n_events,
           a AS avg_value,
           LAST_VALUE(a IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY day_ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value
    FROM j ORDER BY user_id, day
    """,
)
def d45_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap fill: per-user daily grid between the
    user's first and last active day, daily mean value, and
    last-observation-carried-forward on empty days — the
    regularization step feature pipelines run before sequence models.

    Plan shape (round-4 rewrite): the daily rollup is one partial+final
    hash agg; each observation then OWNS the gap segment up to the next
    observation (``lead`` over the user partition) and explodes it
    row-locally — segment days inherit the observation's value, which
    IS last-observation-carried-forward, so the old grid⋈daily join
    and the IGNORE-NULLS fill window disappear entirely. One scan
    (the previous shape scanned+aggregated events twice — span agg and
    join side never hit exchange reuse), one agg shuffle, one
    user-keyed window. Grid rows scale with user-spans, not corpus
    size, and skew only if one user spans decades (bound the span or
    split the grid by month at 100 TB).
    avg is exact-decimal-sum / count, UNROUNDED: a final ROUND(x, 4)
    hit a half-way boundary at sf0.1 where Spark (half-up) and DuckDB
    (rint half-even) disagree — the raw float64 division is
    bit-identical on both engines.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day_ts"), "value"
    )
    daily = ev.groupBy("user_id", "day_ts").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(dec("value")).cast("double") / F.count(F.lit(1))).alias(
            "a"
        ),
    )
    wlead = W.partitionBy("user_id").orderBy("day_ts")
    seg = daily.withColumn("next_ts", F.lead("day_ts").over(wlead))
    return (
        seg.select(
            "user_id",
            "n",
            "a",
            F.col("day_ts").alias("obs_ts"),
            F.explode(
                F.sequence(
                    "day_ts",
                    F.coalesce(
                        F.col("next_ts") - F.expr("INTERVAL 1 DAY"),
                        F.col("day_ts"),
                    ),
                    F.expr("INTERVAL 1 DAY"),
                )
            ).alias("grid_ts"),
        )
        .select(
            "user_id",
            F.col("grid_ts").cast("date").alias("day"),
            F.when(F.col("grid_ts") == F.col("obs_ts"), F.col("n"))
            .otherwise(0)
            .cast("bigint")
            .alias("n_events"),
            F.when(
                F.col("grid_ts") == F.col("obs_ts"), F.col("a")
            ).alias("avg_value"),
            F.col("a").alias("filled_value"),
        )
        .orderBy("user_id", "day")
    )


@query(
    "d46_unpivot",
    """
    WITH u AS (
      SELECT 'discount' AS metric, CAST(l_discount AS DECIMAL(18,4)) AS v
      FROM lineitem
      UNION ALL
      SELECT 'price', CAST(l_extendedprice AS DECIMAL(18,4)) FROM lineitem
      UNION ALL
      SELECT 'quantity', CAST(l_quantity AS DECIMAL(18,4)) FROM lineitem
    )
    SELECT metric, CAST(ROUND(SUM(v), 2) AS DOUBLE) AS total,
           COUNT(*) AS cnt
    FROM u GROUP BY metric ORDER BY metric
    """,
)
def d46_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long, the d32 inverse) + per-metric rollup.

    ``DataFrame.unpivot`` stays a row-local generator inside codegen —
    3× the rows, zero shuffle until the tiny 3-group aggregate; the
    oracle spells the same thing as UNION ALL, which is what a
    pre-unpivot engine would run (3 scans instead of 1 — the unpivot
    form reads the fact table once).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            dec("l_discount").alias("discount"),
            dec("l_extendedprice").alias("price"),
            dec("l_quantity").alias("quantity"),
        )
        .unpivot([], ["discount", "price", "quantity"], "metric", "v")
        .groupBy("metric")
        .agg(
            rnd(F.sum("v"), 2).alias("total"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .orderBy("metric")
    )


@query(
    "d47_distribution_windows",
    """
    SELECT o_custkey, o_orderkey,
           NTILE(4) OVER w AS quartile,
           CAST(PERCENT_RANK() OVER w AS DOUBLE) AS pr,
           CAST(CUME_DIST() OVER w AS DOUBLE) AS cd
    FROM orders WHERE o_custkey < 50
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_custkey, o_orderkey
    """,
)
def d47_distribution_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile/percent_rank/cume_dist) —
    the §2.D ranking-family completion. Deterministic under ties via
    the compound (totalprice, orderkey) ordering; one shuffle on the
    partition key, per-partition sorts, no global sort until the
    final presentation ORDER BY."""
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_custkey") < 50
    )
    w = W.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.ntile(4).over(w).alias("quartile"),
            F.percent_rank().over(w).cast("double").alias("pr"),
            F.cume_dist().over(w).cast("double").alias("cd"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "d49_funnel",
    """
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS us FROM events
    ),
    s1 AS (SELECT user_id, min(us) AS t1 FROM ev
           WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, min(e.us) AS t2 FROM ev e
           JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.us > s1.t1
           GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, min(e.us) AS t3 FROM ev e
           JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.us > s2.t2
           GROUP BY e.user_id)
    SELECT 'x1_view' AS stage, CAST(count(*) AS BIGINT) AS users FROM s1
    UNION ALL
    SELECT 'x2_click', CAST(count(*) AS BIGINT) FROM s2
    UNION ALL
    SELECT 'x3_purchase', CAST(count(*) AS BIGINT) FROM s3
    ORDER BY stage
    """,
)
def d49_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis (view → click → purchase): users
    reaching each stage, where a stage only counts if it happens
    STRICTLY AFTER the user's previous stage — the sequential-pattern
    query behind conversion dashboards.

    Timestamps compare as integer epoch-µs on both engines (the d23
    lesson: parquet TIMESTAMP_NS tails differ from the µs-rebuilt
    column, so raw ts comparisons can diverge at the boundary).

    Plan (round-4 rewrite): ONE user-keyed shuffle. The old shape ran
    a per-stage scan + join chain (7 exchanges in the final plan); the
    classic one-pass funnel instead collects each user's candidate
    times in a single aggregation — min view time directly, click and
    purchase times as sorted arrays — and resolves the strictly-after
    chain row-locally with ``filter``/``array_min`` (codegen'd
    higher-order functions, no Python). One 3-counter 1-row agg then
    unpivots to the stage rows. At 100 TB the only caveat is per-user
    array width for the mid-funnel event types; a pre-filter on the
    funnel's event types bounds it (applied here), and a pathological
    power-user is exactly the row AQE's skew split handles.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    ).where(F.col("event_type").isin("view", "click", "purchase"))
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("us"))).alias(
            "t1"
        ),
        F.sort_array(
            F.collect_list(
                F.when(F.col("event_type") == "click", F.col("us"))
            )
        ).alias("clicks"),
        F.sort_array(
            F.collect_list(
                F.when(F.col("event_type") == "purchase", F.col("us"))
            )
        ).alias("purchases"),
    )
    resolved = per_user.select(
        "t1",
        "purchases",
        F.array_min(
            F.filter("clicks", lambda x: x > F.col("t1"))
        ).alias("t2"),
    ).select(
        "t1",
        "t2",
        F.array_min(
            F.filter("purchases", lambda x: x > F.col("t2"))
        ).alias("t3"),
    )
    counts = resolved.agg(
        F.count("t1").alias("x1_view"),
        F.count("t2").alias("x2_click"),
        F.count("t3").alias("x3_purchase"),
    )
    return (
        counts.selectExpr(
            "stack(3, 'x1_view', x1_view, 'x2_click', x2_click,"
            " 'x3_purchase', x3_purchase) AS (stage, users)"
        )
        .select("stage", F.col("users").cast("bigint").alias("users"))
        .orderBy("stage")
    )


@query(
    "d50_cohort_retention",
    """
    WITH activity AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ),
    cohort AS (SELECT user_id, min(d) AS c0 FROM activity GROUP BY user_id)
    SELECT c.c0 AS cohort_day,
           CAST(a.d - c.c0 AS BIGINT) AS day_offset,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS active_users
    FROM activity a JOIN cohort c ON a.user_id = c.user_id
    WHERE a.d - c.c0 <= 7
    GROUP BY c.c0, a.d - c.c0
    ORDER BY cohort_day, day_offset
    """,
)
def d50_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-active day, counted on
    each of their first 7 day-offsets — the DAU-retention triangle
    behind every growth dashboard.

    Plan (round-4 rewrite): one distinct (user, day) pass, then the
    cohort day as a user-partition window MIN over the SAME rows — the
    old separate agg + join-back pair is gone — and a (cohort, offset)
    aggregate whose key count is tiny. Because activity rows are
    already distinct on (user, day), each (user, offset) appears once,
    so the final count is a plain COUNT(*) — the old COUNT(DISTINCT)
    forced an extra dedup pass for rows that were distinct by
    construction. Day arithmetic is DATE subtraction (integer days) on
    both engines — no timestamp-precision hazard.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("d")
    )
    activity = ev.distinct()
    c0 = F.min("d").over(W.partitionBy("user_id"))
    off = F.datediff(F.col("d"), F.col("c0"))
    return (
        activity.withColumn("c0", c0)
        .where(off <= 7)
        .groupBy(
            F.col("c0").alias("cohort_day"),
            off.cast("bigint").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("active_users"))
        .orderBy("cohort_day", "day_offset")
    )


@query(
    "d51_transition_matrix",
    """
    WITH ordered AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type,
           CAST(count(*) AS BIGINT) AS transitions
    FROM ordered WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    ORDER BY prev_type, next_type
    """,
)
def d51_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-transition matrix (Markov sequence statistics): for each
    user's event stream in time order, count (previous → next)
    event-type transitions corpus-wide — behavioral-model input and a
    classic lag-window + aggregate composition.

    Ordering is total — (epoch-µs, event_id) — so ties and the
    parquet-ns precision gap can't reorder rows between engines. One
    window shuffle on user_id, then a tiny 25-key aggregate with
    map-side partials.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.unix_micros(F.col("ts").cast("timestamp")), "event_id"
    )
    return (
        ev.select(
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("transitions"))
        .orderBy("prev_type", "next_type")
    )


@query(
    "d52_share_of_total",
    """
    WITH rev AS (
      SELECT n_name,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS r
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name
    )
    SELECT n_name,
           CAST(ROUND(r, 2) AS DOUBLE) AS revenue,
           CAST(r AS DOUBLE) / CAST(SUM(r) OVER () AS DOUBLE) AS share
    FROM rev ORDER BY n_name
    """,
)
def d52_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total (ratio_to_report): each nation's revenue as a
    fraction of the grand total, in one pass over the aggregate.

    Plan: the heavy work is the revenue rollup (fact joins + one
    group-by); the share is an UNPARTITIONED window over the
    25-row aggregate — global windows are fine when their input is
    group-cardinality-sized, which is the distinction d10 vs d43
    draws for row-level data. The division runs on exact decimal sums
    cast to double, so both engines emit the identical float64.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(F.sum(dec("l_extendedprice")).alias("r"))
    )
    w = W.partitionBy()
    return rev.select(
        "n_name",
        rnd(F.col("r"), 2).alias("revenue"),
        (F.col("r").cast("double") / F.sum("r").over(w).cast("double")).alias(
            "share"
        ),
    ).orderBy("n_name")


@query(
    "d53_month_over_month",
    """
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
      FROM orders GROUP BY 1
    )
    SELECT CAST(month AS DATE) AS month,
           CAST(ROUND(rev, 2) AS DOUBLE) AS revenue,
           CAST(ROUND(rev - LAG(rev) OVER (ORDER BY month), 2) AS DOUBLE)
             AS delta_abs,
           CAST(rev AS DOUBLE)
             / CAST(LAG(rev) OVER (ORDER BY month) AS DOUBLE) - 1.0
             AS growth
    FROM m ORDER BY month
    """,
)
def d53_month_over_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: time rollup + lag on the
    aggregated series — the period-comparison shape every finance
    dashboard runs.

    Plan: one partial+final rollup to months (low cardinality), then
    lag over the tiny series (global window over ~84 rows — input is
    group-sized, see d52's note). Deltas subtract exact decimals and
    only the growth ratio goes through float division.
    """
    o = load_table(spark, sf_dir, "orders")
    m = (
        o.groupBy(
            F.date_trunc("month", F.col("o_orderdate")).alias("month")
        )
        .agg(F.sum(dec("o_totalprice")).alias("rev"))
    )
    w = W.partitionBy().orderBy("month")
    prev = F.lag("rev").over(w)
    return m.select(
        F.col("month").cast("date").alias("month"),
        rnd(F.col("rev"), 2).alias("revenue"),
        rnd(F.col("rev") - prev, 2).alias("delta_abs"),
        (F.col("rev").cast("double") / prev.cast("double") - 1.0).alias(
            "growth"
        ),
    ).orderBy("month")


@query(
    "a18_view_asof",
    """
    WITH cutoff AS (
      SELECT CAST(date_trunc('day', MAX(ts)) AS TIMESTAMP)
               - INTERVAL 10 DAY AS co
      FROM events)
    SELECT user_id, event_type, value FROM (
      SELECT user_id, event_type,
             CAST(ROUND(CAST(value AS DECIMAL(18,4)), 2) AS DOUBLE)
               AS value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events, cutoff WHERE ts < co) t
    WHERE rn = 1 ORDER BY user_id, event_type
    """,
)
def a18_view_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel compaction read: the state of the compacted table AS
    OF a past point (here: 10 days before the newest event, truncated
    to a day boundary so the cutoff instant is precision-portable).

    Parity: the reference's append-only ``_raw`` + view design
    (pkg/sinks/bigquery/schema_builders.go:115-161) makes historic
    states recoverable but only serves "latest"; this is the as-of
    twin — filter the envelope stream to ``lsn/timestamp <= X``, then
    elect most-recent-row. sinks/warehouse.py exposes the same as DDL
    (``compaction_view_sql(asof=...)``).

    Plan: the cutoff agg broadcasts as a scalar; the filter reaches the
    scan (row groups after the cutoff prune via min/max when the raw
    table is time-partitioned, which warehouse writes are); the
    election is the one pk-keyed window shuffle a16 already pays.
    """
    events = load_table(spark, sf_dir, "events")
    co = events.agg(
        (
            F.date_trunc("day", F.max("ts")).cast("timestamp_ntz")
            - F.expr("INTERVAL 10 DAY")
        ).alias("co")
    )
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.join(F.broadcast(co), F.col("ts") < F.col("co"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", rnd(dec("value"), 2).alias("value"))
        .orderBy("user_id", "event_type")
    )


@query(
    "d54_recursive_series",
    """
    WITH RECURSIVE b AS (
      SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS m0,
             CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS m1
      FROM orders),
    m(mon, m1) AS (
      SELECT m0, m1 FROM b
      UNION ALL
      SELECT CAST(mon + INTERVAL 1 MONTH AS DATE), m1 FROM m
      WHERE mon < m1),
    c AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
             COUNT(*) AS n
      FROM orders GROUP BY 1)
    SELECT m.mon AS month, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_orders
    FROM m LEFT JOIN c ON c.mon = m.mon
    ORDER BY month
    """,
)
def d54_recursive_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's WITH RECURSIVE): generate the complete
    month series spanning ``orders`` — including months with no data —
    and left-join per-month order counts onto it.

    The recursion is driver-light iteration over a tiny frame (one row
    per month, ~84 steps) while the heavy side stays one partial+final
    aggregation of the fact table; the join of series→counts broadcasts
    the series. This is the declarative dimension-completion shape
    (calendar/scaffold tables) that otherwise needs a generate_series
    UDTF; d45_resample_locf covers the per-key variant with
    ``sequence()``.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(ORACLES["d54_recursive_series"])


@query(
    "d55_lateral_topn",
    """
    SELECT c_custkey, o_orderkey, tp
    FROM (SELECT c_custkey FROM customer WHERE c_custkey % 20 = 1) c,
    LATERAL (
      SELECT o_orderkey,
             CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 2) AS DOUBLE)
               AS tp
      FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
    ORDER BY c_custkey, o_orderkey
    """,
)
def d55_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-group LIMIT (top-2 orders
    per sampled customer) — the SQL-standard spelling of top-n-per-key.

    Catalyst decorrelates the lateral into a ranked window join (the
    same physical shape as d8_rank_topk), proving the engine's
    correlated-subquery surface: users can write the declarative form
    and still get the one-shuffle windowed plan rather than a
    nested-loop re-scan per outer row.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(ORACLES["d55_lateral_topn"])


@query(
    "d56_time_range_frame",
    """
    WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
                      CAST(value AS DECIMAL(18,4)) AS v
               FROM events)
    SELECT user_id, event_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_last_hour,
           CAST(ROUND(SUM(v) OVER w, 2) AS DOUBLE) AS v_last_hour
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    ORDER BY user_id, event_id
    """,
)
def d56_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval RANGE frame: per user, the count and exact-decimal
    sum of events in the trailing one hour — the rolling-window-by-TIME
    analytic (rate limiting, trailing exposure) that ROWS frames can't
    express when event spacing is irregular.

    The oracle CASTs ts to µs TIMESTAMP so both engines evaluate the
    frame bound at the same precision (DuckDB reads the parquet ns
    natively — the d23 lesson). Plan: one user-keyed window shuffle;
    the interval frame is evaluated inside the sorted partition, so it
    scales exactly like any keyed window.
    """
    events = load_table(spark, sf_dir, "events")
    events.createOrReplaceTempView("events_d56")
    return spark.sql(
        ORACLES["d56_time_range_frame"].replace("FROM events", "FROM events_d56")
    )


@query(
    "d57_table_diff",
    """
    WITH o AS (
      SELECT o_orderkey AS k,
             CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 2) AS DOUBLE)
               AS tp
      FROM orders),
    m AS (
      SELECT CASE WHEN o_orderkey % 100 = 3
                  THEN o_orderkey + 100000000 ELSE o_orderkey END AS k,
             CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 2) AS DOUBLE)
               + CASE WHEN o_orderkey % 10 = 7 THEN 5.0 ELSE 0.0 END AS tp
      FROM orders)
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(k) AS BIGINT) AS key_sum
    FROM (
      SELECT COALESCE(o.k, m.k) AS k,
             CASE WHEN o.k IS NULL THEN 'added'
                  WHEN m.k IS NULL THEN 'removed'
                  WHEN o.tp <> m.tp THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM o FULL OUTER JOIN m ON o.k = m.k) t
    GROUP BY status ORDER BY status
    """,
)
def d57_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level table reconciliation: FULL OUTER diff of a table
    against a deterministically perturbed copy (key-moves ≙
    add+remove, value edits ≙ changed), classified and checksummed per
    class — the source-vs-sink parity audit a CDC operator runs after
    a backfill (the row-granular sibling of the publication-level
    reconciliation in control/publication.py, ref
    pkg/subscription/manager.go reconcile loop).

    Plan: one full-outer shuffle join on the key (both sides
    pre-projected to key+checksum columns — at 100 TB you'd diff on
    pk + a row hash, which is exactly this shape), then a tiny
    classify+rollup. Skewless: keys are unique on both sides.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        rnd(dec("o_totalprice"), 2).alias("tp"),
    )
    m = load_table(spark, sf_dir, "orders").select(
        F.when(
            F.col("o_orderkey") % 100 == 3, F.col("o_orderkey") + 100000000
        )
        .otherwise(F.col("o_orderkey"))
        .alias("k"),
        (
            rnd(dec("o_totalprice"), 2)
            + F.when(F.col("o_orderkey") % 10 == 7, 5.0).otherwise(0.0)
        ).alias("tp"),
    )
    j = o.alias("o").join(m.alias("m"), F.col("o.k") == F.col("m.k"), "full_outer")
    status = (
        F.when(F.col("o.k").isNull(), "added")
        .when(F.col("m.k").isNull(), "removed")
        .when(F.col("o.tp") != F.col("m.tp"), "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(
            F.coalesce(F.col("o.k"), F.col("m.k")).alias("k"),
            status.alias("status"),
        )
        .groupBy("status")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").cast("bigint").alias("key_sum"),
        )
        .orderBy("status")
    )


@query(
    "d58_histogram",
    """
    WITH t AS (
      SELECT LEAST(CAST(FLOOR(
               CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 2) AS DOUBLE)
               / 25000.0) AS BIGINT), 19) AS bucket,
             CAST(o_totalprice AS DECIMAL(18,4)) AS tp
      FROM orders)
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(SUM(tp), 2) AS DOUBLE) AS tp_sum
    FROM t GROUP BY bucket ORDER BY bucket
    """,
)
def d58_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order value (20 × 25k buckets, top
    bucket open-ended) — the profiling/monitoring rollup. Bucket ids
    come from explicit float arithmetic written identically on both
    engines (width_bucket's edge semantics aren't worth the dialect
    risk); sums stay exact-decimal until the final rounded surface.

    Plan: row-local bucketing + one partial/final aggregation over ≤20
    groups — the cheapest possible distribution probe at any scale
    (contrast d47's exact ntile, which must shuffle the full column).
    """
    o = load_table(spark, sf_dir, "orders")
    bucket = F.least(
        F.floor(rnd(dec("o_totalprice"), 2) / 25000.0).cast("bigint"),
        F.lit(19).cast("bigint"),
    )
    return (
        o.select(bucket.alias("bucket"), dec("o_totalprice").alias("tp"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            rnd(F.sum("tp"), 2).alias("tp_sum"),
        )
        .orderBy("bucket")
    )


@query(
    "d59_grouped_percentiles",
    """
    SELECT event_type,
           CAST(ROUND(CAST(quantile_cont(value, 0.5) AS DECIMAL(18,8)), 6)
                AS DOUBLE) AS p50,
           CAST(ROUND(CAST(quantile_cont(value, 0.9) AS DECIMAL(18,8)), 6)
                AS DOUBLE) AS p90,
           CAST(ROUND(CAST(quantile_cont(value, 0.99) AS DECIMAL(18,8)), 6)
                AS DOUBLE) AS p99
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def d59_grouped_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (`percentile`, the
    sort-based exact twin of d35's approx sketch; both engines use the
    same linear-interpolation definition, so values hash-match after
    the 6-dp rounding discipline).

    Scale note: exact percentiles buffer each group's values — correct
    for the cardinality-bounded monitoring rollup this models (5 event
    types). At 100 TB with huge groups the approx sketch (d35) is the
    production path; this is its exactness reference.
    """
    ev = load_table(spark, sf_dir, "events")
    pct = F.expr("percentile(value, array(0.5, 0.9, 0.99))")
    return (
        ev.groupBy("event_type")
        .agg(pct.alias("p"))
        .select(
            "event_type",
            rnd(F.col("p")[0].cast("decimal(18,8)"), 6).alias("p50"),
            rnd(F.col("p")[1].cast("decimal(18,8)"), 6).alias("p90"),
            rnd(F.col("p")[2].cast("decimal(18,8)"), 6).alias("p99"),
        )
        .orderBy("event_type")
    )


@query(
    "d60_grouped_moments",
    """
    SELECT event_type,
           CAST(ROUND(CAST(stddev_samp(value) AS DECIMAL(18,6)), 4)
                AS DOUBLE) AS sd,
           CAST(ROUND(CAST(var_samp(value) AS DECIMAL(18,6)), 4)
                AS DOUBLE) AS var,
           CAST(ROUND(CAST(corr(value, CAST(user_id AS DOUBLE))
                AS DECIMAL(18,6)), 4) AS DOUBLE) AS corr_user
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def d60_grouped_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics per group: sample stddev/variance and
    Pearson correlation. Spark computes these with single-pass
    merge-able moment accumulators (partial agg → final merge), so the
    plan is one shuffle over 5 groups at any scale; the 4-dp rounding
    absorbs the merge-order float noise that makes raw moments
    run-order-dependent on a parallel engine.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            rnd(F.stddev_samp("value").cast("decimal(18,6)"), 4).alias("sd"),
            rnd(F.var_samp("value").cast("decimal(18,6)"), 4).alias("var"),
            rnd(
                F.corr("value", F.col("user_id").cast("double")).cast(
                    "decimal(18,6)"
                ),
                4,
            ).alias("corr_user"),
        )
        .orderBy("event_type")
    )


@query(
    "d61_distribution_windows",
    """
    WITH t AS (
      SELECT event_type, event_id, value,
             CAST(ROUND(CAST(cume_dist() OVER w AS DECIMAL(18,8)), 6)
                  AS DOUBLE) AS cd,
             CAST(ROUND(CAST(percent_rank() OVER w AS DECIMAL(18,8)), 6)
                  AS DOUBLE) AS pr
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    )
    SELECT event_type, event_id, value, cd, pr
    FROM t
    WHERE pr >= 0.99
    ORDER BY event_type, value, event_id
    """,
)
def d61_distribution_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist / percent_rank per group with a top-percentile cut —
    the "flag the 99th-percentile outliers" monitoring query. The
    window is keyed by event_type (parallel per group, never global),
    ordered deterministically on (value, event_id) so both engines
    agree on rank positions, and the rounded distribution values are
    the comparison surface.
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.select(
            "event_type",
            "event_id",
            "value",
            rnd(F.cume_dist().over(w).cast("decimal(18,8)"), 6).alias("cd"),
            rnd(F.percent_rank().over(w).cast("decimal(18,8)"), 6).alias("pr"),
        )
        .where(F.col("pr") >= 0.99)
        .orderBy("event_type", "value", "event_id")
    )


@query(
    "d62_regression_agg",
    """
    SELECT event_type,
           CAST(ROUND(CAST(regr_slope(value, CAST(user_id AS DOUBLE))
                AS DECIMAL(18,6)), 4) AS DOUBLE) AS slope,
           CAST(ROUND(CAST(regr_intercept(value, CAST(user_id AS DOUBLE))
                AS DECIMAL(18,6)), 4) AS DOUBLE) AS intercept,
           CAST(regr_count(value, CAST(user_id AS DOUBLE)) AS BIGINT) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def d62_regression_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregates per group (regr_slope/intercept/
    count) — the trend-fit rollup. Like d60's moments these are
    single-pass merge-able accumulators (one shuffle over 5 groups at
    any scale); 4-dp rounding absorbs merge-order float noise.
    """
    ev = load_table(spark, sf_dir, "events")
    u = F.col("user_id").cast("double")
    return (
        ev.groupBy("event_type")
        .agg(
            rnd(F.regr_slope("value", u).cast("decimal(18,6)"), 4).alias("slope"),
            rnd(
                F.regr_intercept("value", u).cast("decimal(18,6)"), 4
            ).alias("intercept"),
            F.regr_count("value", u).cast("bigint").alias("n"),
        )
        .orderBy("event_type")
    )


@query(
    "cdc_refresh_endstate",
    """
    SELECT o_orderkey,
           CAST(ROUND(CAST(o_totalprice * CASE WHEN o_orderkey % 13 = 0
                                               THEN 2 ELSE 1 END
                           AS DECIMAL(18,4)), 2) AS DOUBLE) AS tp
    FROM orders
    WHERE o_orderkey % 17 <> 0
    ORDER BY o_orderkey
    """,
)
def cdc_refresh_endstate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-refresh-style churn through the changelog machinery: the
    orders table baselines as IMPORT envelopes (null LSN), every
    13th key receives an UPDATE (price doubled) and every 17th a
    DELETE, and the most-recent-row election — the C2 compaction
    window, (pk) partitioned, LSN desc nulls last — serves the end
    state. The oracle states the logical result declaratively, so the
    hash check proves the ENVELOPE SEMANTICS (null-LSN imports rank
    below every stream LSN; deletes drop rows; updates supersede),
    not just arithmetic. One keyed window shuffle; linear at any scale.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", dec("o_totalprice").alias("tp")
    )
    k = F.col("o_orderkey")
    base = o.select(
        "o_orderkey",
        F.lit(None).cast("bigint").alias("lsn"),
        F.col("tp"),
        F.lit("IMPORT").alias("op"),
    )
    upd = o.where((k % 13 == 0) & (k % 17 != 0)).select(
        "o_orderkey",
        (F.lit(1_000_000_000) + k).alias("lsn"),
        (F.col("tp") * 2).alias("tp"),
        F.lit("UPDATE").alias("op"),
    )
    dele = o.where(k % 17 == 0).select(
        "o_orderkey",
        (F.lit(2_000_000_000) + k).alias("lsn"),
        F.lit(None).cast("decimal(18,4)").alias("tp"),
        F.lit("DELETE").alias("op"),
    )
    env = base.unionByName(upd).unionByName(dele)
    w = W.partitionBy("o_orderkey").orderBy(F.col("lsn").desc_nulls_last())
    return (
        env.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "DELETE"))
        .select("o_orderkey", rnd(F.col("tp"), 2).alias("tp"))
        .orderBy("o_orderkey")
    )


@query(
    "d63_interpolate_linear",
    """
    WITH daily AS (
      SELECT user_id, date_trunc('day', ts) AS day_ts,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
               / COUNT(*) AS a
      FROM events GROUP BY user_id, date_trunc('day', ts)
    ), span AS (
      SELECT user_id, min(day_ts) AS t0, max(day_ts) AS t1
      FROM daily GROUP BY user_id
    ), grid AS (
      SELECT user_id,
             unnest(generate_series(t0, t1, INTERVAL 1 DAY)) AS day_ts
      FROM span
    ), j AS (
      SELECT g.user_id, g.day_ts, d.a,
             CASE WHEN d.a IS NULL THEN NULL ELSE g.day_ts END AS known_ts
      FROM grid g LEFT JOIN daily d
        ON g.user_id = d.user_id AND g.day_ts = d.day_ts
    ), ctx AS (
      SELECT user_id, day_ts, a,
             LAST_VALUE(a IGNORE NULLS) OVER w_asc AS pa,
             LAST_VALUE(known_ts IGNORE NULLS) OVER w_asc AS pd,
             FIRST_VALUE(a IGNORE NULLS) OVER w_desc AS na,
             FIRST_VALUE(known_ts IGNORE NULLS) OVER w_desc AS nd
      FROM j
      WINDOW
        w_asc AS (PARTITION BY user_id ORDER BY day_ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_desc AS (PARTITION BY user_id ORDER BY day_ts
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, CAST(day_ts AS DATE) AS day,
           CAST(ROUND(CAST(
             CASE WHEN a IS NOT NULL THEN a
                  ELSE pa + (na - pa)
                       * date_diff('day', pd, day_ts)
                       / date_diff('day', pd, nd)
             END AS DECIMAL(18,8)), 6) AS DOUBLE) AS v
    FROM ctx ORDER BY user_id, day
    """,
)
def d63_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample + LINEAR interpolation (d45's LOCF sibling): per-user
    daily grid; gap days take the line between the surrounding known
    points, fractioned by integer day distance (exact arithmetic, so
    the float path is engine-identical before the 6-dp rounding).

    Same plan skeleton as d45 — one keyed rollup, row-local grid
    explode, one equi-join, two user-keyed windows (forward and
    backward fill context). Everything shuffles on user_id; grid size
    scales with user spans, not corpus size.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day_ts"), "value"
    )
    daily = ev.groupBy("user_id", "day_ts").agg(
        (F.sum(dec("value")).cast("double") / F.count(F.lit(1))).alias("a")
    )
    span = daily.groupBy("user_id").agg(
        F.min("day_ts").alias("t0"), F.max("day_ts").alias("t1")
    )
    grid = span.select(
        "user_id",
        F.explode(
            F.expr("sequence(t0, t1, interval 1 day)")
        ).alias("day_ts"),
    )
    j = grid.join(daily, ["user_id", "day_ts"], "left").withColumn(
        "known_ts", F.when(F.col("a").isNotNull(), F.col("day_ts"))
    )
    w_asc = (
        W.partitionBy("user_id")
        .orderBy("day_ts")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_desc = (
        W.partitionBy("user_id")
        .orderBy("day_ts")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    ctx = j.select(
        "user_id",
        "day_ts",
        "a",
        F.last("a", ignorenulls=True).over(w_asc).alias("pa"),
        F.last("known_ts", ignorenulls=True).over(w_asc).alias("pd"),
        F.first("a", ignorenulls=True).over(w_desc).alias("na"),
        F.first("known_ts", ignorenulls=True).over(w_desc).alias("nd"),
    )
    frac = F.datediff(F.col("day_ts"), F.col("pd")) / F.datediff(
        F.col("nd"), F.col("pd")
    )
    v = F.when(F.col("a").isNotNull(), F.col("a")).otherwise(
        F.col("pa") + (F.col("na") - F.col("pa")) * frac
    )
    return ctx.select(
        "user_id",
        F.col("day_ts").cast("date").alias("day"),
        rnd(v.cast("decimal(18,8)"), 6).alias("v"),
    ).orderBy("user_id", "day")


def profile_table(df: "DataFrame") -> dict:
    """ANALYZE-style one-pass column statistics: per column min/max,
    null count, and approximate distinct count, plus the row count —
    all in ONE aggregation (partial/final merge, a single scan at any
    scale). Complex-typed columns report nulls only (no ordering).
    Returns a plain dict, JSON-ready for catalogs/monitoring."""
    import pyspark.sql.types as _T

    aggs = [F.count(F.lit(1)).alias("__rows")]
    orderable = {}
    for f in df.schema.fields:
        c = f.name
        ok = not isinstance(
            f.dataType, (_T.ArrayType, _T.MapType, _T.StructType, _T.BinaryType)
        )
        orderable[c] = ok
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__n_{c}"))
        if ok:
            aggs.append(F.min(c).alias(f"__min_{c}"))
            aggs.append(F.max(c).alias(f"__max_{c}"))
            aggs.append(F.approx_count_distinct(c).alias(f"__d_{c}"))
    row = df.agg(*aggs).collect()[0]
    out = {"rows": row["__rows"], "columns": {}}
    for f in df.schema.fields:
        c = f.name
        col = {"type": f.dataType.simpleString(), "nulls": row[f"__n_{c}"]}
        if orderable[c]:
            col.update(
                min=row[f"__min_{c}"],
                max=row[f"__max_{c}"],
                approx_distinct=row[f"__d_{c}"],
            )
        out["columns"][c] = col
    return out


@query(
    "d64_gaps_islands",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    grp AS (
      SELECT user_id, day,
             date_diff('day', DATE '2020-01-01', day)
               - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
               AS island
      FROM days
    ),
    islands AS (
      SELECT user_id, island, CAST(count(*) AS BIGINT) AS len
      FROM grp GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_streaks,
           MAX(len) AS longest_streak
    FROM islands GROUP BY user_id ORDER BY user_id
    """,
)
def d64_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-D64 gaps-and-islands: per-user consecutive-active-day streaks
    (count + longest), the classic sessionized-retention SQL idiom —
    the day-granular sibling of d23's gap sessionization.

    Plan: one distinct over (user, day), one user-keyed window (the
    row_number-difference island trick keeps everything inside the
    per-user partition), two keyed aggregations. No global window, no
    self-join — at 100 TB cost is one shuffle on user_id.
    """
    events = load_table(spark, sf_dir, "events")
    days = events.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    grp = days.select(
        "user_id",
        "day",
        (
            F.datediff(F.col("day"), F.lit("2020-01-01"))
            - F.row_number().over(w)
        ).alias("island"),
    )
    islands = grp.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len")
    )
    return (
        islands.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_streaks"),
            F.max("len").alias("longest_streak"),
        )
        .orderBy("user_id")
    )


@query(
    "d69_rolling_zscore",
    """
    WITH w AS (
      SELECT event_id, user_id, value,
             avg(value) OVER win AS mu,
             stddev_samp(value) OVER win AS sd,
             count(*) OVER win AS cnt
      FROM events
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    ),
    z AS (
      SELECT event_id, user_id,
             CAST(ROUND(CAST((value - mu) / sd AS DECIMAL(24,6)), 4)
                  AS DOUBLE) AS z
      FROM w WHERE cnt >= 8 AND sd > 0
    )
    SELECT event_id, user_id, z FROM z
    WHERE ABS(z) >= 3 ORDER BY user_id, event_id
    """,
)
def d69_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: per user, each event scored
    against the trailing 20-event window (current row excluded —
    self-exclusion keeps an outlier from masking itself), flagged when
    |z| ≥ 3 with at least 8 trailing samples. The batch twin of
    stream_ewma_anomalies: same monitoring semantics, but windowed
    moments instead of exponential decay.

    One user-keyed shuffle feeds a single Window operator computing
    all three frame aggregates (avg/stddev/count share the frame, so
    Spark evaluates them in one pass); the anomaly filter then cuts
    the stream row-locally. At 100 TB per-user history is the natural
    partition — no user's frame crosses an executor, skewed users cost
    only their own event count, and the trailing frame never
    materializes more than 20 rows of state per open partition. The
    4-dp decimal rounding (applied before the ≥3 cut, identically on
    both engines) absorbs the summation-order float noise between
    Spark's per-row frame evaluation and DuckDB's segment-tree
    sliding-window implementation.
    """
    ev = load_table(spark, sf_dir, "events")
    win = (
        W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-20, -1)
    )
    scored = ev.select(
        "event_id",
        "user_id",
        "value",
        F.avg("value").over(win).alias("mu"),
        F.stddev_samp("value").over(win).alias("sd"),
        F.count(F.lit(1)).over(win).alias("cnt"),
    )
    z = (
        scored.where((F.col("cnt") >= 8) & (F.col("sd") > 0))
        .select(
            "event_id",
            "user_id",
            rnd(
                ((F.col("value") - F.col("mu")) / F.col("sd")).cast(
                    "decimal(24,6)"
                ),
                4,
            ).alias("z"),
        )
    )
    return z.where(F.abs(F.col("z")) >= 3).orderBy("user_id", "event_id")


@query(
    "d70_ohlc_resample",
    """
    WITH b AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
             value,
             ROW_NUMBER() OVER (PARTITION BY user_id, CAST(date_trunc('day', ts) AS TIMESTAMP)
                                ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY user_id, CAST(date_trunc('day', ts) AS TIMESTAMP)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT user_id, bucket,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high, MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           CAST(count(*) AS BIGINT) AS n
    FROM b GROUP BY user_id, bucket
    HAVING count(*) >= 3
    ORDER BY user_id, bucket
    """,
)
def d70_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar resampling: per (user, day) the first / max / min /
    last event value plus the sample count — the canonical time-series
    downsampling every metrics store runs, with bars under 3 samples
    dropped as unreliable.

    First/last are elected by ROW_NUMBER over (ts, event_id) — a
    deterministic total order both engines share — rather than
    ``first_value`` frames (whose default frame semantics differ
    between engines) or arg_min on composite keys (whose struct
    ordering is engine-specific). Both row numbers share one
    (user, bucket)-keyed partition spec, so Spark plans ONE shuffle
    feeding two Window sorts and the final partial agg; at 100 TB the
    bucket key is also the natural file-partition key, making the
    whole plan a partition-local pipeline after the single exchange.
    """
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "user_id",
        F.date_trunc("day", F.col("ts")).alias("bucket"),
        "value",
        "ts",
        "event_id",
    )
    wa = W.partitionBy("user_id", "bucket").orderBy("ts", "event_id")
    wd = W.partitionBy("user_id", "bucket").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    marked = b.select(
        "user_id",
        "bucket",
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return (
        marked.groupBy("user_id", "bucket")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .where(F.col("n") >= 3)
        .orderBy("user_id", "bucket")
    )


@query(
    "d71_attribution",
    """
    WITH marked AS (
      SELECT event_id, user_id, ts, event_type,
             MAX(CASE WHEN event_type = 'click' THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS last_click_ts
      FROM events
    )
    SELECT event_id, user_id,
           (last_click_ts IS NOT NULL
            AND date_diff('second', last_click_ts, ts) <= 86400)
             AS attributed,
           CASE WHEN last_click_ts IS NOT NULL
                 AND date_diff('second', last_click_ts, ts) <= 86400
                THEN CAST(date_diff('second', last_click_ts, ts) AS BIGINT)
           END AS lag_s
    FROM marked
    WHERE event_type = 'purchase'
    ORDER BY event_id
    """,
)
def d71_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: each purchase attributes to
    the most recent STRICTLY-preceding click by the same user within a
    24-hour window, emitting the attribution flag and the
    click-to-purchase lag in whole seconds — the classic marketing
    analytics join that is NOT a join: a running conditional MAX over
    the per-user event stream replaces the naive purchase⋈click
    range self-join (which is quadratic in events per user).

    One user-keyed shuffle feeds a single running-max window frame;
    the purchase filter and window arithmetic are row-local. At 100 TB
    the frame state is one timestamp per open partition — this is also
    exactly the shape the streaming twin runs with keyed state
    (stream_sessionize's pattern), so batch and stream agree by
    construction.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    marked = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.max(
            F.when(F.col("event_type") == "click", F.col("ts"))
        ).over(w).alias("last_click_ts"),
    )
    lag = F.unix_timestamp("ts") - F.unix_timestamp("last_click_ts")
    attributed = F.col("last_click_ts").isNotNull() & (lag <= 86400)
    return (
        marked.where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            attributed.alias("attributed"),
            F.when(attributed, lag.cast("bigint")).alias("lag_s"),
        )
        .orderBy("event_id")
    )


@query(
    "d72_mad_outliers",
    """
    WITH med AS (
      SELECT event_type,
             percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS med
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, e.value, med.med,
             ABS(e.value - med.med) AS adev
      FROM events e JOIN med USING (event_type)
    ),
    mad AS (
      SELECT event_type, ANY_VALUE(med) AS med,
             percentile_cont(0.5) WITHIN GROUP (ORDER BY adev) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(ROUND(CAST(ANY_VALUE(m.med) AS DECIMAL(18,6)), 4)
                AS DOUBLE) AS med,
           CAST(ROUND(CAST(ANY_VALUE(m.mad) AS DECIMAL(18,6)), 4)
                AS DOUBLE) AS mad,
           CAST(SUM(CASE WHEN ABS(d.value - m.med) > 3 * 1.4826 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(count(*) AS BIGINT) AS n
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type ORDER BY d.event_type
    """,
)
def d72_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier profiling per event type: exact median, median
    absolute deviation, and the count of values beyond the standard
    3·1.4826·MAD fence — the heavy-tail-safe alternative to d60's
    moment statistics (one planted outlier shifts a mean/stddev fence
    arbitrarily; it moves the MAD fence not at all).

    Two exact order statistics mean two group-keyed passes (median,
    then deviation median) plus the fence count folded into the
    second — all three shuffles keyed on the 5-value event_type, with
    the median table broadcast back. Exact percentile_cont is the
    deliberate choice here (type count is tiny and bounded); at an
    unbounded group count the first median swaps for the
    approx-quantile sketch d67 bounds, and the rest of the plan is
    unchanged. Rounding to 4 dp absorbs the interpolation float noise
    between engines; the fence COUNT is integer-stable because fence
    comparisons happen on raw doubles identically on both sides.
    """
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.first("med").alias("med"),
        F.expr("percentile(adev, 0.5)").alias("mad"),
    )
    return (
        dev.drop("med")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            rnd(F.first("med").cast("decimal(18,6)"), 4).alias("med"),
            rnd(F.first("mad").cast("decimal(18,6)"), 4).alias("mad"),
            F.sum(
                (
                    F.abs(F.col("value") - F.col("med"))
                    > 3 * 1.4826 * F.col("mad")
                ).cast("long")
            ).alias("n_outliers"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .orderBy("event_type")
    )


CUSUM_K = 10.0
CUSUM_H = 80.0


@query(
    "d74_cusum_changepoints",
    f"""
    WITH RECURSIVE e AS (
      SELECT user_id, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    r AS (
      SELECT user_id, rn, event_id, value,
             GREATEST(0.0, value - {CUSUM_K}) AS s,
             (GREATEST(0.0, value - {CUSUM_K}) > {CUSUM_H}) AS fired
      FROM e WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.rn, e.event_id, e.value,
             CASE WHEN r.fired THEN GREATEST(0.0, e.value - {CUSUM_K})
                  ELSE GREATEST(0.0, r.s + e.value - {CUSUM_K}) END,
             (CASE WHEN r.fired THEN GREATEST(0.0, e.value - {CUSUM_K})
                   ELSE GREATEST(0.0, r.s + e.value - {CUSUM_K}) END)
               > {CUSUM_H}
      FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1
    )
    SELECT user_id, event_id,
           CAST(ROUND(CAST(s AS DECIMAL(24,6)), 4) AS DOUBLE) AS s
    FROM r WHERE fired
    ORDER BY user_id, event_id
    """,
)
def d74_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM changepoint detection per user: the running
    statistic S_t = max(0, S_{{t-1}} + x_t − k) crosses the decision
    threshold h ⇒ an upward level shift is flagged and the accumulator
    resets — the classic sequential drift detector a pipeline runs on
    ingestion-volume or metric streams (Page's test).

    The max(0, ·) reset makes this a genuinely non-linear recurrence —
    inexpressible as any window aggregate — so the batch operator uses
    the designated escape hatch: one user-keyed applyInPandas pass
    folding each user's (ts, event_id)-ordered events sequentially in
    NumPy (per-key state is two scalars; cross-key parallelism comes
    from the shuffle, the same contract as the stateful streaming
    plane). The oracle replays the identical float arithmetic as a
    recursive CTE — sequential fold on both engines ⇒ bit-equal
    doubles, with the usual 4-dp decimal image for the emitted rows.

    At 100 TB: one shuffle keyed on the entity, then embarrassingly
    parallel per-key folds; state never exceeds two scalars per open
    key, and the same fold runs unchanged under
    applyInPandasWithState for the live stream.
    """
    import pandas as pd

    # r10 optimization (guide §4.5 / §2.3): the previous
    # groupBy("user_id").applyInPandas paid per-GROUP machinery — one
    # pandas frame build + sort_values per user, 1500 groups at sf0.1
    # (an EMPTY per-group fold alone measured 2.0 s of the query's
    # 5.4 s). The fold is the same sequential per-user recurrence, but
    # run as ONE mapInPandas pass over user-hash-partitioned,
    # partition-sorted rows: Spark's JVM sort replaces 1500 pandas
    # sorts, and per-user state (one float) is carried across Arrow
    # batch boundaries — a user's rows are contiguous within its
    # partition, so a (uid != prev) transition is exactly a group
    # boundary. Arithmetic is the identical left-to-right Python float
    # sequence (tolist() round-trips float64 bit-exactly), so the
    # driver hash is unchanged.
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts", "value")
        .repartition(F.col("user_id"))
        .sortWithinPartitions("user_id", "ts", "event_id")
        .select("user_id", "event_id", "value")
    )

    def fold_stream(batches):
        from decimal import ROUND_HALF_UP, Decimal

        cur_uid = None
        s = 0.0
        for pdf in batches:
            out_uid, out_eid, out_s = [], [], []
            for uid, eid, v in zip(
                pdf["user_id"].tolist(),
                pdf["event_id"].tolist(),
                pdf["value"].tolist(),
            ):
                if uid != cur_uid:
                    cur_uid = uid
                    s = 0.0
                s = max(0.0, s + v - CUSUM_K)
                if s > CUSUM_H:
                    d = Decimal(repr(s)).quantize(
                        Decimal("0.000001"), rounding=ROUND_HALF_UP
                    ).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
                    out_uid.append(uid)
                    out_eid.append(eid)
                    out_s.append(float(d))
                    s = 0.0  # reset after an alarm, matching the oracle
            yield pd.DataFrame(
                {"user_id": out_uid, "event_id": out_eid, "s": out_s}
            )

    return ev.mapInPandas(
        fold_stream, "user_id long, event_id long, s double"
    ).orderBy("user_id", "event_id")


@query(
    "a19_scd2_history",
    """
    SELECT user_id, event_type, event_id,
           CAST(ROUND(CAST(value AS DECIMAL(18,4)), 2) AS DOUBLE) AS value,
           ts AS valid_from,
           LEAD(ts) OVER w AS valid_to,
           CAST(LEAD(ts) OVER w IS NULL AS INT) AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
    ORDER BY user_id, event_type, valid_from, event_id
    """,
)
def a19_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type-2 history from the changelog:
    every (user_id, event_type) change event becomes a VERSIONED row
    with a validity interval — valid_from = its own timestamp,
    valid_to = the next version's timestamp (NULL while current).

    This is the natural extension of the reference's most-recent-row
    compaction view (pkg/sinks/bigquery/schema_builders.go:115-161 keeps
    ONLY rn=1; SCD2 keeps every version with its interval) — the shape a
    warehouse needs for point-in-time joins and audit queries, and the
    read-side dual of the A15 raw append ledger. The a16 compaction view
    is exactly this table filtered to is_current = 1.

    Plan: one window keyed on the PK — a single hash-partition shuffle
    on (user_id, event_type), then LEAD is a sorted per-partition scan.
    Linear at any scale; no join, no second shuffle (is_current reuses
    the same window frame).
    """
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        events.select(
            "user_id",
            "event_type",
            "event_id",
            rnd(dec("value"), 2).alias("value"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
        )
        .withColumn(
            "is_current", F.col("valid_to").isNull().cast("int")
        )
        .orderBy("user_id", "event_type", "valid_from", "event_id")
    )


@query(
    "d75_weighted_median",
    """
    WITH w AS (
      SELECT event_type, value, event_id, (user_id % 5 + 1) AS wt
      FROM events
    ), c AS (
      SELECT event_type, value,
             SUM(wt) OVER (PARTITION BY event_type ORDER BY value, event_id
                           ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(wt) OVER (PARTITION BY event_type) AS tw
      FROM w
    )
    SELECT event_type,
           CAST(ROUND(CAST(MIN(value) AS DECIMAL(18,4)), 2) AS DOUBLE)
             AS wmedian
    FROM c WHERE cw * 2 >= tw
    GROUP BY event_type ORDER BY event_type
    """,
)
def d75_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median per group — the order statistic under integer
    row weights (weight = user_id % 5 + 1, a deterministic stand-in
    for a sample/importance weight column): the smallest value whose
    cumulative weight reaches half the group's total.

    Exactness: weights are integers, so the running and total sums are
    exact and the crossing row is unambiguous (ties broken by
    event_id); no float comparison decides the cut. Plan: ONE shuffle
    on event_type serves both windows (the running sum and the
    partition total share the partitioning), then a partial-agg MIN —
    no join, no second shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    wtd = ev.select(
        "event_type",
        "value",
        "event_id",
        (F.col("user_id") % 5 + 1).alias("wt"),
    )
    run = (
        W.partitionBy("event_type")
        .orderBy("value", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    tot = W.partitionBy("event_type")
    return (
        wtd.select(
            "event_type",
            "value",
            F.sum("wt").over(run).alias("cw"),
            F.sum("wt").over(tot).alias("tw"),
        )
        .where(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("event_type")
        .agg(rnd(dec(F.min("value")), 2).alias("wmedian"))
        .orderBy("event_type")
    )


@query(
    "d76_benford_audit",
    """
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                          AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ), obs AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM d GROUP BY digit
    ), tot AS (SELECT CAST(sum(n_obs) AS DOUBLE) AS n FROM obs)
    SELECT digit, n_obs,
           CAST(ROUND(CAST(ln(1.0 + 1.0/digit)/ln(10.0)
                AS DECIMAL(18,8)), 6) AS DOUBLE) AS p_benford,
           CAST(ROUND(CAST(
             POW(n_obs - n * (ln(1.0 + 1.0/digit)/ln(10.0)), 2)
               / (n * (ln(1.0 + 1.0/digit)/ln(10.0)))
             AS DECIMAL(18,8)), 4) AS DOUBLE) AS chi2_term
    FROM obs CROSS JOIN tot
    ORDER BY digit
    """,
)
def d76_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit of a monetary column —
    the classic data-quality / fraud screen: observed first-digit
    counts vs the Benford expectation p(d) = log10(1 + 1/d), with the
    per-digit chi-squared contribution.

    The first digit comes from the DECIMAL(18,2) STRING image (both
    engines print the same canonical form), never from float log10 —
    floor(log10(x)) flips at exact powers of ten where libm returns
    2.9999…; the string route has no edge cases for values ≥ 1.

    Plan: one 9-group partial aggregation (map-side combine collapses
    each partition to ≤9 rows pre-shuffle) + a 1-row total broadcast —
    control-plane sized output at any scale.
    """
    orders = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
    ).cast("int")
    obs = (
        orders.where(F.col("o_totalprice") >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    )
    tot = obs.agg(F.sum("n_obs").cast("double").alias("n"))
    p = F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit")) / F.log(F.lit(10.0))
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_obs",
            rnd(p.cast("decimal(18,8)"), 6).alias("p_benford"),
            rnd(
                (
                    F.pow(F.col("n_obs") - F.col("n") * p, F.lit(2.0))
                    / (F.col("n") * p)
                ).cast("decimal(18,8)"),
                4,
            ).alias("chi2_term"),
        )
        .orderBy("digit")
    )


# fixed mid-corpus probe instant for the point-in-time read (the
# fixture events span 2024-01-01 .. 2024-01-30)
SCD2_PIT = "2024-01-15 12:00:00"


@query(
    "a20_scd2_pointintime",
    f"""
    SELECT user_id, event_type, event_id,
           CAST(ROUND(CAST(value AS DECIMAL(18,4)), 2) AS DOUBLE) AS value
    FROM (
      SELECT user_id, event_type, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE ts <= TIMESTAMP '{SCD2_PIT}'
    ) t WHERE rn = 1
    ORDER BY user_id, event_type
    """,
)
def a20_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time read of the SCD2 dimension: the version of every
    (user_id, event_type) key that was valid at the probe instant T —
    i.e. a19_scd2_history filtered to valid_from ≤ T < valid_to (test-
    asserted equivalent), computed WITHOUT materializing the history:
    the ts ≤ T predicate pushes to the parquet scan, then the same
    rn=1 election as the a16 compaction view picks the latest
    preceding version per key.

    This is "AS OF timestamp" on the warehouse: the read every
    backtest / training-snapshot / audit query needs. Scanning less
    (pushdown) + one pk-keyed window — identical scale shape to a16.
    """
    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.where(F.col("ts") <= F.lit(SCD2_PIT).cast("timestamp"))
        .select(
            "user_id", "event_type", "event_id", "ts", dec("value").alias("v")
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", rnd(F.col("v"), 2).alias("value"))
        .orderBy("user_id", "event_type")
    )


@query(
    "cdc_time_travel",
    """
    WITH mx AS (SELECT MAX(o_orderkey) AS mk FROM orders)
    SELECT o_orderkey,
           CAST(ROUND(CAST(o_totalprice * CASE WHEN o_orderkey % 13 = 0
                            AND 2 * o_orderkey <= mk THEN 2 ELSE 1 END
                           AS DECIMAL(18,4)), 2) AS DOUBLE) AS tp
    FROM orders CROSS JOIN mx
    WHERE NOT (o_orderkey % 17 = 0 AND 2 * o_orderkey + 1 <= mk)
    ORDER BY o_orderkey
    """,
)
def cdc_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel read of the changelog ledger: the table state AS OF
    an LSN bound strictly inside the churn window — the A15 raw append
    ledger's killer feature (the reference keeps every envelope exactly
    so reads like this are possible; pkg/sinks/bigquery/table.go raw
    tables + schema_builders.go views give the latest-row view, this is
    the same election with the ledger truncated at the bound).

    Same synthetic churn as cdc_refresh_endstate (every 13th key
    updated, every 17th deleted) but with INTERLEAVED LSNs — update(k)
    at base+2k, delete(k) at base+2k+1 — and the read replays only
    envelopes with lsn ≤ base+mk (mk = max key), so roughly the first
    half of the churn is visible: later updates/deletes must NOT
    appear, earlier ones must. The oracle states the as-of state
    declaratively, so the hash proves LSN-bounded replay, not just
    arithmetic. Plan: the lsn filter is a row-local predicate on the
    ledger scan (at a real warehouse it prunes whole epochs), then the
    usual single pk-keyed compaction window.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", dec("o_totalprice").alias("tp")
    )
    k = F.col("o_orderkey")
    base = F.lit(1_000_000_000).cast("bigint")
    rows = o.select(
        "o_orderkey",
        F.lit(None).cast("bigint").alias("lsn"),
        F.col("tp"),
        F.lit("IMPORT").alias("op"),
    )
    upd = o.where(k % 13 == 0).select(
        "o_orderkey",
        (base + 2 * k).alias("lsn"),
        (F.col("tp") * 2).alias("tp"),
        F.lit("UPDATE").alias("op"),
    )
    dele = o.where(k % 17 == 0).select(
        "o_orderkey",
        (base + 2 * k + 1).alias("lsn"),
        F.lit(None).cast("decimal(18,4)").alias("tp"),
        F.lit("DELETE").alias("op"),
    )
    env = rows.unionByName(upd).unionByName(dele)
    bound = o.agg((base + F.max("o_orderkey")).alias("lsn_bound"))
    w = W.partitionBy("o_orderkey").orderBy(F.col("lsn").desc_nulls_last())
    return (
        env.crossJoin(F.broadcast(bound))
        .where(F.col("lsn").isNull() | (F.col("lsn") <= F.col("lsn_bound")))
        .withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "DELETE"))
        .select("o_orderkey", rnd(F.col("tp"), 2).alias("tp"))
        .orderBy("o_orderkey")
    )


@query(
    "d77_mode_per_group",
    """
    WITH b AS (
      SELECT event_type, CAST(FLOOR(value) AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, CAST(FLOOR(value) AS BIGINT)
    )
    SELECT event_type, bucket AS mode_bucket, c AS n_obs FROM (
      SELECT b.*, ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY c DESC, bucket) AS rn
      FROM b) t
    WHERE rn = 1 ORDER BY event_type
    """,
)
def d77_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode per group (most frequent integer value bucket,
    smallest bucket on ties) — the one classical location statistic the
    d24/d59/d60/d75 family didn't cover; mode-of-bucket is the standard
    "typical value" readout for skewed metrics where mean and median
    both mislead.

    Plan: two-level aggregation — the (group, bucket) count partial-
    aggregates map-side, then the per-group argmax window runs over the
    BUCKET table (|groups|·|buckets| rows, not corpus rows). Both
    stages key on event_type, so AQE coalesces to one effective
    exchange of bucket-table size.
    """
    ev = load_table(spark, sf_dir, "events")
    b = (
        ev.select(
            "event_type", F.floor("value").cast("bigint").alias("bucket")
        )
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w = W.partitionBy("event_type").orderBy(F.desc("c"), "bucket")
    return (
        b.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("bucket").alias("mode_bucket"),
            F.col("c").alias("n_obs"),
        )
        .orderBy("event_type")
    )


@query(
    "d78_psi_drift",
    """
    WITH b AS (
      SELECT CAST(FLOOR(value / 50) AS BIGINT) AS bucket,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS a,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS e
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1
    ), t AS (
      SELECT SUM(a) AS ta, SUM(e) AS te FROM b
    ), p AS (
      SELECT bucket,
             (a + 0.5) / (ta + 0.5 * (SELECT count(*) FROM b)) AS pa,
             (e + 0.5) / (te + 0.5 * (SELECT count(*) FROM b)) AS pe
      FROM b CROSS JOIN t
    )
    SELECT bucket,
           CAST(ROUND(CAST((pa - pe) * ln(pa / pe)
                AS DECIMAL(18,10)), 8) AS DOUBLE) AS psi_term
    FROM p ORDER BY bucket
    """,
)
def d78_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index terms between two samples (the
    'click' vs 'purchase' value distributions standing in for
    last-week vs this-week) — THE standard drift monitor a pipeline
    runs between data snapshots: PSI = Σ (pₐ−pₑ)·ln(pₐ/pₑ) over value
    buckets, with the +0.5 Laplace smoothing that keeps empty buckets
    finite. Emitting per-bucket terms (not just the sum) is what makes
    the readout actionable — the offending bucket is visible.

    Plan: one bucket-keyed partial aggregation (conditional sums fold
    map-side), a 1-row total broadcast, row-local term arithmetic —
    control-plane sized output at any scale.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    b = (
        ev.select(
            F.floor(F.col("value") / 50).cast("bigint").alias("bucket"),
            "event_type",
        )
        .groupBy("bucket")
        .agg(
            F.sum((F.col("event_type") == "click").cast("int"))
            .cast("double")
            .alias("a"),
            F.sum((F.col("event_type") == "purchase").cast("int"))
            .cast("double")
            .alias("e"),
        )
    )
    t = b.agg(
        F.sum("a").alias("ta"),
        F.sum("e").alias("te"),
        F.count(F.lit(1)).cast("double").alias("nb"),
    )
    pa = (F.col("a") + 0.5) / (F.col("ta") + 0.5 * F.col("nb"))
    pe = (F.col("e") + 0.5) / (F.col("te") + 0.5 * F.col("nb"))
    return (
        b.crossJoin(F.broadcast(t))
        .select(
            "bucket",
            rnd(((pa - pe) * F.log(pa / pe)).cast("decimal(18,10)"), 8).alias(
                "psi_term"
            ),
        )
        .orderBy("bucket")
    )


@query(
    "d79_ks_drift",
    """
    WITH s AS (
      SELECT value,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cb
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY value
    ), c AS (
      SELECT value,
             SUM(ca) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS cca,
             SUM(cb) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS ccb
      FROM s
    ), t AS (
      SELECT CAST(SUM(ca) AS DOUBLE) AS na, CAST(SUM(cb) AS DOUBLE) AS nb
      FROM s
    )
    SELECT CAST(na AS BIGINT) AS n1, CAST(nb AS BIGINT) AS n2,
           CAST(ROUND(CAST(MAX(ABS(cca / na - ccb / nb))
                AS DECIMAL(18,10)), 8) AS DOUBLE) AS ks_d
    FROM c CROSS JOIN t GROUP BY na, nb
    """,
)
def d79_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between the
    'click' and 'purchase' value distributions — the nonparametric
    drift test that catches shape changes equal-mass buckets (d78's
    PSI) can smear away: D = max over observed values of
    |F̂₁(v) − F̂₂(v)|.

    The empirical CDFs need a GLOBAL cumulative sum over values, which
    is where a naive window would collapse to one partition. Same cure
    as the export/bucket paths: range-partition the per-value counts,
    collect the 32-row per-partition subtotals for BOTH samples,
    broadcast the prefix offsets, and run partition-LOCAL cumulative
    windows — the exact CDFs, fully parallel. Everything else is a
    value-keyed partial agg and a 1-row max.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    s = (
        ev.select("value", "event_type")
        .groupBy("value")
        .agg(
            F.sum((F.col("event_type") == "click").cast("int")).alias("ca"),
            F.sum((F.col("event_type") == "purchase").cast("int")).alias(
                "cb"
            ),
        )
    )
    # deterministic ordered buckets (NOT repartitionByRange: its
    # sampled boundaries carry a per-job seed, so the offsets job and
    # this job could disagree — see operators/ranking.py)
    from pgsink_spark.operators.ranking import ordered_bucket

    s = s.withColumn("bucket", ordered_bucket(s, F.col("value"), 32))
    subtotals = {
        r["bucket"]: (r["sa"], r["sb"])
        for r in s.groupBy("bucket")
        .agg(F.sum("ca").alias("sa"), F.sum("cb").alias("sb"))
        .collect()
    }
    off_a, off_b, acc_a, acc_b = {}, {}, 0, 0
    for b in sorted(subtotals):
        off_a[b], off_b[b] = acc_a, acc_b
        acc_a += subtotals[b][0]
        acc_b += subtotals[b][1]
    na, nb = float(acc_a), float(acc_b)

    def offmap(d: dict) -> Column:
        return F.element_at(
            F.create_map(
                *[F.lit(x) for kv in sorted(d.items()) for x in kv]
            ),
            F.col("bucket"),
        )

    wloc = (
        W.partitionBy("bucket")
        .orderBy("value")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cdf = s.select(
        "bucket",
        "ca",
        "cb",
        ((F.sum("ca").over(wloc) + offmap(off_a)) / F.lit(na)).alias("f1"),
        ((F.sum("cb").over(wloc) + offmap(off_b)) / F.lit(nb)).alias("f2"),
    )
    return cdf.agg(
        F.lit(int(acc_a)).cast("bigint").alias("n1"),
        F.lit(int(acc_b)).cast("bigint").alias("n2"),
        rnd(
            F.max(F.abs(F.col("f1") - F.col("f2"))).cast("decimal(18,10)"), 8
        ).alias("ks_d"),
    )


ASOF_TOL_US = 600_000_000  # ±10 min


@query(
    "d80_asof_tolerance",
    f"""
    WITH p AS (
      SELECT event_id, user_id, epoch_us(ts) AS us
      FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT event_id, user_id, epoch_us(ts) AS us
      FROM events WHERE event_type = 'click'
    ), before_c AS (
      SELECT p.event_id, c.event_id AS cid, p.us - c.us AS d
      FROM p JOIN c ON p.user_id = c.user_id AND c.us <= p.us
      QUALIFY row_number() OVER (
        PARTITION BY p.event_id ORDER BY c.us DESC, c.event_id DESC) = 1
    ), after_c AS (
      SELECT p.event_id, c.event_id AS cid, c.us - p.us AS d
      FROM p JOIN c ON p.user_id = c.user_id AND c.us > p.us
      QUALIFY row_number() OVER (
        PARTITION BY p.event_id ORDER BY c.us ASC, c.event_id ASC) = 1
    )
    SELECT p.event_id AS purchase_id, p.user_id,
           CASE
             WHEN b.d <= {ASOF_TOL_US}
              AND (a.d IS NULL OR b.d <= a.d OR a.d > {ASOF_TOL_US})
               THEN b.cid
             WHEN a.d <= {ASOF_TOL_US} THEN a.cid
           END AS click_id,
           CASE
             WHEN b.d <= {ASOF_TOL_US}
              AND (a.d IS NULL OR b.d <= a.d OR a.d > {ASOF_TOL_US})
               THEN b.d
             WHEN a.d <= {ASOF_TOL_US} THEN -a.d
           END AS diff_us
    FROM p
    LEFT JOIN before_c b ON b.event_id = p.event_id
    LEFT JOIN after_c a ON a.event_id = p.event_id
    ORDER BY purchase_id
    """,
)
def d80_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor as-of join with a tolerance: each purchase
    matches its temporally CLOSEST click (either direction) within
    ±10 min, ties broken toward the earlier (backward) click — the
    pandas ``merge_asof(direction='nearest', tolerance=...)``
    semantics that plain backward as-of (d22) can't express.

    Spark-first shape: NO range self-join (quadratic per user).
    Both event sets union into one frame, one user-keyed sort, and two
    running extremes — max(struct(ts,id)) over preceding clicks, min
    over following — give the backward/forward candidates in a single
    pass; the nearest-within-tolerance choice is then a row-local CASE.
    One shuffle on user_id at any scale. The deterministic tie ladder
    (backward beats forward at equal distance; same-ts clicks resolve
    to max id backward / min id forward via the struct ordering) is
    encoded identically in the oracle's QUALIFY row_number order.

    Parity: reference has no as-of surface; this extends d22
    (pkg-parity note there) to the tolerance/nearest case training
    pipelines use for clickstream attribution and sensor alignment.
    """
    events = load_table(spark, sf_dir, "events")
    both = events.where(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        (F.col("event_type") == "purchase").cast("int").alias("is_p"),
        F.when(
            F.col("event_type") == "click",
            F.struct(
                F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
                F.col("event_id").alias("cid"),
            ),
        ).alias("c"),
    )
    # clicks sort before purchases at equal ts (is_p), so the preceding
    # frame includes same-ts clicks (inclusive <=) and the following
    # frame only strictly-later ones — mirroring the oracle's bounds.
    order = [F.col("us"), F.col("is_p"), F.col("event_id")]
    wb = (
        W.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    wa = (
        W.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(1, W.unboundedFollowing)
    )
    cand = (
        both.withColumn("bc", F.max("c").over(wb))
        .withColumn("ac", F.min("c").over(wa))
        .where(F.col("is_p") == 1)
    )
    bd = F.col("us") - F.col("bc.us")
    ad = F.col("ac.us") - F.col("us")
    b_ok = F.col("bc").isNotNull() & (bd <= ASOF_TOL_US)
    a_ok = F.col("ac").isNotNull() & (ad <= ASOF_TOL_US)
    take_b = b_ok & (~a_ok | (bd <= ad))
    return cand.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.when(take_b, F.col("bc.cid"))
        .when(a_ok, F.col("ac.cid"))
        .alias("click_id"),
        F.when(take_b, bd).when(a_ok, -ad).alias("diff_us"),
    ).orderBy("purchase_id")


CMS_DEPTH = 3
CMS_WIDTH = 2048
CMS_SUPPORT = 0.001


@query(
    "d81_cms_heavy_hitters",
    f"""
    WITH hh AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt
      FROM orders GROUP BY o_custkey
      HAVING count(*) > {CMS_SUPPORT} * (SELECT count(*) FROM orders)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_heavy,
           CAST(coalesce(sum(cnt), 0) AS BIGINT) AS heavy_total,
           TRUE AS no_underestimate,
           TRUE AS within_bound
    FROM hh
    """,
)
def d81_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Falsifiable gate for a Count-Min sketch over the order
    foreign-key stream — the OTHER mergeable heavy-hitter summary
    (d68's freqItems/Misra-Gries can only under-count; CMS can only
    OVER-count). The sketch is depth×width bucket counts built as a
    plain groupBy — per-partition partial counts merge associatively,
    exactly how per-executor sketches merge on a cluster. The gate
    queries the sketch for every EXACT heavy hitter and checks two
    properties: est ≥ true for ALL keys (deterministic — a single
    violation means the merge is broken) and MEAN overestimate ≤
    depth·N/width (E[per-row collision mass] = (N−cnt)/width, so the
    mean of the min-over-rows clears this with 3× slack — unlike a
    per-key max bound, which the 1/e^depth tail is EXPECTED to breach
    once hundreds of keys are probed). The oracle pins the exact
    heavy-hitter census and TRUE booleans — a broken sketch flips the
    hash red.

    Scale: the sketch state is depth·width counters regardless of N;
    the build is one map-side-combined shuffle of at most depth·width
    groups; probing joins a broadcast sketch. The exact census is the
    gate's witness only.
    """
    orders = load_table(spark, sf_dir, "orders")
    keys = orders.select(F.col("o_custkey").alias("k"))
    n_total = keys.count()
    seeds = F.array(*[F.lit(i) for i in range(CMS_DEPTH)])
    hashed = keys.select(
        "k", F.explode(seeds).alias("seed")
    ).select(
        "k",
        "seed",
        F.pmod(F.xxhash64("k", "seed"), F.lit(CMS_WIDTH)).alias("bucket"),
    )
    sketch = hashed.groupBy("seed", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("bc")
    )
    heavy = (
        keys.groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .where(F.col("cnt") > CMS_SUPPORT * n_total)
    )
    probes = heavy.select(
        "k", "cnt", F.explode(seeds).alias("seed")
    ).select(
        "k",
        "cnt",
        "seed",
        F.pmod(F.xxhash64("k", "seed"), F.lit(CMS_WIDTH)).alias("bucket"),
    )
    est = (
        probes.join(F.broadcast(sketch), ["seed", "bucket"])
        .groupBy("k", "cnt")
        .agg(F.min("bc").alias("est"))
    )
    bound = CMS_DEPTH * n_total / CMS_WIDTH
    return est.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_heavy"),
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("heavy_total"),
        F.coalesce(F.bool_and(F.col("est") >= F.col("cnt")), F.lit(True)).alias(
            "no_underestimate"
        ),
        F.coalesce(
            F.avg(F.col("est") - F.col("cnt")) <= bound, F.lit(True)
        ).alias("within_bound"),
    )


_CORR_VARS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_CORR_PAIRS = [
    (a, b)
    for i, a in enumerate(_CORR_VARS)
    for b in _CORR_VARS[i + 1 :]
]


def _corr_oracle() -> str:
    sums = ",\n             ".join(
        f"SUM(CAST({v} AS DECIMAL(18,4))) AS s_{v}" for v in _CORR_VARS
    ) + ",\n             " + ",\n             ".join(
        # width 19 forces DuckDB's hugeint multiply path (the 18,4
        # product would overflow its int64 fast path on price×price)
        f"SUM(CAST({a} AS DECIMAL(19,4)) * CAST({b} AS DECIMAL(19,4)))"
        f" AS p_{a}_{b}"
        for a in _CORR_VARS
        for b in _CORR_VARS
        if a <= b
    )
    def pname(a: str, b: str) -> str:
        return f"p_{min(a,b)}_{max(a,b)}"
    selects = "\n      UNION ALL ".join(
        f"SELECT '{a}' AS var_x, '{b}' AS var_y, CAST(ROUND(CAST("
        f"(n * CAST({pname(a,b)} AS DOUBLE) "
        f"- CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE)) "
        f"/ (SQRT(n * CAST({pname(a,a)} AS DOUBLE) "
        f"- CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE)) "
        f"* SQRT(n * CAST({pname(b,b)} AS DOUBLE) "
        f"- CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)))"
        f" AS DECIMAL(18,10)), 8) AS DOUBLE) AS corr FROM s"
        for a, b in _CORR_PAIRS
    )
    return f"""
    WITH s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             {sums}
      FROM lineitem
    )
    {selects}
    ORDER BY var_x, var_y
    """


@query("d82_corr_matrix", _corr_oracle())
def d82_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the lineitem measures
    (quantity, extendedprice, discount, tax) in long form — the
    feature-screening pass a pipeline runs before training or drift
    analysis, and the one place `F.corr` alone is NOT the right tool:
    six independent `corr` aggregates would be six passes or one
    wide-agg with doubled float drift.

    Single-pass shape: ONE partial aggregation computes all moment
    sums (Σx per var, Σxy per ordered pair) as exact DECIMALs —
    map-side combinable, a 1-row shuffle — then every corr value is a
    row-local closed form (n·Σxy − ΣxΣy) / (σx·σy) evaluated in
    float64 from those exact sums, so engine summation order cannot
    move a bit. The matrix unpivots with `stack`, never a second scan.

    Scale: the aggregate state is 14 decimals regardless of row count;
    adding variables grows state quadratically but the pass count stays
    one. Parity: beyond-reference analytics surface (the reference has
    no stats plane); matches DuckDB's corr() to 8 decimals by
    construction.
    """
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for v in _CORR_VARS:
        aggs.append(F.sum(dec(v)).alias(f"s_{v}"))
    for a in _CORR_VARS:
        for b in _CORR_VARS:
            if a <= b:
                aggs.append(F.sum(dec(a) * dec(b)).alias(f"p_{a}_{b}"))
    s = li.agg(*aggs)

    def pcol(a: str, b: str) -> Column:
        lo, hi = min(a, b), max(a, b)
        return F.col(f"p_{lo}_{hi}").cast("double")

    def corr_expr(a: str, b: str) -> Column:
        n = F.col("n")
        num = n * pcol(a, b) - F.col(f"s_{a}").cast("double") * F.col(
            f"s_{b}"
        ).cast("double")
        da = F.sqrt(
            n * pcol(a, a)
            - F.col(f"s_{a}").cast("double") * F.col(f"s_{a}").cast("double")
        )
        db = F.sqrt(
            n * pcol(b, b)
            - F.col(f"s_{b}").cast("double") * F.col(f"s_{b}").cast("double")
        )
        return rnd((num / (da * db)).cast("decimal(18,10)"), 8)

    # one row → 6 rows via explode, so the moment sums compute ONCE
    # (a unionAll of per-pair selects would re-run the aggregate per
    # pair — 6 scans for a 1-row result)
    cells = F.array(
        *[
            F.struct(
                F.lit(a).alias("var_x"),
                F.lit(b).alias("var_y"),
                corr_expr(a, b).alias("corr"),
            )
            for a, b in _CORR_PAIRS
        ]
    )
    return (
        s.select(F.explode(cells).alias("cell"))
        .select("cell.var_x", "cell.var_y", "cell.corr")
        .orderBy("var_x", "var_y")
    )


_SEQ_PATTERN = "s[vc]*p"  # signup, any browsing, purchase


@query(
    "d83_seq_match",
    f"""
    WITH seqs AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY ts, event_id) AS seq
      FROM events
      GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(seq) AS BIGINT) AS seq_len,
           CAST(len(regexp_extract_all(seq,
                '{_SEQ_PATTERN}')) AS BIGINT) AS n_matches,
           regexp_extract(seq, '{_SEQ_PATTERN}') AS first_match
    FROM seqs
    WHERE regexp_matches(seq, '{_SEQ_PATTERN}')
    ORDER BY user_id
    """,
)
def d83_seq_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite: regex pattern detection over each user's
    ORDERED event-type sequence — the Trino/Flink `MATCH_RECOGNIZE
    (PATTERN (S (V|C)* P))` surface Spark SQL lacks, re-expressed as
    encode-to-string + regex. Each user's events collapse to one
    character per event (s/v/c/p/e = first letter, all distinct);
    `s[vc]*p` then finds signup→browse*→purchase journeys; emitted per
    user: sequence length, count of NON-OVERLAPPING matches (both
    engines scan left-to-right greedy — identical for this pattern
    class), and the first matched journey.

    Plan: one user-keyed shuffle (partial `collect_list` combines
    map-side), then `array_sort` + `regexp_count` are row-local — the
    per-key-bounded-sequence contract every sessionization op here
    shares (a user's event history fits one row; the CORPUS never
    does). No window over the global stream, no self-join over events.

    Parity: beyond-reference (CEP surface); same fixture journey
    definitions as d49_funnel, which checks one fixed 3-step funnel —
    this generalizes to arbitrary regex programs.
    """
    ev = load_table(spark, sf_dir, "events")
    seqs = (
        ev.select(
            "user_id",
            F.struct(
                F.col("ts"), F.col("event_id"),
                F.substring("event_type", 1, 1).alias("c"),
            ).alias("e"),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("e")), lambda x: x["c"]
                ),
                "",
            ).alias("seq")
        )
    )
    return (
        seqs.select(
            "user_id",
            F.length("seq").cast("bigint").alias("seq_len"),
            F.regexp_count("seq", F.lit(_SEQ_PATTERN))
            .cast("bigint")
            .alias("n_matches"),
            F.regexp_extract("seq", _SEQ_PATTERN, 0).alias("first_match"),
        )
        .where(F.col("n_matches") > 0)
        .orderBy("user_id")
    )


KMV_K = 256
_KMV_M = float(1 << 52)  # md5-52-bit hash space, exact in double
_KMV_CUT = "1998-07-01"


def _kmv_h(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 13), 16, 10).cast(
        "long"
    )


_KMV_H_SQL = (
    "CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 13)) "
    "AS BIGINT)"
)


@query(
    "d84_kmv_setops",
    f"""
    WITH ka AS (
      SELECT DISTINCT {_KMV_H_SQL} AS h FROM orders
      WHERE o_orderdate < DATE '{_KMV_CUT}'
    ), kb AS (
      SELECT DISTINCT {_KMV_H_SQL} AS h FROM orders
      WHERE o_orderdate >= DATE '{_KMV_CUT}'
    ), sa AS (SELECT h FROM ka ORDER BY h LIMIT {KMV_K}),
    sb AS (SELECT h FROM kb ORDER BY h LIMIT {KMV_K}),
    su AS (
      SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb)
      ORDER BY h LIMIT {KMV_K}
    ),
    stats AS (
      SELECT
        (SELECT count(*) FROM sa) AS ca,
        (SELECT max(h) FROM sa) AS ma,
        (SELECT count(*) FROM sb) AS cb,
        (SELECT max(h) FROM sb) AS mb,
        (SELECT count(*) FROM su) AS cu,
        (SELECT max(h) FROM su) AS mu,
        (SELECT count(*) FROM su
         WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb))
          AS nboth
    ),
    exact AS (
      SELECT
        CAST(count(DISTINCT CASE WHEN o_orderdate < DATE '{_KMV_CUT}'
             THEN o_custkey END) AS BIGINT) AS exact_a,
        CAST(count(DISTINCT CASE WHEN o_orderdate >= DATE '{_KMV_CUT}'
             THEN o_custkey END) AS BIGINT) AS exact_b,
        CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_union
      FROM orders
    ),
    einter AS (
      SELECT CAST(count(*) AS BIGINT) AS exact_inter FROM (
        SELECT o_custkey FROM orders GROUP BY o_custkey
        HAVING bool_or(o_orderdate < DATE '{_KMV_CUT}')
           AND bool_or(o_orderdate >= DATE '{_KMV_CUT}')
      )
    )
    SELECT exact_a, exact_b, exact_union, exact_inter,
      CAST(ROUND(CAST(CASE WHEN ca < {KMV_K} THEN CAST(ca AS DOUBLE)
        ELSE CAST({KMV_K - 1} AS DOUBLE) * CAST({int(_KMV_M)} AS DOUBLE) / CAST(ma AS DOUBLE) END
        AS DECIMAL(18,6)), 4) AS DOUBLE) AS est_a,
      CAST(ROUND(CAST(CASE WHEN cb < {KMV_K} THEN CAST(cb AS DOUBLE)
        ELSE CAST({KMV_K - 1} AS DOUBLE) * CAST({int(_KMV_M)} AS DOUBLE) / CAST(mb AS DOUBLE) END
        AS DECIMAL(18,6)), 4) AS DOUBLE) AS est_b,
      CAST(ROUND(CAST(CASE WHEN cu < {KMV_K} THEN CAST(cu AS DOUBLE)
        ELSE CAST({KMV_K - 1} AS DOUBLE) * CAST({int(_KMV_M)} AS DOUBLE) / CAST(mu AS DOUBLE) END
        AS DECIMAL(18,6)), 4) AS DOUBLE) AS est_union,
      CAST(nboth AS BIGINT) AS n_both,
      TRUE AS within_bound_a,
      TRUE AS within_bound_b,
      TRUE AS within_bound_union
    FROM stats CROSS JOIN exact CROSS JOIN einter
    """,
)
def d84_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / theta-sketch-family) distinct sketches
    with MERGEABLE set operations — estimate |A|, |B|, |A∪B| and the
    intersection evidence for two customer populations (buyers before
    vs since mid-1998) from 256-value sketches, gated against the exact censuses.
    This is the mergeable-sketch pattern DataSketches' theta sketch
    ships for warehouse rollups: per-partition k-smallest-hash sets
    merge associatively (the k smallest of a union are always within
    each side's k smallest), so executor-local sketches combine
    losslessly — exactly what d35's HLL does for cardinality but with
    SET ALGEBRA (union/intersection) the HLL register array cannot do.

    Estimator: with h uniform on [0, 2^52), est = (k−1)·2^52 / h_(k)
    (classic KMV), exact when the population is smaller than k.
    n_both counts union-sketch members present in BOTH sketches — the
    Jaccard numerator; membership testing against the union sketch is
    sound because h_(k) of the union is ≤ either side's h_(k).
    md5-based hashing makes every value bit-reproducible on both
    engines, so the oracle pins est values EXACTLY and the bound gates
    (relative error ≤ 15% at k=256, ~2.4σ) are TRUE literals a broken
    sketch flips red.

    Plan shape: each sketch is distinct-hash (map-side combinable) →
    `orderBy(h).limit(k)` = TakeOrderedAndProject (per-partition top-k,
    no global sort shuffle); everything downstream joins 256-row
    broadcast frames. The exact census is the gate's witness only.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate"
    )
    cut = F.lit(_KMV_CUT).cast("date")
    h = _kmv_h(F.col("o_custkey"))
    ka = (
        orders.where(F.col("o_orderdate") < cut)
        .select(h.alias("h"))
        .distinct()
    )
    kb = (
        orders.where(F.col("o_orderdate") >= cut)
        .select(h.alias("h"))
        .distinct()
    )
    sa = ka.orderBy("h").limit(KMV_K)
    sb = kb.orderBy("h").limit(KMV_K)
    su = sa.union(sb).distinct().orderBy("h").limit(KMV_K)

    def est(cnt: Column, mx: Column) -> Column:
        return F.round(
            F.when(cnt < KMV_K, cnt.cast("double"))
            .otherwise(F.lit(float(KMV_K - 1) * _KMV_M) / mx.cast("double"))
            .cast("decimal(18,6)"),
            4,
        ).cast("double")

    stat_a = sa.agg(
        F.count("h").alias("ca"), F.max("h").alias("ma")
    )
    stat_b = sb.agg(F.count("h").alias("cb"), F.max("h").alias("mb"))
    stat_u = su.agg(F.count("h").alias("cu"), F.max("h").alias("mu"))
    nboth = (
        su.join(F.broadcast(sa), "h", "semi")
        .join(F.broadcast(sb), "h", "semi")
        .agg(F.count("h").alias("nboth"))
    )
    g = orders.groupBy("o_custkey").agg(
        F.max((F.col("o_orderdate") < cut).cast("int")).alias("in_a"),
        F.max((F.col("o_orderdate") >= cut).cast("int")).alias("in_b"),
    )
    exact = g.agg(
        F.sum("in_a").cast("bigint").alias("exact_a"),
        F.sum("in_b").cast("bigint").alias("exact_b"),
        F.count(F.lit(1)).cast("bigint").alias("exact_union"),
        F.sum(
            ((F.col("in_a") == 1) & (F.col("in_b") == 1)).cast("int")
        )
        .cast("bigint")
        .alias("exact_inter"),
    )
    row = (
        exact.crossJoin(F.broadcast(stat_a))
        .crossJoin(F.broadcast(stat_b))
        .crossJoin(F.broadcast(stat_u))
        .crossJoin(F.broadcast(nboth))
    )
    ea = est(F.col("ca"), F.col("ma"))
    eb = est(F.col("cb"), F.col("mb"))
    eu = est(F.col("cu"), F.col("mu"))
    rel = lambda e, x: F.abs(e / x.cast("double") - 1.0)  # noqa: E731
    return row.select(
        "exact_a",
        "exact_b",
        "exact_union",
        "exact_inter",
        ea.alias("est_a"),
        eb.alias("est_b"),
        eu.alias("est_union"),
        F.col("nboth").cast("bigint").alias("n_both"),
        (rel(ea, F.col("exact_a")) <= 0.15).alias("within_bound_a"),
        (rel(eb, F.col("exact_b")) <= 0.15).alias("within_bound_b"),
        (rel(eu, F.col("exact_union")) <= 0.15).alias(
            "within_bound_union"
        ),
    )


BLOOM_M = 8192  # bits
BLOOM_K = 3
BLOOM_SEG = "BUILDING"


@query(
    "d85_bloom_join_reduce",
    f"""
    SELECT CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP)
             AS month,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))), 2)
                AS DOUBLE) AS revenue
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE c.c_mktsegment = '{BLOOM_SEG}'
    GROUP BY 1 ORDER BY 1
    """,
)
def d85_bloom_join_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter SEMI-JOIN REDUCTION: the '{seg}'-segment revenue
    join, with the fact scan pre-filtered by a Bloom bitset built from
    the dimension's keys BEFORE the join — the shuffle-reduction
    pattern Spark's own runtime row-level filtering applies when it
    can (spark.sql.optimizer.runtime.bloomFilter; the expression
    `bloom_filter_agg` is not public API, so this builds the identical
    structure from first principles and keeps it inspectable).

    Correctness is free by construction and the oracle proves it: a
    Bloom filter admits false POSITIVES only, and the exact join runs
    after it, so the result must equal the plain join — any false
    NEGATIVE (broken hashing, truncated bitset, word-index bug) drops
    revenue rows and flips the hash red.

    Plan: the bitset is m=8192 bits (128 longs) collected on the
    driver from the ~300 dimension keys (control-plane sized: m bits,
    NOT key count) and inlined as a literal array — zero-cost
    broadcast; the fact scan then evaluates k=3 bit-probes row-locally
    and the exact broadcast join sees only surviving rows. On a
    cluster this is what turns a 100 TB shuffle into a filtered one —
    the filter travels in the PLAN, not through an exchange.
    """
    filtered, cust = bloom_prefiltered_orders(spark, sf_dir)
    joined = filtered.join(
        F.broadcast(cust.select("c_custkey")),
        filtered["o_custkey"] == F.col("c_custkey"),
    )
    return (
        joined.groupBy(
            F.date_trunc("month", "o_orderdate").alias("month")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            rnd(F.sum(dec("o_totalprice")), 2).alias("revenue"),
        )
        .orderBy("month")
    )


def bloom_prefiltered_orders(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The Bloom-probe stage of d85, exposed so tests can assert the
    filter genuinely REDUCES the fact scan (row count between the true
    match count and true + FP margin), not just that the downstream
    exact join hides an all-ones bitset. Returns (filtered orders,
    segment dimension)."""
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == BLOOM_SEG
    )
    positions = (
        cust.select(
            F.explode(
                F.array(
                    *[
                        F.pmod(
                            F.xxhash64(F.col("c_custkey"), F.lit(i)),
                            F.lit(BLOOM_M),
                        )
                        for i in range(BLOOM_K)
                    ]
                )
            ).alias("pos")
        )
        .distinct()
        .collect()
    )
    words = [0] * (BLOOM_M // 64)
    for r in positions:
        p = int(r["pos"])
        words[p // 64] |= 1 << (p % 64)
    # two's-complement into signed 64-bit literals
    word_col = F.array(
        *[
            F.lit(w - (1 << 64) if w >= (1 << 63) else w).cast("long")
            for w in words
        ]
    )

    orders = load_table(spark, sf_dir, "orders")
    o = orders
    for i in range(BLOOM_K):
        pos = F.pmod(F.xxhash64(F.col("o_custkey"), F.lit(i)), F.lit(BLOOM_M))
        o = o.withColumn(
            f"_bw{i}", F.element_at(word_col, (pos / 64).cast("int") + 1)
        ).withColumn(f"_bp{i}", F.pmod(pos, F.lit(64)).cast("int"))
    cond = F.expr(
        " AND ".join(f"((_bw{i} >> _bp{i}) & 1) = 1" for i in range(BLOOM_K))
    )
    filtered = o.where(cond).drop(
        *[c for i in range(BLOOM_K) for c in (f"_bw{i}", f"_bp{i}")]
    )
    return filtered, cust


d85_bloom_join_reduce.__doc__ = d85_bloom_join_reduce.__doc__.format(
    seg=BLOOM_SEG
)


HOLT_CUT = "2024-01-17"  # first 16 days — keeps dyadic denominators
# within float64's 52-bit mantissa so the recurrence is EXACT


@query(
    "d86_holt_forecast",
    f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
               AS cents
      FROM events WHERE ts < TIMESTAMP '{HOLT_CUT}'
      GROUP BY 1, 2
    ), series AS (
      SELECT event_type, list([cents] ORDER BY day) AS xs,
             CAST(count(*) AS BIGINT) AS n_days
      FROM daily GROUP BY event_type
    ), fold AS (
      SELECT event_type, n_days,
             list_reduce(xs, (acc, x) -> CASE
               WHEN len(acc) = 1 THEN [
                 (x[1] + acc[1] + 0.0) / 2,
                 ((x[1] + acc[1] + 0.0) / 2 - acc[1] + 0.0) / 2]
               ELSE [
                 (x[1] + acc[1] + acc[2]) / 2,
                 ((x[1] + acc[1] + acc[2]) / 2 - acc[1] + acc[2]) / 2]
             END) AS f
      FROM series
    )
    SELECT event_type, n_days,
           CAST(ROUND(CAST(f[1] / 100 AS DECIMAL(18,6)), 4) AS DOUBLE)
             AS level,
           CAST(ROUND(CAST(CASE WHEN len(f) = 1 THEN 0.0 ELSE f[2] END
                / 100 AS DECIMAL(18,6)), 4) AS DOUBLE) AS trend,
           CAST(ROUND(CAST((f[1] + 1 * CASE WHEN len(f) = 1 THEN 0.0
                ELSE f[2] END) / 100 AS DECIMAL(18,6)), 4) AS DOUBLE)
             AS fc_1,
           CAST(ROUND(CAST((f[1] + 2 * CASE WHEN len(f) = 1 THEN 0.0
                ELSE f[2] END) / 100 AS DECIMAL(18,6)), 4) AS DOUBLE)
             AS fc_2,
           CAST(ROUND(CAST((f[1] + 3 * CASE WHEN len(f) = 1 THEN 0.0
                ELSE f[2] END) / 100 AS DECIMAL(18,6)), 4) AS DOUBLE)
             AS fc_3
    FROM fold ORDER BY event_type
    """,
)
def d86_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + linear trend,
    α = β = 1/2) over each event_type's daily revenue, with a 3-step
    forecast — the trend-aware upgrade of the per-key EWMA family
    (stream_ewma_anomalies smooths level only; Holt also carries slope,
    which is what forecasting and drift EXTRAPOLATION need).

    Exactness by construction: daily sums fold in integer CENTS, and
    α = β = 1/2 makes every recurrence value a dyadic rational; 16
    days × 2-divisions keep numerators inside float64's 52-bit
    mantissa, so BOTH engines' folds are exact binary arithmetic with
    zero rounding — the hash pins the whole recurrence, not a
    tolerance. (The general-α case would need the decimal-logs
    treatment text_bigram_perplexity uses.)

    Plan: one (type, day)-keyed partial agg, one type-keyed
    collect+`aggregate` fold over the BOUNDED daily series (16
    elements — the per-key-bounded-sequence contract), 5-row output.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts") < F.lit(HOLT_CUT).cast("timestamp")
    )
    daily = (
        ev.groupBy(
            "event_type", F.date_trunc("day", "ts").alias("day")
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("double")
            .alias("cents")
        )
    )
    series = daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "cents"))),
            lambda x: x["cents"],
        ).alias("xs"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    zero = F.struct(
        F.lit(0).alias("s"), F.lit(0.0).alias("l"), F.lit(0.0).alias("b")
    )

    def step(acc, x):
        first = acc["s"] == 0
        l_new = F.when(first, x).otherwise((x + acc["l"] + acc["b"]) / 2)
        b_new = F.when(first, F.lit(0.0)).otherwise(
            (l_new - acc["l"] + acc["b"]) / 2
        )
        return F.struct(
            F.lit(1).alias("s"), l_new.alias("l"), b_new.alias("b")
        )

    folded = series.select(
        "event_type",
        "n_days",
        F.aggregate(F.col("xs"), zero, step).alias("f"),
    )

    def money(c: Column) -> Column:
        return rnd((c / 100).cast("decimal(18,6)"), 4)

    return folded.select(
        "event_type",
        "n_days",
        money(F.col("f.l")).alias("level"),
        money(F.col("f.b")).alias("trend"),
        money(F.col("f.l") + 1 * F.col("f.b")).alias("fc_1"),
        money(F.col("f.l") + 2 * F.col("f.b")).alias("fc_2"),
        money(F.col("f.l") + 3 * F.col("f.b")).alias("fc_3"),
    ).orderBy("event_type")


@query(
    "d87_rolling_distinct",
    """
    SELECT DISTINCT event_type,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(DISTINCT user_id) OVER (
             PARTITION BY event_type
             ORDER BY CAST(date_trunc('day', ts) AS TIMESTAMP)
             RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
           ) AS users_7d
    FROM events
    ORDER BY event_type, day
    """,
)
def d87_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day DISTINCT-user count per event_type — the rolling
    reach/active-users metric, and a window Spark cannot express
    directly (DISTINCT inside a window aggregate is unsupported).
    Spark-first emulation in two steps that also SHRINKS the window
    state: first a (type, day) partial aggregation folds each day to
    its user SET (map-side combinable — the census the window needs,
    deduped once per day), then a RANGE frame over the day-granular
    rows unions ≤ 7 sets per output row. The frame is a true RANGE on
    days (rangeBetween on a day ordinal), so sparse days — present at
    sf0.001 — window correctly where a ROWS frame would silently span
    months.

    Scale honesty: an exact rolling distinct must hold the window's
    user census per (type, day); at 100 TB reach is served by the
    MERGEABLE sketches instead (d35's HLL registers or d84's KMV
    k-minima union — both pane-combinable), trading the exact count
    for O(k) state. This operator is the exact-witness twin of that
    pattern at a per-key census that fits (per-day per-type user sets).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.date_trunc("day", "ts").alias("day"),
            "user_id",
        )
        .groupBy("event_type", "day")
        .agg(F.collect_set("user_id").alias("uset"))
        .withColumn(
            "day_ord", F.datediff(F.col("day"), F.lit("2024-01-01"))
        )
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("day_ord")
        .rangeBetween(-6, 0)
    )
    return (
        daily.select(
            "event_type",
            "day",
            F.size(
                F.array_distinct(F.flatten(F.collect_list("uset").over(w)))
            )
            .cast("bigint")
            .alias("users_7d"),
        )
        .orderBy("event_type", "day")
    )


KMV_REACH_K = 256


@query(
    "d88_kmv_reach",
    f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             list_slice(list_sort(list(DISTINCT
               CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),
                    1, 13)) AS BIGINT))), 1, {KMV_REACH_K}) AS pane,
             list(DISTINCT user_id) AS uset
      FROM events GROUP BY 1, 2
    ), rolled AS (
      SELECT event_type, day,
             list_slice(list_sort(list_distinct(
               flatten(list(pane) OVER w))), 1, {KMV_REACH_K}) AS usk,
             CAST(len(list_distinct(flatten(list(uset) OVER w)))
               AS BIGINT) AS exact_7d
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   RANGE BETWEEN INTERVAL 6 DAY PRECEDING
                   AND CURRENT ROW)
    )
    SELECT event_type, day, exact_7d,
      CAST(ROUND(CAST(CASE
        WHEN len(usk) < {KMV_REACH_K} THEN CAST(len(usk) AS DOUBLE)
        ELSE CAST({KMV_REACH_K - 1} AS DOUBLE)
             * CAST(4503599627370496 AS DOUBLE)
             / CAST(usk[{KMV_REACH_K}] AS DOUBLE) END
        AS DECIMAL(18,6)), 4) AS DOUBLE) AS est_7d,
      TRUE AS within_bound
    FROM rolled ORDER BY event_type, day
    """,
)
def d88_kmv_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day reach from MERGEABLE KMV panes — the sketch form
    d87's docstring promises: each (type, day) keeps only its k=256
    smallest user-hashes, and a window row's estimate merges ≤ 7 such
    panes (k smallest of the union — the same mergeability d84
    proves), so the rolling state is O(k · days) instead of the user
    census. The exact census rides along as the gate's witness, and
    every row's estimate is hash-pinned EXACTLY (md5 hashing) with a
    20%-bound boolean the oracle pins TRUE (k=256 → σ ≈ 6.25%;
    measured max |err| across all fixture rows is 12.3% — k=64's
    worst deterministic draw hit 36%, which is why k is 256 here).

    This is the pane pattern a production pipeline ships: daily
    sketches materialize once, any trailing window (7/28/90-day reach)
    merges them without touching raw events again.
    """
    ev = load_table(spark, sf_dir, "events")

    def h(u: Column) -> Column:
        return F.conv(
            F.substring(F.md5(u.cast("string")), 1, 13), 16, 10
        ).cast("long")

    daily = (
        ev.select(
            "event_type",
            F.date_trunc("day", "ts").alias("day"),
            "user_id",
        )
        .groupBy("event_type", "day")
        .agg(F.collect_set("user_id").alias("uset"))
        .withColumn(
            "pane",
            F.slice(
                F.array_sort(F.transform("uset", h)), 1, KMV_REACH_K
            ),
        )
        .withColumn(
            "day_ord", F.datediff(F.col("day"), F.lit("2024-01-01"))
        )
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("day_ord")
        .rangeBetween(-6, 0)
    )
    usk = F.slice(
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list("pane").over(w)))
        ),
        1,
        KMV_REACH_K,
    )
    exact = (
        F.size(
            F.array_distinct(F.flatten(F.collect_list("uset").over(w)))
        )
        .cast("bigint")
    )
    rolled = daily.select(
        "event_type",
        "day",
        exact.alias("exact_7d"),
        usk.alias("usk"),
    )
    n_sk = F.size("usk")
    est = F.round(
        F.when(n_sk < KMV_REACH_K, n_sk.cast("double"))
        .otherwise(
            F.lit(float(KMV_REACH_K - 1) * float(1 << 52))
            / F.try_element_at("usk", F.lit(KMV_REACH_K)).cast("double")
        )
        .cast("decimal(18,6)"),
        4,
    ).cast("double")
    return rolled.select(
        "event_type",
        "day",
        "exact_7d",
        est.alias("est_7d"),
        (
            F.abs(est / F.col("exact_7d").cast("double") - 1.0) <= 0.2
        ).alias("within_bound"),
    ).orderBy("event_type", "day")


@query(
    "d89_trend_robust",
    """
    WITH daily AS (
      SELECT event_type,
             CAST(epoch_us(date_trunc('day', ts)) / 86400000000 AS BIGINT)
               AS o,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ), pairs AS (
      SELECT d1.event_type AS t,
             d2.cents - d1.cents AS dc,
             d2.o - d1.o AS dd
      FROM daily d1 JOIN daily d2
        ON d1.event_type = d2.event_type AND d1.o < d2.o
    ), agg AS (
      SELECT t, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CASE WHEN dc > 0 THEN 1 WHEN dc < 0 THEN -1
                           ELSE 0 END) AS BIGINT) AS mk_s,
             list(CAST(dc AS DOUBLE) / CAST(dd AS DOUBLE)
                  ORDER BY CAST(dc AS DOUBLE) / CAST(dd AS DOUBLE)) AS sl
      FROM pairs GROUP BY t
    )
    SELECT t AS event_type, n_pairs, mk_s,
           CAST(ROUND(CAST(sl[CAST((n_pairs + 1) // 2 AS INT)] / 100
                AS DECIMAL(18,8)), 6) AS DOUBLE) AS sen_slope
    FROM agg ORDER BY event_type
    """,
)
def d89_trend_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust trend statistics per event_type over the daily revenue
    series: the Mann–Kendall S statistic (Σ sign of all pairwise
    day-to-day differences — PURE INTEGER, so the hash pins it with no
    tolerance) and the Theil–Sen slope (lower median of all pairwise
    slopes — the robust complement of d86's Holt trend and d62's
    least-squares: one wild day moves OLS arbitrarily, moves Sen's
    slope not at all).

    Pairwise-but-bounded: pairs enumerate ROW-LOCALLY inside one
    per-key array (30 daily points → 435 pairs — the per-key-bounded-
    series contract shared with d86), never as a self-join over
    events. Slopes are integer-cents / integer-days divisions — one
    correctly-rounded IEEE op per pair on both engines — and the
    median picks an ELEMENT (lower median), so no averaging can smear
    cross-engine bits.

    Plan: one (type, day) partial agg, one type-keyed collect, 5-row
    output; everything between is expression-level.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            (
                F.expr("unix_micros(cast(date_trunc('day', ts) as timestamp))")
                / 86_400_000_000
            )
            .cast("bigint")
            .alias("o"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "cents"
            )
        )
    )
    series = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("o", "cents"))).alias("xs")
    )
    # all i<j pairs, row-local: slice from i+1 on for each element
    pairs = F.flatten(
        F.transform(
            "xs",
            lambda x, i: F.transform(
                F.slice(
                    F.col("xs"), i + 2, F.size("xs")
                ),
                lambda y: F.struct(
                    (y["cents"] - x["cents"]).alias("dc"),
                    (y["o"] - x["o"]).alias("dd"),
                ),
            ),
        )
    )
    with_pairs = series.select("event_type", pairs.alias("ps"))
    mk_s = F.aggregate(
        "ps",
        F.lit(0).cast("bigint"),
        lambda acc, p: acc
        + F.when(p["dc"] > 0, 1).when(p["dc"] < 0, -1).otherwise(0),
    )
    slopes = F.array_sort(
        F.transform(
            "ps", lambda p: p["dc"].cast("double") / p["dd"].cast("double")
        )
    )
    n_pairs = F.size("ps").cast("bigint")
    sen = F.element_at(
        slopes, ((n_pairs + 1) / 2).cast("int")
    )
    return with_pairs.select(
        "event_type",
        n_pairs.alias("n_pairs"),
        mk_s.alias("mk_s"),
        rnd((sen / 100).cast("decimal(18,8)"), 6).alias("sen_slope"),
    ).orderBy("event_type")


def sorted_vocab_hapax(sorted_words: Column) -> Column:
    """``struct(vocab, hapax)`` of a SORTED word array in ONE linear
    fold (r10 optimization).

    The previous neighbor formulation —
    ``size(filter(sw, (x, i) -> x != get(sw, i-1) && x != get(sw, i+1)))``
    with ``sw = array_sort(split(lower(text)))`` — captures the
    *expression* ``sw`` inside the lambda, and Spark re-evaluates the
    captured sort+split for every ``get`` call: O(words²·log words)
    per document (measured 6.7 s vs 0.34 s for the sf0.1 corpus dims
    pass, ~20×). A single ``aggregate`` references the array once and
    carries (prev word, run length, vocab, hapax) through one pass: a
    value different from ``prev`` closes the previous run
    (vocab += 1, hapax += run==1); the finish lambda closes the last
    run. Run-length semantics on the sorted array are exactly
    "distinct count" and "count of words occurring once", so the
    values are identical to the old formulation (verified value-equal
    over every fixture document at all three SFs).
    """
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("vocab"),
        F.lit(0).cast("long").alias("hapax"),
    )

    def step(acc: Column, x: Column) -> Column:
        same = acc["prev"].eqNullSafe(x)
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.when(same, acc["vocab"])
            .otherwise(acc["vocab"] + 1)
            .alias("vocab"),
            F.when(same, acc["hapax"])
            .otherwise(acc["hapax"] + (acc["run"] == 1).cast("long"))
            .alias("hapax"),
        )

    return F.aggregate(
        sorted_words,
        init,
        step,
        lambda acc: F.struct(
            acc["vocab"].alias("vocab"),
            (acc["hapax"] + (acc["run"] == 1).cast("long")).alias("hapax"),
        ),
    )


@query(
    "d90_skyline_pareto",
    """
    WITH dims AS MATERIALIZED (
      SELECT doc_id,
             n_chars AS d_len,
             CAST(len(list_distinct(w)) AS BIGINT) AS d_vocab,
             CAST(len(list_filter(list_distinct(w),
                    x -> len(list_filter(w, y -> y = x)) = 1))
               AS BIGINT) AS d_hapax
      FROM (SELECT doc_id, n_chars, string_split(lower(text), ' ') AS w
            FROM documents)
    )
    SELECT a.doc_id, a.d_len, a.d_vocab, a.d_hapax
    FROM dims a
    WHERE NOT EXISTS (
      SELECT 1 FROM dims b
      WHERE b.d_len >= a.d_len AND b.d_vocab >= a.d_vocab
        AND b.d_hapax >= a.d_hapax
        AND (b.d_len > a.d_len OR b.d_vocab > a.d_vocab
             OR b.d_hapax > a.d_hapax)
    )
    ORDER BY doc_id
    """,
)
def d90_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE (Pareto front) over three document-quality axes —
    length (n_chars), vocabulary size (distinct words), and hapax
    count (words used exactly once): the multi-criteria curation cut
    "keep every document no other document beats on ALL axes at once",
    the standard way to trade off length vs richness without inventing
    a single scalar score. Equal-on-every-axis ties are mutually
    non-dominating, so both survive — the skyline is a pure function
    of the SET, independent of partitioning.

    Spark-first shape (two-phase distributed skyline, the classic
    block-partitioned design): the three axes are ONE row-local
    projection; phase 1 computes a per-partition Pareto scan inside
    mapInPandas (sort desc-lexicographic, then a frontier sweep — a
    dominator always sorts before its victims, so one pass suffices
    and the partition's candidate set only shrinks); phase 2 repeats
    the identical scan over the UNION of partition skylines in one
    task. Phase 2's input is the only non-row-local traffic and is
    front-sized (≈√n empirically, KB-scale), never corpus-sized —
    the same control-plane-merge shape as the bucket-offset maps in
    export. The oracle states dominance declaratively (NOT EXISTS),
    so the driver hash pins the full set semantics, not the scan
    order.
    """
    import pandas as pd  # noqa: PLC0415

    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.lower("text"), " ")
    # vocab + hapax in ONE linear fold over the sorted array (r10: the
    # neighbor-lambda formulation re-evaluated the captured sort per
    # element — see sorted_vocab_hapax)
    vh = sorted_vocab_hapax(F.array_sort(w))
    dims = docs.select(
        "doc_id",
        F.col("n_chars").alias("d_len"),
        vh["vocab"].cast("long").alias("d_vocab"),
        vh["hapax"].cast("long").alias("d_hapax"),
    )
    out_schema = "doc_id long, d_len long, d_vocab long, d_hapax long"

    def pareto_scan(batches):
        pdf = pd.concat(list(batches), ignore_index=True)
        if pdf.empty:
            yield pdf
            return
        pdf = pdf.sort_values(
            ["d_len", "d_vocab", "d_hapax", "doc_id"],
            ascending=[False, False, False, True],
        )
        vals = pdf[["d_len", "d_vocab", "d_hapax"]].to_numpy()
        kept: list[int] = []
        for i in range(len(vals)):
            li, vi, hi = vals[i]
            dominated = False
            for j in kept:
                lj, vj, hj = vals[j]
                if (
                    lj >= li
                    and vj >= vi
                    and hj >= hi
                    and (lj > li or vj > vi or hj > hi)
                ):
                    dominated = True
                    break
            if not dominated:
                kept.append(i)
        yield pdf.iloc[kept]

    local = dims.mapInPandas(pareto_scan, out_schema)
    sky = local.repartition(1).mapInPandas(pareto_scan, out_schema)
    return sky.orderBy("doc_id")


@query(
    "d91_session_bounce",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_no
      FROM flagged
    ), per_session AS (
      SELECT user_id, session_no,
             CAST(date_trunc('day', MIN(ts)) AS TIMESTAMP) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM sessions GROUP BY user_id, session_no
    )
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounce,
           CAST(1000000 * sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                // count(*) AS BIGINT) AS bounce_ppm
    FROM per_session GROUP BY day ORDER BY day
    """,
)
def d91_session_bounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily BOUNCE RATE: sessions (d23's 30-min-gap sessionization)
    with exactly one event, as an integer-ppm share per day of the
    session start — the engagement-quality read of the event stream
    (product analytics' canonical metric), composing the gaps-and-
    islands machinery into a governance time series.

    Scale shape: the lag/cumsum windows and the per-session groupBy
    all key on user_id (ONE shuffle reused across both window passes,
    same as d23); the daily fold is a ~30-group partial agg. No
    global window anywhere.
    """
    events = load_table(spark, sf_dir, "events")
    micros = F.expr("unix_micros(cast(ts as timestamp))")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.select("user_id", "ts", "event_id").withColumn(
        "is_new",
        F.when(
            (micros - F.lag(micros).over(w) > 1_800_000_000)
            | F.lag("ts").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_no",
        F.sum("is_new").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    per_session = sessions.groupBy("user_id", "session_no").agg(
        F.date_trunc("day", F.min("ts")).alias("day"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    bounce = (F.col("n_events") == 1).cast("long")
    return (
        per_session.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum(bounce).cast("long").alias("n_bounce"),
        )
        .select(
            "day",
            "n_sessions",
            "n_bounce",
            F.expr("1000000 * n_bounce div n_sessions")
            .cast("long")
            .alias("bounce_ppm"),
        )
        .orderBy("day")
    )


RFM_BUCKETS = 32


@query(
    "d92_rfm_segments",
    """
    WITH base AS MATERIALIZED (
      SELECT o_custkey AS c, max(o_orderdate) AS rec,
             CAST(count(*) AS BIGINT) AS freq,
             sum(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 2)
                 AS DECIMAL(18,4))) AS mon
      FROM orders GROUP BY o_custkey
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
    r AS (
      SELECT c,
        CAST(row_number() OVER (ORDER BY rec DESC, c) AS BIGINT) AS rr,
        CAST(row_number() OVER (ORDER BY freq DESC, c) AS BIGINT) AS rf,
        CAST(row_number() OVER (ORDER BY mon DESC, c) AS BIGINT) AS rm
      FROM base
    )
    SELECT CAST((1 + (4 * (rr - 1)) // n.n) * 100
              + (1 + (4 * (rf - 1)) // n.n) * 10
              + (1 + (4 * (rm - 1)) // n.n) AS BIGINT) AS segment,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM r CROSS JOIN n
    GROUP BY 1 ORDER BY segment
    """,
)
def d92_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM SEGMENTATION — the classic customer-value cube: every
    customer with orders is quartiled independently on Recency (last
    order date), Frequency (order count), and Monetary (exact decimal
    revenue), and the census of the 3-digit segment code (111 = best
    on all axes … 444 = worst) is returned. Quartiles come from the
    explicit rank formula ``1 + 4(r-1) div n`` (NOT SQL NTILE, whose
    remainder distribution is engine-defined), with deterministic
    custkey tie-breaks, so the cut is a pure function of the data.

    Scale shape: the per-customer fold is one custkey-keyed partial
    agg; each global rank uses the deterministic ordered-bucket
    recipe (operators/ranking.py — no single-partition window); the
    three rank frames re-join on the customer key and the segment
    census is a ≤64-group partial agg.
    """
    from pgsink_spark.operators.ranking import (
        bucket_offsets,
        multi_bucket_counts,
        multi_ordered_buckets,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = (
        orders.groupBy(F.col("o_custkey").alias("c"))
        .agg(
            F.max("o_orderdate").alias("rec"),
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum(rnd(dec("o_totalprice"), 2).cast("decimal(18,4)")).alias(
                "mon"
            ),
        )
        .withColumn(
            "rec_days", F.datediff("rec", F.lit("1970-01-01")).cast("long")
        )
        .localCheckpoint(eager=True)
    )

    # r10: ONE min/max job + ONE bucket-census job for all three
    # signals (was one of each per signal); identical boundary
    # arithmetic → identical buckets, offsets, and ranks.
    spec = [("rec", "rec_days"), ("freq", "freq"), ("mon", "mon")]
    buckets = multi_ordered_buckets(
        base, [-F.col(b) for _o, b in spec], RFM_BUCKETS
    )
    counts = multi_bucket_counts(base, buckets)

    def global_rank(i: int, rname: str) -> DataFrame:
        part = base.withColumn("bucket", buckets[i])
        off, _n = bucket_offsets(part, counts[i])
        wloc = W.partitionBy("bucket").orderBy(
            F.col(spec[i][0]).desc(), "c"
        )
        return part.select(
            "c", (F.row_number().over(wloc) + off).cast("long").alias(rname)
        )

    nrow = base.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ranks = (
        global_rank(0, "rr")
        .join(global_rank(1, "rf"), "c")
        .join(global_rank(2, "rm"), "c")
        .crossJoin(F.broadcast(nrow))
    )
    seg = (
        (F.lit(1) + F.expr("4 * (rr - 1) div n")) * 100
        + (F.lit(1) + F.expr("4 * (rf - 1) div n")) * 10
        + (F.lit(1) + F.expr("4 * (rm - 1) div n"))
    )
    return (
        ranks.select(seg.cast("long").alias("segment"))
        .groupBy("segment")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .orderBy("segment")
    )


FUNNEL_LAG_STEP1, FUNNEL_LAG_STEP2 = "view", "purchase"


@query(
    "d93_funnel_conversion_lag",
    f"""
    WITH v AS (
      SELECT user_id, min(ts) AS first_view
      FROM events WHERE event_type = '{FUNNEL_LAG_STEP1}'
      GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS first_purchase, max(v.first_view)
               AS first_view
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = '{FUNNEL_LAG_STEP2}' AND e.ts > v.first_view
      GROUP BY e.user_id
    ),
    lags AS (
      SELECT CAST(date_trunc('day', first_view) AS TIMESTAMP) AS day,
             (epoch_us(first_purchase) - epoch_us(first_view)) // 1000000
               AS lag_s
      FROM p
    )
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_conversions,
           CAST(min(lag_s) AS BIGINT) AS min_lag_s,
           CAST(max(lag_s) AS BIGINT) AS max_lag_s,
           CAST(sum(lag_s) // count(*) AS BIGINT) AS mean_lag_s
    FROM lags GROUP BY day ORDER BY day
    """,
)
def d93_funnel_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel CONVERSION LATENCY by cohort day: for every user whose
    first 'view' is followed by a later
    'purchase', the seconds between the first view and the
    first subsequent purchase, folded per day of the view — the "how
    long does the funnel take" metric that d49_funnel's pure
    conversion counts cannot answer. Integer seconds (floor), integer
    mean — hash-exact.

    Scale shape: two user-keyed partial aggs (first view, first
    qualifying purchase) joined on the user key — one shuffle family,
    no windows; the daily fold is a ~30-group partial agg. (A median
    lag would use the d75 weighted-median machinery; min/max/mean
    stay one fold.)
    """
    events = load_table(spark, sf_dir, "events")
    v = (
        events.where(F.col("event_type") == FUNNEL_LAG_STEP1)
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    p = (
        events.where(F.col("event_type") == FUNNEL_LAG_STEP2)
        .join(v, "user_id")
        .where(F.col("ts") > F.col("first_view"))
        .groupBy("user_id")
        .agg(
            F.min("ts").alias("first_purchase"),
            F.max("first_view").alias("first_view"),
        )
    )
    us = lambda c: F.expr(f"unix_micros(cast({c} as timestamp))")  # noqa: E731
    lags = p.select(
        F.date_trunc("day", "first_view").alias("day"),
        ((us("first_purchase") - us("first_view")) / F.lit(1_000_000))
        .cast("long")
        .alias("lag_s"),
    )
    return (
        lags.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_conversions"),
            F.min("lag_s").cast("long").alias("min_lag_s"),
            F.max("lag_s").cast("long").alias("max_lag_s"),
            F.expr("sum(lag_s) div count(*)").cast("long").alias("mean_lag_s"),
        )
        .orderBy("day")
    )


@query(
    "d94_join_skew_audit",
    """
    WITH k AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(cnt) AS BIGINT) AS total,
             CAST(max(cnt) AS BIGINT) AS max_cnt
      FROM k
    )
    SELECT s.n_keys, s.total, s.max_cnt,
           CAST(min(CASE WHEN k.cnt = s.max_cnt THEN k.user_id END)
             AS BIGINT) AS top_key,
           CAST(1000000 * s.max_cnt // s.total AS BIGINT)
             AS top_share_ppm,
           CAST(1000000 * s.max_cnt * s.n_keys // s.total AS BIGINT)
             AS skew_ppm
    FROM k CROSS JOIN s
    GROUP BY s.n_keys, s.total, s.max_cnt
    """,
)
def d94_join_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-KEY SKEW audit for the event stream's user_id — the read a
    pipeline owner takes BEFORE picking a join strategy: key count,
    total rows, the hottest key and its row share (ppm), and the
    peak-to-mean ratio (ppm; 1,000,000 = perfectly uniform). A
    skew_ppm in the tens of millions is the signal to reach for
    d44_salted_join / AQE skew handling; this makes that decision a
    measured one instead of a post-mortem.

    Scale shape: one key-keyed partial agg + a 1-row fold broadcast
    back for the top-key election — two passes over the key census,
    zero passes over raw events beyond the first agg.
    """
    events = load_table(spark, sf_dir, "events")
    k = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    s = k.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("total"),
        F.max("cnt").cast("long").alias("max_cnt"),
    )
    return (
        k.crossJoin(F.broadcast(s))
        .groupBy("n_keys", "total", "max_cnt")
        .agg(
            F.min(
                F.when(F.col("cnt") == F.col("max_cnt"), F.col("user_id"))
            )
            .cast("long")
            .alias("top_key"),
        )
        .select(
            "n_keys",
            "total",
            "max_cnt",
            "top_key",
            F.expr("1000000 * max_cnt div total")
            .cast("long")
            .alias("top_share_ppm"),
            F.expr("1000000 * max_cnt * n_keys div total")
            .cast("long")
            .alias("skew_ppm"),
        )
    )


GAP_TOPK = 20


@query(
    "cdc_slot_gap_audit",
    f"""
    WITH l AS (
      SELECT DISTINCT o_orderkey AS lsn FROM orders
      WHERE (o_orderkey // 100) % 7 <> 3
    ),
    g AS (SELECT lag(lsn) OVER (ORDER BY lsn) AS prev, lsn FROM l)
    SELECT CAST(prev + 1 AS BIGINT) AS gap_start,
           CAST(lsn - 1 AS BIGINT) AS gap_end,
           CAST(lsn - prev - 1 AS BIGINT) AS n_missing
    FROM g WHERE prev IS NOT NULL AND lsn - prev > 1
    ORDER BY n_missing DESC, gap_start LIMIT {GAP_TOPK}
    """,
)
def cdc_slot_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSN GAP detection over a replication ledger — the top-20 widest
    holes in the committed sequence (orders keys standing in for slot
    LSNs, with deterministic 100-wide blocks dropped to simulate lost
    segments — fixture keys are dense). A gap in the
    acked LSN sequence is the first symptom of lost envelopes /
    skipped WAL segments, and the reference's confirm-after-append
    contract (A11) makes "audit the sequence for holes" the standard
    integrity read on the raw ledger.

    Scale shape — the DISTRIBUTED consecutive-pair recipe (a global
    lag window would be one partition): deterministic ordered buckets
    over the LSN range, a lag window INSIDE each bucket, plus the
    cross-bucket boundary pairs reconstructed from the ≤32-row
    per-bucket (min, max) census collected control-plane (the
    bucket_offsets discipline). Union, then TakeOrdered top-20. The
    oracle states the same gaps with one declarative global window.
    """
    from pgsink_spark.operators.ranking import ordered_bucket

    lsns = (
        load_table(spark, sf_dir, "orders")
        # simulate lost WAL segments: whole 100-wide LSN blocks missing
        # (fixture orderkeys are dense, so the holes are synthetic and
        # identical on both engines)
        .where(F.expr("(o_orderkey div 100) % 7 != 3"))
        .select(F.col("o_orderkey").alias("lsn"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    part = lsns.withColumn("bucket", ordered_bucket(lsns, F.col("lsn"), 32))
    w = W.partitionBy("bucket").orderBy("lsn")
    within = part.select(
        "lsn", F.lag("lsn").over(w).alias("prev")
    ).where(F.col("prev").isNotNull() & (F.col("lsn") - F.col("prev") > 1))
    gaps_in = within.select(
        (F.col("prev") + 1).cast("long").alias("gap_start"),
        (F.col("lsn") - 1).cast("long").alias("gap_end"),
        (F.col("lsn") - F.col("prev") - 1).cast("long").alias("n_missing"),
    )
    bounds = sorted(
        (r["bucket"], r["mn"], r["mx"])
        for r in part.groupBy("bucket")
        .agg(F.min("lsn").alias("mn"), F.max("lsn").alias("mx"))
        .collect()
    )
    boundary = []
    for (_b1, _mn1, mx1), (_b2, mn2, _mx2) in zip(bounds, bounds[1:]):
        if mn2 - mx1 > 1:
            boundary.append((mx1 + 1, mn2 - 1, mn2 - mx1 - 1))
    bgaps = spark.createDataFrame(
        boundary, "gap_start long, gap_end long, n_missing long"
    )
    return (
        gaps_in.unionByName(bgaps)
        .orderBy(F.desc("n_missing"), "gap_start")
        .limit(GAP_TOPK)
    )


BASKET_MIN_SESS = 5  # ignore pairs rarer than this (noise floor)


@query(
    "d95_market_basket",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, event_type,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_no
      FROM flagged
    ), st AS (
      SELECT DISTINCT user_id, session_no, event_type FROM sess
    ), n AS (
      SELECT CAST(count(DISTINCT (user_id, session_no)) AS BIGINT) AS n
      FROM st
    ), sup AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS ns
      FROM st GROUP BY event_type
    ), pairs AS (
      SELECT a.event_type AS item_a, b.event_type AS item_b,
             CAST(count(*) AS BIGINT) AS n_both
      FROM st a JOIN st b
        ON a.user_id = b.user_id AND a.session_no = b.session_no
       AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT item_a, item_b, n_both,
           CAST(1000000 * n_both // n.n AS BIGINT) AS support_ppm,
           CAST(1000000 * n_both // sa.ns AS BIGINT) AS conf_a_to_b_ppm,
           CAST(1000000 * n_both // sb.ns AS BIGINT) AS conf_b_to_a_ppm,
           CAST((1000000 * n_both // sa.ns) * n.n // sb.ns AS BIGINT)
             AS lift_ppm
    FROM pairs
    JOIN sup sa ON sa.event_type = item_a
    JOIN sup sb ON sb.event_type = item_b
    CROSS JOIN n
    WHERE n_both >= 5
    ORDER BY item_a, item_b
    """,
)
def d95_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKET-BASKET association rules over event sessions — for every
    pair of event types co-occurring in a 30-min-gap session (d23's
    sessionization): support, both conditional confidences, and lift,
    all integer ppm. The A-Priori 2-itemset pass is the classic
    "what co-occurs" curation/product read; with a 5-type alphabet
    the pair lattice is control-plane sized, and at a 10⁵-item
    catalog the same plan bounds pair fan-out per session by the
    session's distinct-item count (cap long sessions exactly like the
    linkage hot-block cap).

    Exactness: lift is computed as ``(1e6·both // sup_a) · n //
    sup_b`` — two floors in a FIXED order, identical on both engines,
    keeping every intermediate under int64 at any corpus size (a
    single-expression 1e6·both·n product would overflow first).

    Scale shape: sessionization is the one user-keyed shuffle; the
    pair census self-joins the distinct (session, type) frame on the
    session key (per-session fan-out ≤ |alphabet|²); supports and the
    session census are partial aggs broadcast back.
    """
    events = load_table(spark, sf_dir, "events")
    micros = F.expr("unix_micros(cast(ts as timestamp))")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.select(
        "user_id", "ts", "event_id", "event_type"
    ).withColumn(
        "is_new",
        F.when(
            (micros - F.lag(micros).over(w) > 1_800_000_000)
            | F.lag("ts").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    st = (
        flagged.withColumn(
            "session_no",
            F.sum("is_new").over(
                w.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .select("user_id", "session_no", "event_type")
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = st.select("user_id", "session_no").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    sup = st.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("ns")
    )
    a = st.select("user_id", "session_no", F.col("event_type").alias("item_a"))
    b = st.select("user_id", "session_no", F.col("event_type").alias("item_b"))
    pairs = (
        a.join(b, ["user_id", "session_no"])
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
        .where(F.col("n_both") >= BASKET_MIN_SESS)
    )
    sa = sup.select(F.col("event_type").alias("item_a"), F.col("ns").alias("ns_a"))
    sb = sup.select(F.col("event_type").alias("item_b"), F.col("ns").alias("ns_b"))
    return (
        pairs.join(F.broadcast(sa), "item_a")
        .join(F.broadcast(sb), "item_b")
        .crossJoin(F.broadcast(n))
        .select(
            "item_a",
            "item_b",
            "n_both",
            F.expr("1000000 * n_both div n").cast("long").alias("support_ppm"),
            F.expr("1000000 * n_both div ns_a")
            .cast("long")
            .alias("conf_a_to_b_ppm"),
            F.expr("1000000 * n_both div ns_b")
            .cast("long")
            .alias("conf_b_to_a_ppm"),
            F.expr("(1000000 * n_both div ns_a) * n div ns_b")
            .cast("long")
            .alias("lift_ppm"),
        )
        .orderBy("item_a", "item_b")
    )


@query(
    "d96_sequence_pairs",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, event_type,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_no
      FROM flagged
    ), st AS (
      SELECT user_id, session_no, event_type,
             min(ts) AS first_ts, max(ts) AS last_ts
      FROM sess GROUP BY user_id, session_no, event_type
    ), n AS (
      SELECT CAST(count(DISTINCT (user_id, session_no)) AS BIGINT) AS n
      FROM st
    ), pat AS (
      SELECT a.event_type AS ant, b.event_type AS cons,
             CAST(count(*) AS BIGINT) AS n_sessions
      FROM st a JOIN st b
        ON a.user_id = b.user_id AND a.session_no = b.session_no
       AND a.event_type <> b.event_type AND a.first_ts < b.last_ts
      GROUP BY 1, 2
    )
    SELECT ant, cons, n_sessions,
           CAST(1000000 * n_sessions // n.n AS BIGINT) AS support_ppm
    FROM pat CROSS JOIN n
    ORDER BY ant, cons
    """,
)
def d96_sequence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENTIAL-PATTERN support — for every ordered event-type pair
    (ant → cons), the number of 30-min sessions where some ant event
    strictly precedes some cons event (existence anywhere in the
    session, the SPADE-style 2-sequence), with integer-ppm support.
    Complements d95_market_basket (unordered co-occurrence) and
    d51_transition_matrix (adjacent steps only): this is the "does A
    eventually lead to B" read.

    Scale shape: the per-(session, type) first/last timestamps are
    one keyed partial agg over the sessionized stream (the same
    single user-keyed shuffle as d23/d91/d95); the pattern census
    self-joins that frame on the session key with per-session fan-out
    ≤ |alphabet|²; supports fold control-plane.
    """
    events = load_table(spark, sf_dir, "events")
    micros = F.expr("unix_micros(cast(ts as timestamp))")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn(
            "is_new",
            F.when(
                (micros - F.lag(micros).over(w) > 1_800_000_000)
                | F.lag("ts").over(w).isNull(),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "session_no",
            F.sum("is_new").over(
                w.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
    )
    st = (
        sess.groupBy("user_id", "session_no", "event_type")
        .agg(F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
        .localCheckpoint(eager=True)
    )
    n = st.select("user_id", "session_no").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = st.select(
        "user_id", "session_no",
        F.col("event_type").alias("ant"), "first_ts",
    )
    b = st.select(
        "user_id", "session_no",
        F.col("event_type").alias("cons"), "last_ts",
    )
    pat = (
        a.join(b, ["user_id", "session_no"])
        .where(
            (F.col("ant") != F.col("cons"))
            & (F.col("first_ts") < F.col("last_ts"))
        )
        .groupBy("ant", "cons")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
    )
    return (
        pat.crossJoin(F.broadcast(n))
        .select(
            "ant",
            "cons",
            "n_sessions",
            F.expr("1000000 * n_sessions div n")
            .cast("long")
            .alias("support_ppm"),
        )
        .orderBy("ant", "cons")
    )


@query(
    "d97_seasonal_decompose",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(date_part('dow', CAST(ts AS DATE)) AS BIGINT) AS dow,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT))
                  AS BIGINT) AS total_cents
      FROM events GROUP BY 1, 2
    ),
    w AS (
      SELECT day, dow, total_cents,
             SUM(total_cents) OVER (PARTITION BY dow) AS s,
             COUNT(*) OVER (PARTITION BY dow) AS c
      FROM daily
    )
    SELECT day, dow, total_cents,
           CAST(CASE WHEN s >= 0 THEN s // c ELSE -((-s) // c) END
                AS BIGINT) AS seasonal_cents,
           CAST(total_cents
                - CASE WHEN s >= 0 THEN s // c ELSE -((-s) // c) END
                AS BIGINT) AS residual_cents
    FROM w ORDER BY day
    """,
)
def d97_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of the daily event-value series
    with a day-of-week period: per day, the observed total, the
    seasonal component (mean of that weekday's totals across the
    series), and the residual — the de-seasonalized signal an
    anomaly review reads instead of raw totals (a quiet Sunday is not
    an incident; a quiet Tuesday might be).

    Exact integer form: values enter as scale-4 fixed-point cents
    (CAST to DECIMAL(18,4) then ×10⁴ to int64), the seasonal mean is
    an int64 division truncated toward zero on BOTH engines (Spark
    ``div`` truncates natively; the oracle wraps DuckDB's floor ``//``
    in a sign-symmetric CASE — same guard as d102/eval_cohens_kappa —
    so equivalence holds even for negative daily totals), and the
    residual is a pure int64 subtraction — no float drift anywhere.

    Plan: one day-keyed partial agg over the fact scan (map-side
    combine does the heavy lift), then windows over the DAILY frame
    only — series-length-sized (365 rows/year), never data-sized, so
    the decomposition costs one scan + one tiny shuffle at any corpus
    scale.
    """
    events = load_table(spark, sf_dir, "events")
    cents = F.expr("CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)")
    daily = (
        events.select(
            F.to_date("ts").alias("day"),
            (F.dayofweek(F.to_date("ts")) - 1).cast("long").alias("dow"),
            cents.alias("cents"),
        )
        .groupBy("day", "dow")
        .agg(F.sum("cents").cast("long").alias("total_cents"))
    )
    seasonal = F.expr(
        "sum(total_cents) over (partition by dow) "
        "div count(*) over (partition by dow)"
    ).cast("long")
    return daily.select(
        "day",
        "dow",
        "total_cents",
        seasonal.alias("seasonal_cents"),
        (F.col("total_cents") - seasonal).cast("long").alias("residual_cents"),
    ).orderBy("day")


# windowFunnel step sequence and window, fixed for the oracle: a user
# "reaches depth k" when signup -> view -> purchase events occur in
# order with every step inside 1 hour of the anchoring signup.
FUNNEL_WINDOW_US = 3_600_000_000


@query(
    "d98_window_funnel",
    f"""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    s AS (SELECT user_id, ts FROM events WHERE event_type = 'signup'),
    v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    d1 AS (SELECT DISTINCT user_id FROM s),
    sv AS (
      SELECT s.user_id, s.ts AS ts_s, min(v.ts) AS ts_v
      FROM s JOIN v ON v.user_id = s.user_id
       AND v.ts > s.ts
       AND epoch_us(v.ts) - epoch_us(s.ts) <= {FUNNEL_WINDOW_US}
      GROUP BY s.user_id, s.ts
    ),
    d2 AS (SELECT DISTINCT user_id FROM sv),
    d3 AS (
      SELECT DISTINCT sv.user_id
      FROM sv JOIN p ON p.user_id = sv.user_id
       AND p.ts > sv.ts_v
       AND epoch_us(p.ts) - epoch_us(sv.ts_s) <= {FUNNEL_WINDOW_US}
    ),
    depth AS (
      SELECT u.user_id,
             CASE WHEN d3.user_id IS NOT NULL THEN 3
                  WHEN d2.user_id IS NOT NULL THEN 2
                  WHEN d1.user_id IS NOT NULL THEN 1
                  ELSE 0 END AS depth
      FROM u
      LEFT JOIN d1 ON d1.user_id = u.user_id
      LEFT JOIN d2 ON d2.user_id = u.user_id
      LEFT JOIN d3 ON d3.user_id = u.user_id
    )
    SELECT CAST(depth AS BIGINT) AS depth,
           CAST(count(*) AS BIGINT) AS n_users
    FROM depth GROUP BY depth ORDER BY depth
    """,
)
def d98_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """windowFunnel-style max-depth histogram (the ClickHouse verb,
    complementing d49's per-step counts and d93's conversion lags):
    for the ordered sequence signup → view → purchase with EVERY step
    inside one hour of the anchoring signup, the number of users whose
    deepest reached step is 0/1/2/3.

    Exactness rests on the greedy-earliest reduction: a chain
    (s, v, p) exists iff one exists using the EARLIEST view after s
    inside s's window (v' ≤ v keeps p > v' and the window is anchored
    at s, so shrinking v only widens p's room). That turns the
    middle step into a per-(user, signup) MIN aggregation instead of
    an all-pairs existence probe — the same cap argument as the
    linkage hot-block fix, but exact rather than approximate.

    Plan: three filtered projections of one scan, each join keyed on
    user_id (co-partitioned shuffles; per-user fan-out bounded by that
    user's per-type event counts), aggregated to distinct user sets,
    then a 4-row histogram fold. No window functions over the fact
    table and no data-sized broadcast.
    """
    events = load_table(spark, sf_dir, "events")
    us = F.expr("unix_micros(cast(ts as timestamp))")
    ev = events.select("user_id", "event_type", "ts", us.alias("us"))
    u = ev.select("user_id").distinct()
    s = ev.where(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("ts_s"), F.col("us").alias("us_s")
    )
    v = ev.where(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("ts_v"), F.col("us").alias("us_v")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("ts_p"), F.col("us").alias("us_p")
    )
    d1 = s.select("user_id").distinct().withColumn("r1", F.lit(1))
    sv = (
        s.join(v, "user_id")
        .where(
            (F.col("us_v") > F.col("us_s"))
            & (F.col("us_v") - F.col("us_s") <= FUNNEL_WINDOW_US)
        )
        .groupBy("user_id", "us_s")
        .agg(F.min("us_v").alias("us_v"))
    )
    d2 = sv.select("user_id").distinct().withColumn("r2", F.lit(1))
    d3 = (
        sv.join(p, "user_id")
        .where(
            (F.col("us_p") > F.col("us_v"))
            & (F.col("us_p") - F.col("us_s") <= FUNNEL_WINDOW_US)
        )
        .select("user_id")
        .distinct()
        .withColumn("r3", F.lit(1))
    )
    depth = (
        u.join(d1, "user_id", "left")
        .join(d2, "user_id", "left")
        .join(d3, "user_id", "left")
        .select(
            F.when(F.col("r3").isNotNull(), 3)
            .when(F.col("r2").isNotNull(), 2)
            .when(F.col("r1").isNotNull(), 1)
            .otherwise(0)
            .cast("long")
            .alias("depth")
        )
    )
    return (
        depth.groupBy("depth")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy("depth")
    )


@query(
    "d99_winsorized_stats",
    """
    WITH c AS (
      SELECT event_type, event_id,
             CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS cents
      FROM events
    ),
    r AS (
      SELECT event_type, cents,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY cents, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM c
    ),
    cuts AS (
      SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
             CAST(MAX(CASE WHEN rn = (n - 1) // 10 + 1
                           THEN cents END) AS BIGINT) AS lo_cents,
             CAST(MAX(CASE WHEN rn = ((n - 1) * 9) // 10 + 1
                           THEN cents END) AS BIGINT) AS hi_cents
      FROM r GROUP BY event_type
    )
    SELECT r.event_type, cuts.n, cuts.lo_cents, cuts.hi_cents,
           CAST(SUM(r.cents) AS BIGINT) AS raw_sum_cents,
           CAST(SUM(LEAST(GREATEST(r.cents, cuts.lo_cents),
                          cuts.hi_cents)) AS BIGINT) AS wins_sum_cents
    FROM r JOIN cuts ON cuts.event_type = r.event_type
    GROUP BY r.event_type, cuts.n, cuts.lo_cents, cuts.hi_cents
    ORDER BY r.event_type
    """,
)
def d99_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-group statistics: for each event type, the exact
    p10/p90 ORDER-STATISTIC cut points (rank-based — deterministic on
    both engines, no interpolation ambiguity) and the value sum before
    and after clamping to them, all in int64 fixed-point cents. The
    raw-vs-winsorized delta is the standard robust-metrics read: a KPI
    whose winsorized trend diverges from its raw trend is being moved
    by tail outliers, not by the base.

    EXACT TWO-PASS CENSUS plan (not a per-group rank window): the
    group key has cardinality 5, so ranking the raw rows would cap
    parallelism at 5 tasks — measured 16× wall at the 100× probe. The
    fixed-point domain is small (scale-4 cents of a bounded metric),
    so the operator instead builds a (type, cents) VALUE CENSUS
    (map-side combined, fully parallel), runs the cumulative-count
    window over the census (≤ |types|·|distinct cents| rows — census-
    sized, never data-sized), reads the order statistics off the
    cumulative counts, and folds the winsorized sums from census
    weights. Identical output to the rank form (the replay test pins
    it against literal per-row sorting), but every data-sized stage
    is a keyed partial agg.
    """
    events = load_table(spark, sf_dir, "events")
    census = (
        events.select(
            "event_type",
            F.expr(
                "CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)"
            ).alias("cents"),
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    wt = W.partitionBy("event_type").orderBy("cents")
    cum = census.select(
        "event_type",
        "cents",
        "cnt",
        F.sum("cnt")
        .over(wt.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cum"),
        F.sum("cnt").over(W.partitionBy("event_type")).alias("grp_n"),
    ).withColumns(
        {
            "lo_idx": F.expr("(grp_n - 1) div 10 + 1"),
            "hi_idx": F.expr("((grp_n - 1) * 9) div 10 + 1"),
        }
    )
    cuts = cum.groupBy("event_type").agg(
        F.max("grp_n").cast("long").alias("n"),
        F.min(F.when(F.col("cum") >= F.col("lo_idx"), F.col("cents")))
        .cast("long")
        .alias("lo_cents"),
        F.min(F.when(F.col("cum") >= F.col("hi_idx"), F.col("cents")))
        .cast("long")
        .alias("hi_cents"),
    )
    return (
        census.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type", "n", "lo_cents", "hi_cents")
        .agg(
            F.sum(F.col("cents") * F.col("cnt"))
            .cast("long")
            .alias("raw_sum_cents"),
            F.sum(
                F.least(
                    F.greatest(F.col("cents"), F.col("lo_cents")),
                    F.col("hi_cents"),
                )
                * F.col("cnt")
            )
            .cast("long")
            .alias("wins_sum_cents"),
        )
        .orderBy("event_type")
    )


@query(
    "d100_interarrival_histogram",
    """
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - epoch_us(LAG(ts) OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts, event_id)) AS gap_us
      FROM events
    )
    SELECT event_type,
           CAST(len(CAST(gap_us // 1000000 AS VARCHAR)) AS BIGINT)
             AS gap_digits,
           CAST(count(*) AS BIGINT) AS n
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY event_type, gap_digits
    ORDER BY event_type, gap_digits
    """,
)
def d100_interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time histogram per event type: gaps between a
    user's consecutive events of the same type, bucketed by the DIGIT
    COUNT of the gap in whole seconds (a decimal-log histogram
    computed with pure integer/string ops — no floating log whose
    last-ulp could diverge between engines). The shape read: burst
    traffic piles in the low buckets, dead integrations show mass
    migrating to the high ones — the ops-side twin of
    corpus_term_burstiness.

    Plan: one (user_id, event_type)-keyed LAG window (partitioned on
    the natural high-cardinality key — never a global sort), then a
    (type × ~7 buckets)-keyed partial agg. Both stages scale with the
    keyed shuffle, nothing else.
    """
    events = load_table(spark, sf_dir, "events")
    us = F.expr("unix_micros(cast(ts as timestamp))")
    wk = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    g = events.select(
        "event_type",
        (us - F.lag(us).over(wk)).alias("gap_us"),
    )
    return (
        g.where(F.col("gap_us").isNotNull())
        .select(
            "event_type",
            F.length(F.expr("CAST(gap_us div 1000000 AS STRING)"))
            .cast("long")
            .alias("gap_digits"),
        )
        .groupBy("event_type", "gap_digits")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("event_type", "gap_digits")
    )


@query(
    "d101_survival_curve",
    """
    WITH first_seen AS (
      SELECT user_id, min(ts) AS t0 FROM events GROUP BY user_id
    ),
    conv AS (
      SELECT e.user_id, min(e.ts) AS tp
      FROM events e JOIN first_seen f ON f.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= f.t0
      GROUP BY e.user_id
    ),
    lag AS (
      SELECT f.user_id,
             CAST((epoch_us(c.tp) - epoch_us(f.t0)) // 86400000000
                  AS BIGINT) AS days
      FROM first_seen f JOIN conv c ON c.user_id = f.user_id
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM first_seen),
    hist AS (
      SELECT days, CAST(count(*) AS BIGINT) AS n_converted
      FROM lag GROUP BY days
    )
    SELECT days, n_converted,
           CAST(SUM(n_converted) OVER (ORDER BY days) AS BIGINT)
             AS cum_converted,
           CAST(1000000 * SUM(n_converted) OVER (ORDER BY days)
                // MAX(n.n_users) OVER () AS BIGINT) AS cum_ppm
    FROM hist CROSS JOIN n
    ORDER BY days
    """,
)
def d101_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-conversion survival curve: for each whole-day lag
    between a user's FIRST event and their first purchase at or after
    it, the converting-user count, the running cumulative, and the
    cumulative conversion share of ALL users in exact ppm — the
    Kaplan-Meier-style read (without censoring weights, since the
    fixture window is closed) that tells a growth team WHEN conversion
    happens, where d50's cohort table tells them IF.

    Plan: two user-keyed partial aggs (first-seen, first-purchase) and
    a user-keyed join — all on the natural key — then windows over the
    DAY-LAG HISTOGRAM only (≤ observation-window days — ~30 rows), so
    the running sum never touches a data-sized frame.
    """
    events = load_table(spark, sf_dir, "events")
    us = F.expr("unix_micros(cast(ts as timestamp))")
    first_seen = events.groupBy("user_id").agg(F.min("ts").alias("t0"))
    conv = (
        events.where(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .where(F.col("ts") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    lag = first_seen.join(conv, "user_id").select(
        F.expr(
            "(unix_micros(cast(tp as timestamp))"
            " - unix_micros(cast(t0 as timestamp))) div 86400000000"
        )
        .cast("long")
        .alias("days")
    )
    n = first_seen.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    hist = lag.groupBy("days").agg(
        F.count(F.lit(1)).cast("long").alias("n_converted")
    )
    wd = W.orderBy("days")
    return (
        hist.crossJoin(F.broadcast(n))
        .select(
            "days",
            "n_converted",
            F.sum("n_converted")
            .over(wd.rowsBetween(W.unboundedPreceding, W.currentRow))
            .cast("long")
            .alias("cum_converted"),
            F.expr(
                "CAST(1000000 * sum(n_converted) over ("
                "order by days rows between unbounded preceding and"
                " current row) div max(n_users) over () AS BIGINT)"
            ).alias("cum_ppm"),
        )
        .orderBy("days")
    )


ROLLSLOPE_W = 7


@query(
    "d102_rolling_slope",
    f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT))
                  AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    d0 AS (SELECT min(day) AS day0 FROM daily),
    idx AS (
      SELECT event_type, day,
             CAST(day - d0.day0 AS BIGINT) AS x, y
      FROM daily CROSS JOIN d0
    ),
    win AS (
      SELECT event_type, day,
             CAST(COUNT(*) OVER w AS BIGINT) AS n,
             CAST(SUM(x) OVER w AS BIGINT) AS sx,
             CAST(SUM(y) OVER w AS BIGINT) AS sy,
             CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
             CAST(SUM(x * y) OVER w AS BIGINT) AS sxy
      FROM idx
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {ROLLSLOPE_W - 1} PRECEDING
                   AND CURRENT ROW)
    )
    SELECT event_type, day,
           CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
           CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
           CAST(CASE WHEN n * sxy - sx * sy >= 0
                THEN 1000 * (n * sxy - sx * sy) // (n * sxx - sx * sx)
                ELSE -(1000 * (sx * sy - n * sxy)
                       // (n * sxx - sx * sx))
                END AS BIGINT) AS slope_milli
    FROM win WHERE n = {ROLLSLOPE_W}
    ORDER BY event_type, day
    """,
)
def d102_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling {ROLLSLOPE_W}-day OLS trend slope of the daily
    event-value series per event type — the "is this KPI turning"
    read, emitted as the EXACT rational (n·Σxy − Σx·Σy) /
    (n·Σxx − (Σx)²) in int64 plus a sign-symmetric milli image.
    x is the day offset from the series start (small), y is int64
    fixed-point cents; int64-safe while the window's Σx·Σy stays
    under 2⁶³ — with a 10-year horizon that allows ~$10⁹/day, far
    past the fixture. Windows with fewer than {ROLLSLOPE_W} days
    (series head) are suppressed, so every emitted slope is a full
    window — no partial-window edge semantics to diverge on.

    Plan: one day-keyed partial agg collapses the facts; ALL windows
    run over the daily frame (≤ types × days rows). Same census
    discipline as d97/d99.
    """
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.select(
            "event_type",
            F.to_date("ts").alias("day"),
            F.expr(
                "CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)"
            ).alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").cast("long").alias("y"))
    )
    d0 = daily.agg(F.min("day").alias("day0"))
    idx = daily.crossJoin(F.broadcast(d0)).select(
        "event_type",
        "day",
        F.datediff(F.col("day"), F.col("day0")).cast("long").alias("x"),
        "y",
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(ROLLSLOPE_W - 1), W.currentRow)
    )
    win = idx.select(
        "event_type",
        "day",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.sum("x").over(w).cast("long").alias("sx"),
        F.sum("y").over(w).cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("long").alias("sxy"),
    )
    return (
        win.where(F.col("n") == ROLLSLOPE_W)
        .select(
            "event_type",
            "day",
            F.expr("n * sxy - sx * sy").cast("long").alias("slope_num"),
            F.expr("n * sxx - sx * sx").cast("long").alias("slope_den"),
            F.expr(
                "CASE WHEN n * sxy - sx * sy >= 0 "
                "THEN 1000 * (n * sxy - sx * sy) div (n * sxx - sx * sx) "
                "ELSE -(1000 * (sx * sy - n * sxy) "
                "div (n * sxx - sx * sx)) END"
            )
            .cast("long")
            .alias("slope_milli"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "d103_bag_set_ops",
    """
    WITH ca AS (
      SELECT c_nationkey AS k, CAST(count(*) AS BIGINT) AS ca
      FROM customer GROUP BY 1
    ),
    cb AS (
      SELECT s_nationkey AS k, CAST(count(*) AS BIGINT) AS cb
      FROM supplier GROUP BY 1
    )
    SELECT COALESCE(ca.k, cb.k) AS k,
           CAST(COALESCE(ca.ca, 0) AS BIGINT) AS n_cust,
           CAST(COALESCE(cb.cb, 0) AS BIGINT) AS n_supp,
           CAST(LEAST(COALESCE(ca.ca, 0), COALESCE(cb.cb, 0)) AS BIGINT)
             AS intersect_all_n,
           CAST(GREATEST(COALESCE(ca.ca, 0) - COALESCE(cb.cb, 0), 0)
                AS BIGINT) AS except_all_n
    FROM ca FULL OUTER JOIN cb ON cb.k = ca.k
    ORDER BY k
    """,
)
def d103_bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTISET (bag) set operations — INTERSECT ALL / EXCEPT ALL
    multiplicities per key, computed as count arithmetic
    (min(ca, cb) and max(ca − cb, 0)) rather than row-matching. This
    completes the §2.E set-op surface next to d12/d25's DISTINCT
    forms: bag semantics are what reconciliation actually needs
    ("how many rows of this key survive EXCEPT ALL" is the duplicate
    imbalance between two feeds, which the DISTINCT form erases).

    The count-arithmetic form is also the scale shape: two keyed
    partial aggs and a key-keyed outer join of census frames — Spark
    expands a literal INTERSECT ALL into the same aggregate plan, but
    this form keeps the multiplicities visible as columns instead of
    replicated rows, so the output is census-sized, not bag-sized.
    """
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    ca = cust.groupBy(F.col("c_nationkey").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("ca")
    )
    cb = supp.groupBy(F.col("s_nationkey").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("cb")
    )
    return (
        ca.join(cb, "k", "full_outer")
        .select(
            "k",
            F.coalesce("ca", F.lit(0)).cast("long").alias("n_cust"),
            F.coalesce("cb", F.lit(0)).cast("long").alias("n_supp"),
            F.least(
                F.coalesce("ca", F.lit(0)), F.coalesce("cb", F.lit(0))
            )
            .cast("long")
            .alias("intersect_all_n"),
            F.greatest(
                F.coalesce("ca", F.lit(0)) - F.coalesce("cb", F.lit(0)),
                F.lit(0),
            )
            .cast("long")
            .alias("except_all_n"),
        )
        .orderBy("k")
    )


# One SQL text, two engines: d104 runs this through spark.sql() over
# temp views and the driver oracle runs it through DuckDB verbatim —
# the cross-engine-portable ANSI subset this whole registry's oracles
# rely on, demonstrated as a user-facing surface (the reference serves
# SQL text too; pkg/api query endpoints).
D104_SQL = """
    WITH rev AS (
      SELECT c.c_nationkey AS nk,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS
                  DECIMAL(28,4)) AS total
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE o.o_orderstatus = 'F'
      GROUP BY c.c_nationkey
    )
    SELECT n.n_name AS nation, r.r_name AS region,
           CAST(ROUND(rev.total, 2) AS DOUBLE) AS revenue
    FROM rev
    JOIN nation n ON n.n_nationkey = rev.nk
    JOIN region r ON r.r_regionkey = n.n_regionkey
    ORDER BY revenue DESC, nation
"""


@query("d104_sql_api_views", D104_SQL)
def d104_sql_api_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-TEXT API surface: the exact same ANSI query string the
    DuckDB oracle executes is fed verbatim to ``spark.sql()`` over
    registered temp views — one artifact, two engines, zero
    translation layer. This is the registry's only operator whose
    Spark side IS its oracle text, pinning (a) the temp-view catalog
    path every BI/ad-hoc user hits instead of the DataFrame API, and
    (b) the portability of the dialect subset the other 300 oracles
    are written in. Catalyst gets the same plan freedom as with the
    DataFrame API (the joins here broadcast the two dimension
    tables; the revenue agg is partial-agged before its shuffle).
    """
    for t in ("orders", "customer", "nation", "region"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(D104_SQL)


@query(
    "cdc_cross_table_snapshot",
    """
    WITH mx AS (SELECT MAX(o_orderkey) AS mk FROM orders),
    del AS (
      SELECT o_orderkey AS k FROM orders CROSS JOIN mx
      WHERE o_orderkey % 17 = 0 AND 2 * o_orderkey + 1 <= mk
    )
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM orders
       WHERE o_orderkey NOT IN (SELECT k FROM del)) AS n_orders,
      (SELECT CAST(count(*) AS BIGINT) FROM lineitem
       WHERE l_orderkey NOT IN (SELECT k FROM del)) AS n_lineitems,
      CAST(0 AS BIGINT) AS n_orphans
    """,
)
def cdc_cross_table_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRANSACTIONALLY CONSISTENT cross-table time travel: orders and
    lineitem are replayed as two envelope ledgers whose delete
    transactions share ONE LSN (deleting order k removes the order AND
    all its lineitems at lsn base+2k+1 — the atomic multi-table commit
    the reference's transaction sequencing exists to preserve,
    pkg/logical ordering). Both tables are reconstructed AS OF the
    same mid-churn bound and the emitted row carries the surviving
    counts plus the ORPHAN count — lineitems whose parent order is
    gone. Atomic replay makes orphans exactly zero at ANY bound; an
    implementation that applied even slightly different cuts to the
    two ledgers (the classic per-table-watermark bug) surfaces
    non-zero orphans and flips the driver hash.

    Plan: two ledger scans with row-local lsn predicates, one
    compaction window each (pk-keyed), and one orderkey-keyed
    anti-join for the orphan census.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    k = F.col("o_orderkey")
    base = F.lit(1_000_000_000).cast("bigint")

    o_rows = o.select(
        "o_orderkey",
        F.lit(None).cast("bigint").alias("lsn"),
        F.lit("IMPORT").alias("op"),
    )
    o_del = o.where(k % 17 == 0).select(
        "o_orderkey",
        (base + 2 * k + 1).alias("lsn"),
        F.lit("DELETE").alias("op"),
    )
    o_env = o_rows.unionByName(o_del)

    bound = o.agg((base + F.max("o_orderkey")).alias("lsn_bound"))

    wo = W.partitionBy("o_orderkey").orderBy(F.col("lsn").desc_nulls_last())
    o_asof = (
        o_env.crossJoin(F.broadcast(bound))
        .where(F.col("lsn").isNull() | (F.col("lsn") <= F.col("lsn_bound")))
        .withColumn("rn", F.row_number().over(wo))
        .where((F.col("rn") == 1) & (F.col("op") != "DELETE"))
        .select("o_orderkey")
    )
    # the child table replays its half of the transaction as KEYED
    # cascading deletes (delete-by-orderkey at the shared lsn): the
    # visible delete-key set anti-joins the imported rows. The
    # fixture's (l_orderkey, l_linenumber) is intentionally NOT unique
    # (composite-PK duplicates), so per-row compaction would collapse
    # legitimate rows — keyed delete replay is both the correct CDC
    # semantics for a cascade and the only shape that preserves bag
    # cardinality.
    l_delkeys = (
        o.where(k % 17 == 0)
        .select("o_orderkey", (base + 2 * k + 1).alias("lsn"))
        .crossJoin(F.broadcast(bound))
        .where(F.col("lsn") <= F.col("lsn_bound"))
        .select(F.col("o_orderkey").alias("delk"))
    )
    l_asof = li.join(
        l_delkeys, li["l_orderkey"] == l_delkeys["delk"], "left_anti"
    ).select("l_orderkey")
    # r11 (guide §5/§1.2 — fewer actions, never recompute a subtree):
    # the old shape ran THREE count() actions, and the orphan count's
    # plan re-evaluated BOTH asof reconstructions (the orders window +
    # the lineitem anti-join) a second time. Checkpoint the small
    # surviving-order key set once (it is both the n_orders census and
    # the orphan probe's build side), then fold n_lineitems and
    # n_orphans in ONE aggregate over a single pass of the surviving
    # lineitems: 3 actions → 2 jobs, each subtree evaluated once.
    o_keys = o_asof.localCheckpoint(eager=True)
    n_o = o_keys.count()
    l_stats = (
        l_asof.join(
            o_keys.select(F.col("o_orderkey").alias("ok")),
            l_asof["l_orderkey"] == F.col("ok"),
            "left",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_l"),
            F.sum(F.when(F.col("ok").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_orph"),
        )
        .collect()[0]
    )
    return spark.createDataFrame(
        [(n_o, int(l_stats["n_l"]), int(l_stats["n_orph"]))],
        "n_orders long, n_lineitems long, n_orphans long",
    )
