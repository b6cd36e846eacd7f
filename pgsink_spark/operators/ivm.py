"""Registry query for incremental join-view maintenance
(sinks/incremental_join.py): replay a deterministic two-batch CDC
history over the fixture tables through the IVM engine and serve the
maintained view — hash-checked against the plain SQL join DuckDB
computes over the equivalent end state.

History replayed (orders ⋈ customer on custkey):
  batch 1: INSERT all customers, INSERT odd-key orders
  batch 2: INSERT even-key orders (ΔA⋈B and ΔA⋈ΔB both exercised),
           UPDATE orders with key%10==5 (+10 to the rounded total),
           DELETE customers with custkey%100==7 (their orders leave
           the view)

The oracle expresses the same end state declaratively, so the driver's
hash gate covers the delta rule, retraction, and merge pruning — not
just "rows came back".
"""

from __future__ import annotations

import hashlib
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgsink_spark.changelog.envelope import payload_type_of, to_envelope
from pgsink_spark.operators.registry import query
from pgsink_spark.operators.relational import dec, rnd
from pgsink_spark.sinks.incremental_join import IncrementalJoinView
from pgsink_spark.sources.fixtures import load_table


def _change_env(
    rows: DataFrame, before_cols: list | None, after_cols: list | None
) -> DataFrame:
    """UPDATE/DELETE envelopes from a row frame (to_envelope covers
    INSERT/IMPORT only)."""
    before = (
        F.struct(*before_cols)
        if before_cols is not None
        else F.lit(None).cast(payload_type_of(rows.select(*after_cols)))
    )
    after = (
        F.struct(*after_cols)
        if after_cols is not None
        else F.lit(None).cast(payload_type_of(rows.select(*before_cols)))
    )
    return rows.select(
        F.timestamp_seconds(F.lit(0)).cast("timestamp").alias("timestamp"),
        F.lit("public").alias("namespace"),
        F.lit("t").alias("name"),
        F.lit(2).cast("bigint").alias("lsn"),
        F.lit(None).cast("bigint").alias("sequence"),
        before.alias("before"),
        after.alias("after"),
    )


@query(
    "ivm_join_view",
    """
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey % 10 = 5
                THEN CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 2)
                          AS DOUBLE) + 10.0
                ELSE CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 2)
                          AS DOUBLE) END AS tp,
           c_name, c_acctbal
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey % 100 != 7
    ORDER BY o_orderkey
    """,
)
def ivm_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain orders⋈customer incrementally through the two-batch
    history above, then serve the view. The state lives in a
    deterministic /tmp dir wiped at call start (the returned frame is
    a lazy scan of the final state, so it must survive the call)."""
    path = "/tmp/pgsink_ivm_q_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    shutil.rmtree(path, ignore_errors=True)

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", rnd(dec("o_totalprice"), 2).alias("tp")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name", "c_acctbal"
    )
    view = IncrementalJoinView(
        spark,
        path,
        payload_type_of(orders),
        payload_type_of(cust),
        "o_custkey",
    )
    k = F.col("o_orderkey")
    view.apply_batch(
        to_envelope(orders.where(k % 2 == 1), "public", "orders",
                    lsn=F.lit(1)),
        to_envelope(cust, "public", "customer", lsn=F.lit(1)),
    )
    after_cols = [
        F.col("o_orderkey"),
        F.col("o_custkey"),
        (F.col("tp") + F.lit(10.0)).alias("tp"),
    ]
    before_cols = [F.col("o_orderkey"), F.col("o_custkey"), F.col("tp")]
    env_a2 = to_envelope(
        orders.where(k % 2 == 0), "public", "orders", lsn=F.lit(2)
    ).unionByName(
        _change_env(orders.where(k % 10 == 5), before_cols, after_cols)
    )
    env_b2 = _change_env(
        cust.where(F.col("o_custkey") % 100 == 7),
        [F.col("o_custkey"), F.col("c_name"), F.col("c_acctbal")],
        None,
    )
    view.apply_batch(env_a2, env_b2)
    return view.read().orderBy("o_orderkey")


@query(
    "ivm_agg_view",
    """
    SELECT o_orderpriority,
           CAST(ROUND(SUM(CASE WHEN o_orderkey % 10 = 5
                     THEN CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 2)
                               AS DECIMAL(18,4)) + 10
                     ELSE CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 2)
                               AS DECIMAL(18,4)) END), 2) AS DOUBLE)
             AS agg_sum,
           CAST(COUNT(*) AS BIGINT) AS agg_cnt
    FROM orders WHERE o_orderkey % 100 != 7
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def ivm_agg_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental AGGREGATE maintenance end-state check
    (sinks/incremental_agg.py): replay a three-batch history — insert
    odd keys, insert even keys, then update keys %10==5 (+10) and
    delete keys %100==7 — into a materialized SUM/COUNT by
    o_orderpriority, and hash-check the final aggregate against the
    declarative GROUP BY over the equivalent end state.

    Sums run in exact decimal on both sides (the envelope payload
    carries DECIMAL(18,4)) and surface as rounded float64, so the
    delta arithmetic is engine-order-independent.
    """
    from pgsink_spark.sinks.incremental_agg import IncrementalAgg

    path = "/tmp/pgsink_ivma_q_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        rnd(dec("o_totalprice"), 2).cast("decimal(18,4)").alias("tp"),
    )
    agg = IncrementalAgg(spark, path, ["o_orderpriority"], "tp")
    k = F.col("o_orderkey")
    base = [F.col("o_orderkey"), F.col("o_orderpriority"), F.col("tp")]
    plus = [
        F.col("o_orderkey"),
        F.col("o_orderpriority"),
        (F.col("tp") + F.lit(10).cast("decimal(18,4)"))
        .cast("decimal(18,4)")
        .alias("tp"),
    ]
    # same three-batch history via apply_batches (r11, guide §2.6)
    agg.apply_batches(
        [
            to_envelope(orders.where(k % 2 == 1), "public", "orders",
                        lsn=F.lit(1)),
            to_envelope(orders.where(k % 2 == 0), "public", "orders",
                        lsn=F.lit(2)),
            _change_env(orders.where(k % 10 == 5), base, plus).unionByName(
                _change_env(orders.where(k % 100 == 7), base, None)
            ),
        ]
    )
    return (
        agg.read()
        .select(
            "o_orderpriority",
            rnd(F.col("agg_sum").cast("decimal(18,4)"), 2).alias("agg_sum"),
            F.col("agg_cnt").cast("bigint").alias("agg_cnt"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "ivm_minmax_view",
    """
    SELECT o_orderpriority,
           CAST(MIN(CASE WHEN o_orderkey % 10 = 5
                 THEN CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 2)
                           AS DECIMAL(18,4)) + 10
                 ELSE CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 2)
                           AS DECIMAL(18,4)) END) AS DOUBLE) AS agg_min,
           CAST(MAX(CASE WHEN o_orderkey % 10 = 5
                 THEN CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 2)
                           AS DECIMAL(18,4)) + 10
                 ELSE CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 2)
                           AS DECIMAL(18,4)) END) AS DOUBLE) AS agg_max
    FROM orders WHERE o_orderkey % 100 != 7
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def ivm_minmax_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid MIN/MAX maintenance end-state check
    (sinks/incremental_agg.py IncrementalMinMax): same three-batch
    history as ivm_agg_view — the update/delete batch retracts rows
    that tie group extrema, so the dirty-group recompute path is
    exercised against the real compacted state — and the final
    extrema hash-check against the declarative GROUP BY."""
    from pgsink_spark.sinks.incremental_agg import IncrementalMinMax

    path = "/tmp/pgsink_ivmm_q_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        rnd(dec("o_totalprice"), 2).cast("decimal(18,4)").alias("tp"),
    )
    k = F.col("o_orderkey")
    # the logical end-state (what the compactor would serve after the
    # full history) — the base the dirty-group recompute reads
    final_state = orders.where(k % 100 != 7).select(
        "o_orderkey",
        "o_orderpriority",
        F.when(k % 10 == 5, F.col("tp") + F.lit(10).cast("decimal(18,4)"))
        .otherwise(F.col("tp"))
        .cast("decimal(18,4)")
        .alias("tp"),
    )
    mm = IncrementalMinMax(
        spark, path, ["o_orderpriority"], "tp", lambda: final_state
    )
    mm.apply_batch(
        to_envelope(orders.where(k % 2 == 1), "public", "orders",
                    lsn=F.lit(1))
    )
    mm.apply_batch(
        to_envelope(orders.where(k % 2 == 0), "public", "orders",
                    lsn=F.lit(2))
    )
    base = [F.col("o_orderkey"), F.col("o_orderpriority"), F.col("tp")]
    plus = [
        F.col("o_orderkey"),
        F.col("o_orderpriority"),
        (F.col("tp") + F.lit(10).cast("decimal(18,4)"))
        .cast("decimal(18,4)")
        .alias("tp"),
    ]
    mm.apply_batch(
        _change_env(orders.where(k % 10 == 5), base, plus).unionByName(
            _change_env(orders.where(k % 100 == 7), base, None)
        )
    )
    return (
        mm.read()
        .select(
            "o_orderpriority",
            F.col("agg_min").cast("double").alias("agg_min"),
            F.col("agg_max").cast("double").alias("agg_max"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "ivm_distinct_view",
    """
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT CASE WHEN o_orderkey % 10 = 5
                THEN o_custkey + 10000000 ELSE o_custkey END) AS BIGINT)
             AS distinct_cnt
    FROM orders WHERE o_orderkey % 100 != 7
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def ivm_distinct_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental COUNT(DISTINCT) maintenance end-state check
    (sinks/incremental_agg.IncrementalDistinct): replay the module's
    three-batch history — insert odd keys, insert even keys, then
    UPDATE keys %10==5 to a shifted customer (+10M, moving them to a
    fresh distinct value) and DELETE keys %100==7 — into a
    materialized per-priority distinct-customer count, and hash-check
    the final view against the declarative COUNT(DISTINCT) over the
    equivalent end state.

    The update/delete mix is chosen to hit the support-table cases a
    naive counter breaks on: deleting one of several orders sharing a
    customer must NOT decrement the distinct count (multiplicity
    drops 2→1), while deleting the last one must (1→0 prunes the
    support row).
    """
    from pgsink_spark.sinks.incremental_agg import IncrementalDistinct

    path = "/tmp/pgsink_ivmd_q_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_custkey"
    )
    view = IncrementalDistinct(
        spark, path, ["o_orderpriority"], "o_custkey"
    )
    k = F.col("o_orderkey")
    base = [F.col("o_orderkey"), F.col("o_orderpriority"),
            F.col("o_custkey")]
    moved = [
        F.col("o_orderkey"),
        F.col("o_orderpriority"),
        (F.col("o_custkey") + F.lit(10_000_000)).alias("o_custkey"),
    ]
    # same three-batch history via apply_batches (r11, guide §2.6:
    # the support-table delta jobs overlap; merges stay sequential)
    view.apply_batches(
        [
            to_envelope(orders.where(k % 2 == 1), "public", "orders",
                        lsn=F.lit(1)),
            to_envelope(orders.where(k % 2 == 0), "public", "orders",
                        lsn=F.lit(2)),
            _change_env(orders.where(k % 10 == 5), base, moved).unionByName(
                _change_env(orders.where(k % 100 == 7), base, None)
            ),
        ]
    )
    return view.read().orderBy("o_orderpriority")


IVM_TOPK = 10


@query(
    "ivm_topk_view",
    """
    WITH end_state AS (
      SELECT o_custkey,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(ROUND(SUM(CASE WHEN o_orderkey % 10 = 5
                  THEN CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 2)
                            AS DECIMAL(18,4)) + 10
                  ELSE CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 2)
                            AS DECIMAL(18,4)) END), 2) AS DOUBLE) AS revenue
      FROM orders WHERE o_orderkey % 100 != 7
      GROUP BY o_custkey
    )
    SELECT o_custkey, n_orders, revenue
    FROM end_state
    ORDER BY n_orders DESC, revenue DESC, o_custkey
    LIMIT 10
    """,
)
def ivm_topk_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained TOP-K: serve the 10 most active
    customers (by maintained order count, then maintained exact-
    decimal revenue) straight from the IncrementalAgg state after
    replaying the module's three-batch history — insert odd keys,
    insert even keys, then update keys %10==5 (+10) and delete keys
    %100==7. The point the hash pins: a maintained grouped aggregate
    makes top-k a TakeOrdered over STATE (customer-count sized),
    never a rescan of the fact stream — the "leaderboard view" every
    CDC consumer eventually builds, here priced at O(state) per
    refresh with deletes handled by the delta rule, not recompute.
    """
    from pgsink_spark.sinks.incremental_agg import IncrementalAgg

    path = "/tmp/pgsink_ivmt_q_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        rnd(dec("o_totalprice"), 2).cast("decimal(18,4)").alias("tp"),
    )
    agg = IncrementalAgg(spark, path, ["o_custkey"], "tp")
    k = F.col("o_orderkey")
    base = [F.col("o_orderkey"), F.col("o_custkey"), F.col("tp")]
    plus = [
        F.col("o_orderkey"),
        F.col("o_custkey"),
        (F.col("tp") + F.lit(10).cast("decimal(18,4)"))
        .cast("decimal(18,4)")
        .alias("tp"),
    ]
    # same three-batch history, replayed through apply_batches so the
    # state-independent delta jobs overlap (r11, guide §2.6); merge
    # order and every state epoch are unchanged
    agg.apply_batches(
        [
            to_envelope(orders.where(k % 2 == 1), "public", "orders",
                        lsn=F.lit(1)),
            to_envelope(orders.where(k % 2 == 0), "public", "orders",
                        lsn=F.lit(2)),
            _change_env(orders.where(k % 10 == 5), base, plus).unionByName(
                _change_env(orders.where(k % 100 == 7), base, None)
            ),
        ]
    )
    return (
        agg.read()
        .select(
            "o_custkey",
            F.col("agg_cnt").cast("long").alias("n_orders"),
            rnd(F.col("agg_sum"), 2).alias("revenue"),
        )
        .orderBy(
            F.desc("n_orders"), F.desc("revenue"), "o_custkey"
        )
        .limit(IVM_TOPK)
    )
