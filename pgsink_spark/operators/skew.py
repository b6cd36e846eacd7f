"""Skew mitigation: salted joins and salted aggregation.

At 100 TB a handful of hot keys (one viral user, one boilerplate
fingerprint) can pin a shuffle partition to a single straggler task.
AQE's skew-join splitting handles sort-merge joins it can see; salting
is the explicit, planner-independent version — and the only option when
the skewed side feeds a *hash aggregation* whose map-side partials
can't collapse (e.g. count-distinct per hot key).

The trick: widen the hot key to ``(key, salt)`` with ``S`` deterministic
salts on the fact side, replicate the dim row ``S``× (explode over
``sequence(0, S-1)``), join on both columns. Each hot key's rows now
spread over ``S`` shuffle partitions; the dim grows by ``S``× — cheap,
because the dim side is the small one. Salts come from ``xxhash64`` of a
per-row unique column, NOT ``rand()``, so the plan stays deterministic
and replayable (same contract as :mod:`sampling`).

Salting is pure overhead when the dim is broadcast-able (broadcast
joins never shuffle the fact, so they cannot skew) — it exists for the
regime where the dim exceeds the broadcast threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgsink_spark.operators.registry import query
from pgsink_spark.operators.relational import dec, rnd
from pgsink_spark.sources.fixtures import load_table

SALT = 16


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    salt_src: str,
    salt: int = SALT,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``fact ⋈ dim`` salted ``salt`` ways.

    ``salt_src`` is a unique (or near-unique) fact column hashed to pick
    the salt deterministically. Result is row-identical to the unsalted
    join; the plan's join keys become ``(key, _salt)``.
    """
    f = fact.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(salt_src)), F.lit(salt))
    )
    d = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    ).withColumn("_salt", F.col("_salt").cast("bigint"))
    out = f.join(
        d,
        (F.col(fact_key) == F.col(dim_key)) & (f["_salt"] == d["_salt"]),
        how,
    )
    return out.drop("_salt")


@query(
    "d44_salted_join",
    """
    SELECT e.user_id, c.c_name,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(ROUND(sum(CAST(e.value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY e.user_id, c.c_name
    ORDER BY e.user_id
    """,
)
def d44_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key fact⋈dim join, salted 16 ways, then re-aggregated by the
    true key. events.user_id is a low-cardinality hot key (every user
    is hot); the salted plan spreads each user over 16 partitions. The
    dim side is hinted ``shuffle_hash`` so the salted shuffle path is
    exercised even at fixture scale where the dim would otherwise
    broadcast (with a broadcast, salting would be a no-op)."""
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    ).hint("shuffle_hash")
    joined = salted_join(
        events, customer, "user_id", "c_custkey", salt_src="event_id"
    )
    return (
        joined.groupBy("user_id", "c_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            rnd(F.sum(dec("value"))).alias("sum_value"),
        )
        .orderBy("user_id")
    )
