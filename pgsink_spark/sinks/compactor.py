"""Incremental keyed compaction: a materialized most-recent-row table
maintained batch-by-batch (the parquet-native MERGE).

Reference parity: the BigQuery sink serves latest-row reads through a
read-time view (pkg/sinks/bigquery/schema_builders.go:115-161); its
docs leave materialization to the warehouse.
``WarehouseSink.install_view`` is that read-time view; this module is
the *incremental* materialization — each envelope batch only touches
the key-buckets it contains.

Layout and algorithm:

- The compacted table is parquet partitioned by ``bucket =
  pmod(xxhash64(key…), n_buckets)`` — a stable content-hash clustering
  of the key space (the C3 clustering knob, here made the merge unit).
- ``apply_batch(env)``: project the batch to compacted rows, find its
  distinct buckets (≤ n_buckets values — control-plane small), read
  ONLY those partitions of the existing table (partition pruning),
  re-run the most-recent-row window over old ∪ new, and rewrite just
  those partitions via dynamic partition overwrite.
- DELETEs are kept as tombstone rows (operation = 'DELETE') and
  filtered at read time: a late-arriving older image of a deleted key
  must lose to the tombstone, which it can only do if the tombstone is
  still there to outrank it. Real tables GC tombstones after the
  out-of-orderness horizon passes.

At 100 TB: per-batch cost is O(batch + affected buckets), not O(table)
— a hot-key workload touches few buckets; a uniform trickle touches
many small ones. n_buckets is the tuning knob: one bucket should be an
executor-memory-sized unit. The same bucketing serves pk point-reads
(scan one partition) and equals the bucketed-join layout of
operators/bucketing.py. The window ordering (timestamp, lsn, sequence
DESC) is byte-identical to the read-time view's, so switching readers
between the view and the materialized table never changes results.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pgsink_spark.changelog.envelope import after_or_before, operation

OP_DELETE = "DELETE"


class KeyedCompactedTable:
    """Materialized latest-per-key table under ``path``, merged
    incrementally from envelope batches (foreachBatch-compatible:
    ``stream.foreachBatch(lambda df, _: table.apply_batch(df))``)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_columns: list[str],
        n_buckets: int = 64,
    ):
        self.spark = spark
        self.path = path
        self.key_columns = list(key_columns)
        self.n_buckets = n_buckets
        self.last_affected: list[int] = []  # introspection for tests/metrics

    # -- layout ---------------------------------------------------------

    def _bucket(self) -> F.Column:
        keys = [F.col(f"payload.{c}") for c in self.key_columns]
        return F.pmod(F.xxhash64(*keys), F.lit(self.n_buckets)).cast("int")

    def _project(self, env: DataFrame) -> DataFrame:
        """Envelope batch → compacted-row shape (ordering columns kept
        so later merges can re-rank against existing rows)."""
        return env.select(
            "timestamp",
            "lsn",
            "sequence",
            operation().alias("operation"),
            after_or_before().alias("payload"),
        ).withColumn("bucket", self._bucket())

    def _have_buckets(self) -> bool:
        return os.path.isdir(self.path) and any(
            e.startswith("bucket=") for e in os.listdir(self.path)
        )

    # -- merge ----------------------------------------------------------

    def apply_batch(self, env: DataFrame) -> list[int]:
        """Merge one envelope batch; returns the bucket ids rewritten."""
        fresh = self._project(env)
        affected = sorted(
            r["bucket"] for r in fresh.select("bucket").distinct().collect()
        )
        self.last_affected = affected
        if not affected:
            return affected

        if self._have_buckets():
            # mergeSchema + allowMissingColumns: schema evolution (ALTER
            # TABLE ADD COLUMN) widens the payload struct between
            # batches; old rows serve NULL for the new field
            current = self.spark.read.option("mergeSchema", "true").parquet(
                self.path
            ).where(F.col("bucket").isin(affected))
            merged_in = current.unionByName(fresh, allowMissingColumns=True)
        else:
            merged_in = fresh

        pk = [F.col(f"payload.{c}") for c in self.key_columns]
        rank = F.row_number().over(
            # byte-identical ordering to compaction_view_sql
            Window.partitionBy(*pk).orderBy(
                F.col("timestamp").desc(),
                F.col("lsn").desc_nulls_last(),
                F.col("sequence").desc_nulls_last(),
            )
        )
        merged = (
            merged_in.withColumn("row_number", rank)
            .where(F.col("row_number") == 1)
            .drop("row_number")
        )
        (
            merged.repartition(len(affected), "bucket")
            .sortWithinPartitions(*pk)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(self.path)
        )
        return affected

    def gc_tombstones(self, up_to_lsn: int) -> list[int]:
        """Physically drop DELETE tombstones with ``lsn <= up_to_lsn``.

        The horizon is the caller's out-of-orderness bound (e.g. the
        confirmed-LSN watermark minus the max replay window): once no
        older image of a key can still arrive, its tombstone is dead
        weight. Only buckets actually holding qualifying tombstones are
        rewritten. Returns the rewritten bucket ids.
        """
        if not self._have_buckets():
            return []
        df = self.spark.read.option("mergeSchema", "true").parquet(self.path)
        dead = (F.col("operation") == OP_DELETE) & (
            F.col("lsn") <= F.lit(up_to_lsn)
        )
        affected = sorted(
            r["bucket"]
            for r in df.where(dead).select("bucket").distinct().collect()
        )
        if not affected:
            return affected
        pk = [F.col(f"payload.{c}") for c in self.key_columns]
        kept = df.where(F.col("bucket").isin(affected)).where(~dead)
        kept = kept.localCheckpoint(eager=True)  # read fully BEFORE overwrite
        survivors = {
            r["bucket"] for r in kept.select("bucket").distinct().collect()
        }
        if survivors:
            (
                kept.repartition(len(survivors), "bucket")
                .sortWithinPartitions(*pk)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(self.path)
            )
        # dynamic overwrite only rewrites partitions it has rows for; a
        # bucket whose every row was a dead tombstone must be dropped
        # explicitly
        import shutil  # noqa: PLC0415

        for b in set(affected) - survivors:
            shutil.rmtree(
                os.path.join(self.path, f"bucket={b}"), ignore_errors=True
            )
        return affected

    # -- read -----------------------------------------------------------

    def read(self) -> DataFrame:
        """Live rows (tombstones filtered), payload columns only."""
        return (
            self.spark.read.option("mergeSchema", "true")
            .parquet(self.path)
            .where(F.col("operation") != OP_DELETE)
            .select("payload.*")
        )

    def read_key(self, **key_values) -> DataFrame:
        """Point lookup: prunes to the key's single bucket partition."""
        df = self.spark.read.option("mergeSchema", "true").parquet(self.path)
        # xxhash64 is type-sensitive: literals must be cast to the
        # payload field's exact type or the bucket hash won't match
        payload_t = df.schema["payload"].dataType
        keys = [
            F.lit(key_values[c]).cast(payload_t[c].dataType)
            for c in self.key_columns
        ]
        bucket = F.pmod(F.xxhash64(*keys), F.lit(self.n_buckets)).cast("int")
        df = df.where(F.col("bucket") == bucket)
        for c in self.key_columns:
            df = df.where(F.col(f"payload.{c}") == key_values[c])
        return df.where(F.col("operation") != OP_DELETE).select("payload.*")
