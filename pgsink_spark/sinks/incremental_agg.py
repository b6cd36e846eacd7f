"""Incremental aggregate maintenance (IVM): keep a materialized
GROUP-BY-SUM/COUNT table current from envelope batches, without
recomputing from the base table.

The compacted base (sinks/compactor.py) holds latest-per-key ROWS; this
maintains downstream AGGREGATES — the other half of a serving layer.
For self-maintainable aggregates (SUM, COUNT; AVG = SUM/COUNT at read
time) a change stream updates the aggregate with pure deltas:

    INSERT  → +after       UPDATE → +after −before       DELETE → −before

Batch algorithm: project every envelope row into (group_key, ±delta
contributions) — an UPDATE contributes two rows — aggregate the batch's
deltas (one shuffle over batch-only data), then merge into the
materialized table keyed on the group and drop groups whose count
reaches zero. The merge reads ONLY the groups present in the batch
(broadcast semi-join pruning, or bucket partitioning for huge group
spaces).

At 100 TB: per-batch cost is O(batch + touched groups); the aggregate
table itself is group-cardinality-sized, usually tiny next to the base
table. MIN/MAX are NOT self-maintainable under deletes (a retracted
max needs the base table) — callers needing them use the compacted
table; this module enforces sum/count only.

Reference parity: pgsink serves most-recent-row views and leaves
aggregate maintenance to the warehouse (BigQuery materialized views do
exactly this delta propagation for SUM/COUNT); here it is a first-class
engine capability.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


class IncrementalAgg:
    """Materialized ``GROUP BY group_cols`` with SUM(value_col) and
    COUNT(*) maintained from envelope batches.

    ``apply_batch`` is foreachBatch-compatible.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        group_cols: list[str],
        value_col: str,
    ):
        self.spark = spark
        self.path = path
        self.group_cols = list(group_cols)
        self.value_col = value_col

    # epoch-versioned state: foreachBatch is at-least-once, and delta
    # merges are not idempotent — commit each epoch to a fresh dir and
    # publish with an atomic manifest rename (same contract as
    # sinks/incremental_join.py); replayed epochs are skipped.
    def _manifest_path(self) -> str:
        return os.path.join(self.path, "manifest.json")

    def _manifest(self) -> dict | None:
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def _publish(self, epoch: int, d: str) -> None:
        os.makedirs(self.path, exist_ok=True)
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"epoch": epoch, "dir": d}, f)
        os.replace(tmp, self._manifest_path())
        for sub in os.listdir(self.path):
            full = os.path.join(self.path, sub)
            if os.path.isdir(full) and sub != d:
                shutil.rmtree(full, ignore_errors=True)

    def _exists(self) -> bool:
        return self._manifest() is not None

    def _deltas(self, env: DataFrame) -> DataFrame:
        """(group, sum_delta, cnt_delta) per envelope batch — one
        aggregation over batch-only data. after contributes +, before
        contributes − (UPDATE yields both; the two rows cancel when the
        group didn't change)."""

        def side(img: str, sign: int) -> DataFrame:
            cols: list[Column] = [
                F.col(f"{img}.{c}").alias(c) for c in self.group_cols
            ]
            cols.append(
                (F.lit(sign) * F.col(f"{img}.{self.value_col}")).alias("dv")
            )
            cols.append(F.lit(sign).alias("dc"))
            return env.where(F.col(img).isNotNull()).select(*cols)

        contrib = side("after", 1).unionByName(side("before", -1))
        return contrib.groupBy(*self.group_cols).agg(
            F.sum("dv").alias("sum_delta"),
            F.sum("dc").cast("bigint").alias("cnt_delta"),
        )

    def apply_batch(self, env: DataFrame, _epoch_id: int | None = None) -> int:
        """Merge one envelope batch's deltas; returns groups touched.
        A re-delivered epoch (at-least-once replay) is skipped."""
        man = self._manifest()
        last = man["epoch"] if man else -1
        if _epoch_id is not None and _epoch_id <= last:
            return 0
        deltas = self._deltas(env).localCheckpoint(eager=True)
        return self._merge_deltas(deltas, _epoch_id)

    def apply_batches(self, envs: list[DataFrame]) -> list[int]:
        """Replay several envelope batches IN ORDER. State evolution is
        identical to sequential ``apply_batch`` calls — merges run
        strictly sequentially, each against the state its predecessor
        published — but the per-batch DELTA aggregations depend only on
        their own batch (never on state), so ALL of them run as ONE
        fused job (each batch keeps its own groupBy; the aggregated
        per-batch results union under a batch tag before the single
        materialization — guide §1.2/§2.6: one job instead of one
        delta job per batch). Each merge then reads its batch's slice
        of the checkpointed union."""
        if not envs:
            return []
        tagged = None
        for i, env in enumerate(envs):
            d = self._deltas(env).withColumn("_b", F.lit(i))
            tagged = d if tagged is None else tagged.unionByName(d)
        all_deltas = tagged.localCheckpoint(eager=True)
        # every batch's touched-group count in ONE job (each merge
        # otherwise pays its own count action against the checkpoint)
        cnts = {
            r["_b"]: r["n"]
            for r in all_deltas.groupBy("_b")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        return [
            self._merge_deltas(
                all_deltas.where(F.col("_b") == i).drop("_b"),
                touched=int(cnts.get(i, 0)),
            )
            for i in range(len(envs))
        ]

    def _merge_deltas(
        self,
        deltas: DataFrame,
        _epoch_id: int | None = None,
        touched: int | None = None,
    ) -> int:
        """Merge ONE batch's checkpointed delta frame into the state
        (the tail of apply_batch, factored out so apply_batches can
        precompute deltas). Epoch/skip semantics unchanged; ``touched``
        skips the count action when the caller already knows it."""
        man = self._manifest()
        last = man["epoch"] if man else -1
        if _epoch_id is not None and _epoch_id <= last:
            return 0
        epoch = _epoch_id if _epoch_id is not None else last + 1
        if touched is None:
            touched = deltas.count()
        if not touched:
            return 0
        if self._exists():
            current = self.spark.read.parquet(
                os.path.join(self.path, man["dir"])
            )
            # prune to touched groups (broadcast the batch's group list),
            # merge, and rewrite — untouched groups pass through via the
            # anti-join side union
            keys = deltas.select(*self.group_cols)
            untouched = current.join(
                F.broadcast(keys), self.group_cols, "left_anti"
            )
            merged = (
                current.join(F.broadcast(keys), self.group_cols, "left_semi")
                .unionByName(
                    deltas.select(
                        *self.group_cols,
                        F.col("sum_delta").alias("agg_sum"),
                        F.col("cnt_delta").alias("agg_cnt"),
                    )
                )
                .groupBy(*self.group_cols)
                .agg(
                    F.sum("agg_sum").alias("agg_sum"),
                    F.sum("agg_cnt").cast("bigint").alias("agg_cnt"),
                )
                .where(F.col("agg_cnt") > 0)
                .unionByName(untouched)
            )
        else:
            merged = deltas.select(
                *self.group_cols,
                F.col("sum_delta").alias("agg_sum"),
                F.col("cnt_delta").alias("agg_cnt"),
            ).where(F.col("agg_cnt") > 0)
        d = f"state_{epoch}"
        merged.write.mode("overwrite").parquet(os.path.join(self.path, d))
        self._publish(epoch, d)
        return touched

    def read(self) -> DataFrame:
        """(group_cols..., agg_sum, agg_cnt, agg_avg)."""
        man = self._manifest()
        df = self.spark.read.parquet(os.path.join(self.path, man["dir"]))
        return df.select(
            *self.group_cols,
            "agg_sum",
            "agg_cnt",
            (F.col("agg_sum") / F.col("agg_cnt")).alias("agg_avg"),
        )


class IncrementalMinMax:
    """Materialized ``GROUP BY group_cols`` MIN/MAX(value_col),
    maintained from envelope batches with the partial-self-maintenance
    technique: inserts fold in as pure monotone merges (max(old,new) /
    min(old,new) — no base read), while a retraction (DELETE or UPDATE
    before-image) that ties a group's current extremum makes that group
    DIRTY, and only dirty groups are recomputed from ``base_rows`` (the
    compacted table reader). This is the classical answer to MIN/MAX
    not being self-maintainable under deletes: per-batch cost is
    O(batch + dirty groups' base rows), and a workload with few
    extremum-deletes almost never touches the base table.

    Epoch semantics match IncrementalAgg (same manifest contract):
    re-delivered epochs are skipped.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        group_cols: list[str],
        value_col: str,
        base_rows,
    ):
        self._inner = IncrementalAgg(spark, path, group_cols, value_col)
        self.spark = spark
        self.path = path
        self.group_cols = list(group_cols)
        self.value_col = value_col
        self.base_rows = base_rows
        self.recomputes = 0  # dirty-group recompute counter (observability)

    # manifest plumbing shared with IncrementalAgg via composition
    def _manifest(self):
        return self._inner._manifest()

    def _read(self, man) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.path, man["dir"]))

    def apply_batch(self, env: DataFrame, _epoch_id: int | None = None) -> int:
        man = self._manifest()
        last = man["epoch"] if man else -1
        if _epoch_id is not None and _epoch_id <= last:
            return 0
        epoch = _epoch_id if _epoch_id is not None else last + 1
        g = self.group_cols
        v = self.value_col

        def side(img: str):
            return env.where(F.col(img).isNotNull()).select(
                *[F.col(f"{img}.{c}").alias(c) for c in g],
                F.col(f"{img}.{v}").alias("val"),
            )

        ins = (
            side("after")
            .groupBy(*g)
            .agg(F.min("val").alias("ins_min"), F.max("val").alias("ins_max"))
        )
        rem = (
            side("before")
            .groupBy(*g)
            .agg(F.min("val").alias("rm_min"), F.max("val").alias("rm_max"))
        )
        deltas = ins.join(rem, g, "full_outer").localCheckpoint(eager=True)
        touched = deltas.count()
        if not touched:
            return 0

        if man:
            current = self._read(man)
            keys = deltas.select(*g)
            untouched = current.join(F.broadcast(keys), g, "left_anti")
            joined = current.join(F.broadcast(keys), g, "left_semi").join(
                deltas, g, "full_outer"
            )
            # dirty: a retraction ties the stored extremum — the true
            # new extremum may hide in the base table
            dirty = joined.where(
                (F.col("rm_min") <= F.col("agg_min"))
                | (F.col("rm_max") >= F.col("agg_max"))
                | (F.col("agg_min").isNull() & F.col("rm_min").isNotNull())
            ).select(*g)
            clean = joined.join(F.broadcast(dirty), g, "left_anti").select(
                *g,
                F.least("agg_min", "ins_min").alias("agg_min"),
                F.greatest("agg_max", "ins_max").alias("agg_max"),
            )
            n_dirty = dirty.count()
            if n_dirty:
                self.recomputes += n_dirty
                recomputed = (
                    self.base_rows()
                    .join(F.broadcast(dirty), g, "left_semi")
                    .groupBy(*g)
                    .agg(
                        F.min(v).alias("agg_min"), F.max(v).alias("agg_max")
                    )
                )
                merged = clean.unionByName(recomputed).unionByName(untouched)
            else:
                merged = clean.unionByName(untouched)
        else:
            # Bootstrap must mirror the dirty-group rule: a first batch
            # can already carry before-images (in-batch insert+delete /
            # update chains), and extrema built from after-images alone
            # would include retracted rows. Any group with a removal is
            # recomputed from the base table, same as steady state.
            dirty = deltas.where(
                F.col("rm_min").isNotNull() | F.col("rm_max").isNotNull()
            ).select(*g)
            clean = (
                deltas.join(F.broadcast(dirty), g, "left_anti")
                .select(
                    *g,
                    F.col("ins_min").alias("agg_min"),
                    F.col("ins_max").alias("agg_max"),
                )
                .where(F.col("agg_min").isNotNull())
            )
            n_dirty = dirty.count()
            if n_dirty:
                self.recomputes += n_dirty
                recomputed = (
                    self.base_rows()
                    .join(F.broadcast(dirty), g, "left_semi")
                    .groupBy(*g)
                    .agg(
                        F.min(v).alias("agg_min"), F.max(v).alias("agg_max")
                    )
                )
                merged = clean.unionByName(recomputed)
            else:
                merged = clean
        d = f"state_{epoch}"
        merged.write.mode("overwrite").parquet(os.path.join(self.path, d))
        self._inner._publish(epoch, d)
        return touched

    def read(self) -> DataFrame:
        man = self._manifest()
        return self._read(man)


class IncrementalDistinct:
    """Materialized ``COUNT(DISTINCT value_col) GROUP BY group_cols``
    maintained from envelope batches — the two-level IVM rule for
    distinct aggregates: the inner level is a SUPPORT table of
    multiplicities per (group, value) pair (after-images +1,
    before-images −1, pairs pruned at multiplicity 0 — exactly the
    delta engine IncrementalAgg already runs, reused here with the
    value column appended to the grouping key), and the served view
    counts surviving support rows per group.

    Correctness falls out of the support semantics: a value's row
    exists iff at least one base row still carries it, so inserts of
    an already-present value and deletes of a still-multiply-present
    value change nothing — the cases a naive ±1 counter gets wrong.

    Scale shape: state is O(distinct pairs), both the merge and the
    read are single keyed aggregations, and replayed epochs skip via
    the inner engine's manifest — at 100 TB this is the standard
    incremental-distinct layout (support relation + count roll-up).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        group_cols: list[str],
        value_col: str,
    ):
        self.group_cols = list(group_cols)
        self.value_col = value_col
        self._inner = IncrementalAgg(
            spark, path, self.group_cols + [value_col], value_col
        )

    def apply_batch(self, env: DataFrame, _epoch_id: int | None = None) -> int:
        return self._inner.apply_batch(env, _epoch_id)

    def apply_batches(self, envs: list[DataFrame]) -> list[int]:
        return self._inner.apply_batches(envs)

    def read(self) -> DataFrame:
        """(group_cols..., distinct_cnt) — one keyed pass over the
        support table (rows with multiplicity 0 are already pruned by
        the inner merge)."""
        return (
            self._inner.read()
            .groupBy(*self.group_cols)
            .agg(F.count(F.lit(1)).cast("bigint").alias("distinct_cnt"))
        )
