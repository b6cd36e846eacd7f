"""Incremental corpus curation: the streaming twin of
``operators/curation.pipeline_curation``.

A pretraining corpus is not built in one pass — crawl batches arrive
continuously and each must be scored, deduplicated *against everything
already accepted*, and appended to the curated store without rescanning
the corpus. This component is that loop, shaped for Structured
Streaming's ``foreachBatch``:

    stream.writeStream.foreachBatch(
        lambda df, _epoch: curator.apply_batch(df)
    )

State is two parquet stores under ``root``:

- ``seen/``    — accepted fingerprints ``(fp, canonical_id)``,
  hash-partitioned by ``fpb = pmod(xxhash64(fp), n_buckets)``.
- ``curated/`` — accepted documents with their curation columns,
  partitioned by split (the downstream read unit).

Batch algorithm: score (row-local, codegen'd — same expressions as the
batch pipeline), elect in-batch canonicals (one window over fp, the
same single shuffle the batch flagship pays), then LEFT ANTI join the
seen store to drop anything accepted in an earlier batch, and append
survivors to both stores.

100 TB shape: the anti-join is the only cross-batch work and it is
bucket-prunable — the batch side carries ``fpb``, so only seen-buckets
matching the batch's fingerprints are read (partition pruning on the
store side), and both sides shuffle on the same uniform md5-derived
key. Seen-store size is bounded by accepted docs, not crawl volume;
the stores are append-only so a crashed batch replays idempotently at
read time (canonical election keeps the min doc_id per fp — re-running
a batch re-appends rows that dedup away on read, and a periodic
compaction removes them physically).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pgsink_spark.operators.sampling import hash_bucket
from pgsink_spark.operators.text import _substr_count

QUALITY_KEEP = 0.45


def score_documents(docs: DataFrame) -> DataFrame:
    """Row-local curation features (identical expressions to
    pipeline_curation): pred_lang, quality, split, fp."""
    text = F.lower(F.col("text"))
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    counts = {
        tok: _substr_count(padded, f" {tok} ")
        for tok in ("the", "le", "der", "el")
    }
    n_words = F.size(F.split(text, " ")).cast("bigint")
    n_stop = counts["the"]
    mean_wlen = (F.length(text) - (n_words - 1)) / n_words
    quality = (
        F.least(n_words / 100.0, F.lit(1.0)) * 0.5
        + (1.0 - F.least(n_stop / n_words * 5.0, F.lit(1.0))) * 0.3
        + F.least(mean_wlen / 8.0, F.lit(1.0)) * 0.2
    ).cast("double")
    pred_lang = (
        F.when(counts["le"] > counts["the"], "fr")
        .when(counts["der"] > counts["the"], "de")
        .when(counts["el"] > counts["the"], "es")
        .otherwise("en")
    )
    bk = hash_bucket(F.col("doc_id"))
    split = (
        F.when(bk < 90, "train").when(bk < 95, "val").otherwise("test")
    )
    return docs.select(
        "doc_id",
        pred_lang.alias("pred_lang"),
        quality.alias("quality"),
        split.alias("split"),
        F.md5(text).alias("fp"),
    )


class IncrementalCurator:
    """Streaming corpus curation with a persistent seen-fingerprint
    store; ``apply_batch`` is foreachBatch-compatible."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        quality_keep: float = QUALITY_KEEP,
        n_buckets: int = 32,
    ):
        self.spark = spark
        self.seen_path = os.path.join(root, "seen")
        self.curated_path = os.path.join(root, "curated")
        self.quality_keep = quality_keep
        self.n_buckets = n_buckets

    def _fpb(self) -> F.Column:
        return F.pmod(F.xxhash64(F.col("fp")), F.lit(self.n_buckets)).cast(
            "int"
        )

    def _have_seen(self) -> bool:
        return os.path.isdir(self.seen_path) and any(
            e.startswith("fpb=") for e in os.listdir(self.seen_path)
        )

    def apply_batch(self, docs: DataFrame, _epoch_id: int | None = None) -> int:
        """Score → in-batch canonical election → cross-batch anti-join
        → append survivors. Returns the number of accepted docs."""
        scored = score_documents(docs)
        w = Window.partitionBy("fp")
        cand = (
            scored.withColumn("canonical_id", F.min("doc_id").over(w))
            .where(F.col("doc_id") == F.col("canonical_id"))
            .where(F.col("quality") >= self.quality_keep)
            .withColumn("fpb", self._fpb())
        )

        if self._have_seen():
            batch_buckets = [
                r["fpb"] for r in cand.select("fpb").distinct().collect()
            ]
            seen = (
                self.spark.read.parquet(self.seen_path)
                .where(F.col("fpb").isin(batch_buckets))
                .select("fp")
            )
            fresh = cand.join(seen, "fp", "left_anti")
        else:
            fresh = cand

        # one materialization feeds both appends and the count
        fresh = fresh.localCheckpoint(eager=True)
        n = fresh.count()
        if n:
            (
                fresh.select(
                    "doc_id", "pred_lang", "quality", "split"
                )
                .write.mode("append")
                .partitionBy("split")
                .parquet(self.curated_path)
            )
            (
                fresh.select(
                    "fp", F.col("doc_id").alias("canonical_id"), "fpb"
                )
                .write.mode("append")
                .partitionBy("fpb")
                .parquet(self.seen_path)
            )
        return n

    def curated(self) -> DataFrame:
        return self.spark.read.parquet(self.curated_path)
