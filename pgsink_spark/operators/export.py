"""Sorted shard export: write a frame as N parquet shards that are
globally sorted — each shard internally sorted, shard key-ranges
disjoint, shard file order = global order.

This is the standard layout for outputs consumed sequentially at scale
(training shards streamed in curriculum order, time-ordered archive
exports, merge-join-ready extracts): a reader gets global order by
concatenating shards by id, and a range predicate prunes whole shards
via parquet min/max footers without any index.

Spark-first: ``repartitionByRange`` samples the key distribution
(reservoir sample per partition — one extra lightweight pass) and
builds equi-depth range bounds, so shards are balanced even under
skewed keys; ``sortWithinPartitions`` then sorts each shard without
any global sort materialization. Total cost: ONE range shuffle + a
per-shard sort — the same price as any shuffle write, and each task
spills independently at 100 TB. Equal keys land in one shard, so
ranges never interleave.

Reference parity: pgsink's BigQuery sink relies on the warehouse to
cluster (pkg/sinks/bigquery/schema_builders.go clustering fields);
this is that layout produced engine-side as plain parquet, the export
twin of the Z-order writer (operators/zorder.py) for ONE sort
dimension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_sorted_shards(
    df: DataFrame, path: str, sort_cols: list[str], n_shards: int
) -> None:
    """Write ``df`` as ``n_shards`` globally-sorted parquet shards."""
    (
        df.repartitionByRange(n_shards, *[F.col(c) for c in sort_cols])
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


class StreamingShardExport:
    """foreachBatch shard appender: each micro-batch lands as
    range-sharded, internally-sorted parquet under its own
    ``stream=S/epoch=N`` partition, exactly-once via an epoch ledger
    over dynamic partition overwrite, like the warehouse raw tables.

    The resulting layout is the streaming curriculum shape: shards are
    globally sorted WITHIN an epoch and epochs concatenate in arrival
    order — exactly what a trainer consuming a growing corpus wants
    (new data appends at the end; every epoch's shards still prune by
    parquet min/max). A replayed epoch overwrites only its own
    partition, so at-least-once delivery cannot duplicate shards.
    """

    def __init__(
        self,
        spark,
        path: str,
        sort_cols: list[str],
        shards_per_batch: int = 8,
        stream_id: str = "default",
    ):
        self.spark = spark
        self.path = path
        self.sort_cols = sort_cols
        self.shards_per_batch = shards_per_batch
        # ledger identity (Delta txnAppId pattern): pass the streaming
        # query's checkpoint-scoped id so a rebuilt checkpoint (batch
        # ids restarting at 0) gets a fresh high-water mark instead of
        # silently skipping every batch against the old one
        self.stream_id = stream_id

    def _ledger(self) -> str:
        import os

        return os.path.join(self.path, "_epochs.json")

    def _streams(self) -> dict:
        import json

        try:
            with open(self._ledger()) as f:
                return json.load(f)["streams"]
        except (OSError, ValueError):
            return {}

    def committed_epoch(self) -> int | None:
        return self._streams().get(self.stream_id)

    def apply_batch(self, df: DataFrame, epoch: int) -> int:
        import json
        import os

        done = self.committed_epoch()
        if done is not None and epoch == done:
            return 0
        if done is not None and epoch < done:
            raise RuntimeError(
                f"epoch regression for export at {self.path} stream "
                f"{self.stream_id!r}: got {epoch}, committed {done}. "
                f"A rebuilt checkpoint must use a new stream_id."
            )
        (
            df.repartitionByRange(
                self.shards_per_batch, *[F.col(c) for c in self.sort_cols]
            )
            .sortWithinPartitions(*self.sort_cols)
            .withColumn("stream", F.lit(self.stream_id))
            .withColumn("epoch", F.lit(int(epoch)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("stream", "epoch")
            .parquet(self.path)
        )
        streams = self._streams()
        streams[self.stream_id] = int(epoch)
        tmp = self._ledger() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"streams": streams}, f)
        os.replace(tmp, self._ledger())
        return 1

    def read(self) -> DataFrame:
        """Epoch-ordered read (global curriculum order: epoch, key)."""
        return (
            self.spark.read.parquet(self.path)
            .orderBy("epoch", *self.sort_cols)
        )


# ---------------------------------------------------------------------------
# WebDataset-style tar-shard export
# ---------------------------------------------------------------------------

import itertools
import os
import tarfile

from pyspark.sql import SparkSession

from pgsink_spark.operators.registry import query
from pgsink_spark.sources.fixtures import load_table

WDS_SHARD_DOCS = 100
_WDS_RUN = itertools.count()


def write_webdataset_shards(
    docs: DataFrame, out_dir: str, shard_docs: int = WDS_SHARD_DOCS
) -> DataFrame:
    """Write the corpus as WebDataset-style USTAR tar shards — the
    standard sequential-read training format (one ``{key}.txt`` member
    per document, ``shard-NNNNN.tar`` files readable by any tar/WDS
    loader) — and return per-shard (shard_id, n_docs, tar_bytes) stats
    measured from the files actually written.

    Sharding is deterministic: documents ordered by doc_id, cut every
    ``shard_docs`` rows; members are written in doc_id order, so shard
    bytes are a pure function of the corpus. Each shard is produced by
    ONE task (applyInPandas over the shard key — a single shard-keyed
    shuffle moves each document's bytes exactly once), which is also
    the 100 TB shape: shard tasks parallelize freely, no shard ever
    sees more than ``shard_docs`` documents, and the writer streams
    members without materializing the archive in memory.
    """
    import pandas as pd

    os.makedirs(out_dir, exist_ok=True)
    from pyspark.sql import Window as W

    # Global index without a single-partition window (the 12x probe
    # killer): DETERMINISTIC ordered buckets over doc_id, count per
    # bucket (a control-plane collect), broadcast the prefix offsets,
    # and add bucket-LOCAL row numbers — the standard scalable
    # global-rank recipe. Buckets come from a min/max expression, not
    # repartitionByRange, whose SAMPLED boundaries carry a per-job
    # seed: the offsets job and the write job could otherwise land
    # different partitions and corrupt every rank (ranking.py).
    from pgsink_spark.operators.ranking import bucket_offsets, ordered_bucket

    part = docs.withColumn(
        "bucket", ordered_bucket(docs, F.col("doc_id"), 32)
    )
    counts = {
        r["bucket"]: r["cnt"]
        for r in part.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    off, _total = bucket_offsets(part, counts)
    wloc = W.partitionBy("bucket").orderBy("doc_id")
    sharded = part.select(
        "doc_id",
        "text",
        (
            (F.row_number().over(wloc) - 1 + off) / shard_docs
        ).cast("long").alias("shard_id"),
    )

    def write_shard(pdf: "pd.DataFrame") -> "pd.DataFrame":
        shard_id = int(pdf["shard_id"].iloc[0])
        path = os.path.join(out_dir, f"shard-{shard_id:05d}.tar")
        order = pdf.sort_values("doc_id")
        with tarfile.open(path, "w", format=tarfile.USTAR_FORMAT) as tf:
            for doc_id, text in zip(order["doc_id"], order["text"]):
                data = text.encode("utf-8")
                info = tarfile.TarInfo(name=f"{int(doc_id):010d}.txt")
                info.size = len(data)
                info.mtime = 0
                import io

                tf.addfile(info, io.BytesIO(data))
        return pd.DataFrame(
            {
                "shard_id": [shard_id],
                "n_docs": [len(order)],
                "tar_bytes": [os.path.getsize(path)],
            }
        )

    return (
        sharded.groupBy("shard_id")
        .applyInPandas(
            write_shard, "shard_id long, n_docs long, tar_bytes long"
        )
        .orderBy("shard_id")
    )


@query(
    "export_webdataset",
    f"""
    WITH ordered AS (
      SELECT len(text) AS nb,
             (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // {WDS_SHARD_DOCS}
               AS shard_id
      FROM documents
    ),
    per AS (
      SELECT shard_id,
             CAST(count(*) AS BIGINT) AS n_docs,
             SUM(512 * (1 + CAST(CEIL(nb / 512.0) AS BIGINT))) AS member_b
      FROM ordered GROUP BY shard_id
    )
    SELECT shard_id, n_docs,
           CAST(CEIL((member_b + 1024) / 10240.0) AS BIGINT) * 10240
             AS tar_bytes
    FROM per ORDER BY shard_id
    """,
)
def export_webdataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query for the tar-shard exporter: writes REAL USTAR
    archives for the whole corpus, then returns per-shard stats
    measured from the bytes on disk. The oracle computes the same
    numbers from POSIX tar layout arithmetic alone — 512-byte header
    per member, data padded to 512, 1024-byte end-of-archive marker,
    archive padded to the 10240-byte record size — so a wrong member
    count, a truncated write, or a format drift (e.g. GNU longname
    extension blocks sneaking in) all change real file sizes and go
    red at the gate.
    """
    run = next(_WDS_RUN)
    out = f"/tmp/pgsink_wds_{os.getpid()}_{run}"
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return write_webdataset_shards(docs, out)


EPOCH_COUNT = 2
EPOCH_SHARD_DOCS = 100
_ESH_BINS = 64
_ESH_BIN_W = (1 << 52) // _ESH_BINS  # md5-52-bit hash space, equal bins


@query(
    "export_epoch_shuffle",
    f"""
    WITH e AS (SELECT * FROM (VALUES (0), (1)) v(epoch)),
    h AS (
      SELECT e.epoch, d.doc_id,
             CAST(concat('0x', substr(md5(
               CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)
             ), 1, 13)) AS BIGINT) AS h
      FROM documents d CROSS JOIN e
    ),
    p AS (
      SELECT epoch, doc_id,
             ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY h, doc_id) - 1
               AS pos
      FROM h
    )
    SELECT epoch, doc_id,
           CAST(pos // {EPOCH_SHARD_DOCS} AS BIGINT) AS shard_id,
           CAST(pos % {EPOCH_SHARD_DOCS} AS BIGINT) AS pos_in_shard
    FROM p
    ORDER BY epoch, shard_id, pos_in_shard
    """,
)
def export_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch global shuffle into training shards —
    the "reshuffle the corpus every epoch" step of a training-data
    pipeline, seeded so any worker can recompute any epoch's order
    independently (no stored permutation, no RNG state): epoch e's
    order is simply ascending md5(e ':' doc_id), and each document's
    (shard, position) is a pure function of (corpus, epoch).

    The global rank uses the scalable recipe (ranking.py), with one
    improvement available only here: the sort key is a hash UNIFORM on
    [0, 2^52), so the ordered buckets are STATIC equal-width bins — no
    min/max stats job at all. One pass counts the 2×64 (epoch, bin)
    populations (control-plane collect), prefix offsets broadcast
    back, and bin-LOCAL row_numbers complete the rank: a single
    (epoch, bin)-keyed exchange, never a one-partition global window.
    Both epochs rank in the SAME jobs (epoch is part of the partition
    key), so adding epochs adds no passes.
    """
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = docs.select(
        "doc_id",
        F.explode(
            F.array(*[F.lit(e) for e in range(EPOCH_COUNT)])
        ).alias("epoch"),
    )
    d = d.withColumn(
        "h",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("epoch").cast("string"),
                        F.lit(":"),
                        F.col("doc_id").cast("string"),
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("long"),
    ).withColumn(
        "bucket",
        F.least(
            (F.col("h") / F.lit(_ESH_BIN_W)).cast("int"),
            F.lit(_ESH_BINS - 1),
        ),
    )
    counts = {
        (r["epoch"], r["bucket"]): r["cnt"]
        for r in d.groupBy("epoch", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    offsets: dict[tuple[int, int], int] = {}
    for ep in range(EPOCH_COUNT):
        acc = 0
        for b in range(_ESH_BINS):
            offsets[(ep, b)] = acc
            acc += counts.get((ep, b), 0)
    off = F.element_at(
        F.create_map(
            *[
                F.lit(x)
                for (ep, b), v in sorted(offsets.items())
                for x in (ep * _ESH_BINS + b, v)
            ]
        ),
        F.col("epoch") * _ESH_BINS + F.col("bucket"),
    )
    wloc = W.partitionBy("epoch", "bucket").orderBy("h", "doc_id")
    pos = F.row_number().over(wloc) - 1 + off
    return (
        d.select(
            "epoch",
            "doc_id",
            (pos / EPOCH_SHARD_DOCS).cast("bigint").alias("shard_id"),
            (pos % EPOCH_SHARD_DOCS).cast("bigint").alias("pos_in_shard"),
        )
        .orderBy("epoch", "shard_id", "pos_in_shard")
    )


MANIFEST_SHARD_DOCS = 100
# Residue modulus for the order-independent checksum: per-row values
# stay < 2^20 so an int64 SUM cannot wrap below ~2^43 rows per shard.
MANIFEST_CHECK_MOD = 1_000_003


@query(
    "export_manifest_checksums",
    f"""
    SELECT doc_id // {MANIFEST_SHARD_DOCS} AS shard_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc,
           CAST(sum(CAST(concat('0x',
                  substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
                % {MANIFEST_CHECK_MOD}) AS BIGINT) AS checksum
    FROM documents
    GROUP BY 1 ORDER BY shard_id
    """,
)
def export_manifest_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic export MANIFEST — per output shard (the same
    100-docs-by-id sharding export_webdataset writes), the row count,
    doc_id range, and an order-independent content checksum (sum of
    per-row md5-13-hex residues mod 1,000,003 — residues keep the sum
    inside int64 at any shard size, since Spark's long SUM wraps
    silently where DuckDB widens to HUGEINT). This is the receipt a
    downstream training job verifies before trusting a transferred
    shard set, and the diff key for incremental re-exports.

    Scale shape: one row-local hash projection + one shard-keyed
    partial agg; the manifest is shard-count sized. The checksum is
    commutative, so partial aggregation and any partitioning give the
    identical value.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = F.expr(
        "conv(substring(md5(cast(doc_id as string)), 1, 13), 16, 10)"
    ).cast("long")
    return (
        docs.select(
            F.expr(f"doc_id div {MANIFEST_SHARD_DOCS}").alias("shard_id"),
            "doc_id",
            (h % MANIFEST_CHECK_MOD).alias("res"),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("doc_id").cast("long").alias("min_doc"),
            F.max("doc_id").cast("long").alias("max_doc"),
            F.sum("res").cast("long").alias("checksum"),
        )
        .orderBy("shard_id")
    )


CURRICULUM_SHARD_DOCS = 100


@query(
    "export_curriculum_order",
    f"""
    WITH s AS (
      SELECT doc_id // {CURRICULUM_SHARD_DOCS} AS shard_id,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM documents GROUP BY 1
    )
    SELECT shard_id, n_docs, sum_chars,
           CAST(1000 * sum_chars // n_docs AS BIGINT) AS mean_chars_milli,
           CAST(ROW_NUMBER() OVER (
             ORDER BY 1000 * sum_chars // n_docs, shard_id) AS BIGINT)
             AS curriculum_rank
    FROM s ORDER BY curriculum_rank
    """,
)
def export_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum export ordering: shards ranked easy→hard by mean
    document length (the standard no-model difficulty proxy; swap the
    metric column for a learned difficulty score without changing the
    plan). A curriculum trainer consumes shards in ``curriculum_rank``
    order; the milli-scaled floor mean makes the rank deterministic
    and engine-identical even when two shards tie to the micro-digit
    (shard_id breaks the tie).

    Plan: one shard-keyed partial agg over a 2-column pruned scan,
    then a window over the SHARD frame (corpus/100 rows — at 10¹⁰
    docs that is 10⁸ shard rows, still a single-column sort of a
    metadata-sized frame; the rank is the only global step and it
    runs on receipts, not data).
    """
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    s = (
        docs.select(
            F.expr(f"doc_id div {CURRICULUM_SHARD_DOCS}")
            .cast("bigint")
            .alias("shard_id"),
            "n_chars",
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )
    mean = F.expr("1000 * sum_chars div n_docs").cast("long")
    return (
        s.select(
            "shard_id",
            "n_docs",
            "sum_chars",
            mean.alias("mean_chars_milli"),
        )
        .withColumn(
            "curriculum_rank",
            F.row_number()
            .over(W.orderBy("mean_chars_milli", "shard_id"))
            .cast("long"),
        )
        .orderBy("curriculum_rank")
    )
