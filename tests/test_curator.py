"""Incremental corpus curation (streaming/curator.py): cross-batch
dedup against the seen store, parity with the batch flagship, and
foreachBatch wiring through a real availableNow stream."""

from __future__ import annotations

from pyspark.sql import functions as F

import pytest
import pgsink_spark.operators.curation  # noqa: F401 — registers pipeline_curation
from pgsink_spark.operators.relational import QUERIES
from pgsink_spark.sources.fixtures import load_table
from pgsink_spark.streaming.curator import IncrementalCurator

SF = "/root/testdata/sf0.001"


def test_incremental_matches_batch_flagship(spark, tmp_path):
    """Feeding the corpus in two halves produces exactly the docs the
    one-shot batch pipeline keeps."""
    docs = load_table(spark, SF, "documents")
    half1 = docs.where(F.col("doc_id") % 2 == 0)
    half2 = docs  # second batch re-delivers half1 too (at-least-once)

    cur = IncrementalCurator(spark, str(tmp_path / "c"))
    n1 = cur.apply_batch(half1)
    n2 = cur.apply_batch(half2)
    assert n1 > 0 and n2 > 0

    got = {r["doc_id"] for r in cur.curated().collect()}

    batch = QUERIES["pipeline_curation"](spark, SF)
    want_keep = {r["doc_id"] for r in batch.collect() if r["kept"]}
    # same fingerprints survive; the canonical representative may
    # differ when a dup pair spans batches (first-seen wins in the
    # incremental world, min doc_id in the batch world) — compare by
    # fingerprint identity of kept docs
    texts = {r["doc_id"]: r["fp"] for r in docs.select(
        "doc_id", F.md5(F.lower("text")).alias("fp")).collect()}
    assert {texts[d] for d in got} == {texts[d] for d in want_keep}
    # and accepted fingerprints are unique corpus-wide
    assert len({texts[d] for d in got}) == len(got)


def test_seen_store_prunes_and_dedups(spark, tmp_path):
    docs = load_table(spark, SF, "documents").limit(40)
    cur = IncrementalCurator(spark, str(tmp_path / "c"))
    n1 = cur.apply_batch(docs)
    # exact re-delivery of the same batch accepts nothing new
    assert cur.apply_batch(docs) == 0
    assert cur.curated().count() == n1


def test_foreachbatch_availablenow_stream(spark, tmp_path):
    """The curator runs under a real Structured Streaming foreachBatch
    with an availableNow file source."""
    docs = load_table(spark, SF, "documents").limit(60)
    src = str(tmp_path / "incoming")
    docs.write.mode("overwrite").parquet(src)

    cur = IncrementalCurator(spark, str(tmp_path / "c"))
    stream = (
        spark.readStream.schema(docs.schema)
        .parquet(src)
        .writeStream.foreachBatch(lambda df, eid: cur.apply_batch(df, eid))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    stream.awaitTermination(120)
    accepted = cur.curated().count()
    assert accepted > 0

    # second availableNow run with NO new files: checkpoint prevents
    # re-processing, curated store unchanged
    stream2 = (
        spark.readStream.schema(docs.schema)
        .parquet(src)
        .writeStream.foreachBatch(lambda df, eid: cur.apply_batch(df, eid))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    stream2.awaitTermination(120)
    assert cur.curated().count() == accepted


@pytest.mark.slow
def test_curator_fed_by_cdc_source(spark, tmp_path):
    """Flagship integration: documents arrive as CDC INSERT envelopes
    through the DSv2 source, the typed cast projects them back to rows,
    and the incremental curator consumes them per micro-batch — final
    curated set equals batch curation over the same rows."""
    import duckdb
    from datetime import datetime, timezone

    from pgsink_spark.changelog.envelope import cast_envelope
    from pgsink_spark.streaming.datasource import append_capture, register
    from pgsink_spark.streaming.decoder import (
        Relation,
        RelationColumn,
        encode_begin,
        encode_commit,
        encode_insert,
        encode_relation,
    )
    from pyspark.sql import types as T

    rows = duckdb.sql(
        "SELECT doc_id, text FROM '/root/testdata/sf0.001/documents.parquet'"
        " ORDER BY doc_id LIMIT 60"
    ).fetchall()
    rel = Relation(
        17000, "public", "documents", 0,
        (RelationColumn(True, "doc_id", 20, 0xFFFFFFFF),
         RelationColumn(False, "text", 25, 0xFFFFFFFF)),
    )
    ts = datetime(2024, 7, 1, tzinfo=timezone.utc)
    frames = []
    for t in range(3):  # three transactions → at least one batch each
        lsn = 100 * (t + 1)
        frames.append(encode_begin(lsn, ts, t + 1))
        if t == 0:
            frames.append(encode_relation(rel))
        for doc_id, text in rows[t * 20 : (t + 1) * 20]:
            frames.append(
                encode_insert(rel.oid, (str(doc_id).encode(), text.encode()))
            )
        frames.append(encode_commit(0, lsn, lsn + 1, ts))
    cap = str(tmp_path / "wal.capture")
    append_capture(cap, frames)

    register(spark)
    payload = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    cur = IncrementalCurator(spark, str(tmp_path / "cur"))

    def flush(df, _bid):
        docs = cast_envelope(df, payload).select("after.doc_id", "after.text")
        if docs.take(1):
            cur.apply_batch(docs)

    # bounded drain: one query plans one commit per batch until all
    # three txns are consumed
    q = (
        spark.readStream.format("pgoutput")
        .option("path", cap)
        .option("maxcommitspertrigger", "1")
        .load()
        .writeStream.foreachBatch(flush)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    batch_cur = IncrementalCurator(spark, str(tmp_path / "cur_batch"))
    src = spark.createDataFrame(rows, payload)
    batch_cur.apply_batch(src)

    got = {r["doc_id"] for r in cur.curated().collect()}
    want = {r["doc_id"] for r in batch_cur.curated().collect()}
    assert got == want and len(want) > 0
