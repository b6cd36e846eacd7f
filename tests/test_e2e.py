"""Tier-3 end-to-end: the black-box pipeline slices.

Mirrors the reference's integration suite (integration/file_test.go:
88-118): drive the system through its public API — add a table, run the
import, consume the CDC stream — and assert on what lands in the sink.

Slice 1 (batch):  fixture table → TablesAPI.add_table → claim → Importer
                  → FileSink NDJSON → read back and verify.
Slice 2 (stream): pgoutput wire bytes → Subscription → envelope frames →
                  WarehouseSink raw + compaction view → final rows equal
                  the logical table state; restart redelivers nothing.
"""

from __future__ import annotations

import datetime
import os
from datetime import timezone

from pyspark.sql import functions as F
from pyspark.sql import types as T

from pgsink_spark.changelog import SchemaEntry
from pgsink_spark.control import Publication, TablesAPI
from pgsink_spark.imports import ImportJobStore, Importer
from pgsink_spark.sinks import FileSink, WarehouseSink
from pgsink_spark.streaming import OffsetStore, Relation, RelationColumn
from pgsink_spark.streaming.decoder import (
    encode_begin,
    encode_commit,
    encode_delete,
    encode_insert,
    encode_relation,
    encode_update,
)
from pgsink_spark.streaming.stream import modifications_df
from pgsink_spark.streaming.subscription import Subscription


def test_e2e_import_to_file_sink(spark, sf_dir, tmp_path):
    """API add-table → import worker loop → NDJSON sink → verify."""
    pub = Publication("pgsink")
    jobs = ImportJobStore(str(tmp_path / "jobs.json"))
    api = TablesAPI(pub, jobs)
    sink = FileSink(str(tmp_path / "out"))

    api.add_table("public", "customer")

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    sink.handle_schema(
        SchemaEntry("public", "customer", customer.schema, ["c_custkey"])
    )
    imp = Importer(jobs, lambda env, ns, name: sink.insert(env), batch_limit=500)
    job = jobs.claim()
    res = imp.run(job, customer, "c_custkey")
    assert res.done

    # status surfaced through the API, like the reference's e2e wait loop
    info = {
        (t.namespace, t.name): t
        for t in api.list_tables([("public", "customer")])
    }[("public", "customer")]
    assert info.import_status == "complete"
    assert info.import_rows_processed_total == customer.count()

    # sink contents: every row landed exactly once as an IMPORT image
    back = spark.read.json(os.path.join(sink.modifications_path))
    assert back.count() == customer.count()
    assert (
        back.select("after.c_custkey").distinct().count() == customer.count()
    )
    ops = {r["operation"] for r in back.select("operation").distinct().collect()}
    assert ops == {"IMPORT"}


PAYLOAD = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("v", T.StringType()),
    ]
)

REL = Relation(
    oid=500,
    namespace="public",
    name="kv",
    replica_identity=0,
    columns=(
        RelationColumn(key=True, name="id", type_oid=20, modifier=0xFFFFFFFF),
        RelationColumn(key=False, name="v", type_oid=25, modifier=0xFFFFFFFF),
    ),
)


def _wire():
    ts = datetime.datetime(2024, 5, 1, tzinfo=timezone.utc)

    def txn(lsn, *dml):
        return [encode_begin(lsn, ts, lsn), *dml, encode_commit(0, lsn, lsn + 1, ts)]

    return [
        *txn(
            100,
            encode_relation(REL),
            encode_insert(REL.oid, (b"1", b"a")),
            encode_insert(REL.oid, (b"2", b"b")),
        ),
        *txn(200, encode_update(REL.oid, (b"1", b"a2"), old=(b"1", b"a"))),
        *txn(300, encode_delete(REL.oid, old=(b"2", b"b"))),
        *txn(400, encode_insert(REL.oid, (b"3", b"c"))),
    ]


def test_e2e_cdc_stream_to_compacted_view(spark, tmp_path):
    offsets = OffsetStore(str(tmp_path / "offsets.json"))
    sub = Subscription(offsets)
    sink = WarehouseSink(spark, str(tmp_path / "wh"))
    sink.handle_schema(SchemaEntry("public", "kv", PAYLOAD, ["id"]))

    mods = list(sub.stream(_wire()))
    assert len(mods) == 5
    # commit-time marshal gives each mod a distinct (lsn, sequence); the
    # envelope keeps commit ts; make ts naive for TimestampType
    for m in mods:
        object.__setattr__(m, "timestamp", m.timestamp.replace(tzinfo=None))
    # order matters at read time, not write time: write mods SHUFFLED to
    # prove the sink is order-insensitive (at-least-once + view dedup)
    env = modifications_df(spark, list(reversed(mods)), PAYLOAD)
    # compaction orders by (timestamp, lsn); equal commit ts here, so
    # lsn breaks the tie — exactly the changelog total-order contract
    res = sink.insert(env, "public", "kv")
    assert res.count == 5 and res.max_lsn == 400
    sub.confirm(res.max_lsn)

    view = sink.install_view("public", "kv")
    got = {(r["id"], r["v"]) for r in spark.table(view).collect()}
    # logical end state: 1→a2 (updated), 2 deleted, 3→c
    assert got == {(1, "a2"), (3, "c")}

    # restart: nothing redelivered at or below the confirmed LSN
    sub2 = Subscription(OffsetStore(str(tmp_path / "offsets.json")))
    assert list(sub2.stream(_wire())) == []


def test_e2e_crash_replay_is_idempotent_at_read_time(spark, tmp_path):
    """Unconfirmed replay duplicates rows in _raw; the view stays right."""
    offsets = OffsetStore(str(tmp_path / "offsets.json"))
    sub = Subscription(offsets)
    sink = WarehouseSink(spark, str(tmp_path / "wh"))
    sink.handle_schema(SchemaEntry("public", "kv", PAYLOAD, ["id"]))

    mods = list(sub.stream(_wire()))
    for m in mods:
        object.__setattr__(m, "timestamp", m.timestamp.replace(tzinfo=None))
    env = modifications_df(spark, mods, PAYLOAD)
    sink.insert(env, "public", "kv")
    # crash before confirm → full replay → duplicate batch lands
    sink.insert(env, "public", "kv")

    view = sink.install_view("public", "kv")
    got = {(r["id"], r["v"]) for r in spark.table(view).collect()}
    assert got == {(1, "a2"), (3, "c")}
    assert spark.table("public_kv_raw").count() == 10  # dupes retained


def test_e2e_cdc_stream_to_incremental_compactor(spark, tmp_path):
    """Slice 3: the same wire stream served by the MATERIALIZED
    compaction path (the compacted snapshot base, sinks/compactor.py)
    instead of the read-time view — same final rows, and at-least-once
    replay of the whole batch is absorbed by the merge (idempotent
    fold)."""
    sub = Subscription(OffsetStore(str(tmp_path / "offsets.json")))
    sink = WarehouseSink(spark, str(tmp_path / "wh"))
    sink.handle_schema(SchemaEntry("public", "kv", PAYLOAD, ["id"]))

    mods = list(sub.stream(_wire()))
    for m in mods:
        object.__setattr__(m, "timestamp", m.timestamp.replace(tzinfo=None))
    # shuffled write order, same as the view-based slice
    env = modifications_df(spark, list(reversed(mods)), PAYLOAD)
    sink.insert(env, "public", "kv")
    sink.commit_manifest("public", "kv")
    view = sink.install_view("public", "kv", snapshot=True)
    got = {(r["id"], r["v"]) for r in spark.table(view).collect()}
    assert got == {(1, "a2"), (3, "c")}

    # crash-before-confirm replay: the identical batch appended again
    # folds as a tail of duplicates and changes nothing
    sink.insert(env, "public", "kv")
    sink.commit_manifest("public", "kv")
    view = sink.install_view("public", "kv", snapshot=True)
    got = {(r["id"], r["v"]) for r in spark.table(view).collect()}
    assert got == {(1, "a2"), (3, "c")}
    # and the deleted key's tombstone survives the replay in the base
    base = spark.read.parquet(str(tmp_path / "wh" / "public_kv_base" / "v2-*"))
    assert base.where(F.col("operation") == "DELETE").count() == 1


def test_e2e_cdc_stream_to_incremental_agg(spark, tmp_path):
    """Slice 4: the wire stream maintaining a materialized aggregate
    (sinks/incremental_agg.py) — the logical table state's SUM/COUNT,
    kept current from deltas only."""
    from pgsink_spark.sinks.incremental_agg import IncrementalAgg

    sub = Subscription(OffsetStore(str(tmp_path / "offsets.json")))
    mods = list(sub.stream(_wire()))
    for m in mods:
        object.__setattr__(m, "timestamp", m.timestamp.replace(tzinfo=None))
    env = modifications_df(spark, mods, PAYLOAD)

    # aggregate over v-length per id parity: use id as group, count rows
    agg = IncrementalAgg(spark, str(tmp_path / "agg"), ["id"], "id")
    agg.apply_batch(env)

    # logical end state: 1→a2 (one row), 2 deleted, 3→c (one row)
    got = {r["id"]: r["agg_cnt"] for r in agg.read().collect()}
    assert got == {1: 1, 3: 1}


def test_e2e_cdc_stream_to_incremental_join_view(spark, tmp_path):
    """Slice 5: the wire stream maintaining a materialized JOIN
    (sinks/incremental_join.py) — kv enriched with a dimension table,
    kept current from deltas only (no base-table re-join)."""
    from pgsink_spark.changelog.envelope import to_envelope
    from pgsink_spark.sinks.incremental_join import IncrementalJoinView

    dim_schema = T.StructType(
        [
            T.StructField("id", T.LongType(), True),
            T.StructField("label", T.StringType(), True),
        ]
    )
    view = IncrementalJoinView(
        spark, str(tmp_path / "jv"), PAYLOAD, dim_schema, "id"
    )
    # batch 1: the dimension arrives (insert-only envelope)
    dim = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three")], dim_schema
    )
    view.apply_batch(None, to_envelope(dim, "public", "dim"))

    # batch 2: the kv facts arrive off the wire
    sub = Subscription(OffsetStore(str(tmp_path / "offsets.json")))
    mods = list(sub.stream(_wire()))
    for m in mods:
        object.__setattr__(m, "timestamp", m.timestamp.replace(tzinfo=None))
    view.apply_batch(modifications_df(spark, mods, PAYLOAD), None)

    # logical end state: 1→a2, 2 deleted, 3→c — enriched
    got = {(r.id, r.v, r.label) for r in view.read().collect()}
    assert got == {(1, "a2", "one"), (3, "c", "three")}


def test_e2e_dsv2_stream_to_warehouse_with_restart(spark, tmp_path):
    """Slice 6 — the full streaming front door (VERDICT r2 item 7):
    pgoutput capture → DataSource V2 stream → typed cast → WarehouseSink
    raw appends (epoch exactly-once) → kill → restart. Asserts the
    reference's no-redelivery-after-confirm contract
    (pkg/subscription/subscription_test.go:205-262) AND that the
    streamed compaction view equals the batch path over the same wire.
    """
    import time

    from pgsink_spark.changelog.envelope import cast_envelope
    from pgsink_spark.streaming.datasource import append_capture, register

    register(spark)
    path = str(tmp_path / "wal.capture")
    ckpt = str(tmp_path / "ckpt")
    sink = WarehouseSink(spark, str(tmp_path / "wh"))
    sink.handle_schema(SchemaEntry("public", "kv", PAYLOAD, ["id"]))

    def flush(df, batch_id):
        env = cast_envelope(df, PAYLOAD)
        res = sink.insert(env, "public", "kv", epoch=batch_id)
        # max-LSN-per-batch is the ack the DSv2 `commit` then persists
        assert res.count == 0 or res.max_lsn is not None
        if res.count:
            sink.commit_manifest("public", "kv", epoch=batch_id)

    def run_until_drained(expected_raw_rows, timeout_s=90.0):
        q = (
            spark.readStream.format("pgoutput")
            .option("path", path)
            .load()
            .writeStream.foreachBatch(flush)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="300 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + timeout_s
            raw_path = str(tmp_path / "wh" / "public_kv_raw")
            while time.time() < deadline:
                try:
                    n = spark.read.parquet(raw_path).count()
                except Exception:
                    n = 0
                if n >= expected_raw_rows:
                    return
                time.sleep(0.3)
            raise AssertionError("stream did not drain in time")
        finally:
            q.stop()
            q.awaitTermination()

    # phase 1: the _wire() changelog (5 modifications) flows through
    append_capture(path, _wire())
    run_until_drained(5)

    view = sink.install_view("public", "kv")
    streamed = {(r["id"], r["v"]) for r in spark.table(view).collect()}
    assert streamed == {(1, "a2"), (3, "c")}

    # batch-path equality over the identical wire bytes
    sub = Subscription(OffsetStore(str(tmp_path / "batch_offsets.json")))
    mods = list(sub.stream(_wire()))
    for m in mods:
        object.__setattr__(m, "timestamp", m.timestamp.replace(tzinfo=None))
    batch_sink = WarehouseSink(spark, str(tmp_path / "wh_batch"))
    batch_sink.handle_schema(SchemaEntry("public", "kv", PAYLOAD, ["id"]))
    batch_sink.insert(
        modifications_df(spark, mods, PAYLOAD), "public", "kv"
    )
    batch_view = batch_sink.install_view("public", "kv")
    assert streamed == {
        (r["id"], r["v"]) for r in spark.table(batch_view).collect()
    }

    # phase 2: kill + restart — only the new transaction flows, nothing
    # at or below the confirmed watermark is redelivered
    ts = datetime.datetime(2024, 5, 2, tzinfo=timezone.utc)
    append_capture(
        path,
        [
            encode_begin(500, ts, 500),
            encode_relation(REL),
            encode_insert(REL.oid, (b"4", b"d")),
            encode_commit(0, 500, 501, ts),
        ],
    )
    run_until_drained(6)

    raw = spark.read.parquet(str(tmp_path / "wh" / "public_kv_raw"))
    assert raw.count() == 6  # 5 + 1, zero duplicates across the restart
    view = sink.install_view("public", "kv")
    assert {(r["id"], r["v"]) for r in spark.table(view).collect()} == {
        (1, "a2"),
        (3, "c"),
        (4, "d"),
    }
    # the DSv2 commit hook persisted the confirmed-flush watermark
    assert OffsetStore(path + ".confirmed").confirmed_lsn >= 400
