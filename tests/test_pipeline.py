"""Assembled replay pipeline: micro-batching, ack correctness, compaction."""

from __future__ import annotations

import datetime
from datetime import timezone

from pyspark.sql import types as T

from pgsink_spark.changelog import SchemaEntry
from pgsink_spark.sinks import WarehouseSink
from pgsink_spark.sinks.generic import batch_result
from pgsink_spark.streaming import OffsetStore, Relation, RelationColumn
from pgsink_spark.streaming.decoder import (
    encode_begin,
    encode_commit,
    encode_insert,
    encode_relation,
    encode_update,
)
from pgsink_spark.streaming.pipeline import run_replay_pipeline
from pgsink_spark.streaming.subscription import Subscription

PAYLOAD = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("v", T.StringType()),
    ]
)

REL = Relation(
    oid=600,
    namespace="public",
    name="kv",
    replica_identity=0,
    columns=(
        RelationColumn(key=True, name="id", type_oid=20, modifier=0xFFFFFFFF),
        RelationColumn(key=False, name="v", type_oid=25, modifier=0xFFFFFFFF),
    ),
)

TS = datetime.datetime(2024, 6, 1, tzinfo=timezone.utc)


def _wire(n_txns: int = 6, rows_per_txn: int = 3):
    out = [
        encode_begin(50, TS, 1),
        encode_relation(REL),
        encode_commit(0, 50, 51, TS),
    ]
    k = 0
    for t in range(n_txns):
        lsn = 100 * (t + 1)
        dml = []
        for _ in range(rows_per_txn):
            dml.append(encode_insert(REL.oid, (str(k).encode(), b"x")))
            k += 1
        out += [encode_begin(lsn, TS, t + 2), *dml, encode_commit(0, lsn, lsn + 1, TS)]
    return out


def test_pipeline_batches_and_acks(spark, tmp_path):
    offsets = OffsetStore(str(tmp_path / "off.json"))
    sub = Subscription(offsets)
    sink = WarehouseSink(spark, str(tmp_path / "wh"))
    sink.handle_schema(SchemaEntry("public", "kv", PAYLOAD, ["id"]))

    confirmed = []
    orig = sub.confirm

    def traced(lsn):
        confirmed.append(lsn)
        orig(lsn)

    sub.confirm = traced

    report = run_replay_pipeline(
        spark,
        sub,
        _wire(6, 3),
        sink.insert,
        {("public", "kv"): PAYLOAD},
        batch_size=4,  # cuts inside transactions (3 rows/txn)
    )
    assert report.result.count == 18
    assert report.result.max_lsn == 600
    assert offsets.confirmed_lsn == 600
    # mid-stream acks only ever confirm COMPLETE transactions: every
    # confirmed LSN is a commit LSN strictly below the then-current txn
    assert confirmed == sorted(confirmed)
    assert all(lsn % 100 == 0 for lsn in confirmed)

    # everything landed exactly once (no batch overlap)
    raw = spark.table(
        (lambda: (sink.install_view("public", "kv"), "public_kv_raw")[1])()
    )
    assert raw.count() == 18
    assert raw.select("payload.id").distinct().count() == 18

    # restart: nothing redelivered
    sub2 = Subscription(OffsetStore(str(tmp_path / "off.json")))
    assert list(sub2.stream(_wire(6, 3))) == []


def test_pipeline_crash_midway_replays_unconfirmed_only(spark, tmp_path):
    offsets = OffsetStore(str(tmp_path / "off.json"))
    sub = Subscription(offsets)
    sink = WarehouseSink(spark, str(tmp_path / "wh"))
    sink.handle_schema(SchemaEntry("public", "kv", PAYLOAD, ["id"]))

    wire = _wire(6, 3)

    # crash after two batches: run with a wire stream truncated mid-txn
    class Crash(Exception):
        pass

    def crashing_insert(env, ns, name, _n=[0]):
        _n[0] += 1
        if _n[0] > 2:
            raise Crash()
        return sink.insert(env, ns, name)

    try:
        run_replay_pipeline(
            spark, sub, wire, crashing_insert,
            {("public", "kv"): PAYLOAD}, batch_size=4,
        )
    except Crash:
        pass
    assert offsets.confirmed_lsn is not None
    confirmed_at_crash = offsets.confirmed_lsn

    # resume from the persisted offset: replays only past the watermark
    sub2 = Subscription(OffsetStore(str(tmp_path / "off.json")))
    report = run_replay_pipeline(
        spark, sub2, wire, sink.insert, {("public", "kv"): PAYLOAD},
        batch_size=4,
    )
    assert report.result.max_lsn == 600
    # replay may duplicate the unconfirmed flushed batch (at-least-once);
    # the compaction view is still exactly the logical state
    compacted = spark.table(sink.install_view("public", "kv"))
    assert compacted.count() == 18
    assert compacted.select("id").distinct().count() == 18
    # raw retains the duplicates from the replay overlap
    raw_count = spark.table("public_kv_raw").count()
    assert raw_count >= 18
    assert confirmed_at_crash < 600


def test_envelope_batches_account_correctly(spark):
    """Accounting folds equal direct aggregation over the same rows."""
    from pgsink_spark.streaming.marshal import Modification
    from pgsink_spark.streaming.stream import modifications_df

    mods = [
        Modification(
            timestamp=datetime.datetime(2024, 6, 1, 0, 0, i),
            namespace="public",
            name="kv",
            lsn=100 + i,
            sequence=1,
            before=None,
            after={"id": i, "v": "x"},
        )
        for i in range(5)
    ]
    env = modifications_df(spark, mods, PAYLOAD)
    res = batch_result(env)
    assert res.count == 5 and res.max_lsn == 104
