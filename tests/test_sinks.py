"""M2: generic sink machinery, file sink, warehouse sink + compaction.

Mirrors the reference's sink test strategy: schema-handler idempotency
(pkg/sinks/generic/schema_handler tests), insert-result folding, the
golden-file compaction-view SQL test
(pkg/sinks/bigquery/schema_builders_test.go:110-129), and an e2e slice:
fixture rows → envelope → sink → read back / compacted view.
"""

from __future__ import annotations

import datetime
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pgsink_spark.changelog import SchemaEntry, envelope_schema, to_envelope
from pgsink_spark.sinks import (
    FileSink,
    InsertResult,
    WarehouseSink,
    compaction_view_sql,
)
from pgsink_spark.sinks.generic import SchemaHandler, batch_result

HERE = os.path.dirname(os.path.abspath(__file__))

PAYLOAD = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("v", T.StringType()),
    ]
)


def _env_rows(spark, rows):
    """Build a typed envelope DataFrame from (ts, lsn, before, after)."""
    schema = envelope_schema(PAYLOAD)
    full = [
        (datetime.datetime(2024, 1, 1, 0, 0, s), "public", "example", lsn,
         s, b, a)
        for s, (lsn, b, a) in enumerate(rows)
    ]
    return spark.createDataFrame(full, schema)


def test_insert_result_fold():
    r = InsertResult(3, 10).fold(InsertResult(2, None)).fold(InsertResult(1, 99))
    assert r == InsertResult(6, 99)


def test_batch_result_is_ack_watermark(spark):
    env = _env_rows(
        spark,
        [(5, None, {"id": 1, "v": "a"}), (9, None, {"id": 2, "v": "b"}),
         (None, None, {"id": 3, "v": "c"})],
    )
    assert batch_result(env) == InsertResult(3, 9)


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


def test_schema_handler_idempotent_by_fingerprint():
    calls = []
    h = SchemaHandler(lambda e: calls.append(e.fingerprint))
    e1 = SchemaEntry("public", "t", PAYLOAD, ["id"])
    assert h.handle(e1) == "update"
    assert h.handle(e1) == "noop"
    p2 = T.StructType(PAYLOAD.fields + [T.StructField("w", T.LongType())])
    assert h.handle(SchemaEntry("public", "t", p2, ["id"])) == "update"
    # other tables don't share the cache
    assert h.handle(SchemaEntry("public", "u", PAYLOAD, ["id"])) == "update"
    assert len(calls) == 3


def test_compaction_view_sql_golden():
    got = compaction_view_sql("public_example", "public_example_raw", ["id"])
    want = open(os.path.join(HERE, "testdata", "view.example.sql")).read()
    assert got == want


def test_compaction_view_sql_composite_key():
    sql = compaction_view_sql("v", "r", ["user_id", "event_type"])
    assert "PARTITION BY payload.`user_id`, payload.`event_type`" in sql


def test_file_sink_e2e(spark, sf_dir, tmp_path):
    sink = FileSink(str(tmp_path / "files"))
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    env = to_envelope(nation, "public", "nation",
                      timestamp=F.lit("2024-01-01 00:00:00").cast("timestamp"))

    st = sink.handle_schema(
        SchemaEntry("public", "nation", nation.schema, ["n_nationkey"])
    )
    assert st == "update"
    res = sink.insert(env)
    assert res.count == nation.count()
    assert res.max_lsn is None  # import rows carry no LSN

    back = spark.read.json(os.path.join(sink.modifications_path))
    assert back.count() == nation.count()
    assert set(back.select("operation").distinct().toPandas()["operation"]) == {
        "IMPORT"
    }
    # schema entry landed as one NDJSON line with the pk recorded
    line = json.loads(
        open(os.path.join(sink.schemas_path, "public.nation.jsonl")).read()
    )
    assert line["key_columns"] == ["n_nationkey"]


def test_warehouse_sink_compaction_e2e(spark, tmp_path):
    """INSERT + UPDATE + DELETE streams compact to the latest live rows."""
    sink = WarehouseSink(spark, str(tmp_path / "wh"))
    sink.handle_schema(SchemaEntry("public", "example", PAYLOAD, ["id"]))

    batch1 = _env_rows(
        spark,
        [
            (10, None, {"id": 1, "v": "a0"}),
            (11, None, {"id": 2, "v": "b0"}),
            (12, None, {"id": 3, "v": "c0"}),
        ],
    )
    r1 = sink.insert(batch1, "public", "example")
    assert r1 == InsertResult(3, 12)

    # update id=1, delete id=2
    batch2 = _env_rows(
        spark,
        [
            (20, {"id": 1, "v": "a0"}, {"id": 1, "v": "a1"}),
            (21, {"id": 2, "v": "b0"}, None),
        ],
    )
    # make batch2 strictly later than batch1
    batch2 = batch2.withColumn(
        "timestamp", F.col("timestamp") + F.expr("interval 1 hour")
    )
    r2 = sink.insert(batch2, "public", "example")
    assert r2 == InsertResult(2, 21)

    view = sink.install_view("public", "example")
    got = {
        (r["id"], r["v"])
        for r in spark.table(view).collect()
    }
    assert got == {(1, "a1"), (3, "c0")}
    # raw table retains full history (at-least-once, append-only)
    assert spark.table("public_example_raw").count() == 5


# -- A13: instrumented inserter (observability) -------------------------

def test_observed_write_matches_second_pass_accounting(spark):
    from pgsink_spark.sinks.instrumented import observed_write
    from pgsink_spark.sinks.generic import batch_result

    env = _env_rows(
        spark,
        [
            (10, None, {"id": 1, "v": "a"}),
            (11, None, {"id": 2, "v": "b"}),
            (None, None, {"id": 3, "v": "c"}),  # import row, no lsn
        ],
    )
    written = []
    res = observed_write(env, lambda df: written.extend(df.collect()))
    assert len(written) == 3
    assert res == batch_result(env)
    assert res.count == 3 and res.max_lsn == 11


def test_instrumented_inserter_records_histograms(spark):
    from pgsink_spark.sinks import InstrumentedInserter, SinkMetrics
    from pgsink_spark.sinks.generic import InsertResult
    from pgsink_spark.sinks.instrumented import DURATION_BUCKETS

    fake_now = [0.0]

    def inner(env, ns, name):
        fake_now[0] += 0.3  # pretend the write took 300ms
        return InsertResult(env.count(), 42)

    metrics = SinkMetrics()
    ins = InstrumentedInserter(inner, metrics, clock=lambda: fake_now[0])
    env = _env_rows(spark, [(10, None, {"id": 1, "v": "a"})] )
    ins(env, "public", "example")
    ins(env, "public", "example")

    key = "public.example"
    assert metrics.batches_total[key] == 2
    assert metrics.rows_total[key] == 2
    assert metrics.last_max_lsn[key] == 42
    h = metrics.insert_duration[key]
    assert h.n == 2 and abs(h.total - 0.6) < 1e-9
    # 0.3s lands in the (0.25, 0.5] bucket — reference bucket layout
    assert DURATION_BUCKETS[0] == 0.125 and DURATION_BUCKETS[-1] == 512
    assert h.counts[2] == 2
    assert metrics.batch_size[key].n == 2


def test_warehouse_insert_composes_with_instrumentation(spark, tmp_path):
    from pgsink_spark.sinks import InstrumentedInserter, WarehouseSink

    payload = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    sink = WarehouseSink(spark, str(tmp_path / "wh"))
    sink.handle_schema(SchemaEntry("public", "example", payload, ["id"]))
    ins = InstrumentedInserter(sink.insert)
    env = _env_rows(
        spark, [(10, None, {"id": 1, "v": "a"}), (11, None, {"id": 2, "v": "b"})]
    )
    res = ins(env, "public", "example")
    assert res.count == 2 and res.max_lsn == 11
    m = ins.metrics
    assert m.rows_total["public.example"] == 2
    assert m.insert_duration["public.example"].n == 1


def test_import_cdc_handoff_cdc_wins_timestamp_tie(spark, tmp_path):
    """Backfill → CDC handoff: an IMPORT row (lsn NULL) and a CDC row
    for the same key with the SAME timestamp must resolve to the CDC
    image — the view orders lsn DESC NULLS LAST, so the import
    snapshot can never shadow a change it raced with. Both serving
    paths (read-time view + compacted snapshot base) agree."""
    import datetime

    from pyspark.sql import types as T

    from pgsink_spark.changelog import SchemaEntry, envelope_schema
    from pgsink_spark.sinks import WarehouseSink

    payload = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    ts = datetime.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        # import snapshot image (lsn NULL) taken at ts
        (ts, "public", "t", None, None, None, {"id": 1, "v": "snapshot"}),
        # concurrent CDC update, same wall-clock timestamp
        (ts, "public", "t", 500, 0, {"id": 1, "v": "snapshot"},
         {"id": 1, "v": "cdc"}),
    ]
    env = spark.createDataFrame(rows, envelope_schema(payload))

    sink = WarehouseSink(spark, str(tmp_path / "wh"))
    sink.handle_schema(SchemaEntry("public", "t", payload, ["id"]))
    sink.insert(env, "public", "t")
    view = sink.install_view("public", "t")
    assert [(r["id"], r["v"]) for r in spark.table(view).collect()] == [
        (1, "cdc")
    ]

    sink.commit_manifest("public", "t")
    view = sink.install_view("public", "t", snapshot=True)
    assert [(r["id"], r["v"]) for r in spark.table(view).collect()] == [
        (1, "cdc")
    ]


def test_asof_view_time_travel(spark, tmp_path):
    """An as-of view reconstructs the table at a past confirmed LSN:
    updates/deletes after the cutoff are invisible; NULL-lsn snapshot
    rows belong to every state."""
    sink = WarehouseSink(spark, str(tmp_path / "wh_asof"))
    sink.handle_schema(SchemaEntry("public", "example", PAYLOAD, ["id"]))
    sink.insert(
        _env_rows(
            spark,
            [
                (None, None, {"id": 1, "v": "import"}),  # snapshot row
                (10, None, {"id": 2, "v": "b0"}),
                (20, {"id": 2, "v": "b0"}, {"id": 2, "v": "b1"}),
                (30, {"id": 1, "v": "import"}, None),  # delete id=1
            ],
        ),
        "public",
        "example",
    )
    latest = sink.install_view("public", "example")
    got = {r.id: r.v for r in spark.table(latest).collect()}
    assert got == {2: "b1"}

    asof = sink.install_view("public", "example", asof_lsn=15)
    assert asof.endswith("_asof")
    got = {r.id: r.v for r in spark.table(asof).collect()}
    assert got == {1: "import", 2: "b0"}

    # the plain view is untouched by installing the as-of twin
    assert {r.id: r.v for r in spark.table(latest).collect()} == {2: "b1"}


def test_compaction_view_sql_asof_golden():
    base = compaction_view_sql("v", "r", ["id"])
    asof = compaction_view_sql("v", "r", ["id"], asof_lsn=42)
    assert asof.replace(
        "FROM `r`\n  WHERE lsn IS NULL OR lsn <= 42", "FROM `r`"
    ) == base


def test_warehouse_replayed_epoch_is_skipped(spark, tmp_path):
    """Exactly-once raw appends: a committed epoch replay is a no-op."""
    sink = WarehouseSink(spark, str(tmp_path / "wh"))
    sink.handle_schema(SchemaEntry("public", "example", PAYLOAD, ["id"]))
    batch = _env_rows(
        spark,
        [(10, None, {"id": 1, "v": "a"}), (11, None, {"id": 2, "v": "b"})],
    )
    r1 = sink.insert(batch, "public", "example", epoch=0)
    assert r1 == InsertResult(2, 11)
    assert sink.committed_epoch("public", "example") is None  # unpublished
    sink.commit_manifest("public", "example", epoch=0)
    assert sink.committed_epoch("public", "example") == 0

    # at-least-once delivery replays epoch 0 → skipped outright
    r2 = sink.insert(batch, "public", "example", epoch=0)
    assert r2 == InsertResult(0, None)

    raw = spark.read.parquet(
        str(tmp_path / "wh" / "public_example_raw")
    )
    assert raw.count() == 2

    # the next epoch lands normally
    batch2 = _env_rows(spark, [(20, None, {"id": 3, "v": "c"})])
    r3 = sink.insert(batch2, "public", "example", epoch=1)
    assert r3 == InsertResult(1, 20)
    sink.commit_manifest("public", "example", epoch=1)
    assert sink.committed_epoch("public", "example") == 1
    # a republish without an epoch (expire_raw's) carries it forward
    sink.commit_manifest("public", "example")
    assert sink.committed_epoch("public", "example") == 1


def test_warehouse_half_written_epoch_replay_is_idempotent(spark, tmp_path):
    """Insert without publish — a crash after the parquet write but
    before the manifest commit: the replay dynamically overwrites the
    epoch's own partitions, so rows never double."""
    sink = WarehouseSink(spark, str(tmp_path / "wh"))
    sink.handle_schema(SchemaEntry("public", "example", PAYLOAD, ["id"]))
    batch = _env_rows(
        spark,
        [(10, None, {"id": 1, "v": "a"}), (11, None, {"id": 2, "v": "b"})],
    )
    sink.insert(batch, "public", "example", epoch=0)
    # the crash window: files are on disk, no manifest names the epoch
    assert sink.committed_epoch("public", "example") is None

    r = sink.insert(batch, "public", "example", epoch=0)
    assert r == InsertResult(2, 11)  # rewrites, and re-accounts, epoch 0
    sink.commit_manifest("public", "example", epoch=0)

    raw = spark.read.parquet(str(tmp_path / "wh" / "public_example_raw"))
    assert raw.count() == 2  # not 4: overwrite, not append
    view = sink.install_view("public", "example", snapshot=True)
    assert {x.id for x in spark.table(view).collect()} == {1, 2}


def test_cross_table_snapshot_is_transactionally_consistent(spark, tmp_path):
    """install_snapshot(X) serves every table as of confirmed LSN X:
    a transaction that wrote both tables after X appears in neither."""
    sink = WarehouseSink(spark, str(tmp_path / "wh"))
    sink.handle_schema(SchemaEntry("public", "parent", PAYLOAD, ["id"]))
    sink.handle_schema(SchemaEntry("public", "child", PAYLOAD, ["id"]))

    def env(rows, name):
        df = _env_rows(spark, rows)
        return df.withColumn("name", F.lit(name))

    # txn at lsn 10 writes parent+child; txn at lsn 20 writes both again
    sink.insert(env([(10, None, {"id": 1, "v": "p1"}),
                     (20, None, {"id": 2, "v": "p2"})], "parent"),
                "public", "parent")
    sink.insert(env([(10, None, {"id": 1, "v": "c1"}),
                     (20, None, {"id": 2, "v": "c2"})], "child"),
                "public", "child")

    views = sink.install_snapshot(asof_lsn=15)
    assert set(views) == {("public", "parent"), ("public", "child")}
    p = {r["id"] for r in spark.table(views[("public", "parent")]).collect()}
    c = {r["id"] for r in spark.table(views[("public", "child")]).collect()}
    # the lsn-20 transaction is absent from BOTH tables — consistent cut
    assert p == {1} and c == {1}


def test_expire_raw_drops_old_days_only(spark, tmp_path):
    """Retention (the DatasetDefaultTableExpiration analogue): day
    partitions below the horizon vanish, newer history and the
    compaction view over it survive."""
    sink = WarehouseSink(spark, str(tmp_path / "wh"))
    sink.handle_schema(SchemaEntry("public", "example", PAYLOAD, ["id"]))
    b1 = _env_rows(spark, [(10, None, {"id": 1, "v": "old"})])
    b2 = _env_rows(spark, [(20, None, {"id": 2, "v": "new"})]).withColumn(
        "timestamp", F.col("timestamp") + F.expr("interval 10 days")
    )
    sink.insert(b1, "public", "example")
    sink.insert(b2, "public", "example")

    removed = sink.expire_raw("public", "example", before_day="2024-01-05")
    assert len(removed) == 1 and "day=2024-01-01" in removed[0]

    view = sink.install_view("public", "example")
    got = {(r["id"], r["v"]) for r in spark.table(view).collect()}
    assert got == {(2, "new")}  # survivor intact, expired day gone

    # epoch layout: same mechanics one level down
    sink2 = WarehouseSink(spark, str(tmp_path / "wh2"))
    sink2.handle_schema(SchemaEntry("public", "t", PAYLOAD, ["id"]))
    sink2.insert(b1, "public", "t", epoch=0)
    sink2.insert(b2, "public", "t", epoch=1)
    removed2 = sink2.expire_raw("public", "t", before_day="2024-01-05")
    assert len(removed2) == 1 and "epoch=0" in removed2[0]
    raw = spark.read.parquet(str(tmp_path / "wh2" / "public_t_raw"))
    assert raw.count() == 1


def test_snapshot_manifest_hides_uncommitted_files(spark, tmp_path):
    """Snapshot reads see EXACTLY the committed manifest: files that
    appear in the directory without a manifest commit (an in-flight or
    failed batch) are invisible; a later commit makes them visible;
    old versions remain readable (time travel by version)."""
    import shutil as _sh

    sink = WarehouseSink(spark, str(tmp_path / "wh"))
    sink.handle_schema(SchemaEntry("public", "example", PAYLOAD, ["id"]))
    b1 = _env_rows(spark, [(10, None, {"id": 1, "v": "a"})])
    sink.insert(b1, "public", "example")
    v1 = sink.commit_manifest("public", "example")
    assert v1 == 1
    assert sink.read_snapshot("public", "example").count() == 1

    # an in-flight batch lands files in the directory, NO commit yet
    b2 = _env_rows(spark, [(20, None, {"id": 2, "v": "b"})])
    sink.insert(b2, "public", "example")
    # listing-based read sees 2 rows; snapshot read still sees 1
    raw_path = str(tmp_path / "wh" / "public_example_raw")
    assert spark.read.parquet(raw_path).count() == 2
    assert sink.read_snapshot("public", "example").count() == 1

    v2 = sink.commit_manifest("public", "example")
    assert v2 == 2
    assert sink.read_snapshot("public", "example").count() == 2
    # version time travel: v1 still serves the old snapshot
    assert sink.read_snapshot("public", "example", version=1).count() == 1


def test_snapshot_backed_view(spark, tmp_path):
    """install_view(snapshot=True): the compaction view serves the
    committed manifest — an in-flight batch is invisible until its
    manifest commit."""
    sink = WarehouseSink(spark, str(tmp_path / "wh"))
    sink.handle_schema(SchemaEntry("public", "example", PAYLOAD, ["id"]))
    sink.insert(
        _env_rows(spark, [(10, None, {"id": 1, "v": "a"})]),
        "public", "example",
    )
    sink.commit_manifest("public", "example")
    sink.insert(  # in-flight: no manifest commit
        _env_rows(spark, [(20, None, {"id": 2, "v": "b"})]),
        "public", "example",
    )
    view = sink.install_view("public", "example", snapshot=True)
    assert {r["id"] for r in spark.table(view).collect()} == {1}
    sink.commit_manifest("public", "example")
    view = sink.install_view("public", "example", snapshot=True)
    assert {r["id"] for r in spark.table(view).collect()} == {1, 2}


def test_warehouse_epoch_ledger_is_stream_scoped(spark, tmp_path):
    """A rebuilt checkpoint restarts batch ids at 0 under a NEW stream
    id — the old stream's high-water mark must not silently skip its
    batches (round-3 advice: that was silent data loss), and when the
    new stream reaches the old one's epoch number its write must not
    overwrite the old stream's partitions."""
    sink = WarehouseSink(spark, str(tmp_path / "wh"))
    sink.handle_schema(SchemaEntry("public", "example", PAYLOAD, ["id"]))

    def write(rows, epoch, stream_id):
        res = sink.insert(_env_rows(spark, rows), "public", "example",
                          epoch=epoch, stream_id=stream_id)
        sink.commit_manifest("public", "example", epoch=epoch,
                             stream_id=stream_id)
        return res

    write([(10, None, {"id": 1, "v": "a"})], 3, "q1")
    assert sink.committed_epoch("public", "example", "q1") == 3
    # fresh checkpoint (new stream id) starts at epoch 0 and WRITES
    r = write([(20, None, {"id": 2, "v": "b"})], 0, "q2")
    assert r == InsertResult(1, 20)
    assert sink.committed_epoch("public", "example", "q2") == 0
    assert sink.committed_epoch("public", "example", "q1") == 3
    # ...and reaches q1's epoch on the same day without touching q1's rows
    r = write([(30, None, {"id": 3, "v": "c"})], 3, "q2")
    assert r == InsertResult(1, 30)
    assert sink.committed_epoch("public", "example", "q2") == 3
    raw = spark.read.parquet(str(tmp_path / "wh" / "public_example_raw"))
    assert sorted(r.lsn for r in raw.collect()) == [10, 20, 30]
    view = sink.install_view("public", "example", snapshot=True)
    assert {r.id for r in spark.table(view).collect()} == {1, 2, 3}


def test_warehouse_epoch_regression_fails_loudly(spark, tmp_path):
    """Same stream id going backwards = checkpoint reset against an
    existing sink → loud error, not a silent skip."""
    import pytest as _pytest

    sink = WarehouseSink(spark, str(tmp_path / "wh"))
    sink.handle_schema(SchemaEntry("public", "example", PAYLOAD, ["id"]))
    b = _env_rows(spark, [(10, None, {"id": 1, "v": "a"})])
    sink.insert(b, "public", "example", epoch=2)
    sink.commit_manifest("public", "example", epoch=2)
    # replay of the committed epoch is the legal crash-recovery case
    assert sink.insert(b, "public", "example", epoch=2) == InsertResult(0, None)
    with _pytest.raises(RuntimeError, match="epoch regression"):
        sink.insert(b, "public", "example", epoch=1)


def test_expire_raw_republishes_manifest(spark, tmp_path):
    """After retention deletes day partitions, snapshot reads must keep
    working: expire_raw republishes the manifest (round-3 advice: the
    stale LATEST manifest named deleted files)."""
    import datetime as _dt

    sink = WarehouseSink(spark, str(tmp_path / "wh"))
    sink.handle_schema(SchemaEntry("public", "example", PAYLOAD, ["id"]))
    schema = envelope_schema(PAYLOAD)
    old = spark.createDataFrame(
        [(_dt.datetime(2023, 1, 1), "public", "example", 10, 0, None,
          {"id": 1, "v": "old"})],
        schema,
    )
    new = spark.createDataFrame(
        [(_dt.datetime(2024, 6, 1), "public", "example", 20, 0, None,
          {"id": 2, "v": "new"})],
        schema,
    )
    sink.insert(old, "public", "example")
    sink.insert(new, "public", "example")
    v1 = sink.commit_manifest("public", "example")
    removed = sink.expire_raw("public", "example", "2024-01-01")
    assert removed  # the 2023 partition went away
    assert sink.manifest_version("public", "example") == v1 + 1
    snap = sink.read_snapshot("public", "example")
    assert [r["payload"]["v"] for r in snap.collect()] == ["new"]


def test_shard_export_ledger_is_stream_scoped(spark, tmp_path):
    """StreamingShardExport: same stream-identity contract as the
    warehouse ledger — new stream id starts fresh; regression raises."""
    import pytest as _pytest

    from pgsink_spark.operators.export import StreamingShardExport

    path = str(tmp_path / "shards")
    ex1 = StreamingShardExport(spark, path, ["id"], stream_id="q1")
    df = spark.createDataFrame([(1,), (2,)], "id long")
    assert ex1.apply_batch(df, 4) == 1
    assert ex1.apply_batch(df, 4) == 0  # replay of committed epoch
    with _pytest.raises(RuntimeError, match="epoch regression"):
        ex1.apply_batch(df, 3)
    ex2 = StreamingShardExport(spark, path, ["id"], stream_id="q2")
    assert ex2.committed_epoch() is None
    assert ex2.apply_batch(df, 0) == 1
    assert ex1.committed_epoch() == 4
    # q2 reaching q1's epoch writes its own partition, not over q1's
    assert ex2.apply_batch(df, 4) == 1
    assert ex1.read().count() == 6


def test_expire_manifests_keep_and_broken(spark, tmp_path):
    """Manifest GC: count-based retention keeps the newest N versions;
    versions naming files expire_raw removed are dropped as broken
    even inside the keep window; LATEST always survives and still
    serves reads."""
    import datetime as _dt

    sink = WarehouseSink(spark, str(tmp_path / "wh"))
    sink.handle_schema(SchemaEntry("public", "example", PAYLOAD, ["id"]))
    # four commits across two day-partition groups (days 1,2 then
    # shifted to 8,9) → four manifest versions
    days = ["2024-01-01", "2024-01-02", "2024-01-08", "2024-01-09"]
    for i, day in enumerate(days):
        shift = (_dt.date.fromisoformat(day) -
                 _dt.date(2024, 1, 1)).days
        env = _env_rows(spark, [(10 + i, None, {"id": i, "v": day})])
        if shift:
            env = env.withColumn(
                "timestamp",
                F.col("timestamp") + F.expr(f"interval {shift} days"),
            )
        sink.insert(env, "public", "example")
        sink.commit_manifest("public", "example")
    assert sink.manifest_version("public", "example") == 4

    # keep=2: v1 dropped by count (v2 would be too, but it is also
    # checked for brokenness — here still intact, and cutoff=3 drops it)
    removed = sink.expire_manifests("public", "example", keep=2)
    assert removed == [1, 2]
    assert sink.read_snapshot("public", "example").count() == 4
    assert sink.read_snapshot("public", "example", version=3).count() == 3

    # retention removes the first two day-partitions; expire_raw
    # republishes LATEST (v5); v3/v4 now name deleted files → broken
    sink.expire_raw("public", "example", before_day="2024-01-05")
    removed2 = sink.expire_manifests("public", "example", keep=10)
    assert removed2 == [3, 4]
    assert sink.manifest_version("public", "example") == 5
    assert sink.read_snapshot("public", "example").count() == 2


def test_incremental_distinct_support_semantics(spark, tmp_path):
    """The two naive-counter hazards: deleting one of two rows sharing
    a value must NOT drop the distinct count; deleting the last must.
    Re-inserting an existing value must not inflate it."""
    from pgsink_spark.changelog.envelope import payload_type_of
    from pgsink_spark.sinks.incremental_agg import IncrementalDistinct

    ptype = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("grp", T.StringType()),
            T.StructField("val", T.LongType()),
        ]
    )

    def env(rows):
        """rows: (op, before|None, after|None) dicts"""
        schema = envelope_schema(ptype)
        full = [
            (datetime.datetime(2024, 1, 1), "public", "t", i, 0, b, a)
            for i, (b, a) in enumerate(rows)
        ]
        return spark.createDataFrame(full, schema)

    view = IncrementalDistinct(
        spark, str(tmp_path / "ivmd"), ["grp"], "val"
    )
    # two rows share val=7; one row carries val=9
    view.apply_batch(env([
        (None, {"id": 1, "grp": "a", "val": 7}),
        (None, {"id": 2, "grp": "a", "val": 7}),
        (None, {"id": 3, "grp": "a", "val": 9}),
    ]))
    got = {(r["grp"], r["distinct_cnt"]) for r in view.read().collect()}
    assert got == {("a", 2)}
    # delete ONE of the val=7 rows: multiplicity 2→1, count unchanged
    view.apply_batch(env([({"id": 1, "grp": "a", "val": 7}, None)]))
    assert view.read().collect()[0]["distinct_cnt"] == 2
    # re-insert an existing value: multiplicity 1→2, count unchanged
    view.apply_batch(env([(None, {"id": 4, "grp": "a", "val": 9})]))
    assert view.read().collect()[0]["distinct_cnt"] == 2
    # delete the LAST val=7 row: support row prunes, count drops
    view.apply_batch(env([({"id": 2, "grp": "a", "val": 7}, None)]))
    assert view.read().collect()[0]["distinct_cnt"] == 1
