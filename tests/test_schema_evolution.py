"""Mid-stream schema evolution: ALTER TABLE ADD COLUMN arrives as a
re-sent Relation message (the reference re-registers the relation and
marshals subsequent tuples with the new shape,
pkg/logical/decoder.go Relation handling + pkg/subscription marshal).

Pins the full path: decode → RelationCache replacement → fingerprint
change detection → one widened envelope covering old+new mods → both
warehouse view and incremental compactor serving the merged shape.
"""

from __future__ import annotations

import datetime
from datetime import timezone

from pyspark.sql import types as T

from pgsink_spark.changelog import SchemaEntry, spark_type_for
from pgsink_spark.sinks import WarehouseSink
from pgsink_spark.streaming import OffsetStore, Relation, RelationColumn
from pgsink_spark.streaming.decoder import (
    encode_begin,
    encode_commit,
    encode_insert,
    encode_relation,
    encode_update,
)
from pgsink_spark.streaming.stream import modifications_df
from pgsink_spark.streaming.subscription import Subscription

REL_V1 = Relation(
    oid=600,
    namespace="public",
    name="acct",
    replica_identity=0,
    columns=(
        RelationColumn(key=True, name="id", type_oid=20, modifier=0xFFFFFFFF),
        RelationColumn(key=False, name="v", type_oid=25, modifier=0xFFFFFFFF),
    ),
)
# ALTER TABLE acct ADD COLUMN w int8
REL_V2 = Relation(
    oid=600,
    namespace="public",
    name="acct",
    replica_identity=0,
    columns=REL_V1.columns
    + (RelationColumn(key=False, name="w", type_oid=20, modifier=0xFFFFFFFF),),
)


def _entry(rel: Relation) -> SchemaEntry:
    payload = T.StructType(
        [
            T.StructField(c.name, spark_type_for(c.type_oid), True)
            for c in rel.columns
        ]
    )
    return SchemaEntry(
        rel.namespace, rel.name, payload, [c.name for c in rel.columns if c.key]
    )


def _wire():
    ts = datetime.datetime(2024, 6, 1, tzinfo=timezone.utc)

    def txn(lsn, *dml):
        return [
            encode_begin(lsn, ts, lsn),
            *dml,
            encode_commit(0, lsn, lsn + 1, ts),
        ]

    return [
        *txn(
            100,
            encode_relation(REL_V1),
            encode_insert(REL_V1.oid, (b"1", b"a")),
        ),
        # ALTER lands between transactions: same oid, one more column
        *txn(
            200,
            encode_relation(REL_V2),
            encode_insert(REL_V2.oid, (b"2", b"b", b"42")),
            encode_update(
                REL_V2.oid, (b"1", b"a2", b"7"), old=(b"1", b"a", None)
            ),
        ),
    ]


def test_schema_evolution_decode_and_fingerprint(spark, tmp_path):
    sub = Subscription(OffsetStore(str(tmp_path / "off.json")))
    mods = list(sub.stream(_wire()))
    assert [m.after for m in mods] == [
        {"id": 1, "v": "a"},
        {"id": 2, "v": "b", "w": 42},
        {"id": 1, "v": "a2", "w": 7},
    ]
    # fingerprint changes exactly when the relation widens
    assert _entry(REL_V1).fingerprint != _entry(REL_V2).fingerprint


def test_schema_evolution_through_warehouse_view(spark, tmp_path):
    sub = Subscription(OffsetStore(str(tmp_path / "off.json")))
    mods = list(sub.stream(_wire()))
    for m in mods:
        object.__setattr__(m, "timestamp", m.timestamp.replace(tzinfo=None))

    sink = WarehouseSink(spark, str(tmp_path / "wh"))
    sink.handle_schema(_entry(REL_V1))
    # batch 1 lands with the v1 payload (before the ALTER was seen)
    env1 = modifications_df(spark, mods[:1], _entry(REL_V1).payload)
    sink.insert(env1, "public", "acct")

    # ALTER: fingerprint cache detects the change and re-syncs
    assert sink.handle_schema(_entry(REL_V2)) == "update"
    env2 = modifications_df(spark, mods[1:], _entry(REL_V2).payload)
    sink.insert(env2, "public", "acct")

    view = sink.install_view("public", "acct")
    got = {r["id"]: (r["v"], r["w"]) for r in spark.table(view).collect()}
    # old row serves NULL for the new column; new rows carry values
    assert got == {1: ("a2", 7), 2: ("b", 42)}


def test_schema_evolution_through_compactor(spark, tmp_path):
    sub = Subscription(OffsetStore(str(tmp_path / "off.json")))
    mods = list(sub.stream(_wire()))
    for m in mods:
        object.__setattr__(m, "timestamp", m.timestamp.replace(tzinfo=None))

    # the compacted snapshot base: folded once before the ALTER, then
    # the widened batch merges as its tail
    sink = WarehouseSink(spark, str(tmp_path / "wh"))
    sink.handle_schema(_entry(REL_V1))
    sink.insert(modifications_df(spark, mods[:1], _entry(REL_V1).payload),
                "public", "acct")
    sink.commit_manifest("public", "acct")
    sink.install_view("public", "acct", snapshot=True)
    sink.handle_schema(_entry(REL_V2))
    sink.insert(modifications_df(spark, mods[1:], _entry(REL_V2).payload),
                "public", "acct")
    sink.commit_manifest("public", "acct")
    view = sink.install_view("public", "acct", snapshot=True)

    got = {r["id"]: (r["v"], r["w"]) for r in spark.table(view).collect()}
    assert got == {1: ("a2", 7), 2: ("b", 42)}


def test_schema_evolution_through_cli_warehouse_stream(tmp_path, spark):
    """ALTER TABLE ADD COLUMN mid-capture, through the WHOLE streaming
    front door (CLI stream --sink warehouse): the re-sent Relation
    message widens the discovered schema, pre-ALTER rows serve NULL for
    the new column via the merged read, and the compaction view serves
    the union shape."""
    import os

    from pgsink_spark.cli import main
    from pgsink_spark.streaming.datasource import append_capture

    ts = datetime.datetime(2024, 3, 1, 12, 0, 0, tzinfo=timezone.utc)
    rel_v1 = Relation(
        16384, "public", "example", 0,
        (RelationColumn(True, "id", 20, 0xFFFFFFFF),
         RelationColumn(False, "v", 25, 0xFFFFFFFF)),
    )
    rel_v2 = Relation(
        16384, "public", "example", 0,
        (RelationColumn(True, "id", 20, 0xFFFFFFFF),
         RelationColumn(False, "v", 25, 0xFFFFFFFF),
         RelationColumn(False, "extra", 20, 0xFFFFFFFF)),
    )
    cap = str(tmp_path / "wal.capture")
    append_capture(cap, [
        encode_begin(100, ts, 7), encode_relation(rel_v1),
        encode_insert(rel_v1.oid, (b"1", b"a")),
        encode_commit(0, 100, 101, ts),
        # ALTER lands: the relation is re-sent with the new column
        encode_begin(200, ts, 8), encode_relation(rel_v2),
        encode_insert(rel_v2.oid, (b"2", b"b", b"42")),
        encode_commit(0, 200, 201, ts),
    ])
    root = str(tmp_path / "state")
    assert main(["--root", root, "stream", "run", "--capture", cap,
                 "--sink", "warehouse"]) == 0

    raw = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "sink", "warehouse", "public_example_raw")
    )
    rows = {r["payload"]["id"]: r["payload"] for r in raw.collect()}
    assert rows[2]["extra"] == 42          # typed through the v2 cast
    assert rows[1]["extra"] is None        # pre-ALTER row: NULL-filled

    wh = WarehouseSink(spark, os.path.join(root, "sink", "warehouse"))
    payload_v2 = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("v", T.StringType()),
        T.StructField("extra", T.LongType()),
    ])
    wh.handle_schema(SchemaEntry("public", "example", payload_v2, ["id"]))
    view = wh.install_view("public", "example")
    got = {(r["id"], r["v"], r["extra"]) for r in spark.table(view).collect()}
    assert got == {(1, "a", None), (2, "b", 42)}


# ---------------------------------------------------------------------------
# round-4: drift through the JDBC staging-merge sink (type widening,
# add-column, drop-column tombstones) with noop/update/failed outcomes
# (reference pkg/sinks/generic/schema_handler.go:61-105)


def _duck_sink(spark):
    import duckdb

    from pgsink_spark.sinks.jdbc_sink import JdbcCompactedSink, JdbcSinkOptions

    con = duckdb.connect()
    executed: list[str] = []

    def execute(sql):
        executed.append(sql)
        con.execute(sql)

    def write_batch(df, table):
        # column-name-aware insert (the Spark JDBC writer inserts by
        # name too) — positional SELECT * breaks under drift
        pdf = df.toPandas()
        cols = ", ".join(f'"{c}"' for c in pdf.columns)
        con.register("batch_df", pdf)
        con.execute(
            f'INSERT INTO "{table}" ({cols}) SELECT {cols} FROM batch_df'
        )
        con.unregister("batch_df")

    sink = JdbcCompactedSink(
        JdbcSinkOptions(url="jdbc:duckdb:"), execute, write_batch=write_batch
    )
    return sink, con, executed


def _jdbc_env(spark, payload, rows, lsn0=10):
    from pgsink_spark.changelog import envelope_schema

    full = [
        (
            datetime.datetime(2024, 1, 1, 0, 0, s),
            "public",
            "drift",
            lsn0 + s,
            s,
            None,
            r,
        )
        for s, r in enumerate(rows)
    ]
    return spark.createDataFrame(full, envelope_schema(payload))


def test_jdbc_type_widening_flows_through_merge(spark):
    """int32 → int64 widening mid-stream: the migration ALTERs both
    staging and compacted, and a post-widen value beyond 2^31 lands."""
    v1 = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("n", T.IntegerType())]
    )
    v2 = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("n", T.LongType())]
    )
    sink, con, executed = _duck_sink(spark)
    assert sink.handle_schema(SchemaEntry("public", "drift", v1, ["id"])) == "update"
    sink.insert(_jdbc_env(spark, v1, [{"id": 1, "n": 5}]), "public", "drift")

    assert sink.handle_schema(SchemaEntry("public", "drift", v2, ["id"])) == "update"
    assert any("SET DATA TYPE BIGINT" in s for s in executed)
    big = 2**40
    sink.insert(
        _jdbc_env(spark, v2, [{"id": 2, "n": big}], lsn0=20),
        "public",
        "drift",
    )
    got = dict(
        con.execute("SELECT id, n FROM public_drift_compacted").fetchall()
    )
    assert got == {1: 5, 2: big}
    types = {
        r[0]: r[1]
        for r in con.execute("DESCRIBE public_drift_compacted").fetchall()
    }
    assert types["n"] == "BIGINT"


def test_jdbc_add_column_and_drop_tombstone(spark):
    """ADD COLUMN flows through (old rows read NULL); a DROPPED column
    stays as a tombstone — new rows leave it NULL, already-compacted
    rows keep their last value, and history is still queryable."""
    v1 = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("a", T.StringType())]
    )
    v2 = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("a", T.StringType()),
            T.StructField("b", T.StringType()),
        ]
    )
    v3 = T.StructType(  # upstream dropped `a`
        [T.StructField("id", T.LongType()), T.StructField("b", T.StringType())]
    )
    sink, con, executed = _duck_sink(spark)
    e1, e2, e3 = (
        SchemaEntry("public", "drift", v, ["id"]) for v in (v1, v2, v3)
    )
    assert sink.handle_schema(e1) == "update"
    assert sink.handle_schema(e1) == "noop"  # fingerprint hit
    sink.insert(_jdbc_env(spark, v1, [{"id": 1, "a": "x"}]), "public", "drift")

    assert sink.handle_schema(e2) == "update"
    assert any("ADD COLUMN IF NOT EXISTS" in s for s in executed)
    sink.insert(
        _jdbc_env(spark, v2, [{"id": 2, "a": "y", "b": "B2"}], lsn0=20),
        "public",
        "drift",
    )
    got = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            "SELECT id, a, b FROM public_drift_compacted"
        ).fetchall()
    }
    assert got == {1: ("x", None), 2: ("y", "B2")}  # old row: NULL b

    # drop `a` upstream: no destructive DDL, tombstone retained
    assert sink.handle_schema(e3) == "update"
    assert not any("DROP COLUMN" in s for s in executed)
    sink.insert(
        _jdbc_env(spark, v3, [{"id": 3, "b": "B3"}], lsn0=30),
        "public",
        "drift",
    )
    got = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            "SELECT id, a, b FROM public_drift_compacted ORDER BY id"
        ).fetchall()
    }
    assert got == {1: ("x", None), 2: ("y", "B2"), 3: (None, "B3")}


def test_schema_handler_failed_sync_propagates_and_retries(spark):
    """A raising sync PROPAGATES (reference schema_handler.go returns
    err — the batch fails loudly) and is NOT fingerprint-cached, so the
    next batch retries the migration instead of skipping it."""
    import pytest

    from pgsink_spark.sinks.generic import SchemaHandler

    calls = {"n": 0}

    def sync(entry):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("warehouse down")

    h = SchemaHandler(sync)
    entry = SchemaEntry(
        "public",
        "drift",
        T.StructType([T.StructField("id", T.LongType())]),
        ["id"],
    )
    with pytest.raises(RuntimeError, match="warehouse down"):
        h.handle(entry)
    assert h.handle(entry) == "update"  # retried, now cached
    assert h.handle(entry) == "noop"
    assert calls["n"] == 2


def test_jdbc_sync_failed_migration_reissues_alters(spark):
    """A failed ALTER must be re-issued on retry: the sink's schema
    cache commits only after all DDL succeeds, so the retry still diffs
    old-vs-new (ADVICE r4: entries-before-DDL made the retry a no-op)."""
    import duckdb
    import pytest

    from pgsink_spark.sinks.jdbc_sink import JdbcSinkOptions, JdbcWarehouseSink

    con = duckdb.connect()
    fail_next = {"on": False}

    def execute(sql):
        if fail_next["on"] and sql.lstrip().upper().startswith("ALTER"):
            fail_next["on"] = False
            raise RuntimeError("warehouse down mid-migration")
        con.execute(sql)

    sink = JdbcWarehouseSink(
        JdbcSinkOptions(url="jdbc:duckdb:"), execute
    )
    v1 = T.StructType([T.StructField("id", T.LongType())])
    v2 = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("a", T.StringType())]
    )
    sink.handle_schema(SchemaEntry("public", "drift2", v1, ["id"]))
    fail_next["on"] = True
    with pytest.raises(RuntimeError):
        sink.handle_schema(SchemaEntry("public", "drift2", v2, ["id"]))
    # retry: the ALTER must be generated again (old entry still v1)
    sink.handle_schema(SchemaEntry("public", "drift2", v2, ["id"]))
    cols = {
        r[1]
        for r in con.execute(
            "PRAGMA table_info('public_drift2_raw')"
        ).fetchall()
    }
    assert "a" in cols
