"""BigQuery sink e2e against the in-process REST fake (tests/bq_fake.py).

Covers the full reference surface: dataset autocreation, raw table with
clustering + day partitioning, most-recent-row view, fingerprint-cached
schema sync, additive evolution via tables.patch, incompatible
evolution failing loudly, executor-side insertAll with lsn-sequence
insert ids, row-error surfacing, the NDJSON load-job bulk path, and the
Authorization header. Parity: pkg/sinks/bigquery (see module docstring
of pgsink_spark/sinks/bigquery.py).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pgsink_spark.changelog import SchemaEntry
from pgsink_spark.changelog.envelope import to_envelope
from pgsink_spark.sinks.bigquery import (
    BigQueryError,
    BigQuerySink,
    BigQuerySinkOptions,
    bq_schema_of,
    view_query,
)
from tests.bq_fake import make_server


@pytest.fixture()
def fake():
    srv, state, base = make_server()
    yield state, base
    srv.shutdown()


def _entry(extra_cols: list[T.StructField] | None = None) -> SchemaEntry:
    fields = [
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("score", T.DoubleType(), True),
    ] + (extra_cols or [])
    return SchemaEntry("public", "users", T.StructType(fields), ["id"])


def _sink(base: str, **kw) -> BigQuerySink:
    return BigQuerySink(
        BigQuerySinkOptions(
            api_base=base, project="proj", dataset="cdc", **kw
        )
    )


def _envelope(spark, rows):
    """IMPORT-style envelope carrying explicit (ts, lsn) meta; the
    payload struct holds only the table columns."""
    df = spark.createDataFrame(
        rows, "id long, name string, score double, ts timestamp, lsn long"
    )
    env = to_envelope(df, "public", "users", timestamp=F.col("ts"), lsn=F.col("lsn"))
    return env.withColumn(
        "after", F.col("after").dropFields("ts", "lsn")
    ).withColumn("before", F.col("before").dropFields("ts", "lsn"))


def test_schema_sync_creates_dataset_table_view(fake):
    state, base = fake
    sink = _sink(base)
    assert sink.handle_schema(_entry()) == "update"

    assert "cdc" in state.datasets
    raw = state.tables[("cdc", "public_users_raw")]
    assert raw["clustering"]["fields"] == ["payload.id"]
    assert raw["timePartitioning"] == {"type": "DAY", "field": "timestamp"}
    names = {f["name"] for f in raw["schema"]["fields"]}
    assert names == {"timestamp", "lsn", "sequence", "operation", "payload"}
    payload = next(
        f for f in raw["schema"]["fields"] if f["name"] == "payload"
    )
    assert {(f["name"], f["type"]) for f in payload["fields"]} == {
        ("id", "INT64"),
        ("name", "STRING"),
        ("score", "FLOAT64"),
    }
    view = state.tables[("cdc", "public_users")]
    assert "row_number" in view["view"]["query"]
    assert "partition by payload.id" in view["view"]["query"]
    assert "operation != 'DELETE'" in view["view"]["query"]

    # fingerprint cache: same schema again is a pure no-op (no new calls)
    n_before = len(state.requests)
    assert sink.handle_schema(_entry()) == "noop"
    assert len(state.requests) == n_before


def test_insert_streams_rows_with_insert_ids(spark, fake):
    state, base = fake
    sink = _sink(base, token="tok123")
    sink.handle_schema(_entry())
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    env = _envelope(
        spark,
        [
            (1, "a", 0.5, t0, 100),
            (2, "b", 1.5, t0, 101),
            (3, None, None, t0, 102),
        ],
    )
    res = sink.insert(env, "public", "users")
    assert (res.count, res.max_lsn) == (3, 102)

    stored = state.rows[("cdc", "public_users_raw")]
    assert len(stored) == 3
    by_id = {r["payload"]["id"]: r for r in stored}
    assert by_id[1]["insertId"] == "100-0"
    assert by_id[2]["payload"]["name"] == "b"
    assert by_id[3]["payload"].get("score") is None
    assert all(r["operation"] == "INSERT" for r in stored)
    # token rode every request
    auth = {a for (_, _, a) in state.requests if a}
    assert auth == {"Bearer tok123"}


def test_additive_evolution_patches_payload(fake):
    state, base = fake
    sink = _sink(base)
    sink.handle_schema(_entry())
    evolved = _entry([T.StructField("email", T.StringType(), True)])
    assert sink.handle_schema(evolved) == "update"
    raw = state.tables[("cdc", "public_users_raw")]
    payload = next(f for f in raw["schema"]["fields"] if f["name"] == "payload")
    email = next(f for f in payload["fields"] if f["name"] == "email")
    assert email == {"name": "email", "type": "STRING", "mode": "NULLABLE"}


def test_incompatible_evolution_raises_and_retries(fake):
    state, base = fake
    sink = _sink(base)
    sink.handle_schema(_entry())
    bad = SchemaEntry(
        "public",
        "users",
        T.StructType(
            [
                T.StructField("id", T.LongType(), False),
                T.StructField("name", T.LongType(), True),  # STRING -> INT64
                T.StructField("score", T.DoubleType(), True),
            ]
        ),
        ["id"],
    )
    with pytest.raises(BigQueryError, match="incompatible evolution"):
        sink.handle_schema(bad)
    # fingerprint NOT cached on failure: the next call retries the DDL
    with pytest.raises(BigQueryError, match="incompatible evolution"):
        sink.handle_schema(bad)


def test_insert_row_errors_surface(spark, fake):
    state, base = fake
    sink = _sink(base)
    # sync a NARROWER schema than the envelope carries -> unknown field
    narrow = SchemaEntry(
        "public",
        "users",
        T.StructType(
            [
                T.StructField("id", T.LongType(), False),
                T.StructField("name", T.StringType(), True),
            ]
        ),
        ["id"],
    )
    sink.handle_schema(narrow)
    import datetime

    env = _envelope(spark, [(1, "a", 0.5, datetime.datetime(2024, 1, 1), 1)])
    with pytest.raises(Exception, match="insertAll returned row errors"):
        sink.insert(env, "public", "users")


def test_load_job_path_appends_rows(spark, fake):
    state, base = fake
    sink = _sink(base, use_load_jobs=True)
    sink.handle_schema(_entry())
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    env = _envelope(spark, [(i, f"n{i}", float(i), t0, 200 + i) for i in range(7)])
    res = sink.insert(env, "public", "users")
    assert (res.count, res.max_lsn) == (7, 206)
    stored = state.rows[("cdc", "public_users_raw")]
    assert {r["payload"]["id"] for r in stored} == set(range(7))
    assert state.jobs  # at least one load job ran to DONE
    assert all(j["status"]["state"] == "DONE" for j in state.jobs.values())


def test_view_query_composite_keys():
    q = view_query("p", "d", "t_raw", ["k1", "k2"])
    assert "partition by payload.k1, payload.k2" in q


def test_bq_schema_array_and_binary_types():
    entry = SchemaEntry(
        "public",
        "media",
        T.StructType(
            [
                T.StructField("id", T.LongType(), False),
                T.StructField("emb", T.ArrayType(T.FloatType()), True),
                T.StructField("blob", T.BinaryType(), True),
                T.StructField("seen", T.TimestampNTZType(), True),
            ]
        ),
        ["id"],
    )
    payload = next(f for f in bq_schema_of(entry) if f["name"] == "payload")
    by = {f["name"]: f for f in payload["fields"]}
    assert by["emb"] == {"name": "emb", "type": "FLOAT64", "mode": "REPEATED"}
    assert by["blob"]["type"] == "BYTES"
    assert by["seen"]["type"] == "TIMESTAMP"


@pytest.mark.slow
def test_cli_stream_capture_to_bigquery(spark, tmp_path, fake):
    """Full CDC e2e through the CLI: pgoutput capture → DSv2 stream →
    typed cast → BigQuery REST sink on the fake. The relation message
    announces the schema (raw table + view synced), every DML lands as
    an envelope row with the right operation, and the DELETE carries
    its before-image (the view filters it at read time — the
    reference's posture)."""
    import argparse
    import datetime
    from datetime import timezone

    from pgsink_spark.cli import cmd_stream
    from pgsink_spark.streaming.datasource import append_capture
    from pgsink_spark.streaming.decoder import (
        Relation,
        RelationColumn,
        encode_begin,
        encode_commit,
        encode_delete,
        encode_insert,
        encode_relation,
        encode_update,
    )

    state, base = fake
    rel = Relation(
        oid=500,
        namespace="public",
        name="kv",
        replica_identity=0,
        columns=(
            RelationColumn(key=True, name="id", type_oid=20, modifier=-1),
            RelationColumn(key=False, name="v", type_oid=25, modifier=-1),
        ),
    )
    ts = datetime.datetime(2024, 5, 1, tzinfo=timezone.utc)
    cap = str(tmp_path / "wal.capture")
    append_capture(
        cap,
        [
            encode_begin(100, ts, 100),
            encode_relation(rel),
            encode_insert(rel.oid, (b"1", b"a")),
            encode_insert(rel.oid, (b"2", b"b")),
            encode_commit(0, 100, 101, ts),
            encode_begin(200, ts, 200),
            encode_update(rel.oid, (b"1", b"a2"), old=(b"1", b"a")),
            encode_commit(0, 200, 201, ts),
            encode_begin(300, ts, 300),
            encode_delete(rel.oid, old=(b"2", b"b")),
            encode_commit(0, 300, 301, ts),
        ],
    )
    args = argparse.Namespace(
        root=str(tmp_path),
        capture=cap,
        sink="bigquery",
        max_commits=0,
        bq_api_base=base,
        bq_project="proj",
        bq_dataset="cdc",
        bq_token=None,
        bq_load_jobs=False,
    )
    assert cmd_stream(args) == 0

    raw = state.tables[("cdc", "public_kv_raw")]
    assert raw["clustering"]["fields"] == ["payload.id"]
    view = state.tables[("cdc", "public_kv")]
    assert "partition by payload.id" in view["view"]["query"]

    rows = state.rows[("cdc", "public_kv_raw")]
    assert len(rows) == 4
    ops = sorted(r["operation"] for r in rows)
    assert ops == ["DELETE", "INSERT", "INSERT", "UPDATE"]
    # the DELETE row carries the before-image; the view filters it
    dele = next(r for r in rows if r["operation"] == "DELETE")
    assert dele["payload"] == {"id": 2, "v": "b"}
    upd = next(r for r in rows if r["operation"] == "UPDATE")
    assert upd["payload"] == {"id": 1, "v": "a2"}
    # most-recent-row election over what landed: id 1 -> a2, id 2 gone
    latest = {}
    for r in sorted(rows, key=lambda r: (r["lsn"], r["sequence"])):
        latest[r["payload"]["id"]] = r
    assert latest[1]["payload"]["v"] == "a2"
    assert latest[2]["operation"] == "DELETE"
