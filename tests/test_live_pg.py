"""Live-Postgres integration suite.

Exercises the paths the offline suite can only simulate with parquet
fixtures and fake servers: SCRAM auth on a real socket, walsender
CopyBoth streaming, pgoutput decode of real WAL, slot resume from the
confirmed LSN, TOAST, schema evolution, and the full capture →
Spark-stream → warehouse → compaction loop (reference integration
strategy: pkg/imports/integration, pkg/subscription/integration —
dockerised PG in CI, integration/file_test.go:88-118).

Server resolution, in order:

1. ``PGSINK_TEST_PG_HOST`` (+ _PORT/_DB/_USER/_PASSWORD/_SSL) — an
   externally provided replication-capable Postgres
   (wal_level=logical, user has REPLICATION + CREATE).
2. Local Postgres binaries (initdb/pg_ctl) → an EPHEMERAL throwaway
   cluster is provisioned per test session (tests/pg_harness.py),
   with SCRAM auth and logical WAL — no external setup needed.
3. Neither → every test here skips.

JDBC tests additionally need ``PGSINK_TEST_JDBC_URL`` and
``PGSINK_TEST_JDBC_JAR`` (no driver jar ships in this container) and
should run in their OWN pytest invocation so the jar can be attached
to a fresh JVM:

    PGSINK_TEST_JDBC_URL=... PGSINK_TEST_JDBC_JAR=... \
        python -m pytest tests/test_live_pg.py -v
"""

from __future__ import annotations

import os
import socket
import uuid

import pytest

from pgsink_spark.sources import jdbc
from pgsink_spark.streaming.decoder import (
    UNCHANGED,
    Begin,
    Commit,
    Delete,
    Insert,
    Relation,
    Truncate,
    Update,
    decode_message,
)
from pgsink_spark.streaming.replication import (
    ReplicationClient,
    ReplicationError,
)

JDBC_URL = os.environ.get("PGSINK_TEST_JDBC_URL")
JDBC_JAR = os.environ.get("PGSINK_TEST_JDBC_JAR")

needs_jdbc = pytest.mark.skipif(
    JDBC_URL is None or JDBC_JAR is None,
    reason="PGSINK_TEST_JDBC_URL / _JAR not set (no JDBC driver in container)",
)


@pytest.fixture(scope="session")
def pg():
    """Connection params for a live replication-capable Postgres —
    externally provided, or an ephemeral cluster provisioned from
    local binaries; skips when neither exists."""
    if os.environ.get("PGSINK_TEST_PG_HOST"):
        yield {
            "host": os.environ["PGSINK_TEST_PG_HOST"],
            "port": int(os.environ.get("PGSINK_TEST_PG_PORT", "5432")),
            "database": os.environ.get("PGSINK_TEST_PG_DB", "postgres"),
            "user": os.environ.get("PGSINK_TEST_PG_USER", "postgres"),
            "password": os.environ.get("PGSINK_TEST_PG_PASSWORD"),
            "ssl": os.environ.get("PGSINK_TEST_PG_SSL", "prefer"),
        }
        return

    import pg_harness

    if pg_harness.pg_binaries() is None:
        pytest.skip(
            "no live Postgres (PGSINK_TEST_PG_HOST unset) and no local "
            "binaries to provision one"
        )
    server = pg_harness.EphemeralPostgres().start()
    try:
        yield {
            "host": server.host,
            "port": server.port,
            "database": server.database,
            "user": server.user,
            "password": server.password,
            "ssl": "disable",
            # self-signed cert ⇒ TLS tests must skip verification
            "tls_available": server.tls,
            "ssl_noverify": True,
        }
    finally:
        server.stop()


def _connect_replication(pg: dict) -> ReplicationClient:
    sock = socket.create_connection((pg["host"], pg["port"]), timeout=10)
    # sslmode semantics: negotiate TLS when offered ('prefer'), demand
    # it ('require'), or skip the SSLRequest dance ('disable').
    # SCRAM-SHA-256 is handled inside connect().
    import ssl

    from pgsink_spark.streaming.replication import start_tls

    mode = pg.get("ssl", "prefer")
    if mode != "disable":
        ctx = ssl.create_default_context()
        if os.environ.get("PGSINK_TEST_PG_SSL_NOVERIFY") or pg.get(
            "ssl_noverify"
        ):
            ctx.check_hostname = False
            ctx.verify_mode = ssl.CERT_NONE
        sock = start_tls(
            sock,
            context=ctx,
            server_hostname=pg["host"],
            required=(mode == "require"),
        )
    client = ReplicationClient(
        sock,
        database=pg["database"],
        user=pg["user"],
        password=pg["password"],
        heartbeat_interval_s=5.0,
    )
    client.connect()
    return client


def _fresh_names() -> tuple[str, str, str]:
    run = uuid.uuid4().hex[:8]
    return (
        f"pgsink_it_{run}",
        f"pgsink_it_pub_{run}",
        f"pgsink_it_slot_{run}",
    )


def _drain_one_txn(client, relations=None):
    """Consume messages up to and including the next Commit; returns
    (dml list, relations dict, commit_wal_end)."""
    dml = []
    relations = relations if relations is not None else {}
    for msg in client.messages():
        if not hasattr(msg, "payload"):
            continue  # keepalive
        decoded = decode_message(msg.payload)
        if isinstance(decoded, Relation):
            relations[decoded.oid] = decoded
        elif isinstance(decoded, (Insert, Update, Delete, Truncate)):
            dml.append(decoded)
        elif isinstance(decoded, Commit):
            return dml, relations, msg.wal_end
    raise AssertionError("stream ended before Commit")


class TestLiveReplication:
    def test_identify_system(self, pg):
        client = _connect_replication(pg)
        info = client.identify_system()
        assert "xlogpos" in info and "systemid" in info

    def test_wrong_password_is_rejected(self, pg):
        """Live SCRAM negative path: the server's verifier rejects a
        bad password with a real ErrorResponse."""
        bad = dict(pg, password="definitely-wrong")
        if pg["password"] is None:
            pytest.skip("server runs trust auth; no password to get wrong")
        with pytest.raises(ReplicationError):
            _connect_replication(bad)

    def test_tls_replication_session(self, pg):
        """SSLRequest negotiation + SCRAM over a REAL TLS-wrapped
        walsender socket: start_tls(required=True) must wrap, auth must
        complete, and a streaming txn must decode — the managed-PG
        (TLS-required) connection path end to end."""
        if not pg.get("tls_available"):
            pytest.skip("server has no TLS certificate installed")
        tls_pg = dict(pg, ssl="require")
        client = _connect_replication(tls_pg)
        info = client.identify_system()
        assert "xlogpos" in info
        table, pub, slot = _fresh_names()
        try:
            client._simple_query(
                f"CREATE TABLE {table} (id int primary key, v text)"
            )
            client._simple_query(
                f"CREATE PUBLICATION {pub} FOR TABLE {table}"
            )
            client._simple_query(
                f'CREATE_REPLICATION_SLOT "{slot}" TEMPORARY LOGICAL pgoutput'
            )
            client._simple_query(f"INSERT INTO {table} VALUES (1, 'tls')")
            client.start_replication(slot, pub, proto_version=1)
            dml, _rels, wal_end = _drain_one_txn(client)
            assert [m.new for m in dml] == [(b"1", b"tls")]
            client.flush_lsn = wal_end
            client.send_standby_status()
        finally:
            try:
                client._simple_query(f"DROP PUBLICATION IF EXISTS {pub}")
                client._simple_query(f"DROP TABLE IF EXISTS {table}")
            except Exception:
                pass

    def test_pgoutput_roundtrip(self, pg):
        """Create table + publication + temp slot, insert, and decode
        the resulting pgoutput stream with the repo's decoder — the
        live twin of tests/test_replication.py's fake-server loop."""
        table, pub, slot = _fresh_names()
        client = _connect_replication(pg)
        try:
            client._simple_query(
                f"CREATE TABLE {table} (id int primary key, msg text)"
            )
            client._simple_query(
                f"CREATE PUBLICATION {pub} FOR TABLE {table}"
            )
            # TEMPORARY ⇒ the slot dies with this connection: no cleanup
            # debt even on test failure (ref uses the same trick:
            # pkg/subscription/integration setup).
            client._simple_query(
                f'CREATE_REPLICATION_SLOT "{slot}" TEMPORARY LOGICAL pgoutput'
            )
            client._simple_query(
                f"INSERT INTO {table} VALUES (1, 'hello'), (2, 'world')"
            )
            client.start_replication(slot, pub, proto_version=1)
            dml, relations, wal_end = _drain_one_txn(client)
            client.flush_lsn = wal_end
            client.send_standby_status()
            inserts = [m for m in dml if isinstance(m, Insert)]
            assert len(inserts) == 2
            rel = relations[inserts[0].relation_oid]
            assert rel.name == table
            assert [c.name for c in rel.columns] == ["id", "msg"]
        finally:
            try:
                client._simple_query(f"DROP PUBLICATION IF EXISTS {pub}")
                client._simple_query(f"DROP TABLE IF EXISTS {table}")
            except Exception:
                pass

    def test_update_delete_truncate_decode(self, pg):
        """The full DML surface over real WAL: UPDATE carries the new
        image (+ key when the key changes), DELETE carries the key,
        TRUNCATE names the relation."""
        table, pub, slot = _fresh_names()
        client = _connect_replication(pg)
        try:
            client._simple_query(
                f"CREATE TABLE {table} (id int primary key, msg text)"
            )
            client._simple_query(
                f"CREATE PUBLICATION {pub} FOR TABLE {table}"
            )
            client._simple_query(
                f'CREATE_REPLICATION_SLOT "{slot}" TEMPORARY LOGICAL pgoutput'
            )
            client._simple_query(f"INSERT INTO {table} VALUES (1, 'a')")
            client._simple_query(
                f"UPDATE {table} SET msg = 'b' WHERE id = 1"
            )
            client._simple_query(f"DELETE FROM {table} WHERE id = 1")
            client._simple_query(f"TRUNCATE {table}")
            client.start_replication(slot, pub, proto_version=1)

            rels: dict = {}
            t1, rels, _ = _drain_one_txn(client, rels)
            t2, rels, _ = _drain_one_txn(client, rels)
            t3, rels, _ = _drain_one_txn(client, rels)
            t4, rels, wal_end = _drain_one_txn(client, rels)
            client.flush_lsn = wal_end
            client.send_standby_status()

            assert isinstance(t1[0], Insert)
            (upd,) = t2
            assert isinstance(upd, Update)
            rel = rels[upd.relation_oid]
            cols = [c.name for c in rel.columns]
            assert dict(zip(cols, upd.new))["msg"] == b"b"
            (dele,) = t3
            assert isinstance(dele, Delete)
            # default REPLICA IDENTITY ⇒ the key tuple carries the pk
            key_img = dele.key or dele.old
            assert dict(zip(cols, key_img))["id"] == b"1"
            (trunc,) = t4
            assert isinstance(trunc, Truncate)
            assert rel.oid in trunc.relation_oids
        finally:
            try:
                client._simple_query(f"DROP PUBLICATION IF EXISTS {pub}")
                client._simple_query(f"DROP TABLE IF EXISTS {table}")
            except Exception:
                pass

    def test_toast_unchanged_marker(self, pg):
        """A TOASTed value (wide text) not touched by an UPDATE arrives
        as the UNCHANGED sentinel, not as data — the decode path the
        marshal layer resolves from its relation cache."""
        table, pub, slot = _fresh_names()
        client = _connect_replication(pg)
        try:
            client._simple_query(
                f"CREATE TABLE {table} "
                f"(id int primary key, big text, small text)"
            )
            client._simple_query(
                f"CREATE PUBLICATION {pub} FOR TABLE {table}"
            )
            client._simple_query(
                f'CREATE_REPLICATION_SLOT "{slot}" TEMPORARY LOGICAL pgoutput'
            )
            # > page size and non-compressible enough to TOAST
            client._simple_query(
                f"INSERT INTO {table} "
                f"SELECT 1, string_agg(md5(g::text), ''), 'x' "
                f"FROM generate_series(1, 500) g"
            )
            client._simple_query(
                f"UPDATE {table} SET small = 'y' WHERE id = 1"
            )
            client.start_replication(slot, pub, proto_version=1)
            rels: dict = {}
            t1, rels, _ = _drain_one_txn(client, rels)
            t2, rels, wal_end = _drain_one_txn(client, rels)
            client.flush_lsn = wal_end
            client.send_standby_status()
            (upd,) = t2
            assert isinstance(upd, Update)
            cols = [c.name for c in rels[upd.relation_oid].columns]
            img = dict(zip(cols, upd.new))
            assert img["big"] is UNCHANGED
            assert img["small"] == b"y"
        finally:
            try:
                client._simple_query(f"DROP PUBLICATION IF EXISTS {pub}")
                client._simple_query(f"DROP TABLE IF EXISTS {table}")
            except Exception:
                pass

    def test_schema_evolution_new_relation_mid_stream(self, pg):
        """ALTER TABLE ADD COLUMN between two inserts: the walsender
        re-sends the Relation message and the second insert's tuple has
        the extra column — the live twin of the offline relation-cache
        versioning tests."""
        table, pub, slot = _fresh_names()
        client = _connect_replication(pg)
        try:
            client._simple_query(
                f"CREATE TABLE {table} (id int primary key, v text)"
            )
            client._simple_query(
                f"CREATE PUBLICATION {pub} FOR TABLE {table}"
            )
            client._simple_query(
                f'CREATE_REPLICATION_SLOT "{slot}" TEMPORARY LOGICAL pgoutput'
            )
            client._simple_query(f"INSERT INTO {table} VALUES (1, 'a')")
            client._simple_query(
                f"ALTER TABLE {table} ADD COLUMN extra int DEFAULT 7"
            )
            client._simple_query(f"INSERT INTO {table} VALUES (2, 'b', 8)")
            client.start_replication(slot, pub, proto_version=1)

            seen_rel_cols: list[list[str]] = []
            inserts: list[Insert] = []
            for msg in client.messages():
                if not hasattr(msg, "payload"):
                    continue
                decoded = decode_message(msg.payload)
                if isinstance(decoded, Relation):
                    seen_rel_cols.append([c.name for c in decoded.columns])
                elif isinstance(decoded, Insert):
                    inserts.append(decoded)
                elif isinstance(decoded, Commit) and len(inserts) == 2:
                    client.flush_lsn = msg.wal_end
                    client.send_standby_status()
                    break
            # server nuance (observed on PG 15): a fast-default ALTER
            # ADD COLUMN makes the walsender describe even pre-ALTER
            # transactions with the post-ALTER descriptor, filling the
            # missing value from atthasmissing — so the pre-ALTER
            # insert may legally arrive with either shape
            assert seen_rel_cols[-1] == ["id", "v", "extra"]
            assert inserts[0].new[:2] == (b"1", b"a")
            if len(inserts[0].new) == 3:
                assert inserts[0].new[2] == b"7"  # the fast default
            assert inserts[1].new == (b"2", b"b", b"8")
        finally:
            try:
                client._simple_query(f"DROP PUBLICATION IF EXISTS {pub}")
                client._simple_query(f"DROP TABLE IF EXISTS {table}")
            except Exception:
                pass

    def test_slot_already_exists_raises(self, pg):
        """Creating a slot twice surfaces the server's ErrorResponse as
        ReplicationError (42710 duplicate_object) — and the connection
        can be re-established afterwards."""
        _, _, slot = _fresh_names()
        client = _connect_replication(pg)
        client._simple_query(
            f'CREATE_REPLICATION_SLOT "{slot}" TEMPORARY LOGICAL pgoutput'
        )
        with pytest.raises(ReplicationError, match="42710|exists"):
            client._simple_query(
                f'CREATE_REPLICATION_SLOT "{slot}" TEMPORARY LOGICAL pgoutput'
            )
        # temp slot dies with the session; a fresh session is clean
        client2 = _connect_replication(pg)
        client2._simple_query(
            f'CREATE_REPLICATION_SLOT "{slot}" TEMPORARY LOGICAL pgoutput'
        )

    def test_resume_from_confirmed_lsn(self, pg):
        """The reconnect contract on a PERMANENT slot: consume txn A,
        confirm its LSN, drop the connection; insert txn B; a new
        connection starting at the confirmed LSN receives ONLY txn B —
        the at-least-once resume loop the offline suite can only fake."""
        table, pub, slot = _fresh_names()
        client = _connect_replication(pg)
        try:
            client._simple_query(
                f"CREATE TABLE {table} (id int primary key, v text)"
            )
            client._simple_query(
                f"CREATE PUBLICATION {pub} FOR TABLE {table}"
            )
            client._simple_query(
                f'CREATE_REPLICATION_SLOT "{slot}" LOGICAL pgoutput'
            )
            client._simple_query(f"INSERT INTO {table} VALUES (1, 'A')")
            client.start_replication(slot, pub, proto_version=1)
            dml, _rels, wal_end = _drain_one_txn(client)
            assert [m.new[0] for m in dml] == [b"1"]
            client.flush_lsn = wal_end
            client.send_standby_status()
            # hard drop (no CopyDone): the server must still have
            # persisted the confirmed LSN from the status update
            client._conn.sock.close()

            writer = _connect_replication(pg)
            writer._simple_query(f"INSERT INTO {table} VALUES (2, 'B')")

            resumed = _connect_replication(pg)
            resumed.start_replication(slot, pub, proto_version=1)
            dml2, _rels2, wal_end2 = _drain_one_txn(resumed)
            assert [m.new[0] for m in dml2] == [b"2"]
            resumed.flush_lsn = wal_end2
            resumed.send_standby_status()
        finally:
            try:
                cleanup = _connect_replication(pg)
                cleanup._simple_query(f'DROP_REPLICATION_SLOT "{slot}"')
                cleanup._simple_query(f"DROP PUBLICATION IF EXISTS {pub}")
                cleanup._simple_query(f"DROP TABLE IF EXISTS {table}")
            except Exception:
                pass


class TestLiveEndToEnd:
    def test_live_wal_to_warehouse_compaction(self, pg, spark, tmp_path):
        """The flagship CDC loop over a REAL socket: live WAL → capture
        file → Spark pgoutput stream source → WarehouseSink → compaction
        view, asserted equal to the table state the server itself
        reports (reference proof: integration/file_test.go:88-118).
        Covers insert/update/delete and the ack watermark."""
        from pgsink_spark.changelog.registry import entry_from_relation
        from pgsink_spark.sinks.warehouse import WarehouseSink
        from pgsink_spark.streaming.datasource import append_capture
        from pgsink_spark.streaming.marshal import RelationCache, marshal
        from pgsink_spark.streaming.decoder import decode_message as _dec
        from pgsink_spark.streaming.sequence import Sequencer
        from pgsink_spark.streaming.stream import modifications_df

        table, pub, slot = _fresh_names()
        client = _connect_replication(pg)
        try:
            client._simple_query(
                f"CREATE TABLE {table} (id int primary key, v text)"
            )
            client._simple_query(
                f"CREATE PUBLICATION {pub} FOR TABLE {table}"
            )
            client._simple_query(
                f'CREATE_REPLICATION_SLOT "{slot}" TEMPORARY LOGICAL pgoutput'
            )
            client._simple_query(
                f"INSERT INTO {table} VALUES (1, 'a'), (2, 'b'), (3, 'c')"
            )
            client._simple_query(f"UPDATE {table} SET v = 'b2' WHERE id = 2")
            client._simple_query(f"DELETE FROM {table} WHERE id = 3")
            live_rows, _cols = client._simple_query(
                f"SELECT id, v FROM {table} ORDER BY id"
            )

            client.start_replication(slot, pub, proto_version=1)
            payloads, commits = [], 0
            for msg in client.messages():
                if not hasattr(msg, "payload"):
                    continue
                payloads.append(msg.payload)
                if isinstance(_dec(msg.payload), Commit):
                    commits += 1
                    client.flush_lsn = msg.wal_end
                    client.send_standby_status()
                    if commits == 3:
                        break
            cap = str(tmp_path / "live.capture")
            append_capture(cap, payloads)

            # replay the capture through the repo's decode→sequence→
            # marshal→envelope path and fold it into the warehouse
            cache = RelationCache()
            seq = Sequencer()
            mods, rel = [], None
            for buf in payloads:
                decoded = _dec(buf)
                if isinstance(decoded, Relation):
                    rel = decoded
                sm = seq.feed(decoded)
                if sm is None:
                    continue
                m = marshal(cache, sm)
                if m is not None:
                    mods.append(m)
            assert mods, "capture produced no modifications"
            assert rel is not None
            entry = entry_from_relation(rel)
            assert entry.key_columns == ["id"]
            env = modifications_df(spark, mods, entry.payload)

            sink = WarehouseSink(spark, str(tmp_path / "wh"))
            sink.handle_schema(entry)
            res = sink.insert(env, entry.namespace, entry.name)
            assert res.count == len(mods)
            view = sink.install_view(entry.namespace, entry.name)
            got = sorted(
                (r["id"], r["v"])
                for r in spark.table(view).select("id", "v").collect()
            )
            want = sorted((int(i), v) for i, v in live_rows)
            assert got == want  # compacted view == live table state
        finally:
            try:
                client._simple_query(f"DROP PUBLICATION IF EXISTS {pub}")
                client._simple_query(f"DROP TABLE IF EXISTS {table}")
            except Exception:
                pass

    def test_live_wal_to_warehouse_composite_key(self, pg, spark, tmp_path):
        """Composite-primary-key CDC loop: the pgoutput Relation flags
        BOTH key columns, entry_from_relation carries them through, and
        the compaction view elects per (tenant, name) — two live rows
        sharing a tenant must BOTH survive (a single-column election
        would shadow one). Covers update + delete on a two-column key."""
        from pgsink_spark.changelog.registry import entry_from_relation
        from pgsink_spark.sinks.warehouse import WarehouseSink
        from pgsink_spark.streaming.marshal import RelationCache, marshal
        from pgsink_spark.streaming.decoder import decode_message as _dec
        from pgsink_spark.streaming.sequence import Sequencer
        from pgsink_spark.streaming.stream import modifications_df

        table, pub, slot = _fresh_names()
        client = _connect_replication(pg)
        try:
            client._simple_query(
                f"CREATE TABLE {table} (tenant int, name text, v text, "
                f"PRIMARY KEY (tenant, name))"
            )
            client._simple_query(
                f"CREATE PUBLICATION {pub} FOR TABLE {table}"
            )
            client._simple_query(
                f'CREATE_REPLICATION_SLOT "{slot}" TEMPORARY LOGICAL pgoutput'
            )
            client._simple_query(
                f"INSERT INTO {table} VALUES "
                f"(1, 'a', 'x'), (1, 'b', 'y'), (2, 'a', 'z')"
            )
            client._simple_query(
                f"UPDATE {table} SET v = 'y2' "
                f"WHERE tenant = 1 AND name = 'b'"
            )
            client._simple_query(
                f"DELETE FROM {table} WHERE tenant = 2 AND name = 'a'"
            )
            live_rows, _ = client._simple_query(
                f"SELECT tenant, name, v FROM {table} ORDER BY 1, 2"
            )

            client.start_replication(slot, pub, proto_version=1)
            payloads, commits = [], 0
            for msg in client.messages():
                if not hasattr(msg, "payload"):
                    continue
                payloads.append(msg.payload)
                if isinstance(_dec(msg.payload), Commit):
                    commits += 1
                    client.flush_lsn = msg.wal_end
                    client.send_standby_status()
                    if commits == 3:
                        break

            cache = RelationCache()
            seq = Sequencer()
            mods, rel = [], None
            for buf in payloads:
                decoded = _dec(buf)
                if isinstance(decoded, Relation):
                    rel = decoded
                sm = seq.feed(decoded)
                if sm is None:
                    continue
                m = marshal(cache, sm)
                if m is not None:
                    mods.append(m)
            assert rel is not None
            entry = entry_from_relation(rel)
            assert entry.key_columns == ["tenant", "name"]
            env = modifications_df(spark, mods, entry.payload)
            sink = WarehouseSink(spark, str(tmp_path / "whc"))
            sink.handle_schema(entry)
            sink.insert(env, entry.namespace, entry.name)
            view = sink.install_view(entry.namespace, entry.name)
            got = sorted(
                (r["tenant"], r["name"], r["v"])
                for r in spark.table(view)
                .select("tenant", "name", "v")
                .collect()
            )
            want = sorted((int(t), n, v) for t, n, v in live_rows)
            assert got == want == [(1, "a", "x"), (1, "b", "y2")]
        finally:
            try:
                client._simple_query(f"DROP PUBLICATION IF EXISTS {pub}")
                client._simple_query(f"DROP TABLE IF EXISTS {table}")
            except Exception:
                pass


@needs_jdbc
class TestLiveJdbc:
    @pytest.fixture(scope="class")
    def jdbc_spark(self):
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None and JDBC_JAR not in (
            active.conf.get("spark.jars", "")
        ):
            pytest.skip(
                "a SparkSession without the JDBC jar already exists; "
                "run tests/test_live_pg.py in its own pytest invocation"
            )
        s = (
            SparkSession.builder.master("local[4]")
            .appName("pgsink-live-jdbc")
            .config("spark.jars", JDBC_JAR)
            .config("spark.sql.shuffle.partitions", "8")
            .getOrCreate()
        )
        yield s
        s.stop()

    @pytest.fixture(scope="class")
    def seeded_table(self, jdbc_spark, pg):
        """Seed a 1000-row table through the walsender SQL channel so
        the JDBC tests have known content, independent of any driver."""
        run = uuid.uuid4().hex[:8]
        table = f"pgsink_it_jdbc_{run}"
        client = _connect_replication(pg)
        client._simple_query(
            f"CREATE TABLE {table} (id int primary key, val text)"
        )
        client._simple_query(
            f"INSERT INTO {table} "
            f"SELECT g, 'v' || g FROM generate_series(1, 1000) g"
        )
        yield table
        client._simple_query(f"DROP TABLE IF EXISTS {table}")

    def test_discover_tables_and_pk(self, jdbc_spark, seeded_table):
        tables = jdbc.discover_tables(jdbc_spark, JDBC_URL, ["public"])
        names = {r["name"] for r in tables.collect()}
        assert seeded_table in names
        pk = jdbc.discover_primary_key(
            jdbc_spark, JDBC_URL, "public", seeded_table
        )
        assert pk == ["id"]

    def test_parallel_snapshot(self, jdbc_spark, seeded_table):
        df = jdbc.read_snapshot(
            jdbc_spark,
            url=JDBC_URL,
            table=seeded_table,
            pk="id",
            lower=1,
            upper=1000,
            num_partitions=4,
        )
        assert df.rdd.getNumPartitions() == 4
        assert df.count() == 1000

    def test_keyset_batch_loop(self, jdbc_spark, seeded_table):
        """The resumable import loop against a live index: every batch
        bounded server-side, cursor advances past each batch's max pk,
        union of batches is exactly the table."""
        seen, cursor = 0, None
        for _ in range(100):
            opts = jdbc.keyset_batch_options(
                JDBC_URL, seeded_table, "id", cursor, limit=128
            )
            batch = (
                jdbc_spark.read.format("jdbc").options(**opts).load()
            ).collect()
            if not batch:
                break
            ids = [r["id"] for r in batch]
            assert ids == sorted(ids)
            if cursor is not None:
                assert ids[0] > cursor
            cursor = ids[-1]
            seen += len(ids)
        assert seen == 1000


class TestLiveOperationalLoop:
    def test_publication_and_slot_management(self, pg):
        """Live manager surface: ensure_publication / ALTER-based table
        sync / idempotent slot creation against the real catalog."""
        from pgsink_spark.streaming.live import (
            ensure_publication,
            ensure_slot,
            publication_tables,
            sync_publication_tables,
        )

        run = uuid.uuid4().hex[:8]
        t1, t2 = f"pgsink_m1_{run}", f"pgsink_m2_{run}"
        pub, slot = f"pgsink_mpub_{run}", f"pgsink_mslot_{run}"
        client = _connect_replication(pg)
        try:
            for t in (t1, t2):
                client._simple_query(
                    f"CREATE TABLE {t} (id int primary key)"
                )
            assert ensure_publication(client, pub) is True
            assert ensure_publication(client, pub) is False  # idempotent
            added, removed = sync_publication_tables(
                client, pub, {("public", t1), ("public", t2)}
            )
            assert added == {("public", t1), ("public", t2)} and not removed
            assert publication_tables(client, pub) == {
                ("public", t1),
                ("public", t2),
            }
            added, removed = sync_publication_tables(
                client, pub, {("public", t1)}
            )
            assert not added and removed == {("public", t2)}

            assert ensure_slot(client, slot) is True
            assert ensure_slot(client, slot) is False  # 42710 → converged
        finally:
            try:
                cleanup = _connect_replication(pg)
                cleanup._simple_query(f'DROP_REPLICATION_SLOT "{slot}"')
                cleanup._simple_query(f"DROP PUBLICATION IF EXISTS {pub}")
                cleanup._simple_query(f"DROP TABLE IF EXISTS {t1}")
                cleanup._simple_query(f"DROP TABLE IF EXISTS {t2}")
            except Exception:
                pass

    def test_capture_to_file_drains_and_resumes(self, pg, tmp_path):
        """availableNow capture: drain the backlog to the capture file,
        confirm at each commit; a SECOND capture run (fresh connection)
        picks up only transactions written after the first drain."""
        from pgsink_spark.streaming.datasource import read_capture
        from pgsink_spark.streaming.live import (
            capture_to_file,
            ensure_publication,
            ensure_slot,
            sync_publication_tables,
        )

        run = uuid.uuid4().hex[:8]
        table = f"pgsink_cap_{run}"
        pub, slot = f"pgsink_cappub_{run}", f"pgsink_capslot_{run}"
        cap = str(tmp_path / "live.capture")
        client = _connect_replication(pg)
        try:
            client._simple_query(
                f"CREATE TABLE {table} (id int primary key, v text)"
            )
            ensure_publication(client, pub)
            sync_publication_tables(client, pub, {("public", table)})
            ensure_slot(client, slot)
            client._simple_query(f"INSERT INTO {table} VALUES (1, 'a')")
            client._simple_query(f"INSERT INTO {table} VALUES (2, 'b')")
            r1 = capture_to_file(client, slot, pub, cap)
            assert r1.transactions == 2
            client.close()  # release the slot for the next tick
            ids = []
            for buf in read_capture(cap):
                d = decode_message(buf)
                if isinstance(d, Insert):
                    ids.append(d.new[0])
            assert ids == [b"1", b"2"]

            # second tick: only the new transaction flows
            writer = _connect_replication(pg)
            writer._simple_query(f"INSERT INTO {table} VALUES (3, 'c')")
            client2 = _connect_replication(pg)
            r2 = capture_to_file(client2, slot, pub, cap)
            assert r2.transactions == 1
            ids2 = []
            for buf in read_capture(cap):
                d = decode_message(buf)
                if isinstance(d, Insert):
                    ids2.append(d.new[0])
            assert ids2 == [b"1", b"2", b"3"]
        finally:
            try:
                cleanup = _connect_replication(pg)
                cleanup._simple_query(f'DROP_REPLICATION_SLOT "{slot}"')
                cleanup._simple_query(f"DROP PUBLICATION IF EXISTS {pub}")
                cleanup._simple_query(f"DROP TABLE IF EXISTS {table}")
            except Exception:
                pass

    def test_cli_capture_then_stream_to_warehouse(self, pg, spark, tmp_path):
        """The COMPLETE reference loop as two CLI ticks against a real
        server: `capture` (connect, converge publication+slot, drain
        WAL) then `stream run --sink warehouse`; the compaction view
        must equal the live table state."""
        import os as _os

        from pgsink_spark.cli import main

        run = uuid.uuid4().hex[:8]
        table = f"pgsink_cli_{run}"
        pub, slot = f"pgsink_clipub_{run}", f"pgsink_clislot_{run}"
        cap = str(tmp_path / "cli.capture")
        root = str(tmp_path / "state")
        seed = _connect_replication(pg)
        try:
            seed._simple_query(
                f"CREATE TABLE {table} (id int primary key, v text)"
            )
            argv = [
                "--root", root, "capture",
                "--host", pg["host"], "--port", str(pg["port"]),
                "--db", pg["database"], "--user", pg["user"],
                "--ssl", "disable",
                "--slot", slot, "--publication", pub,
                "--tables", f"public.{table}",
                "--out", cap,
            ]
            if pg["password"]:
                argv += ["--password", pg["password"]]
            # tick 0 converges slot + publication (nothing to drain yet:
            # the slot only sees WAL written after it exists — pre-slot
            # rows are the import path's job, as in the reference)
            assert main(argv) == 0
            seed._simple_query(
                f"INSERT INTO {table} VALUES (1, 'a'), (2, 'b')"
            )
            seed._simple_query(f"UPDATE {table} SET v = 'b2' WHERE id = 2")
            # tick 1 drains the two transactions into the capture file
            assert main(argv) == 0
            assert main(["--root", root, "stream", "run",
                         "--capture", cap, "--sink", "warehouse"]) == 0

            raw_root = _os.path.join(root, "sink", "warehouse")
            raw = spark.read.option("mergeSchema", "true").parquet(
                _os.path.join(raw_root, f"public_{table}_raw")
            )
            raw.createOrReplaceTempView("cli_live_raw")
            from pgsink_spark.sinks.warehouse import compaction_view_sql

            spark.sql(
                compaction_view_sql("cli_live_view", "cli_live_raw", ["id"])
            )
            got = sorted(
                (r["id"], r["v"])
                for r in spark.table("cli_live_view").collect()
            )
            live_rows, _ = seed._simple_query(
                f"SELECT id, v FROM {table} ORDER BY id"
            )
            assert got == [(int(i), v) for i, v in live_rows]
        finally:
            try:
                cleanup = _connect_replication(pg)
                cleanup._simple_query(f'DROP_REPLICATION_SLOT "{slot}"')
                cleanup._simple_query(f"DROP PUBLICATION IF EXISTS {pub}")
                cleanup._simple_query(f"DROP TABLE IF EXISTS {table}")
            except Exception:
                pass


class TestLiveReconnect:
    def test_capture_with_retry_after_backend_termination(self, pg, tmp_path):
        """Kill a real backend under the drain loop: the first
        connection from the factory is terminated server-side
        (pg_terminate_backend) before it can stream; capture_with_retry
        dials again and drains everything exactly once."""
        from pgsink_spark.streaming.datasource import read_capture
        from pgsink_spark.streaming.live import (
            capture_with_retry,
            ensure_publication,
            ensure_slot,
            sync_publication_tables,
        )

        run = uuid.uuid4().hex[:8]
        table = f"pgsink_kill_{run}"
        pub, slot = f"pgsink_killpub_{run}", f"pgsink_killslot_{run}"
        cap = str(tmp_path / "kill.capture")
        admin = _connect_replication(pg)
        try:
            admin._simple_query(
                f"CREATE TABLE {table} (id int primary key, v text)"
            )
            ensure_publication(admin, pub)
            sync_publication_tables(admin, pub, {("public", table)})
            ensure_slot(admin, slot)
            admin._simple_query(f"INSERT INTO {table} VALUES (1, 'a')")
            admin._simple_query(f"INSERT INTO {table} VALUES (2, 'b')")

            doomed = _connect_replication(pg)
            rows, _ = doomed._simple_query("SELECT pg_backend_pid()")
            pid = rows[0][0]
            admin._simple_query(f"SELECT pg_terminate_backend({pid})")

            clients = [doomed]  # first: the terminated corpse

            def connect():
                if clients:
                    return clients.pop(0)
                return _connect_replication(pg)

            report = capture_with_retry(
                connect, slot, pub, cap, max_reconnects=3
            )
            assert report.transactions == 2
            ids = [
                decode_message(b).new[0]
                for b in read_capture(cap)
                if isinstance(decode_message(b), Insert)
            ]
            assert ids == [b"1", b"2"]
        finally:
            try:
                cleanup = _connect_replication(pg)
                cleanup._simple_query(f'DROP_REPLICATION_SLOT "{slot}"')
                cleanup._simple_query(f"DROP PUBLICATION IF EXISTS {pub}")
                cleanup._simple_query(f"DROP TABLE IF EXISTS {table}")
            except Exception:
                pass


class TestLiveRunTick:
    def test_cli_run_live_ticks(self, pg, spark, tmp_path):
        """`run --pg-host ...` is the WHOLE reference binary against a
        real server in one invocation: live catalog discovery →
        publication reconcile (local + server-side) → slot creation →
        WAL drain → warehouse stream. Tick 1 converges infrastructure;
        DML lands; tick 2 drains it and the compaction view equals the
        live table state."""
        import os as _os

        from pgsink_spark.cli import main
        from pgsink_spark.sinks.warehouse import (
            WarehouseSink,
            compaction_view_sql,
        )

        run = uuid.uuid4().hex[:8]
        table = f"pgsink_tick_{run}"
        pub, slot = f"pgsink_tickpub_{run}", f"pgsink_tickslot_{run}"
        root = str(tmp_path / "state")
        admin = _connect_replication(pg)
        argv = [
            "--root", root, "run",
            "--include", f"public.{table}",
            "--pg-host", pg["host"], "--pg-port", str(pg["port"]),
            "--pg-db", pg["database"], "--pg-user", pg["user"],
            "--pg-ssl", "disable",
            "--slot", slot, "--publication", pub,
        ]
        if pg["password"]:
            argv += ["--pg-password", pg["password"]]
        try:
            admin._simple_query(
                f"CREATE TABLE {table} (id int primary key, v text)"
            )
            # PRE-SLOT rows: only the import path can deliver these
            admin._simple_query(
                f"INSERT INTO {table} VALUES (10, 'pre'), (11, 'pre2')"
            )
            # tick 1: infra converges AND the live keyset backfill
            # imports the pre-slot rows over the walsender channel
            assert main(argv) == 0
            # the import's batches are published: snapshot readers see them
            wh = WarehouseSink(
                spark, _os.path.join(root, "sink", "warehouse")
            )
            assert wh.committed_epoch("public", table, "import") == 0
            assert sorted(
                r["payload"]["id"]
                for r in wh.read_snapshot("public", table).collect()
            ) == [10, 11]
            admin._simple_query(
                f"INSERT INTO {table} VALUES (1, 'a'), (2, 'b')"
            )
            admin._simple_query(f"DELETE FROM {table} WHERE id = 1")
            # CDC must override the imported image of a pre-slot row
            admin._simple_query(
                f"UPDATE {table} SET v = 'pre-upd' WHERE id = 10"
            )
            assert main(argv) == 0  # tick 2: drain + sink

            raw = spark.read.option("mergeSchema", "true").parquet(
                _os.path.join(
                    root, "sink", "warehouse", f"public_{table}_raw"
                )
            )
            raw.createOrReplaceTempView("tick_raw")
            spark.sql(compaction_view_sql("tick_view", "tick_raw", ["id"]))
            got = sorted(
                (r["id"], r["v"])
                for r in spark.table("tick_view").collect()
            )
            live_rows, _ = admin._simple_query(
                f"SELECT id, v FROM {table} ORDER BY id"
            )
            assert (
                got
                == [(int(i), v) for i, v in live_rows]
                == [(2, "b"), (10, "pre-upd"), (11, "pre2")]
            )
            # the published snapshot serves the same state
            wh.read_snapshot("public", table).createOrReplaceTempView(
                "tick_snap_raw"
            )
            spark.sql(
                compaction_view_sql("tick_snap", "tick_snap_raw", ["id"])
            )
            assert sorted(
                (r["id"], r["v"]) for r in spark.table("tick_snap").collect()
            ) == got
        finally:
            try:
                cleanup = _connect_replication(pg)
                cleanup._simple_query(f'DROP_REPLICATION_SLOT "{slot}"')
                cleanup._simple_query(f"DROP PUBLICATION IF EXISTS {pub}")
                cleanup._simple_query(f"DROP TABLE IF EXISTS {table}")
            except Exception:
                pass


class TestLiveImport:
    def test_socket_keyset_import_types_and_pagination(self, pg, spark):
        """The JDBC-free backfill: pk discovery from pg_index, keyset
        pages over the walsender channel, OID-faithful typed parsing
        (int/text/timestamp/numeric/bool), batch count = ceil(n/limit),
        union of batches = the exact table."""
        from pgsink_spark.imports.live_import import (
            discover_primary_key,
            import_table,
            table_columns,
        )

        run = uuid.uuid4().hex[:8]
        table = f"pgsink_imp_{run}"
        client = _connect_replication(pg)
        try:
            client._simple_query(
                f"CREATE TABLE {table} (id int primary key, msg text, "
                f"seen timestamptz, amount numeric(10,2), ok boolean)"
            )
            client._simple_query(
                f"INSERT INTO {table} "
                f"SELECT g, 'm' || g, "
                f"TIMESTAMPTZ '2024-01-01 00:00:00+00' + g * INTERVAL '1 minute', "
                f"g * 1.25, g % 2 = 0 "
                f"FROM generate_series(1, 2500) g"
            )
            assert discover_primary_key(client, "public", table) == ["id"]
            cols = [c.name for c in table_columns(client, "public", table)]
            assert cols == ["id", "msg", "seen", "amount", "ok"]

            batches = []

            def on_batch(env, payload, pk_cols):
                assert pk_cols == ["id"]
                batches.append(env.select("after.*").collect())

            res = import_table(
                spark, client, "public", table, on_batch, limit=1000
            )
            assert (res.rows, res.batches) == (2500, 3)
            rows = [r for b in batches for r in b]
            assert len(rows) == 2500
            byid = {r["id"]: r for r in rows}
            import datetime as _dt
            from decimal import Decimal

            r7 = byid[7]
            assert r7["msg"] == "m7"
            assert r7["amount"] == Decimal("8.75")
            assert r7["ok"] is False
            # session tz is UTC; Spark collects timestamptz as naive UTC
            assert r7["seen"] == _dt.datetime(2024, 1, 1, 0, 7)
            assert sorted(byid) == list(range(1, 2501))
        finally:
            try:
                client._simple_query(f"DROP TABLE IF EXISTS {table}")
            except Exception:
                pass

    def test_composite_pk_import_with_hostile_names_and_values(
        self, pg, spark
    ):
        """Composite-PK live import (verdict r4 item 5) + the quoting
        fixes (ADVICE r4): a MIXED-CASE table with a two-column key
        whose second column is text CONTAINING SINGLE QUOTES. Row-value
        keyset cursors page it; identifiers round-trip through
        double-quoting; cursor literals escape the embedded quote; and
        envelope sequence numbers run continuously across batches."""
        from pgsink_spark.imports.live_import import (
            discover_primary_key,
            import_table,
        )

        run = uuid.uuid4().hex[:8]
        table = f"Pgsink_Comp_{run}"  # mixed case → must be quoted
        client = _connect_replication(pg)
        try:
            client._simple_query(
                f'CREATE TABLE "{table}" (tenant int, '
                f'name text, val int, PRIMARY KEY (tenant, name))'
            )
            client._simple_query(
                f'INSERT INTO "{table}" '
                f"SELECT g / 500, 'O''name-' || (g % 500), g "
                f"FROM generate_series(0, 2499) g"
            )
            assert discover_primary_key(client, "public", table) == [
                "tenant",
                "name",
            ]
            seqs = []
            rows = []

            def on_batch(env, payload, pk_cols):
                assert pk_cols == ["tenant", "name"]
                for r in env.collect():
                    seqs.append(r["sequence"])
                    rows.append(
                        (r["after"]["tenant"], r["after"]["name"],
                         r["after"]["val"])
                    )

            res = import_table(
                spark, client, "public", table, on_batch, limit=1000
            )
            assert (res.rows, res.batches) == (2500, 3)
            assert res.pk == "tenant,name"
            # sequences are a continuous total order across batches
            assert sorted(seqs) == list(range(2500))
            # union of batches = the exact table, no skip/dup at the
            # quote-bearing cursor boundaries
            assert len(rows) == 2500 and len(set(rows)) == 2500
            vals = sorted(v for _, _, v in rows)
            assert vals == list(range(2500))
        finally:
            try:
                client._simple_query(f'DROP TABLE IF EXISTS "{table}"')
            except Exception:
                pass


class TestLiveMultiTable:
    def test_two_tables_one_slot_route_to_two_raw_tables(
        self, pg, spark, tmp_path
    ):
        """One publication, one slot, interleaved DML on TWO tables:
        the capture carries both relations and `stream run --sink
        warehouse` demultiplexes them into separate typed raw tables,
        each compaction view matching its live table (A8 router
        semantics over a real multiplexed WAL)."""
        import os as _os

        from pgsink_spark.cli import main
        from pgsink_spark.sinks.warehouse import compaction_view_sql

        run = uuid.uuid4().hex[:8]
        t1, t2 = f"pgsink_ma_{run}", f"pgsink_mb_{run}"
        pub, slot = f"pgsink_mtpub_{run}", f"pgsink_mtslot_{run}"
        cap = str(tmp_path / "multi.capture")
        root = str(tmp_path / "state")
        admin = _connect_replication(pg)
        argv = [
            "--root", root, "capture",
            "--host", pg["host"], "--port", str(pg["port"]),
            "--db", pg["database"], "--user", pg["user"],
            "--ssl", "disable",
            "--slot", slot, "--publication", pub,
            "--tables", f"public.{t1},public.{t2}",
            "--out", cap,
        ]
        if pg["password"]:
            argv += ["--password", pg["password"]]
        try:
            admin._simple_query(
                f"CREATE TABLE {t1} (id int primary key, v text)"
            )
            admin._simple_query(
                f"CREATE TABLE {t2} (k int primary key, amount numeric(8,2))"
            )
            assert main(argv) == 0  # converge infra
            # interleaved txns across both tables
            admin._simple_query(f"INSERT INTO {t1} VALUES (1, 'a')")
            admin._simple_query(f"INSERT INTO {t2} VALUES (10, 1.50)")
            admin._simple_query(f"INSERT INTO {t1} VALUES (2, 'b')")
            admin._simple_query(f"UPDATE {t2} SET amount = 2.75 WHERE k = 10")
            assert main(argv) == 0  # drain both relations
            assert main(["--root", root, "stream", "run",
                         "--capture", cap, "--sink", "warehouse"]) == 0

            wh = _os.path.join(root, "sink", "warehouse")
            raw1 = spark.read.option("mergeSchema", "true").parquet(
                _os.path.join(wh, f"public_{t1}_raw")
            )
            raw1.createOrReplaceTempView("mt_raw1")
            spark.sql(compaction_view_sql("mt_v1", "mt_raw1", ["id"]))
            assert sorted(
                (r["id"], r["v"]) for r in spark.table("mt_v1").collect()
            ) == [(1, "a"), (2, "b")]

            raw2 = spark.read.option("mergeSchema", "true").parquet(
                _os.path.join(wh, f"public_{t2}_raw")
            )
            raw2.createOrReplaceTempView("mt_raw2")
            spark.sql(compaction_view_sql("mt_v2", "mt_raw2", ["k"]))
            rows2 = spark.table("mt_v2").collect()
            # generic numeric lands as wide decimal; compare by value
            assert [(r["k"], float(r["amount"])) for r in rows2] == [
                (10, 2.75)
            ]
        finally:
            try:
                cleanup = _connect_replication(pg)
                cleanup._simple_query(f'DROP_REPLICATION_SLOT "{slot}"')
                cleanup._simple_query(f"DROP PUBLICATION IF EXISTS {pub}")
                cleanup._simple_query(f"DROP TABLE IF EXISTS {t1}")
                cleanup._simple_query(f"DROP TABLE IF EXISTS {t2}")
            except Exception:
                pass


class TestLiveStreamingSource:
    def test_pgoutput_live_stream_end_to_end_with_restart(
        self, pg, spark, tmp_path
    ):
        """format("pgoutput-live"): a REAL Structured Streaming query
        fed by the live walsender — rows inserted while the query runs
        arrive in micro-batches; a restart from the checkpoint
        redelivers nothing and picks up later inserts."""
        import time as _time

        from pgsink_spark.streaming.live_source import register_live

        run = uuid.uuid4().hex[:8]
        table = f"pgsink_live_{run}"
        pub, slot = f"pgsink_lspub_{run}", f"pgsink_lsslot_{run}"
        spool = str(tmp_path / "live.spool")
        ckpt = str(tmp_path / "ckpt")
        admin = _connect_replication(pg)
        register_live(spark)

        def start(sink_rows):
            def sink(df, _bid):
                sink_rows.extend(df.collect())

            reader = (
                spark.readStream.format("pgoutput-live")
                .option("pghost", pg["host"])
                .option("pgport", str(pg["port"]))
                .option("pgdb", pg["database"])
                .option("pguser", pg["user"])
                .option("pgssl", "disable")
                .option("slot", slot)
                .option("publication", pub)
                .option("tables", f"public.{table}")
                .option("path", spool)
            )
            if pg["password"]:
                reader = reader.option("pgpassword", pg["password"])
            return (
                reader.load()
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="500 milliseconds")
                .start()
            )

        def wait_for(cond, timeout_s=120.0):
            deadline = _time.time() + timeout_s
            while _time.time() < deadline:
                if cond():
                    return True
                _time.sleep(0.25)
            return False

        try:
            admin._simple_query(
                f"CREATE TABLE {table} (id int primary key, v text)"
            )
            rows: list = []
            q = start(rows)
            try:
                # the source provisions slot+publication asynchronously
                # on its first poll; rows inserted BEFORE the slot
                # exists are the import path's job, so wait for it
                assert wait_for(
                    lambda: admin._simple_query(
                        "SELECT 1 FROM pg_replication_slots "
                        f"WHERE slot_name = '{slot}'"
                    )[0]
                ), "slot was never provisioned"
                # rows inserted while the stream runs arrive live
                admin._simple_query(f"INSERT INTO {table} VALUES (1, 'a')")
                admin._simple_query(f"INSERT INTO {table} VALUES (2, 'b')")
                assert wait_for(lambda: len(rows) >= 2)
                assert [(r["after"]["id"], r["after"]["v"]) for r in rows[:2]] == [
                    ("1", "a"),
                    ("2", "b"),
                ]
            finally:
                q.stop()
                q.awaitTermination()

            # restart: later inserts flow. The SOURCE's contract is
            # at-least-once (exactly-once is the warehouse sink's epoch
            # ledger): if stop() raced the final offset commit, a
            # suffix of the first run's rows may legally REPLAY — so
            # require ('3','c') to arrive, and anything before it must
            # be a clean suffix replay of run 1 (no gaps, no
            # corruption, no out-of-order rows).
            rows2: list = []
            q2 = start(rows2)
            try:
                admin._simple_query(f"INSERT INTO {table} VALUES (3, 'c')")
                assert wait_for(
                    lambda: ("3", "c")
                    in [
                        (r["after"]["id"], r["after"]["v"]) for r in rows2
                    ]
                )
                got2 = [(r["after"]["id"], r["after"]["v"]) for r in rows2]
                assert got2[-1] == ("3", "c")
                replay = got2[:-1]
                run1 = [("1", "a"), ("2", "b")]
                assert replay == run1[len(run1) - len(replay):], got2
            finally:
                q2.stop()
                q2.awaitTermination()
        finally:
            try:
                cleanup = _connect_replication(pg)
                cleanup._simple_query(f'DROP_REPLICATION_SLOT "{slot}"')
                cleanup._simple_query(f"DROP PUBLICATION IF EXISTS {pub}")
                cleanup._simple_query(f"DROP TABLE IF EXISTS {table}")
            except Exception:
                pass


class TestLiveStreamToWarehouse:
    def test_live_stream_feeds_warehouse_continuously(
        self, pg, spark, tmp_path
    ):
        """The crown composition: format("pgoutput-live") →
        foreachBatch → typed WarehouseSink (epoch exactly-once,
        stream-scoped ledger) while DML happens on the live server;
        the compaction view converges to the server's table state."""
        import time as _time

        from pgsink_spark.changelog.envelope import cast_envelope
        from pgsink_spark.changelog.registry import entry_from_relation
        from pgsink_spark.sinks.warehouse import WarehouseSink
        from pgsink_spark.streaming.datasource import read_capture
        from pgsink_spark.streaming.decoder import Relation as _Rel
        from pgsink_spark.streaming.live_source import register_live

        run = uuid.uuid4().hex[:8]
        table = f"pgsink_ws_{run}"
        pub, slot = f"pgsink_wspub_{run}", f"pgsink_wsslot_{run}"
        spool = str(tmp_path / "ws.spool")
        ckpt = str(tmp_path / "ckpt")
        admin = _connect_replication(pg)
        register_live(spark)
        wh = WarehouseSink(spark, str(tmp_path / "wh"))
        state = {"entry": None}

        def sink(df, batch_id):
            import os as _os

            if state["entry"] is None:
                if not _os.path.exists(spool):
                    return  # nothing captured yet
                # schema discovery from the spool's relation messages
                for buf in read_capture(spool):
                    msg = decode_message(buf)
                    if isinstance(msg, _Rel) and msg.name == table:
                        e = entry_from_relation(msg)
                        wh.handle_schema(e)
                        state["entry"] = e
            e = state["entry"]
            if e is None:
                return
            part = df.where(
                (df["namespace"] == e.namespace) & (df["name"] == e.name)
            )
            if wh.insert(
                cast_envelope(part, e.payload),
                e.namespace,
                e.name,
                epoch=batch_id,
                stream_id="live-ws",
            ).count:
                wh.commit_manifest(
                    e.namespace, e.name, epoch=batch_id, stream_id="live-ws"
                )

        def wait_for(cond, timeout_s=120.0):
            deadline = _time.time() + timeout_s
            while _time.time() < deadline:
                if cond():
                    return True
                _time.sleep(0.3)
            return False

        def view_state():
            try:
                v = wh.install_view(e_ns, table)
                return sorted(
                    (r["id"], r["v"]) for r in spark.table(v).collect()
                )
            except Exception:
                return None

        e_ns = "public"
        try:
            admin._simple_query(
                f"CREATE TABLE {table} (id int primary key, v text)"
            )
            reader = (
                spark.readStream.format("pgoutput-live")
                .option("pghost", pg["host"])
                .option("pgport", str(pg["port"]))
                .option("pgdb", pg["database"])
                .option("pguser", pg["user"])
                .option("pgssl", "disable")
                .option("slot", slot)
                .option("publication", pub)
                .option("tables", f"public.{table}")
                .option("path", spool)
            )
            if pg["password"]:
                reader = reader.option("pgpassword", pg["password"])
            q = (
                reader.load()
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="500 milliseconds")
                .start()
            )
            try:
                assert wait_for(
                    lambda: admin._simple_query(
                        "SELECT 1 FROM pg_replication_slots "
                        f"WHERE slot_name = '{slot}'"
                    )[0]
                )
                admin._simple_query(
                    f"INSERT INTO {table} VALUES (1, 'a'), (2, 'b')"
                )
                admin._simple_query(
                    f"UPDATE {table} SET v = 'b2' WHERE id = 2"
                )
                admin._simple_query(f"DELETE FROM {table} WHERE id = 1")
                assert wait_for(
                    lambda: view_state() == [(2, "b2")]
                ), f"view never converged: {view_state()}"
            finally:
                q.stop()
                q.awaitTermination()
        finally:
            try:
                cleanup = _connect_replication(pg)
                cleanup._simple_query(f'DROP_REPLICATION_SLOT "{slot}"')
                cleanup._simple_query(f"DROP PUBLICATION IF EXISTS {pub}")
                cleanup._simple_query(f"DROP TABLE IF EXISTS {table}")
            except Exception:
                pass


class TestLiveSchemaEvolution:
    def test_alter_table_between_ticks_flows_to_warehouse(
        self, pg, spark, tmp_path
    ):
        """Live ALTER TABLE ADD COLUMN between two capture ticks: the
        second tick's relation message carries the new shape, the
        warehouse raw table holds both file generations, and the
        merged compaction view serves old rows with NULL and new rows
        with values — the live twin of test_schema_evolution."""
        import os as _os

        from pgsink_spark.cli import main
        from pgsink_spark.sinks.warehouse import compaction_view_sql

        run = uuid.uuid4().hex[:8]
        table = f"pgsink_evo_{run}"
        pub, slot = f"pgsink_evopub_{run}", f"pgsink_evoslot_{run}"
        cap = str(tmp_path / "evo.capture")
        root = str(tmp_path / "state")
        admin = _connect_replication(pg)
        argv = [
            "--root", root, "capture",
            "--host", pg["host"], "--port", str(pg["port"]),
            "--db", pg["database"], "--user", pg["user"],
            "--ssl", "disable",
            "--slot", slot, "--publication", pub,
            "--tables", f"public.{table}",
            "--out", cap,
        ]
        if pg["password"]:
            argv += ["--password", pg["password"]]
        try:
            admin._simple_query(
                f"CREATE TABLE {table} (id int primary key, v text)"
            )
            assert main(argv) == 0  # infra
            admin._simple_query(f"INSERT INTO {table} VALUES (1, 'a')")
            assert main(argv) == 0  # tick 1: old shape
            admin._simple_query(
                f"ALTER TABLE {table} ADD COLUMN extra int"
            )
            admin._simple_query(f"INSERT INTO {table} VALUES (2, 'b', 7)")
            assert main(argv) == 0  # tick 2: new shape
            assert main(["--root", root, "stream", "run",
                         "--capture", cap, "--sink", "warehouse"]) == 0

            raw = spark.read.option("mergeSchema", "true").parquet(
                _os.path.join(
                    root, "sink", "warehouse", f"public_{table}_raw"
                )
            )
            raw.createOrReplaceTempView("evo_raw")
            spark.sql(compaction_view_sql("evo_view", "evo_raw", ["id"]))
            got = sorted(
                (r["id"], r["v"], r["extra"])
                for r in spark.table("evo_view").collect()
            )
            assert got == [(1, "a", None), (2, "b", 7)]
        finally:
            try:
                cleanup = _connect_replication(pg)
                cleanup._simple_query(f'DROP_REPLICATION_SLOT "{slot}"')
                cleanup._simple_query(f"DROP PUBLICATION IF EXISTS {pub}")
                cleanup._simple_query(f"DROP TABLE IF EXISTS {table}")
            except Exception:
                pass
