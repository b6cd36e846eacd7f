"""Live-Postgres operational loop: slot/publication management and
availableNow WAL capture over the socket client.

This is the glue that turns the wire client (streaming/replication.py)
into the reference binary's operational surface
(pkg/subscription/manager.go — publication reconciliation against the
live catalog; pkg/subscription/subscription.go:80-111 — slot create +
START_REPLICATION; cmd/pgsink/cmd/app.go — the main loop):

- ``ensure_publication`` / ``sync_publication_tables`` converge the
  server-side publication to a desired table set with CREATE/ALTER
  PUBLICATION (the manager's reconcile, executed over the walsender
  connection's simple-query channel — no driver library needed);
- ``ensure_slot`` creates the permanent logical slot idempotently
  (duplicate → no-op, the reference's slot-exists handling);
- ``provision`` runs those three on one session: the one way the
  capture CLI and the live streaming source converge a server;
- ``capture_to_file`` drains the slot into the repo's capture-file
  format with availableNow semantics: consume until the WAL position
  observed at connect time is reached, appending one commit-atomic
  group of pgoutput payloads per transaction, confirming the flush
  LSN after every append (so a crash never loses acked WAL — the
  capture file IS the durable cursor, same contract as the
  DSv2 source's OffsetStore).

Downstream is unchanged: the capture file feeds the Spark pgoutput
streaming source / `stream run --sink warehouse` exactly as fixture
captures do — this module only replaces the fixture with a live
socket. Every function here is exercised against a REAL ephemeral
PostgreSQL in tests/test_live_pg.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pgsink_spark.sources.jdbc import quote_ident, sql_literal
from pgsink_spark.streaming.datasource import append_capture
from pgsink_spark.streaming.decoder import Commit, decode_message
from pgsink_spark.streaming.replication import (
    Keepalive,
    ReplicationClient,
    ReplicationError,
    XLogData,
    parse_lsn,
)


def ensure_slot(client: ReplicationClient, slot: str) -> bool:
    """Create the permanent logical slot; False when it already existed
    (SQLSTATE 42710 — the reference treats that as converged)."""
    try:
        client._simple_query(
            f'CREATE_REPLICATION_SLOT "{slot}" LOGICAL pgoutput'
        )
        return True
    except ReplicationError as e:
        if "42710" in str(e) or "already exists" in str(e):
            return False
        raise


def list_tables(
    client: ReplicationClient, schemas: tuple[str, ...] = ("public",)
) -> list[tuple[str, str]]:
    """Live catalog discovery: base tables in the given schemas (the
    reference's import-manager catalog query, run over the walsender's
    simple-query channel)."""
    in_list = ", ".join(sql_literal(s) for s in schemas)
    rows, _ = client._simple_query(
        "SELECT table_schema, table_name FROM information_schema.tables "
        f"WHERE table_schema IN ({in_list}) AND table_type = 'BASE TABLE' "
        "ORDER BY 1, 2"
    )
    return [(r[0], r[1]) for r in rows]


def publication_tables(
    client: ReplicationClient, publication: str
) -> set[tuple[str, str]]:
    """Current (schema, table) membership from pg_publication_tables."""
    rows, _cols = client._simple_query(
        "SELECT schemaname, tablename FROM pg_publication_tables "
        f"WHERE pubname = {sql_literal(publication)}"
    )
    return {(r[0], r[1]) for r in rows}


def ensure_publication(client: ReplicationClient, publication: str) -> bool:
    """Create the publication (empty) if missing; False when present."""
    rows, _ = client._simple_query(
        f"SELECT 1 FROM pg_publication WHERE pubname = {sql_literal(publication)}"
    )
    if rows:
        return False
    # FOR TABLE with no list isn't valid SQL — create empty and ALTER in
    client._simple_query(f"CREATE PUBLICATION {quote_ident(publication)}")
    return True


def sync_publication_tables(
    client: ReplicationClient,
    publication: str,
    desired: set[tuple[str, str]],
) -> tuple[set[tuple[str, str]], set[tuple[str, str]]]:
    """Converge the live publication to ``desired`` via ALTER
    PUBLICATION ADD/DROP TABLE; returns (added, removed) — the live
    twin of control/publication.reconcile's anti-join diffs."""
    current = publication_tables(client, publication)
    added = desired - current
    removed = current - desired
    # identifiers come from the live catalog — mixed-case or punctuated
    # names must round-trip through double-quoting, not break the ALTER
    qpub = quote_ident(publication)
    for ns, name in sorted(added):
        client._simple_query(
            f"ALTER PUBLICATION {qpub} ADD TABLE "
            f"{quote_ident(ns)}.{quote_ident(name)}"
        )
    for ns, name in sorted(removed):
        client._simple_query(
            f"ALTER PUBLICATION {qpub} DROP TABLE "
            f"{quote_ident(ns)}.{quote_ident(name)}"
        )
    return added, removed


def provision(connect, slot: str, publication: str, tables: str | None = None):
    """Converge the server for a capture on one ``connect()`` session:
    create the publication if missing, sync its table set to
    ``tables`` ("ns.t1,ns.t2"; None or empty leaves it as it is) and
    create the slot if missing. Returns (publication created, (added,
    removed) or None when not synced, slot created)."""
    client = connect()
    try:
        created_pub = ensure_publication(client, publication)
        changes = None
        if tables:
            desired = {tuple(t.split(".", 1)) for t in tables.split(",") if t}
            changes = sync_publication_tables(client, publication, desired)
        return created_pub, changes, ensure_slot(client, slot)
    finally:
        client.close()


@dataclass(frozen=True)
class CaptureReport:
    transactions: int
    messages: int
    last_commit_lsn: int


def capture_with_retry(
    connect,
    slot: str,
    publication: str,
    out_path: str,
    max_txns: int | None = None,
    max_reconnects: int = 5,
    backoff_s: float = 0.2,
) -> CaptureReport:
    """Reconnecting drain loop: run ``capture_to_file`` and, when the
    connection drops mid-stream (killed walsender, network blip, failed
    primary), dial again via ``connect()`` and resume FROM THE SLOT'S
    CONFIRMED LSN — the reference's reconnect posture
    (pkg/subscription stream restart). Commit-atomic appends +
    confirm-after-append mean a retry can neither lose an acked
    transaction nor write a duplicate one: everything before the last
    confirm is on disk exactly once, everything after it replays.

    ``connect`` is a zero-arg callable returning a fresh connected
    ``ReplicationClient``. Counts aggregate across attempts via the
    per-commit callback, so the report reflects actual captured work
    even when an attempt dies midway.
    """
    import time as _time

    totals = {"txns": 0, "msgs": 0, "last": 0}

    def on_commit(n_msgs: int, commit_lsn: int) -> None:
        totals["txns"] += 1
        totals["msgs"] += n_msgs
        totals["last"] = commit_lsn

    attempts = 0
    while True:
        client = connect()
        try:
            remaining = (
                None if max_txns is None else max_txns - totals["txns"]
            )
            if remaining is not None and remaining <= 0:
                break
            capture_to_file(
                client,
                slot,
                publication,
                out_path,
                max_txns=remaining,
                on_commit=on_commit,
            )
            break  # clean availableNow completion
        except (ReplicationError, OSError):
            attempts += 1
            if attempts > max_reconnects:
                raise
            _time.sleep(backoff_s * attempts)
        finally:
            client.close()
    return CaptureReport(totals["txns"], totals["msgs"], totals["last"])


def capture_to_file(
    client: ReplicationClient,
    slot: str,
    publication: str,
    out_path: str,
    max_txns: int | None = None,
    proto_version: int = 1,
    on_commit=None,
) -> CaptureReport:
    """availableNow drain: stream the slot into ``out_path`` until the
    WAL position observed at connect time is reached (or ``max_txns``
    commits), then stop.

    Durability contract: payloads are buffered per transaction and
    appended ATOMICALLY at each Commit (a crash mid-transaction leaves
    the capture at the previous commit boundary — the decoder never
    sees a torn transaction), and the flush LSN is confirmed to the
    server only AFTER the append returns, so acked WAL is always on
    disk. Restarting simply resumes from the slot's confirmed LSN —
    the same at-least-once + read-time-dedup posture as the reference.
    """
    import time as _time

    # the capture file is the durable cursor: a crash BETWEEN append
    # and confirm makes the server resend the last transaction, so on
    # (re)start we read the file's highest commit LSN and drop any
    # replayed transaction at or below it — appends stay exactly-once
    # even though delivery is at-least-once
    from pgsink_spark.streaming.datasource import CaptureIndex

    already = CaptureIndex(out_path).refresh()

    target = parse_lsn(client.identify_system()["xlogpos"])
    # a just-dropped previous holder's walsender may still be winding
    # down (SQLSTATE 55006 "slot is active") — retry briefly, the same
    # grace the reference's reconnect loop gives the server
    for attempt in range(25):
        try:
            client.start_replication(
                slot, publication, proto_version=proto_version
            )
            break
        except ReplicationError as e:
            if "55006" not in str(e) or attempt == 24:
                raise
            _time.sleep(0.2)
    txns = 0
    messages = 0
    last_commit = 0
    pending: list[bytes] = []
    for msg in client.messages():
        if isinstance(msg, Keepalive):
            if msg.wal_end >= target and not pending:
                break  # caught up at a transaction boundary
            continue
        if isinstance(msg, XLogData):
            pending.append(msg.payload)
            decoded = decode_message(msg.payload)
            if isinstance(decoded, Commit):
                if decoded.commit_lsn <= already:
                    # replay of a transaction already on disk (crashed
                    # in the append→confirm window): re-confirm, don't
                    # re-append, don't re-count
                    pending = []
                    client.flush_lsn = msg.wal_end
                    client.send_standby_status()
                    if msg.wal_end >= target:
                        break
                    continue
                append_capture(out_path, pending)
                n_pending = len(pending)
                messages += n_pending
                pending = []
                txns += 1
                last_commit = decoded.commit_lsn
                client.flush_lsn = msg.wal_end
                # count as soon as the append is durable — the confirm
                # send can die on a dropped connection, and the work is
                # already on disk (the retry will skip, not redo, it)
                if on_commit is not None:
                    on_commit(n_pending, decoded.commit_lsn)
                client.send_standby_status()
                if max_txns is not None and txns >= max_txns:
                    break
                if msg.wal_end >= target:
                    break
    return CaptureReport(txns, messages, last_commit)
