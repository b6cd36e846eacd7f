"""Postgres streaming-replication client (pgoutput over the wire).

Implements the frontend/backend v3 protocol subset the reference's
subscription uses (pkg/subscription/subscription.go:80-111,
stream.go:78-232): startup in replication mode, ``IDENTIFY_SYSTEM``,
``START_REPLICATION SLOT ... LOGICAL``, then the CopyBoth receive loop
demuxing XLogData (``'w'``) from primary keepalives (``'k'``) and
replying with standby status updates (``'r'``) that carry the confirmed
flush LSN — the heartbeat that releases WAL upstream
(stream.go:111-134; sent at least every ``heartbeat_interval``,
stream.go:27-28).

This is a pure-socket implementation (no driver dependency): the client
only needs an object with ``sendall``/``recv``, so tests exercise the
full keepalive/status protocol against an in-process fake server, and
production points the same code at a real Postgres
(``wal_level=logical``). Auth support: trust, cleartext password, and
SCRAM-SHA-256 (streaming/scram.py — the default on stock PG 14+);
``start_tls`` performs the SSLRequest dance and wraps the socket so
managed Postgres (TLS-required) connects with the same client.
"""

from __future__ import annotations

import ssl as _ssl
import struct
import time
from dataclasses import dataclass
from typing import Callable, Iterator

from pgsink_spark.streaming.scram import MECHANISM, ScramClient, ScramError

PROTOCOL_V3 = 196608  # 3 << 16
PG_EPOCH_US = 946_684_800_000_000  # 2000-01-01 in unix micros


def lsn_to_str(lsn: int) -> str:
    """Int LSN → Postgres 'X/Y' text form."""
    return f"{lsn >> 32:X}/{lsn & 0xFFFFFFFF:X}"


def parse_lsn(text: str) -> int:
    hi, lo = text.split("/")
    return (int(hi, 16) << 32) | int(lo, 16)


def pg_clock_us(now_s: float) -> int:
    """Unix seconds → microseconds since the 2000-01-01 Postgres epoch."""
    return int(now_s * 1_000_000) - PG_EPOCH_US


@dataclass(frozen=True)
class XLogData:
    wal_start: int
    wal_end: int
    server_clock: int
    payload: bytes


@dataclass(frozen=True)
class Keepalive:
    wal_end: int
    server_clock: int
    reply_requested: bool


class ReplicationError(RuntimeError):
    pass


SSL_REQUEST_CODE = 80877103  # pg protocol magic for SSLRequest


def start_tls(
    sock,
    context: _ssl.SSLContext | None = None,
    server_hostname: str | None = None,
    required: bool = True,
):
    """Postgres TLS negotiation: send SSLRequest, read the one-byte
    verdict, and wrap the socket on 'S'. Returns the (possibly wrapped)
    socket — pass it to ``ReplicationClient`` BEFORE ``connect()``.

    ``required=True`` raises if the server refuses TLS ('N'), matching
    ``sslmode=require``; ``required=False`` degrades to plaintext like
    ``sslmode=prefer``. The default context verifies the system trust
    store; pass a custom context for self-signed/internal CAs.
    """
    sock.sendall(struct.pack(">ii", 8, SSL_REQUEST_CODE))
    verdict = b""
    while not verdict:
        verdict = sock.recv(1)
    if verdict == b"S":
        ctx = context or _ssl.create_default_context()
        return ctx.wrap_socket(sock, server_hostname=server_hostname)
    if verdict == b"N":
        if required:
            raise ReplicationError("server refused TLS (SSLRequest → 'N')")
        return sock
    raise ReplicationError(f"unexpected SSLRequest verdict {verdict!r}")


class _Conn:
    """Framed reads/writes over a socket-like object."""

    def __init__(self, sock):
        self.sock = sock
        self._buf = b""

    def _read_exact(self, n: int) -> bytes:
        while len(self._buf) < n:
            chunk = self.sock.recv(65536)
            if not chunk:
                raise ReplicationError("connection closed by server")
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def read_message(self) -> tuple[str, bytes]:
        """One backend message: (type char, payload)."""
        head = self._read_exact(5)
        kind = chr(head[0])
        (length,) = struct.unpack(">i", head[1:5])
        return kind, self._read_exact(length - 4)

    def send_startup(self, params: dict[str, str]) -> None:
        body = struct.pack(">i", PROTOCOL_V3)
        for k, v in params.items():
            body += k.encode() + b"\x00" + v.encode() + b"\x00"
        body += b"\x00"
        self.sock.sendall(struct.pack(">i", len(body) + 4) + body)

    def send_message(self, kind: str, payload: bytes) -> None:
        self.sock.sendall(
            kind.encode() + struct.pack(">i", len(payload) + 4) + payload
        )


def _error_fields(payload: bytes) -> str:
    parts = []
    for field in payload.split(b"\x00"):
        if len(field) > 1:
            parts.append(f"{chr(field[0])}={field[1:].decode(errors='replace')}")
    return "; ".join(parts)


class ReplicationClient:
    """START_REPLICATION consumer with keepalive/standby-status handling.

    ``flush_lsn`` is the confirmed-flush watermark reported to the
    server in every standby status update; the pipeline advances it
    after each sink flush (the ack path of
    pkg/sinks/generic/sink.go:160-194 → stream.Confirm →
    SendStandbyStatusUpdate).
    """

    def __init__(
        self,
        sock,
        database: str,
        user: str,
        password: str | None = None,
        heartbeat_interval_s: float = 30.0,
        clock: Callable[[], float] = time.monotonic,
        wall_clock: Callable[[], float] = time.time,
        scram_nonce: str | None = None,  # test seam; None → random
    ):
        self._conn = _Conn(sock)
        self._nonce = scram_nonce
        self.database = database
        self.user = user
        self.password = password
        self.heartbeat_interval_s = heartbeat_interval_s
        self._clock = clock
        self._wall_clock = wall_clock
        self._last_status_at: float | None = None
        self.flush_lsn: int = 0
        self.status_updates_sent = 0

    # -- session setup ---------------------------------------------------

    def connect(self) -> None:
        """Startup in replication mode; wait for ReadyForQuery."""
        self._conn.send_startup(
            {
                "user": self.user,
                "database": self.database,
                # 'database' (not 'true') selects *logical* replication
                "replication": "database",
            }
        )
        scram: ScramClient | None = None
        while True:
            kind, payload = self._conn.read_message()
            if kind == "R":
                (code,) = struct.unpack(">i", payload[:4])
                if code == 0:
                    continue  # AuthenticationOk
                if code == 3:  # cleartext password
                    if self.password is None:
                        raise ReplicationError("server wants a password")
                    self._conn.send_message(
                        "p", self.password.encode() + b"\x00"
                    )
                    continue
                if code == 10:  # AuthenticationSASL: mechanism list
                    if self.password is None:
                        raise ReplicationError("server wants a password")
                    mechs = [
                        m.decode()
                        for m in payload[4:].split(b"\x00")
                        if m
                    ]
                    if MECHANISM not in mechs:
                        raise ReplicationError(
                            f"no common SASL mechanism (server: {mechs})"
                        )
                    scram = ScramClient(self.password, nonce=self._nonce)
                    first = scram.client_first()
                    self._conn.send_message(
                        "p",
                        MECHANISM.encode() + b"\x00"
                        + struct.pack(">i", len(first)) + first,
                    )
                    continue
                if code == 11:  # AuthenticationSASLContinue: server-first
                    if scram is None:
                        raise ReplicationError("SASLContinue before SASL")
                    try:
                        self._conn.send_message(
                            "p", scram.client_final(payload[4:])
                        )
                    except ScramError as e:
                        raise ReplicationError(str(e)) from e
                    continue
                if code == 12:  # AuthenticationSASLFinal: server signature
                    if scram is None:
                        raise ReplicationError("SASLFinal before SASL")
                    try:
                        scram.verify_server_final(payload[4:])
                    except ScramError as e:
                        raise ReplicationError(str(e)) from e
                    continue
                raise ReplicationError(f"unsupported auth method {code}")
            if kind in ("S", "K", "N"):  # ParameterStatus/KeyData/Notice
                continue
            if kind == "Z":  # ReadyForQuery
                return
            if kind == "E":
                raise ReplicationError(_error_fields(payload))
            raise ReplicationError(f"unexpected startup message {kind!r}")

    def identify_system(self) -> dict[str, str]:
        """IDENTIFY_SYSTEM → {systemid, timeline, xlogpos, dbname}."""
        rows, cols = self._simple_query("IDENTIFY_SYSTEM")
        return dict(zip(cols, rows[0]))

    def _simple_query(self, sql: str) -> tuple[list[tuple], list[str]]:
        self._conn.send_message("Q", sql.encode() + b"\x00")
        cols: list[str] = []
        rows: list[tuple] = []
        while True:
            kind, payload = self._conn.read_message()
            if kind == "T":  # RowDescription
                (n,) = struct.unpack(">h", payload[:2])
                pos = 2
                cols = []
                for _ in range(n):
                    end = payload.index(b"\x00", pos)
                    cols.append(payload[pos:end].decode())
                    pos = end + 1 + 18  # fixed per-field trailer
            elif kind == "D":  # DataRow
                (n,) = struct.unpack(">h", payload[:2])
                pos = 2
                vals = []
                for _ in range(n):
                    (ln,) = struct.unpack(">i", payload[pos : pos + 4])
                    pos += 4
                    if ln == -1:
                        vals.append(None)
                    else:
                        vals.append(payload[pos : pos + ln].decode())
                        pos += ln
                rows.append(tuple(vals))
            elif kind == "C":  # CommandComplete
                continue
            elif kind == "Z":
                return rows, cols
            elif kind == "E":
                # consume through ReadyForQuery before raising — the
                # backend always finishes the error cycle with Z, and
                # leaving it unread desyncs the NEXT query (it would
                # see the stale Z and return empty). Found live: a
                # caught slot-exists error made the following
                # IDENTIFY_SYSTEM come back empty.
                err = _error_fields(payload)
                while True:
                    kind2, _p2 = self._conn.read_message()
                    if kind2 == "Z":
                        break
                raise ReplicationError(err)
            elif kind in ("S", "N"):
                continue
            else:
                raise ReplicationError(f"unexpected query message {kind!r}")

    # -- replication -----------------------------------------------------

    def start_replication(
        self,
        slot: str,
        publication: str,
        start_lsn: int = 0,
        proto_version: int = 1,
    ) -> None:
        """Enter CopyBoth mode at ``start_lsn`` (0 = slot's confirmed)."""
        sql = (
            f'START_REPLICATION SLOT "{slot}" LOGICAL '
            f"{lsn_to_str(start_lsn)} "
            f"(proto_version '{proto_version}', "
            f"publication_names '\"{publication}\"')"
        )
        self._conn.send_message("Q", sql.encode() + b"\x00")
        while True:
            kind, payload = self._conn.read_message()
            if kind == "W":  # CopyBothResponse
                self._last_status_at = self._clock()
                return
            if kind == "E":
                # drain the error cycle's ReadyForQuery so a caller
                # retrying START_REPLICATION on the same connection
                # (slot-busy backoff) starts from a clean protocol state
                err = _error_fields(payload)
                while True:
                    kind2, _p2 = self._conn.read_message()
                    if kind2 == "Z":
                        break
                raise ReplicationError(err)
            if kind in ("S", "N"):
                continue
            raise ReplicationError(f"expected CopyBothResponse, got {kind!r}")

    def messages(self) -> Iterator[XLogData | Keepalive]:
        """The receive loop: demux XLogData vs keepalive, heartbeat.

        Keepalives with reply-requested get an immediate standby status
        (stream.go:154-160); otherwise one is sent whenever
        ``heartbeat_interval_s`` has elapsed. Ends on CopyDone.
        """
        while True:
            kind, payload = self._conn.read_message()
            if kind == "d":
                tag = chr(payload[0])
                if tag == "w":
                    start, end, clk = struct.unpack(">QQq", payload[1:25])
                    yield XLogData(start, end, clk, payload[25:])
                elif tag == "k":
                    end, clk, reply = struct.unpack(">Qqb", payload[1:18])
                    ka = Keepalive(end, clk, bool(reply))
                    if ka.reply_requested:
                        self.send_standby_status(reply_requested=False)
                    yield ka
                else:
                    raise ReplicationError(f"unknown copy tag {tag!r}")
            elif kind == "c":  # CopyDone
                return
            elif kind == "E":
                raise ReplicationError(_error_fields(payload))
            elif kind in ("S", "N"):
                continue
            else:
                raise ReplicationError(f"unexpected copy message {kind!r}")
            if (
                self._last_status_at is not None
                and self._clock() - self._last_status_at
                >= self.heartbeat_interval_s
            ):
                self.send_standby_status(reply_requested=False)

    def close(self) -> None:
        """Drop the connection (releases any replication slot this
        walsender session holds — the server frees it when the backend
        exits)."""
        try:
            self._conn.sock.close()
        except OSError:
            pass

    def send_standby_status(self, reply_requested: bool = False) -> None:
        """'r' update: written/flushed/applied = confirmed flush LSN."""
        lsn = self.flush_lsn
        body = b"r" + struct.pack(
            ">QQQqb",
            lsn,
            lsn,
            lsn,
            pg_clock_us(self._wall_clock()),
            1 if reply_requested else 0,
        )
        self._conn.send_message("d", body)
        self._last_status_at = self._clock()
        self.status_updates_sent += 1


def dial(
    host: str,
    port: int,
    database: str,
    user: str,
    password: str | None,
    ssl_mode: str,
) -> ReplicationClient:
    """One connected ReplicationClient, TLS + SCRAM as needed
    (``ssl_mode`` is libpq's disable / prefer / require)."""
    import os
    import socket

    sock = socket.create_connection((host, port), timeout=10)
    if ssl_mode != "disable":
        ctx = _ssl.create_default_context()
        if os.environ.get("PGSINK_TEST_PG_SSL_NOVERIFY"):
            ctx.check_hostname = False
            ctx.verify_mode = _ssl.CERT_NONE
        sock = start_tls(
            sock, context=ctx, server_hostname=host,
            required=(ssl_mode == "require"),
        )
    client = ReplicationClient(
        sock, database=database, user=user, password=password,
        heartbeat_interval_s=5.0,
    )
    client.connect()
    return client


def live_wire(client: ReplicationClient) -> Iterator[bytes]:
    """Adapt the CopyBoth loop to the Subscription's wire contract.

    Yields raw pgoutput payload bytes; keepalives are consumed by the
    client (auto-replied) and never surface. Plug the result straight
    into ``Subscription.stream`` and point ``client.flush_lsn`` at the
    pipeline's confirmed watermark.
    """
    for msg in client.messages():
        if isinstance(msg, XLogData):
            yield msg.payload
