"""Live Structured-Streaming source: ``format("pgoutput-live")``.

Composes the two proven halves into one continuously-running Spark
stream against a real Postgres:

- the LIVE half (streaming/live.py): every ``latestOffset`` poll runs
  one reconnecting, exactly-once-append drain of the walsender into a
  local spool capture file (the drain is availableNow — it catches up
  to the server's WAL position and returns, so a poll is bounded);
- the FILE half (streaming/datasource.py): offsets, partition
  planning, decode, and checkpoint commit run unchanged over the
  spool — Spark's checkpoint still owns exactly-once delivery into
  sinks, and ``commit`` keeps advancing the ``.confirmed`` watermark.

This is the reference's long-running subscription loop
(pkg/subscription/stream.go) re-expressed in Spark's execution model:
the driver-side poll does the socket work (control-plane sized — raw
WAL bytes land in the spool, not in driver memory), executors decode
in parallel from the spool, and a crashed query restarts from its
checkpoint + the slot's confirmed LSN without loss or duplication.

Connection posture: one dial per poll (the drain closes its
connection when caught up). That keeps the reader stateless and
pickle-safe for executor shipping; a deployment chasing lower latency
per poll raises the trigger interval or runs the capture CLI as a
sidecar appending to the same spool — the file half is identical
either way.

Options (all strings, DataSource API):
  pghost/pgport/pgdb/pguser/pgpassword/pgssl — server + auth
  slot, publication      — replication identity (created if missing)
  tables                 — optional "ns.t1,ns.t2" publication sync list
  path                   — spool capture file (required)
  maxcommitspertrigger / startlsn — file-half options
"""

from __future__ import annotations

import functools

from pyspark.sql.datasource import DataSource
from pyspark.sql.types import StructType

from pgsink_spark.streaming.datasource import (
    GENERIC_ENVELOPE,
    PgoutputStreamReader,
)
from pgsink_spark.streaming.replication import dial


class PgoutputLiveStreamReader(PgoutputStreamReader):
    """File-half reader whose ``latestOffset`` first drains live WAL."""

    def __init__(self, options: dict):
        super().__init__(options)
        self._opts = dict(options)
        self._provisioned = False

    def _drain(self) -> None:
        from pgsink_spark.streaming.live import capture_with_retry, provision

        o = self._opts
        connect = functools.partial(
            dial, o["pghost"], int(o.get("pgport", "5432")),
            o.get("pgdb", "postgres"), o.get("pguser", "postgres"),
            o.get("pgpassword"), o.get("pgssl", "prefer"),
        )
        if not self._provisioned:
            provision(connect, o["slot"], o["publication"], o.get("tables"))
            self._provisioned = True
        capture_with_retry(
            connect, o["slot"], o["publication"], self.path, max_reconnects=3,
        )

    def initialOffset(self) -> dict:
        self._drain()  # the spool may not exist before the first drain
        return super().initialOffset()

    def latestOffset(self) -> dict:
        self._drain()
        return super().latestOffset()


class PgoutputLiveDataSource(DataSource):
    """``spark.readStream.format("pgoutput-live")`` — live CDC stream."""

    @classmethod
    def name(cls) -> str:
        return "pgoutput-live"

    def schema(self) -> StructType:
        return GENERIC_ENVELOPE

    def streamReader(self, schema: StructType) -> PgoutputLiveStreamReader:
        return PgoutputLiveStreamReader(self.options)


def register_live(spark) -> None:
    spark.dataSource.register(PgoutputLiveDataSource)
