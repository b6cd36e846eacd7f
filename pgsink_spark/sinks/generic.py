"""Generic sink machinery: accounting, schema-drift handling, routing.

Reference parity map:

- ``InsertResult`` — the reference folds per-insert promises into
  ``(count, highest LSN, first error)``
  (pkg/sinks/generic/insert_result.go:8-96); here one Spark aggregation
  per written batch produces the same facts, and the max LSN is the ack
  watermark the CDC source confirms back (pkg/sinks/generic/sink.go:160-194).
- ``SchemaHandler`` — idempotent DDL sync keyed by schema fingerprint
  (pkg/sinks/generic/schema_handler.go:61-105): a repeated fingerprint is
  a no-op, a new one triggers the sink's ``sync`` callback exactly once.
- Routing — the reference hash-routes modifications to per-table
  inserters (pkg/sinks/generic/router.go:43-115). The generic NDJSON
  stream sink writes ``partitionBy("namespace", "name")``, one write
  for every table in the batch; the typed sinks (warehouse, BigQuery)
  need one payload schema per write, so ``cli._fan_out`` loops over
  the batch's tables on the driver and writes each table's slice.

Scale note: accounting runs on the *batch being written*, so it adds one
cheap aggregation, not a second scan of the source; at 1000 executors
the agg is a partial-combine + single-row final — negligible.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pgsink_spark.changelog.registry import SchemaEntry


@dataclass(frozen=True)
class InsertResult:
    """Outcome of one flushed batch: row count + ack watermark."""

    count: int
    max_lsn: int | None

    def fold(self, other: "InsertResult") -> "InsertResult":
        lsns = [x for x in (self.max_lsn, other.max_lsn) if x is not None]
        return InsertResult(self.count + other.count, max(lsns) if lsns else None)


def batch_result(env: DataFrame) -> InsertResult:
    """Compute (count, max lsn) for a batch — the ack watermark."""
    row = env.agg(
        F.count(F.lit(1)).alias("n"), F.max("lsn").alias("max_lsn")
    ).collect()[0]
    return InsertResult(row["n"], row["max_lsn"])


class SchemaHandler:
    """Fingerprint-cached, idempotent schema sync.

    ``sync`` is the sink-specific DDL callback; it runs once per novel
    fingerprint per table (reference schema_handler.go:61-105 — outcome
    "noop" on fingerprint hit, "update" on change). A raising sync
    PROPAGATES — the reference returns the error up to the batch, which
    fails loudly and retries; swallowing it here would let a caller
    that ignores the outcome string insert rows against a half-migrated
    table. The fingerprint is only cached after sync succeeds, so the
    retry re-runs the migration.
    """

    def __init__(self, sync: Callable[[SchemaEntry], None]):
        self._sync = sync
        self._seen: dict[tuple[str, str], str] = {}

    def handle(self, entry: SchemaEntry) -> str:
        key = (entry.namespace, entry.name)
        fp = entry.fingerprint
        if self._seen.get(key) == fp:
            return "noop"
        self._sync(entry)
        self._seen[key] = fp
        return "update"
