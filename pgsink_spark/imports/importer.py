"""Importer: drive one backfill job batch-by-batch into a sink.

Reference flow (pkg/imports/importer.go:84-167): resolve the table,
push a Schema entry, then loop — scan a keyset batch inside a short
snapshot, marshal rows to modifications with ``LSN = nil``, wait for the
sink to flush, commit cursor + rows_processed in the job row. A crash
before the cursor commit re-reads the batch ⇒ at-least-once, which the
sink's compaction view absorbs.

Spark shape: each batch is a lazy, bounded, pushdown-filtered keyset
page wrapped into the envelope (``to_envelope`` — before=NULL,
lsn=NULL) and written through the sink. The sink's write is the page's
one Spark execution: the next cursor and row count are observed on it,
so rows and cursor come from one query, as in the reference. The
cursor update happens only after the write returns, preserving the
reference's crash-replay contract; an inserter whose reported count
differs from the observed one (it ran the page twice, or in part) fails
the job without moving the cursor. ``max_batches`` is the
snapshot-timeout analogue: it bounds work per claim so a job yields and
resumes, keeping any source transaction short.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from datetime import date, datetime
from decimal import Decimal
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pgsink_spark.changelog.envelope import to_envelope
from pgsink_spark.imports.jobs import ImportJob, ImportJobStore
from pgsink_spark.imports.keyset import keyset_batch


@dataclass
class ImportResult:
    batches: int
    rows: int
    done: bool


class Importer:
    """Runs claimed import jobs against a sink."""

    def __init__(
        self,
        store: ImportJobStore,
        insert: Callable[[DataFrame, str, str], object],
        batch_limit: int = 5000,
    ):
        self.store = store
        self.insert = insert
        self.batch_limit = batch_limit

    def run(
        self,
        job: ImportJob,
        source: DataFrame,
        pk: str,
        max_batches: int | None = None,
    ) -> ImportResult:
        batches = rows = 0
        done = False
        cursor = None if job.cursor is None else _parse_cursor(job.cursor, source, pk)
        try:
            while max_batches is None or batches < max_batches:
                page = keyset_batch(source, pk, cursor, self.batch_limit)
                env = to_envelope(
                    page.rows,
                    job.schema,
                    job.table_name,
                    timestamp=F.current_timestamp(),
                )
                res = self.insert(env, job.schema, job.table_name)
                next_cursor, n, done = page.observed()
                reported = getattr(res, "count", None)
                if reported is not None and reported != n:
                    # the cursor is the observed page's; rows written
                    # by another run of it may not match it
                    raise RuntimeError(
                        f"inserter reported {reported} rows for a page of "
                        f"{n}: it ran the page more than once or in part"
                    )
                if next_cursor is None:  # empty tail
                    done = True
                    break
                # cursor commits only after the write landed (at-least-once)
                self.store.update_progress(job.id, _cursor_to_text(next_cursor), n)
                cursor = next_cursor
                batches += 1
                rows += n
                if done:
                    break
        except Exception as e:  # noqa: BLE001 — job errors are recorded, not raised
            self.store.record_error(job.id, str(e))
            return ImportResult(batches, rows, False)
        if done:
            self.store.complete(job.id)
        else:
            self.store.release(job.id)
        return ImportResult(batches, rows, done)


def _component_text(v) -> str:
    if isinstance(v, (date, datetime)):
        return v.isoformat()
    return str(v)


def _cursor_to_text(cursor) -> str:
    """Composite cursors persist as a JSON array; scalars as plain text
    (reference keeps a text cursor column, structure.sql:41). Numbers
    stay JSON numbers; dates, timestamps, decimals and strings are text
    that ``_parse_cursor`` re-types from the source schema."""
    if isinstance(cursor, tuple):
        return json.dumps([
            v if isinstance(v, (int, float)) else _component_text(v)
            for v in cursor
        ])
    return _component_text(cursor)


def _retype(text: str, dt: str):
    if dt in ("tinyint", "smallint", "int", "bigint"):
        return int(text)
    if dt in ("float", "double"):
        return float(text)
    if dt.startswith("decimal"):
        return Decimal(text)
    if dt == "date":
        return date.fromisoformat(text)
    if dt.startswith("timestamp"):
        return datetime.fromisoformat(text)
    return text


def _parse_cursor(cursor: str, source: DataFrame, pk):
    """Cursor round-trips as text; re-type it from the source's pk
    column(s). Composite cursors arrive as a JSON array and come back
    as the tuple keyset_batch expects."""
    dts = dict(source.dtypes)
    if isinstance(pk, str):
        return _retype(cursor, dts[pk])
    vals = json.loads(cursor)
    return tuple(
        v if isinstance(v, (int, float)) else _retype(v, dts[c])
        for c, v in zip(pk, vals)
    )
