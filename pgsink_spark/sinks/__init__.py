"""Sinks: route → write → account, plus read-time compaction.

The reference's sink stack is a middleware chain — router → schema
handler → buffered → async → concrete inserter
(reference pkg/sinks/generic/sink.go:81-143). In Spark the
batching/async/ordering middleware disappears into the engine: a sink
here is *one partitioned write per micro-batch* plus per-batch
accounting, and correctness at read time comes from the most-recent-row
compaction view, exactly like the reference's BigQuery sink
(pkg/sinks/bigquery/schema_builders.go:115-161).
"""

from pgsink_spark.sinks.generic import InsertResult
from pgsink_spark.sinks.instrumented import (
    InstrumentedInserter,
    SinkMetrics,
    observed_write,
)
from pgsink_spark.sinks.file_sink import FileSink
from pgsink_spark.sinks.jdbc_sink import (
    JdbcCompactedSink,
    JdbcSinkOptions,
    JdbcWarehouseSink,
)
from pgsink_spark.sinks.warehouse import WarehouseSink, compaction_view_sql

__all__ = [
    "FileSink",
    "InstrumentedInserter",
    "SinkMetrics",
    "observed_write",
    "InsertResult",
    "JdbcCompactedSink",
    "JdbcSinkOptions",
    "JdbcWarehouseSink",
    "WarehouseSink",
    "compaction_view_sql",
]
