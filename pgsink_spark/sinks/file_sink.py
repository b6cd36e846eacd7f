"""File sink: newline-delimited JSON, schemas and modifications apart.

Reference parity: the file sink serializes modifications as
newline-delimited JSON to a modifications path and schema entries to a
schemas path (pkg/sinks/file/sink.go:35-81, inserter.go:21-52,
changelog/serialize/json.go:15-30). Spark-first shape: one
``write.json`` partitioned by ``(namespace, name)`` per batch — the
router middleware collapses into the writer's dynamic partitioning, so a
batch touching 500 tables is still a single distributed write.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pgsink_spark.changelog.envelope import operation
from pgsink_spark.changelog.registry import SchemaEntry
from pgsink_spark.sinks.generic import InsertResult, SchemaHandler
from pgsink_spark.sinks.instrumented import observed_write


class FileSink:
    """NDJSON sink rooted at ``root`` (modifications/ + schemas/)."""

    def __init__(self, root: str):
        self.root = root
        self.modifications_path = os.path.join(root, "modifications")
        self.schemas_path = os.path.join(root, "schemas")
        self._schema_handler = SchemaHandler(self._write_schema)
        os.makedirs(self.schemas_path, exist_ok=True)

    # -- schema entries (control plane, driver-side tiny) ---------------
    def _write_schema(self, entry: SchemaEntry) -> None:
        row = entry.to_row()
        row["timestamp"] = row["timestamp"].isoformat()
        path = os.path.join(
            self.schemas_path, f"{entry.namespace}.{entry.name}.jsonl"
        )
        with open(path, "a") as f:
            f.write(json.dumps(row, separators=(",", ":")) + "\n")

    def handle_schema(self, entry: SchemaEntry) -> str:
        return self._schema_handler.handle(entry)

    # -- modification batches (data plane, distributed) -----------------
    def insert(self, env: DataFrame) -> InsertResult:
        # format first, observe after: with the observe on top, a
        # current_timestamp() page folds date_format(literal) to a
        # string literal, so every page of one shape reuses the same
        # generated classes instead of inlining a new timestamp long
        out = (
            env.withColumn("operation", operation())
            .withColumn("ts_out", F.date_format("timestamp", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"))
            .drop("timestamp")
            .withColumnRenamed("ts_out", "timestamp")
        )

        def writer(df: DataFrame) -> None:
            (
                df.write.mode("append")
                .partitionBy("namespace", "name")
                .json(self.modifications_path)
            )

        return observed_write(out, writer)
