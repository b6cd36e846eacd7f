"""Compacted base: the materialized most-recent-row table behind every
snapshot view.

Reference parity: the BigQuery sink serves latest-row reads through a
read-time view (pkg/sinks/bigquery/schema_builders.go:115-161), which
sorts a table's whole raw history on every query; its docs leave
materialization to the warehouse. ``WarehouseSink.install_view`` keeps
that view for as-of and directory-listing reads. Snapshot reads go
through this base instead: one row per key, folded forward from the raw
table's snapshot manifests, so a read is a plain scan and a pk probe a
filtered scan of pk-sorted files.

Layout (a sibling of the raw table, never inside it):

- ``v{N}-{token}/`` — one immutable base version: one row per key
  (tombstones kept as ``operation = 'DELETE'`` rows), written as one
  pk-sorted file per ``FILE_BYTES`` of input, so a small table is one
  file and one read task. ``N`` is the raw manifest version it covers;
  the token keeps two folds of one version apart.
- ``_LATEST`` — the pointer, replaced by an atomic rename: the version,
  its directory and files, the raw files it ``covers``, and its Spark
  schema. Readers read exactly those files with that schema, so no
  footer-inference job runs and a half-written version is never read.

Folding (``fold``) picks its tail by manifest diff, not by an LSN
watermark: import rows carry NULL lsn and each stream has its own
epochs, so only the file sets say what is new. The tail is the files
the current manifest names that the base does not cover. When a covered
file has left the manifest (``expire_raw``, a replay's overwrite) the
base is rebuilt from the whole manifest instead. The merge is the
read-time view's window — rank per key by (timestamp, lsn, sequence)
DESC, keep row 1 — over base ∪ tail, so a late older image still loses
to a retained tombstone and replayed rows collapse onto their first copy.
A widened payload (ALTER ADD COLUMN) unions by name: old base rows serve
NULL for the new field.

Concurrency: versions are immutable; publishing takes a flock, and a
fold that finds the same or a newer version already published discards
its own copy and serves that one. GC keeps the newest ``KEEP_VERSIONS``
versions, so a view installed on an older one keeps reading.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pgsink_spark.changelog.envelope import OP_DELETE
from pgsink_spark.imports.jobs import _flocked

ROW_COLUMNS = ("timestamp", "lsn", "sequence", "operation", "payload")
FILE_BYTES = 64 << 20  # input bytes per pk-sorted base file
KEEP_VERSIONS = 3
POINTER = "_LATEST"
_VERSION_DIR = re.compile(r"v(\d+)-[0-9a-f]+")


def parquet_files(root: str) -> list[str]:
    """Data files under ``root``, relative and sorted; directories that
    Spark hides (``_``/``.`` prefixed, e.g. ``_manifest``) are skipped."""
    files = []
    for dirpath, dirnames, fnames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        files += [
            os.path.relpath(os.path.join(dirpath, f), root)
            for f in fnames
            if f.endswith(".parquet")
        ]
    return sorted(files)


def latest_rows(rows: DataFrame, key_columns: list[str], n_files: int) -> DataFrame:
    """The most-recent row per key, tombstones kept, range-partitioned
    into ``n_files`` pk-sorted partitions. The window's ordering is
    compaction_view_sql's; the range exchange also satisfies the
    window's clustering, so the merge shuffles once."""
    pk = [F.col(f"payload.{c}") for c in key_columns]
    rank = F.row_number().over(
        Window.partitionBy(*pk).orderBy(
            F.col("timestamp").desc(),
            F.col("lsn").desc_nulls_last(),
            F.col("sequence").desc_nulls_last(),
        )
    )
    return (
        rows.repartitionByRange(n_files, *pk)
        .withColumn("_rank", rank)
        .where(F.col("_rank") == 1)
        .drop("_rank")
    )


class KeyedCompactedTable:
    """Versioned latest-per-key base under ``path``, folded forward from
    a raw envelope table's file sets."""

    def __init__(self, spark: SparkSession, path: str, key_columns: list[str]):
        self.spark = spark
        self.path = path
        self.key_columns = list(key_columns)

    def pointer(self) -> dict | None:
        try:
            with open(os.path.join(self.path, POINTER)) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def read(self, pointer: dict) -> DataFrame:
        """Every base row of one version, tombstones included."""
        files = [os.path.join(self.path, pointer["dir"], f) for f in pointer["files"]]
        schema = T.StructType.fromJson(pointer["schema"])
        return self.spark.read.schema(schema).parquet(*files)

    def live(self, pointer: dict) -> DataFrame:
        """Payload columns of the live rows: no window, no shuffle."""
        return (
            self.read(pointer)
            .where(F.col("operation") != OP_DELETE)
            .select("payload.*")
        )

    def fold(self, raw_root: str, files: list[str], version: int) -> dict:
        """Bring the base up to the raw files ``files`` (relative to
        ``raw_root``) at ``version``; returns the pointer to read. A base
        that already covers exactly ``files`` runs no Spark job."""
        ptr = self.pointer()
        current = set(files)
        covered = set(ptr["covers"]) if ptr else set()
        if ptr is not None and covered == current:
            return ptr
        if not current:
            raise FileNotFoundError(f"no raw files to fold under {raw_root}")
        # merge the tail into the base, unless a covered file has left
        # the manifest: then rebuild from all of it
        merge = ptr is not None and covered <= current
        paths = [
            os.path.join(raw_root, p)
            for p in sorted(current - covered if merge else current)
        ]
        size = sum(os.path.getsize(p) for p in paths)
        rows = (
            self.spark.read.option("mergeSchema", "true")
            .option("basePath", raw_root)
            .parquet(*paths)
            .select(*ROW_COLUMNS)
        )
        if merge:
            rows = self.read(ptr).unionByName(rows, allowMissingColumns=True)
            size += sum(
                os.path.getsize(os.path.join(self.path, ptr["dir"], f))
                for f in ptr["files"]
            )
        merged = latest_rows(
            rows, self.key_columns, max(1, math.ceil(size / FILE_BYTES))
        )
        name = f"v{version}-{uuid.uuid4().hex[:12]}"
        out = os.path.join(self.path, name)
        merged.write.parquet(out)
        return self._publish(
            {
                "version": version,
                "dir": name,
                "files": sorted(f for f in os.listdir(out) if f.endswith(".parquet")),
                "covers": sorted(current),
                "schema": merged.schema.jsonValue(),
            }
        )

    def _publish(self, new: dict) -> dict:
        with _flocked(os.path.join(self.path, f"{POINTER}.lock")):
            cur = self.pointer()
            if cur is not None and cur["version"] >= new["version"]:
                # a racing fold published this version or a newer one
                shutil.rmtree(os.path.join(self.path, new["dir"]))
                return cur
            path = os.path.join(self.path, POINTER)
            with open(path + ".tmp", "w") as f:
                json.dump(new, f)
            os.replace(path + ".tmp", path)
            self._gc()
        return new

    def _gc(self) -> None:
        """Drop version directories older than the newest
        ``KEEP_VERSIONS`` versions (crash leftovers included)."""
        dirs = {}
        for d in os.listdir(self.path):
            m = _VERSION_DIR.fullmatch(d)
            if m:
                dirs[d] = int(m.group(1))
        floor = sorted(set(dirs.values()))[-KEEP_VERSIONS:][0]
        for d, v in dirs.items():
            if v < floor:
                shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)
