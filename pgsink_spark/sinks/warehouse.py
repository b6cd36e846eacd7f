"""Warehouse sink: append-only ``_raw`` table + most-recent-row view.

Reference parity: the BigQuery sink creates ``<name>_raw`` with the
envelope schema (timestamp, lsn, operation, payload RECORD), clustered
by primary key and time-partitioned by timestamp
(pkg/sinks/bigquery/schema_builders.go:28-110, table.go:28-63), then
installs a read-time compaction view — ``row_number() over (partition by
pk order by timestamp desc)``, keep row 1, drop DELETEs
(schema_builders.go:115-161; golden fixture
pkg/sinks/bigquery/schema_builders_test.go:110-129).

Spark-first shape: the raw table is parquet partitioned by
``to_date(timestamp)`` (under ``stream=/epoch=`` with exactly-once
epochs), and each batch commits by publishing a snapshot manifest.
Views are temp views over one of two sources:

- snapshot views (``install_view(snapshot=True)``) read the table's
  compacted base (sinks/compactor.py): one row per key, stored beside
  the raw table in ``<ns>_<name>_base/`` and folded forward to the
  latest manifest at install time. The view is a filter over it — no
  window, no shuffle — so reads stop sorting the whole raw history.
- as-of views and directory-listing views keep the read-time window
  ``compaction_view_sql`` over raw files, which is covered by a
  byte-exact golden test (tests/testdata/view.example.sql), the same
  discipline as the reference's golden-file test.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgsink_spark.changelog.envelope import after_or_before, operation
from pgsink_spark.changelog.registry import SchemaEntry
from pgsink_spark.sinks.compactor import KeyedCompactedTable, parquet_files
from pgsink_spark.sinks.generic import InsertResult, SchemaHandler
from pgsink_spark.sinks.instrumented import observed_write

VIEW_TEMPLATE = """CREATE OR REPLACE TEMPORARY VIEW `{view}` AS
SELECT payload.*
FROM (
  SELECT payload, operation,
         ROW_NUMBER() OVER (
           PARTITION BY {pk_list}
           ORDER BY timestamp DESC, lsn DESC NULLS LAST,
                    sequence DESC NULLS LAST
         ) AS row_number
  FROM `{raw}`
)
WHERE row_number = 1 AND operation != 'DELETE'
"""


def compaction_view_sql(
    view: str,
    raw: str,
    key_columns: list[str],
    asof_lsn: int | None = None,
) -> str:
    """Most-recent-row view DDL over a raw envelope table.

    ``asof_lsn`` makes it a time-travel view: the append-only raw table
    retains every envelope, so electing the most-recent row among only
    envelopes with ``lsn <= asof_lsn`` reconstructs the table exactly
    as it stood when that LSN was confirmed (the state a18_view_asof
    oracle-checks on fixtures). Snapshot-import rows carry NULL lsn and
    belong to every as-of state — they predate the replication stream.
    """
    pk_list = ", ".join(f"payload.`{c}`" for c in key_columns)
    sql = VIEW_TEMPLATE.format(view=view, raw=raw, pk_list=pk_list)
    if asof_lsn is not None:
        sql = sql.replace(
            f"FROM `{raw}`",
            f"FROM `{raw}`\n  WHERE lsn IS NULL OR lsn <= {int(asof_lsn)}",
        )
    return sql


class WarehouseSink:
    """Parquet ``_raw`` append tables + compaction views per table."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._schema_handler = SchemaHandler(self._sync_table)
        self._keys: dict[tuple[str, str], list[str]] = {}

    def _raw_name(self, namespace: str, name: str) -> str:
        return f"{namespace}_{name}_raw"

    def _raw_path(self, namespace: str, name: str) -> str:
        return os.path.join(self.root, f"{self._raw_name(namespace, name)}")

    def _sync_table(self, entry: SchemaEntry) -> None:
        """DDL sync: remember the pk; (re)install the view lazily."""
        self._keys[(entry.namespace, entry.name)] = list(entry.key_columns)

    def handle_schema(self, entry: SchemaEntry) -> str:
        return self._schema_handler.handle(entry)

    def insert(
        self,
        env: DataFrame,
        namespace: str,
        name: str,
        epoch: int | None = None,
        stream_id: str = "default",
    ) -> InsertResult:
        """Append one envelope batch into the table's raw storage.

        ``epoch`` (pass the foreachBatch ``batch_id``) upgrades the
        append from at-least-once to exactly-once once the caller
        publishes it with ``commit_manifest(..., epoch=)``: a replay of
        the published epoch is skipped, and a replay of an unpublished
        one dynamically overwrites exactly its own
        ``stream=S/epoch=N`` partitions. Insert only writes; the
        manifest publish is the batch's one commit. A table must be
        written consistently with or without ``epoch`` (the two
        partition layouts cannot share one raw path).

        A typed envelope batch carries one table's payload StructType, so
        raw storage is one path per table (schema-stable scans), written
        day-partitioned — the same time-partitioning the reference
        requests from BigQuery. Day partitions + parquet min/max stats
        give readers partition pruning for time-bounded queries.

        Each batch is also range-partitioned + sorted by the primary key
        inside each day — the C3 clustering the reference requests from
        BigQuery (schema_builders.go:99-106). Sorted files give parquet
        tight per-row-group pk min/max stats, so pk-point reads skip
        whole row groups/files (the Z-ORDER analogue for a single key).
        Costs one range shuffle per batch; compaction reads win it back
        on every pk lookup.
        """
        if epoch is not None:
            done = self.committed_epoch(namespace, name, stream_id)
            if done is not None and epoch == done:
                # crash-replay of the last published batch: skip (the
                # checkpointed offsets make the replay deterministic)
                return InsertResult(0, None)
            if done is not None and epoch < done:
                # epochs only move forward within one stream identity;
                # going backwards means a checkpoint was reset against
                # an existing sink — fail loudly instead of silently
                # skipping (or double-writing) history
                raise RuntimeError(
                    f"epoch regression for {namespace}.{name} stream "
                    f"{stream_id!r}: got {epoch}, committed {done}. "
                    f"A rebuilt checkpoint must use a new stream_id."
                )

        keys = self._keys.get((namespace, name), [])
        out = env.select(
            "timestamp",
            "lsn",
            "sequence",
            operation().alias("operation"),
            after_or_before().alias("payload"),
            F.to_date("timestamp").alias("day"),
        )
        if keys:
            pk_cols = [F.col(f"payload.{c}") for c in keys]
            out = out.repartitionByRange(
                F.col("day"), *pk_cols
            ).sortWithinPartitions(F.col("day"), *pk_cols)
        def write(observed: DataFrame) -> None:
            if epoch is not None:
                (
                    observed.withColumn("stream", F.lit(stream_id))
                    .withColumn("epoch", F.lit(int(epoch)))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("stream", "epoch", "day")
                    .parquet(self._raw_path(namespace, name))
                )
            else:
                (
                    observed.write.mode("append")
                    .partitionBy("day")
                    .parquet(self._raw_path(namespace, name))
                )

        # single-pass accounting, attached DOWNSTREAM of the range
        # exchange: repartitionByRange samples its child to pick range
        # boundaries, so an upstream observe would fire twice and
        # double-count the batch
        return observed_write(out, write)

    # ------------------------------------------------------------------
    # Snapshot manifests: the one commit record of a warehouse write.
    # Directory-listing reads (install_view) can observe a concurrent
    # insert's files before its commit — the classic
    # eventually-consistent-listing hazard every table format
    # (Delta/Iceberg) exists to fix. After each insert the writer lists
    # the table's data files into _manifest/v{N}.json and flips the
    # LATEST pointer with an atomic rename; snapshot readers load the
    # pointer and read EXACTLY that file list, so an in-flight batch's
    # files are invisible until committed.
    #
    # Exactly-once: LATEST also carries each stream's last published
    # epoch, so the rename that makes a batch visible is the same one
    # that marks it committed. The reference sink is at-least-once and
    # relies on the read-time view to absorb duplicates
    # (pkg/sinks/bigquery/sink.go appends; the view dedups); here a
    # foreachBatch caller passes the Spark batch id as the epoch. Each
    # epoch writes its own `stream=S/epoch=N` partitions via dynamic
    # partition overwrite, so a batch that crashed before its publish
    # is overwritten in place on replay, and a published one is
    # skipped. Spark's checkpointed offsets make the replayed batch
    # deterministic, which is what makes overwrite == idempotence.
    # Caveat (same as any MVCC-without-GC): a replay's overwrite may
    # delete files that older manifests name — replays happen only
    # during recovery, and LATEST always points at a post-commit list.
    def _manifest_dir(self, namespace: str, name: str) -> str:
        return os.path.join(self._raw_path(namespace, name), "_manifest")

    def _latest(self, namespace: str, name: str) -> dict:
        """The LATEST pointer: ``{"version", "streams"}``."""
        try:
            with open(
                os.path.join(self._manifest_dir(namespace, name), "LATEST")
            ) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {"version": 0, "streams": {}}

    def commit_manifest(
        self,
        namespace: str,
        name: str,
        *,
        epoch: int | None = None,
        stream_id: str = "default",
    ) -> int:
        """Publish the current file set; returns the version. With
        ``epoch`` the same rename records it as ``stream_id``'s
        committed epoch; without one (a republish) every stream's epoch
        carries forward."""
        mdir = self._manifest_dir(namespace, name)
        os.makedirs(mdir, exist_ok=True)
        files = parquet_files(self._raw_path(namespace, name))
        latest = self._latest(namespace, name)
        version = latest["version"] + 1
        streams = latest["streams"]
        if epoch is not None:
            streams[stream_id] = int(epoch)
        vpath = os.path.join(mdir, f"v{version}.json")
        tmp = vpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"version": version, "files": files}, f)
        os.replace(tmp, vpath)
        path = os.path.join(mdir, "LATEST")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"version": version, "streams": streams}, f)
        os.replace(tmp, path)
        return version

    def manifest_version(self, namespace: str, name: str) -> int:
        return self._latest(namespace, name)["version"]

    def committed_epoch(
        self, namespace: str, name: str, stream_id: str = "default"
    ) -> int | None:
        """Last epoch of ``stream_id`` published into this table's
        snapshot manifest. The epoch is keyed by a caller-supplied
        stream identity (pass the streaming query's checkpoint-scoped
        id — the Delta txnAppId pattern): a rebuilt checkpoint restarts
        batch ids at 0 under a NEW stream id, so the old stream's
        high-water mark can no longer silently skip every replayed
        batch."""
        return self._latest(namespace, name)["streams"].get(stream_id)

    def _manifest_files(
        self, namespace: str, name: str, version: int | None = None
    ) -> list[str]:
        """Raw files (relative) named by one manifest version, the
        latest by default."""
        v = version or self.manifest_version(namespace, name)
        if v == 0:
            raise FileNotFoundError(
                f"no committed manifest for {namespace}.{name}"
            )
        with open(
            os.path.join(self._manifest_dir(namespace, name), f"v{v}.json")
        ) as f:
            return json.load(f)["files"]

    def read_snapshot(
        self, namespace: str, name: str, version: int | None = None
    ) -> DataFrame:
        """Snapshot-isolated raw read: exactly one manifest's files."""
        root = self._raw_path(namespace, name)
        paths = [
            os.path.join(root, p)
            for p in self._manifest_files(namespace, name, version)
        ]
        return (
            self.spark.read.option("mergeSchema", "true")
            .option("basePath", root)
            .parquet(*paths)
        )

    def expire_raw(
        self, namespace: str, name: str, before_day: str
    ) -> list[str]:
        """Retention: drop raw day-partitions older than ``before_day``
        (ISO date). The reference gets this from BigQuery's
        dataset-default-table-expiration (sink.go Options
        DatasetDefaultTableExpiration); on parquet it is partition-
        directory removal — O(dropped partitions), no rewrite.

        Trade-off is explicit and the caller's: expired history is gone
        from every as-of view whose cut predates it, so expire only
        below your compaction/backup horizon. Deletion is
        directory-atomic per day; readers of surviving days never see a
        partial state. Works for both layouts (``day=``,
        ``stream=/epoch=/day=``). Returns the removed partition paths.
        """
        import shutil

        root = self._raw_path(namespace, name)
        removed = []
        if not os.path.isdir(root):
            return removed
        for dirpath, dirnames, _files in os.walk(root):
            for d in list(dirnames):
                if d.startswith("day=") and d[len("day="):] < before_day:
                    full = os.path.join(dirpath, d)
                    shutil.rmtree(full)
                    dirnames.remove(d)
                    removed.append(full)
        if removed and self.manifest_version(namespace, name) > 0:
            # republish so the LATEST manifest stops naming deleted
            # files — otherwise snapshot reads fail with missing-file
            # errors until the next commit_manifest (stream epochs
            # carry forward)
            self.commit_manifest(namespace, name)
        return sorted(removed)

    def expire_manifests(
        self, namespace: str, name: str, keep: int = 5
    ) -> list[int]:
        """Manifest GC (the retention sweep table formats run against
        their metadata logs): drop snapshot versions that are either
        (a) older than the newest ``keep`` versions, or (b) BROKEN —
        naming data files that ``expire_raw`` has since removed, so a
        pinned read of them would fail anyway. The LATEST version is
        never dropped regardless of ``keep``. Returns the removed
        version numbers.

        Scale posture: pure metadata work — O(versions × files-per-
        manifest) driver-side file checks, no data reads or rewrites.
        Time-travel depth after the sweep is ``keep`` versions; pick
        it at or above the compaction/backup horizon the expire_raw
        docstring already demands.
        """
        mdir = self._manifest_dir(namespace, name)
        latest = self.manifest_version(namespace, name)
        if latest == 0 or not os.path.isdir(mdir):
            return []
        root = self._raw_path(namespace, name)
        cutoff = latest - max(1, keep) + 1
        removed = []
        for fname in os.listdir(mdir):
            if not (fname.startswith("v") and fname.endswith(".json")):
                continue
            try:
                v = int(fname[1:-5])
            except ValueError:
                continue
            if v == latest:
                continue
            drop = v < cutoff
            if not drop:
                try:
                    with open(os.path.join(mdir, fname)) as f:
                        files = json.load(f)["files"]
                    drop = any(
                        not os.path.exists(os.path.join(root, p))
                        for p in files
                    )
                except (OSError, ValueError):
                    drop = True  # unreadable manifest is unusable
            if drop:
                os.remove(os.path.join(mdir, fname))
                removed.append(v)
        return sorted(removed)

    def install_snapshot(self, asof_lsn: int) -> dict[tuple[str, str], str]:
        """Transactionally-consistent cross-table snapshot: the as-of
        view of EVERY registered table at one confirmed LSN.

        WAL order is a single total order across tables, so electing
        most-recent-rows with the same ``lsn <= X`` cut in every view
        reproduces exactly the multi-table state that existed when X
        was confirmed — a foreign key written before X and its parent
        row written after X can never both appear. This is the
        cross-table consistency the reference gets implicitly from
        replaying one slot; here it is a read-time guarantee any
        asof_lsn can serve retroactively (the raw tables are
        append-only). Returns {(namespace, name): view_name}.
        """
        return {
            key: self.install_view(key[0], key[1], asof_lsn=asof_lsn)
            for key in sorted(self._keys)
        }

    def install_view(
        self,
        namespace: str,
        name: str,
        asof_lsn: int | None = None,
        snapshot: bool = False,
    ) -> str:
        """Install the table's most-recent-row view; return its name.

        ``snapshot=True`` serves the latest committed manifest from the
        table's compacted base (sinks/compactor.py, stored beside the
        raw table in ``<ns>_<name>_base/``): install first folds the
        manifest's new files into a new base version, then installs
        ``SELECT payload.* FROM base WHERE operation != 'DELETE'`` — no
        window, no shuffle, and a pk probe filters a pk-sorted scan.
        Concurrent in-flight batches stay invisible, and installing
        again at an unchanged manifest runs no Spark job.

        ``asof_lsn`` installs the time-travel variant (suffixed
        ``_asof``) serving the table's state as of that confirmed LSN,
        over the manifest's files with ``snapshot=True`` or a directory
        listing without; it and the plain listing view keep the
        read-time window of ``compaction_view_sql``.
        """
        keys = self._keys[(namespace, name)]
        view = f"{namespace}_{name}"
        if snapshot and asof_lsn is None:
            version = self.manifest_version(namespace, name)
            base = KeyedCompactedTable(
                self.spark,
                os.path.join(self.root, f"{namespace}_{name}_base"),
                keys,
            )
            ptr = base.fold(
                self._raw_path(namespace, name),
                self._manifest_files(namespace, name, version),
                version,
            )
            base.live(ptr).createOrReplaceTempView(view)
            return view
        raw_view = self._raw_name(namespace, name)
        if snapshot:
            self.read_snapshot(namespace, name).createOrReplaceTempView(
                raw_view
            )
        else:
            (
                # mergeSchema: after an ALTER TABLE ADD COLUMN the raw
                # path holds files with pre- and post-ALTER payload
                # structs; merged reads serve NULL for the new column
                self.spark.read.option("mergeSchema", "true")
                .parquet(self._raw_path(namespace, name))
                .createOrReplaceTempView(raw_view)
            )
        if asof_lsn is not None:
            view = f"{view}_asof"
        self.spark.sql(compaction_view_sql(view, raw_view, keys, asof_lsn))
        return view
