"""Python DataSource V2 streaming source for pgoutput captures.

The reference's front door is a replication slot: START_REPLICATION
streams pgoutput bytes, the subscription decodes them, and the sink's
flush acks a confirmed LSN back to the slot
(pkg/subscription/subscription.go:80-111, stream.go:78-232). This
module packages that loop as a first-class Spark *streaming source*
(PySpark 4 DataSource API): offsets are LSNs, `latestOffset` discovers
new WAL, `read` decodes one LSN range, and Spark's checkpoint `commit`
drives `OffsetStore.confirm` — the exact confirmed-flush-LSN contract,
but owned by Structured Streaming's offset log.

The wire input is a *capture*: a length-prefixed file of raw pgoutput
messages (what a socket client appends as it receives XLogData — see
``replication.live_wire``; a live deployment tails the capture the
socket writer produces, which keeps the executor-side reader pure
file I/O and replayable). Row schema is the schema-agnostic envelope:
payloads as ``map<string,string>`` (SURVEY §1.1 — the typed cast stage
happens downstream via the schema registry).
"""

from __future__ import annotations

import json
import os
import struct
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import (
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

GENERIC_ENVELOPE = StructType(
    [
        StructField("timestamp", TimestampType(), False),
        StructField("namespace", StringType(), False),
        StructField("name", StringType(), False),
        StructField("lsn", LongType(), True),
        StructField("sequence", LongType(), True),
        StructField("before", MapType(StringType(), StringType()), True),
        StructField("after", MapType(StringType(), StringType()), True),
    ]
)


def append_capture(path: str, payloads: list[bytes]) -> None:
    """Append raw pgoutput messages to a capture file (u32-len framed)."""
    with open(path, "ab") as f:
        for p in payloads:
            f.write(struct.pack(">I", len(p)) + p)


def read_capture(path: str) -> list[bytes]:
    """Every whole frame of a capture: a file truncated mid-frame
    (crash during an append) reads cleanly up to the last complete
    frame."""
    return [buf for _pos, buf in iter_capture_from(path)]


def iter_capture_from(path: str, offset: int = 0):
    """Yield (byte_offset, frame) from ``offset`` (a frame boundary)."""
    # 1 MiB buffer: frames are tiny (tens of bytes), so the default
    # 8 KiB buffer pays a syscall every ~200 frames on the decode path
    with open(path, "rb", buffering=1 << 20) as f:
        f.seek(offset)
        pos = offset
        while True:
            head = f.read(4)
            if len(head) < 4:
                return
            (n,) = struct.unpack(">I", head)
            buf = f.read(n)
            if len(buf) < n:
                return
            yield pos, buf
            pos += 4 + n


class CaptureIndex:
    """Commit-boundary byte index over a capture file.

    A WAL capture is append-only and unbounded; without an index every
    ``latestOffset`` poll and every micro-batch ``read`` rescans the
    file from byte 0 — O(stream²) over a stream's lifetime, the classic
    tail-read bug. The index records, per commit, the byte offset just
    PAST that commit's frame, plus the running list of relation-message
    offsets seen so far. ``read(start, end)`` then seeks to the largest
    indexed commit ≤ start, replays only the (tiny) relation frames
    before it to rebuild the relation cache, and decodes forward —
    per-batch cost is O(new bytes + relations), not O(file).

    The index lives in memory keyed by the scanned prefix length and is
    rebuilt incrementally: a poll scans only bytes appended since the
    previous poll. It is a pure cache — losing it costs a rescan, never
    correctness — so it needs no durability or locking (each reader
    instance owns its own).
    """

    def __init__(self, path: str):
        self.path = path
        self.scanned = 0  # bytes of the file covered by the entries
        self.top_lsn = 0
        # ascending (commit_lsn, next_byte_offset, n_relations_seen)
        self.commits: list[tuple[int, int, int]] = []
        self.rel_offsets: list[int] = []

    def refresh(self) -> int:
        """Scan newly appended bytes; return the highest commit LSN."""
        from pgsink_spark.streaming.decoder import (
            Commit,
            Relation,
            decode_message,
        )

        if not os.path.exists(self.path):
            return self.top_lsn
        size = os.path.getsize(self.path)
        if size <= self.scanned:
            return self.top_lsn
        pos = self.scanned
        for pos, buf in iter_capture_from(self.path, self.scanned):
            msg = decode_message(buf)
            if isinstance(msg, Relation):
                self.rel_offsets.append(pos)
            elif isinstance(msg, Commit):
                self.top_lsn = max(self.top_lsn, msg.commit_lsn)
                self.commits.append(
                    (msg.commit_lsn, pos + 4 + len(buf), len(self.rel_offsets))
                )
            self.scanned = pos + 4 + len(buf)
        return self.top_lsn

    def offset_after(self, commit_lsn: int) -> int | None:
        """Byte offset just past the given commit's frame (None when
        the LSN is not an indexed commit)."""
        for lsn, off, _n in self.commits:
            if lsn == commit_lsn:
                return off
        return None

    def seek_point(self, start_lsn: int) -> tuple[int, list[int]]:
        """(byte offset, relation offsets to replay) for a range read
        beginning strictly after ``start_lsn``. Commits are recorded in
        arrival order, which is LSN order on a single WAL."""
        best = (0, 0)
        for lsn, off, nrel in self.commits:
            if lsn <= start_lsn:
                best = (off, nrel)
            else:
                break
        off, nrel = best
        return off, self.rel_offsets[:nrel]

    def relations(self) -> list:
        """The capture's Relation messages (its DDL), in arrival order,
        read by seeking to each indexed relation frame."""
        from pgsink_spark.streaming.decoder import decode_message

        return [decode_message(b) for b in _frames_at(self.path, self.rel_offsets)]


def _frames_at(path: str, offsets) -> list[bytes]:
    """The frames starting at the given byte offsets (one seek each)."""
    out = []
    if not offsets:
        return out  # the file may not exist yet
    with open(path, "rb") as f:
        for off in offsets:
            f.seek(off)
            (n,) = struct.unpack(">I", f.read(4))
            out.append(f.read(n))
    return out


@dataclass
class _RangePartition(InputPartition):
    path: str
    start_lsn: int
    end_lsn: int
    # index-derived seek plan: decode from seek_offset instead of byte
    # 0, after replaying the relation frames at rel_offsets to rebuild
    # the relation cache (safe defaults = full scan); stop_offset ends
    # the scan just past the window's end commit instead of at EOF
    seek_offset: int = 0
    rel_offsets: tuple = ()
    stop_offset: int | None = None


class PgoutputStreamReader(DataSourceStreamReader):
    """LSN-offset stream over a pgoutput capture file."""

    def __init__(self, options: dict):
        self.path = options["path"]
        self.start_from = int(options.get("startlsn", "0"))
        # backpressure (the reference bounds its channel buffers,
        # importer.go:107; Spark sources bound the OFFSET RANGE):
        # each micro-batch advances at most this many commits past the
        # previous window's end, so a deep capture backlog drains as
        # bounded batches instead of one giant catch-up batch
        self.max_commits = int(options.get("maxcommitspertrigger", "0"))
        # driver-side tail index: each poll scans only appended bytes,
        # each batch read seeks — O(new data) per batch, not O(file)
        self._index = CaptureIndex(self.path)
        # pacing floor; over an existing checkpoint a fresh reader
        # starts it at startlsn=resume_lsn(checkpoint)
        self._paced_to = self.start_from

    def initialOffset(self) -> dict:
        return {"lsn": self.start_from}

    def latestOffset(self) -> dict:
        top = max(self.start_from, self._index.refresh())
        if self.max_commits > 0:
            ahead = [
                lsn for lsn, _off, _n in self._index.commits
                if lsn > self._paced_to
            ]
            if len(ahead) > self.max_commits:
                top = ahead[self.max_commits - 1]
        self._paced_to = max(self._paced_to, top)
        return {"lsn": top}

    def partitions(self, start: dict, end: dict):
        if end["lsn"] < start["lsn"]:
            # an unfloored reader over an existing checkpoint: the
            # next batch would start at `end` and re-read committed rows
            raise ValueError(
                f"window end {end['lsn']} is behind the resumed offset "
                f"{start['lsn']}: a reader over an existing checkpoint "
                "needs startlsn=resume_lsn(checkpoint)"
            )
        # a re-run batch is planned before any latestOffset call
        self._paced_to = max(self._paced_to, end["lsn"])
        # one partition, in arrival order: it seeks to the last commit at
        # or before `start` and stops past the commit at `end`, so a
        # window decodes only its own commits, not the capture's tail
        self._index.refresh()
        seek, rels = self._index.seek_point(start["lsn"])
        return [
            _RangePartition(
                self.path, start["lsn"], end["lsn"], seek, tuple(rels),
                self._index.offset_after(end["lsn"]),
            )
        ]

    def read(self, partition: _RangePartition):
        from pgsink_spark.streaming.marshal import RelationCache, marshal
        from pgsink_spark.streaming.decoder import decode_message
        from pgsink_spark.streaming.sequence import Sequencer

        cache = RelationCache()
        seq = Sequencer()
        # relation frames that precede the seek point: replay just them
        # (each is a seek + one tiny frame read) so DML after the seek
        # finds its table even when its Relation message is far behind
        for buf in _frames_at(partition.path, partition.rel_offsets):
            cache.register(decode_message(buf))
        # Arrow-batched emit: the Python source's per-row pickle is the
        # hot-path killer (measured: tuple yield caps the e2e stream at
        # ~8k rows/s while the decode loop itself does ~100k). Yielding
        # pyarrow.RecordBatch moves the source→JVM hop to Arrow
        # columnar transfer; rows buffer per ARROW_BATCH rows.
        import pyarrow as pa

        ARROW_BATCH = 8192
        cols: list[list] = [[], [], [], [], [], [], []]

        def flush_batch():
            batch = pa.RecordBatch.from_arrays(
                [
                    pa.array(cols[0], pa.timestamp("us")),
                    pa.array(cols[1], pa.string()),
                    pa.array(cols[2], pa.string()),
                    pa.array(cols[3], pa.int64()),
                    pa.array(cols[4], pa.int64()),
                    pa.array(cols[5], pa.map_(pa.string(), pa.string())),
                    pa.array(cols[6], pa.map_(pa.string(), pa.string())),
                ],
                names=[
                    "timestamp",
                    "namespace",
                    "name",
                    "lsn",
                    "sequence",
                    "before",
                    "after",
                ],
            )
            for c in cols:
                c.clear()
            return batch

        if not os.path.exists(partition.path):
            return  # nothing captured yet: an empty (start==end) batch
        stop = partition.stop_offset
        for _pos, buf in iter_capture_from(
            partition.path, partition.seek_offset
        ):
            if stop is not None and _pos >= stop:
                break
            sm = seq.feed(decode_message(buf))
            if sm is None:
                continue
            mod = marshal(cache, sm)
            if mod is None:
                continue
            # half-open (start, end]: replay exactness across batches
            if not (partition.start_lsn < mod.lsn <= partition.end_lsn):
                continue
            before, after = _stringify(mod.before), _stringify(mod.after)
            cols[0].append(mod.timestamp.replace(tzinfo=None))
            cols[1].append(mod.namespace)
            cols[2].append(mod.name)
            cols[3].append(mod.lsn)
            cols[4].append(mod.sequence)
            cols[5].append(None if before is None else list(before.items()))
            cols[6].append(None if after is None else list(after.items()))
            if len(cols[0]) >= ARROW_BATCH:
                yield flush_batch()
        if cols[0]:
            yield flush_batch()

    def commit(self, end: dict) -> None:
        """Checkpoint-commit hook → confirmed-flush LSN.

        Mirrors stream.Confirm + standby status: the ``.confirmed``
        offset file is what a live socket writer reads to set
        ``ReplicationClient.flush_lsn``. Spark hands batch N's end
        offset to this hook only when it plans batch N+1, so in a
        query that stops the last batch is never confirmed here;
        ``confirm_committed`` confirms it from the checkpoint after the
        query stops.
        """
        confirm_lsn(self.path, end["lsn"])


def confirm_lsn(path: str, lsn: int) -> None:
    """Advance the capture's confirmed LSN; never moves it backwards."""
    from pgsink_spark.streaming.offsets import OffsetStore

    store = OffsetStore(path + ".confirmed")
    if store.confirmed_lsn is None or lsn > store.confirmed_lsn:
        store.confirm(lsn)


def _logged_end(checkpoint: str, log: str) -> int | None:
    """End offset of the highest batch id in ``<checkpoint>/<log>``
    (``offsets``: logged, ``commits``: committed), None before the
    first. That batch's ``offsets`` entry holds, after the version and
    metadata lines, this (single) source's end offset."""
    try:
        ids = [
            int(f) for f in os.listdir(os.path.join(checkpoint, log))
            if f.isdigit()
        ]
    except FileNotFoundError:
        return None
    if not ids:
        return None
    with open(os.path.join(checkpoint, "offsets", str(max(ids)))) as f:
        return json.loads(f.read().splitlines()[2])["lsn"]


def resume_lsn(checkpoint: str) -> int:
    """Where a query over ``checkpoint`` resumes: the end offset of the
    last committed batch, 0 before the first commit. Pass it as
    ``startlsn`` so a paced reader plans its first new window from
    there. A logged batch that never committed is re-run first over its
    logged range (from the initial offset if it is batch 0), and
    ``partitions`` raises the floor to that range's end."""
    return _logged_end(checkpoint, "commits") or 0


def confirm_committed(path: str, checkpoint: str) -> None:
    """Confirm the end offset of the checkpoint's last committed batch.

    Reading the checkpoint, not the query's last progress, also covers
    a run with no new batch. Before the first commit there is
    nothing to confirm."""
    lsn = _logged_end(checkpoint, "commits")
    if lsn is not None:
        confirm_lsn(path, lsn)


def _bytea_text(v: bytes) -> str:
    return "\\x" + v.hex()


def _array_text(v: list) -> str:
    return json.dumps([None if x is None else _text(x) for x in v])


# decoded values whose str() is not the text cast_envelope parses back
_TEXT = {bytes: _bytea_text, list: _array_text}


def _text(v) -> str:
    """One decoded value as the text ``cast_envelope`` parses: bytea in
    pgoutput's hex form (``\\x0102ff``), an array as a JSON list of
    its elements' texts (``["1",null,"a,b"]``), anything else str()."""
    return _TEXT.get(type(v), str)(v)


def _stringify(d: dict | None) -> dict | None:
    if d is None:
        return None
    return {k: (None if v is None else _text(v)) for k, v in d.items()}


class PgoutputDataSource(DataSource):
    """``spark.readStream.format("pgoutput").option("path", ...)``."""

    @classmethod
    def name(cls) -> str:
        return "pgoutput"

    def schema(self) -> StructType:
        return GENERIC_ENVELOPE

    def streamReader(self, schema: StructType) -> PgoutputStreamReader:
        return PgoutputStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(PgoutputDataSource)
