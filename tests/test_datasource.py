"""Streaming DataSource tests: pgoutput capture → Spark stream → commit.

The driver contract under test is the reference's
no-redelivery-after-confirm property (subscription_test.go:205-262),
re-expressed as Spark streaming-offset semantics: the checkpoint owns
the LSN offset, `commit` advances the confirmed watermark, and a
restarted query resumes past it.
"""

from __future__ import annotations

import datetime
from datetime import timezone

from pgsink_spark.streaming.datasource import (
    PgoutputStreamReader,
    append_capture,
    read_capture,
    register,
)
from pgsink_spark.streaming.decoder import (
    Relation,
    RelationColumn,
    encode_begin,
    encode_commit,
    encode_insert,
    encode_relation,
)
from pgsink_spark.streaming.offsets import OffsetStore

TS = datetime.datetime(2024, 3, 1, 12, 0, 0, tzinfo=timezone.utc)

REL = Relation(
    oid=16384,
    namespace="public",
    name="example",
    replica_identity=0,
    columns=(
        RelationColumn(key=True, name="id", type_oid=20, modifier=0xFFFFFFFF),
        RelationColumn(key=False, name="v", type_oid=25, modifier=0xFFFFFFFF),
    ),
)


def _txn(lsn, xid, *rows):
    return [
        encode_begin(lsn, TS, xid),
        encode_relation(REL),
        *[encode_insert(REL.oid, r) for r in rows],
        encode_commit(0, lsn, lsn + 1, TS),
    ]


def _read_rows(reader, part):
    """Flatten the reader's Arrow batches back to row tuples (the
    pre-Arrow test shape: maps as dicts, columns positional)."""
    out = []
    for batch in reader.read(part):
        for r in batch.to_pylist():
            out.append((
                r["timestamp"], r["namespace"], r["name"], r["lsn"],
                r["sequence"],
                None if r["before"] is None else dict(r["before"]),
                None if r["after"] is None else dict(r["after"]),
            ))
    return out


def test_capture_roundtrip(tmp_path):
    path = str(tmp_path / "wal.capture")
    msgs = _txn(100, 7, (1, "a"), (2, "b"))
    append_capture(path, msgs)
    append_capture(path, _txn(200, 8, (3, "c")))
    assert read_capture(path) == msgs + _txn(200, 8, (3, "c"))


def test_reader_offsets_and_range_reads(tmp_path):
    path = str(tmp_path / "wal.capture")
    append_capture(path, _txn(100, 7, (1, "a")) + _txn(200, 8, (2, "b")))
    reader = PgoutputStreamReader({"path": path})
    assert reader.initialOffset() == {"lsn": 0}
    assert reader.latestOffset() == {"lsn": 200}

    (part,) = reader.partitions({"lsn": 0}, {"lsn": 200})
    rows = _read_rows(reader, part)
    assert [(r[3], r[6]["id"]) for r in rows] == [(100, "1"), (200, "2")]

    # half-open range: a second batch starting at 100 excludes txn 100
    (part2,) = reader.partitions({"lsn": 100}, {"lsn": 200})
    rows2 = _read_rows(reader, part2)
    assert [(r[3], r[6]["id"]) for r in rows2] == [(200, "2")]


def test_commit_advances_confirmed_watermark(tmp_path):
    path = str(tmp_path / "wal.capture")
    append_capture(path, _txn(100, 7, (1, "a")))
    reader = PgoutputStreamReader({"path": path})
    reader.commit({"lsn": 100})
    assert OffsetStore(path + ".confirmed").confirmed_lsn == 100
    # monotonic: late/duplicate commits never regress the watermark
    reader.commit({"lsn": 50})
    assert OffsetStore(path + ".confirmed").confirmed_lsn == 100


def test_streaming_source_e2e_with_restart(spark, tmp_path):
    """Live stream: rows land per micro-batch; `commit` advances the
    confirmed watermark one batch behind (Spark acks batch N when batch
    N+1 plans — the same next-heartbeat WAL-release lag the reference
    has); a restart from the checkpoint redelivers at most the final
    uncommitted batch (foreachBatch's at-least-once contract) and
    never the committed prefix."""
    import time

    path = str(tmp_path / "wal.capture")
    ckpt = str(tmp_path / "ckpt")

    register(spark)

    def start(batch_rows):
        def sink(df, _bid):
            batch_rows.extend(df.collect())

        return (
            spark.readStream.format("pgoutput")
            .option("path", path)
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="300 milliseconds")
            .start()
        )

    def wait_for(cond, timeout_s=150.0):
        # generous ceiling: under full-suite load a 300 ms-trigger
        # micro-batch can take tens of seconds to schedule (observed
        # flake at 60 s with 32 busy cores); the happy path returns in
        # ~2 s regardless
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            if cond():
                return True
            time.sleep(0.2)
        return False

    def confirmed():
        import os

        if not os.path.exists(path + ".confirmed"):
            return 0
        return OffsetStore(path + ".confirmed").confirmed_lsn or 0

    rows: list = []
    append_capture(path, _txn(100, 7, (1, "a")) + _txn(200, 8, (2, "b")))
    q = start(rows)
    try:
        assert wait_for(lambda: len(rows) == 2)
        assert [(r["lsn"], r["after"]["id"]) for r in rows] == [
            (100, "1"),
            (200, "2"),
        ]
        # next transaction arrives → batch 1 delivers it AND acks batch 0
        append_capture(path, _txn(300, 9, (3, "c")))
        assert wait_for(lambda: len(rows) == 3 and confirmed() >= 200)
        assert (rows[2]["lsn"], rows[2]["after"]["id"]) == (300, "3")
    finally:
        q.stop()
        q.awaitTermination()

    # restart from the checkpoint: at-least-once — a stop() landing
    # between the offset-log and commit-log writes legitimately
    # re-executes the LAST batch (foreachBatch's documented contract;
    # the warehouse sink's published epochs are what upgrade this to
    # exactly-once). So: the new transaction must flow, nothing from
    # the fully-committed prefix may reappear, and at most the final
    # pre-stop batch (lsn 300) may be redelivered.
    rows2: list = []
    q2 = start(rows2)
    try:
        append_capture(path, _txn(400, 10, (4, "d")))
        assert wait_for(
            lambda: any(r["lsn"] == 400 for r in rows2) and confirmed() >= 300
        )
        got = [(r["lsn"], r["after"]["id"]) for r in rows2]
        assert got[-1] == (400, "4")
        assert set(got) <= {(300, "3"), (400, "4")}
    finally:
        q2.stop()
        q2.awaitTermination()


def test_capture_index_tail_scan_and_seek(tmp_path):
    """The commit-boundary index scans only appended bytes per refresh
    and a range read decodes only bytes past the seek point (plus the
    relation frames it replays) — O(new data), not O(file)."""
    from pgsink_spark.streaming.datasource import CaptureIndex

    path = str(tmp_path / "wal.capture")
    append_capture(path, _txn(100, 7, (1, "a")) + _txn(200, 8, (2, "b")))
    idx = CaptureIndex(path)
    assert idx.refresh() == 200
    scanned_once = idx.scanned
    assert idx.refresh() == 200          # no new bytes → no rescan
    assert idx.scanned == scanned_once

    append_capture(path, _txn(300, 9, (3, "c")))
    assert idx.refresh() == 300
    assert idx.scanned > scanned_once

    # seek for a read starting after lsn 200 lands past txn 200's
    # commit and carries the two relation frames seen before it
    seek, rels = idx.seek_point(200)
    assert seek > 0
    assert len(rels) == 2

    reader = PgoutputStreamReader({"path": path})
    parts = reader.partitions({"lsn": 200}, {"lsn": 300})
    assert parts[0].seek_offset == seek
    rows = _read_rows(reader, parts[0])
    assert [(r[3], r[6]["id"]) for r in rows] == [(300, "3")]

    # a full-range read through the seek machinery equals a cold scan
    cold = PgoutputStreamReader({"path": path})
    all_rows = _read_rows(cold, cold.partitions({"lsn": 0}, {"lsn": 300})[0])
    assert [(r[3], r[6]["id"]) for r in all_rows] == [
        (100, "1"), (200, "2"), (300, "3"),
    ]


def test_capture_index_seek_survives_schema_change(tmp_path):
    """A relation re-sent with a new column BEFORE the seek point is
    the one the replay registers (last relation wins)."""
    from pgsink_spark.streaming.datasource import CaptureIndex
    from pgsink_spark.streaming.decoder import encode_update

    rel_v2 = Relation(
        16384, "public", "example", 0,
        (RelationColumn(True, "id", 20, 0xFFFFFFFF),
         RelationColumn(False, "v", 25, 0xFFFFFFFF),
         RelationColumn(False, "extra", 20, 0xFFFFFFFF)),
    )
    path = str(tmp_path / "wal.capture")
    append_capture(path, _txn(100, 7, (1, "a")))
    append_capture(path, [
        encode_begin(200, TS, 8), encode_relation(rel_v2),
        encode_insert(rel_v2.oid, (b"2", b"b", b"9")),
        encode_commit(0, 200, 201, TS),
    ])
    append_capture(path, [
        encode_begin(300, TS, 9),
        encode_insert(rel_v2.oid, (b"3", b"c", b"10")),
        encode_commit(0, 300, 301, TS),
    ])
    idx = CaptureIndex(path)
    idx.refresh()
    seek, rels = idx.seek_point(200)
    assert len(rels) == 2  # v1 + v2 frames, replayed in order

    reader = PgoutputStreamReader({"path": path})
    rows = _read_rows(reader, reader.partitions({"lsn": 200}, {"lsn": 300})[0])
    # the v2 relation (3 columns) marshals the post-seek insert
    assert rows[0][6] == {"id": "3", "v": "c", "extra": "10"}


def test_max_commits_per_trigger_bounds_each_batch(tmp_path):
    """Backpressure: with maxcommitspertrigger=1 a 3-txn backlog plans
    three bounded offset ranges instead of one catch-up batch."""
    path = str(tmp_path / "wal.capture")
    append_capture(
        path,
        _txn(100, 7, (1, "a")) + _txn(200, 8, (2, "b")) + _txn(300, 9, (3, "c")),
    )
    reader = PgoutputStreamReader(
        {"path": path, "maxcommitspertrigger": "1"}
    )
    assert reader.latestOffset() == {"lsn": 100}
    assert reader.latestOffset() == {"lsn": 200}
    assert reader.latestOffset() == {"lsn": 300}
    assert reader.latestOffset() == {"lsn": 300}  # drained → stable

    # unbounded reader still jumps straight to the top
    assert PgoutputStreamReader({"path": path}).latestOffset() == {
        "lsn": 300
    }


def test_paced_window_decodes_no_frame_past_its_end(tmp_path, monkeypatch):
    """A paced window stops decoding at its end commit: the first
    3-commit window of a 9-commit capture decodes its own 12 frames,
    not the 24 behind it, and the mid-stream window after it replays
    its relations, starts at its seek point and stops at its end just
    the same."""
    from pgsink_spark.streaming import decoder

    path = str(tmp_path / "wal.capture")
    frames = []
    for i in range(9):
        frames += _txn(100 * (i + 1), i + 1, (i + 1, f"v{i}"))
    append_capture(path, frames)

    reader = PgoutputStreamReader({"path": path, "maxcommitspertrigger": "3"})
    windows = []
    start = reader.initialOffset()
    for _ in range(2):
        end = reader.latestOffset()
        windows.append((start, end, reader.partitions(start, end)))
        start = end
    assert [e["lsn"] for _s, e, _p in windows] == [300, 600]

    decoded = []
    real = decoder.decode_message
    monkeypatch.setattr(
        decoder, "decode_message", lambda buf: decoded.append(buf) or real(buf)
    )
    for (_s, _e, (part,)), ids in zip(windows, [{"1", "2", "3"}, {"4", "5", "6"}]):
        decoded.clear()
        rows = _read_rows(reader, part)
        assert {r[6]["id"] for r in rows} == ids
        # the replayed relation frames, then 3 transactions of begin,
        # relation, insert, commit
        assert len(decoded) == len(part.rel_offsets) + 12


def test_capture_index_property_random_streams(tmp_path):
    """Property: for ANY transaction layout and ANY split point, the
    seek-based range read equals the cold full-scan read filtered to
    the same range (hypothesis over txn counts/sizes/relation resends)."""
    from hypothesis import given, settings, strategies as st

    from pgsink_spark.streaming.decoder import encode_update

    @settings(max_examples=25, deadline=None)
    @given(
        txn_sizes=st.lists(st.integers(1, 4), min_size=1, max_size=12),
        resend_every=st.integers(1, 5),
        split_at=st.integers(0, 12),
        data=st.data(),
    )
    def check(txn_sizes, resend_every, split_at, data):
        import uuid

        path = str(tmp_path / f"cap_{uuid.uuid4().hex}.capture")
        frames = []
        row_id = 0
        for t, size in enumerate(txn_sizes):
            lsn = 100 * (t + 1)
            frames.append(encode_begin(lsn, TS, t + 1))
            if t % resend_every == 0:
                frames.append(encode_relation(REL))
            for _ in range(size):
                row_id += 1
                frames.append(
                    encode_insert(REL.oid, (str(row_id).encode(), b"v"))
                )
            frames.append(encode_commit(0, lsn, lsn + 1, TS))
        append_capture(path, frames)
        top = 100 * len(txn_sizes)
        start = min(split_at, len(txn_sizes)) * 100

        cold = PgoutputStreamReader({"path": path})
        full = _read_rows(cold, cold.partitions({"lsn": 0}, {"lsn": top})[0])
        expect = [r for r in full if r[3] > start]

        warm = PgoutputStreamReader({"path": path})
        warm.latestOffset()
        got = _read_rows(warm, warm.partitions({"lsn": start}, {"lsn": top})[0])
        assert got == expect

    check()


def test_paced_reader_floor_independence_and_backward_range(tmp_path):
    """A paced reader built with startlsn plans its windows from that
    floor; two readers over one capture pace independently (each keeps
    its own floor, nothing is shared on disk); and a backward range,
    which an unfloored reader over an existing checkpoint would plan,
    raises instead of letting the next batch re-read committed rows."""
    import os

    import pytest

    path = str(tmp_path / "wal.capture")
    append_capture(
        path,
        _txn(100, 7, (1, "a")) + _txn(200, 8, (2, "b")) + _txn(300, 9, (3, "c")),
    )
    floored = PgoutputStreamReader(
        {"path": path, "maxcommitspertrigger": "1", "startlsn": "100"}
    )
    assert floored.latestOffset() == {"lsn": 200}
    assert floored.latestOffset() == {"lsn": 300}
    assert floored.latestOffset() == {"lsn": 300}

    r1 = PgoutputStreamReader({"path": path, "maxcommitspertrigger": "1"})
    r2 = PgoutputStreamReader({"path": path, "maxcommitspertrigger": "1"})
    assert r1.latestOffset() == {"lsn": 100}
    assert r1.latestOffset() == {"lsn": 200}
    assert r2.latestOffset() == {"lsn": 100}
    assert r1.latestOffset() == {"lsn": 300}
    assert r2.latestOffset() == {"lsn": 200}
    assert os.listdir(tmp_path) == ["wal.capture"]

    with pytest.raises(ValueError, match=r"startlsn=resume_lsn\(checkpoint\)"):
        r2.partitions({"lsn": 300}, {"lsn": 100})
    # an empty range (nothing new since the resumed offset) is fine
    assert r2.partitions({"lsn": 300}, {"lsn": 300})
