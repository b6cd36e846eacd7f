"""`stream run --sink warehouse` end to end on small captures: a bounded
drain reads each row from the source once, starts one query whatever
the window size (also when it resumes an existing checkpoint), confirms
the capture's last commit, reruns exactly-once after a crash at a sink
commit boundary, writes every raw file in pk order, and bytea and array
columns land exactly as they were committed."""

from __future__ import annotations

import datetime
import os
import time

import pytest

from pgsink_spark.changelog.registry import entry_from_relation
from pgsink_spark.cli import main
from pgsink_spark.sinks.warehouse import WarehouseSink
from pgsink_spark.streaming.datasource import append_capture
from pgsink_spark.streaming.decoder import (
    Relation,
    RelationColumn,
    encode_begin,
    encode_commit,
    encode_delete,
    encode_insert,
    encode_relation,
    encode_update,
)
from pgsink_spark.streaming.offsets import OffsetStore

TS = datetime.datetime(2024, 3, 1, tzinfo=datetime.timezone.utc)
INT8, TEXT, BYTEA, INT4_ARR, TEXT_ARR = 20, 25, 17, 1007, 1009


def _rel(oid: int, name: str, *cols) -> Relation:
    return Relation(
        oid, "public", name, 0,
        (RelationColumn(True, "id", INT8, 0xFFFFFFFF),)
        + tuple(RelationColumn(False, c, t, 0xFFFFFFFF) for c, t in cols),
    )


def _txn(lsn: int, *msgs) -> list:
    return [encode_begin(lsn, TS, lsn), *msgs, encode_commit(0, lsn, lsn + 1, TS)]


def _stream(root: str, cap: str, *extra) -> None:
    assert main(["--root", root, "stream", "run", "--capture", cap,
                 "--sink", "warehouse", *extra]) == 0


def _view_rows(spark, root: str, rel: Relation) -> dict:
    wh = WarehouseSink(spark, os.path.join(root, "sink", "warehouse"))
    wh.handle_schema(entry_from_relation(rel))
    view = wh.install_view(rel.namespace, rel.name)
    return {r["id"]: tuple(r)[1:] for r in spark.table(view).collect()}


def _listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.started, self.terminated, self.rows = 0, 0, 0

        def onQueryStarted(self, event):
            self.started += 1

        def onQueryProgress(self, event):
            self.rows += event.progress.numInputRows

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated += 1

        def settle(self, timeout: float = 30.0):
            # events arrive asynchronously, after awaitTermination returns
            end = time.time() + timeout
            while self.terminated < self.started and time.time() < end:
                time.sleep(0.05)
            time.sleep(0.3)

    return Listener()


def _drain_capture(root, cap, max_commits, spark):
    """One `stream run` at --max-commits; (queries started, source rows
    read) from a listener around it."""
    lst = _listener()
    spark.streams.addListener(lst)
    try:
        _stream(root, cap, "--max-commits", str(max_commits))
        lst.settle()
    finally:
        spark.streams.removeListener(lst)
    return lst.started, lst.rows


def test_bounded_drain_reads_once_and_confirms_last_commit(tmp_path, spark):
    """5 commits over 3 tables at --max-commits 2: one query plans all
    3 windows, every row read from the source once however many tables
    a batch fans out to, and the last commit confirmed; a rerun with no
    new data restores a lost confirmation from the checkpoint."""
    rels = [_rel(16400 + i, f"t{i}", ("v", TEXT)) for i in range(3)]
    frames, lsns, n_rows = [], [], 0
    for i in range(5):
        lsn = 100 * (i + 1)
        msgs = [encode_relation(r) for r in rels] if i == 0 else []
        for r in rels:
            msgs.append(encode_insert(r.oid, (str(i + 1).encode(), b"x")))
            n_rows += 1
        if i:
            msgs.append(encode_update(rels[0].oid, (b"1", f"v{i}".encode())))
            n_rows += 1
        frames += _txn(lsn, *msgs)
        lsns.append(lsn)
    cap = str(tmp_path / "wal.capture")
    append_capture(cap, frames)
    root = str(tmp_path / "state")

    started, read = _drain_capture(root, cap, 2, spark)
    written = sum(
        spark.read.parquet(os.path.join(
            root, "sink", "warehouse", f"public_{r.name}_raw")).count()
        for r in rels
    )
    assert written == n_rows
    assert read == n_rows
    assert started == 1
    assert OffsetStore(cap + ".confirmed").confirmed_lsn == lsns[-1]
    assert _view_rows(spark, root, rels[0])[1] == ("v4",)

    os.remove(cap + ".confirmed")
    _stream(root, cap, "--max-commits", "2")
    assert OffsetStore(cap + ".confirmed").confirmed_lsn == lsns[-1]
    assert sum(
        spark.read.parquet(os.path.join(
            root, "sink", "warehouse", f"public_{r.name}_raw")).count()
        for r in rels
    ) == n_rows


def test_rerun_resumes_paced_from_checkpoint(tmp_path, spark):
    """Drain 5 commits at --max-commits 3, append 3 more, rerun at
    --max-commits 1: the rerun is one query that reads only the 6 new
    rows, pacing from the checkpoint's last logged offset; without
    that floor its fresh reader would plan a window behind the resumed
    offset and re-read committed rows."""
    rels = [_rel(16430 + i, f"r{i}") for i in range(2)]

    def commits(first: int, n: int) -> tuple[list, list]:
        frames, lsns = [], []
        for i in range(first, first + n):
            lsn = 100 * (i + 1)
            msgs = [encode_relation(r) for r in rels] if i == 0 else []
            msgs += [encode_insert(r.oid, (str(i + 1).encode(),)) for r in rels]
            frames += _txn(lsn, *msgs)
            lsns.append(lsn)
        return frames, lsns

    cap = str(tmp_path / "wal.capture")
    root = str(tmp_path / "state")
    frames, _ = commits(0, 5)
    append_capture(cap, frames)
    assert _drain_capture(root, cap, 3, spark) == (1, 10)

    frames, lsns = commits(5, 3)
    append_capture(cap, frames)
    assert _drain_capture(root, cap, 1, spark) == (1, 6)
    for r in rels:
        assert spark.read.parquet(os.path.join(
            root, "sink", "warehouse", f"public_{r.name}_raw")).count() == 8
    assert OffsetStore(cap + ".confirmed").confirmed_lsn == lsns[-1]


def _three_table_capture(cap: str) -> tuple[list, dict, list]:
    """5 commits over t0, t1, t2: t0 only in the first two, so at
    --max-commits 2 the first batch is the last one that writes it.
    Returns (relations, {table: [(lsn, id, v or None for a delete)]},
    commit LSNs)."""
    rels = [_rel(16440 + i, f"t{i}", ("v", TEXT)) for i in range(3)]
    t0, t1, t2 = (r.oid for r in rels)
    commits = [
        (100, [("I", t0, 1, "a"), ("I", t0, 2, "b"), ("I", t1, 1, "a"),
               ("I", t2, 1, "a")]),
        (200, [("U", t0, 1, "a2"), ("D", t0, 2, "b"), ("I", t1, 2, "b"),
               ("I", t2, 2, "b")]),
        (300, [("I", t1, 3, "c"), ("U", t1, 1, "a3"), ("I", t2, 3, "c")]),
        (400, [("D", t2, 1, "a"), ("I", t1, 4, "d"), ("I", t2, 4, "d")]),
        (500, [("U", t1, 2, "b5"), ("I", t2, 5, "e")]),
    ]
    encode = {
        "I": lambda oid, row: encode_insert(oid, row),
        "U": lambda oid, row: encode_update(oid, row),
        "D": lambda oid, row: encode_delete(oid, old=row),
    }
    names = {r.oid: r.name for r in rels}
    frames, changes = [], {r.name: [] for r in rels}
    for i, (lsn, ops) in enumerate(commits):
        msgs = [encode_relation(r) for r in rels] if i == 0 else []
        for op, oid, k, v in ops:
            msgs.append(encode[op](oid, (str(k).encode(), v.encode())))
            changes[names[oid]].append((lsn, k, None if op == "D" else v))
        frames += _txn(lsn, *msgs)
    append_capture(cap, frames)
    return rels, changes, [lsn for lsn, _ in commits]


# fault point → (WarehouseSink method, the call that raises, its table)
FAULTS = {
    # table 2 of 3 in the first batch, after table 1 was published
    "insert_table_2_of_3": ("insert", 2, "t1"),
    # the first publish, after table 1's files are written
    "commit_manifest_first_call": ("commit_manifest", 1, "t0"),
}


@pytest.mark.parametrize("fault", sorted(FAULTS))
def test_crash_at_sink_commit_boundary_reruns_exactly_once(
    tmp_path, spark, monkeypatch, fault
):
    """A `stream run` that raises at a sink commit boundary, rerun to
    completion: every change is in raw storage exactly once, the
    published snapshot's view equals the fold of the capture, and the
    source confirms the last commit."""
    cap = str(tmp_path / "wal.capture")
    rels, changes, lsns = _three_table_capture(cap)
    root = str(tmp_path / "state")

    method, nth, table = FAULTS[fault]
    real = getattr(WarehouseSink, method)
    calls = []

    def faulty(self, *args, **kwargs):
        # insert(env, ns, name, ...) / commit_manifest(ns, name, ...)
        calls.append(args[2] if method == "insert" else args[1])
        if len(calls) == nth:
            raise RuntimeError(f"injected fault in {method}")
        return real(self, *args, **kwargs)

    monkeypatch.setattr(WarehouseSink, method, faulty)
    with pytest.raises(Exception, match="injected fault"):
        _stream(root, cap, "--max-commits", "2")
    assert calls[nth - 1] == table
    monkeypatch.undo()
    _stream(root, cap, "--max-commits", "2")

    wh = WarehouseSink(spark, os.path.join(root, "sink", "warehouse"))
    for rel in rels:
        wh.handle_schema(entry_from_relation(rel))
        raw = spark.read.parquet(os.path.join(
            root, "sink", "warehouse", f"public_{rel.name}_raw")).collect()
        keys = [(r["lsn"], r["sequence"]) for r in raw]
        assert len(keys) == len(set(keys)) == len(changes[rel.name])
        assert sorted(lsn for lsn, _ in keys) == sorted(
            lsn for lsn, _, _ in changes[rel.name])
        fold = {}
        for _, k, v in changes[rel.name]:
            fold[k] = v
        view = wh.install_view(rel.namespace, rel.name, snapshot=True)
        assert {r["id"]: r["v"] for r in spark.table(view).collect()} == {
            k: v for k, v in fold.items() if v is not None}
    assert OffsetStore(cap + ".confirmed").confirmed_lsn == lsns[-1]


def test_warehouse_raw_files_sorted_by_pk(tmp_path, spark):
    """Every raw parquet file a drain writes holds its rows in pk order
    (the C3 clustering pk-point reads rely on), however out of order
    the commits carried them."""
    import random

    import pyarrow.parquet as pq

    rel = _rel(16430, "shuffled", ("v", TEXT))
    ids = list(range(1, 61))
    random.Random(7).shuffle(ids)
    frames = []
    for i in range(3):
        chunk = ids[20 * i:20 * (i + 1)]
        msgs = [encode_relation(rel)] if i == 0 else []
        msgs += [encode_insert(rel.oid, (str(k).encode(), b"x")) for k in chunk]
        frames += _txn(100 * (i + 1), *msgs)
    cap = str(tmp_path / "wal.capture")
    append_capture(cap, frames)
    root = str(tmp_path / "state")
    _stream(root, cap, "--max-commits", "2")
    raw = os.path.join(root, "sink", "warehouse", "public_shuffled_raw")
    files = [os.path.join(d, f) for d, _dn, fs in os.walk(raw)
             for f in fs if f.endswith(".parquet")]
    seen = []
    for path in files:
        keys = pq.read_table(path).column("payload").combine_chunks().field("id")
        keys = keys.to_pylist()
        assert keys == sorted(keys), path
        seen += keys
    assert len(files) >= 2 and sorted(seen) == list(range(1, 61))


def test_bytea_roundtrip_through_warehouse(tmp_path, spark):
    """pgoutput's hex bytea text lands as the original bytes, in both
    the before and the after image, and the view serves them."""
    rel = _rel(16410, "blobs", ("data", BYTEA))
    cap = str(tmp_path / "wal.capture")
    append_capture(cap, _txn(
        100, encode_relation(rel),
        encode_insert(rel.oid, (b"1", b"\\x0102ff")),
        encode_insert(rel.oid, (b"2", b"\\x")),
        encode_insert(rel.oid, (b"3", None)),
        encode_insert(rel.oid, (b"4", b"\\x00")),
    ) + _txn(
        200,
        encode_update(rel.oid, (b"2", b"\\xdeadbeef"), old=(b"2", b"\\x")),
        encode_delete(rel.oid, old=(b"4", b"\\x00")),
    ))
    root = str(tmp_path / "state")
    _stream(root, cap)
    assert _view_rows(spark, root, rel) == {
        1: (b"\x01\x02\xff",), 2: (b"\xde\xad\xbe\xef",), 3: (None,),
    }
    raw = spark.read.parquet(
        os.path.join(root, "sink", "warehouse", "public_blobs_raw"))
    deleted = raw.where("operation = 'DELETE'").collect()
    assert [bytes(r["payload"]["data"]) for r in deleted] == [b"\x00"]


def test_array_columns_through_warehouse(tmp_path, spark):
    """int4[] and text[] columns: NULL elements, empty arrays, NULL
    arrays, and quoted strings holding commas, quotes, braces and the
    word NULL all come back element for element."""
    rel = _rel(16420, "tagsets", ("ints", INT4_ARR), ("tags", TEXT_ARR))
    rows = {
        1: (b"{1,NULL,-3}", b'{"a,b",NULL,"NULL",plain}'),
        2: (b"{}", b"{}"),
        3: (None, b'{"say \\"hi\\"","{x}","",NULL}'),
        4: (b"{7}", None),
    }
    cap = str(tmp_path / "wal.capture")
    append_capture(cap, _txn(100, encode_relation(rel), *(
        encode_insert(rel.oid, (str(k).encode(), *v)) for k, v in rows.items()
    )) + _txn(200, encode_update(
        rel.oid, (b"4", b"{NULL}", b"{NULL,null}"), old=(b"4", *rows[4]))))
    root = str(tmp_path / "state")
    _stream(root, cap)
    got = {k: tuple(None if a is None else list(a) for a in v)
           for k, v in _view_rows(spark, root, rel).items()}
    assert got == {
        1: ([1, None, -3], ["a,b", None, "NULL", "plain"]),
        2: ([], []),
        3: (None, ['say "hi"', "{x}", "", None]),
        4: ([None], [None, "null"]),
    }
