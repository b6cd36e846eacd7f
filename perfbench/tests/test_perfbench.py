"""Tests of the benchmark's own parts: seeded inputs, the independent fold
and the latency accounting. They need neither Spark nor the program.

    python3 -m pytest perfbench/tests -q
"""

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import gen  # noqa: E402
from gen import Change  # noqa: E402


def _digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _inputs(tmp, seed):
    tables = {t.name: t for t in gen.BACKLOG_TABLES}
    os.makedirs(tmp)
    gen.write_capture(os.path.join(tmp, "backlog.capture"),
                      gen.backlog_txns(seed, 40), tables)
    gen.write_capture(os.path.join(tmp, "arrays.capture"), gen.array_txns(seed),
                      {gen.ARRAYS.name: gen.ARRAYS})
    gen.write_backfill(seed, {"customers": 300, "orders": 500}, os.path.join(tmp, "snap"))
    return {os.path.relpath(os.path.join(d, f), tmp): _digest(os.path.join(d, f))
            for d, _dn, fs in os.walk(tmp) for f in fs}


def test_generator_is_byte_identical_for_a_seed(tmp_path):
    a = _inputs(str(tmp_path / "a"), 7)
    b = _inputs(str(tmp_path / "b"), 7)
    c = _inputs(str(tmp_path / "c"), 8)
    assert len(a) == 4
    assert a == b
    assert all(a[k] != c[k] for k in a)


def _ch(table, kind, lsn, seq, key, val):
    before = (key, "old") if kind in "UD" else None
    after = None if kind == "D" else (key, val)
    return Change(table, kind, lsn, seq, before, after)


def test_fold_by_hand():
    """Update, delete, then re-insert of key 1; three changes to key 2
    inside one commit; changes given out of (lsn, seq) order."""
    changes = [
        _ch("t", "I", 100, 1, 1, "a"),
        _ch("t", "I", 100, 2, 2, "b"),
        _ch("t", "U", 200, 1, 1, "a2"),
        _ch("t", "D", 300, 1, 1, None),
        _ch("t", "U", 400, 3, 2, "b3"),  # last change to 2 in commit 400
        _ch("t", "U", 400, 1, 2, "b1"),
        _ch("t", "U", 400, 2, 2, "b2"),
        _ch("t", "I", 500, 1, 1, "a3"),  # re-insert after delete
        _ch("u", "I", 500, 2, 9, "z"),
        _ch("u", "D", 600, 1, 9, None),
    ]
    state = check.fold(reversed(changes))
    assert state == {"t": {1: (1, "a3"), 2: (2, "b3")}, "u": {}}
    assert check.fold(changes[:4]) == {"t": {2: (2, "b")}}


def test_fold_matches_a_generated_stream_replayed_in_order():
    txns = gen.backlog_txns(5, 60)
    changes = [c for tx in txns for c in tx.changes]
    live = {}
    for c in changes:  # generated in (lsn, seq) order already
        rows = live.setdefault(c.table, {})
        if c.kind == "D":
            del rows[c.before[0]]
        else:
            rows[c.after[0]] = c.after
    assert check.fold(changes[::-1]) == live
    # the stream exercises what the fold must get right
    kinds = {c.kind for c in changes}
    assert kinds == {"I", "U", "D"}
    per_commit = {}
    for c in changes:
        k = (c.lsn, c.table, (c.after or c.before)[0])
        per_commit[k] = per_commit.get(k, 0) + 1
    assert max(per_commit.values()) > 1


def test_bytea_repr_is_the_only_tolerated_mismatch():
    t = gen.BLOBS
    good = (1, b"\x01\x02\xff", "x")
    assert check.row_fault(t, good, good) == ""
    assert check.row_fault(t, good, (1, b"b'\\x01\\x02\\xff'", "x")) == check.BYTEA_REPR
    assert check.row_fault(t, good, (1, b"\x01\x02", "x")) is None
    assert check.row_fault(t, good, (1, b"b'\\x01\\x02\\xff'", "y")) is None


def test_latency_on_a_synthetic_schedule():
    # commits every 0.5 s from t=10; a tick publishes at 11.2 up to lsn
    # 300, then at 12.9 up to 500; table b publishes lsn 400 only at 13.5
    schedule = [(100, 10.0, {"a"}), (200, 10.5, {"a"}), (300, 11.0, {"a"}),
                (400, 11.5, {"a", "b"}), (500, 12.0, {"a"}), (600, 12.5, {"a"})]
    publishes = [(12.9, "a", 500), (11.2, "a", 300), (13.5, "b", 400)]
    got = check.visible_latencies(schedule, publishes)
    want = [1.2, 0.7, 0.2, 2.0, 0.9, None]
    assert [None if g is None else round(g, 9) for g in got] == want


def test_tail_percentile_keeps_ten_samples_beyond():
    assert check.tail_percentile(10_000) == 99.9
    assert check.tail_percentile(1000) == 99.0
    assert check.tail_percentile(999) == 95.0
    assert check.tail_percentile(200) == 95.0
    assert check.tail_percentile(160) == 90.0
    assert check.tail_percentile(100) == 90.0
    assert check.tail_percentile(99) == 75.0
    assert check.tail_percentile(19) == 50.0
    values = list(range(1, 101))
    assert check.percentile(values, 50) == 50
    assert check.percentile(values, 90) == 90
    assert check.percentile([5.0], 99) == 5.0


def test_metric_names_match_benchmark_json():
    import json

    import spans

    path = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")
    with open(path) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == spans.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == spans.LAYERS
