"""Compacted base (sinks/compactor.py) behind ``install_view(snapshot=
True)``: the fold's latest-row contracts, its tail-by-manifest-diff and
rebuild rules, its layout and job budget, its crash boundary and its
race, and a property test against the read-time window view."""

from __future__ import annotations

import datetime
import os
import random
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pgsink_spark.changelog import SchemaEntry
from pgsink_spark.changelog.envelope import envelope_schema
from pgsink_spark.sinks.compactor import KeyedCompactedTable
from pgsink_spark.sinks.warehouse import WarehouseSink, compaction_view_sql

PAYLOAD = T.StructType(
    [
        T.StructField("id", T.LongType(), True),
        T.StructField("v", T.StringType(), True),
    ]
)
WIDE = T.StructType(PAYLOAD.fields + [T.StructField("w", T.LongType(), True)])
DAY0 = datetime.datetime(2024, 1, 1)


def _batch(spark, rows, payload=PAYLOAD):
    """rows: (ts_seconds, lsn, seq, before, after) tuples."""
    data = [
        (DAY0 + datetime.timedelta(seconds=ts), "public", "t", lsn, seq,
         before, after)
        for ts, lsn, seq, before, after in rows
    ]
    return spark.createDataFrame(data, envelope_schema(payload))


def _sink(spark, tmp_path, keys=("id",), payload=PAYLOAD):
    sink = WarehouseSink(spark, str(tmp_path / "wh"))
    sink.handle_schema(SchemaEntry("public", "t", payload, list(keys)))
    return sink


def _write(sink, env, **kw):
    sink.insert(env, "public", "t", **kw)
    sink.commit_manifest("public", "t", **kw)


def _view(spark, sink):
    view = sink.install_view("public", "t", snapshot=True)
    return {r["id"]: r["v"] for r in spark.table(view).collect()}


def _base(spark, tmp_path):
    return KeyedCompactedTable(spark, str(tmp_path / "wh" / "public_t_base"), ["id"])


def test_incremental_merge_upsert_delete_latearrival(spark, tmp_path):
    sink = _sink(spark, tmp_path)
    # batch 1: insert k1..k3, then update k2 in the same batch
    _write(sink, _batch(spark, [
        (1, 10, 0, None, (1, "a1")),
        (1, 10, 1, None, (2, "b1")),
        (1, 10, 2, None, (3, "c1")),
        (2, 11, 0, (2, "b1"), (2, "b2")),
    ]))
    assert _view(spark, sink) == {1: "a1", 2: "b2", 3: "c1"}

    # batch 2: delete k3, update k1, insert k4 — merged as the tail
    _write(sink, _batch(spark, [
        (3, 12, 0, (3, "c1"), None),
        (3, 12, 1, (1, "a1"), (1, "a2")),
        (4, 13, 0, None, (4, "d1")),
    ]))
    assert _view(spark, sink) == {1: "a2", 2: "b2", 4: "d1"}

    # the tombstone is physically retained in the base (filtered at read)
    base = _base(spark, tmp_path)
    rows = base.read(base.pointer())
    assert rows.count() == 4
    assert rows.where(F.col("operation") == "DELETE").count() == 1

    # late arrival: an OLDER image of deleted k3 must not resurrect it
    _write(sink, _batch(spark, [(2, 11, 5, (3, "c0"), (3, "c-old"))]))
    assert 3 not in _view(spark, sink)

    # a pk probe of the view agrees with the full read
    got = spark.sql("SELECT v FROM public_t WHERE id = 1").collect()
    assert [r["v"] for r in got] == ["a2"]


def test_matches_readtime_compaction_view(spark, tmp_path):
    """The base equals the read-time view over the same snapshot (same
    ordering clause — switching readers between the two is invisible),
    same-timestamp ties included."""
    sink = _sink(spark, tmp_path)
    _write(sink, _batch(spark, [
        (1, 10, 0, None, (1, "a1")),
        (2, 11, 0, (1, "a1"), (1, "a2")),
        (3, 12, 0, None, (2, "b1")),
    ]))
    _view(spark, sink)
    _write(sink, _batch(spark, [
        (2, 11, 1, (1, "a2"), (1, "a3")),  # same ts+lsn: sequence decides
        (4, 13, 0, (2, "b1"), None),  # delete k2
    ]))
    got = _view(spark, sink)
    sink.read_snapshot("public", "t").createOrReplaceTempView("cmp_raw")
    spark.sql(compaction_view_sql("cmp_view", "cmp_raw", ["id"]))
    want = {r["id"]: r["v"] for r in spark.table("cmp_view").collect()}
    assert got == want == {1: "a3"}


def test_composite_key_merge(spark, tmp_path):
    """Multi-column primary keys: the merge window and the probe key on
    the full composite."""
    payload2 = T.StructType(
        [
            T.StructField("ns", T.StringType(), True),
            T.StructField("id", T.LongType(), True),
            T.StructField("v", T.StringType(), True),
        ]
    )
    sink = _sink(spark, tmp_path, keys=("ns", "id"), payload=payload2)
    _write(sink, _batch(spark, [
        (0, 10, 0, None, ("a", 1, "x")),
        (0, 10, 1, None, ("b", 1, "y")),  # same id, different ns
    ], payload2))
    sink.install_view("public", "t", snapshot=True)
    _write(sink, _batch(spark, [
        (86400, 11, 0, ("a", 1, "x"), ("a", 1, "x2")),
    ], payload2))
    view = sink.install_view("public", "t", snapshot=True)
    got = {(r["ns"], r["id"]): r["v"] for r in spark.table(view).collect()}
    # (a,1) updated; (b,1) untouched — composite key keeps them apart
    assert got == {("a", 1): "x2", ("b", 1): "y"}
    probe = "SELECT v FROM public_t WHERE ns = '{}' AND id = 1"
    assert [r["v"] for r in spark.sql(probe.format("a")).collect()] == ["x2"]
    assert [r["v"] for r in spark.sql(probe.format("b")).collect()] == ["y"]


def test_replay_is_idempotent_and_keeps_tombstones(spark, tmp_path):
    """At-least-once replay: the same batch appended again lands in the
    tail as exact duplicates of base rows and changes nothing."""
    sink = _sink(spark, tmp_path)
    env = _batch(spark, [
        (1, 10, 0, None, (1, "a")),
        (2, 11, 0, None, (2, "b")),
        (3, 12, 0, (2, "b"), None),
    ])
    _write(sink, env)
    assert _view(spark, sink) == {1: "a"}
    _write(sink, env)
    assert _view(spark, sink) == {1: "a"}
    base = _base(spark, tmp_path)
    rows = base.read(base.pointer())
    assert rows.count() == 2
    assert rows.where(F.col("operation") == "DELETE").count() == 1


def test_widened_schema_reads_back_null(spark, tmp_path):
    """ALTER TABLE ADD COLUMN between folds: old base rows serve NULL for
    the new field, new rows carry it, and the base records the wide
    schema."""
    sink = _sink(spark, tmp_path)
    _write(sink, _batch(spark, [(1, 10, 0, None, (1, "a")), (1, 10, 1, None, (2, "b"))]))
    sink.install_view("public", "t", snapshot=True)
    sink.handle_schema(SchemaEntry("public", "t", WIDE, ["id"]))
    _write(sink, _batch(spark, [(2, 11, 0, (2, "b", None), (2, "b2", 7))], WIDE))
    view = sink.install_view("public", "t", snapshot=True)
    got = {r["id"]: (r["v"], r["w"]) for r in spark.table(view).collect()}
    assert got == {1: ("a", None), 2: ("b2", 7)}
    base = _base(spark, tmp_path)
    payload = T.StructType.fromJson(base.pointer()["schema"])["payload"]
    assert payload.dataType.names == ["id", "v", "w"]


def test_import_rows_after_a_fold_join_the_tail(spark, tmp_path):
    """NULL-lsn import rows written after the base was folded are part
    of the next tail (an LSN watermark would skip them), and a CDC change
    with the same timestamp still wins the tie."""
    sink = _sink(spark, tmp_path)
    _write(sink, _batch(spark, [(5, 500, 0, None, (1, "cdc"))]))
    assert _view(spark, sink) == {1: "cdc"}
    _write(sink, _batch(spark, [
        (5, None, None, None, (1, "snapshot")),
        (5, None, None, None, (2, "imported")),
    ]))
    assert _view(spark, sink) == {1: "cdc", 2: "imported"}


def test_fold_rebuilds_when_a_covered_file_leaves_the_manifest(spark, tmp_path):
    """expire_raw drops a day the base covers: the next install rebuilds
    from the manifest instead of merging, so the expired key is gone as
    it is from the read-time view."""
    sink = _sink(spark, tmp_path)
    _write(sink, _batch(spark, [(0, 10, 0, None, (1, "old"))]))
    _write(sink, _batch(spark, [(86400 * 4, 20, 0, None, (2, "new"))]))
    assert _view(spark, sink) == {1: "old", 2: "new"}
    assert sink.expire_raw("public", "t", before_day="2024-01-03")
    assert _view(spark, sink) == {2: "new"}


def test_unchanged_manifest_install_runs_no_spark_job(spark, tmp_path):
    """A second install at an unchanged manifest version reads the
    pointer and its recorded schema: no fold, no footer job. The base
    lives beside the raw table, not under it, as one pk-sorted file."""
    sink = _sink(spark, tmp_path)
    _write(sink, _batch(spark, [(1, 10, i, None, (i, f"v{i}")) for i in (3, 1, 2)]))
    sink.install_view("public", "t", snapshot=True)
    sc = spark.sparkContext
    sc.setJobGroup("base-reinstall", "base-reinstall")
    try:
        view = sink.install_view("public", "t", snapshot=True)
        spark.table(view)._jdf.queryExecution().executedPlan()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("base-reinstall")) == []

    raw = tmp_path / "wh" / "public_t_raw"
    assert not [p for p in raw.rglob("*") if "base" in p.name]
    base = _base(spark, tmp_path)
    ptr = base.pointer()
    assert len(ptr["files"]) == 1
    assert [r["payload"]["id"] for r in base.read(ptr).collect()] == [1, 2, 3]
    # a pk probe is a filtered scan: no window, no exchange
    plan = spark.sql("SELECT * FROM public_t WHERE id = 2")._jdf
    plan = plan.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Exchange" not in plan
    assert "EqualTo(payload.id,2)" in plan.split("PushedFilters:")[1]


def test_base_versions_are_immutable_and_gc_keeps_the_newest(spark, tmp_path):
    """A view installed on an older base version keeps serving it while
    newer versions are published; GC keeps the newest three."""
    sink = _sink(spark, tmp_path)
    _write(sink, _batch(spark, [(1, 10, 0, None, (1, "a"))]))
    old = spark.table(sink.install_view("public", "t", snapshot=True))
    for i in range(2, 6):
        _write(sink, _batch(spark, [(i, 10 + i, 0, (1, "a"), (1, f"a{i}"))]))
        if i == 2:
            assert [r["v"] for r in old.collect()] == ["a"]
        assert _view(spark, sink) == {1: f"a{i}"}
    base_dir = tmp_path / "wh" / "public_t_base"
    versions = sorted(int(p.name[1:].split("-")[0]) for p in base_dir.glob("v*"))
    assert versions == [3, 4, 5]


def _fold_oracle(rows):
    """Python fold of (ts, lsn, seq, before, after) rows: the image of
    each key's greatest (ts, lsn NULLS LAST, seq NULLS LAST), tombstones
    dropped."""
    best = {}
    for ts, lsn, seq, before, after in rows:
        rank = (ts, lsn is not None, lsn or 0, seq is not None, seq or 0)
        img = after or before
        if img[0] not in best or rank > best[img[0]][0]:
            best[img[0]] = (rank, None if after is None else img[1])
    return {k: v for k, (_r, v) in best.items() if v is not None}


CRASH_ROWS = [
    [(1, 10, 0, None, (1, "a")), (1, 10, 1, None, (2, "b"))],
    [(2, 11, 0, (1, "a"), (1, "a2")), (2, 11, 1, (2, "b"), None),
     (3, None, None, None, (3, "imp"))],
]


def test_crash_after_base_files_before_pointer_publish(spark, tmp_path, monkeypatch):
    """A fault after the new base version's files are written but before
    its pointer is published: readers keep the old version, and the rerun
    serves the fold from a fresh version directory."""
    sink = _sink(spark, tmp_path)
    _write(sink, _batch(spark, CRASH_ROWS[0]))
    assert _view(spark, sink) == _fold_oracle(CRASH_ROWS[0])
    base = _base(spark, tmp_path)
    before = base.pointer()
    _write(sink, _batch(spark, CRASH_ROWS[1]))

    def crash(self, new):
        raise RuntimeError("crash before publish")

    monkeypatch.setattr(KeyedCompactedTable, "_publish", crash)
    with pytest.raises(RuntimeError, match="crash before publish"):
        sink.install_view("public", "t", snapshot=True)
    monkeypatch.undo()
    assert base.pointer() == before
    orphans = {p.name for p in (tmp_path / "wh" / "public_t_base").glob("v2-*")}
    assert len(orphans) == 1

    assert _view(spark, sink) == _fold_oracle(CRASH_ROWS[0] + CRASH_ROWS[1])
    assert base.pointer()["dir"] not in orphans


def test_crash_mid_base_write_is_never_read(spark, tmp_path, monkeypatch):
    """A fault mid-write leaves a torn version directory (a truncated
    part file, no _SUCCESS): no pointer names it, and the rerun serves
    the fold."""
    from pyspark.sql.readwriter import DataFrameWriter

    sink = _sink(spark, tmp_path)
    _write(sink, _batch(spark, CRASH_ROWS[0]))
    _view(spark, sink)
    _write(sink, _batch(spark, CRASH_ROWS[1]))
    real = DataFrameWriter.parquet
    torn = []

    def tear(self, path, *a, **kw):
        real(self, path, *a, **kw)
        os.remove(os.path.join(path, "_SUCCESS"))
        part = next(f for f in os.listdir(path) if f.endswith(".parquet"))
        with open(os.path.join(path, part), "r+b") as f:
            f.truncate(16)
        torn.append(os.path.basename(path))
        raise OSError("crash mid write")

    monkeypatch.setattr(DataFrameWriter, "parquet", tear)
    with pytest.raises(OSError, match="crash mid write"):
        sink.install_view("public", "t", snapshot=True)
    monkeypatch.undo()
    base = _base(spark, tmp_path)
    assert base.pointer()["version"] == 1

    assert _view(spark, sink) == _fold_oracle(CRASH_ROWS[0] + CRASH_ROWS[1])
    assert base.pointer()["dir"] not in torn


def test_racing_installs_each_leave_a_readable_base(spark, tmp_path, monkeypatch):
    """More folds of one version than cores, all written before any
    publishes: one wins, the others discard their copies and serve the
    winner's, and every one reads the fold."""
    sink = _sink(spark, tmp_path)
    _write(sink, _batch(spark, CRASH_ROWS[0] + CRASH_ROWS[1]))
    raw = str(tmp_path / "wh" / "public_t_raw")
    files = sink._manifest_files("public", "t")
    n = (os.cpu_count() or 4) + 1
    all_written = threading.Barrier(n, timeout=120)
    real = KeyedCompactedTable._publish

    def publish_together(self, new):
        all_written.wait()
        return real(self, new)

    monkeypatch.setattr(KeyedCompactedTable, "_publish", publish_together)
    got = {}

    def fold(i):
        base = _base(spark, tmp_path)
        ptr = base.fold(raw, files, 1)
        got[i] = (ptr["dir"], {r["id"]: r["v"] for r in base.live(ptr).collect()})

    threads = [threading.Thread(target=fold, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    want = _fold_oracle(CRASH_ROWS[0] + CRASH_ROWS[1])
    assert len(got) == n and all(g == got[0] for g in got.values())
    assert got[0][1] == want
    base_dir = tmp_path / "wh" / "public_t_base"
    assert [p.name for p in base_dir.glob("v*")] == [got[0][0]]


# --- property: base view == window view over the same snapshot ------------

def _random_rows(rng, state, n):
    rows = []
    for _ in range(n):
        k = rng.randint(1, 6)
        ts = max(0, state["day"] - rng.randint(0, 1)) * 86400 + rng.choice((0, 30, 60))
        image = (k, f"v{rng.randint(0, 99)}") + ((rng.randint(0, 9),) if state["wide"] else ())
        kind = rng.random()
        if kind < 0.25:  # snapshot-import row: NULL lsn and sequence
            rows.append((ts, None, None, None, image))
            continue
        state["lsn"] += rng.choice((0, 1))  # 0: a same-lsn tie on sequence
        state["seq"] += 1
        if kind < 0.45:  # tombstone
            rows.append((ts, state["lsn"], state["seq"], image, None))
        else:  # insert / update / re-insert
            rows.append((ts, state["lsn"], state["seq"], None, image))
    return rows


def _as_dicts(rows, names):
    return sorted(tuple(r.asDict().get(c) for c in names) for r in rows)


@pytest.mark.parametrize("seed", range(4))
def test_base_view_equals_window_view_property(spark, tmp_path, seed):
    """Random interleavings of insert, publish, install, expire_raw and a
    widening ALTER over NULL-lsn import rows, tombstones, same-timestamp
    ties and re-inserts: after each install the base view equals
    compaction_view_sql over read_snapshot at the same version."""
    rng = random.Random(seed)
    sink = _sink(spark, tmp_path)
    state = {"day": 0, "lsn": 100, "seq": 0, "wide": False, "epoch": -1}
    installs = 0
    steps = ["insert", "publish", "install"] + [
        rng.choice(["insert", "insert", "publish", "install", "install",
                    "expire", "alter", "replay"]) for _ in range(14)
    ] + ["insert", "publish", "install"]
    for step in steps:
        if step == "insert":
            state["day"] += rng.choice((0, 1))
            state["epoch"] += 1
            rows = _random_rows(rng, state, rng.randint(1, 4))
            state["last"] = _batch(spark, rows, WIDE if state["wide"] else PAYLOAD)
            sink.insert(state["last"], "public", "t", epoch=state["epoch"])
        elif step == "replay" and state["epoch"] >= 0:
            # crash-replay of the last batch: skipped when published,
            # else its partitions are overwritten with new files
            sink.insert(state["last"], "public", "t", epoch=state["epoch"])
        elif step == "publish" and state["epoch"] >= 0:
            if sink.committed_epoch("public", "t") != state["epoch"]:
                sink.commit_manifest("public", "t", epoch=state["epoch"])
        elif step == "expire" and sink.manifest_version("public", "t"):
            sink.expire_raw("public", "t",
                            (DAY0 + datetime.timedelta(days=rng.randint(0, state["day"]))).strftime("%Y-%m-%d"))
        elif step == "alter" and not state["wide"]:
            state["wide"] = True
            sink.handle_schema(SchemaEntry("public", "t", WIDE, ["id"]))
        elif step == "install" and sink.manifest_version("public", "t"):
            version = sink.manifest_version("public", "t")
            if not sink._manifest_files("public", "t", version):
                continue  # expire_raw removed every day
            got = spark.table(sink.install_view("public", "t", snapshot=True)).collect()
            sink.read_snapshot("public", "t", version).createOrReplaceTempView("prop_raw")
            spark.sql(compaction_view_sql("prop_view", "prop_raw", ["id"]))
            want = spark.table("prop_view").collect()
            assert _as_dicts(got, WIDE.names) == _as_dicts(want, WIDE.names), (seed, step, version)
            installs += 1
    assert installs >= 2
