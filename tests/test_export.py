"""Sorted shard export (operators/export.py): shards are internally
sorted, ranges are disjoint, and file order == global order."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq

from pgsink_spark.operators.export import write_sorted_shards
from pgsink_spark.sources.fixtures import load_table


def test_sorted_shards_globally_ordered(spark, sf_dir, tmp_path):
    path = str(tmp_path / "shards")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    write_sorted_shards(orders, path, ["o_totalprice"], 8)

    files = sorted(glob.glob(os.path.join(path, "part-*")))
    assert len(files) > 1, "want multiple shards"
    total = 0
    prev_max = None
    for f in files:
        vals = pq.read_table(f, columns=["o_totalprice"])["o_totalprice"]
        vals = vals.to_pylist()
        total += len(vals)
        assert vals == sorted(vals), f"{f} not internally sorted"
        if vals:
            if prev_max is not None:
                # disjoint, ordered ranges: concatenation by file name
                # is the global sort (equal keys co-locate, so strictly
                # greater-or-equal with no interleave)
                assert vals[0] >= prev_max
            prev_max = vals[-1]
    assert total == orders.count()


def test_sorted_shards_prune_on_range_predicate(spark, sf_dir, tmp_path):
    """Parquet min/max footers let a range predicate skip whole
    shards: a narrow band touches a subset of files."""
    path = str(tmp_path / "shards2")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    write_sorted_shards(orders, path, ["o_totalprice"], 8)
    files = glob.glob(os.path.join(path, "part-*"))
    lo = orders.approxQuantile("o_totalprice", [0.45, 0.55], 0.01)
    touching = 0
    for f in files:
        md = pq.read_metadata(f)
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(1)
            st = col.statistics
            if st.min <= lo[1] and st.max >= lo[0]:
                touching += 1
    assert 0 < touching < len(files)


def test_streaming_shard_export_epochs(spark, tmp_path):
    """Epoch appends: each batch's shards are internally sorted with
    disjoint ranges; a replayed epoch is skipped; the reader serves
    (epoch, key) order."""
    from pgsink_spark.operators.export import StreamingShardExport

    ex = StreamingShardExport(
        spark, str(tmp_path / "shards"), ["doc_id"], shards_per_batch=4
    )
    b1 = spark.range(0, 100).withColumnRenamed("id", "doc_id")
    b2 = spark.range(100, 160).withColumnRenamed("id", "doc_id")
    assert ex.apply_batch(b1, 0) == 1
    assert ex.apply_batch(b2, 1) == 1
    assert ex.apply_batch(b2, 1) == 0  # replay skipped

    out = ex.read().collect()
    ids = [r["doc_id"] for r in out]
    assert ids == sorted(ids) and len(ids) == 160

    # per-epoch shard files carry disjoint sorted ranges
    import os

    import pyarrow.parquet as pq

    e0 = os.path.join(str(tmp_path / "shards"), "stream=default", "epoch=0")
    ranges = []
    for f in sorted(os.listdir(e0)):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(e0, f), columns=["doc_id"])
            col = t.column("doc_id").to_pylist()
            assert col == sorted(col)
            ranges.append((min(col), max(col)))
    ranges.sort()
    for (a, b), (c, d) in zip(ranges, ranges[1:]):
        assert b < c  # disjoint


def test_webdataset_shards_roundtrip(spark, sf_dir, tmp_path):
    """The written archives are real, readable tars: member names,
    order, and contents round-trip; shard sizes match the on-disk
    files the registry query reports."""
    import tarfile

    from pgsink_spark.operators.export import write_webdataset_shards
    from pgsink_spark.sources.fixtures import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = str(tmp_path / "wds")
    stats = {
        r["shard_id"]: (r["n_docs"], r["tar_bytes"])
        for r in write_webdataset_shards(docs, out).collect()
    }
    expected = {
        r["doc_id"]: r["text"] for r in docs.collect()
    }
    seen = {}
    import os

    for shard_id, (n_docs, tar_bytes) in stats.items():
        path = os.path.join(out, f"shard-{shard_id:05d}.tar")
        assert os.path.getsize(path) == tar_bytes
        with tarfile.open(path) as tf:
            members = tf.getmembers()
            assert len(members) == n_docs
            names = [m.name for m in members]
            assert names == sorted(names)  # doc_id order inside shard
            for m in members:
                doc_id = int(m.name.removesuffix(".txt"))
                seen[doc_id] = tf.extractfile(m).read().decode()
    assert seen == expected


def test_epoch_shuffle_permutation_properties(spark, sf_dir):
    """Each epoch of export_epoch_shuffle is a PERMUTATION of the
    corpus (every doc exactly once), shards are full except the last,
    positions are dense within shards, and the two epochs produce
    genuinely different orders."""
    from pgsink_spark.operators import export as ex
    from pgsink_spark.operators.relational import QUERIES
    from pgsink_spark.sources.fixtures import load_table

    rows = QUERIES["export_epoch_shuffle"](spark, sf_dir).collect()
    ids = {
        r.doc_id
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
    }
    n = len(ids)
    per_epoch: dict = {}
    for r in rows:
        per_epoch.setdefault(r.epoch, []).append(r)
    assert set(per_epoch) == set(range(ex.EPOCH_COUNT))
    orders = {}
    for ep, es in per_epoch.items():
        assert {r.doc_id for r in es} == ids, "must be a permutation"
        pos = sorted(
            (r.shard_id * ex.EPOCH_SHARD_DOCS + r.pos_in_shard, r.doc_id)
            for r in es
        )
        assert [p for p, _ in pos] == list(range(n)), "dense global rank"
        shard_sizes: dict = {}
        for r in es:
            shard_sizes[r.shard_id] = shard_sizes.get(r.shard_id, 0) + 1
        last = max(shard_sizes)
        for s, c in shard_sizes.items():
            assert c == ex.EPOCH_SHARD_DOCS or (
                s == last and 0 < c <= ex.EPOCH_SHARD_DOCS
            )
        orders[ep] = [d for _, d in pos]
    assert orders[0] != orders[1], "epochs must shuffle differently"


def test_curriculum_order_matches_python_replay(spark, sf_dir):
    """export_curriculum_order equals a pure-Python shard census with
    the exact floor mean and deterministic tie-broken rank; ranks are
    a permutation of 1..n_shards and means are non-decreasing."""
    from collections import defaultdict

    from pgsink_spark.operators.export import (
        CURRICULUM_SHARD_DOCS,
        export_curriculum_order,
    )
    from pgsink_spark.sources.fixtures import load_table

    rows = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .collect()
    )
    sh = defaultdict(lambda: [0, 0])
    for r in rows:
        s = sh[r["doc_id"] // CURRICULUM_SHARD_DOCS]
        s[0] += 1
        s[1] += r["n_chars"]
    order = sorted(
        sh.items(), key=lambda kv: (1000 * kv[1][1] // kv[1][0], kv[0])
    )
    expect = {
        sid: (nd, sc, 1000 * sc // nd, i + 1)
        for i, (sid, (nd, sc)) in enumerate(order)
    }
    got = {
        r["shard_id"]: (
            r["n_docs"],
            r["sum_chars"],
            r["mean_chars_milli"],
            r["curriculum_rank"],
        )
        for r in export_curriculum_order(spark, sf_dir).collect()
    }
    assert got == expect
    means = [
        m for _, (_, _, m, _) in sorted(
            got.items(), key=lambda kv: kv[1][3]
        )
    ]
    assert means == sorted(means)
