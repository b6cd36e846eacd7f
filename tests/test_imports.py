"""M1: keyset scans, job queue claim/backoff, importer resumability.

Mirrors the reference's import tests: batch/cursor behavior
(pkg/imports/importer_test.go), worker claim + exponential backoff
(worker_test.go), manager reconcile, against an in-memory sink capture.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pgsink_spark.imports import (
    ImportJobStore,
    Importer,
    keyset_batch,
    partitioned_snapshot,
)
from pgsink_spark.sinks.generic import batch_result


@pytest.fixture()
def store(tmp_path):
    return ImportJobStore(str(tmp_path / "jobs.json"), retry_interval_s=5.0)


def test_keyset_batch_pagination(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    total = orders.count()
    seen = 0
    cursor = None
    last_max = None
    for _ in range(10_000):
        page = keyset_batch(orders, "o_orderkey", cursor, 1000)
        keys = [r["o_orderkey"] for r in page.rows.collect()]
        cursor, n, done = page.observed()
        if cursor is None:
            break
        assert n == len(keys) and cursor == keys[-1]
        assert keys == sorted(keys)
        if last_max is not None:
            assert min(keys) > last_max  # strictly beyond the cursor
        last_max = max(keys)
        seen += len(keys)
        if done:
            break
    assert seen == total


def test_keyset_batch_pushes_filter_down(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    page = keyset_batch(orders, "o_orderkey", 500, 100)
    plan = page.rows._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThan(o_orderkey,500)" in plan


def test_partitioned_snapshot_ranges(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    parts = partitioned_snapshot(orders, "o_orderkey", 8)
    # contiguous pk ranges per partition: max of part i < min of part i+1
    bounds = (
        parts.select("o_orderkey", F.spark_partition_id().alias("p"))
        .groupBy("p")
        .agg(F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi"))
        .orderBy("p")
        .collect()
    )
    assert parts.count() == orders.count()
    for a, b in zip(bounds, bounds[1:]):
        assert a["hi"] < b["lo"]


def test_job_claim_order_and_backoff(store):
    j1 = store.enqueue("sub", "public", "t1")
    j2 = store.enqueue("sub", "public", "t2")
    store.record_error(j1.id, "boom")

    # never-errored job claims first, errored one is backing off
    c = store.claim(now=0)
    assert c is not None and c.id == j2.id
    # j2 claimed → nothing else claimable while backoff holds
    assert store.claim(now=0) is None
    # after the backoff deadline (5 * 3^1 = 15s), the errored job returns
    now = store.get(j1.id).last_error_at + store.backoff_s(1) + 0.1
    c2 = store.claim(now=now)
    assert c2 is not None and c2.id == j1.id
    assert store.backoff_s(0) == 5.0
    assert store.backoff_s(3) == 135.0
    assert store.backoff_s(100) == 3600.0  # capped


def test_job_complete_expire_persistence(store, tmp_path):
    j = store.enqueue("sub", "public", "t")
    store.update_progress(j.id, "123", 1000)
    store.complete(j.id)
    j2 = store.enqueue("sub", "public", "u")
    assert store.expire("public", "u") == 1
    # reload from disk: same state
    reloaded = ImportJobStore(str(tmp_path / "jobs.json"))
    assert reloaded.get(j.id).rows_processed_total == 1000
    assert reloaded.get(j.id).completed_at is not None
    assert reloaded.get(j2.id).expired_at is not None
    assert reloaded.claim() is None


class _CaptureSink:
    def __init__(self):
        self.batches = []

    def insert(self, env, namespace, name):
        res = batch_result(env)
        self.batches.append((namespace, name, res.count))
        return res


def test_importer_end_to_end(spark, sf_dir, store):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    sink = _CaptureSink()
    job = store.enqueue("sub", "public", "nation")
    imp = Importer(store, sink.insert, batch_limit=10)
    res = imp.run(store.claim(), nation, "n_nationkey")
    assert res.done and res.rows == nation.count()
    assert store.get(job.id).completed_at is not None
    assert store.get(job.id).rows_processed_total == nation.count()
    assert all(n <= 10 for _, _, n in sink.batches)


def test_importer_resumes_from_cursor(spark, sf_dir, store):
    """Stop after 2 batches (snapshot-timeout analogue), resume, finish."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(95).cache()
    total = orders.count()
    sink = _CaptureSink()
    store.enqueue("sub", "public", "orders")
    imp = Importer(store, sink.insert, batch_limit=20)

    job = store.claim()
    r1 = imp.run(job, orders, "o_orderkey", max_batches=2)
    assert not r1.done and r1.rows == 40
    j = store.get(job.id)
    assert j.cursor is not None and j.completed_at is None

    # resume: claim again, continue strictly after the cursor
    job2 = store.claim()
    assert job2 is not None and job2.id == job.id
    r2 = imp.run(job2, orders, "o_orderkey")
    assert r2.done
    assert r1.rows + r2.rows == total
    assert store.get(job.id).rows_processed_total == total


def test_importer_records_error(spark, sf_dir, store):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")

    def boom(env, namespace, name):
        raise RuntimeError("sink unavailable")

    job = store.enqueue("sub", "public", "nation")
    imp = Importer(store, boom, batch_limit=10)
    res = imp.run(store.claim(), nation, "n_nationkey")
    assert not res.done
    j = store.get(job.id)
    assert j.error_count == 1 and "sink unavailable" in j.error
    # job not claimable until backoff passes
    assert store.claim(now=j.last_error_at + 1) is None


def test_importer_stops_paging_a_job_it_lost(spark, sf_dir, tmp_path):
    """A driver whose lease is taken over while it writes a page stops
    there: that page's progress commit fails, no further page is read,
    and the new holder's record is left as it is."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    path = str(tmp_path / "jobs.json")
    a = ImportJobStore(path, owner="a", lease_ttl_s=10.0)
    b = ImportJobStore(path, owner="b", lease_ttl_s=10.0)
    a.enqueue("sub", "public", "nation")
    sink = _CaptureSink()

    def insert(env, namespace, name):
        res = sink.insert(env, namespace, name)
        if len(sink.batches) == 1:  # a stalls past its ttl mid-page
            assert b.claim(now=a.get(1).lease_at + 11).id == 1
        return res

    res = Importer(a, insert, batch_limit=10).run(a.claim(), nation, "n_nationkey")
    assert not res.done and res.rows == 0
    assert len(sink.batches) == 1
    held = ImportJobStore(path).get(1)
    assert held.lease_owner == "b" and held.error is None
    assert held.cursor is None and held.rows_processed_total == 0


def test_importer_with_instrumented_insert(spark, sf_dir, store):
    """A13 composition on the import path: importer → instrumented →
    capture sink; per-batch durations and row totals are recorded
    (reference importer histograms, pkg/imports/importer.go:57-81)."""
    from pgsink_spark.sinks import InstrumentedInserter

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    sink = _CaptureSink()
    ins = InstrumentedInserter(sink.insert)
    store.enqueue("sub", "public", "nation")
    imp = Importer(store, ins, batch_limit=10)
    res = imp.run(store.claim(), nation, "n_nationkey")
    assert res.done
    m = ins.metrics
    assert m.rows_total["public.nation"] == nation.count()
    assert m.batches_total["public.nation"] == len(sink.batches)
    assert m.insert_duration["public.nation"].n == len(sink.batches)


class _JobGroup:
    """Counts the Spark jobs started inside a ``with`` block."""

    def __init__(self, spark, name: str):
        self.sc, self.name = spark.sparkContext, name

    def __enter__(self):
        self.sc.setJobGroup(self.name, self.name)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def jobs(self) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(self.name))


def test_keyset_page_build_runs_no_spark_job(spark, sf_dir):
    """Building a page, plan included, runs nothing; its one execution
    yields its rows and its next cursor together."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    pk = ["o_custkey", "o_orderkey"]
    with _JobGroup(spark, "keyset-page-build") as g:
        page = keyset_batch(orders, pk, (5, 0), 50)
        page.rows._jdf.queryExecution().executedPlan()
        assert g.jobs() == 0
    keys = [(r["o_custkey"], r["o_orderkey"]) for r in page.rows.collect()]
    cursor, n, done = page.observed()
    assert keys and n == len(keys) == 50 and not done
    assert cursor == keys[-1] and keys[0] > (5, 0)


def test_importer_writes_each_page_in_one_spark_job(spark, sf_dir, store, tmp_path):
    """One Spark job per page through the file sink: the write is the
    page's only execution (25 rows at 10 per page = 3 pages)."""
    from pgsink_spark.sinks.file_sink import FileSink

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    sink = FileSink(str(tmp_path / "sink"))
    store.enqueue("sub", "public", "nation")
    imp = Importer(store, lambda env, ns, name: sink.insert(env), batch_limit=10)
    with _JobGroup(spark, "keyset-import") as g:
        res = imp.run(store.claim(), nation, "n_nationkey")
        jobs = g.jobs()
    assert res.done and res.batches == 3 and res.rows == 25
    assert jobs == 3


def test_file_sink_page_of_one_shape_compiles_no_class(spark, sf_dir, tmp_path):
    """A second keyset page of the same shape (same cursor, a later
    ``current_timestamp()``) reuses the first one's generated classes,
    counted with Spark's CodegenMetrics. The file sink formats the
    timestamp before observing the page; observed first, the timestamp
    stays a literal that codegen inlines as a new long on every page."""
    from pgsink_spark.imports.importer import to_envelope
    from pgsink_spark.sinks.file_sink import FileSink

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = compiles.METRIC_COMPILATION_TIME()
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    sink = FileSink(str(tmp_path / "sink"))
    counts = []
    for _ in range(3):
        page = keyset_batch(nation, "n_nationkey", 4, 5)
        env = to_envelope(page.rows, "public", "nation",
                          timestamp=F.current_timestamp())
        assert sink.insert(env).count == 5
        counts.append(compiles.getCount())
    assert counts[1] == counts[2], counts


def test_importer_errors_when_inserter_runs_page_twice(spark, sf_dir, store):
    """An inserter whose count covers two runs of the page fails the
    job, and the cursor does not move."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    sink = _CaptureSink()

    def twice(env, namespace, name):
        first = sink.insert(env, namespace, name)
        return first.fold(sink.insert(env, namespace, name))

    job = store.enqueue("sub", "public", "nation")
    res = Importer(store, twice, batch_limit=10).run(
        store.claim(), nation, "n_nationkey"
    )
    assert not res.done and res.batches == 0 and res.rows == 0
    j = store.get(job.id)
    assert j.cursor is None and j.rows_processed_total == 0
    assert j.error_count == 1 and "more than once" in j.error


def test_importer_fails_fast_when_inserter_never_runs_page(spark, sf_dir, store):
    """An inserter that returns without running the page fails the job
    within seconds instead of blocking on the page's observation."""
    import time

    from pgsink_spark.sinks.generic import InsertResult

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    job = store.enqueue("sub", "public", "nation")
    imp = Importer(store, lambda env, ns, name: InsertResult(10, None), batch_limit=10)
    t0 = time.monotonic()
    res = imp.run(store.claim(), nation, "n_nationkey")
    assert time.monotonic() - t0 < 30
    assert not res.done
    j = store.get(job.id)
    assert j.cursor is None and "never ran" in j.error


def test_importer_counts_observed_rows_when_inserter_returns_none(spark, sf_dir, store):
    """An inserter that runs the page but reports no count is credited
    with the rows the page observed, not the page limit."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    job = store.enqueue("sub", "public", "nation")
    imp = Importer(store, lambda env, ns, name: env.collect() and None, batch_limit=10)
    res = imp.run(store.claim(), nation, "n_nationkey")
    assert res.done and res.rows == 25
    assert store.get(job.id).rows_processed_total == 25


def test_importer_empty_tail_page_commits_nothing(spark, sf_dir, store):
    """A table that fills its last page exactly ends on an empty page,
    which commits no cursor and adds no progress."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").limit(20).cache()
    sink = _CaptureSink()
    job = store.enqueue("sub", "public", "nation")
    calls = []
    real = store.update_progress
    store.update_progress = lambda *a: calls.append(a) or real(*a)
    res = Importer(store, sink.insert, batch_limit=10).run(
        store.claim(), nation, "n_nationkey"
    )
    assert res.done and res.batches == 2 and res.rows == 20
    assert [n for _id, _c, n in calls] == [10, 10]
    assert [n for _ns, _t, n in sink.batches] == [10, 10, 0]
    j = store.get(job.id)
    assert j.rows_processed_total == 20 and j.completed_at is not None


def test_importer_composite_date_key_resumes_exactly(spark, store):
    """A composite (int, date) cursor persists after page 1 and the
    resumed run finishes the table: exact total, no key repeated."""
    import datetime as dt

    rows = [(k % 3, dt.date(2024, 1, 1) + dt.timedelta(days=k), f"v{k}")
            for k in range(25)]
    src = spark.createDataFrame(rows, "k int, d date, v string")
    pk = ["k", "d"]
    seen = []

    def insert(env, namespace, name):
        got = env.select("after.k", "after.d").collect()
        seen.extend((r["k"], r["d"]) for r in got)
        return None

    job = store.enqueue("sub", "public", "t")
    imp = Importer(store, insert, batch_limit=10)
    r1 = imp.run(store.claim(), src, pk, max_batches=1)
    assert not r1.done and r1.rows == 10
    j = store.get(job.id)
    assert j.error is None and j.cursor.startswith("[")
    job2 = store.claim()
    assert job2 is not None and job2.id == job.id
    r2 = imp.run(job2, src, pk)
    assert r2.done and r1.rows + r2.rows == 25
    assert len(seen) == len(set(seen)) == 25
    assert store.get(job.id).rows_processed_total == 25


def test_cursor_text_round_trips_typed_components(spark):
    """Date, timestamp, decimal and string cursor components survive
    the text column, scalar and composite."""
    import datetime as dt
    from decimal import Decimal

    from pgsink_spark.imports.importer import _cursor_to_text, _parse_cursor

    src = spark.createDataFrame(
        [], "i bigint, d date, ts timestamp, m decimal(12,2), s string"
    )
    cur = (7, dt.date(2024, 1, 2), dt.datetime(2024, 1, 2, 3, 4, 5, 6),
           Decimal("12.50"), 'a "quoted", text')
    pk = ["i", "d", "ts", "m", "s"]
    assert _parse_cursor(_cursor_to_text(cur), src, pk) == cur
    for c, v in zip(pk, cur):
        assert _parse_cursor(_cursor_to_text(v), src, c) == v


def test_two_drivers_never_double_claim(tmp_path):
    import time

    """Multi-driver SKIP LOCKED semantics (reference
    pkg/imports/worker.go:165-187): two stores over ONE queue path —
    distinct owners, like two driver processes — claim concurrently;
    no job is handed out twice, every claimable job is handed out
    exactly once, and never-errored-first ordering holds per claimer."""
    path = str(tmp_path / "jobs.json")
    a = ImportJobStore(path, owner="driver-a")
    for i in range(10):
        a.enqueue("sub", "public", f"t{i}")
    # one errored job: must sort after the fresh ones for both claimers
    a.record_error(1, "boom")
    b = ImportJobStore(path, owner="driver-b")

    now = time.time() + 10_000  # past any backoff
    seen_a, seen_b = [], []
    while True:
        ja = a.claim(now=now)
        jb = b.claim(now=now)
        if ja is None and jb is None:
            break
        if ja is not None:
            seen_a.append(ja.id)
        if jb is not None:
            seen_b.append(jb.id)
    assert not (set(seen_a) & set(seen_b)), "double-claim across drivers"
    assert sorted(seen_a + seen_b) == list(range(1, 11))
    # backoff ordering: the errored job is the LAST claim overall
    all_claims = []
    for i in range(max(len(seen_a), len(seen_b))):
        if i < len(seen_a):
            all_claims.append(seen_a[i])
        if i < len(seen_b):
            all_claims.append(seen_b[i])
    assert all_claims[-1] == 1


def test_two_drivers_threaded_claims_are_disjoint(tmp_path):
    """Thread-level race: two claimers hammer one queue concurrently;
    the ``jobs.json`` flock keeps the claim sets disjoint."""
    import threading

    path = str(tmp_path / "jobs.json")
    seed = ImportJobStore(path, owner="seed")
    for i in range(40):
        seed.enqueue("sub", "public", f"t{i}")

    results: dict[str, list[int]] = {"a": [], "b": []}

    def worker(key: str):
        store = ImportJobStore(path, owner=f"driver-{key}")
        while (j := store.claim()) is not None:
            results[key].append(j.id)

    ta = threading.Thread(target=worker, args=("a",))
    tb = threading.Thread(target=worker, args=("b",))
    ta.start(); tb.start(); ta.join(); tb.join()
    assert not (set(results["a"]) & set(results["b"]))
    assert sorted(results["a"] + results["b"]) == list(range(1, 41))


def test_threaded_claim_progress_complete_stress(tmp_path):
    """More drivers than cores claim, progress and complete one queue
    with a tiny switch interval: claims stay disjoint and no progress
    or completion is lost to another driver's write."""
    import sys
    import threading

    path = str(tmp_path / "jobs.json")
    seed = ImportJobStore(path, owner="seed")
    for i in range(40):
        seed.enqueue("sub", "public", f"t{i}")
    claims: dict[int, list[int]] = {k: [] for k in range(8)}

    def worker(k: int):
        store = ImportJobStore(path, owner=f"driver-{k}")
        while (j := store.claim()) is not None:
            claims[k].append(j.id)
            store.update_progress(j.id, "1", 1)
            store.update_progress(j.id, "2", 1)
            store.complete(j.id)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(k,)) for k in claims]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    got = [i for ids in claims.values() for i in ids]
    assert sorted(got) == list(range(1, 41))  # disjoint and complete
    jobs = ImportJobStore(path).all()
    assert all(j.completed_at is not None for j in jobs)
    assert all(j.rows_processed_total == 2 and j.cursor == "2" for j in jobs)
    assert all(j.lease_owner is None for j in jobs)


def test_stale_lease_is_stolen_after_ttl(tmp_path):
    import time

    """A crashed claimant's lease (never released) is taken over once
    it ages past lease_ttl_s — and not a moment before."""
    path = str(tmp_path / "jobs.json")
    crashed = ImportJobStore(path, owner="crashed", lease_ttl_s=3600)
    crashed.enqueue("sub", "public", "t")
    now = time.time()
    assert crashed.claim(now=now) is not None
    # simulated crash: no release. A fresh driver can't take the lease
    successor = ImportJobStore(path, owner="successor", lease_ttl_s=3600)
    assert successor.claim(now=now + 10) is None
    # ...until the ttl passes
    assert successor.claim(now=now + 3601).id == 1


def test_two_os_processes_never_double_claim(tmp_path):
    """The real multi-driver shape: two SEPARATE OS processes hammer
    one queue path concurrently; the ``jobs.json`` flock arbitrates.
    Claims must be disjoint and complete."""
    import subprocess
    import sys
    import textwrap

    path = str(tmp_path / "jobs.json")
    seed = ImportJobStore(path, owner="seed")
    for i in range(30):
        seed.enqueue("sub", "public", f"t{i}")

    worker_src = textwrap.dedent(
        """
        import json, sys
        path, owner, out, repo = sys.argv[1:5]
        sys.path.insert(0, repo)
        from pgsink_spark.imports.jobs import ImportJobStore

        store = ImportJobStore(path, owner=owner)
        got = []
        while (j := store.claim()) is not None:
            got.append(j.id)
        with open(out, "w") as f:
            json.dump(got, f)
        """
    )
    script = tmp_path / "worker.py"
    script.write_text(worker_src)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    outs = [str(tmp_path / "a.json"), str(tmp_path / "b.json")]
    procs = [
        subprocess.Popen(
            [sys.executable, str(script), path, f"driver-{k}", out, repo],
            cwd="/",
        )
        for k, out in zip("ab", outs)
    ]
    for p in procs:
        assert p.wait(timeout=60) == 0
    import json as _json

    a = _json.load(open(outs[0]))
    b = _json.load(open(outs[1]))
    assert not (set(a) & set(b)), "double-claim across processes"
    assert sorted(a + b) == list(range(1, 31))


def test_queue_lease_claim_interleavings_property(tmp_path):
    """Property test: ANY interleaving of claim/complete/error/release
    across two stores over one queue keeps the invariants — a job is
    never claimable by both at once, completed jobs stay completed,
    and errored jobs only come back after backoff."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        ops=st.lists(
            st.tuples(
                st.sampled_from(["a", "b"]),
                st.sampled_from(["claim", "complete", "error", "release"]),
            ),
            min_size=5,
            max_size=40,
        )
    )
    def run(ops):
        import os
        import time as _t

        root = str(tmp_path / f"q{abs(hash(tuple(ops))) % 10**8}")
        os.makedirs(root, exist_ok=True)
        path = os.path.join(root, "jobs.json")
        seed = ImportJobStore(path, owner="seed")
        for i in range(4):
            seed.enqueue("sub", "public", f"t{i}")
        stores = {
            "a": ImportJobStore(path, owner="a"),
            "b": ImportJobStore(path, owner="b"),
        }
        held: dict[str, list[int]] = {"a": [], "b": []}
        now = _t.time() + 10_000  # far past any backoff
        for who, op in ops:
            s = stores[who]
            if op == "claim":
                j = s.claim(now=now)
                if j is not None:
                    # invariant: nobody else holds it
                    other = "b" if who == "a" else "a"
                    assert j.id not in held[other], (who, j.id, held)
                    held[who].append(j.id)
            elif op == "complete" and held[who]:
                s.complete(held[who].pop())
            elif op == "error" and held[who]:
                s.record_error(held[who].pop(), "boom")
            elif op == "release" and held[who]:
                s.release(held[who].pop())
        # completed jobs never reappear
        done = {
            j.id for j in stores["a"].all() if j.completed_at is not None
        }
        for s in stores.values():
            while (j := s.claim(now=now)) is not None:
                assert j.id not in done
        # the queue file and its lock are the whole claim state
        assert sorted(os.listdir(root)) == ["jobs.json", "jobs.json.lock"]

    run()


def test_file_lease_release_is_owner_checked(tmp_path):
    """The lease lives in the queue file, and steal and release
    serialize on its lock: after B takes an expired lease over, A's
    late release is a no-op, so a third claimant C still sees B's live
    lease until B itself releases it."""
    path = str(tmp_path / "jobs.json")
    a, b, c = (
        ImportJobStore(path, owner=o, lease_ttl_s=10.0) for o in "abc"
    )
    a.enqueue("sub", "public", "t")
    assert a.claim(now=1000.0).id == 1
    assert b.claim(now=1011.0).id == 1  # steal after ttl
    a.release(1)  # owner mismatch → no-op
    assert ImportJobStore(path).get(1).lease_owner == "b"
    assert c.claim(now=1012.0) is None
    b.release(1)
    assert c.claim(now=1013.0).id == 1


def test_progress_renews_the_lease(tmp_path):
    """A driver still committing pages keeps its job: each progress
    commit renews the lease, so a second driver takes the job over only
    once ``lease_ttl_s`` has passed since the holder's last progress,
    not since its claim."""
    import time

    path = str(tmp_path / "jobs.json")
    ttl = 300.0
    a = ImportJobStore(path, owner="a", lease_ttl_s=ttl)
    a.enqueue("sub", "public", "t")
    b = ImportJobStore(path, owner="b", lease_ttl_s=ttl)
    now = time.time()
    assert a.claim(now=now - (ttl - 10)).id == 1
    a.update_progress(1, "10", 10)
    progressed = time.time()  # the renewed lease is stamped in [now, progressed]
    assert b.claim(now=now + 20) is None
    assert b.claim(now=now + ttl - 1) is None
    assert b.claim(now=progressed + ttl + 1).id == 1


def test_late_writes_leave_new_holders_lease(tmp_path):
    """A driver whose lease was taken over must not overwrite the new
    holder: its late release, complete, record_error and
    update_progress leave the holder's lease and record as they are,
    and a third driver cannot claim the job until the holder releases
    it."""
    path = str(tmp_path / "jobs.json")
    owners = ["a1", "a2", "a3", "a4", "b", "c"]
    s = {o: ImportJobStore(path, owner=o, lease_ttl_s=10.0) for o in owners}
    s["a1"].enqueue("sub", "public", "t")
    # each lease passes its ttl before the next driver takes the job over
    for i, o in enumerate(owners[:5]):
        assert s[o].claim(now=1000.0 + 11 * i).id == 1
    s["b"].update_progress(1, "42", 42)
    held = ImportJobStore(path).get(1)
    assert held.lease_owner == "b"

    s["a1"].release(1)
    s["a2"].complete(1)
    s["a3"].record_error(1, "late")
    with pytest.raises(RuntimeError, match="no longer held"):
        s["a4"].update_progress(1, "7", 7)
    assert ImportJobStore(path).get(1) == held

    assert s["c"].claim(now=held.lease_at + 5) is None
    s["b"].release(1)
    got = s["c"].claim(now=held.lease_at + 5)
    assert got is not None and got.id == 1
    assert got.cursor == "42" and got.rows_processed_total == 42


def test_expire_clears_the_lease_and_stops_the_holder(tmp_path):
    """Expiring a claimed job clears its lease in the same write; the
    driver paging it fails its next progress commit instead of writing
    over the expired record."""
    path = str(tmp_path / "jobs.json")
    worker = ImportJobStore(path, owner="worker")
    worker.enqueue("sub", "public", "t")
    assert worker.claim().id == 1
    assert ImportJobStore(path, owner="api").expire("public", "t") == 1
    expired = ImportJobStore(path).get(1)
    assert expired.lease_owner is None and expired.expired_at is not None
    with pytest.raises(RuntimeError, match="no longer held"):
        worker.update_progress(1, "5", 5)
    worker.record_error(1, "stopped")
    assert ImportJobStore(path).get(1) == expired


def test_keyset_batch_composite_pagination(spark, sf_dir):
    """Composite-key pagination reconstructs the table exactly — no
    row skipped or repeated across batches, batches in lexicographic
    (o_custkey, o_orderkey) order."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    pk = ["o_custkey", "o_orderkey"]
    total = orders.count()
    seen = []
    cursor = None
    for _ in range(10_000):
        page = keyset_batch(orders, pk, cursor, 400)
        keys = [(r["o_custkey"], r["o_orderkey"]) for r in page.rows.collect()]
        cursor, _, done = page.observed()
        if cursor is None:
            break
        assert keys == sorted(keys)
        if seen:
            assert keys[0] > seen[-1]  # strictly beyond the cursor
        seen.extend(keys)
        assert isinstance(cursor, tuple) and len(cursor) == 2
        if done:
            break
    assert len(seen) == total
    expect = [
        (r["o_custkey"], r["o_orderkey"])
        for r in orders.select(*pk).orderBy(*pk).collect()
    ]
    assert seen == expect


def test_row_value_gt_matches_tuple_semantics(spark):
    """The expanded OR/AND predicate equals Python tuple comparison on
    an exhaustive small grid (the lexicographic contract)."""
    from pgsink_spark.imports.keyset import row_value_gt

    rows = [(a, b, c) for a in range(4) for b in range(4) for c in range(4)]
    df = spark.createDataFrame(rows, ["a", "b", "c"])
    cur = (1, 2, 3)
    got = {
        (r["a"], r["b"], r["c"])
        for r in df.where(row_value_gt(["a", "b", "c"], cur)).collect()
    }
    expect = {t for t in rows if t > cur}
    assert got == expect


@pytest.mark.slow
def test_importer_composite_key_resumes(spark, sf_dir, store):
    """End-to-end composite-PK import: stop mid-way, resume from the
    persisted JSON-array cursor, finish with exact row total."""
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet").limit(95).cache()
    )
    total = orders.count()
    sink = _CaptureSink()
    store.enqueue("sub", "public", "orders")
    imp = Importer(store, sink.insert, batch_limit=20)
    pk = ["o_custkey", "o_orderkey"]

    job = store.claim()
    r1 = imp.run(job, orders, pk, max_batches=2)
    assert not r1.done and r1.rows == 40
    j = store.get(job.id)
    assert j.cursor is not None and j.cursor.startswith("[")  # JSON array

    job2 = store.claim()
    assert job2 is not None and job2.id == job.id
    r2 = imp.run(job2, orders, pk)
    assert r2.done
    assert r1.rows + r2.rows == total


@pytest.mark.slow
def test_row_value_gt_property(spark):
    """Hypothesis: for random arity-1..3 integer tuples, the expanded
    OR/AND predicate selects exactly the rows whose key tuple compares
    greater than the cursor under Python's lexicographic order."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pgsink_spark.imports.keyset import row_value_gt

    small = st.integers(min_value=-3, max_value=3)

    @settings(max_examples=12, deadline=None)
    @given(
        arity=st.integers(min_value=1, max_value=3),
        data=st.data(),
    )
    def run(arity, data):
        cols = [f"k{i}" for i in range(arity)]
        rows = data.draw(
            st.lists(
                st.tuples(*([small] * arity)), min_size=1, max_size=12,
                unique=True,
            )
        )
        cursor = data.draw(st.tuples(*([small] * arity)))
        df = spark.createDataFrame(rows, ", ".join(f"{c} long" for c in cols))
        got = {
            tuple(r[c] for c in cols)
            for r in df.where(row_value_gt(cols, cursor)).collect()
        }
        assert got == {t for t in rows if t > cursor}

    run()
