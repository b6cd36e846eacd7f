"""The program names perfbench's span recorder wraps stay in place.

``perfbench/spans.py`` ``Recorder.install`` replaces public calls of the
program with timed wrappers; a renamed or deleted one makes both
benchmark workloads raise before they time anything. The importer must
also keep calling them the way the per-layer figures count them: the
module-global ``importer.keyset_batch`` once per page and
``ImportJobStore.update_progress`` once per committed page.
"""

from __future__ import annotations

import importlib.util
import os

import pytest

SPANS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench", "spans.py"
)


def _recorder():
    spec = importlib.util.spec_from_file_location("perfbench_spans", SPANS)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.Recorder()


def _hooks():
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from pgsink_spark.imports import importer
    from pgsink_spark.imports.jobs import ImportJobStore
    from pgsink_spark.sinks.file_sink import FileSink
    from pgsink_spark.sinks.warehouse import WarehouseSink
    from pgsink_spark.streaming import datasource

    return [
        (importer, "keyset_batch"),
        (FileSink, "insert"),
        (ImportJobStore, "update_progress"),
        (WarehouseSink, "insert"),
        (WarehouseSink, "commit_manifest"),
        (WarehouseSink, "install_view"),
        (datasource, "read_capture"),
        (DataStreamWriter, "start"),
    ]


def test_recorder_installs_and_uninstalls_every_hook():
    before = [getattr(owner, attr) for owner, attr in _hooks()]
    rec = _recorder()
    rec.install()
    try:
        wrapped = [getattr(owner, attr) for owner, attr in _hooks()]
        assert all(w is not b for w, b in zip(wrapped, before))
    finally:
        rec.uninstall()
    assert [getattr(owner, attr) for owner, attr in _hooks()] == before


@pytest.fixture()
def recorder():
    rec = _recorder()
    rec.install()
    rec.tracing = True
    yield rec
    rec.uninstall()


def test_importer_calls_hooks_once_per_page(spark, sf_dir, tmp_path, recorder):
    """25 rows at 10 per page: three pages, three cursor commits."""
    from pgsink_spark.imports import ImportJobStore, Importer
    from pgsink_spark.sinks.file_sink import FileSink

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    store = ImportJobStore(str(tmp_path / "jobs.json"))
    sink = FileSink(str(tmp_path / "sink"))
    store.enqueue("sub", "public", "nation")
    res = Importer(store, lambda env, ns, name: sink.insert(env), batch_limit=10).run(
        store.claim(), nation, "n_nationkey"
    )
    assert res.done and res.batches == 3
    names = [s[0] for s in recorder.spans]
    assert names.count("keyset.batch") == 3
    assert names.count("importer.insert") == 3
    assert len(recorder.pages) == 3
