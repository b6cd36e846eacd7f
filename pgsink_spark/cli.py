"""CLI entry point (the ``cmd/pgsink`` analogue).

Reference parity: the reference binary wires config → subscription →
sink and serves the control API (cmd/pgsink/cmd/app.go:97-157,
288-345, 409-478). Subcommands:

- ``tables list|add|stop``  — control-plane state (publication + jobs)
- ``serve``                 — control-plane HTTP API (ControlServer)
- ``import run``            — drain claimable import jobs → file sink
  (manager/worker/importer loop, SURVEY §3.2)
- ``stream run``            — pgoutput capture → streaming source →
  file sink with checkpointed offsets (SURVEY §3.1)

State layout under ``--root``: ``jobs.json`` (import-job queue),
``publication.json`` (published set), ``sink/`` (NDJSON output),
``checkpoints/`` (streaming offsets).
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import sys

from pgsink_spark.control.publication import Publication
from pgsink_spark.control.tables_api import TablesAPI
from pgsink_spark.imports.jobs import ImportJobStore


def _pub_path(root: str) -> str:
    return os.path.join(root, "publication.json")


def load_publication(root: str, name: str = "pgsink") -> Publication:
    pub = Publication(name)
    path = _pub_path(root)
    if os.path.exists(path):
        with open(path) as f:
            pub.set_tables([tuple(t) for t in json.load(f)["tables"]])
    return pub


def save_publication(root: str, pub: Publication) -> None:
    with open(_pub_path(root), "w") as f:
        json.dump({"tables": pub.get_tables()}, f)


def make_api(root: str) -> TablesAPI:
    # migrate-on-boot: every control-plane entry point converges the
    # root to the current schema version before touching it, exactly
    # where the reference runs goose.Up (reference
    # internal/migration/migration.go:15-39, invoked from app boot)
    from pgsink_spark.control.migration import migrate

    migrate(root)
    pub = load_publication(root)
    jobs = ImportJobStore(os.path.join(root, "jobs.json"))
    return TablesAPI(pub, jobs)


def fixture_catalog(source: str) -> list[tuple[str, str]]:
    """Catalog listing from a fixture directory (one table per parquet);
    a live deployment swaps in ``sources.jdbc.discover_tables``."""
    return sorted(
        ("public", f[: -len(".parquet")])
        for f in os.listdir(source)
        if f.endswith(".parquet")
    )


def cmd_tables(args) -> int:
    api = make_api(args.root)
    if args.action == "list":
        catalog = fixture_catalog(args.source)
        for t in api.list_tables(catalog):
            print(
                f"{t.namespace}.{t.name}\tpublication={t.publication_status}"
                f"\timport={t.import_status}"
                f"\trows={t.import_rows_processed_total}"
            )
    elif args.action == "add":
        job = api.add_table(args.namespace, args.name)
        save_publication(args.root, api.publication)
        print(f"added {args.namespace}.{args.name}"
              + (f" job={job.id}" if job else ""))
    elif args.action == "stop":
        expired = api.stop_table(args.namespace, args.name)
        save_publication(args.root, api.publication)
        print(f"stopped {args.namespace}.{args.name} expired_jobs={expired}")
    return 0


def run_imports(
    root: str, source: str, spark=None, metrics=None, live_client=None,
    tracer=None,
) -> int:
    """Drain claimable jobs: fixture source → envelope → file sink.
    ``metrics`` (a SinkMetrics) collects insert histograms for the
    /metrics exposition. ``tracer`` (a control.tracing.Tracer) emits
    one ``import.job`` span per drained job and a ``sink.insert`` span
    per batch — the reference's OTel middleware
    (pkg/sinks/generic/instrumented_inserter.go:40-74). ``live_client``
    (a connected ReplicationClient) enables the socket-channel backfill
    for tables with no local snapshot source: keyset pages stream over
    the walsender connection into the warehouse raw table, so the
    compaction view serves imported + CDC rows together."""
    import contextlib

    from pgsink_spark.control.tracing import TracedInserter
    from pgsink_spark.imports.importer import Importer
    from pgsink_spark.session import get_spark
    from pgsink_spark.sinks.file_sink import FileSink
    from pgsink_spark.sinks.instrumented import InstrumentedInserter

    spark = spark or get_spark("pgsink-import")
    jobs = ImportJobStore(os.path.join(root, "jobs.json"))
    sink = FileSink(os.path.join(root, "sink"))
    inserter = InstrumentedInserter(
        lambda env, ns, name: sink.insert(env), metrics=metrics
    )
    if tracer is not None:
        inserter = TracedInserter(inserter, tracer)

    def job_span(job):
        if tracer is None:
            return contextlib.nullcontext()
        return tracer.span(
            "import.job",
            **{
                "pgsink.job_id": job.id,
                "db.table": f"{job.schema}.{job.table_name}",
            },
        )

    importer = Importer(jobs, inserter)
    done = 0
    warehouse = None
    while (job := jobs.claim()) is not None:
        src = os.path.join(source, f"{job.table_name}.parquet")
        if not os.path.exists(src):
            if live_client is not None:
                from pgsink_spark.changelog.registry import SchemaEntry
                from pgsink_spark.imports.live_import import import_table
                from pgsink_spark.sinks.warehouse import WarehouseSink

                if warehouse is None:
                    warehouse = WarehouseSink(
                        spark, os.path.join(root, "sink", "warehouse")
                    )

                # import batches are epochs of their own stream
                # ("import"): disjoint `stream=import` partitions and an
                # exactly-once cursor independent of the CDC stream's
                def on_batch(env, payload, pk_cols, _job=job):
                    ns, name = _job.schema, _job.table_name
                    warehouse.handle_schema(
                        SchemaEntry(ns, name, payload, list(pk_cols))
                    )
                    last = warehouse.committed_epoch(ns, name, "import")
                    epoch = 0 if last is None else last + 1
                    warehouse.insert(
                        env, ns, name, epoch=epoch, stream_id="import"
                    )
                    warehouse.commit_manifest(
                        ns, name, epoch=epoch, stream_id="import"
                    )

                try:
                    with job_span(job) as _s:
                        res = import_table(
                            spark, live_client, job.schema,
                            job.table_name, on_batch,
                        )
                        if _s is not None:
                            _s.set_attribute("pgsink.rows", res.rows)
                            _s.set_attribute("pgsink.batches", res.batches)
                    # raises when the job was taken over meanwhile
                    jobs.update_progress(job.id, cursor=None, rows=res.rows)
                except Exception as e:  # noqa: BLE001 — job-scoped failure
                    jobs.record_error(job.id, str(e))
                    continue
                jobs.complete(job.id)
                done += 1
                continue
            # no snapshot source and no live connection — record the
            # failure with backoff instead of crashing the tick; the
            # CDC stream still carries the table's changes
            jobs.record_error(job.id, f"no snapshot source: {src}")
            continue
        table = spark.read.parquet(src)
        # fixture pk convention: first column (o_orderkey, n_nationkey…);
        # a live deployment resolves it via sources.jdbc.discover_primary_key
        pk = table.columns[0]
        with job_span(job) as _s:
            res = importer.run(job, table, pk)
            if _s is not None:
                _s.set_attribute("pgsink.rows", res.rows)
                _s.set_attribute("pgsink.batches", res.batches)
        done += 1 if res.done else 0
    return done


def cmd_import(args) -> int:
    n = run_imports(args.root, args.source)
    print(f"completed_jobs={n}")
    return 0


def cmd_serve(args) -> int:
    from pgsink_spark.control.server import ControlServer

    api = make_api(args.root)

    def metrics_text() -> str:
        # serve the last `run` tick's exposition (empty doc before the
        # first tick) — the scrape surface of cmd_run's metrics.prom
        try:
            with open(os.path.join(args.root, "metrics.prom")) as f:
                return f.read()
        except OSError:
            return ""

    server = ControlServer(
        api,
        lambda: fixture_catalog(args.source),
        args.host,
        args.port,
        metrics_text=metrics_text,
    )
    server.start()
    print(f"control API listening on {server.address}")
    try:
        import time

        while True:
            time.sleep(3600)
    except KeyboardInterrupt:
        server.stop()
    return 0


def _fan_out(df, entries: dict, write) -> None:
    """Write one generic micro-batch to every table it carries:
    ``write(typed_envelope, namespace, name)`` once per table.

    The batch is persisted once and every table's slice is cut from
    that copy. Each action on an unpersisted foreachBatch DataFrame
    re-runs its source plan, so without it every slice (and the
    sampling pass of the warehouse's range partitioning) would decode
    the whole batch again. MEMORY_AND_DISK lets an unbounded catch-up
    batch spill to disk instead of failing."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from pgsink_spark.changelog.envelope import cast_envelope

    df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # per-table loop is control-plane-sized (table count, not row
        # count); each table's slice writes as one typed batch
        for (ns, name), e in entries.items():
            part = df.where(
                (F.col("namespace") == ns) & (F.col("name") == name)
            )
            write(cast_envelope(part, e.payload), ns, name)
    finally:
        df.unpersist()


def cmd_stream(args) -> int:
    """Capture → pgoutput streaming source → sink: one query drains
    the capture as it stands, then stops.

    ``--sink ndjson`` (default) appends generic envelopes as NDJSON;
    ``--sink warehouse`` runs the full typed warehouse path: relation
    messages in the capture announce each table's schema (A7
    entry_from_relation), the generic map envelope is cast to the typed
    payload (cast_envelope), and each table's raw append is committed
    exactly once by the snapshot-manifest publish that records its
    epoch (epoch = Spark batch id)."""
    from pgsink_spark.session import get_spark
    from pgsink_spark.streaming.datasource import (
        CaptureIndex,
        confirm_committed,
        register,
        resume_lsn,
    )

    spark = get_spark("pgsink-stream")
    register(spark)

    def discover(handle_schema) -> dict:
        """Schema discovery: relation messages are the capture's DDL
        (schema_handler.go Handle — raw table + view synced per novel
        fingerprint), found by one scan of the capture's commit index."""
        from pgsink_spark.changelog.registry import entry_from_relation

        idx = CaptureIndex(args.capture)
        idx.refresh()
        entries = {}
        for msg in idx.relations():
            e = entry_from_relation(msg)
            handle_schema(e)
            entries[(e.namespace, e.name)] = e
        return entries

    if getattr(args, "sink", "ndjson") == "bigquery":
        from pgsink_spark.sinks.bigquery import (
            BigQuerySink,
            BigQuerySinkOptions,
        )

        out = f"{args.bq_project}.{args.bq_dataset} ({args.bq_api_base})"
        bq = BigQuerySink(
            BigQuerySinkOptions(
                api_base=args.bq_api_base,
                project=args.bq_project,
                dataset=args.bq_dataset,
                token=args.bq_token,
                use_load_jobs=args.bq_load_jobs,
            )
        )
        entries = discover(bq.handle_schema)

        def sink(df, batch_id):
            # delivery is at-least-once into BigQuery; replayed batches
            # dedup best-effort via {lsn}-{sequence} insertIds (the
            # warehouse sink's epoch-in-manifest commit has no BQ
            # analogue — the compaction VIEW is what guarantees
            # read-side correctness, exactly the reference's posture)
            _fan_out(df, entries, bq.insert)

    elif getattr(args, "sink", "ndjson") == "warehouse":
        from pgsink_spark.sinks.warehouse import WarehouseSink

        out = os.path.join(args.root, "sink", "warehouse")
        wh = WarehouseSink(spark, out)
        entries = discover(wh.handle_schema)

        def sink(df, batch_id):
            def write(typed, ns, name):
                if wh.insert(typed, ns, name, epoch=batch_id).count:
                    # the batch's one commit: publish the file set and
                    # the epoch together, so readers never observe a
                    # mid-batch file set and a crash before this line
                    # replays the batch
                    wh.commit_manifest(ns, name, epoch=batch_id)

            _fan_out(df, entries, write)

    else:
        from pgsink_spark.sinks.file_sink import FileSink

        files = FileSink(os.path.join(args.root, "sink"))
        out = files.modifications_path

        def sink(df, _bid):
            files.insert(df)

    max_commits = getattr(args, "max_commits", 0)
    checkpoint = os.path.join(args.root, "checkpoints", "stream")
    # one query per tick: the reader caps each window at max_commits
    # and plans window after window by itself. Over an existing
    # checkpoint Spark resumes from its offset log, so startlsn (the
    # last committed batch's end) is only the pacing floor
    reader = (
        spark.readStream.format("pgoutput")
        .option("path", args.capture)
        .option("startlsn", str(resume_lsn(checkpoint)))
    )
    if max_commits:
        reader = reader.option("maxcommitspertrigger", str(max_commits))
    q = (
        reader.load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # Spark confirms batch N to the source only when it plans batch
    # N+1, so a query that stops never confirms its last batch: do it
    # here, from the checkpoint's last committed batch (a run with no
    # new data re-confirms the previous run's end)
    confirm_committed(args.capture, checkpoint)
    print(f"streamed to {out}")
    return 0


def cmd_run(args) -> int:
    """One tick of the reference binary's main loop (cmd/pgsink/cmd/
    app.go:97-478 wires subscription manager + import manager/workers +
    sink into one process): reconcile the publication against the
    catalog, enqueue + drain import jobs for newly published tables,
    then drain the CDC capture into the warehouse sink. Each invocation
    converges to current state and exits, so cron/systemd owns the
    cadence (the Spark-operational analogue of the reference's
    long-running loops)."""
    from pgsink_spark.control.publication import reconcile
    from pgsink_spark.control.tracing import InMemorySpanExporter, Tracer
    from pgsink_spark.session import get_spark

    spark = get_spark("pgsink-run")
    exporter = InMemorySpanExporter()
    tracer = Tracer(exporter)
    # one root span per tick: reconcile / import.job / sink.insert /
    # stream spans all land in a single trace (manual enter/exit —
    # the tick body spans the rest of this function)
    _root_cm = tracer.span("pgsink.run")
    _root_cm.__enter__()
    api = make_api(args.root)
    connect = None
    if getattr(args, "pg_host", None):
        # live tick: the catalog IS the server's (the import manager's
        # discovery query, run over the walsender channel)
        from pgsink_spark.streaming.live import list_tables
        from pgsink_spark.streaming.replication import dial

        connect = functools.partial(
            dial, args.pg_host, args.pg_port, args.pg_db, args.pg_user,
            args.pg_password, args.pg_ssl,
        )
        live_client = connect()
        catalog_rows = list_tables(live_client)
        live_client.close()
    else:
        catalog_rows = fixture_catalog(args.source)
    catalog = spark.createDataFrame(
        catalog_rows, "namespace string, name string"
    )
    include = args.include.split(",") if args.include else None
    exclude = args.exclude.split(",") if args.exclude else None
    with tracer.span("pgsink.reconcile") as _rs:
        added, removed = reconcile(
            spark, catalog, api.publication, ["public"], include, exclude
        )
        for ns, name in added:
            api.jobs.enqueue(api.subscription_id, ns, name)
        for ns, name in removed:
            api.jobs.expire(ns, name)
        save_publication(args.root, api.publication)
        _rs.set_attribute("pgsink.added", len(added))
        _rs.set_attribute("pgsink.removed", len(removed))
    print(f"reconciled added={len(added)} removed={len(removed)}")

    if connect is not None:
        # live tick: drain the real server's WAL into the root capture
        # (publication converged to the locally published table set),
        # then fall through to the normal capture→warehouse stream
        cap_args = argparse.Namespace(
            root=args.root,
            host=args.pg_host,
            port=args.pg_port,
            db=args.pg_db,
            user=args.pg_user,
            password=args.pg_password,
            ssl=args.pg_ssl,
            slot=args.slot,
            publication=args.publication,
            tables=",".join(
                f"{ns}.{name}"
                for ns, name in sorted(api.publication.get_tables())
            )
            or None,
            out=os.path.join(args.root, "wal.capture"),
            max_txns=None,
        )
        cmd_capture(cap_args)
        if os.path.exists(cap_args.out):
            args.capture = cap_args.out

    from pgsink_spark.sinks.instrumented import SinkMetrics

    metrics = SinkMetrics()
    live_client = connect() if connect is not None else None
    try:
        done = run_imports(
            args.root, args.source, spark, metrics=metrics,
            live_client=live_client, tracer=tracer,
        )
    finally:
        if live_client is not None:
            live_client.close()
    print(f"completed_jobs={done}")

    if args.capture and os.path.exists(args.capture):
        args.sink = "bigquery" if getattr(args, "bq_project", None) else "warehouse"
        with tracer.span("pgsink.stream"):
            cmd_stream(args)

    _root_cm.__exit__(None, None, None)

    # publish the tick's metrics in Prometheus text exposition — the
    # one-tick analogue of the reference's scraped /metrics endpoint
    # (`serve` reads this file for live scrapes; a node-exporter
    # textfile collector can pick it up directly)
    from pgsink_spark.control.metrics_export import render_prometheus

    prom = os.path.join(args.root, "metrics.prom")
    with open(prom, "w") as f:
        f.write(render_prometheus(metrics))
    print(f"metrics written to {prom}")

    # and the tick's trace in OTLP/JSON — the file-receiver analogue
    # of the reference's Jaeger export (docker-compose.yml:25-60)
    from pgsink_spark.control.tracing import to_otlp_json

    traces = os.path.join(args.root, "traces.json")
    with open(traces, "w") as f:
        f.write(to_otlp_json(exporter.spans))
    print(f"traces written to {traces}")
    return 0


def cmd_capture(args) -> int:
    """LIVE CDC tick: connect to a real Postgres over the socket
    client (TLS + SCRAM as needed), converge slot + publication, and
    drain the WAL backlog into a capture file — the upstream half of
    the reference binary's loop; `stream run` / `run --capture` is the
    downstream half. availableNow semantics: each invocation catches
    up to the server's current WAL position and exits."""
    from pgsink_spark.streaming.live import capture_with_retry, provision
    from pgsink_spark.streaming.replication import dial

    connect = functools.partial(
        dial, args.host, args.port, args.db, args.user, args.password,
        args.ssl,
    )
    created_pub, changes, created = provision(
        connect, args.slot, args.publication, args.tables
    )
    if changes is not None:
        added, removed = changes
        print(f"publication converged added={len(added)} removed={len(removed)}"
              f" created={created_pub}")
    print(f"slot {'created' if created else 'exists'}: {args.slot}")
    report = capture_with_retry(
        connect, args.slot, args.publication, args.out,
        max_txns=args.max_txns,
    )
    print(
        f"captured transactions={report.transactions} "
        f"messages={report.messages} last_commit_lsn={report.last_commit_lsn}"
    )
    return 0


def cmd_migrate(args) -> int:
    """Explicit goose-style ``migrate`` command (the reference ships
    internal/migration/cmd/goose.go for the same operator story); the
    control-plane commands also migrate implicitly at boot via
    make_api."""
    from pgsink_spark.control.migration import applied_versions, migrate

    applied = migrate(args.root)
    for v in applied:
        print(f"applied {v}")
    print(
        f"schema_migrations={len(applied_versions(args.root))}"
        f" newly_applied={len(applied)}"
    )
    return 0


def cmd_stats(args) -> int:
    """ANALYZE-style table statistics (one scan, one aggregation)."""
    from pgsink_spark.operators.relational import profile_table
    from pgsink_spark.session import get_spark

    spark = get_spark("pgsink-stats")
    df = spark.read.parquet(
        os.path.join(args.source, f"{args.table}.parquet")
    )
    stats = profile_table(df)
    print(json.dumps(stats, indent=2, default=str))
    return 0


def cmd_compact(args) -> int:
    """Fold a raw envelope table into its compacted base: one row per
    key, tombstones kept, one new immutable version per run (the same
    merge ``install_view(snapshot=True)`` runs over a warehouse table's
    manifest). A rerun over unchanged raw files writes nothing.

    The operational loop a warehouse runs on cron: stream/import append
    to `_raw`; this command folds the new files into the base so
    readers skip the window."""
    from pgsink_spark.session import get_spark
    from pgsink_spark.sinks.compactor import KeyedCompactedTable, parquet_files

    spark = get_spark("pgsink-compact")
    base = KeyedCompactedTable(spark, args.out, args.keys.split(","))
    prev = base.pointer()
    ptr = base.fold(
        args.raw, parquet_files(args.raw), prev["version"] + 1 if prev else 1
    )
    print(f"base version {ptr['version']}: {len(ptr['covers'])} raw files")
    print(f"live rows: {base.live(ptr).count()}")
    return 0


def _add_bq_args(p) -> None:
    """BigQuery sink flags (Options struct parity, bigquery/sink.go:17-38;
    --bq-project selects the sink on `run`, like the reference's
    --sink=bigquery CLI group)."""
    p.add_argument("--bq-api-base", default="https://bigquery.googleapis.com")
    p.add_argument("--bq-project", default=None)
    p.add_argument("--bq-dataset", default="pgsink")
    p.add_argument("--bq-token", default=None,
                   help="OAuth bearer token (e.g. gcloud auth "
                   "print-access-token); omitted on a local fake")
    p.add_argument("--bq-load-jobs", action="store_true",
                   help="bulk NDJSON load jobs instead of insertAll")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="pgsink-spark")
    p.add_argument("--root", default="./pgsink-state",
                   help="control-plane state directory")
    sub = p.add_subparsers(dest="cmd", required=True)

    t = sub.add_parser("tables", help="list/add/stop tables")
    t.add_argument("action", choices=["list", "add", "stop"])
    t.add_argument("namespace", nargs="?")
    t.add_argument("name", nargs="?")
    t.add_argument("--source", default="/root/testdata/sf0.001")
    t.set_defaults(fn=cmd_tables)

    i = sub.add_parser("import", help="run claimable import jobs")
    i.add_argument("action", choices=["run"])
    i.add_argument("--source", default="/root/testdata/sf0.001")
    i.set_defaults(fn=cmd_import)

    s = sub.add_parser("serve", help="control-plane HTTP API")
    s.add_argument("--host", default="127.0.0.1")
    s.add_argument("--port", type=int, default=8080)
    s.add_argument("--source", default="/root/testdata/sf0.001")
    s.set_defaults(fn=cmd_serve)

    st = sub.add_parser("stream", help="stream a pgoutput capture")
    st.add_argument("action", choices=["run"])
    st.add_argument("--capture", required=True)
    st.add_argument(
        "--sink",
        choices=["ndjson", "warehouse", "bigquery"],
        default="ndjson",
        help="ndjson: generic envelopes; warehouse: typed raw tables "
        "+ compaction views, exactly-once epoch appends; bigquery: "
        "REST sink (raw tables + most-recent-row views in a dataset)",
    )
    _add_bq_args(st)
    st.add_argument(
        "--max-commits",
        type=int,
        default=0,
        help="bound each micro-batch to N commits (backlog drains as "
        "bounded batches; 0 = unbounded)",
    )
    st.set_defaults(fn=cmd_stream)

    r = sub.add_parser(
        "run", help="one reconcile → import → stream tick (app.go loop)"
    )
    r.add_argument("--source", default="/root/testdata/sf0.001")
    r.add_argument("--capture", default=None,
                   help="pgoutput capture to drain into the warehouse sink")
    r.add_argument("--include", default=None,
                   help="comma-separated namespace.name allow-list")
    r.add_argument("--exclude", default=None,
                   help="comma-separated namespace.name deny-list")
    # live mode: with --pg-host the tick FIRST drains the live WAL into
    # <root>/wal.capture (converging publication+slot to the include
    # list), then streams that capture into the warehouse — the whole
    # reference binary loop against a real server in one invocation
    r.add_argument("--pg-host", default=None)
    r.add_argument("--pg-port", type=int, default=5432)
    r.add_argument("--pg-db", default="postgres")
    r.add_argument("--pg-user", default="postgres")
    r.add_argument("--pg-password", default=None)
    r.add_argument("--pg-ssl", choices=["disable", "prefer", "require"],
                   default="prefer")
    r.add_argument("--slot", default="pgsink")
    r.add_argument("--publication", default="pgsink")
    _add_bq_args(r)
    r.set_defaults(fn=cmd_run)

    cp = sub.add_parser(
        "capture",
        help="drain a LIVE Postgres logical slot into a capture file "
        "(availableNow; slot + publication converged first)",
    )
    cp.add_argument("--host", required=True)
    cp.add_argument("--port", type=int, default=5432)
    cp.add_argument("--db", default="postgres")
    cp.add_argument("--user", default="postgres")
    cp.add_argument("--password", default=None)
    cp.add_argument("--ssl", choices=["disable", "prefer", "require"],
                    default="prefer")
    cp.add_argument("--slot", required=True)
    cp.add_argument("--publication", required=True)
    cp.add_argument("--tables", default=None,
                    help="comma-separated namespace.name list to converge "
                    "the publication to (omit to leave membership as-is)")
    cp.add_argument("--out", required=True, help="capture file to append to")
    cp.add_argument("--max-txns", type=int, default=None)
    cp.set_defaults(fn=cmd_capture)

    mg = sub.add_parser(
        "migrate",
        help="apply control-schema migrations (goose up analogue)",
    )
    mg.add_argument("--root", default=".pgsink")
    mg.set_defaults(fn=cmd_migrate)

    sa = sub.add_parser("stats", help="one-pass table column statistics")
    sa.add_argument("table")
    sa.add_argument("--source", default="/root/testdata/sf0.001")
    sa.set_defaults(fn=cmd_stats)

    c = sub.add_parser(
        "compact", help="fold raw envelopes into a latest-per-key base"
    )
    c.add_argument("--raw", required=True, help="raw envelope parquet path to fold in")
    c.add_argument("--out", required=True, help="compacted base path")
    c.add_argument("--keys", required=True, help="comma-separated pk columns")
    c.set_defaults(fn=cmd_compact)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
