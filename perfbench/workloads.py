"""The workloads. Each runs the program through its public entry points,
checks every output against ``check``, and returns a Result.

Rounds: a workload repeats whole rounds of identical operations until
``seconds`` have passed since the timed phase began, so the failed share
of attempted operations is the same in every run.
"""

from __future__ import annotations

import json
import os
import random
import time
from dataclasses import dataclass, field

import check
import gen
import spans as tr
from spans import median

from pgsink_spark import cli

# backlog: commits of 30 changes (+4 blob changes in every 4th), drained
# as two bounded batches; the relation-only first transaction is the 60th
# commit of the first batch
BACKLOG_MAX_COMMITS = 60
BACKLOG_COMMITS = 2 * BACKLOG_MAX_COMMITS - 1
# full view reads and pk probes after each drain; read_cpu_s is the median
# pass
READ_PASSES = 3
# set-up drains a sixth-size capture in two batches, like a round
WARM_MAX_COMMITS = 10
WARM_COMMITS = 2 * WARM_MAX_COMMITS - 1
PROBES_LIVE, PROBES_ABSENT = 1, 1  # per table and read pass
# backfill: snapshot rows per table (the importer pages by 5000)
BACKFILL_SIZES = {"customers": 6000, "orders": 9000}
BACKFILL_PROBES = 3  # live and absent keys per table and read pass
BACKFILL_READ_PASSES = 1
BACKFILL_WARM_READ_PASSES = 1
BACKFILL_MIN_ROUNDS = 3

# engine phases of a batch in StreamingQueryProgress.durationMs
PHASE_KEYS = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
              "walCommit", "commitOffsets")
COVERAGE_MIN_PCT = 90.0

ARRAY_ERROR = "ARRAY"  # the cast error names the target array type
# Spark hands a batch's end offset to the source's commit() only when it
# plans the next batch, so the last batch of a drain is never confirmed
CONFIRM_LAG = "confirm_lag"


@dataclass
class Ctx:
    seed: int
    seconds: float
    trace: bool
    work: str
    spark: object
    rec: tr.Recorder
    t_start: float


@dataclass
class Result:
    correct: bool = True
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)  # name -> (value, unit)
    layers: dict = field(default_factory=dict)  # name -> (value, unit)
    # measured on every run but not bounded in BENCHMARK.json
    unbounded: dict = field(default_factory=dict)
    problems: list = field(default_factory=list)
    notes: dict = field(default_factory=dict)

    def bad(self, problems):
        if problems:
            self.correct = False
            self.problems += problems[:20]


def _stream_args(root: str, capture: str, max_commits: int = 0) -> list:
    args = ["--root", root, "stream", "run", "--capture", capture,
            "--sink", "warehouse"]
    return args + (["--max-commits", str(max_commits)] if max_commits else [])


def _relation_entries(tables):
    from pgsink_spark.changelog.registry import entry_from_relation
    from pgsink_spark.streaming.decoder import Relation, RelationColumn

    for t in tables:
        cols = tuple(RelationColumn(c.key, c.name, gen.TYPE_OIDS[c.type], -1)
                     for c in t.cols)
        yield entry_from_relation(Relation(t.oid, t.namespace, t.name, 0, cols))


def _warehouse(ctx: Ctx, root: str, tables):
    from pgsink_spark.sinks.warehouse import WarehouseSink

    wh = WarehouseSink(ctx.spark, os.path.join(root, "sink", "warehouse"))
    for e in _relation_entries(tables):
        wh.handle_schema(e)
    return wh


def read_views(ctx: Ctx, wh, tables) -> tuple[float, dict]:
    """Full read of every compaction view from the published snapshot."""
    t0 = time.time()
    rows = {}
    for t in tables:
        view = wh.install_view(t.namespace, t.name, snapshot=True)
        rows[t.name] = [tuple(r) for r in ctx.spark.table(view).collect()]
    return time.time() - t0, rows


def probe(ctx: Ctx, table, key) -> tuple[float, list]:
    t0 = time.time()
    rows = ctx.spark.sql(
        f"SELECT * FROM `{table.namespace}_{table.name}` "
        f"WHERE `{table.pk}` = {key}").collect()
    return time.time() - t0, [tuple(r) for r in rows]


def probe_keys(seed: int, table, live: dict, ever: set, n_live: int, n_absent: int,
               n_passes: int) -> list:
    """Per read pass, a seeded choice of live keys and keys absent from
    the fold (deleted, else never used), a fixed number of each. Every
    pass asks for other keys, as point reads do, so no pass reuses the
    probe plans of the pass before."""
    rng = random.Random(f"{seed}:{table.name}")
    live_keys = sorted(live)
    dead = sorted(ever - set(live))
    unused = max(ever, default=0) + 1
    out = []
    for _ in range(n_passes):
        absent = rng.sample(dead, min(n_absent, len(dead)))
        for _i in range(n_absent - len(absent)):
            absent.append(unused)
            unused += 1
        out.append((rng.sample(live_keys, n_live), absent))
    return out


def raw_rows(work: str, wh_root: str, table) -> list:
    """Raw rows read with DuckDB, apart from Spark."""
    import duckdb

    path = os.path.join(wh_root, f"{table.namespace}_{table.name}_raw")
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{work}/duckdb'")
        out = con.execute(
            "SELECT lsn, sequence, operation, payload FROM read_parquet("
            f"'{path}/**/*.parquet', hive_partitioning=true)").fetchall()
    finally:
        con.close()
    cols = [c.name for c in table.cols]
    return [(r[0], r[1], r[2], tuple(r[3][c] for c in cols)) for r in out]


def confirmed_lsn(capture: str):
    try:
        with open(capture + ".confirmed") as f:
            return json.load(f)["confirmed_lsn"]
    except (OSError, ValueError, KeyError):
        return None


def check_confirmed(ctx: Ctx, capture: str, last_lsn: int, anchor: str):
    """Confirmed-LSN check of one drain: "" when the source confirmed the
    last commit, CONFIRM_LAG when it confirmed the end of the drain's
    next-to-last batch instead, None for anything else. ``anchor`` is a
    table every commit touches, so its publishes mark the batch ends."""
    got = confirmed_lsn(capture)
    if got == last_lsn:
        return ""
    root = os.path.dirname(capture) + os.sep
    ends = sorted({lsn for _t, table, lsn in ctx.rec.publishes
                   if table[0].startswith(root) and table[-1] == anchor})
    if len(ends) >= 2 and ends[-1] == last_lsn and got == ends[-2]:
        return CONFIRM_LAG
    return None


def latency_summary(lat_ms: list) -> tuple[float, float, float]:
    """(p50, tail, tail percentile) of one round's latencies."""
    p = check.tail_percentile(len(lat_ms))
    return check.percentile(lat_ms, 50), check.percentile(lat_ms, p), p


def _visible_ms(ctx: Ctx, schedule: list, since: float, until: float = float("inf")) -> list:
    pubs = [(t, table[-1], lsn) for t, table, lsn in ctx.rec.publishes
            if since <= t <= until]
    return check.visible_latencies(schedule, pubs)


def _schedule(txns, due):
    return [(tx.lsn, due(tx), {c.table for c in tx.changes}) for tx in txns if tx.changes]


# --- backlog ----------------------------------------------------------------

def backlog(ctx: Ctx) -> Result:
    res = Result()
    tables = gen.BACKLOG_TABLES
    by_name = {t.name: t for t in tables}
    txns = gen.backlog_txns(ctx.seed, BACKLOG_COMMITS)
    changes = [c for tx in txns for c in tx.changes]
    expected = check.fold(changes)
    ever = {}
    for c in changes:
        ever.setdefault(c.table, set()).add((c.after or c.before)[0])
    probes = {t.name: probe_keys(ctx.seed, t, expected.get(t.name, {}), ever[t.name],
                                 PROBES_LIVE, PROBES_ABSENT, READ_PASSES)
              for t in tables}
    side_txns = gen.array_txns(ctx.seed)
    side_expected = check.fold([c for tx in side_txns for c in tx.changes])

    def read_pass(wh, i):
        cpu0 = tr.cpu()
        p = {}
        p["view_s"], p["views"] = read_views(ctx, wh, tables)
        p["probes"] = []
        for t in tables:
            live, absent = probes[t.name][i]
            for k in live + absent:
                dt, rows = probe(ctx, t, k)
                p["probes"].append((t.name, k, dt, rows))
        p["cpu_s"], p["jit_s"] = tr.work_seconds(cpu0)
        return p

    def one_round(name, txns_, max_commits, passes, side):
        root = os.path.join(ctx.work, name)
        os.makedirs(root)
        cap = os.path.join(root, "wal.capture")
        gen.write_capture(cap, txns_, by_name)
        cpu0, t0 = tr.cpu(), time.time()
        with ctx.rec.span("cli.main"):
            cli.main(_stream_args(root, cap, max_commits))
        t1 = time.time()
        r = {"root": root, "capture": cap, "t0": t0, "drain_s": t1 - t0}
        r["cpu_s"], r["jit_s"] = tr.work_seconds(cpu0)
        wh = _warehouse(ctx, root, tables)
        r["reads"] = [read_pass(wh, i) for i in range(passes)]
        if side:
            r["side_error"] = side_stream(ctx, name + "-side", side_txns)
        return r

    # set-up: a sixth-size bounded drain of the same shape, so that the
    # drain's code runs compiled, not interpreted, before timing
    one_round("backlog-warm", gen.backlog_txns(ctx.seed, WARM_COMMITS),
              WARM_MAX_COMMITS, 0, False)
    setup_cpu = tr.cpu()[0]
    res.unbounded["setup_wall_s"] = time.time() - ctx.t_start

    rounds = []
    t_begin = time.time()
    while not rounds or time.time() - t_begin < ctx.seconds or (ctx.trace and len(rounds) < 2):
        ctx.rec.tracing = ctx.trace and len(rounds) % 2 == 0
        listener_on = _listen(ctx, ctx.rec.tracing)
        since = time.time()
        r = one_round(f"backlog-r{len(rounds)}", txns, BACKLOG_MAX_COMMITS,
                      READ_PASSES, True)
        r["since"], r["until"], r["traced"] = since, time.time(), ctx.rec.tracing
        _unlisten(ctx, listener_on)
        ctx.rec.tracing = False
        rounds.append(r)
    peak_mb = tr.peak_rss_mb()
    res.notes["rounds"] = len(rounds)
    res.notes["rounds_wall_s"] = round(time.time() - t_begin, 1)

    # checks, after the timed phase
    n_rows = len(changes)
    last_lsn = txns[-1].lsn
    by_table = {}
    for c in changes:
        by_table.setdefault(c.table, []).append(c)
    commit_lsns = [tx.lsn for tx in txns if tx.changes]
    lat_p50, lat_tail, p_tail = [], [], 50.0
    for r in rounds:
        wh_root = os.path.join(r["root"], "sink", "warehouse")
        commit_state = {lsn: "" for lsn in commit_lsns}
        for t in tables:
            status, problems = check.check_raw(t, by_table.get(t.name, []),
                                               raw_rows(ctx.work, wh_root, t))
            res.bad(problems)
            for lsn, tag in status.items():
                if tag:
                    commit_state[lsn] = tag
            for p in r["reads"]:
                res.bad(check.check_view(t, expected.get(t.name, {}), p["views"][t.name]))
        res.attempted += 1
        tag = check_confirmed(ctx, r["capture"], last_lsn, "accounts")
        if tag is None:
            res.bad([f"confirmed LSN {confirmed_lsn(r['capture'])} != {last_lsn}"])
        elif tag:
            res.failed += 1
        res.attempted += len(commit_lsns)
        res.failed += sum(1 for tag in commit_state.values() if tag)
        for tname, k, _dt, rows in (x for p in r["reads"] for x in p["probes"]):
            tag = check.check_probe(by_name[tname], expected.get(tname, {}).get(k), rows)
            res.attempted += 1
            if tag is None:
                res.bad([f"probe {tname}.{k} returned {rows!r}"])
            elif tag:
                res.failed += 1
        res.attempted += len(side_txns) - 1
        res.failed += side_failed(ctx, r["root"] + "-side", side_txns,
                                  side_expected, r["side_error"], res)
        lat = _visible_ms(ctx, _schedule(txns, lambda tx, t0=r["t0"]: t0), r["t0"], r["until"])
        if None in lat:
            res.bad(["a backlog commit was never published"])
            continue
        p50, tail, p_tail = latency_summary([x * 1000 for x in lat])
        lat_p50.append(p50)
        lat_tail.append(tail)

    untraced = [r for r in rounds if not r["traced"]] or rounds
    m, w = res.metrics, res.unbounded
    m["setup_s"] = (setup_cpu, "s")
    m["cpu_s"] = (median(r["cpu_s"] for r in untraced), "s")
    m["read_cpu_s"] = (median(p["cpu_s"] for r in untraced for p in r["reads"]), "s")
    m["peak_rss_mb"] = (peak_mb, "MB")
    w["drain_jit_s"] = median(r["jit_s"] for r in untraced)
    w["read_jit_s"] = median(p["jit_s"] for r in untraced for p in r["reads"])
    res.notes["read_cpu_s_passes"] = [
        (round(p["cpu_s"], 2), round(p["jit_s"], 2)) for r in rounds for p in r["reads"]]
    w["rows_per_s"] = n_rows * len(untraced) / sum(r["drain_s"] for r in untraced)
    w["visible_p50_ms"] = median(lat_p50)
    w["visible_tail_ms"] = median(lat_tail)
    w["visible_tail_percentile"] = p_tail
    w["visible_samples_per_round"] = len(commit_lsns)
    w["view_read_s"] = median(p["view_s"] for r in untraced for p in r["reads"])
    w["lookup_p50_ms"] = 1000 * median(
        dt for r in untraced for p in r["reads"] for *_x, dt, _rows in p["probes"])
    if ctx.trace:
        traced = [r for r in rounds if r["traced"]]
        layers_streaming(ctx, res, traced, untraced, traced[0]["capture"])
    return res


def side_stream(ctx: Ctx, name: str, txns) -> str | None:
    """Drain the array-typed side capture; the error text, or None."""
    root = os.path.join(ctx.work, name)
    os.makedirs(root)
    cap = os.path.join(root, "wal.capture")
    gen.write_capture(cap, txns, {gen.ARRAYS.name: gen.ARRAYS})
    try:
        cli.main(_stream_args(root, cap))
    except Exception as e:  # noqa: BLE001 — the known fault ends the query
        return str(e)
    return None


def side_failed(ctx, root, txns, expected, error, res: Result) -> int:
    """Failed side commits: all of them when the array cast stopped the
    stream, none when the view matches the fold."""
    n = len(txns) - 1
    if error is not None:
        if ARRAY_ERROR not in error or "CAST" not in error.upper():
            res.bad([f"side stream failed otherwise: {error[:300]}"])
        return n
    wh = _warehouse(ctx, root, [gen.ARRAYS])
    _s, rows = read_views(ctx, wh, [gen.ARRAYS])
    res.bad(check.check_view(gen.ARRAYS, expected.get("tagsets", {}), rows["tagsets"]))
    return 0


def _listen(ctx: Ctx, on: bool):
    if not on:
        return None
    lst = tr.make_listener()
    ctx.spark.streams.addListener(lst)
    ctx.rec.listeners.append(lst)
    return lst


def _unlisten(ctx: Ctx, lst):
    if lst is not None:
        lst.settle()
        ctx.spark.streams.removeListener(lst)


# --- backfill ---------------------------------------------------------------

def backfill(ctx: Ctx) -> Result:
    import duckdb

    res = Result()
    source = os.path.join(ctx.work, "snapshot")
    tables = gen.write_backfill(ctx.seed, BACKFILL_SIZES, source)

    def one_round(name, passes):
        root = os.path.join(ctx.work, name)
        os.makedirs(root)
        api = cli.make_api(root)
        for t in sorted(tables):
            api.jobs.enqueue(api.subscription_id, "public", t)
        n_pages = len(ctx.rec.pages)
        cpu0, t0 = tr.cpu(), time.time()
        cli.run_imports(root, source, ctx.spark)
        t1 = time.time()
        r = {"root": root, "t0": t0, "import_s": t1 - t0,
             "pages": ctx.rec.pages[n_pages:]}
        r["cpu_s"], r["jit_s"] = tr.work_seconds(cpu0)
        r["reads"] = [read_pass(root, f"{name}:{i}") for i in range(passes)]
        return r

    def read_pass(root, name):
        cpu0 = tr.cpu()
        mods = os.path.join(root, "sink", "modifications")
        p = {}
        t = time.time()
        p["read_rows"] = len(ctx.spark.read.json(mods).collect())
        p["view_s"] = time.time() - t
        p["probes"] = []
        rng = random.Random(f"{ctx.seed}:{name}")
        for tname, tbl in sorted(tables.items()):
            keys = tbl.column("id").to_pylist()
            ask = rng.sample(keys, BACKFILL_PROBES) + [
                max(keys) + 1 + i for i in range(BACKFILL_PROBES)]
            df = ctx.spark.read.json(
                os.path.join(mods, "namespace=public", f"name={tname}"))
            for k in ask:
                t = time.time()
                got = df.where(df["after"]["id"] == k).collect()
                p["probes"].append((tname, k, k in keys, time.time() - t, len(got)))
        p["cpu_s"], p["jit_s"] = tr.work_seconds(cpu0)
        return p

    one_round("backfill-warm", BACKFILL_WARM_READ_PASSES)
    setup_cpu = tr.cpu()[0]
    res.unbounded["setup_wall_s"] = time.time() - ctx.t_start

    # at least three untraced rounds: their median sets aside the first
    # timed round, which still runs slower than the rest
    rounds = []
    t_begin = time.time()
    while (time.time() - t_begin < ctx.seconds
           or sum(not r["traced"] for r in rounds) < BACKFILL_MIN_ROUNDS):
        ctx.rec.tracing = ctx.trace and len(rounds) % 2 == 0
        since = time.time()
        r = one_round(f"backfill-r{len(rounds)}", BACKFILL_READ_PASSES)
        r["since"], r["until"], r["traced"] = since, time.time(), ctx.rec.tracing
        ctx.rec.tracing = False
        rounds.append(r)
    peak_mb = tr.peak_rss_mb()
    res.notes["rounds"] = len(rounds)
    res.notes["rounds_wall_s"] = round(time.time() - t_begin, 1)

    n_rows = sum(t.num_rows for t in tables.values())
    lat_p50, lat_tail, p_tail = [], [], 50.0
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{ctx.work}/duckdb'")
    for r in rounds:
        res.attempted += len(r["pages"])
        for tname, t in sorted(tables.items()):
            res.bad(_check_import(con, source, r["root"], tname, t))
        with open(os.path.join(r["root"], "jobs.json")) as f:
            jobs = json.load(f)["jobs"]
        if len(jobs) != len(tables) or any(
                j["completed_at"] is None or j["error"] for j in jobs):
            res.bad([f"jobs not all complete: {jobs}"])
        for p in r["reads"]:
            if p["read_rows"] != n_rows:
                res.bad([f"NDJSON read {p['read_rows']} rows, expected {n_rows}"])
            for tname, k, present, _dt, got in p["probes"]:
                if got != (1 if present else 0):
                    res.bad([f"probe {tname}.{k}: {got} rows"])
        lat = [1000 * (t - r["t0"]) for t in r["pages"]]
        p50, tail, p_tail = latency_summary(lat)
        lat_p50.append(p50)
        lat_tail.append(tail)
    con.close()

    untraced = [r for r in rounds if not r["traced"]] or rounds
    m, w = res.metrics, res.unbounded
    m["setup_s"] = (setup_cpu, "s")
    m["cpu_s"] = (median(r["cpu_s"] for r in untraced), "s")
    m["read_cpu_s"] = (median(p["cpu_s"] for r in untraced for p in r["reads"]), "s")
    m["peak_rss_mb"] = (peak_mb, "MB")
    w["import_jit_s"] = median(r["jit_s"] for r in untraced)
    w["read_jit_s"] = median(p["jit_s"] for r in untraced for p in r["reads"])
    res.notes["read_cpu_s_passes"] = [
        (round(p["cpu_s"], 2), round(p["jit_s"], 2)) for r in rounds for p in r["reads"]]
    w["rows_per_s"] = n_rows * len(untraced) / sum(r["import_s"] for r in untraced)
    w["visible_p50_ms"] = median(lat_p50)
    w["visible_tail_ms"] = median(lat_tail)
    w["visible_tail_percentile"] = p_tail
    w["view_read_s"] = median(p["view_s"] for r in untraced for p in r["reads"])
    w["lookup_p50_ms"] = 1000 * median(
        x[3] for r in untraced for p in r["reads"] for x in p["probes"])
    if ctx.trace:
        layers_import(ctx, res, [r for r in rounds if r["traced"]], untraced)
    return res


def _check_import(con, source: str, root: str, tname: str, table) -> list:
    """DuckDB anti-join, both ways, between the snapshot parquet and the
    imported NDJSON payloads, plus the IMPORT envelope fields."""
    src = os.path.join(source, f"{tname}.parquet")
    mods = os.path.join(root, "sink", "modifications", "namespace=public",
                        f"name={tname}", "*.json")
    cols = con.execute(f"DESCRIBE SELECT * FROM read_parquet('{src}')").fetchall()
    # payload fields read as text and cast to the snapshot's types, so
    # no JSON number is rounded on the way in
    text_struct = ", ".join(f'"{c}" VARCHAR' for c, *_ in cols)
    casts = ", ".join(f"CAST(after.\"{c}\" AS {t}) AS \"{c}\"" for c, t, *_ in cols)
    con.execute(
        "CREATE OR REPLACE TEMP TABLE imported AS SELECT * FROM read_json("
        f"'{mods}', columns={{lsn: 'BIGINT', operation: 'VARCHAR', "
        f"after: 'STRUCT({text_struct})'}})")
    problems = []
    bad_env = con.execute(
        "SELECT count(*) FROM imported WHERE lsn IS NOT NULL OR operation <> 'IMPORT'"
    ).fetchone()[0]
    if bad_env:
        problems.append(f"{tname}: {bad_env} rows not IMPORT with null lsn")
    payload = f"SELECT {casts} FROM imported"
    for a, b in ((f"SELECT * FROM read_parquet('{src}')", payload),
                 (payload, f"SELECT * FROM read_parquet('{src}')")):
        n = con.execute(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
        if n:
            problems.append(f"{tname}: {n} rows differ between snapshot and import")
    return problems


# --- per-layer figures ------------------------------------------------------

def _in(windows, t):
    return any(w["since"] <= t <= w["until"] for w in windows)


def layers_streaming(ctx: Ctx, res: Result, windows: list, untraced, capture):
    """Per-layer figures of the traced rounds."""
    rec, L = ctx.rec, res.layers
    progress = [p for x in rec.listeners for p in x.progress if _in(windows, p["timestamp"])]
    n_rounds = max(1, len(windows))
    spans = [s for s in rec.spans if _in(windows, s[1])]

    def span_d(name):
        return [e - s for n, s, e, _a in spans if n == name]

    ticks = [(s, e) for n, s, e, _a in spans if n == "cli.main"]
    starts = [(s, e) for n, s, e, _a in spans if n == "cli.query_start"]
    written = sum(c for t, _tb, c, _l in rec.inserts if _in(windows, t))
    rows_read = sum(p["numInputRows"] for p in progress)
    L["datasource.rows_read"] = (rows_read / n_rounds, "rows")
    L["datasource.reads_per_row"] = (rows_read / written if written else 0.0, "ratio")
    ph = lambda k: [p["durationMs"].get(k, 0) for p in progress]  # noqa: E731
    L["datasource.latest_offset_ms"] = (median(ph("latestOffset")), "ms")
    L["engine.batches"] = (len(progress) / n_rounds, "count")
    for key, name in (("triggerExecution", "trigger_ms"), ("addBatch", "add_batch_ms"),
                      ("queryPlanning", "planning_ms"), ("walCommit", "wal_commit_ms"),
                      ("commitOffsets", "commit_offsets_ms")):
        L[f"engine.{name}"] = (median(ph(key)), "ms")
    outside, accounted, tick_setup, query_start = [], 0.0, [], 0.0
    for s, e in ticks:
        batches = [p for p in progress if s <= p["timestamp"] <= e]
        inside = sum(p["durationMs"].get("triggerExecution", 0) for p in batches) / 1000.0
        outside.append((e - s) - inside)
        # wall time of the tick that something measured accounts for: the
        # engine phases of its batches, the query starts, and the time
        # before its first query start (relation scan, schemas, index)
        mine = [(a, b) for a, b in starts if s <= a <= e]
        tick_setup.append((min(a for a, _b in mine) if mine else e) - s)
        query_start += sum(b - a for a, b in mine)
        accounted += tick_setup[-1] + sum(b - a for a, b in mine) + sum(
            p["durationMs"].get(k, 0) for p in batches for k in PHASE_KEYS) / 1000.0
    L["cli.ticks"] = (len(ticks) / n_rounds, "count")
    L["cli.tick_s"] = (median(e - s for s, e in ticks), "s")
    L["cli.tick_outside_batch_s"] = (median(outside), "s")
    L["cli.tick_setup_s"] = (median(tick_setup), "s")
    L["cli.query_start_s"] = (query_start / n_rounds, "s")
    wall = sum(e - s for s, e in ticks)
    coverage = 100.0 * accounted / wall if wall else 0.0
    L["trace.phase_coverage_pct"] = (coverage, "%")
    if coverage < COVERAGE_MIN_PCT:
        res.notes["phase_coverage_below"] = (
            f"{coverage:.1f}% of the drain's wall time is accounted for by "
            f"its set-up, query starts and engine phases (< {COVERAGE_MIN_PCT}%)")
    # the drain's own scans, not the side stream's
    in_tick = [(n, s, e, a) for n, s, e, a in spans if any(t0 <= s <= t1 for t0, t1 in ticks)]
    L["cli.relation_scan_s"] = (median(e - s for n, s, e, _a in in_tick
                                       if n == "cli.read_capture"), "s")
    L["cli.relation_scan_bytes"] = (median(a["bytes"] for n, _s, _e, a in in_tick
                                           if n == "read_capture.bytes"), "bytes")
    L["warehouse.insert_calls"] = (len(span_d("warehouse.insert")) / n_rounds, "count")
    L["warehouse.insert_s"] = (sum(span_d("warehouse.insert")) / n_rounds, "s")
    L["warehouse.manifest_s"] = (sum(span_d("warehouse.manifest")) / n_rounds, "s")
    L["warehouse.view_install_s"] = (sum(span_d("warehouse.install_view")) / n_rounds, "s")
    files = nbytes = 0
    wh_dirs = {os.path.join(os.path.dirname(capture), "sink", "warehouse")}
    for d in wh_dirs:
        for dirpath, _dn, fnames in os.walk(d):
            for f in fnames:
                if f.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(dirpath, f))
    L["warehouse.files"] = (files, "count")
    L["warehouse.bytes"] = (nbytes, "bytes")
    L["decoder.rows_per_s"] = (decode_rate(capture), "rows/s")
    L["trace.overhead_pct"] = (_overhead(windows, untraced), "%")


def layers_import(ctx: Ctx, res: Result, windows: list, untraced: list):
    rec, L = ctx.rec, res.layers
    n = max(1, len(windows))
    spans = [s for s in rec.spans if _in(windows, s[1])]

    def span_d(name):
        return [e - s for nm, s, e, _a in spans if nm == name]

    L["keyset.pages"] = (len(span_d("keyset.batch")) / n, "count")
    L["keyset.page_s"] = (median(span_d("keyset.batch")), "s")
    L["importer.insert_s"] = (sum(span_d("importer.insert")) / n, "s")
    L["jobs.progress_s"] = (sum(span_d("jobs.update_progress")) / n, "s")
    L["trace.overhead_pct"] = (_overhead(windows, untraced), "%")


def _overhead(traced: list, untraced: list) -> float:
    """Extra CPU of a traced round over an untraced one, in percent."""
    base = median(r["cpu_s"] for r in untraced)
    return 100.0 * (median(r["cpu_s"] for r in traced) - base) / base


def decode_rate(capture: str) -> float:
    """The public decode+sequence+marshal loop over a capture, one core."""
    from pgsink_spark.streaming.datasource import iter_capture_from
    from pgsink_spark.streaming.decoder import decode_message
    from pgsink_spark.streaming.marshal import RelationCache, marshal
    from pgsink_spark.streaming.sequence import Sequencer

    cache, seq, n = RelationCache(), Sequencer(), 0
    t0 = time.perf_counter()
    for _pos, buf in iter_capture_from(capture, 0):
        sm = seq.feed(decode_message(buf))
        if sm is not None and marshal(cache, sm) is not None:
            n += 1
    return n / (time.perf_counter() - t0)
