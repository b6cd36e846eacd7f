"""Measurement from outside the program: wrappers around public calls,
Spark's own StreamingQueryProgress, and process CPU and memory from /proc.

Wrappers record two kinds of facts. Publish and page events are always
recorded, because the end-to-end latency is computed from them. Spans are
recorded only while ``Recorder.tracing`` is set, in the traced run.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from datetime import datetime


# end-to-end metrics every run reports, and per-layer figures every traced
# run reports (BENCHMARK.json); a workload whose path skips a layer
# reports 0 for that layer
END_TO_END = {"setup_s": "s", "cpu_s": "s", "read_cpu_s": "s", "peak_rss_mb": "MB"}
LAYERS = {
    "datasource.rows_read": "rows",
    "datasource.reads_per_row": "ratio",
    "datasource.latest_offset_ms": "ms",
    "decoder.rows_per_s": "rows/s",
    "engine.batches": "count",
    "engine.trigger_ms": "ms",
    "engine.add_batch_ms": "ms",
    "engine.planning_ms": "ms",
    "engine.wal_commit_ms": "ms",
    "engine.commit_offsets_ms": "ms",
    "cli.ticks": "count",
    "cli.tick_s": "s",
    "cli.tick_outside_batch_s": "s",
    "cli.tick_setup_s": "s",
    "cli.relation_scan_s": "s",
    "cli.relation_scan_bytes": "bytes",
    "cli.query_start_s": "s",
    "warehouse.insert_calls": "count",
    "warehouse.insert_s": "s",
    "warehouse.manifest_s": "s",
    "warehouse.files": "count",
    "warehouse.bytes": "bytes",
    "warehouse.view_install_s": "s",
    "keyset.pages": "count",
    "keyset.page_s": "s",
    "importer.insert_s": "s",
    "jobs.progress_s": "s",
    "trace.overhead_pct": "%",
    "trace.phase_coverage_pct": "%",
}


class Recorder:
    def __init__(self):
        self.tracing = False
        self.spans: list = []  # (name, start_s, end_s, attrs)
        # table = (warehouse root, namespace, name)
        self.inserts: list = []  # (end_s, table, rows, max_lsn)
        self.publishes: list = []  # (end_s, table, max_lsn)
        self.pages: list = []  # end_s of each job-store progress commit
        self.listeners: list = []  # StreamingQueryListeners of traced rounds
        self._max_lsn: dict = {}
        self._lock = threading.Lock()
        self._undo: list = []

    @contextmanager
    def span(self, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            if self.tracing:
                with self._lock:
                    self.spans.append((name, t0, time.time(), {}))

    def wrap(self, owner, attr: str, name: str, after=None):
        """Replace ``owner.attr`` with a spanned call; ``after(args,
        result, end_s)`` runs on every return, traced or not."""
        inner = getattr(owner, attr)

        def call(*args, **kwargs):
            t0 = time.time()
            result = inner(*args, **kwargs)
            t1 = time.time()
            if after is not None:
                after(args, result, t1)
            if self.tracing:
                with self._lock:
                    self.spans.append((name, t0, t1, {}))
            return result

        setattr(owner, attr, call)
        self._undo.append((owner, attr, inner))

    def install(self):
        """Wrap every public call the benchmark times."""
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        from pgsink_spark.imports import importer
        from pgsink_spark.imports.jobs import ImportJobStore
        from pgsink_spark.sinks.file_sink import FileSink
        from pgsink_spark.sinks.warehouse import WarehouseSink
        from pgsink_spark.streaming import datasource

        # tables are keyed by warehouse root too: every round drains into
        # a fresh root, whose snapshot holds only that round's LSNs
        def on_insert(args, res, t):
            table = (args[0].root, args[2], args[3])
            with self._lock:
                self.inserts.append((t, table, res.count, res.max_lsn))
                if res.max_lsn is not None:
                    self._max_lsn[table] = max(self._max_lsn.get(table, -1),
                                               res.max_lsn)

        def on_manifest(args, _res, t):
            table = (args[0].root, args[1], args[2])
            with self._lock:
                self.publishes.append((t, table, self._max_lsn.get(table, -1)))

        def on_scan(args, frames, t):
            if self.tracing:
                nbytes = sum(4 + len(b) for b in frames)
                with self._lock:
                    self.spans.append(("read_capture.bytes", t, t, {"bytes": nbytes}))

        def on_progress(_args, _res, t):
            with self._lock:
                self.pages.append(t)

        self.wrap(WarehouseSink, "insert", "warehouse.insert", on_insert)
        self.wrap(WarehouseSink, "commit_manifest", "warehouse.manifest", on_manifest)
        self.wrap(WarehouseSink, "install_view", "warehouse.install_view")
        self.wrap(datasource, "read_capture", "cli.read_capture", on_scan)
        self.wrap(DataStreamWriter, "start", "cli.query_start")
        self.wrap(importer, "keyset_batch", "keyset.batch")
        self.wrap(FileSink, "insert", "importer.insert")
        self.wrap(ImportJobStore, "update_progress", "jobs.update_progress", on_progress)

    def uninstall(self):
        for owner, attr, inner in reversed(self._undo):
            setattr(owner, attr, inner)
        self._undo.clear()


def make_listener():
    """A StreamingQueryListener that keeps every event in memory."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.started, self.progress, self.terminated = [], [], []
            self.last = time.time()

        def onQueryStarted(self, event):
            self.started.append(str(event.runId))
            self.last = time.time()

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append({
                "runId": str(p.runId),
                "batchId": p.batchId,
                "timestamp": _iso_s(p.timestamp),
                "numInputRows": p.numInputRows,
                "durationMs": dict(p.durationMs),
            })
            self.last = time.time()

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated.append(str(event.runId))
            self.last = time.time()

        def settle(self, timeout: float = 15.0):
            """Wait until every started query has reported its end."""
            end = time.time() + timeout
            while time.time() < end:
                if (len(self.terminated) >= len(self.started)
                        and time.time() - self.last > 0.3):
                    return
                time.sleep(0.05)

    return Listener()


def _iso_s(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


# --- processes --------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")
_peak_kb = 0  # highest sum of VmHWM seen by any sample so far


def _stat(pid: int):
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    fields = s[s.rindex(")") + 2:].split()
    # fields[1] = ppid; [11..14] = utime stime cutime cstime
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def program_pids() -> list:
    """This process and its descendants: the JVM and its Python workers."""
    children: dict = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                children.setdefault(st[0], []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def _jit_ticks(pid: int) -> int:
    """CPU ticks of a JVM's JIT compiler threads ("C1/C2 CompilerThread",
    cut to 15 characters by the kernel). run.py keeps them alive for the
    JVM's whole life, so no compiler time leaves this sum."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                s = f.read()
        except OSError:
            continue
        if "CompilerThre" in s[s.index("(") + 1:s.rindex(")")]:
            fields = s[s.rindex(")") + 2:].split()
            total += int(fields[11]) + int(fields[12])
    return total


def cpu() -> tuple[float, float]:
    """(all, JIT) CPU seconds of the program's processes so far: user +
    system time with reaped children, so a process that ended keeps its
    time in the total, and the part of it spent by JVM JIT compiler
    threads. Each call is also a memory sample for ``peak_rss_mb``."""
    global _peak_kb
    total = jit = hwm = 0
    for pid in program_pids():
        st = _stat(pid)
        if st is not None:
            total += st[1]
            hwm += _vm_hwm_kb(pid)
            jit += _jit_ticks(pid)
    _peak_kb = max(_peak_kb, hwm)
    return total / _TICK, jit / _TICK


def work_seconds(since: tuple[float, float]) -> tuple[float, float]:
    """(CPU seconds outside JIT compilation, JIT CPU seconds) since an
    earlier ``cpu()`` sample."""
    total, jit = cpu()
    return (total - jit) - (since[0] - since[1]), jit - since[1]


def peak_rss_mb() -> float:
    """Peak memory of the program's processes: the highest sum of the
    live processes' peak resident sets (VmHWM) over every sample taken so
    far, this call included. Called right after the timed rounds, before
    the checks, so the checker's own memory is not in it."""
    cpu()
    return _peak_kb / 1024.0


def median(values, default=0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def dump(path: str, data) -> None:
    with open(path, "w") as f:
        json.dump(data, f, indent=1, default=str)
