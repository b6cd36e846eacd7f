"""CDC front-door benchmark of pgsink_spark.

    python3 perfbench/run.py --workload backlog|backfill \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The last line of standard output is one
JSON object: correct, attempted, failed and metrics (the end-to-end
metrics, or with --trace 1 the per-layer metrics). A traced run also
writes its spans and Spark progress to perfbench/out/. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
WORKLOADS = ("backlog", "backfill")


def pin_environment(work: str) -> None:
    """Pin what session.py would otherwise take from its defaults
    (local[32], a 16g heap, /tmp): cores from the CPU affinity mask that
    nproc reports, a 2g heap, and every scratch path inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "spark-warehouse"),
        "TMPDIR": tmp,
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (CHECKOUT, os.environ.get("PYTHONPATH")) if p),
        # no hsperfdata under /tmp; JVM temp files in the run directory;
        # JIT compiler threads that never exit, so spans.cpu() can keep
        # their time apart
        "PYSPARK_SUBMIT_ARGS": "--driver-java-options "
        f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        "-XX:-UseDynamicNumberOfCompilerThreads' pyspark-shell",
    })
    tempfile.tempdir = tmp
    time.tzset()


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — last resort, then wait again
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program must be importable from the checkout; fail fast if not
    sys.path[:0] = [CHECKOUT, HERE]
    import pgsink_spark

    if not os.path.abspath(pgsink_spark.__file__).startswith(CHECKOUT + os.sep):
        sys.exit(f"pgsink_spark comes from {pgsink_spark.__file__}, not {CHECKOUT}")

    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(HERE, ".work"))
    pin_environment(work)
    spark = None
    try:
        import spans as tr
        import workloads
        from pgsink_spark.session import get_spark

        spark = get_spark("perfbench")
        rec = tr.Recorder()
        rec.install()
        ctx = workloads.Ctx(args.seed, args.seconds, bool(args.trace), work,
                            spark, rec, T_START)
        res = getattr(workloads, args.workload)(ctx)
        rec.uninstall()
        for name, value in sorted({**res.notes, **res.unbounded}.items()):
            print(f"{name}: {value}", file=sys.stderr)
        for p in res.problems:
            print(f"CHECK FAILED: {p}", file=sys.stderr)
        missing = set(tr.END_TO_END) - set(res.metrics)
        if missing:
            raise RuntimeError(f"workload did not report {sorted(missing)}")
        if args.trace:
            metrics = {k: (0.0, u) for k, u in tr.LAYERS.items()}
            metrics.update(res.layers)
        else:
            metrics = res.metrics
        out = {
            "correct": res.correct,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
        }
        if args.trace:
            os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
            tr.dump(os.path.join(HERE, "out", f"{args.workload}-seed{args.seed}.json"), {
                "result": out,
                "end_to_end": {k: v for k, (v, _u) in res.metrics.items()},
                "unbounded": res.unbounded,
                "notes": res.notes,
                "spans": rec.spans,
                "progress": [p for x in rec.listeners for p in x.progress],
            })
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
