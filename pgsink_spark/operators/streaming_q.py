"""Registry query for the CUSTOM STATEFUL streaming operator
(streaming/stateful.py session_tracker): run the
``applyInPandasWithState`` gap-sessionizer over the events fixture as
a real Structured Streaming query (availableNow file source → memory
sink) and hash-check the emitted sessions against the batch SQL
sessionization oracle.

This closes the loop SURVEY §2.F asks for: the imperative stateful
path produces byte-identical sessions to the declarative d23 shape.
The tracker emits a session only when a LATER event closes it (a
gap), so with NoTimeout the stream's output is exactly "d23's sessions
minus each user's final session" — which is what the oracle selects.
At 100 TB the operator is a keyed stateful stage: state is one
(start, last, n) triple per live user, watermark/timeout-bounded.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgsink_spark.operators.registry import query
from pgsink_spark.sources.fixtures import load_table
from pgsink_spark.streaming.stateful import session_tracker

_RUN = itertools.count()

# Scale rule for the stateful-streaming plane (guide §2.2 — size
# shuffle partitions from data volume, not from a constant): the state
# store creates ONE instance per shuffle partition per stateful
# operator, and every micro-batch commits EVERY instance (delta file +
# snapshot bookkeeping) whether or not it holds data. With the session
# default (partitions = cores), a 2 MB fixture pays 32 state commits
# per batch per operator at local[32] — pure fixed cost, and the
# round-10 driver record shows the inversion (stream_* ran FASTER at 8
# cores than at 32). The rule below derives the partition count from
# the staged input bytes at the guide's ~64 MB-per-partition advisory
# (AQE's advisoryPartitionSizeInBytes default — AQE itself is disabled
# for stateful streaming, so this is the streaming-side equivalent):
# 2 MB → 1 partition locally; 100 TB → ~1.6M capped by the env knob at
# 200k (a real cluster's max state-store instances; operators with
# larger state per key should lower the target). Parameterised, not
# fixture-tuned: PGSINK_STREAM_TARGET_PARTITION_BYTES / _MAX_PARTITIONS.
_STREAM_TARGET_PARTITION_BYTES = int(
    os.environ.get("PGSINK_STREAM_TARGET_PARTITION_BYTES", str(64 * 1024**2))
)
_STREAM_MAX_PARTITIONS = int(
    os.environ.get("PGSINK_STREAM_MAX_PARTITIONS", "200000")
)


def _stream_shuffle_partitions(
    staged_bytes: int, compute_floor: int = 1
) -> int:
    """Volume rule, with a compute floor for PYTHON-stateful queries:
    an ``applyInPandasWithState`` operator pays a pandas call per GROUP
    per batch — compute that needs task slots, not fewer state
    commits — so those queries floor the partition count at the
    session's default parallelism (measured r11: stream_funnel ran
    2.0 s at 32 partitions and 7.7 s at 1; the JVM-stateful family
    shows the opposite sign, stream_interval_join_outer 10.4 s at 32
    vs 2.8 s at 1)."""
    parts = -(-max(staged_bytes, 1) // _STREAM_TARGET_PARTITION_BYTES)
    return max(compute_floor, min(parts, _STREAM_MAX_PARTITIONS))

_EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp_ntz, user_id bigint,"
    " event_type string, value double, props string"
)
_DOCS_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


def _run_availablenow(
    spark: SparkSession,
    sf_dir: str,
    prefix: str,
    build,
    *,
    schema: str = _EVENTS_SCHEMA,
    stage: tuple[tuple[str, str], ...] = (
        ("events.parquet", "events.parquet"),
    ),
    output_mode: str | None = None,
    python_stateful: bool = False,
) -> DataFrame:
    """Shared availableNow plumbing for every stream_* registry query:
    stage the fixture file(s) into a fresh /tmp source directory, read
    them with the declared schema (this Spark build surfaces the
    parquet TIMESTAMP(NANOS) column as a µs-truncated TIMESTAMP_NTZ,
    matching the batch loader — ``build`` casts as needed), apply
    ``build`` to the streaming frame, run it into a memory sink under a
    per-run checkpoint, and return the sunk table. One definition so a
    staging-protocol fix lands everywhere at once."""
    h = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    run = next(_RUN)
    src = f"/tmp/pgsink_{prefix}_src_{h}"
    ck = f"/tmp/pgsink_{prefix}_ck_{h}_{os.getpid()}_{run}"
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ck, ignore_errors=True)
    os.makedirs(src)
    staged_bytes = 0
    for s, d in stage:
        p = f"{sf_dir}/{s}"
        # fixture dirs ship single parquet files; scale-probe replicas
        # ship Spark-written directories — stage either shape
        if os.path.isdir(p):
            shutil.copytree(p, f"{src}/{d}")
            for root, _dirs, files in os.walk(f"{src}/{d}"):
                staged_bytes += sum(
                    os.path.getsize(os.path.join(root, f)) for f in files
                )
        else:
            shutil.copy(p, f"{src}/{d}")
            staged_bytes += os.path.getsize(f"{src}/{d}")
    # recursive + glob: single-file fixtures stage flat, but scale-probe
    # replicas are Spark-WRITTEN DIRECTORIES (part files + _SUCCESS) —
    # without these options the file stream source silently lists ZERO
    # files under the nested dir and every probe reads an empty stream
    raw = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(src)
    )
    name = f"{prefix}_{h}_{os.getpid()}_{run}"
    # data-volume-derived shuffle/state partitioning for THIS streaming
    # query only (see _stream_shuffle_partitions); the session default
    # is restored right after the drain so batch queries are untouched.
    # The state-store partition count is fixed per checkpoint at first
    # start, and every run here starts a fresh checkpoint, so the rule
    # re-derives cleanly per run.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    floor = (
        spark.sparkContext.defaultParallelism if python_stateful else 1
    )
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(_stream_shuffle_partitions(staged_bytes, floor)),
    )
    try:
        writer = (
            build(raw)
            .writeStream.format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .option("checkpointLocation", ck)
        )
        if output_mode:
            writer = writer.outputMode(output_mode)
        q = writer.start()
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    # staging contract: the stream must have ingested at least the rows
    # staged (the nested-dir regression above produced 0-input runs
    # that looked like fast queries — this turns that into a loud error)
    ingested = sum(p["numInputRows"] for p in q.recentProgress)
    staged = (
        spark.read.schema(schema)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(src)
        .count()
    )
    # under-ingestion only: a self-join reads the staged dir through TWO
    # file sources (ingested = 2x staged), so exact equality is wrong —
    # but the regression this guards (nested dirs listing zero files)
    # always shows as ingested < staged
    if ingested < staged:
        raise AssertionError(
            f"{prefix}: stream ingested {ingested} rows but {staged} were"
            f" staged under {src} — file-source listing is broken"
        )
    return spark.table(name)


def _ts_cast(raw: DataFrame) -> DataFrame:
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


@query(
    "stream_sessionize",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_no
      FROM flagged
    ), agg AS (
      SELECT user_id, session_no, MIN(ts) AS session_start,
             MAX(ts) AS session_end, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM sessions GROUP BY user_id, session_no
    )
    SELECT user_id, session_start, session_end, n_events FROM (
      SELECT agg.*, MAX(session_no) OVER (PARTITION BY user_id) AS mx
      FROM agg) t
    WHERE session_no < mx
    ORDER BY user_id, session_start
    """,
)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the stateful sessionizer as a real streaming query over the
    fixture events and serve the closed sessions.

    Plumbing: the events file is staged into a source directory, read
    with ``readStream`` (same nanos-as-long rebuild as the batch
    loader), folded by ``applyInPandasWithState`` keyed on user_id,
    and sunk to an in-memory table by an availableNow run. The output
    timestamps surface as TIMESTAMP_NTZ (UTC session) to match the
    oracle's precision.
    """
    out = _run_availablenow(
        spark,
        sf_dir,
        "sess",
        lambda raw: session_tracker(_ts_cast(raw).select("user_id", "ts")),
        python_stateful=True,
    )
    return (
        out
        .select(
            "user_id",
            F.col("session_start").cast("timestamp_ntz").alias("session_start"),
            F.col("session_end").cast("timestamp_ntz").alias("session_end"),
            F.col("n_events").alias("n_events"),
        )
        .orderBy("user_id", "session_start")
    )


@query(
    "stream_ewma_anomalies",
    """
    WITH RECURSIVE e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP)) AS rn
      FROM events
    ),
    r AS (
      SELECT user_id, rn, ts, value,
             CAST(0.0 AS DOUBLE) AS pre_mean,
             CAST(0.0 AS DOUBLE) AS pre_var,
             CAST(0 AS BIGINT) AS pre_n,
             0.0 + 0.2 * (value - 0.0) AS mean,
             (1.0 - 0.2) * (0.0 + (value - 0.0) * (0.2 * (value - 0.0)))
               AS var,
             CAST(1 AS BIGINT) AS n
      FROM e WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.rn, e.ts, e.value,
             r.mean, r.var, r.n,
             r.mean + 0.2 * (e.value - r.mean),
             (1.0 - 0.2)
               * (r.var + (e.value - r.mean) * (0.2 * (e.value - r.mean))),
             r.n + 1
      FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1
    ),
    judged AS (
      SELECT user_id, ts, value, pre_mean, pre_var, pre_n,
             CASE WHEN pre_var > 0 THEN sqrt(pre_var) ELSE 0.0 END AS sd
      FROM r
    )
    SELECT user_id, ts, value, pre_mean AS ewma,
           (value - pre_mean) / sd AS zscore
    FROM judged
    WHERE pre_n >= 5 AND sd > 0
      AND abs((value - pre_mean) / sd) >= 3.0
    ORDER BY user_id, ts
    """,
)
def stream_ewma_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second custom stateful operator
    (streaming/stateful.py anomaly_detector) as a real availableNow
    streaming query, hash-checked against a recursive-CTE oracle that
    replays the IDENTICAL West's-EWMA float arithmetic per user in ts
    order — imperative NumPy fold vs declarative recursion, same
    doubles (op-for-op order preserved; (user_id, ts) is µs-unique in
    the fixtures so both engines fold in the same order).
    """
    from pgsink_spark.streaming.stateful import anomaly_detector

    out = _run_availablenow(
        spark,
        sf_dir,
        "ewma",
        lambda raw: anomaly_detector(
            _ts_cast(raw).select("user_id", "ts", "value")
        ),
        python_stateful=True,
    )
    return (
        out
        .select(
            "user_id",
            F.col("ts").cast("timestamp_ntz").alias("ts"),
            "value",
            "ewma",
            "zscore",
        )
        .orderBy("user_id", "ts")
    )


@query(
    "stream_interval_join",
    """
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           CAST(epoch_us(CAST(p.ts AS TIMESTAMP))
                - epoch_us(CAST(c.ts AS TIMESTAMP)) AS BIGINT) AS gap_us
    FROM events c
    JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND CAST(p.ts AS TIMESTAMP) > CAST(c.ts AS TIMESTAMP)
     AND CAST(p.ts AS TIMESTAMP)
         <= CAST(c.ts AS TIMESTAMP) + INTERVAL 10 MINUTE
    ORDER BY c.user_id, click_id, purchase_id
    """,
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join as a REAL Structured Streaming run:
    clicks joined to the same user's purchases within the next 10
    minutes, both sides watermarked so join state expires at
    O(rate × horizon) (stream.py stream_stream_interval_join), run
    availableNow into a memory sink and hash-checked against the batch
    range-join oracle.

    This is the streaming twin of d4's theta/range join: equality on
    user_id keys the shuffle; the two-sided time bound is what lets
    Spark drop buffered rows once the opposing watermark passes — the
    property that keeps the operator viable on unbounded streams.
    """
    from pgsink_spark.streaming.stream import stream_stream_interval_join

    def build(raw: DataFrame) -> DataFrame:
        ev = _ts_cast(raw).select("event_id", "ts", "user_id", "event_type")
        return stream_stream_interval_join(
            ev.where(F.col("event_type") == "click"),
            ev.where(F.col("event_type") == "purchase"),
            watermark="10 minutes",
            horizon="10 minutes",
        )

    out = _run_availablenow(spark, sf_dir, "sij", build)
    return (
        out
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("next_event_id").alias("purchase_id"),
            (
                F.unix_micros(F.col("next_ts")) - F.unix_micros(F.col("ts"))
            ).alias("gap_us"),
        )
        .orderBy("user_id", "click_id", "purchase_id")
    )


@query(
    "stream_dedup_replay",
    """
    SELECT event_id, user_id, event_type FROM events ORDER BY event_id
    """,
)
def stream_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once replay dedup as a REAL Structured Streaming run:
    the source directory holds TWO copies of the events fixture (the
    shape a CDC reconnect leaves behind — every event delivered at
    least once), and the watermarked
    ``dropDuplicatesWithinWatermark`` stage (streaming/stream.py
    stream_dedup) emits each event exactly once. Oracle: the single
    batch copy — the stream's output must equal plain DISTINCT.

    Determinism holds in every batch split availableNow can choose:
    duplicates inside one micro-batch dedup against in-batch state;
    across batches, a replayed row is either inside the watermark
    horizon (its first copy's state is still live → dropped as a
    duplicate) or behind the watermark (→ dropped as late) — both
    paths delete it. That two-sided property is exactly why the
    reference's at-least-once delivery plus keyed dedup yields
    exactly-once reads (README "exactly once" caveat; C2 view), and
    why state stays O(rate × horizon) on an unbounded stream instead
    of growing with history.
    """
    from pgsink_spark.streaming.stream import stream_dedup

    out = _run_availablenow(
        spark,
        sf_dir,
        "sdd",
        lambda raw: stream_dedup(
            _ts_cast(raw).select("event_id", "ts", "user_id", "event_type"),
            watermark="10 minutes",
        ),
        stage=(
            ("events.parquet", "replay_a.parquet"),
            ("events.parquet", "replay_b.parquet"),
        ),
    )
    return (
        out
        .select("event_id", "user_id", "event_type")
        .orderBy("event_id")
    )


@query(
    "stream_attribution",
    """
    WITH marked AS (
      SELECT event_id, user_id, ts, event_type,
             MAX(CASE WHEN event_type = 'click' THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS last_click_ts
      FROM events
    )
    SELECT event_id, user_id,
           (last_click_ts IS NOT NULL
            AND date_diff('second', last_click_ts, ts) <= 86400)
             AS attributed,
           CASE WHEN last_click_ts IS NOT NULL
                 AND date_diff('second', last_click_ts, ts) <= 86400
                THEN CAST(date_diff('second', last_click_ts, ts) AS BIGINT)
           END AS lag_s
    FROM marked
    WHERE event_type = 'purchase'
    ORDER BY event_id
    """,
)
def stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stateful attribution tracker (streaming/stateful.py
    attribution_tracker) run as a real availableNow streaming query
    over the events fixture, hash-checked against the SAME declarative
    oracle as the batch twin d71_attribution — the strongest
    batch/stream equivalence claim in the registry: identical rows,
    flags, and second-precision lags from one timestamp of keyed
    state versus a running window MAX.
    """
    from pgsink_spark.streaming.stateful import attribution_tracker

    out = _run_availablenow(
        spark,
        sf_dir,
        "attr",
        lambda raw: attribution_tracker(
            _ts_cast(raw).select("event_id", "user_id", "ts", "event_type")
        ),
        python_stateful=True,
    )
    return (
        out
        .select("event_id", "user_id", "attributed", "lag_s")
        .orderBy("event_id")
    )


@query(
    "stream_rolling_zscore",
    """
    WITH w AS (
      SELECT event_id, user_id, value,
             avg(value) OVER win AS mu,
             stddev_samp(value) OVER win AS sd,
             count(*) OVER win AS cnt
      FROM events
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    ),
    z AS (
      SELECT event_id, user_id,
             CAST(ROUND(CAST((value - mu) / sd AS DECIMAL(24,6)), 4)
                  AS DOUBLE) AS z
      FROM w WHERE cnt >= 8 AND sd > 0
    )
    SELECT event_id, user_id, z FROM z
    WHERE ABS(z) >= 3 ORDER BY user_id, event_id
    """,
)
def stream_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ring-buffer rolling-zscore detector (streaming/stateful.py
    rolling_zscore_detector) as a real availableNow streaming query,
    hash-checked against the SAME declarative window oracle as the
    batch twin d69_rolling_zscore — 20 doubles of keyed state versus
    a trailing window frame, byte-equal flags after the shared 4-dp
    rounding.
    """
    from pgsink_spark.streaming.stateful import rolling_zscore_detector

    out = _run_availablenow(
        spark,
        sf_dir,
        "rollz",
        lambda raw: rolling_zscore_detector(
            _ts_cast(raw).select("event_id", "user_id", "ts", "value")
        ),
        python_stateful=True,
    )
    return (
        out
        .select("event_id", "user_id", "z")
        .orderBy("user_id", "event_id")
    )


def _cusum_oracle() -> str:
    from pgsink_spark.operators.relational import CUSUM_H, CUSUM_K

    return f"""
    WITH RECURSIVE e AS (
      SELECT user_id, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    r AS (
      SELECT user_id, rn, event_id, value,
             GREATEST(0.0, value - {CUSUM_K}) AS s,
             (GREATEST(0.0, value - {CUSUM_K}) > {CUSUM_H}) AS fired
      FROM e WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.rn, e.event_id, e.value,
             CASE WHEN r.fired THEN GREATEST(0.0, e.value - {CUSUM_K})
                  ELSE GREATEST(0.0, r.s + e.value - {CUSUM_K}) END,
             (CASE WHEN r.fired THEN GREATEST(0.0, e.value - {CUSUM_K})
                   ELSE GREATEST(0.0, r.s + e.value - {CUSUM_K}) END)
               > {CUSUM_H}
      FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1
    )
    SELECT user_id, event_id,
           CAST(ROUND(CAST(s AS DECIMAL(24,6)), 4) AS DOUBLE) AS s
    FROM r WHERE fired
    ORDER BY user_id, event_id
    """


@query("stream_cusum", _cusum_oracle())
def stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSUM detector (streaming/stateful.py cusum_detector) as a
    real availableNow streaming query, hash-checked against the SAME
    recursive-CTE oracle as the batch twin d74_cusum_changepoints —
    one scalar of keyed state versus the unrolled recurrence."""
    from pgsink_spark.streaming.stateful import cusum_detector

    out = _run_availablenow(
        spark,
        sf_dir,
        "cusum",
        lambda raw: cusum_detector(
            _ts_cast(raw).select("event_id", "user_id", "ts", "value")
        ),
        python_stateful=True,
    )
    return (
        out
        .select("user_id", "event_id", "s")
        .orderBy("user_id", "event_id")
    )


@query(
    "stream_scd2",
    """
    SELECT user_id, event_type, event_id,
           CAST(ROUND(CAST(value AS DECIMAL(18,4)), 2) AS DOUBLE) AS value,
           ts AS valid_from,
           LEAD(ts) OVER w AS valid_to
    FROM events
    WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
    QUALIFY LEAD(ts) OVER w IS NOT NULL
    ORDER BY user_id, event_type, valid_from, event_id
    """,
)
def stream_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD Type-2 maintenance (streaming/stateful.py
    scd2_tracker) as a real availableNow streaming query: keyed on the
    dimension PK, every change event closes the previous version and
    the CLOSED versions land in the sink. With NoTimeout the current
    (open) version stays in state, so the emitted rows are exactly the
    batch a19_scd2_history filtered to ``valid_to IS NOT NULL`` — the
    shared LEAD-window oracle pins stream == batch.

    Sixth custom stateful operator (§2.F): state is ONE
    (from_us, event_id, value) triple per live dimension key —
    bounded by key cardinality, independent of history length.
    """
    from pgsink_spark.streaming.stateful import scd2_tracker

    out = _run_availablenow(
        spark,
        sf_dir,
        "scd2",
        lambda raw: scd2_tracker(
            _ts_cast(raw).select(
                "event_id", "user_id", "event_type", "ts", "value"
            )
        ),
        python_stateful=True,
    )
    return (
        out
        .select(
            "user_id",
            "event_type",
            "event_id",
            F.round(F.col("value").cast("decimal(18,4)"), 2)
            .cast("double")
            .alias("value"),
            F.col("valid_from").cast("timestamp_ntz").alias("valid_from"),
            F.col("valid_to").cast("timestamp_ntz").alias("valid_to"),
        )
        .orderBy("user_id", "event_type", "valid_from", "event_id")
    )


@query(
    "stream_tumbling_agg",
    """
    WITH mx AS (
      -- Spark's EventTimeWatermarkExec tracks max event time in
      -- MILLISECONDS, so the watermark is ms-floor(max ts) - delay;
      -- the oracle must truncate identically or a max ts landing
      -- within the sub-ms window of an emission boundary flips a row
      SELECT DATE_TRUNC('milliseconds', max(ts)) AS m FROM events
    )
    SELECT DATE_TRUNC('hour', ts) AS w, event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS sum_value
    FROM events CROSS JOIN mx
    GROUP BY DATE_TRUNC('hour', ts), event_type, mx.m
    HAVING DATE_TRUNC('hour', ts) + INTERVAL 1 HOUR
             <= m - INTERVAL 10 MINUTE
    ORDER BY w, event_type
    """,
)
def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUILT-IN stateful streaming: watermarked tumbling-window
    aggregation in append mode — the declarative complement of the
    custom applyInPandasWithState operators (d17 is the batch shape;
    this is the same aggregation run as a real stream with late-data
    semantics). Append mode only releases a window once the event-time
    watermark (max event time − 10 min) passes its end, so the oracle
    states the emission rule declaratively: every hourly group whose
    window end ≤ max(ts) − 10 min — the trailing in-flight window
    stays in state, exactly what a live pipeline would see. The hash
    check therefore pins Spark's watermark/eviction semantics, not
    just the arithmetic.

    At scale this is the canonical streaming shuffle: one keyed
    exchange on (window, event_type), partial aggregation map-side,
    state bounded by active windows × group cardinality.
    """
    def build(raw: DataFrame) -> DataFrame:
        ev = _ts_cast(raw).select("ts", "event_type", "value")
        return (
            ev.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("cnt"),
                F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
                .cast("double")
                .alias("sum_value"),
            )
        )

    out = _run_availablenow(
        spark, sf_dir, "tumb", build, output_mode="append"
    )
    return (
        out
        .select(
            F.col("win.start").cast("timestamp_ntz").alias("w"),
            "event_type",
            "cnt",
            "sum_value",
        )
        .orderBy("w", "event_type")
    )


@query(
    "stream_sample_evictions",
    """
    SELECT source, doc_id FROM (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents) t
    WHERE rn > 50 ORDER BY source, doc_id
    """,
)
def stream_sample_evictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online per-group sample maintenance as a stream
    (streaming/stateful.py reservoir_evictions): the deterministic
    hash-priority k-sample lives in state and the EVICTED rows are the
    append-mode output — rejection from a top-k-by-hash sample is
    monotone, so each emitted row is final, and (all − emitted) at any
    instant IS the batch sample_group_topk of the data seen so far.
    The shared window oracle (rn > 50) pins stream == batch.

    Seventh custom stateful operator (§2.F): state is ≤ 50 (hash, id)
    pairs per group — fixed size per live group by construction.
    """
    from pgsink_spark.streaming.stateful import reservoir_evictions

    out = _run_availablenow(
        spark,
        sf_dir,
        "resv",
        lambda raw: reservoir_evictions(raw.select("source", "doc_id")),
        schema=_DOCS_SCHEMA,
        stage=(("documents.parquet", "documents.parquet"),),
        python_stateful=True,
    )
    return out.select("source", "doc_id").orderBy("source", "doc_id")


@query(
    "stream_static_join",
    """
    SELECT e.event_id, e.user_id, c.c_mktsegment AS segment,
           CAST(ROUND(CAST(e.value AS DECIMAL(18,4)), 2) AS DOUBLE)
             AS value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    WHERE e.event_type = 'purchase'
    ORDER BY e.event_id
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the remaining streaming join
    modality (stream-stream interval join is stream_interval_join):
    the live purchase stream joins the STATIC customer dimension,
    Spark re-plans the static side per micro-batch (so a dimension
    refresh between batches is picked up) and broadcasts it when
    small. Stateless for the stream side — no watermark needed, state
    cost zero — exactly how a CDC pipeline decorates events with
    slowly-refreshed reference data at any scale. Oracle: the plain
    batch equi-join.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )

    def build(raw: DataFrame) -> DataFrame:
        ev = _ts_cast(raw).select(
            "event_id", "user_id", "event_type", "value"
        )
        return (
            ev.where(F.col("event_type") == "purchase")
            .join(F.broadcast(cust), ev["user_id"] == cust["c_custkey"])
            .select(
                "event_id",
                "user_id",
                F.col("c_mktsegment").alias("segment"),
                F.round(F.col("value").cast("decimal(18,4)"), 2)
                .cast("double")
                .alias("value"),
            )
        )

    out = _run_availablenow(spark, sf_dir, "ssj", build)
    return out.orderBy("event_id")


@query(
    "stream_funnel",
    """
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
    ), s AS (
      SELECT user_id, event_id AS s_id, us AS s_us FROM e
      WHERE event_type = 'signup'
      QUALIFY row_number() OVER (
        PARTITION BY user_id ORDER BY us, event_id) = 1
    ), v AS (
      SELECT e.user_id, e.event_id AS v_id, e.us AS v_us
      FROM e JOIN s USING (user_id)
      WHERE event_type = 'view'
        AND (e.us > s_us OR (e.us = s_us AND e.event_id > s_id))
      QUALIFY row_number() OVER (
        PARTITION BY e.user_id ORDER BY e.us, e.event_id) = 1
    ), p AS (
      SELECT e.user_id, e.event_id AS p_id, e.us AS p_us
      FROM e JOIN v USING (user_id)
      WHERE event_type = 'purchase'
        AND (e.us > v_us OR (e.us = v_us AND e.event_id > v_id))
      QUALIFY row_number() OVER (
        PARTITION BY e.user_id ORDER BY e.us, e.event_id) = 1
    )
    SELECT s.user_id, s.s_id AS signup_id, v.v_id AS view_id,
           p.p_id AS purchase_id,
           CAST(p.p_us // 1000000 - s.s_us // 1000000 AS BIGINT)
             AS funnel_s
    FROM s JOIN v USING (user_id) JOIN p USING (user_id)
    ORDER BY user_id
    """,
)
def stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming funnel detection (streaming/stateful.py
    funnel_tracker) as a real availableNow run: per-user ordered
    signup → view → purchase matched greedily-earliest, one emission
    per completed funnel. The oracle recomputes the same greedy chain
    declaratively with three QUALIFY row_number()=1 picks whose tuple
    comparisons ((us, event_id) strictly increasing across stages)
    encode exactly the fold's processing order — stream == batch
    row-for-row, the §2.F falsifiability bar.

    Scale: state is a 4-field cursor per live user, timeout-expirable;
    output is at most one row per user ever.
    """
    from pgsink_spark.streaming.stateful import funnel_tracker

    out = _run_availablenow(
        spark,
        sf_dir,
        "funl",
        lambda raw: funnel_tracker(
            _ts_cast(raw).select("event_id", "ts", "user_id", "event_type")
        ),
        python_stateful=True,
    )
    return out.orderBy("user_id")


from pgsink_spark.operators.dedup import _DUCKDB_SIMHASH  # noqa: E402

_BAND_NEARDUP_SQL = f"""
    WITH {_DUCKDB_SIMHASH}, chunks AS (
      SELECT doc_id,
             ((simhash >> (j.j * 10)) & 1023) + j.j * 1024 AS ck
      FROM fp, (SELECT unnest(range(0, 6)) AS j) j
    ), hit AS (
      SELECT b.doc_id, min(a.doc_id) AS dup_of
      FROM chunks a JOIN chunks b ON a.ck = b.ck AND a.doc_id < b.doc_id
      GROUP BY b.doc_id
    )
    SELECT d.doc_id, h.dup_of, h.dup_of IS NOT NULL AS is_dup
    FROM documents d LEFT JOIN hit h USING (doc_id)
    ORDER BY d.doc_id
"""


@query("stream_band_neardup", _BAND_NEARDUP_SQL)
def stream_band_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online near-dup triage: documents stream through a simhash band
    index built ON THE STREAM (streaming/stateful.py
    band_neardup_prober — one running-min doc_id per band bucket), and
    each doc reports the earliest prior doc sharing any band. The
    incremental counterpart of dedup_simhash_pairs' batch blocking:
    at 100 TB the index IS the state (bounded by live buckets, not
    history), and the fingerprint is computed row-locally on the
    stream — blobs/text never key a shuffle, only (doc_id, band) pairs
    do.

    The per-doc reduce over its 6 band verdicts runs on the sunk
    table (at scale: the next pipeline stage). Min is
    order-independent, so the oracle — min earlier doc over the same
    band equi-join — pins the stream output exactly.
    """
    from pgsink_spark.operators.dedup import simhash_chunk_rows_col
    from pgsink_spark.streaming.stateful import band_neardup_prober

    def build(raw: DataFrame) -> DataFrame:
        # r11 (guide §2.2): the staged micro-batch arrives as ONE file
        # split, so the CPU-heavy per-token simhash fold ran on one of
        # 32 cores (~2 s serial at sf0.1 — measured: the identical
        # batch compute drops 1.37 → 0.65 s once fanned out). Fan the
        # text rows across the session's cores BEFORE the fold — the
        # stateful groupBy re-shuffles to ck keys right after. Unlike
        # dedup.widen this is not gated on the source's width: every
        # batch pays one round-robin exchange of all its text rows,
        # sized by the session's parallelism. The chunk rows come from
        # one let-bound generator (simhash evaluated once per doc; see
        # simhash_chunk_rows_col).
        fanout = raw.sparkSession.sparkContext.defaultParallelism
        chunks = (
            raw.repartition(fanout)
            .select(
                "doc_id",
                F.explode(simhash_chunk_rows_col(with_fp=False)).alias(
                    "e"
                ),
            )
            .select("doc_id", F.col("e.ck").alias("ck"))
        )
        return band_neardup_prober(chunks)

    out = _run_availablenow(
        spark,
        sf_dir,
        "band",
        build,
        schema=_DOCS_SCHEMA,
        stage=(("documents.parquet", "documents.parquet"),),
        python_stateful=True,
    )
    return (
        out.groupBy("doc_id")
        .agg(F.min("dup_of").alias("dup_of"))
        .select("doc_id", "dup_of", F.col("dup_of").isNotNull().alias("is_dup"))
        .orderBy("doc_id")
    )


@query(
    "stream_topk",
    """
    WITH e AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
             event_id, value,
             row_number() OVER (
               PARTITION BY event_type, date_trunc('day', ts)
               ORDER BY value DESC, event_id) AS rank
      FROM events
    ), closed AS (
      SELECT *, MAX(window_start) OVER (PARTITION BY event_type) AS mx
      FROM e
    )
    SELECT event_type, window_start, CAST(rank AS BIGINT) AS rank,
           event_id, value
    FROM closed
    WHERE rank <= 3 AND window_start < mx
    ORDER BY event_type, window_start, rank
    """,
)
def stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-window top-k (stateful operator #10,
    streaming/stateful.py window_topk_tracker): for every
    (event_type, tumbling day) window, the 3 highest-value events,
    ranked, emitted exactly once when a later window's first event
    closes the key's open window. State is K slots + one timestamp per
    event_type — bounded regardless of window row count, unlike the
    collect_list-in-windowed-agg formulation whose state is the window
    census. The oracle recomputes the ranking declaratively
    (row_number per (type, day), value DESC with event_id tie-break)
    and drops each key's final OPEN window — the emit-on-close
    contract, stream == batch row-for-row.
    """
    from pgsink_spark.streaming.stateful import window_topk_tracker

    out = _run_availablenow(
        spark,
        sf_dir,
        "stpk",
        lambda raw: window_topk_tracker(
            _ts_cast(raw).select("event_id", "ts", "event_type", "value")
        ),
        python_stateful=True,
    )
    return out.orderBy("event_type", "window_start", "rank")


@query(
    "stream_session_window",
    """
    WITH mx AS (
      SELECT DATE_TRUNC('milliseconds', max(ts)) AS m FROM events
    ), flagged AS (
      SELECT user_id, ts,
             -- strict >: Spark's session_window merges INCLUSIVELY at
             -- the boundary — an event arriving exactly gap-after-last
             -- extends the session (verified empirically, pinned by
             -- test_session_window_exact_gap_boundary) — so only a
             -- strictly-larger gap starts a new session
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                     > 1800000000 THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM sess CROSS JOIN mx
    GROUP BY user_id, sid, mx.m
    HAVING MAX(ts) + INTERVAL 30 MINUTE <= m - INTERVAL 10 MINUTE
    ORDER BY user_id, session_start
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUILT-IN session windows (`F.session_window`, gap 30 min) as a
    watermarked append-mode stream — the merging-window state Spark
    manages natively, complementing the custom sessionizer
    (stream_sessionize): there the fold logic is ours and state is a
    3-tuple; here Spark merges overlapping session fragments
    per user and releases a session once the watermark (ms-floored
    max event time − 10 min) passes its END (last event + gap).
    The oracle restates BOTH the gap-merge and that emission rule
    declaratively, so the hash pins the native session-merge state
    machine, not just counts.

    Scale: one user-keyed exchange; state = open sessions per user,
    evicted by the watermark — the exact shape on a cluster.
    """
    def build(raw: DataFrame) -> DataFrame:
        ev = _ts_cast(raw).select("ts", "user_id")
        return (
            ev.withWatermark("ts", "10 minutes")
            .groupBy(
                F.session_window("ts", "30 minutes").alias("w"), "user_id"
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        )

    out = _run_availablenow(
        spark, sf_dir, "sesw", build, output_mode="append"
    )
    return out.select(
        "user_id",
        F.col("w.start").cast("timestamp_ntz").alias("session_start"),
        F.col("w.end").cast("timestamp_ntz").alias("session_end"),
        "cnt",
    ).orderBy("user_id", "session_start")


@query(
    "stream_interval_join_outer",
    """
    WITH mx AS (
      -- each side carries its OWN watermark; the query-level watermark
      -- is the MIN across them (Spark's multipleWatermarkPolicy=min),
      -- so the slower side's max event time governs eviction
      SELECT LEAST(
        DATE_TRUNC('milliseconds',
          (SELECT max(ts) FROM events WHERE event_type = 'click')),
        DATE_TRUNC('milliseconds',
          (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
      ) AS m
    ), c AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
      WHERE event_type = 'click'
    ), p AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
      WHERE event_type = 'purchase'
    ), matched AS (
      SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
             CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
      FROM c JOIN p
        ON p.user_id = c.user_id AND p.ts > c.ts
       AND p.ts <= c.ts + INTERVAL 10 MINUTE
    ), expired_unmatched AS (
      SELECT c.user_id, c.event_id AS click_id,
             CAST(NULL AS BIGINT) AS purchase_id,
             CAST(NULL AS BIGINT) AS gap_us
      FROM c CROSS JOIN mx
      WHERE NOT EXISTS (
        SELECT 1 FROM p WHERE p.user_id = c.user_id AND p.ts > c.ts
          AND p.ts <= c.ts + INTERVAL 10 MINUTE)
        AND c.ts + INTERVAL 10 MINUTE < m - INTERVAL 10 MINUTE
    )
    SELECT * FROM matched
    UNION ALL SELECT * FROM expired_unmatched
    ORDER BY user_id, click_id, purchase_id
    """,
)
def stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the null-emission
    semantics on top of stream_interval_join: a click with no purchase
    in its 10-minute horizon emits a null-augmented row, but ONLY once
    the watermark has passed the horizon's end (before that Spark
    can't know no match is coming). The oracle states both halves
    declaratively — the inner matches, plus NOT EXISTS clicks whose
    ``ts + horizon`` lies strictly below the final watermark — which
    is the MIN of the two sides' watermarks (each ms-floored max
    event time − 10 min; Spark's default multiple-watermark policy),
    a semantics this oracle had to learn the hard way — so the hash pins the outer
    join's state-expiry rule itself; trailing unmatched clicks
    correctly stay unemitted.

    Scale: identical state shape to the inner join (O(rate × horizon)
    per side); the outer emission adds no state, it rides eviction.
    """
    from pgsink_spark.streaming.stream import stream_stream_interval_join

    def build(raw: DataFrame) -> DataFrame:
        ev = _ts_cast(raw).select("event_id", "ts", "user_id", "event_type")
        return stream_stream_interval_join(
            ev.where(F.col("event_type") == "click"),
            ev.where(F.col("event_type") == "purchase"),
            watermark="10 minutes",
            horizon="10 minutes",
            how="leftOuter",
        )

    out = _run_availablenow(spark, sf_dir, "sijo", build)
    return (
        out.select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("next_event_id").alias("purchase_id"),
            (
                F.unix_micros(F.col("next_ts")) - F.unix_micros(F.col("ts"))
            ).alias("gap_us"),
        )
        .orderBy("user_id", "click_id", "purchase_id")
    )


@query(
    "stream_hopping_window",
    """
    WITH mx AS (
      SELECT DATE_TRUNC('milliseconds', max(ts)) AS m FROM events
    ),
    e2 AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS w, event_type, value
      FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE,
             event_type, value
      FROM events
    )
    SELECT w, event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS sum_value
    FROM e2 CROSS JOIN mx
    GROUP BY w, event_type, mx.m
    HAVING w + INTERVAL 1 HOUR <= m - INTERVAL 10 MINUTE
    ORDER BY w, event_type
    """,
)
def stream_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUILT-IN stateful streaming, HOPPING (sliding) windows: 1-hour
    windows every 30 minutes, so each event lands in exactly two
    overlapping windows — the smoothing shape dashboards and rate
    alarms use where tumbling windows alias the signal at the window
    boundary. Same watermark/append emission contract as
    stream_tumbling_agg (a window is released once the ms-floored max
    event time minus 10 min passes its END), so the oracle states the
    eviction rule declaratively: each event replicated into its two
    covering 30-min-grid windows, grouped, and gated on window end ≤
    watermark. The driver hash therefore pins Spark's slide-window
    REPLICATION factor (size/slide) as well as the eviction boundary.

    Scale shape: one keyed exchange on (window, event_type) with
    map-side partial agg, exactly like tumbling, but with a 2× state
    and shuffle amplification that IS the documented cost of hopping
    windows (state = active windows × groups, windows/instant = 2).
    """
    def build(raw: DataFrame) -> DataFrame:
        ev = _ts_cast(raw).select("ts", "event_type", "value")
        return (
            ev.withWatermark("ts", "10 minutes")
            .groupBy(
                F.window("ts", "1 hour", "30 minutes").alias("win"),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("cnt"),
                F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
                .cast("double")
                .alias("sum_value"),
            )
        )

    out = _run_availablenow(
        spark, sf_dir, "hop", build, output_mode="append"
    )
    return (
        out.select(
            F.col("win.start").cast("timestamp_ntz").alias("w"),
            "event_type",
            "cnt",
            "sum_value",
        )
        .orderBy("w", "event_type")
    )


@query(
    "stream_complete_totals",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS sum_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def stream_complete_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUILT-IN stateful streaming in COMPLETE output mode: an
    unwindowed running aggregate whose sink state is REPLACED with the
    full result every trigger — the third output-mode semantics next
    to the registry's append (tumbling/hopping/session windows emit
    finalized groups) and the custom update-style stateful operators.
    Complete mode is what live dashboards consume: no watermark, no
    eviction, every group's current total after all data seen. The
    memory sink holds exactly the last snapshot, so after the
    availableNow drain the table IS the batch aggregate — the oracle
    states that equivalence directly, and the driver hash pins that
    Spark's complete-mode snapshot replacement (not append
    accumulation) produced it.

    Scale note: complete mode re-emits the FULL result per trigger, so
    it is only sane when the result is group-census sized (it is: one
    row per event type); the windowed append operators are the shape
    for unbounded keys.
    """
    def build(raw: DataFrame) -> DataFrame:
        ev = _ts_cast(raw).select("event_type", "value")
        return ev.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("sum_value"),
        )

    out = _run_availablenow(
        spark, sf_dir, "cmpl", build, output_mode="complete"
    )
    return out.select("event_type", "cnt", "sum_value").orderBy(
        "event_type"
    )
