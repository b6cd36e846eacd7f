"""Corpus curation pipeline — the flagship training-data query.

This is the query a 100 TB pretraining pipeline actually runs: one pass
over ``documents`` that assigns every doc a language, a quality score,
an exact-dedup canonical id, and a train/val/test split, then flags
which docs survive curation. It composes the engine's text ops
(:mod:`text`), sampling ops (:mod:`sampling`), and dedup semantics
(:mod:`dedup`) into a single plan.

Scale shape: every feature (lang, quality, split, fingerprint) is a
row-local codegen'd expression; the ONLY shuffle is the window over the
md5 fingerprint for canonical-id election. md5 keys are uniform, so the
shuffle has no planner-visible skew; a pathological dup group (the same
boilerplate page a billion times) concentrates one key, but min() is an
order-agnostic agg so AQE skew-split plus partial aggregation keeps it
bounded. No joins, no collect, no Python.

The repetition-ratio op is the classic wordcount shape: explode →
two-level groupBy keyed by (doc_id, token) then doc_id — partial
aggregation does the heavy lifting map-side, and both shuffles are on
high-cardinality keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pgsink_spark.operators.registry import ORACLES, query
from pgsink_spark.operators.sampling import _duckdb_bucket, hash_bucket
from pgsink_spark.operators.text import _duck_count, _substr_count
from pgsink_spark.sources.fixtures import load_table

QUALITY_KEEP = 0.45

_DUCK_QUALITY = (
    "CAST(least(n_words / 100.0, 1.0) * 0.5"
    " + (1.0 - least(n_stop * 1.0 / n_words * 5.0, 1.0)) * 0.3"
    " + least((n_chars - (n_words - 1)) * 1.0 / n_words / 8.0, 1.0) * 0.2"
    " AS DOUBLE)"
)


@query(
    "pipeline_curation",
    f"""
    WITH feat AS (
      SELECT doc_id,
             CASE WHEN {_duck_count('le')} > {_duck_count('the')} THEN 'fr'
                  WHEN {_duck_count('der')} > {_duck_count('the')} THEN 'de'
                  WHEN {_duck_count('el')} > {_duck_count('the')} THEN 'es'
                  ELSE 'en' END AS pred_lang,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
             {_duck_count('the')} AS n_stop,
             len(lower(text)) AS n_chars,
             md5(lower(text)) AS fp,
             {_duckdb_bucket("doc_id")} AS bk
      FROM documents
    ), scored AS (
      SELECT doc_id, pred_lang, {_DUCK_QUALITY} AS quality, fp,
             CASE WHEN bk < 90 THEN 'train'
                  WHEN bk < 95 THEN 'val' ELSE 'test' END AS split
      FROM feat
    )
    SELECT doc_id, pred_lang, quality,
           MIN(doc_id) OVER (PARTITION BY fp) AS canonical_id,
           split,
           (doc_id = MIN(doc_id) OVER (PARTITION BY fp)
            AND quality >= {QUALITY_KEEP}) AS kept
    FROM scored ORDER BY doc_id
    """,
)
def pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (lang, quality, canonical, split, kept) in one plan.

    A doc is ``kept`` iff it is the canonical (min doc_id) copy of its
    exact-text fingerprint group AND its quality score clears
    ``QUALITY_KEEP``. Split assignment is the deterministic md5-bucket
    90/5/5 from :mod:`sampling`, so the output is reproducible across
    engines, partitionings, and corpus refreshes.
    """
    docs = load_table(spark, sf_dir, "documents")
    text = F.lower(F.col("text"))
    padded = F.concat(F.lit(" "), text, F.lit(" "))

    counts = {
        tok: _substr_count(padded, f" {tok} ")
        for tok in ("the", "le", "der", "el")
    }
    pred_lang = (
        F.when(counts["le"] > counts["the"], "fr")
        .when(counts["der"] > counts["the"], "de")
        .when(counts["el"] > counts["the"], "es")
        .otherwise("en")
    )

    n_words = F.size(F.split(text, " ")).cast("bigint")
    n_stop = counts["the"]
    mean_wlen = (F.length(text) - (n_words - 1)) / n_words
    quality = (
        F.least(n_words / 100.0, F.lit(1.0)) * 0.5
        + (1.0 - F.least(n_stop / n_words * 5.0, F.lit(1.0))) * 0.3
        + F.least(mean_wlen / 8.0, F.lit(1.0)) * 0.2
    ).cast("double")

    bk = hash_bucket(F.col("doc_id"))
    split = (
        F.when(bk < 90, "train").when(bk < 95, "val").otherwise("test")
    )

    scored = docs.select(
        "doc_id",
        pred_lang.alias("pred_lang"),
        quality.alias("quality"),
        F.md5(text).alias("fp"),
        split.alias("split"),
    )
    canonical = F.min("doc_id").over(Window.partitionBy("fp"))
    return scored.select(
        "doc_id",
        "pred_lang",
        "quality",
        canonical.alias("canonical_id"),
        "split",
        ((F.col("doc_id") == canonical) & (F.col("quality") >= QUALITY_KEEP)).alias(
            "kept"
        ),
    ).orderBy("doc_id")


@query(
    "text_repetition",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ), freq AS (
      SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(max(c) AS BIGINT) AS top_freq,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS rep_ratio,
           CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS distinct_ratio
    FROM freq GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition / vocabulary-diversity quality signals per document:
    top-token frequency ratio (high ⇒ boilerplate or spam) and distinct
    token ratio (low ⇒ repetitive). Wordcount-shaped: partial aggs
    combine map-side, shuffles keyed by (doc_id, tok) then doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok")
    )
    freq = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    return (
        freq.groupBy("doc_id")
        .agg(
            F.max("c").cast("bigint").alias("top_freq"),
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count("*").cast("bigint").alias("n_distinct"),
            (F.max("c").cast("double") / F.sum("c").cast("double")).alias(
                "rep_ratio"
            ),
            (F.count("*").cast("double") / F.sum("c").cast("double")).alias(
                "distinct_ratio"
            ),
        )
        .orderBy("doc_id")
    )


QUANTILE_KEEP_FRAC = 0.4  # keep percent_rank >= 0.4 (top 60% per source)


@query(
    "curation_quantile_filter",
    f"""
    WITH feat AS (
      SELECT doc_id, source,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
             {_duck_count('the')} AS n_stop,
             len(lower(text)) AS n_chars
      FROM documents
    ), scored AS (
      SELECT doc_id, source, {_DUCK_QUALITY} AS quality FROM feat
    ), ranked AS (
      SELECT doc_id, source, quality,
             percent_rank() OVER (
               PARTITION BY source ORDER BY quality, doc_id
             ) AS pr
      FROM scored
    )
    SELECT doc_id, source,
           CAST(ROUND(CAST(quality AS DECIMAL(18,8)), 4) AS DOUBLE) AS q,
           CAST(ROUND(CAST(pr AS DECIMAL(18,8)), 6) AS DOUBLE) AS pr,
           (pr >= {QUANTILE_KEEP_FRAC}) AS kept
    FROM ranked ORDER BY doc_id
    """,
)
def curation_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-quantile gate: a document survives only if
    its quality score clears the 40th percentile WITHIN ITS OWN source
    — the CCNet-style move that stops a single high-quality domain from
    monopolizing the kept set (an absolute threshold like
    pipeline_curation's QUALITY_KEEP would, because quality
    distributions differ by source).

    The score is the same row-local feature combination the curation
    pipeline uses, so the two gates compose; the percentile is one
    source-keyed window (rank arithmetic, exact — no approximate
    quantile sketch needed because the cut is per-key rank, not a
    global scan), ties broken by doc_id so both engines order
    identically. One shuffle on source at any scale, skew bounded by
    the largest domain.
    """
    docs = load_table(spark, sf_dir, "documents")
    text = F.lower(F.col("text"))
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    n_words = F.size(F.split(text, " ")).cast("bigint")
    n_stop = _substr_count(padded, " the ")
    mean_wlen = (F.length(text) - (n_words - 1)) / n_words
    quality = (
        F.least(n_words / 100.0, F.lit(1.0)) * 0.5
        + (1.0 - F.least(n_stop / n_words * 5.0, F.lit(1.0))) * 0.3
        + F.least(mean_wlen / 8.0, F.lit(1.0)) * 0.2
    ).cast("double")
    scored = docs.select("doc_id", "source", quality.alias("quality"))
    w = Window.partitionBy("source").orderBy("quality", "doc_id")
    pr = F.percent_rank().over(w)
    return scored.select(
        "doc_id",
        "source",
        F.round(F.col("quality").cast("decimal(18,8)"), 4)
        .cast("double")
        .alias("q"),
        F.round(pr.cast("decimal(18,8)"), 6).cast("double").alias("pr"),
        (pr >= QUANTILE_KEEP_FRAC).alias("kept"),
    ).orderBy("doc_id")


# Two candidate length-filter policies under comparison: the impact
# report quantifies what tightening A -> B costs per source BEFORE
# anyone reruns a 100 TB filter job.
FILTER_A_MIN_CHARS = 200
FILTER_B_MIN_CHARS = 400


@query(
    "curation_filter_impact",
    f"""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_chars >= {FILTER_A_MIN_CHARS}
                         THEN 1 ELSE 0 END) AS BIGINT) AS kept_a,
           CAST(SUM(CASE WHEN n_chars >= {FILTER_B_MIN_CHARS}
                         THEN 1 ELSE 0 END) AS BIGINT) AS kept_b,
           CAST(SUM(CASE WHEN n_chars >= {FILTER_A_MIN_CHARS}
                         THEN n_chars ELSE 0 END) AS BIGINT)
             AS chars_a,
           CAST(SUM(CASE WHEN n_chars >= {FILTER_B_MIN_CHARS}
                         THEN n_chars ELSE 0 END) AS BIGINT)
             AS chars_b,
           CAST(CASE WHEN SUM(CASE WHEN n_chars >= {FILTER_A_MIN_CHARS}
                                   THEN 1 ELSE 0 END) > 0
                THEN 1000000 * (SUM(CASE WHEN n_chars >= {FILTER_A_MIN_CHARS}
                                         THEN 1 ELSE 0 END)
                                - SUM(CASE WHEN n_chars >= {FILTER_B_MIN_CHARS}
                                           THEN 1 ELSE 0 END))
                     // SUM(CASE WHEN n_chars >= {FILTER_A_MIN_CHARS}
                                 THEN 1 ELSE 0 END)
                ELSE 0 END AS BIGINT) AS tighten_loss_ppm
    FROM documents GROUP BY source ORDER BY source
    """,
)
def curation_filter_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-policy impact report: for the current length filter (A:
    ≥{FILTER_A_MIN_CHARS} chars) and a proposed tightening (B:
    ≥{FILTER_B_MIN_CHARS}), the per-source document and character
    yields plus the tightening loss in ppm of A's survivors — the
    ablation table a curation owner reads BEFORE rerunning a 100 TB
    filter job, and the per-source breakdown that shows which sources
    the tightening actually hits (a uniform-looking global loss often
    concentrates in two sources).

    Plan: ONE scan with both policies evaluated as conditional
    aggregates — no second pass, no join of two filtered frames; the
    whole report is a source-keyed partial agg.
    """
    docs = load_table(spark, sf_dir, "documents")
    ka = F.sum((F.col("n_chars") >= FILTER_A_MIN_CHARS).cast("long"))
    kb = F.sum((F.col("n_chars") >= FILTER_B_MIN_CHARS).cast("long"))
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            ka.cast("long").alias("kept_a"),
            kb.cast("long").alias("kept_b"),
            F.sum(
                F.when(
                    F.col("n_chars") >= FILTER_A_MIN_CHARS,
                    F.col("n_chars"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("chars_a"),
            F.sum(
                F.when(
                    F.col("n_chars") >= FILTER_B_MIN_CHARS,
                    F.col("n_chars"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("chars_b"),
        )
        .select(
            "source",
            "n_docs",
            "kept_a",
            "kept_b",
            "chars_a",
            "chars_b",
            F.expr(
                "CASE WHEN kept_a > 0 "
                "THEN 1000000 * (kept_a - kept_b) div kept_a "
                "ELSE 0 END"
            )
            .cast("long")
            .alias("tighten_loss_ppm"),
        )
        .orderBy("source")
    )


# The stage-metrics oracle re-derives every counter from the pipeline's
# own oracle SQL, minus its trailing ORDER BY (an ORDER BY inside a CTE
# is illegal-adjacent and pointless). Guard the strip: if the embedded
# oracle's wording ever changes, fail at import rather than silently
# diverging.
_PIPE_ORACLE_BODY = ORACLES["pipeline_curation"].replace("ORDER BY doc_id", "")
if _PIPE_ORACLE_BODY == ORACLES["pipeline_curation"]:
    raise AssertionError(
        "pipeline_curation oracle no longer ends in 'ORDER BY doc_id'; "
        "update pipeline_stage_metrics' CTE strip to match"
    )


@query(
    "pipeline_stage_metrics",
    """
    WITH pipe AS (
    """
    + _PIPE_ORACLE_BODY
    + f"""
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN quality >= {QUALITY_KEEP} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_quality_pass,
           CAST(SUM(CASE WHEN doc_id = canonical_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_canonical,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(1000000 * SUM(CASE WHEN kept THEN 1 ELSE 0 END)
                // count(*) AS BIGINT) AS kept_ppm
    FROM pipe
    """,
)
def pipeline_stage_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability via Spark's OBSERVATION API: the flagship
    curation pipeline runs ONCE with an ``observe()`` node attached,
    and the stage metrics (docs in, quality passes, canonical
    survivors, kept, kept-rate ppm) come out of the observation — not
    from re-running the pipeline per metric. This is the production
    pattern for pipeline health counters at 100 TB: observe() folds
    the aggregates into the SAME job that does the work (zero extra
    scans, zero extra shuffles), where a naive metrics pass would
    re-execute the pipeline once per dashboard row. The oracle
    recomputes every counter declaratively from the pipeline's own
    oracle SQL, so the driver hash pins that Spark's observed values
    equal the semantic truth.
    """
    from pyspark.sql import Observation

    obs = Observation("curation_stages")
    pipe = pipeline_curation(spark, sf_dir)
    observed = pipe.observe(
        obs,
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("quality") >= QUALITY_KEEP).cast("long")).alias(
            "n_quality_pass"
        ),
        F.sum(
            (F.col("doc_id") == F.col("canonical_id")).cast("long")
        ).alias("n_canonical"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_docs"],
                m["n_quality_pass"],
                m["n_canonical"],
                m["n_kept"],
                1_000_000 * m["n_kept"] // m["n_docs"],
            )
        ],
        "n_docs long, n_quality_pass long, n_canonical long,"
        " n_kept long, kept_ppm long",
    )
