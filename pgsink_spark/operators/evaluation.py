"""Heuristic/model evaluation operators — the metrics layer a curation
pipeline runs over its own classifiers before trusting them at scale:
confusion-derived precision/recall for the language-ID heuristic
(against the fixture's ground-truth ``lang`` column) and a rank-based
ROC-AUC for the quality score as a document-length discriminator.

Both are exact: integer confusion counts, and AUC via the Mann-Whitney
U statistic on average ranks (tie-robust — no dependence on tie
order). Reference parity: the reference engine has no evaluation
plane; this is part of the beyond-reference surface the brief mandates
for an LLM training-data pipeline.

Scale notes (100 TB): the confusion matrix is one class-keyed agg over
a row-local prediction join (predictions and truth live in the same
row — no shuffle joins anywhere); AUC is one global sort-equivalent
(two window passes over the score axis) plus a 1-row fold. At corpus
scale the exact AUC sort swaps for a fixed-width score-histogram
approximation (trapezoid over bins) without changing the contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from pgsink_spark.operators.registry import query
from pgsink_spark.operators.sampling import _duckdb_bucket as _duckdb_bucket_sql
from pgsink_spark.operators.text import text_lang_id, text_quality_score
from pgsink_spark.sources.fixtures import load_table

# Hard ceiling on the class list the confusion matrix broadcasts and
# cross-joins: the pattern (distinct over the full prediction set →
# broadcast) is only safe because language labels are enum-like. A
# high-cardinality class column would silently build an N×docs
# cross-join, so the guard makes the contract explicit and fails fast.
EVAL_MAX_CLASSES = 1000


def bounded_broadcast(df: DataFrame, max_rows: int, what: str) -> DataFrame:
    """Assert a to-be-broadcast frame is control-plane sized.

    ``limit(max+1)`` bounds the check itself — it never pulls more
    than max_rows+1 rows regardless of the true cardinality — and the
    limited frame is eagerly localCheckpoint'ed BEFORE the guard
    count, so the guard and the caller's subsequent broadcast share
    ONE computation of the input plan instead of running it twice
    (the checkpointed frame IS the full input whenever the guard
    passes, since n <= max_rows). Every ``F.broadcast`` site whose
    input size is DATA-shaped (not a fixed enum / constant-row stats
    frame) must route through this guard: a silently growing
    broadcast side is a driver/executor OOM at scale, and the guard
    converts it into a fail-fast contract violation naming the site.
    """
    bounded = df.limit(max_rows + 1).localCheckpoint(eager=True)
    if bounded.count() > max_rows:
        raise ValueError(
            f"{what} exceeds {max_rows} rows; refusing to broadcast "
            "an unbounded frame — rewrite the join as a keyed shuffle "
            "join instead"
        )
    return bounded


def bounded_class_list(classes: DataFrame, max_card: int = EVAL_MAX_CLASSES) -> DataFrame:
    """Assert a to-be-broadcast distinct class frame is enum-sized."""
    try:
        return bounded_broadcast(classes, max_card, "class column")
    except ValueError:
        raise ValueError(
            f"class column exceeds {max_card} distinct values; "
            "refusing to broadcast an unbounded class list — "
            "aggregate by class key directly instead"
        ) from None


_LANGID_PRED = """
      CASE WHEN CAST((len(concat(' ', lower(text), ' '))
                 - len(replace(concat(' ', lower(text), ' '), ' le ', '')))
                 / 4 AS BIGINT)
              > CAST((len(concat(' ', lower(text), ' '))
                 - len(replace(concat(' ', lower(text), ' '), ' the ', '')))
                 / 5 AS BIGINT) THEN 'fr'
           WHEN CAST((len(concat(' ', lower(text), ' '))
                 - len(replace(concat(' ', lower(text), ' '), ' der ', '')))
                 / 5 AS BIGINT)
              > CAST((len(concat(' ', lower(text), ' '))
                 - len(replace(concat(' ', lower(text), ' '), ' the ', '')))
                 / 5 AS BIGINT) THEN 'de'
           WHEN CAST((len(concat(' ', lower(text), ' '))
                 - len(replace(concat(' ', lower(text), ' '), ' el ', '')))
                 / 4 AS BIGINT)
              > CAST((len(concat(' ', lower(text), ' '))
                 - len(replace(concat(' ', lower(text), ' '), ' the ', '')))
                 / 5 AS BIGINT) THEN 'es'
           ELSE 'en' END
"""


@query(
    "eval_langid_metrics",
    f"""
    WITH p AS (
      SELECT lang AS true_lang, {_LANGID_PRED} AS pred_lang
      FROM documents
    ),
    classes AS (
      SELECT DISTINCT true_lang AS class FROM p
      UNION SELECT DISTINCT pred_lang FROM p
    ),
    m AS (
      SELECT c.class,
             CAST(SUM(CASE WHEN p.true_lang = c.class
                            AND p.pred_lang = c.class
                           THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN p.true_lang <> c.class
                            AND p.pred_lang = c.class
                           THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN p.true_lang = c.class
                            AND p.pred_lang <> c.class
                           THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM classes c CROSS JOIN p
      GROUP BY c.class
    )
    SELECT class, tp, fp, fn,
           CASE WHEN tp + fp > 0
                THEN CAST(tp AS DOUBLE) / (tp + fp) END AS prec,
           CASE WHEN tp + fn > 0
                THEN CAST(tp AS DOUBLE) / (tp + fn) END AS rec
    FROM m ORDER BY class
    """,
)
def eval_langid_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall of the marker-frequency language-ID
    heuristic against the corpus's ground-truth ``lang`` column — the
    eval table a pipeline owner reads before letting the heuristic
    gate a 100 TB crawl.

    Prediction and truth live in the same row, so the whole confusion
    matrix is ONE class-keyed aggregation over a row-local projection
    (the tiny class list broadcasts; at k classes the fan-out is k
    rows per doc, collapsed map-side). No NULL-guard asymmetry: both
    engines emit NULL precision for never-predicted classes.
    """
    docs = load_table(spark, sf_dir, "documents")
    preds = text_lang_id(spark, sf_dir)
    p = docs.select("doc_id", F.col("lang").alias("true_lang")).join(
        preds.withColumnRenamed("pred_lang", "pred_lang"), "doc_id"
    )
    classes = bounded_class_list(
        p.select(F.col("true_lang").alias("class"))
        .union(p.select("pred_lang"))
        .distinct()
    )
    m = (
        F.broadcast(classes)
        .crossJoin(p)
        .groupBy("class")
        .agg(
            F.sum(
                (
                    (F.col("true_lang") == F.col("class"))
                    & (F.col("pred_lang") == F.col("class"))
                ).cast("long")
            ).alias("tp"),
            F.sum(
                (
                    (F.col("true_lang") != F.col("class"))
                    & (F.col("pred_lang") == F.col("class"))
                ).cast("long")
            ).alias("fp"),
            F.sum(
                (
                    (F.col("true_lang") == F.col("class"))
                    & (F.col("pred_lang") != F.col("class"))
                ).cast("long")
            ).alias("fn"),
        )
    )
    return m.select(
        "class",
        "tp",
        "fp",
        "fn",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.col("tp").cast("double") / (F.col("tp") + F.col("fp")),
        ).alias("prec"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.col("tp").cast("double") / (F.col("tp") + F.col("fn")),
        ).alias("rec"),
    ).orderBy("class")


AUC_LABEL_CHARS = 400


@query(
    "eval_score_auc",
    f"""
    WITH scored AS (
      SELECT doc_id,
             LEAST(len(string_split(lower(text), ' ')) / 100.0, 1.0) * 0.5
             + (1.0 - LEAST(
                 CAST((len(concat(' ', lower(text), ' '))
                   - len(replace(concat(' ', lower(text), ' '), ' the ', '')))
                   / 5 AS BIGINT)
                 * 1.0 / len(string_split(lower(text), ' ')) * 5.0, 1.0))
               * 0.3
             + LEAST((len(lower(text))
                      - (len(string_split(lower(text), ' ')) - 1))
                     * 1.0 / len(string_split(lower(text), ' ')) / 8.0,
                     1.0) * 0.2 AS score,
             (n_chars >= {AUC_LABEL_CHARS}) AS label
      FROM documents
    ),
    ranked AS (
      SELECT label,
             RANK() OVER (ORDER BY score)
               + (COUNT(*) OVER (PARTITION BY score) - 1) / 2.0 AS avg_rank
      FROM scored
    ),
    agg AS (
      SELECT CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS np,
             CAST(SUM(CASE WHEN label THEN 0 ELSE 1 END) AS BIGINT) AS nn,
             SUM(CASE WHEN label THEN avg_rank ELSE 0 END) AS rank_sum
      FROM ranked
    )
    SELECT np AS n_pos, nn AS n_neg,
           CAST(ROUND(CAST((rank_sum - np * (np + 1) / 2.0) / (np * nn)
                AS DECIMAL(18,8)), 6) AS DOUBLE) AS auc
    FROM agg
    """,
)
def eval_score_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of the composite quality score as a discriminator for
    long documents (label: n_chars ≥ 400), computed exactly via the
    Mann-Whitney U statistic on AVERAGE ranks — tie-robust, so the
    result is independent of tie ordering and reproducible across
    engines.

    Plan: one global rank over the score axis (a single range
    exchange at any scale — ranking is the sort-bound step), one
    tie-group window sharing that sort, and a 1-row fold. At 100 TB
    exact global ranking gives way to a fixed-bin score histogram and
    trapezoidal AUC; the fixture-scale operator keeps the exact form
    the approximation is validated against.
    """
    q = text_quality_score(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("n_chars") >= AUC_LABEL_CHARS).alias("label")
    )
    scored = q.select("doc_id", F.col("quality").alias("score")).join(
        docs, "doc_id"
    )
    ranked = scored.select(
        "label",
        (
            F.rank().over(W.orderBy("score"))
            + (F.count(F.lit(1)).over(W.partitionBy("score")) - 1) / 2.0
        ).alias("avg_rank"),
    )
    agg = ranked.agg(
        F.sum(F.col("label").cast("long")).alias("np"),
        F.sum((~F.col("label")).cast("long")).alias("nn"),
        F.sum(F.when(F.col("label"), F.col("avg_rank")).otherwise(0.0)).alias(
            "rank_sum"
        ),
    )
    return agg.select(
        F.col("np").alias("n_pos"),
        F.col("nn").alias("n_neg"),
        F.round(
            (
                (F.col("rank_sum") - F.col("np") * (F.col("np") + 1) / 2.0)
                / (F.col("np") * F.col("nn"))
            ).cast("decimal(18,8)"),
            6,
        )
        .cast("double")
        .alias("auc"),
    )


@query(
    "eval_calibration",
    f"""
    WITH scored AS (
      SELECT doc_id,
             (n_chars >= {AUC_LABEL_CHARS}) AS label,
             len(string_split(lower(text), ' ')) AS nw_i,
             CAST((len(concat(' ', lower(text), ' '))
               - len(replace(concat(' ', lower(text), ' '), ' the ', '')))
               / 5 AS BIGINT) AS ns_i,
             len(lower(text)) AS nc
      FROM documents
    ),
    z AS (
      SELECT doc_id, label,
             -1.0 + 0.02 * CAST(nw_i AS DOUBLE)
               + -3.0 * (CAST(ns_i AS DOUBLE) / nw_i)
               + 0.4 * ((nc - (nw_i - 1)) * 1.0 / nw_i) AS zv
      FROM scored
    ),
    b AS (
      SELECT label, zv / (1.0 + abs(zv)) AS score,
             NTILE(10) OVER (ORDER BY zv / (1.0 + abs(zv)), doc_id)
               AS bucket
      FROM z
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(ROUND(CAST(AVG(score) AS DECIMAL(18,8)), 6) AS DOUBLE)
             AS mean_score,
           CAST(ROUND(CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END)
                * 1.0 / count(*) AS DECIMAL(18,8)), 6) AS DOUBLE)
             AS pos_rate
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def eval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table for the model quality score: score-ordered
    deciles (deterministic NTILE over (score, doc_id)) against the
    empirical long-document rate per bucket — the calibration check a
    pipeline runs before using a classifier's scores as sampling
    weights rather than just as a ranking.

    One global NTILE (a single range exchange — the sort-bound step,
    same budget as AUC's rank) and a 10-group fold. The score is the
    softsign-squashed linear model of quality_model_score recomputed
    declaratively (rational arithmetic only, so both engines agree
    bit-for-bit before the rounding even applies).
    """
    from pgsink_spark.operators.text import MODEL_W

    docs = load_table(spark, sf_dir, "documents")
    text = F.lower(F.col("text"))
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    nw = F.size(F.split(text, " ")).cast("bigint")
    ns = (
        (F.length(padded) - F.length(F.replace(padded, F.lit(" the "), F.lit(""))))
        / 5
    ).cast("bigint")
    z = (
        F.lit(MODEL_W[0])
        + F.lit(MODEL_W[1]) * nw.cast("double")
        + F.lit(MODEL_W[2]) * (ns.cast("double") / nw)
        + F.lit(MODEL_W[3])
        * ((F.length(text) - (nw - 1)) * F.lit(1.0) / nw)
    )
    scored = docs.select(
        "doc_id",
        (F.col("n_chars") >= AUC_LABEL_CHARS).alias("label"),
        (z / (F.lit(1.0) + F.abs(z))).alias("score"),
    )
    b = scored.select(
        "label",
        "score",
        F.ntile(10).over(W.orderBy("score", "doc_id")).alias("bucket"),
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.avg("score").cast("decimal(18,8)"), 6)
            .cast("double")
            .alias("mean_score"),
            F.round(
                (
                    F.sum(F.col("label").cast("long"))
                    * F.lit(1.0)
                    / F.count(F.lit(1))
                ).cast("decimal(18,8)"),
                6,
            )
            .cast("double")
            .alias("pos_rate"),
        )
        .orderBy("bucket")
    )


# Deterministic noisy labelers for the annotation-quality operators.
# The language-ID heuristic cannot serve as a rater here: on the
# fixture corpus it predicts 'en' for every document, and Cohen's
# kappa is IDENTICALLY zero whenever one rater is constant (agree·n ==
# Σ marginal products, by construction) — a degenerate fixture, not a
# useful one. Instead two independently-corrupted views of the ground
# truth play the raters: labeler A replaces an md5-bucketed 15% of
# labels with 'en' (majority-class default errors), labeler B rotates
# a differently-salted 20% one step through the language enum
# (confusion-style errors). Both are row-local and engine-identical.
KAPPA_CORRUPT_PCT = 15
KAPPA_B_CORRUPT_PCT = 20
KAPPA_B_SALT = 1_000_003

_LANG_ROTATE_SQL = """
      CASE lang WHEN 'en' THEN 'fr' WHEN 'fr' THEN 'es'
                WHEN 'es' THEN 'de' WHEN 'de' THEN 'zh' ELSE 'en' END
"""


def _rater_a_col() -> "F.Column":
    from pgsink_spark.operators.sampling import hash_bucket

    return (
        F.when(hash_bucket(F.col("doc_id")) < KAPPA_CORRUPT_PCT, F.lit("en"))
        .otherwise(F.col("lang"))
    )


def _rater_b_col() -> "F.Column":
    from pgsink_spark.operators.sampling import hash_bucket

    rot = (
        F.when(F.col("lang") == "en", "fr")
        .when(F.col("lang") == "fr", "es")
        .when(F.col("lang") == "es", "de")
        .when(F.col("lang") == "de", "zh")
        .otherwise("en")
    )
    return F.when(
        hash_bucket(F.col("doc_id") + KAPPA_B_SALT) < KAPPA_B_CORRUPT_PCT, rot
    ).otherwise(F.col("lang"))


_RATER_A_SQL = f"""
      CASE WHEN {_duckdb_bucket_sql("doc_id")} < {KAPPA_CORRUPT_PCT}
           THEN 'en' ELSE lang END
"""
_RATER_B_SQL = f"""
      CASE WHEN {_duckdb_bucket_sql(f"doc_id + {KAPPA_B_SALT}")}
                < {KAPPA_B_CORRUPT_PCT}
           THEN {_LANG_ROTATE_SQL} ELSE lang END
"""


@query(
    "eval_confusion_matrix",
    f"""
    WITH p AS (
      SELECT lang AS true_lang, {_RATER_A_SQL} AS pred_lang
      FROM documents
    ),
    cells AS (
      SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
      FROM p GROUP BY 1, 2
    )
    SELECT true_lang, pred_lang, n,
           CAST(1000000 * n // SUM(n) OVER (PARTITION BY true_lang)
                AS BIGINT) AS row_ppm
    FROM cells ORDER BY true_lang, pred_lang
    """,
)
def eval_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full confusion matrix of the noisy labeler (labeler A: ground
    truth with a deterministic md5-bucketed 15% defaulted to 'en')
    against ground truth: one row per observed (true, predicted) class
    pair with the raw count and the row-normalized rate in integer ppm
    — the per-class error-DIRECTION read that scalar precision/recall
    collapses (which wrong class a label leaks into decides whether
    the fix is more annotator guidance or a threshold).

    Truth and prediction live in the same row, so the matrix is one
    class-pair-keyed aggregation (≤ k² result rows for k classes —
    control-plane sized at any corpus scale) plus a per-true-class
    window over those k² rows for the row totals.
    """
    docs = load_table(spark, sf_dir, "documents")
    cells = (
        docs.select(
            F.col("lang").alias("true_lang"),
            _rater_a_col().alias("pred_lang"),
        )
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return cells.select(
        "true_lang",
        "pred_lang",
        "n",
        F.expr(
            "1000000 * n div sum(n) over (partition by true_lang)"
        )
        .cast("long")
        .alias("row_ppm"),
    ).orderBy("true_lang", "pred_lang")


@query(
    "eval_cohens_kappa",
    f"""
    WITH p AS (
      SELECT {_RATER_A_SQL} AS rater_a,
             {_RATER_B_SQL} AS rater_b
      FROM documents
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN rater_a = rater_b THEN 1 ELSE 0 END)
                  AS BIGINT) AS agree
      FROM p
    ),
    ma AS (SELECT rater_a AS class, CAST(count(*) AS BIGINT) AS na
           FROM p GROUP BY 1),
    mb AS (SELECT rater_b AS class, CAST(count(*) AS BIGINT) AS nb
           FROM p GROUP BY 1),
    pe AS (
      SELECT CAST(SUM(ma.na * mb.nb) AS BIGINT) AS pe_num
      FROM ma JOIN mb ON ma.class = mb.class
    )
    SELECT n, agree,
           CAST(1000000 * agree // n AS BIGINT) AS po_ppm,
           CAST(1000000 * pe_num // (n * n) AS BIGINT) AS pe_ppm,
           CAST(CASE WHEN agree * n >= pe_num
                THEN 1000000 * (agree * n - pe_num) // (n * n - pe_num)
                ELSE -(1000000 * (pe_num - agree * n) // (n * n - pe_num))
                END AS BIGINT) AS kappa_ppm
    FROM tot CROSS JOIN pe
    """,
)
def eval_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the two deterministic noisy labelers
    (A: md5-bucketed 15% defaulted to 'en'; B: differently-salted 20%
    rotated one step through the enum) — chance-corrected agreement,
    the standard check that two labeling pipelines agree beyond what
    their marginals force.

    Exact integer form: po and pe stay as (count, n) rationals; kappa
    = (agree·n − pe_num) / (n² − pe_num) is emitted in ppm with an
    explicit sign-symmetric truncation (CASE on the numerator's sign)
    because DuckDB's ``//`` floors while Spark's ``div`` truncates —
    the CASE makes both truncate toward zero. int64-safe for n <
    3·10⁹ rows (n² < 9·10¹⁸); beyond that the marginal products
    switch to ppm-scaled rates, same contract.

    Plan: one row-local projection, one 1-row fold, two class-keyed
    aggs (k rows each) joined on the class enum. No data-sized
    shuffle beyond the aggregation itself.
    """
    docs = load_table(spark, sf_dir, "documents")
    p = docs.select(
        _rater_a_col().alias("rater_a"),
        _rater_b_col().alias("rater_b"),
    ).localCheckpoint(eager=True)
    tot = p.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("rater_a") == F.col("rater_b")).cast("long")).alias(
            "agree"
        ),
    )
    ma = p.groupBy(F.col("rater_a").alias("class")).agg(
        F.count(F.lit(1)).cast("long").alias("na")
    )
    mb = p.groupBy(F.col("rater_b").alias("class")).agg(
        F.count(F.lit(1)).cast("long").alias("nb")
    )
    pe = (
        ma.join(mb, "class")
        .agg(F.sum(F.col("na") * F.col("nb")).cast("long").alias("pe_num"))
    )
    return (
        tot.crossJoin(F.broadcast(pe))
        .select(
            "n",
            "agree",
            F.expr("1000000 * agree div n").cast("long").alias("po_ppm"),
            F.expr("1000000 * pe_num div (n * n)")
            .cast("long")
            .alias("pe_ppm"),
            F.expr(
                "CASE WHEN agree * n >= pe_num "
                "THEN 1000000 * (agree * n - pe_num) div (n * n - pe_num) "
                "ELSE -(1000000 * (pe_num - agree * n) div (n * n - pe_num)) "
                "END"
            )
            .cast("long")
            .alias("kappa_ppm"),
        )
    )


@query(
    "eval_mcnemar",
    f"""
    WITH p AS (
      SELECT lang,
             {_RATER_A_SQL} AS rater_a,
             {_RATER_B_SQL} AS rater_b
      FROM documents
    ),
    cells AS (
      SELECT CAST(SUM(CASE WHEN rater_a = lang AND rater_b = lang
                           THEN 1 ELSE 0 END) AS BIGINT) AS both_right,
             CAST(SUM(CASE WHEN rater_a = lang AND rater_b <> lang
                           THEN 1 ELSE 0 END) AS BIGINT) AS only_a,
             CAST(SUM(CASE WHEN rater_a <> lang AND rater_b = lang
                           THEN 1 ELSE 0 END) AS BIGINT) AS only_b,
             CAST(SUM(CASE WHEN rater_a <> lang AND rater_b <> lang
                           THEN 1 ELSE 0 END) AS BIGINT) AS both_wrong
      FROM p
    )
    SELECT both_right, only_a, only_b, both_wrong,
           CAST(CASE WHEN only_a + only_b > 0
                THEN 1000000 * (only_a - only_b) * (only_a - only_b)
                     // (only_a + only_b)
                ELSE 0 END AS BIGINT) AS chi2_micro
    FROM cells
    """,
)
def eval_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired-classifier test between the two noisy labelers
    against ground truth: the 2×2 agreement table (both right / only A
    / only B / both wrong) and the uncorrected χ² statistic
    (b−c)²/(b+c) in exact integer micro-units — the standard "is
    labeler A actually better than labeler B on the SAME documents"
    check, which marginal accuracy comparisons get wrong when the two
    labelers err on different rows. (b−c)² is non-negative, so no
    truncation-sign CASE is needed; int64-safe while (b−c)² · 10⁶ <
    2⁶³, i.e. |b−c| < 3·10⁶ disagreements — past that the statistic's
    decision is already saturated and the counts alone carry it.

    Plan: one row-local projection and a single 1-row fold. Nothing
    shuffles but four partial-agg counters.
    """
    docs = load_table(spark, sf_dir, "documents")
    p = docs.select(
        "lang",
        _rater_a_col().alias("rater_a"),
        _rater_b_col().alias("rater_b"),
    )
    cells = p.agg(
        F.sum(
            ((F.col("rater_a") == F.col("lang"))
             & (F.col("rater_b") == F.col("lang"))).cast("long")
        ).alias("both_right"),
        F.sum(
            ((F.col("rater_a") == F.col("lang"))
             & (F.col("rater_b") != F.col("lang"))).cast("long")
        ).alias("only_a"),
        F.sum(
            ((F.col("rater_a") != F.col("lang"))
             & (F.col("rater_b") == F.col("lang"))).cast("long")
        ).alias("only_b"),
        F.sum(
            ((F.col("rater_a") != F.col("lang"))
             & (F.col("rater_b") != F.col("lang"))).cast("long")
        ).alias("both_wrong"),
    )
    return cells.select(
        "both_right",
        "only_a",
        "only_b",
        "both_wrong",
        F.expr(
            "CASE WHEN only_a + only_b > 0 "
            "THEN 1000000 * (only_a - only_b) * (only_a - only_b) "
            "div (only_a + only_b) ELSE 0 END"
        )
        .cast("long")
        .alias("chi2_micro"),
    )


# Deterministic hash-Poisson(1) bootstrap: each (doc, replicate) draws
# its multiplicity from the md5 bucket of (doc_id + replicate·SALT) via
# the truncated-Poisson(1) CDF over 1000 buckets. Weights are integers
# and the draw is a pure row-local function of (doc_id, r) — identical
# on both engines, stable across partitionings and reruns.
BOOT_REPLICATES = 10
BOOT_SALT = 7_777_777
# cumulative 1000·P(X ≤ k) for Poisson(1), truncated at 5
_BOOT_CDF = (368, 736, 920, 981, 996, 1000)


def _boot_weight_sql(expr: str) -> str:
    b = (
        f"CAST(concat('0x', substr(md5(CAST({expr} AS VARCHAR)), 1, 8)) "
        "AS BIGINT) % 1000"
    )
    cases = " ".join(
        f"WHEN {b} < {c} THEN {k}" for k, c in enumerate(_BOOT_CDF)
    )
    return f"CASE {cases} ELSE 5 END"


@query(
    "eval_bootstrap_replicates",
    f"""
    WITH reps AS (
      SELECT d.doc_id, d.n_chars, r.rep,
             {_boot_weight_sql(f"d.doc_id + r.rep * {BOOT_SALT}")} AS w
      FROM documents d,
           UNNEST(range(0, {BOOT_REPLICATES})) AS r(rep)
    )
    SELECT CAST(rep AS BIGINT) AS rep,
           CAST(SUM(w) AS BIGINT) AS n_eff,
           CAST(SUM(w * n_chars) AS BIGINT) AS sum_chars,
           CAST(1000 * SUM(w * n_chars) // SUM(w) AS BIGINT)
             AS mean_chars_milli
    FROM reps GROUP BY rep ORDER BY rep
    """,
)
def eval_bootstrap_replicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap for metric uncertainty, the DISTRIBUTED
    bootstrap (Chamandy et al.'s pattern): instead of resampling n
    docs with replacement (which needs global coordination), each
    (doc, replicate) pair independently draws a Poisson(1)
    multiplicity — here from a deterministic md5-bucket CDF ladder, so
    the "randomness" is a pure row-local function and both engines
    reproduce it bit-for-bit. Emits per-replicate effective sizes and
    the mean-length statistic in exact integer milli-units; the
    spread ACROSS the {BOOT_REPLICATES} replicate means is the
    standard error a curation owner quotes on the metric.

    Scale shape: one scan fanned out ×{BOOT_REPLICATES} row-locally
    (explode on a literal range — no shuffle amplification beyond the
    replicate-keyed partial agg), output is {BOOT_REPLICATES} rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    reps = docs.select(
        "doc_id",
        "n_chars",
        F.explode(
            F.sequence(F.lit(0), F.lit(BOOT_REPLICATES - 1))
        ).alias("rep"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    (F.col("doc_id") + F.col("rep") * BOOT_SALT).cast(
                        "string"
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 1000
    )
    w = F.lit(5)
    for k, c in reversed(list(enumerate(_BOOT_CDF))):
        w = F.when(bucket < c, F.lit(k)).otherwise(w)
    return (
        reps.select("rep", "n_chars", w.alias("w"))
        .groupBy("rep")
        .agg(
            F.sum("w").cast("long").alias("n_eff"),
            F.sum(F.col("w") * F.col("n_chars"))
            .cast("long")
            .alias("sum_chars"),
        )
        .select(
            F.col("rep").cast("long").alias("rep"),
            "n_eff",
            "sum_chars",
            F.expr("1000 * sum_chars div n_eff")
            .cast("long")
            .alias("mean_chars_milli"),
        )
        .orderBy("rep")
    )
