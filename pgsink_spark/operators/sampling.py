"""Deterministic sampling & dataset splits (training-data surface).

Training pipelines need samples and train/val/test splits that are (a)
reproducible run-over-run, (b) stable under repartitioning, and (c)
identical across engines — ``rand()``/``TABLESAMPLE`` give none of
these. The portable primitive is a content hash: bucket a row by
``md5(key)`` and select buckets. Every op here is a row-local
projection + filter — no shuffle, no state, trivially parallel at any
scale, and the parquet scan still prunes columns/rows underneath.

md5 is engine-portable (same bytes on Spark and DuckDB), which is what
makes these exactly oracle-checkable, unlike seeded PRNG sampling
where each engine's generator differs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from pgsink_spark.operators.registry import query
from pgsink_spark.sources.fixtures import load_table


def hash_bucket(c: Column, buckets: int = 100) -> Column:
    """Deterministic bucket in [0, buckets) from md5 of the value.

    32 hex chars overflow BIGINT, so take the first 8 (32 bits) —
    uniform, and small enough for exact integer math on both engines.
    """
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast(
            "bigint"
        )
        % buckets
    )


def _duckdb_bucket(expr: str, buckets: int = 100) -> str:
    return (
        f"CAST(concat('0x', substr(md5(CAST({expr} AS VARCHAR)), 1, 8)) "
        f"AS BIGINT) % {buckets}"
    )


@query(
    "sample_hash_10pct",
    f"""
    SELECT doc_id, lang, n_chars FROM documents
    WHERE {_duckdb_bucket("doc_id")} < 10
    ORDER BY doc_id
    """,
)
def sample_hash_10pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% deterministic Bernoulli sample of ``documents``.

    Row-local filter: every executor decides membership from the row
    alone, so the sample is identical regardless of partitioning,
    cluster size, or engine — the property that makes ablation runs
    comparable. (Contrast ``df.sample(0.1, seed)``: Spark's output
    depends on partition layout.)
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.where(hash_bucket(F.col("doc_id")) < 10)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


@query(
    "train_test_split",
    f"""
    WITH b AS (SELECT doc_id, {_duckdb_bucket("doc_id")} AS bk
               FROM documents)
    SELECT doc_id,
           CASE WHEN bk < 90 THEN 'train'
                WHEN bk < 95 THEN 'val' ELSE 'test' END AS split
    FROM b ORDER BY doc_id
    """,
)
def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90/5/5 train/val/test assignment, stable for the life of the
    corpus: a doc's split never changes as the corpus grows (its hash
    doesn't), so eval sets stay uncontaminated across refreshes."""
    docs = load_table(spark, sf_dir, "documents")
    bk = hash_bucket(F.col("doc_id"))
    return docs.select(
        "doc_id",
        F.when(bk < 90, "train")
        .when(bk < 95, "val")
        .otherwise("test")
        .alias("split"),
    ).orderBy("doc_id")


@query(
    "stratified_sample",
    f"""
    SELECT doc_id, lang FROM documents
    WHERE {_duckdb_bucket("doc_id")} <
          CASE WHEN lang = 'en' THEN 5 ELSE 50 END
    ORDER BY doc_id
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum rates (downsample the majority language, keep the
    tail): 5% of 'en' docs, 50% of everything else. The rate lookup is
    a row-local CASE — per-stratum exact fractions without the
    groupBy-count pass ``sampleBy`` needs, and reproducible."""
    docs = load_table(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", 5).otherwise(50)
    return (
        docs.where(hash_bucket(F.col("doc_id")) < rate)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


SAMPLE_K = 50
_2P52 = float(1 << 52)


@query(
    "sample_weighted",
    f"""
    WITH p AS (
      SELECT doc_id, n_chars,
             -ln((CAST(concat('0x',
                    substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
                  AS BIGINT) + 0.5) / {_2P52!r}) / n_chars AS e
      FROM documents)
    SELECT doc_id, n_chars FROM (
      SELECT doc_id, n_chars FROM p ORDER BY e, doc_id LIMIT {SAMPLE_K})
    ORDER BY doc_id
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement (Efraimidis–Spirakis
    priority sampling): k docs drawn with probability proportional to
    ``n_chars``, deterministically.

    Each row gets an exponential "arrival" e = -ln(u)/w where u is a
    hash-uniform in (0,1) — 52 md5 bits scaled by 2^-52, so u is exact
    float64 on both engines — and the k smallest arrivals win. This is
    the distributed-systems classic for weighted reservoir sampling:
    row-local priorities, then ONE top-k (TakeOrderedAndProject — each
    partition keeps k rows, no global sort), so it scales to any corpus
    and is reproducible run-over-run like every sampler in this module.
    The priority itself is not emitted: ln() may differ in the last ulp
    across libm implementations, which could flip hash equality of the
    value while membership at the k-boundary stays stable for any
    non-adversarial corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10
        ).cast("bigint")
        + F.lit(0.5)
    ) / F.lit(_2P52)
    e = -F.log(u) / F.col("n_chars")
    return (
        docs.select("doc_id", "n_chars", e.alias("e"))
        .orderBy("e", "doc_id")
        .limit(SAMPLE_K)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    )


@query(
    "sample_group_topk",
    """
    SELECT source, doc_id FROM (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents) t
    WHERE rn <= 50 ORDER BY source, doc_id
    """,
)
def sample_group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size per-group sample — the deterministic replacement for
    per-group reservoir sampling: rank each group's rows by the md5 of
    their key and keep the first k. Same guarantees as the rest of
    this module (reproducible, repartition-stable, engine-identical —
    a seeded reservoir is none of these), and the hash order is
    uniform, so the k survivors are an unbiased uniform sample of the
    group.

    Plan: one window keyed on the group column — a single shuffle,
    rank early-exits at k per partition... and NOTHING global; the
    100 TB shape for "give me k examples from every domain".
    """
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("source", "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 50)
        .select("source", "doc_id")
        .orderBy("source", "doc_id")
    )


DOMAIN_HARD_CAP = 15


@query(
    "sample_domain_cap",
    f"""
    WITH ranked AS (
      SELECT doc_id, source,
             CAST(row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS BIGINT) AS rk
      FROM documents
    )
    SELECT doc_id, source, rk FROM ranked
    WHERE rk <= {DOMAIN_HARD_CAP}
    ORDER BY source, rk
    """,
)
def sample_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap: keep at most DOMAIN_HARD_CAP docs per source,
    chosen by deterministic md5 order — the RefinedWeb-style guard that
    stops one crawler-friendly domain from dominating the training mix
    (domain_mix_sample rebalances proportions; this hard-caps the
    heaviest tails).

    One shuffle keyed on source; rank is a keyed window whose per-key
    cost is the domain's own row count, and the md5 order makes the
    selection reproducible across engines, partitionings, and corpus
    refreshes (no RAND, no first-N-encountered bias). At 100 TB a
    rank-over-hot-domain skew is bounded by the crawl's largest domain;
    the same plan holds with AQE skew splitting, or the window swaps
    for a per-domain reservoir at extreme skew.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select(
            "doc_id", "source", F.row_number().over(w).cast("bigint").alias("rk")
        )
        .where(F.col("rk") <= DOMAIN_HARD_CAP)
        .orderBy("source", "rk")
    )


RESERVOIR_K = 100


@query(
    "sample_reservoir_hash",
    f"""
    SELECT doc_id, source,
           CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
             AS BIGINT) AS rank_hash
    FROM documents
    ORDER BY rank_hash, doc_id
    LIMIT {RESERVOIR_K}
    """,
)
def sample_reservoir_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SIZE deterministic uniform sample (distributed reservoir):
    the RESERVOIR_K (100) documents with the smallest md5-derived 52-bit
    rank — the fixed-budget counterpart to sample_hash_10pct's
    Bernoulli rate (rate sampling yields a binomial size; eval sets
    and human-review batches need EXACTLY k rows). Ranking by a
    content-independent hash of the key is the classic distributed
    reservoir construction: uniform over the corpus, identical on any
    engine/partitioning, and incrementally mergeable (the sample of a
    union is the top-k of the unioned top-ks).

    Scale shape: one row-local hash projection + TakeOrdered top-k —
    per-partition heaps of k rows, one k-sized merge at the driver,
    never a global sort. The md5-13-hex recipe keeps the rank value
    itself hash-comparable across engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            "source",
            F.expr(
                "conv(substring(md5(cast(doc_id as string)), 1, 13), 16, 10)"
            )
            .cast("long")
            .alias("rank_hash"),
        )
        .orderBy("rank_hash", "doc_id")
        .limit(RESERVOIR_K)
    )


STRATA_BUDGET = 200


@query(
    "sample_stratified_quota",
    f"""
    WITH s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS ns
      FROM documents GROUP BY source
    ),
    n AS (SELECT CAST(sum(ns) AS BIGINT) AS n FROM s),
    b AS (
      SELECT source, ns,
             {STRATA_BUDGET} * ns // n.n AS base,
             ({STRATA_BUDGET} * ns) % n.n AS rem
      FROM s CROSS JOIN n
    ),
    bt AS (SELECT CAST(sum(base) AS BIGINT) AS base_total FROM b),
    q AS (
      SELECT source,
             base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
                         <= {STRATA_BUDGET} - bt.base_total
                    THEN 1 ELSE 0 END AS quota
      FROM b CROSS JOIN bt
    ),
    ranked AS (
      SELECT d.source, d.doc_id,
             row_number() OVER (
               PARTITION BY d.source
               ORDER BY CAST(concat('0x',
                 substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 13)) AS BIGINT),
                 d.doc_id) AS rk,
             q.quota AS quota
      FROM documents d JOIN q ON q.source = d.source
    )
    SELECT source, doc_id FROM ranked
    WHERE rk <= quota
    ORDER BY source, doc_id
    """,
)
def sample_stratified_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SIZE stratified sample with LARGEST-REMAINDER quotas: a
    fixed total budget of 200 docs is apportioned across sources
    proportionally to stratum size (base = ⌊K·n_s/N⌋, leftovers to
    the largest remainders, source-name tie-break — the Hamilton
    apportionment rule, deterministic and sums to exactly K), then
    each stratum takes its quota by smallest md5 rank (the
    sample_reservoir_hash construction per stratum). Rate-based
    stratified_sample yields binomial sizes; eval budgets need EXACT
    allocation — this is that operator.

    Scale shape: the stratum census is a source-keyed partial agg
    (control-plane, 20 rows); quotas are computed on that tiny frame;
    the per-stratum cut is a source-partitioned window over the
    hash-ranked scan — one shuffle keyed on source (salt a dominant
    stratum exactly like d44 if one source is the corpus).
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = sorted(
        (r["source"], r["ns"])
        for r in docs.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("ns"))
        .collect()
    )
    total = sum(ns for _s, ns in counts)
    base = {s: STRATA_BUDGET * ns // total for s, ns in counts}
    leftover = STRATA_BUDGET - sum(base.values())
    by_rem = sorted(
        counts, key=lambda kv: (-((STRATA_BUDGET * kv[1]) % total), kv[0])
    )
    quota = dict(base)
    for s, _ns in by_rem[:leftover]:
        quota[s] += 1
    qmap = F.create_map(
        *[F.lit(x) for kv in sorted(quota.items()) for x in kv]
    )
    h = F.expr(
        "conv(substring(md5(cast(doc_id as string)), 1, 13), 16, 10)"
    ).cast("long")
    w = W.partitionBy("source").orderBy("rank_hash", "doc_id")
    return (
        docs.select("source", "doc_id", h.alias("rank_hash"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= F.element_at(qmap, F.col("source")))
        .select("source", "doc_id")
        .orderBy("source", "doc_id")
    )


@query(
    "sample_kish_neff",
    """
    WITH w AS (
      SELECT CAST(n_chars AS HUGEINT) AS wt FROM documents
    )
    SELECT CAST(SUM(wt) AS BIGINT) AS sum_w,
           CAST(SUM(wt * wt) AS BIGINT) AS sum_w2,
           CAST(1000 * (SUM(wt) * SUM(wt)) // SUM(wt * wt) AS BIGINT)
             AS neff_milli,
           CAST(count(*) AS BIGINT) AS n
    FROM w
    """,
)
def sample_kish_neff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective sample size of a weighted corpus — n_eff =
    (Σw)² / Σw² with document length as the weight (the token-weighted
    regime every mixture sampler actually operates in): when weights
    are equal n_eff = n, and the n_eff/n ratio is the design-effect
    penalty a curation owner pays for length skew before quoting any
    corpus-level statistic. Emitted as exact integers: Σw in int64,
    and BOTH Σw² and the (Σw)² product accumulated in 128-bit — Spark
    decimal / DuckDB HUGEINT, the same overflow discipline
    graph_assortativity uses — since Σw is corpus-sized and squared
    terms pass 2⁶³ long before any real corpus does; the final
    BIGINT casts fail loudly on BOTH engines — DuckDB errors natively
    on HUGEINT→BIGINT overflow, and the Spark cast is guarded by
    ``raise_error`` because a bare non-ANSI decimal→long cast would
    yield NULL instead of erroring (ADVICE r8).

    Plan: one scan, one 1-row fold. Nothing else.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Σw² accumulates in decimal(38,0) on the Spark side to mirror the
    # oracle's HUGEINT sum — a plain long*long sum would wrap silently
    # (no ANSI mode) while DuckDB hard-errors, an asymmetric failure
    # mode at corpus scale. Same 128-bit discipline as the (Σw)²
    # product below and graph_assortativity's moments.
    wdec = F.col("n_chars").cast("decimal(19,0)")
    m = docs.agg(
        F.sum(F.col("n_chars").cast("long")).alias("sum_w"),
        F.sum(wdec * wdec).alias("sum_w2_dec"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return m.select(
        F.col("sum_w").cast("long").alias("sum_w"),
        F.expr(
            "CASE WHEN sum_w2_dec >"
            " CAST(9223372036854775807 AS DECIMAL(38,0))"
            " THEN CAST(raise_error('sum_w2 overflows BIGINT') AS BIGINT)"
            " ELSE CAST(sum_w2_dec AS BIGINT) END"
        ).alias("sum_w2"),
        F.expr(
            "1000 * (cast(sum_w as decimal(38,0))"
            " * cast(sum_w as decimal(38,0))) div sum_w2_dec"
        )
        .cast("long")
        .alias("neff_milli"),
        "n",
    )
