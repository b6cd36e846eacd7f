"""Corpus-level curation operators: segment dedup, n-gram statistics,
domain mixing (training-data surface).

These extend the document pipeline (operators/text.py, curation.py)
with the corpus-wide passes an LLM training pipeline runs after
per-document scoring:

- ``dedup_paragraph`` — segment-level exact dedup (the CCNet /
  RefinedWeb "line dedup" pass): drop any repeated paragraph
  corpus-wide, keeping its first occurrence. The fixture corpus has no
  newlines, so a "paragraph" is a fixed 10-word window — the operator
  shape (segment → fingerprint → global first-occurrence election) is
  identical for any segmenter.
- ``text_ngram_topk`` — corpus-wide top-k bigram counts (vocabulary /
  boilerplate statistics; map-side partial aggregation does the heavy
  lifting).
- ``domain_mix_sample`` — cap every source domain at a fixed document
  budget, electing members deterministically by content hash (the
  "domain mixing" step that rebalances a crawl before training).

Scale notes (100 TB): segment dedup is ONE shuffle keyed on the segment
fingerprint (same shape as dedup_exact, rows = corpus segments) plus a
doc-keyed re-aggregation; bigram top-k is a classic two-level
aggregation where partial maps collapse each partition's counts before
the single count shuffle; domain capping shuffles by domain — skewed
domains are the known hazard and the rate-based twin
(operators/sampling.py stratified_sample) is the row-local fallback
when one domain dominates the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pgsink_spark.operators.registry import query
from pgsink_spark.operators.relational import rnd, sorted_vocab_hapax
from pgsink_spark.sources.fixtures import load_table

SEG_WORDS = 10


def _segments(text):
    """Row-local segment array: consecutive SEG_WORDS-word windows.

    Pure built-in expressions (split / sequence / slice / array_join) —
    no explode until the caller asks for one row per segment, no
    Python. The word array is bound ONCE as a lambda variable (the
    let-idiom, same trick as dedup.py's signatures): naming it through
    a Column variable instead would let projection collapse inline the
    ``split()`` into every slice, re-splitting the document once per
    segment.
    """
    k = SEG_WORDS
    return F.expr(
        f"transform(array(split({text}, ' ')), w ->"
        f" transform(sequence(0, cast(ceil(size(w) / {k}.0) as int) - 1),"
        f" i -> array_join(slice(w, i * {k} + 1, {k}), ' ')))[0]"
    )


@query(
    "dedup_paragraph",
    f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    segs AS (
      SELECT doc_id, i.i AS seg_idx,
             array_to_string(ws[i.i*{SEG_WORDS}+1 : i.i*{SEG_WORDS}+{SEG_WORDS}], ' ') AS seg
      FROM w, LATERAL (SELECT unnest(generate_series(
               0, CAST(ceil(len(ws)/{SEG_WORDS}.0) AS INT) - 1)) AS i) i
    ),
    ranked AS (
      SELECT doc_id, seg,
             ROW_NUMBER() OVER (PARTITION BY seg
                                ORDER BY doc_id, seg_idx) AS rn
      FROM segs
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_segs,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM ranked GROUP BY doc_id ORDER BY doc_id
    """,
)
def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level exact dedup: per doc, how many of its segments
    survive corpus-wide first-occurrence election.

    Parity: the reference dedups whole rows by key (most-recent-row
    view, pkg/sinks/bigquery/schema_builders.go view semantics); this
    is the sub-document analogue training pipelines use (CCNet-style
    line dedup). First occurrence = smallest (doc_id, seg_idx), so the
    result is deterministic and engine-portable.

    Plan: segments stay a row-local array until one posexplode; the
    election is a single window shuffle keyed on the segment (== the
    dedup_exact fingerprint shuffle); the per-doc rollup re-shuffles by
    doc_id. No Python, no driver loop.
    """
    docs = load_table(spark, sf_dir, "documents")
    segs = docs.select(
        "doc_id", F.posexplode(_segments("text")).alias("seg_idx", "seg")
    )
    w = Window.partitionBy("seg").orderBy("doc_id", "seg_idx")
    ranked = segs.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segs"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_ngram_topk",
    """
    WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
    b AS (
      SELECT ws[i.i] || ' ' || ws[i.i+1] AS bigram
      FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS i) i
    )
    SELECT bigram, CAST(count(*) AS BIGINT) AS cnt
    FROM b GROUP BY bigram
    ORDER BY cnt DESC, bigram LIMIT 20
    """,
)
def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-20 word bigrams (vocabulary / boilerplate stats).

    Plan: the bigram array is row-local (sequence + element_at — no
    self-join of exploded words); after the explode, Catalyst's partial
    hash aggregation collapses each partition's counts before the one
    count shuffle, so shuffle rows ≈ distinct bigrams per partition,
    not corpus word count. Top-k is TakeOrderedAndProject — no global
    sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    # let-idiom: bind the split ONCE (see _segments) — an unbound
    # Column would re-split the text for every element_at reference
    bigrams = F.expr(
        "transform(array(split(text, ' ')), w ->"
        " transform(sequence(1, size(w) - 1),"
        " i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1))))[0]"
    )
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "bigram")
        .limit(20)
    )


DOMAIN_CAP = 15


@query(
    "domain_mix_sample",
    f"""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents) t
    WHERE rn <= {DOMAIN_CAP}
    ORDER BY doc_id
    """,
)
def domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing: cap each source at DOMAIN_CAP docs, electing
    members by content hash so the sample is reproducible and stable
    under repartitioning (same contract as sampling.py's hash ops).

    Plan: one window shuffle keyed on source. Skew hazard: a crawl
    where one domain is 50% of the corpus puts half the rows in one
    task — at that shape switch to the row-local rate filter
    (stratified_sample) or a two-phase cap (per-partition pre-cap, then
    global). The fixture's 20 even sources don't skew.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= DOMAIN_CAP)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


@query(
    "quality_lm_score",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    b AS (
      SELECT doc_id, ws[i.i] || ' ' || ws[i.i+1] AS bigram
      FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS i) i
    ),
    counts AS (SELECT bigram, count(*) AS cnt FROM b GROUP BY bigram),
    tot AS (SELECT count(*) AS total FROM b)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(cnt) AS DOUBLE)
             / count(*) / (SELECT total FROM tot) * 1e6 AS lm_score
    FROM b JOIN counts USING (bigram)
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def quality_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality score (KenLM-style filtering, statistics
    flavor): train bigram frequencies on the corpus itself, then score
    each document by the mean corpus-frequency of its bigrams
    (scaled ×1e6). Repetitive/boilerplate docs score high, vocabulary
    outliers score low — the standard two-pass "train stats, filter
    corpus" loop.

    Exactness discipline: the per-doc numerator is SUM(cnt) — an exact
    BIGINT — so the only float op is one final division chain,
    bit-identical across engines (no log/exp, no float accumulation
    order). Plan: bigram build is row-local (let-idiom); training is
    one count shuffle; scoring joins docs' bigrams to the counts table
    on the bigram key (shuffle join at 100 TB — the count table is
    corpus-vocabulary-sized, NOT broadcastable) and re-aggregates by
    doc. Three shuffles total, all on uniform high-cardinality keys.
    """
    docs = load_table(spark, sf_dir, "documents")
    bigrams_expr = F.expr(
        "transform(array(split(text, ' ')), w ->"
        " transform(sequence(1, size(w) - 1),"
        " i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1))))[0]"
    )
    b = docs.select("doc_id", F.explode(bigrams_expr).alias("bigram"))
    # materialize the vocabulary-sized counts table once: the scalar
    # total then derives from IT (one tiny agg) instead of a second
    # full corpus explode, and the scoring join reuses the same blocks —
    # the corpus is read exactly twice (count pass + scoring pass).
    # localCheckpoint (not persist) so the blocks are released by the
    # context cleaner as soon as the returned DataFrame is dropped,
    # instead of pinning executor memory for the rest of the session.
    counts = (
        b.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    total = counts.agg(F.sum("cnt")).first()[0]  # vocabulary-sized agg
    return (
        b.join(counts, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            (
                F.sum("cnt").cast("double")
                / F.count(F.lit(1))
                / F.lit(float(total))
                * 1e6
            ).alias("lm_score"),
        )
        .orderBy("doc_id")
    )


def profile(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Generic one-pass column profiler: null count + exact distinct
    per column, melted to one row per column.

    ONE aggregation job computes every column's stats (count-distincts
    share the scan; Catalyst expands multi-distinct aggs into a single
    expand+agg pipeline); the melt to long form is a row-local stack of
    the 1-row wide result — profiling cost is one corpus pass no matter
    how many columns.
    """
    cols = columns or df.columns
    aggs = []
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"{c}__nulls")
        )
        aggs.append(F.count_distinct(F.col(c)).alias(f"{c}__distinct"))
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `{c}__nulls`, `{c}__distinct`" for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args})"
        ).alias("column", "n_nulls", "n_distinct")
    ).orderBy("column")


@query(
    "d48_profile_documents",
    """
    SELECT 'doc_id' AS "column", CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct FROM documents
    UNION ALL
    SELECT 'lang', CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT lang) AS BIGINT) FROM documents
    UNION ALL
    SELECT 'n_chars', CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT n_chars) AS BIGINT) FROM documents
    UNION ALL
    SELECT 'source', CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT source) AS BIGINT) FROM documents
    UNION ALL
    SELECT 'text', CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT text) AS BIGINT) FROM documents
    ORDER BY "column"
    """,
)
def d48_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of ``documents`` (the ingest-time sanity
    pass): nulls + exact distinct per column, one scan for all columns
    — the oracle spells the naive 5-scan UNION ALL the single-pass
    plan replaces."""
    return profile(load_table(spark, sf_dir, "documents"))


DSIR_BUCKETS = 64  # hashed-feature dimensionality
DSIR_TARGET_LANG = "en"  # the fixture's majority language as target


@query(
    "dsir_importance",
    f"""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ),
    b AS (
      SELECT doc_id, lang,
             CAST(CONCAT('0x', substr(md5(tok), 1, 8)) AS BIGINT)
               % {DSIR_BUCKETS} AS bucket
      FROM toks
    ),
    tgt AS (
      SELECT bucket, CAST(count(*) AS DOUBLE) AS c FROM b
      WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY bucket
    ),
    src AS (SELECT bucket, CAST(count(*) AS DOUBLE) AS c FROM b GROUP BY bucket),
    tot AS (
      SELECT CAST(sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS nt,
             CAST(count(*) AS DOUBLE) AS ns
      FROM b
    ),
    lr AS (
      SELECT src.bucket,
             ln((COALESCE(tgt.c, 0) + 1) / (tot.nt + {DSIR_BUCKETS}))
             - ln((src.c + 1) / (tot.ns + {DSIR_BUCKETS})) AS llr
      FROM src LEFT JOIN tgt USING (bucket) CROSS JOIN tot
    )
    SELECT b.doc_id,
           CAST(ROUND(CAST(SUM(lr.llr) AS DECIMAL(18,8)), 6) AS DOUBLE)
             AS log_weight
    FROM b JOIN lr USING (bucket)
    GROUP BY b.doc_id ORDER BY b.doc_id
    """,
)
def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights: hashed-unigram bucket features,
    per-document log importance = Σ_w ln(p_target(b(w)) / p_source(b(w)))
    with Laplace smoothing — the published data-selection-via-
    importance-resampling recipe (target = the corpus's English slice,
    source = everything). Feed the weights to sample_weighted for the
    resampling step.

    Cross-engine determinism: the feature hash is the first 8 hex
    chars of md5 (identical bytes in Spark and DuckDB) so oracle and
    engine agree bucket-for-bucket. Plan: one tokenize/hash pass, two
    bucket-keyed aggregates (64 rows each — broadcast back), then one
    doc-keyed sum; at 100 TB the only corpus-sized shuffle is the
    final per-document aggregation.
    """
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            F.explode(F.split(F.lower("text"), " ")).alias("tok"),
        )
        .withColumn(
            "bucket",
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
            % DSIR_BUCKETS,
        )
    )
    tgt = (
        toks.where(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("double").alias("ct"))
    )
    src = toks.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("double").alias("cs")
    )
    tot = toks.agg(
        F.sum(
            (F.col("lang") == DSIR_TARGET_LANG).cast("double")
        ).alias("nt"),
        F.count(F.lit(1)).cast("double").alias("ns"),
    )
    lr = (
        src.join(tgt, on="bucket", how="left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0.0)) + 1)
                    / (F.col("nt") + DSIR_BUCKETS)
                )
                - F.log((F.col("cs") + 1) / (F.col("ns") + DSIR_BUCKETS))
            ).alias("llr"),
        )
    )
    return (
        toks.join(F.broadcast(lr), on="bucket")
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("llr").cast("decimal(18,8)"), 6)
            .cast("double")
            .alias("log_weight")
        )
        .orderBy("doc_id")
    )


MIX_SCALE = 1_000_000


@query(
    "corpus_mixture_reweight",
    f"""
    WITH st AS (
      SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
               AS tokens
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(SUM(tokens) AS BIGINT) AS t,
             CAST(count(*) AS BIGINT) AS k
      FROM st
    )
    SELECT source, tokens,
           tokens * {MIX_SCALE} // tot.t AS share_ppm,
           tot.t * {MIX_SCALE} // (tot.k * tokens) AS weight_scaled
    FROM st CROSS JOIN tot
    ORDER BY source
    """,
)
def corpus_mixture_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting: per-source token mass, its share of
    the corpus (ppm), and the multiplicative sampling weight that
    moves the mixture to the UNIFORM target — weight =
    target_share / current_share = T / (k · tokens_s), scaled to 1e6.
    This is the static form of DoReMi-style domain reweighting: the
    sampler multiplies each source's inclusion probability by its
    weight so every domain contributes equal token mass to the
    training mix (a non-uniform target is the same query with a
    broadcast target table in place of the 1/k constant).

    All arithmetic is integer (token counts, floor-divided scaled
    ratios), so the oracle hashes exactly. Plan: token counting is
    row-local (``size(split(...))`` — the raw text column never
    shuffles), folded by a source-keyed partial agg whose output is
    domains-sized; the totals row broadcasts back. One corpus scan,
    one tiny shuffle — at 100 TB this is scan-bound, which is the
    floor for any statistic that must see every document once.
    """
    docs = load_table(spark, sf_dir, "documents")
    st = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " ")))
        .cast("bigint")
        .alias("tokens")
    )
    tot = st.agg(
        F.sum("tokens").cast("bigint").alias("t"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    return (
        st.join(F.broadcast(tot))
        .select(
            "source",
            "tokens",
            F.expr(f"tokens * {MIX_SCALE} div t").alias("share_ppm"),
            F.expr(f"t * {MIX_SCALE} div (k * tokens)").alias(
                "weight_scaled"
            ),
        )
        .orderBy("source")
    )


@query(
    "corpus_temperature_sample",
    """
    WITH counts AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang
    ), mn AS (
      SELECT min(n_docs) AS n_min FROM counts
    ), p AS (
      SELECT lang, n_docs,
             LEAST(1.0, sqrt(CAST(n_min AS DOUBLE)
                             / CAST(n_docs AS DOUBLE))) AS keep_p
      FROM counts CROSS JOIN mn
    ), kept AS (
      SELECT d.lang, CAST(count(*) AS BIGINT) AS n_kept
      FROM documents d JOIN p ON p.lang = d.lang
      WHERE CAST(CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)),
                 1, 13)) AS BIGINT) AS DOUBLE)
            / 4503599627370496.0 < p.keep_p
      GROUP BY d.lang
    )
    SELECT p.lang, p.n_docs,
           CAST(ROUND(CAST(p.keep_p AS DECIMAL(18,8)), 6) AS DOUBLE)
             AS keep_prob,
           COALESCE(k.n_kept, 0) AS n_kept
    FROM p LEFT JOIN kept k ON k.lang = p.lang
    ORDER BY p.lang
    """,
)
def corpus_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain rebalancing (α = 1/2) — the standard
    low-resource upweighting a multilingual training mix applies:
    each language keeps documents with probability
    min(1, √(n_min/n_lang)), so the kept census flattens toward the
    geometric mean √(n_min·n_lang) — English (4× the smallest
    language here) is downsampled ~2×, the smallest language keeps
    everything. Complements domain_mix_sample's HARD cap (this is the
    smooth √-law every mixture paper uses) and corpus_mixture_reweight
    (which reWEIGHTS; this reSAMPLES).

    Determinism by construction: the only non-integer inputs are ONE
    correctly-rounded IEEE sqrt of an integer ratio per language and
    the md5-52-bit per-doc uniform (an exact dyadic), so both engines
    compare identical bits — no global float summation anywhere (a
    softmax-style normalizer would need one; the n_min formulation
    avoids it). Membership is a pure function of (doc_id, census):
    any worker can recompute the sample without coordination.

    Plan: one lang-keyed count (5 rows), a 1-row min broadcast, then a
    row-local keep predicate on the corpus scan — no shuffle touches
    document payloads.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    mn = counts.agg(F.min("n_docs").alias("n_min"))
    p = counts.crossJoin(F.broadcast(mn)).select(
        "lang",
        "n_docs",
        F.least(
            F.lit(1.0),
            F.sqrt(
                F.col("n_min").cast("double") / F.col("n_docs").cast("double")
            ),
        ).alias("keep_p"),
    )
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10
        ).cast("double")
        / float(1 << 52)
    )
    kept = (
        docs.join(F.broadcast(p), "lang")
        .where(u < F.col("keep_p"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_kept"))
    )
    return (
        p.join(kept, "lang", "left")
        .select(
            "lang",
            "n_docs",
            rnd(F.col("keep_p").cast("decimal(18,8)"), 6).alias("keep_prob"),
            F.coalesce(F.col("n_kept"), F.lit(0).cast("bigint")).alias(
                "n_kept"
            ),
        )
        .orderBy("lang")
    )


BORDA_K = 20
BORDA_BUCKETS = 32


@query(
    "quality_borda_fusion",
    """
    WITH dims AS MATERIALIZED (
      SELECT doc_id, n_chars AS s_len,
             CAST(len(list_distinct(w)) AS BIGINT) AS s_vocab,
             CAST(len(list_filter(list_distinct(w),
                    x -> len(list_filter(w, y -> y = x)) = 1))
               AS BIGINT) AS s_hapax
      FROM (SELECT doc_id, n_chars, string_split(lower(text), ' ') AS w
            FROM documents)
    ),
    r AS (
      SELECT doc_id,
        CAST(row_number() OVER (ORDER BY s_len DESC, doc_id) AS BIGINT)
          AS r_len,
        CAST(row_number() OVER (ORDER BY s_vocab DESC, doc_id) AS BIGINT)
          AS r_vocab,
        CAST(row_number() OVER (ORDER BY s_hapax DESC, doc_id) AS BIGINT)
          AS r_hapax
      FROM dims
    )
    SELECT doc_id, r_len, r_vocab, r_hapax,
           r_len + r_vocab + r_hapax AS borda
    FROM r ORDER BY borda, doc_id LIMIT 20
    """,
)
def quality_borda_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-fusion quality ENSEMBLE: three independent quality signals
    (length, vocabulary size, hapax count — the d90 skyline axes) each
    rank the corpus, and documents are scored by Borda count (sum of
    ranks, lower = better); output is the top-20 consensus documents.
    Rank fusion is the standard way to combine heterogeneous quality
    scorers without calibrating their scales (the retrieval_rrf idea
    applied to curation), and unlike the skyline it yields a TOTAL
    order you can cut a budget against.

    Scale shape: signals are one row-local pass, checkpointed once.
    Each global rank uses the deterministic ordered-bucket recipe
    (operators/ranking.py — range-bucket on the signal, per-bucket
    counts as a 32-row control-plane collect, broadcast prefix
    offsets, partition-LOCAL row_number): no single-partition window
    anywhere. The three rank frames re-join on doc_id (same key →
    one exchange reused), and the top-20 cut is TakeOrdered.
    """
    from pgsink_spark.operators.ranking import (
        bucket_offsets,
        multi_bucket_counts,
        multi_ordered_buckets,
    )

    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.lower("text"), " ")
    # vocab + hapax in ONE linear fold over the sorted array (r10: the
    # neighbor-lambda formulation re-evaluated the captured sort per
    # element — see relational.sorted_vocab_hapax)
    vh = sorted_vocab_hapax(F.array_sort(w))
    base = docs.select(
        "doc_id",
        F.col("n_chars").alias("s_len"),
        vh["vocab"].cast("long").alias("s_vocab"),
        vh["hapax"].cast("long").alias("s_hapax"),
    ).localCheckpoint(eager=True)

    # r10: ONE min/max job + ONE bucket-census job for all three
    # signals (was one of each per signal — 6 driver round-trips over
    # the checkpointed base); identical boundaries and counts, so
    # every rank is unchanged. Descending rank == ascending rank of
    # the NEGATED signal.
    signals = ["s_len", "s_vocab", "s_hapax"]
    buckets = multi_ordered_buckets(
        base, [-F.col(c) for c in signals], BORDA_BUCKETS
    )
    counts = multi_bucket_counts(base, buckets)

    def global_rank(i: int, rname: str) -> DataFrame:
        part = base.withColumn("bucket", buckets[i])
        off, _n = bucket_offsets(part, counts[i])
        wloc = Window.partitionBy("bucket").orderBy(
            F.col(signals[i]).desc(), "doc_id"
        )
        return part.select(
            "doc_id",
            (F.row_number().over(wloc) + off).cast("long").alias(rname),
        )

    fused = (
        global_rank(0, "r_len")
        .join(global_rank(1, "r_vocab"), "doc_id")
        .join(global_rank(2, "r_hapax"), "doc_id")
        .select(
            "doc_id",
            "r_len",
            "r_vocab",
            "r_hapax",
            (F.col("r_len") + F.col("r_vocab") + F.col("r_hapax"))
            .cast("long")
            .alias("borda"),
        )
    )
    return fused.orderBy("borda", "doc_id").limit(BORDA_K)


BURST_TOPK = 20
BURST_BUCKET = 50  # same ingest-bucket width as corpus_ngram_novelty


@query(
    "corpus_term_burstiness",
    f"""
    WITH toks AS (
      SELECT doc_id // {BURST_BUCKET} AS bucket,
             unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ),
    per_bucket AS (
      SELECT tok, bucket, CAST(count(*) AS BIGINT) AS cnt
      FROM toks GROUP BY tok, bucket
    ),
    per_term AS (
      SELECT tok,
             CAST(sum(cnt) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_buckets,
             CAST(max(cnt) AS BIGINT) AS max_bucket
      FROM per_bucket GROUP BY tok
    )
    SELECT tok, total, n_buckets, max_bucket,
           CAST(1000000 * max_bucket * n_buckets // total AS BIGINT)
             AS burst_ppm
    FROM per_term
    ORDER BY total DESC, tok LIMIT {BURST_TOPK}
    """,
)
def corpus_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term BURSTINESS audit over ingest order: for the corpus's 20
    most frequent words, the peak-to-mean ratio of their per-bucket
    counts (integer ppm; 1,000,000 = perfectly even). A bursty term —
    one crawl bucket contributing most of its mass — is the signature
    of boilerplate floods and spam injections that corpus-wide
    frequency alone cannot see; this is the temporal drilldown behind
    text_zipf_audit's static frequency law.

    Scale shape: one tokenize-explode into a (term, bucket)-keyed
    partial agg, then a term-keyed partial agg; the top-20 cut is
    TakeOrdered. Both aggs are map-side combined; nothing is ever
    keyed on less than the term.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.expr(f"doc_id div {BURST_BUCKET}").alias("bucket"),
        F.explode(F.split(F.lower("text"), " ")).alias("tok"),
    )
    per_bucket = toks.groupBy("tok", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    per_term = per_bucket.groupBy("tok").agg(
        F.sum("cnt").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.max("cnt").cast("long").alias("max_bucket"),
    )
    return (
        per_term.select(
            "tok",
            "total",
            "n_buckets",
            "max_bucket",
            F.expr("1000000 * max_bucket * n_buckets div total")
            .cast("long")
            .alias("burst_ppm"),
        )
        .orderBy(F.desc("total"), "tok")
        .limit(BURST_TOPK)
    )


@query(
    "corpus_simpson_diversity",
    """
    WITH counts AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS tok
            FROM documents)
      GROUP BY source, tok
    ),
    per_source AS (
      SELECT source,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(c * (c - 1)) AS BIGINT) AS coll
      FROM counts GROUP BY source
    )
    SELECT source, n_tokens, n_types,
           CAST(1000000 * coll // (n_tokens * (n_tokens - 1)) AS BIGINT)
             AS simpson_ppm
    FROM per_source ORDER BY source
    """,
)
def corpus_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source SIMPSON DIVERSITY index — the probability (integer
    ppm) that two tokens drawn without replacement from a source are
    the SAME word: λ = Σ c_i(c_i−1) / n(n−1). High λ = repetitive,
    low-diversity source (boilerplate farms); the lexical-diversity
    companion to text_zipf_audit (frequency law) and
    corpus_term_burstiness (temporal spikes). Exact integer form —
    no float division until the final ppm floor.

    Int64 range: n(n−1) stays in range to n ≈ 3e9 tokens per source
    (DuckDB widens to HUGEINT, Spark would wrap — same guard
    discipline as graph._EDGE_DOC_ID_MAX); past that, lift the
    arithmetic to DECIMAL(38,0) on both engines.

    Scale shape: one tokenize-explode into a (source, word)-keyed
    partial agg, then a source-keyed fold — the exact two-level
    aggregation of text_ngram_topk, output source-count sized.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(
            "source", F.explode(F.split(F.lower("text"), " ")).alias("tok")
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    per_source = counts.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("coll"),
    )
    return per_source.select(
        "source",
        "n_tokens",
        "n_types",
        F.expr("1000000 * coll div (n_tokens * (n_tokens - 1))")
        .cast("long")
        .alias("simpson_ppm"),
    ).orderBy("source")


@query(
    "corpus_dup_rate_by_source",
    """
    WITH per AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct
      FROM documents GROUP BY source
    )
    SELECT source, n_docs, n_distinct,
           CAST(n_docs - n_distinct AS BIGINT) AS dup_docs,
           CAST(1000000 * (n_docs - n_distinct) // n_docs AS BIGINT)
             AS dup_ppm
    FROM per ORDER BY source
    """,
)
def corpus_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate rate: document count, distinct-text
    count (by md5 fingerprint, so the shuffle moves 16-byte keys
    instead of document bodies), duplicate count and rate in ppm —
    the governance crossover between the dedup plane and the source
    scorecard. dedup_exact answers "which rows do I drop"; this
    answers "which SOURCE is feeding me copies", which is what gets a
    crawler reconfigured. Duplicate rate per source is also the
    canonical pre/post metric around any dedup deployment.

    Plan: one scan → (source, md5) partial agg — the same two-level
    aggregation Spark compiles count(DISTINCT) into, with map-side
    combine on both levels. No joins, no windows, no broadcasts.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct(F.md5(F.col("text").cast("binary")))
        .cast("long")
        .alias("n_distinct"),
    )
    return per.select(
        "source",
        "n_docs",
        "n_distinct",
        (F.col("n_docs") - F.col("n_distinct")).cast("long").alias("dup_docs"),
        F.expr("1000000 * (n_docs - n_distinct) div n_docs")
        .cast("long")
        .alias("dup_ppm"),
    ).orderBy("source")


@query(
    "corpus_source_purity",
    """
    WITH per AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY source, lang
    ),
    ranked AS (
      SELECT source, lang, n,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n DESC, lang) AS rnk,
             SUM(n) OVER (PARTITION BY source) AS tot
      FROM per
    )
    SELECT source, lang AS majority_lang, n AS n_majority,
           CAST(tot AS BIGINT) AS n_docs,
           CAST(1000000 * n // tot AS BIGINT) AS purity_ppm,
           CAST(1000000 * (tot - n) // tot AS BIGINT) AS minority_ppm
    FROM ranked WHERE rnk = 1 ORDER BY source
    """,
)
def corpus_source_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language purity: the majority language, its document
    count, and the majority/minority shares in exact ppm — the "is
    this source what its crawl config says it is" scorecard row. A
    source whose purity collapses between snapshots changed its
    upstream (domain parking, CDN swap, injected spam) and needs its
    sampling weight re-derived; the minority share is also the
    denominator for routing docs to per-language cleaning pipelines.

    Plan: one (source, lang) partial agg (≤ sources × languages result
    rows — census-sized), then rank + total windows over that census.
    Nothing data-sized past the first agg.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    ws = Window.partitionBy("source")
    ranked = per.select(
        "source",
        "lang",
        "n",
        F.row_number()
        .over(ws.orderBy(F.col("n").desc(), "lang"))
        .alias("rnk"),
        F.sum("n").over(ws).alias("tot"),
    )
    return (
        ranked.where(F.col("rnk") == 1)
        .select(
            "source",
            F.col("lang").alias("majority_lang"),
            F.col("n").alias("n_majority"),
            F.col("tot").cast("long").alias("n_docs"),
            F.expr("1000000 * n div tot").cast("long").alias("purity_ppm"),
            F.expr("1000000 * (tot - n) div tot")
            .cast("long")
            .alias("minority_ppm"),
        )
        .orderBy("source")
    )


COVERAGE_KS = (10, 100, 1000)


@query(
    "corpus_token_coverage",
    f"""
    WITH w AS (
      SELECT unnest(string_split(lower(text), ' ')) AS word
      FROM documents
    ),
    census AS (
      SELECT word, CAST(count(*) AS BIGINT) AS c FROM w GROUP BY word
    ),
    ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, word) AS rnk,
             SUM(c) OVER () AS total
      FROM census
    )
    SELECT k.k,
           CAST(SUM(CASE WHEN rnk <= k.k THEN c ELSE 0 END) AS BIGINT)
             AS covered_tokens,
           CAST(MAX(total) AS BIGINT) AS total_tokens,
           CAST(1000000 * SUM(CASE WHEN rnk <= k.k THEN c ELSE 0 END)
                // MAX(total) AS BIGINT) AS coverage_ppm
    FROM ranked
    CROSS JOIN (VALUES {", ".join(f"({k})" for k in COVERAGE_KS)}) AS k(k)
    GROUP BY k.k ORDER BY k.k
    """,
)
def corpus_token_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the fraction of the corpus's token
    stream covered by its top-k most frequent words, for k ∈
    {COVERAGE_KS} — the Zipf-integral read behind every vocabulary-
    size decision (text_zipf_audit checks the rank-frequency SLOPE;
    this is the cumulative mass the tokenizer planner actually
    budgets with, and the denominator text_oov_rate's per-source
    shares roll up to).

    Plan (no global rank anywhere): the word census collapses to an
    exact DISTINCT-COUNT value census (c → word count, group mass) —
    a frame bounded by √(2·total_tokens) rows regardless of
    vocabulary size, since D distinct counts force ≥ D(D+1)/2 tokens
    — and the top-k coverage sum reads off its c-descending
    cumulants: covered(k) = mass_above(t) + (k − words_above(t))·t at
    the count value t holding rank k (exact, because rows tied at t
    contribute t each, so the word-level tiebreak provably cannot
    move the sum). The cumulants use the deterministic ordered-bucket
    recipe (operators/ranking.py, same as quality_borda_fusion) in
    −log(c) space (log-width buckets absorb the Zipf skew of count
    values; distinct c ⇒ no tie straddles a bucket): per-bucket
    subtotals via a ≤64-row control-plane collect, broadcast prefix
    offsets, partition-LOCAL cumulative windows — the
    vocabulary-growing single-partition WindowExec this operator
    shipped with in round 7 is gone (r7 verdict item 3).
    """
    from pgsink_spark.operators.ranking import ordered_bucket

    docs = load_table(spark, sf_dir, "documents")
    census = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    # Exact value census over distinct counts; c·n_words ≤ total
    # tokens, so the per-group mass stays int64 at any corpus scale.
    vc = (
        census.groupBy("c")
        .agg(F.count(F.lit(1)).cast("long").alias("n_words"))
        .select("c", "n_words", (F.col("c") * F.col("n_words")).alias("mass"))
        .localCheckpoint(eager=True)
    )
    part = vc.withColumn(
        "bucket",
        ordered_bucket(vc, -F.log(F.col("c").cast("double")), 64),
    )
    bstats = part.groupBy("bucket").agg(
        F.sum("n_words").alias("w"), F.sum("mass").alias("m")
    ).collect()
    offw: dict[int, int] = {}
    offm: dict[int, int] = {}
    accw = accm = 0
    for r in sorted(bstats, key=lambda r: r["bucket"]):
        offw[r["bucket"]] = accw
        offm[r["bucket"]] = accm
        accw += r["w"]
        accm += r["m"]
    total_mass = accm
    off_w = F.element_at(
        F.create_map(*[F.lit(x) for kv in sorted(offw.items()) for x in kv]),
        F.col("bucket"),
    )
    off_m = F.element_at(
        F.create_map(*[F.lit(x) for kv in sorted(offm.items()) for x in kv]),
        F.col("bucket"),
    )
    wloc = (
        Window.partitionBy("bucket")
        .orderBy(F.col("c").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = part.select(
        "c",
        "n_words",
        "mass",
        (F.sum("n_words").over(wloc) + off_w).alias("cum_words"),
        (F.sum("mass").over(wloc) + off_m).alias("cum_mass"),
    )
    boundary = cum.select(
        "c",
        (F.col("cum_words") - F.col("n_words")).alias("words_above"),
        (F.col("cum_mass") - F.col("mass")).alias("mass_above"),
        "cum_words",
    )
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(int(k)) for k in COVERAGE_KS])).alias("k")
    )
    hit = boundary.join(
        F.broadcast(ks),
        (F.col("words_above") < F.col("k"))
        & (F.col("k") <= F.col("cum_words")),
    ).select(
        "k",
        (
            F.col("mass_above")
            + (F.col("k") - F.col("words_above")) * F.col("c")
        ).alias("covered"),
    )
    return (
        ks.join(hit, "k", "left")
        .select(
            F.col("k").cast("int").alias("k"),
            # k past the vocabulary covers everything
            F.coalesce(F.col("covered"), F.lit(total_mass))
            .cast("long")
            .alias("covered_tokens"),
            F.lit(total_mass).cast("long").alias("total_tokens"),
        )
        .select(
            "k",
            "covered_tokens",
            "total_tokens",
            F.expr("1000000 * covered_tokens div total_tokens")
            .cast("long")
            .alias("coverage_ppm"),
        )
        .orderBy("k")
    )


@query(
    "corpus_length_gini",
    """
    WITH r AS (
      SELECT source, CAST(n_chars AS BIGINT) AS w,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS i,
             COUNT(*) OVER (PARTITION BY source) AS n,
             SUM(n_chars) OVER (PARTITION BY source) AS tot
      FROM documents
    )
    SELECT source,
           CAST(MAX(n) AS BIGINT) AS n_docs,
           CAST(MAX(tot) AS BIGINT) AS total_chars,
           -- Gini via the rank formula, exact integer milli:
           -- G = (2·Σ i·w_i − (n+1)·Σw) / (n·Σw)
           CAST(CASE WHEN 2 * SUM(i * w) >= (MAX(n) + 1) * MAX(tot)
                THEN 1000 * (2 * SUM(i * w) - (MAX(n) + 1) * MAX(tot))
                     // (MAX(n) * MAX(tot))
                ELSE -(1000 * ((MAX(n) + 1) * MAX(tot) - 2 * SUM(i * w))
                       // (MAX(n) * MAX(tot)))
                END AS BIGINT) AS gini_milli
    FROM r GROUP BY source ORDER BY source
    """,
)
def corpus_length_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gini coefficient of document length — the length-
    CONCENTRATION read (0 = all docs equal, →1 = a few megadocs carry
    the source) that decides whether a source needs per-document
    token caps before mixing: two sources with the same mean length
    and wildly different Ginis behave completely differently under a
    token-budgeted sampler. Computed by the exact rank formula
    G = (2Σᵢ i·wᵢ − (n+1)Σw) / (n·Σw) over the length-sorted ranks,
    all int64 with a sign-symmetric milli image (G can only be
    negative by floating error — here it cannot, but the CASE keeps
    engine truncation identical anyway).

    Plan: one per-source rank window (partitioned on the
    high-cardinality-enough source key) + a source-keyed fold.
    int64-safe while Σ i·wᵢ < 2⁶³ — n·max_chars·n ≈ 10¹⁸ allows ~10⁶
    docs/source at 10⁶ chars; past that the weights rescale to KB
    units, same contract.
    """
    docs = load_table(spark, sf_dir, "documents")
    ws = Window.partitionBy("source")
    r = docs.select(
        "source",
        F.col("n_chars").cast("long").alias("w"),
        F.row_number()
        .over(ws.orderBy("n_chars", "doc_id"))
        .alias("i"),
        F.count(F.lit(1)).over(ws).alias("n"),
        F.sum("n_chars").over(ws).alias("tot"),
    )
    return (
        r.groupBy("source")
        .agg(
            F.max("n").cast("long").alias("n_docs"),
            F.max("tot").cast("long").alias("total_chars"),
            F.expr(
                "CAST(CASE WHEN 2 * sum(i * w) >= (max(n) + 1) * max(tot) "
                "THEN 1000 * (2 * sum(i * w) - (max(n) + 1) * max(tot)) "
                "div (max(n) * max(tot)) "
                "ELSE -(1000 * ((max(n) + 1) * max(tot) - 2 * sum(i * w)) "
                "div (max(n) * max(tot))) END AS BIGINT)"
            ).alias("gini_milli"),
        )
        .orderBy("source")
    )
