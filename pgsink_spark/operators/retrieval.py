"""Text retrieval scoring: BM25 search and per-document TF-IDF terms.

A training-data pipeline uses these constantly — keyword search over a
corpus for curation/debugging, and TF-IDF term extraction for topic
profiling and near-duplicate triage. Both are pure relational plans:

- one whitespace-tokenize + explode (row-local, codegen),
- partial-aggregated (doc, term) counts — the map-side combine collapses
  each partition's postings before the shuffle,
- corpus statistics (N, avgdl) as a 1-row broadcast cross join, never a
  driver-side collect,
- document-frequency joins keyed on the term — the only shuffles.

At 100 TB the plan is the standard distributed inverted-index build:
everything is keyed by term or doc_id, no all-pairs stage anywhere, and
the query-term filter lands BEFORE the tf aggregation so the scored
postings are |query terms| columns wide, not |vocabulary|.

Scores are rounded to 6 decimals inside a DECIMAL cast on both engines
(the repo's cross-engine float discipline), and every ORDER BY ranks the
*rounded* score with a doc_id tiebreak so the top-k cut is deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from pgsink_spark.operators.registry import query
from pgsink_spark.sources.fixtures import load_table

# BM25 free parameters (the universal Robertson/Sparck-Jones defaults)
K1 = 1.2
B = 0.75

BM25_TERMS = ["hash", "join", "scan"]


def _tokens(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )


def _round6(c: F.Column) -> F.Column:
    return F.round(c.cast("decimal(18,8)"), 6).cast("double")


def bm25_score(docs: DataFrame, terms: list[str], k: int = 10) -> DataFrame:
    """Top-k documents by BM25 against a bag of query terms.

    idf uses the +1-smoothed log form (Lucene's variant):
    ``ln(1 + (N - df + 0.5) / (df + 0.5))`` — strictly positive, so a
    term present in every document still contributes.

    Plan: with a small KNOWN query-term list there is no reason to
    build an inverted index — per-document term frequencies and length
    are row-local array expressions (``size(filter(tokens, …))``), so
    the whole query is ONE scan + one single-row stats aggregate
    (N, avgdl, per-term df — broadcast back) + a TakeOrdered top-k.
    No (doc, term) shuffle, no doc-keyed join anywhere; at 100 TB the
    cost is the scan. (The inverted-index build lives on in
    tfidf_top_terms, where every term in the vocabulary is scored.)
    """
    # let-idiom: bind the token array as a lambda variable so projection
    # collapse cannot inline the split() into every per-term filter
    # (3 query terms would otherwise re-tokenize the text 4× per row)
    for t in terms:
        if "'" in t or "\\" in t:
            raise ValueError(f"query term needs escaping: {t!r}")
    fields = ", ".join(
        f"size(filter(w, x -> x = '{t}')) as tf_{i}"
        for i, t in enumerate(terms)
    )
    per_doc = docs.select(
        "doc_id",
        F.expr(
            "transform(array(split(lower(text), ' ')),"
            f" w -> struct(size(w) as dl, {fields}))[0]"
        ).alias("s"),
    ).select(
        "doc_id",
        F.col("s.dl").cast("double").alias("dl"),
        *[
            F.col(f"s.tf_{i}").cast("double").alias(f"tf_{i}")
            for i in range(len(terms))
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("double")).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )

    def term_score(i: int) -> F.Column:
        tf, df = F.col(f"tf_{i}"), F.col(f"df_{i}")
        idf = F.log(
            F.lit(1.0) + (F.col("n_docs") - df + 0.5) / (df + 0.5)
        )
        norm = tf * (K1 + 1) / (
            tf + K1 * (1 - B + B * F.col("dl") / F.col("avgdl"))
        )
        return F.when(tf > 0, idf * norm).otherwise(F.lit(0.0))

    scored = (
        per_doc.crossJoin(F.broadcast(stats))
        # absent-terms-only docs are not hits (oracle: inner join on tf)
        .where(
            sum((F.col(f"tf_{i}") > 0).cast("int") for i in range(len(terms)))
            > 0
        )
        .select(
            "doc_id",
            _round6(
                sum(term_score(i) for i in range(len(terms)))
            ).alias("bm25"),
        )
    )
    return scored.orderBy(F.desc("bm25"), "doc_id").limit(k)


@query(
    "bm25_search",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ),
    dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl
           FROM toks GROUP BY doc_id),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
              FROM dl),
    tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf
           FROM toks WHERE tok IN ('hash', 'join', 'scan')
           GROUP BY doc_id, tok),
    dfreq AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY tok)
    SELECT doc_id,
           CAST(ROUND(CAST(SUM(
             ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf * (1.2 + 1)
               / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
           ) AS DECIMAL(18,8)), 6) AS DOUBLE) AS bm25
    FROM tf
    JOIN dfreq USING (tok)
    JOIN dl USING (doc_id)
    CROSS JOIN stats
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT 10
    """,
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword search over the documents corpus (top 10)."""
    return bm25_score(load_table(spark, sf_dir, "documents"), BM25_TERMS)


@query(
    "tfidf_top_terms",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ),
    tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf
           FROM toks GROUP BY doc_id, tok),
    dfreq AS (SELECT tok, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
              FROM toks GROUP BY tok),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             CAST(ROUND(CAST(
               tf.tf * ln((1 + n.n_docs) / (1 + dfreq.df))
             AS DECIMAL(18,8)), 6) AS DOUBLE) AS tfidf
      FROM tf JOIN dfreq USING (tok) CROSS JOIN n
    )
    SELECT doc_id, tok, tfidf FROM (
      SELECT scored.*,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, tok) AS rk
      FROM scored
    ) WHERE rk <= 3
    ORDER BY doc_id, tfidf DESC, tok
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf).

    The rank window is keyed by doc_id — no global window anywhere —
    and ranks the ROUNDED score so the per-doc cut can't flip on
    cross-engine float noise.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(docs)
    tf = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    # document frequency as a WINDOW over the tf postings (tf rows are
    # unique per (doc, term), so a term-partition COUNT is exactly df):
    # one term-keyed exchange serves the df computation in place — the
    # old separate groupBy + join-back pair cost two extra shuffles of
    # the full postings at 100 TB
    from pyspark.sql.window import Window

    dfreq = F.count(F.lit(1)).over(Window.partitionBy("tok")).cast("double")
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.withColumn("df", dfreq)
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            _round6(
                F.col("tf")
                * F.log((1 + F.col("n_docs")) / (1 + F.col("df")))
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "tok")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .drop("rk")
        .orderBy("doc_id", F.desc("tfidf"), "tok")
    )


RRF_K = 60  # the universal reciprocal-rank-fusion constant
RRF_DEPTH = 50  # depth of each input ranking


@query(
    "retrieval_rrf",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ),
    dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl
           FROM toks GROUP BY doc_id),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
              FROM dl),
    tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf
           FROM toks WHERE tok IN ('hash', 'join', 'scan')
           GROUP BY doc_id, tok),
    dfreq AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY tok),
    bm25 AS (
      SELECT doc_id,
             CAST(ROUND(CAST(SUM(
               ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * tf.tf * (1.2 + 1)
                 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
             ) AS DECIMAL(18,8)), 6) AS DOUBLE) AS s
      FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id)
      CROSS JOIN stats GROUP BY doc_id
    ),
    lex AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS r
      FROM bm25 QUALIFY r <= {RRF_DEPTH}
    ),
    sem AS (
      SELECT b.vec_id AS doc_id,
             ROW_NUMBER() OVER (
               ORDER BY list_cosine_similarity(
                 CAST(a.embedding AS DOUBLE[]),
                 CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) AS r
      FROM embeddings a JOIN embeddings b ON a.vec_id = 0 AND b.vec_id <> 0
      QUALIFY r <= {RRF_DEPTH}
    ),
    fused AS (
      SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
             CAST(ROUND(CAST(
               COALESCE(1.0 / ({RRF_K} + lex.r), 0)
               + COALESCE(1.0 / ({RRF_K} + sem.r), 0)
             AS DECIMAL(18,8)), 6) AS DOUBLE) AS rrf
      FROM lex FULL OUTER JOIN sem USING (doc_id)
    )
    SELECT doc_id, rrf FROM fused
    ORDER BY rrf DESC, doc_id LIMIT 10
    """,
)
def retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: the BM25 keyword
    ranking and an embedding-cosine ranking (probe = vec_id 0, the two
    fixture tables share the 0..N id space) each contribute
    ``1/(60+rank)`` for their top-50; top-10 fused documents win.

    RRF is the standard zero-tuning hybrid-search combiner (the
    rank-based fusion every RAG stack ships). Plan shape: both input
    rankings are top-50 cuts — tiny — so the fusion join is
    control-plane sized regardless of corpus scale; the heavy lifting
    stays in the two underlying rankings, each already audited (BM25:
    one scan + 1-row stats broadcast; cosine: one broadcast-probe
    pass). The fused score rounds before the final cut so the top-10
    cannot flip on cross-engine float noise.
    """
    from pgsink_spark.operators.similarity import as_double, cosine

    docs = load_table(spark, sf_dir, "documents")
    lex = (
        bm25_score(docs, BM25_TERMS, k=RRF_DEPTH)
        .select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.col("bm25").desc(), "doc_id"))
            .alias("r_lex"),
        )
    )
    emb = load_table(spark, sf_dir, "embeddings")
    probe = emb.where(F.col("vec_id") == 0).select(
        as_double(F.col("embedding")).alias("q_emb")
    )
    # top-50 via orderBy+limit (TakeOrderedAndProject — per-partition
    # partial top-k, no global window over the corpus), THEN rank the
    # 50 survivors; a global row_number here would single-partition the
    # whole corpus at scale
    sem_top = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select(
            F.col("vec_id").alias("doc_id"),
            cosine(F.col("q_emb"), as_double(F.col("embedding"))).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), "doc_id")
        .limit(RRF_DEPTH)
    )
    sem = sem_top.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("cos").desc(), "doc_id"))
        .alias("r_sem"),
    )
    fused = (
        lex.join(sem, on="doc_id", how="full_outer")
        .select(
            "doc_id",
            _round6(
                F.coalesce(1.0 / (RRF_K + F.col("r_lex")), F.lit(0.0))
                + F.coalesce(1.0 / (RRF_K + F.col("r_sem")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(10)


KN_DISCOUNT = 0.75  # the canonical Kneser-Ney absolute discount


@query(
    "text_kn_bigram",
    f"""
    WITH docs AS (
      SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents
    ),
    bg AS (
      SELECT l[i.i] AS w1, l[i.i + 1] AS w2
      FROM docs, LATERAL (
        SELECT unnest(generate_series(1, len(l) - 1)) AS i) i
    ),
    c12 AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c
            FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, SUM(c) AS c1, CAST(count(*) AS DOUBLE) AS n1_fw
           FROM c12 GROUP BY w1),
    cont AS (SELECT w2, CAST(count(*) AS DOUBLE) AS n1_bw
             FROM c12 GROUP BY w2),
    t AS (SELECT CAST(count(*) AS DOUBLE) AS n_types FROM c12)
    SELECT w1, w2, CAST(c12.c AS BIGINT) AS cnt,
           CAST(ROUND(CAST(
             GREATEST(c12.c - {KN_DISCOUNT}, 0) / c1.c1
             + ({KN_DISCOUNT} * c1.n1_fw / c1.c1) * (cont.n1_bw / t.n_types)
           AS DECIMAL(18,8)), 6) AS DOUBLE) AS p_kn
    FROM c12 JOIN c1 USING (w1) JOIN cont USING (w2) CROSS JOIN t
    ORDER BY cnt DESC, w1, w2 LIMIT 20
    """,
)
def text_kn_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (D = 0.75) for the
    corpus's 20 most frequent bigrams — the LM-data-prep statistic
    (continuation counts are the novelty signal quality pipelines use;
    the smoothing math is the published Chen–Goodman form).

    Plan: bigrams come from one row-local zip of each token array with
    its own tail (no self-join on positions); every aggregate after
    that is keyed by w1, w2, or the pair — partial-aggregated shuffles
    over the bigram vocabulary, never the corpus. The type total and
    interpolation constants ride a 1-row broadcast.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        F.split(F.lower("text"), " ").alias("l")
    )
    bg = docs.select(
        F.explode(
            F.expr(
                "zip_with(slice(l, 1, size(l) - 1), slice(l, 2, size(l) - 1),"
                " (a, b) -> struct(a AS w1, b AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    c12 = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    c1 = c12.groupBy("w1").agg(
        F.sum("c").alias("c1"),
        F.count(F.lit(1)).cast("double").alias("n1_fw"),
    )
    cont = c12.groupBy("w2").agg(
        F.count(F.lit(1)).cast("double").alias("n1_bw")
    )
    t = c12.agg(F.count(F.lit(1)).cast("double").alias("n_types"))
    return (
        c12.join(c1, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(t))
        .select(
            "w1",
            "w2",
            F.col("c").cast("long").alias("cnt"),
            _round6(
                F.greatest(F.col("c") - KN_DISCOUNT, F.lit(0.0)) / F.col("c1")
                + (KN_DISCOUNT * F.col("n1_fw") / F.col("c1"))
                * (F.col("n1_bw") / F.col("n_types"))
            ).alias("p_kn"),
        )
        .orderBy(F.col("cnt").desc(), "w1", "w2")
        .limit(20)
    )


@query(
    "text_bigram_perplexity",
    f"""
    WITH docs AS (
      SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents
    ),
    bg AS (
      SELECT doc_id, l[i.i] AS w1, l[i.i + 1] AS w2
      FROM docs, UNNEST(range(1, len(l))) AS i(i)
    ),
    c12 AS (
      SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c
      FROM bg GROUP BY w1, w2
    ),
    c1 AS (
      SELECT w1, SUM(c) AS c1, CAST(count(*) AS DOUBLE) AS n1_fw
      FROM c12 GROUP BY w1
    ),
    cont AS (
      SELECT w2, CAST(count(*) AS DOUBLE) AS n1_bw FROM c12 GROUP BY w2
    ),
    t AS (SELECT CAST(count(*) AS DOUBLE) AS n_types FROM c12),
    p AS (
      SELECT c12.w1, c12.w2,
             GREATEST(c12.c - {0.75}, 0.0) / c1.c1
               + ({0.75} * c1.n1_fw / c1.c1) * (cont.n1_bw / t.n_types)
               AS p_kn
      FROM c12 JOIN c1 USING (w1) JOIN cont USING (w2) CROSS JOIN t
    ),
    doclp AS (
      SELECT bg.doc_id,
             CAST(LN(p.p_kn) AS DECIMAL(28,12)) AS lp
      FROM bg JOIN p ON bg.w1 = p.w1 AND bg.w2 = p.w2
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(ROUND(CAST(-SUM(lp) / count(*) AS DECIMAL(28,12)), 6)
                AS DOUBLE) AS xent
    FROM doclp GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy (mean negative log-probability, nats)
    under the corpus's own interpolated Kneser–Ney bigram LM — the
    perplexity-filter pass real curation pipelines run (CCNet,
    RedPajama) with a KenLM model, here with the LM estimated from the
    corpus itself so the whole operator is closed-form and
    oracle-checkable.

    Exactness: each bigram's p_kn is pure rational arithmetic on
    integer counts (bit-identical across engines); its single ``ln``
    runs on an identical double; and per-doc accumulation sums
    DECIMAL(28,12) images of the logs — decimal addition is exact and
    associative, so Spark's partial-agg merge order and DuckDB's
    sequential fold cannot diverge (a raw float SUM here would differ
    in the last ulp by summation order alone).

    Plan: the LM tables are vocabulary-keyed aggregations off ONE
    row-local bigram explode; scoring joins the doc-bigram stream to
    the pair-probability table on the bigram key (at 100 TB the
    probability table is vocab²-bounded and ~always broadcastable
    after a frequency cut), then folds per doc. Docs shorter than two
    tokens have no bigrams and drop out, as a perplexity filter wants.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower("text"), " ").alias("l")
    )
    bg = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(l, 1, size(l) - 1), slice(l, 2, size(l) - 1),"
                " (a, b) -> struct(a AS w1, b AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    c12 = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    c1 = c12.groupBy("w1").agg(
        F.sum("c").alias("c1"),
        F.count(F.lit(1)).cast("double").alias("n1_fw"),
    )
    cont = c12.groupBy("w2").agg(
        F.count(F.lit(1)).cast("double").alias("n1_bw")
    )
    t = c12.agg(F.count(F.lit(1)).cast("double").alias("n_types"))
    p = (
        c12.join(c1, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(t))
        .select(
            "w1",
            "w2",
            (
                F.greatest(F.col("c") - KN_DISCOUNT, F.lit(0.0)) / F.col("c1")
                + (KN_DISCOUNT * F.col("n1_fw") / F.col("c1"))
                * (F.col("n1_bw") / F.col("n_types"))
            ).alias("p_kn"),
        )
    )
    doclp = bg.join(p, ["w1", "w2"]).select(
        "doc_id", F.log(F.col("p_kn")).cast("decimal(28,12)").alias("lp")
    )
    return (
        doclp.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(
                (-F.sum("lp") / F.count(F.lit(1))).cast("decimal(28,12)"), 6
            )
            .cast("double")
            .alias("xent"),
        )
        .orderBy("doc_id")
    )


@query(
    "retrieval_ndcg",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ),
    dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl
           FROM toks GROUP BY doc_id),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
              FROM dl),
    tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf
           FROM toks WHERE tok IN ('hash', 'join', 'scan')
           GROUP BY doc_id, tok),
    dfreq AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY tok),
    rel AS (SELECT doc_id, CAST(count(DISTINCT tok) AS INT) AS rel
            FROM tf GROUP BY doc_id),
    ranked AS (
      SELECT doc_id,
             CAST(ROUND(CAST(SUM(
               ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * tf.tf * (1.2 + 1)
                 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
             ) AS DECIMAL(18,8)), 6) AS DOUBLE) AS bm25
      FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id)
      CROSS JOIN stats
      GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10
    ),
    pos AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS i
      FROM ranked
    ),
    dcg_t AS (
      SELECT SUM((POW(2, COALESCE(rel.rel, 0)) - 1) / log2(pos.i + 1))
               AS dcg
      FROM pos LEFT JOIN rel USING (doc_id)
    ),
    ideal AS (
      SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS i
      FROM rel ORDER BY rel DESC, doc_id LIMIT 10
    ),
    idcg_t AS (
      SELECT SUM((POW(2, rel) - 1) / log2(i + 1)) AS idcg FROM ideal
    )
    SELECT CAST(ROUND(CAST(dcg AS DECIMAL(18,8)), 6) AS DOUBLE) AS dcg,
           CAST(ROUND(CAST(idcg AS DECIMAL(18,8)), 6) AS DOUBLE) AS idcg,
           CAST(ROUND(CAST(dcg / idcg AS DECIMAL(18,8)), 6) AS DOUBLE)
             AS ndcg
    FROM dcg_t CROSS JOIN idcg_t
    """,
)
def retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the BM25 ranking against graded relevance labels —
    the standard rank-quality metric a retrieval stack reports next to
    eval_score_auc's classification AUC. Relevance here is
    deterministic: rel(doc) = number of distinct query terms the
    document contains (0–3 graded), so the metric is a pure function
    of the fixture and any BM25 ranking regression (wrong idf, broken
    tie-break, lost top-k cut) moves the hash.

    DCG uses the exponential gain form Σ (2^rel − 1)/log2(i+1); IDCG
    re-ranks the whole corpus by relevance (TakeOrderedAndProject —
    never a global sort). Both sides of the final division are
    10-row aggregates: everything after the BM25 scan is
    control-plane sized at any corpus scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    terms = BM25_TERMS
    fields = ", ".join(
        f"size(filter(w, x -> x = '{t}')) > 0 as has_{i}"
        for i, t in enumerate(terms)
    )
    rel = docs.select(
        "doc_id",
        F.expr(
            "transform(array(split(lower(text), ' ')),"
            f" w -> struct({fields}))[0]"
        ).alias("s"),
    ).select(
        "doc_id",
        sum(
            F.col(f"s.has_{i}").cast("int") for i in range(len(terms))
        ).alias("rel"),
    ).where(F.col("rel") > 0)

    ranked = bm25_score(docs, terms, k=10)
    pos = ranked.withColumn(
        "i",
        F.row_number().over(
            W.partitionBy().orderBy(F.desc("bm25"), "doc_id")
        ),
    )
    gain = (F.pow(F.lit(2.0), F.coalesce(F.col("rel"), F.lit(0))) - 1) / (
        F.log2(F.col("i") + 1)
    )
    # every ranked doc contains ≥1 term (bm25_score filters), so inner
    # join ≡ left join here — and the 10-row ranked side is the build
    # side, never the corpus-sized rel table
    dcg_t = rel.join(F.broadcast(pos), "doc_id").agg(F.sum(gain).alias("dcg"))
    ideal = (
        rel.orderBy(F.desc("rel"), "doc_id")
        .limit(10)
        .withColumn(
            "i",
            F.row_number().over(W.partitionBy().orderBy(F.desc("rel"), "doc_id")),
        )
    )
    idcg_t = ideal.agg(
        F.sum(
            (F.pow(F.lit(2.0), F.col("rel")) - 1) / F.log2(F.col("i") + 1)
        ).alias("idcg")
    )
    return dcg_t.crossJoin(idcg_t).select(
        _round6(F.col("dcg")).alias("dcg"),
        _round6(F.col("idcg")).alias("idcg"),
        _round6(F.col("dcg") / F.col("idcg")).alias("ndcg"),
    )


def _ppl_buckets_sql() -> str:
    from pgsink_spark.operators.registry import ORACLES

    return f"""
    WITH base AS ({ORACLES["text_bigram_perplexity"]}),
    r AS (
      SELECT doc_id, xent,
             ROW_NUMBER() OVER (ORDER BY xent, doc_id) AS r,
             COUNT(*) OVER () AS n
      FROM base
    )
    SELECT doc_id, xent,
           CASE WHEN r * 3 <= n THEN 'head'
                WHEN r * 3 <= 2 * n THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM r ORDER BY doc_id
    """


@query("corpus_perplexity_buckets", _ppl_buckets_sql())
def corpus_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail split of the corpus by LM
    perplexity rank: the lowest-xent third is 'head' (cleanest text,
    kept for pretraining), the middle third 'middle', the rest 'tail'
    — the canonical perplexity-filter bucketing (Wenzek et al., CCNet),
    with the LM being the corpus-estimated Kneser–Ney bigram model of
    text_bigram_perplexity.

    Buckets derive from the GLOBAL rank, but never from a
    single-partition window: the scalable two-pass recipe
    (range-partition by (xent, doc_id) → per-partition counts as a
    32-row control-plane collect → broadcast prefix offsets →
    partition-LOCAL row numbers), the same global-rank construction as
    the export sharding path. Ties break on doc_id, so the cut is
    deterministic on both engines (xent is already a 6-dp-rounded
    double everywhere).
    """
    # the ranked frame feeds two passes (per-partition counts, then the
    # bucket projection) — materialize the LM scoring once; the scored
    # frame is (doc_id, xent) pairs, tiny relative to the corpus
    from pgsink_spark.operators.ranking import bucket_offsets, ordered_bucket

    base = (
        text_bigram_perplexity(spark, sf_dir)
        .select("doc_id", "xent")
        .localCheckpoint(eager=True)
    )
    # deterministic ordered buckets (NOT repartitionByRange: its
    # sampled boundaries carry a per-job seed, so the offsets job and
    # the output job could disagree — see operators/ranking.py)
    part = base.withColumn(
        "bucket", ordered_bucket(base, F.col("xent"), 32)
    )
    counts = {
        r["bucket"]: r["cnt"]
        for r in part.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    off, n = bucket_offsets(part, counts)
    wloc = W.partitionBy("bucket").orderBy("xent", "doc_id")
    r = F.row_number().over(wloc) + off
    return (
        part.select(
            "doc_id",
            "xent",
            F.when(r * 3 <= F.lit(n), F.lit("head"))
            .when(r * 3 <= F.lit(2 * n), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
        .orderBy("doc_id")
    )


MRR_TERMS = ["hash", "join", "scan", "table", "sort"]
MRR_K = 10
MRR_REL_TF = 2  # relevant = the query term appears at least twice


def _mrr_per_doc(docs: DataFrame) -> DataFrame:
    """One row-local pass: doc length + the tf ARRAY over every MRR
    query term (the |Q|-independent single scan; exposed so the plan
    pin can assert the scan prunes to doc_id/text)."""
    w = F.split(F.lower("text"), " ")

    def _tf(term: str):
        # a named factory, NOT `lambda x, t=t: ...`: pyspark counts a
        # lambda's parameters to pick the (element) vs (element, index)
        # calling convention, so a default arg would bind t to the index
        return F.size(F.filter(w, lambda x: x == F.lit(term))).cast("double")

    return docs.select(
        "doc_id",
        F.size(w).cast("double").alias("dl"),
        F.array(*[_tf(t) for t in MRR_TERMS]).alias("tfs"),
    )


@query(
    "retrieval_mrr",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ),
    dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl
           FROM toks GROUP BY doc_id),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
              FROM dl),
    tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf
           FROM toks
           WHERE tok IN ('hash', 'join', 'scan', 'table', 'sort')
           GROUP BY doc_id, tok),
    dfreq AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY tok),
    scored AS (
      SELECT tf.tok, tf.doc_id, tf.tf,
             CAST(ROUND(CAST(
               ln(1 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * tf.tf * (1.2 + 1)
                 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
             AS DECIMAL(18,8)), 6) AS DOUBLE) AS score
      FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id)
      CROSS JOIN stats
    ),
    ranked AS (
      SELECT tok, doc_id, tf, score,
             row_number() OVER (
               PARTITION BY tok ORDER BY score DESC, doc_id) AS r
      FROM scored
      QUALIFY r <= {MRR_K}
    ),
    firsts AS (
      SELECT tok, CAST(min(r) AS BIGINT) AS fr
      FROM ranked WHERE tf >= {MRR_REL_TF} GROUP BY tok
    )
    SELECT CAST({len(MRR_TERMS)} AS BIGINT) AS n_queries,
           CAST(count(*) AS BIGINT) AS n_hit,
           COALESCE(CAST(sum(1000000 // fr) // {len(MRR_TERMS)}
             AS BIGINT), 0) AS mrr_ppm
    FROM firsts
    """,
)
def retrieval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@10 over a FIVE-query BM25 evaluation set — the multi-query
    companion to retrieval_ndcg's single-query rank quality: each
    single-term query ranks the corpus by its (rounded) BM25 score,
    relevance is deterministic (the term occurs >= 2 times), and the
    metric is the mean reciprocal rank of the first relevant hit in
    the top-10 (queries with no relevant hit contribute 0). Reciprocal
    ranks are INTEGER micro-units (1000000 // rank) and the mean is a
    floor division, so the metric is a pure integer function of the
    fixture — hash-exact on both engines with no float summation.

    Plan (SINGLE document scan, r6 verdict item 6 — the previous
    shape re-scanned documents once per query term): one row-local
    pass computes dl and the tf ARRAY over every term, one 1-row
    stats fold (avgdl + per-term df array) broadcasts back, and the
    per-term top-10 is two-phase — partition-local row_number top-10
    keyed by (term, input-partition) (balanced, never 1-reducer-per-
    term on the full posting list), then a global merge over the
    ≤ 10·P survivors. Every row past the scan is a matching posting;
    the merge input is top-k-sized. This shape is |Q|-independent in
    scans, so growing the eval set costs wider tf arrays, not more
    passes. Ranking uses the ROUNDED score (same discipline as
    bm25_search) so order ties cannot flip on float noise across
    engines.
    """
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    # tokenize ONCE: the stats fold and the scoring pass both consume
    # the (doc_id, dl, tfs) frame, so materialize it eagerly — at
    # 100 TB you never want to re-split/re-filter the text twice, and
    # the per-doc frame is (8 + 8 + 8·|Q|) bytes/doc, tiny next to text
    per_doc = _mrr_per_doc(docs).localCheckpoint(eager=True)
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        F.array(
            *[
                F.sum(
                    (F.element_at("tfs", i + 1) > 0).cast("double")
                ).alias(f"df{i}")
                for i in range(len(MRR_TERMS))
            ]
        ).alias("dfs"),
    )
    terms_arr = F.array(*[F.lit(t) for t in MRR_TERMS])
    postings = (
        per_doc.select(
            "doc_id",
            "dl",
            F.posexplode("tfs").alias("ti", "tf"),
        )
        .where(F.col("tf") > 0)
        .crossJoin(F.broadcast(stats))
    )
    df_col = F.element_at(F.col("dfs"), F.col("ti") + 1)
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - df_col + 0.5) / (df_col + 0.5)
    )
    norm = (
        F.col("tf")
        * (K1 + 1)
        / (F.col("tf") + K1 * (1 - B + B * F.col("dl") / F.col("avgdl")))
    )
    scored = postings.select(
        F.element_at(terms_arr, F.col("ti") + 1).alias("tok"),
        F.spark_partition_id().alias("pid"),
        "doc_id",
        "tf",
        _round6(idf * norm).alias("score"),
    )
    local_top = (
        scored.withColumn(
            "lr",
            F.row_number().over(
                W.partitionBy("tok", "pid").orderBy(
                    F.desc("score"), "doc_id"
                )
            ),
        )
        .where(F.col("lr") <= MRR_K)
        .drop("lr", "pid")
    )
    with_r = local_top.withColumn(
        "r",
        F.row_number().over(
            W.partitionBy("tok").orderBy(F.desc("score"), "doc_id")
        ),
    ).where(F.col("r") <= MRR_K)
    firsts = (
        with_r.where(F.col("tf") >= MRR_REL_TF)
        .groupBy("tok")
        .agg(F.min("r").cast("long").alias("fr"))
    )
    return firsts.agg(
        F.lit(len(MRR_TERMS)).cast("long").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("n_hit"),
        F.coalesce(
            F.expr(f"sum(1000000 div fr) div {len(MRR_TERMS)}").cast(
                "long"
            ),
            F.lit(0).cast("long"),
        ).alias("mrr_ppm"),
    )


PHRASE_W1, PHRASE_W2 = "table", "value"
PHRASE_K = 20


@query(
    "retrieval_phrase_search",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    hits AS (
      SELECT doc_id,
             CAST(len(list_filter(generate_series(1, len(w) - 1),
                    i -> w[i] = '{PHRASE_W1}' AND w[i + 1] = '{PHRASE_W2}'))
               AS BIGINT) AS n_occurrences
      FROM toks WHERE len(w) >= 2
    )
    SELECT doc_id, n_occurrences
    FROM hits WHERE n_occurrences > 0
    ORDER BY n_occurrences DESC, doc_id LIMIT {PHRASE_K}
    """,
)
def retrieval_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PHRASE search — top-20 documents by occurrence count of
    the adjacent-bigram phrase "table value": the positional-match
    capability the unigram ranking surface (bm25/tfidf/rrf/ndcg/mrr)
    cannot express, and the building block for quoted-query support.
    Counting consecutive positions (not distinct bigrams) means a doc
    repeating the phrase ranks above one mentioning it once.

    Scale shape: the occurrence count is ONE row-local higher-order
    expression over the split array (a positional index filter — no
    explode, no posting shuffle), and the cut is TakeOrdered. At
    cluster scale a persistent phrase index would precompute bigram
    postings once (word_shingles(n=2) keyed by shingle); the query
    shape stays a pruned scan + top-k either way.
    """
    docs = load_table(spark, sf_dir, "documents")
    # r11 (guide §1.2 step 2 — same O(n²) class as the r10 hapax fix):
    # the old positional filter captured the EXPRESSION
    # `split(lower(text), ' ')` and indexed it twice per position, and
    # each `split(...)[i]` re-evaluates the captured split — O(n) per
    # element, O(n²) per document. One linear aggregate fold carrying
    # (prev token, count) visits each token once and counts the same
    # adjacent (w[i-1], w[i]) matches; docs with <2 tokens fold to 0
    # and are dropped by the existing n_occurrences > 0 cut, so the
    # old `size(w) >= 2` pre-filter (one more full split per row) is
    # subsumed.
    n_occ = F.expr(
        "aggregate(split(lower(text), ' '), "
        "named_struct('prev', CAST(NULL AS STRING), "
        "             'cnt', CAST(0 AS BIGINT)), "
        "(acc, x) -> named_struct('prev', x, 'cnt', acc.cnt + "
        f"IF(acc.prev = '{PHRASE_W1}' AND x = '{PHRASE_W2}', "
        "CAST(1 AS BIGINT), CAST(0 AS BIGINT))), "
        "acc -> acc.cnt)"
    )
    return (
        docs
        .select("doc_id", n_occ.cast("long").alias("n_occurrences"))
        .where(F.col("n_occurrences") > 0)
        .orderBy(F.desc("n_occurrences"), "doc_id")
        .limit(PHRASE_K)
    )


BOOL_MUST = ["hash", "scan"]
BOOL_NOT = "slow"


@query(
    "retrieval_boolean_query",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    )
    SELECT doc_id,
           CAST(len(list_filter(w, x -> x = '{BOOL_MUST[0]}')) AS BIGINT)
             AS n_hash,
           CAST(len(list_filter(w, x -> x = '{BOOL_MUST[1]}')) AS BIGINT)
             AS n_scan
    FROM toks
    WHERE list_contains(w, '{BOOL_MUST[0]}')
      AND list_contains(w, '{BOOL_MUST[1]}')
      AND NOT list_contains(w, '{BOOL_NOT}')
    ORDER BY doc_id
    """,
)
def retrieval_boolean_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean retrieval — every document matching
    ``hash AND scan AND NOT slow``, with per-term counts: the filter
    primitive of an inverted-index engine (must/must-not clauses),
    complementing the ranked surface. The NOT clause is the part
    score-based rankers cannot express.

    Scale shape: entirely row-local (array_contains short-circuits;
    no explode, no shuffle except the output sort). On a real index
    the same query is a postings intersection minus the NOT postings
    — the declarative WHERE gives Catalyst the same pushdown freedom.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.lower("text"), " ")

    def count_of(term: str):
        return F.size(F.filter(w, lambda x: x == F.lit(term))).cast("long")

    return (
        docs.where(
            F.array_contains(w, BOOL_MUST[0])
            & F.array_contains(w, BOOL_MUST[1])
            & ~F.array_contains(w, BOOL_NOT)
        )
        .select(
            "doc_id",
            count_of(BOOL_MUST[0]).alias("n_hash"),
            count_of(BOOL_MUST[1]).alias("n_scan"),
        )
        .orderBy("doc_id")
    )


# Typo'd query terms for the fuzzy-match operator: each is edit
# distance 1 from a high-frequency corpus word ("hash", "join", "scan") and distance >1 from everything else frequent, so the match
# set is non-trivial but unambiguous.
FUZZY_TERMS = ("hashh", "joi", "scen")
FUZZY_MAX_DIST = 1
FUZZY_TOPK = 5


@query(
    "retrieval_fuzzy_match",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ),
    vocab AS (SELECT DISTINCT tok FROM toks),
    q AS (SELECT unnest({list(FUZZY_TERMS)!r}) AS term),
    matched AS (
      SELECT q.term, v.tok
      FROM q JOIN vocab v
        ON levenshtein(q.term, v.tok) <= {FUZZY_MAX_DIST}
    ),
    hits AS (
      SELECT m.term, t.doc_id, CAST(count(*) AS BIGINT) AS n_hits
      FROM matched m JOIN toks t ON t.tok = m.tok
      GROUP BY m.term, t.doc_id
    )
    SELECT term, doc_id, n_hits FROM (
      SELECT term, doc_id, n_hits,
             ROW_NUMBER() OVER (PARTITION BY term
                                ORDER BY n_hits DESC, doc_id) AS rnk
      FROM hits) t
    WHERE rnk <= {FUZZY_TOPK}
    ORDER BY term, n_hits DESC, doc_id
    """,
)
def retrieval_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant term search: each (misspelled) query term expands
    to every VOCABULARY word within Levenshtein distance 1, then docs
    rank by total matched-token count — the classic two-stage fuzzy
    retrieval (edit distance against the vocab, not against every
    token occurrence). "hsah" finds the "hash" docs even though no
    document contains the typo.

    Scale shape: the edit-distance scan runs over the DISTINCT
    vocabulary (Heaps-law sized, ~√corpus) against a constant-size
    term list — never over the token stream; the expansion's postings
    join is keyed on the matched word. At a 10⁸-type vocabulary the
    vocab scan gets a length/prefix blocking filter first (same
    discipline as dedup_fuzzy_blocked); the fixture-size operator
    keeps the exact unblocked form the blocked variant is validated
    against.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(docs)
    vocab = toks.select("tok").distinct()
    q = spark.createDataFrame(
        [(t,) for t in FUZZY_TERMS], "term string"
    )
    matched = F.broadcast(q).join(
        vocab, F.levenshtein(F.col("term"), F.col("tok")) <= FUZZY_MAX_DIST
    )
    hits = (
        matched.join(toks, "tok")
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    w = W.partitionBy("term").orderBy(F.col("n_hits").desc(), "doc_id")
    return (
        hits.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= FUZZY_TOPK)
        .select("term", "doc_id", "n_hits")
        .orderBy("term", F.col("n_hits").desc(), "doc_id")
    )


SNIPPET_TERM = "join"
SNIPPET_RADIUS = 3
SNIPPET_LIMIT = 20


@query(
    "retrieval_snippet_extract",
    f"""
    WITH pos AS (
      SELECT doc_id,
             string_split(lower(text), ' ') AS ws,
             list_position(string_split(lower(text), ' '),
                           '{SNIPPET_TERM}') AS p
      FROM documents
    )
    SELECT doc_id, CAST(p AS BIGINT) AS first_pos,
           array_to_string(
             list_slice(ws, GREATEST(p - {SNIPPET_RADIUS}, 1),
                        p + {SNIPPET_RADIUS}), ' ') AS snippet
    FROM pos WHERE p IS NOT NULL AND p > 0
    ORDER BY doc_id LIMIT {SNIPPET_LIMIT}
    """,
)
def retrieval_snippet_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-result snippet extraction: for every document containing
    the query term, the 1-based position of its FIRST occurrence and
    the ±{SNIPPET_RADIUS}-word window around it — the context preview a
    search UI renders under each hit. Completely row-local (array
    position + slice + join on the already-split token array), so the
    cost is the scan; the LIMIT is presentation.

    Both engines use 1-based array positions and inclusive slice
    bounds; the left edge clamps at 1 (GREATEST/greatest), the right
    edge is handled by both engines' slice-past-end semantics.
    """
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.lower(F.col("text")), " ")
    pos = docs.select(
        "doc_id",
        ws.alias("ws"),
        F.array_position(ws, SNIPPET_TERM).alias("p"),
    )
    return (
        pos.where(F.col("p") > 0)
        .select(
            "doc_id",
            F.col("p").cast("long").alias("first_pos"),
            F.array_join(
                F.slice(
                    F.col("ws"),
                    F.greatest(F.col("p") - SNIPPET_RADIUS, F.lit(1)),
                    # inclusive window [max(p-R,1), p+R] expressed as
                    # (start, length) for Spark's slice
                    (
                        F.col("p")
                        + SNIPPET_RADIUS
                        - F.greatest(F.col("p") - SNIPPET_RADIUS, F.lit(1))
                        + 1
                    ).cast("int"),
                ),
                " ",
            ).alias("snippet"),
        )
        .orderBy("doc_id")
        .limit(SNIPPET_LIMIT)
    )


PROX_TERM_A = "hash"
PROX_TERM_B = "join"
PROX_LIMIT = 20


@query(
    "retrieval_term_proximity",
    f"""
    WITH d AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ),
    pos AS (
      SELECT doc_id, r.p AS p, ws[r.p] AS w
      FROM d, UNNEST(range(1, len(ws) + 1)) AS r(p)
      WHERE ws[r.p] IN ('{PROX_TERM_A}', '{PROX_TERM_B}')
    ),
    p1 AS (SELECT doc_id, p FROM pos WHERE w = '{PROX_TERM_A}'),
    p2 AS (SELECT doc_id, p FROM pos WHERE w = '{PROX_TERM_B}'),
    dist AS (
      SELECT p1.doc_id,
             CAST(count(DISTINCT p1.p) AS BIGINT) AS n_a,
             CAST(count(DISTINCT p2.p) AS BIGINT) AS n_b,
             CAST(min(abs(p1.p - p2.p)) AS BIGINT) AS min_dist
      FROM p1 JOIN p2 ON p2.doc_id = p1.doc_id
      GROUP BY p1.doc_id
    )
    SELECT doc_id, n_a, n_b, min_dist
    FROM dist ORDER BY min_dist, doc_id LIMIT {PROX_LIMIT}
    """,
)
def retrieval_term_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-proximity ranking: documents containing BOTH query terms,
    ranked by the minimum token distance between any occurrence pair —
    the relevance signal between bag-of-words (BM25, distance-blind)
    and exact phrase match (distance = 1, order-fixed). Docs where
    "hash" and "join" collide are about hash JOINS; docs where they
    sit paragraphs apart merely mention both.

    Plan: tokenize-with-position (posexplode — one row per PANEL term
    occurrence only, filtered before any shuffle), then a doc-keyed
    join of the two position sets: per-doc fan-out is n_a·n_b
    occurrence pairs — bounded by per-doc term frequency, never
    corpus-sized (the same per-key fan-out argument as
    d98_window_funnel, with the min() collapsing map-side).
    """
    docs = load_table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), " ")).alias(
            "p0", "w"
        ),
    ).where(F.col("w").isin(PROX_TERM_A, PROX_TERM_B)).select(
        "doc_id", (F.col("p0") + 1).alias("p"), "w"
    )
    p1 = pos.where(F.col("w") == PROX_TERM_A).select(
        "doc_id", F.col("p").alias("pa")
    )
    p2 = pos.where(F.col("w") == PROX_TERM_B).select(
        "doc_id", F.col("p").alias("pb")
    )
    dist = (
        p1.join(p2, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("pa").cast("long").alias("n_a"),
            F.countDistinct("pb").cast("long").alias("n_b"),
            F.min(F.abs(F.col("pa") - F.col("pb")))
            .cast("long")
            .alias("min_dist"),
        )
    )
    return dist.orderBy("min_dist", "doc_id").limit(PROX_LIMIT)
