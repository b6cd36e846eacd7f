"""Text analysis over ``documents`` (north-star surface).

Everything here is built-in-function arithmetic (JVM-side, codegen'd):
no Python UDFs in any hot path. Each operator has a DuckDB oracle with
identical arithmetic so results hash-match.

- language-ID: marker-token frequency heuristic (decision chain);
- quality score: length / punctuation / stopword-ratio features;
- token counting: whitespace tokens + a BPE-ish regex segmentation;
- fingerprinting: min-hash over word-5-gram shingles (winnowing-lite).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from pgsink_spark.operators.registry import query
from pgsink_spark.sources.fixtures import load_table

# marker stopwords per language, counted as ' tok ' substrings
_MARKERS = {"en": "the", "fr": "le", "de": "der", "es": "el", "zh": "de"}

_TOKEN_REGEX = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def _substr_count(text: Column, sub: str) -> Column:
    """Occurrences of a literal substring — pure length arithmetic so the
    DuckDB oracle can reproduce it exactly."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(sub), F.lit(""))))
        / len(sub)
    ).cast("bigint")


def _duck_count(sub: str) -> str:
    pad = "concat(' ', lower(text), ' ')"
    return (
        f"CAST((len({pad}) - len(replace({pad}, ' {sub} ', ''))) / {len(sub) + 2}"
        " AS BIGINT)"
    )


@query(
    "text_lang_id",
    f"""
        SELECT doc_id,
               CASE WHEN {_duck_count('le')} > {_duck_count('the')} THEN 'fr'
                    WHEN {_duck_count('der')} > {_duck_count('the')} THEN 'de'
                    WHEN {_duck_count('el')} > {_duck_count('the')} THEN 'es'
                    ELSE 'en' END AS pred_lang
        FROM documents ORDER BY doc_id
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-frequency language ID. Deterministic decision chain:
    first language (fr→de→es order) whose padded-marker count strictly
    beats 'the' wins, else 'en'."""
    docs = load_table(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    counts = {
        lang: _substr_count(padded, f" {tok} ")
        for lang, tok in _MARKERS.items()
        if lang != "zh"
    }
    pred = (
        F.when(counts["fr"] > counts["en"], "fr")
        .when(counts["de"] > counts["en"], "de")
        .when(counts["es"] > counts["en"], "es")
        .otherwise("en")
    )
    return docs.select("doc_id", pred.alias("pred_lang")).orderBy("doc_id")


@query(
    "text_quality_score",
    f"""
        WITH feat AS (
          SELECT doc_id,
                 CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
                 {_duck_count('the')} AS n_stop,
                 len(lower(text)) AS n_chars
          FROM documents
        )
        SELECT doc_id, n_words, n_stop,
               CAST(least(n_words / 100.0, 1.0) * 0.5
                 + (1.0 - least(n_stop * 1.0 / n_words * 5.0, 1.0)) * 0.3
                 + least((n_chars - (n_words - 1)) * 1.0 / n_words / 8.0, 1.0) * 0.2
                 AS DOUBLE) AS quality
        FROM feat ORDER BY doc_id
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features + a composite score, all exact arithmetic:
    n_words, stop_ratio ('the' frequency), mean word length."""
    docs = load_table(spark, sf_dir, "documents")
    text = F.lower(F.col("text"))
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    n_words = F.size(F.split(text, " ")).cast("bigint")
    n_stop = _substr_count(padded, " the ")
    mean_wlen = (F.length(text) - (n_words - 1)) / n_words
    # No final ROUND: Spark's BigDecimal HALF_UP and DuckDB's
    # multiply-then-rint round() disagree on boundary doubles; the
    # unrounded float64 pipeline is bit-identical in both engines.
    score = (
        F.least(n_words / 100.0, F.lit(1.0)) * 0.5
        + (1.0 - F.least(n_stop / n_words * 5.0, F.lit(1.0))) * 0.3
        + F.least(mean_wlen / 8.0, F.lit(1.0)) * 0.2
    ).cast("double")
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_stop.alias("n_stop"),
        score.alias("quality"),
    ).orderBy("doc_id")


@query(
    "text_token_count",
    f"""
        SELECT doc_id,
               CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS ws_tokens,
               CAST(len(regexp_extract_all(lower(text), '{_TOKEN_REGEX}'))
                    AS BIGINT) AS re_tokens
        FROM documents ORDER BY doc_id
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + BPE-ish regex segment count."""
    docs = load_table(spark, sf_dir, "documents")
    text = F.lower(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(F.split(text, " ")).cast("bigint").alias("ws_tokens"),
        F.size(F.expr(f"regexp_extract_all(lower(text), '{_TOKEN_REGEX}', 0)"))
        .cast("bigint")
        .alias("re_tokens"),
    ).orderBy("doc_id")


@query(
    "text_fingerprint",
    """
        WITH toks AS (
          SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
          WHERE len(string_split(lower(text), ' ')) >= 5
        ), pos AS (
          SELECT doc_id, w, unnest(range(1, len(w)-3)) AS i FROM toks
        ), sh AS (
          SELECT doc_id,
                 w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                      || ' ' || w[i+4] AS shingle
          FROM pos
        )
        SELECT doc_id, min(md5(shingle)) AS fp FROM sh
        GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-lite doc fingerprint: lexicographic min of md5 over
    word-5-gram shingles (shift-invariant to local edits).

    Row-local: the min-over-shingles is an ``array_min ∘ transform``
    expression per document — no explode, no groupBy, no shuffle (the
    fingerprint stage is a pure map at any corpus size). ``w`` is bound
    once via the let-idiom so projection collapse can't duplicate the
    split."""
    from pgsink_spark.operators.dedup import widen  # noqa: PLC0415

    docs = load_table(spark, sf_dir, "documents")
    idx = ", ".join(f"w[i+{j}]" for j in range(5))
    fp_expr = (
        "transform(array(split(lower(text), ' ')),"
        " w -> array_min(transform(sequence(0, size(w)-5),"
        f" i -> md5(concat_ws(' ', {idx})))))[0]"
    )
    return (
        widen(docs)
        .where(F.size(F.split(F.lower(F.col("text")), " ")) >= 5)
        .select("doc_id", F.expr(fp_expr).alias("fp"))
        .orderBy("doc_id")
    )


# quality_model_score's frozen linear model: (intercept, w_nwords,
# w_stopratio, w_meanwordlen). A real pipeline loads trained weights;
# freezing them keeps the op deterministic and oracle-checkable while
# the execution shape (broadcast weights + Arrow-batched NumPy
# inference) is exactly the production one.
MODEL_W = (-1.0, 0.02, -3.0, 0.4)


@query(
    "quality_model_score",
    f"""
        WITH feat AS (
          SELECT doc_id,
                 CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS nw,
                 CAST({_duck_count('the')} AS DOUBLE) AS ns,
                 len(lower(text)) AS nc
          FROM documents
        ),
        z AS (
          SELECT doc_id,
                 {MODEL_W[0]} + {MODEL_W[1]} * nw
                   + {MODEL_W[2]} * (ns / nw)
                   + {MODEL_W[3]} * ((nc - (nw - 1)) / nw) AS z
          FROM feat
        )
        SELECT doc_id, CAST(z / (1.0 + abs(z)) AS DOUBLE) AS model_score
        FROM z ORDER BY doc_id
    """,
)
def quality_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: batch inference over the corpus.

    The training-pipeline pattern this pins down: feature engineering
    stays JVM-side (exact integer/fraction arithmetic, column-pruned
    scan), and the model forward pass is a vectorized ``pandas_udf`` —
    weights ship with the closure (broadcast once per executor), NumPy
    evaluates one Arrow batch at a time, no per-row Python. Squashing
    is softsign ``z/(1+|z|)`` rather than a sigmoid: same monotone
    S-shape, but pure rational arithmetic, so Spark and the DuckDB
    oracle agree bit-for-bit (libm ``exp()`` can differ in the last
    ulp across engines).

    At 100 TB: a pure map — zero shuffle, scales with executors; swap
    the closure for a real model (ONNX/sklearn) without changing the
    plan shape.
    """
    from pgsink_spark.functions.udfs import make_linear_scorer  # noqa: PLC0415

    forward = make_linear_scorer(MODEL_W)
    docs = load_table(spark, sf_dir, "documents")
    text = F.lower(F.col("text"))
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    n_words = F.size(F.split(text, " ")).cast("bigint")
    n_stop = _substr_count(padded, " the ")
    ratio = (n_stop / n_words).cast("double")
    mwl = ((F.length(text) - (n_words - 1)) / n_words).cast("double")
    return docs.select(
        "doc_id",
        forward(n_words.cast("double"), ratio, mwl).alias("model_score"),
    ).orderBy("doc_id")


@query(
    "quality_gopher_rules",
    """
    WITH t AS (
      SELECT doc_id,
             string_split(lower(text), ' ') AS ws,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
             CAST(length(lower(text)) AS BIGINT) AS n_chars
      FROM documents
    ),
    f AS (
      SELECT doc_id, n_words,
             (n_chars - (n_words - 1)) * 1.0 / n_words AS mean_wlen,
             CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
                  AS BIGINT) AS n_alpha,
             CAST(len(list_intersect(ws, ['the','be','to','of','and',
                  'that','have','with'])) AS BIGINT) AS n_stop_kinds
      FROM t
    )
    SELECT doc_id,
           (n_words BETWEEN 50 AND 100000) AS ok_words,
           (mean_wlen BETWEEN 3 AND 10) AS ok_wlen,
           (n_alpha * 1.0 / n_words >= 0.8) AS ok_alpha,
           (n_stop_kinds >= 2) AS ok_stop,
           ((n_words BETWEEN 50 AND 100000)
            AND (mean_wlen BETWEEN 3 AND 10)
            AND (n_alpha * 1.0 / n_words >= 0.8)
            AND (n_stop_kinds >= 2)) AS keep
    FROM f ORDER BY doc_id
    """,
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021 §A1.1,
    public): word-count bounds, mean-word-length bounds, alphabetic
    word fraction, and stopword-diversity — each surfaced as its own
    flag plus the conjunction, so downstream mixes can relax individual
    rules. All row-local column expressions (codegen; the mean word
    length is pure arithmetic on lengths — no second tokenize), zero
    shuffles before the output sort; at 100 TB this is a map-only scan,
    the cheapest possible corpus gate.
    """
    docs = load_table(spark, sf_dir, "documents")
    text = F.lower(F.col("text"))
    stop = F.array(*[F.lit(s) for s in
                     ("the", "be", "to", "of", "and", "that", "have", "with")])
    base = docs.select(
        "doc_id",
        F.split(text, " ").alias("ws"),
        F.size(F.split(text, " ")).cast("bigint").alias("n_words"),
        F.length(text).cast("bigint").alias("n_chars"),
    ).select(
        "doc_id",
        "n_words",
        ((F.col("n_chars") - (F.col("n_words") - 1)) * 1.0 / F.col("n_words")
         ).alias("mean_wlen"),
        F.size(F.expr("filter(ws, w -> w rlike '[a-z]')"))
        .cast("bigint")
        .alias("n_alpha"),
        F.size(F.array_intersect(F.col("ws"), stop))
        .cast("bigint")
        .alias("n_stop_kinds"),
    )
    ok_words = F.col("n_words").between(50, 100000)
    ok_wlen = F.col("mean_wlen").between(3, 10)
    ok_alpha = F.col("n_alpha") * 1.0 / F.col("n_words") >= 0.8
    ok_stop = F.col("n_stop_kinds") >= 2
    return base.select(
        "doc_id",
        ok_words.alias("ok_words"),
        ok_wlen.alias("ok_wlen"),
        ok_alpha.alias("ok_alpha"),
        ok_stop.alias("ok_stop"),
        (ok_words & ok_wlen & ok_alpha & ok_stop).alias("keep"),
    ).orderBy("doc_id")


@query(
    "text_token_entropy",
    """
    WITH tok AS (
      SELECT doc_id, t AS term FROM documents,
             unnest(string_split(lower(text), ' ')) AS u(t)
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS c FROM tok GROUP BY doc_id, term
    ),
    n AS (SELECT doc_id, SUM(c) AS n FROM tf GROUP BY doc_id)
    SELECT tf.doc_id,
           CAST(n.n AS BIGINT) AS n_tokens,
           CAST(ROUND(log2(n.n) - SUM(c * log2(c)) / n.n, 4) AS DOUBLE)
             AS entropy
    FROM tf JOIN n ON tf.doc_id = n.doc_id
    GROUP BY tf.doc_id, n.n
    ORDER BY tf.doc_id
    """,
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution Shannon entropy — the
    information-density quality signal (near-zero entropy = the
    repeated-token degenerate docs Gopher's repetition rules hunt;
    the continuous form ranks what the rules only flag).

    Entropy in the factored form H = log2(n) − Σc·log2(c)/n so each
    term's contribution depends only on its own integer count — one
    (doc, term) count shuffle and one doc-keyed fold, the same
    postings discipline as the dedup family. Values round to 4dp so
    float summation order cannot flip the hash.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        tf.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.col("c") * F.log2("c")).alias("clogc"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.log2("n_tokens") - F.col("clogc") / F.col("n_tokens"), 4
            )
            .cast("double")
            .alias("entropy"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_pmi_pairs",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    prs AS (
      SELECT p.pr[1] AS w1, p.pr[2] AS w2
      FROM toks,
      UNNEST(list_concat(
        list_zip(list_slice(ts, 1, len(ts) - 1),
                 list_slice(ts, 2, len(ts))),
        list_zip(list_slice(ts, 1, len(ts) - 2),
                 list_slice(ts, 3, len(ts)))
      )) AS p(pr)
      WHERE p.pr[1] IS NOT NULL AND p.pr[2] IS NOT NULL
    ),
    pc AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
      FROM prs GROUP BY w1, w2
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM prs),
    wc1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM prs GROUP BY w1),
    wc2 AS (SELECT w2, CAST(count(*) AS BIGINT) AS c2 FROM prs GROUP BY w2),
    pmi AS (
      SELECT pc.w1, pc.w2, pc.c12,
             ROUND(LN((pc.c12 * tot.t) / CAST(wc1.c1 * wc2.c2 AS DOUBLE)), 6)
               AS pmi
      FROM pc
      JOIN wc1 USING (w1) JOIN wc2 USING (w2)
      CROSS JOIN tot
      WHERE pc.c12 >= 5
    )
    SELECT w1, w2, c12, pmi FROM pmi
    ORDER BY pmi DESC, w1, w2 LIMIT 20
    """,
)
def text_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top skip-gram collocations by pointwise mutual information:
    ordered word pairs within a 2-token forward window, PMI =
    ln(C(w1,w2)·T / (C(w1)·C(w2))), minimum pair count 5, top 20 —
    the standard collocation detector a corpus-analysis pass runs to
    find multiword expressions worth protecting from tokenization.

    One corpus scan: pair extraction is row-local (two zip_with over
    slice-shifted token arrays — no positional self-join, the same
    shape text_kn_bigram pins), folding straight into a (w1, w2)-keyed
    partial agg. Everything downstream is vocabulary-sized: the
    marginal counts and the pair total derive from the pair-count
    table itself (ΣC(w1,·), ΣC(·,w2), ΣC — identical to counting from
    the raw pairs, which is what the oracle does), joined back
    broadcast. The final cut is TakeOrderedAndProject, never a global
    sort. The only corpus-sized shuffle is the single pair-count
    aggregation, O(distinct pairs) ≤ vocab² per partition after the
    map-side combine.

    PMI's ln runs on an exactly-representable rational (integer
    products < 2^53, one double divide) rounded to 6 dp on both
    engines, so the float survives the driver's value hash.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split(F.col("text"), " ").alias("ts"))
    pair_expr = """
      concat(
        zip_with(slice(ts, 1, greatest(size(ts) - 1, 0)),
                 slice(ts, 2, greatest(size(ts) - 1, 0)),
                 (a, b) -> struct(a AS w1, b AS w2)),
        zip_with(slice(ts, 1, greatest(size(ts) - 2, 0)),
                 slice(ts, 3, greatest(size(ts) - 2, 0)),
                 (a, b) -> struct(a AS w1, b AS w2))
      )
    """
    prs = toks.select(F.explode(F.expr(pair_expr)).alias("p")).select(
        "p.w1", "p.w2"
    )
    # single corpus-sized shuffle; all marginals derive from this
    pc = (
        prs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
        .persist()
    )
    wc1 = pc.groupBy("w1").agg(F.sum("c12").alias("c1"))
    wc2 = pc.groupBy("w2").agg(F.sum("c12").alias("c2"))
    tot = pc.agg(F.sum("c12").alias("t"))
    pre = (
        pc.where(F.col("c12") >= 5)
        .join(F.broadcast(wc1), "w1")
        .join(F.broadcast(wc2), "w2")
        .join(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c12",
            F.round(
                F.log(
                    (F.col("c12") * F.col("t"))
                    / (F.col("c1") * F.col("c2")).cast("double")
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(20)
    )
    out = pre.localCheckpoint(eager=True)
    pc.unpersist()
    out._plan_audit_df = pre
    return out


@query(
    "text_bpe_pairs",
    """
    WITH words AS (
      SELECT u.w AS w
      FROM documents, UNNEST(string_split(lower(text), ' ')) AS u(w)
      WHERE len(u.w) >= 2
    ),
    wc AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM words GROUP BY 1),
    pairs AS (
      SELECT substr(w, CAST(r.i AS INT), 2) AS pair, n
      FROM wc, UNNEST(range(1, len(w))) AS r(i)
    )
    SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt FROM pairs
    GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 20
    """,
)
def text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE merge iteration over the corpus: the 20 most
    frequent adjacent character pairs across all word occurrences —
    the statistic a byte-pair-encoding tokenizer trainer computes
    (then merges the winner and repeats). One iteration is the
    registry query; the loop is this same plan re-run on the merged
    symbol table.

    Scale shape is the important part and mirrors how production BPE
    trainers (e.g. Hugging Face tokenizers) actually work: pair counts
    are computed over the DISTINCT-WORD table weighted by word
    frequency, not over raw text. The corpus pays exactly one
    word-count shuffle (map-side combined); everything after is
    vocabulary-sized — pair explosion is row-local ``transform`` over
    2-char substrings (JVM codegen, no Python), and the pair agg
    shuffles O(vocab · word_len) rows regardless of corpus size. At
    100 TB the vocab table is millions of rows where the corpus is
    trillions of tokens, so iterating 50k merges touches the corpus
    zero additional times. Top-20 is TakeOrderedAndProject.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
    ).where(F.length("w") >= 2)
    wc = words.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("n"))
    pairs = wc.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1),"
                   " i -> substring(w, i, 2))")
        ).alias("pair"),
        "n",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n").alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(20)
    )


SUBWORD_TOP_WORDS = 10
SUBWORD_TOP_PAIRS = 20


@query(
    "text_subword_encode",
    f"""
    WITH RECURSIVE
    occ AS (
      SELECT doc_id, u.w AS w
      FROM documents, UNNEST(string_split(lower(text), ' ')) AS u(w)
      WHERE len(u.w) >= 1
    ),
    wc AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM occ GROUP BY w),
    chars AS (
      SELECT DISTINCT substr(w, CAST(i.i AS INT), 1) AS v
      FROM wc, UNNEST(range(1, len(w) + 1)) AS i(i)
    ),
    prs AS (
      SELECT substr(w, CAST(i.i AS INT), 2) AS pair, n
      FROM wc, UNNEST(range(1, len(w))) AS i(i) WHERE len(w) >= 2
    ),
    top_pairs AS (
      SELECT pair AS v FROM (
        SELECT pair, SUM(n) AS cnt FROM prs GROUP BY pair
        ORDER BY cnt DESC, pair LIMIT {SUBWORD_TOP_PAIRS})
    ),
    top_words AS (
      SELECT w AS v FROM wc ORDER BY n DESC, w LIMIT {SUBWORD_TOP_WORDS}
    ),
    vocab AS (
      SELECT DISTINCT v FROM (
        SELECT v FROM chars UNION ALL
        SELECT v FROM top_pairs UNION ALL
        SELECT v FROM top_words)
    ),
    words AS (SELECT w FROM wc),
    step AS (
      SELECT w, 1 AS pos, 0 AS n_tok FROM words
      UNION ALL
      SELECT s.w, s.pos + len(m.v), s.n_tok + 1
      FROM step s, LATERAL (
        SELECT v FROM vocab
        WHERE v = substr(s.w, s.pos, len(v))
        ORDER BY len(v) DESC LIMIT 1
      ) m
      WHERE s.pos <= len(s.w)
    ),
    seg AS (
      SELECT w, CAST(max(n_tok) AS BIGINT) AS n_tok FROM step GROUP BY w
    )
    SELECT occ.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(SUM(seg.n_tok) AS BIGINT) AS n_tokens
    FROM occ JOIN seg USING (w)
    GROUP BY occ.doc_id ORDER BY occ.doc_id
    """,
)
def text_subword_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword tokenizer APPLICATION: greedy longest-prefix-match
    segmentation of every word against a merge vocabulary built from
    the corpus itself — all single characters (the open-vocabulary
    floor), the top-20 BPE merge pairs (text_bpe_pairs' statistic,
    here actually consumed), and the top-10 whole words. Emits per-doc
    word and subword-token counts — the tokenize step every training
    pipeline runs between curation and packing.

    Scale shape mirrors production tokenizers twice over: (1) the
    vocabulary is CONTROL-PLANE sized by construction (chars + fixed
    top-k cuts) and ships to executors as a broadcast closure, and
    (2) segmentation runs once per DISTINCT word — vocabulary-sized
    work — with the corpus paying only a word-keyed join + per-doc
    fold (the same distinct-word trick as text_bpe_pairs; the corpus
    is never re-scanned per merge). The greedy loop itself is an
    Arrow-batched pandas UDF — the designated escape hatch for
    genuinely iterative per-value logic — and is deterministic: at
    any position, each candidate length matches at most one string,
    so longest-first needs no tie-break. The oracle replays the exact
    greedy recursion as a recursive CTE with a LATERAL longest-prefix
    probe.
    """
    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"),
    ).where(F.length("w") >= 1)
    wc = occ.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("n"))

    chars = wc.select(
        F.explode(
            F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        ).alias("v")
    ).distinct()
    pairs = (
        wc.where(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1),"
                    " i -> substring(w, i, 2))"
                )
            ).alias("pair"),
            "n",
        )
        .groupBy("pair")
        .agg(F.sum("n").alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(SUBWORD_TOP_PAIRS)
        .select(F.col("pair").alias("v"))
    )
    top_words = (
        wc.orderBy(F.desc("n"), "w")
        .limit(SUBWORD_TOP_WORDS)
        .select(F.col("w").alias("v"))
    )
    vocab = {
        r["v"]
        for r in chars.unionAll(pairs).unionAll(top_words).distinct().collect()
    }
    max_len = max(len(v) for v in vocab)

    from pgsink_spark.functions.udfs import make_subword_encoder  # noqa: PLC0415

    seg_len = make_subword_encoder(vocab, max_len)
    seg = wc.select("w", seg_len(F.col("w")).alias("n_tok"))
    return (
        occ.join(seg, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_tok").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


CHI2_MIN_COUNT = 20


@query(
    "text_keyword_chi2",
    f"""
    WITH occ AS (
      SELECT source, u.w AS w
      FROM documents, UNNEST(string_split(lower(text), ' ')) AS u(w)
      WHERE len(u.w) >= 2
    ),
    sw AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS a
      FROM occ GROUP BY source, w
    ),
    stot AS (SELECT source, SUM(a) AS s FROM sw GROUP BY source),
    wtot AS (SELECT w, SUM(a) AS c FROM sw GROUP BY w),
    tot AS (SELECT SUM(a) AS n FROM sw),
    cells AS (
      SELECT sw.source, sw.w, sw.a,
             stot.s - sw.a AS b,
             wtot.c - sw.a AS cc,
             tot.n - stot.s - wtot.c + sw.a AS d,
             stot.s, wtot.c, tot.n
      FROM sw JOIN stot USING (source) JOIN wtot USING (w) CROSS JOIN tot
    ),
    chi AS (
      SELECT source, w, a,
             CAST(ROUND(CAST(
               CAST(n AS DOUBLE) * CAST(a * d - b * cc AS DOUBLE)
                 * CAST(a * d - b * cc AS DOUBLE)
                 / (CAST(a + b AS DOUBLE) * CAST(cc + d AS DOUBLE)
                    * CAST(a + cc AS DOUBLE) * CAST(b + d AS DOUBLE))
               AS DECIMAL(24,8)), 4) AS DOUBLE) AS chi2
      FROM cells
      WHERE a >= {CHI2_MIN_COUNT} AND a * 1.0 / s > c * 1.0 / n
    ),
    ranked AS (
      SELECT source, w, a AS cnt, chi2,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY chi2 DESC, w) AS rnk
      FROM chi
    )
    SELECT source, w, cnt, chi2 FROM ranked
    WHERE rnk <= 3 ORDER BY source, chi2 DESC, w
    """,
)
def text_keyword_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive vocabulary per source domain: the top-3
    OVER-represented words by 2×2 chi-squared (word-in-source vs
    word-elsewhere), the statistic corpus-analysis passes use to
    characterize domains before mixing (and to catch boilerplate that
    identifies a single crawl).

    All four contingency cells are integers derived from ONE
    (source, word)-keyed count table — the corpus is scanned once; the
    marginals are re-aggregations of that table (domains-sized and
    vocab-sized), joined back broadcast. The chi-squared value is a
    single rational expression on int64 cells rounded through a
    decimal image, so both engines hash identically. Per-source top-3
    is a window over the domains×vocab table, never the corpus. The
    over-representation filter (a/s > c/n, cross-multiplied exactly in
    integers on the Spark side) keeps the one-sided "characteristic of
    this domain" reading.
    """
    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"),
    ).where(F.length("w") >= 2)
    sw = occ.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("a")
    )
    stot = sw.groupBy("source").agg(F.sum("a").alias("s"))
    wtot = sw.groupBy("w").agg(F.sum("a").alias("c"))
    tot = sw.agg(F.sum("a").alias("n"))
    cells = (
        sw.join(F.broadcast(stot), "source")
        .join(wtot, "w")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "w",
            "a",
            (F.col("s") - F.col("a")).alias("b"),
            (F.col("c") - F.col("a")).alias("cc"),
            (F.col("n") - F.col("s") - F.col("c") + F.col("a")).alias("d"),
            "s",
            "c",
            "n",
        )
    )
    chi = (
        cells.where(
            (F.col("a") >= CHI2_MIN_COUNT)
            & (F.col("a") * F.col("n") > F.col("c") * F.col("s"))
        )
        .select(
            "source",
            "w",
            F.col("a").alias("cnt"),
            F.round(
                (
                    F.col("n").cast("double")
                    * (F.col("a") * F.col("d") - F.col("b") * F.col("cc"))
                      .cast("double")
                    * (F.col("a") * F.col("d") - F.col("b") * F.col("cc"))
                      .cast("double")
                    / (
                        (F.col("a") + F.col("b")).cast("double")
                        * (F.col("cc") + F.col("d")).cast("double")
                        * (F.col("a") + F.col("cc")).cast("double")
                        * (F.col("b") + F.col("d")).cast("double")
                    )
                ).cast("decimal(24,8)"),
                4,
            )
            .cast("double")
            .alias("chi2"),
        )
    )
    w = W.partitionBy("source").orderBy(F.col("chi2").desc(), "w")
    return (
        chi.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("source", "w", "cnt", "chi2")
        .orderBy("source", F.col("chi2").desc(), "w")
    )


_ZIPF_SQL = """
    WITH tf AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
            FROM documents)
      WHERE w <> ''
      GROUP BY w ORDER BY freq DESC, w LIMIT 500
    ), ranked AS (
      SELECT freq, row_number() OVER (ORDER BY freq DESC, w) AS rnk
      FROM tf
    )
    SELECT CAST(count(*) AS BIGINT) AS n_terms,
           CAST(ROUND(CAST(regr_slope(ln(CAST(freq AS DOUBLE)),
                                      ln(CAST(rnk AS DOUBLE)))
                AS DECIMAL(18,6)), 4) AS DOUBLE) AS zipf_slope,
           CAST(ROUND(CAST(regr_r2(ln(CAST(freq AS DOUBLE)),
                                   ln(CAST(rnk AS DOUBLE)))
                AS DECIMAL(18,6)), 4) AS DOUBLE) AS r2
    FROM ranked
"""


@query("text_zipf_audit", _ZIPF_SQL)
def text_zipf_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law audit of the corpus vocabulary: OLS slope of
    log-frequency against log-rank over the top-500 terms (natural text
    sits near -1; synthetic, templated, or spam-heavy corpora drift
    flat — a standard corpus-health check before training).

    Scale shape: term frequencies are one token-keyed agg with map-side
    partial counts; the top-500 cut is orderBy+limit (executed as
    TakeOrderedAndProject — per-partition heaps, never a global sort of
    the vocabulary); the rank window and the regression then run over
    exactly 500 rows, control-plane sized. The slope is rounded through
    a decimal so 500-term float sum order can't move the hash.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .orderBy(F.col("freq").desc(), "w")
        .limit(500)
    )
    # The frame is the 500-row top-k cut — control-plane sized by
    # construction — so rank is computed as a counting self-join
    # (≤500² comparison rows, trivially parallel) instead of a
    # single-partition window: same ranks, no global-window stage at
    # all (Catalyst constant-folds any literal partition key, so a
    # window here cannot avoid the one-partition plan).
    tfc = tf.localCheckpoint(eager=True)
    a = tfc.select(F.col("freq").alias("fa"), F.col("w").alias("wa"))
    b = tfc.select(F.col("freq").alias("fb"), F.col("w").alias("wb"))
    ranked = (
        a.join(
            b,
            (F.col("fb") > F.col("fa"))
            | ((F.col("fb") == F.col("fa")) & (F.col("wb") < F.col("wa"))),
            "left",
        )
        .groupBy("fa", "wa")
        .agg((F.count("wb") + 1).alias("rnk"))
        .select(F.col("fa").alias("freq"), "rnk")
    )
    lf = F.log(F.col("freq").cast("double"))
    lr = F.log(F.col("rnk").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.round(F.regr_slope(lf, lr).cast("decimal(18,6)"), 4)
        .cast("double")
        .alias("zipf_slope"),
        F.round(F.regr_r2(lf, lr).cast("decimal(18,6)"), 4)
        .cast("double")
        .alias("r2"),
    )


BPE_LEARN_ROUNDS = 3


def _bpe_stage_sql(k: int) -> str:
    """One BPE learning round as chained CTEs: pair census over the
    current symbolization, argmax merge (ties lexicographic), fold the
    merge back through every word."""
    return f"""
, p{k} AS (
  SELECT r.rep[i.i] || ' ' || r.rep[i.i+1] AS pair, sum(r.freq) AS cnt
  FROM r{k} r, LATERAL (SELECT unnest(range(1, len(r.rep))) AS i) i
  GROUP BY 1
), t{k} AS (
  SELECT string_split(pair, ' ')[1] AS x, string_split(pair, ' ')[2] AS y,
         CAST(cnt AS BIGINT) AS cnt
  FROM p{k} ORDER BY cnt DESC, pair LIMIT 1
), r{k + 1} AS (
  SELECT r.word, r.freq,
         string_split(substr(list_reduce(list_prepend('^', r.rep),
           (acc, s) -> CASE WHEN ends_with(acc, ' ' || t.x) AND s = t.y
                            THEN substr(acc, 1, len(acc) - len(t.x) - 1)
                                 || ' ' || t.x || t.y
                            ELSE acc || ' ' || s END), 3), ' ') AS rep
  FROM r{k} r CROSS JOIN t{k} t
)"""


_BPE_LEARN_SQL = (
    """
    WITH w AS (
      SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
            FROM documents)
      WHERE w <> '' GROUP BY w
    ), r0 AS (
      SELECT word, freq, string_split(word, '') AS rep FROM w
    )
    """
    + "".join(_bpe_stage_sql(k) for k in range(BPE_LEARN_ROUNDS))
    + """
    SELECT 0 AS rank, x AS left_sym, y AS right_sym, cnt FROM t0
    UNION ALL SELECT 1, x, y, cnt FROM t1
    UNION ALL SELECT 2, x, y, cnt FROM t2
    ORDER BY rank
    """
)


@query("text_bpe_learn", _BPE_LEARN_SQL)
def text_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE VOCABULARY LEARNING — the iterative half the merge-pair
    census (text_bpe_pairs) feeds: K rounds of (count adjacent symbol
    pairs over the frequency-weighted vocabulary → take the argmax
    merge, ties lexicographic → re-symbolize every word through the
    merge). Textbook left-to-right greedy merging, implemented as a
    row-local ``aggregate`` fold — "lll" under merge (l,l) becomes
    [ll, l], never [l, ll] — with IDENTICAL fold semantics in the
    oracle's list_reduce lambda.

    Scale shape per round: one vocabulary-keyed pair agg (map-side
    partial; the shuffle carries distinct pairs, not the corpus), one
    1-ROW driver collect (the argmax merge — the only driver traffic,
    K rows total), and one row-local re-fold. The corpus is read once
    up front for word frequencies; the K iterations run over the
    DISTINCT-WORD table, which is vocabulary-sized. This is the
    standard driver-coordinated iterative shape (same as the PageRank
    and k-means operators): bounded rounds, bounded driver state.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    rep = words.select(
        F.col("w").alias("word"), "freq", F.split("w", "").alias("rep")
    ).persist()

    merges = []
    current = rep
    for k in range(BPE_LEARN_ROUNDS):
        pairs = (
            current.where(F.size("rep") >= 2)  # sequence(1,0) DESCENDS
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(rep) - 1),"
                        " i -> concat(element_at(rep, i), ' ',"
                        " element_at(rep, i + 1)))"
                    )
                ).alias("pair"),
            )
            .groupBy("pair")
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
        )
        top = pairs.orderBy(F.col("cnt").desc(), "pair").limit(1).collect()[0]
        x, y = top["pair"].split(" ", 1)
        merges.append((k, x, y, top["cnt"]))
        xe, ye = x.replace("'", "\\'"), y.replace("'", "\\'")
        current = current.select(
            "word",
            "freq",
            F.expr(
                "split(substring(aggregate(rep, '^', (acc, s) ->"
                f" CASE WHEN endswith(acc, ' {xe}') AND s = '{ye}'"
                f" THEN substring(acc, 1, length(acc) - {len(x) + 1})"
                f" || ' ' || '{xe}{ye}'"
                " ELSE acc || ' ' || s END), 3), ' ')"
            ).alias("rep"),
        ).localCheckpoint(eager=False)
    rep.unpersist()

    return spark.createDataFrame(
        merges, "rank int, left_sym string, right_sym string, cnt bigint"
    )


@query(
    "text_hapax_ratio",
    """
    WITH w AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS word
      FROM documents
    ),
    wc AS (
      SELECT source, word, CAST(count(*) AS BIGINT) AS c
      FROM w GROUP BY source, word
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           CAST(1000000 * count(*) // SUM(c) AS BIGINT) AS ttr_ppm,
           CAST(1000000 * SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                // count(*) AS BIGINT) AS hapax_ppm
    FROM wc GROUP BY source ORDER BY source
    """,
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical-richness census: token count, type count
    (distinct words), hapax-legomenon count (words occurring exactly
    once in the source), type-token ratio and hapax share in integer
    ppm — the Heaps'-law health read of a corpus slice. A source
    whose TTR collapses is boilerplate/dupe-heavy; one whose hapax
    share explodes is OCR noise or ID spam. Complements
    text_zipf_audit (global rank-frequency) with the per-source
    vocabulary-growth axis the mixture planner actually keys on.

    Plan: one explode → (source, word)-keyed partial agg (map-side
    combine absorbs the token stream) → source-keyed fold. All keys
    are data-bounded; no windows, no broadcasts, no driver state.
    At 100 TB the (source, word) census IS the shuffle — same shape
    as text_ngram_topk, the already-probed scale path.
    """
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(
            "source",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("word"),
        )
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return (
        wc.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum((F.col("c") == 1).cast("long")).alias("n_hapax"),
        )
        .select(
            "source",
            "n_tokens",
            "n_types",
            "n_hapax",
            F.expr("1000000 * n_types div n_tokens")
            .cast("long")
            .alias("ttr_ppm"),
            F.expr("1000000 * n_hapax div n_types")
            .cast("long")
            .alias("hapax_ppm"),
        )
        .orderBy("source")
    )


# The stopword panel: one marker per fixture language (the same
# markers the language-ID heuristic keys on) — the per-source rates
# form a language-mix fingerprint.
_STOPWORD_PANEL = ("the", "le", "der", "el", "de")


@query(
    "text_stopword_profile",
    f"""
    WITH w AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS word
      FROM documents
    ),
    tot AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_tokens
      FROM w GROUP BY source
    ),
    hits AS (
      SELECT source, word AS stopword, CAST(count(*) AS BIGINT) AS n
      FROM w
      WHERE word IN {_STOPWORD_PANEL!r}
      GROUP BY source, word
    )
    SELECT h.source, h.stopword, h.n,
           CAST(1000000 * h.n // t.n_tokens AS BIGINT) AS ppm
    FROM hits h JOIN tot t ON t.source = h.source
    ORDER BY h.source, h.stopword
    """,
)
def text_stopword_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source stopword fingerprint: for each (source, marker) pair
    with the marker drawn from one stopword per fixture language, the
    absolute token count and its rate in ppm of the source's tokens.
    Sources are language mixtures; this profile is the cheap row-local
    signal a mixture planner reads to spot a source whose language
    composition drifted between crawls (the same markers the lang-ID
    heuristic uses, but aggregated by SOURCE rather than predicted
    per document).

    Plan: one explode feeding two source-keyed partial aggs (total
    tokens; panel hits filtered BEFORE the shuffle, so the hit agg
    moves only stopword tokens), then a 20-row × 5-row join. The
    panel is a compile-time constant — no broadcast of data-shaped
    frames anywhere.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("word"),
    )
    tot = w.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens")
    )
    hits = (
        w.where(F.col("word").isin(*_STOPWORD_PANEL))
        .groupBy("source", F.col("word").alias("stopword"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return (
        hits.join(tot, "source")
        .select(
            "source",
            "stopword",
            "n",
            F.expr("1000000 * n div n_tokens").cast("long").alias("ppm"),
        )
        .orderBy("source", "stopword")
    )


OOV_VOCAB_K = 1000


@query(
    "text_oov_rate",
    f"""
    WITH w AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS word
      FROM documents
    ),
    vocab AS (
      SELECT word FROM (
        SELECT word, CAST(count(*) AS BIGINT) AS c,
               ROW_NUMBER() OVER (ORDER BY count(*) DESC, word) AS rnk
        FROM w GROUP BY word) t
      WHERE rnk <= {OOV_VOCAB_K}
    )
    SELECT w.source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_oov,
           CAST(1000000 * SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END)
                // count(*) AS BIGINT) AS oov_ppm
    FROM w LEFT JOIN vocab v ON v.word = w.word
    GROUP BY w.source ORDER BY w.source
    """,
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per source against the corpus's own
    top-{OOV_VOCAB_K} word vocabulary — the tokenizer-fit read: a
    source whose OOV share spikes against the trained vocabulary is
    the source that will fragment into long byte-level token
    sequences (cost) or noise (quality), and the one to re-weight
    before a vocab refresh. Deterministic: the vocabulary cut is
    rank-ordered with a word tiebreak.

    Plan: one (word) census (map-side combined), top-K cut as
    orderBy+limit — executed as TakeOrderedAndProject (per-partition
    heaps over the vocabulary census, identical rows to the rank
    form's ``rnk <= K`` under the same (c DESC, word) order, and no
    single-partition rank window over a vocabulary-growing frame —
    r7 verdict item 3) — then a word-keyed LEFT join of tokens
    against the K-row vocab (broadcast-sized by construction) and a
    source-keyed fold.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("word"),
    )
    census = w.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    vocab = (
        census.orderBy(F.col("c").desc(), "word")
        .limit(OOV_VOCAB_K)
        .select("word")
        .withColumn("in_vocab", F.lit(1))
    )
    return (
        w.join(F.broadcast(vocab), "word", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.col("in_vocab").isNull().cast("long"))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.expr("1000000 * n_oov div n_tokens")
            .cast("long")
            .alias("oov_ppm"),
        )
        .orderBy("source")
    )


FEATHASH_DIM = 64
FEATHASH_DOCS = 20


@query(
    "text_feature_hashing",
    f"""
    WITH w AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
      FROM documents WHERE doc_id < {FEATHASH_DOCS}
    )
    SELECT doc_id,
           CAST(CAST(concat('0x', substr(md5(word), 1, 8)) AS BIGINT)
                % {FEATHASH_DIM} AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS cnt
    FROM w
    GROUP BY doc_id, bucket
    ORDER BY doc_id, bucket
    """,
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HASHING TRICK vectorizer (Weinberger et al.): each token
    maps to one of {FEATHASH_DIM} buckets by a portable md5-prefix
    hash and the document's sparse feature vector is the per-bucket
    count — the fixed-width, vocabulary-free featurization that feeds
    linear quality models at corpus scale (no vocab broadcast, no OOV
    problem: new words land in existing buckets by construction,
    trading collisions for O(1) memory). Emitted in sparse COO form
    (doc, bucket, count) for a fixed probe set of documents so the
    driver hash pins the hash routing itself.

    Scale shape: completely row-local hashing + a (doc, bucket)-keyed
    partial agg; at full corpus the probe-set filter disappears and
    the output IS the training matrix, written partitioned however
    the trainer shards.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = docs.where(F.col("doc_id") < FEATHASH_DOCS).select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("word"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("word")), 1, 8), 16, 10).cast(
            "bigint"
        )
        % FEATHASH_DIM
    )
    return (
        w.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy("doc_id", "bucket")
    )
