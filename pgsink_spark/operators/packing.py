"""Sequence packing: assemble documents into fixed-token-budget
training sequences (the batch-construction step of an LLM data
pipeline, downstream of curation/dedup).

Two industry-standard shapes, both deterministic and oracle-checked:

- ``pack_sequences`` — boundary packing (concat-and-chunk): documents
  are laid out in a deterministic stream per bucket and the stream is
  cut every SEQ_LEN tokens; a document knows which sequence its first
  token lands in and at what offset. This is the GPT-style packing
  used when crossing document boundaries is acceptable, and it is pure
  window arithmetic — a cumulative sum, no sequential state.
- ``pack_sequences_greedy`` — next-fit bin packing: documents are
  folded in stream order into bins of capacity CAP; a document that
  would overflow the open bin closes it and starts the next. Used when
  documents must NOT span sequences (each bin is one training sequence
  padded to CAP). The fold is inherently sequential *within* a stream,
  so it runs as an Arrow-batched ``applyInPandas`` per bucket —
  buckets pack in parallel, the fold is a tight NumPy loop inside.

Scale notes (100 TB): both operators shuffle ONCE, keyed on the pack
bucket. Buckets are content-addressed (md5 of doc_id), so streams are
uniform — no skew — and the bucket count is the parallelism knob: at
100 TB you raise BUCKETS to O(corpus_tokens / executor_memory), each
bucket's stream packs independently, and the output is already
partitioned by bucket for the downstream shard writer. The greedy
fold is O(bucket rows) single-pass with O(1) state — the same shape as
the reference's buffered batcher (pkg/sinks/generic/buffered_inserter.go
fills fixed-size batches from an ordered stream).

The deterministic stream order inside a bucket is (md5(doc_id),
doc_id) — reproducible run-over-run, stable under repartitioning, and
identical across engines (same contract as operators/sampling.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pgsink_spark.operators.registry import query
from pgsink_spark.operators.sampling import _duckdb_bucket, hash_bucket
from pgsink_spark.sources.fixtures import load_table

SEQ_LEN = 512  # boundary-packing chunk length, tokens
CAP = 512  # greedy bin capacity, tokens
BUCKETS = 32  # parallel pack streams (the 100 TB knob)


def _with_stream(docs: DataFrame) -> DataFrame:
    """documents + (n_tokens, bucket, stream-order key).

    Whitespace token count (the text.py token contract), md5 bucket,
    md5 order key — all row-local projections; the only shuffle any
    packer needs is the one window/groupBy on ``bucket``.
    """
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
        hash_bucket(F.col("doc_id"), BUCKETS).alias("bucket"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )


_STREAM_SQL = f"""
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             {_duckdb_bucket("doc_id", BUCKETS)} AS bucket,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
"""


@query(
    "pack_sequences",
    f"""
    WITH s AS ({_STREAM_SQL}),
    c AS (
      SELECT doc_id, bucket, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY h, doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens
               AS cum_before
      FROM s)
    SELECT doc_id, bucket,
           CAST(cum_before // {SEQ_LEN} AS BIGINT) AS seq_id,
           CAST(cum_before % {SEQ_LEN} AS BIGINT) AS begin_off,
           CAST((cum_before + n_tokens - 1) // {SEQ_LEN}
                - cum_before // {SEQ_LEN} + 1 AS BIGINT) AS n_seqs
    FROM c ORDER BY doc_id
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary packing: chunk each bucket's token stream every SEQ_LEN
    tokens; per document emit the sequence id / offset of its first
    token and how many sequences it spans.

    Plan: one shuffle (the bucket window); the cumulative sum is a
    running frame inside each bucket partition, then everything else is
    row-local integer arithmetic. Contrast d10's global running window:
    this is the partitioned twin, so no single-task bottleneck at any
    scale.
    """
    s = _with_stream(load_table(spark, sf_dir, "documents"))
    w = (
        W.partitionBy("bucket")
        .orderBy("h", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = s.withColumn(
        "cum_before", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    seq = F.floor(F.col("cum_before") / SEQ_LEN)
    last_seq = F.floor((F.col("cum_before") + F.col("n_tokens") - 1) / SEQ_LEN)
    return c.select(
        "doc_id",
        "bucket",
        seq.alias("seq_id"),
        (F.col("cum_before") % SEQ_LEN).alias("begin_off"),
        (last_seq - seq + 1).alias("n_seqs"),
    ).orderBy("doc_id")


_GREEDY_OUT = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("bin", T.LongType()),
    ]
)


def _pack_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
    """Next-fit fold over one bucket's stream (runs inside an Arrow
    batch; the loop is O(rows) with two scalars of state)."""
    pdf = pdf.sort_values(["h", "doc_id"], kind="mergesort")
    bins = []
    cur, fill = 0, 0
    for n in pdf["n_tokens"]:
        if fill > 0 and fill + n > CAP:
            cur, fill = cur + 1, 0
        fill += n
        bins.append(cur)
    return pd.DataFrame(
        {"doc_id": pdf["doc_id"], "bucket": pdf["bucket"], "bin": bins}
    )


@query(
    "pack_sequences_greedy",
    f"""
    WITH RECURSIVE s AS (
      SELECT doc_id, bucket, n_tokens,
             ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY h, doc_id)
               AS rn
      FROM ({_STREAM_SQL})
    ),
    r AS (
      SELECT bucket, rn, doc_id, n_tokens,
             CAST(0 AS BIGINT) AS bin, n_tokens AS fill
      FROM s WHERE rn = 1
      UNION ALL
      SELECT s.bucket, s.rn, s.doc_id, s.n_tokens,
             CASE WHEN r.fill + s.n_tokens <= {CAP}
                  THEN r.bin ELSE r.bin + 1 END,
             CASE WHEN r.fill + s.n_tokens <= {CAP}
                  THEN r.fill + s.n_tokens ELSE s.n_tokens END
      FROM r JOIN s ON s.bucket = r.bucket AND s.rn = r.rn + 1
    )
    SELECT doc_id, bucket, bin FROM r ORDER BY doc_id
    """,
)
def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-fit bin packing: per bucket, fold documents in stream order
    into bins of capacity CAP; overflow closes the bin. Documents never
    span bins (a bin = one padded training sequence).

    This is the custom-stateful-operator pattern: the fold has genuine
    sequential state, so it cannot be a window expression — it runs as
    ``applyInPandas`` per bucket (Arrow-batched, NumPy-speed loop), and
    the DuckDB oracle replays the identical fold as a recursive CTE, so
    even the imperative path stays hash-checked. One shuffle on bucket;
    parallelism = BUCKETS.
    """
    s = _with_stream(load_table(spark, sf_dir, "documents"))
    return (
        s.groupBy("bucket")
        .applyInPandas(_pack_bucket, schema=_GREEDY_OUT)
        .orderBy("doc_id")
    )


CHUNK = 64  # max tokens per chunk
OVERLAP = 16  # tokens shared between consecutive chunks
STRIDE = CHUNK - OVERLAP


@query(
    "chunk_documents",
    f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents),
    c AS (
      SELECT doc_id, n,
             CASE WHEN n <= {CHUNK} THEN 1
                  ELSE (n - {CHUNK} + {STRIDE} - 1) // {STRIDE} + 1
             END AS n_chunks, ws
      FROM w)
    SELECT doc_id, i.i AS chunk_id,
           i.i * {STRIDE} AS begin_tok,
           array_to_string(
             ws[i.i * {STRIDE} + 1 : i.i * {STRIDE} + {CHUNK}], ' ')
             AS chunk_text
    FROM c, LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS i) i
    ORDER BY doc_id, chunk_id
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping max-token chunking (the context-window splitter for
    embedding/RAG indexing and long-document training): chunk i covers
    tokens [i*STRIDE, i*STRIDE + CHUNK), so consecutive chunks share
    OVERLAP tokens and the chunk set covers every token; short docs
    yield exactly one chunk.

    Plan: completely row-local — the word array binds once
    (let-idiom), chunk starts come from ``sequence()``, and one
    posexplode emits the chunk table; no shuffle anywhere (the final
    ORDER BY is presentation for the oracle hash). At 100 TB this is a
    map-only pass whose output lands pre-partitioned however the scan
    was.
    """
    docs = load_table(spark, sf_dir, "documents")
    chunks = F.expr(
        f"transform(array(split(text, ' ')), w -> transform("
        f" sequence(0, case when size(w) <= {CHUNK} then 0"
        f"   else cast(ceil((size(w) - {CHUNK}) / {STRIDE}.0) as int) end),"
        f" i -> struct(cast(i * {STRIDE} as bigint) as begin_tok,"
        f"   array_join(slice(w, i * {STRIDE} + 1, {CHUNK}), ' ')"
        f"     as chunk_text)))[0]"
    )
    return (
        docs.select(
            "doc_id", F.posexplode(chunks).alias("chunk_id", "chunk")
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.col("chunk.begin_tok").alias("begin_tok"),
            F.col("chunk.chunk_text").alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_id")
    )


def _kept_sql() -> str:
    """The curation pipeline's kept-set as a composable CTE body
    (identical math to pipeline_curation's oracle)."""
    from pgsink_spark.operators.curation import _DUCK_QUALITY, QUALITY_KEEP
    from pgsink_spark.operators.text import _duck_count

    return f"""
    feat AS (
      SELECT doc_id,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
             {_duck_count('the')} AS n_stop,
             len(lower(text)) AS n_chars,
             md5(lower(text)) AS fp
      FROM documents
    ),
    curated AS (
      SELECT doc_id, {_DUCK_QUALITY} AS quality, fp,
             MIN(doc_id) OVER (PARTITION BY fp) AS canonical_id
      FROM feat
    ),
    kept AS (
      SELECT doc_id FROM curated
      WHERE doc_id = canonical_id AND quality >= {QUALITY_KEEP}
    )"""


def _register_curate_pack():
    # composed at import time so the oracle string can embed the
    # curation CTE (query() wants a literal at decoration time)
    oracle = f"""
    WITH RECURSIVE {_kept_sql()},
    s AS (
      SELECT d.doc_id,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
             {_duckdb_bucket("d.doc_id", BUCKETS)} AS bucket,
             md5(CAST(d.doc_id AS VARCHAR)) AS h,
             ROW_NUMBER() OVER (
               PARTITION BY {_duckdb_bucket("d.doc_id", BUCKETS)}
               ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn
      FROM documents d JOIN kept USING (doc_id)
    ),
    r AS (
      SELECT bucket, rn, doc_id, n_tokens,
             CAST(0 AS BIGINT) AS bin, n_tokens AS fill
      FROM s WHERE rn = 1
      UNION ALL
      SELECT s.bucket, s.rn, s.doc_id, s.n_tokens,
             CASE WHEN r.fill + s.n_tokens <= {CAP}
                  THEN r.bin ELSE r.bin + 1 END,
             CASE WHEN r.fill + s.n_tokens <= {CAP}
                  THEN r.fill + s.n_tokens ELSE s.n_tokens END
      FROM r JOIN s ON s.bucket = r.bucket AND s.rn = r.rn + 1
    )
    SELECT doc_id, bucket, bin FROM r ORDER BY doc_id
    """

    @query("pipeline_curate_pack", oracle)
    def pipeline_curate_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The end-to-end training-data shape: curation (lang/quality/
        exact-dedup canonical election) feeding greedy sequence packing
        — only KEPT documents are packed, exactly the handoff a real
        pipeline makes between cleaning and batch construction.

        Plan: curation is one fingerprint shuffle; the kept set semi-
        joins the corpus (broadcast at this SF; hash join keyed on
        doc_id at scale); packing adds its single bucket shuffle. The
        recursive-CTE oracle replays the identical composition, so the
        imperative pack fold stays hash-checked through the whole
        pipeline, not just in isolation.
        """
        from pgsink_spark.operators.curation import pipeline_curation

        kept = (
            pipeline_curation(spark, sf_dir)
            .where(F.col("kept"))
            .select("doc_id")
        )
        docs = load_table(spark, sf_dir, "documents").join(
            kept, on="doc_id", how="left_semi"
        )
        s = _with_stream(docs)
        return (
            s.groupBy("bucket")
            .applyInPandas(_pack_bucket, schema=_GREEDY_OUT)
            .orderBy("doc_id")
        )

    return pipeline_curate_pack


pipeline_curate_pack = _register_curate_pack()


def _cdc_chunk_stream(batches):
    """mapInPandas kernel for chunk_cdc_rolling: per document, the
    w=8 / mod-64 content-defined cut positions by a vectorized
    sliding-window polynomial hash, then one md5 per chunk.

    H_i (1-based char position i ≥ 8) = Σ_{j=0}^{7} 31^j · c_{i-j}
    mod 65536, computed as windows · [31^7..31^0 mod 65536]; a cut
    falls after every position with H_i % 64 == 0. Identical to the
    previous JVM fold (which maintained H incrementally with the
    31^8 ≡ 28417 removal term) and to the DuckDB oracle's Σ-form.
    """
    import hashlib  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415
    from numpy.lib.stride_tricks import sliding_window_view  # noqa: PLC0415

    # coefficient for window slot j (chars i-7..i) is 31^(7-j) mod 2^16
    pow_mod = np.array(
        [11487, 15169, 55455, 6017, 29791, 961, 31, 1], dtype=np.int64
    )
    for pdf in batches:
        out_ids: list[int] = []
        out_hs: list[str] = []
        for doc_id, text in zip(
            pdf["doc_id"].tolist(), pdf["text"].tolist()
        ):
            n = len(text)
            codes = np.frombuffer(
                text.encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
            if n >= 8:
                h = (sliding_window_view(codes, 8) @ pow_mod) % 65536
                cuts = np.nonzero(h % 64 == 0)[0] + 8  # 1-based ends
            else:
                cuts = ()
            start = 1
            for i in cuts:
                out_ids.append(doc_id)
                out_hs.append(
                    hashlib.md5(
                        text[start - 1 : i].encode("utf-8")
                    ).hexdigest()
                )
                start = int(i) + 1
            if start <= n:
                out_ids.append(doc_id)
                out_hs.append(
                    hashlib.md5(
                        text[start - 1 :].encode("utf-8")
                    ).hexdigest()
                )
        yield pd.DataFrame({"doc_id": out_ids, "h": out_hs})


@query(
    "chunk_cdc_rolling",
    """
    WITH codes AS (
      SELECT doc_id, text, length(text) AS n,
             list_transform(range(1, length(text)+1),
                            i -> ascii(text[i])) AS c
      FROM documents WHERE length(text) >= 8
    ),
    hashes AS (
      SELECT doc_id, text, n,
             list_filter(
               list_transform(range(8, n+1),
                 i -> CASE WHEN list_sum(
                        list_transform(range(0, 8),
                          j -> CAST(c[i - j] AS BIGINT) * [1, 31, 961, 29791, 6017, 55455, 15169, 11487][j + 1])
                      ) % 65536 % 64 = 0 THEN i ELSE 0 END),
               x -> x > 0) AS bnds
      FROM codes
    ),
    spans AS (
      SELECT doc_id, text,
             list_prepend(1, list_transform(bnds, b -> b + 1)) AS starts,
             list_append(bnds, n) AS ends
      FROM hashes
    ),
    chunks AS (
      SELECT doc_id,
             md5(substring(text, starts[u.i],
                           ends[u.i] - starts[u.i] + 1)) AS h
      FROM spans, unnest(range(1, len(starts)+1)) AS u(i)
      WHERE ends[u.i] >= starts[u.i]
    ),
    dup AS (
      SELECT h FROM (
        SELECT h, count(DISTINCT doc_id) AS cd FROM chunks GROUP BY h
      ) WHERE cd > 1
    )
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup
    FROM chunks c LEFT JOIN dup d USING (h)
    GROUP BY c.doc_id ORDER BY c.doc_id
    """,
)
def chunk_cdc_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking + chunk-level dedup — the
    storage-dedup primitive (the LBFS / FastCDC family): cut each
    document where a w=8 polynomial rolling hash of the trailing
    window hits 0 mod 64 (expected chunk ~64 chars), then count per
    document how many of its chunks occur verbatim in another
    document. Content-defined cuts re-synchronize after an insertion,
    so shifted text still produces identical downstream chunks — the
    property fixed-size blocks lack and the reason dedup stores use
    CDC boundaries.

    Engine shape: the entire boundary computation is ROW-LOCAL and
    JVM-side — nested higher-order functions (transform / aggregate
    over the char-code array, exact integer arithmetic mod 2^16)
    inside whole-stage codegen; no UDF and no shuffle until the single
    chunk-hash-keyed aggregation that learns cross-document chunks.
    At 100 TB: one corpus scan, one hash-keyed exchange, O(len·w)
    arithmetic per row. md5 chunk ids are engine-portable, which is
    what lets DuckDB replay the identical cut + dedup arithmetic.
    """
    docs = load_table(spark, sf_dir, "documents").where(
        F.length("text") >= 8
    )
    # r10 optimization (guide §4.2 — batch native kernels beat
    # interpreted expression trees): the previous implementation ran
    # the rolling-hash recurrence as ONE giant interpreted
    # higher-order aggregate — per character it allocated a new
    # 8-element window array (concat/slice) and re-scanned the string
    # (substring(text, i, 1) is O(i) on UTF8String), ~2.5 s at sf0.1.
    # The boundary rule only depends on the hash of the trailing
    # 8-char window — H_i = Σ_{j=0..7} 31^j·c_{i-j} mod 2^16, the
    # closed form of the add/remove recurrence (31^8 ≡ 28417) — so
    # cuts are INDEPENDENT of chunk starts and the whole per-document
    # pass vectorizes: one sliding-window dot product mod 65536 in
    # NumPy (codepoints via utf-32-le, exactly both engines' ascii()),
    # then md5 per resulting chunk. Same cuts, same hashes — the
    # DuckDB oracle (list_transform Σ-form above) is literally this
    # formula. The repartition spreads rows across cores — the fixture
    # is one parquet file (at 100 TB the file count provides this
    # parallelism for free).
    chunks = (
        docs.repartition(32)
        .select("doc_id", "text")
        .mapInPandas(_cdc_chunk_stream, "doc_id long, h string")
    )
    # r10: "chunk seen in >1 distinct doc" == min(doc_id) != max —
    # a two-long partial agg instead of the distinct aggregation
    dup = (
        chunks.groupBy("h")
        .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
        .where(F.col("mn") != F.col("mx"))
        .select("h")
    )
    return (
        chunks.join(dup.withColumn("is_dup", F.lit(1)), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0)))
            .cast("long")
            .alias("n_dup"),
        )
        .orderBy("doc_id")
    )
