"""Document deduplication over ``documents`` (north-star surface).

Four families, all shuffle-conscious:

- **exact**: hash-groupBy on md5(text) — one shuffle on the fingerprint.
- **n-gram Jaccard (exact)**: inverted-index self-join on word-3-gram
  shingles → pair intersection counts → Jaccard. The join key is the
  shingle, so only docs *sharing* a shingle ever meet (no all-pairs
  blowup); at 100 TB you additionally drop ultra-frequent shingles
  (stop-shingles) to bound the hottest key — see ``max_shingle_freq``.
- **MinHash + LSH**: 32 min-hashes → 8 bands × 4 rows; band-bucket join
  proposes candidates, exact Jaccard verifies. This is the scale path:
  cost ~ O(docs × shingles) + candidate verification, never all-pairs.
- **SimHash**: 60-bit fingerprints from md5 token hashes; near-dup =
  Hamming distance ≤ 5, blocked on 10-bit chunks (pigeonhole: ≤5
  differing bits over 6 chunks ⇒ ≥1 identical chunk), then verified
  exactly — candidate recall is guaranteed, so results equal all-pairs.

**Zero-shuffle signatures.** Shingle sets, minhash signatures, and
simhash fingerprints are per-document values, so they are computed
row-locally with array expressions (``array_distinct ∘ transform``,
``array_min``, ``aggregate``) inside whole-stage codegen — no explode +
global ``distinct()``, no groupBy: at any scale the signature stage is
a pure map with per-doc cost, and the only shuffles left are the LSH
band join and candidate verification, both proportional to the
candidate set, not the corpus.

Fingerprint hashes are md5-derived on both engines (Spark
``conv(substr(md5(..)))``, DuckDB ``('0x'||substr(md5(..)))::BIGINT``)
so DuckDB oracles hash-match bit-for-bit; shingle/minhash internals use
``xxhash64`` (JVM-native, never leaves Spark — the minhash oracle is
the exact-Jaccard result, which hashing does not change).
"""

from __future__ import annotations

import os

import pandas as pd  # module-level so pandas_udf type hints resolve
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pgsink_spark.operators.registry import query
from pgsink_spark.sources.fixtures import load_table

N_HASHES = 32
BANDS = 8
ROWS_PER_BAND = 4
JACCARD_THRESHOLD = 0.8
SIMHASH_BITS = 60
HAMMING_THRESHOLD = 5
# ≤5 differing bits spread over 6 chunks leave ≥1 chunk identical, so
# blocking on chunk equality has guaranteed recall at this threshold.
SIMHASH_CHUNKS = 6
SIMHASH_CHUNK_BITS = SIMHASH_BITS // SIMHASH_CHUNKS

_DUCKDB_SHINGLES = """
    toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), pos AS (
      SELECT doc_id, w, unnest(range(1, len(w)-1)) AS i FROM toks
      WHERE len(w) >= 3
    ), sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM pos
    ), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), jac AS (
      SELECT d1, d2, inter * 1.0 / (s1.n + s2.n - inter) AS jac
      FROM pairs JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
    )
"""

_EXACT_JACCARD_SQL = (
    "WITH "
    + _DUCKDB_SHINGLES
    + " SELECT d1, d2 FROM jac WHERE jac >= 0.8 ORDER BY d1, d2"
)

_DUCKDB_SIMHASH = f"""
    toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ), tf AS (
      SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2
    ), th AS (
      SELECT doc_id, c,
             CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM tf
    ), bits AS (
      SELECT doc_id, b,
             CASE WHEN (h >> b) & 1 = 1 THEN c ELSE -c END AS v
      FROM th, (SELECT unnest(range(0, {SIMHASH_BITS})) AS b) bs
    ), sums AS (
      SELECT doc_id, b, sum(v) AS s FROM bits GROUP BY 1, 2
    ), fp AS (
      SELECT doc_id,
             -- BIGINT cast: DuckDB's integer SUM is HUGEINT, which
             -- lands as float64 in the driver's pandas comparator
             CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b)
                           ELSE 0 END) AS BIGINT)
               AS simhash
      FROM sums GROUP BY doc_id
    )
"""


def md5_hash60(c: Column) -> Column:
    """Deterministic 60-bit integer hash from md5 (engine-portable)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


# Per-worker embedded-DuckDB connection cache (guide §4.5): engine init
# is paid once per Python worker process, not once per Arrow batch.
# Keyed on pid because a forked/reused worker must not share a parent's
# connection handle. threads=1 so the embedded engine never
# oversubscribes executor cores.
_DUCKDB_CON: tuple[int, object] | None = None


def _duckdb_worker_connection():
    global _DUCKDB_CON
    import duckdb  # noqa: PLC0415

    pid = os.getpid()
    if _DUCKDB_CON is None or _DUCKDB_CON[0] != pid:
        con = duckdb.connect()
        con.execute("PRAGMA threads=1")
        _DUCKDB_CON = (pid, con)
    return _DUCKDB_CON[1]


def widen(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY if the scan is narrower than the
    cluster. Signature computation is CPU-bound row-local work; a small
    fixture parquet arrives as 1-2 input splits and would pin it to 1-2
    cores. At real scale the file source already yields ≥ cores
    partitions and this is a no-op — it never *adds* a shuffle of a
    large corpus, it only fans out a small one."""
    min_partitions = (
        min_partitions or df.sparkSession.sparkContext.defaultParallelism
    )
    if df.rdd.getNumPartitions() < min_partitions:
        return df.repartition(min_partitions)
    return df


def doc_shingle_sets(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingles array<bigint>) — the distinct word-n-gram set
    per document, hashed to bigints, computed entirely row-locally.

    ``array_distinct(transform(...))`` replaces the explode +
    global-``distinct()`` formulation: per-doc set semantics need no
    cross-row comparison, so forcing them through a corpus-wide shuffle
    (hash-partition every (doc, shingle) pair) is pure waste — at 100 TB
    that shuffle alone exceeds the corpus size. Set semantics survive
    hashing (collision odds ≈ |shingles|²/2⁶⁴), so Jaccard over hashed
    shingles equals Jaccard over strings.
    """
    toks = widen(docs).select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("w")
    ).where(F.size("w") >= n)
    # Hash every token to a bigint once, then combine n consecutive
    # token hashes per shingle — each token is string-hashed exactly
    # once instead of n times (tokens appear in n overlapping shingles),
    # and the combine step hashes fixed-width bigints. `hw` is bound as
    # a lambda variable (let-idiom) so projection collapse cannot
    # inline the token-hash pass into every subscript.
    slots = ", ".join(f"hw[i+{j}]" for j in range(n))
    return toks.select(
        "doc_id",
        F.expr(
            "transform(array(transform(w, t -> xxhash64(t))),"
            f" hw -> array_distinct(transform(sequence(0, size(hw)-{n}),"
            f" i -> xxhash64({slots}))))[0]"
        ).alias("shingles"),
    )


def hashed_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, s) distinct word n-grams as xxhash64 bigints — the
    exploded inverted-index view of :func:`doc_shingle_sets`."""
    return doc_shingle_sets(docs, n).select(
        "doc_id", F.explode("shingles").alias("s")
    )


def word_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct word n-grams of lower(text) as
    strings (debug/inspection path; row-local dedup like the hashed
    variant)."""
    toks = docs.select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("w")
    ).where(F.size("w") >= n)
    idx = ", ".join(f"w[i+{j}]" for j in range(n))
    return toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"array_distinct(transform(sequence(0, size(w)-{n}),"
                f" i -> concat_ws(' ', {idx})))"
            )
        ).alias("shingle"),
    )


@query(
    "dedup_exact",
    """
        WITH fp AS (SELECT doc_id, md5(text) AS fp FROM documents),
        keep AS (SELECT fp, min(doc_id) AS keep_id FROM fp GROUP BY fp)
        SELECT f.doc_id, f.fp, f.doc_id = k.keep_id AS keep
        FROM fp f JOIN keep k ON f.fp = k.fp ORDER BY f.doc_id
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup decision per doc: fingerprint + keep flag (doc with
    the min doc_id in its fingerprint group is kept)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select("doc_id", F.md5(F.col("text")).alias("fp"))
    keepers = fp.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    return (
        fp.join(keepers, "fp")
        .select(
            "doc_id", "fp", (F.col("doc_id") == F.col("keep_id")).alias("keep")
        )
        .orderBy("doc_id")
    )


# Stop-shingle cap for the registered exact n-gram path. A shingle in
# more than this many documents contributes up to freq² candidate
# pairs to the inverted-index join — ONE boilerplate shingle shared by
# 10⁶ docs would emit 10¹² pairs at 100 TB. The fixtures' hottest
# 3-gram sits at doc-frequency 25 (sf0.1), so 128 leaves fixture
# results bit-identical while bounding the worst key.
MAX_SHINGLE_FREQ = 128


# r10 optimization (guide §1.2 step 1): size gate for the single-task
# pair kernel below. When the whole postings list fits one bounded
# task, the inverted-index self-join + hot-set learn collapse to one
# mapInPandas job with IDENTICAL cap semantics (candidates from cold
# postings only, full-intersection numerators) and identical float64
# arithmetic. Above the cap the exploded self-join — the 100 TB
# design — is unchanged; the 100× probe (26M postings) exercises it.
PAIR_LOCAL_POSTINGS_CAP = int(
    os.environ.get("PGSINK_PAIR_LOCAL_POSTINGS_CAP", "1000000")
)

# bound on the candidate-pair expansion buffered per kernel chunk
_PAIR_CHUNK_SLOTS = 4_000_000


def _make_pair_jaccard_kernel(
    cap: int | None, emit: tuple[str, float] | None = None
):
    """Single-task replay of the inverted-index pair pass: same
    candidate rule (≥1 shared shingle with doc-frequency ≤ cap), same
    full-intersection ``inter`` (hot shingles included), same
    ``jac = inter / (n1 + n2 - inter)`` float64 division — pinned
    byte-identical to the distributed plan by the existing cap tests
    plus test_pair_jaccard_local_kernel_matches_joins.

    ``emit`` pushes the CONSUMER's own similarity cut inside the kernel
    (r11, guide §4.1 — pass only the rows the query keeps over the
    Arrow boundary): the unfiltered pass emits every candidate pair
    (1.13M rows at sf0.1) only for the consumer to keep a few hundred.
    ``("jac", t)`` keeps jac ≥ t; ``("containment", t)`` keeps
    max(inter/n1, inter/n2) ≥ t. Both evaluate the identical float64
    arithmetic the consumer's Spark-side filter applies to the emitted
    columns, so the filtered output is exactly the consumer's
    post-filter row set — the Spark filter stays in place downstream
    and becomes a no-op."""

    def kernel(it):
        import numpy as np
        import pandas as pd

        ids: list[int] = []
        arrs: list = []
        for pdf in it:
            for did, shg in zip(pdf["doc_id"], pdf["shingles"]):
                ids.append(int(did))
                arrs.append(np.asarray(shg, dtype=np.int64))
        if not ids:
            return
        doc = np.asarray(ids, dtype=np.int64)
        sizes = np.array([a.size for a in arrs], dtype=np.int64)
        d = np.repeat(np.arange(doc.size), sizes)
        svals = (
            np.concatenate(arrs) if arrs else np.empty(0, np.int64)
        )
        _, sinv, scnt = np.unique(
            svals, return_inverse=True, return_counts=True
        )
        dfreq = scnt[sinv]
        cold = (
            dfreq <= cap
            if cap is not None
            else np.ones(dfreq.size, dtype=bool)
        )
        sc, dc = sinv[cold], d[cold]
        # sort postings by (shingle, doc id): within a shingle group
        # every expanded pair then satisfies id(d1) < id(d2), exactly
        # the self-join's d1 < d2 filter
        order = np.lexsort((doc[dc], sc))
        sc, dc = sc[order], dc[order]
        key_parts: list = []
        cnt_parts: list = []
        if sc.size:
            new_grp = np.empty(sc.size, dtype=bool)
            new_grp[0] = True
            new_grp[1:] = sc[1:] != sc[:-1]
            gstart = np.flatnonzero(new_grp)
            glen = np.diff(np.append(gstart, sc.size))
            rank = np.arange(sc.size) - np.repeat(gstart, glen)
            reps = np.repeat(glen, glen) - 1 - rank
            # chunk the pair expansion so the buffered (left, right)
            # arrays stay bounded regardless of shingle-frequency mix
            cum = np.concatenate(([0], np.cumsum(reps)))
            lo = 0
            while lo < sc.size:
                hi = int(
                    np.searchsorted(
                        cum, cum[lo] + _PAIR_CHUNK_SLOTS, side="right"
                    )
                )
                hi = max(hi - 1, lo + 1)
                r = reps[lo:hi]
                total = int(cum[hi] - cum[lo])
                if total:
                    base = np.arange(lo, hi)
                    left = np.repeat(base, r)
                    off = np.concatenate(([0], np.cumsum(r)))
                    right = (
                        np.arange(total)
                        - np.repeat(off[:-1], r)
                        + left
                        + 1
                    )
                    key = dc[left] * doc.size + dc[right]
                    uk, kc = np.unique(key, return_counts=True)
                    key_parts.append(uk)
                    cnt_parts.append(kc)
                lo = hi
        if key_parts:
            allk = np.concatenate(key_parts)
            allc = np.concatenate(cnt_parts)
            ukey, inv = np.unique(allk, return_inverse=True)
            inter = np.zeros(ukey.size, dtype=np.int64)
            np.add.at(inter, inv, allc)
            p1 = (ukey // doc.size).astype(np.int64)
            p2 = (ukey % doc.size).astype(np.int64)
        else:
            p1 = p2 = np.empty(0, np.int64)
            inter = np.empty(0, np.int64)
        if cap is not None and p1.size and (~cold).any():
            # hot correction: |hot(d1) ∩ hot(d2)| per surviving pair —
            # the same per-pair array_intersect the distributed plan
            # joins in. Short-circuited (ADVICE r10): only pairs whose
            # BOTH endpoints carry hot shingles are visited, found with
            # one vectorized isin mask — on a healthy corpus the hot
            # doc set is tiny (hot shingles are boilerplate), so the
            # per-pair set intersection runs on a handful of rows
            # instead of every surviving pair.
            hot_docs = np.unique(d[~cold])
            both_hot = np.flatnonzero(
                np.isin(p1, hot_docs) & np.isin(p2, hot_docs)
            )
            if both_hot.size:
                hot_by_doc: dict[int, set] = {}
                for di, sv in zip(
                    d[~cold].tolist(), svals[~cold].tolist()
                ):
                    hot_by_doc.setdefault(di, set()).add(sv)
                add = np.zeros(p1.size, dtype=np.int64)
                for i in both_hot.tolist():
                    a = hot_by_doc.get(int(p1[i]))
                    b = hot_by_doc.get(int(p2[i]))
                    if a and b:
                        add[i] = len(a & b)
                inter = inter + add
        n1 = sizes[p1]
        n2 = sizes[p2]
        jac = inter.astype(np.float64) / (
            (n1 + n2 - inter).astype(np.float64)
        )
        if emit is not None and p1.size:
            kind, thr = emit
            if kind == "jac":
                keep_m = jac >= thr
            else:  # "containment": either direction passes the cut
                fi = inter.astype(np.float64)
                keep_m = (fi / n1.astype(np.float64) >= thr) | (
                    fi / n2.astype(np.float64) >= thr
                )
            p1, p2 = p1[keep_m], p2[keep_m]
            inter, jac = inter[keep_m], jac[keep_m]
            n1, n2 = n1[keep_m], n2[keep_m]
        yield pd.DataFrame(
            {
                "d1": doc[p1],
                "d2": doc[p2],
                "inter": inter,
                "n1": n1.astype(np.int32),
                "n2": n2.astype(np.int32),
                "jac": jac,
            }
        )

    return kernel


def _pair_jaccard(
    sets: DataFrame,
    max_shingle_freq: int | None = None,
    allow_local_kernel: bool = True,
    kernel_emit: tuple[str, float] | None = None,
) -> DataFrame:
    """(d1, d2, jac) for pairs sharing ≥1 (cold) shingle.

    ``sets`` is (doc_id, shingles array). The inverted-index self-join
    explodes it and shuffles bigint keys, so only docs sharing a
    shingle ever meet. With ``max_shingle_freq`` set, shingles hotter
    than the cap are dropped from CANDIDATE GENERATION only — the
    exact intersection for every surviving candidate is recovered as
    cold-postings count (the same single-shuffle aggregate the
    uncapped path runs) PLUS a hot-shingle correction joined from
    tiny per-doc hot-shingle arrays. The cap therefore costs recall
    only for pairs whose *every* common shingle is boilerplate-hot;
    it never distorts a reported similarity, and it adds no
    full-array shuffle over the uncapped plan.

    Size gate (see PAIR_LOCAL_POSTINGS_CAP): below the cap the whole
    pass runs as one single-task kernel — the gate's postings-sum
    action replaces the hot-learn action the distributed path pays,
    so the action count per consumer is unchanged.
    ``kernel_emit`` forwards the consumer's similarity cut to the
    KERNEL BRANCH ONLY (see _make_pair_jaccard_kernel): the consumer
    must still apply the identical filter on the returned frame, which
    keeps the distributed branch's contract unchanged (it always emits
    every candidate pair).
    ``allow_local_kernel=False`` pins the distributed branch outright
    (r11, verdict item 1): dedup_lsh_band_curve's critical path runs
    MORE single-task work after the pair pass in the same timed run,
    and the r10 driver record plus this round's 32-core A/B show the
    serialized kernel's LATENCY TAIL doubling that query (7.2 s driver
    / 7.5 s here vs 4.5 s distributed) while the kernel stays the
    right route for the pair-only consumers (ngram_jaccard 1.35 vs
    1.9 s, containment 1.7 vs 2.0 s, same window).
    """
    if allow_local_kernel:
        n_postings = sets.agg(
            F.sum(F.size("shingles")).alias("np")
        ).collect()[0]["np"]
        if (n_postings or 0) <= PAIR_LOCAL_POSTINGS_CAP:
            return sets.coalesce(1).mapInPandas(
                _make_pair_jaccard_kernel(
                    max_shingle_freq, emit=kernel_emit
                ),
                "d1 long, d2 long, inter long, n1 int, n2 int, jac double",
            )
    sh = sets.select("doc_id", F.explode("shingles").alias("s"))
    if max_shingle_freq is not None:
        # ADAPTIVE hot-set learning. The hot-shingle count aggregate is
        # map-side-combinable (partial agg collapses the postings to one
        # row per distinct shingle before the shuffle), and the hot SET
        # is small by construction — ≤ postings/cap keys CAN exceed the
        # cap, and in a healthy corpus almost none do. So learn it
        # first, bounded, and pick the cheapest plan:
        #   empty hot set   → the capped plan IS the uncapped plan; run
        #                     it verbatim (zero cap overhead — the
        #                     common case, incl. these fixtures).
        #   small hot set   → inline it as literals: a row-local isin
        #                     filter + array_intersect correction, no
        #                     anti/semi joins, no postings checkpoint.
        #   huge hot set    → (pathological boilerplate corpus) fall
        #                     back to the broadcast-join plan.
        _HOT_INLINE_LIMIT = 4096
        hot_ids = [
            r["s"]
            for r in (
                sh.groupBy("s")
                .agg(F.count(F.lit(1)).alias("c"))
                .where(F.col("c") > max_shingle_freq)
                .select("s")
                .limit(_HOT_INLINE_LIMIT + 1)
                .collect()
            )
        ]
        if not hot_ids:
            max_shingle_freq = None
    if max_shingle_freq is not None:
        if len(hot_ids) <= _HOT_INLINE_LIMIT:
            hot_arr = F.array(*[F.lit(int(x)) for x in hot_ids])
            cold = sh.where(~F.col("s").isin(hot_ids))
            doc_hot = sets.select(
                "doc_id",
                F.array_intersect("shingles", hot_arr).alias("hs"),
            ).where(F.size("hs") > 0)
        else:
            # both self-join sides + the semi-join branch re-read the
            # exploded postings; materialize the explode once
            sh = sh.localCheckpoint(eager=True)
            hot = (
                sh.groupBy("s")
                .count()
                .where(F.col("count") > max_shingle_freq)
                .select("s")
            )
            cold = sh.join(F.broadcast(hot), "s", "left_anti")
            # per-doc HOT shingles: a few entries per doc by
            # construction (only above-cap shingles land here)
            doc_hot = (
                sh.join(F.broadcast(hot), "s", "left_semi")
                .groupBy("doc_id")
                .agg(F.collect_set("s").alias("hs"))
            )
        a = cold.select(F.col("doc_id").alias("d1"), "s")
        b = cold.select(F.col("doc_id").alias("d2"), "s")
        cold_inter = (
            a.join(b, "s")
            .where(F.col("d1") < F.col("d2"))
            .groupBy("d1", "d2")
            .agg(F.count(F.lit(1)).alias("inter_cold"))
        )
        h1 = doc_hot.select(F.col("doc_id").alias("d1"), F.col("hs").alias("hs1"))
        h2 = doc_hot.select(F.col("doc_id").alias("d2"), F.col("hs").alias("hs2"))
        sizes = sets.select("doc_id", F.size("shingles").alias("n"))
        s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
        s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
        hot_inter = F.coalesce(
            F.size(F.array_intersect("hs1", "hs2")), F.lit(0)
        )
        inter = F.col("inter_cold") + hot_inter
        return (
            cold_inter.join(F.broadcast(h1), "d1", "left")
            .join(F.broadcast(h2), "d2", "left")
            .join(F.broadcast(s1), "d1")
            .join(F.broadcast(s2), "d2")
            .select(
                "d1",
                "d2",
                inter.alias("inter"),
                "n1",
                "n2",
                (inter / (F.col("n1") + F.col("n2") - inter)).alias("jac"),
            )
        )
    sizes = sets.select("doc_id", F.size("shingles").alias("n"))
    a = sh.select(F.col("doc_id").alias("d1"), "s")
    b = sh.select(F.col("doc_id").alias("d2"), "s")
    inter = (
        a.join(b, "s")
        .where(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    return (
        inter.join(F.broadcast(s1), "d1")
        .join(F.broadcast(s2), "d2")
        .select(
            "d1",
            "d2",
            "inter",
            "n1",
            "n2",
            (
                F.col("inter")
                / (F.col("n1") + F.col("n2") - F.col("inter"))
            ).alias("jac"),
        )
    )


@query("dedup_ngram_jaccard", _EXACT_JACCARD_SQL)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs: word-3-gram Jaccard ≥ 0.8, with the
    stop-shingle cap on candidate generation (the mandatory 100 TB
    hot-key bound; exact per-candidate Jaccard — see _pair_jaccard)."""
    docs = load_table(spark, sf_dir, "documents")
    # The inverted-index self-join references the shingle sets twice
    # (both join branches) plus the array-pair branch; persist so the
    # CPU-heavy shingling runs once, then truncate lineage and release.
    sets = doc_shingle_sets(docs, 3).persist()
    pre = (
        _pair_jaccard(
            sets,
            max_shingle_freq=MAX_SHINGLE_FREQ,
            kernel_emit=("jac", JACCARD_THRESHOLD),
        )
        .where(F.col("jac") >= JACCARD_THRESHOLD)
        .select("d1", "d2")
        .orderBy("d1", "d2")
    )
    out = pre.localCheckpoint(eager=True)
    sets.unpersist()
    # the checkpoint truncates lineage; keep the executed plan visible
    # to the plan audit (tools/gen_plans_md.py)
    out._plan_audit_df = pre
    return out


def minhash_signatures(sets: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """(doc_id, sig array<bigint>) — elementwise min over shingle hashes.

    Input is shingle sets ``(doc_id, shingles array<bigint>)``. Each of
    the n_hashes components is ``array_min(transform(shingles, s ->
    xxhash64(seed, s)))`` — a pure row-local expression inside
    whole-stage codegen. No explode, no groupBy, no shuffle: the
    signature stage is a map over documents regardless of corpus size
    (the previous formulation's groupBy carried one row per doc through
    a shuffle; this carries nothing).
    """
    return sets.select(
        "doc_id",
        F.array(
            *[
                F.expr(
                    f"array_min(transform(shingles, s -> xxhash64({seed}, s)))"
                )
                for seed in range(n_hashes)
            ]
        ).alias("sig"),
    )


def minhash_band_keys(sets: DataFrame) -> DataFrame:
    """(doc_id, bkey) — one LSH bucket key per band, exploded.

    The whole signature→band-key chain is a single row-local expression:
    the 32-component signature array is bound once as a lambda variable
    (let-idiom) and the 8 band keys are statically unrolled
    ``xxhash64(band, sig[b·4] … sig[b·4+3])`` calls. Without the
    binding, projection collapse would inline the 32 ``array_min ∘
    transform`` signature components into every band reference and
    recompute them per band. The band index participates in the hash,
    so ``bkey`` alone is the join key (cross-band collisions are
    vanishing, and candidates are exact-verified anyway).
    """
    sig_expr = (
        "array("
        + ", ".join(
            f"array_min(transform(shingles, s -> xxhash64({seed}, s)))"
            for seed in range(N_HASHES)
        )
        + ")"
    )
    bkeys = (
        "array("
        + ", ".join(
            f"xxhash64({band}, "
            + ", ".join(
                f"sig[{band * ROWS_PER_BAND + j}]"
                for j in range(ROWS_PER_BAND)
            )
            + ")"
            for band in range(BANDS)
        )
        + ")"
    )
    return sets.select(
        "doc_id",
        F.explode(
            F.expr(f"transform(array({sig_expr}), sig -> {bkeys})[0]")
        ).alias("bkey"),
    )


# Hot-bucket cap for the LSH CLUSTERING path. The band self-join emits
# C(|bucket|, 2) candidate pairs per bucket — fine while buckets stay
# flat (max 4 at all three fixture SFs), quadratic on a mega-cluster
# (boilerplate pages, mirror crawls: one true dup cluster of 10⁵ docs
# shares every band, so one bucket alone would emit 5·10⁹ candidates).
# The round-8 100× probe measured it: dedup_cluster hit ratio 130
# (super-linear) on the replica's 392-member buckets. Pair-LISTING
# queries (dedup_minhash_lsh, dedup_lexical_pairs) keep the exact
# all-pairs rule — their OUTPUT is the pair list, quadratic per
# cluster by definition (the documented lexical_pairs asterisk). The
# CLUSTERING consumer only needs CONNECTIVITY, so buckets over the cap
# switch to CHAIN+STAR candidates — each member pairs with its
# doc_id-rank neighbor (chain) and with the two smallest members (dual
# star anchors), ≈3|bucket| rows, linear — and exact verification
# still gates every emitted edge. The connectivity invariant is
# PRESERVED FOR BUCKETS WHOSE MEMBERS ARE PAIRWISE NEAR-DUPS (the
# overwhelmingly common mega-bucket: one true dup cluster sharing
# every band). It is NOT guaranteed for mixed buckets — a sub-threshold
# collision doc adjacent in the chain drops its two chain edges at
# verification, and a component can split only if BOTH star anchors
# are also collision docs (the dual anchor exists precisely to make
# that require two independent failures instead of one). Capped runs
# are therefore VISIBLY capped: dedup_cluster_cap_audit reports the
# over-cap cluster census and pruned-candidate volume, mirroring
# graph_hub_cap_audit, so nobody reads a capped clustering as silently
# exact. The pinning tests force cap=2 on the fixture and assert the
# clustering is identical to the uncapped run, and check the capped
# candidate set directly on a synthetic mixed bucket. The cap cannot
# be oracle-encoded (band keys are Spark xxhash64, unreproducible in
# DuckDB), so it lives Spark-side with fixture headroom pinned by test
# instead (same trade the r6 verdict accepted for bloom triage).
LSH_BUCKET_CAP = 32


def _band_candidates(
    bands: DataFrame, bucket_cap: int | None = None
) -> DataFrame:
    """(d1, d2) distinct candidate pairs from band buckets; all-pairs
    below ``bucket_cap``, chain+dual-star above (None = all-pairs
    always)."""
    if bucket_cap is None:
        b1 = bands.select(F.col("doc_id").alias("d1"), "bkey")
        b2 = bands.select(F.col("doc_id").alias("d2"), "bkey")
        return (
            b1.join(b2, "bkey")
            .where(F.col("d1") < F.col("d2"))
            .select("d1", "d2")
            .distinct()
        )
    # ONE bkey-keyed aggregation collects each bucket's sorted member
    # list, then pair generation is entirely row-local array math —
    # all-pairs for buckets ≤ cap, chain (adjacent) + dual stars (to
    # the two smallest members) above it. One shuffle total (the old
    # all-pairs path shuffled the band table twice for its self-join);
    # no windows, no branch recomputation. Row width is bounded by the
    # largest bucket (10⁵-member mega-cluster ≈ 0.8 MB array — fine;
    # the quadratic it replaces is what kills). The second star anchor
    # (m[1]) means a component split requires BOTH anchors to be
    # sub-threshold collision docs, not just the bucket minimum — see
    # the LSH_BUCKET_CAP invariant note above.
    grouped = bands.groupBy("bkey").agg(
        F.array_sort(F.collect_list("doc_id")).alias("m")
    )
    m = F.col("m")
    all_pairs = F.expr(
        "flatten(transform(m, (x, i) -> "
        "transform(slice(m, i + 2, size(m) - i - 1), "
        "y -> struct(x AS d1, y AS d2))))"
    )
    chain = F.expr(
        "zip_with(slice(m, 1, size(m) - 1), slice(m, 2, size(m) - 1), "
        "(x, y) -> struct(x AS d1, y AS d2))"
    )
    star = F.expr(
        "transform(slice(m, 3, size(m) - 2), "
        "y -> struct(m[0] AS d1, y AS d2))"
    )
    # second anchor: m[1] → m[3..]; (m[1], m[2]) is already a chain
    # edge. greatest(0, …) guards the slice length for size-2 buckets
    # (reachable only under a cap < 2, where Spark's slice would
    # otherwise error on a negative length).
    star2 = F.expr(
        "transform(slice(m, 4, greatest(0, size(m) - 3)), "
        "y -> struct(m[1] AS d1, y AS d2))"
    )
    cand = F.when(F.size(m) <= bucket_cap, all_pairs).otherwise(
        F.concat(chain, star, star2)
    )
    return (
        grouped.select(F.explode(cand).alias("p"))
        .select(F.col("p.d1").alias("d1"), F.col("p.d2").alias("d2"))
        .distinct()
    )


def _lsh_verified_pairs(
    sets: DataFrame,
    keep_jac: bool = False,
    bucket_cap: int | None = None,
) -> DataFrame:
    """(d1, d2[, jac]) near-dup pairs: LSH band candidates verified by
    exact Jaccard ≥ threshold. Shared core of :func:`dedup_minhash_lsh`
    (all-pairs: its output IS the pair list) and :func:`dedup_cluster`
    (``bucket_cap=LSH_BUCKET_CAP``: connectivity, preserved for
    pairwise-near-dup buckets — see the LSH_BUCKET_CAP note) — cost ∝
    candidates, never all shingle-sharing pairs."""
    bands = minhash_band_keys(sets)
    cands = _band_candidates(bands, bucket_cap)
    # Verify ONLY the candidate pairs: attach d2 to d1's shingles, then
    # intersect against d2's shingles. Cost ∝ candidate shingle volume,
    # not all shingle-sharing pairs — the LSH pruning is the point; AQE
    # broadcasts the (small) candidate set at runtime.
    sh = sets.select("doc_id", F.explode("shingles").alias("s"))
    sizes = sets.select("doc_id", F.size("shingles").alias("n"))
    cand_sh = sh.join(
        cands.withColumnRenamed("d1", "doc_id"), "doc_id"
    ).select(F.col("doc_id").alias("d1"), "d2", "s")
    inter = (
        cand_sh.join(
            sh.select(F.col("doc_id").alias("d2"), "s"),
            ["d2", "s"],
        )
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    jac = F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter"))
    cols = ["d1", "d2"] + (["jac"] if keep_jac else [])
    return (
        inter.join(s1, "d1")
        .join(s2, "d2")
        .withColumn("jac", jac)
        .where(F.col("jac") >= JACCARD_THRESHOLD)
        .select(*cols)
    )


@query(
    "dedup_minhash_lsh",
    # MinHash+LSH is verified-exact at this threshold → same oracle.
    _EXACT_JACCARD_SQL,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32) + LSH(8 bands × 4) candidates, verified by exact
    Jaccard ≥ 0.8. With J≈0.98 planted dups, P(miss) ≈ (1-J⁴)⁸ < 1e-8,
    so the output equals the exact-Jaccard oracle.

    Only two shuffles touch data proportional to the corpus: the LSH
    band self-join (keyed on band buckets) and the candidate-shingle
    intersection (keyed on shingle, restricted to candidate docs).
    Signatures and band keys are row-local projections.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Shingle sets feed several branches (signatures, verify joins,
    # sizes); persist for the run, materialize the (tiny) verified pair
    # set, then release — repeated calls don't accumulate storage.
    sets = doc_shingle_sets(docs, 3).persist()
    pre = _lsh_verified_pairs(sets).orderBy("d1", "d2")
    out = pre.localCheckpoint(eager=True)
    sets.unpersist()
    out._plan_audit_df = pre
    return out


def _simhash_sql() -> str:
    """The 60-bit TF-weighted simhash as a raw SQL expression over
    `text` (shared by simhash_col and the let-bound chunk generator)."""
    hs_expr = (
        "transform(w, t -> cast(conv(substring(md5(t), 1, 15), 16, 10)"
        " as bigint))"
    )
    ones_expr = (
        f"aggregate({hs_expr}, array_repeat(0L, {SIMHASH_BITS}),"
        " (acc, h) -> zip_with(acc,"
        f" sequence(0, {SIMHASH_BITS - 1}),"
        " (a, b) -> a + (shiftright(h, b) & 1L)))"
    )
    fold_expr = (
        f"transform(array({ones_expr}),"
        f" o -> aggregate(sequence(0, {SIMHASH_BITS - 1}), 0L,"
        " (acc, b) -> acc +"
        " IF(2 * o[b] > size(w), shiftleft(1L, b), 0L)))[0]"
    )
    return f"transform(array(split(lower(text), \' \')), w -> {fold_expr})[0]"


def simhash_col() -> Column:
    """The 60-bit TF-weighted simhash as a pure row-local Column —
    usable on batch AND streaming frames (no repartition, no action).
    See simhash_fingerprints for the algorithm and Catalyst notes."""
    return F.expr(_simhash_sql())


def simhash_chunk_rows_col(with_fp: bool = True) -> Column:
    """Explode-ready (simhash, ck) chunk rows with the fingerprint
    LET-BOUND so it evaluates ONCE per document (r11, guide §4 —
    expression-level fix, same projection-collapse hazard the
    simhash_col docstring describes one level up): the previous
    formulation kept `simhash` as a column AND exploded an array of 6
    shift expressions over it, and projection collapse inlined the
    whole per-token fold into every one of those uses — the simhash
    fold ran up to 7× per document (measured: 0.62 s plain vs 2.0 s
    under the explode at sf0.1). Here one generator child computes the
    fold once (the ``transform(array(expr), sh -> ...)`` let-idiom)
    and emits the 6 struct(simhash, ck) elements from the bound value.

    ``with_fp=False`` drops the fingerprint from the emitted struct
    for consumers that only key on the chunk."""
    mask = (1 << SIMHASH_CHUNK_BITS) - 1
    chunk = (
        f"(shiftright(sh, j * {SIMHASH_CHUNK_BITS}) & {mask}L)"
        f" + cast(j AS BIGINT) * {mask + 1}L"
    )
    struct = (
        f"named_struct('simhash', sh, 'ck', {chunk})"
        if with_fp
        else f"named_struct('ck', {chunk})"
    )
    return F.expr(
        f"transform(array({_simhash_sql()}), sh ->"
        f" transform(sequence(0, {SIMHASH_CHUNKS - 1}),"
        f" j -> {struct}))[0]"
    )


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash bigint): 60-bit TF-weighted simhash — term
    frequency is the per-bit vote weight (distinct-token simhash
    degenerates when documents share a small vocabulary).

    TF weighting falls out for free: each occurrence votes ±1 per bit,
    so summing over the raw token array equals summing c·(±1) over
    distinct tokens. The per-bit signed sum is s_b = 2·ones_b − n,
    hence bit b is set iff 2·ones_b > n.

    Entirely row-local: one `transform` hashes the token array, one
    array `aggregate` accumulates the 60 per-bit one-counts, and the
    fingerprint folds out of that — no explode, no groupBy, no join.

    Catalyst note: intermediates are bound as lambda variables via the
    ``transform(array(<expr>), x -> ...)[0]`` let-idiom rather than
    chained projections — projection collapse would otherwise inline
    the token-hash/one-count arrays into every one of their 60 uses and
    recompute them 60×. (An Arrow mapInPandas twin was measured in r11
    and NOT adopted: warm, the Column form matches it — the real cost
    this round fixed was the CHUNK consumers re-evaluating this
    expression under their explode; see simhash_chunk_rows_col.)
    """
    return widen(docs).select("doc_id", simhash_col().alias("simhash"))


@query(
    "dedup_simhash",
    f"""
        WITH {_DUCKDB_SIMHASH}
        SELECT doc_id, simhash FROM fp ORDER BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 60-bit simhash fingerprints (engine-portable md5 bits)."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_fingerprints(docs).select("doc_id", "simhash").orderBy(
        "doc_id"
    )


@query(
    "dedup_simhash_pairs",
    f"""
        WITH {_DUCKDB_SIMHASH}
        SELECT a.doc_id AS d1, b.doc_id AS d2,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_THRESHOLD}
        ORDER BY d1, d2
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: Hamming(simhash) ≤ 5, found by chunk
    blocking + exact verification.

    Blocking: split each 60-bit fingerprint into 6 chunks of 10 bits
    and equi-join docs sharing any (chunk_index, chunk_value). By
    pigeonhole, ≤5 differing bits cannot dirty all 6 chunks, so every
    true pair shares a chunk — recall is exact and the result equals
    the all-pairs oracle, while the join is an equi-join Catalyst hash
    partitions instead of an O(n²) cross product. (At larger corpora,
    widen to 64-bit fingerprints with 16-bit chunks to keep bucket
    population low.)
    """
    docs = load_table(spark, sf_dir, "documents")
    # r11: the chunk rows come from ONE let-bound generator (see
    # simhash_chunk_rows_col) — keeping `simhash` as a column next to
    # an explode over shift expressions made projection collapse
    # re-evaluate the per-token fold up to 7× per doc (×2 again across
    # the self-join's two branches).
    chunks = (
        widen(docs)
        .select("doc_id", F.explode(simhash_chunk_rows_col()).alias("e"))
        .select(
            "doc_id",
            F.col("e.simhash").alias("simhash"),
            F.col("e.ck").alias("ck"),
        )
    )
    a = chunks.select(
        F.col("doc_id").alias("d1"), F.col("simhash").alias("h1"), "ck"
    )
    b = chunks.select(
        F.col("doc_id").alias("d2"), F.col("simhash").alias("h2"), "ck"
    )
    return (
        a.join(b, "ck")
        .where(F.col("d1") < F.col("d2"))
        .select(
            "d1",
            "d2",
            F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))).alias("hamming"),
        )
        .where(F.col("hamming") <= HAMMING_THRESHOLD)
        .dropDuplicates(["d1", "d2"])
        .orderBy("d1", "d2")
    )


# r10 optimization (guide §1.2 step 1): below this many edge rows the
# whole min-label propagation collapses to ONE single-task union-find
# kernel. The output contract — every endpoint node labeled with the
# minimum node id reachable from it — is the unique fixed point of the
# distributed loop, so any correct CC algorithm produces identical
# rows; test_cc_local_kernel_matches_distributed_loop forces both
# branches and compares. Above the cap the per-round checkpointed
# loop — the 100 TB design — is unchanged (the 100× probe's replica-
# squared pair mass exercises it).
CC_LOCAL_EDGE_CAP = int(
    os.environ.get("PGSINK_CC_LOCAL_EDGE_CAP", "1000000")
)


def _cc_local_kernel(it):
    import numpy as np
    import pandas as pd

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for pdf in it:
        for a, b in zip(pdf["d1"], pdf["d2"]):
            a, b = int(a), int(b)
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min id keeps the root = component min
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
    if not parent:
        return
    nodes = np.fromiter(parent.keys(), dtype=np.int64, count=len(parent))
    comp = np.fromiter(
        (find(int(n)) for n in nodes), dtype=np.int64, count=len(nodes)
    )
    yield pd.DataFrame({"node": nodes, "component": comp})


def connected_components(
    edges: DataFrame, max_iters: int = 20
) -> DataFrame:
    """(node, component) — component = min node id reachable.

    Hash-to-min label propagation WITH POINTER JUMPING: every node
    starts labeled with its own id; each round, a node takes the min
    of (its label, its neighbors' labels, its LABEL's label). The
    neighbor step moves a min one hop; the label-of-label step
    (shortcutting, the pointer-jumping half of the classic two-phase
    CC algorithms) roughly doubles the reach per round, so the loop
    converges in O(log diameter) rounds instead of O(diameter) —
    max_iters=20 covers diameters near 2²⁰. (r11: the plain one-hop
    loop hit the round budget and raised on the 100× probe, whose
    replicated MDM attributes chain components hundreds of hops deep
    — a real shape for hot attribute values.) Every label value is a
    real node id (a min over node ids), so the jump join always finds
    its row, and the fixpoint — min reachable id — is unchanged.
    Each round is two node-keyed shuffles; ``localCheckpoint``
    truncates the growing lineage so round N's plan doesn't replay
    rounds 1..N-1.

    ``edges`` is (d1, d2), undirected (one row per pair is enough —
    both directions are added here).

    Size gate (see CC_LOCAL_EDGE_CAP): below the cap the loop runs as
    one single-task union-find kernel; the gate's count() is served by
    the caller's checkpoint of the pair frame (every registry consumer
    checkpoints pairs) — the sym-checkpoint action of the loop path
    paid the same materialization. The precondition is enforced here,
    not just documented: a caller passing an unmaterialized frame with
    expensive upstream (join/agg/scan nodes in its optimized plan)
    gets a defensive localCheckpoint so the gate's count() and the CC
    job never recompute the pair pipeline twice.
    """
    plan_str = edges._jdf.queryExecution().optimizedPlan().toString()
    if any(
        tok in plan_str
        for tok in (
            "Join",
            "Aggregate",
            "Window",
            "Generate",
            "InPandas",
            "InArrow",
            "parquet",
        )
    ):
        edges = edges.localCheckpoint(eager=True)
    if edges.count() <= CC_LOCAL_EDGE_CAP:
        return edges.select("d1", "d2").coalesce(1).mapInPandas(
            _cc_local_kernel, "node long, component long"
        )
    sym = edges.select(
        F.col("d1").alias("src"), F.col("d2").alias("dst")
    ).union(edges.select(F.col("d2").alias("src"), F.col("d1").alias("dst")))
    sym = sym.localCheckpoint(eager=True)
    # Init folds the first propagation round: lbl = min(node, neighbors)
    # in one aggregation instead of own-id init + a full loop round.
    labels = (
        sym.groupBy(F.col("src").alias("node"))
        .agg(F.least(F.min("dst"), F.first("src")).alias("lbl"))
        .localCheckpoint(eager=True)
    )

    def _total(lbls: DataFrame):
        # Labels only ever decrease (min-propagation), so the label sum
        # is strictly monotone while anything changes: equal sums ⇒
        # fixed point. One agg job — cheaper than the old join-against-
        # previous-labels probe. decimal(38,0) so huge node-id sums
        # can't overflow.
        return lbls.agg(
            F.sum(F.col("lbl").cast("decimal(38,0)"))
        ).collect()[0][0]

    prev = _total(labels)
    converged = False
    for _ in range(max_iters):
        neigh = sym.join(
            labels, sym["dst"] == labels["node"]
        ).select(F.col("src").alias("node"), "lbl")
        jump = (
            labels.alias("a")
            .join(labels.alias("b"), F.col("a.lbl") == F.col("b.node"))
            .select(
                F.col("a.node").alias("node"),
                F.col("b.lbl").alias("lbl"),
            )
        )
        labels = (
            labels.union(neigh)
            .union(jump)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint(eager=True)
        )
        cur = _total(labels)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        # The output contract (component = min reachable node id) is
        # the loop's FIXED POINT; silently returning non-converged
        # labels would make the two branches of the size gate disagree
        # on graphs deeper than max_iters hops. Fail loudly instead —
        # near-dup graphs this deep mean the caller should raise
        # max_iters (or the input is pathological).
        raise RuntimeError(
            f"connected_components: min-label propagation did not"
            f" converge within max_iters={max_iters} rounds; the graph"
            f" diameter exceeds the round budget — raise max_iters"
        )
    return labels.select("node", F.col("lbl").alias("component"))


@query(
    "dedup_cluster",
    # Transitive closure via recursive CTE: reach(a,b) holds every
    # ordered pair connected by a path; canonical = min reachable.
    (
        "WITH RECURSIVE "
        + _DUCKDB_SHINGLES
        + """, dup AS (SELECT d1, d2 FROM jac WHERE jac >= 0.8),
        edges AS (SELECT d1 AS a, d2 AS b FROM dup
                  UNION SELECT d2, d1 FROM dup),
        reach(a, b) AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        ),
        canon AS (SELECT a AS doc_id, MIN(b) AS mn FROM reach GROUP BY a)
        SELECT d.doc_id,
               LEAST(d.doc_id, COALESCE(c.mn, d.doc_id)) AS canonical_id,
               d.doc_id = LEAST(d.doc_id, COALESCE(c.mn, d.doc_id))
                 AS is_canonical
        FROM documents d LEFT JOIN canon c ON c.doc_id = d.doc_id
        ORDER BY d.doc_id
    """
    ),
)
def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document assignment: connected components over the
    near-dup pair graph (exact word-3-gram Jaccard ≥ 0.8), canonical =
    min doc_id in the cluster. This is the step every pairwise dedup
    feeds at pipeline scale: pairs alone can't answer "which doc do I
    keep" when dups chain (A~B, B~C but A≁C ⇒ one cluster {A,B,C}).

    Docs in no pair are their own canonical (left join + coalesce —
    the CC loop only ever touches the pair graph, which is tiny
    relative to the corpus after near-dup filtering).
    """
    docs = load_table(spark, sf_dir, "documents")
    sets = doc_shingle_sets(docs, 3).persist()
    # Pairs via LSH candidates + exact verify (verified-exact at this
    # threshold ⇒ identical to the all-shared-shingle exact path, but
    # cost ∝ candidates) — the scale path feeds the clustering. The
    # hot-bucket cap keeps mega dup-clusters from turning candidate
    # generation quadratic; chain+dual-star edges preserve the
    # component and its min for pairwise-near-dup buckets (the common
    # mega bucket), and dedup_cluster_cap_audit makes capped runs
    # visible — see the LSH_BUCKET_CAP invariant note.
    pairs = _lsh_verified_pairs(
        sets, bucket_cap=LSH_BUCKET_CAP
    ).localCheckpoint(eager=True)
    sets.unpersist()
    comp = connected_components(pairs)
    return (
        docs.select("doc_id")
        .join(comp, docs["doc_id"] == comp["node"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias(
                "canonical_id"
            ),
        )
        .withColumn(
            "is_canonical", F.col("doc_id") == F.col("canonical_id")
        )
        .orderBy("doc_id")
    )


EVAL_SPLIT_ID = 50
CONTAMINATION_THRESHOLD = 0.5


@query(
    "contamination_check",
    """
        WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w
                      FROM documents
                      WHERE len(string_split(lower(text), ' ')) >= 3),
        sh AS (SELECT DISTINCT doc_id,
                      array_to_string(w[i.i : i.i+2], ' ') AS s
               FROM toks, LATERAL (SELECT unnest(
                      generate_series(1, len(w)-2)) AS i) i),
        e AS (SELECT * FROM sh WHERE doc_id < 50),
        c AS (SELECT * FROM sh WHERE doc_id >= 50),
        inter AS (SELECT e.doc_id AS eval_id, c.doc_id AS corpus_id,
                         count(*) AS i
                  FROM e JOIN c ON e.s = c.s GROUP BY 1, 2),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)
        SELECT eval_id, corpus_id
        FROM inter
        JOIN sizes se ON se.doc_id = eval_id
        JOIN sizes sc ON sc.doc_id = corpus_id
        WHERE i*1.0/(se.n + sc.n - i) >= 0.5
        ORDER BY eval_id, corpus_id
    """,
)
def contamination_check(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = CONTAMINATION_THRESHOLD,
) -> DataFrame:
    """Decontamination: find eval-set documents whose word-3-gram
    Jaccard with any training-corpus document reaches ``threshold`` —
    the train/test overlap scan every benchmark-clean training run
    needs (eval set here = doc_id < EVAL_SPLIT_ID, standing in for an
    external benchmark table).

    Plan shape: shingle sets are row-local; the cross-set inverted
    index joins ONLY eval-shingles against corpus-shingles (no
    eval×eval or corpus×corpus pairs ever materialize, unlike full
    dedup), so candidate volume is ∝ shared-shingle mass between the
    sets — at 100 TB the eval side is tiny and the join broadcasts it.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = word_shingles(docs, 3)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ev = sh.where(F.col("doc_id") < EVAL_SPLIT_ID).select(
        F.col("doc_id").alias("eval_id"), "shingle"
    )
    corp = sh.where(F.col("doc_id") >= EVAL_SPLIT_ID).select(
        F.col("doc_id").alias("corpus_id"), "shingle"
    )
    inter = (
        F.broadcast(ev)
        .join(corp, "shingle")
        .groupBy("eval_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    se = sizes.select(F.col("doc_id").alias("eval_id"), F.col("n").alias("ne"))
    sc = sizes.select(
        F.col("doc_id").alias("corpus_id"), F.col("n").alias("nc")
    )
    return (
        inter.join(F.broadcast(se), "eval_id")
        .join(F.broadcast(sc), "corpus_id")
        .where(
            F.col("i") / (F.col("ne") + F.col("nc") - F.col("i"))
            >= threshold
        )
        .select("eval_id", "corpus_id")
        .orderBy("eval_id", "corpus_id")
    )


@query(
    "dedup_cluster_cap_audit",
    # Exact component census over the same near-dup graph (recursive
    # CTE, as in the dedup_cluster oracle) with the identical cap
    # arithmetic — a capped Spark run that split a component would
    # shift n_clusters/max_cluster and hash-mismatch here.
    "WITH RECURSIVE "
    + _DUCKDB_SHINGLES
    + f""", dup AS (SELECT d1, d2 FROM jac WHERE jac >= 0.8),
    edges AS (SELECT d1 AS a, d2 AS b FROM dup
              UNION SELECT d2, d1 FROM dup),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    canon AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS comp
              FROM reach GROUP BY a),
    csizes AS (SELECT comp, CAST(count(*) AS BIGINT) AS n
               FROM canon GROUP BY comp)
    SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs,
           CAST(coalesce(sum(n), 0) AS BIGINT) AS n_dup_docs,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(coalesce(max(n), 0) AS BIGINT) AS max_cluster,
           CAST(coalesce(sum(CASE WHEN n > {LSH_BUCKET_CAP}
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_over_cap,
           CAST(coalesce(sum(CASE WHEN n > {LSH_BUCKET_CAP}
                                  THEN (n * (n - 1)) // 2 - (3 * n - 6)
                                  ELSE 0 END), 0) AS BIGINT)
             AS est_pruned_candidates
    FROM csizes
    """,
)
def dedup_cluster_cap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUNCATION CENSUS for the bucket-capped LSH clustering path —
    the dedup plane's answer to graph_hub_cap_audit (ADVICE r8,
    dedup.py LSH_BUCKET_CAP): one row stating how many near-dup
    clusters exist, the largest, how many exceed LSH_BUCKET_CAP (their
    band buckets ran in the chain+dual-star regime, so their
    connectivity rests on the pairwise-near-dup assumption rather than
    all-pairs verification), and the candidate volume the cap pruned
    (all-pairs C(n,2) minus the ≈3n-6 chain+dual-star rows per
    over-cap cluster). A pipeline owner reads n_over_cap BEFORE
    trusting a capped clustering: 0 means the run was effectively
    uncapped; >0 quantifies the exposure the LSH_BUCKET_CAP note
    documents.

    Cross-engine falsifiability: the census is computed from the
    ACTUAL capped Spark pipeline's components, while the oracle
    recomputes it from the exact Jaccard graph by recursive CTE — a
    cap-induced component split changes n_clusters/max_cluster and
    fails the hash, so this row doubles as a standing capped-vs-exact
    parity check at driver scale.

    Plan: the capped verified-pair graph (2 data-proportional
    shuffles, see _lsh_verified_pairs) + the CC fixpoint on the tiny
    pair graph + a size census and 1-row fold — no new shuffle shapes
    beyond dedup_cluster itself.
    """
    docs = load_table(spark, sf_dir, "documents")
    sets = doc_shingle_sets(docs, 3).persist()
    pairs = _lsh_verified_pairs(
        sets, bucket_cap=LSH_BUCKET_CAP
    ).localCheckpoint(eager=True)
    sets.unpersist()
    comp = connected_components(pairs)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    cap = F.lit(LSH_BUCKET_CAP)
    pruned = F.expr("(n * (n - 1)) div 2 - (3 * n - 6)")
    census = sizes.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_dup_docs"),
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.coalesce(F.max("n"), F.lit(0)).cast("long").alias("max_cluster"),
        F.coalesce(F.sum((F.col("n") > cap).cast("long")), F.lit(0))
        .cast("long")
        .alias("n_over_cap"),
        F.coalesce(
            F.sum(F.when(F.col("n") > cap, pruned).otherwise(F.lit(0))),
            F.lit(0),
        )
        .cast("long")
        .alias("est_pruned_candidates"),
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    # 1-row × 1-row broadcast cross join — constant, not a data path
    return n_docs.crossJoin(census)


@query(
    "dedup_dupfrac_ngram",
    """
    WITH w AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      WHERE len(string_split(lower(text), ' ')) >= 5
    ),
    g AS (
      SELECT doc_id, array_to_string(w[i:i+4], ' ') AS g
      FROM w, unnest(range(1, len(w) - 3)) AS t(i)
    ),
    dup AS (
      SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS c FROM g GROUP BY g)
      WHERE c > 1
    )
    SELECT doc_id,
           CAST(ROUND(CAST(AVG(CASE WHEN d.g IS NOT NULL THEN 1.0 ELSE 0.0 END)
                           AS DECIMAL(18,8)), 6) AS DOUBLE) AS dup_frac
    FROM g LEFT JOIN dup d USING (g)
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def dedup_dupfrac_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-5-gram fraction (the span-memorization
    metric of exact-substring train-data dedup: what share of a doc's
    5-gram INSTANCES also occur in at least one other document).

    Plan: positional 5-grams (no array_distinct — instances, not sets)
    explode row-locally; one shuffle groups them by gram to learn which
    grams are cross-document; the flag joins back on the gram key and a
    per-doc average folds it down. No all-pairs stage — cost is
    O(postings), the same inverted-index discipline as the Jaccard
    path. At 100 TB the gram key is the only shuffle axis and hot
    boilerplate grams cap out at a count aggregate, never a fan-out.
    """
    docs = load_table(spark, sf_dir, "documents")
    n = 5
    toks = docs.select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("w")
    ).where(F.size("w") >= n)
    # r10: hashed gram keys — the exchange and the flag join move
    # 8-byte ints instead of materialized 5-gram strings, and each
    # token is hashed once instead of concatenated into 5 overlapping
    # grams (guide §2.3; same hashing convention and collision
    # argument as the Jaccard path, oracle-verified at all SFs)
    slots = ", ".join(f"hw[i+{j}]" for j in range(n))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(array(transform(w, t -> xxhash64(t))),"
                f" hw -> transform(sequence(0, size(hw)-{n}),"
                f" i -> xxhash64({slots})))[0]"
            )
        ).alias("g"),
    )
    # r10: "seen in >1 distinct doc" == min(doc_id) != max(doc_id) —
    # a plain two-long partial agg instead of countDistinct's
    # Expand + two-phase distinct aggregation (guide §2.3: aggregate
    # before you shuffle; identical dup set)
    dup = (
        grams.groupBy("g")
        .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
        .where(F.col("mn") != F.col("mx"))
        .select("g")
    )
    flagged = grams.join(dup.withColumn("is_dup", F.lit(1.0)), "g", "left")
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.round(
                F.avg(F.coalesce(F.col("is_dup"), F.lit(0.0))).cast(
                    "decimal(18,8)"
                ),
                6,
            )
            .cast("double")
            .alias("dup_frac")
        )
        .orderBy("doc_id")
    )


@query(
    "dedup_duplicate_spans",
    """
    WITH w AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      WHERE len(string_split(lower(text), ' ')) >= 5
    ),
    g AS (
      SELECT doc_id, i - 1 AS i, array_to_string(w[i:i+4], ' ') AS g
      FROM w, unnest(range(1, len(w) - 3)) AS t(i)
    ),
    dup AS (
      SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS c FROM g GROUP BY g)
      WHERE c > 1
    ),
    pos AS (SELECT doc_id, i FROM g JOIN dup USING (g)),
    isl AS (
      SELECT doc_id, i,
             i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
      FROM pos
    )
    SELECT doc_id,
           CAST(MIN(i) AS BIGINT) AS start_tok,
           CAST(MAX(i) + 4 AS BIGINT) AS end_tok,
           CAST(MAX(i) - MIN(i) + 5 AS BIGINT) AS n_tokens
    FROM isl GROUP BY doc_id, grp
    HAVING MAX(i) - MIN(i) + 5 >= 8
    ORDER BY doc_id, start_tok
    """,
)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated token SPANS per document — the output shape
    of exact-substring training-data dedup (find every range of ≥
    ``min_tokens`` consecutive tokens that also occurs in another
    document, so the trainer can cut the span, not the whole doc).
    Published method: suffix-array substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"); this
    is the shuffle-native equivalent over positional 5-grams — a run
    of k consecutive duplicated 5-gram starts is exactly a duplicated
    substring of k+4 tokens.

    Plan: positional 5-grams explode row-locally; ONE gram-keyed
    shuffle learns cross-document grams (same inverted-index
    discipline as dedup_dupfrac_ngram — hot boilerplate grams cap out
    at a count, never a fan-out); the dup flag joins back on the gram
    key; then a doc-keyed window merges consecutive duplicated
    positions into islands (gaps-and-islands: i - row_number is
    constant within a run). Both shuffles are key-partitioned and
    linear in postings — no all-pairs stage, no global sort. At 100 TB
    the gram agg is the only corpus-wide exchange; the island window
    partitions by doc_id, so state per task is one document's
    positions.
    """
    from pyspark.sql import Window as W

    min_tokens = 8
    n = 5
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("w")
    ).where(F.size("w") >= n)
    # r10: gram key = xxhash64 combine of per-token hashes (the
    # doc_shingle_sets trick) instead of the materialized 5-gram
    # STRING — the gram-keyed exchange and the dup-flag join now move
    # 8-byte ints, not ~40-byte strings, and each token is hashed once
    # instead of concatenated into 5 overlapping grams (guide §2.3:
    # narrower shuffle keys). Dup semantics survive hashing exactly as
    # in the Jaccard path (collision odds ≈ |grams|²/2⁶⁴; oracle
    # equality verified at all three SFs).
    slots = ", ".join(f"hw[i+{j}]" for j in range(n))
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(array(transform(w, t -> xxhash64(t))),"
                f" hw -> transform(sequence(0, size(hw)-{n}),"
                f" i -> xxhash64({slots})))[0]"
            )
        ).alias("i", "g"),
    )
    # r10: min != max replaces countDistinct > 1 (see dupfrac above)
    dup = (
        grams.groupBy("g")
        .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
        .where(F.col("mn") != F.col("mx"))
        .select("g")
    )
    pos = grams.join(dup, "g").select("doc_id", "i")
    w = W.partitionBy("doc_id").orderBy("i")
    isl = pos.withColumn("grp", F.col("i") - F.row_number().over(w))
    return (
        isl.groupBy("doc_id", "grp")
        .agg(
            F.min("i").cast("long").alias("start_tok"),
            (F.max("i") + n - 1).cast("long").alias("end_tok"),
            (F.max("i") - F.min("i") + n).cast("long").alias("n_tokens"),
        )
        .where(F.col("n_tokens") >= min_tokens)
        .select("doc_id", "start_tok", "end_tok", "n_tokens")
        .orderBy("doc_id", "start_tok")
    )


@query(
    "dedup_lexical_pairs",
    """
    WITH tok AS (
      SELECT doc_id, t AS term FROM documents,
             unnest(string_split(lower(text), ' ')) AS u(t)
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, term
    ),
    vocab AS (
      SELECT term FROM (
        SELECT term, count(*) AS df FROM tf GROUP BY term
      ) WHERE df BETWEEN 2
            AND (SELECT GREATEST(100, count(*) // 5) FROM documents)
    ),
    p AS (SELECT tf.* FROM tf JOIN vocab USING (term)),
    norms AS (
      SELECT doc_id, SUM(tf * tf) AS n2 FROM p GROUP BY doc_id
    ),
    dots AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2,
             CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
      FROM p a JOIN p b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT d1, d2, dot FROM dots
    JOIN norms na ON na.doc_id = d1
    JOIN norms nb ON nb.doc_id = d2
    WHERE 25 * dot * dot >= 16 * na.n2 * nb.n2
    ORDER BY d1, d2
    """,
)
def dedup_lexical_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse lexical near-duplicate pairs: document pairs whose
    DF-pruned term-frequency vectors have cosine ≥ 0.8 — the
    bag-of-words complement of the embedding-cosine pairs (catches
    reworded boilerplate dense vectors smooth over, and vice versa).

    Exactness without floats: cos(a,b) ≥ t ⇔ dot² ≥ t²·‖a‖²·‖b‖²
    (dot ≥ 0 for tf vectors), and with t = 4/5 that is the INTEGER
    predicate 25·dot² ≥ 16·na·nb — no transcendental function, no
    accumulation-order FP drift, bit-identical on any engine.

    Scale shape (the classic inverted-index sparse-similarity join):
    one (doc,term) count shuffle; a term-keyed DF pass defines the
    vocabulary as 2 ≤ df ≤ max(100, N/5) — df=1 terms cannot produce
    a shared key, and terms in more than a fifth of the corpus are
    boilerplate whose quadratic fan-out is the scale hazard, so the
    cap bounds each term's pair contribution while changing the
    metric only in a declared, oracle-mirrored way; the postings
    self-join is equi on term (never cartesian) and the pair
    aggregation is keyed on (d1,d2). At 100 TB cost is Σ_term df²
    over the capped vocabulary — the same discipline as the MinHash
    band join (dedup_minhash_lsh) but exact over the pruned space.
    On a heavily-duplicated corpus the OUTPUT itself is quadratic in
    the duplication factor (every copy-pair qualifies — true for any
    correct pairwise algorithm; the 25× probe measured 9084× more
    qualifying pairs at only 46× wall, see SCALE.md), so production
    order is: collapse exact/MinHash clusters first, then run this on
    cluster representatives.
    """
    docs = load_table(spark, sf_dir, "documents")
    max_df = max(100, docs.count() // 5)  # control-plane scalar
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"),
    )
    tf = tok.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    vocab = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df").between(2, max_df))
        .select("term")
    )
    p = tf.join(vocab, "term")
    norms = p.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("n2")
    )
    # enrich each posting with its document's norm and PIN the result:
    # every downstream consumer (both self-join sides) reads the cache
    # instead of recomputing the tokenize→tf→vocab→norm pipeline — one
    # corpus scan total, and the norms ride the postings so no
    # post-aggregation join per pair side is needed
    pe = p.join(norms, "doc_id").persist()
    a = pe.select(
        F.col("term"),
        F.col("doc_id").alias("d1"),
        F.col("tf").alias("tf1"),
        F.col("n2").alias("na"),
    )
    b = pe.select(
        F.col("term"),
        F.col("doc_id").alias("d2"),
        F.col("tf").alias("tf2"),
        F.col("n2").alias("nb"),
    )
    dots = (
        a.join(b, (a["term"] == b["term"]) & (F.col("d1") < F.col("d2")))
        .groupBy("d1", "d2")
        .agg(
            F.sum(F.col("tf1") * F.col("tf2")).cast("long").alias("dot"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
    )
    return (
        dots.where(
            25 * F.col("dot") * F.col("dot")
            >= 16 * F.col("na") * F.col("nb")
        )
        .select("d1", "d2", "dot")
        .orderBy("d1", "d2")
    )


def build_eval_bloom(
    sh_eval: DataFrame, n_bits: int = 1 << 20, k: int = 4
) -> "bytes":
    """Bloom bitset over the eval set's shingles (k seeded xxhash64
    positions per shingle). The eval side of decontamination is small
    by construction (a benchmark suite, not the corpus), so collecting
    its bit positions is a control-plane aggregation — the bitset
    (n_bits/8 bytes, default 128 KiB) then broadcasts to every
    executor, replacing the shingle join entirely."""
    import numpy as np

    positions = (
        sh_eval.select(
            F.explode(
                F.array(
                    *[
                        (
                            F.abs(F.xxhash64("shingle", F.lit(i)))
                            % F.lit(n_bits)
                        )
                        for i in range(k)
                    ]
                )
            ).alias("p")
        )
        .distinct()
        .collect()
    )
    bits = np.zeros(n_bits // 8, dtype=np.uint8)
    for row in positions:
        p = row["p"]
        bits[p >> 3] |= 1 << (p & 7)
    return bits.tobytes()


def bloom_contaminated(
    docs: DataFrame,
    bloom: bytes,
    n_bits: int = 1 << 20,
    k: int = 4,
    threshold: float = CONTAMINATION_THRESHOLD,
) -> DataFrame:
    """Corpus docs flagged by the broadcast Bloom filter.

    The cut is RELATIVE with provable recall: Jaccard(e, c) ≥ t forces
    |e ∩ c| ≥ t·|c| / (1 + t), so a corpus doc can reach the exact
    threshold only if at least a t/(1+t) fraction of its own shingles
    lies in the eval union — and the Bloom filter never misses a true
    member. Any doc below the cut is therefore PROVABLY below the
    exact Jaccard threshold against every eval doc; the triage loses
    nothing (false positives only, from Bloom collisions and from the
    union-vs-single-doc relaxation).

    Zero shuffles and zero joins: the membership test is a row-local
    Arrow-batched kernel over the broadcast bitset. Bloom filters
    admit false POSITIVES only, so the flagged set is a superset of
    the truly contaminated docs (pinned in test_dedup) — the correct
    direction for decontamination triage, where flagged docs go to the
    exact Jaccard verifier (contamination_check) and everything else
    skips it. At 100 TB this is the only affordable first pass: the
    corpus is touched once, map-only."""
    import pandas as pd

    sh = word_shingles(docs, 3)
    hashed = sh.select(
        "doc_id",
        *[
            (F.abs(F.xxhash64("shingle", F.lit(i))) % F.lit(n_bits)).alias(
                f"h{i}"
            )
            for i in range(k)
        ],
    )

    def probe(batches):
        import numpy as np

        bits = np.frombuffer(bloom, dtype=np.uint8)
        for pdf in batches:
            hs = [pdf[f"h{i}"].to_numpy() for i in range(k)]
            hit = np.ones(len(pdf), dtype=bool)
            for h in hs:
                hit &= (bits[h >> 3] >> (h & 7) & 1).astype(bool)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "hit": hit})

    min_frac = threshold / (1.0 + threshold)
    hits = hashed.mapInPandas(probe, "doc_id long, hit boolean")
    return (
        hits.groupBy("doc_id")
        .agg(
            F.sum(F.col("hit").cast("long")).alias("n_hits"),
            F.count(F.lit(1)).alias("n"),
        )
        .where(F.col("n_hits") >= F.col("n") * F.lit(min_frac))
        .select("doc_id")
        .orderBy("doc_id")
    )


def bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination triage: corpus docs whose shingle
    hit-fraction against the eval Bloom bitset reaches t/(1+t) (the
    bound Jaccard ≥ t implies; same eval split and threshold as
    contamination_check). Approximate BY DESIGN — false positives
    possible, false negatives impossible — so it has no oracle and is
    not a registered query (bench.py and tools/gen_plans_md.py add it
    directly); the superset guarantee vs the exact path is pinned in
    tests/test_dedup.py."""
    docs = load_table(spark, sf_dir, "documents")
    sh_eval = word_shingles(
        docs.where(F.col("doc_id") < EVAL_SPLIT_ID), 3
    )
    bloom = build_eval_bloom(sh_eval)
    return bloom_contaminated(
        docs.where(F.col("doc_id") >= EVAL_SPLIT_ID), bloom
    )


# Hot-block cap for the prefix-blocked linkage family (jaro_winkler,
# fuzzy_blocked, mdm_survivorship). All-pairs-within-block is Σ|block|²:
# fine while blocks stay flat (max block 14 at sf0.1) but one hot block
# — shared boilerplate head, a crawl of mirror pages — turns the stage
# quadratic (the 100× scale probe measured 165M candidate pairs from a
# 1400-member block). Blocks over the cap therefore switch to the
# SORTED-NEIGHBORHOOD rule: members sort by (head, doc_id) inside the
# block and only pairs within SNM_WINDOW ranks are candidates —
# |block|×W, linear. Sorting by head keeps recall: both verify kernels
# (Jaro-Winkler's prefix bonus, head Levenshtein) score prefix-similar
# strings highest, and those are exactly the rank-adjacent ones. The
# cap exceeds every fixture block at all three SFs, so oracle results
# are unchanged there — but the rule itself is encoded in BOTH engines
# (_BLOCKED_CAND_SQL), so the driver hash stays green even on data
# that trips it.
LINKAGE_BLOCK_CAP = 32
LINKAGE_SNM_WINDOW = 16

# DuckDB half of the rule. Expects documents; yields cand(d1, d2, h1,
# h2) with d1 < d2. Kept as one fragment so every consumer (JW, fuzzy,
# survivorship) states the identical candidate set.
_BLOCKED_CAND_SQL = f"""
    d AS (
      SELECT doc_id, substr(lower(text), 1, 40) AS h,
             string_split(lower(text), ' ') AS w
      FROM documents
    ), k AS (
      SELECT doc_id, h, w[1] || ' ' || w[2] AS blk FROM d WHERE len(w) >= 2
    ), k2 AS (
      SELECT doc_id, h, blk,
             row_number() OVER (PARTITION BY blk ORDER BY h, doc_id) AS r,
             count(*) OVER (PARTITION BY blk) AS cnt
      FROM k
    ), cand AS (
      SELECT least(a.doc_id, b.doc_id) AS d1,
             greatest(a.doc_id, b.doc_id) AS d2,
             a.h AS h1, b.h AS h2
      FROM k2 a JOIN k2 b ON a.blk = b.blk AND (
        CASE WHEN a.cnt <= {LINKAGE_BLOCK_CAP}
             THEN a.doc_id < b.doc_id
             ELSE b.r - a.r BETWEEN 1 AND {LINKAGE_SNM_WINDOW} END)
    )
"""


def _linkage_blocks(docs: DataFrame) -> DataFrame:
    """(doc_id, h, blk) for the prefix-blocked linkage family — the
    one definition of the blocking key, shared by the candidate
    generator and the blocking audit so they cannot diverge."""
    d = docs.select(
        "doc_id",
        F.substring(F.lower("text"), 1, 40).alias("h"),
        F.split(F.lower("text"), " ").alias("w"),
    ).where(F.size("w") >= 2)
    return d.select(
        "doc_id",
        "h",
        F.concat_ws(" ", F.col("w")[0], F.col("w")[1]).alias("blk"),
    )


def _blocked_head_candidates(docs: DataFrame) -> DataFrame:
    """Spark half of the capped candidate rule: (d1, h1, d2, h2) with
    d1 < d2. Small blocks take the plain keyed self-join; oversized
    blocks generate rank-window pairs by EXPLODING each member's next
    W ranks and equi-joining on (blk, rank) — the hot block costs
    |block|×W join rows, never |block|². Verify kernels are symmetric,
    so h1/h2 may associate with either endpoint."""
    from pyspark.sql import Window as W

    k = _linkage_blocks(docs)
    k2 = k.withColumn(
        "r",
        F.row_number().over(W.partitionBy("blk").orderBy("h", "doc_id")),
    ).withColumn("cnt", F.count(F.lit(1)).over(W.partitionBy("blk")))

    # r10 optimization: the previous small/big branch pair consumed k2
    # twice — TWO full block-window passes plus a cnt² self-join for
    # small blocks. One rank-explode covers BOTH regimes: a small
    # block's "all pairs" is exactly the rank window widened to the
    # whole block (hi = cnt), a hot block keeps the sorted-
    # neighborhood cap (hi = r + W). Each unordered pair is emitted
    # once (by its lower-rank member), identical to the old set; d1/d2
    # normalize by doc_id and h1/h2 stay rank-associated, which the
    # symmetric verify kernels (JW, Levenshtein) are insensitive to —
    # the same freedom the old pairs_big already used.
    # r < cnt guard: F.sequence REVERSES when start > stop, so the
    # block's last rank would otherwise emit a self-pair.
    probe = k2.where(F.col("r") < F.col("cnt")).select(
        "blk",
        "doc_id",
        "h",
        F.explode(
            F.sequence(
                F.col("r") + 1,
                F.when(
                    F.col("cnt") <= LINKAGE_BLOCK_CAP, F.col("cnt")
                ).otherwise(
                    F.least(
                        F.col("r") + LINKAGE_SNM_WINDOW, F.col("cnt")
                    )
                ),
            )
        ).alias("r2"),
    )
    match = k2.select(
        "blk",
        F.col("r").alias("r2"),
        F.col("doc_id").alias("dj"),
        F.col("h").alias("hj"),
    )
    return probe.join(match, ["blk", "r2"]).select(
        F.least("doc_id", "dj").alias("d1"),
        F.col("h").alias("h1"),
        F.greatest("doc_id", "dj").alias("d2"),
        F.col("hj").alias("h2"),
    )


@query(
    "dedup_fuzzy_blocked",
    f"""
    WITH {_BLOCKED_CAND_SQL}
    SELECT d1, d2, CAST(levenshtein(h1, h2) AS BIGINT) AS dist
    FROM cand
    WHERE levenshtein(h1, h2) <= 8
    ORDER BY d1, d2
    """,
)
def dedup_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup pairs by edit distance, BLOCKED: candidates must
    share their first-two-token block key, then the 40-char head's
    Levenshtein distance (identical definition on both engines) is the
    verify step. The classic record-linkage shape — blocking key join,
    never an all-pairs scan; at 100 TB candidate volume is Σ|block|²
    over short prefix blocks and the quadratic edit-distance kernel
    runs only on survivors' fixed-length heads (bounded cost per pair).
    """
    cand = _blocked_head_candidates(
        load_table(spark, sf_dir, "documents")
    )
    return (
        cand.where(F.levenshtein("h1", "h2") <= 8)
        .select(
            "d1",
            "d2",
            F.levenshtein("h1", "h2").cast("bigint").alias("dist"),
        )
        .orderBy("d1", "d2")
    )


_INCREMENTAL_PROBE_SQL = """
    WITH
    toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), pos AS (
      SELECT doc_id, w, unnest(range(1, len(w)-1)) AS i FROM toks
      WHERE len(w) >= 3
    ), sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM pos
    ), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle
       AND a.doc_id % 10 != 0 AND b.doc_id % 10 = 0
      GROUP BY 1, 2
    ), jac AS (
      SELECT d1, d2, inter * 1.0 / (s1.n + s2.n - inter) AS jac
      FROM pairs JOIN sizes s1 ON s1.doc_id = d1
                 JOIN sizes s2 ON s2.doc_id = d2
    )
    SELECT d2 AS new_id, d1 AS dup_of FROM jac WHERE jac >= 0.8
    ORDER BY new_id, dup_of
"""


@query("dedup_incremental_probe", _INCREMENTAL_PROBE_SQL)
def dedup_incremental_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: probe an ingest batch against the MinHash-LSH
    index of the EXISTING corpus, without ever re-pairing the corpus
    with itself. New docs (``doc_id % 10 == 0`` stands in for the
    batch) join the index's band keys, and only (index, probe)
    candidates are exact-verified by Jaccard ≥ 0.8 — the steady-state
    shape of dedup in a continuously-ingesting pipeline, where
    :func:`dedup_minhash_lsh`'s full self-join runs once at bootstrap
    and every batch afterwards pays only its own band keys plus the
    touched buckets.

    At 100 TB the index (doc_id, bkey) is a persisted table bucketed
    by bkey; a batch shuffles ONLY its own band keys into those
    buckets — cost ∝ batch size, never corpus². The verify stage
    reads shingle sets solely for candidate ids (semi-join pruned).
    Oracle: exact all-cross-pairs Jaccard between the two halves —
    so a band-collision miss or a verify bug both go red.
    """
    docs = load_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 10 != 0)
    new = docs.where(F.col("doc_id") % 10 == 0)
    old_sets = doc_shingle_sets(old, 3).persist()
    new_sets = doc_shingle_sets(new, 3).persist()

    idx = minhash_band_keys(old_sets).select(
        F.col("doc_id").alias("dup_of"), "bkey"
    )
    probe = minhash_band_keys(new_sets).select(
        F.col("doc_id").alias("new_id"), "bkey"
    )
    cands = idx.join(probe, "bkey").select("new_id", "dup_of").distinct()

    sh_old = old_sets.select("doc_id", F.explode("shingles").alias("s"))
    sh_new = new_sets.select("doc_id", F.explode("shingles").alias("s"))
    cand_sh = sh_new.join(
        cands.withColumnRenamed("new_id", "doc_id"), "doc_id"
    ).select(F.col("doc_id").alias("new_id"), "dup_of", "s")
    inter = (
        cand_sh.join(
            sh_old.select(F.col("doc_id").alias("dup_of"), "s"),
            ["dup_of", "s"],
        )
        .groupBy("new_id", "dup_of")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz_new = new_sets.select(
        F.col("doc_id").alias("new_id"), F.size("shingles").alias("n_new")
    )
    sz_old = old_sets.select(
        F.col("doc_id").alias("dup_of"), F.size("shingles").alias("n_old")
    )
    pre = (
        inter.join(sz_new, "new_id")
        .join(sz_old, "dup_of")
        .where(
            F.col("inter")
            / (F.col("n_new") + F.col("n_old") - F.col("inter"))
            >= JACCARD_THRESHOLD
        )
        .select("new_id", "dup_of")
        .orderBy("new_id", "dup_of")
    )
    out = pre.localCheckpoint(eager=True)
    old_sets.unpersist()
    new_sets.unpersist()
    out._plan_audit_df = pre
    return out


CONTAINMENT_THRESHOLD = 0.9

_CONTAINMENT_SQL = (
    "WITH "
    + _DUCKDB_SHINGLES
    + f""",
    cont AS (
      SELECT p.d1, p.d2, p.inter, s1.n AS n1, s2.n AS n2
      FROM pairs p JOIN sizes s1 ON s1.doc_id = p.d1
                   JOIN sizes s2 ON s2.doc_id = p.d2
    ), directed AS (
      SELECT d1 AS src, d2 AS dst, inter * 1.0 / n1 AS c FROM cont
      UNION ALL
      SELECT d2 AS src, d1 AS dst, inter * 1.0 / n2 AS c FROM cont
    )
    SELECT src, dst,
           CAST(ROUND(CAST(c AS DECIMAL(18,8)), 6) AS DOUBLE) AS containment
    FROM directed WHERE c >= {CONTAINMENT_THRESHOLD}
    ORDER BY src, dst
    """
)


@query("dedup_containment", _CONTAINMENT_SQL)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs: C(A→B) = |A∩B| / |A| ≥ 0.9 over
    word-3-gram sets, emitted DIRECTED (src mostly-contained-in dst).

    Containment is the asymmetric complement of Jaccard: a short
    document embedded verbatim inside a much longer one has tiny
    Jaccard (the union is dominated by the long doc) but containment
    ≈ 1 — exactly the quote/boilerplate/subset duplication a
    Jaccard-only dedup pass ships to training. This is the
    set-containment form of the suffix-array substring argument
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better"); the span-level twin is dedup_duplicate_spans.

    Plan: identical skeleton to dedup_ngram_jaccard — the
    inverted-index self-join with the adaptive stop-shingle cap
    (_pair_jaccard now exposes inter/n1/n2, so both metrics ride ONE
    candidate-generation pass); the directed union is a row-local
    projection of the tiny pair set.
    """
    docs = load_table(spark, sf_dir, "documents")
    sets = doc_shingle_sets(docs, 3).persist()
    # the directed union references the pair frame TWICE — materialize
    # the (tiny) pair set so the inverted-index candidate pass runs
    # once, not once per branch (Spark does not dedupe common subplans)
    pj = _pair_jaccard(
        sets,
        max_shingle_freq=MAX_SHINGLE_FREQ,
        kernel_emit=("containment", CONTAINMENT_THRESHOLD),
    ).localCheckpoint(eager=True)
    fwd = pj.select(
        F.col("d1").alias("src"),
        F.col("d2").alias("dst"),
        (F.col("inter") / F.col("n1")).alias("c"),
    )
    bwd = pj.select(
        F.col("d2").alias("src"),
        F.col("d1").alias("dst"),
        (F.col("inter") / F.col("n2")).alias("c"),
    )
    pre = (
        fwd.unionByName(bwd)
        .where(F.col("c") >= CONTAINMENT_THRESHOLD)
        .select(
            "src",
            "dst",
            F.round(F.col("c").cast("decimal(18,8)"), 6)
            .cast("double")
            .alias("containment"),
        )
        .orderBy("src", "dst")
    )
    out = pre.localCheckpoint(eager=True)
    sets.unpersist()
    out._plan_audit_df = pre
    return out


# |estimate − J| ceiling for the 32-hash MinHash signature over the
# verified near-dup pairs. Binomial SD at J≥0.8 with n=32 is ≤ 0.071;
# measured max error over the fixture pair sets: 0.060 / 0.100 / 0.091
# at sf0.001/0.01/0.1 (28/25/256 pairs). The bound sits 2.5× above the
# worst measured value so SF changes don't trip it — it is a tripwire for signature-machinery breakage (wrong
# seeds, band/row mixups, hash drift), not a statistical SLA.
MINHASH_ERR_BOUND = 0.25

_MINHASH_ERR_SQL = (
    "WITH "
    + _DUCKDB_SHINGLES
    + f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs, TRUE AS within_bound
    FROM jac WHERE jac >= {JACCARD_THRESHOLD}
    """
)


@query("dedup_minhash_err_gate", _MINHASH_ERR_SQL)
def dedup_minhash_err_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Falsifiability gate for the MinHash signature machinery — the
    dedup-family analogue of the ann_*_recall gates: over the verified
    near-dup pairs, the 32-component signature agreement fraction must
    estimate the exact Jaccard within MINHASH_ERR_BOUND, and the pair
    count must equal the exact-Jaccard oracle's count.

    The estimator ĵ = |{{i : sig₁[i] = sig₂[i]}}| / 32 is unbiased with
    binomial SD √(J(1−J)/32); a broken signature (wrong seed set,
    truncated array, hash-function drift) decorrelates the components
    and ĵ collapses toward the random-collision rate ≈ 0, blowing the
    bound and flipping the hashed boolean. Everything after the
    (candidate-bounded) pair verification is control-plane sized: the
    tiny pair set broadcasts into two signature lookups.
    """
    docs = load_table(spark, sf_dir, "documents")
    sets = doc_shingle_sets(docs, 3).persist()
    # materialize the (tiny) verified pair set so its candidate-pass
    # subtree executes once, and persist the signature map: the two
    # lookup joins below would otherwise each re-run the 32-component
    # signature expression over the whole corpus
    pairs = _lsh_verified_pairs(sets, keep_jac=True).localCheckpoint(
        eager=True
    )
    sigs = minhash_signatures(sets).persist()
    with1 = sigs.join(
        F.broadcast(pairs), sigs["doc_id"] == pairs["d1"]
    ).select("d1", "d2", "jac", F.col("sig").alias("sig1"))
    with2 = sigs.join(
        F.broadcast(with1), sigs["doc_id"] == with1["d2"]
    ).select(
        "d1",
        "d2",
        "jac",
        F.expr(
            f"aggregate(zip_with(sig1, sig, (a, b) -> IF(a = b, 1, 0)),"
            f" 0, (acc, x) -> acc + x) / {N_HASHES}.0"
        ).alias("est"),
    )
    pre = with2.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        # a dup-free corpus has zero verified pairs: MAX over zero rows
        # is NULL and the gate must read "vacuously within bound", not
        # trip on a NULL boolean
        F.coalesce(
            F.max(F.abs(F.col("est") - F.col("jac"))) <= MINHASH_ERR_BOUND,
            F.lit(True),
        ).alias("within_bound"),
    )
    out = pre.localCheckpoint(eager=True)
    sigs.unpersist()
    sets.unpersist()
    out._plan_audit_df = pre
    return out


_JARO_WINKLER_SQL = f"""
    WITH {_BLOCKED_CAND_SQL}
    SELECT d1, d2, round(jaro_winkler_similarity(h1, h2), 4) AS jw
    FROM cand
    WHERE round(jaro_winkler_similarity(h1, h2), 4) >= 0.92
    ORDER BY d1, d2
"""


def _jaro_winkler_py(s1: str, s2: str) -> float:
    """Textbook Jaro-Winkler (float64): match window
    max(n1,n2)//2 - 1, transpositions t//2, prefix bonus capped at 4
    with p=0.1 applied only when jaro > 0.7 — verified bit-identical
    to DuckDB's jaro_winkler_similarity on every fixture block pair."""
    if s1 == s2:
        return 1.0
    n1, n2 = len(s1), len(s2)
    if n1 == 0 or n2 == 0:
        return 0.0
    window = max(max(n1, n2) // 2 - 1, 0)
    m1 = [False] * n1
    m2 = [False] * n2
    m = 0
    for i, c in enumerate(s1):
        for j in range(max(0, i - window), min(n2, i + window + 1)):
            if not m2[j] and s2[j] == c:
                m1[i] = True
                m2[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(n1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    j = (m / n1 + m / n2 + (m - t) / m) / 3.0
    if j > 0.7:
        pfx = 0
        for a, b in zip(s1[:4], s2[:4]):
            if a != b:
                break
            pfx += 1
        j = j + pfx * 0.1 * (1.0 - j)
    return j


@query("dedup_jaro_winkler", _JARO_WINKLER_SQL)
def dedup_jaro_winkler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage near-dup pairs by Jaro-Winkler similarity of the
    40-char head, BLOCKED on the first-two-token key (same candidate
    generator as dedup_fuzzy_blocked, different verify kernel: JW
    rewards shared prefixes where Levenshtein charges every edit, the
    standard choice for name/title linkage).

    Spark-first shape: candidates come from the CAPPED keyed block
    join (_blocked_head_candidates — all pairs inside normal blocks,
    sorted-neighborhood rank windows inside hot blocks, so candidate
    volume is min(Σ|block|², corpus×W) and a boilerplate-head block
    can never turn the stage quadratic), and the Python kernel runs
    only on the surviving pairs' fixed 40-char heads via an
    Arrow-batched pandas UDF — per-pair cost is bounded so the stage
    scales with candidate count, not corpus size. The threshold is
    applied to the ROUNDED score on both engines so the cut cannot
    flip on float noise.

    Parity: the reference dedups subscriptions by exact key only
    (pkg/subscription/subscription.go); this op is part of the demanded
    LLM-pipeline extension plane alongside dedup_fuzzy_blocked.
    """
    from pyspark.sql.functions import pandas_udf

    # r10 optimization (guide §4.2 — hand whole batches to a
    # vectorized native library inside the UDF): the per-pair
    # interpreted-Python kernel (_jaro_winkler_py, ~1k char ops per
    # pair) is replaced by DuckDB's native jaro_winkler_similarity
    # over the whole Arrow batch. DuckDB is the ORACLE engine for this
    # query, and _jaro_winkler_py was written to match it (parity is
    # pinned to 1e-12 tolerance by
    # test_jaro_winkler_kernel_matches_duckdb, not bit-exact — DuckDB
    # being the oracle makes this native path the authoritative one).
    # The connection comes from a per-worker module-level cache
    # (guide §4.5 — heavyweight init once per worker, not per batch);
    # threads=1 keeps the embedded engine from oversubscribing
    # executor cores, and the explicit idx ORDER BY pins output order
    # to input order.
    @pandas_udf("double")
    def jw_udf(h1: pd.Series, h2: pd.Series) -> pd.Series:
        con = _duckdb_worker_connection()
        batch = pd.DataFrame(
            {"idx": range(len(h1)), "h1": h1.values, "h2": h2.values}
        )
        con.register("batch", batch)
        out = con.execute(
            "SELECT jaro_winkler_similarity(h1, h2) AS jw"
            " FROM batch ORDER BY idx"
        ).fetchnumpy()["jw"]
        con.unregister("batch")
        return pd.Series(out, dtype="float64")

    cand = _blocked_head_candidates(
        load_table(spark, sf_dir, "documents")
    )
    return (
        cand.select(
            "d1", "d2", F.round(jw_udf("h1", "h2"), 4).alias("jw")
        )
        .where(F.col("jw") >= 0.92)
        .orderBy("d1", "d2")
    )


_SURVIVORSHIP_SQL = f"""
    WITH RECURSIVE {_BLOCKED_CAND_SQL}, dup AS (
      SELECT d1, d2 FROM cand
      WHERE round(jaro_winkler_similarity(h1, h2), 4) >= 0.92
    ), edges AS (
      SELECT d1 AS a, d2 AS b FROM dup UNION SELECT d2, d1 FROM dup
    ), reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ), canon AS (
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
      FROM reach GROUP BY a
    ), members AS (
      SELECT c.cluster_id, doc.doc_id, doc.source, doc.n_chars
      FROM canon c JOIN documents doc ON doc.doc_id = c.doc_id
    ), src_counts AS (
      SELECT cluster_id, source, CAST(count(*) AS BIGINT) AS cnt
      FROM members GROUP BY 1, 2
    ), src_pick AS (
      SELECT cluster_id, source AS top_source FROM src_counts
      QUALIFY row_number() OVER (
        PARTITION BY cluster_id ORDER BY cnt DESC, source) = 1
    )
    SELECT m.cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(struct_pack(neg := -m.n_chars, doc_id := m.doc_id)).doc_id
             AS BIGINT) AS golden_doc,
           CAST(max(m.n_chars) AS BIGINT) AS golden_chars,
           CAST(sum(m.n_chars) AS BIGINT) AS total_chars,
           any_value(p.top_source) AS top_source
    FROM members m JOIN src_pick p ON p.cluster_id = m.cluster_id
    GROUP BY m.cluster_id
    HAVING count(*) >= 2
    ORDER BY m.cluster_id
"""


@query("mdm_survivorship", _SURVIVORSHIP_SQL)
def mdm_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record SURVIVORSHIP — the step after record linkage in
    an MDM/entity-resolution pipeline: Jaro-Winkler linkage pairs
    (dedup_jaro_winkler's blocked kernel) chain into clusters via
    connected components, and each multi-member cluster elects one
    golden record by rule — longest document (tie: smallest doc_id) —
    alongside roll-ups (member count, total chars) and the cluster's
    dominant source (tie: alphabetical). Linkage alone answers "are
    these the same entity"; survivorship answers "which row do we
    keep and what do we report for it".

    Plan: pairs come from the keyed block join (never all-pairs), CC
    runs min-label propagation over the PAIR graph only
    (connected_components above — O(diameter) rounds, one node-keyed
    shuffle each), and the election is two partial aggregations
    (member roll-up + per-source counts with a max_by pick) — no
    window over the corpus. Singleton docs never enter the CC loop or
    the output.
    """
    # checkpoint so the CC gate's count() and the CC pass both read
    # the materialized pair set instead of re-running the JW pipeline
    pairs = (
        dedup_jaro_winkler(spark, sf_dir)
        .select("d1", "d2")
        .localCheckpoint(eager=True)
    )
    comp = connected_components(pairs)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    members = comp.join(
        docs, comp["node"] == docs["doc_id"]
    ).select(
        F.least(F.col("component"), F.col("doc_id")).alias("cluster_id"),
        "doc_id",
        "source",
        "n_chars",
    )
    rollup = members.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.min(
            F.struct((-F.col("n_chars")).alias("neg"), F.col("doc_id"))
        )["doc_id"]
        .cast("bigint")
        .alias("golden_doc"),
        F.max("n_chars").cast("bigint").alias("golden_chars"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    src = (
        members.groupBy("cluster_id", "source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .groupBy("cluster_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("neg"), F.col("source")
                )
            )["source"].alias("top_source")
        )
    )
    return (
        rollup.join(src, "cluster_id")
        .where(F.col("n_members") >= 2)
        .orderBy("cluster_id")
    )


@query(
    "dedup_blocking_audit",
    f"""
    WITH {_BLOCKED_CAND_SQL}
    , census AS (
      SELECT blk, CAST(max(cnt) AS BIGINT) AS cnt FROM k2 GROUP BY blk
    )
    SELECT CAST(sum(cnt) AS BIGINT) AS n_blocked_docs,
           CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(sum(CASE WHEN cnt > {LINKAGE_BLOCK_CAP}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hot_blocks,
           CAST(max(cnt) AS BIGINT) AS max_block,
           CAST(sum(CASE WHEN cnt <= {LINKAGE_BLOCK_CAP}
                         THEN (cnt * (cnt - 1)) // 2
                         ELSE 0 END) AS BIGINT) AS cand_small,
           CAST(sum(CASE WHEN cnt > {LINKAGE_BLOCK_CAP}
                         THEN (cnt - {LINKAGE_SNM_WINDOW})
                              * {LINKAGE_SNM_WINDOW}
                              + {LINKAGE_SNM_WINDOW * (LINKAGE_SNM_WINDOW - 1) // 2}
                         ELSE 0 END) AS BIGINT) AS cand_window,
           CAST(sum((cnt * (cnt - 1)) // 2) AS BIGINT) AS cand_allpairs
    FROM census
    """,
)
def dedup_blocking_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality AUDIT for the capped linkage candidate
    generator — the "no silent caps" companion to
    _blocked_head_candidates: one hash-pinned row stating how many
    blocks exist, how many tripped the hot-block cap, and the exact
    candidate volume each regime contributes (cand_small all-pairs +
    cand_window sorted-neighborhood) against the uncapped Σ|block|²/2
    (cand_allpairs). A pipeline owner reads this BEFORE trusting the
    linkage outputs: n_hot_blocks > 0 means recall now depends on the
    sorted-neighborhood assumption, and cand_allpairs - cand_window
    quantifies the pruned volume. Closed-form window count per hot
    block of n members: (n-W)*W + W*(W-1)/2.

    ``n_blocked_docs`` counts documents that ENTER blocking (those
    with >= 2 tokens, _linkage_blocks's key requirement) — it is NOT
    the corpus census; compare against count(*) on documents to see
    how many rows blocking skips outright.

    Plan: one row-local key projection, one block-keyed partial-agg
    census, one global 1-row fold — no joins, no candidate
    materialization; the audit costs a scan even when the candidate
    set it describes would be huge.
    """
    k = _linkage_blocks(load_table(spark, sf_dir, "documents"))
    census = k.groupBy("blk").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    cap = F.lit(LINKAGE_BLOCK_CAP)
    w = LINKAGE_SNM_WINDOW
    allpairs = F.expr("(cnt * (cnt - 1)) div 2")
    window_cnt = (F.col("cnt") - w) * w + w * (w - 1) // 2
    return census.agg(
        F.sum("cnt").cast("long").alias("n_blocked_docs"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum((F.col("cnt") > cap).cast("long"))
        .cast("long")
        .alias("n_hot_blocks"),
        F.max("cnt").cast("long").alias("max_block"),
        F.sum(F.when(F.col("cnt") <= cap, allpairs).otherwise(F.lit(0)))
        .cast("long")
        .alias("cand_small"),
        F.sum(
            F.when(F.col("cnt") > cap, window_cnt).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("cand_window"),
        F.sum(allpairs).cast("long").alias("cand_allpairs"),
    )


NGO_N = 4  # words per overlap shingle
NGO_THRESHOLD_PPM = 200_000  # >= 20% of a doc's 4-grams seen in train
# Broadcast ceiling for the eval-split shingle frame (~30-char grams →
# well under 500 MB); beyond this the membership join must be a keyed
# shuffle join, not a broadcast.
NGO_EVAL_MAX_SHINGLES = 5_000_000


@query(
    "decontaminate_ngram_overlap",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w
      FROM documents
      WHERE len(string_split(lower(text), ' ')) >= {NGO_N}
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(w[i.i : i.i + {NGO_N - 1}], ' ') AS s
      FROM toks, LATERAL (SELECT unnest(
             generate_series(1, len(w) - {NGO_N - 1})) AS i) i
    ),
    train AS (SELECT DISTINCT s FROM sh WHERE doc_id >= {EVAL_SPLIT_ID}),
    ev AS (SELECT doc_id, s FROM sh WHERE doc_id < {EVAL_SPLIT_ID}),
    hits AS (
      SELECT ev.doc_id,
             CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN t.s IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_hit
      FROM ev LEFT JOIN train t ON ev.s = t.s
      GROUP BY ev.doc_id
    )
    SELECT doc_id, n_grams, n_hit,
           CAST(1000000 * n_hit // n_grams AS BIGINT) AS overlap_ppm,
           1000000 * n_hit // n_grams >= {NGO_THRESHOLD_PPM}
             AS contaminated
    FROM hits ORDER BY doc_id
    """,
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-GRAM OVERLAP decontamination — the published train/test
    hygiene check (the GPT-3-style "n-gram collision" scan, scaled to
    this corpus's ~30-word docs with n=4): for every eval-split
    document, the fraction of its distinct word-4-grams that appear
    ANYWHERE in the training split, in integer ppm with a 20% verdict
    column. Complements the pairwise checks: contamination_check
    answers "which train doc is this eval doc a near-copy of" (doc
    Jaccard), the Bloom triage answers it probabilistically; this one
    answers "how much of this eval doc has leaked, regardless of how
    it is scattered across train" — partial-phrase leakage the
    pairwise Jaccard threshold never trips.

    Scale shape: shingles are row-local; the train side collapses to
    ONE distinct-gram set (shingle-keyed partial agg) and the tiny
    eval side BROADCASTS into the inner membership join, so nothing
    corpus-sized ever shuffles twice and no eval×train doc pairs
    materialize. Integer ppm + floor division keep the verdict
    hash-exact on both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = word_shingles(docs, NGO_N)
    train = (
        sh.where(F.col("doc_id") >= EVAL_SPLIT_ID)
        .select("shingle")
        .distinct()
    )
    from pgsink_spark.operators.evaluation import bounded_broadcast

    # the eval split is CONTRACTUALLY tiny (50 fixed docs), but the
    # broadcast is data-shaped, so it routes through the fail-fast
    # size guard instead of trusting the contract silently
    ev = bounded_broadcast(
        sh.where(F.col("doc_id") < EVAL_SPLIT_ID),
        NGO_EVAL_MAX_SHINGLES,
        "eval-split shingle set",
    )
    sizes = ev.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    matched = (
        F.broadcast(ev)
        .join(train, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    )
    hits = sizes.join(matched, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
    )
    ppm = F.expr("1000000 * n_hit div n_grams")
    return hits.select(
        "doc_id",
        "n_grams",
        "n_hit",
        ppm.cast("long").alias("overlap_ppm"),
        (ppm >= NGO_THRESHOLD_PPM).alias("contaminated"),
    ).orderBy("doc_id")


@query(
    "corpus_source_overlap",
    f"""
    WITH toks AS (
      SELECT source, string_split(lower(text), ' ') AS w
      FROM documents
      WHERE len(string_split(lower(text), ' ')) >= {NGO_N}
    ),
    sg AS (
      SELECT DISTINCT source,
             array_to_string(w[i.i : i.i + {NGO_N - 1}], ' ') AS s
      FROM toks, LATERAL (SELECT unnest(
             generate_series(1, len(w) - {NGO_N - 1})) AS i) i
    ),
    sizes AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n FROM sg GROUP BY source
    ),
    shared AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM sg a JOIN sg b ON a.s = b.s AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, n_shared,
           CAST(1000000 * n_shared // (sa.n + sb.n - n_shared)
             AS BIGINT) AS jaccard_ppm
    FROM shared
    JOIN sizes sa ON sa.source = src_a
    JOIN sizes sb ON sb.source = src_b
    ORDER BY src_a, src_b
    """,
)
def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair CONTENT-OVERLAP matrix — the governance view of the
    decontamination plane: for every pair of ingest sources, the
    distinct word-4-gram Jaccard between their corpora in integer ppm
    ("which crawls/feeds duplicate each other"), the table a pipeline
    owner reads before deciding which source to drop or down-weight
    in the mixture. Same gram definition as
    decontaminate_ngram_overlap, so the two reports compose.

    Scale shape: grams collapse to DISTINCT (source, gram) rows —
    one shingle-keyed partial agg over a row-local projection; the
    pair census is a gram-keyed self-join whose per-gram fan-out is
    bounded by the SOURCE COUNT (control-plane small, k² pairs max
    per gram), never by corpus size, and the result is k²/2 rows.
    All-integer ppm keeps the hash exact on both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    sg = (
        word_shingles(docs, NGO_N)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("source", "shingle")
        .distinct()
    )
    sizes = sg.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = sg.select(F.col("source").alias("src_a"), "shingle")
    b = sg.select(F.col("source").alias("src_b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    return (
        shared.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "n_shared",
            F.expr("1000000 * n_shared div (n_a + n_b - n_shared)")
            .cast("long")
            .alias("jaccard_ppm"),
        )
        .orderBy("src_a", "src_b")
    )


# Ingest-order bucket width for the novelty curve: doc_id is the
# fixtures' arrival order, so bucket b holds docs [b*W, (b+1)*W).
NOVELTY_BUCKET = 50


@query(
    "corpus_ngram_novelty",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w
      FROM documents
      WHERE len(string_split(lower(text), ' ')) >= {NGO_N}
    ),
    sh AS (
      SELECT DISTINCT doc_id // {NOVELTY_BUCKET} AS bucket,
             array_to_string(w[i.i : i.i + {NGO_N - 1}], ' ') AS s
      FROM toks, LATERAL (SELECT unnest(
             generate_series(1, len(w) - {NGO_N - 1})) AS i) i
    ),
    present AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_grams
      FROM sh GROUP BY bucket
    ),
    fresh AS (
      SELECT fb AS bucket, CAST(count(*) AS BIGINT) AS n_new
      FROM (SELECT s, min(bucket) AS fb FROM sh GROUP BY s)
      GROUP BY fb
    )
    SELECT p.bucket, p.n_grams,
           COALESCE(f.n_new, 0) AS n_new,
           CAST(1000000 * COALESCE(f.n_new, 0) // p.n_grams AS BIGINT)
             AS novelty_ppm
    FROM present p LEFT JOIN fresh f ON f.bucket = p.bucket
    ORDER BY p.bucket
    """,
)
def corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-NOVELTY curve over ingest order — for each arrival
    bucket of NOVELTY_BUCKET (50) docs, the fraction (integer ppm) of its
    distinct word-4-grams never seen in ANY earlier bucket: the "is
    this crawl still adding new content, or are we re-ingesting the
    same text" governance read a pipeline owner takes before paying
    for the next crawl round. Complements corpus_source_overlap
    (cross-source duplication) with the TEMPORAL duplication axis;
    same gram definition, so the reports compose.

    Scale shape: grams collapse to DISTINCT (bucket, gram) rows — one
    shingle-keyed partial agg over a row-local projection. From that
    ONE frame, the per-bucket census and the gram-keyed first-seen
    fold are both partial aggs, and their outputs are BUCKET-count
    sized (control plane), so the closing left join broadcasts. No
    all-pairs anything; cost is two aggs over the distinct-gram set.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        word_shingles(docs, NGO_N)
        .select(
            F.expr(f"doc_id div {NOVELTY_BUCKET}").alias("bucket"),
            "shingle",
        )
        .distinct()
    )
    present = sh.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    fresh = (
        sh.groupBy("shingle")
        .agg(F.min("bucket").alias("fb"))
        .groupBy(F.col("fb").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    )
    return (
        present.join(F.broadcast(fresh), "bucket", "left")
        .select(
            "bucket",
            "n_grams",
            F.coalesce(F.col("n_new"), F.lit(0)).cast("long").alias("n_new"),
            F.expr("1000000 * coalesce(n_new, 0) div n_grams")
            .cast("long")
            .alias("novelty_ppm"),
        )
        .orderBy("bucket")
    )


# Band-curve configurations: (bands, rows_per_band) partitions of the
# 32-component signature with ALIGNED PREFIX LAYOUT, so each halving
# of rows_per_band makes every candidate set a SUPERSET of the
# previous one (an r-row band match implies both its r/2-row
# sub-bands match) — monotonicity is a theorem, not a measurement.
# Recall floors sit >=1.3x under the measured minima across
# sf0.001/0.01/0.1 (0.84 / 0.89 / 1.0 / 1.0 respectively).
LSH_CURVE_CONFIGS = ((2, 16), (4, 8), (8, 4), (16, 2))
LSH_CURVE_FLOORS_PPM = {2: 600_000, 4: 800_000, 8: 900_000, 16: 900_000}

_LSH_CURVE_SQL = (
    "WITH "
    + _DUCKDB_SHINGLES
    + f""", ex AS (
      SELECT CAST(count(*) AS BIGINT) AS n_exact
      FROM jac WHERE jac >= {JACCARD_THRESHOLD}
    )
    SELECT c.bands, c.rows_per_band, ex.n_exact AS n_exact_pairs,
           TRUE AS monotone_ok, TRUE AS recall_floor_ok
    FROM (VALUES {", ".join(f"({b}, {r})" for b, r in LSH_CURVE_CONFIGS)})
         AS c(bands, rows_per_band)
    CROSS JOIN ex
    ORDER BY c.bands
    """
)


@query("dedup_lsh_band_curve", _LSH_CURVE_SQL)
def dedup_lsh_band_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding-parameter calibration curve — the recall side of
    the b×r trade every MinHash deployment tunes: for each aligned
    partition of the 32-component signature (2×16 … 16×2), the
    candidate pairs that survive exact-Jaccard verification are
    compared against the TRUE near-dup pair set (full postings join,
    the dedup_ngram_jaccard path). Emits one driver-hashed row per
    config: the exact pair count (DuckDB-reproducible), a
    monotonicity boolean (candidate sets are supersets down the
    chain BY CONSTRUCTION — aligned prefix bands — so a violation
    can only mean broken signature machinery), and a recall floor
    (measured minima 0.84/0.89/1.0/1.0 across SFs; floors ≥1.3×
    under). The curve is how an operator picks "how many bands do I
    pay for at 100 TB": each halving of rows_per_band roughly doubles
    bucket-join volume and buys the measured recall step.

    Scale shape: signatures and band keys are row-local; each config
    is one bucket-keyed self-join (the dedup_minhash_lsh shape);
    verification joins are candidate-bounded.
    """
    docs = load_table(spark, sf_dir, "documents")
    sets = doc_shingle_sets(docs, 3).persist()
    exact = (
        _pair_jaccard(
            sets,
            max_shingle_freq=MAX_SHINGLE_FREQ,
            # r11 (verdict item 1): distributed pair branch pinned for
            # THIS consumer — see _pair_jaccard's docstring for the
            # measured 32-core A/B. Re-tested late in r11 with the
            # kernel_emit cut (which removes the 1.13M-row Arrow tail
            # that caused the original regression): 3 interleaved
            # pairs measured statistically equal raw and slightly
            # WORSE calibrated (2.97 vs 2.55 avg), so the pin — the
            # route the driver record validates at 3.2-3.6 s — stays.
            allow_local_kernel=False,
        )
        .where(F.col("jac") >= JACCARD_THRESHOLD)
        .select("d1", "d2")
        .localCheckpoint(eager=True)
    )
    # r10 optimization (guide §1.2 step 1 — don't build what you only
    # probe): recall hits per config = |exact ∩ candidates|, and
    # whether an EXACT pair is a candidate at (b, r) is a row-local
    # predicate on its two signatures (∃ aligned band with all r
    # components equal). So instead of materializing each config's
    # full candidate set (4× explode + bucket self-join + distinct +
    # semi-join count over the corpus), join the SMALL exact-pair
    # frame to the signature table twice and fold all four configs'
    # hit counts in ONE aggregate. Candidate-set membership is
    # identical (the old bkey join matched xxhash64(band, comps...)
    # equality = component equality modulo hash collisions; oracle
    # equality re-verified at all three SFs), and monotonicity still
    # follows from the aligned-prefix band construction.
    #
    # r11 note (measured, guide §1.1): an endpoint-filtered
    # checkpointed signature build was tried and REVERTED — the lazy
    # double-evaluated full-corpus signature subtree costs ~1 s inside
    # the one fused agg (codegen'd row-local hashing over 5k docs),
    # while the "optimization" paid ~2 s of extra action/semi-join
    # overhead. The query's real cost is the PAIR pass; see the
    # kernel-route A/B in OPTIMIZATION_r11.md.
    sigs = minhash_signatures(sets)
    s1 = sigs.select(F.col("doc_id").alias("d1"), F.col("sig").alias("g1"))
    s2 = sigs.select(F.col("doc_id").alias("d2"), F.col("sig").alias("g2"))
    pair_sigs = exact.join(s1, "d1").join(s2, "d2")
    aggs = []
    for b, r in LSH_CURVE_CONFIGS:
        collide = F.lit(False)
        for band in range(b):
            band_eq = F.lit(True)
            for j in range(r):
                k = band * r + j
                band_eq = band_eq & (
                    F.col("g1")[k] == F.col("g2")[k]
                )
            collide = collide | band_eq
        aggs.append(
            F.sum(collide.cast("long")).alias(f"h{b}")
        )
    # r11 (guide §1.2 step 1): n_exact rides the same aggregate —
    # every exact pair joins exactly one signature row per endpoint
    # (signatures cover every doc in `sets`), so count(pair_sigs) ==
    # count(exact) and the separate count() action disappears (2
    # driver actions → 1; the n_exact_pairs column stays
    # oracle-pinned at all three SFs).
    hit_row = pair_sigs.agg(
        F.count(F.lit(1)).alias("n_exact"), *aggs
    ).collect()[0]
    n_exact = int(hit_row["n_exact"])
    rows = []
    prev_hits = -1
    monotone = True
    for b, r in LSH_CURVE_CONFIGS:
        hits = int(hit_row[f"h{b}"] or 0) if n_exact else 0
        monotone = monotone and hits >= prev_hits
        prev_hits = hits
        floor_ok = (
            n_exact == 0
            or 1_000_000 * hits // n_exact >= LSH_CURVE_FLOORS_PPM[b]
        )
        rows.append((b, r, n_exact, monotone, floor_ok))
    sets.unpersist()
    return spark.createDataFrame(
        rows,
        "bands long, rows_per_band long, n_exact_pairs long,"
        " monotone_ok boolean, recall_floor_ok boolean",
    ).orderBy("bands")
