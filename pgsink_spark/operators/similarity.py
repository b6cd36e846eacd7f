"""Embedding similarity search over ``embeddings`` (north-star surface).

Scale design: the brute-force path is a broadcast-nested-loop of a tiny
query set against the full corpus — queries are broadcast, candidates
stream through executors, per-query top-k via partial top-k + final
merge (TakeOrderedAndProject / ranking window on the small query key
space). The IVF path prunes the corpus with a coarse quantizer (cluster
centroids) so each query scans only ``nprobe`` partitions — at 100 TB
the corpus stays partitioned by centroid id (partition pruning on read).

All distance math runs JVM-side via higher-order functions
(``zip_with`` + ``aggregate``) on float64 — no Python in the hot path.
A vectorized Pandas-UDF variant is provided for wide batches where
Arrow + NumPy beats codegen (see ``cosine_topk_pandas``).
"""

from __future__ import annotations

import os
from math import sqrt as math_sqrt

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from pgsink_spark.operators.registry import query
from pgsink_spark.sources.fixtures import load_table


def as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right fold — bit-identical across engines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm2(a: Column) -> Column:
    return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(norm2(a)) * F.sqrt(norm2(b)))


def brute_force_topk(
    emb: DataFrame, queries: DataFrame, k: int = 10
) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    ``queries`` must have (q_id, q_emb double[]); broadcast (it is the
    small side by construction). Returns (q_id, vec_id, rnk).
    """
    cand = emb.select(
        "vec_id", as_double(F.col("embedding")).alias("c_emb")
    )
    scored = cand.join(F.broadcast(queries), F.col("vec_id") != F.col("q_id"))
    scored = scored.select(
        "q_id",
        "vec_id",
        cosine(F.col("q_emb"), F.col("c_emb")).alias("cos"),
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", "vec_id", "rnk")
    )


def brute_force_topk_arrow(
    emb: DataFrame, queries: DataFrame, k: int = 10
) -> DataFrame:
    """Exact top-k neighbors, Arrow-batched with BIT-IDENTICAL fold
    arithmetic (r10 — the hot-path twin of :func:`brute_force_topk`).

    The JVM ``zip_with``/``aggregate`` cosine fold is interpreted
    per-element, which dominates the exact-search queries at fixture
    scale. This kernel accumulates per-DIMENSION across the batch
    (``acc += q[j] * E[:, j]`` for j left-to-right), which performs,
    per row, the exact IEEE-754 double operation sequence of the
    sequential fold — products and additions in the same order, no
    pairwise/SIMD re-association, no FMA — so every cosine, hence
    every ranking and driver hash, is bit-identical to the fold
    scorer (pinned by test_arrow_topk_bitwise_matches_fold).

    Scale shape: map-side partial top-k — each Arrow batch emits at
    most |Q|·k candidate rows (NaN cosines rank first, matching
    Spark's NaN-greatest desc ordering), so the final ranking window
    sees (batches × |Q| × k) rows instead of n×|Q|. At 100 TB the
    shuffle is control-plane sized; the corpus is read once.

    ``queries`` must be control-plane small (it is collected, like
    the broadcast in the fold twin). Returns (q_id, vec_id, rnk).
    """
    import numpy as np
    import pandas as pd

    q_consts = []
    for r in queries.collect():
        qe = [float(x) for x in r["q_emb"]]
        qn2 = 0.0
        for x in qe:  # sequential fold, same order as norm2()
            qn2 += x * x
        q_consts.append((r["q_id"], qe, math_sqrt(qn2)))

    cand = emb.select(
        "vec_id", as_double(F.col("embedding")).alias("c_emb")
    )

    def score(it):
        for pdf in it:
            if pdf.empty:
                continue
            E = np.stack(pdf["c_emb"].to_numpy())
            ids = pdf["vec_id"].to_numpy()
            d = E.shape[1]
            n2 = np.zeros(len(E))
            for j in range(d):  # left-to-right: ((0 + x0²) + x1²) + …
                c = E[:, j]
                n2 = n2 + c * c
            rn = np.sqrt(n2)
            out_q, out_v, out_c = [], [], []
            for q_id, qe, qn in q_consts:
                dp = np.zeros(len(E))
                for j in range(d):
                    dp = dp + qe[j] * E[:, j]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dp / (qn * rn)
                m = ids != q_id
                cosm, idsm = cos[m], ids[m]
                # Spark sorts NaN greater than any value → first under
                # desc; emulate with a -inf sort key ascending
                key = np.where(np.isnan(cosm), -np.inf, -cosm)
                order = np.lexsort((idsm, key))[:k]
                out_q.append(np.full(len(order), q_id, dtype=np.int64))
                out_v.append(idsm[order])
                out_c.append(cosm[order])
            if out_q:
                yield pd.DataFrame(
                    {
                        "q_id": np.concatenate(out_q),
                        "vec_id": np.concatenate(out_v),
                        "cos": np.concatenate(out_c),
                    }
                )

    scored = cand.mapInPandas(score, "q_id long, vec_id long, cos double")
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", "vec_id", "rnk")
    )


@query(
    "d20_similarity_topk",
    """
        SELECT b.vec_id FROM embeddings a
        JOIN embeddings b ON a.vec_id = 1 AND b.vec_id <> 1
        ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])) DESC,
                 b.vec_id
        LIMIT 10
    """,
)
def d20_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-D20: top-10 nearest to vec_id=1 by cosine (exact baseline)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("q_id"),
        as_double(F.col("embedding")).alias("q_emb"),
    )
    return (
        brute_force_topk_arrow(emb, q, k=10)
        .select("vec_id")
        .orderBy("vec_id")
    )


@query(
    "ann_bruteforce_topk",
    """
        SELECT q_id, vec_id, rnk FROM (
          SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                   CAST(b.embedding AS DOUBLE[])) DESC,
                            b.vec_id) AS rnk
          FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
          WHERE a.vec_id < 5) t
        WHERE rnk <= 5 ORDER BY q_id, rnk
    """,
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 neighbors for each of the first 5 vectors (multi-query
    fan-out: one corpus pass with map-side partial top-k for all
    queries)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        as_double(F.col("embedding")).alias("q_emb"),
    )
    return brute_force_topk_arrow(emb, q, k=5).orderBy("q_id", "rnk")


def ivf_centroids(emb: DataFrame) -> DataFrame:
    """Coarse quantizer: per-label centroid = element-wise mean.

    The fixture's ``label`` column stands in for a k-means assignment
    (at scale: run Spark ML KMeans once, persist centroids + assignment,
    partition the corpus by centroid id).
    """
    dim_vals = emb.select(
        "label", F.posexplode(as_double(F.col("embedding"))).alias("pos", "v")
    )
    return (
        dim_vals.groupBy("label", "pos")
        .agg(F.avg("v").alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            "label", F.transform("pm", lambda s: s["m"]).alias("centroid")
        )
    )


def ann_ivf_topk(
    spark: SparkSession, sf_dir: str, k: int = 5, nprobe: int = 2
) -> DataFrame:
    """IVF-style ANN: route each query to its ``nprobe`` nearest
    centroids, then exact search only within those label partitions.

    Approximate by design — tests check recall vs the brute-force
    baseline rather than equality; the driver records a rows-only check.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf_centroids(emb)
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        as_double(F.col("embedding")).alias("q_emb"),
    )
    # probe selection: tiny (queries × centroids) cross product
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "q_id",
            "q_emb",
            "label",
            cosine(F.col("q_emb"), F.col("centroid")).alias("cc"),
        )
        .withColumn(
            "prnk",
            F.row_number().over(
                W.partitionBy("q_id").orderBy(F.col("cc").desc(), F.col("label"))
            ),
        )
        .where(F.col("prnk") <= nprobe)
        .select("q_id", "q_emb", "label")
    )
    cand = emb.select(
        "vec_id", "label", as_double(F.col("embedding")).alias("c_emb")
    )
    scored = (
        cand.join(F.broadcast(probes), on="label")
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id", "vec_id", cosine(F.col("q_emb"), F.col("c_emb")).alias("cos")
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", "vec_id", "rnk")
        .orderBy("q_id", "rnk")
    )


def _hyperplane_sign(vec: Column, plane: int) -> Column:
    """Sign bit of a deterministic pseudo-random hyperplane projection.

    The hyperplane's d-th coefficient is ±1 chosen by the parity of
    xxhash64(plane, d) — a reproducible Rademacher projection (no RNG
    state, identical on every executor and every run; Spark scripts
    can't use random seeds without breaking replay). sum_d coef_d·v_d
    is computed as one row-local fold.
    """
    return (
        F.aggregate(
            F.zip_with(
                vec,
                F.sequence(F.lit(0), F.size(vec) - 1),
                lambda x, i: F.when(
                    F.xxhash64(F.lit(plane), i).bitwiseAND(F.lit(1)) == 1, x
                ).otherwise(-x),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        > 0
    ).cast("int")


def lsh_bucket(vec: Column, n_planes: int = 8) -> Column:
    """Random-hyperplane LSH bucket id: n_planes sign bits packed into
    an int. Cosine-similar vectors agree on most hyperplane sides, so
    they collide with probability (1 - θ/π)^n_planes."""
    bucket = F.lit(0)
    for p in range(n_planes):
        bucket = bucket + F.shiftleft(_hyperplane_sign(vec, p), p)
    return bucket


def ann_lsh_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    n_planes: int = 4,
    probe_radius: int = 1,
) -> DataFrame:
    """LSH-bucketed ANN (the other scale path next to IVF): bucket the
    corpus by random-hyperplane signature, search each query only
    within its probe buckets.

    The REGISTERED default is the multi-probe configuration (4 planes,
    radius 1 → probes 5/16 buckets) — single-probe on this weakly
    clustered fixture has near-zero recall, and an engine should not
    ship a default its own recall gate would fail. ``probe_radius``
    selects the probe set: radius r probes every
    bucket within Hamming distance r of the query's own signature
    (r=0 → classic single-bucket; r=1 → 1+n_planes buckets). Flipping
    sign bits is exactly the published multi-probe trick — recall
    rises steeply while the scanned fraction stays
    Σ_{i≤r} C(n_planes,i) / 2^n_planes of the corpus, and the corpus
    partitioning (by bucket id) is untouched: only the query's probe
    SET grows, so no re-ingest, no extra shuffle (probe expansion is
    an explode on the tiny broadcast query side).

    Approximate by construction (rows-only driver check; the
    ``ann_lsh_recall`` twin is the falsifiable gate). At 100 TB the
    corpus is written partitioned by bucket id, so a probe reads
    |probes| partitions; bucketing is computed row-locally at ingest.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cand = emb.select(
        "vec_id",
        as_double(F.col("embedding")).alias("c_emb"),
    ).withColumn("bucket", lsh_bucket(F.col("c_emb"), n_planes))
    q = cand.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("c_emb").alias("q_emb"),
        "bucket",
    )
    if probe_radius >= 1:
        # probe set = own bucket + all single-bit flips (radius 1);
        # the expansion happens on the ≤|Q| broadcast side only
        probe_sets = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << p))
                for p in range(n_planes)
            ],
        )
        q = q.select(
            "q_id", "q_emb", F.explode(probe_sets).alias("bucket")
        )
    scored = (
        cand.join(F.broadcast(q), on="bucket")
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            cosine(F.col("q_emb"), F.col("c_emb")).alias("cos"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", "vec_id", "rnk")
        .orderBy("q_id", "rnk")
    )


def _normalized(vec: Column) -> Column:
    n = F.sqrt(norm2(vec))
    return F.transform(vec, lambda x: x / n)


def _sq_dist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _make_tile_kernel(threshold: float):
    """Build the per-tile verify kernel shared by every
    ``_blocked_tile_pairs`` plan shape (admission-blocked tiles and the
    single-tile fast path): applyInPandas → NumPy GEMM with the
    exact-value collapse inlined — np.unique per side, GEMM over
    distinct vectors, row-local expansion back to id pairs. Each group
    is one (cell_i × cell_j) tile so peak memory is bounded by the
    largest admissible tile, not the corpus. Diagonal tiles ship each
    row once (side 0 only) — the kernel mirrors them."""
    import numpy as np
    import pandas as pd

    def _collapse(rows: "pd.DataFrame"):
        E = np.stack(rows["e"].to_numpy())
        ids = rows["vec_id"].to_numpy()
        uniq, inv = np.unique(E, axis=0, return_inverse=True)
        inv = inv.ravel()  # numpy 2.0 shapes axis-inverse as (n, 1)
        order = np.argsort(inv, kind="stable")
        sorted_ids = ids[order]
        cnt = np.bincount(inv)
        off = np.concatenate(([0], np.cumsum(cnt)))
        with np.errstate(divide="ignore", invalid="ignore"):
            norms = np.linalg.norm(uniq, axis=1, keepdims=True)
            U = uniq / norms  # zero-norm rows → NaN → sims NaN → never ≥ t
        return U, sorted_ids, cnt, off, norms.ravel()

    def _expand(gi, gj, idsA, cntA, offA, idsB, cntB, offB):
        """All id combos for each qualifying distinct-pair (g, h) —
        row-local, cost = output size. Fast path when neither side has
        duplicates (the dedup-clean fixture): pure vectorized gather."""
        if cntA.max(initial=1) == 1 and cntB.max(initial=1) == 1:
            a, b = idsA[offA[gi]], idsB[offB[gj]]
            return [np.minimum(a, b)], [np.maximum(a, b)]
        d1p, d2p = [], []
        for g, h in zip(gi, gj):
            a = np.repeat(idsA[offA[g] : offA[g + 1]], cntB[h])
            b = np.tile(idsB[offB[h] : offB[h + 1]], cntA[g])
            d1p.append(np.minimum(a, b))
            d2p.append(np.maximum(a, b))
        return d1p, d2p

    def verify_tile(pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame(
            {
                "d1": pd.Series(dtype="int64"),
                "d2": pd.Series(dtype="int64"),
            }
        )
        diag = bool(pdf["ca"].iat[0] == pdf["cb"].iat[0])
        a_rows = pdf[pdf["side"] == 0]
        b_rows = a_rows if diag else pdf[pdf["side"] == 1]
        if a_rows.empty or b_rows.empty:
            return empty
        UA, idsA, cntA, offA, normsA = _collapse(a_rows)
        d1p, d2p = [], []
        if diag:
            S = UA @ UA.T
            iu, ju = np.triu_indices(len(UA), k=1)
            q = S[iu, ju] >= threshold
            gi, gj = iu[q], ju[q]
            if gi.size:
                p1, p2 = _expand(gi, gj, idsA, cntA, offA, idsA, cntA, offA)
                d1p += p1
                d2p += p2
            # within-group: bit-identical vectors have cos = 1 ≥ t for
            # t ≤ 1 unless zero-norm, where the cosine is undefined and
            # the GEMM path drops it too (NaN comparison)
            if threshold <= 1.0:
                for g in np.nonzero((cntA >= 2) & (normsA > 0))[0]:
                    mem = np.sort(idsA[offA[g] : offA[g + 1]])
                    ii, jj = np.triu_indices(len(mem), k=1)
                    d1p.append(mem[ii])
                    d2p.append(mem[jj])
        else:
            UB, idsB, cntB, offB, _ = _collapse(b_rows)
            S = UA @ UB.T
            gi, gj = np.nonzero(S >= threshold)
            if gi.size:
                p1, p2 = _expand(gi, gj, idsA, cntA, offA, idsB, cntB, offB)
                d1p += p1
                d2p += p2
        if not d1p:
            return empty
        return pd.DataFrame(
            {"d1": np.concatenate(d1p), "d2": np.concatenate(d2p)}
        )

    return verify_tile


#: Single-tile fast-path gate: when the corpus (or its distinct-value
#: representative set) has at most this many rows, the whole search is
#: ONE diagonal tile — the n×n similarity matrix is ≤ 8192²·8 B =
#: 512 MB inside one Arrow task (well under a 4 GB/task budget), and
#: the cell-stats passes + tile-admission shuffle are pure overhead at
#: that size (a loose threshold admits every tile anyway, shipping
#: each row to K copies). Above the gate the triangle-admission
#: blocked plan is the scale route; the 100× probe replicas exceed the
#: gate so the blocked path stays probe-exercised.
SMALL_TILE_MAX_ROWS = 8192


def _blocked_tile_pairs(
    spark: SparkSession,
    e_rows: DataFrame,
    threshold: float,
    n_rows: int | None = None,
) -> DataFrame:
    """Exact blocked cosine-pair search over ``(vec_id, label, e)``
    rows: triangle-inequality cell admission + per-tile NumPy GEMM with
    an in-kernel exact-value collapse. Returns ``(d1, d2)`` id pairs
    (d1 < d2), unordered. Shared by both dedup_embedding_pairs branches.

    ``n_rows`` (when the caller already knows it — the adaptive census
    does) gates the FAISS-style small-corpus fast path: at or below
    :data:`SMALL_TILE_MAX_ROWS` the whole corpus is verified as one
    diagonal tile through the SAME kernel (one group, no cell stats,
    no admission join), because blocking overhead dominates any corpus
    that fits a single bounded GEMM. Identical arithmetic either way —
    the gate steers cost only, never results.

    Cell stats are two Arrow-batched mapInPandas partial-aggregate
    passes (the r9 posexplode/higher-order-fold stats pass was
    interpreted per-element and cost more at fixture scale than the
    verify kernel itself). Partial outputs are (partitions × K) rows,
    control-plane sized at any corpus scale; zero-norm vectors are
    excluded from the stats (they can never emit a pair: cosine
    undefined → NaN-dropped in the kernel, and the within-group
    expansion gates on norm > 0). Any fixed per-cell reference point
    keeps the triangle bound valid, so the centroid-over-all-rows is
    conservative.
    """
    import math

    import numpy as np
    import pandas as pd

    verify_tile = _make_tile_kernel(threshold)

    if n_rows is not None and 0 <= n_rows <= SMALL_TILE_MAX_ROWS:
        # Small-corpus fast path: the whole corpus is ONE diagonal
        # tile — no cell-stats passes, no admission join, one Arrow
        # group through the same kernel. Bounded by the gate: the
        # kernel's S matrix is ≤ 8192²·8 B.
        tagged = e_rows.select(
            F.lit(0).alias("ca"),
            F.lit(0).alias("cb"),
            "vec_id",
            "e",
            F.lit(0).alias("side"),
        )
        return tagged.groupBy("ca", "cb").applyInPandas(
            verify_tile, "d1 long, d2 long"
        )

    def _cent_partials(it):
        for pdf in it:
            if pdf.empty:
                continue
            E = np.stack(pdf["e"].to_numpy())
            norms = np.linalg.norm(E, axis=1, keepdims=True)
            keep = norms.ravel() > 0
            if not keep.any():
                continue
            U = E[keep] / norms[keep]
            labs = pdf["label"].to_numpy()[keep]
            out = [
                (int(lab), U[labs == lab].sum(axis=0).tolist(),
                 int((labs == lab).sum()))
                for lab in np.unique(labs)
            ]
            yield pd.DataFrame(out, columns=["label", "s", "n"])

    cent_rows = (
        e_rows.select("label", "e")
        .mapInPandas(_cent_partials, "label long, s array<double>, n long")
        .collect()
    )
    sums: dict = {}
    cnts: dict = {}
    for r in cent_rows:
        lab = r["label"]
        sums[lab] = sums.get(lab, 0) + np.asarray(r["s"])
        cnts[lab] = cnts.get(lab, 0) + r["n"]
    cent_map = {lab: (sums[lab] / cnts[lab]).tolist() for lab in sums}

    def _radius_partials(it):
        for pdf in it:
            if pdf.empty:
                continue
            E = np.stack(pdf["e"].to_numpy())
            norms = np.linalg.norm(E, axis=1, keepdims=True)
            keep = norms.ravel() > 0
            if not keep.any():
                continue
            U = E[keep] / norms[keep]
            labs = pdf["label"].to_numpy()[keep]
            out = [
                (
                    int(lab),
                    float(
                        np.linalg.norm(
                            U[labs == lab] - np.asarray(cent_map[int(lab)]),
                            axis=1,
                        ).max()
                    ),
                )
                for lab in np.unique(labs)
            ]
            yield pd.DataFrame(out, columns=["label", "d"])

    rad_rows = (
        e_rows.select("label", "e")
        .mapInPandas(_radius_partials, "label long, d double")
        .collect()
    )
    rad_map: dict = {}
    for r in rad_rows:
        rad_map[r["label"]] = max(rad_map.get(r["label"], 0.0), r["d"])

    # admissible ordered cell pairs (control plane: K is small)
    reach = math.sqrt(max(0.0, 2.0 - 2.0 * threshold)) + 1e-9
    cells = {lab: (cent_map[lab], rad_map[lab]) for lab in cent_map}
    pairs = []
    for la, (ca, ra) in cells.items():
        for lb, (cb, rb) in cells.items():
            if la > lb:
                continue  # unordered cell pairs; ids ordered in-kernel
            cd = math.sqrt(sum((x - y) ** 2 for x, y in zip(ca, cb)))
            if cd <= ra + rb + reach:
                pairs.append((la, lb))
    pairs_df = spark.createDataFrame(pairs, "ca long, cb long")

    # verify kernel: one blocked GEMM per admissible cell pair (the
    # FAISS-style inner loop — see _make_tile_kernel).
    tagged_a = e_rows.join(
        F.broadcast(pairs_df), F.col("label") == F.col("ca")
    ).select("ca", "cb", "vec_id", "e", F.lit(0).alias("side"))
    tagged_b = e_rows.join(
        F.broadcast(pairs_df),
        (F.col("label") == F.col("cb")) & (F.col("ca") != F.col("cb")),
    ).select("ca", "cb", "vec_id", "e", F.lit(1).alias("side"))
    return (
        tagged_a.unionByName(tagged_b)
        .groupBy("ca", "cb")
        .applyInPandas(verify_tile, "d1 long, d2 long")
    )


@query(
    "dedup_embedding_pairs",
    """
        SELECT a.vec_id AS d1, b.vec_id AS d2
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.4
        ORDER BY d1, d2
    """,
)
def dedup_embedding_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.4
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (vec_id asc), blocked exact.

    Scale shape (replaces the r1 all-pairs self-join, an O(n²)
    scale-killer), two layers plus an adaptive gate:

    1. **IVF-style blocking with a deterministic exactness
       guarantee**. On unit vectors, cos(a,b) ≥ t ⇔ ‖â−b̂‖ ≤ √(2−2t);
       with per-cell centroids c_i and radii r_i, the triangle
       inequality admits a cell pair only when
       ‖c_i−c_j‖ ≤ r_i + r_j + √(2−2t) — any pair in a skipped cell
       pair provably cannot qualify, so recall is 100% (no LSH-style
       probability; qualifying pairs in this corpus sit right at the
       0.4 boundary, where banded LSH cannot guarantee the oracle).
    2. **Exact-value collapse, census-gated** (r10, closing the r9
       verdict's gate breach): a one-scan duplicate-mass census
       (count vs approx_count_distinct of xxhash64(label, vector))
       picks WHERE the collapse runs, AQE-style:
       - **dedup-clean corpus** (the fixture; dup_ratio ≤ 0.25): the
         collapse lives INSIDE the tile kernel — np.unique per side,
         GEMM over distinct vectors, row-local expansion — zero plan
         change, zero extra shuffles/persists, so clean data pays
         only the census scan (the r9 plan-level layer cost the
         fixture 3× for zero benefit and breached the 2× bench gate).
       - **duplicate-heavy corpus** (replica mass, boilerplate
         re-encodes; dup_ratio > 0.25): the collapse is PLAN-level —
         group bit-identical (label, vector) values first, run the
         tile search over one representative per group (shuffle moves
         DISTINCT vectors only), and regenerate output pairs by
         codegen explode of the group id-lists (cross-group combos
         for qualifying representative pairs; within-group all-pairs,
         since cos(v,v)=1 ≥ t for norm>0). Verify work is invariant
         under duplication; expansion cost equals output size.

    Both branches are exact and emit identical pairs, so the output —
    hence the driver hash — matches the all-pairs oracle at any scale
    regardless of which branch the census picks (the approx-distinct
    estimate only steers cost, never results). Threshold contract: t
    strictly below 1 − 1e-9 (at exactly t = 1.0 the collapse layers
    emit bit-identical pairs the numeric GEMM may score at 1 − ε and
    drop; the default 0.4 and any realistic near-dup threshold are far
    from the boundary). dedup_embedding_collapse_audit reports the
    exact census behind the gate.

    Tile-granularity gate (r10): the census row count also picks the
    TILE plan — at ≤ SMALL_TILE_MAX_ROWS rows (or distinct reps, in
    the dup branch) the whole corpus is ONE diagonal tile through the
    same kernel (no cell-stats passes, no admission shuffle: blocking
    a corpus that fits a single bounded GEMM is pure overhead — the
    FAISS brute-force-under-threshold rule); above it, the
    triangle-admission blocked plan is the scale route. The probe
    replicas' value-identical mass collapses BELOW the gate (the
    probe measures the collapse+single-tile route, the right plan for
    that corpus); the admission route is pinned exact by a direct
    parity test (test_admission_blocked_path_is_exact).

    Plan shape: cell stats are mapInPandas partial-agg passes; the
    admissible cell-pair list (K² driver-side, K = label count)
    broadcasts; the candidate join is *equi on cell id* — no cartesian
    product. At 100 TB comparisons scale with Σ admissible
    |dist_i|·|dist_j| over DISTINCT vectors, never n².
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e0 = emb.select(
        "vec_id", "label", as_double(F.col("embedding")).alias("e")
    )
    return _embedding_pairs_adaptive(spark, e0, threshold)


def _embedding_pairs_adaptive(
    spark: SparkSession, e0: DataFrame, threshold: float
) -> DataFrame:
    """Census-gated adaptive core of :func:`dedup_embedding_pairs`,
    shared with :func:`dedup_embedding_dup_branch` (the driver query
    that pins the plan-level branch). ``e0`` is (vec_id, label, e)."""
    census = e0.agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct(F.xxhash64("label", "e")).alias("nd"),
    ).head()
    n_rows = census["n"] or 0
    dup_ratio = (
        0.0 if n_rows == 0 else max(0.0, 1.0 - census["nd"] / n_rows)
    )

    if dup_ratio <= 0.25:
        return _blocked_tile_pairs(
            spark, e0, threshold, n_rows=n_rows
        ).orderBy("d1", "d2")

    # plan-level collapse: gid = min vec_id of the value-group, ids =
    # the sorted member list (array width bounded by the corpus' max
    # duplication multiplicity). localCheckpoint (not persist) so the
    # blocks are released by the ContextCleaner when the plan is GC'd
    # instead of leaking named cache entries across registry runs.
    groups = (
        e0.groupBy("label", "e")
        .agg(
            F.sort_array(F.collect_list("vec_id")).alias("ids"),
            F.min("vec_id").alias("gid"),
        )
        .localCheckpoint(eager=True)
    )
    reps = groups.select(F.col("gid").alias("vec_id"), "label", "e")
    # the approx-distinct estimate (±2%) is the rep count — good
    # enough for the single-tile cost gate, which steers plan shape
    # only, never results
    rep_pairs = _blocked_tile_pairs(
        spark, reps, threshold, n_rows=int(census["nd"] or 0)
    )

    # expansion back to vec_id pairs — cost = output size. Cross-group:
    # every id combo of a qualifying representative pair qualifies
    # (same values). Group id ranges can interleave, so the pair is
    # re-ordered per id combo, not per group.
    ids1 = groups.select(F.col("gid").alias("d1"), F.col("ids").alias("ids1"))
    ids2 = groups.select(F.col("gid").alias("d2"), F.col("ids").alias("ids2"))
    cross = (
        rep_pairs.join(ids1, "d1")
        .join(ids2, "d2")
        .select(F.explode("ids1").alias("i1"), "ids2")
        .select("i1", F.explode("ids2").alias("i2"))
        .select(
            F.least("i1", "i2").alias("d1"),
            F.greatest("i1", "i2").alias("d2"),
        )
    )
    # Within-group: identical vectors have cos = 1 ≥ t (for t ≤ 1)
    # unless the vector is all-zero, where the cosine is undefined and
    # the GEMM path drops it too (NaN comparison) — keep both paths
    # consistent by gating on norm > 0.
    norm_sq = F.aggregate(
        F.transform(F.col("e"), lambda x: x * x),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    all_id_pairs = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "y -> struct(x AS d1, y AS d2))))"
    )
    within = (
        groups.where((F.size("ids") >= 2) & (norm_sq > 0))
        .select(F.explode(all_id_pairs).alias("p"))
        .select(F.col("p.d1").alias("d1"), F.col("p.d2").alias("d2"))
    )
    if threshold > 1.0:  # degenerate: nothing can qualify, even dups
        within = within.where(F.lit(False))
    return cross.unionByName(within).orderBy("d1", "d2")


def dedup_embedding_pairs_allpairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.4
) -> DataFrame:
    """The unblocked O(n²) form — pytest oracle for the blocked path."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(
        F.col("vec_id").alias("d1"), as_double(F.col("embedding")).alias("e1")
    )
    b = emb.select(
        F.col("vec_id").alias("d2"), as_double(F.col("embedding")).alias("e2")
    )
    return (
        a.join(b, F.col("d1") < F.col("d2"))
        .select("d1", "d2", cosine(F.col("e1"), F.col("e2")).alias("cos"))
        .where(F.col("cos") >= threshold)
        .select("d1", "d2")
        .orderBy("d1", "d2")
    )


def cosine_topk_pandas(
    emb: DataFrame, query_vec: list[float], k: int = 10
) -> DataFrame:
    """Vectorized NumPy scorer (Arrow-batched) — the wide-batch
    alternative to the fold-based scorer; same contract as
    ``brute_force_topk`` for one query."""
    from pgsink_spark.functions.udfs import make_cosine_scorer

    score = make_cosine_scorer(query_vec)
    return (
        emb.select("vec_id", score(F.col("embedding")).alias("cos"))
        .orderBy(F.col("cos").desc(), F.col("vec_id"))
        .limit(k)
    )


def ann_ivf_kmeans_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    nprobe: int = 2,
    n_cells: int = 8,
) -> DataFrame:
    """IVF ANN with REAL trained centroids: Spark ML KMeans builds the
    cell structure (seeded — reproducible inits), then the same
    probe-nearest-cells search as ann_ivf_topk runs over the learned
    assignment instead of the fixture's label column.

    This is the production IVF loop: train once (iterative — Spark ML
    caches the feature vectors across iterations), persist centroids +
    assignments, and every query afterwards reads only ``nprobe``
    cells. Approximate + iterative ⇒ rows-only driver check; recall is
    pinned against brute force in tests at full probe.

    100 TB: training samples the corpus (KMeans cost is per-iteration
    linear in points × cells); assignment is one broadcast-centroid map
    pass; the corpus is then written partitioned by cell so a probe
    reads ``nprobe`` partitions, not the corpus.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("e")
    )
    feat = emb.withColumn("features", array_to_vector(F.col("e")))
    model = KMeans(k=n_cells, seed=42, maxIter=10).fit(feat)
    assigned = model.transform(feat).select(
        "vec_id", "e", F.col("prediction").alias("cell")
    )
    cents = spark.createDataFrame(
        [
            (i, [float(x) for x in c])
            for i, c in enumerate(model.clusterCenters())
        ],
        "cell int, centroid array<double>",
    )

    q = assigned.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("e").alias("q_emb")
    )
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "q_id",
            "q_emb",
            "cell",
            cosine(F.col("q_emb"), F.col("centroid")).alias("cc"),
        )
        .withColumn(
            "prnk",
            F.row_number().over(
                W.partitionBy("q_id").orderBy(
                    F.col("cc").desc(), F.col("cell")
                )
            ),
        )
        .where(F.col("prnk") <= nprobe)
        .select("q_id", "q_emb", "cell")
    )
    scored = (
        assigned.join(F.broadcast(probes), on="cell")
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            cosine(F.col("q_emb"), F.col("e")).alias("cos"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", "vec_id", "rnk")
        .orderBy("q_id", "rnk")
    )


@query(
    "dedup_embedding_collapse_audit",
    """
    WITH g AS (
      SELECT label, embedding, CAST(count(*) AS BIGINT) AS m
      FROM embeddings GROUP BY label, embedding
    )
    SELECT CAST(sum(m) AS BIGINT) AS n_vecs,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(max(m) AS BIGINT) AS max_multiplicity,
           CAST(sum(CASE WHEN m > 1 THEN m ELSE 0 END) AS BIGINT)
             AS dup_mass
    FROM g
    """,
)
def dedup_embedding_collapse_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Collapse census for dedup_embedding_pairs' exact-value layer:
    total vectors, distinct (label, value) groups, the largest
    multiplicity, and how many vectors sit in duplicated values
    (dup_mass). n_groups is the size the blocked GEMM actually runs
    at — a pipeline owner reads n_vecs/n_groups to see how much of
    the corpus the collapse removed from the quadratic-risk zone (on
    the 100× key-shift replica the ratio is the full factor; on a
    dedup-clean corpus it is 1 and the audit proves the collapse is
    free). One keyed partial-agg census + a 1-row fold.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    g = emb.groupBy("label", "embedding").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    return g.agg(
        F.sum("m").cast("long").alias("n_vecs"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.max("m").cast("long").alias("max_multiplicity"),
        F.sum(F.when(F.col("m") > 1, F.col("m")).otherwise(F.lit(0)))
        .cast("long")
        .alias("dup_mass"),
    )


@query(
    "dedup_embedding_dup_branch",
    """
    WITH c AS (
      SELECT vec_id, label, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + (SELECT CAST(max(vec_id) + 1 AS BIGINT)
                       FROM embeddings) AS vec_id,
             label, embedding
      FROM embeddings
    )
    SELECT a.vec_id AS d1, b.vec_id AS d2
    FROM c a JOIN c b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.4
    ORDER BY d1, d2
    """,
)
def dedup_embedding_dup_branch(
    spark: SparkSession, sf_dir: str, threshold: float = 0.4
) -> DataFrame:
    """Driver-gate pin for the duplicate-heavy PLAN-LEVEL collapse
    branch of :func:`dedup_embedding_pairs` (r10).

    The adaptive gate's dup branch — the one the 100× probe bound
    relies on — never runs on the dedup-clean fixture (dup_ratio ≈ 0),
    so until now its only evidence was a pytest. This query builds a
    duplicate-heavy corpus IN-PLAN (the embeddings table unioned with
    an id-shifted copy of itself → dup_ratio = 1/2 > 0.25, far beyond
    approx_count_distinct's error band) and runs the same adaptive
    core, forcing the census down the plan-level path: groupBy over
    full vectors, representative tile search, codegen explode
    expansion, within-group emission. The DuckDB oracle computes the
    all-pairs answer over the identically constructed corpus, so a
    collapse regression (lost within-group pairs, wrong expansion
    combos, id-ordering mistakes) fails the driver value-hash — the
    falsifiability instrument for the branch, in the same spirit as
    dedup_embedding_collapse_audit's census pin.

    The id offset is max(vec_id)+1 computed FROM the data on both
    engines (one scalar agg each), so the construction never collides
    at any SF or on key-shifted probe replicas. At sf0.01 the output
    is exactly 4·|P| + n = 736 rows (P = the 59 base pairs, n = 500
    norm>0 self-pairs), the closed-form expansion identity.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e0 = emb.select(
        "vec_id", "label", as_double(F.col("embedding")).alias("e")
    )
    off = e0.agg((F.max("vec_id") + 1).cast("long")).head()[0]
    doubled = e0.unionByName(
        e0.withColumn("vec_id", (F.col("vec_id") + F.lit(off)).cast("long"))
    )
    return _embedding_pairs_adaptive(spark, doubled, threshold)


def _recall_gate(
    spark: SparkSession, ann: DataFrame, exact: DataFrame, min_hits: int
) -> DataFrame:
    """Deterministic aggregate recall@k gate: join ANN candidates
    against the exact top-k and emit ONE ``(n_queries, recall_ok)``
    row where ``recall_ok = total_hits ≥ min_hits``.

    This is how the approximate family becomes FALSIFIABLE at the
    driver gate: the exact side is SQL-expressible (DuckDB reproduces
    it), the ANN side is deterministic (hash-seeded planes / seeded
    kmeans / fixture labels — no RNG state anywhere), so the boolean
    is a stable function of the data. An ANN regression (broken
    bucketing, wrong probe routing, bad distance fold) drops hits
    below the floor and the value-hash goes red — instead of the old
    rows-only shrug. ``min_hits`` floors sit ≥2× below the measured
    hit counts at sf0.001/0.01/0.1 so legitimate SF changes don't trip
    the gate (the fixture embeddings are weakly clustered, so absolute
    recall is intrinsically modest — the gate is a tripwire for
    machinery breakage, not a quality SLA).

    Plan shape: both sides are (q_id, vec_id) sets of ≤ |Q|·k rows —
    join, count, and compare are control-plane sized at any corpus
    scale.
    """
    n_queries = exact.select("q_id").distinct().count()
    hits = exact.select("q_id", "vec_id").join(
        ann.select("q_id", "vec_id"), on=["q_id", "vec_id"], how="left_semi"
    ).count()
    return spark.createDataFrame(
        [(n_queries, hits >= min_hits)], "n_queries long, recall_ok boolean"
    )


# the probe set is vec_id < _N_RECALL_QUERIES; the oracle row derives
# from the SAME constant so the two can't drift apart silently
_N_RECALL_QUERIES = 5

_RECALL_ORACLE = f"""
    SELECT CAST({_N_RECALL_QUERIES} AS BIGINT) AS n_queries,
           TRUE AS recall_ok
"""


def _exact_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < _N_RECALL_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        as_double(F.col("embedding")).alias("q_emb"),
    )
    return brute_force_topk_arrow(emb, q, k=5)


@query("ann_ivf_recall", _RECALL_ORACLE)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for the fixture-label IVF path. Measured total hits
    (nprobe=3, 5 queries × k=5): 5 / 12 / 8 at sf0.001/0.01/0.1 —
    floor 3 keeps ≥1.6× margin at the worst SF."""
    return _recall_gate(
        spark,
        ann_ivf_topk(spark, sf_dir, k=5, nprobe=3),
        _exact_top5(spark, sf_dir),
        min_hits=3,
    )


@query("ann_lsh_recall", _RECALL_ORACLE)
def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for the hyperplane-LSH path, using the multi-probe
    configuration (4 planes, Hamming radius 1 → probes 5/16 buckets).
    Measured total hits: 10 / 10 / 12 at sf0.001/0.01/0.1 — floor 5
    is 2× under the minimum. Single-probe LSH on this weakly
    clustered fixture has hits as low as 0, which is exactly why the
    gate pins the multi-probe variant."""
    return _recall_gate(
        spark,
        ann_lsh_topk(spark, sf_dir, k=5, n_planes=4, probe_radius=1),
        _exact_top5(spark, sf_dir),
        min_hits=5,
    )


@query("ann_kmeans_recall", _RECALL_ORACLE)
def ann_kmeans_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for the trained-KMeans IVF path (seeded kmeans ⇒
    deterministic cells). Measured total hits (nprobe=4 of 8 cells):
    20 / 18 / 19 at sf0.001/0.01/0.1 — floor 10 is ~2× under."""
    return _recall_gate(
        spark,
        ann_ivf_kmeans_topk(spark, sf_dir, k=5, nprobe=4),
        _exact_top5(spark, sf_dir),
        min_hits=10,
    )


@query(
    "semdedup_cluster_prune",
    """
    WITH p AS (
      SELECT b.vec_id AS vec_id
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])) >= 0.4
      GROUP BY b.vec_id
    )
    SELECT e.vec_id, e.label, (p.vec_id IS NULL) AS keep
    FROM embeddings e LEFT JOIN p USING (vec_id)
    ORDER BY e.vec_id
    """,
)
def semdedup_cluster_prune(
    spark: SparkSession, sf_dir: str, threshold: float = 0.4
) -> DataFrame:
    """SemDeDup-style semantic dedup: prune, WITHIN each semantic
    cluster, every vector that has an earlier (smaller vec_id)
    same-cluster neighbor with cosine ≥ t.

    The fixture's ``label`` column is the cluster id (the kmeans
    assignment SemDeDup would compute — the in-repo kmeans path is
    ann_ivf_kmeans_topk's Lloyd iterations). Restricting comparisons to
    cluster-mates is the SemDeDup bargain: cross-cluster duplicates are
    out of scope by design, which turns the quadratic corpus problem
    into per-cluster tiles.

    Exact-value collapse (round 9 — the dedup_embedding_pairs layer
    applied here after the 100× probe measured ratio 847 on value-
    duplicated cells): the per-cluster GEMM runs over one
    representative (min vec_id) per bit-identical (label, vector)
    group, and the keep decision expands row-locally. This is
    semantics-EXACT, not approximate: a non-representative copy always
    has its group minimum as an earlier cos=1 neighbor ⇒ pruned; and a
    representative B is pruned iff some earlier same-cluster vector y
    with cos ≥ t exists, which holds iff some representative A with
    gid_A < gid_B and cos(A,B) ≥ t exists (y's group minimum is such
    an A; conversely A itself is such a y). Zero-norm vectors keep the
    NaN-comparison behavior of the uncollapsed kernel (never pruned by
    their copies) via the norm>0 gate in the expansion.

    Plan: STILL one shuffle keyed on the cluster id — the collapse
    happens inside the tile kernel (np.unique over the cell's rows),
    so the plan shape is unchanged and the fixture pays nothing. The
    GEMM and its n² similarity matrix run over DISTINCT vectors only.
    At 100 TB cost is Σ |distinct(cluster)|² over balanced kmeans
    cells — the published SemDeDup scaling with duplicated mass (the
    thing boilerplate corpora actually have) removed from the
    quadratic term; the keep decision never leaves the cluster tile.
    """
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", "label", as_double(F.col("embedding")).alias("e")
    )

    def prune(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        order = pdf.sort_values("vec_id")
        E = np.stack(order["e"].to_numpy())
        n = len(order)
        # exact-value collapse inside the tile: rows sorted by vec_id,
        # so each value-group's first occurrence IS its min-vec_id
        # representative
        _, first_idx, inv = np.unique(
            E, axis=0, return_index=True, return_inverse=True
        )
        m = len(first_idx)
        rep_pos = np.sort(first_idx)  # rep row positions, vec_id order
        R = E[rep_pos]
        Ur = R / np.linalg.norm(R, axis=1, keepdims=True)
        S = Ur @ Ur.T
        rep_removed_sorted = np.zeros(m, dtype=bool)
        iu, ju = np.triu_indices(m, k=1)
        rep_removed_sorted[np.unique(ju[S[iu, ju] >= threshold])] = True
        # map the verdict back to np.unique's value-group ids
        pos_of_uniq = np.empty(m, dtype=np.int64)
        pos_of_uniq[np.argsort(first_idx)] = np.arange(m)
        rep_removed = rep_removed_sorted[pos_of_uniq]
        # expand: the representative carries the GEMM verdict; a copy
        # is pruned by its cos=1 group minimum unless the vector is
        # zero-norm (NaN cosine never prunes, matching the uncollapsed
        # kernel) or the threshold is degenerate (> 1)
        is_rep = np.zeros(n, dtype=bool)
        is_rep[first_idx] = True
        norms = np.linalg.norm(E, axis=1)
        removed = np.where(
            is_rep,
            rep_removed[inv],
            (norms > 0) & (threshold <= 1.0),
        )
        return pd.DataFrame(
            {
                "vec_id": order["vec_id"].to_numpy(),
                "label": order["label"].to_numpy(),
                "keep": ~removed,
            }
        )

    return (
        e.groupBy("label")
        .applyInPandas(prune, "vec_id long, label int, keep boolean")
        .orderBy("vec_id")
    )


@query(
    "mine_hard_negatives",
    """
    SELECT q_id, vec_id, rnk FROM (
      SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY list_cosine_similarity(
                          CAST(a.embedding AS DOUBLE[]),
                          CAST(b.embedding AS DOUBLE[])) DESC,
                        b.vec_id) AS rnk
      FROM embeddings a JOIN embeddings b
        ON b.vec_id <> a.vec_id AND b.label <> a.label
      WHERE a.vec_id < 5) t
    WHERE rnk <= 5 ORDER BY q_id, rnk
    """,
)
def mine_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each probe
    vector, the top-5 most cosine-similar vectors with a DIFFERENT
    label — the near-misses a retrieval/embedding trainer pairs with
    each anchor to sharpen decision boundaries (the in-batch-negatives
    upgrade every large-scale embedding pipeline runs).

    Same scan shape as ann_bruteforce_topk: probes broadcast once, one
    pass over the corpus scores candidates JVM-side
    (``zip_with``/``aggregate`` fold — no Python in the hot path), the
    label-mismatch predicate rides the broadcast join, and the top-5
    cut is a per-probe window over each probe's candidate stream. At
    100 TB the exact scorer swaps for the IVF/LSH index path
    (similarity.py:118,205) with the label filter applied post-probe —
    the mining semantics stay identical.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        as_double(F.col("embedding")).alias("q_emb"),
        F.col("label").alias("q_label"),
    )
    cand = emb.select(
        "vec_id", as_double(F.col("embedding")).alias("c_emb"), "label"
    )
    scored = cand.join(
        F.broadcast(q),
        (F.col("vec_id") != F.col("q_id"))
        & (F.col("label") != F.col("q_label")),
    ).select(
        "q_id", "vec_id", cosine(F.col("q_emb"), F.col("c_emb")).alias("cos")
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("q_id", "vec_id", "rnk")
        .orderBy("q_id", "rnk")
    )


def _pq_codebooks(
    spark: SparkSession, emb: DataFrame, m: int, ks: int, d_sub: int
) -> DataFrame:
    """Train per-subspace codebooks (seeded Spark ML KMeans) over the
    L2-normalized corpus. Returns (sub, code, centroid double[])."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    books = []
    for j in range(m):
        sub = emb.select(
            F.slice(F.col("u"), j * d_sub + 1, d_sub).alias("s")
        ).withColumn("features", array_to_vector(F.col("s")))
        model = KMeans(k=ks, seed=42 + j, maxIter=10).fit(sub)
        books.extend(
            (j, c, [float(x) for x in cent])
            for c, cent in enumerate(model.clusterCenters())
        )
    return spark.createDataFrame(
        books, "sub int, code int, centroid array<double>"
    )


def _l2(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def ann_pq_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    m: int = 8,
    ks: int = 16,
    rerank: int = 50,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation:
    vectors are L2-normalized, chopped into ``m`` subspaces, and each
    subvector replaced by the id of its nearest codebook centroid —
    64 float32 dims become m bytes (32× memory compression at m=8),
    which is what makes billion-vector search fit in RAM at 100 TB
    corpus scale. Queries stay exact: per (subspace, code) inner
    products are precomputed into a tiny lookup table, the approximate
    cosine is the m-term table sum (ADC — the shortlist scan never
    touches raw corpus floats, only codes), and the final answer
    exact-re-ranks only the top-``rerank`` ADC candidates per query —
    the two-stage shape every production PQ system (FAISS IVFPQ+R)
    ships.

    Plan: codebooks train on seeded KMeans (deterministic); encoding
    is one broadcast-codebook argmin pass over the corpus (the 16-way
    fan-out is map-side, collapsed by the per-(vec, sub) top-1 cut);
    search joins the 4-row-per-vector code table against a broadcast
    (q × m × ks) lookup and folds with one (q, vec)-keyed partial agg.
    No corpus-sized shuffle carries raw vectors anywhere.
    """
    d_sub = 64 // m
    raw = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("e")
    )
    emb = raw.select(
        "vec_id",
        F.transform(
            "e", lambda x: x / F.sqrt(F.lit(1e-300) + norm2(F.col("e")))
        ).alias("u"),
    ).persist()

    books = _pq_codebooks(spark, emb, m, ks, d_sub).persist()
    books.count()

    subvecs = emb.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {m - 1}),"
                f" j -> struct(j AS sub, slice(u, j * {d_sub} + 1,"
                f" {d_sub}) AS s))"
            )
        ).alias("p"),
    ).select("vec_id", "p.sub", "p.s")
    wcode = W.partitionBy("vec_id", "sub").orderBy("dist", "code")
    codes = (
        subvecs.join(F.broadcast(books), "sub")
        .select(
            "vec_id", "sub", "code",
            _l2(F.col("s"), F.col("centroid")).alias("dist"),
        )
        .withColumn("rn", F.row_number().over(wcode))
        .where(F.col("rn") == 1)
        .select("vec_id", "sub", "code")
    )

    q = emb.where(F.col("vec_id") < _N_RECALL_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("u").alias("q_u")
    )
    qsub = q.select(
        "q_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {m - 1}),"
                f" j -> struct(j AS sub, slice(q_u, j * {d_sub} + 1,"
                f" {d_sub}) AS qs))"
            )
        ).alias("p"),
    ).select("q_id", "p.sub", "p.qs")
    table = qsub.join(F.broadcast(books), "sub").select(
        "q_id", "sub", "code",
        dot(F.col("qs"), F.col("centroid")).alias("ip"),
    )

    scored = (
        codes.join(F.broadcast(table), ["sub", "code"])
        .where(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum("ip").alias("score"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("vec_id"))
    shortlist = (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= rerank)
        .select("q_id", "vec_id")
    )
    # exact re-rank of the ADC shortlist: raw vectors are read ONLY for
    # the R candidates per query (semi-join pruned), never the corpus
    exact = (
        shortlist.join(emb, "vec_id")
        .join(F.broadcast(q), "q_id")
        .select(
            "q_id", "vec_id", dot(F.col("u"), F.col("q_u")).alias("cos")
        )
    )
    wf = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    out = (
        exact.withColumn("rnk", F.row_number().over(wf))
        .where(F.col("rnk") <= k)
        .select("q_id", "vec_id", "rnk")
        .orderBy("q_id", "rnk")
    )
    res = out.localCheckpoint(eager=True)
    emb.unpersist()
    books.unpersist()
    res._plan_audit_df = out
    return res


@query("ann_pq_recall", _RECALL_ORACLE)
def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for the product-quantization path (m=8 × 16 codes:
    64 float dims → 8 bytes, then an exact re-rank of the ADC top-50
    shortlist — the standard two-stage PQ deployment). Measured total
    hits (5 queries × k=5): 19 / 21 / 13 at sf0.001/0.01/0.1 — floor
    6 keeps ≥2× margin at the worst SF. Seeded codebooks make the
    boolean a stable function of the data, so a broken encoder, a
    transposed lookup table, or a bad ADC fold all go red at the
    driver gate."""
    return _recall_gate(
        spark,
        ann_pq_topk(spark, sf_dir, k=5),
        _exact_top5(spark, sf_dir),
        min_hits=6,
    )


_QUANT_INT8_SQL = """
    WITH dims AS (
      SELECT unnest(range(1, (SELECT max(len(embedding)) + 1
                              FROM embeddings))) AS i
    ), v AS (
      SELECT vec_id, CAST(embedding[i] AS DOUBLE) AS x, i AS pos
      FROM embeddings, dims WHERE i <= len(embedding)
    ), stats AS (
      SELECT pos, min(x) AS mn, (max(x) - min(x)) / 255.0 AS step
      FROM v GROUP BY pos
    ), q AS (
      SELECT x, mn, step,
             CASE WHEN step > 0 THEN round((x - mn) / step) ELSE 0 END AS code
      FROM v JOIN stats USING (pos)
    ), e AS (
      SELECT step, abs(x - (mn + code * step)) AS err,
             code BETWEEN 0 AND 255 AS code_ok
      FROM q
    )
    SELECT CAST(count(*) AS BIGINT) AS n_vals,
           coalesce(bool_and(code_ok), TRUE) AS codes_in_range,
           coalesce(bool_and(err <= step / 2 + 1e-12), TRUE)
             AS within_half_step,
           CAST(round(sum(CAST(err AS DECIMAL(28,14)))
                      / count(*), 8) AS DOUBLE) AS mean_abs_err
    FROM e
"""


@query("quant_int8_gate", _QUANT_INT8_SQL)
def quant_int8_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Falsifiable gate for int8 scalar quantization of the embedding
    column — the compression step a 100 TB vector corpus applies before
    ANN indexing (4× smaller, cache-resident codes). Per-dimension
    min/max affine quantization to codes 0..255; the gate checks the
    DETERMINISTIC guarantees of the scheme: every code lands in range
    and every reconstruction error is ≤ step/2 (round-to-nearest can
    never do worse), plus the exact decimal-summed mean |err| so a
    silently degraded quantizer moves the hash.

    Scale shape: one posexplode → per-dimension agg (64 groups), the
    per-dim stats broadcast back (64 rows), and one pass computes codes
    and errors — no shuffle keyed on vec_id at all. All arithmetic is
    the same float64 IEEE ops on both engines; the mean goes through a
    decimal sum so executor order can't move the hash.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", F.posexplode(as_double(F.col("embedding"))).alias("pos", "x")
    )
    stats = v.groupBy("pos").agg(
        F.min("x").alias("mn"),
        ((F.max("x") - F.min("x")) / F.lit(255.0)).alias("step"),
    )
    q = v.join(F.broadcast(stats), "pos").select(
        "x",
        "mn",
        "step",
        F.when(F.col("step") > 0, F.round((F.col("x") - F.col("mn")) / F.col("step")))
        .otherwise(F.lit(0.0))
        .alias("code"),
    )
    e = q.select(
        "step",
        F.abs(F.col("x") - (F.col("mn") + F.col("code") * F.col("step"))).alias("err"),
        F.col("code").between(0, 255).alias("code_ok"),
    )
    return e.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vals"),
        F.coalesce(F.bool_and("code_ok"), F.lit(True)).alias("codes_in_range"),
        F.coalesce(
            F.bool_and(F.col("err") <= F.col("step") / 2 + 1e-12), F.lit(True)
        ).alias("within_half_step"),
        F.round(
            F.sum(F.col("err").cast("decimal(28,14)")) / F.count(F.lit(1)), 8
        )
        .cast("double")
        .alias("mean_abs_err"),
    )


KCENTER_K = 8


def _kc_dist2(av: str, bv: str) -> str:
    """Strict left-fold squared euclidean — the SAME evaluation order
    as the Spark side's aggregate(zip_with(...)), so the float64
    results are bit-identical and the argmax can never flip on
    cross-engine summation order."""
    return (
        f"list_reduce(list_transform(range(1, len({av}) + 1),"
        f" i -> ({av}[i] - {bv}[i]) * ({av}[i] - {bv}[i])),"
        " (x, y) -> x + y)"
    )


def _kcenter_oracle() -> str:
    stages = []
    prev_d = "d0"
    for k in range(1, KCENTER_K):
        stages.append(f"""
, t{k} AS (
  SELECT vec_id, md FROM {prev_d} ORDER BY md DESC, vec_id LIMIT 1
), c{k} AS (
  SELECT e.v FROM e JOIN t{k} ON e.vec_id = t{k}.vec_id
), d{k} AS (
  SELECT d.vec_id, least(d.md, {_kc_dist2("e.v", "c.v")}) AS md
  FROM {prev_d} d JOIN e ON e.vec_id = d.vec_id CROSS JOIN c{k} c
)""")
        prev_d = f"d{k}"
    sel = [
        "SELECT 0 AS rank, (SELECT min(vec_id) FROM e) AS vec_id,"
        " CAST(0.0 AS DOUBLE) AS d2"
    ]
    for k in range(1, KCENTER_K):
        sel.append(
            f"SELECT {k}, vec_id,"
            " CAST(ROUND(CAST(md AS DECIMAL(28,12)), 6) AS DOUBLE)"
            f" FROM t{k}"
        )
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), c0 AS (
      SELECT v FROM e WHERE vec_id = (SELECT min(vec_id) FROM e)
    ), d0 AS (
      SELECT e.vec_id, {_kc_dist2("e.v", "c.v")} AS md FROM e CROSS JOIN c0 c
    )
    {"".join(stages)}
    {" UNION ALL ".join(sel)}
    ORDER BY rank
    """


# r10 optimization (guide §1.2 step 1): below this many vectors the
# greedy traversal runs as ONE single-task kernel instead of
# KCENTER_K driver-round-trip actions (seed collect + per-round
# TakeOrdered collects). Same strict left-fold float64 arithmetic
# (np.cumsum is sequential, matching the JVM fold), same argmax/tie
# order, same decimal quantize — pinned by
# test_kcenter_local_kernel_matches_driver_loop. Above the cap the
# per-round broadcast/linear-pass loop — the 100 TB design — is
# unchanged.
KCENTER_LOCAL_VEC_CAP = int(
    os.environ.get("PGSINK_KCENTER_LOCAL_VEC_CAP", "100000")
)


def _kcenter_local_kernel(it):
    import decimal

    import numpy as np
    import pandas as pd

    ids_parts, vec_parts = [], []
    for pdf in it:
        if len(pdf):
            ids_parts.append(pdf["vec_id"].to_numpy(dtype="int64"))
            vec_parts.extend(
                np.asarray(x, dtype=np.float64) for x in pdf["v"]
            )
    if not ids_parts:
        return
    ids = np.concatenate(ids_parts)
    V = np.stack(vec_parts)
    si = int(np.argmin(ids))
    ranks = [0]
    pick_ids = [int(ids[si])]
    d2s = [0.0]
    sq = (V - V[si]) ** 2
    md = np.cumsum(sq, axis=1)[:, -1]
    for k in range(1, KCENTER_K):
        cand = np.flatnonzero(md == md.max())
        ci = int(cand[np.argmin(ids[cand])])
        d6 = decimal.Decimal(float(md[ci])).quantize(
            decimal.Decimal("0.000001"),
            rounding=decimal.ROUND_HALF_UP,
        )
        ranks.append(k)
        pick_ids.append(int(ids[ci]))
        d2s.append(float(d6))
        sq = (V - V[ci]) ** 2
        nd = np.cumsum(sq, axis=1)[:, -1]
        md = np.minimum(md, nd)
    yield pd.DataFrame(
        {
            "rank": np.asarray(ranks, dtype=np.int32),
            "vec_id": np.asarray(pick_ids, dtype=np.int64),
            "d2": np.asarray(d2s, dtype=np.float64),
        }
    )


@query("diversity_kcenter", _kcenter_oracle())
def diversity_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point traversal) diversity sampling
    over the embedding corpus — the coreset selector that picks
    maximally-spread exemplars (SemDeDup prunes near-duplicates; this
    picks the OPPOSITE: the k points that best cover the space, the
    standard seed set for curriculum/mixture design and for k-means++
    style initialization). Deterministic: seed = min vec_id, each
    round adds the point farthest from its nearest chosen center,
    ties to the smaller id. Output (rank, vec_id, d2) where d2 is the
    coverage radius² at selection — the monotone-decreasing sequence
    a broken traversal cannot fake.

    Scale shape per round: broadcast ONE center vector, one row-local
    least(md, dist²) update, one max-reduce (TakeOrdered 1). k rounds
    = k linear passes, no pairwise blowup, driver state = k vectors.
    Distances are strict left-folds so both engines see bit-identical
    float64 — the argmax can't flip on summation order.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", as_double(F.col("embedding")).alias("v")).persist()

    # Size gate (see KCENTER_LOCAL_VEC_CAP): one kernel action instead
    # of KCENTER_K driver round-trips; the count materializes the
    # persist, which the seed collect of the loop path pays anyway.
    if e.count() <= KCENTER_LOCAL_VEC_CAP:
        rows = (
            e.coalesce(1)
            .mapInPandas(
                _kcenter_local_kernel, "rank int, vec_id long, d2 double"
            )
            .collect()
        )
        e.unpersist()
        return spark.createDataFrame(
            [(r["rank"], r["vec_id"], float(r["d2"])) for r in rows],
            "rank int, vec_id bigint, d2 double",
        )

    seed = e.orderBy("vec_id").limit(1).collect()[0]
    picks = [(0, seed["vec_id"], 0.0)]
    center = seed["v"]

    def dist2_to(center_vals: list[float]) -> Column:
        c = F.array(*[F.lit(float(x)) for x in center_vals])
        return F.aggregate(
            F.zip_with(F.col("v"), c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )

    cur = e.select("vec_id", "v", dist2_to(center).alias("md"))
    for k in range(1, KCENTER_K):
        top = cur.orderBy(F.col("md").desc(), "vec_id").limit(1).collect()[0]
        # mirror the oracle's ROUND(CAST(md AS DECIMAL), 6): exact
        # decimal image of the float64, half-up to 6 places
        import decimal

        d6 = decimal.Decimal(top["md"]).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
        picks.append((k, top["vec_id"], float(d6)))
        cur = cur.select(
            "vec_id",
            "v",
            F.least(F.col("md"), dist2_to(top["v"])).alias("md"),
        ).localCheckpoint(eager=False)
    e.unpersist()
    return spark.createDataFrame(
        [(r, v, float(d)) for r, v, d in picks],
        "rank int, vec_id bigint, d2 double",
    )


IVF_CURVE_PROBES = (1, 2, 4, 8)
IVF_CURVE_FLOOR = 3  # hits floor at the largest nprobe (= ann_ivf_recall's)


def _ivf_curve_hits(spark: SparkSession, sf_dir: str) -> list:
    """Per-nprobe recall@5 hit counts for ann_ivf_probe_curve —
    factored out so tests can pin the exact counts (not just the
    emitted booleans) against independent per-nprobe reruns."""
    # r10 optimization (guide §1.2 step 1 — don't recompute what a
    # sweep can share): the four nprobe points previously each rebuilt
    # the centroid table (posexplode + two exchanges) and re-scored
    # every candidate cell. One probe-ranking pass at max(nprobe)
    # carries each (q_id, label) cell's probe rank `prnk`; the
    # nprobe=p search is then exactly "top-5 among rows with
    # prnk <= p" over ONE persisted scored frame — identical cosine
    # values and tie order, so per-p hits (and the emitted booleans)
    # are unchanged. Measured 4.1 s → 1.3 s isolated at sf0.1.
    exact = _exact_top5(spark, sf_dir).select("q_id", "vec_id")
    emb = load_table(spark, sf_dir, "embeddings")
    cents = ivf_centroids(emb)
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        as_double(F.col("embedding")).alias("q_emb"),
    )
    max_probe = max(IVF_CURVE_PROBES)
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "q_id",
            "q_emb",
            "label",
            cosine(F.col("q_emb"), F.col("centroid")).alias("cc"),
        )
        .withColumn(
            "prnk",
            F.row_number().over(
                W.partitionBy("q_id").orderBy(
                    F.col("cc").desc(), F.col("label")
                )
            ),
        )
        .where(F.col("prnk") <= max_probe)
        .select("q_id", "q_emb", "label", "prnk")
    )
    cand = emb.select(
        "vec_id", "label", as_double(F.col("embedding")).alias("c_emb")
    )
    scored = (
        cand.join(F.broadcast(probes), on="label")
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            "prnk",
            cosine(F.col("q_emb"), F.col("c_emb")).alias("cos"),
        )
    )
    # r11 (guide §1.2/§2.4 — one pass instead of four): "top-5 among
    # rows with prnk ≤ p" for ALL four p's falls out of ONE window:
    # over the (cos DESC, vec_id) total order per q_id, the running
    # count of prnk ≤ p rows IS the row's rank within the nprobe=p
    # candidate subset (every (q_id, vec_id) appears once — a vector
    # lives in exactly one cell). The previous shape persisted the
    # scored frame and ran 4 window branches + union + semi-join +
    # groupBy; now: one left join against the 25-row exact set, one
    # window node (4 running sums share the same spec), one aggregate
    # — same hit counts, one action, no persist.
    w5 = (
        W.partitionBy("q_id")
        .orderBy(F.col("cos").desc(), F.col("vec_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    marked = scored.join(
        F.broadcast(exact.withColumn("m", F.lit(1))),
        on=["q_id", "vec_id"],
        how="left",
    )
    for p in IVF_CURVE_PROBES:
        marked = marked.withColumn(
            f"r{p}",
            F.sum((F.col("prnk") <= p).cast("long")).over(w5),
        )
    hit_row = marked.agg(
        *[
            F.sum(
                (
                    (F.col("prnk") <= p)
                    & (F.col(f"r{p}") <= 5)
                    & F.col("m").isNotNull()
                ).cast("long")
            ).alias(f"h{p}")
            for p in IVF_CURVE_PROBES
        ]
    ).collect()[0]
    return [int(hit_row[f"h{p}"] or 0) for p in IVF_CURVE_PROBES]


@query(
    "ann_ivf_probe_curve",
    f"""
    SELECT CAST(u.nprobe AS BIGINT) AS nprobe,
           TRUE AS monotone_ok,
           TRUE AS floor_ok
    FROM UNNEST([{", ".join(str(p) for p in IVF_CURVE_PROBES)}])
      AS u(nprobe)
    ORDER BY nprobe
    """,
)
def ann_ivf_probe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-nprobe CURVE gate for the IVF path — the capacity-
    planning read behind ann_ivf_recall's single point: recall@5 hits
    are measured at nprobe ∈ {IVF_CURVE_PROBES} and the gate asserts
    the two properties a correct probe router MUST satisfy:
    (1) MONOTONE hits — more probes can only grow the candidate set,
    so hits are nondecreasing in nprobe (a routing bug that drops the
    true cell breaks this); (2) the largest-nprobe hits meet the
    ann_ivf_recall floor. Both reduce to booleans, so the driver hash
    pins them even though absolute recall is float-adjacent.

    Scale shape: one scoring pass at max(nprobe), one window, one
    aggregate (see _ivf_curve_hits); hit counting joins ≤ |Q|·k-row
    frames (control-plane at any corpus size).
    """
    hits = _ivf_curve_hits(spark, sf_dir)
    rows = [
        (
            int(p),
            bool(h >= prev),
            bool(hits[-1] >= IVF_CURVE_FLOOR),
        )
        for p, h, prev in zip(IVF_CURVE_PROBES, hits, [0, *hits[:-1]])
    ]
    return spark.createDataFrame(
        rows, "nprobe long, monotone_ok boolean, floor_ok boolean"
    ).orderBy("nprobe")


# Range-search threshold and LSH floor: at cosine >= 0.3 the fixture
# yields 18 / 66 exact pairs at sf0.01 / sf0.1 over the 5 probe
# queries; the multi-probe LSH candidate path verified 10 / 7 / 30
# of them at sf0.001/0.01/0.1 — floor 3 keeps >=2x margin at the
# worst SF (same tripwire discipline as the recall gates).
RANGE_TAU = 0.3
RANGE_LSH_FLOOR = 3


@query(
    "ann_range_search",
    f"""
    SELECT CAST(5 AS BIGINT) AS n_queries,
           (SELECT CAST(count(*) AS BIGINT)
            FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
            WHERE a.vec_id < 5
              AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[]))
                  >= {RANGE_TAU}) AS n_pairs,
           TRUE AS lsh_hits_ok
    """,
)
def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold (range) similarity search — every neighbor with
    cosine ≥ τ rather than a fixed top-k — the primitive behind
    near-duplicate sweeps and "find everything like this" curation
    passes, where the right answer size is data-dependent.

    Emits one gate row: the EXACT pair count over the 5 probe queries
    (DuckDB reproduces it, so the driver hash pins the brute-force
    path) and a boolean that the multi-probe LSH candidate route
    (4 hyperplane signs, Hamming-radius-1 probes — the 100 TB path,
    reading |probes|/16 of a bucket-partitioned corpus) verified at
    least RANGE_LSH_FLOOR of those pairs after exact re-scoring.
    A broken bucket function, probe expansion, or distance fold drops
    verified hits below the floor and flips the hash red.

    Scale shape: the exact side is one broadcast of the ≤|Q| probe
    frame against the corpus scan; the LSH side joins on bucket id
    (corpus pre-partitioned by bucket at ingest), so neither path
    shuffles the corpus.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cand = emb.select(
        "vec_id", as_double(F.col("embedding")).alias("c_emb")
    )
    q = cand.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("c_emb").alias("q_emb")
    )
    exact = (
        cand.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .where(
            cosine(F.col("q_emb"), F.col("c_emb")) >= F.lit(RANGE_TAU)
        )
        .select("q_id", "vec_id")
    )

    cb = cand.withColumn("bucket", lsh_bucket(F.col("c_emb"), 4))
    qb = cb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("c_emb").alias("q_emb"),
        "bucket",
    )
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(4)],
    )
    qb = qb.select("q_id", "q_emb", F.explode(probes).alias("bucket"))
    lsh_pairs = (
        cb.join(F.broadcast(qb), "bucket")
        .where(F.col("vec_id") != F.col("q_id"))
        .where(
            cosine(F.col("q_emb"), F.col("c_emb")) >= F.lit(RANGE_TAU)
        )
        .select("q_id", "vec_id")
        .distinct()
    )
    # r11 (guide §1.2 step 1 — fewer actions, no recomputed subtree):
    # the old shape ran TWO actions — exact.count(), then a semi-join
    # count whose plan re-evaluated the whole brute-force cosine pass
    # a second time. One left join against the (distinct, so
    # fanout-free) LSH pair set folds both: count(*) = |exact| and
    # count(marker) = |exact ∩ lsh| in a single aggregate, each
    # subtree evaluated once.
    stats = (
        exact.join(
            lsh_pairs.withColumn("m", F.lit(1)),
            on=["q_id", "vec_id"],
            how="left",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.count("m").cast("long").alias("hits"),
        )
        .collect()[0]
    )
    return spark.createDataFrame(
        [(5, int(stats["n_pairs"]), int(stats["hits"]) >= RANGE_LSH_FLOOR)],
        "n_queries long, n_pairs long, lsh_hits_ok boolean",
    )
