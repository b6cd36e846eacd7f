"""Similarity-search behavior beyond the oracle corpus: IVF recall vs
brute force, and the pandas-UDF scorer's parity with the fold scorer.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pgsink_spark.operators import similarity as sim
from pgsink_spark.sources.fixtures import load_table


def test_ivf_full_probe_equals_bruteforce(spark, sf_dir):
    """With nprobe = n_partitions the IVF path must reproduce the exact
    result — validates routing + per-partition search + merge. (The
    fixture embeddings are near-random, so pruned-probe recall is
    data-noise; the machinery is what we assert.)"""
    exact = {
        (r.q_id, r.vec_id)
        for r in sim.ann_bruteforce_topk(spark, sf_dir).collect()
    }
    emb = load_table(spark, sf_dir, "embeddings")
    n_labels = emb.select("label").distinct().count()
    full = {
        (r.q_id, r.vec_id)
        for r in sim.ann_ivf_topk(spark, sf_dir, nprobe=n_labels).collect()
    }
    assert full == exact


def test_ivf_pruned_probe_runs(spark, sf_dir):
    rows = sim.ann_ivf_topk(spark, sf_dir, nprobe=2).collect()
    assert len(rows) == 25  # 5 queries × top-5


def test_pandas_scorer_matches_fold_scorer(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = (
        emb.where(F.col("vec_id") == 1).select("embedding").head()[0]
    )
    pandas_top = [
        r.vec_id
        for r in sim.cosine_topk_pandas(
            emb.where(F.col("vec_id") != 1), [float(x) for x in qvec], k=10
        ).collect()
    ]
    fold_top = [
        r.vec_id for r in sim.d20_similarity_topk(spark, sf_dir).collect()
    ]
    assert sorted(pandas_top) == sorted(fold_top)


def test_lsh_zero_planes_equals_bruteforce(spark, sf_dir):
    """n_planes=0 puts the whole corpus in one bucket, so the LSH path
    must reproduce the exact brute-force result — validates bucketing +
    in-bucket search + merge."""
    exact = {
        (r.q_id, r.vec_id)
        for r in sim.ann_bruteforce_topk(spark, sf_dir).collect()
    }
    full = {
        (r.q_id, r.vec_id)
        for r in sim.ann_lsh_topk(spark, sf_dir, n_planes=0).collect()
    }
    assert full == exact


def test_lsh_buckets_partition_corpus(spark, sf_dir):
    """Every vector lands in exactly one of the 2^n_planes buckets and
    the bucket id is deterministic across evaluations."""
    emb = load_table(spark, sf_dir, "embeddings")
    cand = emb.select(
        "vec_id", sim.as_double(F.col("embedding")).alias("e")
    ).select("vec_id", sim.lsh_bucket(F.col("e"), 4).alias("b"))
    rows = cand.collect()
    assert all(0 <= r.b < 16 for r in rows)
    again = {(r.vec_id, r.b) for r in cand.collect()}
    assert {(r.vec_id, r.b) for r in rows} == again


@pytest.mark.slow
def test_blocked_embedding_dedup_is_exact(spark, sf_dir):
    """Triangle-inequality cell blocking must reproduce the all-pairs
    result exactly — recall is guaranteed by the bound, not probability
    (VERDICT r1: the all-pairs join was the scale-killer to replace)."""
    blocked = sim.dedup_embedding_pairs(spark, sf_dir).collect()
    allpairs = sim.dedup_embedding_pairs_allpairs(spark, sf_dir).collect()
    assert blocked == allpairs
    assert len(blocked) > 0


@pytest.mark.slow
def test_admission_blocked_path_is_exact(spark, sf_dir):
    """The triangle-admission BLOCKED plan (the >SMALL_TILE_MAX_ROWS
    scale route) must reproduce the all-pairs result exactly. Called
    directly with n_rows=None because every fixture corpus — and the
    probe replicas after their value-identical mass collapses — sits
    under the single-tile gate, so nothing else exercises admission."""
    emb = load_table(spark, sf_dir, "embeddings")
    e0 = emb.select(
        "vec_id", "label", sim.as_double(F.col("embedding")).alias("e")
    )
    blocked = (
        sim._blocked_tile_pairs(spark, e0, 0.4).orderBy("d1", "d2").collect()
    )
    allpairs = sim.dedup_embedding_pairs_allpairs(spark, sf_dir).collect()
    assert blocked == allpairs
    assert len(blocked) > 0


def test_single_tile_gate_picks_fast_path(spark, sf_dir):
    """Under the gate the plan is ONE applyInPandas with no admission
    join (no BroadcastHashJoin feeding it); over the gate (n_rows
    above SMALL_TILE_MAX_ROWS) the admission join appears."""
    emb = load_table(spark, sf_dir, "embeddings")
    e0 = emb.select(
        "vec_id", "label", sim.as_double(F.col("embedding")).alias("e")
    )
    fast = sim._blocked_tile_pairs(spark, e0, 0.4, n_rows=100)
    fast_plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in fast_plan
    slow = sim._blocked_tile_pairs(
        spark, e0, 0.4, n_rows=sim.SMALL_TILE_MAX_ROWS + 1
    )
    slow_plan = slow._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in slow_plan


def test_blocked_embedding_dedup_plan_has_no_cross_product(spark, sf_dir):
    df = sim.dedup_embedding_pairs(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_ivf_kmeans_full_probe_equals_bruteforce(spark, sf_dir):
    """With nprobe = n_cells the KMeans-trained IVF search degenerates
    to exact search — recall 100% vs brute force regardless of what
    partition the clustering learned."""
    exact = {
        (r.q_id, r.vec_id)
        for r in sim.ann_bruteforce_topk(spark, sf_dir).collect()
    }
    full = {
        (r.q_id, r.vec_id)
        for r in sim.ann_ivf_kmeans_topk(
            spark, sf_dir, nprobe=8, n_cells=8
        ).collect()
    }
    assert full == exact


def test_ivf_kmeans_pruned_probe_runs(spark, sf_dir):
    out = sim.ann_ivf_kmeans_topk(spark, sf_dir, nprobe=2).collect()
    assert len(out) > 0
    # 5 queries, k=5, ranks well-formed
    per_q = {}
    for r in out:
        per_q.setdefault(r.q_id, []).append(r.rnk)
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_semdedup_consistent_with_exact_pairs(spark, sf_dir):
    """semdedup prunes exactly the vectors that have an earlier
    same-cluster neighbor in the EXACT cosine pair list — the blocked
    dedup is its ground truth restricted to cluster-mates."""
    from pgsink_spark.operators.similarity import (
        dedup_embedding_pairs,
        semdedup_cluster_prune,
    )
    from pgsink_spark.sources.fixtures import load_table

    labels = {
        r["vec_id"]: r["label"]
        for r in load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label")
        .collect()
    }
    same_cluster_pairs = [
        (r["d1"], r["d2"])
        for r in dedup_embedding_pairs(spark, sf_dir).collect()
        if labels[r["d1"]] == labels[r["d2"]]
    ]
    expect_removed = {d2 for _, d2 in same_cluster_pairs}
    got = {
        r["vec_id"]: r["keep"]
        for r in semdedup_cluster_prune(spark, sf_dir).collect()
    }
    removed = {v for v, keep in got.items() if not keep}
    assert removed == expect_removed


def test_multiprobe_lsh_superset_of_single_probe(spark, sf_dir):
    """Radius-1 multi-probe scans a strict superset of the single-probe
    candidate set, so its top-k cosines are >= the single-probe ones
    per query (the classic multi-probe guarantee)."""
    single = {
        (r.q_id, r.vec_id, r.rnk)
        for r in sim.ann_lsh_topk(
            spark, sf_dir, n_planes=4, probe_radius=0
        ).collect()
    }
    multi_rows = sim.ann_lsh_topk(
        spark, sf_dir, n_planes=4, probe_radius=1
    ).collect()
    multi = {(r.q_id, r.vec_id, r.rnk) for r in multi_rows}
    # every query that had single-probe results still has results, and
    # the multi-probe result for a query is at least as large
    from collections import Counter

    per_q_single = Counter(q for q, _, _ in single)
    per_q_multi = Counter(q for q, _, _ in multi)
    for q, n in per_q_single.items():
        assert per_q_multi[q] >= n


def test_multiprobe_full_radius_equals_bruteforce(spark, sf_dir):
    """With 1 plane and radius 1 every bucket (both of them) is probed,
    so multi-probe must reproduce the exact brute-force result."""
    exact = {
        (r.q_id, r.vec_id)
        for r in sim.ann_bruteforce_topk(spark, sf_dir).collect()
    }
    full = {
        (r.q_id, r.vec_id)
        for r in sim.ann_lsh_topk(
            spark, sf_dir, n_planes=1, probe_radius=1
        ).collect()
    }
    assert full == exact


@pytest.mark.slow
def test_recall_gates_pass_and_are_deterministic(spark, sf_dir):
    """The three ANN recall gates emit (n_queries=5, recall_ok=True) at
    every fixture SF (floors are >=2x under measured hits), twice in a
    row (determinism: hash planes, seeded kmeans, fixture labels)."""
    for fn in (
        sim.ann_ivf_recall,
        sim.ann_lsh_recall,
        sim.ann_kmeans_recall,
    ):
        for _ in range(2):
            rows = fn(spark, sf_dir).collect()
            assert len(rows) == 1
            assert rows[0]["n_queries"] == 5
            assert rows[0]["recall_ok"] is True


@pytest.mark.slow
def test_pq_recall_gate_and_encode_shape(spark, sf_dir):
    """The PQ gate passes (floor >=2x under measured hits) and the
    two-stage path is deterministic; a full-corpus re-rank (rerank >>
    corpus) must reproduce exact top-k, proving the ADC shortlist and
    re-rank stages compose correctly."""
    for _ in range(2):
        rows = sim.ann_pq_recall(spark, sf_dir).collect()
        assert len(rows) == 1
        assert rows[0]["n_queries"] == 5
        assert rows[0]["recall_ok"] is True

    exact = {
        (r["q_id"], r["vec_id"], r["rnk"])
        for r in sim._exact_top5(spark, sf_dir).collect()
    }
    full = {
        (r["q_id"], r["vec_id"], r["rnk"])
        for r in sim.ann_pq_topk(spark, sf_dir, k=5, rerank=10**9).collect()
    }
    assert full == exact


def test_quant_int8_gate_guarantees_hold(spark, sf_dir):
    """Round-to-nearest affine int8 quantization can never exceed
    half-step reconstruction error or leave the 0..255 code range —
    the gate's booleans must hold on the real fixture."""
    from pgsink_spark.operators.similarity import quant_int8_gate

    row = quant_int8_gate(spark, sf_dir).collect()[0]
    assert row.codes_in_range and row.within_half_step
    assert row.n_vals > 0 and row.mean_abs_err >= 0.0


def test_quant_int8_exact_on_grid(spark):
    """Vectors already on the 255-step grid reconstruct exactly:
    mean_abs_err must be 0 (the gate is sharp, not just bounded)."""
    import pgsink_spark.operators.similarity as sim

    rows = [
        (i, [float(c) for c in ((i % 4), 255 - (i % 4), 128)], 0)
        for i in range(12)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    orig = sim.load_table
    try:
        sim.load_table = lambda s, d, t: df
        out = sim.quant_int8_gate(spark, "unused").collect()[0]
    finally:
        sim.load_table = orig
    assert out.codes_in_range and out.within_half_step
    assert out.mean_abs_err == 0.0


@pytest.mark.slow
def test_embedding_pairs_dup_branch_matches_allpairs(spark, sf_dir, tmp_path):
    """The census-gated plan-level collapse branch (dup_ratio > 0.25)
    must emit exactly the all-pairs result on a duplicate-heavy corpus
    — the adaptive gate steers cost, never results (r10: the r9 gate
    breach fix made the collapse layer conditional)."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.agg(F.max("vec_id")).head()[0] + 1
    dup = emb
    for k in (1, 2):
        dup = dup.unionByName(
            emb.withColumn("vec_id", (F.col("vec_id") + F.lit(k * n)).cast("long"))
        )
    out = str(tmp_path / "dupcorpus")
    dup.write.parquet(f"{out}/embeddings.parquet")
    # dup_ratio = 2/3 by construction → plan-level branch
    blocked = sim.dedup_embedding_pairs(spark, out).collect()
    allpairs = sim.dedup_embedding_pairs_allpairs(spark, out).collect()
    assert blocked == allpairs
    assert len(blocked) > 0


@pytest.mark.slow
def test_adaptive_pairs_randomized_all_paths(spark):
    """Seeded randomized corpora (duplicate mass, multiple labels,
    near-duplicate noise) through every plan shape — the adaptive core
    (census picks the branch), the single-tile fast path, and the
    admission-blocked plan forced directly — against a NumPy
    brute-force oracle. The threshold is re-chosen per corpus as the
    midpoint of a wide gap in the similarity distribution so BLAS
    blocking-order ULP differences can never flip membership."""
    import numpy as np

    rng = np.random.default_rng(7)
    for case in range(3):
        n, d, k, nbase = 120, 8, 3, 30
        base = rng.normal(size=(nbase, d))
        rows = []
        for vid in range(n):
            v = base[rng.integers(0, nbase)]
            if rng.random() < 0.5:  # exact duplicate mass
                vec = v
            else:
                vec = v + rng.normal(scale=0.05, size=d)
            rows.append(
                (
                    vid,
                    int(rng.integers(0, k)),
                    [float(x) for x in vec],
                )
            )
        E = np.array([r[2] for r in rows])
        U = E / np.linalg.norm(E, axis=1, keepdims=True)
        sims = (U @ U.T)[np.triu_indices(n, k=1)]
        # pick t inside the widest gap of the mid-range sim values
        s = np.unique(np.sort(sims))
        mid = s[(s > 0.1) & (s < 0.95)]
        gaps = np.diff(mid)
        gi = int(np.argmax(gaps))
        assert gaps[gi] > 1e-6
        t = float((mid[gi] + mid[gi + 1]) / 2)
        iu, ju = np.triu_indices(n, k=1)
        expected = sorted(
            (int(i), int(j))
            for i, j, sv in zip(iu, ju, sims)
            if sv >= t
        )
        df = spark.createDataFrame(
            rows, "vec_id long, label long, e array<double>"
        )
        got = sim._embedding_pairs_adaptive(spark, df, t).collect()
        assert [(r.d1, r.d2) for r in got] == expected, f"adaptive case {case}"
        forced_small = (
            sim._blocked_tile_pairs(spark, df, t, n_rows=n)
            .orderBy("d1", "d2")
            .collect()
        )
        assert [(r.d1, r.d2) for r in forced_small] == expected
        forced_admission = (
            sim._blocked_tile_pairs(spark, df, t)
            .orderBy("d1", "d2")
            .collect()
        )
        assert [(r.d1, r.d2) for r in forced_admission] == expected


def test_arrow_topk_bitwise_matches_fold(spark, sf_dir):
    """brute_force_topk_arrow must reproduce the JVM fold scorer's
    ranking EXACTLY (same (q_id, vec_id, rnk) rows, same order) — the
    per-dimension accumulation performs the identical IEEE-754 double
    operation sequence, so this is a bitwise contract, not a tolerance
    check (r10: the Arrow twin took over the exact-search hot paths)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        sim.as_double(F.col("embedding")).alias("q_emb"),
    )
    fold = sim.brute_force_topk(emb, q, k=7).orderBy("q_id", "rnk").collect()
    arrow = (
        sim.brute_force_topk_arrow(emb, q, k=7).orderBy("q_id", "rnk").collect()
    )
    assert arrow == fold


@pytest.mark.slow
def test_ivf_probe_curve_fused_hits_match_pernprobe_reruns(spark, sf_dir):
    """ann_ivf_probe_curve's fused single-scoring-pass sweep must
    produce the same per-nprobe recall hits as independently rerunning
    ann_ivf_topk at each nprobe (the pre-r10 shape)."""
    exact = sim._exact_top5(spark, sf_dir).select("q_id", "vec_id")
    # _ivf_curve_hits counts hits through a left join against this set,
    # which counts each hit once only while (q_id, vec_id) is unique
    assert exact.count() == exact.distinct().count()
    per_p = []
    for p in sim.IVF_CURVE_PROBES:
        ann = sim.ann_ivf_topk(spark, sf_dir, k=5, nprobe=p)
        per_p.append(
            exact.join(
                ann.select("q_id", "vec_id"),
                on=["q_id", "vec_id"],
                how="left_semi",
            ).count()
        )
    # r11: the fused sweep's hit counts themselves (one window + one
    # aggregate — see _ivf_curve_hits) must equal the rerun counts,
    # not just round-trip through the emitted booleans
    assert sim._ivf_curve_hits(spark, sf_dir) == per_p
    rows = {
        r["nprobe"]: (r["monotone_ok"], r["floor_ok"])
        for r in sim.ann_ivf_probe_curve(spark, sf_dir).collect()
    }
    prev = 0
    for p, h in zip(sim.IVF_CURVE_PROBES, per_p):
        assert rows[p] == (h >= prev, per_p[-1] >= sim.IVF_CURVE_FLOOR)
        prev = h


def test_kcenter_local_kernel_matches_driver_loop(spark, sf_dir):
    """The r10 single-task k-center kernel must emit exactly what the
    KCENTER_K driver-round-trip loop emits: same picks, same tie
    order, same quantized d2 floats."""
    import pgsink_spark.operators.similarity as S

    orig = S.KCENTER_LOCAL_VEC_CAP
    try:
        S.KCENTER_LOCAL_VEC_CAP = 10**9
        kern = [tuple(r) for r in S.diversity_kcenter(spark, sf_dir).collect()]
        S.KCENTER_LOCAL_VEC_CAP = -1
        loop = [tuple(r) for r in S.diversity_kcenter(spark, sf_dir).collect()]
    finally:
        S.KCENTER_LOCAL_VEC_CAP = orig
    assert kern == loop
    assert len(kern) == S.KCENTER_K
