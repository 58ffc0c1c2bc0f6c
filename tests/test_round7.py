"""Round-7 additions: hashed linear classifier gate, streaming
familiarity gate, product quantization, the local k-means trainer and
the min-band candidate emission (the BPE tests are in
``test_driver_loops.py``).

The oracle sweep proves engine parity; these tests pin the SEMANTICS
that parity alone wouldn't catch — stream-vs-batch result parity,
trainer contracts, duplicate-free candidates and plan shapes
(broadcast weight table).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from porcupine_spark.bucketing import executed_plan
from conftest import SF01_DIR


def test_classifier_gate_plan_broadcasts_weights_no_udf(spark, sf_dir):
    """The weight table is config-sized — the plan must broadcast it
    (never shuffle the corpus side for it) and stay UDF-free."""
    from porcupine_spark.plans.registry import load_all_plans

    df = load_all_plans()["classifier_quality_gate"].builder(spark, sf_dir)
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    rows = df.collect()
    keeps = {r.keep for r in rows}
    assert keeps == {True, False}, "gate must discriminate, not pass/fail all"


def test_stream_familiarity_gate_matches_batch_rollup(spark, sf_dir):
    """VERDICT r6 #8: the streaming gate must agree with the batch gate
    rolled up per source — same corpus, same index, same keep set."""
    from porcupine_spark.plans.registry import load_all_plans

    plans = load_all_plans()
    sf = sf_dir
    got = {
        r.source: (r.n_docs, r.n_keep)
        for r in plans["stream_familiarity_gate"].builder(spark, sf).collect()
    }
    batch = (
        plans["bigram_familiarity_gate"]
        .builder(spark, sf)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
        )
    )
    want = {r.source: (r.n_docs, r.n_keep) for r in batch.collect()}
    assert got == want
    assert sum(v[1] for v in want.values()) > 0  # the gate keeps something


def test_stream_classifier_gate_matches_batch_rollup(spark, sf_dir):
    """The literal-weight streaming scorer must agree with the batch
    broadcast-join scorer rolled up per source."""
    from porcupine_spark.plans.registry import load_all_plans

    plans = load_all_plans()
    sf = sf_dir
    got = {
        r.source: (r.n_docs, r.n_keep)
        for r in plans["stream_classifier_gate"].builder(spark, sf).collect()
    }
    batch = (
        plans["classifier_quality_gate"]
        .builder(spark, sf)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
        )
    )
    want = {r.source: (r.n_docs, r.n_keep) for r in batch.collect()}
    assert got == want


def test_pq_encode_and_adc_invariants(spark, sf_dir):
    """PQ structural invariants beyond oracle parity: the histogram
    covers the whole corpus with codes in [0, K); the ADC top-k is the
    head of the shortlist ranking; codebook vectors encode to
    themselves (distance 0 to their own centroid in every subspace)."""
    from porcupine_spark.operators.quantization import (
        PQ_K,
        PQ_M,
        _pq_adc_ranked,
        pq_adc_topk,
        pq_code_histogram,
    )
    from porcupine_spark.tables import load_table

    sf = sf_dir
    hist = pq_code_histogram(spark, sf).collect()
    n_vec = load_table(spark, sf, "embeddings").count()
    assert all(0 <= r.code < PQ_K and 0 <= r.m < PQ_M for r in hist)
    # every subspace's histogram sums to the corpus size
    per_m = {}
    for r in hist:
        per_m[r.m] = per_m.get(r.m, 0) + r.n_vectors
    assert per_m == {m: n_vec for m in range(PQ_M)}

    top5 = {
        (r.query_id, r.neighbor_id) for r in pq_adc_topk(spark, sf).collect()
    }
    short = {
        (r.query_id, r.neighbor_id)
        for r in _pq_adc_ranked(spark, sf, 50).collect()
    }
    assert top5 <= short and len(top5) == 50  # 10 queries x 5


def test_pq_kmeans_codebook_swap_is_real(spark):
    """The trained-codebook swap must be REAL: the k-means provider runs
    through the shared encode/ADC/rank machinery and lands in the same
    recall band as the untrained first-K codebook. (On this synthetic
    near-uniform corpus k-means has no cluster structure to exploit, so
    strict superiority is not a valid invariant — measured 36 vs 38
    hits of 50; on clustered production embeddings the trained codebook
    is what ships.)"""
    from porcupine_spark.plans.registry import load_all_plans

    plans = load_all_plans()
    sf = SF01_DIR
    trained = {
        r.query_id: r.n_hits for r in plans["pq_kmeans_recall"].builder(spark, sf).collect()
    }
    untrained = {
        r.query_id: r.n_hits for r in plans["pq_adc_recall"].builder(spark, sf).collect()
    }
    assert set(trained) == set(untrained) == set(range(10))
    t, u = sum(trained.values()), sum(untrained.values())
    assert t > 0 and t >= 0.6 * u, (trained, untrained)


def test_local_kmeans_trainer_contract():
    """The bounded-sample local trainer (functions/localkmeans.py) that
    replaced the pyspark.ml fits in optimization r7: deterministic
    across calls, GEMM distances == naive distances, and the n<k /
    empty-cluster paths return a full (k, dim) matrix."""
    from porcupine_spark.functions.localkmeans import local_kmeans_fit

    rng = np.random.RandomState(3)
    x = rng.randn(500, 8) + np.repeat(np.eye(8) * 6.0, 63, axis=0)[:500]

    a = local_kmeans_fit(x, 8, seed=7)
    b = local_kmeans_fit(x, 8, seed=7)
    assert a.shape == (8, 8) and np.array_equal(a, b), "non-deterministic fit"

    # GEMM identity: the assignment implied by the returned centers must
    # equal the naive ||x - c||^2 argmin assignment (ties -> lowest cid)
    naive = ((x[:, None, :] - a[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    x2 = (x * x).sum(axis=1)
    c2 = (a * a).sum(axis=1)
    gemm = (x2[:, None] - 2.0 * (x @ a.T) + c2[None, :]).argmin(axis=1)
    assert np.array_equal(naive, gemm)
    # well-separated synthetic clusters: every center owns points
    assert len(set(gemm.tolist())) == 8

    # n < k: still returns k centers, deterministically
    small = rng.randn(3, 4)
    c1 = local_kmeans_fit(small, 5, seed=1)
    c2_ = local_kmeans_fit(small, 5, seed=1)
    assert c1.shape == (5, 4) and np.array_equal(c1, c2_)

    # degenerate input (all points identical -> empty-cluster repair)
    ones = np.ones((50, 4))
    cd = local_kmeans_fit(ones, 4, seed=2)
    assert cd.shape == (4, 4) and np.isfinite(cd).all()


def test_bounded_training_sample_is_capped_and_deterministic(spark):
    """The trainer's input: at most TRAIN_POINTS_PER_CENTROID*k rows,
    selected in a deterministic order (stable under partitioning),
    Arrow path. r8 switched the order from a vec_id prefix to
    xxhash64(vec_id) (de-biased subsample — ADVICE r7); the hash-order
    specifics are pinned in test_bounded_training_sample_hash_order."""
    from porcupine_spark.functions import localkmeans as lk

    rows = [(int(i), [float(i), float(-i)]) for i in range(700, -1, -1)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    old = lk.TRAIN_POINTS_PER_CENTROID
    lk.TRAIN_POINTS_PER_CENTROID = 100
    try:
        s = lk.bounded_training_sample(emb.repartition(7), 2)
        s2 = lk.bounded_training_sample(emb.repartition(11), 2)
    finally:
        lk.TRAIN_POINTS_PER_CENTROID = old
    assert s.shape == (200, 2) and s.dtype == np.float64
    assert np.array_equal(s, s2)


def test_kmeans_empty_cluster_repairs_are_distinct():
    """ADVICE r7: two clusters empty in the SAME Lloyd iteration must
    repair to DIFFERENT points (the chosen row is masked out), not both
    to the global argmax."""
    from porcupine_spark.functions.localkmeans import _one_kmeans_run

    # 2 distinct coords, k=4 -> k-means++ must duplicate inits -> >=2
    # empty clusters in iteration 1; both coords must survive as centers
    x = np.array([[0.0, 0.0], [100.0, 0.0], [0.0, 0.0], [100.0, 0.0]])
    for seed in range(12):
        centers, inertia = _one_kmeans_run(x, 4, seed, 1)
        vals = sorted(c[0] for c in centers)
        assert vals == [0.0, 0.0, 100.0, 100.0], (seed, vals)
        assert inertia == 0.0


def test_kmeans_inertia_scored_on_final_centers():
    """ADVICE r7: restart ranking must use a FRESH assignment against the
    post-update centers, not the pre-update one."""
    from porcupine_spark.functions.localkmeans import _one_kmeans_run

    rng = np.random.RandomState(3)
    x = np.vstack(
        [rng.randn(40, 3) + off for off in ([0, 0, 0], [8, 0, 0], [0, 8, 0])]
    )
    for seed in (7, 1007, 2007):
        centers, inertia = _one_kmeans_run(x, 3, seed, 1)
        d = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        fresh = float(d.min(axis=1).sum())
        assert inertia == pytest.approx(fresh, rel=0, abs=0)


def test_bounded_training_sample_hash_order(spark):
    """r8 de-bias (ADVICE): the training sample is the lowest-k rows by
    xxhash64(vec_id) — deterministic, partitioning-independent, and NOT
    a vec_id prefix."""
    from porcupine_spark.functions import localkmeans as lk

    rows = [(int(i), [float(i), float(-i)]) for i in range(700, -1, -1)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    old = lk.TRAIN_POINTS_PER_CENTROID
    lk.TRAIN_POINTS_PER_CENTROID = 100
    try:
        s1 = lk.bounded_training_sample(emb.repartition(7), 2)
        s2 = lk.bounded_training_sample(emb.repartition(3), 2)
    finally:
        lk.TRAIN_POINTS_PER_CENTROID = old
    assert s1.shape == (200, 2) and s1.dtype == np.float64
    assert np.array_equal(s1, s2)  # partitioning-independent
    # expected ids straight from the same hash, computed relationally
    exp = (
        emb.select("vec_id")
        .orderBy(F.xxhash64("vec_id"), "vec_id")
        .limit(200)
        .toPandas()["vec_id"]
        .to_numpy()
        .astype(np.float64)
    )
    assert np.array_equal(s1[:, 0], exp)
    assert not np.array_equal(np.sort(exp), np.arange(200.0))  # not a prefix


def test_neardup_lsh_min_band_candidates_unique_and_complete(spark):
    """The r7 candidate stage emits each near-threshold pair from its
    LOWEST colliding band only, replacing the cross-bucket distinct()
    Exchange. Contract: the emitted set is duplicate-free AND equals
    the old emit-everywhere + distinct reference set."""
    import pandas as pd

    from porcupine_spark.operators import similarity as S
    from porcupine_spark.tables import load_table

    sf = SF01_DIR
    emb = load_table(spark, sf, "embeddings", widen=False).select(
        "vec_id", "embedding"
    )
    sigs = S._lsh_signatures(emb)

    got = S._lsh_bucket_candidates(sigs).collect()
    pairs = [(r.id_a, r.id_b) for r in got]
    assert len(pairs) == len(set(pairs)), "duplicate candidate emitted"

    def all_band_pairs(pdf):
        ids = pdf["vec_id"].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        matn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        sims = matn @ matn.T
        iu, ju = np.triu_indices(len(ids), 1)
        keep = sims[iu, ju] >= S.NEARDUP_T - 2 * S.NEARDUP_MARGIN
        a, b = ids[iu[keep]], ids[ju[keep]]
        return pd.DataFrame(
            {"id_a": np.minimum(a, b), "id_b": np.maximum(a, b)}
        )

    n_bands = S.LSH_PLANES // S.LSH_BAND_BITS
    be = sigs.select(
        "vec_id",
        "embedding",
        F.posexplode(
            F.array(*[
                F.substring("sig", b * S.LSH_BAND_BITS + 1, S.LSH_BAND_BITS)
                for b in range(n_bands)
            ])
        ).alias("band", "chunk"),
    )
    ref = (
        be.groupBy("band", "chunk")
        .applyInPandas(all_band_pairs, schema="id_a long, id_b long")
        .distinct()
        .collect()
    )
    assert set(pairs) == {(r.id_a, r.id_b) for r in ref}
    assert len(pairs) > 0, "degenerate corpus: contract untested"


def test_minhash_simhash_pairs_duplicate_free_without_distinct(spark):
    """The r7 min-band emission replaced the candidate distinct() in
    the banded pair generators (minhash, and the banded-Hamming core of
    simhash and media aHash): a pair colliding in several bands must
    still appear exactly once in the output (the oracle hash-compare in
    test_oracles also pins the exact sets; this pins the uniqueness
    mechanism on its own)."""
    from porcupine_spark.operators import dedup as D
    from porcupine_spark.operators.multimodal import media_ahash_pairs, media_table
    from porcupine_spark.tables import load_table

    sf = SF01_DIR
    docs = load_table(spark, sf, "documents")

    mh = [(r.doc_a, r.doc_b) for r in D.minhash_lsh_pairs(docs).collect()]
    assert len(mh) == len(set(mh)) and len(mh) > 0

    sh = [
        (r.doc_a, r.doc_b)
        for r in D.simhash_pairs(spark, sf).collect()
    ]
    assert len(sh) == len(set(sh)) and len(sh) > 0

    # the corpus has no near-identical payloads: plant copies of five
    # under new ids, each colliding with its original in all 4 bands
    media = media_table(spark, sf)
    copies = media.orderBy("doc_id").limit(5).select(
        (F.col("doc_id") + 10**9).alias("doc_id"), "payload"
    )
    md = [(r.doc_a, r.doc_b) for r in media_ahash_pairs(media.unionByName(copies)).collect()]
    assert len(md) == len(set(md)) and len(md) >= 5


def test_ivf_candidates_unique_without_distinct(spark):
    """r7 removed the no-op distinct() from the IVF serving paths: one
    bucket per vector (arn == 1) + distinct probed cids per query means
    (query_id, neighbor_id) can never duplicate. Pin that invariant."""
    from porcupine_spark.operators.similarity import (
        ivf_centroids,
        ivf_topk_generic,
    )
    from porcupine_spark.tables import load_table

    emb = load_table(spark, SF01_DIR, "embeddings", widen=False)
    cents = ivf_centroids(emb, k=8, mode="first")
    out = ivf_topk_generic(emb, cents, query_ids=range(10), k=50, probes=3).collect()
    keys = [(r.query_id, r.neighbor_id) for r in out]
    assert len(keys) == len(set(keys)) and len(keys) > 0
