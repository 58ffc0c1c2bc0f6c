"""Round-8 optimization pins: Pregel broadcast↔co-partition gate,
co-purchase edge-stage single-exchange rewrite, localkmeans sample
de-bias + repair fixes."""

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_pregel_contrib_plan_shapes(spark):
    """The broadcast↔co-partition choice is CODE, not a comment: below
    the node gate the rank attach is a broadcast join, above it a plain
    (co-partitionable) join with no broadcast hint."""
    from porcupine_spark.operators.components import _pregel_contrib

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    rd = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10)], "src long, c long"
    )
    bcast_plan = _pregel_contrib(edges, rd, True)._jdf.queryExecution().toString()
    plain_plan = _pregel_contrib(edges, rd, False)._jdf.queryExecution().toString()
    assert "BroadcastHashJoin" in bcast_plan
    # pre-AQE initial plan: no broadcast exchange without the hint (tiny
    # inputs may still AQE-convert at runtime; the GATE is what's pinned)
    assert "BroadcastHashJoin" not in plain_plan.split("== Physical Plan ==")[-1]


def test_pagerank_gate_modes_identical(spark, monkeypatch):
    """Both Pregel layouts produce the identical exact-decimal ranks
    (sum order cannot matter: decimal adds are exact)."""
    from porcupine_spark.functions import driverstate
    from porcupine_spark.operators import components
    from porcupine_spark.operators.components import pagerank_scaled

    monkeypatch.setattr(driverstate, "DRIVER_STATE_MAX_ROWS", 0)

    rows = [(i, (i * 7) % 23) for i in range(60)] + [(5, 6), (6, 5), (9, 11)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in rows if a != b], "src long, dst long"
    )
    monkeypatch.setattr(components, "PREGEL_BROADCAST_MAX_NODES", 1_000_000)
    bc = {(r.node, r.rank_scaled) for r in pagerank_scaled(spark, edges).collect()}
    monkeypatch.setattr(components, "PREGEL_BROADCAST_MAX_NODES", 0)  # force the shuffled layout
    cp = {(r.node, r.rank_scaled) for r in pagerank_scaled(spark, edges).collect()}
    assert bc == cp and len(bc) > 0


def test_copurchase_edges_single_exchange_and_equivalence(spark):
    """r8 edge-stage rewrite: repartition(l_orderkey) feeds distinct AND
    the self-join off ONE exchange (HashPartitioning(ok) satisfies both
    clusterings), and the edge set is byte-identical to the naive
    distinct-then-join form."""
    from porcupine_spark.operators.components import (
        TRI_MIN_SUPPORT,
        _copurchase_edges,
    )
    from porcupine_spark.tables import load_table

    e_new = _copurchase_edges(spark, SF)
    # initial physical plan: the edge-stage inputs shuffle by l_orderkey
    # ALONE (one layout serves distinct + self-join; identical subplans
    # are stage-reused at runtime); no (ok, pk)-keyed exchange survives
    plan = e_new._jdf.queryExecution().executedPlan().toString()
    import re

    assert re.search(r"Exchange hashpartitioning\(l_orderkey#\d+L, \d+\)", plan), plan
    assert not re.search(
        r"Exchange hashpartitioning\(l_orderkey#\d+L, l_partkey", plan
    ), plan

    li = load_table(spark, SF, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("v"))
    e_old = (
        a.join(b, "l_orderkey")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= TRI_MIN_SUPPORT)
        .select("u", "v")
    )
    assert {(r.u, r.v) for r in e_new.collect()} == {
        (r.u, r.v) for r in e_old.collect()
    }


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


def test_basket_items_single_exchange_and_equivalence(spark):
    """r8: basket_pair_lift derives its item set off ONE l_orderkey
    exchange (same layout trick as _copurchase_edges); no (ok, pk)-keyed
    exchange survives, and the result matches the naive distinct form."""
    import re

    from porcupine_spark.plans.joins_extra import (
        BASKET_MIN_SUPPORT,
        basket_pair_lift,
    )
    from porcupine_spark.tables import load_table

    new = basket_pair_lift(spark, SF)
    plan = new._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"Exchange hashpartitioning\(l_orderkey#\d+L, \d+\)", plan), plan
    assert not re.search(
        r"Exchange hashpartitioning\(l_orderkey#\d+L, l_partkey", plan
    ), plan

    li = load_table(spark, SF, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    n = items.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    freq = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_part"))
    a = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_a"))
    b = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= BASKET_MIN_SUPPORT)
    )
    fa = freq.select(F.col("l_partkey").alias("part_a"), F.col("n_part").alias("n_a"))
    fb = freq.select(F.col("l_partkey").alias("part_b"), F.col("n_part").alias("n_b"))
    old = (
        pairs.join(F.broadcast(fa), "part_a")
        .join(F.broadcast(fb), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a", "part_b", "support", "n_a", "n_b",
            (
                (F.col("support").cast("decimal(38,0)") * F.col("n_orders")).cast("double")
                / (F.col("n_a").cast("decimal(38,0)") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
    )
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))


def test_rfm_concurrent_ranks_match_chained(spark):
    """r8: the three RFM quartile rankings run as concurrent jobs and
    recombine on the unique customer key — the segment table must be
    byte-identical to the old chained global_rank form."""
    from porcupine_spark.functions.topk import global_rank, ntile_from_rank
    from porcupine_spark.operators.quality import rfm_segmentation
    from porcupine_spark.tables import load_table

    new = rfm_segmentation(spark, SF)

    o = load_table(spark, SF, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("monetary"),
    )
    r_rk, n, _ = global_rank(
        per_cust, [F.desc("last_order"), F.asc("o_custkey")], rank_col="_r"
    )
    f_rk, _, _ = global_rank(
        r_rk, [F.desc("frequency"), F.asc("o_custkey")], rank_col="_f"
    )
    m_rk, _, _ = global_rank(
        f_rk, [F.desc("monetary"), F.asc("o_custkey")], rank_col="_m"
    )
    scored = m_rk.select(
        "monetary",
        ntile_from_rank("_r", n, 4).cast("long").alias("r_quartile"),
        ntile_from_rank("_f", n, 4).cast("long").alias("f_quartile"),
        ntile_from_rank("_m", n, 4).cast("long").alias("m_quartile"),
    )
    old = scored.groupBy("r_quartile", "f_quartile", "m_quartile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.min("monetary").alias("min_monetary"),
        F.max("monetary").alias("max_monetary"),
    )
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))


def test_minhash_carry_columns_match_joined(spark):
    """r8: carry= threads per-doc attributes through the verification
    join; the pair set and attached values must equal the old
    join-by-doc-id form exactly."""
    from porcupine_spark.operators.dedup import minhash_lsh_pairs
    from porcupine_spark.tables import load_table

    docs = load_table(spark, SF, "documents")
    carried = minhash_lsh_pairs(docs, carry=("source",))
    plain = minhash_lsh_pairs(docs)
    sa = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("source_a"))
    sb = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("source_b"))
    joined = plain.join(sa, "doc_a").join(sb, "doc_b").select(
        "doc_a", "doc_b", "jaccard", "source_a", "source_b"
    )
    assert sorted(map(tuple, carried.collect())) == sorted(
        map(tuple, joined.collect())
    )


@pytest.mark.parametrize(
    "carry, match",
    [
        (("doc",), "collides"),  # doc_a/doc_b aliases
        (("arr",), "collides"),  # arr_a/arr_b aliases
        (("jaccard",), "collides"),
        (("source", "source_a"), "collides"),  # another carry's alias
        (("source", "source"), "duplicate"),
        (("no_such_col",), "not in docs"),
    ],
    ids=["doc", "arr", "jaccard", "alias", "duplicate", "missing"],
)
def test_minhash_carry_rejects_bad_names(spark, carry, match):
    """carry= names are checked when the pairs are built, before any
    job runs: each bad name raises ValueError instead of a silent
    column clash or an analysis error deep in the plan."""
    from porcupine_spark.operators.dedup import minhash_lsh_pairs

    cols = {c for c in carry} | {"doc_id", "text", "source"}
    cols.discard("no_such_col")
    docs = spark.createDataFrame([], ", ".join(f"{c} string" for c in sorted(cols)))
    with pytest.raises(ValueError, match=match):
        minhash_lsh_pairs(docs, carry=carry)


def test_embedding_pervec_hof_matches_explode(spark):
    """r8: the per-vector centroid-distance fold (zip_with/aggregate
    against a broadcast dim-ordered centroid array) must equal the old
    explode+join+hash-agg form exactly — including dtype (decimal sums
    are order-independent, so the dim-order fold is bit-identical)."""
    import random

    rng = random.Random(11)
    rows = [
        (i, i % 3, [rng.uniform(-2, 2) for _ in range(17)]) for i in range(200)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )

    elems = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim0", "x")
    ).select(
        "vec_id", "label", (F.col("dim0") + 1).alias("dim"),
        (F.col("x").cast("double") * F.lit(1e6)).cast("long").alias("s"),
    )
    cent = elems.groupBy("label", "dim").agg(
        F.expr("CAST(SUM(s) AS BIGINT) div COUNT(*)").alias("c")
    )
    old = (
        elems.join(F.broadcast(cent), ["label", "dim"])
        .select("vec_id", "label",
                ((F.col("s") - F.col("c")) * (F.col("s") - F.col("c"))).alias("t"))
        .groupBy("vec_id", "label")
        .agg(F.sum(F.col("t").cast("decimal(38,0)")).alias("dsp"))
    )
    cent_arr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
        ).alias("c_arr")
    )
    s_arr = F.transform(
        "embedding", lambda x: (x.cast("double") * F.lit(1e6)).cast("long")
    )
    new = (
        emb.filter(F.size("embedding") > 0)
        .join(F.broadcast(cent_arr), "label")
        .select(
            "vec_id", "label",
            F.aggregate(
                F.zip_with(s_arr, F.col("c_arr"), lambda s, c: (s - c) * (s - c)),
                F.lit(0).cast("decimal(38,0)"),
                lambda acc, t: acc + t.cast("decimal(38,0)"),
            ).alias("dsp"),
        )
    )
    assert old.schema["dsp"].dataType == new.schema["dsp"].dataType
    assert sorted(map(tuple, old.collect())) == sorted(map(tuple, new.collect()))
