"""functions/topk: window-free global ranking primitives.

Three contracts, each pinned against the window function it replaces:
ranked_topk == row_number-then-filter, global_rank == row_number (+
running sums), ntile_from_rank == NTILE — on data WITH score ties, so
the tiebreak path is exercised. Plus plan-shape guards: the round-6
de-windowed queries must never regrow a partition-less WindowExec.
"""

import os
import sys

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)
from plan_audit import has_global_window  # noqa: E402

from porcupine_spark.bucketing import executed_plan
from porcupine_spark.functions.topk import global_rank, ntile_from_rank, ranked_topk


@pytest.fixture(scope="module")
def scored(spark):
    # 400 rows, scores collide every 23 values -> heavy tie coverage
    return spark.range(400).select(
        (F.col("id") % 23).cast("long").alias("score"),
        F.concat(F.lit("k"), F.lpad(F.col("id").cast("string"), 4, "0")).alias("key"),
        (F.col("id") * 7 % 101).cast("decimal(18,2)").alias("val"),
    )


def test_ranked_topk_matches_row_number(spark, scored):
    got = ranked_topk(scored, "score", ["key"], 37).select("score", "key", "rk")
    want = (
        scored.withColumn(
            "rk", F.row_number().over(W.orderBy(F.desc("score"), F.asc("key")))
        )
        .filter(F.col("rk") <= 37)
        .select("score", "key", "rk")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_ranked_topk_plan_has_no_window(spark, scored):
    plan = executed_plan(ranked_topk(scored, "score", ["key"], 5))
    assert not has_global_window(plan)
    assert "Window" not in plan  # not even a partitioned one
    assert "TakeOrderedAndProject" in plan


def test_global_rank_matches_row_number_and_running_sum(spark, scored):
    got, n, sums = global_rank(
        scored, [F.desc("score"), F.asc("key")], cumsum={"cum": "val"}
    )
    got_rows = sorted(
        (r.key, r.rk, str(r.cum)) for r in got.select("key", "rk", "cum").collect()
    )
    w = W.orderBy(F.desc("score"), F.asc("key"))
    want = scored.select(
        "key",
        F.row_number().over(w).cast("long").alias("rk"),
        F.sum("val").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("cum"),
    )
    want_rows = sorted((r.key, r.rk, str(r.cum)) for r in want.collect())
    assert got_rows == want_rows
    assert n == 400
    total = scored.agg(F.sum("val")).collect()[0][0]
    assert sums["cum"] == total  # exact Decimal round-trip


def test_global_rank_plan_window_is_partitioned(spark, scored):
    got, _, _ = global_rank(scored, [F.asc("score"), F.asc("key")])
    plan = executed_plan(got)
    assert not has_global_window(plan)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("n,q", [(400, 4), (401, 4), (403, 4), (7, 10), (10, 3)])
def test_ntile_from_rank_matches_ntile(spark, n, q):
    df = spark.range(n).select((F.col("id") + 1).alias("rk"))
    got = df.select(
        "rk", ntile_from_rank("rk", n, q).cast("int").alias("b")
    )
    want = (
        spark.range(n)
        .select((F.col("id") + 1).alias("rk"))
        .select("rk", F.ntile(q).over(W.orderBy("rk")).alias("b"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


DEWINDOWED = [
    "vocab_coverage_curve",
    "bigram_collocations",
    "cms_frequency_estimate",
    "rrf_fusion_topk",
    "zipf_rank_freq",
    "bpe_merge_candidates",
    "ntile_quartiles",
    "rfm_segmentation",
    "revenue_gini",
    "revenue_pareto_8020",
    "pareto_revenue_concentration",
]


@pytest.mark.parametrize("name", DEWINDOWED)
def test_corpus_grain_ranking_has_no_global_window(spark, sf_dir, name):
    """The round-6 de-windowed class: ranking corpus-derived or
    dimension-grain tables must never plan a partition-less WindowExec
    (the single-task 'No Partition Defined' scale killer)."""
    from porcupine_spark.plans.registry import load_all_plans

    spec = load_all_plans()[name]
    plan = executed_plan(spec.builder(spark, sf_dir))
    assert not has_global_window(plan), name


def test_sorted_neighborhood_sharded_rank_join(spark, sf_dir):
    """Verdict r5 #2: distributed rank + bucket equi-join — no global
    window, no nested-loop join anywhere in the plan."""
    from porcupine_spark.plans.registry import load_all_plans

    spec = load_all_plans()["sorted_neighborhood_pairs"]
    plan = executed_plan(spec.builder(spark, sf_dir))
    assert not has_global_window(plan)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ranked_topk_property_random_ties(spark):
    """Property: for arbitrary (score, key) multisets with heavy ties,
    ranked_topk == row_number-window-then-filter. Hypothesis drives the
    shapes; one Spark job per example keeps the budget sane."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=8, deadline=None)
    @given(
        scores=st.lists(st.integers(min_value=-5, max_value=5), min_size=1, max_size=60),
        k=st.integers(min_value=1, max_value=12),
    )
    def prop(scores, k):
        df = spark.createDataFrame(
            [(s, f"k{i:03d}") for i, s in enumerate(scores)], "score long, key string"
        )
        got = sorted(
            map(tuple, ranked_topk(df, "score", ["key"], k).select("score", "key", "rk").collect())
        )
        want = sorted(
            map(
                tuple,
                df.withColumn(
                    "rk", F.row_number().over(W.orderBy(F.desc("score"), F.asc("key")))
                )
                .filter(F.col("rk") <= k)
                .select("score", "key", "rk")
                .collect(),
            )
        )
        assert got == want

    prop()


def test_global_rank_property_random_partitioning(spark):
    """Property: global_rank's offsets+partitioned-window rank equals the
    global window rank for arbitrary data, regardless of how the range
    partitioner splits ties (the unique tiebreak makes both total)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=6, deadline=None)
    @given(
        vals=st.lists(st.integers(min_value=0, max_value=3), min_size=1, max_size=80),
    )
    def prop(vals):
        df = spark.createDataFrame(
            [(v, i) for i, v in enumerate(vals)], "v long, tb long"
        )
        got, n, sums = global_rank(df, [F.asc("v"), F.asc("tb")], cumsum={"cv": "v"})
        got_rows = sorted((r.tb, r.rk, r.cv) for r in got.collect())
        w = W.orderBy(F.asc("v"), F.asc("tb"))
        want = df.select(
            "tb",
            F.row_number().over(w).cast("long").alias("rk"),
            F.sum("v").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("cv"),
        )
        want_rows = sorted((r.tb, r.rk, r.cv) for r in want.collect())
        assert got_rows == want_rows
        assert n == len(vals) and sums["cv"] == sum(vals)

    prop()


def test_ranked_topk_filters_null_scores(spark):
    """ADVICE r6: the two ranking stages disagree on NULL placement, so
    NULL scores are dropped BEFORE the limit — with fewer than k
    non-null rows, only the non-null ones come back, ranked densely."""
    df = spark.createDataFrame(
        [(3, "a"), (None, "b"), (1, "c"), (None, "d")],
        "score long, key string",
    )
    rows = sorted(
        (r.key, r.rk) for r in ranked_topk(df, "score", ["key"], 4).collect()
    )
    assert rows == [("a", 1), ("c", 2)]


def test_global_rank_cumsum_with_null_inputs(spark):
    """ADVICE r6: NULL summed values must not poison the running sum —
    a global window sum skips NULLs and carries the prior total through
    them, so rows before a partition's first non-null value must too."""
    # enough rows to spread over several range partitions, with NULL vals
    data = [(i, None if i % 3 == 0 else i) for i in range(200)]
    df = spark.createDataFrame(data, "tb long, v long")
    got, n, sums = global_rank(df, [F.asc("tb")], cumsum={"cv": "v"})
    w = W.orderBy(F.asc("tb"))
    want = df.select(
        "tb",
        F.sum("v").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("cv"),
    )
    got_rows = sorted((r.tb, r.cv) for r in got.select("tb", "cv").collect())
    want_rows = sorted((r.tb, r.cv) for r in want.collect())
    assert got_rows == want_rows
    assert n == 200 and sums["cv"] == sum(v for _, v in data if v is not None)


def test_global_rank_rejects_reserved_column_collisions(spark):
    """ADVICE r6: withColumn silently REPLACES an existing column, so a
    caller whose frame already carries a scratch/rank name must get a
    loud error, not corrupted ranks."""
    df = spark.createDataFrame([(1, 2)], "v long, rk long")
    with pytest.raises(ValueError, match="reserved"):
        global_rank(df, [F.asc("v")])
    df2 = spark.createDataFrame([(1, 2)], "v long, _gr_pid long")
    with pytest.raises(ValueError, match="reserved"):
        global_rank(df2, [F.asc("v")], rank_col="rank")
