"""Plan-shape regression guards: the properties SCALE.md claims,
asserted against executed plans so perf regressions fail loudly."""

import re

import pytest
from pyspark.sql import functions as F

from porcupine_spark.bucketing import executed_plan, shuffle_exchanges_in_plan
from porcupine_spark.plans.registry import load_all_plans

SPECS = load_all_plans()


def plan_of(spark, sf_dir, name):
    return executed_plan(SPECS[name].builder(spark, sf_dir))


def test_q1_single_shuffle_with_pushdown(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    assert shuffle_exchanges_in_plan(plan) == 1  # partial agg map-side, one exchange
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the FileScan projects only referenced columns
    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m is not None
    cols = {c.split("#")[0] for c in m.group(1).split(",")}
    assert cols == {
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }


def test_q5_broadcasts_all_dims(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q5_region_revenue")
    assert plan.count("BroadcastHashJoin") == 5
    assert "SortMergeJoin" not in plan


def test_filter_project_zero_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "filter_project")
    assert shuffle_exchanges_in_plan(plan) == 0


@pytest.mark.parametrize("name", ["window_sliding_mean", "sessionize_events",
                                  "asof_purchase_last_view", "topk_per_group"])
def test_window_family_single_shuffle(spark, sf_dir, name):
    """Windows/sessionize/as-of reuse ONE key-partitioned exchange."""
    assert shuffle_exchanges_in_plan(plan_of(spark, sf_dir, name)) == 1


def test_contamination_broadcasts_bench_side(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "contamination_check")
    assert "BroadcastHashJoin" in plan


def test_orderby_limit_is_top_k_not_global_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "orderby_limit")
    assert "TakeOrderedAndProject" in plan  # per-partition top-k + merge


def test_range_join_is_keyed_hash_join(spark, sf_dir):
    """The time-range condition must ride an equi hash join on the user
    key — never BroadcastNestedLoopJoin/CartesianProduct."""
    plan = plan_of(spark, sf_dir, "range_join_error_burst")
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_cosine_topk_prefilters_in_python_then_verifies(spark, sf_dir):
    """Two-phase ANN, all three numeric stages Arrow-batched: the numpy
    prefilter, the vectorized exact norms (checkpointed — appears once
    in the executed plan, not per consumer), and the vectorized exact
    re-score; candidate pairs still join the broadcast query side."""
    plan = plan_of(spark, sf_dir, "cosine_topk")
    assert 1 <= plan.count("MapInPandas") <= 3
    assert "BroadcastHashJoin" in plan


def test_salted_agg_two_exchanges(spark, sf_dir):
    """Salted two-phase agg = exactly two hash exchanges: (keys+salt)
    then keys. More means a lost partial; fewer means salting no-oped."""
    assert shuffle_exchanges_in_plan(plan_of(spark, sf_dir, "salted_source_stats")) == 2


def test_q16_anti_join_broadcast(spark, sf_dir):
    """NOT IN over non-null keys must compile to a broadcast anti-join,
    never a cartesian/null-aware fallback."""
    plan = plan_of(spark, sf_dir, "q16_supplier_part_counts")
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q2_single_fact_shuffle(spark, sf_dir):
    """Q2's dims broadcast; only the per-part min + the min-cost join
    partition the fact side (plus the final distinct)."""
    plan = plan_of(spark, sf_dir, "q2_min_cost_supplier")
    assert plan.count("BroadcastHashJoin") >= 2  # eur_supp + part dims
    # fact side: per-part min agg + min-cost join + final distinct —
    # bounded shuffle count, all on l_partkey (AQE may still convert
    # the min-cost join to broadcast at runtime)
    assert shuffle_exchanges_in_plan(plan) <= 4


def test_q20_semi_joins_broadcast(spark, sf_dir):
    """Both IN-subqueries become broadcast semi-joins against supplier."""
    plan = plan_of(spark, sf_dir, "q20_promo_part_suppliers")
    assert plan.count("LeftSemi") >= 2


def test_token_diversity_zero_shuffle(spark, sf_dir):
    """The per-row run-length formulation must not explode or shuffle
    (the widen repartition of the scan is the only exchange allowed)."""
    plan = plan_of(spark, sf_dir, "token_diversity")
    assert "Generate" not in plan  # no explode
    assert shuffle_exchanges_in_plan(plan) == 0


def test_repetition_ratio_zero_shuffle(spark, sf_dir):
    """Per-row ratios (sorted-array max run + gram distinct count):
    no explode of the token corpus, no grouping exchange."""
    plan = plan_of(spark, sf_dir, "repetition_ratio")
    assert "Generate" not in plan
    assert shuffle_exchanges_in_plan(plan) == 0


def test_tfidf_no_token_corpus_shuffle(spark, sf_dir):
    """tf comes from per-row run lengths (pre-aggregated explode), so
    exactly two keyed exchanges exist — the document-frequency agg
    (tok) and the per-doc top-k window (doc_id); the df side reaches
    the join as a broadcast. The raw token corpus never shuffles and
    nothing needs a checkpoint barrier."""
    plan = plan_of(spark, sf_dir, "tfidf_top_terms")
    assert shuffle_exchanges_in_plan(plan) == 2
    assert "Scan ExistingRDD" not in plan


def test_lsh_topk_bucket_join_no_cartesian(spark, sf_dir):
    """LSH ANN: candidates come from a broadcast band-bucket join —
    never a cross product — and the signature pass is materialized
    once (RDD scan leaf), so the 32-dot pass is not re-planned per
    join side."""
    plan = plan_of(spark, sf_dir, "lsh_topk")
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    assert "BroadcastHashJoin" in plan
    assert "Scan ExistingRDD" in plan  # checkpointed signatures


def test_embedding_neardup_distributed_block_pairs(spark, sf_dir):
    """Exact near-dup must be the block-pair applyInPandas shape — one
    FlatMapGroupsInPandas for candidate generation (never a driver-side
    broadcast of the whole corpus), plus the Arrow-vectorized exact
    re-score MapInPandas (functions/exactdot.py) on survivors only;
    no cartesian."""
    plan = plan_of(spark, sf_dir, "embedding_neardup")
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert plan.count("MapInPandas") <= 1  # the rescore stage only
    assert "rescore" in plan
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan


def test_dedup_keep_canonical_anti_join_shape(spark, sf_dir):
    """The corpus-sized final step is ONE anti-join against the dropped
    set — the full documents table never cartesians for the dedup
    decision. No broadcast assertion here: the hint was deliberately
    removed (the dropped set is corpus-sized at real dup rates) and the
    join strategy is AQE's call — see the adversarial test below."""
    plan = plan_of(spark, sf_dir, "dedup_keep_canonical")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_dedup_keep_policies_no_forced_broadcast(spark, tmp_path):
    """Adversarial 100 TB guard for BOTH keep-policy dedups: at web-crawl
    dup rates the dropped-doc set is O(dup_rate * corpus) — billions of
    ids at 100 TB, over Spark's 8 GB broadcast hard limit — so the final
    anti-join must NOT carry a mandatory broadcast hint. A join hint
    overrides autoBroadcastJoinThreshold, so with both the static and
    the AQE thresholds pinned to -1 any BroadcastHashJoin surviving in
    the EXECUTED plan can only come from a hint: on a synthetic 60 %
    dup-rate corpus, assert none does (the anti-join degrades to a
    shuffled join) and that the kept set is exactly the canonical
    originals."""
    import pyspark.sql.functions as F

    from porcupine_spark.operators.components import dedup_keep_best_quality
    from porcupine_spark.operators.dedup import dedup_keep_canonical

    # 60 % duplicate corpus: 800 originals, each with 1-2 verbatim copies
    rows, did = [], 0
    for i in range(800):
        text = " ".join(f"w{i}x{j}" for j in range(12))
        n_copies = 2 if i % 2 == 0 else 1
        for _ in range(1 + n_copies):
            rows.append((did, text, "en", f"src{i % 5}", len(text)))
            did += 1
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        for fn in (dedup_keep_canonical, dedup_keep_best_quality):
            kept = fn(spark, str(tmp_path))
            n_kept = kept.count()  # materializes -> AQE final plan
            plan = executed_plan(kept)
            assert "BroadcastHashJoin" not in plan, f"{fn.__name__} forces broadcast"
            assert "LeftAnti" in plan
            assert "CartesianProduct" not in plan
            # every dup group collapses to exactly one kept doc
            assert n_kept == 800, f"{fn.__name__}: kept {n_kept}, want 800"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    """write_partitioned layouts must partition-prune: a filter on the
    partition key reaches the scan as a PartitionFilter (no data files
    outside the selected partition are touched) with zero DataFilters
    — at 100 TB this is the difference between reading one partition
    and reading the lake."""
    from porcupine_spark.catalog import Catalog, Dataset
    from porcupine_spark.run import run_pipeline
    from porcupine_spark.serials import SerialSet, parquet_serial
    from porcupine_spark.task import arr, load
    from porcupine_spark.task_ext import write_partitioned

    c = Catalog(
        [
            Dataset.source("inp", SerialSet(parquet_serial())),
            Dataset.sink("outp", SerialSet(parquet_serial())),
        ]
    )
    src = f"{tmp_path}/in.parquet"
    spark.createDataFrame(
        [(i % 4, i) for i in range(100)], "part long, x long"
    ).write.parquet(src)
    run_pipeline(
        load("inp") >> arr(lambda df: df) >> write_partitioned("outp", "part"),
        c,
        spark,
        root=str(tmp_path),
        mappings={"inp": src, "outp": f"{tmp_path}/out.parquet"},
    )
    back = spark.read.parquet(f"{tmp_path}/out.parquet").filter("part = 3")
    plan = executed_plan(back)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "part" in m.group(1) and "3" in m.group(1), plan[:500]
    assert re.search(r"DataFilters: \[\]", plan), "filter should be partition-only"
    assert back.count() == 25


def test_write_sorted_layout_enables_data_skipping(spark, tmp_path):
    """write_sorted must produce files whose parquet footer min/max
    ranges are near-disjoint (each file covers a narrow slice), so a
    selective filter — pushed to the scan — can skip most files at
    planning/read time."""
    import glob

    import pyarrow.parquet as pq

    from porcupine_spark.bucketing import write_sorted

    df = spark.range(0, 40_000).selectExpr("id AS k", "id % 7 AS v")
    p = f"{tmp_path}/sorted"
    write_sorted(df, p, "k", files_hint=8)

    ranges = []
    for f in sorted(glob.glob(f"{p}/part*.parquet")):
        md = pq.ParquetFile(f).metadata
        lo = min(md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups))
        ranges.append((lo, hi))
    assert len(ranges) == 8
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges {(lo1, hi1)} {(lo2, hi2)}"

    back = spark.read.parquet(p).filter("k >= 39000")
    plan = executed_plan(back)
    assert "PushedFilters: [IsNotNull(k), GreaterThanOrEqual(k,39000)]" in plan
    assert back.count() == 1000


def test_retention_cohorts_join_free(spark, sf_dir):
    """Cohorts must be the join-free window formulation: exactly 3
    bounded exchanges (distinct, per-user window, final agg), no join
    operator anywhere."""
    plan = plan_of(spark, sf_dir, "retention_cohorts")
    assert shuffle_exchanges_in_plan(plan) == 3
    assert "Join" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "bm25_topk",
        "skyline_orders",
        "basket_pair_lift",
        "fuzzy_name_pairs",
        "incremental_dedup",
        "ks_drift_doc_length",
        "pit_join_order_segment",
        "revenue_daily_gapfill",
    ],
)
def test_r3_analytics_no_cartesian_no_python(spark, sf_dir, name):
    """The r3 additions stay JVM-side and never cross-product: the only
    nested-loop joins allowed are the documented bounded broadcasts
    (1-row stats, |sources|-row dim)."""
    plan = plan_of(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, name
    assert "BatchEvalPython" not in plan, name


def test_bm25_topk_is_take_ordered(spark, sf_dir):
    """BM25 top-k must be TakeOrderedAndProject (per-partition top-k +
    driver merge), never a global sort of all scored docs."""
    plan = plan_of(spark, sf_dir, "bm25_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Sort [score_scaled" not in plan


def test_skyline_reduces_before_global_window(spark, sf_dir):
    """The global sweep must run AFTER the per-price reduction: exactly
    one single-partition exchange, fed by the price aggregate."""
    plan = plan_of(spark, sf_dir, "skyline_orders")
    assert plan.count("Exchange SinglePartition") == 1
    assert "BroadcastHashJoin" in plan  # frontier joins back broadcast


def test_event_transition_single_event_shuffle(spark, sf_dir):
    """Sessionize + lead + count: the raw event log shuffles once (the
    user_id window); only the 25-cell aggregate shuffles again."""
    plan = plan_of(spark, sf_dir, "event_transition_counts")
    assert shuffle_exchanges_in_plan(plan) == 2


def test_aqe_splits_skewed_join_at_runtime(spark):
    """SCALE.md's skew contract, runtime half: AQE detects a skewed
    shuffle partition on the probe side of a sort-merge join and splits
    it (skew=true in the final adaptive plan). Salting
    (functions/skew.py) remains the fix for skewed AGGREGATIONS, which
    AQE does not split."""
    ns = spark.newSession()
    for k, v in {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.5",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
    }.items():
        ns.conf.set(k, v)
    # 98% of rows share one key: one shuffle partition dwarfs the rest
    left = ns.range(0, 200_000).select(
        F.when(F.col("id") % 100 < 98, 7).otherwise(F.col("id") % 1000).alias("k"),
        F.col("id").alias("v"),
    )
    right = ns.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )
    j = left.join(right, "k")
    assert len(j.collect()) == 200_000
    final = executed_plan(j)
    assert final.count("skew=true") >= 1, final


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Spark's runtime Bloom-filter join pruning (InjectRuntimeFilter):
    with a selective dim-side predicate on a shuffle join, the fact
    side gets a might_contain(bloom) pre-filter so non-matching rows
    die before the exchange — the at-scale feature that turns a
    100 TB fact shuffle into a filtered one. Asserted: the filter is
    injected, and the result is identical with it off."""
    from porcupine_spark.tables import load_table

    keys = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in keys}

    def build():
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        j = build()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan
        with_bloom = {(r.o_orderpriority, r.n) for r in j.collect()}
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        without = {(r.o_orderpriority, r.n) for r in build().collect()}
        assert with_bloom == without and with_bloom
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_from_dim_filter(spark, tmp_path):
    """Dynamic partition pruning: a selective filter on the DIM side of
    a join injects a dynamicpruning subquery into the partitioned fact
    scan's PartitionFilters, so only the dim-matching partitions are
    read at all — on a date/tenant-partitioned 100 TB fact table this
    is the difference between scanning 2 partitions and scanning 500.
    Asserted: the pruning expression lands in PartitionFilters, and
    the result is identical with DPP disabled."""
    fact = spark.range(0, 10_000).selectExpr("id % 20 AS pk", "id AS v")
    fact.write.partitionBy("pk").parquet(f"{tmp_path}/fact")
    dim = spark.createDataFrame(
        [(3, "keep"), (7, "keep"), (11, "drop")], "pk long, tag string"
    )

    def build():
        f2 = spark.read.parquet(f"{tmp_path}/fact")
        return (
            f2.join(dim.filter("tag = 'keep'"), "pk")
            .groupBy("pk")
            .agg(F.sum("v").alias("s"))
        )

    j = build()
    plan = executed_plan(j)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "dynamicpruning" in m.group(1), plan[:800]
    with_dpp = {(r.pk, r.s) for r in j.collect()}

    key = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
    saved = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "false")
        without = {(r.pk, r.s) for r in build().collect()}
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)
    assert with_dpp == without and len(with_dpp) == 2


def test_prefix_scan_single_partition_only_on_bucket_table(spark, sf_dir):
    """The two-level prefix scan must never move the event table to one
    partition: the only single-partition exchanges are the bucket-level
    prefix (n/B rows) and the 1-row total broadcast — the per-event
    window is keyed by bucket."""
    plan = plan_of(spark, sf_dir, "global_watermark_audit")
    assert plan.count("Exchange SinglePartition") <= 2
    assert "CartesianProduct" not in plan


def test_interval_overlap_is_equi_join(spark, sf_dir):
    """The interval overlap join must execute as an equi-join on the
    decomposition bucket — never a nested-loop over the inequality."""
    plan = plan_of(spark, sf_dir, "session_incident_overlap")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_spearman_windows_stay_off_the_corpus(spark, sf_dir):
    """rank_corr joins mid-ranks back to docs by VALUE via broadcast;
    the doc-level table must never be globally sorted."""
    plan = plan_of(spark, sf_dir, "rank_corr_tokens_distinct")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_verbatim_window_self_join_never_broadcasts(spark, sf_dir):
    """The k-token window inverted index is corpus-sized but sits
    downstream of an explode, whose cardinality Catalyst underestimates
    badly enough to BROADCAST it (measured at 10x: 36.7 s broadcast plan
    vs 6.5 s shuffled). The shuffle_hash hint pins the scale-correct
    strategy: the window-table self-join must be a ShuffledHashJoin; the
    only broadcast is the tiny hot-window anti-join."""
    for name in ("verbatim_span_pairs", "intra_doc_repetition_spans"):
        plan = plan_of(spark, sf_dir, name)
        assert "ShuffledHashJoin" in plan, name


def test_source_novelty_rate_plans_without_expand(spark, sf_dir):
    """The two distinct counts are plain counts over one (source, h) row
    each: as ``countDistinct``s they rewrite into an Expand whose group
    order varies from one session to the next."""
    assert "Expand" not in plan_of(spark, sf_dir, "source_novelty_rate")


def test_basket_items_single_exchange_and_equivalence(spark, sf_dir):
    """r8: basket_pair_lift derives its item set off ONE l_orderkey
    exchange (same layout trick as _copurchase_edges); no (ok, pk)-keyed
    exchange survives, and the result matches the naive distinct form."""
    import re

    from porcupine_spark.plans.joins_extra import (
        BASKET_MIN_SUPPORT,
        basket_pair_lift,
    )
    from porcupine_spark.tables import load_table

    new = basket_pair_lift(spark, sf_dir)
    plan = executed_plan(new)
    assert re.search(r"Exchange hashpartitioning\(l_orderkey#\d+L, \d+\)", plan), plan
    assert not re.search(
        r"Exchange hashpartitioning\(l_orderkey#\d+L, l_partkey", plan
    ), plan

    li = load_table(spark, sf_dir, "lineitem")
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
