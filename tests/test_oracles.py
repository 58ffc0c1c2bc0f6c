"""In-repo correctness gate (mirrors the driver's): a representative
query from every operator family runs on Spark AND its DuckDB oracle
over the same parquet; row counts, schemas, and values must match
exactly. Catches data-contract drift (e.g. an events.ts physical-type
change) loudly in pytest instead of at round grading.

The FULL 85-query sweep is tools/verify_oracles.py — run it before
claiming a new operator done. This subset keeps the default pytest
suite fast while still crossing every loader + operator family.
"""

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from verify_oracles import canon  # noqa: E402

from porcupine_spark.tables import TABLES, load_table, table_path  # noqa: E402
from conftest import SF01_DIR  # noqa: E402

# one per operator family, events-heavy on purpose (the round-1 killer
# was an events physical-schema assumption)
REPRESENTATIVE = [
    "q1_pricing_summary",  # multi-fold aggregation
    "q5_region_revenue",  # broadcast join chain
    "window_rank_lag",  # window functions
    "range_join_error_burst",  # events loader + range join
    "events_props_json",  # events JSON props
    "asof_purchase_last_view",  # as-of join
    "asof_purchase_nearest_view",  # as-of nearest direction
    "sessionize_events",  # sessionization
    "dedup_exact",  # exact dedup
    "dedup_ngram_jaccard",  # inverted-index jaccard + DF cutoff
    "dedup_minhash_lsh",  # minhash banding
    "cosine_topk",  # brute-force ANN baseline
    "embedding_neardup_lsh",  # LSH near-dup (scale path)
    "tfidf_top_terms",  # corpus stats
    "source_unigram_l1",  # exact-int64 distribution drift
    "dedup_keep_canonical",  # keep-first canonical corpus
    "text_stats",  # per-row text metrics
    "event_transition_counts",  # within-session Markov transitions
    "ks_drift_doc_length",  # exact two-sample KS drift
    "fuzzy_name_pairs",  # blocked edit-distance entity resolution
    "skyline_orders",  # sweep-line Pareto frontier
    "incremental_dedup",  # cross-corpus batch-vs-corpus dedup
    "bm25_topk",  # exact integer-scaled BM25 retrieval
    "pit_join_order_segment",  # point-in-time SCD2 lookup
    "basket_pair_lift",  # within-basket pair association
    "event_disorder_stats",  # watermark-sizing disorder profile
    "revenue_daily_gapfill",  # date-spine densification
    "grouping_sets_orders",  # multi-report single-pass aggregation
    "dedup_containment_pairs",  # asymmetric subset-dup detection
    "twap_user_value",  # time-weighted mean, integer-scaled
    "rolling_distinct_types",  # distinct agg over a time-range window
    "daily_orders_autocorr",  # exact-moment Pearson autocorrelation
    "peak_concurrent_sessions",  # interval-algebra boundary sweep
    "linear_attribution",  # multi-touch credit via keyed range join
    "customer_reorder_gaps",  # churn-risk interval profile
    "value_zscore_outliers_exact",  # zero-float outlier detection
    "longest_error_run",  # gaps-and-islands run length
    "top_session_paths",  # ordered path mining
    "nation_revenue_share",  # percent-of-total window over aggregate
    "ship_delay_stats",  # fact-fact SLA join
    "embedding_norm_stats",  # bit-stable norm envelope
    "media_dedup_exact",  # digest-keyed binary dedup
    "stream_hourly_unique_users",  # streaming dedup->agg composition
    "winnow_dup_pairs",  # MOSS winnowing fingerprints
    "sorted_neighborhood_pairs",  # rank-window ER blocking
    "revenue_pareto_8020",  # cross-multiplied concentration cover
    "brand_concentration_hhi",  # integer HHI
    "revenue_mom_growth",  # MoM growth, integer-scaled
    "minhash_estimator_calibration",  # sketch-quality report
    "dedup_savings_report",  # composed-oracle summary
    "decontaminate_corpus",  # removal half of contamination control
    "dup_cluster_size_histogram",  # composed recursive-oracle summary
    "source_novelty_rate",  # marginal-content metric
    "knn_label_accuracy",  # k-NN embedding-quality eval (composed top-k)
    "label_confusion_pairs",  # cross-label near-dup summary
    "kmv_distinct_estimate",  # order-statistic sketch with exact oracle
    "order_backlog_daily",  # relational interval sweep over day spine
    "pagerank_supplier_graph",  # integer-exact iterative graph rank
    "bpe_merge_candidates",  # BPE trainer inner loop on word-freq table
    "stream_near_dedup",  # zero-state streaming ingest dedup
    "embedding_quantization_error",  # int8 PQ-safety report, attounit-exact
    "stream_quality_gate",  # streaming Gopher gate, per-source pass rates
    "asof_purchase_view_tolerance",  # merge_asof tolerance knob
    "source_overlap_matrix",  # crawl-overlap shingle-Jaccard matrix
    "props_key_coverage",  # JSON schema-inference report
    "lang_agreement_matrix",  # label-vs-classifier calibration matrix
    "shuffle_skew_report",  # pre-flight hot-bucket diagnosis
    "span_corruption_plan",  # hash-seeded T5-style masking plan
    "frequent_tokens_mg",  # Misra-Gries heavy hitters, sketch-then-verify
    "exact_quantiles_two_pass",  # sort-free exact order statistics
    "range_partition_plan",  # deterministic TeraSort boundary planner
    "token_budget_waterfill",  # one-pass integer water-filling mixer
    "epoch_expansion_plan",  # per-doc manifest composing the water-fill
    "training_shard_manifest",  # deterministic shard assignment + balance
    "dedup_keep_best_quality",  # quality-aware canonical selection
    "embedding_outlier_flags",  # integer z-test centroid-distance outliers
    "fuzzy_decontamination",  # minhash-LSH eval-leak detection
    "lsh_bucket_audit",  # band-bucket histogram, dedup-join pre-flight
    "label_centroid_separation",  # Fisher-style class-separation matrix
    "cross_split_leakage",  # near-dups straddling the train/val/test split
    "prefix_dup_clusters",  # truncation-family dedup on prefix digests
    "winsorized_length_stats",  # robust per-source length profile
    "vocab_growth_curve",  # Heaps-law vocab growth, one tokenize pass
    "pps_systematic_sample",  # deterministic PPS via two-phase prefix sum
    "neardup_edit_distance",  # Levenshtein profile of verified dup pairs
    "cross_source_dup_matrix",  # who-duplicates-whom source matrix
    "event_rate_burst_users",  # cross-multiplied bot-burst detector
    "order_value_benford",  # integer-side Benford first-digit audit
    "hll_distinct_estimate",  # integer-exact HyperLogLog calibration
    "vocab_chao1_richness",  # Chao1 unseen-vocabulary estimator
    "revenue_gini",  # rank-weighted integer Gini concentration
    "lang_id_kappa",  # chance-corrected label/classifier agreement
    "bigram_collocations",  # integer-lift collocation extraction
    "tokenizer_fertility",  # per-language subword cost multiplier
    "doc_length_mad",  # exact two-pass median absolute deviation
    "source_length_dup_corr",  # exact signed r2 over source aggregates
    "kmv_overlap_estimate",  # KMV set-algebra pairwise shingle overlap
    "cms_frequency_estimate",  # Count-Min point-frequency calibration
    "k_anonymity_audit",  # quasi-identifier group-size privacy gate
    "rrf_fusion_topk",  # reciprocal-rank fusion of two retrievers
    "cms_selfjoin_size",  # AMS/CMS F2 self-join size pre-flight
    "dup_transitivity_audit",  # triangle stats on the near-dup graph
    "split_centroid_drift",  # per-label train/holdout centroid drift
    "bloom_fpr_calibration",  # membership sketch with measured FPR
    "hll_union_estimate",  # register-wise-MAX merge vs exact union
    "dedup_method_agreement",  # MinHash vs SimHash pair-set overlap
    "cusum_changepoint",  # integer CUSUM regime-shift locator
    "seasonal_naive_error",  # weekday-naive forecastability baseline
    "pareto_revenue_concentration",  # cross-multiplied 80/20 numbers
    "split_source_balance_chi2",  # hash-split independence statistic
    "lsh_recall_at_k",  # exactly-oracled ANN recall audit
    "ivf_topk",  # IVF buckets, shared centroid stage + exact re-rank
    "ivf_cell_balance",  # argmax-only use of the shared centroid stage
    "sq8_topk",  # int8 integer-dot top-k
    "pq_adc_topk",  # PQ lookup-table top-k
]


# VERDICT r6 #7: the driver samples the same 50 queries every round, so
# the in-repo gate ROTATES a deterministic extra slice of the full
# oracled registry by round counter — successive rounds accumulate
# driver-grade coverage over all ~250 queries instead of re-checking a
# frozen set. Round r checks registry names with index % _ROTATE_K ==
# (r % _ROTATE_K) (sorted order), minus what REPRESENTATIVE already
# covers. The counter is the number of recorded CORRECTNESS_r*.json
# artifacts — monotone per round, identical for every run in a round.
_ROTATE_K = 5


def _round_counter() -> int:
    import glob

    root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
    return len(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))) + 1


def _rotating_subset() -> list[str]:
    from porcupine_spark.plans.registry import load_all_plans

    names = sorted(
        n for n, s in load_all_plans().items() if s.oracle is not None
    )
    rep = set(REPRESENTATIVE)
    r = _round_counter() % _ROTATE_K
    return [n for i, n in enumerate(names) if i % _ROTATE_K == r and n not in rep]


ROTATING = _rotating_subset()


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    yield con
    con.close()


def test_events_ts_contract(spark, sf_dir):
    """events.ts must arrive as TimestampType regardless of the parquet
    physical encoding (NANOS-as-long, MICROS-as-NTZ, or plain)."""
    from pyspark.sql.types import TimestampType

    for d in (sf_dir, SF01_DIR):
        if not os.path.isdir(d):
            continue
        df = load_table(spark, d, "events")
        assert isinstance(df.schema["ts"].dataType, TimestampType), (
            d,
            df.schema["ts"].dataType,
        )


def test_all_tables_load(spark, sf_dir):
    for t in TABLES:
        df = load_table(spark, sf_dir, t)
        assert len(df.schema.fields) > 0, t


def _assert_parity(spark, sf_dir, oracle_con, name):
    from porcupine_spark.plans.registry import load_all_plans

    spec = load_all_plans()[name]
    assert spec.oracle is not None, f"{name} lost its oracle"
    sdf = spec.builder(spark, sf_dir).toPandas()
    odf = oracle_con.sql(spec.oracle).df()
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert len(sdf) == len(odf), f"rows: spark={len(sdf)} oracle={len(odf)}"
    a, b = canon(sdf, 0.0), canon(odf, 0.0)
    assert a == b, f"values differ; first diff: {next((x, y) for x, y in zip(a, b) if x != y)}"


@pytest.mark.parametrize("name", REPRESENTATIVE)
def test_oracle_parity(spark, sf_dir, oracle_con, name):
    _assert_parity(spark, sf_dir, oracle_con, name)


@pytest.mark.parametrize("name", ROTATING)
def test_oracle_parity_rotating(spark, sf_dir, oracle_con, name):
    """Round-rotated slice of the full oracled registry (see module
    docstring note) — deterministic within a round, different across
    rounds, so the suite accumulates full-registry coverage."""
    _assert_parity(spark, sf_dir, oracle_con, name)
