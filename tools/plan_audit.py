"""Plan audit: one-line physical-plan summary per registered query.

Writes PLAN_AUDIT.md — per query: keyed exchanges (shuffles),
broadcast joins, sort-merge joins, Arrow/pandas stages, scans, and
red-flag operators (CartesianProduct / BroadcastNestedLoopJoin /
row-at-a-time Python). The table makes shuffle regressions and
accidental cross products visible at a glance; the plan-shape pytest
guards (tests/test_plans.py) pin the load-bearing subset.

Usage: python tools/plan_audit.py [--sf /root/testdata/sf0.001]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from porcupine_spark.bucketing import (
    executed_plan,
    plan_node_counts,
    shuffle_exchanges_in_plan,
)
from porcupine_spark.plans.registry import load_all_plans
from porcupine_spark.session import get_spark

STREAM_PREFIX = "stream_"  # streaming queries execute on build; skip plans


def _top_level_bracket_groups(s: str) -> list[str]:
    """Split a plan line's top-level ``[...]`` groups (window spec lists
    nest brackets inside expressions, so count depth)."""
    groups, depth, start = [], 0, -1
    for i, ch in enumerate(s):
        if ch == "[":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0 and start >= 0:
                groups.append(s[start + 1 : i])
                start = -1
    return groups


_ORDER_RE = __import__("re").compile(r"\b(ASC|DESC) NULLS")


def has_global_window(plan: str) -> bool:
    """True if the plan contains a WINDOW with no partition spec — the
    whole input lands on ONE task (Exchange SinglePartition), Spark's
    'WindowExec: No Partition Defined' warning and the classic
    single-executor scale killer. Global ORDER BY is deliberately NOT
    flagged: it plans as a distributed rangepartitioning exchange (and
    top-k becomes TakeOrderedAndProject, plan-guarded in
    tests/test_plans.py), so it scales; a partition-less window does
    not.

    A Window line prints ``Window [fns], [part], [order]`` when
    partitioned and ``Window [fns], [order]`` when global — two
    top-level bracket groups with ordering syntax in the last one mean
    no partition spec. WindowGroupLimit differs: it prints
    ``WindowGroupLimit [part], [order], fn, k, mode`` when partitioned
    and ``WindowGroupLimit [order], fn, k, mode`` when global — one
    group fewer on each side (verified against Spark 4.1 plans)."""
    for raw in plan.splitlines():
        s = raw.strip().lstrip("+-:* ").strip()
        if s.startswith("WindowGroupLimit"):
            if len(_top_level_bracket_groups(s)) == 1:
                return True
        elif s.startswith("Window"):
            groups = _top_level_bracket_groups(s)
            if len(groups) == 2 and _ORDER_RE.search(groups[1]):
                return True
            if len(groups) == 1:  # global, unordered (degenerate)
                return True
    return False


# ---------------------------------------------------------------------------
# W-flag allowlist: queries whose partition-less window runs over a table
# whose size is BOUNDED by something other than the corpus. Every entry
# carries a PROOF naming exactly what bounds the window's input and why
# that bound is corpus-independent — an entry whose bound is "a
# dimension that grows with the data" does not belong here (the round-5
# lesson: the corpus-derived ranking class had been mislabeled
# "bounded"; all of those now use functions/topk.ranked_topk /
# global_rank and are OFF this list). The audit fails BOTH ways: a
# W-flagged query not listed here, and a listed query that no longer
# shows a W (stale entry) — the list cannot absorb wrong labels
# silently in either direction.
# ---------------------------------------------------------------------------
W_ALLOWLIST: dict[str, str] = {
    # (a) calendar spines — the window input has exactly one row per
    # day/month of the business calendar: |rows| = days in the data's
    # date RANGE (a few thousand for decades of data), invariant to how
    # many facts fall on each day. 100 TB of orders still spans the
    # same calendar.
    "cusum_changepoint": "BOUND=|days in date range| (day spine from one "
    "groupBy(day) agg; adding data adds rows per day, not days)",
    "daily_new_users_cumulative": "BOUND=|days in date range| (first-seen "
    "day per user is aggregated to the day grain before the window)",
    "daily_orders_autocorr": "BOUND=|days in date range| (lag runs on the "
    "per-day count table)",
    "global_watermark_audit": "BOUND=|days in date range| (running max "
    "over per-day event-time maxima)",
    "order_backlog_daily": "BOUND=|days in date range| (open/close deltas "
    "are day-aggregated before the prefix sum)",
    "revenue_mom_growth": "BOUND=|months in date range| x |nations<=25| "
    "(lag over the month-grain rollup)",
    "peak_concurrent_sessions": "BOUND=|days| for the carry prefix; the "
    "within-day boundary sweep is day-PARTITIONED (hierarchical form)",
    # (b) value-range-bounded histograms — the window input is one row
    # per DISTINCT VALUE of a domain whose range is physically capped
    # (a document's length in chars/tokens is bounded by the ingest
    # format's max record size), so |rows| <= |value range| no matter
    # how many documents exist.
    "length_decile_assign": "BOUND=|distinct n_chars| <= max document "
    "length (value histogram; corpus growth adds count, not values)",
    "rank_corr_tokens_distinct": "BOUND=|distinct n_tokens| + |distinct "
    "n_distinct| <= max document length (two value histograms; the "
    "doc-level table is never windowed)",
    "quantile_sketch_calibration": "BOUND=1024 bins (constant sketch "
    "width) + |distinct n_chars| <= max document length for the exact "
    "check",
    # (c) census / config grids — the window input is one row per
    # source / bucket, bounded by the catalog (tens of sources) or a
    # module constant, never by row count.
    "epoch_expansion_plan": "BOUND=|sources| (water-fill rank over the "
    "per-source aggregate; the source census is a catalog property)",
    "token_budget_waterfill": "BOUND=|sources| (same water-fill grid)",
    "training_shard_manifest": "BOUND=|sources| x SHARDS const (shard "
    "prefix over the per-source grid)",
    "pps_systematic_sample": "BOUND=|sources| x PPS_BUCKETS const "
    "(systematic skip over the bucket grid)",
    "unimax_language_allocation": "BOUND=|languages| (ISO-639 census, "
    "~hundreds, corpus-independent; uniform water-fill windows on the "
    "per-language aggregate)",
    "range_partition_plan": "BOUND=RANGE_BUCKETS=16 const (boundary-grid "
    "rank); the order-statistic windows are bin-PARTITIONED",
    # (d) pre-reduced frontiers — the window runs AFTER a per-partition
    # reduction whose output is provably tiny, and a plan test pins the
    # reduction's presence.
    "skyline_orders": "BOUND=union of per-partition skyline frontiers "
    "(each <= frontier of its partition; reduction plan-guarded in "
    "tests/test_plans.py)",
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    args = ap.parse_args()
    spark = get_spark("plan_audit", **{"spark.sql.shuffle.partitions": "8"})
    specs = load_all_plans()

    rows = []
    for name, spec in specs.items():
        if name.startswith(STREAM_PREFIX):
            rows.append((name, None))
            continue
        try:
            df = spec.builder(spark, args.sf)
            plan = executed_plan(df)
        except Exception as e:  # noqa: BLE001 — audit must cover the rest
            rows.append((name, f"ERROR: {type(e).__name__}: {e}"))
            continue
        stats = {
            "shuffle": shuffle_exchanges_in_plan(plan),
            "bcast": plan.count("BroadcastHashJoin"),
            "smj": plan.count("SortMergeJoin"),
            "pandas": plan.count("MapInPandas") + plan.count("FlatMapGroupsInPandas"),
            "scans": plan_node_counts(df)["FileSourceScanExec"],
            "flags": "".join(
                f
                for f, marker in (
                    ("X", "CartesianProduct"),
                    ("N", "BroadcastNestedLoopJoin"),
                    ("P", "BatchEvalPython"),  # row-at-a-time python UDF
                )
                if marker in plan
            )
            + ("W" if has_global_window(plan) else ""),
        }
        rows.append((name, stats))
        spark.catalog.clearCache()

    out = [
        "# PLAN AUDIT — physical-plan shape per query",
        "",
        f"Generated by tools/plan_audit.py at {args.sf}. Flags: X=cartesian,",
        "N=nested-loop join, P=row-at-a-time Python UDF. X and P must be",
        "absent. N is acceptable ONLY with a broadcast build side of",
        "bounded CONSTANT size. The allowed nested-loop joins are:",
        "(1) scalar-subquery comparisons against a 1-row aggregate —",
        "q11's value threshold, q22's average balance, basket_pair_lift's",
        "order count, value_zscore_outliers_exact's moment row;",
        "(2) centroid-set probes of <=16 rows — ivf_kmeans_recall,",
        "semdedup_keep;",
        "(3) vocab_coverage_curve's and vocab_growth_curve's 4-row",
        "grid joins (K values / prefix cutoffs);",
        "(4) 1-row corpus-scalar broadcasts (totals or maxima) in",
        "bm25_topk (and rrf_fusion_topk, which composes it),",
        "props_key_coverage, shuffle_skew_report,",
        "order_value_benford, bigram_collocations, cms_selfjoin_size,",
        "dup_transitivity_audit (1-row edge/wedge/triangle counts),",
        "bloom_fpr_calibration and hll_union_estimate (1-row",
        "member/bit/register-sum counts),",
        "cusum_changepoint (1-row day-count/total broadcast),",
        "split_source_balance_chi2 (|sources|x3 grid + 1-row census",
        "broadcasts),",
        "frequent_tokens_mg, vocab_growth_curve, pps_systematic_sample,",
        "and the water-fill family (token_budget_waterfill,",
        "epoch_expansion_plan, training_shard_manifest,",
        "unimax_language_allocation — its 1-row language-census",
        "broadcast);",
        "(5) ks_drift_doc_length's source-dimension grid densification",
        "and kmv_overlap_estimate's source-pair grid (|sources| or",
        "|sources|^2 rows, bounded by the source count, not the corpus);",
        "(6) range_partition_plan's 1-row sample-count / boundary-array /",
        "corpus-total broadcasts and its <=16-row rank-grid joins on a",
        "constant key (bounded by the bucket count, not the data);",
        "(7) the water-fill family's exact cap/weight ratio rank — a",
        "cross-multiplied self-join on the |sources|-row per-source",
        "aggregate (bounded by the source count, never the corpus);",
        "(8) more 1-row corpus-scalar broadcasts: zipf_rank_freq (rank-1",
        "frequency), neyman_allocation (weight total),",
        "shingle_df_spectrum (shingle/pair-mass totals),",
        "global_watermark_audit (event total), cms_join_size (exact/",
        "estimate 1-row joins), length_decile_assign (corpus count),",
        "dedup_source_shift (before/after totals), sq8_topk and",
        "sq8_adc_recall and ivf_cell_balance (1-row quantization-scale /",
        "cell-total broadcasts + the <=10-vector broadcast query set);",
        "(9) quantile_sketch_calibration's target-rank inequality joins —",
        "3 target rows against the 1024-bin histogram and the bounded",
        "distinct-value table (both value-bounded, never the corpus);",
        "(10) priority_mix_drift_chi2's 1-row census broadcast over the",
        "|years|x|priorities| grid (same class as",
        "split_source_balance_chi2's);",
        "(11) verbatim_contamination's 10-row benchmark-probe broadcast",
        "(contains() predicate over a bounded eval set) and",
        "length_variance_decomposition's and quality_gate_kappa's 1-row",
        "census broadcasts;",
        "(12) dsir_proxy_selection's 1-row token-census broadcast (target/",
        "raw totals) and jl_distortion_audit's pair join over the fixed",
        "48-probe set (CONSTANT size at any corpus scale).",
        "Any other N is a regression.",
        "W = a WINDOW with no PARTITION BY (single-task 'WindowExec: No",
        "Partition Defined') — acceptable ONLY over tables bounded by",
        "something other than the corpus. Every W_ALLOWLIST entry (see",
        "tools/plan_audit.py) carries a boundedness PROOF naming what",
        "caps the window's input: calendar spines (cusum_changepoint,",
        "daily_new_users_cumulative, daily_orders_autocorr,",
        "global_watermark_audit, order_backlog_daily, revenue_mom_growth,",
        "peak_concurrent_sessions' carry step — its boundary sweep is",
        "day-partitioned); value-range-bounded histograms",
        "(length_decile_assign, rank_corr_tokens_distinct,",
        "quantile_sketch_calibration); census / config grids",
        "(epoch_expansion_plan, token_budget_waterfill,",
        "training_shard_manifest, pps_systematic_sample,",
        "range_partition_plan, unimax_language_allocation); pre-reduced",
        "frontiers (skyline_orders).",
        "Corpus-derived ranking (vocab / bigram / name / customer-grain",
        "tables) is NOT allowlistable — those queries rank through",
        "functions/topk.ranked_topk (TakeOrderedAndProject + bounded",
        "posexplode rank) or functions/topk.global_rank (range-partition",
        "+ partitioned window + per-partition offsets, the zipWithIndex",
        "pattern). Global ORDER BY is not flagged (it plans as",
        "distributed rangepartitioning; top-k is TakeOrderedAndProject).",
        "A W outside the allowlist FAILS the audit; so does an allowlist",
        "entry whose query no longer shows a W (stale proof).",
        "Streaming queries execute on build and are audited by their tests",
        "instead.",
        "",
        "| query | shuffles | broadcast joins | sort-merge joins | pandas stages | scans | flags |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, stats in sorted(rows):
        if stats is None:
            out.append(f"| {name} | — | — | — | — | — | streaming |")
        elif isinstance(stats, str):
            out.append(f"| {name} | {stats} | | | | | |")
        else:
            out.append(
                f"| {name} | {stats['shuffle']} | {stats['bcast']} | {stats['smj']} "
                f"| {stats['pandas']} | {stats['scans']} | {stats['flags'] or '—'} |"
            )
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLAN_AUDIT.md")
    with open(path, "w") as fh:
        fh.write("\n".join(out) + "\n")
    n_hard = sum(
        1
        for _, s in rows
        if isinstance(s, dict) and (set(s["flags"]) & {"X", "P"})
    )
    n_soft = sum(1 for _, s in rows if isinstance(s, dict) and "N" in s["flags"])
    w_bad = sorted(
        name
        for name, s in rows
        if isinstance(s, dict) and "W" in s["flags"] and name not in W_ALLOWLIST
    )
    n_w = sum(1 for _, s in rows if isinstance(s, dict) and "W" in s["flags"])
    w_flagged = {
        name for name, s in rows if isinstance(s, dict) and "W" in s["flags"]
    }
    audited = {name for name, s in rows if isinstance(s, dict)}
    w_stale = sorted(
        name for name in W_ALLOWLIST if name in audited and name not in w_flagged
    )
    print(
        f"wrote {path}: {len(rows)} queries, {n_hard} hard-flagged (X/P), "
        f"{n_soft} with scalar-subquery NLJ, {n_w} global-window (W, "
        f"{len(w_bad)} OUTSIDE allowlist, {len(w_stale)} stale entries)"
    )
    if w_bad:
        print(f"UNLISTED global windows (fix or trace+allowlist): {w_bad}")
    if w_stale:
        print(f"STALE allowlist entries (query has no W — delete): {w_stale}")
    return 1 if (n_hard or w_bad or w_stale) else 0


if __name__ == "__main__":
    raise SystemExit(main())
