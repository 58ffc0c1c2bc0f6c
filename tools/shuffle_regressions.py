"""Shuffle-byte regression check: diff BENCH_DETAIL.json's per-query
``shuffle_read_mb`` against the committed baseline.

The failure mode this catches: a plan regression that swaps a broadcast
join for a shuffled one (or loses a pushed-down filter) moves
table-sized bytes through the shuffle but may hide inside wall-clock
noise on a warm local machine. Bytes don't lie: a query whose shuffle
volume jumps by BOTH >= ABS_MB and >= REL_FACTOR vs baseline is
flagged.

Usage:
  python tools/shuffle_regressions.py                 # check vs baseline
  python tools/shuffle_regressions.py --rebaseline    # accept current
  python tools/shuffle_regressions.py --scale10x      # growth model
Exit 1 on any flagged query (same contract as plan_audit).

Thresholds are deliberately loose: AQE wobble and row-count drift move
single-digit MB at sf0.1; a lost broadcast moves the fact table.

--scale10x models EXPECTED shuffle growth at 10x data
(BENCH_DETAIL_SCALE10X.json vs the sf0.1 baseline): the default model
is LINEAR — shuffle mass tracks data mass for scans, aggregations,
within-key joins, and the capped candidate generators (replicas in the
synthetic 10x corpus are Caesar-decorrelated, so pair mass is
10 x per-replica mass, still linear). Growth above the linear band is
legal ONLY with an entry in EXPECTED_SUPERLINEAR naming the verified
mechanism (the classic one: a join side that was under
autoBroadcastJoinThreshold at sf0.1 crosses it at 10x, so a join that
shuffled ZERO bytes starts shuffling both sides — broadcast is only
free while small, and the switch is the CORRECT planner behavior, but
it must be explained, not absorbed).
"""

from __future__ import annotations

import argparse
import json
import os

ABS_MB = 32.0  # ignore jumps smaller than this (noise floor at sf0.1)
REL_FACTOR = 3.0  # and require >= 3x the baseline volume

# --scale10x model parameters
COPIES = 10  # make_scale_data default
LINEAR_SLACK = 1.8  # AQE partition wobble / row-count drift headroom
SCALE_ABS_MB = 24.0  # ignore queries below this at 10x (noise floor)

# Queries whose 10x shuffle RATIO is legitimately super-linear, each
# with its verified mechanism and an ABSOLUTE 10x-MB cap (a ratio cap is
# meaningless when the sf0.1 baseline is ~0 because every join side was
# broadcast). Verified round 6 by A/B with
# spark.sql.autoBroadcastJoinThreshold=-1 at BOTH scales: under the
# broadcast-free policy the dedup family moves 44.2 MB at sf0.1 and
# 453.6 MB at 10x — 10.3x for 10x data, exactly LINEAR — so the
# 19.9x default-config ratio is joins crossing the broadcast threshold
# (correct planner behavior: broadcast is only free while small), not
# candidate-pair blowup. Caps = measured default-config 10x mass x ~1.5;
# a breach means a NEW mechanism appeared and must be re-verified.
EXPECTED_SUPERLINEAR: dict[str, tuple[float, str]] = {
    "dedup_ngram_jaccard": (300.0, "lost-broadcast at 10x; nobcast A/B 44->454 MB = 10.3x linear"),
    "dedup_clusters": (300.0, "below the driver gates the overlap and union-find run on the driver, so sf0.1 shuffles almost nothing; large 10x growth is a gate crossing onto the dedup_ngram_jaccard Spark path"),
    "dup_cluster_size_histogram": (300.0, "composes dedup_clusters: almost no sf0.1 shuffle below the driver gates; large 10x growth is a gate crossing onto the dedup_ngram_jaccard Spark path"),
    "dedup_keep_best_quality": (300.0, "lost-broadcast at 10x; nobcast A/B 45->464 MB = 10.2x linear"),
    "dedup_containment_pairs": (300.0, "same shingle-pair base as dedup_ngram_jaccard (identical byte profile; nobcast A/B 10.3x linear)"),
    "q3_shipping_priority": (80.0, "sf0.1 sides all broadcast (0.3 MB); nobcast A/B 6.3->62.7 MB = 9.9x linear"),
    "q4_order_priority": (110.0, "sf0.1 sides all broadcast (0 MB); orders/lineitem semi-join shuffles at 10x"),
    "q5_region_revenue": (95.0, "sf0.1 sides all broadcast (0 MB); fact joins shuffle at 10x"),
    "q17_small_quantity_revenue": (70.0, "sf0.1 sides broadcast (0.3 MB); nobcast A/B 8.3->80.8 MB = 9.7x linear"),
    "q18_large_volume_customers": (130.0, "sf0.1 mostly broadcast (1.8 MB); group-filter join shuffles at 10x"),
    "pagerank_supplier_graph": (350.0, "below the driver gate (lineitem and orders each at most DRIVER_STATE_MAX_ROWS stored rows) the join, distinct and iterations run on the driver, so sf0.1 shuffles almost nothing; large 10x growth is a gate crossing onto the Spark derivation and, past the edge gate, the Pregel rounds (r7 A/B of that path: edge derivation exactly 10.0x, packed-long node ids)"),
    "kcore_peel_parts": (360.0, "below the driver gate (lineitem at most DRIVER_STATE_MAX_ROWS stored rows, its pair count too) the co-purchase edges and the peel run on the driver, so sf0.1 shuffles almost nothing; large 10x growth is a gate crossing onto the Spark edge derivation (the triangle_count_parts base, 240 MB at 10x) and the distributed peel"),
}

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DETAIL = os.path.join(ROOT, "BENCH_DETAIL.json")
BASELINE = os.path.join(ROOT, "BENCH_SHUFFLE_BASELINE.json")
SCALE10X = os.path.join(ROOT, "BENCH_DETAIL_SCALE10X.json")


def check_scale10x() -> int:
    """Expected-vs-actual shuffle growth at 10x data (see module doc)."""
    with open(SCALE10X) as fh:
        ten = json.load(fh)["shuffle_read_mb"]
    with open(BASELINE) as fh:
        base = json.load(fh)["shuffle_read_mb"]
    flagged, annotated, n = [], [], 0
    for name, mb10 in sorted(ten.items()):
        b = base.get(name)
        if b is None or mb10 < SCALE_ABS_MB:
            continue
        n += 1
        growth = mb10 / max(b, 0.1)
        limit = COPIES * LINEAR_SLACK
        if name in EXPECTED_SUPERLINEAR:
            cap_mb, reason = EXPECTED_SUPERLINEAR[name]
            if mb10 > cap_mb:
                flagged.append((name, b, mb10, growth, f"exceeds documented {cap_mb} MB cap ({reason})"))
            else:
                annotated.append((name, b, mb10, growth, reason))
        elif growth > limit:
            flagged.append((name, b, mb10, growth, f"super-linear, no documented mechanism (limit {limit}x)"))
    print(
        f"10x growth model: {n} queries above {SCALE_ABS_MB} MB at 10x, "
        f"{len(annotated)} documented super-linear, {len(flagged)} flagged"
    )
    for name, b, mb10, g, reason in annotated:
        print(f"  expected {name}: {b} -> {mb10} MB ({g:.1f}x) — {reason}")
    for name, b, mb10, g, reason in flagged:
        print(f"  FLAGGED  {name}: {b} -> {mb10} MB ({g:.1f}x) — {reason}")
    return 1 if flagged else 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rebaseline", action="store_true")
    ap.add_argument("--scale10x", action="store_true")
    args = ap.parse_args()
    if args.scale10x:
        return check_scale10x()

    with open(DETAIL) as fh:
        detail = json.load(fh)
    current: dict[str, float] = detail.get("shuffle_read_mb", {})
    if not current:
        print("BENCH_DETAIL.json carries no shuffle_read_mb — run bench.py first")
        return 1

    if args.rebaseline or not os.path.exists(BASELINE):
        with open(BASELINE, "w") as fh:
            json.dump(
                {"sf": detail.get("sf"), "shuffle_read_mb": current}, fh, indent=1
            )
        print(f"baseline written: {BASELINE} ({len(current)} queries)")
        return 0

    with open(BASELINE) as fh:
        base = json.load(fh)
    if base.get("sf") != detail.get("sf"):
        print(
            f"sf mismatch (baseline {base.get('sf')}, detail {detail.get('sf')}) "
            "— not comparable; re-run bench at the baseline sf or --rebaseline"
        )
        return 1
    baseline: dict[str, float] = base["shuffle_read_mb"]

    flagged = []
    for name, mb in sorted(current.items()):
        b = baseline.get(name)
        if b is None:
            continue  # new query: no baseline yet (next --rebaseline picks it up)
        if mb - b >= ABS_MB and mb >= REL_FACTOR * max(b, 0.1):
            flagged.append((name, b, mb))
    n_new = len(set(current) - set(baseline))
    print(
        f"checked {len(current)} queries vs baseline "
        f"({n_new} new, not compared): {len(flagged)} flagged"
    )
    for name, b, mb in flagged:
        print(f"  SHUFFLE REGRESSION {name}: {b} MB -> {mb} MB")
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
