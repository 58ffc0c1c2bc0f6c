"""Benchmark: run the engine's headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is timed end-to-end (plan + execute + count via a cheap
action that still materializes every row: summary count on the
DataFrame). Session build time is excluded; a warmup query primes the
JVM/codegen so per-query numbers reflect steady-state throughput.

Each query runs RUNS times and reports the BEST time: single-JVM
local-mode timings are noisy (GC pauses, C2 compilation of freshly
generated code, host scheduling), and a one-off hiccup on whichever
query it lands on is measurement noise, not engine throughput. Min-of-k
is the standard steady-state estimator for that regime.

The TOP_EXTRA most expensive queries (by min time after the base runs)
get one EXTRA run so the headline numbers rest on >= 3 samples, and
BENCH_DETAIL.json carries per-query {runs, median, spread} where
spread = (max - min) / median — so a round-over-round comparison can
tell signal from a GC hiccup arithmetically instead of forensically
(VERDICT r6 #1: 19.5s-at-sf0.1 vs 7.0s-at-10x on the same build was
noise, and it cost a round of analysis).

``--only name,...`` times just the named queries, at the same scale
dir and with the same run counts; such a partial run prints its line
but leaves BENCH_DETAIL.json as it is, since that file must cover
every registered query.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from porcupine_spark.functions.metrics import drop_session_residue, shuffle_read_bytes
from porcupine_spark.plans.registry import load_all_plans
from porcupine_spark.session import get_spark

DEFAULT_SF_DIR = "/root/testdata/sf0.1"


# Headline set: every registered query (correctness surface == bench
# surface), ordered cheap-first so failures surface early.
EXCLUDE: set[str] = set()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", help="comma-separated query names to time (no BENCH_DETAIL.json)")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    specs = load_all_plans()
    names = sorted(set(specs) - EXCLUDE)
    if args.only is not None:
        names = [n for n in args.only.split(",") if n]
        unknown = sorted(set(names) - set(specs))
        if unknown:
            ap.error(f"unknown queries: {', '.join(unknown)}")
    spark = get_spark("porcupine_bench")

    # Warmup: prime JVM, codegen and the parquet footer cache — and the
    # Python/Arrow worker pool (spawning 32 workers that import
    # pandas/numpy costs seconds once per session; with worker reuse on,
    # steady state never pays it again, so it must not bill to whichever
    # Pandas-UDF query happens to run first).
    specs["q1_pricing_summary"].builder(spark, sf_dir).count()
    spark.range(0, spark.sparkContext.defaultParallelism * 10, 1).repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(lambda it: it, schema="id long").count()

    RUNS = 2
    TOP_EXTRA = 20  # slowest queries get a 3rd run for a stable median
    timings: dict[str, float] = {}
    run_times: dict[str, list[float]] = {}
    rows: dict[str, int] = {}
    errors: dict[str, str] = {}
    shuffle_mb: dict[str, float] = {}

    def _timed_run(name: str, spec) -> bool:
        """One timed execution; appends to run_times and updates the
        best-time bookkeeping (timing + that run's shuffle bytes).
        Returns False on failure — recorded in `errors` ONLY when the
        query has no successful timing yet (a transient failure on a
        top-extra third run must not misreport a query that already
        benchmarked fine twice)."""
        sh0 = shuffle_read_bytes(spark)
        t0 = time.perf_counter()
        try:
            df = spec.builder(spark, sf_dir)
            n = df.count()
        except Exception as e:  # noqa: BLE001 — one bad query must not kill the bench
            if name not in timings:
                errors[name] = f"{type(e).__name__}: {e}"[:200]
            return False
        dt = time.perf_counter() - t0
        sh1 = shuffle_read_bytes(spark)
        run_times.setdefault(name, []).append(dt)
        if name not in timings or dt < timings[name]:
            timings[name] = round(dt, 4)
            if sh0 >= 0 and sh1 >= 0:
                # bytes from the best-time run (same plan each run;
                # AQE wobble is sub-percent)
                shuffle_mb[name] = round((sh1 - sh0) / 1e6, 2)
        rows[name] = n
        df = None  # noqa: F841 — drop the plan's refs before gc
        return True

    for name in names:
        for _ in range(RUNS):
            if not _timed_run(name, specs[name]):
                break
        drop_session_residue(spark)

    # extra pass: the headline (slowest) queries drive every
    # round-over-round comparison, so buy them a 3rd sample
    top = sorted(timings, key=lambda k: -timings[k])[:TOP_EXTRA]
    extra_run_failures = []
    for name in top:
        if not _timed_run(name, specs[name]):
            extra_run_failures.append(name)
        drop_session_residue(spark)

    def _median(xs: list[float]) -> float:
        s = sorted(xs)
        mid = len(s) // 2
        return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2

    runs_detail = {
        name: {
            "runs": [round(x, 4) for x in ts],
            "median": round(_median(ts), 4),
            "spread": round((max(ts) - min(ts)) / _median(ts), 4)
            if _median(ts) > 0
            else 0.0,
        }
        for name, ts in run_times.items()
    }
    noisy_top = sorted(
        n for n in top if runs_detail[n]["spread"] > 0.25
    )

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    total = round(sum(timings.values()), 4)

    # Full detail (per-query rows, full error strings) goes to a sidecar
    # file; the stdout JSON line must stay SMALL — the harness that
    # records it keeps only a bounded tail of output, and a multi-KB
    # line gets truncated into unparseable junk (round 1: "parsed":
    # null). Budget the line to ~1.5 KB: always emit the scalar summary;
    # include the per-query map only if it fits, else just the slowest
    # queries plus a pointer to the sidecar.
    detail = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "rows": rows,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "runs_per_query": RUNS,
        "sf": sf_val,
        "errors": errors,
        "shuffle_read_mb": shuffle_mb,
        "total_shuffle_read_mb": round(sum(shuffle_mb.values()), 1),
        "runs_detail": runs_detail,
        "top_extra_queries": top,
        "noisy_top_queries": noisy_top,
        "extra_run_failures": extra_run_failures,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    try:
        if args.only is None:
            with open(detail_path, "w") as fh:
                json.dump(detail, fh, indent=1)
    except OSError:  # read-only checkout: the stdout line must still emit
        pass

    out = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "n_queries": len(timings),
        "n_errors": len(errors),
        "total_shuffle_read_mb": round(sum(shuffle_mb.values()), 1),
        "sf": sf_val,
    }
    # The harness that records this line keeps only the LAST 2000 chars
    # of output and parses the JSON out of that tail (r1: a >2KB line
    # lost its head -> "parsed": null; r7: tail field is exactly 2000
    # chars). So the line must stay under that cap — but r7's fixed
    # top-10 cut gutted the round-over-round comparison (n_common: 3,
    # 7 phantom "dropped" entries). Greedily pack as many of the
    # slowest queries as fit in a 1900-byte line instead (~60): every
    # query the previous round printed stays visible unless it truly
    # left the slow set, and the line stays parseable.
    LINE_BUDGET = 1900
    line = json.dumps(out, separators=(",", ":"))
    if len(line) > LINE_BUDGET:
        ranked = sorted(timings.items(), key=lambda kv: -kv[1])
        out["detail_file"] = "BENCH_DETAIL.json"
        keep = len(ranked)
        while keep > 1:
            out["queries"] = {k: round(v, 2) for k, v in ranked[:keep]}
            out["queries_truncated"] = len(timings) - keep
            line = json.dumps(out, separators=(",", ":"))
            if len(line) <= LINE_BUDGET:
                break
            # overshoot in entries, not one-by-one: ~27 bytes/entry
            keep -= max(1, (len(line) - LINE_BUDGET) // 27 + 1)
    print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
