"""The repository benchmark.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 30 --trace 0

Workloads, each a closed loop with one client (an op starts when the
previous one has finished):

- ``queries``: registered queries, each op a build call plus the timed
  action; one single-pass query whose time is in the action and four
  driver loops whose time is in the builder call;
- ``pipeline_io``: a write / read / fold / cache / JSON-write pipeline
  through the resource and pipeline layers, cold and then rerun.

A run generates its inputs (the test tables, the same in every run; for
``pipeline_io`` the records, from ``--seed``), starts the session, warms
up with untimed passes (the first also cross-checks every query against
its DuckDB oracle), then measures full passes in ``--seed``-shuffled order.
The number of passes is fixed by ``--seconds`` and the workload's
nominal pass time, so every commit measures the same amount of work.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The line before it holds the
environment, the op latencies (median, and the tail with its percentile
and sample count), per-op medians and any failures.

Everything the run writes stays under ``.perfbench/`` in the checkout
(working directory, Spark local dirs, temp files, generated data); all
of it except the span file of a traced run is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("queries", "pipeline_io")
# scale factor of the generated tables (pipeline_io reads none); the
# tables are the same in every run, the seed sets the query order
SF = {"queries": 0.005}
TABLE_SEED = 42
# seconds one measured pass takes on the reference machine (4 cores);
# a run measures round(seconds / nominal) passes, at least one, and at
# least two when tracing (one untraced, one traced)
NOMINAL_PASS_S = {"queries": 10.0, "pipeline_io": 5.0}
# untimed passes before the measured ones; the first measured pass is
# still up to 20% slower than the later ones, which cpu_s and wall_s
# (each op's cheapest measured execution) absorb
WARMUP_PASSES = {"queries": 1, "pipeline_io": 2}
DRIVER_MEM = "2g"
# driver JVM options, given as spark.driver.defaultJavaOptions (the
# administrator's slot, in front of the engine's extraJavaOptions): the
# heap starts at its maximum, so G1 growing it at varying moments does
# not vary the peak RSS from run to run (spread over seeds 0.17 ->
# 0.01-0.07), and the collector and JIT threads are capped so that they
# and the task slots fit in the CPUs the run may use
DRIVER_JAVA_OPTIONS = (
    f"-Xms{DRIVER_MEM} -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1 -XX:CICompilerCount=2"
)
# Spark's generated-code cache keeps 100 entries by default, fewer than
# one pass of the query workload generates: every execution compiled
# its classes again, the JIT never settled, and pass times kept falling
# over eight passes with 10-15% noise between runs. Given like a
# spark-defaults entry, so a value the engine sets itself still wins.
CODEGEN_CACHE_ENTRIES = 1000


def task_slots(nproc: int) -> int:
    """Spark task slots for ``nproc`` usable CPUs: half of them. Besides
    its task threads the driver JVM runs query planning, the JIT
    compilers and the collectors, and the Python process needs a CPU
    too; with a slot on every CPU a busy neighbour stalls task threads
    and every job waits for them (on a 4-CPU VM a query pass took 61%
    longer beside two busy processes with 4 slots, and with 2 slots
    stayed within the spread of runs without them)."""
    return max(1, nproc // 2)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(work: str) -> dict:
    """Engine settings pinned from outside the engine, and every path a
    run writes moved under ``work``. Must run before pyspark starts."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    slots = task_slots(nproc)
    env = {
        "SPARK_GRAFT_CPUS": str(slots),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # hsperfdata and java.io.tmpdir default to /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": shlex.join(
            [
                "--conf",
                f"spark.driver.defaultJavaOptions={DRIVER_JAVA_OPTIONS}",
                "--conf",
                f"spark.sql.codegen.cache.maxEntries={CODEGEN_CACHE_ENTRIES}",
                "pyspark-shell",
            ]
        ),
        # Python workers import the package from here, not from the cwd
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(work)  # spark-warehouse/ and friends land here
    return {
        "nproc": nproc,
        "task_slots": slots,
        "driver_mem": DRIVER_MEM,
        "driver_java_options": DRIVER_JAVA_OPTIONS,
        "codegen_cache_entries": CODEGEN_CACHE_ENTRIES,
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def warm_up(h, wl, n_passes: int, oracle, failures: list[str]) -> float:
    """``n_passes`` untimed passes in a fixed order: the first execution
    of every op (and its oracle cross-check, which is not timed), then
    checked reruns while the JVM's compilers settle; returns the timed
    seconds of all of them."""
    total = 0.0
    for p in range(n_passes):
        for name in wl.op_names():
            try:
                clock, problem = wl.warm(h, name, oracle) if p == 0 else wl.run(h, name)
                total += clock.wall
            except Exception as e:  # noqa: BLE001 — reported, the run goes on
                problem = f"{type(e).__name__}: {e}"
            if problem:
                failures.append(f"warm-up {p} {name}: {problem}"[:300])
            h.drop_residue()
    return total


def run_passes(h, wl, rng: random.Random, n_passes: int, trace: bool, failures: list[str]):
    """Measured passes; with ``trace`` every second pass is traced.
    Returns (pass walls by traced flag, clocks of the successful ops by
    op, traced pass spans, ops attempted, ops failed)."""
    walls: dict[bool, list[float]] = {False: [], True: []}
    by_op: dict[str, list] = {}
    traced_passes = []
    attempted = failed = 0
    for p in range(n_passes):
        traced = trace and p % 2 == 1
        order = wl.op_names()
        rng.shuffle(order)
        wall = 0.0
        h.tracer.enabled = traced
        with h.tracer.span("pass", index=p) as pass_span:
            for name in order:
                attempted += 1
                try:
                    clock, problem = wl.run(h, name)
                    wall += clock.wall
                except Exception as e:  # noqa: BLE001 — counted as failed
                    problem = f"{type(e).__name__}: {e}"
                if problem:
                    failed += 1
                    failures.append(f"pass {p} {name}: {problem}"[:300])
                else:
                    by_op.setdefault(name, []).append(clock)
                h.tracer.enabled = False
                h.drop_residue()
                h.tracer.enabled = traced
        h.tracer.enabled = False
        walls[traced].append(wall)
        if traced:
            traced_passes.append(pass_span)
    return walls, by_op, traced_passes, attempted, failed


def measure(args: argparse.Namespace, work: str, info: dict) -> dict:
    from perfbench import datagen, layers, sparkstats, stats

    sf = SF.get(args.workload)
    sf_dir = os.path.join(work, "data")
    if sf is not None:
        datagen.write_tables(sf_dir, TABLE_SEED, sf)

    t0 = time.perf_counter()
    from perfbench import workloads  # imports pyspark
    from porcupine_spark.session import get_spark

    cls = workloads.WORKLOAD_CLASSES[args.workload]
    cls.import_engine()
    import_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    start_s = time.perf_counter() - t0
    try:
        info["env"].update(
            ram_gb=round(sparkstats.host_ram_gb(), 1),
            spark=spark.version,
            java=spark.sparkContext._jvm.System.getProperty("java.version"),
            driver_jvm_args=list(
                spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
            ),
            python=sys.version.split()[0],
            sf=sf,
        )
        wl = cls(work, args.seed)
        h = workloads.Harness(spark, sf_dir, work)
        rng = random.Random(args.seed)
        failures: list[str] = []
        n_warm = WARMUP_PASSES[args.workload]
        if sf is None:
            warmup_s = warm_up(h, wl, n_warm, None, failures)
        else:
            from perfbench.oracle import Oracle

            oracle = Oracle(sf_dir)
            try:
                warmup_s = warm_up(h, wl, n_warm, oracle, failures)
            finally:
                oracle.close()

        if args.trace:
            h.reader = sparkstats.StatusReader(spark)
        n_passes = max(1 + args.trace, round(args.seconds / NOMINAL_PASS_S[args.workload]))
        walls, by_op, traced_passes, attempted, failed = run_passes(
            h, wl, rng, n_passes, bool(args.trace), failures
        )
        # op latencies swing too much from run to run in a small shared
        # machine to gate on; they are reported here, not as metrics
        latencies = [c.wall for v in by_op.values() for c in v]
        tail_p = stats.tail_percentile(len(latencies))
        info.update(
            passes=n_passes,
            ops=attempted,
            failed_frac=failed / attempted,
            failures=failures[:10],
            import_s=import_s,
            start_s=start_s,
            warmup_s=warmup_s,
            op_p50_s=stats.percentile(latencies, 50.0),
            op_tail_s=stats.percentile(latencies, tail_p),
            tail_percentile=tail_p,
            latency_samples=len(latencies),
            op_median_s={
                k: statistics.median(c.wall for c in v) for k, v in sorted(by_op.items())
            },
        )
        result = {"correct": not failures, "attempted": attempted, "failed": failed}
        if args.trace:
            per_pass = [layers.pass_metrics(h.tracer, s) for s in traced_passes]
            metrics = {
                name: {"value": statistics.median(d.get(name, 0.0) for d in per_pass), "unit": unit}
                for name, unit, _better in layers.PER_LAYER
            }
            metrics["session.start_s"]["value"] = start_s
            metrics["session.warmup_s"]["value"] = warmup_s
            metrics["trace.overhead_s"]["value"] = statistics.median(
                walls[True]
            ) - statistics.median(walls[False])
            os.makedirs(OUT_DIR, exist_ok=True)
            span_file = os.path.join(OUT_DIR, f"spans-{args.workload}-seed{args.seed}.json")
            h.tracer.dump(span_file)
            info.update(span_file=os.path.relpath(span_file, ROOT), spans=len(h.tracer.spans))
        else:
            jvm_rss, py_rss = sparkstats.peak_rss_parts_mb(spark)
            info.update(jvm_peak_rss_mb=jvm_rss, python_peak_rss_mb=py_rss)
            # wall_s moved 13-23% between runs of the same code on a
            # shared 4-CPU VM (the host's load drifts over minutes, so no
            # statistic within a run removes it), cpu_s 4-11%; wall_s is
            # reported, the CPU seconds of the same ops are gated
            info["wall_s"] = sum(min(c.wall for c in v) for v in by_op.values())
            metrics = {
                "setup_s": {"value": import_s + start_s + warmup_s, "unit": "s"},
                "cpu_s": {"value": sum(min(c.cpu for c in v) for v in by_op.values()), "unit": "s"},
                "peak_rss_mb": {"value": jvm_rss + py_rss, "unit": "MB"},
            }
        return {**result, "metrics": metrics}
    finally:
        stop_spark(spark)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "porcupine_spark")):
        print(f"perfbench: no porcupine_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(OUT_DIR, f"work-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        info = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
        info["env"] = pin_environment(work)
        result = measure(args, work, info)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
