"""The two workloads and the calls they time.

An op is one unit of the closed loop. A query op is a build call (the
registered ``QuerySpec.builder``) followed by the timed action
(``fingerprint``); a ``pipeline_io`` op is one cold pipeline run plus
one rerun (see ``pipeline.py``). Each workload checks every op's output
and reports the op's latency: the time spent inside the engine calls,
without the checks and clean-up around them.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager

from perfbench import pipeline
from perfbench.fingerprint import fingerprint
from perfbench.sparkstats import tree_cpu_seconds
from perfbench.trace import Tracer

ROOT_PID = os.getpid()

QUERIES = (
    # single-pass: most of the time is in the action (scan, joins,
    # shuffle, top-k)
    "q3_shipping_priority",
    # driver loops: most of the time is in the builder call (iterative
    # fixpoints, eager checkpoints, BPE merges)
    "pagerank_supplier_graph",
    "kcore_peel_parts",
    "dedup_clusters",
    "bpe_encode_tokens",
)


class Clock:
    """Wall seconds and CPU seconds (of this process and every process
    it started) of an op's timed segments; checks between them are not
    timed."""

    def __init__(self):
        self.wall = 0.0
        self.cpu = 0.0

    @contextmanager
    def timed(self):
        cpu0 = tree_cpu_seconds(ROOT_PID)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall += time.perf_counter() - t0
            self.cpu += tree_cpu_seconds(ROOT_PID) - cpu0


class Harness:
    """The session, the tracer, and (when tracing) the status-store
    reader that turns Spark jobs into child spans of the open phase."""

    def __init__(self, spark, sf_dir: str, work: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self.work = work
        self.tracer = Tracer(False)
        self.reader = None

    @contextmanager
    def phase(self, name: str, **attrs):
        if not self.tracer.enabled:
            yield None
            return
        self._attach_jobs(self.tracer.current)
        span = None
        try:
            with self.tracer.span(name, **attrs) as span:
                yield span
        finally:
            self._attach_jobs(span)

    def _attach_jobs(self, parent) -> None:
        for job in self.reader.jobs_since():
            end = job.pop("end") or time.time()
            start = job.pop("start") or end
            self.tracer.add("spark.job", start, end, parent, **job)

    @contextmanager
    def op(self, name: str):
        """Span of one op, with the JVM's GC time spent inside it. Jobs
        submitted since the last read ran outside every traced op (an
        untraced pass, the residue drop between ops) and are dropped."""
        if not self.tracer.enabled:
            yield None
            return
        self.reader.jobs_since()
        gc0 = self.reader.gc_seconds()
        with self.phase(name) as span:
            yield span
        span.attrs["gc_s"] = self.reader.gc_seconds() - gc0

    def drop_residue(self) -> None:
        from porcupine_spark.functions.metrics import drop_session_residue

        drop_session_residue(self.spark)


class QueryWorkload:
    """Registered queries; the expected (rows, fingerprint) of each comes
    from its warm-up execution once that result matched the oracle."""

    def __init__(self, work: str, seed: int):
        from porcupine_spark.plans.registry import load_all_plans

        specs = load_all_plans()
        self.specs = {n: specs[n] for n in QUERIES}
        self.expected: dict[str, tuple | None] = {}

    @staticmethod
    def import_engine() -> None:
        from porcupine_spark.plans.registry import load_all_plans

        load_all_plans()

    def op_names(self) -> list[str]:
        return list(self.specs)

    def warm(self, h: Harness, name: str, oracle) -> tuple[Clock, str | None]:
        """First execution (timed, for set-up) and its oracle cross-check
        (untimed)."""
        spec = self.specs[name]
        clock = Clock()
        with clock.timed():
            df = spec.builder(h.spark, h.sf_dir)
            got = fingerprint(df)
        problem = oracle.mismatch(df, spec.oracle)
        self.expected[name] = None if problem else got
        return clock, problem

    def run(self, h: Harness, name: str) -> tuple[Clock, str | None]:
        spec = self.specs[name]
        clock = Clock()
        with h.op(name), clock.timed():
            with h.phase("build", op=name):
                df = spec.builder(h.spark, h.sf_dir)
            with h.phase("action", op=name):
                got = fingerprint(df)
        want = self.expected.get(name)
        if want is None:
            return clock, "no oracle-checked expected result"
        return clock, None if got == want else f"fingerprint {got} != {want}"


class PipelineWorkload:
    """One op, ``pipeline``, on records generated from the seed; each
    run of it works under a fresh root that is removed afterwards."""

    def __init__(self, work: str, seed: int):
        table = pipeline.make_records(seed)
        path = os.path.join(work, "records")
        pipeline.write_records(table, path)
        self.records = pipeline.RecordSet(
            path, table.num_rows, table.nbytes, pipeline.expected_folds(table)
        )
        self.fold = pipeline.fold()
        self.catalog = pipeline.catalog()
        self._runs = 0

    @staticmethod
    def import_engine() -> None:
        import porcupine_spark.cache  # noqa: F401
        import porcupine_spark.folds  # noqa: F401
        import porcupine_spark.task_ext  # noqa: F401

    def op_names(self) -> list[str]:
        return ["pipeline"]

    def warm(self, h: Harness, name: str, oracle=None) -> tuple[Clock, str | None]:
        return self.run(h, name)

    def run(self, h: Harness, name: str) -> tuple[Clock, str | None]:
        from porcupine_spark.cache import CacheStore
        from porcupine_spark.task import RunCtx, load
        from porcupine_spark.task_ext import write_partitioned

        rs = self.records
        self._runs += 1
        root = os.path.join(h.work, "pipe", f"run{self._runs}")
        store = CacheStore(h.spark, os.path.join(root, "cache"))
        clock = Clock()
        try:
            with h.op(name) as op_span:
                with clock.timed(), h.phase("cold"):
                    with h.phase("catalog.bind"):
                        bound = self.catalog.bind(
                            os.path.join(root, "tree"), {"input/records": rs.path}
                        )
                    ctx = RunCtx(h.spark, bound)
                    with h.phase("task.load"):
                        records = load("input/records").run(ctx, None)
                    with h.phase("task_ext.write_partitioned"):
                        write_partitioned("work/raw", "idx").run(ctx, records)
                    self._analyse(h, ctx, store)
                stats_path = bound.locations("output/stats")[0].path
                problem = self._check(rs, stats_path, store, hits=0)
                with clock.timed(), h.phase("rerun"):
                    self._analyse(h, ctx, store)
                problem = problem or self._check(rs, stats_path, store, hits=1)
            if op_span is not None:
                files, nbytes = pipeline.tree_size(root)
                op_span.attrs.update(
                    files_written=files, bytes_written=nbytes, payload_bytes=rs.payload_bytes
                )
        finally:
            shutil.rmtree(root, ignore_errors=True)
        return clock, problem

    def _analyse(self, h: Harness, ctx, store) -> None:
        from porcupine_spark.folds import run_fold_grouped
        from porcupine_spark.task_ext import load_partitioned

        with h.phase("task_ext.load_partitioned"):
            raw = load_partitioned("work/raw", "idx").run(ctx, None)
        with h.phase("folds.run_fold_grouped"):
            folded = run_fold_grouped(raw, ["idx"], self.fold)
        locations = [loc.path for loc in ctx.bound.locations("work/raw")]
        hits = store.hits
        with h.phase("cache.cached") as span:
            stats = store.cached(
                "idx_stats", {"fold": pipeline.FOLD_COLUMNS}, locations, lambda: folded
            )
        if span is not None:
            span.attrs["hit"] = store.hits > hits
        with h.phase("catalog.write"):
            ctx.bound.write(stats, "output/stats")

    @staticmethod
    def _check(rs: pipeline.RecordSet, stats_path: str, store, hits: int) -> str | None:
        got = pipeline.read_stats(stats_path)
        rows_read = sum(v[0] for v in got.values())
        if rows_read != rs.rows:
            return f"rows read {rows_read} != rows written {rs.rows}"
        if got != rs.expected:
            bad = sorted(k for k in rs.expected if got.get(k) != rs.expected[k])[:3]
            return f"fold results differ at idx {bad}"
        if (store.hits, store.misses) != (hits, 1):
            return f"cache hits/misses {store.hits}/{store.misses}, want {hits}/1"
        return None


WORKLOAD_CLASSES = {"queries": QueryWorkload, "pipeline_io": PipelineWorkload}
