"""Per-layer metrics of a traced pass, computed from its span tree.

Span names are the layer vocabulary: ``build`` and ``action`` are the
two phases of a query op; ``catalog.bind``, ``task_ext.write_partitioned``
and the other dotted names are the pipeline stages of a ``pipeline_io``
op, each named after the public function it times; ``spark.job`` spans
are the Spark jobs submitted while a phase was open.

Every metric is a per-pass total, so one pass of any workload gives one
value of each; metrics of layers a workload does not call are 0.
"""

from __future__ import annotations

from collections import defaultdict

from perfbench.trace import Span, Tracer, self_time

BUILD_TRACKED = (
    "pagerank_supplier_graph",
    "kcore_peel_parts",
    "dedup_clusters",
    "bpe_encode_tokens",
)

# pipeline stage span -> metric
STAGE_METRICS = {
    "catalog.bind": "catalog.bind_s",
    "task_ext.write_partitioned": "task_ext.write_partitioned_s",
    "task_ext.load_partitioned": "task_ext.load_partitioned_s",
    "folds.run_fold_grouped": "folds.run_fold_grouped_s",
    "catalog.write": "catalog.write_s",
}

# (name, unit, better)
PER_LAYER: list[tuple[str, str, str]] = [
    *[
        (f"{phase}.{m}", unit, "lower")
        for phase in ("build", "action")
        for m, unit in (
            ("wall_s", "s"),
            ("jobs", "count"),
            ("stages", "count"),
            ("tasks", "count"),
            ("driver_only_s", "s"),
        )
    ],
    *[
        (f"q.{q}.{m}", unit, "lower")
        for q in BUILD_TRACKED
        for m, unit in (("build_jobs", "count"), ("build_s", "s"))
    ],
    ("spark.shuffle_read_mb", "MB", "lower"),
    ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("spark.input_mb", "MB", "lower"),
    ("spark.output_mb", "MB", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("session.start_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    *[(m, "s", "lower") for m in STAGE_METRICS.values()],
    ("storage.files_written", "count", "lower"),
    ("storage.write_amplification", "ratio", "lower"),
    ("cache.miss_s", "s", "lower"),
    ("cache.hit_s", "s", "lower"),
    ("cache.hit_ratio", "ratio", "higher"),
    ("pipeline.rerun_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
]

_MB = 1e6
# spark.* metric -> (summed stage field, scale)
_SPARK_SUMS = {
    "spark.shuffle_read_mb": ("shuffleReadBytes", 1 / _MB),
    "spark.shuffle_write_mb": ("shuffleWriteBytes", 1 / _MB),
    "spark.spill_mb": ("diskBytesSpilled", 1 / _MB),
    "spark.input_mb": ("inputBytes", 1 / _MB),
    "spark.output_mb": ("outputBytes", 1 / _MB),
    "spark.executor_run_s": ("executorRunTime", 1e-3),
    "spark.executor_cpu_s": ("executorCpuTime", 1e-9),
    "spark.failed_tasks": ("numFailedTasks", 1),
}


def _descendants(tracer: Tracer, span: Span) -> list[Span]:
    out, todo = [], [span]
    while todo:
        kids = tracer.children(todo.pop())
        out += kids
        todo += kids
    return out


def pass_metrics(tracer: Tracer, pass_span: Span) -> dict[str, float]:
    """Every per-layer metric (except the run-level session and trace
    ones) for one traced pass."""
    m: dict[str, float] = defaultdict(float)
    hits = misses = 0
    payload = written = 0
    for span in _descendants(tracer, pass_span):
        jobs = [c for c in tracer.children(span) if c.name == "spark.job"]
        if span.name == "spark.job":
            for metric, (field, scale) in _SPARK_SUMS.items():
                m[metric] += span.attrs[field] * scale
        elif span.name in ("build", "action"):
            m[f"{span.name}.wall_s"] += span.duration
            m[f"{span.name}.jobs"] += len(jobs)
            m[f"{span.name}.stages"] += sum(j.attrs["stages"] for j in jobs)
            m[f"{span.name}.tasks"] += sum(
                j.attrs["numCompleteTasks"] + j.attrs["numFailedTasks"] for j in jobs
            )
            m[f"{span.name}.driver_only_s"] += self_time(span, jobs)
            op = span.attrs.get("op")
            if span.name == "build" and op in BUILD_TRACKED:
                m[f"q.{op}.build_jobs"] += len(jobs)
                m[f"q.{op}.build_s"] += span.duration
        elif span.name in STAGE_METRICS:
            m[STAGE_METRICS[span.name]] += span.duration
        elif span.name == "cache.cached":
            hit = span.attrs["hit"]
            hits += hit
            misses += not hit
            m["cache.hit_s" if hit else "cache.miss_s"] += span.duration
        elif span.name == "rerun":
            m["pipeline.rerun_s"] += span.duration
        if "gc_s" in span.attrs:
            m["spark.gc_s"] += span.attrs["gc_s"]
        if "files_written" in span.attrs:
            m["storage.files_written"] += span.attrs["files_written"]
            written += span.attrs["bytes_written"]
            payload += span.attrs["payload_bytes"]
    if hits + misses:
        m["cache.hit_ratio"] = hits / (hits + misses)
    if payload:
        m["storage.write_amplification"] = written / payload
    return dict(m)
