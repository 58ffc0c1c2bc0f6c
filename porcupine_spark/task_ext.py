"""Repetition-aware IO tasks and control combinators (SURVEY §2.1/§2.2).

Every dataset read and write here goes through the bound catalog
(``BoundCatalog.read``/``write``), which reaches data only through a
layer's accessor or its ``Serial.read``/``Serial.write`` — the
reference's ``DataAccessTree`` closures (PorcupineTree.hs:15-64). So
variable splicing, accessor routing, the serial's ``readable``/
``writable`` checks and pre-write/post-read transforms, and the access
log are decided in one place for every task below.

- ``load_indexed``  ≙ loadDataStream/loadDataList (VirtualFileAccess.hs:
  89-111): one read per index, each exactly ``load`` of the dataset with
  ``{var}`` bound to that index — EVERY layer, unioned by name as in
  ``BoundCatalog.read`` — plus an ``idx`` column; the per-index frames
  are unioned by name. A partition-keyed layout is better read as one
  partition-pruned scan with ``load_partitioned``.
- ``try_load_indexed`` ≙ tryLoadDataStream (:114-122): the same per-index
  read inside ``try``; missing/corrupt occurrences become error entries,
  not job failures. Both raise ValueError on an unmapped dataset.
- ``write_partitioned`` ≙ writeDataStream/writeDataList/writeDataFold
  (:156-182): ``BoundCatalog.write(partition_by=idx_col)`` — every index
  value lands in its own ``idx=<v>`` directory of each layer, one job per
  layer, no driver loop.
- ``read_folder``     ≙ streamFolder (TaskPipelineUtils.hs:49-65):
  recursive listing with provenance (input_file_name); it reads a raw
  folder, not a catalog dataset.
- ``tee``             ≙ mapCopy/hoistCopy (:119-134): fan one frame out
  to N sinks, one of them transformed; frame persisted so upstream
  computes once.
- ``try_task`` / ``catch_and_log`` ≙ tryTask/catchAndLog
  (PTask.hs:66-95).
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from porcupine_spark.task import RunCtx, Task, _resolve


def _index_reader(ctx: RunCtx, name: str, var: str) -> Callable[[Any], DataFrame]:
    """The per-index read of ``load_indexed``/``try_load_indexed``:
    ``load`` of the dataset with ``{var}`` bound to the index, every
    layer, through the bound catalog, plus an ``idx`` column. An
    unmapped dataset has no occurrences to index: ValueError."""
    resolved = _resolve(ctx, name)
    if ctx.bound.locations(resolved) is None:
        raise ValueError(f"{name!r} unmapped")

    def read_one(idx: Any) -> DataFrame:
        df = ctx.bound.read(ctx.spark, resolved, variables={**ctx.variables, var: idx})
        return df.withColumn("idx", F.lit(idx))

    return read_one


def load_indexed(name: str, var: str, indices: Sequence[Any]) -> Task:
    """() -> DataFrame with an ``idx`` column: per index, every layer of
    the dataset read as ``load`` reads it with ``{var}`` bound to the
    index; the per-index frames unioned by name."""

    def runner(ctx: RunCtx, _):
        read_one = _index_reader(ctx, name, var)
        return functools.reduce(DataFrame.unionByName, map(read_one, indices))

    return Task(runner, reads=frozenset({name}), name=f"load_indexed:{name}")


def try_load_indexed(name: str, var: str, indices: Sequence[Any]) -> Task:
    """Failure-tolerant variant: returns (DataFrame or None, [(idx, error)])."""

    def runner(ctx: RunCtx, _):
        read_one = _index_reader(ctx, name, var)
        frames, errors = [], []
        for idx in indices:
            try:
                df = read_one(idx)
                df.schema  # force analysis so missing paths raise here
                frames.append(df)
            except Exception as e:  # noqa: BLE001
                errors.append((idx, f"{type(e).__name__}: {e}"))
        out = functools.reduce(DataFrame.unionByName, frames) if frames else None
        return out, errors

    return Task(runner, reads=frozenset({name}), name=f"try_load_indexed:{name}")


def write_partitioned(name: str, idx_col: str, mode: str = "overwrite") -> Task:
    """DataFrame -> written paths; one physical dir per index value
    (…/idx=v/part-*.parquet) in a single distributed job per layer."""

    def runner(ctx: RunCtx, df: DataFrame):
        return ctx.bound.write(
            df, _resolve(ctx, name), mode=mode, variables=ctx.variables, partition_by=idx_col
        )

    return Task(runner, writes=frozenset({name}), name=f"write_partitioned:{name}")


def load_partitioned(name: str, idx_col: str, indices: Sequence[Any] | None = None) -> Task:
    """Partition-pruned read-back of a partitioned layout; with indices
    given, the filter prunes directories at planning time."""

    def runner(ctx: RunCtx, _):
        df = ctx.bound.read(ctx.spark, _resolve(ctx, name), variables=ctx.variables)
        if indices is not None:
            df = df.filter(F.col(idx_col).isin(list(indices)))
        return df

    return Task(runner, reads=frozenset({name}), name=f"load_partitioned:{name}")


def read_folder(
    spark: SparkSession, path: str, fmt: str = "parquet", recursive: bool = True, **options
) -> DataFrame:
    """streamFolder: recursive scan with file provenance column."""
    reader = spark.read.format(fmt).option("recursiveFileLookup", str(recursive).lower())
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path).withColumn("source_file", F.input_file_name())


def tee(*sinks: tuple[str, Callable[[DataFrame], DataFrame] | None]) -> Task:
    """mapCopy: persist the input frame, write it to every (sink,
    transform) pair, unpersist. Upstream computes ONCE."""

    def runner(ctx: RunCtx, df: DataFrame):
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            written = {}
            for sink_name, transform in sinks:
                out = transform(df) if transform else df
                written[sink_name] = ctx.bound.write(
                    out, _resolve(ctx, sink_name), variables=ctx.variables
                )
            return written
        finally:
            df.unpersist()

    return Task(
        runner, writes=frozenset(s for s, _ in sinks), name=f"tee:{','.join(s for s, _ in sinks)}"
    )


def try_task(task: Task) -> Task:
    """tryTask (PTask.hs:66-70): a -> ('ok', b) | ('err', exception)."""

    def runner(ctx: RunCtx, x):
        try:
            return ("ok", task.run(ctx, x))
        except Exception as e:  # noqa: BLE001
            return ("err", e)

    return Task(runner, task.reads, task.writes, name=f"try:{task.name}")


def catch_and_log(task: Task, default: Any = None) -> Task:
    """catchAndLog (PTask.hs:84-95): log the error, continue with default."""
    import logging

    def runner(ctx: RunCtx, x):
        try:
            return task.run(ctx, x)
        except Exception:  # noqa: BLE001
            logging.getLogger("porcupine_spark").exception(
                "task %s failed; continuing with default", task.name
            )
            return default

    return Task(runner, task.reads, task.writes, name=f"catch:{task.name}")


def partition_by_predicate(df: DataFrame, cond) -> tuple[DataFrame, DataFrame]:
    """S.partition / S.partitionEithers (Streaming/TaskPipelineUtils.hs:
    71-114): one frame split into (matching, non-matching). Both halves
    share the parent plan; persist the parent first if both sides are
    expensive to recompute."""
    return df.filter(cond), df.filter(~cond)


def with_context(task: Task, **context) -> Task:
    """addStaticContextToTask (PTask.hs:155-170): attach structured
    key=values to every log record emitted under this task."""
    import logging

    class _Ctx(logging.Filter):
        def filter(self, record):
            record.task_context = context
            return True

    def runner(ctx: RunCtx, x):
        log = logging.getLogger("porcupine_spark")
        f = _Ctx()
        log.addFilter(f)
        try:
            return task.run(ctx, x)
        finally:
            log.removeFilter(f)

    return Task(runner, task.reads, task.writes, name=task.name)


def clocked(task: Task) -> Task:
    """clockTask (PTask.hs:112-126): a -> (result, wall_seconds)."""
    import time as _time

    def runner(ctx: RunCtx, x):
        t0 = _time.perf_counter()
        out = task.run(ctx, x)
        return out, _time.perf_counter() - t0

    return Task(runner, task.reads, task.writes, name=f"clocked:{task.name}")
