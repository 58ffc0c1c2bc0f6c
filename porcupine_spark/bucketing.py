"""Bucketed layouts: shuffle-free co-located joins and aggregations.

At 100 TB the dominant cost of a fact-fact join is the shuffle of both
sides. Writing both tables bucketed by the join key (same bucket
count) lets Spark plan a SortMergeJoin with NO Exchange on either
side — the bucketing metadata proves co-partitioning. This is the
standing answer to "is there a shuffle here that becomes the
bottleneck at scale?" for repeated joins on a stable key.

Bucketed tables must go through the session catalog (``saveAsTable``);
``bucket_dir`` pins their physical location.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession

from porcupine_spark.serials import parquet_serial


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str | list[str],
    n_buckets: int = 16,
    path: str | None = None,
    sort: bool = True,
) -> None:
    keys = [key] if isinstance(key, str) else key
    writer = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, *keys)
    if sort:
        writer = writer.sortBy(*keys)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, key: str | list[str],
    how: str = "inner",
) -> DataFrame:
    keys = [key] if isinstance(key, str) else key
    return spark.table(left_table).join(spark.table(right_table), keys, how)


def executed_plan(df: DataFrame) -> str:
    """The executed physical plan of ``df`` as a string."""
    return df._jdf.queryExecution().executedPlan().toString()


def plan_node_counts(df: DataFrame) -> Counter:
    """Physical operators of ``df``'s executed plan, counted by class
    name (``FileSourceScanExec``, ``ShuffleExchangeExec``,
    ``GenerateExec``, ...). The walk sees what the plan string shows:
    children, subqueries and cached plans, the current plan under
    adaptive execution, and the plan inside each query stage; a reused
    exchange counts once, as ``ReusedExchangeExec``."""
    counts: Counter = Counter()
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        counts[name] += 1
        if name.endswith("QueryStageExec"):
            todo.append(node.plan())
        for seq in (node.children(), node.innerChildren()):
            todo.extend(seq.apply(i) for i in range(seq.size()))
    return counts


def shuffle_exchanges_in_plan(plan: str) -> int:
    """Count SHUFFLE Exchange operators (hash/range repartitions) in an
    ``executed_plan`` string — 0 for a properly co-bucketed join.
    Broadcast exchanges are not shuffles and are not counted."""
    return plan.count("Exchange hashpartitioning") + plan.count("Exchange rangepartitioning")


def write_sorted(
    df: DataFrame, path: str, cols: str | list[str], files_hint: int | None = None
) -> None:
    """Range-partitioned, sorted parquet layout for DATA SKIPPING: rows
    are range-partitioned then sorted within partitions on ``cols``, so
    each output file covers a narrow, near-disjoint value range and its
    parquet footer min/max statistics let a filtered scan skip whole
    files/row-groups. At 100 TB this is the difference between reading
    one time-slice and reading the lake — the open-table-format
    "OPTIMIZE ... ZORDER"-lite for a single sort dimension, in plain
    Spark. One shuffle at write time (the range exchange), paid once.
    """
    keys = [cols] if isinstance(cols, str) else list(cols)
    out = df
    if files_hint:
        out = out.repartitionByRange(files_hint, *keys)
    else:
        out = out.repartitionByRange(*keys)
    parquet_serial().write(out.sortWithinPartitions(*keys), path)
