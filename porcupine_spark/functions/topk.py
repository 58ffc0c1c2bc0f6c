"""Distributed global top-k WITH ranks — no partition-less window.

``row_number().over(Window.orderBy(...))`` then ``filter(rank <= K)``
plans as a single-task WindowExec (Spark's "WindowExec: No Partition
Defined") that sorts the ENTIRE input on one core — fine on a day
spine, a scale-killer on any table that grows with the corpus (a raw
token vocab is billions of rows at web scale by Heaps' law).

``ranked_topk`` expresses the same result scale-correctly:

1. ``orderBy(score DESC, keys ASC).limit(k)`` — Spark plans this as
   TakeOrderedAndProject: every partition keeps its own top-k heap and
   only k rows per partition merge, so the global sort never happens.
2. Ranking the <= k survivors: one ``collect_list`` into a single
   k-element array, ``sort_array`` (score negated to express DESC
   through the ascending struct order), ``posexplode`` back to rows
   with rank = position + 1. Bounded work at ANY input size; the plan
   contains no Window operator at all.

Tie semantics match ``row_number`` exactly provided (score, *keys) is
a total order (every call site keys by a unique column at that grain).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from porcupine_spark.functions.driverstate import materialize


def ranked_topk(
    df: DataFrame,
    score: str,
    keys: list[str],
    k: int,
    rank_col: str = "rk",
) -> DataFrame:
    """Top-``k`` rows of ``df`` by (``score`` DESC, ``keys`` ASC) with an
    exact dense 1..k rank in ``rank_col`` (int), preserving all columns.

    ``score`` must be a numeric column NAME (it is negated to sort
    descending inside the struct array); ``keys`` break ties ascending
    and must make the order total for ranks to be deterministic.

    NULL scores are filtered out before the limit: the two stages
    disagree on NULL placement (orderBy DESC puts NULLs last, the
    negated ascending array sort would put them first), so letting a
    NULL survive into the top-k would diverge from row_number
    semantics. NaN is the caller's precondition (all call sites rank
    integer/decimal scores, where NaN cannot occur).
    """
    cols = [c for c in df.columns]
    top = df.filter(F.col(score).isNotNull()).orderBy(
        F.col(score).desc(), *[F.col(c).asc() for c in keys]
    ).limit(k)
    packed = top.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    (-F.col(score)).alias("_neg"),
                    *[F.col(c).alias(f"_k{i}") for i, c in enumerate(keys)],
                    F.struct(*[F.col(c) for c in cols]).alias("_row"),
                )
            )
        ).alias("_a")
    )
    return packed.select(
        F.posexplode("_a").alias("_i", "_s")
    ).select(
        *[F.col(f"_s._row.{c}").alias(c) for c in cols],
        (F.col("_i") + 1).alias(rank_col),
    )


def global_rank(
    df: DataFrame,
    order: list[Column],
    rank_col: str = "rk",
    cumsum: dict[str, str] | None = None,
) -> tuple[DataFrame, int, dict]:
    """EXACT global row_number (and optional running sums) under a total
    order, with NO partition-less window — the zipWithIndex pattern.

    1. ``repartitionByRange(*order)`` — partition i's rows all sort
       before partition i+1's (the ordering must include a unique
       tiebreak so the range boundaries are consistent with it);
       partition ids are pinned with a checkpoint so the offset pass
       and the rank pass see identical layouts.
    2. One tiny per-partition aggregate (row count + one sum per
       requested running column) collects |partitions| rows to the
       driver — bounded by cluster CONFIG, never the data (exactly how
       RDD.zipWithIndex computes its offsets).
    3. Within-partition ``row_number`` / prefix sums — a PARTITIONED
       window — plus the broadcast per-partition offsets give exact
       global ranks / running sums.

    ``order``: Column sort expressions (``F.desc(...)`` supported).
    ``cumsum``: ``{out_col: input_col}`` — each out_col is the running
    sum of input_col INCLUDING the current row, in the sum dtype (long
    and decimal offsets round-trip the driver exactly).

    Returns ``(ranked_df, n_rows, {out_col: grand_total})`` — the grand
    totals fall out of the offset pass for free, so callers embed them
    as literals instead of an extra 1-row-broadcast join.
    """
    cumsum = cumsum or {}
    spark = df.sparkSession
    # the scratch names below are withColumn'd, which silently REPLACES
    # an existing column of the same name — a caller whose frame already
    # carries one would get corrupted ranks, so fail loudly instead
    reserved = {"_gr_pid", "_gr_rn", "_gr_roff", rank_col} | set(cumsum) | {
        c
        for out in cumsum
        for c in (f"_gr_off_{out}", f"_gr_ps_{out}", f"_gr_pn_{out}")
    }
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"global_rank: input columns {sorted(clash)} collide with "
            f"reserved scratch/rank names — rename them or pass a "
            f"different rank_col"
        )
    srt = (
        df.repartitionByRange(*order)
        .withColumn("_gr_pid", F.spark_partition_id())
        # lazy: the offset pass persists it, one blocking job not two (r8)
        .transform(materialize, eager=False)
    )
    aggs = [F.count(F.lit(1)).alias("_gr_c")]
    for out, src in cumsum.items():
        aggs.append(F.sum(src).alias(f"_gr_s_{out}"))
        # non-null count per partition: needed to reproduce the global
        # window's NULL semantics (running sum is NULL until the first
        # non-null value ANYWHERE, then carries through later NULL runs)
        aggs.append(F.count(F.col(src)).alias(f"_gr_n_{out}"))
    per_pid = srt.groupBy("_gr_pid").agg(*aggs)
    sum_types = {
        out: per_pid.schema[f"_gr_s_{out}"].dataType.simpleString() for out in cumsum
    }
    rows = sorted(per_pid.collect(), key=lambda r: r["_gr_pid"])
    data, racc = [], 0
    vacc = {out: 0 for out in cumsum}
    nacc = {out: 0 for out in cumsum}  # non-nulls in PRIOR partitions
    for r in rows:
        data.append(
            (
                r["_gr_pid"],
                racc,
                *[x for out in cumsum for x in (str(vacc[out]), nacc[out])],
            )
        )
        racc += r["_gr_c"]
        for out in cumsum:
            vacc[out] = vacc[out] + (r[f"_gr_s_{out}"] or 0)
            nacc[out] = nacc[out] + r[f"_gr_n_{out}"]
    schema = "_gr_pid int, _gr_roff long" + "".join(
        f", _gr_off_{out} string, _gr_pn_{out} long" for out in cumsum
    )
    off = spark.createDataFrame(
        data or [(0, 0, *[x for _ in cumsum for x in ("0", 0)])], schema
    )
    wp = W.partitionBy("_gr_pid").orderBy(*order)
    wrun = wp.rowsBetween(W.unboundedPreceding, W.currentRow)
    out_df = srt.withColumn("_gr_rn", F.row_number().over(wp))
    for out, src in cumsum.items():
        out_df = out_df.withColumn(f"_gr_ps_{out}", F.sum(src).over(wrun))
    out_df = out_df.join(F.broadcast(off), "_gr_pid").withColumn(
        rank_col, (F.col("_gr_roff") + F.col("_gr_rn")).cast("long")
    )
    for out in cumsum:
        # NULL semantics match the global window exactly: the prefix sum
        # is NULL on rows before this partition's first non-null value;
        # there the running total is the prior partitions' total — unless
        # NO prior partition held a non-null either, in which case the
        # global running sum is still NULL
        off_val = F.col(f"_gr_off_{out}").cast(sum_types[out])
        out_df = out_df.withColumn(
            out,
            F.when(
                F.col(f"_gr_ps_{out}").isNotNull(), off_val + F.col(f"_gr_ps_{out}")
            ).when(F.col(f"_gr_pn_{out}") > 0, off_val),
        )
    drop = ["_gr_pid", "_gr_roff", "_gr_rn"] + [
        c
        for out in cumsum
        for c in (f"_gr_off_{out}", f"_gr_ps_{out}", f"_gr_pn_{out}")
    ]
    return out_df.drop(*drop), racc, vacc


def ntile_from_rank(rank_name: str, n: int, q: int) -> Column:
    """NTILE(q) bucket from an exact 1-based global rank column when the
    row count ``n`` is known driver-side (global_rank returns it): the
    first n mod q buckets get ceil(n/q) rows — byte-identical to the
    window function, computed in exact integer division, without the
    single-task window."""
    base, rem = divmod(n, q)
    head = rem * (base + 1)
    return F.expr(
        f"CASE WHEN {rank_name} <= {head}"
        f" THEN ({rank_name} - 1) div {base + 1} + 1"
        f" ELSE {rem} + ({rank_name} - {head} - 1) div {max(base, 1)} + 1 END"
    )
