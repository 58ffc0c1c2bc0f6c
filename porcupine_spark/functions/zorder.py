"""Z-order (Morton) interleaving for multi-column data skipping.

``write_sorted`` (bucketing.py) gives one-dimensional file pruning:
sort by a single hot column and parquet min/max footers slice it. When
TWO columns are hot (e.g. user_id x day), a lexicographic sort prunes
only the leading column; Z-ORDERING interleaves the bits of both so
files become tiles in 2-D value space — a filter on EITHER column
skips most files (the Delta OPTIMIZE ZORDER / Hudi clustering idea,
built here from plain bit arithmetic — JVM-side, codegen-friendly,
no UDF).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from porcupine_spark.serials import parquet_serial


def z_interleave(a: Column, b: Column, bits: int = 16) -> Column:
    """Morton code of two non-negative ints using their low ``bits``
    bits: result bit 2i is a's bit i, bit 2i+1 is b's bit i. Built as
    a chain of shift/and/or expressions (2*bits ops, whole-stage
    codegen'd)."""
    a = a.cast("long")
    b = b.cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z.bitwiseOR(F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i))
            .bitwiseOR(F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1))
        )
    return z


def write_zordered(
    df: DataFrame, path: str, col_a: str, col_b: str, n_files: int = 8, bits: int = 16
) -> None:
    """Range-partition + sort by the Morton code of (col_a, col_b) and
    write parquet: each output file covers a compact tile of the 2-D
    key space, so footer min/max stats on BOTH columns prune files.
    One range shuffle at write time buys two-column slice reads after —
    same contract as bucketing.write_sorted, one dimension up."""
    z = z_interleave(F.col(col_a), F.col(col_b), bits).alias("_z")
    parquet_serial().write(
        df.withColumn("_z", z).repartitionByRange(n_files, "_z").sortWithinPartitions("_z").drop("_z"),
        path,
    )
