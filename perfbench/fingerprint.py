"""The timed action: row count plus an order-insensitive fingerprint
over every output column.

Each row hashes to one xxhash64 over all columns in name order, with an
``isNull`` flag before each value so a NULL cannot trade places with a
neighbouring value. Maps are hashed as their key-sorted entry arrays
(Spark refuses to hash maps directly). The 64-bit row hashes are summed
as their low and high 32-bit halves, each into a LONG: every addend is
below 2^32, so the sums cannot overflow, ANSI mode or not, for fewer
than 2^31 rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType


def _has_map(dt: DataType) -> bool:
    if isinstance(dt, MapType):
        return True
    if isinstance(dt, ArrayType):
        return _has_map(dt.elementType)
    if isinstance(dt, StructType):
        return any(_has_map(f.dataType) for f in dt.fields)
    return False


def _hashable(col: Column, dt: DataType) -> Column:
    if not _has_map(dt):
        return col
    if isinstance(dt, MapType):
        entries = F.array_sort(F.map_entries(col))
        return F.transform(
            entries,
            lambda e: F.struct(
                _hashable(e["key"], dt.keyType).alias("key"),
                _hashable(e["value"], dt.valueType).alias("value"),
            ),
        )
    if isinstance(dt, ArrayType):
        return F.transform(col, lambda x: _hashable(x, dt.elementType))
    return F.struct(*[_hashable(col[f.name], f.dataType).alias(f.name) for f in dt.fields])


def row_hash(df: DataFrame) -> Column:
    args: list[Column] = []
    for field in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f"`{field.name}`")
        args += [c.isNull(), _hashable(c, field.dataType)]
    return F.xxhash64(*args)


def fingerprint(df: DataFrame) -> tuple[int, tuple[int, int]]:
    """(rows, (low, high) hash sums) of ``df`` from one aggregate; the
    fingerprint is independent of row order and reads every column."""
    h = F.col("h")
    row = (
        df.select(row_hash(df).alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("lo"),
            F.sum(F.shiftrightunsigned(h, 32)).alias("hi"),
        )
        .collect()[0]
    )
    return int(row["n"]), (int(row["lo"] or 0), int(row["hi"] or 0))
