"""Data-parallel repetition (SURVEY.md §2.7).

The reference's ``parMapTask`` (System/TaskPipeline/Repetition.hs:61-79)
repeats a task over an index collection in parallel, splicing the index
into every resource path the task touches
(Repetition/Internal.hs:102-131). In Spark the index collection IS a
DataFrame column and the parallelism is the cluster's: a repeated task
body that is SQL-expressible compiles to plain keyed DataFrame ops; an
opaque body is ``folds.pandas_fold`` keyed on the index column (one
``groupBy(idx).applyInPandas``).

Also here: the ``IndexRange`` config syntax ``"a..b"`` /
``"[a..b, c, d..e]"`` (Repetition.hs:114-181) kept verbatim.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

_RANGE_RE = re.compile(r"^\s*(-?\d+)\s*\.\.\s*(-?\d+)\s*$")


def parse_index_range(spec: str | int | Sequence) -> list[int]:
    """Parse the reference's IndexRange syntax: ``5``, ``"0..10"``, or a
    list mixing both, e.g. ``"[0..10,50..60]"`` (Repetition.hs:114-181;
    the `OneOrSeveral` JSON form). Returns the expanded index list."""
    if isinstance(spec, int):
        return [spec]
    if isinstance(spec, str):
        s = spec.strip()
        if s.startswith("[") and s.endswith("]"):
            inner = s[1:-1].strip()
            if not inner:
                return []
            return [i for part in inner.split(",") for i in parse_index_range(part)]
        m = _RANGE_RE.match(s)
        if m:
            lo, hi = int(m.group(1)), int(m.group(2))
            return list(range(lo, hi + 1))
        return [int(s)]
    # a Python sequence of sub-specs
    return [i for part in spec for i in parse_index_range(part)]


def indices_dataframe(spark: SparkSession, indices: Sequence[int], col: str = "idx") -> DataFrame:
    """Materialize an index collection as a (tiny, broadcastable) DataFrame."""
    return spark.createDataFrame([(int(i),) for i in indices], f"{col} long")
