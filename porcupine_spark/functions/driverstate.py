"""Small driver-loop state runs on the driver.

The iterative operators (connected components, k-core, PageRank, BPE)
loop on the driver, and each distributed round costs a join, an
aggregate and a blocking job of fixed overhead. When the loop's input
state is small, none of that is needed: the state is iterated exactly
on the driver and handed back with ``createDataFrame``.

Where the state derives from a test table, it is derived on the driver
too, from the table's own parquet files and with no Spark job:

- ``collect_small_table`` decides from the rows stored in the table's
  parquet footers, then reads the base columns straight from its files
  (``Serial.local_columns``); k-core and PageRank derive their edges
  from them in numpy.
- ``local_batches`` hands a caller the same direct read batch by batch,
  so a derivation whose size the footers cannot bound (the shingles of
  ``dedup_clusters``, the BPE word counts) checks its gate exactly as it
  reads and stops as soon as the state passes it.

Where the direct read is unavailable (a remote or partitioned table,
read options, a post-read transform, a timestamp column), the state is
derived in Spark and ``checkpoint_sized`` checkpoints it once, sized by
an ``Observation`` riding that same job, and collects it through Arrow
when it is within the gate. Above the gate the caller keeps the
checkpoint and runs its distributed loop unchanged.

The gate is compared with the observed (or stored, or counted) size,
never set by a conf or env var, so a query's plan depends only on its
input. A gate of 0 disables the driver path entirely (tests use it to
force the distributed loop, empty inputs included).

``materialize`` is the package's one way to keep an intermediate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# Driver-loop state rows (edges for the graph loops) up to which the
# loop runs on the driver. Edge lists of this size are a few tens of MB
# in Arrow and numpy; each distributed round costs more in fixed job
# overhead than a driver pass over them.
DRIVER_STATE_MAX_ROWS = 2_000_000


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df`` as a local checkpoint, the one way this package keeps an
    intermediate (chain it: ``.transform(materialize)``). The lineage
    is truncated. The blocks are unreplicated: a lost block fails the
    job instead of recomputing it. The hash partitioning is dropped, so
    a ``repartition`` before the checkpoint buys nothing
    (``test_checkpoint_drops_hash_partitioning``). ``eager=True`` runs
    one job at call time; under AQE, ``eager=False`` still runs the
    upstream shuffle stages at definition. The blocks are freed only
    when the refs die and the ContextCleaner runs
    (``metrics.drop_session_residue``)."""
    return df.localCheckpoint(eager=eager)


def checkpoint_sized(df: DataFrame, max_rows: int | None = None, size=None):
    """Checkpoint ``df`` once (eager) with its size observed on the same
    job. ``size`` is an aggregate ``Column`` giving that size (a row
    count by default; an empty input's NULL aggregate reads as 0).
    Returns ``(checkpointed, size, table)``: ``table`` is the
    checkpoint's rows as a ``pyarrow.Table`` when ``0 < max_rows`` and
    ``size <= max_rows``, else None. ``max_rows=None`` reads
    ``DRIVER_STATE_MAX_ROWS`` at call time."""
    if max_rows is None:
        max_rows = DRIVER_STATE_MAX_ROWS
    if size is None:
        size = F.count(F.lit(1))
    obs = Observation()
    ck = materialize(df.observe(obs, size.alias("size")))
    n = obs.get["size"] or 0
    if max_rows <= 0 or n > max_rows:
        return ck, n, None
    return ck, n, ck.toArrow()


def local_batches(spark, sf_dir: str, name: str, cols, max_rows: int | None = None):
    """Columns ``cols`` of test table ``name`` read on the driver straight
    from its parquet files, as a ``pyarrow.RecordBatchReader``; None
    when the gate ``max_rows`` is 0 or only a Spark read can give them.
    No Spark job either way. ``max_rows=None`` reads
    ``DRIVER_STATE_MAX_ROWS`` at call time."""
    from porcupine_spark.tables import local_columns

    if max_rows is None:
        max_rows = DRIVER_STATE_MAX_ROWS
    return local_columns(spark, sf_dir, name, cols) if max_rows > 0 else None


def collect_small_table(spark, sf_dir: str, name: str, cols, max_rows: int | None = None):
    """Columns ``cols`` of test table ``name`` as a ``pyarrow.Table``
    when its stored rows are known and at most ``max_rows``, else None,
    decided before any Spark job. The columns are read straight from
    the files (``local_batches``), or in one Arrow collect where that
    read is unavailable. ``max_rows=None`` reads
    ``DRIVER_STATE_MAX_ROWS`` at call time."""
    from porcupine_spark.tables import load_table, stored_rows

    if max_rows is None:
        max_rows = DRIVER_STATE_MAX_ROWS
    n = stored_rows(sf_dir, name) if max_rows > 0 else None
    if n is None or n > max_rows:
        return None
    reader = local_batches(spark, sf_dir, name, cols, max_rows)
    if reader is not None:
        return reader.read_all()
    return load_table(spark, sf_dir, name, widen=False).select(*cols).toArrow()


def dense_ids(a, b):
    """Node ids of two numpy endpoint arrays as dense indices: returns
    ``(ids, ia, ib)`` with ``ids`` the sorted distinct ids of ``a`` and
    ``b`` and ``ia``/``ib`` each edge's endpoint positions in ``ids``."""
    import numpy as np

    ids, idx = np.unique(np.concatenate([a, b]), return_inverse=True)
    return ids, idx[: len(a)], idx[len(a) :]


def dense_nodes(edges, a: str, b: str):
    """``dense_ids`` of columns ``a`` and ``b`` of an Arrow edge table."""
    return dense_ids(
        edges.column(a).to_numpy(zero_copy_only=False),
        edges.column(b).to_numpy(zero_copy_only=False),
    )
