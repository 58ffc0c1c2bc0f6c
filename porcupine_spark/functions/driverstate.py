"""Small driver-loop state runs on the driver.

The iterative operators (connected components, k-core, PageRank, BPE)
loop on the driver, and each distributed round costs a join, an
aggregate and a blocking job of fixed overhead. When the loop's input
state is small, none of that is needed: the state is checkpointed
once, sized by an ``Observation`` riding that same job, collected
through Arrow, iterated exactly on the driver, and handed back with
``createDataFrame``. Above the gate the caller keeps the checkpoint and
runs its distributed loop unchanged.

A loop whose state derives from small base tables goes one step
further: ``collect_small_table`` decides from the rows stored in the
table's parquet footers, before any Spark job, and collects the base
columns through Arrow, so the caller derives the state in numpy with
no shuffle at all.

The gate is compared with the observed (or stored) row count, never
set by a conf or env var, so a query's plan depends only on its input.
A gate of 0 disables the driver path entirely (tests use it to force
the distributed loop, empty inputs included).

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


def collect_small_table(spark, sf_dir: str, name: str, cols, max_rows: int | None = None):
    """Columns ``cols`` of test table ``name`` as a ``pyarrow.Table``
    (one Arrow collect) when its stored rows are known and at most
    ``max_rows``, else None, decided before any Spark job.
    ``max_rows=None`` reads ``DRIVER_STATE_MAX_ROWS`` at call time."""
    from porcupine_spark.tables import load_table, stored_rows

    if max_rows is None:
        max_rows = DRIVER_STATE_MAX_ROWS
    n = stored_rows(sf_dir, name) if max_rows > 0 else None
    if n is None or n > max_rows:
        return None
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
