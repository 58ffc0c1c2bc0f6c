"""Spark jobs per call of a small porcupine pipeline, cold then rerun:

    Catalog.bind -> load(records) -> write_partitioned(raw, idx)
      -> load_partitioned(raw, idx) -> run_fold_grouped(idx)
      -> CacheStore.cached -> BoundCatalog.write(stats) as JSON

Once the serial schema memo has seen a dataset, reading it plans
without a schema-inference job, so a read that adds one fails here.
"""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from porcupine_spark.cache import CacheStore
from porcupine_spark.catalog import Catalog, Dataset
from porcupine_spark.folds import Fold, run_fold_grouped
from porcupine_spark.serials import SerialSet, json_serial
from porcupine_spark.task import RunCtx, load
from porcupine_spark.task_ext import load_partitioned, write_partitioned

# above Spark's 32-path threshold: reading the layout back lists its
# directories in a Spark job
N_IDX = 48
N_ROWS = 480


def _write_records(path: str) -> None:
    os.makedirs(path)
    rows = np.arange(N_ROWS)
    pq.write_table(
        pa.table(
            {
                "idx": pa.array((rows % N_IDX).astype(np.int32)),
                "qty": pa.array(rows.astype(np.int64)),
            }
        ),
        os.path.join(path, "part-0.parquet"),
    )


def _run_op(spark, root: str, records: str, jobs_so_far) -> dict[str, int]:
    """One cold run and one rerun; jobs per call, by call."""
    jobs = {}

    def counted(name, call):
        j0 = jobs_so_far()
        out = call()
        jobs[name] = jobs_so_far() - j0
        return out

    catalog = Catalog(
        [
            Dataset.source("input/records"),
            Dataset("work/raw"),
            Dataset.sink("output/stats", SerialSet(json_serial())),
        ]
    )
    bound = catalog.bind(os.path.join(root, "tree"), {"input/records": records})
    ctx = RunCtx(spark, bound)
    store = CacheStore(spark, os.path.join(root, "cache"))
    fold = Fold.length("n") & Fold.sum_("qty", "qty_sum")
    recs = counted("load", lambda: load("input/records").run(ctx, None))
    write_partitioned("work/raw", "idx").run(ctx, recs)
    locations = [loc.path for loc in bound.locations("work/raw")]
    for phase in ("cold", "rerun"):
        raw = counted(
            f"{phase}.load_partitioned",
            lambda: load_partitioned("work/raw", "idx").run(ctx, None),
        )
        folded = run_fold_grouped(raw, ["idx"], fold)
        stats = counted(
            f"{phase}.cached",
            lambda: store.cached("idx_stats", {"fold": "n,qty_sum"}, locations, lambda: folded),
        )
        (out,) = bound.write(stats, "output/stats")
    assert (store.hits, store.misses) == (1, 1)
    got = {}
    for part in sorted(os.listdir(out)):
        if part.startswith("part-"):
            with open(os.path.join(out, part)) as fh:
                for line in fh:
                    rec = json.loads(line)
                    got[rec["idx"]] = (rec["n"], rec["qty_sum"])
    assert got == {
        i: (N_ROWS // N_IDX, int(np.arange(i, N_ROWS, N_IDX).sum())) for i in range(N_IDX)
    }
    return jobs


def test_pipeline_job_counts(spark, tmp_path, jobs_so_far):
    records = str(tmp_path / "records")
    _write_records(records)
    first = _run_op(spark, str(tmp_path / "run1"), records, jobs_so_far)
    second = _run_op(spark, str(tmp_path / "run2"), records, jobs_so_far)
    assert second["load"] == 0  # the memo is warm
    for jobs in (first, second):
        # cold: the listing job plus one inference job for the new layout
        assert jobs["cold.load_partitioned"] <= 2
        assert jobs["rerun.load_partitioned"] == 1  # the listing job only
        assert jobs["rerun.cached"] == 0
