"""The ``pipeline_io`` op: one cold run of a small porcupine pipeline and
one rerun on unchanged inputs, through the engine's public surface.

Cold run::

    Catalog.bind -> load(records) -> write_partitioned(raw, idx)
      -> load_partitioned(raw, idx) -> run_fold_grouped(idx, FOLD)
      -> CacheStore.cached (miss: the fold runs and is checkpointed)
      -> BoundCatalog.write(stats) through a JSON serial

Rerun: the same analysis from ``load_partitioned`` on, on the unchanged
partitioned data, so ``CacheStore.cached`` serves the checkpoint.

The records are generated from the seed; the expected per-index fold
values are computed from them with numpy, independently of Spark.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# above Spark's 32-path threshold, so reading the partitioned layout
# back runs the parallel listing job it runs at scale
N_IDX = 48
N_ROWS = 20_000
TAGS = np.array([f"tag{i}" for i in range(12)])
FOLD_COLUMNS = ("n", "qty_sum", "qty_mean", "cents_min", "cents_max", "n_tags")


def make_records(seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    n_rows = N_ROWS
    note_len = rng.integers(16, 64, n_rows)
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789", dtype="S1")
    pool = letters[rng.integers(0, len(letters), int(note_len.sum()))].tobytes().decode()
    ends = np.cumsum(note_len)
    notes = [pool[e - n : e] for e, n in zip(ends, note_len)]
    return pa.table(
        {
            "idx": pa.array(rng.integers(0, N_IDX, n_rows).astype(np.int32)),
            "key": pa.array(rng.permutation(n_rows).astype(np.int64)),
            "qty": pa.array(rng.integers(1, 100, n_rows).astype(np.int64)),
            "cents": pa.array(rng.integers(0, 1_000_000, n_rows).astype(np.int64)),
            "tag": TAGS[rng.integers(0, len(TAGS), n_rows)],
            "note": notes,
        }
    )


def write_records(table: pa.Table, path: str) -> None:
    """The input: a directory holding one parquet file."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def expected_folds(table: pa.Table) -> dict[int, tuple]:
    """Per-index fold values computed with numpy, in FOLD_COLUMNS order."""
    idx = table["idx"].to_numpy()
    qty = table["qty"].to_numpy()
    cents = table["cents"].to_numpy()
    tag = table["tag"].to_numpy(zero_copy_only=False)
    out = {}
    for i in np.unique(idx):
        m = idx == i
        n = int(m.sum())
        q = int(qty[m].sum())
        out[int(i)] = (
            n,
            q,
            float(q) / n,
            int(cents[m].min()),
            int(cents[m].max()),
            len(set(tag[m])),
        )
    return out


def fold():
    from porcupine_spark.folds import Fold

    return (
        Fold.length("n")
        & Fold.sum_("qty", "qty_sum")
        & Fold.mean("qty", "qty_mean")
        & Fold.min_("cents", "cents_min")
        & Fold.max_("cents", "cents_max")
        & Fold.nub_length("tag", "n_tags")
    )


def catalog():
    from porcupine_spark.catalog import Catalog, Dataset
    from porcupine_spark.serials import SerialSet, json_serial

    return Catalog(
        [
            Dataset.source("input/records"),
            Dataset("work/raw"),
            Dataset.sink("output/stats", SerialSet(json_serial())),
        ]
    )


def read_stats(path: str) -> dict[int, tuple]:
    """The JSON-lines output written by the pipeline, keyed by idx."""
    out = {}
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part) as fh:
            for line in fh:
                rec = json.loads(line)
                out[int(rec["idx"])] = tuple(rec[c] for c in FOLD_COLUMNS)
    return out


def tree_size(root: str) -> tuple[int, int]:
    """(files, bytes) of every regular file under ``root``."""
    files = total = 0
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            files += 1
            total += os.path.getsize(os.path.join(dirpath, name))
    return files, total


@dataclass
class RecordSet:
    """One generated input: its parquet directory, payload size and the
    fold values Spark must reproduce."""

    path: str
    rows: int
    payload_bytes: int
    expected: dict[int, tuple]
