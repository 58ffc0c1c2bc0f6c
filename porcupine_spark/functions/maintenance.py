"""Table-layout maintenance: small-file diagnosis and compaction.

The 100 TB operational reality the query layer sits on: a dataset
written by many tasks/microbatches accumulates small files, and scan
cost degrades (per-file open/footer overhead, tiny row groups, starved
vectorized readers). These helpers diagnose the layout from file
metadata (driver-side Hadoop FS listing — metadata only, never data)
and rewrite only the partitions that need it.

Reference parity note: the reference's storage layer exposes folder
operations but no layout maintenance (it is whole-file oriented —
porcupine-core/src/Data/Locations/Accessors.hs:82-117); this module is
part of the beyond-reference Spark surface, like sources/s3.py's
folder ops which share the same Hadoop FS route.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from porcupine_spark.serials import parquet_serial

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024  # match files.maxPartitionBytes


@dataclass
class PartitionLayout:
    """File-layout stats for one partition directory (or the root)."""

    path: str
    n_files: int
    total_bytes: int

    @property
    def avg_bytes(self) -> float:
        return self.total_bytes / self.n_files if self.n_files else 0.0


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def scan_layout(spark: SparkSession, path: str) -> list[PartitionLayout]:
    """Per-partition-directory file stats for a parquet dataset.

    Driver-side METADATA listing via the Hadoop FileSystem API (works
    on file:// and s3a:// alike); on object stores a flat recursive
    list is one LIST call per 1000 objects — cheap next to any scan.
    Non-partitioned datasets return a single entry for the root.
    """
    fs, root, jvm = _fs_and_path(spark, path)
    per_dir: dict[str, list[int]] = {}
    it = fs.listFiles(root, True)  # recursive
    while it.hasNext():
        st = it.next()
        p = st.getPath()
        name = p.getName()
        if not name.endswith(".parquet"):
            continue
        # full URI string, scheme and authority included — paths must
        # round-trip to reads/writes on s3a:// etc., not just file://
        parent_path = p.getParent()
        # skip hidden dirs (Spark's file index ignores _/.-prefixed
        # names — so do we: staging dirs, _temporary, etc.)
        if any(
            seg.startswith(("_", "."))
            for seg in parent_path.toUri().getPath().split("/")
            if seg
        ):
            continue
        parent = parent_path.toString()
        per_dir.setdefault(parent, []).append(st.getLen())
    return [
        PartitionLayout(path=d, n_files=len(sizes), total_bytes=sum(sizes))
        for d, sizes in sorted(per_dir.items())
    ]


def compaction_plan(
    layouts: list[PartitionLayout],
    target_bytes: int = DEFAULT_TARGET_BYTES,
    min_files: int = 2,
) -> list[tuple[PartitionLayout, int]]:
    """Partitions worth rewriting, with their target output file count.

    A partition needs compaction when it holds >= ``min_files`` files
    AND its average file size is under half the target — the regime
    where footer/open overhead and tiny row groups dominate. The
    rewrite target is ceil(total/target) files (never 0).
    """
    plan = []
    for lay in layouts:
        if lay.n_files >= min_files and lay.avg_bytes < target_bytes / 2:
            n_out = max(1, -(-lay.total_bytes // target_bytes))
            plan.append((lay, n_out))
    return plan


def _sibling_hidden(src_dir: str, suffix: str) -> str:
    """A '_'-prefixed sibling of ``src_dir`` — hidden from Spark's file
    index AND from scan_layout, so in-flight staging/aside dirs never
    pollute partition discovery for concurrent readers."""
    trimmed = src_dir.rstrip("/")
    head, _, leaf = trimmed.rpartition("/")
    return f"{head}/_{leaf}{suffix}"


def compact_partition(spark: SparkSession, src_dir: str, n_out: int) -> str:
    """Rewrite one partition directory into ``n_out`` files.

    Stage-and-swap, crash-safe ordering: write to a HIDDEN sibling
    staging dir ('_'-prefixed — Spark's partition discovery and
    scan_layout both ignore it, so concurrent readers never see
    doubled or misparsed partitions), rename the original ASIDE (also
    hidden, not deleted), rename staging into place, then drop the
    aside copy — at no instant is the data absent, and a crash
    mid-swap leaves the data under exactly one of the three names,
    every one recoverable (a leftover aside from a crash between the
    two renames is swapped back in on the next run). Renames are
    atomic on HDFS/file; on object stores the swap is copy+delete and
    readers should go through a manifest/table format for full
    isolation — documented limitation, same one plain parquet tables
    always have. Returns the final dir.

    The rewrite itself is a distributed job: one scan, coalesce(n_out)
    — coalesce, not repartition, so compaction never shuffles; it only
    merges co-located splits.
    """
    staging = _sibling_hidden(src_dir, "__compact")
    fs, src, jvm = _fs_and_path(spark, src_dir)
    aside = jvm.org.apache.hadoop.fs.Path(_sibling_hidden(src_dir, "__old"))
    if not fs.exists(src) and fs.exists(aside):
        # crashed between the two renames last run: data lives only in
        # the aside dir — restore it before doing anything else
        if not fs.rename(aside, src):
            raise IOError(f"compact: failed to restore {aside} -> {src}")
    df = parquet_serial().read(spark, src_dir)
    parquet_serial().write(df.coalesce(n_out), staging)
    dst = jvm.org.apache.hadoop.fs.Path(staging)
    if fs.exists(aside):  # stale aside from an even earlier crash
        fs.delete(aside, True)
    # Hadoop rename() signals failure by RETURNING FALSE, not raising —
    # every step below checks it, because proceeding past a failed
    # rename is how the swap could destroy the only visible copy: if
    # rename(staging -> src) failed after rename(src -> aside)
    # succeeded, an unconditional delete(aside) would drop the data's
    # only copy at the visible path. On failure we abort with the aside
    # intact (next run's recovery guard restores it).
    if not fs.rename(src, aside):
        raise IOError(f"compact: failed to move {src} aside; nothing changed")
    if not fs.rename(dst, src):
        if not fs.rename(aside, src):  # roll back; else recovery guard
            raise IOError(
                f"compact: staging swap AND rollback failed; data is intact "
                f"under {aside} and will be restored on the next run"
            )
        raise IOError(f"compact: failed to swap {dst} -> {src}; rolled back")
    # only now is it safe to drop the aside copy: verify the visible
    # path exists and holds the staged files before deleting
    if not fs.exists(src):
        raise IOError(f"compact: {src} missing after swap; aside kept at {aside}")
    fs.delete(aside, True)
    return src_dir


def compact_dataset(
    spark: SparkSession,
    path: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    min_files: int = 2,
) -> list[str]:
    """Diagnose + compact every needy partition of ``path``; returns
    the rewritten directories."""
    done = []
    for lay, n_out in compaction_plan(scan_layout(spark, path), target_bytes, min_files):
        done.append(compact_partition(spark, lay.path, n_out))
    return done


def layout_report(spark: SparkSession, path: str) -> DataFrame:
    """The layout stats as a DataFrame (for dashboards / thresholds)."""
    lays = scan_layout(spark, path)
    return spark.createDataFrame(
        [(l.path, l.n_files, l.total_bytes, l.avg_bytes) for l in lays],
        "path string, n_files long, total_bytes long, avg_bytes double",
    )
