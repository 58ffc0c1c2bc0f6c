"""Streaming writes into catalog datasets — foreachBatch with
epoch-idempotent layout.

The file/memory sinks cover tests; real pipelines need streams landing
in the SAME catalog datasets batch pipelines read. ``stream_to_dataset``
bridges: every micro-batch is written through the bound catalog's
serial into an ``epoch=<id>`` subdirectory — re-delivered epochs
overwrite their own directory and nothing else, giving exactly-once
output for an at-least-once engine (the standard foreachBatch
idempotence pattern). Readers see one dataset (the epoch column is
partition metadata).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from porcupine_spark.catalog import BoundCatalog


def stream_to_dataset(
    stream: DataFrame,
    bound: BoundCatalog,
    name: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """Start (and for trigger_once: drain) a stream into dataset
    ``name``. Returns the StreamingQuery (stopped if trigger_once)."""
    ds = bound.catalog[name]
    locs = bound.locations(name)
    if locs is None:
        raise ValueError(f"{name!r} is unmapped; streaming sink needs a location")

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        for loc in locs:
            # overwrite is scoped to this epoch's directory
            ds.serials.for_ext(loc.ext).write(batch_df, f"{loc.path}/epoch={epoch_id}")

    writer = stream.writeStream.foreachBatch(write_epoch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def stream_upsert_to_dataset(
    stream: DataFrame,
    bound: BoundCatalog,
    name: str,
    checkpoint_dir: str,
    key: str,
    order_col: str,
):
    """CDC-style keyed sink: instead of appending epochs, maintain the
    LATEST-state table under the dataset's location — every micro-batch
    is reduced to one row per key (max ``order_col`` wins, deterministic)
    and merged over the current table (updates replace, inserts append).

    Idempotence under at-least-once delivery: the merge is a pure
    function of (current table, batch rows) and latest-wins is
    deterministic, so a re-delivered epoch converges to the same table.
    The swap is write-new-then-rename (the object-store-safe pattern:
    on S3 this is the same layout a Delta/Iceberg commit makes atomic
    via its log; reference writeDataStream appends — this is its
    keyed-state counterpart).

    At scale: the per-batch merge is an anti-join on the key — broadcast
    when the batch is small (the common CDC case, AQE demotes to
    broadcast automatically), and the state table is rewritten only
    where touched if the layout is partitioned by key range.
    """
    from pyspark.sql import Window as W

    ds = bound.catalog[name]
    locs = bound.locations(name)
    if locs is None:
        raise ValueError(f"{name!r} is unmapped; streaming sink needs a location")
    loc = locs[0]
    serial = ds.serials.for_ext(loc.ext)

    def upsert_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        # one row per key: latest order_col, ties broken by row content
        # hash for determinism
        w = W.partitionBy(key).orderBy(
            F.desc(order_col), F.desc(F.xxhash64(*batch_df.columns))
        )
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        from porcupine_spark.operators.upsert import merge_upsert

        jvm_path = loc.path
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        jvm = spark.sparkContext._jvm
        dst = jvm.org.apache.hadoop.fs.Path(jvm_path)
        fs = dst.getFileSystem(hconf)
        if fs.exists(dst):
            # read back through the serial, so its post_read undoes the
            # pre_write its write applied
            merged = merge_upsert(serial.read(spark, jvm_path, ds.schema), latest, key)
        else:
            merged = latest
        tmp = f"{jvm_path}__epoch{epoch_id}_tmp"
        serial.write(merged, tmp)
        # swap via Hadoop FS (works for file:// and hdfs://; on object
        # stores pair with a manifest/log commit instead)
        src = jvm.org.apache.hadoop.fs.Path(tmp)
        if fs.exists(dst):
            fs.delete(dst, True)
        fs.rename(src, dst)

    writer = (
        stream.writeStream.foreachBatch(upsert_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    q = writer.start()
    q.awaitTermination()
    return q
