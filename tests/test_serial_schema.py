"""The serial layer's schema memo and the one-wave listing policy."""

import os
import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, IntegerType, StringType

from porcupine_spark import serials
from porcupine_spark.cache import CacheStore
from porcupine_spark.serials import LRUMemo, parquet_serial, source_stamp
from porcupine_spark.session import LISTING_PARALLELISM

# above Spark's 32-path threshold, so reading the layout back lists its
# directories in a Spark job
N_DIRS = 48
LISTING = "Listing leaf files and directories"


@pytest.fixture
def layout(spark, tmp_path):
    """A partitioned parquet layout: one ``idx=`` directory per value."""
    path = str(tmp_path / "raw")
    spark.range(N_DIRS * 2).select(
        (F.col("id") % N_DIRS).cast("int").alias("idx"),
        F.col("id").alias("v"),
        F.col("id").cast("string").alias("s"),
    ).write.partitionBy("idx").parquet(path)
    return path


def test_memo_hit_on_partitioned_layout_runs_only_the_listing_job(
    spark, layout, jobs_so_far, jobs_since
):
    parquet_serial().read(spark, layout)  # miss: listing + inference
    j0 = jobs_so_far()
    parquet_serial().read(spark, layout)
    jobs = jobs_since(j0)
    assert len(jobs) == 1
    assert jobs[0][0].startswith(LISTING)


def test_memo_schema_equals_a_fresh_inferring_read(spark, layout):
    parquet_serial().read(spark, layout)
    hit = parquet_serial().read(spark, layout)
    fresh = spark.read.parquet(layout)
    assert hit.schema == fresh.schema
    assert hit.schema["idx"].dataType == IntegerType()
    assert sorted(hit.collect()) == sorted(fresh.collect())


def test_added_file_changes_stamp_and_schema(spark, layout):
    before = source_stamp(layout)
    assert parquet_serial().read(spark, layout).schema["idx"].dataType == IntegerType()
    extra = os.path.join(layout, "idx=extra")
    os.makedirs(extra)
    pq.write_table(
        pa.table({"v": pa.array([1], pa.int64()), "s": ["x"]}),
        os.path.join(extra, "part-extra.parquet"),
    )
    assert source_stamp(layout) != before
    df = parquet_serial().read(spark, layout)
    assert df.schema["idx"].dataType == StringType()
    assert df.schema == spark.read.parquet(layout).schema
    assert df.count() == N_DIRS * 2 + 1


def test_binary_as_string_conf_keys_its_own_entry(spark, tmp_path):
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"ab"], pa.binary())}), path)
    conf = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        assert parquet_serial().read(spark, path).schema["b"].dataType == BinaryType()
        spark.conf.set(conf, "true")
        df = parquet_serial().read(spark, path)
        assert df.schema["b"].dataType == StringType()
        assert df.collect()[0].b == "ab"
    finally:
        spark.conf.set(conf, old)


def test_cache_store_rerun_hit_plans_with_no_job(spark, tmp_path, jobs_so_far):
    store = CacheStore(spark, str(tmp_path / "cache"))
    compute = lambda: spark.range(10).withColumn("sq", F.col("id") * F.col("id"))  # noqa: E731
    store.cached("squares", {"n": 10}, ["in"], compute)  # miss: write + read-back
    j0 = jobs_so_far()
    hit = store.cached("squares", {"n": 10}, ["in"], compute)
    assert jobs_so_far() == j0
    assert (store.hits, store.misses) == (1, 1)
    assert sorted(r.sq for r in hit.collect()) == [i * i for i in range(10)]


def test_listing_job_runs_one_wave_of_tasks(spark, layout, jobs_so_far, jobs_since):
    slots = spark.sparkContext.defaultParallelism
    assert spark.conf.get(LISTING_PARALLELISM) == str(slots)
    j0 = jobs_so_far()
    parquet_serial().read(spark, layout)
    listing = [tasks for desc, tasks in jobs_since(j0) if desc.startswith(LISTING)]
    assert listing
    assert all(tasks <= min(slots, N_DIRS) for tasks in listing)


def test_memo_stays_at_its_bound(spark, tmp_path, monkeypatch, jobs_so_far):
    assert serials._SCHEMA_MEMO.size == serials.SCHEMA_MEMO_SIZE
    monkeypatch.setattr(serials._SCHEMA_MEMO, "size", 2)
    paths = []
    for i in range(4):
        paths.append(str(tmp_path / f"t{i}.parquet"))
        pq.write_table(pa.table({f"c{i}": [i]}), paths[-1])
        parquet_serial().read(spark, paths[-1])
        assert len(serials._SCHEMA_MEMO) <= 2
    j0 = jobs_so_far()
    assert parquet_serial().read(spark, paths[-1]).columns == ["c3"]
    assert jobs_so_far() == j0  # the newest entry is kept


def test_lru_memo_evicts_least_recently_used():
    memo = LRUMemo(2)
    memo.put("a", 1)
    memo.put("b", 2)
    assert memo.get("a") == 1
    memo.put("c", 3)
    assert (memo.get("a"), memo.get("b"), memo.get("c")) == (1, None, 3)
    assert len(memo) == 2


def test_lru_memo_under_concurrent_threads():
    memo = LRUMemo(4)
    errors = []

    def churn(seed: int) -> None:
        try:
            for i in range(20_000):
                key = (seed * 7 + i) % 16
                if memo.get(key) is None:
                    memo.put(key, key)
        except Exception as e:  # noqa: BLE001 — reported by the assert below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=churn, args=(t,)) for t in range(4 * os.cpu_count())]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert len(memo) <= 4


def test_unstatable_path_is_not_memoized(spark, tmp_path):
    pq.write_table(pa.table({"x": [1]}), str(tmp_path / "a.parquet"))
    glob = str(tmp_path / "*.parquet")
    assert source_stamp(glob) is None
    assert parquet_serial().read(spark, glob).columns == ["x"]
    assert all(key[2] != glob for key in serials._SCHEMA_MEMO._entries)
