"""StatusReader against a live local session (starts a Spark JVM), and
the process-tree CPU clock."""

import os
import subprocess
import sys
import time

import pytest

from perfbench.sparkstats import StatusReader, tree_cpu_seconds


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = SparkSession.builder.master("local[1]").appName("perfbench-test").getOrCreate()
    yield s
    s.stop()


def test_jobs_since_lists_jobs_of_every_job_group(spark):
    sc = spark.sparkContext
    spark.range(10).count()  # before the reader: never returned
    reader = StatusReader(spark)
    spark.range(10).count()
    sc.setJobGroup("perfbench-group", "a grouped job")
    try:
        spark.range(10).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = reader.jobs_since()
    assert len(jobs) == 2
    assert all(j["end"] >= j["start"] and j["numCompleteTasks"] >= 1 for j in jobs)
    assert reader.jobs_since() == []
    spark.range(10).count()
    assert len(reader.jobs_since()) == 1


def test_tree_cpu_seconds_counts_running_and_finished_children():
    busy = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\n"
    before, own_before = tree_cpu_seconds(os.getpid()), time.process_time()
    child = subprocess.Popen([sys.executable, "-c", busy + "input()"], stdin=subprocess.PIPE)
    try:
        deadline = time.monotonic() + 30
        while tree_cpu_seconds(child.pid) < 0.5 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert child.poll() is None  # counted while it runs
        assert tree_cpu_seconds(child.pid) >= 0.5
    finally:
        child.communicate(b"\n")
    # counted through this process once it has exited and been waited for
    own = time.process_time() - own_before
    assert tree_cpu_seconds(os.getpid()) - before - own >= 0.5
