"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]``; the same configuration is what we
would ship to a 1000-executor cluster — AQE on (runtime re-plan +
skew-join splitting + partition coalescing), broadcast threshold set,
Arrow enabled for the few Pandas-UDF operators, UTC session timezone so
results compare bit-for-bit against the DuckDB oracle.

Listing policy. Reading a layout of more than 32 paths (a partitioned
dataset's ``idx=`` directories) lists them in a Spark job. Spark's
default listing parallelism of 10000 gives that job one task per
directory; ``one_wave_listing`` sizes it to one wave of task slots
(``defaultParallelism``) instead. The job stays distributed, only its
task count changes, and on a cluster the value comes from the
cluster's own slots. Caveat: under dynamic allocation
``defaultParallelism`` can be small at startup, before executors
arrive, which narrows the listing to those first slots; pass the conf
explicitly to ``get_spark`` there.

Local file system. Without libhadoop, Hadoop's local file system starts
a ``chmod`` process for every file and directory a write creates, and a
``readlink`` process for every FileContext rename (streaming checkpoints
and state stores). ``jvm/LocalFileSystem.java`` does both in-process:
``setPermission`` sets the nine rwx bits through java.nio, and
``getFileLinkStatus`` sends only a real symlink to Hadoop's own path.
It keeps the stock semantics: the same permission bits (a sticky or
setuid request, or a directory holding setuid/setgid, takes Hadoop's
``chmod``), the same ``.crc`` checksum files (both views are
checksummed, as Hadoop's ``LocalFileSystem`` and ``LocalFs``), and the
same link status. It is installed for ``file:`` only, as the FileSystem
(``fs.file.impl``) and as the FileContext ``AbstractFileSystem``;
``hdfs:`` and object stores are untouched. The committed ``localfs.jar``
(rebuilt by ``tools/build_jvm.py``) goes on the driver class path and
ships to executors with ``spark.jars``, appended to any value the
caller passes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # AQE: coalesce post-shuffle partitions, split skewed joins, convert
    # sort-merge to broadcast at runtime when a side turns out small.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # spark.sql.shuffle.partitions is resolved in get_spark() (not here)
    # so SPARK_GRAFT_SHUFFLE_PARTITIONS set after import still applies.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet timestamps in the test data are ns/ms; keep full fidelity.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # TIMESTAMP(NANOS) parquet columns (events.ts) read as long ns —
    # tables.load_table converts to micros (lossless: data is us-aligned).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # InferFiltersFromGenerate + predicate pushdown substitutes the
    # generator's WHOLE child expression into the inferred size()>0
    # filter, with every intermediate alias inlined. For explode over a
    # computed array (shingles: transform-of-transform with element_at)
    # that re-evaluates the token-hash array per element_at — O(n^2) per
    # row, measured 13x on the shingle explode. explode already skips
    # empty arrays; the rule buys nothing here.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
    # Python DataSources (sources/pyds.py) declare pushFilters(); the
    # capability is gated off by default — enable it so doc_id range
    # predicates reach the Python reader instead of post-scan filters.
    "spark.sql.python.filterPushdown.enabled": "true",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
    # Whole-stage codegen emits a fresh class per query stage; across a
    # large query corpus the JVM's default 240MB code cache fills, C2
    # stalls/flushes, and later queries randomly run interpreted
    # (measured: 5-20x slowdowns on whichever queries run late in a
    # long session). Size the code cache to the corpus.
    "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=1g",
    # the in-process local file system (see the module docstring)
    "spark.hadoop.fs.file.impl": "porcupine_spark.jvm.LocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "porcupine_spark.jvm.LocalFileSystem$Fs",
}

_LOCALFS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "localfs.jar")
# conf keys that carry the jar, with their list separators
_JAR_PATHS = {"spark.driver.extraClassPath": os.pathsep, "spark.jars": ","}


LISTING_PARALLELISM = "spark.sql.sources.parallelPartitionDiscovery.parallelism"
_SPARK_LISTING_DEFAULT = "10000"


def one_wave_listing(spark: SparkSession) -> None:
    """Size listing jobs to one wave of task slots, only while the conf
    is still at Spark's default (see the module docstring)."""
    if spark.conf.get(LISTING_PARALLELISM) == _SPARK_LISTING_DEFAULT:
        spark.conf.set(LISTING_PARALLELISM, str(spark.sparkContext.defaultParallelism))


def get_spark(app_name: str = "porcupine_spark", **overrides: str) -> SparkSession:
    """Build (or fetch) the session.

    ``SPARK_GRAFT_CPUS`` selects local parallelism (default ``*``).
    Keyword overrides are applied last, so tests can pin any knob;
    the listing parallelism is one wave of slots unless overridden.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    conf = dict(_DEFAULTS)
    # local[N] has no network shuffle; ~cores partitions avoids tiny-task
    # overhead. On a real cluster this is sized to executors*cores*2-3
    # and AQE coalesces down from there — set SPARK_GRAFT_SHUFFLE_PARTITIONS
    # to the cluster value; the local default stays 32 so driver benches
    # remain comparable round-over-round. Read here (not at import time)
    # so setting the env var after importing this module still works.
    conf["spark.sql.shuffle.partitions"] = os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"
    )
    conf.update({k: str(v) for k, v in overrides.items()})
    for key, sep in _JAR_PATHS.items():
        conf[key] = sep.join(filter(None, [conf.get(key), _LOCALFS_JAR]))
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if LISTING_PARALLELISM not in overrides:
        one_wave_listing(spark)
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
