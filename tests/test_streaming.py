"""Structured Streaming runs: the drain helper, the state-sized session,
the one-drain-path rule, and stream-vs-batch parity of the gates.

Every ``stream_*`` builder hands its streaming frame to
``streaming.drain.drain``, the only place in ``porcupine_spark/`` that
starts a memory sink or calls ``processAllAvailable``. A pasted copy
would be a second way to run a stream, with its own query naming and
its own (or no) cleanup when the stream fails.
"""

import ast
import os

import pytest
from pyspark.sql import functions as F

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "porcupine_spark")
DRAIN = os.path.join("streaming", "drain.py")
ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"


def _write_parquet_source(spark, path):
    import pandas as pd

    path.mkdir()
    pdf = pd.DataFrame({"x": list(range(10))}).astype("int64")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(str(path / "f1"))
    return spark.readStream.schema("x long").parquet(f"{path}/*")


def test_drain_stops_the_query_when_the_stream_fails(spark, tmp_path):
    from porcupine_spark.streaming.drain import drain

    def boom(batches):
        raise ValueError("drain-test-boom")

    stream = _write_parquet_source(spark, tmp_path / "src")
    with pytest.raises(Exception, match="drain-test-boom"):
        drain(stream.mapInPandas(boom, "x long"), "append")
    assert spark.streams.active == []


def test_drain_stops_the_query_when_the_wait_is_interrupted(spark, tmp_path, monkeypatch):
    """A failed stream terminates on its own; a wait that raises on the
    driver (an interrupt) leaves a healthy query running unless drain
    stops it."""
    from pyspark.sql.streaming.query import StreamingQuery

    from porcupine_spark.streaming.drain import drain

    def interrupted(self):
        raise KeyboardInterrupt

    monkeypatch.setattr(StreamingQuery, "processAllAvailable", interrupted)
    stream = _write_parquet_source(spark, tmp_path / "src")
    with pytest.raises(KeyboardInterrupt):
        drain(stream, "append")
    assert spark.streams.active == []


def test_state_sized_session_follows_runtime_provider_conf(spark, sf_dir):
    """A provider set on the parent at runtime (``spark.conf.set``,
    which ``newSession`` does not inherit) reaches the clone and leaves
    results identical; once unset, the clone is back on the default."""
    from porcupine_spark.plans.registry import load_all_plans
    from porcupine_spark.streaming.drain import STATE_STORE_PROVIDER, state_sized_session

    builder = load_all_plans()["stream_tumbling_agg"].builder
    baseline = {tuple(r) for r in builder(spark, sf_dir).collect()}
    spark.conf.set(STATE_STORE_PROVIDER, ROCKSDB)
    try:
        ns = state_sized_session(spark)
        assert ns.conf.get(STATE_STORE_PROVIDER) == ROCKSDB
        assert {tuple(r) for r in builder(spark, sf_dir).collect()} == baseline
    finally:
        spark.conf.unset(STATE_STORE_PROVIDER)
    assert "RocksDB" not in state_sized_session(spark).conf.get(STATE_STORE_PROVIDER)


def _drain_steps(tree: ast.AST):
    """Line of every memory-sink ``.format("memory")``, every
    ``.processAllAvailable(...)`` call and every ``_state_sized_session``
    name (the clone helper's old private copy)."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            attr = node.func.attr
            if attr == "processAllAvailable":
                yield node.lineno
            elif attr == "format" and any(
                isinstance(a, ast.Constant) and a.value == "memory" for a in node.args
            ):
                yield node.lineno
        if "_state_sized_session" in (getattr(node, k, None) for k in ("id", "attr", "name")):
            yield getattr(node, "lineno", 0)


def package_lines(steps) -> dict[str, list[int]]:
    """{module path under ``porcupine_spark/``: sorted lines} of every
    module in which ``steps(tree)`` yields a line."""
    found = {}
    for dirpath, _dirs, files in os.walk(PKG):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path) as fh:
                    lines = sorted(set(steps(ast.parse(fh.read(), path))))
                if lines:
                    found[os.path.relpath(path, PKG)] = lines
    return found


def test_streams_drain_only_through_drain_py():
    found = package_lines(_drain_steps)
    stray = {rel: lines for rel, lines in found.items() if rel != DRAIN}
    assert not stray, f"memory sink or processAllAvailable outside {DRAIN}: {stray}"
    # and the scan still sees the one real drain
    assert DRAIN in found


def test_stream_incident_matches_batch_islands(spark, sf_dir):
    from porcupine_spark.streaming.windows import stream_incident_detect

    rows = stream_incident_detect(spark, sf_dir).collect()
    for r in rows:
        assert r.n_errors >= 5
        assert r.incident_end > r.incident_start


def test_stream_hll_bounds(spark, sf_dir):
    from porcupine_spark.operators.sketches import HLL_M
    from porcupine_spark.streaming.windows import stream_hourly_hll_users

    rows = stream_hourly_hll_users(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert 1 <= r.n_buckets_hit <= HLL_M
        assert r.hll_estimate_raw > 0
        # raw HLL (no small-range correction) is within its coarse
        # error envelope for these cardinalities
        assert r.hll_estimate_raw <= 4 * r.n_exact + 200


def test_stream_scd2_versions_partition_history(spark, sf_dir):
    from porcupine_spark.streaming.stateful import stream_scd2_apply
    from porcupine_spark.tables import load_table

    rows = stream_scd2_apply(spark, sf_dir).collect()
    by_user = {}
    for r in rows:
        assert r.valid_from_us < r.valid_to_us
        assert r.n_events >= 1
        by_user.setdefault(r.user_id, []).append(r)
    for u, vs in by_user.items():
        vs.sort(key=lambda r: r.valid_from_us)
        for a, b in zip(vs, vs[1:]):
            assert a.valid_to_us == b.valid_from_us  # contiguous history
            assert a.attr != b.attr  # each version is a real change
    # closed-version event counts + each user's open version = all events
    n_events = load_table(spark, sf_dir, "events").count()
    closed = sum(r.n_events for r in rows)
    assert closed < n_events


def test_stream_familiarity_gate_matches_batch_rollup(spark, sf_dir):
    """VERDICT r6 #8: the streaming gate must agree with the batch gate
    rolled up per source — same corpus, same index, same keep set."""
    from porcupine_spark.plans.registry import load_all_plans

    plans = load_all_plans()
    sf = sf_dir
    got = {
        r.source: (r.n_docs, r.n_keep)
        for r in plans["stream_familiarity_gate"].builder(spark, sf).collect()
    }
    batch = (
        plans["bigram_familiarity_gate"]
        .builder(spark, sf)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
        )
    )
    want = {r.source: (r.n_docs, r.n_keep) for r in batch.collect()}
    assert got == want
    assert sum(v[1] for v in want.values()) > 0  # the gate keeps something


def test_stream_classifier_gate_matches_batch_rollup(spark, sf_dir):
    """The literal-weight streaming scorer must agree with the batch
    broadcast-join scorer rolled up per source."""
    from porcupine_spark.plans.registry import load_all_plans

    plans = load_all_plans()
    sf = sf_dir
    got = {
        r.source: (r.n_docs, r.n_keep)
        for r in plans["stream_classifier_gate"].builder(spark, sf).collect()
    }
    batch = (
        plans["classifier_quality_gate"]
        .builder(spark, sf)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
        )
    )
    want = {r.source: (r.n_docs, r.n_keep) for r in batch.collect()}
    assert got == want
