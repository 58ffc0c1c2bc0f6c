"""Per-index IO, partitioned writes, folder streams, tee, error ops
(SURVEY §2.1/§2.2 extended family) + stateful streaming equivalence."""

import os

import pytest
from pyspark.sql import functions as F

from porcupine_spark.bucketing import executed_plan
from porcupine_spark.catalog import Catalog, Dataset
from porcupine_spark.run import run_pipeline
from porcupine_spark.task import arr, load
from porcupine_spark.task_ext import (
    catch_and_log,
    load_indexed,
    load_partitioned,
    read_folder,
    tee,
    try_load_indexed,
    try_task,
    write_partitioned,
)


@pytest.fixture()
def user_files(spark, tmp_path):
    """User-{i}.parquet occurrences (example1 fixture shape)."""
    for i in range(3):
        spark.createDataFrame([(i, f"user{i}", 20 + i)], "id long, name string, age int") \
            .write.parquet(str(tmp_path / f"User-{i}.parquet"))
    return tmp_path


def test_load_indexed_recovers_index(spark, user_files):
    cat = Catalog([Dataset.source("users")])
    t = load_indexed("users", "userId", [0, 2])
    df = run_pipeline(
        t, cat, spark, root=str(user_files),
        mappings={"users": str(user_files) + "/User-{userId}.parquet"},
    )
    rows = {(r.idx, r.name) for r in df.collect()}
    assert rows == {(0, "user0"), (2, "user2")}


def test_try_load_indexed_tolerates_missing(spark, user_files):
    cat = Catalog([Dataset.source("users")])
    t = try_load_indexed("users", "userId", [0, 7, 2])
    df, errors = run_pipeline(
        t, cat, spark, root=str(user_files),
        mappings={"users": str(user_files) + "/User-{userId}.parquet"},
    )
    assert df.count() == 2
    assert len(errors) == 1 and errors[0][0] == 7
    assert "PATH_NOT_FOUND" in errors[0][1] or "Path does not exist" in errors[0][1]


def test_try_load_indexed_unmapped_raises(spark, tmp_path):
    """An unmapped dataset has no occurrences to index: both indexed
    loads raise the same ValueError (not an AttributeError)."""
    cat = Catalog([Dataset("users")])
    for task in (load_indexed, try_load_indexed):
        with pytest.raises(ValueError, match="'users' unmapped"):
            run_pipeline(
                task("users", "userId", [0]), cat, spark, root=str(tmp_path),
                mappings={"users": None},
            )


def test_load_indexed_reads_every_layer(spark, user_files):
    """Each index reads like ``load`` with the index spliced: a
    two-layer dataset yields both layers' rows, not only layer 0's."""
    for i in range(3):
        spark.createDataFrame([(i, f"extra{i}", 40 + i)], "id long, name string, age int") \
            .write.parquet(str(user_files / f"Extra-{i}.parquet"))
    cat = Catalog([Dataset.source("users")])
    mappings = {"users": [str(user_files / "User-{userId}.parquet"),
                          str(user_files / "Extra-{userId}.parquet")]}
    got = run_pipeline(
        load_indexed("users", "userId", [0, 2]), cat, spark, root=str(user_files),
        mappings=mappings,
    )
    want = set()
    for idx in (0, 2):
        rows = run_pipeline(
            load("users"), cat, spark, root=str(user_files), mappings=mappings,
            variables={"userId": idx},
        ).collect()
        want |= {(idx, r.id, r.name, r.age) for r in rows}
    assert {(r.idx, r.id, r.name, r.age) for r in got.collect()} == want
    assert {n for _, _, n, _ in want} == {"user0", "extra0", "user2", "extra2"}


def test_write_partitioned_checks_the_serial(spark, tmp_path):
    """write_partitioned goes through Serial.write: a binary serial is
    read-only, and a YAML serial (one text column) cannot be
    partitioned, which fails at the catalog naming the dataset."""
    from porcupine_spark.serials import SerialSet, binary_serial, yaml_serial

    df = spark.createDataFrame([(1, "a")], "k int, v string")
    cat = Catalog([Dataset("blobs", SerialSet(binary_serial())),
                   Dataset("docs", SerialSet(yaml_serial()))])
    with pytest.raises(ValueError, match="read-only"):
        run_pipeline(write_partitioned("blobs", "k"), cat, spark, root=str(tmp_path), input_=df)
    with pytest.raises(ValueError, match="dataset 'docs'.*cannot be partitioned by 'k'"):
        run_pipeline(write_partitioned("docs", "k"), cat, spark, root=str(tmp_path), input_=df)
    assert not os.listdir(tmp_path)


def test_write_partitioned_accessor_layer_fails_before_any_write(spark, tmp_path):
    """An accessor takes one body, so a partitioned write to a layer
    bound to one is refused before any layer is written."""
    from porcupine_spark.accessors import register_accessor, unregister_accessor
    from porcupine_spark.serials import SerialSet, json_serial

    register_accessor("mem", read=None, write=lambda df, path, serial, mode: None)
    try:
        cat = Catalog([Dataset("out", SerialSet(json_serial()))])
        df = spark.createDataFrame([(1, "a")], "k int, v string")
        local = str(tmp_path / "out.json")
        with pytest.raises(ValueError, match="dataset 'out'.*mem accessor"):
            run_pipeline(
                write_partitioned("out", "k"), cat, spark, root=str(tmp_path),
                mappings={"out": [local, "mem://fixtures/out"]}, input_=df,
            )
        assert not os.path.exists(local)
    finally:
        unregister_accessor("mem")


def test_write_partitioned_roundtrip(spark, tmp_path):
    """writeDataStream: one dir per index, single job; read back pruned."""
    cat = Catalog([Dataset("bykey")])
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "k int, v string"
    )
    run_pipeline(
        write_partitioned("bykey", "k"), cat, spark, root=str(tmp_path), input_=df
    )
    assert (tmp_path / "bykey.parquet" / "k=1").exists()
    assert (tmp_path / "bykey.parquet" / "k=2").exists()
    back = run_pipeline(load_partitioned("bykey", "k", [1]), cat, spark, root=str(tmp_path))
    assert sorted(r.v for r in back.collect()) == ["a", "b"]
    # partition pruning visible in the plan
    plan = executed_plan(back)
    assert "PartitionFilters" in plan


def test_read_folder_recursive_with_provenance(spark, tmp_path):
    (tmp_path / "sub").mkdir()
    spark.createDataFrame([(1,)], "x long").write.parquet(str(tmp_path / "sub/a.parquet"))
    spark.createDataFrame([(2,)], "x long").write.parquet(str(tmp_path / "b.parquet"))
    df = read_folder(spark, str(tmp_path))
    rows = df.collect()
    assert {r.x for r in rows} == {1, 2}
    assert all(r.source_file.startswith("file:") for r in rows)


def test_tee_two_sinks_one_transformed(spark, tmp_path):
    """mapCopy: same frame to two sinks, second transformed."""
    cat = Catalog([Dataset.source("in"), Dataset.sink("raw"), Dataset.sink("doubled")])
    spark.createDataFrame([(1,), (2,)], "x long").write.parquet(str(tmp_path / "in.parquet"))
    t = load("in") >> tee(
        ("raw", None),
        ("doubled", lambda df: df.withColumn("x", F.col("x") * 2)),
    )
    written = run_pipeline(
        t, cat, spark, root=str(tmp_path), mappings={"in": str(tmp_path / "in.parquet")}
    )
    assert set(written) == {"raw", "doubled"}
    raw = {r.x for r in spark.read.parquet(str(tmp_path / "raw.parquet")).collect()}
    dbl = {r.x for r in spark.read.parquet(str(tmp_path / "doubled.parquet")).collect()}
    assert raw == {1, 2} and dbl == {2, 4}


def test_try_task_and_catch_and_log(spark, tmp_path):
    boom = arr(lambda _: (_ for _ in ()).throw(RuntimeError("boom")))
    tag, err = run_pipeline(try_task(boom), Catalog([]), spark, root=str(tmp_path))
    assert tag == "err" and isinstance(err, RuntimeError)
    ok = run_pipeline(catch_and_log(boom, default=42), Catalog([]), spark, root=str(tmp_path))
    assert ok == 42
    tag2, val = run_pipeline(try_task(arr(lambda x: x + 1)), Catalog([]), spark,
                             root=str(tmp_path), input_=1)
    assert (tag2, val) == ("ok", 2)


def test_stateful_stream_matches_batch(spark, sf_dir):
    """The stateful operator's final per-user counts == batch groupBy."""
    from porcupine_spark.plans.registry import load_all_plans
    from porcupine_spark.tables import load_table

    specs = load_all_plans()
    out = specs["stream_stateful_user_stats"].builder(spark, sf_dir)
    got = {r.user_id: r.n_events for r in out.collect()}
    ev = load_table(spark, sf_dir, "events")
    want = {r.user_id: r.n for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want


def test_salted_agg_equals_plain(spark):
    from pyspark.sql import functions as F

    from porcupine_spark.functions.skew import salted_agg

    df = spark.createDataFrame(
        [("hot", float(i)) for i in range(500)] + [("cold", 1.0)], "k string, v double"
    )
    plain = {
        r.k: (r.n, r.s)
        for r in df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("v").cast("decimal(38,6)")).cast("double").alias("s"))
        .collect()
    }
    salted = {
        r.k: (r.n, r.s)
        for r in salted_agg(
            df,
            ["k"],
            aggs=[
                F.count(F.lit(1)).alias("pn"),
                F.sum(F.col("v").cast("decimal(38,6)")).alias("ps"),
            ],
            final_aggs=[
                F.sum("pn").alias("n"),
                F.sum("ps").cast("double").alias("s"),
            ],
        ).collect()
    }
    assert salted == plain


def test_salted_join_equals_plain(spark):
    from porcupine_spark.functions.skew import salted_join

    big = spark.createDataFrame([(1, i) for i in range(100)] + [(2, 0)], "k int, v int")
    small = spark.createDataFrame([(1, "one"), (2, "two"), (3, "three")], "k int, name string")
    plain = sorted((r.k, r.v, r.name) for r in big.join(small, "k").collect())
    salted = sorted((r.k, r.v, r.name) for r in salted_join(big, small, "k").collect())
    assert salted == plain


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Co-bucketed tables sort-merge-join with ZERO shuffle Exchange
    (the 100 TB fact-fact join answer). Broadcast is disabled so the
    planner can't sidestep the bucketing (at real scale neither side
    broadcasts)."""
    from porcupine_spark.bucketing import (
        bucketed_join,
        shuffle_exchanges_in_plan,
        write_bucketed,
    )

    left = spark.range(0, 1000).withColumnRenamed("id", "k")
    right = spark.range(0, 1000).withColumnRenamed("id", "k")
    write_bucketed(left, "t_left", "k", 4, path=str(tmp_path / "t_left"))
    write_bucketed(right, "t_right", "k", 4, path=str(tmp_path / "t_right"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "t_left", "t_right", "k")
        assert joined.count() == 1000
        plan = executed_plan(joined)
        assert "SortMergeJoin" in plan
        assert shuffle_exchanges_in_plan(plan) == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_left")
        spark.sql("DROP TABLE IF EXISTS t_right")


def test_orc_serial_roundtrip(spark, tmp_path):
    from porcupine_spark.catalog import Catalog, Dataset
    from porcupine_spark.serials import SerialSet, orc_serial

    cat = Catalog([Dataset("t", SerialSet(orc_serial()))])
    bound = cat.bind(str(tmp_path))
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    paths = bound.write(df, "t")
    assert paths[0].endswith("t.orc")
    assert bound.read(spark, "t").collect()[0].v == "a"


def test_partition_by_predicate(spark):
    from porcupine_spark.task_ext import partition_by_predicate

    df = spark.createDataFrame([(i,) for i in range(10)], "x int")
    hi, lo = partition_by_predicate(df, F.col("x") >= 5)
    assert hi.count() == 5 and lo.count() == 5
    assert {r.x for r in hi.collect()} == {5, 6, 7, 8, 9}


def test_clocked_returns_duration(spark, tmp_path):
    from porcupine_spark.task_ext import clocked

    out, secs = run_pipeline(clocked(arr(lambda x: x * 2)), Catalog([]), spark,
                             root=str(tmp_path), input_=21)
    assert out == 42 and secs >= 0


def test_with_context_attaches_log_fields(spark, tmp_path, caplog):
    import logging

    from porcupine_spark.task import io_task
    from porcupine_spark.task_ext import with_context

    def log_step(ctx, x):
        logging.getLogger("porcupine_spark").warning("inside")
        return x

    with caplog.at_level(logging.WARNING, logger="porcupine_spark"):
        run_pipeline(with_context(io_task(log_step), job="demo"), Catalog([]), spark,
                     root=str(tmp_path))
    recs = [r for r in caplog.records if r.message == "inside"]
    assert recs and recs[0].task_context == {"job": "demo"}


def test_stream_to_dataset_foreachbatch(spark, sf_dir, tmp_path):
    """Streaming write into a catalog dataset: events stream -> filtered
    -> parquet sink via foreachBatch, epoch-partitioned, re-readable
    through the same catalog."""
    from porcupine_spark.streaming.sinks import stream_to_dataset
    from porcupine_spark.tables import load_events_stream, load_table

    cat = Catalog([Dataset.sink("out/purchases")])
    bound = cat.bind(str(tmp_path))
    stream = load_events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    stream_to_dataset(stream, bound, "out/purchases", checkpoint_dir=str(tmp_path / "ckpt"))
    back = spark.read.parquet(str(tmp_path / "out/purchases.parquet"))
    want = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase").count()
    assert back.count() == want
    assert "epoch" in back.columns  # partition column visible for audit


def test_stream_restart_recovery_exactly_once(spark, tmp_path):
    """Checkpoint-backed restart: a second run of the same stream (same
    checkpointLocation) must process ONLY files that arrived since the
    first run — no reprocessing, no duplicates, across query restarts.
    This is the foreachBatch + epoch-idempotent-layout contract under
    the failure mode that matters in production."""
    from porcupine_spark.catalog import Catalog, Dataset
    from porcupine_spark.serials import SerialSet, parquet_serial
    from porcupine_spark.streaming.sinks import stream_to_dataset

    import pyarrow as pa
    import pyarrow.parquet as pq

    def put_file(name, lo, hi, tag):
        tbl = pa.table(
            {"id": pa.array(range(lo, hi), pa.int64()),
             "v": [f"{tag}{i}" for i in range(lo, hi)]}
        )
        pq.write_table(tbl, str(src / name))

    src = tmp_path / "src"
    src.mkdir()
    put_file("batch1.parquet", 0, 10, "a")

    bound = Catalog([Dataset.sink("out", SerialSet(parquet_serial()))]).bind(
        str(tmp_path), {"out": str(tmp_path / "out.parquet")}
    )
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = spark.readStream.schema("id long, v string").parquet(str(src))
        stream_to_dataset(stream, bound, "out", ckpt)

    run_once()
    first = spark.read.parquet(str(tmp_path / "out.parquet"))
    assert first.count() == 10

    # new data arrives; the restarted query must pick up ONLY this file
    put_file("batch2.parquet", 10, 15, "b")
    run_once()
    both = spark.read.parquet(str(tmp_path / "out.parquet"))
    assert both.count() == 15  # no duplicates of batch1
    assert both.select("id").distinct().count() == 15


def test_stream_upsert_sink_latest_state(spark, tmp_path):
    """Keyed CDC sink: the dataset holds ONE row per key (latest
    order_col wins), updates from later epochs replace earlier state,
    and a checkpointed restart only applies new files."""
    from porcupine_spark.catalog import Catalog, Dataset
    from porcupine_spark.serials import SerialSet, parquet_serial
    from porcupine_spark.streaming.sinks import stream_upsert_to_dataset

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()

    def put(name, rows):
        ids, tss, vs = zip(*rows)
        pq.write_table(
            pa.table(
                {"id": pa.array(ids, pa.int64()),
                 "ts": pa.array(tss, pa.int64()),
                 "v": pa.array(vs)}
            ),
            str(src / name),
        )

    # batch 1: keys 1..3; key 2 appears twice (ts 5 beats ts 1)
    put("b1.parquet", [(1, 1, "a1"), (2, 1, "old"), (2, 5, "new"), (3, 1, "c1")])

    bound = Catalog([Dataset.sink("state", SerialSet(parquet_serial()))]).bind(
        str(tmp_path), {"state": str(tmp_path / "state.parquet")}
    )
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = spark.readStream.schema("id long, ts long, v string").parquet(str(src))
        stream_upsert_to_dataset(stream, bound, "state", ckpt, key="id", order_col="ts")

    run_once()
    t1 = {r["id"]: (r["ts"], r["v"]) for r in
          spark.read.parquet(str(tmp_path / "state.parquet")).collect()}
    assert t1 == {1: (1, "a1"), 2: (5, "new"), 3: (1, "c1")}

    # batch 2: update key 2, insert key 4 — restart applies only this file
    put("b2.parquet", [(2, 9, "newer"), (4, 2, "d1")])
    run_once()
    t2 = {r["id"]: (r["ts"], r["v"]) for r in
          spark.read.parquet(str(tmp_path / "state.parquet")).collect()}
    assert t2 == {1: (1, "a1"), 2: (9, "newer"), 3: (1, "c1"), 4: (2, "d1")}
    # no temp swap dirs left behind
    assert not [p for p in tmp_path.iterdir() if "_tmp" in p.name]


def test_stream_upsert_sink_reads_back_through_the_serial(spark, tmp_path):
    """The upsert sink writes through Serial.write (pre_write) and reads
    its table back through Serial.read (post_read), so a serial whose
    on-disk columns differ from the dataset's merges epoch after epoch."""
    from porcupine_spark.serials import SerialSet, parquet_serial
    from porcupine_spark.streaming.sinks import stream_upsert_to_dataset

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    serial = (
        parquet_serial()
        .lmap(lambda df: df.withColumnRenamed("v", "v_disk"))
        .rmap(lambda df: df.withColumnRenamed("v_disk", "v"))
    )
    bound = Catalog([Dataset.sink("state", SerialSet(serial))]).bind(
        str(tmp_path), {"state": str(tmp_path / "state.parquet")}
    )

    def run_once(name, rows):
        ids, tss, vs = zip(*rows)
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64()),
                                 "ts": pa.array(tss, pa.int64()),
                                 "v": pa.array(vs)}), str(src / name))
        stream = spark.readStream.schema("id long, ts long, v string").parquet(str(src))
        stream_upsert_to_dataset(stream, bound, "state", str(tmp_path / "ckpt"),
                                 key="id", order_col="ts")

    run_once("b1.parquet", [(1, 1, "a1"), (2, 1, "b1")])
    run_once("b2.parquet", [(2, 3, "b2"), (3, 1, "c1")])
    on_disk = spark.read.parquet(str(tmp_path / "state.parquet"))
    assert sorted(on_disk.columns) == ["id", "ts", "v_disk"]
    back = serial.read(spark, str(tmp_path / "state.parquet"))
    assert {(r.id, r.ts, r.v) for r in back.collect()} == {
        (1, 1, "a1"), (2, 3, "b2"), (3, 1, "c1")
    }


def test_compaction_diagnose_and_rewrite(spark, tmp_path):
    """Small-file maintenance: a fragmented partitioned dataset is
    diagnosed (per-partition file counts) and compacted shuffle-free
    down to the planned file count, preserving data exactly."""
    from porcupine_spark.functions.maintenance import (
        compact_dataset,
        compaction_plan,
        layout_report,
        scan_layout,
    )

    path = str(tmp_path / "frag")
    df = spark.range(0, 2000).selectExpr("id", "id % 2 AS part")
    # fragment: 10 files per partition directory
    df.repartition(10).write.partitionBy("part").mode("overwrite").parquet(path)
    lays = scan_layout(spark, path)
    assert len(lays) == 2 and all(l.n_files == 10 for l in lays)

    plan = compaction_plan(lays, target_bytes=1 << 20)
    assert len(plan) == 2 and all(n_out == 1 for _, n_out in plan)

    rep = layout_report(spark, path)
    assert rep.count() == 2 and rep.columns == [
        "path", "n_files", "total_bytes", "avg_bytes",
    ]

    before = sorted(r.id for r in spark.read.parquet(path).collect())
    done = compact_dataset(spark, path, target_bytes=1 << 20)
    assert len(done) == 2
    after_lays = scan_layout(spark, path)
    assert all(l.n_files == 1 for l in after_lays)
    # partition values survive the per-directory rewrite
    after = sorted(r.id for r in spark.read.parquet(path).collect())
    assert after == before
    parts = {r.part for r in spark.read.parquet(path).collect()}
    assert parts == {0, 1}


def test_event_time_timeout_sessionizer_closes_and_evicts(spark, tmp_path):
    """EventTimeTimeout contract: a session closes (and its state is
    freed) exactly when the watermark passes last_event + gap. Two
    microbatches (maxFilesPerTrigger=1): batch 2's watermark - set by
    batch 1's max ts - expires user 1's idle session; user 2 keeps
    accumulating and never emits (still open at end of input)."""
    import pandas as pd

    from porcupine_spark.streaming.stateful import stream_sessionize_with_timeout

    src = tmp_path / "sess_src"
    src.mkdir()
    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def write_file(name, rows):
        pdf = pd.DataFrame(rows, columns=["user_id", "ts"])
        pdf["user_id"] = pdf["user_id"].astype("int64")
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(
            str(src / name)
        )

    # batch 1: user 1 has a burst ending 00:00:10; user 2 active late
    write_file("f1", [
        (1, t0), (1, t0 + pd.Timedelta(seconds=10)),
        (2, t0 + pd.Timedelta(minutes=30)),
    ])
    # batch 2: only user 2 speaks; its max ts drives the watermark far
    # past user 1's last event + gap (60s), firing user 1's timeout
    write_file("f2", [
        (2, t0 + pd.Timedelta(minutes=31)),
    ])

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    out = stream_sessionize_with_timeout(stream, gap_ms=60_000)
    rows = out.collect()
    # exactly one closed session: user 1's
    assert len(rows) == 1
    r = rows[0]
    assert r.user_id == 1
    assert r.session_start == t0.to_pydatetime()
    assert r.session_end == (t0 + pd.Timedelta(seconds=10)).to_pydatetime()
    assert r.n_events == 2


def test_timeout_sessionizer_splits_intra_batch_gaps(spark, tmp_path):
    """Gap semantics must hold WITHIN a microbatch: two bursts of the
    same key separated by more than the gap, arriving in ONE batch,
    are two sessions. Each emits only once the WATERMARK passes its
    end + gap (eager emission would split sessions that a late but
    above-watermark event should still merge into)."""
    import pandas as pd

    from porcupine_spark.streaming.stateful import stream_sessionize_with_timeout

    src = tmp_path / "sess_split_src"
    src.mkdir()
    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def write_file(name, rows):
        pdf = pd.DataFrame(rows, columns=["user_id", "ts"])
        pdf["user_id"] = pdf["user_id"].astype("int64")
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(
            str(src / name)
        )

    # batch 1, ALL for user 1: burst A (00:00:00-00:00:05), then burst B
    # 10 minutes later — far past the 60s gap, same microbatch
    write_file("f1", [
        (1, t0), (1, t0 + pd.Timedelta(seconds=5)),
        (1, t0 + pd.Timedelta(minutes=10)),
        (1, t0 + pd.Timedelta(minutes=10, seconds=3)),
    ])
    # batch 2 raises the watermark to 10:03 (batch 1's max): burst A is
    # confirmed closed; burst B (needs wm > 11:03) stays open. batch 3
    # raises it to 30:00, closing burst B too.
    write_file("f2", [(2, t0 + pd.Timedelta(minutes=30))])
    write_file("f3", [(2, t0 + pd.Timedelta(minutes=35))])

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    out = stream_sessionize_with_timeout(stream, gap_ms=60_000)
    rows = sorted(out.filter("user_id = 1").collect(), key=lambda r: r.session_start)
    assert len(rows) == 2  # a gap-merging sessionizer would emit 1
    a, b = rows
    assert a.session_start == t0.to_pydatetime()
    assert a.session_end == (t0 + pd.Timedelta(seconds=5)).to_pydatetime()
    assert a.n_events == 2
    assert b.session_start == (t0 + pd.Timedelta(minutes=10)).to_pydatetime()
    assert b.session_end == (t0 + pd.Timedelta(minutes=10, seconds=3)).to_pydatetime()
    assert b.n_events == 2


def test_streaming_observe_metrics_surface(spark, sf_dir):
    """df.observe on a stream surfaces per-batch metrics in query
    progress (the zero-cost pipeline-health hook: counts/sums ride the
    existing job, no extra pass)."""
    from porcupine_spark.tables import load_events_stream, load_table
    import uuid as _uuid

    ns = spark.newSession()
    ns.conf.set("spark.sql.shuffle.partitions", "4")
    stream = load_events_stream(ns, sf_dir)
    from pyspark.sql import functions as F

    observed = stream.observe(
        "health",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").cast("decimal(38,6)")).alias("value_sum"),
    )
    name = f"obs_{_uuid.uuid4().hex[:8]}"
    q = (
        observed.groupBy("event_type")
        .count()
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        progresses = [p for p in q.recentProgress if p["observedMetrics"]]
    finally:
        q.stop()
    assert progresses, "no observed metrics in any batch"
    total_rows = sum(p["observedMetrics"]["health"]["n_rows"] for p in progresses)
    ev = load_table(ns, sf_dir, "events")
    assert total_rows == ev.count()


def test_watermark_drops_late_rows_with_accounting(spark, tmp_path):
    """A tight watermark actually DROPS late rows, and the state
    operator accounts for them (numRowsDroppedByWatermark) - the
    correctness contract event_disorder_stats sizes against."""
    import pandas as pd

    src = tmp_path / "late_src"
    src.mkdir()
    t0 = pd.Timestamp("2024-01-01 12:00:00")

    def write_file(name, rows):
        pdf = pd.DataFrame(rows, columns=["k", "ts"])
        pdf["k"] = pdf["k"].astype("int64")
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(
            str(src / name)
        )

    # batch 0's max ts (12:30) sets the watermark to 12:20, but the
    # global watermark becomes EFFECTIVE one batch later (it is
    # computed at batch end and applied from the batch after next) -
    # so the late 12:00:30 row rides in batch 2, where wm=12:20 is
    # live, its window [12:00,12:01) is long closed, and the row must
    # be dropped and accounted
    write_file("f1", [(1, t0), (1, t0 + pd.Timedelta(minutes=30))])
    write_file("f2", [(1, t0 + pd.Timedelta(minutes=30, seconds=10))])
    write_file("f3", [(1, t0 + pd.Timedelta(seconds=30))])

    ns = spark.newSession()
    ns.conf.set("spark.sql.shuffle.partitions", "2")
    stream = (
        ns.readStream.schema("k long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    from pyspark.sql import functions as F
    import uuid as _uuid

    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute"), "k")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = f"late_{_uuid.uuid4().hex[:8]}"
    q = agg.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
        )
    finally:
        q.stop()
    assert dropped == 1
    # the late row is absent: the emitted [12:00,12:01) window holds
    # only batch 0's single on-time row
    rows = {(r["window"].start.minute, r.n) for r in ns.table(name).collect()}
    assert (0, 1) in rows


def test_doc_stream_reads_multi_file_tables(spark, tmp_path):
    """The file-source stream loaders must read tables that are
    DIRECTORIES of part files (the normal layout at scale) - without
    recursiveFileLookup the stream lists only the symlink dir's top
    level, sees a directory, and silently processes ZERO rows (the
    10x-scale measurement bug)."""
    from porcupine_spark.tables import load_docs_stream
    import uuid as _uuid

    sf_dir = tmp_path / "sf_multi"
    sf_dir.mkdir()
    docs = spark.createDataFrame(
        [(i, f"text {i}", "en", "src", 6) for i in range(100)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # a directory of MULTIPLE part files, like any real-scale table
    docs.repartition(4).write.parquet(str(sf_dir / "documents.parquet"))

    stream = load_docs_stream(spark, str(sf_dir))
    name = f"mfstream_{_uuid.uuid4().hex[:8]}"
    q = (
        stream.groupBy().count().writeStream.outputMode("complete")
        .format("memory").queryName(name).start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert spark.table(name).collect()[0][0] == 100


def test_timeout_sessionizer_merges_late_above_watermark_event(spark, tmp_path):
    """An out-of-order event arriving in a LATER microbatch (but above
    the watermark) must merge into the open session it belongs to —
    the reason split sessions wait for watermark confirmation instead
    of emitting eagerly on batch arrival (eager emission would have
    produced overlapping duplicate sessions)."""
    import pandas as pd

    from porcupine_spark.streaming.stateful import stream_sessionize_with_timeout

    src = tmp_path / "sess_late_src"
    src.mkdir()
    t0 = pd.Timestamp("2024-01-01 10:00:00")

    def write_file(name, rows):
        pdf = pd.DataFrame(rows, columns=["user_id", "ts"])
        pdf["user_id"] = pdf["user_id"].astype("int64")
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(
            str(src / name)
        )

    # batch 1: two bursts > gap apart -> two open intervals in state
    write_file("f1", [(1, t0), (1, t0 + pd.Timedelta(minutes=10))])
    # batch 2: an out-of-order event 30s after burst A's start — above
    # the 30-minute-delayed watermark, so it must MERGE into burst A
    write_file("f2", [(1, t0 + pd.Timedelta(seconds=30))])
    # batch 3: push the watermark past both sessions' end + gap
    write_file("f3", [(2, t0 + pd.Timedelta(hours=2))])
    write_file("f4", [(2, t0 + pd.Timedelta(hours=3))])

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    out = stream_sessionize_with_timeout(
        stream, gap_ms=60_000, watermark="30 minutes"
    )
    rows = sorted(out.filter("user_id = 1").collect(), key=lambda r: r.session_start)
    assert len(rows) == 2
    a, b = rows
    # burst A absorbed the late event: [10:00:00, 10:00:30], 2 events
    assert a.session_start == t0.to_pydatetime()
    assert a.session_end == (t0 + pd.Timedelta(seconds=30)).to_pydatetime()
    assert a.n_events == 2
    assert b.session_start == (t0 + pd.Timedelta(minutes=10)).to_pydatetime()
    assert b.n_events == 1
