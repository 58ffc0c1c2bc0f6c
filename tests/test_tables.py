"""Test-table loading through the serial schema memo, the process
memos over test tables (the corpus count and the confed sessions), and
the direct read of a table's parquet files on the driver."""

import datetime
import decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from porcupine_spark import serials, tables
from porcupine_spark.operators.dedup import corpus_n_docs
from porcupine_spark.session import LISTING_PARALLELISM
from porcupine_spark.tables import ensure_session_confs, load_table


def test_schema_memo_hit_runs_no_job(spark, sf_dir, jobs_so_far):
    first = load_table(spark, sf_dir, "events")
    j0 = jobs_so_far()
    again = load_table(spark, sf_dir, "events")
    assert jobs_so_far() == j0
    assert again.schema == first.schema
    assert dict(again.dtypes)["ts"] == "timestamp"


def test_rewritten_table_yields_new_schema(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": pa.array([1], pa.int64())}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    pq.write_table(
        pa.table({"r_regionkey": pa.array([1], pa.int64()), "r_name": ["x"]}), path
    )
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert df.collect()[0].r_name == "x"


def test_corpus_count_follows_a_rewritten_documents_table(spark, tmp_path):
    path = str(tmp_path / "documents.parquet")

    def write_docs(n: int) -> None:
        pq.write_table(
            pa.table({"doc_id": pa.array(range(n), pa.int64()), "text": ["t"] * n}), path
        )

    write_docs(3)
    assert corpus_n_docs(spark, str(tmp_path)) == 3
    write_docs(5)
    assert corpus_n_docs(spark, str(tmp_path)) == 5


def test_session_confs_survive_python_id_reuse(spark):
    fresh = spark.newSession()
    fresh.conf.set("spark.sql.session.timeZone", "America/New_York")
    # what a stopped session whose id() this wrapper reuses would leave
    tables._CONFED_SESSIONS.add(id(fresh))
    ensure_session_confs(fresh)
    assert fresh.conf.get("spark.sql.session.timeZone") == "UTC"


def test_foreign_session_gets_one_wave_listing_only_at_the_default(spark):
    fresh = spark.newSession()
    assert fresh.conf.get(LISTING_PARALLELISM) == "10000"
    ensure_session_confs(fresh)
    assert fresh.conf.get(LISTING_PARALLELISM) == str(spark.sparkContext.defaultParallelism)
    deliberate = spark.newSession()
    deliberate.conf.set(LISTING_PARALLELISM, "7")
    ensure_session_confs(deliberate)
    assert deliberate.conf.get(LISTING_PARALLELISM) == "7"


# --- the direct read: Spark's toArrow of the same columns, or None ---


def _spark_arrow(spark, path, cols):
    return serials.parquet_serial().read(spark, path).select(*cols).toArrow()


def _assert_same(got, want):
    assert got.schema == want.schema
    assert got.equals(want), (got.slice(0, 3), want.slice(0, 3))


def test_local_columns_equal_spark_or_none_on_every_test_table(spark, sf_dir, jobs_so_far):
    """Every column of every test table read directly is Spark's
    ``load_table(...).select(col).toArrow()``, schema and values, or
    None; the timestamp columns (``events.ts`` among them) give None,
    and no direct read runs a job."""
    read, none = [], []
    for name in tables.TABLES:
        df = tables.load_table(spark, sf_dir, name, widen=False)
        for col in df.columns:
            j0 = jobs_so_far()
            reader = tables.local_columns(spark, sf_dir, name, [col])
            got = None if reader is None else reader.read_all()
            assert jobs_so_far() == j0
            if got is None:
                none.append(f"{name}.{col}")
                continue
            _assert_same(got, df.select(col).toArrow())
            read.append(f"{name}.{col}")
    assert "events.ts" in none and "lineitem.l_shipdate" in none
    assert {"lineitem.l_orderkey", "documents.text", "part.p_retailprice"} <= set(read)
    assert len(read) > 3 * len(none)


def test_local_columns_types_equal_spark(spark, tmp_path):
    """Each supported type, NULLs and a dictionary-encoded string column
    included, reads as Spark reads it; unsigned, half-float, timestamp
    and nested columns give None."""
    n = 5
    path = str(tmp_path / "t.parquet")
    cols = {
        "i8": pa.array([1, None, -3, 4, 5], pa.int8()),
        "i16": pa.array([1, 2, None, -4, 5], pa.int16()),
        "i32": pa.array([None, 2, 3, 4, -5], pa.int32()),
        "i64": pa.array([2**62, None, -(2**63), 0, 1], pa.int64()),
        "f32": pa.array([1.5, None, -0.0, 3.25, 1e30], pa.float32()),
        "f64": pa.array([0.1, 2.5, None, -1e300, 5e-324], pa.float64()),
        "dec": pa.array(
            [decimal.Decimal("1.25"), None, decimal.Decimal("-99999.99"), 0, 7], pa.decimal128(7, 2)
        ),
        "big_dec": pa.array([decimal.Decimal(10**37), None, 1, 2, 3], pa.decimal128(38, 0)),
        "s": pa.array(["a", None, "", "\u2028\U0001F600", "b c"], pa.string()),
        "dict_s": pa.array(["x", "y", None, "x", "x"]).dictionary_encode(),
        "b": pa.array([b"\x00\xff", None, b"", b"ab", b"c"], pa.binary()),
        "flag": pa.array([True, False, None, True, False]),
        "day": pa.array(
            [datetime.date(1970, 1, 1), None, datetime.date(2024, 2, 29)] * 1
            + [datetime.date(1, 1, 1), datetime.date(9999, 12, 31)],
            pa.date32(),
        ),
    }
    pq.write_table(pa.table(cols), path, row_group_size=2)
    serial = serials.parquet_serial()
    for sel in [[c] for c in cols] + [list(cols)]:
        _assert_same(serial.local_columns(spark, path, sel).read_all(), _spark_arrow(spark, path, sel))
    assert serial.local_columns(spark, path, ["missing"]) is None
    odd = str(tmp_path / "odd.parquet")
    unsupported = {
        "u32": pa.array(range(n), pa.uint32()),
        "f16": pa.array([1, 2, 3, 4, 5], pa.int16()).cast(pa.float16()),
        "ts": pa.array([datetime.datetime(2020, 1, 1)] * n, pa.timestamp("us")),
        "lst": pa.array([[1]] * n, pa.list_(pa.int64())),
    }
    pq.write_table(pa.table({"i64": cols["i64"], **unsupported}), odd)
    assert serial.local_columns(spark, odd, ["i64"]) is not None
    for c in unsupported:
        assert serial.local_columns(spark, odd, ["i64", c]) is None, c


def test_local_columns_list_files_as_spark_does(spark, tmp_path):
    """A flat directory reads the files a Spark listing keeps, skipping
    ``_``- and ``.``-named siblings (a ``.crc`` checksum among them) and
    a ``_temporary`` directory; a batch-by-batch read can stop early."""
    d = tmp_path / "t.parquet"
    (d / "_temporary").mkdir(parents=True)
    for i in range(3):
        pq.write_table(
            pa.table({"x": pa.array(range(10 * i, 10 * i + 4), pa.int64())}),
            str(d / f"part-{i}.parquet"),
        )
    pq.write_table(pa.table({"x": pa.array([99], pa.int64())}), str(d / "_temporary" / "p.parquet"))
    pq.write_table(pa.table({"x": pa.array([98], pa.int64())}), str(d / ".part-9.parquet.crc"))
    (d / "_SUCCESS").write_text("")
    serial = serials.parquet_serial()
    got = serial.local_columns(spark, str(d), ["x"])
    want = _spark_arrow(spark, str(d), ["x"])
    first = next(iter(got))
    assert first.column(0).to_pylist() == [0, 1, 2, 3]
    rest = pa.Table.from_batches([first, *got])
    assert rest.schema == want.schema
    assert sorted(rest.column("x").to_pylist()) == sorted(want.column("x").to_pylist())
    assert len(rest) == 12


def test_local_columns_none_where_only_spark_can_read(spark, tmp_path):
    """None for a partitioned directory, a mixed layout, a remote or
    missing path, an empty directory, read options, a post-read
    transform, another format, a file that is not parquet, and columns
    typed differently across files."""
    serial = serials.parquet_serial()
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"x": pa.array([1, 2], pa.int64())}), str(path))
    assert serial.local_columns(spark, str(path), ["x"]).read_all().num_rows == 2
    assert serial.local_columns(spark, f"file://{path}", ["x"]).read_all().num_rows == 2
    one = pa.table({"x": pa.array([1], pa.int64())})
    for sub in ("part.parquet/k=1", "mixed.parquet/sub", "empty.parquet", "typed.parquet"):
        (tmp_path / sub).mkdir(parents=True)
    pq.write_table(one, str(tmp_path / "part.parquet" / "k=1" / "p.parquet"))
    pq.write_table(one, str(tmp_path / "mixed.parquet" / "p.parquet"))
    pq.write_table(one, str(tmp_path / "mixed.parquet" / "sub" / "p.parquet"))
    pq.write_table(one, str(tmp_path / "typed.parquet" / "a.parquet"))
    int32 = one.cast(pa.schema([("x", pa.int32())]))
    pq.write_table(int32, str(tmp_path / "typed.parquet" / "b.parquet"))
    (tmp_path / "bad.parquet").write_text("not parquet")
    for name in ("part", "mixed", "empty", "bad", "missing", "typed"):
        assert serial.local_columns(spark, str(tmp_path / f"{name}.parquet"), ["x"]) is None, name
    assert serial.local_columns(spark, "s3a://bucket/t.parquet", ["x"]) is None
    assert serial.with_options(mergeSchema="true").local_columns(spark, str(path), ["x"]) is None
    assert serial.rmap(lambda df: df).local_columns(spark, str(path), ["x"]) is None
    assert serials.orc_serial().local_columns(spark, str(path), ["x"]) is None


@pytest.mark.parametrize("large", ["true", "false"])
def test_local_columns_follow_the_arrow_and_binary_confs(spark, tmp_path, large):
    """String and binary widths follow ``useLargeVarTypes``; under
    ``binaryAsString`` a binary column gives None (Spark reads it as a
    string)."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"s": ["a", None], "b": pa.array([b"x", None], pa.binary())}), path)
    session = spark.newSession()
    session.conf.set("spark.sql.execution.arrow.useLargeVarTypes", large)
    serial = serials.parquet_serial()
    _assert_same(
        serial.local_columns(session, path, ["s", "b"]).read_all(),
        _spark_arrow(session, path, ["s", "b"]),
    )
    session.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert serial.local_columns(session, path, ["b"]) is None
    assert serial.local_columns(session, path, ["s"]) is not None
