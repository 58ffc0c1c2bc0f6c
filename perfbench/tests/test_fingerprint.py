import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import SparkSession  # noqa: E402

from perfbench.fingerprint import fingerprint  # noqa: E402

SCHEMA = "a long, b string, c double, m map<string,int>, s array<struct<x:int>>"
ROWS = [
    (1, "x", 0.5, {"k": 1, "j": 2}, [(1,)]),
    (2, None, 1.5, {}, []),
    (3, "z", None, None, None),
]


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    yield s
    s.stop()


def fp(spark, rows, schema=SCHEMA):
    return fingerprint(spark.createDataFrame(rows, schema))


def test_counts_rows_and_ignores_row_and_column_order(spark):
    base = fp(spark, ROWS)
    assert base[0] == 3
    assert fp(spark, list(reversed(ROWS))) == base
    df = spark.createDataFrame(ROWS, SCHEMA)
    assert fingerprint(df.select("s", "m", "c", "b", "a").repartition(3)) == base


@pytest.mark.parametrize("col", range(5))
def test_every_column_is_read(spark, col):
    changed = [list(r) for r in ROWS]
    changed[0][col] = ROWS[1][col] if col != 3 else {"k": 1, "j": 3}
    assert fp(spark, [tuple(r) for r in changed]) != fp(spark, ROWS)


def test_null_position_and_duplicates_matter(spark):
    schema = "p string, q string"
    assert fp(spark, [("v", None)], schema) != fp(spark, [(None, "v")], schema)
    assert fp(spark, [("v", "w")] * 2, schema) != fp(spark, [("v", "w")], schema)


def test_empty_frame(spark):
    assert fp(spark, [], "a long") == (0, (0, 0))
