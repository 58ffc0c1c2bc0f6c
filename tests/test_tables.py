"""Test-table loading: the parquet schema memo."""

import pyarrow as pa
import pyarrow.parquet as pq

from porcupine_spark.tables import load_table


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
