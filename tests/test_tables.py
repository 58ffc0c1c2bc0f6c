"""Test-table loading through the serial schema memo, and the process
memos over test tables: the corpus count and the confed sessions."""

import pyarrow as pa
import pyarrow.parquet as pq

from porcupine_spark import tables
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
