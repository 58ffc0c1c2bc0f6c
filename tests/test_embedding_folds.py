"""The per-vector embedding folds (``zip_with``/``aggregate``) on NULL
elements and short vectors: a missing element adds nothing to its
vector's sum, the way the element-explode form (and the DuckDB oracle)
skip it, instead of nulling the whole vector."""

import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from verify_oracles import canon  # noqa: E402

FOLD_QUERIES = [
    "embedding_quantization_error",
    "embedding_outlier_flags",
    "label_centroid_separation",
]


def _ragged_embeddings():
    """Two labels of 4-dim vectors. Label 0 holds 20 vectors near
    (1, 0, 0, 0) and one far outlier (so the outlier query emits rows);
    vector 3 has a NULL element and vector 5 has only 3 elements."""
    rows = []
    for i in range(21):
        e = [1.0 - 0.01 * (i % 5), 0.02 * (i % 3), 0.01 * (i % 4), -0.01 * (i % 2)]
        rows.append((i, e, 0))
    rows[20] = (20, [-4.0, 3.5, 2.5, 3.0], 0)
    rows[3] = (3, [0.97, None, 0.03, -0.01], 0)
    rows[5] = (5, [1.0, 0.04, 0.01], 0)
    for i in range(21, 33):
        rows.append((i, [0.01 * (i % 3), 1.0 - 0.02 * (i % 4), 0.03, 0.01 * (i % 5)], 1))
    return rows


@pytest.fixture(scope="module")
def ragged_sf(tmp_path_factory):
    rows = _ragged_embeddings()
    sf = tmp_path_factory.mktemp("ragged")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
                "label": pa.array([r[2] for r in rows], pa.int32()),
            }
        ),
        str(sf / "embeddings.parquet"),
    )
    return str(sf)


@pytest.mark.parametrize("name", FOLD_QUERIES)
def test_fold_skips_null_and_missing_elements(spark, ragged_sf, name):
    from porcupine_spark.plans.registry import load_all_plans
    from porcupine_spark.tables import table_path

    spec = load_all_plans()[name]
    got = spec.builder(spark, ragged_sf).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{table_path(ragged_sf, 'embeddings')}')"
    )
    want = con.sql(spec.oracle).df()
    con.close()
    assert len(want) > 0
    assert canon(got, 0.0) == canon(want, 0.0)


def test_embedding_pervec_hof_matches_explode(spark):
    """r8: the per-vector centroid-distance fold (zip_with/aggregate
    against a broadcast dim-ordered centroid array) must equal the old
    explode+join+hash-agg form exactly — including dtype (decimal sums
    are order-independent, so the dim-order fold is bit-identical)."""
    import random

    rng = random.Random(11)
    rows = [
        (i, i % 3, [rng.uniform(-2, 2) for _ in range(17)]) for i in range(200)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )

    elems = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim0", "x")
    ).select(
        "vec_id", "label", (F.col("dim0") + 1).alias("dim"),
        (F.col("x").cast("double") * F.lit(1e6)).cast("long").alias("s"),
    )
    cent = elems.groupBy("label", "dim").agg(
        F.expr("CAST(SUM(s) AS BIGINT) div COUNT(*)").alias("c")
    )
    old = (
        elems.join(F.broadcast(cent), ["label", "dim"])
        .select("vec_id", "label",
                ((F.col("s") - F.col("c")) * (F.col("s") - F.col("c"))).alias("t"))
        .groupBy("vec_id", "label")
        .agg(F.sum(F.col("t").cast("decimal(38,0)")).alias("dsp"))
    )
    cent_arr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
        ).alias("c_arr")
    )
    s_arr = F.transform(
        "embedding", lambda x: (x.cast("double") * F.lit(1e6)).cast("long")
    )
    new = (
        emb.filter(F.size("embedding") > 0)
        .join(F.broadcast(cent_arr), "label")
        .select(
            "vec_id", "label",
            F.aggregate(
                F.zip_with(s_arr, F.col("c_arr"), lambda s, c: (s - c) * (s - c)),
                F.lit(0).cast("decimal(38,0)"),
                lambda acc, t: acc + t.cast("decimal(38,0)"),
            ).alias("dsp"),
        )
    )
    assert old.schema["dsp"].dataType == new.schema["dsp"].dataType
    assert sorted(map(tuple, old.collect())) == sorted(map(tuple, new.collect()))
