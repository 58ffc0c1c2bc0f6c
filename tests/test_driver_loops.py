"""The four driver loops (connected components, k-core, PageRank, BPE)
on both paths: the exact driver path below the ``driverstate`` gate and
the distributed rounds above it (forced here with a gate of 0)."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from porcupine_spark.functions import driverstate
from porcupine_spark.operators import components, corpus


def _force_distributed(monkeypatch):
    monkeypatch.setattr(driverstate, "DRIVER_STATE_MAX_ROWS", 0)
    monkeypatch.setattr(corpus, "BPE_DRIVER_MAX_WORDS", 0)


def _planted_edges(spark, cols=("src", "dst")):
    """K4 with a pendant chain, a triangle, an isolated pair and a star:
    peels in several layers, several components, uneven degrees."""
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    rest = [(4, 10), (10, 11), (11, 12), (20, 21), (21, 22), (20, 22), (30, 31)]
    star = [(40, 40 + i) for i in range(1, 7)]
    return spark.createDataFrame(k4 + rest + star, f"{cols[0]} long, {cols[1]} long")


def _symmetric(edges):
    return edges.unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def _planted_docs(tmp_path):
    """A corpus whose merges exercise repeats ([a,a,a,a] -> [aa,aa]),
    count ties broken lexically, non-ASCII symbols ordered by code
    point, and a non-breaking space inside a token."""
    text = [
        "aaaa aaaa abab baba zz éé éé éz ze",
        "a b a b ab ba abc cab bca ab\u00a0ab",
        "xyzzy xyzzy éclair zebra zebra",
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2, 3], pa.int64()),
                "text": text,
                "lang": ["en"] * 3,
                "source": ["a", "b", "a"],
                "n_chars": pa.array([len(t) for t in text], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    return str(tmp_path)


def _bpe_state(spark, sf):
    merges, cur = corpus._bpe_train_chain(spark, sf)
    return merges, sorted(tuple(r) for r in cur.collect())


LOOPS = {
    "components_sf": lambda spark, sf, tmp: components.dedup_clusters(spark, sf),
    "kcore_sf": lambda spark, sf, tmp: components.kcore_peel_parts(spark, sf),
    "pagerank_sf": lambda spark, sf, tmp: components.pagerank_supplier_graph(spark, sf),
    "bpe_sf": lambda spark, sf, tmp: _bpe_state(spark, sf),
    "bpe_encode_sf": lambda spark, sf, tmp: corpus.bpe_encode_tokens(spark, sf),
    "components_planted": lambda spark, sf, tmp: components.connected_components(
        _planted_edges(spark)
    ),
    "kcore_planted": lambda spark, sf, tmp: components.kcore_peel(
        _planted_edges(spark, ("u", "v"))
    ),
    "pagerank_planted": lambda spark, sf, tmp: components.pagerank_scaled(
        spark, _symmetric(_planted_edges(spark))
    ),
    "bpe_planted": lambda spark, sf, tmp: _bpe_state(spark, _planted_docs(tmp)),
}


@pytest.mark.parametrize("loop", sorted(LOOPS))
def test_driver_path_equals_distributed(spark, sf_dir, tmp_path, monkeypatch, loop):
    """The driver path and the distributed rounds give the same rowset
    (for BPE: the same merges and the same final segmentation)."""

    def rows(result):
        if isinstance(result, tuple):  # BPE (merges, final words)
            return result
        return sorted(tuple(r) for r in result.collect())

    local = rows(LOOPS[loop](spark, sf_dir, tmp_path))
    with monkeypatch.context() as m:
        _force_distributed(m)
        distributed = rows(LOOPS[loop](spark, sf_dir, tmp_path))
    assert local == distributed
    assert local and (not isinstance(local, tuple) or local[0])


def test_bpe_planted_merges(spark, tmp_path):
    """Pinned merges of the planted corpus: [a,a,a,a] merges pairwise
    to [aa,aa] (round 2) and then to [aaaa] (round 5); count ties go to
    the lexically smaller pair, (z,e) before (z,z) and (x,y) before
    (é,é); a merge applies left to right (baba -> b ab a)."""
    merges, words = _bpe_state(spark, _planted_docs(tmp_path))
    assert merges == [
        (1, "a", "b", 8),
        (2, "a", "a", 6),
        (3, "z", "e", 3),
        (4, "z", "z", 3),
        (5, "aa", "aa", 2),
        (6, "b", "r", 2),
        (7, "br", "a", 2),
        (8, "x", "y", 2),
    ]
    ws = {w: s for w, s, _ in words}
    assert ws["aaaa"] == " aaaa "
    assert ws["baba"] == " b  ab  a "
    assert ws["ab\u00a0ab"] == " ab  \u00a0  ab "


@pytest.mark.parametrize("distributed", [False, True], ids=["driver", "distributed"])
def test_empty_inputs_give_empty_outputs(spark, monkeypatch, distributed):
    if distributed:
        _force_distributed(monkeypatch)
    e = spark.createDataFrame([], "src long, dst long")
    assert components.connected_components(e).collect() == []
    assert components.pagerank_scaled(spark, e).collect() == []
    assert components.kcore_peel(spark.createDataFrame([], "u long, v long")).collect() == []


@pytest.mark.parametrize("distributed", [False, True], ids=["driver", "distributed"])
def test_bpe_corpus_without_pairs_has_no_merges(spark, tmp_path, monkeypatch, distributed):
    if distributed:
        _force_distributed(monkeypatch)
    text = ["a b c", "b c d a"]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2], pa.int64()),
                "text": text,
                "lang": ["en", "en"],
                "source": ["x", "y"],
                "n_chars": pa.array([len(t) for t in text], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    merges, cur = corpus._bpe_train_chain(spark, str(tmp_path))
    assert merges == []
    assert sorted(r.ws for r in cur.collect()) == [" a ", " b ", " c ", " d "]


@pytest.mark.parametrize(
    "name, bound",
    [
        ("pagerank_supplier_graph", 8),
        ("kcore_peel_parts", 8),
        ("bpe_encode_tokens", 8),
        ("dedup_clusters", 12),
    ],
)
def test_driver_loop_build_job_bounds(spark, sf_dir, jobs_so_far, name, bound):
    """Build-phase Spark jobs of each driver-loop query on the test
    tables (sf0.001 by default; second call, so the table schemas are
    memoized). Per-round jobs coming back would multiply these counts."""
    from porcupine_spark.plans.registry import load_all_plans

    builder = load_all_plans()[name].builder
    builder(spark, sf_dir)
    j0 = jobs_so_far()
    builder(spark, sf_dir)
    assert jobs_so_far() - j0 <= bound


def test_checkpoint_drops_hash_partitioning(spark):
    """Why PageRank's shuffled-join layout does not pre-partition its
    edges: a local checkpoint of a repartition(src) frame loses the
    partitioning, so a join on src shuffles the edges again."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        edges = spark.range(64).select(
            (F.col("id") % 7).alias("src"), (F.col("id") % 5).alias("dst")
        )
        ck = edges.repartition(F.col("src")).localCheckpoint(eager=True)
        rd = spark.range(7).select(F.col("id").alias("src"), F.lit(1).alias("c"))
        plan = (
            components._pregel_contrib(ck, rd, False)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set(key, old)
    assert plan.count("Exchange hashpartitioning(src") == 2


def test_checkpoint_sized_observes_rows(spark):
    df = spark.range(10).select(F.col("id").alias("x"))
    ck, rows, table = driverstate.checkpoint_sized(df, 10)
    assert rows == 10 and table.num_rows == 10
    ck, rows, table = driverstate.checkpoint_sized(df, 9)
    assert rows == 10 and table is None and ck.count() == 10
    assert driverstate.checkpoint_sized(df, 0)[2] is None
