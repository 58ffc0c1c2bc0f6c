"""The four driver loops (connected components, k-core, PageRank, BPE)
and the near-duplicate clustering on both paths: the exact driver path
below the ``driverstate`` gate and the distributed rounds above it
(forced here with a gate of 0)."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from porcupine_spark.functions import driverstate
from porcupine_spark.operators import components, corpus, dedup


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


def _write_docs(tmp_path, rows):
    """A documents table of ``(doc_id, text)`` rows (either may be None)."""
    text = [t for _, t in rows]
    tmp_path.mkdir(exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d for d, _ in rows], pa.int64()),
                "text": pa.array(text, pa.string()),
                "lang": ["en"] * len(rows),
                "source": ["a"] * len(rows),
                "n_chars": pa.array([len(t or "") for t in text], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    return str(tmp_path)


_FOX = "the quick brown fox jumps over the lazy dog"
_FOX2 = "the quick brown fox jumps over the lazy cat"
_LOREM = "lorem ipsum dolor sit amet consectetur adipiscing elit"
_LOREM2 = "lorem ipsum dolor sit amet consectetur adipiscing sed"

# planted documents tables for dedup_clusters; every shingle of
# "all_hot" is in 30 docs, above the cutoff floor of 25
DEDUP_DOCS = {
    "dup_doc_id": [
        (1, _FOX),
        (1, _FOX),
        (2, _FOX2),
        (3, _LOREM),
        (4, _LOREM2),
        (5, "a b c d"),
        (5, "a b c d"),
    ],
    "null_text": [(1, _FOX), (2, None), (3, _FOX2), (4, None)],
    "null_doc_id": [(None, _FOX), (1, _FOX2), (2, _FOX), (3, _LOREM), (None, _LOREM2)],
    "all_hot": [(i, _FOX) for i in range(30)],
    "empty": [],
}


def _clusters(spark, sf):
    return sorted(tuple(r) for r in components.dedup_clusters(spark, sf).collect())


@pytest.mark.parametrize("case", sorted(DEDUP_DOCS))
def test_dedup_clusters_planted_paths_agree(spark, tmp_path, monkeypatch, case):
    """dedup_clusters gives one rowset on the driver path and on the
    Spark path for duplicate doc_id rows, NULL text, NULL doc_id,
    an all-hot corpus and an empty table."""
    sf = _write_docs(tmp_path, DEDUP_DOCS[case])
    local = _clusters(spark, sf)
    with monkeypatch.context() as m:
        _force_distributed(m)
        assert _clusters(spark, sf) == local
    if case in ("all_hot", "empty"):
        assert local == []
    else:
        assert local


def test_dedup_clusters_planted_pins(spark, tmp_path):
    """Duplicate doc_id rows pair with other ids, never with their own
    copies; a NULL doc_id never appears."""
    assert _clusters(spark, _write_docs(tmp_path / "d", DEDUP_DOCS["dup_doc_id"])) == [
        (1, 1),
        (2, 1),
        (3, 3),
        (4, 3),
    ]
    assert _clusters(spark, _write_docs(tmp_path / "n", DEDUP_DOCS["null_doc_id"])) == [
        (1, 1),
        (2, 1),
    ]


@pytest.mark.parametrize("distributed", [False, True], ids=["driver", "distributed"])
def test_dedup_clusters_zero_denominator_raises(spark, tmp_path, monkeypatch, distributed):
    """Two copies each of two identical-text doc ids give a Jaccard
    denominator of 0 (i = 4s, na = nb = 2s): both paths fail the way
    an ANSI division by zero does, rather than inventing an edge."""
    if distributed:
        _force_distributed(monkeypatch)
    sf = _write_docs(tmp_path, [(1, _FOX), (1, _FOX), (2, _FOX), (2, _FOX)])
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        components.dedup_clusters(spark, sf)


def test_dedup_clusters_pair_gate_falls_back_after_collect(spark, tmp_path, monkeypatch):
    """Ten copies of a 4-shingle text: 40 shingles, 180 candidate
    pairs. A gate of 100 collects the arrays, then the pair count sends
    the overlap to Spark on the checkpointed arrays; the rowset is the
    gate-0 one."""
    sf = _write_docs(tmp_path, [(i, "one two three four five six") for i in range(10)])
    with monkeypatch.context() as m:
        _force_distributed(m)
        expected = _clusters(spark, sf)
    collected, spark_overlaps = [], []
    real_ck, real_overlap = driverstate.checkpoint_sized, dedup.shingle_overlap

    def ck(*args, **kwargs):
        out = real_ck(*args, **kwargs)
        collected.append(out[1:] if out[2] is None else (out[1], out[2].num_rows))
        return out

    def overlap(arrays, cutoff):
        spark_overlaps.append(cutoff)
        return real_overlap(arrays, cutoff)

    monkeypatch.setattr(driverstate, "DRIVER_STATE_MAX_ROWS", 100)
    monkeypatch.setattr(driverstate, "checkpoint_sized", ck)
    monkeypatch.setattr(dedup, "shingle_overlap", overlap)
    assert _clusters(spark, sf) == expected == [(i, 0) for i in range(10)]
    # the arrays (40 shingles, 10 rows) came back, then the edges (45)
    assert collected == [(40, 10), (45, 45)]
    assert spark_overlaps == [25]


def test_shingle_overlap_local_pair_gate():
    """The pair gate is sum C(df_h, 2) over the kept hashes, checked
    before any pair is built; hot hashes count toward nothing."""
    t = pa.table(
        {
            "doc_id": pa.array([1, 2, 3, None], pa.int64()),
            "arr": pa.array([[10, 20], [10, 20], [10, 30], [30]], pa.list_(pa.int64())),
        }
    )
    # df: 10 -> 3, 20 -> 2, 30 -> 2; pairs 3 + 1 + 1
    assert dedup.shingle_overlap_local(t, 3, max_pairs=4) is None
    a, b, i, na, nb = dedup.shingle_overlap_local(t, 3, max_pairs=5)
    assert list(zip(a, b, i, na, nb)) == [(1, 2, 2, 2, 2), (1, 3, 1, 2, 2), (2, 3, 1, 2, 2)]
    # cutoff 2 drops hash 10: pairs 1 + 1, and the NULL doc_id row only
    # counted toward 30's document frequency
    a, b, i, na, nb = dedup.shingle_overlap_local(t, 2, max_pairs=2)
    assert list(zip(a, b, i, na, nb)) == [(1, 2, 1, 1, 1)]


def test_shingle_overlap_local_matches_reference_loop():
    """Random tables with duplicate and NULL doc ids against a plain
    per-hash loop over every pair of rows."""
    import itertools
    from collections import Counter

    import numpy as np

    rng = np.random.default_rng(7)
    for _ in range(20):
        n_rows = int(rng.integers(0, 30))
        docs = [None if rng.random() < 0.1 else int(rng.integers(0, 12)) for _ in range(n_rows)]
        arrs = [sorted({int(h) for h in rng.integers(0, 15, rng.integers(0, 6))}) for _ in docs]
        cutoff = int(rng.integers(1, 8))
        dfreq = Counter(h for a in arrs for h in a)
        rows = [(d, h) for d, a in zip(docs, arrs) for h in a if dfreq[h] <= cutoff]
        sizes = Counter(d for d, _ in rows if d is not None)
        inter = Counter(
            (x[0], y[0])
            for x, y in itertools.permutations(rows, 2)
            if x[1] == y[1] and x[0] is not None and y[0] is not None and x[0] < y[0]
        )
        want = sorted((a, b, i, sizes[a], sizes[b]) for (a, b), i in inter.items())
        t = pa.table(
            {"doc_id": pa.array(docs, pa.int64()), "arr": pa.array(arrs, pa.list_(pa.int64()))}
        )
        got = dedup.shingle_overlap_local(t, cutoff)
        assert [tuple(map(int, r)) for r in zip(*got)] == want


def test_min_labels_matches_reference_search():
    """The numpy union-find against a breadth-first search on random
    sparse graphs: every node labelled with its component's minimum."""
    import numpy as np

    rng = np.random.default_rng(11)
    for n in (1, 2, 17, 200):
        m = int(rng.integers(0, 2 * n))
        ia, ib = rng.integers(0, n, m), rng.integers(0, n, m)
        adj = {v: set() for v in range(n)}
        for a, b in zip(ia, ib):
            adj[int(a)].add(int(b))
            adj[int(b)].add(int(a))
        want = [0] * n
        seen = set()
        for v in range(n):
            if v in seen:
                continue
            comp, todo = {v}, [v]
            while todo:
                for w in adj[todo.pop()] - comp:
                    comp.add(w)
                    todo.append(w)
            seen |= comp
            for w in comp:
                want[w] = min(comp)
        assert components._min_labels(ia, ib, n).tolist() == want


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
        ("dedup_clusters", 4),
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


@pytest.mark.parametrize("distributed", [False, True], ids=["driver", "distributed"])
def test_kcore_zero_rounds_keeps_every_node(spark, monkeypatch, distributed):
    """rounds=0 peels nothing: every node of the edge list, in the core."""
    if distributed:
        _force_distributed(monkeypatch)
    edges = _planted_edges(spark, ("u", "v"))
    nodes = {r[0] for r in edges.collect()} | {r[1] for r in edges.collect()}
    got = sorted(tuple(r) for r in components.kcore_peel(edges, rounds=0).collect())
    assert got == [(n, 0, True) for n in sorted(nodes)]


def test_checkpoint_sized_observes_rows(spark):
    df = spark.range(10).select(F.col("id").alias("x"))
    ck, rows, table = driverstate.checkpoint_sized(df, 10)
    assert rows == 10 and table.num_rows == 10
    ck, rows, table = driverstate.checkpoint_sized(df, 9)
    assert rows == 10 and table is None and ck.count() == 10
    assert driverstate.checkpoint_sized(df, 0)[2] is None


def test_checkpoint_sized_observes_size_aggregate(spark):
    """size= replaces the row count with any aggregate of the same job;
    an empty input's NULL sum reads as 0 and is collected."""
    df = spark.range(10).select(F.array(F.col("id"), F.col("id")).alias("a"))
    size = F.sum(F.size("a"))
    ck, n, table = driverstate.checkpoint_sized(df, 20, size=size)
    assert n == 20 and table.num_rows == 10
    ck, n, table = driverstate.checkpoint_sized(df, 19, size=size)
    assert n == 20 and table is None and ck.count() == 10
    ck, n, table = driverstate.checkpoint_sized(df.where(F.lit(False)), 1, size=size)
    assert n == 0 and table.num_rows == 0
