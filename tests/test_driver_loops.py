"""The four driver loops (connected components, k-core, PageRank, BPE)
and the near-duplicate clustering on both paths: the exact driver path
below the ``driverstate`` gate and the distributed rounds above it
(forced here with a gate of 0); the numpy edge derivations of
``kcore_peel_parts`` and ``pagerank_supplier_graph`` against their
Spark twins and oracles; the stored-row-count memo that gates them;
the triangle counts on planted graphs; the PageRank layouts and the
co-purchase edge stage; the BPE merge encoding, training invariants
and the one-pass encode against its oracle; and the one
materialization path."""

import ast
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from porcupine_spark import serials, tables
from porcupine_spark.bucketing import executed_plan, plan_node_counts
from porcupine_spark.functions import driverstate
from porcupine_spark.operators import components, corpus, dedup
from test_streaming import package_lines


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


def _planted_encode_docs(tmp_path):
    """A corpus for the encode roll-up: a NULL source, a NULL text, a
    whitespace-only text, U+00A0 and U+2028 inside tokens, a
    supplementary-plane character, and "abab" in three sources."""
    rows = [
        ("a", "abab ab\u00a0ab aaaa x\u2028y zz"),
        ("b", "abab baba\tzz  \n zz"),
        (None, "abab x\u2028y \U0001F600\U0001F600a \U0001F600\U0001F600a"),
        ("b", None),
        ("c", " \t\n "),
        ("a", "aaaa ab\u00a0ab"),
    ]
    text = [t for _, t in rows]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(1, len(rows) + 1), pa.int64()),
                "text": pa.array(text, pa.string()),
                "lang": ["en"] * len(rows),
                "source": pa.array([s for s, _ in rows], pa.string()),
                "n_chars": pa.array([len(t or "") for t in text], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    return str(tmp_path)


def _write_docs(tmp_path, rows):
    """A documents table of ``(doc_id, text[, source])`` rows (any may be
    None; the source defaults to "a")."""
    rows = [(*r, "a")[:3] for r in rows]
    text = [t for _, t, _ in rows]
    tmp_path.mkdir(exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d for d, _, _ in rows], pa.int64()),
                "text": pa.array(text, pa.string()),
                "lang": ["en"] * len(rows),
                "source": pa.array([s for _, _, s in rows], pa.string()),
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


def _spark_text_derivation(monkeypatch):
    """Take the text state from the Spark derivation: the direct read of
    ``documents`` is made unavailable."""
    monkeypatch.setattr(driverstate, "local_batches", lambda *args, **kwargs: None)


def test_dedup_clusters_pair_gate_falls_back_after_collect(spark, tmp_path, monkeypatch):
    """Ten copies of a 4-shingle text: 40 shingles, 180 candidate
    pairs. A gate of 100 takes the arrays, derived on the driver or
    collected from the Spark derivation's checkpoint, then the pair
    count sends the overlap to Spark; the rowset is the gate-0 one on
    both derivations."""
    sf = _write_docs(tmp_path, [(i, "one two three four five six") for i in range(10)])
    with monkeypatch.context() as m:
        _force_distributed(m)
        expected = _clusters(spark, sf)
    real_ck, real_overlap = driverstate.checkpoint_sized, dedup.shingle_overlap
    for derivation, arrays in (("driver", []), ("spark", [(40, 10)])):
        collected, spark_overlaps = [], []

        def ck(*args, **kwargs):
            out = real_ck(*args, **kwargs)
            collected.append(out[1:] if out[2] is None else (out[1], out[2].num_rows))
            return out

        def overlap(arrays, cutoff):
            spark_overlaps.append(cutoff)
            return real_overlap(arrays, cutoff)

        with monkeypatch.context() as m:
            if derivation == "spark":
                _spark_text_derivation(m)
            m.setattr(driverstate, "DRIVER_STATE_MAX_ROWS", 100)
            m.setattr(driverstate, "checkpoint_sized", ck)
            m.setattr(dedup, "shingle_overlap", overlap)
            assert _clusters(spark, sf) == expected == [(i, 0) for i in range(10)]
        # the arrays (40 shingles, 10 rows) came back from the Spark
        # derivation only, then the edges (45) on both
        assert collected == arrays + [(45, 45)], derivation
        assert spark_overlaps == [25], derivation


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
    "bpe_encode_planted": lambda spark, sf, tmp: corpus.bpe_encode_tokens(
        spark, _planted_encode_docs(tmp)
    ),
}


@pytest.mark.parametrize("loop", sorted(LOOPS))
def test_driver_path_equals_distributed(spark, sf_dir, tmp_path, monkeypatch, loop):
    """The driver path and the distributed rounds give the same rowset
    (for BPE: the same merges and the same final segmentation)."""

    def rows(result):
        if isinstance(result, tuple):  # BPE (merges, final words)
            return result
        return sorted((tuple(r) for r in result.collect()), key=repr)

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


def _encode_rows(rows):
    return sorted(((s, int(n), int(t), int(f)) for s, n, t, f in rows), key=repr)


def test_bpe_encode_planted_paths_and_oracle_agree(spark, tmp_path, monkeypatch):
    """The driver path, the gate-0 rounds and the DuckDB oracle give the
    same per-source roll-up of the planted corpus: the NULL source is
    one group, a source whose only text is whitespace has no row, and
    U+2028 is a symbol of its own on every path."""
    import duckdb

    sf = _planted_encode_docs(tmp_path)
    local = _encode_rows(corpus.bpe_encode_tokens(spark, sf).collect())
    with monkeypatch.context() as m:
        _force_distributed(m)
        distributed = _encode_rows(corpus.bpe_encode_tokens(spark, sf).collect())
    con = duckdb.connect()
    parquet = tmp_path / "documents.parquet"
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{parquet}')")
    oracle = _encode_rows(con.sql(corpus._bpe_encode_oracle_sql()).fetchall())
    assert local == distributed == oracle
    assert [r[0] for r in local] == ["a", "b", None]
    # U+2028 is wrapped as a symbol of its own, which a merge then joins
    # to x (Java's `.` without (?s) leaves it unwrapped: " x \u2028 y ")
    _, words = _bpe_state(spark, sf)
    assert {w: s for w, s, _ in words}["x\u2028y"] == " x\u2028  y "


_ODD = "the qu\x0bick br\u00a0own fox ju\u2028mps over the \U0001F600lazy dog \U0001D518"
_ODD2 = "the qu\x0bick br\u00a0own fox ju\u2028mps over the \U0001F600lazy cat \U0001D518"

# planted documents tables for the text state of dedup_clusters and BPE
TEXT_TABLES = {
    "nulls": [
        (None, _FOX, "a"),
        (1, _FOX2, None),
        (2, None, "b"),
        (3, _FOX, None),
        (None, _LOREM, "b"),
        (4, _LOREM2, "a"),
        (5, None, None),
    ],
    "duplicate_ids": [
        (1, _FOX, "a"),
        (1, _LOREM, "b"),
        (2, _FOX2, "a"),
        (3, _LOREM2, "b"),
        (3, _LOREM2 + " extra words here", "a"),
    ],
    "empty_blank_short": [
        (1, "", "a"),
        (2, " \t\n ", "b"),
        (3, "ab", "a"),
        (4, "ab cd", "b"),
        (5, "\tab  cd\n", "a"),
        (6, _FOX, "b"),
        (7, _FOX2, "a"),
    ],
    "unicode_in_words": [
        (1, _ODD, "a"),
        (2, _ODD2, "b"),
        (3, _ODD.replace("\x0b", " "), "a"),
        (4, "\U0001F600\U0001F600a \U0001F600\U0001F600a x\u2028y \u00a0", "c"),
        (5, _LOREM, "c"),
    ],
    "empty": [],
}


def _text_rows(spark, sf):
    """dedup_clusters, bpe_encode_tokens and bpe_merge_train rowsets."""
    clusters = sorted(tuple(r) for r in components.dedup_clusters(spark, sf).collect())
    encode = _encode_rows(corpus.bpe_encode_tokens(spark, sf).collect())
    merges = sorted(tuple(r) for r in corpus.bpe_merge_train(spark, sf).collect())
    return clusters, encode, merges


def _text_oracle_rows(sf):
    """``_text_rows`` from the three queries' DuckDB oracles."""
    import duckdb

    from porcupine_spark.plans.registry import REGISTRY

    con = duckdb.connect()
    path = tables.table_path(sf, "documents")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    try:
        clusters, encode, merges = (
            con.sql(REGISTRY[q].oracle).fetchall()
            for q in ("dedup_clusters", "bpe_encode_tokens", "bpe_merge_train")
        )
        return sorted(clusters), _encode_rows(encode), sorted(merges)
    finally:
        con.close()


@pytest.mark.parametrize("case", sorted(TEXT_TABLES))
def test_text_state_planted_paths_agree(spark, tmp_path, monkeypatch, case):
    """dedup_clusters, bpe_encode_tokens and bpe_merge_train give their
    oracles' rowsets from the state derived on the driver, from the
    Spark derivation and from the gate-0 distributed rounds, for NULL
    text, doc_id and source, duplicate doc ids, empty, blank and 1-2
    token texts, U+000B, U+00A0 and U+2028 inside words, and
    supplementary-plane characters."""
    sf = _write_docs(tmp_path, TEXT_TABLES[case])
    sized = []
    real_ck = driverstate.checkpoint_sized

    def ck(*args, **kwargs):
        sized.append(1)
        return real_ck(*args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(driverstate, "checkpoint_sized", ck)
        local = _text_rows(spark, sf)
        assert sized == []
        _spark_text_derivation(m)
        assert _text_rows(spark, sf) == local
        assert len(sized) == 3
    with monkeypatch.context() as m:
        _force_distributed(m)
        assert _text_rows(spark, sf) == local
    assert _text_oracle_rows(sf) == local
    if case == "empty":
        assert local == ([], [], [])
    else:
        assert all(local)


def test_text_state_read_stops_at_the_gate(spark, tmp_path, monkeypatch):
    """A documents table of three part files: once the state passes the
    gate, the direct read stops after that file's batch and the Spark
    derivation gives the gate-0 rowsets."""
    d = tmp_path / "documents.parquet"
    parts = [[(1, _FOX, "a"), (2, _FOX2, "b")], [(3, _LOREM, "a")], [(4, _LOREM2, "c")]]
    for i, rows in enumerate(parts):
        _write_docs(tmp_path / f"p{i}", rows)
        d.mkdir(exist_ok=True)
        os.replace(tmp_path / f"p{i}" / "documents.parquet", d / f"part-{i}.parquet")
    sf = str(tmp_path)
    with monkeypatch.context() as m:
        _force_distributed(m)
        expected = _text_rows(spark, sf)
    batches = []
    real = tables.local_columns

    def counting(*args):
        reader = real(*args)

        def spy():
            for batch in reader:
                batches.append(batch.num_rows)
                yield batch

        return pa.RecordBatchReader.from_batches(reader.schema, spy())

    monkeypatch.setattr(tables, "local_columns", counting)
    # the first file holds 14 shingles (dedup) and 16 (source, word)
    # rows (encode) but 9 distinct words: training passes 10 only in
    # the second file
    monkeypatch.setattr(driverstate, "DRIVER_STATE_MAX_ROWS", 10)
    monkeypatch.setattr(corpus, "BPE_DRIVER_MAX_WORDS", 10)
    assert _text_rows(spark, sf) == expected
    assert batches == [2, 2, 2, 1]
    batches.clear()
    monkeypatch.setattr(driverstate, "DRIVER_STATE_MAX_ROWS", 100)
    monkeypatch.setattr(corpus, "BPE_DRIVER_MAX_WORDS", 100)
    assert _text_rows(spark, sf) == expected
    assert batches == [2, 1, 1] * 3


def test_bpe_encode_scans_documents_once(spark, sf_dir, monkeypatch):
    """Above the gate the encode tokenizes documents once: of the plans
    it materializes and the plan it returns, exactly one scans
    documents (the rounds and the roll-up read the checkpoint)."""
    censuses = []
    real = driverstate.materialize

    def recording(df, eager=True):
        censuses.append(plan_node_counts(df))
        return real(df, eager)

    monkeypatch.setattr(driverstate, "materialize", recording)
    monkeypatch.setattr(corpus, "materialize", recording)
    _force_distributed(monkeypatch)
    censuses.append(plan_node_counts(corpus.bpe_encode_tokens(spark, sf_dir)))
    assert sum(c["FileSourceScanExec"] for c in censuses) == 1, censuses


def test_bpe_wrapped_replace_is_greedy_nonoverlapping(spark):
    """The space-wrapped encoding + builtin replace must implement
    BPE's greedy left-to-right NON-overlapping merge pass: [a,a,a,a]
    with merge (a,a) becomes [aa,aa], and [a,a,a] becomes [aa,a] —
    the cases a shared-separator encoding gets wrong."""
    df = spark.createDataFrame(
        [("aaaa",), ("aaa",), ("aba",)], "word string"
    ).select(F.regexp_replace("word", "(.)", " $1 ").alias("ws"))
    merged = df.select(
        F.split(
            F.trim(F.replace(F.col("ws"), F.lit(" a  a "), F.lit(" aa "))), "  "
        ).alias("syms")
    )
    got = sorted(tuple(r.syms) for r in merged.collect())
    assert got == sorted([("aa", "aa"), ("aa", "a"), ("a", "b", "a")])


def test_bpe_merge_train_chains_merges(spark, sf_dir):
    """Training must RE-SEGMENT between rounds: on a corpus dominated by
    one repeated word, later rounds merge symbols that only exist
    because earlier rounds created them."""
    from porcupine_spark.operators.corpus import bpe_merge_train

    rows = bpe_merge_train(spark, sf_dir).collect()
    assert [r.merge_round for r in rows] == list(range(1, len(rows) + 1))
    produced = set()
    chained = 0
    for r in rows:
        if r.left_sym in produced or r.right_sym in produced:
            chained += 1
        produced.add(r.merged)
        assert r.merged == r.left_sym + r.right_sym
    # real text at any sf yields at least one chained merge in 8 rounds
    assert chained >= 1, [tuple(r) for r in rows]
    # counts are non-increasing is NOT guaranteed (re-segmentation can
    # expose new pairs), but every count must be positive
    assert all(r.n_occurrences > 0 for r in rows)


def test_bpe_train_no_global_window(spark, sf_dir, monkeypatch):
    """The per-round argmax must plan as TakeOrderedAndProject (limit 1),
    never a partition-less window over the pair table."""
    import io
    import os
    import sys

    from porcupine_spark.operators import corpus

    # the distributed merge rounds, not the driver path
    monkeypatch.setattr(corpus, "BPE_DRIVER_MAX_WORDS", 0)

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
        ),
    )
    from plan_audit import has_global_window

    from porcupine_spark.plans.registry import load_all_plans

    df = load_all_plans()["bpe_merge_train"].builder(spark, sf_dir)
    # result is a driver-built literal table; the plan guard that matters
    # is the per-round pair ranking, exercised inside the builder. Build
    # the round-1 pair plan directly and check it.
    from porcupine_spark.functions import seq1
    from porcupine_spark.operators.text import tokens
    from porcupine_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    cur = words.select(F.regexp_replace("word", "(.)", " $1 ").alias("ws"), "freq")
    syms = F.split(F.trim(F.col("ws")), "  ")
    pairs = cur.select(
        "freq",
        F.explode(
            F.transform(
                seq1(F.size(syms) - 1),
                lambda i: F.struct(
                    F.element_at(syms, i).alias("ls"),
                    F.element_at(syms, i + 1).alias("rs"),
                ),
            )
        ).alias("p"),
    ).select("freq", "p.ls", "p.rs")
    best = (
        pairs.groupBy("ls", "rs")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.desc("n"), F.asc("ls"), F.asc("rs"))
        .limit(1)
    )
    plan = executed_plan(best)
    assert "TakeOrderedAndProject" in plan
    assert not has_global_window(plan)


def test_bpe_encode_fertility_bounds(spark, sf_dir):
    """Encoding invariants: every word costs at least 1 subword and at
    most its character count; 8 merges must compress SOMETHING, so
    corpus fertility lands strictly between 1.0 and the char-level
    ceiling."""
    from porcupine_spark.operators.corpus import bpe_encode_tokens
    from porcupine_spark.operators.text import tokens
    from porcupine_spark.tables import load_table

    rows = bpe_encode_tokens(spark, sf_dir).collect()
    assert rows
    total_words = sum(r.n_words for r in rows)
    total_sub = sum(r.n_subword_tokens for r in rows)
    docs = load_table(spark, sf_dir, "documents")
    total_chars = (
        docs.select(
            F.explode(tokens(F.col("text"))).alias("w")
        )
        .filter(F.col("w") != "")
        .agg(F.sum(F.length("w")))
        .collect()[0][0]
    )
    assert total_words <= total_sub < total_chars
    for r in rows:
        assert r.fertility_milli >= 1000
        assert r.fertility_milli == r.n_subword_tokens * 1000 // r.n_words


def test_bpe_oracle_survives_empty_merge_round():
    """When a merge round finds no pairs (corpus fully
    merged inside the budget), the oracle's per-round CTE must pass the
    word table through unchanged — a cross join with the empty best-pair
    CTE would annihilate it and silently break bpe_encode_tokens parity."""
    import duckdb

    from porcupine_spark.operators.corpus import _bpe_encode_oracle_sql

    con = duckdb.connect()
    # one distinct 2-char word: exactly ONE merge is possible, then all
    # later rounds are empty
    con.execute(
        "CREATE VIEW documents AS SELECT 1 AS doc_id, 'srcX' AS source,"
        " 'ab ab ab' AS text"
    )
    df = con.sql(_bpe_encode_oracle_sql(4)).df()
    assert len(df) == 1
    assert int(df.n_words[0]) == 3
    assert int(df.n_subword_tokens[0]) == 3  # 'ab' merged to one symbol
    assert int(df.fertility_milli[0]) == 1000


def test_bpe_wrapped_replace_property_vs_reference(spark):
    """Property: one merge pass via the space-wrapped string replace ==
    a pure-Python reference greedy left-to-right non-overlapping merger,
    over random symbol sequences INCLUDING multi-char symbols that share
    prefixes/suffixes with the merge pair (the class where a sloppy
    string encoding would false-match across symbol boundaries)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    symbols = st.sampled_from(["a", "b", "ab", "ba", "aa", "aab"])

    def ref_merge(syms, ls, rs):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == ls and syms[i + 1] == rs:
                out.append(ls + rs)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    @settings(max_examples=10, deadline=None)
    @given(
        seqs=st.lists(
            st.lists(symbols, min_size=1, max_size=12), min_size=1, max_size=8
        ),
        pair=st.tuples(symbols, symbols),
    )
    def prop(seqs, pair):
        from pyspark.sql import functions as F

        ls, rs = pair
        df = spark.createDataFrame(
            [(" " + "  ".join(s) + " ",) for s in seqs], "ws string"
        )
        got = [
            tuple(r.syms)
            for r in df.select(
                F.split(
                    F.trim(
                        F.replace(
                            F.col("ws"),
                            F.lit(f" {ls}  {rs} "),
                            F.lit(f" {ls}{rs} "),
                        )
                    ),
                    "  ",
                ).alias("syms")
            ).collect()
        ]
        want = [tuple(ref_merge(s, ls, rs)) for s in seqs]
        assert got == want, (pair, seqs)

    prop()


@pytest.mark.parametrize(
    "name, bound",
    [
        ("pagerank_supplier_graph", 2),
        ("kcore_peel_parts", 1),
        ("bpe_encode_tokens", 3),
        ("dedup_clusters", 2),
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


@pytest.mark.parametrize(
    "name",
    [
        "pagerank_supplier_graph",
        "kcore_peel_parts",
        "dedup_clusters",
        "bpe_encode_tokens",
        "bpe_merge_train",
    ],
)
def test_driver_loop_builders_submit_no_jobs(spark, sf_dir, tmp_path, jobs_so_far, name):
    """Below the gates a driver-loop builder reads its base columns
    straight from the parquet files and derives its state on the
    driver: no Spark job, on a first call over tables no memo has seen
    (a copy of the test tables) and on a second."""
    import shutil

    from porcupine_spark.plans.registry import load_all_plans

    for t in ("documents", "lineitem", "orders"):
        shutil.copyfile(tables.table_path(sf_dir, t), tables.table_path(str(tmp_path), t))
    builder = load_all_plans()[name].builder
    for _ in range(2):
        j0 = jobs_so_far()
        builder(spark, str(tmp_path))
        assert jobs_so_far() == j0


def test_bpe_encode_action_job_bound(spark, sf_dir, jobs_so_far):
    """Below the gate the encode returns a driver-built |sources|-row
    frame: an aggregate reading every column of it runs at most 2
    jobs, with no per-occurrence join left in the action."""
    df = corpus.bpe_encode_tokens(spark, sf_dir)
    j0 = jobs_so_far()
    df.agg(F.sum(F.xxhash64(*df.columns) % 1024)).collect()
    assert jobs_so_far() - j0 <= 2


def test_checkpoint_drops_hash_partitioning(spark):
    """``materialize``'s documented contract, and why PageRank's
    shuffled-join layout does not pre-partition its edges: the
    checkpoint of a repartition(src) frame loses the partitioning, so a
    join on src shuffles the edges again."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        edges = spark.range(64).select(
            (F.col("id") % 7).alias("src"), (F.col("id") % 5).alias("dst")
        )
        ck = edges.repartition(F.col("src")).transform(driverstate.materialize)
        rd = spark.range(7).select(F.col("id").alias("src"), F.lit(1).alias("c"))
        census = plan_node_counts(components._pregel_contrib(ck, rd, False))
    finally:
        spark.conf.set(key, old)
    assert census["ShuffleExchangeExec"] == 2


MATERIALIZE = os.path.join("functions", "driverstate.py")


def _checkpoint_calls(tree: ast.AST):
    """Line of every ``.localCheckpoint(...)`` or ``.checkpoint(...)`` call."""
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("localCheckpoint", "checkpoint")
        ):
            yield node.lineno


def test_intermediates_materialize_only_through_driverstate():
    """An intermediate is kept only through ``driverstate.materialize``,
    so how safely it is kept is decided in one place."""
    found = package_lines(_checkpoint_calls)
    stray = {rel: lines for rel, lines in found.items() if rel != MATERIALIZE}
    assert not stray, f"checkpoint calls outside {MATERIALIZE}: {stray}"
    # and the scan still sees the one real checkpoint
    assert MATERIALIZE in found


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


def test_kcore_peel_planted(spark, monkeypatch):
    """K4 with a pendant chain: the chain peels layer by layer, K4 is
    the 3-core (distributed rounds)."""
    monkeypatch.setattr(driverstate, "DRIVER_STATE_MAX_ROWS", 0)
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    chain = [(4, 10), (10, 11), (11, 12)]
    edges = spark.createDataFrame(k4 + chain, "u long, v long")
    out = {r.node: r for r in components.kcore_peel(edges, k=3, rounds=6).collect()}
    for n in (1, 2, 3, 4):
        assert out[n].in_core and out[n].removed_round == 0
    # whole chain has degree < 3 from round 1
    for n in (10, 11, 12):
        assert not out[n].in_core and out[n].removed_round == 1


def test_kcore_peel_converges_within_budget(spark, sf_dir, monkeypatch):
    """On the real co-purchase graph the fixed budget IS the fixpoint:
    two extra rounds change nothing (so the result is the true k-core,
    checked on the distributed rounds)."""
    monkeypatch.setattr(driverstate, "DRIVER_STATE_MAX_ROWS", 0)
    e = components._copurchase_edges(spark, sf_dir)
    rounds = components.KCORE_ROUNDS
    base = {tuple(r) for r in components.kcore_peel(e, rounds=rounds).collect()}
    more = {tuple(r) for r in components.kcore_peel(e, rounds=rounds + 2).collect()}
    # survivors identical; removed rounds identical for all removed nodes
    assert {t for t in base if t[1] == 0} == {t for t in more if t[1] == 0}
    assert {t for t in base if 0 < t[1] < rounds} == {t for t in more if 0 < t[1] < rounds}


def test_triangle_counts_planted(spark):
    """K4 plus a pendant: every corner of K4 sits on C(3,2)=3 triangles,
    lcc=1.0 for the degree-3 corners; the pendant node has none."""
    from porcupine_spark.operators.components import triangle_counts

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = spark.createDataFrame(k4 + [(4, 9)], "u long, v long")
    out = {r.node: r for r in triangle_counts(edges).collect()}
    for n in (1, 2, 3):
        assert out[n].triangles == 3 and out[n].degree == 3
        assert out[n].lcc_ppm == 1_000_000
    # node 4 has degree 4 (extra pendant edge): 3 triangles over C(4,2)=6
    assert out[4].triangles == 3 and out[4].degree == 4
    assert out[4].lcc_ppm == 500_000
    assert out[9].triangles == 0 and out[9].lcc_ppm == 0


def test_triangle_counts_skew_star(spark):
    """A star graph (max-skew hub) has ZERO triangles and — the scale
    property under test — the hub generates no wedge blowup: orientation
    sends every spoke->hub edge INTO the hub (spokes have lower degree),
    so the hub's out-degree is 0 and the wedge join emits nothing."""
    from porcupine_spark.operators.components import triangle_counts

    star = [(i, 100) for i in range(1, 40)]
    out = triangle_counts(spark.createDataFrame(star, "u long, v long"))
    rows = out.collect()
    assert all(r.triangles == 0 for r in rows)
    hub = next(r for r in rows if r.node == 100)
    assert hub.degree == 39 and hub.lcc_ppm == 0


def _write_trade(path, items, orders, key_type=pa.int64()):
    """lineitem ``(l_orderkey, l_partkey, l_suppkey)`` and orders
    ``(o_orderkey, o_custkey)`` tables under ``path`` (None is NULL)."""
    path.mkdir(exist_ok=True)

    def col(rows, i, t):
        return pa.array([r[i] for r in rows], t)

    pq.write_table(
        pa.table(
            {
                "l_orderkey": col(items, 0, pa.int64()),
                "l_partkey": col(items, 1, key_type),
                "l_suppkey": col(items, 2, pa.int64()),
            }
        ),
        str(path / "lineitem.parquet"),
    )
    pq.write_table(
        pa.table(
            {"o_orderkey": col(orders, 0, pa.int64()), "o_custkey": col(orders, 1, pa.int64())}
        ),
        str(path / "orders.parquet"),
    )
    return str(path)


def _basket_items():
    """Twenty orders of 2-5 parts out of 9 (so many pairs repeat and a
    3-core exists) and two orders pairing part 0 with part 20 (a
    pendant that peels), suppliers part-dependent."""
    import numpy as np

    rng = np.random.default_rng(5)
    baskets = [rng.choice(9, int(rng.integers(2, 6)), replace=False) for _ in range(20)]
    baskets += [[0, 20], [20, 0]]
    return [(ok, int(pk), int(pk) % 4 + 100) for ok, b in enumerate(baskets, 1) for pk in b]


_ITEMS = _basket_items()
_ORDERS = [(ok, ok % 6) for ok in range(1, 23)]
_BIG = 2**62

# planted (lineitem, orders) tables for the two numpy derivations
TRADE_TABLES = {
    "basket": (_ITEMS, _ORDERS),
    "null_keys": (
        _ITEMS + [(None, 1, 100), (3, None, 101), (None, None, 102), (25, 2, 100)],
        _ORDERS + [(None, 4), (25, 3)],
    ),
    "null_pair_keys": (
        _ITEMS + [(3, 5, None), (7, 2, None), (40, 1, 100), (40, 2, 104)],
        _ORDERS + [(40, None)],
    ),
    "duplicate_rows": (_ITEMS + _ITEMS[::3] + _ITEMS[:2], _ORDERS),
    "duplicate_orderkey": (_ITEMS, _ORDERS + [(ok, ok % 6 + 10) for ok in range(1, 23, 4)]),
    "single_item_orders": (
        _ITEMS + [(ok, ok % 9, 103) for ok in range(30, 40)],
        _ORDERS + [(ok, 7) for ok in range(30, 40)],
    ),
    "orphan_rows": (_ITEMS + [(50, 1, 100), (50, 2, 100)], _ORDERS + [(60, 1)]),
    "large_part_keys": ([(ok, pk + 2**63 - 30, sk) for ok, pk, sk in _ITEMS], _ORDERS),
    "empty": ([], []),
}


def _trade_rows(spark, sf):
    kcore = sorted(tuple(r) for r in components.kcore_peel_parts(spark, sf).collect())
    ranks = sorted(tuple(r) for r in components.pagerank_supplier_graph(spark, sf).collect())
    return kcore, ranks


def _trade_oracle_rows(sf):
    """``_trade_rows`` from the two queries' DuckDB oracles."""
    import duckdb

    from porcupine_spark.plans.registry import REGISTRY

    con = duckdb.connect()
    for t in ("lineitem", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables.table_path(sf, t)}')")
    try:
        return tuple(
            sorted(con.sql(REGISTRY[q].oracle).fetchall())
            for q in ("kcore_peel_parts", "pagerank_supplier_graph")
        )
    finally:
        con.close()


def _spy_derivations(monkeypatch):
    """Record which k-core and PageRank edge derivations run: the
    collected table sizes and the Spark derivations' calls."""
    seen = {"collected": [], "spark": []}
    real_collect = driverstate.collect_small_table
    real_edges, real_pr = components._copurchase_edges, components.pagerank_scaled

    def collect(spark, sf_dir, name, cols, max_rows=None):
        out = real_collect(spark, sf_dir, name, cols, max_rows)
        seen["collected"].append((name, None if out is None else out.num_rows))
        return out

    def edges(spark, sf_dir):
        seen["spark"].append("kcore")
        return real_edges(spark, sf_dir)

    def pagerank(*args, **kwargs):
        seen["spark"].append("pagerank")
        return real_pr(*args, **kwargs)

    monkeypatch.setattr(driverstate, "collect_small_table", collect)
    monkeypatch.setattr(components, "_copurchase_edges", edges)
    monkeypatch.setattr(components, "pagerank_scaled", pagerank)
    return seen


@pytest.mark.parametrize("case", sorted(TRADE_TABLES))
def test_trade_graphs_planted_paths_agree(spark, tmp_path, monkeypatch, case):
    """kcore_peel_parts and pagerank_supplier_graph give their oracles'
    rowsets from the numpy derivations, from the Spark derivations
    iterated on the driver and from the gate-0 distributed rounds, for
    NULL join, part, customer and supplier keys (a pair with a NULL key
    is dropped everywhere), duplicate rows, duplicate o_orderkey,
    single-item orders, rows without a join partner, part keys near
    2^63 and empty tables."""
    sf = _write_trade(tmp_path, *TRADE_TABLES[case])
    with monkeypatch.context() as m:
        seen = _spy_derivations(m)
        local = _trade_rows(spark, sf)
    assert seen["spark"] == []
    with monkeypatch.context() as m:
        seen = _spy_derivations(m)
        m.setattr(components, "_copurchase_edges_local", lambda *a: None)
        m.setattr(components, "_trade_pairs_local", lambda *a: None)
        assert _trade_rows(spark, sf) == local
    assert seen["spark"] == ["kcore", "pagerank"]
    with monkeypatch.context() as m:
        _force_distributed(m)
        assert _trade_rows(spark, sf) == local
    assert _trade_oracle_rows(sf) == local
    if case == "empty":
        assert local == ([], [])
    else:
        assert all(local)
        assert any(r[2] for r in local[0]) and any(not r[2] for r in local[0])


def test_kcore_int_part_keys_keep_their_type(spark, tmp_path):
    sf = _write_trade(tmp_path, _ITEMS, _ORDERS, key_type=pa.int32())
    assert dict(components.kcore_peel_parts(spark, sf).dtypes)["part_key"] == "int"


def test_kcore_pair_gate_falls_back_after_collect(spark, tmp_path, monkeypatch):
    """Ten orders of the same six parts: 60 stored rows, 150 within-order
    pairs. A gate of 100 collects lineitem, then the pair count sends
    the derivation to Spark; the rowset is the gate-0 one."""
    items = [(ok, pk, 100) for ok in range(10) for pk in range(6)]
    sf = _write_trade(tmp_path, items, [(ok, 1) for ok in range(10)])
    with monkeypatch.context() as m:
        _force_distributed(m)
        expected = sorted(tuple(r) for r in components.kcore_peel_parts(spark, sf).collect())
    seen = _spy_derivations(monkeypatch)
    monkeypatch.setattr(driverstate, "DRIVER_STATE_MAX_ROWS", 100)
    got = sorted(tuple(r) for r in components.kcore_peel_parts(spark, sf).collect())
    assert got == expected == [(pk, 0, True) for pk in range(6)]
    assert seen == {"collected": [("lineitem", 60)], "spark": ["kcore"]}


def test_pagerank_join_gate_falls_back_after_collect(spark, tmp_path, monkeypatch):
    """Ten lineitem rows and ten orders rows on one orderkey: a join of
    100 rows. A gate of 50 collects both tables, then the join size
    sends the derivation to Spark; the rowset is the gate-0 one."""
    sf = _write_trade(
        tmp_path, [(1, 1, 100 + i) for i in range(10)], [(1, 10 + i) for i in range(10)]
    )
    with monkeypatch.context() as m:
        _force_distributed(m)
        expected = sorted(tuple(r) for r in components.pagerank_supplier_graph(spark, sf).collect())
    seen = _spy_derivations(monkeypatch)
    monkeypatch.setattr(driverstate, "DRIVER_STATE_MAX_ROWS", 50)
    got = sorted(tuple(r) for r in components.pagerank_supplier_graph(spark, sf).collect())
    assert got == expected and len(got) == 20
    assert seen == {"collected": [("lineitem", 10), ("orders", 10)], "spark": ["pagerank"]}


@pytest.mark.parametrize("key", [_BIG, -_BIG, 2**63 - 1], ids=["2^62", "-2^62", "max"])
@pytest.mark.parametrize("distributed", [False, True], ids=["driver", "distributed"])
def test_pagerank_packed_id_overflow_surfaces(spark, tmp_path, monkeypatch, key, distributed):
    """A customer key with |key| >= 2^62 has no packed id 2k within
    int64: the numpy path steps aside and the Spark path raises its
    ANSI overflow error (-2^62 still packs: 2k = -2^63)."""
    if distributed:
        _force_distributed(monkeypatch)
    seen = _spy_derivations(monkeypatch)
    sf = _write_trade(tmp_path, _ITEMS, _ORDERS[:-1] + [(22, key)])
    if key == -_BIG:
        rows = components.pagerank_supplier_graph(spark, sf).collect()
        assert f"c:{key}" in {r.node for r in rows}
    else:
        with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
            components.pagerank_supplier_graph(spark, sf).collect()
    assert seen["spark"] == ["pagerank"]


def test_copurchase_edges_local_matches_reference_loop():
    """Random item tables with NULL and duplicate keys against a plain
    per-order loop over every pair of distinct parts."""
    import itertools
    from collections import Counter

    import numpy as np

    rng = np.random.default_rng(3)
    for _ in range(20):
        n = int(rng.integers(0, 60))
        ok = [None if rng.random() < 0.05 else int(rng.integers(0, 10)) for _ in range(n)]
        pk = [None if rng.random() < 0.05 else int(rng.integers(0, 12)) for _ in range(n)]
        baskets: dict = {}
        for o, p in zip(ok, pk):
            if o is not None and p is not None:
                baskets.setdefault(o, set()).add(p)
        support = Counter(
            pair for b in baskets.values() for pair in itertools.combinations(sorted(b), 2)
        )
        want = sorted(p for p, c in support.items() if c >= components.TRI_MIN_SUPPORT)
        t = pa.table(
            {"l_orderkey": pa.array(ok, pa.int64()), "l_partkey": pa.array(pk, pa.int64())}
        )
        n_pairs = sum(len(b) * (len(b) - 1) // 2 for b in baskets.values())
        assert components._copurchase_edges_local(t, n_pairs - 1 if n_pairs else -1) is None
        u, v = components._copurchase_edges_local(t, n_pairs)
        assert list(zip(u.tolist(), v.tolist())) == want


def test_trade_pairs_local_matches_reference_loop():
    """Random lineitem and orders tables with NULL join keys and
    duplicate o_orderkey against a nested-loop join."""
    import numpy as np

    rng = np.random.default_rng(9)

    def keys(n):
        return [None if rng.random() < 0.1 else int(rng.integers(0, 8)) for _ in range(n)]

    def table(**cols):
        return pa.table({c: pa.array(v, pa.int64()) for c, v in cols.items()})

    for _ in range(20):
        lk, ok = keys(int(rng.integers(0, 30))), keys(int(rng.integers(0, 12)))
        sk = [int(x) for x in rng.integers(-5, 5, len(lk))]
        ck = [int(x) for x in rng.integers(-5, 5, len(ok))]
        joined = [
            (c, s) for lo, s in zip(lk, sk) for oo, c in zip(ok, ck) if lo is not None and lo == oo
        ]
        li = table(l_orderkey=lk, l_suppkey=sk)
        orders = table(o_orderkey=ok, o_custkey=ck)
        if joined:
            assert components._trade_pairs_local(li, orders, len(joined) - 1) is None
        c, s = components._trade_pairs_local(li, orders, len(joined))
        assert list(zip(c.tolist(), s.tolist())) == sorted(set(joined))


def _write_rows(path, n):
    pq.write_table(pa.table({"x": pa.array(range(n), pa.int64())}), str(path))


def test_stored_rows_follows_a_rewritten_file(tmp_path):
    path = tmp_path / "t.parquet"
    _write_rows(path, 3)
    assert serials.parquet_serial().stored_rows(str(path)) == 3
    _write_rows(path, 5)
    assert serials.parquet_serial().stored_rows(str(path)) == 5
    assert serials.parquet_serial().stored_rows(f"file://{path}") == 5


def test_stored_rows_sums_a_directory_of_parts(spark, tmp_path):
    """Every listed part file counts, in the partition directories too;
    the files and directories a Spark listing skips (``_``/``.``
    prefixed) do not. The sum is the Spark count."""
    d = tmp_path / "t.parquet"
    for sub in ("k=1", "k=2", "_temporary"):
        (d / sub).mkdir(parents=True)
    _write_rows(d / "k=1" / "part-0.parquet", 2)
    _write_rows(d / "k=1" / "part-1.parquet", 3)
    _write_rows(d / "k=2" / "part-0.parquet", 4)
    _write_rows(d / "_temporary" / "part-2.parquet", 7)
    _write_rows(d / "k=2" / ".part-3.parquet", 11)
    (d / "_SUCCESS").write_text("")
    serial = serials.parquet_serial()
    assert serial.stored_rows(str(d)) == 9 == serial.read(spark, str(d)).count()
    flat = tmp_path / "flat.parquet"
    flat.mkdir()
    _write_rows(flat / "part-0.parquet", 2)
    _write_rows(flat / "part-1.parquet", 5)
    assert serial.stored_rows(str(flat)) == 7 == serial.read(spark, str(flat)).count()


def test_stored_rows_unknown_gives_none(tmp_path):
    """None where the footers cannot give the rows a read returns: a
    path that cannot be stat'ed, a non-parquet serial, a post-read
    transform, a file that is not parquet."""
    path = tmp_path / "t.parquet"
    _write_rows(path, 3)
    serial = serials.parquet_serial()
    assert serial.stored_rows(str(tmp_path / "missing.parquet")) is None
    assert serial.stored_rows("s3a://bucket/t.parquet") is None
    assert serials.orc_serial().stored_rows(str(path)) is None
    assert serial.rmap(lambda df: df.limit(1)).stored_rows(str(path)) is None
    (tmp_path / "bad.parquet").write_text("not parquet")
    assert serial.stored_rows(str(tmp_path / "bad.parquet")) is None
    # part files beside partition directories, or under a directory
    # that is not one: which of them a read lists is Spark's to decide
    mixed = tmp_path / "mixed.parquet"
    (mixed / "k=1").mkdir(parents=True)
    _write_rows(mixed / "part-0.parquet", 2)
    _write_rows(mixed / "k=1" / "part-1.parquet", 3)
    assert serial.stored_rows(str(mixed)) is None
    nested = tmp_path / "nested.parquet"
    (nested / "sub").mkdir(parents=True)
    _write_rows(nested / "sub" / "part-0.parquet", 2)
    assert serial.stored_rows(str(nested)) is None
    tables_dir = tmp_path / "sf"
    tables_dir.mkdir()
    _write_rows(tables_dir / "events.parquet", 3)
    _write_rows(tables_dir / "orders.parquet", 4)
    assert tables.stored_rows(str(tables_dir), "events") is None
    assert tables.stored_rows(str(tables_dir), "orders") == 4


def test_collect_small_table_gates_before_any_job(spark, tmp_path, jobs_so_far):
    _write_rows(tmp_path / "orders.parquet", 4)
    sf = str(tmp_path)
    j0 = jobs_so_far()
    assert driverstate.collect_small_table(spark, sf, "orders", ["x"], max_rows=3) is None
    assert driverstate.collect_small_table(spark, sf, "orders", ["x"], max_rows=0) is None
    assert jobs_so_far() == j0
    assert driverstate.collect_small_table(spark, sf, "orders", ["x"], max_rows=4).num_rows == 4


def test_pregel_contrib_plan_shapes(spark):
    """The broadcast↔co-partition choice is CODE, not a comment: below
    the node gate the rank attach is a broadcast join, above it a plain
    (co-partitionable) join with no broadcast hint."""
    from porcupine_spark.operators.components import _pregel_contrib

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    rd = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10)], "src long, c long"
    )
    bcast_plan = _pregel_contrib(edges, rd, True)._jdf.queryExecution().toString()
    plain_plan = _pregel_contrib(edges, rd, False)._jdf.queryExecution().toString()
    assert "BroadcastHashJoin" in bcast_plan
    # pre-AQE initial plan: no broadcast exchange without the hint (tiny
    # inputs may still AQE-convert at runtime; the GATE is what's pinned)
    assert "BroadcastHashJoin" not in plain_plan.split("== Physical Plan ==")[-1]


def test_pagerank_gate_modes_identical(spark, monkeypatch):
    """Both Pregel layouts produce the identical exact-decimal ranks
    (sum order cannot matter: decimal adds are exact)."""
    from porcupine_spark.functions import driverstate
    from porcupine_spark.operators import components
    from porcupine_spark.operators.components import pagerank_scaled

    monkeypatch.setattr(driverstate, "DRIVER_STATE_MAX_ROWS", 0)

    rows = [(i, (i * 7) % 23) for i in range(60)] + [(5, 6), (6, 5), (9, 11)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in rows if a != b], "src long, dst long"
    )
    monkeypatch.setattr(components, "PREGEL_BROADCAST_MAX_NODES", 1_000_000)
    bc = {(r.node, r.rank_scaled) for r in pagerank_scaled(spark, edges).collect()}
    monkeypatch.setattr(components, "PREGEL_BROADCAST_MAX_NODES", 0)  # force the shuffled layout
    cp = {(r.node, r.rank_scaled) for r in pagerank_scaled(spark, edges).collect()}
    assert bc == cp and len(bc) > 0


def test_copurchase_edges_single_exchange_and_equivalence(spark, sf_dir):
    """r8 edge-stage rewrite: repartition(l_orderkey) feeds distinct AND
    the self-join off ONE exchange (HashPartitioning(ok) satisfies both
    clusterings), and the edge set is byte-identical to the naive
    distinct-then-join form."""
    from porcupine_spark.operators.components import (
        TRI_MIN_SUPPORT,
        _copurchase_edges,
    )
    from porcupine_spark.tables import load_table

    e_new = _copurchase_edges(spark, sf_dir)
    # initial physical plan: the edge-stage inputs shuffle by l_orderkey
    # ALONE (one layout serves distinct + self-join; identical subplans
    # are stage-reused at runtime); no (ok, pk)-keyed exchange survives
    plan = executed_plan(e_new)
    import re

    assert re.search(r"Exchange hashpartitioning\(l_orderkey#\d+L, \d+\)", plan), plan
    assert not re.search(
        r"Exchange hashpartitioning\(l_orderkey#\d+L, l_partkey", plan
    ), plan

    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("v"))
    e_old = (
        a.join(b, "l_orderkey")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= TRI_MIN_SUPPORT)
        .select("u", "v")
    )
    assert {(r.u, r.v) for r in e_new.collect()} == {
        (r.u, r.v) for r in e_old.collect()
    }
