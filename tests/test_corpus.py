"""Unit tests for the corpus-curation operators (operators/corpus.py).

The DuckDB oracle gate proves cross-engine equality on the driver's
tables; these tests pin the SEMANTICS on hand-built inputs (chunk
boundaries, determinism, rank ties) where the synthetic corpus may not
exercise the edge."""

import pytest
from pyspark.sql import functions as F


def test_doc_chunking_boundaries(spark, sf_dir):
    from porcupine_spark.operators.corpus import CHUNK_TOKENS, doc_chunking

    out = doc_chunking(spark, sf_dir)
    rows = out.collect()
    assert len(rows) > 0
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_id)
        # chunk ids are consecutive from 0
        assert [c.chunk_id for c in chunks] == list(range(len(chunks)))
        # all chunks except the last are exactly CHUNK_TOKENS tokens
        for c in chunks[:-1]:
            assert c.n_tokens == CHUNK_TOKENS
            assert len(c.chunk_text.split(" ")) == CHUNK_TOKENS
        last = chunks[-1]
        assert 1 <= last.n_tokens <= CHUNK_TOKENS
        assert len(last.chunk_text.split(" ")) == last.n_tokens


def test_doc_chunking_reassembles_document(spark, sf_dir):
    from porcupine_spark.operators.corpus import doc_chunking
    from porcupine_spark.operators.text import tokens
    from porcupine_spark.tables import load_table

    out = (
        doc_chunking(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ", F.array_sort(F.collect_list(F.struct("chunk_id", "chunk_text")))
                .getField("chunk_text")
            ).alias("rejoined")
        )
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.concat_ws(" ", tokens(F.col("text"))).alias("norm")
    )
    diff = out.join(docs, "doc_id").filter(F.col("rejoined") != F.col("norm")).count()
    assert diff == 0


def test_source_mixture_deterministic_and_rate(spark, sf_dir):
    from porcupine_spark.operators.corpus import source_mixture_sample

    a = {r.doc_id for r in source_mixture_sample(spark, sf_dir).collect()}
    b = {r.doc_id for r in source_mixture_sample(spark, sf_dir).collect()}
    assert a == b  # hash-based: identical across runs
    assert len(a) > 0


def test_tfidf_ranks_unique_and_bounded(spark, sf_dir):
    from porcupine_spark.operators.corpus import tfidf_top_terms

    out = tfidf_top_terms(spark, sf_dir).collect()
    seen = {}
    for r in out:
        assert 1 <= r.rank <= 3
        assert r.tfidf > 0
        key = (r.doc_id, r.rank)
        assert key not in seen  # row_number, not rank: no duplicates
        seen[key] = r.tok


def test_vocab_top_tokens_sorted(spark, sf_dir):
    from porcupine_spark.operators.corpus import vocab_top_tokens

    rows = vocab_top_tokens(spark, sf_dir).collect()
    assert 0 < len(rows) <= 100
    counts = [r.n_occurrences for r in rows]
    assert counts == sorted(counts, reverse=True)
    for r in rows:
        assert r.n_docs <= r.n_occurrences


def test_context_window_packing_semantics(spark):
    """Concat-then-chunk accounting on hand-built rows: four 1000-token
    docs in one source pack into ceil(4000/2048)=2 windows; only the
    third doc (cum 2001..3000) straddles the 2048 boundary; tail
    padding is 2*2048-4000=96."""
    import pyspark.sql.functions as F

    from porcupine_spark.operators.corpus import PACK_WINDOW, context_window_packing
    from porcupine_spark.plans.registry import load_all_plans

    assert PACK_WINDOW == 2048  # the arithmetic below assumes it
    text = " ".join(f"t{i}" for i in range(1000))
    docs = spark.createDataFrame(
        [(i, text, "en", "a", len(text)) for i in range(1, 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # call the inner logic through a temp dir-less path: build directly
    import tempfile, os
    d = tempfile.mkdtemp()
    docs.write.parquet(os.path.join(d, "documents.parquet"))
    out = {r.source: r for r in context_window_packing(spark, d).collect()}
    r = out["a"]
    assert (r.n_docs, r.total_tokens, r.n_windows, r.n_boundary_docs,
            r.tail_padding_tokens) == (4, 4000, 2, 1, 96)


def test_driver_built_frames_start_no_python_worker(spark, sf_dir, monkeypatch):
    """The constant tables and driver-built results of the corpus
    builders come through pandas and Arrow: none plans a PythonRDD, so
    no job over them starts a Python worker. A list-built frame does
    plan one, which keeps the check able to fail."""
    from porcupine_spark.plans.registry import load_all_plans

    frames = []
    real = spark.createDataFrame

    def recording(*args, **kwargs):
        frames.append(real(*args, **kwargs))
        return frames[-1]

    monkeypatch.setattr(spark, "createDataFrame", recording)
    plans = load_all_plans()
    names = ("vocab_coverage_curve", "vocab_growth_curve", "bpe_merge_train", "bpe_encode_tokens")
    for name in names:
        n = len(frames)
        plans[name].builder(spark, sf_dir)
        assert len(frames) > n, name

    def rdd(df):
        return df._jdf.queryExecution().toRdd().toDebugString()

    assert "PythonRDD" in rdd(real([(1,)], "k long"))
    assert [rdd(f) for f in frames if "PythonRDD" in rdd(f)] == []


def test_verbatim_contamination_is_substring(spark, sf_dir):
    from porcupine_spark.operators.text import verbatim_contamination
    from porcupine_spark.tables import load_table

    rows = verbatim_contamination(spark, sf_dir).collect()
    texts = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    for r in rows:
        assert r.doc_id >= 10 and r.bench_id < 10
        assert r.probe in texts[r.doc_id]
        assert texts[r.bench_id].startswith(r.probe)


def test_length_variance_decomposition_identities(spark, sf_dir):
    from porcupine_spark.operators.vocabstats import (
        length_variance_decomposition)

    r = length_variance_decomposition(spark, sf_dir).first()
    assert 0 <= r.eta2_ppm <= 1_000_000
    # eta2 + within = 1e6 up to the per-group truncation slack
    assert 1_000_000 - r.n_sources <= r.eta2_ppm + r.within_ppm <= 1_000_000
