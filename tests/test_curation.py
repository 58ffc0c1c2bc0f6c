"""Edge-case units for the curation operators (Gopher filter, sequence
packing, duplicated-span stats, DSIR lean scores, the classifier gate's
plan); oracle parity for the full queries is covered by
tools/verify_oracles.py."""

from __future__ import annotations

from porcupine_spark.bucketing import executed_plan
from porcupine_spark.operators.curation import (
    PACK_BUDGET,
    gopher_flags,
    pack_docs,
    span_dup_stats,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_gopher_flags_rules(spark):
    long_ok = " ".join(["the", "and"] + ["word"] * 60)  # 62 words, stopwords, alpha
    short = "the and word"  # fails word-count band
    symbols = " ".join(["the", "and"] + ["###"] * 60)  # symbol ratio + alpha fail
    out = {
        r["doc_id"]: r.asDict()
        for r in gopher_flags(
            _docs(spark, [(1, "s", long_ok), (2, "s", short), (3, "s", symbols)])
        ).collect()
    }
    assert out[1]["keep"] == 1
    assert out[2]["keep"] == 0 and out[2]["ok_words"] == 0 and out[2]["ok_stop"] == 1
    assert out[3]["ok_symbol"] == 0 and out[3]["ok_alpha"] == 0 and out[3]["keep"] == 0
    # mean word length: (2*3 + 60*4 + 61 spaces removed) -> exact arithmetic
    assert abs(out[1]["mean_word_len"] - (3 + 3 + 60 * 4) / 62) < 1e-12


def test_pack_docs_contiguous_and_conserving(spark):
    # 7 docs x 100 tokens, budget 250 -> bins close at the doc that
    # crosses each multiple of 250: docs 0-2 | 3-4 | 5-6 (exclusive
    # cumsum 0,100,200 | 300,400 | 500,600)
    rows = [(i, "s", " ".join(["w"] * 100)) for i in range(7)]
    bins = sorted(
        (r["bin_id"], r["n_docs"], r["bin_tokens"], r["first_doc"], r["last_doc"])
        for r in pack_docs(_docs(spark, rows), 250).collect()
    )
    assert bins == [(0, 3, 300, 0, 2), (1, 2, 200, 3, 4), (2, 2, 200, 5, 6)]
    # conservation + consecutive ids hold on the real corpus shape too
    rows2 = [(i, f"s{i % 3}", " ".join(["w"] * (10 + 37 * i % 90))) for i in range(40)]
    out = pack_docs(_docs(spark, rows2), 100).collect()
    per_src = {}
    for r in out:
        per_src.setdefault(r["source"], []).append(r)
    total = sum(r["bin_tokens"] for r in out)
    assert total == sum(10 + 37 * i % 90 for i in range(40))
    for src, rs in per_src.items():
        ids = sorted(r["bin_id"] for r in rs)
        assert ids == list(range(len(ids))), f"non-consecutive bins for {src}"


def test_span_dup_stats_planted_duplicate(spark):
    span = "a b c d e f g h"  # exactly one 8-gram
    uniq = "q w e r t y u i o p"
    rows = [
        (1, "s", span + " tail1 x1 y1 z1"),
        (2, "s", "head2 " + span + " tail2"),
        (3, "s", uniq),
        (4, "s", "a b c"),  # < 8 words: no spans, excluded
    ]
    out = {r["doc_id"]: r.asDict() for r in span_dup_stats(_docs(spark, rows), 8).collect()}
    assert 4 not in out
    # docs 1 and 2 share the 'a b c d e f g h' span; their other grams
    # are unique (distinct tails), doc 3 fully unique
    assert out[1]["dup_grams"] == 1 and out[2]["dup_grams"] == 1
    assert out[1]["n_grams"] == 12 - 8 + 1
    assert out[3]["dup_grams"] == 0
    assert abs(out[1]["dup_fraction"] - 1 / 5) < 1e-12


def test_pack_budget_constant_sane():
    assert 0 < PACK_BUDGET <= 1 << 20


def _morton_py(a: int, b: int, bits: int = 16) -> int:
    z = 0
    for i in range(bits):
        z |= ((a >> i) & 1) << (2 * i)
        z |= ((b >> i) & 1) << (2 * i + 1)
    return z


def test_z_interleave_matches_reference(spark):
    from pyspark.sql import functions as F
    from porcupine_spark.functions.zorder import z_interleave

    rows = [(a, b) for a in (0, 1, 5, 255, 65535) for b in (0, 3, 128, 65535)]
    df = spark.createDataFrame(rows, "a long, b long")
    out = df.select("a", "b", z_interleave(F.col("a"), F.col("b")).alias("z")).collect()
    for r in out:
        assert r["z"] == _morton_py(r["a"], r["b"]), (r["a"], r["b"])


def test_write_zordered_tiles_prune_both_columns(spark, tmp_path):
    """Each z-ordered file covers a compact 2-D tile: for a uniform
    grid, every file's (max-min) extent on EACH column must be far
    below the full domain — the property that makes min/max footer
    pruning work on either filter column. A lexicographic sort by
    (a, b) fails this for column b (every file spans b's whole
    domain)."""
    import glob
    import pyarrow.parquet as pq

    from porcupine_spark.functions.zorder import write_zordered

    n = 64
    grid = [(a, b) for a in range(n) for b in range(n)]
    df = spark.createDataFrame(grid, "a long, b long").repartition(8)
    path = str(tmp_path / "ztiles")
    write_zordered(df, path, "a", "b", n_files=16, bits=8)

    spans_a, spans_b = [], []
    for f in glob.glob(path + "/*.parquet"):
        t = pq.read_table(f)
        aa, bb = t.column("a").to_pylist(), t.column("b").to_pylist()
        spans_a.append(max(aa) - min(aa))
        spans_b.append(max(bb) - min(bb))
    # 16 tiles over a 64x64 grid -> ideal tile extent 16-32 per axis;
    # assert every file is well under the full 63 domain on BOTH axes
    assert max(spans_a) <= n // 2 and max(spans_b) <= n // 2, (spans_a, spans_b)


def test_exactdot_matches_jvm(spark):
    """The Arrow-vectorized exact quantized dot must be bit-identical
    to the JVM decimal expression (dot_exact) — including elements that
    land in the .5-boundary guard band."""
    import numpy as np
    from pyspark.sql import functions as F

    from porcupine_spark.functions.exactdot import exact_unit_dots
    from porcupine_spark.operators.similarity import dot_exact

    rng = np.random.default_rng(11)
    n, d = 400, 64
    A = rng.uniform(-1, 1, (n, d)).astype(np.float32)
    B = rng.uniform(-1, 1, (n, d)).astype(np.float32)
    # plant near-boundary products: a*b*1e12 ~ k + 0.5
    A[0, :4] = np.float32(1.0)
    B[0, :4] = np.float32([1.5e-12, 2.5e-12, -3.5e-12, 7.4999e-12])

    df = spark.createDataFrame(
        [(i, A[i].tolist(), B[i].tolist()) for i in range(n)],
        "i long, a array<float>, b array<float>",
    )
    jvm = {
        r["i"]: r["dot"]
        for r in df.select(
            "i", dot_exact(F.col("a"), F.col("b")).alias("dot")
        ).collect()
    }
    units = exact_unit_dots(A, B)
    for i in range(n):
        assert jvm[i] == units[i] / 1e12, (i, jvm[i], units[i] / 1e12)


def test_pack_docs_property(spark):
    """Property (hypothesis): for arbitrary token-length sequences the
    packing is a partition (tokens conserved, bins consecutive) and
    every bin except a source's last closes only once its exclusive
    cumsum crossed the budget — i.e. bin_tokens + (tokens before it in
    the bin's source) >= (bin_id+1) * budget for non-final bins."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(
        st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=24),
        st.integers(min_value=5, max_value=60),
    )
    @settings(max_examples=12, deadline=None)
    def check(lengths, budget):
        rows = [(i, "s", " ".join(["w"] * n)) for i, n in enumerate(lengths)]
        out = sorted(
            (r["bin_id"], r["n_docs"], r["bin_tokens"])
            for r in pack_docs(_docs(spark, rows), budget).collect()
        )
        ids = [b for b, _, _ in out]
        # ids strictly increase; an oversized doc (> budget) may skip
        # bin numbers (its exclusive cumsum jumps whole budget spans) —
        # consecutive only when every doc fits the budget
        assert ids == sorted(set(ids))
        if max(lengths) <= budget:
            assert ids == list(range(len(ids)))
        assert sum(t for _, _, t in out) == sum(lengths)
        assert sum(n for _, n, _ in out) == len(lengths)
        # non-final bins crossed their boundary
        cum = 0
        for b, _n, t in out[:-1]:
            assert cum + t >= (b + 1) * budget, (lengths, budget, out)
            cum += t

    check()


def test_dsir_lean_scores_planted_signal(spark):
    """Target docs use a disjoint vocabulary: every target token leans
    (its buckets carry only target mass), no raw-only token does —
    scores separate to 1e6 vs 0 and the keep flag follows."""
    from porcupine_spark.operators.curation import dsir_lean_scores
    from pyspark.sql import functions as F

    rows = [
        (1, "alpha beta gamma alpha", True),
        (2, "beta gamma alpha beta", True),
        (3, "delta epsilon zeta zeta", False),
        (4, "epsilon delta delta zeta", False),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")
    out = {r.doc_id: r for r in dsir_lean_scores(docs, F.col("is_t")).collect()}
    assert out[1].lean_ppm == 1_000_000 and out[1].keep
    assert out[2].lean_ppm == 1_000_000 and out[2].keep
    assert out[3].lean_ppm == 0 and not out[3].keep
    assert out[4].lean_ppm == 0 and not out[4].keep


def test_quality_gate_kappa_identities(spark, sf_dir):
    from porcupine_spark.operators.curation import quality_gate_kappa

    r = quality_gate_kappa(spark, sf_dir).first()
    assert 0 <= r.n_agree <= r.n_docs
    assert 0 <= r.po_micro <= 1_000_000
    assert 0 <= r.pe_micro <= 1_000_000
    assert -1_000_000 <= r.kappa_micro <= 1_000_000
    # kappa's sign agrees with po vs pe
    assert (r.kappa_micro >= 0) == (r.po_micro >= r.pe_micro)


def test_dedup_source_shift_shares_balance(spark, sf_dir):
    from porcupine_spark.operators.dedup import dedup_source_shift

    rows = dedup_source_shift(spark, sf_dir).collect()
    for r in rows:
        assert 0 <= r.n_after <= r.n_before
    tot_shift = sum(r.shift_ppm for r in rows)
    # shifts are zero-sum up to per-source truncation slack
    assert abs(tot_shift) <= 2 * len(rows)


def test_classifier_gate_plan_broadcasts_weights_no_udf(spark, sf_dir):
    """The weight table is config-sized — the plan must broadcast it
    (never shuffle the corpus side for it) and stay UDF-free."""
    from porcupine_spark.plans.registry import load_all_plans

    df = load_all_plans()["classifier_quality_gate"].builder(spark, sf_dir)
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    rows = df.collect()
    keeps = {r.keep for r in rows}
    assert keeps == {True, False}, "gate must discriminate, not pass/fail all"
