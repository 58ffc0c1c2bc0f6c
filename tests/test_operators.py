"""Operator-level unit tests (asof, sessionize, dedup, similarity,
multimodal, http source, the JL distortion audit). The full-query correctness gate is
tools/verify_oracles.py; these cover operator edge cases the oracle
corpus doesn't reach."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from porcupine_spark.bucketing import executed_plan
from porcupine_spark.operators.asof import asof_join
from porcupine_spark.operators.dedup import shingle_table, word_shingles
from porcupine_spark.operators.multimodal import decode_media_meta, fake_decode
from porcupine_spark.operators.sessionize import sessionize
from porcupine_spark.operators.similarity import dot_exact
from porcupine_spark.functions import seq1
from porcupine_spark.tables import load_table
from conftest import SF01_DIR


def test_asof_join_basic(spark):
    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 12:00:00"), (2, "2024-01-01 10:00:00")],
        "user_id long, lts string",
    ).select("user_id", F.col("lts").cast("timestamp").alias("lts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:00:00", 100, 1.0), (1, "2024-01-01 11:00:00", 101, 2.0)],
        "user_id long, rts string, rid long, rv double",
    ).select("user_id", F.col("rts").cast("timestamp").alias("rts"), "rid", "rv")
    out = asof_join(left, right, on="user_id", left_ts="lts", right_ts="rts",
                    right_order="rid", payload_cols=["rid", "rv"])
    rows = {(r.user_id, str(r.lts)): r.rid for r in out.collect()}
    assert rows[(1, "2024-01-01 10:00:00")] == 100  # only 09:00 precedes
    assert rows[(1, "2024-01-01 12:00:00")] == 101  # 11:00 is latest
    assert rows[(2, "2024-01-01 10:00:00")] is None  # no right rows for key


def test_asof_join_tie_at_equal_ts(spark):
    """'at or before' includes right rows at EXACTLY the left ts."""
    ts = "2024-01-01 10:00:00"
    left = spark.createDataFrame([(1, ts)], "user_id long, lts string").select(
        "user_id", F.col("lts").cast("timestamp").alias("lts"))
    right = spark.createDataFrame(
        [(1, ts, 7, 0.0), (1, ts, 9, 0.0)], "user_id long, rts string, rid long, rv double"
    ).select("user_id", F.col("rts").cast("timestamp").alias("rts"), "rid", "rv")
    out = asof_join(left, right, "user_id", "lts", "rts", "rid", ["rid", "rv"]).collect()
    assert out[0].rid == 9  # equal-ts ties -> largest right_order


def test_sessionize_gap_boundary(spark):
    rows = [
        (1, "2024-01-01 10:00:00"),
        (1, "2024-01-01 10:30:00"),  # exactly gap: same session (> means new)
        (1, "2024-01-01 11:00:01"),  # gap exceeded by 1s: new session
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    ).withColumn("event_id", F.monotonically_increasing_id())
    out = sessionize(df, "user_id", "ts", "event_id", gap_s=1800)
    sids = [r.session_id for r in out.orderBy("ts").collect()]
    assert sids == [1, 1, 2]


def test_word_shingles_short_text(spark):
    """Texts shorter than n produce NO shingles (the seq1 guard —
    without it Spark's sequence(1,0) yields [1,0] descending)."""
    df = spark.createDataFrame([("one two",), ("a b c d",)], "text string")
    out = df.select(F.size(word_shingles(F.col("text"), 3)).alias("n")).collect()
    assert [r.n for r in out] == [0, 2]


def test_seq1_empty_for_nonpositive(spark):
    df = spark.createDataFrame([(3,), (0,), (-2,)], "n int")
    out = df.select(seq1(F.col("n")).alias("s")).collect()
    assert [r.s for r in out] == [[1, 2, 3], [], []]


def test_shingle_table_distinct_per_doc(spark):
    df = spark.createDataFrame([(1, "x y z x y z x y z")], "doc_id long, text string")
    sh = shingle_table(df).collect()
    # 7 positional 3-grams but only 3 distinct ones
    assert len(sh) == 3


def test_dot_exact_matches_python(spark):
    from decimal import Decimal

    a, b = [0.1, 0.2, 0.3], [1.5, -2.5, 3.5]
    df = spark.createDataFrame([(a, b)], "a array<float>, b array<float>")
    got = df.select(dot_exact(F.col("a"), F.col("b")).alias("d")).collect()[0].d
    import numpy as np

    af = np.array(a, dtype=np.float32).astype(float)
    bf = np.array(b, dtype=np.float32).astype(float)
    want = float(sum(Decimal(float(x * y)).quantize(Decimal("1e-12")) for x, y in zip(af, bf)))
    assert got == pytest.approx(want, abs=2e-12)


def test_fake_decode_deterministic_and_raises():
    m = fake_decode(b"hello")
    assert (m["n_bytes"], m["n_frames"]) == (5, 1)
    assert m == fake_decode(b"hello")
    with pytest.raises(ValueError):
        fake_decode(b"")


def test_decode_media_meta_batch_shape():
    pdf = pd.DataFrame({"doc_id": [1, 2], "payload": [b"abc", b"defgh"]})
    out = list(decode_media_meta(iter([pdf])))[0]
    assert list(out.columns) == ["doc_id", "n_bytes", "width", "height", "n_frames", "format"]
    assert out["n_bytes"].tolist() == [3, 5]


def test_http_fetch_distributed_error_rows(spark):
    """Per-URL failures become rows, not job failures."""
    from porcupine_spark.sources.http import fetch_distributed

    out = fetch_distributed(
        spark, ["http://127.0.0.1:1/nope"], timeout_s=0.5, partitions=1
    ).collect()
    assert out[0].status == -1
    assert "Error" in out[0].error or "error" in out[0].error.lower()


def test_streaming_session_window_matches_batch(spark, sf_dir):
    """The streaming twin of sessionize: session_window grouping over
    the events stream == batch gap-sessionization session count."""
    from porcupine_spark.tables import load_events_stream, load_table

    stream = load_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = agg.writeStream.outputMode("complete").format("memory").queryName("sess_t").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = spark.table("sess_t").count()
    ev = load_table(spark, sf_dir, "events")
    batch = (
        sessionize(ev, "user_id", "ts", "event_id", gap_s=1800)
        .select("user_id", "session_id").distinct().count()
    )
    assert streamed == batch


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """Watermarked stream-stream join over bounded input emits exactly
    the batch join's pairs (append mode, processAllAvailable)."""
    from porcupine_spark.streaming.joins import ATTRIB_MINUTES, stream_stream_join
    from porcupine_spark.tables import load_table

    streamed = stream_stream_join(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("u"), F.col("event_id").alias("view_id"), F.col("ts").alias("vts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u"), F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts")
    )
    batch = v.join(
        p,
        (v.u == p.u)
        & (F.col("pts") >= F.col("vts"))
        & (F.col("pts") <= F.col("vts") + F.expr(f"INTERVAL {ATTRIB_MINUTES} MINUTES")),
    )
    got = {(r.view_id, r.purchase_id) for r in streamed.collect()}
    want = {(r.view_id, r.purchase_id) for r in batch.collect()}
    assert got == want


def test_stream_dedup_matches_distinct(spark, sf_dir):
    from porcupine_spark.streaming.joins import stream_dedup
    from porcupine_spark.tables import load_table

    streamed = stream_dedup(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    want = (
        ev.select("user_id", "event_type", F.date_trunc("minute", "ts").alias("minute"))
        .distinct()
        .count()
    )
    assert streamed.count() == want


def test_connected_components_chain_and_islands(spark, monkeypatch):
    from porcupine_spark.functions import driverstate
    from porcupine_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],  # chain + 2 islands (one with dup edge)
        "src long, dst long",
    )
    expected = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}
    # small-graph path: driver union-find
    out = {r.node: r.component for r in connected_components(edges).collect()}
    assert out == expected
    # scale path: force the distributed label-propagation loop
    monkeypatch.setattr(driverstate, "DRIVER_STATE_MAX_ROWS", 0)
    out = {r.node: r.component for r in connected_components(edges).collect()}
    assert out == expected


def test_connected_components_raises_on_round_exhaustion(spark, monkeypatch):
    """A deep path graph whose diameter exceeds max_rounds must FAIL
    LOUDLY — a silent return there would hand back wrong components
    (labels still propagating down the chain)."""
    import pytest

    from porcupine_spark.functions import driverstate
    from porcupine_spark.operators.components import connected_components

    monkeypatch.setattr(driverstate, "DRIVER_STATE_MAX_ROWS", 0)

    # path 0-1-2-...-12: min-label needs ~12 rounds to reach the far end
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_rounds=3)
    # and with enough rounds the same graph converges exactly
    out = {
        r.node: r.component
        for r in connected_components(edges, max_rounds=20).collect()
    }
    assert out == {i: 0 for i in range(13)}


def test_approx_sketches_close_to_exact(spark, sf_dir):
    """approx_count_distinct / percentile_approx: the at-scale sketch
    variants stay within tolerance of exact (engine-only: sketches are
    engine-specific, so no DuckDB oracle)."""
    from porcupine_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    row = li.agg(
        F.countDistinct("l_partkey").alias("exact_d"),
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_d"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_p50"),
        F.expr("percentile_approx(l_extendedprice, 0.5, 1000)").alias("approx_p50"),
    ).collect()[0]
    assert abs(row.approx_d - row.exact_d) / row.exact_d < 0.05
    assert abs(row.approx_p50 - row.exact_p50) / row.exact_p50 < 0.05


def _write_waterfill_corpus(tmp_path, spec):
    """spec: [(source, n_en_tokens, n_other_tokens)] -> documents.parquet."""
    import pandas as pd

    rows = []
    did = 0
    for src, n_en, n_ot in spec:
        for lang, n in (("en", n_en), ("de", n_ot)):
            if n:
                rows.append((did, "w " * n, lang, src, n))
                did += 1
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(tmp_path / "documents.parquet")


def _iterative_waterfill(spec):
    """Classic iterative water-fill with exact-fraction lambda:
    the ground truth for the one-window-pass implementation.
    Returns {source: (allocated_tokens, capped)}."""
    from fractions import Fraction

    from porcupine_spark.operators.corpus import BUDGET_MILLI, CAP_MILLI

    toks = {s: en + ot for s, en, ot in spec}
    w = {s: max(1, en) for s, en, ot in spec}
    cap = {s: CAP_MILLI * toks[s] // 1000 for s in toks}
    budget = BUDGET_MILLI * sum(toks.values()) // 1000
    capped: set = set()
    while True:
        rem_b = budget - sum(cap[s] for s in capped)
        rem_w = sum(w[s] for s in toks if s not in capped)
        newly = {
            s
            for s in toks
            if s not in capped and Fraction(rem_b * w[s], rem_w) >= cap[s]
        }
        if not newly:
            break
        capped |= newly
    rem_b = budget - sum(cap[s] for s in capped)
    rem_w = sum(w[s] for s in toks if s not in capped)
    return {
        s: ((cap[s], 1) if s in capped else (rem_b * w[s] // rem_w, 0))
        for s in toks
    }


def test_waterfill_matches_iterative_reference(spark, tmp_path):
    """The one-window-pass water-filling (capped set = prefix in
    cap/weight order) equals the classic iterative algorithm, on a
    corpus skewed enough that the cap genuinely binds: a tiny all-en
    source (hugely upweighted), a large zero-en source (weight floor),
    and mid sources."""
    from porcupine_spark.operators.corpus import token_budget_waterfill

    spec = [  # (source, n_en_tokens, n_other_tokens)
        ("tiny_en", 40, 0),
        ("big_raw", 0, 4000),
        ("mid_a", 300, 700),
        ("mid_b", 150, 850),
        ("half", 500, 500),
    ]
    _write_waterfill_corpus(tmp_path, spec)
    got = {
        r.source: (r.allocated_tokens, r.capped)
        for r in token_budget_waterfill(spark, str(tmp_path)).collect()
    }
    want = _iterative_waterfill(spec)
    assert got == want
    assert 0 < sum(1 for a, c in want.values() if c) < len(spec), (
        "fixture must exercise both branches"
    )


def test_waterfill_near_tie_ratio_ordering(spark, tmp_path):
    """Two sources whose cap/weight ratios differ by LESS than 1e-6 —
    a micro-quantized sort key (cap*1e6 div w) ties them and, with the
    alphabetical tie-break, orders them AGAINST true-ratio order; the
    exact cross-multiplied rank must still produce the iterative
    reference's capped set (here: the flat-ratio source capped, the
    infinitesimally steeper one not)."""
    from porcupine_spark.operators.corpus import CAP_MILLI, token_budget_waterfill

    # zz_flat: ratio exactly 0.4; aa_steep: 0.4000004 (steeper, but the
    # 1e-6-quantized key ties both at 400000 and 'aa' sorts first);
    # big_raw: weight-floor source tuned so the water level lands
    # BETWEEN the two near-tied ratios (0.4 < lambda < 0.4000004).
    spec = [
        ("zz_flat", 1_000_000, 0),
        ("aa_steep", 999_999, 1),
        ("big_raw", 0, 666_667),
    ]
    # fixture validity: the old quantized keys really do tie
    for s, en, ot in spec[:2]:
        n = en + ot
        assert (CAP_MILLI * n // 1000) * 1_000_000 // max(1, en) == 400_000
    _write_waterfill_corpus(tmp_path, spec)
    got = {
        r.source: (r.allocated_tokens, r.capped)
        for r in token_budget_waterfill(spark, str(tmp_path)).collect()
    }
    want = _iterative_waterfill(spec)
    assert got == want
    assert want["zz_flat"][1] == 1 and want["aa_steep"][1] == 0, (
        "fixture must place the water level between the near-tied ratios"
    )


def test_keep_best_quality_differs_from_keep_first(spark, tmp_path):
    """On a planted cluster where the LOWEST-id member is the worst
    copy, dedup_keep_best_quality keeps the high-quality member that
    keep-first policy would have dropped."""
    import pandas as pd

    from porcupine_spark.operators.components import dedup_keep_best_quality

    # docs 0 and 1 share most 3-grams (near-dups); doc 0 is degraded
    # with symbol noise (quality tanks via the alpha-ratio term).
    # docs 2+ are unrelated singletons keeping the corpus honest.
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the quiet green forest tonight") * 3
    noisy = base + " @@@@ #### $$$$ %%%% ^^^^ &&&& **** @@@@ ####" * 4
    rows = [
        (0, noisy, "en", "srcA", len(noisy)),
        (1, base + " extra tail words here", "en", "srcA", len(base)),
        (2, "completely different text about spark plans " * 6, "en", "srcB", 260),
        (3, "another unrelated document body entirely here " * 6, "en", "srcB", 270),
    ]
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(tmp_path / "documents.parquet")

    kept = {r.doc_id for r in dedup_keep_best_quality(spark, str(tmp_path)).collect()}
    assert 1 in kept and 0 not in kept, kept  # best member wins, not first
    assert {2, 3} <= kept  # singletons untouched


def test_epoch_expansion_meets_allocation_within_one_doc(spark, sf_dir):
    """The materialized manifest's per-source token mass equals the
    water-fill allocation to within one document (the boundary doc of
    the fractional prefix), and repeat counts only ever take the two
    adjacent values floor/floor+1."""
    from porcupine_spark.operators.corpus import (
        epoch_expansion_plan,
        token_budget_waterfill,
    )

    plan = {
        r.source: r.allocated_tokens
        for r in token_budget_waterfill(spark, sf_dir).collect()
    }
    rows = epoch_expansion_plan(spark, sf_dir).collect()
    by_src: dict = {}
    for r in rows:
        got, reps, maxdoc = by_src.setdefault(r.source, [0, set(), 0])
        by_src[r.source][0] = got + r.n_repeats * r.doc_tokens
        reps.add(r.n_repeats)
        by_src[r.source][2] = max(maxdoc, r.doc_tokens)
    assert set(by_src) == set(plan)
    for src, (got, reps, maxdoc) in by_src.items():
        assert abs(got - plan[src]) < maxdoc, (src, got, plan[src])
        assert len(reps) <= 2 and max(reps) - min(reps) <= 1, (src, reps)


def test_rows_at_ranks_matches_direct_sort(spark):
    """The two-pass order-statistic kernel equals direct sort-based
    rank selection for every rank, under adversarial binnings: all
    rows in one bin, one row per bin, and heavy duplicate values
    straddling bin boundaries."""
    import random

    from pyspark.sql import functions as F

    from porcupine_spark.operators.orderstats import rows_at_ranks

    rng = random.Random(13)
    rows = []
    for g in ("a", "b"):
        vals = [rng.randrange(0, 200) for _ in range(97)]
        vals += [64] * 20 + [63] * 5  # duplicates pinned at a bin edge
        for i, v in enumerate(vals):
            rows.append((g, v, i))
    df = spark.createDataFrame(rows, "k string, v long, tb long")

    for bin_expr in ("CAST(0 AS LONG)", "v", "v div 64"):
        prepared = df.select(
            "k",
            F.col("v").alias("_v"),
            F.col("tb").alias("_tb"),
            F.expr(bin_expr).alias("_bin"),
        )
        n = df.filter(F.col("k") == "a").count()
        want_ranks = [1, 2, n // 2, n - 1, n]
        targets = spark.createDataFrame(
            [(g, f"r{r}", r) for g in ("a", "b") for r in want_ranks],
            "k string, q string, r long",
        )
        got = {
            (r.k, r.q): r._v
            for r in rows_at_ranks(prepared, ["k"], targets).collect()
        }
        direct = {}
        for g in ("a", "b"):
            ordered = sorted(
                [(v, tb) for k, v, tb in rows if k == g]
            )
            for r in want_ranks:
                direct[(g, f"r{r}")] = ordered[r - 1][0]
        assert got == direct, f"bin_expr={bin_expr}"


def test_mg_summarize_completeness_guarantee():
    """Misra-Gries summary keeps every token whose true count exceeds
    mass/(cap+1), even across merges of per-partition summaries — the
    property frequent_tokens_mg's exactness rests on."""
    import random

    from porcupine_spark.operators.sketches import mg_summarize

    rng = random.Random(7)
    cap = 10
    # skewed stream: 3 heavy tokens + a long tail, split into 4 "partitions"
    stream = ["hot_a"] * 400 + ["hot_b"] * 250 + ["hot_c"] * 120
    stream += [f"tail{i}" for i in range(600) for _ in (0,)]
    rng.shuffle(stream)
    parts = [stream[i::4] for i in range(4)]

    merged: dict = {}
    for p in parts:
        counts: dict = {}
        for t in p:
            counts[t] = counts.get(t, 0) + 1
        counts = mg_summarize(counts, cap)
        for t, c in counts.items():
            merged[t] = merged.get(t, 0) + c
    merged = mg_summarize(merged, cap)

    n = len(stream)
    true = {}
    for t in stream:
        true[t] = true.get(t, 0) + 1
    for t, c in true.items():
        if c * (cap + 1) > n:
            assert t in merged, f"heavy hitter {t} ({c}/{n}) lost by MG summary"
    assert len(merged) <= cap


def test_http_source_end_to_end_with_local_server(spark):
    """The full HTTP-source path against a real local server: parallel
    fetch -> JSON decode -> DataFrame (the porcupine-http example-Poke
    topology, minus the network)."""
    import http.server
    import json as _json
    import threading

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            ident = int(self.path.rsplit("/", 1)[1])
            body = _json.dumps({"id": ident, "name": f"poke{ident}", "power": ident * 10}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # quiet
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        from porcupine_spark.sources.http import fetch_distributed, json_bodies_to_df

        urls = [f"http://127.0.0.1:{port}/api/{i}" for i in range(1, 9)]
        fetched = fetch_distributed(spark, urls, timeout_s=5.0, partitions=2)
        rows = json_bodies_to_df(
            spark, fetched, schema="id long, name string, power long"
        ).collect()
        assert len(rows) == 8
        assert {r.power for r in rows} == {i * 10 for i in range(1, 9)}
        assert all(r.url.endswith(str(r.id)) for r in rows)
    finally:
        srv.shutdown()


def test_merge_upsert_and_scd2_units(spark):
    from porcupine_spark.operators.upsert import merge_upsert, scd2_apply

    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    updates = spark.createDataFrame([(2, "B2"), (3, "c")], "k long, v string")
    out = {r.k: r.v for r in merge_upsert(base, updates, "k").collect()}
    assert out == {1: "a", 2: "B2", 3: "c"}

    open_end = "2200-01-01 00:00:00"
    dim = spark.createDataFrame(
        [(1, "x", "2020-01-01 00:00:00", open_end),
         (1, "w", "2019-01-01 00:00:00", "2020-01-01 00:00:00"),  # history row
         (2, "y", "2020-01-01 00:00:00", open_end)],
        "k long, attr string, valid_from string, valid_to string",
    ).select("k", "attr", F.col("valid_from").cast("timestamp").alias("valid_from"),
             F.col("valid_to").cast("timestamp").alias("valid_to"))
    changes = spark.createDataFrame(
        [(1, "x2", "2021-06-01 00:00:00")], "k long, attr string, change_ts string"
    ).select("k", "attr", F.col("change_ts").cast("timestamp").alias("change_ts"))
    out2 = scd2_apply(dim, changes, "k", "change_ts")
    rows = sorted((r.k, r.attr, str(r.valid_to)) for r in out2.collect())
    assert rows == [
        (1, "w", "2020-01-01 00:00:00"),          # history untouched
        (1, "x", "2021-06-01 00:00:00"),          # closed at change ts
        (1, "x2", "2200-01-01 00:00:00"),         # new open version
        (2, "y", "2200-01-01 00:00:00"),          # untouched current
    ]


def test_ngram_jaccard_hot_shingle_cutoff(spark):
    """A stop-shingle shared by every doc must not generate candidate
    pairs: with the DF cutoff the planted hot shingle is dropped (docs
    share nothing else -> zero pairs), while a genuine near-dup pair
    with unique shared content survives. Without the cutoff the same
    corpus explodes into C(60,2) pairs."""
    from porcupine_spark.operators.dedup import ngram_jaccard_pairs

    n = 60
    docs = [(i, f"common stop phrase u{i}a u{i}b u{i}c u{i}d") for i in range(n)]
    # one genuine near-dup pair: long shared unique run
    docs += [
        (1000, "zeta eta theta iota kappa lambda mu nu xi"),
        (1001, "zeta eta theta iota kappa lambda mu nu omicron"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    with_cut = ngram_jaccard_pairs(df, df_cutoff=10)
    pairs = {(r.doc_a, r.doc_b) for r in with_cut.collect()}
    assert (1000, 1001) in pairs  # real near-dup survives
    assert len(pairs) == 1  # hot shingle produced ZERO candidates

    no_cut = ngram_jaccard_pairs(df, df_cutoff=10**9)
    assert no_cut.count() == n * (n - 1) // 2 + 1  # quadratic blowup without it


def test_hot_df_cutoff_absolute_cap():
    """The hot-DF cutoff must NOT scale linearly with the corpus: the
    fractional term governs small corpora (so tiny test sets keep a
    usable shingle space) but an ABSOLUTE ceiling takes over at scale
    — at 10B docs the cutoff is HOT_DF_CAP, not 1B, so a boilerplate
    key in 1% of the corpus is dropped instead of generating ~10^16
    join pairs."""
    from porcupine_spark.operators.dedup import (
        HOT_DF_CAP,
        HOT_DF_FLOOR,
        hot_df_cutoff,
    )

    assert hot_df_cutoff(0) == HOT_DF_FLOOR
    assert hot_df_cutoff(100) == HOT_DF_FLOOR          # floor-dominated
    assert hot_df_cutoff(500) == 50                    # sf0.01: fractional
    assert hot_df_cutoff(5000) == 500                  # sf0.1: fractional
    assert hot_df_cutoff(10**6) == HOT_DF_CAP          # cap takes over
    assert hot_df_cutoff(10**10) == HOT_DF_CAP         # stays absolute at 10B


def test_winnow_hot_fingerprint_cutoff(spark):
    """A boilerplate run shared by every doc yields one hot fingerprint;
    without a cutoff the fingerprint self-join goes quadratic on it.
    With the cap the hot fingerprint is dropped while a genuine dup
    pair (long unique shared run -> multiple shared fingerprints)
    survives."""
    from porcupine_spark.operators.dedup import winnow_pairs

    n = 60
    # each doc: the same 8-token boilerplate run + unique tail tokens.
    # The boilerplate produces identical gram hashes -> at least one
    # shared window-minimum fingerprint across all n docs.
    boiler = (
        "terms of service apply to all users here and this boilerplate "
        "footer text repeats verbatim on every single page of the site"
    )
    docs = [(i, f"{boiler} u{i}a u{i}b u{i}c") for i in range(n)]
    # genuine near-dup pair: a long shared unique run (yields >=
    # WINNOW_MIN_SHARED distinct window minima)
    shared = (
        "zeta eta theta iota kappa lam mu nu xi omicron pi rho alpha "
        "beta gamma delta epsilon one two three four five six seven "
        "eight nine ten eleven twelve thirteen"
    )
    docs += [(1000, shared + " sigma"), (1001, shared + " tau")]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    capped = winnow_pairs(df, fp_cutoff=10)
    pairs = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert (1000, 1001) in pairs          # real dup pair survives
    # no boilerplate-only pair survives: every other pair would need
    # >= WINNOW_MIN_SHARED shared fps, and all shared fps among the n
    # boilerplate docs are hot (df == n > 10) hence dropped
    assert pairs == {(1000, 1001)}

    uncapped = winnow_pairs(df, fp_cutoff=10**9)
    assert uncapped.count() >= n * (n - 1) // 2  # quadratic without the cap


def test_media_header_parsing_real_formats(spark):
    """The decode kernel extracts REAL metadata from PNG/GIF/JPEG/WAV
    headers (pure byte arithmetic, no media libs); unrecognized
    payloads fall back to the deterministic stub codec. Driven through
    the same Arrow-batched mapInPandas path as the query."""
    import struct

    from porcupine_spark.operators.multimodal import META_SCHEMA, decode_media_meta

    png = b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR" + struct.pack(">II", 640, 480) + b"\x08\x02" + b"\x00" * 20
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 10
    jpeg = (b"\xff\xd8" + b"\xff\xe0\x00\x10JFIF" + b"\x00" * 10
            + b"\xff\xc0\x00\x11\x08" + struct.pack(">HH", 240, 360) + b"\x00" * 12 + b"\xff\xd9")
    wav = (b"RIFF" + struct.pack("<I", 36 + 800) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 44100, 176400, 4, 16)
           + b"data" + struct.pack("<I", 800) + b"\x00" * 800)
    other = b"not a media file"

    rows = [(1, png), (2, gif), (3, jpeg), (4, wav), (5, other)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in df.mapInPandas(decode_media_meta, schema=META_SCHEMA).collect()}

    assert (out[1].width, out[1].height, out[1].format) == (640, 480, "image/png")
    assert (out[2].width, out[2].height, out[2].format) == (320, 200, "image/gif")
    assert (out[3].width, out[3].height, out[3].format) == (360, 240, "image/jpeg")
    assert (out[4].n_frames, out[4].format) == (200, "audio/wav")  # 800 bytes / 4 block align
    assert out[5].format == "fake/v1"  # stub fallback


def test_block_pair_candidates_equal_bruteforce(spark):
    """The block-pair decomposition finds EXACTLY the brute-force
    candidate set — every unordered vector pair meets in exactly one
    applyInPandas group (no pair missed across blocks, none counted
    twice), at any block count."""
    import numpy as np

    from porcupine_spark.operators.similarity import block_pair_candidates

    rng = np.random.default_rng(7)
    n, d = 80, 8
    mat = rng.normal(size=(n, d))
    # plant near-dups: vectors 70..79 are tiny perturbations of 0..9
    mat[70:] = mat[:10] + rng.normal(scale=1e-3, size=(10, d))
    rows = [(i, [float(x) for x in mat[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # brute force in numpy on the SAME float32-rounded data Spark holds
    m32 = np.array([r[1] for r in rows], dtype=np.float32).astype(np.float64)
    m32 = m32 / np.linalg.norm(m32, axis=1, keepdims=True)
    sims = m32 @ m32.T
    thresh = 0.9
    expect = {
        (i, j) for i in range(n) for j in range(i + 1, n) if sims[i, j] >= thresh
    }
    assert len(expect) >= 10  # the planted pairs are present

    for rpb in (4096, 16):  # one-block-ish and many-block regimes
        got = {
            (r.id_a, r.id_b)
            for r in block_pair_candidates(df, thresh=thresh, rows_per_block=rpb).collect()
        }
        assert got == expect, f"rows_per_block={rpb}"


def test_ivf_kmeans_recall_query(spark):
    """The registered recall query (ivf_kmeans_recall): the k-means IVF
    path must earn recall@5 >= 0.9 averaged over the 10-query set at
    sf0.01 (VERDICT r2 item 4's bar)."""
    from porcupine_spark.plans.registry import load_all_plans

    out = load_all_plans()["ivf_kmeans_recall"].builder(spark, SF01_DIR)
    rows = out.collect()
    assert {r.query_id for r in rows} == set(range(10))
    mean_recall = sum(r.recall_at_5 for r in rows) / len(rows)
    assert mean_recall >= 0.9, f"mean recall@5 {mean_recall} < 0.9"


def test_ivf_index_persistence_artifact_mode(spark, sf_dir, tmp_path):
    """The 100 TB ANN serving path: ivf_index_build persists the
    cid-bucketed assignment table ONCE; ivf_topk_from serves query
    batches from the artifact and must return EXACTLY what the
    from-scratch ivf_topk_generic computes on the same inputs. The
    corpus-side scan must come from the bucketed layout (no Exchange
    needed on the index side — bucket metadata proves
    cid-partitioning)."""
    from porcupine_spark.operators.similarity import (
        ivf_centroids,
        ivf_index_build,
        ivf_topk_from,
        ivf_topk_generic,
    )
    from porcupine_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings", widen=False)
    cents = ivf_centroids(emb, 8)
    ivf_index_build(emb, cents, "ivf_idx_test", path=str(tmp_path / "ivf_idx"))
    try:
        qids = list(range(10))
        fresh = {
            (r.query_id, r.rank): (r.neighbor_id, r.cosine)
            for r in ivf_topk_generic(emb, cents, qids, k=5, probes=2).collect()
        }
        probed_cids: list = []
        served_df = ivf_topk_from(
            spark, "ivf_idx_test", cents, qids, k=5, probes=2,
            probe_cids_out=probed_cids,
        )
        served = {
            (r.query_id, r.rank): (r.neighbor_id, r.cosine)
            for r in served_df.collect()
        }
        assert served == fresh
        # the artifact read is the bucketed layout: the scan advertises
        # its buckets and the probe join needs no corpus-side Exchange
        plan = executed_plan(served_df)
        assert "Bucketed: true" in plan
        # probe-side pruning is REAL: the literal probed-cid filter makes
        # the FileScan read only the probed buckets of the 16-bucket
        # layout (SelectedBucketsCount), never the whole index
        import re

        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert m, "bucketed scan must advertise bucket pruning"
        assert int(m.group(1)) < int(m.group(2)), plan[:400]
        # the scan must read EXACTLY the buckets the probed cids hash
        # into (bucket id = pmod(murmur3(cid), n) — Spark's bucket spec),
        # not merely fewer than the total
        assert probed_cids, "ivf_topk_from must expose its probe set"
        total_buckets = int(m.group(2))
        expected_sel = (
            spark.table("ivf_idx_test")
            .filter(F.col("cid").isin(sorted(set(probed_cids))))
            .select(F.pmod(F.hash("cid"), F.lit(total_buckets)).alias("b"))
            .distinct()
            .count()
        )
        assert int(m.group(1)) == expected_sel, (
            f"scan read {m.group(1)} buckets; probed cids "
            f"{sorted(set(probed_cids))} occupy {expected_sel}"
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS ivf_idx_test")


def test_ivf_generic_with_kmeans_centroids(spark, sf_dir):
    """The IVF stages are centroid-agnostic: swapping the deterministic
    first-k provider for pyspark.ml KMeans changes one stage and the
    bucketed top-k still agrees with brute force for most queries
    (approximate by design — probing 2 of 4 buckets)."""
    import numpy as np

    from porcupine_spark.operators.similarity import (
        ivf_centroids,
        ivf_topk_generic,
    )
    from porcupine_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings", widen=False)
    cents = ivf_centroids(emb, 4, mode="kmeans")
    assert cents.count() == 4

    out = ivf_topk_generic(emb, cents, query_ids=range(5), k=3, probes=2)
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.cosine))
    assert set(by_q) == set(range(5))
    for q, lst in by_q.items():
        assert [r for r, *_ in sorted(lst)] == list(range(1, len(lst) + 1))

    # recall sanity vs brute force: the true top-1 is found for >=3/5
    # queries even with 2-of-4 probing on this tiny corpus
    pdf = emb.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy()
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    hits = 0
    for q in range(5):
        qi = np.searchsorted(ids, q)
        sims = mat @ mat[qi]
        sims[qi] = -np.inf
        true_top1 = ids[int(np.argmax(sims))]
        got = [n for _, n, _ in sorted(by_q[q])]
        hits += true_top1 in got
    assert hits >= 3


def test_asof_join_directions(spark):
    """forward / nearest directions (pandas merge_asof vocabulary),
    same join-free union+window machinery; nearest breaks exact ties
    backward."""
    left = spark.createDataFrame(
        [(1, 100), (1, 205), (1, 300)], "user_id long, lts long"
    )
    right = spark.createDataFrame(
        [(1, 90, 1, 9.0), (1, 210, 2, 21.0), (1, 300, 3, 30.0)],
        "user_id long, rts long, rid long, rv double",
    )

    def run(direction):
        out = asof_join(
            left, right, on="user_id", left_ts="lts", right_ts="rts",
            right_order="rid", payload_cols=["rid", "rv"], direction=direction,
        )
        return {r.lts: r.rid for r in out.collect()}

    assert run("backward") == {100: 1, 205: 1, 300: 3}
    assert run("forward") == {100: 2, 205: 2, 300: 3}
    # 205: backward dist 115 vs forward dist 5 -> forward; 100: dist 10
    # back vs 110 fwd -> backward; 300 exact on both -> backward rule
    assert run("nearest") == {100: 1, 205: 2, 300: 3}

    # single shuffle even for nearest (two windows share the exchange)
    out = asof_join(left, right, on="user_id", left_ts="lts", right_ts="rts",
                    right_order="rid", payload_cols=["rid"], direction="nearest")
    plan = executed_plan(out)
    assert plan.count("Exchange hashpartitioning") == 1


def test_semdedup_invariants(spark, sf_dir):
    """Every dropped vector has a kept same-cluster witness above the
    threshold; the kept set is pairwise below it (greedy maximal
    independent set per cluster, farthest-from-centroid keep policy)."""
    import numpy as np

    from porcupine_spark.operators.similarity import SEMDEDUP_T, semdedup
    from porcupine_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings", widen=False)
    out = semdedup(emb, k=8, tau=SEMDEDUP_T).collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.select("vec_id", "embedding").collect()}
    unit = {i: v / (np.linalg.norm(v) or 1.0) for i, v in vecs.items()}
    by_cluster: dict[int, list] = {}
    for r in out:
        by_cluster.setdefault(r["cid"], []).append(r)
    assert sum(1 for r in out if r["kept"]) < len(out)  # something dropped
    for cid, rows in by_cluster.items():
        kept = [r["vec_id"] for r in rows if r["kept"]]
        for r in rows:
            sims = [float(unit[r["vec_id"]] @ unit[k]) for k in kept if k != r["vec_id"]]
            if r["kept"]:
                assert all(s <= SEMDEDUP_T + 1e-9 for s in sims)
            else:
                assert any(s > SEMDEDUP_T - 1e-9 for s in sims)


def test_skyline_dominance_properties(spark, sf_dir):
    """Every kept frontier point is undominated; every dropped
    (price, min-date) point is dominated by some kept one."""
    from porcupine_spark.plans.joins_extra import skyline_orders

    kept = [
        (r.o_totalprice, r.o_orderdate)
        for r in skyline_orders(spark, sf_dir).collect()
    ]
    orders = load_table(spark, sf_dir, "orders")
    allpts = [
        (r.price, r.dmin)
        for r in orders.groupBy(F.col("o_totalprice").alias("price"))
        .agg(F.min("o_orderdate").alias("dmin"))
        .collect()
    ]

    def dominates(x, y):
        return (x[0] >= y[0] and x[1] <= y[1]) and x != y

    kept_set = set(kept)
    for k in kept:
        assert not any(dominates(o, k) for o in allpts), k
    for o in allpts:
        if o not in kept_set:
            assert any(dominates(k, o) for k in kept), o


def test_ks_drift_bounds_and_self_zero(spark, sf_dir):
    """KS statistic lies in [0, 1]; a source compared against an exact
    copy of itself yields 0 (checked via a two-copy frame)."""
    from porcupine_spark.operators.corpus import ks_drift_doc_length

    rows = ks_drift_doc_length(spark, sf_dir).collect()
    assert rows, "no source pairs"
    for r in rows:
        assert 0.0 <= r.ks_stat <= 1.0, r
    # identical distributions => 0: duplicate one source under two names
    docs = load_table(spark, sf_dir, "documents").limit(50)
    two = docs.select(F.lit("a").alias("source"), "n_chars", "doc_id").unionByName(
        docs.select(F.lit("b").alias("source"), "n_chars", "doc_id")
    )
    two.createOrReplaceTempView("___ks_two")
    import duckdb

    con = duckdb.connect()
    con.register("documents", two.toPandas())
    from porcupine_spark.plans.registry import load_all_plans

    sql = load_all_plans()["ks_drift_doc_length"].oracle
    out = con.execute(sql).fetchall()
    assert len(out) == 1 and out[0][4] == 0.0, out


def test_basket_lift_matches_bruteforce(spark, sf_dir):
    """Pair supports and lifts equal a driver-side brute force over the
    (small) sf0.001 baskets."""
    from collections import Counter, defaultdict
    from itertools import combinations

    from porcupine_spark.plans.joins_extra import (
        BASKET_MIN_SUPPORT,
        basket_pair_lift,
    )

    got = {
        (r.part_a, r.part_b): (r.support, r.n_a, r.n_b, r.lift)
        for r in basket_pair_lift(spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = defaultdict(set)
    for r in li.collect():
        baskets[r.l_orderkey].add(r.l_partkey)
    pair_c, item_c = Counter(), Counter()
    for items in baskets.values():
        for it in items:
            item_c[it] += 1
        for a, b in combinations(sorted(items), 2):
            pair_c[(a, b)] += 1
    n = len(baskets)
    want = {
        p: (c, item_c[p[0]], item_c[p[1]], (c * n) / (item_c[p[0]] * item_c[p[1]]))
        for p, c in pair_c.items()
        if c >= BASKET_MIN_SUPPORT
    }
    assert got == want


def test_event_disorder_high_water_is_sufficient(spark, sf_dir):
    """Replaying each user's events in arrival order with a watermark
    delay of max_lateness_us admits every event (the analytic's
    contract)."""
    from porcupine_spark.operators.sessionize import event_disorder_stats

    stats = {r.user_id: r for r in event_disorder_stats(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    from collections import defaultdict

    per_user = defaultdict(list)
    for r in ev.collect():
        per_user[r.user_id].append((r.event_id, r.ts))
    for uid, rows in per_user.items():
        rows.sort()
        high = None
        max_late = 0
        n_late = 0
        for _, ts in rows:
            if high is not None and ts < high:
                n_late += 1
                from datetime import timedelta

                max_late = max(max_late, (high - ts) // timedelta(microseconds=1))
            high = ts if high is None else max(high, ts)
        s = stats[uid]
        assert (s.n_late, s.max_lateness_us) == (n_late, max_late), uid


def test_media_ahash_pairs_exact_vs_bruteforce(spark):
    """The banded aHash pairing finds EXACTLY the pairs with hamming <=
    3 (pigeonhole: 3 differing bits cannot touch all 4 16-bit bands),
    verified against a driver-side brute force — including planted
    near-identical payloads."""
    from porcupine_spark.operators.multimodal import (
        AHASH_MAX_HAMMING,
        ahash64,
        media_ahash_pairs,
    )

    payloads = [(i, f"media payload number {i}".encode()) for i in range(40)]
    # plant near-dups: same payload (hamming 0) under new ids
    payloads += [(100, payloads[3][1]), (101, payloads[7][1])]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    got = {
        (r.doc_a, r.doc_b): r.hamming for r in media_ahash_pairs(df).collect()
    }
    hashes = {i: ahash64(p) & ((1 << 64) - 1) for i, p in payloads}
    want = {}
    ids = sorted(hashes)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            h = bin(hashes[a] ^ hashes[b]).count("1")
            if h <= AHASH_MAX_HAMMING:
                want[(a, b)] = h
    assert got == want
    assert (3, 100) in got and got[(3, 100)] == 0  # planted dup found


def test_peak_concurrency_carries_across_midnight(spark, tmp_path):
    """A session open at 00:00 must hold the next day's peak up even if
    that day only sees closing boundaries (the boundary-only group-by
    would report 0)."""
    import pandas as pd

    from porcupine_spark.operators.sessionize import peak_concurrent_sessions

    rows = [
        # u2: session entirely on day 1 (23:45-23:55)
        (1, pd.Timestamp("2024-03-01 23:45:00"), 2, "view", 1.0, None),
        (2, pd.Timestamp("2024-03-01 23:55:00"), 2, "view", 1.0, None),
        # u1: session crossing midnight (23:50 -> 00:10, 20min gap < 30)
        (3, pd.Timestamp("2024-03-01 23:50:00"), 1, "view", 1.0, None),
        (4, pd.Timestamp("2024-03-02 00:10:00"), 1, "view", 1.0, None),
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    sf = str(tmp_path / "mini_sf")
    import os

    os.makedirs(sf)
    spark.createDataFrame(pdf).write.parquet(f"{sf}/events.parquet")
    got = {
        r.day.day: r.peak_concurrent
        for r in peak_concurrent_sessions(spark, sf).collect()
    }
    assert got == {1: 2, 2: 1}  # day2's 1 is pure carry-in


def test_winnowing_guarantee_planted_run(spark, tmp_path):
    """The Schleimer/Wilkerson/Aiken guarantee: documents sharing a
    token run of >= w+k-1 (= 6) share at least one winnowing
    fingerprint — planted shared run must surface as a pair; unrelated
    docs must not."""
    import os

    import pandas as pd

    from porcupine_spark.operators.dedup import winnow_dup_pairs

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, f"one unique prefix {shared} and a tail", "en", "s", 1),
        (2, f"totally different opening {shared} closing words here", "en", "s", 1),
        (3, "no overlap at all just some other words entirely distinct tokens", "en", "s", 1),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    sf = str(tmp_path / "win_sf")
    os.makedirs(sf)
    spark.createDataFrame(pdf).write.parquet(f"{sf}/documents.parquet")
    pairs = {(r.doc_a, r.doc_b) for r in winnow_dup_pairs(spark, sf).collect()}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_compositional_reports_from_materialized_artifact(spark, sf_dir, tmp_path):
    """The three compositional reports must give IDENTICAL results when
    fed a materialized base artifact (parquet written once, read back)
    instead of recomputing their base operator end-to-end — the 100 TB
    mode: cluster once / check once, then report from the artifact.
    The registered queries measure the from-scratch mode (so their
    oracle composition can't drift); this pins the two modes equal."""
    from porcupine_spark.operators.components import (
        cluster_size_histogram_from,
        dedup_clusters,
        dup_cluster_size_histogram,
    )
    from porcupine_spark.operators.dedup import (
        dedup_keep_canonical,
        dedup_savings_report,
        savings_report_from,
    )
    from porcupine_spark.operators.text import (
        contamination_check,
        decontaminate_corpus,
        decontaminate_from,
    )
    from porcupine_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    # 1. cluster-size histogram from a persisted cluster assignment
    cpath = str(tmp_path / "clusters.parquet")
    dedup_clusters(spark, sf_dir).write.parquet(cpath)
    from_artifact = cluster_size_histogram_from(spark.read.parquet(cpath))
    assert rows(from_artifact) == rows(dup_cluster_size_histogram(spark, sf_dir))

    # 2. savings report from a persisted keep-set
    kpath = str(tmp_path / "kept.parquet")
    dedup_keep_canonical(spark, sf_dir).select("doc_id").write.parquet(kpath)
    from_artifact = savings_report_from(docs, spark.read.parquet(kpath))
    assert rows(from_artifact) == rows(dedup_savings_report(spark, sf_dir))

    # 3. decontamination report from persisted flagged ids
    fpath = str(tmp_path / "flagged.parquet")
    contamination_check(spark, sf_dir).select("doc_id").distinct().write.parquet(fpath)
    from_artifact = decontaminate_from(docs, spark.read.parquet(fpath))
    assert rows(from_artifact) == rows(decontaminate_corpus(spark, sf_dir))

    # 4. source-shift report from the same persisted keep-set
    from porcupine_spark.operators.dedup import (
        dedup_source_shift,
        source_shift_from,
    )

    from_artifact = source_shift_from(docs, spark.read.parquet(kpath))
    assert rows(from_artifact) == rows(dedup_source_shift(spark, sf_dir))


def test_dedup_cap_bounds_skewed_corpus_at_scale(spark):
    """Adversarial scale check for the capped pair-generation ops: an
    sf0.1-sized corpus (5000 docs) where 30% share one boilerplate
    shingle. With the production cutoff (hot_df_cutoff(5000)=500 <
    1500 hot docs) the hot shingle is dropped: candidate pairs stay
    bounded by genuine overlaps and the job completes promptly; the
    uncapped formulation would generate C(1500,2) ~ 1.1M pairs from
    the boilerplate alone (the 100 TB failure mode, scaled down)."""
    import time as _time

    from porcupine_spark.operators.dedup import hot_df_cutoff, ngram_jaccard_pairs

    n, hot_frac = 5000, 0.30
    n_hot = int(n * hot_frac)
    boiler = "all rights reserved contact us today"
    rows = []
    for i in range(n):
        uniq = f"u{i}a u{i}b u{i}c u{i}d u{i}e"
        rows.append((i, f"{boiler} {uniq}" if i < n_hot else uniq))
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(32)

    cutoff = hot_df_cutoff(n)
    assert cutoff == 500 < n_hot  # the cap actually bites here

    t0 = _time.perf_counter()
    pairs = ngram_jaccard_pairs(docs, df_cutoff=cutoff).count()
    wall = _time.perf_counter() - t0
    # no doc pair shares any non-hot shingle -> zero candidate pairs;
    # without the cutoff this would be ~1.1M boilerplate pairs
    assert pairs == 0
    # generous CI-safe bound: the quadratic formulation takes minutes
    # even on fast hardware; the property itself is the pairs==0 above
    assert wall < 180


def test_intra_doc_repeated_spans_planted(spark):
    """Self-repetition detector on planted rows: a doc that repeats a
    10-token block (looped boilerplate) yields one maximal repeated
    span of 10 tokens on diagonal = block offset; a clean doc yields
    nothing; a doc repeating only a single 8-token window (run 1 <
    MIN_RUN) is filtered."""
    from porcupine_spark.operators.dedup import intra_doc_repeated_spans

    block = " ".join(f"loop{i}" for i in range(10))
    one_win = " ".join(f"w{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            (1, f"{block} middle filler {block} tail"),
            (2, "a perfectly clean document with no internal repeats"),
            (3, f"{one_win} gap word {one_win} end"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_repeat_spans, r.max_span_tokens, r.total_span_tokens)
        for r in intra_doc_repeated_spans(docs, df_cutoff=100).collect()
    }
    # doc 1: 3 consecutive window matches on one diagonal -> 10 tokens
    assert out == {1: (1, 10, 10)}


def test_verbatim_span_pairs_semantics(spark):
    """ExactSubstr span merge on hand-built rows: a planted 12-token
    verbatim run shared by two docs must surface as ONE maximal span of
    exactly 12 tokens (5 consecutive matching 8-token windows on one
    diagonal); a doc with no 8-token overlap must produce no pair; and
    a single isolated window match (run_len 1 < MIN_RUN) is filtered."""
    from porcupine_spark.operators.dedup import (
        VSPAN_K,
        verbatim_span_pairs_over,
    )

    assert VSPAN_K == 8  # the arithmetic below assumes K=8
    run = " ".join(f"shared{i}" for i in range(12))  # 12-token run
    one_win = " ".join(f"once{i}" for i in range(8))  # exactly 1 window
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {run} gamma delta"),
            (2, f"{run} epsilon zeta eta theta"),
            (3, "totally different words with no overlap at all here"),
            (4, f"prefix {one_win} suffix0 suffix1"),
            (5, f"{one_win} other tail words here"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r.doc_a, r.doc_b): (r.n_spans, r.max_span_tokens, r.total_span_tokens)
        for r in verbatim_span_pairs_over(docs, df_cutoff=100).collect()
    }
    # the 12-token run: windows at 5 consecutive positions, one diagonal
    assert out == {(1, 2): (1, 12, 12)}
    """merge_asof's tolerance: a directional match farther than the
    tolerance nulls out; within-tolerance matches are unchanged; works
    for nearest too."""
    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 13:00:00")],
        "user_id long, lts string",
    ).select("user_id", F.col("lts").cast("timestamp").alias("lts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:30:00", 100, 1.0)],
        "user_id long, rts string, rid long, rv double",
    ).select("user_id", F.col("rts").cast("timestamp").alias("rts"), "rid", "rv")

    out = asof_join(
        left, right, "user_id", "lts", "rts", "rid", ["rid", "rv"],
        tolerance_s=3600,
    )
    rows = {str(r.lts): r.rid for r in out.collect()}
    assert rows["2024-01-01 10:00:00"] == 100  # 30 min back: within 1h
    assert rows["2024-01-01 13:00:00"] is None  # 3.5h back: nulled

    near = asof_join(
        left, right, "user_id", "lts", "rts", "rid", ["rid", "rv"],
        direction="nearest", tolerance_s=3600,
    )
    nrows = {str(r.lts): r.rid for r in near.collect()}
    assert nrows == {"2024-01-01 10:00:00": 100, "2024-01-01 13:00:00": None}


def test_asof_join_null_payload_comes_from_matched_row(spark):
    """Every output value must come from THE matched right row (the
    oracle's correlated-rank semantics): when the newest at-or-before
    right row has a NULL payload field, the result keeps that NULL —
    a per-column ignorenulls fill would smuggle in the value of an
    OLDER row (and the tolerance check would then compare against a
    timestamp that didn't supply the payload)."""
    left = spark.createDataFrame(
        [(1, "2024-01-01 10:30:00")], "user_id long, lts string"
    ).select("user_id", F.col("lts").cast("timestamp").alias("lts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 08:00:00", 1, 5.0), (1, "2024-01-01 10:00:00", 2, None)],
        "user_id long, rts string, rid long, rv double",
    ).select("user_id", F.col("rts").cast("timestamp").alias("rts"), "rid", "rv")

    out = asof_join(left, right, "user_id", "lts", "rts", "rid", ["rid", "rv"]).collect()
    assert out[0].rid == 2       # the 10:00 row is the match...
    assert out[0].rv is None     # ...and its NULL payload stays NULL

    # with tolerance: the 10:00 match is within 1h -> kept as-is; the
    # 08:00 row's 5.0 must NOT leak in
    tol = asof_join(
        left, right, "user_id", "lts", "rts", "rid", ["rid", "rv"], tolerance_s=3600
    ).collect()
    assert tol[0].rid == 2 and tol[0].rv is None


def test_fuzzy_decontamination_flags_planted_paraphrase(spark, tmp_path):
    """A corpus doc that lightly edits a benchmark doc (tail swapped,
    ~90% shingle overlap) must be flagged with its bench source; an
    unrelated corpus doc must not appear."""
    import pandas as pd

    from porcupine_spark.operators.dedup import fuzzy_decontamination

    bench = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi omicron pi rho sigma tau upsilon") * 2
    leaked = bench + " phi chi psi omega extra closing words appended"
    other = "entirely different subject matter about spark physical plans " * 5
    rows = [
        (0, bench, "en", "eval", len(bench)),
        (20, leaked, "en", "web", len(leaked)),
        (21, other, "en", "web", len(other)),
    ]
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(tmp_path / "documents.parquet")

    got = {(r.doc_id, r.bench_id): r.jaccard
           for r in fuzzy_decontamination(spark, str(tmp_path)).collect()}
    assert (20, 0) in got and got[(20, 0)] > 0.5, got
    assert all(d != 21 for d, _ in got), got


def test_winsorized_mean_resists_planted_outlier(spark, tmp_path):
    """One absurd outlier doc moves the raw mean far more than the
    winsorized mean (the reason robust stats tune packing budgets)."""
    import pandas as pd

    from porcupine_spark.operators.text import winsorized_length_stats

    rows = [(i, "w " * 50, "en", "src", 100) for i in range(30)]
    rows.append((99, "w " * 50, "en", "src", 1_000_000))  # planted outlier
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(tmp_path / "documents.parquet")
    r = winsorized_length_stats(spark, str(tmp_path)).collect()[0]
    assert r.n_docs == 31
    assert r.winsorized_mean_micro == 100 * 1_000_000  # clamp kills the outlier
    assert r.raw_mean_micro > 30 * 1_000_000  # raw mean dragged >300x


def test_pps_sample_proportional_on_skewed_corpus(spark, tmp_path):
    """A doc holding ~half the corpus mass must receive ~half the grid
    picks; total picks equals ceil(total/step) exactly (deterministic
    to within one of the target)."""
    import pandas as pd

    from porcupine_spark.operators.corpus import PPS_K, pps_systematic_sample

    rows = [(i, "x", "en", "src", 100) for i in range(50)]  # 5000 mass
    rows.append((50, "x", "en", "src", 5000))  # one doc = half the corpus
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(tmp_path / "documents.parquet")
    out = {r.doc_id: r.n_picks for r in pps_systematic_sample(spark, str(tmp_path)).collect()}
    total, step = 10_000, max(1, 10_000 // PPS_K)
    assert sum(out.values()) == (total + step - 1) // step
    assert out.get(50, 0) >= PPS_K // 2 - 1  # big doc gets ~half the picks


def test_cusum_locates_planted_regime_shift(spark, tmp_path):
    """20 days at 2 orders/day then 20 days at 6/day: |CUSUM| of the
    mean-deviation series must peak exactly on the last low-regime day
    (the classic change-point location), with the documented scaling
    (deviations carried as c*n_days - total, no division)."""
    import datetime as dt

    import pandas as pd

    from porcupine_spark.plans.relational import cusum_changepoint

    rows = []
    d0 = dt.date(2024, 1, 1)
    oid = 0
    for day in range(40):
        for _ in range(2 if day < 20 else 6):
            rows.append((oid, d0 + dt.timedelta(days=day)))
            oid += 1
    pdf = pd.DataFrame(rows, columns=["o_orderkey", "o_orderdate"])
    sf = str(tmp_path / "cusum_sf")
    import os

    os.makedirs(sf)
    spark.createDataFrame(pdf).write.parquet(f"{sf}/orders.parquet")
    got = cusum_changepoint(spark, sf).collect()[0]
    assert got.n_days == 40 and got.total_orders == 160
    # last low day: cumulative (c*40 - 160) = 20 * (80 - 160) = -1600
    assert got.peak_day == "2024-01-20"
    assert got.peak_cusum_scaled == -1600


def test_transitivity_planted_triangle(spark, tmp_path):
    """Three identical docs + one unrelated: the near-dup graph is one
    triangle, so wedges=3, triangles=1, transitivity=1.0 exactly."""
    import pandas as pd

    from porcupine_spark.operators.dedup import dup_transitivity_audit

    twin = "the quick brown fox jumps over the lazy dog again and again " * 5
    other = "completely different content about spark query plans here " * 5
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [twin, twin, twin, other],
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
            "n_chars": [len(twin)] * 3 + [len(other)],
        }
    )
    sf = str(tmp_path / "tri_sf")
    import os

    os.makedirs(sf)
    spark.createDataFrame(pdf).write.parquet(f"{sf}/documents.parquet")
    got = dup_transitivity_audit(spark, sf).collect()[0]
    assert got.n_edges == 3
    assert got.n_wedges == 3
    assert got.n_triangles == 1
    assert got.transitivity_micro == 1000000


def test_jl_distortion_concentrates(spark, sf_dir):
    """JL with m=16 keeps squared-distance ratios within a constant
    band of 1 (std ~ sqrt(2/m) ~ 0.35) — the audit's reason to exist."""
    from porcupine_spark.plans.registry import load_all_plans

    rows = load_all_plans()["jl_distortion_audit"].builder(spark, sf_dir).collect()
    assert len(rows) >= 10
    ppm = [r.distortion_ppm for r in rows]
    assert all(100_000 < p < 4_000_000 for p in ppm)
    mean = sum(ppm) / len(ppm)
    assert 600_000 < mean < 1_600_000


def test_rfm_concurrent_ranks_match_chained(spark, sf_dir):
    """r8: the three RFM quartile rankings run as concurrent jobs and
    recombine on the unique customer key — the segment table must be
    byte-identical to the old chained global_rank form."""
    from porcupine_spark.functions.topk import global_rank, ntile_from_rank
    from porcupine_spark.operators.quality import rfm_segmentation
    from porcupine_spark.tables import load_table

    new = rfm_segmentation(spark, sf_dir)

    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("monetary"),
    )
    r_rk, n, _ = global_rank(
        per_cust, [F.desc("last_order"), F.asc("o_custkey")], rank_col="_r"
    )
    f_rk, _, _ = global_rank(
        r_rk, [F.desc("frequency"), F.asc("o_custkey")], rank_col="_f"
    )
    m_rk, _, _ = global_rank(
        f_rk, [F.desc("monetary"), F.asc("o_custkey")], rank_col="_m"
    )
    scored = m_rk.select(
        "monetary",
        ntile_from_rank("_r", n, 4).cast("long").alias("r_quartile"),
        ntile_from_rank("_f", n, 4).cast("long").alias("f_quartile"),
        ntile_from_rank("_m", n, 4).cast("long").alias("m_quartile"),
    )
    old = scored.groupBy("r_quartile", "f_quartile", "m_quartile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.min("monetary").alias("min_monetary"),
        F.max("monetary").alias("max_monetary"),
    )
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))


def test_minhash_carry_columns_match_joined(spark, sf_dir):
    """r8: carry= threads per-doc attributes through the verification
    join; the pair set and attached values must equal the old
    join-by-doc-id form exactly."""
    from porcupine_spark.operators.dedup import minhash_lsh_pairs
    from porcupine_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    carried = minhash_lsh_pairs(docs, carry=("source",))
    plain = minhash_lsh_pairs(docs)
    sa = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("source_a"))
    sb = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("source_b"))
    joined = plain.join(sa, "doc_a").join(sb, "doc_b").select(
        "doc_a", "doc_b", "jaccard", "source_a", "source_b"
    )
    assert sorted(map(tuple, carried.collect())) == sorted(
        map(tuple, joined.collect())
    )


@pytest.mark.parametrize(
    "carry, match",
    [
        (("doc",), "collides"),  # doc_a/doc_b aliases
        (("arr",), "collides"),  # arr_a/arr_b aliases
        (("jaccard",), "collides"),
        (("source", "source_a"), "collides"),  # another carry's alias
        (("source", "source"), "duplicate"),
        (("no_such_col",), "not in docs"),
    ],
    ids=["doc", "arr", "jaccard", "alias", "duplicate", "missing"],
)
def test_minhash_carry_rejects_bad_names(spark, carry, match):
    """carry= names are checked when the pairs are built, before any
    job runs: each bad name raises ValueError instead of a silent
    column clash or an analysis error deep in the plan."""
    from porcupine_spark.operators.dedup import minhash_lsh_pairs

    cols = {c for c in carry} | {"doc_id", "text", "source"}
    cols.discard("no_such_col")
    docs = spark.createDataFrame([], ", ".join(f"{c} string" for c in sorted(cols)))
    with pytest.raises(ValueError, match=match):
        minhash_lsh_pairs(docs, carry=carry)


def test_minhash_simhash_pairs_duplicate_free_without_distinct(spark):
    """The r7 min-band emission replaced the candidate distinct() in
    the banded pair generators (minhash, and the banded-Hamming core of
    simhash and media aHash): a pair colliding in several bands must
    still appear exactly once in the output (the oracle hash-compare in
    test_oracles also pins the exact sets; this pins the uniqueness
    mechanism on its own)."""
    from porcupine_spark.operators import dedup as D
    from porcupine_spark.operators.multimodal import media_ahash_pairs, media_table
    from porcupine_spark.tables import load_table

    sf = SF01_DIR
    docs = load_table(spark, sf, "documents")

    mh = [(r.doc_a, r.doc_b) for r in D.minhash_lsh_pairs(docs).collect()]
    assert len(mh) == len(set(mh)) and len(mh) > 0

    sh = [
        (r.doc_a, r.doc_b)
        for r in D.simhash_pairs(spark, sf).collect()
    ]
    assert len(sh) == len(set(sh)) and len(sh) > 0

    # the corpus has no near-identical payloads: plant copies of five
    # under new ids, each colliding with its original in all 4 bands
    media = media_table(spark, sf)
    copies = media.orderBy("doc_id").limit(5).select(
        (F.col("doc_id") + 10**9).alias("doc_id"), "payload"
    )
    md = [(r.doc_a, r.doc_b) for r in media_ahash_pairs(media.unionByName(copies)).collect()]
    assert len(md) == len(set(md)) and len(md) >= 5


def test_priority_drift_grid_consistency(spark, sf_dir):
    from porcupine_spark.operators.quality import priority_mix_drift_chi2
    from porcupine_spark.tables import load_table

    rows = priority_mix_drift_chi2(spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders").count()
    assert sum(r.n_orders for r in rows) == orders
    prios = {
        r.o_orderpriority
        for r in load_table(spark, sf_dir, "orders")
        .select("o_orderpriority").distinct().collect()
    }
    for r in rows:
        assert r.chi2_micro >= 0
        assert r.top_drifted_priority in prios


def test_dup_embedding_consistency_bounds(spark, sf_dir):
    from porcupine_spark.operators.dedup import (
        DEDUP_CANON_T, dup_embedding_consistency)

    rows = dup_embedding_consistency(spark, sf_dir).collect()
    for r in rows:
        assert r.jaccard >= DEDUP_CANON_T
        assert -1.0 - 1e-9 <= r.cosine <= 1.0 + 1e-9
        assert r.suspect == (1 if r.cosine < 0.5 else 0)


def test_dim_scaling_plan_matches_numpy(spark, sf_dir):
    import math
    import numpy as np
    from porcupine_spark.operators.linalg import embedding_dim_scaling_plan
    from porcupine_spark.tables import load_table

    rows = {r.dim: r for r in embedding_dim_scaling_plan(spark, sf_dir).collect()}
    emb = np.stack([np.array(r.embedding) for r in
                    load_table(spark, sf_dir, "embeddings").collect()])
    xi = (emb.astype(np.float64) * 1e6).astype(np.int64)
    n = len(xi)
    for d in (0, 13, 63):
        sx = int(xi[:, d].astype(object).sum())
        sxx = int((xi[:, d].astype(object) ** 2).sum())
        var = (n * sxx - sx * sx) // (n * (n - 1))  # positive: floor==trunc
        assert rows[d].var_micro2 == var
        assert rows[d].std_micro == math.isqrt(var)
        assert rows[d].inv_scale_micro == 10**12 // math.isqrt(var)
