"""Semantics tests for the two-level prefix scan (functions/scans.py),
the global watermark audit, int8 ADC retrieval (operators/
quantization.py) and the z-order layout audit's tile spans."""

import pytest
from pyspark.sql import Row, Window, functions as F


class TestPrefixScan:
    def _check_equals_global(self, spark, rows, bucket_width):
        from porcupine_spark.functions.scans import prefix_max_exclusive

        df = spark.createDataFrame([Row(k=k, tb=tb, v=v) for k, tb, v in rows])
        got = prefix_max_exclusive(df, "k", "tb", "v", "hw", bucket_width)
        w = Window.orderBy("k", "tb").rowsBetween(Window.unboundedPreceding, -1)
        want = df.withColumn("hw", F.max("v").over(w))
        assert (
            got.orderBy("k", "tb").collect() == want.orderBy("k", "tb").collect()
        )

    def test_matches_single_window(self, spark):
        rows = [(i, 0, (i * 37) % 101) for i in range(100)]
        for width in (1, 7, 32, 1000):
            self._check_equals_global(spark, rows, width)

    def test_ties_broken_by_tiebreak(self, spark):
        # equal order keys: the tiebreak column must make hw well-defined
        rows = [(5, t, v) for t, v in [(0, 9), (1, 3), (2, 12)]] + [
            (1, 0, 4), (9, 0, 1)]
        self._check_equals_global(spark, rows, 3)

    def test_first_row_null(self, spark):
        from porcupine_spark.functions.scans import prefix_max_exclusive

        df = spark.createDataFrame([Row(k=1, tb=0, v=10), Row(k=2, tb=0, v=5)])
        out = {r.k: r.hw for r in
               prefix_max_exclusive(df, "k", "tb", "v", "hw", 10).collect()}
        assert out[1] is None and out[2] == 10


class TestWatermarkAudit:
    def test_bands_partition_events(self, spark, sf_dir):
        from porcupine_spark.operators.sessionize import global_watermark_audit
        from porcupine_spark.tables import load_table

        out = global_watermark_audit(spark, sf_dir).collect()
        n_total = load_table(spark, sf_dir, "events").count()
        assert sum(r.n_events for r in out) == n_total
        for r in out:
            assert r.would_drop_10m == (1 if r.band in ("le_1h", "gt_1h") else 0)
        # the jittered replay must not be degenerate: some lateness exists
        assert any(r.band != "on_time" for r in out)


class TestSQ8:
    def test_scores_are_integer_dot(self, spark, sf_dir):
        from porcupine_spark.operators.quantization import sq8_topk
        from porcupine_spark.tables import load_table

        out = sq8_topk(spark, sf_dir)
        rows = out.collect()
        assert len(rows) > 0
        # re-derive one score in python
        import math
        emb = {r.vec_id: r.embedding
               for r in load_table(spark, sf_dir, "embeddings").collect()}
        qmax = max(abs(v) for e in emb.values() for v in e)
        def q8(e):
            return [math.floor(float(v) * 127.0 / qmax) for v in e]
        r0 = rows[0]
        want = sum(a * b for a, b in zip(q8(emb[r0.query_id]), q8(emb[r0.neighbor_id])))
        assert r0.score == want

    def test_ranks_deterministic_and_no_self(self, spark, sf_dir):
        from porcupine_spark.operators.quantization import TOPK, sq8_topk

        rows = sq8_topk(spark, sf_dir).collect()
        by_q = {}
        for r in rows:
            assert r.query_id != r.neighbor_id
            by_q.setdefault(r.query_id, []).append(r)
        for q, rs in by_q.items():
            rs.sort(key=lambda r: r.rank)
            assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
            assert len(rs) <= TOPK
            # scores non-increasing with rank; ties broken by neighbor asc
            for a, b in zip(rs, rs[1:]):
                assert (a.score, -a.neighbor_id) >= (b.score, -b.neighbor_id)

    def test_recall_bounds(self, spark, sf_dir):
        from porcupine_spark.operators.quantization import sq8_adc_recall

        rows = sq8_adc_recall(spark, sf_dir).collect()
        assert len(rows) > 0
        for r in rows:
            assert 0 <= r.n_hits <= r.n_exact
            assert 0 <= r.recall_micro <= 1_000_000
        # int8 over 64 dims should retrieve most of the exact top-5:
        # pin a sanity floor so a quantization regression is caught
        mean_recall = sum(r.recall_micro for r in rows) / len(rows)
        assert mean_recall >= 600_000


class TestCellBalanceAndCoverage:
    def test_cell_balance_sums(self, spark, sf_dir):
        from porcupine_spark.operators.similarity import ivf_cell_balance
        from porcupine_spark.tables import load_table

        rows = ivf_cell_balance(spark, sf_dir).collect()
        n_vecs = load_table(spark, sf_dir, "embeddings").count()
        assert sum(r.n_vectors for r in rows) == n_vecs
        k = len(rows)
        # load factors average to ~1e6 (truncation slack <= k ppm each)
        mean_lf = sum(r.load_factor_ppm for r in rows) / k
        assert 1_000_000 - k <= mean_lf <= 1_000_000

    def test_cell_balance_matches_ivf_assignment(self, spark, sf_dir):
        # the audit must count the same buckets ivf_topk searches:
        # derive assignment from the oracle rule independently in python
        import numpy as np
        from porcupine_spark.operators.similarity import ivf_cell_balance
        from porcupine_spark.tables import load_table

        emb = {r.vec_id: np.array(r.embedding, dtype=np.float64)
               for r in load_table(spark, sf_dir, "embeddings").collect()}
        cents = {cid: v / np.linalg.norm(v) for cid, v in emb.items() if cid < 8}
        counts = {}
        for vid, v in emb.items():
            vn = v / np.linalg.norm(v)
            best = min((-(vn @ c), cid) for cid, c in cents.items())[1]
            counts[best] = counts.get(best, 0) + 1
        got = {r.cid: r.n_vectors for r in ivf_cell_balance(spark, sf_dir).collect()}
        assert got == counts

    def test_doc_embedding_coverage(self, spark, sf_dir):
        from porcupine_spark.operators.quality import dq_doc_embedding_coverage
        from porcupine_spark.tables import load_table

        rows = dq_doc_embedding_coverage(spark, sf_dir).collect()
        docs = load_table(spark, sf_dir, "documents").count()
        assert sum(r.n_docs for r in rows) == docs
        for r in rows:
            assert r.n_embedded <= r.n_docs
            assert 0 <= r.coverage_ppm <= 1_000_000


class TestSketchShelf:
    def test_cms_join_size_one_sided(self, spark, sf_dir):
        from porcupine_spark.operators.sketches import cms_join_size

        r = cms_join_size(spark, sf_dir).first()
        assert r.cms_estimate >= r.exact_join_size  # collisions only add
        assert r.overcount_micro >= 0

    def test_quantile_sketch_bounds(self, spark, sf_dir):
        from porcupine_spark.operators.sketches import (
            QSK_BINS, quantile_sketch_calibration)
        from porcupine_spark.tables import load_table

        rows = {r.quantile_pct: r
                for r in quantile_sketch_calibration(spark, sf_dir).collect()}
        assert set(rows) == {50, 90, 99}
        orders = load_table(spark, sf_dir, "orders")
        lo, hi = orders.selectExpr(
            "MIN(CAST(o_totalprice * 100 AS BIGINT))",
            "MAX(CAST(o_totalprice * 100 AS BIGINT))").first()
        bin_w = (hi - lo + 1 + QSK_BINS - 1) // QSK_BINS
        for r in rows.values():
            # left-edge readout: one-sided undershoot, at most one bin
            assert 0 <= r.exact_cents - r.sketch_cents <= bin_w
            assert r.undershoot_micro >= 0
        # monotone quantiles
        assert rows[50].exact_cents <= rows[90].exact_cents <= rows[99].exact_cents


class TestSpectrumAndDeciles:
    def test_decile_properties(self, spark, sf_dir):
        from porcupine_spark.operators.orderstats import length_decile_assign
        from porcupine_spark.tables import load_table

        rows = length_decile_assign(spark, sf_dir).collect()
        n = load_table(spark, sf_dir, "documents").count()
        assert len(rows) == n
        by_len = {}
        for r in rows:
            assert 0 <= r.decile <= 9
            by_len.setdefault(r.n_chars, set()).add(r.decile)
        # ties share a decile; deciles monotone in length
        assert all(len(s) == 1 for s in by_len.values())
        lens = sorted(by_len)
        decs = [next(iter(by_len[v])) for v in lens]
        assert decs == sorted(decs)

    def test_spectrum_accounts_all_shingles(self, spark, sf_dir):
        from porcupine_spark.operators.dedup import (
            shingle_df_spectrum, shingle_table)
        from porcupine_spark.tables import load_table

        rows = shingle_df_spectrum(spark, sf_dir).collect()
        docs = load_table(spark, sf_dir, "documents")
        n_distinct = (
            shingle_table(docs, 3).select("shingle").distinct().count()
        )
        assert sum(r.n_shingles for r in rows) == n_distinct
        # pair-mass shares sum to ~1e6 (truncation slack per band)
        tot = sum(r.pair_mass_share_ppm for r in rows)
        assert 1_000_000 - len(rows) <= tot <= 1_000_000


class TestAnisotropyProbe:
    def test_rayleigh_is_certified_lower_bound(self, spark, sf_dir):
        import numpy as np
        from porcupine_spark.operators.linalg import (
            C_SCALE, DIMS, embedding_anisotropy_probe, _tdiv)
        from porcupine_spark.tables import load_table

        rows = embedding_anisotropy_probe(spark, sf_dir).collect()
        assert len(rows) == DIMS
        # rebuild the exact normalized covariance in python
        emb = np.stack([np.array(r.embedding) for r in
                        load_table(spark, sf_dir, "embeddings").collect()])
        xi = (emb.astype(np.float64) * 1e6).astype(np.int64)
        n = len(xi)
        cov = n * (xi.T @ xi).astype(object) - np.outer(
            xi.sum(0).astype(object), xi.sum(0).astype(object))
        cmax = int(np.abs(cov).max())
        cn = np.vectorize(lambda v: _tdiv(int(v) * C_SCALE, cmax))(cov)
        evals = np.linalg.eigvalsh(cn.astype(np.float64))
        ray = rows[0].rayleigh_lb_micro / 1e6
        # the bound: mean eigenvalue <= rayleigh(any iterate) <= lambda_1
        assert ray <= evals[-1] * (1 + 1e-9)
        assert ray >= evals.mean() - 1  # power steps only improve on w0
        # the probe's trace agrees with numpy's
        assert rows[0].mean_eig_micro == _tdiv(
            int(np.trace(cn.astype(object))) * 1_000_000, DIMS)
        # anisotropy ratio consistent and >= 1e6 by the bound chain
        assert rows[0].anisotropy_lb_ppm == _tdiv(
            rows[0].rayleigh_lb_micro * 1_000_000, rows[0].mean_eig_micro)

    def test_tdiv_truncates_toward_zero(self):
        from porcupine_spark.operators.linalg import _tdiv

        assert _tdiv(7, 2) == 3 and _tdiv(-7, 2) == -3
        assert _tdiv(7, -2) == -3 and _tdiv(-7, -2) == 3


def test_zorder_layout_audit_tile_spans(spark, sf_dir):
    """Every tile's value span is <= 16 in BOTH dimensions — the
    data-skipping property the write path depends on."""
    from porcupine_spark.plans.registry import load_all_plans

    out = load_all_plans()["zorder_layout_audit"].builder(spark, sf_dir).collect()
    assert len(out) > 0
    for r in out:
        assert r.max_x - r.min_x <= 15
        assert r.max_y - r.min_y <= 15
