"""Scalar-quantized (int8) ADC retrieval and its recall audit.

``embedding_quantization_error`` (operators/similarity.py) measures the
RECONSTRUCTION cost of int8; this module measures the RETRIEVAL cost —
the number that actually licenses shipping quantized vectors at 100 TB
(int8 cuts the candidate-scan bytes 4x and turns the scoring inner loop
into integer MACs):

- ``sq8_topk``: asymmetric-distance-style top-k where BOTH sides are
  symmetric int8 (one global scale from the corpus max-|element|), the
  score is an exact integer dot product, and ranking is deterministic
  (score desc, neighbor_id) — bit-stable across engines with no decimal
  machinery at all, because every quantity is an integer.
- ``sq8_adc_recall``: recall@5 of that quantized retrieval against the
  exact-decimal brute-force baseline (cosine_topk), per query — the
  same composed-oracle construction as lsh_recall_at_k.

Scale posture: quantization is a per-row map (no shuffle). The scoring
join broadcasts the <=10-query set; the per-query top-k shuffles only
(query_id, neighbor_id, integer score). At 100 TB this brute-force scan
is the RECALL REFERENCE; production retrieval composes the same int8
scoring into ivf_topk's bucket pruning (score only the probed cells).
The reference repo has no vector ops (it is a task/IO framework); this
family is beyond-reference surface — see SURVEY.md §2 addendum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from porcupine_spark.operators.similarity import (
    N_QUERIES,
    TOPK,
    cosine_topk,
    neighbor_topk,
    recall_vs_exact,
    sql_neighbor_topk,
    sql_recall_vs_exact,
)
from porcupine_spark.plans.registry import REGISTRY as _REG
from porcupine_spark.plans.registry import query
from porcupine_spark.tables import load_table

# Global symmetric scale: qmax = max |element| over the corpus; each
# element quantizes to floor(v * 127 / qmax) in [-127, 127]. floor (not
# round) because FLOOR(double) is identically defined in Spark and
# DuckDB; the 1-ulp asymmetry vs round-half-even is irrelevant to a
# recall audit and buys bit-stable cross-engine integers.
_SQL_QMAX = (
    "SELECT CAST(MAX(list_max(list_transform(embedding, v -> abs(v))))"
    " AS DOUBLE) AS qmax FROM embeddings"
)
_SQL_Q8 = (
    "list_transform({col}, v -> "
    "CAST(FLOOR(CAST(v AS DOUBLE) * 127.0 / qmax) AS BIGINT))"
)


def _q8(col, qmax):
    return F.transform(
        col, lambda v: F.floor(v.cast("double") * F.lit(127.0) / qmax).cast("long")
    )


def _qmax(emb: DataFrame) -> DataFrame:
    """The one-row global scale: max |element| over the corpus."""
    return emb.agg(
        F.max(F.array_max(F.transform("embedding", lambda v: F.abs(v))))
        .cast("double")
        .alias("qmax")
    )


@query(
    "sq8_topk",
    f"""
    WITH m AS ({_SQL_QMAX}),
    q AS (
      SELECT vec_id AS query_id, {_SQL_Q8.format(col='embedding')} AS qq
      FROM embeddings, m WHERE vec_id < {N_QUERIES}
    ),
    c AS (
      SELECT vec_id AS neighbor_id, {_SQL_Q8.format(col='embedding')} AS qc
      FROM embeddings, m
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             CAST(list_sum(list_transform(list_zip(qq, qc),
               p -> p[1] * p[2])) AS BIGINT) AS score
      FROM q CROSS JOIN c
      WHERE query_id <> neighbor_id
    ),{sql_neighbor_topk('score', TOPK)}""",
    tags=("similarity", "ann", "quantization"),
    doc=f"Int8 symmetric-quantized top-{TOPK} retrieval for the broadcast "
    f"query set (vec_id < {N_QUERIES}): one global scale (corpus "
    "max-|element|, a 1-row broadcast), per-element floor quantization, "
    "and a PURE-INTEGER dot-product score — deterministic ranks with "
    "zero decimal arithmetic. The production pairing is this scoring "
    "inside ivf_topk's probed cells; standalone it is the quantized "
    "recall reference sq8_adc_recall audits.",
)
def sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    with_scale = emb.crossJoin(F.broadcast(_qmax(emb)))
    cand = with_scale.select(
        F.col("vec_id").alias("neighbor_id"),
        _q8(F.col("embedding"), F.col("qmax")).alias("qc"),
    )
    qset = with_scale.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        _q8(F.col("embedding"), F.col("qmax")).alias("qq"),
    )
    scored = (
        cand.crossJoin(F.broadcast(qset))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.zip_with("qq", "qc", lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("score"),
        )
    )
    return neighbor_topk(scored, "score", TOPK)


@query(
    "sq8_adc_recall",
    None,  # late-bound below: composes cosine_topk's and sq8_topk's oracles
    tags=("similarity", "quantization", "evaluation", "monitoring"),
    doc=f"Recall@{TOPK} of int8-quantized retrieval against the exact-"
    "decimal brute-force baseline, per query — the acceptance gate for "
    "shipping quantized vectors (pair with embedding_quantization_error "
    "for the reconstruction view; this is the end-to-end retrieval "
    "view). Composes the two verified builders; the comparison joins "
    f"two (|queries| x {TOPK})-row lists — constant-size beyond the "
    "retrieval passes.",
)
def sq8_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from porcupine_spark.functions.concurrent import run_concurrently

    # exact and SQ8 branches are independent; each runs its own
    # blocking driver jobs — build concurrently (optimization r8, §2.6)
    exact_df, approx_df = run_concurrently(
        lambda: cosine_topk(spark, sf_dir),
        lambda: sq8_topk(spark, sf_dir),
    )
    return recall_vs_exact(exact_df, approx_df, "sq8")


_REG["sq8_adc_recall"].oracle = sql_recall_vs_exact(
    _REG["cosine_topk"].oracle, _REG["sq8_topk"].oracle, "sq8"
)


# ---------------------------------------------------------------------------
# Product quantization (PQ) over the int8-quantized space — codebooks,
# nibble codes, asymmetric-distance (ADC) retrieval, recall audit.

PQ_M = 8  # subspaces (64 dims -> 8 x 8)
PQ_SHORTLIST = 50  # ADC shortlist size the exact re-ranker consumes
PQ_K = 16  # centroids per subspace (4-bit codes)
PQ_SUB = 8  # dims per subspace

_SQL_CB = f"""
    cb AS (
      SELECT s.m, e.vec_id AS c,
             list_transform(e.embedding[s.m * {PQ_SUB} + 1 : s.m * {PQ_SUB} + {PQ_SUB}],
               v -> CAST(FLOOR(CAST(v AS DOUBLE) * 127.0 / qmax) AS BIGINT)) AS cent
      FROM embeddings e, range({PQ_M}) s(m), mq
      WHERE e.vec_id < {PQ_K}
    ),
    q8v AS (
      SELECT vec_id, {_SQL_Q8.format(col='embedding')} AS qe FROM embeddings, mq
    ),
    pqd AS (
      SELECT v.vec_id, cb.m, cb.c,
             CAST(list_sum(list_transform(
               list_zip(v.qe[cb.m * {PQ_SUB} + 1 : cb.m * {PQ_SUB} + {PQ_SUB}], cb.cent),
               p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d
      FROM q8v v CROSS JOIN cb
    ),
    enc AS (
      SELECT vec_id, m, c AS code FROM (
        SELECT vec_id, m, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, c) AS rn
        FROM pqd
      ) WHERE rn = 1
    )"""


def _pq_spark_parts(
    spark: SparkSession,
    sf_dir: str,
    cbq: dict | None = None,
    qmax: float | None = None,
):
    """Shared PQ stages: (enc exploded to (vec_id, m, code), cb_df,
    q8-encoded vectors). Default codebook = sub-vectors of the first
    PQ_K corpus vectors, int8-quantized — collected ONCE (PQ_K x 64
    floats, a config-sized model artifact, the documented driver
    boundary) and served back as literals/broadcast, exactly how
    production ships a trained codebook to executors. Pass ``cbq``
    ({(m, c): [PQ_SUB ints]}) to swap in a TRAINED codebook (e.g.
    per-subspace k-means) — every downstream stage is codebook-
    agnostic."""
    import math

    from porcupine_spark.functions.concurrent import run_concurrently

    emb = load_table(spark, sf_dir, "embeddings")

    def _collect_qmax():
        # callers that already ran the scale agg pass qmax in instead
        return float(_qmax(emb).collect()[0][0])

    def _cbrows():
        return {
            int(r.vec_id): list(r.embedding)
            for r in emb.filter(F.col("vec_id") < PQ_K).select("vec_id", "embedding").collect()
        }

    cbrows = None
    if qmax is None and cbq is None:
        # two independent driver-blocking jobs — overlap them (§2.6);
        # the codebook rows don't depend on qmax (the quantization math
        # below is driver-side, after both land)
        qmax, cbrows = run_concurrently(_collect_qmax, _cbrows)
    elif qmax is None:
        qmax = _collect_qmax()
    elif cbq is None:
        cbrows = _cbrows()
    if cbq is None:
        # python floor((float64) v * 127.0 / qmax) == the engines' FLOOR
        # over doubles: same IEEE ops in the same order, so the literal
        # codes are bit-identical to the oracle's table-derived ones
        cbq = {
            (m, c): [
                int(math.floor(float(cbrows[c][m * PQ_SUB + j]) * 127.0 / qmax))
                for j in range(PQ_SUB)
            ]
            for m in range(PQ_M)
            for c in range(PQ_K)
        }
    # Encode via ONE Arrow-batched numpy kernel instead of the former
    # per-row Catalyst tree of PQ_M*PQ_K=128 ArrayAggregate nodes
    # (optimization r7, guide §4.2): the giant literal expression tree
    # took ~6 s to build/compile per query AND measurably degraded the
    # whole JVM session afterwards (unrelated queries ran 6x slower
    # once the monster codegen classes existed — plans/r07 notes). The
    # kernel is bit-identical to the expression form: float32 widens to
    # float64 exactly, np.floor(v * 127.0 / qmax) is the same IEEE op
    # sequence as FLOOR(CAST(v AS DOUBLE) * 127.0 / qmax), squared
    # distances are exact int64, and np.argmin returns the FIRST
    # minimum — the array_min(struct(d, c)) smaller-c tiebreak.
    import numpy as np

    cents = np.array(
        [[cbq[(m, c)] for c in range(PQ_K)] for m in range(PQ_M)], dtype=np.int64
    )
    qmax_f = float(qmax)

    def _encode(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            e = _np.array(pdf["embedding"].tolist(), dtype=_np.float64)
            q = _np.floor(e * 127.0 / qmax_f).astype(_np.int64)
            sub = q.reshape(n, PQ_M, 1, PQ_SUB)
            d = ((sub - cents[None]) ** 2).sum(axis=-1)  # (n, M, K) exact int64
            codes = d.argmin(axis=-1)  # first min == smallest centroid id
            yield _pd.DataFrame(
                {
                    "vec_id": _np.repeat(pdf["vec_id"].to_numpy(), PQ_M),
                    "m": _np.tile(_np.arange(PQ_M, dtype=_np.int64), n),
                    "code": codes.reshape(-1),
                }
            )

    enc = emb.select("vec_id", "embedding").mapInPandas(
        _encode, schema="vec_id long, m long, code long"
    )
    cb_df = spark.createDataFrame(
        [(m, c, cbq[(m, c)]) for m in range(PQ_M) for c in range(PQ_K)],
        f"m long, c long, cent array<long>",
    )
    return enc, cb_df, emb, qmax


@query(
    "pq_code_histogram",
    f"""
    WITH mq AS ({_SQL_QMAX}),{_SQL_CB}
    SELECT m, code, CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM enc GROUP BY m, code
    """,
    tags=("similarity", "ann", "quantization"),
    doc=f"Product-quantization ENCODER audit: {PQ_M} subspaces x "
    f"{PQ_K} centroids (4-bit codes) over the int8-quantized space — "
    f"codebook = sub-vectors of the first {PQ_K} corpus vectors (the "
    f"deterministic provider, same contract as ivf_centroids first-k "
    f"mode; swap in k-means sub-codebooks for production), encode = "
    f"exact-integer argmin of squared L2 per subspace (ties to the "
    f"smaller centroid id). Emits the (subspace, code) occupancy "
    f"histogram — {PQ_M * PQ_K} rows bounding collapse/imbalance, the "
    f"codebook-health check run before shipping codes. Encoding is a "
    f"per-row Arrow-batched integer kernel against the closure-shipped "
    f"literal codebook (zero shuffle; the histogram agg moves "
    f"{PQ_M * PQ_K} partials).",
)
def pq_code_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    enc, _, _, _ = _pq_spark_parts(spark, sf_dir)
    return enc.groupBy("m", "code").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )


# the ADC scores of pq_adc_topk's oracle, ranked by sql_neighbor_topk
_SQL_PQ_ADC_SCORED = f"""
    WITH mq AS ({_SQL_QMAX}),{_SQL_CB},
    luts AS (
      SELECT qv.vec_id AS query_id, cb.m, cb.c,
             CAST(list_sum(list_transform(
               list_zip(qv.qe[cb.m * {PQ_SUB} + 1 : cb.m * {PQ_SUB} + {PQ_SUB}], cb.cent),
               p -> p[1] * p[2])) AS BIGINT) AS t
      FROM q8v qv CROSS JOIN cb WHERE qv.vec_id < {N_QUERIES}
    ),
    scored AS (
      SELECT l.query_id, e.vec_id AS neighbor_id, CAST(SUM(l.t) AS BIGINT) AS score
      FROM enc e JOIN luts l ON l.m = e.m AND l.c = e.code
      WHERE e.vec_id <> l.query_id
      GROUP BY 1, 2
    ),"""


@query(
    "pq_adc_topk",
    _SQL_PQ_ADC_SCORED + sql_neighbor_topk("score", TOPK),
    tags=("similarity", "ann", "quantization"),
    doc=f"PQ asymmetric-distance (ADC) top-{TOPK}: each query builds its "
    f"{PQ_M}x{PQ_K} lookup table of subspace dot products against the "
    f"codebook ONCE (the ADC trick — candidates are scored by {PQ_M} "
    f"table lookups, never a full dot product), scores are exact "
    f"integers, ranks deterministic. Plan: codes table joins the "
    f"broadcast {N_QUERIES}x{PQ_M * PQ_K}-row LUT on (subspace, code) "
    f"— a config-sized build side at any corpus — then one map-side-"
    f"combined (query, neighbor) sum; shuffle mass is |corpus| x "
    f"|queries| ids + longs, the same envelope as sq8_topk with 4-bit "
    f"instead of 8-bit storage (64x smaller codes than raw float).",
)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pq_adc_ranked(spark, sf_dir, TOPK)


def _pq_adc_ranked(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    cbq: dict | None = None,
    qmax: float | None = None,
) -> DataFrame:
    enc, cb_df, emb, qmax = _pq_spark_parts(spark, sf_dir, cbq, qmax)
    qset = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        _q8(F.col("embedding"), F.lit(qmax)).alias("qe"),
    )
    luts = qset.crossJoin(F.broadcast(cb_df)).select(
        "query_id",
        "m",
        "c",
        F.aggregate(
            F.zip_with(
                F.slice("qe", (F.col("m") * PQ_SUB + 1).cast("int"), PQ_SUB),
                "cent",
                lambda x, y: x * y,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("t"),
    )
    scored = (
        enc.join(
            F.broadcast(luts),
            (enc.m == luts.m) & (enc.code == luts.c),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("t").cast("long").alias("score"))
    )
    return neighbor_topk(scored, "score", k)


@query(
    "pq_adc_recall",
    None,  # late-bound below: composes cosine_topk's and pq_adc_topk's oracles
    tags=("similarity", "quantization", "evaluation", "monitoring"),
    doc=f"Shortlist recall of PQ-ADC retrieval: how much of the exact "
    f"top-{TOPK} the {PQ_SHORTLIST}-candidate ADC shortlist captures, "
    f"per query — the metric that licenses the PRODUCTION serving "
    f"contract (PQ scans the corpus at 4 bits/dim to produce a "
    f"shortlist, an exact re-ranker scores only those "
    f"{PQ_SHORTLIST}; recall@k-of-shortlist is what survives "
    f"re-ranking). Pair with sq8_adc_recall for the no-shortlist "
    f"int8 view. Same composed-oracle construction.",
)
def pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from porcupine_spark.functions.concurrent import run_concurrently

    # the exact and ADC branches each materialize their own driver-side
    # inputs (query collect + norms checkpoint vs qmax agg + codebook
    # collect) — build them concurrently (optimization r8, guide §2.6)
    exact_df, approx_df = run_concurrently(
        lambda: cosine_topk(spark, sf_dir),
        lambda: _pq_adc_ranked(spark, sf_dir, PQ_SHORTLIST),
    )
    return recall_vs_exact(exact_df, approx_df, "pq")


_REG["pq_adc_recall"].oracle = sql_recall_vs_exact(
    _REG["cosine_topk"].oracle,
    _SQL_PQ_ADC_SCORED + sql_neighbor_topk("score", PQ_SHORTLIST),
    "pq",
)


def _pq_kmeans_codebook(emb: DataFrame, qmax: float, sample=None) -> dict:
    """TRAINED per-subspace codebooks: k-means (k=PQ_K) on each 8-dim
    sub-vector space, centers quantized with the same floor formula as
    the data — the production PQ trainer (Jegou et al. 2011), swapped
    in through _pq_spark_parts' codebook-agnostic contract.

    Optimization r7: trains on a BOUNDED deterministic sample with
    local numpy Lloyd's (functions/localkmeans.py — the faiss
    max_points_per_centroid shape) instead of 8 pyspark.ml fits. The
    MLlib route cost ~20 driver-synchronized jobs PER subspace
    (measured 10.6 s for 2000 rows; the fits, not the data, were the
    cost); the sample is one bounded TakeOrderedAndProject job and the
    8 subspace fits are numpy-milliseconds. Centroids shift (different
    init/solver), which this rows-only query is allowed by design —
    the 10-row contract and the recall band are pinned by
    test_pq_kmeans_codebook_swap_is_real."""
    import math

    from porcupine_spark.functions.localkmeans import (
        bounded_training_sample,
        local_kmeans_fit,
    )

    if sample is None:  # callers may pre-collect it concurrently (§2.6)
        sample = bounded_training_sample(emb, PQ_K)
    cbq: dict = {}
    for m in range(PQ_M):
        sub = sample[:, m * PQ_SUB : (m + 1) * PQ_SUB]
        centers = local_kmeans_fit(sub, PQ_K, seed=7 + m)
        for c, center in enumerate(centers):
            cbq[(m, c)] = [
                int(math.floor(float(x) * 127.0 / qmax)) for x in center
            ]
    return cbq


@query(
    "pq_kmeans_recall",
    None,  # k-means is engine-specific: rows-only check, like ivf_kmeans_recall
    tags=("similarity", "quantization", "evaluation", "ml"),
    doc=f"PQ shortlist recall with TRAINED per-subspace k-means "
    f"codebooks (k={PQ_K}, seed-pinned, quantized with the data's own "
    f"scale) — proves the 'swap in trained codebooks' contract is real "
    f"code, not a docstring: the encode/ADC/rank machinery is shared "
    f"with the oracled first-k path, only the codebook provider "
    f"changes (the ivf_kmeans_recall precedent). On clustered "
    f"production embeddings the trained codebook wins; this synthetic "
    f"corpus is near-uniform, so tests assert the swap lands in the "
    f"same recall band rather than strict superiority.",
)
def pq_kmeans_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Train on the UN-widened table (optimization r7): widening exists
    # for per-row compute parallelism, but k-means training is ~20
    # driver-synchronized tiny jobs per subspace — on the widened
    # 32-partition layout each of those jobs pays 32-task scheduling
    # for 2000 rows (measured 25-60 s for the 8 fits; natural splits
    # cut it to ~6 s). At real scale the parquet layout already
    # provides training parallelism; locally the 8 concurrent fits
    # fill the cores instead. Centroids shift with the init sampling
    # (partitioning-dependent k-means||) — this query is rows-only by
    # design and band-tested, the 10-row output contract is unchanged.
    emb = load_table(spark, sf_dir, "embeddings", widen=False)
    # qmax agg and the bounded training-sample collect are independent
    # driver-blocking jobs — overlap them (§2.6, optimization r8); the
    # trainer itself is driver-side numpy and needs both
    from porcupine_spark.functions.concurrent import run_concurrently
    from porcupine_spark.functions.localkmeans import bounded_training_sample

    # the exact-baseline build (cosine_topk: query collect + norms
    # checkpoint) is independent of the PQ trainer inputs — run all
    # three blocking branches in one concurrent batch (optimization r8)
    qmax, sample, exact_df = run_concurrently(
        lambda: float(_qmax(emb).collect()[0][0]),
        lambda: bounded_training_sample(emb, PQ_K),
        lambda: cosine_topk(spark, sf_dir),
    )
    cbq = _pq_kmeans_codebook(emb, qmax, sample=sample)
    # qmax is threaded through so the scale agg runs ONCE per build
    # (it used to run again inside _pq_spark_parts — optimization r8)
    approx_df = _pq_adc_ranked(spark, sf_dir, PQ_SHORTLIST, cbq, qmax=qmax)
    # the output contract has no shortlist-size column
    return recall_vs_exact(exact_df, approx_df, "pq").drop("n_pq")
