"""Similarity search over embedding columns (``array<float>``).

- ``cosine_topk``: brute-force top-k — the correctness baseline. The
  query set is broadcast; each partition of candidates computes scores
  locally (no shuffle except the final per-query top-k, which is a
  window over ~|Q|*k rows after per-partition pruning by Catalyst's
  TakeOrdered — acceptable whenever |Q| is small).
- ``ivf_topk``: the scale path — IVF-style bucketing. Candidates are
  assigned to the nearest of C coarse centroids (deterministic: the
  first C vectors by id serve as centroids); queries probe their P
  nearest centroids only, cutting scored pairs by ~C/P. Same contract,
  approximate recall, linear scan replaced by a bucket equi-join that
  Spark shuffles on centroid id.

Float discipline (both engines, see plans/relational.py): elementwise
products in DOUBLE (float->double widening is exact), each product cast
to DECIMAL(38,12), decimal-summed (exact, order-free), cast back —
cosine scores are bit-identical to the oracle, so ordering and top-k
membership match exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from porcupine_spark.functions.driverstate import materialize
from porcupine_spark.plans.registry import query
from porcupine_spark.tables import load_table

# 30 (not 38) digits of precision: Spark types dec(p,s)+dec(p,s) as
# dec(p+1,s) only while p+1 <= 38 — at p=38 it would SACRIFICE A SCALE
# DIGIT instead (dec(38,11)), silently rounding every partial sum. With
# p=30 the addition keeps scale 12 and the re-cast below is exact.
DECV = "decimal(30,12)"


def dot_exact(a: Column, b: Column) -> Column:
    """Order-independent dot product of two float arrays (see module doc)."""
    prods = F.zip_with(a, b, lambda x, y: (x.cast("double") * y.cast("double")).cast(DECV))
    # aggregate() requires merge type == zero type, hence the re-cast
    return F.aggregate(
        prods, F.lit(0).cast(DECV), lambda acc, x: (acc + x).cast(DECV)
    ).cast("double")


def norm2_exact(a: Column) -> Column:
    return dot_exact(a, a)


_VEC_COLS = (("vec_id", "long"), ("embedding", "array<float>"))


def _exact_norms(df: DataFrame, keep=_VEC_COLS) -> DataFrame:
    """``keep`` columns + ``vn`` = sqrt of the exact quantized self-dot
    of ``embedding``, Arrow-vectorized (functions/exactdot.py —
    bit-identical to F.sqrt(norm2_exact(...)), pinned by
    test_exactdot_matches_jvm; np.sqrt and java.lang.Math.sqrt are both
    IEEE correctly-rounded), materialized by an eager local checkpoint:
    every caller reads the table on both sides of a join or from
    several consumers. The JVM expression costs interpreted BigDecimal
    per element and runs once per VECTOR — at 10x scale that alone was
    seconds per query."""
    fields = ", ".join(f"{c} {t}" for c, t in keep)

    def run(it):
        import numpy as np
        import pandas as pd

        from porcupine_spark.functions.exactdot import exact_unit_dots

        for pdf in it:
            if not len(pdf):
                continue
            mat = np.stack(pdf["embedding"].to_numpy())
            units = exact_unit_dots(mat, mat)
            d = {c: pdf[c] for c, _ in keep}
            d["vn"] = np.sqrt(units / 1e12)
            yield pd.DataFrame(d)

    return df.mapInPandas(run, schema=f"{fields}, vn double").transform(materialize)


def _exact_cosine_map(
    pairs: DataFrame,
    keep: list[tuple[str, str]],
    a_col: str,
    b_col: str,
    na_col: str,
    nb_col: str,
    out: str = "cosine",
) -> DataFrame:
    """``keep`` columns + ``out`` = exact quantized cosine of the two
    embedding columns over the two norm columns — the Arrow-vectorized
    replacement for ``dot_exact(a, b) / (na * nb)`` on candidate-pair
    DataFrames (same bit-exact contract as _exact_norms)."""
    fields = ", ".join(f"{c} {t}" for c, t in keep)

    def run(it):
        import numpy as np
        import pandas as pd

        from porcupine_spark.functions.exactdot import exact_cosines

        for pdf in it:
            if not len(pdf):
                continue
            cos = exact_cosines(
                np.stack(pdf[a_col].to_numpy()),
                np.stack(pdf[b_col].to_numpy()),
                pdf[na_col].to_numpy(),
                pdf[nb_col].to_numpy(),
            )
            d = {c: pdf[c] for c, _ in keep}
            d[out] = cos
            yield pd.DataFrame(d)

    return pairs.mapInPandas(run, schema=f"{fields}, {out} double")


N_QUERIES = 10  # the broadcast query set of the top-k queries: vec_id < 10
TOPK = 5
IVF_CENTROIDS = 8  # ivf_topk's deterministic coarse centroids: vec_id < 8
IVF_PROBES = 2  # buckets each ivf_topk query probes


def _unit_rows(embeddings):
    """A pandas column of embedding arrays as a float64 matrix whose rows
    are scaled to unit L2 norm: the numpy prefilters' approximate
    cosine operand."""
    import numpy as np

    mat = np.array(embeddings.tolist(), dtype=np.float64)
    return mat / np.linalg.norm(mat, axis=1, keepdims=True)


def neighbor_topk(scored: DataFrame, score: str, k: int) -> DataFrame:
    """(query_id, neighbor_id, rank, <score>): per query, the k best
    neighbors by ``score`` descending, ties to the smaller neighbor_id."""
    w = W.partitionBy("query_id").orderBy(F.desc(score), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", score)
    )


def sql_neighbor_topk(score: str, k: int) -> str:
    """The DuckDB oracle of ``neighbor_topk``: the tail of a WITH list
    whose last CTE is ``scored(query_id, neighbor_id, <score>)``."""
    return f"""
    ranked AS (
      SELECT query_id, neighbor_id, {score},
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY {score} DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, {score}
    FROM ranked WHERE rank <= {k}
    """


def exact_rerank_topk(cand: DataFrame, vecs: DataFrame, k: int) -> DataFrame:
    """Per-query exact-cosine top-k of (query_id, neighbor_id) candidate
    pairs. Both sides come from the (vec_id, embedding, vn) norms table
    ``vecs``; the query side (vec_id < N_QUERIES) is broadcast. Only the
    candidates pay the exact-decimal re-score, whose values, and so
    ranks, equal the oracle's full scan."""
    q = vecs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"), F.col("vn").alias("qn")
    )
    c = vecs.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce"), F.col("vn").alias("cn")
    )
    scored = _exact_cosine_map(
        cand.join(c, "neighbor_id").join(F.broadcast(q), "query_id"),
        keep=[("query_id", "long"), ("neighbor_id", "long")],
        a_col="qe", b_col="ce", na_col="qn", nb_col="cn",
    )
    return neighbor_topk(scored, "cosine", k)


def exact_centroid_ranks(emb: DataFrame, vecs: DataFrame, cloc, probes: int = 1) -> DataFrame:
    """(vec_id, embedding, cid, sim, arn): each vector's candidate
    centroids ranked by exact cosine, arn 1 being its bucket.

    The centroids are the collected rows ``cloc`` (vec_id, embedding)
    of the vec_id < IVF_CENTROIDS vectors. A numpy prefilter keeps the
    centroids within 2*epsilon of a vector's approximate best, or of
    its ``probes``-th best for query rows (vec_id < N_QUERIES), so with
    probes=1 every row is a plain argmax. Only the survivors (usually
    one per vector) get the exact-decimal re-score against the norms
    table ``vecs``, and the ranks among them equal the oracle's ranks
    over all centroids."""
    import numpy as np
    import pandas as pd

    bc_cent = emb.sparkSession.sparkContext.broadcast(
        (cloc["vec_id"].to_numpy(), _unit_rows(cloc["embedding"]))
    )
    margin = 2 * NEARDUP_MARGIN

    def assign_probe_cands(batches):
        ids, mat_n = bc_cent.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a_ids = pdf["vec_id"].to_numpy()
            sims = _unit_rows(pdf["embedding"]) @ mat_n.T  # (batch, centroids)
            top = -np.partition(-sims, range(probes), axis=1)  # best ... probes-th best first
            cut = np.where(a_ids < N_QUERIES, top[:, probes - 1], top[:, 0])
            ai, ci = np.where(sims >= (cut - margin)[:, None])
            yield pd.DataFrame({"vec_id": a_ids[ai], "cid": ids[ci]})

    cand = emb.mapInPandas(assign_probe_cands, schema="vec_id long, cid long")
    cent = vecs.filter(F.col("vec_id") < IVF_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cent_e"), F.col("vn").alias("cent_n")
    )
    wassign = W.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cid"))
    return _exact_cosine_map(
        cand.join(vecs, "vec_id").join(F.broadcast(cent), "cid"),
        keep=[("vec_id", "long"), ("embedding", "array<float>"), ("cid", "long")],
        a_col="embedding", b_col="cent_e", na_col="vn", nb_col="cent_n",
        out="sim",
    ).withColumn("arn", F.row_number().over(wassign))


_SQL_DOT = (
    "CAST(list_sum(list_transform(list_zip({a}, {b}), "
    "p -> CAST(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE) AS DECIMAL(38,12)))) AS DOUBLE)"
)


def sql_dot(a: str, b: str) -> str:
    return _SQL_DOT.format(a=a, b=b)


# the oracle of exact_centroid_ranks (all centroids scored): arn 1 is
# each vector's bucket
SQL_IVF_ASSIGN = f"""
    cent AS (
      SELECT vec_id AS cid, embedding AS cent_e FROM embeddings WHERE vec_id < {IVF_CENTROIDS}
    ),
    assign AS (
      SELECT vec_id, embedding, cid, ROW_NUMBER() OVER (
               PARTITION BY vec_id
               ORDER BY {sql_dot('embedding', 'cent_e')}
                        / (SQRT({sql_dot('embedding', 'embedding')})
                           * SQRT({sql_dot('cent_e', 'cent_e')})) DESC, cid) AS arn
      FROM embeddings CROSS JOIN cent
    )"""


@query(
    "cosine_topk",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
             {sql_dot('qe', 'ce')}
               / (SQRT({sql_dot('qe', 'qe')}) * SQRT({sql_dot('ce', 'ce')})) AS cosine
      FROM q CROSS JOIN c
      WHERE query_id <> neighbor_id
    ),{sql_neighbor_topk('cosine', TOPK)}""",
    tags=("similarity", "ann"),
    doc="Brute-force cosine top-5 for a broadcast query set (vec_id<10). "
    "Exact-decimal dot products make scores and therefore ranks "
    "bit-stable across engines.",
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase exact top-k (same shape as embedding_neardup): a numpy
    block-matrix prefilter keeps, per (Arrow batch, query), every
    candidate within 2*epsilon of the batch's 5th-best approximate
    cosine — a superset of the true top-5, since numpy's float64 dot is
    within 1e-12 of the exact-decimal score. Only the survivors
    (~5 * n_batches per query) get the exact-decimal re-score, whose
    ranks are therefore identical to the full scan's."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    emb_raw = load_table(spark, sf_dir, "embeddings", widen=False)

    # the query-set collect and the norms checkpoint (below) are
    # independent driver-blocking jobs — overlap them (guide §2.6,
    # optimization r8); each is tiny but the job-submission floors
    # dominate at any corpus size
    from porcupine_spark.functions.concurrent import run_concurrently

    qloc, norms = run_concurrently(
        lambda: emb_raw.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .toPandas(),
        lambda: _exact_norms(emb_raw),
    )
    bc = emb.sparkSession.sparkContext.broadcast(
        (qloc["vec_id"].to_numpy(), _unit_rows(qloc["embedding"]))
    )
    margin = 2 * NEARDUP_MARGIN

    def prefilter(batches):
        b_ids, b_mat_n = bc.value
        k = TOPK
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a_ids = pdf["vec_id"].to_numpy()
            sims = _unit_rows(pdf["embedding"]) @ b_mat_n.T  # (batch, |Q|)
            sims[a_ids[:, None] == b_ids[None, :]] = -np.inf  # self pairs
            if sims.shape[0] > k:
                kth = np.partition(sims, -k, axis=0)[-k]  # per-query 5th best
            else:
                kth = np.full(sims.shape[1], -np.inf)
            ai, qi = np.where(sims >= kth[None, :] - margin)
            yield pd.DataFrame({"query_id": b_ids[qi], "neighbor_id": a_ids[ai]})

    cand = emb.mapInPandas(prefilter, schema="query_id long, neighbor_id long")
    # exact re-score of the surviving pairs only, against the norms
    # checkpointed above (the re-rank reads it on both sides); self-pairs
    # can sneak past the prefilter in degenerate tiny batches
    # (-inf >= -inf - margin), so drop them here regardless
    return exact_rerank_topk(cand.filter(F.col("query_id") != F.col("neighbor_id")), norms, TOPK)


@query(
    "ivf_topk",
    f"""
    WITH {SQL_IVF_ASSIGN},
    buckets AS (SELECT vec_id, embedding, cid FROM assign WHERE arn = 1),
    probes AS (  -- queries probe their nearest centroids
      SELECT vec_id AS query_id, embedding AS qe, cid
      FROM assign WHERE arn <= {IVF_PROBES} AND vec_id < {N_QUERIES}
    ),
    scored AS (
      SELECT p.query_id, b.vec_id AS neighbor_id,
             {sql_dot('p.qe', 'b.embedding')}
               / (SQRT({sql_dot('p.qe', 'p.qe')})
                  * SQRT({sql_dot('b.embedding', 'b.embedding')})) AS cosine
      FROM probes p JOIN buckets b ON b.cid = p.cid AND b.vec_id <> p.query_id
    ),{sql_neighbor_topk('cosine', TOPK)}""",
    tags=("similarity", "ann", "ivf"),
    doc="IVF-bucketed approximate top-5: vectors assigned to nearest of 8 "
    "deterministic coarse centroids; queries probe 2 buckets. Scored "
    "pairs drop from |Q|*N to |Q|*N*(2/8); on a cluster the bucket join "
    "shuffles on centroid id instead of broadcasting the corpus.",
)
def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three numpy-prefiltered, exact-decimal-verified stages (the IVF
    production shape: cheap float coarse quantization, exact re-rank):

    1. assignment — approx cosine to the 8 centroids per vector; only
       centroids within 2*epsilon of the approx best (per-vector, so
       usually exactly 1) get the exact-decimal re-score; argmax of the
       re-scored candidates == the oracle's argmax over all 8.
    2. probes — same, but candidates within 2*epsilon of the 2nd-best
       for the 10 query vectors (exact top-2 centroid ranking).
    3. bucket scoring — probed bucket members are approx-scored against
       their queries; per (batch, query) everything within 2*epsilon of
       the 5th-best survives to the exact-decimal re-score, whose ranks
       therefore equal the oracle's.

    Decimal work drops from |N|*8 + |probe pairs| dots to ~|N| + ~15
    per query."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    emb_raw = load_table(spark, sf_dir, "embeddings", widen=False)

    # the centroid collect, the norms checkpoint, and the query collect
    # are mutually independent driver-blocking jobs — overlap them
    # (optimization r8, guide §2.6) instead of paying three sequential
    # job floors; the sort alignment below makes the query matrix
    # collection-order-independent
    from porcupine_spark.functions.concurrent import run_concurrently

    cloc, vecs, qloc = run_concurrently(
        lambda: emb_raw.filter(F.col("vec_id") < IVF_CENTROIDS)
        .select("vec_id", "embedding")
        .toPandas(),
        lambda: _exact_norms(emb_raw),
        lambda: emb_raw.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .toPandas(),
    )
    margin = 2 * NEARDUP_MARGIN
    # stages 1 and 2; tiny (~1 row/vector) and reused by both uses below
    ranked = exact_centroid_ranks(emb, vecs, cloc, IVF_PROBES).transform(materialize)
    buckets = ranked.filter(F.col("arn") == 1).select("vec_id", "embedding", "cid")

    # probe list to the driver (tiny), for the stage-3 prefilter; the
    # query matrix (qloc) was already collected in the overlapped batch
    probe_rows = (
        ranked.filter((F.col("arn") <= IVF_PROBES) & (F.col("vec_id") < N_QUERIES))
        .select("vec_id", "cid")
        .collect()
    )
    q_ids = qloc["vec_id"].to_numpy()
    q_mat_n = _unit_rows(qloc["embedding"])
    p_qids = np.array([r.vec_id for r in probe_rows])
    p_cids = np.array([r.cid for r in probe_rows])
    order = np.argsort(q_ids)
    q_ids, q_mat_n = q_ids[order], q_mat_n[order]
    p_mat_n = q_mat_n[np.searchsorted(q_ids, p_qids)]
    bc_probe = emb.sparkSession.sparkContext.broadcast((p_qids, p_cids, p_mat_n))

    def topk_prefilter(batches):
        pq_ids, pq_cids, pq_mat = bc_probe.value
        k = TOPK
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a_ids = pdf["vec_id"].to_numpy()
            a_cids = pdf["cid"].to_numpy()
            sims = _unit_rows(pdf["embedding"]) @ pq_mat.T  # (batch, n_probes)
            mask = (a_cids[:, None] == pq_cids[None, :]) & (a_ids[:, None] != pq_ids[None, :])
            sims = np.where(mask, sims, -np.inf)
            n = sims.shape[0]
            kth = np.partition(sims, -k, axis=0)[-k] if n > k else np.full(sims.shape[1], -np.inf)
            ai, pi = np.where((sims >= kth[None, :] - margin) & mask)
            yield pd.DataFrame({"query_id": pq_ids[pi], "neighbor_id": a_ids[ai]})

    topc = buckets.mapInPandas(topk_prefilter, schema="query_id long, neighbor_id long").distinct()
    return exact_rerank_topk(topc, vecs, TOPK)


def ivf_centroids(emb: DataFrame, k: int, mode: str = "first") -> DataFrame:
    """(cid, cent_e) centroid provider for IVF bucketing.

    - ``first``: deterministic first-k by vec_id — what the oracled
      ivf_topk query uses (cross-engine reproducible);
    - ``kmeans``: pyspark.ml KMeans trained on the corpus — the
      production choice at scale (better-balanced buckets => better
      recall per probe). Swapping providers changes nothing downstream:
      assignment, probing and scoring are centroid-agnostic.
    """
    if mode == "first":
        return emb.filter(F.col("vec_id") < k).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cent_e")
        )
    if mode != "kmeans":
        raise ValueError(f"unknown centroid mode {mode!r}")
    # Optimization r7: bounded-sample local Lloyd's (functions/
    # localkmeans.py, the faiss max_points_per_centroid shape) replaces
    # the pyspark.ml fit — an MLlib fit on this table is ~20
    # driver-synchronized tiny jobs for numpy-milliseconds of math; the
    # sample is one bounded TakeOrderedAndProject at any corpus size.
    # Centroids shift (different init/solver): both consumers
    # (ivf_kmeans_recall, semdedup_keep) are rows-only by design with
    # centroid-agnostic invariants pinned in tests.
    from porcupine_spark.functions.localkmeans import (
        bounded_training_sample,
        local_kmeans_fit,
    )

    sample = bounded_training_sample(emb, k)
    centers = local_kmeans_fit(sample, k, seed=7)
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(centers)]
    return emb.sparkSession.createDataFrame(rows, "cid long, cent_e array<float>")


def ivf_topk_generic(
    emb: DataFrame, centroids: DataFrame, query_ids, k: int = 5, probes: int = 2
) -> DataFrame:
    """Generic IVF top-k over ANY centroid set (all-double scoring — the
    production fast path; the oracled ivf_topk query layers the
    exact-decimal discipline on top of the same shape):

    1. every vector joins the broadcast centroid table, keeps its
       top-1 bucket (queries: top-``probes``) by cosine;
    2. queries meet bucket members in a bucket equi-join (shuffles on
       cid — never a cross product);
    3. per-query top-k by a window over the scored candidates.
    """
    ranked = double_centroid_ranks(emb, centroids)
    is_query = F.col("vec_id").isin([int(q) for q in query_ids])
    buckets = ranked.filter(F.col("arn") == 1).select("vec_id", "embedding", "vn", "cid")
    probes_df = ranked.filter(is_query & (F.col("arn") <= probes)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"),
        F.col("vn").alias("qn"), "cid",
    )
    scored = (
        buckets.join(F.broadcast(probes_df), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot_double(F.col("qe"), F.col("embedding")) / (F.col("qn") * F.col("vn"))).alias("cosine"),
        )
        # no distinct needed (optimization r7): every vector sits in
        # exactly ONE bucket (arn == 1) and a query's probed cids are
        # distinct (row_number), so (query_id, neighbor_id) rows are
        # unique by construction — the old distinct() was a no-op
        # Exchange over the scored candidate set
    )
    return neighbor_topk(scored, "cosine", k)


def double_centroid_ranks(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, embedding, vn, cid, sim, arn): every vector against the
    broadcast (cid, cent_e) centroid table by all-double cosine, ranked
    per vector (sim desc, cid asc); arn 1 is the vector's bucket."""
    vecs = emb.select(
        "vec_id", "embedding",
        F.sqrt(dot_double(F.col("embedding"), F.col("embedding"))).alias("vn"),
    )
    cent = centroids.select(
        "cid", "cent_e",
        F.sqrt(dot_double(F.col("cent_e"), F.col("cent_e"))).alias("cn"),
    )
    sim = dot_double(F.col("embedding"), F.col("cent_e")) / (F.col("vn") * F.col("cn"))
    assign_w = W.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cid"))
    return (
        vecs.join(F.broadcast(cent), how="cross")
        .select("vec_id", "embedding", "vn", "cid", sim.alias("sim"))
        .withColumn("arn", F.row_number().over(assign_w))
    )


def ivf_index_build(
    emb: DataFrame,
    centroids: DataFrame,
    table: str,
    path: str | None = None,
    n_buckets: int = 16,
) -> None:
    """Persist the IVF index: the assignment table (cid, vec_id,
    embedding, vn) written CID-BUCKETED via bucketing.write_bucketed.

    This is the 100 TB ANN *serving* story: assignment is the one
    corpus-sized pass (every vector × the broadcast centroid table),
    so pay it ONCE at index-build time. Every later query batch served
    through ivf_topk_from touches only the probed buckets of a layout
    that is already partitioned by cid — the corpus is never
    re-assigned, re-shuffled, or re-normed per query. Same artifact
    discipline as the dedup trio (cluster table / keep-set / flagged
    ids): the expensive derivation is a persisted, re-servable table.
    """
    from porcupine_spark.bucketing import write_bucketed

    assigned = (
        double_centroid_ranks(emb, centroids)
        .filter(F.col("arn") == 1)
        .select("cid", "vec_id", "embedding", "vn")
    )
    write_bucketed(assigned, table, key="cid", n_buckets=n_buckets, path=path)


def ivf_topk_from(
    spark: SparkSession,
    table: str,
    centroids: DataFrame,
    query_ids,
    k: int = 5,
    probes: int = 2,
    probe_cids_out: list | None = None,
) -> DataFrame:
    """Artifact-mode IVF top-k: serve queries from a PERSISTED
    cid-bucketed assignment table (ivf_index_build) instead of
    re-deriving assignments per query — result-identical to
    ivf_topk_generic(emb, centroids, ...) on the same inputs (same
    double cosine, same (desc sim, asc cid) probe tie-break, same
    per-query top-k window).

    Plan shape at scale: the query rows are looked up IN the index
    (|Q| rows), ranked against the broadcast centroid table, and the
    probed cid set (≤ |Q|·probes integers — a bounded driver-side
    boundary like the centroid collects) is pushed into the scan as a
    LITERAL IN-filter, so the bucketed layout prunes to
    SelectedBucketsCount = |probed cids| in the FileScan itself (plan-
    asserted in tests/test_operators.py) — unprobed buckets are never
    read, and only candidate rows (≤ |Q|·bucket_size) ever move."""
    assigned = spark.table(table)
    qids = [int(q) for q in query_ids]
    qrows = assigned.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("vn").alias("qn"),
    )
    cent = centroids.select(
        "cid", "cent_e",
        F.sqrt(dot_double(F.col("cent_e"), F.col("cent_e"))).alias("cn"),
    )
    qsim = dot_double(F.col("qe"), F.col("cent_e")) / (F.col("qn") * F.col("cn"))
    probe_w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cid"))
    probes_df = (
        qrows.join(F.broadcast(cent), how="cross")
        .select("query_id", "qe", "qn", "cid", qsim.alias("sim"))
        .withColumn("prn", F.row_number().over(probe_w))
        .filter(F.col("prn") <= probes)
        .select("query_id", "qe", "qn", "cid")
        .transform(materialize)  # scanned twice: cid collect + join
    )
    probe_cids = sorted({r.cid for r in probes_df.select("cid").distinct().collect()})
    if probe_cids_out is not None:
        # expose the literal probe set so tests/callers can assert the
        # FileScan's SelectedBucketsCount against the REAL pruning target
        probe_cids_out.extend(probe_cids)
    scored = (
        assigned.filter(F.col("cid").isin(probe_cids))
        .join(F.broadcast(probes_df), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                dot_double(F.col("qe"), F.col("embedding"))
                / (F.col("qn") * F.col("vn"))
            ).alias("cosine"),
        )
        # no distinct needed (optimization r7): one bucket per vector +
        # distinct probed cids per query ⇒ unique rows by construction
        # (see ivf_topk_generic)
    )
    return neighbor_topk(scored, "cosine", k)


@query(
    "ivf_kmeans_recall",
    None,  # rows-only by design: k-means centroids aren't SQL-expressible
    tags=("similarity", "ann", "ivf", "quality"),
    doc="Recall@5 of the PRODUCTION IVF path — pyspark.ml KMeans "
    "centroids (ivf_centroids mode='kmeans'), 2 probes — against the "
    "exact brute-force top-5 for the 10-query set, one row per query. "
    "The oracled ivf_topk query proves the bucketing machinery "
    "bit-exactly with deterministic centroids; this one proves the "
    "quality-bearing centroid provider actually earns its recall "
    "(tests assert recall >= 0.9). The exact baseline reuses "
    "ivf_topk_generic with ONE centroid = one bucket = a full scan, so "
    "approx and exact go through identical scoring code. Probe "
    "fraction is high (12 of 16) because the synthetic embeddings are "
    "near-isotropic — measured recall: 2/8 probes 0.56, 6/8 0.90, "
    "12/16 1.00; real clustered corpora earn the same recall at far "
    "lower probe fractions, which is the whole IVF bet.",
)
def ivf_kmeans_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", widen=False)
    k = 5
    query_ids = range(10)
    cents = ivf_centroids(emb, k=16, mode="kmeans")
    approx = ivf_topk_generic(emb, cents, query_ids, k=k, probes=12)
    # exact baseline: a single centroid puts every vector in one bucket
    # -> the "IVF" scan is the brute-force scan, same scoring path
    one = emb.limit(1).select(
        F.lit(0).cast("long").alias("cid"), F.col("embedding").alias("cent_e")
    )
    exact = ivf_topk_generic(emb, one, query_ids, k=k, probes=1)
    hits = (
        approx.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        exact.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) / F.lit(float(k))).alias("recall_at_5"),
        )
    )


LSH_PLANES = 32  # hyperplane count = signature bits
LSH_BAND_BITS = 8  # 4 bands of 8 bits
LSH_DIM = 64  # embedding dimensionality (fixed in the corpus)
# deterministic integer hyperplane components, identical formula on
# both engines: comp(p,d) = ((p*1315423911 + d*2654435761) % 2001) - 1000
_LSH_A, _LSH_B, _LSH_M = 1315423911, 2654435761, 2001


def _lsh_plane(p: int) -> list[int]:
    return [((p * _LSH_A + d * _LSH_B) % _LSH_M) - (_LSH_M // 2) for d in range(LSH_DIM)]


_SQL_LSH_SIGS = f"""
    planes AS (
      SELECT p, list_transform(generate_series(0, {LSH_DIM - 1}),
                               d -> ((p * {_LSH_A} + d * {_LSH_B}) % {_LSH_M}) - {_LSH_M // 2}) AS comp
      FROM (SELECT unnest(generate_series(0, {LSH_PLANES - 1})) AS p)
    ),
    sigs AS (
      SELECT vec_id,
             string_agg(CASE WHEN {{dot}} >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS sig
      FROM embeddings, planes GROUP BY vec_id
    )
""".format(dot=sql_dot("embedding", "comp"))


_M_LIT_CACHE: list = []


def _lsh_plane_matrix_lit() -> Column:
    """The 64x32 transposed plane matrix as ONE cached literal Column:
    F.lit on the nested python list costs ~1.2s of py4j conversion per
    call (measured — it was a third of lsh_topk's wall time); the
    resulting expression is session-independent and immutable, so one
    build serves every query in the process."""
    if not _M_LIT_CACHE:
        m_rows = [
            [((p * _LSH_A + d * _LSH_B) % _LSH_M) - (_LSH_M // 2) for p in range(LSH_PLANES)]
            for d in range(LSH_DIM)
        ]
        _M_LIT_CACHE.append(F.lit(m_rows))
    return _M_LIT_CACHE[0]


def _lsh_signatures(emb: DataFrame) -> DataFrame:
    """(vec_id, embedding, sig) — the 32-bit sign signature per vector,
    checkpointed. The embedding column rides along (optimization r7):
    the near-dup candidate stage needs (embedding, band, chunk) and
    previously re-joined the sig table against the embeddings scan —
    one Exchange pair + join build that vanishes when the checkpoint
    already carries the vectors. Callers that only need sigs project
    them away for free (column pruning over a checkpointed RDD).

    ONE aggregate pass computes all 32 exact-decimal dots at once: the
    plane matrix is transposed to a literal array-of-arrays M with
    M[d] = the 32 plane components for dimension d; zipping the
    embedding with M yields per-dimension 32-product rows that fold
    into a 32-decimal accumulator. (32 separate dot_exact aggregate
    expressions measured ~10s/call from expression-tree bloat alone;
    this is the same single-pass shape as the simhash counts.)
    Decimal addition is exact, so per-dimension fold order matches the
    oracle's list_sum regardless of order; sign bits therefore agree
    even for near-zero dots."""
    # ONE ArrayType literal node — F.array(*[F.array(*...)]) would build
    # 2048 nested Literal/CreateArray nodes, and with the matrix used by
    # both passes the analyzer+codegen walk ~4k nodes per run (measured
    # ~2s of flat per-call overhead at any data size)
    m_lit = _lsh_plane_matrix_lit()
    # two-phase sign computation (the repo's standard float discipline):
    # an all-double single pass scores every row; only rows with some
    # |dot| < eps (where a double sign could disagree with the oracle's
    # decimal sign — error bound ~3e-9 for 64 products, eps=1e-6) are
    # re-scored with the exact-decimal pass. Decimal work drops from
    # every row to ~none while bits stay bit-identical to the oracle.
    dots_dbl = F.aggregate(
        F.zip_with(
            F.col("embedding"), m_lit,
            lambda x, row: F.transform(row, lambda c: x.cast("double") * c.cast("double")),
        ),
        F.array_repeat(F.lit(0.0), LSH_PLANES),
        lambda acc, pr: F.zip_with(acc, pr, lambda a, b: a + b),
    )
    dots_dec = F.aggregate(
        F.zip_with(
            F.col("embedding"), m_lit,
            lambda x, row: F.transform(
                row, lambda c: (x.cast("double") * c.cast("double")).cast(DECV)
            ),
        ),
        F.array_repeat(F.lit(0).cast(DECV), LSH_PLANES),
        lambda acc, pr: F.zip_with(acc, pr, lambda a, b: (a + b).cast(DECV)),
    )

    def to_sig(dots):
        return F.concat_ws("", F.transform(dots, lambda a: F.when(a >= 0, "1").otherwise("0")))

    # The decimal expression's whole-stage-codegen COMPILE alone costs
    # seconds (measured 3.8s of a 4.2s query — it dominates at any data
    # size), so it must not appear in the common-case plan at all: run
    # the double pass, checkpoint, and only if some row has a
    # near-boundary dot (|dot| < eps, where a double sign could disagree
    # with the oracle's decimal sign — error bound ~3e-9 for 64
    # products, eps=1e-6) build the decimal plan for THOSE rows and
    # patch them in. Typical corpora have zero such rows and never
    # compile the decimal expression.
    # Checkpointing the tiny sig table also matters because the band
    # self-join references it from both sides.
    # The double pass itself is Arrow-vectorized: higher-order array
    # lambdas are interpreted (never codegen'd), and 20k rows x 64 dims
    # x 32 planes = 41M boxed lambda evals measured ~5s; one numpy
    # matmul per batch is milliseconds. Only SIGNS and the |dot| < eps
    # test consume these doubles, and both are stable under either
    # summation order (error bounds ~1e-8 << eps=1e-6), so swapping the
    # reduction order cannot change any emitted bit. dots_dbl above
    # stays as documentation of the JVM-equivalent expression.
    # The SIG STRING is likewise built in the same numpy batch
    # (optimization r7): '1' iff dot >= 0.0 on the identical doubles ==
    # to_sig's F.when(a >= 0) bit for bit, and fusing it removes the
    # second materialization pass (the old shape checkpointed dots,
    # probed nz, then ran a SECOND eager checkpoint job just to fold
    # dots into sig; one mapInPandas job now yields the final table).
    _ = dots_dbl
    planes_np = [_lsh_plane(p) for p in range(LSH_PLANES)]

    def sigs_batch(it):
        import numpy as np
        import pandas as pd

        m = np.array(planes_np, dtype=np.float64).T  # (dim, planes)
        for pdf in it:
            if not len(pdf):
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            dots = mat @ m
            bits = np.where(dots >= 0.0, "1", "0")
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "embedding": pdf["embedding"],
                    "sig": ["".join(r) for r in bits],
                    "nz": (np.abs(dots) < 1e-6).any(axis=1),
                }
            )

    dbl = emb.select("vec_id", "embedding").mapInPandas(
        sigs_batch,
        schema="vec_id long, embedding array<float>, sig string, nz boolean",
    ).transform(materialize)
    if dbl.filter(F.col("nz")).limit(1).count() == 0:
        return dbl.select("vec_id", "embedding", "sig")
    exact_part = dbl.filter(F.col("nz")).select(
        "vec_id", "embedding", to_sig(dots_dec).alias("sig")
    )
    fast_part = dbl.filter(~F.col("nz")).select("vec_id", "embedding", "sig")
    return fast_part.unionByName(exact_part).transform(materialize)


def _lsh_chunk(sig: str, b: int) -> Column:
    """Band ``b`` of an LSH bit-string signature column."""
    return F.substring(sig, b * LSH_BAND_BITS + 1, LSH_BAND_BITS)


def _lsh_band_table(sigs: DataFrame, *cols: str) -> DataFrame:
    """``cols`` + (band, chunk): one row per band of each signature
    ``sig``, the bucket table of the banded-LSH candidate joins."""
    chunks = [_lsh_chunk("sig", b) for b in range(LSH_PLANES // LSH_BAND_BITS)]
    return sigs.select(*cols, F.posexplode(F.array(*chunks)).alias("band", "chunk"))


@query(
    "lsh_topk",
    f"""
    WITH {_SQL_LSH_SIGS},
    bands AS (
      SELECT vec_id, b.band, substr(sig, b.band * {LSH_BAND_BITS} + 1, {LSH_BAND_BITS}) AS chunk
      FROM sigs, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, {LSH_PLANES // LSH_BAND_BITS - 1})) AS band) b
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM bands q JOIN bands c
        ON c.band = q.band AND c.chunk = q.chunk AND c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             {sql_dot('a.embedding', 'b.embedding')}
               / (SQRT({sql_dot('a.embedding', 'a.embedding')})
                  * SQRT({sql_dot('b.embedding', 'b.embedding')})) AS cosine
      FROM cand
      JOIN embeddings a ON a.vec_id = cand.query_id
      JOIN embeddings b ON b.vec_id = cand.neighbor_id
    ),{sql_neighbor_topk('cosine', TOPK)}""",
    tags=("similarity", "ann", "lsh"),
    doc=f"Random-hyperplane LSH top-5: {LSH_PLANES}-bit sign signatures "
    f"against deterministic integer hyperplanes, banded "
    f"{LSH_PLANES // LSH_BAND_BITS}x{LSH_BAND_BITS} bits; candidates "
    "only from band-bucket collisions with the query set (vec_id<10), "
    "exact-decimal cosine re-rank. The signature pass is per-row and "
    "shuffle-free; the bucket join replaces the brute-force cross "
    "product — the second ANN scale path next to ivf_topk (bits vs "
    "centroids: no training/assignment stage, recall tunable by "
    "band width).",
)
def lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from porcupine_spark.tables import load_table as _lt

    emb = _lt(spark, sf_dir, "embeddings", widen=False)
    # sig build on the UN-widened scan (optimization r7): the kernel is
    # one numpy matmul (~40 ms for the whole sf0.1 table), so the widen
    # repartition was an Exchange + 32 tiny python tasks for nothing;
    # at scale the parquet splits parallelize the scan on their own
    # band rows carry the row's FULL sig so each collision row can test
    # locally whether ITS band is the (query, neighbor) pair's first
    # matching band — candidates are then unique by construction and
    # the distinct() Exchange over the candidate set disappears
    # (optimization r7, guide §2.1; same min-band trick as the
    # near-dup path)
    bands = _lsh_band_table(_lsh_signatures(emb), "vec_id", "sig")
    q_bands = bands.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("sig").alias("qsig"), "band", "chunk"
    )
    first_band = F.coalesce(
        *[
            F.when(_lsh_chunk("sig", b) == _lsh_chunk("qsig", b), F.lit(b))
            for b in range(LSH_PLANES // LSH_BAND_BITS)
        ]
    )
    cand = (
        bands.join(F.broadcast(q_bands), ["band", "chunk"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .filter(F.col("band") == first_band)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    vecs = _exact_norms(emb)
    return exact_rerank_topk(cand, vecs, TOPK)


NEARDUP_T = 0.4
# prefilter margin: numpy float64 dot differs from the exact decimal
# cosine by <1e-12; 1e-6 is overkill-safe, so the prefilter can never
# drop a pair the exact check would keep
NEARDUP_MARGIN = 1e-6


@query(
    "embedding_neardup",
    f"""
    WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS label_a, b.label AS label_b,
             {sql_dot('a.embedding', 'b.embedding')}
               / (SQRT({sql_dot('a.embedding', 'a.embedding')})
                  * SQRT({sql_dot('b.embedding', 'b.embedding')})) AS cosine
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, label_a, label_b, cosine
    FROM pairs WHERE cosine >= {NEARDUP_T}
    """,
    tags=("similarity", "dedup", "pandas_udf"),
    doc=f"Embedding-cosine near-duplicate pairs (threshold {NEARDUP_T}), "
    "EXACT, fully distributed: block-pair decomposition. Vectors hash "
    "into B blocks; each of the B*(B+1)/2 unordered block pairs is one "
    "applyInPandas group whose numpy prefilter scores only its two "
    "blocks (bounded memory: 2N/B rows per task, nothing ever "
    "materializes on the driver), then the exact-decimal cosine "
    "re-scores the surviving pairs — identical to the all-pairs "
    "oracle. Exact all-pairs is inherently quadratic in compute; the "
    "block shape makes the memory bounded and the quadratic part "
    "embarrassingly parallel. For sub-quadratic at 100 TB use "
    "embedding_neardup_lsh (same verify stage, banded-LSH candidates).",
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb_raw = load_table(spark, sf_dir, "embeddings", widen=False).select(
        "vec_id", "embedding", "label"
    )
    cand = block_pair_candidates(emb_raw)
    return _neardup_verify(cand, emb_raw)


def block_pair_candidates(
    emb_raw: DataFrame, thresh: float = NEARDUP_T - NEARDUP_MARGIN,
    rows_per_block: int = 4096,
) -> DataFrame:
    """(id_a, id_b) candidate pairs with approx cosine >= thresh, via
    the distributed block-pair decomposition (see embedding_neardup
    doc). Exposed for equivalence testing against brute force."""
    import math

    import numpy as np
    import pandas as pd

    # Block count: >=8 keeps 36+ groups of parallelism even on tiny
    # inputs; ceil(N/rows_per_block) bounds per-task memory to
    # ~2*rows_per_block vectors at any corpus size. N is one count()
    # scalar — the only driver-side value this operator materializes.
    n = emb_raw.count()
    n_blocks = max(8, math.ceil(n / rows_per_block))

    # Each vector lands in block hash(vec_id)%B and is shipped to every
    # block pair (min(b,j), max(b,j)) for j in 0..B-1 — exactly B groups
    # per vector, so every unordered vector pair meets in exactly one
    # group. Shuffle volume is N*B rows (the O(N^2/blocksize) cost an
    # exact all-pairs fundamentally requires, made explicit).
    blk = F.pmod(F.hash("vec_id"), F.lit(n_blocks))
    pairs = F.transform(
        F.sequence(F.lit(0), F.lit(n_blocks - 1)),
        lambda j: F.struct(
            F.least(blk, j).alias("lo"), F.greatest(blk, j).alias("hi")
        ),
    )
    rep = (
        emb_raw.select("vec_id", "embedding", blk.alias("blk"), F.explode(pairs).alias("pr"))
        .select("vec_id", "embedding", "blk", F.col("pr.lo").alias("lo"), F.col("pr.hi").alias("hi"))
    )

    def pair_cands(pdf: pd.DataFrame) -> pd.DataFrame:
        lo, hi = int(pdf["lo"].iat[0]), int(pdf["hi"].iat[0])
        ids = pdf["vec_id"].to_numpy()
        mat = _unit_rows(pdf["embedding"])
        if lo == hi:
            sims = mat @ mat.T
            ai, bi = np.where(sims >= thresh)
            keep = ids[ai] < ids[bi]
            return pd.DataFrame({"id_a": ids[ai][keep], "id_b": ids[bi][keep]})
        a_side = pdf["blk"].to_numpy() == lo
        a_ids, b_ids = ids[a_side], ids[~a_side]
        sims = mat[a_side] @ mat[~a_side].T
        ai, bi = np.where(sims >= thresh)
        ia, ib = a_ids[ai], b_ids[bi]
        return pd.DataFrame(
            {"id_a": np.minimum(ia, ib), "id_b": np.maximum(ia, ib)}
        )

    return rep.groupBy("lo", "hi").applyInPandas(pair_cands, schema="id_a long, id_b long")


def dot_double(a: Column, b: Column) -> Column:
    """All-double dot product — the cheap prefilter pass (within 1e-12
    of the exact-decimal score for unit-norm 64-dim vectors)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _neardup_verify(cand: DataFrame, emb_raw: DataFrame) -> DataFrame:
    """Exact-decimal cosine re-score of candidate (id_a, id_b) pairs,
    thresholded at NEARDUP_T — the shared verify stage of both the
    exact and the LSH near-dup paths.

    Two-phase float discipline (the repo standard): norms are computed
    exact-decimal ONCE PER VECTOR (not per pair — measured 26.8s -> ~3s
    on the LSH path at sf0.1, whose candidate set is ~100x the kept
    set), a double dot prefilters the pairs with a provable epsilon
    margin, and only survivors pay the exact-decimal dot whose value is
    bit-identical to the oracle's."""
    vecs = _exact_norms(emb_raw, keep=_VEC_COLS + (("label", "int"),))
    ea = vecs.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"),
        F.col("label").alias("label_a"), F.col("vn").alias("na"),
    )
    eb = vecs.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"),
        F.col("label").alias("label_b"), F.col("vn").alias("nb"),
    )
    joined = cand.join(ea, "id_a").join(eb, "id_b")
    # double-cosine prefilter: can never drop a pair the exact check
    # keeps (margin >> double-vs-decimal error)
    approx = dot_double(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    survivors = joined.filter(approx >= NEARDUP_T - NEARDUP_MARGIN).select(
        "id_a", "id_b", "label_a", "label_b", "ea", "eb", "na", "nb"
    )

    # exact re-score, Arrow-vectorized: the quantized-decimal dot is
    # computed in numpy bit-identically to the JVM/oracle decimal path
    # (functions/exactdot.py; equivalence pinned by
    # test_exactdot_matches_jvm). The JVM expression form costs ~0.4ms
    # interpreted BigDecimal per pair — at 10x scale the survivor set
    # is ~100k pairs and that alone was ~40s; this stage is
    # milliseconds on the same batch.
    def rescore(it):
        import numpy as np
        import pandas as pd

        from porcupine_spark.functions.exactdot import exact_cosines

        for pdf in it:
            if not len(pdf):
                continue
            ea_m = np.stack(pdf["ea"].to_numpy())
            eb_m = np.stack(pdf["eb"].to_numpy())
            cos = exact_cosines(
                ea_m, eb_m, pdf["na"].to_numpy(), pdf["nb"].to_numpy()
            )
            out = pd.DataFrame(
                {
                    "id_a": pdf["id_a"],
                    "id_b": pdf["id_b"],
                    "label_a": pdf["label_a"],
                    "label_b": pdf["label_b"],
                    "cosine": cos,
                }
            )
            yield out[out["cosine"] >= NEARDUP_T]

    return survivors.mapInPandas(
        rescore,
        schema="id_a long, id_b long, label_a int, label_b int, cosine double",
    )


@query(
    "embedding_neardup_lsh",
    f"""
    WITH {_SQL_LSH_SIGS},
    bands AS (
      SELECT vec_id, b.band, substr(sig, b.band * {LSH_BAND_BITS} + 1, {LSH_BAND_BITS}) AS chunk
      FROM sigs, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, {LSH_PLANES // LSH_BAND_BITS - 1})) AS band) b
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
      FROM bands a JOIN bands c
        ON c.band = a.band AND c.chunk = a.chunk AND a.vec_id < c.vec_id
    ),
    scored AS (
      SELECT id_a, id_b, ea.label AS label_a, eb.label AS label_b,
             {sql_dot('ea.embedding', 'eb.embedding')}
               / (SQRT({sql_dot('ea.embedding', 'ea.embedding')})
                  * SQRT({sql_dot('eb.embedding', 'eb.embedding')})) AS cosine
      FROM cand
      JOIN embeddings ea ON ea.vec_id = cand.id_a
      JOIN embeddings eb ON eb.vec_id = cand.id_b
    )
    SELECT id_a, id_b, label_a, label_b, cosine
    FROM scored WHERE cosine >= {NEARDUP_T}
    """,
    tags=("similarity", "dedup", "lsh"),
    doc=f"Near-duplicate pairs via banded-LSH candidates (threshold "
    f"{NEARDUP_T}): candidates are only vector pairs colliding in at "
    f"least one of the {LSH_PLANES // LSH_BAND_BITS} signature bands — "
    "sub-quadratic (bucket equi-join instead of all-pairs), the 100 TB "
    "path. Recall is tunable by band width; the deterministic "
    "hyperplanes make the candidate set — and therefore the result — "
    "bit-identical to the oracle, which mirrors the same LSH plan.",
)
def embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb_raw = load_table(spark, sf_dir, "embeddings", widen=False).select(
        "vec_id", "embedding", "label"
    )
    # Candidate pruning happens INSIDE each band bucket: members are
    # co-located by the one (band, chunk) shuffle (bands + embeddings,
    # ~#vecs x #bands small rows), and a numpy pass scores the bucket's
    # pairs locally, emitting only pairs above threshold - margin. The
    # pair-join formulation (bands self-join -> 11M candidate rows at
    # 10x from hot-bucket skew -> 5.7 GB of embedding arrays shuffled
    # to score them) never materializes: per-bucket work is bounded by
    # bucket occupancy squared IN ONE TASK's numpy call, and only
    # near-threshold survivors (~0.1% here) reach the exact re-scorer.
    # The margin guarantees no pair the exact check keeps is dropped
    # (double-vs-quantized-decimal error ~1e-9 << 1e-6 margin).
    #
    # Optimization r7 (guide §2.1 — remove shuffles outright), two
    # Exchanges gone from this stage:
    # - the sig checkpoint carries the embeddings, so the band table no
    #   longer re-joins the embeddings scan (was a shuffle join of both
    #   sides);
    # - each bucket also sees its members' full sigs, so a pair that
    #   collides in several bands is emitted ONLY by its lowest
    #   colliding band (the keep decision is a pure function of the two
    #   embeddings, so the lowest-band bucket provably emits every pair
    #   any bucket would) — candidates are unique by construction and
    #   the cross-bucket distinct() Exchange over the candidate set
    #   (the big intermediate at scale) disappears.
    # sig build on the UN-widened scan (see lsh_topk — the kernel is one
    # numpy matmul; the widen repartition was pure overhead, and the
    # bucket groupBy below restores full shuffle parallelism anyway)
    sigs = _lsh_signatures(emb_raw.select("vec_id", "embedding"))
    cand = _lsh_bucket_candidates(sigs)
    return _neardup_verify(cand, emb_raw)


def _neardup_bucket_pairs(pdf):
    """One (band, chunk) bucket -> near-threshold candidate pairs, each
    emitted ONLY if this band is the pair's lowest colliding band (see
    _lsh_bucket_candidates). Module-level so the uniqueness/completeness
    contract is unit-testable."""
    import numpy as np
    import pandas as pd

    n_bands = LSH_PLANES // LSH_BAND_BITS
    empty = pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
    ids = pdf["vec_id"].to_numpy()
    if len(ids) < 2:
        return empty
    band = int(pdf["band"].iat[0])
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    matn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = matn @ matn.T
    iu, ju = np.triu_indices(len(ids), 1)
    keep = sims[iu, ju] >= NEARDUP_T - 2 * NEARDUP_MARGIN
    ki, kj = iu[keep], ju[keep]
    if not len(ki):
        return empty
    # (n, n_bands) band-chunk matrix from the sig strings; a kept
    # pair is emitted iff THIS band is its first matching band
    chunks = np.array(
        [[s[k * LSH_BAND_BITS : (k + 1) * LSH_BAND_BITS] for k in range(n_bands)]
         for s in pdf["sig"]]
    )
    first_band = (chunks[ki] == chunks[kj]).argmax(axis=1)
    mine = first_band == band
    a, b = ids[ki[mine]], ids[kj[mine]]
    lo, hi = np.minimum(a, b), np.maximum(a, b)
    return pd.DataFrame({"id_a": lo, "id_b": hi})


def _lsh_bucket_candidates(sigs: DataFrame) -> DataFrame:
    """(id_a, id_b) duplicate-free candidate pairs from the banded sig
    table (vec_id, embedding, sig): explode bands, co-locate each
    (band, chunk) bucket, score pairs locally, emit each pair from its
    lowest colliding band only — so no cross-bucket distinct() is
    needed (the keep decision is a pure function of the two embeddings,
    hence identical in every bucket that sees the pair)."""
    be = _lsh_band_table(sigs, "vec_id", "embedding", "sig")
    return be.groupBy("band", "chunk").applyInPandas(
        _neardup_bucket_pairs, schema="id_a long, id_b long"
    )


SEMDEDUP_K = 16  # clusters
SEMDEDUP_T = NEARDUP_T  # pairwise cosine threshold within a cluster


@query(
    "semdedup_keep",
    None,  # rows-only: k-means centroids aren't SQL-expressible
    tags=("similarity", "dedup", "quality"),
    doc=f"SemDeDup (Abbas et al. 2023): cluster embeddings with k-means "
    f"(k={SEMDEDUP_K}), then within each cluster greedily drop any "
    f"point with cosine > {NEARDUP_T} to an already-kept point, "
    f"keeping duplicate-group members FARTHEST from the centroid "
    f"(lowest cent_sim first — the paper's low-similarity-to-centroid "
    f"keep policy). The quadratic pass is per-cluster inside "
    f"applyInPandas — cluster granularity bounds it exactly like the "
    f"block-pair decomposition in embedding_neardup; cross-cluster "
    f"pairs are never formed. Invariants (every drop is justified by a "
    f"kept witness; kept set is pairwise-below-threshold) are asserted "
    f"by test_semdedup_invariants.",
)
def semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", widen=False)
    return semdedup(emb, k=SEMDEDUP_K, tau=SEMDEDUP_T)


def semdedup(emb: DataFrame, k: int, tau: float) -> DataFrame:
    """(vec_id, cid, cent_sim, kept) — SemDeDup keep/drop assignment."""
    import numpy as np
    import pandas as pd

    cents = ivf_centroids(emb, k=k, mode="kmeans")
    # top-1 cluster per vector: broadcast the k-row centroid table,
    # cosine in doubles, window keeps the argmax — one shuffle on vec_id
    assigned = (
        double_centroid_ranks(emb, cents)
        .filter(F.col("arn") == 1)
        .select("vec_id", "cid", F.col("sim").alias("cent_sim"), "embedding")
    )

    def dedup_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["cent_sim", "vec_id"]).reset_index(drop=True)
        mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        unit = mat / norms[:, None]
        kept_rows: list[int] = []
        kept = np.zeros(len(pdf), dtype=np.int64)
        for i in range(len(pdf)):
            if not kept_rows or float(np.max(unit[kept_rows] @ unit[i])) <= tau:
                kept_rows.append(i)
                kept[i] = 1
        out = pdf[["vec_id", "cid", "cent_sim"]].copy()
        out["kept"] = kept
        return out

    return assigned.groupBy("cid").applyInPandas(
        dedup_cluster, schema="vec_id long, cid long, cent_sim double, kept long"
    )


@query(
    "embedding_norm_stats",
    f"""
    WITH norms AS (
      SELECT label,
             SQRT({sql_dot('embedding', 'embedding')}) AS nrm
      FROM embeddings
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           MIN(nrm) AS min_norm,
           MAX(nrm) AS max_norm
    FROM norms GROUP BY label
    """,
    tags=("similarity", "monitoring"),
    doc="Per-label embedding-norm envelope - the embedding-drift "
    "monitor (an encoder change or a truncation bug shifts the norm "
    "envelope before it shifts anything semantic). Each norm is "
    "sqrt(exact-decimal self-dot): the sum is order-independent, the "
    "one sqrt per row is correctly rounded, and min/max of identical "
    "doubles carry no accumulation order at all - so the envelope is "
    "bit-stable with NO per-pair work, one scan, |labels|-row output.",
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = F.sqrt(norm2_exact(F.col("embedding")))
    return emb.select("label", nrm.alias("nrm")).groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("nrm").alias("min_norm"),
        F.max("nrm").alias("max_norm"),
    )


@query(
    "knn_label_accuracy",
    None,  # late-bound below: composes cosine_topk's oracle verbatim
    tags=("similarity", "ann", "evaluation"),
    doc="k-NN label agreement for the broadcast query set: each query "
    "vector's top-5 exact-cosine neighbors vote (majority label, ties "
    "to the smaller label id - deterministic), compared to the "
    "query's own label. THE standard embedding-quality eval (a space "
    "where neighbors disagree with labels embeds semantics badly); "
    "composes cosine_topk's verified builder AND oracle, so the "
    "neighbor sets can never drift from the ANN op it evaluates. "
    "Voting is |queries|x5 rows - one tiny aggregation past the "
    "top-k.",
)
def knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", widen=False)
    topk = cosine_topk(spark, sf_dir)
    lbl = emb.select("vec_id", "label")
    votes = (
        topk.join(lbl.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wv = W.partitionBy("query_id").orderBy(F.desc("n"), F.asc("label"))
    pred = (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("label").alias("predicted_label"), F.col("n").alias("votes"))
    )
    truth = lbl.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return (
        pred.join(truth, "query_id")
        .select(
            "query_id",
            "true_label",
            "predicted_label",
            "votes",
            (F.col("true_label") == F.col("predicted_label")).alias("correct"),
        )
    )


@query(
    "label_confusion_pairs",
    None,  # late-bound below: composes embedding_neardup_lsh's oracle
    tags=("similarity", "lsh", "quality", "monitoring"),
    doc="Cross-label near-duplicate summary: for every UNORDERED label "
    "pair, how many LSH-verified near-dup vector pairs straddle it "
    "and the tightest cosine seen - the mislabeling / class-overlap "
    "signal (near-identical embeddings carrying different labels mean "
    "label noise or genuinely confusable classes; both matter before "
    "training on the labels). Composes embedding_neardup_lsh verbatim "
    "(builder and oracle) and adds one |label-pairs|-row aggregation; "
    "the heavy lifting stays on the sub-quadratic banded-LSH path.",
)
def label_confusion_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = embedding_neardup_lsh(spark, sf_dir)
    lo = F.least("label_a", "label_b")
    hi = F.greatest("label_a", "label_b")
    return (
        pairs.filter(F.col("label_a") != F.col("label_b"))
        .select(lo.alias("label_lo"), hi.alias("label_hi"), "cosine")
        .groupBy("label_lo", "label_hi")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.max("cosine").alias("max_cosine"),
        )
    )


from porcupine_spark.plans.registry import REGISTRY as _REG  # noqa: E402

_REG["knn_label_accuracy"].oracle = f"""
    WITH topk AS ({_REG["cosine_topk"].oracle}),
    votes AS (
      SELECT t.query_id, e.label, COUNT(*) AS n
      FROM topk t JOIN embeddings e ON e.vec_id = t.neighbor_id
      GROUP BY t.query_id, e.label
    ),
    pred AS (
      SELECT query_id, label AS predicted_label, n AS votes,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY n DESC, label) AS rn
      FROM votes
    )
    SELECT p.query_id, q.label AS true_label, p.predicted_label,
           p.votes, q.label = p.predicted_label AS correct
    FROM pred p JOIN embeddings q ON q.vec_id = p.query_id
    WHERE p.rn = 1
"""

_REG["label_confusion_pairs"].oracle = f"""
    WITH nd AS ({_REG["embedding_neardup_lsh"].oracle})
    SELECT CAST(LEAST(label_a, label_b) AS INTEGER) AS label_lo,
           CAST(GREATEST(label_a, label_b) AS INTEGER) AS label_hi,
           COUNT(*) AS n_pairs,
           MAX(cosine) AS max_cosine
    FROM nd
    WHERE label_a <> label_b
    GROUP BY 1, 2
"""


@query(
    "embedding_quantization_error",
    """
    WITH dims AS (
      SELECT i AS dim, MAX(ABS(CAST(embedding[i] AS DOUBLE))) AS s
      FROM embeddings,
           LATERAL (SELECT UNNEST(GENERATE_SERIES(1, len(embedding))) AS i) g
      GROUP BY i
    ),
    elems AS (
      SELECT e.vec_id, e.label, g.i AS dim,
             CAST(e.embedding[g.i] AS DOUBLE) AS x
      FROM embeddings e,
           LATERAL (SELECT UNNEST(GENERATE_SERIES(1, len(embedding))) AS i) g
    ),
    terms AS (
      SELECT vec_id, label,
             CAST(TRUNC(
               CASE WHEN d.s = 0 THEN 0.0
                    ELSE (x - TRUNC(x * 127 / d.s) * d.s / 127)
                         * (x - TRUNC(x * 127 / d.s) * d.s / 127)
               END * 1e18) AS BIGINT) AS t
      FROM elems JOIN dims d USING (dim)
    ),
    per_vec AS (
      SELECT vec_id, label, SUM(t) AS sq_err FROM terms GROUP BY vec_id, label
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           CAST(SUM(sq_err) // 1000000 AS BIGINT) AS total_sq_err_pico,
           CAST(MAX(sq_err) AS BIGINT) AS max_vec_sq_err_atto
    FROM per_vec GROUP BY label
    """,
    tags=("similarity", "quantization", "monitoring"),
    doc="Symmetric int8 quantization error per label: per-dimension "
    "max-abs scales, q = trunc(x*127/s), reconstruction squared error "
    "summed per vector - the report that decides whether int8 (the "
    "standard ANN-index compression, 4x memory and bandwidth) is safe "
    "for this embedding space before rebuilding the index. Float "
    "discipline: every per-element term is IEEE-deterministic (mul/"
    "div/trunc correctly rounded; double->long cast == TRUNC; s=0 "
    "dims guard to 0), then TRUNCATED to attounit integers (t*1e18 is "
    "one IEEE multiply; truncation is convention-free, unlike a "
    "double->decimal cast whose digit-18 tie rounding differs across "
    "engines) and summed exactly - the error report itself is "
    "bit-stable. Scales are a |dims|-key map-side-combined "
    "aggregation; the element table joins the broadcast dim scales.",
)
def embedding_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    elems = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim0", "x"),
    )
    dims = elems.groupBy("dim0").agg(F.max(F.abs(F.col("x"))).alias("s"))
    # q = trunc(x*127/s): double->long cast truncates toward zero in
    # Spark, mirroring DuckDB's TRUNC(); |x*127/s| <= 127, no overflow
    # attounit integer terms: t2*1e18 is one IEEE multiplication
    # (identical bits both engines), the double->long cast truncates
    # toward zero == DuckDB's TRUNC - no decimal rounding convention
    # ever applies (a double->DECIMAL(38,18) cast hits digit-18 ties
    # whose HALF_UP/HALF_EVEN handling differs across engines)
    # attounit terms overflow int64 once a label holds ~10^3 more
    # vectors than the test corpus (Spark long sums wrap SILENTLY,
    # non-ANSI, while the oracle's HUGEINT stays exact) — accumulate
    # in decimal(38,0), the repo's exact-sum convention
    # per-vector error without the second |vecs|x|dims| explode
    # (optimization r8): the per-dim scales pack into ONE dim-ordered
    # array (a 1-row broadcast), each vector folds its own elements
    # with zip_with/aggregate. The per-element term is the identical
    # IEEE expression; the decimal accumulation is exact, so the
    # dim-order sum equals the old hash-agg sum bit-for-bit. The
    # size>0 filter mirrors the explode form's row behavior, and a NULL
    # term (a NULL element, or a position past a short vector's end)
    # adds 0, as the explode form's sum skipped it.
    scales = dims.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim0", "s"))), lambda r: r["s"]
        ).alias("s_arr")
    )

    def _term_e(xe, se):
        dq_e = (xe * 127 / se).cast("long").cast("double") * se / 127
        return F.coalesce(
            (
                F.when(se == 0, F.lit(0.0)).otherwise((xe - dq_e) * (xe - dq_e))
                * F.lit(1e18)
            )
            .cast("long")
            .cast("decimal(38,0)"),
            F.lit(0).cast("decimal(38,0)"),
        )

    per_vec = (
        emb.filter(F.size("embedding") > 0)
        .crossJoin(F.broadcast(scales))
        .select(
            "vec_id",
            "label",
            F.aggregate(
                F.zip_with(
                    F.col("embedding").cast("array<double>"), F.col("s_arr"), _term_e
                ),
                F.lit(0).cast("decimal(38,0)"),
                lambda acc, t: acc + t,
            ).alias("sq_err"),
        )
    )
    # accumulate in decimal(38,0) (never wraps); REPORT the total in
    # picounits so the output column is a plain int64 on both engines
    # (a >18-digit decimal surfaces as float in the oracle's pandas
    # bridge, and int64 attounit totals would wrap at ~10^3 more
    # vectors per label). Per-vector max stays attounit (bounded by
    # dims * (s/127)^2 * 1e18, far inside int64).
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.expr("CAST(sum(sq_err) div 1000000 AS DECIMAL(38,0))")
        .cast("long")
        .alias("total_sq_err_pico"),
        F.max("sq_err").cast("long").alias("max_vec_sq_err_atto"),
    )


OUTLIER_Z = 3  # one-sided z threshold on dist^2 within the label


@query(
    "embedding_outlier_flags",
    f"""
    WITH elems AS (
      SELECT e.vec_id, e.label, g.i AS dim,
             CAST(TRUNC(CAST(e.embedding[g.i] AS DOUBLE) * 1e6) AS BIGINT) AS s
      FROM embeddings e,
           LATERAL (SELECT UNNEST(GENERATE_SERIES(1, len(embedding))) AS i) g
    ),
    cent AS (
      SELECT label, dim, CAST(SUM(s) AS BIGINT) // COUNT(*) AS c
      FROM elems GROUP BY label, dim
    ),
    per_vec AS (
      SELECT e.vec_id, e.label,
             CAST(SUM((e.s - c.c) * (e.s - c.c)) AS BIGINT) AS dist_sq_pico
      FROM elems e JOIN cent c ON c.label = e.label AND c.dim = e.dim
      GROUP BY e.vec_id, e.label
    ),
    down AS (
      SELECT vec_id, label, dist_sq_pico,
             CAST(dist_sq_pico // 1000000 AS HUGEINT) AS d
      FROM per_vec
    ),
    lab AS (
      SELECT label, COUNT(*) AS n, SUM(d) AS s, SUM(d * d) AS sxx
      FROM down GROUP BY label
    )
    SELECT v.vec_id, v.label, v.dist_sq_pico,
           CAST(v.d * l.n * 1000000 // l.s AS BIGINT) AS vs_mean_micro
    FROM down v JOIN lab l USING (label)
    WHERE l.n * v.d > l.s
      AND (l.n * v.d - l.s) * (l.n * v.d - l.s)
          > {OUTLIER_Z * OUTLIER_Z} * (l.n * l.sxx - l.s * l.s)
    """,
    tags=("similarity", "quality", "monitoring"),
    doc=f"Embedding-space outliers: vectors whose squared distance to "
    f"their label centroid sits more than {OUTLIER_Z} sigma above the "
    f"label mean (one-sided) - the mislabeled/mis-embedded/noise-doc "
    f"detector run before centroids are trusted for IVF or SemDeDup. "
    f"Exactness recipe: elements truncate to micro-integers (double->"
    f"long cast == TRUNC, convention-free), centroids are truncating "
    f"integer division, distances are integer sums, and the z test is "
    f"the repo's zero-float form - n*d > s and (n*d - s)^2 > "
    f"{OUTLIER_Z * OUTLIER_Z}*(n*sxx - s^2) on per-label integer "
    f"moments, no mean, no stddev, no sqrt anywhere (widths hold for "
    f"d < 1e8, n < 1e10; rescale past that). Shape: one (label,dim)-"
    f"keyed map-side-combined aggregation (centroid table is |labels|"
    f"x|dims| rows, broadcast back), one per-vector aggregation - two "
    f"bounded shuffles, no vector ever compared to another vector.",
)
def embedding_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    elems = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim0", "x"),
    ).select(
        "vec_id",
        "label",
        (F.col("dim0") + 1).alias("dim"),
        (F.col("x").cast("double") * F.lit(1e6)).cast("long").alias("s"),
    )
    cent = elems.groupBy("label", "dim").agg(
        F.expr("CAST(SUM(s) AS BIGINT) div COUNT(*)").alias("c")
    )
    # per-vector distance without the second |vecs|x|dims| explode
    # (optimization r8 — same array-HOF fold as label_centroid_
    # separation; exact decimal accumulation, identical per-element
    # terms, size>0 filter mirrors the explode form's row behavior, a
    # NULL or missing element's term adds 0)
    cent_arr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
        ).alias("c_arr")
    )
    s_arr = F.transform(
        "embedding", lambda x: (x.cast("double") * F.lit(1e6)).cast("long")
    )
    per_vec = (
        emb.filter(F.size("embedding") > 0)
        .join(F.broadcast(cent_arr), "label")
        .select(
            "vec_id",
            "label",
            F.aggregate(
                F.zip_with(s_arr, F.col("c_arr"), lambda s, c: (s - c) * (s - c)),
                F.lit(0).cast("decimal(38,0)"),
                lambda acc, t: acc + F.coalesce(t, F.lit(0)).cast("decimal(38,0)"),
            )
            .cast("long")
            .alias("dist_sq_pico"),
        )
    )
    down = per_vec.withColumn(
        "d", F.expr("CAST(dist_sq_pico div 1000000 AS DECIMAL(38,0))")
    )
    lab = down.groupBy("label").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("d").alias("s"),
        F.sum(F.expr("d * d").cast("decimal(38,0)")).alias("sxx"),
    )
    j = down.join(F.broadcast(lab), "label")
    return j.filter(
        F.expr(
            "n * d > s AND (n * d - s) * (n * d - s)"
            f" > {OUTLIER_Z * OUTLIER_Z} * (n * sxx - s * s)"
        )
    ).select(
        "vec_id",
        "label",
        "dist_sq_pico",
        F.expr("d * n * 1000000 div s").cast("long").alias("vs_mean_micro"),
    )


@query(
    "label_centroid_separation",
    """
    WITH elems AS (
      SELECT e.vec_id, e.label, g.i AS dim,
             CAST(TRUNC(CAST(e.embedding[g.i] AS DOUBLE) * 1e6) AS BIGINT) AS s
      FROM embeddings e,
           LATERAL (SELECT UNNEST(GENERATE_SERIES(1, len(embedding))) AS i) g
    ),
    cent AS (
      SELECT label, dim, CAST(SUM(s) AS BIGINT) // COUNT(*) AS c
      FROM elems GROUP BY label, dim
    ),
    per_vec AS (
      SELECT e.vec_id, e.label,
             CAST(SUM((e.s - c.c) * (e.s - c.c)) AS BIGINT) AS dsp
      FROM elems e JOIN cent c ON c.label = e.label AND c.dim = e.dim
      GROUP BY e.vec_id, e.label
    ),
    within AS (
      SELECT label, COUNT(*) AS n_vecs,
             CAST(CAST(SUM(dsp) AS HUGEINT) // COUNT(*) AS BIGINT) AS w
      FROM per_vec GROUP BY label
    ),
    pairs AS (
      SELECT a.label AS label_a, b.label AS label_b,
             CAST(SUM((a.c - b.c) * (a.c - b.c)) AS BIGINT) AS dist_sq_pico
      FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
      GROUP BY a.label, b.label
    )
    SELECT p.label_a, p.label_b, p.dist_sq_pico,
           wa.n_vecs AS n_vecs_a, wb.n_vecs AS n_vecs_b,
           CASE WHEN wa.w + wb.w = 0 THEN NULL
                ELSE CAST(CAST(p.dist_sq_pico AS HUGEINT) * 1000000
                          // (wa.w + wb.w) AS BIGINT)
           END AS separation_micro
    FROM pairs p
    JOIN within wa ON wa.label = p.label_a
    JOIN within wb ON wb.label = p.label_b
    """,
    tags=("similarity", "quality", "monitoring"),
    doc="Class-separation matrix for the embedding space: squared "
    "distance between every pair of label centroids, normalized by the "
    "sum of the two labels' mean within-class spreads (a Fisher-"
    "criterion shape, in integer micro-units) - separation_micro well "
    "above 1e6 means the classes are linearly distinguishable; near or "
    "below it means neighbors will disagree with labels (the "
    "knn_label_accuracy failure mode, diagnosed WITHOUT generating a "
    "single vector pair). Same exactness recipe as "
    "embedding_outlier_flags: micro-truncated elements, truncating-"
    "division centroids, integer sums, one cross-multiplied ratio. "
    "Shape at 100 TB: two map-side-combined aggregations over the "
    "element table; the pairwise step runs on the |labels|x|dims| "
    "centroid table only, so the matrix costs O(labels^2 * dims) "
    "AFTER reduction - never touches vectors pairwise.",
)
def label_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    elems = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim0", "x"),
    ).select(
        "vec_id",
        "label",
        (F.col("dim0") + 1).alias("dim"),
        (F.col("x").cast("double") * F.lit(1e6)).cast("long").alias("s"),
    )
    # |labels| x |dims| rows; materialize once so the per-vec pass and
    # BOTH sides of the pairwise step don't each re-run the element
    # aggregation over the full embeddings table.
    cent = (
        elems.groupBy("label", "dim")
        .agg(F.expr("CAST(SUM(s) AS BIGINT) div COUNT(*)").alias("c"))
        .transform(materialize)
    )
    # per-vector distance WITHOUT the second |vecs|x|dims| explode
    # (optimization r8, guide §4.1/§2.3): pack each label's centroid
    # into a dim-ordered array, broadcast-join one row per vector, and
    # fold the squared differences with array HOFs. Per-element math is
    # the identical expression tree; the decimal accumulation is exact,
    # so the dim-order sum equals the old hash-agg sum bit-for-bit.
    cent_arr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
        ).alias("c_arr")
    )
    s_arr = F.transform(
        "embedding", lambda x: (x.cast("double") * F.lit(1e6)).cast("long")
    )
    # size>0 filter mirrors the explode form exactly: a NULL/empty
    # embedding produced no element rows (so no per_vec row) there; a
    # NULL element or a position past a short vector's end adds 0, as
    # the explode form's sum skipped it
    per_vec = (
        emb.filter(F.size("embedding") > 0)
        .join(F.broadcast(cent_arr), "label")
        .select(
            "vec_id",
            "label",
            F.aggregate(
                F.zip_with(s_arr, F.col("c_arr"), lambda s, c: (s - c) * (s - c)),
                F.lit(0).cast("decimal(38,0)"),
                lambda acc, t: acc + F.coalesce(t, F.lit(0)).cast("decimal(38,0)"),
            ).alias("dsp"),
        )
    )
    within = per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.expr("CAST(SUM(dsp) div COUNT(*) AS DECIMAL(38,0))").alias("w"),
    )
    ca = cent.select(F.col("label").alias("label_a"), "dim", F.col("c").alias("c_a"))
    cb = cent.select(F.col("label").alias("label_b"), "dim", F.col("c").alias("c_b"))
    pairs = (
        ca.join(F.broadcast(cb), "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            ((F.col("c_a") - F.col("c_b")) * (F.col("c_a") - F.col("c_b"))).alias("t"),
        )
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("t").cast("decimal(38,0)")).cast("long").alias("dist_sq_pico"))
    )
    wa = within.select(
        F.col("label").alias("label_a"),
        F.col("n_vecs").alias("n_vecs_a"),
        F.col("w").alias("w_a"),
    )
    wb = within.select(
        F.col("label").alias("label_b"),
        F.col("n_vecs").alias("n_vecs_b"),
        F.col("w").alias("w_b"),
    )
    return (
        pairs.join(F.broadcast(wa), "label_a")
        .join(F.broadcast(wb), "label_b")
        .select(
            "label_a",
            "label_b",
            "dist_sq_pico",
            "n_vecs_a",
            "n_vecs_b",
            F.when(
                (F.col("w_a") + F.col("w_b")) == 0, F.lit(None).cast("long")
            )
            .otherwise(
                F.expr(
                    "CAST(dist_sq_pico AS DECIMAL(38,0)) * 1000000"
                    " div (w_a + w_b)"
                ).cast("long")
            )
            .alias("separation_micro"),
        )
    )


@query(
    "split_centroid_drift",
    """
    WITH elems AS (
      SELECT e.label,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(e.vec_id AS VARCHAR)), 1, 4))
                       AS INTEGER) % 100 < 90
                  THEN 'train' ELSE 'holdout' END AS split,
             g.i AS dim,
             CAST(TRUNC(CAST(e.embedding[g.i] AS DOUBLE) * 1e6) AS BIGINT) AS x
      FROM embeddings e,
           LATERAL (SELECT UNNEST(GENERATE_SERIES(1, len(embedding))) AS i) g
    ),
    agg AS (
      SELECT label, split, dim, SUM(x) AS s, COUNT(*) AS n
      FROM elems GROUP BY label, split, dim
    ),
    paired AS (
      SELECT t.label, t.dim,
             t.s AS s_tr, t.n AS n_tr, h.s AS s_ho, h.n AS n_ho,
             (CAST(t.s AS HUGEINT) * h.n - CAST(h.s AS HUGEINT) * t.n)
               * (CAST(t.s AS HUGEINT) * h.n - CAST(h.s AS HUGEINT) * t.n) AS term
      FROM agg t JOIN agg h ON h.label = t.label AND h.dim = t.dim
      WHERE t.split = 'train' AND h.split = 'holdout'
    )
    SELECT label,
           CAST(MAX(n_tr) AS BIGINT) AS n_train,
           CAST(MAX(n_ho) AS BIGINT) AS n_holdout,
           CAST(SUM(term) // (CAST(MAX(n_tr) AS HUGEINT) * MAX(n_ho)
                              * MAX(n_tr) * MAX(n_ho)) AS BIGINT) AS d2_pico
    FROM paired GROUP BY label
    """,
    tags=("similarity", "evaluation", "monitoring"),
    doc="Per-label squared centroid distance between the hash-assigned "
    "train split and the 10% holdout (the dataset_split_assign recipe: "
    "md5(vec_id) mod 100 < 90) - the split-health check that catches "
    "a class whose train and eval populations differ distributionally "
    "(time-skewed ingest, a near-dup purge that hit one split, label "
    "remapping). Exact: elements truncated to micro integers, per-"
    "(label,split,dim) sums folded map-side, and the distance uses "
    "the cross-multiplied form sum((s_tr*n_ho - s_ho*n_tr)^2) div "
    "(n_tr*n_ho)^2 so no per-dim division ever happens - d2 lands in "
    "pico (micro^2) units with a full hash oracle. Shape: one "
    "posexplode pass, one (label,split,dim)-key aggregation (rows = "
    "|labels| x 2 x dims), a dim-aligned self-join of that tiny "
    "table, one fold per label. No vector ever meets another vector.",
)
def split_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    elems = emb.select(
        "label",
        F.expr(
            "CASE WHEN CAST(conv(substr(md5(CAST(vec_id AS STRING)), 1, 4), 16, 10)"
            " AS INT) % 100 < 90 THEN 'train' ELSE 'holdout' END"
        ).alias("split"),
        F.posexplode("embedding").alias("dim", "v"),
    ).select(
        "label",
        "split",
        "dim",
        F.expr("CAST(CAST(v AS DOUBLE) * 1e6 AS BIGINT)").alias("x"),
    )
    agg = elems.groupBy("label", "split", "dim").agg(
        F.sum("x").alias("s"), F.count(F.lit(1)).alias("n")
    )
    tr = agg.filter(F.col("split") == "train").select(
        "label", "dim", F.col("s").alias("s_tr"), F.col("n").alias("n_tr")
    )
    ho = agg.filter(F.col("split") == "holdout").select(
        "label", "dim", F.col("s").alias("s_ho"), F.col("n").alias("n_ho")
    )
    paired = tr.join(ho, ["label", "dim"]).select(
        "label",
        "n_tr",
        "n_ho",
        F.expr(
            "(CAST(s_tr AS DECIMAL(38,0)) * n_ho - CAST(s_ho AS DECIMAL(38,0)) * n_tr)"
            " * (CAST(s_tr AS DECIMAL(38,0)) * n_ho - CAST(s_ho AS DECIMAL(38,0)) * n_tr)"
        ).alias("term"),
    )
    return paired.groupBy("label").agg(
        F.max("n_tr").cast("long").alias("n_train"),
        F.max("n_ho").cast("long").alias("n_holdout"),
        F.expr(
            "CAST(SUM(term) div (CAST(MAX(n_tr) AS DECIMAL(38,0)) * MAX(n_ho)"
            " * MAX(n_tr) * MAX(n_ho)) AS BIGINT)"
        ).alias("d2_pico"),
    )


def recall_vs_exact(exact_df: DataFrame, approx_df: DataFrame, tag: str) -> DataFrame:
    """Per query_id: n_exact, n_<tag>, n_hits and recall_micro (hits per
    million exact neighbors, integer division) of an approximate
    (query_id, neighbor_id) list against the exact one. A full outer
    join of two |queries| x k lists, then one aggregate."""
    flag = f"in_{tag}"
    exact = exact_df.select("query_id", "neighbor_id", F.lit(1).alias("in_exact"))
    approx = approx_df.select("query_id", "neighbor_id", F.lit(1).alias(flag))
    m = exact.join(approx, ["query_id", "neighbor_id"], "full_outer")
    return m.groupBy("query_id").agg(
        F.sum(F.coalesce("in_exact", F.lit(0))).cast("long").alias("n_exact"),
        F.sum(F.coalesce(flag, F.lit(0))).cast("long").alias(f"n_{tag}"),
        F.sum(F.when(F.col("in_exact").isNotNull() & F.col(flag).isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_hits"),
        F.expr(
            f"CAST(SUM(CASE WHEN in_exact IS NOT NULL AND {flag} IS NOT NULL"
            " THEN 1 ELSE 0 END) * 1000000"
            " div SUM(CASE WHEN in_exact IS NOT NULL THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("recall_micro"),
    )


def sql_recall_vs_exact(exact_sql: str, approx_sql: str, tag: str) -> str:
    """The DuckDB oracle of ``recall_vs_exact`` over two oracle queries'
    (query_id, neighbor_id) lists."""
    flag = f"in_{tag}"
    hit = f"CASE WHEN in_exact IS NOT NULL AND {flag} IS NOT NULL THEN 1 ELSE 0 END"
    return f"""
    WITH e AS (SELECT query_id, neighbor_id FROM ({exact_sql})),
    a AS (SELECT query_id, neighbor_id FROM ({approx_sql})),
    m AS (
      SELECT COALESCE(e.query_id, a.query_id) AS query_id,
             CASE WHEN e.query_id IS NOT NULL THEN 1 END AS in_exact,
             CASE WHEN a.query_id IS NOT NULL THEN 1 END AS {flag}
      FROM e FULL OUTER JOIN a
        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    )
    SELECT query_id,
           CAST(SUM(CASE WHEN in_exact IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN {flag} IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_{tag},
           CAST(SUM({hit}) AS BIGINT) AS n_hits,
           CAST(SUM({hit}) * 1000000
                // SUM(CASE WHEN in_exact IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS recall_micro
    FROM m GROUP BY query_id
"""


@query(
    "lsh_recall_at_k",
    None,  # late-bound below: composes cosine_topk's and lsh_topk's oracles
    tags=("similarity", "evaluation", "monitoring"),
    doc="Recall@5 of the LSH-bucketed ANN path against brute-force "
    "cosine, per query vector: the fraction of each query's TRUE "
    "top-5 neighbors that the banded-signature candidate path "
    "returns - the one number that licenses replacing the O(N^2) "
    "scan with LSH at 100 TB (pinned >= 0.9 in pytest for the "
    "k-means IVF path; this query makes the LSH path's recall an "
    "auditable, exactly-oracled report instead of a test-only "
    "assertion). Composes the two verified builders; the comparison "
    "is a join of two (|queries| x 5)-row lists - constant-size past "
    "the retrieval passes themselves. Finding at sf0.01: 0.28 mean "
    "recall@5 - and a parameter sweep (32-128 planes, 4-8 bit bands, "
    "lattice AND properly-random hyperplanes) shows this is DATA-"
    "limited, not a tuning bug: the corpus's true top-5 neighbors "
    "sit at cosine ~0.32, where sign-LSH theory gives ~6-15% band-"
    "collision recall at sub-10% candidate fractions. Exactly the "
    "call this audit exists to make: for this embedding geometry the "
    "scale path is IVF (recall@5 >= 0.9, pytest-pinned), not "
    "hyperplane LSH.",
)
def lsh_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from porcupine_spark.functions.concurrent import run_concurrently

    # the two retrieval pipelines are independent and each materializes
    # its own intermediates (cosine_topk: query collect + norms
    # checkpoint; lsh_topk: signature checkpoint) — build them
    # concurrently (optimization r8, guide §2.6) so one branch's
    # blocking jobs backfill the other's
    exact_df, approx_df = run_concurrently(
        lambda: cosine_topk(spark, sf_dir),
        lambda: lsh_topk(spark, sf_dir),
    )
    return recall_vs_exact(exact_df, approx_df, "lsh")


_REG["lsh_recall_at_k"].oracle = sql_recall_vs_exact(
    _REG["cosine_topk"].oracle, _REG["lsh_topk"].oracle, "lsh"
)


@query(
    "ivf_cell_balance",
    f"""
    WITH {SQL_IVF_ASSIGN},
    cells AS (
      SELECT cid, COUNT(*) AS n_vectors FROM assign WHERE arn = 1 GROUP BY cid
    ),
    tot AS (SELECT SUM(n_vectors) AS t, COUNT(*) AS k FROM cells)
    SELECT cid, CAST(n_vectors AS BIGINT) AS n_vectors,
           CAST(n_vectors * 1000000 // tot.t AS BIGINT) AS share_ppm,
           CAST(n_vectors * tot.k * 1000000 // tot.t AS BIGINT) AS load_factor_ppm
    FROM cells, tot
    """,
    tags=("similarity", "ann", "ivf", "monitoring"),
    doc="IVF cell-balance audit: per coarse cell, the member count, "
    "corpus share, and load factor vs the perfectly-balanced mean "
    "(1e6 = exactly mean-sized; the capacity-planning number — a hot "
    "cell is BOTH a skewed shuffle partition at build time and a "
    "latency outlier at probe time, and the fix — split the cell, "
    "re-train centroids — is decided from this table). Uses ivf_topk's "
    "exact assignment semantics (same centroids, same argmax rule) via "
    "the same numpy-prefilter + exact-decimal re-score: only centroids "
    "within 2*epsilon of a vector's approximate best get the decimal "
    "re-score, so decimal work is ~N dots, not N*8. Downstream of "
    "assignment everything is |cells|-sized.",
)
def ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from porcupine_spark.functions.concurrent import run_concurrently

    emb = load_table(spark, sf_dir, "embeddings")
    emb_raw = load_table(spark, sf_dir, "embeddings", widen=False)
    # the norms table feeds both the candidate join and the centroid
    # side, and the centroid filter cannot pass the Python UDF:
    # checkpoint it so the Arrow norm stage runs over the corpus once
    # (as in ivf_topk), overlapped with the centroid collect
    cloc, vecs = run_concurrently(
        lambda: emb_raw.filter(F.col("vec_id") < IVF_CENTROIDS)
        .select("vec_id", "embedding")
        .toPandas(),
        lambda: _exact_norms(emb_raw),
    )
    assigned = exact_centroid_ranks(emb, vecs, cloc).filter(F.col("arn") == 1)
    cells = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("n_vectors"))
    tot = cells.agg(F.sum("n_vectors").alias("t"), F.count(F.lit(1)).alias("k"))
    return cells.crossJoin(F.broadcast(tot)).select(
        "cid",
        F.col("n_vectors").cast("long").alias("n_vectors"),
        F.floor((F.col("n_vectors") * F.lit(1_000_000)) / F.col("t"))
        .cast("long")
        .alias("share_ppm"),
        F.floor((F.col("n_vectors") * F.col("k") * F.lit(1_000_000)) / F.col("t"))
        .cast("long")
        .alias("load_factor_ppm"),
    )
