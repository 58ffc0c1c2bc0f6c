"""Distinct-counting sketches with exact oracles.

The reference has no sketch layer (its folds are exact; SURVEY §2.4),
but a 100 TB curation pipeline lives on cardinality estimates —
vocabulary sizes, per-source distinct tokens, join-key cardinalities
for planning. The sketch of choice here is KMV (k-minimum values,
Bar-Yossef et al. 2002): keep the k smallest hash values of the
distinct set; the k-th smallest h_k estimates the cardinality as
(k-1) * M / h_k for hashes uniform on [1, M). Unlike HyperLogLog,
KMV's state and estimate are PURE integer/order statistics — both
engines compute them bit-identically, so the estimator itself gets an
exact oracle (the same verification posture as
minhash_estimator_calibration).

Scale posture: the production sketch keeps k values per group via
partial aggregation (k smallest of a union of k-smallest sets —
mergeable, one combine tree, no distinct shuffle). The REGISTERED
query is the calibration report (estimate next to exact), which needs
the exact side anyway; its window-over-distinct shape matches that
requirement, not the sketch's production cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from porcupine_spark.functions.driverstate import materialize
from porcupine_spark.functions.hashing import md5_bucket, md5_long60
from porcupine_spark.functions.topk import ranked_topk
from porcupine_spark.operators.text import sql_tokens, tokens
from porcupine_spark.plans.registry import query
from porcupine_spark.tables import load_table

KMV_K = 64  # sketch size: relative error ~ 1/sqrt(k-2) ~ 13%
KMV_M = 1 << 60  # hash domain: 60-bit md5 prefix (both engines exact)


@query(
    "kmv_distinct_estimate",
    f"""
    WITH toks AS (
      SELECT DISTINCT source,
             CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM (SELECT source,
                   UNNEST({sql_tokens()}) AS tok
            FROM documents)
      WHERE tok <> ''
    ),
    ranked AS (
      SELECT source, h,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk,
             COUNT(*) OVER (PARTITION BY source) AS n_exact
      FROM toks
    )
    SELECT source,
           CAST(n_exact AS BIGINT) AS n_distinct_exact,
           CAST(CASE WHEN n_exact < {KMV_K} THEN n_exact
                     ELSE CAST({KMV_K - 1} AS HUGEINT) * {KMV_M} // h
                END AS BIGINT) AS kmv_estimate,
           CAST(CASE WHEN n_exact < {KMV_K} THEN 0
                     ELSE ABS(CAST({KMV_K - 1} AS HUGEINT) * {KMV_M} // h - n_exact)
                          * 1000000 // n_exact
                END AS BIGINT) AS abs_err_micro
    FROM ranked
    WHERE rk = CASE WHEN n_exact < {KMV_K} THEN n_exact ELSE {KMV_K} END
    """,
    tags=("sketch", "monitoring", "corpus"),
    doc=f"KMV distinct-token estimator calibration per source: the "
    f"k-th smallest (k={KMV_K}) 60-bit token hash yields the "
    f"cardinality estimate (k-1)*2^60 div h_k, reported next to the "
    f"exact distinct count with the relative error in integer "
    f"micro-units (truncating div - the repo's exact-ratio recipe). "
    f"Order statistics + integer division are bit-identical across "
    f"engines, so a SKETCH gets an exact oracle. Production keeps "
    f"only the k minima per group (mergeable partial aggregate, no "
    f"distinct shuffle); this calibration query pays the exact side "
    f"deliberately - it exists to tell you whether k is sized right "
    f"before trusting the sketch at 100 TB.",
)
def kmv_distinct_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(
            tokens(F.col("text"))
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    hashed = toks.select(
        "source",
        md5_long60("tok").alias("h"),
    ).distinct()
    wr = W.partitionBy("source").orderBy("h")
    wc = W.partitionBy("source")
    ranked = hashed.select(
        "source",
        "h",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wc).alias("n_exact"),
    )
    at_k = ranked.filter(
        F.col("rk")
        == F.when(F.col("n_exact") < KMV_K, F.col("n_exact")).otherwise(F.lit(KMV_K))
    )
    est = F.when(F.col("n_exact") < KMV_K, F.col("n_exact").cast("decimal(38,0)")).otherwise(
        F.expr(f"CAST({KMV_K - 1} AS DECIMAL(38,0)) * {KMV_M} div h")
    )
    err = F.when(F.col("n_exact") < KMV_K, F.lit(0).cast("decimal(38,0)")).otherwise(
        F.expr(
            f"abs(CAST({KMV_K - 1} AS DECIMAL(38,0)) * {KMV_M} div h - n_exact)"
            " * 1000000 div n_exact"
        )
    )
    return at_k.select(
        "source",
        F.col("n_exact").alias("n_distinct_exact"),
        est.cast("long").alias("kmv_estimate"),
        err.cast("long").alias("abs_err_micro"),
    )


HLL_P = 8  # 2^8 = 256 registers: relative error ~ 1.04/sqrt(m) ~ 6.5%
HLL_M = 1 << HLL_P
HLL_W_BITS = 60 - HLL_P  # hash bits left after the bucket index
HLL_RHO_MAX = HLL_W_BITS + 1
HLL_POW2_RHO_MAX = 1 << HLL_RHO_MAX
# trunc(1e6 * 0.7213 / (1 + 1.079/m)) for m=256 — the standard HLL
# bias constant (Flajolet et al. 2007) as a fixed ppm literal, so the
# estimate is pure integer arithmetic on both engines
HLL_ALPHA_PPM = 718272

# ONE source of truth for the register build, the exact integer
# harmonic sum, and the estimator — shared (SQL and Spark sides alike)
# by hll_distinct_estimate and hll_union_estimate so the trickiest
# arithmetic in this file can never desynchronize between the two.
_SQL_HLL_REGS = f"""
      SELECT source, h % {HLL_M} AS bucket,
             MAX(CASE WHEN h // {HLL_M} = 0 THEN {HLL_RHO_MAX}
                      ELSE {HLL_RHO_MAX} - length(bin(h // {HLL_M}))
                 END) AS mj
      FROM toks GROUP BY source, h % {HLL_M}"""

_SQL_HLL_S = (
    f"SUM(1::BIGINT << ({HLL_RHO_MAX} - mj))"
    f" + ({HLL_M} - COUNT(*)) * {HLL_POW2_RHO_MAX}::BIGINT"
)


def _sql_hll_est(s: str) -> str:
    return (
        f"{HLL_ALPHA_PPM}::HUGEINT * {HLL_M * HLL_M} * {HLL_POW2_RHO_MAX}"
        f" // {s} // 1000000"
    )


def _hll_regs(hashed: DataFrame) -> DataFrame:
    """(source, h) -> (source, bucket, mj) register table."""
    return (
        hashed.select(
            "source",
            (F.col("h") % HLL_M).alias("bucket"),
            F.expr(f"h div {HLL_M}").alias("w"),
        )
        .groupBy("source", "bucket")
        .agg(
            F.max(
                F.when(F.col("w") == 0, F.lit(HLL_RHO_MAX)).otherwise(
                    F.lit(HLL_RHO_MAX) - F.length(F.bin("w"))
                )
            ).alias("mj")
        )
    )


def _hll_s_agg():
    """Aggregate column: the exact harmonic sum S over a register group,
    carried as integers over the common 2^rho_max denominator."""
    return F.sum(
        F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_RHO_MAX} - mj)")
    ) + (F.lit(HLL_M) - F.count(F.lit(1))) * F.lit(HLL_POW2_RHO_MAX)


def _hll_est_expr():
    return F.expr(
        f"CAST({HLL_ALPHA_PPM} AS DECIMAL(38,0)) * {HLL_M * HLL_M}"
        f" * {HLL_POW2_RHO_MAX} div s div 1000000"
    )


@query(
    "hll_distinct_estimate",
    f"""
    WITH toks AS (
      SELECT DISTINCT source,
             CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM (SELECT source,
                   UNNEST({sql_tokens()}) AS tok
            FROM documents)
      WHERE tok <> ''
    ),
    regs AS ({_SQL_HLL_REGS}
    ),
    per_source AS (
      SELECT source, {_SQL_HLL_S} AS s, COUNT(*) AS n_buckets_hit
      FROM regs GROUP BY source
    ),
    exact AS (SELECT source, COUNT(*) AS n_exact FROM toks GROUP BY source)
    SELECT e.source,
           CAST(e.n_exact AS BIGINT) AS n_distinct_exact,
           CAST(p.n_buckets_hit AS BIGINT) AS n_buckets_hit,
           CAST({_sql_hll_est("p.s")} AS BIGINT) AS hll_estimate_raw,
           CAST(ABS({_sql_hll_est("p.s")} - e.n_exact)
                * 1000000 // e.n_exact AS BIGINT) AS abs_err_micro
    FROM exact e JOIN per_source p USING (source)
    """,
    tags=("sketch", "monitoring", "corpus"),
    doc=f"HyperLogLog distinct-token calibration per source, next to "
    f"KMV: {HLL_M} registers from a 60-bit token hash ({HLL_P} bucket "
    f"bits; register = max leading-zero rank of the remaining "
    f"{HLL_W_BITS} bits, via length(bin(w)) — identical minimal-binary "
    f"semantics both engines), raw estimate alpha*m^2/sum(2^-Mj) with "
    f"the harmonic sum carried EXACTLY as the integer "
    f"sum(2^(rho_max-Mj)) over a common 2^{HLL_RHO_MAX} denominator "
    f"and alpha as a fixed ppm literal - the whole estimator is "
    f"integer-exact, so a second sketch family gets a hash oracle. "
    f"Raw estimator only (no small-range linear counting, which needs "
    f"ln - production applies it below 2.5m; the report flags that "
    f"regime via n_buckets_hit < m). Production state is {HLL_M} "
    f"bytes/group, merge = register-wise MAX - the mergeable-summary "
    f"the 100 TB vocabulary census runs on; this calibration pays the "
    f"exact side deliberately to validate register sizing.",
)
def hll_distinct_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(tokens(F.col("text"))).alias("tok"),
    ).filter(F.col("tok") != "")
    hashed = toks.select(
        "source",
        md5_long60("tok").alias("h"),
    ).distinct()
    regs = _hll_regs(hashed)
    per_source = regs.groupBy("source").agg(
        _hll_s_agg().alias("s"),
        F.count(F.lit(1)).alias("n_buckets_hit"),
    )
    exact = hashed.groupBy("source").agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        exact.join(per_source, "source")
        .withColumn("est", _hll_est_expr())
        .select(
            "source",
            F.col("n_exact").alias("n_distinct_exact"),
            "n_buckets_hit",
            F.col("est").cast("long").alias("hll_estimate_raw"),
            F.expr("abs(est - n_exact) * 1000000 div n_exact")
            .cast("long")
            .alias("abs_err_micro"),
        )
    )


MG_CAPACITY = 2000  # Misra-Gries counters per partition


def mg_summarize(counts: dict, cap: int) -> dict:
    """Reduce a counter dict to ``cap`` entries by the Misra-Gries /
    mergeable-summaries rule (Agarwal et al. 2012): subtract the
    (cap+1)-th largest count from everything, drop non-positives.
    Underestimates each survivor by at most (input mass)/(cap+1)."""
    if len(counts) <= cap:
        return counts
    m = sorted(counts.values(), reverse=True)[cap]
    return {t: c - m for t, c in counts.items() if c - m > 0}


@query(
    "frequent_tokens_mg",
    f"""
    WITH toks AS (
      SELECT tok FROM (SELECT {sql_tokens()} AS toks FROM documents),
           LATERAL (SELECT UNNEST(toks) AS tok)
      WHERE tok <> ''
    ),
    tot AS (SELECT COUNT(*) AS n FROM toks)
    SELECT tok, COUNT(*) AS n_occurrences
    FROM toks
    GROUP BY tok
    HAVING COUNT(*) * {MG_CAPACITY + 1} > (SELECT n FROM tot)
    """,
    tags=("sketch", "corpus", "vocab"),
    doc=f"All tokens above frequency N/{MG_CAPACITY + 1}, found WITHOUT "
    f"a full-vocabulary shuffle: each partition keeps a "
    f"{MG_CAPACITY}-counter Misra-Gries summary (mergeable-summaries "
    f"guarantee: any token with global count > N/(cap+1) survives in "
    f"at least one partition's candidate set), the tiny candidate "
    f"union is broadcast back, and only candidates are exactly "
    f"recounted and thresholded (the grand total N rides the sketch "
    f"pass as per-partition mass, so the corpus is scanned exactly "
    f"twice: sketch + recount) - so the OUTPUT is exact and "
    f"partition-independent while the shuffle moves candidate tokens "
    f"only (bounded by partitions x cap), not the vocabulary. The "
    f"100 TB heavy-hitters pattern: sketch to find, recount to "
    f"verify. Oracle = the same threshold over full counts, which "
    f"the MG completeness guarantee makes identical.",
)
def frequent_tokens_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            tokens(F.col("text"))
        ).alias("tok")
    ).filter(F.col("tok") != "")

    def mg_partition(it):
        import pandas as pd

        # One extra sentinel row (tok=NULL) carries the partition's total
        # token mass, so the grand total N rides along with the sketch pass
        # instead of costing a third full corpus scan. A real token can
        # never be NULL (explode of a split array yields strings).
        counts: dict = {}
        mass = 0
        for pdf in it:
            mass += len(pdf)
            for t, c in pdf["tok"].value_counts().items():
                counts[t] = counts.get(t, 0) + int(c)
            counts = mg_summarize(counts, MG_CAPACITY)
        yield pd.DataFrame(
            {
                "tok": list(counts.keys()) + [None],
                "mass": [0] * len(counts) + [mass],
            }
        )

    # Bounded by partitions x (cap+1) rows; materialized once so
    # candidates and the total don't each re-run the corpus scan.
    summary = toks.mapInPandas(
        mg_partition, schema="tok string, mass long"
    ).transform(materialize)
    candidates = summary.filter(F.col("tok").isNotNull()).select("tok").distinct()
    total = summary.filter(F.col("tok").isNull()).agg(F.sum("mass").alias("n"))
    return (
        toks.join(F.broadcast(candidates), "tok", "left_semi")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n_occurrences") * (MG_CAPACITY + 1) > F.col("n"))
        .select("tok", "n_occurrences")
    )


@query(
    "vocab_chao1_richness",
    f"""
    WITH counts AS (
      SELECT source, tok, COUNT(*) AS n
      FROM (SELECT source,
                   UNNEST({sql_tokens()}) AS tok
            FROM documents)
      WHERE tok <> ''
      GROUP BY source, tok
    )
    SELECT source,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_distinct_obs,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1_singletons,
           CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2_doubletons,
           CAST(COUNT(*)
                + SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END)
                  * (SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) - 1)
                  // (2 * (SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) + 1))
             AS BIGINT) AS chao1_estimate
    FROM counts GROUP BY source
    """,
    tags=("sketch", "corpus", "vocab"),
    doc="Chao1 species-richness estimate of each source's UNSEEN "
    "vocabulary: chao1 = D + f1*(f1-1)/(2*(f2+1)) (bias-corrected "
    "form - never divides by zero) from the observed distinct count "
    "and the singleton/doubleton abundances. Where vocab_growth_curve "
    "measures how vocabulary grew over the crawl you HAVE, Chao1 "
    "extrapolates how much a source still holds - a source whose "
    "chao1 is far above its observed D rewards more crawling; one "
    "near D is exhausted. The estimator is pure integer arithmetic "
    "(truncating division), so it carries an exact oracle. Shape: one "
    "(source, tok) count (map-side combined), then a |vocab|-row "
    "aggregation to 4 integers per source - no windows, no sort.",
)
def vocab_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(tokens(F.col("text"))).alias("tok"),
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("n"))
    f1 = F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
    f2 = F.sum(F.when(F.col("n") == 2, 1).otherwise(0))
    return counts.groupBy("source").agg(
        F.sum("n").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct_obs"),
        f1.cast("long").alias("f1_singletons"),
        f2.cast("long").alias("f2_doubletons"),
        # f1*(f1-1) in DECIMAL(38,0): long*long wraps past 2^63 (the
        # oracle's SUM is HUGEINT) — the repo's exact-math discipline
        F.expr(
            "CAST(count(1)"
            " + CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DECIMAL(38,0))"
            "   * (sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) - 1)"
            "   div (2 * (sum(CASE WHEN n = 2 THEN 1 ELSE 0 END) + 1))"
            " AS BIGINT)"
        ).alias("chao1_estimate"),
    )


OVL_K = 256  # pair-overlap sketch size


@query(
    "kmv_overlap_estimate",
    f"""
    WITH t AS (
      SELECT source,
             {sql_tokens()} AS ws
      FROM documents
    ),
    toks AS (
      SELECT DISTINCT source,
             CAST(concat('0x', substr(md5(ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]), 1, 15))
                  AS BIGINT) AS h
      FROM t, UNNEST(range(1, len(ws) - 1)) AS r(i)
      WHERE len(ws) >= 3
    ),
    sk AS (
      SELECT source, h FROM (
        SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk
        FROM toks)
      WHERE rk <= {OVL_K}
    ),
    srcs AS (SELECT DISTINCT source FROM documents),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b
      FROM srcs a JOIN srcs b ON a.source < b.source
    ),
    u0 AS (
      SELECT p.source_a, p.source_b, s.h, 'A' AS side
      FROM pairs p JOIN sk s ON s.source = p.source_a
      UNION ALL
      SELECT p.source_a, p.source_b, s.h, 'B' AS side
      FROM pairs p JOIN sk s ON s.source = p.source_b
    ),
    u1 AS (
      SELECT source_a, source_b, h,
             CASE WHEN COUNT(DISTINCT side) = 2 THEN 1 ELSE 0 END AS in_both
      FROM u0 GROUP BY source_a, source_b, h
    ),
    u2 AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY source_a, source_b ORDER BY h) AS rk,
             COUNT(*) OVER (PARTITION BY source_a, source_b) AS n_u
      FROM u1
    ),
    est AS (
      SELECT source_a, source_b,
             MAX(CASE WHEN rk = LEAST(n_u, {OVL_K}) THEN h END) AS h_k,
             MAX(n_u) AS n_u,
             SUM(CASE WHEN rk <= LEAST(n_u, {OVL_K}) THEN in_both ELSE 0 END) AS j,
             LEAST(MAX(n_u), {OVL_K}) AS kk
      FROM u2 GROUP BY source_a, source_b
    ),
    ex AS (
      SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS exact_overlap
      FROM toks a JOIN toks b ON b.h = a.h AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT e.source_a, e.source_b,
           CAST(COALESCE(x.exact_overlap, 0) AS BIGINT) AS exact_overlap,
           CAST(e.j AS BIGINT) AS j_shared_in_sketch,
           CAST(e.j * 1000000 // e.kk AS BIGINT) AS jaccard_est_micro,
           CAST(CASE WHEN e.n_u < {OVL_K} THEN e.j
                     ELSE e.j * (CAST({OVL_K - 1} AS HUGEINT) * {KMV_M} // e.h_k)
                          // {OVL_K}
                END AS BIGINT) AS overlap_estimate
    FROM est e LEFT JOIN ex x
      ON x.source_a = e.source_a AND x.source_b = e.source_b
    """,
    tags=("sketch", "corpus", "dedup"),
    doc=f"KMV set algebra (Beyer et al. 2007): estimated distinct "
    f"word-3-gram (shingle) overlap for every source pair from "
    f"{OVL_K}-min sketches ALONE - the k smallest hashes of the union of two "
    f"k-min sketches are exactly the union's k-min sketch, the "
    f"fraction of that sample present in both sides estimates "
    f"Jaccard, and intersection = jaccard x the union's KMV "
    f"cardinality estimate. Everything is order statistics + integer "
    f"division, so the sketch-algebra pipeline carries a hash oracle; "
    f"the exact overlap rides alongside as calibration (paid "
    f"deliberately - it is the quantity production AVOIDS computing: "
    f"per-pair state is 2k longs vs a vocabulary-wide join, the "
    f"crawl-overlap triage at 100 TB). Pair fan-out is |sources|^2 x "
    f"k rows - bounded by the source census, not the corpus.",
)
def kmv_overlap_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from porcupine_spark.functions import word_ngrams

    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "source",
        F.explode(word_ngrams(tokens(F.col("text")), 3)).alias("g"),
    )
    # consumed by the sketch window AND both sides of the exact-overlap
    # self-join: materialize the tokenize+hash+distinct pass once
    hashed = grams.select(
        "source",
        md5_long60("g").alias("h"),
    ).distinct().transform(materialize)
    sk = (
        hashed.withColumn(
            "rk", F.row_number().over(W.partitionBy("source").orderBy("h"))
        )
        .filter(F.col("rk") <= OVL_K)
        .drop("rk")
    )
    srcs = docs.select("source").distinct()
    pairs = (
        srcs.alias("a")
        .crossJoin(F.broadcast(srcs.alias("b")))
        .filter(F.expr("a.source < b.source"))
        .select(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
    )
    part_a = pairs.join(
        sk.withColumnRenamed("source", "source_a"), "source_a"
    ).select("source_a", "source_b", "h", F.lit("A").alias("side"))
    part_b = pairs.join(
        sk.withColumnRenamed("source", "source_b"), "source_b"
    ).select("source_a", "source_b", "h", F.lit("B").alias("side"))
    u1 = (
        part_a.unionAll(part_b)
        .groupBy("source_a", "source_b", "h")
        .agg(
            F.when(F.countDistinct("side") == 2, 1).otherwise(0).alias("in_both")
        )
    )
    wp = W.partitionBy("source_a", "source_b")
    u2 = u1.select(
        "source_a",
        "source_b",
        "h",
        "in_both",
        F.row_number().over(wp.orderBy("h")).alias("rk"),
        F.count(F.lit(1)).over(wp).alias("n_u"),
    )
    est = u2.groupBy("source_a", "source_b").agg(
        F.max(
            F.when(F.col("rk") == F.least(F.col("n_u"), F.lit(OVL_K)), F.col("h"))
        ).alias("h_k"),
        F.max("n_u").alias("n_u"),
        F.sum(
            F.when(
                F.col("rk") <= F.least(F.col("n_u"), F.lit(OVL_K)), F.col("in_both")
            ).otherwise(0)
        ).alias("j"),
        F.least(F.max("n_u"), F.lit(OVL_K)).alias("kk"),
    )
    ha = hashed.select(F.col("source").alias("source_a"), "h")
    hb = hashed.select(F.col("source").alias("source_b"), "h")
    ex = (
        ha.join(hb, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    return (
        est.join(ex, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            F.coalesce("exact_overlap", F.lit(0)).cast("long").alias("exact_overlap"),
            F.col("j").cast("long").alias("j_shared_in_sketch"),
            F.expr("CAST(j * 1000000 div kk AS BIGINT)").alias("jaccard_est_micro"),
            F.expr(
                f"CAST(CASE WHEN n_u < {OVL_K} THEN j"
                f" ELSE j * (CAST({OVL_K - 1} AS DECIMAL(38,0)) * {KMV_M} div h_k)"
                f" div {OVL_K} END AS BIGINT)"
            ).alias("overlap_estimate"),
        )
    )


CMS_D = 4  # hash rows
CMS_W = 512  # buckets per row
CMS_TOPN = 10  # calibration targets: exact top-N tokens

_CMS_SALTS = tuple(f"s{i}" for i in range(CMS_D))


@query(
    "cms_frequency_estimate",
    f"""
    WITH toks AS (
      SELECT UNNEST({sql_tokens()}) AS tok
      FROM documents
    ),
    clean AS (SELECT tok FROM toks WHERE tok <> ''),
    hashes AS (
      SELECT tok, i,
             CAST(concat('0x', substr(md5('s' || i || tok), 1, 15)) AS BIGINT)
               % {CMS_W} AS bucket
      FROM clean, UNNEST(range(0, {CMS_D})) AS r(i)
    ),
    cells AS (
      SELECT i, bucket, COUNT(*) AS c FROM hashes GROUP BY i, bucket
    ),
    exact AS (
      SELECT tok, COUNT(*) AS n_exact,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS rk
      FROM clean GROUP BY tok
    ),
    top AS (SELECT tok, n_exact, rk FROM exact WHERE rk <= {CMS_TOPN}),
    probes AS (
      SELECT t.tok, t.n_exact, t.rk, h.i,
             CAST(concat('0x', substr(md5('s' || h.i || t.tok), 1, 15)) AS BIGINT)
               % {CMS_W} AS bucket
      FROM top t, UNNEST(range(0, {CMS_D})) AS h(i)
    )
    SELECT p.tok, CAST(p.rk AS BIGINT) AS rk, p.n_exact,
           CAST(MIN(c.c) AS BIGINT) AS cms_estimate,
           CAST(MIN(c.c) - p.n_exact AS BIGINT) AS overcount,
           CAST((MIN(c.c) - p.n_exact) * 1000000 // p.n_exact AS BIGINT)
             AS overcount_micro
    FROM probes p JOIN cells c ON c.i = p.i AND c.bucket = p.bucket
    GROUP BY p.tok, p.rk, p.n_exact
    """,
    tags=("sketch", "corpus", "monitoring"),
    doc=f"Count-Min sketch calibration: a {CMS_D}x{CMS_W} counter "
    f"array (row i = md5-salted hash i mod {CMS_W}; point estimate = "
    f"min over rows), probed at the exact top-{CMS_TOPN} tokens with "
    f"the guaranteed-one-sided overcount reported in micro-units. "
    f"Completes the sketch shelf: KMV/HLL answer set cardinality, "
    f"Misra-Gries finds WHO is heavy, CMS answers POINT frequency "
    f"queries on keys chosen after the scan - with {CMS_D * CMS_W} "
    f"integers of mergeable state (cells add under union - the "
    f"100 TB shape is one CMS per partition summed). Counter cells "
    f"are exact aggregates and min is an order statistic, so the "
    f"sketch AND its error report carry a hash oracle.",
)
def cms_frequency_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    clean = docs.select(F.explode(tokens(F.col("text"))).alias("tok")).filter(
        F.col("tok") != ""
    )

    def bucket(i: int, tok_col: str = "tok"):
        return md5_bucket(tok_col, f"s{i}", CMS_W)

    # Optimization r7 (guide §2.3): one token-count aggregation feeds
    # BOTH the sketch and the exact probe ranking — the sketch hashes
    # each DISTINCT token once per row (vocab * D md5s, not corpus * D)
    # and weights cells by the token count; cell integers are identical.
    vocab = clean.groupBy("tok").agg(F.count(F.lit(1)).alias("n_exact"))
    hashes = vocab.select(
        F.col("n_exact").alias("n"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("i"), bucket(i).alias("bucket"))
                    for i in range(CMS_D)
                ]
            )
        ).alias("ib"),
    ).select(F.col("ib.i").alias("i"), F.col("ib.bucket").alias("bucket"), "n")
    cells = hashes.groupBy("i", "bucket").agg(F.sum("n").alias("c"))
    # exact top-N probe tokens via TakeOrderedAndProject + bounded rank —
    # the raw vocab is corpus-sized (Heaps' law), so no global window here
    exact = ranked_topk(vocab, "n_exact", ["tok"], CMS_TOPN)
    probes = exact.select(
        "tok",
        "n_exact",
        "rk",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("i"), bucket(i).alias("bucket"))
                    for i in range(CMS_D)
                ]
            )
        ).alias("ib"),
    ).select(
        "tok", "n_exact", "rk", F.col("ib.i").alias("i"), F.col("ib.bucket").alias("bucket")
    )
    return (
        probes.join(F.broadcast(cells), ["i", "bucket"])
        .groupBy("tok", "rk", "n_exact")
        .agg(F.min("c").alias("cms_estimate"))
        .select(
            "tok",
            F.col("rk").cast("long").alias("rk"),
            "n_exact",
            F.col("cms_estimate").cast("long").alias("cms_estimate"),
            (F.col("cms_estimate") - F.col("n_exact"))
            .cast("long")
            .alias("overcount"),
            F.expr(
                "CAST((cms_estimate - n_exact) * 1000000 div n_exact AS BIGINT)"
            ).alias("overcount_micro"),
        )
    )


F2_D = 4  # CMS rows for the second-moment estimate
F2_W = 512


@query(
    "cms_selfjoin_size",
    f"""
    WITH keys AS (SELECT CAST(l_partkey AS VARCHAR) AS k FROM lineitem),
    hashes AS (
      SELECT k, i,
             CAST(concat('0x', substr(md5('s' || i || k), 1, 15)) AS BIGINT)
               % {F2_W} AS bucket
      FROM keys, UNNEST(range(0, {F2_D})) AS r(i)
    ),
    cells AS (SELECT i, bucket, COUNT(*) AS c FROM hashes GROUP BY i, bucket),
    est AS (
      SELECT MIN(s) AS f2_est FROM (
        SELECT i, SUM(CAST(c AS HUGEINT) * c) AS s FROM cells GROUP BY i)
    ),
    exact AS (
      SELECT CAST(SUM(CAST(n AS HUGEINT) * n) AS HUGEINT) AS f2
      FROM (SELECT COUNT(*) AS n FROM keys GROUP BY k)
    )
    SELECT CAST(exact.f2 AS BIGINT) AS exact_selfjoin_size,
           CAST(est.f2_est AS BIGINT) AS cms_estimate,
           CAST((est.f2_est - exact.f2) * 1000000 // exact.f2 AS BIGINT)
             AS overcount_micro
    FROM exact, est
    """,
    tags=("sketch", "monitoring", "planning"),
    doc=f"Self-join size (second frequency moment F2 = sum of squared "
    f"key frequencies) of lineitem.l_partkey, estimated from a "
    f"{F2_D}x{F2_W} Count-Min array as min over rows of "
    f"sum(cell^2) - the AMS/CMS answer to 'how many pairs would a "
    f"self-join on this key produce?', which is EXACTLY the pre-"
    f"flight this repo's guarded inverted-index self-joins need "
    f"(hot-DF caps, salting) before shipping a shuffle. One-sided "
    f"overcount reported in micro-units against the exact F2 "
    f"(colliding keys only inflate). {F2_D * F2_W} integers of "
    f"mergeable state (cells add across partitions) vs a full "
    f"per-key count - the 100 TB way to price a self-join without "
    f"running its groupBy. All counts/squares/min are integer-exact.",
)
def cms_selfjoin_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Optimization r7 (guide §2.3 "aggregate before you shuffle"):
    # reduce to per-key counts FIRST, then hash only the DISTINCT keys
    # and weight each cell by the count — cell values are identical
    # (sum of per-key counts == count of exploded occurrences), but the
    # md5 work and the exploded pre-shuffle rows drop from |rows|*D to
    # |distinct keys|*D. At 100 TB that is the difference between
    # hashing the fact table 4x and hashing its key dictionary 4x.
    li = load_table(spark, sf_dir, "lineitem")
    keys = li.select(F.col("l_partkey").cast("string").alias("k"))
    kc = keys.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    hashes = kc.select(
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        md5_bucket("k", f"s{i}", F2_W).alias("bucket"),
                    )
                    for i in range(F2_D)
                ]
            )
        ).alias("ib"),
    ).select(F.col("ib.i").alias("i"), F.col("ib.bucket").alias("bucket"), "n")
    cells = hashes.groupBy("i", "bucket").agg(F.sum("n").alias("c"))
    est = (
        cells.groupBy("i")
        .agg(F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * c")).alias("s"))
        .agg(F.min("s").alias("f2_est"))
    )
    exact = kc.agg(F.sum(F.expr("CAST(n AS DECIMAL(38,0)) * n")).alias("f2"))
    return (
        exact.crossJoin(F.broadcast(est))
        .select(
            F.col("f2").cast("long").alias("exact_selfjoin_size"),
            F.col("f2_est").cast("long").alias("cms_estimate"),
            F.expr(
                "CAST((f2_est - f2) * 1000000 div f2 AS BIGINT)"
            ).alias("overcount_micro"),
        )
    )


BLOOM_M = 8192  # bits
BLOOM_K = 4  # hash functions


@query(
    "bloom_fpr_calibration",
    f"""
    WITH member AS (
      SELECT DISTINCT o_custkey AS key FROM orders
      WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
    ),
    probe AS (
      SELECT c_custkey AS key FROM customer
      WHERE c_custkey NOT IN (SELECT key FROM member)
    ),
    bits AS (
      SELECT DISTINCT
             CAST(concat('0x', substr(md5('b' || i || CAST(key AS VARCHAR)), 1, 15))
                  AS BIGINT) % {BLOOM_M} AS bit
      FROM member, UNNEST(range(0, {BLOOM_K})) AS r(i)
    ),
    probes AS (
      SELECT p.key, h.i,
             CAST(concat('0x', substr(md5('b' || h.i || CAST(p.key AS VARCHAR)), 1, 15))
                  AS BIGINT) % {BLOOM_M} AS bit
      FROM probe p, UNNEST(range(0, {BLOOM_K})) AS h(i)
    ),
    verdicts AS (
      SELECT p.key,
             CASE WHEN COUNT(b.bit) = {BLOOM_K} THEN 1 ELSE 0 END AS fp
      FROM probes p LEFT JOIN bits b ON b.bit = p.bit
      GROUP BY p.key
    )
    SELECT (SELECT COUNT(*) FROM member) AS n_members,
           (SELECT COUNT(*) FROM bits) AS n_bits_set,
           CAST((SELECT COUNT(*) FROM bits) * 1000000 // {BLOOM_M} AS BIGINT)
             AS fill_ppm,
           COUNT(*) AS n_probes,
           CAST(SUM(fp) AS BIGINT) AS n_false_positives,
           CAST(SUM(fp) * 1000000 // COUNT(*) AS BIGINT) AS fpr_ppm
    FROM verdicts
    """,
    tags=("sketch", "monitoring", "planning"),
    doc=f"Bloom-filter calibration, the membership sketch next to the "
    f"counting ones: an m={BLOOM_M}/k={BLOOM_K} filter built over the "
    f"1995-active customer set (bits = distinct salted-hash buckets - "
    f"mergeable by union) probed with the DISJOINT customer "
    f"complement, reporting measured false-positive rate and fill "
    f"factor in ppm. The empirical answer to 'can a {BLOOM_M}-bit "
    f"broadcast filter prune this semi-join's shuffle?' - the same "
    f"mechanism as Spark's runtime bloom pruning (pinned in "
    f"test_plans), here as an auditable operator whose every bit is "
    f"integer-exact, so the sketch AND its error measurement carry a "
    f"hash oracle. Cost: two dimension scans, a {BLOOM_K}x explode "
    f"on each, one distinct on bits, one bounded join probe-bits.",
)
def bloom_fpr_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    member = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("date"))
        )
        .select(F.col("o_custkey").alias("key"))
        .distinct()
    )
    probe = cust.select(F.col("c_custkey").alias("key")).join(
        member, "key", "left_anti"
    )

    def buckets(df):
        return df.select(
            "key",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("i"),
                            md5_bucket(
                                F.col("key").cast("string"), f"b{i}", BLOOM_M
                            ).alias("bit"),
                        )
                        for i in range(BLOOM_K)
                    ]
                )
            ).alias("ib"),
        ).select("key", F.col("ib.i").alias("i"), F.col("ib.bit").alias("bit"))

    bits = buckets(member).select("bit").distinct()
    verdicts = (
        buckets(probe)
        .join(F.broadcast(bits.withColumn("hit", F.lit(1))), "bit", "left")
        .groupBy("key")
        .agg(
            F.when(F.sum(F.coalesce("hit", F.lit(0))) == BLOOM_K, 1)
            .otherwise(0)
            .alias("fp")
        )
    )
    nm = member.agg(F.count(F.lit(1)).alias("n_members"))
    nb = bits.agg(F.count(F.lit(1)).alias("n_bits_set"))
    return (
        verdicts.agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.sum("fp").cast("long").alias("n_false_positives"),
        )
        .crossJoin(F.broadcast(nm))
        .crossJoin(F.broadcast(nb))
        .select(
            "n_members",
            "n_bits_set",
            F.expr(f"CAST(n_bits_set * 1000000 div {BLOOM_M} AS BIGINT)").alias(
                "fill_ppm"
            ),
            "n_probes",
            "n_false_positives",
            F.expr(
                "CAST(n_false_positives * 1000000 div n_probes AS BIGINT)"
            ).alias("fpr_ppm"),
        )
    )


@query(
    "hll_union_estimate",
    f"""
    WITH t AS (
      SELECT source,
             {sql_tokens()} AS ws
      FROM documents
    ),
    toks AS (
      SELECT DISTINCT source,
             CAST(concat('0x', substr(md5(ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]), 1, 15))
                  AS BIGINT) AS h
      FROM t, UNNEST(range(1, len(ws) - 1)) AS r(i)
      WHERE len(ws) >= 3
    ),
    regs AS ({_SQL_HLL_REGS}
    ),
    merged AS (SELECT bucket, MAX(mj) AS mj FROM regs GROUP BY bucket),
    s AS (SELECT {_SQL_HLL_S} AS s FROM merged),
    exact AS (SELECT COUNT(DISTINCT h) AS n_exact FROM toks),
    nsrc AS (SELECT COUNT(DISTINCT source) AS n_sources FROM documents)
    SELECT CAST(nsrc.n_sources AS BIGINT) AS n_sources,
           CAST(exact.n_exact AS BIGINT) AS n_distinct_exact,
           CAST({_sql_hll_est("s.s")} AS BIGINT) AS hll_union_estimate,
           CAST(ABS({_sql_hll_est("s.s")} - exact.n_exact)
                * 1000000 // exact.n_exact AS BIGINT) AS abs_err_micro
    FROM exact, s, nsrc
    """,
    tags=("sketch", "corpus", "monitoring"),
    doc=f"HLL mergeability, demonstrated end-to-end: per-source "
    f"{HLL_M}-register sketches over distinct word-3-gram hashes are "
    f"merged by register-wise MAX - the property that makes HLL the "
    f"100 TB distinct counter (per-partition sketches combine "
    f"losslessly: merge-then-estimate EQUALS sketching the union "
    f"directly, no rescan) - and the merged estimate is reported "
    f"against the exact global distinct shingle count. Same integer-"
    f"exact estimator as hll_distinct_estimate (harmonic sum over a "
    f"common power-of-two denominator, ppm alpha), so the merge "
    f"pipeline carries a hash oracle. Shape: per-source register "
    f"table (|sources| x {HLL_M} rows), one MAX re-group to {HLL_M} "
    f"rows, constant-size output.",
)
def hll_union_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from porcupine_spark.functions import word_ngrams

    docs = load_table(spark, sf_dir, "documents")
    # consumed by the register build AND the exact union count:
    # materialize the tokenize+hash+distinct pass once
    hashed = (
        docs.select(
            "source", F.explode(word_ngrams(tokens(F.col("text")), 3)).alias("g")
        )
        .select(
            "source",
            md5_long60("g").alias("h"),
        )
        .distinct()
        .transform(materialize)
    )
    merged = _hll_regs(hashed).groupBy("bucket").agg(F.max("mj").alias("mj"))
    s = merged.agg(_hll_s_agg().alias("s"))
    exact = hashed.select("h").distinct().agg(F.count(F.lit(1)).alias("n_exact"))
    nsrc = docs.select("source").distinct().agg(
        F.count(F.lit(1)).alias("n_sources")
    )
    return (
        exact.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(nsrc))
        .withColumn("est", _hll_est_expr())
        .select(
            F.col("n_sources").cast("long").alias("n_sources"),
            F.col("n_exact").cast("long").alias("n_distinct_exact"),
            F.col("est").cast("long").alias("hll_union_estimate"),
            F.expr("CAST(abs(est - n_exact) * 1000000 div n_exact AS BIGINT)").alias(
                "abs_err_micro"
            ),
        )
    )


@query(
    "cms_join_size",
    f"""
    WITH a AS (SELECT CAST(l_partkey AS VARCHAR) AS k FROM lineitem),
    b AS (SELECT CAST(l_partkey AS VARCHAR) AS k FROM lineitem
          WHERE l_returnflag = 'R'),
    ah AS (
      SELECT i, CAST(concat('0x', substr(md5('s' || i || k), 1, 15)) AS BIGINT)
               % {F2_W} AS bucket, COUNT(*) AS c
      FROM a, UNNEST(range(0, {F2_D})) AS r(i) GROUP BY 1, 2
    ),
    bh AS (
      SELECT i, CAST(concat('0x', substr(md5('s' || i || k), 1, 15)) AS BIGINT)
               % {F2_W} AS bucket, COUNT(*) AS c
      FROM b, UNNEST(range(0, {F2_D})) AS r(i) GROUP BY 1, 2
    ),
    est AS (
      SELECT MIN(s) AS j_est FROM (
        SELECT ah.i, SUM(CAST(ah.c AS HUGEINT) * bh.c) AS s
        FROM ah JOIN bh ON ah.i = bh.i AND ah.bucket = bh.bucket
        GROUP BY ah.i)
    ),
    exact AS (
      SELECT CAST(SUM(CAST(na AS HUGEINT) * nb) AS HUGEINT) AS j FROM (
        SELECT a.k, COUNT(*) AS na FROM a GROUP BY a.k) fa
      JOIN (SELECT b.k, COUNT(*) AS nb FROM b GROUP BY b.k) fb USING (k)
    )
    SELECT CAST(exact.j AS BIGINT) AS exact_join_size,
           CAST(est.j_est AS BIGINT) AS cms_estimate,
           CAST((est.j_est - exact.j) * 1000000 // exact.j AS BIGINT)
             AS overcount_micro
    FROM exact, est
    """,
    tags=("sketch", "monitoring", "planning"),
    doc=f"Bipartite join-size estimate from two Count-Min arrays: "
    f"|A JOIN B on k| = sum_k f_A(k)*f_B(k), estimated as min over the "
    f"{F2_D} hash rows of the row-wise inner product of the two "
    f"{F2_W}-bucket count arrays (the AMS inner-product result; "
    "completes the planning shelf next to cms_selfjoin_size's F2). "
    "Here: lineitem x its returned-only subset on l_partkey — 'how "
    "many output rows if I join the fact table to the returns "
    "slice?', priced from 2x2048 mergeable integers instead of a "
    "groupBy of each side. Overcount is one-sided (collisions only "
    "add), reported in micro-units against the exact inner product. "
    "Everything is exact integer arithmetic on both engines.",
)
def cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Optimization r7 (guide §2.3): hash DISTINCT keys weighted by
    # their counts — the per-key count tables the exact branch needs
    # anyway — instead of md5-hashing every fact row F2_D times.
    # Cell values are identical integers; see cms_selfjoin_size.
    li = load_table(spark, sf_dir, "lineitem")
    a = li.select(F.col("l_partkey").cast("string").alias("k"))
    b = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_partkey").cast("string").alias("k")
    )
    fa = a.groupBy("k").agg(F.count(F.lit(1)).alias("na"))
    fb = b.groupBy("k").agg(F.count(F.lit(1)).alias("nb"))

    def cms_cells(kcounts: DataFrame, cnt: str) -> DataFrame:
        hashes = kcounts.select(
            F.col(cnt).alias("n"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("i"),
                            md5_bucket("k", f"s{i}", F2_W).alias("bucket"),
                        )
                        for i in range(F2_D)
                    ]
                )
            ).alias("ib"),
        ).select(F.col("ib.i").alias("i"), F.col("ib.bucket").alias("bucket"), "n")
        return hashes.groupBy("i", "bucket").agg(F.sum("n").alias("c"))

    ac, bc = cms_cells(fa, "na"), cms_cells(fb, "nb")
    est = (
        ac.withColumnRenamed("c", "ca")
        .join(bc.withColumnRenamed("c", "cb"), ["i", "bucket"])
        .groupBy("i")
        .agg(F.sum(F.expr("CAST(ca AS DECIMAL(38,0)) * cb")).alias("s"))
        .agg(F.min("s").alias("j_est"))
    )
    exact = fa.join(fb, "k").agg(
        F.sum(F.expr("CAST(na AS DECIMAL(38,0)) * nb")).alias("j")
    )
    return exact.crossJoin(F.broadcast(est)).select(
        F.col("j").cast("long").alias("exact_join_size"),
        F.col("j_est").cast("long").alias("cms_estimate"),
        F.expr("CAST((j_est - j) * 1000000 div j AS BIGINT)").alias(
            "overcount_micro"
        ),
    )


QSK_BINS = 1024
QSK_TARGETS = (50, 90, 99)


@query(
    "quantile_sketch_calibration",
    f"""
    WITH v AS (
      SELECT CAST(TRUNC(o_totalprice * 100) AS BIGINT) AS cents FROM orders
    ),
    bounds AS (
      SELECT MIN(cents) AS lo, MAX(cents) AS hi, COUNT(*) AS n FROM v
    ),
    binned AS (
      SELECT ((cents - bounds.lo) * {QSK_BINS})
               // (bounds.hi - bounds.lo + 1) AS bin,
             COUNT(*) AS c
      FROM v, bounds GROUP BY 1
    ),
    bincum AS (
      SELECT bin, SUM(c) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM binned
    ),
    vals AS (
      SELECT cents, COUNT(*) AS c FROM v GROUP BY cents
    ),
    valcum AS (
      SELECT cents, SUM(c) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM vals
    ),
    t AS (SELECT UNNEST(ARRAY{list(QSK_TARGETS)}) AS q),
    targets AS (
      SELECT q, (bounds.n * q + 99) // 100 AS target_rank,
             bounds.lo, bounds.hi FROM t, bounds
    ),
    est AS (
      SELECT q, MIN(lo + bin * (hi - lo + 1) // {QSK_BINS}) AS sketch_cents
      FROM targets JOIN bincum ON bincum.cum >= targets.target_rank
      GROUP BY q
    ),
    exact AS (
      SELECT q, MIN(cents) AS exact_cents
      FROM targets JOIN valcum ON valcum.cum >= targets.target_rank
      GROUP BY q
    )
    SELECT CAST(exact.q AS BIGINT) AS quantile_pct,
           CAST(exact.exact_cents AS BIGINT) AS exact_cents,
           CAST(est.sketch_cents AS BIGINT) AS sketch_cents,
           CAST((exact.exact_cents - est.sketch_cents) * 1000000
                // exact.exact_cents AS BIGINT) AS undershoot_micro
    FROM exact JOIN est USING (q)
    """,
    tags=("sketch", "monitoring", "orderstats", "planning"),
    doc=f"Quantile-sketch calibration — the missing member of the "
    f"sketch shelf (KMV/HLL count sets, MG finds heavy keys, CMS "
    f"prices frequencies/joins; this prices DISTRIBUTIONS): a "
    f"{QSK_BINS}-bin equi-width histogram over order totals (cents), "
    f"mergeable across partitions (bin counts add), read out at "
    f"P{QSK_TARGETS[0]}/P{QSK_TARGETS[1]}/P{QSK_TARGETS[2]} as the "
    "crossing bin's LEFT edge, against the exact order statistic from "
    "the full value histogram (same ceil-rank rule) — undershoot is "
    "one-sided by construction and bounded by one bin width. All "
    "integer arithmetic (bin index by truncating division on exact "
    "cents), so the sketch AND its error audit carry a hash oracle. "
    "The two single-partition windows run over the 1024-bin table and "
    "the distinct-value histogram — never the orders table.",
)
def quantile_sketch_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    # Spark double->bigint CAST truncates toward zero; DuckDB CAST
    # rounds, so the oracle wraps TRUNC() first — same value.
    v = orders.select(F.expr("CAST(o_totalprice * 100 AS BIGINT)").alias("cents"))
    bounds = v.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    vb = v.crossJoin(F.broadcast(bounds))
    binned = (
        vb.select(
            F.expr(f"(cents - lo) * {QSK_BINS} div (hi - lo + 1)").alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wcum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    bincum = binned.select("bin", F.sum("c").over(wcum).alias("cum"))
    vals = v.groupBy("cents").agg(F.count(F.lit(1)).alias("c"))
    wv = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    valcum = vals.select("cents", F.sum("c").over(wv).alias("cum"))
    targets = (
        spark.range(0, len(QSK_TARGETS))
        .select(
            F.element_at(
                F.array(*[F.lit(q) for q in QSK_TARGETS]),
                (F.col("id") + 1).cast("int"),
            ).alias("q")
        )
        .crossJoin(F.broadcast(bounds))
        .select("q", F.expr("(n * q + 99) div 100").alias("target_rank"), "lo", "hi")
    )
    est = (
        targets.join(bincum, F.col("cum") >= F.col("target_rank"))
        .groupBy("q")
        .agg(
            F.min(
                F.expr(f"lo + bin * (hi - lo + 1) div {QSK_BINS}")
            ).alias("sketch_cents")
        )
    )
    exact = (
        targets.join(valcum, F.col("cum") >= F.col("target_rank"))
        .groupBy("q")
        .agg(F.min("cents").alias("exact_cents"))
    )
    return exact.join(est, "q").select(
        F.col("q").cast("long").alias("quantile_pct"),
        F.col("exact_cents").cast("long").alias("exact_cents"),
        F.col("sketch_cents").cast("long").alias("sketch_cents"),
        F.expr(
            "CAST((exact_cents - sketch_cents) * 1000000 div exact_cents AS BIGINT)"
        ).alias("undershoot_micro"),
    )
