"""Vocabulary-shape and rank-statistics monitors for corpus curation:
hapax-legomena rates, the Zipf rank×frequency diagnostic, and an exact
tie-aware Spearman rank correlation computed WITHOUT a global sort.

The reference (YPares/porcupine) has no analytics operators — this is
beyond-reference training-data surface, same discipline as
operators/corpus.py: every number integer-exact (ppm / micro-units,
truncating division) so the DuckDB oracle matches hash-for-hash.

Scale posture (100 TB): everything here aggregates tokens to the
(source, token) or token level first — the only shuffles are keyed by
token, and all downstream tables are vocabulary-sized (millions), not
corpus-sized (billions of docs). The Spearman op is the interesting
one: naive Spearman needs a global rank (a total sort — one partition,
dead at scale). Here ranks are *mid-ranks derived from the value
histogram*: group docs by metric VALUE (distinct doc-lengths number in
the thousands even at 10B docs), cumulative-sum the counts over that
bounded value table, and join the mid-rank back by value. No global
sort ever touches the corpus-sized table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from porcupine_spark.operators.text import sql_tokens, tokens
from porcupine_spark.plans.registry import query
from porcupine_spark.tables import load_table

@query(
    "hapax_rate_by_source",
    f"""
    WITH tf AS (
      SELECT source, tok, COUNT(*) AS c
      FROM (
        SELECT source, UNNEST({sql_tokens()}) AS tok FROM documents
      ) GROUP BY source, tok
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
                AS BIGINT) AS hapax_vocab_ppm,
           CAST(COUNT(*) * 1000000 // SUM(c) AS BIGINT) AS ttr_ppm
    FROM tf GROUP BY source
    """,
    tags=("corpus", "vocab", "monitoring"),
    doc="Hapax/dis-legomena rates and type-token ratio per source: the "
    "vocabulary-tail health check (a scraper that starts emitting "
    "garbage tokens shows up as a hapax-share spike; a looping "
    "generator as a hapax collapse). One tokenize pass, one shuffle "
    "keyed by (source, token), then a source-level rollup of the "
    "vocabulary-sized table. All integers; ppm by truncating division.",
)
def hapax_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    tf = (
        docs.select("source", F.explode(toks).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    return tf.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        hapax.cast("long").alias("hapax"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long").alias("dis"),
        F.floor((hapax * F.lit(1_000_000)).cast("long") / F.count(F.lit(1)))
        .cast("long")
        .alias("hapax_vocab_ppm"),
        F.floor((F.count(F.lit(1)) * F.lit(1_000_000)).cast("long") / F.sum("c"))
        .cast("long")
        .alias("ttr_ppm"),
    )


ZIPF_TOPK = 30


@query(
    "zipf_rank_freq",
    f"""
    WITH tf AS (
      SELECT tok, COUNT(*) AS freq
      FROM (SELECT UNNEST({sql_tokens()}) AS tok FROM documents)
      GROUP BY tok
    ),
    top AS (
      SELECT tok, freq,
             ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS rank
      FROM tf ORDER BY freq DESC, tok LIMIT {ZIPF_TOPK}
    ),
    c1 AS (SELECT freq AS f1 FROM top WHERE rank = 1)
    SELECT rank, tok, CAST(freq AS BIGINT) AS freq,
           CAST(rank * freq AS BIGINT) AS rank_freq,
           CAST(rank * freq * 1000000 // f1 AS BIGINT) AS zipf_ratio_ppm
    FROM top, c1
    """,
    tags=("corpus", "vocab", "monitoring"),
    doc=f"Zipf diagnostic: top-{ZIPF_TOPK} tokens with rank x frequency "
    "and its ratio (ppm) to the rank-1 frequency — under Zipf's law the "
    "ratio stays near 1e6 across ranks; a flat head (synthetic or "
    "templated text) or a collapsed head (looping generator) shows up "
    "immediately. The global sort touches only the vocabulary-sized "
    "frequency table and the window runs on the already-LIMITed "
    f"{ZIPF_TOPK}-row result (bounded; the TakeOrdered does the heavy "
    "lifting distributed). f1 joins back as a 1-row broadcast.",
)
def zipf_rank_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    tf = (
        docs.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    from porcupine_spark.functions.topk import ranked_topk

    # TakeOrderedAndProject top-k + bounded posexplode rank — no window
    ranked = ranked_topk(tf, "freq", ["tok"], ZIPF_TOPK, rank_col="rank")
    c1 = ranked.filter(F.col("rank") == 1).select(F.col("freq").alias("f1"))
    rf = F.col("rank").cast("long") * F.col("freq")
    return (
        ranked.crossJoin(F.broadcast(c1))
        .select(
            F.col("rank").cast("long").alias("rank"),
            "tok",
            F.col("freq").cast("long").alias("freq"),
            rf.alias("rank_freq"),
            F.floor((rf * F.lit(1_000_000)) / F.col("f1")).cast("long")
            .alias("zipf_ratio_ppm"),
        )
    )


def _midrank2_by_value(perdoc: DataFrame, metric: str) -> DataFrame:
    """(value, midrank2): 2x the tie-averaged rank of each distinct
    METRIC value. midrank2 = 2*cum - cnt + 1 where cum is the cumulative
    doc count through this value — integers throughout (the x2 dodges
    the .5 of averaged ranks). The window runs over the DISTINCT-VALUE
    table only (bounded: distinct doc lengths, not docs)."""
    hist = perdoc.groupBy(metric).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(metric).rowsBetween(Window.unboundedPreceding, 0)
    return hist.select(
        metric,
        (2 * F.sum("cnt").over(w) - F.col("cnt") + 1).cast("long").alias("midrank2"),
    )


_SQL_SPEARMAN_PERDOC = f"""perdoc AS (
      SELECT doc_id,
             len({sql_tokens()}) AS n_tokens,
             len(list_distinct({sql_tokens()})) AS n_distinct
      FROM documents
    )"""


def _sql_midrank2(metric: str) -> str:
    return f"""(
      SELECT {metric},
             2 * SUM(cnt) OVER (ORDER BY {metric}
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - cnt + 1 AS midrank2
      FROM (SELECT {metric}, COUNT(*) AS cnt FROM perdoc GROUP BY {metric})
    )"""


@query(
    "rank_corr_tokens_distinct",
    f"""
    WITH {_SQL_SPEARMAN_PERDOC},
    ra AS {_sql_midrank2('n_tokens')},
    rb AS {_sql_midrank2('n_distinct')},
    joined AS (
      SELECT CAST(ra.midrank2 AS HUGEINT) AS x, CAST(rb.midrank2 AS HUGEINT) AS y
      FROM perdoc p
      JOIN ra ON p.n_tokens = ra.n_tokens
      JOIN rb ON p.n_distinct = rb.n_distinct
    ),
    sums AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x*x) AS sxx, SUM(y*y) AS syy, SUM(x*y) AS sxy
      FROM joined
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(n*sxy - sx*sy AS DOUBLE)
             / SQRT(CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE))
             AS spearman_rho,
           CAST(FLOOR(1000000 * CAST(n*sxy - sx*sy AS DOUBLE)
             / SQRT(CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE)))
             AS BIGINT) AS rho_micro
    FROM sums
    """,
    tags=("statistics", "monitoring", "orderstats"),
    doc="Exact tie-aware Spearman rank correlation between per-doc "
    "token count and distinct-token count (the repetition monitor: "
    "rho collapsing toward 0 means length stops predicting lexical "
    "variety — looping/templated text entering the corpus). Mid-ranks "
    "come from the value histogram (group by VALUE, cumulative count, "
    "join back by value) — Spearman without any global sort of the "
    "doc-level table; the only ordered window runs over the bounded "
    "distinct-value histogram. Doubled mid-ranks keep everything "
    "integer; the Pearson-on-midranks moments are exact DECIMAL(38,0) "
    "(HUGEINT in DuckDB) and rho is IEEE double of exactly-equal "
    "integers, so both engines agree bitwise. Tie correction is "
    "inherent to Pearson-on-midranks (no separate T terms needed).",
)
def rank_corr_tokens_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    perdoc = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
    )
    ra = _midrank2_by_value(perdoc, "n_tokens").withColumnRenamed("midrank2", "x")
    rb = _midrank2_by_value(perdoc, "n_distinct").withColumnRenamed("midrank2", "y")
    joined = (
        perdoc.join(F.broadcast(ra), "n_tokens")
        .join(F.broadcast(rb), "n_distinct")
        .select(F.col("x").cast("decimal(38,0)"), F.col("y").cast("decimal(38,0)"))
    )
    sums = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("decimal(38,0)")
    cov = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("decimal(38,0)")
    vx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("decimal(38,0)")
    vy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("decimal(38,0)")
    rho = cov.cast("double") / F.sqrt(vx.cast("double") * vy.cast("double"))
    return sums.select(
        F.col("n").cast("long").alias("n"),
        rho.alias("spearman_rho"),
        F.floor(F.lit(1_000_000) * rho).cast("long").alias("rho_micro"),
    )


@query(
    "lang_diversity_simpson",
    """
    WITH c AS (
      SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY source, lang
    ),
    t AS (SELECT source, SUM(n) AS tot FROM c GROUP BY source)
    SELECT c.source,
           CAST(MAX(t.tot) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_langs,
           CAST(1000000 - SUM(n * n) * 1000000 // (MAX(t.tot) * MAX(t.tot))
                AS BIGINT) AS simpson_ppm
    FROM c JOIN t USING (source)
    GROUP BY c.source
    """,
    tags=("corpus", "monitoring", "statistics"),
    doc="Gini-Simpson language diversity per source: 1 - sum(p_lang^2) "
    "in ppm — the entropy-free diversity index (no logarithms, so it "
    "stays integer-exact cross-engine; the repo avoids log-based "
    "metrics by design). A monolingual source scores 0; a source whose "
    "language mix collapses (scraper regression, lang-ID drift) shows "
    "an immediate drop. Two keyed aggregations over the |source|x|lang| "
    "table — nothing corpus-sized past the first groupBy.",
)
def lang_diversity_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("source").agg(F.sum("n").alias("tot"))
    return (
        c.join(t, "source")
        .groupBy("source")
        .agg(
            F.max("tot").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_langs"),
            (
                F.lit(1_000_000)
                - F.floor(
                    (F.sum(F.col("n") * F.col("n")) * F.lit(1_000_000))
                    / (F.max("tot") * F.max("tot"))
                )
            ).cast("long").alias("simpson_ppm"),
        )
    )


# Token-length classes for the structural fingerprint: short (<=3),
# medium (4-6), long (>=7) — coarse enough that synonym swaps inside a
# template map to the same class sequence.
_LEN_CLASS_SQL = (
    f"list_transform({sql_tokens()}, t -> CASE WHEN length(t) <= 3 THEN 's' "
    "WHEN length(t) <= 6 THEN 'm' ELSE 'l' END)"
)


@query(
    "template_fingerprint_clusters",
    f"""
    WITH fp AS (
      SELECT doc_id, source,
             CAST(concat('0x', substr(md5(concat('tpl:',
               array_to_string({_LEN_CLASS_SQL}, ''))), 1, 15))
               AS BIGINT) AS fingerprint
      FROM documents
    )
    SELECT fingerprint,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(MIN(doc_id) AS BIGINT) AS example_doc_id
    FROM fp
    GROUP BY fingerprint
    HAVING COUNT(*) >= 2
    """,
    tags=("dedup", "curation", "template"),
    doc="Template detection: documents sharing the exact SEQUENCE of "
    "token-length classes (s/m/l) are near-certainly instances of one "
    "generation template even when every word differs — the failure "
    "mode minhash misses (low token overlap) and embedding near-dup "
    "half-misses (templates drift in meaning). Clusters = fingerprint "
    "groups with >= 2 docs, with source spread and a stable example "
    "id. One per-row map + one hash-keyed groupBy; the fingerprint is "
    "a 60-bit long, never the class string.",
)
def template_fingerprint_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    classes = F.transform(
        toks,
        lambda t: F.when(F.length(t) <= 3, "s")
        .when(F.length(t) <= 6, "m")
        .otherwise("l"),
    )
    from porcupine_spark.functions.hashing import md5_long60

    fp = md5_long60(F.concat(F.lit("tpl:"), F.concat_ws("", classes)))
    return (
        docs.select("doc_id", "source", fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.min("doc_id").cast("long").alias("example_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# Exact integer sqrt via float sqrt + correction: FLOOR(SQRT(x)) on a
# double is within 1 ulp for x < 2^52; the two CASE arms repair it.
def _sql_isqrt(x: str) -> str:
    s = f"CAST(FLOOR(SQRT(CAST({x} AS DOUBLE))) AS BIGINT)"
    return (
        f"(CASE WHEN ({s}+1)*({s}+1) <= {x} THEN {s}+1 "
        f"WHEN {s}*{s} > {x} THEN {s}-1 ELSE {s} END)"
    )


def _isqrt(x):  # Spark Column twin of _sql_isqrt
    s = F.floor(F.sqrt(x.cast("double"))).cast("long")
    return (
        F.when((s + 1) * (s + 1) <= x, s + 1)
        .when(s * s > x, s - 1)
        .otherwise(s)
    )


@query(
    "neyman_allocation",
    f"""
    WITH st AS (
      SELECT source, COUNT(*) AS nh,
             SUM(CAST(n_chars AS HUGEINT)) AS sx,
             SUM(CAST(n_chars AS HUGEINT) * n_chars) AS sxx
      FROM documents GROUP BY source
    ),
    v AS (
      SELECT source, nh,
             CAST((nh * sxx - sx * sx) // (nh * (nh - 1)) AS BIGINT) AS var_len
      FROM st WHERE nh >= 2
    ),
    s AS (
      SELECT source, nh, var_len,
             nh * {_sql_isqrt('var_len')} AS weight
      FROM v
    ),
    tot AS (SELECT SUM(weight) AS tw FROM s)
    SELECT source, CAST(nh AS BIGINT) AS n_docs,
           CAST(var_len AS BIGINT) AS var_len,
           CAST(weight AS BIGINT) AS weight,
           CAST(weight * 1000000 // tot.tw AS BIGINT) AS alloc_ppm
    FROM s, tot
    """,
    tags=("sampling", "statistics", "planning"),
    doc="Neyman allocation for a stratified eval sample: each source's "
    "share of the sampling budget proportional to N_h * S_h (stratum "
    "size x stratum std of doc length) — the variance-minimizing "
    "allocation from survey sampling, the right way to size per-source "
    "eval sets. S_h is an EXACT integer sqrt of the exact integer "
    "sample variance (float sqrt + two-arm correction, valid to 2^52), "
    "so the allocation is bit-stable cross-engine with no float "
    "accumulation anywhere. One groupBy over documents (map-side "
    "partials), then |sources|-row arithmetic; the total joins back as "
    "a 1-row broadcast.",
)
def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    x = F.col("n_chars").cast("decimal(38,0)")
    st = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
    )
    nh = F.col("nh").cast("decimal(38,0)")
    var_len = (
        F.expr("(nh * sxx - sx * sx) div (nh * (nh - 1))").cast("long")
    )
    v = st.filter(F.col("nh") >= 2).select(
        "source", "nh", var_len.alias("var_len")
    )
    s = v.select(
        "source",
        "nh",
        "var_len",
        (F.col("nh") * _isqrt(F.col("var_len"))).cast("long").alias("weight"),
    )
    tot = s.agg(F.sum("weight").alias("tw"))
    return s.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("nh").cast("long").alias("n_docs"),
        "var_len",
        "weight",
        F.floor((F.col("weight") * F.lit(1_000_000)) / F.col("tw"))
        .cast("long")
        .alias("alloc_ppm"),
    )


@query(
    "length_variance_decomposition",
    """
    WITH st AS (
      SELECT source, COUNT(*) AS nh,
             SUM(CAST(n_chars AS HUGEINT)) AS sx,
             SUM(CAST(n_chars AS HUGEINT) * n_chars) AS sxx
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(SUM(nh) AS HUGEINT) AS n, SUM(sx) AS sx, SUM(sxx) AS sxx
      FROM st
    ),
    parts AS (
      SELECT
        (SELECT n FROM tot) * (SELECT sxx FROM tot)
          - (SELECT sx FROM tot) * (SELECT sx FROM tot) AS ss_total,
        (SELECT SUM((CAST(st.sx AS HUGEINT) * (SELECT n FROM tot)
                     - CAST(st.nh AS HUGEINT) * (SELECT sx FROM tot))
                    * (CAST(st.sx AS HUGEINT) * (SELECT n FROM tot)
                       - CAST(st.nh AS HUGEINT) * (SELECT sx FROM tot))
                    // (CAST(st.nh AS HUGEINT) * (SELECT n FROM tot)))
         FROM st) AS ss_between
    )
    SELECT CAST((SELECT COUNT(*) FROM st) AS BIGINT) AS n_sources,
           CAST(ss_between * 1000000 // ss_total AS BIGINT) AS eta2_ppm,
           CAST((ss_total - ss_between) * 1000000 // ss_total AS BIGINT)
             AS within_ppm
    FROM parts
    """,
    tags=("statistics", "monitoring", "corpus"),
    doc="Variance decomposition of document length across sources "
    "(one-way ANOVA's eta-squared, in ppm): how much of corpus length "
    "variation the source label EXPLAINS. eta2 near 0 means one global "
    "length policy (truncation budget, packing bin size) fits "
    "everything; eta2 high means per-source policies are warranted "
    "and a pooled length histogram is misleading. Exact integers via "
    "the n-scaled sums-of-squares identities: ss_total = n*Sxx - Sx^2, "
    "ss_between = sum_h (n*sx_h - nh*Sx)^2 / (nh*n) — each group term "
    "one truncating division, mirrored on both engines. One groupBy "
    "over documents (map-side partials) + |sources|-row arithmetic.",
)
def length_variance_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    x = F.col("n_chars").cast("decimal(38,0)")
    st = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("nh"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
    )
    tot = st.agg(
        F.sum("nh").alias("n"), F.sum("sx").alias("tsx"), F.sum("sxx").alias("tsxx")
    )
    j = st.crossJoin(F.broadcast(tot))
    per = j.select(
        "n",
        "tsx",
        "tsxx",
        F.expr(
            "(sx * n - nh * tsx) * (sx * n - nh * tsx) div (nh * n)"
        ).alias("term"),
    )
    return per.groupBy("n", "tsx", "tsxx").agg(
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.sum("term").alias("ssb"),
    ).select(
        "n_sources",
        F.expr(
            "CAST(ssb * 1000000 div (n * tsxx - tsx * tsx) AS BIGINT)"
        ).alias("eta2_ppm"),
        F.expr(
            "CAST((n * tsxx - tsx * tsx - ssb) * 1000000"
            " div (n * tsxx - tsx * tsx) AS BIGINT)"
        ).alias("within_ppm"),
    )
