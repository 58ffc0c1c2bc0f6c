"""Corpus-level curation operators for training-data pipelines:
TF-IDF term extraction, corpus vocabulary, temperature-weighted source
mixing, fixed-size document chunking.

All pure column expressions (JVM-side, codegen'd). Float discipline
for cross-engine exactness: only IEEE exact-rounded ops appear after
aggregation (div, mul, sqrt are correctly rounded by both engines;
ln/pow are NOT and are avoided — the "linear idf" and "sqrt
temperature" variants below exist precisely so every score is
bit-identical to the DuckDB oracle).

These extend the reference surface (YPares/porcupine has no text
analytics; its closest op is the per-value `arr` lift,
porcupine-core/src/System/TaskPipeline/PTask.hs:14-15) — they are the
LLM-corpus operators this engine adds as first-class citizens.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from porcupine_spark.functions.driverstate import materialize
from porcupine_spark.functions.topk import ranked_topk
from porcupine_spark.operators.text import py_tokens, sql_tokens, tokens
from porcupine_spark.plans.registry import query
from porcupine_spark.tables import load_table



def _pandas_frame(spark: SparkSession, schema: str, **cols) -> DataFrame:
    """A driver-built frame of the columns ``cols`` through pandas and
    Arrow. A frame built from a Python list plans a ``PythonRDD``, so
    every job over it starts a Python worker."""
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(cols), schema)


def _word_counts(docs: DataFrame, *keys: str) -> DataFrame:
    """(*keys, word, freq): one explode of ``tokens(text)``, empty
    tokens dropped, the occurrences of each word counted per key."""
    return (
        docs.select(*keys, F.explode(tokens(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy(*keys, "word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


@query(
    "tfidf_top_terms",
    f"""
    WITH t AS (
      SELECT doc_id, {sql_tokens()} AS toks FROM documents
    ),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS cnt
      FROM t, LATERAL (SELECT UNNEST(toks) AS tok) u
      GROUP BY doc_id, tok
    ),
    doclen AS (SELECT doc_id, SUM(cnt) AS n_toks FROM tf GROUP BY doc_id),
    df AS (SELECT tok, COUNT(*) AS n_docs_with FROM tf GROUP BY tok),
    n AS (SELECT COUNT(*) AS n_docs FROM t),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             (CAST(tf.cnt AS DOUBLE) / doclen.n_toks)
               * (CAST(n.n_docs AS DOUBLE) / df.n_docs_with) AS tfidf
      FROM tf
      JOIN doclen USING (doc_id)
      JOIN df USING (tok)
      CROSS JOIN n
    )
    SELECT doc_id, tok, tfidf, rank FROM (
      SELECT doc_id, tok, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, tok) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
    tags=("text", "tfidf"),
    doc="Top-3 characteristic terms per document by TF-IDF (linear-idf "
    "variant N/df: division is IEEE exact-rounded on both engines, ln "
    "is not — the variant choice buys bit-stable scores and therefore "
    "identical ranks). Term counts shuffle once on (doc_id,tok); df is "
    "a token-keyed agg joined back broadcast-style; ties broken "
    "lexically so top-3 is deterministic.",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from porcupine_spark.functions import seq1

    docs = load_table(spark, sf_dir, "documents")
    # per-row term frequencies from run lengths of the SORTED token
    # array (the token_diversity trick, kept as (tok, cnt) pairs):
    # starts = positions where a new run begins; cnt = gap to the next
    # start. The exploded rows arrive PRE-AGGREGATED — (doc_id, tok)
    # never shuffles, doclen is just size(toks), and the old
    # explode->groupBy->checkpoint round disappears. Only df (a
    # token-keyed count) and the per-doc top-3 window shuffle at all,
    # and both move one row per DISTINCT doc-token, not per token.
    # IMPORTANT: srt and starts must be bound as real columns before a
    # lambda uses them — a HOF lambda body re-evaluates any COMPUTED
    # outer expression per element (only lambda vars and attributes are
    # bound once), so inlining array_sort into the filter/transform
    # below is O(n^2 log n) per row (measured 400s for this query at
    # sf0.01). As attributes they are O(1) lookups; CollapseProject
    # keeps the staging projections because each alias is non-cheap
    # and referenced more than once.
    s1 = docs.select("doc_id", F.array_sort(tokens(F.col("text"))).alias("srt"))
    srt = F.col("srt")
    starts_expr = F.filter(
        seq1(F.size(srt)),
        lambda i: F.when(i == 1, F.lit(True)).otherwise(
            F.element_at(srt, i) != F.element_at(srt, i - 1)
        ),
    )
    s2 = s1.select("doc_id", "srt", F.size(srt).alias("n"), starts_expr.alias("starts"))
    # F.get is 0-based, null past the end: get(starts, j) is the NEXT
    # run's 1-based start (or null for the last run -> n+1)
    n, starts = F.col("n"), F.col("starts")
    pairs = F.transform(
        seq1(F.size(starts)),
        lambda j: F.struct(
            F.element_at(srt, F.element_at(starts, j)).alias("tok"),
            (F.coalesce(F.get(starts, j), n + 1) - F.element_at(starts, j))
            .cast("long")
            .alias("cnt"),
        ),
    )
    rows = s2.select(
        "doc_id", n.cast("long").alias("n_toks"), F.explode(pairs).alias("p")
    ).select("doc_id", "n_toks", F.col("p.tok").alias("tok"), F.col("p.cnt").alias("cnt"))
    # The rows subtree is referenced twice (df agg + scored join) and
    # deliberately NOT persisted: measured at sf0.1, recompute = 1.6-1.9s
    # vs localCheckpoint = 1.6-2.3s — the barrier costs as much as the
    # second tokenize+sort pass, and at cluster scale a checkpoint of
    # the full (doc_id, tok) set is real storage pressure while
    # recompute is embarrassingly parallel map work.
    df_ = rows.groupBy("tok").agg(F.count(F.lit(1)).alias("n_docs_with"))
    n_docs = docs.count()
    scored = rows.join(df_, "tok").select(
        "doc_id",
        "tok",
        (
            (F.col("cnt").cast("double") / F.col("n_toks"))
            * (F.lit(float(n_docs)) / F.col("n_docs_with"))
        ).alias("tfidf"),
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "tok", "tfidf", "rank")
    )


@query(
    "vocab_top_tokens",
    f"""
    WITH t AS (
      SELECT doc_id, {sql_tokens()} AS toks FROM documents
    ),
    counts AS (
      SELECT tok, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
      FROM t, LATERAL (SELECT UNNEST(toks) AS tok) u
      GROUP BY tok
    )
    SELECT tok, n_occurrences, n_docs FROM counts
    ORDER BY n_occurrences DESC, tok LIMIT 100
    """,
    tags=("text", "vocab"),
    doc="Corpus vocabulary: top-100 tokens by occurrence count with "
    "document frequency. The BPE-corpus-prep first pass: one explode + "
    "one token-keyed agg (map-side partials absorb the Zipf head "
    "before the shuffle), deterministic lexical tiebreak.",
)
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("tok"))
        .limit(100)
    )


MIX_K = 2.5  # keep-rate scale: p(source) = min(1, K / sqrt(n_source))


@query(
    "source_mixture_sample",
    f"""
    WITH counts AS (
      SELECT source, COUNT(*) AS n FROM documents GROUP BY source
    )
    SELECT d.doc_id, d.source,
           LEAST(1.0, {MIX_K} / SQRT(CAST(c.n AS DOUBLE))) AS p_keep
    FROM documents d JOIN counts c USING (source)
    WHERE CAST(CAST(concat('0x', substr(md5(concat('mix:', CAST(d.doc_id AS VARCHAR))), 1, 8))
                    AS BIGINT) AS DOUBLE) / 4294967296.0
          < LEAST(1.0, {MIX_K} / SQRT(CAST(c.n AS DOUBLE)))
    """,
    tags=("sampling", "mixing"),
    doc="Temperature-weighted source mixing (T=2: target mass per source "
    "∝ sqrt(n), i.e. keep-rate K/sqrt(n)) — the standard pipeline "
    "rebalancer that up-weights small sources. Keep decision = salted "
    "md5 prefix as a uniform in [0,1) vs the per-source rate: "
    "deterministic across engines, runs and cluster sizes. sqrt and "
    "the /2^32 are IEEE exact-rounded, so both engines keep exactly "
    "the same rows.",
)
def source_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    p_keep = F.least(F.lit(1.0), F.lit(MIX_K) / F.sqrt(F.col("n").cast("double")))
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("double")
        / F.lit(4294967296.0)
    )
    return (
        docs.join(F.broadcast(counts), "source")
        .filter(u < p_keep)
        .select("doc_id", "source", p_keep.alias("p_keep"))
    )


CHUNK_TOKENS = 50


@query(
    "doc_chunking",
    f"""
    WITH t AS (
      SELECT doc_id, {sql_tokens()} AS toks FROM documents
    )
    SELECT doc_id,
           CAST(i - 1 AS BIGINT) AS chunk_id,
           array_to_string(toks[(i-1)*{CHUNK_TOKENS}+1 : i*{CHUNK_TOKENS}], ' ') AS chunk_text,
           CAST(LEAST({CHUNK_TOKENS}, len(toks) - (i-1)*{CHUNK_TOKENS}) AS BIGINT) AS n_tokens
    FROM t, LATERAL (
      SELECT UNNEST(GENERATE_SERIES(1,
        CAST(CEIL(CAST(len(toks) AS DOUBLE) / {CHUNK_TOKENS}) AS BIGINT))) AS i
    ) s
    """,
    tags=("text", "chunking"),
    doc=f"Context-window chunking: each document split into consecutive "
    f"{CHUNK_TOKENS}-token chunks (last chunk ragged) with stable chunk "
    "ids — the tokenize-and-pack preprocessing shape. Pure array slice "
    "+ explode; chunk count per row is data-derived, no driver loop.",
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from porcupine_spark.functions import seq1

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_chunks = F.ceil(F.size(toks).cast("double") / CHUNK_TOKENS).cast("int")
    chunks = F.transform(
        seq1(n_chunks),
        lambda i: F.concat_ws(" ", F.slice(toks, (i - 1) * CHUNK_TOKENS + 1, CHUNK_TOKENS)),
    )
    return docs.select(
        "doc_id",
        F.size(toks).alias("_nt"),
        F.posexplode(chunks).alias("chunk_id", "chunk_text"),
    ).select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        "chunk_text",
        F.least(
            F.lit(CHUNK_TOKENS), F.col("_nt") - F.col("chunk_id") * CHUNK_TOKENS
        ).cast("long").alias("n_tokens"),
    )


# The canonical hash-split rule (md5(doc_id) mod 100, 90/5/5) — shared
# by dataset_split_assign and dedup.cross_split_leakage so the audit can
# never disagree with the assignment it audits.
SQL_SPLIT_CTE = """sp AS (
      SELECT doc_id,
             CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                    AS INTEGER) % 100 AS h
        FROM documents)
    )"""


def split_col(doc_id: Column | None = None) -> Column:
    """train/val/test split of a documents row (Spark twin of
    SQL_SPLIT_CTE); ``doc_id`` defaults to the column of that name."""
    src = F.col("doc_id") if doc_id is None else doc_id
    h = F.conv(F.substring(F.md5(src.cast("string")), 1, 4), 16, 10).cast("int") % 100
    return F.when(h < 90, "train").when(h < 95, "val").otherwise("test")


@query(
    "dataset_split_assign",
    """
    WITH assigned AS (
      SELECT doc_id, n_chars,
             CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT doc_id, n_chars,
               CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                    AS INTEGER) % 100 AS h
        FROM documents)
    )
    SELECT split, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM assigned GROUP BY split
    """,
    tags=("corpus", "sampling"),
    doc="Deterministic train/val/test assignment: split = md5(doc_id) "
    "mod 100 bucketed 90/5/5. Hash-based assignment is reproducible "
    "across runs/engines and requires NO coordination at 100 TB (no "
    "global sort or sequence — each row decides its split locally; the "
    "only shuffle is the 3-group summary). avg = exact int sum / count, "
    "one IEEE division.",
)
def dataset_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    split = split_col().alias("split")
    return (
        docs.select(split, "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        )
    )


@query(
    "source_unigram_l1",
    f"""
    WITH t AS (
      SELECT source, UNNEST({sql_tokens()}) AS tok FROM documents
    ),
    cnt AS (SELECT source, tok, COUNT(*) AS c FROM t GROUP BY source, tok),
    tot AS (SELECT source, SUM(c) AS n FROM cnt GROUP BY source),
    freq AS (
      SELECT cnt.source, tok, c, n
      FROM cnt JOIN tot ON tot.source = cnt.source
    ),
    overlap AS (
      SELECT a.source AS source_a, b.source AS source_b,
             SUM(LEAST(CAST(a.c AS HUGEINT) * b.n, CAST(b.c AS HUGEINT) * a.n)) AS s,
             MAX(a.n) AS na, MAX(b.n) AS nb
      FROM freq a JOIN freq b ON b.tok = a.tok AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT source_a, source_b,
           2 - 2 * (CAST(s AS DOUBLE) / CAST(CAST(na AS HUGEINT) * nb AS DOUBLE)) AS l1_distance
    FROM overlap
    """,
    tags=("corpus", "monitoring"),
    doc="Pairwise L1 distance between the unigram distributions of every "
    "source pair — the mixture-drift monitor of a curation pipeline. "
    "Uses the identity L1 = 2 - 2*SUM(min(p,q)) (distributions sum to "
    "1), so only tokens present in BOTH sources are ever joined: the "
    "candidate space is bounded by vocab x source-pairs, never "
    "documents. Divisions are IEEE exact-rounded identically on both "
    "engines and the min-mass sums in exact decimal, so distances are "
    "bit-identical to the oracle.",
)
def source_unigram_l1(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
    cnt = t.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("source").agg(F.sum("c").alias("n"))
    # EXACT integer arithmetic end to end: min(ca/na, cb/nb) picked by
    # cross-multiplied comparison and summed SCALED by the common
    # denominator (sum(min(ca*nb, cb*na)); one IEEE division at the
    # very end. The cross-multiplied terms are widened to decimal(38,0)
    # BEFORE the multiply — with per-source token totals n ~ 1e10+ the
    # product ca*nb exceeds int64, where non-ANSI Spark would wrap
    # silently while DuckDB errors; decimal keeps it exact to 38 digits
    # (mirrored with HUGEINT in the oracle). No double->decimal casts
    # anywhere — engines round those differently for arbitrary doubles
    # (measured: Spark half-up vs DuckDB truncation at digit 18), while
    # exact integer math and a single correctly-rounded division are
    # bit-identical everywhere.
    freq = cnt.join(F.broadcast(tot), "source").select("source", "tok", "c", "n")
    a = freq.select(
        F.col("source").alias("source_a"), "tok",
        F.col("c").alias("ca"), F.col("n").alias("na"),
    )
    b = freq.select(
        F.col("source").alias("source_b"), "tok",
        F.col("c").alias("cb"), F.col("n").alias("nb"),
    )
    overlap = (
        a.join(b, ["tok"])
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.sum(
                F.least(
                    F.col("ca").cast("decimal(38,0)") * F.col("nb"),
                    F.col("cb").cast("decimal(38,0)") * F.col("na"),
                )
            ).alias("s"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
        )
    )
    return overlap.select(
        "source_a",
        "source_b",
        (
            F.lit(2.0)
            - F.lit(2.0)
            * (
                F.col("s").cast("double")
                / (F.col("na").cast("decimal(38,0)") * F.col("nb")).cast("double")
            )
        ).alias("l1_distance"),
    )


LM_TOPK = 5  # bigrams kept per source


@query(
    "bigram_lm_topk",
    f"""
    WITH t AS (
      SELECT source,
             {sql_tokens()} AS ws
      FROM documents
    ),
    b AS (
      SELECT source, ws[i] AS w1, ws[i] || ' ' || ws[i + 1] AS gram
      FROM t, UNNEST(range(1, len(ws))) AS r(i)
      WHERE len(ws) >= 2
    ),
    c AS (
      SELECT source, w1, gram, COUNT(*) AS n FROM b GROUP BY 1, 2, 3
    ),
    cc AS (
      SELECT source, w1, gram, n,
             CAST(SUM(n) OVER (PARTITION BY source, w1) AS BIGINT) AS ctx_n
      FROM c
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY n DESC, gram ASC) AS rk
      FROM cc
    )
    SELECT source, gram, n, ctx_n,
           CAST(n AS DOUBLE) / ctx_n AS cond_p, rk
    FROM r WHERE rk <= {LM_TOPK}
    """,
    tags=("corpus", "curation"),
    doc="Distributed n-gram LM estimation (the classic MapReduce 'large "
    "LM' workload, Brants et al. 2007 shape): per-source bigram counts, "
    "conditional P(w2|w1) against the context total, top-5 bigrams per "
    "source with deterministic tie-breaking. Counts pre-aggregate "
    "map-side before the one (source, gram) shuffle; the context "
    "normalizer is a window over the already-aggregated count table "
    "(rows = vocab size, not corpus size).",
)
def bigram_lm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    from porcupine_spark.functions import word_ngrams

    ws = tokens(F.col("text"))
    grams = docs.select(
        "source", F.explode(word_ngrams(ws, 2)).alias("gram")
    ).withColumn("w1", F.substring_index("gram", " ", 1))
    c = grams.groupBy("source", "w1", "gram").agg(F.count(F.lit(1)).alias("n"))
    cc = c.withColumn(
        "ctx_n", F.sum("n").over(W.partitionBy("source", "w1"))
    )
    r = cc.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("source").orderBy(F.desc("n"), F.asc("gram"))
        ),
    )
    return r.filter(F.col("rk") <= LM_TOPK).select(
        "source",
        "gram",
        "n",
        "ctx_n",
        (F.col("n").cast("double") / F.col("ctx_n")).alias("cond_p"),
        F.col("rk").cast("long").alias("rk"),
    )


COVERAGE_KS = (10, 50, 100, 500)


@query(
    "vocab_coverage_curve",
    f"""
    WITH counts AS (
      SELECT tok, COUNT(*) AS n
      FROM (
        SELECT UNNEST({sql_tokens()}) AS tok
        FROM documents
      ) GROUP BY tok
    ),
    ranked AS (
      SELECT tok, n,
             ROW_NUMBER() OVER (ORDER BY n DESC, tok ASC) AS rk,
             CAST(SUM(n) OVER (ORDER BY n DESC, tok ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n,
             CAST(SUM(n) OVER () AS BIGINT) AS total_n
      FROM counts
    )
    SELECT CAST(k.k AS BIGINT) AS vocab_size,
           CAST(MAX(r.cum_n) AS BIGINT) AS covered_tokens,
           CAST(MAX(r.total_n) AS BIGINT) AS total_tokens,
           CAST(MAX(r.cum_n) AS DOUBLE) / MAX(r.total_n) AS coverage
    FROM (VALUES {", ".join(f"({k})" for k in COVERAGE_KS)}) AS k(k)
    JOIN ranked r ON r.rk <= k.k
    GROUP BY k.k
    """,
    tags=("corpus", "curation"),
    doc="Tokenizer-budget planning: corpus token coverage of the top-K "
    "vocabulary for K in (10, 50, 100, 500) — the curve that decides "
    "vocab size / OOV budget before training a tokenizer. The raw "
    "token vocab is NOT bounded (Heaps' law: billions of distinct "
    "tokens at web scale — typos, URLs, numbers), so the plan never "
    "ranks it globally: one token-count shuffle (map-side combined), "
    "a TakeOrderedAndProject top-max(K) (per-partition heaps, only "
    "500 rows merge), a separate 1-row grand-total aggregate, then "
    "ranks + the per-K rollup over the <= 500 survivors.",
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(materialize)  # scanned twice: top-k + grand total
    )
    top = ranked_topk(counts, "n", ["tok"], max(COVERAGE_KS))
    total = counts.agg(F.sum("n").cast("long").alias("total_n"))
    ks = _pandas_frame(spark, "k long", k=COVERAGE_KS)
    return (
        top.join(F.broadcast(ks), F.col("rk") <= F.col("k"))
        .groupBy(F.col("k").alias("vocab_size"))
        .agg(F.sum("n").cast("long").alias("covered_tokens"))
        .crossJoin(F.broadcast(total))
        .select(
            "vocab_size",
            "covered_tokens",
            F.col("total_n").alias("total_tokens"),
            (F.col("covered_tokens").cast("double") / F.col("total_n")).alias(
                "coverage"
            ),
        )
    )


@query(
    "ks_drift_doc_length",
    """
    WITH pts AS (SELECT DISTINCT n_chars AS x FROM documents),
    srcs AS (SELECT DISTINCT source FROM documents),
    grid AS (SELECT s.source, p.x FROM srcs s CROSS JOIN pts p),
    cnt AS (SELECT source, n_chars AS x, COUNT(*) AS c
            FROM documents GROUP BY source, n_chars),
    cdf AS (
      SELECT g.source, g.x,
             SUM(COALESCE(c.c, 0)) OVER (PARTITION BY g.source ORDER BY g.x)
               AS cum
      FROM grid g LEFT JOIN cnt c ON c.source = g.source AND c.x = g.x
    ),
    tot AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             MAX(ABS(CAST(a.cum AS HUGEINT) * tb.n
                     - CAST(b.cum AS HUGEINT) * ta.n)) AS d,
             MAX(ta.n) AS n_a, MAX(tb.n) AS n_b
      FROM cdf a JOIN cdf b ON b.x = a.x AND a.source < b.source
      JOIN tot ta ON ta.source = a.source
      JOIN tot tb ON tb.source = b.source
      GROUP BY a.source, b.source
    )
    SELECT source_a, source_b, n_a, n_b,
           CAST(d AS DOUBLE)
             / CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE) AS ks_stat
    FROM pairs
    """,
    tags=("corpus", "monitoring"),
    doc="Pairwise two-sample Kolmogorov-Smirnov statistic between the "
    "doc-length distributions of every source pair - the distribution-"
    "drift monitor of a curation pipeline (catches a source whose "
    "scraper started truncating). Exact formulation: both empirical "
    "CDFs are densified onto the global grid of observed lengths "
    "(|distinct lengths| x |sources| rows - the broadcast of the tiny "
    "source dimension is the only nested-loop join, bounded by the "
    "source count, not the corpus), and sup|F_a - F_b| is taken over "
    "cross-multiplied INTEGER numerators (|cum_a*n_b - cum_b*n_a| in "
    "decimal(38,0)); one IEEE division at the end, bit-identical to "
    "the oracle.",
)
def ks_drift_doc_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pts = docs.select(F.col("n_chars").alias("x")).distinct()
    srcs = docs.select("source").distinct()
    cnt = docs.groupBy(
        "source", F.col("n_chars").alias("x")
    ).agg(F.count(F.lit(1)).alias("c"))
    grid = pts.crossJoin(F.broadcast(srcs))
    wcum = W.partitionBy("source").orderBy("x")
    cdf = (
        grid.join(cnt, ["source", "x"], "left")
        .select("source", "x", F.coalesce("c", F.lit(0)).alias("c"))
        .withColumn("cum", F.sum("c").over(wcum))
    )
    tot = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = cdf.join(F.broadcast(tot), "source").select(
        F.col("source").alias("source_a"), "x",
        F.col("cum").alias("ca"), F.col("n").alias("na"),
    )
    b = cdf.join(F.broadcast(tot), "source").select(
        F.col("source").alias("source_b"), "x",
        F.col("cum").alias("cb"), F.col("n").alias("nb"),
    )
    pairs = (
        a.join(b, ["x"])
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.max(
                F.abs(
                    F.col("ca").cast("decimal(38,0)") * F.col("nb")
                    - F.col("cb").cast("decimal(38,0)") * F.col("na")
                )
            ).alias("d"),
            F.max("na").alias("n_a"),
            F.max("nb").alias("n_b"),
        )
    )
    return pairs.select(
        "source_a", "source_b", "n_a", "n_b",
        (
            F.col("d").cast("double")
            / (F.col("n_a").cast("decimal(38,0)") * F.col("n_b")).cast("double")
        ).alias("ks_stat"),
    )


TOPP_NUM, TOPP_DEN = 4, 5  # keep up to 4/5 of each source's char mass


@query(
    "source_topp_budget",
    f"""
    WITH ranked AS (
      SELECT source, n_chars,
             SUM(n_chars) OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             SUM(n_chars) OVER (PARTITION BY source) AS total
      FROM documents
    )
    SELECT source,
           COUNT(*) FILTER (WHERE cum * {TOPP_DEN} <= total * {TOPP_NUM})
             AS n_docs_kept,
           CAST(COALESCE(SUM(n_chars) FILTER (WHERE cum * {TOPP_DEN} <= total * {TOPP_NUM}), 0)
             AS BIGINT) AS chars_kept,
           CAST(MAX(total) AS BIGINT) AS total_chars
    FROM ranked
    GROUP BY source
    """,
    tags=("corpus", "sampling"),
    doc="Top-p (nucleus) data-budget allocation: per source, keep the "
    "highest-value documents (length-ranked, doc_id tiebreak) until "
    "the running char mass reaches 4/5 of the source's total. The "
    "budget test is the cross-multiplied integer comparison cum*5 <= "
    "total*4 - no float thresholds anywhere. Both window passes and "
    "the rollup share the source partitioning: ONE shuffle of "
    "(source, n_chars, doc_id) triples, nothing proportional to text "
    "bytes.",
)
def source_topp_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars", "doc_id")
    w = W.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    ranked = docs.select(
        "source",
        "n_chars",
        F.sum("n_chars").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("cum"),
        F.sum("n_chars").over(W.partitionBy("source")).alias("total"),
    )
    kept = F.col("cum") * TOPP_DEN <= F.col("total") * TOPP_NUM
    return ranked.groupBy("source").agg(
        F.count(F.when(kept, 1)).alias("n_docs_kept"),
        F.coalesce(F.sum(F.when(kept, F.col("n_chars"))), F.lit(0)).alias("chars_kept"),
        F.max("total").alias("total_chars"),
    )


BM25_TERMS = ("join", "hash", "scan")
BM25_K = 20
BM25_SCALE = 1_000_000


@query(
    "bm25_topk",
    f"""
    WITH toks AS (
      SELECT doc_id, {sql_tokens()} AS toks FROM documents
    ),
    dl AS (SELECT doc_id, len(toks) AS dl FROM toks),
    stats AS (
      SELECT COUNT(*) AS n, CAST(SUM(len(toks)) AS BIGINT) AS l FROM toks
    ),
    tf AS (
      SELECT doc_id, tok AS term, COUNT(*) AS tf
      FROM (SELECT doc_id, UNNEST(toks) AS tok FROM toks)
      WHERE tok IN {BM25_TERMS!r}
      GROUP BY doc_id, tok
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT t.doc_id,
             SUM(
               (44 * CAST(t.tf AS HUGEINT) * s.l
                     * (2 * s.n - 2 * f.df + 1) * {BM25_SCALE})
               // ((2 * f.df + 1)
                   * (20 * CAST(t.tf AS HUGEINT) * s.l + 6 * s.l
                      + 18 * CAST(d.dl AS HUGEINT) * s.n))
             ) AS score_scaled
      FROM tf t
      JOIN dl d ON d.doc_id = t.doc_id
      JOIN dfreq f ON f.term = t.term
      CROSS JOIN stats s
      GROUP BY t.doc_id
    )
    SELECT doc_id, CAST(score_scaled AS BIGINT) AS score_scaled,
           CAST(score_scaled AS DOUBLE) / {BM25_SCALE} AS bm25
    FROM scored ORDER BY score_scaled DESC, doc_id LIMIT {BM25_K}
    """,
    tags=("corpus", "retrieval"),
    doc="BM25 top-k retrieval (k1=6/5, b=3/4, rational idf "
    "(2N-2df+1)/(2df+1)) - the contamination/decontamination-by-"
    "retrieval primitive. Exact discipline: each term score is a "
    "single rational p/q evaluated as integer-scaled truncating "
    "division (decimal(38,0) `div`, mirrored by HUGEINT `//`), so "
    "per-doc sums are exact longs and the ranking is bit-stable. "
    "Plan: tf rows exist only for (doc, query-term) matches (filter "
    "INSIDE the token array before exploding - nothing corpus-sized "
    "ever shuffles), df and corpus stats are broadcast one-row/"
    "|Q|-row builds, and top-k is TakeOrderedAndProject, not a "
    "global sort.",
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _bm25_scored(_bm25_base(docs))


def _bm25_base(docs: DataFrame) -> DataFrame:
    """Tokenize ONCE: project each doc down to (dl, matched-terms array)
    — tiny rows — and materialize, so every consumer (the tf branch,
    the 1-row corpus-stats branch, and rrf_fusion_topk's second
    ranking system) reads this instead of re-scanning and
    re-tokenizing the full corpus (at 100 TB the tokenize scan is
    the dominant cost; paying it twice would double the query)."""
    qterms = F.array(*[F.lit(t) for t in BM25_TERMS])
    return docs.select(
        "doc_id",
        tokens(F.col("text")).alias("toks"),
    ).select(
        "doc_id",
        F.size("toks").alias("dl"),
        F.filter("toks", lambda t: F.array_contains(qterms, t)).alias("matched"),
    ).transform(materialize)


def _bm25_scored(base: DataFrame) -> DataFrame:
    tokd = base.select("doc_id", "dl", F.explode("matched").alias("term"))
    tf = tokd.groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = base.agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("l"))
    j = tf.join(F.broadcast(dfreq), "term").crossJoin(F.broadcast(stats))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    p = (
        dec(F.lit(44))
        * F.col("tf")
        * F.col("l")
        * (2 * F.col("n") - 2 * F.col("df") + 1)
        * F.lit(BM25_SCALE)
    )
    q = (2 * F.col("df") + 1) * (
        dec(F.lit(20)) * F.col("tf") * F.col("l")
        + 6 * F.col("l")
        + dec(F.lit(18)) * F.col("dl") * F.col("n")
    )
    scored = (
        j.withColumn("p", p)
        .withColumn("q", q)
        .withColumn("term_scaled", F.expr("p div q"))
        .groupBy("doc_id")
        .agg(F.sum("term_scaled").alias("score_scaled"))
    )
    return (
        scored.orderBy(F.col("score_scaled").desc(), "doc_id")
        .limit(BM25_K)
        .select(
            "doc_id",
            "score_scaled",
            (F.col("score_scaled").cast("double") / BM25_SCALE).alias("bm25"),
        )
    )


@query(
    "source_novelty_rate",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             {sql_tokens()} AS toks
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, source,
             concat_ws(' ', toks[i], toks[i+1], toks[i+2]) AS g
      FROM t, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, GREATEST(len(toks) - 2, 0))) AS i) s
    ),
    first_seen AS (
      SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g
    ),
    per_source AS (
      SELECT gr.source,
             COUNT(DISTINCT gr.g) AS distinct_grams,
             COUNT(DISTINCT CASE WHEN fs.first_doc = gr.doc_id THEN gr.g END)
               AS novel_grams
      FROM grams gr JOIN first_seen fs ON fs.g = gr.g
      GROUP BY gr.source
    )
    SELECT source, distinct_grams, novel_grams,
           CAST(CAST(novel_grams AS HUGEINT) * 1000000 // distinct_grams AS BIGINT)
             AS novelty_micro
    FROM per_source
    """,
    tags=("corpus", "curation", "monitoring"),
    doc="Per-source n-gram novelty: the fraction of a source's distinct "
    "3-grams that FIRST appear (by ingest order = doc_id) in that "
    "source - the marginal-content metric behind 'is this new crawl "
    "adding anything'. First-seen attribution is one min-aggregation "
    "over the hashed gram table (longs, not strings, on the Spark "
    "side); novelty emits in integer micro-units. At 100 TB this is "
    "the same inverted-gram machinery as contamination/dedup, reused "
    "with a different aggregate - no new shuffle shapes.",
)
def source_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from porcupine_spark.operators.dedup import hashed_shingle_table

    docs = load_table(spark, sf_dir, "documents")
    # doc->source attaches by doc_id equi-join; NOT broadcast - the
    # doc dimension is corpus-sized, and AQE picks broadcast itself
    # whenever a filtered subset actually fits
    grams = hashed_shingle_table(docs, n=3).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    first_seen = grams.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    # plain counts over one (source, h) row each: two countDistincts
    # rewrite into an Expand whose group order varies by session
    nov = F.max((F.col("first_doc") == F.col("doc_id")).cast("long")).alias("nov")
    per_gram = grams.join(first_seen, "h").groupBy("source", "h").agg(nov)
    per_source = per_gram.groupBy("source").agg(
        F.count(F.lit(1)).alias("distinct_grams"), F.sum("nov").alias("novel_grams")
    )
    return per_source.select(
        "source",
        "distinct_grams",
        "novel_grams",
        F.expr(
            "(CAST(novel_grams AS DECIMAL(38,0)) * 1000000) div distinct_grams"
        ).alias("novelty_micro"),
    )


BPE_TOP_PAIRS = 20  # report the top-k merge candidates


@query(
    "bpe_merge_candidates",
    f"""
    WITH words AS (
      SELECT tok AS word, COUNT(*) AS freq
      FROM (SELECT {sql_tokens()} AS toks FROM documents),
           LATERAL (SELECT UNNEST(toks) AS tok) u
      WHERE tok <> ''
      GROUP BY tok
    ),
    pairs AS (
      SELECT word[i] AS left_sym, word[i+1] AS right_sym,
             CAST(SUM(freq) AS BIGINT) AS n_occurrences
      FROM words,
           LATERAL (SELECT UNNEST(GENERATE_SERIES(1, len(word) - 1)) AS i) g
      GROUP BY 1, 2
    )
    SELECT left_sym, right_sym, n_occurrences,
           CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, left_sym, right_sym)
                AS BIGINT) AS rank
    FROM pairs
    ORDER BY n_occurrences DESC, left_sym, right_sym
    LIMIT {BPE_TOP_PAIRS}
    """,
    tags=("text", "vocab", "tokenizer"),
    doc=f"The BPE training inner loop, one round: count every adjacent "
    f"character pair across the corpus weighted by word frequency and "
    f"rank the top {BPE_TOP_PAIRS} merge candidates (the pair a BPE "
    f"trainer would merge next). Pair generation runs on the "
    f"WORD-FREQUENCY table, not raw text - the Zipf head collapses "
    f"millions of token occurrences into one weighted row per distinct "
    f"word before any per-character work, which is what makes "
    f"tokenizer training feasible at corpus scale (the same trick "
    f"real BPE trainers use). Deterministic lexical tiebreak; pure "
    f"counting, exact on both engines.",
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from porcupine_spark.functions import seq1

    words = _word_counts(load_table(spark, sf_dir, "documents"))
    chars = F.filter(F.split(F.col("word"), ""), lambda c: c != F.lit(""))
    pairs = words.select(
        "freq",
        F.explode(
            F.transform(
                seq1(F.size(chars) - 1),
                lambda i: F.struct(
                    F.element_at(chars, i).alias("left_sym"),
                    F.element_at(chars, i + 1).alias("right_sym"),
                ),
            )
        ).alias("p"),
    ).select("freq", "p.left_sym", "p.right_sym")
    counts = pairs.groupBy("left_sym", "right_sym").agg(
        F.sum("freq").alias("n_occurrences")
    )
    # the observed-pair table is charset^2-bounded, which is NOT small for
    # multilingual text — top-k via TakeOrderedAndProject, rank over <= k
    return ranked_topk(
        counts, "n_occurrences", ["left_sym", "right_sym"], BPE_TOP_PAIRS,
        rank_col="rank",
    ).select(
        "left_sym", "right_sym", "n_occurrences", F.col("rank").cast("long").alias("rank")
    )


BPE_TRAIN_ROUNDS = 8  # fixed merge budget (real trainers run to |vocab|)
# Distinct words up to which the merge chain runs on the driver. Its
# kernel is pure Python, serial and linear in total symbols x rounds
# (about 30 us per word for the 8 rounds), so it has its own gate
# instead of the graph loops' DRIVER_STATE_MAX_ROWS. Measured on 4 CPUs
# (random 2-12 letter words, build call, driver vs distributed):
# 10k words 1.3 vs 7.6 s, 50k 2.5 vs 18.6 s, 150k 4.3 vs 25.4 s, 400k
# 13.7 vs 54.9 s, 1M 32-37 vs 91-121 s. The driver won at every size
# measured; the gate sits at the largest one, where its serial cost is
# still half a minute and a cluster's distributed rounds start to pay.
# The gate counts the collected rows: distinct words for the training
# chain, (source, word) rows for the encode. Either count bounds the
# distinct words, so the bound above holds for both; the encode's
# per-source roll-up adds one dict update per collected row.
BPE_DRIVER_MAX_WORDS = 1_000_000

# Symbol sequences travel as SPACE-WRAPPED strings — every symbol is
# surrounded by its own pair of spaces (" a  b  c " for [a,b,c]), so a
# single builtin string replace of " l  r " -> " lr " IS one full
# greedy left-to-right non-overlapping BPE merge pass: each match
# consumes both wrapped symbols including their private delimiters, so
# adjacent matches never fight over a shared boundary (with single
# separators, [a,a,a,a] would merge to [aa,a,a] instead of [aa,aa]).
# Tokens come from whitespace splitting, so they cannot contain the
# delimiter. Identical semantics in Spark's replace() and DuckDB's.


def _bpe_chain_ctes(rounds: int = BPE_TRAIN_ROUNDS) -> list[str]:
    """The shared unrolled-CTE merge chain (w0..w{rounds}, b1..b{rounds})
    — `word` is carried through every round so downstream CTEs can join
    encoded lengths back to documents (bpe_encode_tokens needs it; the
    replace chain itself only touches ws)."""
    ctes = [
        f"""w0 AS MATERIALIZED (
      SELECT word, regexp_replace(word, '(.)', ' \\1 ', 'g') AS ws, freq FROM (
        SELECT tok AS word, COUNT(*) AS freq
        FROM (SELECT {sql_tokens()} AS toks FROM documents),
             LATERAL (SELECT UNNEST(toks) AS tok) u
        WHERE tok <> ''
        GROUP BY tok))"""
    ]
    for r in range(1, rounds + 1):
        prev = r - 1
        ctes.append(
            f"""p{r} AS MATERIALIZED (
      SELECT s[i] AS ls, s[i + 1] AS rs, CAST(SUM(freq) AS BIGINT) AS n
      FROM (SELECT string_split(trim(ws, ' '), '  ') AS s, freq FROM w{prev}),
           LATERAL (SELECT UNNEST(generate_series(1, len(s) - 1)) AS i) g
      GROUP BY 1, 2)"""
        )
        ctes.append(
            f"b{r} AS MATERIALIZED (SELECT ls, rs, n FROM p{r} "
            f"ORDER BY n DESC, ls, rs LIMIT 1)"
        )
        # LEFT JOIN ON TRUE, not a cross join: if a round finds no pairs
        # (corpus fully merged inside the budget) b{r} is EMPTY, and a
        # cross join would annihilate the word table — every later CTE
        # would be empty while the Spark builder breaks-and-keeps. The
        # left join passes each word through unchanged instead.
        ctes.append(
            f"""w{r} AS MATERIALIZED (
      SELECT w.word,
             CASE WHEN b.ls IS NULL THEN w.ws
                  ELSE replace(w.ws, ' ' || b.ls || '  ' || b.rs || ' ',
                               ' ' || b.ls || b.rs || ' ') END AS ws,
             w.freq
      FROM w{prev} w LEFT JOIN b{r} b ON TRUE)"""
        )
    return ctes


def _bpe_train_oracle_sql(rounds: int = BPE_TRAIN_ROUNDS) -> str:
    """Unrolled-CTE mirror of bpe_merge_train (fixed round budget — the
    kcore/pagerank recipe for exact-hash-oracling an iterative op)."""
    ctes = _bpe_chain_ctes(rounds)
    sel = [
        f"SELECT CAST({r} AS BIGINT) AS merge_round, ls AS left_sym, "
        f"rs AS right_sym, ls || rs AS merged, n AS n_occurrences FROM b{r}"
        for r in range(1, rounds + 1)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + " UNION ALL ".join(sel)


@query(
    "bpe_merge_train",
    _bpe_train_oracle_sql(),
    tags=("text", "vocab", "tokenizer", "iterative"),
    doc=f"Multi-round BPE tokenizer TRAINING ({BPE_TRAIN_ROUNDS} merges): "
    f"each round counts adjacent symbol pairs across the corpus "
    f"weighted by word frequency, picks the most frequent pair "
    f"(lexical tiebreak), and re-segments every word by applying the "
    f"merge — the actual Sennrich et al. (2016) training loop, not "
    f"just one candidate ranking. Pair work runs on the DISTINCT-word "
    f"frequency table (the Zipf-head collapse that makes corpus-scale "
    f"BPE feasible); re-segmentation is one builtin string replace on "
    f"a space-wrapped symbol encoding (greedy left-to-right non-"
    f"overlapping — exactly BPE's merge-application order). Up to "
    f"{BPE_DRIVER_MAX_WORDS:,} distinct words the word table is "
    f"counted on the driver from the documents parquet files (no Spark "
    f"job; the read stops once the words pass the gate) and merged on "
    f"the driver (same trim/split, argmax order and replace); where "
    f"the files cannot be read directly the Spark word table is "
    f"checkpointed once and collected through Arrow; above that "
    f"gate each round is a distributed pair count whose argmax is the "
    f"one row the driver sees, lineage truncated with a "
    f"localCheckpoint so round R never replays rounds 1..R-1. Fixed "
    f"round budget on both engines makes the iterative fixpoint "
    f"exact-hash-oracled (unrolled-CTE DuckDB twin).",
)
def bpe_merge_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges, _ = _bpe_train_chain(spark, sf_dir)
    rnd, ls, rs, n = zip(*merges) if merges else ((), (), (), ())
    return _pandas_frame(
        spark,
        "merge_round long, left_sym string, right_sym string, "
        "merged string, n_occurrences long",
        merge_round=rnd,
        left_sym=ls,
        right_sym=rs,
        merged=[a + b for a, b in zip(ls, rs)],
        n_occurrences=n,
    )


def _bpe_merge_local(
    ws: list[str], freq: list[int], rounds: int
) -> tuple[list[tuple[int, str, str, int]], list[str]]:
    """The merge chain on the driver over space-wrapped symbol strings:
    the same trim (spaces only) and two-space split as the Spark pair
    expression, the same argmax order (-n, ls, rs) — Python compares
    str by code point, which is Spark's UTF-8 byte order — and the same
    space-wrapped ``replace``, which is left-to-right non-overlapping in
    both. Returns (merges, final ws)."""
    merges: list[tuple[int, str, str, int]] = []
    for rnd in range(1, rounds + 1):
        counts: dict[tuple[str, str], int] = {}
        for w, f in zip(ws, freq):
            syms = w.strip(" ").split("  ")
            for pair in zip(syms, syms[1:]):
                counts[pair] = counts.get(pair, 0) + f
        if not counts:  # corpus fully merged before the budget — done
            break
        (ls, rs), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rnd, ls, rs, n))
        old, new = f" {ls}  {rs} ", f" {ls}{rs} "
        ws = [w.replace(old, new) for w in ws]
    return merges, ws


def _bpe_words(spark: SparkSession, sf_dir: str, *keys: str):
    """The word counts of ``documents`` per ``keys``, gated at
    ``BPE_DRIVER_MAX_WORDS`` rows: (checkpoint or None, Arrow table or
    None) of (*keys, word, ws, freq), ``ws`` the word's space-wrapped
    symbol string. Below the gate the table is derived on the driver
    (``_bpe_words_local``) and no checkpoint is made; otherwise it is
    ``checkpoint_sized`` of the Spark derivation, the table present only
    within the gate. The Spark wrap rides the same projection; ``(?s)``
    lets its ``.`` wrap U+0085, U+2028 and U+2029 too, as DuckDB's and
    Python's ``.`` do."""
    from porcupine_spark.functions.driverstate import checkpoint_sized

    table = _bpe_words_local(spark, sf_dir, keys, BPE_DRIVER_MAX_WORDS)
    if table is not None:
        return None, table
    # unwidened: the checkpoint is the only consumer, so a round-robin
    # shuffle in front of it would only add a job
    words = _word_counts(load_table(spark, sf_dir, "documents", widen=False), *keys)
    ck, _, table = checkpoint_sized(
        words.select(
            *keys,
            "word",
            F.regexp_replace("word", "(?s)(.)", " $1 ").alias("ws"),
            "freq",
        ),
        BPE_DRIVER_MAX_WORDS,
    )
    return ck, table


def _bpe_words_local(spark: SparkSession, sf_dir: str, keys: tuple[str, ...], max_words: int):
    """``_bpe_words``' table derived on the driver from the direct read
    (``driverstate.local_batches``): ``py_tokens`` of the texts (none
    for a NULL text), empty words dropped, occurrences counted per
    (*keys, word) with NULL keys a group of their own, and each word
    wrapped per code point. None when the direct read is unavailable or
    the rows pass ``max_words``; the read stops there."""
    from collections import Counter

    import pyarrow as pa

    from porcupine_spark.functions.driverstate import local_batches

    reader = local_batches(spark, sf_dir, "documents", (*keys, "text"), max_words)
    if reader is None:
        return None
    counts: dict[tuple, Counter] = {}
    n_rows = 0
    with reader:
        for batch in reader:
            groups: dict[tuple, list[str]] = {}
            for *key, text in zip(*(batch.column(c).to_pylist() for c in (*keys, "text"))):
                if text is not None:
                    groups.setdefault(tuple(key), []).append(text)
            for key, texts in groups.items():
                words = counts.setdefault(key, Counter())
                n_rows -= len(words)
                # one tokenization per key and batch: a space, being a
                # word separator, joins texts without joining words
                words.update(filter(None, py_tokens(" ".join(texts))))
                n_rows += len(words)
                if n_rows > max_words:
                    return None
    rows = [(key, w, f) for key, words in counts.items() for w, f in words.items()]
    words = [w for _, w, _ in rows]
    return pa.table(
        {
            **{
                k: pa.array([key[i] for key, _, _ in rows], reader.schema.field(k).type)
                for i, k in enumerate(keys)
            },
            "word": pa.array(words, pa.string()),
            "ws": pa.array([" " + "  ".join(w) + " " for w in words], pa.string()),
            "freq": pa.array([f for _, _, f in rows], pa.int64()),
        }
    )


def _bpe_rounds(
    cur: DataFrame, rounds: int
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """The distributed merge chain over a (word, ws, freq) vocabulary:
    each round is one pair count whose argmax is the one row the driver
    sees. Returns (merges, final vocabulary)."""
    from porcupine_spark.functions import seq1

    merges = []
    for rnd in range(1, rounds + 1):
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
        # argmax via TakeOrderedAndProject; ONE row to the driver per
        # round (the merge decision IS driver state in every BPE trainer)
        best = (
            pairs.groupBy("ls", "rs")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), F.asc("ls"), F.asc("rs"))
            .limit(1)
            .collect()
        )
        if not best:  # corpus fully merged before the budget — done
            break
        ls, rs, n = best[0].ls, best[0].rs, int(best[0].n)
        merges.append((rnd, ls, rs, n))
        # lazy (r8): a projection of the last checkpoint has no upstream
        # shuffle, so the next round's argmax job persists the rows
        cur = cur.select(
            "word",
            F.replace(
                F.col("ws"), F.lit(f" {ls}  {rs} "), F.lit(f" {ls}{rs} ")
            ).alias("ws"),
            "freq",
        ).transform(materialize, eager=False)
    return merges, cur


def _bpe_train_chain(
    spark: SparkSession, sf_dir: str, rounds: int = BPE_TRAIN_ROUNDS
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Run the BPE merge chain; return (merges, final word table).

    The returned DataFrame is (word, ws, freq) with ws the word's
    space-wrapped symbol string AFTER all merges. The `word` column
    rides along untouched so the chain stays joinable (mirrored in the
    oracle's _bpe_chain_ctes).

    Up to ``BPE_DRIVER_MAX_WORDS`` distinct words the chain runs on the
    driver (``_bpe_merge_local``) over the collected word table; above
    it, in ``_bpe_rounds``."""
    cur, table = _bpe_words(spark, sf_dir)
    if table is None:
        return _bpe_rounds(cur, rounds)
    merges, ws = _bpe_merge_local(
        table.column("ws").to_pylist(), table.column("freq").to_pylist(), rounds
    )
    final = _pandas_frame(
        spark,
        "word string, ws string, freq bigint",
        word=table.column("word").to_pylist(),
        ws=ws,
        freq=table.column("freq").to_numpy(),
    )
    return merges, final


def _bpe_encode_oracle_sql(rounds: int = BPE_TRAIN_ROUNDS) -> str:
    """Encode-side mirror: the shared merge chain, then per-word subword
    counts joined back to every token occurrence, rolled up per source."""
    ctes = _bpe_chain_ctes(rounds)
    ctes.append(
        f"""enc AS MATERIALIZED (
      SELECT word, freq, CAST(len(string_split(trim(ws, ' '), '  ')) AS BIGINT) AS n_sub
      FROM w{rounds})"""
    )
    ctes.append(
        f"""docw AS (
      SELECT source, tok AS word
      FROM (SELECT source, {sql_tokens()} AS toks FROM documents),
           LATERAL (SELECT UNNEST(toks) AS tok) u
      WHERE tok <> '')"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(e.n_sub) AS BIGINT) AS n_subword_tokens,
           CAST(CAST(SUM(e.n_sub) AS HUGEINT) * 1000 // COUNT(*) AS BIGINT)
             AS fertility_milli
    FROM docw d JOIN enc e USING (word)
    GROUP BY d.source"""
    )


@query(
    "bpe_encode_tokens",
    _bpe_encode_oracle_sql(),
    tags=("text", "vocab", "tokenizer", "iterative"),
    doc=f"BPE ENCODE pass — the serving half of the tokenizer story: "
    f"apply the {BPE_TRAIN_ROUNDS} trained merges (bpe_merge_train's "
    f"chain, shared code) to every distinct word, then charge each "
    f"token OCCURRENCE its subword length and roll up per source: "
    f"word count, subword-token count, fertility (subwords per word, "
    f"exact milli). This is the token-budget accounting a pretraining "
    f"data plan runs after training a tokenizer — and the per-source "
    f"fertility spread shows which sources get expensive to encode. "
    f"Scale shape: documents are tokenized ONCE into one checkpointed "
    f"(source, word, count) table; the merge chain runs on its "
    f"vocabulary (summed counts, the Zipf-head collapse) and the "
    f"roll-up weights each (source, word) row by its word's subword "
    f"length, so no per-occurrence row is ever joined. Up to "
    f"{BPE_DRIVER_MAX_WORDS:,} (source, word) rows the table is "
    f"counted on the driver from the documents parquet files (or, "
    f"where they cannot be read directly, collected through Arrow from "
    f"the checkpoint) and merges, lengths and the "
    f"|sources|-row roll-up run exactly on the driver; above that "
    f"gate the distributed merge rounds run on the vocabulary and one "
    f"vocab-sized join against the (source, word) rows feeds the "
    f"per-source aggregate.",
)
def bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    words, table = _bpe_words(spark, sf_dir, "source")
    if table is not None:
        return _bpe_encode_local(spark, table, BPE_TRAIN_ROUNDS)
    vocab = (
        words.groupBy("word", "ws")
        .agg(F.sum("freq").alias("freq"))
        .transform(materialize)
    )
    _, final = _bpe_rounds(vocab, BPE_TRAIN_ROUNDS)
    enc = final.select(
        "word",
        F.size(F.split(F.trim(F.col("ws")), "  ")).cast("long").alias("n_sub"),
    )
    return (
        words.join(enc, "word")
        .groupBy("source")
        .agg(
            F.sum("freq").cast("long").alias("n_words"),
            F.sum(F.col("freq") * F.col("n_sub"))
            .cast("long")
            .alias("n_subword_tokens"),
        )
        .select(
            "source",
            "n_words",
            "n_subword_tokens",
            F.expr(
                "CAST(n_subword_tokens AS DECIMAL(38,0)) * 1000 div n_words"
            )
            .cast("long")
            .alias("fertility_milli"),
        )
    )


def _bpe_encode_local(spark: SparkSession, table, rounds: int) -> DataFrame:
    """bpe_encode_tokens on the driver over the collected (source, word,
    ws, freq) rows: the merge chain on the vocabulary (``freq`` summed
    per word), each word's subword count as Spark's
    ``size(split(trim(ws), '  '))`` gives it, and the per-source roll-up
    in Python integers."""
    sources = table.column("source").to_pylist()
    words = table.column("word").to_pylist()
    freqs = table.column("freq").to_pylist()
    vocab: dict[str, list] = {}  # word -> [ws, summed freq]
    for w, s, f in zip(words, table.column("ws").to_pylist(), freqs):
        vocab.setdefault(w, [s, 0])[1] += f
    _, ws = _bpe_merge_local(
        [s for s, _ in vocab.values()], [f for _, f in vocab.values()], rounds
    )
    n_sub = {w: len(s.strip(" ").split("  ")) for w, s in zip(vocab, ws)}
    roll: dict[str | None, list[int]] = {}  # source -> [words, subwords]
    for src, w, f in zip(sources, words, freqs):
        acc = roll.setdefault(src, [0, 0])
        acc[0] += f
        acc[1] += f * n_sub[w]
    return _pandas_frame(
        spark,
        "source string, n_words bigint, n_subword_tokens bigint, "
        "fertility_milli bigint",
        source=list(roll),
        n_words=[n for n, _ in roll.values()],
        n_subword_tokens=[t for _, t in roll.values()],
        fertility_milli=[t * 1000 // n for n, t in roll.values()],
    )


SPAN_LEN = 3  # masked span length (tokens)
SPAN_RATE_PCT = 15  # corruption budget: % of tokens masked


@query(
    "span_corruption_plan",
    f"""
    WITH t AS (
      SELECT doc_id, {sql_tokens()} AS toks FROM documents
    ),
    sized AS (
      SELECT doc_id, toks, len(toks) AS nt,
             len(toks) * {SPAN_RATE_PCT} // 100 // {SPAN_LEN} AS n_spans
      FROM t WHERE len(toks) >= {SPAN_LEN}
    ),
    spans AS (
      SELECT doc_id, k AS span_id,
             CAST(CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), ':', CAST(k AS VARCHAR))), 1, 15))
                  AS BIGINT) % (nt - {SPAN_LEN} + 1) + 1 AS BIGINT) AS start_pos,
             toks
      FROM sized, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, n_spans)) AS k)
    )
    SELECT doc_id, CAST(span_id AS BIGINT) AS span_id, start_pos,
           CAST({SPAN_LEN} AS BIGINT) AS span_len,
           concat_ws(' ', toks[start_pos], toks[start_pos + 1], toks[start_pos + 2])
             AS masked_text
    FROM spans
    """,
    tags=("corpus", "curation", "augmentation"),
    doc=f"Span-corruption PLAN (the T5/UL2 denoising-objective prep): "
    f"for every document, deterministically sample "
    f"floor(tokens*{SPAN_RATE_PCT}%/{SPAN_LEN}) spans of {SPAN_LEN} "
    f"tokens to mask, with hash-seeded positions "
    f"(md5(doc_id:k) mod positions) so the plan is REPRODUCIBLE "
    f"across runs/engines with no RNG state - the property a "
    f"restartable 100 TB preprocessing job needs (overlapping spans "
    f"permitted, as in the original objective's independent "
    f"sampling). Emits (doc, span, start, masked text); per-row "
    f"column expressions + one explode, zero shuffles.",
)
def span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from porcupine_spark.functions import seq1

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    sized = docs.select("doc_id", toks.alias("toks")).filter(
        F.size("toks") >= SPAN_LEN
    )
    nt = F.size("toks")
    n_spans = F.expr(f"size(toks) * {SPAN_RATE_PCT} div 100 div {SPAN_LEN}")
    h = lambda k: (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), k.cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
    )
    spans = sized.select(
        "doc_id",
        "toks",
        nt.alias("nt"),
        F.explode(seq1(n_spans)).alias("span_id"),
    ).select(
        "doc_id",
        "toks",
        F.col("span_id").cast("long").alias("span_id"),
        (h(F.col("span_id")) % (F.col("nt") - (SPAN_LEN - 1)) + 1).alias("start_pos"),
    )
    return spans.select(
        "doc_id",
        "span_id",
        "start_pos",
        F.lit(SPAN_LEN).cast("long").alias("span_len"),
        F.concat_ws(
            " ",
            *[
                F.element_at("toks", (F.col("start_pos") + i).cast("int"))
                for i in range(SPAN_LEN)
            ],
        ).alias("masked_text"),
    )


BUDGET_MILLI = 300  # token budget = 0.3 epochs of the full corpus
CAP_MILLI = 400  # per-source repetition ceiling, 0.4 epochs: weight
# heterogeneity can concentrate repetition on in-target sources, but
# only up to 4/3 of the corpus-average epoch rate - past that the
# surplus water-falls to the remaining sources.


# Shared CTE chain: the full water-fill computation up to the `alloc`
# relation. epoch_expansion_plan composes these verbatim, so the
# manifest can never drift from the planner.
_WATERFILL_CTES = f"""t AS (
      SELECT source, lang, len({sql_tokens()}) AS nt FROM documents
    ),
    per_src AS (
      SELECT source, CAST(SUM(nt) AS BIGINT) AS n_tokens,
             GREATEST(1, CAST(SUM(CASE WHEN lang = 'en' THEN nt ELSE 0 END)
                              AS BIGINT)) AS w
      FROM t GROUP BY source
    ),
    g AS (
      SELECT SUM(n_tokens) AS tot,
             CAST(SUM(w) AS BIGINT) AS wtot,
             {BUDGET_MILLI} * SUM(n_tokens) // 1000 AS b
      FROM per_src
    ),
    base AS (
      SELECT source, n_tokens, w,
             {CAP_MILLI} * n_tokens // 1000 AS cap,
             g.b, g.wtot
      FROM per_src, g
    ),
    keyed AS (
      SELECT b1.*,
             (SELECT COUNT(*) FROM base b2
              WHERE CAST(b2.cap AS HUGEINT) * b1.w < CAST(b1.cap AS HUGEINT) * b2.w
                 OR (CAST(b2.cap AS HUGEINT) * b1.w = CAST(b1.cap AS HUGEINT) * b2.w
                     AND b2.source < b1.source)) AS rkey
      FROM base b1
    ),
    cum AS (
      SELECT *,
             COALESCE(SUM(cap) OVER (ORDER BY rkey, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumcap_prev,
             COALESCE(SUM(w) OVER (ORDER BY rkey, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumw_prev
      FROM keyed
    ),
    tested AS (
      SELECT *,
             CASE WHEN CAST(b - cumcap_prev AS HUGEINT) * w
                       >= CAST(cap AS HUGEINT) * (wtot - cumw_prev)
                  THEN 1 ELSE 0 END AS tflag
      FROM cum
    ),
    pfx AS (
      SELECT *, MIN(tflag) OVER (ORDER BY rkey, source
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS capped
      FROM tested
    ),
    sums AS (
      SELECT *,
             SUM(CASE WHEN capped = 1 THEN cap ELSE 0 END) OVER () AS capsum,
             SUM(CASE WHEN capped = 1 THEN w ELSE 0 END) OVER () AS wsum
      FROM pfx
    ),
    alloc AS (
      SELECT source, n_tokens, w, wtot, capped,
             CASE WHEN capped = 1 THEN CAST(cap AS HUGEINT)
                  ELSE CAST(b - capsum AS HUGEINT) * w // (wtot - wsum)
             END AS a
      FROM sums
    )"""


@query(
    "token_budget_waterfill",
    f"""
    WITH {_WATERFILL_CTES}
    SELECT source, n_tokens,
           CAST(CAST(w AS HUGEINT) * 1000000 // wtot AS BIGINT) AS weight_micro,
           CAST(a AS BIGINT) AS allocated_tokens,
           CAST(a * 1000000 // n_tokens AS BIGINT) AS epochs_micro,
           CAST(capped AS BIGINT) AS capped
    FROM alloc
    """,
    tags=("mixing", "planning", "corpus"),
    doc=f"Token-budget water-filling: allocate a {BUDGET_MILLI}-milli-"
    f"epoch training budget across sources proportionally to "
    f"TARGET-LANGUAGE (en) token mass - the quality-weighted mixing "
    f"rule - with each source capped at the corpus-average epoch "
    f"rate, so upweighting redistributes repetition toward in-target "
    f"sources but never past {CAP_MILLI} milli-epochs: the "
    f"LLaMA-style data-mixing planner. The classic iterative "
    f"water-fill collapses to ONE window pass: sources sorted by the "
    f"EXACT cap/weight ratio (ranked via integer cross-multiplied "
    f"comparisons on the |sources|-row table, so no quantized sort "
    f"key can misorder near-ties), the capped set is a PREFIX of "
    f"that order (standard exchange argument), found by a running-min "
    f"over an integer cross-multiplied test - no loop, no driver "
    f"logic, and every "
    f"quantity is integer/decimal so the plan is bit-identical across "
    f"engines. Per-source table is |sources| rows: the unpartitioned "
    f"windows run on the bounded aggregate, never the corpus.",
)
def token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_src = (
        docs.select(
            "source",
            "lang",
            F.size(tokens(F.col("text"))).cast("long").alias("nt"),
        )
        .groupBy("source")
        .agg(
            F.sum("nt").alias("n_tokens"),
            F.greatest(
                F.lit(1).cast("long"),
                F.sum(F.when(F.col("lang") == "en", F.col("nt")).otherwise(0)),
            ).alias("w"),
        )
    )
    g = per_src.agg(
        F.sum("w").alias("wtot"),
        F.expr(f"{BUDGET_MILLI} * SUM(n_tokens) div 1000").alias("b"),
    )
    base = per_src.crossJoin(F.broadcast(g)).select(
        "source",
        "n_tokens",
        "w",
        "wtot",
        "b",
        F.expr(f"{CAP_MILLI} * n_tokens div 1000").alias("cap"),
    )
    # Exact cap/weight ordering: a quantized scalar key (cap*1e6 div w)
    # can tie two sources whose true ratios differ, mis-ordering them and
    # breaking the capped-set-is-a-prefix exchange argument. Rank by
    # integer cross-multiplication instead — exact, and the nested-loop
    # join runs on the |sources|-row aggregate, never the corpus.
    rhs = base.select(
        F.col("source").alias("s2"),
        F.col("cap").alias("cap2"),
        F.col("w").alias("w2"),
    )
    before = F.expr(
        "CAST(cap2 AS DECIMAL(38,0)) * w < CAST(cap AS DECIMAL(38,0)) * w2"
        " OR (CAST(cap2 AS DECIMAL(38,0)) * w = CAST(cap AS DECIMAL(38,0)) * w2"
        " AND s2 < source)"
    )
    keyed = (
        base.join(F.broadcast(rhs), before, "left")
        .groupBy("source", "n_tokens", "w", "wtot", "b", "cap")
        .agg(F.count("s2").alias("rkey"))
    )
    wo = W.orderBy("rkey", "source")
    prev = wo.rowsBetween(W.unboundedPreceding, -1)
    cum = keyed.select(
        "*",
        F.coalesce(F.sum("cap").over(prev), F.lit(0).cast("long")).alias(
            "cumcap_prev"
        ),
        F.coalesce(F.sum("w").over(prev), F.lit(0).cast("long")).alias("cumw_prev"),
    )
    tested = cum.withColumn(
        "tflag",
        F.expr(
            "CASE WHEN CAST(b - cumcap_prev AS DECIMAL(38,0)) * w"
            " >= CAST(cap AS DECIMAL(38,0)) * (wtot - cumw_prev)"
            " THEN 1 ELSE 0 END"
        ),
    )
    pfx = tested.withColumn(
        "capped", F.min("tflag").over(wo.rowsBetween(W.unboundedPreceding, 0))
    )
    full = W.orderBy("rkey", "source").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    sums = pfx.select(
        "*",
        F.sum(F.when(F.col("capped") == 1, F.col("cap")).otherwise(0))
        .over(full)
        .alias("capsum"),
        F.sum(F.when(F.col("capped") == 1, F.col("w")).otherwise(0))
        .over(full)
        .alias("wsum"),
    )
    alloc = sums.withColumn(
        "a",
        F.expr(
            "CASE WHEN capped = 1 THEN CAST(cap AS DECIMAL(38,0))"
            " ELSE CAST(b - capsum AS DECIMAL(38,0)) * w div (wtot - wsum) END"
        ),
    )
    return alloc.select(
        "source",
        "n_tokens",
        F.expr("CAST(w AS DECIMAL(38,0)) * 1000000 div wtot")
        .cast("long")
        .alias("weight_micro"),
        F.col("a").cast("long").alias("allocated_tokens"),
        F.expr("a * 1000000 div n_tokens").cast("long").alias("epochs_micro"),
        F.col("capped").cast("long").alias("capped"),
    )


UNIMAX_EPOCH_CAP_MILLI = 2000  # each language repeats at most 2 epochs
UNIMAX_BUDGET_MILLI = 1500  # total budget = 1.5 epochs of the whole corpus


@query(
    "unimax_language_allocation",
    f"""
    WITH per_lang AS (
      SELECT lang,
             CAST(SUM(len({sql_tokens()})) AS BIGINT) AS lt
      FROM documents GROUP BY lang
    ),
    g AS (SELECT CAST(SUM(lt) AS BIGINT) AS tot, COUNT(*) AS n FROM per_lang),
    base AS (
      SELECT lang, lt,
             {UNIMAX_BUDGET_MILLI} * g.tot // 1000 AS b,
             {UNIMAX_EPOCH_CAP_MILLI} * lt // 1000 AS cap,
             g.n
      FROM per_lang, g
    ),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (ORDER BY cap, lang) AS rk,
             COALESCE(SUM(cap) OVER (ORDER BY cap, lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumcap_prev
      FROM base
    ),
    tested AS (
      SELECT *,
             CASE WHEN CAST(cap AS HUGEINT) * (n - rk + 1)
                       <= CAST(b - cumcap_prev AS HUGEINT)
                  THEN 1 ELSE 0 END AS tflag
      FROM ranked
    ),
    pfx AS (
      SELECT *, MIN(tflag) OVER (ORDER BY rk
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS capped
      FROM tested
    ),
    sums AS (
      SELECT *,
             SUM(CASE WHEN capped = 1 THEN cap ELSE 0 END) OVER () AS capsum,
             SUM(capped) OVER () AS k
      FROM pfx
    )
    SELECT lang, lt AS lang_tokens,
           CAST(CASE WHEN capped = 1 THEN cap
                     ELSE (b - capsum) // (n - k) END AS BIGINT) AS allocated_tokens,
           CAST(CAST(CASE WHEN capped = 1 THEN cap
                     ELSE (b - capsum) // (n - k) END AS HUGEINT)
                * 1000000 // lt AS BIGINT) AS epochs_micro,
           CAST(capped AS BIGINT) AS capped
    FROM sums
    """,
    tags=("mixing", "planning", "corpus", "multilingual"),
    doc=f"UniMax language-budget allocation (Chung et al. 2023, "
    f"'UniMax: Fairer and More Effective Language Sampling'): spread a "
    f"{UNIMAX_BUDGET_MILLI}-milli-epoch total budget UNIFORMLY across "
    f"languages, capping each language at "
    f"{UNIMAX_EPOCH_CAP_MILLI} milli-epochs of its own mass so "
    f"low-resource languages are never over-repeated — the published "
    f"alternative to temperature sampling whose repeat cap bounds "
    f"memorization risk. Same one-pass exact water-fill as "
    f"token_budget_waterfill with uniform weights: languages sorted "
    f"ascending by cap, the capped set is a PREFIX (exchange "
    f"argument), found by an integer cross-multiplied test; leftover "
    f"splits evenly among uncapped languages by truncating division. "
    f"All windows run on the |languages| table — bounded by the "
    f"ISO-639 census (~hundreds), corpus-independent.",
)
def unimax_language_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_lang = (
        docs.select("lang", F.size(tokens(F.col("text"))).cast("long").alias("nt"))
        .groupBy("lang")
        .agg(F.sum("nt").alias("lt"))
    )
    g = per_lang.agg(
        F.sum("lt").alias("tot"), F.count(F.lit(1)).alias("n")
    )
    base = per_lang.crossJoin(F.broadcast(g)).select(
        "lang",
        "lt",
        F.expr(f"{UNIMAX_BUDGET_MILLI} * tot div 1000").alias("b"),
        F.expr(f"{UNIMAX_EPOCH_CAP_MILLI} * lt div 1000").alias("cap"),
        "n",
    )
    wo = W.orderBy("cap", "lang")
    prev = wo.rowsBetween(W.unboundedPreceding, -1)
    ranked = base.select(
        "*",
        F.row_number().over(wo).alias("rk"),
        F.coalesce(F.sum("cap").over(prev), F.lit(0).cast("long")).alias(
            "cumcap_prev"
        ),
    )
    tested = ranked.withColumn(
        "tflag",
        F.expr(
            "CASE WHEN CAST(cap AS DECIMAL(38,0)) * (n - rk + 1)"
            " <= CAST(b - cumcap_prev AS DECIMAL(38,0)) THEN 1 ELSE 0 END"
        ),
    )
    pfx = tested.withColumn(
        "capped", F.min("tflag").over(wo.rowsBetween(W.unboundedPreceding, 0))
    )
    full = wo.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    sums = pfx.select(
        "*",
        F.sum(F.when(F.col("capped") == 1, F.col("cap")).otherwise(0))
        .over(full)
        .alias("capsum"),
        F.sum("capped").over(full).alias("k"),
    )
    a = F.expr(
        "CASE WHEN capped = 1 THEN CAST(cap AS DECIMAL(38,0))"
        " ELSE CAST(b - capsum AS DECIMAL(38,0)) div (n - k) END"
    )
    return sums.select(
        "lang",
        F.col("lt").alias("lang_tokens"),
        a.cast("long").alias("allocated_tokens"),
        F.expr(
            "CAST(CASE WHEN capped = 1 THEN CAST(cap AS DECIMAL(38,0))"
            " ELSE CAST(b - capsum AS DECIMAL(38,0)) div (n - k) END"
            " * 1000000 div lt AS BIGINT)"
        ).alias("epochs_micro"),
        F.col("capped").cast("long").alias("capped"),
    )


# The expansion manifest as a composable CTE chain (extends the
# water-fill chain); training_shard_manifest composes it verbatim.
_EXPANSION_CTES = f"""{_WATERFILL_CTES},
    wf AS (
      SELECT source, n_tokens AS src_tokens, CAST(a AS BIGINT) AS allocated
      FROM alloc
    ),
    d AS (
      SELECT doc_id, source, CAST(len({sql_tokens()}) AS BIGINT) AS doc_tokens,
             CAST(concat('0x', substr(md5(concat('rep:', CAST(doc_id AS VARCHAR))), 1, 15))
                  AS BIGINT) AS h
      FROM documents
    ),
    j AS (
      SELECT d.*, wf.allocated // wf.src_tokens AS base_epochs,
             wf.allocated - (wf.allocated // wf.src_tokens) * wf.src_tokens AS rem
      FROM d JOIN wf USING (source)
    ),
    c AS (
      SELECT *, COALESCE(SUM(doc_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
      FROM j
    ),
    manifest AS (
      SELECT doc_id, source, doc_tokens,
             CAST(base_epochs + CASE WHEN cum_prev < rem THEN 1 ELSE 0 END AS BIGINT)
               AS n_repeats
      FROM c
    )"""


@query(
    "epoch_expansion_plan",
    f"""
    WITH {_EXPANSION_CTES}
    SELECT doc_id, source, doc_tokens, n_repeats FROM manifest
    """,
    tags=("mixing", "planning", "corpus"),
    doc="Materialize the water-fill into a training MANIFEST: per-doc "
    "repeat counts whose per-source token mass meets the planner's "
    "allocation to within one document. Every doc gets the whole-epoch "
    "floor; the fractional remainder goes to a salted-hash-ordered "
    "prefix (per-source exclusive running token sum - the "
    "pack_sequences shape, one shuffle by source), so the selection "
    "is deterministic across engines, runs and cluster sizes, and "
    "re-planning with a changed budget moves the FEWEST possible "
    "docs. The oracle composes the water-fill's CTEs verbatim: the "
    "manifest can never drift from the planner it claims to "
    "implement.",
)
def epoch_expansion_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    wf = token_budget_waterfill(spark, sf_dir).select(
        "source",
        F.col("n_tokens").alias("src_tokens"),
        "allocated_tokens",
    )
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).cast("long").alias("doc_tokens"),
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("rep:"), F.col("doc_id").cast("string"))), 1, 15
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    j = (
        d.join(F.broadcast(wf), "source")
        .withColumn("base_epochs", F.expr("allocated_tokens div src_tokens"))
        .withColumn("rem", F.expr("allocated_tokens - base_epochs * src_tokens"))
    )
    wprev = (
        W.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    c = j.withColumn(
        "cum_prev", F.coalesce(F.sum("doc_tokens").over(wprev), F.lit(0).cast("long"))
    )
    return c.select(
        "doc_id",
        "source",
        "doc_tokens",
        (
            F.col("base_epochs")
            + F.when(F.col("cum_prev") < F.col("rem"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_repeats"),
    )


N_SHARDS = 64  # training output shards


@query(
    "training_shard_manifest",
    f"""
    WITH {_EXPANSION_CTES},
    inst AS (
      SELECT m.doc_id, m.doc_tokens, i.g AS rep
      FROM manifest m, LATERAL (
        SELECT UNNEST(GENERATE_SERIES(1, m.n_repeats)) AS g
      ) i
    ),
    sh AS (
      SELECT CAST(CAST(concat('0x', substr(md5(concat('shard:',
                    CAST(doc_id AS VARCHAR), ':', CAST(rep AS VARCHAR))), 1, 8))
                  AS BIGINT) % {N_SHARDS} AS BIGINT) AS shard,
             doc_tokens
      FROM inst
    ),
    counts AS (
      SELECT shard, COUNT(*) AS n_instances,
             CAST(SUM(doc_tokens) AS BIGINT) AS n_tokens
      FROM sh GROUP BY shard
    ),
    tott AS (SELECT CAST(SUM(doc_tokens) AS HUGEINT) AS t FROM sh)
    SELECT sp.range AS shard,
           COALESCE(n_instances, 0) AS n_instances,
           COALESCE(n_tokens, 0) AS n_tokens,
           CAST(CAST(COALESCE(n_tokens, 0) AS HUGEINT) * {N_SHARDS} * 1000000
                // (SELECT t FROM tott) AS BIGINT) AS balance_micro
    FROM range(0, {N_SHARDS}) sp LEFT JOIN counts ON counts.shard = sp.range
    """,
    tags=("mixing", "planning", "corpus"),
    doc=f"The mixing trilogy's last step: plan (water-fill) -> manifest "
    f"(per-doc repeats) -> SHARDS. Each repeat instance lands in one "
    f"of {N_SHARDS} output shards by a salted hash of (doc, repeat) - "
    f"a deterministic global shuffle, so the training order is "
    f"reproducible across engines, runs and cluster sizes and a "
    f"restarted job rewrites byte-identical shards. Report verifies "
    f"what the writer needs to know BEFORE writing 100 TB: per-shard "
    f"instance and token counts and the balance factor (1e6 = even; "
    f"empty shards visible). Repeats of one doc land in DIFFERENT "
    f"shards (the repeat index is in the salt), so epochs of a "
    f"repeated doc spread across the training order instead of "
    f"clumping.",
)
def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    manifest = epoch_expansion_plan(spark, sf_dir)
    inst = manifest.filter(F.col("n_repeats") > 0).select(
        "doc_id",
        "doc_tokens",
        F.explode(F.sequence(F.lit(1).cast("long"), F.col("n_repeats"))).alias("rep"),
    )
    shard = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("shard:"),
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        F.col("rep").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % N_SHARDS
    )
    sh = inst.select(shard.alias("shard"), "doc_tokens")
    counts = sh.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_instances"),
        F.sum("doc_tokens").alias("n_tokens"),
    )
    spine = spark.range(N_SHARDS).select(F.col("id").alias("shard"))
    # Grand total as an unpartitioned window over the 64-row joined spine:
    # the expansion pipeline is evaluated ONCE (a second agg over `sh`
    # would re-run the whole waterfill->explode subtree — Spark shares no
    # lineage between sibling actions).
    wall = W.partitionBy(F.lit(1)).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    return (
        spine.join(counts, "shard", "left")
        .withColumn("n_instances", F.coalesce("n_instances", F.lit(0).cast("long")))
        .withColumn("n_tokens", F.coalesce("n_tokens", F.lit(0).cast("long")))
        .withColumn("t", F.sum("n_tokens").over(wall).cast("decimal(38,0)"))
        .select(
            "shard",
            "n_instances",
            "n_tokens",
            F.expr(f"CAST(n_tokens AS DECIMAL(38,0)) * {N_SHARDS} * 1000000 div t")
            .cast("long")
            .alias("balance_micro"),
        )
    )


GROWTH_OCTILES = (1, 2, 4, 8)  # corpus prefixes: 1/8, 1/4, 1/2, all


@query(
    "vocab_growth_curve",
    f"""
    WITH fd AS (
      SELECT tok, MIN(doc_id) AS first_doc
      FROM (SELECT doc_id, UNNEST({sql_tokens()}) AS tok FROM documents)
      WHERE tok <> '' GROUP BY tok
    ),
    m AS (SELECT MAX(doc_id) AS mx FROM documents),
    grid AS (
      SELECT f, (SELECT mx FROM m) * f // 8 AS cutoff
      FROM (VALUES (1), (2), (4), (8)) t(f)
    ),
    nd AS (
      SELECT g.f, g.cutoff, COUNT(*) AS n_docs_prefix
      FROM grid g JOIN documents d ON d.doc_id <= g.cutoff
      GROUP BY g.f, g.cutoff
    ),
    vs AS (
      SELECT g.f, COUNT(CASE WHEN fd.first_doc <= g.cutoff THEN 1 END) AS vocab_size
      FROM grid g, fd GROUP BY g.f
    )
    SELECT nd.f AS octile, nd.cutoff AS max_doc_id, nd.n_docs_prefix, vs.vocab_size
    FROM nd JOIN vs ON vs.f = nd.f
    """,
    tags=("corpus", "vocab", "monitoring"),
    doc="Heaps-law vocabulary growth: distinct-token count after the "
    "first 1/8, 1/4, 1/2 and all of the corpus (doc_id = ingest "
    "order). A tokenizer/vocab budget sized on a sample extrapolates "
    "along exactly this curve, and a kink in it means an ingest batch "
    "changed the token distribution. Computed WITHOUT re-scanning per "
    "prefix: one groupBy(token) records each token's FIRST document, "
    "then the 4-row cutoff grid does conditional counts over the "
    "vocab table - the corpus is tokenized once no matter how many "
    "curve points are reported.",
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fd = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    m = docs.agg(F.max("doc_id").alias("mx"))
    grid = (
        _pandas_frame(spark, "f int", f=GROWTH_OCTILES)
        .crossJoin(F.broadcast(m))
        .select("f", F.expr("mx * f div 8").alias("cutoff"))
    )
    nd = (
        docs.select("doc_id")
        .crossJoin(F.broadcast(grid))
        .filter(F.col("doc_id") <= F.col("cutoff"))
        .groupBy("f", "cutoff")
        .agg(F.count(F.lit(1)).alias("n_docs_prefix"))
    )
    vs = (
        fd.crossJoin(F.broadcast(grid.select("f", F.col("cutoff").alias("cut2"))))
        .groupBy("f")
        .agg(
            F.count(F.when(F.col("first_doc") <= F.col("cut2"), 1)).alias(
                "vocab_size"
            )
        )
    )
    return nd.join(vs, "f").select(
        F.col("f").alias("octile"),
        F.col("cutoff").alias("max_doc_id"),
        "n_docs_prefix",
        "vocab_size",
    )


PPS_K = 25  # target sample size
PPS_BUCKETS = 64  # prefix-sum buckets (sized ~sqrt(N) in production)


@query(
    "pps_systematic_sample",
    f"""
    WITH w AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS wt FROM documents WHERE n_chars > 0
    ),
    c AS (
      SELECT doc_id, wt,
             COALESCE(SUM(wt) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cs,
             SUM(wt) OVER () AS tot
      FROM w
    ),
    p AS (
      SELECT doc_id, wt, cs, GREATEST(1, tot // {PPS_K}) AS step FROM c
    )
    SELECT doc_id, wt AS weight,
           CAST((cs + step - 1) // step AS BIGINT) AS first_pick,
           CAST((cs + wt + step - 1) // step - (cs + step - 1) // step AS BIGINT)
             AS n_picks
    FROM p
    WHERE (cs + wt + step - 1) // step > (cs + step - 1) // step
    """,
    tags=("sampling", "corpus"),
    doc=f"Probability-proportional-to-size SYSTEMATIC sampling: lay the "
    f"documents end to end by character mass (doc_id order), drop "
    f"{PPS_K} equally-spaced grid points on the total, keep every doc "
    f"whose interval contains a point - each doc selected with "
    f"probability proportional to its size, count deterministic to "
    f"within one, no RNG, reproducible across engines and cluster "
    f"sizes (docs longer than the stride get n_picks > 1, exactly as "
    f"PPS prescribes). The global running sum is computed as a "
    f"DISTRIBUTED TWO-PHASE PREFIX: partition-parallel cumsum inside "
    f"{PPS_BUCKETS} doc_id ranges plus an exclusive offset scan over "
    f"the {PPS_BUCKETS}-row bucket-total table - the oracle's "
    f"single-partition window is exactly what this shape avoids at "
    f"100 TB, and the results are identical by construction.",
)
def pps_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = docs.filter(F.col("n_chars") > 0).select(
        "doc_id", F.col("n_chars").cast("long").alias("wt")
    )
    mx = docs.agg(F.max("doc_id").alias("mx"))
    bucketed = w.crossJoin(F.broadcast(mx)).select(
        "doc_id",
        "wt",
        F.expr(f"doc_id div (mx div {PPS_BUCKETS} + 1)").alias("bkt"),
    )
    # phase 1: exclusive cumsum WITHIN each bucket (partition-parallel)
    wb = (
        W.partitionBy("bkt")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    inner = bucketed.withColumn(
        "cumb", F.coalesce(F.sum("wt").over(wb), F.lit(0).cast("long"))
    )
    # phase 2: exclusive offsets over the bounded bucket-total table
    bt = bucketed.groupBy("bkt").agg(F.sum("wt").alias("bsum"))
    wo = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    wf = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    offs = bt.select(
        "bkt",
        F.coalesce(F.sum("bsum").over(wo), F.lit(0).cast("long")).alias("boff"),
        F.sum("bsum").over(wf).alias("tot"),
    ).withColumn("step", F.expr(f"GREATEST(1, tot div {PPS_K})"))
    j = inner.join(F.broadcast(offs), "bkt").select(
        "doc_id",
        "wt",
        (F.col("boff") + F.col("cumb")).alias("cs"),
        "step",
    )
    first = F.expr("(cs + step - 1) div step")
    last = F.expr("(cs + wt + step - 1) div step")
    return (
        j.select(
            "doc_id",
            F.col("wt").alias("weight"),
            first.cast("long").alias("first_pick"),
            (last - first).cast("long").alias("n_picks"),
        )
        .filter(F.col("n_picks") > 0)
    )


COLLOC_MIN_N = 10  # bigram support floor: PMI/lift is noise below this
COLLOC_TOPK = 20


@query(
    "bigram_collocations",
    f"""
    WITH t AS (
      SELECT {sql_tokens()} AS ws
      FROM documents
    ),
    b AS (
      SELECT ws[i] AS w1, ws[i + 1] AS w2, ws[i] || ' ' || ws[i + 1] AS gram
      FROM t, UNNEST(range(1, len(ws))) AS r(i)
      WHERE len(ws) >= 2
    ),
    bi AS (SELECT gram, MIN(w1) AS w1, MIN(w2) AS w2, COUNT(*) AS n_ab
           FROM b GROUP BY gram),
    uni AS (
      SELECT tok, COUNT(*) AS n
      FROM (SELECT UNNEST(ws) AS tok FROM t) GROUP BY tok
    ),
    tot AS (
      SELECT (SELECT CAST(SUM(n) AS BIGINT) FROM uni) AS n_uni,
             (SELECT CAST(SUM(n_ab) AS BIGINT) FROM bi) AS n_bi
    ),
    scored AS (
      SELECT bi.gram, bi.n_ab, ua.n AS n_a, ub.n AS n_b,
             CAST(CAST(bi.n_ab AS HUGEINT) * t.n_uni * t.n_uni * 1000000
                  // (CAST(t.n_bi AS HUGEINT) * ua.n * ub.n) AS BIGINT)
               AS lift_micro
      FROM bi
      JOIN uni ua ON ua.tok = bi.w1
      JOIN uni ub ON ub.tok = bi.w2
      CROSS JOIN tot t
      WHERE bi.n_ab >= {COLLOC_MIN_N}
    )
    SELECT gram, n_ab, n_a, n_b, lift_micro,
           CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, ROW_NUMBER() OVER (
            ORDER BY lift_micro DESC, gram) AS rk FROM scored)
    WHERE rk <= {COLLOC_TOPK}
    """,
    tags=("corpus", "curation", "vocab"),
    doc=f"Collocation extraction: top-{COLLOC_TOPK} bigrams by pointwise "
    f"lift p(ab)/(p(a)p(b)) among those seen >= {COLLOC_MIN_N} times - "
    f"the multi-word-expression miner that decides which token pairs "
    f"a tokenizer (or a stop-phrase list) should treat as units. Lift "
    f"is the exact integer cross-ratio n_ab*N_uni^2*1e6 div "
    f"(N_bi*n_a*n_b) (PMI without the log - same ranking, hash-exact; "
    f"magnitude bound: needs n_ab*N_uni^2*1e6 < 1e38, so rescale to "
    f"milli-units past ~1e13 corpus tokens). Shape: one bigram count "
    f"+ one unigram count (both map-side combined), two vocab-sized "
    f"key joins, 1-row totals broadcast, then TakeOrderedAndProject "
    f"top-{COLLOC_TOPK} (per-partition heaps - the bigram vocab grows "
    f"with the corpus, so no global rank window anywhere) with ranks "
    f"assigned over the <= {COLLOC_TOPK} survivors.",
)
def bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from porcupine_spark.functions import word_ngrams

    docs = load_table(spark, sf_dir, "documents")
    ws = tokens(F.col("text"))
    t = docs.select(ws.alias("ws"))
    grams = t.select(F.explode(word_ngrams(F.col("ws"), 2)).alias("gram"))
    bi = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .select(
            "gram",
            F.substring_index("gram", " ", 1).alias("w1"),
            F.substring_index("gram", " ", -1).alias("w2"),
            "n_ab",
        )
    )
    uni = (
        t.select(F.explode("ws").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = bi.agg(F.sum("n_ab").cast("long").alias("n_bi")).crossJoin(
        F.broadcast(uni.agg(F.sum("n").cast("long").alias("n_uni")))
    )
    scored = (
        bi.filter(F.col("n_ab") >= COLLOC_MIN_N)
        .join(uni.withColumnRenamed("tok", "w1").withColumnRenamed("n", "n_a"), "w1")
        .join(uni.withColumnRenamed("tok", "w2").withColumnRenamed("n", "n_b"), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "gram",
            "n_ab",
            "n_a",
            "n_b",
            F.expr(
                "CAST(CAST(n_ab AS DECIMAL(38,0)) * n_uni * n_uni * 1000000"
                " div (CAST(n_bi AS DECIMAL(38,0)) * n_a * n_b) AS BIGINT)"
            ).alias("lift_micro"),
        )
    )
    # top-k + rank via TakeOrderedAndProject + bounded posexplode rank —
    # the support-filtered bigram table still grows with the corpus, so
    # a partition-less rank window here would single-task the vocab
    return ranked_topk(scored, "lift_micro", ["gram"], COLLOC_TOPK).withColumn(
        "rk", F.col("rk").cast("long")
    )


RRF_K = 60  # the standard RRF dampening constant (Cormack et al. 2009)
RRF_TOPK = 10


@query(
    "rrf_fusion_topk",
    None,  # late-bound below: composes bm25_topk's oracle verbatim
    tags=("corpus", "retrieval", "curation"),
    doc=f"Reciprocal-rank fusion (Cormack et al. 2009) of two retrieval "
    f"systems over the same query terms: the BM25 top-{BM25_K} "
    f"(composed from the verified bm25_topk builder) fused with a "
    f"term-density ranking (matched-term tf x 1e6 div doc length - "
    f"the cheap lexical system BM25 is usually fused against). "
    f"rrf = sum over systems of 1e9 div ({RRF_K} + rank) - fixed-"
    f"point integer reciprocals, so the fusion is hash-exact; absent "
    f"docs contribute 0, ranks are doc_id-tiebroken. RRF is the "
    f"standard way to combine lexical + semantic retrieval for "
    f"decontamination-by-retrieval without score normalization "
    f"(ranks commensurate, scores not). Cost: each system is top-K "
    f"(per-partition top-k then merge), the fusion joins two "
    f"{BM25_K}-row lists - constant-size past the scans.",
)
def rrf_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # ONE tokenize pass feeds both ranking systems: the checkpointed
    # bm25 base already holds exactly the (doc_id, dl, matched)
    # projection the term-density ranking needs
    shared = _bm25_base(docs)
    # all three rankings go through ranked_topk (TakeOrderedAndProject +
    # bounded posexplode rank): branch b's matched-doc set is corpus-sized
    # for common terms, so a partition-less rank window there would sort
    # the whole corpus slice on one task; branches a and the final fusion
    # rank <= K-row lists, kept window-free for a uniformly clean plan
    a = ranked_topk(
        _bm25_scored(shared).select("doc_id", "score_scaled"),
        "score_scaled",
        ["doc_id"],
        BM25_K,
        rank_col="rank_a",
    ).select("doc_id", "rank_a")
    base = shared.select(
        "doc_id", "dl", F.size("matched").alias("tf")
    ).filter(F.col("tf") > 0)
    b = ranked_topk(
        base.select(
            "doc_id", F.expr("CAST(tf AS DECIMAL(38,0)) * 1000000 div dl").alias("s")
        ),
        "s",
        ["doc_id"],
        BM25_K,
        rank_col="rank_b",
    ).select("doc_id", "rank_b")
    fused = (
        a.join(b, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("rank_a", F.lit(0)).cast("long").alias("rank_bm25"),
            F.coalesce("rank_b", F.lit(0)).cast("long").alias("rank_density"),
            (
                F.coalesce(
                    F.expr(f"1000000000 div ({RRF_K} + rank_a)"), F.lit(0)
                )
                + F.coalesce(F.expr(f"1000000000 div ({RRF_K} + rank_b)"), F.lit(0))
            )
            .cast("long")
            .alias("rrf_nano"),
        )
    )
    return ranked_topk(fused, "rrf_nano", ["doc_id"], RRF_TOPK).select(
        "doc_id",
        "rank_bm25",
        "rank_density",
        "rrf_nano",
        F.col("rk").cast("long").alias("rk"),
    )


from porcupine_spark.plans.registry import REGISTRY as _REG  # noqa: E402

_REG["rrf_fusion_topk"].oracle = f"""
    WITH bm25 AS ({_REG["bm25_topk"].oracle}),
    a AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score_scaled DESC, doc_id) AS rank_a
      FROM bm25
    ),
    base AS (
      SELECT doc_id, len(toks) AS dl,
             len(list_filter(toks, t -> t IN ('join', 'hash', 'scan'))) AS tf
      FROM (SELECT doc_id,
                   {sql_tokens()} AS toks
            FROM documents)
    ),
    b AS (
      SELECT doc_id, rank_b FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (
                 ORDER BY CAST(tf AS HUGEINT) * 1000000 // dl DESC, doc_id) AS rank_b
        FROM base WHERE tf > 0)
      WHERE rank_b <= {BM25_K}
    ),
    fused AS (
      SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
             CAST(COALESCE(a.rank_a, 0) AS BIGINT) AS rank_bm25,
             CAST(COALESCE(b.rank_b, 0) AS BIGINT) AS rank_density,
             CAST(COALESCE(1000000000 // ({RRF_K} + a.rank_a), 0)
                  + COALESCE(1000000000 // ({RRF_K} + b.rank_b), 0) AS BIGINT)
               AS rrf_nano
      FROM a FULL OUTER JOIN b ON b.doc_id = a.doc_id
    )
    SELECT doc_id, rank_bm25, rank_density, rrf_nano, CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY rrf_nano DESC, doc_id) AS rk FROM fused)
    WHERE rk <= {RRF_TOPK}
"""


@query(
    "split_source_balance_chi2",
    """
    WITH assigned AS (
      SELECT source,
             CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT source,
               CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                    AS INTEGER) % 100 AS h
        FROM documents)
    ),
    cells AS (
      SELECT source, split, COUNT(*) AS o FROM assigned GROUP BY source, split
    ),
    r AS (SELECT source, SUM(o) AS rn FROM cells GROUP BY source),
    c AS (SELECT split, SUM(o) AS cn FROM cells GROUP BY split),
    n AS (SELECT CAST(SUM(o) AS HUGEINT) AS n FROM cells),
    grid AS (
      SELECT r.source, c.split, r.rn, c.cn,
             COALESCE(x.o, 0) AS o
      FROM r CROSS JOIN c
      LEFT JOIN cells x ON x.source = r.source AND x.split = c.split
    ),
    terms AS (
      SELECT (CAST(o AS HUGEINT) * (SELECT n FROM n)
              - CAST(rn AS HUGEINT) * cn)
             * (CAST(o AS HUGEINT) * (SELECT n FROM n)
                - CAST(rn AS HUGEINT) * cn)
             * 1000000
             // (CAST(rn AS HUGEINT) * cn) // (SELECT n FROM n) AS t
      FROM grid
    )
    SELECT (SELECT COUNT(*) FROM r) AS n_sources,
           (SELECT COUNT(*) FROM c) AS n_splits,
           CAST((SELECT COUNT(*) FROM grid) - (SELECT COUNT(*) FROM r)
                - (SELECT COUNT(*) FROM c) + 1 AS BIGINT) AS dof,
           CAST(SUM(t) AS BIGINT) AS chi2_micro
    FROM terms
    """,
    tags=("corpus", "sampling", "evaluation"),
    doc="Chi-square independence test between source and the hash-"
    "assigned train/val/test split: sum over the contingency grid of "
    "(o*N - r*c)^2 * 1e6 div (r*c) div N - the per-cell truncating "
    "divisions mirrored exactly on both engines, so even a test "
    "STATISTIC carries a hash oracle. A healthy hash split is "
    "independent of source; chi2_micro far above the dof*1e6 "
    "ballpark means doc_id correlates with source (sequential id "
    "ranges per crawl batch are the classic cause) and the 'random' "
    "split silently over-trains on some sources. Shape: one "
    "(source,split) count, two marginal re-groups of the tiny cell "
    "table, a |sources|x3 grid join - everything past the first "
    "aggregate is census-bounded.",
)
def split_source_balance_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    assigned = docs.select("source", split_col().alias("split"))
    cells = assigned.groupBy("source", "split").agg(F.count(F.lit(1)).alias("o"))
    r = cells.groupBy("source").agg(F.sum("o").alias("rn"))
    c = cells.groupBy("split").agg(F.sum("o").alias("cn"))
    n = cells.agg(F.sum("o").cast("decimal(38,0)").alias("n"))
    grid = (
        r.crossJoin(F.broadcast(c))
        .join(cells, ["source", "split"], "left")
        .withColumn("o", F.coalesce("o", F.lit(0)))
        .crossJoin(F.broadcast(n))
    )
    terms = grid.select(
        "source",
        "split",
        F.expr(
            "(CAST(o AS DECIMAL(38,0)) * n - CAST(rn AS DECIMAL(38,0)) * cn)"
            " * (CAST(o AS DECIMAL(38,0)) * n - CAST(rn AS DECIMAL(38,0)) * cn)"
            " * 1000000"
            " div (CAST(rn AS DECIMAL(38,0)) * cn) div n"
        ).alias("t"),
    )
    nr = r.agg(F.count(F.lit(1)).alias("n_sources"))
    nc = c.agg(F.count(F.lit(1)).alias("n_splits"))
    return (
        terms.agg(F.sum("t").alias("chi2"), F.count(F.lit(1)).alias("n_cells"))
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nc))
        .select(
            F.col("n_sources").cast("long").alias("n_sources"),
            F.col("n_splits").cast("long").alias("n_splits"),
            F.expr(
                "CAST(n_cells - n_sources - n_splits + 1 AS BIGINT)"
            ).alias("dof"),
            F.col("chi2").cast("long").alias("chi2_micro"),
        )
    )


PACK_WINDOW = 2048  # context-window length in tokens


@query(
    "context_window_packing",
    f"""
    WITH lens AS (
      SELECT source, doc_id, CAST(len({sql_tokens()}) AS BIGINT) AS nt
      FROM documents
    ),
    packed AS (
      SELECT source, doc_id, nt,
             SUM(nt) OVER (PARTITION BY source ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM lens
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS total_tokens,
           CAST((MAX(cum) + {PACK_WINDOW} - 1) // {PACK_WINDOW} AS BIGINT)
             AS n_windows,
           CAST(SUM(CASE WHEN (cum - 1) // {PACK_WINDOW}
                              > (cum - nt) // {PACK_WINDOW}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_docs,
           CAST((MAX(cum) + {PACK_WINDOW} - 1) // {PACK_WINDOW} * {PACK_WINDOW}
                - MAX(cum) AS BIGINT) AS tail_padding_tokens
    FROM packed
    GROUP BY source
    """,
    tags=("corpus", "curation", "packing"),
    doc=f"Concat-then-chunk packing accounting — the GPT-style "
    f"pretraining layout: per source, documents in doc_id order are "
    f"concatenated and cut into {PACK_WINDOW}-token context windows; "
    "reports windows needed, documents split across a window boundary "
    "(whose loss masking / attention resets the trainer must handle) "
    "and tail padding waste. The prefix sum is keyed by source (the "
    "shard unit), never global; everything else is one aggregate. "
    "Exact integers throughout (truncating div on both engines).",
)
def context_window_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    lens = docs.select(
        "source", "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("nt")
    )
    wc = W.partitionBy("source").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    packed = lens.withColumn("cum", F.sum("nt").over(wc))
    crosses = (
        F.expr(f"(cum - 1) div {PACK_WINDOW}")
        > F.expr(f"(cum - nt) div {PACK_WINDOW}")
    )
    return packed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").cast("long").alias("total_tokens"),
        F.expr(f"(MAX(cum) + {PACK_WINDOW} - 1) div {PACK_WINDOW}").alias("n_windows"),
        F.sum(crosses.cast("long")).cast("long").alias("n_boundary_docs"),
        F.expr(
            f"(MAX(cum) + {PACK_WINDOW} - 1) div {PACK_WINDOW} * {PACK_WINDOW} - MAX(cum)"
        ).alias("tail_padding_tokens"),
    )
