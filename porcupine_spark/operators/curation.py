"""Corpus-curation operators for large-scale training-data pipelines:
Gopher-style rule filtering, token-budget sequence packing, and
cross-document duplicated-span statistics (substring-level dedup).

These extend the reference's data-processing surface with the
operations an LLM-pretraining curation pipeline runs over a 100 TB
document corpus. Everything stays in built-in column expressions
(whole-stage codegen); the only shuffles are the ones the semantics
require, and they move hashed longs or small pre-aggregated rows —
never raw text.

Rule thresholds follow the published Gopher quality heuristics
(Rae et al. 2021, "Scaling Language Models: ... Gopher", App. A) —
word-count band, mean-word-length band, alpha-word fraction,
symbol-to-word ratio, stopword floor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from porcupine_spark.functions import word_ngrams
from porcupine_spark.operators.text import (
    normalized,
    quality_score,
    sql_normalized,
    sql_tokens,
    tokens,
)
from porcupine_spark.plans.registry import query
from porcupine_spark.tables import load_table

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with", "a")
_GSTOP_SQL = "(" + ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS) + ")"


@query(
    "gopher_quality_filter",
    f"""
    WITH t AS (
      SELECT doc_id,
             {sql_normalized()} AS norm,
             {sql_tokens()} AS toks
      FROM documents
    ),
    feat AS (
      SELECT doc_id,
             len(toks) AS n_words,
             CAST(length(norm) - (len(toks) - 1) AS DOUBLE) / len(toks) AS mean_word_len,
             CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
               / len(toks) AS alpha_word_frac,
             CAST(length(norm) - length(replace(replace(norm, '#', ''), '...', ''))
                  AS DOUBLE) / len(toks) AS symbol_word_ratio,
             len(list_filter(toks, w -> w IN {_GSTOP_SQL})) AS stop_count
      FROM t
    )
    SELECT doc_id, n_words, mean_word_len, alpha_word_frac, symbol_word_ratio,
           stop_count,
           CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS ok_words,
           CASE WHEN mean_word_len BETWEEN 3 AND 10 THEN 1 ELSE 0 END AS ok_mwl,
           CASE WHEN alpha_word_frac >= 0.8 THEN 1 ELSE 0 END AS ok_alpha,
           CASE WHEN symbol_word_ratio <= 0.1 THEN 1 ELSE 0 END AS ok_symbol,
           CASE WHEN stop_count >= 2 THEN 1 ELSE 0 END AS ok_stop,
           CASE WHEN n_words BETWEEN 50 AND 100000
                 AND mean_word_len BETWEEN 3 AND 10
                 AND alpha_word_frac >= 0.8
                 AND symbol_word_ratio <= 0.1
                 AND stop_count >= 2 THEN 1 ELSE 0 END AS keep
    FROM feat
    """,
    tags=("text", "curation"),
    doc="Gopher-rule quality gate (Rae et al. 2021 App. A): word-count "
    "band [50, 100k], mean word length [3, 10], >=80% alphabetic words, "
    "#/ellipsis symbol ratio <= 0.1, >=2 stopwords. Per-row column "
    "expressions only — embarrassingly parallel, zero shuffles.",
)
def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gopher_flags(load_table(spark, sf_dir, "documents"))


def gopher_flags(docs: DataFrame, keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Gopher rule features + per-rule flags + combined keep gate for
    any (doc_id, text) DataFrame; ``keep_cols`` pass through (so a
    single stream branch can carry grouping columns)."""
    norm = normalized(F.col("text"))
    toks = tokens(F.col("text"))
    nw = F.size(toks)
    # sum(len(word)) == len(norm) - (n_words - 1): norm is single-spaced
    mwl = (F.length(norm) - (nw - F.lit(1))).cast("double") / nw
    stop_arr = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    alpha_frac = (
        F.size(F.filter(toks, lambda w: w.rlike("[a-z]"))).cast("double") / nw
    )
    sym_ratio = (
        F.length(norm)
        - F.length(F.replace(F.replace(norm, F.lit("#"), F.lit("")), F.lit("..."), F.lit("")))
    ).cast("double") / nw
    stop_count = F.size(F.filter(toks, lambda w: F.array_contains(stop_arr, w)))
    ok_words = F.when((nw >= 50) & (nw <= 100000), 1).otherwise(0)
    ok_mwl = F.when((mwl >= 3) & (mwl <= 10), 1).otherwise(0)
    ok_alpha = F.when(alpha_frac >= 0.8, 1).otherwise(0)
    ok_symbol = F.when(sym_ratio <= 0.1, 1).otherwise(0)
    ok_stop = F.when(stop_count >= 2, 1).otherwise(0)
    flags = docs.select(
        "doc_id",
        *keep_cols,
        nw.cast("long").alias("n_words"),
        mwl.alias("mean_word_len"),
        alpha_frac.alias("alpha_word_frac"),
        sym_ratio.alias("symbol_word_ratio"),
        stop_count.cast("long").alias("stop_count"),
        ok_words.alias("ok_words"),
        ok_mwl.alias("ok_mwl"),
        ok_alpha.alias("ok_alpha"),
        ok_symbol.alias("ok_symbol"),
        ok_stop.alias("ok_stop"),
    )
    keep = (
        (F.col("ok_words") == 1)
        & (F.col("ok_mwl") == 1)
        & (F.col("ok_alpha") == 1)
        & (F.col("ok_symbol") == 1)
        & (F.col("ok_stop") == 1)
    )
    return flags.withColumn("keep", F.when(keep, 1).otherwise(0))


PACK_BUDGET = 512  # tokens per packed training sequence


@query(
    "pack_sequences",
    f"""
    WITH t AS (
      SELECT source, doc_id,
             len({sql_tokens()}) AS toks
      FROM documents
    ),
    placed AS (
      SELECT source, doc_id, toks,
             CAST(FLOOR(COALESCE(SUM(toks) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / {PACK_BUDGET}) AS BIGINT) AS bin_id
      FROM t
    )
    SELECT source, bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS bin_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc,
           CAST(SUM(toks) AS DOUBLE) / {PACK_BUDGET} AS fill_ratio
    FROM placed
    GROUP BY source, bin_id
    """,
    tags=("curation",),
    doc="Token-budget sequence packing: docs are packed contiguously "
    "(deterministic doc_id order) into bins of ~512 tokens via an "
    "exclusive running sum — bin_id = floor(tokens_before / budget), so "
    "a bin overflows by at most one document (standard streaming-pack "
    "discipline; no bin-packing search). The window partitions by "
    "source, so packing parallelizes across sources/shards — at 100 TB "
    "the partition key becomes (source, hash-shard) and no global sort "
    "or single-reducer cumsum ever happens.",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_docs(load_table(spark, sf_dir, "documents"), PACK_BUDGET)


def pack_docs(docs: DataFrame, budget: int) -> DataFrame:
    """Contiguous token-budget packing of (doc_id, source, text) rows;
    see the pack_sequences query doc for the discipline."""
    t = docs.select(
        "source", "doc_id", F.size(tokens(F.col("text"))).alias("toks")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = t.withColumn(
        "bin_id",
        F.floor(F.coalesce(F.sum("toks").over(w), F.lit(0)) / budget),
    )
    return placed.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("toks").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        (F.sum("toks").cast("double") / budget).alias("fill_ratio"),
    )


SPAN_K = 8  # words per duplicated-span gram (Lee et al. 2021 use 50 BPE tokens)


@query(
    "duplicate_ngram_spans",
    f"""
    WITH t AS (
      SELECT doc_id, {sql_tokens()} AS ws
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             array_to_string(ws[CAST(i AS INT):CAST(i + {SPAN_K - 1} AS INT)], ' ') AS gram
      FROM t, UNNEST(range(1, len(ws) - {SPAN_K - 2})) AS r(i)
      WHERE len(ws) >= {SPAN_K}
    ),
    c AS (
      SELECT doc_id, COUNT(*) OVER (PARTITION BY gram) AS c
      FROM g
    )
    SELECT doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_grams,
           CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS dup_fraction
    FROM c
    GROUP BY doc_id
    """,
    tags=("dedup", "curation"),
    doc="Substring-level duplication stats (the Lee et al. 2021 "
    "'Deduplicating Training Data' signal): per document, the fraction "
    "of its word 8-gram positions whose gram occurs more than once in "
    "the corpus (cross-doc or repeated in-doc). Spark shuffles only "
    "xxhash64(gram) longs — the gram text never leaves the executor "
    "that built it; corpus-frequency comes from one window over the "
    "hash, then one per-doc aggregation. Docs shorter than 8 words "
    "have no spans and are excluded on both engines.",
)
def duplicate_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return span_dup_stats(load_table(spark, sf_dir, "documents"), SPAN_K)


def span_dup_stats(docs: DataFrame, k: int) -> DataFrame:
    """Per-doc duplicated k-gram span stats for any (doc_id, text)
    DataFrame; see the duplicate_ngram_spans query doc."""
    ws = tokens(F.col("text"))
    grams = docs.select(
        "doc_id", F.explode(word_ngrams(ws, k)).alias("gram")
    ).select("doc_id", F.xxhash64("gram").alias("h"))
    # corpus df per gram-hash as a window: one shuffle on the 8-byte key
    counted = grams.withColumn("c", F.count(F.lit(1)).over(Window.partitionBy("h")))
    return counted.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias("dup_grams"),
        (
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("dup_fraction"),
    )


@query(
    "quality_gate_kappa",
    None,  # late-bound below: composes both gates' oracles verbatim
    tags=("curation", "evaluation", "monitoring"),
    doc="Cohen's kappa between the two quality gates this engine ships "
    "(the heuristic quality_score keep and the Gopher-rule keep) on "
    "the per-document keep/drop decision — the filter-redundancy "
    "audit: kappa near 1 means the cheaper gate can stand in for the "
    "expensive one; kappa near 0 means they encode DIFFERENT notions "
    "of quality and stacking them actually changes the corpus (raw "
    "agreement flatters whichever decision dominates; kappa subtracts "
    "the chance floor). Same cross-multiplied integer kappa recipe as "
    "lang_id_kappa; composes both gates' oracles verbatim so the "
    "audit can't drift from the gates it compares. Two per-row gate "
    "passes + one 2x2 cell count. kappa_micro is NULL where chance "
    "agreement is total (both gates put every doc in one class), as "
    "the oracle's division by zero gives it.",
)
def quality_gate_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = quality_score(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("y")
    )
    g = gopher_flags(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.col("keep").alias("p")
    )
    cells = (
        q.join(g, "doc_id")
        .groupBy("y", "p")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return cells.agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("y") == F.col("p"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_agree"),
        F.expr(
            "CAST(sum(CASE WHEN y = p THEN n ELSE 0 END) * 1000000"
            " div sum(n) AS BIGINT)"
        ).alias("po_micro"),
        F.expr(
            "CAST((sum(CASE WHEN y = 1 THEN n ELSE 0 END)"
            "      * CAST(sum(CASE WHEN p = 1 THEN n ELSE 0 END) AS DECIMAL(38,0))"
            "    + sum(CASE WHEN y = 0 THEN n ELSE 0 END)"
            "      * CAST(sum(CASE WHEN p = 0 THEN n ELSE 0 END) AS DECIMAL(38,0)))"
            " * 1000000 div (CAST(sum(n) AS DECIMAL(38,0)) * sum(n)) AS BIGINT)"
        ).alias("pe_micro"),
        F.expr(
            "CAST((CAST(sum(CASE WHEN y = p THEN n ELSE 0 END) AS DECIMAL(38,0)) * sum(n)"
            "    - (sum(CASE WHEN y = 1 THEN n ELSE 0 END)"
            "       * CAST(sum(CASE WHEN p = 1 THEN n ELSE 0 END) AS DECIMAL(38,0))"
            "     + sum(CASE WHEN y = 0 THEN n ELSE 0 END)"
            "       * CAST(sum(CASE WHEN p = 0 THEN n ELSE 0 END) AS DECIMAL(38,0))))"
            " * 1000000"
            " div nullif(CAST(sum(n) AS DECIMAL(38,0)) * sum(n)"
            "    - (sum(CASE WHEN y = 1 THEN n ELSE 0 END)"
            "       * CAST(sum(CASE WHEN p = 1 THEN n ELSE 0 END) AS DECIMAL(38,0))"
            "     + sum(CASE WHEN y = 0 THEN n ELSE 0 END)"
            "       * CAST(sum(CASE WHEN p = 0 THEN n ELSE 0 END) AS DECIMAL(38,0))), 0)"
            " AS BIGINT)"
        ).alias("kappa_micro"),
    )


from porcupine_spark.plans.registry import REGISTRY as _R  # noqa: E402

_R["quality_gate_kappa"].oracle = f"""
    WITH qg AS ({_R["quality_score"].oracle}),
    gg AS ({_R["gopher_quality_filter"].oracle}),
    b AS (
      SELECT qg.keep AS y, gg.keep AS p
      FROM qg JOIN gg ON qg.doc_id = gg.doc_id
    ),
    cells AS (SELECT y, p, COUNT(*) AS n FROM b GROUP BY y, p)
    SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN y = p THEN n ELSE 0 END) AS BIGINT) AS n_agree,
           CAST(SUM(CASE WHEN y = p THEN n ELSE 0 END) * 1000000
                // SUM(n) AS BIGINT) AS po_micro,
           CAST((SUM(CASE WHEN y = 1 THEN n ELSE 0 END)
                 * CAST(SUM(CASE WHEN p = 1 THEN n ELSE 0 END) AS HUGEINT)
               + SUM(CASE WHEN y = 0 THEN n ELSE 0 END)
                 * CAST(SUM(CASE WHEN p = 0 THEN n ELSE 0 END) AS HUGEINT))
               * 1000000 // (CAST(SUM(n) AS HUGEINT) * SUM(n)) AS BIGINT)
             AS pe_micro,
           CAST((CAST(SUM(CASE WHEN y = p THEN n ELSE 0 END) AS HUGEINT) * SUM(n)
               - (SUM(CASE WHEN y = 1 THEN n ELSE 0 END)
                  * CAST(SUM(CASE WHEN p = 1 THEN n ELSE 0 END) AS HUGEINT)
                + SUM(CASE WHEN y = 0 THEN n ELSE 0 END)
                  * CAST(SUM(CASE WHEN p = 0 THEN n ELSE 0 END) AS HUGEINT)))
               * 1000000
               // (CAST(SUM(n) AS HUGEINT) * SUM(n)
                 - (SUM(CASE WHEN y = 1 THEN n ELSE 0 END)
                    * CAST(SUM(CASE WHEN p = 1 THEN n ELSE 0 END) AS HUGEINT)
                  + SUM(CASE WHEN y = 0 THEN n ELSE 0 END)
                    * CAST(SUM(CASE WHEN p = 0 THEN n ELSE 0 END) AS HUGEINT)))
               AS BIGINT) AS kappa_micro
    FROM cells
"""


# ---------------------------------------------------------------------------
# DSIR-style importance selection (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling") — exact-integer proxy

DSIR_BUCKETS = 1024  # hashed-feature space (DSIR uses 10k; 1k is plenty here)
DSIR_TARGET_LANG = "en"  # the "trusted slice" standing in for Wikipedia
DSIR_SCALE = 1_000_000
DSIR_KEEP_PPM = 500_000  # keep docs whose tokens lean majority-target


def dsir_bucket(tok: F.Column, buckets: int = DSIR_BUCKETS) -> F.Column:
    """Hashed-feature bucket id: 60-bit md5 prefix mod `buckets`.

    The SINGLE definition of the DSIR feature hash — shared by the batch
    scorer below and the streaming gate (streaming/enrich.py
    stream_dsir_gate), and byte-identical to the oracle's
    ``CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) % buckets``.
    Exactness across the batch op, the stream twin, and DuckDB depends on
    this staying the one copy.
    """
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long") % buckets


def dsir_lean_index(occ: DataFrame, buckets: int = DSIR_BUCKETS) -> DataFrame:
    """(b, lean) sign table from token occurrences ``occ(is_t, b)``.

    lean = add-one-smoothed p_target(b) > p_raw(b), decided by exact
    integer cross-multiplication (t+1)(R+B) > (r+1)(T+B) in decimal(38,0)
    so 100 TB token counts cannot overflow. One copy, shared by
    dsir_lean_scores and the streaming gate's index build.
    """
    bucket_stats = occ.groupBy("b").agg(
        F.count(F.lit(1)).alias("r"),
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).alias("t"),
    )
    totals = bucket_stats.agg(F.sum("r").alias("r_tot"), F.sum("t").alias("t_tot"))
    return bucket_stats.crossJoin(F.broadcast(totals)).select(
        "b",
        (
            (F.col("t") + 1).cast("decimal(38,0)") * (F.col("r_tot") + buckets)
            > (F.col("r") + 1).cast("decimal(38,0)") * (F.col("t_tot") + buckets)
        ).alias("lean"),
    )


def dsir_lean_scores(docs: DataFrame, is_target: F.Column, buckets: int = DSIR_BUCKETS) -> DataFrame:
    """Per-doc DSIR-style importance score as an EXACT integer.

    True DSIR scores log w(doc) = sum_f c_f * (log p_f - log q_f) over
    hashed n-gram features, with p/q the add-one-smoothed target/raw
    unigram-bucket distributions, then Gumbel-top-k resamples. Floating
    logs can't be exact-oracled (engine libm ulp drift), so this op
    keeps the exact SIGN of every per-feature log-ratio — a token
    occurrence is target-leaning iff p_f > q_f, decided by integer
    cross-multiplication (t_f+1)(R+B) > (r_f+1)(T+B) — and scores each
    doc by its target-leaning token fraction in exact ppm. Same
    decision boundary family, bit-identical across engines; swap in
    float log-weights + Gumbel keys for the production resampler.

    Scale shape: one map-side-combined agg to (doc, bucket) counts, a
    B-row (=1024) broadcast of the bucket distribution table, one agg
    back to docs. Nothing shuffles raw text; the hashed bucket id is
    the only wide key. 100 TB counts overflow int64 in the
    cross-multiplication, so both operands widen to decimal(38,0).
    """
    toks = docs.select(
        "doc_id",
        is_target.alias("is_t"),
        F.explode(tokens(F.col("text"))).alias("tok"),
    )
    occ = toks.select(
        "doc_id",
        "is_t",
        dsir_bucket(F.col("tok"), buckets).alias("b"),
    )
    per_doc_bucket = occ.groupBy("doc_id", "b").agg(
        F.count(F.lit(1)).alias("c"), F.max("is_t").alias("is_t")
    )
    dist = dsir_lean_index(occ.select("is_t", "b"), buckets)
    scored = (
        per_doc_bucket.join(F.broadcast(dist), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.when(F.col("lean"), F.col("c")).otherwise(0)).alias("n_lean"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "n_lean",
        F.expr(f"(n_lean * CAST({DSIR_SCALE} AS BIGINT)) div n_tokens").alias("lean_ppm"),
        (
            F.expr(f"(n_lean * CAST({DSIR_SCALE} AS BIGINT)) div n_tokens")
            >= DSIR_KEEP_PPM
        ).alias("keep"),
    )


@query(
    "dsir_proxy_selection",
    f"""
    WITH occ AS (
      SELECT doc_id,
             (lang = '{DSIR_TARGET_LANG}') AS is_t,
             CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) % {DSIR_BUCKETS} AS b
      FROM (SELECT doc_id, lang,
                   UNNEST({sql_tokens()}) AS tok
            FROM documents)
    ),
    pdb AS (
      SELECT doc_id, b, COUNT(*) AS c FROM occ GROUP BY doc_id, b
    ),
    bs AS (
      SELECT b, COUNT(*) AS r,
             SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS t
      FROM occ GROUP BY b
    ),
    tot AS (SELECT SUM(r) AS "R", SUM(t) AS "T" FROM bs),
    dist AS (
      SELECT b,
             CAST(t + 1 AS HUGEINT) * ((SELECT "R" FROM tot) + {DSIR_BUCKETS})
               > CAST(r + 1 AS HUGEINT) * ((SELECT "T" FROM tot) + {DSIR_BUCKETS})
               AS lean
      FROM bs
    ),
    scored AS (
      SELECT p.doc_id,
             CAST(SUM(p.c) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN d.lean THEN p.c ELSE 0 END) AS BIGINT) AS n_lean
      FROM pdb p JOIN dist d USING (b)
      GROUP BY p.doc_id
    )
    SELECT doc_id, n_tokens, n_lean,
           (n_lean * {DSIR_SCALE}) // n_tokens AS lean_ppm,
           (n_lean * {DSIR_SCALE}) // n_tokens >= {DSIR_KEEP_PPM} AS keep
    FROM scored
    """,
    tags=("curation", "selection", "dsir"),
    doc=f"DSIR-style data selection (hashed unigram features into "
    f"{DSIR_BUCKETS} buckets, target slice = lang {DSIR_TARGET_LANG}): "
    f"per-doc target-leaning token fraction in exact ppm with the "
    f"per-feature target-vs-raw decision made by integer "
    f"cross-multiplication of add-one-smoothed distributions - the "
    f"importance-resampling selection signal with a bit-exact oracle. "
    f"Bucket distribution table is {DSIR_BUCKETS} rows broadcast; "
    f"token counts combine map-side; decimal(38,0) widening keeps the "
    f"cross-multiplication exact at 100 TB token counts.",
)
def dsir_proxy_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dsir_lean_scores(docs, F.col("lang") == DSIR_TARGET_LANG)


# ---------------------------------------------------------------------------
# n-gram LM familiarity gate (the cheap stand-in for RefinedWeb/CCNet's
# KenLM perplexity filter) — exact-integer, hash-oracled

FAMIL_MIN_N = 5  # a bigram is "familiar" once the corpus saw it >= 5 times
FAMIL_KEEP_PPM = 600_000  # keep docs with >= 60% familiar bigram mass
FAMIL_SCALE = 1_000_000


@query(
    "bigram_familiarity_gate",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             {sql_tokens()} AS ws
      FROM documents
    ),
    occ AS (
      SELECT doc_id, source, ws[i] || ' ' || ws[i + 1] AS gram
      FROM t, UNNEST(range(1, len(ws))) AS r(i)
      WHERE len(ws) >= 2
    ),
    bi AS (SELECT gram, COUNT(*) AS n FROM occ GROUP BY gram),
    perdoc AS (
      SELECT o.doc_id, o.source,
             COUNT(*) AS n_bigrams,
             SUM(CASE WHEN b.n >= {FAMIL_MIN_N} THEN 1 ELSE 0 END) AS n_familiar
      FROM occ o JOIN bi b ON b.gram = o.gram
      GROUP BY o.doc_id, o.source
    )
    SELECT doc_id, source,
           CAST(n_bigrams AS BIGINT) AS n_bigrams,
           CAST(n_familiar AS BIGINT) AS n_familiar,
           CAST(CAST(n_familiar AS HUGEINT) * {FAMIL_SCALE} // n_bigrams AS BIGINT)
             AS familiarity_ppm,
           CAST(n_familiar AS HUGEINT) * {FAMIL_SCALE} // n_bigrams
             >= {FAMIL_KEEP_PPM} AS keep
    FROM perdoc
    """,
    tags=("curation", "quality", "lm-filter"),
    doc=f"n-gram LM familiarity gate — the exact-integer stand-in for "
    f"the KenLM perplexity filter RefinedWeb/CCNet run at ingest: a "
    f"document's quality signal is the fraction of its bigram "
    f"occurrences the corpus itself has seen >= {FAMIL_MIN_N} times "
    f"(familiar mass in ppm; true -log P(w2|w1) sums are float and "
    f"can't hash-oracle, but they rank nearly identically to familiar "
    f"mass at gate thresholds — swap in a real LM score column for "
    f"production and keep the same gate plumbing). Docs under 2 tokens "
    f"are out of gate scope by construction. Shape: one map-side-"
    f"combined bigram count, one gram-keyed hash join of occurrences "
    f"against the count table (corpus-linear, AQE-planned, no "
    f"broadcast hint — the bigram vocab grows with the corpus), one "
    f"doc-grain aggregate. Keep decision is a single integer "
    f"cross-comparison, bit-identical on both engines.",
)
def bigram_familiarity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ws = tokens(F.col("text"))
    occ = (
        docs.filter(F.size(ws) >= 2)
        .select("doc_id", "source", F.explode(word_ngrams(ws, 2)).alias("gram"))
    )
    bi = occ.groupBy("gram").agg(F.count(F.lit(1)).alias("n"))
    perdoc = (
        occ.join(bi, "gram")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum(F.when(F.col("n") >= FAMIL_MIN_N, 1).otherwise(0))
            .cast("long")
            .alias("n_familiar"),
        )
    )
    ppm = F.expr(
        f"CAST(n_familiar AS DECIMAL(38,0)) * {FAMIL_SCALE} div n_bigrams"
    )
    return perdoc.select(
        "doc_id",
        "source",
        "n_bigrams",
        "n_familiar",
        ppm.cast("long").alias("familiarity_ppm"),
        (ppm >= FAMIL_KEEP_PPM).alias("keep"),
    )


# ---------------------------------------------------------------------------
# hashed linear quality classifier (the fastText-style gate GPT-3/CCNet-
# class pipelines run at ingest) — exact-integer, hash-oracled

CLS_BUCKETS = 512  # hashing-trick feature space (fastText uses 2M; same shape)
CLS_W_RANGE = 2001  # integer weights in [0, 2000], centered at 1000
CLS_KEEP_MILLI = 1_000_000  # keep docs whose mean feature weight >= center


def cls_weight(b) -> F.Column:
    """Deterministic stand-in for a TRAINED weight vector: weight(b) =
    60-bit md5 prefix of 'clsw:<b>' mod 2001 — uniform integers in
    [0, 2000]. A production pipeline swaps this formula for a loaded
    weight table; every downstream shape (broadcast join, integer
    scoring, gate) is unchanged."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("clsw:"), b.cast("string"))), 1, 15),
            16,
            10,
        ).cast("long")
        % CLS_W_RANGE
    )


@query(
    "classifier_quality_gate",
    f"""
    WITH w AS (
      SELECT b, CAST(concat('0x', substr(md5(concat('clsw:', CAST(b AS VARCHAR))), 1, 15))
                 AS BIGINT) % {CLS_W_RANGE} AS wt
      FROM range({CLS_BUCKETS}) t(b)
    ),
    t AS (
      SELECT doc_id, source, {sql_tokens()} AS ws
      FROM documents
    ),
    occ AS (
      SELECT doc_id, source,
             CAST(concat('0x', substr(md5(ws[i] || ' ' || ws[i + 1]), 1, 15))
                  AS BIGINT) % {CLS_BUCKETS} AS b
      FROM t, UNNEST(range(1, len(ws))) AS r(i)
      WHERE len(ws) >= 2
    ),
    pdb AS (
      SELECT doc_id, source, b, COUNT(*) AS c FROM occ GROUP BY 1, 2, 3
    ),
    sc AS (
      SELECT doc_id, source,
             CAST(SUM(c) AS BIGINT) AS n_bigrams,
             CAST(SUM(c * wt) AS BIGINT) AS w_sum
      FROM pdb JOIN w USING (b)
      GROUP BY 1, 2
    )
    SELECT doc_id, source, n_bigrams, w_sum,
           w_sum * 1000 // n_bigrams AS score_milli,
           w_sum * 1000 // n_bigrams >= {CLS_KEEP_MILLI} AS keep
    FROM sc
    """,
    tags=("curation", "quality", "classifier"),
    doc=f"Hashed linear quality-classifier gate — the fastText-style "
    f"scorer the GPT-3/CCNet-class pipelines run over every ingest "
    f"document: hashing-trick bigram features (md5 mod {CLS_BUCKETS}, "
    f"the dsir_bucket machinery) x an integer weight table, score = "
    f"mean feature weight in exact milli-units, keep iff score >= "
    f"{CLS_KEEP_MILLI}. Weights here are hash-derived stand-ins for a "
    f"trained vector (swap cls_weight for a loaded table; the serving "
    f"shape is identical). Plan: one map-side-combined (doc, bucket) "
    f"count, a {CLS_BUCKETS}-row BROADCAST weight join (the "
    f"stream_dsir_gate lean-index shape — weight tables are "
    f"config-sized, never corpus-sized), one doc-grain agg. Zero UDFs, "
    f"exact integers end to end.",
)
def classifier_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from porcupine_spark.functions import word_ngrams

    docs = load_table(spark, sf_dir, "documents")
    ws = tokens(F.col("text"))
    occ = (
        docs.filter(F.size(ws) >= 2)
        .select("doc_id", "source", F.explode(word_ngrams(ws, 2)).alias("gram"))
        .select(
            "doc_id", "source", dsir_bucket(F.col("gram"), CLS_BUCKETS).alias("b")
        )
    )
    pdb = occ.groupBy("doc_id", "source", "b").agg(F.count(F.lit(1)).alias("c"))
    weights = spark.range(CLS_BUCKETS).select(
        F.col("id").alias("b"), cls_weight(F.col("id")).alias("wt")
    )
    sc = (
        pdb.join(F.broadcast(weights), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.sum(F.col("c") * F.col("wt")).cast("long").alias("w_sum"),
        )
    )
    score = F.expr("w_sum * 1000 div n_bigrams")
    return sc.select(
        "doc_id",
        "source",
        "n_bigrams",
        "w_sum",
        score.alias("score_milli"),
        (score >= CLS_KEEP_MILLI).alias("keep"),
    )
