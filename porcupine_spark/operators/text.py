"""Text analysis for training-data curation: token stats, quality
scores, language-ID heuristic, document fingerprints.

All pure column expressions (JVM-side, whole-stage-codegen'd); nothing
leaves the executor. Every op has an exact DuckDB oracle — per-row IEEE
arithmetic on identical inputs is bit-identical across engines.

Word splitting for the whole package lives here, for both engines
and for state derived on the driver: ``normalized`` / ``tokens``
(Spark), ``sql_normalized`` / ``sql_tokens`` (DuckDB) and
``py_normalized`` / ``py_tokens`` (Python). Words are split on
``_WS``, the class ``[\\t\\n\\f\\r ]``, written out because RE2's
``\\s`` is exactly this class while Java's also holds U+000B. Every
other character (U+000B, U+00A0 and U+2028 included) belongs to a
word, and the regex tokenizer ``_RE_TOKEN`` excludes the same class.
"""

from __future__ import annotations

import codecs

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from porcupine_spark.functions import seq1, word_ngrams
from porcupine_spark.plans.registry import query
from porcupine_spark.tables import load_table

STOPWORDS = ("the", "a", "of", "and", "to", "in")
_STOP_SQL = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"


_WS = r"\t\n\f\r "
# the same class as characters, each mapped to a space (Python rendering)
_WS_TO_SPACE = str.maketrans(dict.fromkeys(codecs.decode(_WS, "unicode_escape"), " "))
# BPE-style pre-tokens: letter runs | digit runs | one other non-space char
_RE_TOKEN = rf"[a-z]+|[0-9]+|[^a-z0-9{_WS}]"


def normalized(text: Column) -> Column:
    """``text`` with every run of ``_WS`` one space, trimmed."""
    return F.trim(F.regexp_replace(text, f"[{_WS}]+", " "))


def tokens(text: Column) -> Column:
    """The whitespace words of ``text``; ``[""]`` for a blank text."""
    return F.split(normalized(text), " ")


def sql_normalized(expr: str = "text") -> str:
    """DuckDB twin of ``normalized``. DuckDB's one-argument ``trim``
    also strips Unicode spaces such as U+00A0; Spark's strips only
    ``' '``, so the space is named."""
    return f"trim(regexp_replace({expr}, '[{_WS}]+', ' ', 'g'), ' ')"


def sql_tokens(expr: str = "text") -> str:
    """DuckDB twin of ``tokens``."""
    return f"string_split({sql_normalized(expr)}, ' ')"


def py_tokens(text: str | None) -> list[str] | None:
    """Python twin of ``tokens``: ``[""]`` for a blank text, None for
    None. Every ``_WS`` character becomes a space and the text splits
    on single spaces, the empty pieces (runs, ends) dropped: the words
    of the collapsed and trimmed text, in about half the time of a
    regex pass and a split."""
    if text is None:
        return None
    return list(filter(None, text.translate(_WS_TO_SPACE).split(" "))) or [""]


def py_normalized(text: str | None) -> str | None:
    """Python twin of ``normalized`` (None for None)."""
    toks = py_tokens(text)
    return None if toks is None else " ".join(toks)


@query(
    "text_stats",
    f"""
    WITH t AS (
      SELECT doc_id, n_chars,
             {sql_tokens()} AS toks,
             length(text) AS len_raw
      FROM documents
    ),
    pert AS (
      SELECT doc_id, n_chars, len_raw, len(toks) AS n_tokens,
             len(list_filter(toks, tok -> tok IN {_STOP_SQL})) AS n_stop,
             len(list_distinct(toks)) AS n_distinct
      FROM t
    )
    SELECT doc_id, len_raw, n_tokens, n_distinct,
           CAST(len_raw AS DOUBLE) / n_tokens AS avg_token_span,
           CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
           CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio,
           CASE WHEN n_chars = len_raw THEN 1 ELSE 0 END AS n_chars_ok
    FROM pert
    """,
    tags=("text",),
    doc="Token counting + quality features: whitespace tokens, distinct "
    "ratio (repetition detector), stopword ratio, chars-per-token. Pure "
    "array expressions, no UDF.",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_distinct = F.size(F.array_distinct(toks))
    len_raw = F.length("text")
    return docs.select(
        "doc_id",
        len_raw.cast("long").alias("len_raw"),
        n_tokens.cast("long").alias("n_tokens"),
        n_distinct.cast("long").alias("n_distinct"),
        (len_raw.cast("double") / n_tokens).alias("avg_token_span"),
        (n_stop.cast("double") / n_tokens).alias("stopword_ratio"),
        (n_distinct.cast("double") / n_tokens).alias("distinct_ratio"),
        F.when(F.col("n_chars") == len_raw, 1).otherwise(0).alias("n_chars_ok"),
    )


@query(
    "quality_score",
    f"""
    WITH t AS (
      SELECT doc_id,
             length(text) AS n,
             len({sql_tokens()}) AS nt,
             length(text) - length(regexp_replace(text, '[^a-z]', '', 'g')) AS n_nonalpha
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN n BETWEEN 100 AND 1000 THEN 0.4 ELSE 0.0 END
           + CASE WHEN nt >= 20 THEN 0.3 ELSE 0.0 END
           + 0.3 * (1.0 - CAST(n_nonalpha AS DOUBLE) / n) AS quality,
           CASE WHEN (CASE WHEN n BETWEEN 100 AND 1000 THEN 0.4 ELSE 0.0 END
                      + CASE WHEN nt >= 20 THEN 0.3 ELSE 0.0 END
                      + 0.3 * (1.0 - CAST(n_nonalpha AS DOUBLE) / n)) >= 0.6
                THEN 1 ELSE 0 END AS keep
    FROM t
    """,
    tags=("text",),
    doc="Heuristic quality score (length band + token count + alpha "
    "ratio) with a keep/drop gate - the C4/Gopher-style rule shape.",
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n = F.length("text")
    nt = F.size(tokens(F.col("text")))
    n_nonalpha = n - F.length(F.regexp_replace("text", "[^a-z]", ""))
    quality = (
        F.when((n >= 100) & (n <= 1000), 0.4).otherwise(0.0)
        + F.when(nt >= 20, 0.3).otherwise(0.0)
        + F.lit(0.3) * (F.lit(1.0) - F.try_divide(n_nonalpha.cast("double"), n))
    )
    return docs.select(
        "doc_id",
        quality.alias("quality"),
        F.when(quality >= 0.6, 1).otherwise(0).alias("keep"),
    )


@query(
    "lang_id",
    f"""
    WITH t AS (
      SELECT doc_id, lang AS lang_label,
             {sql_tokens()} AS toks
      FROM documents
    ),
    scores AS (
      SELECT doc_id, lang_label, len(toks) AS nt,
             len(list_filter(toks, tok -> tok IN ('the', 'a'))) AS s_en,
             len(list_filter(toks, tok -> tok IN ('data', 'table'))) AS s_dat,
             len(list_filter(toks, tok -> tok IN ('spark', 'query'))) AS s_tech
      FROM t
    )
    SELECT doc_id, lang_label,
           CASE
             WHEN s_en >= s_dat AND s_en >= s_tech THEN 'en-like'
             WHEN s_dat >= s_tech THEN 'data-jargon'
             ELSE 'tech-jargon'
           END AS lang_pred,
           CAST(GREATEST(s_en, s_dat, s_tech) AS DOUBLE) / nt AS confidence
    FROM scores
    """,
    tags=("text",),
    doc="Language-ID as a marker-token n-gram heuristic (argmax of "
    "marker-class counts with deterministic tie-breaking). The synthetic "
    "corpus shares one vocabulary across langs, so classes here are "
    "register-like; the operator shape (score -> argmax -> confidence) "
    "is the real product.",
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))

    def count_in(words: tuple[str, ...]) -> Column:
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    s_en = count_in(("the", "a"))
    s_dat = count_in(("data", "table"))
    s_tech = count_in(("spark", "query"))
    pred = (
        F.when((s_en >= s_dat) & (s_en >= s_tech), "en-like")
        .when(s_dat >= s_tech, "data-jargon")
        .otherwise("tech-jargon")
    )
    conf = F.greatest(s_en, s_dat, s_tech).cast("double") / F.size(toks)
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        pred.alias("lang_pred"),
        conf.alias("confidence"),
    )


@query(
    "doc_fingerprint",
    f"""
    WITH t AS (
      SELECT doc_id,
             {sql_tokens()} AS toks
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4])) AS h
      FROM t, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, GREATEST(len(toks) - 4, 0))) AS i) s
    )
    SELECT doc_id, MIN(h) AS fp_min, MAX(h) AS fp_max, COUNT(DISTINCT h) AS n_grams
    FROM grams GROUP BY doc_id
    """,
    tags=("text", "fingerprint"),
    doc="Document fingerprinting (winnowing-lite): rolling word-5-gram "
    "md5s reduced to (min, max, distinct-count). fp_min equality is a "
    "cheap containment/near-dup prefilter at corpus scale.",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    grams = F.transform(word_ngrams(toks, 5), lambda g: F.md5(g))
    g = docs.select("doc_id", F.explode(grams).alias("h"))
    return g.groupBy("doc_id").agg(
        F.min("h").alias("fp_min"),
        F.max("h").alias("fp_max"),
        F.countDistinct("h").alias("n_grams"),
    )


@query(
    "token_count_bpe",
    f"""
    SELECT doc_id,
           len({sql_tokens()}) AS n_tokens_ws,
           len(regexp_extract_all(text, '{_RE_TOKEN}')) AS n_tokens_re,
           CAST(length(text) AS DOUBLE)
             / len(regexp_extract_all(text, '{_RE_TOKEN}'))
             AS chars_per_token
    FROM documents
    """,
    tags=("text", "tokens"),
    doc="Token counting two ways: whitespace split vs a BPE-ish regex "
    "(letter runs | digit runs | single punctuation) - the pre-"
    "tokenizer shape GPT-style BPE vocabularies assume. chars/token is "
    "the quick fertility proxy for token-budget estimation.",
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_ws = F.size(tokens(F.col("text")))
    n_re = F.size(F.regexp_extract_all("text", F.lit(_RE_TOKEN), 0))
    return docs.select(
        "doc_id",
        n_ws.cast("long").alias("n_tokens_ws"),
        n_re.cast("long").alias("n_tokens_re"),
        F.try_divide(F.length("text").cast("double"), n_re).alias("chars_per_token"),
    )


@query(
    "pii_scrub",
    r"""
    WITH scrubbed AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(text, '[0-9]{2,}', '<NUM>', 'g'),
                            'customer', '<ENTITY>', 'g') AS text_clean,
             len(regexp_extract_all(text, '[0-9]{2,}')) AS n_num,
             len(regexp_extract_all(text, 'customer')) AS n_entity
      FROM documents
    )
    SELECT doc_id, md5(text_clean) AS clean_hash,
           n_num + n_entity AS n_redactions,
           length(text_clean) AS clean_len
    FROM scrubbed
    """,
    tags=("text", "scrub"),
    doc="PII/sensitive-span scrubbing: pattern classes replaced with "
    "typed placeholders (<NUM>, <ENTITY>), redaction counts kept for "
    "audit. Pure regexp_replace chains - one scan, no shuffle; the "
    "scrubbed text is hashed for oracle comparison.",
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    clean = F.regexp_replace(
        F.regexp_replace("text", r"[0-9]{2,}", "<NUM>"), "customer", "<ENTITY>"
    )
    n_num = F.size(F.regexp_extract_all("text", F.lit(r"[0-9]{2,}"), 0))
    n_entity = F.size(F.regexp_extract_all("text", F.lit("customer"), 0))
    return docs.select(
        "doc_id",
        F.md5(clean).alias("clean_hash"),
        (n_num + n_entity).cast("long").alias("n_redactions"),
        F.length(clean).cast("long").alias("clean_len"),
    )


@query(
    "repetition_ratio",
    f"""
    WITH t AS (
      SELECT doc_id,
             {sql_tokens()} AS toks
      FROM documents
    ),
    tok_counts AS (
      SELECT doc_id, tok, COUNT(*) AS c
      FROM (SELECT doc_id, UNNEST(toks) AS tok FROM t)
      GROUP BY doc_id, tok
    ),
    per_doc AS (
      SELECT doc_id, MAX(c) AS top_tok, SUM(c) AS n_toks FROM tok_counts GROUP BY doc_id
    ),
    grams AS (
      SELECT doc_id, COUNT(*) AS n3, COUNT(DISTINCT g) AS d3
      FROM (
        SELECT doc_id, concat_ws(' ', toks[i], toks[i+1], toks[i+2]) AS g
        FROM t, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, GREATEST(len(toks) - 2, 0))) AS i) s
      ) GROUP BY doc_id
    )
    SELECT p.doc_id,
           CAST(p.top_tok AS DOUBLE) / p.n_toks AS top_token_ratio,
           1.0 - CAST(g.d3 AS DOUBLE) / g.n3 AS dup_3gram_ratio,
           CASE WHEN CAST(p.top_tok AS DOUBLE) / p.n_toks > 0.2
                  OR 1.0 - CAST(g.d3 AS DOUBLE) / g.n3 > 0.3
                THEN 1 ELSE 0 END AS flagged
    FROM per_doc p JOIN grams g ON g.doc_id = p.doc_id
    """,
    tags=("text", "quality"),
    doc="Within-document repetition detection (Gopher-rule shape): "
    "top-token frequency ratio + duplicate-3-gram ratio, with a "
    "flag gate. Both ratios are PER-ROW array computations (max run "
    "length over the sorted token array; distinct-count over the gram "
    "array) — zero shuffles, where the exploded two-groupBy+join "
    "formulation shuffles the whole token corpus twice.",
)
def repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    grams = word_ngrams(toks, 3)
    # top token count per row = longest run in the sorted array: one
    # aggregate() pass with a (prev, run, best) accumulator
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc, t):
        new_run = F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        return F.struct(
            t.alias("prev"), new_run.alias("run"),
            F.greatest(acc["best"], new_run).alias("best"),
        )

    top_tok = F.aggregate(F.array_sort(toks), zero, step, lambda acc: acc["best"])
    per_row = docs.select(
        "doc_id",
        top_tok.alias("top_tok"),
        F.size(toks).cast("long").alias("n_toks"),
        F.size(grams).cast("long").alias("n3"),
        F.size(F.array_distinct(grams)).cast("long").alias("d3"),
    ).filter(F.col("n3") > 0)  # docs under 3 tokens: oracle's inner join drops them
    top_ratio = F.col("top_tok").cast("double") / F.col("n_toks")
    dup_ratio = F.lit(1.0) - F.col("d3").cast("double") / F.col("n3")
    return per_row.select(
        "doc_id",
        top_ratio.alias("top_token_ratio"),
        dup_ratio.alias("dup_3gram_ratio"),
        F.when((top_ratio > 0.2) | (dup_ratio > 0.3), 1).otherwise(0).alias("flagged"),
    )


@query(
    "stratified_sample",
    """
    SELECT doc_id, lang, source
    FROM documents
    WHERE substr(md5(concat('sample:', CAST(doc_id AS VARCHAR))), 1, 2)
          < CASE WHEN lang = 'en' THEN '80' ELSE '33' END
    """,
    tags=("sampling",),
    doc="Deterministic stratified sampling for domain mixing: keep rate "
    "0.5 for 'en', 0.2 otherwise, decided by comparing a salted md5 "
    "hex prefix against the per-stratum threshold ('80'/'33' hex = "
    "128/255, 51/255). Hash-based => reproducible across engines, "
    "cluster sizes and runs - the property random() sampling lacks.",
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))), 1, 2)
    thresh = F.when(F.col("lang") == "en", "80").otherwise("33")
    return docs.filter(bucket < thresh).select("doc_id", "lang", "source")


@query(
    "contamination_check",
    f"""
    WITH t AS (
      SELECT doc_id,
             {sql_tokens()} AS toks
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4]) AS g
      FROM t, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, GREATEST(len(toks) - 4, 0))) AS i) s
    ),
    bench AS (SELECT doc_id AS bench_id, g FROM grams WHERE doc_id < 10),
    corpus AS (SELECT doc_id, g FROM grams WHERE doc_id >= 10)
    SELECT c.doc_id, b.bench_id, COUNT(*) AS n_shared_5grams
    FROM corpus c JOIN bench b ON b.g = c.g
    GROUP BY c.doc_id, b.bench_id
    HAVING COUNT(*) >= 2
    """,
    tags=("text", "contamination"),
    doc="Benchmark-contamination check: corpus documents sharing >=2 "
    "distinct word-5-grams with any benchmark document (ids<10 stand "
    "in for the eval set). Inverted-index join on the gram - the "
    "benchmark side is tiny and broadcast, so the check costs one scan "
    "of the corpus grams at any corpus size.",
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    # hash each 5-gram instead of building its string: tokens hashed
    # once, gram hash = xxhash64 of 5 adjacent token-longs — the
    # distinct/explode/broadcast-join all move 8-byte longs instead of
    # ~30-byte strings, and no per-gram array or string is allocated.
    # Shared-gram counts are unchanged unless two distinct grams of a
    # (corpus doc, bench doc) pair collide in 64 bits.
    with_th = docs.select("doc_id", F.transform(toks, lambda t: F.xxhash64(t)).alias("th"))
    grams_arr = F.transform(
        seq1(F.size(F.col("th")) - 4),
        lambda i: F.xxhash64(*[F.element_at("th", i + j) for j in range(5)]),
    )
    grams = with_th.select("doc_id", F.explode(F.array_distinct(grams_arr)).alias("g"))
    bench = grams.filter(F.col("doc_id") < 10).select(F.col("doc_id").alias("bench_id"), "g")
    corpus = grams.filter(F.col("doc_id") >= 10)
    return (
        corpus.join(F.broadcast(bench), "g")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared_5grams"))
        .filter(F.col("n_shared_5grams") >= 2)
    )


@query(
    "token_diversity",
    f"""
    WITH t AS (
      SELECT doc_id, {sql_tokens()} AS toks FROM documents
    ),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS cnt
      FROM t, LATERAL (SELECT UNNEST(toks) AS tok) u
      GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_distinct,
           1.0 - CAST(SUM(cnt * cnt) AS DOUBLE)
                 / (CAST(SUM(cnt) AS DOUBLE) * CAST(SUM(cnt) AS DOUBLE))
             AS simpson_diversity
    FROM tf GROUP BY doc_id
    """,
    tags=("text", "quality"),
    doc="Token diversity (Simpson index 1 - sum(cnt^2)/n^2): a "
    "log-free concentration metric for repetition filtering (entropy "
    "needs ln, which is not correctly-rounded cross-engine; Simpson is "
    "exact: integer sums + one IEEE division). Computed PER ROW with "
    "aggregate() over the sorted token array - token counts come from "
    "run lengths of the sorted array, so there is no explode and NO "
    "SHUFFLE at any corpus size.",
)
def token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # run-length pass over the SORTED token array: one aggregate() with
    # (sum_sq, run_len, prev, n_distinct) accumulator — cnt^2 terms are
    # exact 64-bit ints, so the single final division is bit-identical
    # to the oracle's grouped-count formulation.
    srt = F.array_sort(tokens(F.col("text")))
    acc0 = F.struct(
        F.lit(0).cast("long").alias("ss"),
        F.lit(0).cast("long").alias("run"),
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("nd"),
    )
    step = lambda a, x: F.struct(  # noqa: E731
        F.when(a["prev"].isNull() | (x == a["prev"]), a["ss"]).otherwise(
            a["ss"] + a["run"] * a["run"]
        ).alias("ss"),
        F.when(a["prev"].isNull() | (x != a["prev"]), F.lit(1).cast("long"))
        .otherwise(a["run"] + 1)
        .alias("run"),
        x.alias("prev"),
        F.when(a["prev"].isNull() | (x != a["prev"]), a["nd"] + 1)
        .otherwise(a["nd"])
        .alias("nd"),
    )
    fin = lambda a: F.struct(  # noqa: E731
        (a["ss"] + a["run"] * a["run"]).alias("ss"), a["nd"].alias("nd")
    )
    agg = F.aggregate(srt, acc0, step, fin)
    n = F.size(srt).cast("long")
    base = docs.select("doc_id", n.alias("n_tokens"), agg.alias("r"))
    nt = F.col("n_tokens")
    return base.select(
        "doc_id",
        "n_tokens",
        F.col("r")["nd"].alias("n_distinct"),
        (
            F.lit(1.0)
            - F.col("r")["ss"].cast("double") / (nt.cast("double") * nt.cast("double"))
        ).alias("simpson_diversity"),
    )


HIST_BIN_WIDTH = 50
HIST_MAX_CHARS = 600


@query(
    "doc_length_histogram",
    f"""
    SELECT LEAST(CAST(FLOOR(n_chars / {HIST_BIN_WIDTH}) AS BIGINT),
                 {HIST_MAX_CHARS // HIST_BIN_WIDTH}) AS bin,
           LEAST(CAST(FLOOR(n_chars / {HIST_BIN_WIDTH}) AS BIGINT),
                 {HIST_MAX_CHARS // HIST_BIN_WIDTH}) * {HIST_BIN_WIDTH} AS bin_lo,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1, 2
    """,
    tags=("text", "statistics"),
    doc="Fixed-width doc-length histogram with a clamped overflow "
    "bucket - the corpus-shape monitor (a scraper emitting truncated "
    "or runaway docs shows up as mass shifting between bins). Pure "
    "integer bin arithmetic, one aggregation whose output is |bins| "
    "rows regardless of corpus size; partial aggregation makes the "
    "shuffle |bins| x partitions.",
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bin_col = F.least(
        F.floor(F.col("n_chars") / HIST_BIN_WIDTH),
        F.lit(HIST_MAX_CHARS // HIST_BIN_WIDTH),
    )
    return (
        docs.select(bin_col.alias("bin"), "n_chars")
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .select("bin", (F.col("bin") * HIST_BIN_WIDTH).alias("bin_lo"), "n_docs", "total_chars")
    )


@query(
    "decontaminate_corpus",
    None,  # late-bound below: composes contamination_check's oracle
    tags=("text", "contamination", "curation"),
    doc="The removal half of contamination control: per-source corpus "
    "counts after dropping every document contamination_check flags "
    "(>=2 shared 5-grams with the benchmark set). Composes the check "
    "query's builder/oracle verbatim, so check and removal can never "
    "disagree; removal itself is one broadcast anti-join of the "
    "corpus against the (tiny) flagged set. The REGISTERED query "
    "measures the from-scratch (same-job) mode; at 100 TB run the "
    "check once, materialize the flagged ids, and report via "
    "decontaminate_from(docs, spark.read.parquet(flagged_path)) - "
    "pytest-pinned equal.",
)
def decontaminate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    flagged = contamination_check(spark, sf_dir).select("doc_id").distinct()
    return decontaminate_from(docs, flagged)


def decontaminate_from(docs: DataFrame, flagged: DataFrame) -> DataFrame:
    """The removal/report body over a precomputed flagged-id artifact
    (the examples/example_incremental.py pattern): one broadcast
    anti-join + one aggregation — no re-run of the contamination scan
    per report."""
    clean = docs.where(F.col("doc_id") >= 10).join(
        F.broadcast(flagged.select("doc_id")), "doc_id", "left_anti"
    )
    return clean.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )


from porcupine_spark.plans.registry import REGISTRY as _REG  # noqa: E402

_REG["decontaminate_corpus"].oracle = f"""
    WITH flagged AS (
      SELECT DISTINCT doc_id FROM ({_REG["contamination_check"].oracle}) f
    )
    SELECT d.source, COUNT(*) AS n_docs,
           CAST(SUM(d.n_chars) AS BIGINT) AS n_chars
    FROM documents d
    WHERE d.doc_id >= 10
      AND d.doc_id NOT IN (SELECT doc_id FROM flagged)
    GROUP BY d.source
"""


@query(
    "lang_agreement_matrix",
    None,  # late-bound below: composes lang_id's oracle verbatim
    tags=("text", "evaluation", "monitoring"),
    doc="Language-ID agreement matrix: labeled language x heuristic "
    "prediction with counts and the mean confidence per cell (exact "
    "integer micro-units) - the calibration report you read before "
    "trusting EITHER the upstream labels or the classifier for "
    "filtering decisions (a hot off-diagonal cell means label noise "
    "or a systematically confused register). Composes lang_id's "
    "verified builder and oracle; the matrix is a "
    "|labels|x|predictions| aggregation past the per-row scoring.",
)
def lang_agreement_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    preds = lang_id(spark, sf_dir)
    return (
        preds.groupBy("lang_label", "lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            # trunc (double->long cast == DuckDB TRUNC) not a decimal
            # cast: rounding at the micro digit is convention-dependent
            F.expr(
                "CAST(sum(CAST(CAST(confidence * 1000000 AS BIGINT) AS DECIMAL(38,0)))"
                " div count(1) AS DECIMAL(38,0))"
            )
            .cast("long")
            .alias("mean_confidence_micro"),
        )
    )


_REG["lang_agreement_matrix"].oracle = f"""
    WITH p AS ({_REG["lang_id"].oracle})
    SELECT lang_label, lang_pred,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(TRUNC(confidence * 1000000) AS HUGEINT))
                // COUNT(*) AS BIGINT) AS mean_confidence_micro
    FROM p GROUP BY lang_label, lang_pred
"""


TRIM_PCT = 5  # winsorize 5% per tail


@query(
    "winsorized_length_stats",
    f"""
    WITH r AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM documents
    ),
    b AS (
      SELECT source, MAX(n) AS n,
             MAX(CASE WHEN rn = n * {TRIM_PCT} // 100 + 1 THEN n_chars END) AS p_lo,
             MAX(CASE WHEN rn = n - n * {TRIM_PCT} // 100 THEN n_chars END) AS p_hi
      FROM r GROUP BY source
    )
    SELECT r.source, b.n AS n_docs, b.p_lo AS p05_chars, b.p_hi AS p95_chars,
           CAST(CAST(SUM(r.n_chars) AS HUGEINT) * 1000000 // b.n AS BIGINT)
             AS raw_mean_micro,
           CAST(CAST(SUM(LEAST(GREATEST(r.n_chars, b.p_lo), b.p_hi)) AS HUGEINT)
                * 1000000 // b.n AS BIGINT) AS winsorized_mean_micro
    FROM r JOIN b ON b.source = r.source
    GROUP BY r.source, b.n, b.p_lo, b.p_hi
    """,
    tags=("text", "quality", "monitoring"),
    doc=f"Robust per-source length profile: exact {TRIM_PCT}/{100 - TRIM_PCT}"
    f" order-statistic bounds (rank {TRIM_PCT}% trimmed symmetrically, "
    f"doc_id tiebreak - deterministic, no interpolation convention to "
    f"disagree on) and the winsorized mean next to the raw mean, both "
    f"as integer micro-units via truncating division. A handful of "
    f"10 MB outlier docs drags a raw length mean enough to mis-tune "
    f"chunking and packing budgets; the winsorized mean doesn't move. "
    f"Shape: ONE shuffle on source for the rank window (range-"
    f"partitioned sort within source at scale), a |sources|-row bounds "
    f"table joined back broadcast, one aggregation.",
)
def winsorized_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy("n_chars", "doc_id")
    wc = W.partitionBy("source")
    r = docs.select(
        "source",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    k = F.expr(f"n * {TRIM_PCT} div 100")
    b = r.groupBy("source").agg(
        F.max("n").alias("n"),
        F.max(F.when(F.col("rn") == k + 1, F.col("n_chars"))).alias("p_lo"),
        F.max(F.when(F.col("rn") == F.col("n") - k, F.col("n_chars"))).alias("p_hi"),
    )
    clamped = F.least(F.greatest(F.col("n_chars"), F.col("p_lo")), F.col("p_hi"))
    return (
        r.join(F.broadcast(b.select("source", "n", "p_lo", "p_hi")), ["source", "n"])
        .groupBy("source", "n", "p_lo", "p_hi")
        .agg(
            F.expr("CAST(SUM(CAST(n_chars AS DECIMAL(38,0))) * 1000000 div n"
                   " AS DECIMAL(38,0))").cast("long").alias("raw_mean_micro"),
            F.sum(clamped.cast("decimal(38,0)")).alias("wsum"),
        )
        .select(
            "source",
            F.col("n").alias("n_docs"),
            F.col("p_lo").alias("p05_chars"),
            F.col("p_hi").alias("p95_chars"),
            "raw_mean_micro",
            F.expr("CAST(wsum * 1000000 div n AS DECIMAL(38,0))")
            .cast("long")
            .alias("winsorized_mean_micro"),
        )
    )


@query(
    "lang_id_kappa",
    None,  # late-bound below: composes lang_id's oracle verbatim
    tags=("text", "evaluation", "monitoring"),
    doc="Cohen's kappa between the upstream language labels and the "
    "heuristic classifier on the decision that actually gates "
    "curation: is-English vs other (label 'en' vs prediction "
    "'en-like'). Raw agreement flatters a skewed corpus - a filter "
    "that says 'other' always scores high agreement when English is "
    "rare; kappa subtracts the chance-agreement floor p_e computed "
    "from both marginals. Exact integers end-to-end: kappa = "
    "(po-pe)/(1-pe) cross-multiplied to (A*N - P)*1e6 div (N^2 - P) "
    "with A the agree count and P = sum_k row_k*col_k, so the "
    "statistic carries a hash oracle. Composes lang_id's verified "
    "builder; the whole computation past scoring is two marginal "
    "aggregates of a 2x2 table - constant-size output at any corpus. "
    "kappa_micro is NULL where chance agreement is total (labels and "
    "predictions put every doc in one class), as the oracle's division "
    "by zero gives it.",
)
def lang_id_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    preds = lang_id(spark, sf_dir)
    b = preds.select(
        F.when(F.col("lang_label") == "en", "en").otherwise("other").alias("y"),
        F.when(F.col("lang_pred") == "en-like", "en").otherwise("other").alias("p"),
    )
    cells = b.groupBy("y", "p").agg(F.count(F.lit(1)).alias("n"))
    return cells.agg(
        F.sum("n").alias("n_docs"),
        F.sum(F.when(F.col("y") == F.col("p"), F.col("n")).otherwise(0)).alias(
            "n_agree"
        ),
        F.expr(
            "CAST(sum(CASE WHEN y = p THEN n ELSE 0 END) * 1000000"
            " div sum(n) AS BIGINT)"
        ).alias("po_micro"),
        F.expr(
            "CAST((sum(CASE WHEN y = 'en' THEN n ELSE 0 END)"
            "      * CAST(sum(CASE WHEN p = 'en' THEN n ELSE 0 END) AS DECIMAL(38,0))"
            "    + sum(CASE WHEN y = 'other' THEN n ELSE 0 END)"
            "      * CAST(sum(CASE WHEN p = 'other' THEN n ELSE 0 END) AS DECIMAL(38,0)))"
            " * 1000000 div (CAST(sum(n) AS DECIMAL(38,0)) * sum(n)) AS BIGINT)"
        ).alias("pe_micro"),
        F.expr(
            "CAST((CAST(sum(CASE WHEN y = p THEN n ELSE 0 END) AS DECIMAL(38,0)) * sum(n)"
            "    - (sum(CASE WHEN y = 'en' THEN n ELSE 0 END)"
            "       * CAST(sum(CASE WHEN p = 'en' THEN n ELSE 0 END) AS DECIMAL(38,0))"
            "     + sum(CASE WHEN y = 'other' THEN n ELSE 0 END)"
            "       * CAST(sum(CASE WHEN p = 'other' THEN n ELSE 0 END) AS DECIMAL(38,0))))"
            " * 1000000"
            " div nullif(CAST(sum(n) AS DECIMAL(38,0)) * sum(n)"
            "    - (sum(CASE WHEN y = 'en' THEN n ELSE 0 END)"
            "       * CAST(sum(CASE WHEN p = 'en' THEN n ELSE 0 END) AS DECIMAL(38,0))"
            "     + sum(CASE WHEN y = 'other' THEN n ELSE 0 END)"
            "       * CAST(sum(CASE WHEN p = 'other' THEN n ELSE 0 END) AS DECIMAL(38,0))), 0)"
            " AS BIGINT)"
        ).alias("kappa_micro"),
    )


_REG["lang_id_kappa"].oracle = f"""
    WITH p0 AS ({_REG["lang_id"].oracle}),
    b AS (
      SELECT CASE WHEN lang_label = 'en' THEN 'en' ELSE 'other' END AS y,
             CASE WHEN lang_pred = 'en-like' THEN 'en' ELSE 'other' END AS p
      FROM p0
    ),
    cells AS (SELECT y, p, COUNT(*) AS n FROM b GROUP BY y, p)
    SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN y = p THEN n ELSE 0 END) AS BIGINT) AS n_agree,
           CAST(SUM(CASE WHEN y = p THEN n ELSE 0 END) * 1000000
                // SUM(n) AS BIGINT) AS po_micro,
           CAST((SUM(CASE WHEN y = 'en' THEN n ELSE 0 END)
                   * CAST(SUM(CASE WHEN p = 'en' THEN n ELSE 0 END) AS HUGEINT)
                 + SUM(CASE WHEN y = 'other' THEN n ELSE 0 END)
                   * CAST(SUM(CASE WHEN p = 'other' THEN n ELSE 0 END) AS HUGEINT))
                * 1000000 // (CAST(SUM(n) AS HUGEINT) * SUM(n)) AS BIGINT) AS pe_micro,
           CAST((CAST(SUM(CASE WHEN y = p THEN n ELSE 0 END) AS HUGEINT) * SUM(n)
                 - (SUM(CASE WHEN y = 'en' THEN n ELSE 0 END)
                      * CAST(SUM(CASE WHEN p = 'en' THEN n ELSE 0 END) AS HUGEINT)
                    + SUM(CASE WHEN y = 'other' THEN n ELSE 0 END)
                      * CAST(SUM(CASE WHEN p = 'other' THEN n ELSE 0 END) AS HUGEINT)))
                * 1000000
                // (CAST(SUM(n) AS HUGEINT) * SUM(n)
                    - (SUM(CASE WHEN y = 'en' THEN n ELSE 0 END)
                         * CAST(SUM(CASE WHEN p = 'en' THEN n ELSE 0 END) AS HUGEINT)
                       + SUM(CASE WHEN y = 'other' THEN n ELSE 0 END)
                         * CAST(SUM(CASE WHEN p = 'other' THEN n ELSE 0 END) AS HUGEINT)))
                AS BIGINT) AS kappa_micro
    FROM cells
"""


@query(
    "tokenizer_fertility",
    f"""
    WITH t AS (
      SELECT lang,
             len({sql_tokens()}) AS n_ws,
             len(regexp_extract_all(text, '{_RE_TOKEN}')) AS n_re,
             length(text) AS n_chars
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_ws) AS BIGINT) AS n_tokens_ws,
           CAST(SUM(n_re) AS BIGINT) AS n_tokens_re,
           CAST(CAST(SUM(n_re) AS HUGEINT) * 1000000 // SUM(n_ws) AS BIGINT)
             AS fertility_micro,
           CAST(CAST(SUM(n_chars) AS HUGEINT) * 1000000 // SUM(n_re) AS BIGINT)
             AS chars_per_token_micro
    FROM t GROUP BY lang
    """,
    tags=("text", "tokens", "monitoring"),
    doc="Tokenizer fertility per language: BPE-ish subword tokens per "
    "whitespace word (and chars per subword token), in integer "
    "micro-units via truncating division. Fertility is THE per-"
    "language cost multiplier - a language at 2x fertility burns 2x "
    "context window and 2x training compute per word, so mixing "
    "budgets quoted in 'tokens' silently under-sample it; this report "
    "feeds the token_budget_waterfill planner per-language instead of "
    "per-source. Zero joins: one pass computing both tokenizations "
    "per row, one |langs|-key map-side-combined aggregation.",
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_ws = F.size(tokens(F.col("text")))
    n_re = F.size(F.regexp_extract_all("text", F.lit(_RE_TOKEN), 0))
    t = docs.select(
        "lang",
        n_ws.alias("n_ws"),
        n_re.alias("n_re"),
        F.length("text").alias("n_chars"),
    )
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_ws").cast("long").alias("n_tokens_ws"),
        F.sum("n_re").cast("long").alias("n_tokens_re"),
        F.expr(
            "CAST(CAST(sum(n_re) AS DECIMAL(38,0)) * 1000000 div sum(n_ws) AS BIGINT)"
        ).alias("fertility_micro"),
        F.expr(
            "CAST(CAST(sum(n_chars) AS DECIMAL(38,0)) * 1000000 div sum(n_re) AS BIGINT)"
        ).alias("chars_per_token_micro"),
    )


@query(
    "doc_length_mad",
    """
    WITH r AS (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM documents
    ),
    med AS (
      SELECT source, MAX(n) AS n_docs,
             MAX(CASE WHEN rn = (n + 1) // 2 THEN n_chars END) AS median_chars
      FROM r GROUP BY source
    ),
    dev AS (
      SELECT r.source, ABS(r.n_chars - m.median_chars) AS d, r.doc_id
      FROM r JOIN med m ON m.source = r.source
    ),
    rd AS (
      SELECT source, d,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY d, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM dev
    )
    SELECT m.source, m.n_docs, m.median_chars,
           MAX(CASE WHEN rd.rn = (rd.n + 1) // 2 THEN rd.d END) AS mad_chars,
           CAST(CAST(MAX(CASE WHEN rd.rn = (rd.n + 1) // 2 THEN rd.d END) AS HUGEINT)
                * 1000000 // m.median_chars AS BIGINT) AS mad_over_median_micro
    FROM rd JOIN med m ON m.source = rd.source
    GROUP BY m.source, m.n_docs, m.median_chars
    """,
    tags=("text", "quality", "orderstats"),
    doc="Median absolute deviation of document length per source - the "
    "fully robust dispersion number (50% breakdown point; stddev and "
    "even the winsorized mean move under coordinated outliers, the "
    "MAD does not), plus MAD/median in integer micro-units as the "
    "scale-free spread comparable across sources. EXACT lower-median "
    "convention both passes (rank (n+1)//2, doc_id tiebreak - no "
    "interpolation convention to disagree on), so the whole statistic "
    "is integers. Shape: two rank windows partitioned by source "
    "(range-partitioned sorts at scale) with a broadcast "
    "|sources|-row median table between them - the two-pass "
    "order-statistic discipline of winsorized_length_stats, one "
    "deviation step deeper.",
)
def doc_length_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    wr = W.partitionBy("source").orderBy("n_chars", "doc_id")
    wc = W.partitionBy("source")
    r = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    med = r.groupBy("source").agg(
        F.max("n").alias("n_docs"),
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("n_chars"))
        ).alias("median_chars"),
    )
    dev = r.join(F.broadcast(med), "source").select(
        "source",
        "doc_id",
        F.abs(F.col("n_chars") - F.col("median_chars")).alias("d"),
    )
    wd = W.partitionBy("source").orderBy("d", "doc_id")
    rd = dev.select(
        "source",
        "d",
        F.row_number().over(wd).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("source")).alias("n"),
    )
    mad = rd.groupBy("source").agg(
        F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("d"))).alias(
            "mad_chars"
        )
    )
    return (
        med.join(mad, "source")
        .select(
            "source",
            "n_docs",
            "median_chars",
            "mad_chars",
            F.expr(
                "CAST(CAST(mad_chars AS DECIMAL(38,0)) * 1000000"
                " div median_chars AS BIGINT)"
            ).alias("mad_over_median_micro"),
        )
    )


VERBATIM_PROBE_TOKENS = 5


@query(
    "verbatim_contamination",
    f"""
    WITH bench AS (
      SELECT doc_id AS bench_id,
             array_to_string(
               ({sql_tokens()})
                 [1:{VERBATIM_PROBE_TOKENS}], ' ') AS probe
      FROM documents WHERE doc_id < 10
    )
    SELECT d.doc_id, bench.bench_id, bench.probe
    FROM documents d, bench
    WHERE d.doc_id >= 10 AND position(bench.probe IN d.text) > 0
    """,
    tags=("text", "contamination"),
    doc=f"VERBATIM contamination probe — the strict complement of the "
    "n-gram check (contamination_check flags shared vocabulary; this "
    "flags literal copying): corpus documents containing a benchmark "
    f"document's opening {VERBATIM_PROBE_TOKENS}-token span as an "
    "exact substring. Exact-substring sweeps (the Lee et al. "
    "suffix-array discipline) are what decontamination standards "
    "actually require; the opening-span probe is the streaming-"
    "friendly form — one broadcast of |bench| probe strings, one "
    "contains() per (doc, probe), no index build. The 10-row bench "
    "side is the allowlisted bounded-broadcast class.",
)
def verbatim_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    probe = F.concat_ws(
        " ", F.slice(tokens(F.col("text")), 1, VERBATIM_PROBE_TOKENS)
    )
    bench = (
        docs.filter(F.col("doc_id") < 10)
        .select(F.col("doc_id").alias("bench_id"), probe.alias("probe"))
    )
    return (
        docs.filter(F.col("doc_id") >= 10)
        .crossJoin(F.broadcast(bench))
        .filter(F.expr("position(probe IN text) > 0"))
        .select("doc_id", "bench_id", "probe")
    )
