"""Segment-level (pseudo-paragraph) deduplication — the CCNet /
RefinedWeb "drop duplicated paragraphs" pass, re-expressed for a corpus
whose documents are single-line (TESTDATA.md): a *segment* is a
non-overlapping window of SEG_TOKENS whitespace tokens (last segment
ragged), which plays the role newline-delimited paragraphs play in web
text. The reference has no corpus operators at all (porcupine-core is a
task/IO framework — see porcupine-core/src/System/TaskPipeline/Run.hs);
this family is part of the beyond-reference training-data surface.

Scale posture (100 TB): the explode produces one row per segment, but
everything after the segmentation shuffles only (doc_id, source,
60-bit segment hash) longs — never segment text. Per-hash statistics
are one hash-keyed aggregation; the join back to instances is a second
hash-keyed shuffle. Both are the same shape as dedup_exact
(operators/dedup.py) which BENCH_SCALE10X measures at ~1x per 10x data.
No window functions over unbounded partitions, no driver collection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from porcupine_spark.functions import seq1
from porcupine_spark.functions.hashing import md5_long60
from porcupine_spark.operators.text import sql_tokens, tokens
from porcupine_spark.plans.registry import query
from porcupine_spark.tables import load_table

SEG_TOKENS = 8
# A doc keeps its place in the corpus when at most half of its segments
# are corpus-duplicated (the CCNet paragraph-dedup keep rule shape).
DUP_FRAC_KEEP_PPM = 500_000

# Shared CTE: one row per (doc_id, source, seg_idx, 60-bit segment
# hash). seg_idx is 0-based. Mirrors _segments() below exactly.
_SQL_SEGS = f"""segs AS (
      SELECT doc_id, source,
             CAST(i - 1 AS BIGINT) AS seg_idx,
             CAST(concat('0x', substr(md5(concat('seg:',
               array_to_string(toks[(i-1)*{SEG_TOKENS}+1 : i*{SEG_TOKENS}], ' '))), 1, 15))
               AS BIGINT) AS seg_hash
      FROM (SELECT doc_id, source, {sql_tokens()} AS toks FROM documents) t,
      LATERAL (
        SELECT UNNEST(GENERATE_SERIES(1,
          CAST(CEIL(CAST(len(toks) AS DOUBLE) / {SEG_TOKENS}) AS BIGINT))) AS i
      ) s
    )"""


def _segments(docs: DataFrame) -> DataFrame:
    """One row per (doc_id, source, seg_idx, seg_hash): non-overlapping
    SEG_TOKENS-token windows, hashed to 60-bit longs. Segment text is
    dropped inside this projection — nothing downstream shuffles it."""
    toks = tokens(F.col("text"))
    n_segs = F.ceil(F.size(toks).cast("double") / SEG_TOKENS).cast("int")
    seg_texts = F.transform(
        seq1(n_segs),
        lambda i: F.concat_ws(" ", F.slice(toks, (i - 1) * SEG_TOKENS + 1, SEG_TOKENS)),
    )
    return docs.select(
        "doc_id", "source", F.posexplode(seg_texts).alias("seg_idx", "seg_text")
    ).select(
        "doc_id",
        "source",
        F.col("seg_idx").cast("long").alias("seg_idx"),
        md5_long60(F.concat(F.lit("seg:"), F.col("seg_text"))).alias("seg_hash"),
    )


@query(
    "segment_dup_fraction",
    f"""
    WITH {_SQL_SEGS},
    perdoc AS (
      SELECT doc_id, seg_hash, COUNT(*) AS n_inst
      FROM segs GROUP BY doc_id, seg_hash
    ),
    df AS (
      SELECT seg_hash, COUNT(*) AS n_docs FROM perdoc GROUP BY seg_hash
    )
    SELECT p.doc_id,
           CAST(SUM(p.n_inst) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN df.n_docs >= 2 THEN p.n_inst ELSE 0 END) AS BIGINT)
             AS n_dup_segments,
           CAST(SUM(CASE WHEN df.n_docs >= 2 THEN p.n_inst ELSE 0 END) * 1000000
                // SUM(p.n_inst) AS BIGINT) AS dup_frac_ppm,
           CASE WHEN SUM(CASE WHEN df.n_docs >= 2 THEN p.n_inst ELSE 0 END) * 1000000
                     // SUM(p.n_inst) <= {DUP_FRAC_KEEP_PPM}
                THEN 1 ELSE 0 END AS keep
    FROM perdoc p JOIN df USING (seg_hash)
    GROUP BY p.doc_id
    """,
    tags=("dedup", "segments", "curation"),
    doc=f"CCNet-style paragraph-dedup gate at segment granularity: per "
    f"document, the fraction (ppm) of its {SEG_TOKENS}-token segments "
    "whose hash occurs in >= 2 distinct documents, and a keep flag at "
    f"<= {DUP_FRAC_KEEP_PPM} ppm. A segment repeated only WITHIN one "
    "document does not count as duplicated (that is repetition_ratio's "
    "job); cross-document boilerplate does. Two hash-keyed shuffles on "
    "(doc_id, seg_hash) longs; segment text never leaves the "
    "segmentation projection.",
)
def segment_dup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    perdoc = (
        _segments(docs)
        .groupBy("doc_id", "seg_hash")
        .agg(F.count(F.lit(1)).alias("n_inst"))
    )
    df = perdoc.groupBy("seg_hash").agg(F.count(F.lit(1)).alias("n_docs"))
    dup_inst = F.sum(F.when(F.col("n_docs") >= 2, F.col("n_inst")).otherwise(F.lit(0)))
    tot_inst = F.sum("n_inst")
    dup_ppm = (dup_inst * F.lit(1_000_000)).cast("long") / tot_inst.cast("long")
    # truncating integer division, mirrored by DuckDB // (both operands
    # non-negative here so floor == trunc)
    dup_ppm = F.floor(dup_ppm).cast("long")
    return (
        perdoc.join(df, "seg_hash")
        .groupBy("doc_id")
        .agg(
            tot_inst.cast("long").alias("n_segments"),
            dup_inst.cast("long").alias("n_dup_segments"),
            dup_ppm.alias("dup_frac_ppm"),
            F.when(dup_ppm <= DUP_FRAC_KEEP_PPM, 1).otherwise(0).alias("keep"),
        )
    )


@query(
    "segment_dedup_retention",
    f"""
    WITH {_SQL_SEGS},
    keyed AS (
      SELECT source, seg_hash, doc_id * 1000000 + seg_idx AS occ_key
      FROM segs
    ),
    firsts AS (
      SELECT seg_hash, MIN(occ_key) AS first_key FROM keyed GROUP BY seg_hash
    )
    SELECT k.source,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(COUNT(DISTINCT k.seg_hash) AS BIGINT) AS n_distinct,
           CAST(SUM(CASE WHEN k.occ_key = f.first_key THEN 1 ELSE 0 END) AS BIGINT)
             AS n_surviving,
           CAST(SUM(CASE WHEN k.occ_key = f.first_key THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS retention_ppm
    FROM keyed k JOIN firsts f USING (seg_hash)
    GROUP BY k.source
    """,
    tags=("dedup", "segments", "monitoring"),
    doc="Corpus-level segment-dedup retention report per source: how "
    "many segment instances survive global first-occurrence dedup "
    "(keep the instance with the smallest (doc_id, seg_idx), encoded "
    "as the single long doc_id*1e6+seg_idx — exact while seg_idx < 1e6, "
    "guaranteed since documents are < 8e6 tokens). The survivor rule is "
    "deterministic and position-stable, so the report is reproducible "
    "run-to-run; retention_ppm is the number a curation pipeline "
    "watches to catch a boilerplate regression upstream. Same two "
    "hash-keyed shuffles as segment_dup_fraction; the firsts table is "
    "hash-keyed, never collected.",
)
def segment_dedup_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    keyed = _segments(docs).select(
        "source",
        "seg_hash",
        (F.col("doc_id") * F.lit(1_000_000) + F.col("seg_idx")).alias("occ_key"),
    )
    firsts = keyed.groupBy("seg_hash").agg(F.min("occ_key").alias("first_key"))
    surviving = F.sum(
        F.when(F.col("occ_key") == F.col("first_key"), 1).otherwise(0)
    )
    return (
        keyed.join(firsts, "seg_hash")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.countDistinct("seg_hash").cast("long").alias("n_distinct"),
            surviving.cast("long").alias("n_surviving"),
            F.floor(
                (surviving * F.lit(1_000_000)).cast("long") / F.count(F.lit(1))
            ).cast("long").alias("retention_ppm"),
        )
    )
