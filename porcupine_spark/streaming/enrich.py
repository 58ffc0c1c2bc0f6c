"""Stream-static enrichment join: an unbounded event stream joined to
a bounded dimension table, then windowed.

This is the canonical streaming-ETL topology Structured Streaming was
built for (and the streaming counterpart of the batch broadcast dim
joins in plans/relational.py): the static side is a regular DataFrame,
Spark plans the join as a per-microbatch broadcast — no stream-side
state is kept for the join itself, so it scales with the dim size, not
the stream length. State exists only in the windowed aggregation and
is bounded by the watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from porcupine_spark.functions.driverstate import materialize
from porcupine_spark.operators.text import tokens
from porcupine_spark.plans.registry import query
from porcupine_spark.streaming.drain import drain, state_sized_session
from porcupine_spark.tables import load_events_stream, load_table


@query(
    "stream_static_enrich",
    """
    WITH dim AS (
      SELECT event_type, length(event_type) AS wgt
      FROM (SELECT DISTINCT event_type FROM events)
    )
    SELECT CAST(date_trunc('hour', e.ts) AS TIMESTAMP_NS) AS window_start,
           CAST(date_trunc('hour', e.ts) + INTERVAL 1 HOUR AS TIMESTAMP_NS)
             AS window_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,6)) * CAST(d.wgt AS DECIMAL(4,0)))
                AS DOUBLE) AS weighted_value
    FROM events e JOIN dim d USING (event_type)
    GROUP BY 1, 2
    """,
    tags=("streaming", "join"),
    doc="Stream-static enrichment: file-source event stream broadcast-"
    "joined per microbatch to a bounded dimension (event_type -> "
    "deterministic weight), then tumbling 1h windows of count + exact-"
    "decimal weighted value. Join keeps zero streaming state; agg state "
    "is watermark-bounded. Batch oracle by the window/date_trunc "
    "equivalence.",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    # state keys = windows only (a few hundred); size state partitioning
    # to that, same discipline as the other stateful stream builders
    spark = state_sized_session(spark)
    # static dim: bounded, derived deterministically from the batch view
    dim = (
        load_table(spark, sf_dir, "events")
        .select("event_type")
        .distinct()
        .withColumn("wgt", F.length("event_type"))
    )
    stream = load_events_stream(spark, sf_dir)
    enriched = stream.join(F.broadcast(dim), "event_type")
    agg = (
        enriched.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.col("value").cast("decimal(18,6)") * F.col("wgt").cast("decimal(4,0)")
            )
            .cast("double")
            .alias("weighted_value"),
        )
    )
    return drain(agg, "complete").select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "n_events",
        "weighted_value",
    )


@query(
    "stream_near_dedup",
    None,  # late-bound below: the batch twin is incremental_dedup's oracle
    tags=("streaming", "dedup"),
    doc="STREAMING ingest dedup - incremental_dedup's topology on an "
    "unbounded document stream: each arriving document (doc_id % 5 == "
    "0 plays the incoming crawl) is flagged exact-dup (md5 digest "
    "semi against the static corpus) and near-dup (minhash band "
    "signatures semi against the corpus's precomputed band table). "
    "Both corpus sides are bounded static DataFrames broadcast per "
    "microbatch; the stream side computes digest + signatures with "
    "PER-ROW stateless expressions (minhash_signatures: no explode, "
    "no shuffle), each band is its OWN COLUMN joined to its own "
    "broadcast index (no band explode -> no per-doc re-aggregation), "
    "and the sink runs in APPEND mode - the query keeps ZERO "
    "streaming state and emits each doc's flags exactly once, so it "
    "scales with the corpus index size, not the stream length. "
    "Oracle: composes incremental_dedup's verbatim (the batch twin "
    "must agree row-for-row once the stream drains).",
)
def stream_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from porcupine_spark.operators.dedup import (
        N_BANDS,
        NEW_BATCH_MOD,
        _band_table,
        minhash_signatures,
    )
    from porcupine_spark.tables import load_docs_stream

    spark = state_sized_session(spark)
    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(~(F.col("doc_id") % NEW_BATCH_MOD == 0))
    # materialize the static corpus indexes ONCE — lazy, each of the
    # 4 per-band join subtrees (plus the exact-hash side) would
    # re-run the whole corpus minhash pipeline per microbatch.
    # The two indexes are independent: materialize them CONCURRENTLY
    # (guide §2.6 — the md5-distinct's shuffle tail backfills with the
    # minhash compute; interleaved A/B min-of-5 3.21 -> 2.55 s).
    from porcupine_spark.functions.concurrent import run_concurrently

    base_h, base_bands = run_concurrently(
        lambda: base.select(F.md5(F.trim(F.col("text"))).alias("h"))
        .distinct()
        .transform(materialize),
        lambda: _band_table(minhash_signatures(base)).transform(materialize),
    )

    stream = load_docs_stream(spark, sf_dir).filter(
        F.col("doc_id") % NEW_BATCH_MOD == 0
    )
    # ONE stream branch (a second branch off the same source would be a
    # stream-stream self-join). Band signatures stay COLUMNS (sig0..3),
    # one per band, each left-joined to that band's broadcast index —
    # no explode means no per-doc fold afterwards, which is what lets
    # the sink run append-mode with zero state.
    sigs = minhash_signatures(
        stream.withColumn("h", F.md5(F.trim(F.col("text")))), keep=("h",)
    )
    enriched = sigs.select(
        "doc_id",
        "h",
        *[
            (F.col(f"mh{2 * b}") * F.lit(1 << 31) + F.col(f"mh{2 * b + 1}")).alias(
                f"sig{b}"
            )
            for b in range(N_BANDS)
        ],
    ).join(F.broadcast(base_h.withColumn("exact_hit", F.lit(True))), "h", "left")
    for b in range(N_BANDS):
        idx = (
            base_bands.filter(F.col("band") == b)
            .select(F.col("sig").alias(f"sig{b}"))
            .distinct()
            .withColumn(f"hit{b}", F.lit(True))
        )
        enriched = enriched.join(F.broadcast(idx), f"sig{b}", "left")
    flags = enriched.select(
        "doc_id",
        F.coalesce("exact_hit", F.lit(False)).alias("exact_dup"),
        F.coalesce(
            *[F.col(f"hit{b}") for b in range(N_BANDS)], F.lit(False)
        ).alias("near_dup"),
    )
    return drain(flags, "append").select("doc_id", "exact_dup", "near_dup")


from porcupine_spark.plans.registry import REGISTRY as _REG  # noqa: E402

_REG["stream_near_dedup"].oracle = _REG["incremental_dedup"].oracle


@query(
    "stream_quality_gate",
    None,  # late-bound below: composes gopher_quality_filter's oracle
    tags=("streaming", "curation"),
    doc="STREAMING quality gate - the Gopher rule filter applied to an "
    "unbounded document stream with a per-source pass-rate rollup: "
    "the rules are per-row column expressions (zero streaming state "
    "beyond the |sources|-key aggregate), so the gate runs at ingest "
    "speed and the rollup is the live data-quality dashboard for an "
    "arriving crawl. Composes gopher_quality_filter's builder "
    "(gopher_flags on the stream, source riding the same branch) and "
    "oracle verbatim - stream and batch can never disagree.",
)
def stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from porcupine_spark.operators.curation import gopher_flags
    from porcupine_spark.tables import load_docs_stream

    spark = state_sized_session(spark)
    stream = load_docs_stream(spark, sf_dir)
    flags = gopher_flags(stream, keep_cols=("source",))
    agg = flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("keep").alias("n_keep"),
    )
    return drain(agg, "complete").select("source", "n_docs", "n_keep")


_REG["stream_quality_gate"].oracle = f"""
    WITH f AS ({_REG["gopher_quality_filter"].oracle})
    SELECT d.source, COUNT(*) AS n_docs, CAST(SUM(f.keep) AS BIGINT) AS n_keep
    FROM f JOIN documents d USING (doc_id)
    GROUP BY d.source
"""


@query(
    "stream_segment_gate",
    None,  # late-bound below: composes segment_dup_fraction's oracle
    tags=("streaming", "dedup", "segments", "curation"),
    doc="Streaming twin of the CCNet segment-dedup gate "
    "(segment_dup_fraction): arriving documents are scored against a "
    "BROADCAST corpus segment-frequency index (the batch-built "
    "per-hash doc counts — refreshed per ingest cycle in production), "
    "exactly the stream_near_dedup topology: ZERO streaming state, "
    "per-row segmentation + one broadcast join, so an unbounded crawl "
    "costs one scan. Note the semantics wrinkle inherited honestly "
    "from the index design: the index counts each stream doc itself "
    "(the corpus IS the stream here), matching the batch query "
    "exactly; a production deployment scores new docs against "
    "yesterday's index and re-batches nightly. Oracle = "
    "segment_dup_fraction's verbatim.",
)
def stream_segment_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from porcupine_spark.operators.segments import (
        DUP_FRAC_KEEP_PPM,
        _segments,
    )
    from porcupine_spark.tables import load_docs_stream

    ns = state_sized_session(spark)
    # batch-built broadcast index: per-hash distinct-doc counts
    docs = load_table(ns, sf_dir, "documents")
    df_index = (
        _segments(docs)
        .select("doc_id", "seg_hash")
        .distinct()
        .groupBy("seg_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    stream = load_docs_stream(ns, sf_dir)
    segs = _segments(stream)
    scored = segs.join(F.broadcast(df_index), "seg_hash")
    dup_inst = F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
    tot = F.count(F.lit(1))
    dup_ppm = F.floor((dup_inst * F.lit(1_000_000)).cast("long") / tot).cast("long")
    agg = scored.groupBy("doc_id").agg(
        tot.cast("long").alias("n_segments"),
        dup_inst.cast("long").alias("n_dup_segments"),
        dup_ppm.alias("dup_frac_ppm"),
        F.when(dup_ppm <= DUP_FRAC_KEEP_PPM, 1).otherwise(0).alias("keep"),
    )
    return drain(agg, "complete")


_REG["stream_segment_gate"].oracle = _REG["segment_dup_fraction"].oracle


@query(
    "stream_dsir_gate",
    None,  # late-bound below: composes dsir_proxy_selection's oracle
    tags=("streaming", "curation", "dsir", "selection"),
    doc="Streaming twin of the DSIR selection gate "
    "(dsir_proxy_selection): arriving documents are scored against "
    "the batch-built 1024-bucket lean index, embedded as a LITERAL "
    "boolean array in the streaming plan (1 KiB — the broadcast-index "
    "topology of stream_segment_gate, shrunk to a constant because "
    "the DSIR feature space is hashed to a FIXED width; production "
    "refreshes it per ingest cycle). Per row everything is JVM array "
    "expressions — tokenize, hash-bucket, count lean tokens — so the "
    "gate has ZERO streaming state besides the |sources|-key rollup; "
    "an unbounded crawl costs one scan. Same semantics wrinkle as "
    "stream_segment_gate, inherited honestly: the index here is "
    "built FROM the stream's own corpus so stream == batch exactly; "
    "production scores today's crawl against yesterday's index. "
    "Oracle = dsir_proxy_selection's, rolled up per source.",
)
def stream_dsir_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from porcupine_spark.operators.curation import (
        DSIR_BUCKETS,
        DSIR_KEEP_PPM,
        DSIR_SCALE,
        DSIR_TARGET_LANG,
        dsir_bucket,
        dsir_lean_index,
    )
    from porcupine_spark.tables import load_docs_stream

    ns = state_sized_session(spark)
    # batch phase: the 1024-bucket lean index — built through the SAME
    # shared helpers the batch scorer uses (tokens / dsir_bucket /
    # dsir_lean_index), so the gate cannot drift from dsir_proxy_selection
    # or the oracle by a stale expression copy
    docs = load_table(ns, sf_dir, "documents")
    is_t = F.col("lang") == DSIR_TARGET_LANG
    occ = docs.select(
        is_t.alias("is_t"),
        F.explode(tokens(F.col("text"))).alias("tok"),
    ).select("is_t", dsir_bucket(F.col("tok"), DSIR_BUCKETS).alias("b"))
    dist = dsir_lean_index(occ, DSIR_BUCKETS)
    # the whole feature space is DSIR_BUCKETS bools — collect once and
    # embed as a literal array (the documented driver-side boundary:
    # constant-width index, independent of corpus size)
    lean = [False] * DSIR_BUCKETS
    for row in dist.collect():
        lean[row.b] = bool(row.lean)
    lean_lit = F.array(*[F.lit(x) for x in lean])

    stream = load_docs_stream(ns, sf_dir)
    toks_col = tokens(F.col("text"))
    bucket = lambda t: dsir_bucket(t, DSIR_BUCKETS)  # noqa: E731
    scored = stream.select(
        "source",
        F.size(toks_col).alias("n_tokens"),
        F.size(
            F.filter(toks_col, lambda t: F.element_at(lean_lit, (bucket(t) + 1).cast("int")))
        ).alias("n_lean"),
    ).select(
        "source",
        (
            F.expr(f"(n_lean * CAST({DSIR_SCALE} AS BIGINT)) div n_tokens")
            >= DSIR_KEEP_PPM
        ).cast("long").alias("keep"),
    )
    agg = scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("keep").alias("n_keep")
    )
    return drain(agg, "complete").select("source", "n_docs", "n_keep")


def _late_bind_dsir_gate() -> None:
    from porcupine_spark.operators import curation as _cur  # noqa: F401  (registers dsir_proxy_selection)

    _REG["stream_dsir_gate"].oracle = f"""
    WITH s AS ({_REG["dsir_proxy_selection"].oracle})
    SELECT d.source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN s.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
    FROM s JOIN documents d USING (doc_id)
    GROUP BY d.source
    """


_late_bind_dsir_gate()


@query(
    "stream_familiarity_gate",
    None,  # late-bound below: composes bigram_familiarity_gate's oracle
    tags=("streaming", "curation", "quality", "lm-filter"),
    doc="Streaming twin of the LM-familiarity gate "
    "(bigram_familiarity_gate): arriving documents are scored against "
    "the batch-trained familiar-bigram table via a STREAM-STATIC join "
    "— the production ingest shape when the index is corpus-sized and "
    "cannot be a literal (the bigram vocab grows with the corpus, "
    "unlike DSIR's fixed 1024 buckets; at 100 TB the static side is a "
    "persisted bucketed artifact and Spark plans the join per "
    "micro-batch with zero stream-side join state). One streaming "
    "aggregation at document grain (count + conditional sum over the "
    "joined occurrences), then the ppm gate + per-source rollup run "
    "batch-side on the micro-result — the stream_topk_trending "
    "layering, because Structured Streaming allows one stateful agg "
    "per query. Index built from the stream's own corpus so stream == "
    "batch exactly (the stream_dsir_gate wrinkle, inherited honestly); "
    "production scores today's crawl against yesterday's counts. "
    "Oracle = bigram_familiarity_gate's, rolled up per source.",
)
def stream_familiarity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from porcupine_spark.functions import word_ngrams
    from porcupine_spark.operators.curation import (
        FAMIL_KEEP_PPM,
        FAMIL_MIN_N,
        FAMIL_SCALE,
    )
    from porcupine_spark.tables import load_docs_stream

    ns = state_sized_session(spark)
    # batch phase: train the familiar-bigram table with the SAME shared
    # expressions the batch gate uses (tokens + word_ngrams), so
    # the gate cannot drift from bigram_familiarity_gate by a stale copy
    docs = load_table(ns, sf_dir, "documents")
    ws = tokens(F.col("text"))
    familiar = (
        docs.filter(F.size(ws) >= 2)
        .select(F.explode(word_ngrams(ws, 2)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= FAMIL_MIN_N)
        .select("gram")
    )

    stream = load_docs_stream(ns, sf_dir)
    occ = (
        stream.filter(F.size(ws) >= 2)
        .select("doc_id", "source", F.explode(word_ngrams(ws, 2)).alias("gram"))
    )
    # stream-static join: familiar is a regular DataFrame; Spark replans
    # it per micro-batch, keeping zero join state on the stream side
    joined = occ.join(
        familiar.withColumn("is_fam", F.lit(1)), "gram", "left"
    )
    perdoc = joined.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum(F.coalesce(F.col("is_fam"), F.lit(0))).cast("long").alias("n_familiar"),
    )
    ppm = F.expr(
        f"CAST(n_familiar AS DECIMAL(38,0)) * {FAMIL_SCALE} div n_bigrams"
    )
    return (
        drain(perdoc, "complete")
        .select("source", (ppm >= FAMIL_KEEP_PPM).cast("long").alias("keep"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("keep").alias("n_keep"))
    )


def _late_bind_familiarity_gate() -> None:
    from porcupine_spark.operators import curation as _cur2  # noqa: F401

    _REG["stream_familiarity_gate"].oracle = f"""
    WITH s AS ({_REG["bigram_familiarity_gate"].oracle})
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
    FROM s GROUP BY source
    """


_late_bind_familiarity_gate()


@query(
    "stream_classifier_gate",
    None,  # late-bound below: composes classifier_quality_gate's oracle
    tags=("streaming", "curation", "quality", "classifier"),
    doc="Streaming twin of the hashed linear classifier gate "
    "(classifier_quality_gate): arriving documents are scored against "
    "the weight vector embedded as a LITERAL long array in the "
    "streaming plan — weights hash into a FIXED 512-bucket feature "
    "space, so unlike the familiarity gate's corpus-sized count table "
    "this index is a constant (the stream_dsir_gate topology; "
    "production swaps in the trained vector per model push). Per row "
    "everything is JVM array expressions — bigrams, hash-bucket, "
    "aggregate weight sum — ZERO streaming state besides the "
    "|sources|-key rollup, so an unbounded crawl costs one scan. "
    "Oracle = classifier_quality_gate's, rolled up per source.",
)
def stream_classifier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from porcupine_spark.functions import word_ngrams
    from porcupine_spark.operators.curation import (
        CLS_BUCKETS,
        CLS_KEEP_MILLI,
        cls_weight,
        dsir_bucket,
    )
    from porcupine_spark.tables import load_docs_stream

    ns = state_sized_session(spark)
    # the whole weight vector is CLS_BUCKETS ints — materialize once
    # driver-side (config-width, independent of corpus size) and embed
    # as a literal, exactly like stream_dsir_gate's lean index
    wrows = (
        ns.range(CLS_BUCKETS)
        .select(F.col("id").alias("b"), cls_weight(F.col("id")).alias("wt"))
        .collect()
    )
    wts = [0] * CLS_BUCKETS
    for r in wrows:
        wts[r.b] = int(r.wt)
    wt_lit = F.array(*[F.lit(x).cast("long") for x in wts])

    stream = load_docs_stream(ns, sf_dir)
    ws = tokens(F.col("text"))
    grams = word_ngrams(ws, 2)
    w_sum = F.aggregate(
        grams,
        F.lit(0).cast("long"),
        lambda acc, g: acc
        + F.element_at(wt_lit, (dsir_bucket(g, CLS_BUCKETS) + 1).cast("int")),
    )
    scored = stream.filter(F.size(ws) >= 2).select(
        "source",
        w_sum.alias("w_sum"),
        F.size(grams).cast("long").alias("n_bigrams"),
    ).select(
        "source",
        (
            F.expr("w_sum * 1000 div n_bigrams") >= CLS_KEEP_MILLI
        ).cast("long").alias("keep"),
    )
    agg = scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("keep").alias("n_keep")
    )
    return drain(agg, "complete").select("source", "n_docs", "n_keep")


def _late_bind_classifier_gate() -> None:
    from porcupine_spark.operators import curation as _cur3  # noqa: F401

    _REG["stream_classifier_gate"].oracle = f"""
    WITH s AS ({_REG["classifier_quality_gate"].oracle})
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
    FROM s GROUP BY source
    """


_late_bind_classifier_gate()
