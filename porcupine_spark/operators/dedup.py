"""Deduplication suite for large-scale corpus curation.

Four escalating strategies, all expressed in built-in (JVM-side,
codegen'd) functions — no Python in the hot path:

- exact:        hash-groupBy on normalized text (one shuffle);
- n-gram Jaccard: shingle self-join restricted to shared shingles
                  (candidate space = docs sharing >=1 shingle, the
                  standard inverted-index trick — never N^2);
- MinHash+LSH:  per-doc signatures computed PER ROW (k array_min's
                  over universal linear perms of ONE strong hash per
                  shingle — no explode, no shuffle), banded into
                  buckets, candidates = bucket collisions only —
                  the 100 TB path;
- SimHash:      hex-digit-projection signature (16x4-bit variant) per
                  doc, computed per-row like minhash (no shuffle).

Hashing is md5 (identical hex output in Spark and DuckDB), so every
stage has an exact SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from porcupine_spark.functions import seq1, word_ngrams
from porcupine_spark.functions.driverstate import materialize
from porcupine_spark.operators.corpus import SQL_SPLIT_CTE, split_col
from porcupine_spark.operators.text import sql_tokens, tokens
from porcupine_spark.plans.registry import REGISTRY, query
from porcupine_spark.tables import load_table, stored_rows

N_PERMS = 8  # minhash permutations
N_BANDS = 4  # LSH bands (2 rows each)


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a whitespace-tokenized text."""
    toks = tokens(text)
    return F.array_distinct(word_ngrams(toks, n))


def shingle_table(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) exploded, distinct per doc."""
    return docs.select("doc_id", F.explode(word_shingles(F.col("text"), n)).alias("shingle"))


def hashed_shingle_table(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, h) with h = xxhash64 of the n-token shingle, hashed
    directly from the token slice — the shingle string is never built
    (no concat allocation), and everything downstream (distinct,
    explode, shuffle, join) moves 8-byte longs instead of ~25-byte
    strings. Counts match the string formulation unless two distinct
    shingles of a compared doc pair collide in 64 bits (~1e-9 for a
    million-shingle corpus).

    Two-level hashing: each token is hashed ONCE, then gram hashes
    combine n adjacent token-longs — measured ~2x faster than hashing a
    per-gram array slice (no per-gram array allocation at all)."""
    return hashed_shingle_arrays(docs, n).select(
        "doc_id", F.explode(F.col("arr")).alias("h")
    )


def hashed_shingle_arrays(
    docs: DataFrame, n: int = 3, keep: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, [keep...,] arr) with arr = distinct xxhash64'd n-gram
    shingles as a long array (see hashed_shingle_table for the hashing
    scheme). ``keep`` carries extra doc columns through unchanged."""
    toks = tokens(F.col("text"))
    with_th = docs.select(
        "doc_id", *keep, F.transform(toks, lambda t: F.xxhash64(t)).alias("th")
    )
    hashes = F.transform(
        seq1(F.size(F.col("th")) - (n - 1)),
        lambda i: F.xxhash64(*[F.element_at("th", i + j) for j in range(n)]),
    )
    return with_th.select("doc_id", *keep, F.array_distinct(hashes).alias("arr"))


def _sql_shingles(name: str, source: str) -> str:
    """SQL mirror: DuckDB CTE ``name`` of the distinct word 3-gram
    shingles (doc_id, shingle) of the ``source`` table."""
    return f"""
  {name} AS (
    SELECT DISTINCT doc_id,
           concat_ws(' ', toks[i], toks[i+1], toks[i+2]) AS shingle
    FROM (SELECT doc_id, {sql_tokens()} AS toks
          FROM {source}),
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1, GREATEST(len(toks) - 2, 0))) AS i) t
  )"""


SQL_SHINGLES = _sql_shingles("shingles", "documents")


@query(
    "dedup_exact",
    """
    SELECT md5(trim(text, ' ')) AS text_hash,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(trim(text, ' '))
    """,
    tags=("dedup",),
    doc="Exact dedup: hash-groupBy on normalized text, keep lowest id. "
    "One shuffle on the 32-hex digest (never on the full text bytes - "
    "at 100 TB the shuffle key must be the digest).",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(F.trim(F.col("text"))).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# Hot-shingle document-frequency cutoff: a shingle present in more than
# hot_df_cutoff(n_docs) documents contributes ~zero Jaccard information
# but |df|^2 candidate pairs to the inverted-index self-join — one
# stop-phrase shingle ("of the and") in 1% of a 100 TB corpus would
# alone generate 10^16 pairs. The cutoff is fractional at small corpus
# sizes (so tiny test corpora keep a usable shingle space) but capped
# by an ABSOLUTE ceiling HOT_DF_CAP: a fractional-only bound grows
# linearly with the corpus, so the per-key fan-out it exists to prevent
# (|df|^2 pairs) re-enters at scale — at 10B docs a 5%-df shingle would
# survive a 10% cutoff and alone generate ~10^17 pairs. With the cap,
# per-key fan-out is <= HOT_DF_CAP^2/2 regardless of corpus size.
# Dropping hot shingles bounds the join; sizes are computed on the SAME
# filtered shingle set so the measure stays a true Jaccard over the
# informative shingle space (mirrored exactly in the oracle).
HOT_DF_FRAC = 0.1
HOT_DF_FLOOR = 25
HOT_DF_CAP = 2000


def hot_df_cutoff(n_docs: int) -> int:
    """max(FLOOR, min(FRAC * n, CAP)) — fractional in small corpora,
    absolute at scale. Mirrored verbatim by SQL_HOT_DF_CUTOFF."""
    return max(HOT_DF_FLOOR, min(int(HOT_DF_FRAC * n_docs), HOT_DF_CAP))


# the oracle-side mirror of hot_df_cutoff (DuckDB SQL, documents view)
SQL_HOT_DF_CUTOFF = (
    f"GREATEST({HOT_DF_FLOOR}, LEAST("
    f"CAST(FLOOR({HOT_DF_FRAC} * (SELECT COUNT(*) FROM documents)) AS BIGINT), "
    f"{HOT_DF_CAP}))"
)

# the oracle-side mirror of shingle_overlap (DuckDB SQL): CTEs ending in
# sizes(doc_id, n) and inter(doc_a, doc_b, i) over informative shingles
SQL_SHINGLE_OVERLAP = f"""{SQL_SHINGLES},
    df AS (SELECT shingle, COUNT(*) AS c FROM shingles GROUP BY shingle),
    keep AS (
      SELECT s.doc_id, s.shingle FROM shingles s JOIN df USING (shingle)
      WHERE c <= {SQL_HOT_DF_CUTOFF}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM keep GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM keep a JOIN keep b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )"""

def corpus_n_docs(spark: SparkSession, sf_dir: str) -> int:
    """The documents row count behind the hot-shingle cutoff: the rows
    stored in the table's parquet footers (``tables.stored_rows``,
    memoized on the file's path and stamp, so a rewritten table is
    counted afresh), and a Spark ``count()`` only where the footers
    cannot give it (a path that cannot be stat'ed)."""
    n = stored_rows(sf_dir, "documents")
    return load_table(spark, sf_dir, "documents").count() if n is None else n


def drop_hot_keys(df: DataFrame, key: str, cutoff: int) -> DataFrame:
    """``df`` without the rows whose ``key`` occurs more than ``cutoff``
    times: the hot-key cap of every inverted-index self-join, where a
    key shared by d rows alone feeds d^2/2 matches. The hot set is tiny
    by definition, so it drops by a broadcast anti-join and ``df``
    itself is never shuffled for it."""
    hot = (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > cutoff)
        .select(key)
    )
    return df.join(F.broadcast(hot), key, "left_anti")


def shingle_overlap(arrays: DataFrame, df_cutoff: int) -> DataFrame:
    """(doc_a, doc_b, i, na, nb) for doc pairs (doc_a < doc_b) sharing
    >=1 informative shingle, from ``arrays`` = hashed_shingle_arrays
    (doc_id, arr): ``i`` shared shingles, ``na``/``nb`` each doc's
    informative-shingle count. The core of every shingle-overlap
    measure; callers project it (jaccard, containment).
    ``shingle_overlap_local`` is the same computation on the driver."""
    # self-join on hashed shingles (see hashed_shingle_table): 8-byte
    # shuffle/join keys, and the shingle string is never even built
    sh_all = arrays.select("doc_id", F.explode(F.col("arr")).alias("h"))
    # read 3x (sizes + both join sides); vs .cache() 1.65 -> 1.36 s min-of-5
    sh = drop_hot_keys(sh_all, "h", df_cutoff).transform(materialize)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def shingle_overlap_local(table, df_cutoff: int, max_pairs: int | None = None):
    """``shingle_overlap`` on the driver: an Arrow ``(doc_id, arr)``
    table (collected hashed_shingle_arrays) to numpy ``(doc_a, doc_b,
    i, na, nb)``, sorted by (doc_a, doc_b), with the Spark path's exact
    semantics: document frequency counts every (row, hash), NULL
    doc_id rows included; hashes above ``df_cutoff`` are dropped
    before ``na``/``nb``; a pair needs doc_a < doc_b strictly and
    counts one shared shingle per matching pair of rows, so duplicate
    doc_id rows never pair with themselves and a NULL doc_id never
    pairs.

    Returns None, before any pair is built, when the candidate pair
    count sum C(df_h, 2) over the kept hashes exceeds ``max_pairs``."""
    import numpy as np
    import pyarrow.compute as pc

    doc = table.column("doc_id").combine_chunks()
    arr = table.column("arr").combine_chunks()
    lengths = pc.list_value_length(arr).fill_null(0).to_numpy()
    h = pc.list_flatten(arr).to_numpy()
    row_doc = np.repeat(doc.fill_null(0).to_numpy(), lengths)
    row_valid = np.repeat(doc.is_valid().to_numpy(zero_copy_only=False), lengths)
    hid, dfreq = np.unique(h, return_inverse=True, return_counts=True)[1:]
    kept = dfreq[hid] <= df_cutoff
    kept_df = dfreq[dfreq <= df_cutoff]
    if max_pairs is not None and int((kept_df * (kept_df - 1) // 2).sum()) > max_pairs:
        return None
    keep = kept & row_valid
    ids, d = np.unique(row_doc[keep], return_inverse=True)
    sizes = np.bincount(d, minlength=len(ids))
    # rows grouped by hash, ascending doc within a group: every row
    # pairs with each later row of its group; dense ids keep doc order,
    # so doc_a < doc_b is da < db
    order = np.lexsort((d, hid[keep]))
    d, g = d[order], hid[keep][order]
    ends = np.r_[np.flatnonzero(g[1:] != g[:-1]) + 1, len(g)]
    after = np.repeat(ends, np.diff(np.r_[0, ends])) - np.arange(len(g)) - 1
    left = np.repeat(np.arange(len(g)), after)
    first = np.cumsum(after) - after
    right = left + 1 + np.arange(len(left)) - np.repeat(first, after)
    da, db = d[left], d[right]
    strict = da < db
    n = max(len(ids), 1)
    key, i = np.unique(da[strict] * n + db[strict], return_counts=True)
    a, b = key // n, key % n
    return ids[a], ids[b], i, sizes[a], sizes[b]


MIN_JACCARD = 0.05  # near-dup edge threshold of dedup_ngram_jaccard and dedup_clusters


def overlap_jaccard(overlap: DataFrame, min_jaccard: float = MIN_JACCARD) -> DataFrame:
    """(doc_a, doc_b, jaccard) rows of a ``shingle_overlap`` with
    jaccard >= ``min_jaccard``: one IEEE division of exact ints."""
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return overlap.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= min_jaccard
    )


def ngram_jaccard_pairs(
    docs: DataFrame, min_jaccard: float = MIN_JACCARD, df_cutoff: int | None = None
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for doc pairs sharing >=1 informative
    shingle. ``df_cutoff`` defaults to hot_df_cutoff(count(docs)); pass
    an explicit value to skip the count() action."""
    if df_cutoff is None:
        df_cutoff = hot_df_cutoff(docs.count())
    return overlap_jaccard(
        shingle_overlap(hashed_shingle_arrays(docs), df_cutoff), min_jaccard
    )


@query(
    "dedup_ngram_jaccard",
    f"""
    WITH {SQL_SHINGLE_OVERLAP}
    SELECT doc_a, doc_b,
           CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.05
    """,
    tags=("dedup", "join"),
    doc="Near-dup by word-3-gram Jaccard over informative shingles. "
    "Candidates come from an inverted shingle index self-join (only "
    "docs sharing a shingle are compared) with a document-frequency "
    "cutoff dropping hot shingles (bounds the per-key fan-out that "
    "would otherwise go quadratic on stop-phrases at scale), then "
    "|A∩B|/|A∪B| from group counts. jaccard is one IEEE division of "
    "exact ints -> bit-identical to the oracle.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, df_cutoff=hot_df_cutoff(corpus_n_docs(spark, sf_dir)))


# Universal-hash permutation family: perm_p(s) = (A_p*h(s) + B_p) mod M
# over ONE strong base hash h = first 15 md5 hex digits mod 2^30 — the
# standard minhash construction (k cheap linear perms of one hash, not
# k strong hashes). Bounds keep every intermediate < 2^61, so Spark and
# DuckDB bigint arithmetic agree exactly (overflow never happens).
MINHASH_A = [3, 5, 7, 11, 13, 19, 23, 31]
MINHASH_B = [17, 29, 41, 53, 61, 71, 83, 97]
MINHASH_MOD = (1 << 31) - 1


def minhash_signatures(docs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, [keep...,] mh0..mh{k-1}): k min-hashes computed PER ROW with
    array_min over transform — minhash is per-doc embarrassingly
    parallel, so there is no explode, no groupBy, and NO SHUFFLE at
    all (measured 6.5x faster than the explode+agg formulation, and
    the property that makes it scale: 100 TB of docs map straight
    through without materializing the shingle table). The h30 array
    is built in its own select so the k permutations share one md5
    per shingle (CollapseProject keeps multi-referenced non-cheap
    aliases in their own project)."""
    h30 = F.transform(
        word_shingles(F.col("text")),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long") % F.lit(1 << 30),
    )
    return docs.select("doc_id", *keep, h30.alias("h30")).select(
        "doc_id",
        *keep,
        *[
            F.array_min(
                F.transform(
                    "h30",
                    lambda h: (F.lit(MINHASH_A[p]) * h + F.lit(MINHASH_B[p]))
                    % F.lit(MINHASH_MOD),
                )
            ).alias(f"mh{p}")
            for p in range(N_PERMS)
        ],
    )


_SQL_H30 = "(CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) % 1073741824)"


def _sql_minhash_exprs() -> str:
    return ",\n           ".join(
        f"MIN(({MINHASH_A[p]} * {_SQL_H30} + {MINHASH_B[p]}) % {MINHASH_MOD}) AS mh{p}"
        for p in range(N_PERMS)
    )


def _sql_bands() -> str:
    selects = [
        f"SELECT doc_id, {b} AS band, concat(mh{2*b}, ':', mh{2*b+1}) AS sig FROM sigs"
        for b in range(N_BANDS)
    ]
    return "\n      UNION ALL\n      ".join(selects)


_SQL_MINHASH_PAIRS_CTES = f"""
    {SQL_SHINGLES},
    sigs AS (
      SELECT doc_id,
           {_sql_minhash_exprs()}
      FROM shingles GROUP BY doc_id
    ),
    bands AS (
      {_sql_bands()}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS i
      FROM cand c
      JOIN shingles sa ON sa.doc_id = c.doc_a
      JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY c.doc_a, c.doc_b
    ),
    pairs AS (
      SELECT c.doc_a, c.doc_b,
             COALESCE(CAST(i.i AS DOUBLE) / (za.n + zb.n - i.i), 0.0) AS jaccard
      FROM cand c
      LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      JOIN sizes za ON za.doc_id = c.doc_a
      JOIN sizes zb ON zb.doc_id = c.doc_b
    )
"""


@query(
    "dedup_minhash_lsh",
    f"""
    WITH {_SQL_MINHASH_PAIRS_CTES}
    SELECT doc_a, doc_b, jaccard FROM pairs
    """,
    tags=("dedup", "lsh"),
    doc=f"MinHash+LSH near-dup: {N_PERMS} min-hashes per doc computed "
    "PER ROW (array_min over universal linear perms of one md5 per "
    f"shingle — zero shuffle), {N_BANDS} bands of 2 rows; candidate "
    "pairs = band-bucket "
    "collisions (the only pairs ever materialized — at 100 TB the "
    "bucket join replaces the N^2 comparison), then exact Jaccard "
    "verification on candidates.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs)


def minhash_lsh_pairs(docs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """(doc_a, doc_b, jaccard[, <c>_a, <c>_b ...]) for band-bucket-
    colliding doc pairs — the shared candidate+verify core of
    dedup_minhash_lsh and dedup_keep_canonical.

    ``carry`` names extra per-doc columns to ride the verification join
    (they travel on the shingle-array side, which scans the documents
    anyway), surfacing as ``<col>_a`` / ``<col>_b`` — consumers that
    need doc attributes per pair (e.g. cross_source_dup_matrix) get
    them WITHOUT re-joining the corpus by doc id (optimization r8,
    guide §2.4: each such join was one more doc-keyed exchange chain)."""
    return _minhash_lsh_pairs_and_sigs(docs, carry)[0]


def _check_carry(docs: DataFrame, carry: tuple[str, ...]) -> None:
    """Reject ``carry`` entries that would silently corrupt or
    ambiguate the pair table: a duplicate entry; a name, or its
    ``<c>_a``/``<c>_b`` alias, equal to a pair-table or internal column
    (doc_a, doc_b, jaccard, arr_*, and hashed_shingle_arrays' doc_id,
    arr, th); a name equal to another carry's alias; a column ``docs``
    lacks."""
    reserved = {"doc_a", "doc_b", "jaccard", "arr_a", "arr_b", "doc_id", "arr", "th"}
    aliases = {f"{c}_{side}" for c in carry for side in "ab"}
    seen: set[str] = set()
    for c in carry:
        if c in seen:
            raise ValueError(f"carry: duplicate entry {c!r}")
        seen.add(c)
        clash = ({c, f"{c}_a", f"{c}_b"} & reserved) | ({c} & aliases)
        if clash:
            raise ValueError(
                f"carry: {c!r} collides with pair-table names {sorted(clash)}; "
                f"rename the column first"
            )
    missing = [c for c in carry if c not in docs.columns]
    if missing:
        raise ValueError(f"carry: columns {missing} are not in docs")


def _minhash_lsh_pairs_and_sigs(
    docs: DataFrame, carry: tuple[str, ...] = ()
) -> tuple[DataFrame, DataFrame]:
    """minhash_lsh_pairs plus the eagerly-checkpointed per-doc signature
    table it builds internally — so a consumer that ALSO needs the
    signatures (minhash_estimator_calibration) reuses the materialized
    pass instead of recomputing the full md5 scan (within ONE query
    build; nothing crosses runs)."""
    _check_carry(docs, carry)
    # per-row signatures (no shuffle); checkpoint so the band SELF-join
    # (two refs) and the candidate join don't recompute the md5 pass
    sigs = minhash_signatures(docs).transform(materialize)
    # band signature packed into ONE long (mh<2^31: hi*2^31+lo < 2^62)
    # — the self-join shuffles 8-byte keys, not strings; the candidate
    # SET is identical to the oracle's string-concat formulation.
    # Each band row also carries the doc's FULL 4-long band-sig array
    # (optimization r7, guide §2.1 — same min-band trick as the
    # simhash/embedding-LSH paths): a pair colliding in several bands
    # is kept only where its FIRST matching band equals the bucket's
    # band, so candidates are unique by construction and the
    # distinct() Exchange over the candidate set (the big intermediate
    # at crawl dup rates) disappears. Cost: 32 bytes/row more on the
    # doc×4-row band table; saving: one full shuffle of the pair set.
    sig_arr = F.array(
        *[
            F.col(f"mh{2*b}") * F.lit(1 << 31) + F.col(f"mh{2*b+1}")
            for b in range(N_BANDS)
        ]
    )
    band_rows = sigs.select(
        "doc_id",
        sig_arr.alias("sig_arr"),
        F.posexplode(sig_arr).alias("band", "sig"),
    )
    a = band_rows.alias("a")
    b = band_rows.alias("b")
    first_band = F.coalesce(
        *[
            F.when(F.col("a.sig_arr")[k] == F.col("b.sig_arr")[k], F.lit(k))
            for k in range(N_BANDS)
        ]
    )
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(F.col("a.band") == first_band)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    # verification via per-doc shingle ARRAYS + array_intersect: two
    # candidate-sized joins and a vectorized set intersection, instead
    # of re-exploding the shingle table through a 3-way join. Arrays
    # hold hashed shingles (longs): |A∩B| and sizes match the string
    # sets modulo 64-bit collisions, and the intersection compares
    # longs, not strings. The md5 minhash SIGNATURES above stay
    # string-based — the candidate set must match the oracle's md5s.
    arrays = hashed_shingle_arrays(docs, keep=carry)
    aa = arrays.select(
        F.col("doc_id").alias("doc_a"),
        F.col("arr").alias("arr_a"),
        *[F.col(c).alias(f"{c}_a") for c in carry],
    )
    ab = arrays.select(
        F.col("doc_id").alias("doc_b"),
        F.col("arr").alias("arr_b"),
        *[F.col(c).alias(f"{c}_b") for c in carry],
    )
    paired = cand.join(aa, "doc_a").join(ab, "doc_b")
    i = F.size(F.array_intersect("arr_a", "arr_b"))
    jac = F.coalesce(
        i.cast("double") / (F.size("arr_a") + F.size("arr_b") - i), F.lit(0.0)
    )
    out = paired.select(
        "doc_a",
        "doc_b",
        jac.alias("jaccard"),
        *[c for base in carry for c in (f"{base}_a", f"{base}_b")],
    )
    return out, sigs


DEDUP_CANON_T = 0.5  # verified-jaccard threshold for dropping a doc


@query(
    "dedup_keep_canonical",
    f"""
    WITH {_SQL_MINHASH_PAIRS_CTES},
    dropped AS (
      SELECT DISTINCT doc_b FROM pairs WHERE jaccard >= {DEDUP_CANON_T}
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_b FROM dropped)
    """,
    tags=("dedup", "lsh"),
    doc=f"The deduplicated corpus itself: drop every document that has "
    f"a verified near-duplicate (jaccard >= {DEDUP_CANON_T}) with a "
    "smaller doc_id — the keep-first canonical policy. Candidates come "
    "from the minhash band buckets (never N^2); the final step is one "
    "anti-join of the corpus against the dropped set. NO broadcast "
    "hint: at web-crawl dup rates (30-60%) the dropped set is "
    "O(dup_rate * corpus) — billions of ids at 100 TB, far past the "
    "8 GB broadcast hard limit. The AQE contract applies instead: "
    "spark.sql.adaptive picks broadcast at runtime only when the "
    "materialized dropped set is actually under the threshold, and "
    "falls back to a shuffled anti-join (co-partitioned on doc_id) "
    "when it is not — the plan degrades gracefully instead of "
    "OOM-ing the driver.",
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dropped = (
        minhash_lsh_pairs(docs)
        .filter(F.col("jaccard") >= DEDUP_CANON_T)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    # Deliberately unhinted (see docstring): dropped ~ dup_rate * |corpus|.
    return docs.join(dropped, "doc_id", "left_anti").select(
        "doc_id", "lang", "source"
    )


SIMHASH_BITS = 32  # one bit per md5 hex digit
SIMHASH_BAND_BITS = 8  # 4 bands; hamming<=3 pairs must share >=1 band


_SQL_SIMHASH_CTE = f"""
    toks AS (
      SELECT doc_id, concat_ws(' ', t[i], t[i+1], t[i+2]) AS tok
      FROM (SELECT doc_id, {sql_tokens()} AS t
            FROM documents) d,
           LATERAL (SELECT UNNEST(GENERATE_SERIES(1, GREATEST(len(t) - 2, 0))) AS i) s
    ),
    bits AS (
      SELECT doc_id, p.pos,
             SUM(CASE WHEN strpos('89abcdef', substr(md5(tok), p.pos, 1)) > 0
                      THEN 1 ELSE -1 END) AS s
      FROM toks, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, {SIMHASH_BITS})) AS pos) p
      GROUP BY doc_id, p.pos
    ),
    sigs AS (
      SELECT doc_id,
             string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY pos) AS simhash
      FROM bits GROUP BY doc_id
    )
"""


@query(
    "simhash_signatures",
    f"WITH {_SQL_SIMHASH_CTE} SELECT doc_id, simhash FROM sigs",
    tags=("dedup", "simhash"),
    doc=f"SimHash ({SIMHASH_BITS}-bit hex-digit-projection variant): token "
    "md5 hex digit at position p contributes +1 if >=8 else -1; "
    "signature bit = sign of the sum. Token multiplicity is the weight. "
    "Computed PER ROW (one aggregate() pass over the gram-md5 array, "
    "32-count accumulator) — no explode, no shuffle.",
)
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = tokens(F.col("text"))
    grams = word_ngrams(words, 3)
    # PER-ROW signature (same zero-shuffle insight as minhash): one
    # aggregate() pass over the gram-md5 array with a 32-long count
    # accumulator — count_p = #grams whose hex digit p has its high
    # bit set (digit >= 8 <=> 8,9,a-f). The ±1-sum formulation's bit is
    # sign(2*count_p - n), identical output, but no explode, no
    # groupBy, NO SHUFFLE (measured ~5x faster than the warm
    # explode+32-agg plan). The 32 high bits come from integer
    # shift/mask over three conv()-parsed chunks of the md5 hex rather
    # than 32 substring-string compares per gram (measured ~1.4x
    # faster again — no per-bit String allocation). Docs with no grams
    # are dropped to match the GROUP-BY-over-zero-rows oracle
    # semantics.
    mds = F.transform(grams, lambda g: F.md5(g))

    def bits_of(m):
        # hex digits 1-15 / 16-30 / 31-32 as integers (15 hex digits =
        # 60 bits, safely inside a signed long); digit p's high bit sits
        # at bit 4*(chunk_end - p) + 3 of its chunk
        y1 = F.conv(F.substring(m, 1, 15), 16, 10).cast("long")
        y2 = F.conv(F.substring(m, 16, 15), 16, 10).cast("long")
        y3 = F.conv(F.substring(m, 31, 2), 16, 10).cast("long")
        es = []
        for p in range(1, SIMHASH_BITS + 1):
            if p <= 15:
                e = F.shiftright(y1, 4 * (15 - p) + 3)
            elif p <= 30:
                e = F.shiftright(y2, 4 * (30 - p) + 3)
            else:
                e = F.shiftright(y3, 4 * (32 - p) + 3)
            es.append(e.bitwiseAND(F.lit(1).cast("long")))
        return F.array(*es)

    counts = F.aggregate(
        "ms",
        F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS),
        lambda acc, m: F.zip_with(acc, bits_of(m), lambda a, b: a + b),
    )
    return (
        docs.select("doc_id", mds.alias("ms"))
        .filter(F.size("ms") > 0)
        .select("doc_id", counts.alias("c"), F.size("ms").alias("n"))
        .select(
            "doc_id",
            F.concat_ws(
                "", F.transform("c", lambda c: F.when(2 * c > F.col("n"), "1").otherwise("0"))
            ).alias("simhash"),
        )
    )




@query(
    "simhash_pairs",
    f"""
    WITH {_SQL_SIMHASH_CTE},
    bands AS (
      SELECT doc_id, b.band,
             substr(simhash, b.band * {SIMHASH_BAND_BITS} + 1, {SIMHASH_BAND_BITS}) AS chunk,
             simhash
      FROM sigs, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS band) b
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sig_a, b.simhash AS sig_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
    ),
    hams AS (
      SELECT doc_a, doc_b,
             (SELECT COUNT(*) FROM UNNEST(GENERATE_SERIES(1, {SIMHASH_BITS})) t(i)
              WHERE substr(sig_a, i, 1) <> substr(sig_b, i, 1)) AS hamming
      FROM cand
    )
    SELECT doc_a, doc_b, hamming FROM hams WHERE hamming <= 3
    """,
    tags=("dedup", "simhash", "lsh"),
    doc=f"SimHash near-dup pairs: {SIMHASH_BITS}-bit signatures banded "
    f"into 4 chunks of {SIMHASH_BAND_BITS} bits (pigeonhole: hamming<=3 "
    "pairs MUST collide on >=1 chunk), candidates from chunk-bucket "
    "self-join only, then exact hamming verification. Same LSH shape "
    "as minhash but on the simhash bits; 2^8 bucket values per band "
    "keep bucket sizes (and the candidate join) small.",
)
def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pack the 32-bit signature string into a LONG once per doc: bands
    # are then shift-and-mask chunks and hamming on a pair is
    # popcount(xor) — one ALU op, no per-pair arrays
    sigs = simhash_signatures(spark, sf_dir).select(
        "doc_id", F.conv(F.col("simhash"), 2, 10).cast("long").alias("sig")
    )
    return banded_hamming_pairs(sigs, SIMHASH_BITS, SIMHASH_BAND_BITS, 3)


def banded_hamming_pairs(
    sigs: DataFrame, bits: int, band_bits: int, max_hamming: int
) -> DataFrame:
    """(doc_a, doc_b, hamming) for the doc pairs (doc_a < doc_b) whose
    ``bits``-bit signatures, packed into the long ``sig`` of ``sigs``
    (doc_id, sig), differ in at most ``max_hamming`` bits. Candidates
    are exact collisions on one of the ``bits // band_bits`` bands
    (band b = bits b*band_bits and up); with more bands than
    ``max_hamming`` every such pair collides somewhere (pigeonhole),
    then hamming = bit_count(xor) verifies. The candidate join shuffles
    (band, chunk) longs, never the signatures' sources."""
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1

    def chunk(c: Column, b: int) -> Column:
        return F.shiftrightunsigned(c, b * band_bits).bitwiseAND(mask)

    # both self-join sides read the signatures
    sigs = sigs.transform(materialize)
    bands = sigs.select(
        "doc_id",
        "sig",
        F.posexplode(F.array(*[chunk(F.col("sig"), b) for b in range(n_bands)])).alias(
            "band", "chunk"
        ),
    )
    # A pair colliding in several bands would come out once per band.
    # Each band row carries the FULL signature, so each join row decides
    # locally whether ITS band is the pair's first matching band (one
    # mask test per band on the xor); keeping only those makes the
    # candidates unique by construction, a filter instead of a
    # distinct() Exchange over the candidate set (optimization r7, guide
    # §2.1; same min-band trick as the embedding-LSH path).
    x = F.col("a.sig").bitwiseXOR(F.col("b.sig"))
    first_band = F.when(chunk(x, 0) == 0, 0)
    for b in range(1, n_bands - 1):
        first_band = first_band.when(chunk(x, b) == 0, b)
    first_band = first_band.otherwise(n_bands - 1)
    a, b = bands.alias("a"), bands.alias("b")
    cand = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.chunk") == F.col("b.chunk"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).filter(F.col("a.band") == first_band)
    return cand.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.bit_count(x).cast("long").alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


DUP_EDGE_T = 0.5  # same verified-duplicate threshold as dedup_keep_canonical


@query(
    "dup_graph_metrics",
    f"""
    WITH {_SQL_MINHASH_PAIRS_CTES},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs WHERE jaccard >= {DUP_EDGE_T}
    ),
    degrees AS (
      SELECT v AS doc_id, COUNT(*) AS degree FROM (
        SELECT a AS v FROM edges UNION ALL SELECT b FROM edges
      ) GROUP BY v
    ),
    tris AS (
      SELECT e1.a AS a, e1.b AS b, e2.b AS c
      FROM edges e1
      JOIN edges e2 ON e2.a = e1.b
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tri_counts AS (
      SELECT v AS doc_id, COUNT(*) AS n_triangles FROM (
        SELECT a AS v FROM tris UNION ALL SELECT b FROM tris UNION ALL SELECT c FROM tris
      ) GROUP BY v
    )
    SELECT d.doc_id, CAST(d.degree AS BIGINT) AS degree,
           CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles
    FROM degrees d LEFT JOIN tri_counts t USING (doc_id)
    """,
    tags=("dedup", "graph"),
    doc="Per-node metrics of the verified duplicate graph (MinHash+LSH "
    "edges at jaccard >= 0.5): degree and triangle membership — the "
    "triangle join is the standard a<b<c edge-ordered 3-cycle "
    "enumeration, so each triangle counts once. The edge set is LSH "
    "OUTPUT (bounded, sub-quadratic), so the self-joins run on the "
    "dedup result, never the corpus; degree/triangle skew at 100 TB "
    "is bounded by the same hot-bucket discipline that bounds the "
    "edge list itself.",
)
def dup_graph_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    edges = (
        minhash_lsh_pairs(docs)
        .filter(F.col("jaccard") >= DUP_EDGE_T)
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .transform(materialize)  # small (post-LSH); read by 4 plans below
    )
    degrees = (
        edges.select(F.col("a").alias("doc_id"))
        .unionAll(edges.select(F.col("b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    e1 = edges.select(F.col("a"), F.col("b"))
    e2 = edges.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = edges.select(F.col("a"), F.col("b").alias("c"))
    tris = e1.join(e2, "b").join(e3, ["a", "c"])
    tri_counts = (
        tris.select(F.col("a").alias("doc_id"))
        .unionAll(tris.select(F.col("b").alias("doc_id")))
        .unionAll(tris.select(F.col("c").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return degrees.join(tri_counts, "doc_id", "left").select(
        "doc_id",
        "degree",
        F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
    )


# --- cross-corpus (incremental-ingest) dedup -------------------------

NEW_BATCH_MOD = 5  # doc_id % 5 == 0 plays the "incoming batch"


def _band_table(sigs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, [keep...,] band, sig) with the band signature packed into
    one long (same packing as minhash_lsh_pairs — joins shuffle 8-byte
    keys)."""
    return sigs.select(
        "doc_id",
        *keep,
        F.posexplode(
            F.array(
                *[
                    F.col(f"mh{2*b}") * F.lit(1 << 31) + F.col(f"mh{2*b+1}")
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band", "sig"),
    )


def _sql_side_ctes(side: str, pred: str) -> str:
    """Shingle + minhash + band CTEs for one split of documents."""
    return f"""
    {side} AS (SELECT * FROM documents WHERE {pred}),
    {_sql_shingles(f"shingles_{side}", side)},
    sigs_{side} AS (
      SELECT doc_id,
           {", ".join(
               f"MIN(({MINHASH_A[p]} * {_SQL_H30} + {MINHASH_B[p]}) % {MINHASH_MOD}) AS mh{p}"
               for p in range(N_PERMS)
           )}
      FROM shingles_{side} GROUP BY doc_id
    ),
    bands_{side} AS (
      {" UNION ALL ".join(
          f"SELECT doc_id, {b} AS band,"
          f" mh{2*b} * 2147483648 + mh{2*b+1} AS sig FROM sigs_{side}"
          for b in range(N_BANDS)
      )}
    )"""


@query(
    "incremental_dedup",
    f"""
    WITH {_sql_side_ctes("base", f"doc_id % {NEW_BATCH_MOD} <> 0")},
    {_sql_side_ctes("newb", f"doc_id % {NEW_BATCH_MOD} = 0")},
    bh AS (SELECT DISTINCT md5(trim(text, ' ')) AS h FROM base),
    near AS (
      SELECT DISTINCT nb.doc_id
      FROM bands_newb nb JOIN bands_base bb
        ON bb.band = nb.band AND bb.sig = nb.sig
    )
    SELECT n.doc_id,
           (md5(trim(n.text, ' ')) IN (SELECT h FROM bh)) AS exact_dup,
           (n.doc_id IN (SELECT doc_id FROM near)) AS near_dup
    FROM newb n
    """,
    tags=("dedup", "incremental"),
    doc="Cross-corpus dedup - the incremental-ingest shape: an incoming "
    "batch (doc_id % 5 == 0 stands in for it) is checked against the "
    "existing corpus WITHOUT any batch-internal or corpus-internal "
    "pairing. Exact tier: semi-join on the md5 digest (shuffles 32-hex "
    "keys, never text). Near tier: minhash band signatures of the "
    "batch semi-joined to the corpus's band table on (band, packed "
    "sig) - candidates are batch x collisions, so a 100 TB corpus "
    "costs one band-keyed shuffle per ingest, not a corpus self-join; "
    "in production the corpus's digest + band tables are precomputed "
    "once and only the (small) batch side is fresh work.",
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % NEW_BATCH_MOD == 0
    base = docs.filter(~is_new)
    new = docs.filter(is_new)

    base_h = base.select(F.md5(F.trim(F.col("text"))).alias("h")).distinct()
    new_h = new.select("doc_id", F.md5(F.trim(F.col("text"))).alias("h"))
    exact_ids = new_h.join(base_h, "h", "left_semi").select("doc_id")

    base_bands = _band_table(minhash_signatures(base)).select("band", "sig").distinct()
    new_bands = _band_table(minhash_signatures(new))
    near_ids = (
        new_bands.join(base_bands, ["band", "sig"], "left_semi")
        .select("doc_id")
        .distinct()
    )

    return (
        new.select("doc_id")
        .join(exact_ids.withColumn("exact_dup", F.lit(True)), "doc_id", "left")
        .join(near_ids.withColumn("near_dup", F.lit(True)), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("exact_dup", F.lit(False)).alias("exact_dup"),
            F.coalesce("near_dup", F.lit(False)).alias("near_dup"),
        )
    )


CONTAIN_NUM, CONTAIN_DEN = 1, 2  # keep pairs with containment >= 1/2


@query(
    "dedup_containment_pairs",
    f"""
    WITH {SQL_SHINGLE_OVERLAP}
    SELECT doc_a, doc_b, i AS n_shared,
           LEAST(sa.n, sb.n) AS n_smaller,
           CAST(i AS DOUBLE) / LEAST(sa.n, sb.n) AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE i * {CONTAIN_DEN} >= LEAST(sa.n, sb.n) * {CONTAIN_NUM}
    """,
    tags=("dedup", "join"),
    doc="Near-dup by shingle CONTAINMENT (|A∩B| / min(|A|,|B|)) - the "
    "asymmetric measure that catches a short document embedded inside "
    "a long one (quotes, boilerplate inclusion, excerpt pages), which "
    "Jaccard structurally misses (|A∩B|/|A∪B| vanishes as the length "
    "ratio grows). Same inverted-index candidates and hot-shingle "
    "cutoff as dedup_ngram_jaccard; the 1/2 threshold is the "
    "cross-multiplied integer comparison 2i >= min(n_a, n_b), and "
    "containment is one IEEE division of exact ints.",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    smaller = F.least("na", "nb")
    return (
        shingle_overlap(
            hashed_shingle_arrays(docs), hot_df_cutoff(corpus_n_docs(spark, sf_dir))
        )
        .filter(F.col("i") * CONTAIN_DEN >= smaller * CONTAIN_NUM)
        .select(
            "doc_a",
            "doc_b",
            F.col("i").alias("n_shared"),
            smaller.alias("n_smaller"),
            (F.col("i").cast("double") / smaller).alias("containment"),
        )
    )


WINNOW_W = 4  # winnowing window (positions per window)
WINNOW_MIN_SHARED = 2  # dup-pair threshold on shared fingerprints


@query(
    "winnow_dup_pairs",
    f"""
    WITH toks AS (
      SELECT doc_id,
             {sql_tokens()} AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, i AS pos,
             CAST(concat('0x', substr(md5(concat_ws(' ', t[i], t[i+1], t[i+2])), 1, 15))
                  AS BIGINT) AS h
      FROM toks,
           LATERAL (SELECT UNNEST(GENERATE_SERIES(1, GREATEST(len(t) - 2, 0))) AS i) g
    ),
    winmin AS (
      SELECT doc_id,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING)
               AS fp,
             COUNT(*) OVER (PARTITION BY doc_id) AS n_grams,
             pos
      FROM grams
    ),
    fps AS (
      SELECT DISTINCT doc_id, fp
      FROM winmin WHERE pos <= n_grams - {WINNOW_W - 1}
    ),
    fpdf AS (SELECT fp, COUNT(*) AS c FROM fps GROUP BY fp),
    keepfp AS (
      SELECT f.doc_id, f.fp FROM fps f JOIN fpdf USING (fp)
      WHERE c <= {SQL_HOT_DF_CUTOFF}
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_fps
      FROM keepfp a JOIN keepfp b ON b.fp = a.fp AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
    )
    SELECT doc_a, doc_b, shared_fps FROM pairs
    """,
    tags=("dedup", "fingerprint"),
    doc="Winnowing (MOSS) duplicate detection: per document, the "
    "fingerprint set is the distinct minima of each sliding window of "
    "4 consecutive 3-gram hashes - the Schleimer/Wilkerson/Aiken "
    "guarantee that any shared run of >= w+k-1 tokens yields a shared "
    "fingerprint, at ~2/(w+1) the density of the full gram set. Pairs "
    "sharing >= 2 fingerprints join through the inverted fingerprint "
    "index, so the candidate space is winnowed-density-sized, a "
    "constant factor below the full inverted-shingle join "
    "(dedup_ngram_jaccard) with a detection guarantee instead of a "
    "probabilistic bound (dedup_minhash_lsh) - the third point in the "
    "dedup design space. Window minima ride the per-doc position "
    "ordering; hashes are 60-bit md5 prefixes, exact on both engines. "
    "Fingerprints hotter than the absolute hot-DF cap (boilerplate "
    "window minima, the d^2-fan-out key class) are dropped before the "
    "self-join, mirroring the hot-shingle guard in dedup_ngram_jaccard.",
)
def winnow_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return winnow_pairs(docs, fp_cutoff=hot_df_cutoff(corpus_n_docs(spark, sf_dir)))


def winnow_pairs(docs: DataFrame, fp_cutoff: int | None = None) -> DataFrame:
    """(doc_a, doc_b, shared_fps) via MOSS winnowing fingerprints.
    ``fp_cutoff`` defaults to hot_df_cutoff(count(docs)); pass an
    explicit value to skip the count() action."""
    from pyspark.sql import Window as W

    if fp_cutoff is None:
        fp_cutoff = hot_df_cutoff(docs.count())
    toks = tokens(F.col("text"))
    with_t = docs.select("doc_id", toks.alias("t"))
    grams = with_t.select(
        "doc_id",
        F.posexplode(
            F.transform(
                seq1(F.greatest(F.size("t") - 2, F.lit(0))),
                lambda i: F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                " ",
                                F.element_at("t", i),
                                F.element_at("t", i + 1),
                                F.element_at("t", i + 2),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long"),
            )
        ).alias("pos0", "h"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "h")
    wmin = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WINNOW_W - 1)
    wcnt = W.partitionBy("doc_id")
    winmin = grams.select(
        "doc_id",
        "pos",
        F.min("h").over(wmin).alias("fp"),
        F.count(F.lit(1)).over(wcnt).alias("n_grams"),
    )
    fps = (
        winmin.where(F.col("pos") <= F.col("n_grams") - (WINNOW_W - 1))
        .select("doc_id", "fp")
        .distinct()
    )
    # hot-fingerprint cap: a boilerplate window minimum shared by d
    # docs would otherwise contribute d^2 rows to the self-join below
    # — winnowing thins the index density (~2/(w+1)) but does nothing
    # about per-key skew
    fps = drop_hot_keys(fps, "fp", fp_cutoff)
    a = fps.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fps.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .where(F.col("shared_fps") >= WINNOW_MIN_SHARED)
    )


@query(
    "minhash_estimator_calibration",
    f"""
    WITH {_SQL_MINHASH_PAIRS_CTES}
    SELECT p.doc_a, p.doc_b,
           CAST(ROUND(p.jaccard, 12) AS DOUBLE) AS exact_jaccard,
           CAST(agree.k AS BIGINT) AS n_agreeing_hashes,
           CAST(agree.k AS DOUBLE) / {N_PERMS} AS estimated_jaccard
    FROM pairs p
    JOIN (
      SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
             {" + ".join(f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(N_PERMS))}
               AS k
      FROM sigs sa JOIN sigs sb ON sa.doc_id < sb.doc_id
    ) agree ON agree.doc_a = p.doc_a AND agree.doc_b = p.doc_b
    """,
    tags=("dedup", "lsh", "monitoring"),
    doc="MinHash estimator calibration: for every LSH candidate pair, "
    "the exact Jaccard next to the signature-agreement estimate "
    "(agreeing hashes / 8) - the sketch-quality report that tells you "
    "whether the signature budget (N_PERMS) is sized right before "
    "trusting banding at scale. The signature agreement join runs "
    "only over CANDIDATE pairs' signatures (broadcast-sized per "
    "candidate), never all pairs; exact side reuses the verified "
    "candidate machinery. exact_jaccard rounds at 1e-12 on both "
    "engines so the comparison column is hash-stable.",
)
def minhash_estimator_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # reuse the signature table the pair generator already materialized
    # (optimization r8): the old form ran the full per-doc md5 minhash
    # scan a SECOND time just to join signatures back onto candidates
    pairs, sigs = _minhash_lsh_pairs_and_sigs(docs)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(N_PERMS)]
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(N_PERMS)]
    )
    k = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(N_PERMS)
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("jaccard"), 12).alias("exact_jaccard"),
            k.cast("long").alias("n_agreeing_hashes"),
            (k.cast("double") / N_PERMS).alias("estimated_jaccard"),
        )
    )


@query(
    "dedup_savings_report",
    None,  # assigned below via late registration (needs keep_canonical's SQL)
    tags=("dedup", "monitoring"),
    doc="The executive dedup report: corpus size before/after the "
    "keep-canonical near-dup pass, chars saved in integer micro-"
    "fractions. Reuses dedup_keep_canonical's exact oracle as a "
    "subquery, so the report can never drift from the op it "
    "summarizes; Spark side composes the same builder. Two 1-row "
    "aggregates cross-joined (the justified scalar class).",
)
def dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    kept = dedup_keep_canonical(spark, sf_dir).select("doc_id")
    return savings_report_from(docs, kept)


def savings_report_from(docs: DataFrame, kept: DataFrame) -> DataFrame:
    """The savings report body over a precomputed keep-set — the
    artifact path: at 100 TB pass the MATERIALIZED keep_canonical
    output (spark.read.parquet(kept_path).select('doc_id')) so the
    executive report is two 1-row aggregates, not a re-run of the
    whole near-dup pass. The registered query measures the
    from-scratch (same-job) mode; pytest pins both modes equal."""
    kept = kept.select("doc_id")
    tot = docs.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )
    k = (
        kept.join(docs.select("doc_id", "n_chars"), "doc_id")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.sum("n_chars").alias("kept_chars"))
    )
    j = tot.crossJoin(k)
    return j.select(
        "n_docs",
        "n_kept",
        (F.col("n_docs") - F.col("n_kept")).alias("n_removed"),
        "total_chars",
        "kept_chars",
        F.expr(
            "(CAST(total_chars - kept_chars AS DECIMAL(38,0)) * 1000000)"
            " div total_chars"
        ).alias("saved_micro"),
    )


# late-bind the oracle: compose keep_canonical's full oracle as a
# subquery (WITH-in-subquery is standard SQL; DuckDB supports it)
REGISTRY["dedup_savings_report"].oracle = f"""
    WITH tot AS (
      SELECT COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM documents
    ),
    k AS (
      SELECT COUNT(*) AS n_kept, CAST(SUM(d.n_chars) AS BIGINT) AS kept_chars
      FROM ({{KEEP}}) kc JOIN documents d ON d.doc_id = kc.doc_id
    )
    SELECT tot.n_docs, k.n_kept, tot.n_docs - k.n_kept AS n_removed,
           tot.total_chars, k.kept_chars,
           CAST(CAST(tot.total_chars - k.kept_chars AS HUGEINT) * 1000000
                // tot.total_chars AS BIGINT) AS saved_micro
    FROM tot CROSS JOIN k
""".replace("{KEEP}", REGISTRY["dedup_keep_canonical"].oracle)


@query(
    "source_overlap_matrix",
    f"""
    WITH {SQL_SHINGLES},
    src AS (
      SELECT DISTINCT d.source, s.shingle
      FROM shingles s JOIN documents d USING (doc_id)
    ),
    sizes AS (SELECT source, COUNT(*) AS n FROM src GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS shared
      FROM src a JOIN src b ON b.shingle = a.shingle AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, shared AS n_shared_shingles,
           CAST(CAST(shared AS HUGEINT) * 1000000
                // (sa.n + sb.n - shared) AS BIGINT) AS jaccard_micro
    FROM inter
    JOIN sizes sa ON sa.source = source_a
    JOIN sizes sb ON sb.source = source_b
    """,
    tags=("dedup", "monitoring", "corpus"),
    doc="Pairwise SOURCE content overlap: shingle-set Jaccard between "
    "every source pair (integer micro-units, truncating div) - the "
    "crawl-dedup health matrix that tells you WHICH feeds duplicate "
    "each other before you pay for doc-level pairing. Per-shingle "
    "join fan-out is bounded by |sources| (source-distinct inverted "
    "index), so the candidate space is |sources|^2 regardless of "
    "corpus size - no hot-key cutoff needed, unlike the doc-level "
    "ops. Spark joins 8-byte source-distinct shingle hashes; the "
    "oracle's string formulation counts identically.",
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        hashed_shingle_arrays(docs.select(F.col("source").alias("doc_id"), "text"))
        .select(F.col("doc_id").alias("source"), F.explode("arr").alias("h"))
        .distinct()
    )
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    jac = F.expr("CAST(shared AS DECIMAL(38,0)) * 1000000 div (na + nb - shared)")
    return (
        inter.join(sa, "source_a")
        .join(sb, "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("shared").alias("n_shared_shingles"),
            jac.cast("long").alias("jaccard_micro"),
        )
    )


BENCH_MAX_ID = 10  # doc_id < 10 stands in for the eval/benchmark set
FUZZY_DECON_NUM, FUZZY_DECON_DEN = 1, 4  # flag pairs with jaccard >= 1/4


@query(
    "fuzzy_decontamination",
    f"""
    WITH {_sql_side_ctes("bench", f"doc_id < {BENCH_MAX_ID}")},
    {_sql_side_ctes("corp", f"doc_id >= {BENCH_MAX_ID}")},
    cand AS (
      SELECT DISTINCT cb.doc_id AS doc_id, bb.doc_id AS bench_id
      FROM bands_corp cb JOIN bands_bench bb
        ON bb.band = cb.band AND bb.sig = cb.sig
    ),
    sizes_c AS (SELECT doc_id, COUNT(*) AS n FROM shingles_corp GROUP BY doc_id),
    sizes_b AS (SELECT doc_id, COUNT(*) AS n FROM shingles_bench GROUP BY doc_id),
    inter AS (
      SELECT c.doc_id, c.bench_id, COUNT(*) AS i
      FROM cand c
      JOIN shingles_corp sc ON sc.doc_id = c.doc_id
      JOIN shingles_bench sb ON sb.doc_id = c.bench_id AND sb.shingle = sc.shingle
      GROUP BY c.doc_id, c.bench_id
    )
    SELECT c.doc_id, c.bench_id,
           COALESCE(i.i, 0) AS n_shared,
           CAST(COALESCE(i.i, 0) AS DOUBLE) / (zc.n + zb.n - COALESCE(i.i, 0))
             AS jaccard
    FROM cand c
    LEFT JOIN inter i ON i.doc_id = c.doc_id AND i.bench_id = c.bench_id
    JOIN sizes_c zc ON zc.doc_id = c.doc_id
    JOIN sizes_b zb ON zb.doc_id = c.bench_id
    WHERE COALESCE(i.i, 0) * {FUZZY_DECON_DEN}
          >= (zc.n + zb.n - COALESCE(i.i, 0)) * {FUZZY_DECON_NUM}
    """,
    tags=("dedup", "contamination", "lsh"),
    doc=f"FUZZY benchmark decontamination: contamination_check's exact "
    f"shared-5-gram test misses paraphrased or lightly-edited eval "
    f"leakage, so this flags corpus docs whose 3-shingle Jaccard with "
    f"any benchmark doc (ids < {BENCH_MAX_ID}) reaches "
    f"{FUZZY_DECON_NUM}/{FUZZY_DECON_DEN} - candidates come from "
    f"minhash band collisions between the corpus band table and the "
    f"TINY broadcast benchmark band table (never corpus x bench "
    f"shingle pairing), then exact Jaccard verification on the "
    f"candidates only, gated by the cross-multiplied integer test "
    f"before the one IEEE division. At 100 TB: per-row signatures "
    f"(zero shuffle), one broadcast-join over the band table, "
    f"candidate-sized verify - the decontamination pattern scaled "
    f"corpora actually run before training.",
)
def fuzzy_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < BENCH_MAX_ID)
    corp = docs.filter(F.col("doc_id") >= BENCH_MAX_ID)

    bench_bands = _band_table(minhash_signatures(bench)).select(
        F.col("doc_id").alias("bench_id"), "band", "sig"
    )
    corp_bands = _band_table(minhash_signatures(corp))
    cand = (
        corp_bands.join(F.broadcast(bench_bands), ["band", "sig"])
        .select("doc_id", "bench_id")
        .distinct()
    )

    arrays = hashed_shingle_arrays(docs)
    ac = arrays.select("doc_id", F.col("arr").alias("arr_c"))
    ab = arrays.select(F.col("doc_id").alias("bench_id"), F.col("arr").alias("arr_b"))
    paired = cand.join(ac, "doc_id").join(F.broadcast(ab), "bench_id")
    i = F.size(F.array_intersect("arr_c", "arr_b"))
    union = F.size("arr_c") + F.size("arr_b") - i
    return (
        paired.select("doc_id", "bench_id", i.alias("n_shared"), union.alias("u"))
        .filter(F.col("n_shared") * FUZZY_DECON_DEN >= F.col("u") * FUZZY_DECON_NUM)
        .select(
            "doc_id",
            "bench_id",
            F.col("n_shared").cast("long").alias("n_shared"),
            (F.col("n_shared").cast("double") / F.col("u")).alias("jaccard"),
        )
    )


@query(
    "lsh_bucket_audit",
    f"""
    WITH {SQL_SHINGLES},
    sigs AS (
      SELECT doc_id,
           {_sql_minhash_exprs()}
      FROM shingles GROUP BY doc_id
    ),
    bands AS (
      {_sql_bands()}
    ),
    buckets AS (SELECT band, sig, COUNT(*) AS c FROM bands GROUP BY band, sig)
    SELECT band, c AS bucket_size, COUNT(*) AS n_buckets,
           CAST(c * (c - 1) // 2 * COUNT(*) AS BIGINT) AS pairs_contributed
    FROM buckets GROUP BY band, c
    """,
    tags=("dedup", "lsh", "monitoring"),
    doc="Pre-flight audit of the LSH band buckets: per band, the bucket-"
    "size histogram and how many candidate pairs each size class "
    "contributes (c*(c-1)/2 per bucket). THIS is the number that "
    "decides whether the minhash self-join is safe to run at 100 TB - "
    "a single boilerplate-heavy bucket of size c contributes c^2/2 "
    "pairs, and this report finds it for the cost of one groupBy on "
    "the band table (no pairs are generated). The shuffle_skew_report "
    "pattern applied to the dedup join's OWN key space; run it before "
    "dedup_minhash_lsh the way EXPLAIN is run before a query.",
)
def lsh_bucket_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    b = _band_table(minhash_signatures(docs))
    buckets = b.groupBy("band", "sig").agg(F.count(F.lit(1)).alias("c"))
    return (
        buckets.groupBy("band", "c")
        .agg(F.count(F.lit(1)).alias("n_buckets"))
        .select(
            "band",
            F.col("c").alias("bucket_size"),
            "n_buckets",
            F.expr("c * (c - 1) div 2 * n_buckets").cast("long").alias(
                "pairs_contributed"
            ),
        )
    )


@query(
    "cross_split_leakage",
    f"""
    WITH {_SQL_MINHASH_PAIRS_CTES},
    {SQL_SPLIT_CTE}
    SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b,
           p.jaccard
    FROM pairs p
    JOIN sp sa ON sa.doc_id = p.doc_a
    JOIN sp sb ON sb.doc_id = p.doc_b
    WHERE p.jaccard >= {DEDUP_CANON_T} AND sa.split <> sb.split
    """,
    tags=("dedup", "contamination", "evaluation"),
    doc=f"Train/eval split-leakage audit: verified near-duplicate pairs "
    f"(jaccard >= {DEDUP_CANON_T}, the keep-canonical threshold) that "
    f"STRADDLE the canonical train/val/test hash split — the document "
    f"the model trains on is the document it is evaluated on, the "
    f"leak random splitting of a near-duplicated corpus is all but "
    f"guaranteed to create. Composes minhash_lsh_pairs' machinery AND "
    f"corpus.split_col / SQL_SPLIT_CTE verbatim, so the audit can "
    f"drift from neither the dedup op nor the split rule it checks. "
    f"Cost at 100 TB = the LSH pass plus two broadcast lookups of the "
    f"hash split (computed per row, no split table to join).",
)
def cross_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs).filter(F.col("jaccard") >= DEDUP_CANON_T)
    # the split is a pure hash of doc_id (split_col/SQL_SPLIT_CTE), so
    # compute it directly on the pair endpoints — the old shape paid
    # two doc-keyed corpus joins to look up a value derivable per row
    # (optimization r8, guide §2.4)
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            split_col(F.col("doc_a")).alias("split_a"),
            split_col(F.col("doc_b")).alias("split_b"),
            "jaccard",
        )
        .filter(F.col("split_a") != F.col("split_b"))
        .select("doc_a", "doc_b", "split_a", "split_b", "jaccard")
    )


PREFIX_K = 30  # tokens of leading context that define a "same opening"
PREFIX_MIN = 10  # ignore docs too short for a meaningful prefix


@query(
    "prefix_dup_clusters",
    f"""
    WITH t AS (
      SELECT doc_id, md5(trim(text, ' ')) AS full_h,
             {sql_tokens()} AS toks
      FROM documents
    ),
    keyed AS (
      SELECT doc_id, full_h,
             md5(array_to_string(toks[1:{PREFIX_K}], ' ')) AS prefix_h
      FROM t WHERE len(toks) >= {PREFIX_MIN}
    )
    SELECT prefix_h, COUNT(*) AS n_docs,
           COUNT(DISTINCT full_h) AS n_distinct_bodies,
           MIN(doc_id) AS keep_id
    FROM keyed
    GROUP BY prefix_h
    HAVING COUNT(*) >= 2
    """,
    tags=("dedup",),
    doc=f"Truncation/pagination duplicate detection: cluster documents "
    f"by the md5 of their first {PREFIX_K} tokens (docs under "
    f"{PREFIX_MIN} tokens ignored). Crawls produce families that "
    f"share an opening but diverge later - truncated fetches, "
    f"paginated articles, re-crawls with appended boilerplate; "
    f"whole-text hashing calls them unique and shingle Jaccard "
    f"dilutes with body length, but the shared prefix nails them. "
    f"n_distinct_bodies > 1 separates true truncation families from "
    f"plain exact-dup clusters. One shuffle on the 32-hex prefix "
    f"digest - never the text bytes - so at 100 TB it costs the same "
    f"as dedup_exact.",
)
def prefix_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    keyed = docs.select(
        "doc_id",
        F.md5(F.trim(F.col("text"))).alias("full_h"),
        F.md5(F.concat_ws(" ", F.slice(toks, 1, PREFIX_K))).alias("prefix_h"),
        F.size(toks).alias("n"),
    ).filter(F.col("n") >= PREFIX_MIN)
    return (
        keyed.groupBy("prefix_h")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("full_h").alias("n_distinct_bodies"),
            F.min("doc_id").alias("keep_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@query(
    "neardup_edit_distance",
    f"""
    WITH {_SQL_MINHASH_PAIRS_CTES}
    SELECT p.doc_a, p.doc_b,
           levenshtein(da.text, db.text) AS edit_dist,
           CAST(CAST(levenshtein(da.text, db.text) AS HUGEINT) * 1000000
                // GREATEST(length(da.text), length(db.text)) AS BIGINT)
             AS rel_edit_micro
    FROM pairs p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
    WHERE p.jaccard >= {DEDUP_CANON_T}
    """,
    tags=("dedup", "lsh"),
    doc=f"Character-level profile of the verified near-duplicate pairs: "
    f"exact Levenshtein distance and its length-relative form (integer "
    f"micro-units, truncating division) for every pair at jaccard >= "
    f"{DEDUP_CANON_T}. Shingle Jaccard says WHETHER two docs overlap; "
    f"edit distance says HOW they differ - a handful of substituted "
    f"words (small distance: re-crawl, typo fix) warrants keep-one, "
    f"while a large distance at high Jaccard means block-level "
    f"rearrangement worth human eyes. The O(len^2) distance runs on "
    f"CANDIDATE-SIZED input only (the LSH pass bounds it), never on "
    f"the corpus; both engines implement the same classic DP, "
    f"property-probed for parity.",
)
def neardup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs).filter(F.col("jaccard") >= DEDUP_CANON_T)
    ta = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    tb = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    lev = F.levenshtein("text_a", "text_b")
    return (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            lev.cast("long").alias("edit_dist"),
            F.expr(
                "CAST(CAST(levenshtein(text_a, text_b) AS DECIMAL(38,0)) * 1000000"
                " div GREATEST(length(text_a), length(text_b)) AS DECIMAL(38,0))"
            )
            .cast("long")
            .alias("rel_edit_micro"),
        )
    )


@query(
    "cross_source_dup_matrix",
    f"""
    WITH {_SQL_MINHASH_PAIRS_CTES},
    verified AS (
      SELECT p.doc_a, p.doc_b, da.source AS src_a, db.source AS src_b
      FROM pairs p
      JOIN documents da ON da.doc_id = p.doc_a
      JOIN documents db ON db.doc_id = p.doc_b
      WHERE p.jaccard >= {DEDUP_CANON_T}
    ),
    m AS (
      SELECT LEAST(src_a, src_b) AS source_lo, GREATEST(src_a, src_b) AS source_hi,
             COUNT(*) AS n_pairs
      FROM verified GROUP BY LEAST(src_a, src_b), GREATEST(src_a, src_b)
    ),
    sz AS (SELECT source, CAST(COUNT(*) AS HUGEINT) AS n FROM documents GROUP BY source)
    SELECT m.source_lo, m.source_hi, m.n_pairs,
           CAST(CASE WHEN m.source_lo = m.source_hi
                     THEN sa.n * (sa.n - 1) // 2 ELSE sa.n * sb.n END AS BIGINT)
             AS n_possible,
           CAST(CAST(m.n_pairs AS HUGEINT) * 1000000000
                // CASE WHEN m.source_lo = m.source_hi
                        THEN sa.n * (sa.n - 1) // 2 ELSE sa.n * sb.n END AS BIGINT)
             AS dup_rate_ppb
    FROM m
    JOIN sz sa ON sa.source = m.source_lo
    JOIN sz sb ON sb.source = m.source_hi
    """,
    tags=("dedup", "lsh", "monitoring"),
    doc=f"WHO duplicates WHOM: verified near-dup pairs (jaccard >= "
    f"{DEDUP_CANON_T}) aggregated into a source x source matrix with "
    f"the duplication rate in parts-per-billion of each pair's "
    f"possible-pair space (same-source diagonal uses n*(n-1)/2). "
    f"An off-diagonal hot cell is a mirror site / syndicated feed / "
    f"scraper - the crawl-planning signal that says WHICH source to "
    f"stop fetching, which per-pair dedup output alone doesn't "
    f"surface. Cost: the LSH pass plus two digest-keyed lookups and "
    f"a |sources|^2-bounded aggregation.",
)
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # source rides the verification join (optimization r8): the old
    # shape re-joined the corpus twice by doc id just to attach it
    pairs = minhash_lsh_pairs(docs, carry=("source",)).filter(
        F.col("jaccard") >= DEDUP_CANON_T
    )
    m = (
        pairs.select(
            F.least("source_a", "source_b").alias("source_lo"),
            F.greatest("source_a", "source_b").alias("source_hi"),
        )
        .groupBy("source_lo", "source_hi")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    sz = docs.groupBy("source").agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n"))
    za = sz.select(F.col("source").alias("source_lo"), F.col("n").alias("na"))
    zb = sz.select(F.col("source").alias("source_hi"), F.col("n").alias("nb"))
    possible = F.expr(
        "CASE WHEN source_lo = source_hi THEN na * (na - 1) div 2 ELSE na * nb END"
    )
    return (
        m.join(F.broadcast(za), "source_lo")
        .join(F.broadcast(zb), "source_hi")
        .select(
            "source_lo",
            "source_hi",
            "n_pairs",
            possible.cast("long").alias("n_possible"),
            F.expr(
                "CAST(CAST(n_pairs AS DECIMAL(38,0)) * 1000000000 div"
                " (CASE WHEN source_lo = source_hi THEN na * (na - 1) div 2"
                " ELSE na * nb END) AS DECIMAL(38,0))"
            )
            .cast("long")
            .alias("dup_rate_ppb"),
        )
    )


@query(
    "source_length_dup_corr",
    f"""
    WITH {_SQL_MINHASH_PAIRS_CTES},
    dup_docs AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM pairs WHERE jaccard >= {DEDUP_CANON_T}
        UNION ALL
        SELECT doc_b AS doc_id FROM pairs WHERE jaccard >= {DEDUP_CANON_T}
      )
    ),
    per_source AS (
      SELECT d.source,
             CAST(SUM(d.n_chars) // COUNT(*) AS BIGINT) AS x,
             CAST(COUNT(*) FILTER (WHERE dd.doc_id IS NOT NULL) * 1000000
                  // COUNT(*) AS BIGINT) AS y
      FROM documents d LEFT JOIN dup_docs dd ON dd.doc_id = d.doc_id
      GROUP BY d.source
    ),
    moments AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(x * y) AS HUGEINT) AS sxy,
             CAST(SUM(x * x) AS HUGEINT) AS sxx,
             CAST(SUM(y * y) AS HUGEINT) AS syy
      FROM per_source
    )
    SELECT CAST(n AS BIGINT) AS n_sources,
           CAST(CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0 THEN 0
                     ELSE (CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END)
                          * (n * sxy - sx * sy) * (n * sxy - sx * sy) * 1000000
                          // ((n * sxx - sx * sx) * (n * syy - sy * sy))
                END AS BIGINT) AS r2_signed_micro,
           CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0
                     ELSE (n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx)
                END AS BIGINT) AS slope_ppm_per_char
    FROM moments
    """,
    tags=("dedup", "monitoring", "evaluation"),
    doc=f"Does a source's mean document length predict its duplication "
    f"rate? Signed Pearson r^2 (and the regression slope) between "
    f"per-source mean length and the fraction of the source's docs in "
    f"any verified near-dup pair (jaccard >= {DEDUP_CANON_T}). A "
    f"strong positive slope means boilerplate-heavy long docs drive "
    f"duplication (fix extraction); negative means stub/short-page "
    f"mirroring (fix crawl frontier). Exact integers end-to-end: the "
    f"correlates are coarse integer units (mean chars, dup ppm), r^2 "
    f"is the cross-multiplied rational cov^2/(vx*vy) with the sign "
    f"carried separately - a CORRELATION gets a hash oracle because "
    f"the moment sums over the |sources|-row table stay bounded. "
    f"Cost: the LSH pass + one semi-join flag + a |sources|-row "
    f"moment fold; the pair table never re-shuffles by doc.",
)
def source_length_dup_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs).filter(F.col("jaccard") >= DEDUP_CANON_T)
    dup_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # No broadcast hint: the dup set grows with the corpus; AQE picks
    # broadcast only when the verified-pair table is actually small.
    flagged = docs.join(dup_docs.withColumn("is_dup", F.lit(1)), "doc_id", "left")
    per_source = flagged.groupBy("source").agg(
        F.expr("CAST(SUM(n_chars) div COUNT(1) AS BIGINT)").alias("x"),
        F.expr(
            "CAST(SUM(CASE WHEN is_dup IS NOT NULL THEN 1 ELSE 0 END) * 1000000"
            " div COUNT(1) AS BIGINT)"
        ).alias("y"),
    )
    m = per_source.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.expr("x * y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.expr("x * x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.expr("y * y")).cast("decimal(38,0)").alias("syy"),
    )
    return m.select(
        F.col("n").cast("long").alias("n_sources"),
        F.expr(
            "CAST(CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0 THEN 0"
            " ELSE (CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END)"
            " * (n * sxy - sx * sy) * (n * sxy - sx * sy) * 1000000"
            " div ((n * sxx - sx * sx) * (n * syy - sy * sy)) END AS BIGINT)"
        ).alias("r2_signed_micro"),
        F.expr(
            "CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0"
            " ELSE (n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx)"
            " END AS BIGINT)"
        ).alias("slope_ppm_per_char"),
    )


@query(
    "dup_transitivity_audit",
    f"""
    WITH {_SQL_MINHASH_PAIRS_CTES},
    e AS (
      SELECT LEAST(doc_a, doc_b) AS a, GREATEST(doc_a, doc_b) AS b
      FROM pairs WHERE jaccard >= {DEDUP_CANON_T}
    ),
    deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) GROUP BY v
    ),
    wedges AS (SELECT SUM(d * (d - 1) // 2) AS w FROM deg),
    tri AS (
      SELECT COUNT(*) AS t
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT (SELECT COUNT(*) FROM e) AS n_edges,
           CAST((SELECT w FROM wedges) AS BIGINT) AS n_wedges,
           CAST((SELECT t FROM tri) AS BIGINT) AS n_triangles,
           CAST(CASE WHEN (SELECT w FROM wedges) = 0 THEN 0
                     ELSE 3 * (SELECT t FROM tri) * 1000000
                          // (SELECT w FROM wedges) END AS BIGINT)
             AS transitivity_micro
    """,
    tags=("dedup", "graph", "evaluation"),
    doc=f"Transitivity audit of the verified near-dup relation "
    f"(jaccard >= {DEDUP_CANON_T}): global clustering coefficient "
    f"3*triangles/wedges in integer micro-units over the pair graph. "
    f"Near-duplication SHOULD be nearly transitive (a~b~c implies "
    f"a~c for true re-crawls and mirrors); a low coefficient means "
    f"the threshold sits inside chain-like gray zones - clusters "
    f"built by connected components will then glue non-duplicates "
    f"through bridge docs, and keep-one-per-cluster over-deletes. "
    f"The number that justifies (or indicts) dedup_clusters' "
    f"transitive closure. Triangle count via the oriented a<b<c "
    f"edge-edge-edge join, wedges from the degree table - all joins "
    f"run on the post-LSH edge set (candidate-sized, never corpus) "
    f"and the audit is one row at any scale.",
)
def dup_transitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    p = minhash_lsh_pairs(docs).filter(F.col("jaccard") >= DEDUP_CANON_T)
    # 5 consumers below (degrees, 3 triangle aliases, edge count):
    # materialize the candidate+verify pipeline once instead of 5x
    e = p.select(
        F.least("doc_a", "doc_b").alias("a"), F.greatest("doc_a", "doc_b").alias("b")
    ).transform(materialize)
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = deg.agg(F.sum(F.expr("d * (d - 1) div 2")).alias("w"))
    e1 = e.alias("e1")
    e2 = e.select(F.col("a").alias("b"), F.col("b").alias("c")).alias("e2")
    e3 = e.select(F.col("a").alias("a3"), F.col("b").alias("c3")).alias("e3")
    tri = (
        e1.join(e2, "b")
        .join(
            e3,
            (F.col("e3.a3") == F.col("e1.a")) & (F.col("e3.c3") == F.col("e2.c")),
        )
        .agg(F.count(F.lit(1)).alias("t"))
    )
    edges_n = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        edges_n.crossJoin(F.broadcast(wedges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_edges",
            F.col("w").cast("long").alias("n_wedges"),
            F.col("t").cast("long").alias("n_triangles"),
            F.expr(
                "CAST(CASE WHEN w = 0 THEN 0"
                " ELSE 3 * t * 1000000 div w END AS BIGINT)"
            ).alias("transitivity_micro"),
        )
    )


@query(
    "dedup_method_agreement",
    None,  # late-bound below: composes both method oracles verbatim
    tags=("dedup", "evaluation", "monitoring"),
    doc=f"Method triangulation for near-dup detection: the verified "
    f"MinHash pair set (jaccard >= {DEDUP_CANON_T}) against the "
    f"verified SimHash pair set (hamming <= 3) - pair counts found by "
    f"both / only one, plus the agreement Jaccard of the two PAIR "
    f"SETS in micro-units. Shingle Jaccard and bit-signature cosine "
    f"are different similarity geometries; a healthy corpus shows "
    f"high agreement, and only-one-method pairs are exactly where a "
    f"threshold review should start - run before committing a 100 TB "
    f"sweep to a single method. Composes both verified builders; the "
    f"fusion is a full outer join of two candidate-sized pair lists, "
    f"never corpus-sized.",
)
def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from porcupine_spark.functions.concurrent import run_concurrently

    docs = load_table(spark, sf_dir, "documents")
    # each generator eagerly checkpoints its signature table during the
    # BUILD — two independent corpus passes (minhash shingles vs simhash
    # bit-sums); build them concurrently (§2.6, r8) so the checkpoints
    # overlap instead of running back to back
    a_raw, b_raw = run_concurrently(
        lambda: minhash_lsh_pairs(docs),
        lambda: simhash_pairs(spark, sf_dir),
    )
    a = a_raw.filter(F.col("jaccard") >= DEDUP_CANON_T).select(
        "doc_a", "doc_b", F.lit(1).alias("in_mh")
    )
    b = b_raw.select("doc_a", "doc_b", F.lit(1).alias("in_sh"))
    m = a.join(b, ["doc_a", "doc_b"], "full_outer")
    return m.agg(
        F.sum(
            F.when(F.col("in_mh").isNotNull() & F.col("in_sh").isNotNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_both"),
        F.sum(
            F.when(F.col("in_mh").isNotNull() & F.col("in_sh").isNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_only_minhash"),
        F.sum(
            F.when(F.col("in_mh").isNull() & F.col("in_sh").isNotNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_only_simhash"),
        F.expr(
            "CAST(CASE WHEN count(1) = 0 THEN 0 ELSE"
            " sum(CASE WHEN in_mh IS NOT NULL AND in_sh IS NOT NULL THEN 1 ELSE 0 END)"
            " * 1000000 div count(1) END AS BIGINT)"
        ).alias("agreement_micro"),
    )


REGISTRY["dedup_method_agreement"].oracle = f"""
    WITH mh AS (
      SELECT doc_a, doc_b FROM ({REGISTRY["dedup_minhash_lsh"].oracle})
      WHERE jaccard >= {DEDUP_CANON_T}
    ),
    sh AS (
      SELECT doc_a, doc_b FROM ({REGISTRY["simhash_pairs"].oracle})
    ),
    m AS (
      SELECT COALESCE(mh.doc_a, sh.doc_a) AS doc_a,
             CASE WHEN mh.doc_a IS NOT NULL THEN 1 END AS in_mh,
             CASE WHEN sh.doc_a IS NOT NULL THEN 1 END AS in_sh
      FROM mh FULL OUTER JOIN sh
        ON sh.doc_a = mh.doc_a AND sh.doc_b = mh.doc_b
    )
    SELECT CAST(SUM(CASE WHEN in_mh IS NOT NULL AND in_sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
           CAST(SUM(CASE WHEN in_mh IS NOT NULL AND in_sh IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_only_minhash,
           CAST(SUM(CASE WHEN in_mh IS NULL AND in_sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_only_simhash,
           CAST(CASE WHEN COUNT(*) = 0 THEN 0 ELSE
                SUM(CASE WHEN in_mh IS NOT NULL AND in_sh IS NOT NULL THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) END AS BIGINT) AS agreement_micro
    FROM m
"""


# DF-spectrum buckets: powers-of-ten bands wide enough to read the
# hot tail at any corpus size.
_DF_BANDS = ((1, 1, "df_1"), (2, 2, "df_2"), (3, 10, "df_3_10"),
             (11, 100, "df_11_100"), (101, 1000, "df_101_1000"))
_DF_OVERFLOW = "df_gt_1000"


def _df_band_sql(col: str) -> str:
    arms = " ".join(
        f"WHEN {col} BETWEEN {lo} AND {hi} THEN '{name}'"
        for lo, hi, name in _DF_BANDS
    )
    return f"CASE {arms} ELSE '{_DF_OVERFLOW}' END"


@query(
    "shingle_df_spectrum",
    f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               UNNEST([array_to_string(toks[i:i+2], ' ')
                       FOR i IN range(1, len(toks) - 1)]) AS shingle
        FROM (SELECT doc_id, {sql_tokens()} AS toks
              FROM documents)
      )
    ),
    df AS (SELECT shingle, COUNT(*) AS d FROM sh GROUP BY shingle),
    banded AS (
      SELECT {_df_band_sql('d')} AS band,
             d, d * (d - 1) // 2 AS pair_mass
      FROM df
    ),
    tot AS (
      SELECT COUNT(*) AS n_sh, SUM(CAST(pair_mass AS HUGEINT)) AS pm
      FROM banded
    )
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(COUNT(*) * 1000000 // MAX(tot.n_sh) AS BIGINT) AS shingle_share_ppm,
           CAST(SUM(CAST(pair_mass AS HUGEINT)) AS BIGINT) AS pair_mass,
           CAST(CASE WHEN MAX(tot.pm) > 0
                THEN SUM(CAST(pair_mass AS HUGEINT)) * 1000000 // MAX(tot.pm)
                ELSE 0 END AS BIGINT) AS pair_mass_share_ppm
    FROM banded, tot
    GROUP BY band
    """,
    tags=("dedup", "monitoring", "planning"),
    doc="Shingle document-frequency spectrum — the diagnostic that "
    "SIZES the hot-DF cap (dedup.py HOT_DF_CAP) instead of guessing "
    "it: per DF band, how many distinct 3-gram shingles live there and "
    "how much of the inverted-index join's total pair mass "
    "(sum of df*(df-1)/2) they carry. A healthy corpus concentrates "
    "pair mass in the low bands; mass migrating into df_101_1000/"
    "df_gt_1000 is the early warning that boilerplate is entering the "
    "corpus and the exact-pair dedup ops are heading for the fan-out "
    "the cap exists to stop. Cost: the same distinct-shingle pass "
    "ngram_jaccard starts from, one shingle-keyed count, then "
    "band-sized arithmetic. The per-doc shingle set is distinct-ed "
    "BEFORE the count (matching the dedup ops' df definition).",
)
def shingle_df_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_table(docs, 3)
    df = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("d"))
    expr = None
    for lo, hi, name in _DF_BANDS:
        cond = (F.col("d") >= lo) & (F.col("d") <= hi)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    band = expr.otherwise(_DF_OVERFLOW)
    banded = df.select(
        band.alias("band"),
        F.expr("CAST(d * (d - 1) div 2 AS DECIMAL(38,0))").alias("pair_mass"),
    )
    tot = banded.agg(
        F.count(F.lit(1)).alias("n_sh"), F.sum("pair_mass").alias("pm")
    )
    return (
        banded.crossJoin(F.broadcast(tot))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.floor((F.count(F.lit(1)) * F.lit(1_000_000)) / F.max("n_sh"))
            .cast("long")
            .alias("shingle_share_ppm"),
            F.sum("pair_mass").cast("long").alias("pair_mass"),
            F.when(
                F.max("pm") > 0,
                F.expr(
                    "CAST(SUM(pair_mass) * 1000000 div MAX(pm) AS BIGINT)"
                ),
            )
            .otherwise(0)
            .cast("long")
            .alias("pair_mass_share_ppm"),
        )
    )


@query(
    "dedup_source_shift",
    None,  # late-bound below: composes keep_canonical's oracle
    tags=("dedup", "monitoring", "mixing"),
    doc="Per-source corpus-share shift through keep-canonical dedup — "
    "the number that invalidates a mixture plan: dedup is not "
    "source-neutral (a syndicated source loses most of its docs; an "
    "original one keeps them), so source weights tuned BEFORE dedup "
    "are wrong AFTER. Reports each source's doc share in ppm before "
    "and after, and the signed shift. Composes dedup_keep_canonical "
    "(builder AND oracle), so it can never drift from the dedup rule "
    "it summarizes; at 100 TB pass the materialized keep-set (the "
    "savings_report_from pattern above) instead of re-running the "
    "pass. Cost beyond keep_canonical: one broadcast semi-join and a "
    "|sources|-row rollup.",
)
def dedup_source_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    kept = dedup_keep_canonical(spark, sf_dir).select("doc_id")
    return source_shift_from(docs, kept)


def source_shift_from(docs: DataFrame, kept: DataFrame) -> DataFrame:
    """Share-shift body over a precomputed keep-set (artifact path)."""
    before = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_before"))
    after = (
        docs.join(kept.select("doc_id"), "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_after"))
    )
    tb = before.agg(F.sum("n_before").alias("tb"))
    ta = after.agg(F.sum("n_after").alias("ta"))
    share_b = F.expr("CAST(n_before * 1000000 div tb AS BIGINT)")
    share_a = F.expr("CAST(COALESCE(n_after, 0) * 1000000 div ta AS BIGINT)")
    return (
        before.join(after, "source", "left")
        .crossJoin(F.broadcast(tb))
        .crossJoin(F.broadcast(ta))
        .select(
            "source",
            F.col("n_before").cast("long").alias("n_before"),
            F.coalesce("n_after", F.lit(0)).cast("long").alias("n_after"),
            share_b.alias("share_before_ppm"),
            share_a.alias("share_after_ppm"),
            (share_a - share_b).cast("long").alias("shift_ppm"),
        )
    )


REGISTRY["dedup_source_shift"].oracle = """
    WITH keep AS ({KEEP}),
    before AS (
      SELECT source, COUNT(*) AS n_before FROM documents GROUP BY source
    ),
    after AS (
      SELECT d.source, COUNT(*) AS n_after
      FROM documents d JOIN keep k ON d.doc_id = k.doc_id
      GROUP BY d.source
    ),
    tb AS (SELECT SUM(n_before) AS tb FROM before),
    ta AS (SELECT SUM(n_after) AS ta FROM after)
    SELECT b.source,
           CAST(b.n_before AS BIGINT) AS n_before,
           CAST(COALESCE(a.n_after, 0) AS BIGINT) AS n_after,
           CAST(b.n_before * 1000000 // tb.tb AS BIGINT) AS share_before_ppm,
           CAST(COALESCE(a.n_after, 0) * 1000000 // ta.ta AS BIGINT)
             AS share_after_ppm,
           CAST(COALESCE(a.n_after, 0) * 1000000 // ta.ta
                - b.n_before * 1000000 // tb.tb AS BIGINT) AS shift_ppm
    FROM before b LEFT JOIN after a ON b.source = a.source, tb, ta
""".replace("{KEEP}", REGISTRY["dedup_keep_canonical"].oracle)


DUP_EMB_COSINE_T = 0.5  # below this, a verified text near-dup is suspect


@query(
    "dup_embedding_consistency",
    None,  # late-bound below: composes the minhash-pairs oracle
    tags=("dedup", "similarity", "quality", "monitoring"),
    doc="Cross-modal consistency audit — the stale-embedding detector: "
    "every VERIFIED text near-dup pair (exact jaccard >= 0.5 on the "
    "LSH candidate path, the keep-canonical threshold) is re-checked "
    "in embedding space with the exact-decimal cosine. Two documents "
    "that are textual near-copies but embed far apart "
    f"(cosine < {DUP_EMB_COSINE_T}) mean the embedding column is "
    "stale, mis-joined, or the encoder is broken for that slice — the "
    "failure neither dedup nor ANN audits catch alone, because each "
    "trusts its own modality. Cost at 100 TB: the LSH pass (already "
    "the designated scale path) plus two vec_id-keyed lookups on the "
    "CANDIDATE pairs only — never a vector-vector sweep. Pairs "
    "lacking an embedding on either side drop out (inner join; "
    "dq_doc_embedding_coverage owns that gap).",
)
def dup_embedding_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from porcupine_spark.operators.similarity import dot_exact, norm2_exact

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = minhash_lsh_pairs(docs).filter(F.col("jaccard") >= DEDUP_CANON_T)
    ea = emb.select(F.col("vec_id").alias("doc_a"), F.col("embedding").alias("va"))
    eb = emb.select(F.col("vec_id").alias("doc_b"), F.col("embedding").alias("vb"))
    cos = dot_exact(F.col("va"), F.col("vb")) / (
        F.sqrt(norm2_exact(F.col("va"))) * F.sqrt(norm2_exact(F.col("vb")))
    )
    return (
        pairs.join(ea, "doc_a")
        .join(eb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            cos.alias("cosine"),
            F.when(cos < DUP_EMB_COSINE_T, 1).otherwise(0).alias("suspect"),
        )
    )


from porcupine_spark.operators.similarity import sql_dot as _sql_dot  # noqa: E402

REGISTRY["dup_embedding_consistency"].oracle = f"""
    WITH pairs AS (
      SELECT doc_a, doc_b, jaccard
      FROM ({REGISTRY["dedup_minhash_lsh"].oracle})
      WHERE jaccard >= {DEDUP_CANON_T}
    ),
    j AS (
      SELECT p.doc_a, p.doc_b, p.jaccard,
             ea.embedding AS va, eb.embedding AS vb
      FROM pairs p
      JOIN embeddings ea ON ea.vec_id = p.doc_a
      JOIN embeddings eb ON eb.vec_id = p.doc_b
    )
    SELECT doc_a, doc_b, jaccard,
           {_sql_dot('va', 'vb')}
             / (SQRT({_sql_dot('va', 'va')}) * SQRT({_sql_dot('vb', 'vb')}))
             AS cosine,
           CASE WHEN {_sql_dot('va', 'vb')}
                  / (SQRT({_sql_dot('va', 'va')}) * SQRT({_sql_dot('vb', 'vb')}))
                < {DUP_EMB_COSINE_T} THEN 1 ELSE 0 END AS suspect
    FROM j
"""


# ---------------------------------------------------------------------------
# ExactSubstr verbatim span detection (the Lee et al. 2021 "Deduplicating
# Training Data Makes Language Models Better" shape): find MAXIMAL runs of
# verbatim-identical tokens shared between document pairs — the exact
# complement to the approximate fingerprint overlap of winnow_dup_pairs.
# Suffix arrays don't distribute; the equivalent shuffle-friendly plan is
# an exact K-token-window inverted index + per-pair DIAGONAL island merge:
# two windows at positions (pa, pb) belong to the same maximal run iff
# they match and share the alignment diagonal pa - pb, so consecutive-pa
# islands within a (pair, diagonal) group ARE the maximal spans, each of
# run_len + K - 1 tokens.
#
# Scale shape: window hashes are 60-bit longs (8-byte shuffle keys, never
# the window text); the hot-window occurrence cap (same hot_df_cutoff
# discipline as the shingle index) bounds per-key self-join fan-out to
# <= cutoff^2/2 regardless of corpus size — one boilerplate sentence in
# 1% of a 100 TB corpus would otherwise alone produce ~1e16 matches; the
# island window is keyed by (doc_a, doc_b, diagonal) — bounded by a
# pair's matched windows, never the corpus. At 100 TB swap md5 for a
# rolling xxhash64 (the md5 here buys the exact cross-engine oracle).
# ---------------------------------------------------------------------------

VSPAN_K = 8  # window length in tokens (ExactSubstr uses 50 on real crawls)
VSPAN_MIN_RUN = 2  # only report spans STRICTLY longer than one window


def verbatim_window_table(docs: DataFrame, k: int = VSPAN_K) -> DataFrame:
    """(doc_id, pos, h): 60-bit md5 hash of every k-token window at every
    token position (1-based), empty for docs shorter than k tokens."""
    from porcupine_spark.functions.hashing import md5_long60

    toks = tokens(F.col("text"))
    wins = F.transform(
        seq1(F.size(toks) - (k - 1)),
        lambda i: F.struct(
            i.alias("pos"),
            md5_long60(F.concat_ws(" ", F.slice(toks, i, k))).alias("h"),
        ),
    )
    return docs.select("doc_id", F.explode(wins).alias("w")).select(
        "doc_id", F.col("w.pos").alias("pos"), F.col("w.h").alias("h")
    )


_VSPAN_WIN_COLS = ", ".join(f"t[i+{j}]" for j in range(VSPAN_K))

_SQL_VSPAN_CTES = f"""
  vtoks AS (
    SELECT doc_id, {sql_tokens()} AS t
    FROM documents
  ),
  vwins AS (
    SELECT doc_id, i AS pos,
           CAST(concat('0x', substr(md5(concat_ws(' ', {_VSPAN_WIN_COLS})), 1, 15)) AS BIGINT) AS h
    FROM vtoks,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(1, GREATEST(len(t) - {VSPAN_K - 1}, 0))) AS i) s
  ),
  vhot AS (SELECT h FROM vwins GROUP BY h HAVING COUNT(*) > {SQL_HOT_DF_CUTOFF}),
  vw AS (SELECT * FROM vwins WHERE h NOT IN (SELECT h FROM vhot)),
  vmatch AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, a.pos - b.pos AS diag
    FROM vw a JOIN vw b ON a.h = b.h AND a.doc_id < b.doc_id
  ),
  visl AS (
    SELECT doc_a, doc_b, diag, pa,
           pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp
    FROM vmatch
  ),
  vspans AS (
    SELECT doc_a, doc_b, COUNT(*) + {VSPAN_K - 1} AS span_tokens
    FROM visl GROUP BY doc_a, doc_b, diag, grp
    HAVING COUNT(*) >= {VSPAN_MIN_RUN}
  )
"""


@query(
    "verbatim_span_pairs",
    f"""
    WITH {_SQL_VSPAN_CTES}
    SELECT doc_a, doc_b,
           COUNT(*) AS n_spans,
           MAX(span_tokens) AS max_span_tokens,
           CAST(SUM(span_tokens) AS BIGINT) AS total_span_tokens
    FROM vspans
    GROUP BY doc_a, doc_b
    """,
    tags=("dedup", "exact-substring", "contamination"),
    doc=f"ExactSubstr verbatim span detection: per document pair, the "
    f"maximal runs of >= {VSPAN_K + VSPAN_MIN_RUN - 1} verbatim-identical "
    f"tokens, via an exact {VSPAN_K}-token-window inverted index (60-bit "
    "hashed, 8-byte shuffle keys) + per-pair diagonal island merge — "
    "the distributed equivalent of the suffix-array pass in 'Deduplicating "
    "Training Data Makes Language Models Better'. Hot-window occurrence "
    "cap bounds self-join fan-out under boilerplate skew (same "
    "hot_df_cutoff discipline as the shingle index); island windows are "
    "keyed by (pair, diagonal), never global.",
)
def verbatim_span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return verbatim_span_pairs_over(docs, df_cutoff=hot_df_cutoff(corpus_n_docs(spark, sf_dir)))


def verbatim_spans_over(
    docs: DataFrame, df_cutoff: int, k: int = VSPAN_K, min_run: int = VSPAN_MIN_RUN
) -> DataFrame:
    """The SPAN-grain engine entry point: (doc_a, doc_b, span_tokens),
    one row per maximal verbatim run of >= k+min_run-1 tokens — the
    exact Spark twin of the oracle's ``vspans`` CTE. Pair-level
    aggregates (verbatim_span_pairs_over) and the contamination audit
    (split_verbatim_leakage) both derive from this grain."""
    pa, pb = F.col("a.pos"), F.col("b.pos")
    return span_islands(
        docs,
        df_cutoff,
        F.col("a.doc_id") < F.col("b.doc_id"),
        {"doc_a": F.col("a.doc_id"), "doc_b": F.col("b.doc_id"), "diag": pa - pb},
        k,
        min_run,
    ).select("doc_a", "doc_b", "span_tokens")


def span_islands(
    docs: DataFrame, df_cutoff: int, on: Column, keys: dict[str, Column], k: int, min_run: int
) -> DataFrame:
    """(*keys, span_tokens): one row per maximal run of >= k+min_run-1
    tokens whose k-token windows match, the core of the verbatim-span
    and intra-document repetition queries. Windows of the ``a`` and
    ``b`` sides match on their hash ``h`` and on ``on``; ``keys`` name
    the island a match belongs to (a pair or document and the offset
    diagonal, from the ``a``/``b`` columns), and the matches of one
    island merge along ``a.pos``."""
    from pyspark.sql import Window as W

    # ONE tokenize pass feeds the whole span pipeline (optimization r8,
    # guide §5): the window table is downstream of a heavy tokenize+md5
    # explode, and the old shape recomputed that pass for the
    # hot-filter aggregation AND again for the self-join sides (AQE
    # stage reuse deduped the two join sides but not the differing
    # hot-agg subtree). Checkpointed, it is computed once; downstream
    # exchanges then move 20-byte (doc_id, pos, h) rows, not text.
    wins = verbatim_window_table(docs, k).transform(materialize)
    w = drop_hot_keys(wins, "h", df_cutoff)
    a, b = w.alias("a"), w.alias("b")
    # the window table is CORPUS-SIZED and downstream of an explode, whose
    # size Catalyst underestimates badly enough to BROADCAST it (measured
    # at 10x: 36.7 s broadcast plan vs 6.5 s shuffled, identical rows) —
    # pin the scale-correct strategy. Both sides are hash-exchanged on h
    # (materialize drops hash partitioning); the hash join then compares
    # co-located 8-byte keys
    matches = a.join(b.hint("shuffle_hash"), (F.col("a.h") == F.col("b.h")) & on).select(
        *[c.alias(n) for n, c in keys.items()], F.col("a.pos").alias("pa")
    )
    # consecutive matches on one diagonal share pa - row_number()
    wisl = W.partitionBy(*keys).orderBy("pa")
    return (
        matches.withColumn("grp", F.col("pa") - F.row_number().over(wisl))
        .groupBy(*keys, "grp")
        .agg((F.count(F.lit(1)) + (k - 1)).alias("span_tokens"))
        .filter(F.col("span_tokens") >= k + min_run - 1)
        .drop("grp")
    )


def verbatim_span_pairs_over(
    docs: DataFrame, df_cutoff: int, k: int = VSPAN_K, min_run: int = VSPAN_MIN_RUN
) -> DataFrame:
    """Pair-grain aggregate over verbatim_spans_over."""
    spans = verbatim_spans_over(docs, df_cutoff, k, min_run)
    return spans.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.max("span_tokens").cast("long").alias("max_span_tokens"),
        F.sum("span_tokens").cast("long").alias("total_span_tokens"),
    )


VSPAN_DROP_TOKENS = 12  # drop a doc sharing a >=12-token verbatim run


@query(
    "verbatim_span_dedup",
    f"""
    WITH {_SQL_VSPAN_CTES},
    vdropped AS (
      SELECT DISTINCT doc_b FROM vspans WHERE span_tokens >= {VSPAN_DROP_TOKENS}
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_b FROM vdropped)
    """,
    tags=("dedup", "exact-substring"),
    doc=f"The ExactSubstr doc-level keep policy: drop every document "
    f"sharing a verbatim run of >= {VSPAN_DROP_TOKENS} tokens with a "
    "smaller-id document (keep-first canonical, the span-based twin of "
    "dedup_keep_canonical's jaccard policy — catches templated/quoted "
    "copies whose shingle-set jaccard stays low). Same AQE contract as "
    "the other keep policies: NO broadcast hint on the dropped set — "
    "it is O(dup_rate * corpus) at real crawl dup rates.",
)
def verbatim_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dropped = (
        verbatim_span_pairs_over(
            docs, df_cutoff=hot_df_cutoff(corpus_n_docs(spark, sf_dir))
        )
        .filter(F.col("max_span_tokens") >= VSPAN_DROP_TOKENS)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    # Deliberately unhinted (see docstring): dropped ~ dup_rate * |corpus|.
    return docs.join(dropped, "doc_id", "left_anti").select(
        "doc_id", "lang", "source"
    )


def intra_doc_repeated_spans(
    docs: DataFrame,
    df_cutoff: int,
    k: int = VSPAN_K,
    min_run: int = VSPAN_MIN_RUN,
) -> DataFrame:
    """Intra-document self-repetition: maximal runs of >= k+min_run-1
    tokens a document repeats WITHIN itself (window matches at two
    positions of the same doc, merged along the offset diagonal) — the
    span-exact upgrade of repetition_ratio's token-level heuristic,
    catching looped boilerplate and generation-degeneration text a
    quality gate should drop. Same inverted index as
    verbatim_span_pairs: the within-doc self-join is keyed by hash,
    capped by the hot-window cutoff, and islands are keyed by
    (doc, diagonal) — per-doc cost bounded by the doc's own
    repeated-window count.

    The synthetic documents table never repeats an 8-token window
    internally, so the registered query form (intra_doc_repetition_spans
    below) derives a deterministic self-repeating corpus first — for
    doc_id % REP_PLANT_MOD == 0 the text is doubled, identically in
    Spark and the DuckDB oracle — making the oracle comparison
    non-trivially non-empty. Returns (doc_id, n_repeat_spans,
    max_span_tokens, total_span_tokens)."""
    pa, pb = F.col("a.pos"), F.col("b.pos")
    spans = span_islands(
        docs,
        df_cutoff,
        (F.col("a.doc_id") == F.col("b.doc_id")) & (pa < pb),
        {"doc_id": F.col("a.doc_id"), "diag": pb - pa},
        k,
        min_run,
    )
    return spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_repeat_spans"),
        F.max("span_tokens").cast("long").alias("max_span_tokens"),
        F.sum("span_tokens").cast("long").alias("total_span_tokens"),
    )


REP_PLANT_MOD = 16  # every 16th doc gets its text doubled (planted repeat)

_IREP_WIN_COLS = ", ".join(f"t[i+{j}]" for j in range(VSPAN_K))


@query(
    "intra_doc_repetition_spans",
    f"""
    WITH pdocs AS (
      SELECT doc_id,
             CASE WHEN doc_id % {REP_PLANT_MOD} = 0
                  THEN text || ' ' || text ELSE text END AS text
      FROM documents
    ),
    itoks AS (
      SELECT doc_id, {sql_tokens()} AS t
      FROM pdocs
    ),
    iwins AS (
      SELECT doc_id, i AS pos,
             CAST(concat('0x', substr(md5(concat_ws(' ', {_IREP_WIN_COLS})), 1, 15)) AS BIGINT) AS h
      FROM itoks,
           LATERAL (SELECT UNNEST(GENERATE_SERIES(1, GREATEST(len(t) - {VSPAN_K - 1}, 0))) AS i) s
    ),
    ihot AS (SELECT h FROM iwins GROUP BY h HAVING COUNT(*) > {SQL_HOT_DF_CUTOFF}),
    iw AS (SELECT * FROM iwins WHERE h NOT IN (SELECT h FROM ihot)),
    imatch AS (
      SELECT a.doc_id AS doc_id, a.pos AS pa, b.pos - a.pos AS diag
      FROM iw a JOIN iw b ON a.h = b.h AND a.doc_id = b.doc_id AND a.pos < b.pos
    ),
    iisl AS (
      SELECT doc_id, diag, pa,
             pa - ROW_NUMBER() OVER (PARTITION BY doc_id, diag ORDER BY pa) AS grp
      FROM imatch
    ),
    ispans AS (
      SELECT doc_id, COUNT(*) + {VSPAN_K - 1} AS span_tokens
      FROM iisl GROUP BY doc_id, diag, grp
      HAVING COUNT(*) >= {VSPAN_MIN_RUN}
    )
    SELECT doc_id,
           COUNT(*) AS n_repeat_spans,
           CAST(MAX(span_tokens) AS BIGINT) AS max_span_tokens,
           CAST(SUM(span_tokens) AS BIGINT) AS total_span_tokens
    FROM ispans GROUP BY doc_id
    """,
    tags=("dedup", "exact-substring", "quality"),
    doc=f"Intra-document self-repetition spans (the span-exact upgrade "
    f"of repetition_ratio, catching looped boilerplate / degenerate "
    f"generation): maximal runs of >= {VSPAN_K + VSPAN_MIN_RUN - 1} "
    "tokens a document repeats WITHIN itself, from the same capped "
    f"{VSPAN_K}-token-window inverted index as verbatim_span_pairs "
    "with the self-join keyed by (hash, doc_id) and islands by "
    "(doc, diagonal). The synthetic corpus never self-repeats, so the "
    f"query plants repetition deterministically (doc_id % "
    f"{REP_PLANT_MOD} == 0 -> text doubled) IDENTICALLY on both "
    "engines — the oracle comparison is non-trivially non-empty "
    "(every planted doc with >= 8 tokens must surface).",
)
def intra_doc_repetition_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % REP_PLANT_MOD == 0,
            F.concat(F.col("text"), F.lit(" "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return intra_doc_repeated_spans(
        planted, df_cutoff=hot_df_cutoff(corpus_n_docs(spark, sf_dir))
    )


@query(
    "split_verbatim_leakage",
    f"""
    WITH {_SQL_VSPAN_CTES},
    {SQL_SPLIT_CTE},
    leaks AS (
      SELECT s.doc_a, s.doc_b, s.span_tokens,
             spa.split AS split_a, spb.split AS split_b
      FROM vspans s
      JOIN sp spa ON spa.doc_id = s.doc_a
      JOIN sp spb ON spb.doc_id = s.doc_b
      WHERE spa.split <> spb.split
        AND s.span_tokens >= {VSPAN_DROP_TOKENS}
    ),
    per_eval AS (
      SELECT CASE WHEN split_a = 'train' THEN doc_b ELSE doc_a END AS eval_doc,
             CASE WHEN split_a = 'train' THEN split_b ELSE split_a END AS eval_split,
             CASE WHEN split_a = 'train' THEN doc_a ELSE doc_b END AS train_doc,
             span_tokens
      FROM leaks
      WHERE split_a = 'train' OR split_b = 'train'
    )
    SELECT eval_split,
           COUNT(DISTINCT eval_doc) AS n_leaked_docs,
           COUNT(DISTINCT train_doc) AS n_train_sources,
           CAST(MAX(span_tokens) AS BIGINT) AS max_span_tokens,
           COUNT(*) AS n_leak_spans
    FROM per_eval
    GROUP BY eval_split
    """,
    tags=("dedup", "exact-substring", "contamination", "eval"),
    doc=f"Span-level train/eval contamination audit: val/test documents "
    f"sharing a VERBATIM run of >= {VSPAN_DROP_TOKENS} tokens with any "
    "train document under the canonical hash split — the exact-"
    "substring decontamination pass of Lee et al. applied across split "
    "boundaries, catching the leakage that embedding-level "
    "cross_split_leakage (cosine) and probe-level "
    "verbatim_contamination (fixed benchmark strings) both miss: "
    "literal shared passages between arbitrary train and eval docs. "
    "Same capped inverted-index + diagonal-island plan as "
    "verbatim_span_pairs plus two split-table joins (doc_id-keyed); "
    "reports per eval split: leaked docs, distinct train sources, "
    "worst span, span count.",
)
def split_verbatim_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from porcupine_spark.operators.corpus import split_col

    docs = load_table(spark, sf_dir, "documents")
    # SPAN grain (one row per maximal run), exactly the oracle's vspans
    spans = verbatim_spans_over(
        docs, df_cutoff=hot_df_cutoff(corpus_n_docs(spark, sf_dir))
    ).filter(F.col("span_tokens") >= VSPAN_DROP_TOKENS)
    sp = docs.select("doc_id", split_col().alias("split"))
    spa = sp.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    spb = sp.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    leaks = (
        spans.join(spa, "doc_a")
        .join(spb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .filter((F.col("split_a") == "train") | (F.col("split_b") == "train"))
    )
    a_is_train = F.col("split_a") == "train"
    per_eval = leaks.select(
        F.when(a_is_train, F.col("doc_b")).otherwise(F.col("doc_a")).alias("eval_doc"),
        F.when(a_is_train, F.col("split_b")).otherwise(F.col("split_a")).alias("eval_split"),
        F.when(a_is_train, F.col("doc_a")).otherwise(F.col("doc_b")).alias("train_doc"),
        "span_tokens",
    )
    return per_eval.groupBy("eval_split").agg(
        F.countDistinct("eval_doc").cast("long").alias("n_leaked_docs"),
        F.countDistinct("train_doc").cast("long").alias("n_train_sources"),
        F.max("span_tokens").cast("long").alias("max_span_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_leak_spans"),
    )
