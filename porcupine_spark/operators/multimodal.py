"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata, with decode / feature-extract / resize / frame-sample stages.

The Spark-side plumbing is real and tested — binary columns, Arrow-
batched ``mapInPandas`` with a declared output schema, deterministic
batch shapes — while the codec kernel itself is STUBBED (this container
has no image/audio libraries): ``decode_media_meta`` computes metadata
with a deterministic fake decoder over the raw bytes. Swapping in a
real decoder (PIL/ffmpeg) changes ONE function body, none of the
plumbing. A real deployment keeps bytes out of shuffles: metadata is
extracted once, bytes are re-read from storage by path when needed.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from porcupine_spark.functions import seq1
from porcupine_spark.operators.dedup import banded_hamming_pairs
from porcupine_spark.plans.registry import query
from porcupine_spark.tables import load_table

META_SCHEMA = (
    "doc_id long, n_bytes long, width int, height int, n_frames int, format string"
)


def fake_decode(payload: bytes) -> dict:
    """Deterministic stand-in for a codec: metadata derived from byte
    length and first/last byte. Raises like a real decoder on empty
    input."""
    if not payload:
        raise ValueError("cannot decode empty payload")
    n = len(payload)
    return {
        "n_bytes": n,
        "width": (n * 7) % 640 + 16,
        "height": (payload[0] * 5) % 480 + 16,
        "n_frames": n % 5 + 1,
        "format": "fake/v1",
    }


def parse_media_header(payload: bytes) -> dict | None:
    """REAL metadata extraction for container formats whose headers are
    pure byte arithmetic — no media library needed. Returns None when
    the payload is not a recognized container (caller falls back to the
    stub codec). Covers:

    - PNG: IHDR width/height (big-endian at offset 16/20);
    - GIF87a/89a: logical screen size (little-endian at 6/8);
    - JPEG: first SOF0/1/2 segment's height/width;
    - WAV (RIFF/WAVE): PCM frame count = data-chunk size / block align
      (the audio analog of n_frames; width/height stay 0).
    """
    n = len(payload)
    if n >= 24 and payload[:8] == b"\x89PNG\r\n\x1a\n":
        w = int.from_bytes(payload[16:20], "big")
        h = int.from_bytes(payload[20:24], "big")
        return {"n_bytes": n, "width": w, "height": h, "n_frames": 1, "format": "image/png"}
    if n >= 10 and payload[:6] in (b"GIF87a", b"GIF89a"):
        w = int.from_bytes(payload[6:8], "little")
        h = int.from_bytes(payload[8:10], "little")
        # frame count = number of image descriptors (0x2C introducers
        # at block level is a full parse; approximate with 1 for the
        # header-only pass — a real decoder owns this)
        return {"n_bytes": n, "width": w, "height": h, "n_frames": 1, "format": "image/gif"}
    if n >= 4 and payload[:2] == b"\xff\xd8":
        i = 2
        while i + 9 < n and payload[i] == 0xFF:
            marker, seglen = payload[i + 1], int.from_bytes(payload[i + 2 : i + 4], "big")
            if marker in (0xC0, 0xC1, 0xC2):
                h = int.from_bytes(payload[i + 5 : i + 7], "big")
                w = int.from_bytes(payload[i + 7 : i + 9], "big")
                return {
                    "n_bytes": n, "width": w, "height": h, "n_frames": 1,
                    "format": "image/jpeg",
                }
            i += 2 + seglen
        return None
    if n >= 44 and payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        # walk chunks for fmt (block align) and data (payload size)
        i, block_align, data_size = 12, None, None
        while i + 8 <= n:
            cid = payload[i : i + 4]
            csize = int.from_bytes(payload[i + 4 : i + 8], "little")
            if cid == b"fmt " and i + 22 <= n:
                block_align = int.from_bytes(payload[i + 20 : i + 22], "little")
            elif cid == b"data":
                data_size = csize
            i += 8 + csize + (csize % 2)
        if block_align and data_size is not None:
            return {
                "n_bytes": n, "width": 0, "height": 0,
                "n_frames": data_size // block_align, "format": "audio/wav",
            }
    return None


def decode_media_meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: (doc_id, payload binary) -> metadata rows.
    Arrow-batched; one Python crossing per ~10k rows, not per row.
    Real container headers (PNG/GIF/JPEG/WAV) parse for real; anything
    else goes through the deterministic stub codec."""
    for pdf in batches:
        metas = [parse_media_header(p) or fake_decode(p) for p in pdf["payload"]]
        out = pd.DataFrame(metas)
        out.insert(0, "doc_id", pdf["doc_id"].values)
        yield out[["doc_id", "n_bytes", "width", "height", "n_frames", "format"]]


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text re-cast as an opaque binary payload column —
    the fixture for the multimodal plumbing (no real media in the
    test corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))


@query(
    "media_decode_meta",
    """
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           (octet_length(encode(text)) * 7) % 640 + 16 AS width,
           (ord(substr(text, 1, 1)) * 5) % 480 + 16 AS height,
           octet_length(encode(text)) % 5 + 1 AS n_frames,
           'fake/v1' AS format
    FROM documents
    """,
    tags=("multimodal", "pandas_udf"),
    doc="Binary decode -> metadata through Arrow-batched mapInPandas "
    "(kernel stubbed deterministically; see module doc). The oracle "
    "recomputes the fake decoder arithmetic in SQL, proving the "
    "plumbing (schema, batching, binary column) end-to-end.",
)
def media_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = media_table(spark, sf_dir)
    out = media.mapInPandas(decode_media_meta, schema=META_SCHEMA)
    return out.select(
        "doc_id",
        "n_bytes",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("n_frames").cast("long").alias("n_frames"),
        "format",
    )


@query(
    "media_frame_sample",
    """
    WITH meta AS (
      SELECT doc_id, octet_length(encode(text)) % 5 + 1 AS n_frames FROM documents
    )
    SELECT doc_id, f.frame_idx,
           md5(concat(CAST(doc_id AS VARCHAR), ':', CAST(f.frame_idx AS VARCHAR))) AS frame_key
    FROM meta,
         LATERAL (SELECT UNNEST(GENERATE_SERIES(0, n_frames - 1)) AS frame_idx) f
    """,
    tags=("multimodal", "explode"),
    doc="Frame sampling: one row per sampled frame index (explode of a "
    "per-item frame range), frame_key = stable handle a downstream "
    "decode stage would fetch by. Bytes never enter the explode.",
)
def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_frames = F.octet_length(F.encode(F.col("text"), "UTF-8")) % 5 + 1
    frames = docs.select(
        "doc_id", F.explode(F.transform(seq1(n_frames), lambda i: i - 1)).alias("frame_idx")
    )
    return frames.select(
        "doc_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("frame_idx").cast("string"))).alias(
            "frame_key"
        ),
    )


# --- perceptual-hash near-dup (aHash + banded pairing) ---------------

AHASH_BANDS = 4  # 16 bits each; hamming<=3 pairs share >=1 band (pigeonhole)
AHASH_MAX_HAMMING = 3


def ahash_grid(payload: bytes) -> list[int]:
    """Deterministic 8x8 'luminance' grid for the stub codec: 64 cells
    derived by chained md5 over the payload — the stand-in for
    decode->grayscale->resize(8,8). A real pipeline swaps ONLY this
    function for PIL/ffmpeg; everything downstream (Arrow batching,
    banding, verification) is codec-agnostic."""
    import hashlib

    cells: list[int] = []
    h = hashlib.md5(payload).digest()
    while len(cells) < 64:
        cells.extend(h)
        h = hashlib.md5(h).digest()
    return cells[:64]


def ahash64(payload: bytes) -> int:
    """Average hash: bit i set iff cell i > mean(cells). 64-bit int
    (signed-wrapped so it fits a Spark long)."""
    cells = ahash_grid(payload)
    mean = sum(cells) / 64.0
    v = 0
    for i, c in enumerate(cells):
        if c > mean:
            v |= 1 << i
    return v - (1 << 64) if v >= 1 << 63 else v


def media_ahash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: (doc_id, payload) -> (doc_id, sig = ahash64)."""
    for pdf in batches:
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].values, "sig": [ahash64(p) for p in pdf["payload"]]}
        )


def media_ahash_pairs(media: DataFrame, max_hamming: int = AHASH_MAX_HAMMING) -> DataFrame:
    """(doc_a, doc_b, hamming) for near-identical media: the aHash of
    each payload, then ``dedup.banded_hamming_pairs`` over its 16-bit
    bands (pigeonhole: hamming<=3 differing bits cannot touch all 4
    bands) — the pair generator of ``simhash_pairs`` on a 64-bit
    signature. The only Python is the per-row hash kernel; the
    self-join shuffles band chunks, never payload bytes."""
    sigs = media.mapInPandas(media_ahash, "doc_id long, sig long")
    return banded_hamming_pairs(sigs, 64, 64 // AHASH_BANDS, max_hamming)


@query(
    "media_dedup_exact",
    """
    SELECT md5(text) AS payload_hash,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
    tags=("multimodal", "dedup"),
    doc="Exact media dedup: hash-groupBy on the md5 of the raw binary "
    "payload (the UTF-8 re-encoding of text stands in for real media "
    "bytes, so the oracle's md5(text) is byte-identical), keep lowest "
    "id. The multimodal twin of dedup_exact: the shuffle key is the "
    "32-hex digest, never payload bytes - at 100 TB of media that is "
    "the difference between shuffling kilobyte hashes and shuffling "
    "the corpus.",
)
def media_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = media_table(spark, sf_dir)
    return (
        media.select(F.md5(F.col("payload")).alias("payload_hash"), "doc_id")
        .groupBy("payload_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )
