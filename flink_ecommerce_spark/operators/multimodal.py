"""Multimodal column plumbing: opaque binary payloads + typed
metadata, with Arrow-batched (mapInPandas) decode/feature-extract.

There are no image/audio codecs here, so the decode step is a
clearly-marked STUB: ``decode_features`` computes deterministic fake
features from the payload bytes (oracle-checkable arithmetic); a
real codec (PIL, ffmpeg) would replace ``_fake_decode``. Everything
Spark-side — schema, binary column handling,
mapInPandas batch iteration, partitioning — is real and tested.

Scale notes: payloads travel as parquet binary columns; mapInPandas
streams Arrow record batches through pandas without materializing a
partition, so executor memory is bounded by
spark.sql.execution.arrow.maxRecordsPerBatch regardless of total
size. No shuffle anywhere — decode is a pure map.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
    ]
)


def attach_fake_payload(documents: DataFrame) -> DataFrame:
    """Treat each document's UTF-8 bytes as an opaque media payload
    with typed metadata — the multimodal column pattern: binary data
    + a metadata struct in the same row."""
    return documents.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("image/fake").alias("mime"),
            F.octet_length("text").alias("n_bytes"),
        ).alias("media_meta"),
    )


def _fake_decode(n_bytes: pd.Series) -> pd.DataFrame:
    """Deterministic stand-in for a real codec: derive image-like
    dimensions from payload size. Swap for PIL/ffmpeg in production."""
    return pd.DataFrame(
        {
            "n_bytes": n_bytes.astype("int32"),
            "width": (16 + (n_bytes * 7) % 624).astype("int32"),
            "height": (16 + (n_bytes * 13) % 464).astype("int32"),
            "n_frames": (1 + n_bytes % 16).astype("int32"),
        }
    )


def decode_features(with_payload: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload
    column. Batches stream through pandas; output schema is fixed
    (FEATURE_SCHEMA) so downstream plans are fully typed."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_bytes = pdf["payload"].map(len)
            out = _fake_decode(n_bytes)
            out.insert(0, "doc_id", pdf["doc_id"].astype("int64"))
            yield out

    return with_payload.select("doc_id", "payload").mapInPandas(
        decode, schema=FEATURE_SCHEMA
    )


def multimodal_features(documents: DataFrame) -> DataFrame:
    """End-to-end: attach payload → Arrow-batched decode."""
    return decode_features(attach_fake_payload(documents))


def multimodal_frames(documents: DataFrame) -> DataFrame:
    """Frame sampling plumbing: one row per (pseudo-)video frame with
    its byte offset — composition of the Arrow-batched decode with a
    JVM-side explode. The explode happens AFTER mapInPandas, so frame
    fan-out never inflates the Arrow transfer."""
    feats = multimodal_features(documents)
    return feats.select(
        "doc_id",
        "n_frames",
        F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1)).alias("frame_idx"),
        # integer division (not /-then-cast: DuckDB casts by rounding,
        # Spark by truncation — div is unambiguous in both)
        F.expr("n_bytes div n_frames").cast("int").alias("frame_stride"),
    ).select(
        "doc_id",
        "frame_idx",
        (F.col("frame_idx") * F.col("frame_stride")).alias("frame_offset"),
    )


THUMB_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("thumb_width", IntegerType()),
        StructField("thumb_height", IntegerType()),
        StructField("thumb_bytes", BinaryType()),
    ]
)


def resize_thumbnails(with_payload: DataFrame, max_px: int = 64) -> DataFrame:
    """Batch image-resize plumbing: decode dimensions, compute the
    aspect-preserving thumbnail size with INTEGER-only math (floor
    division — unambiguous across engines), and emit a binary
    thumbnail payload. The pixel resample itself is the stubbed codec
    step (thumbnail bytes = a deterministic byte-budget prefix of the
    payload, sized thumb_w*thumb_h*3 — swap `_fake_decode` and the
    slice for PIL in production); the Spark-side shape is the real
    thing: binary in, binary out, fixed schema, Arrow-batched, no
    shuffle, executor memory bounded by the Arrow batch size."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_bytes = pdf["payload"].map(len)
            dims = _fake_decode(n_bytes)
            w = dims["width"].astype("int64")
            h = dims["height"].astype("int64")
            long_side = w.where(w >= h, h)
            # integer aspect-preserving resize, never upscaling
            tw = (w * max_px // long_side).where(long_side > max_px, w)
            th = (h * max_px // long_side).where(long_side > max_px, h)
            tw = tw.clip(lower=1)
            th = th.clip(lower=1)
            budget = (tw * th * 3).astype("int64")
            thumbs = [
                bytes(p[: int(b)]) for p, b in zip(pdf["payload"], budget)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "width": w.astype("int32"),
                    "height": h.astype("int32"),
                    "thumb_width": tw.astype("int32"),
                    "thumb_height": th.astype("int32"),
                    "thumb_bytes": thumbs,
                }
            )

    return with_payload.select("doc_id", "payload").mapInPandas(
        resize, schema=THUMB_SCHEMA
    )


def media_dedup(with_payload: DataFrame) -> DataFrame:
    """Exact duplicate groups over the OPAQUE binary payload — the
    multimodal twin of dedup_exact. md5 runs over raw bytes, so it
    needs no codec at all: identical images/audio dedup byte-for-byte
    before any decode is attempted (the cheap first pass every media
    pipeline runs before perceptual hashing). Shuffles (hash, doc_id)
    pairs only; payloads never leave their scan partition."""
    return (
        with_payload.select(
            F.md5("payload").alias("payload_hash"),
            "doc_id",
            F.length("payload").cast("long").alias("__bytes"),
        )
        .groupBy("payload_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
            # identical payloads have identical size, so the dedup
            # saving is (copies - 1) x that size
            ((F.count(F.lit(1)) - 1) * F.max("__bytes")).alias("dup_bytes"),
        )
    )


AHASH_BAND_BITS = 8  # 8 bands -> pigeonhole-exact for hamming <= 7
AHASH_HAMMING_MAX = 7

# The 8x8 mean-downsample as a portable expression: cell i is the
# integer mean codepoint over the i-th of 64 equal character ranges
# (the stub stand-in for mean luma over the i-th pixel block — local
# edits perturb one cell's mean slightly instead of rehashing it,
# which is the property that makes aHash perceptual).
_AHASH_SLICE = (
    "slice(__cs, cast(1 + floor(i * size(__cs) / 64.0) as int), "
    "greatest(1, cast(floor(size(__cs) / 64.0) as int)))"
)
_AHASH_CELL = (
    f"case when size({_AHASH_SLICE}) > 0 then "
    f"aggregate({_AHASH_SLICE}, cast(0 as bigint), (acc, c) -> acc + ascii(c)) "
    f"div size({_AHASH_SLICE}) else cast(0 as bigint) end"
)


def media_ahash(documents: DataFrame) -> DataFrame:
    """(doc_id, ahash_hi, ahash_lo) — 64-bit average-hash (aHash)
    perceptual fingerprint over the (stub-)decoded payload: the
    near-duplicate complement of ``media_dedup``'s exact byte hash.
    Real pipelines mean-downsample decoded luma to an 8x8 grid and
    set bit i where cell i >= the grid mean; this container has no
    codecs, so the DECODE is the documented stub boundary — the grid
    cell "intensity" is the mean character codepoint over the
    payload's i-th range (deterministic, oracle-checkable, and
    LOCALLY STABLE: a small edit shifts one cell's mean slightly
    rather than rehashing it — the property that makes the hash
    perceptual). Everything that makes aHash scale-worthy is real:
    per-row expression pipeline (no shuffle), mean-thresholding in
    exact integer arithmetic (64·cell >= Σcells — no division,
    cell means by integer div), and the two-halves 32-bit packing
    shared with ``simhash`` so every downstream bit/shift/popcount
    op is engine-portable with no signed-64 edge cases.

    Swap the cell expression for real luma means and NOTHING
    downstream changes — banding, hamming verify, and the pairs
    operator are representation-agnostic."""
    d1 = documents.select(
        "doc_id",
        F.expr("regexp_extract_all(text, '(?s).', 0)").alias("__cs"),
    )
    d2 = d1.select(
        "doc_id",
        F.expr(f"transform(sequence(0, 63), i -> {_AHASH_CELL})").alias(
            "__pix"
        ),
    )
    d3 = d2.select(
        "doc_id",
        "__pix",
        F.expr(
            "aggregate(__pix, cast(0 as bigint), (acc, x) -> acc + x)"
        ).alias("__tot"),
    )

    def pack(lo_bit: int, hi_bit: int) -> str:
        return (
            f"aggregate(sequence({lo_bit}, {hi_bit}), cast(0 as bigint), "
            "(acc, i) -> acc + if(64 * element_at(__pix, i + 1) >= __tot, "
            f"cast(pow(2, i - {lo_bit}) as bigint), cast(0 as bigint)))"
        )

    return d3.select(
        "doc_id",
        F.expr(pack(32, 63)).alias("ahash_hi"),
        F.expr(pack(0, 31)).alias("ahash_lo"),
    )


def media_ahash_pairs(documents: DataFrame) -> DataFrame:
    """(doc_a, doc_b, hamming) — perceptual near-duplicate pairs by
    aHash hamming distance ≤ AHASH_HAMMING_MAX, candidates from matching
    any ``AHASH_BAND_BITS``-wide band (simhash_near_pairs' banding shape).
    Pigeonhole: with B = 64/AHASH_BAND_BITS bands, a pair at hamming < B
    must share an untouched band — at 8-bit bands B = 8 > 7, so
    recall is EXACT for the shipped threshold. Scale knob: 8-bit
    bands give 256 buckets per band, so at large corpora hot buckets
    form from true perceptual-dup mass — widen ``AHASH_BAND_BITS`` exactly
    as for ``dedup.simhash_near_pairs`` (wider bands bound the
    self-join; recall beyond the pigeonhole bound is then metered,
    not assumed)."""
    assert 64 % AHASH_BAND_BITS == 0 and AHASH_BAND_BITS in (8, 16, 32)
    sh = media_ahash(documents).localCheckpoint(eager=True)
    mask = (1 << AHASH_BAND_BITS) - 1
    structs = []
    for k in range(64 // AHASH_BAND_BITS):
        off = k * AHASH_BAND_BITS
        src, rel = ("ahash_lo", off) if off < 32 else ("ahash_hi", off - 32)
        structs.append(
            F.struct(
                F.lit(k).alias("k"),
                F.expr(f"({src} >> {rel}) & {mask}").alias("bandval"),
            )
        )
    bands = sh.select(
        "doc_id",
        "ahash_hi",
        "ahash_lo",
        F.explode(F.array(*structs)).alias("bb"),
    ).select(
        "doc_id",
        "ahash_hi",
        "ahash_lo",
        F.col("bb.k").alias("k"),
        F.col("bb.bandval").alias("bandval"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.bandval") == F.col("b.bandval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr(
                "bit_count(a.ahash_hi ^ b.ahash_hi)"
                " + bit_count(a.ahash_lo ^ b.ahash_lo)"
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= AHASH_HAMMING_MAX)
    )
