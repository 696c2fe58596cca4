"""Sequence packing for training-batch preparation: assign every
document a position in fixed-length context windows.

This is the concat-and-chunk packing used for LLM pretraining: the
corpus is treated as one token stream per ``source`` (documents in
doc_id order), and the stream is cut every ``ctx_len`` tokens. Each
document gets its token offset in the stream and the range of chunks
it lands in (a long document can straddle several chunks). Unlike
greedy no-split bin packing — which is inherently sequential, each
boundary depending on every earlier decision — the chunk assignment
is CLOSED-FORM in the running token count, so it distributes: one
window cumsum partitioned by source, no driver loop, no global sort.

Scale notes (100 TB): the only shuffle is hash(source) for the
window; within a source, the cumsum is the standard window scan. A
corpus dominated by ONE source serializes that source's scan — the
mitigation is a composite stream key (e.g. source × shard from a
deterministic doc_id bucket), which re-enters the same closed form;
the shard variant is ``n_streams``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

CTX_LEN = 2048  # tokens per packed context window


def sequence_packing(
    documents: DataFrame, ctx_len: int = CTX_LEN, n_streams: int = 1
) -> DataFrame:
    """Chunk assignment per document: (doc_id, source, n_tokens,
    tok_offset, first_chunk, last_chunk) where chunk = token_index //
    ctx_len within the source's concatenated stream (doc_id order).
    Empty documents occupy zero tokens: they sit at their offset with
    first_chunk == last_chunk == the chunk at that offset.

    ``n_streams > 1`` splits each source into that many deterministic
    doc_id-bucketed streams (skew mitigation); the output then carries
    a ``stream`` column so chunk indices stay unambiguous — chunk 0 of
    stream 0 and chunk 0 of stream 1 are different windows. The default
    keeps one stream per source (no ``stream`` column), which is the
    exact concat order and what the oracle mirrors."""
    n_tokens = F.size(F.expr("regexp_extract_all(text, '\\\\S+', 0)"))
    t = documents.select(
        "doc_id",
        "source",
        n_tokens.cast("long").alias("n_tokens"),
    )
    if n_streams > 1:
        t = t.withColumn("stream", (F.col("doc_id") % n_streams).cast("int"))
        part_cols = ["source", "stream"]
    else:
        part_cols = ["source"]
    w = (
        Window.partitionBy(*part_cols)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn(
        "tok_offset", (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("long")
    )
    last_tok = F.col("tok_offset") + F.greatest(F.col("n_tokens"), F.lit(1)) - 1
    out_cols = ["doc_id", "source"]
    if n_streams > 1:
        out_cols.append("stream")
    return c.select(
        *out_cols,
        "n_tokens",
        "tok_offset",
        F.floor(F.col("tok_offset") / ctx_len).cast("long").alias("first_chunk"),
        F.floor(last_tok / ctx_len).cast("long").alias("last_chunk"),
    )


def packing_efficiency(packed: DataFrame, ctx_len: int = CTX_LEN) -> DataFrame:
    """Per-source packing stats from ``sequence_packing`` output:
    total tokens, chunks used, fill ratio of the used chunks (the
    waste is only each stream's final partial chunk — concat-and-
    chunk never pads between documents).

    Handles both packing shapes: if the input carries a ``stream``
    column (``n_streams > 1``), chunk counts are computed per
    (source, stream) first — each stream's window sequence is
    independent — then summed per source; max(last_chunk) across
    streams would undercount and overstate fill_ratio."""
    if "stream" in packed.columns:
        per_stream = packed.groupBy("source", "stream").agg(
            F.sum("n_tokens").alias("total_tokens"),
            (F.max("last_chunk") + 1).alias("n_chunks"),
        )
        per_source = per_stream.groupBy("source").agg(
            F.sum("total_tokens").alias("total_tokens"),
            F.sum("n_chunks").alias("n_chunks"),
        )
    else:
        per_source = packed.groupBy("source").agg(
            F.sum("n_tokens").alias("total_tokens"),
            (F.max("last_chunk") + 1).alias("n_chunks"),
        )
    from ..functions.portable import micro

    return (
        per_source
        .select(
            "source",
            "total_tokens",
            "n_chunks",
            micro(
                F.col("total_tokens") / (F.col("n_chunks") * F.lit(ctx_len))
            ).alias("fill_ratio_micro"),
        )
    )


def doc_chunks(
    documents: DataFrame, chunk_tokens: int = 128, overlap: int = 32
) -> DataFrame:
    """Per-document overlapping token windows — the RAG/eval-prep
    chunking twin of corpus-level ``sequence_packing``: each document
    is split independently into chunks of ``chunk_tokens`` words that
    advance by ``chunk_tokens - overlap``, carrying the chunk text
    and its token offsets.

    Scale: a pure per-row expression pipeline (split once into a real
    column, sequence + transform, one explode) — no shuffle at all;
    chunking 100 TB is a single scan. Output: (doc_id, chunk_idx,
    start_tok, n_chunk_tokens, chunk_text)."""
    assert 0 <= overlap < chunk_tokens
    stride = chunk_tokens - overlap
    from .textprep import words

    t = documents.select("doc_id", words("text").alias("__words"))
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("__words") - 1, F.lit(0)), F.lit(stride)
    )
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            (s / stride).cast("int").alias("chunk_idx"),
            s.cast("long").alias("start_tok"),
            F.least(
                F.lit(chunk_tokens), F.size("__words") - s
            ).cast("int").alias("n_chunk_tokens"),
            F.array_join(
                F.slice(F.col("__words"), s + 1, chunk_tokens), " "
            ).alias("chunk_text"),
        ),
    )
    return t.select("doc_id", F.explode(chunks).alias("c")).select(
        "doc_id", "c.chunk_idx", "c.start_tok", "c.n_chunk_tokens", "c.chunk_text"
    )


N_SHARDS = 8


def balanced_shards(
    documents: DataFrame, n_shards: int = N_SHARDS, id_bucket_bits: int = 0
) -> DataFrame:
    """LPT-style balanced shard assignment: rank documents by
    (n_tokens DESC, doc_id ASC) and deal them round-robin across
    ``n_shards`` shards. Sorted round-robin is the classic
    longest-processing-time heuristic shape: consecutive ranks go to
    different shards, so each shard receives one document from every
    length stratum and shard token totals stay within one max-doc of
    each other — the property training wants when each shard feeds
    one data-parallel worker.

    Returns (doc_id, n_tokens, rank, shard).

    Scale: the global rank is NOT computed with a global-order window
    (ORDER BY without PARTITION BY collapses to one task). It is
    decomposed exactly, the same way budgeted_mixture decomposes its
    greedy cumsum: (1) aggregate doc counts per distinct n_tokens — a
    map-side-combined aggregate, output rows = distinct lengths;
    (2) window over THAT tiny table for each length's global rank
    offset (docs with strictly more tokens); (3) broadcast the
    offsets back and row_number WITHIN each n_tokens partition
    (ordered by doc_id). offset + within-length rank == the exact
    global (n_tokens DESC, doc_id ASC) rank, with parallelism =
    #distinct lengths instead of 1.

    ``id_bucket_bits`` handles the DEGENERATE length distribution: a
    uniform-length corpus (fixed-size chunks from ``doc_chunks``, or
    truncation-capped docs) has ONE distinct n_tokens, collapsing the
    length partitioning back to a single task. Setting b > 0 splits
    each length into 2^b CONTIGUOUS doc_id ranges (equal-width over
    the observed [min, max] id span — contiguity is what preserves
    the doc_id order across buckets), so the window partitions by
    (n_tokens, id_bucket) and the offset table carries one row per
    occupied (length, bucket) pair, cumulated in (length DESC,
    bucket ASC) order. Still exact; parallelism = occupied pairs.
    NOTE — eager when b > 0: the id bounds are one 2-scalar driver
    fetch. Default 0 keeps the certified single-level plan.

    The narrow (doc_id, n_tokens) frame is localCheckpoint'ed: both
    the counts aggregate and the rank join consume it, and without
    the materialization each consumer re-scans the corpus TEXT to
    recompute the token count — two full text scans for a 16-byte
    projection. Same discipline as budgeted_mixture's scored frame."""
    n_tokens = F.size(F.expr("regexp_extract_all(text, '\\\\S+', 0)"))
    t = documents.select(
        "doc_id", n_tokens.cast("long").alias("n_tokens")
    ).localCheckpoint(eager=True)
    if id_bucket_bits > 0:
        lo, hi = t.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
        n_buckets = 1 << id_bucket_bits
        span = max((hi or 0) - (lo or 0) + 1, 1)
        t = t.withColumn(
            "__idb",
            F.floor(
                (F.col("doc_id") - F.lit(lo or 0))
                * F.lit(n_buckets)
                / F.lit(span)
            ).cast("int"),
        )
        counts = t.groupBy("n_tokens", "__idb").agg(
            F.count(F.lit(1)).alias("__n")
        )
        w_off = (
            Window.orderBy(F.desc("n_tokens"), F.asc("__idb"))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = counts.select(
            "n_tokens",
            "__idb",
            F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__offset"),
        )
        w_in = Window.partitionBy("n_tokens", "__idb").orderBy(F.asc("doc_id"))
        ranked = (
            t.join(F.broadcast(offsets), ["n_tokens", "__idb"])
            .withColumn(
                "rank",
                (F.col("__offset") + F.row_number().over(w_in)).cast("long"),
            )
        )
        return ranked.select(
            "doc_id",
            "n_tokens",
            "rank",
            ((F.col("rank") - 1) % n_shards).cast("int").alias("shard"),
        )
    counts = t.groupBy("n_tokens").agg(F.count(F.lit(1)).alias("__n"))
    w_off = (
        Window.orderBy(F.desc("n_tokens"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "n_tokens",
        F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__offset"),
    )
    w_in = Window.partitionBy("n_tokens").orderBy(F.asc("doc_id"))
    ranked = (
        t.join(F.broadcast(offsets), "n_tokens")
        .withColumn(
            "rank",
            (F.col("__offset") + F.row_number().over(w_in)).cast("long"),
        )
    )
    return ranked.select(
        "doc_id",
        "n_tokens",
        "rank",
        ((F.col("rank") - 1) % n_shards).cast("int").alias("shard"),
    )


def shard_balance(documents: DataFrame, n_shards: int = N_SHARDS) -> DataFrame:
    """Per-shard load report for ``balanced_shards``: document count,
    token total, and each shard's token share of the corpus — the
    number a data-parallel training job checks before launch (a
    1%-over-mean shard is a 1% step-time tax on every step).

    Scale: reuses the balanced_shards assignment (narrow rows), then
    one n_shards-row aggregate with map-side combine."""
    a = balanced_shards(documents, n_shards=n_shards)
    # n_shards rows; checkpointed so the corpus-total branch reads it
    # instead of re-planning the whole rank decomposition
    totals = a.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    ).localCheckpoint(eager=True)
    corpus = totals.select(
        F.sum("total_tokens").alias("__corpus_tokens")
    )
    return (
        totals.crossJoin(F.broadcast(corpus))
        .select(
            "shard",
            "n_docs",
            "total_tokens",
            F.round(
                F.col("total_tokens").cast("double") / F.col("__corpus_tokens"),
                6,
            ).alias("token_share"),
        )
    )


def shard_manifest(documents: DataFrame) -> DataFrame:
    """Per-shard integrity manifest: document count, token total,
    doc_id range, and an ORDER-INDEPENDENT content checksum (the sum
    of each member's portable 32-bit hash of md5(text)). This is the
    attestation a training job checks before streaming a shard — and
    what makes two exports provably identical without comparing
    bytes: same docs in any order ⇒ same checksum; one changed or
    missing document ⇒ different checksum (mod-2³² collisions aside).

    Scale: the shard assignment ships narrow rows (ids + tokens); the
    md5 is computed at the documents scan and reduced to 32 bits
    before the doc_id-keyed join, so text never shuffles; the final
    aggregate is N_SHARDS rows with map-side combine. Integer sums
    are exact and commutative — executor scheduling can't change the
    checksum."""
    from ..functions.portable import hash32

    assign = balanced_shards(documents).select("doc_id", "n_tokens", "shard")
    content = documents.select(
        "doc_id", hash32(F.md5("text"), salt="manifest").alias("__h")
    )
    return (
        assign.join(content, "doc_id")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
            F.sum("__h").alias("content_checksum"),
        )
    )


EPOCH_SHUFFLE_BUCKET_BITS = 8  # 256 hash-prefix buckets


def epoch_shuffle(
    documents: DataFrame,
    seed: int = 0,
    n_shards: int = N_SHARDS,
) -> DataFrame:
    """Deterministic per-epoch global permutation of training samples
    — the data-loader step between ``balanced_shards`` and an
    actual training run: every epoch must visit every sample exactly
    once in a seed-reproducible pseudorandom order, identical no
    matter how the corpus is partitioned or which executor computes
    it.

    Returns (doc_id, pos, shard): ``pos`` is the sample's 0-based
    position in the epoch-``seed`` permutation (rank by the portable
    hash32 of the doc id, salted with the seed; ties — 32-bit hash
    collisions — break by doc_id), and ``shard = pos % n_shards``
    deals the permutation round-robin across data-parallel workers,
    so every worker's slice is itself a uniform subsample and shard
    sizes differ by at most one.

    Scale (the no-global-sort discipline of ``balanced_shards``): a
    single ORDER BY hash window would collapse to one task. Instead
    the hash's TOP ``EPOCH_SHUFFLE_BUCKET_BITS`` bits bucket the rows — bucket
    order IS hash order, so ranks decompose exactly: (1) per-bucket
    counts (map-side combined, 2^EPOCH_SHUFFLE_BUCKET_BITS rows), (2) running
    offsets over that tiny table, (3) row_number within each bucket
    (ordered by hash, doc_id) + broadcast offset. Parallelism =
    2^EPOCH_SHUFFLE_BUCKET_BITS regardless of corpus size; no stage sees more than
    one bucket of rows. The reference job has no batch analog
    (streaming-only; SURVEY.md §2) — this operator is LLM-pipeline
    extension surface."""
    from ..functions.portable import hash32

    h = hash32(F.col("doc_id").cast("string"), salt=f"ep{seed}")
    t = documents.select("doc_id", h.alias("__h")).withColumn(
        # top bits: bucket ascending == hash ascending, so per-bucket
        # offsets + within-bucket ranks compose to the exact global rank
        "__b",
        F.floor(
            F.col("__h") / F.lit(1 << (32 - EPOCH_SHUFFLE_BUCKET_BITS))
        ).cast("int"),
    )
    # counts and ranks share this narrow frame; materialize once
    t = t.localCheckpoint(eager=True)
    w_off = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        t.groupBy("__b")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        # window over a <=2^bucket_bits-row table — single tiny task
        .withColumn("__off", F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)))
        .select("__b", "__off")
    )
    w_in = Window.partitionBy("__b").orderBy("__h", "doc_id")
    pos = (F.col("__off") + F.row_number().over(w_in) - 1).cast("long")
    return (
        t.join(F.broadcast(offsets), "__b")
        .withColumn("pos", pos)
        .select(
            "doc_id",
            "pos",
            (F.col("pos") % n_shards).cast("int").alias("shard"),
        )
    )
