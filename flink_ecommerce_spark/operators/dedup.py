"""Deduplication operators over the `documents` table.

Four families, all declarative DataFrame plans:

- exact:          md5-of-text groupBy (one shuffle on the hash)
- n-gram Jaccard: shingle-explode → pair join on shared shingles
- MinHash + LSH:  shingle→minhash signature→band buckets→bucket join
- SimHash:        token-hash bit-vote → banded hamming pair search

All hashes are the engine-portable md5-based ``hash32`` so every
operator has an exact DuckDB oracle (registry.py generates the twin
SQL from the same constants).

Scale notes (100 TB):
- exact dedup shuffles only (hash, doc_id) pairs, not text.
- MinHash/LSH is THE scale path: signatures are tiny (NUM_HASHES
  longs/doc), candidate generation joins on band buckets only —
  never all-pairs. The Jaccard verify join touches only candidates.
- the plain n-gram Jaccard all-shared-shingle join is the exact
  baseline; at 100 TB you'd only run it on LSH candidates (which is
  exactly what lsh_candidate_pairs does).
- SimHash pairs join on ``band_bits``-wide bands (wider bands bound
  bucket occupancy as the corpus grows), hamming filter after —
  never all-pairs.
- the exact n-gram Jaccard join caps shingle document frequency
  (NGRAM_MAX_DF_FRAC) so a stop-word shingle can't create a
  quadratic hot bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.portable import hash32, hash32_from_digest, micro, salted_md5
from .textprep import shingles_from_words, words

NUM_HASHES = 16  # MinHash signature length
NUM_BANDS = 4  # LSH bands (rows per band = NUM_HASHES // NUM_BANDS)
SIMHASH_BITS = 64  # fingerprint width (two 32-bit halves, engine-portable)
SIMHASH_BAND_BITS = 8  # default band width; see simhash_near_pairs
JACCARD_THRESHOLD = 0.2
HAMMING_MAX = 6
# Shingles appearing in more than this fraction of documents are
# dropped before the exact-Jaccard self-join: a stop-word shingle
# ("of the and") lands in ~every English doc, so one hot shingle
# makes the shared-shingle join quadratic in corpus size while
# carrying ~zero Jaccard signal. Standard df-ceiling practice.
NGRAM_MAX_DF_FRAC = 0.5


def dedup_exact(documents: DataFrame, normalized: bool = False) -> DataFrame:
    """Exact duplicate groups by content hash. ``normalized`` lowers
    and collapses whitespace first (catches trivial reformatting)."""
    text = F.col("text")
    if normalized:
        text = F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")
    return (
        documents.select(F.md5(text).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _doc_shingles(documents: DataFrame) -> DataFrame:
    """(doc_id, shingle) distinct pairs. The words array is projected
    into a real column BELOW the explode so the regex split runs once
    per document — Generate evaluates its generator expression with no
    subexpression elimination, so inlining words(text) would re-split
    w+1 times per row.

    Dedup happens PER ROW (array_distinct before the explode), not
    with a .distinct() after it: doc_id is part of the pair, so the
    global distinct could only ever remove within-document repeats —
    work a per-row array op does in the scan task. The old explode →
    distinct shape paid a full shuffle of the exploded shingle stream
    in EVERY consumer (the r09 optimization round removed it: one
    Exchange fewer in ngram/prefix/LSH-verify/novelty/lexical plans,
    identical output set)."""
    return documents.select("doc_id", words("text").alias("__words")).select(
        "doc_id",
        F.explode(
            F.array_distinct(shingles_from_words(F.col("__words")))
        ).alias("shingle"),
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    max_df_frac: float = NGRAM_MAX_DF_FRAC,
) -> DataFrame:
    """Exact Jaccard similarity over word-shingle sets for every pair
    sharing at least one shingle. Output: (doc_a, doc_b, jaccard).

    Scale guard: shingles with document frequency > ``max_df_frac`` of
    the corpus are dropped BEFORE the self-join (and from the set
    sizes, so the Jaccard universe stays consistent). Without the cap
    a single stop-word shingle produces a quadratic hot bucket; the
    dropped shingles are near-universal and carry ~no similarity
    signal. The hot-shingle list is tiny by construction (at most
    total-occurrences / (frac·n_docs) ≈ avg-shingles-per-doc / frac
    entries), so it broadcasts. The shingle table feeds the df count,
    the self-join and the size table — materialized once."""
    sh_all = _doc_shingles(documents).localCheckpoint(eager=True)
    n_docs = documents.select(F.countDistinct("doc_id").alias("n_docs"))
    hot = (
        sh_all.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") > max_df_frac * F.col("n_docs"))
        .select("shingle")
    )
    sh = sh_all.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("sa"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("sb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard_micro",
            micro(F.col("n_inter") / (F.col("sa") + F.col("sb") - F.col("n_inter"))),
        )
        .filter(F.col("jaccard_micro") >= int(round(threshold * 1_000_000)))
        .select("doc_a", "doc_b", "jaccard_micro")
    )


MINHASH_PRIME = 4294967291  # largest 32-bit prime


def minhash_signatures(documents: DataFrame, num_hashes: int = NUM_HASHES) -> DataFrame:
    """MinHash signature per document via the Carter-Wegman universal
    family: two base hashes per shingle, mh_i = min((h1 + i*h2) mod p).

    ONE md5 evaluation per shingle (h1/h2 are its two 32-bit hex
    halves) — the standard trick for cheap independent-enough
    permutations — and the derived combinations are integer-only
    arithmetic inside the partial aggregation, so the whole thing is
    one explode + one shuffle carrying (doc_id, 16 longs).

    The digest sharing is STRUCTURAL, not left to codegen: this plan's
    hashing sits next to a Generate (no whole-stage codegen, so no
    subexpression elimination), so the digest is projected as a real
    column and the halves sliced from it; likewise the words array is
    projected below the explode so the regex split runs once per
    document, not once per shifted slice. Empty-shingle docs come
    back via explode_outer with NULL signatures."""
    from .scale import ensure_parallelism

    sh = (
        ensure_parallelism(documents)
        .select("doc_id", words("text").alias("__words"))
        .select(
            "doc_id",
            F.explode_outer(shingles_from_words(F.col("__words"))).alias(
                "shingle"
            ),
        )
    )
    hashed = sh.select(
        "doc_id", salted_md5(F.col("shingle"), salt="mh").alias("__d")
    ).select(
        "doc_id",
        hash32_from_digest("__d", half=0).alias("h1"),
        hash32_from_digest("__d", half=1).alias("h2"),
    )
    return hashed.groupBy("doc_id").agg(
        *[
            F.min((F.col("h1") + i * F.col("h2")) % MINHASH_PRIME).alias(f"mh{i}")
            for i in range(num_hashes)
        ]
    )


def source_overlap_minhash(documents: DataFrame) -> DataFrame:
    """(source_a, source_b, n_equal_slots, est_jaccard) — pairwise
    shingle-set similarity BETWEEN SOURCES from per-source MinHash
    signatures: the corpus-overlap report a mixture designer reads
    before weighting sources (two crawls of the same site → high
    overlap → their token budgets double-count; budgeted_mixture's
    per-source quotas assume sources are distinct populations).

    Scale shape: a source's MinHash signature is the element-wise MIN
    over its shingles' hash values — a map-side-combinable aggregate,
    so the shuffle carries (source, ``NUM_HASHES`` longs) regardless
    of corpus size (shingle text never moves), and a new batch's
    signature MERGES into the stored one by the same MIN — the sketch
    is mergeable across shards and across time, like the portable
    HLL. The pair join runs over #sources rows (broadcast). Estimator:
    slot-collision fraction, the textbook unbiased MinHash estimate
    of Jaccard; ``n_equal_slots`` stays integer and est_jaccard ships
    as integer micro-units so the oracle comparison is exact, not
    float-rounded. Same Carter-Wegman derivation as
    ``minhash_signatures`` (one md5 per shingle occurrence; duplicate
    occurrences cannot change a MIN)."""
    from .scale import ensure_parallelism

    sh = (
        ensure_parallelism(documents)
        .select("source", words("text").alias("__words"))
        .select(
            "source",
            F.explode(shingles_from_words(F.col("__words"))).alias("shingle"),
        )
    )
    hashed = sh.select(
        "source", salted_md5(F.col("shingle"), salt="mh").alias("__d")
    ).select(
        "source",
        hash32_from_digest("__d", half=0).alias("h1"),
        hash32_from_digest("__d", half=1).alias("h2"),
    )
    sig = hashed.groupBy("source").agg(
        *[
            F.min((F.col("h1") + i * F.col("h2")) % MINHASH_PRIME).alias(f"mh{i}")
            for i in range(NUM_HASHES)
        ]
    )
    a = sig.select(
        F.col("source").alias("source_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(NUM_HASHES)],
    )
    b = sig.select(
        F.col("source").alias("source_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(NUM_HASHES)],
    )
    n_eq = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(NUM_HASHES)
    )
    return (
        a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            n_eq.cast("int").alias("n_equal_slots"),
            micro(
                n_eq.cast("double") / F.lit(float(NUM_HASHES))
            ).alias("est_jaccard_micro"),
        )
    )


def _band_buckets(
    signatures: DataFrame,
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
) -> DataFrame:
    """(doc_id, band, bucket) — bucket = md5 of the band's signature
    slice. Banding: num_bands bands × (num_hashes/num_bands) rows."""
    rows = num_hashes // num_bands
    bands = []
    for b in range(num_bands):
        parts = [F.col(f"mh{b * rows + r}").cast("string") for r in range(rows)]
        bands.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("_", *parts)).alias("bucket"),
            )
        )
    return signatures.select(
        "doc_id", F.explode(F.array(*bands)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def lsh_candidate_pairs(
    documents: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs: band-bucket join proposes
    candidates, exact shingle Jaccard verifies. Output matches
    ngram_jaccard_pairs' schema restricted to LSH-surfaced pairs.

    ``(num_hashes, num_bands)`` sets the candidate S-curve, whose
    inflection sits near t = (1/b)^(1/r) with r = num_hashes /
    num_bands: the shipped (16, 4) puts it at ≈0.71; (8, 4) suits a
    0.5 fuzzy-dup sweep, (16, 2) a 0.9 precision pass — candidate
    volume moves accordingly, pinned in tests.

    Reuse discipline: the band table feeds BOTH sides of the self-join
    and the shingle table feeds three joins — each is materialized
    once (localCheckpoint; persist(DISK_ONLY) on a cluster) instead of
    re-running the signature/shingle pipelines per branch, which
    dominated wall time."""
    sigs = minhash_signatures(documents, num_hashes=num_hashes)
    bb = _band_buckets(sigs, num_hashes, num_bands).localCheckpoint(eager=True)
    a = bb.alias("a")
    b = bb.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # Verify ONLY the candidates (never all shared-shingle pairs):
    # fan candidate pairs out by doc_a's shingles, intersect against
    # doc_b's shingle set — work is Σ(candidate) |shingles(doc_a)|.
    # The shingle table is built from candidate DOCS only (semi-join
    # before the explode): materializing the whole corpus's shingles
    # for a verify stage that touches a small candidate set would be
    # the dominant cost at scale.
    # LAZY (r10 job-count audit): the eager ds checkpoint below is the
    # next action and materializes cands inside its own job; the
    # later inter join then reads the checkpoint cache — one
    # scheduling barrier fewer per run with identical reuse.
    cands = cands.localCheckpoint(eager=False)
    cand_docs = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .union(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    ds = _doc_shingles(
        documents.join(cand_docs, "doc_id", "left_semi")
    ).localCheckpoint(eager=True)
    sizes = ds.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sh_a = ds.select(F.col("doc_id").alias("doc_a"), "shingle")
    sh_b = ds.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cands.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("sa"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("sb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard_micro",
            micro(F.col("n_inter") / (F.col("sa") + F.col("sb") - F.col("n_inter"))),
        )
        .filter(F.col("jaccard_micro") >= int(round(threshold * 1_000_000)))
        .select("doc_a", "doc_b", "jaccard_micro")
    )


def dedup_clusters(documents: DataFrame, threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """Duplicate CLUSTERS from LSH near-dup pairs: connected
    components by iterative min-label propagation — each doc adopts
    the smallest doc_id reachable through near-dup edges; singletons
    cluster with themselves.

    This is the canonical Spark shape for iterative graph algorithms
    without GraphFrames: a driver loop of join+groupBy rounds, each
    fully distributed, converging in O(component diameter) rounds
    (near-dup clusters are shallow — a handful of rounds).

    Scale discipline: the loop iterates ONLY over edge-touched
    vertices. Dup clusters are a small fraction of any corpus, so the
    per-round state is |docs with a near-dup edge|, not |corpus| —
    singletons rejoin with cluster_id = doc_id in one final left
    join. Each round truncates lineage with localCheckpoint so round
    N never re-evaluates rounds 1..N-1. The propagation loop itself
    lives in ``operators.graph.connected_components`` (reused by any
    pipeline needing merge groups)."""
    from .graph import connected_components

    pairs = lsh_candidate_pairs(documents, threshold).select("doc_a", "doc_b")
    labels = connected_components(pairs)
    # singletons (no near-dup edge) cluster with themselves
    return documents.select("doc_id").join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
    )


def simhash(documents: DataFrame) -> DataFrame:
    """64-bit SimHash per document, carried as two 32-bit halves
    (simhash_hi = bits 32-63, simhash_lo = bits 0-31): per-token
    hash32 pair from ONE md5 digest (half 0 feeds the low bits, half
    1 the high bits), ±1 vote per bit position weighted by term
    frequency, bit set where the vote sum is positive.

    The two-halves representation is deliberate: each half stays in
    non-negative 32-bit range, so every bit/shift/popcount op is
    portable between Spark and the DuckDB oracle with no signed-
    64-bit overflow edge cases.

    The 64 bit-votes are conditional aggregates over the token rows —
    ONE groupBy(doc_id) whose shuffle carries (doc_id, 64 partial
    sums), with map-side combine. (The round-1 version exploded every
    token × bit rows first: same answer, bits× the shuffle volume.)"""
    from .scale import ensure_parallelism

    toks = ensure_parallelism(documents).select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok"),
    ).select(
        "doc_id", salted_md5(F.col("tok"), salt="simhash").alias("__d")
    ).select(
        "doc_id",
        hash32_from_digest("__d", half=0).alias("h1"),
        hash32_from_digest("__d", half=1).alias("h2"),
    )
    half_bits = SIMHASH_BITS // 2
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(h1 >> {b}) & 1") == 1, F.lit(1)).otherwise(
                    F.lit(-1)
                )
            ).alias(f"s{b}")
            for b in range(half_bits)
        ],
        *[
            F.sum(
                F.when(F.expr(f"(h2 >> {b}) & 1") == 1, F.lit(1)).otherwise(
                    F.lit(-1)
                )
            ).alias(f"s{half_bits + b}")
            for b in range(half_bits)
        ],
    )

    def _pack(offset: int) -> F.Column:
        packed = None
        for b in range(half_bits):
            term = F.when(
                F.col(f"s{offset + b}") > 0, F.lit(1 << b).cast("bigint")
            ).otherwise(F.lit(0).cast("bigint"))
            packed = term if packed is None else packed + term
        return packed

    return votes.select(
        "doc_id",
        _pack(half_bits).alias("simhash_hi"),
        _pack(0).alias("simhash_lo"),
    )


def simhash_near_pairs(
    documents: DataFrame,
    max_hamming: int = HAMMING_MAX,
    band_bits: int = SIMHASH_BAND_BITS,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance ≤ max_hamming.
    Candidates come from matching any ``band_bits``-wide band, then
    the exact popcount filter.

    Recall guarantee (pigeonhole): with B = SIMHASH_BITS/band_bits
    bands, a pair at hamming distance < B MUST share an untouched
    band. At the 8-bit default B = 8 > HAMMING_MAX, so recall is
    EXACT for the shipped threshold. At scale, widen the bands —
    16-bit bands give 65k buckets (bounded self-join cost) at B = 4
    bands, making hamming 4..max_hamming best-effort: the standard
    LSH cost/recall tradeoff, an explicit knob instead of a fixed
    constant."""
    assert SIMHASH_BITS % band_bits == 0 and band_bits in (8, 16, 32)
    sh = simhash(documents).localCheckpoint(eager=True)
    mask = (1 << band_bits) - 1
    structs = []
    for k in range(SIMHASH_BITS // band_bits):
        off = k * band_bits
        src, rel = ("simhash_lo", off) if off < 32 else ("simhash_hi", off - 32)
        structs.append(
            F.struct(
                F.lit(k).alias("k"),
                F.expr(f"({src} >> {rel}) & {mask}").alias("bandval"),
            )
        )
    bands = sh.select(
        "doc_id",
        "simhash_hi",
        "simhash_lo",
        F.explode(F.array(*structs)).alias("bb"),
    ).select(
        "doc_id",
        "simhash_hi",
        "simhash_lo",
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
                "bit_count(a.simhash_hi ^ b.simhash_hi)"
                " + bit_count(a.simhash_lo ^ b.simhash_lo)"
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def incremental_dedup(new_docs: DataFrame, corpus: DataFrame) -> DataFrame:
    """Daily-pipeline dedup: keep only the NEW batch's documents whose
    content hash is absent from the existing corpus AND unique within
    the batch (first doc_id wins intra-batch, matching dedup_exact's
    keep rule).

    Scale shape: both sides reduce to (hash) / (hash, doc_id) pairs
    before any join — the corpus side ships one hash per distinct
    content, the anti-join and the intra-batch groupBy shuffle hashes
    only, never text."""
    normalized = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    h = F.md5(normalized).alias("__h")
    seen = corpus.select(h).distinct()
    batch = new_docs.select("doc_id", h)
    fresh = batch.join(seen, "__h", "left_anti")
    keep = (
        fresh.groupBy("__h").agg(F.min("doc_id").alias("doc_id"))
    )
    return new_docs.join(keep.select("doc_id"), "doc_id", "left_semi")


def corpus_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Snapshot diff between two corpus versions, keyed by doc_id:
    status ∈ {added, removed, changed, unchanged} with the content
    hash of each side. The decision input for incremental pipelines —
    re-embed/re-score only added+changed, retire removed.

    Scale: both sides reduce to (doc_id, md5) before the ONE
    full-outer join — text never shuffles; the join key is the
    document key, so output is bounded by |old ∪ new|."""
    def hashed(df, col):
        return df.select("doc_id", F.md5("text").alias(col))

    o = hashed(old, "old_hash")
    n = hashed(new, "new_hash")
    joined = o.join(n, "doc_id", "full_outer")
    status = (
        F.when(F.col("old_hash").isNull(), F.lit("added"))
        .when(F.col("new_hash").isNull(), F.lit("removed"))
        .when(F.col("old_hash") != F.col("new_hash"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select("doc_id", "old_hash", "new_hash", status.alias("status"))


def incremental_fuzzy_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    corpus_signatures: DataFrame | None = None,
    verify: bool = True,
) -> DataFrame:
    """NEAR-duplicate batch admission — the fuzzy twin of
    ``incremental_dedup``: keep only the NEW batch's documents with no
    verified near-duplicate (shingle Jaccard >= ``threshold``) in the
    existing corpus. Exact-hash admission misses the reformatted /
    lightly-edited reposts that dominate web-crawl incremental loads;
    this is the daily-pipeline shape of MinHash-LSH dedup (new batch
    vs history, not corpus self-join).

    Scale shape (the reason this is not "union then dedup_clusters"):
    the corpus side reduces to its band table — (doc_id, band,
    bucket), built from ``corpus_signatures`` when the pipeline stores
    signatures alongside the corpus (it should: signatures are
    ~128 bytes/doc and never change, so history text is NEVER
    re-scanned, let alone re-hashed, per daily batch). The candidate
    join is new-bands x corpus-bands on (band, bucket) — cost
    proportional to bucket collisions, not |new| x |corpus| — and the
    exact-Jaccard verify explodes shingles for CANDIDATE docs only
    (semi-join both frames before the explode). Intra-batch near-dups
    are deliberately out of scope (run ``dedup_clusters`` on the
    admitted batch): admission vs history and intra-batch clustering
    have different keep rules.

    ``verify=False`` admits on band evidence alone (any bucket
    collision rejects) — more aggressive, zero corpus-text access;
    the signature-only mode for when history text is cold storage.

    Returns the admitted rows of ``new_docs`` with their full columns.
    """
    # no checkpoint (r10 job-count audit): nb feeds exactly ONE join
    # side, so the old eager checkpoint bought no reuse — it only
    # added a scheduling barrier + a materialization job per batch
    nb = _band_buckets(minhash_signatures(new_docs))
    sigs = (
        corpus_signatures
        if corpus_signatures is not None
        else minhash_signatures(corpus)
    )
    cb = _band_buckets(sigs)
    cands = (
        nb.alias("n")
        .join(
            cb.alias("c"),
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.bucket") == F.col("c.bucket")),
        )
        .select(
            F.col("n.doc_id").alias("new_id"),
            F.col("c.doc_id").alias("corpus_id"),
        )
        .distinct()
    )
    if not verify:
        flagged = cands.select(F.col("new_id").alias("doc_id")).distinct()
        return new_docs.join(flagged, "doc_id", "left_anti")
    # LAZY (r10): the eager new_sh checkpoint below materializes cands
    # inside its own job; cor_sh and inter then read the cache
    cands = cands.localCheckpoint(eager=False)
    new_sh = _doc_shingles(
        new_docs.join(
            cands.select(F.col("new_id").alias("doc_id")), "doc_id", "left_semi"
        )
    ).localCheckpoint(eager=True)
    cor_sh = _doc_shingles(
        corpus.join(
            cands.select(F.col("corpus_id").alias("doc_id")), "doc_id", "left_semi"
        )
    ).localCheckpoint(eager=True)
    n_sizes = new_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("na"))
    c_sizes = cor_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nb"))
    inter = (
        cands.join(
            new_sh.select(F.col("doc_id").alias("new_id"), "shingle"), "new_id"
        )
        .join(
            cor_sh.select(F.col("doc_id").alias("corpus_id"), "shingle"),
            ["corpus_id", "shingle"],
        )
        .groupBy("new_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    flagged = (
        inter.join(
            n_sizes.select(F.col("doc_id").alias("new_id"), "na"), "new_id"
        )
        .join(c_sizes.select(F.col("doc_id").alias("corpus_id"), "nb"), "corpus_id")
        .filter(
            # integer-grid verify (r08 jaccard_micro contract, applied
            # on this query's r09 window rotation)
            micro(
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter"))
            )
            >= int(round(threshold * 1_000_000))
        )
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
    )
    return new_docs.join(flagged, "doc_id", "left_anti")


FUZZY_DECON_NUM = 7  # contamination Jaccard threshold as the exact
FUZZY_DECON_DEN = 10  # rational 7/10 — integer-only gate arithmetic


def fuzzy_decontaminate(documents: DataFrame) -> DataFrame:
    """(doc_id, eval_doc_id, jaccard_micro) — NEAR-duplicate benchmark
    contamination: training documents with a verified near-duplicate
    (shingle Jaccard ≥ num/den) in the held-out eval slice, each with
    its best-matching eval doc. The fuzzy twin of ``decontaminate``:
    the exact operator scores 3-gram OVERLAP (which a light paraphrase
    or re-template dilutes below any threshold), this one catches the
    whole-document rewrites that actually leak benchmarks into
    training sets (the decontamination analogue of
    ``incremental_fuzzy_dedup``'s admission problem, with eval as the
    "history").

    Scale shape: candidates come from the MinHash-LSH band join
    (train bands × eval bands on (band, bucket) — cost tracks bucket
    collisions, and the eval side is benchmark-sized, never
    corpus-sized); the exact-Jaccard verify explodes shingles for
    CANDIDATE docs only. The S-curve at (16, 4) centers ≈ 0.707, so at
    7/10 the banding reads at its design point — like all fuzzy-dedup
    paths, recall below the curve's shoulder is metered, not assumed
    (``lsh_recall_sampled``). The threshold gate is pure integer
    arithmetic (den·n_inter ≥ num·(|A|+|B|−n_inter)); jaccard ships
    as micro per the encoding rule, and the best-match pick orders on
    (jaccard_micro DESC, eval_doc_id ASC) — a total integer order."""
    from pyspark.sql import Window

    from ..functions.portable import micro
    from .text import EVAL_MOD

    train = documents.filter((F.col("doc_id") % EVAL_MOD) != 0)
    eval_docs = documents.filter((F.col("doc_id") % EVAL_MOD) == 0)
    tb = _band_buckets(minhash_signatures(train))
    eb = _band_buckets(minhash_signatures(eval_docs))
    cands = (
        tb.alias("t")
        .join(
            eb.alias("e"),
            (F.col("t.band") == F.col("e.band"))
            & (F.col("t.bucket") == F.col("e.bucket")),
        )
        .select(
            F.col("t.doc_id").alias("doc_id"),
            F.col("e.doc_id").alias("eval_doc_id"),
        )
        .distinct()
        # LAZY (r10): t_sh's eager checkpoint materializes it; e_sh
        # and inter read the cache — one barrier fewer per run
        .localCheckpoint(eager=False)
    )
    t_sh = _doc_shingles(
        train.join(cands.select("doc_id"), "doc_id", "left_semi")
    ).localCheckpoint(eager=True)
    e_sh = _doc_shingles(
        eval_docs.join(
            cands.select(F.col("eval_doc_id").alias("doc_id")),
            "doc_id",
            "left_semi",
        )
    ).localCheckpoint(eager=True)
    t_sizes = t_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("na"))
    e_sizes = e_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nb"))
    inter = (
        cands.join(t_sh, "doc_id")
        .join(
            e_sh.select(F.col("doc_id").alias("eval_doc_id"), "shingle"),
            ["eval_doc_id", "shingle"],
        )
        .groupBy("doc_id", "eval_doc_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    scored = (
        inter.join(t_sizes, "doc_id")
        .join(
            e_sizes.select(F.col("doc_id").alias("eval_doc_id"), "nb"),
            "eval_doc_id",
        )
        .filter(
            F.lit(FUZZY_DECON_DEN) * F.col("n_inter")
            >= F.lit(FUZZY_DECON_NUM)
            * (F.col("na") + F.col("nb") - F.col("n_inter"))
        )
        .select(
            "doc_id",
            "eval_doc_id",
            micro(
                F.col("n_inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double")
            ).alias("jaccard_micro"),
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(
            F.desc("jaccard_micro"), F.asc("eval_doc_id")
        )
    )
    return (
        scored.withColumn("__rk", rk)
        .filter(F.col("__rk") == 1)
        .select("doc_id", "eval_doc_id", "jaccard_micro")
    )


def shingle_novelty(
    documents: DataFrame, max_df_frac: float = NGRAM_MAX_DF_FRAC
) -> DataFrame:
    """Per-document novelty: the fraction of a document's distinct
    word-shingles whose FIRST corpus occurrence (minimum doc_id) is
    this document — near-zero for boilerplate recombinations, high
    for genuinely new material. The corpus-level redundancy signal
    that pairwise dedup can't express.

    Scale: one shuffle building the shingle→first-doc table, one join
    back on shingle, one regroup on doc_id. Shingles with document
    frequency above ``max_df_frac`` of the corpus are dropped at the
    first-doc aggregate (same structural cap as ngram_jaccard_pairs),
    so the join back never concentrates a stop-word shingle's
    occurrences on one reducer — a near-universal shingle is novel
    only for its single first document and dilutes every other doc's
    denominator identically, so the capped fraction keeps the same
    ranking signal. Docs whose every shingle is hot drop out (no
    denominator); the oracle applies the identical cap.

    ds deliberately NOT checkpointed although two consumers read it:
    unlike budgeted_mixture's scored projection (expensive regexes,
    narrow rows), shingles are cheap to recompute and wide to store —
    measured at the 10x rehearsal, materializing them costs more
    (9.0 s) than the second explode (5.1 s)."""
    ds = _doc_shingles(documents)
    n_docs = documents.select(F.countDistinct("doc_id").alias("n_docs"))
    first = (
        ds.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"), F.min("doc_id").alias("first_doc"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") <= max_df_frac * F.col("n_docs"))
        .select("shingle", "first_doc")
    )
    novel = (F.col("first_doc") == F.col("doc_id")).cast("long")
    return (
        ds.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(novel).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double") / F.col("n_shingles"), 6
            ).alias("novelty_frac"),
        )
    )


def containment_pairs(documents: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Asymmetric CONTAINMENT: |A∩B| / |A| and |A∩B| / |B| for pairs
    sharing at least one (df-capped) shingle, kept when either side
    is mostly contained in the other. Broder's resemblance-vs-
    containment distinction: a long document quoting a short one
    wholesale has LOW Jaccard (the union is big) but containment ≈ 1
    on the quoted side — the signal that catches quote inclusion,
    boilerplate wrapping, and subset scrapes.

    Candidate generation is DELIBERATELY the shared-shingle join, not
    MinHash-LSH bands: band collision probability tracks resemblance,
    so a deep subset of a much larger doc essentially never lands in
    the same bucket — LSH candidates would miss exactly the pairs
    this operator exists for (measured in tests). The shingle df
    ceiling bounds the join like ngram_jaccard_pairs; at corpus
    scales beyond that, the dedicated containment sketch (bottom-k
    of the SMALLER side against a global shingle index) replaces the
    pair join — same verify arithmetic."""
    sh_all = _doc_shingles(documents).localCheckpoint(eager=True)
    n_docs = documents.select(F.countDistinct("doc_id").alias("n_docs"))
    hot = (
        sh_all.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") > NGRAM_MAX_DF_FRAC * F.col("n_docs"))
        .select("shingle")
    )
    sh = sh_all.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("sa"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("sb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            micro(F.col("n_inter") / F.col("sa")).alias("containment_a_micro"),
            micro(F.col("n_inter") / F.col("sb")).alias("containment_b_micro"),
        )
        .filter(
            (F.col("containment_a_micro") >= int(round(threshold * 1_000_000)))
            | (F.col("containment_b_micro") >= int(round(threshold * 1_000_000)))
        )
    )


CONTAIN_SKETCH_K = 16
CONTAIN_NUM = 4  # containment threshold as the exact rational 4/5,
CONTAIN_DEN = 5  # matching containment_pairs' 0.8 default


def containment_sketch_pairs(documents: DataFrame) -> DataFrame:
    """(doc_a, doc_b, k_eff, n_hits, containment_est_micro) — the
    SCALE path ``containment_pairs`` promises in its docstring: the
    bottom-k containment sketch (Broder's sampling argument) replaces
    the full posting self-join. Per document, keep the k = CONTAIN_SKETCH_K shingles
    with the smallest portable hash (a deterministic uniform sample
    of its capped shingle set — the ``kmv_sample`` primitive); the
    estimate of C(A→B) is the fraction of A's sampled shingles
    present in B, and pairs pass when den·n_hits ≥ num·k_eff (exact
    integer gate). Directed output: (doc_a contained-in doc_b).

    Why it scales where the exact join doesn't: the sample side is k
    rows per document — FIXED bytes per doc regardless of document
    size — so join cost is Σ_sampled-shingle df ≤ k·df_cap per doc,
    linear in corpus size; the exact operator's join cost is
    Σ_all-shingles df. Estimator properties are explicit, not
    hidden: k_eff rides along as the per-pair evidence count
    (σ ≈ √(c(1−c)/k)), the estimate lives in the same df-capped
    shingle universe as ``containment_pairs``/``ngram_jaccard_pairs``
    (sample and postings drawn from the SAME capped universe, so the
    estimate is unbiased within it), and the exact operator remains
    the sub-crossover answer — this is the above-crossover meter,
    exactly the ``lsh_recall_sampled`` discipline."""
    from pyspark.sql import Window

    from ..functions.portable import hash32, micro

    sh_all = _doc_shingles(documents).localCheckpoint(eager=True)
    n_docs = documents.select(F.countDistinct("doc_id").alias("n_docs"))
    hot = (
        sh_all.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") > NGRAM_MAX_DF_FRAC * F.col("n_docs"))
        .select("shingle")
    )
    sh = sh_all.join(F.broadcast(hot), "shingle", "left_anti").localCheckpoint(
        eager=True
    )
    w = Window.partitionBy("doc_id").orderBy(F.asc("__h"), F.asc("shingle"))
    sample = (
        sh.withColumn("__h", hash32(F.col("shingle"), salt="kc"))
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= CONTAIN_SKETCH_K)
        .select("doc_id", "shingle")
    )
    k_eff = sample.groupBy("doc_id").agg(F.count(F.lit(1)).alias("k_eff"))
    hits = (
        sample.select(F.col("doc_id").alias("doc_a"), "shingle")
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), "shingle"), "shingle"
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        hits.join(
            k_eff.select(F.col("doc_id").alias("doc_a"), "k_eff"), "doc_a"
        )
        .filter(
            F.lit(CONTAIN_DEN) * F.col("n_hits")
            >= F.lit(CONTAIN_NUM) * F.col("k_eff")
        )
        .select(
            "doc_a",
            "doc_b",
            "k_eff",
            "n_hits",
            micro(
                F.col("n_hits").cast("double") / F.col("k_eff").cast("double")
            ).alias("containment_est_micro"),
        )
    )


def repeated_substring_spans(
    documents: DataFrame, k: int = 8, min_tokens: int = 16
) -> DataFrame:
    """Exact-substring dedup spans — the ExactSubstr technique of Lee
    et al., "Deduplicating Training Data Makes Language Models Better"
    (ACL 2022), re-expressed Spark-first. A span is a MAXIMAL run of
    consecutive k-token shingle starts whose content occurs >= 2 times
    in the corpus (within- or cross-document, as in the paper); a run
    of m consecutive starts covers m + k - 1 tokens. Spans shorter
    than ``min_tokens`` are dropped. Output: (doc_id, start_tok,
    end_tok, span_tokens), token positions 0-based inclusive over the
    lowercased whitespace tokenization.

    The paper builds a corpus-wide suffix array — inherently
    sequential. The distributable equivalent: positions are repeated
    IFF their k-shingle is repeated, and maximal repeated substrings
    of length >= k are exactly the maximal runs of repeated shingle
    starts, so one shingle-frequency aggregate plus a per-document
    island merge recovers the paper's spans without any global order.

    Scale: shingles travel as md5 digests (fixed 32 bytes through the
    frequency shuffle and the join back, never the raw text); the
    frequency aggregate is map-side combined; the island merge is a
    window per (doc_id) over ONLY the repeated positions — bounded by
    each document's own length, not the corpus."""
    ws = documents.select("doc_id", words("text").alias("__words"))
    sh = _shingle_pos_hashes(ws, k)
    rep = (
        sh.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= 2)
        .select("__h")
    )
    hits = sh.join(rep, "__h").select("doc_id", "pos")
    return _merge_pos_islands(hits, k, min_tokens)


def _shingle_pos_hashes(ws: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos, __h) — md5 of each k-token shingle with its
    0-based start position, from a pre-split (doc_id, __words)
    frame. Shared by repeated_substring_spans and
    substr_dedup_spans so their tokenization/hashing can never
    desynchronize."""
    return ws.select(
        "doc_id",
        F.posexplode(shingles_from_words(F.col("__words"), k)).alias(
            "pos", "__sh"
        ),
    ).select("doc_id", "pos", F.md5("__sh").alias("__h"))


def _merge_pos_islands(hits: DataFrame, k: int, min_tokens: int) -> DataFrame:
    """(doc_id, pos) shingle-start hits → merged maximal spans
    (doc_id, start_tok, end_tok, span_tokens): consecutive starts
    coalesce (gaps-and-islands per doc, bounded by the doc's own
    length), a run of m starts covers m + k - 1 tokens, spans under
    ``min_tokens`` drop. Shared by repeated_substring_spans and
    substr_dedup_spans."""
    from pyspark.sql import Window

    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    isl = (
        hits.withColumn("__prev", F.lag("pos").over(w_doc))
        .withColumn(
            "__brk",
            F.when(F.col("pos") - F.col("__prev") == 1, F.lit(0)).otherwise(
                F.lit(1)
            ),
        )
        .withColumn(
            "__gid",
            F.sum("__brk").over(
                w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return (
        isl.groupBy("doc_id", "__gid")
        .agg(
            F.min("pos").alias("start_tok"),
            (F.max("pos") + F.lit(k - 1)).alias("end_tok"),
        )
        .withColumn(
            "span_tokens",
            (F.col("end_tok") - F.col("start_tok") + 1).cast("long"),
        )
        .filter(F.col("span_tokens") >= min_tokens)
        .select("doc_id", "start_tok", "end_tok", "span_tokens")
    )


def substr_dedup_spans(
    documents: DataFrame, k: int = 8, min_tokens: int = 16
) -> DataFrame:
    """The KEEP-ONE half of exact-substring dedup: spans covering
    every repeated k-shingle occurrence EXCEPT the corpus-first one
    (first = smallest (doc_id, pos) — deterministic, order-free).
    ``repeated_substring_spans`` marks ALL occurrences of repeated
    content; composing THESE spans with ``remove_spans`` implements
    Lee et al.'s keep-one policy (ACL 2022 §4.2: one copy of each
    duplicated substring survives) — the policy the
    ``remove_spans`` docstring previously left as a caller recipe.

    Scale: identical shape to repeated_substring_spans plus one
    min-struct aggregate — the per-hash first occurrence is
    min(struct(doc_id, pos)), map-side combinable, so a content
    repeated millions of times still ships one candidate per scan
    partition, never a per-hash window sort. Output: (doc_id,
    start_tok, end_tok, span_tokens)."""
    ws = documents.select("doc_id", words("text").alias("__words"))
    return _substr_dedup_spans_from_hashes(
        _shingle_pos_hashes(ws, k), k, min_tokens
    )


def _substr_dedup_spans_from_hashes(
    sh: DataFrame, k: int, min_tokens: int
) -> DataFrame:
    firsts = (
        sh.groupBy("__h")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.min(F.struct("doc_id", "pos")).alias("__first"),
        )
        .filter(F.col("__c") >= 2)
        .select(
            "__h",
            F.col("__first.doc_id").alias("__fd"),
            F.col("__first.pos").alias("__fp"),
        )
    )
    hits = (
        sh.join(firsts, "__h")
        .filter(
            ~(
                (F.col("doc_id") == F.col("__fd"))
                & (F.col("pos") == F.col("__fp"))
            )
        )
        .select("doc_id", "pos")
    )
    return _merge_pos_islands(hits, k, min_tokens)


def documents_substr_deduped(
    documents: DataFrame, k: int = 8, min_tokens: int = 16
) -> DataFrame:
    """Exact-substring-deduped corpus, keep-one policy end-to-end:
    every duplicated >= ``min_tokens``-token substring keeps its
    corpus-first occurrence and is removed everywhere else; text is
    rebuilt over the normalized (lowercased, whitespace-split)
    tokens. Output schema matches the documents table: (doc_id,
    text, lang, source, n_chars) with n_chars recomputed.

    One caveat the "keep-one" shorthand glosses over: spans are
    per-shingle-OCCURRENCE, so when a passage's first copy itself
    overlaps content duplicated from even earlier in the corpus, the
    kept copy is the first occurrence of each SHINGLE, which can be
    split across documents — every repeated shingle survives exactly
    once, but not necessarily as one contiguous passage (Lee et al.
    share this property: their keep-one is per duplicated substring,
    not per enclosing passage).

    The corpus text is split ONCE: span detection and text rebuild
    both read the same checkpointed (doc_id, __words) frame rather
    than re-running the regex tokenization scan."""
    ws = documents.select(
        "doc_id", "lang", "source", words("text").alias("__words")
    ).localCheckpoint(eager=True)
    spans = _substr_dedup_spans_from_hashes(
        _shingle_pos_hashes(ws, k), k, min_tokens
    )
    return _remove_spans_from_ws(ws, spans)


def remove_spans(documents: DataFrame, spans: DataFrame) -> DataFrame:
    """Rebuild text with the given token spans removed — the cleaning
    half of exact-substring dedup (pass a filtered
    ``repeated_substring_spans`` output, e.g. minus each content's
    first occurrence, to implement the Lee-et-al keep-one policy; pass
    it unfiltered to drop repeated text everywhere).

    Pure expression composition: spans collect_list into one array
    per doc (bounded by the doc's own span count), then a single
    indexed ``filter`` over the words array drops covered positions
    and ``concat_ws`` rejoins — no explode, no second shuffle beyond
    the span join. Docs without spans pass through unchanged."""
    ws = documents.select(
        "doc_id", "lang", "source", words("text").alias("__words")
    )
    return _remove_spans_from_ws(ws, spans)


def _remove_spans_from_ws(ws: DataFrame, spans: DataFrame) -> DataFrame:
    """remove_spans over a pre-split (doc_id, lang, source, __words)
    frame — lets compositions that already paid the tokenization scan
    (documents_substr_deduped) reuse it instead of re-splitting."""
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("start_tok", "end_tok")).alias("__spans")
    )
    joined = ws.join(per_doc, "doc_id", "left")
    covered = lambda i: F.exists(  # noqa: E731 — readable inline predicate
        F.col("__spans"),
        lambda s: (i - 1 >= s["start_tok"]) & (i - 1 <= s["end_tok"]),
    )
    kept = F.when(
        F.col("__spans").isNull(), F.col("__words")
    ).otherwise(
        F.filter(F.col("__words"), lambda w, i: ~covered(i + 1))
    )
    return joined.select(
        "doc_id",
        F.concat_ws(" ", kept).alias("text"),
        "lang",
        "source",
        F.length(F.concat_ws(" ", kept)).cast("long").alias("n_chars"),
    )


# prefix filtering's default: the prefix is |x|·(1−t) shingles, so the
# pruning power is proportional to the threshold — at 0.2 the "prefix"
# is 80% of the doc and the join is nearly brute force (measured 7.9 s
# vs 1.9 s at sf0.1); at 0.7 it's the rarest 30%. High thresholds are
# also the join's semantic home: it is the exact NEAR-DUP finder. For
# low-threshold sweeps, LSH candidates (probabilistic) or the df-capped
# ngram join (approximate) are the right tools.
PREFIX_JOIN_THRESHOLD = 0.7


def prefix_jaccard_pairs(
    documents: DataFrame, threshold: float = PREFIX_JOIN_THRESHOLD
) -> DataFrame:
    """EXACT Jaccard >= threshold pairs via prefix filtering (the
    PPJoin family — Chaudhuri et al. 2006 "A Primitive Operator for
    Similarity Joins", Xiao et al. 2008 PPJoin). Output schema matches
    ngram_jaccard_pairs: (doc_a, doc_b, jaccard_micro) — integer
    micro units with an integer-grid threshold compare (the r08
    jaccard_micro contract, applied here on its r09 window
    rotation).

    Where it sits among the dedup joins: ngram_jaccard_pairs is exact
    only up to its df ceiling (hot shingles are DROPPED — an
    approximation taken for scale); lsh_candidate_pairs is
    probabilistic (the banding S-curve misses some true pairs). This
    operator is LOSSLESS at any corpus size: every pair with true
    Jaccard >= threshold is produced, with no df cap and no hash
    luck.

    Prefix filter: order the shingle universe globally by ascending
    document frequency (rarest first; shingle value breaks ties). If
    J(A,B) >= t then |A∩B| >= ceil(t·|A|), so A and B must share a
    shingle inside each one's first L_x = |x| - ceil(t·|x|) + 1
    shingles of that order — the self-join only touches prefixes.
    The scale win is structural: a stop-word shingle has maximal df,
    sorts LAST, and therefore almost never lands in any prefix — the
    quadratic hot bucket that forces ngram_jaccard_pairs' df cap
    disappears without dropping anything. At t=0.7 a prefix is ~30%
    of the doc's shingles, and it is the RAREST 30%, whose postings
    lists are the shortest in the corpus.

    Size filter: candidates must satisfy t·|A| <= |B| (|A| <= |B| by
    ordering pairs), applied inside the join condition. On top of it
    the PPJoin positional filter (see inline comment) prunes
    late-prefix coincidence matches — at sf0.1 it cuts the candidate
    set ~3× (104.5k → 33.4k pairs) with identical output.

    Verify: exact Jaccard on candidate pairs only — same
    candidates-fan-out-by-doc_a's-shingles shape as
    lsh_candidate_pairs' verify stage.

    ceil(t·n) is computed as ceil(t·n - 1e-9): binary-double noise
    (0.7*10 = 7.000000000000001) would otherwise SHRINK the prefix by
    one and break the exactness guarantee; the epsilon can only ever
    lengthen a prefix (still exact, at worst one extra candidate
    probe).
    """
    from pyspark.sql import Window

    from .scale import ensure_parallelism

    # small-input fixup (no-op at scale): a single-file corpus scan
    # would run the whole shingle explode on one core
    sh = _doc_shingles(ensure_parallelism(documents)).localCheckpoint(eager=True)
    # global order: rare shingles first. The df table is shingle-keyed
    # (vocabulary-sized); joined back to the shingle table on its key.
    df_tbl = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    sized = sh.join(df_tbl, "shingle").withColumn(
        "n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )
    rank = F.row_number().over(
        Window.partitionBy("doc_id").orderBy("df", "shingle")
    )
    prefix_len = (
        F.col("n_sh")
        - F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(1e-9))
        + F.lit(1)
    )
    prefix = (
        sized.withColumn("rk", rank)
        .filter(F.col("rk") <= prefix_len)
        .select("doc_id", "shingle", "n_sh", "rk")
        .localCheckpoint(eager=True)
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # PPJoin positional filter (Xiao et al. 2008 §3.2): a shingle
    # matched at rank i of A and j of B bounds the overlap by
    # 1 + min(|A|-i, |B|-j) — everything BEFORE the matched position
    # contributes nothing new for the pair's FIRST common shingle
    # (both sides sort by the same global (df, shingle) order, so a
    # common shingle earlier in A would be earlier in B too). J >= t
    # needs overlap >= t/(1+t)·(|A|+|B|); a true pair always passes
    # at its first common shingle, so pruning every match that fails
    # the bound keeps the join EXACT while cutting the candidates the
    # size filter alone lets through (late-prefix coincidences).
    # The 1e-9 slack can only lower the required overlap — float
    # noise keeps a candidate, never drops a true pair.
    overlap_req = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("a.n_sh") + F.col("b.n_sh"))
        - F.lit(1e-9)
    )
    overlap_ub = F.lit(1) + F.least(
        F.col("a.n_sh") - F.col("a.rk"), F.col("b.n_sh") - F.col("b.rk")
    )
    cands = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # size filter: J >= t needs t·max(|A|,|B|) <= |A∩B| <= min
            & (F.lit(threshold) * F.col("a.n_sh") <= F.col("b.n_sh"))
            & (F.lit(threshold) * F.col("b.n_sh") <= F.col("a.n_sh"))
            & (overlap_ub >= overlap_req),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        # LAZY (r10 job-count audit, same as lsh_candidate_pairs):
        # the eager ds checkpoint below materializes cands inside its
        # own job; the inter join then reads the checkpoint cache —
        # one scheduling barrier fewer. sh/prefix/ds stay EAGER: each
        # feeds two or more PARALLEL stages of one downstream job,
        # where a lazy checkpoint would be computed once per stage.
        .localCheckpoint(eager=False)
    )
    # verify only candidate DOCS' shingle sets (lsh_candidate_pairs'
    # verify discipline): at scale the candidate set is tiny next to
    # the corpus, so the full shingle table must not shuffle again.
    cand_docs = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .union(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    ds = sh.join(cand_docs, "doc_id", "left_semi").localCheckpoint(eager=True)
    sizes = ds.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sh_a = ds.select(F.col("doc_id").alias("doc_a"), "shingle")
    sh_b = ds.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cands.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("sa"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("sb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard_micro",
            micro(
                F.col("n_inter")
                / (F.col("sa") + F.col("sb") - F.col("n_inter"))
            ),
        )
        .filter(F.col("jaccard_micro") >= int(round(threshold * 1_000_000)))
        .select("doc_a", "doc_b", "jaccard_micro")
    )


def corpus_growth(documents: DataFrame) -> DataFrame:
    """The data-scaling question in one table: as the corpus grows (in
    doc_id order, bucketed every 100 docs), how much NEW
    content does each increment bring? Output per bucket:
    (bucket, n_docs, n_pairs, n_novel, novelty_rate_micro,
    cum_vocab) — n_pairs = distinct (doc, shingle) occurrences in the
    bucket, n_novel = shingles whose global first occurrence is in
    this bucket, novelty_rate_micro = (n_novel·10⁶) DIV n_pairs
    (pure-integer micro share; integer contract, migrated on its r09
    window rotation), cum_vocab = distinct shingles seen up to and
    including the bucket. A flattening
    cum_vocab / falling novelty_rate says more of the same crawl adds
    redundancy, not information — the curve that decides whether to
    buy more data or dedup harder.

    Scale: one shingle pass; first-occurrence is a min aggregation on
    shingle (map-side combined); per-bucket rollups shuffle bucket
    keys only. The cumulative-vocabulary window runs over
    corpus_size/100 rows — thousands, not billions."""
    from pyspark.sql import Window

    from .scale import ensure_parallelism

    sh = _doc_shingles(ensure_parallelism(documents)).select(
        # floor division, NOT a double cast: Spark's double->long cast
        # truncates while DuckDB's rounds — floor is the one spelling
        # both engines agree on
        F.floor(F.col("doc_id") / 100).alias("bucket"),
        "doc_id",
        "shingle",
    ).localCheckpoint(eager=True)
    per_bucket = sh.groupBy("bucket").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    first = sh.groupBy("shingle").agg(F.min("bucket").alias("bucket"))
    novel = first.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_novel"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_bucket.join(novel, "bucket", "left")
        .select(
            "bucket",
            "n_docs",
            "n_pairs",
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
        )
        .withColumn(
            "novelty_rate_micro",
            F.expr("CAST((n_novel * 1000000) DIV n_pairs AS BIGINT)"),
        )
        .withColumn("cum_vocab", F.sum("n_novel").over(w))
    )


def lsh_recall_report(documents: DataFrame) -> DataFrame:
    """Self-auditing approximation quality: how much of the EXACT
    near-dup truth does the MinHash-LSH pipeline surface? One row:
    (n_true, n_lsh, n_hit, recall).

    Ground truth is `prefix_jaccard_pairs` (lossless by the prefix
    lemma); the candidate path is `lsh_candidate_pairs`, whose banding
    S-curve sits at (1/b)^(1/r) ≈ 0.707 for the shipped (16, 4) — so
    at the default 0.7 threshold the report reads the banding exactly
    at its design point. Both branches verify with the same shingle
    Jaccard, so lsh ⊆ truth and precision is 1 by construction; the
    number that matters is recall = n_hit / n_true (hash luck only).
    n_lsh == n_hit is a cross-operator consistency invariant the
    report re-proves on every run.

    At 100 TB you'd run this on a SAMPLE (the exact join is the
    expensive branch); the report shape is the point — an engine that
    ships approximate dedup should ship its own recall meter."""
    truth = prefix_jaccard_pairs(documents).select("doc_a", "doc_b")
    lsh = lsh_candidate_pairs(documents, PREFIX_JOIN_THRESHOLD).select("doc_a", "doc_b")
    truth = truth.localCheckpoint(eager=True)
    lsh = lsh.localCheckpoint(eager=True)
    hit = truth.join(lsh, ["doc_a", "doc_b"], "left_semi")
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    n_lsh = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
    n_hit = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        n_true.crossJoin(n_lsh)
        .crossJoin(n_hit)
        .select(
            "n_true",
            "n_lsh",
            "n_hit",
            # try_divide: an empty corpus has no truth to recall —
            # NULL, not an ANSI divide-by-zero error
            micro(F.try_divide(F.col("n_hit"), F.col("n_true"))).alias(
                "recall_micro"
            ),
        )
    )


def lsh_recall_sampled(documents: DataFrame, sample_mod: int = 2) -> DataFrame:
    """The recall meter that stays usable on corpora too large for
    the exact prefix join: exact truth is computed only
    over a deterministic portable-hash sample of documents
    (hash32(doc_id) % sample_mod == 0 — the same hash-ordered
    uniform-sampling primitive as ``kmv_sample``), so the meter's
    super-linear exact branch runs on n/mod docs while the thing it
    meters stays linear.

    Unbiasedness: a pair becomes an LSH candidate iff some band of
    the two docs' OWN signatures collides — candidacy is pairwise, so
    restricting the corpus to the sample leaves within-sample
    candidacy identical to the full run, and recall measured over
    sampled pairs estimates corpus recall without bias. The report
    carries its own evidence count (``n_true_sample``) so a consumer
    can judge the estimate's weight; ``lsh_recall_report`` remains
    the lossless test oracle on small corpora.

    Output contract (COVERAGE.md encoding rule): one row
    (n_docs_sampled, sample_mod, n_true_sample, n_lsh_sample,
    n_hit_sample, recall_micro) — recall as floor(x·1e6+0.5) BIGINT,
    NULL when the sample holds no true pair."""
    from ..functions.portable import hash32, micro

    sampled = documents.filter(
        hash32(F.col("doc_id").cast("string"), salt="rs") % sample_mod == 0
    )
    truth = prefix_jaccard_pairs(sampled).select("doc_a", "doc_b")
    lsh = lsh_candidate_pairs(sampled, PREFIX_JOIN_THRESHOLD).select("doc_a", "doc_b")
    truth = truth.localCheckpoint(eager=True)
    lsh = lsh.localCheckpoint(eager=True)
    hit = truth.join(lsh, ["doc_a", "doc_b"], "left_semi")
    n_docs = sampled.agg(F.count(F.lit(1)).alias("n_docs_sampled"))
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true_sample"))
    n_lsh = lsh.agg(F.count(F.lit(1)).alias("n_lsh_sample"))
    n_hit = hit.agg(F.count(F.lit(1)).alias("n_hit_sample"))
    return (
        n_docs.crossJoin(n_true)
        .crossJoin(n_lsh)
        .crossJoin(n_hit)
        .select(
            "n_docs_sampled",
            F.lit(sample_mod).cast("int").alias("sample_mod"),
            "n_true_sample",
            "n_lsh_sample",
            "n_hit_sample",
            micro(
                F.try_divide(F.col("n_hit_sample"), F.col("n_true_sample"))
            ).alias("recall_micro"),
        )
    )


def dup_rate_by_source(documents: DataFrame) -> DataFrame:
    """Which source is feeding the corpus duplicates: per source, the
    count and share of documents whose exact content (md5) already
    appears under a smaller doc_id ANYWHERE in the corpus. Cross-
    source copies count against the later-arriving source — the
    scraper-health view that tells you where to spend dedup effort.

    Scale: text reduces to md5 at the scan; the group table carries
    (hash, min doc_id) only; one hash-keyed join back and an
    n_sources-row aggregate. Same shapes as dedup_exact."""
    hashed = documents.select("source", "doc_id", F.md5("text").alias("__h"))
    keep = hashed.groupBy("__h").agg(F.min("doc_id").alias("__keep"))
    return (
        hashed.join(keep, "__h")
        .select("source", (F.col("doc_id") != F.col("__keep")).alias("__dup"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("__dup").cast("long")).alias("n_dupes"),
            (
                F.round(
                    F.sum(F.col("__dup").cast("long")) / F.count(F.lit(1)), 6
                )
                + 0.0
            ).alias("dup_rate"),
        )
    )


def lsh_candidate_precision(documents: DataFrame) -> DataFrame:
    """One-row PRECISION report for the LSH banding: of the raw
    band-bucket candidate pairs, how many verify at exact shingle
    Jaccard >= ``JACCARD_THRESHOLD``. The complement of ``lsh_recall_report``
    / ``lsh_recall_sampled`` — recall says what the banding misses,
    precision says what the verify stage pays to throw away, and the
    two together are the full operating point of the banding
    S-curve. Output: (n_candidates, n_verified,
    precision_u) with precision in integer micro-units.

    Integer contract: the verify compare is the exact rational
    cross-multiplication ``n_inter * 1e6 >= tau_u * union`` (tau_u =
    round(tau*1e6)) — no float division anywhere, so the count is
    bit-identical across engines with no rounding discipline. (This
    is deliberately STRICTER than lsh_candidate_pairs' reported
    ROUND(j,6) >= tau filter, which can admit a pair whose true
    Jaccard rounds up; a meter must not inherit a display rounding.)

    Scale: candidate generation is the identical band-bucket
    self-join lsh_candidate_pairs runs (bucket-local, never
    all-pairs); verification fans only candidate docs' shingles
    (semi-join before the explode), so cost is
    sum-over-candidates |shingles(doc_a)| — the same bound as the
    certified pair query — and the output is ONE row, aggregated
    map-side. A pair with zero shared shingles (a pure banding
    false positive) has no intersection row; the left join counts
    it as unverified instead of dropping it, which is the entire
    point of a precision meter."""
    tau_u = int(round(JACCARD_THRESHOLD * 1_000_000))
    sigs = minhash_signatures(documents)
    bb = _band_buckets(sigs).localCheckpoint(eager=True)
    a = bb.alias("a")
    b = bb.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cand_docs = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .union(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    ds = _doc_shingles(
        documents.join(cand_docs, "doc_id", "left_semi")
    ).localCheckpoint(eager=True)
    sizes = ds.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        cands.join(ds.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(ds.select(F.col("doc_id").alias("doc_b"), "shingle"), ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("sa"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("sb"))
    verdicts = (
        cands.join(inter, ["doc_a", "doc_b"], "left")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.when(
                F.coalesce(F.col("n_inter"), F.lit(0)) * F.lit(1_000_000)
                >= F.lit(tau_u)
                * (F.col("sa") + F.col("sb") - F.coalesce(F.col("n_inter"), F.lit(0))),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("ok")
        )
    )
    return verdicts.agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.coalesce(F.sum("ok"), F.lit(0)).cast("long").alias("n_verified"),
    ).select(
        "n_candidates",
        "n_verified",
        F.expr(
            "CAST((n_verified * 1000000) DIV GREATEST(n_candidates, 1) AS BIGINT)"
        ).alias("precision_u"),
    )


def documents_deduped_best(documents: DataFrame) -> DataFrame:
    """Quality-aware dedup end product: one representative per
    near-dup cluster, chosen as the BEST-quality member
    (operators/text.py::quality_scores composite; ties -> min doc_id)
    — real pipelines keep the best-written copy, not the
    first-crawled one (contrast the min-id rule of the
    documents_deduped registry query).

    Scale: clusters and per-doc quality are narrow (ids + one
    double); the winner per cluster is a max-struct aggregation with
    map-side combine, so the only cost over the min-id variant is one
    hash-keyed join and an agg over ids+scores."""
    from .text import quality_scores

    clusters = dedup_clusters(documents)
    q = quality_scores(documents).select("doc_id", "quality")
    best = (
        clusters.join(q, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(F.col("quality"), (-F.col("doc_id")).alias("neg_id"))
            ).alias("m")
        )
        .select("cluster_id", (-F.col("m.neg_id")).alias("doc_id"))
    )
    return documents.join(best, "doc_id").select(
        "doc_id", "cluster_id", "lang", "source", "n_chars"
    )


WINNOW_W = 4  # winnowing window (shingles per window)
WINNOW_POS_MOD = 1 << 24  # position bits packed under the hash in the key
WINNOW_MIN_SHARED = 2  # overlap pairs need >= this many shared fingerprints


def _winnow_fp_arrays(documents: DataFrame) -> DataFrame:
    """(doc_id, __n, __fp) — per-document array of DISTINCT winnowed
    fingerprint keys (Schleimer, Wilkerson & Aiken, SIGMOD 2003: the
    MOSS algorithm): per sliding window of w = ``WINNOW_W`` consecutive shingle
    hashes, select the minimum, breaking ties to the RIGHTMOST
    position (the paper's rule — it maximizes fingerprint sharing
    between overlapping documents).

    The argmin-with-rightmost-tie is ONE integer min: key =
    h·2^24 + (2^24−1−pos) orders first by hash, then by DESCENDING
    position, so MIN(key) is the paper's selection — no struct
    ordering, no second pass. Positions clamp at 2^24−1: beyond a
    16M-shingle document the tie-break (only) degrades, documented
    not hidden. Windows that would run past the end of the document
    are dropped (pos ≤ n−w), except that a document with fewer than
    w shingles keeps its single truncated window — every document
    with at least one shingle (≥ 3 words) fingerprints; shorter
    documents produce no shingles and are absent (pinned in
    test_winnowing_short_doc_single_fingerprint /
    test_winnowing_two_word_doc_absent).

    Scale: the whole selection is per-row array arithmetic — NO
    shuffle, NO sort, NO window exchange. The r08 plan shuffled the
    full exploded (doc_id, pos, key) stream into a doc-partitioned
    sort just to run a w-row sliding min; that stream is the corpus'
    entire shingle count and dominated the 10× rehearsal (145 s,
    the round's only breached target). Here each document's keyed
    shingle array stays in its scan task and the sliding min is
    transform(sequence(0, n−w), i -> array_min(slice(keys, i+1, w)))
    — O(n·w) per doc with w=4, the same per-task memory bound as
    every other shingle-array operator in this module. Lambdas
    reference only bound attributes (__sh, __k) — projected as real
    columns first, per the shingles_from_words O(n²) pitfall note.

    Guarantee inherited from the paper: any shared run of at least
    w+k−1 words (k = shingle width) shares at least one fingerprint,
    so overlap detection has a hard no-miss floor at that length."""
    ws = documents.select("doc_id", words("text").alias("__ws"))
    shl = ws.select(
        "doc_id", shingles_from_words(F.col("__ws")).alias("__sh")
    )
    keyed = shl.select(
        "doc_id",
        F.size("__sh").alias("__n"),
        F.transform(
            "__sh",
            lambda s, i: hash32(s, salt="wn") * F.lit(WINNOW_POS_MOD)
            + (
                F.lit(WINNOW_POS_MOD - 1)
                - F.least(i, F.lit(WINNOW_POS_MOD - 1))
            ),
        ).alias("__k"),
    ).filter(F.col("__n") >= 1)
    return keyed.select(
        "doc_id",
        "__n",
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(0), F.greatest(F.col("__n") - WINNOW_W, F.lit(0))
                ),
                lambda i: F.array_min(F.slice(F.col("__k"), i + 1, WINNOW_W)),
            )
        ).alias("__fp"),
    )


def _winnow_keys(documents: DataFrame) -> DataFrame:
    """(doc_id, __n, key) — winnowed fingerprint keys, one row per
    distinct key per document (see _winnow_fp_arrays for the
    selection rule). The explode is narrow — it emits the ~2/(w+1)
    winnowed sample, never the full shingle stream."""
    return _winnow_fp_arrays(documents).select(
        "doc_id", "__n", F.explode("__fp").alias("key")
    )


def winnowing_fingerprints(documents: DataFrame) -> DataFrame:
    """(doc_id, n_shingles, n_fingerprints, density_u) — per-document
    winnowing summary. Expected density is 2/(w+1) (paper §5);
    density_u = n_fingerprints·1e6 DIV n_windows lets a pipeline
    assert the selection is behaving (a density near 1e6 means
    pathological hash ties; near zero means a bug dropped windows).

    Scale: ZERO shuffles — the winnowed selection is per-row array
    arithmetic (_winnow_fp_arrays) and this summary reads the array
    sizes in the same scan task. Nothing moves: not text, not
    shingles, not keys."""
    fp = _winnow_fp_arrays(documents)
    return fp.select(
        "doc_id",
        F.col("__n").cast("long").alias("n_shingles"),
        F.size("__fp").cast("long").alias("n_fingerprints"),
    ).select(
        "doc_id",
        "n_shingles",
        "n_fingerprints",
        F.expr(
            f"CAST((n_fingerprints * 1000000)"
            f" DIV (GREATEST(n_shingles - {WINNOW_W}, 0) + 1) AS BIGINT)"
        ).alias("density_u"),
    )


def winnowing_overlap_pairs(
    documents: DataFrame,
    min_shared: int = WINNOW_MIN_SHARED,
    max_df_frac: float = NGRAM_MAX_DF_FRAC,
) -> DataFrame:
    """(doc_a, doc_b, n_shared) — document pairs sharing >=
    ``min_shared`` winnowed fingerprint HASHES (position-independent,
    as in MOSS: a moved paragraph still matches). The positional
    complement of the Jaccard family: shingle Jaccard measures
    set overlap of ALL shingles; winnowing overlap counts agreement
    on the deterministic ~2/(w+1) sample, so the join touches a
    fraction of the postings at the same guarantee floor.

    Scale guard: same df ceiling as ngram_jaccard_pairs — a
    fingerprint in > max_df_frac of documents is boilerplate, not
    overlap signal, and would mint a quadratic bucket; the hot list
    is tiny by the same counting argument and broadcasts."""
    fp = (
        _winnow_keys(documents)
        .select(
            "doc_id",
            F.expr(f"CAST(key DIV {WINNOW_POS_MOD} AS BIGINT)").alias("h"),
        )
        .distinct()
        .localCheckpoint(eager=True)  # feeds the df count AND both join sides
    )
    n_docs = documents.select(F.countDistinct("doc_id").alias("n_docs"))
    hot = (
        fp.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") > max_df_frac * F.col("n_docs"))
        .select("h")
    )
    f2 = fp.join(F.broadcast(hot), "h", "left_anti")
    a, b = f2.alias("a"), f2.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
