"""Dedup clustering on crafted near-duplicates: docs sharing most
shingles must land in one cluster; unrelated docs stay singletons."""

from __future__ import annotations

from flink_ecommerce_spark.operators.dedup import dedup_clusters
from flink_ecommerce_spark.schemas import DOCUMENTS_SCHEMA

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat "
    "watches from the warm windowsill in the afternoon sun today"
)


def test_near_duplicates_cluster_together(spark):
    docs = spark.createDataFrame(
        [
            (0, BASE, "en", "s", len(BASE)),
            (1, BASE + " extra", "en", "s", len(BASE) + 6),  # near-dup of 0
            (2, BASE.replace("fox", "wolf"), "en", "s", len(BASE)),  # near-dup
            (3, "completely different text about spark query engines "
                "and distributed columnar execution at large scale", "en", "s", 100),
            (4, "another unrelated document mentioning kafka topics "
                "postgres upserts and flink keyed state semantics", "en", "s", 100),
        ],
        DOCUMENTS_SCHEMA,
    )
    clusters = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(docs).collect()}
    assert clusters[0] == clusters[1] == clusters[2] == 0
    assert clusters[3] == 3 and clusters[4] == 4


def test_chain_clusters_merge(spark):
    """A chain of appended-suffix near-duplicates merges into one
    cluster through the pair graph. (LSH recall on SHORT low-overlap
    docs is legitimately probabilistic — band collision at jaccard
    0.6 with 8 shingles is ~0.43 — so the chain uses high-overlap
    near-dups, which is also the realistic near-dup regime.)"""
    a = BASE
    b = BASE + " omega"
    c = BASE + " omega psi"
    docs = spark.createDataFrame(
        [(0, a, "en", "s", 1), (1, b, "en", "s", 1), (2, c, "en", "s", 1)],
        DOCUMENTS_SCHEMA,
    )
    clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(docs, threshold=0.5).collect()
    }
    assert len(set(clusters.values())) == 1, clusters


def test_ngram_df_cap_bounds_hot_shingle_join(spark):
    """A stop-word shingle present in EVERY doc must not turn the
    shared-shingle self-join into all-pairs: with the df ceiling the
    universal shingles are dropped and unrelated docs produce zero
    pair rows, while genuine near-dups still pair via their rare
    shingles. max_df_frac=1.0 disables the cap and recovers the
    quadratic blow-up — the contrast pins the bound."""
    from flink_ecommerce_spark.operators.dedup import ngram_jaccard_pairs

    stop = "of the and in to for on at by with it is was as be or"
    uniq = [
        f"unique{i} topic{i} subject{i} theme{i} marker{i} token{i} tail{i} end{i}"
        for i in range(20)
    ]
    rows = [(i, f"{stop} {uniq[i]}", "en", "s", 1) for i in range(20)]
    # 20 and 21: genuine near-dups sharing a rare tail
    rare = "rare alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows += [(20, f"{stop} {rare}", "en", "s", 1), (21, f"{stop} {rare} x", "en", "s", 1)]
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)

    capped = ngram_jaccard_pairs(docs, threshold=0.0).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in capped}
    assert (20, 21) in pairs
    # no unrelated pair survives — the hot shingles are gone
    assert all(a >= 20 and b >= 20 for a, b in pairs), sorted(pairs)[:5]

    uncapped = ngram_jaccard_pairs(docs, threshold=0.0, max_df_frac=1.0).count()
    assert uncapped == 22 * 21 // 2  # all-pairs: what the cap prevents


def test_shingle_novelty_df_cap_drops_hot_shingles(spark):
    """The join-back must not fan a universal shingle across one
    reducer: with the df cap, corpus-wide shingles vanish from both
    the numerator and the denominator; with max_df_frac=1.0 they stay
    (the uncapped semantics). The contrast pins the structural cap."""
    from flink_ecommerce_spark.operators.dedup import shingle_novelty

    stop = "of the and in to for on at by with it is was as be or"
    rows = [
        (i, f"{stop} unique{i} topic{i} subject{i} theme{i} marker{i}", "en", "s", 1)
        for i in range(10)
    ]
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)

    capped = {r["doc_id"]: r for r in shingle_novelty(docs).collect()}
    uncapped = {
        r["doc_id"]: r for r in shingle_novelty(docs, max_df_frac=1.0).collect()
    }
    # hot shingles (the shared stop prefix) are counted only uncapped
    assert all(
        capped[i]["n_shingles"] < uncapped[i]["n_shingles"] for i in capped
    )
    # capped: every surviving shingle is unique to its doc -> fully novel
    assert all(r["novelty_frac"] == 1.0 for r in capped.values())
    # uncapped: later docs carry the shared prefix as non-novel
    assert uncapped[9]["novelty_frac"] < 1.0


def test_simhash_band_width_cost_recall_tradeoff(spark):
    """Two band widths on one corpus: wider bands (fewer buckets
    matched per doc, more buckets total) surface FEWER candidate
    pairs (the cost axis), and the verified pairs they do surface are
    a subset of the narrow-band result (the recall axis)."""
    from flink_ecommerce_spark.operators.dedup import simhash_near_pairs

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"
    )
    rows = [(i, f"{base} doc{i} tail{i % 7} mark{i % 5}", "en", "s", 1) for i in range(40)]
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)

    # max_hamming=64 disables the verify filter: counts = raw
    # candidate volume from band collisions (the join cost proxy)
    cand8 = simhash_near_pairs(docs, max_hamming=64, band_bits=8).count()
    cand16 = simhash_near_pairs(docs, max_hamming=64, band_bits=16).count()
    assert cand16 <= cand8

    pairs8 = {(r["doc_a"], r["doc_b"]) for r in simhash_near_pairs(docs, band_bits=8).collect()}
    pairs16 = {(r["doc_a"], r["doc_b"]) for r in simhash_near_pairs(docs, band_bits=16).collect()}
    assert pairs16 <= pairs8


def test_simhash_banded_recall_exact_at_default_width(spark):
    """Pigeonhole guarantee: with 64-bit fingerprints and 8-bit bands
    (8 bands), any pair at hamming <= 7 shares an untouched band —
    so at HAMMING_MAX=6 the banded join must find EXACTLY the pairs a
    brute-force all-pairs hamming scan finds."""
    from pyspark.sql import functions as F

    from flink_ecommerce_spark.operators.dedup import simhash, simhash_near_pairs

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    rows = [
        (i, base.replace("alpha", f"w{i % 9}") + f" t{i % 4}", "en", "s", 1)
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)

    banded = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_pairs(docs, band_bits=8).collect()
    }
    sh = simhash(docs)
    a = sh.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash_hi").alias("ha"),
        F.col("simhash_lo").alias("la"),
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash_hi").alias("hb"),
        F.col("simhash_lo").alias("lb"),
    )
    brute = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.expr("bit_count(ha ^ hb) + bit_count(la ^ lb)").alias("hamming"),
        )
        .filter(F.col("hamming") <= 6)
        .collect()
    }
    assert banded == brute and len(brute) > 0


def test_incremental_dedup_batch_vs_history(spark):
    """The daily-pipeline filter: a new batch keeps only content
    absent from the corpus, deduped within the batch (first doc_id
    wins), robust to whitespace variants."""
    from flink_ecommerce_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [(0, "seen before text", "en", "s", 1)], DOCUMENTS_SCHEMA
    )
    new = spark.createDataFrame(
        [
            (10, "seen  BEFORE text", "en", "s", 1),   # normalized dup of corpus
            (11, "genuinely new content", "en", "s", 1),
            (12, "genuinely  new content", "en", "s", 1),  # intra-batch dup of 11
            (13, "another fresh doc", "en", "s", 1),
        ],
        DOCUMENTS_SCHEMA,
    )
    kept = {r["doc_id"] for r in incremental_dedup(new, corpus).collect()}
    assert kept == {11, 13}


def test_corpus_diff_statuses(spark):
    from flink_ecommerce_spark.operators.dedup import corpus_diff

    old = spark.createDataFrame(
        [(0, "stays same", "en", "s", 1), (1, "will change", "en", "s", 1),
         (2, "will vanish", "en", "s", 1)],
        DOCUMENTS_SCHEMA,
    )
    new = spark.createDataFrame(
        [(0, "stays same", "en", "s", 1), (1, "has changed", "en", "s", 1),
         (3, "brand new", "en", "s", 1)],
        DOCUMENTS_SCHEMA,
    )
    got = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
    assert got == {0: "unchanged", 1: "changed", 2: "removed", 3: "added"}


def test_shingle_novelty_first_occurrence_rule(spark):
    from flink_ecommerce_spark.operators.dedup import shingle_novelty

    rows = [
        (0, "alpha beta gamma delta", "en", "s", 1),     # 2 shingles, all first
        (1, "alpha beta gamma epsilon", "en", "s", 1),   # shares 1 of 2
        (2, "alpha beta gamma delta", "en", "s", 1),     # exact dup of 0
    ]
    # max_df_frac=1.0: a 3-doc corpus trips the production df cap
    # (df 2/3 > 0.5); this test pins the first-occurrence rule itself
    out = {
        r["doc_id"]: r for r in shingle_novelty(
            spark.createDataFrame(rows, DOCUMENTS_SCHEMA), max_df_frac=1.0
        ).collect()
    }
    assert out[0]["novelty_frac"] == 1.0
    assert out[1]["novelty_frac"] == 0.5  # "beta gamma epsilon" is new
    assert out[2]["novelty_frac"] == 0.0  # everything seen in doc 0


def test_containment_catches_subset_quote(spark):
    """A short doc quoted wholesale inside a long doc: Jaccard is low
    (big union) so symmetric near-dup misses it, but containment on
    the quoted side is 1.0 — the Broder containment-vs-resemblance
    distinction this operator exists for."""
    from flink_ecommerce_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon zeta eta theta"
    long_doc = (
        "intro words before the quote begins now " + short +
        " and after the quote a long discussion follows with many "
        "additional unrelated sentences about other topics entirely "
        "continuing for a while to dilute the union of shingles"
    )
    filler = [
        (i, f"unrelated{i} filler{i} content{i} words{i} here{i} more{i} text{i}",
         "en", "s", 1)
        for i in range(10, 16)
    ]
    docs = spark.createDataFrame(
        [(0, short, "en", "s", 1), (1, long_doc, "en", "s", 1)] + filler,
        DOCUMENTS_SCHEMA,
    )
    cont = {
        (r["doc_a"], r["doc_b"]): (r["containment_a_micro"], r["containment_b_micro"])
        for r in containment_pairs(docs, threshold=0.9).collect()
    }
    assert (0, 1) in cont
    assert cont[(0, 1)][0] == 1_000_000  # the short doc is fully contained
    # symmetric Jaccard at the same strictness finds nothing
    jac = ngram_jaccard_pairs(docs, threshold=0.9).collect()
    assert jac == []


def test_repeated_substring_spans_finds_shared_passage(spark):
    """Two documents share one long passage embedded in otherwise
    unique text: the span must cover exactly the shared tokens in
    BOTH docs (0-based positions over whitespace tokens), unique docs
    must produce nothing, and an internal within-doc repetition also
    counts (Lee et al. count total occurrences >= 2)."""
    from flink_ecommerce_spark.operators.dedup import repeated_substring_spans

    shared = " ".join(f"p{i}" for i in range(20))  # 20-token passage
    rows = [
        (0, f"a0 b0 c0 {shared} z0", "en", "s", 1),       # passage at 3..22
        (1, f"{shared} x1 y1 z1 w1 v1", "en", "s", 1),     # passage at 0..19
        (2, "entirely unique text with no repeats here at all", "en", "s", 1),
    ]
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    spans = {
        r["doc_id"]: (r["start_tok"], r["end_tok"], r["span_tokens"])
        for r in repeated_substring_spans(docs, k=8, min_tokens=16).collect()
    }
    assert spans[0] == (3, 22, 20)
    assert spans[1] == (0, 19, 20)
    assert 2 not in spans

    # within-doc repetition: the same 10-token phrase twice in ONE doc
    phrase = " ".join(f"q{i}" for i in range(10))
    solo = spark.createDataFrame(
        [(7, f"{phrase} mid1 mid2 mid3 {phrase}", "en", "s", 1)],
        DOCUMENTS_SCHEMA,
    )
    got = repeated_substring_spans(solo, k=8, min_tokens=8).collect()
    assert len(got) == 2
    assert {(r["start_tok"], r["end_tok"]) for r in got} == {(0, 9), (13, 22)}


def test_remove_spans_strips_only_covered_tokens(spark):
    """Composing span detection with remove_spans leaves exactly the
    un-covered tokens, in order; docs without spans pass through."""
    from pyspark.sql import functions as F

    from flink_ecommerce_spark.operators.dedup import (
        remove_spans,
        repeated_substring_spans,
    )

    shared = " ".join(f"p{i}" for i in range(20))
    rows = [
        (0, f"a0 b0 c0 {shared} z0", "en", "s", 1),
        (1, f"{shared} x1 y1 z1 w1 v1", "en", "s", 1),
        (2, "entirely unique text with no repeats here at all", "en", "s", 1),
    ]
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    spans = repeated_substring_spans(docs, k=8, min_tokens=16)
    out = {r["doc_id"]: r["text"] for r in remove_spans(docs, spans).collect()}
    assert out[0] == "a0 b0 c0 z0"
    assert out[1] == "x1 y1 z1 w1 v1"
    assert out[2] == "entirely unique text with no repeats here at all"

    # keep-one policy: filter out each content's first occurrence
    # (min doc_id here) before removing -> doc 0 keeps its copy
    from pyspark.sql import Window as W

    keep_first = spans.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("span_tokens").orderBy("doc_id", "start_tok")
        ),
    ).filter(F.col("rk") > 1).drop("rk")
    kept = {r["doc_id"]: r["text"] for r in remove_spans(docs, keep_first).collect()}
    assert kept[0] == f"a0 b0 c0 {shared} z0"
    assert kept[1] == "x1 y1 z1 w1 v1"


def test_documents_substr_deduped_keep_one(spark):
    """End-to-end keep-one policy: a passage shared by three docs
    survives ONLY at its corpus-first occurrence (smallest
    (doc_id, pos)); unique docs pass through normalized; a within-doc
    repeat keeps its first copy and loses the second."""
    from flink_ecommerce_spark.operators.dedup import (
        documents_substr_deduped,
        substr_dedup_spans,
    )

    shared = " ".join(f"p{i}" for i in range(20))
    phrase = " ".join(f"q{i}" for i in range(16))
    rows = [
        (0, f"a0 b0 c0 {shared} z0", "en", "s", 1),
        (1, f"{shared} x1 y1 z1 w1 v1", "en", "s", 1),
        (2, "entirely unique text with no repeats here at all", "en", "s", 1),
        (3, f"{phrase} mid1 mid2 mid3 {phrase}", "en", "s", 1),
    ]
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)

    spans = {
        (r["doc_id"], r["start_tok"], r["end_tok"])
        for r in substr_dedup_spans(docs, k=8, min_tokens=16).collect()
    }
    # doc 0 holds the corpus-first copy (doc_id 0 < 1): only doc 1's
    # copy and doc 3's SECOND phrase occurrence are marked
    assert spans == {(1, 0, 19), (3, 19, 34)}

    out = {
        r["doc_id"]: (r["text"], r["n_chars"])
        for r in documents_substr_deduped(docs, k=8, min_tokens=16).collect()
    }
    assert out[0][0] == f"a0 b0 c0 {shared} z0"
    assert out[1][0] == "x1 y1 z1 w1 v1"
    assert out[2][0] == "entirely unique text with no repeats here at all"
    assert out[3][0] == f"{phrase} mid1 mid2 mid3"
    for doc_id, (text, n_chars) in out.items():
        assert n_chars == len(text)


def test_lsh_banding_follows_planner_s_curve(spark):
    """The banding S-curve on real data: a (num_hashes, num_bands)
    whose inflection (1/b)^(1/r) sits lower — (8, 4) at 0.5 — surfaces
    at least as many verified pairs as the default (16, 4) at ≈0.71,
    and one that sits higher — (16, 2) at ≈0.92 — at most as many."""
    from flink_ecommerce_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def pairs(cfg):
        n, b = cfg
        return dedup.lsh_candidate_pairs(
            docs, threshold=0.0, num_hashes=n, num_bands=b
        ).count()

    loose = pairs((8, 4))
    default = pairs((dedup.NUM_HASHES, dedup.NUM_BANDS))
    tight = pairs((16, 2))
    assert loose >= default >= tight, (loose, default, tight)
    assert loose > tight  # the knob must actually move on this corpus


def test_incremental_fuzzy_dedup_rejects_near_dups(spark):
    """Fuzzy admission: a lightly-edited repost of corpus content is
    rejected even though its exact hash differs; genuinely new
    content is admitted with full columns intact."""
    from flink_ecommerce_spark.operators.dedup import (
        incremental_fuzzy_dedup,
        minhash_signatures,
    )

    corpus = spark.createDataFrame(
        [
            (0, BASE, "en", "s", len(BASE)),
            (1, "completely different text about spark query engines "
                "and distributed columnar execution at large scale", "en", "s", 100),
        ],
        DOCUMENTS_SCHEMA,
    )
    new = spark.createDataFrame(
        [
            (10, BASE + " extra", "en", "s", len(BASE) + 6),  # near-dup of 0
            (11, "another unrelated document mentioning kafka topics "
                 "postgres upserts and flink keyed state semantics", "en", "s", 100),
        ],
        DOCUMENTS_SCHEMA,
    )
    admitted = incremental_fuzzy_dedup(new, corpus).collect()
    assert {r["doc_id"] for r in admitted} == {11}
    assert set(admitted[0].asDict()) == {
        "doc_id", "text", "lang", "source", "n_chars"
    }

    # precomputed-signature path (the stored-history shape) must
    # admit the identical set
    sigs = minhash_signatures(corpus)
    kept_sig = {
        r["doc_id"]
        for r in incremental_fuzzy_dedup(
            new, corpus, corpus_signatures=sigs
        ).collect()
    }
    assert kept_sig == {11}


def test_incremental_fuzzy_dedup_verify_gate(spark):
    """verify=True admits a band-collision FALSE POSITIVE that exact
    Jaccard clears; verify=False rejects on band evidence alone, so
    the admitted set can only shrink."""
    from flink_ecommerce_spark.operators.dedup import incremental_fuzzy_dedup

    corpus = spark.createDataFrame([(0, BASE, "en", "s", len(BASE))], DOCUMENTS_SCHEMA)
    # shares a prefix (some bands collide at low thresholds) but is
    # mostly different text: verified Jaccard sits well under 0.7
    half_new = (
        "the quick brown fox jumps over the sleeping guard dog and "
        "then runs far away into the deep cold forest before dawn breaks"
    )
    new = spark.createDataFrame(
        [(10, half_new, "en", "s", len(half_new))], DOCUMENTS_SCHEMA
    )
    strict = {
        r["doc_id"]
        for r in incremental_fuzzy_dedup(new, corpus, verify=False).collect()
    }
    verified = {
        r["doc_id"] for r in incremental_fuzzy_dedup(new, corpus).collect()
    }
    assert strict <= verified  # band-only can only be more aggressive


def test_incremental_fuzzy_dedup_threshold_monotone(spark):
    """Admission is monotone in the threshold: lowering it (stricter
    about near-dups) can only shrink the admitted set."""
    from flink_ecommerce_spark.operators.dedup import incremental_fuzzy_dedup

    corpus = spark.createDataFrame(
        [(0, BASE, "en", "s", len(BASE))], DOCUMENTS_SCHEMA
    )
    new = spark.createDataFrame(
        [
            (10, BASE + " extra words appended", "en", "s", 1),
            (11, BASE.replace("fox", "wolf").replace("dog", "cat"), "en", "s", 1),
            (12, "entirely different content on spark and flink engines "
                 "running large distributed queries", "en", "s", 1),
        ],
        DOCUMENTS_SCHEMA,
    )
    kept = {
        t: {
            r["doc_id"]
            for r in incremental_fuzzy_dedup(new, corpus, threshold=t).collect()
        }
        for t in (0.3, 0.7, 0.95)
    }
    assert kept[0.3] <= kept[0.7] <= kept[0.95]
    assert 12 in kept[0.3]  # unrelated content always admitted


def test_documents_deduped_best_keeps_highest_quality_member(spark):
    from flink_ecommerce_spark.operators.dedup import documents_deduped_best
    from flink_ecommerce_spark.operators.text import quality_scores

    # doc 1 is a near-dup of doc 0 but longer/better-formed; the
    # min-id rule would keep 0, the quality rule must keep whichever
    # scores higher — asserted against quality_scores itself.
    richer = BASE + " extra"
    docs = spark.createDataFrame(
        [
            (0, BASE + " !!!!", "en", "s", len(BASE) + 5),
            (1, richer, "en", "s", len(richer)),
            (2, "completely different text about spark query engines "
                "and distributed columnar execution at large scale", "en", "s", 100),
        ],
        DOCUMENTS_SCHEMA,
    )
    q = {r["doc_id"]: r["quality"] for r in quality_scores(docs).collect()}
    kept = {r["doc_id"]: r["cluster_id"] for r in documents_deduped_best(docs).collect()}
    # docs 0 and 1 cluster together; exactly one survives, plus doc 2
    assert len(kept) == 2 and 2 in kept
    winner = (set(kept) - {2}).pop()
    loser = ({0, 1} - {winner}).pop()
    assert q[winner] >= q[loser]
    assert winner == (0 if q[0] > q[1] else 1 if q[1] > q[0] else 0)
