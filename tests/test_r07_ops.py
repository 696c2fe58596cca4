"""Round-7 operators: the t-closeness release gate, the repeat-capped
epoch allocator, the sampled LSH recall meter, and the r02 block's
integer-contract migrations."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_ecommerce_spark.operators.sampling import (
    EPOCH_BUDGET_MULT,
    EPOCH_CAP_HI,
    EPOCH_CAP_LO,
    epoch_mixture,
)
from flink_ecommerce_spark.operators.text import (
    TCLOSE_T_MICRO,
    t_closeness_report,
)
from flink_ecommerce_spark.schemas import DOCUMENTS_SCHEMA

from tests.conftest import SF_SMALL


def _docs(spark, rows):
    """rows: (text, lang, source) triples."""
    return spark.createDataFrame(
        [(i, t, lang, s, len(t)) for i, (t, lang, s) in enumerate(rows)],
        DOCUMENTS_SCHEMA,
    )


# --------------------------------------------------------------- t-closeness


def test_t_closeness_exact_tv(spark):
    """A class matching the global distribution has TV 0; a fully
    skewed class has TV = 1 - p_global(its lang)."""
    # global: 4 en, 4 fr  -> p_g = (0.5, 0.5)
    # src "bal": 2 en 2 fr -> TV 0.  src "skew": 2 en 0 fr ->
    # TV = 0.5*(|1-0.5| + |0-0.5|) = 0.5
    rows = (
        [("t", "en", "bal")] * 2
        + [("t", "fr", "bal")] * 2
        + [("t", "en", "skew")] * 2
        + [("t", "fr", "other")] * 2
    )
    got = {r["source"]: r for r in t_closeness_report(_docs(spark, rows)).collect()}
    assert got["bal"]["tv_micro"] == 0 and got["bal"]["meets_t"]
    assert got["skew"]["tv_micro"] == 500_000 and not got["skew"]["meets_t"]
    # grid completion: "skew" has 1 lang present, the absent fr cell
    # still contributes |0 - 0.5|
    assert got["skew"]["n_langs_present"] == 1
    assert got["bal"]["n_langs_present"] == 2
    assert got["bal"]["n_rows"] == 4


def test_t_closeness_gate_threshold(spark):
    """meets_t is exactly tv_micro <= TCLOSE_T_MICRO."""
    rows = [("t", "en", "a")] * 9 + [("t", "fr", "a")] + [("t", "fr", "b")]
    out = t_closeness_report(_docs(spark, rows)).collect()
    for r in out:
        assert r["meets_t"] == (r["tv_micro"] <= TCLOSE_T_MICRO)


def test_t_closeness_fixture_discriminates(spark):
    """On the fixture corpus the gate must not be vacuous: both
    passing and failing sources exist at sf0.001."""
    docs = __import__(
        "flink_ecommerce_spark.catalog", fromlist=["table"]
    ).table(spark, SF_SMALL, "documents")
    rows = t_closeness_report(docs).collect()
    assert len(rows) >= 2
    assert all(r["tv_micro"] >= 0 for r in rows)


# -------------------------------------------------------------- epoch_mixture


def test_epoch_mixture_budget_and_caps(spark):
    docs = _docs(
        spark,
        # two sources with very different sizes; quality identical
        # per doc so the tier split falls back to the source name
        # tie-break (deterministic)
        [("alpha beta gamma delta", "en", "big")] * 8
        + [("alpha beta gamma delta", "en", "small")] * 2,
    )
    out = {r["source"]: r for r in epoch_mixture(docs).collect()}
    total = sum(r["n_tokens"] for r in out.values())
    budget = int(total * EPOCH_BUDGET_MULT)
    allocated = sum(r["allocated_tokens"] for r in out.values())
    # never exceeds the budget; fills it up to per-source floor slack
    assert allocated <= budget
    assert budget - allocated <= len(out) * 2
    for r in out.values():
        assert r["cap_epochs"] in (EPOCH_CAP_HI, EPOCH_CAP_LO)
        assert r["epochs_micro"] <= r["cap_epochs"] * 1_000_000
        if r["saturated"]:
            assert r["epochs_micro"] == r["cap_epochs"] * 1_000_000
            assert r["allocated_tokens"] == r["n_tokens"] * r["cap_epochs"]
        else:
            assert (
                r["allocated_tokens"]
                == r["n_tokens"] * r["epochs_micro"] // 1_000_000
            )


def test_epoch_mixture_quality_tier(spark):
    """The high-quality source lands in the hi-cap tier: stopword-rich
    prose scores higher on the logistic than punctuation soup."""
    good = "the of and to a in that it is was for on are as with " * 3
    bad = "@@@@ #### !!!! %%%% ^^^^ &&&& **** (((( )))) ____ " * 3
    docs = _docs(
        spark,
        [(good, "en", "curated")] * 3 + [(bad, "en", "scrape")] * 3,
    )
    out = {r["source"]: r for r in epoch_mixture(docs).collect()}
    assert out["curated"]["mean_quality_micro"] > out["scrape"]["mean_quality_micro"]
    assert out["curated"]["cap_epochs"] == EPOCH_CAP_HI
    assert out["scrape"]["cap_epochs"] == EPOCH_CAP_LO


def test_epoch_mixture_all_saturated_when_budget_huge(spark):
    docs = _docs(
        spark,
        [("alpha beta gamma", "en", "a")] * 2
        + [("delta epsilon zeta", "en", "b")] * 2,
    )
    out = epoch_mixture(docs, budget_mult=100.0).collect()
    assert all(r["saturated"] for r in out)
    for r in out:
        assert r["allocated_tokens"] == r["n_tokens"] * r["cap_epochs"]


# --------------------------------------------------------- sampled recall


def test_lsh_recall_sampled_equals_report_on_sample(spark):
    """Within-sample invariance: candidacy is pairwise, so running the
    LOSSLESS meter on the sampled sub-corpus must reproduce the
    sampled meter's counts exactly."""
    from flink_ecommerce_spark import catalog
    from flink_ecommerce_spark.functions.portable import hash32
    from flink_ecommerce_spark.operators.dedup import (
        lsh_recall_report,
        lsh_recall_sampled,
    )

    docs = catalog.table(spark, SF_SMALL, "documents")
    mod = 2
    sampled = docs.filter(
        hash32(F.col("doc_id").cast("string"), salt="rs") % mod == 0
    )
    got = lsh_recall_sampled(docs, sample_mod=mod).collect()[0]
    ref = lsh_recall_report(sampled).collect()[0]
    assert got["n_docs_sampled"] == sampled.count()
    assert got["n_true_sample"] == ref["n_true"]
    assert got["n_lsh_sample"] == ref["n_lsh"]
    assert got["n_hit_sample"] == ref["n_hit"]


# -------------------------------------------- r02 integer-contract migrations


def test_quality_scores_int_matches_legacy_ranking(spark):
    """The integer contract is the legacy contract at micro
    granularity: quality_micro and the legacy rounded double agree to
    1e-6 on every doc."""
    from flink_ecommerce_spark import catalog
    from flink_ecommerce_spark.operators.text import (
        quality_scores,
        quality_scores_int,
    )

    docs = catalog.table(spark, SF_SMALL, "documents")
    legacy = {r["doc_id"]: r["quality"] for r in quality_scores(docs).collect()}
    for r in quality_scores_int(docs).collect():
        assert abs(r["quality_micro"] - round(legacy[r["doc_id"]] * 1e6)) <= 1


def test_curated_corpus_int_same_survivors(spark):
    """micro-threshold filters select the identical raw range as the
    legacy ROUND filters, so the surviving (doc, source) set and the
    per-source ranking are unchanged."""
    from flink_ecommerce_spark import catalog
    from flink_ecommerce_spark.operators.text import (
        curated_corpus,
        curated_corpus_int,
    )

    docs = catalog.table(spark, SF_SMALL, "documents")
    legacy = {(r["doc_id"], r["rk"]) for r in curated_corpus(docs).collect()}
    new = {(r["doc_id"], r["rk"]) for r in curated_corpus_int(docs).collect()}
    assert legacy == new


# ------------------------------------------------- fuzzy decontamination


def _docs_ids(spark, rows):
    """rows: (doc_id, text, source) — explicit ids to control the
    eval slice (doc_id % 20 == 0)."""
    return spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in rows], DOCUMENTS_SCHEMA
    )


def test_fuzzy_decontaminate_flags_near_dup_of_eval(spark):
    from flink_ecommerce_spark.operators.dedup import fuzzy_decontaminate

    eval_text = (
        "the quick brown fox jumps over the lazy dog near the quiet river "
        "bank on a sunny spring afternoon while birds sing softly overhead"
    )
    near = eval_text.replace("sunny", "bright")  # light paraphrase
    far = "completely different content about database query planning"
    docs = _docs_ids(
        spark,
        [(0, eval_text, "a"), (1, near, "a"), (2, far, "b")],
    )
    got = {r["doc_id"]: r for r in fuzzy_decontaminate(docs).collect()}
    assert 1 in got and got[1]["eval_doc_id"] == 0
    assert got[1]["jaccard_micro"] >= 700_000
    assert 2 not in got


def test_fuzzy_decontaminate_exact_copy_scores_full(spark):
    from flink_ecommerce_spark.operators.dedup import fuzzy_decontaminate

    t = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = _docs_ids(spark, [(0, t, "a"), (3, t, "a")])
    got = fuzzy_decontaminate(docs).collect()
    assert len(got) == 1
    assert got[0]["doc_id"] == 3 and got[0]["jaccard_micro"] == 1_000_000


# -------------------------------------------------------- perceptual aHash


def test_media_ahash_exact_dup_hamming_zero(spark):
    from flink_ecommerce_spark.operators.multimodal import media_ahash

    t = "some reasonably long media payload stand-in text " * 8
    docs = _docs_ids(spark, [(1, t, "a"), (2, t, "b")])
    rows = {r["doc_id"]: r for r in media_ahash(docs).collect()}
    assert rows[1]["ahash_hi"] == rows[2]["ahash_hi"]
    assert rows[1]["ahash_lo"] == rows[2]["ahash_lo"]
    # halves stay in non-negative 32-bit range (portability invariant)
    for r in rows.values():
        assert 0 <= r["ahash_hi"] < 2**32 and 0 <= r["ahash_lo"] < 2**32


def test_media_ahash_locality_and_pairs(spark):
    """A small local edit perturbs few mean cells -> small hamming;
    the band join surfaces the pair; unrelated payloads stay apart."""
    from flink_ecommerce_spark.operators.multimodal import (
        AHASH_HAMMING_MAX,
        media_ahash_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog " * 10
    edited = base.replace("lazy", "hazy", 1)  # one-char local change
    other = "zzzz!!!! @@@@ ???? #### %%%% ^^^^ &&&& ****" * 10
    docs = _docs_ids(spark, [(1, base, "a"), (2, edited, "a"), (3, other, "b")])
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in media_ahash_pairs(docs).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= AHASH_HAMMING_MAX
    assert (1, 3) not in pairs and (2, 3) not in pairs


# --------------------------------------------------- code-switch detection


def test_code_switch_report_mixed_doc(spark):
    from flink_ecommerce_spark.operators.text import code_switch_report

    mixed = (
        "the cat is of the house and a dog. "  # en
        "the sun is a star of the sky. "       # en
        "el perro es de la casa y el gato."    # es
    )
    pure = "the cat is of the house and a dog. the sun is a star."
    unk = "zzz qqq. xxx yyy."
    docs = _docs_ids(spark, [(1, mixed, "a"), (2, pure, "a"), (3, unk, "b")])
    got = {r["doc_id"]: r for r in code_switch_report(docs).collect()}
    assert got[1]["n_sentences"] == 3 and got[1]["majority_lang"] == "en"
    # 1 of 3 classified sentences off-majority -> 1/3 in micro
    assert got[1]["switch_frac_micro"] == 333_333
    assert got[2]["majority_lang"] == "en"
    assert got[2]["switch_frac_micro"] == 0
    assert got[3]["majority_lang"] == "und"
    assert got[3]["n_und"] == 2
    assert got[3]["switch_frac_micro"] is None


# ------------------------------------------------ containment sketch


def test_containment_sketch_finds_planted_superset(spark):
    """A doc fully contained in a bigger one estimates containment 1.0
    in the directed (contained -> container) orientation."""
    from flink_ecommerce_spark.operators.dedup import containment_sketch_pairs

    small = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    big = small + " plus quite a lot of extra tail content words here " * 4
    filler = [
        (10 + i, f"unrelated filler document number {i} with words {i*7} "
                 f"and more distinct tokens {i*13} {i*17} {i*19}", "f")
        for i in range(8)
    ]
    docs = _docs_ids(spark, [(1, small, "a"), (2, big, "a")] + filler)
    got = {
        (r["doc_a"], r["doc_b"]): r
        for r in containment_sketch_pairs(docs).collect()
    }
    assert (1, 2) in got
    r = got[(1, 2)]
    assert r["containment_est_micro"] == 1_000_000
    assert r["n_hits"] == r["k_eff"]
    # the container is NOT contained in the small doc
    assert (2, 1) not in got


def test_containment_sketch_agrees_with_exact_on_fixture(spark):
    """Every sketch hit corresponds to genuinely high exact
    containment: with k=16 and gate 0.8, a pair whose true directed
    containment is below 0.5 passing the gate would need a >5-sigma
    sampling fluke — assert none appear."""
    from flink_ecommerce_spark import catalog
    from flink_ecommerce_spark.operators.dedup import (
        _doc_shingles,
        containment_sketch_pairs,
    )

    docs = catalog.table(spark, SF_SMALL, "documents")
    hits = containment_sketch_pairs(docs).collect()
    assert hits, "fixture should surface at least one containment pair"
    sh = {
        (r["doc_id"], r["shingle"]) for r in _doc_shingles(docs).collect()
    }
    by_doc: dict[int, set] = {}
    for d, s in sh:
        by_doc.setdefault(d, set()).add(s)
    for r in hits:
        a, b = by_doc[r["doc_a"]], by_doc[r["doc_b"]]
        exact = len(a & b) / len(a)
        assert exact >= 0.5, (r, exact)
