"""Curation operators on crafted rows — the synthetic corpus has no
real PII, so these tests prove the scrub regexes and repetition /
contamination math fire on content engineered to trip them."""

from __future__ import annotations

from flink_ecommerce_spark.operators import text
from flink_ecommerce_spark.schemas import DOCUMENTS_SCHEMA


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "test", len(t)) for i, t in enumerate(rows)],
        DOCUMENTS_SCHEMA,
    )


def test_pii_scrub_redacts_emails_phones_denylist(spark):
    df = _docs(
        spark,
        [
            "contact bob.smith+spam@example.co.uk for details",
            "call +1 (555) 123-4567 now",
            "the customer turned the key twice",
            "clean text with no sensitive content",
        ],
    )
    rows = {r["doc_id"]: r for r in text.pii_scrub(df).collect()}
    assert rows[0]["n_emails"] == 1 and rows[0]["n_phones"] == 0
    assert rows[1]["n_phones"] == 1 and rows[1]["n_emails"] == 0
    assert rows[2]["n_denylisted"] == 2
    assert rows[3]["n_emails"] == rows[3]["n_phones"] == rows[3]["n_denylisted"] == 0
    # scrubbed length reflects replacement, not deletion
    assert rows[0]["scrubbed_len"] == len("contact <EMAIL> for details")
    assert rows[2]["scrubbed_len"] == len(
        "the <REDACTED> turned the <REDACTED> twice"
    )


def test_pii_scrub_hash_differs_only_when_scrubbed(spark):
    df = _docs(spark, ["hello world", "mail me a@b.io today"])
    out = {r["doc_id"]: r for r in text.pii_scrub(df).collect()}
    from flink_ecommerce_spark.functions.portable import hash32
    import pyspark.sql.functions as F

    plain = {
        r["doc_id"]: r["h"]
        for r in df.select("doc_id", hash32(F.col("text")).alias("h")).collect()
    }
    assert out[0]["scrubbed_hash"] == plain[0]  # untouched text, same hash
    assert out[1]["scrubbed_hash"] != plain[1]  # redaction changed the bytes


def test_repetition_scores_flags_degenerate_docs(spark):
    df = _docs(
        spark,
        [
            "spam spam spam spam spam spam",
            "one two three four five six",
        ],
    )
    rows = {r["doc_id"]: r for r in text.repetition_scores(df).collect()}
    degenerate, clean = rows[0], rows[1]
    assert degenerate["dup_word_frac"] == round(5 / 6, 6)  # operator rounds 6dp
    assert degenerate["top_word_share"] == 1.0
    assert degenerate["dup_3gram_frac"] == 0.75  # 4 shingles, 1 kept
    assert clean["dup_word_frac"] == 0.0
    assert clean["top_word_share"] == round(1 / 6, 6)
    assert clean["dup_3gram_frac"] == 0.0


def test_char_entropy_known_values(spark):
    import math

    df = _docs(spark, ["aaaa", "ab", "abcd", "aabb"])
    got = {r["doc_id"]: r for r in text.char_entropy(df).collect()}
    # integer micro-nats: floor(H * 1e6 + 0.5)
    assert got[0]["char_entropy_micro"] == 0  # degenerate: one symbol
    assert got[1]["char_entropy_micro"] == math.floor(math.log(2) * 1e6 + 0.5)
    assert got[2]["char_entropy_micro"] == math.floor(math.log(4) * 1e6 + 0.5)
    assert got[3]["char_entropy_micro"] == math.floor(math.log(2) * 1e6 + 0.5)
    assert got[2]["n_unique_chars"] == 4 and got[2]["n_chars_sampled"] == 4
    # prefix cap bounds the shuffled volume per doc
    long = _docs(spark, ["x" * 5000])
    assert text.char_entropy(long).collect()[0]["n_chars_sampled"] == 2000


def test_decontaminate_scores_overlap(spark):
    # doc 0 (doc_id % 20 == 0) is the eval doc; doc 21 copies half of it,
    # doc 22 shares nothing.
    rows = [
        (0, "alpha beta gamma delta epsilon zeta", "en", "eval", 1),
        (21, "alpha beta gamma delta nine ten", "en", "train", 1),
        (22, "one two three four five six", "en", "train", 1),
    ]
    df = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    out = {r["doc_id"]: r for r in text.decontaminate(df).collect()}
    assert set(out) == {21, 22}  # eval doc itself is excluded
    # doc 21 word-3-grams: 4 total, 2 of them ("alpha beta gamma",
    # "beta gamma delta") occur in the eval doc
    assert out[21]["n_shingles"] == 4
    assert out[21]["n_contaminated"] == 2
    assert out[21]["contamination_frac"] == 0.5
    assert out[22]["n_contaminated"] == 0


def test_resize_thumbnails_binary_and_dims(spark):
    """The binary path of the resize plumbing (the oracle query only
    sees numeric projections): thumbnail bytes are a budget-bounded
    prefix of the payload, dims never upscale and preserve the
    floor-division aspect ratio."""
    from flink_ecommerce_spark.operators.multimodal import (
        attach_fake_payload,
        resize_thumbnails,
    )
    from flink_ecommerce_spark.schemas import DOCUMENTS_SCHEMA

    rows = [
        (0, "x" * 500, "en", "s", 500),  # large image -> downscale
        (1, "", "en", "s", 0),  # empty payload -> 16x16, no downscale
    ]
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    out = {
        r["doc_id"]: r
        for r in resize_thumbnails(attach_fake_payload(docs), max_px=64).collect()
    }
    big = out[0]
    ls = max(big["width"], big["height"])
    assert ls > 64
    assert big["thumb_width"] == big["width"] * 64 // ls
    assert big["thumb_height"] == big["height"] * 64 // ls
    assert max(big["thumb_width"], big["thumb_height"]) <= 64
    budget = big["thumb_width"] * big["thumb_height"] * 3
    assert len(big["thumb_bytes"]) == min(budget, 500)
    assert bytes(big["thumb_bytes"]) == b"x" * len(big["thumb_bytes"])
    small = out[1]
    assert (small["width"], small["height"]) == (16, 16)
    assert (small["thumb_width"], small["thumb_height"]) == (16, 16)
    assert len(small["thumb_bytes"]) == 0  # budget-capped by payload size


def test_budgeted_mixture_greedy_by_quality(spark):
    """Within a source, the quality ranking fills the budget greedily
    and the first doc that overflows it (and everything after) is
    dropped; sources budget independently."""
    from flink_ecommerce_spark.operators.text import budgeted_mixture
    from flink_ecommerce_spark.schemas import DOCUMENTS_SCHEMA

    def doc(i, words, src):
        return (i, " ".join(["the of and to in a is"] * words), "en", src, 1)

    # same text length => same quality; ties break by doc_id
    rows = [doc(0, 2, "s1"), doc(1, 2, "s1"), doc(2, 2, "s1"),
            doc(3, 1, "s2")]
    out = {
        r["doc_id"]: r
        for r in budgeted_mixture(
            _docs_df(spark, rows), token_budget_per_source=30
        ).collect()
    }
    # each s1 doc = 14 tokens; cumsum 14, 28, 42 -> doc 2 overflows
    assert (out[0]["kept"], out[1]["kept"], out[2]["kept"]) == (True, True, False)
    assert out[3]["kept"] is True  # s2 budget independent


def test_budgeted_mixture_bucket_decomposition_exact(spark):
    """The (source, quality-bucket) window decomposition must be
    bit-identical to the naive one-window-per-source greedy cumsum —
    offset + within-bucket prefix == global prefix — on real data
    whose quality values span many buckets."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from flink_ecommerce_spark import catalog
    from flink_ecommerce_spark.operators.text import budgeted_mixture

    from tests.conftest import SF_SMALL

    docs = catalog.table(spark, SF_SMALL, "documents")
    out = budgeted_mixture(docs, token_budget_per_source=5000)
    assert out.select("quality").distinct().count() > 10  # spans buckets
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    naive = out.select("doc_id", "source", "quality", "n_tokens").withColumn(
        "cum_naive", F.sum("n_tokens").over(w)
    )
    diff = (
        out.join(naive.select("doc_id", "cum_naive"), "doc_id")
        .filter(F.col("cum_tokens") != F.col("cum_naive"))
        .count()
    )
    assert diff == 0


def _docs_df(spark, rows):
    from flink_ecommerce_spark.schemas import DOCUMENTS_SCHEMA

    return spark.createDataFrame(rows, DOCUMENTS_SCHEMA)


def test_cross_corpus_surprisal_semantics(spark):
    """OOV-heavy incoming docs score higher than in-distribution ones
    under the history LM; OOV words are counted; add-one smoothing
    keeps every score finite."""
    from flink_ecommerce_spark.operators.text import cross_corpus_surprisal

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    history = spark.createDataFrame(
        [(100 + i, "alpha beta gamma delta epsilon", "en", "s", 30) for i in range(10)],
        schema,
    )
    new = spark.createDataFrame(
        [
            (1, "alpha beta gamma", "en", "s", 16),      # fully in-vocab
            (2, "zeta theta iota", "en", "s", 15),       # fully OOV
            (3, "alpha zeta beta", "en", "s", 15),       # mixed
        ],
        schema,
    )
    got = {
        r["doc_id"]: r for r in cross_corpus_surprisal(new, history).collect()
    }
    assert got[1]["n_oov"] == 0
    assert got[2]["n_oov"] == 3
    assert got[3]["n_oov"] == 1
    assert (
        got[1]["avg_surprisal_micro"]
        < got[3]["avg_surprisal_micro"]
        < got[2]["avg_surprisal_micro"]
    )
    assert all(r["avg_surprisal_micro"] is not None for r in got.values())


def test_term_frequency_merge_equals_rescan(spark):
    """Incremental LM maintenance: folding batch counts into the
    stored table == retraining on the full corpus, and scoring against
    the maintained aggregate == scoring against a history rescan."""
    from flink_ecommerce_spark import catalog
    from flink_ecommerce_spark.operators.text import (
        cross_corpus_surprisal,
        term_frequencies,
    )
    from pyspark.sql import functions as F
    from tests.conftest import SF_SMALL

    docs = catalog.table(spark, SF_SMALL, "documents")
    part1 = docs.filter(F.col("doc_id") % 3 != 0)
    part2 = docs.filter(F.col("doc_id") % 3 == 0)

    maintained = (
        term_frequencies(part1)
        .unionByName(term_frequencies(part2))
        .groupBy("term")
        .agg(F.sum("cnt").alias("cnt"))
    )
    rescan = term_frequencies(docs)
    assert sorted(map(tuple, maintained.collect())) == sorted(
        map(tuple, rescan.collect())
    )

    new = docs.filter(F.col("doc_id") % 5 == 0)
    hist = docs.filter(F.col("doc_id") % 5 != 0)
    via_tf = cross_corpus_surprisal(
        new, history_tf=term_frequencies(hist)
    ).collect()
    via_docs = cross_corpus_surprisal(new, hist).collect()
    assert sorted(map(tuple, via_tf)) == sorted(map(tuple, via_docs))


def test_sentence_chunks_boundaries_and_grouping(spark):
    df = _docs(
        spark,
        ["One. Two! Three? Four. Five.", "No terminal punctuation here"],
    )
    got = {
        (r["doc_id"], r["chunk_id"]): r
        for r in text.sentence_chunks(df).collect()
    }
    # chunks never split mid-sentence; punctuation stays attached
    assert got[(0, 0)]["chunk_text"] == "One. Two! Three?"
    assert got[(0, 0)]["n_sentences"] == 3
    assert got[(0, 1)]["chunk_text"] == "Four. Five."
    assert got[(0, 1)]["n_sentences"] == 2
    # a doc without terminal punctuation is one whole sentence
    assert got[(1, 0)]["chunk_text"] == "No terminal punctuation here"
    assert len(got) == 3


def test_int_div_matches_python_floordiv_all_signs(spark):
    """int_div's exact-multiple construction must equal Python's //
    (true floor division) for every sign combination, including the
    values a truncating DIV would get wrong."""
    from pyspark.sql import functions as F

    from flink_ecommerce_spark.functions.portable import int_div

    cases = [(-7, 3), (7, 3), (-6, 3), (6, 3), (-1, 4), (1, 4),
             (0, 5), (-100000007, 97), (100000007, 97)]
    df = spark.createDataFrame(cases, "a long, b long")
    got = df.select("a", "b", int_div(F.col("a"), F.col("b")).alias("q")).collect()
    for r in got:
        assert r["q"] == r["a"] // r["b"], (r["a"], r["b"], r["q"])


def test_int_div_null_on_zero_divisor(spark):
    from pyspark.sql import functions as F

    from flink_ecommerce_spark.functions.portable import int_div

    df = spark.createDataFrame([(5, 0)], "a long, b long")
    [r] = df.select(int_div(F.col("a"), F.col("b")).alias("q")).collect()
    assert r["q"] is None


def test_eval_shingle_broadcast_gate_branches(spark, monkeypatch):
    """r10 (VERDICT r09 #7): the eval-shingle membership join is
    broadcast ONLY under the size gate. Default (local fixture sizes)
    keeps the legacy broadcast hint — plan shows a BroadcastHashJoin
    for the shingle join; with the limit forced to 0 the hint is
    dropped and the join plans as a shuffle join. Values identical in
    both branches."""
    from flink_ecommerce_spark import catalog
    from flink_ecommerce_spark.operators.text import decontaminate

    docs = catalog.table(spark, "/root/testdata/sf0.001", "documents")

    bcast_df = decontaminate(docs)
    assert "ResolvedHint" in str(
        bcast_df._jdf.queryExecution().analyzed()
    )
    assert (
        "BroadcastHashJoin"
        in bcast_df._jdf.queryExecution().executedPlan().toString()
    )
    rows_b = sorted(tuple(r) for r in bcast_df.collect())

    monkeypatch.setattr(text, "EVAL_BCAST_MAX_BYTES", 0)
    shuf_df = decontaminate(docs)
    # the explicit hint is gone — the planner is free to choose
    assert "ResolvedHint" not in str(
        shuf_df._jdf.queryExecution().analyzed()
    )
    # and with auto-broadcast off the membership join actually
    # falls back to a shuffle join (at 100 TB the real sizes
    # force this branch; AQE may still broadcast when runtime
    # sizes allow, which is the desired adaptive behavior)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        forced = decontaminate(docs)
        plan = forced._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        rows_s = sorted(tuple(r) for r in forced.collect())
    finally:
        # the session's value, not Spark's default, for later tests
        spark.conf.set(key, prev)
    assert rows_b == rows_s
