"""Text-analysis operators over the `documents` table: token
counting, language ID, quality scoring, fingerprinting.

All pure per-row expression pipelines (regexp + array higher-order
functions) — zero shuffles except the trivial final projection, so
they stream at scan speed over 100 TB. Every operator is
deterministic and has an exact DuckDB oracle in registry.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.portable import hash32, micro
from .textprep import char_shingles, words

# Tiny deterministic stopword profiles per language. Parity with the
# oracle matters more than linguistic realism on synthetic data.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "y", "es"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "de", "et", "est"),
}
EN_STOPWORDS = ("the", "a", "of", "and", "is", "to", "in")


def _n_tokens(text: Column) -> Column:
    return F.size(F.expr("regexp_extract_all(text, '\\\\S+', 0)"))


def token_counts(documents: DataFrame) -> DataFrame:
    """Whitespace token count plus a BPE-ish subword proxy: word
    pieces after splitting on vowel/consonant boundaries — a cheap,
    deterministic stand-in for real tokenizer counts."""
    bpe = F.size(
        F.expr(
            "regexp_extract_all(lower(text), '[aeiou]+|[^aeiou\\\\s]+', 0)"
        )
    )
    return documents.select(
        "doc_id",
        _n_tokens(F.col("text")).alias("n_tokens"),
        bpe.alias("n_subword_pieces"),
        F.length("text").alias("n_chars_measured"),
    )


def lang_id(documents: DataFrame) -> DataFrame:
    """Stopword-profile language ID: count hits of each language's
    marker words among the tokens; argmax with a fixed priority order
    (en > es > de > fr > und) for determinism."""
    ws = words("text")

    def score(markers: tuple[str, ...]):
        # single-arg lambda only: F.filter passes (element, index) to
        # two-arg lambdas, which would corrupt the closure
        return F.size(F.filter(ws, lambda w: w.isin(*markers)))

    scores = {lang: score(markers) for lang, markers in LANG_PROFILES.items()}
    best = F.greatest(*scores.values())
    pred = F.when(best == 0, F.lit("und"))
    for lang in LANG_PROFILES:  # fixed dict order = fixed priority
        pred = pred.when(scores[lang] == best, F.lit(lang))
    out = documents.select(
        "doc_id",
        *[scores[lang].alias(f"score_{lang}") for lang in LANG_PROFILES],
        pred.alias("predicted_lang"),
        "lang",
    )
    return out.withColumn(
        "agrees_with_label", (F.col("predicted_lang") == F.col("lang")).cast("int")
    )


def code_switch_report(documents: DataFrame) -> DataFrame:
    """(doc_id, n_sentences, n_und, majority_lang, switch_frac_micro)
    — per-document language-mixture detection: language-ID each
    SENTENCE (same stopword profiles and argmax priority as
    ``lang_id``, same portable sentence boundary as
    ``sentence_chunks``), then report how much of the document
    disagrees with its majority language. Mixed-language documents
    (code-switching, untranslated boilerplate, scraped chrome in
    another language) hurt monolingual training targets and slip past
    DOCUMENT-level lang-id, which this catches: switch_frac = the
    fraction of classified (non-'und') sentences outside the majority
    language, shipped as micro per the encoding rule (NULL when no
    sentence classified). Majority tie-break: (count DESC, lang ASC)
    — a total order.

    Scale: the posexplode is bounded by each doc's own sentence
    count; per-sentence scoring is pure array expressions; the two
    aggregations key on (doc, pred) then doc with map-side combine —
    per-doc state is bounded by the language-profile domain, not the
    document."""
    from ..functions.portable import micro

    sents = (
        documents.select(
            "doc_id",
            F.explode(
                F.expr(r"regexp_extract_all(text, '[^.!?]+[.!?]?', 0)")
            ).alias("sent"),
        )
        .withColumn("sent", F.trim("sent"))
        .filter(F.length("sent") > 0)
    )
    ws = words(F.col("sent"))

    def score(markers: tuple[str, ...]):
        # single-arg lambda only (F.filter treats two-arg lambdas as
        # (element, index) — the conftest gotcha lang_id documents)
        return F.size(F.filter(ws, lambda w: w.isin(*markers)))

    scores = {lang: score(m) for lang, m in LANG_PROFILES.items()}
    best = F.greatest(*scores.values())
    pred = F.when(best == 0, F.lit("und"))
    for lang in LANG_PROFILES:  # fixed dict order = fixed priority
        pred = pred.when(scores[lang] == best, F.lit(lang))
    counts = (
        sents.select("doc_id", pred.alias("pred"))
        .groupBy("doc_id", "pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = counts.groupBy("doc_id").agg(
        F.sum("n").alias("n_sentences"),
        F.sum(F.when(F.col("pred") == "und", F.col("n")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_und"),
    )
    from pyspark.sql import Window

    rk = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.desc("n"), F.asc("pred"))
    )
    maj = (
        counts.filter(F.col("pred") != "und")
        .withColumn("__rk", rk)
        .filter(F.col("__rk") == 1)
        .select(
            "doc_id",
            F.col("pred").alias("majority_lang"),
            F.col("n").alias("__maj_n"),
        )
    )
    n_cls = F.col("n_sentences") - F.col("n_und")
    return tot.join(maj, "doc_id", "left_outer").select(
        "doc_id",
        "n_sentences",
        "n_und",
        F.coalesce(F.col("majority_lang"), F.lit("und")).alias(
            "majority_lang"
        ),
        F.when(
            n_cls > 0,
            micro(
                (n_cls - F.col("__maj_n")).cast("double") / n_cls.cast("double")
            ),
        ).alias("switch_frac_micro"),
    )


def _quality_raw_column() -> Column:
    """The UNROUNDED logistic quality score as a per-row Column —
    the shared arithmetic core; legacy (rounded-double) and integer
    (micro) contracts both wrap this so the expression tree of the
    legacy plan is unchanged by the refactor."""
    n_tok = _n_tokens(F.col("text")).cast("double")
    n_punct = F.size(F.expr("regexp_extract_all(text, '[^a-zA-Z0-9\\\\s]', 0)")).cast(
        "double"
    )
    sw_list = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    n_stop = F.size(
        F.expr(
            f"filter(split(lower(trim(text)), '\\\\s+'), w -> w IN ({sw_list}))"
        )
    ).cast("double")
    n_chars = F.length("text").cast("double")
    mean_tok_len = (n_chars - (n_tok - 1)) / n_tok  # chars net of single spaces
    punct_ratio = n_punct / n_chars
    stop_ratio = n_stop / n_tok
    z = (
        F.lit(-2.0)
        + 0.02 * n_tok
        + 4.0 * stop_ratio
        - 8.0 * punct_ratio
        - 0.1 * F.abs(mean_tok_len - 5.0)
    )
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def sql_quality_raw(
    n_tok: str = "n_tok",
    n_punct: str = "n_punct",
    n_stop: str = "n_stop",
    n_chars: str = "n_chars",
) -> str:
    """DuckDB SQL twin of ``_quality_raw_column()`` — the ONE place
    the quality logistic's coefficients live on the SQL side (r08
    ADVICE: a coefficient edit must not be a many-place change).
    Callers pass the column/expression names of the four raw counts.
    Composed by the curation_scores oracle; the remaining inline
    copies in certified out-of-window oracle strings (grep
    ``0.02 * n_tok`` in registry.py) are byte-frozen with their green
    rows and fold onto this fragment as their rotations bring them
    into a verify window."""
    return (
        f"1.0 / (1.0 + exp(-(-2.0 + 0.02 * {n_tok}"
        f" + 4.0 * ({n_stop} / {n_tok})"
        f" - 8.0 * ({n_punct} / {n_chars})"
        f" - 0.1 * abs(({n_chars} - ({n_tok} - 1)) / {n_tok} - 5.0))))"
    )


def _quality_column() -> Column:
    """The logistic quality score as a single per-row Column, shared
    by quality_scores and curated_corpus (one projection, one scan).
    Legacy rounded-double contract — still referenced by certified
    out-of-window queries (curation_scores, quality_psi_by_source,
    quality-aware dedup); new contracts use micro(_quality_raw_column())."""
    return F.round(_quality_raw_column(), 6)


def _dup_3gram_raw_column() -> Column:
    """Unrounded duplicate word-3-gram fraction (shared arithmetic
    core for the legacy and integer contracts)."""
    from .textprep import word_shingles

    sh = word_shingles(F.col("text"))
    n_sh = F.size(sh)
    return F.when(
        n_sh > 0,
        1.0 - F.size(F.array_distinct(sh)).cast("double") / n_sh.cast("double"),
    ).otherwise(F.lit(0.0))


def _dup_3gram_column() -> Column:
    """Duplicate word-3-gram fraction as a per-row Column (shared by
    repetition_scores and curated_corpus). Legacy rounded-double
    contract."""
    return F.round(_dup_3gram_raw_column(), 6)


def quality_scores(documents: DataFrame) -> DataFrame:
    """Heuristic document quality: token count, mean token length,
    punctuation ratio, stopword ratio, folded through a logistic into
    [0, 1]. Deterministic arithmetic only."""
    n_tok = _n_tokens(F.col("text")).cast("double")
    n_punct = F.size(F.expr("regexp_extract_all(text, '[^a-zA-Z0-9\\\\s]', 0)")).cast(
        "double"
    )
    sw_list = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    n_stop = F.size(
        F.expr(
            f"filter(split(lower(trim(text)), '\\\\s+'), w -> w IN ({sw_list}))"
        )
    ).cast("double")
    n_chars = F.length("text").cast("double")
    mean_tok_len = (n_chars - (n_tok - 1)) / n_tok  # chars net of single spaces
    punct_ratio = n_punct / n_chars
    stop_ratio = n_stop / n_tok
    return documents.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.round(mean_tok_len, 6).alias("mean_token_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        _quality_column().alias("quality"),
    )


def quality_scores_int(documents: DataFrame) -> DataFrame:
    """``quality_scores`` under the integer output contract
    (COVERAGE.md "Oracle encoding rule", r07 migration of the r02
    block): every fractional column ships as ``*_micro`` =
    floor(x·1e6 + 0.5) BIGINT instead of ROUND(double, 6), because
    ROUND's half-way tie behavior drifts across oracle-engine
    releases while floor(x+0.5) on IEEE doubles is bit-identical
    everywhere. The legacy rounded-double ``quality_scores`` stays
    for internal consumers whose certified plans embed it."""
    from ..functions.portable import micro

    n_tok = _n_tokens(F.col("text")).cast("double")
    n_punct = F.size(F.expr("regexp_extract_all(text, '[^a-zA-Z0-9\\\\s]', 0)")).cast(
        "double"
    )
    sw_list = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    n_stop = F.size(
        F.expr(
            f"filter(split(lower(trim(text)), '\\\\s+'), w -> w IN ({sw_list}))"
        )
    ).cast("double")
    n_chars = F.length("text").cast("double")
    mean_tok_len = (n_chars - (n_tok - 1)) / n_tok  # chars net of single spaces
    return documents.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        micro(mean_tok_len).alias("mean_token_len_micro"),
        micro(n_punct / n_chars).alias("punct_ratio_micro"),
        micro(n_stop / n_tok).alias("stopword_ratio_micro"),
        micro(_quality_raw_column()).alias("quality_micro"),
    )


def top_bigrams(documents: DataFrame, k: int = 20) -> DataFrame:
    """Global top-k word bigrams by frequency (corpus n-gram stats —
    a standard training-data diagnostic). Explode → count → top-k
    with deterministic tie-break on the bigram string. The count is
    a partial-agg shuffle on the bigram; top-k is
    TakeOrderedAndProject (no global sort)."""
    from .textprep import word_shingles

    bigrams = documents.select(
        F.explode(word_shingles("text", w=2)).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(k)
    )


def tfidf_top_terms(documents: DataFrame, k: int = 3) -> DataFrame:
    """Top-k terms per document by tf-idf (ln-scaled idf, raw tf).

    Classic IR pipeline as three hash-partitioned aggregations:
    term counts per doc (tf), document frequency per term (df), and
    a broadcast-joined score. Deterministic tie-break on the term
    string. idf = ln(N / df) with N = corpus size."""
    from pyspark.sql import Window

    toks = documents.select(
        "doc_id", F.explode(words("text")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = documents.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("doc_id", "term", "tf", "tfidf", F.col("rk").alias("rk"))
    )


def tfidf_top_terms_int(documents: DataFrame, k: int = 3) -> DataFrame:
    """``tfidf_top_terms`` under the integer output contract: the
    score ships as ``tfidf_micro`` = floor(tfidf·1e6 + 0.5) BIGINT
    and the per-doc rank orders on that integer (same 1e-6
    granularity as the legacy ROUND ordering, so ties and rank are
    engine-stable by construction). Same plan shape: two
    hash-partitioned aggregations + broadcast joins + per-doc
    row_number."""
    from pyspark.sql import Window

    from ..functions.portable import micro

    toks = documents.select(
        "doc_id", F.explode(words("text")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = documents.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf_micro",
            micro(F.col("tf") * F.log(F.col("n_docs") / F.col("df"))),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf_micro"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("doc_id", "term", "tf", "tfidf_micro", F.col("rk").alias("rk"))
    )


def doc_fingerprints(documents: DataFrame) -> DataFrame:
    """Two fingerprints per document: full-content hash of the
    whitespace-normalized text, and a winnowing-style minimum over
    8-char rolling shingle hashes (robust to local edits)."""
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    winnow = F.array_min(
        F.transform(char_shingles("text", 8), lambda s: hash32(s, salt="fp"))
    )
    return documents.select(
        "doc_id",
        hash32(norm, salt="doc").alias("content_fp"),
        winnow.alias("winnow_fp"),
    )


# ---------------------------------------------------------------------------
# Corpus-curation operators: repetition scoring, eval-set decontamination,
# PII / denylist scrubbing. The first and third are pure per-row expression
# pipelines (scan-speed at 100 TB); decontamination is explode → broadcast
# membership join → one re-group on doc_id.
# ---------------------------------------------------------------------------


def repetition_scores(documents: DataFrame) -> DataFrame:
    """Gopher-style repetition signals: duplicate-word fraction, the
    share of the single most frequent word, and duplicate word-3-gram
    fraction. High values flag boilerplate / degenerate generations.

    Scale: per-row array expressions only — no shuffle. The
    most-frequent-word count is computed as the longest run in the
    SORTED word array (one array_sort + one linear aggregate pass), so
    the per-row cost is O(w log w) instead of the round-1
    O(distinct × words) scan that went quadratic on degenerate docs."""
    ws = words(F.col("text"))
    n_words = F.size(ws)
    n_distinct = F.size(F.array_distinct(ws))
    top_count = _top_run_count(ws)
    return documents.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(
            1.0 - n_distinct.cast("double") / n_words.cast("double"), 6
        ).alias("dup_word_frac"),
        F.round(top_count.cast("double") / n_words.cast("double"), 6).alias(
            "top_word_share"
        ),
        _dup_3gram_column().alias("dup_3gram_frac"),
    )


def _top_run_count(ws: Column) -> Column:
    """Max term frequency = longest run of equal adjacent words in
    sorted order (one array_sort + one linear aggregate pass, O(w log
    w) per row); accumulator carries (previous word, current run,
    best). Shared by the legacy and integer repetition contracts."""
    return F.aggregate(
        F.array_sort(ws),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, w: F.struct(
            w.alias("prev"),
            F.when(acc["prev"].eqNullSafe(w), acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(acc["prev"].eqNullSafe(w), acc["run"] + 1).otherwise(
                    F.lit(1)
                ),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )


def repetition_scores_int(documents: DataFrame) -> DataFrame:
    """``repetition_scores`` under the integer output contract:
    fractions ship as ``*_micro`` = floor(x·1e6 + 0.5) BIGINTs
    (COVERAGE.md "Oracle encoding rule"). Same per-row-expression,
    zero-shuffle plan as the legacy contract."""
    from ..functions.portable import micro

    ws = words(F.col("text"))
    n_words = F.size(ws)
    n_distinct = F.size(F.array_distinct(ws))
    top_count = _top_run_count(ws)
    return documents.select(
        "doc_id",
        n_words.alias("n_words"),
        micro(1.0 - n_distinct.cast("double") / n_words.cast("double")).alias(
            "dup_word_frac_micro"
        ),
        micro(top_count.cast("double") / n_words.cast("double")).alias(
            "top_word_share_micro"
        ),
        micro(_dup_3gram_raw_column()).alias("dup_3gram_frac_micro"),
    )


def char_entropy(documents: DataFrame, max_chars: int = 2000) -> DataFrame:
    """Shannon entropy (nats) of the character distribution over the
    first ``max_chars`` characters of each document, plus the sampled
    length and distinct-character count. Low entropy flags repetitive
    / low-information text (padding, keyboard mashing, base64-free
    boilerplate) — the character-level complement of the word-level
    ``repetition_scores``; pipelines that gate on compression ratio
    use this as the deterministic, engine-portable stand-in.

    Scale: the explode is capped at ``max_chars`` per document (the
    entropy estimate saturates long before 2k chars), so shuffled
    volume is bounded per doc regardless of document length; both
    aggregations key on doc_id with map-side combine. H is computed
    as ln(N) − Σ n·ln(n) / N from a single aggregate pass over the
    (doc, char) frequencies.

    Output contract: entropy ships as INTEGER micro-nats
    (``char_entropy_micro`` = floor(H·1e6 + 0.5)) rather than a
    rounded double. ROUND(double, 6) emits a double whose tie
    behavior has drifted across oracle-engine releases; floor(x+0.5)
    is pure IEEE arithmetic every engine evaluates identically, and
    an integer column hashes identically everywhere (VERDICT r05
    item 1/2 — the version-robust encoding rule, COVERAGE.md
    "Oracle encoding rule")."""
    chars = documents.filter(F.length("text") > 0).select(
        "doc_id",
        F.explode(F.split(F.substring("text", 1, max_chars), "")).alias("c"),
    )
    freq = chars.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("n"))
    n = F.col("n").cast("double")
    h = F.log(F.sum(n)) - F.sum(n * F.log(n)) / F.sum(n)
    return freq.groupBy("doc_id").agg(
        F.sum("n").alias("n_chars_sampled"),
        F.count(F.lit(1)).alias("n_unique_chars"),
        F.floor(h * F.lit(1_000_000.0) + F.lit(0.5))
        .cast("long")
        .alias("char_entropy_micro"),
    )


SENTS_PER_CHUNK = 3


def sentence_chunks(
    documents: DataFrame, sents_per_chunk: int = SENTS_PER_CHUNK
) -> DataFrame:
    """Sentence-boundary RAG chunks: split each document into
    sentences (portable `[^.!?]+[.!?]?` extraction — RE2 has no
    lookbehind, so the boundary pattern keeps its punctuation inside
    the sentence) and group consecutive sentences ``sents_per_chunk``
    at a time. The semantic-boundary companion to the token-window
    ``doc_chunks``: chunks never split mid-sentence, at the cost of
    variable token width.

    Scale: per-row split + one posexplode bounded by the doc's own
    sentence count, then a (doc, chunk) aggregation whose in-chunk
    order is restored by sorting the (idx, sentence) structs —
    map-side combinable, no window."""
    sents = documents.select(
        "doc_id",
        F.posexplode(
            F.expr(r"regexp_extract_all(text, '[^.!?]+[.!?]?', 0)")
        ).alias("idx", "sent"),
    ).withColumn("sent", F.trim("sent")).filter(F.length("sent") > 0)
    return (
        sents.groupBy(
            "doc_id",
            F.floor(F.col("idx") / sents_per_chunk).cast("int").alias("chunk_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_sentences"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("idx", "sent"))),
                    lambda s: s["sent"],
                ),
            ).alias("chunk_text"),
        )
    )


EVAL_BCAST_MAX_BYTES = 256 * 1024 * 1024  # local default; see gate below


def _maybe_broadcast_eval(eval_shingles: DataFrame, documents: DataFrame,
                          eval_mod: int):
    """Size-gate the eval-shingle broadcast (VERDICT r09 #5/#7): the
    eval slice is 1/eval_mod of the CORPUS, so its distinct-shingle
    set grows with corpus size — a broadcast that fits at sf0.1 will
    not fit at 100 TB (the 8 GB/512M-row broadcast cap, guide §3.1).
    The gate estimates the exploded eval shingle volume from the
    source relation's optimizer size statistic (on-disk bytes ×
    ~3 overlapping word-shingles per token position / eval_mod — a
    coarse upper-shape estimate, deliberately cheap: no job, no
    count) and keeps the explicit broadcast hint only under
    $SPARK_GRAFT_EVAL_BCAST_MAX bytes (default 256 MB). Past the
    limit the hint is dropped and the membership join plans as a
    shuffle join (AQE may still broadcast at runtime from REAL sizes
    — strictly better information than this estimate). Join type
    never changes the values, only the movement plan; both branches
    are pinned in tests/test_curation_ops.py."""
    import os

    limit = int(
        os.environ.get("SPARK_GRAFT_EVAL_BCAST_MAX", EVAL_BCAST_MAX_BYTES)
    )
    try:
        base = int(
            documents._jdf.queryExecution()
            .optimizedPlan()
            .stats()
            .sizeInBytes()
        )
    except Exception:  # stats unavailable — keep the legacy hint
        base = 0
    est = base * 3 // max(eval_mod, 1)
    return F.broadcast(eval_shingles) if est <= limit else eval_shingles


def decontaminate(documents: DataFrame, eval_mod: int = 20) -> DataFrame:
    """Benchmark decontamination: for every training document, the
    fraction of its distinct word-3-gram shingles that also occur in
    the held-out eval slice (doc_id % eval_mod == 0 — the fixtures'
    stand-in for an external benchmark corpus). Docs with high overlap
    are contamination-removal candidates.

    Scale: shingles are deduped PER ROW (array_distinct) before the
    explode, so no shuffle is spent de-duplicating; the eval shingle
    set is tiny relative to the corpus and broadcasts; the only wide
    shuffle is the final regroup on doc_id."""
    from .textprep import word_shingles

    sh = F.array_distinct(word_shingles(F.col("text")))
    eval_shingles = (
        documents.filter((F.col("doc_id") % eval_mod) == 0)
        .select(F.explode(sh).alias("sh"))
        .distinct()
        .withColumn("in_eval", F.lit(1))
    )
    train = documents.filter((F.col("doc_id") % eval_mod) != 0).select(
        "doc_id", F.explode(sh).alias("sh")
    )
    return (
        train.join(
            _maybe_broadcast_eval(eval_shingles, documents, eval_mod),
            "sh",
            "left_outer",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("in_eval"), F.lit(0))).alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_contaminated",
            F.round(
                F.col("n_contaminated").cast("double")
                / F.col("n_shingles").cast("double"),
                6,
            ).alias("contamination_frac"),
        )
    )


def decontaminate_int(documents: DataFrame, eval_mod: int = 20) -> DataFrame:
    """``decontaminate`` under the integer output contract: the
    overlap fraction ships as ``contamination_frac_micro`` =
    floor(x·1e6 + 0.5) BIGINT, recomputed from the integer counts the
    legacy operator already emits — a projection on top, no plan
    change below it."""
    from ..functions.portable import micro

    return decontaminate(documents, eval_mod=eval_mod).select(
        "doc_id",
        "n_shingles",
        "n_contaminated",
        micro(
            F.col("n_contaminated").cast("double")
            / F.col("n_shingles").cast("double")
        ).alias("contamination_frac_micro"),
    )


PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+?[0-9][0-9() -]{6,}[0-9]"
PII_DENYLIST = ("customer", "key")


def pii_scrub(documents: DataFrame) -> DataFrame:
    """PII / denylist scrubbing: replace emails, phone-number-shaped
    spans, and denylisted terms with typed placeholder tokens; report
    per-document hit counts and a portable hash of the scrubbed text
    (the hash proves both engines produced byte-identical redactions).
    The synthetic corpus contains no real PII — email/phone counts are
    exercised by the unit tests; the denylist fires on fixture data.

    Scale: pure per-row regexp work, no shuffle; the scrubbed text
    would normally be written back as a column, the hash is for the
    oracle check."""
    deny_re = r"\b(" + "|".join(PII_DENYLIST) + r")\b"
    # function-API regexps with lit() patterns: no SQL-string-literal
    # escaping layer, so \b / \. survive verbatim
    n_emails = F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_EMAIL), F.lit(0)))
    n_phones = F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_PHONE), F.lit(0)))
    n_denied = F.size(F.regexp_extract_all(F.col("text"), F.lit(deny_re), F.lit(0)))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL, "<EMAIL>"),
            PII_PHONE,
            "<PHONE>",
        ),
        deny_re,
        "<REDACTED>",
    )
    return documents.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        n_denied.alias("n_denylisted"),
        F.length(scrubbed).alias("scrubbed_len"),
        hash32(scrubbed).alias("scrubbed_hash"),
    )


def curated_corpus(
    documents: DataFrame,
    min_quality: float = 0.2,
    max_dup3: float = 0.9,
    max_contamination: float = 0.9,
    per_source_k: int = 5,
    eval_mod: int = 20,
) -> DataFrame:
    """The curation pipeline end product: per-row quality and
    repetition metrics, decontamination against the eval slice,
    threshold filters, then the top-k surviving documents per source
    by quality. What a training-data team ships to the tokenizer.

    Scale: quality and dup-3-gram are computed in ONE projection over
    ONE scan (shared Column builders — composing the standalone
    operators would re-scan the corpus per metric); decontaminate
    contributes the only aggregation shuffle; the final per-source
    top-k is a window over the already-thresholded survivors. Docs
    with fewer words than a shingle (no contamination row) are junk
    by definition and drop with the inner join."""
    from pyspark.sql import Window

    metrics = documents.filter((F.col("doc_id") % eval_mod) != 0).select(
        "doc_id",
        "source",
        _quality_column().alias("quality"),
        _dup_3gram_column().alias("dup_3gram_frac"),
    )
    dec = decontaminate(documents, eval_mod=eval_mod).select(
        "doc_id", "contamination_frac"
    )
    survivors = (
        metrics.join(dec, "doc_id")
        .filter(
            (F.col("quality") >= min_quality)
            & (F.col("dup_3gram_frac") <= max_dup3)
            & (F.col("contamination_frac") <= max_contamination)
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.desc("quality"), F.asc("doc_id")
        )
    )
    return (
        survivors.withColumn("rk", rk)
        .filter(F.col("rk") <= per_source_k)
        .select(
            "doc_id", "source", "quality", "dup_3gram_frac",
            "contamination_frac", "rk",
        )
    )


def curated_corpus_int(
    documents: DataFrame,
    min_quality_micro: int = 200_000,
    max_dup3_micro: int = 900_000,
    max_contamination_micro: int = 900_000,
    per_source_k: int = 5,
    eval_mod: int = 20,
) -> DataFrame:
    """``curated_corpus`` under the integer output contract: the
    three fractional metrics ship (and threshold, and order) as
    ``*_micro`` = floor(x·1e6 + 0.5) BIGINTs. Thresholds are the
    legacy 0.2 / 0.9 / 0.9 at micro scale — micro(x) >= 200000 and
    ROUND(x, 6) >= 0.2 select the identical raw range
    (x >= 0.1999995), so the surviving row set is unchanged; the
    per-source rank orders on the integer, making ties
    engine-stable. Same plan: one metrics projection over one scan,
    decontaminate's aggregation shuffle, and a per-source top-k
    window over the already-thresholded survivors."""
    from pyspark.sql import Window

    from ..functions.portable import micro

    metrics = documents.filter((F.col("doc_id") % eval_mod) != 0).select(
        "doc_id",
        "source",
        micro(_quality_raw_column()).alias("quality_micro"),
        micro(_dup_3gram_raw_column()).alias("dup_3gram_frac_micro"),
    )
    dec = decontaminate_int(documents, eval_mod=eval_mod).select(
        "doc_id", "contamination_frac_micro"
    )
    survivors = metrics.join(dec, "doc_id").filter(
        (F.col("quality_micro") >= min_quality_micro)
        & (F.col("dup_3gram_frac_micro") <= max_dup3_micro)
        & (F.col("contamination_frac_micro") <= max_contamination_micro)
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.desc("quality_micro"), F.asc("doc_id")
        )
    )
    return (
        survivors.withColumn("rk", rk)
        .filter(F.col("rk") <= per_source_k)
        .select(
            "doc_id", "source", "quality_micro", "dup_3gram_frac_micro",
            "contamination_frac_micro", "rk",
        )
    )


def unigram_surprisal(documents: DataFrame) -> DataFrame:
    """Corpus-LM quality signal: per-document mean unigram surprisal
    -ln p(word), with p estimated from the corpus itself (term
    frequency / total tokens). High surprisal flags gibberish and
    boilerplate-free rarity; low surprisal flags repetitive or
    stop-word-heavy text — the classic cheap stand-in for model
    perplexity in curation pipelines.

    Scale: one explode + a shuffle on term for the frequency table, a
    term-keyed join back (the frequency table is vocabulary-sized —
    broadcast it when the vocabulary fits, the join key is term
    either way), one groupBy(doc_id). The total-token count folds in
    as a 1-row broadcast."""
    toks = documents.select("doc_id", F.explode(words("text")).alias("term"))
    tf = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = tf.agg(F.sum("cnt").alias("total"))
    return (
        toks.join(tf, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            micro(
                F.avg(-F.log(F.col("cnt") / F.col("total")))
            ).alias("avg_surprisal_micro"),
        )
    )


KN_DISCOUNT = 0.75


def kn_bigram_surprisal(
    documents: DataFrame, d: float = KN_DISCOUNT
) -> DataFrame:
    """Per-document mean bigram surprisal under an interpolated
    Kneser-Ney LM estimated from the corpus itself — the step up from
    ``unigram_surprisal`` toward real model perplexity: KN's
    continuation probability scores a word by how many CONTEXTS it
    follows, not how often it occurs, which is what separates genuine
    text from keyword-stuffed or template spam whose unigram profile
    looks normal.

        P(w2|w1) = (max(c(w1,w2)−d, 0) + d·N1+(w1,•)·P_cont(w2)) / c(w1)
        P_cont(w2) = N1+(•,w2) / #bigram-types

    Output: (doc_id, n_bigrams, avg_kn_surprisal_micro) — mean −log₂P
    over the document's bigram tokens, in integer micro-bits
    (COVERAGE.md "Oracle encoding rule"); documents with < 2
    words have no bigrams and drop out (identically in both engines).

    Scale (r10 re-plan, guide §2.3/§6 — the same one-token-scan
    shape as kn_trigram_surprisal): the per-(doc, bigram) count table
    is materialized once at construction (localCheckpoint;
    persist/parquet on a cluster); the bigram-type counts, context
    counts and type total all derive from it, and the probability
    join keys back on the SAME table weighted by the count column —
    the corpus is tokenized exactly once instead of once per branch
    plus once for the final token join. All count tables stay
    vocabulary²-bounded-by-observed aggregates with map-side combine;
    the type total folds in as a one-row broadcast. Every count is an
    exact integer; the per-type probability is written with the
    identical operation order in the DuckDB oracle so both engines
    run the same IEEE sequence for it. The per-doc means differ in
    form: here it is the weighted sum(dc·s)/sum(dc) over (type,
    count) rows, while the oracle twin averages the token-level
    values, AVG(s) over every bigram token. The two agree in exact
    arithmetic, but dc·s is not IEEE-identical to dc repeated
    additions of s, so they can differ in the last bits and land on
    different sides of a micro rounding boundary. That difference is
    in the accepted partition-order residual class: the token-level
    sum's order was already partitioning-dependent.

    Contract note (markov/k-means-centroid class): construction runs
    the one tokenize+count job that materializes the checkpoint."""
    toks = documents.select("doc_id", words("text").alias("__w"))
    bi = toks.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.expr("slice(__w, 1, size(__w) - 1)"),
                F.expr("slice(__w, 2, size(__w) - 1)"),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    dbc = (
        bi.groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("dc"))
        .localCheckpoint(eager=True)
    )
    bc = dbc.groupBy("w1", "w2").agg(F.sum("dc").alias("c"))
    c1 = bc.groupBy("w1").agg(
        F.sum("c").alias("c1"), F.count(F.lit(1)).alias("n1f")
    )
    nb = bc.groupBy("w2").agg(F.count(F.lit(1)).alias("n1b"))
    t = bc.agg(F.count(F.lit(1)).alias("t"))
    pkn = (
        F.greatest(F.col("c") - F.lit(d), F.lit(0.0))
        + F.lit(d) * F.col("n1f") * F.col("n1b") / F.col("t")
    ) / F.col("c1")
    p = (
        bc.join(c1, "w1")
        .join(nb, "w2")
        .crossJoin(F.broadcast(t))
        .select("w1", "w2", pkn.alias("__p"))
    )
    return (
        dbc.join(p, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("dc").alias("n_bigrams"),
            micro(
                F.sum(F.col("dc") * -F.log2(F.col("__p")))
                / F.sum("dc")
            ).alias("avg_kn_surprisal_micro"),
        )
    )


def kn_trigram_surprisal(
    documents: DataFrame, d: float = KN_DISCOUNT
) -> DataFrame:
    """Per-document mean TRIGRAM surprisal under a fully interpolated
    Kneser-Ney LM (Chen & Goodman 1999's formulation) estimated from
    the corpus itself — the standard step up from
    ``kn_bigram_surprisal`` in data-quality scoring: trigram context
    separates locally-plausible-but-globally-incoherent text (each
    word pair fine, triples nonsensical) that bigrams can't see.

        P(w3|w1w2) = (max(c(w1w2w3)−d, 0) + d·N1+(w1w2,•)·P(w3|w2)) / c(w1w2)
        P(w3|w2)   = (max(N1+(•,w2w3)−d, 0) + d·N1+(w2,•)·P_c(w3)) / N1+(•,w2,•)
        P_c(w3)    = N1+(•,•w3) / N1+(••)

    with every lower-order quantity a CONTINUATION (type) count
    derived from the one trigram-type table, per the paper: the
    backoff distribution asks "how many contexts does this
    continuation appear in", never raw frequency. Output: (doc_id,
    n_trigrams, avg_kn3_surprisal_micro) — mean −log₂P in integer
    micro-bits; documents with < 3 words have no trigrams and drop
    out (identically in both engines).

    Scale (r10 re-plan, guide §2.3/§6 shared-subexpression): the
    corpus is tokenized ONCE — the per-(doc, trigram) count table is
    materialized at construction (localCheckpoint; persist/parquet on
    a cluster) and every count table (trigram types, bigram contexts,
    continuation counts, the type total) derives from that one
    artifact instead of re-running the tokenize+explode per order
    (the r09 plan re-scanned documents for the final token join and
    re-derived the type table per branch — 6.2 s at the 10x
    rehearsal). The probability join keys on the SAME (doc, trigram)
    table, weighted by the count column, so the token-level integer
    mean is reproduced exactly: every token of a type carries the
    same micro-bits, hence Σ_tokens s_u == Σ_types c·s_u and
    n_trigrams == Σ_types c — identical BIGINTs, same DIV. All count
    tables stay observed-trigram-type-bounded aggregates with
    map-side combine; the type total folds in as a one-row
    broadcast. Every count is an exact integer; the float expression
    is written with the identical operation order in the DuckDB
    oracle (registry ORACLES['kn_trigram_surprisal']). The per-doc
    mean is the integer mean of PER-TRIGRAM micro-bits (quantize
    before the sum): integer addition is order-independent, so the
    reported value never rides the partial-sum order of a double AVG
    (the r08 ADVICE residual-risk class). Surprisal is non-negative
    (pkn ≤ 1 by the KN normalization), so DIV and // agree.

    Contract note (same class as markov_attribution / the k-means
    centroid pattern): constructing this query runs the one
    tokenize+count Spark job that materializes the checkpoint."""
    toks = documents.select("doc_id", words("text").alias("__w"))
    # sequence(1, n) DESCENDS when n < 1 — guard short docs explicitly
    tri = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(__w) >= 3 THEN "
                "transform(sequence(1, size(__w) - 2), "
                "i -> struct(__w[i-1] AS w1, __w[i] AS w2, __w[i+1] AS w3)) "
                "ELSE array() END"
            )
        ).alias("t3"),
    ).select("doc_id", "t3.w1", "t3.w2", "t3.w3")
    dtc = (
        tri.groupBy("doc_id", "w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    tc = dtc.groupBy("w1", "w2", "w3").agg(F.sum("c").alias("c3"))
    c12 = tc.groupBy("w1", "w2").agg(
        F.sum("c3").alias("c12"), F.count(F.lit(1)).alias("n1f12")
    )
    ct = tc.groupBy("w2", "w3").agg(F.count(F.lit(1)).alias("n23"))
    mid = tc.groupBy("w2").agg(
        F.count(F.lit(1)).alias("nmid"), F.countDistinct("w3").alias("nfol")
    )
    uni = ct.groupBy("w3").agg(F.count(F.lit(1)).alias("nc3"))
    tt = ct.agg(F.count(F.lit(1)).alias("t"))
    p2 = (
        F.greatest(F.col("n23") - F.lit(d), F.lit(0.0))
        + F.lit(d) * F.col("nfol") * (F.col("nc3") / F.col("t"))
    ) / F.col("nmid")
    p3 = (
        F.greatest(F.col("c3") - F.lit(d), F.lit(0.0))
        + F.lit(d) * F.col("n1f12") * p2
    ) / F.col("c12")
    p = (
        tc.join(c12, ["w1", "w2"])
        .join(ct, ["w2", "w3"])
        .join(mid, "w2")
        .join(uni, "w3")
        .crossJoin(F.broadcast(tt))
        .select("w1", "w2", "w3", p3.alias("__p"))
    )
    return (
        dtc.join(p, ["w1", "w2", "w3"])
        .select(
            "doc_id", "c", micro(-F.log2(F.col("__p"))).alias("__s_u")
        )
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_trigrams"),
            F.expr("CAST(sum(c * __s_u) DIV sum(c) AS BIGINT)").alias(
                "avg_kn3_surprisal_micro"
            ),
        )
    )


def cross_corpus_surprisal(
    new: DataFrame,
    history: DataFrame | None = None,
    history_tf: DataFrame | None = None,
) -> DataFrame:
    """Score a NEW batch against a reference corpus's unigram LM —
    the CCNet-style admission filter: train cheap LM statistics on
    the trusted corpus, rank incoming documents by how surprising
    they look under it. Output per new doc: (doc_id, n_words, n_oov,
    avg_surprisal_micro) — the integer mean of PER-WORD micro-nats
    (quantize before the sum: order-independent, the integer
    contract applied on its r09 window rotation; surprisal is
    non-negative since add-one p < 1, so DIV's dividend is
    non-negative).

    Add-one smoothing over the history vocabulary:
    p(w) = (count_hist(w) + 1) / (total_hist + V + 1), with every
    out-of-vocabulary word sharing the single +1 unseen class — so
    OOV-heavy docs score high instead of dividing by zero, and the
    whole model is an exact deterministic function of the history
    (oracle-checkable, unlike a trained KenLM).

    Scale: the history pays one tokenize + one term-keyed count (the
    LM *is* that frequency table — vocabulary-sized, broadcastable);
    the new batch pays one tokenize + the term join + one
    groupBy(doc_id). Incremental by construction: pass the maintained
    (term, cnt) aggregate as ``history_tf`` (see
    ``merge_term_frequencies``) instead of rescanning history."""
    if (history is None) == (history_tf is None):
        raise ValueError("pass exactly one of history / history_tf")
    tf = history_tf if history_tf is not None else term_frequencies(history)
    tot = tf.agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("v")
    )
    ntoks = new.select("doc_id", F.explode(words("text")).alias("term"))
    surprisal = -F.log(
        (F.coalesce("cnt", F.lit(0)) + F.lit(1))
        / (F.col("total") + F.col("v") + F.lit(1))
    )
    return (
        ntoks.join(tf, "term", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.when(F.col("cnt").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("__oov"),
            micro(surprisal).alias("__su"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("__oov").alias("n_oov"),
            F.expr("CAST(sum(__su) DIV count(1) AS BIGINT)").alias(
                "avg_surprisal_micro"
            ),
        )
    )


def term_frequencies(documents: DataFrame) -> DataFrame:
    """The unigram LM state: (term, cnt) over a corpus — the table
    `cross_corpus_surprisal` trains on. Vocabulary-sized."""
    return (
        documents.select(F.explode(words("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def merge_term_frequencies(
    history_tf: DataFrame, new_docs: DataFrame
) -> DataFrame:
    """Incremental LM maintenance: fold a new batch's term counts into
    the stored frequency table instead of rescanning history — union
    of two (term, cnt) tables + one groupBy-sum, cost proportional to
    the BATCH's vocabulary, not the corpus. Equivalence to the full
    rescan is pinned in tests (counts are associative), so the
    admission pipeline can run cross_corpus_surprisal against a
    maintained aggregate forever."""
    return (
        history_tf.unionByName(term_frequencies(new_docs))
        .groupBy("term")
        .agg(F.sum("cnt").alias("cnt"))
    )


def bigram_surprisal(documents: DataFrame) -> DataFrame:
    """Conditional bigram surprisal per document: mean of
    -ln p(w2 | w1) with p = corpus bigram count / corpus count of the
    context word — one step past ``unigram_surprisal`` toward real LM
    perplexity, still exact-oracle-checkable. Repetitive texts score
    near zero; incoherent word salads score high even when every
    individual word is common — the signal unigrams can't see.

    Scale: bigram construction reuses the shifted-slice shingle
    builder (w=2) on a pre-projected words column — linear, no
    re-splitting; then two frequency tables (bigram- and
    vocabulary-sized) joined back by key. Docs with fewer than two
    words have no bigrams and drop out."""
    from .textprep import shingles_from_words, words

    bg = documents.select("doc_id", words("text").alias("__w")).select(
        "doc_id",
        F.explode(shingles_from_words(F.col("__w"), 2)).alias("bigram"),
    )
    c2 = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("cnt2"))
    toks = documents.select(F.explode(words("text")).alias("w1"))
    c1 = toks.groupBy("w1").agg(F.count(F.lit(1)).alias("cnt1"))
    scored = (
        bg.join(c2, "bigram")
        .withColumn("w1", F.substring_index("bigram", " ", 1))
        .join(c1, "w1")
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        micro(
            F.avg(-F.log(F.col("cnt2") / F.col("cnt1")))
        ).alias("avg_bigram_surprisal_micro"),
    )


def contamination_report(documents: DataFrame, eval_mod: int = 20) -> DataFrame:
    """The eval-side view of ``decontaminate``: for every EVAL
    document, how many distinct training documents share at least one
    word-3-gram with it, and the training side's worst per-doc overlap
    fraction. The hygiene report an eval owner reads to decide which
    benchmark items are burned.

    Scale: same join skeleton as decontaminate but keyed the other
    way — eval shingles (tiny) explode with their eval doc_id, the
    training side streams through the broadcast join, and the regroup
    is on the eval doc_id, so output is eval-sized."""
    from .textprep import word_shingles

    sh = F.array_distinct(word_shingles(F.col("text")))
    eval_sh = (
        documents.filter((F.col("doc_id") % eval_mod) == 0)
        .select(F.col("doc_id").alias("eval_doc_id"), sh.alias("__sh"))
        .select("eval_doc_id", F.explode("__sh").alias("sh"))
        .distinct()
    )
    # shingle array projected once BELOW the explode (the size and the
    # generator would otherwise each re-run the shingling per row)
    train = (
        documents.filter((F.col("doc_id") % eval_mod) != 0)
        .select("doc_id", sh.alias("__sh"))
        .select(
            "doc_id",
            F.explode("__sh").alias("sh"),
            F.size("__sh").alias("n_sh"),
        )
    )
    hits = train.join(F.broadcast(eval_sh), "sh").select(
        "eval_doc_id", "doc_id", "n_sh"
    )
    per_pair = hits.groupBy("eval_doc_id", "doc_id", "n_sh").agg(
        F.count(F.lit(1)).alias("n_shared")
    )
    return (
        per_pair.groupBy("eval_doc_id")
        .agg(
            F.countDistinct("doc_id").alias("n_contaminating_docs"),
            micro(
                F.max(F.col("n_shared").cast("double") / F.col("n_sh"))
            ).alias("max_overlap_frac_micro"),
        )
    )


def _budget_cumsum(m: DataFrame, bucket_decimals: int = 3) -> DataFrame:
    """The exact two-pass greedy prefix sum shared by
    ``budgeted_mixture`` and ``corpus_funnel``: given a narrow frame
    (doc_id, source, quality, n_tokens), adds ``cum_tokens`` — the
    running per-source token total in (quality DESC, doc_id ASC)
    order — via the (source, quality-bucket) decomposition (bucket
    offsets from a tiny broadcast aggregate + within-bucket window),
    bit-identical to a single per-source window.

    localCheckpoints its input: the mass aggregate and the per-bucket
    window both read the materialized narrow rows (~50 bytes each)
    instead of re-running the upstream projection twice — at scale
    one materialized narrow pass beats two full text scans by the
    text:projection width ratio."""
    from pyspark.sql import Window

    m = m.withColumn("__qb", F.round("quality", bucket_decimals)).localCheckpoint(
        eager=True
    )
    mass = m.groupBy("source", "__qb").agg(F.sum("n_tokens").alias("__mass"))
    w_off = (
        Window.partitionBy("source")
        .orderBy(F.desc("__qb"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = mass.select(
        "source",
        "__qb",
        F.coalesce(F.sum("__mass").over(w_off), F.lit(0)).alias("__offset"),
    )
    w_in = (
        Window.partitionBy("source", "__qb")
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return m.join(F.broadcast(offsets), ["source", "__qb"]).withColumn(
        "cum_tokens", F.col("__offset") + F.sum("n_tokens").over(w_in)
    )


def budgeted_mixture(
    documents: DataFrame,
    token_budget_per_source: int = 1000,
    bucket_decimals: int = 3,
) -> DataFrame:
    """Budgeted mixture construction: within each source, documents
    are ranked by quality (ties broken by doc_id) and kept greedily
    while the source's cumulative token count stays inside its
    budget — the step that turns quality scores plus mixture weights
    into an actual training set.

    Scale (the two-pass bucket decomposition): a naive greedy cumsum
    is a window PARTITIONED BY SOURCE — one task per source sorts the
    source's entire row stream, which serializes at 100 TB when a few
    sources dominate. Instead the greedy prefix sum is decomposed
    exactly:

    1. bucket quality to ``bucket_decimals`` (coarse, contiguous
       ranges: descending bucket order == descending quality order);
    2. aggregate per-(source, bucket) token mass — a map-side-combined
       aggregate whose output is at most |sources| x 10^decimals rows;
    3. window over THAT tiny table (partitioned by source, ~1k rows
       per source) for each bucket's cumulative offset;
    4. broadcast the offsets back and run the exact (quality desc,
       doc_id asc) cumsum WITHIN each (source, bucket) partition —
       offset + within-bucket prefix = the exact global prefix.

    The result is bit-identical to the single-window greedy (same
    cum_tokens, same kept set — the oracle SQL is the plain one-window
    form), but the big-data window partitions by (source, bucket):
    parallelism |sources| x #occupied buckets instead of |sources|.
    Quality is rounded to 6dp BEFORE it becomes the sort key so the
    ordering is reproducible across engines (raw float ordering could
    flip ranks on last-ULP libm differences)."""
    nt = F.size(F.expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long")
    m = documents.select(
        "doc_id",
        "source",
        F.round(_quality_column(), 6).alias("quality"),
        nt.alias("n_tokens"),
    )
    c = _budget_cumsum(m, bucket_decimals=bucket_decimals)
    return c.select(
        "doc_id",
        "source",
        "quality",
        "n_tokens",
        "cum_tokens",
        (F.col("cum_tokens") <= token_budget_per_source).alias("kept"),
    )


def source_overlap_matrix(documents: DataFrame) -> DataFrame:
    """Pairwise shingle-level Jaccard between SOURCES — the
    corpus-composition diagnostic (two feeds scraping the same sites
    show up as a high-overlap cell; the mixture weights then
    double-count that content unless one side is deduped).

    Scale: reduces to DISTINCT (source, shingle) first (k·|shingle
    universe| rows max, k = #sources), sizes per source, then a
    shingle-keyed self-join that only pairs sources sharing that
    shingle — never a k² × corpus product."""
    from .textprep import word_shingles

    ss = (
        documents.select(
            "source", F.explode(F.array_distinct(word_shingles("text"))).alias("sh")
        )
        .distinct()
    )
    sizes = ss.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = ss.alias("a"), ss.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "source_a")
        .join(sb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_inter",
            micro(
                F.col("n_inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_inter"))
            ).alias("jaccard_micro"),
        )
    )


# Gopher-rule thresholds (Rae et al. 2021, arXiv:2112.11446 Table A1),
# adapted to the synthetic fixture corpus so each rule actually
# discriminates (the fixtures are lowercase-word streams of 10-99
# words: the paper's 50-word floor would fail half the corpus and its
# symbol/bullet rules would pass vacuously).
GOPHER_MIN_WORDS = 30
GOPHER_MAX_WORDS = 100_000
# ratio thresholds on the integer micro grid (integer contract,
# migrated on the family's r09 window rotation): metrics are
# pure-integer (x·10⁶) DIV n_words, compared against these
GOPHER_MIN_MEAN_WORD_LEN_MICRO = 4_000_000
GOPHER_MAX_MEAN_WORD_LEN_MICRO = 10_000_000
GOPHER_MIN_UNIQUE_FRAC_MICRO = 300_000
GOPHER_MIN_STOP_HITS = 2


def _gopher_metrics(ws: Column) -> dict[str, Column]:
    """The four Gopher rule metrics as Columns over an
    ALREADY-PROJECTED words array (one regex split per row, shared by
    every metric). Shared by gopher_quality_flags and corpus_funnel."""
    from ..functions.portable import int_div

    n_words = F.size(ws).cast("long")
    word_chars = F.aggregate(
        F.transform(ws, lambda w: F.length(w)),
        F.lit(0),
        lambda acc, v: acc + v,
    ).cast("long")
    sw = EN_STOPWORDS
    return {
        "n_words": n_words,
        "mean_word_len_micro": int_div(
            word_chars * F.lit(1_000_000), n_words
        ),
        "unique_word_frac_micro": int_div(
            F.size(F.array_distinct(ws)).cast("long") * F.lit(1_000_000),
            n_words,
        ),
        "stop_hits": F.size(F.filter(ws, lambda w: w.isin(*sw))).cast("long"),
    }


def gopher_quality_flags(documents: DataFrame) -> DataFrame:
    """Gopher-style heuristic quality rules as one per-document flag
    battery: word-count bounds, mean-word-length bounds, lexical
    diversity (unique-word fraction), and stopword presence, plus the
    conjunctive ``keep``. This is the rule-based sibling of the
    logistic ``quality_scores`` — production curation stacks run both
    (hard rules first, learned score on the survivors).

    Scale: a single pure-expression projection — the words array is
    computed once per row and every metric folds over it; no shuffle,
    no UDF, linear in input bytes (same profile as token_counts)."""
    d = documents.select(
        "doc_id",
        "source",
        words("text").alias("__ws"),
    )
    gm = _gopher_metrics(F.col("__ws"))
    m = d.select(
        "doc_id",
        "source",
        gm["n_words"].alias("n_words"),
        gm["mean_word_len_micro"].alias("mean_word_len_micro"),
        gm["unique_word_frac_micro"].alias("unique_word_frac_micro"),
        gm["stop_hits"].alias("stop_hits"),
    )
    word_count_ok = (F.col("n_words") >= GOPHER_MIN_WORDS) & (
        F.col("n_words") <= GOPHER_MAX_WORDS
    )
    word_len_ok = (
        F.col("mean_word_len_micro") >= GOPHER_MIN_MEAN_WORD_LEN_MICRO
    ) & (F.col("mean_word_len_micro") <= GOPHER_MAX_MEAN_WORD_LEN_MICRO)
    diversity_ok = (
        F.col("unique_word_frac_micro") >= GOPHER_MIN_UNIQUE_FRAC_MICRO
    )
    stopword_ok = F.col("stop_hits") >= GOPHER_MIN_STOP_HITS
    return m.select(
        "doc_id",
        "source",
        "n_words",
        "mean_word_len_micro",
        "unique_word_frac_micro",
        "stop_hits",
        word_count_ok.alias("word_count_ok"),
        word_len_ok.alias("word_len_ok"),
        diversity_ok.alias("diversity_ok"),
        stopword_ok.alias("stopword_ok"),
        (word_count_ok & word_len_ok & diversity_ok & stopword_ok).alias("keep"),
    )


def _gopher_keep(gm: dict[str, Column]) -> Column:
    """Conjunctive Gopher keep from the metric Columns."""
    return (
        (gm["n_words"] >= GOPHER_MIN_WORDS)
        & (gm["n_words"] <= GOPHER_MAX_WORDS)
        & (gm["mean_word_len_micro"] >= GOPHER_MIN_MEAN_WORD_LEN_MICRO)
        & (gm["mean_word_len_micro"] <= GOPHER_MAX_MEAN_WORD_LEN_MICRO)
        & (gm["unique_word_frac_micro"] >= GOPHER_MIN_UNIQUE_FRAC_MICRO)
        & (gm["stop_hits"] >= GOPHER_MIN_STOP_HITS)
    )


FUNNEL_STAGES = ("raw", "rules", "dedup", "decontam", "budget")


def corpus_funnel(
    documents: DataFrame,
    token_budget_per_source: int = 1000,
    max_contamination: float = 0.9,
    eval_mod: int = 20,
) -> DataFrame:
    """The curation funnel report: document and token counts
    surviving each stage of the full training-data pipeline —

        raw → Gopher rules → exact-normalized dedup →
        decontamination → per-source token budget

    — the first artifact a training-data team reads for a corpus
    build ("rules dropped 24%, dedup another 5%, the budget binds at
    source X"). Stage semantics are conjunctive and ordered: a
    document counts at stage k iff it survived every stage ≤ k.
    Dedup keeps the smallest doc_id among RULE-SURVIVING copies of a
    normalized text; decontamination drops eval-slice docs
    themselves plus training docs whose eval-shingle overlap exceeds
    ``max_contamination``; the budget stage replays
    ``budgeted_mixture``'s greedy per-source (quality DESC, doc_id)
    selection over the decontaminated survivors.

    Scale: one text scan computes every per-doc metric (token count,
    quality, normalized hash, Gopher words array) into a narrow
    checkpointed frame; the dedup winners table is a hash-keyed
    aggregate of that frame (text never shuffles); decontamination
    contributes its own scan (the shingle explode — unavoidable) but
    joins back by doc_id; the budget cumsum reuses the
    (source, quality-bucket) decomposition via ``_budget_cumsum``.
    The final answer is five conditional aggregates in ONE pass over
    the narrow frame, unpivoted with stack()."""
    b4 = _funnel_flags(
        documents, token_budget_per_source, max_contamination, eval_mod
    )
    row = b4.agg(*_funnel_aggs())
    stack = ", ".join(
        f"'{nm}', {i}, __d_{nm}, __t_{nm}"
        for i, nm in enumerate(FUNNEL_STAGES)
    )
    return row.selectExpr(
        f"stack({len(FUNNEL_STAGES)}, {stack}) AS (stage, stage_idx, n_docs, n_tokens)"
    ).select(
        "stage",
        F.col("stage_idx").cast("int").alias("stage_idx"),
        "n_docs",
        "n_tokens",
    )


def corpus_funnel_by_source(
    documents: DataFrame,
    token_budget_per_source: int = 1000,
    max_contamination: float = 0.9,
    eval_mod: int = 20,
) -> DataFrame:
    """``corpus_funnel`` broken out per source — the view a mixture
    owner reads ("the budget binds for source X but rules dominate
    source Y's losses"). Same flag frame, grouped by source before
    the conditional aggregates; output is 5 rows per source.

    Scale: identical to corpus_funnel except the final aggregate is
    keyed by source (map-side combine; |sources| × 5 output rows)."""
    b4 = _funnel_flags(
        documents, token_budget_per_source, max_contamination, eval_mod
    )
    row = b4.groupBy("source").agg(*_funnel_aggs())
    stack = ", ".join(
        f"'{nm}', {i}, __d_{nm}, __t_{nm}"
        for i, nm in enumerate(FUNNEL_STAGES)
    )
    return row.selectExpr(
        "source",
        f"stack({len(FUNNEL_STAGES)}, {stack}) AS (stage, stage_idx, n_docs, n_tokens)",
    ).select(
        "source",
        "stage",
        F.col("stage_idx").cast("int").alias("stage_idx"),
        "n_docs",
        "n_tokens",
    )


def _funnel_aggs() -> list[Column]:
    """The five-stage conditional (docs, tokens) aggregate columns
    over a ``_funnel_flags`` frame."""
    conds = {
        "raw": F.lit(True),
        "rules": F.col("__rules"),
        "dedup": F.col("__dedup"),
        "decontam": F.col("__decontam"),
        "budget": F.col("__budget"),
    }
    aggs: list[Column] = []
    for nm in FUNNEL_STAGES:
        aggs.append(
            F.sum(F.when(conds[nm], 1).otherwise(0)).alias(f"__d_{nm}")
        )
        aggs.append(
            F.sum(F.when(conds[nm], F.col("n_tokens")).otherwise(0)).alias(
                f"__t_{nm}"
            )
        )
    return aggs


def _funnel_flags(
    documents: DataFrame,
    token_budget_per_source: int,
    max_contamination: float,
    eval_mod: int,
) -> DataFrame:
    """Per-document stage-survival flags shared by corpus_funnel and
    corpus_funnel_by_source (see corpus_funnel for the stage
    semantics and scale argument).

    The scan gets the SIZE-GATED parallelism fixup (no-op at scale):
    the base frame's per-row work — quality metrics, gopher word
    stats, the normalization md5 — is CPU-heavy, so a large
    single-file corpus must not run it on one core; but for a tiny
    corpus the repartition shuffle costs more than it buys, so the
    fixup fires only past a bytes-per-partition floor (measured both
    ways in scale.py::ensure_parallelism_for_heavy_scan)."""
    from .scale import ensure_parallelism_for_heavy_scan
    from .textprep import shingles_from_words

    documents = ensure_parallelism_for_heavy_scan(documents)
    nt = F.size(F.expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long")
    norm_hash = F.md5(F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "))
    b0 = documents.select(
        "doc_id",
        "source",
        nt.alias("n_tokens"),
        F.round(_quality_column(), 6).alias("quality"),
        norm_hash.alias("__h"),
        words("text").alias("__ws"),
    ).select(
        # the decontamination stage's per-doc distinct shingle set,
        # computed IN the same text scan (r09: decontaminate(documents)
        # used to re-scan and re-shingle the corpus twice — once for
        # the eval slice, once for the train side; both now read this
        # column off the checkpoint). Arithmetic mirrors decontaminate()
        # — array_distinct over the same w-word shingles — so the stage
        # semantics, and the oracle which re-derives them in SQL, are
        # unchanged. r10 (r09 ADVICE): the shingles build from the
        # already-split __ws attribute (shingles_from_words), not from
        # word_shingles(text), which re-ran the regex word split O(w)
        # extra times per document inside the same projection;
        # identical output — word_shingles(text) IS
        # shingles_from_words(words(text)).
        "*",
        F.array_distinct(
            shingles_from_words(F.col("__ws"))
        ).alias("__sh"),
    )
    base = b0.select(
        "doc_id",
        "source",
        "n_tokens",
        "quality",
        "__h",
        _gopher_keep(_gopher_metrics(F.col("__ws"))).alias("__rules"),
        "__sh",
    ).localCheckpoint(eager=True)
    winners = (
        base.filter(F.col("__rules"))
        .groupBy("__h")
        .agg(F.min("doc_id").alias("__keep"))
    )
    b2 = base.join(winners, "__h", "left").withColumn(
        "__dedup", F.col("__rules") & (F.col("doc_id") == F.col("__keep"))
    )
    eval_shingles = (
        base.filter((F.col("doc_id") % eval_mod) == 0)
        .select(F.explode("__sh").alias("sh"))
        .distinct()
        .withColumn("in_eval", F.lit(1))
    )
    train = base.filter((F.col("doc_id") % eval_mod) != 0).select(
        "doc_id", F.explode("__sh").alias("sh")
    )
    dec = (
        # same size-gated broadcast as decontaminate() — the estimate
        # reads the ORIGINAL documents relation's stats (base is a
        # checkpoint RDD with no file statistics)
        train.join(
            _maybe_broadcast_eval(eval_shingles, documents, eval_mod),
            "sh",
            "left_outer",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("__n_sh"),
            F.sum(F.coalesce(F.col("in_eval"), F.lit(0))).alias("__n_cont"),
        )
        .select(
            "doc_id",
            F.round(
                F.col("__n_cont").cast("double")
                / F.col("__n_sh").cast("double"),
                6,
            ).alias("contamination_frac"),
        )
    )
    b3 = b2.join(dec, "doc_id", "left").withColumn(
        "__decontam",
        F.col("__dedup")
        & ((F.col("doc_id") % eval_mod) != 0)
        & (
            F.coalesce(F.col("contamination_frac"), F.lit(1.0))
            <= max_contamination
        ),
    )
    cum = _budget_cumsum(
        b3.filter(F.col("__decontam")).select(
            "doc_id", "source", "quality", "n_tokens"
        )
    ).select("doc_id", "cum_tokens")
    return b3.join(cum, "doc_id", "left").withColumn(
        "__budget",
        F.col("__decontam")
        & (
            F.coalesce(F.col("cum_tokens"), F.lit(1 << 60))
            <= token_budget_per_source
        ),
    )


def curation_drop_reasons(
    documents: DataFrame,
    token_budget_per_source: int = 1000,
    max_contamination: float = 0.9,
    eval_mod: int = 20,
) -> DataFrame:
    """Per-document disposition for the curation funnel: the FIRST
    stage that dropped the document (``rules`` / ``dedup`` /
    ``decontam`` / ``budget``) or ``kept``. The debugging companion
    to ``corpus_funnel``: the funnel says HOW MANY died per stage,
    this says WHICH — the view someone reads when a source's volume
    collapses ("all of source X died at decontam → its docs quote the
    eval set").

    Scale: a pure projection over the same ``_funnel_flags`` frame —
    no additional shuffle beyond the funnel's own."""
    b4 = _funnel_flags(
        documents, token_budget_per_source, max_contamination, eval_mod
    )
    reason = (
        F.when(~F.col("__rules"), F.lit("rules"))
        .when(~F.col("__dedup"), F.lit("dedup"))
        .when(~F.col("__decontam"), F.lit("decontam"))
        .when(~F.col("__budget"), F.lit("budget"))
        .otherwise(F.lit("kept"))
    )
    return b4.select(
        "doc_id",
        "source",
        "n_tokens",
        reason.alias("dropped_at"),
    )


def quality_thresholds(
    documents: DataFrame, keep_frac: float = 0.5
) -> DataFrame:
    """Per-source quality cutoffs for fraction-based curation: the
    exact quality percentile below which (1 - keep_frac) of the
    source's documents fall, plus how many documents clear it — the
    numbers a mixture owner uses to turn "keep the best half of each
    source" into concrete thresholds (the fraction-targeting
    complement of ``budgeted_mixture``'s token targeting).

    Scale: one narrow (source, quality) projection; the exact
    percentile is a per-source aggregate (Spark's percentile keeps
    per-group state proportional to group cardinality — for
    corpus-scale sources swap in percentile_approx, same dataflow);
    cutoffs broadcast back for the counting pass. The cutoff is
    rounded to 6dp BEFORE the >= comparison in both engines so the
    kept count never hinges on a last-ULP interpolation difference."""
    q = documents.select(
        "source", F.round(_quality_column(), 6).alias("quality")
    ).localCheckpoint(eager=True)
    th = q.groupBy("source").agg(
        F.round(
            F.percentile("quality", F.lit(1.0 - keep_frac)), 6
        ).alias("cutoff")
    )
    return (
        q.join(F.broadcast(th), "source")
        .groupBy("source", "cutoff")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("quality") >= F.col("cutoff"), 1).otherwise(0)
            ).alias("n_kept"),
        )
        .select("source", "cutoff", "n_docs", "n_kept")
    )


def bpe_merge_candidates(documents: DataFrame, k: int = 20) -> DataFrame:
    """The first step of BPE tokenizer training: corpus-wide counts
    of adjacent character pairs within words, top-k by frequency —
    the pair a BPE trainer would merge first. (Full BPE training is
    an iterative merge loop; each iteration is exactly this
    aggregate over the re-segmented corpus, so this operator is the
    distributable inner loop, the way k-means is Lloyd's inner
    step.)

    Scale: words explode → per-word pair arrays from substring
    slices (pure expressions) → explode → one hash-partitioned count
    with map-side combine; top-k is TakeOrderedAndProject (no global
    sort). The shuffle carries (2-char pair, partial count) only."""
    w = documents.select(F.explode(words("text")).alias("word"))
    pairs = w.select(
        F.explode(
            F.when(
                F.length("word") >= 2,
                F.expr(
                    "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(k)
    )


def pmi_collocations(
    documents: DataFrame, k: int = 30, min_count: int = 5
) -> DataFrame:
    """(w1, w2, n_pair, pmi) — top-k word collocations by pointwise
    mutual information, pmi = ln(p(w1,w2) / (p(w1)·p(w2))) (Church &
    Hanks 1990): the pairs that co-occur far above chance — phrase
    candidates a tokenizer or stopword list should know about, and
    the classic complement to raw-frequency ``top_bigrams`` (which
    surfaces "of the"; PMI surfaces named entities and terms of art).

    min_count floors the bigram count first — PMI's known failure
    mode is hapax pairs of rare words scoring ln(N); the floor is
    applied BEFORE the unigram joins, so at 100 TB the vocabulary
    table joins against the (small) surviving-pair table, not the
    full bigram stream, and AQE broadcasts the lighter side. One
    words-projection feeds both the unigram and bigram counts (one
    regex split per doc); totals are single-row broadcast joins.

    Ordering is on the ROUNDED pmi (both engines round before the
    sort) with (w1, w2) tie-break, so float last-bit noise cannot
    reorder the top-k across engines."""
    from .textprep import shingles_from_words, words

    ws = documents.select(words("text").alias("ws"))
    toks = ws.select(F.explode("ws").alias("term"))
    uni = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n_term"))
    n_tokens = uni.agg(F.sum("n_term").alias("n_tokens"))
    bg = ws.select(
        F.explode(shingles_from_words(F.col("ws"), 2)).alias("bigram")
    )
    n_bigrams = bg.agg(F.count(F.lit(1)).alias("n_bigrams"))
    bgc = (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
        .select(
            F.split("bigram", " ").getItem(0).alias("w1"),
            F.split("bigram", " ").getItem(1).alias("w2"),
            "n_pair",
        )
    )
    j = (
        bgc.join(
            uni.select(
                F.col("term").alias("w1"), F.col("n_term").alias("n_w1")
            ),
            "w1",
        )
        .join(
            uni.select(
                F.col("term").alias("w2"), F.col("n_term").alias("n_w2")
            ),
            "w2",
        )
        .crossJoin(F.broadcast(n_tokens))
        .crossJoin(F.broadcast(n_bigrams))
    )
    # + 0.0 after ROUND: a score rounding to zero must be +0.0 in
    # both engines (IEEE -0.0 strings differently and breaks the
    # driver's multiset compare)
    pmi = (
        F.round(
            F.log(
                (F.col("n_pair") / F.col("n_bigrams"))
                / (
                    (F.col("n_w1") / F.col("n_tokens"))
                    * (F.col("n_w2") / F.col("n_tokens"))
                )
            ),
            6,
        )
        + F.lit(0.0)
    )
    return (
        j.select("w1", "w2", "n_pair", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(k)
    )


def sql_pmi_collocations(k: int = 30, min_count: int = 5) -> str:
    """DuckDB oracle for ``pmi_collocations``."""
    from .textprep import sql_word_shingles, sql_words

    return f"""
WITH toks AS (SELECT unnest({sql_words('text')}) AS term FROM documents),
uni AS (SELECT term, COUNT(*) AS n_term FROM toks GROUP BY 1),
nt AS (SELECT SUM(n_term) AS n_tokens FROM uni),
bg AS (SELECT unnest({sql_word_shingles('text', 2)}) AS bigram FROM documents),
nb AS (SELECT COUNT(*) AS n_bigrams FROM bg),
bgc AS (SELECT string_split(bigram, ' ')[1] AS w1,
               string_split(bigram, ' ')[2] AS w2,
               COUNT(*) AS n_pair
        FROM bg GROUP BY 1, 2 HAVING COUNT(*) >= {min_count}),
j AS (SELECT b.w1, b.w2, b.n_pair,
             ROUND(ln((CAST(b.n_pair AS DOUBLE) / nb.n_bigrams) /
                      ((CAST(u1.n_term AS DOUBLE) / nt.n_tokens) *
                       (CAST(u2.n_term AS DOUBLE) / nt.n_tokens))), 6) + 0.0 AS pmi
      FROM bgc b
      JOIN uni u1 ON u1.term = b.w1
      JOIN uni u2 ON u2.term = b.w2, nt, nb)
SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair, pmi
FROM j ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT {k}
"""


KANON_K = 5  # release-gate group-size floor; oracle generated from this


def k_anonymity_violations(
    documents: DataFrame, k: int = KANON_K
) -> DataFrame:
    """(lang, source, n) — quasi-identifier groups with fewer than k
    members (Sweeney 2002): the release-blocking list. A record in a
    group of size < k is re-identifiable by its quasi-identifiers
    alone; training-data releases either generalize these groups or
    drop them. One hash aggregation on the quasi-identifier key —
    the count table is #groups-sized regardless of corpus size."""
    return (
        documents.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") < k)
    )


def k_anonymity_report(documents: DataFrame, k: int = KANON_K) -> DataFrame:
    """(k, n_groups, n_violating_groups, n_rows_at_risk,
    frac_rows_at_risk) — the one-row release-gate summary over the
    (lang, source) quasi-identifier: how many equivalence classes
    fall below k and what fraction of the corpus sits in them. The
    privacy companion to ``pii_scrub`` (content-level) — this is the
    STRUCTURE-level check: scrubbed text in a singleton
    (lang, source) class is still linkable."""
    g = documents.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n")
    )
    viol = F.when(F.col("n") < k, 1).otherwise(0)
    agg = g.agg(
        F.lit(k).alias("k"),
        F.count(F.lit(1)).alias("n_groups"),
        F.coalesce(F.sum(viol), F.lit(0)).cast("long").alias(
            "n_violating_groups"
        ),
        F.coalesce(
            F.sum(F.when(F.col("n") < k, F.col("n")).otherwise(F.lit(0))),
            F.lit(0),
        )
        .cast("long")
        .alias("n_rows_at_risk"),
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("__total"),
    )
    return agg.select(
        "k",
        "n_groups",
        "n_violating_groups",
        "n_rows_at_risk",
        F.when(
            F.col("__total") > 0,
            F.round(F.col("n_rows_at_risk") / F.col("__total"), 6)
            + F.lit(0.0),
        )
        .otherwise(F.lit(0.0))
        .alias("frac_rows_at_risk"),
    )


ZIPF_TOP_N = 100


def zipf_fit(documents: DataFrame, top_n: int = ZIPF_TOP_N) -> DataFrame:
    """(n_terms_used, slope, intercept, r2) — OLS fit of
    ln(frequency) on ln(rank) over the top-N vocabulary: natural
    language tracks Zipf's law with slope ≈ −1, and deviation is a
    cheap corpus-health smell (template/synthetic text flattens the
    curve; boilerplate floods steepen the head). A standard
    one-number diagnostic next to char_entropy / vocabulary.

    Shape: one term-count aggregation (vocabulary-keyed, map-side
    combined), a TakeOrderedAndProject for the top-N (never a global
    sort), then closed-form OLS over the N-row frame. Ranking is
    deterministic ((n desc, term asc) is a total order). The fitted
    sums are doubles over ≤ N rows of ln-magnitude values — the same
    bounded-float-sum class as corpus_diversity."""
    terms = (
        documents.select(F.explode(words("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(top_n)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("n"), F.asc("term"))
    xy = terms.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    agg = xy.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    k = F.col("k").cast("double")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / k
    varx = F.col("sxx") - F.col("sx") * F.col("sx") / k
    vary = F.col("syy") - F.col("sy") * F.col("sy") / k
    slope = cov / varx
    intercept = (F.col("sy") - slope * F.col("sx")) / k
    r2 = F.when(
        (varx > 0) & (vary > 0), (cov * cov) / (varx * vary)
    ).otherwise(F.lit(0.0))
    return agg.select(
        F.col("k").alias("n_terms_used"),
        F.when(varx > 0, F.round(slope, 6) + F.lit(0.0))
        .otherwise(F.lit(0.0))
        .alias("slope"),
        F.when(varx > 0, F.round(intercept, 6) + F.lit(0.0))
        .otherwise(F.lit(0.0))
        .alias("intercept"),
        (F.round(r2, 6) + F.lit(0.0)).alias("r2"),
    )


def sql_zipf_fit(top_n: int = ZIPF_TOP_N) -> str:
    """DuckDB oracle for ``zipf_fit``."""
    from .textprep import sql_words

    return f"""
WITH toks AS (SELECT unnest({sql_words('text')}) AS term FROM documents),
tc AS (SELECT term, COUNT(*) AS n FROM toks GROUP BY 1
       ORDER BY n DESC, term ASC LIMIT {top_n}),
xy AS (SELECT ln(CAST(ROW_NUMBER() OVER (ORDER BY n DESC, term ASC)
                      AS DOUBLE)) AS x,
              ln(CAST(n AS DOUBLE)) AS y
       FROM tc),
a AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM xy),
f AS (SELECT k,
             sxy - sx * sy / k AS cov,
             sxx - sx * sx / k AS varx,
             syy - sy * sy / k AS vary,
             sx, sy
      FROM a)
SELECT k AS n_terms_used,
       CASE WHEN varx > 0 THEN ROUND(cov / varx, 6) + 0.0 ELSE 0.0 END AS slope,
       CASE WHEN varx > 0
            THEN ROUND((sy - (cov / varx) * sx) / k, 6) + 0.0
            ELSE 0.0 END AS intercept,
       CASE WHEN varx > 0 AND vary > 0
            THEN ROUND(cov * cov / (varx * vary), 6) + 0.0
            ELSE 0.0 END AS r2
FROM f
"""


LDIV_L = 3  # sensitive-attribute diversity floor; oracle uses this


def l_diversity_report(documents: DataFrame, l: int = LDIV_L) -> DataFrame:
    """(source, n_rows, n_distinct_langs, meets_l) — l-diversity
    audit (Machanavajjhala et al. 2007): k-anonymity's complement.
    A quasi-identifier class can be large (k-anonymous) yet still
    leak if everyone in it shares the sensitive value — the
    homogeneity attack. Here each source's rows must span at least
    ``l`` distinct values of the sensitive attribute (lang).
    One aggregation; per-class distinct state is bounded by the
    sensitive attribute's domain, not the corpus."""
    return documents.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("lang").alias("n_distinct_langs"),
        (F.countDistinct("lang") >= l).alias("meets_l"),
    )


def sql_l_diversity_report(l: int = LDIV_L) -> str:
    """DuckDB oracle for ``l_diversity_report``."""
    return f"""
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_distinct_langs,
       COUNT(DISTINCT lang) >= {l} AS meets_l
FROM documents GROUP BY source
"""


TCLOSE_T_MICRO = 200_000  # TV-distance release gate: t = 0.2


def t_closeness_report(
    documents: DataFrame, t_micro: int = TCLOSE_T_MICRO
) -> DataFrame:
    """(source, n_rows, n_langs_present, tv_micro, meets_t) —
    t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007): the
    third privacy release gate after ``k_anonymity_report`` (class
    size) and ``l_diversity_report`` (distinct sensitive values).
    l-diversity still leaks under the SKEWNESS attack — a class can
    span many sensitive values yet have a distribution wildly
    different from the corpus (e.g. 90% of one rare lang), which is
    itself the disclosure. t-closeness bounds, per quasi-identifier
    class (source), the distance between the class's sensitive-
    attribute (lang) distribution and the GLOBAL one; for categorical
    attributes the distance is total variation:
    TV = ½ Σ_v |p_class(v) − p_global(v)|.

    Output contract (COVERAGE.md encoding rule): deviations quantize
    per CELL — dev_micro(v) = floor(|p_c − p_g|·1e6 + 0.5), then
    tv_micro = Σ_v dev_micro // 2. Summing already-quantized BIGINTs
    makes the aggregate order-independent (each cell value is one
    abs + one subtraction over two single divisions of exact
    integers), so no engine can drift on float summation order; the
    ≤ ½·|langs| micro-unit quantization bias is noise at 1e-6
    granularity.

    Scale: one hash aggregation on (source, lang) — the planning
    state is #sources × #langs rows regardless of corpus size; the
    grid completion (langs absent from a class contribute p_global)
    is a broadcast join of two tiny distinct lists."""
    from ..functions.portable import micro

    cls = documents.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("__n")
    )
    src_tot = cls.groupBy("source").agg(F.sum("__n").alias("__n_src"))
    lang_tot = cls.groupBy("lang").agg(F.sum("__n").alias("__n_lang"))
    grand = cls.agg(F.sum("__n").alias("__n_all"))
    grid = (
        src_tot.crossJoin(F.broadcast(lang_tot))
        .join(cls, ["source", "lang"], "left_outer")
        .crossJoin(F.broadcast(grand))
    )
    p_c = F.coalesce(F.col("__n"), F.lit(0)).cast("double") / F.col(
        "__n_src"
    ).cast("double")
    p_g = F.col("__n_lang").cast("double") / F.col("__n_all").cast("double")
    dev_micro = micro(F.abs(p_c - p_g))
    return (
        grid.groupBy("source")
        .agg(
            F.max("__n_src").alias("n_rows"),
            F.sum(F.when(F.col("__n").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_langs_present"),
            (F.sum(dev_micro) / F.lit(2)).cast("long").alias("tv_micro"),
        )
        .select(
            "source",
            "n_rows",
            "n_langs_present",
            "tv_micro",
            (F.col("tv_micro") <= t_micro).alias("meets_t"),
        )
    )


def sql_t_closeness_report(t_micro: int = TCLOSE_T_MICRO) -> str:
    """DuckDB oracle for ``t_closeness_report`` — identical per-cell
    quantization, identical integer halving."""
    return f"""
WITH cls AS (SELECT source, lang, COUNT(*) AS n
             FROM documents GROUP BY 1, 2),
st AS (SELECT source, SUM(n) AS n_src FROM cls GROUP BY 1),
lt AS (SELECT lang, SUM(n) AS n_lang FROM cls GROUP BY 1),
g AS (SELECT SUM(n) AS n_all FROM cls),
grid AS (SELECT st.source, lt.lang, st.n_src, lt.n_lang, cls.n
         FROM st CROSS JOIN lt
         LEFT JOIN cls ON cls.source = st.source AND cls.lang = lt.lang),
cells AS (SELECT source, n_src,
                 CASE WHEN n IS NOT NULL THEN 1 ELSE 0 END AS present,
                 CAST(FLOOR(abs(CAST(COALESCE(n, 0) AS DOUBLE)
                                / CAST(n_src AS DOUBLE)
                                - CAST(n_lang AS DOUBLE)
                                / CAST(g.n_all AS DOUBLE)) * 1000000 + 0.5)
                      AS BIGINT) AS dev_micro
          FROM grid, g)
SELECT source,
       CAST(MAX(n_src) AS BIGINT) AS n_rows,
       CAST(SUM(present) AS BIGINT) AS n_langs_present,
       CAST(SUM(dev_micro) // 2 AS BIGINT) AS tv_micro,
       SUM(dev_micro) // 2 <= {t_micro} AS meets_t
FROM cells GROUP BY 1
"""


DP_EPSILON = 1.0  # per-release privacy budget for dp_source_counts


def dp_source_counts(
    documents: DataFrame, epsilon: float = DP_EPSILON
) -> DataFrame:
    """(source, noisy_n_docs_micro, epsilon_micro) — the fourth stage
    of the privacy-release family: after k-anonymity / l-diversity /
    t-closeness GATE a release, this op actually RELEASES per-source
    document counts under the Laplace mechanism (Dwork et al., TCC
    2006): noisy = n_docs + Lap(Δ/ε) with count sensitivity Δ = 1
    (one document moves any single source count by one), via inverse-
    CDF sampling: noise = −b·sign(u−½)·ln(1−2|u−½|).

    SEEDED-NOISE BOUNDARY (same honesty contract as the multimodal
    decode stub): u is drawn from the portable salted hash of the
    source key, so the release is bit-reproducible and
    oracle-checkable — which also means it is NOT differentially
    private as shipped (deterministic noise is no noise; releasing
    twice costs nothing more, but an adversary knowing the salt
    inverts it). A production release swaps u for secure per-release
    randomness; the sensitivity accounting, the mechanism arithmetic,
    the micro encoding, and every plan shape are unchanged. u =
    (hash32 + 0.5)/2^32 is strictly inside (0,1), so ln's argument is
    ≥ 2^-31 — never −inf; u = ½ exactly gives sign 0 → noise 0.

    Output contract: the noisy count ships micro-encoded
    (COVERAGE.md rule); epsilon rides along as integer micro so a
    downstream budget ledger can sum spends. The TRUE count never
    appears in the output.

    Scale: one map-side-combinable count per source plus a per-row
    hash on the #sources-row aggregate — the noise arithmetic costs
    nothing at any corpus size."""
    b = 1.0 / epsilon
    counts = documents.groupBy("source").agg(
        F.count(F.lit(1)).alias("__n_docs")
    )
    u = (hash32(F.col("source"), salt="dp") + F.lit(0.5)) / F.lit(
        4294967296.0
    )
    c = u - F.lit(0.5)
    noise = (F.lit(-b) * F.signum(c)) * F.log(
        F.lit(1.0) - F.lit(2.0) * F.abs(c)
    )
    # The noise (not the final sum) quantizes to a COARSE centi grid
    # first, then the output is assembled in pure integer arithmetic
    # (ADVICE r07): micro(n + noise) would floor a transcendental-
    # tainted double at the fine 1e-6 grid, where a 1-ulp libm-ln
    # difference between the JVM and the oracle engine can flip the
    # floor; at the 1e-2 grid the same 1-ulp difference sits ~1e4x
    # farther from any boundary. Quantization is post-processing of
    # the Laplace mechanism, so the epsilon accounting is unchanged.
    noise_centi = F.floor(noise * F.lit(100.0) + F.lit(0.5)).cast("long")
    return counts.select(
        "source",
        (
            F.col("__n_docs").cast("long") * F.lit(1_000_000)
            + noise_centi * F.lit(10_000)
        ).alias("noisy_n_docs_micro"),
        F.lit(int(round(epsilon * 1_000_000))).cast("long").alias(
            "epsilon_micro"
        ),
    )


def sql_dp_source_counts(epsilon: float = DP_EPSILON) -> str:
    """DuckDB oracle for ``dp_source_counts`` — identical hash-seeded
    uniform, identical mechanism arithmetic and parenthesization (the
    product order matters for bit-exact doubles)."""
    from ..functions.portable import sql_hash32

    b = 1.0 / epsilon
    u = f"(({sql_hash32('source', salt='dp')}) + 0.5) / 4294967296.0"
    noise = (
        f"(({-b!r}) * sign(({u}) - 0.5))"
        f" * ln(1.0 - 2.0 * abs(({u}) - 0.5))"
    )
    # noise quantized to the centi grid, output assembled as pure
    # integer arithmetic — mirrors the Spark side (ADVICE r07)
    noise_centi = f"CAST(FLOOR(({noise}) * 100.0 + 0.5) AS BIGINT)"
    return f"""
WITH counts AS (SELECT source, COUNT(*) AS n_docs
                FROM documents GROUP BY 1)
SELECT source,
       CAST(n_docs * 1000000 + {noise_centi} * 10000 AS BIGINT)
         AS noisy_n_docs_micro,
       CAST({int(round(epsilon * 1_000_000))} AS BIGINT) AS epsilon_micro
FROM counts
"""


def quality_psi_by_source(
    documents: DataFrame, n_buckets: int = 10
) -> DataFrame:
    """(source, n_baseline, n_current, psi) — PSI of the QUALITY
    distribution between the already-ingested corpus and the
    incoming batch, per source (fixture split doc_id % 5 == 0 = the
    new batch, shared with incremental_dedup): the admission-side
    drift gate. A source whose new batch scores like its history
    admits quietly; one whose quality distribution slid (scraper
    broke, spam flood, template change) alarms BEFORE the batch
    pollutes the corpus — the distributional complement to the
    per-document thresholds in corpus_funnel.

    Buckets are the quality score's own [0,1] range in fixed 0.1
    steps (engine-portable, no quantile estimation); the PSI
    arithmetic is the shared ``psi_from_bucket_counts`` core, so
    batch, streaming, and admission monitors all agree on what PSI
    means. One text scan computes the score; state is
    #sources × n_buckets."""
    corpus = documents.filter(F.col("doc_id") % 5 != 0)
    batch = documents.filter(F.col("doc_id") % 5 == 0)
    return quality_psi_frames(batch, corpus, n_buckets)


def _quality_bucket(n_buckets: int = 10) -> F.Column:
    q = _quality_column()
    return (
        F.least(
            F.lit(n_buckets - 1),
            F.greatest(F.lit(0), F.floor(q * n_buckets)),
        )
        .cast("int")
    )


def quality_psi_frames(
    batch: DataFrame, corpus: DataFrame, n_buckets: int = 10
) -> DataFrame:
    """The frame-explicit core of ``quality_psi_by_source``: PSI of
    the batch's per-source quality distribution against an arbitrary
    corpus frame — what the streaming admission pipeline calls per
    micro-batch (the registry query fixes the fixture split)."""
    from ..plans.analytics import psi_from_bucket_counts

    bucket = _quality_bucket(n_buckets)
    b = corpus.select("source", bucket.alias("bucket")).groupBy(
        "source", "bucket"
    ).agg(F.count(F.lit(1)).alias("nb"))
    c = batch.select("source", bucket.alias("bucket")).groupBy(
        "source", "bucket"
    ).agg(F.count(F.lit(1)).alias("nc"))
    counts = b.join(c, ["source", "bucket"], "full").fillna(
        0, ["nb", "nc"]
    )
    return psi_from_bucket_counts(counts, n_buckets, key_col="source")


def corpus_datasheet(documents: DataFrame) -> DataFrame:
    """(metric, value) long-format corpus datasheet — the one-page
    "datasheet for datasets" summary a training-data release ships:
    volume (docs, tokens, mean tokens/doc), composition (sources,
    languages), hygiene (exact-duplicate rate), and the quality-score
    quartiles. Single-query composition of the certified building
    blocks so the datasheet can never disagree with the detailed
    reports (same normalized-hash duplicate definition as
    dedup_exact, same logistic quality as quality_scores).

    value is a single BIGINT column: counts ship as-is, fractional
    metrics ship as integer micro-units under ``*_micro`` metric
    names (COVERAGE.md "Oracle encoding rule" — a heterogeneous
    double column was the hash-drift shape r05 flagged).

    Scale: ONE text scan computes every per-doc metric into a narrow
    frame; the duplicate count is a hash-keyed distinct on that frame
    (text never shuffles); quartiles run over the per-doc quality
    column; output is a fixed list of metric rows unpivoted from a
    one-row aggregate with stack()."""
    n_tok = F.size(F.expr("regexp_extract_all(text, '\\\\S+', 0)"))
    # same normalized-hash definition as dedup_exact(normalized=True)
    norm_hash = F.md5(
        F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    )
    q_grid = (
        F.floor(_quality_column() * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    )
    m = documents.select(
        "doc_id",
        "source",
        "lang",
        n_tok.cast("long").alias("__nt"),
        norm_hash.alias("__h"),
        q_grid.alias("__q"),
    )
    one = m.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__nt").alias("n_tokens"),
        micro(F.avg("__nt")).alias("mean_tokens_per_doc_micro"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("__h").alias("__n_uniq"),
        micro(F.expr("percentile(__q, 0.25)")).alias("q25_micro"),
        micro(F.expr("percentile(__q, 0.5)")).alias("q50_micro"),
        micro(F.expr("percentile(__q, 0.75)")).alias("q75_micro"),
    ).withColumn(
        "dup_rate_micro",
        micro(
            (F.col("n_docs") - F.col("__n_uniq")).cast("double")
            / F.col("n_docs")
        ),
    )
    stack = ", ".join(
        f"'{name}', CAST({name} AS BIGINT)"
        for name in (
            "n_docs", "n_tokens", "mean_tokens_per_doc_micro",
            "n_sources", "n_langs", "dup_rate_micro", "q25_micro",
            "q50_micro", "q75_micro",
        )
    )
    return one.selectExpr(f"stack(9, {stack}) AS (metric, value)")


BOILERPLATE_MIN_DOCS = 3


def boilerplate_lines(
    documents: DataFrame, min_docs: int = BOILERPLATE_MIN_DOCS
) -> DataFrame:
    """(line, n_docs, n_occurrences) — normalized sentences appearing
    in at least ``min_docs`` DISTINCT documents: the boilerplate
    census (cookie banners, nav text, license headers) that precedes
    a C4-style line-level cleanup. Sentence granularity reuses
    ``sentence_chunks``' portable splitter so "line" means the same
    thing across the line family; normalization is lower+trim — the
    same-text-different-whitespace collisions stay separate lines
    here because sentence text IS the evidence a reviewer reads.

    Scale: one text scan, per-row split, then a single hash
    aggregation keyed on the normalized line with map-side combine
    (count + distinct-doc count ride together); no window, no join.
    The output is the high-df head of the line distribution —
    tiny by construction."""
    from .scale import ensure_parallelism_for_heavy_scan

    sents = ensure_parallelism_for_heavy_scan(documents).select(
        "doc_id",
        F.explode(
            F.expr(r"regexp_extract_all(text, '[^.!?]+[.!?]?', 0)")
        ).alias("sent"),
    ).select(
        "doc_id", F.lower(F.trim("sent")).alias("line")
    ).filter(F.length("line") > 0)
    return (
        sents.groupBy("line")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def line_dedup(documents: DataFrame) -> DataFrame:
    """(doc_id, n_lines, n_kept, text_deduped) — C4-style GLOBAL
    line-level deduplication: every normalized sentence survives in
    exactly one place corpus-wide — its first occurrence by
    (doc_id, position) — and later occurrences are struck from their
    documents' reassembled text. The line-granularity complement to
    doc-level ``dedup_exact`` and span-level
    ``repeated_substring_spans``: it removes the boilerplate MASS
    (nav bars, footers) that document hashes can't see because the
    surrounding text differs.

    Determinism: "first" is the lexicographically smallest
    (doc_id, idx) struct per normalized line — a MIN aggregate, so
    the winner is engine/partitioning-independent.

    Scale: the first-occurrence table is groupBy(line).agg(min
    (doc_id, idx)) — map-side combinable, so a boilerplate line that
    appears a billion times collapses to per-partition partials and
    NEVER concentrates in one window task (the naive
    row_number-over-line formulation would). The keep decision joins
    sentences back on (line, doc_id, idx) equality; reassembly is the
    sentence_chunks sort-structs-in-aggregate idiom, keyed by doc_id.
    Shuffle volume is bounded by the text itself."""
    from .scale import ensure_parallelism_for_heavy_scan

    sents = (
        ensure_parallelism_for_heavy_scan(documents).select(
            "doc_id",
            F.posexplode(
                F.expr(r"regexp_extract_all(text, '[^.!?]+[.!?]?', 0)")
            ).alias("idx", "sent"),
        )
        .withColumn("sent", F.trim("sent"))
        .filter(F.length("sent") > 0)
        .withColumn("line", F.lower(F.col("sent")))
    )
    first = sents.groupBy("line").agg(
        F.min(F.struct("doc_id", "idx")).alias("__first")
    ).select(
        "line",
        F.col("__first.doc_id").alias("doc_id"),
        F.col("__first.idx").alias("idx"),
        F.lit(True).alias("__keep"),
    )
    marked = sents.join(first, ["line", "doc_id", "idx"], "left")
    per_doc = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.coalesce(F.col("__keep").cast("long"), F.lit(0))).alias(
            "n_kept"
        ),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col("__keep"),
                            F.struct("idx", "sent"),
                        )
                    )
                ),
                lambda s: s["sent"],
            ),
        ).alias("text_deduped"),
    )
    return (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("text_deduped", F.lit("")).alias("text_deduped"),
        )
    )


BOILERPLATE_SHINGLE_MIN_DOCS = 5


def boilerplate_shingles(
    documents: DataFrame, min_docs: int = BOILERPLATE_SHINGLE_MIN_DOCS
) -> DataFrame:
    """(shingle, n_docs, n_occurrences) — word 3-gram spans appearing
    in at least ``min_docs`` DISTINCT documents: the sub-sentence
    boilerplate census (RefinedWeb-style repeated-span detection)
    that catches templated fragments ``boilerplate_lines`` misses
    because the surrounding sentence varies ("all rights reserved
    2023" vs "… 2024"). Shares the dedup family's shingle definition
    (``textprep.word_shingles``) so a span flagged here is the same
    unit LSH banded.

    Scale: identical shape to boilerplate_lines — explode, one hash
    aggregation on the shingle with map-side combine (distinct-doc
    count + raw count together), high-df head out. The candidate
    removal step is then a broadcast semi-join of this small table
    against the corpus, never a self-join."""
    from .scale import ensure_parallelism_for_heavy_scan
    from .textprep import word_shingles

    sh = ensure_parallelism_for_heavy_scan(documents).select(
        "doc_id", F.explode(word_shingles("text")).alias("shingle")
    )
    return (
        sh.groupBy("shingle")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def strip_boilerplate(
    documents: DataFrame, min_docs: int = BOILERPLATE_MIN_DOCS
) -> DataFrame:
    """(doc_id, n_lines, n_struck, text_clean) — the C4 cleanup
    ACTION the ``boilerplate_lines`` census plans for: strike every
    line whose normalized form appears in ≥ ``min_docs`` distinct
    documents from EVERY document (unlike ``line_dedup``, which
    keeps the first copy — boilerplate is noise everywhere, not
    content that deserves one survivor).

    Scale: the census side reduces to (line, n_docs ≥ min_docs) —
    the high-df head, tiny by construction — before joining back to
    the sentence frame, so the join's build side is the boilerplate
    set, not the corpus; reassembly is the shared sort-structs
    aggregate. One text scan feeds both sides via the lazily
    checkpointed sentence frame (no second regex pass)."""
    from .scale import ensure_parallelism_for_heavy_scan

    sents = (
        ensure_parallelism_for_heavy_scan(documents)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(r"regexp_extract_all(text, '[^.!?]+[.!?]?', 0)")
            ).alias("idx", "sent"),
        )
        .withColumn("sent", F.trim("sent"))
        .filter(F.length("sent") > 0)
        .withColumn("line", F.lower(F.col("sent")))
        .localCheckpoint(eager=False)
    )
    bp = (
        sents.groupBy("line")
        .agg(F.countDistinct("doc_id").alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("line", F.lit(True).alias("__bp"))
    )
    marked = sents.join(F.broadcast(bp), "line", "left")
    per_doc = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.coalesce(F.col("__bp").cast("long"), F.lit(0))).alias(
            "n_struck"
        ),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("__bp").isNull(), F.struct("idx", "sent"))
                    )
                ),
                lambda s: s["sent"],
            ),
        ).alias("text_clean"),
    )
    return (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            F.coalesce("n_struck", F.lit(0)).alias("n_struck"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
    )


def quality_ks_by_source(documents: DataFrame) -> DataFrame:
    """(source, n_docs, d_stat_micro) — exact two-sample
    Kolmogorov-Smirnov D between each source's quality distribution
    and the whole corpus: D = sup over x of
    |ECDF_source(x) − ECDF_corpus(x)|. The UNBINNED companion to
    ``quality_psi_by_source``: PSI's fixed 0.1 buckets can hide a
    shift that stays inside one bucket; the KS sup-norm sees any
    distributional difference an ECDF can express, with no binning
    choice to defend.

    Exactness discipline: quality lands on the integer micro grid
    first (floor(q·10⁶ + 0.5) — the encoding rule), so the ECDF step
    points, the cumulative counts, and the final D arithmetic are
    all integer-derived and engine-identical; D ships as micro
    units. The sup is evaluated at every distinct corpus grid value
    — sufficient, since both ECDFs only step there.

    Scale: one text scan → (source, q_micro) counts (map-side
    combine). The evaluation frame is #sources × #distinct grid
    values (structurally capped at sources × 10⁶+1 — the same
    grid-bounded-state argument as the HLL's 2^p registers); source
    cumsums partition by source, and the single corpus cumsum is a
    deliberate tiny-global window over the ≤10⁶+1-row grid, never
    over documents."""
    from pyspark.sql import Window

    from .scale import ensure_parallelism_for_heavy_scan

    qm = F.floor(
        _quality_column() * F.lit(1_000_000.0) + F.lit(0.5)
    ).cast("long")
    scored = ensure_parallelism_for_heavy_scan(documents).select(
        "source", qm.alias("qm")
    )
    sq = scored.groupBy("source", "qm").agg(
        F.count(F.lit(1)).alias("c_s")
    )
    return ks_report_from_quality_counts(sq)


def ks_report_from_quality_counts(sq: DataFrame) -> DataFrame:
    """The source-vs-corpus KS arithmetic core over an already-
    aggregated (source, qm, c_s) quality-grid count table — shared
    verbatim by ``quality_ks_by_source`` and the streaming twin
    (``streaming.drift.streaming_quality_counts``). The corpus ECDF
    is derived from the same table (sum over sources), so the two
    monitors cannot disagree; input size is sources × occupied grid
    values, never document volume."""
    from pyspark.sql import Window

    grid = sq.groupBy("qm").agg(F.sum("c_s").alias("c_all"))
    w_corp = Window.orderBy("qm").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    grid_cum = grid.select(
        "qm", F.sum("c_all").over(w_corp).alias("cum_all")
    )
    sources = sq.groupBy("source").agg(F.sum("c_s").alias("n_s"))
    frame = sources.crossJoin(grid_cum).join(
        sq, ["source", "qm"], "left"
    ).select(
        "source",
        "qm",
        "n_s",
        "cum_all",
        F.coalesce("c_s", F.lit(0)).alias("c_s"),
    )
    w_src = (
        Window.partitionBy("source")
        .orderBy("qm")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    total = grid.agg(F.sum("c_all").alias("n_all"))
    diff = F.abs(
        F.sum("c_s").over(w_src).cast("double") / F.col("n_s")
        - F.col("cum_all").cast("double") / F.col("n_all")
    )
    return (
        frame.crossJoin(F.broadcast(total))
        .select("source", F.col("n_s").alias("n_docs"), diff.alias("__d"))
        .groupBy("source", "n_docs")
        .agg(
            F.floor(F.max("__d") * F.lit(1_000_000.0) + F.lit(0.5))
            .cast("long")
            .alias("d_stat_micro")
        )
    )


DUPQ_MAX_BUCKET = 5  # duplicate-count bucket cap: 5 = "5 or more copies"


def dup_quality_report(
    documents: DataFrame, max_bucket: int = DUPQ_MAX_BUCKET
) -> DataFrame:
    """(n_copies_bucket, n_groups, n_docs, mean_quality_micro) —
    curation analytics BRIDGING the dedup and quality families: is
    duplicated content lower-quality than unique content? The
    question behind every dedup-before-or-after-filter ordering
    decision — if heavily-copied docs score systematically lower,
    exact dedup is also a quality filter and the pipeline can run it
    first and spend the expensive quality pass on fewer rows;
    flat buckets say the two passes are independent and order by
    cost alone. Bucket = LEAST(n_copies, max_bucket).

    Scale: ONE projection computes the md5 content hash and the
    micro quality score together (the text is scanned once and
    never shuffles — only (16-byte hash, long) pairs move); one
    hash aggregation per content group, then a bucket-grid
    aggregate. Means are sum-of-micro-longs DIV counts — integer,
    order-independent."""
    from ..functions.portable import micro

    base = documents.select(
        F.md5("text").alias("text_hash"),
        micro(_quality_raw_column()).alias("__q_u"),
    )
    per_hash = base.groupBy("text_hash").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.sum("__q_u").alias("__sq"),
    )
    return (
        per_hash.groupBy(
            F.least(F.col("n_copies"), F.lit(max_bucket))
            .cast("int")
            .alias("n_copies_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("n_copies").cast("long").alias("n_docs"),
            F.sum("__sq").alias("__ssq"),
        )
        .select(
            "n_copies_bucket",
            "n_groups",
            "n_docs",
            F.expr("CAST(__ssq DIV n_docs AS BIGINT)").alias(
                "mean_quality_micro"
            ),
        )
    )


def sql_dup_quality_report(max_bucket: int = DUPQ_MAX_BUCKET) -> str:
    """DuckDB oracle for ``dup_quality_report`` — the quality
    expression is byte-compatible with the certified quality_scores
    oracle (same logistic, same micro flooring)."""
    from .textprep import sql_words

    sw = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    return f"""
WITH m AS (
  SELECT md5(text) AS text_hash,
         CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) AS n_tok,
         CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE) AS n_punct,
         CAST(len(list_filter({sql_words('text')}, w -> w IN ({sw}))) AS DOUBLE) AS n_stop,
         CAST(length(text) AS DOUBLE) AS n_chars
  FROM documents),
q AS (SELECT text_hash,
             CAST(FLOOR((1.0 / (1.0 + exp(-(-2.0 + 0.02 * n_tok
                   + 4.0 * (n_stop / n_tok) - 8.0 * (n_punct / n_chars)
                   - 0.1 * abs((n_chars - (n_tok - 1)) / n_tok - 5.0)))))
                   * 1000000 + 0.5) AS BIGINT) AS q_u
      FROM m),
ph AS (SELECT text_hash, COUNT(*) AS n_copies, SUM(q_u) AS sq
       FROM q GROUP BY 1)
SELECT CAST(LEAST(n_copies, {max_bucket}) AS INT) AS n_copies_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(n_copies) AS BIGINT) AS n_docs,
       CAST(SUM(sq) // SUM(n_copies) AS BIGINT) AS mean_quality_micro
FROM ph GROUP BY 1
"""
