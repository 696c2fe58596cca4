"""Multinomial Naive Bayes as pure dataflow — classifier training
and scoring with no MLlib, no UDFs, no driver-side math.

The canonical "ML as aggregation" demonstration: training IS a
groupBy (per-class word counts + Laplace smoothing), scoring IS a
join + sum + argmax. Everything stays in Catalyst expressions, so
the classifier trains at scan speed over 100 TB and the model is a
(|vocab| x |classes|)-row table that joins or broadcasts like any
other dimension.

Engine determinism: log-likelihoods are quantized to integer
MICRO-NATS in the model table (same trick as pq_ann_topk's ADC),
so per-document score totals are sums of longs — associative,
map-side combined, bit-identical across engines with no fold-order
discipline. Argmax is a max-struct aggregation with a
lexicographic tie-break.

On the synthetic fixture the ``lang`` column is uncorrelated with
the text (every language draws from the same vocabulary), so
fixture accuracy is chance — the oracle certifies EXACTNESS of the
computation; accuracy-on-signal is pinned by tests on a crafted
corpus where the classes genuinely differ.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textprep import words

MICRO = 1_000_000


def nb_train(documents: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Train the model: returns (loglik, prior) — two plain
    DataFrames a pipeline persists once and reuses across scoring
    batches (the same index-reuse split as
    build_ivf_index/ivf_probe). loglik: (model_lang, word, ll_u);
    prior: (model_lang, prior_u); both in integer micro-nats."""
    tokens = documents.select(
        "lang", F.explode(words("text")).alias("word")
    )
    return _nb_model(documents, tokens)


def nb_classify(
    documents: DataFrame, loglik: DataFrame, prior: DataFrame
) -> DataFrame:
    """Score ``documents`` with a trained model: (doc_id, pred_lang,
    score). Tokens the model never saw are skipped (no vocab row —
    the standard open-vocabulary convention); argmax ties break to
    the lexicographically smallest class. Documents with ZERO known
    tokens (empty text, or all-unseen vocab) carry no evidence and
    are absent from the output — the oracle drops them identically;
    callers wanting prior-only predictions left-join the result."""
    tokens = documents.select(
        "doc_id", F.explode(words("text")).alias("word")
    )
    return _nb_score(tokens, loglik, prior)


def nb_lang_scores(documents: DataFrame) -> DataFrame:
    """Train on the corpus (lang = class), score every document:
    (doc_id, pred_lang, score). score = max over classes of
    ln P(class) + Σ_tokens ln P(word | class), Laplace-smoothed,
    in (rounded) nats. The one-call surface over nb_train +
    nb_classify (shared token frame, so the text splits once).

    Dataflow: tokens → per-(class, word) counts → smoothed
    micro-nat log-likelihood table (one row per class-word); scoring
    aggregates term frequencies per (doc, word) first, joins the
    model on the distinct words, and sums n_w·ll_u per (doc, class)
    → max-struct argmax. The model table is vocab x classes rows —
    broadcastable for any real vocabulary cap; the corpus-sized
    shuffles carry (doc_id, word, n) and (doc_id, class, partial
    long), never text."""
    tokens = documents.select(
        "doc_id", "lang", F.explode(words("text")).alias("word")
    ).localCheckpoint(eager=True)  # feeds model AND scoring below
    loglik, prior = _nb_model(documents, tokens)
    return _nb_score(tokens.select("doc_id", "word"), loglik, prior)


def _nb_model(
    documents: DataFrame, tokens: DataFrame
) -> tuple[DataFrame, DataFrame]:
    wc = tokens.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("n_wc"))
    cc = tokens.groupBy("lang").agg(F.count(F.lit(1)).alias("n_c"))
    vocab = tokens.agg(
        F.countDistinct("word").alias("__v")
    )  # 1 row, broadcast
    # smoothed ln P(w|c) over the FULL vocab x class grid: a word the
    # class never saw must contribute the unseen-word penalty
    # ln(1/(n_c+V)), not silently drop out of that class's sum — the
    # textbook NB bug the grid join prevents. Model size = V x C
    # rows either way.
    grid = tokens.select("word").distinct().crossJoin(F.broadcast(cc))
    loglik = (
        grid.join(wc, ["lang", "word"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col("lang").alias("model_lang"),
            "word",
            F.round(
                F.log(
                    (F.coalesce(F.col("n_wc"), F.lit(0)) + 1)
                    / (F.col("n_c") + F.col("__v"))
                )
                * MICRO,
                0,
            )
            .cast("long")
            .alias("ll_u"),
        )
    )
    n_docs = documents.agg(F.count(F.lit(1)).alias("__n"))
    prior = (
        documents.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs_c"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("lang").alias("model_lang"),
            F.round(F.log(F.col("n_docs_c") / F.col("__n")) * MICRO, 0)
            .cast("long")
            .alias("prior_u"),
        )
    )
    return loglik, prior


def _nb_scored(
    doc_tokens: DataFrame, loglik: DataFrame, prior: DataFrame
) -> DataFrame:
    """(doc_id, model_lang, score_u) — the full per-class score grid
    in integer micro-nats, before any argmax. Shared by the argmax
    scorer and the calibration report (which needs the runner-up)."""
    # Term frequencies FIRST: Σ ll_u over occurrences == Σ n_w·ll_u
    # over distinct words (exact long arithmetic), so the model join
    # fans out distinct (doc, word) pairs — several-fold fewer rows
    # than raw token occurrences on natural text — and the groupBy
    # behind it shrinks identically. The tf aggregation itself is
    # map-side combinable on the scan.
    tf = doc_tokens.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).alias("n_w")
    )
    return (
        tf.join(loglik, "word")  # fan each distinct word out per class
        .groupBy("doc_id", "model_lang")
        .agg(F.sum(F.col("n_w") * F.col("ll_u")).alias("sum_u"))
        .join(F.broadcast(prior), "model_lang")
        .select(
            "doc_id",
            "model_lang",
            (F.col("sum_u") + F.col("prior_u")).alias("score_u"),
        )
    )


def _nb_score(
    doc_tokens: DataFrame, loglik: DataFrame, prior: DataFrame
) -> DataFrame:
    scored = _nb_scored(doc_tokens, loglik, prior)
    # argmax as ONE min-struct aggregation over (-score, lang):
    # highest score wins, ties break to the lexicographically
    # smallest class — matching the oracle's MIN_BY tuple exactly
    best = scored.groupBy("doc_id").agg(
        F.min(F.struct((-F.col("score_u")).alias("neg_u"), "model_lang")).alias(
            "m"
        )
    )
    # integer contract (migrated on its r09 window rotation): the
    # internal arithmetic was ALREADY exact micro-nats (score_u) —
    # ship it directly instead of dividing back to a rounded double
    return best.select(
        "doc_id",
        F.col("m.model_lang").alias("pred_lang"),
        (-F.col("m.neg_u")).cast("long").alias("score_micro"),
    )


def _sql_scored_ctes() -> str:
    """The shared oracle CTE chain ending at ``scored`` (doc_id,
    model_lang, score_u) — consumed by both the argmax oracle and the
    calibration oracle, guaranteeing the two certify the SAME model
    arithmetic."""
    from .textprep import sql_words

    return f"""tokens AS (SELECT doc_id, lang, unnest({sql_words('text')}) AS word
                FROM documents),
wc AS (SELECT lang, word, COUNT(*) AS n_wc FROM tokens GROUP BY 1, 2),
cc AS (SELECT lang, COUNT(*) AS n_c FROM tokens GROUP BY 1),
v AS (SELECT COUNT(DISTINCT word) AS v FROM tokens),
grid AS (SELECT w.word, cc.lang, cc.n_c
         FROM (SELECT DISTINCT word FROM tokens) w CROSS JOIN cc),
loglik AS (SELECT g.lang AS model_lang, g.word,
                  CAST(ROUND(ln((COALESCE(wc.n_wc, 0) + 1.0) / (g.n_c + v.v)) * {MICRO}, 0) AS BIGINT) AS ll_u
           FROM grid g
           LEFT JOIN wc ON wc.lang = g.lang AND wc.word = g.word
           CROSS JOIN v),
nd AS (SELECT COUNT(*) AS n FROM documents),
prior AS (SELECT lang AS model_lang,
                 CAST(ROUND(ln(COUNT(*) * 1.0 / nd.n) * {MICRO}, 0) AS BIGINT) AS prior_u
          FROM documents CROSS JOIN nd GROUP BY 1, nd.n),
scored AS (SELECT t.doc_id, l.model_lang, SUM(l.ll_u) + ANY_VALUE(p.prior_u) AS score_u
           FROM tokens t
           JOIN loglik l ON l.word = t.word
           JOIN prior p ON p.model_lang = l.model_lang
           GROUP BY 1, 2)"""


def sql_nb_lang_scores() -> str:
    """DuckDB oracle for ``nb_lang_scores`` — identical smoothing,
    quantization, and tie-break."""
    return f"""
WITH {_sql_scored_ctes()}
SELECT doc_id, model_lang AS pred_lang,
       CAST(score_u AS BIGINT) AS score_micro
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score_u DESC, model_lang ASC) AS rk
      FROM scored)
WHERE rk = 1
"""


CALIB_MAX_BUCKET = 20  # margins >= this many whole nats share one bin


def calibration_by_margin(documents: DataFrame) -> DataFrame:
    """Classifier RELIABILITY report: does the NB margin actually
    predict correctness? Output one row per confidence bucket:
    (margin_bucket, n_docs, n_correct, acc_u) — the reliability
    diagram / ECE input every quality-classifier pipeline needs
    before its scores gate a 100-TB filter (a miscalibrated
    classifier silently over- or under-filters entire sources).

    Confidence is the INTEGER margin between the top-1 and top-2
    class scores in whole nats (micro-nat difference DIV 1e6,
    clamped to ``CALIB_MAX_BUCKET``) — not a softmax probability: exp()
    of large-magnitude micro-nat sums is engine-dependent float
    territory, while the margin is a difference of longs, so every
    bucket boundary is exact in both engines. Monotone in the
    posterior gap, which is all a reliability ranking needs.
    Documents with zero in-vocabulary tokens carry no evidence and
    are absent (same convention as nb_classify). A single-class
    corpus has no runner-up: COALESCE pins its margin to bucket 0.

    Scale: the per-class score grid is |docs| x |classes| narrow
    rows; the top-2 selection is ONE min-of-two-structs aggregate
    over that grid (|classes| structs per doc, sorted in-task — the
    r09 re-plan; the previous row_number window added a full
    sort-exchange of the grid, and joining documents back for the
    true label added a corpus-sized shuffle join: measured 2 fewer
    exchanges, no per-partition sort). The true label rides the tf
    aggregate as a MAX over a doc-constant column instead. The
    report is |buckets| rows, every aggregate a long — map-side
    combinable end to end. The model table broadcasts as in
    nb_lang_scores."""
    tokens = documents.select(
        "doc_id", "lang", F.explode(words("text")).alias("word")
    ).localCheckpoint(eager=True)  # feeds model AND scoring
    loglik, prior = _nb_model(documents, tokens)
    # same arithmetic as _nb_scored, with the doc-constant true lang
    # carried through both aggregates (MAX of a constant) so no join
    # back to documents is needed for the correctness bit
    tf = tokens.groupBy("doc_id", "word").agg(
        F.count(F.lit(1)).alias("n_w"), F.max("lang").alias("true_lang")
    )
    scored = (
        tf.join(loglik, "word")
        .groupBy("doc_id", "model_lang")
        .agg(
            F.sum(F.col("n_w") * F.col("ll_u")).alias("sum_u"),
            F.max("true_lang").alias("true_lang"),
        )
        .join(F.broadcast(prior), "model_lang")
        .select(
            "doc_id",
            "model_lang",
            (F.col("sum_u") + F.col("prior_u")).alias("score_u"),
            "true_lang",
        )
    )
    # top-2 per doc without a window: collect the |classes| structs,
    # sort ascending by (-score, lang) — identical order to the old
    # (score DESC, lang ASC) row_number — and read slots 0 and 1
    arr = F.sort_array(
        F.collect_list(
            F.struct((-F.col("score_u")).alias("neg_u"), "model_lang")
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        arr.alias("__arr"), F.max("true_lang").alias("true_lang")
    ).select(
        "doc_id",
        F.col("__arr")[0]["model_lang"].alias("pred_lang"),
        (-F.col("__arr")[0]["neg_u"]).alias("s1"),
        F.when(
            F.size("__arr") >= 2, -F.col("__arr")[1]["neg_u"]
        ).alias("s2"),
        "true_lang",
    )
    binned = per_doc.select(
        F.least(
            F.expr(f"(s1 - COALESCE(s2, s1)) DIV {MICRO}"),
            F.lit(CALIB_MAX_BUCKET).cast("long"),
        )
        .cast("int")
        .alias("margin_bucket"),
        (F.col("pred_lang") == F.col("true_lang")).cast("int").alias("ok"),
    )
    return (
        binned.groupBy("margin_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ok").cast("long").alias("n_correct"),
        )
        .select(
            "margin_bucket",
            "n_docs",
            "n_correct",
            F.expr(f"CAST((n_correct * {MICRO}) DIV n_docs AS BIGINT)").alias(
                "acc_u"
            ),
        )
    )


def sql_calibration_by_margin() -> str:
    """DuckDB oracle for ``calibration_by_margin`` — same scored
    CTEs, same integer margin binning (// matches Spark DIV on the
    non-negative margins)."""
    return f"""
WITH {_sql_scored_ctes()},
top2 AS (SELECT doc_id, model_lang, score_u,
                ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score_u DESC, model_lang ASC) AS rk
         FROM scored),
per_doc AS (SELECT doc_id,
                   MAX(CASE WHEN rk = 1 THEN model_lang END) AS pred_lang,
                   MAX(CASE WHEN rk = 1 THEN score_u END) AS s1,
                   MAX(CASE WHEN rk = 2 THEN score_u END) AS s2
            FROM top2 WHERE rk <= 2 GROUP BY 1),
binned AS (SELECT CAST(LEAST((p.s1 - COALESCE(p.s2, p.s1)) // {MICRO},
                             {CALIB_MAX_BUCKET}) AS INT) AS margin_bucket,
                  CASE WHEN p.pred_lang = d.lang THEN 1 ELSE 0 END AS ok
           FROM per_doc p JOIN documents d USING (doc_id))
SELECT margin_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ok) AS BIGINT) AS n_correct,
       CAST((SUM(ok) * {MICRO}) // COUNT(*) AS BIGINT) AS acc_u
FROM binned GROUP BY 1
"""
