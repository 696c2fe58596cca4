"""Lexical retrieval over the `documents` table: BM25 ranked top-k
and positional phrase search — the text-side complement to the
embedding ANN family (`operators/similarity.py`). A 100 TB corpus
engine needs both retrieval modalities: vector search for semantic
neighbors, term/phrase search for exact lexical recall (grepping a
pretraining corpus for a benchmark string, auditing PII hits,
retrieving citations).

Everything is declarative DataFrame ops over the shared tokenizer
(`textprep.words` — identical to the dedup/surprisal family, with the
same DuckDB twin), so both queries carry exact oracles.

Scale notes (100 TB):
- BM25 prunes at the SCAN: tokens are filtered to the query's terms
  before any shuffle, so corpus-wide work is one tokenize pass plus a
  doc-length aggregation (map-side combined). The per-(doc, term)
  frequency table that actually shuffles is bounded by the query
  terms' posting sizes, not the corpus.
- Phrase search runs on the positional postings relation
  (term, doc_id, pos) — the inverted-index shape. Adjacency is an
  equi-join on (doc_id, pos±j), never a string scan. For a standing
  corpus you'd persist `build_postings` bucketed by term
  (`DataFrameWriter.bucketBy`) so every phrase query prunes to its
  terms' buckets; here the postings are built inline from the same
  scan-side term filter.
- Corpus scalars (N, avgdl) are one-row aggregates broadcast into the
  scoring join — the standard tiny-side crossJoin(broadcast(...))
  discipline used repo-wide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textprep import words

BM25_K1 = 1.2
BM25_B = 0.75
BM25_K = 10

# Fixed benchmark queries (registry + oracle twins are generated from
# this same dict). Terms are drawn from the fixture vocabulary so the
# queries exercise real posting lists.
BM25_QUERIES: dict[str, str] = {
    "q1": "table scan fast",
    "q2": "window merge sort",
    "q3": "customer order value",
}

PHRASE = "table scan"


def query_term_pairs(qs: dict[str, str]) -> list[tuple[str, str]]:
    """Distinct (query_id, term) pairs, sorted — the one tokenization
    of the query set, shared by the Spark plan AND the oracle-SQL
    generator so both engines score the identical term multiset."""
    return sorted({(qid, t) for qid, qtext in qs.items() for t in qtext.lower().split()})


def _toks(documents: DataFrame) -> DataFrame:
    """(doc_id, term) token stream — one tokenize pass, no shuffle.
    Deliberately NOT repartitioned: bm25's tf branch filters to the
    query terms right after the explode, and a pre-explode shuffle
    would ship full text to buy parallelism the filter makes moot
    (measured 2.3 s vs 1.0 s at sf0.1)."""
    return documents.select(
        "doc_id", F.explode(words("text")).alias("term")
    )


def bm25_topk(documents: DataFrame, queries: dict[str, str] | None = None) -> DataFrame:
    """BM25 top-k documents per query. Output: (query_id, doc_id,
    score, rank), rank 1..k by (score desc, doc_id asc).

    Uses the Lucene-style always-positive idf
    ``ln(1 + (N - df + 0.5) / (df + 0.5))`` so stop-wordy query terms
    degrade toward zero instead of going negative, and the standard
    tf saturation ``tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))``, with
    k1 = ``BM25_K1`` and b = ``BM25_B`` (Robertson/Spärck Jones; the
    exact formula Lucene ships).

    Scores are rounded to 6 decimals BEFORE ranking so the ranking is
    reproducible cross-engine (the oracle twin ranks the same rounded
    value; float summation order may differ in the last ulp).

    Per-query ranking is a window partitioned by query_id; its
    partition holds only docs containing >= 1 query term (the
    candidate set), which is posting-list-sized, not corpus-sized.
    """
    qs = queries or BM25_QUERIES
    spark = documents.sparkSession
    pairs = query_term_pairs(qs)
    qterms = spark.createDataFrame(pairs, "query_id string, term string")
    all_terms = sorted({t for _, t in pairs})

    toks = _toks(documents)
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        toks.filter(F.col("term").isin(all_terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    contrib = (
        idf
        * F.col("tf")
        * F.lit(BM25_K1 + 1.0)
        / (
            F.col("tf")
            + F.lit(BM25_K1)
            * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_tbl), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(contrib), 6).alias("score"))
    )
    from pyspark.sql import Window

    rank = F.row_number().over(
        Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("doc_id")
        )
    )
    return (
        scored.withColumn("rank", rank)
        .filter(F.col("rank") <= BM25_K)
        .select("query_id", "doc_id", "score", "rank")
    )


RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
HYBRID_M = 20  # per-modality shortlist depth fed into the fusion
HYBRID_K = 10  # fused results returned per query


def lexical_topk(documents: DataFrame) -> DataFrame:
    """More-like-this lexical ranking: for each query document
    (doc_id < 10), the top-m corpus docs by word-shingle
    Jaccard (self excluded). Output: (query_id, doc_id, jaccard,
    lex_rk).

    Scale: the query side is 10 docs' shingles — broadcast-
    sized — so the corpus shingle table is scanned once and joined
    against a tiny build side; fan-out per query shingle is that
    shingle's posting length.

    r10 re-plan (guide §6 — one scan, not three): the corpus shingle
    table fed three consumers (sizes, the query slice, the posting
    join), each of which re-ran the tokenize+shingle scan. It is now
    materialized ONCE (localCheckpoint at construction; persist on a
    cluster) and the query slice shingles only the 10
    documents (filter pushed BELOW the per-row shingle work — same
    rows, since shingling is per-row). Same values everywhere:
    _doc_shingles is a pure per-row function, so filter-then-shingle
    == shingle-then-filter."""
    from pyspark.sql import Window

    from .dedup import _doc_shingles
    from .scale import ensure_parallelism

    sh = _doc_shingles(ensure_parallelism(documents)).localCheckpoint(
        eager=True
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    qs = _doc_shingles(documents.filter(F.col("doc_id") < 10)).select(
        F.col("doc_id").alias("query_id"), "shingle"
    )
    inter = (
        sh.join(F.broadcast(qs), "shingle")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sq = sizes.select(F.col("doc_id").alias("query_id"), F.col("n_sh").alias("sq"))
    sd = sizes.select("doc_id", F.col("n_sh").alias("sd"))
    scored = (
        inter.join(F.broadcast(sq), "query_id")
        .join(sd, "doc_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("sq") + F.col("sd") - F.col("n_inter")),
                6,
            ),
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("query_id").orderBy(
            F.col("jaccard").desc(), F.col("doc_id")
        )
    )
    return (
        scored.withColumn("lex_rk", rk)
        .filter(F.col("lex_rk") <= HYBRID_M)
        .select("query_id", "doc_id", "jaccard", "lex_rk")
    )


def hybrid_search_rrf(documents: DataFrame, embeddings: DataFrame) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (Cormack et al. 2009)
    of the semantic shortlist (exact cosine kNN over embeddings) and
    the lexical shortlist (word-shingle Jaccard), for the shared
    query set (doc_id == vec_id < 10, the similarity family's
    convention). Output: (query_id, doc_id, rrf_score, rank).

    rrf(d) = Σ_modality 1/(RRF_K + rank_modality(d)) over the top-m of
    each modality — rank fusion needs no score calibration between
    cosine and Jaccard, which is exactly why RRF is the default fuser
    in production hybrid search. A doc surfaced by BOTH modalities
    outranks docs surfaced by one: vector recall catches paraphrase,
    lexical recall catches exact terms — fusing them is the standard
    retrieval stack for RAG/curation over a large corpus.

    Scale: both shortlists are top-m per query (tiny); the fusion is
    a full outer join of two (n_queries × HYBRID_M)-row tables."""
    from .similarity import knn_bruteforce

    sem = knn_bruteforce(embeddings, k=HYBRID_M).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rk").alias("sem_rk"),
    )
    lex = lexical_topk(documents).select("query_id", "doc_id", "lex_rk")
    fused = sem.join(lex, ["query_id", "doc_id"], "full")
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("sem_rk")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rk")), F.lit(0.0)),
        6,
    )
    from pyspark.sql import Window

    rank = F.row_number().over(
        Window.partitionBy("query_id").orderBy(
            F.col("rrf_score").desc(), F.col("doc_id")
        )
    )
    return (
        fused.withColumn("rrf_score", rrf)
        .withColumn("rank", rank)
        .filter(F.col("rank") <= HYBRID_K)
        .select("query_id", "doc_id", "rrf_score", "rank")
    )


def build_postings(documents: DataFrame) -> DataFrame:
    """Positional postings (term, doc_id, pos), pos 1-based in token
    order — the inverted-index relation. Zero shuffle: one tokenize
    pass. Persist bucketed by term for a standing index."""
    from .scale import ensure_parallelism

    return ensure_parallelism(documents).select(
        "doc_id", F.posexplode(words("text")).alias("pos", "term")
    ).select("term", "doc_id", (F.col("pos") + 1).alias("pos"))


def phrase_search(documents: DataFrame, phrase: str = PHRASE) -> DataFrame:
    """Exact phrase match via positional-postings adjacency joins.
    Output: (doc_id, n_matches, first_pos) for docs containing the
    phrase as consecutive tokens (overlapping occurrences counted).

    The indexed path: postings are filtered to the phrase's terms AT
    THE SCAN (predicate pushdown — the corpus never shuffles), then
    occurrence positions of term j are aligned to the anchor via an
    equi-join on (doc_id, pos - j). tests/test_retrieval.py proves
    this equals the brute-force array scan (`phrase_scan`), the
    index-equals-scan guarantee an index path owes its users.
    """
    terms = phrase.lower().split()
    if not terms:
        raise ValueError("phrase must contain at least one token")
    post = build_postings(documents).filter(F.col("term").isin(sorted(set(terms))))
    m = post.filter(F.col("term") == terms[0]).select("doc_id", "pos")
    for j, t in enumerate(terms[1:], start=1):
        pj = post.filter(F.col("term") == t).select(
            "doc_id", (F.col("pos") - j).alias("pos")
        )
        m = m.join(pj, ["doc_id", "pos"])
    return m.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min("pos").cast("int").alias("first_pos"),
    )


def phrase_scan(documents: DataFrame, phrase: str = PHRASE) -> DataFrame:
    """Brute-force twin of phrase_search: per-row array scan, no
    index. Same output schema. Exists to prove the indexed path exact
    (and as the one-shot path when no postings are worth building)."""
    terms = phrase.lower().split()
    n = len(terms)
    for t in terms:
        # terms are interpolated into an expression string (unlike
        # phrase_search's isin, which binds values safely) — reject
        # anything that could terminate the literal
        if "'" in t or "\\" in t:
            raise ValueError(f"phrase term {t!r} contains a quote/backslash")
    # positions are 1-based (matching the postings relation); Spark
    # array subscripts are 0-based, hence the [i + j - 1]
    cond = " AND ".join(
        f"__ws[i + {j} - 1] = '{t}'" for j, t in enumerate(terms)
    )
    hits = F.expr(
        f"filter(sequence(1, size(__ws) - {n - 1}), i -> {cond})"
    )
    return (
        documents.select("doc_id", words("text").alias("__ws"))
        .filter(F.size("__ws") >= n)
        .select("doc_id", hits.alias("__hits"))
        .filter(F.size("__hits") > 0)
        .select(
            "doc_id",
            F.size("__hits").cast("long").alias("n_matches"),
            F.array_min("__hits").cast("int").alias("first_pos"),
        )
    )


def retrieval_eval(
    documents: DataFrame,
    queries: dict[str, str] | None = None,
) -> DataFrame:
    """(query_id, n_relevant, first_rel_rank, rr_u) — retrieval
    QUALITY metrics for the BM25 ranker: reciprocal rank of the
    first relevant document inside the top-k, per query. The eval
    harness every retrieval stack needs before its shortlists feed
    RAG or hard-negative mining — a ranker change that silently
    pushes the first relevant hit below the shortlist is invisible
    to the ranking queries themselves and is exactly what this
    meter catches.

    Relevance is DETERMINISTIC AND-semantics: a document is relevant
    to a query iff it contains every distinct query term (the
    strictest lexical ground truth derivable from the corpus itself
    — no human labels in scope; ~265 docs/query on the sf0.01
    fixture, so the metric is non-vacuous). rr_u = 1e6 DIV rank is
    integer-exact; a query whose top-k contains no relevant doc
    reports rank 0 / rr 0.

    Scale: the relevance set is computed from the SAME
    posting-filtered token stream bm25 scores (filter to query terms
    right after the explode — candidate-sized, not corpus-sized);
    the AND check is one count-distinct against the broadcast
    per-query term count; the final frame is |queries| rows."""
    qs = queries or BM25_QUERIES
    spark = documents.sparkSession
    pairs = query_term_pairs(qs)
    qterms = spark.createDataFrame(pairs, "query_id string, term string")
    nq = qterms.groupBy("query_id").agg(
        F.countDistinct("term").alias("n_terms")
    )
    all_terms = sorted({t for _, t in pairs})
    dterm = (
        _toks(documents)
        .filter(F.col("term").isin(all_terms))
        .distinct()
    )
    rel = (
        dterm.join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.countDistinct("term").alias("__nm"))
        .join(F.broadcast(nq), "query_id")
        .filter(F.col("__nm") == F.col("n_terms"))
        .select("query_id", "doc_id")
        .localCheckpoint(eager=True)  # feeds the count AND the rank join
    )
    topk = bm25_topk(documents, qs)
    first = (
        topk.join(rel, ["query_id", "doc_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.min("rank").alias("first_rel_rank"))
    )
    nrel = rel.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_relevant")
    )
    qids = spark.createDataFrame(
        [(q,) for q in sorted(qs)], "query_id string"
    )
    return (
        qids.join(nrel, "query_id", "left")
        .join(first, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_relevant", F.lit(0)).cast("long").alias(
                "n_relevant"
            ),
            F.coalesce("first_rel_rank", F.lit(0)).cast("int").alias(
                "first_rel_rank"
            ),
            F.expr(
                "CAST(CASE WHEN first_rel_rank IS NULL THEN 0"
                " ELSE 1000000 DIV first_rel_rank END AS BIGINT)"
            ).alias("rr_u"),
        )
    )


def retrieval_ndcg(
    documents: DataFrame,
    queries: dict[str, str] | None = None,
) -> DataFrame:
    """(query_id, n_relevant, dcg_micro, idcg_micro, ndcg_micro) —
    nDCG@k for the BM25 ranker under the same deterministic
    AND-relevance as ``retrieval_eval`` (binary gains): DCG sums
    1/log2(rank+1) over relevant in-shortlist positions, IDCG is the
    same sum over the first min(n_relevant, k) positions, and nDCG
    is their ratio. MRR sees only the FIRST relevant hit; nDCG
    grades the whole shortlist — a ranker that nails rank 1 but
    buries the rest looks perfect to MRR and mediocre here.

    Encoding: each 1/log2(rank+1) TERM quantizes to micro BIGINT
    BEFORE the sum (the t_closeness_report discipline), so DCG/IDCG
    are sums of longs — order-independent, no float-summation drift
    between engines; the only float op per cell is log2 of a small
    integer. ndcg_micro = dcg_u·1e6 DIV idcg_u — integer division.
    A query with no relevant docs reports 0/0/0 rather than
    dropping.

    Scale: identical dataflow to retrieval_eval (posting-filtered
    relevance, semi-join into the certified top-k shortlist), plus
    one |queries|-row aggregate — nothing corpus-sized."""
    qs = queries or BM25_QUERIES
    spark = documents.sparkSession
    pairs = query_term_pairs(qs)
    qterms = spark.createDataFrame(pairs, "query_id string, term string")
    nq = qterms.groupBy("query_id").agg(
        F.countDistinct("term").alias("n_terms")
    )
    all_terms = sorted({t for _, t in pairs})
    dterm = (
        _toks(documents).filter(F.col("term").isin(all_terms)).distinct()
    )
    rel = (
        dterm.join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.countDistinct("term").alias("__nm"))
        .join(F.broadcast(nq), "query_id")
        .filter(F.col("__nm") == F.col("n_terms"))
        .select("query_id", "doc_id")
        .localCheckpoint(eager=True)  # feeds the count AND the rank join
    )
    topk = bm25_topk(documents, qs)
    term_u = F.floor(
        F.lit(1_000_000.0) / F.log2(F.col("rank") + F.lit(1.0)) + F.lit(0.5)
    ).cast("long")
    dcg = (
        topk.join(rel, ["query_id", "doc_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.sum(term_u).alias("__dcg_u"))
    )
    nrel = rel.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_relevant")
    )
    # ideal DCG: relevant docs packed into ranks 1..min(n_relevant, k)
    idcg = nrel.select(
        "query_id",
        F.expr(
            f"aggregate(sequence(1, int(least(n_relevant, {BM25_K}))),"
            " cast(0 as bigint),"
            " (acc, i) -> acc"
            " + CAST(FLOOR(1000000.0 / log2(i + 1.0) + 0.5) AS BIGINT))"
        ).alias("__idcg_u"),
    )
    qids = spark.createDataFrame(
        [(q,) for q in sorted(qs)], "query_id string"
    )
    return (
        qids.join(nrel, "query_id", "left")
        .join(dcg, "query_id", "left")
        .join(idcg, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_relevant", F.lit(0)).cast("long").alias(
                "n_relevant"
            ),
            F.coalesce("__dcg_u", F.lit(0)).cast("long").alias("dcg_micro"),
            F.coalesce("__idcg_u", F.lit(0)).cast("long").alias(
                "idcg_micro"
            ),
            F.expr(
                "CAST((COALESCE(__dcg_u, 0) * 1000000)"
                " DIV GREATEST(COALESCE(__idcg_u, 0), 1) AS BIGINT)"
            ).alias("ndcg_micro"),
        )
    )
