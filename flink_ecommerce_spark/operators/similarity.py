"""Embedding similarity search over the `embeddings` table.

- brute-force cosine top-k: the exact baseline. The query set is
  broadcast; scanning the corpus is a pure map (codegen'd array
  math), then a per-query top-k window. At 100 TB this is one pass
  over the corpus with no corpus-side shuffle — the window shuffles
  only (query_id, neighbor, score) tuples.
- LSH (random hyperplane) bucketed ANN: signatures from sign-of-
  projection onto deterministic ±1 hyperplanes (derived from the
  portable hash so the oracle can reproduce them), candidates =
  same-bucket rows, exact cosine re-rank inside the bucket. The
  scale path: corpus is bucketed once (one narrow shuffle), each
  query touches ~1/2^P of the data.
- label centroids: per-dimension mean via posexplode — the shuffle
  carries (label, dim, partial-sum), not vectors.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.portable import micro
from ..functions.vector import (
    cosine_from_parts,
    cosine_sim,
    dot,
    dot_fixed,
    l2_norm,
)

EMB_DIM = 64
N_PLANES = 8  # default LSH hyperplanes → 2^8 buckets
DEFAULT_K = 5
DEFAULT_N_QUERIES = 10
TOPK_BUCKETS = 32


def topk_per_key(
    scored: DataFrame,
    key: str,
    order: list,
    k: int,
    salt_col: str,
) -> DataFrame:
    """EXACT per-key top-k without funneling each key's full candidate
    set through one window task. A plain
    ``row_number() OVER (PARTITION BY key)`` gives only n_keys
    partitions — with 10 queries against a corpus-sized candidate set,
    ten tasks each sort millions of rows (the 10× rehearsal measured
    pq_ann_topk at 43 s on exactly this shape). Two phases fix the
    parallelism: bucket candidates by ``salt_col % TOPK_BUCKETS`` and
    take top-k within each (key, bucket) — key × bucket parallel
    sorts over 1/TOPK_BUCKETS of the rows — then rank the surviving
    ≤ keys × buckets × k rows in the final (tiny) per-key window.
    Identical output to the single-window form: every global top-k
    row is necessarily inside its own bucket's top-k, and the
    ordering (with its deterministic tie-break) is unchanged."""
    w1 = Window.partitionBy(key, "__b").orderBy(*order)
    pre = (
        scored.withColumn("__b", F.pmod(F.col(salt_col), F.lit(TOPK_BUCKETS)))
        .withColumn("__rk1", F.row_number().over(w1))
        .filter(F.col("__rk1") <= k)
        .drop("__b", "__rk1")
    )
    w2 = Window.partitionBy(key).orderBy(*order)
    return pre.withColumn("rk", F.row_number().over(w2)).filter(
        F.col("rk") <= k
    )


def plane_weight(p: int, d: int) -> float:
    """Deterministic ±1 hyperplane weights, reproducible in SQL:
    +1 when hash32(f"plane{p}:dim{d}") is even. (Matches
    functions.portable.hash32 / sql_hash32 exactly.)"""
    h = int(hashlib.md5(f"plane{p}:dim{d}".encode()).hexdigest()[:8], 16)
    return 1.0 if h % 2 == 0 else -1.0


LSH_BUCKET_ROWS = 1024  # rows per LSH bucket that lsh_plan_for aims at


def lsh_plan_for(corpus_size: int) -> tuple[int, int]:
    """Scale-aware (n_planes, n_bands) for the hyperplane LSH ops.

    The near-dup self-join costs Σ(bucket size²); with 2^P buckets the
    expected bucket holds n/2^P rows, so a FIXED P means the
    within-bucket pair count grows quadratically with corpus size.
    Occupancy pinning applies in BOTH directions: P =
    max(1, ceil(log2(n / target))) keeps the expected bucket at
    ~target rows whether the corpus is 2k or 20B vectors. A small
    corpus gets FEW planes — at 2k vectors 8 planes means 8-row
    buckets and near-zero recall (BENCH_DETAIL.json's ANN grid),
    while 1 plane scans ~half the corpus per query, which at that
    size is the right price for real recall. Past N_PLANES planes
    (corpus > target·2^N_PLANES) the buckets are narrow enough that
    extra bands (independent plane sets whose candidates union) buy
    back recall."""
    import math

    if corpus_size <= 2 * LSH_BUCKET_ROWS:
        return 1, 1
    n_planes = math.ceil(math.log2(corpus_size / LSH_BUCKET_ROWS))
    return n_planes, 4 if n_planes > N_PLANES else 1


def ann_plan_for(corpus_size: int) -> dict:
    """Strategy-level ANN planner — WHICH operator, not just its
    knobs. The decision variable is the brute-force work DEFAULT_N_QUERIES ×
    corpus_size (one GEMM pass over the corpus, zero index build,
    recall exactly 1.0):

    - under 2·10^8 dot products: ``knn_bruteforce[_pandas]``.
      Exact beats approximate whenever it's affordable — a 2k-vector
      fixture or a 10-query probe of a 10M corpus are both GEMM
      territory; every indexed method only subtracts recall there
      (bench ann_grid: 8-plane LSH recalls 0.04 at 2k vectors).
    - above it: two-stage PQ re-rank (``pq_ann_rerank``) — ADC over
      8-byte codes shortlists, full-precision re-rank touches only
      shortlist×queries rows. The advertised scale default: at any
      corpus size its recall/cost frontier dominates single-probe LSH
      (BENCH_DETAIL ann_grid), and its memory moves are codes-sized.
    - ``ann_lsh_multiprobe``/``ann_lsh_topk`` remain the bucketed
      alternative when an UNINDEXED one-shot pass must avoid even the
      codebook build: planes from ``lsh_plan_for``.

    Returns {"strategy", "n_planes", "n_bands"} — knobs meaningful
    only for the lsh strategy but always present so callers can log
    one shape."""
    n_planes, n_bands = lsh_plan_for(corpus_size)
    if DEFAULT_N_QUERIES * corpus_size <= 200_000_000:
        return {"strategy": "bruteforce", "n_planes": n_planes, "n_bands": n_bands}
    return {"strategy": "pq_rerank", "n_planes": n_planes, "n_bands": n_bands}


def knn_bruteforce(
    embeddings: DataFrame,
    k: int = DEFAULT_K,
    n_queries: int = DEFAULT_N_QUERIES,
) -> DataFrame:
    """Exact cosine top-k neighbors for the query set (vec_id <
    n_queries), excluding self. Deterministic tie-break on rounded
    score then neighbor id.

    Norms are computed per VECTOR before the pair join (n + q
    evaluations, not n x q): bit-identical scores at a fraction of
    the per-pair expression cost — the dominant term at scale."""
    from .scale import ensure_parallelism

    corpus = ensure_parallelism(embeddings).select(
        "vec_id", "embedding", l2_norm(F.col("embedding")).alias("__norm")
    )
    q = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        l2_norm(F.col("embedding")).alias("__qnorm"),
    )
    scored = (
        corpus.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                cosine_from_parts(
                    dot(F.col("q_emb"), F.col("embedding")),
                    F.col("__qnorm"),
                    F.col("__norm"),
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    return topk_per_key(
        scored,
        "query_id",
        [F.desc("cos_sim"), F.asc("neighbor_id")],
        k,
        salt_col="neighbor_id",
    ).select("query_id", "neighbor_id", "cos_sim", "rk")


def _lsh_bucket(
    emb_col: str, n_planes: int = N_PLANES, plane_offset: int = 0
) -> F.Column:
    """LSH bucket id: sum over planes of 2^p * (projection_p >= 0),
    with projection accumulated in array order (oracle-matched).
    ``plane_offset`` selects an independent plane set per band."""
    bucket = F.lit(0)
    for p in range(n_planes):
        gp = plane_offset + p
        proj = F.aggregate(
            F.expr(
                f"zip_with({emb_col}, array({', '.join(str(plane_weight(gp, d)) for d in range(EMB_DIM))}), "
                f"(x, w) -> CAST(x AS DOUBLE) * w)"
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def _band_structs(emb_col: str, n_planes: int, n_bands: int) -> F.Column:
    """array<struct<band, bucket>> — band b hashes with its own plane
    set (planes b*n_planes .. b*n_planes+n_planes-1)."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                _lsh_bucket(emb_col, n_planes, plane_offset=b * n_planes).alias(
                    "bucket"
                ),
            )
            for b in range(n_bands)
        ]
    )


def ann_lsh_topk(
    embeddings: DataFrame,
    k: int = DEFAULT_K,
    n_planes: int = N_PLANES,
    n_bands: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket(s), exact cosine re-rank within. Recall < 1 by
    construction; results are still fully deterministic
    (portable-hash planes), so the oracle reproduces them exactly.

    (n_planes, n_bands) are the scale knobs — see ``lsh_plan_for``:
    more planes shrink each bucket (cost), more bands add independent
    bucketings whose candidate sets union (recall). With n_bands > 1
    a neighbor found by several bands is deduped before scoring."""
    from .scale import ensure_parallelism

    corpus = ensure_parallelism(embeddings)
    if n_bands == 1:
        bucketed = corpus.withColumn("bucket", _lsh_bucket("embedding", n_planes))
        q = bucketed.filter(F.col("vec_id") < DEFAULT_N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("bucket").alias("q_bucket"),
        )
        scored = (
            bucketed.join(
                F.broadcast(q),
                (F.col("bucket") == F.col("q_bucket"))
                & (F.col("vec_id") != F.col("query_id")),
            )
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                F.round(cosine_sim(F.col("q_emb"), F.col("embedding")), 6).alias(
                    "cos_sim"
                ),
            )
        )
    else:
        bands = corpus.select(
            "vec_id",
            "embedding",
            F.explode(_band_structs("embedding", n_planes, n_bands)).alias("bb"),
        ).select("vec_id", "embedding", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
        q = bands.filter(F.col("vec_id") < DEFAULT_N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            "band",
            F.col("bucket").alias("q_bucket"),
        )
        # union candidates over bands, dedup BEFORE the cosine math
        cand = (
            bands.join(
                F.broadcast(q),
                (bands["band"] == q["band"])
                & (bands["bucket"] == q["q_bucket"])
                & (bands["vec_id"] != q["query_id"]),
            )
            .select("query_id", "q_emb", F.col("vec_id").alias("neighbor_id"), "embedding")
            .dropDuplicates(["query_id", "neighbor_id"])
        )
        scored = cand.select(
            "query_id",
            "neighbor_id",
            F.round(cosine_sim(F.col("q_emb"), F.col("embedding")), 6).alias(
                "cos_sim"
            ),
        )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
    )


def ann_lsh_multiprobe(embeddings: DataFrame, k: int = DEFAULT_K) -> DataFrame:
    """Multi-probe hyperplane LSH (Lv et al., VLDB'07 shape): each
    query probes its own bucket PLUS every bucket at Hamming distance
    1 — one plane bit flipped, so N_PLANES+1 probes. A true neighbor
    that lands one hyperplane away (the dominant miss mode of
    single-probe LSH: the pair straddles exactly one plane) is
    recovered without a second corpus bucketing. Cost shape at scale:
    the CORPUS is still hashed and shuffled ONCE (unlike n_bands > 1,
    which re-buckets the corpus per band); only the tiny broadcast
    query side fans out ×(N_PLANES+1), and each probe bucket holds
    ~n/2^P rows, so a query reads ~(P+1)/2^P of the corpus. Probe
    buckets are pairwise distinct, and every corpus row lives in
    exactly one bucket, so candidate sets are disjoint — no dedup
    stage. Exact cosine re-rank within candidates; deterministic
    planes (portable hash), so the oracle reproduces it exactly."""
    from .scale import ensure_parallelism

    corpus = ensure_parallelism(embeddings)
    bucketed = corpus.withColumn("bucket", _lsh_bucket("embedding"))
    q = bucketed.filter(F.col("vec_id") < DEFAULT_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << p))
                    for p in range(N_PLANES)
                ],
            )
        ).alias("probe"),
    )
    scored = bucketed.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("probe"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine_sim(F.col("q_emb"), F.col("embedding")), 6).alias(
            "cos_sim"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
    )


MMR_K = 5
MMR_LAMBDA = 0.5


def mmr_select(embeddings: DataFrame) -> DataFrame:
    """(step, vec_id, score_micro) — greedy Maximal Marginal Relevance
    (Carbonell & Goldstein '98) exemplar selection: step 1 takes the
    vector most similar to the corpus centroid; each later step takes
    argmax of λ·relevance − (1−λ)·max-cosine-to-already-selected.
    The k-exemplar set that is both central AND mutually diverse —
    few-shot/eval-seed selection where top-k-by-relevance returns k
    near-duplicates.

    Engine-portable determinism: the whole trajectory runs on the
    INTEGER micro grid — relevance and pairwise cosines quantize to
    floor(cos·10⁶ + 0.5) longs, the combined score is
    floor(λ·rel_u − (1−λ)·msim_u + 0.5) — so the argmax compares
    integers (never ROUND-sensitive doubles; COVERAGE.md "Oracle
    encoding rule") with ties to the lowest vec_id, and the greedy
    trajectory is reproduced exactly by the unrolled CTE oracle
    (``mmr_oracle_sql``), the kmeans/pagerank pattern.

    Scale shape: greedy selection is inherently sequential in k, but
    each step is ONE distributed corpus scan ending in a
    TakeOrderedAndProject(1) — never a global sort — and the selected
    set ships to executors as k×d literal doubles. Construction is
    EAGER (k one-row collects + the centroid round, like
    kmeans/user_value_quartiles); the returned plan unions the k
    one-row argmax branches."""
    cent_rows = (
        embeddings.select(F.posexplode("embedding").alias("dim", "v"))
        .groupBy("dim")
        .agg(
            (
                F.floor(
                    F.avg(F.col("v").cast("double")) * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("m")
        )
        .collect()
    )
    if not cent_rows:  # empty corpus: empty result, schema preserved
        return embeddings.sparkSession.createDataFrame(
            [], "step int, vec_id long, score_micro long"
        )
    cent = [r["m"] for r in sorted(cent_rows, key=lambda r: r["dim"])]
    cent_col = F.array(*[F.lit(float(x)) for x in cent])

    def u(col):  # cosine → integer micro grid
        return F.floor(col * F.lit(1e6) + F.lit(0.5)).cast("long")

    rel = embeddings.select(
        "vec_id",
        "embedding",
        u(cosine_sim(F.col("embedding"), cent_col)).alias("rel_u"),
    )
    picks = []  # (step, plan) — unioned for the returned DataFrame
    selected: list[tuple[int, list[float]]] = []
    for step in range(1, MMR_K + 1):
        cand = rel
        if selected:
            cand = cand.filter(
                ~F.col("vec_id").isin([v for v, _ in selected])
            )
            sims = [
                u(
                    cosine_sim(
                        F.col("embedding"),
                        F.array(*[F.lit(float(x)) for x in emb]),
                    )
                )
                for _, emb in selected
            ]
            msim_u = F.greatest(*sims) if len(sims) > 1 else sims[0]
            score = F.floor(
                F.lit(MMR_LAMBDA) * F.col("rel_u")
                - F.lit(1.0 - MMR_LAMBDA) * msim_u
                + F.lit(0.5)
            ).cast("long")
        else:
            score = F.col("rel_u")
        pick_plan = (
            cand.select(
                F.lit(step).alias("step"),
                "vec_id",
                "embedding",
                score.alias("score_micro"),
            )
            .orderBy(F.desc("score_micro"), F.asc("vec_id"))
            .limit(1)
        )
        row = pick_plan.collect()
        if not row:
            break
        selected.append((row[0]["vec_id"], list(row[0]["embedding"])))
        picks.append(pick_plan.select("step", "vec_id", "score_micro"))
    out = picks[0]
    for p in picks[1:]:
        out = out.unionAll(p)
    return out


def mmr_oracle_sql() -> str:
    """Unrolled DuckDB twin of ``mmr_select``: sel₀ = ∅; pickᵢ =
    argmax over non-selected of the (integer-micro) MMR score against
    selᵢ₋₁; selᵢ = selᵢ₋₁ ∪ pickᵢ. Ties to the lowest vec_id via the
    ORDER BY, matching the Spark TakeOrdered."""
    from ..functions.vector import sql_cosine

    cos_cent = sql_cosine("r.e", "ca.c", EMB_DIM)
    parts = [
        "WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e"
        " FROM embeddings),",
        "cent AS (SELECT CAST(dim AS INT) AS dim,"
        " FLOOR(AVG(v) * 1000000 + 0.5) / 1000000 AS m FROM"
        " (SELECT unnest(e) AS v, generate_subscripts(e, 1) AS dim"
        "  FROM emb) GROUP BY 1),",
        "cent_arr AS (SELECT list(m ORDER BY dim) AS c FROM cent),",
        "rel AS (SELECT r.vec_id, r.e,"
        f" CAST(FLOOR(({cos_cent}) * 1000000 + 0.5) AS BIGINT) AS rel_u"
        " FROM emb r CROSS JOIN cent_arr ca),",
        "pick1 AS (SELECT 1 AS step, vec_id, e, rel_u AS score_micro"
        " FROM rel ORDER BY score_micro DESC, vec_id ASC LIMIT 1),",
        "sel1 AS (SELECT vec_id, e FROM pick1),",
    ]
    for i in range(2, MMR_K + 1):
        prev = f"sel{i - 1}"
        cos_sel = sql_cosine("r.e", "s.e", EMB_DIM)
        parts.append(
            f"ms{i} AS (SELECT r.vec_id,"
            f" MAX(CAST(FLOOR(({cos_sel}) * 1000000 + 0.5) AS BIGINT))"
            f" AS msim_u"
            f" FROM rel r CROSS JOIN {prev} s"
            f" WHERE r.vec_id NOT IN (SELECT vec_id FROM {prev})"
            f" GROUP BY r.vec_id),"
        )
        parts.append(
            f"pick{i} AS (SELECT {i} AS step, r.vec_id, r.e,"
            f" CAST(FLOOR({MMR_LAMBDA} * r.rel_u - {1.0 - MMR_LAMBDA} * m.msim_u + 0.5)"
            f" AS BIGINT) AS score_micro"
            f" FROM rel r JOIN ms{i} m USING (vec_id)"
            f" ORDER BY score_micro DESC, vec_id ASC LIMIT 1),"
        )
        parts.append(
            f"sel{i} AS (SELECT vec_id, e FROM {prev}"
            f" UNION ALL SELECT vec_id, e FROM pick{i}),"
        )
    parts[-1] = parts[-1].rstrip(",")
    union = "\nUNION ALL\n".join(
        f"SELECT step, vec_id, score_micro FROM pick{i}"
        for i in range(1, MMR_K + 1)
    )
    return "\n".join(parts) + "\n" + union


def embedding_norms(embeddings: DataFrame) -> DataFrame:
    """Per-vector L2 norm + dimensionality (normalization preflight —
    pure map, no shuffle)."""
    from ..functions.vector import l2_norm

    return embeddings.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        micro(l2_norm(F.col("embedding"))).alias("l2_norm_micro"),
    )


def knn_bruteforce_pandas(embeddings: DataFrame) -> DataFrame:
    """Same result as knn_bruteforce, computed through the Arrow path:
    a mapInPandas over corpus partitions doing the whole query-block
    scoring as one numpy matmul per batch.

    This is the 100 TB-preferred physical strategy for wide vectors:
    one BLAS GEMM per Arrow batch instead of per-element codegen
    expressions; queries ship to executors once via a broadcast
    variable. Top-k selection still happens in Spark (window), so
    the operator composes with everything else."""
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    q_rows = (
        embeddings.filter(F.col("vec_id") < DEFAULT_N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    q_ids = [r["vec_id"] for r in q_rows]
    q_mat = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    # maximum(norm, 1e-12) mirrors cosine_sim's zero-vector guard
    q_norm = q_mat / np.maximum(
        np.linalg.norm(q_mat, axis=1, keepdims=True), 1e-12
    )
    bc = spark.sparkContext.broadcast((q_ids, q_norm))

    out_schema = "query_id long, neighbor_id long, cos_sim double"

    def score(batches):
        ids, qn = bc.value
        k_local = DEFAULT_K
        for pdf in batches:
            c = np.array(list(pdf["embedding"]), dtype=np.float64)
            cn = c / np.maximum(
                np.linalg.norm(c, axis=1, keepdims=True), 1e-12
            )
            sims = np.round(cn @ qn.T, 6)  # (batch, n_queries)
            vec_ids = pdf["vec_id"].values
            # per-batch EXACT top-k under the final total order
            # (cos desc, neighbor_id asc): only batch-winners cross
            # the Arrow boundary — batches x queries x k rows instead
            # of batch x queries. Same two-phase argument as
            # topk_per_key: every global winner wins its batch.
            out_q, out_n, out_s = [], [], []
            for qi in range(sims.shape[1]):
                # self-exclusion must happen BEFORE the batch top-k:
                # filtered afterwards, the self row would burn one of
                # the k slots and could evict a global winner
                mask = vec_ids != ids[qi]
                v, s = vec_ids[mask], sims[mask, qi]
                order = np.lexsort((v, -s))[:k_local]
                out_q.append(np.full(len(order), ids[qi]))
                out_n.append(v[order])
                out_s.append(s[order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cos_sim": np.concatenate(out_s),
                }
            )

    from .scale import ensure_parallelism

    scored = ensure_parallelism(embeddings).select("vec_id", "embedding").mapInPandas(
        score, schema=out_schema
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= DEFAULT_K)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
    )


IVF_N_PROBE = 2


def _centroid_arrays(embeddings: DataFrame) -> DataFrame:
    """(label, cvec) — per-label centroid as an ordered double array,
    rounded to 6dp so both engines quantize identically."""
    cents = label_centroids(embeddings)  # label, dim, centroid
    return cents.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "centroid"))),
            lambda s: s["centroid"],
        ).alias("cvec")
    )


def _sq_dist(a: F.Column, c: F.Column, dim: int | None = None) -> F.Column:
    """Squared L2 distance, accumulated left-to-right in double (the
    same order the SQL oracle uses).

    With ``dim`` (the call site's expected vector width) the fold is
    expanded to a plain add chain — identical operation order, so
    bit-identical results, but no per-row intermediate array:
    ``zip_with`` materializes a dim-length array per comparison,
    which at the PQ encode fan-out (corpus × M × codewords rows) is
    the dominant allocation (pq_ann_topk end-to-end 11.5 s → 4.6 s
    at the 10× rehearsal together with the staged encode). Arrays
    SHORTER than ``dim`` (e.g. low-dim unit-test vectors) are safe
    and match the fold exactly: ``try_element_at`` + coalesce makes
    missing tails contribute +0.0, which cannot change a
    non-negative double sum — plain element_at would THROW here even
    under a when() guard, because whole-stage codegen's
    common-subexpression elimination evaluates it eagerly.

    Pass ``dim`` only for SMALL widths (the PQ subspaces): the
    per-term null-check is what the safety costs, and at 64 dims
    128 of them erase the allocation win — measured slightly WORSE
    than the fold — so the full-width IVF/centroid distances keep
    the fold form."""
    if dim is None:
        return F.aggregate(
            F.zip_with(
                a, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    expr: F.Column = F.lit(0.0)
    for i in range(1, dim + 1):
        d = F.coalesce(
            F.try_element_at(a, F.lit(i)).cast("double"), F.lit(0.0)
        ) - F.coalesce(F.try_element_at(c, F.lit(i)).cast("double"), F.lit(0.0))
        expr = expr + d * d
    return expr


def build_ivf_index(
    embeddings: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Build the IVF index ONCE: returns (assignments, centroids)
    where assignments = (vec_id, embedding, cell) — every vector in
    its nearest centroid cell — and centroids = (label, cvec).

    Production shape: persist/bucket the assignments by cell and
    probe many query batches against them (``ivf_probe``) without
    re-scanning or re-quantizing the corpus — at 100 TB the build is
    the one full-corpus pass, each probe touches ~n_probe/K of it.
    Label centroids act as the deterministic coarse quantizer (no
    k-means iterations to replicate in the oracle); swapping in
    trained k-means centroids changes none of the dataflow."""
    cents = _centroid_arrays(embeddings)
    corpus = embeddings.select("vec_id", "embedding")
    dists = corpus.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "embedding",
        F.col("label"),
        _sq_dist(F.col("embedding"), F.col("cvec")).alias("d2"),
    )
    # argmin per vector as min(struct(d2, label, embedding)) — struct
    # ordering compares (d2, label) exactly like the oracle's
    # (ASC d2, ASC label) tie-break and label is unique per cell, so
    # the carried embedding is never compared. The aggregation gets
    # map-side combine: each vector's K candidate rows collapse to
    # one row BEFORE the shuffle. (A row_number window here — the
    # round-1..3 shape — shuffled and sorted all n×K rows into
    # per-vector partitions and measured 4× slower than brute-force
    # scoring at 100k vectors.)
    assign = (
        dists.groupBy("vec_id")
        .agg(F.min(F.struct("d2", "label", "embedding")).alias("m"))
        .select(
            "vec_id",
            F.col("m.embedding").alias("embedding"),
            F.col("m.label").alias("cell"),
        )
    )
    return assign, cents


def ivf_probe(
    assignments: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
) -> DataFrame:
    """Probe a prebuilt IVF index: ``queries`` is (query_id, q_emb);
    each query ranks the centroids, searches its ``IVF_N_PROBE`` nearest
    cells, and exact-cosine re-ranks the candidates. The query side
    broadcasts; the corpus-sized assignments table never reshuffles
    (join on cell — co-located when assignments are bucketed by
    cell)."""
    qd = queries.crossJoin(F.broadcast(centroids)).select(
        "query_id",
        "q_emb",
        F.col("label"),
        _sq_dist(F.col("q_emb"), F.col("cvec")).alias("d2"),
    )
    w_probe = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("label"))
    qprobe = (
        qd.withColumn("rk", F.row_number().over(w_probe))
        .filter(F.col("rk") <= IVF_N_PROBE)
        .select("query_id", "q_emb", F.col("label").alias("cell"))
    )
    scored = (
        assignments.join(F.broadcast(qprobe), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine_sim(F.col("q_emb"), F.col("embedding")), 6).alias(
                "cos_sim"
            ),
        )
    )  # no dedup needed: each neighbor lives in exactly one cell
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= DEFAULT_K)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
    )


def ivf_topk(embeddings: DataFrame, n_queries: int = DEFAULT_N_QUERIES) -> DataFrame:
    """IVF ANN in one call: build_ivf_index + ivf_probe with the
    query set drawn from the corpus (vec_id < n_queries). Kept as the
    registry/oracle surface; pipelines that issue many query batches
    should persist the index from ``build_ivf_index`` and call
    ``ivf_probe`` directly."""
    assign, cents = build_ivf_index(embeddings)
    queries = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    return ivf_probe(assign, cents, queries)


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label per-dimension centroid (1-based dim index)."""
    return (
        embeddings.select(
            "label", F.posexplode("embedding").alias("pos", "v")
        )
        .groupBy("label", (F.col("pos") + 1).alias("dim"))
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid"))
    )


def label_centroids_int(embeddings: DataFrame) -> DataFrame:
    """``label_centroids`` under the integer output contract
    (COVERAGE.md "Oracle encoding rule"): the per-dimension centroid
    ships as ``centroid_micro`` = floor(AVG·1e6 + 0.5) BIGINT. Same
    plan: one posexplode aggregated on (label, dim) with map-side
    combine — the shuffle carries labels × d partial sums, never
    vectors."""
    from ..functions.portable import micro

    return (
        embeddings.select(
            "label", F.posexplode("embedding").alias("pos", "v")
        )
        .groupBy("label", (F.col("pos") + 1).alias("dim"))
        .agg(micro(F.avg(F.col("v").cast("double"))).alias("centroid_micro"))
    )


def embedding_drift(old: DataFrame, new: DataFrame) -> DataFrame:
    """Per-label distribution drift between two embedding snapshots:
    row counts, and the cosine similarity + L2 distance between the
    snapshots' per-label centroids. The dataset-monitoring view for a
    training pipeline — a label whose centroid rotates (cos << 1) or
    whose volume collapses signals upstream drift (scraper change,
    encoder version bump, source mix shift) before a model sees it.
    Labels present in only one snapshot surface with NULL geometry.

    Scale: one posexplode per side aggregated on (label, dim) with
    map-side combine — the shuffle carries labels × d partial sums,
    never vectors; the final per-label reduction is over d rows.
    """
    def centroids(df, side):
        return (
            df.select("label", F.posexplode("embedding").alias("dim", "v"))
            .groupBy("label", "dim")
            .agg(F.avg(F.col("v").cast("double")).alias(f"c_{side}"))
        )

    def counts(df, side):
        return df.groupBy("label").agg(F.count(F.lit(1)).alias(f"n_{side}"))

    geom = (
        centroids(old, "old")
        .join(centroids(new, "new"), ["label", "dim"])
        .groupBy("label")
        .agg(
            F.sum(F.col("c_old") * F.col("c_new")).alias("dot"),
            F.sum(F.col("c_old") * F.col("c_old")).alias("no"),
            F.sum(F.col("c_new") * F.col("c_new")).alias("nn"),
            F.sum(F.pow(F.col("c_old") - F.col("c_new"), 2)).alias("sq"),
        )
        .select(
            "label",
            # try_divide -> NULL (not NaN) for a degenerate all-zero
            # centroid, matching the SQL oracle's NULLIF guard
            (
                F.round(
                    F.try_divide(
                        F.col("dot"), F.sqrt(F.col("no")) * F.sqrt(F.col("nn"))
                    ),
                    6,
                )
                + 0.0
            ).alias("centroid_cos"),
            (F.round(F.sqrt("sq"), 6) + 0.0).alias("centroid_l2"),
        )
    )
    return (
        counts(old, "old")
        .join(counts(new, "new"), "label", "full_outer")
        .join(geom, "label", "left")
        .select("label", "n_old", "n_new", "centroid_cos", "centroid_l2")
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = N_PLANES,
    n_bands: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate detection restricted to LSH
    buckets (same-bucket pairs only — the scalable candidate set),
    exact cosine filter. Output: (vec_a, vec_b, cos_sim).

    (n_planes, n_bands) make the candidate volume scale-aware (see
    ``lsh_plan_for``): at test scale the defaults reproduce the
    oracle; a 100 TB corpus would run e.g. (16, 4) so Σ(bucket²)
    stays linear in corpus size while the extra bands keep recall."""
    from .scale import ensure_parallelism

    corpus = ensure_parallelism(embeddings)
    if n_bands == 1:
        bucketed = corpus.withColumn("bucket", _lsh_bucket("embedding", n_planes))
        a = bucketed.alias("a")
        b = bucketed.alias("b")
        return (
            a.join(
                b,
                (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(
                F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
                F.round(
                    cosine_sim(F.col("a.embedding"), F.col("b.embedding")), 6
                ).alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= threshold)
        )
    # multi-band: candidates = pairs sharing ANY band bucket, deduped
    # as bare id pairs BEFORE the vectors are joined back for the
    # exact cosine (never carry embeddings through the band join)
    bands = corpus.select(
        "vec_id", F.explode(_band_structs("embedding", n_planes, n_bands)).alias("bb")
    ).select(
        "vec_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    ).localCheckpoint(eager=True)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    ea = embeddings.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a")
    )
    eb = embeddings.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b")
    )
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(cosine_sim(F.col("emb_a"), F.col("emb_b")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def knn_int8(
    embeddings: DataFrame,
    k: int = DEFAULT_K,
    n_queries: int = DEFAULT_N_QUERIES,
) -> DataFrame:
    """kNN over int8-quantized vectors — the retrieval end-use of the
    embedding_quantize_int8 preflight. The symmetric per-vector scale
    cancels inside cosine, so the score is EXACTLY the cosine of the
    quantized integer vectors: the corpus travels 4x smaller, the
    products are small integers, and the only loss vs the float
    result is bounded quantization error (recall vs knn_bruteforce
    pinned in tests). Same scale shape as knn_bruteforce: queries
    broadcast, the corpus never shuffles."""
    from .scale import ensure_parallelism

    # greatest(…, 1e-12) guards the all-zero embedding: 0/0 would
    # quantize to NaN and diverge between engines; with the floor the
    # zero vector stays exactly zero.
    max_abs = F.greatest(
        F.round(
            F.array_max(
                F.transform("embedding", lambda x: F.abs(x.cast("double")))
            ),
            6,
        ),
        F.lit(1e-12),
    )
    q8 = (
        ensure_parallelism(embeddings)
        .select("vec_id", "embedding", max_abs.alias("__scale"))
        .select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: F.round(
                    x.cast("double") * 127.0 / F.col("__scale"), 0
                ).cast("int"),
            ).alias("qvec"),
        )
    )
    q8 = q8.select("vec_id", "qvec", l2_norm(F.col("qvec")).alias("__norm"))
    q = q8.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("qvec").alias("q_qvec"),
        F.col("__norm").alias("__qnorm"),
    )
    # norms per VECTOR before the pair join (n + q, not n x q) —
    # bit-identical to the inline cosine, same guard
    scored = q8.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            cosine_from_parts(
                dot(F.col("q_qvec"), F.col("qvec")),
                F.col("__qnorm"),
                F.col("__norm"),
            ),
            6,
        ).alias("cos_sim_q8"),
    )
    return topk_per_key(
        scored,
        "query_id",
        [F.desc("cos_sim_q8"), F.asc("neighbor_id")],
        k,
        salt_col="neighbor_id",
    ).select("query_id", "neighbor_id", "cos_sim_q8", "rk")


SEMDEDUP_THRESHOLD = 0.95
# prefix length of the within-cell pair prefilter (see semantic_dedup):
# bound tightness grows with the prefix share of vector energy; 16 of
# 64 dims leaves the tail ~75% of the squared norm, so random pairs
# bound out unless their 16-dim prefix cosine is already high
SEMDEDUP_PREFILTER_DIMS = 16


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    extra_bits: int = 0,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings and dropping, within each
    cluster, every vector that has a more-senior near-duplicate
    (cosine >= threshold, smaller vec_id). Catches paraphrase-level
    duplicates that token-based MinHash/SimHash structurally miss.

    Returns (vec_id, cell, kept, max_dup_sim): kept=false means some
    same-cell vector with a smaller id is within the threshold;
    max_dup_sim is the strongest such similarity (0.0 when none).

    Scale: the cluster assignment reuses ``build_ivf_index`` — one
    full-corpus pass against broadcast centroids with a map-side
    min-struct argmin, no corpus shuffle. The candidate generation is
    a within-cell self-join, the same Σ(cell²) cost profile as the
    paper's per-cluster pairwise pass; cell count K is the knob that
    keeps cells O(corpus/K), so growing K with the corpus holds the
    per-cell work constant (exactly the occupancy-pinning argument of
    ``lsh_plan_for``). Seniority (min vec_id wins) makes the kept set
    order-free and deterministic — no iterative dependency between
    drops: a vector is dropped iff an EARLIER vector is close, even
    if that earlier vector is itself dropped, matching the paper's
    "keep one representative per ε-ball" intent without a sequential
    scan. Cosine is computed from per-vector norms materialized
    before the pair join (n + n evaluations, not per-pair).

    The assignment is localCheckpoint'ed before the self-join:
    without it the centroid build + full-corpus argmin subtree is
    planned THREE times (the base relation and both sides of the
    pair join) — three corpus passes instead of one. This is the
    query-surface analog of what a production pipeline does anyway:
    persist/bucket ``build_ivf_index``'s assignments once, then run
    cell-local passes against the materialized table.

    ``extra_bits`` is the scale knob: with a FIXED base cell count
    (here, the label centroids) the within-cell pair cost grows
    quadratically with the corpus. extra_bits > 0 subdivides each
    cell by that many deterministic hyperplane LSH bits (a plane set
    disjoint from the ANN planes), multiplying the cell count by
    2^bits and pulling the pair cost back to linear — the
    deterministic analog of SemDeDup's 'increase k'. The price is
    bounded recall loss: a true near-dup pair splits sub-buckets only
    when some plane passes between the two vectors, probability
    ≈ bits·θ/π per pair with θ = arccos(threshold) (≈ bits·10% at
    0.95) — same pigeonhole argument as the banded SimHash. Each
    extra bit halves the expected cell, so ⌈log2(cell rows / target
    rows)⌉ bits pin occupancy. The default 0 is the exact,
    oracle-certified path."""
    assign, _ = build_ivf_index(embeddings)
    cell = F.col("cell")
    if extra_bits > 0:
        cell = cell * (1 << extra_bits) + _lsh_bucket(
            "embedding", n_planes=extra_bits, plane_offset=101
        )
    k_pre = SEMDEDUP_PREFILTER_DIMS
    a = assign.select(
        "vec_id",
        cell.alias("cell"),
        "embedding",
        l2_norm(F.col("embedding")).alias("__norm"),
        # tail norm for the prefix upper bound below: ||x[k_pre:]||,
        # computed once per VECTOR (n evaluations, never per pair)
        l2_norm(F.slice(F.col("embedding"), k_pre + 1, EMB_DIM)).alias(
            "__tail"
        ),
    ).localCheckpoint(eager=True)
    senior = a.select(
        F.col("cell").alias("__scell"),
        F.col("vec_id").alias("__sid"),
        F.col("embedding").alias("__semb"),
        F.col("__norm").alias("__snorm"),
        F.col("__tail").alias("__stail"),
    )
    # r10 prefilter (guide §3.2 join-input reduction, §4.1 codegen):
    # the exact within-cell cosine — a 64-term interpreted
    # higher-order dot per PAIR — was the single largest honest cost
    # in the repo (35.8 s at the 10x rehearsal). A provable upper
    # bound prunes pairs BEFORE the exact dot evaluates, as an
    # earlier short-circuit conjunct of the same join condition:
    #
    #   dot(x, y) =  dot(x[:k], y[:k]) + dot(x[k:], y[k:])
    #            <=  dot(x[:k], y[:k]) + ||x[k:]||*||y[k:]||
    #
    # by Cauchy-Schwarz on the tails, so with the SAME guarded
    # denominator d = max(||x||*||y||, 1e-12) used by the exact
    # cosine:  cos(x, y) <= (prefix_dot + tail_x*tail_y) / d.
    # A surviving pair needs round(cos, 6) >= threshold, i.e.
    # cos >= threshold - 5e-7; bound and cosine are 64-term double
    # sums of O(1) values (relative fp error ~1e-14), so any pair
    # with bound < threshold - 2e-6 provably fails the exact filter
    # and can never reach the max_dup_sim aggregate — the pruned
    # plan is result-identical (property-tested against the
    # unfiltered form in tests/test_shards_semdedup.py).
    # The bound itself is pure codegen arithmetic: k_pre unrolled
    # element products + one tail multiply. Rows with fewer than
    # k_pre dims (element_at would NULL) skip the prefilter via the
    # size disjunct and go straight to the exact check.
    pref_dot = F.lit(0.0)
    for i in range(1, k_pre + 1):
        pref_dot = pref_dot + F.element_at(
            F.col("embedding"), i
        ).cast("double") * F.element_at(F.col("__semb"), i).cast("double")
    denom = F.greatest(F.col("__norm") * F.col("__snorm"), F.lit(1e-12))
    bound_ok = (
        (F.size(F.col("embedding")) < k_pre)
        | (F.size(F.col("__semb")) < k_pre)
        | (
            (pref_dot + F.col("__tail") * F.col("__stail")) / denom
            >= F.lit(threshold - 2e-6)
        )
    )
    sim = F.round(
        cosine_from_parts(
            dot_fixed(F.col("embedding"), F.col("__semb"), EMB_DIM),
            F.col("__norm"),
            F.col("__snorm"),
        ),
        6,
    )
    dup = (
        a.join(
            senior,
            (F.col("cell") == F.col("__scell"))
            & (F.col("__sid") < F.col("vec_id"))
            & bound_ok
            & (sim >= threshold),
        )
        .select("vec_id", sim.alias("__sim"))
        .groupBy("vec_id")
        .agg(F.max("__sim").alias("__max_dup"))
    )
    return a.join(dup, "vec_id", "left").select(
        "vec_id",
        "cell",
        F.col("__max_dup").isNull().alias("kept"),
        F.round(F.coalesce(F.col("__max_dup"), F.lit(0.0)), 6).alias(
            "max_dup_sim"
        ),
    )


def hard_negatives(embeddings: DataFrame) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-k most-similar corpus vectors with a DIFFERENT
    label. These near-miss negatives carry most of the gradient
    signal in InfoNCE-style objectives; random negatives are trivially
    separable at scale.

    Same shape as ``knn_bruteforce`` — broadcast query set, one
    corpus map with per-vector norms precomputed, per-query top-k
    window over (query_id, neighbor, score) tuples only — plus the
    label-mismatch predicate pushed into the join condition so
    same-label rows never reach the scorer."""
    from .scale import ensure_parallelism

    corpus = ensure_parallelism(embeddings).select(
        "vec_id", "embedding", "label", l2_norm(F.col("embedding")).alias("__norm")
    )
    q = embeddings.filter(F.col("vec_id") < DEFAULT_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
        l2_norm(F.col("embedding")).alias("__qnorm"),
    )
    scored = corpus.join(
        F.broadcast(q), F.col("label") != F.col("q_label")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.round(
            cosine_from_parts(
                dot(F.col("q_emb"), F.col("embedding")),
                F.col("__qnorm"),
                F.col("__norm"),
            ),
            6,
        ).alias("cos_sim"),
    )
    return topk_per_key(
        scored,
        "query_id",
        [F.desc("cos_sim"), F.asc("neighbor_id")],
        DEFAULT_K,
        salt_col="neighbor_id",
    ).select("query_id", "neighbor_id", "neighbor_label", "cos_sim", "rk")


JL_DIM_OUT = 16


def _jl_sign(i: int, j: int) -> float:
    """Deterministic ±1 projection weights (same md5 family as
    plane_weight, independent salt): sign of output dim i on input
    dim j."""
    h = int(hashlib.md5(f"jl{i}:dim{j}".encode()).hexdigest()[:8], 16)
    return 1.0 if h % 2 == 0 else -1.0


def jl_project(embeddings: DataFrame) -> DataFrame:
    """Johnson-Lindenstrauss random projection to ``JL_DIM_OUT``
    dimensions with a deterministic ±1/sqrt(JL_DIM_OUT) sign matrix
    (Achlioptas 2003: database-friendly random projections — ±1
    entries preserve pairwise distances like Gaussian ones). The
    dimensionality-reduction front end for 100 TB similarity: project
    once on the scan, then run near-dup / ANN / clustering in the
    reduced space at JL_DIM_OUT/EMB_DIM of the compute and shuffle width.

    Output is unnested (vec_id, dim ∈ 1..dim_out, proj) — the same
    long shape as embedding_quantize_int8, exact across engines
    because the fold order is fixed (j ascending, left fold).

    Scale: a pure per-row expression (JL_DIM_OUT fixed-order sums over
    a zip_with product) — no shuffle, no UDF, whole-stage codegen;
    the sign matrix is JL_DIM_OUT x EMB_DIM literals folded into the
    plan, not a join."""
    emb = F.col("embedding").cast("array<double>")
    outs = []
    inv = 1.0 / (JL_DIM_OUT ** 0.5)
    for i in range(JL_DIM_OUT):
        signs = F.array(
            *[F.lit(_jl_sign(i, j)) for j in range(EMB_DIM)]
        )
        s = F.aggregate(
            F.zip_with(emb, signs, lambda x, sgn: x * sgn),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        outs.append(
            F.struct(
                F.lit(i + 1).alias("dim"),
                # + 0.0 folds IEEE -0.0 to +0.0 (engine-portable zero)
                (F.round(s * inv, 6) + F.lit(0.0)).alias("proj"),
            )
        )
    return embeddings.select(
        "vec_id", F.explode(F.array(*outs)).alias("p")
    ).select("vec_id", F.col("p.dim").alias("dim"), F.col("p.proj").alias("proj"))


def sql_jl_project() -> str:
    """DuckDB oracle for ``jl_project``: the identical sign literals
    and the identical left-to-right add chain per output dim."""
    inv = 1.0 / (JL_DIM_OUT ** 0.5)
    rows = []
    for i in range(JL_DIM_OUT):
        terms = " + ".join(
            f"CAST(embedding[{j + 1}] AS DOUBLE) * ({_jl_sign(i, j)})"
            for j in range(EMB_DIM)
        )
        rows.append(
            f"SELECT vec_id, {i + 1} AS dim, "
            f"ROUND((0.0 + {terms}) * {inv!r}, 6) + 0.0 AS proj FROM embeddings"
        )
    return "\nUNION ALL\n".join(rows)


PQ_M = 8          # subspaces (dim 64 -> 8 sub-dims each)
PQ_SUB_DIM = EMB_DIM // PQ_M
PQ_N_CODES = 32   # codewords per subspace (5-bit codes)


def _pq_codebook(embeddings: DataFrame) -> DataFrame:
    """(m, code, cw) — per-subspace codebook: codewords are the
    subvectors of the PQ_N_CODES lowest-vec_id vectors (deterministic
    sampled codebook). Sampled anchors keep codewords spread like the
    data itself; label-mean codewords were measured at 0.08 recall@5
    on this corpus (weak label clusters — every mean collapses toward
    the global mean) vs 0.26 for the sample. No averaging means the
    codeword doubles are exact float casts — bit-identical in the
    oracle with no rounding discipline needed. Production would swap
    in k-means-trained sub-quantizers; the dataflow is unchanged.

    Scale: the seed selection is orderBy(vec_id).limit(C) — a
    TakeOrderedAndProject (per-partition heads), then a window over
    the C-row result. The codebook is PQ_M x PQ_N_CODES rows and
    broadcasts everywhere it is used."""
    w = Window.orderBy("vec_id")
    seeds = (
        embeddings.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(PQ_N_CODES)
        .withColumn("code", (F.row_number().over(w) - 1).cast("int"))
    )
    subs = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice(
                    F.col("embedding").cast("array<double>"),
                    m * PQ_SUB_DIM + 1,
                    PQ_SUB_DIM,
                ).alias("cw"),
            )
            for m in range(PQ_M)
        ]
    )
    return seeds.select("code", F.explode(subs).alias("s")).select(
        F.col("s.m").alias("m"), "code", F.col("s.cw").alias("cw")
    )


def _sub_vectors(embeddings: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """(id, m, sub) — each vector split into its PQ_M subvectors."""
    subs = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice(
                    F.col("embedding").cast("array<double>"),
                    m * PQ_SUB_DIM + 1,
                    PQ_SUB_DIM,
                ).alias("sub"),
            )
            for m in range(PQ_M)
        ]
    )
    return embeddings.select(id_col, F.explode(subs).alias("s")).select(
        id_col, F.col("s.m").alias("m"), F.col("s.sub").alias("sub")
    )


def pq_codes(embeddings: DataFrame) -> DataFrame:
    """Product-quantization encoding (Jégou et al. 2011): each vector
    becomes PQ_M one-byte codes — the nearest codeword per subspace.
    At 100 TB this is the 32x compression that turns an embedding
    corpus into something that fits executor memory for ANN: 64
    floats -> 8 codes.

    Scale shape: the codebook (PQ_M x n_codes rows) broadcasts; the
    corpus explodes to PQ_M rows per vector, joins the broadcast, and
    the argmin is a min-struct aggregation with map-side combine —
    each scan partition ships one candidate per (vec_id, m), never a
    per-vector window. Distances are static-width add chains
    (bit-identical to the oracle's left fold); ties break on code
    ascending. Output: (vec_id, m, code).

    (A zero-shuffle variant that collects the codebook and inlines
    all M × n_codes codeword distances as one literal projection was
    measured 60× SLOWER at the 10× rehearsal — the ~10k-node
    expression tree stalls Catalyst optimization and codegen — so
    the broadcast-join form stands.)"""
    cb = _pq_codebook(embeddings)
    sv = _sub_vectors(embeddings)
    d = sv.join(F.broadcast(cb), "m").select(
        "vec_id",
        "m",
        "code",
        _sq_dist(F.col("sub"), F.col("cw"), dim=PQ_SUB_DIM).alias("d2"),
    )
    return (
        d.groupBy("vec_id", "m")
        .agg(F.min(F.struct("d2", "code")).alias("mn"))
        .select("vec_id", "m", F.col("mn.code").alias("code"))
    )


def pq_ann_topk(
    embeddings: DataFrame,
    k: int = DEFAULT_K,
    n_queries: int = DEFAULT_N_QUERIES,
) -> DataFrame:
    """PQ ANN via asymmetric distance computation (ADC): the query
    stays full-precision, the corpus is its PQ codes, and distance is
    looked up from a per-query table of ||q_sub - codeword||^2 — the
    classic IVF-PQ re-rank core. Approximate by construction (the
    quantization error), exact across engines.

    Scale: the distance TABLE (n_queries x PQ_M x n_codes rows, built
    from two broadcast-sized frames) broadcasts to the corpus codes;
    the per-subspace distances are quantized to integer MICRO-UNITS
    in the table, so the per-(query, vector) total is a plain SUM of
    longs — integer addition is associative, which makes the
    map-side-combined aggregate engine-deterministic without any
    fixed-order float fold (the collect_list + sorted-fold version
    this replaced was the rehearsal chain's slowest op: 36 s -> the
    sum shape at 10x). The corpus never ships embeddings, only
    codes: the whole ANN pass moves 8 bytes per vector.

    Output: (query_id, neighbor_id, adc_d2, rk)."""
    cb = _pq_codebook(embeddings)
    # Encode ONCE and materialize: the codes table is the persisted
    # compressed corpus (8 bytes/vector — what production PQ stores),
    # and checkpointing it keeps the encode stage (corpus × codebook
    # fan-out + argmin) out of the probe query's lineage. Measured at
    # the 10× rehearsal scale: 11.5 s → 3.8 s for the full op.
    codes = pq_codes(embeddings).localCheckpoint(eager=True)
    queries = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    qsub = _sub_vectors(queries, id_col="query_id")
    dtable = (
        qsub.join(F.broadcast(cb), "m")
        .select(
            "query_id",
            "m",
            "code",
            F.round(_sq_dist(F.col("sub"), F.col("cw"), dim=PQ_SUB_DIM) * 1e6, 0)
            .cast("long")
            .alias("d2u"),
        )
        .localCheckpoint(eager=True)  # n_queries × M × codes rows
    )
    scored = (
        codes.join(F.broadcast(dtable), ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(
            F.round(F.sum("d2u") / F.lit(1e6), 6).alias("adc_d2")
        )
    )
    return topk_per_key(
        scored,
        "query_id",
        [F.asc("adc_d2"), F.asc("neighbor_id")],
        k,
        salt_col="neighbor_id",
    ).select("query_id", "neighbor_id", "adc_d2", "rk")


PQ_RERANK = 50  # ADC shortlist size for the re-rank stage (IVF-PQ)
# pq_ann_rerank's shortlist: sized so the MEASURED recall@5 of the
# above-crossover recommendation clears the BASELINE.md 0.9 bar with
# margin (bench ann_grid r06: 50→0.64, 200→0.86, 400→0.98 on the
# sf0.1 fixture — the sampled 32-codeword ADC is the weak stage, so
# the shortlist carries the recall). The cost stays absolute, not
# corpus-relative: re-rank touches shortlist×queries full-precision
# rows at ANY corpus size, and test_ann_recall_gate_at_bench_scale
# gates it at recall ≥ 0.9 so a regression fails tier-1.
PQ_RERANK_WIDE = 400


def pq_ann_rerank(
    embeddings: DataFrame,
    k: int = DEFAULT_K,
    n_queries: int = DEFAULT_N_QUERIES,
    shortlist: int = PQ_RERANK_WIDE,
) -> DataFrame:
    """The production two-stage PQ pattern: ADC over codes shortlists
    ``shortlist`` candidates per query (8 bytes/vector moves), then
    exact cosine re-ranks ONLY the shortlist against full-precision
    embeddings. Recall approaches brute force while the full-precision
    read is shortlist-sized — at 100 TB, the embeddings table is
    touched for n_queries x shortlist rows instead of every vector.

    Output matches knn_bruteforce: (query_id, neighbor_id, cos_sim,
    rk)."""
    adc = pq_ann_topk(embeddings, k=shortlist, n_queries=n_queries)
    cand = adc.select("query_id", "neighbor_id")
    full = embeddings.select("vec_id", "embedding")
    queries = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    scored = (
        cand.join(
            full.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
        )
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_sim(F.col("q_emb"), F.col("embedding")), 6).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
    )


def ivf_pq_topk(embeddings: DataFrame) -> DataFrame:
    """IVF-PQ (Jégou et al. 2011, the billion-scale workhorse):
    coarse cells ROUTE each query to IVF_N_PROBE cells, PQ codes score the
    routed candidates by ADC, and exact cosine re-ranks the ADC
    shortlist. The composition of the three certified parts
    (build_ivf_index, pq_codes, knn-style re-rank) with the cost
    profile that survives 100 TB: the full-precision corpus is read
    once at build; per query batch, routing touches centroids
    (broadcast), ADC touches ~IVF_N_PROBE/K of the 8-byte codes, and the
    re-rank reads shortlist-many embeddings.

    Pytest-covered composition (recall pinned between raw ADC and
    brute force); the three building blocks each carry their own
    oracle row."""
    assign, cents = build_ivf_index(embeddings)
    assign = assign.localCheckpoint(eager=True)
    cb = _pq_codebook(embeddings)
    codes = pq_codes(embeddings).join(
        assign.select("vec_id", "cell"), "vec_id"
    )
    queries = embeddings.filter(F.col("vec_id") < DEFAULT_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # route: each query's IVF_N_PROBE nearest cells (same shape as
    # ivf_probe's routing stage)
    qd = queries.crossJoin(F.broadcast(cents)).select(
        "query_id",
        "embedding",
        F.col("label"),
        _sq_dist(F.col("embedding"), F.col("cvec")).alias("d2"),
    )
    w_probe = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("label"))
    routed = (
        qd.withColumn("rk", F.row_number().over(w_probe))
        .filter(F.col("rk") <= IVF_N_PROBE)
        .select("query_id", F.col("label").alias("cell"))
    )
    # ADC over routed cells only
    qsub = _sub_vectors(queries, id_col="query_id")
    dtable = qsub.join(F.broadcast(cb), "m").select(
        "query_id",
        "m",
        "code",
        F.round(_sq_dist(F.col("sub"), F.col("cw"), dim=PQ_SUB_DIM) * 1e6, 0)
        .cast("long")
        .alias("d2u"),
    )
    adc = (
        codes.join(F.broadcast(routed), "cell")
        .join(F.broadcast(dtable), ["query_id", "m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2u").alias("adc_u"))
    )
    w_short = Window.partitionBy("query_id").orderBy(
        F.asc("adc_u"), F.asc("neighbor_id")
    )
    short = (
        adc.withColumn("srk", F.row_number().over(w_short))
        .filter(F.col("srk") <= PQ_RERANK)
        .select("query_id", "neighbor_id")
    )
    scored = (
        short.join(
            embeddings.select(
                F.col("vec_id").alias("neighbor_id"), "embedding"
            ),
            "neighbor_id",
        )
        .join(
            F.broadcast(queries.withColumnRenamed("embedding", "q_emb")),
            "query_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_sim(F.col("q_emb"), F.col("embedding")), 6).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= DEFAULT_K)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
    )


def corpus_diversity(embeddings: DataFrame) -> DataFrame:
    """Exact mean pairwise cosine per label WITHOUT materializing any
    pair: for unit vectors u_i, Σ_{i≠j} u_i·u_j = ||Σ u_i||² − n, so
    mean pairwise cosine = (||Σ u_i||² − n) / (n(n−1)). One corpus
    scan and a labels × d aggregation replace the O(n²) self-join —
    the algebra that turns a corpus-redundancy diagnostic (high mean
    cosine = semantically collapsed data, the SemDeDup-era signal)
    into a 100 TB-safe aggregate. NULL for single-member labels
    (no pairs).

    Output: (label, n_vectors, mean_pairwise_cos, mean_norm)."""
    norm = l2_norm(F.col("embedding"))
    unit = embeddings.select(
        "label",
        norm.alias("__norm"),
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda x: x.cast("double")
                / F.greatest(norm, F.lit(1e-12)),
            )
        ).alias("dim", "u"),
    )
    sums = unit.groupBy("label", "dim").agg(
        F.sum("u").alias("s"),
        # count + norm repeat per dim; dim 0 carries them once
        F.count(F.lit(1)).alias("__n"),
        F.sum("__norm").alias("__norm_sum"),
    )
    per_label = sums.groupBy("label").agg(
        F.sum(F.col("s") * F.col("s")).alias("ss"),
        F.max("__n").alias("n"),
        (F.max("__norm_sum") / F.max("__n")).alias("__mean_norm"),
    )
    n = F.col("n").cast("double")
    return per_label.select(
        "label",
        F.col("n").alias("n_vectors"),
        (
            F.round(
                F.when(
                    F.col("n") >= 2, (F.col("ss") - n) / (n * (n - 1))
                ),
                6,
            )
            + 0.0
        ).alias("mean_pairwise_cos"),
        (F.round(F.col("__mean_norm"), 6) + 0.0).alias("mean_norm"),
    )


OUTLIER_Z = 2.0


def embedding_outliers(embeddings: DataFrame) -> DataFrame:
    """(vec_id, label, d2_micro, z_micro) — vectors anomalously far
    from their own label's centroid (z-score of squared distance >
    threshold): the embedding-table quality screen that surfaces
    mislabeled rows, corrupt vectors, and encoder glitches before
    they poison a centroid, an IVF cell routing, or a semantic-dedup
    decision.

    Determinism: centroids are the micro-quantized per-(label, dim)
    means (floor(mean·10⁶ + 0.5)/10⁶ — pure IEEE, no ROUND); each
    vector's d2 quantizes to integer micro-units BEFORE the per-label
    moment sums, and z quantizes to integer micro-units before the
    threshold compare — so the survivor set is identical across
    engines and both output columns hash as integers. Variance uses
    the explicit sum formula (never engine stddev), population
    convention.

    Scale: the shuffle carries (label, dim) partial sums for the
    centroids and (vec_id, partial d2) for distances — the same
    decomposed shape as ivf_ann_topk's build; per-label moments are a
    labels-sized broadcast."""
    ex = embeddings.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "vec_id", "label", "dim", F.col("v").cast("double").alias("v")
    )
    cent = ex.groupBy("label", "dim").agg(
        (
            F.floor(F.avg("v") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
        ).alias("c")
    )
    d2 = (
        ex.join(cent, ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            micro(
                F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c")))
            ).alias("d2_micro")
        )
    )
    d2q = F.col("d2_micro").cast("double") / F.lit(1e6)
    mom = d2.groupBy("label").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("d2_micro").alias("__sx"),  # exact integer sum
        F.sum(d2q * d2q).alias("__sxx"),
    )
    mean = F.col("__sx").cast("double") / F.lit(1e6) / F.col("__n")
    var = F.greatest(
        F.col("__sxx") / F.col("__n") - mean * mean, F.lit(0.0)
    )
    z = micro((d2q - mean) / F.greatest(F.sqrt(var), F.lit(1e-12)))
    return (
        d2.join(F.broadcast(mom), "label")
        .select("vec_id", "label", "d2_micro", z.alias("z_micro"))
        .filter(F.col("z_micro") > int(OUTLIER_Z * 1_000_000))
    )


def ivf_recall_report(embeddings: DataFrame) -> DataFrame:
    """One row (n_true, n_ivf, n_hit, recall_micro) — the IVF twin of
    dedup.lsh_recall_report: how much of the exact brute-force top-k
    does single-probe IVF routing surface? Routing loss (true
    neighbors living in a non-probed cell) is THE failure mode of IVF
    at low n_probe; an engine that ships approximate search ships its
    own recall meter for each index family.

    Both branches are the already-certified operators
    (knn_bruteforce = truth, ivf_topk = candidate); pairs are unique
    per branch so the hit count is a pair-keyed semi join. At 100 TB
    this runs on a query SAMPLE — the exact branch is the expensive
    one; the report shape is the point."""
    truth = knn_bruteforce(embeddings).select(
        "query_id", "neighbor_id"
    ).localCheckpoint(eager=False)
    ivf = ivf_topk(embeddings).select(
        "query_id", "neighbor_id"
    ).localCheckpoint(eager=False)
    hit = truth.join(ivf, ["query_id", "neighbor_id"], "left_semi")
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    n_ivf = ivf.agg(F.count(F.lit(1)).alias("n_ivf"))
    n_hit = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        n_true.crossJoin(F.broadcast(n_ivf))
        .crossJoin(F.broadcast(n_hit))
        .select(
            "n_true",
            "n_ivf",
            "n_hit",
            micro(F.try_divide(F.col("n_hit"), F.col("n_true"))).alias(
                "recall_micro"
            ),
        )
    )
