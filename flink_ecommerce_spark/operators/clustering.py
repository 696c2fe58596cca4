"""K-means over the embeddings table as pure DataFrame algebra.

Lloyd's algorithm with ENGINE-PORTABLE determinism: centroids
initialize from the k lowest vec_ids, the iteration count is fixed,
updated centroid means are quantized to 6 decimals and distances to 9
decimals before the argmin — so every run, an independent NumPy
reference (tests/test_kmeans.py), AND a pure-SQL engine (the unrolled
DuckDB oracle, ``kmeans_oracle_sql``) produce identical assignments:
cross-engine float drift lives in the low-order bits that summation
order perturbs (~1e-15 relative), far below the quantization steps,
and exact post-rounding distance ties resolve to the LOWEST cluster
index in every implementation. Same pattern as supplier_pagerank's
unrolled-CTE oracle (operators/graph.py) and the portable HLL.
No MLlib dependency: each round is

    assign:  corpus × broadcast(centroids k×d) → argmin distance
    update:  groupBy(cluster) → per-dimension mean (posexplode)

Scale notes: per round the corpus is scanned once; the shuffle
carries (cluster, dim, partial-sum) — k×d×partitions rows, never
vectors. Centroids collect to the driver between rounds (k×d doubles
— tiny by construction). This is exactly how MLlib's k-means moves
data, minus its sampling-based init.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


DEFAULT_K = 8
DEFAULT_ITER = 5
SILHOUETTE_KS = (2, 4, 8, 16)  # the K values silhouette_by_k sweeps


def _sq_dist_to(cvec: list[float]):
    arr = F.array(*[F.lit(float(x)) for x in cvec])

    def d(emb_col):
        return F.aggregate(
            F.zip_with(
                emb_col, arr, lambda x, c: (x.cast("double") - c) * (x.cast("double") - c)
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    return d


def _assign_with(
    corpus: DataFrame, centroids: list[list[float]], keep_dists: bool = False
) -> DataFrame:
    """One Lloyd assignment pass from literal centroids: (vec_id,
    embedding, cluster), plus the d0..dk-1 distance columns when
    ``keep_dists`` (the silhouette meter's input — kmeans itself
    keeps the original narrow projection so its certified plan is
    byte-identical). Distances quantized to 9dp so the argmin is
    identical across engines (see module docstring); post-rounding
    ties fall to the lowest cluster index."""
    dist_cols = [
        F.round(_sq_dist_to(c)(F.col("embedding")), 9).alias(f"d{i}")
        for i, c in enumerate(centroids)
    ]
    with_d = corpus.select("vec_id", "embedding", *dist_cols)
    # argmin with index tie-break: least() gives the min value;
    # pick the first index attaining it
    min_d = F.least(*[F.col(f"d{i}") for i in range(len(centroids))])
    cluster = F.lit(None).cast("int")
    for i in reversed(range(len(centroids))):
        cluster = F.when(F.col(f"d{i}") == min_d, F.lit(i)).otherwise(cluster)
    if keep_dists:
        return with_d.select(
            "vec_id",
            "embedding",
            *[f"d{i}" for i in range(len(centroids))],
            cluster.alias("cluster"),
        )
    return with_d.select("vec_id", "embedding", cluster.alias("cluster"))


def _final_centroids(
    embeddings: DataFrame, k: int, n_iter: int
) -> tuple[DataFrame, list[list[float]]]:
    """(corpus frame, centroids entering the FINAL assignment round):
    init from the k lowest vec_ids, then ``n_iter - 1`` update rounds
    — the returned centroids are what round ``n_iter`` assigns with
    (the oracle only assigns on round n_iter; computing and
    discarding one more centroid update would waste a distributed
    aggregation + driver collect, ADVICE r05)."""
    init = (
        embeddings.orderBy("vec_id")
        .limit(k)
        .select("embedding")
        .collect()
    )
    centroids = [[float(x) for x in r["embedding"]] for r in init]
    corpus = embeddings.select("vec_id", "embedding")
    for _ in range(n_iter - 1):
        assigned = _assign_with(corpus, centroids)
        new_rows = (
            assigned.select("cluster", F.posexplode("embedding").alias("dim", "v"))
            .groupBy("cluster", "dim")
            # 6dp quantization — the cross-engine determinism anchor;
            # F.round is HALF_UP like DuckDB's ROUND (Python round()
            # would be banker's)
            .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("m"))
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in new_rows:
            by_cluster.setdefault(r["cluster"], {})[r["dim"]] = r["m"]
        dim = len(centroids[0])
        centroids = [
            [by_cluster.get(i, {}).get(d, centroids[i][d]) for d in range(dim)]
            for i in range(len(centroids))
        ]
    return corpus, centroids


def kmeans_assign(
    embeddings: DataFrame, k: int = DEFAULT_K, n_iter: int = DEFAULT_ITER
) -> DataFrame:
    """Returns (vec_id, cluster) after ``n_iter`` Lloyd rounds with
    init = embeddings of the k smallest vec_ids."""
    corpus, centroids = _final_centroids(embeddings, k, n_iter)
    return _assign_with(corpus, centroids).select("vec_id", "cluster")


def kmeans_sizes(embeddings: DataFrame) -> DataFrame:
    """Cluster cardinalities — the compact, registry-friendly output."""
    return (
        kmeans_assign(embeddings)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


def kmeans_oracle_sql(k: int = DEFAULT_K) -> str:
    """Exact DuckDB twin of ``kmeans_sizes``: the ``DEFAULT_ITER`` Lloyd
    rounds unrolled as CTEs (assign aᵢ from centroids cᵢ₋₁, update cᵢ
    from aᵢ), the same pattern as supplier_pagerank's unrolled oracle.
    Portability anchors mirror the Spark side exactly: centroid means
    ROUND(·, 6), distances ROUND(·, 9) with post-rounding argmin ties
    falling to the lowest cluster index (row_number ORDER BY d,
    cluster), empty clusters carrying the previous round's centroid
    per dimension (COALESCE over the dim grid). The squared distance
    uses the |x|²+|c|²−2x·c expansion — it differs from Spark's fold
    by ≤ ~1e-13, which the 9dp quantization absorbs."""
    dist = (
        "ROUND(list_inner_product(emb.e, emb.e)"
        " + list_inner_product({c}.c, {c}.c)"
        " - 2 * list_inner_product(emb.e, {c}.c), 9)"
    )
    parts = [
        "WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e"
        " FROM embeddings),",
        "c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)"
        " AS cluster, e AS c FROM"
        f" (SELECT vec_id, e FROM emb ORDER BY vec_id LIMIT {k})),",
    ]
    for i in range(1, DEFAULT_ITER + 1):
        prev = f"c{i - 1}"
        d = dist.format(c=prev)
        parts.append(
            f"a{i} AS (SELECT vec_id, e, cluster FROM ("
            f"SELECT emb.vec_id, emb.e, {prev}.cluster,"
            f" row_number() OVER (PARTITION BY emb.vec_id"
            f" ORDER BY {d}, {prev}.cluster) AS rn"
            f" FROM emb CROSS JOIN {prev}) WHERE rn = 1),"
        )
        if i == DEFAULT_ITER:
            break  # the final round only assigns (matches the Spark loop)
        parts.append(
            f"m{i} AS (SELECT a.cluster, s.i - 1 AS dim,"
            f" ROUND(AVG(a.e[s.i]), 6) AS m"
            f" FROM a{i} a, UNNEST(generate_series(1, len(a.e))) AS s(i)"
            f" GROUP BY 1, 2),"
        )
        parts.append(
            f"c{i} AS (SELECT g.cluster,"
            f" list(COALESCE(m{i}.m, g.cv) ORDER BY g.dim) AS c FROM"
            f" (SELECT {prev}.cluster, s.i - 1 AS dim, {prev}.c[s.i] AS cv"
            f" FROM {prev}, UNNEST(generate_series(1, len({prev}.c)))"
            f" AS s(i)) g"
            f" LEFT JOIN m{i} ON m{i}.cluster = g.cluster"
            f" AND m{i}.dim = g.dim GROUP BY g.cluster),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT cluster, COUNT(*) AS n_vectors FROM a{DEFAULT_ITER}"
        " GROUP BY cluster"
    )
    return "\n".join(parts)


def _silhouette_points(
    embeddings: DataFrame, k: int = DEFAULT_K, n_iter: int = DEFAULT_ITER
) -> DataFrame:
    """(cluster, __s_u) — one row per vector: its assigned cluster and
    its per-POINT micro-quantized simplified-silhouette score. The
    shared core of cluster_silhouette (per-cluster means) and
    silhouette_by_k (exact corpus-wide mean): both aggregate THESE
    integers, so every mean is an order-independent integer sum —
    micro of a double AVG would ride the partial-sum order (the
    encoding rule's money-per-row argument applied to scores)."""
    corpus, centroids = _final_centroids(embeddings, k, n_iter)
    assigned = _assign_with(corpus, centroids, keep_dists=True)
    darr = F.array_sort(
        F.array(*[F.sqrt(F.col(f"d{i}")) for i in range(len(centroids))])
    )
    a = darr[0]
    b = darr[1]
    s = F.when(F.greatest(a, b) == 0.0, F.lit(0.0)).otherwise(
        (b - a) / F.greatest(a, b)
    )
    from ..functions.portable import micro

    # The +1e6 shift used by consumers keeps DIV dividends
    # non-negative because Spark's DIV truncates toward zero while
    # DuckDB's // floors — they only agree on non-negative operands
    # (s can be negative).
    return assigned.select("cluster", micro(s).alias("__s_u"))


def cluster_silhouette(
    embeddings: DataFrame, k: int = DEFAULT_K, n_iter: int = DEFAULT_ITER
) -> DataFrame:
    """Per-cluster SIMPLIFIED SILHOUETTE over the k-means assignment
    — the cell-quality meter the IVF/SemDeDup family was missing:
    recall meters say how much the buckets catch, this says whether
    the buckets are geometrically meaningful. For each vector,
    a = distance to its own centroid, b = distance to the nearest
    OTHER centroid, s = (b - a) / max(a, b) ∈ [-1, 1] (Hruschka et
    al.'s simplified silhouette — the O(n·k) centroid form of
    Rousseeuw's O(n²) pairwise statistic; the same
    avoid-the-pairwise-join discipline as corpus_diversity). A
    well-separated clustering scores near 1; an overfit K that
    splits natural cells scores visibly lower (pinned in tests).

    Returns (cluster, n_vectors, mean_silhouette_micro).

    Determinism anchors (same as kmeans): distances are the
    9dp-quantized squared form shared with the assignment, so
    a = sqrt(min dᵢ) exactly; b = sqrt(second-smallest dᵢ) via
    array_sort — with post-rounding ties this equals min-over-others
    on both engines. sqrt is IEEE-correctly-rounded, hence
    bit-identical cross-engine on identical inputs.

    Scale: one corpus scan against k broadcast literal centroids
    (O(n·k·d) arithmetic, no shuffle), then a k-row groupBy. The
    Lloyd rounds before it are kmeans_assign's own cost — at IVF
    scale the assignment is already materialized and this meter is
    a single cheap aggregate over it."""
    return (
        _silhouette_points(embeddings, k, n_iter)
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.expr(
                "CAST((sum(__s_u) + count(1) * 1000000) DIV count(1)"
                " - 1000000 AS BIGINT)"
            ).alias("mean_silhouette_micro"),
        )
    )


def cluster_silhouette_oracle_sql(k: int = DEFAULT_K) -> str:
    """DuckDB twin of ``cluster_silhouette``: reuses the unrolled
    Lloyd CTEs of ``kmeans_oracle_sql`` through the final assignment
    a{DEFAULT_ITER}, then scores each vector against the SAME round's
    centroid table c{n_iter-1}: a = sqrt of the 9dp-rounded squared
    distance to the assigned centroid, b = the min over the others —
    identical to the Spark side's sorted-array second-minimum
    because the assigned centroid attains the global minimum."""
    base = kmeans_oracle_sql(k)
    # strip kmeans' final SELECT; keep the WITH-chain through a{DEFAULT_ITER}
    cut = base.rindex("SELECT cluster, COUNT(*) AS n_vectors")
    prefix = base[:cut].rstrip()
    if not prefix.endswith(","):
        prefix += ","
    cfin = f"c{DEFAULT_ITER - 1}"
    dist = (
        "sqrt(ROUND(list_inner_product(a.e, a.e)"
        f" + list_inner_product({cfin}.c, {cfin}.c)"
        f" - 2 * list_inner_product(a.e, {cfin}.c), 9))"
    )
    return f"""{prefix}
dists AS (SELECT a.vec_id, a.cluster, {cfin}.cluster AS cc,
                 {dist} AS dist
          FROM a{DEFAULT_ITER} a CROSS JOIN {cfin}),
ab AS (SELECT vec_id, cluster,
              MIN(CASE WHEN cc = cluster THEN dist END) AS a_d,
              MIN(CASE WHEN cc != cluster THEN dist END) AS b_d
       FROM dists GROUP BY 1, 2),
su AS (SELECT cluster,
              CAST(FLOOR((CASE WHEN GREATEST(a_d, b_d) = 0 THEN 0.0
                               ELSE (b_d - a_d) / GREATEST(a_d, b_d) END)
                   * 1000000 + 0.5) AS BIGINT) AS s_u
       FROM ab)
SELECT cluster, COUNT(*) AS n_vectors,
       CAST((SUM(s_u) + COUNT(*) * 1000000) // COUNT(*) - 1000000
            AS BIGINT) AS mean_silhouette_micro
FROM su GROUP BY cluster
"""


def silhouette_by_k(
    embeddings: DataFrame,
    ks: tuple[int, ...] = SILHOUETTE_KS,
) -> DataFrame:
    """(k, n_clusters_used, mean_silhouette_micro) — the choose-K
    sweep over the silhouette meter: run the quantized Lloyd pipeline
    at each candidate K and report the corpus-wide mean simplified
    silhouette. The mean is the EXACT per-point integer mean
    (shifted SUM of per-point micros DIV count), not a reconstruction
    from floored per-cluster means — the r08 ADVICE note: per-cluster
    integer division discards up to (k−1)/n micro-units and could
    flip the elbow pick between near-tied Ks. The K whose score peaks
    is the elbow the IVF/SemDeDup cell planners should prefer; a K
    past the natural cell count splits tight cells and the score
    visibly drops (pinned in tests).

    Scale: each K is one independent Lloyd run (DEFAULT_ITER scans) + one
    scoring scan reduced to a 1-row aggregate — the sweep is len(ks)
    such pipelines unioned lazily into a len(ks)-row frame; nothing
    is quadratic and nothing collects to the driver."""
    out = None
    for k in ks:
        pts = _silhouette_points(embeddings, k=k)
        rep = pts.agg(
            F.countDistinct("cluster").cast("int").alias("n_clusters_used"),
            F.expr(
                "CAST((sum(__s_u) + count(1) * 1000000) DIV count(1)"
                " - 1000000 AS BIGINT)"
            ).alias("mean_silhouette_micro"),
            F.count(F.lit(1)).alias("__n"),
        ).select(
            F.lit(int(k)).alias("k"),
            "n_clusters_used",
            "mean_silhouette_micro",
            "__n",
        )
        out = rep if out is None else out.unionByName(rep)
    return out.filter(F.col("__n") > 0).drop("__n")


def silhouette_by_k_oracle_sql() -> str:
    """DuckDB twin of ``silhouette_by_k``: per candidate K, the
    cluster_silhouette oracle's WITH-chain through the per-point
    score table ``su``, re-aggregated corpus-wide (COUNT(DISTINCT
    cluster) + the same shifted SUM-DIV integer mean), one
    parenthesized WITH-subquery per K glued with UNION ALL."""
    parts = []
    for k in SILHOUETTE_KS:
        base = cluster_silhouette_oracle_sql(k)
        cut = base.rindex("SELECT cluster, COUNT(*) AS n_vectors")
        prefix = base[:cut].rstrip()
        parts.append(
            f"""SELECT * FROM ({prefix}
SELECT {int(k)} AS k,
       CAST(COUNT(DISTINCT cluster) AS INTEGER) AS n_clusters_used,
       CAST((SUM(s_u) + COUNT(*) * 1000000) // COUNT(*) - 1000000
            AS BIGINT) AS mean_silhouette_micro
FROM su HAVING COUNT(*) > 0)"""
        )
    return "\nUNION ALL\n".join(parts)
