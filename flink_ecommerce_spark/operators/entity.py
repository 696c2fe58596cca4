"""Entity resolution: blocked fuzzy self-match on names.

The classic record-linkage shape: normalize → derive a BLOCKING key →
self-join only within blocks → edit-distance filter on the survivors.
The blocking key is what makes this scale: an unblocked fuzzy join is
O(n²) over the whole table; with blocking it is O(Σ block²), governed
entirely by key selectivity. Both the normalization and the distance
run with built-in functions (JVM codegen; DuckDB has the identical
`levenshtein`), so the operator is exactly oracle-checkable.

Blocking trades recall for cost by construction: a pair whose edit
difference falls INSIDE the blocking prefix is never compared. Pick
the prefix from the stable part of the key domain (here: all but the
last 2 chars of the fixture names, where the variation lives).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOCK_LEN = 16
MAX_DIST = 1


def fuzzy_name_pairs(
    customer: DataFrame,
    max_block_rows: int | None = None,
) -> DataFrame:
    """Candidate duplicate-customer pairs: same normalized-name prefix
    (block), Levenshtein distance ≤ MAX_DIST, each unordered pair
    reported once (custkey_1 < custkey_2).

    Scale: the self-join shuffles both sides on the block key once;
    within-block comparison cost is quadratic only in block size, so
    monitoring the largest block (see block_profile) is the capacity
    check. Distance evaluates AFTER the equi-join match, never as a
    cross product.

    ``max_block_rows`` is the runaway-block guard (standard
    record-linkage practice, same class as the ngram hot-shingle
    ceiling): blocks larger than the cap are EXCLUDED from the fuzzy
    join — an oversized block means the blocking key stopped
    discriminating there, and the fix is a different key for those
    rows, not a quadratic brute force. Default None compares every
    block (the oracle-certified shape at fixture scale); at 100×,
    set a cap and route the dropped blocks to a second pass with a
    longer key."""
    norm = F.lower(F.trim(F.col("c_name")))
    t = customer.select(
        "c_custkey",
        norm.alias("name"),
        F.substring(norm, 1, BLOCK_LEN).alias("blk"),
    )
    if max_block_rows is not None:
        hot = (
            t.groupBy("blk")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_block_rows)
            .select("blk")
        )
        t = t.join(F.broadcast(hot), "blk", "left_anti")
    a, b = t.alias("a"), t.alias("b")
    dist = F.levenshtein(F.col("a.name"), F.col("b.name"))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .filter(dist <= MAX_DIST)
        .select(
            F.col("a.c_custkey").alias("custkey_1"),
            F.col("b.c_custkey").alias("custkey_2"),
            dist.alias("dist"),
        )
    )


def block_profile(customer: DataFrame) -> DataFrame:
    """Block-size histogram — the operational health check for the
    blocked join (a runaway block means the blocking key stopped
    discriminating and the join cost curve went quadratic)."""
    norm = F.lower(F.trim(F.col("c_name")))
    return (
        customer.select(F.substring(norm, 1, BLOCK_LEN).alias("blk"))
        .groupBy("blk")
        .agg(F.count(F.lit(1)).alias("block_size"))
        .groupBy("block_size")
        .agg(F.count(F.lit(1)).alias("n_blocks"))
    )


def entity_merge_groups(customer: DataFrame) -> DataFrame:
    """MDM merge groups: transitive closure over the fuzzy-match
    pairs — A~B and B~C merge {A,B,C} even when A~C itself misses
    the distance cutoff — with the smallest custkey as the
    canonical record. Every customer appears exactly once
    (singletons are their own canonical).

    Scale: reuses ``operators.graph.connected_components`` (the
    dedup_clusters loop): per-round state is |custkeys with a fuzzy
    match|, a small fraction of any customer table. Output:
    (c_custkey, canonical_custkey, is_canonical)."""
    from pyspark.sql import functions as F

    from .graph import connected_components

    pairs = fuzzy_name_pairs(customer).select(
        F.col("custkey_1").alias("doc_a"), F.col("custkey_2").alias("doc_b")
    )
    labels = connected_components(pairs)
    return (
        customer.select("c_custkey")
        .join(
            labels.select(
                F.col("doc_id").alias("c_custkey"),
                F.col("cluster_id").alias("canonical_custkey"),
            ),
            "c_custkey",
            "left",
        )
        .select(
            "c_custkey",
            F.coalesce(
                "canonical_custkey", F.col("c_custkey")
            ).alias("canonical_custkey"),
        )
        .withColumn(
            "is_canonical", F.col("c_custkey") == F.col("canonical_custkey")
        )
    )
