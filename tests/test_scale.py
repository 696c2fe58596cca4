"""Scale utilities: salted join correctness."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_ecommerce_spark import catalog
from flink_ecommerce_spark.operators.scale import salted_join

from tests.conftest import SF_SMALL


def test_salted_join_equals_plain_join(spark):
    orders = catalog.table(spark, SF_SMALL, "orders")
    customer = catalog.table(spark, SF_SMALL, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = (
        orders.join(customer, "o_custkey")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("v"))
        .collect()
    )
    salted = (
        salted_join(orders, customer, "o_custkey", salt=8)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("v"))
        .collect()
    )
    assert sorted(map(tuple, plain)) == sorted(map(tuple, salted))


def test_salted_join_on_skewed_data(spark):
    """90% of fact rows share one hot key: salting must still produce
    join-identical results (the scenario the operator exists for)."""
    from pyspark.sql import functions as F

    fact = spark.range(0, 20000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 100).alias("k"),
        (F.col("id") % 1000).cast("double").alias("v"),
    )
    dim = spark.range(0, 100).select(
        F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("name")
    )
    plain = (
        fact.join(dim, "k").groupBy("name").agg(F.sum("v").alias("s")).collect()
    )
    salted = (
        salted_join(fact, dim, "k", salt=8)
        .groupBy("name")
        .agg(F.sum("v").alias("s"))
        .collect()
    )
    assert sorted(map(tuple, plain)) == sorted(map(tuple, salted))


def test_salted_join_left_outer(spark):
    customer = catalog.table(spark, SF_SMALL, "customer")
    orders = catalog.table(spark, SF_SMALL, "orders").withColumnRenamed(
        "o_custkey", "c_custkey"
    )
    plain = customer.join(orders, "c_custkey", "left").count()
    salted = salted_join(customer, orders, "c_custkey", salt=4, how="left").count()
    assert plain == salted


def test_fuzzy_block_cap_drops_only_hot_blocks(spark):
    """max_block_rows excludes runaway blocks from the quadratic
    fuzzy join (hot-shingle-ceiling analog); small blocks keep their
    pairs, and the default (no cap) is unchanged."""
    from flink_ecommerce_spark.operators.entity import fuzzy_name_pairs

    rows = [(i, f"hotblockhotblock{i % 3}", 0, 0.0) for i in range(40)]
    rows += [(100, "coolblockcoolname", 0, 0.0), (101, "coolblockcoolnamx", 0, 0.0)]
    cust = spark.createDataFrame(
        rows, "c_custkey long, c_name string, c_nationkey long, c_acctbal double"
    )
    uncapped = fuzzy_name_pairs(cust)
    capped = fuzzy_name_pairs(cust, max_block_rows=10)
    # hot block (40 rows, one 16-char prefix) produces quadratic pairs
    # uncapped; the cap drops them and keeps the small block's pair
    assert uncapped.count() > 100
    got = {(r["custkey_1"], r["custkey_2"]) for r in capped.collect()}
    assert got == {(100, 101)}


def test_hist_percentiles_within_one_bucket_of_exact(spark):
    """The bounded-memory sketch's error contract: every estimate
    lands within one bucket_width ABOVE the exact interpolated
    percentile (upper-edge estimates never undershoot)."""
    from flink_ecommerce_spark import catalog
    from flink_ecommerce_spark.plans.temporal import value_percentiles_hist
    from tests.conftest import SF_SMALL

    events = catalog.table(spark, SF_SMALL, "events")
    got = value_percentiles_hist(events).collect()[0]
    exact = events.selectExpr(
        "percentile(value, 0.5) AS p50",
        "percentile(value, 0.9) AS p90",
        "percentile(value, 0.99) AS p99",
    ).collect()[0]
    w = got["bucket_width_micro"] / 1e6
    for tag in ("50", "90", "99"):
        est = got[f"p{tag}_est_micro"] / 1e6
        true = exact[f"p{tag}"]
        assert true - 1e-6 <= est <= true + w + 1e-6, (tag, est, true, w)


def test_hist_percentiles_degenerate_all_equal(spark):
    from flink_ecommerce_spark.plans.temporal import value_percentiles_hist

    df = spark.createDataFrame([(7.5,)] * 20, "value double")
    r = value_percentiles_hist(df).collect()[0]
    assert (
        r["p50_est_micro"] == r["p90_est_micro"] == r["p99_est_micro"]
        == 7_500_000
    )


def test_heavy_scan_fixup_gates_on_size(spark, tmp_path):
    """ensure_parallelism_for_heavy_scan: a tiny single-file scan is
    left alone (the shuffle would cost more than it buys), an
    unknown-stats single-partition frame repartitions to full width,
    and an already-parallel frame passes through untouched."""
    from flink_ecommerce_spark.operators.scale import (
        ensure_parallelism_for_heavy_scan,
    )

    # tiny parquet scan: size estimate well under the floor -> no-op
    path = str(tmp_path / "tiny")
    spark.range(100).selectExpr("id", "repeat('x', 10) AS text").coalesce(
        1
    ).write.parquet(path)
    scan = spark.read.parquet(path)
    assert scan.rdd.getNumPartitions() == 1
    assert (
        ensure_parallelism_for_heavy_scan(scan).rdd.getNumPartitions() == 1
    )

    # RDD-backed frame: the estimate ignores string payloads (a
    # fixed ~18 bytes/string), so it is NOT trusted -> assume heavy
    # and repartition to full width
    ckpt = (
        spark.range(60_000)
        .selectExpr("id", "repeat('x', 200) AS text")
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    fixed = ensure_parallelism_for_heavy_scan(ckpt)
    assert fixed.rdd.getNumPartitions() == target

    # already parallel: untouched (identity, not just same count)
    wide = spark.range(1000).repartition(target)
    assert ensure_parallelism_for_heavy_scan(wide) is wide

    # optimizer-proven-empty frames have ZERO partitions (LocalRelation
    # from filter(false)/limit(0)) — must pass through, not divide by 0
    from pyspark.sql import functions as F

    for empty in (scan.filter(F.lit(False)), scan.limit(0)):
        assert ensure_parallelism_for_heavy_scan(empty) is empty
        assert empty.count() == 0


def test_bloom_prefilter_preserves_join_exactly(spark):
    """The runtime-filter guarantee: joining after the prefilter
    yields EXACTLY the unfiltered join (no false negatives), while
    the scan-side row count drops."""
    from flink_ecommerce_spark import catalog
    from flink_ecommerce_spark.operators.scale import bloom_prefilter

    from tests.conftest import SF_SMALL

    orders = catalog.table(spark, SF_SMALL, "orders")
    # a selective dim side: ~5% of customers
    from pyspark.sql import functions as F

    custs = (
        catalog.table(spark, SF_SMALL, "customer")
        .filter(F.col("c_custkey") % 20 == 0)
        .select("c_custkey")
    )
    direct = orders.join(
        custs, orders.o_custkey == custs.c_custkey
    ).select("o_orderkey")
    filtered_fact = bloom_prefilter(orders, custs, "o_custkey", "c_custkey")
    via_bloom = filtered_fact.join(
        custs, F.col("o_custkey") == custs.c_custkey
    ).select("o_orderkey")
    a = {r["o_orderkey"] for r in direct.collect()}
    b = {r["o_orderkey"] for r in via_bloom.collect()}
    assert a == b
    n_all, n_kept = orders.count(), filtered_fact.count()
    assert n_kept < n_all  # the filter actually prunes
    assert n_kept >= len(a)  # and never below the true join support


def test_bloom_prefilter_is_scan_shaped(spark):
    """The membership test must compile to a map-side Filter: no
    Exchange, no join operator anywhere in the filtered plan."""
    from flink_ecommerce_spark import catalog
    from flink_ecommerce_spark.operators.scale import bloom_prefilter

    from pyspark.sql import functions as F

    from tests.conftest import SF_SMALL

    orders = catalog.table(spark, SF_SMALL, "orders")
    custs = (
        catalog.table(spark, SF_SMALL, "customer")
        .filter(F.col("c_custkey") % 20 == 0)
        .select("c_custkey")
    )
    plan = (
        bloom_prefilter(orders, custs, "o_custkey", "c_custkey")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_checkpoint_leaves_an_unset_aqe_key_unset(spark):
    """The checkpoints turn AQE off only for their own planning: a key
    the session never set is unset again afterwards, not pinned to
    the value it read back."""
    from flink_ecommerce_spark.operators.scale import checkpoint_partitioned

    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.unset(key)
    try:
        checkpoint_partitioned(spark.range(10), "id")
        assert spark.conf.get(key, None) is None
    finally:
        spark.conf.set(key, prev)
