"""Star-schema join/aggregation queries (extension surface — the
reference has NO joins, SURVEY.md §2.6; these cover the standard
hash/sort-merge/broadcast/semi/anti variants over the driver's
TPC-H-ish tables).

Scale notes (100 TB): fact tables (lineitem/orders) are the big
sides; dimensions (region/nation/customer/supplier/part) are
broadcast explicitly so no fact-side shuffle happens for dimension
joins. Fact-fact joins (orders⋈lineitem) shuffle on the join key
once and AQE handles skew. Filters sit directly on the scans so
Catalyst pushes them into parquet (PushedFilters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.portable import micro


def q1_pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1 shape: scan → pushed filter → one shuffle, 8 aggregates
    sharing a single partial-agg pass."""
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q3_shipping_priority(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
) -> DataFrame:
    """TPC-H Q3 shape: broadcast the filtered customer dim into orders,
    shuffle-join lineitem on l_orderkey, top-10 revenue.

    The limit-after-sort is a TakeOrderedAndProject — each partition
    keeps only its local top-10, so no global sort materializes."""
    cust = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    ords = orders.filter(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
    li = lineitem.filter(F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
    return (
        li.join(
            ords.join(F.broadcast(cust), ords.o_custkey == cust.c_custkey),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", F.to_date("o_orderdate").alias("o_orderdate"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q5_regional_revenue(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
) -> DataFrame:
    """TPC-H Q5 shape: revenue per nation where customer and supplier
    share the nation. All dimensions broadcast; lineitem only ever
    shuffles once (on l_orderkey against orders)."""
    dim = (
        customer.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region), nation.n_regionkey == region.r_regionkey
                ).select("n_nationkey", "n_name")
            ),
            customer.c_nationkey == F.col("n_nationkey"),
        ).select("c_custkey", "c_nationkey", "n_name")
    )
    ords = orders.join(F.broadcast(dim), orders.o_custkey == dim.c_custkey).select(
        "o_orderkey", "c_nationkey", "n_name"
    )
    li = lineitem.join(
        F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
        lineitem.l_suppkey == F.col("s_suppkey"),
    )
    return (
        li.join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("s_nationkey") == F.col("c_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def customer_order_totals(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Per-customer order count + total spend, joined to the customer
    dim (broadcast). Aggregates BEFORE the join so the join input is
    pre-shrunk — at scale this is aggregate-then-join, not the
    reverse."""
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
    )
    return per_cust.join(
        F.broadcast(customer.select("c_custkey", "c_name", "c_mktsegment")),
        per_cust.o_custkey == F.col("c_custkey"),
    ).select("c_custkey", "c_name", "c_mktsegment", "n_orders", "total_spent")


def top10_orders(orders: DataFrame) -> DataFrame:
    """Global top-k: TakeOrderedAndProject, no full sort."""
    return (
        orders.select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


def customers_without_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """LEFT ANTI join (reference has no joins at all; SURVEY.md §2.6).
    Anti join broadcasts the distinct key set when small; at scale it
    is a shuffled hash anti-join with null-safe semantics."""
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def orders_with_big_lineitem(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """LEFT SEMI join: orders having at least one expensive line item."""
    big = lineitem.filter(F.col("l_extendedprice") > 90000.0)
    return orders.join(
        big, orders.o_orderkey == big.l_orderkey, "left_semi"
    ).select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))


def parts_by_brand_type(part: DataFrame) -> DataFrame:
    """Multi-column group with distinct-count (covers COUNT(DISTINCT))."""
    return part.groupBy("p_brand", "p_type").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.countDistinct("p_size").alias("n_sizes"),
        F.round(F.avg("p_retailprice"), 6).alias("avg_price"),
    )


def _dec2(col: str):
    """Money/rate column as exact DECIMAL(18,2). The fixture doubles all
    carry ≤2 decimal digits, so this cast recovers the exact decimal value;
    downstream ×/−/SUM in decimal are then order-independent — immune to
    the last-ulp drift that double partial aggregation has across partition
    orders (which breaks value-hash parity on ROUND boundaries)."""
    return F.col(col).cast("decimal(18,2)")


# --------------------------------------------------------------------------
# Further TPC-H-shaped queries, adapted to the fixture columns (the fixtures
# have no partsupp/commitdate/shipmode/comment; substitutions are noted per
# query). Together they cover: non-equi semi join (q4), pure pushdown agg
# (q6), double-dimension multi-join (q7), part-filtered profit rollup (q9),
# grouped top-k over a 4-way join (q10), outer-join histogram (q13), global
# ratio aggregate (q14), per-group argmin join (q2), correlated-average
# filter (q17), group-HAVING fact self-aggregation (q18), disjunctive
# OR-of-ANDs pushdown (q19), and scalar-subquery + anti-join (q22).
# --------------------------------------------------------------------------


def q2_min_cost_supplier(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
) -> DataFrame:
    """TPC-H Q2 shape (argmin per group). The fixtures have no partsupp,
    so lineitem plays its role: a (part, supplier) pair's unit cost is
    its min observed l_extendedprice / l_quantity.

    Scale: lineitem aggregates down to (part, supplier) FIRST — the
    window ranking then runs on the pre-shrunk pair table, not the raw
    fact. The part dim filter broadcasts into the pair table."""
    from pyspark.sql import Window

    pairs = (
        lineitem.groupBy("l_partkey", "l_suppkey")
        .agg(
            F.round(
                F.min(F.col("l_extendedprice") / F.col("l_quantity")), 6
            ).alias("unit_cost")
        )
    )
    small_parts = part.filter(F.col("p_size") <= 10).select(
        "p_partkey", "p_name", "p_size"
    )
    ranked = (
        pairs.join(
            F.broadcast(small_parts), pairs.l_partkey == small_parts.p_partkey
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("p_partkey").orderBy(
                    F.asc("unit_cost"), F.asc("l_suppkey")
                )
            ),
        )
        .filter(F.col("rk") == 1)
    )
    return (
        ranked.join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            ranked.l_suppkey == F.col("s_suppkey"),
        )
        .select("p_partkey", "p_name", "p_size", "s_name", "unit_cost")
    )


def q4_order_priority(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q4 shape: order-priority checking via EXISTS. The fixtures
    lack commit/receipt dates, so the exists-predicate is "some line
    item shipped after the order date" — a LEFT SEMI join whose
    condition mixes the equi key with a non-equi comparison.

    Scale: semi join shuffles both sides on the order key once; the
    non-equi part is evaluated post-match, never as a nested loop."""
    return (
        orders.join(
            lineitem,
            (orders.o_orderkey == lineitem.l_orderkey)
            & (lineitem.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q6_revenue_forecast(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q6: the canonical filter-pushdown probe — three range
    predicates, no join, one global sum. All three predicates must
    appear in the parquet scan's PushedFilters; the whole query is a
    single scan + partial/final agg with no shuffle of raw rows."""
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.04)
            & (F.col("l_quantity") < 24.0)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


def q7_volume_shipping(
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between DIFFERENT nations —
    the supplier's nation and the customer's nation both label each
    line item, via two independent dimension paths.

    Scale: nation×2 and supplier broadcast; customer folds into orders
    (broadcast at fixture scale, shuffle at 100 TB); lineitem shuffles
    exactly once, on l_orderkey."""
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    supp = supplier.join(
        F.broadcast(n1), supplier.s_nationkey == n1.s_nk
    ).select("s_suppkey", "supp_nation")
    cust = customer.join(
        F.broadcast(n2), customer.c_nationkey == n2.c_nk
    ).select("c_custkey", "cust_nation")
    ords = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "o_orderdate", "cust_nation"
    )
    return (
        lineitem.join(F.broadcast(supp), lineitem.l_suppkey == supp.s_suppkey)
        .join(ords, F.col("l_orderkey") == ords.o_orderkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("o_orderdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(_dec2("l_extendedprice") * (1 - _dec2("l_discount"))), 2
            )
            .cast("double")
            .alias("revenue")
        )
    )


def q9_product_profit(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year for a
    part-name-filtered slice. No partsupp in the fixtures, so cost is
    p_retailprice × l_quantity (same join shape, different arithmetic).

    Scale: part filter broadcasts (name LIKE prunes ~1/7 of parts);
    supplier+nation broadcast; the only fact-fact shuffle is
    lineitem⋈orders on the order key."""
    parts = part.filter(F.col("p_name").like("%bolt%")).select(
        "p_partkey", "p_retailprice"
    )
    supp = supplier.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        supplier.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "n_name")
    return (
        lineitem.join(F.broadcast(parts), lineitem.l_partkey == parts.p_partkey)
        .join(F.broadcast(supp), lineitem.l_suppkey == supp.s_suppkey)
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    _dec2("l_extendedprice") * (1 - _dec2("l_discount"))
                    - _dec2("p_retailprice") * _dec2("l_quantity")
                ),
                2,
            )
            .cast("double")
            .alias("sum_profit")
        )
    )


def q10_returned_items(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """TPC-H Q10: top-k customers by revenue lost to returned items in
    one quarter. Covers grouped top-k over a 4-way join.

    Scale: the order-date filter pushes into the orders scan and
    pre-shrinks the fact-fact join; customer/nation broadcast; final
    top-20 is TakeOrderedAndProject (per-partition heads, no global
    sort)."""
    ords = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = lineitem.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    cust = customer.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        customer.c_nationkey == F.col("n_nationkey"),
    ).select("c_custkey", "c_name", "c_acctbal", "n_name")
    return (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .join(F.broadcast(cust), ords.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def q13_order_distribution(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q13: distribution of orders-per-customer INCLUDING
    zero-order customers — the outer-join histogram. Two aggregations:
    count per customer (left outer), then customers per count.

    Scale: first agg shuffles on custkey, second on the (tiny) count
    domain; the second shuffle moves one row per distinct count."""
    per_cust = (
        customer.join(
            orders.select("o_custkey", "o_orderkey"),
            customer.c_custkey == F.col("o_custkey"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))  # count(col): nulls drop
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


def q14_promo_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q14: promo revenue share — a conditional-sum ratio in one
    aggregation pass over a month of shipments (p_type = 'PROMO' is the
    fixtures' analog of TPC-H's 'PROMO%' prefix)."""
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .join(F.broadcast(part.select("p_partkey", "p_type")),
              F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", amount).otherwise(0.0))
                / F.sum(amount),
                6,
            ).alias("promo_revenue_pct")
        )
    )


def q17_small_quantity_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q17: yearly revenue that would vanish if sub-20%-of-average
    quantity orders stopped — the correlated-average filter.

    Spark-first: the correlated scalar subquery becomes an aggregate-
    then-broadcast-join — per-part averages are tiny (one row per part)
    and join back into the brand-filtered fact slice. Quantities are
    integer-valued doubles, so their sums (hence averages) are exact in
    IEEE double and the 0.2×avg threshold is engine-portable."""
    branded = lineitem.join(
        F.broadcast(
            part.filter(F.col("p_brand") == "Brand#3").select("p_partkey")
        ),
        lineitem.l_partkey == F.col("p_partkey"),
    )
    avg_qty = branded.groupBy("l_partkey").agg(
        F.avg("l_quantity").alias("avg_qty")
    ).withColumnRenamed("l_partkey", "ap_partkey")
    return (
        branded.join(
            F.broadcast(avg_qty), branded.l_partkey == F.col("ap_partkey")
        )
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly")
        )
    )


def q18_large_volume_customers(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
) -> DataFrame:
    """TPC-H Q18: customers whose single orders exceed a total-quantity
    threshold — aggregate-HAVING on the fact, then joins outward.

    Scale: lineitem collapses to per-order sums first (map-side partial
    sums make this cheap), the HAVING filter keeps a handful of rows,
    and those broadcast into orders/customer."""
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 300.0)
    )
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(
            F.broadcast(customer.select("c_custkey", "c_name")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.to_date("o_orderdate").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "sum_qty",
        )
    )


def q19_disjunctive_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q19: revenue under an OR of three brand/size/quantity
    conjunction branches — the disjunctive-predicate probe. Expressed
    as one boolean expression so Catalyst can factor the common
    l_partkey = p_partkey equi-join out of the OR and keep the join a
    hash join (not a nested loop)."""
    j = lineitem.join(
        F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
        lineitem.l_partkey == F.col("p_partkey"),
    )
    b1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    )
    b2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 30)
    )
    b3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(20, 50)
        & F.col("l_quantity").between(20, 40)
    )
    return j.filter(b1 | b2 | b3).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )


def q22_sales_opportunity(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q22: well-funded customers who never ordered, grouped by
    nation (the fixtures' analog of phone country code). Scalar
    subquery (average positive balance) + anti join.

    Scale: the scalar average is one row (broadcast by construction);
    the anti join shuffles on custkey. Balances are compared against
    the unrounded average exactly as DuckDB computes it — double sums
    of 2-decimal values agree to well under the 1e-2 gap between any
    two distinct balances."""
    avg_bal = customer.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    rich = customer.join(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    no_orders = rich.join(
        orders, rich.c_custkey == orders.o_custkey, "left_anti"
    )
    return no_orders.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("numcust"),
        F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
    )


# --------------------------------------------------------------------------
# Final batch: the remaining TPC-H shapes (q8, q11, q12, q15, q16, q20,
# q21), completing all 22 query archetypes. Where the fixtures lack a
# column (partsupp, commitdate, shipmode), the substitution keeps the
# query SHAPE — the optimizer pattern being exercised — and is noted.
# --------------------------------------------------------------------------


def q8_market_share(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """TPC-H Q8: one nation's market share, per year, of a part type
    sold to customers in one region — a conditional-sum ratio over an
    8-table join.

    Scale: every dimension path (region→nation→customer folds into
    orders; nation→supplier; filtered part) broadcasts; lineitem
    shuffles once on l_orderkey. Sums run in exact decimal; the share
    is computed as double division of the two exact sums, so both
    engines see bit-identical operands."""
    amount = _dec2("l_extendedprice") * (1 - _dec2("l_discount"))
    region_nations = nation.join(
        F.broadcast(
            region.filter(F.col("r_name") == "ASIA").select("r_regionkey")
        ),
        nation.n_regionkey == F.col("r_regionkey"),
    ).select(F.col("n_nationkey").alias("rn_nk"))
    cust = customer.join(
        F.broadcast(region_nations), customer.c_nationkey == F.col("rn_nk")
    ).select("c_custkey")
    ords = orders.join(
        F.broadcast(cust), orders.o_custkey == F.col("c_custkey")
    ).select("o_orderkey", "o_orderdate")
    supp = supplier.join(
        F.broadcast(
            nation.select(F.col("n_nationkey").alias("s_nk"), "n_name")
        ),
        supplier.s_nationkey == F.col("s_nk"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    parts = part.filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    return (
        lineitem.join(F.broadcast(parts), lineitem.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(supp), lineitem.l_suppkey == F.col("s_suppkey"))
        .join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_5", amount).otherwise(
                        F.lit(0)
                    )
                ).cast("double")
                / F.sum(amount).cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


def q11_important_parts(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """TPC-H Q11 shape: parts representing a significant fraction of
    one nation's traded value — group-sum HAVING a share of a global
    scalar aggregate. No partsupp in the fixtures, so a part's value
    for the nation is sum(extendedprice × quantity) over the nation's
    suppliers' line items.

    Scale: the global total re-aggregates the (small) per-part sums
    and broadcasts back — two passes over an already-shrunk table,
    never over the fact. Decimal sums keep both the per-part values
    and the threshold comparison order-independent."""
    supp = supplier.join(
        F.broadcast(
            nation.filter(F.col("n_name") == "NATION_3").select("n_nationkey")
        ),
        supplier.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey")
    vals = (
        lineitem.join(F.broadcast(supp), lineitem.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(_dec2("l_extendedprice") * _dec2("l_quantity")).alias("value_dec")
        )
    )
    total = vals.agg(F.sum("value_dec").alias("total_dec"))
    return (
        vals.join(F.broadcast(total))
        .filter(
            F.col("value_dec").cast("double")
            > F.col("total_dec").cast("double") * 0.001
        )
        .select(
            "l_partkey",
            F.round(F.col("value_dec"), 2).cast("double").alias("part_value"),
        )
    )


def q12_priority_shipping(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q12 shape: high- vs low-priority line counts per group for
    a year of late shipments. The fixtures lack shipmode/commitdate, so
    the group is l_returnflag and "late" is l_shipdate > o_orderdate.

    Scale: the ship-date range pushes into the lineitem scan; the only
    shuffle is the fact-fact join on the order key; the conditional
    counts are map-side partial sums."""
    high = ("1-URGENT", "2-HIGH")
    j = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(
            orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
    )
    return j.groupBy("l_returnflag").agg(
        F.sum(
            F.when(F.col("o_orderpriority").isin(*high), 1).otherwise(0)
        ).alias("high_line_count"),
        F.sum(
            F.when(~F.col("o_orderpriority").isin(*high), 1).otherwise(0)
        ).alias("low_line_count"),
    )


def q15_top_supplier(supplier: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q15: the supplier(s) with maximum revenue in a quarter —
    an aggregate view joined against its own scalar max (ties kept,
    exactly as the spec's revenue view semantics).

    Scale: per-supplier revenue is a one-shuffle partial-sum agg; the
    scalar max broadcasts back into the tiny aggregate, never the
    fact. Revenue is rounded from an exact decimal sum on both
    engines, so the max-equality join is safe on doubles."""
    rev = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(_dec2("l_extendedprice") * (1 - _dec2("l_discount"))), 2
            )
            .cast("double")
            .alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("max_rev"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            rev.l_suppkey == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q16_part_supplier_counts(
    part: DataFrame,
    supplier: DataFrame,
    lineitem: DataFrame,
) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can provide parts
    with given attribute filters, excluding blacklisted suppliers.
    (part, supplier) pairs come from lineitem (no partsupp); the
    "customer complaints" exclusion is s_acctbal < threshold.

    Scale: the distinct (part, supplier) projection is the only wide
    shuffle and it collapses the fact immediately; the attribute
    filter broadcasts; the blacklist anti-join broadcasts (it's a tiny
    dim slice)."""
    pairs = lineitem.select("l_partkey", "l_suppkey").distinct()
    parts = part.filter(
        (F.col("p_brand") != "Brand#5")
        & (~F.col("p_type").startswith("PROMO"))
        & (F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = supplier.filter(F.col("s_acctbal") < 1000.0).select("s_suppkey")
    return (
        pairs.join(F.broadcast(parts), pairs.l_partkey == F.col("p_partkey"))
        .join(
            F.broadcast(bad), pairs.l_suppkey == F.col("s_suppkey"), "left_anti"
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q20_promotion_suppliers(
    supplier: DataFrame,
    nation: DataFrame,
    part: DataFrame,
    lineitem: DataFrame,
) -> DataFrame:
    """TPC-H Q20 shape: suppliers who moved significant volume of a
    part family in a year — nested IN over an aggregate threshold,
    expressed as agg → filter → semi join (no correlated subquery at
    runtime).

    Scale: part filter broadcasts into the date-pruned fact; the
    per-(part, supplier) quantity agg collapses before the threshold;
    the surviving supplier keys semi-join (broadcast) into the dim."""
    parts = part.filter(F.col("p_name").like("%bolt%")).select("p_partkey")
    movers = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50.0)
        .select("l_suppkey")
        .distinct()
    )
    return (
        supplier.join(
            F.broadcast(movers),
            supplier.s_suppkey == F.col("l_suppkey"),
            "left_semi",
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            supplier.s_nationkey == F.col("n_nationkey"),
        )
        .select("s_name", F.col("n_name").alias("nation"))
    )


def q21_waiting_suppliers(
    supplier: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on
    multi-supplier orders. The reference formulation is EXISTS (another
    supplier on the order) AND NOT EXISTS (another late supplier late);
    Spark-first, both correlated subqueries collapse into ONE per-order
    aggregation: distinct-supplier count, distinct-late-supplier count,
    and max(late suppkey) — when the late count is exactly 1, that max
    IS the sole late supplier, so no second pass over the fact is
    needed to recover who it was. "Late" is shipping > 30 days after
    the order date (no commit/receipt dates in the fixtures).

    Scale: lineitem joins orders on the order key (one fact shuffle,
    dims broadcast at fixture scale / SMJ at 100 TB), aggregates per
    order in the same partitioning, and the surviving one-row-per-
    qualifying-order table shuffles on the (tiny) supplier domain."""
    li = lineitem.join(
        orders.select("o_orderkey", "o_orderdate"),
        lineitem.l_orderkey == F.col("o_orderkey"),
    ).withColumn(
        "is_late",
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"),
    )
    late_supp = F.when(F.col("is_late"), F.col("l_suppkey"))
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(late_supp).alias("n_late_supp"),
        F.max(late_supp).alias("sole_supp"),
    )
    return (
        per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
        .groupBy("sole_supp")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            F.col("sole_supp") == F.col("s_suppkey"),
        )
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(100)
    )


COPURCHASE_MIN_SUPPORT = 2  # orders a part pair must share to be an edge


def _copurchase_support_pairs(
    lineitem: DataFrame, min_support: int
) -> tuple[DataFrame, DataFrame]:
    """Shared edge build for ``copurchase_pairs`` /
    ``copurchase_components``: the distinct (order, part) basket
    table and the support-filtered part pairs (part_a < part_b,
    support = co-occurrence count >= min_support).

    r09 re-plan (guide §2.4 "remove shuffles outright"): the old
    shape was distinct → checkpoint → SELF-JOIN on l_orderkey —
    the distinct shuffles by (order, part), so BOTH self-join sides
    re-exchanged the table by order, and the checkpoint materialized
    the full (order, part) stream. Collapsing distinct + self-join
    into ONE groupBy(l_orderkey) with a sorted collect_set gives the
    per-order basket ARRAY in a single exchange; pairs explode from
    each array's in-task combinations (the same a<b pairs — the
    array is sorted and collect_set deduplicates), and the basket
    table `op` is re-derived by an explode, never re-shuffled.
    Exchange count of the shared build: 4 → 2 (measured plan diff in
    plans/r09/copurchase_pairs_*.txt). The checkpointed state shrinks
    from |order,part| rows to |orders| array rows.

    The basket table is localCheckpoint'd once — it feeds multiple
    branches in both consumers (pair build, margins, order total /
    the singleton rejoin); without it every branch re-scans lineitem
    and re-runs the basket shuffle (measured 9.7 s → 2.4 s warm at
    sf0.1). The in-task combination explode is safe at scale because
    an order's distinct-part count is bounded (≤ 7 in TPC-H-shaped
    data; a basket is small by nature — basket_size_hist is the
    meter), so pair generation is linear in orders, not quadratic in
    parts."""
    baskets = (
        lineitem.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("__parts"))
        .localCheckpoint(eager=True)
    )
    op = baskets.select(
        "l_orderkey", F.explode("__parts").alias("l_partkey")
    )
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(__parts, (x, i) ->"
                    " transform(slice(__parts, i + 2, size(__parts)),"
                    " y -> struct(x AS part_a, y AS part_b))))"
                )
            ).alias("__pr")
        )
        .select(F.col("__pr.part_a"), F.col("__pr.part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= min_support)
    )
    return op, pairs


def copurchase_components(lineitem: DataFrame) -> DataFrame:
    """Product COMMUNITIES: connected components over the co-purchase
    graph (edges = part pairs bought together in >= COPURCHASE_MIN_SUPPORT
    orders) — the step after ``copurchase_pairs``\' pair list, when
    the merchandising question is "which products form a basket
    family", not "which pair co-occurs". Every part in the lineitem
    gets a community (parts with no qualifying edge are their own
    singleton). Output: (part_id, community_id), community_id = the
    smallest reachable part id.

    Scale: the edge build is ``_copurchase_support_pairs`` — the
    basket-bounded self-join shared with copurchase_pairs (linear in
    orders); the component labels come from
    ``operators.graph.connected_components`` — the same
    edge-touched-only min-label propagation dedup_clusters runs, so
    per-round state is |parts with an edge|, not |catalog|. Basket
    families can chain longer than near-dup clusters, so it allows
    20 rounds; connected_components RAISES rather than truncating if
    the diameter exceeds that. Exact oracle: the
    recursive-CTE reachability walk (dedup_clusters' pattern)."""
    from ..operators.graph import connected_components

    op, pairs = _copurchase_support_pairs(lineitem, COPURCHASE_MIN_SUPPORT)
    edges = pairs.select(
        F.col("part_a").alias("doc_a"), F.col("part_b").alias("doc_b")
    )
    labels = connected_components(edges)
    parts = op.select(F.col("l_partkey").alias("part_id")).distinct()
    return parts.join(
        labels.select(F.col("doc_id").alias("part_id"), "cluster_id"),
        "part_id",
        "left",
    ).select(
        "part_id",
        F.coalesce("cluster_id", F.col("part_id")).alias("community_id"),
    )


def copurchase_pairs(lineitem: DataFrame) -> DataFrame:
    """Market-basket analysis over order line items: part pairs that
    co-occur in the same order, with support (co-occurrence count)
    and lift (observed co-occurrence vs independence). The retail
    "frequently bought together" primitive.

    Scale: the pair generation and checkpointed basket table are
    ``_copurchase_support_pairs`` (shared with
    copurchase_components); see its docstring for the
    basket-bounded-join and single-materialization arguments.
    Margins are part-catalog-sized and broadcast into the lift
    expression; top-k compiles to TakeOrderedAndProject, never a
    global sort."""
    op, pairs = _copurchase_support_pairs(lineitem, COPURCHASE_MIN_SUPPORT)
    n_orders = op.agg(
        F.countDistinct("l_orderkey").alias("__n_orders")
    )
    part_n = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("__n_part"))
    na = part_n.select(
        F.col("l_partkey").alias("part_a"), F.col("__n_part").alias("__n_a")
    )
    nb = part_n.select(
        F.col("l_partkey").alias("part_b"), F.col("__n_part").alias("__n_b")
    )
    return (
        pairs.join(F.broadcast(na), "part_a")
        .join(F.broadcast(nb), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "support",
            (
                F.round(
                    F.col("support").cast("double")
                    * F.col("__n_orders")
                    / (F.col("__n_a") * F.col("__n_b")),
                    6,
                )
                + 0.0
            ).alias("lift"),
        )
        .orderBy(F.desc("support"), F.asc("part_a"), F.asc("part_b"))
        .limit(100)
    )


ITEM_NEIGHBORS_MIN_SUPPORT = 2
ITEM_NEIGHBORS_K = 10


def item_neighbors_topk(lineitem: DataFrame, k: int = ITEM_NEIGHBORS_K) -> DataFrame:
    """Item-item collaborative similarity: for every part, its top-k
    co-purchase NEIGHBORS ranked by basket Jaccard — the
    "customers who bought X also bought Y" recommendation primitive
    (item-based CF, Sarwar et al. 2001), where copurchase_pairs'
    global top list answers the merchandising question and this
    answers the per-product one. Output: (part, neighbor, support,
    jaccard_u, rank), both directions of every edge.

    jaccard_u = support·1e6 DIV (n_a + n_b − support) in integer
    micro-units — baskets-as-sets Jaccard with no float division,
    so ranks and values are bit-identical across engines (ties break
    to the smaller neighbor id).

    Scale: edges come from ``_copurchase_support_pairs`` (basket-
    bounded self-join — linear in orders); the per-part margin table
    is catalog-sized and broadcast; the top-k window partitions BY
    part, so no global sort anywhere — per-part state is that part's
    edge list, already bounded by the support threshold."""
    from pyspark.sql import Window

    op, pairs = _copurchase_support_pairs(lineitem, ITEM_NEIGHBORS_MIN_SUPPORT)
    part_n = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("__n"))
    sym = pairs.select(
        F.col("part_a").alias("part"),
        F.col("part_b").alias("neighbor"),
        "support",
    ).unionAll(
        pairs.select(
            F.col("part_b").alias("part"),
            F.col("part_a").alias("neighbor"),
            "support",
        )
    )
    np_ = part_n.select(
        F.col("l_partkey").alias("part"), F.col("__n").alias("__np")
    )
    nn = part_n.select(
        F.col("l_partkey").alias("neighbor"), F.col("__n").alias("__nn")
    )
    scored = (
        sym.join(F.broadcast(np_), "part")
        .join(F.broadcast(nn), "neighbor")
        .select(
            "part",
            "neighbor",
            "support",
            F.expr(
                "CAST((support * 1000000) DIV (__np + __nn - support) AS BIGINT)"
            ).alias("jaccard_u"),
        )
    )
    w = Window.partitionBy("part").orderBy(
        F.desc("jaccard_u"), F.asc("neighbor")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "part",
            "neighbor",
            "support",
            "jaccard_u",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def copurchase_graph_stats(lineitem: DataFrame) -> DataFrame:
    """(n_parts, n_edges, n_wedges, n_triangles, global_clustering)
    — triangle census of the support-thresholded co-purchase graph:
    the graph-density / community-strength summary (global clustering
    coefficient = 3·triangles / wedges) that complements
    copurchase_components (who is connected) with HOW tightly.

    Scale shape — degree-ordered triangle counting (Schank-Wagner;
    the MapReduce formulation is Cohen 2009): every edge is oriented
    from its lower-(degree, id) endpoint to the higher one, making
    the edge set a DAG in which each triangle {x≺y≺z} appears as
    exactly one wedge x→y→z closed by x→z. Orientation bounds
    out-degree at O(√m) REGARDLESS of hub degree — a part in half
    the baskets contributes wedges only toward its few
    higher-degree peers, so the wedge join is O(m^1.5) worst-case
    instead of Σd² (which a hub makes quadratic). The close check is
    a semi-join against the oriented edges; counts stay integers to
    the end (the coefficient divides once, rounded)."""
    _, pairs = _copurchase_support_pairs(lineitem, COPURCHASE_MIN_SUPPORT)
    # lazy localCheckpoints: both the edge list and the oriented edges
    # feed multiple consumers, but materialization waits for the first
    # action — constructing the plan (registry enumeration, plan
    # fingerprinting) must stay free of Spark jobs (ADVICE r04). Local
    # checkpoint state is executor-local (lost on executor failure);
    # on a real cluster prefer reliable checkpoint or persist+count.
    edges = pairs.select("part_a", "part_b").localCheckpoint(eager=False)
    deg = (
        edges.select(F.col("part_a").alias("p"))
        .unionAll(edges.select(F.col("part_b").alias("p")))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("p").alias("part_a"), F.col("d").alias("__da"))
    db = deg.select(F.col("p").alias("part_b"), F.col("d").alias("__db"))
    ed = edges.join(da, "part_a").join(db, "part_b")
    fwd = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db"))
        & (F.col("part_a") < F.col("part_b"))
    )
    e = ed.select(
        F.when(fwd, F.col("part_a")).otherwise(F.col("part_b")).alias("src"),
        F.when(fwd, F.col("part_b")).otherwise(F.col("part_a")).alias("dst"),
    ).localCheckpoint(eager=False)  # feeds both wedge sides + the close
    e1, e2 = e.alias("e1"), e.alias("e2")
    wedges = e1.join(e2, F.col("e1.dst") == F.col("e2.src")).select(
        F.col("e1.src").alias("x"), F.col("e2.dst").alias("z")
    )
    closed = wedges.join(
        e.select(F.col("src").alias("x"), F.col("dst").alias("z")),
        ["x", "z"],
        "leftsemi",
    )
    tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    np_ = deg.agg(F.count(F.lit(1)).alias("n_parts"))
    ne = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    nw = deg.agg(
        F.coalesce(
            F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("long")),
            F.lit(0).cast("long"),
        ).alias("n_wedges")
    )
    cc = F.when(F.col("n_wedges") > 0,
        F.round(
            F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
        )
        + F.lit(0.0),
    ).otherwise(F.lit(0.0))
    return (
        np_.crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(nw))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_parts",
            "n_edges",
            "n_wedges",
            "n_triangles",
            cc.alias("global_clustering"),
        )
    )


def basket_rules(lineitem: DataFrame) -> DataFrame:
    """(antecedent, consequent, support, confidence_micro, lift_micro)
    — DIRECTED
    association rules from the co-purchase pairs: confidence(a→b) =
    support(a,b) / orders-containing-a, the asymmetric number
    ``copurchase_pairs``' symmetric lift can't express ("batteries →
    flashlight" can be near-certain while the reverse is rare). Each
    surviving pair emits both directions; top-k by (support DESC,
    antecedent, consequent).

    Scale: reuses the checkpointed basket table and support-filtered
    pair build of the copurchase family (a basket's distinct-part
    count is bounded, so the self-join is linear in orders); the
    direction fan-out doubles only the already-thresholded pair rows;
    margins broadcast; TakeOrderedAndProject for the top-k."""
    op, pairs = _copurchase_support_pairs(lineitem, COPURCHASE_MIN_SUPPORT)
    n_orders = op.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("__n_orders")
    )
    part_n = op.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("__n_part")
    )
    directed = pairs.select(
        F.col("part_a").alias("antecedent"),
        F.col("part_b").alias("consequent"),
        "support",
    ).unionAll(
        pairs.select(
            F.col("part_b").alias("antecedent"),
            F.col("part_a").alias("consequent"),
            "support",
        )
    )
    na = part_n.select(
        F.col("l_partkey").alias("antecedent"),
        F.col("__n_part").alias("__n_a"),
    )
    nb = part_n.select(
        F.col("l_partkey").alias("consequent"),
        F.col("__n_part").alias("__n_b"),
    )
    return (
        directed.join(F.broadcast(na), "antecedent")
        .join(F.broadcast(nb), "consequent")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "antecedent",
            "consequent",
            "support",
            micro(
                F.col("support").cast("double") / F.col("__n_a")
            ).alias("confidence_micro"),
            micro(
                F.col("support").cast("double")
                * F.col("__n_orders")
                / (F.col("__n_a") * F.col("__n_b"))
            ).alias("lift_micro"),
        )
        .orderBy(F.desc("support"), F.asc("antecedent"), F.asc("consequent"))
        .limit(200)
    )


def basket_size_hist(lineitem: DataFrame) -> DataFrame:
    """(basket_size, n_orders, cum_share_u) — distribution of
    distinct parts per order: the meter behind the co-purchase
    family's central scale claim ("the basket self-join is linear in
    orders because baskets are small by nature",
    ``_copurchase_support_pairs``). Pair-generation work is exactly
    Σ C(basket_size, 2) over this histogram, so the histogram IS the
    cost model — a drifting corpus that grows whale baskets shows up
    here before it shows up as a blown-up shuffle.

    Scale: one distinct + two count aggregations, all
    map-side-combinable; the cumulative share runs over the
    basket-size grid (bounded by the largest basket, not by
    orders)."""
    from pyspark.sql import Window

    op = lineitem.select("l_orderkey", "l_partkey").distinct()
    bs = op.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("basket_size")
    )
    hist = bs.groupBy("basket_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    tot = hist.agg(F.sum("n_orders").alias("__t"))
    w_cum = (
        Window.orderBy("basket_size")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        hist.crossJoin(F.broadcast(tot))
        .withColumn("__cum", F.sum("n_orders").over(w_cum))
        .select(
            F.col("basket_size").cast("long").alias("basket_size"),
            "n_orders",
            F.expr(
                "CAST((__cum * 1000000) DIV __t AS BIGINT)"
            ).alias("cum_share_u"),
        )
    )
