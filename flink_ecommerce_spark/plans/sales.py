"""Parity queries: the reference job's three running aggregations and
its raw-ingest projection, re-expressed as declarative Spark plans.

Reference semantics (SURVEY.md §2.2-2.3):
- M1/A1 sales_per_category  (DataStreamJob.java:123-136)
- M2/A2 sales_per_day       (DataStreamJob.java:138-153)
- M3/A3 sales_per_month     (DataStreamJob.java:155-163)
- K2    raw transactions upsert projection (DataStreamJob.java:237-272)

We group by the FULL sink upsert key (transaction_date+category;
year+month) — the tables' declared meaning per their ON CONFLICT
clauses — intentionally fixing reference quirks Q1/Q2 (SURVEY.md
§2.3). Each aggregation is a single hash-partitioned shuffle with
map-side partial sums; Catalyst plans partial_sum → Exchange →
final sum, which at 100 TB is the minimal-movement plan (only
(key, partial) pairs cross the network).

These functions are column-name-parameterized so they serve both the
reference's transaction schema (schemas.TRANSACTION_SCHEMA) and the
driver's ``events`` analog (FIXTURES.md §3 mapping).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.portable import micro


def _cents(col: str | Column) -> Column:
    """Per-row integer cents BEFORE any sum (COVERAGE.md oracle
    encoding rule): integer addition is order-independent, so the
    aggregate is bit-identical on every engine and partitioning."""
    return micro(F.col(col) if isinstance(col, str) else col, 100)


def raw_transactions(
    df: DataFrame,
    id_col: str = "transactionId",
    ts_col: str = "transactionDate",
    user_col: str = "customerId",
    category_col: str = "productCategory",
    amount_col: str = "totalAmount",
) -> DataFrame:
    """K2's sink projection: stable snake_case rename of the raw rows.

    Reference upserts on transaction_id (DataStreamJob.java:240-258);
    batch equivalent of idempotent upsert = last-write-wins per key,
    which for append-only parquet input is a plain projection.
    """
    return df.select(
        F.col(id_col).alias("transaction_id"),
        F.col(ts_col).alias("transaction_ts"),
        F.col(user_col).alias("customer_id"),
        F.col(category_col).alias("category"),
        F.col(amount_col).alias("total_amount"),
    )


def raw_transactions_full(df: DataFrame) -> DataFrame:
    """K2's sink projection over the FULL transaction schema: all 12
    DTO fields (dto/TransactionDTO.java:9-20) renamed to the sink
    DDL's snake_case columns (DataStreamJob.java:318-331), upsert key
    transaction_id. This is the streaming job's transactions branch;
    the 5-column ``raw_transactions`` stays as the events-analog
    projection used by the batch query catalog."""
    renames = [
        ("transactionId", "transaction_id"),
        ("productId", "product_id"),
        ("productName", "product_name"),
        ("productCategory", "product_category"),
        ("productPrice", "product_price"),
        ("productQuantity", "product_quantity"),
        ("productBrand", "product_brand"),
        ("totalAmount", "total_amount"),
        ("currency", "currency"),
        ("customerId", "customer_id"),
        ("transactionDate", "transaction_date"),
        ("paymentMethod", "payment_method"),
    ]
    return df.select(*[F.col(a).alias(b) for a, b in renames])


def day_keys(ts_col: str = "transactionDate") -> list[Column]:
    """The per-day sums' key: calendar day of the event timestamp
    (DataStreamJob.java:138-149). The batch plans below group by these
    key expressions and the streaming job's per-row sum branches
    (``streaming/runner.py``) project them, so the two cannot drift."""
    return [F.to_date(ts_col).alias("transaction_date")]


def category_keys(
    ts_col: str = "transactionDate", category_col: str = "productCategory"
) -> list[Column]:
    """The per-category sums' key: the full (transaction_date,
    category) upsert key (sink ON CONFLICT, DataStreamJob.java:223)."""
    return [
        F.to_date(ts_col).alias("transaction_date"),
        F.col(category_col).alias("category"),
    ]


def month_keys(ts_col: str = "transactionDate") -> list[Column]:
    """The per-month sums' key: the full (year, month) upsert key
    (sink ON CONFLICT, DataStreamJob.java:189)."""
    return [F.year(ts_col).alias("year"), F.month(ts_col).alias("month")]


def sales_per_day(
    df: DataFrame, ts_col: str = "transactionDate", amount_col: str = "totalAmount"
) -> DataFrame:
    """A2: SUM(amount) grouped by calendar day of the event timestamp
    (DataStreamJob.java:150-153; date conversion :138-149). Session
    timezone is pinned UTC (SURVEY.md §7 risk 2)."""
    return (
        df.groupBy(*day_keys(ts_col))
        .agg(F.round(F.sum(amount_col), 2).alias("total_sales"))
    )


def sales_per_category(
    df: DataFrame,
    ts_col: str = "transactionDate",
    category_col: str = "productCategory",
    amount_col: str = "totalAmount",
) -> DataFrame:
    """A1 with the full (transaction_date, category) upsert key
    (sink ON CONFLICT, DataStreamJob.java:223; quirk Q1 fixed)."""
    return (
        df.groupBy(*category_keys(ts_col, category_col))
        .agg(F.round(F.sum(amount_col), 2).alias("total_sales"))
    )


def sales_per_month(
    df: DataFrame, ts_col: str = "transactionDate", amount_col: str = "totalAmount"
) -> DataFrame:
    """A3 with the full (year, month) upsert key
    (sink ON CONFLICT, DataStreamJob.java:189; quirk Q2 fixed)."""
    return (
        df.groupBy(*month_keys(ts_col))
        .agg(F.round(F.sum(amount_col), 2).alias("total_sales"))
    )


def sales_per_day_cents(
    df: DataFrame, ts_col: str = "transactionDate", amount_col: str = "totalAmount"
) -> DataFrame:
    """A2 under the integer-cents contract (the oracle-checked batch
    form; the streaming sink keeps ``sales_per_day``'s DOUBLE column
    for reference DDL parity, DataStreamJob.java:291-293). Same
    single-shuffle partial-sum plan — only the encoding differs."""
    return df.groupBy(*day_keys(ts_col)).agg(
        F.sum(_cents(amount_col)).alias("total_sales_cents")
    )


def sales_per_category_cents(
    df: DataFrame,
    ts_col: str = "transactionDate",
    category_col: str = "productCategory",
    amount_col: str = "totalAmount",
) -> DataFrame:
    """A1 (full upsert key) under the integer-cents contract."""
    return df.groupBy(*category_keys(ts_col, category_col)).agg(
        F.sum(_cents(amount_col)).alias("total_sales_cents")
    )


def sales_per_month_cents(
    df: DataFrame, ts_col: str = "transactionDate", amount_col: str = "totalAmount"
) -> DataFrame:
    """A3 (full upsert key) under the integer-cents contract."""
    return df.groupBy(*month_keys(ts_col)).agg(
        F.sum(_cents(amount_col)).alias("total_sales_cents")
    )


def sales_per_day_filtered_cents(
    df: DataFrame,
    category: str,
    ts_col: str = "transactionDate",
    category_col: str = "productCategory",
    amount_col: str = "totalAmount",
) -> DataFrame:
    """Filtered A2 variant under the integer-cents contract; the
    category predicate still reaches the parquet scan."""
    return sales_per_day_cents(
        df.filter(F.col(category_col) == category), ts_col, amount_col
    )


def category_stats_int(
    df: DataFrame,
    category_col: str = "productCategory",
    amount_col: str = "totalAmount",
) -> DataFrame:
    """Multi-aggregate per category — count / sum / avg / min / max,
    the registry's ``category_stats`` — under the integer contract:
    money as per-row cents (sum/min/max commute with the monotonic
    per-row quantization), the mean as the integer mean of PER-ROW micro
    units — quantize before the sum, so the reported mean never rides
    the partial-sum order of a double AVG (the r08 ADVICE residual
    class). Amounts are strictly positive by the generator contract,
    so the DIV dividend is non-negative and truncating and flooring
    engines agree. Still one shuffle with a shared partial-agg
    pass."""
    pre = df.select(
        F.col(category_col).alias("category"),
        _cents(amount_col).alias("__c"),
        micro(F.col(amount_col)).alias("__u"),
    )
    return pre.groupBy("category").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("__c").alias("total_sales_cents"),
        F.expr("CAST(sum(__u) DIV count(1) AS BIGINT)").alias(
            "avg_sale_micro"
        ),
        F.min("__c").alias("min_sale_cents"),
        F.max("__c").alias("max_sale_cents"),
    )


def props_extract(df: DataFrame) -> DataFrame:
    """JSON field extraction (the reference's wire format is JSON —
    S2, JSONValueDeserializationSchema.java:21-33; here applied to the
    events.props payload): get_json_object stays JVM-side."""
    return (
        df.select(
            F.col("event_type"),
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
