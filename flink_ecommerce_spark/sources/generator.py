"""Deterministic synthetic transaction generator (reference S4: the
Faker-based Kafka producer, sale-transaction-generator/main.py:11-26,
totalAmount invariant at :44).

Same value domains, but generated as a pure Spark plan from
``spark.range`` — distributed, seedable, and fast enough to fabricate
arbitrarily large fixtures (the reference produced 0.2 events/s; this
produces millions/s because the rows are born partitioned). Values
derive from md5 of (seed, id) so any SF regenerates identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.portable import hash32

# Value domains from sale-transaction-generator/main.py:14-26.
PRODUCTS = ["product1", "product2", "product3", "product4", "product5", "product6"]
PRODUCT_NAMES = ["laptop", "mobile", "tablet", "watch", "headphone", "speaker"]
CATEGORIES = ["electronic", "fashion", "grocery", "home", "beauty", "sports"]
BRANDS = ["apple", "samsung", "oneplus", "mi", "boat", "sony"]
CURRENCIES = ["USD", "GBP"]
PAYMENT_METHODS = ["credit_card", "debit_card", "online_transfer"]


def _pick(values: list[str], h: F.Column) -> F.Column:
    arr = F.array(*[F.lit(v) for v in values])
    return F.element_at(arr, (h % len(values) + 1).cast("int"))


def transactions(
    spark: SparkSession,
    n_rows: int = 10_000,
    seed: int = 42,
) -> DataFrame:
    """n_rows deterministic transactions spanning the 730 days from
    2023-01-01 (≥2 years, to exercise day/month/year grouping and the
    year-collision case, FIXTURES.md §1)."""
    ids = spark.range(0, n_rows, 1, spark.sparkContext.defaultParallelism)

    def h(tag: str) -> F.Column:
        return hash32(F.concat_ws(":", F.lit(seed), F.lit(tag), F.col("id")))

    price = F.round((h("price") % 99000) / 100.0 + 10.0, 2)  # uniform-ish [10, 1000)
    qty = (h("qty") % 10 + 1).cast("int")
    ts = F.timestamp_seconds(
        F.unix_timestamp(F.lit("2023-01-01").cast("timestamp"))
        + (h("ts") % (730 * 86400))
    )
    return ids.select(
        F.md5(F.concat_ws(":", F.lit(seed), F.lit("txid"), F.col("id"))).alias(
            "transactionId"
        ),
        _pick(PRODUCTS, h("prod")).alias("productId"),
        _pick(PRODUCT_NAMES, h("prod")).alias("productName"),
        _pick(CATEGORIES, h("cat")).alias("productCategory"),
        price.alias("productPrice"),
        qty.alias("productQuantity"),
        _pick(BRANDS, h("brand")).alias("productBrand"),
        F.round(price * qty, 2).alias("totalAmount"),  # main.py:44 invariant
        _pick(CURRENCIES, h("cur")).alias("currency"),
        F.concat(F.lit("user_"), (h("user") % 500).cast("string")).alias("customerId"),
        ts.alias("transactionDate"),
        _pick(PAYMENT_METHODS, h("pay")).alias("paymentMethod"),
    )


def transactions_as_json(df: DataFrame) -> DataFrame:
    """Wire-format view: one JSON string per row (what the Kafka topic
    carries; pairs with sources.kafka.parse_transactions for
    round-trip tests)."""
    return df.select(F.to_json(F.struct("*")).alias("value"))
