"""Canonical schemas.

The transaction schema mirrors the reference's wire contract
(reference: dto/TransactionDTO.java:9-20 and
sale-transaction-generator/main.py:14-26): explicit StructTypes,
never inferred, used both for ``from_json`` on the streaming path and
as the batch contract. The driver's star-schema/event tables
(TESTDATA.md) get explicit schemas too so streaming file sources can
use them.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Wire/in-flight schema of one e-commerce transaction event
# (reference: dto/TransactionDTO.java:9-20).
TRANSACTION_SCHEMA = StructType(
    [
        StructField("transactionId", StringType()),
        StructField("productId", StringType()),
        StructField("productName", StringType()),
        StructField("productCategory", StringType()),
        StructField("productPrice", DoubleType()),
        StructField("productQuantity", IntegerType()),
        StructField("productBrand", StringType()),
        StructField("totalAmount", DoubleType()),
        StructField("currency", StringType()),
        StructField("customerId", StringType()),
        StructField("transactionDate", TimestampType()),
        StructField("paymentMethod", StringType()),
    ]
)

# Driver test tables (TESTDATA.md). `events` doubles as the
# transaction-stream analog (FIXTURES.md §3).
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)

EMBEDDINGS_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ]
)

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
