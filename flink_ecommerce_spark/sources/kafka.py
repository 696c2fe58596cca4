"""Kafka transaction source (reference S1+S2: KafkaSource builder at
DataStreamJob.java:89-95 + Jackson JSON deserialization at
JSONValueDeserializationSchema.java:21-33).

Spark-first: ``readStream.format("kafka")`` + ``from_json`` with the
explicit TRANSACTION_SCHEMA — value-only, latest offsets, the
reference's topic (the default) and consumer-group name (fixed, as a
prefix: see ``kafka_reader_options``). The JSON
parse happens JVM-side inside codegen; a malformed record yields a
NULL struct (Jackson in the reference would throw — we keep the row
with nulls, the more stream-robust choice; each sink's statement
skips a row with a null key, ``streaming.sinks.upsert_sql``).

The tests run no broker, so there this module only BUILDS plans; they
cover the parse path with the file source and in-memory DataFrames of
JSON strings, through the same ``parse_transactions``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TRANSACTION_SCHEMA

DEFAULT_TOPIC = "financial_transactions"  # DataStreamJob.java:88


def parse_transactions(raw: DataFrame) -> DataFrame:
    """The ``value`` column's bytes/string JSON → typed transaction
    rows (reference S2). A malformed line parses to an all-null row
    (Jackson missing-field → null semantics per SURVEY.md §1.2)."""
    return raw.select(
        F.from_json(F.col("value").cast("string"), TRANSACTION_SCHEMA).alias("t")
    ).select("t.*")


def kafka_reader_options(
    bootstrap_servers: str,
    topic: str = DEFAULT_TOPIC,
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """Reader options as a dict (testable without a broker or the
    kafka connector on the classpath). Reference parity: topic,
    consumer group ``flink-group`` (DataStreamJob.java:92), latest
    offsets (``OffsetsInitializer.latest()``, :94). Every query of the
    job reads this source, and queries that share one
    ``kafka.group.id`` may each read only part of the data, so the
    name is a ``groupIdPrefix``: Spark gives each query its own
    ``flink-group-…`` group. Production knobs
    beyond the reference: ``failOnDataLoss=false`` keeps the query
    alive across topic retention evictions, and
    ``max_offsets_per_trigger`` caps each micro-batch (backpressure —
    without it the first batch after downtime reads the whole backlog
    into one batch)."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "groupIdPrefix": "flink-group",
        "startingOffsets": "latest",
        "failOnDataLoss": "false",
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def kafka_transaction_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = DEFAULT_TOPIC,
) -> DataFrame:
    """Streaming DataFrame of typed transactions from Kafka. Requires
    the spark-sql-kafka package on the classpath, which the tests do
    not have."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(bootstrap_servers, topic).items():
        reader = reader.option(k, v)
    return parse_transactions(reader.load())
