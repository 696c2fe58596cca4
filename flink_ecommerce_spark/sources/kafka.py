"""Kafka transaction source (reference S1+S2: KafkaSource builder at
DataStreamJob.java:89-95 + Jackson JSON deserialization at
JSONValueDeserializationSchema.java:21-33).

Spark-first: ``readStream.format("kafka")`` + ``from_json`` with the
explicit TRANSACTION_SCHEMA — value-only, latest offsets, same
topic/group defaults as the reference. The JSON parse happens
JVM-side inside codegen; a malformed record yields a NULL struct
(Jackson in the reference would throw — we keep the row with nulls,
the more stream-robust choice; the job drops rows with a null key
before its sinks, ``runner._drop_null_keys``).

No broker exists in the test container, so this module only BUILDS
plans; tests cover the parse path via an in-memory DataFrame of raw
JSON strings (same ``parse_transactions`` function both ways).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TRANSACTION_SCHEMA

DEFAULT_TOPIC = "financial_transactions"  # DataStreamJob.java:88
DEFAULT_GROUP = "flink-group"  # DataStreamJob.java:92


def parse_transactions(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """bytes/string JSON → typed transaction rows (reference S2). A
    malformed line parses to an all-null row (Jackson missing-field →
    null semantics per SURVEY.md §1.2)."""
    return raw.select(
        F.from_json(F.col(value_col).cast("string"), TRANSACTION_SCHEMA).alias("t")
    ).select("t.*")


def kafka_reader_options(
    bootstrap_servers: str,
    topic: str = DEFAULT_TOPIC,
    group_id: str = DEFAULT_GROUP,
    starting_offsets: str = "latest",  # OffsetsInitializer.latest(), :94
    max_offsets_per_trigger: int | None = None,
    fail_on_data_loss: bool = False,
) -> dict[str, str]:
    """Reader options as a dict (testable without a broker or the
    kafka connector on the classpath). Reference parity: topic,
    consumer group, latest offsets. Production knobs beyond the
    reference: ``max_offsets_per_trigger`` caps each micro-batch
    (backpressure — without it the first batch after downtime reads
    the whole backlog into one batch), ``fail_on_data_loss=False``
    keeps the query alive across topic retention evictions."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "kafka.group.id": group_id,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": str(fail_on_data_loss).lower(),
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def kafka_transaction_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = DEFAULT_TOPIC,
    group_id: str = DEFAULT_GROUP,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
    fail_on_data_loss: bool = False,
) -> DataFrame:
    """Streaming DataFrame of typed transactions from Kafka. Requires
    the spark-sql-kafka package on the classpath (not in this test
    container — plan-building only here)."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(
        bootstrap_servers,
        topic,
        group_id,
        starting_offsets,
        max_offsets_per_trigger,
        fail_on_data_loss,
    ).items():
        reader = reader.option(k, v)
    return parse_transactions(reader.load())
