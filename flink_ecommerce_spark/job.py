"""Job entry point — the reference's ``DataStreamJob.main``
(DataStreamJob.java:84-170) as a spark-submit-able module:

    python -m flink_ecommerce_spark.job \
        --source kafka --kafka-servers broker:9092 \
        --jdbc-url postgresql://... [--enable-es --es-url http://es:9200]

Lifecycle parity (SURVEY.md §3): build session → load config (CLI
args ≈ the reference's ParameterTool) → declare source → attach the
four sink branches → start + awaitTermination. DDL runs once before
the stream starts (K1 fixed). The ES branch exists but is off by
default (K7 parity: the reference ships it commented out).

The ``--jdbc-url`` scheme picks the sink, as the reference's one JDBC
upsert per table writes to whatever database its URL names. Every
sink table gets one upsert form, ``INSERT .. ON CONFLICT (key) DO
UPDATE``:

- ``duckdb:///path.db`` — an embedded DuckDB file through
  ``StagedMergeSink``: one Spark action per micro-batch, the batch
  held in driver memory as Arrow, one set-based statement per batch.
  The airgapped/demo path; DuckDB is single-writer, so production
  concurrency belongs to Postgres.
- anything else — Postgres through ``JdbcUpsertSink``: row-wise
  psycopg2 upserts from the executors.

The CLI sets no per-batch cap: the first batch after a downtime is
the whole backlog, and the DuckDB path holds it in driver memory
(perfbench's ``txn_backlog`` workload measures exactly this case).

With ``--source file`` it replays JSON files through the identical
dataflow (no Kafka needed). Every ``--source`` delivers the one
12-field transaction DTO (``schemas.TRANSACTION_SCHEMA``).
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame

from .session import get_spark
from .streaming import ddl
from .streaming.runner import DEFAULT_TRIGGER_MS, StreamingJob, reference_branches
from .streaming.sinks import JdbcUpsertSink, StagedMergeSink


def build_source(spark, args) -> DataFrame:
    if args.source == "kafka":
        from .sources.kafka import kafka_transaction_stream

        return kafka_transaction_stream(
            spark, args.kafka_servers, topic=args.topic
        )
    if args.source == "file":
        from .sources.kafka import parse_transactions

        raw = spark.readStream.format("text").load(args.input_path)
        return parse_transactions(raw)
    if args.source == "rate":  # smoke: synthesize rows at a fixed rate
        from pyspark.sql import functions as F

        rate = spark.readStream.format("rate").option(
            "rowsPerSecond", str(args.rate_rps)
        ).load()
        return rate.select(
            F.md5(F.col("value").cast("string")).alias("transactionId"),
            F.lit("product1").alias("productId"),
            F.lit("laptop").alias("productName"),
            F.lit("electronic").alias("productCategory"),
            F.lit(10.0).alias("productPrice"),
            F.lit(1).cast("int").alias("productQuantity"),
            F.lit("apple").alias("productBrand"),
            (F.col("value") % 100).cast("double").alias("totalAmount"),
            F.lit("USD").alias("currency"),
            F.concat(F.lit("user_"), (F.col("value") % 50).cast("string")).alias(
                "customerId"
            ),
            F.col("timestamp").alias("transactionDate"),
            F.lit("credit_card").alias("paymentMethod"),
        )
    raise ValueError(f"unknown source {args.source!r}")


def _connection_factory(jdbc_url: str):
    """DB-API connection factory from a URL, whose scheme also picks
    the sink (``make_sink_factory``). ``duckdb:///path.db`` targets an
    embedded DuckDB file — the airgapped path that lets the whole CLI
    (DDL + StagedMergeSink) run end-to-end without a Postgres;
    anything else goes to psycopg2 (production, JdbcUpsertSink)."""
    if jdbc_url.startswith("duckdb://"):
        # duckdb:///abs/path.db -> "/abs/path.db" (absolute),
        # duckdb://rel.db       -> "rel.db"       (relative, preserved),
        # duckdb://:memory: or duckdb:// -> in-memory
        rest = jdbc_url[len("duckdb://"):]
        db_path = ":memory:" if rest in ("", ":memory:") else rest

        def connect_duckdb():
            import duckdb

            return duckdb.connect(db_path)

        return connect_duckdb

    def connect():
        import psycopg2  # not in the test container — production path

        return psycopg2.connect(jdbc_url)

    return connect


def make_sink_factory(args):
    """Sink per branch, picked by the ``--jdbc-url`` scheme alone: a
    ``duckdb://`` URL gives ``StagedMergeSink`` (set-based, one Spark
    action and ONE INSERT .. SELECT .. ON CONFLICT statement per
    micro-batch; DuckDB's single write lock belongs to the driver),
    any other URL gives ``JdbcUpsertSink`` (row-wise psycopg2
    executemany from the executors, the reference's K2-K5 shape).
    Runs the DDL once, here."""
    factory = _connection_factory(args.jdbc_url)
    ddl.create_sink_tables(factory)  # K1: once, at startup
    sink = StagedMergeSink if args.jdbc_url.startswith("duckdb://") else JdbcUpsertSink
    return lambda branch: sink(factory, branch.name, branch.key_cols)


def main(argv: list[str] | None = None) -> StreamingJob:
    p = argparse.ArgumentParser(description="e-commerce streaming analytics job")
    p.add_argument("--source", choices=["kafka", "file", "rate"], default="kafka")
    p.add_argument("--kafka-servers", default="localhost:9092")
    p.add_argument("--topic", default="financial_transactions")
    p.add_argument("--input-path", help="for --source file")
    p.add_argument("--rate-rps", type=int, default=1000)
    p.add_argument("--jdbc-url", default="postgresql://localhost/ecommerce")
    p.add_argument("--checkpoint", default="/tmp/flink_ecommerce_spark_ckpt")
    p.add_argument("--trigger-ms", type=int, default=DEFAULT_TRIGGER_MS)
    p.add_argument("--enable-es", action="store_true")
    p.add_argument("--es-url", default="http://localhost:9200")
    p.add_argument("--await", dest="await_termination", action="store_true")
    args = p.parse_args(argv)

    spark = get_spark("flink-ecommerce-spark-job")
    source = build_source(spark, args)
    branches = reference_branches()
    job = StreamingJob(
        source=source,
        sink_factory=make_sink_factory(args),
        branches=branches,
        checkpoint_root=args.checkpoint,
        trigger_ms=args.trigger_ms,
    ).start()

    if args.enable_es:  # K7: opt-in, mirrors the reference's disabled sink
        from .streaming.es_sink import EsBulkSink, http_post_transport

        es = EsBulkSink(http_post_transport(args.es_url))
        q = (
            source.writeStream.outputMode("append")
            .queryName("es_transactions")
            .trigger(processingTime=f"{args.trigger_ms} milliseconds")
            .option("checkpointLocation", f"{args.checkpoint}/es")
            .foreachBatch(es.foreach_batch())
            .start()
        )
        job.queries.append(q)

    if args.await_termination:
        for q in job.queries:
            q.awaitTermination()
    return job


if __name__ == "__main__":
    main()
