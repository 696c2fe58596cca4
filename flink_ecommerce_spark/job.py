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

With ``--source file`` it replays JSON files through the identical
dataflow — the airgapped/test path (no Kafka/Postgres needed when
paired with --sink memory, or with ``--jdbc-url duckdb:///path.db``
which runs the jdbc/staged sinks against an embedded DuckDB file —
demo/smoke use; DuckDB is single-writer, so production concurrency
belongs to Postgres).

Every ``--source`` delivers the one 12-field transaction DTO
(``schemas.TRANSACTION_SCHEMA``), and every sink table gets one
upsert form, ``INSERT .. ON CONFLICT (key) DO UPDATE``.

``--sink staged`` is DuckDB-only: it runs one Spark action per
micro-batch and holds the batch in driver memory as Arrow, so bound
the batch at the source (``max_offsets_per_trigger`` for Kafka).
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame

from .session import get_spark
from .streaming import ddl
from .streaming.runner import DEFAULT_TRIGGER_MS, Branch, StreamingJob, reference_branches
from .streaming.sinks import JdbcUpsertSink, MemoryUpsertSink, StagedMergeSink

# column list per branch = the branch plan's output schema (the
# transactions branch carries the full 12-column K2 schema matching
# ddl.TRANSACTIONS_DDL)
SINK_COLUMNS: dict[str, list[str]] = {
    "transactions": [
        "transaction_id",
        "product_id",
        "product_name",
        "product_category",
        "product_price",
        "product_quantity",
        "product_brand",
        "total_amount",
        "currency",
        "customer_id",
        "transaction_date",
        "payment_method",
    ],
    "sales_per_category": ["transaction_date", "category", "total_sales"],
    "sales_per_day": ["transaction_date", "total_sales"],
    "sales_per_month": ["year", "month", "total_sales"],
}


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
    """DB-API connection factory from a URL. ``duckdb:///path.db``
    targets an embedded DuckDB file — the airgapped path that lets
    the whole CLI (DDL + jdbc/staged sinks) run end-to-end without a
    Postgres; anything else goes to psycopg2 (production)."""
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
    """Sink selection: ``memory`` (tests), ``jdbc`` (row-wise
    executemany upserts, the reference's K2-K5 shape), or ``staged``
    (set-based, DuckDB-only: one Spark action collects each
    micro-batch as Arrow into driver memory, then ONE INSERT .. SELECT
    .. ON CONFLICT statement per batch)."""
    if args.sink == "memory":
        return lambda branch: MemoryUpsertSink(branch.key_cols)

    is_duckdb = args.jdbc_url.startswith("duckdb://")
    if args.sink == "staged" and not is_duckdb:
        raise SystemExit(
            f"--sink staged writes to DuckDB only; got --jdbc-url "
            f"{args.jdbc_url!r} (use duckdb:///path.db, or --sink jdbc)"
        )
    factory = _connection_factory(args.jdbc_url)
    ddl.create_sink_tables(factory)  # K1: once, at startup

    if args.sink == "staged":
        def staged_sink(branch: Branch):
            return StagedMergeSink(
                factory, branch.name, SINK_COLUMNS[branch.name], list(branch.key_cols)
            )

        return staged_sink

    def jdbc_sink(branch: Branch):
        return JdbcUpsertSink(
            factory,
            branch.name,
            SINK_COLUMNS[branch.name],
            list(branch.key_cols),
            placeholder="?" if is_duckdb else "%s",
        )

    return jdbc_sink


def main(argv: list[str] | None = None) -> StreamingJob:
    p = argparse.ArgumentParser(description="e-commerce streaming analytics job")
    p.add_argument("--source", choices=["kafka", "file", "rate"], default="kafka")
    p.add_argument("--kafka-servers", default="localhost:9092")
    p.add_argument("--topic", default="financial_transactions")
    p.add_argument("--input-path", help="for --source file")
    p.add_argument("--rate-rps", type=int, default=1000)
    p.add_argument("--sink", choices=["jdbc", "staged", "memory"], default="jdbc")
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
