"""Job entry point — the reference's ``DataStreamJob.main``
(DataStreamJob.java:84-170) as a spark-submit-able module:

    python -m flink_ecommerce_spark.job \
        --source kafka --kafka-servers broker:9092 \
        --jdbc-url postgresql://... [--enable-es --es-url http://es:9200]

The command blocks while the job runs, as the reference's
``env.execute()`` does: the first query to stop or fail stops the
others and ends it, raising the failure. Every query triggers every
200 ms (``runner.TRIGGER_MS``, the reference's flush interval).

Lifecycle parity (SURVEY.md §3): build session → load config (CLI
args ≈ the reference's ParameterTool) → declare source → attach the
four sink branches → start (``start``) + awaitTermination (``main``).
DDL runs once before the stream starts (K1 fixed). The four queries
start concurrently, as the reference's one ``env.execute()`` starts
its whole dataflow, and ``job.queries`` holds them in branch order.
A start that fails stops the queries already started and raises, so
no query is left running without a job to stop it. The ES branch
exists but is off by default (K7 parity: the reference ships it
commented out); it starts after the four, and if it fails to start
the four are stopped.

Every sink table gets one upsert form, ``INSERT .. ON CONFLICT (key)
DO UPDATE``, applied per micro-batch by one sink,
``streaming.sinks.StagedMergeSink``: one Spark action collects the
batch to the driver as Arrow, and one UTC transaction applies it,
retried up to the reference's 5 attempts. The raw table keeps the
latest row per key, and the three sum tables add the batch's sums
under an epoch ledger, so the sink tables hold the running sums and
the Spark job keeps no keyed state. The ``--jdbc-url`` scheme picks
only the database client, as the reference's one JDBC upsert per table writes
to whatever database its URL names:

- ``duckdb:///path.db`` — an embedded DuckDB file, which scans the
  Arrow batch in place. The airgapped/demo path; DuckDB is
  single-writer, so production concurrency belongs to Postgres.
- anything else — Postgres through psycopg2, which copies the batch
  into a temporary table first.

The CLI sets no per-batch cap: the first batch after a downtime is
the whole backlog, held in driver memory (perfbench's
``txn_backlog`` workload measures exactly this case).

With ``--source file`` it replays JSON files through the identical
dataflow (no Kafka needed). Every ``--source`` delivers the one
12-field transaction DTO (``schemas.TRANSACTION_SCHEMA``).
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame

from .session import get_spark
from .streaming import ddl
from .streaming.runner import StreamingJob, reference_branches, start_query
from .streaming.sinks import StagedMergeSink


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
    raise ValueError(f"unknown source {args.source!r}")


def _connection_factory(jdbc_url: str):
    """DB-API connection factory from a URL: the one thing the URL
    picks. ``duckdb:///path.db`` targets an embedded DuckDB file — the
    airgapped path that lets the whole CLI run end-to-end without a
    Postgres; anything else goes to psycopg2 (production)."""
    if jdbc_url.startswith("duckdb://"):
        # duckdb:///abs/path.db -> "/abs/path.db" (absolute),
        # duckdb://rel.db       -> "rel.db"       (relative, preserved)
        db_path = jdbc_url[len("duckdb://"):]
        if db_path in ("", ":memory:"):
            # every connect would open a new, empty database: the DDL
            # and each sink batch would never see the same tables
            raise ValueError(
                f"{jdbc_url!r}: a duckdb:// URL needs a file path, "
                "e.g. duckdb:///tmp/ecommerce.db"
            )

        def connect_duckdb():
            import duckdb

            return duckdb.connect(db_path)

        return connect_duckdb

    def connect():
        import psycopg2  # not in the test container — production path

        return psycopg2.connect(jdbc_url)

    return connect


def make_sink_factory(args):
    """A ``StagedMergeSink`` per branch, on the connection the
    ``--jdbc-url`` names: one Spark action and ONE INSERT .. SELECT ..
    ON CONFLICT statement per micro-batch. Runs the DDL, the epoch
    ledger's included, once, here."""
    factory = _connection_factory(args.jdbc_url)
    ddl.create_sink_tables(factory)  # K1: once, at startup
    return lambda branch: StagedMergeSink(
        factory, branch.name, branch.key_cols, branch.sum_col
    )


def start(argv: list[str] | None = None) -> StreamingJob:
    """Everything ``main`` does before it blocks: session, source, DDL,
    sinks and every query started (the ES one too, with
    ``--enable-es``). Returns the running job."""
    p = argparse.ArgumentParser(description="e-commerce streaming analytics job")
    p.add_argument("--source", choices=["kafka", "file"], default="kafka")
    p.add_argument("--kafka-servers", default="localhost:9092")
    p.add_argument("--topic", default="financial_transactions")
    p.add_argument("--input-path", help="for --source file")
    p.add_argument("--jdbc-url", default="postgresql://localhost/ecommerce")
    p.add_argument("--checkpoint", default="/tmp/flink_ecommerce_spark_ckpt")
    p.add_argument("--enable-es", action="store_true")
    p.add_argument("--es-url", default="http://localhost:9200")
    args = p.parse_args(argv)

    spark = get_spark("flink-ecommerce-spark-job")
    # awaitAnyTermination() returns at once for a query that terminated
    # before this job; forget those, before any of the job's starts
    spark.streams.resetTerminated()
    source = build_source(spark, args)
    job = StreamingJob(
        source=source,
        sink_factory=make_sink_factory(args),
        branches=reference_branches(),
        checkpoint_root=args.checkpoint,
    ).start()

    if args.enable_es:  # K7: opt-in, mirrors the reference's disabled sink
        from .streaming.es_sink import EsBulkSink, http_post_transport

        es = EsBulkSink(http_post_transport(args.es_url))
        try:
            job.queries.append(
                start_query(
                    source, "es_transactions", f"{args.checkpoint}/es",
                    es.foreach_batch(),
                )
            )
        except BaseException:
            job.stop()
            raise
    return job


def main(argv: list[str] | None = None) -> None:
    """Start the job and block while it runs, as the reference's
    ``env.execute()`` does (DataStreamJob.java:169)."""
    job = start(argv)
    # the first query to stop or fail ends the job: the others are
    # stopped, and a failure is raised, rather than the job running
    # on with one table no longer updated
    try:
        job.source.sparkSession.streams.awaitAnyTermination()
    finally:
        job.stop()


if __name__ == "__main__":
    main()
