"""Streaming equivalence (SURVEY.md §5.3): the same rows through the
batch plans and through Structured Streaming + foreachBatch upserts
must produce identical final table state — the Flink→Spark semantic
equivalence argument of SURVEY.md §2.3.
"""

from __future__ import annotations

import pytest

from flink_ecommerce_spark.schemas import TRANSACTION_SCHEMA
from flink_ecommerce_spark.sources import generator
from flink_ecommerce_spark.streaming.runner import StreamingJob, reference_branches
from flink_ecommerce_spark.streaming.sinks import MemoryUpsertSink

N_ROWS = 2000


@pytest.fixture(scope="module")
def txn_json_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("txn_json"))
    df = generator.transactions(spark, n_rows=N_ROWS, seed=7)
    generator.transactions_as_json(df).coalesce(4).write.mode("overwrite").text(path)
    return path


def _final_state(rows, key_cols):
    return {
        tuple(r[k] for k in key_cols): tuple(r.asDict().items()) for r in rows
    }


def test_streaming_matches_batch_final_state(spark, txn_json_dir, tmp_path):
    from flink_ecommerce_spark.sources.kafka import parse_transactions

    raw_stream = spark.readStream.format("text").load(txn_json_dir)
    stream = parse_transactions(raw_stream)

    branches = reference_branches()
    job = StreamingJob(
        source=stream,
        sink_factory=lambda b: MemoryUpsertSink(b.key_cols),
        branches=branches,
        checkpoint_root=str(tmp_path / "ckpt"),
    ).start()
    job.process_available()
    job.stop()

    batch_raw = spark.read.text(txn_json_dir)
    batch = parse_transactions(batch_raw)
    for branch in branches:
        expected = branch.plan(batch).collect()
        got = job.sinks[branch.name].rows()
        assert _final_state(got, branch.key_cols) == _final_state(
            expected, branch.key_cols
        ), f"branch {branch.name} diverged between batch and streaming"
        assert len(got) > 0, branch.name


def test_streaming_incremental_updates_converge(spark, txn_json_dir, tmp_path):
    """Feeding the same data in two chunks (separate micro-batches)
    converges to the same final state as one batch — idempotent
    upsert semantics across micro-batch boundaries."""
    from flink_ecommerce_spark.sources.kafka import parse_transactions

    # chunked replay: maxFilesPerTrigger=1 forces multiple micro-batches
    raw_stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(txn_json_dir)
    )
    stream = parse_transactions(raw_stream)
    branch = [b for b in reference_branches() if b.name == "sales_per_day"][0]
    job = StreamingJob(
        source=stream,
        sink_factory=lambda b: MemoryUpsertSink(b.key_cols),
        branches=[branch],
        checkpoint_root=str(tmp_path / "ckpt2"),
    ).start()
    job.process_available()
    job.stop()

    batch = parse_transactions(spark.read.text(txn_json_dir))
    expected = branch.plan(batch).collect()
    got = job.sinks[branch.name].rows()
    assert _final_state(got, branch.key_cols) == _final_state(
        expected, branch.key_cols
    )


def test_json_roundtrip_preserves_schema(spark):
    df = generator.transactions(spark, n_rows=100, seed=3)
    from flink_ecommerce_spark.sources.kafka import parse_transactions

    back = parse_transactions(generator.transactions_as_json(df))
    assert back.schema == TRANSACTION_SCHEMA
    a = {r["transactionId"]: r for r in df.collect()}
    b = {r["transactionId"]: r for r in back.collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert a[k] == b[k]


def test_malformed_json_null_vs_strict(spark):
    from flink_ecommerce_spark.sources.kafka import parse_transactions

    rows = [("{not json",), ('{"transactionId": "t1", "totalAmount": 5.0}',)]
    raw = spark.createDataFrame(rows, ["value"])
    lenient = parse_transactions(raw).collect()
    assert len(lenient) == 2  # malformed kept as all-null row
    strict = parse_transactions(raw, strict=True).collect()
    assert len(strict) == 1 and strict[0]["transactionId"] == "t1"


def test_streaming_staged_merge_matches_memory_sink(spark, txn_json_dir, tmp_path):
    """Full streaming job through the set-based StagedMergeSink
    (foreachBatch → Arrow → one ON CONFLICT per batch) into a
    real engine (DuckDB), with chunked micro-batches: final table
    state must equal the row-wise MemoryUpsertSink path for every
    branch — the job's --sink staged configuration."""
    import duckdb

    from flink_ecommerce_spark.job import SINK_COLUMNS
    from flink_ecommerce_spark.sources.kafka import parse_transactions
    from flink_ecommerce_spark.streaming import ddl
    from flink_ecommerce_spark.streaming.sinks import StagedMergeSink

    db = str(tmp_path / "staged.duckdb")
    ddl.create_sink_tables(lambda: duckdb.connect(db))

    raw_stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")  # several micro-batches
        .load(txn_json_dir)
    )
    stream = parse_transactions(raw_stream)
    branches = reference_branches()

    def staged(b):
        return StagedMergeSink(
            lambda: duckdb.connect(db),
            b.name,
            SINK_COLUMNS[b.name],
            list(b.key_cols),
        )

    job = StreamingJob(
        source=stream,
        sink_factory=staged,
        branches=branches,
        checkpoint_root=str(tmp_path / "ckpt3"),
    ).start()
    job.process_available()
    job.stop()

    mem_job = StreamingJob(
        source=parse_transactions(
            spark.readStream.format("text").load(txn_json_dir)
        ),
        sink_factory=lambda b: MemoryUpsertSink(b.key_cols),
        branches=branches,
        checkpoint_root=str(tmp_path / "ckpt4"),
    ).start()
    mem_job.process_available()
    mem_job.stop()

    def norm(v):
        if hasattr(v, "isoformat"):
            return v.isoformat()
        if isinstance(v, float):
            return round(v, 6)
        return v

    con = duckdb.connect(db)
    for b in branches:
        cols = SINK_COLUMNS[b.name]
        got = {
            tuple(norm(v) for v in r)
            for r in con.execute(
                f"SELECT {', '.join(cols)} FROM {b.name}"
            ).fetchall()
        }
        want = {
            tuple(norm(r[c]) for c in cols)
            for r in mem_job.sinks[b.name].rows()
        }
        assert got == want, f"branch {b.name} diverged (staged vs memory)"
        assert len(got) > 0, b.name
    con.close()


def test_malformed_line_does_not_stop_staged_job(spark, tmp_path):
    """A line that is not JSON parses to an all-null row. Its null
    upsert key would fail the sinks' NOT NULL keys and stop every
    query on every retry; instead each branch drops it and the valid
    transaction next to it lands in all four tables."""
    import duckdb

    from flink_ecommerce_spark.job import SINK_COLUMNS
    from flink_ecommerce_spark.sources.kafka import parse_transactions
    from flink_ecommerce_spark.streaming import ddl
    from flink_ecommerce_spark.streaming.sinks import StagedMergeSink

    valid = generator.transactions_as_json(
        generator.transactions(spark, n_rows=1, seed=5)
    ).first()["value"]
    src = tmp_path / "in"
    src.mkdir()
    (src / "part-0.json").write_text(valid + "\n{not json\n")
    db = str(tmp_path / "bad.duckdb")
    ddl.create_sink_tables(lambda: duckdb.connect(db))

    job = StreamingJob(
        source=parse_transactions(spark.readStream.format("text").load(str(src))),
        sink_factory=lambda b: StagedMergeSink(
            lambda: duckdb.connect(db), b.name, SINK_COLUMNS[b.name], list(b.key_cols)
        ),
        branches=reference_branches(),
        checkpoint_root=str(tmp_path / "ckpt"),
    ).start()
    try:
        job.process_available()
        failed = [q.name for q in job.queries if q.exception() is not None]
    finally:
        job.stop()

    assert failed == []
    con = duckdb.connect(db)
    counts = {
        t: con.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0]
        for t in SINK_COLUMNS
    }
    con.close()
    assert counts == dict.fromkeys(SINK_COLUMNS, 1)


def test_kafka_reader_options_reference_parity():
    """S1 config parity (DataStreamJob.java:89-95) + the production
    knobs, testable without a broker."""
    from flink_ecommerce_spark.sources.kafka import kafka_reader_options

    opts = kafka_reader_options("broker:9092")
    assert opts["subscribe"] == "financial_transactions"
    assert opts["kafka.group.id"] == "flink-group"
    assert opts["startingOffsets"] == "latest"
    assert opts["failOnDataLoss"] == "false"
    assert "maxOffsetsPerTrigger" not in opts
    capped = kafka_reader_options("b:9092", max_offsets_per_trigger=50_000)
    assert capped["maxOffsetsPerTrigger"] == "50000"
