"""Streaming equivalence (SURVEY.md §5.3): the same rows through the
batch plans and through Structured Streaming + foreachBatch upserts
must produce identical final table state — the Flink→Spark semantic
equivalence argument of SURVEY.md §2.3. The sink adds each batch's
sums, so the sum tables are compared with the batch integer-cents
plans exactly, over one micro-batch and over several.
"""

from __future__ import annotations

from pathlib import Path

import pytest

from flink_ecommerce_spark.plans import sales
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


# sum table -> (batch integer-cents plan, key columns)
SUM_TABLES = {
    "sales_per_category": (
        sales.sales_per_category_cents, ("transaction_date", "category")
    ),
    "sales_per_day": (sales.sales_per_day_cents, ("transaction_date",)),
    "sales_per_month": (sales.sales_per_month_cents, ("year", "month")),
}


def _staged_job(spark, src, db, ckpt, branches, max_files_per_trigger=None):
    """The job's branches from the JSON files in ``src`` into DuckDB
    through StagedMergeSink, not yet started."""
    import duckdb

    from flink_ecommerce_spark.sources.kafka import parse_transactions
    from flink_ecommerce_spark.streaming import ddl
    from flink_ecommerce_spark.streaming.sinks import StagedMergeSink

    ddl.create_sink_tables(lambda: duckdb.connect(db))
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return StreamingJob(
        source=parse_transactions(reader.load(src)),
        sink_factory=lambda b: StagedMergeSink(
            lambda: duckdb.connect(db), b.name, b.key_cols, b.sum_col
        ),
        branches=branches,
        checkpoint_root=ckpt,
    )


def _run_staged(spark, src, db, ckpt, branches, max_files_per_trigger=None):
    """``_staged_job`` started, drained and stopped."""
    job = _staged_job(spark, src, db, ckpt, branches, max_files_per_trigger).start()
    try:
        job.process_available()
    finally:
        job.stop()


def _assert_sums_equal_batch_cents(spark, src, db):
    """Each sum table equals its batch ``sales_per_*_cents`` plan over
    the same files, divided by 100 — exactly, not within a cent."""
    import duckdb

    from flink_ecommerce_spark.sources.kafka import parse_transactions

    batch = parse_transactions(spark.read.text(src))
    con = duckdb.connect(db)
    try:
        for table, (plan, keys) in SUM_TABLES.items():
            want = {
                tuple(r[k] for k in keys): r["total_sales_cents"] / 100
                for r in plan(batch).collect()
            }
            got = {
                tuple(r[:-1]): r[-1]
                for r in con.execute(
                    f"SELECT {', '.join(keys)}, total_sales FROM {table}"
                ).fetchall()
            }
            assert got == want, f"{table} diverged from the batch cents plan"
            assert len(got) > 0, table
    finally:
        con.close()


def test_streaming_matches_batch_final_state(spark, txn_json_dir, tmp_path):
    """All files in one micro-batch: every sum table equals the batch
    integer-cents plan, and the transactions table holds each id once."""
    import duckdb

    db = str(tmp_path / "one.duckdb")
    _run_staged(spark, txn_json_dir, db, str(tmp_path / "ckpt"), reference_branches())
    _assert_sums_equal_batch_cents(spark, txn_json_dir, db)
    con = duckdb.connect(db)
    n = con.execute("SELECT count(DISTINCT transaction_id) FROM transactions").fetchone()
    con.close()
    assert n[0] == N_ROWS


def test_streaming_incremental_updates_converge(spark, txn_json_dir, tmp_path):
    """One file per micro-batch: the sink adds each batch's sums to the
    table, and after every batch is applied once (the ledger keeps one
    row per sink, the last file's epoch) the tables equal the batch
    integer-cents plans exactly."""
    import duckdb

    db = str(tmp_path / "chunked.duckdb")
    sums = [b for b in reference_branches() if b.sum_col]
    _run_staged(
        spark, txn_json_dir, db, str(tmp_path / "ckpt2"), sums,
        max_files_per_trigger=1,
    )
    _assert_sums_equal_batch_cents(spark, txn_json_dir, db)
    n_files = len(list(Path(txn_json_dir).glob("part-*")))
    con = duckdb.connect(db)
    epochs = {
        sink: (n, last)
        for sink, n, last in con.execute(
            "SELECT sink, count(*), max(epoch) FROM _sink_epochs GROUP BY sink"
        ).fetchall()
    }
    con.close()
    assert n_files > 1
    assert epochs == {b.name: (1, n_files - 1) for b in sums}


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


def test_malformed_json_parses_to_all_null_row(spark):
    """A malformed line is kept as a row of nulls (each sink's statement
    skips it by its null key); a well-formed one beside it parses as
    usual."""
    from flink_ecommerce_spark.sources.kafka import parse_transactions

    rows = [("{not json",), ('{"transactionId": "t1", "totalAmount": 5.0}',)]
    raw = spark.createDataFrame(rows, ["value"])
    parsed = parse_transactions(raw).collect()
    assert len(parsed) == 2
    assert all(v is None for v in parsed[0])
    assert parsed[1]["transactionId"] == "t1" and parsed[1]["totalAmount"] == 5.0


def test_each_branch_parses_an_event_once(spark, txn_json_dir):
    """Every branch's executed plan holds one ``from_json``. A filter on
    the branch's keys, such as a ``dropna``, would be pushed below the
    parse with a copy of ``from_json`` per key column; the sink's
    statement skips the NULL keys instead."""
    from flink_ecommerce_spark.sources.kafka import parse_transactions

    src = parse_transactions(spark.read.text(txn_json_dir))
    parses = {
        b.name: b.plan(src)._jdf.queryExecution().executedPlan().toString()
        .count("from_json(")
        for b in reference_branches()
    }
    assert parses == {b.name: 1 for b in reference_branches()}


def test_streaming_staged_merge_matches_memory_sink(spark, txn_json_dir, tmp_path):
    """The raw transactions branch through the set-based StagedMergeSink
    (foreachBatch → Arrow → one ON CONFLICT per batch) into a real
    engine (DuckDB), with chunked micro-batches: final table state must
    equal the row-wise MemoryUpsertSink path — the job's configuration
    for a duckdb:// --jdbc-url. The sum branches are checked against
    the batch cents plans above."""
    import duckdb

    from flink_ecommerce_spark.sources.kafka import parse_transactions

    db = str(tmp_path / "staged.duckdb")
    raw = [b for b in reference_branches() if b.name == "transactions"]
    _run_staged(
        spark, txn_json_dir, db, str(tmp_path / "ckpt3"), raw,
        max_files_per_trigger=1,
    )

    mem_job = StreamingJob(
        source=parse_transactions(
            spark.readStream.format("text").load(txn_json_dir)
        ),
        sink_factory=lambda b: MemoryUpsertSink(b.key_cols),
        branches=raw,
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

    (b,) = raw
    cols = b.plan(parse_transactions(spark.read.text(txn_json_dir))).columns
    con = duckdb.connect(db)
    got = {
        tuple(norm(v) for v in r)
        for r in con.execute(f"SELECT {', '.join(cols)} FROM {b.name}").fetchall()
    }
    con.close()
    want = {
        tuple(norm(r[c]) for c in cols) for r in mem_job.sinks[b.name].rows()
    }
    assert got == want, "transactions diverged (staged vs memory)"
    assert len(got) == N_ROWS


def test_malformed_line_does_not_stop_staged_job(spark, tmp_path):
    """A line that is not JSON parses to an all-null row. Its null
    upsert key would fail the sinks' NOT NULL keys and stop every
    query on every retry; instead each sink's statement skips it and
    the valid transaction next to it lands in all four tables."""
    import duckdb

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
    branches = reference_branches()

    job = StreamingJob(
        source=parse_transactions(spark.readStream.format("text").load(str(src))),
        sink_factory=lambda b: StagedMergeSink(
            lambda: duckdb.connect(db), b.name, b.key_cols, b.sum_col
        ),
        branches=branches,
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
        b.name: con.execute(f"SELECT COUNT(*) FROM {b.name}").fetchone()[0]
        for b in branches
    }
    con.close()
    assert counts == {b.name: 1 for b in branches}


def test_failed_start_stops_the_started_queries(spark, tmp_path):
    """The four queries start concurrently and ``queries`` keeps branch
    order. When one branch's plan fails (it selects a column the source
    lacks), ``start()`` raises and no query of the job is left
    running, although the branches before it in order did start."""
    from pyspark.errors import AnalysisException

    from flink_ecommerce_spark.streaming.runner import Branch

    src = tmp_path / "in"
    src.mkdir()
    db = str(tmp_path / "start.duckdb")
    branches = reference_branches()
    job = _staged_job(spark, str(src), db, str(tmp_path / "ok"), branches).start()
    try:
        names = [q.name for q in job.queries]
    finally:
        job.stop()
    assert names == [b.name for b in branches]

    bad = Branch("bad", lambda df: df.select("noSuchColumn"), ("noSuchColumn",))
    broken = branches[:2] + [bad] + branches[2:3]
    failing = _staged_job(spark, str(src), db, str(tmp_path / "bad"), broken)
    try:
        with pytest.raises(AnalysisException):
            failing.start()
        left = [q.name for q in spark.streams.active]
    finally:
        for q in spark.streams.active:
            q.stop()
    assert left == []


def test_stop_right_after_start_is_clean_and_restartable(spark, tmp_path):
    """Stopped the moment it has started, on an empty directory, no
    query records a failure, though a query's thread may still be
    creating its checkpoint. A restart on the same checkpoints then
    drains a new file into all four tables."""
    import duckdb

    valid = generator.transactions_as_json(
        generator.transactions(spark, n_rows=1, seed=5)
    ).first()["value"]
    src = tmp_path / "in"
    src.mkdir()
    db = str(tmp_path / "restart.duckdb")
    ckpt = str(tmp_path / "ckpt")
    branches = reference_branches()

    job = _staged_job(spark, str(src), db, ckpt, branches).start()
    job.stop()
    assert [q.exception() for q in job.queries] == [None] * len(branches)

    (src / "part-0.json").write_text(valid + "\n")
    _run_staged(spark, str(src), db, ckpt, branches)
    con = duckdb.connect(db)
    counts = {
        b.name: con.execute(f"SELECT COUNT(*) FROM {b.name}").fetchone()[0]
        for b in branches
    }
    con.close()
    assert counts == {b.name: 1 for b in branches}


def test_kafka_reader_options_reference_parity():
    """S1 config parity (DataStreamJob.java:89-95) + the production
    knobs, testable without a broker."""
    from flink_ecommerce_spark.sources.kafka import kafka_reader_options

    opts = kafka_reader_options("broker:9092")
    assert opts["subscribe"] == "financial_transactions"
    # one consumer group per query, each named after the reference's
    assert opts["groupIdPrefix"] == "flink-group"
    assert "kafka.group.id" not in opts
    assert opts["startingOffsets"] == "latest"
    assert opts["failOnDataLoss"] == "false"
    assert "maxOffsetsPerTrigger" not in opts
    capped = kafka_reader_options("b:9092", max_offsets_per_trigger=50_000)
    assert capped["maxOffsetsPerTrigger"] == "50000"
