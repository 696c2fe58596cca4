"""Upsert sink tests: SQL shape (reference K2-K5), idempotence, the
additive sums under the epoch ledger, and the one database sink's
transaction and retries (K6) on DuckDB and through a psycopg2-style
wrapper around DuckDB — no Postgres in the container.
"""

from __future__ import annotations

import datetime as dt
import time

import duckdb
import pytest

from flink_ecommerce_spark.sources import generator
from flink_ecommerce_spark.plans import sales
from flink_ecommerce_spark.streaming import ddl
from flink_ecommerce_spark.streaming.runner import reference_branches
from flink_ecommerce_spark.streaming.sinks import (
    MemoryUpsertSink,
    StagedMergeSink,
    upsert_sql,
)


def test_upsert_sql_shape():
    """A sum table adds the batch's integer-cent sums to the stored ones
    (a NULL on either side is skipped, as SUM skips it); a row with a
    NULL key is not read."""
    sql = upsert_sql(
        "sales_per_category",
        ["transaction_date", "category", "total_sales"],
        ["transaction_date", "category"],
        sum_col="total_sales",
    )
    assert sql == (
        "INSERT INTO sales_per_category (transaction_date, category, total_sales) "
        "SELECT transaction_date, category, "
        "sum(CAST(FLOOR((total_sales) * 100 + 0.5) AS BIGINT)) / 100.0 "
        "FROM __batch WHERE transaction_date IS NOT NULL AND category IS NOT NULL "
        "GROUP BY transaction_date, category "
        "ON CONFLICT (transaction_date, category) DO UPDATE SET total_sales = "
        "coalesce((CAST(FLOOR((sales_per_category.total_sales) * 100 + 0.5) AS BIGINT)"
        " + CAST(FLOOR((EXCLUDED.total_sales) * 100 + 0.5) AS BIGINT)) / 100.0, "
        "sales_per_category.total_sales, EXCLUDED.total_sales)"
    )


def test_memory_upsert_idempotent(spark):
    df = generator.transactions(spark, n_rows=200, seed=9)
    agg = sales.sales_per_day(df)
    sink = MemoryUpsertSink(("transaction_date",))
    sink.write_batch(agg)
    first = {k: tuple(v) for k, v in sink.state.items()}
    sink.write_batch(agg)  # replay the same batch (at-least-once delivery)
    second = {k: tuple(v) for k, v in sink.state.items()}
    assert first == second


# ---- psycopg2 stand-in -------------------------------------------------


class _PsycopgOverDuckDB:
    """A psycopg2-style connection over a DuckDB file: ``%s``
    placeholders, a transaction opened by the first statement, and a
    COMMIT that fails ``fail_commits`` times with a transient error —
    after the batch, the ledger row and the sums were written, so a
    retry that did not roll back would count them twice."""

    def __init__(self, db, fail_commits=0):
        self.con = duckdb.connect(db)
        self.fail_commits = fail_commits
        self.in_txn = False
        self.closed = False

    def cursor(self):
        return self

    def _begin(self):
        if not self.in_txn:
            self.con.begin()
            self.in_txn = True

    def execute(self, sql, params=()):
        self._begin()
        self.con.execute(sql.replace("%s", "?"), list(params))

    def executemany(self, sql, rows):
        self._begin()
        self.con.executemany(sql.replace("%s", "?"), rows)

    def fetchone(self):
        return self.con.fetchone()

    def commit(self):
        if self.fail_commits:
            self.fail_commits -= 1
            raise duckdb.TransactionException("transient failure")
        self.con.commit()
        self.in_txn = False

    def close(self):
        self.con.close()
        self.closed = True


class OperationalError(Exception):
    """psycopg2's class for a lost connection, matched by name."""


class _LostPsycopg(_PsycopgOverDuckDB):
    """A psycopg2 connection whose server is gone: every statement on
    it raises ``OperationalError``, the first as on every retry."""

    def execute(self, sql, params=()):
        raise OperationalError("server closed the connection unexpectedly")

    def executemany(self, sql, rows):
        self.execute(sql)


def _connect(kind, db):
    """A connection factory over ``db``: DuckDB itself, or psycopg2 as
    the stand-in plays it."""
    if kind == "duckdb":
        return lambda: duckdb.connect(db)
    return lambda: _PsycopgOverDuckDB(db)


def _sink_db(tmp_path):
    db = str(tmp_path / "sink.duckdb")
    ddl.create_sink_tables(lambda: duckdb.connect(db))
    return db


def _branch(name):
    return next(b for b in reference_branches() if b.name == name)


def _sums(db, table):
    con = duckdb.connect(db)
    try:
        return dict(con.execute(f"SELECT transaction_date, total_sales FROM {table}").fetchall())
    finally:
        con.close()


def _day_cents(df):
    return {
        r["transaction_date"]: r["total_sales_cents"] / 100
        for r in sales.sales_per_day_cents(df).collect()
    }


def test_jdbc_upsert_writes_all_rows(spark, tmp_path):
    """Through psycopg2, the raw table receives every row and a sum
    table the exact integer-cent sums, by the temporary-table copy."""
    db = _sink_db(tmp_path)
    df = generator.transactions(spark, n_rows=500, seed=13)
    for name in ("transactions", "sales_per_category"):
        b = _branch(name)
        sink = StagedMergeSink(_connect("psycopg", db), b.name, b.key_cols, b.sum_col)
        sink.write_batch(b.plan(df), 0)
    con = duckdb.connect(db)
    ids = con.execute("SELECT count(DISTINCT transaction_id) FROM transactions").fetchone()
    cats = {
        (d, c): v
        for d, c, v in con.execute("SELECT * FROM sales_per_category").fetchall()
    }
    con.close()
    assert ids[0] == 500
    assert cats == {
        (r["transaction_date"], r["category"]): r["total_sales_cents"] / 100
        for r in sales.sales_per_category_cents(df).collect()
    }


def test_jdbc_upsert_retries_then_succeeds(spark, tmp_path):
    """Two failed COMMITs, each after the sums were written: every
    attempt is rolled back whole, so the third adds the sums once. Each
    attempt runs on a connection of its own."""
    db = _sink_db(tmp_path)
    df = generator.transactions(spark, n_rows=50, seed=17)
    b = _branch("sales_per_day")
    conns = iter([_PsycopgOverDuckDB(db, fail_commits=1) for _ in range(2)])
    sink = StagedMergeSink(
        lambda: next(conns, None) or _PsycopgOverDuckDB(db),
        b.name, b.key_cols, b.sum_col,
    )
    sink.write_batch(b.plan(df), 0)
    assert _sums(db, "sales_per_day") == _day_cents(df)


def test_lost_connection_is_retried_on_a_new_one(spark, tmp_path):
    """The first connection dies on its first statement: the retry opens
    a new one, the batch's sums land exactly once, and every connection
    the sink opened is closed."""
    db = _sink_db(tmp_path)
    df = generator.transactions(spark, n_rows=50, seed=17)
    b = _branch("sales_per_day")
    opened = []

    def connect():
        opened.append((_LostPsycopg if not opened else _PsycopgOverDuckDB)(db))
        return opened[-1]

    StagedMergeSink(connect, b.name, b.key_cols, b.sum_col).write_batch(b.plan(df), 0)
    assert _sums(db, "sales_per_day") == _day_cents(df)
    assert [type(c) for c in opened] == [_LostPsycopg, _PsycopgOverDuckDB]
    assert all(c.closed for c in opened)


def test_jdbc_upsert_exhausted_retries_raise(spark, tmp_path):
    """Every attempt fails: the last failure is raised, and nothing of
    the batch or its epoch is left behind."""
    db = _sink_db(tmp_path)
    df = generator.transactions(spark, n_rows=20, seed=19)
    b = _branch("sales_per_day")
    sink = StagedMergeSink(
        lambda: _PsycopgOverDuckDB(db, fail_commits=10**9),
        b.name, b.key_cols, b.sum_col,
    )
    with pytest.raises(duckdb.TransactionException, match="transient failure"):
        sink.write_batch(b.plan(df), 0)
    assert _sums(db, "sales_per_day") == {}
    con = duckdb.connect(db)
    assert con.execute("SELECT count(*) FROM _sink_epochs").fetchone()[0] == 0
    con.close()


class _CountingDuckDB:
    """A DuckDB connection that counts the transactions begun on it."""

    def __init__(self, db):
        self.con = duckdb.connect(db)
        self.begins = 0

    def __getattr__(self, name):
        return getattr(self.con, name)

    def begin(self):
        self.begins += 1
        return self.con.begin()


def test_constraint_violation_fails_on_the_first_attempt(spark, tmp_path):
    """A CHECK violation fails the same way on every attempt, so the
    sink raises it from the first one, on the one connection it
    opened, without a transient failure's retries and back-off."""
    db = str(tmp_path / "check.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE kv (k BIGINT PRIMARY KEY, v DOUBLE CHECK (v >= 0))")
    con.close()
    opened = []

    def connect():
        opened.append(_CountingDuckDB(db))
        return opened[-1]

    sink = StagedMergeSink(connect, "kv", ["k"])
    batch = spark.createDataFrame([(1, -1.0)], "k long, v double")
    with pytest.raises(duckdb.ConstraintException, match="CHECK constraint"):
        sink.write_batch(batch, 0)
    assert len(opened) == 1
    assert opened[0].begins == 1


@pytest.mark.parametrize("kind", ["staged", "jdbc"])
def test_sum_sink_adds_each_epoch_once(spark, tmp_path, kind):
    """Both connections (DuckDB, psycopg2): a replayed epoch leaves the
    sums as they are, and the next epoch, even with the same rows, adds
    to them."""
    db = _sink_db(tmp_path)
    df = generator.transactions(spark, n_rows=200, seed=23)
    b = _branch("sales_per_day")
    connect = _connect("duckdb" if kind == "staged" else "psycopg", db)
    sink = StagedMergeSink(connect, b.name, b.key_cols, b.sum_col)
    once = _day_cents(df)
    sink.write_batch(b.plan(df), 0)
    sink.write_batch(b.plan(df), 0)  # the same epoch, replayed
    assert _sums(db, "sales_per_day") == once
    sink.write_batch(b.plan(df), 1)
    cents = {
        r["transaction_date"]: 2 * r["total_sales_cents"] / 100
        for r in sales.sales_per_day_cents(df).collect()
    }
    assert _sums(db, "sales_per_day") == cents


@pytest.mark.parametrize("kind", ["duckdb", "psycopg"])
def test_epoch_ledger_keeps_only_the_latest_epoch(spark, tmp_path, kind):
    """After epochs 0, 1 and 2 the ledger holds one row, epoch 2's, and
    a replay of epoch 2 still adds nothing: the ledger stays bounded on
    a long-running job."""
    db = _sink_db(tmp_path)
    df = generator.transactions(spark, n_rows=100, seed=29)
    b = _branch("sales_per_day")
    sink = StagedMergeSink(_connect(kind, db), b.name, b.key_cols, b.sum_col)
    for epoch in (0, 1, 2):
        sink.write_batch(b.plan(df), epoch)
    thrice = _sums(db, "sales_per_day")
    sink.write_batch(b.plan(df), 2)
    assert _sums(db, "sales_per_day") == thrice
    assert thrice == {
        r["transaction_date"]: 3 * r["total_sales_cents"] / 100
        for r in sales.sales_per_day_cents(df).collect()
    }
    con = duckdb.connect(db)
    rows = con.execute("SELECT sink, epoch FROM _sink_epochs").fetchall()
    con.close()
    assert rows == [("sales_per_day", 2)]


@pytest.mark.parametrize("kind", ["duckdb", "psycopg"])
def test_null_keys_are_skipped_by_the_statement(spark, tmp_path, kind):
    """One batch through the four sinks: a sale, a malformed line (an
    all-null row) and a sale with an id but no date. No plan filters
    them, and nothing raises: ``transactions`` keeps both rows with an
    id, and each sum table counts only the dated sale. On psycopg2 the
    NULL-key rows also pass through ``__batch``, whose ``CREATE TEMP
    TABLE .. AS`` copy of the sink table keeps no key constraint."""
    from flink_ecommerce_spark.sources.kafka import parse_transactions

    sale = generator.transactions(spark, n_rows=1, seed=5)
    lines = [
        generator.transactions_as_json(sale).first()["value"],
        "{not json",
        '{"transactionId": "no-date", "totalAmount": 7.0}',
    ]
    batch = parse_transactions(spark.createDataFrame([(v,) for v in lines], ["value"]))
    db = _sink_db(tmp_path)
    for b in reference_branches():
        sink = StagedMergeSink(_connect(kind, db), b.name, b.key_cols, b.sum_col)
        sink.write_batch(b.plan(batch), 0)
    (dated,) = sale.collect()
    con = duckdb.connect(db)
    ids = con.execute("SELECT transaction_id FROM transactions").fetchall()
    sums = {
        t: con.execute(f"SELECT total_sales FROM {t}").fetchall()
        for t in ("sales_per_category", "sales_per_day", "sales_per_month")
    }
    con.close()
    assert sorted(ids) == sorted([(dated["transactionId"],), ("no-date",)])
    cents = next(iter(_day_cents(sale).values()))
    assert sums == {t: [(cents,)] for t in sums}


# ---- the set-based upsert sink on either connection --------------------


def test_merge_upsert_sql_dialects():
    """The latest row per key, picked by a window over the keyed rows,
    from a named derived table (PostgreSQL before 16 rejects an
    unnamed one)."""
    cols = ["transaction_date", "category", "total_sales"]
    keys = ["transaction_date", "category"]
    oc = upsert_sql("t", cols, keys)
    assert oc == (
        "INSERT INTO t (transaction_date, category, total_sales) "
        "SELECT transaction_date, category, total_sales FROM ("
        "SELECT transaction_date, category, total_sales, row_number() OVER "
        "(PARTITION BY transaction_date, category ORDER BY total_sales DESC NULLS LAST)"
        " AS __rn FROM __batch "
        "WHERE transaction_date IS NOT NULL AND category IS NOT NULL) __latest "
        "WHERE __rn = 1 "
        "ON CONFLICT (transaction_date, category) DO UPDATE SET "
        "total_sales = EXCLUDED.total_sales"
    )


def test_staged_merge_final_state_matches_memory_sink(spark, tmp_path):
    db = str(tmp_path / "merge.duckdb")
    con = duckdb.connect(db)
    con.execute(
        "CREATE TABLE sales_per_day (transaction_date DATE PRIMARY KEY, "
        "total_sales DOUBLE)"
    )
    con.close()

    keys = ["transaction_date"]
    merge_sink = StagedMergeSink(lambda: duckdb.connect(db), "sales_per_day", keys)
    mem_sink = MemoryUpsertSink(keys)

    # two overlapping batches: day-ranges share keys, values change
    b1 = sales.sales_per_day(generator.transactions(spark, n_rows=300, seed=31))
    b2 = sales.sales_per_day(generator.transactions(spark, n_rows=400, seed=37))
    for epoch, batch in enumerate((b1, b2)):
        merge_sink.write_batch(batch, epoch)
        mem_sink.write_batch(batch, epoch)

    con = duckdb.connect(db)
    merged = {
        r[0].isoformat(): round(r[1], 6)
        for r in con.execute(
            "SELECT transaction_date, total_sales FROM sales_per_day"
        ).fetchall()
    }
    con.close()
    expected = {
        row["transaction_date"].isoformat(): round(row["total_sales"], 6)
        for row in mem_sink.rows()
    }
    assert merged == expected and len(merged) > 0


@pytest.mark.parametrize("kind", ["duckdb", "psycopg"])
def test_memory_sink_skips_key_less_rows_as_the_database_sink_does(
    spark, tmp_path, kind
):
    """A sale and a malformed line (an all-null row) through the raw
    branch: the memory sink and the database sink both keep the sale
    alone, as equal rows."""
    from flink_ecommerce_spark.sources.kafka import parse_transactions

    sale = generator.transactions(spark, n_rows=1, seed=5)
    lines = [generator.transactions_as_json(sale).first()["value"], "{not json"]
    b = _branch("transactions")
    batch = b.plan(
        parse_transactions(spark.createDataFrame([(v,) for v in lines], ["value"]))
    )
    db = _sink_db(tmp_path)
    StagedMergeSink(_connect(kind, db), b.name, b.key_cols).write_batch(batch, 0)
    mem_sink = MemoryUpsertSink(b.key_cols)
    mem_sink.write_batch(batch, 0)

    def utc(v):
        # collected timestamps are naive process-local; the table's are UTC
        if isinstance(v, dt.datetime):
            return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v

    con = duckdb.connect(db)
    stored = con.execute(f"SELECT {', '.join(batch.columns)} FROM {b.name}").fetchall()
    con.close()
    kept = [tuple(utc(v) for v in r) for r in mem_sink.rows()]
    assert kept == stored and len(stored) == 1


@pytest.mark.parametrize("kind", ["duckdb", "psycopg"])
def test_staged_merge_collapses_duplicate_keys_in_batch(spark, tmp_path, kind):
    db = str(tmp_path / "dup.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE kv (k BIGINT PRIMARY KEY, v DOUBLE, ts BIGINT)")
    con.close()
    sink = StagedMergeSink(_connect(kind, db), "kv", ["k"])
    batch = spark.createDataFrame(
        [(1, 10.0, 100), (1, 99.0, 200), (2, 5.0, 50)], "k long, v double, ts long"
    )
    sink.write_batch(batch, 0)
    con = duckdb.connect(db)
    rows = dict(
        (r[0], (r[1], r[2]))
        for r in con.execute("SELECT k, v, ts FROM kv ORDER BY k").fetchall()
    )
    con.close()
    # merge source collapsed to one row per key: the larger v wins for k=1
    assert rows == {1: (99.0, 200), 2: (5.0, 50)}


@pytest.mark.parametrize("kind", ["duckdb", "psycopg"])
def test_staged_merge_epoch_retry_is_idempotent(spark, tmp_path, kind):
    """foreachBatch may redeliver an epoch after a failure; re-merging
    the same rows must land in the same final state — the at-least-once + idempotent-upsert contract
    the reference relies on (checkpointing off, DataStreamJob.java)."""
    db = str(tmp_path / "retry.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE kv (k BIGINT PRIMARY KEY, v DOUBLE)")
    con.close()
    sink = StagedMergeSink(_connect(kind, db), "kv", ["k"])
    batch = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double")
    sink.write_batch(batch, 7)
    sink.write_batch(batch, 7)  # redelivery of the same epoch
    con = duckdb.connect(db)
    rows = dict(con.execute("SELECT k, v FROM kv").fetchall())
    con.close()
    assert rows == {1: 1.0, 2: 2.0}


@pytest.mark.parametrize("kind", ["duckdb", "psycopg"])
def test_staged_merge_skips_empty_batch(spark, tmp_path, kind):
    """foreachBatch routinely delivers empty micro-batches; the sink
    must not touch the target table for one."""
    db = str(tmp_path / "empty.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE kv (k BIGINT PRIMARY KEY, v DOUBLE)")
    con.close()
    sink = StagedMergeSink(_connect(kind, db), "kv", ["k"])
    empty = spark.createDataFrame([], "k long, v double")
    sink.write_batch(empty, 0)  # must not raise
    con = duckdb.connect(db)
    assert con.execute("SELECT COUNT(*) FROM kv").fetchone()[0] == 0
    con.close()


@pytest.mark.parametrize("kind", ["duckdb", "psycopg"])
def test_staged_merge_computes_batch_once(spark, tmp_path, kind):
    """One Spark action per micro-batch: every row passes through the
    batch's plan exactly once (no separate emptiness probe, no second
    pass for the write). The plan's Python UDF appends one byte per
    evaluation to a file. An accumulator cannot see a second pass:
    Spark left it at n for a sink that ran the UDF 2n times."""
    from pyspark.sql import functions as F

    db = str(tmp_path / "once.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE kv (k BIGINT PRIMARY KEY, v DOUBLE)")
    con.close()
    evals = str(tmp_path / "evals")

    def keep(_):
        with open(evals, "a") as f:
            f.write(".")
        return True

    n = 40
    # a filter: no pass over the batch can prune it away
    batch = spark.range(n).where(F.udf(keep, "boolean")("id")).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    )
    sink = StagedMergeSink(_connect(kind, db), "kv", ["k"])
    sink.write_batch(batch, 0)
    with open(evals) as f:
        assert len(f.read()) == n
    con = duckdb.connect(db)
    assert con.execute("SELECT COUNT(*) FROM kv").fetchone()[0] == n
    con.close()


@pytest.mark.parametrize("kind", ["duckdb", "psycopg"])
def test_staged_merge_keeps_utc_timestamps_on_any_host_zone(
    spark, tmp_path, monkeypatch, kind
):
    """A Python process and a database session both on New York time:
    00:30 UTC is still stored as 00:30. Arrow hands Spark timestamps
    over as UTC instants, whatever the process zone, and the sink pins
    the session to UTC, through which either database casts them into
    a TIMESTAMP column. (Rows collected as Python objects carry the
    process's local time instead: 2023-12-31 19:30.)"""
    from pyspark.sql import functions as F

    db = str(tmp_path / "tz.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE ts_kv (k BIGINT PRIMARY KEY, ts TIMESTAMP)")
    con.close()

    def connect_new_york():
        c = _connect(kind, db)()
        # DuckDB 1.0 rejects TimeZone in connect(config=...); SET is the
        # same session setting
        (c if kind == "duckdb" else c.con).execute("SET TimeZone = 'America/New_York'")
        return c

    sink = StagedMergeSink(connect_new_york, "ts_kv", ["k"])
    # 1704069000 s = 2024-01-01 00:30:00 UTC, whatever Spark's zone
    batch = spark.range(1).select(
        F.col("id").alias("k"), F.timestamp_seconds(F.lit(1704069000)).alias("ts")
    )
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        sink.write_batch(batch, 0)
    finally:
        monkeypatch.undo()
        time.tzset()
    con = duckdb.connect(db)
    stored = con.execute("SELECT ts FROM ts_kv").fetchone()[0]
    con.close()
    assert stored == dt.datetime(2024, 1, 1, 0, 30)
