"""Upsert sink tests: SQL shape (reference K2-K5), idempotence,
batching/retry (K6), through a fake DB-API connection — no Postgres
in the container.
"""

from __future__ import annotations

import pytest

from flink_ecommerce_spark.sources import generator
from flink_ecommerce_spark.plans import sales
from flink_ecommerce_spark.streaming.sinks import (
    JdbcUpsertSink,
    MemoryUpsertSink,
    upsert_sql,
)


def test_upsert_sql_shape():
    sql = upsert_sql(
        "sales_per_category",
        ["transaction_date", "category", "total_sales"],
        ["transaction_date", "category"],
    )
    assert sql == (
        "INSERT INTO sales_per_category (transaction_date, category, total_sales) "
        "VALUES (%s, %s, %s) "
        "ON CONFLICT (transaction_date, category) DO UPDATE SET "
        "total_sales = EXCLUDED.total_sales"
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


# ---- fake DB-API plumbing ----------------------------------------------
# foreachPartition runs in separate Python worker processes, so the
# fake "database" is a file the workers append to and the driver reads.

import json
import os
import tempfile


class _FakeCursor:
    def __init__(self, path, fail_first=0):
        self.path = path
        self.fail_first = fail_first
        self.calls = 0

    def executemany(self, sql, rows):
        self.calls += 1
        if self.calls <= self.fail_first:
            raise RuntimeError("transient failure")
        with open(self.path, "a") as f:
            for row in rows:
                f.write(json.dumps([str(v) for v in row]) + "\n")


class _FakeConn:
    def __init__(self, path, fail_first=0):
        self.cursor_obj = _FakeCursor(path, fail_first)

    def cursor(self):
        return self.cursor_obj

    def commit(self):
        pass

    def rollback(self):
        pass

    def close(self):
        pass


def _read_store(path):
    rows = []
    if os.path.exists(path):
        with open(path) as f:
            rows = [tuple(json.loads(line)) for line in f]
    return rows


def _tmp_store():
    fd, path = tempfile.mkstemp(suffix=".fakejdbc")
    os.close(fd)
    os.unlink(path)
    return path


def test_jdbc_upsert_writes_all_rows(spark):
    path = _tmp_store()
    df = generator.transactions(spark, n_rows=500, seed=13).coalesce(1)
    agg = sales.sales_per_category(df)
    sink = JdbcUpsertSink(
        lambda: _FakeConn(path),
        "sales_per_category",
        ["transaction_date", "category"],
        batch_size=50,
    )
    sink.write_batch(agg)
    written = _read_store(path)
    assert len(written) == agg.count()
    # upsert key uniqueness holds in the source aggregation
    assert len({(r[0], r[1]) for r in written}) == len(written)


def test_jdbc_upsert_retries_then_succeeds(spark):
    path = _tmp_store()
    df = generator.transactions(spark, n_rows=50, seed=17).coalesce(1)
    agg = sales.sales_per_day(df).coalesce(1)
    sink = JdbcUpsertSink(
        lambda: _FakeConn(path, fail_first=2),
        "sales_per_day",
        ["transaction_date"],
        max_retries=5,
    )
    sink.write_batch(agg)
    assert len(_read_store(path)) == agg.count()


def test_jdbc_upsert_exhausted_retries_raise(spark):
    path = _tmp_store()
    df = generator.transactions(spark, n_rows=20, seed=19).coalesce(1)
    agg = sales.sales_per_day(df).coalesce(1)
    sink = JdbcUpsertSink(
        lambda: _FakeConn(path, fail_first=10**9),
        "sales_per_day",
        ["transaction_date"],
        max_retries=2,
    )
    with pytest.raises(Exception):
        sink.write_batch(agg)


# ---- staged set-based upsert sink (real engine: DuckDB) ----------------

from flink_ecommerce_spark.streaming.sinks import (  # noqa: E402
    StagedMergeSink,
    merge_upsert_sql,
)


def test_merge_upsert_sql_dialects():
    cols = ["transaction_date", "category", "total_sales"]
    keys = ["transaction_date", "category"]
    oc = merge_upsert_sql("t", "SELECT * FROM stage", cols, keys)
    assert oc == (
        "INSERT INTO t (transaction_date, category, total_sales) "
        "SELECT transaction_date, category, total_sales FROM (SELECT * FROM stage) "
        "ON CONFLICT (transaction_date, category) DO UPDATE SET "
        "total_sales = EXCLUDED.total_sales"
    )


def test_staged_merge_final_state_matches_memory_sink(spark, tmp_path):
    import duckdb

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


def test_staged_merge_collapses_duplicate_keys_in_batch(spark, tmp_path):
    import duckdb

    db = str(tmp_path / "dup.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE kv (k BIGINT PRIMARY KEY, v DOUBLE, ts BIGINT)")
    con.close()
    sink = StagedMergeSink(lambda: duckdb.connect(db), "kv", ["k"])
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


def test_merge_upsert_sql_all_key_columns_insert_only():
    """Every column in the key → no SET clause to emit; both upsert
    forms must degrade to insert-only instead of malformed SQL."""
    for sql in (
        merge_upsert_sql("t", "SELECT * FROM s0", ["a", "b"], ["a", "b"]),
        upsert_sql("t", ["a", "b"], ["a", "b"]),
    ):
        assert sql.endswith("ON CONFLICT (a, b) DO NOTHING"), sql
        assert "DO UPDATE" not in sql, sql


def test_staged_merge_epoch_retry_is_idempotent(spark, tmp_path):
    """foreachBatch may redeliver an epoch after a failure; re-merging
    the same rows must land in the same final state — the at-least-once + idempotent-upsert contract
    the reference relies on (checkpointing off, DataStreamJob.java)."""
    import duckdb

    db = str(tmp_path / "retry.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE kv (k BIGINT PRIMARY KEY, v DOUBLE)")
    con.close()
    sink = StagedMergeSink(lambda: duckdb.connect(db), "kv", ["k"])
    batch = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double")
    sink.write_batch(batch, 7)
    sink.write_batch(batch, 7)  # redelivery of the same epoch
    con = duckdb.connect(db)
    rows = dict(con.execute("SELECT k, v FROM kv").fetchall())
    con.close()
    assert rows == {1: 1.0, 2: 2.0}


def test_staged_merge_skips_empty_batch(spark, tmp_path):
    """foreachBatch routinely delivers empty micro-batches; the sink
    must not touch the target table for one."""
    import duckdb

    db = str(tmp_path / "empty.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE kv (k BIGINT PRIMARY KEY, v DOUBLE)")
    con.close()
    sink = StagedMergeSink(lambda: duckdb.connect(db), "kv", ["k"])
    empty = spark.createDataFrame([], "k long, v double")
    sink.write_batch(empty, 0)  # must not raise
    con = duckdb.connect(db)
    assert con.execute("SELECT COUNT(*) FROM kv").fetchone()[0] == 0
    con.close()


def test_staged_merge_computes_batch_once(spark, tmp_path):
    """One Spark action per micro-batch: every row passes through the
    batch's plan exactly once (no separate emptiness probe, no second
    pass for the write). The plan's Python UDF appends one byte per
    evaluation to a file. An accumulator cannot see a second pass:
    Spark left it at n for a sink that ran the UDF 2n times."""
    import duckdb
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
    sink = StagedMergeSink(lambda: duckdb.connect(db), "kv", ["k"])
    sink.write_batch(batch, 0)
    with open(evals) as f:
        assert len(f.read()) == n
    con = duckdb.connect(db)
    assert con.execute("SELECT COUNT(*) FROM kv").fetchone()[0] == n
    con.close()


def test_staged_merge_keeps_utc_timestamps_on_any_host_zone(spark, tmp_path):
    """Arrow hands Spark timestamps over as UTC instants; DuckDB would
    cast them into a TIMESTAMP column through its session TimeZone,
    which follows the host. The sink pins UTC, so 00:30 UTC stays
    00:30 even on a connection that defaults to New York time."""
    import datetime as dt

    import duckdb
    from pyspark.sql import functions as F

    db = str(tmp_path / "tz.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE ts_kv (k BIGINT PRIMARY KEY, ts TIMESTAMP)")
    con.close()

    def connect_new_york():
        # DuckDB 1.0 rejects TimeZone in connect(config=...); SET is the
        # same session setting
        c = duckdb.connect(db)
        c.execute("SET TimeZone = 'America/New_York'")
        return c

    sink = StagedMergeSink(connect_new_york, "ts_kv", ["k"])
    # 1704069000 s = 2024-01-01 00:30:00 UTC, whatever Spark's zone
    batch = spark.range(1).select(
        F.col("id").alias("k"), F.timestamp_seconds(F.lit(1704069000)).alias("ts")
    )
    sink.write_batch(batch, 0)
    con = duckdb.connect(db)
    stored = con.execute("SELECT ts FROM ts_kv").fetchone()[0]
    con.close()
    assert stored == dt.datetime(2024, 1, 1, 0, 30)
