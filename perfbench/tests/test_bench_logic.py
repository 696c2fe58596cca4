"""The benchmark's own logic: the batch -> file latency join, the run
validity rule, the tail percentile rule, the tracer's self time and both
oracle comparisons.
No Spark session is needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import duckdb
import pytest

from flink_ecommerce_spark.streaming import ddl
from perfbench import oracle, stats, streams
from perfbench.tracing import Tracer


# ------------------------------------------------------- latency join

def _source_log(path, entries):
    path.write_text("v1\n" + "".join(
        json.dumps({"path": f"file:///x/in/{f}", "timestamp": 0, "batchId": b}) + "\n"
        for f, b in entries
    ))


def _branch(root, name, logs, commits):
    src = root / name / "sources" / "0"
    com = root / name / "commits"
    src.mkdir(parents=True)
    com.mkdir(parents=True)
    for log_name, entries in logs.items():
        _source_log(src / log_name, entries)
    for bid, t in commits.items():
        (com / str(bid)).write_text("v1\n{}")
        os.utime(com / str(bid), (t, t))


def test_file_batches_reads_compact_logs(tmp_path):
    # batch 9's log is compacted: it repeats batches 0-8 with their ids
    _source_log(tmp_path / "9.compact", [("a.json", 0), ("b.json", 4), ("c.json", 9)])
    _source_log(tmp_path / "10", [("d.json", 10)])
    (tmp_path / ".10.crc").write_text("")
    assert streams.file_batches(tmp_path) == {
        "a.json": 0, "b.json": 4, "c.json": 9, "d.json": 10,
    }


def test_file_commit_time_is_the_last_branch_commit(tmp_path):
    _branch(tmp_path, "fast", {"0": [("a.json", 0)], "1": [("b.json", 1)]},
            {0: 100.0, 1: 101.0})
    _branch(tmp_path, "slow", {"1.compact": [("a.json", 0), ("b.json", 1)]},
            {0: 100.5, 1: 103.0})
    per_branch = streams.branch_commit_times(tmp_path, ["fast", "slow"])
    assert per_branch["fast"] == pytest.approx({"a.json": 100.0, "b.json": 101.0})
    got = streams.last_commit_times(per_branch)
    assert got == pytest.approx({"a.json": 100.5, "b.json": 103.0})


def test_uncommitted_files_have_no_commit_time(tmp_path):
    _branch(tmp_path, "one", {"0": [("a.json", 0)], "1": [("b.json", 1)]}, {0: 5.0})
    _branch(tmp_path, "two", {"0": [("a.json", 0), ("b.json", 0)]}, {0: 6.0})
    per_branch = streams.branch_commit_times(tmp_path, ["one", "two"])
    assert per_branch["one"] == {"a.json": 5.0}
    assert streams.last_commit_times(per_branch) == {"a.json": 6.0}


def test_max_files_per_batch_counts_only_named_files(tmp_path):
    for b in streams.BRANCHES:
        _branch(tmp_path, b, {"0": [("b0.json", 0), ("b1.json", 0), ("b2.json", 0)],
                              "1": [("t0.json", 1), ("t1.json", 1)]}, {0: 1.0, 1: 2.0})
    assert streams._max_files_per_batch(tmp_path, {"t0.json", "t1.json"}) == 2


# ------------------------------------------------------- run validity

def test_schedule_kept_only_when_every_file_moved_on_time():
    limit = streams.MOVER_LAG_LIMIT_S
    on_time = {"t0.json": (10.0, 10.001), "t1.json": (10.5, 10.5 + limit)}
    assert streams.schedule_kept(on_time, 2)
    assert not streams.schedule_kept(on_time, 3)  # a file never moved
    late = {**on_time, "t2.json": (11.0, 11.0 + limit + 0.01)}
    assert not streams.schedule_kept(late, 3)


def test_a_failed_query_counts_once_over_repeated_drains():
    class Query:
        def __init__(self, run_id, error):
            self.runId, self._error = run_id, error

        def exception(self):
            return self._error

    class Job:
        queries = [Query("ok", None), Query("bad", RuntimeError("boom"))]

        def process_available(self):
            raise RuntimeError("a query failed")

    failed = streams._drain(Job()) | streams._drain(Job())
    assert failed == {"bad"}


# ----------------------------------------------------- percentile rule

def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(xs, 100) == 100
    assert stats.percentile([7.0], 99) == 7.0


@pytest.mark.parametrize(
    "n, expected_p",
    [(10_000, 99.9), (1_000, 99.0), (999, 95.0), (200, 95.0), (199, 90.0),
     (100, 90.0), (99, 75.0), (40, 75.0), (39, 50.0), (3, 50.0)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, expected_p):
    p, value = stats.tail_percentile([float(i) for i in range(n)])
    assert p == expected_p
    assert value == stats.percentile(range(n), p)


# ------------------------------------------------------------- tracer

def test_self_time_subtracts_children():
    tr = Tracer(enabled=True)
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    inner.start, inner.end = 1.0, 3.0
    outer.start, outer.end = 0.0, 10.0
    assert inner.parent == outer.id
    assert tr.self_times() == pytest.approx({"outer": 8.0, "inner": 2.0})


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x"):
        tr.count("n")
    assert tr.spans == [] and not tr.counts


# ------------------------------------------------------ stream oracle

_TXNS = [
    # id, category, amount, timestamp as Spark's to_json writes it
    ("t1", "home", 10.25, "2023-01-01T23:30:00.000Z"),
    ("t2", "home", 5.50, "2023-01-01T01:00:00.000Z"),
    ("t3", "sports", 7.00, "2023-02-03T12:00:00.000Z"),
]


def _json_line(tid, cat, amount, ts):
    return json.dumps({
        "transactionId": tid, "productId": "p", "productName": "n",
        "productCategory": cat, "productPrice": amount, "productQuantity": 1,
        "productBrand": "b", "totalAmount": amount, "currency": "USD",
        "customerId": "c", "transactionDate": ts, "paymentMethod": "card",
    })


@pytest.fixture()
def sink(tmp_path):
    """Input with t1 delivered twice, and sink tables holding the
    correct upserted state for it."""
    lines = [_json_line(*t) for t in _TXNS] + [_json_line(*_TXNS[0])]
    f = tmp_path / "in.json"
    f.write_text("\n".join(lines) + "\n")
    db = str(tmp_path / "sink.duckdb")
    ddl.create_sink_tables(lambda: duckdb.connect(db))
    con = duckdb.connect(db)
    for tid, cat, amount, ts in _TXNS:
        con.execute(
            "INSERT INTO transactions VALUES (?, 'p', 'n', ?, ?, 1, 'b', ?, 'USD', 'c', "
            "CAST(? AS TIMESTAMP), 'card')",
            [tid, cat, amount, amount, ts[:19].replace("T", " ")],
        )
    con.execute("""INSERT INTO sales_per_category VALUES
        ('2023-01-01', 'home', 26.0), ('2023-02-03', 'sports', 7.0)""")
    con.execute("INSERT INTO sales_per_day VALUES ('2023-01-01', 26.0), ('2023-02-03', 7.0)")
    con.execute("INSERT INTO sales_per_month VALUES (2023, 1, 26.0), (2023, 2, 7.0)")
    yield con, [str(f)]
    con.close()


def test_stream_oracle_accepts_correct_tables(sink):
    con, files = sink
    got = oracle.check_sink_tables(con, files)
    assert got == {
        "transactions": (3, 0),
        "sales_per_category": (2, 0),
        "sales_per_day": (2, 0),
        "sales_per_month": (2, 0),
    }


def test_stream_oracle_tolerates_one_cent_of_summation_order(sink):
    con, files = sink
    con.execute("UPDATE sales_per_day SET total_sales = 26.01 WHERE total_sales = 26.0")
    assert oracle.check_sink_tables(con, files)["sales_per_day"] == (2, 0)


def test_stream_oracle_counts_wrong_missing_and_extra_rows(sink):
    con, files = sink
    # a sum that missed the redelivery, a lost row, a row never sent
    con.execute("UPDATE sales_per_category SET total_sales = 15.75 WHERE category = 'home'")
    con.execute("DELETE FROM sales_per_month WHERE month = 2")
    con.execute("INSERT INTO sales_per_day VALUES ('2024-01-01', 1.0)")
    con.execute("UPDATE transactions SET total_amount = 1.0 WHERE transaction_id = 't3'")
    got = oracle.check_sink_tables(con, files)
    assert got["sales_per_category"] == (2, 1)
    assert got["sales_per_month"] == (2, 1)
    assert got["sales_per_day"] == (2, 1)
    assert got["transactions"] == (3, 2)  # the expected row is missing, a wrong one extra


@pytest.mark.parametrize(
    "column, value",
    [("product_id", "'q'"), ("product_name", "'m'"), ("product_price", "0.5"),
     ("product_quantity", "2"), ("product_brand", "'x'"), ("currency", "'EUR'"),
     ("payment_method", "'cash'"), ("transaction_date", "TIMESTAMP '2023-01-01 00:00:00'")],
)
def test_stream_oracle_checks_every_transactions_column(sink, column, value):
    con, files = sink
    con.execute(f"UPDATE transactions SET {column} = {value} WHERE transaction_id = 't2'")
    assert oracle.check_sink_tables(con, files)["transactions"] == (3, 2)


# ----------------------------------------------------- catalog oracle

def test_catalog_compare_ignores_row_and_column_order_and_float_noise():
    spark_cols = ["b", "a"]
    spark_rows = [(2.0000000001, "x"), (-0.0, "y")]
    duck_cols = ["a", "b"]
    duck_rows = [("y", 0.0), ("x", 2.0)]
    assert oracle.compare_results(spark_cols, spark_rows, duck_cols, duck_rows) is None


def test_catalog_compare_reports_each_kind_of_difference():
    assert "columns" in oracle.compare_results(["a"], [(1,)], ["b"], [(1,)])
    assert "row count" in oracle.compare_results(["a"], [(1,), (1,)], ["a"], [(1,)])
    assert oracle.compare_results(["a"], [(1,)], ["a"], [(2,)]) == "values differ"


def test_catalog_compare_matches_spark_structs_to_duckdb_dicts():
    from pyspark.sql import Row

    spark_rows = [(Row(k=1, v=[1.5, 2.0]),)]
    duck_rows = [({"k": 1, "v": [1.5, 2.0]},)]
    assert oracle.compare_results(["s"], spark_rows, ["s"], duck_rows) is None
