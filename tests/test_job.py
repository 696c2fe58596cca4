"""End-to-end job entry point: file source → 4 branches → DuckDB
sinks, DDL statement sanity, rate-source plan."""

from __future__ import annotations

import json

import pytest

from flink_ecommerce_spark import job as job_mod
from flink_ecommerce_spark.sources import generator
from flink_ecommerce_spark.streaming import ddl


def test_ddl_runs_once_with_fake_connection():
    executed = []

    class Cur:
        def execute(self, sql):
            executed.append(sql.strip().split("(")[0].strip())

    class Conn:
        def cursor(self):
            return Cur()

        def commit(self):
            pass

        def close(self):
            pass

    ddl.create_sink_tables(lambda: Conn())
    assert len(executed) == 4
    assert all(e.startswith("CREATE TABLE IF NOT EXISTS") for e in executed)


@pytest.mark.parametrize("source", ["rate", "file"])
def test_rate_source_schema(spark, tmp_path, source):
    """Every --source delivers the 12-field transaction DTO, name and
    type field for field (the rate source's literals are non-nullable,
    so nullability is not compared). Kafka is not run here: it goes
    through the same ``parse_transactions`` as ``file``."""
    import argparse

    from flink_ecommerce_spark.schemas import TRANSACTION_SCHEMA

    src = tmp_path / "in"
    src.mkdir()
    df = generator.transactions(spark, n_rows=3, seed=47)
    (src / "part-0.json").write_text(
        "\n".join(r["value"] for r in generator.transactions_as_json(df).collect())
    )
    args = argparse.Namespace(source=source, rate_rps=10, input_path=str(src))
    stream = job_mod.build_source(spark, args)

    assert [(f.name, f.dataType) for f in stream.schema.fields] == [
        (f.name, f.dataType) for f in TRANSACTION_SCHEMA.fields
    ]


def test_job_cli_staged_duckdb_end_to_end(spark, tmp_path):
    """The airgapped CLI path: file source → four branches → DuckDB
    file. The duckdb:// URL alone picks StagedMergeSink for every
    branch, so only the driver opens the file: executors that opened
    it themselves would fail on DuckDB's single write lock. DDL runs at
    start-up, every table fills, and totals are conserved across
    branches."""
    import duckdb

    from flink_ecommerce_spark.streaming.sinks import StagedMergeSink

    src = str(tmp_path / "in")
    df = generator.transactions(spark, n_rows=300, seed=43)
    generator.transactions_as_json(df).coalesce(2).write.mode("overwrite").text(src)
    db = str(tmp_path / "job.duckdb")

    job = job_mod.main(
        [
            "--source", "file",
            "--input-path", src,
            "--jdbc-url", f"duckdb://{db}",
            "--checkpoint", str(tmp_path / "ck"),
        ]
    )
    try:
        job.process_available()
        failed = [q.name for q in job.queries if q.exception() is not None]
    finally:
        job.stop()

    assert failed == []
    assert set(job.sinks) == {
        "transactions", "sales_per_category", "sales_per_day", "sales_per_month",
    }
    assert all(isinstance(s, StagedMergeSink) for s in job.sinks.values())
    con = duckdb.connect(db)
    counts = {
        t: con.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0] for t in job.sinks
    }
    total_raw = con.execute("SELECT ROUND(SUM(total_amount), 2) FROM transactions").fetchone()[0]
    total_day = con.execute("SELECT ROUND(SUM(total_sales), 2) FROM sales_per_day").fetchone()[0]
    total_cat = con.execute("SELECT ROUND(SUM(total_sales), 2) FROM sales_per_category").fetchone()[0]
    total_month = con.execute("SELECT ROUND(SUM(total_sales), 2) FROM sales_per_month").fetchone()[0]
    con.close()
    assert counts["transactions"] == 300
    assert all(n > 0 for n in counts.values()), counts
    # conservation across branches
    for total in (total_day, total_cat, total_month):
        assert abs(total_raw - total) < 0.05


def test_session_driver_heap_fits_host(spark):
    """get_spark sizes its default heap from the host, so the test
    session never asks for more memory than the machine has."""
    import os

    mem = spark.sparkContext.getConf().get("spark.driver.memory")
    unit = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}
    heap = int(mem[:-1]) * unit[mem[-1].lower()]
    assert heap <= os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
