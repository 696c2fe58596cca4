"""Driver contract for the spark-graft builder (PySpark target).

A thin adapter over ``flink_ecommerce_spark.registry``, which holds
the 254 queries: ``entry`` runs the flagship sales-per-category
query, and ``queries()`` / ``oracle_sql()`` pair each query with its
DuckDB oracle twin. COVERAGE.md maps every query to its code and tests, and
tests/plan_ledger.json machine-checks that out-of-verify-window
queries' plans are unchanged since their last external
certification.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from flink_ecommerce_spark import catalog, registry  # noqa: E402
from flink_ecommerce_spark.plans import sales  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: sales_per_category —
    the reference's A1 aggregation (DataStreamJob.java:133-136) with
    the full (transaction_date, category) upsert key."""
    events = catalog.table(spark, "/root/testdata/sf0.001", "events")
    return sales.sales_per_category(events, "ts", "event_type", "value")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    return registry.oracle_sql()
