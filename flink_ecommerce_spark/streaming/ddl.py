"""Sink table DDL (reference K1: CREATE TABLE IF NOT EXISTS strings,
DataStreamJob.java:276-331 — there wired as per-batch no-op sinks so
the DDL re-executes every batch; here it runs ONCE at job startup,
the deliberate fix noted in SURVEY.md §2.4).

Schemas are the reference's sink schemas verbatim (snake_case
columns, upsert keys = the ON CONFLICT targets).
"""

from __future__ import annotations

from collections.abc import Callable

TRANSACTIONS_DDL = """
CREATE TABLE IF NOT EXISTS transactions (
    transaction_id VARCHAR(255) PRIMARY KEY,
    product_id VARCHAR(255),
    product_name VARCHAR(255),
    product_category VARCHAR(255),
    product_price DOUBLE PRECISION,
    product_quantity INTEGER,
    product_brand VARCHAR(255),
    total_amount DOUBLE PRECISION,
    currency VARCHAR(255),
    customer_id VARCHAR(255),
    transaction_date TIMESTAMP,
    payment_method VARCHAR(255)
)
"""

SALES_PER_CATEGORY_DDL = """
CREATE TABLE IF NOT EXISTS sales_per_category (
    transaction_date DATE,
    category VARCHAR(255),
    total_sales DOUBLE PRECISION,
    PRIMARY KEY (transaction_date, category)
)
"""

SALES_PER_DAY_DDL = """
CREATE TABLE IF NOT EXISTS sales_per_day (
    transaction_date DATE PRIMARY KEY,
    total_sales DOUBLE PRECISION
)
"""

SALES_PER_MONTH_DDL = """
CREATE TABLE IF NOT EXISTS sales_per_month (
    year INTEGER,
    month INTEGER,
    total_sales DOUBLE PRECISION,
    PRIMARY KEY (year, month)
)
"""

# The epoch ledger of the three running-sum tables (sinks._record_epoch):
# per (table, stream query id), the latest epoch whose sums were added,
# so a replayed epoch is a no-op. Created here, at start-up: created inside
# each batch's transaction, concurrent sinks conflict on DuckDB's catalog.
SINK_EPOCHS_DDL = """
CREATE TABLE IF NOT EXISTS _sink_epochs (
    sink VARCHAR(255),
    query_id VARCHAR(255),
    epoch BIGINT,
    PRIMARY KEY (sink, query_id, epoch)
)
"""

ALL_DDL = (
    TRANSACTIONS_DDL,
    SALES_PER_CATEGORY_DDL,
    SALES_PER_DAY_DDL,
    SALES_PER_MONTH_DDL,
    SINK_EPOCHS_DDL,
)


def create_sink_tables(connection_factory: Callable[[], object]) -> None:
    """One-time DDL at startup (NOT per batch)."""
    conn = connection_factory()
    try:
        cur = conn.cursor()
        for ddl in ALL_DDL:
            cur.execute(ddl)
        conn.commit()
    finally:
        conn.close()
