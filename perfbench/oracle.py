"""Correctness checks that share no code with the program.

Stream workloads: the four DuckDB sink tables against DuckDB SQL over
the JSON files that were fed to the job. Catalog workload: a query's
Spark rows against its ``QuerySpec.oracle`` rows, by column names, row
count and a hash of the order-insensitive normalised values.
"""

from __future__ import annotations

import hashlib
import math
from decimal import Decimal

# A running sum of doubles depends on the order of its additions, and
# Spark and DuckDB add in different orders; after rounding to 2 dp the
# two may differ by one cent.
CENT_TOLERANCE = 0.0101

_JSON_COLUMNS = (
    "{transactionId: 'VARCHAR', productId: 'VARCHAR', productName: 'VARCHAR', "
    "productCategory: 'VARCHAR', productPrice: 'DOUBLE', productQuantity: 'INTEGER', "
    "productBrand: 'VARCHAR', totalAmount: 'DOUBLE', currency: 'VARCHAR', "
    "customerId: 'VARCHAR', transactionDate: 'VARCHAR', paymentMethod: 'VARCHAR'}"
)

# expected table, key columns, value column (None: compare every column;
# a redelivery repeats its line exactly, so DISTINCT leaves one row per id)
_EXPECTED = {
    "transactions": (
        """SELECT DISTINCT transactionId AS transaction_id, productId AS product_id,
                  productName AS product_name, productCategory AS product_category,
                  productPrice AS product_price, productQuantity AS product_quantity,
                  productBrand AS product_brand, totalAmount AS total_amount,
                  currency, customerId AS customer_id, ts AS transaction_date,
                  paymentMethod AS payment_method
           FROM src""",
        ("transaction_id",),
        None,
    ),
    "sales_per_category": (
        """SELECT CAST(ts AS DATE) AS transaction_date,
                  productCategory AS category,
                  round(sum(totalAmount), 2) AS total_sales
           FROM src GROUP BY ALL""",
        ("transaction_date", "category"),
        "total_sales",
    ),
    "sales_per_day": (
        """SELECT CAST(ts AS DATE) AS transaction_date,
                  round(sum(totalAmount), 2) AS total_sales
           FROM src GROUP BY ALL""",
        ("transaction_date",),
        "total_sales",
    ),
    "sales_per_month": (
        """SELECT CAST(year(ts) AS INTEGER) AS year,
                  CAST(month(ts) AS INTEGER) AS month,
                  round(sum(totalAmount), 2) AS total_sales
           FROM src GROUP BY ALL""",
        ("year", "month"),
        "total_sales",
    ),
}


def check_sink_tables(con, json_files: list[str]) -> dict[str, tuple[int, int]]:
    """Compare each sink table in ``con`` with the expected table
    computed from ``json_files``, every delivery included. Returns
    ``{table: (expected_rows, wrong_rows)}``; a wrong row is one that is
    missing, extra, duplicated or differs in value."""
    files = ", ".join(f"'{f}'" for f in json_files)
    # Spark writes timestamps as ISO strings with an offset; the sink
    # stores them as UTC wall-clock time
    con.execute(
        f"""CREATE OR REPLACE TEMP VIEW src AS
            SELECT * REPLACE (
                CAST(timezone('UTC', CAST(transactionDate AS TIMESTAMPTZ)) AS TIMESTAMP)
                AS transactionDate),
                CAST(timezone('UTC', CAST(transactionDate AS TIMESTAMPTZ)) AS TIMESTAMP)
                AS ts
            FROM read_json([{files}], format='newline_delimited',
                           columns={_JSON_COLUMNS})"""
    )
    out = {}
    for table, (sql, keys, value) in _EXPECTED.items():
        con.execute(f"CREATE OR REPLACE TEMP TABLE exp_{table} AS {sql}")
        expected = con.execute(f"SELECT count(*) FROM exp_{table}").fetchone()[0]
        cols = ", ".join(
            [*keys, value] if value else [c[0] for c in con.execute(
                f"SELECT * FROM exp_{table} LIMIT 0").description]
        )
        dup = con.execute(
            f"SELECT count(*) - count(DISTINCT ({', '.join(keys)})) FROM {table}"
        ).fetchone()[0]
        if value is None:
            wrong = con.execute(
                f"""SELECT (SELECT count(*) FROM (SELECT {cols} FROM exp_{table}
                                                  EXCEPT SELECT {cols} FROM {table}))
                         + (SELECT count(*) FROM (SELECT {cols} FROM {table}
                                                  EXCEPT SELECT {cols} FROM exp_{table}))"""
            ).fetchone()[0]
        else:
            on = " AND ".join(f"e.{k} = t.{k}" for k in keys)
            wrong = con.execute(
                f"""SELECT count(*) FROM exp_{table} e FULL OUTER JOIN {table} t ON {on}
                    WHERE e.{value} IS NULL OR t.{value} IS NULL
                       OR abs(e.{value} - t.{value}) > {CENT_TOLERANCE}"""
            ).fetchone()[0]
        out[table] = (expected, int(wrong) + int(dup))
    return out


def _norm(v):
    if v is None:
        return None
    if isinstance(v, (float, Decimal)):
        v = float(v)
        if math.isnan(v):
            return "NaN"
        return round(v, 6) + 0.0  # -0.0 and 0.0 hash alike
    if hasattr(v, "asDict"):  # a Spark struct; DuckDB returns a dict
        v = v.asDict()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def result_digest(cols: list[str], rows) -> tuple[list[str], int, str]:
    """(sorted column names, row count, hash of the sorted normalised
    rows), with each row's values ordered by column name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256("\n".join(normed).encode()).hexdigest()
    return [cols[i] for i in order], len(normed), h


def compare_results(spark_cols, spark_rows, oracle_cols, oracle_rows) -> str | None:
    """None when both sides agree, else what differs."""
    s = result_digest(list(spark_cols), spark_rows)
    o = result_digest(list(oracle_cols), oracle_rows)
    if s[0] != o[0]:
        return f"columns {s[0]} != {o[0]}"
    if s[1] != o[1]:
        return f"row count {s[1]} != {o[1]}"
    if s[2] != o[2]:
        return "values differ"
    return None
