"""Upsert sinks for foreachBatch (reference K2-K5: JDBC
INSERT ... ON CONFLICT upserts, DataStreamJob.java:185-272; retry
config K6 at :100-104).

- ``StagedMergeSink`` — the one database sink, for DuckDB and
  Postgres alike; the job's ``--jdbc-url`` picks only the connection
  (``job._connection_factory``). It takes its columns from the batch
  it is given, collects each micro-batch on the driver as Arrow and
  applies it in one UTC transaction with one statement
  (``upsert_sql``): the raw ``transactions`` table keeps the latest
  row per key, and each running-sum table (``sum_col``) adds the
  batch's sums to the stored ones — the sink table is the running
  sum, as the reference's Postgres table is. Adding is not
  idempotent, so a sum batch also records ``(table, query id,
  epoch)`` in the ``_sink_epochs`` ledger, which keeps each query's
  latest epoch per table, and an epoch Spark replays after a restart
  changes nothing. The container has no Postgres, so
  tests drive the psycopg2 path through a wrapper around DuckDB.
- ``MemoryUpsertSink`` — a driver-side last-write-wins dict, the
  tests' reference for the raw branch. It has no additive rule: the
  sum tables are checked against the batch ``sales_*_cents`` plans.

The database sink holds each batch in driver memory. The job's CLI
sets no per-batch cap, so the first batch after a downtime is the
whole backlog (perfbench's ``txn_backlog`` workload measures this case).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, Row

from ..functions.portable import sql_micro


class MemoryUpsertSink:
    """Keyed upsert into a driver-side dict. Final state == what the
    reference's Postgres table holds after the same events, for a
    last-write-wins table. A row with a NULL key column is skipped, as
    the database sink's statement skips it (``upsert_sql``)."""

    def __init__(self, key_cols: Sequence[str]):
        self.key_cols = tuple(key_cols)
        self.state: dict[tuple, Row] = {}

    def write_batch(self, batch_df: DataFrame, epoch_id: int | None = None) -> None:
        for row in batch_df.collect():
            key = tuple(row[k] for k in self.key_cols)
            if None not in key:
                self.state[key] = row

    def foreach_batch(self) -> Callable[[DataFrame, int], None]:
        return self.write_batch

    def rows(self) -> list[Row]:
        return list(self.state.values())


def upsert_sql(
    table: str,
    columns: Sequence[str],
    key_cols: Sequence[str],
    sum_col: str | None = None,
) -> str:
    """The one statement the database sink runs to apply ``__batch``
    (whose columns, in order, are ``columns``) to ``table``; plain SQL
    that DuckDB and Postgres both accept.

    Both forms read only the ``__batch`` rows with no NULL key column
    (a malformed JSON line parses to an all-null row, whose key would
    fail the table's constraint on every retry). A filter in the Spark
    plan would cost a parse per key column: Catalyst pushes it below
    ``from_json`` and copies the parse into it.

    Without ``sum_col``: the latest row per key replaces the stored
    one, INSERT .. SELECT .. ON CONFLICT DO UPDATE, the reference's
    K2-K5 upsert in set form (the bundled DuckDB predates MERGE INTO).
    ``__batch`` may repeat a key (a redelivered event), and ON
    CONFLICT rejects a key twice in one statement, so a window keeps
    per key the row with the largest non-key columns, compared in
    column order — a deterministic tie-break that sorts within a key,
    not the batch (the derived table is named, as PostgreSQL before
    16 requires). The table has at least one non-key column to update.

    With ``sum_col``: ``__batch`` holds one row per sale, and the
    batch's per-key sum is ADDED to the stored one. Money is summed in
    integer cents, rounded per row as ``functions.portable.micro``
    rounds (``floor(x * 100 + 0.5)``, the same in every engine, so the
    table equals the batch ``sales_*_cents`` plans divided by 100),
    and converted to the DDL's DOUBLE only when stored. A NULL amount
    is skipped, as SUM skips it."""
    keys = ", ".join(key_cols)
    keyed = "__batch WHERE " + " AND ".join(f"{k} IS NOT NULL" for k in key_cols)
    if sum_col is None:
        non_key = [c for c in columns if c not in key_cols]
        collist = ", ".join(columns)
        order = ", ".join(f"{c} DESC NULLS LAST" for c in non_key)
        updates = ", ".join(f"{c} = EXCLUDED.{c}" for c in non_key)
        return (
            f"INSERT INTO {table} ({collist}) SELECT {collist} FROM ("
            f"SELECT {collist}, row_number() OVER (PARTITION BY {keys} "
            f"ORDER BY {order}) AS __rn FROM {keyed}) __latest WHERE __rn = 1 "
            f"ON CONFLICT ({keys}) DO UPDATE SET {updates}"
        )
    stored, added = f"{table}.{sum_col}", f"EXCLUDED.{sum_col}"
    return (
        f"INSERT INTO {table} ({keys}, {sum_col}) "
        f"SELECT {keys}, sum({sql_micro(sum_col, 100)}) / 100.0 "
        f"FROM {keyed} GROUP BY {keys} "
        f"ON CONFLICT ({keys}) DO UPDATE SET {sum_col} = coalesce("
        f"({sql_micro(stored, 100)} + {sql_micro(added, 100)}) / 100.0, "
        f"{stored}, {added})"
    )


def _query_id(batch_df: DataFrame) -> str:
    """The id of the stream query delivering ``batch_df``: stable
    across restarts from one checkpoint, new for a new checkpoint, so
    the epoch ledger tells a replay from a new query's epoch 0. Empty
    for a batch given outside a stream query."""
    sc = batch_df.sparkSession.sparkContext
    return sc.getLocalProperty("sql.streaming.queryId") or ""


def _record_epoch(cur, param: str, table: str, qid: str, epoch_id: int) -> bool:
    """Inside the caller's open transaction, make ``(table, qid,
    epoch_id)`` the ledger's one row for ``(table, qid)``. False when
    the ledger holds this epoch or a later one: the epoch was applied
    before, and the caller commits nothing. A query's epochs only grow
    and Spark replays only its latest one, so the latest row is all
    the ledger needs, and the older rows are deleted here. ``param``
    is the driver's placeholder (``?`` or ``%s``)."""
    key = (table, qid, epoch_id)
    where = f"sink = {param} AND query_id = {param}"
    cur.execute(f"SELECT 1 FROM _sink_epochs WHERE {where} AND epoch >= {param}", key)
    if cur.fetchone() is not None:
        return False
    cur.execute(f"DELETE FROM _sink_epochs WHERE {where}", key[:2])
    cur.execute(f"INSERT INTO _sink_epochs VALUES ({param}, {param}, {param})", key)
    return True


# attempts at one batch's transaction, the reference's retry count (K6)
_ATTEMPTS = 5


def _transient(exc: Exception) -> bool:
    """Whether a failed attempt is worth retrying: a DB-API
    ``OperationalError`` of either database client. For DuckDB that is a
    ``TransactionException`` (a concurrent writer committed the same
    key first: "Failed to commit: PRIMARY KEY or UNIQUE constraint
    violated") or an ``IOException``; for psycopg2 a serialization
    failure, a deadlock or a lost connection. A constraint, type or
    SQL error fails the same way on every attempt. The class is matched by name, so
    psycopg2 need not be importable to classify DuckDB's errors."""
    return any(c.__name__ == "OperationalError" for c in type(exc).__mro__)


def _begin_batch(conn, batch, table: str) -> tuple[object, str]:
    """Pin the session to UTC, open a transaction and make the Arrow
    ``batch`` readable as ``__batch`` — the one place DuckDB and
    psycopg2 differ. Returns what to run statements on and its
    placeholder.

    DuckDB (a connection with ``register``) scans the Arrow table in
    place. psycopg2 gets a temporary copy, ``CREATE TEMP TABLE .. AS
    SELECT * FROM <table> LIMIT 0`` (plain SQL, so a DuckDB-backed fake
    runs it too) filled by one ``executemany``; its first statement
    opens the transaction, and a rollback drops the copy.

    UTC comes first: Arrow hands timestamps over as UTC instants, and
    either database would shift them by its session zone on the way
    into a ``TIMESTAMP`` column."""
    if hasattr(conn, "register"):
        conn.execute("SET TimeZone = 'UTC'")
        conn.register("__batch", batch)
        conn.begin()
        return conn, "?"
    cur = conn.cursor()
    cur.execute("SET TimeZone = 'UTC'")
    cur.execute(f"CREATE TEMP TABLE __batch AS SELECT * FROM {table} LIMIT 0")
    cols = batch.column_names
    cur.executemany(
        f"INSERT INTO __batch ({', '.join(cols)}) "
        f"VALUES ({', '.join(['%s'] * len(cols))})",
        list(zip(*(c.to_pylist() for c in batch.columns))),
    )
    return cur, "%s"


class StagedMergeSink:
    """Set-based batch upsert, the sink of every ``--jdbc-url``: the
    connection, DuckDB or psycopg2, is all the URL picks. ``sum_col``
    marks a running-sum table (see ``upsert_sql``); the batch's
    columns, in order, are then the key columns and ``sum_col``,
    otherwise the table's columns.

    Per micro-batch:
    1. ONE Spark action: the batch is collected to the driver as an
       Arrow table (``toArrow``), so its plan runs once; an empty batch
       stops here;
    2. in one transaction on a new connection (``_begin_batch``), a
       sum table's epoch is recorded in the ledger (a replay stops
       here) and ONE ``upsert_sql`` statement applies ``__batch``.

    A failed attempt is rolled back whole and its connection closed.
    A transient failure (``_transient``) retries the transaction on a
    new connection, up to ``_ATTEMPTS`` times with a growing pause; any
    other failure is raised at once."""

    def __init__(
        self,
        connection_factory: Callable[[], object],
        table: str,
        key_cols: Sequence[str],
        sum_col: str | None = None,
    ):
        self.connection_factory = connection_factory
        self.table = table
        self.key_cols = tuple(key_cols)
        self.sum_col = sum_col

    def write_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.toArrow()
        # foreachBatch routinely delivers empty micro-batches
        if batch.num_rows == 0:
            return
        sql = upsert_sql(self.table, batch.column_names, self.key_cols, self.sum_col)
        qid = _query_id(batch_df)
        for attempt in range(_ATTEMPTS):
            # a new connection per attempt, since a lost one stays lost;
            # closing one rolls back what it left uncommitted: a failed
            # attempt's writes, a replayed epoch's ledger read
            conn = self.connection_factory()
            try:
                cur, param = _begin_batch(conn, batch, self.table)
                if not self.sum_col or _record_epoch(
                    cur, param, self.table, qid, epoch_id
                ):
                    cur.execute(sql)
                    conn.commit()
                return
            except Exception as exc:
                if attempt == _ATTEMPTS - 1 or not _transient(exc):
                    raise
            finally:
                conn.close()
            time.sleep(0.2 * (attempt + 1))

    def foreach_batch(self) -> Callable[[DataFrame, int], None]:
        return self.write_batch
