"""Upsert sinks for foreachBatch (reference K2-K5: JDBC
INSERT ... ON CONFLICT upserts, DataStreamJob.java:185-272; batching
and retry config K6 at :100-104).

Three implementations of one contract (idempotent keyed upsert). The
two database sinks take their columns from the batch they are given,
and the job's ``--jdbc-url`` scheme picks between them
(``job.make_sink_factory``):

- ``MemoryUpsertSink`` — driver-side dict keyed by the upsert key;
  used by tests as the reference sink for final-table-state
  equivalence.
- ``JdbcUpsertSink`` — the Postgres path (any non-``duckdb://`` URL):
  row-wise ON CONFLICT upserts through psycopg2, batched executemany
  with retries (the reference's 1000-row / 5-retry semantics). The
  container has no Postgres, so it's exercised in tests through a
  fake DB-API connection.
- ``StagedMergeSink`` — the ``duckdb://`` path: ONE Spark action
  collects the micro-batch as Arrow, then ONE INSERT .. SELECT .. ON
  CONFLICT statement reads it from the connection. Exercised in tests
  against a real engine (DuckDB).

Scale notes: foreachBatch hands the micro-batch DataFrame to the
sink; MemoryUpsertSink collects (test-only by design), the JDBC sink
writes per-partition via ``df.foreachPartition`` so executors connect
directly, and StagedMergeSink holds each batch in driver memory as
Arrow.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, Row


class MemoryUpsertSink:
    """Keyed upsert into a driver-side dict. Final state == what the
    reference's Postgres table holds after the same events."""

    def __init__(self, key_cols: Sequence[str]):
        self.key_cols = tuple(key_cols)
        self.state: dict[tuple, Row] = {}

    def write_batch(self, batch_df: DataFrame, epoch_id: int | None = None) -> None:
        for row in batch_df.collect():
            self.state[tuple(row[k] for k in self.key_cols)] = row

    def foreach_batch(self) -> Callable[[DataFrame, int], None]:
        return self.write_batch

    def rows(self) -> list[Row]:
        return list(self.state.values())


def _on_conflict(columns: Sequence[str], key_cols: Sequence[str]) -> str:
    """The ON CONFLICT clause both upsert forms share. When every column
    is a key column there is nothing to update on conflict, so it is
    insert-only instead of a malformed empty SET."""
    updates = ", ".join(
        f"{c} = EXCLUDED.{c}" for c in columns if c not in set(key_cols)
    )
    action = f"DO UPDATE SET {updates}" if updates else "DO NOTHING"
    return f"ON CONFLICT ({', '.join(key_cols)}) {action}"


def upsert_sql(table: str, columns: Sequence[str], key_cols: Sequence[str]) -> str:
    """Row-wise INSERT ... ON CONFLICT DO UPDATE statement in psycopg2's
    ``%s`` paramstyle (reference K2-K5 shape, e.g.
    DataStreamJob.java:240-258 for transactions)."""
    placeholders = ", ".join(["%s"] * len(columns))
    return (
        f"INSERT INTO {table} ({', '.join(columns)}) VALUES ({placeholders}) "
        + _on_conflict(columns, key_cols)
    )


def merge_upsert_sql(
    table: str,
    source: str,
    columns: Sequence[str],
    key_cols: Sequence[str],
) -> str:
    """ONE set-based upsert statement ingesting ``source`` (a table
    name or subquery, e.g. a registered Arrow table) into ``table``:
    INSERT .. SELECT .. ON CONFLICT DO UPDATE, the reference's K2-K5
    upsert in set form (the bundled DuckDB predates MERGE INTO)."""
    collist = ", ".join(columns)
    return (
        f"INSERT INTO {table} ({collist}) SELECT {collist} FROM ({source}) "
        + _on_conflict(columns, key_cols)
    )


class StagedMergeSink:
    """Set-based batch upsert into DuckDB, the sink a ``duckdb://``
    ``--jdbc-url`` selects: the twin of JdbcUpsertSink's row-at-a-time
    executemany, with the same ON CONFLICT clause. The batch's columns,
    in order, are the table's columns.

    Per micro-batch:
    1. ONE Spark action: the batch is collected to the driver as an
       Arrow table (``toArrow``), so the plan — JSON parse, state
       store — runs once; an empty batch stops here;
    2. the Arrow table is registered on the DuckDB connection and ONE
       set-based statement (``merge_upsert_sql``) ingests it. Its
       source collapses duplicate keys (ON CONFLICT rejects a key
       twice in one statement), keeping per key the row with the
       largest non-key columns, compared in column order — a
       deterministic tie-break.

    The whole batch is held in driver memory. The job's CLI sets no
    per-batch cap, so the first batch after a downtime is the whole
    backlog (perfbench's ``txn_backlog`` workload measures this case).
    ``connection_factory`` returns a DuckDB connection, whose
    ``TimeZone`` is pinned to UTC so Arrow's UTC timestamps land
    unshifted in ``TIMESTAMP`` columns. Final state is identical to the
    row-wise sinks — pinned by tests against MemoryUpsertSink."""

    def __init__(
        self,
        connection_factory: Callable[[], object],
        table: str,
        key_cols: Sequence[str],
    ):
        self.connection_factory = connection_factory
        self.table = table
        self.key_cols = tuple(key_cols)

    def _merge_sql(self, columns: Sequence[str]) -> str:
        non_key = [c for c in columns if c not in self.key_cols]
        keys = ", ".join(self.key_cols)
        order = ", ".join([keys] + [f"{c} DESC NULLS LAST" for c in non_key])
        latest = (
            f"SELECT DISTINCT ON ({keys}) {', '.join(columns)} "
            f"FROM __batch ORDER BY {order}"
        )
        return merge_upsert_sql(self.table, latest, columns, self.key_cols)

    def write_batch(self, batch_df: DataFrame, epoch_id: int | None = None) -> None:
        batch = batch_df.toArrow()
        # foreachBatch routinely delivers empty micro-batches
        if batch.num_rows == 0:
            return
        conn = self.connection_factory()
        try:
            conn.execute("SET TimeZone = 'UTC'")
            conn.register("__batch", batch)
            conn.execute(self._merge_sql(batch.column_names))
            conn.commit()
        finally:
            conn.close()

    def foreach_batch(self) -> Callable[[DataFrame, int], None]:
        return self.write_batch


class JdbcUpsertSink:
    """Per-batch idempotent JDBC upsert with the reference's batching
    knobs (K6: batch 1000 / 5 retries, DataStreamJob.java:100-104): the
    Postgres path, which any non-``duckdb://`` ``--jdbc-url`` selects.
    The batch's columns, in order, are the table's columns.

    ``connection_factory`` returns a psycopg2 (``%s`` paramstyle)
    connection; it must be picklable (a top-level function), because
    it runs inside ``foreachPartition`` on executors.
    """

    def __init__(
        self,
        connection_factory: Callable[[], object],
        table: str,
        key_cols: Sequence[str],
        batch_size: int = 1000,
        max_retries: int = 5,
    ):
        self.connection_factory = connection_factory
        self.table = table
        self.key_cols = tuple(key_cols)
        self.batch_size = batch_size
        self.max_retries = max_retries

    def write_batch(self, batch_df: DataFrame, epoch_id: int | None = None) -> None:
        factory = self.connection_factory
        sql = upsert_sql(self.table, batch_df.columns, self.key_cols)
        batch_size, max_retries = self.batch_size, self.max_retries

        def write_partition(rows) -> None:
            buf: list[tuple] = []
            conn = factory()
            try:
                cur = conn.cursor()

                def flush() -> None:
                    if not buf:
                        return
                    for attempt in range(max_retries):
                        try:
                            cur.executemany(sql, buf)
                            conn.commit()
                            buf.clear()
                            return
                        except Exception:
                            conn.rollback()
                            if attempt == max_retries - 1:
                                raise
                            time.sleep(0.2 * (attempt + 1))

                for row in rows:
                    buf.append(tuple(row))
                    if len(buf) >= batch_size:
                        flush()
                flush()
            finally:
                conn.close()

        batch_df.foreachPartition(write_partition)

    def foreach_batch(self) -> Callable[[DataFrame, int], None]:
        return self.write_batch
