"""Upsert sinks for foreachBatch (reference K2-K5: JDBC
INSERT ... ON CONFLICT upserts, DataStreamJob.java:185-272; batching
and retry config K6 at :100-104).

Three implementations of one contract (idempotent keyed upsert):

- ``MemoryUpsertSink`` — driver-side dict keyed by the upsert key;
  used by tests to assert final-table-state equivalence between the
  batch and streaming paths.
- ``JdbcUpsertSink`` — production row-wise path: per-batch ON
  CONFLICT upsert through a DB-API connection factory (psycopg2
  etc.), batched executemany with retries (the reference's 1000-row /
  5-retry semantics). The container has no Postgres, so it's
  exercised in tests through a fake DB-API connection.
- ``StagedMergeSink`` — set-based path into DuckDB: ONE Spark action
  collects the micro-batch as Arrow, then ONE INSERT .. SELECT .. ON
  CONFLICT statement reads it from the connection. Exercised in tests
  against a real engine (DuckDB).

Scale notes: foreachBatch hands the micro-batch DataFrame to the
sink; MemoryUpsertSink collects (test-only by design), the JDBC sink
writes per-partition via ``df.foreachPartition`` so executors connect
directly, and StagedMergeSink holds each batch in driver memory as
Arrow — bound the batch at the source (``max_offsets_per_trigger``
for Kafka).
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


def upsert_sql(
    table: str,
    columns: Sequence[str],
    key_cols: Sequence[str],
    placeholder: str = "%s",
) -> str:
    """INSERT ... ON CONFLICT DO UPDATE statement (reference K2-K5
    shape, e.g. DataStreamJob.java:240-258 for transactions).
    ``placeholder`` follows the target's DB-API paramstyle ("%s" for
    psycopg2, "?" for DuckDB/SQLite)."""
    collist = ", ".join(columns)
    placeholders = ", ".join([placeholder] * len(columns))
    keylist = ", ".join(key_cols)
    updates = ", ".join(
        f"{c} = EXCLUDED.{c}" for c in columns if c not in set(key_cols)
    )
    return (
        f"INSERT INTO {table} ({collist}) VALUES ({placeholders}) "
        f"ON CONFLICT ({keylist}) DO UPDATE SET {updates}"
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
    keylist = ", ".join(key_cols)
    updates = ", ".join(
        f"{c} = EXCLUDED.{c}" for c in columns if c not in set(key_cols)
    )
    # all columns are key columns -> nothing to update on conflict;
    # emit an insert-only statement instead of a malformed empty SET
    action = f"DO UPDATE SET {updates}" if updates else "DO NOTHING"
    return (
        f"INSERT INTO {table} ({collist}) SELECT {collist} FROM ({source}) "
        f"ON CONFLICT ({keylist}) {action}"
    )


class StagedMergeSink:
    """Set-based batch upsert into DuckDB: the twin of JdbcUpsertSink's
    row-at-a-time executemany, with the same ON CONFLICT statement
    shape.

    Per micro-batch:
    1. ONE Spark action: the batch's columns are collected to the
       driver as an Arrow table (``toArrow``), so the plan — JSON
       parse, state store — runs once; an empty batch stops here;
    2. the Arrow table is registered on the DuckDB connection and ONE
       set-based statement (``merge_upsert_sql``) ingests it. Its
       source collapses duplicate keys (ON CONFLICT rejects a key
       twice in one statement), keeping per key the row with the
       largest non-key columns, compared in column order — a
       deterministic tie-break.

    The batch is held in driver memory, so bound it at the source
    (``max_offsets_per_trigger`` for Kafka, ``maxFilesPerTrigger`` for
    files). The sink is DuckDB-only: ``connection_factory`` returns a
    DuckDB connection, whose ``TimeZone`` is pinned to UTC so Arrow's
    UTC timestamps land unshifted in ``TIMESTAMP`` columns. Final state
    is identical to the row-wise sinks — pinned by tests against
    MemoryUpsertSink."""

    def __init__(
        self,
        connection_factory: Callable[[], object],
        table: str,
        columns: Sequence[str],
        key_cols: Sequence[str],
    ):
        self.connection_factory = connection_factory
        self.table = table
        self.columns = tuple(columns)
        self.key_cols = tuple(key_cols)
        non_key = [c for c in self.columns if c not in self.key_cols]
        keys = ", ".join(self.key_cols)
        order = ", ".join([keys] + [f"{c} DESC NULLS LAST" for c in non_key])
        latest = (
            f"SELECT DISTINCT ON ({keys}) {', '.join(self.columns)} "
            f"FROM __batch ORDER BY {order}"
        )
        self.sql = merge_upsert_sql(table, latest, self.columns, self.key_cols)

    def write_batch(self, batch_df: DataFrame, epoch_id: int | None = None) -> None:
        batch = batch_df.select(*self.columns).toArrow()
        # foreachBatch routinely delivers empty micro-batches
        if batch.num_rows == 0:
            return
        conn = self.connection_factory()
        try:
            conn.execute("SET TimeZone = 'UTC'")
            conn.register("__batch", batch)
            conn.execute(self.sql)
            conn.commit()
        finally:
            conn.close()

    def foreach_batch(self) -> Callable[[DataFrame, int], None]:
        return self.write_batch


class JdbcUpsertSink:
    """Per-batch idempotent JDBC upsert with the reference's batching
    knobs (K6: batch 1000 / 5 retries, DataStreamJob.java:100-104).

    ``connection_factory`` returns a DB-API connection; it must be
    picklable (a top-level function), because it runs inside
    ``foreachPartition`` on executors.
    """

    def __init__(
        self,
        connection_factory: Callable[[], object],
        table: str,
        columns: Sequence[str],
        key_cols: Sequence[str],
        batch_size: int = 1000,
        max_retries: int = 5,
        placeholder: str = "%s",
    ):
        self.connection_factory = connection_factory
        self.table = table
        self.columns = tuple(columns)
        self.key_cols = tuple(key_cols)
        self.batch_size = batch_size
        self.max_retries = max_retries
        self.sql = upsert_sql(table, columns, key_cols, placeholder)

    def write_batch(self, batch_df: DataFrame, epoch_id: int | None = None) -> None:
        factory, sql, cols = self.connection_factory, self.sql, self.columns
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
                    buf.append(tuple(row[c] for c in cols))
                    if len(buf) >= batch_size:
                        flush()
                flush()
            finally:
                conn.close()

        batch_df.select(*self.columns).foreachPartition(write_partition)

    def foreach_batch(self) -> Callable[[DataFrame, int], None]:
        return self.write_batch
